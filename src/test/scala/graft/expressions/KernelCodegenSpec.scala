package graft.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.{References, SparkSpec}

/** Every custom kernel must COMPILE under Janino and produce the same
  * value as its interpreted path. Round 1 shipped all six kernels with
  * codegen bodies that Janino rejected (no static forwarder for a
  * companion method named `eval`) — Spark fell back to interpreted
  * evaluation silently, costing whole-stage codegen on every dedup and
  * fingerprint stage. `GenerateUnsafeProjection.generate` throws on
  * compile failure (no fallback at this layer), so these tests pin the
  * compiled path.
  */
class KernelCodegenSpec extends SparkSpec {

  private def compiledVsInterpreted(expr: Expression, row: InternalRow): Unit = {
    val compiled = GenerateUnsafeProjection.generate(Seq(expr)) // throws if Janino rejects
    val got = compiled(row).get(0, expr.dataType)
    val want = expr.eval(row)
    (got, want) match {
      case (g: ArrayData, w: ArrayData) =>
        val et = expr.dataType.asInstanceOf[ArrayType].elementType
        assert(g.toObjectArray(et).toSeq == w.toObjectArray(et).toSeq)
      case (g: InternalRow, w: InternalRow) =>
        // an UnsafeRow never equals a GenericInternalRow — compare fields
        // (array fields element-wise: Unsafe vs Generic array data)
        val st = expr.dataType.asInstanceOf[StructType]
        st.fields.zipWithIndex.foreach { case (f, i) =>
          (g.get(i, f.dataType), w.get(i, f.dataType)) match {
            case (ga: ArrayData, wa: ArrayData) =>
              val et = f.dataType.asInstanceOf[ArrayType].elementType
              assert(ga.toObjectArray(et).toSeq == wa.toObjectArray(et).toSeq,
                s"struct field ${f.name}")
            case (gv, wv) =>
              assert(gv == wv, s"struct field ${f.name}")
          } }
      case (g, w) => assert(g == w)
    }
  }

  private def longArray(xs: Long*) = ArrayData.toArrayData(xs.toArray)

  test("SortedArrayJaccard compiles and matches interpreted") {
    val e = SortedArrayJaccard(
      BoundReference(0, ArrayType(LongType, containsNull = false), nullable = true),
      BoundReference(1, ArrayType(LongType, containsNull = false), nullable = true))
    compiledVsInterpreted(e, InternalRow(longArray(1L, 3L, 5L), longArray(3L, 5L, 7L)))
  }

  test("Md5Prefix60 compiles and matches interpreted (string and binary)") {
    val s = Md5Prefix60(BoundReference(0, StringType, nullable = true))
    compiledVsInterpreted(s, InternalRow(UTF8String.fromString("shingle text")))
    val b = Md5Prefix60(BoundReference(0, BinaryType, nullable = true))
    compiledVsInterpreted(b, InternalRow("shingle text".getBytes("UTF-8")))
  }

  test("CountMinEstimate compiles, matches interpreted, and equals the " +
    "seeded-hash SQL composition on real tokens") {
    val counters = Array.tabulate(3 * 64)(i => (i * 37L + 5L) % 1000L)
    val e = CountMinEstimate(
      BoundReference(0, StringType, nullable = true), 3, 64, counters)
    compiledVsInterpreted(e, InternalRow(UTF8String.fromString("hephaestus")))
    compiledVsInterpreted(e, InternalRow(UTF8String.fromString("")))
    // SQL cross-check: the kernel must equal the explode + min fold over
    // the portable seeded family, bit for bit, token by token
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val toks = Seq("the", "quick", "brown", "", "caf\u00e9", "\ud83d\ude00",
      "x" * 300).toDF("token")
    val base = graft.functions.HashFunctions.md5Mod(col("token"))
    val sql = toks.select(col("token"), least(
      (0 until 3).map(d => element_at(
        typedLit(counters.slice(d * 64, d * 64 + 64).toSeq),
        (graft.functions.HashFunctions.seeded(base, d) % 64).cast("int") + 1)
      ): _*).as("want"))
    val got = sql.withColumn("got",
      CountMinEstimate.est(col("token"), 3, 64, counters))
      .as[(String, Long, Long)].collect()
    got.foreach { case (t, want, g) => assert(g == want, s"token '$t'") }
  }

  test("DsirMass compiles, matches interpreted, and equals the " +
    "dsirFeatures explode + sum composition") {
    val buckets = 128
    val tgt = Array.tabulate(buckets)(i => (i * 13L) % 29L)
    val raw = Array.tabulate(buckets)(i => (i * 7L + 3L) % 31L)
    val toks = ArrayData.toArrayData(
      Array("to", "be", "or", "not", "to", "be").map(UTF8String.fromString))
    val e = DsirMass(
      BoundReference(0, ArrayType(StringType, containsNull = true),
        nullable = true), buckets, tgt, raw)
    compiledVsInterpreted(e, InternalRow(toks))
    compiledVsInterpreted(e, InternalRow(ArrayData.toArrayData(
      Array.empty[UTF8String])))
    // SQL cross-check against the composition the kernel replaces:
    // explode(dsirFeatures) + per-doc count/sum of model lookups
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val docs = Seq(
      (1L, "to be or not to be"),
      (2L, ""),
      (3L, "  "),
      (4L, "one"),
      (5L, "caf\u00e9 \ud83d\ude00 caf\u00e9"))
      .toDF("id", "text")
    val feats = docs.select(col("id"), explode_outer(
      graft.operators.Sampling.dsirFeatures(
        graft.functions.TextFunctions.tokens(col("text")), buckets))
      .as("bucket"))
    // the reference is the OLD dsirWeightsWith composition verbatim:
    // left join against the model table (a NULL bucket matches nothing)
    val model = tgt.indices.map(i => (i.toLong, tgt(i), raw(i)))
      .toDF("bucket", "tgt_n", "raw_n")
    val want = feats.join(model, Seq("bucket"), "left")
      .groupBy("id").agg(
        count(col("bucket")).as("n_feats"),
        coalesce(sum(coalesce(col("tgt_n"), lit(0L))), lit(0L)).as("tgt_mass"),
        coalesce(sum(coalesce(col("raw_n"), lit(0L))), lit(0L)).as("raw_mass"))
      .orderBy("id").as[(Long, Long, Long, Long)].collect().toSeq
    val got = docs.select(col("id"), DsirMass.mass(
        coalesce(graft.functions.TextFunctions.tokens(col("text")),
          array().cast("array<string>")), buckets, tgt, raw).as("m"))
      .select(col("id"), col("m.n_feats"), col("m.tgt_mass"), col("m.raw_mass"))
      .orderBy("id").as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == want, s"got $got\nwant $want")
  }

  test("LangGramHits compiles, matches interpreted, and equals the " +
    "pivot + gram-explode composition it replaces") {
    val langs = Seq("de", "en", "uk")
    val model = Seq( // (lang, gram, n) — includes a gram two langs share
      ("en", "the", 10L), ("en", "he ", 4L), ("de", "der", 7L),
      ("de", "the", 2L), ("uk", "щод", 5L),
      ("uk", "😀ab", 3L))
    val gramMap = new java.util.HashMap[UTF8String, Array[Long]]()
    model.foreach { case (l, g, n) =>
      val i = langs.indexOf(l)
      val k = UTF8String.fromString(g)
      var a = gramMap.get(k)
      if (a == null) { a = new Array[Long](langs.size); gramMap.put(k, a) }
      a(i) += n
    }
    val e = LangGramHits(
      BoundReference(0, StringType, nullable = true), 3, langs.size, gramMap)
    compiledVsInterpreted(e, InternalRow(UTF8String.fromString("the der")))
    compiledVsInterpreted(e, InternalRow(UTF8String.fromString("")))
    compiledVsInterpreted(e, InternalRow(UTF8String.fromString("ab"))) // < n
    compiledVsInterpreted(e, InternalRow(UTF8String.fromString("zzzz"))) // 0 hits
    compiledVsInterpreted(e,
      InternalRow(UTF8String.fromString("щод😀ab")))
    // SQL cross-check: the kernel must equal the charGramsOf explode +
    // pivoted-model left join + per-doc sums, value for value —
    // including multi-byte + astral code points (the gram walk is by
    // code POINT, exactly like split(text, ""))
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val docs = Seq(
      (1L, "the der rest"), (2L, ""), (3L, "ab"), (4L, "no hits here"),
      (5L, "щод😀ab😀"), (6L, "the"))
      .toDF("id", "text")
    val modelDf = model.toDF("lang", "gram", "n")
    val piv = modelDf.groupBy(col("gram")).pivot("lang", langs).sum("n")
      .na.fill(0L)
    val cs = split(col("text"), "")
    val len = length(col("text"))
    val gramsOf = transform(sequence(lit(1), len - 2),
      i => concat(element_at(cs, i), element_at(cs, i + 1),
        element_at(cs, i + 2)))
    val grams = docs.select(col("id"),
      explode_outer(when(len >= 3, gramsOf)
        .otherwise(array().cast("array<string>"))).as("gram"))
    val aggs = count(col("gram")).as("n_grams") +:
      langs.zipWithIndex.map { case (l, i) => sum(col(s"`$l`")).as(s"h_$i") }
    val want = grams.join(piv, Seq("gram"), "left")
      .groupBy(col("id")).agg(aggs.head, aggs.tail: _*)
      .orderBy("id")
      .as[(Long, Long, Option[Long], Option[Long], Option[Long])]
      .collect().toSeq
    val got = docs.select(col("id"),
        LangGramHits.hits(coalesce(col("text"), lit("")), 3, langs.size,
          gramMap).as("lh"))
      .select(col("id"), col("lh.n_grams"),
        col("lh.hits").getItem(0), col("lh.hits").getItem(1),
        col("lh.hits").getItem(2))
      .orderBy("id")
      .as[(Long, Long, Option[Long], Option[Long], Option[Long])]
      .collect().toSeq
    assert(got == want, s"got $got\nwant $want")
  }

  test("WordShingleHashes compiles and matches interpreted") {
    val toks = ArrayData.toArrayData(
      Array("the", "quick", "brown", "fox", "jumps").map(UTF8String.fromString))
    val e = WordShingleHashes(
      BoundReference(0, ArrayType(StringType, containsNull = false), nullable = true), 3)
    compiledVsInterpreted(e, InternalRow(toks))
  }

  test("VocabIds compiles, matches interpreted, maps unknowns to -1, " +
    "and the table survives plan serialization") {
    val vocab = Seq((0, "l"), (1, "o"), (2, "w"), (3, "lo"), (4, "low"))
    val e = VocabIds(
      BoundReference(0, ArrayType(StringType, containsNull = false),
        nullable = true), vocab)
    val syms = ArrayData.toArrayData(
      Array("low", "l", "o", "ZZZ", "lo").map(UTF8String.fromString))
    compiledVsInterpreted(e, InternalRow(syms))
    assert(e.eval(InternalRow(syms)).asInstanceOf[ArrayData]
      .toIntArray().toSeq == Seq(4, 0, 1, -1, 3))
    // the hash table is transient: a serialized Table (what plan
    // shipping does) must rebuild it executor-side
    val bos = new java.io.ByteArrayOutputStream()
    val oos = new java.io.ObjectOutputStream(bos)
    oos.writeObject(VocabIds.Table(vocab)); oos.close()
    val back = new java.io.ObjectInputStream(
      new java.io.ByteArrayInputStream(bos.toByteArray))
      .readObject().asInstanceOf[VocabIds.Table]
    assert(back.map.get(UTF8String.fromString("low")) == 4)
    assert(back.map.get(UTF8String.fromString("ZZZ")) == null)
  }

  test("VocabIds byte fallback compiles, matches interpreted, and " +
    "expands unknowns to UTF-8 byte ids") {
    val vocab = Seq((256, "l"), (257, "o"), (258, "low"))
    val e = VocabIds(
      BoundReference(0, ArrayType(StringType, containsNull = false),
        nullable = true), vocab, byteBase = 0)
    val syms = ArrayData.toArrayData(
      Array("low", "Ω", "o", "🦉").map(UTF8String.fromString))
    compiledVsInterpreted(e, InternalRow(syms))
    assert(e.eval(InternalRow(syms)).asInstanceOf[ArrayData]
      .toIntArray().toSeq ==
      Seq(258, 0xCE, 0xA9, 257, 0xF0, 0x9F, 0xA6, 0x89))
  }

  test("VocabDecode compiles, matches interpreted, reassembles byte " +
    "runs into UTF-8, and rejects foreign ids") {
    val vocab = Seq((256, "l"), (257, "o"), (258, "low"))
    val e = VocabDecode(
      BoundReference(0, ArrayType(IntegerType, containsNull = false),
        nullable = true), vocab, byteBase = 0)
    // low Ω(0xCE 0xA9) o 🦉(0xF0 0x9F 0xA6 0x89) — VocabIds' inverse
    val ids = ArrayData.toArrayData(
      Array(258, 0xCE, 0xA9, 257, 0xF0, 0x9F, 0xA6, 0x89))
    compiledVsInterpreted(e, InternalRow(ids))
    assert(e.eval(InternalRow(ids)).asInstanceOf[UTF8String].toString ==
      "lowΩo🦉")
    intercept[IllegalArgumentException] {
      e.eval(InternalRow(ArrayData.toArrayData(Array(999))))
    }
  }

  test("WordShingleHashesPos + WordShingleHashes64: both rolling/fold " +
    "double hashes equal the BigInt reference, sub-window docs emit " +
    "EMPTY (pos) / one short window (64-set)") {
    val toks = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
      .split(" ")
    val P = BigInt(1000000007L)
    def md5p(t: String): BigInt = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString.substring(0, 15)
      BigInt(java.lang.Long.parseLong(hex, 16)) mod P
    }
    def ref(ws: Seq[String]): Long = {
      val hs = ws.map(md5p)
      def fold(m: Int) =
        hs.foldLeft(BigInt(0))((a, b) => (a * m + b).mod(P))
      (fold(131) * P + fold(137)).toLong
    }
    val arr = ArrayData.toArrayData(toks.map(UTF8String.fromString))
    for (n <- Seq(2, 3, 5, 6, 8, 10)) {
      // positional: the ROLLING update must equal the fold reference
      // at every position (drop-leading-term arithmetic is exact)
      val got = WordShingleHashesPos.compute(arr, n).toLongArray().toSeq
      val want = (0 to toks.length - n).map(i => ref(toks.slice(i, i + n)))
      assert(got == want, s"rolling double hash diverged at n=$n")
      // set form: distinct sorted over the same values
      assert(WordShingleHashes64.compute(arr, n).toLongArray().toSeq ==
        want.distinct.sorted, s"64-set kernel diverged at n=$n")
    }
    // a doc that cannot hold an n-token span contributes NO window in
    // the positional kernel (removal semantics) but ONE short window
    // in the set kernel (pairing semantics, mirrors WordShingleHashes)
    val short = ArrayData.toArrayData(
      Array("a", "b").map(UTF8String.fromString))
    assert(WordShingleHashesPos.compute(short, 3).numElements() == 0)
    assert(WordShingleHashes64.compute(short, 3).toLongArray().toSeq ==
      Seq(ref(Seq("a", "b"))))
    compiledVsInterpreted(WordShingleHashesPos(
      BoundReference(0, ArrayType(StringType, containsNull = false),
        nullable = true), 4), InternalRow(arr))
    compiledVsInterpreted(WordShingleHashes64(
      BoundReference(0, ArrayType(StringType, containsNull = false),
        nullable = true), 8), InternalRow(arr))
  }

  test("WordShingleHashes rejects n outside [1,256]; wide-n path compiles") {
    val child = BoundReference(0, ArrayType(StringType, containsNull = false),
      nullable = true)
    intercept[IllegalArgumentException] { WordShingleHashes(child, 0) }
    intercept[IllegalArgumentException] { WordShingleHashes(child, 257) }
    val toks = ArrayData.toArrayData(
      ("the quick brown fox jumps over the lazy dog near the river bank"
        .split(" ")).map(UTF8String.fromString))
    compiledVsInterpreted(WordShingleHashes(child, 8), InternalRow(toks))
  }

  test("WordShingleHashes wide-n fold is congruent with the raw fold") {
    // for n where the raw fold cannot overflow BigInt arithmetic is the
    // reference: per-step mod must equal end-only mod (ring homomorphism)
    val toks = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
      .split(" ")
    val P = BigInt(1000000007L)
    def md5p(t: String): BigInt = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString.substring(0, 15)
      BigInt(java.lang.Long.parseLong(hex, 16)) mod P
    }
    for (n <- Seq(6, 8, 10)) {
      val arr = ArrayData.toArrayData(toks.map(UTF8String.fromString))
      val got = graft.expressions.WordShingleHashes.compute(arr, n)
        .toIntArray().toSeq
      val want = (0 until math.max(toks.length - n + 1, 1)).map { i =>
        toks.slice(i, i + n).map(md5p)
          .foldLeft(BigInt(0))((a, b) => a * 131 + b).mod(P).toInt
      }.distinct.sorted
      assert(got == want, s"wide-n fold diverged at n=$n")
    }
  }

  test("MergeList compiles and matches interpreted") {
    val syms = ArrayData.toArrayData(
      Array("l", "o", "w", "e", "s", "t", "l", "o", "w").map(UTF8String.fromString))
    val e = MergeList(
      BoundReference(0, ArrayType(StringType, containsNull = false), nullable = true),
      Seq(("l", "o"), ("lo", "w"), ("e", "s"), ("es", "t")))
    compiledVsInterpreted(e, InternalRow(syms))
    compiledVsInterpreted(e, InternalRow(ArrayData.toArrayData(
      Array.empty[UTF8String])))
  }

  test("RollingHash compiles and matches interpreted") {
    val e = RollingHash(BoundReference(0, StringType, nullable = true))
    compiledVsInterpreted(e, InternalRow(UTF8String.fromString("rolling hash input")))
  }

  test("SimHashBits compiles and matches interpreted") {
    val e = SimHashBits(
      BoundReference(0, ArrayType(LongType, containsNull = false), nullable = true), 16)
    compiledVsInterpreted(e, InternalRow(longArray(0x123456L, 0xabcdefL, 0x55aa55L)))
  }

  test("LangGuess compiles and matches interpreted") {
    val e = LangGuess(BoundReference(0, StringType, nullable = true))
    compiledVsInterpreted(e, InternalRow(UTF8String.fromString("the cat and the hat is in it")))
  }

  test("RankedCentroidCells compiles, matches interpreted, and matches the Column form") {
    import org.apache.spark.sql.functions._
    val cents = Seq(Seq(1.0, 0.0, 0.5), Seq(-0.5, 1.0, 0.0), Seq(0.25, 0.25, 1.0))
    val vecT = ArrayType(FloatType, containsNull = false)
    val e = RankedCentroidCells(
      BoundReference(0, vecT, nullable = true),
      BoundReference(1, DoubleType, nullable = true), cents)
    val vec = ArrayData.toArrayData(Array(0.3f, -0.7f, 0.2f))
    val nsq = 0.3 * 0.3 + 0.7 * 0.7 + 0.2 * 0.2
    val compiled = GenerateUnsafeProjection.generate(Seq(e))
    val got = compiled(InternalRow(vec, nsq)).getArray(0)
    val want = e.eval(InternalRow(vec, nsq)).asInstanceOf[ArrayData]
    assert(got.numElements() == 3 && want.numElements() == 3)
    (0 until 3).foreach { i =>
      assert(got.getStruct(i, 2).getDouble(0) == want.getStruct(i, 2).getDouble(0))
      assert(got.getStruct(i, 2).getInt(1) == want.getStruct(i, 2).getInt(1))
    }
    // bit-identical to the literal-column composition it replaced
    import spark.implicits._
    import graft.functions.{VectorFunctions => V}
    val centNorms = cents.map(_.foldLeft(0.0)((a, x) => a + x * x))
    val df = Seq(Tuple1(Seq(0.3f, -0.7f, 0.2f))).toDF("v")
      .withColumn("nsq", V.normSq(col("v")))
    val legacy = df.withColumn("arr",
      sort_array(array(cents.zipWithIndex.map { case (cv, i) =>
        struct((-V.cosinePrenormed(V.dot(col("v"), typedLit(cv)), col("nsq"),
          lit(centNorms(i)))).as("ns"), lit(i).as("cell"))
      }: _*))).select("arr").collect()(0).getSeq[org.apache.spark.sql.Row](0)
    val kernel = df.withColumn("arr",
        RankedCentroidCells.ranked(col("v"), col("nsq"), cents))
      .select("arr").collect()(0).getSeq[org.apache.spark.sql.Row](0)
    assert(kernel.map(r => (r.getDouble(0), r.getInt(1))) ==
      legacy.map(r => (r.getDouble(0), r.getInt(1))))
  }

  test("TokenStats compiles, matches interpreted, and matches the HOF Column form") {
    import org.apache.spark.sql.functions._
    import graft.functions.{TextFunctions => T}
    val dict = T.EnWords
    val e = TokenStats(BoundReference(0, StringType, nullable = true), dict)
    val samples = Seq(
      "the quick, brown fox! the fox.",   // punct, repeats, dict hits
      "",                                  // empty
      "   ",                               // spaces only -> [] rule
      " \tthe cat ",                       // tab survives the space-trim: leading empty token
      "one",                               // single token
      "a a a a b")                         // heavy repetition
    samples.foreach { s =>
      val row = InternalRow(UTF8String.fromString(s))
      val compiled = GenerateUnsafeProjection.generate(Seq(e))(row).getStruct(0, 7)
      val want = e.eval(row).asInstanceOf[InternalRow]
      (0 until 7).foreach(i => assert(compiled.getInt(i) == want.getInt(i),
        s"field $i for '$s'"))
      // top_n against the obvious Scala reference
      val trimmed = s.dropWhile(_ == ' ').reverse.dropWhile(_ == ' ').reverse
      val expectTop = if (trimmed.isEmpty) 0
        else trimmed.split("\\s+", -1).groupBy(identity).values.map(_.length).max
      assert(want.getInt(6) == expectTop, s"top_n for '$s'")
    }
    // equivalence with the Column/HOF composition the kernel replaced
    import spark.implicits._
    val df = samples.toDF("text")
    val toks = T.tokens(col("text"))
    val legacy = df.select(
      length(col("text")).as("n_chars"),
      T.tokenCount(col("text")).as("n_tokens"),
      References.punctCount(col("text")).as("n_punct"),
      References.dictHits(toks, dict).as("n_dict"),
      aggregate(transform(toks, t => length(t)), lit(0), (a, b) => a + b)
        .as("tok_len_sum"),
      size(array_distinct(toks)).as("n_distinct")).collect().toSeq
    val kernel = df.select(TokenStats.stats(col("text"), dict).as("st"))
      .select("st.n_chars", "st.n_tokens", "st.n_punct", "st.n_dict",
        "st.tok_len_sum", "st.n_distinct").collect().toSeq
    kernel.zip(legacy).zip(samples).foreach { case ((k, l), s) =>
      (0 until 6).foreach(i => assert(k.getInt(i) == l.getInt(i),
        s"col $i for '$s': kernel=$k legacy=$l"))
    }
  }

  test("PiiRedactStats compiles, matches interpreted, and matches the regex Column form") {
    import org.apache.spark.sql.functions._
    import graft.functions.{TextFunctions => T}
    // the kernel re-spells the patterns to avoid an import cycle; pin them
    assert(PiiRedactStats.EmailRegex == References.InlineEmailPattern)
    assert(PiiRedactStats.PhoneRegex == References.InlinePhonePattern)
    val samples = Seq(
      "no pii here at all",
      "mail me at a.b+c@ex-ample.co.uk thanks",           // email only
      "call +123456789 now",                              // phone only
      "x@y.io then +12345678901 then z@w.dev",            // both, interleaved
      "+12345678u@bc.de",                                 // email swallows the phone in the redaction
      "+1234567 too short, +1234567890123456 too long",   // phone non-matches
      "",                                                 // empty
      "a@b.co a@b.co a@b.co")                             // repeats
    val e = PiiRedactStats(BoundReference(0, StringType, nullable = true))
    samples.foreach { s =>
      val row = InternalRow(UTF8String.fromString(s))
      val compiled = GenerateUnsafeProjection.generate(Seq(e))(row).getStruct(0, 3)
      val want = e.eval(row).asInstanceOf[InternalRow]
      assert(compiled.getInt(0) == want.getInt(0), s"n_emails for '$s'")
      assert(compiled.getInt(1) == want.getInt(1), s"n_phones for '$s'")
      assert(compiled.getUTF8String(2) == want.getUTF8String(2), s"redacted for '$s'")
    }
    // equivalence with the four-scan Column composition the kernel replaced
    import spark.implicits._
    val df = samples.toDF("text")
    val legacy = df.select(
      size(regexp_extract_all(col("text"), lit(References.InlineEmailPattern), lit(0)))
        .as("n_emails"),
      size(regexp_extract_all(col("text"), lit(References.InlinePhonePattern), lit(0)))
        .as("n_phones"),
      References.redactPii(col("text")).as("redacted")).collect().toSeq
    val kernel = df.select(PiiRedactStats.stats(col("text")).as("r"))
      .select("r.n_emails", "r.n_phones", "r.redacted").collect().toSeq
    kernel.zip(legacy).zip(samples).foreach { case ((k, l), s) =>
      assert(k.getInt(0) == l.getInt(0), s"n_emails for '$s'")
      assert(k.getInt(1) == l.getInt(1), s"n_phones for '$s'")
      assert(k.getString(2) == l.getString(2), s"redacted for '$s'")
    }
  }

  test("kernel query runs with codegen fallback disabled") {
    // End-to-end guard: with fallback off, any Janino failure in a real
    // plan aborts the query instead of silently interpreting.
    val s = spark
    import s.implicits._
    withCodegenStrict {
      val df = Seq("the quick brown fox", "el perro y el gato").toDF("text")
        .selectExpr("text")
      val out = df
        .select(
          LangGuess.apply(org.apache.spark.sql.functions.col("text")).as("lang"),
          RollingHash.apply(org.apache.spark.sql.functions.col("text")).as("h"),
          Md5Prefix60.apply(org.apache.spark.sql.functions.col("text")).as("m"))
        .collect()
      assert(out.length == 2)
      assert(out.map(_.getString(0)).toSet == Set("en", "es"))
    }
  }

  test("HyperplaneSignBits compiles, matches interpreted, and matches the when-chain") {
    import org.apache.spark.sql.functions._
    import graft.functions.{VectorFunctions => V}
    val planes = graft.operators.Similarity.hyperplanes(30, 8)
    val e = HyperplaneSignBits(
      BoundReference(0, ArrayType(FloatType, containsNull = false),
        nullable = true), planes)
    val vec = ArrayData.toArrayData(Array(0.3f, -0.7f, 0.2f, 0.9f, -0.1f, 0.0f, 1.5f, -2.0f))
    compiledVsInterpreted(e, InternalRow(vec))
    // bit-identical to the literal when-chain it replaced
    import spark.implicits._
    val df = (0L until 50L)
      .map(i => (i, Seq.tabulate(8)(j => ((i * 13 + j * 7) % 17 - 8).toFloat / 5)))
      .toDF("id", "v")
    val legacy = planes.zipWithIndex.map { case (p, h) =>
      when(V.dot(col("v"), typedLit(p)) >= 0, lit(1L << h)).otherwise(lit(0L))
    }.reduce(_ + _)
    val mismatches = df.select(
        graft.operators.Similarity.hyperplaneBucket(col("v"), planes).as("k"),
        legacy.as("l"))
      .where(col("k") =!= col("l")).count()
    assert(mismatches == 0L)
  }

  test("all kernels reachable through the SQL surface (GraftExtensions)") {
    GraftExtensions.register(spark)
    val row = spark.sql(
      """SELECT
        |  graft_md5_prefix60('abc') AS m,
        |  graft_rolling_hash('abc') AS r,
        |  graft_lang_guess('the cat and the hat') AS l,
        |  graft_shingle_hashes(array('a','b','c'), 2) AS sh,
        |  graft_sorted_jaccard(array(1L, 2L), array(2L, 3L)) AS j,
        |  graft_simhash(array(1L, 2L, 3L)) AS s,
        |  graft_vector_dot(array(1.0F, 2.0F), array(3.0F, 4.0F)) AS d,
        |  graft_minhash_bands(array(123456789L, 42L), 4, 2) AS mb,
        |  graft_line_stats('a\na\n- b ...') AS ls,
        |  graft_shingle_hashes_pos(array('a','b','c'), 2) AS shp,
        |  graft_shingle_hashes64(array('a','b','c'), 2) AS sh64
        |""".stripMargin).collect()(0)
    assert(row.getLong(0) == Md5Prefix60.compute("abc".getBytes("UTF-8")))
    assert(row.getString(2) == "en")
    assert(row.getSeq[Int](3).length == 2)
    assert(math.abs(row.getDouble(4) - 1.0 / 3.0) < 1e-15)
    assert(row.getDouble(6) == 11.0)
    assert(row.getSeq[String](7).length == 2 &&
      row.getSeq[String](7).forall(_.matches("\\d+:\\d+:\\d+")))
    val ls = row.getStruct(8)
    // 'a','a','- b ...': 2 dup lines, 1 bullet (also the ellipsis line)
    assert(ls.getInt(0) == 3 && ls.getInt(1) == 2 && ls.getInt(4) == 1 &&
      ls.getInt(5) == 1 && ls.getInt(7) == 1, s"line_stats: $ls")
    // positional: 2 ordered windows; set form: the same 2, sorted
    assert(row.getSeq[Long](9).length == 2)
    assert(row.getSeq[Long](10) == row.getSeq[Long](9).sorted)
  }

  test("PQ kernels compile and match interpreted (float and double vectors)") {
    val books = Seq(
      Seq(Seq(0.0, 1.0), Seq(2.0, -1.0), Seq(0.5, 0.5)),
      Seq(Seq(1.5, 0.5), Seq(-2.0, 3.0), Seq(0.0, 0.0)))
    val vecF = ArrayData.toArrayData(Array(1.9f, -0.9f, 1.4f, 0.6f))
    val vecD = ArrayData.toArrayData(Array(1.9, -0.9, 1.4, 0.6))
    val encF = PqEncode(BoundReference(0,
      ArrayType(FloatType, containsNull = false), nullable = true), books)
    compiledVsInterpreted(encF, InternalRow(vecF))
    val encD = PqEncode(BoundReference(0,
      ArrayType(DoubleType, containsNull = false), nullable = true), books)
    compiledVsInterpreted(encD, InternalRow(vecD))
    val codes = ArrayData.toArrayData(Array(1, 0))
    val rn = PqReconNormSq(BoundReference(0,
      ArrayType(IntegerType, containsNull = false), nullable = true), books)
    compiledVsInterpreted(rn, InternalRow(codes))
    val adc = PqAdcDot(
      BoundReference(0, ArrayType(FloatType, containsNull = false), nullable = true),
      BoundReference(1, ArrayType(IntegerType, containsNull = false), nullable = true),
      books)
    compiledVsInterpreted(adc, InternalRow(vecF, codes))
  }

  test("LineStats compiles, matches interpreted, and matches a set-wise reference") {
    val e = LineStats(BoundReference(0, StringType, nullable = true))
    val samples = Seq(
      "a\nb\na",                          // duplicate lines
      "",                                  // one empty line
      "x\n\nx\n",                          // empty-line dups + trailing empty
      "- item\n * x\nfoo...\n…\n###",      // bullets, ellipses, symbols
      "  spaced  \n  spaced  ",            // exact-content dup with spaces
      ".....",                             // one non-overlapping '...'
      "......",                            // two
      "to be continued...",
      "single line no tricks at all")
    samples.foreach { s =>
      val row = InternalRow(UTF8String.fromString(s))
      val compiled = GenerateUnsafeProjection.generate(Seq(e))(row).getStruct(0, 8)
      val want = e.eval(row).asInstanceOf[InternalRow]
      (0 until 8).foreach(i => assert(compiled.getInt(i) == want.getInt(i),
        s"field $i for '$s'"))
      // independent Scala reference (set-wise, like the DuckDB oracle)
      val lines = s.split("\n", -1).toSeq
      val mult = lines.groupBy(identity).map { case (k, v) => k -> v.size }
      def trimSp(x: String) = x.dropWhile(_ == ' ').reverse.dropWhile(_ == ' ').reverse
      assert(want.getInt(0) == lines.size, s"n_lines '$s'")
      assert(want.getInt(1) == lines.count(mult(_) > 1), s"n_dup_lines '$s'")
      assert(want.getInt(2) == lines.filter(mult(_) > 1).map(_.length).sum,
        s"dup_line_chars '$s'")
      assert(want.getInt(3) == lines.map(_.length).sum, s"line_chars '$s'")
      assert(want.getInt(4) == lines.map(trimSp).count(l =>
        l.nonEmpty && "-*•".contains(l.head)), s"n_bullet '$s'")
      assert(want.getInt(5) == lines.map(trimSp).count(l =>
        l.endsWith("…") || l.endsWith("...")), s"n_ellipsis '$s'")
      val trimmed = trimSp(s)
      val toks = if (trimmed.isEmpty) Array.empty[String]
        else trimmed.split("\\s+", -1)
      assert(want.getInt(6) == toks.count(_.exists(Character.isLetter)),
        s"n_alpha_toks '$s'")
      val symRef = "#".r.findAllIn(s).size + "…".r.findAllIn(s).size +
        java.util.regex.Pattern.compile("\\.\\.\\.").matcher(s)
          .results().count().toInt
      assert(want.getInt(7) == symRef, s"n_sym_hits '$s'")
    }
  }

  private def withCodegenStrict[A](body: => A): A = {
    val key = "spark.sql.codegen.fallback"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try body finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}
