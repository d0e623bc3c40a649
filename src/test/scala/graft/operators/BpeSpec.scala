package graft.operators

import org.apache.spark.sql.functions._

import graft.{References, SparkSpec}

/** BPE learning against hand-computed merges on a tiny corpus, plus
  * the structural properties: determinism, vocab-side iteration,
  * non-overlapping merge semantics.
  */
class BpeSpec extends SparkSpec {
  import spark.implicits._

  test("trainMerges learns the hand-computed merges (Sennrich-style corpus)") {
    // word table: low x5, lowest x2 -> pair counts at iteration 0:
    // (l,o)=7 (w in low+lowest), (o,w)=7, (w,e)=2, (e,s)=2, (s,t)=2
    // argmax ties (l,o)=(o,w)=7 break lexicographically -> (l,o) first
    val docs = Seq(
      (1L, Seq.fill(5)("low").mkString(" ")),
      (2L, Seq.fill(2)("lowest").mkString(" "))).toDF("doc_id", "text")
    val merges = References.trainMerges(docs, "text", 4)
    assert(merges.take(2) == Seq((0, "l", "o"), (1, "lo", "w")))
    // after (l,o) and (lo,w): "low" is one symbol; next pairs are the
    // lowest suffix: (low,e)=2, (e,s)=2, (s,t)=2 -> lexicographic on
    // ties: (e,s) < (low,e) < (s,t)
    assert(merges(2) == ((2, "e", "s")))
    // determinism: an identical run learns identical merges
    assert(References.trainMerges(docs, "text", 4) == merges)
    // encode with the learned merges: "low" collapses to one symbol
    val enc = Bpe.applySyms(Seq(("low", 1L), ("lowest", 1L)).toDF("word", "n"),
        merges.take(2))
      .select(col("syms")).as[Seq[String]].collect().toSet
    assert(enc.contains(Seq("low")))
    assert(enc.contains(Seq("low", "e", "s", "t")))
    // per-doc accounting: 2 merges -> low = 1 subword, lowest = 4
    val counts = Bpe.subwordCounts(
      Seq((1L, "low low lowest"), (2L, ""), (3L, "low")).toDF("doc_id", "text"),
      "doc_id", "text", merges.take(2))
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(counts.toSeq == Seq((1L, 3L, 6L), (2L, 0L, 0L), (3L, 1L, 1L)))
  }

  test("MergeAdjacent: left-to-right non-overlapping, 'aaa' -> ['aa','a']") {
    val df = Seq(
      (1L, Seq("a", "a", "a")),
      (2L, Seq("x", "a", "a", "y", "a", "a")),
      (3L, Seq("b")),
      (4L, Seq.empty[String])).toDF("id", "syms")
    val out = df.select($"id",
        graft.expressions.MergeAdjacent.merge($"syms", "a", "a").as("m"))
      .as[(Long, Seq[String])].collect().toMap
    assert(out(1L) == Seq("aa", "a"))
    assert(out(2L) == Seq("x", "aa", "y", "aa"))
    assert(out(3L) == Seq("b"))
    assert(out(4L) == Seq.empty[String])
  }

  test("MergeList ≡ the MergeAdjacent fold (seeded random sequences + edges)") {
    val rnd = new scala.util.Random(20260815L)
    val alphabet = Vector("a", "b", "c", "ab", "bc", "x")
    val seqs: Seq[Seq[String]] =
      Seq(Seq.empty[String], Seq("a"), Seq("a", "b"), Seq("a", "a", "a", "a")) ++
        (1 to 60).map(_ => Seq.fill(rnd.nextInt(12))(alphabet(rnd.nextInt(alphabet.size))))
    // merge list deliberately includes a created-symbol reuse ("ab"
    // exists in the alphabet) and a self-pair
    val merges = Seq(("a", "b"), ("ab", "c"), ("a", "a"), ("aa", "ab"), ("b", "c"))
    val df = seqs.zipWithIndex.map { case (s, i) => (i.toLong, s) }.toDF("id", "syms")
    val folded = merges.foldLeft(df.withColumn("m", col("syms"))) {
        case (d, (a, b)) =>
          d.withColumn("m", graft.expressions.MergeAdjacent.merge(col("m"), a, b))
      }.select($"id", $"m").as[(Long, Seq[String])].collect().toMap
    val kernel = df.select($"id",
        graft.expressions.MergeList.merge($"syms", merges).as("m"))
      .as[(Long, Seq[String])].collect().toMap
    assert(kernel == folded)
    // empty merge list = identity
    val ident = df.select($"id",
        graft.expressions.MergeList.merge($"syms", Seq.empty).as("m"))
      .as[(Long, Seq[String])].collect().toMap
    assert(ident == seqs.zipWithIndex.map { case (s, i) => i.toLong -> s }.toMap)
  }

  test("trainMergesBatched learns the identical list to trainMerges") {
    // corpus 1: the Sennrich-style hand corpus
    val hand = Seq(
      (1L, Seq.fill(5)("low").mkString(" ")),
      (2L, Seq.fill(2)("lowest").mkString(" "))).toDF("doc_id", "text")
    assert(Bpe.trainMergesBatched(hand, "text", 4) == References.trainMerges(hand, "text", 4))
    // corpus 2: seeded pseudo-random words over a small alphabet — ties,
    // shared affixes, self-pairs, symbol-reuse hazards all present
    val rnd = new scala.util.Random(42L)
    val vocabChars = "abcde"
    def word(): String =
      (1 to (2 + rnd.nextInt(7))).map(_ => vocabChars(rnd.nextInt(5))).mkString
    val docs = (0 until 120).map { i =>
      (i.toLong, (1 to (3 + rnd.nextInt(10))).map(_ => word()).mkString(" "))
    }.toDF("doc_id", "text")
    val seqList = References.trainMerges(docs, "text", 40)
    val batList = Bpe.trainMergesBatched(docs, "text", 40)
    assert(batList == seqList)
    // maxBatch=1 degenerates to the sequential learner exactly
    assert(Bpe.trainMergesBatched(docs, "text", 12, maxBatch = 1) ==
      seqList.take(12))
    // and a small topK slice (loose maxIn/maxOut bounds) stays exact
    assert(Bpe.trainMergesBatched(docs, "text", 25, maxBatch = 8, topK = 16) ==
      seqList.take(25))
  }

  test("trainMergesLocal learns the identical list to trainMerges, " +
    "and the maxWords guard fires") {
    val hand = Seq(
      (1L, Seq.fill(5)("low").mkString(" ")),
      (2L, Seq.fill(2)("lowest").mkString(" "))).toDF("doc_id", "text")
    assert(Bpe.trainMergesLocal(hand, "text", 4) == References.trainMerges(hand, "text", 4))
    // exhaustion: more merges requested than pairs exist — both stop
    assert(Bpe.trainMergesLocal(hand, "text", 50) == References.trainMerges(hand, "text", 50))
    val rnd = new scala.util.Random(42L)
    val vocabChars = "abcde"
    def word(): String =
      (1 to (2 + rnd.nextInt(7))).map(_ => vocabChars(rnd.nextInt(5))).mkString
    val docs = (0 until 120).map { i =>
      (i.toLong, (1 to (3 + rnd.nextInt(10))).map(_ => word()).mkString(" "))
    }.toDF("doc_id", "text")
    assert(Bpe.trainMergesLocal(docs, "text", 40) ==
      References.trainMerges(docs, "text", 40))
    // the fallback default would train via the batched learner; pin the
    // hard-assertion mode explicitly
    intercept[IllegalArgumentException] {
      Bpe.trainMergesLocal(docs, "text", 4, maxWords = 3,
        fallbackToBatched = false)
    }
    // and the DEFAULT (fallbackToBatched=true) keeps an over-cap table
    // training instead of throwing — same list
    assert(Bpe.trainMergesLocal(docs, "text", 4, maxWords = 3) ==
      References.trainMerges(docs, "text", 4))
  }

  test("trainMergesLocal tie-break matches Spark's UTF-8 order on " +
    "non-BMP symbols (supplementary-plane collation)") {
    // count TIE between a pair led by U+1F600 (😀, surrogate pair: its
    // UTF-16 code units start 0xD83D) and one led by U+FFFD (�, a BMP
    // char ABOVE the surrogate range). Java String '<' puts the emoji
    // first (0xD83D < 0xFFFD); Spark's UTF8String sort — what
    // trainMerges' orderBy uses — compares UTF-8 bytes (EF BF BD <
    // F0 9F 98 80), so the � pair must win the tie in BOTH learners.
    val emoji = new String(Character.toChars(0x1F600))
    val fffd = "�"
    val docs = Seq(
      (1L, Seq.fill(3)(emoji + "z").mkString(" ")),
      (2L, Seq.fill(3)(fffd + "z").mkString(" "))).toDF("doc_id", "text")
    val sparkList = References.trainMerges(docs, "text", 2)
    assert(sparkList.head == ((0, fffd, "z")), s"spark order: $sparkList")
    assert(Bpe.trainMergesLocal(docs, "text", 2) == sparkList)
  }

  test("trainMergesLocal driver guard fires from the PRE-COLLECT byte " +
    "estimate, and fallbackToBatched trains the identical list") {
    val docs = Seq(
      (1L, "pack the rows pack the rows again"),
      (2L, "rows again and again")).toDF("doc_id", "text")
    // maxBytes below any plausible estimate: the require fires from the
    // sizing aggregate (message carries the estimate), not from an OOM
    val ex = intercept[IllegalArgumentException] {
      Bpe.trainMergesLocal(docs, "text", 3, maxBytes = 64L,
        fallbackToBatched = false)
    }
    assert(ex.getMessage.contains("BEFORE"), ex.getMessage)
    assert(ex.getMessage.contains("trainMergesBatched"), ex.getMessage)
    // same over-budget call with the DEFAULT fallback: identical list
    assert(Bpe.trainMergesLocal(docs, "text", 3, maxBytes = 64L)
      == References.trainMerges(docs, "text", 3))
  }

  test("tokenizer artifact: merges + vocab publish as ONE committed " +
    "table; a crash mid-refresh leaves the previous tokenizer servable") {
    import graft.streaming.StatsMaintenance
    val docs = Seq(
      (1L, "low low low lowest"),
      (2L, "lowest low")).toDF("doc_id", "text")
    val m1 = References.trainMerges(docs, "text", 2)
    val v1 = Bpe.vocab(docs, "text", m1)
    val m2 = References.trainMerges(docs, "text", 4)
    val v2 = Bpe.vocab(docs, "text", m2)
    val path = java.nio.file.Files
      .createTempDirectory("graft-tokenizer").toString + "/tok"
    intercept[IllegalStateException] {
      Bpe.loadTokenizerVersioned(spark, path)
    }
    Bpe.saveTokenizerVersioned(spark, m1, v1, path)
    assert(Bpe.loadTokenizerVersioned(spark, path) == ((m1, v1)))
    // growth refresh crashes mid-publish: the old tokenizer must stay
    // servable — an encode under HALF a refresh would renumber corpora
    final class Killed extends RuntimeException("injected crash")
    StatsMaintenance.testCrashPoint =
      p => if (p == "marker-open") throw new Killed
    try intercept[Killed] {
      Bpe.saveTokenizerVersioned(spark, m2, v2, path)
    } finally StatsMaintenance.testCrashPoint = _ => ()
    assert(Bpe.loadTokenizerVersioned(spark, path) == ((m1, v1)))
    // retried refresh lands; growth-appends contract holds through the
    // artifact round-trip
    Bpe.saveTokenizerVersioned(spark, m2, v2, path)
    val (lm, lv) = Bpe.loadTokenizerVersioned(spark, path)
    assert((lm, lv) == ((m2, v2)))
    assert(lv.take(v1.size) == v1, "vocab growth must only append")
    // an encode under the loaded tokenizer is identical
    val a = Bpe.encodeIds(docs, "doc_id", "text", m2, v2)
      .as[(Long, Long, Seq[Int])].collect().sortBy(_._1).toSeq
    val b = Bpe.encodeIds(docs, "doc_id", "text", lm, lv)
      .as[(Long, Long, Seq[Int])].collect().sortBy(_._1).toSeq
    assert(a == b)
  }

  test("vocab: alphabet in UTF-8 order then merges in rank order; " +
    "encodeIds emits ordered id sequences with empty docs surviving") {
    val docs = Seq(
      (1L, "low low low lowest"),
      (2L, "lowest low"),
      (3L, "")).toDF("doc_id", "text")
    val merges = References.trainMerges(docs, "text", 3)
    val voc = Bpe.vocab(docs, "text", merges)
    // alphabet of {low, lowest}: e,l,o,s,t,w — ids 0..5 sorted; merges
    // appended at 6.. in rank order
    assert(voc.take(6).map(_._2) == Seq("e", "l", "o", "s", "t", "w"))
    assert(voc.map(_._1) == voc.indices.toSeq, "ids must be dense")
    assert(voc.drop(6).map(_._2) ==
      merges.sortBy(_._1).map(m => m._2 + m._3))
    val vmap = voc.map { case (i, s) => (s, i) }.toMap
    val got = Bpe.encodeIds(docs, "doc_id", "text", merges, voc)
      .as[(Long, Long, Seq[Int])].collect().sortBy(_._1).toSeq
    // reference encode: per word, apply merges in rank order locally
    def encodeWord(w: String): Seq[Int] = {
      var syms = w.map(_.toString)
      merges.sortBy(_._1).foreach { case (_, a, b) =>
        val out = scala.collection.mutable.ArrayBuffer.empty[String]
        var i = 0
        while (i < syms.length) {
          if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
            out += (a + b); i += 2
          } else { out += syms(i); i += 1 }
        }
        syms = out.toSeq.toIndexedSeq
      }
      syms.map(vmap)
    }
    val want = Seq(
      (1L, Seq("low", "low", "low", "lowest").flatMap(encodeWord)),
      (2L, Seq("lowest", "low").flatMap(encodeWord)),
      (3L, Seq.empty[Int]))
    assert(got == want.map { case (id, ids) => (id, ids.size.toLong, ids) })
    // unknown symbol (vocab trained elsewhere) maps to -1, never drops
    val tiny = Seq((7L, "lox")).toDF("doc_id", "text")
    val gx = Bpe.encodeIds(tiny, "doc_id", "text", merges, voc)
      .as[(Long, Long, Seq[Int])].collect().head
    assert(gx._3.contains(-1) && gx._2 == gx._3.size.toLong)
  }

  test("byte fallback: encode is TOTAL — out-of-alphabet code points " +
    "decompose to reserved byte ids 0..255 and decode losslessly") {
    val docs = Seq(
      (1L, "low low low lowest"),
      (2L, "lowest low")).toDF("doc_id", "text")
    val merges = References.trainMerges(docs, "text", 3)
    val alphabet = Bpe.vocab(docs, "text", merges).map(_._2)
      .filter(s => s.codePointCount(0, s.length) == 1)
    val vb = Bpe.vocabWithBytesFromAlphabet(alphabet, merges)
    // layout: 256 reserved byte tokens first, then the plain vocab
    // shifted — the id-stability contract carries over
    assert(vb.take(256) == Bpe.ByteTokens)
    assert(vb(0x41)._2 == "<0x41>")
    val plain = Bpe.vocab(docs, "text", merges)
    assert(vb.drop(256) == plain.map { case (i, s) => (i + 256, s) })

    // on in-alphabet text the fallback encode IS the plain encode +256
    val base = Bpe.encodeIds(docs, "doc_id", "text", merges, plain)
      .as[(Long, Long, Seq[Int])].collect().sortBy(_._1).toSeq
    val bf = Bpe.encodeIds(docs, "doc_id", "text", merges, vb,
        byteFallback = true)
      .as[(Long, Long, Seq[Int])].collect().sortBy(_._1).toSeq
    assert(bf == base.map { case (d, n, ids) => (d, n, ids.map(_ + 256)) })

    // mixed word: l/o/w encode through chars+merges, Ω (2 UTF-8
    // bytes) and the non-BMP owl (4 bytes, ONE code point) fall back
    val probe = Seq((9L, "lowΩ🦉 low")).toDF("doc_id", "text")
    val got = Bpe.encodeIds(probe, "doc_id", "text", merges, vb,
        byteFallback = true)
      .as[(Long, Long, Seq[Int])].collect().head
    assert(!got._3.exists(_ < 0), "byte fallback must never emit UNK")
    assert(got._3.count(_ < 256) == 6, // 0xCE 0xA9 + 0xF0 0x9F 0xA6 0x89
      s"expected exactly the 6 fallback bytes of Ω and 🦉: ${got._3}")
    // lossless: byte ids decode as raw UTF-8 bytes, vocab ids as their
    // symbols — the round trip reassembles the exact input words
    val sym = vb.toMap
    def decode(ids: Seq[Int]): String = {
      val out = new java.io.ByteArrayOutputStream()
      ids.foreach { i =>
        if (i < 256) out.write(i)
        else out.write(sym(i).getBytes("UTF-8"))
      }
      new String(out.toByteArray, "UTF-8")
    }
    assert(decode(got._3) == "lowΩ🦉low")

    // the DISTRIBUTED decode column agrees with the manual round trip
    // (byte runs reassemble in byte space inside the kernel)
    val viaOp = Bpe.encodeIds(probe, "doc_id", "text", merges, vb,
        byteFallback = true)
      .select(Bpe.decodeCol(col("ids"), vb, byteFallback = true))
      .as[String].collect().head
    assert(viaOp == "lowΩ🦉low")
    // a foreign id (neither vocabulary nor byte range) fails LOUDLY —
    // a torn vocabulary must never silently produce wrong text
    val boom = intercept[Exception] {
      Seq(Seq(999999)).toDF("ids")
        .select(Bpe.decodeCol(col("ids"), vb, byteFallback = true))
        .collect()
    }
    def messages(t: Throwable): String =
      if (t == null) "" else t.getMessage + "\n" + messages(t.getCause)
    assert(messages(boom).contains("vocab_decode"), messages(boom))

    // the fallback contract demands the reserved bytes-first layout
    intercept[IllegalArgumentException] {
      Bpe.encodeIds(probe, "doc_id", "text", merges, plain,
        byteFallback = true)
    }
    intercept[IllegalArgumentException] {
      Bpe.decodeCol(col("ids"), plain, byteFallback = true)
    }
  }

  test("vocab growth only appends: a k-merge vocab is a strict prefix " +
    "of a k'-merge vocab (the id-stability contract a training run " +
    "needs to grow its tokenizer)") {
    val docs = Seq(
      (1L, "low low low lowest lower lowest"),
      (2L, "newest newer new low lowest"),
      (3L, "wide wider widest new low")).toDF("doc_id", "text")
    // greedy BPE is anytime: the first k merges of a longer run ARE
    // the k-merge run, so the assembled vocab can only append
    val m5 = References.trainMerges(docs, "text", 5)
    val m9 = References.trainMerges(docs, "text", 9)
    assert(m9.take(5) == m5)
    val v5 = Bpe.vocab(docs, "text", m5)
    val v9 = Bpe.vocab(docs, "text", m9)
    assert(v9.take(v5.size) == v5,
      "growing the merge list must not move any existing id")
  }

  test("encodeIds composes with packPlacement: every bin of the packed " +
    "shard stream is materializable as a slice of concatenated ids") {
    val docs = Seq(
      (1L, "low low lowest"),
      (2L, "lowest lowest low low"),
      (3L, "low"),
      (4L, ""),
      (5L, "lowest low lowest")).toDF("doc_id", "text")
    val merges = References.trainMerges(docs, "text", 2)
    val voc = Bpe.vocab(docs, "text", merges)
    val enc = Bpe.encodeIds(docs, "doc_id", "text", merges, voc)
    val budget = 5
    val placed = Packing.packPlacement(enc, "doc_id", col("n_ids"),
      budget, nShards = 2)
    val rows = placed.join(enc, Seq("doc_id"))
      .select(col("shard"), col("doc_id"), col("n_ids"),
        col("token_offset"), col("bin_first"), col("bin_last"), col("ids"))
      .as[(Long, Long, Long, Long, Long, Long, Seq[Int])]
      .collect().toSeq
    rows.groupBy(_._1).foreach { case (_, docs) =>
      // the shard's id stream: member ids concatenated in doc-id order
      val stream = docs.sortBy(_._2).flatMap(_._7)
      docs.foreach { case (_, _, n, off, binF, binL, ids) =>
        // placement slice reproduces the doc's own ids exactly
        assert(stream.slice(off.toInt, off.toInt + n.toInt) == ids)
        if (n > 0) {
          assert(binF == off / budget)
          assert(binL == (off + n - 1) / budget)
        }
      }
      // every bin materializes as a budget-sized slice of the stream
      (0L to docs.map(d => d._4 + d._3).max / budget).foreach { b =>
        val bin = stream.slice((b * budget).toInt, ((b + 1) * budget).toInt)
        assert(bin.size <= budget)
      }
    }
  }

  test("pairCounts weights by word frequency and skips word boundaries") {
    val syms = Seq(
      (Seq("a", "b", "c"), 3L),
      (Seq("b", "c"), 2L)).toDF("syms", "n")
    val out = Bpe.pairCounts(syms)
      .as[(String, String, Long)].collect().sortBy(r => (r._1, r._2))
    assert(out.toSeq == Seq(("a", "b", 3L), ("b", "c", 5L)))
  }
}
