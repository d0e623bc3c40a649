package graft.operators

import org.apache.spark.sql.functions._

import graft.{References, SparkSpec}
import graft.functions.{TextFunctions => T, VectorFunctions => V}

/** Extension-operator behavior on controlled fixtures: recall of the
  * LSH paths, fingerprint locality, vector math identities.
  */
class DedupSimilaritySpec extends SparkSpec {
  import spark.implicits._

  private val base = "the quick brown fox jumps over the lazy dog again and again today"
  private val nearDup = base.replace("today", "tonight") // 1-word edit
  private val unrelated = "completely different content with no overlap whatsoever at all here now"

  private def docs = Seq(
    (1L, base), (2L, nearDup), (3L, unrelated), (4L, base) // 4 = exact dup of 1
  ).toDF("doc_id", "text")

  test("exact dedup groups byte-identical docs, keeps min id") {
    val g = Dedup.exactGroups(docs, "doc_id", "text")
      .where($"n" > 1).select($"keep_id", $"n").as[(Long, Long)].collect()
    assert(g.toSeq == Seq((1L, 2L)))
  }

  test("planesFor scales the bucket count with the corpus, clamped to [4,30]") {
    assert(Dedup.planesFor(0L) == 4 && Dedup.planesFor(1000L) == 4)
    assert(Dedup.planesFor(20000L) == 9)       // ~313 buckets of ~64
    assert(Dedup.planesFor(20000L, 2000L) == 4)
    assert(Dedup.planesFor(Long.MaxValue) == 30)
    // monotone in corpus size
    val ns = Seq(1L, 1000L, 100000L, 10000000L, 1000000000L).map(Dedup.planesFor(_))
    assert(ns == ns.sorted)
    // exact duplicates co-bucket under any plane count: same vector ⇒
    // same plane signs ⇒ same bucket — checked via the bucketed pair
    // finder at an aggressive plane count
    val e = (0L until 40L).map(i => (i, Seq.tabulate(8)(j => (i * 7 + j).toFloat / 100)))
      .toDF("vec_id", "embedding")
    val withDup = e.unionByName(
      e.where($"vec_id" === 3L).select(($"vec_id" + 100).as("vec_id"), $"embedding"))
    val pairs = Dedup.embeddingDupPairsBucketed(withDup, "vec_id", "embedding",
      0.9999, nPlanes = 20, dim = 8).select($"i", $"j").as[(Long, Long)].collect()
    assert(pairs.toSeq.contains((3L, 103L)), s"planted exact dup lost: ${pairs.toSeq}")
  }

  test("residual-IVF embedding dedup: exact dups never lost, output exact-verified") {
    // 3 tight clusters of 8-dim vectors + one planted exact duplicate;
    // residual blocking must (a) keep the planted pair under an
    // aggressive plane count (same cell by deterministic tie-break,
    // same residual ⇒ same bucket), (b) emit ONLY pairs the brute
    // verifier confirms (candidates are a subset of all pairs; the
    // exact-cos filter makes false positives impossible)
    val rnd = new scala.util.Random(7)
    val centers = Seq.tabulate(3)(c => Seq.tabulate(8)(j => (c * 3 + j).toDouble))
    val e = (0L until 60L).map { i =>
      val c = centers((i % 3).toInt)
      (i, c.map(x => (x + rnd.nextGaussian() * 0.05).toFloat))
    }.toDF("vec_id", "embedding")
    val withDup = e.unionByName(
      e.where($"vec_id" === 5L).select(($"vec_id" + 100).as("vec_id"), $"embedding"))
    val got = Dedup.embeddingDupPairsResidual(withDup, "vec_id", "embedding",
        0.9999, nlist = 6, nPlanes = 12, dim = 8)
      .select($"i", $"j").as[(Long, Long)].collect().toSet
    assert(got.contains((5L, 105L)), s"planted exact dup lost: $got")
    val brute = References.embeddingDupPairsBrute(withDup, "vec_id", "embedding", 0.9999)
      .select($"i", $"j").as[(Long, Long)].collect().toSet
    assert(got.subsetOf(brute), s"unverified pair leaked: ${got -- brute}")
  }

  test("minhash-LSH finds exact and near dups, not unrelated pairs") {
    val pairs = Dedup.minhashDupPairs(docs, "doc_id", "text",
        n = 3, k = 8, rowsPerBand = 2, threshold = 0.5)
      .select($"i", $"j").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 4L)))        // exact dup always survives
    assert(pairs.contains((1L, 2L)) || pairs.contains((2L, 4L))) // near dup
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L)) // unrelated excluded
  }

  test("ngram jaccard blocking agrees with minhash on exact dup score") {
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3,
        threshold = 0.5)
      .as[(Long, Long, Double)].collect()
    val exact = pairs.find(p => p._1 == 1L && p._2 == 4L)
    assert(exact.exists(_._3 == 1.0))
  }

  test("prefix-filtered jaccard index emits the same pairs as the unfiltered one") {
    // A corpus rich in shared boilerplate (hot shingles) plus planted
    // dups: the prefix path (floor=0 forces it) must produce EXACTLY
    // the unfiltered path's thresholded output — the Bayardo prefix
    // guarantee, pinned here because only ≥20k-doc corpora take the
    // prefix path in production and specs run on small data.
    val r = new scala.util.Random(13)
    val boiler = "the quick brown fox jumps over the lazy dog again and again"
    val corpus = (1L to 120L).map { id =>
      val noise = Seq.fill(6)(s"w${r.nextInt(30)}").mkString(" ")
      val text =
        if (id % 10 == 0) s"$boiler exact duplicate body shared by tens"
        else s"$boiler $noise tail$id"
      (id, text)
    }.toDF("doc_id", "text")
    def run(floor: Long, hotCap: Int = 512) =
      Dedup.ngramJaccardPairs(corpus, "doc_id", "text", n = 3,
          threshold = 0.5, prefixFilterFloor = floor, hotBroadcastCap = hotCap)
        .as[(Long, Long, Double)].collect().toSet
    val hotSlicePath = run(0L)           // hot-set broadcast + map-side slice
    val windowPath = run(0L, hotCap = 0) // cap overflow -> exact df-rank window
    val unfiltered = run(Long.MaxValue)  // no prefix filter at all
    assert(hotSlicePath == unfiltered)
    assert(windowPath == unfiltered)
    assert(unfiltered.nonEmpty) // the planted dups actually matched
  }

  test("jaccard candidates with Bayardo length+positional filters equal brute force") {
    // Varied doc lengths + shared vocabulary put real pressure on the
    // length filter (size-skewed pairs) and the positional filter
    // (late-prefix matches); brute-force all-pairs exact Jaccard is
    // the unarguable reference. All three index paths must agree with
    // it EXACTLY — an unsound filter (a dropped true pair) fails here.
    val r = new scala.util.Random(7)
    val corpus = (1L to 90L).map { id =>
      val len = 3 + r.nextInt(40)
      val words = Seq.fill(len)(s"w${r.nextInt(25)}").mkString(" ")
      val text =
        if (id % 9 == 0) "alpha beta gamma delta epsilon zeta eta theta"
        else if (id % 9 == 1) "alpha beta gamma delta epsilon zeta eta iota"
        else words
      (id, text)
    }.toDF("doc_id", "text")
    def run(floor: Long, hotCap: Int = 512) =
      Dedup.ngramJaccardPairs(corpus, "doc_id", "text", n = 3,
          threshold = 0.7, prefixFilterFloor = floor, hotBroadcastCap = hotCap)
        .select($"i", $"j").as[(Long, Long)].collect().toSet
    val sets = corpus.select($"doc_id",
        Dedup.hashedShingleSet($"text", 3).as("s"))
      .as[(Long, Array[Int])].collect()
    val brute = (for {
      (i, a) <- sets; (j, b) <- sets if i < j
      inter = a.toSet.intersect(b.toSet).size.toDouble
      union = a.toSet.union(b.toSet).size.toDouble
      if union > 0 && inter / union >= 0.7
    } yield (i, j)).toSet
    assert(run(0L) == brute)                 // hot-slice prefix path
    assert(run(0L, hotCap = 0) == brute)     // df-rank window path
    assert(run(Long.MaxValue) == brute)      // unfiltered-index path
    assert(brute.nonEmpty)
  }

  test("containment: excerpt-in-document pairs found at every index path, " +
      "equal to brute force, invisible to symmetric jaccard") {
    // Size-skewed pairs are the whole point: a 6-token excerpt of a
    // 40-token doc has containment 1.0 but Jaccard ~0.15. Brute-force
    // all-pairs overlap coefficient is the reference; all three index
    // paths (hot-slice prefix, df-rank fallback, natural-order small
    // corpus) must equal it EXACTLY — the asymmetric prefix bound is
    // unsound the moment a true pair is dropped here.
    val r = new scala.util.Random(11)
    val base = (1L to 60L).map { id =>
      val len = 8 + r.nextInt(35)
      val words = Seq.fill(len)(s"w${r.nextInt(25)}").mkString(" ")
      (id, words)
    }
    val excerpts = base.collect { case (id, text) if id % 5 == 0 =>
      (id + 1000L, text.split(" ").take(7).mkString(" "))
    }
    val corpus = (base ++ excerpts).toDF("doc_id", "text")
    def run(floor: Long, hotCap: Int = 512) =
      Dedup.containmentPairs(corpus, "doc_id", "text", n = 3,
          threshold = 0.9, prefixFilterFloor = floor, hotBroadcastCap = hotCap)
        .select($"i", $"j").as[(Long, Long)].collect().toSet
    val sets = corpus.select($"doc_id",
        Dedup.hashedShingleSet($"text", 3).as("s"))
      .as[(Long, Array[Int])].collect()
    val brute = (for {
      (i, a) <- sets; (j, b) <- sets if i < j
      inter = a.toSet.intersect(b.toSet).size.toDouble
      m = math.min(a.length, b.length).toDouble
      if m > 0 && inter / m >= 0.9
    } yield (i, j)).toSet
    assert(run(0L) == brute)                 // hot-slice prefix path
    assert(run(0L, hotCap = 0) == brute)     // df-rank window path
    assert(run(Long.MaxValue) == brute)      // natural-order full index
    // every planted excerpt pairs with its source…
    excerpts.foreach { case (eid, _) => assert(brute.contains((eid - 1000L, eid))) }
    // …and symmetric jaccard at the same confidence sees none of them
    val jac = Dedup.ngramJaccardPairs(corpus, "doc_id", "text", n = 3,
        threshold = 0.9, prefixFilterFloor = Long.MaxValue)
      .select($"i", $"j").as[(Long, Long)].collect().toSet
    excerpts.foreach { case (eid, _) => assert(!jac.contains((eid - 1000L, eid))) }
  }

  test("simhash: near dups at small hamming distance, unrelated far") {
    val fp = docs.select($"doc_id", Dedup.simhash16($"text").as("f"))
      .as[(Long, Long)].collect().toMap
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(fp(1L) == fp(4L)) // identical text → identical fingerprint
    assert(hamming(fp(1L), fp(2L)) <= 4)
    assert(hamming(fp(1L), fp(3L)) >= hamming(fp(1L), fp(2L)))
  }

  test("VectorDotProduct expression is bit-identical to the built-in fold") {
    val e = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val pairs = e.select($"vec_id".as("i"), $"embedding".as("a"))
      .crossJoin(e.select($"vec_id".as("j"), $"embedding".as("b")))
      .where($"i" < 20 && $"j" < 20)
    val diff = pairs.select(
      V.dot($"a", $"b").as("fused"),
      References.dotBuiltins($"a", $"b").as("builtin"))
      .where(!($"fused" <=> $"builtin")).count()
    assert(diff == 0, "fused expression must produce identical doubles")
    // null/length-mismatch semantics also mirror zip_with
    val edge = Seq(
      (Array(1.0f, 2.0f), Array(1.0f, 2.0f, 3.0f)),
      (Array(1.0f), null.asInstanceOf[Array[Float]])
    ).toDF("a", "b")
    val out = edge.select(V.dot($"a", $"b").as("d")).collect()
    assert(out.forall(_.isNullAt(0)))
  }

  test("Md5Prefix60 kernel equals the conv(substring(md5)) composition") {
    import graft.functions.{HashFunctions => H}
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    val diff = docs.select(
      H.md5Long($"text").as("fused"),
      References.md5LongBuiltins($"text").as("builtin"))
      .where(!($"fused" <=> $"builtin")).count()
    assert(diff == 0)
    val edge = Seq("", "a", "é中文").toDF("s")
      .select(H.md5Long($"s").as("f"), References.md5LongBuiltins($"s").as("b"))
      .where(!($"f" <=> $"b")).count()
    assert(edge == 0, "empty/multibyte strings must hash identically")
  }

  test("canonicalize: min id labels whole component, chains collapse, " +
    "union-find and distributed paths agree") {
    // components: {1,4,9} via chain 1-4, 4-9; {20,30}; singleton edges absent
    val pairs = Seq((1L, 4L), (4L, 9L), (20L, 30L)).toDF("i", "j")
    val expected = Map(4L -> 1L, 9L -> 1L, 30L -> 20L)
    val unionFind = Dedup.canonicalize(pairs).as[(Long, Long)].collect().toMap
    assert(unionFind == expected)
    val distributed = Dedup.canonicalize(pairs, driverGraphLimit = 0)
      .as[(Long, Long)].collect().toMap
    assert(distributed == expected)
  }

  test("survivors: highest score wins the cluster, min id breaks ties, " +
    "unclustered docs absent") {
    val pairs = Seq((1L, 4L), (4L, 9L), (20L, 30L)).toDF("i", "j")
    val docs = Seq(
      (1L, 10L),  // cluster {1,4,9}: 4 has the best score
      (4L, 99L),
      (9L, 50L),
      (20L, 7L),  // cluster {20,30}: tied — min id 20 survives
      (30L, 7L),
      (77L, 1000L)) // unclustered: must not appear
      .toDF("doc_id", "quality")
    val out = Dedup.survivors(pairs, docs, "doc_id", $"quality")
      .as[(Long, Long, Long, Boolean)].collect().sortBy(_._1)
    assert(out.map(_._1).toSeq == Seq(1L, 4L, 9L, 20L, 30L))
    // cluster ids are the min-id canonicals; survivor is max-quality
    assert(out.toSeq.map(r => (r._1, r._2, r._3, r._4)) == Seq(
      (1L, 1L, 4L, false), (4L, 1L, 4L, true), (9L, 1L, 4L, false),
      (20L, 20L, 20L, true), (30L, 20L, 20L, false)))
    // the distributed-closure path selects identically
    val dist = Dedup.survivors(pairs, docs, "doc_id", $"quality",
      driverGraphLimit = 0)
    assert(dist.as[(Long, Long, Long, Boolean)].collect().sortBy(_._1).toSeq
      == out.toSeq)
    // a clustered doc missing from docs fails loudly (an inner join
    // would silently drop it and could shift the survivor choice)
    val orphaned = pairs.unionByName(Seq((500L, 501L)).toDF("i", "j"))
    val ex = intercept[Exception] {
      Dedup.survivors(orphaned, docs, "doc_id", $"quality").collect()
    }
    assert(ex.getMessage.contains("absent from docs") ||
      Option(ex.getCause).exists(_.getMessage.contains("absent from docs")))
  }

  test("cosine identities: self = 1, orthogonal = 0") {
    val df = Seq(
      (1L, Array(1.0f, 0.0f), Array(1.0f, 0.0f)),
      (2L, Array(1.0f, 0.0f), Array(0.0f, 3.0f))
    ).toDF("id", "a", "b")
    val out = df.select($"id", References.cosine($"a", $"b").as("c")).as[(Long, Double)]
      .collect().toMap
    assert(math.abs(out(1L) - 1.0) < 1e-12)
    assert(math.abs(out(2L)) < 1e-12)
  }

  test("bruteTopK ranks by cosine with deterministic tie-break") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)),   // query
      (1L, Array(2.0f, 0.0f)),   // cos 1 (tie with 2)
      (2L, Array(5.0f, 0.0f)),   // cos 1 (tie with 1)
      (3L, Array(1.0f, 1.0f)),   // cos ~0.707
      (4L, Array(-1.0f, 0.0f))   // cos -1
    ).toDF("vec_id", "embedding")
    val out = Similarity.bruteTopK(vecs.where($"vec_id" === 0), vecs,
        "vec_id", "embedding", 3)
      .select($"neighbor_id").as[Long].collect()
    assert(out.toSeq == Seq(1L, 2L, 3L)) // ties broken by id, -1 excluded by k
  }

  test("bucketedTopK returns a subset of brute results (same bucket ⇒ same score)") {
    val e = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = e.where($"vec_id" < 3)
    val brute = Similarity.bruteTopK(q, e, "vec_id", "embedding", 50)
      .select($"query_id", $"neighbor_id", $"score")
      .as[(Long, Long, Double)].collect().toMap_2
    val lsh = Similarity.bucketedTopK(q, e, "vec_id", "embedding", 10, 4, 64)
      .as[(Long, Long, Double)].collect()
    assert(lsh.nonEmpty)
    lsh.foreach { case (qid, nid, s) =>
      brute.get((qid, nid)).foreach(bs => assert(math.abs(bs - s) < 1e-12))
    }
  }

  private implicit class MapHelper(rows: Array[(Long, Long, Double)]) {
    def toMap_2: Map[(Long, Long), Double] =
      rows.map { case (a, b, s) => (a, b) -> s }.toMap
  }

  test("pqTopK: exemplars self-code, exemplar candidates score bit-equal to " +
      "brute, members rank their own cluster's exemplar first") {
    // 4 exemplars (lowest ids) with pairwise-distinct subspace slices,
    // then 12 members = exemplar + tiny jitter (stays nearest to its
    // own sub-centroid in every subspace)
    val ex = Seq(
      Seq(1f, 0f, 1f, 0f, 1f, 0f, 1f, 0f),
      Seq(0f, 1f, 0f, 1f, 0f, 1f, 0f, 1f),
      Seq(1f, 1f, 1f, 1f, 1f, 1f, 1f, 1f),
      Seq(1f, -1f, 1f, -1f, 1f, -1f, 1f, -1f))
    val rows = ex.zipWithIndex.map { case (v, i) => (i.toLong, v) } ++
      (0 until 12).map { i =>
        val base = ex(i % 4)
        (10L + i, base.updated(i % 8, base(i % 8) + 0.05f))
      }
    val df = rows.toDF("vec_id", "embedding")
    val books = Similarity.pqCodebooks(df, "vec_id", "embedding", m = 4, ksub = 4)
    // every exemplar's slice is its own sub-centroid: codes = (k,k,k,k)
    val selfCodes = Similarity.pqEncode(df.where($"vec_id" < 4), "vec_id",
        "embedding", books)
      .select($"neighbor_id", $"codes").as[(Long, Seq[Int])].collect().toMap
    (0 until 4).foreach { k =>
      assert(selfCodes(k.toLong) == Seq.fill(4)(k), s"exemplar $k self-code")
    }
    // candidates that ARE exemplars reconstruct exactly, so PQ scores
    // are bit-identical to brute cosine — fold orders match
    val members = df.where($"vec_id" >= 10)
    val exDf = df.where($"vec_id" < 4)
    def scoreMap(out: org.apache.spark.sql.DataFrame) =
      out.select($"query_id", $"neighbor_id", $"score")
        .as[(Long, Long, Double)].collect()
        .map { case (q, n, s) => (q, n) -> s }.toMap
    val pq = scoreMap(Similarity.pqTopK(members, exDf, "vec_id", "embedding",
      k = 4, m = 4, ksub = 4))
    val brute = scoreMap(Similarity.bruteTopK(members, exDf, "vec_id",
      "embedding", k = 4))
    assert(pq == brute, "exemplar candidates must score exactly as brute")
    // cluster recall: each member's top neighbor is its own exemplar
    val top1 = Similarity.pqTopK(members, exDf, "vec_id", "embedding",
        k = 1, m = 4, ksub = 4)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect()
    top1.foreach { case (q, n) => assert(n == (q - 10) % 4, s"member $q → $n") }
  }

  test("ivfTopK: nprobe = nlist probes every cell and equals brute exactly") {
    val e = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = e.where($"vec_id" < 3)
    // every candidate lives in exactly one cell and all cells are
    // probed, so the candidate set is complete → identical to brute
    val brute = Similarity.bruteTopK(q, e, "vec_id", "embedding", 5)
      .as[(Long, Long, Double)].collect().sorted.toSeq
    val ivf = Similarity.ivfTopK(q, e, "vec_id", "embedding",
        k = 5, nlist = 4, nprobe = 4)
      .as[(Long, Long, Double)].collect().sorted.toSeq
    assert(ivf == brute)
  }

  test("ivfTopK: nprobe < nlist returns a score-exact subset of brute") {
    val e = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = e.where($"vec_id" < 3)
    val brute = Similarity.bruteTopK(q, e, "vec_id", "embedding", 100)
      .as[(Long, Long, Double)].collect().toMap_2
    val ivf = Similarity.ivfTopK(q, e, "vec_id", "embedding",
        k = 5, nlist = 8, nprobe = 2)
      .as[(Long, Long, Double)].collect()
    assert(ivf.nonEmpty)
    ivf.foreach { case (qid, nid, s) =>
      assert(brute.contains((qid, nid)) || s <= brute.values.min + 1e-12,
        s"pair ($qid,$nid) unknown to brute top-100 with non-trivial score")
      brute.get((qid, nid)).foreach(bs => assert(math.abs(bs - s) < 1e-12))
    }
    intercept[IllegalArgumentException] {
      Similarity.ivfTopK(q, e, "vec_id", "embedding", 5, 8, 9)
    }
  }

  test("splitAssign: deterministic, replay-stable, roughly proportioned") {
    val ids = (1L to 1000L).toDF("id")
    val out = ids.select($"id", Sampling.splitAssign($"id").as("split"),
        Sampling.deterministicKeep($"id", 250).as("keep"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getBoolean(2)))
    val again = ids.select($"id", Sampling.splitAssign($"id").as("split"),
        Sampling.deterministicKeep($"id", 250).as("keep"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getBoolean(2)))
    assert(out.toSeq == again.toSeq, "same key ⇒ same split, every run")
    val counts = out.groupBy(_._2).view.mapValues(_.length).toMap
    assert(counts("train") > 700 && counts("train") < 900)
    assert(counts("val") > 50 && counts("val") < 150)
    assert(counts("test") > 50 && counts("test") < 150)
    val kept = out.count(_._3)
    assert(kept > 180 && kept < 320, s"~25% expected, got $kept/1000")
    intercept[IllegalArgumentException] {
      Sampling.splitAssign($"id", trainPct = 95, valPct = 10)
    }
  }

  test("stratifiedKeep: per-stratum proportions, deterministic, default keeps all") {
    val df = (1L to 4000L).map(i => (i, if (i % 2 == 0) "en" else "de"))
      .toDF("id", "lang")
    val kept = df.where(Sampling.stratifiedKeep($"lang", $"id", Map("en" -> 250)))
      .groupBy("lang").count().as[(String, Long)].collect().toMap
    assert(kept("de") == 2000L, "unlisted stratum keeps everything")
    assert(math.abs(kept("en") - 500L) < 150, s"en ~25% of 2000, got ${kept("en")}")
    // replay-identical: same predicate twice selects the same rows
    val a = df.where(Sampling.stratifiedKeep($"lang", $"id", Map("en" -> 250)))
      .select("id").as[Long].collect().toSet
    val b = df.orderBy(desc("id"))
      .where(Sampling.stratifiedKeep($"lang", $"id", Map("en" -> 250)))
      .select("id").as[Long].collect().toSet
    assert(a == b)
    intercept[IllegalArgumentException] {
      Sampling.stratifiedKeep($"lang", $"id", Map("en" -> 1001))
    }
  }

  test("scoreKeep: keep rate tracks the per-mille score, clamped, deterministic") {
    val df = (1L to 4000L).map(i => (i, (i % 4) * 250L)) // scores 0/250/500/750
      .toDF("id", "pm")
    val kept = df.where(Sampling.scoreKeep($"pm", $"id"))
      .groupBy("pm").count().as[(Long, Long)].collect().toMap
    assert(!kept.contains(0L), "score 0 keeps nothing")
    assert(math.abs(kept(250L) - 250L) < 100, s"~25% of 1000: ${kept(250L)}")
    assert(math.abs(kept(750L) - 750L) < 100, s"~75% of 1000: ${kept(750L)}")
    // clamp: over-1000 scores keep everything, negatives nothing
    assert(df.where(Sampling.scoreKeep(lit(5000), $"id")).count() == 4000L)
    assert(df.where(Sampling.scoreKeep(lit(-5), $"id")).count() == 0L)
    // monotone: the kept set of a higher score is a superset
    val lo = df.where(Sampling.scoreKeep(lit(200), $"id"))
      .select("id").as[Long].collect().toSet
    val hi = df.where(Sampling.scoreKeep(lit(700), $"id"))
      .select("id").as[Long].collect().toSet
    assert(lo.subsetOf(hi))
  }

  test("capPerStratum: best-first top-n per stratum, small strata whole, " +
      "deterministic tiebreak") {
    val df = Seq(
      // "big" stratum: 5 rows, quality = id*10, cap 3 keeps 50/40/30
      (1L, "big", 10L), (2L, "big", 20L), (3L, "big", 30L),
      (4L, "big", 40L), (5L, "big", 50L),
      // tie stratum: equal quality — min id wins each rank
      (6L, "tie", 7L), (7L, "tie", 7L), (8L, "tie", 7L), (9L, "tie", 7L),
      // small stratum: under the cap, kept whole
      (10L, "small", 1L), (11L, "small", 2L)
    ).toDF("id", "src", "q")
    val out = Sampling.capPerStratum(df, $"src", $"q", $"id", 3)
      .select($"id", $"src", $"cap_rank").as[(Long, String, Int)]
      .collect().sortBy(r => (r._2, r._3))
    assert(out.filter(_._2 == "big").map(_._1).toSeq == Seq(5L, 4L, 3L))
    assert(out.filter(_._2 == "tie").map(_._1).toSeq == Seq(6L, 7L, 8L))
    assert(out.filter(_._2 == "small").map(_._1).toSeq == Seq(11L, 10L))
    assert(out.forall(_._3 <= 3))
    intercept[IllegalArgumentException] {
      Sampling.capPerStratum(df, $"src", $"q", $"id", 0)
    }
  }

  test("mixCopies: whole multiples exact, fractional part hash-proportioned, " +
    "zero drops, deterministic") {
    val df = (1L to 3000L).map(i => (i, i % 3 match {
      case 0 => "up"; case 1 => "down"; case _ => "drop"
    })).toDF("id", "src")
    val copies = df.select($"id", $"src",
      Sampling.mixCopies($"src", $"id",
        Map("up" -> 2500, "down" -> 300, "drop" -> 0)).as("c"))
      .as[(Long, String, Long)].collect()
    val bySrc = copies.groupBy(_._2)
    // up: every row gets >= 2 copies; ~half get 3 (frac 0.5 of 1000 rows)
    assert(bySrc("up").forall(_._3 >= 2L))
    val threes = bySrc("up").count(_._3 == 3L)
    assert(threes > 350 && threes < 650, s"~500 expected, got $threes")
    // down: 0 or 1 copies, ~30% ones
    assert(bySrc("down").forall(r => r._3 == 0L || r._3 == 1L))
    val ones = bySrc("down").count(_._3 == 1L)
    assert(ones > 200 && ones < 400, s"~300 expected, got $ones")
    // drop: always zero
    assert(bySrc("drop").forall(_._3 == 0L))
    // unlisted stratum passes through exactly once
    val other = df.select(Sampling.mixCopies($"src", $"id", Map.empty).as("c"))
      .as[Long].collect()
    assert(other.forall(_ == 1L))
    // replay-identical regardless of input order
    val a = copies.sortBy(_._1).toSeq
    val b = df.orderBy(desc("id")).select($"id", $"src",
      Sampling.mixCopies($"src", $"id",
        Map("up" -> 2500, "down" -> 300, "drop" -> 0)).as("c"))
      .as[(Long, String, Long)].collect().sortBy(_._1).toSeq
    assert(a == b)
    intercept[IllegalArgumentException] {
      Sampling.mixCopies($"src", $"id", Map("up" -> -1))
    }
  }

  test("dsirWeights: exact masses on a hand corpus, empty docs NULL, " +
    "no-target corpus all-NULL, replay-stable") {
    val docs = Seq(
      (1L, "a b", true),  // target slice
      (2L, "a b", false), // same text, raw-only: identical weight row
      (3L, "x y", false), // fully off-target
      (4L, "", false)     // no tokens -> no features
    ).toDF("id", "text", "is_en")
    val out = Sampling.dsirWeights(docs, "id", "text", $"is_en", buckets = 4096)
      .orderBy("id")
      .as[(Long, Long, Long, Long, Option[Double])].collect().toSeq
    // per "a b" doc: features {a, b, a+SEP+b} = 3; nt = 3, nr = 9.
    // doc1/doc2: tgt_mass = 3 (each feature once in target), raw_mass = 6
    //   -> weight = (3*9)/(6*3) = 1.5; doc3: tgt_mass 0 -> weight 0.
    assert(out == Seq(
      (1L, 3L, 3L, 6L, Some(1.5)),
      (2L, 3L, 3L, 6L, Some(1.5)),
      (3L, 3L, 0L, 3L, Some(0.0)),
      (4L, 0L, 0L, 0L, None)))
    // target slice empty -> nt = 0 -> every weight NULL (never div-by-0)
    val noTgt = Sampling.dsirWeights(docs, "id", "text", lit(false), 4096)
      .select("dsir_weight").as[Option[Double]].collect()
    assert(noTgt.forall(_.isEmpty))
    // bucket collisions (buckets=1: every feature in one bucket) stay
    // well-defined: each doc's weight is nr*nt_mass/(raw_mass*nt) with
    // all mass in bucket 0 -> tgt_mass = 3*n_feats, raw_mass = 9*n_feats
    val coll = Sampling.dsirWeights(docs, "id", "text", $"is_en", 1)
      .orderBy("id")
      .as[(Long, Long, Long, Long, Option[Double])].collect().toSeq
    assert(coll == Seq(
      (1L, 3L, 9L, 27L, Some(1.0)),
      (2L, 3L, 9L, 27L, Some(1.0)),
      (3L, 3L, 9L, 27L, Some(1.0)),
      (4L, 0L, 0L, 0L, None)))
    // replay-identical regardless of input order
    val rev = Sampling.dsirWeights(docs.orderBy(desc("id")), "id", "text",
        $"is_en", buckets = 4096)
      .orderBy("id")
      .as[(Long, Long, Long, Long, Option[Double])].collect().toSeq
    assert(rev == out)
    intercept[IllegalArgumentException] {
      Sampling.dsirWeights(docs, "id", "text", $"is_en", 0)
    }

    // incremental model: disjoint-batch merge == full fit, and weighting
    // through the merged model == the self-fitted form
    val parts = Seq(0L, 1L).map(r => Sampling.dsirModel(
      docs.where($"id" % 2 === r), "id", "text", $"is_en", 4096))
    val merged = Sampling.mergeDsirModel(parts)
    val fullModel = Sampling.dsirModel(docs, "id", "text", $"is_en", 4096)
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(merged.as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
      == fullModel)
    val viaModel = Sampling.dsirWeightsWith(docs, "id", "text", merged, 4096)
      .orderBy("id")
      .as[(Long, Long, Long, Long, Option[Double])].collect().toSeq
    assert(viaModel == out)
    // a NEW day weighted against the maintained model without refitting:
    // "a b" is fully in-model (weight 1.5, as doc 1); unseen text has
    // zero raw mass -> NULL weight (never seen, no evidence either way)
    val day = Seq((9L, "a b"), (10L, "zz qq")).toDF("id", "text")
    val dayW = Sampling.dsirWeightsWith(day, "id", "text", merged, 4096)
      .orderBy("id")
      .as[(Long, Long, Long, Long, Option[Double])].collect().toSeq
    assert(dayW == Seq(
      (9L, 3L, 3L, 6L, Some(1.5)),
      (10L, 3L, 0L, 0L, None)))
  }

  test("tokenBudgetSelect: matches the brute-force global prefix on seeded " +
    "random corpora") {
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 3) {
      val docs = (1L to 300L).map(i =>
        (i, rnd.nextInt(5).toLong, rnd.nextInt(30).toLong))
      val df = docs.toDF("id", "q", "nt")
      val buckets = 16
      val budget = docs.map(_._3).sum / 3
      // reference: same (q DESC, hash, id) order, running sum in Scala
      val h = df.select($"id",
          Sampling.hashBucket($"id".cast("string"), buckets).as("h"))
        .as[(Long, Long)].collect().toMap
      val ordered = docs.sortBy { case (id, q, _) => (-q, h(id), id) }
      val cums = ordered.scanLeft(0L)(_ + _._3).tail
      val expect = ordered.zip(cums).filter(_._2 <= budget)
        .map { case ((id, q, nt), c) => (id, q, nt, c) }.sortBy(_._1)
      val got = Sampling.tokenBudgetSelect(df, "id", $"q", $"nt", budget, buckets)
        .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
      assert(got == expect, s"trial $trial: budget=$budget")
    }
  }

  test("dropDuplicateLines: matches a brute-force reference on seeded " +
    "random corpora") {
    val rnd = new scala.util.Random(7)
    val vocab = (1 to 40).map(i => s"line $i content")
    for (trial <- 1 to 3) {
      val docs = (1L to 120L).map { i =>
        val k = 1 + rnd.nextInt(6)
        (i, (1 to k).map(_ => vocab(rnd.nextInt(vocab.size))).mkString("\n"))
      }
      val maxDf = 8
      val lineDf = docs
        .flatMap { case (id, t) =>
          t.split("\n", -1).map(_.trim).filter(_.nonEmpty).distinct.map(_ -> id)
        }
        .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).distinct.size }
      val expect = docs.map { case (id, t) =>
        val lines = t.split("\n", -1)
        val kept = lines.filter(l =>
          l.trim.isEmpty || lineDf.getOrElse(l.trim, 0) <= maxDf)
        (id, lines.length.toLong, kept.length.toLong, kept.mkString("\n"))
      }.sortBy(_._1)
      val got = graft.operators.CorpusStats
        .dropDuplicateLines(docs.toDF("id", "text"), "id", "text", maxDf)
        .orderBy("id").as[(Long, Long, Long, String)].collect().toSeq
      assert(got == expect, s"trial $trial")
    }
  }

  test("dsirWeights: matches a brute-force reference on seeded random corpora") {
    import graft.expressions.Md5Prefix60
    val rnd = new scala.util.Random(11)
    val vocab = (1 to 25).map(i => s"w$i")
    val buckets = 64
    def bruteFeats(text: String): Seq[Long] = {
      val toks = text.trim match {
        case "" => Nil
        case t => t.split("\\s+").toSeq
      }
      val uni = toks.map(t => Md5Prefix60.compute(t.getBytes("UTF-8")) % buckets)
      val bg =
        if (toks.size < 2) Nil
        else toks.sliding(2).map(p =>
          Md5Prefix60.compute((p(0) + "\u0001" + p(1)).getBytes("UTF-8"))
            % buckets).toSeq
      uni ++ bg
    }
    for (trial <- 1 to 3) {
      val docs = (1L to 100L).map { i =>
        val k = rnd.nextInt(10) // 0 tokens possible
        (i, (1 to k).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" "),
          rnd.nextBoolean())
      }
      val fs = docs.map { case (id, t, tgt) => (id, bruteFeats(t), tgt) }
      val tgtCt = fs.filter(_._3).flatMap(_._2)
        .groupBy(identity).map { case (b, v) => b -> v.size.toLong }
      val rawCt = fs.flatMap(_._2)
        .groupBy(identity).map { case (b, v) => b -> v.size.toLong }
      val nt = fs.filter(_._3).map(_._2.size.toLong).sum
      val nr = fs.map(_._2.size.toLong).sum
      val expect = fs.map { case (id, f, _) =>
        val tm = f.map(b => tgtCt.getOrElse(b, 0L)).sum
        val rm = f.map(b => rawCt(b)).sum
        val w =
          if (rm == 0 || nt == 0) None
          else Some(BigDecimal(tm.toDouble * nr.toDouble / (rm.toDouble * nt.toDouble))
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
        (id, f.size.toLong, tm, rm, w)
      }.sortBy(_._1)
      val got = Sampling.dsirWeights(
          docs.toDF("id", "text", "tgt"), "id", "text", $"tgt", buckets)
        .orderBy("id")
        .as[(Long, Long, Long, Long, Option[Double])].collect().toSeq
      assert(got == expect, s"trial $trial")
    }
  }

  test("entity resolution end-to-end: editDistancePairs -> survivors picks " +
    "one canonical record per variant cluster") {
    // three spellings of one entity, two of another, one singleton
    val recs = Seq(
      (1L, "acme corporation", 10L),
      (2L, "acme corporatio", 5L), // deletion
      (3L, "acme c0rporation", 7L), // substitution
      (4L, "zenith industries", 9L),
      (5L, "zenith industriez", 3L), // substitution
      (6L, "unrelated company", 1L)
    ).toDF("id", "nm", "freshness")
    val pairs = Dedup.editDistancePairs(recs, "id", "nm", 2)
      .select($"i", $"j")
    val out = Dedup.survivors(pairs, recs, "id", $"freshness")
      .orderBy("id")
      .as[(Long, Long, Long, Boolean)].collect().toSeq
    // cluster {1,2,3} canonical 1 survives (max freshness); {4,5} -> 4;
    // 6 never pairs so never appears (unclustered docs all survive)
    assert(out == Seq(
      (1L, 1L, 1L, true), (2L, 1L, 1L, false), (3L, 1L, 1L, false),
      (4L, 4L, 4L, true), (5L, 4L, 4L, false)))
  }

  test("bm25Scores: exact ratio-IDF scores on a hand corpus, no-hit and " +
    "empty docs excluded, rare term outweighs common") {
    val docs = Seq(
      (1L, "spark spark query"),
      (2L, "spark alpha beta"),
      (3L, "gamma delta"), // no hits
      (4L, "") // no tokens
    ).toDF("id", "text")
    val out = graft.operators.CorpusStats
      .bm25Scores(docs, "id", "text", Seq("spark", "query"))
      .orderBy("id").as[(Long, Long, Long, Double)].collect().toSeq
    // N=4, sdl=8, avgdl=2.0; df(spark)=2, df(query)=1 — same IEEE ops
    val avgdl = 8.0 / 4.0
    def term(tf: Double, df: Double, dl: Double): Double =
      ((4.0 - df + 0.5) / (df + 0.5)) *
        (tf * (1.2 + 1.0) / (tf + 1.2 * ((1.0 - 0.75) + 0.75 * (dl / avgdl))))
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out == Seq(
      (1L, 3L, 2L, r6(term(2, 2, 3) + term(1, 1, 3))),
      (2L, 3L, 1L, r6(term(1, 2, 3) + term(0, 1, 3)))))
    // the rare term (df=1) contributes more per occurrence than the
    // common one (df=2) at equal tf and dl — the IDF's whole point
    assert(term(1, 1, 3) > term(1, 2, 3))
    intercept[IllegalArgumentException] {
      graft.operators.CorpusStats.bm25Scores(docs, "id", "text",
        Seq("a", "a"))
    }
    intercept[IllegalArgumentException] {
      graft.operators.CorpusStats.bm25Scores(docs, "id", "text",
        (1 to 17).map(i => s"t$i"))
    }
  }

  test("editDistancePairs: exact and COMPLETE vs all-pairs DP reference at " +
    "k=1..3, domain exclusions honored") {
    def lev(a: String, b: String): Int = {
      val dp = Array.tabulate(b.length + 1)(identity)
      for (i <- 1 to a.length) {
        var prev = dp(0); dp(0) = i
        for (j <- 1 to b.length) {
          val t = dp(j)
          dp(j) = math.min(math.min(dp(j) + 1, dp(j - 1) + 1),
            prev + (if (a(i - 1) == b(j - 1)) 0 else 1))
          prev = t
        }
      }
      dp(b.length)
    }
    for (kk <- 1 to 3) {
      val rnd = new scala.util.Random(100 + kk)
      // tiny alphabet + short strings = dense near-pair space, the
      // hardest completeness regime for the segment blocking
      val strs = (1L to 200L).map(i => (i,
        (1 to (3 + rnd.nextInt(10)))
          .map(_ => ('a' + rnd.nextInt(3)).toChar).mkString))
      val expect = (for {
        (i, a) <- strs; (j, b) <- strs
        if i < j && a.length >= kk + 1 && b.length >= kk + 1
        d = lev(a, b) if d <= kk
      } yield (i, j, d.toLong)).sortBy(t => (t._1, t._2))
      val got = Dedup.editDistancePairs(strs.toDF("id", "nm"), "id", "nm", kk)
        .orderBy("i", "j").as[(Long, Long, Long)].collect().toSeq
      assert(got.size == expect.size && got == expect,
        s"k=$kk: got ${got.size}, expected ${expect.size}")
    }
    // maxLen excludes long strings; short strings (< k+1) excluded
    val lim = Dedup.editDistancePairs(
      Seq((1L, "abcdef"), (2L, "abcdefg"), (3L, "ab"), (4L, "ab"))
        .toDF("id", "nm"), "id", "nm", 2, maxLen = 6)
      .as[(Long, Long, Long)].collect()
    assert(lim.isEmpty,
      "len-7 string over maxLen and len-2 strings under k+1 must drop")
    intercept[IllegalArgumentException] {
      Dedup.editDistancePairs(Seq((1L, "ab")).toDF("id", "nm"), "id", "nm", 4)
    }
  }

  test("temperatureMixTable: exact sqrt-flattened shares on a hand corpus, " +
    "rare upsampled, dominant downsampled, composes with mixCopies") {
    val docs = ((1L to 100L).map(i => (i, "A")) ++
      (101L to 500L).map(i => (i, "B")) ++
      Seq((501L, "C"))).toDF("id", "src")
    val out = Sampling.temperatureMixTable(docs, $"src")
      .orderBy("source")
      .as[(String, Long, Long, Long, Long, Long)].collect().toSeq
    // n: A 100, B 400, C 1 -> s: 10, 20, 1; N = 501, S = 31
    assert(out == Seq(
      ("A", 100L, 10L, 199L, 322L, 1616L),
      ("B", 400L, 20L, 798L, 645L, 808L),
      ("C", 1L, 1L, 1L, 32L, 16161L)))
    // flattening: dominant source's share shrinks, rare one's grows
    assert(out.find(_._1 == "B").get._5 < out.find(_._1 == "B").get._4)
    assert(out.find(_._1 == "C").get._5 > out.find(_._1 == "C").get._4)
    // composes with mixCopies: the realized corpus tracks target shares
    val rates = out.map(r => r._1 -> r._6.toInt).toMap
    val realized = docs
      .withColumn("c", Sampling.mixCopies($"src", $"id", rates))
      .groupBy("src").agg(sum("c").as("n")).as[(String, Long)]
      .collect().toMap
    assert(realized("A") > 150 && realized("A") < 180, s"~161: $realized")
    assert(realized("B") > 300 && realized("B") < 350, s"~323: $realized")
    assert(realized("C") == 16L || realized("C") == 17L,
      s"16 + hash-proportioned 0.161 fraction: $realized")
  }

  test("tokenBudgetSelect: exact prefix on a hand corpus, overflow stops the " +
    "tail, zero-token docs ride free, strata fill best-first") {
    // buckets = 1 collapses the order to (q DESC, id ASC): hand-checkable
    val docs = Seq(
      (0L, 950L, 0L), // zero tokens, best stratum: cum 0
      (1L, 900L, 5L), // cum 5
      (2L, 900L, 0L), // cum 5 (rides free)
      (3L, 800L, 10L), // cum 15
      (4L, 800L, 100L), // cum 115: overflows budget 20
      (5L, 700L, 1L) // cum 116: monotone -> stays excluded
    ).toDF("id", "q", "nt")
    def run(budget: Long) =
      Sampling.tokenBudgetSelect(docs, "id", $"q", $"nt", budget, buckets = 1)
        .orderBy("id").as[(Long, Long, Long, Long)].collect().toSeq
    assert(run(20L) == Seq(
      (0L, 950L, 0L, 0L), (1L, 900L, 5L, 5L), (2L, 900L, 0L, 5L),
      (3L, 800L, 10L, 15L)))
    assert(run(0L) == Seq((0L, 950L, 0L, 0L)),
      "zero budget still admits leading zero-token docs")
    assert(run(1000L).size == 6 && run(1000L).last._4 == 116L,
      "budget past the total selects everything, cum = corpus tokens")
    // multi-bucket path: 150 docs q=2 + 150 docs q=1, one token each,
    // budget 100 -> exactly 100 docs, all from the better stratum
    val uni = ((1L to 150L).map(i => (i, 2L, 1L)) ++
      (151L to 300L).map(i => (i, 1L, 1L))).toDF("id", "q", "nt")
    val sel = Sampling.tokenBudgetSelect(uni, "id", $"q", $"nt", 100L, 64)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(sel.size == 100 && sel.forall(_._2 == 2L) && sel.map(_._4).max == 100L)
    // replay-identical regardless of input order
    val rev = Sampling.tokenBudgetSelect(uni.orderBy(desc("id")), "id",
        $"q", $"nt", 100L, 64)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(rev.sortBy(_._1) == sel.sortBy(_._1))
    intercept[IllegalArgumentException] {
      Sampling.tokenBudgetSelect(docs, "id", $"q", $"nt", -1L, 64)
    }
    intercept[IllegalArgumentException] {
      Sampling.tokenBudgetSelect(docs, "id", $"q", $"nt", 10L, 0)
    }
    // strata-cardinality guard: a fine-grained (per-doc) quality would
    // silently hand one executor a corpus-sized single-partition sort —
    // it must fail loudly instead
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    val fine = intercept[Exception] {
      Sampling.tokenBudgetSelect(uni, "id", $"id", $"nt", 100L, 64,
        maxStrata = 100).collect()
    }
    assert(msgs(fine).exists(_.contains("strata")),
      s"wanted the strata guard, got: $fine")
    // at the bound exactly (300 strata, maxStrata = 300) it still runs
    val atBound = Sampling.tokenBudgetSelect(uni, "id", $"id", $"nt",
      300L, 64, maxStrata = 300).count()
    assert(atBound == 300L)
  }

  test("sharedSpanPairs: verbatim passages pair, boilerplate df-cap " +
    "suppresses, counts are distinct spans") {
    val passage = "one two three four five six seven eight nine ten"
    val footer =
      "standard footer appended to every single document here always forever okay"
    val docs = Seq(
      (1L, s"$passage unique1 tail"),
      (2L, s"head unique2 $passage"),                 // shares the passage with 1
      (3L, "entirely different words about databases and query engines today"),
      (4L, s"irrelevant prefix $footer"),
      (5L, s"other leading text $footer"),
      (6L, s"more unrelated content $footer"))
      .toDF("doc_id", "text")
    // footer spans appear in 3 docs; maxDf=2 excludes them from pairing
    val out = Dedup.sharedSpanPairs(docs, "doc_id", "text",
        n = 10, maxDf = 2)
      .as[(Long, Long, Long)].collect().sortBy(r => (r._1, r._2))
    assert(out.map(r => (r._1, r._2)).toSeq == Seq((1L, 2L)),
      s"only the passage pair expected: ${out.toSeq}")
    assert(out.head._3 == 1L, "one distinct 10-token shared span")
    // raising the cap admits the boilerplate pairs
    val loose = Dedup.sharedSpanPairs(docs, "doc_id", "text",
        n = 10, maxDf = 10)
      .as[(Long, Long, Long)].collect().map(r => (r._1, r._2)).toSet
    assert(loose == Set((1L, 2L), (4L, 5L), (4L, 6L), (5L, 6L)))
  }

  test("meanTokenDf: common words score high, rare low, spam-repeats " +
    "don't inflate, empty docs survive") {
    val docs = Seq(
      (1L, "alpha beta"),          // both tokens in 3 docs → mean df 3
      (2L, "alpha beta gamma"),    // alpha/beta df 3, gamma df 1 → 7/3
      (3L, "alpha beta"),
      (4L, "unique unique unique unique"), // spam: distinct {unique}, df 1
      (5L, "")).toDF("doc_id", "text")
    val out = graft.operators.CorpusStats.meanTokenDf(docs, "doc_id", "text")
      .orderBy("doc_id")
      .as[(Long, Long, Option[Long], Option[Double])].collect()
    assert(out.map(_._1).toSeq == Seq(1L, 2L, 3L, 4L, 5L))
    assert(out(0) == ((1L, 2L, Some(6L), Some(3.0))))
    assert(out(1)._2 == 3L && math.abs(out(1)._4.get - 7.0 / 3) < 1e-6)
    assert(out(3) == ((4L, 1L, Some(1L), Some(1.0))),
      "in-doc repetition must not inflate df or the score")
    assert(out(4) == ((5L, 0L, None, None)), "empty doc: zero tokens, null score")

    // incremental token-df: disjoint-batch merge == full recompute, and
    // scoring through the merged table == the self-computed form
    val parts = Seq(0L, 1L).map(r => graft.operators.CorpusStats
      .tokenDf(docs.where($"doc_id" % 2 === r), "doc_id", "text"))
    val merged = graft.operators.CorpusStats.mergeTokenDf(parts)
    val full = graft.operators.CorpusStats.tokenDf(docs, "doc_id", "text")
      .as[(String, Long)].collect().sortBy(_._1).toSeq
    assert(merged.as[(String, Long)].collect().sortBy(_._1).toSeq == full)
    val viaStats = graft.operators.CorpusStats
      .meanTokenDfWith(docs, "doc_id", "text", merged)
      .orderBy("doc_id")
      .as[(Long, Long, Option[Long], Option[Double])].collect()
    assert(viaStats.toSeq == out.toSeq)
    // a NEW batch scored against the maintained table: never-seen tokens
    // carry df 0 (maximally rare), known tokens their corpus df
    val newDay = Seq((9L, "alpha newword")).toDF("doc_id", "text")
    val scored = graft.operators.CorpusStats
      .meanTokenDfWith(newDay, "doc_id", "text", merged)
      .as[(Long, Long, Option[Long], Option[Double])].collect().head
    assert(scored == ((9L, 2L, Some(3L), Some(1.5))),
      s"alpha df 3 + newword df 0 over 2 distinct: $scored")
  }

  test("dropDuplicateSubstrings: tokens covered by corpus-repeated " +
    "4-token windows are removed; uniques, short and empty docs survive") {
    val shared = "one two three four five"
    val docs = Seq(
      (1L, s"alpha $shared omega"), // positions 1..5 covered
      (2L, shared), // fully covered
      (3L, "unique tokens here entirely distinct"),
      (4L, "rep rep rep rep rep rep rep rep"), // IN-DOC repetition counts
      (5L, "tiny doc"), // < n tokens: cannot hold a span, untouched
      (6L, "")).toDF("doc_id", "text")
    val out = Dedup.dropDuplicateSubstrings(docs, "doc_id", "text", n = 4)
      .as[(Long, Long, Long, String)].collect().sortBy(_._1).toSeq
    assert(out == Seq(
      (1L, 7L, 5L, "alpha omega"),
      (2L, 5L, 5L, ""),
      (3L, 5L, 0L, "unique tokens here entirely distinct"),
      (4L, 8L, 8L, ""),
      (5L, 2L, 0L, "tiny doc"),
      (6L, 0L, 0L, "")))
  }

  test("dsirWeightsWith: a NULL tgt_n or raw_n adds nothing, a NULL bucket " +
    "fails naming the column") {
    val docs = Seq((1L, "alpha beta alpha"), (2L, "beta gamma")).toDF("id", "text")
    val model = Sampling.dsirModel(docs, "id", "text", $"id" === 1L, 64)
      .as[(Long, Long, Long)].collect().toSeq
      .map { case (b, t, r) => (Option(b), Option(t), Option(r)) }
    def weigh(rows: Seq[(Option[Long], Option[Long], Option[Long])]) =
      Sampling.dsirWeightsWith(docs, "id", "text",
          rows.toDF("bucket", "tgt_n", "raw_n"), 64)
        .orderBy("id").collect().toSeq
    // a bucket with mass on both sides, so zeroing either side moves a weight
    val (Some(b), t, r) = model.find(_._2.exists(_ > 0)).get: @unchecked
    val rest = model.filterNot(_._1.contains(b))
    assert(weigh(rest :+ ((Some(b), Some(0L), r))) != weigh(model))
    assert(weigh(rest :+ ((Some(b), None, r))) == weigh(rest :+ ((Some(b), Some(0L), r))))
    assert(weigh(rest :+ ((Some(b), t, None))) == weigh(rest :+ ((Some(b), t, Some(0L)))))
    val e = intercept[IllegalArgumentException](weigh(model :+ ((None, Some(1L), Some(1L)))))
    assert(e.getMessage.contains("dsirWeightsWith") &&
      e.getMessage.contains("column bucket"), e.getMessage)
  }

  test("countMinEstimateMapOnly: a NULL-count sketch row adds nothing, a " +
    "NULL d or bucket fails naming the column") {
    val docs = Seq((1L, "alpha beta alpha"), (2L, "beta gamma")).toDF("doc_id", "text")
    val probes = Seq("alpha", "beta", "gamma", "delta").toDF("token")
    val sketch = graft.operators.CorpusStats.countMinSketch(docs, "text", 3, 64)
      .select(col("d").cast("int"), col("bucket").cast("long"), col("n").cast("long"))
    def estimate(extra: (Option[Int], Option[Long], Option[Long])*) =
      graft.operators.CorpusStats.countMinEstimateMapOnly(probes, "token",
          sketch.unionByName(extra.toDF("d", "bucket", "n")), 3, 64)
        .as[(String, Long)].collect().toMap
    assert(estimate((Some(0), Some(5L), None), (Some(2), Some(63L), None)) == estimate())
    Seq("d" -> (None, Some(1L), Some(1L)), "bucket" -> (Some(0), None, Some(1L)))
      .foreach { case (column, row) =>
        val e = intercept[IllegalArgumentException](estimate(row))
        assert(e.getMessage.contains("countMinEstimateMapOnly") &&
          e.getMessage.contains(s"column $column"), e.getMessage)
      }
  }

  test("countMinSketch: est >= exact always, exact at collision-free " +
    "width, additive across disjoint batches, unseen token reads 0") {
    val docs = Seq(
      (1L, "alpha beta alpha"),
      (2L, "beta gamma"),
      (3L, "alpha"),
      (4L, "")).toDF("doc_id", "text")
    val exact = Map("alpha" -> 3L, "beta" -> 2L, "gamma" -> 1L)
    val probes = exact.keys.toSeq.toDF("token")

    def estimates(depth: Int, width: Int): Map[String, Long] = {
      val sk = graft.operators.CorpusStats
        .countMinSketch(docs, "text", depth, width)
      graft.operators.CorpusStats
        .countMinEstimateMapOnly(probes, "token", sk, depth, width)
        .as[(String, Long)].collect().toMap
    }
    // the sketch can only overestimate (counters sum colliding tokens)
    val tight = estimates(depth = 2, width = 2) // forced collisions
    exact.foreach { case (t, n) =>
      assert(tight(t) >= n, s"$t underestimated: ${tight(t)} < $n") }
    // collision-free geometry recovers the exact counts
    assert(estimates(depth = 3, width = 1024) == exact)

    // additivity: disjoint-batch sketches folded through mergeStats
    // equal the one-pass sketch, counter for counter
    val parts = Seq(0L, 1L).map(r => graft.operators.CorpusStats
      .countMinSketch(docs.where($"doc_id" % 2 === r), "text", 3, 64))
    val merged = graft.operators.CorpusStats
      .mergeStats(parts, Seq("d", "bucket"), Seq("n"))
      .as[(Int, Long, Long)].collect().sortBy(r => (r._1, r._2)).toSeq
    val onePass = graft.operators.CorpusStats
      .countMinSketch(docs, "text", 3, 64)
      .as[(Int, Long, Long)].collect().sortBy(r => (r._1, r._2)).toSeq
    assert(merged == onePass)

    // a token the corpus never saw estimates 0 when its buckets are
    // empty (collision-free width): absent counters read as zero
    val unseen = graft.operators.CorpusStats.countMinEstimateMapOnly(
        Seq("neverseen").toDF("token"),
        "token",
        graft.operators.CorpusStats.countMinSketch(docs, "text", 3, 4096),
        3, 4096)
      .as[(String, Long)].collect().head
    assert(unseen == (("neverseen", 0L)), s"got $unseen")

    // heavy hitters: even a collision-saturated sketch (width 2 —
    // every estimate inflated) yields EXACTLY the true heavy set,
    // because the screen has no false negatives and the confirm pass
    // removes every false positive
    val tiny = graft.operators.CorpusStats.countMinSketch(docs, "text", 2, 2)
    val hh = graft.operators.CorpusStats.heavyHittersWithCounts(
        graft.operators.CorpusStats.tokenCounts(docs, "text"), tiny, 2, 2,
        threshold = 2L)
      .as[(String, Long)].collect().sortBy(_._1).toSeq
    assert(hh == Seq(("alpha", 3L), ("beta", 2L)), s"got $hh")
  }

  test("countMinEstimateMapOnly: repeated probe tokens keep one row per " +
    "input row with equal estimates; an n_est probe column fails loudly") {
    val C = graft.operators.CorpusStats
    val docs = Seq((1L, "alpha beta alpha"), (2L, "beta gamma"))
      .toDF("doc_id", "text")
    val sketch = C.countMinSketch(docs, "text", 2, 2) // width 2: collides
    // map-only: duplicate probe rows are not collapsed, and the same
    // token reads the same estimate on every row
    val probes = Seq((1, "alpha"), (2, "beta"), (3, "alpha"), (4, "alpha"))
      .toDF("row", "token")
    val out = C.countMinEstimateMapOnly(probes, "token", sketch, 2, 2)
      .as[(Int, String, Long)].collect().sortBy(_._1).toSeq
    assert(out.map(r => (r._1, r._2)) == Seq((1, "alpha"), (2, "beta"),
      (3, "alpha"), (4, "alpha")), s"got $out")
    val alpha = out.filter(_._2 == "alpha").map(_._3).distinct
    assert(alpha.size == 1 && alpha.head >= 2L, s"got $out")
    // the output column would shadow an input n_est — rejected
    val clash = intercept[IllegalArgumentException] {
      C.countMinEstimateMapOnly(Seq(("alpha", 1L)).toDF("token", "n_est"),
        "token", sketch, 2, 2)
    }
    assert(clash.getMessage.contains("n_est"), clash.getMessage)
  }

  test("heavyHittersOverStream: whole-stream heavy set is exact from " +
    "maintained counts + sketch, including tokens absent from the batch") {
    val C = graft.operators.CorpusStats
    // history: two disjoint batches folded into BOTH maintained shapes
    val h1 = Seq((1L, "hist hist hist old old")).toDF("doc_id", "text")
    val h2 = Seq((2L, "hist rare joint")).toDF("doc_id", "text")
    val histCounts = C.mergeStats(
      Seq(C.tokenCounts(h1, "text"), C.tokenCounts(h2, "text")),
      Seq("token"), Seq("n"))
    val sketch = C.mergeStats(
      Seq(C.countMinSketch(h1, "text", 2, 2),
        C.countMinSketch(h2, "text", 2, 2)), // width 2: saturated
      Seq("d", "bucket"), Seq("n"))
    // today: 'hist' absent (heavy from history ALONE — the case
    // heavyHittersWithCounts' same-corpus contract excludes), 'joint'
    // crosses only as history+batch, 'fresh' heavy from batch alone,
    // 'old'/'rare' stay light overall
    val today = Seq(
      (3L, "joint joint fresh fresh fresh"),
      (4L, "rare")).toDF("doc_id", "text")
    val out = C.heavyHittersOverStream(today, "text", histCounts, sketch,
        2, 2, threshold = 3L)
      .as[(String, Long)].collect().sortBy(_._1).toSeq
    // exact over the union: hist=4, old=2, rare=2, joint=3, fresh=3
    assert(out == Seq(("fresh", 3L), ("hist", 4L), ("joint", 3L)),
      s"got $out")

    // degenerate ends: empty batch (answer = history filter alone) and
    // empty history (answer = batch filter alone)
    val noBatch = today.where(lit(false))
    val ob = C.heavyHittersOverStream(noBatch, "text", histCounts, sketch,
        2, 2, threshold = 3L)
      .as[(String, Long)].collect().toSeq
    assert(ob == Seq(("hist", 4L)), s"got $ob")
    val emptyHist = histCounts.where(lit(false))
    val emptySketch = sketch.where(lit(false))
    val oh = C.heavyHittersOverStream(today, "text", emptyHist, emptySketch,
        2, 2, threshold = 3L)
      .as[(String, Long)].collect().toSeq
    assert(oh == Seq(("fresh", 3L)), s"got $oh")
  }

  test("bigramLm: ref-like docs score high, OOV text flagged, short/empty " +
    "docs get null scores") {
    val docs = Seq(
      (1L, "en", "the cat sat"),
      (2L, "en", "the cat ran"),
      (3L, "de", "der hund lief"),
      (4L, "en", "xx"), // one token: no bigrams
      (5L, "en", "")
    ).toDF("doc_id", "lang", "text")
    val out = graft.operators.CorpusStats
      .bigramLm(docs, "doc_id", "text", col("lang") === "en")
      .orderBy("doc_id")
      .as[(Long, Long, Option[Double], Option[Double])].collect()
    assert(out.map(_._1).toSeq == Seq(1L, 2L, 3L, 4L, 5L))
    // ref bigrams: "the cat"×2, "cat sat", "cat ran"; ref unigrams:
    // the×2 cat×2 sat ran xx. doc1: c12_sum = 2+1, c1_sum = 2+2.
    assert(out(0) == ((1L, 2L, Some(0.0), Some(0.75))))
    assert(out(1) == ((2L, 2L, Some(0.0), Some(0.75))))
    assert(out(2) == ((3L, 2L, Some(1.0), None)),
      "fully-OOV doc: oov 1.0, no observed context mass → null lm_score")
    assert(out(3) == ((4L, 0L, None, None)), "single-token doc: no bigrams")
    assert(out(4) == ((5L, 0L, None, None)), "empty doc: no bigrams")

    // the denominator is a CONTEXT count (bigram left positions), not a
    // raw unigram count: 'b' ends ref doc 1 and never serves as context
    // there, so c_ctx(b) = 1 (only "b c" in doc 2) where unigram(b) = 2
    val ctx = Seq(
      (1L, "en", "a b"),
      (2L, "en", "b c"),
      (3L, "xx", "b z")
    ).toDF("doc_id", "lang", "text")
    val scored = graft.operators.CorpusStats
      .bigramLm(ctx, "doc_id", "text", col("lang") === "en")
      .orderBy("doc_id")
      .as[(Long, Long, Option[Double], Option[Double])].collect()
    // doc 3 "b z": bigram (b,z) unseen -> c12_sum = 0; c1_sum = c_ctx(b) = 1
    // (a unigram denominator would read 2 and score 0/2 identically here,
    // so also pin doc 2 where the numerator is live: c12(b,c)=1, c_ctx(b)=1
    // -> 1.0 exactly; unigram would read 1/2 = 0.5)
    assert(scored(1) == ((2L, 1L, Some(0.0), Some(1.0))))
    assert(scored(2) == ((3L, 1L, Some(1.0), Some(0.0))))

    // incremental model: disjoint-batch merge == full training, and
    // scoring through the merged model == the self-trained form
    val parts = Seq(0L, 1L, 2L).map(r => graft.operators.CorpusStats
      .bigramCounts(docs.where(col("lang") === "en" && $"doc_id" % 3 === r),
        "doc_id", "text"))
    val merged = graft.operators.CorpusStats.mergeBigramCounts(parts)
    val fullModel = graft.operators.CorpusStats
      .bigramCounts(docs.where(col("lang") === "en"), "doc_id", "text")
      .as[(String, String, Long)].collect().sortBy(r => (r._1, r._2)).toSeq
    assert(merged.as[(String, String, Long)].collect()
      .sortBy(r => (r._1, r._2)).toSeq == fullModel)
    val viaModel = graft.operators.CorpusStats
      .bigramLmWith(docs, "doc_id", "text", merged)
      .orderBy("doc_id")
      .as[(Long, Long, Option[Double], Option[Double])].collect()
    assert(viaModel.toSeq == out.toSeq)
    // a NEW day scored against the maintained model, no retraining:
    // "the cat" is in-model (c12=2, c_ctx(the)=2), "the dog" is OOV
    // with an observed context -> (c12 0 + 2-of-2 hits... compute:
    // doc "the cat": bigram (the,cat) c12 2, c1(the) 2 -> 1.0, oov 0
    val day = Seq((10L, "en", "the cat"), (11L, "en", "the dog"))
      .toDF("doc_id", "lang", "text")
    val dayScored = graft.operators.CorpusStats
      .bigramLmWith(day, "doc_id", "text", merged)
      .orderBy("doc_id")
      .as[(Long, Long, Option[Double], Option[Double])].collect()
    assert(dayScored(0) == ((10L, 1L, Some(0.0), Some(1.0))))
    assert(dayScored(1) == ((11L, 1L, Some(1.0), Some(0.0))),
      s"OOV bigram with known context: ${dayScored(1)}")
  }

  test("dropDuplicateLines: corpus-frequent lines stripped, order and original " +
    "whitespace kept, blanks exempt, all-boilerplate doc empties") {
    val docs = Seq(
      (1L, "unique alpha\nBOILER\nunique beta"),
      (2L, "BOILER\n\nunique gamma"), // blank line survives
      (3L, "  BOILER  \nunique delta"), // trimmed key matches, df counts it
      (4L, "BOILER"), // every line boilerplate
      (5L, "solo line")
    ).toDF("id", "text")
    val out = graft.operators.CorpusStats
      .dropDuplicateLines(docs, "id", "text", maxDocFreq = 2)
      .orderBy("id").as[(Long, Long, Long, String)].collect().toSeq
    // BOILER's trimmed form is in 4 distinct docs > 2 -> dropped everywhere
    assert(out == Seq(
      (1L, 3L, 2L, "unique alpha\nunique beta"),
      (2L, 3L, 2L, "\nunique gamma"),
      (3L, 2L, 1L, "unique delta"),
      (4L, 1L, 0L, ""),
      (5L, 1L, 1L, "solo line")))
    // df == maxDocFreq kept (<=); the padded original, not the key, survives
    val all = graft.operators.CorpusStats
      .dropDuplicateLines(docs, "id", "text", maxDocFreq = 4)
      .orderBy("id").as[(Long, Long, Long, String)].collect().toSeq
    assert(all.map(r => (r._1, r._4)) == Seq(
      (1L, "unique alpha\nBOILER\nunique beta"),
      (2L, "BOILER\n\nunique gamma"),
      (3L, "  BOILER  \nunique delta"),
      (4L, "BOILER"),
      (5L, "solo line")))
    // replay-identical regardless of input order
    val rev = graft.operators.CorpusStats
      .dropDuplicateLines(docs.orderBy(desc("id")), "id", "text", 2)
      .orderBy("id").as[(Long, Long, Long, String)].collect().toSeq
    assert(rev == out)
    intercept[IllegalArgumentException] {
      graft.operators.CorpusStats.dropDuplicateLines(docs, "id", "text", 0)
    }
  }

  test("contaminationFractions: leaked docs flagged, unrelated clean, empty safe") {
    val benchmark = Seq(
      (900L, "the quick brown fox jumps over the lazy dog near the river bank")
    ).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank"), // full copy
      (2L, "yesterday the quick brown fox jumps over the lazy dog again and again"), // partial leak
      (3L, "completely unrelated content talking about databases and query engines"),
      (4L, "") // no shingles at all
    ).toDF("doc_id", "text")
    val out = Dedup.contaminationFractions(corpus, benchmark, "doc_id", "text", 5)
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(out(1L)._4 == 1.0, "verbatim copy is 100% contaminated")
    assert(out(2L)._3 > 0 && out(2L)._4 > 0.0 && out(2L)._4 < 1.0,
      s"partial overlap flagged partially, got ${out(2L)}")
    assert(out(3L)._3 == 0 && out(3L)._4 == 0.0, "unrelated doc clean")
    // an empty doc still gets the one degenerate whole-text shingle
    // (mirrors the oracle's greatest(len-4, 1) windowing) — what matters
    // is it reports clean with no div-by-zero
    assert(out(4L)._3 == 0 && out(4L)._4 == 0.0, "empty doc reports clean")
  }

  test("contaminationFractionsBloom ≡ broadcast variant; empty benchmark safe") {
    // fixture with real hits (the gate-scale query yields 0 rows, so
    // this equality is the test that exercises the hit path)
    val benchmark = Seq(
      (900L, "the quick brown fox jumps over the lazy dog near the river bank")
    ).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank"),
      (2L, "yesterday the quick brown fox jumps over the lazy dog again and again"),
      (3L, "completely unrelated content talking about databases and query engines"),
      (4L, "")
    ).toDF("doc_id", "text")
    def sortedRows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_id").as[(Long, Long, Long, Double)].collect().toSeq
    assert(
      sortedRows(Dedup.contaminationFractionsBloom(
        corpus, benchmark, "doc_id", "text", 5, expectedItems = 1L << 16)) ==
      sortedRows(Dedup.contaminationFractions(
        corpus, benchmark, "doc_id", "text", 5)),
      "bloom path must be output-identical to the broadcast path")
    // auto-sized sketch (exact inventory count, the shipped query's
    // mode) — identical output, no expectedItems pin
    assert(
      sortedRows(Dedup.contaminationFractionsBloom(
        corpus, benchmark, "doc_id", "text", 5)) ==
      sortedRows(Dedup.contaminationFractions(
        corpus, benchmark, "doc_id", "text", 5)),
      "auto-sized bloom path must be output-identical too")
    // and on the real documents table (the shipped query's split)
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    val corp = docs.where($"doc_id" % 100 =!= 0)
    val bench = docs.where($"doc_id" % 100 === 0)
    assert(
      sortedRows(Dedup.contaminationFractionsBloom(
        corp, bench, "doc_id", "text", 5, expectedItems = 1L << 16)) ==
      sortedRows(Dedup.contaminationFractions(corp, bench, "doc_id", "text", 5)))
    // empty benchmark: no hits, no NPE from a null sketch — in both
    // the pinned and the auto-sized (count()==0) modes
    for (items <- Seq(16L, 0L)) {
      val none = sortedRows(Dedup.contaminationFractionsBloom(
        corpus, benchmark.limit(0), "doc_id", "text", 5,
        expectedItems = items))
      assert(none.size == 4 && none.forall(r => r._3 == 0 && r._4 == 0.0),
        s"expectedItems=$items")
    }
  }

  test("redactPii strips emails and international phones, leaves prose") {
    val rows = Seq(
      (1L, "mail me at jo.doe+x@sub.example.org thanks"),
      (2L, "dial +380551234567 tonight"),
      (3L, "year 2024 had 365 days"), // digit runs stay
      (4L, "a@b.co and +12345678 twice: c_d%e@f-g.info"))
      .toDF("id", "text")
    val got = rows.select($"id", References.redactPii($"text").as("r"))
      .as[(Long, String)].collect().toMap
    assert(got(1L) == "mail me at [EMAIL] thanks")
    assert(got(2L) == "dial [PHONE] tonight")
    assert(got(3L) == "year 2024 had 365 days")
    assert(got(4L) == "[EMAIL] and [PHONE] twice: [EMAIL]")
  }

  test("bpeishCount: contractions, digit runs, punctuation runs") {
    val rows = Seq(
      (1L, "don't"),                 // don | 't
      (2L, "hello world"),           // hello | world
      (3L, "abc123!?"),              // abc | 123 | !?
      (4L, "hello, world!"),         // hello | , | world | !
      (5L, ""),                      // zero tokens
      (6L, "I'll pay $42.50 now"),   // I | 'll | pay | $ | 42 | . | 50 | now
      (7L, "a\u000Bb"))              // VT is a separator (not a punct token)
      .toDF("id", "text")
    val got = rows.select($"id", T.bpeishCount($"text").as("n"))
      .as[(Long, Int)].collect().toMap
    assert(got == Map(1L -> 2, 2L -> 2, 3L -> 3, 4L -> 4, 5L -> 0, 6L -> 8, 7L -> 2))
  }

  test("tokenChunks: windows, stride overlap, partial tail, empty doc") {
    val docs = Seq(
      (1L, (1 to 10).map(i => s"w$i").mkString(" ")), // 10 toks, chunk 4 stride 3
      (2L, "a b"),                                    // single partial window
      (3L, ""))                                       // no chunks at all
      .toDF("doc_id", "text")
    val out = docs.select($"doc_id",
        posexplode(T.tokenChunks($"text", 4, 3)).as(Seq("ix", "c")))
      .select($"doc_id", $"ix", $"c.start".as("st"),
        concat_ws(" ", $"c.toks").as("txt"))
      .as[(Long, Int, Int, String)].collect().sortBy(r => (r._1, r._2))
    // doc 1: starts 0,3,6,9 — full windows then the partial tail
    assert(out.filter(_._1 == 1L).map(r => (r._2, r._3, r._4)).toSeq == Seq(
      (0, 0, "w1 w2 w3 w4"), (1, 3, "w4 w5 w6 w7"),
      (2, 6, "w7 w8 w9 w10"), (3, 9, "w10")))
    // doc 2: one window, shorter than chunk
    assert(out.filter(_._1 == 2L).map(r => (r._2, r._3, r._4)).toSeq ==
      Seq((0, 0, "a b")))
    // doc 3: zero rows
    assert(!out.exists(_._1 == 3L))
    intercept[IllegalArgumentException] { T.tokenChunks($"text", 0, 3) }
    intercept[IllegalArgumentException] { T.tokenChunks($"text", 4, -1) }
  }

  test("text functions: tokens, shingles, language, fingerprint locality") {
    val df = Seq((1L, "  The quick   brown fox  ")).toDF("id", "text")
    assert(df.select(T.tokenCount($"text")).as[Int].head() == 4)
    val sh = df.select(References.shingleSet($"text", 2).as("s")).as[Seq[String]].head()
    assert(sh == Seq("The quick", "quick brown", "brown fox"))
    assert(Seq((1L, "")).toDF("id", "text")
      .select(T.tokenCount($"text")).as[Int].head() == 0)
    val lang = Seq((1L, "the cat and the dog of it"), (2L, "el perro y la casa que es"))
      .toDF("id", "text").select(T.langGuess($"text")).as[String].collect()
    assert(lang.toSeq == Seq("en", "es"))
    // fingerprint: whitespace/case-insensitive, content-sensitive
    val fp = Seq((1L, "A  B\tC"), (2L, "a b c"), (3L, "a b d"))
      .toDF("id", "text").select(T.fingerprintMd5($"text")).as[String].collect()
    assert(fp(0) == fp(1) && fp(1) != fp(2))
  }

  test("sourceOverlap: within-source C(n,2), cross-source products, " +
      "clean sources absent") {
    val docs = Seq(
      (1L, "A", "same"), (2L, "A", "same"), (3L, "A", "same"), // C(3,2)=3
      (4L, "B", "same"), (5L, "B", "same"),                    // C(2,2)=1; AxB=6
      (6L, "C", "other"), (7L, "A", "other"),                  // AxC=1
      (8L, "D", "unique")                                      // no dups at all
    ).toDF("doc_id", "source", "text")
    val out = Dedup.sourceOverlap(docs, "text", "source")
      .as[(String, String, Long)].collect().sortBy(r => (r._1, r._2))
    assert(out.toSeq == Seq(
      ("A", "A", 3L), ("A", "B", 6L), ("A", "C", 1L), ("B", "B", 1L)))
  }

  test("c4Clean: line rules (terminal punct, >=5 words, javascript) and " +
      "doc rules (lorem ipsum, brace, <3 kept lines)") {
    val docs = Seq(
      // 3 good lines -> kept doc; bad lines dropped individually
      (1L, "one two three four five.\nsix seven eight nine ten!\n" +
        "ok line with five words?\nshort line.\nno terminal punct here at all\n" +
        "uses javascript so it dies."),
      // only 2 good lines -> doc dropped by the <3 rule
      (2L, "one two three four five.\nsix seven eight nine ten."),
      // brace kills the doc even though lines pass
      (3L, "one two three four five.\nsix seven eight nine ten!\n" +
        "good line of five words.\n{"),
      // lorem ipsum kills the doc (case-insensitive)
      (4L, "one two three four five.\nsix seven eight nine ten!\n" +
        "Lorem Ipsum dolor sit amet."))
      .toDF("doc_id", "text")
    val out = docs.select($"doc_id", T.c4Clean($"text").as("c"))
      .select($"doc_id", $"c.n_lines", $"c.n_kept", $"c.dropped",
        $"c.clean_text")
      .as[(Long, Int, Int, Boolean, String)].collect().sortBy(_._1)
    assert(out(0) == ((1L, 6, 3, false,
      "one two three four five.\nsix seven eight nine ten!\n" +
        "ok line with five words?")))
    assert(out(1)._3 == 2 && out(1)._4 == true)   // <3 kept -> dropped
    assert(out(2)._3 == 3 && out(2)._4 == true)   // brace doc rule
    assert(out(3)._3 == 3 && out(3)._4 == true)   // lorem ipsum doc rule
    // the quoted-line form survives the punct rule
    val q = Seq((9L, "he said \"five words in here\""))
      .toDF("doc_id", "text")
      .select(T.c4LineKeep($"text")).as[Boolean].head()
    assert(q)
  }

  test("pqRerankTopK: corpus-wide shortlist equals brute exactly; " +
      "scores always bit-equal to brute") {
    val e = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = e.where($"vec_id" < 3)
    def m(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Double)].collect().sorted.toSeq
    val brute = Similarity.bruteTopK(q, e, "vec_id", "embedding", 5)
    // shortK >= corpus: the shortlist is complete, rerank IS brute
    val full = Similarity.pqRerankTopK(q, e, "vec_id", "embedding",
      k = 5, shortK = 100000)
    assert(m(full) == m(brute))
    // tight shortlist: pairs may differ (ADC recall), but every score
    // is the exact fold — bit-equal to brute's for the same pair
    val bruteAll = Similarity.bruteTopK(q, e, "vec_id", "embedding", 100000)
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, s) => (a, b) -> s }.toMap
    val tight = Similarity.pqRerankTopK(q, e, "vec_id", "embedding",
      k = 5, shortK = 10).as[(Long, Long, Double)].collect()
    assert(tight.nonEmpty)
    tight.foreach { case (qq, nn, s) => assert(bruteAll((qq, nn)) == s) }
    intercept[IllegalArgumentException] {
      Similarity.pqRerankTopK(q, e, "vec_id", "embedding", k = 5, shortK = 4)
    }
    // rerankExact composes with ANY shortlist stage: an IVFPQ
    // shortlist re-ranked exactly scores bit-equal to brute too
    val viaIvfpq = Similarity.rerankExact(
      Similarity.ivfPqTopK(q, e, "vec_id", "embedding", k = 10,
        nlist = 4, nprobe = 4),
      q, e, "vec_id", "embedding", k = 5)
      .as[(Long, Long, Double)].collect()
    assert(viaIvfpq.nonEmpty)
    viaIvfpq.foreach { case (qq, nn, s) => assert(bruteAll((qq, nn)) == s) }
  }

  test("ivfPqTopK: codeword candidates score as brute (exact residual " +
      "reconstruction), replay-deterministic") {
    // Single cell ⇒ centroid = vec 0, residual books = residuals of the
    // 8 lowest-id candidates. Those candidates' residuals ARE codewords,
    // so they reconstruct exactly and score = brute cosine up to the
    // fp-reassociation of the ADC identity (centroid+residual folds vs
    // one fold) — equal to ~1e-15 relative, asserted at 1e-9.
    val e = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val cand = e.where($"vec_id" < 40)
    val q = e.where($"vec_id" < 3)
    def toMap(df: org.apache.spark.sql.DataFrame) =
      df.select($"query_id", $"neighbor_id", $"score")
        .as[(Long, Long, Double)].collect()
        .map { case (a, b, s) => (a, b) -> s }.toMap
    val ivfpq = toMap(Similarity.ivfPqTopK(q, cand, "vec_id", "embedding",
      k = 40, nlist = 1, nprobe = 1, m = 8, ksub = 8))
    val brute = toMap(Similarity.bruteTopK(q, cand, "vec_id", "embedding", 40))
    val codewordPairs = brute.keys.filter(_._2 < 8L)
    assert(codewordPairs.nonEmpty)
    codewordPairs.foreach { p =>
      assert(math.abs(ivfpq(p) - brute(p)) < 1e-9,
        s"codeword pair $p: ivfpq=${ivfpq(p)} brute=${brute(p)}")
    }
    // quantized (non-codeword) candidates score within quantizer error
    // of brute but are present for every query
    assert(ivfpq.keySet == brute.keySet)
    // the exemplar quantizers are fully deterministic: identical replays
    val again = toMap(Similarity.ivfPqTopK(q, cand, "vec_id", "embedding",
      k = 40, nlist = 1, nprobe = 1, m = 8, ksub = 8))
    assert(again == ivfpq)
    intercept[IllegalArgumentException] {
      Similarity.ivfPqTopK(q, cand, "vec_id", "embedding", 5, nlist = 4,
        nprobe = 5)
    }
  }

}
