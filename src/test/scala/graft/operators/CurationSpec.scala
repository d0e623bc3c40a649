package graft.operators

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** End-to-end curation pipeline: every stage's effect observable on a
  * controlled corpus — c4 drops, exact-dup loser gone, near-dup loser
  * gone, mix weights multiply instances, packing offsets contiguous,
  * and the whole run replay-deterministic.
  */
class CurationSpec extends SparkSpec {
  import spark.implicits._

  // 3 c4-clean lines (6 words each, terminal '.')
  private def mk(seed: String) = Seq(
    s"alpha bravo charlie delta $seed one.",
    s"echo foxtrot golf hotel $seed two.",
    s"india juliet kilo lima $seed three.").mkString("\n")

  // 5 lines x 8 words = 40 tokens; `last` parameterizes the final
  // word so two variants share 31 of 41 distinct 5-gram shingles
  // (jaccard ~0.756, above the 0.7 near-dup threshold)
  private def mkLong(seed: String, last: String) = (1 to 5).map { i =>
    s"w${i}a w${i}b w${i}c w${i}d w${i}e $seed line " +
      (if (i == 5) last else s"w${i}f.")
  }.mkString("\n")

  private def corpus = Seq(
    (1L, "A", mk("red")),
    (2L, "A", mk("red")),                  // exact dup of 1 -> loses
    (3L, "A", mkLong("blue", "end.")),
    (4L, "A", mkLong("blue", "alt.")),     // near dup of 3 -> loses (tie, min id)
    (5L, "B", mk("green")),
    (6L, "B", "too short.\nonly two lines here okay."), // <3 kept lines
    (7L, "C", mk("brace") + "\n{ dies }")  // doc rule
  ).toDF("doc_id", "source", "text")

  test("curate: clean -> dedup -> survivors -> mix -> pack, deterministic") {
    val out = Curation.curateStaged(corpus, "doc_id", "text", "source",
      mixPerMille = Map("A" -> 1000, "B" -> 3000, "C" -> 500),
      budget = 16, nShards = 2).result
    val rows = out.select($"instance_id", $"doc_id", $"copy", $"source",
        $"shard", $"n_tokens", $"token_offset", $"bin_first")
      .as[(Long, Long, Long, String, Long, Long, Long, Long)]
      .collect().sortBy(_._1)

    // survivors: 1 (exact-dup winner), 3 (near-dup winner), 5 (B)
    assert(rows.map(_._2).distinct.sorted.toSeq == Seq(1L, 3L, 5L))
    // mix: A x1 each, B x3 -> 1 + 1 + 3 = 5 instances
    assert(rows.length == 5)
    assert(rows.count(_._2 == 5L) == 3)
    assert(rows.filter(_._2 == 5L).map(_._3).sorted.toSeq == Seq(0L, 1L, 2L))
    // token counts survive the pipeline (mk = 18 tokens, mkLong = 40)
    assert(rows.filter(_._2 == 1L).forall(_._6 == 18L))
    assert(rows.filter(_._2 == 3L).forall(_._6 == 40L))
    // packing: offsets are the exclusive running sum within a shard
    rows.groupBy(_._5).foreach { case (_, shard) =>
      val sorted = shard.sortBy(_._1)
      val expected = sorted.map(_._6).scanLeft(0L)(_ + _).init
      assert(sorted.map(_._7).toSeq == expected.toSeq,
        s"offsets not contiguous in shard: ${sorted.toSeq}")
    }
    // replay determinism
    val again = Curation.curateStaged(corpus, "doc_id", "text", "source",
      mixPerMille = Map("A" -> 1000, "B" -> 3000, "C" -> 500),
      budget = 16, nShards = 2).result
      .select($"instance_id", $"doc_id", $"copy", $"source",
        $"shard", $"n_tokens", $"token_offset", $"bin_first")
      .as[(Long, Long, Long, String, Long, Long, Long, Long)]
      .collect().sortBy(_._1)
    assert(again.toSeq == rows.toSeq)
  }

  test("curate: weight 0 drops a source entirely; near-dup pair really pairs") {
    // the near-dup premise the survivor assertion rests on
    val pairs = Dedup.minhashDupPairs(
      Seq((3L, mkLong("blue", "end.")), (4L, mkLong("blue", "alt.")))
        .toDF("doc_id", "text"), "doc_id", "text")
      .select($"i", $"j").as[(Long, Long)].collect()
    assert(pairs.toSeq == Seq((3L, 4L)), s"expected the planted pair: ${pairs.toSeq}")
    val out = Curation.curateStaged(corpus, "doc_id", "text", "source",
      mixPerMille = Map("B" -> 0), budget = 16, nShards = 1).result
    val ids = out.select($"doc_id").as[Long].collect().distinct.sorted
    assert(ids.toSeq == Seq(1L, 3L))
  }

  test("incremental line-df: partial merge == full recompute, the merged " +
    "table gates like the self-computed one, unseen lines pass") {
    val boiler = "please subscribe to our newsletter now."
    val docs = Seq(
      (1L, mk("red") + "\n" + boiler),
      (2L, mk("blue") + "\n" + boiler),
      (3L, mk("green") + "\n" + boiler),
      (4L, mk("plain")),
      (5L, Seq(boiler, boiler, boiler).mkString("\n")), // in-doc repeats: df 1
      (6L, "")
    ).toDF("doc_id", "text")
    val full = CorpusStats.lineDf(docs, "doc_id", "text")
      .as[(String, Long)].collect().sortBy(_._1).toSeq
    // boiler in 4 distinct docs (in-doc repetition must not inflate)
    assert(full.find(_._1 == boiler.trim).map(_._2).contains(4L))
    // merge of disjoint batches == full recompute
    val parts = Seq(0L, 1L, 2L).map(r =>
      CorpusStats.lineDf(docs.where($"doc_id" % 3 === r), "doc_id", "text"))
    val merged = CorpusStats.mergeLineDf(parts)
    assert(merged.as[(String, Long)].collect().sortBy(_._1).toSeq == full)
    // gating through the merged table == the self-computed gate
    val direct = CorpusStats.dropDuplicateLines(docs, "doc_id", "text", 2)
      .orderBy("doc_id").as[(Long, Long, Long, String)].collect().toSeq
    val viaStats = CorpusStats.dropDuplicateLinesWith(docs, "doc_id", "text",
        merged, 2)
      .orderBy("doc_id").as[(Long, Long, Long, String)].collect().toSeq
    assert(viaStats == direct)
    // a NEW batch gated against the maintained table: its own fresh lines
    // are absent from the stats (NULL df) and must survive; the known
    // boilerplate must be stripped
    val newDay = Seq((7L, "a fresh never-seen line\n" + boiler))
      .toDF("doc_id", "text")
    val gated = CorpusStats.dropDuplicateLinesWith(newDay, "doc_id", "text",
        merged, 2)
      .as[(Long, Long, Long, String)].collect().head
    assert(gated == ((7L, 2L, 1L, "a fresh never-seen line")))
    // folding the new day in advances the stats additively
    val day2 = CorpusStats.mergeLineDf(Seq(merged,
      CorpusStats.lineDf(newDay, "doc_id", "text")))
    assert(day2.where($"line_key" === boiler.trim).as[(String, Long)]
      .collect().head._2 == 5L)
    assert(day2.where($"line_key" === "a fresh never-seen line")
      .as[(String, Long)].collect().head._2 == 1L)
  }

  test("curateStaged: persistStages blocks are released by close(), " +
    "and the handle result equals curate's") {
    val docs = Seq(
      (1L, mk("red"), "web"),
      (2L, mk("blue"), "web"),
      (3L, mk("green"), "books")).toDF("doc_id", "text", "source")
    def cachedCount() = spark.sparkContext.getPersistentRDDs.size
    val before = cachedCount()
    val run = Curation.curateStaged(docs, "doc_id", "text", "source",
      Map("books" -> 2000), budget = 12, nShards = 2, persistStages = true)
    val viaHandle = run.result.orderBy("instance_id")
      .select("instance_id").as[Long].collect().toSeq
    assert(cachedCount() > before, "persistStages pinned nothing?")
    run.close()
    assert(cachedCount() == before,
      "close() must release every stage block the run pinned")
    run.close() // idempotent
    val direct = Curation.curateStaged(docs, "doc_id", "text", "source",
        Map("books" -> 2000), budget = 12, nShards = 2).result
      .orderBy("instance_id").select("instance_id").as[Long].collect().toSeq
    assert(viaHandle == direct)
  }

  test("trained lang-id trio: profile merge == full recompute, the " +
    "maintained model classifies like the self-trained one, retraction " +
    "deletes a batch, und/UNK paths hold") {
    val docs = Seq(
      (0L, "en", "the cat and the dog and the fish"),
      (1L, "en", "the bird and the cat and the dog"),
      (2L, "fr", "le chat et le chien et le poisson"),
      (3L, "fr", "le oiseau et le chat et le chien"),
      (4L, "en", "the fish and the bird and the cat"),
      (5L, "fr", "le poisson et le oiseau et le chat"))
      .toDF("doc_id", "lang", "text")
    val full = CorpusStats.langProfiles(docs, "lang", "text")
      .as[(String, String, Long)].collect().sortBy(r => (r._1, r._2)).toSeq
    // trio leg 1: disjoint partials fold to the full recompute
    val parts = Seq(0L, 1L).map(r =>
      CorpusStats.langProfiles(docs.where($"doc_id" % 2 === r), "lang", "text"))
    val merged = CorpusStats.mergeLangProfiles(parts)
    assert(merged.as[(String, String, Long)].collect()
      .sortBy(r => (r._1, r._2)).toSeq == full)
    // trio leg 2: scoring against the maintained model == self-trained
    val self = CorpusStats.langClassifyWith(docs, "doc_id", "text",
        CorpusStats.langProfiles(docs, "lang", "text"))
      .orderBy("doc_id").as[(Long, Long, String, Option[Double])]
      .collect().toSeq
    val via = CorpusStats.langClassifyWith(docs, "doc_id", "text", merged)
      .orderBy("doc_id").as[(Long, Long, String, Option[Double])]
      .collect().toSeq
    assert(via == self)
    // the separable hand corpus classifies to its declared labels
    val declared = docs.orderBy("doc_id").as[(Long, String, String)]
      .collect().map(_._2).toSeq
    assert(self.map(_._3) == declared, s"misclassified: $self")
    // und paths: shorter than n → no grams; grams but zero model hits
    val odd = Seq((9L, "zz"), (10L, "qqqqq")).toDF("doc_id", "text")
    val got = CorpusStats.langClassifyWith(odd, "doc_id", "text", merged)
      .orderBy("doc_id").as[(Long, Long, String, Option[Double])]
      .collect().toSeq
    assert(got == Seq((9L, 0L, "und", None), (10L, 3L, "und", None)))
    // trio leg 3: retraction — subtract batch 0's recomputed partial,
    // remainder == profiles over batch 1 alone (generic retractStats
    // on the (lang, gram) → n shape)
    val retracted = CorpusStats.retractStats(
        CorpusStats.mergeLangProfiles(Seq(full
          .toDF("lang", "gram", "n"))), parts(0),
        Seq("lang", "gram"), Seq("n"))
      .as[(String, String, Long)].collect().sortBy(r => (r._1, r._2)).toSeq
    val survivors = CorpusStats.langProfiles(
        docs.where($"doc_id" % 2 === 1L), "lang", "text")
      .as[(String, String, Long)].collect().sortBy(r => (r._1, r._2)).toSeq
    assert(retracted == survivors)
  }

  test("langClassifyWith: a NULL-count model row adds nothing, a NULL lang " +
    "or gram fails naming the column") {
    val docs = Seq((0L, "the cat and the dog"), (1L, "le chat et le chien"), (2L, "zz"))
      .toDF("doc_id", "text")
    val model = Seq(("en", "the", 3L), ("en", "cat", 1L), ("fr", "le ", 2L), ("fr", "cha", 1L))
      .map { case (l, g, n) => (Option(l), Option(g), Option(n)) }
    def classify(rows: Seq[(Option[String], Option[String], Option[Long])]) =
      CorpusStats.langClassifyWith(docs, "doc_id", "text", rows.toDF("lang", "gram", "n"))
        .orderBy("doc_id").collect().toSeq
    // a NULL count beside counted rows, and a language counted nowhere
    assert(classify(model ++ Seq((Some("en"), Some("dog"), None),
      (Some("de"), Some("der"), None))) == classify(model))
    Seq("lang" -> (None, Some("the"), Some(1L)), "gram" -> (Some("en"), None, Some(1L)))
      .foreach { case (column, row) =>
        val e = intercept[IllegalArgumentException](classify(model :+ row))
        assert(e.getMessage.contains("langClassifyWith") &&
          e.getMessage.contains(s"column $column"), e.getMessage)
      }
  }

  test("langClassifyWith collects a lazy model once: its frame starts the " +
    "jobs of one collect") {
    val docs = Seq((0L, "en", "the cat and the dog"), (1L, "fr", "le chat et le chien"))
      .toDF("doc_id", "lang", "text")
    def model = CorpusStats.langProfiles(docs, "lang", "text")
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    def jobsOf(body: => Unit): Int = {
      ListenerDrain(spark.sparkContext)
      jobs.set(0)
      body
      ListenerDrain(spark.sparkContext)
      jobs.get
    }
    spark.sparkContext.addSparkListener(listener)
    // each count builds its own lazy model, so no shuffle is reused;
    // adaptive execution runs an aggregate's collect as two jobs
    val (collect, classify) = try (jobsOf(model.collect(): Unit),
      jobsOf(CorpusStats.langClassifyWith(docs, "doc_id", "text", model): Unit))
    finally spark.sparkContext.removeSparkListener(listener)
    assert(collect >= 1 && classify == collect,
      s"building the frame started $classify jobs, one collect $collect")
  }

  test("retractStats: subtract == recompute, emptied keys drop, " +
    "non-constituent partials fail loudly, multi-count shape works") {
    val boiler = "please subscribe to our newsletter now."
    val docs = Seq(
      (1L, mk("red") + "\n" + boiler),
      (2L, mk("blue") + "\n" + boiler),
      (3L, mk("green") + "\n" + boiler),
      (4L, mk("plain"))
    ).toDF("doc_id", "text")
    val full = CorpusStats.lineDf(docs, "doc_id", "text")
    // delete docs 1 and 2: subtract their recomputed partial
    val gone = CorpusStats.lineDf(
      docs.where($"doc_id" <= 2), "doc_id", "text")
    val retracted = CorpusStats.retractStats(full, gone,
        Seq("line_key"), Seq("line_df"))
      .as[(String, Long)].collect().sortBy(_._1).toSeq
    val recomputed = CorpusStats.lineDf(
        docs.where($"doc_id" > 2), "doc_id", "text")
      .as[(String, Long)].collect().sortBy(_._1).toSeq
    assert(retracted == recomputed)
    // doc-1/2-only lines vanished (no zero-count rows linger)
    assert(!retracted.exists(r => r._1.contains("red") || r._1.contains("blue")))
    assert(retracted.find(_._1 == boiler.trim).map(_._2).contains(1L))
    // a partial the table never absorbed -> negative count -> loud fail
    val alien = CorpusStats.lineDf(
      Seq((9L, boiler + "\n" + boiler)).toDF("doc_id", "text"),
      "doc_id", "text")
    val doubled = CorpusStats.retractStats(
      CorpusStats.retractStats(full, gone, Seq("line_key"), Seq("line_df")),
      gone, Seq("line_key"), Seq("line_df"))
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    val e = intercept[Exception] { doubled.collect() }
    assert(msgs(e).exists(_.contains("not a constituent batch")),
      s"wanted the negative guard, got: $e")
    assert(alien.count() > 0) // (alien built; guard already proven above)
    // two-count shape (the DSIR model table)
    val model = Seq(("b0", 5L, 9L), ("b1", 2L, 2L)).toDF("bucket", "tgt_n", "raw_n")
    val part = Seq(("b0", 1L, 4L), ("b1", 2L, 2L)).toDF("bucket", "tgt_n", "raw_n")
    val left = CorpusStats.retractStats(model, part,
        Seq("bucket"), Seq("tgt_n", "raw_n"))
      .as[(String, Long, Long)].collect().sortBy(_._1).toSeq
    assert(left == Seq(("b0", 4L, 5L)), s"b1 emptied and dropped: $left")
  }

  test("curate: out-of-domain doc ids fail loudly instead of silently " +
    "colliding instance ids") {
    val bad = Seq(
      (1L, "A", mk("red")),
      (-7L, "A", mk("blue")) // negative id: id*100 wraps / collides
    ).toDF("doc_id", "source", "text")
    val e = intercept[Exception] {
      Curation.curateStaged(bad, "doc_id", "text", "source",
        mixPerMille = Map.empty, budget = 16, nShards = 1).result.collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("instance-id domain")),
      s"wanted the domain guard, got: $e")
    // an id just inside the domain still works
    val edge = Seq(((Long.MaxValue - 99L) / 100L, "A", mk("red")))
      .toDF("doc_id", "source", "text")
    val ok = Curation.curateStaged(edge, "doc_id", "text", "source",
      mixPerMille = Map.empty, budget = 16, nShards = 1).result
      .select($"instance_id").as[Long].collect()
    assert(ok.toSeq == Seq((Long.MaxValue - 99L) / 100L * 100L))
  }

  test("curate: optional line-dedup strips cross-doc boilerplate, optional " +
    "token budget cuts the deduped corpus") {
    // boilerplate passes every C4 LINE rule (6 words, terminal '.') —
    // only corpus-level line df can catch it
    val boiler = "please subscribe to our newsletter now."
    val docs = Seq(
      (1L, "A", mk("red") + "\n" + boiler),
      (2L, "A", mk("blue") + "\n" + boiler),
      (3L, "A", mk("green") + "\n" + boiler),
      (4L, "A", mk("plain")),
      (5L, "A", Seq(boiler, boiler, boiler).mkString("\n")) // all boilerplate
    ).toDF("doc_id", "source", "text")
    val out = Curation.curateStaged(docs, "doc_id", "text", "source",
      mixPerMille = Map.empty, budget = 16, nShards = 1,
      lineDedupMaxDf = Some(2)).result
    val byId = out.select($"doc_id", $"clean_text", $"n_tokens")
      .as[(Long, String, Long)].collect().sortBy(_._1)
    // doc 5 stripped to nothing and dropped; 1-4 survive without the line
    assert(byId.map(_._1).toSeq == Seq(1L, 2L, 3L, 4L))
    assert(byId.forall(!_._2.contains("subscribe")))
    assert(byId.forall(_._3 == 18L), s"back to mk()'s 18 tokens: ${byId.toSeq}")
    // budget 40 over four 18-token survivors admits exactly two (cum 36)
    val cut = Curation.curateStaged(docs, "doc_id", "text", "source",
      mixPerMille = Map.empty, budget = 16, nShards = 1,
      lineDedupMaxDf = Some(2), tokenBudget = Some(40L)).result
    val cutIds = cut.select($"doc_id").as[Long].collect().distinct
    assert(cutIds.length == 2, s"got ${cutIds.toSeq}")
    // without the budget all four pack
    assert(out.select($"doc_id").as[Long].collect().distinct.length == 4)
  }

  test("curate: optional substring-dedup removes cross-doc duplicated " +
    "passages, keeps untouched docs' line structure, drops stripped docs") {
    // a passage line shared verbatim across docs; every filler token
    // is doc-unique so only the passage's 4-token windows duplicate
    val passage = "zulu yankee xray whiskey victor uniform."
    def filler(seed: String) = (1 to 3).map(i =>
      s"$seed${i}a $seed${i}b $seed${i}c $seed${i}d $seed${i}e $seed${i}f.")
      .mkString("\n")
    val docs = Seq(
      (1L, "A", filler("red") + "\n" + passage),
      (2L, "A", filler("blue") + "\n" + passage),
      (3L, "A", filler("green")),
      (4L, "A", Seq(passage, passage, passage).mkString("\n")) // all dup
    ).toDF("doc_id", "source", "text")
    val out = Curation.curateStaged(docs, "doc_id", "text", "source",
      mixPerMille = Map.empty, budget = 16, nShards = 1,
      substringDedupN = Some(4)).result
    val byId = out.select($"doc_id", $"clean_text", $"n_tokens")
      .as[(Long, String, Long)].collect().sortBy(_._1).toSeq.distinct
    // doc 4 stripped to nothing and dropped; 1-3 keep their 18 fillers
    assert(byId.map(_._1) == Seq(1L, 2L, 3L), s"got $byId")
    assert(byId.forall(!_._2.contains("zulu")))
    assert(byId.forall(_._3 == 18L), s"got $byId")
    // rewritten docs carry the whitespace-canonical rebuilt text...
    assert(!byId(0)._2.contains("\n"))
    // ...docs the stage never touched keep their original line structure
    assert(byId(2)._2.contains("\n"))
  }
}
