package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Bpe, CorpusStats, Packing, Sampling}
import graft.streaming.StatsMaintenance

/** The composed operational week across ALL EIGHT maintained shapes
  * PLUS the versioned tokenizer — one driver, nine stores, seven days
  * of the Zipf decade, with the maintenance a real deployment performs
  * and the faults it suffers:
  *
  *  - shapes 1–8 fold daily through the SAME generic store code path:
  *    line-df, token-df, bigram-LM counts, DSIR feature model,
  *    count-min sketch, exact token counts, per-source tallies,
  *    quality histogram;
  *  - every day ALSO encodes under the CURRENT versioned tokenizer
  *    (trained day 0, loaded from the artifact store each day) and
  *    packs the id streams — 0 UNK ids and conserved bin mass daily;
  *  - day 4: a RETRACTION of day 1 runs against every store
  *    (deletion maintenance — watermarks must not move);
  *  - day 5: every store's fold is KILLED at a rotating crash point
  *    (post-reserve → post-parquet → marker-open → post-marker, by
  *    store index) and redelivered — the at-least-once matrix: a kill
  *    BEFORE the marker content means the delta did not commit and
  *    the redelivery must FOLD; a kill AFTER (post-marker) means it
  *    DID commit and the redelivery must SKIP — and then the
  *    TOKENIZER IS REFRESHED (+extra merges on the same training
  *    corpus) under the growth contract, verified PRE-PUBLISH: the
  *    old merge list must be a strict prefix of the grown one and old
  *    vocab ids byte-stable, or every previously encoded day silently
  *    renumbers (reference semantics preserved: the idempotent-replay
  *    discipline of
  *    `/root/reference/internal/repository/scraper_status.go:10-27`
  *    (the ON CONFLICT DO UPDATE upsert)
  *    — progress recorded WITH the write, replays absorbed). Days
  *    5..6 encode under the refreshed tokenizer; days 0..4's encoded
  *    ids stay valid;
  *  - end state: every store ≡ its own recompute over the surviving
  *    days, and every shape's CONSUMER — the line gate, bigram-LM
  *    scoring, DSIR weighting, count-min estimates, whole-stream
  *    heavy hitters, mix plan, UniMax allocation, quantile threshold
  *    — produces from maintained state exactly what it produces from
  *    the recompute. The retracted day's documents return as "today"
  *    for the heavy-hitter leg, exercising the history-vs-batch split
  *    with genuinely out-of-history data.
  *
  * {{{
  * PACK_DIR=target/testdata/sf10z sbt 'runMain graft.tools.AllShapesCycleProbe'
  * }}}
  */
object AllShapesCycleProbe {

  private final class Killed extends RuntimeException("injected kill")

  private final case class Shape(name: String, path: String,
    keys: Seq[String], counts: Seq[String],
    partialOf: DataFrame => DataFrame)

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val dir = sys.env.getOrElse("PACK_DIR", "target/testdata/sf10z")
    val nMerges = sys.env.getOrElse("AS_MERGES", "2000").toInt
    val extraMerges = sys.env.getOrElse("AS_EXTRA_MERGES", "500").toInt
    val packBudget = sys.env.getOrElse("AS_BUDGET", "2048").toInt
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"), col("lang"), col("source"),
        col("n_chars"))
    val days = (0 to 6).map(d => docs.where(col("doc_id") % 7 === d))
    println(s"[all-shapes] dir=$dir docs=${docs.count()} days=7 shapes=8 " +
      s"+tokenizer(merges=$nMerges+$extraMerges budget=$packBudget)")

    def withQuality(df: DataFrame): DataFrame = df
      .withColumn("__st", graft.expressions.TokenStats.stats(col("text"),
        graft.functions.TextFunctions.EnWords))
      .withColumn("quality_pm",
        when(col("__st.n_tokens") === 0, lit(0L)).otherwise(
          floor(col("__st.n_dict").cast("double") * 1000.0 /
            col("__st.n_tokens").cast("double")).cast("long")))
    def tmp(n: String): String =
      java.nio.file.Files.createTempDirectory(s"graft-all8-$n").toString

    val shapes = Seq(
      Shape("line-df", tmp("line"), Seq("line_key"), Seq("line_df"),
        b => CorpusStats.lineDf(b, "doc_id", "text")),
      Shape("token-df", tmp("tdf"), Seq("token"), Seq("token_df"),
        b => CorpusStats.tokenDf(b, "doc_id", "text")),
      Shape("bigram-lm", tmp("bg"), Seq("w1", "bg"), Seq("n"),
        b => CorpusStats.bigramCounts(b, "doc_id", "text")),
      Shape("dsir-model", tmp("dsir"), Seq("bucket"), Seq("tgt_n", "raw_n"),
        b => Sampling.dsirModel(b, "doc_id", "text",
          col("lang") === "en", buckets = 1024)),
      Shape("count-min", tmp("cms"), Seq("d", "bucket"), Seq("n"),
        b => CorpusStats.countMinSketch(b, "text", depth = 3, width = 512)),
      Shape("token-counts", tmp("tc"), Seq("token"), Seq("n"),
        b => CorpusStats.tokenCounts(b, "text")),
      Shape("source-tallies", tmp("tal"), Seq("source"),
        Seq("n_docs", "n_tokens", "char_mass"),
        b => CorpusStats.sourceTallies(b, "source", "text", "n_chars")),
      Shape("quality-hist", tmp("qh"), Seq("quality_pm"), Seq("n_docs"),
        b => Sampling.qualityHistogram(withQuality(b), col("quality_pm"))))

    def fold(s: Shape, day: Int): Boolean =
      StatsMaintenance.foldBatch(days(day), day.toLong, s.path, s.keys,
        s.counts, s.partialOf)
    def killAt(point: String)(op: => Unit): Unit = {
      StatsMaintenance.testCrashPoint =
        p => if (p == point) throw new Killed
      val killed = try { op; false } catch { case _: Killed => true }
      finally StatsMaintenance.testCrashPoint = _ => ()
      require(killed, s"kill at $point never fired")
    }
    def tableEq(a: DataFrame, b: DataFrame): Boolean =
      a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

    // the NINTH versioned store: the tokenizer artifact. Trained day 0,
    // loaded fresh from the store every day (what a daily cron does),
    // refreshed day 5 under the growth contract. Every day's encode
    // must land 0 UNK ids and conserve id mass through packing.
    val work = tmp("tok")
    def encodeDay(day: Int): Long = {
      val (m, v) = Bpe.loadTokenizerVersioned(spark, s"$work/tokenizer")
      Bpe.encodeIds(days(day), "doc_id", "text", m, v)
        .write.mode("overwrite").parquet(s"$work/enc/day$day")
      val enc = spark.read.parquet(s"$work/enc/day$day")
      val encIds = enc.agg(sum(col("n_ids"))).collect()(0).getLong(0)
      val unk = enc.select(explode(col("ids")).as("id"))
        .where(col("id") === -1).count()
      require(unk == 0L, s"day $day: $unk UNK ids")
      val packed = Packing
        .binIdSequences(enc, "doc_id", packBudget, nShards = 16)
        .agg(sum(col("n_ids"))).collect()(0).getLong(0)
      require(packed == encIds,
        s"day $day: packed id mass $packed != encoded $encIds")
      encIds
    }

    val points = Seq("post-reserve", "post-parquet", "marker-open",
      "post-marker")
    var t0 = System.nanoTime()
    (0 to 6).foreach { day =>
      if (day == 0) {
        val m = Bpe.trainMergesLocal(days(0), "text", nMerges)
        val v = Bpe.vocab(days(0), "text", m)
        Bpe.saveTokenizerVersioned(spark, m, v, s"$work/tokenizer")
        println(s"[all-shapes] tokenizer v1 published: ${m.size} merges, " +
          s"${v.size} vocab")
      }
      if (day == 4) {
        // mid-week maintenance: day 1 is deleted from EVERY store
        shapes.foreach { s =>
          StatsMaintenance.retractBatch(spark, s.path,
            s.partialOf(days(1)), s.keys, s.counts)
          require(StatsMaintenance.lastFolded(spark, s.path)
            .contains(3L), s"${s.name}: retraction moved the watermark")
        }
        println(f"[all-shapes] day-4 retraction of day 1 across all 8 " +
          f"stores, watermarks unmoved (${(System.nanoTime() - t0) / 1e9}%.0f s)")
      }
      if (day == 5) {
        // fault day: every store's fold dies at a rotating crash point
        shapes.zipWithIndex.foreach { case (s, i) =>
          val point = points(i % points.length)
          killAt(point) { fold(s, day): Unit }
          val refolded = fold(s, day)
          val committed = point == "post-marker"
          require(refolded == !committed,
            s"${s.name}: kill at $point - redelivery must " +
              s"${if (committed) "SKIP (delta committed)" else "FOLD"}")
          require(StatsMaintenance.lastFolded(spark, s.path)
            .contains(5L), s"${s.name}: day-5 fold lost after $point kill")
        }
        println("[all-shapes] day-5 kill matrix: 8 stores x rotating " +
          "crash points, redelivery folds iff the delta had not committed")
        // TOKENIZER REFRESH on the fault day itself: +extra merges on
        // the SAME training corpus. GROWTH CONTRACT verified
        // PRE-PUBLISH: the old merge list must be a strict prefix of
        // the grown one and old vocab ids byte-stable, or every
        // previously encoded day silently renumbers. The previous
        // version stays servable (retain=2) for in-flight encodes.
        val (oldM, oldV) =
          Bpe.loadTokenizerVersioned(spark, s"$work/tokenizer")
        val grown =
          Bpe.trainMergesLocal(days(0), "text", nMerges + extraMerges)
        require(grown.take(oldM.size) == oldM,
          "tokenizer refresh BROKE the growth contract: old merge list " +
            "is not a prefix of the grown one")
        val grownV = Bpe.vocab(days(0), "text", grown)
        require(grownV.take(oldV.size) == oldV,
          "tokenizer refresh RENUMBERED existing vocab ids")
        Bpe.saveTokenizerVersioned(spark, grown, grownV, s"$work/tokenizer")
        println(s"[all-shapes] tokenizer REFRESHED on the fault day: " +
          s"${oldM.size} -> ${grown.size} merges, ${oldV.size} -> " +
          s"${grownV.size} vocab; growth contract verified pre-publish")
      } else {
        shapes.foreach(s => require(fold(s, day), s"${s.name} day $day"))
      }
      val ids = encodeDay(day)
      println(s"[all-shapes] day $day encoded $ids ids under the " +
        "current tokenizer, 0 UNK, bin mass conserved")
    }
    println(f"[all-shapes] week folded (${(System.nanoTime() - t0) / 1e9}%.0f s)")

    // every store == its own recompute over the surviving days
    t0 = System.nanoTime()
    val survivors = docs.where(col("doc_id") % 7 =!= 1)
    shapes.foreach { s =>
      val got = StatsMaintenance.readStats(spark, s.path).get
      require(tableEq(got, s.partialOf(survivors)),
        s"${s.name}: maintained table drifted from the survivors' recompute")
      require(StatsMaintenance.lastFolded(spark, s.path).contains(6L))
    }
    println(f"[all-shapes] all 8 maintained tables == surviving-days " +
      f"recompute exactly (${(System.nanoTime() - t0) / 1e9}%.0f s)")

    // every shape's CONSUMER from maintained state == from recompute
    t0 = System.nanoTime()
    def stored(name: String): DataFrame =
      StatsMaintenance.readStats(spark,
        shapes.find(_.name == name).get.path).get
    def rows(df: DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq

    // 1. line gate over "today" (= the retracted day's docs, genuinely
    //    out of history)
    val today = days(1)
    require(rows(CorpusStats.dropDuplicateLinesWith(today, "doc_id",
        "text", stored("line-df"), maxDocFreq = 3)) ==
      rows(CorpusStats.dropDuplicateLinesWith(today, "doc_id", "text",
        CorpusStats.lineDf(survivors, "doc_id", "text"), maxDocFreq = 3)),
      "line gate drifted")
    // 2. bigram-LM scoring of today's docs
    require(rows(CorpusStats.bigramLmWith(today, "doc_id", "text",
        stored("bigram-lm").localCheckpoint(true))) ==
      rows(CorpusStats.bigramLmWith(today, "doc_id", "text",
        CorpusStats.bigramCounts(survivors, "doc_id", "text")
          .localCheckpoint(true))),
      "bigram scoring drifted")
    // 3. DSIR weighting of today's docs
    require(rows(Sampling.dsirWeightsWith(today, "doc_id", "text",
        stored("dsir-model"), buckets = 1024)) ==
      rows(Sampling.dsirWeightsWith(today, "doc_id", "text",
        Sampling.dsirModel(survivors, "doc_id", "text",
          col("lang") === "en", buckets = 1024), buckets = 1024)),
      "dsir weighting drifted")
    // 4. whole-stream heavy hitters: history = maintained counts +
    //    sketch, today = the retracted docs; oracle = plain threshold
    //    count over survivors + today
    val union = survivors.unionByName(today)
    val totalToks = union.select(explode(
      graft.functions.TextFunctions.tokens(col("text"))).as("t")).count()
    val threshold = math.max((totalToks + 63) / 64, 1L)
    require(rows(CorpusStats.heavyHittersOverStream(today, "text",
        stored("token-counts"), stored("count-min"), depth = 3,
        width = 512, threshold)) ==
      rows(CorpusStats.tokenCounts(union, "text")
        .where(col("n") >= threshold)),
      "whole-stream heavy hitters drifted")
    // 5-7. the selection family off the maintained tallies/histogram
    val talliesRe = CorpusStats.sourceTallies(survivors, "source",
      "text", "n_chars").localCheckpoint(true)
    require(rows(Sampling.mixPlanWith(stored("source-tallies"))) ==
      rows(Sampling.mixPlanWith(talliesRe)), "mix plan drifted")
    val budget = talliesRe.agg(sum(col("n_tokens"))).collect()(0)
      .getLong(0) / 2
    require(rows(Sampling.unimaxAllocWith(
        stored("source-tallies").localCheckpoint(true), budget, 2000L)) ==
      rows(Sampling.unimaxAllocWith(talliesRe, budget, 2000L)),
      "unimax allocation drifted")
    require(rows(Sampling.quantileThresholdWith(stored("quality-hist"),
        250L)) ==
      rows(Sampling.quantileThresholdWith(
        Sampling.qualityHistogram(withQuality(survivors),
          col("quality_pm")), 250L)),
      "quantile threshold drifted")
    // 8. count-min estimates of today's distinct tokens
    val probeToks = CorpusStats.tokenCounts(today, "text")
      .select(col("token")).limit(1000).localCheckpoint(true)
    require(rows(CorpusStats.countMinEstimateMapOnly(probeToks, "token",
        stored("count-min"), depth = 3, width = 512)) ==
      rows(CorpusStats.countMinEstimateMapOnly(probeToks, "token",
        CorpusStats.countMinSketch(survivors, "text", 3, 512),
        depth = 3, width = 512)),
      "count-min estimates drifted")
    println(f"[all-shapes] all 8 consumers from maintained state == " +
      f"from recompute (${(System.nanoTime() - t0) / 1e9}%.0f s)")

    // 9. the tokenizer week's end state: the artifact store serves the
    //    grown tokenizer (exactly nMerges+extra merges), and the
    //    retracted day's docs (genuinely out-of-history "today")
    //    encode 0-UNK under it. Id stability of the refresh itself —
    //    old merges a strict prefix, old vocab ids byte-stable against
    //    a retrain — was verified PRE-PUBLISH in the day-5 leg above.
    val (mEnd, vEnd) = Bpe.loadTokenizerVersioned(spark, s"$work/tokenizer")
    require(mEnd.size == nMerges + extraMerges,
      s"expected ${nMerges + extraMerges} merges at end of week, got " +
        s"${mEnd.size}")
    val todayEnc = Bpe.encodeIds(today, "doc_id", "text", mEnd, vEnd)
    require(todayEnc.select(explode(col("ids")).as("id"))
        .where(col("id") === -1).count() == 0L,
      "retracted-day docs must encode 0-UNK under the refreshed tokenizer")
    println("[all-shapes] tokenizer week: refresh id-stable, " +
      "out-of-history docs encode 0-UNK under the grown vocabulary")

    println("[all-shapes] ALL PASS")
    spark.stop()
  }
}
