package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Bpe, CorpusStats, Packing, Sampling}
import graft.queries.ExtensionQueries
import graft.streaming.StatsMaintenance

/** THIRTY days (`LH_DAYS`) of the composed all-shapes operation with
  * ROTATING weekly faults. Eight maintained stats shapes plus the
  * versioned tokenizer run the schedule a real deployment would:
  *
  *  - every day: all eight shapes fold the day's batch through the
  *    generic store path, and the day is encoded under the CURRENT
  *    tokenizer version (0 UNK, packed bin mass conserved);
  *  - every week w (days 7w..7w+6): one RETRACTION (day 7w+3 deletes
  *    day 7w+1 from every store — watermarks must not move), one KILL
  *    MATRIX day (7w+5: every store's fold dies at a crash point that
  *    rotates with BOTH store index and week, then is redelivered —
  *    folds iff the delta had not committed), and one TOKENIZER
  *    REFRESH (day 7w+5, +250 merges, growth contract verified
  *    PRE-PUBLISH each week — four successive refreshes prove the
  *    prefix/id-stability property composes across generations);
  *  - watermark-drift guard: after every day, each store's persisted
  *    watermark must equal the day index exactly (retractions and
  *    kills must never skew it);
  *  - wall-time curve: per-day seconds are recorded; the last week's
  *    mean must stay within 2x the first week's (the maintained
  *    tables grow Heaps-law-slowly, so a superlinear-in-history cost
  *    would mean a fold is rescanning the corpus);
  *  - day 30 end state: all eight tables ≡ the surviving-days
  *    recompute exactly, and the full consumer battery (line gate,
  *    bigram-LM scoring, DSIR weighting, whole-stream heavy hitters,
  *    mix plan, UniMax allocation, quantile threshold, count-min
  *    estimates) from maintained state ≡ from recompute, with the
  *    last retracted day's documents as genuinely out-of-history
  *    "today".
  *
  * Reference semantics preserved: the K6 idempotent-replay watermark
  * contract (`/root/reference/internal/repository/scraper_status.go:10-27`)
  * — progress recorded WITH the write, replays absorbed — held daily
  * for a month under faults.
  *
  * {{{
  * PACK_DIR=target/testdata/sf10z sbt 'runMain graft.tools.LongHaulSoak'
  * }}}
  *
  * One composed week — every store and consumer check above, one
  * retraction, one kill matrix over all five crash points and one
  * +500-merge refresh — is `LH_DAYS=7 LH_EXTRA_MERGES=500`.
  */
object LongHaulSoak {

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
    val nDays = sys.env.getOrElse("LH_DAYS", "30").toInt
    val nMerges = sys.env.getOrElse("LH_MERGES", "2000").toInt
    val weeklyExtra = sys.env.getOrElse("LH_EXTRA_MERGES", "250").toInt
    val packBudget = sys.env.getOrElse("LH_BUDGET", "2048").toInt
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"), col("lang"), col("source"),
        col("n_chars"))
    val days = (0 until nDays).map(d => docs.where(col("doc_id") % nDays === d))
    println(s"[long-haul] dir=$dir docs=${docs.count()} days=$nDays " +
      s"shapes=8 +tokenizer(merges=$nMerges,+$weeklyExtra/week)")

    def tmp(n: String): String =
      java.nio.file.Files.createTempDirectory(s"graft-lh-$n").toString

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
        b => Sampling.qualityHistogram(
          ExtensionQueries.withStopwordPerMille(b, "quality_pm"),
          col("quality_pm"))))

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
      "post-marker", "post-sidecar")
    val retracted = scala.collection.mutable.Set[Int]()
    val daySecs = Array.ofDim[Double](nDays)
    var refreshes = 0

    (0 until nDays).foreach { day =>
      val t0 = System.nanoTime()
      val week = day / 7
      val dow = day % 7
      if (day == 0) {
        val m = Bpe.trainMergesLocal(days(0), "text", nMerges)
        val v = Bpe.vocab(days(0), "text", m)
        Bpe.saveTokenizerVersioned(spark, m, v, s"$work/tokenizer")
        println(s"[long-haul] tokenizer v1 published: ${m.size} merges, " +
          s"${v.size} vocab")
      }
      if (dow == 3) {
        // weekly deletion maintenance: this week's day-1 is removed
        val target = week * 7 + 1
        shapes.foreach { s =>
          StatsMaintenance.retractBatch(spark, s.path,
            s.partialOf(days(target)), s.keys, s.counts)
          require(StatsMaintenance.lastFolded(spark, s.path)
            .contains(day - 1L),
            s"${s.name}: week-$week retraction moved the watermark")
        }
        retracted += target
        println(s"[long-haul] day $day: retracted day $target across " +
          "all 8 stores, watermarks unmoved")
      }
      if (dow == 5) {
        // weekly kill matrix: the crash point rotates with store AND
        // week, so over four weeks each store dies at different points
        shapes.zipWithIndex.foreach { case (s, i) =>
          val point = points((i + week) % points.length)
          killAt(point) { fold(s, day): Unit }
          val refolded = fold(s, day)
          val committed = point == "post-marker"
          require(refolded == !committed,
            s"${s.name}: week-$week kill at $point - redelivery must " +
              s"${if (committed) "SKIP (delta committed)" else "FOLD"}")
        }
        // weekly tokenizer refresh under the growth contract
        val (oldM, oldV) =
          Bpe.loadTokenizerVersioned(spark, s"$work/tokenizer")
        val grown = Bpe.trainMergesLocal(days(0), "text",
          oldM.size + weeklyExtra)
        require(grown.take(oldM.size) == oldM,
          s"week-$week refresh broke the growth contract")
        val grownV = Bpe.vocab(days(0), "text", grown)
        require(grownV.take(oldV.size) == oldV,
          s"week-$week refresh renumbered existing vocab ids")
        Bpe.saveTokenizerVersioned(spark, grown, grownV, s"$work/tokenizer")
        refreshes += 1
        println(s"[long-haul] day $day: kill matrix (8 stores, rotating " +
          s"points) + tokenizer refresh ${oldM.size} -> ${grown.size} " +
          "merges, growth contract verified pre-publish")
      } else {
        shapes.foreach(s => require(fold(s, day), s"${s.name} day $day"))
      }
      // watermark-drift guard: after every day the persisted watermark
      // must equal the day index on every store
      shapes.foreach(s =>
        require(StatsMaintenance.lastFolded(spark, s.path)
          .contains(day.toLong),
          s"${s.name}: watermark drifted on day $day"))
      val ids = encodeDay(day)
      daySecs(day) = (System.nanoTime() - t0) / 1e9
      println(f"[long-haul] day $day%2d folded+encoded ($ids ids, 0 UNK) " +
        f"in ${daySecs(day)}%.1f s")
    }

    // wall-time curve. The guard compares PLAIN days only (day 0
    // carries tokenizer training; dow 3/5 carry retraction/kill+refresh
    // work): the mean of the last five plain days after the first week
    // must stay within 2x the mean of the first week's plain days — the
    // maintained tables grow Heaps-law-slowly, so a superlinear curve
    // means a fold is rescanning history instead of merging against the
    // stats table. The two sets are disjoint; a run too short for a
    // plain day after the first week checks nothing and says so.
    val weeks = daySecs.grouped(7).map(w => w.sum / w.length).toSeq
    println("[long-haul] per-week mean day seconds (all days): " +
      weeks.map(w => f"$w%.1f").mkString(", "))
    val plain = (0 until nDays).filter(d =>
      d != 0 && d % 7 != 3 && d % 7 != 5)
    val (earlyDays, laterDays) = plain.partition(_ < 7)
    val lateDays = laterDays.takeRight(5)
    if (earlyDays.isEmpty || lateDays.isEmpty)
      println(s"[long-haul] wall-time curve not checked: ${plain.size} plain days")
    else {
      val early = earlyDays.map(daySecs)
      val late = lateDays.map(daySecs)
      println(f"[long-haul] plain-day means: first week " +
        f"${early.sum / early.length}%.1f s (days ${earlyDays.mkString(",")}), " +
        f"last five ${late.sum / late.length}%.1f s (days ${lateDays.mkString(",")})")
      require(late.sum / late.length <= 2.0 * (early.sum / early.length),
        "wall-time curve is not flat on plain days - a fold is " +
          "rescanning history")
    }

    // day-30 end state: tables == surviving-days recompute
    var t0 = System.nanoTime()
    val retractedIds = retracted.toSeq.sorted
    val survivors = docs.where(
      !(col("doc_id") % nDays).isin(retractedIds.map(_.toLong): _*))
    shapes.foreach { s =>
      val got = StatsMaintenance.readStats(spark, s.path).get
      require(tableEq(got, s.partialOf(survivors)),
        s"${s.name}: maintained table drifted from the survivors' " +
          s"recompute at day $nDays")
      require(StatsMaintenance.lastFolded(spark, s.path)
        .contains(nDays - 1L))
    }
    println(f"[long-haul] all 8 maintained tables == surviving-days " +
      f"recompute exactly at day $nDays " +
      f"(retracted ${retractedIds.mkString(",")}; " +
      f"${(System.nanoTime() - t0) / 1e9}%.0f s)")

    // consumer battery from maintained state vs from recompute, with
    // the LAST retracted day as out-of-history "today"
    t0 = System.nanoTime()
    def stored(name: String): DataFrame =
      StatsMaintenance.readStats(spark,
        shapes.find(_.name == name).get.path).get
    def rows(df: DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    val today = days(retractedIds.last)
    require(rows(CorpusStats.dropDuplicateLinesWith(today, "doc_id",
        "text", stored("line-df"), maxDocFreq = 3)) ==
      rows(CorpusStats.dropDuplicateLinesWith(today, "doc_id", "text",
        CorpusStats.lineDf(survivors, "doc_id", "text"), maxDocFreq = 3)),
      "line gate drifted")
    require(rows(CorpusStats.bigramLmWith(today, "doc_id", "text",
        stored("bigram-lm").localCheckpoint(true))) ==
      rows(CorpusStats.bigramLmWith(today, "doc_id", "text",
        CorpusStats.bigramCounts(survivors, "doc_id", "text")
          .localCheckpoint(true))),
      "bigram scoring drifted")
    require(rows(Sampling.dsirWeightsWith(today, "doc_id", "text",
        stored("dsir-model"), buckets = 1024)) ==
      rows(Sampling.dsirWeightsWith(today, "doc_id", "text",
        Sampling.dsirModel(survivors, "doc_id", "text",
          col("lang") === "en", buckets = 1024), buckets = 1024)),
      "dsir weighting drifted")
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
        Sampling.qualityHistogram(
          ExtensionQueries.withStopwordPerMille(survivors, "quality_pm"),
          col("quality_pm")), 250L)),
      "quantile threshold drifted")
    val probeToks = CorpusStats.tokenCounts(today, "text")
      .select(col("token")).limit(1000).localCheckpoint(true)
    require(rows(CorpusStats.countMinEstimateMapOnly(probeToks, "token",
        stored("count-min"), depth = 3, width = 512)) ==
      rows(CorpusStats.countMinEstimateMapOnly(probeToks, "token",
        CorpusStats.countMinSketch(survivors, "text", 3, 512),
        depth = 3, width = 512)),
      "count-min estimates drifted")
    println(f"[long-haul] all 8 consumers from maintained state == " +
      f"from recompute (${(System.nanoTime() - t0) / 1e9}%.0f s)")

    // tokenizer end state: four refreshes composed, out-of-history
    // docs encode 0-UNK under the final vocabulary
    val (mEnd, vEnd) = Bpe.loadTokenizerVersioned(spark, s"$work/tokenizer")
    require(mEnd.size == nMerges + refreshes * weeklyExtra,
      s"expected ${nMerges + refreshes * weeklyExtra} merges after " +
        s"$refreshes refreshes, got ${mEnd.size}")
    val todayEnc = Bpe.encodeIds(today, "doc_id", "text", mEnd, vEnd)
    require(todayEnc.select(explode(col("ids")).as("id"))
        .where(col("id") === -1).count() == 0L,
      "out-of-history docs must encode 0-UNK under the final tokenizer")
    println(s"[long-haul] tokenizer: $refreshes composed refreshes " +
      s"id-stable (${mEnd.size} merges), out-of-history docs 0-UNK")

    println("[long-haul] ALL PASS")
    spark.stop()
  }
}
