package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Bpe, CorpusStats, Curation, Packing, Sampling}
import graft.streaming.StatsMaintenance

/** The ONE program a 100 TB training-data deployment actually runs,
  * composed end-to-end from what rounds 9–13 built, exercised over two
  * "days" of the 500k-doc Zipf decade:
  *
  *   raw day → [[Curation.curateStaged]] (C4 + line dedup + exact +
  *   near-dup + packing QA) → [[Bpe.encodeIds]] under a PERSISTED
  *   tokenizer artifact (merges trained on day 1, reused on day 2 —
  *   ids stay stable) → write-materialized encode →
  *   [[Packing.binIdSequences]] (the training artifact) → day-fold the
  *   FOUR maintained stats tables (line-df, token-df, bigram-LM, DSIR)
  *   through [[StatsMaintenance.start]] on a REAL file-source stream
  *   with checkpoints, restarted per day exactly like a daily cron.
  *
  * Day 2 is admitted INCREMENTALLY: the streams' checkpoints know day
  * 1 was processed, so each store folds one O(day) partial against the
  * maintained table — never a rescan of day 1. The run ends by
  * comparing every maintained table against a from-scratch recompute
  * over both curated days (exact set equality) and reporting the
  * incremental-fold vs recompute walls.
  *
  * {{{
  * DC_DIR=target/testdata/sf10z DC_MERGES=2000 \
  *   sbt 'runMain graft.tools.DailyCycleProbe'
  * }}}
  */
object DailyCycleProbe {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val dir = sys.env.getOrElse("DC_DIR", "target/testdata/sf10z")
    val nMerges = sys.env.getOrElse("DC_MERGES", "2000").toInt
    val budget = sys.env.getOrElse("DC_BUDGET", "2048").toInt
    val work = java.nio.file.Files
      .createTempDirectory("graft-dailycycle").toString
    println(s"[daily-cycle] dir=$dir merges=$nMerges budget=$budget " +
      s"work=$work")

    // lined rendition (the corpora ship one text blob per doc — C4's
    // line rules need sentences) + planted cross-doc boilerplate for
    // the line-dedup stage, same shaping as
    // f9f40ed:src/main/scala/graft/tools/CurationE2EProbe.scala
    val lines0 = transform(
      graft.functions.TextFunctions.tokenChunks(col("text"), 8, 8),
      c => concat(array_join(c.getField("toks"), " "), lit(".")))
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("source"),
        concat(
          when(col("doc_id") % 3 === 0,
            lit("subscribe to our newsletter today for offers.\n"))
            .otherwise(lit("")),
          array_join(lines0, "\n"),
          when(col("doc_id") % 5 === 0,
            lit("\nall rights reserved by the site owner."))
            .otherwise(lit(""))).as("text"))
    def rawDay(d: Int): DataFrame =
      docs.where(pmod(col("doc_id"), lit(2L)) === (d - 1).toLong)

    // the four maintained shapes, over the CURATED text
    val shapes = Seq[(String, Seq[String], Seq[String], DataFrame => DataFrame)](
      ("line", Seq("line_key"), Seq("line_df"),
        b => CorpusStats.lineDf(b, "doc_id", "clean_text")),
      ("token", Seq("token"), Seq("token_df"),
        b => CorpusStats.tokenDf(b, "doc_id", "clean_text")),
      ("bigram", Seq("w1", "bg"), Seq("n"),
        b => CorpusStats.bigramCounts(b, "doc_id", "clean_text")),
      ("dsir", Seq("bucket"), Seq("tgt_n", "raw_n"),
        b => Sampling.dsirModel(b, "doc_id", "clean_text",
          pmod(col("doc_id"), lit(3L)) === 0L, buckets = 4096)))

    val curatedSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("clean_text",
        org.apache.spark.sql.types.StringType)))

    var mergesArtifact: Seq[(Int, String, String)] = Seq.empty
    var vocabArtifact: Seq[(Int, String)] = Seq.empty
    var day2FoldWall = 0.0

    (1 to 2).foreach { d =>
      println(s"[daily-cycle] === day $d ===")
      val tDay = System.nanoTime()
      // 1. curate the raw day
      val staged = Curation.curateStaged(rawDay(d), "doc_id", "text",
        "source", Map.empty, budget = budget, nShards = 16,
        lineDedupMaxDf = Some(10), persistStages = true)
      try {
        val curated = staged.result
          .select(col("doc_id"), col("clean_text"))
        curated.coalesce(1).write.mode("overwrite")
          .parquet(s"$work/drop/day$d")
      } finally staged.close()
      val curatedDay = spark.read.parquet(s"$work/drop/day$d")
      val nCur = curatedDay.count()
      println(f"[daily-cycle] curated: $nCur docs, " +
        f"${(System.nanoTime() - tDay) / 1e9}%.0fs")

      // 2. tokenizer artifact: train ONCE (day 1), reuse thereafter
      if (d == 1) {
        val t = System.nanoTime()
        mergesArtifact = Bpe.trainMergesLocal(
          curatedDay.withColumnRenamed("clean_text", "text"), "text", nMerges)
        vocabArtifact = Bpe.vocab(
          curatedDay.withColumnRenamed("clean_text", "text"), "text",
          mergesArtifact)
        // merges + vocab commit as ONE table: they can never drift apart
        Bpe.saveTokenizerVersioned(spark, mergesArtifact, vocabArtifact,
          s"$work/tokenizer")
        println(f"[daily-cycle] tokenizer trained+published: " +
          f"${mergesArtifact.size} merges, ${vocabArtifact.size} vocab, " +
          f"${(System.nanoTime() - t) / 1e9}%.0fs")
      } else {
        // a fresh daily process loads the artifact, never retrains
        val (m, v) = Bpe.loadTokenizerVersioned(spark, s"$work/tokenizer")
        mergesArtifact = m
        vocabArtifact = v
        println(s"[daily-cycle] tokenizer loaded: " +
          s"${mergesArtifact.size} merges, ${vocabArtifact.size} vocab")
      }

      // 3. encode under the fixed tokenizer, write-materialized, pack
      val tEnc = System.nanoTime()
      Bpe.encodeIds(curatedDay, "doc_id", "clean_text", mergesArtifact,
          vocabArtifact)
        .write.mode("overwrite").parquet(s"$work/day$d/enc")
      val enc = spark.read.parquet(s"$work/day$d/enc")
      Packing.binIdSequences(enc, "doc_id", budget, nShards = 16)
        .write.mode("overwrite").parquet(s"$work/day$d/bins")
      val encIds = enc.agg(sum(col("n_ids"))).collect()(0).getLong(0)
      val bins = spark.read.parquet(s"$work/day$d/bins")
      val binStats = bins.agg(count(lit(1)), sum(col("n_ids"))).collect()(0)
      require(binStats.getLong(1) == encIds,
        s"day $d: packed id mass ${binStats.getLong(1)} != encoded $encIds")
      println(f"[daily-cycle] encoded $encIds ids -> " +
        f"${binStats.getLong(0)} bins of $budget, " +
        f"${(System.nanoTime() - tEnc) / 1e9}%.0fs")
      if (d == 2) {
        val unk = enc.select(explode(col("ids")).as("id"))
          .where(col("id") === -1).count()
        println(s"[daily-cycle] day-2 UNK ids under day-1 vocab: $unk")
      }

      // 4. fold the four stats tables: real streams, real checkpoints,
      // restarted per day like a daily cron
      val tFold = System.nanoTime()
      val queries = shapes.map { case (name, keys, counts, partialOf) =>
        StatsMaintenance.start(
          spark.readStream.schema(curatedSchema)
            .option("maxFilesPerTrigger", "1").parquet(s"$work/drop/day*"),
          s"$work/stores/$name", keys, counts, partialOf,
          s"$work/ckpt/$name")
      }
      try queries.foreach(_.processAllAvailable())
      finally queries.foreach(_.stop())
      val foldWall = (System.nanoTime() - tFold) / 1e9
      if (d == 2) day2FoldWall = foldWall
      shapes.foreach { case (name, _, _, _) =>
        val wm = StatsMaintenance.lastFolded(spark, s"$work/stores/$name")
        require(wm.contains(d - 1L),
          s"$name watermark $wm after day $d (expected ${d - 1})")
      }
      println(f"[daily-cycle] four stats tables folded: $foldWall%.0fs " +
        f"(watermarks at ${d - 1})")
      println(f"[daily-cycle] day $d total " +
        f"${(System.nanoTime() - tDay) / 1e9}%.0fs")
    }

    // adjudication: every maintained table == from-scratch recompute
    // over BOTH curated days, exact set equality
    val both = spark.read.parquet(s"$work/drop/day1", s"$work/drop/day2")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    both.count(): Unit
    val tRe = System.nanoTime()
    val drift = shapes.map { case (name, _, _, partialOf) =>
      val recompute = partialOf(both)
      val maintained =
        StatsMaintenance.readStats(spark, s"$work/stores/$name").get
      val onlyM = maintained.except(recompute).count()
      val onlyR = recompute.except(maintained).count()
      println(s"[daily-cycle] $name: maintained-minus-recompute=$onlyM " +
        s"recompute-minus-maintained=$onlyR")
      (name, onlyM + onlyR)
    }
    val recomputeWall = (System.nanoTime() - tRe) / 1e9
    require(drift.forall(_._2 == 0L),
      s"maintained tables drifted: $drift")
    println(f"[daily-cycle] PASS: all four maintained tables == " +
      f"from-scratch recompute; day-2 incremental fold " +
      f"$day2FoldWall%.0fs vs 2-day recompute+compare $recomputeWall%.0fs")
    spark.stop()
  }
}
