package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.Dedup

class StreamingDedupSpec extends SparkSpec {
  import spark.implicits._

  test("quality gates stream: c4Clean + LineStats/TokenStats are map-only " +
      "stateless transforms over a readStream") {
    // the ingest-time quality filter every streaming curation front
    // door needs: both the kernels and the HOF rules are per-row, so
    // they compose into a streaming query with no state store at all
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    import graft.functions.{TextFunctions => T}
    val scored = input.toDF().toDF("doc_id", "text")
      .withColumn("__c", T.c4Clean($"text"))
      .withColumn("__l", graft.expressions.LineStats.stats($"text"))
      .select($"doc_id", $"__c.n_kept".as("n_kept"),
        $"__c.dropped".as("dropped"), $"__l.n_dup_lines".as("dups"))
    val q = scored.writeStream.format("memory").queryName("q_gate").start()
    try {
      val goodDoc = (1 to 3).map(i =>
        s"line number $i with plenty words here.").mkString("\n")
      input.addData(
        (1L, goodDoc),                       // 3 kept lines -> survives
        (2L, "too short.\nonly two lines."), // <3 kept -> dropped
        (3L, "dup line\ndup line\ndup line")) // dups counted, dropped (no punct)
      q.processAllAvailable()
      val out = spark.table("q_gate")
        .as[(Long, Int, Boolean, Int)].collect().sortBy(_._1)
      assert(out.toSeq == Seq((1L, 3, false, 0), (2L, 0, true, 0),
        (3L, 0, true, 3)), s"got ${out.toSeq}")
    } finally q.stop()
  }

  test("incremental line-df maintenance: per-micro-batch partials folded " +
    "into a stats table equal the full recompute; the maintained table " +
    "gates a later batch") {
    import graft.operators.CorpusStats
    implicit val sqlCtx = spark.sqlContext
    val batch1 = Seq(
      (1L, "unique alpha\nBOILER\nunique beta"),
      (2L, "BOILER\nunique gamma"))
    val batch2 = Seq(
      (3L, "BOILER\nunique delta"),
      (4L, "unique epsilon\nBOILER"))
    val batch3 = Seq((5L, "solo content only"))
    val input = MemoryStream[(Long, String)]
    // the maintenance MERGE MATH: fold each micro-batch's partial into
    // the running stats table (materialized per batch to cut lineage).
    // NOTE this bare fold ignores batchId and is NOT replay-safe under
    // at-least-once delivery — the production loop is StatsMaintenance
    // (watermark + atomic publish, its own spec); this test pins only
    // that folded partials equal the recompute
    var stats = Seq.empty[(String, Long)].toDF("line_key", "line_df")
    val q = input.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        stats = CorpusStats.mergeLineDf(Seq(stats,
          CorpusStats.lineDf(b, "doc_id", "text"))).localCheckpoint(true)
      }.start()
    try {
      input.addData(batch1: _*); q.processAllAvailable()
      input.addData(batch2: _*); q.processAllAvailable()
      input.addData(batch3: _*); q.processAllAvailable()
    } finally q.stop()
    val maintained = stats.as[(String, Long)].collect().sortBy(_._1).toSeq
    val full = CorpusStats.lineDf(
        (batch1 ++ batch2 ++ batch3).toDF("doc_id", "text"), "doc_id", "text")
      .as[(String, Long)].collect().sortBy(_._1).toSeq
    assert(maintained == full, "incremental maintenance drifted from recompute")
    assert(maintained.find(_._1 == "BOILER").map(_._2).contains(4L))
    // gate a NEW day against the maintained table without recounting
    val day = Seq((9L, "fresh words today\nBOILER")).toDF("doc_id", "text")
    val gated = CorpusStats.dropDuplicateLinesWith(day, "doc_id", "text",
        stats, maxDocFreq = 3)
      .as[(Long, Long, Long, String)].collect().head
    assert(gated == ((9L, 2L, 1L, "fresh words today")))
  }

  test("band-parameter footguns fail loudly, never silently zero-match") {
    // k not a multiple of rowsPerBand would silently drop trailing sigs
    intercept[IllegalArgumentException] {
      Dedup.rowBandArray(col("text"), 8, 3)
    }
  }
}
