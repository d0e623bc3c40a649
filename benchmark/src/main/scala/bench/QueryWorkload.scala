package bench

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.queries.{AnalyticsQueries, ParityQueries}

/** `query_surface`: a fixed slice of `SparkEntry.queries`, one per
  * family, each through a `noop` sink. The full registry does not
  * fit one run (see BENCHMARK.md); the slice keeps every family so the
  * per-family walls stay comparable. Its input is the repository's
  * fixed generated dataset, so the seed does not change it.
  */
object QueryWorkload {
  val Slice: Seq[String] = Seq(
    "t3_email_repair", "q_window_running", "x_dedup_minhash_lsh", "x_bpe_pairs",
    "x_text_c4", "x_sim_topk_lsh", "x_tokendf_incremental", "x_sample_quality",
    "x_sketch_heavy", "x_multimodal_meta")

  /** The family a query's wall is booked to. */
  def family(name: String): String = {
    val stats = Set("x_linedf", "x_tokendf", "x_bigramlm", "x_dsir")
    val sample = Set("x_sample", "x_mix", "x_select", "x_cap", "x_split", "x_skew")
    val prefix2 = name.split("_").take(2).mkString("_")
    if (ParityQueries.queries.contains(name)) "parity"
    else if (AnalyticsQueries.queries.contains(name)) "analytics"
    else if (name.endsWith("_incremental") || stats(prefix2)) "x_stats"
    else if (sample(prefix2)) "x_sample"
    else if (Set("x_dedup", "x_bpe", "x_sim", "x_sketch", "x_multimodal")(prefix2)) prefix2
    else "x_text"
  }

  val Families: Seq[String] = Seq("parity", "analytics", "x_dedup", "x_bpe",
    "x_text", "x_sim", "x_stats", "x_sample", "x_sketch", "x_multimodal")

  /** Runs one query through the noop sink; returns its wall in seconds. */
  def run(spark: SparkSession, data: String, name: String, tracer: Tracer): Double = {
    val t0 = System.nanoTime()
    tracer.op("query") {
      tracer.span(s"queries.${family(name)}") {
        SparkEntry.queries(name)(spark, data).write.format("noop").mode("overwrite").save()
      }
    }
    (System.nanoTime() - t0) / 1e9
  }
}
