package bench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.BenchAccess
import org.apache.spark.sql.SparkSession

import graft.core.GraftSession

/** One workload run: set-up, a closed loop of ops for `--seconds`
  * (one client, ops back to back), the correctness check, and the
  * metrics, written as JSON to `<work>/result.json` for run.py.
  *
  * {{{
  * java -cp ... bench.Main --workload sync --seed 1 --seconds 10 --trace 0 \
  *   --work <dir> --t0 <epoch seconds> --cores 4 [--data <dir>]
  * }}}
  */
object Main {

  /** What a workload hands back after its timed region and check. */
  final case class Outcome(
      ops: Seq[Double],
      failed: Int,
      p50: Double,
      itemsPerS: Double,
      readings: Seq[(String, Double, String)],
      problems: Seq[String],
      layers: TraceView => Map[String, Double])

  final class Ctx(val seed: Long, val seconds: Double, val tracer: Tracer,
      val work: String, val cores: Int, val data: Option[String]) {
    private var session: SparkSession = _
    private var probes: Option[SparkProbe] = None
    def spark: SparkSession = session
    def probe: Option[SparkProbe] = probes

    /** Starts a Spark session (again, after a stopped one), with the
      * traced run's listeners.
      */
    def startSession(): Unit = {
      session = GraftSession.builder(cores.toString)
        .config("spark.local.dir", s"$work/spark-local")
        .config("spark.sql.warehouse.dir", s"$work/warehouse")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.host", "localhost")
        .getOrCreate()
      session.sparkContext.setLogLevel("ERROR")
      probes = if (tracer.on) Some(Probes.install(session, tracer)) else None
    }

    @volatile var timedStartEpochMs = 0L
    var deadline = 0L
    private var gc0 = 0L
    private var codegen0 = (0L, 0.0)
    var gcSeconds = 0.0
    var codegen = (0L, 0.0)

    /** Marks the end of set-up: listener counters and the deadline start here. */
    def startTiming(): Unit = {
      probe.foreach { p => BenchAccess.drainListeners(spark.sparkContext); p.counting = true }
      gc0 = gcMillis
      codegen0 = codegenNow
      timedStartEpochMs = System.currentTimeMillis()
      deadline = System.nanoTime() + (seconds * 1e9).toLong
    }

    def stopTiming(): Unit = {
      probe.foreach { p => BenchAccess.drainListeners(spark.sparkContext); p.counting = false }
      gcSeconds = (gcMillis - gc0) / 1e3
      val c = codegenNow
      codegen = (c._1 - codegen0._1, c._2 - codegen0._2)
    }

    private def gcMillis: Long =
      ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

    /** (classes compiled, compile seconds). The histogram keeps a
      * sample, so seconds are its mean times the exact count.
      */
    private def codegenNow: (Long, Double) = {
      val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
      (h.getCount, h.getSnapshot.getMean * h.getCount / 1e3)
    }
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val trace = opts("trace") == "1"
    val work = opts("work")
    val cores = opts("cores").toInt
    val tracer = new Tracer(trace)
    JdbcProbe.reset(tracer)
    val ctx = new Ctx(opts("seed").toLong, opts("seconds").toDouble, tracer, work,
      cores, opts.get("data"))
    ctx.startSession()
    val loadStart = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

    val out = workload match {
      case "sync" => Workloads.sync(ctx)
      case "query_surface" => Workloads.querySurface(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    System.err.println(s"[bench] $workload op walls (s): " +
      out.ops.map(w => f"$w%.3f").mkString(" "))
    val setupS = ctx.timedStartEpochMs / 1e3 - opts("t0").toDouble
    val view = new TraceView(tracer.spans)
    val e2e = Seq(
      ("setup_s", setupS, "s"),
      ("peak_rss_mb", peakRssMb, "MB"),
      ("op_p50_s", out.p50, "s"),
      ("items_per_s", out.itemsPerS, "1/s"))
    val metrics =
      if (!trace) e2e
      else {
        view.writeJsonLines(Paths.get(s"$work/trace.jsonl"))
        Layers.fill(Layers.common(view, ctx) ++ out.layers(view))
      }
    val loadEnd = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
    def obj(ms: Seq[(String, Double, String)]): String = ms.map { case (n, v, u) =>
      s"${Json.str(n)}:{\"value\":${Json.num(v)},\"unit\":${Json.str(u)}}"
    }.mkString("{", ",", "}")
    val json =
      s"""{"correct":${out.problems.isEmpty},"attempted":${out.ops.size + out.failed},""" +
        s""""failed":${out.failed},"metrics":${obj(metrics)},"e2e":${obj(e2e)},""" +
        s""""readings":${obj(out.readings)},""" +
        s""""problems":${out.problems.map(Json.str).mkString("[", ",", "]")},""" +
        s""""run":{"cores":$cores,"heap_mb":${Runtime.getRuntime.maxMemory / (1 << 20)},""" +
        s""""load_avg_start":${Json.num(loadStart)},"load_avg_end":${Json.num(loadEnd)},""" +
        s""""derby_durability":${Json.str(sys.props.getOrElse("derby.system.durability", "default"))},""" +
        s""""spans":${view.spans.size}}}"""
    Files.write(Paths.get(s"$work/result.json"), json.getBytes(StandardCharsets.UTF_8))
    ctx.spark.stop()
  }

  /** Peak resident set of this process (VmHWM), in MB. */
  def peakRssMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
}
