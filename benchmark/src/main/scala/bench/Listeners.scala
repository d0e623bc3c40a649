package bench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's listeners. Each turns Spark's own events into
  * detached spans (jobs, planning phases) and counters
  * (tasks, shuffle, spill); [[Tracer]] attaches the spans to the driver
  * span that was open when they started.
  */
final class SparkProbe(tracer: Tracer) extends SparkListener {
  private val jobStarts = new ConcurrentHashMap[Int, Long]()
  val tasks = new LongAdder
  val taskNanos = new LongAdder
  val shuffleBytes = new LongAdder
  val spillBytes = new LongAdder
  /** Task run times (ms) per (stage, attempt), for the skew reading. */
  private val stageTasks = new ConcurrentHashMap[(Int, Int), mutable.ArrayBuffer[Long]]()
  @volatile var counting = false

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobStarts.put(e.jobId, e.time)

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStarts.remove(e.jobId)).foreach { t0 =>
      tracer.detached("spark.job", tracer.fromEpochMs(t0), tracer.fromEpochMs(e.time))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (counting) {
    tasks.increment()
    val m = e.taskMetrics
    if (m != null) {
      taskNanos.add(m.executorRunTime * 1000000L)
      shuffleBytes.add(m.shuffleWriteMetrics.bytesWritten)
      spillBytes.add(m.memoryBytesSpilled + m.diskBytesSpilled)
      val buf = stageTasks.computeIfAbsent((e.stageId, e.stageAttemptId),
        _ => mutable.ArrayBuffer.empty[Long])
      buf.synchronized { buf += m.executorRunTime }
    }
  }

  /** Worst ratio of slowest to median task run time over stages with
    * at least four tasks (1.0 when no stage qualifies).
    */
  def stageSkew: Double = {
    val ratios = stageTasks.values.asScala.toSeq.filter(_.size >= 4).map { ts =>
      val med = Stats.median(ts.map(_.toDouble).toSeq)
      ts.max / math.max(med, 1.0)
    }
    if (ratios.isEmpty) 1.0 else ratios.max
  }
}

/** Planning phases from `QueryExecution.tracker`, as spans. */
final class PlanningProbe(tracer: Tracer) extends QueryExecutionListener {
  private val names = Map(
    "analysis" -> "queries.analysis",
    "optimization" -> "queries.optimize",
    "planning" -> "queries.physical_plan")

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)

  private def record(qe: QueryExecution): Unit =
    qe.tracker.phases.foreach { case (phase, p) =>
      names.get(phase).foreach { n =>
        tracer.detached(n, tracer.fromEpochMs(p.startTimeMs), tracer.fromEpochMs(p.endTimeMs))
      }
    }
}

object Probes {
  def install(session: SparkSession, tracer: Tracer): SparkProbe = {
    val sp = new SparkProbe(tracer)
    session.sparkContext.addSparkListener(sp)
    session.listenerManager.register(new PlanningProbe(tracer))
    sp
  }
}
