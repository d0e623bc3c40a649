package bench

import java.lang.reflect.{InvocationHandler, InvocationTargetException, Method, Proxy}
import java.sql.{Connection, DriverManager, PreparedStatement, Statement}
import java.util.concurrent.atomic.LongAdder

import graft.sinks.JdbcMergeWriter.ConnFactory

/** Timing proxy for the `ConnFactory` the benchmark hands the sink.
  * Counters are static because Spark serializes the factory into each
  * task; in `local[n]` every copy runs in this JVM and adds to the same
  * totals. Transactions are recorded as detached `sinks.txn` spans.
  */
object JdbcProbe {
  val txns = new LongAdder
  val rollbacks = new LongAdder
  val statements = new LongAdder
  val rowsWritten = new LongAdder
  val storeNanos = new LongAdder
  val txnNanos = new LongAdder
  @volatile private var tracer: Tracer = new Tracer(false)

  def reset(t: Tracer): Unit = {
    Seq(txns, rollbacks, statements, rowsWritten, storeNanos, txnNanos).foreach(_.reset())
    tracer = t
  }

  /** A factory for `url`, wrapped in the proxy when `traced`. */
  def factory(url: String, traced: Boolean): ConnFactory = {
    val u = url
    if (traced) () => wrap(DriverManager.getConnection(u))
    else () => DriverManager.getConnection(u)
  }

  private def wrap(c: Connection): Connection =
    Proxy.newProxyInstance(getClass.getClassLoader, Array(classOf[Connection]),
      new ConnHandler(c)).asInstanceOf[Connection]

  private def call(target: AnyRef, m: Method, args: Array[AnyRef]): AnyRef =
    try m.invoke(target, args: _*)
    catch { case e: InvocationTargetException => throw e.getCause }

  private final class ConnHandler(c: Connection) extends InvocationHandler {
    private var txnStart = 0L

    override def invoke(proxy: AnyRef, m: Method, args: Array[AnyRef]): AnyRef = {
      val a = if (args == null) Array.empty[AnyRef] else args
      m.getName match {
        case "setAutoCommit" if a(0) == java.lang.Boolean.FALSE =>
          txnStart = System.nanoTime()
          call(c, m, a)
        case "commit" | "rollback" =>
          val r = call(c, m, a)
          val t1 = System.nanoTime()
          if (m.getName == "commit") txns.increment() else rollbacks.increment()
          if (txnStart != 0L) {
            txnNanos.add(t1 - txnStart)
            tracer.detached("sinks.txn", txnStart, t1)
            txnStart = 0L
          }
          r
        case "prepareStatement" =>
          stmt(call(c, m, a), classOf[PreparedStatement])
        case "createStatement" =>
          stmt(call(c, m, a), classOf[Statement])
        case _ => call(c, m, a)
      }
    }
  }

  private def stmt(s: AnyRef, iface: Class[_]): AnyRef =
    Proxy.newProxyInstance(getClass.getClassLoader, Array(iface),
      new StmtHandler(s))

  private final class StmtHandler(s: AnyRef) extends InvocationHandler {
    private var batched = 0

    override def invoke(proxy: AnyRef, m: Method, args: Array[AnyRef]): AnyRef = {
      val a = if (args == null) Array.empty[AnyRef] else args
      m.getName match {
        case "addBatch" =>
          batched += 1
          call(s, m, a)
        case name if name.startsWith("execute") =>
          val t0 = System.nanoTime()
          val r = call(s, m, a)
          storeNanos.add(System.nanoTime() - t0)
          r match {
            case counts: Array[Int] =>
              statements.add(batched.toLong)
              rowsWritten.add(counts.filter(_ > 0).map(_.toLong).sum)
              batched = 0
            case n: java.lang.Integer =>
              statements.increment()
              rowsWritten.add(math.max(n.intValue, 0).toLong)
            case _ => statements.increment()
          }
          r
        case _ => call(s, m, a)
      }
    }
  }
}
