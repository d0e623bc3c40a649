package graft.sinks

import java.lang.reflect.{InvocationHandler, InvocationTargetException, Method, Proxy}
import java.sql.{Connection, PreparedStatement, SQLException, Statement}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.sinks.JdbcMergeWriter.ConnFactory

/** JDBC connections with one behavior changed, for sink tests. The
  * factories are serialized into Spark tasks; in local mode every copy
  * runs in this JVM, so counters live in this object.
  */
object TestConnections {

  private def proxy[T](iface: Class[T])(f: (Method, Array[AnyRef]) => AnyRef): T =
    Proxy.newProxyInstance(getClass.getClassLoader, Array(iface),
      new InvocationHandler {
        override def invoke(p: AnyRef, m: Method, args: Array[AnyRef]): AnyRef =
          f(m, if (args == null) Array.empty else args)
      }).asInstanceOf[T]

  private def call(target: AnyRef, m: Method, args: Array[AnyRef]): AnyRef =
    try m.invoke(target, args: _*)
    catch { case e: InvocationTargetException => throw e.getCause }

  /** A connection whose server is gone: its statements, its rollback
    * and its close all throw, each with its own message.
    */
  def lost(): Connection = proxy(classOf[Connection]) { (m, _) =>
    m.getName match {
      case "setAutoCommit" => null
      case "createStatement" => proxy(classOf[Statement]) { (_, _) =>
        throw new SQLException("connection reset", "08006")
      }
      case "rollback" => throw new SQLException("rollback on a closed connection", "08003")
      case "close" => throw new SQLException("close on a closed connection", "08003")
      case other => throw new UnsupportedOperationException(other)
    }
  }

  /** Rollbacks made on connections of [[countingRollbacks]]. */
  val rollbacks = new AtomicInteger

  /** Connections of `cf` that count their rollbacks in [[rollbacks]]. */
  def countingRollbacks(cf: ConnFactory): ConnFactory = () => {
    val c = cf()
    proxy(classOf[Connection]) { (m, args) =>
      if (m.getName == "rollback") rollbacks.incrementAndGet()
      call(c, m, args)
    }
  }

  /** The SQL of each prepared statement run on connections of
    * [[countingStatements]], once per run: once per `addBatch` when
    * batched, else once per execute.
    */
  val statements = new ConcurrentLinkedQueue[String]

  /** Statements of [[statements]] whose SQL starts with `prefix`. */
  def ran(prefix: String): Int = statements.asScala.count(_.startsWith(prefix))

  /** Connections of `cf` that record their prepared statements' runs
    * in [[statements]].
    */
  def countingStatements(cf: ConnFactory): ConnFactory = () => {
    val c = cf()
    proxy(classOf[Connection]) { (m, args) =>
      val target = call(c, m, args)
      if (m.getName == "prepareStatement") counted(target.asInstanceOf[PreparedStatement],
        args(0).toString)
      else target
    }
  }

  private val Runs = Set("addBatch", "execute", "executeQuery", "executeUpdate")

  private def counted(ps: PreparedStatement, sql: String): PreparedStatement =
    proxy(classOf[PreparedStatement]) { (m, args) =>
      if (Runs(m.getName)) statements.add(sql)
      call(ps, m, args)
    }

  /** Connections of `cf` on which every INSERT into `table` loses a
    * race: just before it runs, the same row is inserted and committed
    * over another connection of `cf`.
    */
  def losingInsertRace(cf: ConnFactory, table: String): ConnFactory = () => {
    val c = cf()
    proxy(classOf[Connection]) { (m, args) =>
      val target = call(c, m, args)
      if (m.getName == "prepareStatement" && args(0).toString.startsWith(s"INSERT INTO $table "))
        racedInsert(target.asInstanceOf[PreparedStatement], args(0).toString, cf)
      else target
    }
  }

  private def racedInsert(ps: PreparedStatement, sql: String, cf: ConnFactory): PreparedStatement = {
    val params = mutable.LinkedHashMap.empty[Int, AnyRef]
    proxy(classOf[PreparedStatement]) { (m, args) =>
      if (m.getName.startsWith("set") && args.length == 2)
        params(args(0).asInstanceOf[Int]) = args(1)
      if (m.getName == "executeUpdate") {
        val winner = cf()
        try {
          val w = winner.prepareStatement(sql)
          params.foreach { case (i, v) => w.setObject(i, v) }
          w.executeUpdate()
          w.close()
        } finally winner.close()
      }
      call(ps, m, args)
    }
  }
}
