package bench

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Each workload's correctness check passes on a real run and fails
  * once the store or output is corrupted.
  */
class CheckSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val work = Files.createTempDirectory("bench-check").toString
  private lazy val spark = graft.core.GraftSession.builder("2")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.local.dir", s"$work/spark-local")
    .getOrCreate()
  spark.sparkContext.setLogLevel("ERROR")

  override def afterAll(): Unit = {
    spark.stop()
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(work))
  }

  test("sync: the Derby store equals the model until it is corrupted") {
    val plan = SyncGen.generate(11)
    val store = SyncWorkload.createStore(s"$work/derby")
    val model = new SyncModel
    SyncWorkload.run(spark, plan, store, JdbcProbe.factory(store.url, traced = false),
      model, new Tracer(false), System.nanoTime(), 6)
    assert(SyncWorkload.check(store, model) == Nil)

    val corruptions = Seq(
      "employees" -> "UPDATE employees SET phone = 'x' WHERE id = 1",
      "geocoding" -> ("UPDATE tasks SET latitude = NULL WHERE task_id = " +
        s"${model.geo.keys.min}"),
      "task_executors" -> "DELETE FROM task_executors WHERE task_id = 1",
      "scraper_status" -> "UPDATE scraper_status SET last_processed_date = CURRENT_TIMESTAMP")
    corruptions.foreach { case (table, sql) =>
      store.exec(sql)
      val problems = SyncWorkload.check(store, model)
      assert(problems.exists(_.startsWith(table)), s"$table: $problems")
    }
  }
}
