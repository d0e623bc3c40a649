package graft.operators

import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StringType, StructField,
  StructType}

import graft.SparkSpec
import graft.functions.ContentHash
import graft.sources.LocalRows
import graft.streaming.RawBatches

/** K4 (task_test.go:16-150), K5/J1 (task_test.go:203-280),
  * S5/S6/K6 (scraper_status_test.go:18-112), T8 gate.
  */
class OperatorSpecs extends SparkSpec {
  import spark.implicits._

  test("dimension get-or-create: existing kept, new ids continue after max, idempotent") {
    val dim = Seq((1, "Existing Type")).toDF("type_id", "type_name")
    val incoming = Seq("Existing Type", "New Type", "Another", "New Type", null)
      .toDF("type_name")
    val out = Dimension.getOrCreate(dim, incoming, "type_id", "type_name")
    val m = out.as[(Int, String)].collect().toMap
    assert(m == Map(1 -> "Existing Type", 2 -> "Another", 3 -> "New Type"))
    // re-running with the result as the dimension changes nothing (race-safe re-read)
    val again = Dimension.getOrCreate(out, incoming, "type_id", "type_name")
    assert(again.as[(Int, String)].collect().toMap == m)
  }

  test("dimension get-or-create: cardinality contract enforced, not just documented") {
    val dim = Seq((1, "Existing Type")).toDF("type_id", "type_name")
    val wide = (1 to 10).map(i => s"t$i").toDF("type_name")
    // under the cap: fine (one tiny eager count over the new-name set)
    assert(Dimension.getOrCreate(dim, wide, "type_id", "type_name", maxNew = 10)
      .count() == 11)
    // past the cap, count-only action — the shape that proved a projected
    // raise_error guard gets column-pruned (r5 defect): must still throw
    val ex = intercept[Exception] {
      Dimension.getOrCreate(dim, wide, "type_id", "type_name", maxNew = 9).count()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(ex).exists(_.contains("store-assigned keys")))
    // stronger: the eager guard fires at call time, before ANY action
    val ex2 = intercept[Exception] {
      Dimension.getOrCreate(dim, wide, "type_id", "type_name", maxNew = 9)
    }
    assert(msgs(ex2).exists(_.contains("store-assigned keys")))
  }

  test("bridge resolve: unmatched shortname yields NULL executor_id, kept by LEFT join (J1)") {
    val tasks = Seq((101L, Seq("E1", "Ghost")), (102L, Seq.empty[String]))
      .toDF("task_id", "executors")
    val employees = Seq((7L, "E1")).toDF("id", "shortname")
    val out = Bridge.resolveExecutors(tasks, employees,
        "task_id", "executors", "id", "shortname")
      .as[(Long, Option[String], Option[Long])].collect().toSet
    assert(out == Set(
      (101L, Some("E1"), Some(7L)),
      (101L, Some("Ghost"), None),   // NULL id, row NOT dropped
      (102L, None, None)))           // empty array still visible
  }

  /** A store snapshot as a loader hands it over: a local frame. */
  private def snapshot(rows: Seq[Row], cols: (String, DataType)*): DataFrame =
    spark.createDataFrame(rows.asJava, StructType(cols.map { case (n, t) => StructField(n, t) }))

  test("dimension index: a parquet-read snapshot gives the local snapshot's map (K4)") {
    val local = snapshot(Seq(Row(1, "repair"), Row(2, "install"), Row(3, null)),
      "type_id" -> IntegerType, "type_name" -> StringType)
    val onDisk = RawBatches.onDisk(local)
    assert(LocalRows.of(local).isDefined)
    assert(LocalRows.of(onDisk).isEmpty, "read through collect()")
    val want = Map("repair" -> 1, "install" -> 2)
    assert(Dimension.index(local, "type_id", "type_name") == want)
    assert(Dimension.index(onDisk, "type_id", "type_name") == want)
  }

  test("shortname index: a parquet-read snapshot gives the local snapshot's map (J1)") {
    val local = snapshot(Seq(Row(1L, "ann"), Row(3L, "cat"), Row(4L, "cat"), Row(5L, null)),
      "id" -> LongType, "shortname" -> StringType)
    val onDisk = RawBatches.onDisk(local)
    assert(LocalRows.of(local).isDefined)
    assert(LocalRows.of(onDisk).isEmpty, "read through collect()")
    val want = Map("ann" -> Seq(1L), "cat" -> Seq(3L, 4L))
    assert(Bridge.shortnameIndex(local, "id", "shortname") == want)
    assert(Bridge.shortnameIndex(onDisk, "id", "shortname") == want)
  }

  test("watermark: latest by updated_at; epoch default when empty (S5/S6)") {
    val status = Seq(
      (Timestamp.valueOf("2024-03-01 00:00:00"), Timestamp.valueOf("2024-03-02 08:00:00")),
      (Timestamp.valueOf("2024-04-01 00:00:00"), Timestamp.valueOf("2024-04-02 09:00:00"))
    ).toDF("last_processed_date", "updated_at")
    val latest = Watermark.latest(status, "last_processed_date", "updated_at")
      .as[Timestamp].head()
    assert(latest == Timestamp.valueOf("2024-04-01 00:00:00"))
    val fallback = Watermark.latestOrEpoch(status.limit(0),
      "last_processed_date", "updated_at").as[Timestamp].head()
    assert(fallback == Timestamp.valueOf("2024-01-01 00:00:00"))
  }

  test("watermark advance and backfill range (K6, tasks.go:165)") {
    val advanced = Seq(Timestamp.valueOf("2024-02-28 13:45:00")).toDF("d")
      .select(Watermark.advance($"d").as("d")).as[Timestamp].head()
    assert(advanced == Timestamp.valueOf("2024-02-29 00:00:00")) // leap year
    val days = Watermark.backfillDays(spark,
      Timestamp.valueOf("2024-01-30 10:00:00"),
      Timestamp.valueOf("2024-02-02 00:00:00")).as[Timestamp].collect()
    assert(days.length == 4)
    assert(days.head == Timestamp.valueOf("2024-01-30 00:00:00"))
    assert(days.last == Timestamp.valueOf("2024-02-02 00:00:00"))
  }

  test("shouldProcess gate matrix (T8, employees.go:97-101)") {
    assert(!ContentHash.shouldProcess(Some("h1"), Some("h1"), batchNonEmpty = true))
    assert(ContentHash.shouldProcess(Some("h2"), Some("h1"), batchNonEmpty = true))
    assert(ContentHash.shouldProcess(Some("h1"), None, batchNonEmpty = true))
    assert(!ContentHash.shouldProcess(Some("h2"), Some("h1"), batchNonEmpty = false))
  }
}
