package graft.sources

import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.streaming.RawBatches

/** `LocalRows` reads a driver-resident frame as `collect()` would, and
  * declines every other plan.
  */
class LocalRowsSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("name", StringType),
    StructField("at", TimestampType),
    StructField("tags", ArrayType(StringType)),
    StructField("amount", DecimalType(10, 2)),
    StructField("point", StructType(Seq(StructField("x", DoubleType))))))

  private lazy val local: DataFrame = spark.createDataFrame(Seq(
    Row(1L, "ann", Timestamp.valueOf("2024-01-02 10:00:00"), Seq("a", null),
      new java.math.BigDecimal("1.50"), Row(0.5)),
    Row(2L, null, null, null, null, null),
    Row(3L, "", Timestamp.valueOf("0001-01-01 00:00:00"), Seq.empty[String],
      new java.math.BigDecimal("-2.25"), Row(-1.0))).asJava, schema)

  test("a local frame and one projection of it read as collect() does") {
    val rows = LocalRows.of(local)
    assert(rows.isDefined, "local: driver-resident")
    assert(rows.get == local.collect().toSeq, "local")
    assert(rows.get.forall(_.schema == local.schema), "local: rows carry the schema")
    val projections = Seq(
      "renamed" -> local.columns.toSeq.zip(Seq("i", "n", "t", "g", "a", "p"))
        .map { case (from, to) => col(from).as(to) },
      "computed" -> Seq(col("id").cast("int").as("id"), upper(col("name")),
        year(col("at")), size(col("tags")), col("amount") * 2, col("point.x"),
        expr("nvl(name, 'none')").as("nvl"), // a RuntimeReplaceable expression
        concat(lit("gen-"), substring(md5(col("id").cast("string")), 1, 12))),
      "star and flag" -> Seq(col("*"), col("name").rlike("^[a-z]+$").as("flag")))
    projections.foreach { case (shape, columns) =>
      val df = local.select(columns: _*)
      val rows = LocalRows.project(local, columns)
      assert(rows.isDefined, s"$shape: driver-resident")
      assert(rows.get == df.collect().toSeq, shape)
      assert(rows.get.forall(_.schema == df.schema), s"$shape: rows carry the schema")
    }
  }

  test("any other plan is not driver-resident and reads through collect()") {
    val frames = Seq(
      "projection" -> local.select(col("id"), col("name")),
      "filter" -> local.filter(col("id") > 1),
      "nested projection" -> local.select(col("id")).select(col("id") + 1),
      "nondeterministic" -> local.select(col("id"), rand()),
      "aggregate" -> local.groupBy().count(),
      "parquet read" -> RawBatches.onDisk(local))
    frames.foreach { case (shape, df) =>
      assert(LocalRows.of(df).isEmpty, s"$shape: not driver-resident")
      assert(LocalRows.collect(df, df.columns.toSeq: _*).map(_.toSeq) ==
        df.collect().toSeq.map(_.toSeq), shape)
    }
  }

  test("a projection stated as columns reads as select(...).collect() does, " +
    "and binds anew when the time zone or ANSI mode changes") {
    val s = StructType(Seq(StructField("at", TimestampType), StructField("n", StringType)))
    val columns = Seq(hour(col("at")).as("h"), col("n").cast("int").as("n"))
    def frame(n: String) = spark.createDataFrame(
      Seq(Row(new Timestamp(3 * 3600 * 1000L), n), Row(null, null)).asJava, s)
    def inConf(zone: String, ansi: Boolean)(body: => Unit): Unit = {
      val saved = Seq("spark.sql.session.timeZone", "spark.sql.ansi.enabled")
        .map(k => k -> spark.conf.get(k))
      spark.conf.set("spark.sql.session.timeZone", zone)
      spark.conf.set("spark.sql.ansi.enabled", ansi)
      try body finally saved.foreach { case (k, v) => spark.conf.set(k, v) }
    }
    def same(df: DataFrame): Seq[Row] = {
      val rows = LocalRows.project(df, columns)
      assert(rows.contains(df.select(columns: _*).collect().toSeq))
      rows.get
    }
    Seq("UTC" -> 3, "America/Los_Angeles" -> 19, "UTC" -> 3).foreach { case (zone, h) =>
      inConf(zone, ansi = false) {
        assert(same(frame("12")) == Seq(Row(h, 12), Row(null, null)), zone)
        assert(same(frame("x")) == Seq(Row(h, null), Row(null, null)), zone)
      }
      inConf(zone, ansi = true) {
        assert(same(frame("12")) == Seq(Row(h, 12), Row(null, null)), zone)
        intercept[Exception](frame("x").select(columns: _*).collect())
        intercept[Exception](LocalRows.project(frame("x"), columns))
      }
    }
  }

  test("a projection stated as columns is bound per column order of its input, " +
    "and declined over any other plan or with a nondeterministic column") {
    val reordered = spark.createDataFrame(local.collect().toSeq.map(r =>
      Row.fromSeq(r.toSeq.reverse)).asJava, StructType(schema.fields.reverse))
    val columns = Seq(col("name"), (col("id") + 1).as("next"), col("point.x"))
    Seq(local, reordered, local).foreach { df =>
      assert(LocalRows.project(df, columns).contains(df.select(columns: _*).collect().toSeq))
    }
    assert(LocalRows.project(local.filter(col("id") > 1), columns).isEmpty, "filter")
    assert(LocalRows.project(RawBatches.onDisk(local), columns).isEmpty, "parquet read")
    assert(LocalRows.project(local, columns :+ rand()).isEmpty, "nondeterministic")
  }
}
