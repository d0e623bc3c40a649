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
    val frames = Seq(
      "local" -> local,
      "toDF" -> local.toDF("i", "n", "t", "g", "a", "p"),
      "select" -> local.select(col("id").cast("int").as("id"), upper(col("name")),
        year(col("at")), size(col("tags")), col("amount") * 2, col("point.x"),
        expr("nvl(name, 'none')").as("nvl"), // a RuntimeReplaceable expression
        concat(lit("gen-"), substring(md5(col("id").cast("string")), 1, 12))),
      "withColumn" -> local.withColumn("flag", col("name").rlike("^[a-z]+$")))
    frames.foreach { case (shape, df) =>
      val rows = LocalRows.of(df)
      assert(rows.isDefined, s"$shape: driver-resident")
      assert(rows.get == df.collect().toSeq, shape)
      assert(rows.get.forall(_.schema == df.schema), s"$shape: rows carry the schema")
    }
  }

  test("any other plan is not driver-resident and reads through collect()") {
    val frames = Seq(
      "filter" -> local.filter(col("id") > 1),
      "nested projection" -> local.select(col("id")).select(col("id") + 1),
      "nondeterministic" -> local.select(col("id"), rand()),
      "aggregate" -> local.groupBy().count(),
      "parquet read" -> RawBatches.onDisk(local))
    frames.foreach { case (shape, df) =>
      assert(LocalRows.of(df).isEmpty, s"$shape: not driver-resident")
      assert(LocalRows.collect(df).map(_.toSeq) == df.collect().toSeq.map(_.toSeq), shape)
    }
  }
}
