package graft.sources

import java.io.File

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The partitioned events lake's cached copy follows its source. */
class PartitionedLakeSpec extends SparkSpec with org.scalatest.BeforeAndAfterAll {
  import spark.implicits._

  private val tempDirs = scala.collection.mutable.ArrayBuffer.empty[String]

  override def afterAll(): Unit =
    tempDirs.foreach(d => scala.reflect.io.Directory(new File(d)).deleteRecursively())

  private def tempDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix).toString
    tempDirs += d
    d
  }

  test("eventsPath tracks the source fingerprint: regenerated data gets a fresh cache") {
    val src = tempDir("graft-lake-src")
    val f = new File(src, "events.parquet")
    java.nio.file.Files.write(f.toPath, Array[Byte](1, 2, 3))
    val p1 = PartitionedLake.eventsPath(src)
    // same content, same mtime → same cache path (write-once reuse)
    assert(PartitionedLake.eventsPath(src) == p1)
    // regenerated source (different size/mtime) → different cache path
    java.nio.file.Files.write(f.toPath, Array[Byte](1, 2, 3, 4))
    f.setLastModified(f.lastModified() + 5000)
    assert(PartitionedLake.eventsPath(src) != p1,
      "stale cache would be served after the source changed")
  }
}
