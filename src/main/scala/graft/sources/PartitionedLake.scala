package graft.sources

import java.io.File

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables

/** Date-partitioned lake layout for the event stream.
  *
  * At 100 TB the events table is not one parquet file but a
  * `dt=YYYY-MM-DD/` partitioned lake, and a backfill over a day range
  * (SURVEY §2 S2, reference tasks.go:79-127) must scan ONLY that
  * range's partitions — Catalyst partition pruning, visible in the
  * plan as `PartitionFilters` — never the whole table. The driver's
  * test data ships as flat parquet, so [[eventsByDay]] materializes a
  * partitioned copy once per source dir (write-once, content-keyed
  * cache under the JVM temp dir; the read-only testdata dir is never
  * touched) and all partitioned-lake queries read that.
  *
  * The partition column `dt` is the UTC event day rendered as a
  * string — the layout every date-partitioned warehouse uses, and the
  * one DuckDB/Spark agree on byte-for-byte (no timezone or epoch-unit
  * ambiguity in the partition values).
  */
object PartitionedLake {

  /** Structural fingerprint of the source file or directory — cheap
    * change detection so a regenerated events.parquet invalidates the
    * cached partitioned copy instead of silently serving stale data.
    * Hashes the sorted per-child (name, length, mtime) tuples plus the
    * child count, recursing one level into subdirectories — a
    * same-total-size, mtime-preserving rewrite (which a summed-length
    * + max-mtime digest cannot see) still changes some child tuple.
    */
  private def fingerprint(f: File, depth: Int = 0): String =
    if (f.isDirectory) {
      val kids = Option(f.listFiles()).getOrElse(Array.empty[File]).sortBy(_.getName)
      val parts = kids.map { k =>
        if (k.isDirectory && depth < 1) s"${k.getName}:${fingerprint(k, depth + 1)}"
        else s"${k.getName}:${k.length()}:${k.lastModified()}"
      }
      s"d${kids.length}[${parts.mkString(",")}]"
    } else s"f${f.length()}m${f.lastModified()}"

  private def deleteRecursively(f: File): Unit = {
    if (f.isDirectory)
      Option(f.listFiles()).getOrElse(Array.empty[File]).foreach(deleteRecursively)
    f.delete(): Unit
  }

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Deterministic location of the partitioned copy of
    * `$sfDir/events.parquet` — keyed by a stable per-source slug PLUS
    * the source fingerprint, so repeated verify/bench runs in one
    * container reuse the first write, a regenerated source gets a
    * fresh copy, and superseded copies of the SAME source are
    * identifiable by their shared slug (and swept in [[eventsByDay]]).
    */
  def eventsPath(sfDir: String): String = {
    val slug = md5Hex(sfDir).take(8)
    val fp = md5Hex(fingerprint(new File(s"$sfDir/events.parquet"))).take(8)
    new File(sys.props("java.io.tmpdir"), s"graft-lake-events-$slug-$fp").getPath
  }

  /** The events table as a `dt`-partitioned lake, materializing the
    * partitioned copy on first use (skipped when `_SUCCESS` exists).
    * Guarded by a cross-process file lock — `this.synchronized` only
    * serializes one JVM, but Verify and Bench may run as separate JVMs
    * against the same temp path; an unguarded double-write would
    * corrupt the copy.
    */
  def eventsByDay(spark: SparkSession, sfDir: String): DataFrame = {
    val path = eventsPath(sfDir)
    this.synchronized {
      val ch = java.nio.channels.FileChannel.open(
        java.nio.file.Paths.get(s"$path.lock"),
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.WRITE)
      try {
        val lock = ch.lock()
        try {
          if (!new File(path, "_SUCCESS").exists()) {
            Tables.events(spark, sfDir)
              .withColumn("dt", date_format(col("ts"), "yyyy-MM-dd"))
              .write.mode(SaveMode.Overwrite)
              .partitionBy("dt")
              .parquet(path)
          }
          // sweep superseded copies of THIS source (same slug, older
          // fingerprint) and their lock files, so regenerated test
          // data doesn't accumulate full-size dead copies in the temp
          // dir. A sibling whose lock another live process holds is
          // SKIPPED — deleting a copy mid-WRITE would leave that
          // process a torn directory. (Readers don't hold the lock;
          // a reader of an unlocked stale copy was already reading
          // superseded data and a deleted-file read fails loudly,
          // not silently.)
          val base = new File(path)
          val prefix = base.getName.substring(0, base.getName.lastIndexOf('-') + 1)
          val keep = Set(base.getName, s"${base.getName}.lock")
          Option(base.getParentFile.listFiles()).getOrElse(Array.empty[File])
            .filter(f => f.getName.startsWith(prefix) && !keep(f.getName))
            .filterNot(_.getName.endsWith(".lock"))
            .foreach { stale =>
              val staleLock = new File(s"${stale.getPath}.lock")
              val sch = java.nio.channels.FileChannel.open(staleLock.toPath,
                java.nio.file.StandardOpenOption.CREATE,
                java.nio.file.StandardOpenOption.WRITE)
              try {
                val held = sch.tryLock()
                if (held != null) {
                  try { deleteRecursively(stale) } finally held.release()
                  staleLock.delete(): Unit
                }
              } finally sch.close()
            }
        } finally lock.release()
      } finally ch.close()
    }
    spark.read.parquet(path)
  }
}
