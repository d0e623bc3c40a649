package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.CorpusStats

/** Replay-safe, crash-safe persistence for the incrementally maintained
  * corpus-statistics tables (line-df, token-df, bigram-LM counts, the
  * DSIR feature model — any additive (keys, counts) shape).
  *
  * THE HAZARD THIS CLOSES: a bare `foreachBatch` maintenance loop that
  * folds every delivered micro-batch into the stats table is WRONG
  * under Structured Streaming's at-least-once contract — after a
  * crash/restart the engine re-delivers the last uncommitted batch, a
  * naive fold counts it twice, and additive merges have no way to
  * notice (the negative-count guard in
  * [[graft.operators.CorpusStats.retractStats]] catches deflation, not
  * inflation). The fix is the reference's own watermark pattern
  * (`/root/reference/internal/services/tasks/tasks.go:155-169`: record
  * progress WITH the write, absorb replays by idempotence), applied to
  * the stats store:
  *
  *  - the last-folded micro-batch id (the WATERMARK) is persisted
  *    INSIDE the commit marker of every published table version, so
  *    table and watermark commit atomically and can never drift apart;
  *  - a delivered batch with id ≤ the watermark is a replay and is
  *    SKIPPED — the fold is idempotent per batch id;
  *  - each fold publishes a complete new table version and only then
  *    retires the old one, so readers always see exactly one fully
  *    committed table.
  *
  * ATOMIC PUBLISH, rename-free: a write goes to its own fresh
  * directory `v=<n>` (n = a monotonic VERSION counter, independent of
  * batch ids) and then creates a commit marker file inside it (leading
  * underscore — invisible to Spark's parquet reader) carrying the
  * watermark. "Current table" is THE HIGHEST-n DIRECTORY WHOSE MARKER
  * PARSES — marker creation and content write are two steps on
  * HDFS/local FS, so an empty or partial marker (crash between them)
  * counts as torn, not as committed. A crash mid-write leaves a torn
  * directory that readers ignore and the next write prunes; a crash
  * after the marker's content lands but before old-version cleanup
  * leaves two committed
  * versions, of which readers use the newer and the next write prunes
  * the older. The version-counter namespace stands in for a staging
  * directory's rename on purpose: directory renames are
  * not atomic on object stores, while "create a marker file, pick the
  * max committed version" is correct on any store with atomic
  * single-file creation.
  *
  * The version counter is SEPARATE from the batch watermark so that
  * OFFLINE maintenance — [[retractBatch]] deleting a day
  * ([[graft.operators.CorpusStats.retractStats]]), or any future
  * rewrite/compaction — can publish new versions without advancing the
  * watermark: a retraction must never cause a genuinely new micro-batch
  * to be skipped as a replay.
  *
  * SINGLE-WRITER CONTRACT: at most one publisher (the streaming fold
  * OR an offline [[retractBatch]]) may run against a store at a time —
  * exactly the contract a lakehouse table's transaction log enforces.
  * The store does not serialize concurrent writers; it makes a
  * violation LOSE LOUDLY instead of losing an update silently, with
  * four cheap mechanisms that need nothing beyond atomic single-file
  * creation: (1) a version directory is MINTED by exclusively creating
  * a `_GRAFT_RESERVED` file inside it, so two writers can never write
  * parquet into the same directory; (2) every publish re-lists the
  * store after its parquet write and ABORTS (deleting its own torn
  * directory) unless the newest committed version is still the one its
  * table was derived from — the lost-update check; (3) the commit
  * marker is created exclusively; and (4) after its own marker lands,
  * a publish re-lists once more and RAISES if a foreign version
  * committed in the milliseconds between the re-validate and the
  * marker — the post-commit detector. That last window cannot be
  * CLOSED without a compare-and-swap primitive generic filesystems
  * don't have (Delta's log-entry-create trick buys it only by making
  * data files immutable-append, a different store design), but a race
  * landing inside it is now detected AND classified, not merely
  * documented: each committed version's lineage sidecar records its
  * writer nonce and base ref (see [[Marker]]), so the detector tells
  * the operator whether a conflicting delta is SHADOWED (sibling —
  * refold it) or ABSORBED (descendant — no data lost). Under the
  * documented single-writer operation none of this triggers at all.
  *
  * Works for all four maintained shapes through one code path (the
  * generic [[graft.operators.CorpusStats.mergeStats]]):
  * {{{
  * // line-df:    keys = Seq("line_key"),  counts = Seq("line_df")
  * // token-df:   keys = Seq("token"),     counts = Seq("token_df")
  * // bigram-LM:  keys = Seq("w1", "bg"),  counts = Seq("n")
  * // DSIR model: keys = Seq("bucket"),    counts = Seq("tgt_n", "raw_n")
  * StatsMaintenance.start(stream, path, Seq("line_key"), Seq("line_df"),
  *   b => CorpusStats.lineDf(b, "doc_id", "text"), checkpointDir)
  * }}}
  *
  * EXACTNESS: each committed fold is exact under the same precondition
  * as the additive merges — the micro-batches partition the document
  * space (Structured Streaming delivers each input row in exactly one
  * batch id, so with the replay skip the precondition holds by
  * construction). Scale shape per fold: one partial over the BATCH
  * (O(day)), one union+sum against the Heaps-law-sized stats table, one
  * table-sized write — the corpus is never rescanned (measured 3.5-4.7x
  * cheaper than recompute at a 10:1 history:day ratio,
  * `bench_evidence/r11_incremental_stats_probe.txt`; the gap scales
  * with the ratio).
  */
object StatsMaintenance {

  /** Raised by the POST-COMMIT foreign-commit detector — and ONLY by
    * it. CRITICAL RETRY SEMANTICS: when a publish throws THIS type,
    * the publish's own version IS COMMITTED — either its marker still
    * parses with its own nonce, or a foreign committed marker RECORDS
    * it as its base (the foreign writer witnessed the commit, derived
    * from it, and pruned the directory under its retention). A retry
    * loop that treats every publish exception as
    * "not committed" and replays the fold would apply the
    * same delta twice — the exact double-apply the detector exists to
    * flag. Treat this exception as NON-RETRYABLE: the store needs
    * operator attention, not a replay. Every
    * OTHER publish failure (lost-update abort, reservation clash,
    * pruned-while-torn, IO error before the marker) leaves this
    * publish uncommitted and torn-invisible, and MAY be retried.
    *
    * THE MESSAGE CLASSIFIES each committed version against the VISIBLE
    * LINEAGE (the base-ref chain walked down from the highest
    * committed version, nonce-verified step by step):
    *  - "absorbed into the visible lineage" / "no data lost": a
    *    DESCENDANT topology — the other writer derived from this
    *    commit, so this delta is IN the table readers see; no data
    *    repair is needed (the contract violation still wants fixing).
    *  - "SHADOWED": a SIBLING topology — that version's delta is
    *    absent from the visible table; recompute its partial and
    *    [[refoldBatch]] it.
    *  - "lineage unverifiable": a legacy (v0) marker or a pruned
    *    intermediate broke the walk — verify by hand before repair.
    *
    * REPAIR RUNBOOK (tested: `StatsMaintenanceSpec` "both-commit"
    * drills + `tools/ConflictRepairProbe`): list the committed
    * versions. Readers see only the HIGHEST, which contains its own
    * writer's delta over the shared base — every other conflicting
    * version's delta is SHADOWED (absent from the visible table),
    * EXCEPT when both writers folded the SAME batch (equal marker
    * watermarks): then the deltas were identical partials, the
    * visible table is already exact, and no data repair is needed
    * (the next publish prunes the duplicate version). For a genuinely
    * shadowed delta, recompute its partial and [[refoldBatch]] it
    * into the visible table — [[foldBatch]] cannot do this repair
    * (its watermark skip absorbs any batch id ≤ the visible
    * watermark, silently losing the delta), and blindly re-merging
    * `current ⊕ partial` and publishing double-applies whenever the
    * delta DID land (additive merges cannot detect inflation — the
    * spec demonstrates both failure modes).
    */
  final class PostCommitConflictException(msg: String)
    extends IllegalStateException(msg)

  /** Commit marker created inside a version directory AFTER its
    * parquet write completes; "committed" = the marker's content
    * PARSES **and** at least one data file sits beside it — a present
    * but empty/garbled marker is a torn version (creation and content
    * write are separate steps on stores without atomic PUT), and so is
    * a marker-only directory (a foreign prune racing the seamless
    * re-validate→create window can delete the parquet and let the
    * marker create resurrect the path — see `versions`). Our own file
    * rather than Spark's `_SUCCESS`, which can be disabled by
    * committer configuration.
    *
    * MARKER FORMAT — two files, so every binary generation reads every
    * store correctly and NO generation can destroy another's commits:
    *
    *  - `_GRAFT_COMMITTED` (this file, THE commit point): the bare
    *    batch watermark as a decimal long — the original v0 format,
    *    written FOREVER. A v0-era binary pointed at a store written by
    *    this code parses every committed version exactly as it always
    *    did: correct watermark, correct table, and its torn-prune never
    *    fires on a committed version. The one-way-migration hazard the
    *    r16 single-file format carried (a v1 marker reads as TORN to a
    *    v0 binary, whose next publish then PRUNES committed versions —
    *    silent data destruction by a correct-looking old binary) is
    *    gone by construction.
    *  - `_GRAFT_COMMITTED_V1` ([[MarkerV1File]], the lineage sidecar):
    *    one line `v1 wm=<long> nonce=<uuid> base=<n>:<nonce>|none`,
    *    written-and-closed BEFORE the commit marker is created, so a
    *    committed version written by this code ALWAYS has its sidecar.
    *    The WRITER NONCE makes ownership checkable (a re-reserved
    *    version NUMBER with the same watermark cannot impersonate this
    *    publish's commit), and the BASE REF records which committed
    *    version (number AND nonce) the table was derived from, so a
    *    post-commit conflict can be classified as sibling (delta
    *    shadowed — repair) vs descendant (delta absorbed — no data
    *    lost). A base built on a sidecar-less version records
    *    `base=<n>:legacy` (number witnessed, nonce unverifiable). A
    *    missing, unparsable, or watermark-mismatched sidecar NEVER
    *    un-commits a version — it only degrades it to
    *    [[LegacyMarker]] (committed, lineage unverifiable), because
    *    the commit point is the marker file alone. Underscore prefix:
    *    invisible to Spark's parquet reader and to the data-beside
    *    check.
    *
    * READ COMPATIBILITY: the r16 interim format (the full
    * `v1 wm=…` line written INTO `_GRAFT_COMMITTED` itself) is still
    * parsed — those stores stay usable in place, and each new publish
    * writes the two-file format, so retention migrates such a store
    * back to full v0-readability within `retain` publishes. Only
    * r16-format versions still carry the retire-old-binaries gate;
    * stores written purely by this code need no gate at all.
    */
  val Marker = "_GRAFT_COMMITTED"

  /** Lineage sidecar beside [[Marker]] — nonce + base ref; see the
    * format notes on [[Marker]]. Written before the marker, read only
    * for versions whose marker parses, never load-bearing for the
    * commit decision itself.
    */
  val MarkerV1File = "_GRAFT_COMMITTED_V1"

  /** Parsed commit-marker content. [[LegacyMarker]] = format v0
    * (watermark only, no ownership or lineage info); [[MarkerV1]]
    * carries the writer nonce and the base ref — see [[Marker]].
    */
  private[graft] sealed trait MarkerInfo { def watermark: Long }
  private[graft] final case class LegacyMarker(watermark: Long)
    extends MarkerInfo
  private[graft] final case class MarkerV1(watermark: Long, nonce: String,
      base: Option[(Long, String)]) extends MarkerInfo

  /** Base-ref nonce recorded when the base version carries a legacy
    * (v0) marker: the base's NUMBER is witnessed, its nonce is not.
    */
  private val LegacyNonce = "legacy"

  private[graft] def parseMarker(content: String): Option[MarkerInfo] = {
    val t = content.trim
    t.toLongOption match {
      case Some(wm) => Some(LegacyMarker(wm))
      case None =>
        val fields = t.split("\\s+").toSeq
        if (!fields.headOption.contains("v1")) None
        else {
          val kv = fields.tail.flatMap(_.split("=", 2) match {
            case Array(k, v) => Some(k -> v)
            case _ => None
          }).toMap
          for {
            wm <- kv.get("wm").flatMap(_.toLongOption)
            nonce <- kv.get("nonce").filter(_.nonEmpty)
            base <- kv.get("base").flatMap {
              case "none" => Some(None)
              case s => s.split(":", 2) match {
                case Array(n, bn) if n.toLongOption.isDefined && bn.nonEmpty
                  => Some(Some((n.toLong, bn)))
                case _ => None
              }
            }
          } yield MarkerV1(wm, nonce, base)
        }
    }
  }

  private def renderSidecar(watermark: Long, nonce: String,
      base: Option[(Long, MarkerInfo)]): String = {
    val baseField = base match {
      case None => "none"
      case Some((n, m: MarkerV1)) => s"$n:${m.nonce}"
      case Some((n, _: LegacyMarker)) => s"$n:$LegacyNonce"
    }
    s"v1 wm=$watermark nonce=$nonce base=$baseField"
  }

  /** Reservation file created EXCLUSIVELY (overwrite=false) to mint a
    * version directory before anything is written into it — two
    * concurrent publishers can therefore never write parquet into the
    * same directory. Leading underscore: invisible to Spark's parquet
    * reader, like [[Marker]].
    */
  private[graft] val Reserved = "_GRAFT_RESERVED"

  private val VersionPrefix = "v="

  /** Test seam: invoked with a named point inside [[publish]] so crash
    * tests can kill a write at the REAL code-path windows
    * ("post-reserve", "post-parquet", "post-sidecar", "marker-open",
    * "post-marker") instead of hand-building post-crash layouts. No-op
    * in production.
    */
  private[graft] var testCrashPoint: String => Unit = _ => ()

  /** Test seam: invoked with each version directory just before its
    * marker/data reads inside [[versions]], so the
    * pruned-mid-listing race (a concurrent retention prune deleting
    * the directory between the listing and the per-directory reads)
    * can be manufactured at the real window. No-op in production.
    */
  private[graft] var testVersionsHook: Path => Unit = _ => ()

  private def fileSystem(spark: SparkSession, path: String) =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** (version, dir, parsed marker) for all version directories; marker
    * None for torn ones.
    */
  private def versions(spark: SparkSession, path: String)
      : Seq[(Long, Path, Option[MarkerInfo])] = {
    val root = new Path(path)
    val fs = fileSystem(spark, path)
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq
      .filter(_.isDirectory)
      .map(_.getPath)
      .flatMap(p => p.getName.stripPrefix(VersionPrefix).toLongOption
        .filter(_ => p.getName.startsWith(VersionPrefix))
        .map(n => (n, p)))
      .map { case (n, p) =>
        // the whole per-directory read is racing a concurrent retention
        // prune (the documented single WRITER beside independent
        // READERS calling readStats/lastFolded): the directory — or any
        // file inside it — can vanish between the listing above and the
        // reads below. A vanished directory is a SUPERSEDED version
        // mid-delete, which is exactly what a torn version looks like
        // to a reader: classify it torn instead of crashing the scan.
        try {
          testVersionsHook(p)
          (n, p, readCommitted(fs, p))
        } catch {
          case _: java.io.FileNotFoundException => (n, p, None)
        }
      }
  }

  /** The parsed marker of one version directory, or None if torn. See
    * [[Marker]] for the commit rule: content parses AND data beside it.
    */
  private def readCommitted(fs: org.apache.hadoop.fs.FileSystem, p: Path)
      : Option[MarkerInfo] = {
    val m = new Path(p, Marker)
    val mi = if (!fs.exists(m)) None
    else {
      // an empty/unparsable marker IS a torn version: marker
      // creation and content write are two steps on HDFS/local FS
      // (not one atomic PUT), so a crash in between leaves an empty
      // marker. Safe to discard — the commit point is the CONTENT
      // landing, and a crash before it means the engine never
      // committed the batch's offsets, so re-delivery refolds.
      // (toLong here once bricked the store with
      // NumberFormatException on every subsequent read.)
      parseMarker(readSmallFile(fs, m)) match {
        case Some(LegacyMarker(wm)) =>
          // v0-format marker: the lineage, if any, lives in the
          // sidecar. A missing/unparsable/mismatched sidecar degrades
          // to LegacyMarker — the marker alone is the commit point, so
          // sidecar damage may cost lineage info but can never
          // un-commit a version or invite a destructive repair.
          val sc = new Path(p, MarkerV1File)
          // any sidecar READ failure (vanished, checksum/bit rot)
          // degrades the same way as unparsable content: the sidecar
          // is supplementary, and crashing the whole scan on it would
          // brick reads over a file the commit rule never needed
          val upgraded =
            try {
              if (!fs.exists(sc)) None
              else parseMarker(readSmallFile(fs, sc)).collect {
                case v: MarkerV1 if v.watermark == wm => v
              }
            } catch { case _: java.io.IOException => None }
          Some(upgraded.getOrElse(LegacyMarker(wm)))
        case other => other // r16 single-file v1, or unparsable (torn)
      }
    }
    // a parsable marker ALONE does not commit a version — there
    // must be data beside it. The marker create can RESURRECT a
    // directory a foreign prune deleted in the seamless window
    // between this publish's re-validation and its fs.create: the
    // parquet is gone, the create remakes the path, and the content
    // lands on a live file — a committed-looking directory with no
    // data, which as the max version would make every read throw
    // (store bricked until manual repair) and the publish read as
    // falsely VISIBLE. Marker-only directories are TORN: readers
    // stay on the last real table, the owner's self check turns
    // honestly retryable, and the next publish prunes the husk.
    // (A genuinely empty TABLE still commits fine — Spark writes
    // schema-bearing part files for zero rows, pinned in the
    // retraction-to-empty tests.)
    mi.filter(_ => fs.listStatus(p).exists { s =>
      val f = s.getPath.getName
      !f.startsWith("_") && !f.startsWith(".")
    })
  }

  private def readSmallFile(fs: org.apache.hadoop.fs.FileSystem,
      f: Path): String = {
    val in = fs.open(f)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
  }

  private def current(spark: SparkSession, path: String)
      : Option[(Long, Path, MarkerInfo)] =
    versions(spark, path).collect { case (n, p, Some(mi)) => (n, p, mi) }
      .sortBy(_._1).lastOption

  /** The persisted watermark: the highest micro-batch id whose fold is
    * fully committed, or None for an empty store. A batch with id ≤
    * this has already been absorbed — re-delivery must be skipped.
    */
  def lastFolded(spark: SparkSession, path: String): Option[Long] =
    current(spark, path).map(_._3.watermark).filter(_ >= 0)

  /** The current maintained table — the highest COMMITTED version; a
    * torn directory from a crashed write is never visible here. None
    * if nothing has been committed yet.
    */
  def readStats(spark: SparkSession, path: String): Option[DataFrame] =
    current(spark, path).map { case (_, p, _) =>
      spark.read.parquet(p.toString) }

  /** Mint the next free version directory by EXCLUSIVELY creating its
    * [[Reserved]] file, starting the probe at `from` (max listed + 1).
    * A lost race (another writer reserved the same n first) moves to
    * n+1; the bound only trips on a pathological storm of writers, all
    * of which are already contract violations.
    */
  private def reserve(fs: org.apache.hadoop.fs.FileSystem, path: String,
      from: Long): (Long, Path) = {
    var n = from
    var attempts = 0
    while (attempts < 64) {
      val dir = new Path(path, s"$VersionPrefix$n")
      try {
        fs.create(new Path(dir, Reserved), false).close()
        return (n, dir)
      } catch {
        case _: java.io.IOException => attempts += 1; n += 1
      }
    }
    throw new IllegalStateException(
      s"could not reserve a stats version under $path after 64 attempts " +
        "- a writer storm, which the single-writer contract forbids")
  }

  /** Publish `table` as the next committed version carrying
    * `watermark`, then prune older versions and torn debris. Commit
    * order: reserve a fresh dir (exclusive [[Reserved]] create) →
    * parquet write into it → re-validate that `base` is still the
    * newest committed version (the lost-update guard — see the
    * single-writer contract above) → marker content write+close (THE
    * commit point — table and watermark become visible together) →
    * post-commit foreign-commit detection (one more re-list; raises on
    * a race that landed inside the re-validate→marker window) → prune.
    * A crash anywhere before the marker's content lands leaves
    * a torn version readers ignore and the next publish prunes
    * (including a created-but-empty marker — parsed as torn); a crash
    * after it only defers cleanup to the next publish.
    *
    * `retain` committed versions survive the prune (counting the one
    * just published): retain = 1 keeps only the new table; a larger
    * value is the concurrent-reader lever — a scoring job that opened
    * version N stays valid while folds publish N+1..N+retain-1, the
    * same grace window a lakehouse table's retention gives. Torn
    * directories are always deleted.
    *
    * FAILURE TAXONOMY FOR CALLERS: every exception EXCEPT
    * [[PostCommitConflictException]] means this publish did NOT commit
    * (its directory is torn-invisible or already deleted) and the fold
    * may be retried. [[PostCommitConflictException]] is thrown AFTER
    * the marker landed — the version IS committed — so it must NOT be
    * replayed; see that type's scaladoc.
    *
    * @param base the committed version (number + parsed marker)
    *             `table` was derived from (None when the store was
    *             empty); publishing against any other newest-committed
    *             version is a lost update and fails loudly. The base's
    *             number and nonce are recorded in the new marker — the
    *             lineage information the post-commit classifier reads.
    */
  /** The VISIBLE LINEAGE of a committed-version listing: walk base
    * refs down from the highest committed version, verifying each
    * step's nonce against the listed marker. Returns
    * `(onLineage, complete)` — onLineage maps every version number
    * PROVEN on the visible lineage to its witnessed nonce (None when
    * the ref was `legacy`, i.e. number witnessed but nonce
    * unverifiable); complete is true iff the walk reached the
    * empty-store root (`base=none`), so versions NOT in onLineage are
    * definitely shadowed rather than merely unverifiable (legacy
    * marker, pruned intermediate, or a re-used version slot all end
    * the walk incomplete).
    */
  private[graft] def visibleLineage(committed: Map[Long, MarkerInfo])
      : (Map[Long, Option[String]], Boolean) = {
    if (committed.isEmpty) return (Map.empty, false)
    val top = committed.keys.max
    var on = Map[Long, Option[String]](top -> (committed(top) match {
      case m: MarkerV1 => Some(m.nonce)
      case _: LegacyMarker => None
    }))
    var cur = top
    while (true) {
      committed.get(cur) match {
        case Some(MarkerV1(_, _, Some((bn, bnonce)))) =>
          // a base ref is always STRICTLY OLDER than the version that
          // records it (reserve probes from max committed + 1): a ref
          // at or above its own version is store tampering/corruption
          // — stop unverifiable rather than walk a cycle forever
          if (bn >= cur) return (on, false)
          val verified = bnonce != LegacyNonce
          on += bn -> (if (verified) Some(bnonce) else None)
          committed.get(bn) match {
            case Some(m: MarkerV1) if verified && m.nonce == bnonce =>
              cur = bn // listed, nonce matches: keep walking
            case _ => return (on, false) // pruned/legacy/re-used slot
          }
        case Some(MarkerV1(_, _, None)) => return (on, true) // root
        case _ => return (on, false) // legacy marker: no lineage info
      }
    }
    (on, false) // unreachable
  }

  /** One version's repair classification against the visible lineage —
    * the [[PostCommitConflictException]] message builder.
    */
  private def classify(n: Long, committed: Map[Long, MarkerInfo],
      onLineage: Map[Long, Option[String]], complete: Boolean): String = {
    val nonceOf = committed.get(n).collect { case m: MarkerV1 => m.nonce }
    if (committed.nonEmpty && n == committed.keys.max) "VISIBLE"
    else onLineage.get(n) match {
      case Some(Some(x)) if nonceOf.contains(x) =>
        "absorbed into the visible lineage - no repair"
      case Some(None) if nonceOf.isEmpty =>
        "witnessed by number only (legacy) - verify before repair"
      case _ if complete =>
        "SHADOWED - repair: refoldBatch its delta"
      case _ =>
        "lineage unverifiable (legacy marker or pruned intermediate) - " +
          "verify before repair"
    }
  }

  private def publish(spark: SparkSession, path: String, table: DataFrame,
      watermark: Long, retain: Int, base: Option[(Long, MarkerInfo)])
      : Unit = {
    require(retain >= 1, s"retain=$retain")
    val fs = fileSystem(spark, path)
    val existing = versions(spark, path)
    val baseVersion = base.map(_._1)
    val (next, versionDir) =
      reserve(fs, path, existing.map(_._1).maxOption.getOrElse(-1L) + 1L)
    testCrashPoint("post-reserve")
    // append: the reserved dir already exists holding only the
    // (underscore-invisible) reservation file; overwrite would delete it
    table.write.mode("append").parquet(versionDir.toString)
    testCrashPoint("post-parquet")
    val now = versions(spark, path)
    val committedNow = now.collect { case (n, _, Some(_)) => n }
    if (committedNow.maxOption != baseVersion) {
      fs.delete(versionDir, true)
      throw new IllegalStateException(
        s"concurrent writer on stats store $path: derived from " +
          s"base version $baseVersion but newest committed is now " +
          s"${committedNow.maxOption} - this publish is a lost update " +
          "and was aborted (single-writer contract violated)")
    }
    val nonce = java.util.UUID.randomUUID().toString
    // lineage sidecar FIRST, fully written and closed before the
    // marker exists: a committed version written by this code always
    // has its sidecar (a crash between the two leaves a marker-less —
    // torn — directory), and the marker itself stays in the v0
    // bare-watermark format so pre-v1 binaries read and prune this
    // store correctly. See the format notes on [[Marker]].
    val side = fs.create(new Path(versionDir, MarkerV1File), false)
    try side.write(renderSidecar(watermark, nonce, base).getBytes("UTF-8"))
    finally side.close()
    testCrashPoint("post-sidecar")
    val out = fs.create(new Path(versionDir, Marker), false)
    try {
      testCrashPoint("marker-open")
      out.write(watermark.toString.getBytes("UTF-8"))
    } finally out.close()
    testCrashPoint("post-marker")
    // POST-COMMIT lost-update detector: the re-validate above closes
    // the guard down to the window between its listing and the marker
    // landing. A writer that committed INSIDE that window is invisible
    // to the guard but visible now — one cheap re-list after our own
    // commit point converts the residual race from documented to
    // DETECTED, and the v1 markers' base refs let it CLASSIFY the
    // conflict (sibling = a delta is shadowed and needs repair;
    // descendant = the foreign writer derived FROM this commit and no
    // data was lost). Nothing committed is ever deleted here.
    val after = versions(spark, path)
    val committedAfter =
      after.collect { case (n, _, Some(mi)) => n -> mi }.toMap
    // SELF check first, BY NONCE (a re-reserved version number carrying
    // the same watermark can no longer impersonate this commit): a
    // foreign writer that listed our version while its marker was still
    // empty judged it TORN and pruned the whole directory before our
    // content landed (our open stream kept writing the unlinked file,
    // so the close above still succeeded). In that interleave our delta
    // did NOT commit — raising the post-commit type here would tell the
    // operator a lie with repair consequences (they would retract a
    // delta that never landed). This is an ordinary lost update:
    // retryable. EXCEPTION: if a committed marker RECORDS our
    // (version, nonce) as its base, a foreign writer witnessed our
    // commit and derived from it before pruning our directory under its
    // retention — our delta IS committed (absorbed downstream), and a
    // retry would double-apply: that case raises the post-commit type.
    val selfCommitted = committedAfter.get(next) match {
      case Some(m: MarkerV1) => m.nonce == nonce
      case _ => false
    }
    if (!selfCommitted) {
      val witnessed = committedAfter.collect {
        case (n, MarkerV1(_, _, Some((bn, bnonce))))
          if bn == next && bnonce == nonce => n
      }.toSeq.sorted
      if (witnessed.nonEmpty) {
        val absorbed =
          visibleLineage(committedAfter)._1.get(next).contains(Some(nonce))
        throw new PostCommitConflictException(
          s"concurrent writer on stats store $path DETECTED POST-COMMIT: " +
            s"this publish's version $next COMMITTED and was then " +
            s"derived from and pruned by foreign writer(s) (version(s) " +
            s"${witnessed.mkString(",")} record it as their base) - do " +
            "NOT retry/refold this delta" +
            (if (absorbed) ": it is absorbed into the visible lineage, " +
              "no data lost"
            else ": it is committed but its descendant branch may be " +
              "shadowed - verify against the visible lineage before any " +
              "repair") +
            " (single-writer contract violated)")
      }
      // our dir was pruned as torn (delta never committed), or the slot
      // now holds a FOREIGN writer's data. Delete NOTHING: our own
      // debris is already gone in every interleave that reaches here,
      // and anything now at this path belongs to another writer —
      // committed data must never be destroyed, and a torn directory is
      // its owner's in-flight publish or the next prune's business.
      val occupant = committedAfter.get(next).map {
        case m: MarkerV1 => s"a foreign committed version (nonce ${m.nonce})"
        case _: LegacyMarker => "a foreign committed version (legacy marker)"
      }
      throw new IllegalStateException(
        s"concurrent writer on stats store $path: version $next was " +
          "pruned as torn by a foreign writer before its marker content " +
          "landed - this publish did NOT commit and may be retried" +
          occupant.fold("")(o => s"; the version slot is now occupied " +
            s"by $o, which was left untouched") +
          " (single-writer contract violated)")
    }
    val foreign = committedAfter.keySet
      .filter(n => n != next && n > baseVersion.getOrElse(-1L))
      .toSeq.sorted
    if (foreign.nonEmpty) {
      val (onLineage, complete) = visibleLineage(committedAfter)
      val detail = (foreign :+ next).sorted.map(n =>
        s"v$n[${if (n == next) "this publish: " else ""}" +
          s"${classify(n, committedAfter, onLineage, complete)}]")
      throw new PostCommitConflictException(
        s"concurrent writer on stats store $path DETECTED POST-COMMIT: " +
          s"version(s) ${foreign.mkString(",")} committed between this " +
          s"publish's re-validation (base $baseVersion) and its marker " +
          s"for version $next - readers see only the highest version; " +
          s"classification: ${detail.mkString(", ")} " +
          "(single-writer contract violated)")
    }
    val keep = (committedNow :+ next).sorted.takeRight(retain).toSet
    now.foreach { case (n, p, mi) =>
      val torn = mi.isEmpty
      if (n != next && (torn || !keep.contains(n))) {
        // the prune runs AFTER the commit point, so a failure here must
        // never surface as a retryable-looking exception: the failure
        // taxonomy tells callers "not PostCommitConflictException =>
        // not committed, retry", and a retried fold whose first publish
        // COMMITTED double-applies the delta. A delete returning false
        // because the directory is ALREADY GONE (a foreign prune racing
        // this one — found by the cross-process storm probe) is simply
        // cleanup won by someone else; a directory that persistently
        // refuses deletion is deferred to the next publish's prune
        // (supersession cannot double-count — readers take the max
        // committed version) and only warned about, because no
        // exception we could throw here would be classified correctly
        // by a taxonomy-following caller.
        if (!fs.delete(p, true) && fs.exists(p))
          System.err.println(s"[graft] WARN: prune of superseded stats " +
            s"version $p failed post-commit; deferring to the next " +
            "publish's prune (the publish itself IS committed)")
      }
    }
  }

  /** Fold one delivered micro-batch into the maintained store.
    * Idempotent per batch id: a replay (id ≤ the persisted watermark)
    * returns false and leaves the store untouched — this is what makes
    * the loop safe under foreachBatch's at-least-once delivery.
    *
    * @param partialOf batch → aggregated partial with exactly the
    *                  (keys ++ counts) columns (e.g.
    *                  `CorpusStats.lineDf(_, "doc_id", "text")`)
    * Exception contract: a [[PostCommitConflictException]] means the
    * fold DID commit (non-retryable — replaying it double-applies the
    * batch); any other exception means it did not and may be retried.
    *
    * @param retain committed versions kept after the publish (≥ 1, the
    *               concurrent-reader grace window — see `publish`)
    * @return true if the batch was folded, false if skipped as a replay
    */
  def foldBatch(batch: DataFrame, batchId: Long, path: String,
      keys: Seq[String], counts: Seq[String],
      partialOf: DataFrame => DataFrame, retain: Int = 1): Boolean = {
    require(batchId >= 0, s"negative batchId: $batchId")
    val spark = batch.sparkSession
    val cur = current(spark, path)
    if (cur.map(_._3.watermark).filter(_ >= 0).exists(batchId <= _))
      return false
    val partial = partialOf(batch)
    val merged = cur match {
      case Some((_, p, _)) => CorpusStats.mergeStats(
        Seq(spark.read.parquet(p.toString), partial), keys, counts)
      case None =>
        partial.select(
          (keys ++ counts).map(org.apache.spark.sql.functions.col): _*)
    }
    publish(spark, path, merged, batchId, retain,
      cur.map(c => (c._1, c._3)))
    true
  }

  /** Publish an arbitrary table as the next committed version of a
    * versioned ARTIFACT store — the same marker discipline as the
    * stats tables with the watermark slot unused (-1): a torn write is
    * invisible, readers always see the last fully committed version,
    * and a crash mid-publish leaves the PREVIOUS artifact servable
    * instead of no artifact at all. This is the publish path for model
    * artifacts (the tokenizer —
    * [[graft.operators.Bpe.saveTokenizerVersioned]]), where the
    * alternative `mode("overwrite")` in place has a crash window that
    * destroys the old model before the new one lands, leaving a daily
    * deployment with NO model until a retrain.
    *
    * Default retain=2: the superseded artifact survives one publish —
    * the grace window for jobs that loaded the model just before the
    * refresh. Single-writer contract and guards as above.
    */
  def publishArtifact(spark: SparkSession, path: String, table: DataFrame,
      retain: Int = 2): Unit =
    publish(spark, path, table, watermark = -1L, retain,
      current(spark, path).map(c => (c._1, c._3)))

  /** The current committed artifact version, or None before the first
    * publish (and after any number of torn ones).
    */
  def readArtifact(spark: SparkSession, path: String): Option[DataFrame] =
    readStats(spark, path)

  /** OFFLINE deletion maintenance: subtract a constituent batch's
    * recomputed partial from the maintained table
    * ([[graft.operators.CorpusStats.retractStats]] — emptied keys
    * vanish, a non-constituent partial fails loudly on negative
    * counts) and publish the result as a new committed version WITHOUT
    * advancing the batch watermark — deleting yesterday's data must
    * never cause tomorrow's genuinely new micro-batch to be skipped as
    * a replay. Same crash safety as a fold (torn writes invisible,
    * prune deferred at worst). OFFLINE means the single-writer
    * contract applies: run it with the streaming fold STOPPED — racing
    * the two is detected by the publish guard and exactly one wins
    * (the other fails loudly, nothing double-counts; pinned in
    * `StatsMaintenanceSpec`).
    */
  def retractBatch(spark: SparkSession, path: String, partial: DataFrame,
      keys: Seq[String], counts: Seq[String], retain: Int = 1): Unit = {
    val cur = current(spark, path).getOrElse(
      throw new IllegalStateException(
        s"retractBatch: no committed stats table at $path"))
    val table = spark.read.parquet(cur._2.toString)
    publish(spark, path,
      CorpusStats.retractStats(table, partial, keys, counts),
      cur._3.watermark, retain, Some((cur._1, cur._3)))
  }

  /** OFFLINE repair maintenance — the REFOLD half of the
    * [[PostCommitConflictException]] runbook: force-merge a delta's
    * recomputed partial into the current table, BYPASSING the
    * watermark replay skip (which would wrongly absorb a shadowed
    * delta whose batch id is already ≤ the visible watermark — the
    * watermark only proves the batch's publish won a race, not that
    * its delta is in the visible table), and publish with the
    * watermark advanced to max(current, batchId) so a genuinely newer
    * absorbed id never refolds and a newer batch is never skipped.
    *
    * USE ONLY FOR REPAIR of a conflict-shadowed delta: refolding a
    * delta that IS in the visible table double-applies it by
    * construction (additive merges cannot detect inflation — the same
    * reason a naive retry loop is forbidden). Single-writer contract
    * applies: run with the streaming fold STOPPED, like
    * [[retractBatch]].
    */
  def refoldBatch(spark: SparkSession, path: String, partial: DataFrame,
      keys: Seq[String], counts: Seq[String], batchId: Long,
      retain: Int = 1): Unit = {
    require(batchId >= 0, s"negative batchId: $batchId")
    val cur = current(spark, path).getOrElse(
      throw new IllegalStateException(
        s"refoldBatch: no committed stats table at $path"))
    val table = spark.read.parquet(cur._2.toString)
    publish(spark, path,
      CorpusStats.mergeStats(Seq(table, partial), keys, counts),
      math.max(cur._3.watermark, batchId), retain, Some((cur._1, cur._3)))
  }

  /** Start the maintenance loop: every delivered micro-batch is folded
    * through [[foldBatch]], so restarts and re-deliveries are absorbed
    * by the persisted watermark instead of double-counting the table.
    * Score against the maintained table with the `*With` operators
    * (e.g. [[graft.operators.CorpusStats.dropDuplicateLinesWith]]) on
    * [[readStats]]'s result.
    */
  def start(stream: DataFrame, path: String, keys: Seq[String],
      counts: Seq[String], partialOf: DataFrame => DataFrame,
      checkpointDir: String, retain: Int = 1): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        foldBatch(batch, batchId, path, keys, counts, partialOf,
          retain): Unit
      }
      .start()
}
