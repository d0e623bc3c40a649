package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** In-flight dedup gating for streaming document ingest — the "is this
  * incoming doc already in (or nearly in) the corpus" pass a
  * continuously-fed training pipeline runs before accepting a crawl
  * batch. Composes with [[LakeIngest]]: gate the stream, then ingest
  * the survivors.
  *
  * Everything here is STATELESS per micro-batch — stream-static joins
  * and map-side predicates only, no streaming aggregation, no state
  * store, no watermark requirement (compose
  * [[EventStreams.dedupWithinWatermark]] upstream for within-stream
  * exact dups). That is the scale contract: state-store size can never
  * become the bottleneck because there is no state; the static corpus
  * index is an ordinary DataFrame (parquet/lake-backed at scale) that
  * each micro-batch joins against — broadcast when it fits,
  * shuffle-partitioned when it does not.
  */
object StreamingDedup {

  /** Exact gate: incoming docs whose content hash is NOT already in
    * `corpus` (stream-static LEFT ANTI join on md5 — supported with
    * the static side on the right). Byte-identical re-crawls drop;
    * everything else passes through unchanged.
    *
    * NULL text is deliberately NOT deduplicated: `md5(NULL)` is NULL
    * and the join condition uses `===`, so a null-text row never
    * matches the corpus (even a corpus null-text row) and always
    * passes the gate. The gate dedups CONTENT, and null is the absence
    * of content, not a value of it — collapsing all null-text docs
    * into one would silently drop distinct (id, metadata) rows whose
    * text merely failed extraction. Callers that do want null-collapse
    * semantics should filter or `coalesce` the text column upstream.
    */
  def notInCorpus(incoming: DataFrame, corpus: DataFrame,
      textCol: String): DataFrame =
    incoming.join(
      corpus.select(md5(col(textCol)).as("__corpus_md5")).distinct(),
      md5(incoming(textCol)) === col("__corpus_md5"), "left_anti")

  /** Static near-dup index over the corpus: one row per (corpus_id,
    * band), carrying the doc's full band array and hashed shingle set
    * for the pair-dedup predicate and the exact-Jaccard confirm in
    * [[nearDupFlags]]. Signed with the SAME fused per-row kernel the
    * streaming side uses ([[Dedup.rowBandArray]] → `MinHashBands`, a
    * single map-only array scan — no signature groupBy, no
    * sigs-to-sets join), so index and stream keys are identical by
    * construction; the kernel's parity with the min-over-explode
    * batch derivation is pinned in `MinHashBandsSpec`. A contentless
    * (null-text) corpus doc now gets signature-less keys (`"b"`)
    * instead of vanishing from the index — it can collide only with
    * another contentless doc, and the confirm drops that pair: a null
    * `__cset`/`__dset` null-propagates through `SortedArrayJaccard`,
    * and the `>= threshold` filter rejects a null score (an
    * empty-but-non-null set pair scores 0.0 and is rejected the same
    * way), so flag output is unchanged. Materialize this to
    * the lake and refresh on corpus compaction; a stream reads it as
    * plain static input. MIGRATION: indexes materialized before the
    * int32 shingle-set change carry `array<bigint>` `__cset`, and a
    * new stream's `array<int>` `__dset` fails `SortedArrayJaccard`'s
    * both-int-or-both-long type check at analysis time (loud, not
    * wrong) — rebuild such indexes, or
    * `cast(__cset as array<int>)` on read (lossless: every stored
    * hash is < 2³⁰).
    */
  def corpusIndex(corpus: DataFrame, idCol: String, textCol: String,
      n: Int = 5, k: Int = 8, rowsPerBand: Int = 2): DataFrame =
    corpus.select(col(idCol).as("corpus_id"),
        Dedup.hashedShingleSet(col(textCol), n).as("__cset"))
      .withColumn("__cbands", Dedup.rowBandArray(col("__cset"), k, rowsPerBand))
      .select(col("corpus_id"), col("__cset"), col("__cbands"),
        explode(col("__cbands")).as("band"))

  /** Near-dup flags for a streaming batch of documents against a
    * [[corpusIndex]]: emits ONE row per (incoming doc, corpus doc)
    * pair with Jaccard ≥ `threshold`. Downstream drops flagged docs
    * with a left-anti join on `doc_id` (or keeps the pairs as a
    * provenance log).
    *
    * Shape, all stateless: (1) map-only per-row shingle set + band
    * keys ([[Dedup.rowBandArray]] — no groupBy, hence streamable);
    * (2) stream-static equi-join on the band key generates candidates
    * from hash buckets, never a cross product; (3) a pair sharing
    * SEVERAL bands would surface once per band, so keep only the row
    * whose joined band is the MINIMUM of the pair's shared bands — a
    * plain predicate over the two band arrays already in hand, which
    * dedups pairs exactly without `distinct()` (a streaming
    * aggregation this operator deliberately has none of); (4) exact
    * Jaccard on the two shingle sets confirms, so band collisions can
    * cost work but never a wrong flag.
    *
    * Scale shape of the stream-static join (measured at a 500k-doc /
    * 2M-row index; SCALING.md "Streaming gate at a 500k-doc corpus
    * index", soak source at
    * `f9f40ed:src/main/scala/graft/tools/DedupGateSoak.scala`): the
    * planner broadcasts the BOUNDED side — the exploded micro-batch —
    * and streams the index through the probe, so index size is a
    * per-batch scan bill, never a driver/executor memory bill. At
    * 100 TB the lever is amortizing that scan with larger triggers. A
    * band-hash-bucketed index read was measured slower than this full
    * scan in every configuration tried
    * (`bench_evidence/r9_gate_ab_sf10z_*`) and is not offered.
    */
  def nearDupFlags(incoming: DataFrame, index: DataFrame,
      idCol: String, textCol: String, n: Int = 5, k: Int = 8,
      rowsPerBand: Int = 2, threshold: Double = 0.7): DataFrame = {
    // an index built with different (k, rowsPerBand) produces disjoint
    // band keys and the join silently matches NOTHING — fail loudly
    // instead. One-row peek at the static side, at plan-construction
    // time (the index is parquet-backed at scale; head of one row is a
    // single-split read).
    index.select(size(col("__cbands")).as("w")).head(1).foreach { r =>
      require(r.getInt(0) == k / rowsPerBand,
        s"index has ${r.getInt(0)} bands/doc but the probe expects " +
          s"${k / rowsPerBand} (k=$k, rowsPerBand=$rowsPerBand) — " +
          "rebuild the index or match its parameters")
    }
    joinFlags(bandedIncoming(incoming, idCol, textCol, n, k, rowsPerBand),
      index, threshold)
  }

  /** The incoming side of the gate: per-row shingle set + band keys,
    * one exploded row per (doc, band) — map-only, hence streamable.
    */
  private def bandedIncoming(incoming: DataFrame, idCol: String,
      textCol: String, n: Int, k: Int, rowsPerBand: Int): DataFrame =
    incoming
      .select(col(idCol).as("doc_id"),
        Dedup.hashedShingleSet(col(textCol), n).as("__dset"))
      .withColumn("__dbands", Dedup.rowBandArray(col("__dset"), k, rowsPerBand))
      .select(col("doc_id"), col("__dset"), col("__dbands"),
        explode(col("__dbands")).as("band"))

  /** The join core of [[nearDupFlags]]: band-bucket equi-join,
    * min-shared-band pair dedup, exact-Jaccard confirm.
    */
  private def joinFlags(in: DataFrame, index: DataFrame,
      threshold: Double): DataFrame =
    in.join(index, Seq("band"))
      .where(col("band") ===
        array_min(array_intersect(col("__dbands"), col("__cbands"))))
      .withColumn("jaccard",
        graft.expressions.SortedArrayJaccard(col("__dset"), col("__cset")))
      .where(col("jaccard") >= threshold)
      .select(col("doc_id"), col("corpus_id"), col("jaccard"))
}
