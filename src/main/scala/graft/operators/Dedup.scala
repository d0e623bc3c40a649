package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{HashFunctions => H, TextFunctions => T, VectorFunctions => V}

/** Deduplication operators for the training-data pipeline (driver
  * mandate, SURVEY.md §7 step 6): exact, MinHash+LSH, n-gram Jaccard,
  * SimHash, embedding-cosine.
  *
  * Scale design (100 TB): nothing here compares all pairs. Exact dedup
  * is a hash-keyed groupBy (one shuffle). MinHash/LSH generates
  * candidates via band-bucket equi-joins — cost scales with bucket
  * collision count, not n². Jaccard verification runs only on
  * candidates. Embedding near-dups are bucketed through
  * [[Similarity.hyperplaneBucket]] first; the O(n²) all-pairs scan is
  * only the tests' reference.
  *
  * Skew: a hot shingle/band (boilerplate text) explodes its bucket.
  * In [[minhashDupPairs]] nothing caps a band's width: a band shared
  * by m docs emits m·(m−1)/2 candidate pairs, and AQE's skew-join
  * split of the oversized partition is the only mitigation.
  * [[ngramJaccardPairs]] / [[containmentPairs]] keep hot shingles out
  * of the prefix index, and [[sharedSpanPairs]] caps span df at
  * `maxDf`.
  */
object Dedup {

  /** Exact dedup groups: one row per distinct content hash with the
    * deterministic survivor (min id) and the duplicate count.
    * `keepAll = false` would be a `dropDuplicates`; this form keeps the
    * group stats the pipeline reports.
    */
  def exactGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(md5(col(textCol)).as("content_md5"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n"))

  /** Cross-source duplicate-overlap matrix — the "which feeds
    * re-crawl each other" QA view of exact dedup: for every source
    * pair (a ≤ b), the number of byte-identical document PAIRS with
    * one side in each source; within-source cells count C(n, 2).
    * Integer-exact throughout (order-independent, engine-portable).
    *
    * Scale shape: one hash-groupBy collapses the corpus to
    * (content, source) counts; the self-join is an equi-join on the
    * content hash whose per-key fan-out is bounded by the SOURCE
    * count, not the duplicate count (a content duplicated a million
    * times within one source is still one row per side); the final
    * aggregate is source²-sized — driver-trivial.
    */
  def sourceOverlap(docs: DataFrame, textCol: String,
      sourceCol: String): DataFrame = {
    // the two evaluations of `g` (one per self-join side) are
    // DELIBERATE: materializing the aggregate once per invocation
    // (localCheckpoint) lost the isolated A/B/A probe, min 0.53 →
    // 0.78 s (bench_evidence/r18_probe5_*) — the synchronous
    // checkpoint barrier costs more than the second parallel
    // scan+md5+agg pass at bench scale
    val g = docs.groupBy(md5(col(textCol)).as("__h"),
        col(sourceCol).as("__src"))
      .agg(count(lit(1)).as("__c"))
    val a = g.select(col("__h"), col("__src").as("source_a"),
      col("__c").as("__ca"))
    val b = g.select(col("__h"), col("__src").as("source_b"),
      col("__c").as("__cb"))
    a.join(b, Seq("__h"))
      .where(col("source_a") <= col("source_b"))
      .where(col("source_a") =!= col("source_b") || col("__ca") >= 2)
      .groupBy(col("source_a"), col("source_b"))
      .agg(sum(when(col("source_a") === col("source_b"),
          expr("__ca * (__ca - 1) div 2"))
        .otherwise(col("__ca") * col("__cb"))).as("dup_pairs"))
  }

  /** Hashed shingle set: sorted distinct rolling hashes of the word
    * n-grams, computed straight from the token array
    * ([[graft.expressions.WordShingleHashes]] — no n-gram strings are
    * ever built). Hash equality ≡ shingle equality modulo mod-P
    * collisions (~2⁻³⁰ per cross pair); spurious candidates are
    * filtered by Jaccard verification, and the DuckDB oracle computes
    * the identical hashes, so results stay bit-matched.
    */
  def hashedShingleSet(textCol: Column, n: Int): Column =
    graft.expressions.WordShingleHashes(T.tokens(textCol), n)

  /** Benchmark-contamination check — the "is my training corpus
    * leaking the eval set" pass every training-data pipeline needs:
    * for each corpus doc, the fraction of its word-n-gram shingles
    * that appear anywhere in the benchmark set.
    *
    * Scale shape: the benchmark shingle INVENTORY (distinct hashes) is
    * tiny relative to the corpus — broadcast it; the corpus side is a
    * SINGLE pass (one explode + broadcast hit-marking left join + one
    * partial-combining groupBy on the doc id). No cross product, no
    * driver state, no second corpus scan; 100 TB of corpus streams
    * through map-side probes.
    *
    * Returns (doc_id, n_sh, n_hit, contaminated_frac); docs with zero
    * shingles report frac 0.
    */
  def contaminationFractions(corpus: DataFrame, benchmark: DataFrame,
      idCol: String, textCol: String, n: Int): DataFrame = {
    val bench = benchmark
      .select(explode(hashedShingleSet(col(textCol), n)).as("__sh"))
      .distinct()
      .withColumn("__hit", lit(1))
    // ONE corpus pass: explode the (never-empty — even empty text gets
    // the degenerate whole-text shingle) hash set, mark hits with a
    // broadcast LEFT join, and take total + hit counts in one agg
    corpus.select(col(idCol).as("doc_id"),
        explode(hashedShingleSet(col(textCol), n)).as("__sh"))
      .join(broadcast(bench), Seq("__sh"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_sh"), count(col("__hit")).as("n_hit"))
      .withColumn("contaminated_frac",
        round(col("n_hit").cast("double") / col("n_sh"), 6))
  }

  /** [[contaminationFractions]] for when the benchmark inventory
    * outgrows broadcast (a full eval-suite union at 100 TB corpus
    * scale can reach billions of distinct shingles): same output,
    * Bloom-pre-filtered exact confirm instead of a broadcast probe.
    * At that scale the session must also raise
    * `spark.sql.optimizer.runtime.bloomFilter.maxNumItems`/`maxNumBits`
    * (defaults 4M items / 67M bits) — Spark clamps the sketch to those
    * caps, and a saturated sketch admits everything, silently turning
    * the pre-filter into a no-op (the exact confirm keeps the answer
    * right; the exchange-thinning is what vanishes).
    * [[graft.expressions.BloomSketch.bloomAgg]] warns when
    * `expectedItems` exceeds the configured cap.
    *
    * Sizing: `expectedItems <= 0` (the default) sizes the sketch from
    * an EXACT distinct count of the benchmark inventory — the
    * inventory is localCheckpoint'ed once and reused by the count, the
    * sketch build, and the semi-join's right side, so auto-sizing
    * costs one materialization, not extra recomputes. Exact sizing
    * matters beyond fpp: every partial aggregation buffer is a
    * fixed-size bit array of 8·expectedItems bits PER TASK, so a
    * blanket over-estimate (e.g. 4M items = 4 MB × every build task)
    * taxes small benchmarks with megabytes of allocation and exchange
    * for a kilobyte-scale key set. Pass `expectedItems` explicitly
    * only when the inventory is pre-materialized in the lake and its
    * cardinality is already known — that skips the checkpoint (the
    * count would still be cheap, but re-reading a lake-resident
    * inventory twice beats checkpointing a copy of it).
    *
    * Shape: (1) distributed Bloom build over the distinct benchmark
    * hashes ([[graft.expressions.BloomSketch]] — Spark's own
    * runtime-filter aggregate; partials are fixed-size bit arrays, the
    * 1-row collect is megabytes, never data-scale); (2) per-doc totals
    * from a joinless map-side-combining count (explode keeps a doc's
    * shingles in one partition, so the partial agg fully reduces to
    * one row per doc before the shuffle); (3) hits via the
    * bloom-thinned SHUFFLE semi-join — only shingles the sketch
    * admits (true hits + the fpp tail) ever enter the exchange, and
    * the join keeps the result exact, so a lying sketch can cost
    * speed but never a wrong answer. The corpus is scanned twice
    * (totals + hits), both passes joinless-or-thinned; the broadcast
    * variant's single corpus pass is preferable while the inventory
    * fits.
    */
  def contaminationFractionsBloom(corpus: DataFrame, benchmark: DataFrame,
      idCol: String, textCol: String, n: Int,
      expectedItems: Long = 0L): DataFrame = {
    val inventory = benchmark
      .select(explode(hashedShingleSet(col(textCol), n)).as("__sh"))
      .distinct()
    // auto-size: materialize the inventory once (blocks freed by the
    // ContextCleaner when the plan is GC'd) and count it exactly
    val bench = if (expectedItems > 0) inventory
                else inventory.localCheckpoint()
    val items = if (expectedItems > 0) expectedItems else bench.count()
    // bounded 1-row collect of the serialized sketch (same shape as
    // Spark's materialized runtime-filter subquery); None only when
    // the benchmark has no rows at all — then nothing can hit
    val bloomBytes =
      if (items == 0L) None
      else Option(bench
        // BloomFilterAggregate/MightContain type-check LONG keys; the
        // int32 shingle hashes promote losslessly (same value hashes
        // to the same sketch bits on both sides)
        .agg(graft.expressions.BloomSketch.bloomAgg(
          col("__sh").cast("long"), items))
        .head().getAs[Array[Byte]](0))
    val exploded = corpus.select(col(idCol).as("doc_id"),
      explode(hashedShingleSet(col(textCol), n)).as("__sh"))
    val totals = exploded.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    val prefiltered = bloomBytes match {
      case Some(b) => exploded.where(graft.expressions.BloomSketch.mightContain(
        graft.expressions.BloomSketch.bloomLit(b), col("__sh").cast("long")))
      case None => exploded.limit(0)
    }
    val hits = prefiltered
      .join(bench, Seq("__sh"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_hit"))
    totals.join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_sh"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        round(coalesce(col("n_hit"), lit(0L)).cast("double") /
          col("n_sh"), 6).as("contaminated_frac"))
  }

  /** MinHash LSH band keys (`"b:s:s"`, k signatures split into bands
    * of `rowsPerBand`) computed PER ROW from a hashed shingle set —
    * map-only (no explode, no groupBy), which is what makes it legal
    * on a STREAMING DataFrame: `min(seeded(h,i))` over an exploded set
    * and the per-row minimum over the same set are the same number
    * (pinned against the min-over-explode reference in
    * `MinHashBandsSpec`). Computed by the fused
    * [[graft.expressions.MinHashBands]] kernel — one codegen'd array
    * scan updating all k seeded minima — replacing the former
    * k×(`transform`+`array_min`) HOF chain, which fell out of
    * whole-stage codegen and re-walked the set k times per row. A
    * null set keys like an empty one (`"b"` with no signature parts,
    * matching `concat_ws`'s null-skip in the HOF form). Every
    * contentless doc carries the identical signature-less keys, so
    * contentless docs CAN band-collide — but
    * only with each other, and the exact-Jaccard verify discards the
    * pair (null sets null-propagate through the Jaccard score and the
    * `>= threshold` filter rejects null), so they are never flagged.
    */
  def rowBandArray(set: Column, k: Int, rowsPerBand: Int): Column =
    graft.expressions.MinHashBands(set, k, rowsPerBand)

  /** Per-doc hashed shingle sets `(__sid, __set)` — the shared input
    * of candidate generation and verification. Persisted
    * MEMORY_AND_DISK: every dedup pipeline reads it 3-4 times in one
    * query, so at corpus scale a MEMORY_ONLY eviction would trigger a
    * silent recompute storm of the shingle-digest pass; spilling the
    * evicted partitions to local disk is strictly cheaper.
    */
  def hashedSets(docs: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame =
    docs.select(col(idCol).as("__sid"),
      hashedShingleSet(col(textCol), n).as("__set"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  /** Jaccard verification of candidate pairs against precomputed
    * hashed sets; keeps pairs with similarity ≥ threshold. Runs only
    * on candidates (post-LSH or post-blocking), never all pairs.
    */
  def jaccardVerify(candidates: DataFrame, sets: DataFrame,
      threshold: Double): DataFrame =
    candidates
      .join(sets.select(col("__sid").as("i"), col("__set").as("__sa")), Seq("i"))
      .join(sets.select(col("__sid").as("j"), col("__set").as("__sb")), Seq("j"))
      // bounded kernel (round 14): PPJoin-style early termination
      // inside the merge scan — the rejected majority (100-400
      // candidates per true pair on probed corpora) aborts as soon as
      // running-inter + min(remaining) provably misses the threshold;
      // survivors complete the scan, so their jaccard is exactly the
      // unbounded kernel's and the output is identical
      .withColumn("jaccard", graft.expressions.SortedArrayJaccardBounded(
        col("__sa"), col("__sb"), threshold))
      .where(col("jaccard") >= threshold)
      .select(col("i"), col("j"), col("jaccard"))

  /** Materialize `pairs` (persist + count) so the shingle-set cache it
    * reads can be released immediately — the per-doc sets are the big
    * intermediate; the returned pair set is dedup OUTPUT, orders of
    * magnitude smaller. Callers MUST `unpersist()` the result once their
    * derived output is materialized (the query wrappers do so via
    * `releasing` in [[graft.queries.ExtensionQueries]]).
    */
  private def materializeAndRelease(pairs: DataFrame, sets: DataFrame): DataFrame = {
    val out = pairs.persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
    out.count()
    sets.unpersist(blocking = false)
    out
  }

  /** Full MinHash-LSH near-dup pipeline: shingle → sign → band →
    * candidate join → Jaccard verify. The result is persisted (it is
    * small — dedup output) and the per-doc shingle-set cache is
    * released before returning, so repeated pipeline runs don't
    * accumulate executor storage.
    */
  def minhashDupPairs(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 5, k: Int = 8, rowsPerBand: Int = 2,
      threshold: Double = 0.7): DataFrame = {
    val sets = hashedSets(docs, idCol, textCol, n)
    // Band keys come from the fused per-row kernel ([[rowBandArray]] →
    // MinHashBands): one map-only array scan per doc — the same keys
    // as an explode + k-min-aggregate signature build, by the pinned
    // min-over-explode ≡ per-row-min identity, minus that build's
    // groupBy exchange, which at corpus scale is a whole stage
    // barrier spent deriving what a map can compute.
    val banded = sets.select(col("__sid"),
      explode(rowBandArray(col("__set"), k, rowsPerBand)).as("band"))
    val cand = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") &&
          col("a.__sid") < col("b.__sid"))
      .select(col("a.__sid").as("i"), col("b.__sid").as("j"))
      .distinct()
    materializeAndRelease(jaccardVerify(cand, sets, threshold), sets)
  }

  /** Blocking-based n-gram Jaccard dedup (no minhash): candidates are
    * pairs sharing ≥1 indexed n-gram — an inverted-index equi-join —
    * then exact Jaccard verification. Same thresholded output as the
    * naive all-shared-shingles index.
    *
    * The index holds only each document's PREFIX: the first
    * `|S| − ⌈t·|S|⌉ + 1` shingles under a global (document-frequency
    * asc, hash asc) order — prefix filtering from Bayardo, Ma &
    * Srikant, "Scaling Up All Pairs Similarity Search" (WWW 2007).
    * Any pair with Jaccard ≥ t shares ≥ t·max(|x|,|y|) shingles, more
    * than either suffix holds, so two disjoint prefixes would leave
    * too few common positions — candidate completeness is guaranteed.
    * Ordering by ASCENDING document frequency puts boilerplate
    * shingles (the hot inverted-index buckets, whose self-join emits
    * |bucket|² pairs) at the END of every document, outside almost
    * every prefix: the sf30 sweep measured the unfiltered index going
    * quadratic in shuffle/spill exactly there.
    *
    * Cost: the global order is (is-hot, hash) rather than full
    * df-rank — one compact document-frequency aggregate finds the few
    * shingles hotter than √n (boilerplate is a SHORT list by nature),
    * broadcast as a literal; the per-doc prefix is then a map-side
    * `slice(concat(array_except, array_intersect))` over the already-
    * sorted shingle array. No per-shingle join, no rank window —
    * the only extra shuffle is the df aggregate (partial-agged
    * hashes). Any fixed total order gives the Bayardo guarantee;
    * this one both excludes hot shingles from almost every prefix
    * and keeps a pure-boilerplate document indexable (its prefix
    * then holds hot shingles — required for completeness: pairs of
    * such documents are genuine near-dups and their cost is output
    * cost). If the hot list overflows its broadcast cap (pathological
    * tiny-vocabulary corpus), the exact df-rank window path runs
    * instead — slower, still linear shuffles.
    *
    * Below `prefixFilterFloor` documents the filter is skipped
    * entirely — at tiny corpora even its fixed cost exceeds any
    * possible hot-bucket cost (measured +60% at 5k docs), and the
    * unfiltered index is provably bounded there. The operator is
    * already eager (materializeAndRelease), so the count/collect
    * jobs add no new barrier.
    */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 5, threshold: Double = 0.7,
      prefixFilterFloor: Long = 20000L, hotBroadcastCap: Int = 512): DataFrame = {
    val (cand, sets) = ngramJaccardCandidates(docs, idCol, textCol, n,
      threshold, prefixFilterFloor, hotBroadcastCap)
    materializeAndRelease(jaccardVerify(cand, sets, threshold), sets)
  }

  /** Candidate stage of [[ngramJaccardPairs]]: returns (candidate
    * pairs, persisted shingle sets). The CALLER owns the `sets` cache
    * and releases it through materializeAndRelease.
    */
  private def ngramJaccardCandidates(docs: DataFrame, idCol: String,
      textCol: String, n: Int, threshold: Double,
      prefixFilterFloor: Long, hotBroadcastCap: Int): (DataFrame, DataFrame) = {
    val sets = hashedSets(docs, idCol, textCol, n)
    // ceil(t·|S|) with a downward epsilon: double rounding may only
    // LENGTHEN the prefix (more candidates), never shorten it.
    def prefixLen(sz: Column): Column =
      (sz - ceil(lit(threshold) * sz - lit(1e-6)) + lit(1)).cast("int")
    val nDocs = docs.count()
    // Every index variant emits (__sid, __h, __sz, __pos): set size and
    // the 1-based rank of __h in the doc's set under a GLOBAL total
    // order (array order for the explode paths, (df, hash) for the
    // ranked fallback — each path is internally consistent, which is
    // all the positional bound needs). These feed the Bayardo/PPJoin
    // length + positional filters (WWW'07 §4) in the join below.
    val index =
      if (nDocs < prefixFilterFloor)
        sets.select(col("__sid"), size(col("__set")).as("__sz"),
            posexplode(col("__set")).as(Seq("__p", "__h")))
          .select(col("__sid"), col("__h"), col("__sz"),
            (col("__p") + 1).as("__pos"))
      else sampledHotShingles(docs, textCol, n, nDocs, hotBroadcastCap) match {
        case Some(hot) =>
          val ordered =
            if (hot.isEmpty) col("__set")
            else concat(array_except(col("__set"), typedLit(hot)),
              array_intersect(col("__set"), typedLit(hot)))
          // prefix positions ARE positions in the full ordered array
          sets.select(col("__sid"), size(col("__set")).as("__sz"),
              posexplode(slice(ordered, lit(1), prefixLen(size(col("__set")))))
                .as(Seq("__p", "__h")))
            .select(col("__sid"), col("__h"), col("__sz"),
              (col("__p") + 1).as("__pos"))
        case None =>
          // exact fallback: rank every shingle by global (df, hash)
          // over the FULL corpus (the sampled counts above only gate
          // which path runs; this path pays for exactness)
          val sh = sets.select(col("__sid"), explode(col("__set")).as("__h"))
          val dfreq = sh.groupBy("__h").agg(count(lit(1)).as("__df"))
          val w = Window.partitionBy("__sid").orderBy(col("__df"), col("__h"))
          sh.join(dfreq, Seq("__h"))
            .withColumn("__sz", count(lit(1)).over(Window.partitionBy("__sid")))
            .withColumn("__rn", row_number().over(w))
            .where(col("__rn") <= prefixLen(col("__sz")))
            .select(col("__sid"), col("__h"), col("__sz"),
              col("__rn").as("__pos"))
      }
    // Bayardo/PPJoin pruning ON the index join — all three filters are
    // sound (no true pair lost) and cut candidates before the
    // distinct's shuffle and the exact-Jaccard confirm, which the
    // sf30 stage probe measured as the dominant cost (31.7M raw
    // candidates for 3k true pairs; verify 133-254 s):
    //  - length: J(a,b) ≥ t ⇒ t·|a| ≤ |b| (and symmetric) — a pair of
    //    very different sizes can't clear the threshold.
    //  - positional: J ≥ t ⇔ overlap ≥ t/(1+t)·(|a|+|b|); a match at
    //    ranks (i, j) bounds the remaining possible overlap by
    //    1 + min(|a|−i, |b|−j). For a TRUE pair the FIRST common
    //    shingle (which the prefix provably contains on both sides)
    //    has α−1 common successors in both docs, so that row always
    //    passes — keeping any-match-passes semantics exact.
    //  - asymmetric index prefix: orient every pair so the probe side
    //    `a` is the LARGER set (ties broken by id); then α ≥
    //    t/(1+t)·(|a|+|b|) ≥ 2t/(1+t)·|b|, so the first common
    //    shingle sits within b's SHORTER index prefix
    //    |b| − ⌈2t/(1+t)·|b|⌉ + 1 (≈ 0.18·|b| at t=0.7 vs the probe
    //    prefix's 0.3·|b|) — the b side of the join shrinks ~40%
    //    with completeness intact.
    val eps = 1e-6
    val lenOk =
      col("b.__sz") >= ceil(lit(threshold) * col("a.__sz") - lit(eps)) &&
        col("a.__sz") >= ceil(lit(threshold) * col("b.__sz") - lit(eps))
    val overlapNeeded = ceil(
      lit(threshold / (1 + threshold)) * (col("a.__sz") + col("b.__sz")) -
        lit(eps))
    val posOk = (lit(1) +
      least(col("a.__sz") - col("a.__pos"), col("b.__sz") - col("b.__pos"))
      ) >= overlapNeeded
    val orient = (col("a.__sz") > col("b.__sz")) ||
      (col("a.__sz") === col("b.__sz") && col("a.__sid") < col("b.__sid"))
    val bInIndexPrefix = col("b.__pos") <= (col("b.__sz") -
      ceil(lit(2 * threshold / (1 + threshold)) * col("b.__sz") - lit(eps)) +
      lit(1))
    val cand = index.as("a").join(index.as("b"),
        col("a.__h") === col("b.__h") && orient && bInIndexPrefix &&
          lenOk && posOk)
      .select(least(col("a.__sid"), col("b.__sid")).as("i"),
        greatest(col("a.__sid"), col("b.__sid")).as("j"))
      .distinct()
    (cand, sets)
  }

  /** Sampled hot-shingle detection shared by [[ngramJaccardCandidates]]
    * and [[containmentPairs]]. A bucket of df ≤ √n contributes ≤ n
    * candidate pairs — only shingles above that can make Σ bucket²
    * superlinear, so those are the "hot" list that prefix ordering
    * pushes to the END of every document's order.
    *
    * Detection runs on a ~50k-doc SAMPLE, not the full corpus: the
    * sf30 stage probe measured the full-corpus df aggregate (explode
    * of every shingle of every doc) at 24-162 s — the single most
    * expensive job in the jaccard query — while the hot list it
    * produces only picks the prefix ORDER. Any fixed total order keeps
    * the Bayardo completeness guarantee, so sampling affects candidate
    * count (performance), never the verified output. The sampled cut
    * is half the proportionally scaled threshold: a truly-hot shingle
    * (df > √n, e.g. 1225 at 1.5M docs) sits >3σ above it at a 1/30
    * sample, and both error directions are benign (over-detection
    * reorders a few prefixes, under-detection admits some extra
    * candidates for the exact confirm to discard).
    *
    * Returns the sorted hot hashes, or None when the list overflows
    * `hotBroadcastCap` (pathological tiny-vocabulary corpus) — callers
    * then take their exact full-corpus df-rank fallback.
    */
  private[graft] def sampledHotShingles(docs: DataFrame, textCol: String,
      n: Int, nDocs: Long, hotBroadcastCap: Int): Option[Array[Int]] = {
    val hotCut = math.max(64L, math.ceil(math.sqrt(nDocs.toDouble)).toLong)
    val sampleFrac = math.min(1.0, 50000.0 / nDocs)
    val sampled =
      if (sampleFrac >= 1.0) docs
      else docs.sample(withReplacement = false, sampleFrac, seed = 42L)
    val sampledCut = math.max(1L,
      math.floor(hotCut * sampleFrac / 2.0).toLong)
    val hotRows = sampled
      .select(explode(hashedShingleSet(col(textCol), n)).as("__h"))
      .groupBy("__h").agg(count(lit(1)).as("__df"))
      .where(col("__df") > sampledCut)
      .select(col("__h")).limit(hotBroadcastCap + 1).collect()
    if (hotRows.length <= hotBroadcastCap) Some(hotRows.map(_.getInt(0)).sorted)
    else None
  }

  /** Containment near-dup — overlap-coefficient dedup, the asymmetric
    * companion to [[ngramJaccardPairs]]: pairs whose shingle overlap
    * covers ≥ `threshold` of the SMALLER set,
    * `C = |A∩B| / min(|A|,|B|)` (Broder, "On the resemblance and
    * containment of documents", SEQUENCES 1997). Catches what
    * symmetric Jaccard structurally cannot: an excerpt, quote, or
    * truncation re-crawled inside (or as a fragment of) a larger
    * document scores C ≈ 1 while its Jaccard is only
    * |small| / |large| — far below any useful symmetric threshold.
    *
    * Scale shape: Bayardo prefix filtering adapted to the asymmetric
    * measure. Because min-normalization kills the symmetric length
    * filter (ANY size ratio can qualify), the index side must carry
    * every shingle of every doc; the PROBE side is each doc's
    * `|S| − ⌈t·|S|⌉ + 1`-shingle prefix under the same fixed global
    * order as jaccard (hot shingles last, via [[sampledHotShingles]];
    * exact (df, hash) rank fallback on hot-list overflow; natural
    * hash order below `prefixFilterFloor`). Completeness: orient each
    * pair so the probe is the smaller set `a`; a qualifying pair has
    * overlap α ≥ ⌈t·|a|⌉, so a's prefix — which excludes only
    * ⌈t·|a|⌉ − 1 positions — must contain a common shingle, and the
    * globally-first common shingle has α−1 common successors in BOTH
    * orders, which is exactly the positional bound enforced in the
    * join. Candidate mass is Σ over probe prefixes of posting-list df
    * — the df-ascending order makes probe shingles the RAREST in
    * their documents, so the lists they touch are short.
    *
    * Verification is exact on candidates only: intersection size over
    * min set size via `array_intersect` on the sorted hashed sets —
    * integer-exact, so the DuckDB oracle's `list_intersect` computes
    * bit-identical doubles.
    */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 5, threshold: Double = 0.9,
      prefixFilterFloor: Long = 20000L, hotBroadcastCap: Int = 512): DataFrame = {
    val (cand, sets) = containmentCandidates(docs, idCol, textCol, n,
      threshold, prefixFilterFloor, hotBroadcastCap)
    val out = cand
      .join(sets.select(col("__sid").as("i"), col("__set").as("__sa")), Seq("i"))
      .join(sets.select(col("__sid").as("j"), col("__set").as("__sb")), Seq("j"))
      .withColumn("containment",
        size(array_intersect(col("__sa"), col("__sb"))).cast("double") /
          least(size(col("__sa")), size(col("__sb"))).cast("double"))
      .where(col("containment") >= threshold)
      .select(col("i"), col("j"), col("containment"))
    materializeAndRelease(out, sets)
  }

  /** Candidate stage of [[containmentPairs]]: returns (candidate
    * pairs, persisted shingle sets). The CALLER owns the `sets` cache.
    */
  private def containmentCandidates(docs: DataFrame, idCol: String,
      textCol: String, n: Int, threshold: Double,
      prefixFilterFloor: Long, hotBroadcastCap: Int): (DataFrame, DataFrame) = {
    require(threshold > 0 && threshold <= 1, s"threshold=$threshold")
    val sets = hashedSets(docs, idCol, textCol, n)
    val eps = 1e-6
    def probeLen(sz: Column): Column =
      (sz - ceil(lit(threshold) * sz - lit(eps)) + lit(1)).cast("int")
    val nDocs = docs.count()
    // full positional index (__sid, __h, __sz, __pos) under a fixed
    // global order — the probe side is its first probeLen positions
    val index =
      if (nDocs < prefixFilterFloor)
        sets.select(col("__sid"), size(col("__set")).as("__sz"),
            posexplode(col("__set")).as(Seq("__p", "__h")))
          .select(col("__sid"), col("__h"), col("__sz"),
            (col("__p") + 1).as("__pos"))
      else sampledHotShingles(docs, textCol, n, nDocs, hotBroadcastCap) match {
        case Some(hot) =>
          val ordered =
            if (hot.isEmpty) col("__set")
            else concat(array_except(col("__set"), typedLit(hot)),
              array_intersect(col("__set"), typedLit(hot)))
          sets.select(col("__sid"), size(col("__set")).as("__sz"),
              posexplode(ordered).as(Seq("__p", "__h")))
            .select(col("__sid"), col("__h"), col("__sz"),
              (col("__p") + 1).as("__pos"))
        case None =>
          val sh = sets.select(col("__sid"), explode(col("__set")).as("__h"))
          val dfreq = sh.groupBy("__h").agg(count(lit(1)).as("__df"))
          val w = Window.partitionBy("__sid").orderBy(col("__df"), col("__h"))
          sh.join(dfreq, Seq("__h"))
            .withColumn("__sz", count(lit(1)).over(Window.partitionBy("__sid")))
            .withColumn("__pos", row_number().over(w))
            .select(col("__sid"), col("__h"), col("__sz"), col("__pos"))
      }
    val probe = index.where(col("__pos") <= probeLen(col("__sz")))
    // probe side a is the SMALLER set (ties by id) — the completeness
    // argument above needs the prefix cut on the min side only
    val orient = (col("a.__sz") < col("b.__sz")) ||
      (col("a.__sz") === col("b.__sz") && col("a.__sid") < col("b.__sid"))
    // overlap needed = ⌈t·|a|⌉; a match at ranks (i, j) leaves at most
    // 1 + min(|a|−i, |b|−j) possible common shingles — the first
    // common shingle of a true pair always passes (see scaladoc)
    val needed = ceil(lit(threshold) * col("a.__sz") - lit(eps))
    val posOk = (lit(1) +
      least(col("a.__sz") - col("a.__pos"), col("b.__sz") - col("b.__pos"))
      ) >= needed
    val cand = probe.as("a").join(index.as("b"),
        col("a.__h") === col("b.__h") && orient && posOk)
      .select(least(col("a.__sid"), col("b.__sid")).as("i"),
        greatest(col("a.__sid"), col("b.__sid")).as("j"))
      .distinct()
    (cand, sets)
  }

  /** 16-bit SimHash fingerprint of the token stream — computed with
    * per-row array folds (no explode, no shuffle): for each bit, sum
    * ±1 votes from every token hash, set the bit if the sum is
    * positive. Near-dups land at small Hamming distance.
    */
  def simhash16(text: Column): Column =
    graft.expressions.SimHashBits(
      transform(T.tokens(text), t => H.md5Long(t)), 16)

  /** Duplicate-cluster canonicalization: connected components over the
    * near-dup pair graph, each doc labeled with the min id reachable
    * from it (the deterministic survivor). Returns `(doc_id,
    * canonical_id)` for docs whose canonical is NOT themselves — the
    * set a pipeline drops.
    *
    * Min-label propagation with a driver loop: each round joins labels
    * across edges and takes the min; converges in O(graph diameter)
    * rounds. The pair graph is the OUTPUT of dedup — orders of
    * magnitude smaller than the corpus — so the loop's per-round jobs
    * are tiny; `maxIters` caps pathological chains.
    */
  def canonicalize(pairs: DataFrame, maxIters: Int = 20,
      driverGraphLimit: Long = 100000L): DataFrame = {
    // Below the limit, a driver union-find replaces ~4 rounds of
    // distributed jobs (same min-id result, microseconds of CPU);
    // above it, the distributed min-label loop is the primary path.
    // The limit is conservative (100k pairs ≈ single-digit MB of Row
    // heap): a boilerplate-heavy corpus at 100 TB can emit tens of
    // millions of near-dup pairs, and collecting those would OOM the
    // driver — the distributed path must be the default at scale.
    val simple = pairs.select(col("i"), col("j")).distinct().cache()
    val nPairs = simple.count()
    if (nPairs <= driverGraphLimit) {
      val spark = pairs.sparkSession
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent(r)
        var c = x
        while (parent.getOrElse(c, c) != c) { val nx = parent(c); parent(c) = r; c = nx }
        r
      }
      simple.collect().foreach { row =>
        val (a, b) = (find(row.getLong(0)), find(row.getLong(1)))
        if (a != b) { // attach larger root under smaller → min-id root invariant
          if (a < b) parent(b) = a else parent(a) = b
        }
      }
      val out = parent.keys.map(id => (id, find(id))).filter(t => t._1 != t._2).toSeq
      simple.unpersist()
      import spark.implicits._
      return out.toDF("doc_id", "canonical_id")
    }
    val edges = simple.select(col("i").as("src"), col("j").as("dst"))
      .unionByName(simple.select(col("j").as("src"), col("i").as("dst")))
      .distinct().cache()
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("label", col("id")).cache()
    var iter = 0
    var converged = false
    while (!converged && iter < maxIters) {
      val viaEdges = edges
        .join(labels.select(col("id").as("dst"), col("label").as("nl")), Seq("dst"))
        .groupBy(col("src").as("id")).agg(min(col("nl")).as("nl"))
      val next = labels.join(viaEdges, Seq("id"), "left")
        .select(col("id"), least(col("label"), coalesce(col("nl"), col("label"))).as("label"))
        .cache()
      val changed = next.join(labels.withColumnRenamed("label", "old"), Seq("id"))
        .where(col("label") =!= col("old")).count()
      labels.unpersist()
      labels = next
      converged = changed == 0
      iter += 1
    }
    edges.unpersist()
    labels.where(col("label") =!= col("id"))
      .select(col("id").as("doc_id"), col("label").as("canonical_id"))
  }

  /** Quality-aware survivor selection over duplicate clusters — the
    * "which copy do we KEEP" half of dedup that [[canonicalize]]'s
    * min-id rule only approximates. Clusters come from the pair graph
    * (transitive closure via [[canonicalize]]); within each cluster
    * the survivor is the member with the HIGHEST `score` (ties broken
    * by smallest id — deterministic under replay). Returns one row per
    * CLUSTERED doc: (idCol, cluster_id, survivor_id, kept); docs in no
    * cluster are absent (they are all survivors trivially — emitting
    * them would make the output corpus-sized for no information).
    *
    * Scale shape: the cluster table is pair-graph-sized (the OUTPUT of
    * dedup, orders of magnitude smaller than the corpus), so the cost
    * is one hash join against `docs` for the score column + one
    * window over cluster_id (the survivor is picked with a full-frame
    * `first` over (score DESC, id) — no second self-join). The join
    * against the corpus is on its id column, so column pruning keeps
    * the scan to (id, score).
    */
  def survivors(pairs: DataFrame, docs: DataFrame, idCol: String,
      score: Column, maxIters: Int = 20,
      driverGraphLimit: Long = 100000L): DataFrame = {
    val canon = canonicalize(pairs, maxIters, driverGraphLimit)
    // membership including each cluster's canonical doc itself
    val membership = canon
      .unionByName(canon.select(col("canonical_id").as("doc_id"),
        col("canonical_id")))
      .distinct()
      .select(col("doc_id"), col("canonical_id").as("cluster_id"))
    // left join + loud failure: pairs are normally derived FROM docs,
    // so a clustered id missing there is corrupt input — an inner join
    // would silently drop the member and could shift which doc wins
    // the survivor window. raise_error rides the score column (used by
    // the window, so never pruned): the job fails on the first orphan
    // instead of guessing. A legitimately-NULL score is still allowed
    // (ranked last by NULLS LAST semantics of desc ordering).
    val scored = membership.join(
      docs.select(col(idCol).as("doc_id"), score.as("__score"),
        lit(true).as("__present")), Seq("doc_id"), "left")
      .withColumn("__score", when(col("__present").isNull,
        raise_error(concat(
          lit("Dedup.survivors: clustered doc absent from docs: "),
          col("doc_id").cast("string"))))
        .otherwise(col("__score")))
    val w = Window.partitionBy(col("cluster_id"))
      .orderBy(col("__score").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    scored
      .withColumn("survivor_id", first(col("doc_id")).over(w))
      .select(col("doc_id").as(idCol), col("cluster_id"),
        col("survivor_id"),
        (col("doc_id") === col("survivor_id")).as("kept"))
  }

  /** df-thinning of a span/window table on its `__h` column — the
    * stage both [[sharedSpanPairs]] and [[dropDuplicateSubstrings]]
    * pay, in two SKEW-SAFE formulations (round 14: the count-over-
    * window form they used was CONVICTED by a planted-viral-key
    * anchor, `bench_evidence/r14_viral_skew_probe.txt` — `count(1)
    * over (partition by __h)` ships every occurrence of a hash to ONE
    * window task with no partial aggregation, and WindowExec cannot
    * be skew-split; at a planted df of 10M the hot task died of
    * SparkOutOfMemoryError trying a ~500 MB contiguous allocation, and
    * at df 50M the surviving runs were 3× slower than the groupBy
    * form, which held flat at every point. A cookie banner in 1% of a
    * 100 TB corpus is df in the hundreds of millions — the OOM is the
    * 100 TB behavior, not the tail risk).
    *
    * Both formulations count via groupBy — map-side partial
    * aggregation bounds any key's shuffle contribution at one row per
    * map task, skew-proof by construction — then rejoin the FILTERED
    * key sliver:
    *  - [[dropOverCapKeys]] (cap semantics): the over-cap set is tiny
    *    by definition (keys hot enough to cap are rare — that is what
    *    makes them viral), so the anti-join broadcasts and the span
    *    mass is never shuffled for thinning at all;
    *  - [[keepDuplicatedKeys]] (minOcc semantics): the survivor set is
    *    the duplicated sliver (proportional to duplicated mass, small
    *    in real corpora — broadcast), and when it is adversarially
    *    large the semi-join is a sort-merge join AQE can skew-split —
    *    unlike a window, no stage requires a key's full occurrence
    *    list in one task.
    */
  private[graft] def dropOverCapKeys(spans: DataFrame, cap: Int): DataFrame = {
    val over = spans.groupBy(col("__h"))
      .agg(count(lit(1)).as("__df"))
      .where(col("__df") > cap).select(col("__h"))
    spans.join(over, Seq("__h"), "left_anti")
  }

  private[graft] def keepDuplicatedKeys(spans: DataFrame,
      minOcc: Int): DataFrame = {
    val keep = spans.groupBy(col("__h"))
      .agg(count(lit(1)).as("__df"))
      .where(col("__df") >= minOcc).select(col("__h"))
    spans.join(keep, Seq("__h"), "left_semi")
  }

  /** Exact long-span duplication — the "these two documents share a
    * verbatim 20-token passage" detector from the substring-dedup
    * literature (Lee et al. 2022 use suffix arrays for the fully
    * general form; hashed fixed-length spans are the distributed
    * equi-join equivalent, trading span-boundary granularity for a
    * shuffle-friendly plan). Emits one row per doc pair sharing ≥
    * `minShared` distinct hashed n-token windows, with the shared
    * count.
    *
    * The scale hazard of any span self-join is boilerplate: a span
    * shared by m docs generates m·(m-1)/2 pairs, so one viral footer
    * goes quadratic. `maxDf` caps it — spans appearing in more than
    * `maxDf` docs are excluded from PAIRING (standard practice: a
    * span that common is boilerplate, not plagiarism, and the
    * near-dup operators already catch boilerplate-heavy docs). The
    * cap bounds join fan-out at maxDf²/2 per span, making worst-case
    * output linear in distinct spans; the df pre-aggregation itself
    * is one map-combined shuffle.
    *
    * Span identity is the 60-BIT double hash
    * ([[graft.expressions.WordShingleHashes64]], round 13): the pair
    * list IS this operator's output — nothing verifies it downstream —
    * and a single 30-bit residue manufactures ≈ m²/2P spurious pairs
    * by birthday collision over m distinct spans (~262k at the
    * 23M-span decade, comparable to the real pair count). The
    * minhash/Jaccard family keeps the int32 set kernel deliberately:
    * its candidates are verified by exact set ops downstream, so
    * collisions there only perturb a ratio by ~1/P while the halved
    * element width halves the family's dominant shuffle.
    *
    * CAVEAT — eager, and not executor-loss tolerant: building the
    * returned frame RUNS a Spark job (the token arrays are
    * `localCheckpoint(true)`'d once per call). Those checkpoint blocks
    * live only in the executors' block managers, with the lineage cut,
    * so losing one executor fails the job instead of recomputing its
    * partitions.
    */
  def sharedSpanPairs(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 20, maxDf: Int = 64, minShared: Int = 1): DataFrame = {
    require(n >= 2 && maxDf >= 2 && minShared >= 1,
      s"n=$n maxDf=$maxDf minShared=$minShared")
    // ONE scan + tokenize (round 18): the df-count leg, the anti-join
    // probe, and BOTH self-join sides consume `spans`, and Spark reused
    // none of them — the before-plan ran the parquet scan + regex
    // tokenize + 60-bit shingle kernel FOUR times
    // (plans/r18/x_dedup_spans_before.txt, Generate nodes 3/5/16/18; an
    // explicit repartition did not share either — column pruning
    // specialized each exchange copy, and checkpointing the exploded
    // span mass lost to recompute: bench_evidence/r18_probe1_*/
    // r18_probe2_*). The TOKEN ARRRAYS are materialized once per
    // invocation (text-sized blocks, ContextCleaner-collected); each
    // consumer re-runs only the cheap rolling-hash explode over them.
    val toksS = docs.select(col(idCol).as("__id"),
        T.tokens(col(textCol)).as("__toks"))
      .localCheckpoint(true)
    val spans = toksS.select(col("__id"),
        explode(graft.expressions.WordShingleHashes64(
          col("__toks"), n)).as("__h"))
    // df-thin via groupBy + broadcast anti-join of the over-cap sliver
    // (see dropOverCapKeys: the count-over-window form was convicted
    // by the viral-key anchor — OOM at planted df 10M); the self-join
    // then shuffles the THINNED spans, hot keys already gone
    val thinned = dropOverCapKeys(spans, maxDf)
    thinned.as("a").join(thinned.as("b"),
        col("a.__h") === col("b.__h") && col("a.__id") < col("b.__id"))
      .groupBy(col("a.__id").as("i"), col("b.__id").as("j"))
      .agg(count(lit(1)).as("n_shared_spans"))
      .where(col("n_shared_spans") >= minShared)
  }

  /** EXACT duplicated-substring REMOVAL (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better"): drop
    * every token covered by an n-token window whose hash occurs at
    * least `minOcc` times CORPUS-WIDE (all occurrences count,
    * including repeats inside one document — boilerplate repeated
    * within a page is exactly what the paper removes). Where
    * [[sharedSpanPairs]] reports which documents share long spans,
    * this rewrites the corpus: overlapping duplicated windows merge
    * into maximal covered spans by construction (every position they
    * cover is dropped), which is the paper's substring-removal
    * semantics with a window-hash equality test standing in for the
    * suffix-array exact match — a hash collision (probability ~1/P per
    * window pair) can over-remove, never under-remove; the
    * suffix-array build itself is inherently sequential and is the
    * documented divergence.
    *
    * Scale shape — every stage linear, nothing all-pairs, no
    * corpus-wide sort: (1) one positional-window kernel pass
    * ([[graft.expressions.WordShingleHashesPos]] — O(len) rolling
    * hash, so n = 50 costs the same as n = 5) + one explode of the
    * window mass; (2) occurrence thinning via [[keepDuplicatedKeys]]
    * — a map-combined groupBy count plus a sliver semi-join, skew-safe
    * under viral keys where the round-13 count-over-window form OOMed
    * one task at a planted df of 10M
    * (`bench_evidence/r14_viral_skew_probe.txt`); (3) covered
    * positions = duplicated windows × n rows BEFORE distinct — the one
    * deliberate multiplier, proportional to the duplicated mass, not
    * the corpus; (4) one token posexplode +
    * anti-join on (doc, position) + per-doc in-row rebuild (the
    * rebuild explode is inherent: the output IS the rewritten corpus).
    *
    * CAVEAT — eager, and not executor-loss tolerant: building the
    * returned frame RUNS a Spark job (the token arrays are
    * `localCheckpoint(true)`'d once per call). Those checkpoint blocks
    * live only in the executors' block managers, with the lineage cut,
    * so losing one executor fails the job instead of recomputing its
    * partitions.
    *
    * @return (idCol, n_tokens, n_removed, clean_text) — token-less and
    *         fully-duplicated docs survive with clean_text = ""
    */
  def dropDuplicateSubstrings(docs: DataFrame, idCol: String,
      textCol: String, n: Int = 50, minOcc: Int = 2): DataFrame = {
    require(n >= 2 && minOcc >= 2, s"n=$n minOcc=$minOcc")
    // ONE scan + tokenize (round 18): `toks` is consumed three times
    // (thinning count, sliver semi-join probe, rebuild leg) — the
    // before-plan re-ran the parquet scan + regex tokenize for every
    // leg (plans/r18/x_dedup_substring_before.txt). The token arrays
    // are localCheckpoint'ed once per invocation (text-sized blocks,
    // ContextCleaner-collected); the two window-hash legs re-run only
    // the cheap O(len) rolling hash over the materialized arrays.
    // Rejected alternatives, both probed: an explicit repartition did
    // NOT share the subtree (column pruning specialized each exchange
    // copy), and checkpointing the exploded window mass as well lost
    // to recompute (bench_evidence/r18_probe1_*/r18_probe2_*).
    val toks = docs.select(col(idCol).as("__id"),
      T.tokens(col(textCol)).as("__toks"))
      .localCheckpoint(true)
    val wins = toks.select(col("__id"),
      posexplode(graft.expressions.WordShingleHashesPos(col("__toks"), n))
        .as(Seq("__p", "__h")))
    // occurrence thinning via groupBy + sliver semi-join (see
    // keepDuplicatedKeys: skew-safe replacement for the convicted
    // count-over-window form; the survivor sliver is proportional to
    // duplicated mass, so the semi-join usually broadcasts and the
    // window mass is never shuffled just to be counted)
    val dupStarts = keepDuplicatedKeys(wins, minOcc)
      .select(col("__id"), col("__p"))
    val covered = dupStarts
      .select(col("__id"),
        explode(sequence(col("__p"), col("__p") + lit(n - 1))).as("__cp"))
      .distinct()
    // OUTER posexplode keeps token-less docs; the covered-position drop
    // is a left join + conditional aggregates instead of an anti-join,
    // so one aggregate yields n_tokens (all rows), the kept rebuild and
    // the removal count — no second corpus scan, no doc-sized join-back
    val tokPos = toks.select(col("__id"),
      posexplode_outer(col("__toks")).as(Seq("__tp", "__tok")))
    val keep = col("__tok").isNotNull && col("__cp").isNull
    tokPos.join(covered,
        tokPos("__id") === covered("__id") && col("__tp") === col("__cp"),
        "left")
      .groupBy(tokPos("__id"))
      .agg(count(col("__tok")).as("n_tokens"),
        count(when(keep, lit(1))).as("__nkept"),
        array_join(transform(
          array_sort(collect_list(when(keep,
            struct(col("__tp"), col("__tok"))))),
          s => s.getField("__tok")), " ").as("clean_text"))
      .select(tokPos("__id").as(idCol), col("n_tokens"),
        (col("n_tokens") - col("__nkept")).as("n_removed"),
        col("clean_text"))
  }

  /** Plane count sized to the corpus: enough hyperplanes that the
    * EXPECTED bucket occupancy stays near `targetBucketRows`, keeping
    * the bucket join's Σ bucket² cost near-linear as n grows. A FIXED
    * plane count is a scale bug: 4 planes = 16 buckets made the pair
    * join quadratic at 20k clustered vectors (measured Σb² ≈ 36M
    * pairs; 12 planes ≈ 2.4M). Clustered data concentrates buckets, so
    * the default target is conservative; exact duplicates share every
    * plane sign and are found under ANY plane count — only sub-1.0
    * near-dup recall trades off as planes grow.
    */
  def planesFor(corpusRows: Long, targetBucketRows: Long = 64L): Int = {
    require(targetBucketRows > 0)
    val buckets = math.max(1.0, corpusRows.toDouble / targetBucketRows)
    math.min(30, math.max(4, math.ceil(math.log(buckets) / math.log(2)).toInt))
  }

  /** Plane count for CLUSTERED corpora. [[planesFor]] assumes every
    * plane halves every bucket — true for directionally uniform
    * vectors, false for real embedding corpora, where a random
    * hyperplane only splits a cluster when it cuts the cluster's cone
    * (probability ≈ angular radius / 90°). Measured on a 10-cluster
    * corpus at 204k vectors: going 12 → 30 planes cut Σ bucket² by
    * 2^5.6, i.e. ~0.31 effective splits per plane — a FIXED count
    * sized by the uniform rule goes quadratic again one decade later
    * (the sf10 sweep caught exactly that: 12 planes = 198M candidate
    * pairs; 24 planes = 12.5M). The clustered rule divides the
    * uniform count by the split efficiency; 0.5 is a conservative
    * default for moderately tight clusters (measured 0.31 here, but
    * recall decays as planes grow — oversizing costs recall, not
    * correctness, so the default leans mid-range).
    */
  def planesForClustered(corpusRows: Long, targetBucketRows: Long = 64L,
      splitEfficiency: Double = 0.5): Int = {
    require(splitEfficiency > 0 && splitEfficiency <= 1)
    val uniform = planesFor(corpusRows, targetBucketRows)
    math.min(30, math.ceil(uniform / splitEfficiency).toInt)
  }

  /** Plane count for RESIDUAL bucketing ([[embeddingDupPairsResidual]]):
    * `cellRows` is the per-cell share (corpus / nlist). Residuals are
    * cluster noise plus a constant (center − exemplar) offset, so a
    * plane whose normal aligns with the offset assigns the whole
    * sub-cluster one sign and splits nothing — measured 0.63 effective
    * splits/plane at sf100 (2^6.3 effective buckets from 10 planes,
    * from the probe's Σ bucket² = 1.7B over 32×64k-row cells). Better
    * than raw vectors' 0.31 (the offset is exemplar-to-center,
    * ~noise-sized, not center-to-origin) but short of the uniform
    * rule's 1.0 — so divide by 0.6, same shape as
    * [[planesForClustered]]. Oversizing costs sub-1.0 near-dup recall,
    * never exact-dup recall or correctness.
    */
  def planesForResidual(cellRows: Long, targetBucketRows: Long = 64L,
      splitEfficiency: Double = 0.6): Int = {
    require(splitEfficiency > 0 && splitEfficiency <= 1)
    val uniform = planesFor(cellRows, targetBucketRows)
    math.min(30, math.ceil(uniform / splitEfficiency).toInt)
  }

  /** Embedding near-dup pairs with hyperplane-LSH bucket prefiltering —
    * the scale path: the pair join is an equi-join on the bucket id,
    * so cost is Σ bucket² instead of n². Exact duplicates always share
    * a bucket; near-dups below cos 1.0 can straddle a plane and be
    * missed — that recall trade-off is inherent to LSH blocking and
    * tunable via nPlanes (fewer planes → bigger buckets → higher
    * recall; size with [[planesFor]] so the cost stays near-linear).
    */
  def embeddingDupPairsBucketed(emb: DataFrame, idCol: String, vecCol: String,
      threshold: Double, nPlanes: Int, dim: Int): DataFrame = {
    val planes = Similarity.hyperplanes(nPlanes, dim)
    val n = emb.select(col(idCol).as("__id"), col(vecCol).as("__v"))
      .withColumn("__nsq", V.normSq(col("__v")))
      .withColumn("__bucket", Similarity.hyperplaneBucket(col("__v"), planes))
    n.as("a").join(n.as("b"),
        col("a.__bucket") === col("b.__bucket") && col("a.__id") < col("b.__id"))
      .withColumn("cos", V.cosinePrenormed(
        V.dot(col("a.__v"), col("b.__v")), col("a.__nsq"), col("b.__nsq")))
      .where(col("cos") > threshold)
      .select(col("a.__id").as("i"), col("b.__id").as("j"), col("cos"))
  }

  /** Embedding near-dup pairs with IVF-RESIDUAL blocking — the
    * alternative blocking for CLUSTERED corpora, where raw-vector
    * hyperplane LSH ([[embeddingDupPairsBucketed]]) loses split
    * efficiency: a random hyperplane splits a tight cluster only when
    * it cuts the cluster's cone (measured ~0.31 effective
    * splits/plane on the 10-cluster corpus), and
    * [[planesForClustered]] caps at 30 planes — one more decade of
    * cluster density past that cap and raw-plane bucket mass goes
    * quadratic with no knob left. Here each vector is first assigned
    * to its nearest exemplar centroid (the `nlist` lowest-id vectors
    * — deterministic and oracle-expressible, the same rule as
    * [[Similarity.ivfTopK]]), and the hyperplanes bucket the RESIDUAL
    * v − centroid. Residual splits are offset-limited rather than
    * cone-limited: measured 0.63 effective splits/plane at sf100
    * (vs 0.31 raw) — size with [[planesForResidual]]. The bucket key
    * is (cell, residual-signs), and nlist is a second independent
    * knob raw LSH lacks. Measured at sf100 (2M vectors, 10 tight
    * clusters, both paths on the fused
    * [[graft.expressions.HyperplaneSignBits]] kernel): raw-bucketed
    * 9.0 s, residual 17.6 s — on THIS corpus raw planes still split
    * well enough to win; the residual form is the escape hatch for
    * corpora where they don't (SCALING.md §sf100).
    *
    * Recall contract: identical vectors share cell (deterministic
    * cos-then-cell-index tie-break) and residual, hence bucket — exact
    * duplicates are never missed. Near-dups below cos 1.0 can straddle
    * a cell or plane boundary, the LSH trade-off, tunable via
    * nlist/nPlanes. Verification is exact cosine on the ORIGINAL
    * vectors; spurious candidates cost time, never correctness.
    *
    * Cost: assignment is one map-side pass (nlist·dim mults per row,
    * [[graft.expressions.RankedCentroidCells]]); the pair join is an
    * equi-join on the (cell, signs) key — Σ bucket² with ~nlist·2ⁿᴾ
    * buckets that keep subdividing as planes grow, because residual
    * splits don't decay the way raw-vector splits do.
    */
  def embeddingDupPairsResidual(emb: DataFrame, idCol: String, vecCol: String,
      threshold: Double, nlist: Int, nPlanes: Int, dim: Int): DataFrame = {
    val planes = Similarity.hyperplanes(nPlanes, dim)
    val cents = Similarity.exemplarCentroids(emb, idCol, vecCol, nlist)
    val ss = emb.sparkSession
    import ss.implicits._
    val centsDf = cents.zipWithIndex.map { case (c, i) => (i, c) }
      .toDF("__cell", "__cv")
    val n = emb.select(col(idCol).as("__id"), col(vecCol).as("__v"))
      .withColumn("__nsq", V.normSq(col("__v")))
      .withColumn("__cell", element_at(
        graft.expressions.RankedCentroidCells.ranked(
          col("__v"), col("__nsq"), cents), 1)("cell"))
      .join(broadcast(centsDf), Seq("__cell"))
      .withColumn("__rv",
        zip_with(V.asDouble(col("__v")), col("__cv"), (x, c) => x - c))
      .withColumn("__bucket", concat_ws(":", col("__cell"),
        Similarity.hyperplaneBucket(col("__rv"), planes)))
      .select(col("__id"), col("__v"), col("__nsq"), col("__bucket"))
    n.as("a").join(n.as("b"),
        col("a.__bucket") === col("b.__bucket") && col("a.__id") < col("b.__id"))
      .withColumn("cos", V.cosinePrenormed(
        V.dot(col("a.__v"), col("b.__v")), col("a.__nsq"), col("b.__nsq")))
      .where(col("cos") > threshold)
      .select(col("a.__id").as("i"), col("b.__id").as("j"), col("cos"))
  }

  /** Exact edit-distance similarity join (entity resolution over
    * names/titles/URLs): all pairs with `levenshtein ≤ k`, found via
    * Pass-Join-style segment blocking (Li, Deng, Feng — VLDB'11),
    * never all-pairs.
    *
    * The pigeonhole lemma: split every string into k+1 contiguous
    * segments; an edit script of ≤ k operations cannot touch all k+1,
    * so for any qualifying pair at least one of a's segments appears
    * VERBATIM in b, shifted by at most k positions. Candidates are
    * therefore an EQUI-join: a's (segment, i, |a|) keys against b's
    * enumerated substrings at the positions/lengths a's segmentation
    * would dictate (|a| ranges over [|b|−k, |b|+k], start over ±k of
    * the segment's home position — ≤ (2k+1)²·(k+1) map-only emissions
    * per string, 75 at k = 2). Both directions are emitted, so the
    * lemma's asymmetry never loses a pair; `levenshtein` (codegen'd)
    * confirms each distinct candidate.
    *
    * Exactness contract: strings shorter than k+1 characters are
    * EXCLUDED (their segments would be empty — an empty join key is a
    * cross join in disguise), and strings longer than `maxLen` are
    * excluded as a cost guard (segment selectivity collapses on long
    * near-duplicate texts — use the shingle-based family for those).
    * Both exclusions are part of the operator's declared domain, and
    * the brute-force cross-check in `DedupSimilaritySpec` pins
    * completeness inside it.
    *
    * Scale shape: emissions are map-only and bounded per row; the
    * candidate join is an equi-join on (content, segment-index,
    * length). The one genuine hazard is a HEAVY SHARED AFFIX: if a few
    * percent of all names end (or start) with the same token — Zipf
    * head words, Inc/LLC suffixes — that one (segment, i, len) key
    * pairs its whole bucket quadratically, and levenshtein then
    * rejects nearly all of it (measured in
    * `bench_evidence/r10_editdist_probe.txt`: the same corpus that
    * joins in seconds with hash-unique names stalls with first-word
    * suffixes). Normalize shared affixes away
    * before calling, or use the shingle family for that data shape —
    * this is part of the declared domain, like the length bounds.
    * No sort, no window, no cross product.
    *
    * @return (i, j, dist) with i < j, one row per qualifying pair
    */
  def editDistancePairs(df: DataFrame, idCol: String, strCol: String,
      k: Int, maxLen: Int = 64): DataFrame = {
    require(k >= 1 && k <= 3, s"k=$k (the emission count is (2k+1)²(k+1))")
    require(maxLen > k, s"maxLen=$maxLen")
    val kk = k + 1
    val d = df.select(col(idCol).as("__id"), col(strCol).as("__s"))
      .where(col("__s").isNotNull &&
        length(col("__s")).between(kk, maxLen))
      .withColumn("__len", length(col("__s")))
    // 0-based segmentation of a length-L string into k+1 pieces:
    //   base = L div (k+1), rem = L mod (k+1)
    //   l_i = base + (i < rem), p_i = i·base + min(i, rem)
    def segLen(L: Column, i: Column): Column =
      (L.cast("int") / kk).cast("int") +
        when(i < pmod(L.cast("int"), lit(kk)), 1).otherwise(0)
    def segPos(L: Column, i: Column): Column =
      i * (L.cast("int") / kk).cast("int") +
        least(i, pmod(L.cast("int"), lit(kk)))
    // index role: my own k+1 segments, keyed (content, i, my length)
    val idx = d.select(col("__id").as("__aid"), col("__s").as("__sa"),
        col("__len").as("__la"),
        explode(transform(sequence(lit(0), lit(k)), i =>
          struct(i.as("i"),
            col("__s").substr(segPos(col("__len"), i) + 1,
              segLen(col("__len"), i)).as("seg")))).as("__e"))
      .select(col("__aid"), col("__sa"), col("__la"),
        col("__e.i").as("__i"), col("__e.seg").as("__key"))
    // probe role: for each partner length L' and segment i, my
    // substrings at the home position ± k (clamped to my bounds)
    val probe = d.select(col("__id").as("__bid"), col("__s").as("__sb"),
        col("__len").as("__lb"),
        explode(flatten(transform(
          sequence(greatest(lit(kk), col("__len") - k), col("__len") + k),
          lp => flatten(transform(sequence(lit(0), lit(k)), i => {
            val l = segLen(lp, i)
            val lo = greatest(lit(0), segPos(lp, i) - k)
            val hi = least(col("__len") - l, segPos(lp, i) + k)
            when(lo <= hi, transform(sequence(lo, hi), st =>
              struct(lp.as("lp"), i.as("i"),
                col("__s").substr(st + 1, l).as("sub"))))
              .otherwise(array().cast(
                "array<struct<lp:int,i:int,sub:string>>"))
          }))))).as("__e"))
      .select(col("__bid"), col("__sb"),
        col("__e.lp").as("__la"), col("__e.i").as("__i"),
        col("__e.sub").as("__key"))
    val cand = idx.join(probe, Seq("__la", "__i", "__key"))
      .where(col("__aid") =!= col("__bid"))
      .select(least(col("__aid"), col("__bid")).as("i"),
        greatest(col("__aid"), col("__bid")).as("j"),
        when(col("__aid") < col("__bid"), col("__sa"))
          .otherwise(col("__sb")).as("__si"),
        when(col("__aid") < col("__bid"), col("__sb"))
          .otherwise(col("__sa")).as("__sj"))
      .distinct()
    cand.withColumn("dist",
        levenshtein(col("__si"), col("__sj")).cast("long"))
      .where(col("dist") <= k)
      .select(col("i"), col("j"), col("dist"))
  }
}
