package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.expressions.Md5Prefix60

/** Deterministic, engine-portable sampling and split assignment — the
  * bread-and-butter of training-data pipelines at scale. Everything
  * keys off the portable md5-prefix hash ([[Md5Prefix60]]), so:
  *  - assignment is a pure per-row map (no shuffle, no state, no rand()
  *    — replays and retries agree, and the same doc lands in the same
  *    split on any engine or cluster size);
  *  - the DuckDB oracle reproduces every bucket exactly.
  */
object Sampling {

  /** Hash bucket in [0, nBuckets) from the string form of a key. */
  def hashBucket(key: Column, nBuckets: Int): Column =
    pmod(Md5Prefix60(key.cast("string")), lit(nBuckets.toLong))

  /** Score-proportional deterministic keep — the CCNet-style "sample
    * by quality" step: a row with per-mille score p survives iff its
    * key's hash bucket of 1000 falls below p, so the corpus keeps each
    * row with probability p/1000 WITHOUT rand() — replay-identical,
    * engine-portable, and the kept set of a higher threshold is a
    * superset of a lower one (same bucket, larger cut). Callers derive
    * `perMille` from any deterministic integer-exact signal (e.g.
    * ⌊1000·n_dict/n_tokens⌋); values are clamped to [0, 1000].
    */
  def scoreKeep(perMille: Column, key: Column): Column =
    hashBucket(key, 1000) <
      greatest(lit(0L), least(lit(1000L), perMille.cast("long")))

  /** Train/val/test assignment by hash percentile: bucket < trainPct →
    * "train", < trainPct+valPct → "val", else "test". Percentages are
    * out of 100.
    */
  def splitAssign(key: Column, trainPct: Int = 80, valPct: Int = 10): Column = {
    require(trainPct > 0 && valPct >= 0 && trainPct + valPct <= 100,
      s"invalid split ($trainPct/$valPct)")
    val b = hashBucket(key, 100)
    when(b < trainPct, "train").when(b < trainPct + valPct, "val").otherwise("test")
  }

  /** Deterministic Bernoulli-style sample: keep rows whose hash bucket
    * (out of `outOf`) falls below `keep` — a stable `keep/outOf`
    * fraction, unlike `rand()`-based sampling which changes on every
    * retry/replay.
    */
  def deterministicKeep(key: Column, keep: Int, outOf: Int = 1000): Column =
    hashBucket(key, outOf) < keep

  /** Deterministic source-mixing repeat count — the "upsample wiki
    * 2.3×, downsample crawl 0.4×" step of corpus curation, without
    * rand(): a row with stratum weight w (per-mille, so 2300 = 2.3×)
    * is emitted ⌊w/1000⌋ times, plus one more iff its hash bucket of
    * 1000 falls below w mod 1000. The stratum therefore lands at
    * EXACTLY its weight in expectation, every copy decision is a pure
    * function of (stratum, key) — replays, retries, and engines agree —
    * and weight 0 drops the stratum. Callers materialize the copies
    * with `explode(sequence(0, copies - 1))` guarded by `copies > 0`
    * (see the `x_mix_weights` query); map-only until that explode,
    * which multiplies rows by the mix factor and nothing else.
    */
  def mixCopies(strata: Column, key: Column,
      perMille: Map[String, Int], defaultPerMille: Int = 1000): Column = {
    require((perMille.values ++ Seq(defaultPerMille)).forall(_ >= 0),
      "mix weights must be non-negative")
    val w = perMille.foldLeft(lit(defaultPerMille)) { case (acc, (v, p)) =>
      when(strata === v, p).otherwise(acc)
    }.cast("long")
    val whole = floor(w.cast("double") / 1000d).cast("long")
    whole + when(hashBucket(key, 1000) < pmod(w, lit(1000L)), 1L).otherwise(0L)
  }

  /** Stratified deterministic sampling — the "downsample the
    * overrepresented language/source" step of corpus balancing. Each
    * stratum value gets its own keep-fraction (per-mille, so the
    * when-chain stays integer-exact and oracle-portable); unlisted
    * strata keep `defaultPerMille`. Still a pure per-row map: no
    * shuffle, no rand(), replay-identical, and `sampleBy`-equivalent
    * except deterministic.
    */
  def stratifiedKeep(strata: Column, key: Column,
      perMille: Map[String, Int], defaultPerMille: Int = 1000): Column = {
    require((perMille.values ++ Seq(defaultPerMille)).forall(p => p >= 0 && p <= 1000),
      "per-mille fractions must be in [0, 1000]")
    val b = hashBucket(key, 1000)
    val threshold = perMille.foldLeft(lit(defaultPerMille)) { case (acc, (v, p)) =>
      when(strata === v, p).otherwise(acc)
    }
    b < threshold
  }

  /** Per-stratum cap: rank rows within each stratum by
    * (`quality` DESC, `tiebreak` ASC) and keep the top `n` — the
    * "at most N docs per domain/source" curation step that stops a
    * single mega-crawl domain from dominating the mix. Adds the rank
    * as `cap_rank`. Deterministic given a total tiebreak (pass the
    * doc id).
    *
    * Scale shape: the rank-≤-n filter plans as a window GROUP LIMIT
    * (Spark's `WindowGroupLimit` — a per-partition top-n pre-filter
    * BEFORE the stratum exchange and again under the final window
    * sort), so a skewed stratum (one domain = 30% of the crawl) ships
    * at most n rows per upstream task instead of its whole corpus
    * slice, and no full-stratum sort materializes. Pinned in
    * PlanAuditSpec.
    */
  def capPerStratum(df: org.apache.spark.sql.DataFrame, strata: Column,
      quality: Column, tiebreak: Column, n: Int): org.apache.spark.sql.DataFrame = {
    require(n > 0, s"n=$n")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(strata).orderBy(quality.desc, tiebreak.asc)
    df.withColumn("cap_rank", row_number().over(w))
      .where(col("cap_rank") <= n)
  }

  /** Quality-ordered selection under a global token budget: rank every
    * document by (quality DESC, portable hash, id) and keep exactly the
    * maximal prefix whose running token sum stays ≤ `budget` — "give me
    * the best B tokens of this corpus", the cut behind quality-
    * thresholded training sets. Selection is the set
    * `{doc : cum(doc) ≤ budget}` over that total order; the running sum
    * is monotone (token counts are ≥ 0), so the kept set IS a prefix
    * and the rule is engine-portable (one window sum in the oracle).
    *
    * Scale design — the global running sum is never computed as one
    * corpus-wide sorted window. It decomposes exactly along the order's
    * three levels, each bounded:
    *
    *   cum(doc) = C_before(q) + B_before(q, h) + rowsum(q, h, ≤ id)
    *
    *  - `C_before`: token sums per quality stratum, cumulated DESC — a
    *    table bounded by the quality domain (per-mille ⇒ ≤ 1001 rows;
    *    the one unpartitioned window runs over it, not the corpus) and
    *    broadcast back.
    *  - `B_before`: per-(stratum, hash-bucket) sums, cumulated within
    *    each stratum — ≤ strata×`buckets` rows, window PARTITIONED by
    *    stratum, planner-chosen join back.
    *  - `rowsum`: a window PARTITIONED by (stratum, bucket) — each
    *    group is ~stratum/`buckets`, so no executor ever sorts more
    *    than that. At 100 TB with per-mille quality and 1024 buckets a
    *    group is ~corpus/10⁶.
    *
    * Docs with 0 tokens ride along for free wherever they fall in the
    * order (they never move `cum`). Ties are impossible: `idCol` is
    * last in the order and unique by contract.
    *
    * Cost note: the (id, quality, tokens) projection is scanned three
    * times (rows, stratum sums, bucket sums) — stateless recompute by
    * design. If the quality signal is expensive, pre-materialize that
    * projection and pass the materialized frame in.
    *
    * @param quality integer-valued, NON-NULL Column (coarse strata,
    *                e.g. a per-mille score — the stratum table must
    *                stay bounded); higher = kept first. A null
    *                quality would sort into a null stratum with
    *                engine-dependent order — coalesce it first.
    * @param tokensCol non-negative token count Column
    * @param maxStrata runtime guard on the stratum-table cardinality:
    *                the strata cumulation is an unpartitioned window,
    *                safe ONLY because that table is bounded — a
    *                fine-grained (e.g. per-doc) quality would
    *                silently hand one executor a corpus-sized sort.
    *                Enforced EAGERLY at call time with an exact
    *                distributed count-distinct over the quality column
    *                (two-phase aggregate — spill-safe at any
    *                cardinality), so the violation fails loudly BEFORE
    *                the unpartitioned sort ever runs; the earlier
    *                in-plan row_number guard would only have fired
    *                after that sort survived — i.e. possibly never,
    *                the job dying in the sort first. It stays in the
    *                plan as a free backstop. Cost of the pre-check:
    *                one extra map-combined aggregate pass over the
    *                input (the operator already scans it three times),
    *                and the operator now runs one Spark job at CALL
    *                time rather than being fully lazy.
    * @return (idCol, quality, n_tokens, cum_tokens) for SELECTED docs
    *         only — cum_tokens is the doc's global running sum, so
    *         max(cum_tokens) ≤ budget reads directly off the output.
    */
  def tokenBudgetSelect(docs: org.apache.spark.sql.DataFrame, idCol: String,
      quality: Column, tokensCol: Column, budget: Long,
      buckets: Int = 1024, maxStrata: Int = 100000): org.apache.spark.sql.DataFrame = {
    require(budget >= 0, s"budget=$budget")
    require(buckets >= 1, s"buckets=$buckets")
    require(maxStrata >= 1, s"maxStrata=$maxStrata")
    import org.apache.spark.sql.expressions.Window
    val d = docs.select(col(idCol).as("__id"),
      quality.cast("long").as("__q"), tokensCol.cast("long").as("__nt"),
      pmod(Md5Prefix60(col(idCol).cast("string")),
        lit(buckets.toLong)).as("__h"))
    // eager pre-flight guard: exact distributed count-distinct fails
    // BEFORE the unpartitioned stratum sort (see @param maxStrata)
    val nStrata = d.select(
      countDistinct(col("__q")).as("n")).head().getLong(0)
    require(nStrata <= maxStrata,
      s"tokenBudgetSelect: quality produced $nStrata strata " +
        s"(maxStrata=$maxStrata) - pass a coarser (e.g. per-mille) " +
        "quality or raise maxStrata")
    // stratum sums, cumulated over strictly-better strata (bounded rows)
    val wq = Window.orderBy(col("__q").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val wqn = Window.orderBy(col("__q").desc)
    val strata = d.groupBy(col("__q")).agg(sum(col("__nt")).as("__s"))
      .select(col("__q"),
        // cardinality guard rides __cq (consumed downstream, never
        // pruned): fail loudly instead of single-partition-sorting a
        // corpus-sized "strata" table
        when(row_number().over(wqn) > maxStrata, raise_error(concat(
            lit(s"tokenBudgetSelect: quality produced more than $maxStrata "),
            lit("strata - pass a coarser (e.g. per-mille) quality or raise maxStrata"))))
          .otherwise(coalesce(sum(col("__s")).over(wq), lit(0L))).as("__cq"))
    // bucket sums within each stratum, cumulated over earlier buckets
    val wb = Window.partitionBy(col("__q")).orderBy(col("__h"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val bkts = d.groupBy(col("__q"), col("__h")).agg(sum(col("__nt")).as("__bs"))
      .select(col("__q"), col("__h"),
        coalesce(sum(col("__bs")).over(wb), lit(0L)).as("__cb"))
    // distributed row-level running sum inside each (stratum, bucket)
    val wr = Window.partitionBy(col("__q"), col("__h")).orderBy(col("__id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    d.join(broadcast(strata), Seq("__q"))
      .join(bkts, Seq("__q", "__h"))
      .withColumn("__cum",
        col("__cq") + col("__cb") + sum(col("__nt")).over(wr))
      .where(col("__cum") <= budget)
      .select(col("__id").as(idCol), col("__q").as("quality"),
        col("__nt").as("n_tokens"), col("__cum").as("cum_tokens"))
  }

  /** Temperature-based source-mixing table (the mT5/UniMax shape:
    * sample source i with probability ∝ n_i^α, α = 0.5, so rare
    * sources are upsampled and dominant ones flattened). Deviation
    * from the float formula, on purpose: weights are
    * `s_i = floor(sqrt(n_i))` — `sqrt` is IEEE-exact-rounded and
    * `floor` quantizes it to a BIGINT, so every downstream aggregate
    * is an integer sum (order-independent, engine-portable), where
    * `pow(n, 0.43)`-style libm calls could hash-differ in the last
    * ulp. All shares are integer-division per-milles:
    *
    *   natural_pm = (1000·n_i) div N      (the corpus as it is)
    *   target_pm  = (1000·s_i) div S      (the corpus as α wants it)
    *   copies_pm  = (1000·s_i·N) div (S·n_i)   (feed to [[mixCopies]])
    *
    * copies_pm > 1000 upsamples a rare source, < 1000 downsamples a
    * dominant one. Overflow bound: 1000·s_i·N needs s_i·N < 2⁶³/1000,
    * i.e. N ≲ 4.4·10¹⁰ docs (a 100 TB corpus at 5 KB/doc is ~2·10¹⁰ —
    * inside). Shape at scale: one count per source (map-side partial),
    * a source-bounded table cross-joined with its own 1-row totals —
    * corpus-scale cost is the single count aggregation.
    *
    * @return one row per source:
    *         (source, n_docs, sqrt_weight, natural_pm, target_pm,
    *         copies_pm)
    */
  def temperatureMixTable(docs: org.apache.spark.sql.DataFrame,
      source: Column): org.apache.spark.sql.DataFrame = {
    val counts = docs.groupBy(source.as("source"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("sqrt_weight",
        floor(sqrt(col("n_docs").cast("double"))).cast("long"))
    val tot = counts.agg(sum(col("n_docs")).as("__n"),
      sum(col("sqrt_weight")).as("__s"))
    counts.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"), col("sqrt_weight"),
        expr("(1000 * n_docs) DIV __n").as("natural_pm"),
        expr("(1000 * sqrt_weight) DIV __s").as("target_pm"),
        expr("(1000 * sqrt_weight * __n) DIV (__s * n_docs)")
          .as("copies_pm"))
  }

  /** The whole mix-planning view from a MAINTAINED per-source tally
    * table ([[CorpusStats.sourceTallies]] — the seventh shape) instead
    * of a corpus scan: [[temperatureMixTable]]'s α = 0.5 share columns
    * (identical arithmetic — integer-exact floor(sqrt) weights and DIV
    * per-milles, so `mixPlanWith(sourceTallies(docs, …))` reproduces
    * `temperatureMixTable(docs, …)` column-for-column) PLUS the mix
    * report's token/char masses and exact token share. This is what
    * makes the selection family incremental: the daily fold updates a
    * source-cardinality table, and every re-plan of the mix reads THAT
    * — the corpus is touched only by the fold's one batch-sized
    * aggregate.
    *
    * Scale shape: the tally table is source-bounded, cross-joined with
    * its own 1-row totals — constant cost regardless of corpus size.
    *
    * @param tallies (source, n_docs, n_tokens, char_mass)
    * @return one row per source: (source, n_docs, n_tokens, char_mass,
    *         token_share, sqrt_weight, natural_pm, target_pm,
    *         copies_pm)
    */
  def mixPlanWith(tallies: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val weighted = tallies.withColumn("sqrt_weight",
      floor(sqrt(col("n_docs").cast("double"))).cast("long"))
    val tot = weighted.agg(sum(col("n_docs")).as("__n"),
      sum(col("sqrt_weight")).as("__s"), sum(col("n_tokens")).as("__t"))
    weighted.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        col("char_mass"),
        round(col("n_tokens").cast("double") / col("__t").cast("double"), 6)
          .as("token_share"),
        col("sqrt_weight"),
        expr("(1000 * n_docs) DIV __n").as("natural_pm"),
        expr("(1000 * sqrt_weight) DIV __s").as("target_pm"),
        expr("(1000 * sqrt_weight * __n) DIV (__s * n_docs)")
          .as("copies_pm"))
  }

  /** UniMax budget allocation (Chung, Garrette, Tan & Riesa, ICLR
    * 2023: "UniMax: Fairer and More Effective Language Sampling for
    * Large-Scale Multilingual Pretraining") over a maintained
    * per-source tally table ([[CorpusStats.sourceTallies]]): split a
    * total token budget across sources as UNIFORMLY as possible,
    * capping every source at `epochsPm` per-mille epochs of its own
    * mass (UniMax's answer to temperature sampling's twin failure
    * modes — dominant sources flattened without rare sources being
    * repeated into memorization). The paper's sequential
    * smallest-first loop is water-filling, computed here in closed
    * form: sort sources ascending by cap, find the first rank k whose
    * cap covers the uniform share of the budget remaining after the
    * capped prefix — everything before k is capped at its own cap,
    * everything from k gets the level.
    *
    * Deviation from the paper, on purpose (same adjudication as
    * [[temperatureMixTable]]): all arithmetic is BIGINT — caps are
    * `(epochsPm·n) DIV 1000`, the level is integer division of the
    * remaining budget, and the division remainder r goes as +1 to the
    * first r uncapped ranks in (cap, source) order, so the allocation
    * sums to EXACTLY min(budget, Σcap), is engine-portable, and never
    * exceeds any source's cap (if r > 0 then cap_k ≥ level+1, since
    * cap_k·remaining ≥ level·remaining + r forces cap_k > level).
    *
    * Scale shape: the tally table is source-bounded, so the ordered
    * windows and the 1-row k-join are constant cost regardless of
    * corpus size — the corpus is never touched (the whole point of
    * consuming the SEVENTH maintained shape). Overflow bound:
    * cap·m and Σcap must stay under 2⁶³ — at 100 TB (~2.5·10¹³
    * tokens) with 10⁴ sources that is ~5·10¹⁷, inside.
    *
    * @param tallies  (source, n_tokens, …) — extra columns ignored
    * @param budget   total token budget to allocate (≥ 0)
    * @param epochsPm per-source cap in per-mille epochs of its own
    *                 mass (2000 = at most 2 passes over a source)
    * @return one row per source: (source, n_tokens, cap_tokens,
    *         alloc_tokens, alloc_epochs_pm); Σ alloc_tokens =
    *         min(budget, Σ cap_tokens)
    */
  def unimaxAllocWith(tallies: org.apache.spark.sql.DataFrame,
      budget: Long, epochsPm: Long = 1000L)
      : org.apache.spark.sql.DataFrame = {
    require(budget >= 0, s"unimaxAllocWith: budget=$budget")
    require(epochsPm >= 1, s"unimaxAllocWith: epochsPm=$epochsPm")
    import org.apache.spark.sql.expressions.Window
    // source-bounded table: the single-partition ordered window is the
    // documented bounded-stratum shape, not a corpus-scale sort
    val byCap = Window.orderBy(col("cap_tokens"), col("source"))
    val ranked = tallies.select(col("source"), col("n_tokens"))
      .withColumn("cap_tokens",
        expr(s"($epochsPm * n_tokens) DIV 1000"))
      .withColumn("__rn", row_number().over(byCap))
      .withColumn("__pfx", coalesce(sum(col("cap_tokens")).over(
        byCap.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("__rem",
        count(lit(1)).over(Window.partitionBy().rowsBetween(
          Window.unboundedPreceding, Window.unboundedFollowing))
          - col("__rn") + 1L)
    // the binding rank: first k where cap_k covers the uniform share
    // of what remains after the capped prefix (NULL = budget exceeds
    // total capacity, every source is capped)
    val kRow = ranked
      .where(col("cap_tokens") * col("__rem") >= lit(budget) - col("__pfx"))
      .agg(min(col("__rn")).as("__k"))
    val kInfo = ranked.select(col("__rn").as("__k2"),
      col("__pfx").as("__pk"), col("__rem").as("__rk"))
    ranked.crossJoin(broadcast(kRow))
      .join(broadcast(kInfo), col("__k") === col("__k2"), "left")
      .withColumn("alloc_tokens",
        when(col("__k").isNull || col("__rn") < col("__k"),
          col("cap_tokens"))
        .otherwise(expr(s"($budget - __pk) DIV __rk") +
          when(col("__rn") - col("__k") < expr(s"($budget - __pk) % __rk"),
            1L).otherwise(0L)))
      .withColumn("alloc_epochs_pm",
        when(col("n_tokens") === 0, 0L)
          .otherwise(expr("(1000 * alloc_tokens) DIV n_tokens")))
      .select(col("source"), col("n_tokens"), col("cap_tokens"),
        col("alloc_tokens"), col("alloc_epochs_pm"))
  }

  /** Per-mille quality-score histogram — the EIGHTH maintained shape:
    * the corpus's quality distribution as (quality_pm, n_docs), which
    * is EXACT (not a sketch) because the engine's quality signals are
    * integer per-milles by design (stopword ratio, dict ratio,
    * [[scoreKeep]]'s input — all quantized to 0..1000 for
    * engine-portability), so the histogram has at most 1001 buckets
    * no matter the corpus size. Additive over disjoint batches (fold
    * with [[CorpusStats.mergeStats]], `keys = Seq("quality_pm"),
    * counts = Seq("n_docs")`; delete a day with
    * [[CorpusStats.retractStats]]). What it buys: corpus-RELATIVE
    * selection ("keep the top 25% by quality") without rescanning —
    * the threshold comes from the maintained 1001-row table
    * ([[quantileThresholdWith]]) and the day's docs classify map-only
    * against it.
    */
  def qualityHistogram(docs: org.apache.spark.sql.DataFrame,
      qualityPm: Column): org.apache.spark.sql.DataFrame = {
    // the 0..1000 per-mille contract is ENFORCED, not assumed: a raw
    // (unquantized) score would unbound the "at most 1001 buckets"
    // claim this shape's constant-cost consumers depend on, and a
    // value ≥ 1001 would make [[quantileThresholdWith]]'s
    // nothing-passes sentinel (1001) satisfiable. The INTEGRALITY
    // check matters as much as the range: the likeliest upstream
    // mistake is an unquantized 0..1 fraction, which a bare
    // cast("long") would silently truncate to bucket 0 — in range,
    // histogram collapsed, threshold 0, selection keeps everything.
    // raise_error rides the key column so a violation fails the fold
    // loudly instead of shipping a corrupt histogram (same style as
    // [[CorpusStats.retractStats]]'s negative-count guard).
    val raw = qualityPm.cast("double")
    val pm = qualityPm.cast("long")
    val checked = when(
        pm.isNull || pm < 0 || pm > 1000 || raw =!= pm.cast("double"),
        raise_error(concat(lit("qualityHistogram: quality_pm must be an " +
          "integer per-mille in [0, 1000], got "),
          coalesce(qualityPm.cast("string"), lit("NULL")))))
      .otherwise(pm)
    docs.groupBy(checked.as("quality_pm"))
      .agg(count(lit(1)).as("n_docs"))
  }

  /** Corpus-relative quality threshold from a maintained
    * [[qualityHistogram]]: the LARGEST per-mille score q* such that at
    * least `⌈keepPm·N/1000⌉` documents score ≥ q* — so
    * `quality_pm ≥ q*` keeps the top keepPm per-mille of the corpus
    * (ties at the threshold bucket inflate the kept set; integer rule,
    * deterministic, engine-portable). keepPm = 0 (or an empty
    * histogram) yields threshold 1001 — nothing passes.
    *
    * Scale shape: a descending cumulative sum over the ≤1001-row
    * histogram (the documented bounded-stratum window) and one 1-row
    * broadcast — constant cost regardless of corpus size.
    *
    * @return ONE row: (threshold_pm, target_docs, total_docs)
    */
  def quantileThresholdWith(hist: org.apache.spark.sql.DataFrame,
      keepPm: Long): org.apache.spark.sql.DataFrame = {
    require(keepPm >= 0 && keepPm <= 1000,
      s"quantileThresholdWith: keepPm=$keepPm")
    import org.apache.spark.sql.expressions.Window
    val byQualityDesc = Window.orderBy(col("quality_pm").desc)
    val tot = hist.agg(coalesce(sum(col("n_docs")), lit(0L)).as("__total"))
    val thr = hist.withColumn("__cum", sum(col("n_docs")).over(byQualityDesc))
      .crossJoin(broadcast(tot))
      .withColumn("__target", expr(s"($keepPm * __total + 999) DIV 1000"))
      .where(col("__target") > 0 && col("__cum") >= col("__target"))
      .agg(coalesce(max(col("quality_pm")), lit(1001L)).as("threshold_pm"))
    thr.crossJoin(broadcast(tot))
      .select(col("threshold_pm"),
        expr(s"($keepPm * __total + 999) DIV 1000").as("target_docs"),
        col("__total").as("total_docs"))
  }

  /** Hashed unigram+bigram feature buckets of a token array, with
    * multiplicity — DSIR's fixed-size bag-of-hashed-ngrams
    * representation. Portable hash (md5 prefix, [[Md5Prefix60]]); the
    * bigram key is the same chr(1)-joined composition as
    * [[CorpusStats.bigramPairs]].
    */
  private[graft] def dsirFeatures(toks: Column, buckets: Int): Column =
    concat(
      transform(toks, t => pmod(Md5Prefix60(t), lit(buckets.toLong))),
      transform(CorpusStats.bigramPairs(toks),
        p => pmod(Md5Prefix60(p.getField("bg")), lit(buckets.toLong))))

  /** DSIR-style importance weights (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): featurize every
    * document as hashed n-grams (unigram+bigram, `buckets` buckets),
    * fit target and raw feature distributions, and weight each doc by
    * how target-like its feature mass is. Deviation from the paper,
    * on purpose: DSIR's weight is the LIKELIHOOD RATIO
    * Π p_tgt(f)/p_raw(f) — a per-feature log-sum, and `log` is not an
    * IEEE-exact op, so that form can never hash-match across engines
    * (same adjudication as [[CorpusStats.bigramLm]]). This operator
    * ships the integer-exact arithmetic-mean form instead:
    *
    *   dsir_weight = (Σ_f c_tgt(f) / N_tgt) / (Σ_f c_raw(f) / N_raw)
    *
    * — the ratio of the doc's AVERAGE feature probability under the
    * two models. Every aggregate is a BIGINT sum; the one division
    * happens at output. weight > 1 ⇔ the doc's features are more
    * target-typical than corpus-typical. Compose with [[scoreKeep]]
    * (per-mille = ⌊weight·k⌋) for the resampling step.
    *
    * Scale shape — DSIR's whole point survives re-expression: the
    * model is BOUNDED at `buckets` rows regardless of corpus size (no
    * Heaps-law growth, unlike the rarity/bigram-LM vocab tables), so
    * the two count tables stay broadcast-able at 100 TB and the only
    * corpus-scale costs are the map-only feature explode and one
    * per-doc re-aggregation. Docs with no tokens survive the final
    * left join with n_feats = 0 and a NULL weight. Cost note: the
    * feature explode is recomputed four times (per-doc rows, target
    * model, raw model, totals) — stateless by design; pre-materialize
    * the exploded features if the tokenizer is the bill.
    *
    * @return ONLY (idCol, n_feats, tgt_mass, raw_mass, dsir_weight) —
    *         join back on idCol to re-attach other columns.
    */
  def dsirWeights(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, targetPredicate: Column,
      buckets: Int = 4096): org.apache.spark.sql.DataFrame =
    dsirWeightsWith(docs, idCol, textCol,
      dsirModel(docs, idCol, textCol, targetPredicate, buckets), buckets)

  /** The trained model of [[dsirWeights]], factored for INCREMENTAL
    * maintenance (same contract as the line-df / token-df / bigram-LM
    * tables): per hashed-feature bucket, the target-slice and
    * whole-corpus occurrence counts (bucket, tgt_n, raw_n). ONE
    * aggregate pass computes both columns, the table is BOUNDED at
    * `buckets` rows regardless of corpus size, and the totals both
    * scores need are its own column sums — so the maintained model is
    * a single broadcastable table.
    */
  def dsirModel(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, targetPredicate: Column,
      buckets: Int = 4096): org.apache.spark.sql.DataFrame = {
    require(buckets > 0, s"buckets=$buckets")
    // tokens projected to a column FIRST: dsirFeatures references the
    // array several times, and an inline split expression would re-run
    // the regex per reference (measured 10× on the corpus pass)
    docs.select(targetPredicate.as("__is_tgt"),
        graft.functions.TextFunctions.tokens(col(textCol)).as("__toks"))
      .select(col("__is_tgt"),
        explode(dsirFeatures(col("__toks"), buckets)).as("bucket"))
      .groupBy(col("bucket"))
      .agg(sum(when(col("__is_tgt"), 1L).otherwise(0L)).as("tgt_n"),
        count(lit(1)).as("raw_n"))
  }

  /** Every batch's [[dsirModel]] partial in ONE corpus pass — group by
    * (bucket, batch). `where(batch === r)` slices are byte-identical
    * to per-batch [[dsirModel]] calls when `batch` assigns each doc
    * exactly one value; MATERIALIZE (localCheckpoint) before slicing
    * or each slice re-runs the shared pass.
    */
  def dsirModelBy(docs: org.apache.spark.sql.DataFrame,
      textCol: String, targetPredicate: Column, batch: Column,
      buckets: Int = 4096): org.apache.spark.sql.DataFrame = {
    require(buckets > 0, s"buckets=$buckets")
    docs.select(targetPredicate.as("__is_tgt"), batch.as("batch"),
        graft.functions.TextFunctions.tokens(col(textCol)).as("__toks"))
      .select(col("__is_tgt"), col("batch"),
        explode(dsirFeatures(col("__toks"), buckets)).as("bucket"))
      .groupBy(col("bucket"), col("batch"))
      .agg(sum(when(col("__is_tgt"), 1L).otherwise(0L)).as("tgt_n"),
        count(lit(1)).as("raw_n"))
  }

  /** Additive merge of per-batch [[dsirModel]] partials — exact iff
    * the batches partition the document space. Union + two sums over
    * a ≤ `buckets`-row table.
    */
  def mergeDsirModel(parts: Seq[org.apache.spark.sql.DataFrame])
      : org.apache.spark.sql.DataFrame =
    CorpusStats.mergeStats(parts, Seq("bucket"), Seq("tgt_n", "raw_n"))

  /** [[dsirWeights]] against a PRECOMPUTED (e.g. incrementally
    * maintained) model table: weight any batch of documents without
    * refitting. Feature buckets absent from the model contribute zero
    * mass to both sides (for the self-computed composition this never
    * happens — a doc's own features are in the raw counts — so the
    * composition is exactly the original operator).
    */
  def dsirWeightsWith(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, model: org.apache.spark.sql.DataFrame,
      buckets: Int = 4096): org.apache.spark.sql.DataFrame = {
    require(buckets > 0, s"buckets=$buckets")
    // MAP-ONLY scoring (round 18): the model is BOUNDED at `buckets`
    // rows by construction (DSIR's fixed-size representation is its
    // point), so it is COLLECTED into two bucket-indexed count arrays —
    // the same bounded footprint the broadcast hash relation cost —
    // and each doc folds its own features in ONE compiled kernel pass
    // ([[graft.expressions.DsirMass]]): no feature explode (≈ 2·tokens
    // rows per doc existed only to sum two array lookups), no join, no
    // doc-keyed re-aggregation. The round-17 interpreted-HOF attempt at
    // this shape lost 45% (bench_evidence/r17_b3_dsir_maponly_*);
    // the compiled fold is the form that wins. Buckets absent from the
    // model contribute zero mass (array default), exactly like the old
    // left join; model rows outside [0, buckets) never matched any
    // pmod-hashed feature before, so they are skipped here — but still
    // count toward the totals, as the old model-wide aggregate did.
    var nt = 0L
    var nr = 0L
    val tgt = new Array[Long](buckets)
    val raw = new Array[Long](buckets)
    val seen = new java.util.HashSet[Long]()
    CorpusStats.collectModel("dsirWeightsWith", model,
        Seq("bucket" -> "long"), Seq("tgt_n", "raw_n"))
      .foreach { r =>
        val b = r.getLong(0)
        require(seen.add(b),
          s"dsirWeightsWith: duplicate bucket $b in model (the join form " +
            "would multiply features; refuse instead of diverging)")
        val t = if (r.isNullAt(1)) 0L else r.getLong(1)
        val n = if (r.isNullAt(2)) 0L else r.getLong(2)
        nt += t
        nr += n
        if (b >= 0 && b < buckets) { tgt(b.toInt) += t; raw(b.toInt) += n }
      }
    docs.select(col(idCol).as("__id"),
        graft.expressions.DsirMass.mass(
          coalesce(graft.functions.TextFunctions.tokens(col(textCol)),
            array().cast("array<string>")), buckets, tgt, raw).as("__m"))
      .select(col("__id").as(idCol),
        col("__m.n_feats").as("n_feats"),
        col("__m.tgt_mass").as("tgt_mass"),
        col("__m.raw_mass").as("raw_mass"),
        when(col("__m.raw_mass") === 0 || lit(nt) === 0, lit(null))
          .otherwise(round(
            (col("__m.tgt_mass").cast("double") * lit(nr).cast("double")) /
            (col("__m.raw_mass").cast("double") * lit(nt).cast("double")), 6))
          .as("dsir_weight"))
  }
}
