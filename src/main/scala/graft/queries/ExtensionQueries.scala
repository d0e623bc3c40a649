package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.functions.{TextFunctions => T}
import graft.operators.{Dedup, Multimodal, Packing, Similarity}

/** Training-data-pipeline operators (driver mandate beyond the
  * reference): dedup family, similarity search, text analysis,
  * multimodal metadata — each oracle-checked against DuckDB.
  *
  * Portability notes (see ParityQueries for the general contract):
  * numeric hashing is md5-prefix-based ([[graft.functions.HashFunctions]])
  * because Spark's native hashes aren't reproducible elsewhere; vector
  * math folds left-to-right in double so scores are bit-identical;
  * thresholds compare RAW doubles and only the output column is
  * rounded.
  */
object ExtensionQueries {
  type Q = (SparkSession, String) => DataFrame

  private val P = 1000000007L

  // ---- shared DuckDB fragments -------------------------------------------

  /** tokens CTE: tk(doc_id, text, lang, toks). */
  private val tokCte =
    """WITH tk AS (
      |  SELECT doc_id, text, lang,
      |    CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
      |         ELSE string_split_regex(trim(text), '\s+') END AS toks
      |  FROM documents)
      |""".stripMargin

  /** 5-gram hashed shingle sets sh(doc_id, s): per-token md5-prefix
    * hash mod P, rolling-combined ×131 per window — mirrors
    * [[graft.expressions.WordShingleHashes]] exactly (same overflow-
    * free arithmetic, same short-doc single-window rule).
    */
  private def shingleCteN(n: Int): String = tokCte +
    s""", th AS (
       |  SELECT doc_id,
       |    list_transform(toks, t -> CAST('0x' || substr(md5(t), 1, 15) AS BIGINT) % $P) AS h
       |  FROM tk),
       |sh AS (
       |  SELECT doc_id, list_sort(list_distinct(list_transform(
       |    range(1, greatest(len(h) - ${n - 1}, 1) + 1),
       |    i -> list_reduce(list_prepend(CAST(0 AS BIGINT), h[CAST(i AS INT):CAST(i + ${n - 1} AS INT)]),
       |         (a, b) -> (a * 131 + b) % $P)))) AS s
       |  FROM th)
       |""".stripMargin
  // NB the per-STEP `% P` in the fold: congruent to WordShingleHashes'
  // arithmetic (mod is a ring homomorphism) and required for windows
  // past ~5 tokens, where h·131^(n-1) would overflow INT64 if the
  // reduction were applied only at the end.

  private val shingleCte = shingleCteN(5)

  /** 60-bit double-hash shingle sets — mirrors
    * [[graft.expressions.WordShingleHashes64]] (two per-step-mod
    * folds over the same token hashes, multipliers 131/137, combined
    * `h131·P + h137`; same short-doc single-window rule). For span
    * pairing, where the hash-equal pair IS the output and a 30-bit
    * residue manufactures m²/2P spurious pairs by birthday collision.
    */
  private def shingleCte64N(n: Int): String = tokCte +
    s""", th AS (
       |  SELECT doc_id,
       |    list_transform(toks, t -> CAST('0x' || substr(md5(t), 1, 15) AS BIGINT) % $P) AS h
       |  FROM tk),
       |sh AS (
       |  SELECT doc_id, list_sort(list_distinct(list_transform(
       |    range(1, greatest(len(h) - ${n - 1}, 1) + 1),
       |    i -> list_reduce(list_prepend(CAST(0 AS BIGINT), h[CAST(i AS INT):CAST(i + ${n - 1} AS INT)]),
       |         (a, b) -> (a * 131 + b) % $P) * $P +
       |         list_reduce(list_prepend(CAST(0 AS BIGINT), h[CAST(i AS INT):CAST(i + ${n - 1} AS INT)]),
       |         (a, b) -> (a * 137 + b) % $P)))) AS s
       |  FROM th)
       |""".stripMargin

  private val jaccardTailSql =
    """, jc AS (
      |  SELECT c.i, c.j,
      |    CAST(CAST(len(list_intersect(sa.s, sb.s)) AS VARCHAR) AS DOUBLE) /
      |    CAST(CAST(len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s)) AS VARCHAR) AS DOUBLE) AS jac
      |  FROM cand c JOIN sh sa ON sa.doc_id = c.i JOIN sh sb ON sb.doc_id = c.j)
      |SELECT i, j, round(jac, 6) AS jaccard FROM jc WHERE jac >= 0.7 ORDER BY i, j""".stripMargin

  private val enListSql = T.EnWords.map(w => s"'$w'").mkString("[", ",", "]")

  // ---- text analysis ------------------------------------------------------

  /** One fused [[graft.expressions.TokenStats]] pass per document —
    * semantically identical to the Column/HOF composition it replaced
    * (kept as the cross-check in `TextFunctionsSpec`), ~5× less
    * per-doc overhead and still map-only.
    */
  private def xTextStats(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .withColumn("__st", graft.expressions.TokenStats.stats(col("text"), T.EnWords))
      .select(
        col("doc_id"),
        col("__st.n_chars").cast("long").as("n_chars"),
        col("__st.n_tokens").cast("long").as("n_tokens"),
        round(col("__st.n_punct").cast("double") /
          col("__st.n_chars").cast("double"), 6).as("punct_ratio"),
        round(col("__st.n_dict").cast("double") /
          col("__st.n_tokens").cast("double"), 6).as("stopword_ratio"),
        round(col("__st.tok_len_sum").cast("double") /
          col("__st.n_tokens").cast("double"), 6).as("avg_token_len"))
      .orderBy("doc_id")

  /** Gopher document-quality rules (Rae et al. 2021, Table A1): the
    * LINE-level repetition/format signals the token-level stats can't
    * see — duplicate-line fraction, duplicate-line character fraction,
    * bullet- and ellipsis-line fractions — plus mean word length,
    * alphabetic-word fraction and symbol-to-word ratio, and the fused
    * `gopher_pass` verdict over the published thresholds (50 ≤ words ≤
    * 100k, 3 ≤ mean word len ≤ 10, sym ratio < 0.1, bullet < 0.9,
    * ellipsis < 0.3, alpha > 0.8, ≥ 2 stopwords, dup lines < 0.3, dup
    * chars < 0.2). The synthetic corpus has no newlines, so a lined
    * rendition is derived deterministically on BOTH engines: 8-token
    * lines, plus planted signal by doc_id — %3 duplicates the first
    * line, %5 appends a bullet line, %7 an ellipsis line. One
    * [[graft.expressions.LineStats]] + one
    * [[graft.expressions.TokenStats]] pass per document — map-only.
    */
  private def xTextGopher(s: SparkSession, dir: String): DataFrame = {
    import graft.expressions.{LineStats, TokenStats}
    // every lined-rendition stage is PROJECTED before the next consumes
    // it: each is non-cheap and referenced 2-4× (both branches of its
    // `when`), so inlining used to duplicate the whole upstream tree
    // per reference — the token split re-ran per window element and the
    // duplication compounded stage over stage (~16× the split work)
    val lines = transform(T.tokenChunksOf(col("__toks"), 8, 8),
      c => array_join(c.getField("toks"), " "))
    val withDup = when(col("doc_id") % 3 === 0 && size(col("__lines")) > 0,
      concat(col("__lines"), slice(col("__lines"), 1, 1)))
      .otherwise(col("__lines"))
    val withBullet = when(col("doc_id") % 5 === 0,
      concat(col("__wd"), array(lit("- bullet item")))).otherwise(col("__wd"))
    val withEll = when(col("doc_id") % 7 === 0,
      concat(col("__wb"), array(lit("to be continued..."))))
      .otherwise(col("__wb"))
    def frac(num: org.apache.spark.sql.Column,
        den: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      when(den === 0, lit(0.0)).otherwise(
        num.cast("double") / den.cast("double"))
    Tables.documents(s, dir)
      .withColumn("__toks", T.tokens(col("text")))
      .withColumn("__lines", lines)
      .withColumn("__wd", withDup)
      .withColumn("__wb", withBullet)
      .withColumn("__t2", array_join(withEll, "\n"))
      .withColumn("__l", LineStats.stats(col("__t2")))
      .withColumn("__t", TokenStats.stats(col("__t2"), T.EnWords))
      .withColumn("__dup_line_frac",
        frac(col("__l.n_dup_lines"), col("__l.n_lines")))
      .withColumn("__dup_char_frac",
        frac(col("__l.dup_line_chars"), col("__l.line_chars")))
      .withColumn("__bullet_frac", frac(col("__l.n_bullet"), col("__l.n_lines")))
      .withColumn("__ellipsis_frac",
        frac(col("__l.n_ellipsis"), col("__l.n_lines")))
      .withColumn("__mean_word_len",
        frac(col("__t.tok_len_sum"), col("__t.n_tokens")))
      .withColumn("__alpha_frac",
        frac(col("__l.n_alpha_toks"), col("__t.n_tokens")))
      .withColumn("__sym_ratio", frac(col("__l.n_sym_hits"), col("__t.n_tokens")))
      .select(col("doc_id"),
        col("__l.n_lines").cast("long").as("n_lines"),
        round(col("__dup_line_frac"), 6).as("dup_line_frac"),
        round(col("__dup_char_frac"), 6).as("dup_char_frac"),
        round(col("__bullet_frac"), 6).as("bullet_frac"),
        round(col("__ellipsis_frac"), 6).as("ellipsis_frac"),
        round(col("__mean_word_len"), 6).as("mean_word_len"),
        round(col("__alpha_frac"), 6).as("alpha_frac"),
        round(col("__sym_ratio"), 6).as("sym_ratio"),
        (col("__t.n_tokens").between(50, 100000) &&
          col("__mean_word_len").between(3.0, 10.0) &&
          col("__sym_ratio") < 0.1 &&
          col("__bullet_frac") < 0.9 &&
          col("__ellipsis_frac") < 0.3 &&
          col("__alpha_frac") > 0.8 &&
          col("__t.n_dict") >= 2 &&
          col("__dup_line_frac") < 0.3 &&
          col("__dup_char_frac") < 0.2).as("gopher_pass"))
      .orderBy("doc_id")
  }

  /** C4 cleaning (Raffel et al. 2020 §2.2) over the same deterministic
    * lined rendition as [[xTextGopher]], with planted rule triggers:
    * terminal '.' on lines where (doc_id + ix) is even, a
    * " javascript." suffix on ix % 7 == 3 lines (punctuated but killed
    * by the word rule), a `{ config }` line on doc_id % 13 docs and a
    * "lorem ipsum" line on doc_id % 17 docs (both doc-killers; the
    * latter line individually passes every line rule — the doc rule
    * must catch it). Emits per-doc keep counts, the kept fraction, the
    * survivor verdict and the cleaned text's md5.
    */
  private def xTextC4(s: SparkSession, dir: String): DataFrame = {
    // token array projected once (the window lambda re-ran the regex
    // split per 8-token window when handed the inline expression)
    val lines0 = transform(T.tokenChunksOf(col("__toks"), 8, 8),
      c => array_join(c.getField("toks"), " "))
    val planted = transform(lines0, (l, i) =>
      when((col("doc_id") + i) % 2 === 0, concat(l, lit(".")))
        .when(i % 7 === 3, concat(l, lit(" javascript.")))
        .otherwise(l))
    val t2 = concat(array_join(planted, "\n"),
      when(col("doc_id") % 13 === 0, lit("\n{ config }")).otherwise(lit("")),
      when(col("doc_id") % 17 === 0,
        lit("\nlorem ipsum dolor sit amet.")).otherwise(lit("")))
    Tables.documents(s, dir)
      .withColumn("__toks", T.tokens(col("text")))
      .withColumn("__t2", t2)
      .withColumn("__c", T.c4Clean(col("__t2")))
      .select(col("doc_id"),
        col("__c.n_lines").cast("long").as("n_lines"),
        col("__c.n_kept").cast("long").as("n_kept"),
        round(when(col("__c.n_lines") === 0, lit(0.0))
          .otherwise(col("__c.n_kept").cast("double") /
            col("__c.n_lines").cast("double")), 6).as("kept_frac"),
        (!col("__c.dropped")).as("doc_kept"),
        md5(col("__c.clean_text")).as("clean_md5"))
      .orderBy("doc_id")
  }

  /** Edit-distance similarity join
    * ([[graft.operators.Dedup.editDistancePairs]], Pass-Join segment
    * blocking + levenshtein confirm): entity-resolution names built
    * from an md5 prefix + text prefix (unique-ish, so natural pairs
    * are rare and the planted ones decide), with substitution and
    * deletion variants planted on collision-proof id offsets. The
    * 1-in-17 doc subset keeps the ORACLE's all-pairs confirm
    * tractable at sf1 — the operator itself never goes all-pairs
    * (completeness pinned against a DP reference in
    * `DedupSimilaritySpec`).
    */
  private def xDedupEditdist(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(s, dir)
      .where(col("doc_id") % 17 === 0)
      .select(col("doc_id"),
        concat(substring(md5(col("text")), 1, 12), lit("-"),
          substring(col("text"), 1, 8)).as("nm"))
    val sub = base.where(col("doc_id") % 9 === 0)
      .select((col("doc_id") + 10000000L).as("doc_id"),
        concat(substring(col("nm"), 1, 4), lit("Z"),
          substring(col("nm"), 6, 100)).as("nm"))
    val del = base.where(col("doc_id") % 14 === 0)
      .select((col("doc_id") + 20000000L).as("doc_id"),
        concat(substring(col("nm"), 1, 6),
          substring(col("nm"), 8, 100)).as("nm"))
    graft.operators.Dedup.editDistancePairs(
        // the 6 scan+md5 evaluations of `base` are DELIBERATE:
        // checkpointing the narrow (doc_id, nm) union once lost the
        // isolated A/B/A probe (bench_evidence/r18_probe5_*) — the
        // materialization barrier beats the parallel rescans of this
        // already-filtered (doc_id % 17) slice
        base.unionByName(sub).unionByName(del), "doc_id", "nm", k = 2)
      .orderBy("i", "j")
  }

  /** The documents with `__t2`: the deterministic 8-token lined
    * rendition of [[xTextC4]] plus planted corpus-wide boilerplate — a
    * newsletter header on doc_id % 3 docs and a rights footer on
    * doc_id % 5 docs. The token array is projected once as `__toks` —
    * see xTextC4.
    */
  private def linedWithBoilerplate(s: SparkSession, dir: String): DataFrame = {
    val lines0 = transform(T.tokenChunksOf(col("__toks"), 8, 8),
      c => array_join(c.getField("toks"), " "))
    val t2 = concat(
      when(col("doc_id") % 3 === 0,
        lit("subscribe to our newsletter\n")).otherwise(lit("")),
      array_join(lines0, "\n"),
      when(col("doc_id") % 5 === 0,
        lit("\nall rights reserved")).otherwise(lit("")))
    Tables.documents(s, dir)
      .withColumn("__toks", T.tokens(col("text")))
      .withColumn("__t2", t2)
  }

  /** Corpus-level line deduplication
    * ([[graft.operators.CorpusStats.dropDuplicateLines]], the
    * RefinedWeb/CCNet boilerplate-removal stage) over the same
    * deterministic 8-token lined rendition as [[xTextC4]], with planted
    * corpus-wide boilerplate: a newsletter header on doc_id % 3 docs
    * and a rights footer on doc_id % 5 docs — both far above the df
    * cap, so line dedup must strip them while keeping each doc's
    * natural lines (which can themselves exceed the cap when a short
    * trailing chunk repeats across docs — also exercised). Emits line
    * counts and the cleaned text's md5.
    */
  private def xTextLineDedup(s: SparkSession, dir: String): DataFrame = {
    graft.operators.CorpusStats.dropDuplicateLines(
        linedWithBoilerplate(s, dir), "doc_id", "__t2", maxDocFreq = 10)
      .select(col("doc_id"), col("n_lines"), col("n_kept"),
        md5(col("clean_text")).as("clean_md5"))
      .orderBy("doc_id")
  }

  /** Incremental corpus-stats maintenance
    * ([[graft.operators.CorpusStats.lineDf]] /
    * [[graft.operators.CorpusStats.mergeLineDf]]): split the corpus
    * into three DISJOINT batches (doc_id % 3 — a stand-in for daily
    * ingestion), compute each batch's line-df partial, fold them with
    * the additive merge, and emit every line key seen in ≥ 2 distinct
    * docs. The oracle computes the same table in ONE full-corpus
    * count(DISTINCT doc_id) — equality IS the incremental ≡ recompute
    * proof, the operator's whole contract (the reference's
    * hash-gate/watermark ethos applied to corpus statistics:
    * `internal/service/tasks.go:79-127` never recounts history to
    * admit a day). Same lined rendition + planted boilerplate as
    * [[xTextLineDedup]], so the planted header (df ≈ n/3, all in one
    * batch) and footer (df ≈ n/5, spread over all three) both cross
    * batch boundaries differently — a merge that double-counted or
    * dropped a partial could not match.
    */
  private def xLinedfIncremental(s: SparkSession, dir: String): DataFrame = {
    val docs = linedWithBoilerplate(s, dir)
    // all three per-batch partials from ONE corpus pass, materialized
    // vocab-sized ([[CorpusStats.lineDfBy]]) — the slices are
    // byte-identical to per-batch lineDf calls, so the fold path under
    // proof is untouched; the corpus just isn't rescanned per batch
    val byBatch = graft.operators.CorpusStats.lineDfBy(
      docs, "doc_id", "__t2", col("doc_id") % 3).localCheckpoint(true)
    val parts = (0 to 2).map(r =>
      byBatch.where(col("batch") === r).select(col("line_key"),
        col("line_df")))
    graft.operators.CorpusStats.mergeLineDf(parts)
      .where(col("line_df") >= 2)
      .orderBy("line_key")
  }

  /** Retraction (decremental) maintenance
    * ([[graft.operators.CorpusStats.retractStats]]): build the full
    * corpus line-df table, then DELETE batch 0 (doc_id % 3 = 0 — the
    * batch carrying every planted newsletter header) by subtracting
    * its recomputed partial. The oracle recomputes line-df over the
    * surviving documents only — equality proves subtract ≡ recompute,
    * including the header key vanishing entirely (count → 0 → row
    * dropped) rather than lingering at zero.
    */
  private def xLinedfRetract(s: SparkSession, dir: String): DataFrame = {
    val docs = linedWithBoilerplate(s, dir)
    // full table and the retracted batch share ONE corpus pass
    // ([[CorpusStats.lineDfBy]]): full = the three disjoint partials
    // folded (≡ lineDf(docs) — per-batch distinct-doc counts add),
    // part0 = the batch-0 slice (≡ lineDf(batch 0))
    val byBatch = graft.operators.CorpusStats.lineDfBy(
      docs, "doc_id", "__t2", col("doc_id") % 3).localCheckpoint(true)
    val parts = (0 to 2).map(r =>
      byBatch.where(col("batch") === r).select(col("line_key"),
        col("line_df")))
    val full = graft.operators.CorpusStats.mergeLineDf(parts)
    graft.operators.CorpusStats.retractStats(full, parts(0),
        Seq("line_key"), Seq("line_df"))
      .where(col("line_df") >= 2)
      .orderBy("line_key")
  }

  /** Incremental token-df maintenance
    * ([[graft.operators.CorpusStats.tokenDf]] /
    * [[graft.operators.CorpusStats.mergeTokenDf]] — the rarity model's
    * stats table, maintained the same way as the line-df table): four
    * disjoint batches (doc_id % 4), per-batch partials, additive
    * merge, against the oracle's one full-corpus distinct-doc count.
    */
  private def xTokendfIncremental(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    // four per-batch partials from ONE corpus pass — see
    // xLinedfIncremental for the shape and the equivalence argument
    val byBatch = graft.operators.CorpusStats.tokenDfBy(
      docs, "doc_id", "text", col("doc_id") % 4).localCheckpoint(true)
    val parts = (0 to 3).map(r =>
      byBatch.where(col("batch") === r).select(col("token"),
        col("token_df")))
    graft.operators.CorpusStats.mergeTokenDf(parts)
      .orderBy("token")
  }

  /** Count-min sketch frequency estimation
    * ([[graft.operators.CorpusStats.countMinSketch]] /
    * [[graft.operators.CorpusStats.countMinEstimateMapOnly]]), built
    * INCREMENTALLY: four disjoint-batch sketches folded through the
    * generic [[graft.operators.CorpusStats.mergeStats]] (the fifth
    * maintained shape — fixed `depth·width` rows however large the
    * stream grows), then every corpus token's frequency estimated
    * against the merged sketch next to its exact count. The oracle
    * sketches in ONE pass, so the hash match proves incremental ≡
    * recompute AND pins the estimator (width 64 forces real
    * collisions at every gate scale — est > exact rows exist — while
    * `min` keeps est ≥ exact always).
    */
  private def xSketchCountmin(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val (depth, width) = (3, 64)
    // the four per-batch sketches AND the exact counts all derive from
    // ONE materialized (token, batch, n) pass ([[CorpusStats
    // .tokenCountsBy]]): each batch slice is byte-identical to the
    // per-batch tokenization it replaces, sketches build from the
    // vocab-sized slices ([[CorpusStats.countMinSketchOf]]), and the
    // exact table is the slices' sum — 5 corpus tokenizations → 1
    val byBatch = graft.operators.CorpusStats.tokenCountsBy(
      docs, "text", col("doc_id") % 4).localCheckpoint(true)
    val parts = (0 to 3).map(r =>
      graft.operators.CorpusStats.countMinSketchOf(
        byBatch.where(col("batch") === r).select(col("token"), col("n")),
        depth, width))
    val sketch = graft.operators.CorpusStats.mergeStats(
      parts, Seq("d", "bucket"), Seq("n"))
    val exact = byBatch.groupBy(col("token"))
      .agg(sum(col("n")).as("n_exact"))
    // map-only estimate (round 18): `exact` is token-grouped (distinct),
    // so the compiled-kernel form ([[CorpusStats.countMinEstimateMapOnly]])
    // is identical to the collapsing join form, minus one vocab-sized
    // exchange and the ×depth explode
    graft.operators.CorpusStats.countMinEstimateMapOnly(
        exact, "token", sketch, depth, width)
      .select(col("token"), col("n_est"), col("n_exact"))
      .orderBy("token")
  }

  /** Sketch-screened heavy hitters
    * ([[graft.operators.CorpusStats.heavyHittersWithCounts]]): tokens whose
    * corpus count reaches 1/64 of the token mass, found by screening
    * the vocabulary against the incrementally built sketch (no false
    * negatives — est ≥ exact) and exact-confirming only the
    * candidates. The oracle is the plain `HAVING count ≥ T` — sketch
    * false positives MUST be invisible in the output, so the hash
    * match proves both the screen's no-false-negative guarantee and
    * the confirm pass. Threshold is corpus-relative ((total+63)/64,
    * integer arithmetic) so the query is meaningful at every scale.
    */
  private def xSketchHeavy(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val (depth, width) = (3, 64)
    // sketches, corpus token total AND the screen/confirm counts all
    // derive from ONE materialized (token, batch, n) pass — see
    // xSketchCountmin; the total is the table's Σn (≡ exploded-row
    // count), and the confirm reads exact counts instead of
    // re-tokenizing ([[CorpusStats.heavyHittersWithCounts]])
    val byBatch = graft.operators.CorpusStats.tokenCountsBy(
      docs, "text", col("doc_id") % 4).localCheckpoint(true)
    val parts = (0 to 3).map(r =>
      graft.operators.CorpusStats.countMinSketchOf(
        byBatch.where(col("batch") === r).select(col("token"), col("n")),
        depth, width))
    val sketch = graft.operators.CorpusStats.mergeStats(
      parts, Seq("d", "bucket"), Seq("n"))
    val total = byBatch.agg(coalesce(sum(col("n")), lit(0L)))
      .collect()(0).getLong(0)
    val threshold = (total + 63L) / 64L
    val exact = byBatch.groupBy(col("token")).agg(sum(col("n")).as("n"))
    graft.operators.CorpusStats.heavyHittersWithCounts(
        exact, sketch, depth, width, math.max(threshold, 1L))
      .orderBy("token")
  }

  /** Heavy hitters OVER THE WHOLE STREAM
    * ([[graft.operators.CorpusStats.heavyHittersOverStream]]): three
    * "historical" batches fold BOTH maintained shapes — the exact
    * [[graft.operators.CorpusStats.tokenCounts]] table (sixth shape)
    * and the count-min sketch (fifth) — then the fourth batch arrives
    * as "today" and the whole-stream heavy hitters are computed from
    * maintained state + the batch alone: sketch-screen the batch
    * vocabulary (est_hist + n_batch ≥ true total — no false
    * negatives), exact filter of the history table for
    * heavy-from-history-alone tokens, sliver-sized confirm. The
    * oracle never sees the split, the sketch, or the maintained
    * tables — it is the plain `HAVING count ≥ T` over ALL documents —
    * so the hash match proves the composition finds exactly the
    * stream-wide heavy set with exact totals, including tokens heavy
    * from history but light (or absent) in today's batch: the case
    * [[graft.operators.CorpusStats.heavyHittersWithCounts]]'s same-corpus
    * contract excludes.
    */
  private def xSketchHeavyStream(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val (depth, width) = (3, 64)
    // the three history tokenCounts partials, the three history
    // sketches, today's batch counts and the stream total all derive
    // from ONE materialized (token, batch, n) pass — see
    // xSketchCountmin for the slice-equivalence argument
    val byBatch = graft.operators.CorpusStats.tokenCountsBy(
      docs, "text", col("doc_id") % 4).localCheckpoint(true)
    def slice(r: Int) = byBatch.where(col("batch") === r)
      .select(col("token"), col("n"))
    val histCounts = graft.operators.CorpusStats.mergeStats(
      (0 to 2).map(slice), Seq("token"), Seq("n"))
    val sketch = graft.operators.CorpusStats.mergeStats(
      (0 to 2).map(r => graft.operators.CorpusStats.countMinSketchOf(
        slice(r), depth, width)),
      Seq("d", "bucket"), Seq("n"))
    val total = byBatch.agg(coalesce(sum(col("n")), lit(0L)))
      .collect()(0).getLong(0)
    val threshold = math.max((total + 63L) / 64L, 1L)
    graft.operators.CorpusStats.heavyHittersOverStreamCounts(
        slice(3), histCounts, sketch, depth, width, threshold)
      .orderBy("token")
  }

  /** Incremental bigram-LM model maintenance
    * ([[graft.operators.CorpusStats.bigramCounts]] /
    * [[graft.operators.CorpusStats.mergeBigramCounts]] /
    * [[graft.operators.CorpusStats.bigramLmWith]]): train the CCNet-
    * shaped model from three DISJOINT reference batches, fold the
    * partials additively, and score EVERY document against the merged
    * model. The oracle is [[xQualityLm]]'s SQL verbatim (one
    * full-corpus training pass) — equality proves incremental model ≡
    * full model through the entire scoring path, not just the count
    * table.
    */
  private def xBigramlmIncremental(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    // three per-batch model partials from ONE reference pass — see
    // xLinedfIncremental for the shape and the equivalence argument
    val byBatch = graft.operators.CorpusStats.bigramCountsBy(
      docs.where(col("lang") === "en"), "text", col("doc_id") % 3)
      .localCheckpoint(true)
    val parts = (0 to 2).map(r =>
      byBatch.where(col("batch") === r).select(col("w1"), col("bg"),
        col("n")))
    graft.operators.CorpusStats.bigramLmWith(docs, "doc_id", "text",
        graft.operators.CorpusStats.mergeBigramCounts(parts))
      .orderBy("doc_id")
  }

  /** Repetition signals (Gopher-style quality rules): distinct-token
    * ratio and the share of the single most frequent token — boilerplate
    * and degenerate generations score low ratio / high share. The
    * per-doc token multiset is bounded by the document, so the fused
    * [[graft.expressions.TokenStats]] fold computes both signals
    * MAP-ONLY — this used to be an explode into (doc, token) rows plus
    * two corpus-sized aggregations, a shuffle the kernel deletes.
    */
  private def xTextRepetition(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .withColumn("__st", graft.expressions.TokenStats.stats(col("text"), Nil))
      .select(col("doc_id"),
        col("__st.n_tokens").cast("long").as("n_tokens"),
        col("__st.n_distinct").cast("long").as("n_distinct"),
        round(when(col("__st.n_tokens") === 0, 0.0)
          .otherwise(col("__st.n_distinct").cast("double") / col("__st.n_tokens").cast("long")), 6)
          .as("distinct_ratio"),
        round(when(col("__st.n_tokens") === 0, 0.0)
          .otherwise(col("__st.top_n").cast("long").cast("double") / col("__st.n_tokens").cast("long")), 6)
          .as("top_share"))
      .orderBy("doc_id")

  private def xTextLangid(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(
      col("doc_id"),
      T.langGuess(col("text")).as("lang_guess"),
      col("lang").as("lang_declared"))
      .orderBy("doc_id")

  /** TRAINED language-ID as an incremental model
    * ([[graft.operators.CorpusStats.langProfiles]] — Cavnar–Trenkle
    * char-trigram profiles in the round-11 trio pattern): the model is
    * trained as three DISJOINT per-batch partials (doc_id % 3, the
    * daily-ingestion stand-in, same split as [[xLinedfIncremental]])
    * folded with the additive merge, then
    * every document is scored against the maintained model. The
    * oracle trains in ONE full-corpus pass — hash equality IS the
    * incremental ≡ recompute proof through the whole classify path
    * (same contract as [[xLinedfIncremental]]).
    */
  private def xLangidTrained(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    // per-batch partials DELIBERATELY kept as separate passes (unlike
    // xLinedfIncremental's shared-pass rewrite): here no partial is
    // referenced twice and the merged model is collected once, so a
    // (lang, gram, batch) checkpoint only ADDS a second vocab-sized
    // materialization — measured +60% on the isolated A/B/A probe
    // (bench_evidence/r17_b2_langid_probe_*.json), reverted
    val parts = (0 to 2).map(r =>
      graft.operators.CorpusStats.langProfiles(
        docs.where(col("doc_id") % 3 === r), "lang", "text"))
    graft.operators.CorpusStats.langClassifyWith(docs, "doc_id", "text",
        graft.operators.CorpusStats.mergeLangProfiles(parts))
      .orderBy("doc_id")
  }

  private def xTextFingerprint(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(
      col("doc_id"),
      T.fingerprintMd5(col("text")).as("fp_md5"),
      T.rollingHash(col("text")).as("fp_roll"))
      .orderBy("doc_id")

  /** PII-bearing fixture: deterministic emails/phones appended to a
    * third of the docs each (the corpus itself carries no PII), so the
    * redaction has real matches to count and strip.
    */
  private def xTextRedact(s: SparkSession, dir: String): DataFrame = {
    val decorated = when(col("doc_id") % 3 === 0,
      concat(col("text"), lit(" contact user"), col("doc_id").cast("string"),
        lit("@example.com now")))
      .when(col("doc_id") % 3 === 1,
        concat(col("text"), lit(" call +3805512"),
          lpad((col("doc_id") % 1000).cast("string"), 3, "0")))
      .otherwise(col("text"))
    Tables.documents(s, dir)
      .select(col("doc_id"), decorated.as("t"))
      .withColumn("__r", graft.expressions.PiiRedactStats.stats(col("t")))
      .select(col("doc_id"),
        col("__r.n_emails").cast("long").as("n_emails"),
        col("__r.n_phones").cast("long").as("n_phones"),
        md5(col("__r.redacted")).as("redacted_md5"))
      .orderBy("doc_id")
  }

  /** Context-window chunking — 64-token windows at stride 48
    * (16-token overlap), the sequence-prep shape every training
    * pipeline runs before tokenization. Map-only: the windows are a
    * per-row HOF ([[T.tokenChunks]]) posexploded in place; the only
    * exchange in the plan is the output ORDER BY (pinned in
    * PlanAuditSpec). Chunk identity = md5 of the space-rejoined
    * window, bit-matched by DuckDB's list_slice/array_to_string.
    */
  private def xTextChunks(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .withColumn("__toks", T.tokens(col("text")))
      .select(col("doc_id"),
        posexplode(T.tokenChunksOf(col("__toks"), 64, 48))
          .as(Seq("chunk_ix", "c")))
      .select(col("doc_id"),
        col("chunk_ix").cast("long").as("chunk_ix"),
        col("c.start").cast("long").as("chunk_start"),
        size(col("c.toks")).cast("long").as("n_tokens"),
        md5(concat_ws(" ", col("c.toks"))).as("chunk_md5"))
      .orderBy("doc_id", "chunk_ix")

  /** Contiguous sequence packing placement ([[Packing.packPlacement]])
    * — 256-token context bins over 16 hash shards: where does every
    * document land when the corpus is concatenated and cut into
    * fixed-size training windows? One shuffle (by shard) + a
    * running-sum window; placement is replay-stable by construction
    * (hash shard, id order, exclusive prefix sum).
    */
  private def xTextPack(s: SparkSession, dir: String): DataFrame =
    Packing.packPlacement(
        Tables.documents(s, dir).select(col("doc_id"), col("text")),
        "doc_id", T.tokenCount(col("text")), budget = 256, nShards = 16)
      .orderBy("doc_id")

  /** Bin inventory over [[xTextPack]]'s layout ([[Packing.binFill]]):
    * per (shard, bin) doc/token fill — the QA view that catches
    * budget misconfiguration (mostly-empty or pathologically
    * straddled bins) before a packing job burns a cluster.
    */
  private def xTextPackBins(s: SparkSession, dir: String): DataFrame =
    Packing.binFill(
      Packing.packPlacement(
        Tables.documents(s, dir).select(col("doc_id"), col("text")),
        "doc_id", T.tokenCount(col("text")), budget = 256, nShards = 16),
      budget = 256)
      .orderBy("shard", "bin")

  /** Deterministic split/sampling assignment — pure per-row hash map,
    * no shuffle, replay-stable (no rand()).
    */
  private def xSplitAssign(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(
      col("doc_id"),
      graft.operators.Sampling.hashBucket(col("doc_id"), 100).as("bucket"),
      graft.operators.Sampling.splitAssign(col("doc_id")).as("split"),
      graft.operators.Sampling.deterministicKeep(col("doc_id"), 250).as("keep_25pct"))
      .orderBy("doc_id")

  /** Per-source cap: at most 50 docs per source, best-first by
    * (n_chars DESC, doc_id) — the anti-domination guard of every
    * crawl mix. Plans as a window group limit (per-partition top-n
    * both before the stratum exchange and under the final sort —
    * pinned in PlanAuditSpec), so a skewed source never ships or
    * sorts its full slice.
    */
  private def xCapPerSource(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.capPerStratum(
        Tables.documents(s, dir).select(col("doc_id"), col("source"),
          col("n_chars")),
        col("source"), col("n_chars"), col("doc_id"), 50)
      .select(col("doc_id"), col("source"), col("n_chars"),
        col("cap_rank").cast("long").as("cap_rank"))
      .orderBy("source", "cap_rank")

  /** Stratified corpus balancing: downsample English (the dominant
    * stratum) to 30% while keeping the rest — deterministic hash
    * sampling, map-only (see [[graft.operators.Sampling.stratifiedKeep]]).
    */
  private def xSplitStratified(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .where(graft.operators.Sampling.stratifiedKeep(
        col("lang"), col("doc_id"), Map("en" -> 300)))
      .select(col("doc_id"), col("lang"))
      .orderBy("doc_id")

  /** Exact long-span duplication ([[Dedup.sharedSpanPairs]]): doc
    * pairs sharing verbatim 8-token windows, df-capped against
    * boilerplate fan-out.
    */
  private def xDedupSpans(s: SparkSession, dir: String): DataFrame =
    Dedup.sharedSpanPairs(Tables.documents(s, dir), "doc_id", "text", n = 8)
      .orderBy("i", "j")

  /** Exact duplicated-substring removal
    * ([[graft.operators.Dedup.dropDuplicateSubstrings]], the Lee et
    * al. 2022 rewrite): every token covered by a 4-token window
    * occurring ≥ 2 times corpus-wide is dropped and the document
    * rebuilt. n = 4 on the gate corpus yields MIXED coverage (some
    * windows duplicated, most not), so partial rewrites, fully-kept
    * and fully-removed docs all appear in the output. The oracle
    * reconstructs the rolling window hashes per position
    * (per-step-mod fold — congruent to the kernel's rolling update),
    * the corpus-wide occurrence counts, the covered-position set, and
    * the ordered rebuild independently.
    */
  private def xDedupSubstring(s: SparkSession, dir: String): DataFrame =
    Dedup.dropDuplicateSubstrings(Tables.documents(s, dir), "doc_id",
        "text", n = 4)
      .orderBy("doc_id")

  /** BM25-shaped keyword search
    * ([[graft.operators.CorpusStats.bm25Scores]]): a fixed 4-term
    * query scored against every document, ratio-IDF (the libm-free
    * deviation documented on the operator), deterministic top-50 by
    * (score DESC, doc_id).
    */
  private def xSearchBm25(s: SparkSession, dir: String): DataFrame =
    graft.operators.CorpusStats.bm25Scores(
        Tables.documents(s, dir), "doc_id", "text",
        Seq("spark", "query", "window", "merge"))
      .orderBy(desc("score"), col("doc_id"))
      .limit(50)

  /** Corpus-relative rarity scoring
    * ([[graft.operators.CorpusStats.meanTokenDf]]): mean document
    * frequency of each doc's distinct tokens — the integer-exact
    * corpus-model quality signal (low = noise/codes, high = common
    * prose).
    */
  private def xTextRarity(s: SparkSession, dir: String): DataFrame =
    graft.operators.CorpusStats.meanTokenDf(
        Tables.documents(s, dir), "doc_id", "text")
      .orderBy("doc_id")

  /** CCNet-shaped corpus-LM quality scoring
    * ([[graft.operators.CorpusStats.bigramLm]]): train word-bigram
    * counts on the English slice (CCNet's wiki-LM role), score EVERY
    * document's OOV-bigram fraction and aggregate conditional
    * frequency against that model. Integer-exact aggregates — the
    * log-free stand-in for perplexity (see the operator scaladoc for
    * why a float log-sum cannot be oracle-portable).
    */
  private def xQualityLm(s: SparkSession, dir: String): DataFrame =
    graft.operators.CorpusStats.bigramLm(
        Tables.documents(s, dir), "doc_id", "text",
        col("lang") === "en")
      .orderBy("doc_id")

  /** Deterministic source-mixing ([[graft.operators.Sampling.mixCopies]]):
    * upsample src13 2.5×, downsample src8 to 0.3×, drop src7, pass the
    * rest — every copy decision a pure hash function, materialized by
    * one explode.
    */
  private def xMixWeights(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .withColumn("copies", graft.operators.Sampling.mixCopies(
        col("source"), col("doc_id"),
        Map("src13" -> 2500, "src8" -> 300, "src7" -> 0)))
      .where(col("copies") > 0)
      .select(col("doc_id"), col("source"), col("copies"),
        explode(expr("sequence(0L, copies - 1)")).as("copy_ix"))
      .orderBy("doc_id", "copy_ix")

  /** Corpus-composition report — the "what is my mix" view every
    * curation run starts and ends with: per-source doc count, token
    * and character mass, and each source's share of corpus token mass.
    * One map-side-combined groupBy to a source-cardinality table; the
    * share is a window over that tiny aggregate (never the corpus).
    * Integer sums throughout, so shares divide exact BIGINTs — order-
    * independent and engine-portable.
    */
  private def xMixReport(s: SparkSession, dir: String): DataFrame = {
    val agg = Tables.documents(s, dir)
      .select(col("source"), col("n_chars"),
        T.tokenCount(col("text")).cast("long").as("__nt"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__nt")).as("n_tokens"),
        sum(col("n_chars")).as("char_mass"))
    agg.withColumn("token_share",
        round(col("n_tokens").cast("double") /
          sum(col("n_tokens")).over(
            org.apache.spark.sql.expressions.Window.partitionBy())
            .cast("double"), 6))
      .orderBy("source")
  }

  /** BPE learn-loop argmax view: adjacent character-pair counts over
    * the corpus WORD TABLE (iteration 0 of [[graft.operators.Bpe]] —
    * the merge the trainer would learn first is this query's top row).
    * The word table is the only corpus-sized stage; the pair explode
    * runs over the vocab. Top 50, totally ordered (count desc, then
    * pair), so the limit is deterministic on both engines.
    */
  private def xBpePairs(s: SparkSession, dir: String): DataFrame = {
    val words = graft.operators.Bpe.wordTable(Tables.documents(s, dir), "text")
    graft.operators.Bpe.pairCounts(graft.operators.Bpe.charSyms(words))
      .orderBy(desc("count"), col("a"), col("b")).limit(50)
      .select(col("a"), col("b"), col("count").as("pair_count"))
  }

  /** Learned merge list carried from [[xBpeTokens]]'s query build to
    * [[oracles]] (same mechanism as [[embDedupPlanes]]: Verify builds
    * every selected query before dumping oracle_sql.json, so the
    * interpolated list is always current).
    */
  @volatile private var bpeTokenMerges: Seq[(Int, String, String)] = Seq()

  /** Per-document BPE token accounting with REAL learned merges: train
    * 10 merges on the corpus ([[graft.operators.Bpe.trainBpe]] —
    * deterministic, so both engines see the same list), encode the
    * distinct-word vocabulary, join back per doc. The oracle replays
    * the encode as a chain of boundary-anchored string replaces
    * (symbols joined by chr(1) with a LEADING separator per symbol:
    * replacing chr(1)+a+chr(1)+b with chr(1)+ab is exactly the
    * kernel's left-to-right non-overlapping merge, and the leading
    * separator makes a partial-symbol false match impossible).
    */
  private def xBpeTokens(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    // batched learner: identical list to the sequential reference
    // (pinned in BpeSpec), so the oracle gate exercises the production
    // training path end-to-end; the trained word table feeds the
    // encode's distinct-word set (one corpus-token shuffle saved)
    val trained = graft.operators.Bpe.trainBpe(docs, "text", 10)
    bpeTokenMerges = trained.merges
    graft.operators.Bpe.subwordCounts(docs, "doc_id", "text",
        trained.merges, distinctWords = Some(trained.words))
      .orderBy("doc_id")
  }

  /** Vocabulary carried from [[xBpeIds]]'s query build to [[oracles]]
    * (same mechanism as [[bpeTokenMerges]]).
    */
  @volatile private var bpeIdMerges: Seq[(Int, String, String)] = Seq()
  @volatile private var bpeIdVocab: Seq[(Int, String)] = Seq()

  /** Doc → token-id sequences: the tokenizer's last mile. Trains 10
    * merges (batched learner), assembles the deterministic vocabulary
    * (alphabet in UTF-8 order, then merge symbols in rank order), and
    * emits every document's id sequence in token order
    * ([[graft.operators.Bpe.encodeIds]]). The oracle replays the
    * encode with [[xBpeTokens]]'s length-prefixed chr(1)-anchored
    * replace chain, then rewrites each anchored symbol to its vocab id
    * with a second replace chain — the length prefix makes every
    * pattern collision-free in ANY order (chr(1)||'1:a' cannot match
    * inside chr(1)||'2:ab'), and replacements carry no chr(1), so no
    * replace can create a later match. Output ids joined to a string
    * (portable across engines; the Spark operator itself returns the
    * real array<int>).
    */
  private def xBpeIds(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    // train → vocab → encode share one corpus pass: the vocab assembles
    // from the trained alphabet (no second scan) and the encode reuses
    // the trained word table (no corpus-token distinct)
    val trained = graft.operators.Bpe.trainBpe(docs, "text", 10)
    val voc = graft.operators.Bpe.vocabFromAlphabet(
      trained.alphabet, trained.merges)
    bpeIdMerges = trained.merges
    bpeIdVocab = voc
    graft.operators.Bpe.encodeIds(docs, "doc_id", "text",
        trained.merges, voc, distinctWords = Some(trained.words))
      .select(col("doc_id"), col("n_ids"),
        array_join(transform(col("ids"), i => i.cast("string")), " ")
          .as("ids_str"))
      .orderBy("doc_id")
  }

  /** The byte-fallback probe word appended to every document before
    * encoding: n/a/i/v/e are inside the training alphabet (they encode
    * through chars and learned merges), ï (2 UTF-8 bytes), Ω (2) and
    * 🦉 (4, non-BMP — a surrogate PAIR in Java but ONE code point,
    * which is what both engines' char split produces) are outside it
    * and must decompose to reserved byte ids 0..255. Mixing known and
    * unknown code points inside one whitespace-token exercises
    * per-symbol fallback, not per-word.
    */
  private val bpeBfProbe = "naïveΩ🦉"

  /** Carried from [[xBpeByteFallback]]'s build to [[oracles]]: the
    * learned merges, the NON-BYTE vocab rows (ids already shifted
    * +256), and each out-of-alphabet probe code point with its UTF-8
    * byte ids.
    */
  @volatile private var bpeBfMerges: Seq[(Int, String, String)] = Seq()
  @volatile private var bpeBfVocab: Seq[(Int, String)] = Seq()
  @volatile private var bpeBfUnknown: Seq[(String, Seq[Int])] = Seq()

  /** Byte-fallback encode ([[graft.operators.Bpe.vocabWithBytesFromAlphabet]] +
    * [[graft.operators.Bpe.encodeIds]] with `byteFallback = true`) —
    * the SentencePiece/Llama vocabulary contract: ids 0..255 are
    * reserved byte tokens and a symbol outside the learned vocabulary
    * decomposes into its UTF-8 bytes instead of collapsing to UNK, so
    * encode is TOTAL and no training-data mass is lost to new scripts,
    * emoji, or mojibake. The query trains 10 real merges, then encodes
    * the corpus with [[bpeBfProbe]] appended to every document; the
    * oracle replays the anchored replace chain (x_bpe_ids' trick) with
    * vocab ids shifted +256 and one extra replace per out-of-alphabet
    * code point rewriting its anchor to the literal byte ids.
    */
  /** The augmented corpus's distinct-word set: the trained word table
    * plus the probe token (appended whitespace-separated to every doc,
    * so it is always its own word) — covers every word of `aug` by
    * construction, letting the encode skip its corpus-token distinct.
    */
  private def wordsWithProbe(s: SparkSession,
      trained: graft.operators.Bpe.TrainedBpe): DataFrame = {
    import s.implicits._
    trained.words.select(col("word"))
      .union(Seq(bpeBfProbe).toDF("word")).distinct()
  }

  private def xBpeByteFallback(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val trained = graft.operators.Bpe.trainBpe(docs, "text", 10)
    val voc = graft.operators.Bpe.vocabWithBytesFromAlphabet(
      trained.alphabet, trained.merges)
    bpeBfMerges = trained.merges
    bpeBfVocab = voc.drop(256)
    val known = voc.map(_._2).toSet
    bpeBfUnknown = bpeBfProbe.codePoints().toArray.toSeq
      .map(cp => new String(Character.toChars(cp))).distinct
      .filterNot(known)
      .map(c => (c, c.getBytes("UTF-8").toSeq.map(_ & 0xFF)))
    val aug = docs.withColumn("text",
      concat_ws(" ", col("text"), lit(bpeBfProbe)))
    graft.operators.Bpe.encodeIds(aug, "doc_id", "text", trained.merges,
        voc, byteFallback = true,
        distinctWords = Some(wordsWithProbe(s, trained)))
      .select(col("doc_id"), col("n_ids"),
        array_join(transform(col("ids"), i => i.cast("string")), " ")
          .as("ids_str"))
      .orderBy("doc_id")
  }

  /** Tokenizer ROUND TRIP ([[graft.operators.Bpe.encodeIds]] with
    * byte fallback → [[graft.operators.Bpe.decodeCol]]): every
    * document — probe word with out-of-alphabet code points included —
    * encoded to ids and decoded back. The oracle is FULLY INDEPENDENT
    * of the tokenizer (it never sees the merges): just the documents'
    * tokens concatenated, because word boundaries are not encoded.
    * The hash match is the corpus-wide lossless proof — any defect in
    * merge application, id assignment, byte fallback, byte
    * reassembly, or per-doc ordering breaks it.
    */
  private def xBpeRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val trained = graft.operators.Bpe.trainBpe(docs, "text", 10)
    val voc = graft.operators.Bpe.vocabWithBytesFromAlphabet(
      trained.alphabet, trained.merges)
    val aug = docs.withColumn("text",
      concat_ws(" ", col("text"), lit(bpeBfProbe)))
    graft.operators.Bpe.encodeIds(aug, "doc_id", "text", trained.merges,
        voc, byteFallback = true,
        distinctWords = Some(wordsWithProbe(s, trained)))
      .select(col("doc_id"),
        graft.operators.Bpe.decodeCol(col("ids"), voc, byteFallback = true)
          .as("decoded"))
      .select(col("doc_id"),
        length(col("decoded")).cast("long").as("n_chars"), col("decoded"))
      .orderBy("doc_id")
  }

  /** Carried from [[xBpeBinIds]]'s build to [[oracles]] (same
    * mechanism as [[bpeTokenMerges]]).
    */
  @volatile private var bpeBinMerges: Seq[(Int, String, String)] = Seq()
  @volatile private var bpeBinVocab: Seq[(Int, String)] = Seq()

  /** Packed context bins MATERIALIZED as token-id sequences — the
    * full tokenizer-to-training-artifact path: train 10 real merges,
    * assemble the vocab, encode every doc to ids
    * ([[graft.operators.Bpe.encodeIds]]), lay the id streams into
    * budget-64 bins across 4 shards
    * ([[graft.operators.Packing.binIdSequences]]). The oracle rebuilds
    * each shard's id STREAM with plain string ops — per-doc ids via the
    * anchored replace chains, concatenated in doc order with a
    * FILTERed ordered string_agg — and slices it per bin with
    * list_slice, so bin boundaries, short final bins, and straddling
    * docs are all checked against an independent construction.
    */
  private def xBpeBinIds(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val trained = graft.operators.Bpe.trainBpe(docs, "text", 10)
    val voc = graft.operators.Bpe.vocabFromAlphabet(
      trained.alphabet, trained.merges)
    bpeBinMerges = trained.merges
    bpeBinVocab = voc
    // round 18: encode fused INTO placement — word-granularity encode
    // rows go straight to the shard window (one token-mass exchange);
    // the per-doc reassembly aggregate (doc-keyed exchange +
    // collect_list/array_sort) existed only to be re-flattened here
    val encW = graft.operators.Bpe.encodeWordIds(docs, "doc_id", "text",
        trained.merges, voc, distinctWords = Some(trained.words))
    graft.operators.Packing.binIdSequencesEncoded(encW, "doc_id",
        budget = 64, nShards = 4)
      .select(col("shard"), col("bin"), col("n_ids"),
        array_join(transform(col("ids"), i => i.cast("string")), " ")
          .as("ids_str"))
      .orderBy("shard", "bin")
  }

  /** Image near-dup by perceptual hash: a 60-bit md5-prefix hash over
    * the text stand-in payload, with near-dup signal planted
    * at the HASH level (md5 avalanche makes payload-level planting
    * impossible): every 9th doc re-appears 1 bit flipped (must pair at
    * Hamming 1), every 11th doc 4 bits flipped (the BASE copy must NOT
    * pair with it at maxHamming 3; a doc divisible by both 9 and 11
    * can still legitimately pair its flip1 against its flip4 when the
    * flip windows overlap — e.g. doc 0: bit 0 vs bits 0–3 is xor
    * Hamming 3 — and the oracle applies the identical semantics).
    * Banded Hamming join — pigeonhole-exact recall, no cross product
    * ([[graft.operators.Multimodal.phashPairs]]).
    */
  private def xMultimodalPhash(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(s, dir).select(col("doc_id"),
      graft.expressions.Md5Prefix60(col("text")).as("phash"))
    val flip1 = base.where(col("doc_id") % 9 === 0).select(
      (col("doc_id") + 10000000L).as("doc_id"),
      expr("phash ^ shiftleft(CAST(1 AS BIGINT), CAST(doc_id % 60 AS INT))")
        .as("phash"))
    val flip4 = base.where(col("doc_id") % 11 === 0).select(
      (col("doc_id") + 20000000L).as("doc_id"),
      expr("phash ^ shiftleft(CAST(15 AS BIGINT), CAST(doc_id % 57 AS INT))")
        .as("phash"))
    graft.operators.Multimodal.phashPairs(
        // the 6 scan+md5 evaluations of `base` (3 union legs × the
        // pair self-join) are DELIBERATE: checkpointing the narrow
        // (doc_id, phash) union once lost the isolated A/B/A probe —
        // the synchronous materialization barrier costs more than the
        // parallel rescans here (bench_evidence/r18_probe5_*, min
        // 0.57 → 0.70 s)
        base.unionByName(flip1).unionByName(flip4), "doc_id", "phash",
        maxHamming = 3)
      .select(col("i"), col("j"), col("hamming").cast("long").as("hamming"))
      .orderBy("i", "j")
  }

  /** `df` with the stopword per-mille quality signal in column `out`:
    * floor(1000 · stopword hits / tokens) of the `text` column, 0 for a
    * doc with no tokens — integer-exact, so both engines compute it
    * identically. The [[graft.expressions.TokenStats]] struct it reads
    * stays on the frame as `__st`.
    */
  private[graft] def withStopwordPerMille(df: DataFrame, out: String): DataFrame =
    df.withColumn("__st",
        graft.expressions.TokenStats.stats(col("text"), T.EnWords))
      .withColumn(out,
        when(col("__st.n_tokens") === 0, lit(0L)).otherwise(
          floor(col("__st.n_dict").cast("double") * 1000.0 /
            col("__st.n_tokens").cast("double")).cast("long")))

  /** Quality-proportional sampling ([[graft.operators.Sampling.scoreKeep]]):
    * keep probability = the doc's stopword ratio (a deterministic
    * integer-exact signal both engines compute identically), floored
    * to per-mille. High-quality prose survives often; token soup
    * rarely — the CCNet-style "sample by quality" shape without
    * rand().
    */
  private def xSampleQuality(s: SparkSession, dir: String): DataFrame =
    withStopwordPerMille(Tables.documents(s, dir), "quality_pm")
      .where(graft.operators.Sampling.scoreKeep(col("quality_pm"), col("doc_id")))
      .select(col("doc_id"), col("quality_pm"))
      .orderBy("doc_id")

  /** Temperature-based mixing table
    * ([[graft.operators.Sampling.temperatureMixTable]]): α = 0.5
    * per-source sampling shares, integer-exact via floor(sqrt(n))
    * weights and DIV per-milles — rare sources get copies_pm > 1000,
    * dominant ones < 1000.
    */
  private def xMixTemperature(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.temperatureMixTable(
        Tables.documents(s, dir), col("source"))
      .orderBy("source")

  /** Incremental mix planning from the SEVENTH maintained shape
    * ([[graft.operators.CorpusStats.sourceTallies]] — per-source
    * doc/token/char tallies): four DISJOINT daily batches fold
    * additively, then a mid-cycle retraction deletes day 1
    * ([[graft.operators.CorpusStats.retractStats]]), and the whole
    * mix-planning view ([[graft.operators.Sampling.mixPlanWith]]:
    * temperature shares + token shares) is computed from the
    * maintained source-bounded table alone. The oracle recomputes the
    * plan over the SURVIVING documents in one pass — hash equality
    * proves fold + retract ≡ recompute through the entire selection
    * consumer, never rescanning the corpus (the rounds-11–14 proof
    * shape, extended to the selection family).
    */
  private def xMixIncremental(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val keys = Seq("source")
    val counts = Seq("n_docs", "n_tokens", "char_mass")
    // four per-batch tally partials from ONE corpus pass — see
    // xLinedfIncremental for the shape and the equivalence argument
    val byBatch = graft.operators.CorpusStats.sourceTalliesBy(
      docs, "source", "text", "n_chars", col("doc_id") % 4)
      .localCheckpoint(true)
    val parts = (0 to 3).map(r =>
      byBatch.where(col("batch") === r)
        .select((keys ++ counts).map(col): _*))
    val folded = graft.operators.CorpusStats.mergeStats(parts, keys, counts)
    val maintained = graft.operators.CorpusStats.retractStats(
      folded, parts(1), keys, counts)
    graft.operators.Sampling.mixPlanWith(maintained).orderBy("source")
  }

  /** UniMax budget allocation
    * ([[graft.operators.Sampling.unimaxAllocWith]], Chung et al. ICLR
    * 2023) from the SEVENTH maintained shape: water-fill 90% of the
    * corpus token mass across sources, each capped at one epoch of
    * its own mass — small sources bind at their cap, large ones share
    * the level, and the integer remainder lands deterministically on
    * the first uncapped ranks. The oracle recomputes the closed-form
    * water-filling with window functions over a one-pass tally —
    * hash equality proves the capped prefix, the binding rank, the
    * level division AND the remainder placement, integer-exactly.
    */
  private def xMixUnimax(s: SparkSession, dir: String): DataFrame = {
    val tallies = graft.operators.CorpusStats.sourceTallies(
        Tables.documents(s, dir), "source", "text", "n_chars")
      // source-bounded; materialized because the allocator references
      // it three times (ranked, binding rank, k-row join) and a lazy
      // plan would re-run the corpus aggregate per reference
      .localCheckpoint(true)
    val total = tallies.agg(coalesce(sum(col("n_tokens")), lit(0L)))
      .collect()(0).getLong(0)
    graft.operators.Sampling.unimaxAllocWith(tallies,
        budget = total * 9L / 10L, epochsPm = 1000L)
      .orderBy("source")
  }

  /** Corpus-relative quantile selection from the EIGHTH maintained
    * shape ([[graft.operators.Sampling.qualityHistogram]] — the exact
    * per-mille quality distribution, ≤1001 buckets at any corpus
    * size): four daily batches fold the histogram additively, a
    * mid-cycle retraction deletes day 1, the top-25% threshold comes
    * from the maintained table alone
    * ([[graft.operators.Sampling.quantileThresholdWith]]), and every
    * surviving document classifies map-only against it. The oracle
    * recomputes distribution, ceil-target, threshold, and
    * classification over the surviving documents in one pass — hash
    * equality proves fold + retract ≡ recompute through the whole
    * corpus-relative selection path ("keep the best 25% of everything
    * we have ever kept" without rescanning history).
    */
  private def xSelectQuantileIncremental(s: SparkSession,
      dir: String): DataFrame = {
    // (doc_id, quality_pm) materialized ONCE (narrow, doc-count-sized):
    // the four histogram partials and the final classification used to
    // each re-run the TokenStats kernel over the corpus — 5 quality
    // passes → 1. The fold path (qualityHistogram with its per-mille
    // guard, mergeStats, retractStats, quantileThresholdWith) is
    // untouched.
    val q = withStopwordPerMille(Tables.documents(s, dir), "quality_pm")
      .select(col("doc_id"), col("quality_pm"))
      .localCheckpoint(true)
    val parts = (0 to 3).map(r =>
      graft.operators.Sampling.qualityHistogram(
        q.where(col("doc_id") % 4 === r), col("quality_pm")))
    val hist = graft.operators.CorpusStats.retractStats(
      graft.operators.CorpusStats.mergeStats(parts,
        Seq("quality_pm"), Seq("n_docs")),
      parts(1), Seq("quality_pm"), Seq("n_docs"))
    val thr = graft.operators.Sampling.quantileThresholdWith(hist, 250L)
    q.where(col("doc_id") % 4 =!= 1)
      .crossJoin(broadcast(thr.select(col("threshold_pm"))))
      .select(col("doc_id"), col("quality_pm"), col("threshold_pm"),
        (col("quality_pm") >= col("threshold_pm")).as("kept"))
      .orderBy("doc_id")
  }

  /** Token-budget selection
    * ([[graft.operators.Sampling.tokenBudgetSelect]]): keep the
    * best-quality documents (stopword per-mille, the same signal as
    * [[xSampleQuality]]) until a 10k-token global budget is spent —
    * the maximal prefix of the (quality DESC, hash, id) order whose
    * running token sum stays inside the budget. 64 hash buckets so the
    * three-level cum decomposition is exercised even at sf0.001.
    */
  private def xSelectBudget(s: SparkSession, dir: String): DataFrame = {
    // narrow (doc_id, quality, tokens) projection materialized ONCE —
    // the operator scans its input 4× by documented design (pre-flight
    // strata count + stratum sums + bucket sums + rows), which re-ran
    // the TokenStats kernel corpus-wide each time; its own cost note
    // says to pre-materialize an expensive quality signal
    val base = withStopwordPerMille(Tables.documents(s, dir), "__q")
      .select(col("doc_id"), col("__q"),
        col("__st.n_tokens").cast("long").as("__nt"))
      .localCheckpoint(true)
    graft.operators.Sampling.tokenBudgetSelect(base, "doc_id",
        col("__q"), col("__nt"),
        budget = 10000L, buckets = 64)
      .orderBy("doc_id")
  }

  /** DSIR importance weights ([[graft.operators.Sampling.dsirWeights]]):
    * every doc featurized as hashed unigram+bigram buckets (4096),
    * target model trained on the English slice, weight = the doc's
    * target-typicality / corpus-typicality ratio (integer-exact mass
    * sums, one division at output — see the operator scaladoc for the
    * deliberate likelihood-ratio → mean-ratio deviation).
    */
  private def xSampleDsir(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.dsirWeights(
        Tables.documents(s, dir), "doc_id", "text",
        col("lang") === "en", buckets = 4096)
      .orderBy("doc_id")

  /** Incremental DSIR model maintenance
    * ([[graft.operators.Sampling.dsirModel]] /
    * [[graft.operators.Sampling.mergeDsirModel]] /
    * [[graft.operators.Sampling.dsirWeightsWith]]): fit the bounded
    * hashed-feature model from four DISJOINT batches, fold the
    * partials additively, weight EVERY document against the merged
    * model. Oracle = [[xSampleDsir]]'s full-fit SQL verbatim —
    * equality proves incremental model ≡ full model through the whole
    * weighting path.
    */
  private def xDsirIncremental(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    // four per-batch model partials from ONE corpus feature pass — see
    // xLinedfIncremental for the shape and the equivalence argument
    val byBatch = graft.operators.Sampling.dsirModelBy(
      docs, "text", col("lang") === "en", col("doc_id") % 4,
      buckets = 4096).localCheckpoint(true)
    val parts = (0 to 3).map(r =>
      byBatch.where(col("batch") === r).select(col("bucket"),
        col("tgt_n"), col("raw_n")))
    graft.operators.Sampling.dsirWeightsWith(docs, "doc_id", "text",
        graft.operators.Sampling.mergeDsirModel(parts), buckets = 4096)
      .orderBy("doc_id")
  }

  /** Benchmark-contamination scan: every 100th doc plays the eval set;
    * report corpus docs sharing any 5-gram shingle with it.
    */
  private def xContamination(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    Dedup.contaminationFractions(
      docs.where(col("doc_id") % 100 =!= 0),
      docs.where(col("doc_id") % 100 === 0),
      "doc_id", "text", 5)
      .where(col("n_hit") > 0)
      .orderBy("doc_id")
  }

  /** [[xContamination]] through the Bloom-pre-filtered scale path —
    * the variant for an inventory too big to broadcast. Output is
    * identical by construction (the exact semi-join removes Bloom
    * false positives), so the oracle SQL is shared verbatim with
    * `x_contamination`. The sketch auto-sizes from an exact count of
    * the checkpointed inventory (no pinned `expectedItems` — a fixed
    * 2^22 both tripped the conf-cap warning at every sf and taxed
    * every sketch-build task with a 4 MB partial buffer for what is a
    * kilobyte-scale key set at gate sf).
    */
  private def xContaminationBloom(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    Dedup.contaminationFractionsBloom(
      docs.where(col("doc_id") % 100 =!= 0),
      docs.where(col("doc_id") % 100 === 0),
      "doc_id", "text", 5)
      .where(col("n_hit") > 0)
      .orderBy("doc_id")
  }

  /** Skew-salted fact⋈dim join, oracle-checked against the PLAIN join:
    * salting must be result-invisible (salt only changes row
    * distribution), so the unsalted SQL is the exact oracle. Fact side
    * salts on content, dim replicates ×8 (see
    * [[graft.operators.Salting]]).
    */
  private def xSkewSaltedJoin(s: SparkSession, dir: String): DataFrame = {
    val fact = Tables.lineitem(s, dir).select(col("l_suppkey"), col("l_quantity"))
    val dim = Tables.supplier(s, dir)
      .select(col("s_suppkey").as("l_suppkey"), col("s_nationkey"))
    graft.operators.Salting.saltedEquiJoin(fact, dim, Seq("l_suppkey"), 8)
      .groupBy("s_nationkey")
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast(org.apache.spark.sql.types.DecimalType(12, 2)))
          .cast("double").as("sum_qty"))
      .orderBy("s_nationkey")
  }

  // ---- dedup --------------------------------------------------------------

  /** Injected-duplicate source: every 5th doc appears again under a
    * shifted id — gives exact dedup deterministic signal (the table
    * itself has no byte-identical rows). Offset 10 000 000 on both
    * engines (the collision-proof convention — a 100 000 offset merges
    * planted rows with real ids from the 100k-row decade up).
    */
  private def dupDocs(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    d.unionByName(d.where(col("doc_id") % 5 === 0)
      .select((col("doc_id") + 10000000L).as("doc_id"), col("text")))
  }

  private def xDedupExact(s: SparkSession, dir: String): DataFrame =
    Dedup.exactGroups(dupDocs(s, dir), "doc_id", "text")
      .where(col("n") > 1)
      .select(col("content_md5"), col("keep_id"), col("n"))
      .orderBy("keep_id")

  /** Cross-source duplicate overlap: every 7th doc re-appears under a
    * shifted id with its source ROTATED (7 is coprime to the 20-source
    * id-correlated assignment, so every source gets planted overlap) (srcN → src(N+1) mod 20 — a
    * deterministic "re-crawl feed"), so the matrix has exactly one
    * off-diagonal cell per source pair that shares planted content.
    */
  private def xDedupSourceOverlap(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
      .select(col("doc_id"), col("text"), col("source"))
    val copies = d.where(col("doc_id") % 7 === 0).select(
      (col("doc_id") + 10000000L).as("doc_id"), col("text"),
      concat(lit("src"),
        pmod(substring(col("source"), 4, 10).cast("int") + 1, lit(20))
          .cast("string")).as("source"))
    Dedup.sourceOverlap(d.unionByName(copies), "text", "source")
      .orderBy("source_a", "source_b")
  }

  /** Evaluate `f` over a persisted pair-set, materialize the (small,
    * dedup-output-sized) result via eager localCheckpoint, and release
    * the pair cache before returning — dedup queries leave no
    * storage-tab residue behind. The checkpoint blocks themselves are
    * freed by the ContextCleaner once the returned frame is GC'd.
    */
  private def releasing(pairs: DataFrame)(f: DataFrame => DataFrame): DataFrame = {
    val out = f(pairs).localCheckpoint()
    pairs.unpersist(blocking = false)
    out
  }

  private def xDedupMinhash(s: SparkSession, dir: String): DataFrame =
    releasing(Dedup.minhashDupPairs(Tables.documents(s, dir), "doc_id", "text")) {
      _.select(col("i"), col("j"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy("i", "j")
    }

  private def xDedupJaccard(s: SparkSession, dir: String): DataFrame =
    releasing(Dedup.ngramJaccardPairs(Tables.documents(s, dir), "doc_id", "text")) {
      _.select(col("i"), col("j"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy("i", "j")
    }

  /** Containment (overlap-coefficient) dedup over a corpus with
    * PLANTED excerpts: every 7th document re-appears under a shifted
    * id as its first max(⌊tokens/2⌋, 6) tokens. The shift is
    * 10 000 000 — past the doc_id range of any gated corpus, so an
    * excerpt row can never silently merge with a real document
    * (200 000 collided at the 500k-doc decade). An excerpt's shingle
    * set is a subset of its source's, so containment is 1.0 while
    * Jaccard is only ~0.5 — below any symmetric threshold: exactly
    * the pair class [[Dedup.containmentPairs]] exists to catch
    * (truncated re-crawls, quoted fragments, boilerplate inclusion).
    */
  private def xDedupContainment(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val toks = T.tokens(col("text"))
    val k = greatest((size(toks) / lit(2)).cast("int"), lit(6))
    val excerpts = d.where(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 10000000L).as("doc_id"),
        array_join(slice(toks, lit(1), k), " ").as("text"))
    releasing(Dedup.containmentPairs(d.unionByName(excerpts),
        "doc_id", "text")) {
      _.select(col("i"), col("j"),
          round(col("containment"), 6).as("containment"))
        .orderBy("i", "j")
    }
  }

  private def xDedupSimhash(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), Dedup.simhash16(col("text")).as("simhash"))
      .orderBy("doc_id")

  /** Injected identical embeddings (every 50th vec re-appears under a
    * shifted id): the natural data has no near-dup pairs (max cosine
    * ≈ 0.48), so signal is planted to make the operator observable.
    * Uses the LSH-bucketed scale path (the oracle applies the same
    * bucket prefilter, so both engines see identical candidate sets).
    *
    * Planes are sized at query-build time from the corpus row count
    * via [[Dedup.planesForClustered]] — the library's own sizing rule,
    * so the blocking cost stays near-linear at every decade instead of
    * hitting the fixed-count cliff (24 planes was right at sf10's 204k
    * rows and would go quadratic again one decade later). The computed
    * count is recorded in [[embDedupPlanes]] for [[oracles]] to emit
    * the identical prefilter. The count job scans only the `vec_id`
    * column (the union's filtered leg forces a real scan, not a
    * footer-metadata count) — cheap relative to the dedup itself, a
    * single-int-column pass at any scale.
    */
  private def xDedupEmbedding(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
    val src = e.unionByName(e.where(col("vec_id") % 50 === 0)
      .select((col("vec_id") + 10000000L).as("vec_id"), col("embedding")))
    val planes = Dedup.planesForClustered(src.count())
    embDedupPlanes = planes
    Dedup.embeddingDupPairsBucketed(src, "vec_id", "embedding", 0.95,
      planes, 64)
      .select(col("i"), col("j"), round(col("cos"), 6).as("cos"))
      .orderBy("i", "j")
  }

  /** The IVF-residual variant of [[xDedupEmbedding]] — same planted
    * signal, same verified output contract, but blocking via
    * [[Dedup.embeddingDupPairsResidual]]: nearest-exemplar cell +
    * hyperplane signs of the RESIDUAL, planes sized per run by
    * [[Dedup.planesForResidual]] over the per-cell share and recorded
    * in [[embIvfPlanes]] for the oracle. Both queries are deliberately
    * kept: on this corpus raw-vector planes still split well enough
    * that the bucketed path wins (sf100: 9.0 s vs 17.6 s, both on the
    * fused sign-bits kernel), but raw split efficiency decays with
    * cluster tightness and caps at 30 planes — the residual form adds
    * the nlist knob and keeps splitting one regime further. The sf100
    * probe that motivated and then re-measured all this is in
    * SCALING.md §sf100.
    */
  private def xDedupEmbeddingIvf(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
    val src = e.unionByName(e.where(col("vec_id") % 50 === 0)
      .select((col("vec_id") + 10000000L).as("vec_id"), col("embedding")))
    val planes = Dedup.planesForResidual(
      math.max(1L, src.count() / EmbIvfNlist))
    embIvfPlanes = planes
    Dedup.embeddingDupPairsResidual(src, "vec_id", "embedding", 0.95,
      EmbIvfNlist, planes, 64)
      .select(col("i"), col("j"), round(col("cos"), 6).as("cos"))
      .orderBy("i", "j")
  }

  /** Duplicate clusters: connected components over the minhash pair
    * graph, min-id survivor per component (what a pipeline drops).
    */
  private def xDedupClusters(s: SparkSession, dir: String): DataFrame =
    releasing(Dedup.minhashDupPairs(Tables.documents(s, dir), "doc_id", "text")) {
      Dedup.canonicalize(_).orderBy("doc_id")
    }

  /** Quality-aware survivor selection over the MinHash dup clusters
    * ([[Dedup.survivors]]): keep the longest member of each cluster
    * (`n_chars` DESC, id tiebreak), emit the keep/drop decision table.
    */
  private def xDedupSurvivors(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    releasing(Dedup.minhashDupPairs(docs, "doc_id", "text")) { pairs =>
      Dedup.survivors(pairs, docs, "doc_id", col("n_chars"))
        .orderBy("doc_id")
    }
  }

  // ---- similarity search --------------------------------------------------

  private def xSimTopkBrute(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    Similarity.bruteTopK(e.where(col("vec_id") < 10), e, "vec_id", "embedding", 10)
      .select(col("query_id"), col("neighbor_id"), round(col("score"), 6).as("score"))
      .orderBy("query_id", "neighbor_id")
  }

  private def xSimTopkLsh(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    Similarity.bucketedTopK(e.where(col("vec_id") < 10), e,
      "vec_id", "embedding", 5, 4, 64)
      .select(col("query_id"), col("neighbor_id"), round(col("score"), 6).as("score"))
      .orderBy("query_id", "neighbor_id")
  }

  private def xSimTopkIvf(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    Similarity.ivfTopK(e.where(col("vec_id") < 10), e,
      "vec_id", "embedding", k = 5, nlist = 8, nprobe = 2)
      .select(col("query_id"), col("neighbor_id"), round(col("score"), 6).as("score"))
      .orderBy("query_id", "neighbor_id")
  }

  /** PQ ANN: the same 10 query vectors as the other top-k legs, but
    * the candidate side is scanned as 8 sub-centroid CODES per vector
    * (the 100 TB memory story), scored by ADC against the exemplar
    * codebooks. The oracle reconstructs each candidate from its codes
    * and reuses the plain dot/norm SQL — mathematically and
    * bit-identically the ADC fold, since concatenated-subspace folds
    * accumulate in the same element order.
    */
  private def xSimTopkPq(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    Similarity.pqTopK(e.where(col("vec_id") < 10), e,
      "vec_id", "embedding", k = 5, m = 8, ksub = 8)
      .select(col("query_id"), col("neighbor_id"), round(col("score"), 6).as("score"))
      .orderBy("query_id", "neighbor_id")
  }

  /** PQ shortlist → exact re-rank: the compressed scan proposes the
    * top-50 per query, full-precision cosine re-scores only those —
    * the two-stage deployment shape ([[Similarity.pqRerankTopK]]).
    */
  private def xSimTopkPqRerank(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    Similarity.pqRerankTopK(e.where(col("vec_id") < 10), e,
      "vec_id", "embedding", k = 5, shortK = 50, m = 8, ksub = 8)
      .select(col("query_id"), col("neighbor_id"), round(col("score"), 6).as("score"))
      .orderBy("query_id", "neighbor_id")
  }

  /** IVFPQ ANN: coarse exemplar cells route the corpus, PQ codes
    * encode the RESIDUALS (v − centroid), queries probe their 2
    * nearest cells — the full IVFADC layout. The deterministic
    * exemplar quantizers keep every stage — cell argmax,
    * residual subtraction, sub-code argmin, reconstruction scoring —
    * DuckDB-reproducible; the probe-measured story for why residual
    * encoding matters on clustered corpora is in SCALING.md.
    */
  private def xSimTopkIvfpq(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    Similarity.ivfPqTopK(e.where(col("vec_id") < 10), e,
      "vec_id", "embedding", k = 5, nlist = 8, nprobe = 2, m = 8, ksub = 8)
      .select(col("query_id"), col("neighbor_id"), round(col("score"), 6).as("score"))
      .orderBy("query_id", "neighbor_id")
  }

  private def xTextTokens(s: SparkSession, dir: String): DataFrame = {
    val bpe = T.bpeishCount(col("text"))
    Tables.documents(s, dir).select(
      col("doc_id"),
      T.tokenCount(col("text")).cast("long").as("ws_tokens"),
      bpe.cast("long").as("bpeish_tokens"),
      round(length(col("text")).cast("double") /
        greatest(bpe, lit(1)).cast("double"), 6).as("chars_per_token"))
      .orderBy("doc_id")
  }

  // ---- multimodal ---------------------------------------------------------

  /** Frame sampling as pure columns over the text stand-in (a
    * CHARACTER-chunk form, because the container's DuckDB can't
    * substring BLOBs): n_frames = len%30+1 equal
    * chunks, every 3rd sampled. Chunk size is the integer ceil
    * `(len + nf - 1) div nf` — exact on both engines, no double math.
    */
  private def xMultimodalFrames(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .where(length(col("text")) > 0)
      .select(col("doc_id"), col("text"),
        length(col("text")).cast("long").as("len"))
      .withColumn("nf", col("len") % 30 + 1)
      .withColumn("csz", expr("(len + nf - 1) div nf"))
      .withColumn("frame_idx", explode(expr("sequence(0L, nf - 1, 3L)")))
      .withColumn("fr", expr("substring(text, CAST(frame_idx * csz + 1 AS INT), CAST(csz AS INT))"))
      .select(col("doc_id"), col("frame_idx").cast("long").as("frame_idx"),
        length(col("fr")).cast("long").as("frame_chars"),
        md5(col("fr")).as("frame_md5"))
      .orderBy("doc_id", "frame_idx")

  /** Audio metadata through the REAL distributed decode path
    * ([[Multimodal.decodeAudioBatch]] + [[Multimodal.JavaSoundDecoder]]
    * — mapPartitions, one decoder per partition): text bytes are not a
    * WAV/AIFF container, so every row exercises the decoder's
    * per-row fallback into the md5-derived stub, which is what makes
    * the output DuckDB-expressible. Real-bytes decode (true sample
    * rate / frames / peak from generated WAV + AIFF PCM) is pinned in
    * `SaltingMultimodalSpec`.
    */
  private def xMultimodalAudio(s: SparkSession, dir: String): DataFrame = {
    implicit val sp: SparkSession = s
    import s.implicits._
    val rows = Multimodal.withBinaryPayload(
        Tables.documents(s, dir).select(col("doc_id"), col("text")),
        "text", "payload")
      .select(col("doc_id"), col("payload")).as[Multimodal.MediaRow]
    Multimodal.decodeAudioBatch(rows, Multimodal.JavaSoundDecoder).toDF()
      .select(col("doc_id"), col("n_bytes"), col("sample_rate"),
        col("channels"), col("n_samples"), col("duration_ms"),
        round(col("peak"), 6).as("peak"), col("codec"), col("content_md5"))
      .orderBy("doc_id")
  }

  private def xMultimodalMeta(s: SparkSession, dir: String): DataFrame = {
    val b = Multimodal.withBinaryPayload(
      Tables.documents(s, dir).select(col("doc_id"), col("text")), "text", "payload")
    Multimodal.withFakeMediaMeta(b, "payload")
      .select(col("doc_id"), col("n_bytes"), col("content_md5"),
        col("width"), col("height"), col("n_frames"), col("magic"))
      .orderBy("doc_id")
  }

  // ---- oracle SQL ---------------------------------------------------------

  /** minhash signature select list: sig_i = min((b·(2i+1) + 7919i+13) mod P). */
  private def sigSelectSql(k: Int): String =
    (0 until k).map { i =>
      s"min((b * ${2 * i + 1} + ${7919L * i + 13}) % $P) AS sig_$i"
    }.mkString(", ")

  private def bandListSql(k: Int, rowsPerBand: Int): String =
    (0 until k / rowsPerBand).map { b =>
      val parts = (0 until rowsPerBand)
        .map(r => s"CAST(sig_${b * rowsPerBand + r} AS VARCHAR)")
      (s"'$b'" +: parts).mkString(" || ':' || ")
    }.mkString("[", ", ", "]")

  private def simhashBitsSql: String =
    (0 until 16).map(i => s"sum(2 * ((h >> $i) & 1) - 1) AS b_$i").mkString(", ")

  private def simhashValueSql: String =
    (0 until 16).map(i => s"(CASE WHEN b_$i > 0 THEN ${1L << i} ELSE 0 END)")
      .mkString(" + ")

  /** Left-fold double dot product of q.v and c.v (same association as
    * Spark's aggregate(zip_with(...)): ((0+p1)+p2)+…).
    */
  private def dotSql(a: String, b: String): String =
    s"""list_reduce(list_prepend(CAST(CAST(0.0 AS VARCHAR) AS DOUBLE),
       |      list_transform(range(1, len($a) + 1),
       |        i -> $a[CAST(i AS INT)] * $b[CAST(i AS INT)])), (x, y) -> x + y)""".stripMargin

  /** Hyperplane component (h, j): ((md5_int('h:j') mod 2001) − 1000)/1000. */
  private def planeSql(h: Int): String =
    s"""((CAST('0x' || substr(md5('$h:' || CAST(j AS VARCHAR)), 1, 15) AS BIGINT) % 2001) - 1000) / 1000.0"""

  /** Plane count for the embedding near-dup blocking. More planes →
    * exponentially more buckets → Σ bucket² (the pair-join cost) stays
    * near-linear as the corpus grows: at 20k clustered vectors, 4
    * planes give Σb² ≈ 36M candidate pairs, 12 planes ≈ 2.4M.
    * Exact duplicates share every plane sign, so the planted dedup
    * signal is invariant to this knob; only sub-1.0 near-dup recall
    * trades off, and the oracle applies the identical prefilter.
    *
    * Sized per-run by [[xDedupEmbedding]] via
    * `Dedup.planesForClustered(corpusRows)` — the CLUSTERED rule, not
    * the uniform one: on this 10-cluster corpus a random hyperplane
    * splits a cluster with only ~0.31 probability, so the uniform-rule
    * count (12 at sf10) left Σb² ≈ 198M candidate pairs — measured
    * quadratic growth in the sf10 sweep; 24 planes (= the clustered
    * rule's answer at 204k rows) measured Σb² ≈ 12.5M and restored
    * near-linear cost. The var carries the computed count from the
    * query build to [[oracles]] (a `def`, so the generated DuckDB SQL
    * interpolates the same constant): Verify runs every selected query
    * before dumping `oracle_sql.json`, so the value is always current
    * when the oracle is emitted. The default only covers paths that
    * read the oracle without building the query (and a query-build
    * failure, which the driver flags independently).
    */
  @volatile private var embDedupPlanes: Int = 24

  /** Cell count for the IVF-residual embedding dedup — a literal on
    * both sides (the oracle's `LIMIT` and the operator's exemplar
    * count must agree).
    */
  private val EmbIvfNlist = 32

  /** Residual-plane count, sized per run by [[xDedupEmbeddingIvf]]
    * via [[graft.operators.Dedup.planesForResidual]] over the
    * per-cell row share — the uniform rule divided by the measured
    * 0.63 splits/plane (residuals are MORE isotropic than raw
    * clustered vectors, but the exemplar-to-center offset still
    * wastes some planes, so the uniform rule alone undersizes). Same
    * carry mechanism as [[embDedupPlanes]].
    */
  @volatile private var embIvfPlanes: Int = 4

  private def bucketSql(v: String, nPlanes: Int = 4): String =
    (0 until nPlanes).map { h =>
      s"""(CASE WHEN list_reduce(list_prepend(CAST(CAST(0.0 AS VARCHAR) AS DOUBLE),
         |      list_transform(range(1, len($v) + 1),
         |        j -> $v[CAST(j AS INT)] * ${planeSql(h)})), (x, y) -> x + y) >= 0
         |  THEN ${1L << h} ELSE 0 END)""".stripMargin
    }.mkString(" + ")

  private val embCte =
    """WITH e AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings),
      |nn AS (
      |  SELECT vec_id, v,
      |""".stripMargin +
      s"    ${dotSql("v", "v")} AS nsq\n  FROM e)\n"

  /** Full-corpus bigram-LM scoring SQL — shared by x_quality_lm
    * (self-trained) and x_bigramlm_incremental (merged model: the
    * incremental model must reproduce these scores EXACTLY).
    */
  private def qualityLmSql: String = tokCte +
    """, bge AS (
        |  SELECT doc_id, lang,
        |    unnest(list_transform(range(1, len(toks)), i ->
        |      struct_pack(w1 := toks[i],
        |                  bg := toks[i] || chr(1) || toks[i + 1]))) AS p
        |  FROM tk),
        |bgf AS (SELECT doc_id, lang, p.w1 AS w1, p.bg AS bg FROM bge),
        |c12 AS (SELECT bg, CAST(count(*) AS BIGINT) AS c12
        |  FROM bgf WHERE lang = 'en' GROUP BY bg),
        |c1 AS (SELECT w1, CAST(count(*) AS BIGINT) AS c1
        |  FROM bgf WHERE lang = 'en'
        |  GROUP BY w1),
        |pd AS (
        |  SELECT bgf.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |    CAST(count(c12.c12) AS BIGINT) AS hits,
        |    CAST(sum(COALESCE(c12.c12, 0)) AS BIGINT) AS c12_sum,
        |    CAST(sum(COALESCE(c1.c1, 0)) AS BIGINT) AS c1_sum
        |  FROM bgf LEFT JOIN c12 USING (bg) LEFT JOIN c1 USING (w1)
        |  GROUP BY bgf.doc_id)
        |SELECT d.doc_id,
        |  CAST(COALESCE(pd.n_bigrams, 0) AS BIGINT) AS n_bigrams,
        |  CASE WHEN pd.n_bigrams IS NULL THEN NULL
        |    ELSE round(CAST(CAST(pd.n_bigrams - pd.hits AS VARCHAR) AS DOUBLE) /
        |               CAST(CAST(pd.n_bigrams AS VARCHAR) AS DOUBLE), 6)
        |  END AS oov_bigram_frac,
        |  CASE WHEN COALESCE(pd.c1_sum, 0) = 0 THEN NULL
        |    ELSE round(CAST(CAST(pd.c12_sum AS VARCHAR) AS DOUBLE) /
        |               CAST(CAST(pd.c1_sum AS VARCHAR) AS DOUBLE), 6)
        |  END AS lm_score
        |FROM documents d LEFT JOIN pd USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin

  /** Full-corpus DSIR weighting SQL — shared by x_sample_dsir
    * (self-fitted) and x_dsir_incremental (merged model: the
    * incremental model must reproduce these weights EXACTLY).
    */
  private def sampleDsirSql: String = tokCte +
    """, uni AS (SELECT doc_id, lang, unnest(toks) AS f FROM tk),
        |bgr AS (
        |  SELECT doc_id, lang,
        |    unnest(list_transform(range(1, len(toks)),
        |      i -> toks[i] || chr(1) || toks[i + 1])) AS f
        |  FROM tk),
        |feats AS (
        |  SELECT doc_id, lang = 'en' AS is_tgt,
        |    CAST('0x' || substr(md5(f), 1, 15) AS BIGINT) % 4096 AS b
        |  FROM (SELECT * FROM uni UNION ALL SELECT * FROM bgr)),
        |tgt AS (SELECT b, CAST(count(*) AS BIGINT) AS ct
        |  FROM feats WHERE is_tgt GROUP BY b),
        |rw AS (SELECT b, CAST(count(*) AS BIGINT) AS cr FROM feats GROUP BY b),
        |tot AS (SELECT
        |  CAST(sum(CASE WHEN is_tgt THEN 1 ELSE 0 END) AS BIGINT) AS nt,
        |  CAST(count(*) AS BIGINT) AS nr FROM feats),
        |pd AS (
        |  SELECT feats.doc_id, CAST(count(*) AS BIGINT) AS n_feats,
        |    CAST(sum(COALESCE(tgt.ct, 0)) AS BIGINT) AS tgt_mass,
        |    CAST(sum(rw.cr) AS BIGINT) AS raw_mass
        |  FROM feats LEFT JOIN tgt USING (b) JOIN rw USING (b)
        |  GROUP BY feats.doc_id)
        |SELECT d.doc_id,
        |  CAST(COALESCE(pd.n_feats, 0) AS BIGINT) AS n_feats,
        |  CAST(COALESCE(pd.tgt_mass, 0) AS BIGINT) AS tgt_mass,
        |  CAST(COALESCE(pd.raw_mass, 0) AS BIGINT) AS raw_mass,
        |  CASE WHEN COALESCE(pd.raw_mass, 0) = 0 OR tot.nt = 0 THEN NULL
        |    ELSE round(
        |      (CAST(CAST(pd.tgt_mass AS VARCHAR) AS DOUBLE) *
        |       CAST(CAST(tot.nr AS VARCHAR) AS DOUBLE)) /
        |      (CAST(CAST(pd.raw_mass AS VARCHAR) AS DOUBLE) *
        |       CAST(CAST(tot.nt AS VARCHAR) AS DOUBLE)), 6)
        |  END AS dsir_weight
        |FROM documents d LEFT JOIN pd USING (doc_id) CROSS JOIN tot
        |ORDER BY d.doc_id""".stripMargin

  val queries: Map[String, Q] = Map(
    "x_text_stats" -> (xTextStats _),
    "x_text_repetition" -> (xTextRepetition _),
    "x_text_gopher" -> (xTextGopher _),
    "x_text_c4" -> (xTextC4 _),
    "x_text_line_dedup" -> (xTextLineDedup _),
    "x_linedf_incremental" -> (xLinedfIncremental _),
    "x_linedf_retract" -> (xLinedfRetract _),
    "x_tokendf_incremental" -> (xTokendfIncremental _),
    "x_sketch_countmin" -> (xSketchCountmin _),
    "x_sketch_heavy" -> (xSketchHeavy _),
    "x_sketch_heavy_stream" -> (xSketchHeavyStream _),
    "x_bigramlm_incremental" -> (xBigramlmIncremental _),
    "x_text_langid" -> (xTextLangid _),
    "x_langid_trained" -> (xLangidTrained _),
    "x_text_fingerprint" -> (xTextFingerprint _),
    "x_dedup_exact" -> (xDedupExact _),
    "x_dedup_source_overlap" -> (xDedupSourceOverlap _),
    "x_dedup_minhash_lsh" -> (xDedupMinhash _),
    "x_dedup_jaccard" -> (xDedupJaccard _),
    "x_dedup_containment" -> (xDedupContainment _),
    "x_dedup_simhash" -> (xDedupSimhash _),
    "x_dedup_clusters" -> (xDedupClusters _),
    "x_dedup_survivors" -> (xDedupSurvivors _),
    "x_dedup_embedding" -> (xDedupEmbedding _),
    "x_dedup_embedding_ivf" -> (xDedupEmbeddingIvf _),
    "x_sim_topk_brute" -> (xSimTopkBrute _),
    "x_sim_topk_lsh" -> (xSimTopkLsh _),
    "x_sim_topk_ivf" -> (xSimTopkIvf _),
    "x_sim_topk_pq" -> (xSimTopkPq _),
    "x_sim_topk_pq_rerank" -> (xSimTopkPqRerank _),
    "x_sim_topk_ivfpq" -> (xSimTopkIvfpq _),
    "x_text_tokens" -> (xTextTokens _),
    "x_text_chunks" -> (xTextChunks _),
    "x_text_pack" -> (xTextPack _),
    "x_text_pack_bins" -> (xTextPackBins _),
    "x_text_redact" -> (xTextRedact _),
    "x_split_assign" -> (xSplitAssign _),
    "x_split_stratified" -> (xSplitStratified _),
    "x_cap_per_source" -> (xCapPerSource _),
    "x_mix_weights" -> (xMixWeights _),
    "x_mix_report" -> (xMixReport _),
    "x_mix_temperature" -> (xMixTemperature _),
    "x_mix_incremental" -> (xMixIncremental _),
    "x_mix_unimax" -> (xMixUnimax _),
    "x_select_quantile_incremental" -> (xSelectQuantileIncremental _),
    "x_bpe_pairs" -> (xBpePairs _),
    "x_bpe_tokens" -> (xBpeTokens _),
    "x_bpe_ids" -> (xBpeIds _),
    "x_bpe_byte_fallback" -> (xBpeByteFallback _),
    "x_bpe_roundtrip" -> (xBpeRoundtrip _),
    "x_bpe_bin_ids" -> (xBpeBinIds _),
    "x_multimodal_phash" -> (xMultimodalPhash _),
    "x_sample_quality" -> (xSampleQuality _),
    "x_sample_dsir" -> (xSampleDsir _),
    "x_dsir_incremental" -> (xDsirIncremental _),
    "x_select_budget" -> (xSelectBudget _),
    "x_text_rarity" -> (xTextRarity _),
    "x_quality_lm" -> (xQualityLm _),
    "x_search_bm25" -> (xSearchBm25 _),
    "x_dedup_spans" -> (xDedupSpans _),
    "x_dedup_substring" -> (xDedupSubstring _),
    "x_dedup_editdist" -> (xDedupEditdist _),
    "x_skew_salted_join" -> (xSkewSaltedJoin _),
    "x_contamination" -> (xContamination _),
    "x_contamination_bloom" -> (xContaminationBloom _),
    "x_multimodal_meta" -> (xMultimodalMeta _),
    "x_multimodal_frames" -> (xMultimodalFrames _),
    "x_multimodal_audio" -> (xMultimodalAudio _))

  /** Duplicate-cluster transitive closure shared by `x_dedup_clusters`
    * and `x_dedup_survivors`: the full MinHash-LSH pipeline (shingles →
    * signatures → bands → candidates → exact-Jaccard confirm at 0.7)
    * followed by a recursive closure r(a, b) over the confirmed pair
    * graph — b reachable from a. Mirrors
    * [[graft.operators.Dedup.minhashDupPairs]] + [[Dedup.canonicalize]].
    */
  private lazy val dupClosureCte: String =
    // recursive CTE for the transitive closure: WITH must be RECURSIVE
    shingleCte.replace("WITH tk AS", "WITH RECURSIVE tk AS") +
      s""", ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
         |bs AS (SELECT doc_id, g AS b FROM ex),
         |sig AS (SELECT doc_id, ${sigSelectSql(8)} FROM bs GROUP BY doc_id),
         |bands AS (SELECT doc_id, unnest(${bandListSql(8, 2)}) AS band FROM sig),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS i, b2.doc_id AS j
         |  FROM bands a JOIN bands b2 ON a.band = b2.band AND a.doc_id < b2.doc_id),
         |jc AS (
         |  SELECT c.i, c.j,
         |    CAST(CAST(len(list_intersect(sa.s, sb.s)) AS VARCHAR) AS DOUBLE) /
         |    CAST(CAST(len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s)) AS VARCHAR) AS DOUBLE) AS jac
         |  FROM cand c JOIN sh sa ON sa.doc_id = c.i JOIN sh sb ON sb.doc_id = c.j),
         |p AS (SELECT i, j FROM jc WHERE jac >= 0.7),
         |eg AS (SELECT i, j FROM p UNION SELECT j, i FROM p),
         |r AS (
         |  SELECT i AS a, j AS b FROM eg
         |  UNION
         |  SELECT r.a, eg.j FROM r JOIN eg ON r.b = eg.i)
         |""".stripMargin

  /** Packing placement CTE shared by `x_text_pack` and
    * `x_text_pack_bins`: o(doc_id, shard, n_tokens, token_offset) —
    * md5-prefix hash shard mod 16, whitespace token count, exclusive
    * running sum within shard in doc_id order. Mirrors
    * [[graft.operators.Packing.packPlacement]] at budget=256,
    * nShards=16.
    */
  private val packPlacementCte =
    """WITH t AS (
      |  SELECT doc_id,
      |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 16 AS shard,
      |    CAST(COALESCE(CASE WHEN length(trim(text)) = 0 THEN 0
      |         ELSE len(string_split_regex(trim(text), '\s+')) END, 0) AS BIGINT) AS n_tokens
      |  FROM documents),
      |o AS (
      |  SELECT doc_id, shard, n_tokens,
      |    CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS token_offset
      |  FROM t)
      |""".stripMargin

  /** Shared by `x_contamination` and `x_contamination_bloom` — see the
    * map entries for why one SQL serves both.
    */
  private val contaminationOracle: String = shingleCte +
    """, bench AS (SELECT DISTINCT unnest(s) AS h FROM sh WHERE doc_id % 100 = 0),
      |corp AS (SELECT doc_id, len(s) AS n_sh, unnest(s) AS h FROM sh WHERE doc_id % 100 <> 0),
      |hits AS (SELECT doc_id, count(*) AS n_hit FROM corp JOIN bench USING (h) GROUP BY doc_id)
      |SELECT c.doc_id, CAST(c.n_sh AS BIGINT) AS n_sh, CAST(h.n_hit AS BIGINT) AS n_hit,
      |  round(CAST(CAST(h.n_hit AS VARCHAR) AS DOUBLE) / CAST(CAST(c.n_sh AS VARCHAR) AS DOUBLE), 6) AS contaminated_frac
      |FROM (SELECT DISTINCT doc_id, n_sh FROM corp) c JOIN hits h USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  /** A `def`, not a `val`: the `x_dedup_embedding` entry interpolates
    * [[embDedupPlanes]], which is computed during that query's build —
    * rebuilding the map at dump time keeps the oracle's prefilter
    * identical to the one the Spark plan actually used.
    */
  /** Shared PQ-ADC oracle CTEs: exemplar codebook, per-subspace
    * encode, reconstruction + norm, and the scored pair CTE `p`
    * (every candidate vs the vec_id<10 queries). Consumers append
    * their own ranking tail — the plain PQ query takes ADC top-5,
    * the rerank query takes ADC top-50 then exact-rescoring top-5.
    */
  private def pqAdcPSql: String =
    s""", cb AS (
         |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code, v
         |  FROM nn ORDER BY vec_id LIMIT 8),
         |sub AS (SELECT unnest(range(0, 8)) AS m),
         |d AS (
         |  SELECT n.vec_id, s.m, c.code,
         |    list_reduce(list_prepend(CAST(CAST(0.0 AS VARCHAR) AS DOUBLE),
         |      list_transform(range(1, 9),
         |        i -> (n.v[CAST(s.m * 8 + i AS INT)] - c.v[CAST(s.m * 8 + i AS INT)]) *
         |             (n.v[CAST(s.m * 8 + i AS INT)] - c.v[CAST(s.m * 8 + i AS INT)]))),
         |      (x, y) -> x + y) AS d2
         |  FROM nn n CROSS JOIN sub s CROSS JOIN cb c),
         |enc AS (
         |  SELECT vec_id, m, code,
         |    row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, code) AS crk
         |  FROM d),
         |rv AS (
         |  SELECT e2.vec_id,
         |    flatten(list(c.v[CAST(e2.m * 8 + 1 AS INT):CAST(e2.m * 8 + 8 AS INT)]
         |      ORDER BY e2.m)) AS rvv
         |  FROM enc e2 JOIN cb c ON c.code = e2.code
         |  WHERE e2.crk = 1 GROUP BY e2.vec_id),
         |rn AS (SELECT vec_id, rvv, ${dotSql("rvv", "rvv")} AS rnsq FROM rv),
         |p AS (
         |  SELECT q.vec_id AS query_id, r2.vec_id AS neighbor_id,
         |    ${dotSql("q.v", "r2.rvv")} / (sqrt(q.nsq) * sqrt(r2.rnsq)) AS score
         |  FROM nn q JOIN rn r2 ON r2.vec_id <> q.vec_id
         |  WHERE q.vec_id < 10),
         |""".stripMargin

  def oracles: Map[String, String] = Map(
    "x_text_repetition" -> (tokCte +
      """, t AS (SELECT doc_id, len(toks) AS n_tokens,
        |             len(list_distinct(toks)) AS n_distinct FROM tk),
        |e AS (SELECT doc_id, unnest(toks) AS tok FROM tk),
        |c AS (SELECT doc_id, tok, count(*) AS n FROM e GROUP BY 1, 2),
        |m AS (SELECT doc_id, max(n) AS top_n FROM c GROUP BY 1)
        |SELECT t.doc_id, CAST(t.n_tokens AS BIGINT) AS n_tokens,
        |  CAST(t.n_distinct AS BIGINT) AS n_distinct,
        |  round(CASE WHEN t.n_tokens = 0 THEN 0
        |        ELSE CAST(CAST(t.n_distinct AS VARCHAR) AS DOUBLE) / t.n_tokens END, 6) AS distinct_ratio,
        |  round(CASE WHEN t.n_tokens = 0 THEN 0
        |        ELSE CAST(CAST(coalesce(m.top_n, 0) AS VARCHAR) AS DOUBLE) / t.n_tokens END, 6) AS top_share
        |FROM t LEFT JOIN m USING (doc_id) ORDER BY doc_id""".stripMargin),

    // Gopher line/format rules: derive the same lined rendition
    // (8-token lines + %3 first-line dup, %5 bullet, %7 ellipsis),
    // then reproduce every LineStats/TokenStats counter set-wise —
    // line multiplicities via unnest + GROUP BY, symbol hits via
    // replace-count (left-to-right non-overlap ≡ the kernel's scan)
    "x_text_gopher" -> (tokCte +
      s""", ln0 AS (
         |  SELECT doc_id,
         |    list_transform(range(0, len(toks), 8),
         |      g -> array_to_string(list_slice(toks, g + 1, g + 8), ' ')) AS lines
         |  FROM tk),
         |ln1 AS (
         |  SELECT doc_id, array_to_string(
         |    list_concat(list_concat(list_concat(lines,
         |      CASE WHEN doc_id % 3 = 0 AND len(lines) > 0
         |           THEN list_slice(lines, 1, 1) ELSE CAST([] AS VARCHAR[]) END),
         |      CASE WHEN doc_id % 5 = 0 THEN ['- bullet item']
         |           ELSE CAST([] AS VARCHAR[]) END),
         |      CASE WHEN doc_id % 7 = 0 THEN ['to be continued...']
         |           ELSE CAST([] AS VARCHAR[]) END),
         |    chr(10)) AS t2
         |  FROM ln0),
         |t2k AS (
         |  SELECT doc_id, t2,
         |    CASE WHEN length(trim(t2)) = 0 THEN CAST([] AS VARCHAR[])
         |         ELSE string_split_regex(trim(t2), '\\s+') END AS toks2
         |  FROM ln1),
         |lx AS (SELECT doc_id, unnest(string_split(t2, chr(10))) AS line FROM ln1),
         |lg AS (
         |  SELECT doc_id, line, count(*) AS m, length(line) AS len,
         |    substr(trim(line), 1, 1) AS c0, trim(line) AS tl
         |  FROM lx GROUP BY doc_id, line),
         |ld AS (
         |  SELECT doc_id,
         |    sum(m) AS n_lines,
         |    sum(CASE WHEN m > 1 THEN m ELSE 0 END) AS n_dup,
         |    sum(CASE WHEN m > 1 THEN m * len ELSE 0 END) AS dup_chars,
         |    sum(m * len) AS line_chars,
         |    sum(CASE WHEN c0 IN ('-', '*', '•') THEN m ELSE 0 END) AS n_bullet,
         |    sum(CASE WHEN tl LIKE '%...' OR tl LIKE '%…' THEN m ELSE 0 END) AS n_ellipsis
         |  FROM lg GROUP BY doc_id),
         |tt AS (
         |  SELECT doc_id,
         |    len(toks2) AS n_tokens,
         |    list_reduce(list_prepend(0, list_transform(toks2, t -> length(t))),
         |      (a, b) -> a + b) AS tok_len_sum,
         |    len(list_filter(toks2, t -> regexp_matches(t, '\\p{L}'))) AS n_alpha,
         |    len(list_filter(toks2, t -> list_contains($enListSql, t))) AS n_dict,
         |    (length(t2) - length(replace(t2, '#', '')))
         |      + (length(t2) - length(replace(t2, '…', '')))
         |      + ((length(t2) - length(replace(t2, '...', ''))) // 3) AS n_sym
         |  FROM t2k),
         |f AS (
         |  SELECT ld.doc_id, ld.n_lines, tt.n_tokens, tt.n_dict,
         |    CAST(CAST(ld.n_dup AS VARCHAR) AS DOUBLE)
         |      / CAST(CAST(ld.n_lines AS VARCHAR) AS DOUBLE) AS dup_line_frac,
         |    CASE WHEN ld.line_chars = 0 THEN 0.0
         |         ELSE CAST(CAST(ld.dup_chars AS VARCHAR) AS DOUBLE)
         |           / CAST(CAST(ld.line_chars AS VARCHAR) AS DOUBLE) END AS dup_char_frac,
         |    CAST(CAST(ld.n_bullet AS VARCHAR) AS DOUBLE)
         |      / CAST(CAST(ld.n_lines AS VARCHAR) AS DOUBLE) AS bullet_frac,
         |    CAST(CAST(ld.n_ellipsis AS VARCHAR) AS DOUBLE)
         |      / CAST(CAST(ld.n_lines AS VARCHAR) AS DOUBLE) AS ellipsis_frac,
         |    CASE WHEN tt.n_tokens = 0 THEN 0.0
         |         ELSE CAST(CAST(tt.tok_len_sum AS VARCHAR) AS DOUBLE)
         |           / CAST(CAST(tt.n_tokens AS VARCHAR) AS DOUBLE) END AS mean_word_len,
         |    CASE WHEN tt.n_tokens = 0 THEN 0.0
         |         ELSE CAST(CAST(tt.n_alpha AS VARCHAR) AS DOUBLE)
         |           / CAST(CAST(tt.n_tokens AS VARCHAR) AS DOUBLE) END AS alpha_frac,
         |    CASE WHEN tt.n_tokens = 0 THEN 0.0
         |         ELSE CAST(CAST(tt.n_sym AS VARCHAR) AS DOUBLE)
         |           / CAST(CAST(tt.n_tokens AS VARCHAR) AS DOUBLE) END AS sym_ratio
         |  FROM ld JOIN tt USING (doc_id))
         |SELECT doc_id, CAST(n_lines AS BIGINT) AS n_lines,
         |  round(dup_line_frac, 6) AS dup_line_frac,
         |  round(dup_char_frac, 6) AS dup_char_frac,
         |  round(bullet_frac, 6) AS bullet_frac,
         |  round(ellipsis_frac, 6) AS ellipsis_frac,
         |  round(mean_word_len, 6) AS mean_word_len,
         |  round(alpha_frac, 6) AS alpha_frac,
         |  round(sym_ratio, 6) AS sym_ratio,
         |  (n_tokens BETWEEN 50 AND 100000
         |    AND mean_word_len BETWEEN 3.0 AND 10.0
         |    AND sym_ratio < 0.1 AND bullet_frac < 0.9
         |    AND ellipsis_frac < 0.3 AND alpha_frac > 0.8
         |    AND n_dict >= 2 AND dup_line_frac < 0.3
         |    AND dup_char_frac < 0.2) AS gopher_pass
         |FROM f ORDER BY doc_id""".stripMargin),

    // C4 cleaning: same lined rendition, planted rule triggers, then
    // the line rules (terminal punct, >= 5 words, no 'javascript') as
    // a list_filter and the doc rules on the assembled text
    "x_text_c4" -> (tokCte +
      """, ln0 AS (
        |  SELECT doc_id,
        |    list_transform(range(0, len(toks), 8),
        |      g -> array_to_string(list_slice(toks, g + 1, g + 8), ' ')) AS lines
        |  FROM tk),
        |p1 AS (
        |  SELECT doc_id,
        |    array_to_string(list_transform(range(1, len(lines) + 1),
        |      i -> CASE WHEN (doc_id + (i - 1)) % 2 = 0
        |                THEN lines[CAST(i AS INT)] || '.'
        |                WHEN (i - 1) % 7 = 3
        |                THEN lines[CAST(i AS INT)] || ' javascript.'
        |                ELSE lines[CAST(i AS INT)] END), chr(10))
        |    || CASE WHEN doc_id % 13 = 0 THEN chr(10) || '{ config }' ELSE '' END
        |    || CASE WHEN doc_id % 17 = 0
        |            THEN chr(10) || 'lorem ipsum dolor sit amet.' ELSE '' END AS t2
        |  FROM ln0),
        |c AS (
        |  SELECT doc_id, t2,
        |    string_split(t2, chr(10)) AS ls,
        |    list_filter(string_split(t2, chr(10)), l ->
        |      right(trim(l), 1) IN ('.', '!', '?', '"')
        |      AND len(string_split_regex(trim(l), '\s+')) >= 5
        |      AND NOT contains(lower(trim(l)), 'javascript')) AS kept
        |  FROM p1)
        |SELECT doc_id,
        |  CAST(len(ls) AS BIGINT) AS n_lines,
        |  CAST(len(kept) AS BIGINT) AS n_kept,
        |  round(CASE WHEN len(ls) = 0 THEN 0.0
        |        ELSE CAST(CAST(len(kept) AS VARCHAR) AS DOUBLE)
        |          / CAST(CAST(len(ls) AS VARCHAR) AS DOUBLE) END, 6) AS kept_frac,
        |  NOT (contains(lower(t2), 'lorem ipsum') OR contains(t2, '{')
        |       OR len(kept) < 3) AS doc_kept,
        |  md5(coalesce(array_to_string(kept, chr(10)), '')) AS clean_md5
        |FROM c ORDER BY doc_id""".stripMargin),

    "x_text_line_dedup" -> (tokCte +
      """, ln0 AS (
        |  SELECT doc_id,
        |    list_transform(range(0, len(toks), 8),
        |      g -> array_to_string(list_slice(toks, g + 1, g + 8), ' ')) AS lines
        |  FROM tk),
        |p1 AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0
        |         THEN 'subscribe to our newsletter' || chr(10) ELSE '' END
        |    || array_to_string(lines, chr(10))
        |    || CASE WHEN doc_id % 5 = 0
        |            THEN chr(10) || 'all rights reserved' ELSE '' END AS t2
        |  FROM ln0),
        |ls AS (SELECT doc_id, t2, string_split(t2, chr(10)) AS arr FROM p1),
        |lx AS (
        |  SELECT doc_id, ix, arr[CAST(ix AS INT)] AS line,
        |    trim(arr[CAST(ix AS INT)]) AS kk
        |  FROM (SELECT doc_id, arr, unnest(range(1, len(arr) + 1)) AS ix
        |        FROM ls)),
        |dfc AS (SELECT kk, count(DISTINCT doc_id) AS df
        |  FROM lx WHERE kk <> '' GROUP BY kk),
        |kept AS (
        |  SELECT lx.doc_id, lx.ix, lx.line
        |  FROM lx LEFT JOIN dfc USING (kk)
        |  WHERE lx.kk = '' OR dfc.df <= 10),
        |rb AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
        |    array_to_string(list(line ORDER BY ix), chr(10)) AS clean_text
        |  FROM kept GROUP BY doc_id)
        |SELECT ls.doc_id,
        |  CAST(len(ls.arr) AS BIGINT) AS n_lines,
        |  CAST(COALESCE(rb.n_kept, 0) AS BIGINT) AS n_kept,
        |  md5(COALESCE(rb.clean_text, '')) AS clean_md5
        |FROM ls LEFT JOIN rb USING (doc_id)
        |ORDER BY ls.doc_id""".stripMargin),

    "x_linedf_incremental" -> (tokCte +
      """, ln0 AS (
        |  SELECT doc_id,
        |    list_transform(range(0, len(toks), 8),
        |      g -> array_to_string(list_slice(toks, g + 1, g + 8), ' ')) AS lines
        |  FROM tk),
        |p1 AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0
        |         THEN 'subscribe to our newsletter' || chr(10) ELSE '' END
        |    || array_to_string(lines, chr(10))
        |    || CASE WHEN doc_id % 5 = 0
        |            THEN chr(10) || 'all rights reserved' ELSE '' END AS t2
        |  FROM ln0),
        |lx AS (
        |  SELECT doc_id, trim(l) AS kk
        |  FROM (SELECT doc_id, unnest(string_split(t2, chr(10))) AS l FROM p1))
        |SELECT kk AS line_key, CAST(count(DISTINCT doc_id) AS BIGINT) AS line_df
        |FROM lx WHERE kk <> ''
        |GROUP BY kk HAVING count(DISTINCT doc_id) >= 2
        |ORDER BY line_key""".stripMargin),

    // retraction oracle: recompute over the SURVIVING docs only —
    // subtract ≡ recompute is the contract under test
    "x_linedf_retract" -> (tokCte +
      """, ln0 AS (
        |  SELECT doc_id,
        |    list_transform(range(0, len(toks), 8),
        |      g -> array_to_string(list_slice(toks, g + 1, g + 8), ' ')) AS lines
        |  FROM tk),
        |p1 AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0
        |         THEN 'subscribe to our newsletter' || chr(10) ELSE '' END
        |    || array_to_string(lines, chr(10))
        |    || CASE WHEN doc_id % 5 = 0
        |            THEN chr(10) || 'all rights reserved' ELSE '' END AS t2
        |  FROM ln0),
        |lx AS (
        |  SELECT doc_id, trim(l) AS kk
        |  FROM (SELECT doc_id, unnest(string_split(t2, chr(10))) AS l
        |        FROM p1 WHERE doc_id % 3 <> 0))
        |SELECT kk AS line_key, CAST(count(DISTINCT doc_id) AS BIGINT) AS line_df
        |FROM lx WHERE kk <> ''
        |GROUP BY kk HAVING count(DISTINCT doc_id) >= 2
        |ORDER BY line_key""".stripMargin),

    "x_text_stats" -> (tokCte +
      s"""SELECT doc_id,
         |  CAST(length(text) AS BIGINT) AS n_chars,
         |  CAST(len(toks) AS BIGINT) AS n_tokens,
         |  round(CAST(CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS VARCHAR) AS DOUBLE)
         |        / CAST(CAST(length(text) AS VARCHAR) AS DOUBLE), 6) AS punct_ratio,
         |  round(CAST(CAST(len(list_filter(toks, t -> list_contains($enListSql, t))) AS VARCHAR) AS DOUBLE)
         |        / CAST(CAST(len(toks) AS VARCHAR) AS DOUBLE), 6) AS stopword_ratio,
         |  round(CAST(CAST(list_reduce(list_prepend(0, list_transform(toks, t -> length(t))), (a, b) -> a + b) AS VARCHAR) AS DOUBLE)
         |        / CAST(CAST(len(toks) AS VARCHAR) AS DOUBLE), 6) AS avg_token_len
         |FROM tk ORDER BY doc_id""".stripMargin),

    "x_text_langid" -> {
      def hits(words: Seq[String]) =
        s"len(list_filter(list_transform(toks, t -> lower(t)), t -> list_contains(${words.map(w => s"'$w'").mkString("[", ",", "]")}, t)))"
      tokCte +
        s""", h AS (
           |  SELECT doc_id, lang, text,
           |    ${hits(T.EnWords)} AS en, ${hits(T.EsWords)} AS es,
           |    ${hits(T.FrWords)} AS fr, ${hits(T.DeWords)} AS de
           |  FROM tk)
           |SELECT doc_id,
           |  CASE WHEN length(regexp_replace(text, '[^\\x{4e00}-\\x{9fff}]', '', 'g')) > 0 THEN 'zh'
           |       WHEN en = 0 AND es = 0 AND fr = 0 AND de = 0 THEN 'und'
           |       WHEN en >= es AND en >= fr AND en >= de THEN 'en'
           |       WHEN es >= fr AND es >= de THEN 'es'
           |       WHEN fr >= de THEN 'fr'
           |       ELSE 'de' END AS lang_guess,
           |  lang AS lang_declared
           |FROM h ORDER BY doc_id""".stripMargin
    },
    "x_langid_trained" ->
      // FULL-corpus recompute of the profile model + classify — the
      // Spark side trains three disjoint batch partials and merges, so
      // a hash match proves incremental ≡ recompute end-to-end. Score
      // = hit mass / profile total: BIGINT sums, one IEEE division —
      // bit-identical across engines; argmax tie-break on lang asc.
      """WITH g AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(1, length(text) - 1),
        |      i -> substr(text, CAST(i AS INT), 3))) AS gram
        |  FROM documents WHERE length(text) >= 3),
        |ng AS (SELECT doc_id, count(*) AS n_grams FROM g GROUP BY 1),
        |m AS (
        |  SELECT lang, gram, count(*) AS n FROM (
        |    SELECT lang,
        |      unnest(list_transform(range(1, length(text) - 1),
        |        i -> substr(text, CAST(i AS INT), 3))) AS gram
        |    FROM documents
        |    WHERE lang IS NOT NULL AND length(text) >= 3)
        |  GROUP BY 1, 2),
        |tot AS (SELECT lang, CAST(sum(n) AS BIGINT) AS total FROM m GROUP BY 1),
        |hits AS (
        |  SELECT g.doc_id, m.lang, CAST(sum(m.n) AS BIGINT) AS h
        |  FROM g JOIN m USING (gram) GROUP BY 1, 2),
        |best AS (
        |  SELECT doc_id, lang,
        |    CAST(h AS DOUBLE) / CAST(total AS DOUBLE) AS score,
        |    row_number() OVER (PARTITION BY doc_id
        |      ORDER BY CAST(h AS DOUBLE) / CAST(total AS DOUBLE) DESC,
        |        lang) AS rn
        |  FROM hits JOIN tot USING (lang))
        |SELECT d.doc_id,
        |  CAST(coalesce(ng.n_grams, 0) AS BIGINT) AS n_grams,
        |  coalesce(b.lang, 'und') AS lang_pred,
        |  round(b.score, 6) AS lang_score
        |FROM documents d
        |LEFT JOIN ng USING (doc_id)
        |LEFT JOIN (SELECT * FROM best WHERE rn = 1) b USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    "x_text_fingerprint" ->
      s"""WITH n AS (
         |  SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t
         |  FROM documents)
         |SELECT doc_id, md5(t) AS fp_md5,
         |  list_reduce(list_prepend(CAST(0 AS BIGINT),
         |    list_transform(range(1, length(t) + 1),
         |      i -> CAST(ascii(substr(t, CAST(i AS INT), 1)) AS BIGINT))),
         |    (a, b) -> (a * 131 + b) % $P) AS fp_roll
         |FROM n ORDER BY doc_id""".stripMargin,

    "x_dedup_exact" ->
      """WITH src AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 10000000 AS doc_id, text FROM documents WHERE doc_id % 5 = 0)
        |SELECT md5(text) AS content_md5, min(doc_id) AS keep_id, count(*) AS n
        |FROM src GROUP BY md5(text) HAVING count(*) > 1
        |ORDER BY keep_id""".stripMargin,

    "x_dedup_source_overlap" ->
      """WITH src AS (
        |  SELECT doc_id, text, source FROM documents
        |  UNION ALL
        |  SELECT doc_id + 10000000 AS doc_id, text,
        |    'src' || CAST((CAST(substr(source, 4) AS INT) + 1) % 20 AS VARCHAR) AS source
        |  FROM documents WHERE doc_id % 7 = 0),
        |g AS (SELECT md5(text) AS h, source, count(*) AS c FROM src GROUP BY 1, 2),
        |p AS (
        |  SELECT a.source AS source_a, b.source AS source_b,
        |    CASE WHEN a.source = b.source THEN a.c * (a.c - 1) // 2
        |         ELSE a.c * b.c END AS np
        |  FROM g a JOIN g b ON a.h = b.h AND a.source <= b.source
        |  WHERE a.source <> b.source OR a.c >= 2)
        |SELECT source_a, source_b, CAST(sum(np) AS BIGINT) AS dup_pairs
        |FROM p GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "x_dedup_minhash_lsh" -> (shingleCte +
      s""", ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
         |bs AS (SELECT doc_id, g AS b FROM ex),
         |sig AS (SELECT doc_id, ${sigSelectSql(8)} FROM bs GROUP BY doc_id),
         |bands AS (SELECT doc_id, unnest(${bandListSql(8, 2)}) AS band FROM sig),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS i, b2.doc_id AS j
         |  FROM bands a JOIN bands b2 ON a.band = b2.band AND a.doc_id < b2.doc_id)""".stripMargin
      + jaccardTailSql),

    "x_dedup_jaccard" -> (shingleCte +
      """, ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS i, b2.doc_id AS j
        |  FROM ex a JOIN ex b2 ON a.g = b2.g AND a.doc_id < b2.doc_id)""".stripMargin
      + jaccardTailSql),

    // mirrors xDedupContainment's planted-excerpt union at the TOKEN
    // level (list_slice of the same split — no text reconstruction to
    // drift), then the shingle pipeline of shingleCteN and an exact
    // all-pairs shared-shingle candidate set with the min-normalized
    // containment tail
    "x_dedup_containment" -> (
      """WITH t0 AS (
        |  SELECT doc_id,
        |    CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
        |         ELSE string_split_regex(trim(text), '\s+') END AS toks
        |  FROM documents),
        |tk AS (
        |  SELECT doc_id, toks FROM t0
        |  UNION ALL
        |  SELECT doc_id + 10000000 AS doc_id,
        |    list_slice(toks, 1, greatest(len(toks) // 2, 6)) AS toks
        |  FROM t0 WHERE doc_id % 7 = 0),
        |""".stripMargin +
      s"""th AS (
         |  SELECT doc_id,
         |    list_transform(toks, t -> CAST('0x' || substr(md5(t), 1, 15) AS BIGINT) % $P) AS h
         |  FROM tk),
         |sh AS (
         |  SELECT doc_id, list_sort(list_distinct(list_transform(
         |    range(1, greatest(len(h) - 4, 1) + 1),
         |    i -> list_reduce(list_prepend(CAST(0 AS BIGINT), h[CAST(i AS INT):CAST(i + 4 AS INT)]),
         |         (a, b) -> (a * 131 + b) % $P)))) AS s
         |  FROM th),
         |ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS i, b2.doc_id AS j
         |  FROM ex a JOIN ex b2 ON a.g = b2.g AND a.doc_id < b2.doc_id),
         |ct AS (
         |  SELECT c.i, c.j,
         |    CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE) /
         |    CAST(least(len(sa.s), len(sb.s)) AS DOUBLE) AS cont
         |  FROM cand c JOIN sh sa ON sa.doc_id = c.i JOIN sh sb ON sb.doc_id = c.j)
         |SELECT i, j, round(cont, 6) AS containment
         |FROM ct WHERE cont >= 0.9 ORDER BY i, j""".stripMargin),

    "x_dedup_simhash" -> (tokCte +
      s""", ex AS (SELECT doc_id, unnest(toks) AS t FROM tk),
         |hh AS (SELECT doc_id, CAST('0x' || substr(md5(t), 1, 15) AS BIGINT) AS h FROM ex),
         |bits AS (SELECT doc_id, $simhashBitsSql FROM hh GROUP BY doc_id)
         |SELECT doc_id, CAST($simhashValueSql AS BIGINT) AS simhash
         |FROM bits ORDER BY doc_id""".stripMargin),

    "x_dedup_clusters" -> (dupClosureCte +
      """SELECT a AS doc_id, least(a, min(b)) AS canonical_id
        |FROM r GROUP BY a HAVING least(a, min(b)) <> a
        |ORDER BY doc_id""".stripMargin),

    "x_dedup_survivors" -> (dupClosureCte +
      """, m AS (SELECT a AS doc_id, least(a, min(b)) AS cluster_id
        |        FROM r GROUP BY a),
        |sv AS (
        |  SELECT m.doc_id, m.cluster_id,
        |    row_number() OVER (PARTITION BY m.cluster_id
        |      ORDER BY d.n_chars DESC, m.doc_id) AS rk
        |  FROM m JOIN documents d USING (doc_id)),
        |s2 AS (SELECT cluster_id, doc_id AS survivor_id FROM sv WHERE rk = 1)
        |SELECT sv.doc_id, sv.cluster_id, s2.survivor_id,
        |  sv.doc_id = s2.survivor_id AS kept
        |FROM sv JOIN s2 USING (cluster_id) ORDER BY sv.doc_id""".stripMargin),

    "x_text_chunks" -> (tokCte +
      """, st AS (
        |  SELECT doc_id, toks, unnest(range(0, len(toks), 48)) AS cstart
        |  FROM tk WHERE len(toks) > 0),
        |ch AS (
        |  SELECT doc_id, cstart,
        |    list_slice(toks, cstart + 1, cstart + 64) AS ctoks
        |  FROM st)
        |SELECT doc_id, CAST(cstart // 48 AS BIGINT) AS chunk_ix,
        |  CAST(cstart AS BIGINT) AS chunk_start,
        |  CAST(len(ctoks) AS BIGINT) AS n_tokens,
        |  md5(array_to_string(ctoks, ' ')) AS chunk_md5
        |FROM ch ORDER BY doc_id, chunk_ix""".stripMargin),

    "x_contamination" -> contaminationOracle,
    // identical output by construction: the Bloom sketch only THINS the
    // exact confirm join's input (no false negatives; false positives
    // are removed by the semi-join), so the exact-path SQL is the oracle
    "x_contamination_bloom" -> contaminationOracle,

    "x_dedup_embedding" ->
      ("""WITH e0 AS (
         |  SELECT vec_id, embedding FROM embeddings
         |  UNION ALL
         |  SELECT vec_id + 10000000 AS vec_id, embedding FROM embeddings WHERE vec_id % 50 = 0),
         |e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM e0),
         |nn AS (SELECT vec_id, v, """.stripMargin
        + dotSql("v", "v") + s""" AS nsq FROM e),
         |bk AS (SELECT vec_id, v, nsq, ${bucketSql("v", embDedupPlanes)} AS bucket FROM nn),
         |p AS (
         |  SELECT a.vec_id AS i, b.vec_id AS j,
         |    ${dotSql("a.v", "b.v")} / (sqrt(a.nsq) * sqrt(b.nsq)) AS cs
         |  FROM bk a JOIN bk b ON a.vec_id < b.vec_id AND a.bucket = b.bucket)
         |SELECT i, j, round(cs, 6) AS cos FROM p WHERE cs > 0.95 ORDER BY i, j""".stripMargin),

    "x_dedup_embedding_ivf" ->
      ("""WITH e0 AS (
         |  SELECT vec_id, embedding FROM embeddings
         |  UNION ALL
         |  SELECT vec_id + 10000000 AS vec_id, embedding FROM embeddings WHERE vec_id % 50 = 0),
         |e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM e0),
         |nn AS (SELECT vec_id, v, """.stripMargin
        + dotSql("v", "v") + s""" AS nsq FROM e),
         |cent AS (
         |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, v AS cv, nsq AS cn
         |  FROM nn ORDER BY vec_id LIMIT $EmbIvfNlist),
         |asg0 AS (
         |  SELECT n.vec_id, n.v, n.nsq, c.cell, c.cv,
         |    ${dotSql("n.v", "c.cv")} / (sqrt(n.nsq) * sqrt(c.cn)) AS cs
         |  FROM nn n CROSS JOIN cent c),
         |asg AS (
         |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cell) AS crk
         |  FROM asg0),
         |rb AS (
         |  SELECT vec_id, v, nsq, cell,
         |    list_transform(range(1, len(v) + 1),
         |      i -> v[CAST(i AS INT)] - cv[CAST(i AS INT)]) AS rv
         |  FROM asg WHERE crk = 1),
         |bk AS (
         |  SELECT vec_id, v, nsq,
         |    CAST(cell AS VARCHAR) || ':' || CAST(${bucketSql("rv", embIvfPlanes)} AS VARCHAR) AS bucket
         |  FROM rb),
         |p AS (
         |  SELECT a.vec_id AS i, b.vec_id AS j,
         |    ${dotSql("a.v", "b.v")} / (sqrt(a.nsq) * sqrt(b.nsq)) AS cs
         |  FROM bk a JOIN bk b ON a.vec_id < b.vec_id AND a.bucket = b.bucket)
         |SELECT i, j, round(cs, 6) AS cos FROM p WHERE cs > 0.95 ORDER BY i, j""".stripMargin),

    "x_sim_topk_brute" -> (embCte +
      s""", p AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    ${dotSql("q.v", "c.v")} / (sqrt(q.nsq) * sqrt(c.nsq)) AS score
         |  FROM nn q JOIN nn c ON q.vec_id < 10 AND c.vec_id <> q.vec_id),
         |r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rk FROM p)
         |SELECT query_id, neighbor_id, round(score, 6) AS score
         |FROM r WHERE rk <= 10 ORDER BY query_id, neighbor_id""".stripMargin),

    "x_sim_topk_lsh" -> (embCte +
      s""", bk AS (SELECT vec_id, v, nsq, ${bucketSql("v")} AS bucket FROM nn),
         |p AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    ${dotSql("q.v", "c.v")} / (sqrt(q.nsq) * sqrt(c.nsq)) AS score
         |  FROM bk q JOIN bk c ON q.vec_id < 10 AND c.vec_id <> q.vec_id AND q.bucket = c.bucket),
         |r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rk FROM p)
         |SELECT query_id, neighbor_id, round(score, 6) AS score
         |FROM r WHERE rk <= 5 ORDER BY query_id, neighbor_id""".stripMargin),

    "x_sim_topk_ivf" -> (embCte +
      s""", cent AS (
         |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, v AS cv, nsq AS cn
         |  FROM nn ORDER BY vec_id LIMIT 8),
         |asg0 AS (
         |  SELECT n.vec_id, n.v, n.nsq, c.cell,
         |    ${dotSql("n.v", "c.cv")} / (sqrt(n.nsq) * sqrt(c.cn)) AS cs
         |  FROM nn n CROSS JOIN cent c),
         |asg AS (
         |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cell) AS crk
         |  FROM asg0),
         |cand AS (SELECT vec_id, v, nsq, cell FROM asg WHERE crk = 1),
         |qry AS (SELECT vec_id, v, nsq, cell FROM asg WHERE crk <= 2 AND vec_id < 10),
         |p AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    ${dotSql("q.v", "c.v")} / (sqrt(q.nsq) * sqrt(c.nsq)) AS score
         |  FROM qry q JOIN cand c ON q.cell = c.cell AND c.vec_id <> q.vec_id),
         |r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rk FROM p)
         |SELECT query_id, neighbor_id, round(score, 6) AS score
         |FROM r WHERE rk <= 5 ORDER BY query_id, neighbor_id""".stripMargin),

    // PQ ANN: encode = per-subspace L2 argmin against the exemplar
    // codebook (8 codes of the 8 lowest-id vectors' slices), score =
    // dot/norm against the code RECONSTRUCTION — element order equals
    // the Spark kernels' concatenated-subspace folds, so doubles match
    // bit for bit
    "x_sim_topk_pq" -> (embCte + pqAdcPSql +
      """r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rk FROM p)
        |SELECT query_id, neighbor_id, round(score, 6) AS score
        |FROM r WHERE rk <= 5 ORDER BY query_id, neighbor_id""".stripMargin),

    // PQ shortlist (ADC top-50) -> exact cosine re-rank top-5: the
    // re-score fold is the brute oracle's own expression, so values
    // are bit-identical to brute on the shortlisted pairs
    "x_sim_topk_pq_rerank" -> (embCte + pqAdcPSql +
      s"""r0 AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rk FROM p),
         |sl AS (SELECT query_id, neighbor_id FROM r0 WHERE rk <= 50),
         |ex AS (
         |  SELECT sl.query_id, sl.neighbor_id,
         |    ${dotSql("q.v", "c.v")} / (sqrt(q.nsq) * sqrt(c.nsq)) AS score
         |  FROM sl JOIN nn q ON q.vec_id = sl.query_id
         |          JOIN nn c ON c.vec_id = sl.neighbor_id),
         |r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rk FROM ex)
         |SELECT query_id, neighbor_id, round(score, 6) AS score
         |FROM r WHERE rk <= 5 ORDER BY query_id, neighbor_id""".stripMargin),

    // IVFPQ / IVFADC: the IVF cell CTE routes every vector to its
    // nearest of 8 exemplar centroids; PQ then encodes the RESIDUAL
    // v − centroid(cell) against exemplar residual codebooks (the 8
    // lowest-id candidates' residuals, sliced per subspace). Scoring
    // reconstructs candidate ≈ centroid + pq_recon(residual):
    //   num  = q·cv + q·pv            rnsq = cn + 2·(cv·pv) + pv·pv
    // — every dot the same left fold as the Spark kernels, so doubles
    // match bit for bit (same identity the x_sim_topk_pq oracle pins).
    "x_sim_topk_ivfpq" -> (embCte +
      s""", cent AS (
         |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, v AS cv, nsq AS cn
         |  FROM nn ORDER BY vec_id LIMIT 8),
         |asg0 AS (
         |  SELECT n.vec_id, n.v, n.nsq, c.cell, c.cv, c.cn,
         |    ${dotSql("n.v", "c.cv")} / (sqrt(n.nsq) * sqrt(c.cn)) AS cs
         |  FROM nn n CROSS JOIN cent c),
         |asg AS (
         |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cell) AS crk
         |  FROM asg0),
         |cand AS (
         |  SELECT vec_id, nsq, cell, cv, cn,
         |    list_transform(range(1, len(v) + 1),
         |      i -> v[CAST(i AS INT)] - cv[CAST(i AS INT)]) AS rv
         |  FROM asg WHERE crk = 1),
         |qry AS (SELECT vec_id, v, nsq, cell FROM asg WHERE crk <= 2 AND vec_id < 10),
         |cb AS (
         |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code, rv AS bv
         |  FROM cand ORDER BY vec_id LIMIT 8),
         |sub AS (SELECT unnest(range(0, 8)) AS m),
         |d AS (
         |  SELECT n.vec_id, s.m, c.code,
         |    list_reduce(list_prepend(CAST(CAST(0.0 AS VARCHAR) AS DOUBLE),
         |      list_transform(range(1, 9),
         |        i -> (n.rv[CAST(s.m * 8 + i AS INT)] - c.bv[CAST(s.m * 8 + i AS INT)]) *
         |             (n.rv[CAST(s.m * 8 + i AS INT)] - c.bv[CAST(s.m * 8 + i AS INT)]))),
         |      (x, y) -> x + y) AS d2
         |  FROM cand n CROSS JOIN sub s CROSS JOIN cb c),
         |enc AS (
         |  SELECT vec_id, m, code,
         |    row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, code) AS erk
         |  FROM d),
         |pr AS (
         |  SELECT e2.vec_id,
         |    flatten(list(c.bv[CAST(e2.m * 8 + 1 AS INT):CAST(e2.m * 8 + 8 AS INT)]
         |      ORDER BY e2.m)) AS pv
         |  FROM enc e2 JOIN cb c ON c.code = e2.code
         |  WHERE e2.erk = 1 GROUP BY e2.vec_id),
         |rn AS (
         |  SELECT cd.vec_id, cd.cell, cd.cv, pr.pv,
         |    cd.cn + 2.0 * ${dotSql("cd.cv", "pr.pv")} + ${dotSql("pr.pv", "pr.pv")} AS rnsq
         |  FROM cand cd JOIN pr ON pr.vec_id = cd.vec_id),
         |p AS (
         |  SELECT q.vec_id AS query_id, r2.vec_id AS neighbor_id,
         |    (${dotSql("q.v", "r2.cv")} + ${dotSql("q.v", "r2.pv")}) /
         |      (sqrt(q.nsq) * sqrt(r2.rnsq)) AS score
         |  FROM qry q JOIN rn r2 ON q.cell = r2.cell AND r2.vec_id <> q.vec_id),
         |r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rk FROM p)
         |SELECT query_id, neighbor_id, round(score, 6) AS score
         |FROM r WHERE rk <= 5 ORDER BY query_id, neighbor_id""".stripMargin),

    "x_text_tokens" ->
      """WITH b AS (
        |  SELECT doc_id, text,
        |    len(regexp_extract_all(text,
        |      '''(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^ \t\n\r\f\x0B\p{L}\p{N}]+')) AS nb
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |       ELSE len(string_split_regex(trim(text), '\s+')) END AS BIGINT) AS ws_tokens,
        |  CAST(nb AS BIGINT) AS bpeish_tokens,
        |  round(CAST(CAST(length(text) AS VARCHAR) AS DOUBLE) /
        |        CAST(CAST(greatest(nb, 1) AS VARCHAR) AS DOUBLE), 6) AS chars_per_token
        |FROM b ORDER BY doc_id""".stripMargin,

    "x_multimodal_meta" ->
      """WITH m AS (
        |  SELECT doc_id, text, CAST('0x' || substr(md5(text), 1, 15) AS BIGINT) AS h
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  md5(text) AS content_md5,
        |  h % 640 + 16 AS width,
        |  (h // 640) % 480 + 16 AS height,
        |  CAST(octet_length(encode(text)) % 30 + 1 AS BIGINT) AS n_frames,
        |  upper(hex(encode(substr(text, 1, 4)))) AS magic
        |FROM m ORDER BY doc_id""".stripMargin,

    "x_multimodal_audio" ->
      """WITH m AS (
        |  SELECT doc_id,
        |    CAST('0x' || substr(md5(text), 1, 15) AS BIGINT) AS h,
        |    CAST(octet_length(encode(text)) AS BIGINT) AS nb,
        |    md5(text) AS content_md5
        |  FROM documents),
        |s AS (
        |  SELECT *, CASE h % 4 WHEN 0 THEN 8000 WHEN 1 THEN 16000
        |                       WHEN 2 THEN 22050 ELSE 44100 END AS sr
        |  FROM m)
        |SELECT doc_id, nb AS n_bytes,
        |  CAST(sr AS BIGINT) AS sample_rate,
        |  h % 2 + 1 AS channels,
        |  nb AS n_samples,
        |  nb * 1000 // sr AS duration_ms,
        |  round(CAST(h % 1000 AS DOUBLE) / 1000.0, 6) AS peak,
        |  'stub' AS codec,
        |  content_md5
        |FROM s ORDER BY doc_id""".stripMargin,

    "x_text_redact" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0
        |           THEN text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now'
        |         WHEN doc_id % 3 = 1
        |           THEN text || ' call +3805512' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
        |         ELSE text END AS t
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(t, '\+[0-9]{8,15}')) AS BIGINT) AS n_phones,
        |  md5(regexp_replace(
        |        regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
        |        '\+[0-9]{8,15}', '[PHONE]', 'g')) AS redacted_md5
        |FROM d ORDER BY doc_id""".stripMargin,

    // positional 4-token window hashes — the 60-bit DOUBLE hash
    // h131·P + h137 (two per-step-mod folds, congruent to the
    // kernel's rolling form; a single 30-bit residue manufactures
    // m²/2P spurious duplicates by birthday collision, measured
    // material at decade window counts) — corpus-wide occurrence
    // counts, covered positions, ordered rebuild, all reconstructed
    "x_dedup_substring" -> (tokCte +
      s""", th AS (
         |  SELECT doc_id, toks,
         |    list_transform(toks,
         |      t -> CAST('0x' || substr(md5(t), 1, 15) AS BIGINT) % $P) AS h
         |  FROM tk),
         |w AS (
         |  SELECT doc_id, ix - 1 AS p,
         |    list_reduce(list_prepend(CAST(0 AS BIGINT),
         |      h[CAST(ix AS INT):CAST(ix + 3 AS INT)]),
         |      (a, b) -> (a * 131 + b) % $P) * $P +
         |    list_reduce(list_prepend(CAST(0 AS BIGINT),
         |      h[CAST(ix AS INT):CAST(ix + 3 AS INT)]),
         |      (a, b) -> (a * 137 + b) % $P) AS wh
         |  FROM (SELECT doc_id, h,
         |          unnest(range(1, greatest(len(h) - 3, 0) + 1)) AS ix
         |        FROM th)),
         |dup AS (SELECT wh FROM w GROUP BY wh HAVING count(*) >= 2),
         |off AS (SELECT unnest(range(0, 4)) AS o),
         |cov AS (SELECT DISTINCT doc_id, p + o AS cp
         |        FROM w JOIN dup USING (wh), off),
         |tp AS (
         |  SELECT doc_id, ix - 1 AS tpos, toks[CAST(ix AS INT)] AS tok
         |  FROM (SELECT doc_id, toks, unnest(range(1, len(toks) + 1)) AS ix
         |        FROM tk)),
         |kept AS (
         |  SELECT tp.doc_id, tpos, tok
         |  FROM tp LEFT JOIN cov ON tp.doc_id = cov.doc_id AND tpos = cp
         |  WHERE cov.doc_id IS NULL),
         |reb AS (
         |  SELECT doc_id, count(*) AS n_kept,
         |    string_agg(tok, ' ' ORDER BY tpos) AS clean_text
         |  FROM kept GROUP BY doc_id)
         |SELECT t.doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
         |  CAST(len(toks) - COALESCE(reb.n_kept, 0) AS BIGINT) AS n_removed,
         |  COALESCE(reb.clean_text, '') AS clean_text
         |FROM tk t LEFT JOIN reb USING (doc_id)
         |ORDER BY t.doc_id""".stripMargin),

    // span identity is the 60-bit double hash (round 13 — mirrors
    // WordShingleHashes64; the pair list has no downstream verify, so
    // it pays for the width where the jaccard family's int32 doesn't)
    "x_dedup_spans" -> (shingleCte64N(8) +
      """, e AS (SELECT doc_id, unnest(s) AS h FROM sh),
        |rare AS (SELECT h FROM e GROUP BY h HAVING count(*) <= 64),
        |t AS (SELECT doc_id, h FROM e JOIN rare USING (h))
        |SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS n_shared_spans
        |FROM t a JOIN t b ON a.h = b.h AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 ORDER BY i, j""".stripMargin),

    "x_tokendf_incremental" -> (tokCte +
      """, dt AS (SELECT doc_id, unnest(list_distinct(toks)) AS token FROM tk)
        |SELECT token, CAST(count(*) AS BIGINT) AS token_df
        |FROM dt GROUP BY token
        |ORDER BY token""".stripMargin),

    // one-pass sketch vs Spark's four merged partials: same seeded
    // hash family as HashFunctions.seeded (affine over the md5-prefix
    // base mod P), depth 3 x width 64
    "x_sketch_countmin" -> (tokCte +
      s""", tok AS (SELECT unnest(toks) AS token FROM tk),
         |cnt AS (SELECT token, CAST(count(*) AS BIGINT) AS n_exact
         |        FROM tok GROUP BY 1),
         |hb AS (SELECT token, n_exact,
         |         CAST('0x' || substr(md5(token), 1, 15) AS BIGINT) % $P AS base
         |       FROM cnt),
         |bk AS (SELECT token, n_exact, d,
         |         ((2 * d + 1) * base + 7919 * d + 13) % $P % 64 AS bucket
         |       FROM hb, range(0, 3) r(d)),
         |sk AS (SELECT d, bucket, sum(n_exact) AS n FROM bk GROUP BY 1, 2),
         |est AS (SELECT token, CAST(min(n) AS BIGINT) AS n_est
         |        FROM bk JOIN sk USING (d, bucket) GROUP BY 1)
         |SELECT c.token, e.n_est, c.n_exact
         |FROM cnt c JOIN est e USING (token)
         |ORDER BY token""".stripMargin),

    // the oracle never sees the sketch: heavy hitters are just the
    // plain threshold count, so the hash match proves the screen has
    // no false negatives AND the confirm pass removed every collision
    "x_sketch_heavy" -> (tokCte +
      """, tok AS (SELECT unnest(toks) AS token FROM tk),
        |tot AS (SELECT (count(*) + 63) // 64 AS t FROM tok)
        |SELECT token, CAST(count(*) AS BIGINT) AS n
        |FROM tok GROUP BY token
        |HAVING count(*) >= greatest((SELECT t FROM tot), 1)
        |ORDER BY token""".stripMargin),

    // the oracle sees neither the history/batch split nor either
    // maintained shape: the whole-stream heavy set is just the plain
    // threshold count over ALL documents, so the hash match proves the
    // maintained-counts + sketch-screen composition exact — including
    // tokens heavy from history but absent from the probe batch
    "x_sketch_heavy_stream" -> (tokCte +
      """, tok AS (SELECT unnest(toks) AS token FROM tk),
        |tot AS (SELECT (count(*) + 63) // 64 AS t FROM tok)
        |SELECT token, CAST(count(*) AS BIGINT) AS n
        |FROM tok GROUP BY token
        |HAVING count(*) >= greatest((SELECT t FROM tot), 1)
        |ORDER BY token""".stripMargin),

    "x_text_rarity" -> (tokCte +
      """, dt AS (SELECT doc_id, unnest(list_distinct(toks)) AS tok FROM tk),
        |dfs AS (SELECT tok, count(*) AS df FROM dt GROUP BY tok),
        |pd AS (
        |  SELECT dt.doc_id, CAST(count(*) AS BIGINT) AS n_distinct_toks,
        |    CAST(sum(dfs.df) AS BIGINT) AS df_sum
        |  FROM dt JOIN dfs USING (tok) GROUP BY dt.doc_id)
        |SELECT d.doc_id,
        |  CAST(COALESCE(pd.n_distinct_toks, 0) AS BIGINT) AS n_distinct_toks,
        |  pd.df_sum,
        |  round(CAST(CAST(pd.df_sum AS VARCHAR) AS DOUBLE) /
        |        CAST(CAST(pd.n_distinct_toks AS VARCHAR) AS DOUBLE), 6) AS mean_token_df
        |FROM documents d LEFT JOIN pd USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin),

    "x_search_bm25" -> {
      val terms = Seq("spark", "query", "window", "merge")
      def termSql(ix: Int): String =
        s"(CAST(n AS DOUBLE) - CAST(df$ix AS DOUBLE) + 0.5) / (CAST(df$ix AS DOUBLE) + 0.5)" +
          s" * (CAST(tf$ix AS DOUBLE) * (1.2 + 1.0) / (CAST(tf$ix AS DOUBLE)" +
          s" + 1.2 * (1.0 - 0.75 + 0.75 * (CAST(dl AS DOUBLE) / (CAST(sdl AS DOUBLE) / CAST(n AS DOUBLE))))))"
      tokCte +
        s""", tf AS (
           |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl,
           |${terms.zipWithIndex.map { case (t, ix) =>
              s"    CAST(len(list_filter(toks, x -> x = '$t')) AS BIGINT) AS tf$ix"
            }.mkString(",\n")}
           |  FROM tk),
           |st AS (SELECT CAST(count(*) AS BIGINT) AS n,
           |  CAST(sum(dl) AS BIGINT) AS sdl,
           |${terms.indices.map(ix =>
              s"  CAST(sum(CASE WHEN tf$ix > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df$ix"
            ).mkString(",\n")}
           |  FROM tf)
           |SELECT doc_id, dl,
           |  CAST(${terms.indices.map(ix =>
              s"CASE WHEN tf$ix > 0 THEN 1 ELSE 0 END").mkString(" + ")} AS BIGINT) AS n_hits,
           |  round(${terms.indices.map(termSql).mkString("\n    + ")}, 6) AS score
           |FROM tf CROSS JOIN st
           |WHERE ${terms.indices.map(ix => s"tf$ix > 0").mkString(" OR ")}
           |ORDER BY score DESC, doc_id LIMIT 50""".stripMargin
    },

    "x_quality_lm" -> qualityLmSql,

    // the incremental model must reproduce the full-training scores
    // EXACTLY, so its oracle is the same full-corpus SQL
    "x_bigramlm_incremental" -> qualityLmSql,

    "x_sample_quality" -> (tokCte +
      s"""SELECT doc_id,
         |  CAST(CASE WHEN len(toks) = 0 THEN 0
         |    ELSE floor(CAST(CAST(len(list_filter(toks, t -> list_contains($enListSql, t))) AS VARCHAR) AS DOUBLE)
         |      * 1000.0 / CAST(CAST(len(toks) AS VARCHAR) AS DOUBLE)) END AS BIGINT) AS quality_pm
         |FROM tk
         |WHERE (CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 1000)
         |  < greatest(0, least(1000, CAST(CASE WHEN len(toks) = 0 THEN 0
         |    ELSE floor(CAST(CAST(len(list_filter(toks, t -> list_contains($enListSql, t))) AS VARCHAR) AS DOUBLE)
         |      * 1000.0 / CAST(CAST(len(toks) AS VARCHAR) AS DOUBLE)) END AS BIGINT)))
         |ORDER BY doc_id""".stripMargin),

    "x_dedup_editdist" ->
      """WITH b0 AS (
        |  SELECT doc_id,
        |    substr(md5(text), 1, 12) || '-' || substr(text, 1, 8) AS nm
        |  FROM documents WHERE doc_id % 17 = 0),
        |v AS (
        |  SELECT doc_id, nm FROM b0
        |  UNION ALL
        |  SELECT doc_id + 10000000,
        |    substr(nm, 1, 4) || 'Z' || substr(nm, 6)
        |  FROM b0 WHERE doc_id % 9 = 0
        |  UNION ALL
        |  SELECT doc_id + 20000000, substr(nm, 1, 6) || substr(nm, 8)
        |  FROM b0 WHERE doc_id % 14 = 0),
        |d AS (SELECT doc_id, nm, length(nm) AS len FROM v
        |  WHERE length(nm) BETWEEN 3 AND 64)
        |SELECT a.doc_id AS i, b.doc_id AS j,
        |  CAST(levenshtein(a.nm, b.nm) AS BIGINT) AS dist
        |FROM d a JOIN d b
        |  ON a.doc_id < b.doc_id AND abs(a.len - b.len) <= 2
        |WHERE levenshtein(a.nm, b.nm) <= 2
        |ORDER BY i, j""".stripMargin,

    "x_mix_temperature" ->
      """WITH c AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(floor(sqrt(CAST(CAST(count(*) AS VARCHAR) AS DOUBLE))) AS BIGINT) AS sqrt_weight
        |  FROM documents GROUP BY source),
        |t AS (SELECT CAST(sum(n_docs) AS BIGINT) AS n,
        |             CAST(sum(sqrt_weight) AS BIGINT) AS s FROM c)
        |SELECT source, n_docs, sqrt_weight,
        |  (1000 * n_docs) // t.n AS natural_pm,
        |  (1000 * sqrt_weight) // t.s AS target_pm,
        |  (1000 * sqrt_weight * t.n) // (t.s * n_docs) AS copies_pm
        |FROM c CROSS JOIN t ORDER BY source""".stripMargin,

    "x_mix_incremental" ->
      """WITH a AS (
        |  SELECT source, count(*) AS n_docs,
        |    sum(CASE WHEN length(trim(text)) = 0 THEN 0
        |        ELSE len(string_split_regex(trim(text), '\s+')) END) AS n_tokens,
        |    sum(n_chars) AS char_mass
        |  FROM documents WHERE doc_id % 4 <> 1 GROUP BY 1),
        |b AS (
        |  SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
        |    CAST(n_tokens AS BIGINT) AS n_tokens,
        |    CAST(char_mass AS BIGINT) AS char_mass,
        |    CAST(floor(sqrt(CAST(CAST(n_docs AS VARCHAR) AS DOUBLE))) AS BIGINT) AS sqrt_weight
        |  FROM a),
        |t AS (SELECT CAST(sum(n_docs) AS BIGINT) AS n,
        |             CAST(sum(sqrt_weight) AS BIGINT) AS s,
        |             CAST(sum(n_tokens) AS BIGINT) AS tt FROM b)
        |SELECT source, n_docs, n_tokens, char_mass,
        |  round(CAST(CAST(n_tokens AS VARCHAR) AS DOUBLE)
        |    / CAST(CAST(t.tt AS VARCHAR) AS DOUBLE), 6) AS token_share,
        |  sqrt_weight,
        |  (1000 * n_docs) // t.n AS natural_pm,
        |  (1000 * sqrt_weight) // t.s AS target_pm,
        |  (1000 * sqrt_weight * t.n) // (t.s * n_docs) AS copies_pm
        |FROM b CROSS JOIN t ORDER BY source""".stripMargin,

    "x_mix_unimax" ->
      """WITH a AS (
        |  SELECT source,
        |    CAST(sum(CASE WHEN length(trim(text)) = 0 THEN 0
        |        ELSE len(string_split_regex(trim(text), '\s+')) END) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY 1),
        |bdg AS (SELECT CAST(9 * sum(n_tokens) // 10 AS BIGINT) AS b FROM a),
        |r AS (SELECT source, n_tokens,
        |        CAST((1000 * n_tokens) // 1000 AS BIGINT) AS cap FROM a),
        |o AS (SELECT source, n_tokens, cap,
        |        row_number() OVER (ORDER BY cap, source) AS rn,
        |        CAST(COALESCE(sum(cap) OVER (ORDER BY cap, source
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS pfx,
        |        count(*) OVER () AS m
        |      FROM r),
        |k AS (SELECT min(rn) AS k FROM o, bdg
        |      WHERE cap * (m - rn + 1) >= b - pfx),
        |kk AS (SELECT o.pfx AS pk, o.m - o.rn + 1 AS rk
        |       FROM o, k WHERE o.rn = k.k),
        |f AS (SELECT source, n_tokens, cap,
        |        CASE WHEN (SELECT k FROM k) IS NULL
        |               OR rn < (SELECT k FROM k) THEN cap
        |        ELSE ((SELECT b FROM bdg) - (SELECT pk FROM kk))
        |               // (SELECT rk FROM kk)
        |          + CASE WHEN rn - (SELECT k FROM k) <
        |              ((SELECT b FROM bdg) - (SELECT pk FROM kk))
        |                % (SELECT rk FROM kk)
        |            THEN 1 ELSE 0 END
        |        END AS alloc
        |      FROM o)
        |SELECT source, n_tokens, cap AS cap_tokens,
        |  CAST(alloc AS BIGINT) AS alloc_tokens,
        |  CAST(CASE WHEN n_tokens = 0 THEN 0
        |       ELSE (1000 * alloc) // n_tokens END AS BIGINT) AS alloc_epochs_pm
        |FROM f ORDER BY source""".stripMargin,

    "x_select_quantile_incremental" -> (tokCte +
      s""", d AS (
         |  SELECT doc_id,
         |    CAST(CASE WHEN len(toks) = 0 THEN 0
         |      ELSE floor(CAST(CAST(len(list_filter(toks, t -> list_contains($enListSql, t))) AS VARCHAR) AS DOUBLE)
         |        * 1000.0 / CAST(CAST(len(toks) AS VARCHAR) AS DOUBLE)) END AS BIGINT) AS quality_pm
         |  FROM tk WHERE doc_id % 4 <> 1),
         |h AS (SELECT quality_pm, count(*) AS n FROM d GROUP BY 1),
         |t AS (SELECT CAST((250 * sum(n) + 999) // 1000 AS BIGINT) AS target FROM h),
         |c AS (SELECT quality_pm,
         |        CAST(sum(n) OVER (ORDER BY quality_pm DESC) AS BIGINT) AS cum
         |      FROM h),
         |thr AS (SELECT CAST(COALESCE(max(quality_pm), 1001) AS BIGINT) AS th
         |        FROM c, t WHERE t.target > 0 AND c.cum >= t.target)
         |SELECT d.doc_id, d.quality_pm, thr.th AS threshold_pm,
         |  d.quality_pm >= thr.th AS kept
         |FROM d CROSS JOIN thr ORDER BY doc_id""".stripMargin),

    "x_select_budget" -> (tokCte +
      s""", pd AS (
         |  SELECT doc_id,
         |    CAST(CASE WHEN len(toks) = 0 THEN 0
         |      ELSE floor(CAST(CAST(len(list_filter(toks, t -> list_contains($enListSql, t))) AS VARCHAR) AS DOUBLE)
         |        * 1000.0 / CAST(CAST(len(toks) AS VARCHAR) AS DOUBLE)) END AS BIGINT) AS q,
         |    CAST(len(toks) AS BIGINT) AS nt,
         |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 64 AS h
         |  FROM tk),
         |c AS (
         |  SELECT doc_id, q, nt,
         |    CAST(sum(nt) OVER (ORDER BY q DESC, h, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
         |  FROM pd)
         |SELECT doc_id, q AS quality, nt AS n_tokens, cum AS cum_tokens
         |FROM c WHERE cum <= 10000 ORDER BY doc_id""".stripMargin),

    "x_sample_dsir" -> sampleDsirSql,

    // the incremental model must reproduce the full-fit weights
    // EXACTLY, so its oracle is the same full-corpus SQL
    "x_dsir_incremental" -> sampleDsirSql,
    "x_multimodal_phash" ->
      """WITH h0 AS (
        |  SELECT doc_id, CAST('0x' || substr(md5(text), 1, 15) AS BIGINT) AS phash
        |  FROM documents),
        |hp AS (
        |  SELECT doc_id, phash FROM h0
        |  UNION ALL
        |  SELECT doc_id + 10000000 AS doc_id,
        |    xor(phash, CAST(1 AS BIGINT) << CAST(doc_id % 60 AS INT)) AS phash
        |  FROM h0 WHERE doc_id % 9 = 0
        |  UNION ALL
        |  SELECT doc_id + 20000000 AS doc_id,
        |    xor(phash, CAST(15 AS BIGINT) << CAST(doc_id % 57 AS INT)) AS phash
        |  FROM h0 WHERE doc_id % 11 = 0),
        |bx AS (SELECT doc_id, phash, unnest(range(0, 4)) AS b FROM hp),
        |bd AS (
        |  SELECT doc_id, phash,
        |    CAST(b AS VARCHAR) || ':' ||
        |      CAST((phash >> CAST(b * 15 AS INT)) & 32767 AS VARCHAR) AS band
        |  FROM bx),
        |p AS (
        |  SELECT DISTINCT a.doc_id AS i, b.doc_id AS j,
        |    bit_count(xor(a.phash, b.phash)) AS hamming
        |  FROM bd a JOIN bd b ON a.band = b.band AND a.doc_id < b.doc_id)
        |SELECT i, j, CAST(hamming AS BIGINT) AS hamming
        |FROM p WHERE hamming <= 3 ORDER BY i, j""".stripMargin,

    "x_bpe_tokens" -> {
      // encode replay with LENGTH-PREFIXED symbols: each symbol is
      // rendered chr(1) || '<len>:' || sym. The leading chr(1) anchors
      // the symbol start and the length field anchors its END — a
      // merge pattern for (a, b) cannot match a longer symbol that b
      // is a prefix of (the 500k-doc gate caught exactly that with
      // plain separators: merge ('w','0') falsely fired on 'w'+'00').
      // No trailing anchor is needed, so adjacent-chain replaces keep
      // the kernel's left-to-right non-overlapping semantics.
      def q(x: String) = "'" + x.replace("'", "''") + "'"
      def encSym(x: String) = s"chr(1) || ${q(s"${x.length}:$x")}"
      val charJoin =
        "array_to_string(list_transform(range(1, length(word) + 1), " +
          "i -> chr(1) || '1:' || substr(word, CAST(i AS INT), 1)), '')"
      val encoded = bpeTokenMerges.sortBy(_._1).foldLeft(charJoin) {
        case (acc, (_, a, b)) =>
          s"replace($acc, ${encSym(a)} || ${encSym(b)}, ${encSym(a + b)})"
      }
      tokCte +
        s""", wx AS (SELECT doc_id, unnest(toks) AS word FROM tk),
           |wf AS (SELECT word FROM wx WHERE length(word) > 0 GROUP BY 1),
           |enc AS (SELECT word, $encoded AS e FROM wf),
           |ns AS (
           |  SELECT word,
           |    length(e) - length(replace(e, chr(1), '')) AS nsub
           |  FROM enc),
           |d AS (
           |  SELECT wx.doc_id, count(*) AS n_words,
           |    sum(ns.nsub) AS bpe_tokens
           |  FROM wx JOIN ns USING (word) GROUP BY 1)
           |SELECT t.doc_id,
           |  CAST(coalesce(d.n_words, 0) AS BIGINT) AS n_words,
           |  CAST(coalesce(d.bpe_tokens, 0) AS BIGINT) AS bpe_tokens
           |FROM tk t LEFT JOIN d USING (doc_id) ORDER BY doc_id""".stripMargin
    },
    "x_bpe_ids" -> {
      // x_bpe_tokens' anchored encode replay, extended to ids: after
      // the merge chain, every surviving symbol is rewritten to
      // ' <vocab id>' by a second replace chain. The length-prefixed
      // chr(1) anchor makes each symbol pattern collision-free in any
      // order, and id replacements introduce no chr(1), so replaces
      // cannot feed each other. Per-token encode inside a lambda keeps
      // the doc's token ORDER from the toks list itself.
      def q(x: String) = "'" + x.replace("'", "''") + "'"
      def encSym(x: String) = s"chr(1) || ${q(s"${x.length}:$x")}"
      val charJoin =
        "array_to_string(list_transform(range(1, length(word) + 1), " +
          "i -> chr(1) || '1:' || substr(word, CAST(i AS INT), 1)), '')"
      val merged = bpeIdMerges.sortBy(_._1).foldLeft(charJoin) {
        case (acc, (_, a, b)) =>
          s"replace($acc, ${encSym(a)} || ${encSym(b)}, ${encSym(a + b)})"
      }
      val idChain = bpeIdVocab.foldLeft(merged) {
        case (acc, (id, sym)) =>
          s"replace($acc, ${encSym(sym)}, ${q(s" $id")})"
      }
      tokCte +
        s""", d AS (
           |  SELECT doc_id,
           |    array_to_string(list_transform(
           |      list_filter(toks, w -> length(w) > 0),
           |      word -> trim($idChain)), ' ') AS ids_str
           |  FROM tk)
           |SELECT doc_id,
           |  CAST(CASE WHEN ids_str = '' THEN 0
           |       ELSE len(string_split(ids_str, ' ')) END AS BIGINT) AS n_ids,
           |  ids_str
           |FROM d ORDER BY doc_id""".stripMargin
    },
    "x_bpe_byte_fallback" -> {
      // x_bpe_ids' anchored replace chain with (1) vocab ids shifted
      // +256 (byte tokens reserve 0..255), and (2) one extra replace
      // per out-of-alphabet probe code point rewriting its anchor
      // (always '1:' + the code point — both engines split chars by
      // CODE POINT, so the non-BMP owl is one symbol) to its literal
      // UTF-8 byte ids. Text is the corpus with the probe word
      // appended to every document on both sides.
      def q(x: String) = "'" + x.replace("'", "''") + "'"
      def encSym(x: String) = s"chr(1) || ${q(s"${x.length}:$x")}"
      def encCp(c: String) = s"chr(1) || ${q(s"1:$c")}"
      val charJoin =
        "array_to_string(list_transform(range(1, length(word) + 1), " +
          "i -> chr(1) || '1:' || substr(word, CAST(i AS INT), 1)), '')"
      val merged = bpeBfMerges.sortBy(_._1).foldLeft(charJoin) {
        case (acc, (_, a, b)) =>
          s"replace($acc, ${encSym(a)} || ${encSym(b)}, ${encSym(a + b)})"
      }
      val idChain = bpeBfVocab.foldLeft(merged) {
        case (acc, (id, sym)) =>
          s"replace($acc, ${encSym(sym)}, ${q(s" $id")})"
      }
      val byteChain = bpeBfUnknown.foldLeft(idChain) {
        case (acc, (c, bytes)) =>
          s"replace($acc, ${encCp(c)}, ${q(bytes.mkString(" ", " ", ""))})"
      }
      s"""WITH tk AS (
         |  SELECT doc_id,
         |    string_split_regex(trim(text || ' ' || ${q(bpeBfProbe)}),
         |      '\\s+') AS toks
         |  FROM documents),
         |d AS (
         |  SELECT doc_id,
         |    array_to_string(list_transform(
         |      list_filter(toks, w -> length(w) > 0),
         |      word -> trim($byteChain)), ' ') AS ids_str
         |  FROM tk)
         |SELECT doc_id,
         |  CAST(CASE WHEN ids_str = '' THEN 0
         |       ELSE len(string_split(ids_str, ' ')) END AS BIGINT) AS n_ids,
         |  ids_str
         |FROM d ORDER BY doc_id""".stripMargin
    },

    // the tokenizer never appears here: losslessness means decode ∘
    // encode must reproduce the tokens (concatenated — word boundaries
    // are not encoded) no matter what was learned
    "x_bpe_roundtrip" -> {
      def q(x: String) = "'" + x.replace("'", "''") + "'"
      s"""WITH tk AS (
         |  SELECT doc_id,
         |    list_filter(string_split_regex(
         |      trim(text || ' ' || ${q(bpeBfProbe)}), '\\s+'),
         |      w -> length(w) > 0) AS ws
         |  FROM documents)
         |SELECT doc_id,
         |  CAST(length(array_to_string(ws, '')) AS BIGINT) AS n_chars,
         |  array_to_string(ws, '') AS decoded
         |FROM tk ORDER BY doc_id""".stripMargin
    },

    "x_bpe_bin_ids" -> {
      // independent bin construction: per-doc ids via the anchored
      // replace chains (x_bpe_ids' trick), placement offsets via the
      // x_text_pack window, then PER-DOC bin fragments (a doc row per
      // bin it touches, carrying only ITS OWN ids list) assembled per
      // bin with an offset-ordered string_agg. The first cut built
      // each shard's whole stream once and sliced it per bin — but the
      // bin-generating unnest duplicates the parent row, so every bin
      // row carried the full multi-million-element stream list and
      // DuckDB hit allocation failure at sf1; fragments keep the
      // memory linear in the token mass.
      def q(x: String) = "'" + x.replace("'", "''") + "'"
      def encSym(x: String) = s"chr(1) || ${q(s"${x.length}:$x")}"
      val charJoin =
        "array_to_string(list_transform(range(1, length(word) + 1), " +
          "i -> chr(1) || '1:' || substr(word, CAST(i AS INT), 1)), '')"
      val merged = bpeBinMerges.sortBy(_._1).foldLeft(charJoin) {
        case (acc, (_, a, b)) =>
          s"replace($acc, ${encSym(a)} || ${encSym(b)}, ${encSym(a + b)})"
      }
      val idChain = bpeBinVocab.foldLeft(merged) {
        case (acc, (id, sym)) =>
          s"replace($acc, ${encSym(sym)}, ${q(s" $id")})"
      }
      tokCte +
        s""", d AS (
           |  SELECT doc_id,
           |    array_to_string(list_transform(
           |      list_filter(toks, w -> length(w) > 0),
           |      word -> trim($idChain)), ' ') AS ids_str
           |  FROM tk),
           |t AS (
           |  SELECT doc_id,
           |    CASE WHEN ids_str = '' THEN CAST([] AS VARCHAR[])
           |         ELSE string_split(ids_str, ' ') END AS ids,
           |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
           |      AS BIGINT) % 4 AS shard
           |  FROM d),
           |o AS (
           |  SELECT doc_id, shard, ids, len(ids) AS n,
           |    CAST(COALESCE(SUM(len(ids)) OVER (PARTITION BY shard
           |      ORDER BY doc_id
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           |      AS BIGINT) AS off
           |  FROM t),
           |spans AS (
           |  SELECT shard, ids, n, off,
           |    unnest(range(off // 64, (off + n - 1) // 64 + 1)) AS bin
           |  FROM o WHERE n > 0),
           |frag AS (
           |  SELECT shard, bin, off,
           |    list_slice(ids,
           |      CAST(greatest(1, bin * 64 - off + 1) AS BIGINT),
           |      CAST(least(n, (bin + 1) * 64 - off) AS BIGINT)) AS f
           |  FROM spans)
           |SELECT shard, CAST(bin AS BIGINT) AS bin,
           |  CAST(sum(len(f)) AS BIGINT) AS n_ids,
           |  string_agg(array_to_string(f, ' '), ' ' ORDER BY off) AS ids_str
           |FROM frag GROUP BY 1, 2 ORDER BY shard, bin""".stripMargin
    },

    "x_bpe_pairs" -> (tokCte +
      """, w AS (SELECT unnest(toks) AS word FROM tk),
        |wc AS (SELECT word, count(*) AS n FROM w WHERE length(word) > 0 GROUP BY 1),
        |px AS (SELECT word, n, unnest(range(1, length(word))) AS i FROM wc),
        |p AS (
        |  SELECT substr(word, CAST(i AS INT), 1) AS a,
        |         substr(word, CAST(i AS INT) + 1, 1) AS b, n
        |  FROM px)
        |SELECT a, b, CAST(sum(n) AS BIGINT) AS pair_count
        |FROM p GROUP BY 1, 2
        |ORDER BY pair_count DESC, a, b LIMIT 50""".stripMargin),

    "x_mix_report" ->
      """WITH a AS (
        |  SELECT source, count(*) AS n_docs,
        |    sum(CASE WHEN length(trim(text)) = 0 THEN 0
        |        ELSE len(string_split_regex(trim(text), '\s+')) END) AS n_tokens,
        |    sum(n_chars) AS char_mass
        |  FROM documents GROUP BY 1)
        |SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
        |  CAST(n_tokens AS BIGINT) AS n_tokens,
        |  CAST(char_mass AS BIGINT) AS char_mass,
        |  round(CAST(CAST(n_tokens AS VARCHAR) AS DOUBLE)
        |    / CAST(CAST((SELECT sum(n_tokens) FROM a) AS VARCHAR) AS DOUBLE), 6) AS token_share
        |FROM a ORDER BY source""".stripMargin,

    "x_mix_weights" ->
      """WITH w AS (
        |  SELECT doc_id, source,
        |    CASE source WHEN 'src13' THEN 2500 WHEN 'src8' THEN 300
        |         WHEN 'src7' THEN 0 ELSE 1000 END AS wt,
        |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 1000 AS b
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, source,
        |    CAST(wt // 1000 + CASE WHEN b < wt % 1000 THEN 1 ELSE 0 END AS BIGINT) AS copies
        |  FROM w)
        |SELECT doc_id, source, copies,
        |  unnest(generate_series(0, copies - 1)) AS copy_ix
        |FROM c WHERE copies > 0 ORDER BY doc_id, copy_ix""".stripMargin,

    "x_text_pack" -> (packPlacementCte +
      """SELECT doc_id, shard, n_tokens, token_offset,
        |  token_offset // 256 AS bin_first,
        |  CASE WHEN n_tokens = 0 THEN token_offset // 256
        |       ELSE (token_offset + n_tokens - 1) // 256 END AS bin_last,
        |  (CASE WHEN n_tokens = 0 THEN token_offset // 256
        |        ELSE (token_offset + n_tokens - 1) // 256 END)
        |    <> (token_offset // 256) AS straddles
        |FROM o ORDER BY doc_id""".stripMargin),

    "x_text_pack_bins" -> (packPlacementCte +
      """, pb AS (
        |  SELECT doc_id, shard, n_tokens, token_offset,
        |    unnest(generate_series(token_offset // 256,
        |      (token_offset + n_tokens - 1) // 256)) AS bin
        |  FROM o WHERE n_tokens > 0)
        |SELECT shard, bin, count(*) AS n_docs,
        |  CAST(sum(least(token_offset + n_tokens, bin * 256 + 256) -
        |           greatest(token_offset, bin * 256)) AS BIGINT) AS n_tokens
        |FROM pb GROUP BY shard, bin ORDER BY shard, bin""".stripMargin),

    "x_split_assign" ->
      """SELECT doc_id,
        |  CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 100 AS bucket,
        |  CASE WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 100 < 80 THEN 'train'
        |       WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 100 < 90 THEN 'val'
        |       ELSE 'test' END AS split,
        |  CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 1000 < 250 AS keep_25pct
        |FROM documents ORDER BY doc_id""".stripMargin,

    "x_skew_salted_join" ->
      """SELECT s_nationkey, count(*) AS n,
        |  CAST(CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS sum_qty
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin,

    "x_split_stratified" ->
      """SELECT doc_id, lang FROM documents
        |WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 1000
        |      < CASE WHEN lang = 'en' THEN 300 ELSE 1000 END
        |ORDER BY doc_id""".stripMargin,

    "x_cap_per_source" ->
      """WITH r AS (
        |  SELECT doc_id, source, n_chars,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY n_chars DESC, doc_id) AS cap_rank
        |  FROM documents)
        |SELECT doc_id, source, n_chars, CAST(cap_rank AS BIGINT) AS cap_rank
        |FROM r WHERE cap_rank <= 50 ORDER BY source, cap_rank""".stripMargin,

    "x_multimodal_frames" ->
      """WITH f AS (
        |  SELECT doc_id, text, CAST(length(text) AS BIGINT) AS len,
        |         CAST(length(text) % 30 + 1 AS BIGINT) AS nf
        |  FROM documents WHERE length(text) > 0),
        |g AS (SELECT *, (len + nf - 1) // nf AS csz FROM f),
        |x AS (
        |  SELECT doc_id, unnest(range(0, nf, 3)) AS frame_idx, text, csz
        |  FROM g)
        |SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx,
        |  CAST(length(substr(text, CAST(frame_idx * csz + 1 AS INT), CAST(csz AS INT))) AS BIGINT) AS frame_chars,
        |  md5(substr(text, CAST(frame_idx * csz + 1 AS INT), CAST(csz AS INT))) AS frame_md5
        |FROM x ORDER BY doc_id, frame_idx""".stripMargin)
}
