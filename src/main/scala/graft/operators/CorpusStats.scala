package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.functions.{HashFunctions => H, TextFunctions => T}

/** Corpus-relative document statistics — quality signals that need the
  * whole corpus, unlike the per-row scores in
  * [[graft.functions.TextFunctions]]. The first member is mean token
  * document-frequency: documents made of tokens few other documents
  * contain (OCR noise, codes, exotic boilerplate) score low; documents
  * of common words score high. The CCNet-style perplexity filter uses
  * the same shape (corpus model → per-doc score); df is the
  * integer-exact variant — every aggregate is a BIGINT sum, so results
  * are order-independent and engine-portable, where a floating log-sum
  * would hash-differ across partitionings.
  */
object CorpusStats {

  /** Per-document distinct-token count and mean document frequency of
    * those tokens against the corpus itself.
    *
    * Shape: explode DISTINCT tokens per doc (dedup before the explode
    * keeps a token spam-repeated inside one doc from inflating both
    * its df and the doc's own score), aggregate token → df (one
    * shuffle, map-side partial counts), join back on token (the df
    * table is vocab-sized — broadcast when it fits, shuffle join when
    * it does not; Spark's planner picks), and re-aggregate per doc
    * (second shuffle). Token-less docs (empty/null text) survive the
    * final left join with n_distinct_toks = 0 and a NULL mean.
    *
    * The input is scanned twice — once for the token explode, once for
    * the id-only left join that re-admits token-less docs. Column
    * pruning keeps the second scan to the id column; cache a projected
    * `docs` upstream if the source re-read is expensive.
    *
    * @return ONLY (idCol, n_distinct_toks, df_sum, mean_token_df) —
    *         other input columns are dropped; join the result back on
    *         idCol to re-attach them.
    */
  def meanTokenDf(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    meanTokenDfWith(docs, idCol, textCol, tokenDf(docs, idCol, textCol))

  /** The corpus-statistics half of [[meanTokenDf]], factored for
    * INCREMENTAL maintenance (same contract as [[lineDf]]): the
    * per-token distinct-document frequency table (token, token_df).
    * Per-doc dedup happens before the explode, so in-doc spam
    * repetition cannot inflate a batch's partial.
    */
  def tokenDf(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("__id"),
        explode(array_distinct(T.tokens(col(textCol)))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("token_df"))

  /** Every batch's [[tokenDf]] partial in ONE corpus pass: group by
    * (token, batch) instead of scanning the corpus once per batch.
    * `where(batch === r)` slices are byte-identical to
    * `tokenDf(docs.where(batch === r), …)` when `batch` assigns each
    * document exactly one value — MATERIALIZE the (vocab × batches)
    * result (localCheckpoint) before slicing, or each slice re-runs
    * the pass it was built to share.
    */
  def tokenDfBy(docs: DataFrame, idCol: String, textCol: String,
      batch: Column): DataFrame =
    docs.select(col(idCol).as("__id"), batch.as("batch"),
        explode(array_distinct(T.tokens(col(textCol)))).as("token"))
      .groupBy(col("token"), col("batch")).agg(count(lit(1)).as("token_df"))

  /** Additive merge of per-batch [[tokenDf]] partials — exact iff the
    * batches partition the document space (each document counted in
    * exactly one batch). Oracle-checked as `x_tokendf_incremental`
    * (merge of disjoint batches ≡ one full-corpus recompute).
    */
  def mergeTokenDf(parts: Seq[DataFrame]): DataFrame =
    mergeStats(parts, Seq("token"), Seq("token_df"))

  /** [[meanTokenDf]] against a PRECOMPUTED (e.g. incrementally
    * maintained) (token, token_df) table: score any batch of
    * documents for corpus-relative rarity against the WHOLE maintained
    * corpus without recounting it. Tokens absent from the stats table
    * contribute df 0 (maximally rare — they have never been seen),
    * unlike the self-computed form where every present token counts
    * itself at least once.
    */
  def meanTokenDfWith(docs: DataFrame, idCol: String, textCol: String,
      stats: DataFrame): DataFrame = {
    // OUTER explode: token-less docs survive as one null-token row and
    // the conditional aggregates reproduce the old join-back's shape
    // (n = 0, NULL df_sum/mean) — no second corpus scan, no doc-sized
    // join-back
    val toks = docs.select(col(idCol).as("__id"),
        explode_outer(array_distinct(T.tokens(col(textCol)))).as("__tok"))
    toks.join(
        stats.select(col("token").as("__tok"), col("token_df").as("__df")),
        Seq("__tok"), "left")
      .groupBy(col("__id"))
      .agg(count(col("__tok")).as("n_distinct_toks"),
        sum(when(col("__tok").isNotNull, coalesce(col("__df"), lit(0L))))
          .as("df_sum"))
      .select(col("__id").as(idCol),
        col("n_distinct_toks"),
        col("df_sum"),
        round(col("df_sum").cast("double") /
          col("n_distinct_toks").cast("double"), 6).as("mean_token_df"))
  }

  /** Separator for composed bigram keys. Tokens come from whitespace
    * splits, so U+0001 cannot appear inside one (same anchoring trick
    * as the BPE oracle's chr(1)-prefixed symbols).
    */
  private val BgSep = "\u0001"

  /** Ordered word-bigram occurrences (with multiplicity) of a token
    * array, as (w1, bg) structs; <2 tokens ⇒ no bigrams. The `when`
    * guard matters: a bare `sequence(1, size-1)` DESCENDS for size<2
    * and would fabricate bigrams.
    */
  private[graft] def bigramPairs(toks: Column): Column =
    when(size(toks) < 2,
        array().cast("array<struct<w1:string,bg:string>>"))
      .otherwise(transform(sequence(lit(1), size(toks) - 1), i =>
        struct(
          element_at(toks, i).as("w1"),
          concat(element_at(toks, i), lit(BgSep),
            element_at(toks, i + 1)).as("bg"))))

  /** CCNet-shaped corpus-LM quality score: train word-bigram counts on
    * a reference slice of the corpus (CCNet trains a KenLM on
    * Wikipedia; here the slice is any boolean predicate over the input,
    * e.g. `col("lang") === "en"`), then score EVERY document against
    * that model. Two signals per doc:
    *
    *  - `oov_bigram_frac` — fraction of the doc's bigram occurrences
    *    never seen in the reference slice (the OOV mass a smoothed LM
    *    would back off on; high = unlike the reference).
    *  - `lm_score` — aggregate conditional frequency
    *    Σc(w1,w2) / Σc_ctx(w1) over the doc's bigram positions, where
    *    c_ctx counts w1's occurrences AS A BIGRAM CONTEXT (left
    *    position) in the reference slice — a document's final token
    *    never serves as a context, so it never enters the denominator
    *    (a raw unigram count would slightly inflate it). This is the
    *    integer-exact stand-in for mean conditional probability:
    *    a true perplexity is a log-sum, and `log` is not an IEEE-exact
    *    op (libm implementations differ in the last ulp), so a
    *    float-summed perplexity would hash-differ across engines and
    *    partitionings. Ratio-of-exact-sums ranks predictable text high
    *    and noise low with BIGINT-only aggregation — same portability
    *    argument as [[meanTokenDf]].
    *
    * Shape at scale: one pass explodes bigram occurrences (map-only);
    * the reference model is two vocab-sized aggregates (map-side
    * partial combine) joined back on bigram/context key — Heaps-law
    * vocabulary means the model tables GROW with the corpus, so the
    * joins stay planner-chosen (broadcast when small, shuffle SMJ when
    * not; same adjudication as the rarity operator — forcing broadcast
    * would OOM the driver at 100 TB). Docs with <2 tokens survive the
    * final left join with n_bigrams = 0 and NULL scores.
    *
    * Skew: the `__w1` context join keys on raw tokens and the Zipf
    * head word carries a scale-INVARIANT ~11% of all bigram
    * occurrences (measured at 500k and 5M docs —
    * `bench_evidence/r11_bigramlm_probe_sf10z_sf100z.txt`). Locally
    * the straggler stage is a bounded 4-5× one-stage tail and the
    * wall stays linear across the decade; at cluster partition counts
    * the head partition can't shrink below that share, which is the
    * regime AQE skew-join's splitting is built for (the probe pins
    * that the setting cannot change the output; [[Salting]] is the
    * manual lever for AQE-off deployments).
    *
    * @param refPredicate boolean Column selecting the reference slice
    *                     (evaluated against `docs`' columns)
    * @return ONLY (idCol, n_bigrams, oov_bigram_frac, lm_score) —
    *         join back on idCol to re-attach other columns.
    */
  def bigramLm(docs: DataFrame, idCol: String, textCol: String,
      refPredicate: Column): DataFrame =
    bigramLmWith(docs, idCol, textCol,
      bigramCounts(docs.where(refPredicate), idCol, textCol))

  /** The trained model of [[bigramLm]], factored for INCREMENTAL
    * maintenance (same contract as [[lineDf]]/[[tokenDf]]): the
    * bigram-occurrence count table (w1, bg, n) over a reference slice.
    * ONE table is the whole model — the context denominator c(w1) is
    * the w1-grouped sum of the same counts (every bigram left position
    * is counted exactly once here), so maintaining bigram counts
    * maintains both halves of the score.
    */
  def bigramCounts(refDocs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    // tokens projected to a column FIRST: bigramPairs references the
    // array many times, and an inline split expression would re-run
    // the regex per reference (measured 10× on the corpus pass)
    refDocs.select(T.tokens(col(textCol)).as("__toks"))
      .select(explode(bigramPairs(col("__toks"))).as("__p"))
      .select(col("__p.w1").as("w1"), col("__p.bg").as("bg"))
      .groupBy(col("w1"), col("bg")).agg(count(lit(1)).as("n"))

  /** Every batch's [[bigramCounts]] partial in ONE reference pass —
    * group by (w1, bg, batch). Same materialize-before-slicing
    * contract as [[tokenDfBy]].
    */
  def bigramCountsBy(refDocs: DataFrame, textCol: String,
      batch: Column): DataFrame =
    refDocs.select(batch.as("batch"), T.tokens(col(textCol)).as("__toks"))
      .select(col("batch"), explode(bigramPairs(col("__toks"))).as("__p"))
      .select(col("__p.w1").as("w1"), col("__p.bg").as("bg"), col("batch"))
      .groupBy(col("w1"), col("bg"), col("batch"))
      .agg(count(lit(1)).as("n"))

  /** Additive merge of per-batch [[bigramCounts]] partials — exact iff
    * the batches partition the reference-document space. Plain
    * occurrence counts (no distinct), so the merge is one union + sum.
    */
  def mergeBigramCounts(parts: Seq[DataFrame]): DataFrame =
    mergeStats(parts, Seq("w1", "bg"), Seq("n"))

  /** [[bigramLm]] against a PRECOMPUTED (e.g. incrementally
    * maintained) model table: score any batch of documents without
    * re-training. The context counts c(w1) are derived from the model
    * itself (a model-sized aggregate, never a corpus pass); bigrams
    * absent from the model are OOV, exactly as in the self-trained
    * form.
    */
  def bigramLmWith(docs: DataFrame, idCol: String, textCol: String,
      model: DataFrame): DataFrame = {
    val c12 = model.select(col("bg").as("__bg"), col("n").as("__c12"))
    val c1 = model.groupBy(col("w1").as("__w1"))
      .agg(sum(col("n")).as("__c1"))
    // OUTER explode: <2-token docs survive as one null-bigram row
    // (zero/NULL aggregates below), so no second corpus scan +
    // doc-sized join-back
    val bg = docs
      .select(col(idCol).as("__id"), T.tokens(col(textCol)).as("__toks"))
      .select(col("__id"), explode_outer(bigramPairs(col("__toks"))).as("__p"))
      .select(col("__id"), col("__p.w1").as("__w1"), col("__p.bg").as("__bg"))
    bg
      .join(c12, Seq("__bg"), "left")
      .join(c1, Seq("__w1"), "left")
      .groupBy(col("__id"))
      .agg(count(col("__bg")).as("n_bigrams"),
        count(col("__c12")).as("__hits"),
        coalesce(sum(coalesce(col("__c12"), lit(0L))), lit(0L))
          .as("__c12_sum"),
        coalesce(sum(coalesce(col("__c1"), lit(0L))), lit(0L))
          .as("__c1_sum"))
      .select(col("__id").as(idCol),
        col("n_bigrams"),
        when(col("n_bigrams") === 0, lit(null))
          .otherwise(round((col("n_bigrams") - col("__hits")).cast("double") /
            col("n_bigrams").cast("double"), 6))
          .as("oov_bigram_frac"),
        when(col("__c1_sum") === 0, lit(null))
          .otherwise(round(col("__c12_sum").cast("double") /
            col("__c1_sum").cast("double"), 6))
          .as("lm_score"))
  }

  /** TRAINED character-n-gram language identification — the
    * Cavnar–Trenkle (1994) profile idea re-expressed in the
    * incremental-model trio pattern ([[lineDf]]/[[tokenDf]]/
    * [[bigramCounts]]): per-(language, char-n-gram) occurrence counts
    * over a LABELED reference slice are the whole model. This replaces
    * the heuristic stop-word scorer
    * ([[graft.functions.TextFunctions.langGuess]]) with a model that
    * learns from the corpus itself and is maintainable day-over-day
    * (additive merge, [[retractStats]] deletion, the
    * [[graft.streaming.StatsMaintenance]] store — keys (lang, gram),
    * count n).
    *
    * One map-only gram explode over the labeled slice + one
    * map-combined groupBy to a bounded table (charset^n grams ×
    * languages). Docs shorter than `n` characters contribute nothing
    * (the `length >= n` filter also guards the descending-sequence
    * hazard noted at [[bigramPairs]]).
    */
  /** Char n-gram occurrences of a projected CHAR-ARRAY column — the
    * O(len) build: `split(t, "")` walks the string once into a
    * code-point array, and `element_at` on an array is O(1), where the
    * obvious `substring(t, i, n)` transform is O(len²) per document
    * (UTF8String code-point indexing rescans the prefix on every
    * call — measured 184 s → see `r12_scale_probe_sf10z.txt` for the
    * 500k-doc before/after). Output is IDENTICAL to the substring form
    * (both index code points), which is what the DuckDB oracle
    * replays. `cs` must be a PROJECTED column, never an inline
    * `split(...)` — the lambda references it n times per element and
    * an inline expression re-evaluates per reference (the round-11
    * 10× pitfall, SCALING.md).
    */
  private def charGramsOf(cs: Column, len: Column, n: Int): Column =
    transform(sequence(lit(1), len - (n - 1)),
      i => concat((0 until n).map(k => element_at(cs, i + k)): _*))

  def langProfiles(docs: DataFrame, langCol: String, textCol: String,
      n: Int = 3): DataFrame = {
    require(n >= 1, s"n=$n")
    docs.select(col(langCol).as("lang"), col(textCol).as("__t"))
      .where(col("lang").isNotNull && length(col("__t")) >= n)
      .select(col("lang"), split(col("__t"), "").as("__cs"),
        length(col("__t")).as("__len"))
      .select(col("lang"),
        explode(charGramsOf(col("__cs"), col("__len"), n)).as("gram"))
      .groupBy(col("lang"), col("gram")).agg(count(lit(1)).as("n"))
  }

  /** Additive merge of per-batch [[langProfiles]] partials — exact iff
    * the batches partition the labeled-document space (plain
    * occurrence counts, same contract as [[mergeBigramCounts]]).
    */
  def mergeLangProfiles(parts: Seq[DataFrame]): DataFrame =
    mergeStats(parts, Seq("lang", "gram"), Seq("n"))

  /** Classify every document against a (possibly incrementally
    * maintained) [[langProfiles]] model: the predicted language is the
    * one maximizing Σ_g c(lang, g) / total(lang) over the doc's gram
    * occurrences — hit mass normalized by language profile size, the
    * integer-exact stand-in for the Cavnar–Trenkle rank-distance
    * (both sides of the ratio are BIGINT sums; the one division is
    * IEEE-exact-rounded, so scores and hence the argmax are
    * bit-identical across engines and partitionings — same
    * portability adjudication as [[bigramLm]]'s lm_score). Ties break
    * on language code ascending. A document with no gram in any
    * profile (or shorter than `n`) predicts 'und' with a NULL score.
    *
    * Shape at scale — MAP-ONLY KERNEL (round 18, succeeding the
    * round-13 model-pivot form, which had already beaten the
    * (lang, gram) join form 35.3 s vs 72.0 s at the 500k-doc decade —
    * `bench_evidence/r13_langid_pivot_probe.txt`): the vocab-bounded
    * model — the same table the pivot shipped to every executor as a
    * broadcast relation — is collected into one gram → per-language
    * count map, and every document folds its own grams in ONE
    * compiled pass ([[graft.expressions.LangGramHits]]). The pivot
    * form still exploded one row per corpus CHARACTER and re-grouped
    * them by doc — the kernel deletes that explode, the join, and the
    * doc-keyed exchange outright; the corpus is scored in a single
    * map-only scan, and the win GROWS with model language count
    * (per-gram work is |langs| array adds, no row mass anywhere).
    * The per-doc argmax is an in-row array_sort over |langs| structs
    * (score desc, language asc — same tie-break as before).
    * Language list, per-language totals and the gram map are built
    * driver-side from ONE collect of the model — model-bounded, the
    * same class as a tokenizer's merge list — so a lazy training plan
    * runs once, when the frame is built.
    *
    * Integer sums are order-independent, so the kernel fold produces
    * the SAME per-(doc, lang) hit counts — and therefore the same
    * scores and argmax — as the pivot and join forms; the swap is
    * equivalence-pinned in KernelCodegenSpec and re-gated against the
    * oracle.
    *
    * @return ONLY (idCol, n_grams, lang_pred, lang_score) — join back
    *         on idCol to re-attach other columns.
    */
  def langClassifyWith(docs: DataFrame, idCol: String, textCol: String,
      model: DataFrame, n: Int = 3): DataFrame = {
    require(n >= 1, s"n=$n")
    // a NULL count adds nothing
    val rows = collectModel("langClassifyWith", model,
      Seq("lang" -> "string", "gram" -> "string"), Seq("n")).filterNot(_.isNullAt(2))
    // an overflowing total fails; a language whose every count is NULL
    // has no mass and no total
    val totals = rows.groupMapReduce(_.getString(0))(_.getLong(2))(Math.addExact)
    require(totals.nonEmpty, "langClassifyWith: empty model")
    // lang values become output `lang_pred` literals: language codes
    // are [A-Za-z0-9_-], and anything else is a corrupt model, rejected
    // before it can reach a prediction
    val badLang = totals.keys.filterNot(_.matches("^[A-Za-z0-9_-]+$"))
    require(badLang.isEmpty,
      s"langClassifyWith: model lang value(s) ${badLang.mkString(",")} " +
        "are not valid language codes ([A-Za-z0-9_-]+) - refusing to " +
        "predict them")
    val langs = totals.keys.toSeq.sorted
    // MAP-ONLY scoring (round 18): the model — vocab-bounded, the same
    // table the round-13 pivot already shipped to every executor as a
    // broadcast hash relation — is COLLECTED into one gram → per-lang
    // count map, and each document folds its own grams in ONE compiled
    // kernel pass ([[graft.expressions.LangGramHits]]): no corpus
    // char-gram explode (≈ one row per character of the corpus
    // existed only to sum |langs| map lookups), no join, and no
    // doc-keyed exchange — the one corpus-mass shuffle this query had
    // left. Kernel semantics (too-short/empty docs → n_grams 0 with
    // NULL hits; un-modeled grams count toward n_grams but add no hit
    // mass; hits all-or-nothing like the left join + na.fill pivot)
    // are documented and equivalence-pinned in KernelCodegenSpec; the
    // r17 interpreted-HOF form of this idea lost 45% — the compiled
    // fold is the shape that wins (VERDICT r17 item 2).
    val langIdx = langs.zipWithIndex.toMap
    val gramMap = new java.util.HashMap[
      org.apache.spark.unsafe.types.UTF8String, Array[Long]]()
    rows.foreach { r =>
      val i = langIdx(r.getString(0))
      val g = org.apache.spark.unsafe.types.UTF8String.fromString(r.getString(1))
      var a = gramMap.get(g)
      if (a == null) { a = new Array[Long](langs.size); gramMap.put(g, a) }
      a(i) += r.getLong(2) // duplicate (lang, gram) rows sum, as the pivot did
    }
    val sums = docs.select(col(idCol).as("__id"),
        // coalesce: a NULL text scored as n_grams 0 / 'und' before
        // (split(NULL) → NULL → the otherwise(array()) arm) — "" takes
        // the same too-short path through the kernel
        graft.expressions.LangGramHits.hits(
          coalesce(col(textCol), lit("")), n, langs.size, gramMap).as("__lh"))
      .select(col("__id") +:
        col("__lh.n_grams").as("n_grams") +:
        langs.indices.map(i =>
          col("__lh.hits").getItem(i).as(s"__h_$i")): _*)
    val scored = langs.indices.foldLeft(sums) { (df, i) =>
      df.withColumn(s"__s_$i",
        col(s"__h_$i").cast("double") / lit(totals(langs(i))).cast("double"))
    }
    val arr = array(langs.indices.map(i =>
      struct(col(s"__s_$i").as("s"), lit(langs(i)).as("lang"))): _*)
    val cmp = (a: Column, b: Column) =>
      when(a.getField("s") > b.getField("s"), -1)
        .when(a.getField("s") < b.getField("s"), 1)
        .when(a.getField("lang") < b.getField("lang"), -1)
        .when(a.getField("lang") > b.getField("lang"), 1)
        .otherwise(0)
    // a doc with NO model hit has every __h_i NULL (all-or-nothing:
    // one hit row fills every pivot column via na.fill(0)) — it
    // predicts 'und' with a NULL score, as before
    scored.withColumn("__best",
        element_at(array_sort(arr, cmp), 1))
      .select(col("__id").as(idCol),
        col("n_grams"),
        when(col("__h_0").isNull, lit("und"))
          .otherwise(col("__best.lang")).as("lang_pred"),
        round(when(col("__h_0").isNull, lit(null))
          .otherwise(col("__best.s")), 6).as("lang_score"))
  }

  /** BM25-shaped lexical scoring of a fixed keyword query against every
    * document — the exact-term complement to the embedding ANN family.
    * Deviation from textbook BM25, on purpose: the IDF is the RATIO
    * `(N − df + 0.5) / (df + 0.5)` rather than its logarithm — `log`
    * is a libm call that can differ in the last ulp across engines,
    * while +, ×, / are IEEE-exact-rounded, so this form is
    * bit-reproducible anywhere (same adjudication as [[bigramLm]]).
    * Rankings agree with log-BM25 whenever a single term dominates;
    * multi-term blends weight rare terms more steeply (documented).
    *
    * The per-document term-frequency normalization is standard:
    * `tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))`.
    *
    * Scale shape: terms are a FIXED literal list (≤ 16), so per-doc
    * term frequencies are map-only array filters — no explode, no
    * (doc, term) shuffle. Corpus statistics (N, Σdl, per-term df) are
    * ONE aggregate row broadcast back; the score is a fixed expression
    * tree summed in term order (no aggregation-order nondeterminism).
    * Two corpus scans total (the stats pass and the scoring pass —
    * stateless recompute, same shape note as [[meanTokenDf]]) + a
    * 1-row broadcast; no shuffle touches the corpus.
    *
    * @return (idCol, dl, n_hits, score) for docs matching ≥ 1 term,
    *         score rounded to 6 — order by (score DESC, idCol) for a
    *         deterministic top-k.
    */
  def bm25Scores(docs: DataFrame, idCol: String, textCol: String,
      terms: Seq[String], k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty && terms.size <= 16, s"1..16 terms, got ${terms.size}")
    require(terms.distinct == terms, "duplicate query terms")
    val toks = docs.select(col(idCol).as("__id"),
        T.tokens(col(textCol)).as("__t"))
      .withColumn("__dl", size(col("__t")).cast("long"))
    val tfs = terms.indices.foldLeft(toks) { (d, ix) =>
      d.withColumn(s"__tf$ix",
        size(filter(col("__t"), x => x === lit(terms(ix)))).cast("long"))
    }
    val aggs = Seq(count(lit(1)).as("__n"), sum(col("__dl")).as("__sdl")) ++
      terms.indices.map(ix =>
        sum(when(col(s"__tf$ix") > 0, 1L).otherwise(0L)).as(s"__df$ix"))
    val stats = tfs.agg(aggs.head, aggs.tail: _*)
    val avgdl = col("__sdl").cast("double") / col("__n").cast("double")
    def term(ix: Int): Column = {
      val tf = col(s"__tf$ix").cast("double")
      val idf = (col("__n").cast("double") - col(s"__df$ix").cast("double")
        + 0.5) / (col(s"__df$ix").cast("double") + 0.5)
      idf * (tf * lit(k1 + 1.0) /
        (tf + lit(k1) * (lit(1.0 - b) +
          lit(b) * (col("__dl").cast("double") / avgdl))))
    }
    tfs.crossJoin(broadcast(stats))
      .withColumn("n_hits", terms.indices
        .map(ix => when(col(s"__tf$ix") > 0, 1L).otherwise(0L))
        .reduce(_ + _))
      .where(col("n_hits") > 0)
      .select(col("__id").as(idCol), col("__dl").as("dl"), col("n_hits"),
        round(terms.indices.map(term).reduce(_ + _), 6).as("score"))
  }

  /** RefinedWeb/CCNet-style corpus-level line deduplication: drop every
    * line whose trimmed form appears in more than `maxDocFreq` DISTINCT
    * documents (nav menus, cookie banners, copyright footers — the
    * boilerplate that survives per-doc rules because each document
    * contains it only once), and reassemble each document's surviving
    * lines in their original order. Blank lines are exempt — they carry
    * structure, not boilerplate, and counting them would make one
    * corpus-wide key of the empty string.
    *
    * This is the corpus-statistics-driven sibling of the per-doc line
    * rules in [[graft.functions.TextFunctions.c4Clean]]: C4 judges a
    * line by its own content; this judges it by how many OTHER
    * documents repeat it.
    *
    * Shape at scale: one map-only posexplode into (doc, ix, line), one
    * distinct-doc count per line key (partial-aggregated two-phase
    * count-distinct), one join back on the line key (Heaps-law line
    * vocabulary — planner-chosen broadcast vs SMJ, same adjudication as
    * [[meanTokenDf]]), one re-aggregation by doc. Reassembly sorts each
    * doc's surviving (ix, line) structs INSIDE the row (`array_sort`
    * after `collect_list`), so the output is deterministic under any
    * partitioning or shuffle order.
    *
    * @return ONLY (idCol, n_lines, n_kept, clean_text) — a doc whose
    *         every line is boilerplate survives with n_kept = 0 and
    *         clean_text = "".
    */
  def dropDuplicateLines(docs: DataFrame, idCol: String, textCol: String,
      maxDocFreq: Int): DataFrame =
    dropDuplicateLinesWith(docs, idCol, textCol,
      lineDf(docs, idCol, textCol), maxDocFreq)

  /** The corpus statistics half of [[dropDuplicateLines]], factored
    * out so it can be maintained INCREMENTALLY: the per-line
    * distinct-document frequency table (line_key, line_df) over every
    * trimmed non-blank line. One map-only posexplode + one two-phase
    * count-distinct — Heaps-law-sized output (the line vocabulary).
    *
    * This is the reference's whole design ethos (hash gates,
    * watermarks — incremental state, never full recompute) applied to
    * corpus curation: compute [[lineDf]] per ingestion batch, fold new
    * days in with [[mergeLineDf]], and gate documents against the
    * maintained table with [[dropDuplicateLinesWith]] — no 100 TB
    * recount to admit one day's data.
    */
  def lineDf(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("__id"),
        explode(split(col(textCol), "\n")).as("__line"))
      .select(col("__id"), trim(col("__line")).as("line_key"))
      .where(col("line_key") =!= "")
      .groupBy(col("line_key"))
      .agg(countDistinct(col("__id")).as("line_df"))

  /** Every batch's [[lineDf]] partial in ONE corpus pass — group by
    * (line_key, batch); per-batch distinct-doc counts stay exact
    * because a document carries exactly one batch value. Same
    * materialize-before-slicing contract as [[tokenDfBy]].
    */
  def lineDfBy(docs: DataFrame, idCol: String, textCol: String,
      batch: Column): DataFrame =
    docs.select(col(idCol).as("__id"), batch.as("batch"),
        explode(split(col(textCol), "\n")).as("__line"))
      .select(col("__id"), col("batch"), trim(col("__line")).as("line_key"))
      .where(col("line_key") =!= "")
      .groupBy(col("line_key"), col("batch"))
      .agg(countDistinct(col("__id")).as("line_df"))

  /** Additive merge of per-batch [[lineDf]] partials — one union +
    * one sum per line key. EXACT precondition: the batches must
    * PARTITION the document space (every document in exactly one
    * batch — the natural shape of daily ingestion), so per-batch
    * distinct-doc counts add without overlap. Pinned
    * merge ≡ full recompute in `CurationSpec` and oracle-checked as
    * `x_linedf_incremental`. OPERATING the fold under streaming
    * delivery needs replay protection — foreachBatch is at-least-once
    * and a re-delivered batch would double-count — so the production
    * loop is [[graft.streaming.StatsMaintenance]] (persisted batch-id
    * watermark + atomic versioned publish), not a bare fold.
    */
  def mergeLineDf(parts: Seq[DataFrame]): DataFrame =
    mergeStats(parts, Seq("line_key"), Seq("line_df"))

  /** Additive merge, generic over the incremental family's shapes —
    * the positive dual of [[retractStats]]: union the partials and sum
    * every count column per key. Every named merge
    * ([[mergeLineDf]], [[mergeTokenDf]], [[mergeBigramCounts]],
    * [[mergeLangProfiles]], [[Sampling.mergeDsirModel]]) is this call
    * with its shape's columns, and the replay-safe maintenance store
    * ([[graft.streaming.StatsMaintenance]]) folds every maintained
    * shape through it. Exact iff the partials' underlying document
    * sets are disjoint.
    */
  def mergeStats(parts: Seq[DataFrame], keys: Seq[String],
      counts: Seq[String]): DataFrame = {
    require(parts.nonEmpty, "mergeStats: no partials")
    require(keys.nonEmpty && counts.nonEmpty, "mergeStats: empty spec")
    val cols = (keys ++ counts).map(col)
    val aggs = counts.map(c => sum(col(c)).as(c))
    parts.map(_.select(cols: _*)).reduce(_.unionByName(_))
      .groupBy(keys.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Collects a model table for a map-only kernel that folds it on the
    * driver ([[Sampling.dsirWeightsWith]], [[countMinEstimateMapOnly]],
    * [[langClassifyWith]]): each key column cast to its type, then each
    * count column cast to BIGINT, in ONE `collect()`. A NULL key fails
    * naming `op` and the column; a NULL count is left for the caller to
    * skip. Duplicate keys are the caller's rule.
    */
  private[graft] def collectModel(op: String, model: DataFrame,
      keys: Seq[(String, String)], counts: Seq[String]): Array[Row] = {
    val rows = model.select(keys.map { case (c, t) => col(c).cast(t) } ++
      counts.map(col(_).cast("long")): _*).collect()
    for (r <- rows; ((c, _), i) <- keys.zipWithIndex)
      require(!r.isNullAt(i), s"$op: model column $c is NULL in a row")
    rows
  }

  /** RETRACT a batch's partial from a maintained additive stats table
    * — the decrement dual of [[mergeLineDf]]/[[mergeTokenDf]]/
    * [[mergeBigramCounts]] (and [[Sampling.mergeDsirModel]]): the
    * data-deletion story for incrementally maintained corpus
    * statistics. Exact under the same precondition as the merges — the
    * retracted partial must be one of the DISJOINT batches the table
    * was built from (recompute it over exactly the documents being
    * deleted). Keys whose every count reaches zero drop out; a
    * negative count can only mean the precondition was violated (the
    * partial counts documents the table never absorbed), so the job
    * fails loudly via raise_error instead of shipping a corrupt table.
    *
    * Generic over the family's shapes: pass the key column(s) and the
    * additive count column(s) — (line_key → line_df),
    * (token → token_df), (w1, bg → n), (bucket → tgt_n, raw_n).
    */
  def retractStats(stats: DataFrame, part: DataFrame,
      keys: Seq[String], counts: Seq[String]): DataFrame = {
    require(keys.nonEmpty && counts.nonEmpty, "retractStats: empty spec")
    val cols = (keys ++ counts).map(col)
    val negated = part.select(
      (keys.map(col) ++ counts.map(c => (-col(c)).as(c))): _*)
    val aggs = counts.map(c => sum(col(c)).as(c))
    val merged = stats.select(cols: _*).unionByName(negated)
      .groupBy(keys.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
    val guarded = counts.foldLeft(merged) { (df, c) =>
      df.withColumn(c, when(col(c) < 0, raise_error(concat(
          lit(s"retractStats: count '$c' went negative for key "),
          concat_ws("/", keys.map(k => col(k).cast("string")): _*),
          lit(" - the retracted partial is not a constituent batch"))))
        .otherwise(col(c)))
    }
    guarded.where(counts.map(c => col(c) > 0).reduce(_ || _))
  }

  /** [[dropDuplicateLines]] against a PRECOMPUTED (e.g. incrementally
    * maintained) stats table of (line_key, line_df).
    * `dropDuplicateLinesWith(docs, …, lineDf(docs, …), k)` ≡
    * `dropDuplicateLines(docs, …, k)` by construction; with a MERGED
    * table the gate judges lines against the whole maintained corpus,
    * not just the batch in hand.
    */
  def dropDuplicateLinesWith(docs: DataFrame, idCol: String,
      textCol: String, stats: DataFrame, maxDocFreq: Int): DataFrame = {
    require(maxDocFreq >= 1, s"maxDocFreq=$maxDocFreq")
    // `split` never yields an empty array, so every doc survives the
    // posexplode and ONE aggregate computes n_lines (all rows), n_kept
    // and the rebuild (keep-predicate folded into the aggregates as
    // conditional counts/collects) — the former where + second corpus
    // scan + doc-sized join-back are gone, same output by construction
    val lines = docs.select(col(idCol).as("__id"),
        posexplode(split(col(textCol), "\n")).as(Seq("__ix", "__line")))
      .withColumn("__k", trim(col("__line")))
    val keep = col("__k") === "" || col("__df").isNull ||
      col("__df") <= maxDocFreq
    lines
      .join(stats.select(col("line_key").as("__k"),
        col("line_df").as("__df")), Seq("__k"), "left")
      .groupBy(col("__id"))
      .agg(count(lit(1)).as("n_lines"),
        count(when(keep, lit(1))).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(when(keep,
            struct(col("__ix"), col("__line"))))),
          s => s.getField("__line")), "\n").as("clean_text"))
      .select(col("__id").as(idCol), col("n_lines"), col("n_kept"),
        col("clean_text"))
  }

  /** Exact token OCCURRENCE counts — (token, n), every occurrence
    * counted (unlike [[tokenDf]]'s per-document distinct). This is the
    * SIXTH maintained shape: additive over disjoint batches (fold with
    * [[mergeStats]], `keys = Seq("token"), counts = Seq("n")`, or
    * [[graft.streaming.StatsMaintenance.start]] for the crash-safe
    * loop), Heaps-law-sized — it grows with the true vocabulary, where
    * the [[countMinSketch]] stays `depth·width` forever. Maintaining
    * BOTH is what makes [[heavyHittersOverStream]]'s whole-stream
    * answer exact AND sliver-priced: the sketch screens, this table
    * confirms. Oracle-checked as `x_sketch_heavy_stream` (maintained
    * counts + sketch ≡ plain threshold count over the union).
    */
  def tokenCounts(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(T.tokens(col(textCol))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("n"))

  /** Every batch's [[tokenCounts]] partial in ONE corpus pass — group
    * by (token, batch). Same materialize-before-slicing contract as
    * [[tokenDfBy]]; the full-corpus table is the slices' per-token sum.
    */
  def tokenCountsBy(docs: DataFrame, textCol: String,
      batch: Column): DataFrame =
    docs.select(batch.as("batch"),
        explode(T.tokens(col(textCol))).as("token"))
      .groupBy(col("token"), col("batch")).agg(count(lit(1)).as("n"))

  /** Per-source corpus-composition tallies — the SEVENTH maintained
    * shape, and the one the SELECTION family consumes: doc count,
    * token mass, and character mass per source, additive over disjoint
    * batches (fold with [[mergeStats]], `keys = Seq("source"),
    * counts = Seq("n_docs", "n_tokens", "char_mass")`, or
    * [[graft.streaming.StatsMaintenance.start]] for the crash-safe
    * loop; delete a day with [[retractStats]] — a source whose every
    * count empties vanishes). Unlike the Heaps-law-sized vocabulary
    * shapes this table is bounded at the SOURCE cardinality (tens to
    * thousands of rows at 100 TB), so every downstream consumer —
    * [[graft.operators.Sampling.mixPlanWith]]'s temperature shares and
    * mix report, and any budget split keyed on source mass — reads a
    * broadcast-sized table instead of rescanning the corpus.
    * Oracle-checked as `x_mix_incremental` (fold 4 batches + retract
    * one ≡ plain recompute over the surviving documents, through the
    * whole mix-planning consumer).
    *
    * Scale shape per fold: one map-side-combined groupBy of the BATCH
    * to source cardinality; the merge unions two source-sized tables.
    * The corpus is never rescanned.
    */
  def sourceTallies(docs: DataFrame, sourceCol: String, textCol: String,
      charsCol: String): DataFrame =
    docs.groupBy(col(sourceCol).as("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(T.tokenCount(col(textCol)).cast("long")).as("n_tokens"),
        sum(col(charsCol).cast("long")).as("char_mass"))

  /** Every batch's [[sourceTallies]] partial in ONE corpus pass —
    * group by (source, batch). Same materialize-before-slicing
    * contract as [[tokenDfBy]].
    */
  def sourceTalliesBy(docs: DataFrame, sourceCol: String, textCol: String,
      charsCol: String, batch: Column): DataFrame =
    docs.groupBy(col(sourceCol).as("source"), batch.as("batch"))
      .agg(count(lit(1)).as("n_docs"),
        sum(T.tokenCount(col(textCol)).cast("long")).as("n_tokens"),
        sum(col(charsCol).cast("long")).as("char_mass"))

  /** Count-min sketch (Cormode & Muthukrishnan, J. Algorithms '05)
    * over token OCCURRENCES: a `depth × width` counter table where row
    * d counts tokens by the d-th member of the portable seeded hash
    * family ([[graft.functions.HashFunctions.seeded]], so the DuckDB
    * oracle reproduces every bucket bit-for-bit). The estimate for any
    * token — min over rows of its bucket's counter — never
    * underestimates and overestimates only by hash collisions (with
    * probability ≤ e^-depth by more than e·N/width), which is what
    * makes frequency queries affordable when the true vocabulary is
    * too big to keep: the sketch is `depth·width` rows FOREVER,
    * independent of corpus size.
    *
    * Scale shape: the corpus pays ONE token aggregate (map-side
    * partial counts, one shuffle to the Heaps-law-sized vocabulary
    * table); the ×depth explode and the (d, bucket) fold run on the
    * vocab-sized table, never the corpus.
    *
    * The sketch is ADDITIVE — counters of disjoint batches sum — so it
    * is the fifth maintained shape: fold per-batch sketches through
    * [[mergeStats]] with `keys = Seq("d", "bucket"), counts = Seq("n")`
    * (or [[graft.streaming.StatsMaintenance.start]] for the
    * crash/replay-safe loop), and the maintained sketch is EXACTLY the
    * one-pass sketch of the union — unlike the exact token-df table it
    * can absorb an unbounded stream in fixed space.
    *
    * @return (d: int, bucket: long, n: long) — one row per NON-EMPTY
    *         counter (absent ⇒ 0, as [[countMinEstimateMapOnly]] reads it)
    */
  def countMinSketch(docs: DataFrame, textCol: String, depth: Int,
      width: Int): DataFrame =
    countMinSketchOf(tokenCounts(docs, textCol), depth, width)

  /** [[countMinSketch]] from an ALREADY-AGGREGATED (token, n) table —
    * the vocab-sized half, factored so callers that maintain exact
    * token counts anyway (e.g. per-batch [[tokenCountsBy]] partials)
    * build the sketch without a second corpus tokenization.
    */
  def countMinSketchOf(tokCnt: DataFrame, depth: Int,
      width: Int): DataFrame = {
    require(depth >= 1 && width >= 2, s"countMinSketchOf($depth, $width)")
    val base = H.md5Mod(col("token"))
    tokCnt
      .select(col("n"), posexplode(array(
        (0 until depth).map(i => H.seeded(base, i) % width): _*))
        .as(Seq("d", "bucket")))
      .groupBy(col("d"), col("bucket"))
      .agg(sum(col("n")).as("n"))
  }

  /** Point-estimate token frequencies against a (maintained)
    * [[countMinSketch]] table: `est(t) = min_d sketch[d][h_d(t)]`,
    * with an absent counter reading 0 (the token family hashed there
    * was never seen) and a NULL probe token estimating 0.
    * `depth`/`width` MUST match the sketch's build — they are the
    * model's geometry, exactly like a tokenizer's merge list.
    *
    * Scale shape: the sketch — bounded at depth·width counters by
    * construction, count-min's whole contract — is COLLECTED once and
    * `est(t)` evaluates per probe row inside the compiled
    * [[graft.expressions.CountMinEstimate]] kernel: map-only, no
    * ×depth explode, no join, no re-aggregation. The corpus is never
    * touched. Duplicate (d, bucket) sketch rows sum, the additive
    * [[mergeStats]] reading; a NULL count adds nothing; rows outside
    * the declared geometry fail loudly (a foreign sketch must never
    * silently mis-bucket).
    *
    * @param tokens probe table; `tokenCol` is consumed, other columns
    *               pass through untouched, and the output has one row
    *               per input row (duplicate probe rows are NOT
    *               collapsed). The name `n_est` is rejected loudly.
    * @return input columns + (n_est: long)
    */
  def countMinEstimateMapOnly(tokens: DataFrame, tokenCol: String,
      sketch: DataFrame, depth: Int, width: Int): DataFrame = {
    require(depth >= 1 && width >= 2, s"countMinEstimateMapOnly($depth, $width)")
    require(!tokens.columns.contains("n_est"),
      "countMinEstimateMapOnly: probe column n_est clashes with the output")
    val counters = new Array[Long](depth * width)
    collectModel("countMinEstimateMapOnly", sketch,
        Seq("d" -> "int", "bucket" -> "long"), Seq("n"))
      .foreach { r =>
        val (d, b) = (r.getInt(0), r.getLong(1))
        require(d >= 0 && d < depth && b >= 0 && b < width,
          s"sketch row outside geometry depth=$depth width=$width: d=$d bucket=$b")
        // a NULL count adds nothing, as the join's sum skipped it
        if (!r.isNullAt(2)) counters(d * width + b.toInt) += r.getLong(2)
      }
    tokens.withColumn("n_est", coalesce(
      graft.expressions.CountMinEstimate.est(col(tokenCol), depth, width,
        counters), lit(0L)))
  }

  /** Heavy hitters through the sketch — the count-min's canonical
    * composition, from an ALREADY-AGGREGATED exact (token, n) table
    * ([[tokenCounts]]): SCREEN every token against a (maintained)
    * [[countMinSketch]] (`n_est ≥ threshold` — no false NEGATIVES,
    * since est ≥ exact always), then confirm with the table's own exact
    * count, in one vocab-sized map-only filter.
    *
    * CONTRACT SCOPE — same-corpus only: both the screen AND the exact
    * confirm read `tokCnt`, so the output is heavy-hitters OF the
    * corpus `tokCnt` counts (with the sketch merely pruning). Screening
    * against an ALL-HISTORY maintained sketch does NOT find tokens
    * heavy over the whole stream: a token heavy historically but light
    * in `tokCnt` passes the screen and is then confirmed OUT by the
    * batch-local `n ≥ threshold`. For the honest whole-stream
    * composition — history screen + exact confirm that sums maintained
    * all-history counts with the batch's — use
    * [[heavyHittersOverStream]].
    *
    * @return (token, n) with the EXACT count, only rows with
    *         n ≥ threshold — false positives from sketch collisions
    *         are removed by the confirm, so the output equals the
    *         plain `HAVING n ≥ threshold` on any input
    */
  def heavyHittersWithCounts(tokCnt: DataFrame, sketch: DataFrame,
      depth: Int, width: Int, threshold: Long): DataFrame = {
    require(threshold >= 1, s"threshold=$threshold")
    // map-only screen (round 18): the input is an aggregated (token, n)
    // table — distinct by construction — so the collapsing join form
    // and the compiled-kernel form are identical, minus one vocab-sized
    // exchange and the ×depth explode
    countMinEstimateMapOnly(tokCnt, "token", sketch, depth, width)
      .where(col("n_est") >= threshold && col("n") >= threshold)
      .select(col("token"), col("n"))
  }

  /** Heavy hitters OVER THE WHOLE STREAM — the honest all-history
    * composition [[heavyHittersWithCounts]]'s contract deliberately excludes.
    * Requires BOTH maintained shapes: the all-history
    * [[countMinSketch]] (`sketch`, fixed `depth·width` space) and the
    * all-history exact [[tokenCounts]] table (`history`, Heaps-sized).
    * Output: every token whose occurrence count over history ∪ `docs`
    * reaches `threshold`, with that EXACT total.
    *
    * Why candidates-only maintained counts can NOT replace `history`
    * (the tempting "seventh tiny shape"): the sketch estimate is
    * monotone in the stream, so a token whose true total first crosses
    * `threshold` at batch k had est < threshold at batches 1..k-1 —
    * any store that starts counting a token only once it screens in
    * has already lost up to threshold−1 of its occurrences, and the
    * final exact confirm turns that loss into a FALSE NEGATIVE. Exact
    * whole-stream heaviness needs counts from every token's FIRST
    * occurrence; fixed-space screening and exact confirmation are
    * therefore two different stores, composed here.
    *
    * What the sketch buys when the exact table exists anyway: the
    * BATCH side's join against the Heaps-sized history is thinned to
    * the candidate sliver before it happens. No-false-negative screen:
    * for a batch token, `est_hist + n_batch ≥ n_hist + n_batch =
    * n_total`; tokens heavy from history alone (possibly absent in
    * `docs`) come from an exact map-only filter of `history`. The
    * confirm unions the two slivers and sums — one sliver-sized
    * shuffle; the history table is scanned (filter + semi-join, both
    * map-side with the broadcast candidate list) but never shuffled,
    * and the batch pays one O(batch) aggregate.
    *
    * REGIME BOUND, probed (`bench_evidence/r15_heavy_sliver_probe.txt`):
    * the sliver shape above holds while the candidate list
    * broadcasts. An adversarially LOW threshold makes the candidate
    * set approach the vocabulary — at a planted 22M-candidate point
    * (every history token heavy) AQE
    * re-plans every semi-join as an ordinary shuffled join, which
    * completes EXACTLY with no hot key and no OOM (tokens are
    * well-distributed keys; nothing concentrates per task, unlike the
    * convicted round-14 window thinning). The cost shape just stops
    * being sliver-priced: the history shuffles once, and a plain
    * `tokenCounts(history ∪ docs)` recompute is ~4× cheaper at that
    * point — if thresholds near `min(n)` of the vocabulary are the
    * workload, skip the screen and recompute.
    *
    * @param history maintained exact (token, n) over everything folded
    *                so far — [[tokenCounts]] partials merged
    * @param sketch  maintained [[countMinSketch]] over the SAME folded
    *                history (not including `docs`)
    * @return (token, n) with the exact history ∪ docs count, only rows
    *         with n ≥ threshold — equals the plain
    *         `HAVING count ≥ threshold` over the union corpus
    */
  def heavyHittersOverStream(docs: DataFrame, textCol: String,
      history: DataFrame, sketch: DataFrame, depth: Int, width: Int,
      threshold: Long): DataFrame =
    heavyHittersOverStreamCounts(tokenCounts(docs, textCol), history,
      sketch, depth, width, threshold)

  /** [[heavyHittersOverStream]] from the batch's ALREADY-AGGREGATED
    * exact (token, n) table — for callers whose fold already computed
    * it (e.g. a [[tokenCountsBy]] slice), saving the batch
    * tokenization. Identical composition from there on.
    */
  def heavyHittersOverStreamCounts(batch: DataFrame,
      history: DataFrame, sketch: DataFrame, depth: Int, width: Int,
      threshold: Long): DataFrame = {
    require(threshold >= 1, s"threshold=$threshold")
    // map-only screen (round 18): `batch` is an aggregated (token, n)
    // table — see heavyHittersWithCounts
    val batchCands = countMinEstimateMapOnly(batch, "token", sketch,
        depth, width)
      .where(col("n_est") + col("n") >= threshold)
      .select(col("token"))
    val histHeavy = history.where(col("n") >= threshold)
      .select(col("token"))
    val cands = batchCands.union(histHeavy).distinct()
    history.select(col("token"), col("n"))
      .join(cands, Seq("token"), "left_semi")
      .unionByName(batch.join(cands, Seq("token"), "left_semi"))
      .groupBy(col("token")).agg(sum(col("n")).as("n"))
      .where(col("n") >= threshold)
  }
}
