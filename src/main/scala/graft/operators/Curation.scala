package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{TextFunctions => T}

/** End-to-end training-corpus curation: the canonical pipeline a
  * 100 TB data run strings together, composed from this library's
  * operators with the provenance every stage needs downstream:
  *
  *   C4 clean → [corpus line dedup] → exact dedup → MinHash-LSH
  *   near-dedup with quality-aware survivors → [token-budget cut] →
  *   deterministic source mixing → sequence packing
  *
  * (bracketed stages optional — RefinedWeb's order: per-doc rules
  * first, then the cross-doc boilerplate those rules can't see, then
  * content dedup; the budget cut runs on the deduped corpus so copies
  * and duplicates never eat budget)
  *
  * Each stage is the already-oracle-checked operator — this object
  * adds only the composition, so the scale shape is the SUM of the
  * parts: one map-only clean pass, one hash-groupBy (exact), the
  * band equi-join (near-dup; pair-graph-sized output), a map-only
  * mix explode, and packing's single shard shuffle. Nothing here
  * introduces a new join against the corpus except the final
  * provenance re-attach (one equi-join on the instance id).
  *
  * Determinism: every stage is a pure function of (content, ids,
  * weights) — no rand(), so retries and replays agree row-for-row.
  */
object Curation {

  /** The staged frames [[curateStaged]] pinned, with deterministic
    * release: `close()` (or `unpersistStages()`) after the result's
    * consumers have run. Closing before materializing is CORRECT but
    * slow (downstream re-derives the stages — same as
    * persistStages=false); closing twice is a no-op.
    */
  final class StagedCuration(val result: DataFrame,
      stagedFrames: Seq[DataFrame]) extends AutoCloseable {
    def unpersistStages(): Unit =
      stagedFrames.foreach(_.unpersist(blocking = false))
    override def close(): Unit = unpersistStages()
  }

  /** @param mixPerMille per-source mix weight (1000 = keep, 2300 =
    *   2.3×, 400 = keep 40%); unlisted sources keep 1000
    * @param budget tokens per packed context window
    * @param nShards independent packing streams
    * @param lineDedupMaxDf when set, strip lines appearing in more
    *   than this many DISTINCT docs ([[CorpusStats.dropDuplicateLines]])
    *   after the C4 pass; docs left with no lines drop out
    * @param substringDedupN when set, remove every token covered by an
    *   N-token window occurring ≥ 2 times corpus-wide
    *   ([[Dedup.dropDuplicateSubstrings]] — the Lee et al. 2022 exact
    *   substring rewrite) after the line pass; docs stripped to
    *   nothing drop out. Line dedup catches whole-line boilerplate;
    *   this catches duplicated PASSAGES that cross line boundaries
    * @param tokenBudget when set, keep only the best-first prefix of
    *   the deduped corpus whose token sum fits
    *   ([[Sampling.tokenBudgetSelect]])
    * @param quality integer stratum column for the budget cut
    *   (evaluated against the deduped frame; default: single stratum,
    *   i.e. a fair hash-ordered cut)
    * @param persistStages persist the multiply-scanned stage frames
    *   (post-line-dedup text, the deduped survivor set, the mixed
    *   instances) at MEMORY_AND_DISK. Without it every downstream
    *   stage lazily RE-DERIVES the whole upstream chain — the deduped
    *   frame alone is consumed five times (near-dup pairs, survivor
    *   scoring, the anti join, the budget cut's three scans), each
    *   re-running C4 + line dedup + exact dedup from the source scan;
    *   measured 1.77× end-to-end at the 500k-doc decade
    *   (`bench_evidence/r11_curation_e2e_sf10z.txt`). Persisted blocks
    *   outlive the result frame (Spark has no scope-exit unpersist),
    *   so the returned [[StagedCuration]] handle owns them: close it
    *   once the outputs are materialized, and repeated runs in one
    *   session release their blocks deterministically. With
    *   persistStages=false the handle is empty and close() is a no-op.
    * @return the handle whose `result` holds one row per packed
    *   document INSTANCE: (instance_id, idCol, copy, sourceCol,
    *   clean_text, shard, n_tokens, token_offset, bin_first, bin_last,
    *   straddles)
    */
  def curateStaged(docs: DataFrame, idCol: String, textCol: String,
      sourceCol: String, mixPerMille: Map[String, Int],
      budget: Int, nShards: Int,
      shingleN: Int = 5, jaccardThreshold: Double = 0.7,
      lineDedupMaxDf: Option[Int] = None,
      substringDedupN: Option[Int] = None,
      tokenBudget: Option[Long] = None,
      quality: Column = lit(0L),
      persistStages: Boolean = false): StagedCuration = {
    require(mixPerMille.values.forall(_ < 100000),
      "mix weights above 100x break the instance-id encoding")
    val pinned = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def staged(df: DataFrame): DataFrame =
      if (persistStages) {
        val p =
          df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        pinned += p
        p
      } else df

    // 1. C4 clean: drop rule-violating lines, then rule-violating docs
    val cleaned = docs
      .withColumn("__c", T.c4Clean(col(textCol)))
      .where(!col("__c.dropped"))
      .select(col(idCol), col(sourceCol),
        col("__c.clean_text").as("clean_text"))

    // 1b. optional corpus-level line dedup: the cross-doc boilerplate
    // per-doc rules can't see; the rebuilt text replaces clean_text and
    // docs stripped to nothing drop out
    val lined = staged(lineDedupMaxDf.fold(cleaned) { k =>
      cleaned.select(col(idCol), col(sourceCol)).join(
        CorpusStats.dropDuplicateLines(cleaned, idCol, "clean_text", k)
          .where(col("n_kept") > 0)
          .select(col(idCol), col("clean_text")),
        Seq(idCol))
    })

    // 1c. optional exact duplicated-substring removal (Lee et al.
    // 2022): duplicated PASSAGES crossing line boundaries that the
    // line pass can't see. Rewritten docs carry the rebuilt
    // (whitespace-canonical) text, untouched docs keep their original
    // line structure, docs stripped to nothing drop out. Zero-token
    // docs (whitespace-only clean_text) are STAGE-INVARIANT: removal
    // can't touch them (0 windows), so they pass through exactly as
    // they do with the option off — without the n_tokens === 0 arm
    // the filter would read 0 < 0 and silently drop them here only
    val substr = staged(substringDedupN.fold(lined) { n =>
      lined.join(
        Dedup.dropDuplicateSubstrings(lined, idCol, "clean_text", n)
          .where(col("n_removed") < col("n_tokens") ||
            col("n_tokens") === 0)
          .select(col(idCol), col("n_removed"),
            col("clean_text").as("__rewritten")),
        Seq(idCol))
        .select(col(idCol), col(sourceCol),
          when(col("n_removed") > 0, col("__rewritten"))
            .otherwise(col("clean_text")).as("clean_text"))
    })

    // 2. exact dedup on the CLEANED text (cleaning canonicalizes
    // whitespace-level variants into byte-equal survivors)
    val exact = substr.join(
      Dedup.exactGroups(substr, idCol, "clean_text")
        .select(col("keep_id").as(idCol)),
      Seq(idCol), "left_semi")

    // 3. near-dedup: LSH pairs, then quality-aware survivor selection
    // (longest doc wins its cluster); unclustered docs all survive.
    // minhashDupPairs returns a PERSISTED pair set (its contract: the
    // caller owns the release) — tracked in the handle regardless of
    // persistStages
    val pairs = Dedup.minhashDupPairs(exact, idCol, "clean_text",
      n = shingleN, threshold = jaccardThreshold)
    pinned += pairs
    val losers = Dedup.survivors(pairs.select(col("i"), col("j")), exact,
        idCol, T.tokenCount(col("clean_text")))
      .where(!col("kept")).select(col(idCol))
    val deduped = staged(exact.join(losers, Seq(idCol), "left_anti"))

    // 3b. optional token-budget cut on the deduped corpus — best-first
    // prefix, so copies and duplicates never ate budget
    val budgeted = tokenBudget.fold(deduped) { b =>
      deduped.join(
        Sampling.tokenBudgetSelect(deduped, idCol, quality,
            T.tokenCount(col("clean_text")), b)
          .select(col(idCol)),
        Seq(idCol), "left_semi")
    }

    // 4. deterministic source mixing: repeat counts, then materialize
    // copies under a collision-free instance id (id · 100 + copy).
    // id · 100 is injective ONLY on [0, (Long.MaxValue − 99) / 100] —
    // negative or oversized ids would wrap mod 2⁶⁴ and silently
    // collide instance ids, so the guard rides the instance_id column
    // itself (map-only, never pruned: packing keys on it) and fails
    // the job loudly on the first out-of-domain id
    val idMax = (Long.MaxValue - 99L) / 100L
    val mixed = staged(budgeted
      .withColumn("__copies",
        Sampling.mixCopies(col(sourceCol), col(idCol), mixPerMille))
      .where(col("__copies") > 0)
      .withColumn("copy",
        explode(sequence(lit(0L), col("__copies") - 1)))
      .withColumn("instance_id",
        when(col(idCol) < 0 || col(idCol) > idMax, raise_error(concat(
            lit(s"Curation.curateStaged: doc id outside the instance-id domain [0, $idMax]: "),
            col(idCol).cast("string"))))
          .otherwise(col(idCol) * 100 + col("copy")))
      .drop("__copies"))

    // 5. sequence packing over instances; re-attach provenance with
    // the pipeline's one corpus-sized equi-join
    val placed = Packing.packPlacement(mixed, "instance_id",
      T.tokenCount(col("clean_text")), budget, nShards)
    new StagedCuration(
      placed.join(
        mixed.select(col("instance_id"), col(idCol), col("copy"),
          col(sourceCol), col("clean_text")),
        Seq("instance_id")),
      pinned.toSeq)
  }
}
