package graft.queries

import graft.SparkSpec

/** Plan-shape audit: the properties that make these queries survive a
  * 100 TB scale-up, asserted against the actual physical plans so a
  * regression (lost pushdown, broadcast degraded to shuffle, partial
  * aggregation disappearing) fails CI — not just a slower benchmark.
  */
class PlanAuditSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String = {
    val q = graft.SparkEntry.queries(name)
    q(spark, dir).queryExecution.executedPlan.toString
  }

  test("point lookup pushes the key predicate into the parquet scan (S4)") {
    val p = plan("s4_point_lookup")
    assert(p.contains("PushedFilters: [IsNotNull(c_custkey), EqualTo(c_custkey,42)]"),
      s"predicate not pushed:\n$p")
    // column pruning: only the three selected columns are read
    assert(p.contains("ReadSchema") && !p.contains("c_acctbal"),
      "scan reads columns the query never uses")
  }

  test("q1 aggregates map-side before the shuffle (partial aggregation)") {
    val p = plan("q1_pricing_summary")
    assert(p.contains("partial_sum") || p.contains("Partial"),
      s"no partial aggregation before exchange:\n$p")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"),
      "shipdate filter not pushed to scan")
    assert(!p.contains("l_orderkey"), "scan reads pruned column")
  }

  test("q5 joins dimensions via broadcast, not shuffle (6-table join)") {
    val p = plan("q5_local_supplier_volume")
    assert(p.contains("BroadcastHashJoin"), s"dimension joins must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), "no cartesian products allowed")
  }

  test("bridge resolve keeps the explicit broadcast hash join (K5/J1)") {
    val p = plan("k5_explode_bridge")
    assert(p.contains("BroadcastHashJoin"), s"employee dim join must broadcast:\n$p")
  }

  test("minhash-LSH candidate generation is an equi-join on the band key") {
    val p = plan("x_dedup_minhash_lsh")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"LSH candidates must come from hash buckets, not cross products:\n$p")
  }

  test("LSH-bucketed ANN joins on the bucket id (hash join, no cross product)") {
    val p = plan("x_sim_topk_lsh")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"),
      s"bucket join must be an equi-join:\n$p")
    assert(!p.contains("CartesianProduct"), "no cartesian product")
  }

  test("split assignment is map-only: no shuffle before the output sort") {
    val p = plan("x_split_assign")
    // exactly one Exchange — the final ORDER BY's range partitioning;
    // the hash/split/keep computation itself must not shuffle
    val exchanges = "(?i)exchange".r.findAllIn(p).size
    assert(exchanges <= 1, s"hash-based assignment must be a pure map:\n$p")
  }

  test("source mixing is map-only: hash repeat counts, explode, no shuffle") {
    val p = plan("x_mix_weights")
    // exactly one Exchange — the final ORDER BY's range partitioning;
    // the weight lookup + copy explode must not shuffle
    val exchanges = "(?i)exchange".r.findAllIn(p).size
    assert(exchanges <= 1, s"mixing must be a pure map + explode:\n$p")
  }

  test("sequence packing shuffles once on the shard key, no global sort") {
    val p = plan("x_text_pack")
    // two Exchanges max: one hash partition by __shard for the
    // running-sum window, one range partition for the output ORDER BY.
    // A third would mean the window re-partitioned or a global sort
    // snuck in — the thing that would not survive 100 TB.
    val exchanges = "(?i)exchange".r.findAllIn(p).size
    assert(exchanges <= 2, s"packing must shuffle once (plus output sort):\n$p"):
      Unit
    assert(p.contains("hashpartitioning(__shard"),
      s"window must partition by the shard hash:\n$p")
  }

  test("per-source cap plans as a window group limit (partial top-n, " +
      "no full-stratum sort)") {
    val p = plan("x_cap_per_source")
    // Spark 4 rewrites rank-predicate windows into WindowGroupLimit:
    // a per-partition top-n runs BEFORE the stratum exchange (Partial)
    // and again under the final window (Final), so a skewed source
    // ships at most n rows per upstream task — the property that
    // makes the cap survive a single domain owning 30% of a crawl
    assert(p.contains("WindowGroupLimit"),
      s"rank filter must plan as a window group limit:\n$p")
    assert(p.contains("Partial"),
      s"group-limit must prefilter map-side before the exchange:\n$p")
  }

  test("token repetition signals are map-only: the explode shuffle is gone") {
    val p = plan("x_text_repetition")
    // exactly one Exchange — the final ORDER BY's range partitioning;
    // the TokenStats fold must not explode into a (doc, token) shuffle
    val exchanges = "(?i)exchange".r.findAllIn(p).size
    assert(exchanges <= 1, s"repetition signals must be one map pass:\n$p")
    assert(!p.contains("Generate"), s"no explode expected:\n$p")
  }

  test("pivot: two partial-agged exchanges, no value-discovery job") {
    val p = plan("q_pivot")
    // Spark's pivot contract: partial_sum per (group, pivot) -> exchange
    // -> partial_pivotfirst per group -> exchange -> pivotfirst. Both
    // exchanges carry at most groups x pivot-values rows after the
    // map-side partials; pinned values mean no extra distinct scan.
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges == 2, s"expected the two pivot exchanges, got $exchanges:\n$p")
    assert(p.contains("partial_sum") && p.contains("partial_pivotfirst"),
      s"pivot must partial-aggregate map-side at both levels:\n$p")
  }

  test("ranking battery shuffles once on the partition key") {
    val p = plan("q_rank_funcs")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges == 1, s"expected one hash exchange, got $exchanges:\n$p")
  }

  test("grouping sets expand before a single partial-agg exchange") {
    val p = plan("q_grouping_sets")
    assert(p.contains("Expand"), s"grouping sets must plan an Expand:\n$p")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges == 1, s"expected one hash exchange, got $exchanges:\n$p")
  }

  test("scalar subquery broadcasts its 1-row cutoff, probe side never shuffles") {
    val p = plan("q_scalar_subquery")
    assert(p.contains("Broadcast"), s"cutoff must broadcast:\n$p")
    // the big orders probe: filter + partial agg map-side; the only
    // exchanges are the two 1-row aggregations' and the broadcast
    assert(!p.contains("Exchange hashpartitioning"),
      s"probe side must not hash-shuffle full data:\n$p")
  }

  test("correlated subquery decorrelates to an aggregate join, one key shuffle") {
    val p = plan("q_correlated_subquery")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"decorrelation failed — per-row subquery shape:\n$p")
    // the subquery's per-customer max aggregates once; the probe join
    // and the final group share the custkey partitioning
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges <= 2, s"expected at most two custkey exchanges, got $exchanges:\n$p")
  }

  test("documents scan prunes to the referenced columns (x_text_stats)") {
    val p = plan("x_text_stats")
    assert(p.contains("doc_id") && p.contains("text"),
      s"expected doc_id+text in scan:\n$p")
    assert(!p.contains("lang_declared") || !p.contains("ReadSchema: struct<doc_id:bigint,text:string,lang:string,"),
      "pruned scan")
    val read = "ReadSchema: [^\\n]+".r.findFirstIn(p).getOrElse("")
    assert(!read.contains("emb"), s"unrelated columns must be pruned: $read")
  }

  test("IVF ANN search joins on the cell id (hash join, no cross product)") {
    val p = plan("x_sim_topk_ivf")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"),
      s"cell join must be an equi-join:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"probing must not degenerate to a cross product:\n$p")
  }

  test("IVFPQ search joins on the cell id; gopher rules are map-only") {
    // IVFPQ: the probe side joins encoded candidates on the cell id —
    // an equi-join, never a cross product (the ADC scan's whole point
    // is touching only nprobe cells' codes)
    val p = plan("x_sim_topk_ivfpq")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"),
      s"cell join must be an equi-join:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"probing must not degenerate to a cross product:\n$p")
    // Gopher line rules: two fused kernels per row, zero joins — the
    // ORDER BY's range exchange must be the only shuffle
    val g = plan("x_text_gopher")
    assert(!g.contains("hashpartitioning"),
      s"gopher scoring must not hash-shuffle:\n$g")
    val read = "ReadSchema: [^\\n]+".r.findFirstIn(g).getOrElse("")
    assert(!read.contains("emb"), s"unrelated columns must be pruned: $read")
  }

  test("partitioned-lake backfill prunes to the day range's partitions (S2 at scale)") {
    val q = graft.SparkEntry.queries("s2_backfill_partitioned")(spark, dir)
    val p = q.queryExecution.executedPlan.toString
    val pf = "PartitionFilters: \\[[^\\]]+\\]".r.findFirstIn(p)
    assert(pf.exists(_.contains("dt#")),
      s"day-range predicate must become partition filters, got $pf in:\n$p")
    // the range must be eliminated at PLANNING time: only the 7 matching
    // dt= directories are listed by the scan
    // sparkPlan, not executedPlan: AQE's wrapper hides the scan node
    // from collect() until execution
    val scan = q.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.head
    assert(scan.selectedPartitions.partitionCount == 7,
      s"expected 7 pruned partitions, scan lists ${scan.selectedPartitions.partitionCount}")
    // and the result is the real 7-day backfill
    assert(q.count() == 7)
  }

  test("as-of join is one hash exchange, no nested-loop join") {
    val p = plan("q_asof_join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"as-of must not plan an inequality join:\n$p")
    // exactly TWO hash exchanges, pinned: one for the right side's
    // tie-break pre-aggregation on (user_id, ts) — hashpartitioning
    // (user_id, ts) cannot satisfy the window's user_id clustering, so
    // it can't be shared — and one for the per-key window over the
    // union. The final orderBy's range exchange is counted separately.
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashExchanges == 2,
      s"expected exactly two hash exchanges in as-of plan, got $hashExchanges:\n$p")
  }

  test("bucketed as-of join: equi-only plan, bounded exchange count") {
    val p = plan("q_asof_bucketed")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"bucketed as-of must stay equi-only:\n$p")
    // the skew trade buys per-(key, bucket) reducers at the cost of a
    // fixed number of extra SMALL exchanges. Static plan shows 6: the
    // ONE full-data exchange (main (key, bucket) window over the
    // union), the right side's (user, ts) tie-break pre-agg appearing
    // twice (identical subtree under the union and under the bucket
    // summaries — ReuseExchange dedupes it at runtime), the bucket
    // summary groupBy, the marker distinct, and the tiny per-key carry
    // window. Pin the total so a regression that adds a shuffle of the
    // big union fails here.
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashExchanges == 6,
      s"expected exactly six hash exchanges in bucketed as-of plan, got $hashExchanges:\n$p")
  }

  test("range join buckets to an equi-join, no cross product") {
    val p = plan("q_range_join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"range join must bucket, not cross:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"),
      s"bucket join must be a hash equi-join:\n$p")
  }

  test("windowed queries shuffle once on the partition key") {
    val p = plan("q_window_running")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges == 1, s"expected exactly one hash exchange, got $exchanges:\n$p")
  }

  test("q6 pushes every predicate into the parquet scan") {
    val p = plan("q6_forecast_revenue")
    // assert the predicates INSIDE the PushedFilters list — an empty
    // "PushedFilters: []" with the columns mentioned elsewhere in the
    // plan must fail, not pass. Match to end of line, not to ']': the
    // scan node TRUNCATES long filter lists ("... 4 more fields"),
    // which swallows the closing bracket.
    val pushed = "PushedFilters: \\[[^\\n]*".r.findFirstIn(p).getOrElse("")
    assert(pushed.contains("l_shipdate"), s"shipdate range not pushed: $pushed\n$p")
    assert(pushed.contains("l_discount") && pushed.contains("l_quantity"),
      s"discount/quantity bounds not pushed: $pushed\n$p")
    val read = "ReadSchema: [^\\n]+".r.findFirstIn(p).getOrElse("")
    assert(!read.contains("l_orderkey") && !read.contains("l_tax"),
      s"q6 must scan only its 4 columns: $read")
  }

  test("contamination scan: broadcast inventory probe, no cross product") {
    val p = plan("x_contamination")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"shingle probe must be an equi-join:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"benchmark shingle inventory must broadcast:\n$p")
  }

  test("interval-overlap join buckets to an equi-join, no cross product") {
    val p = plan("q_interval_join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"overlap join must bucket, not cross:\n$p")
  }

  test("range-frame window shuffles once on the partition key") {
    val p = plan("q_window_range")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges == 1, s"expected exactly one hash exchange, got $exchanges:\n$p")
  }

  test("multi-column distinct agg: per-column passes, no Expand blowup") {
    // agg(countDistinct(a), countDistinct(b), countDistinct(c)) makes
    // Catalyst Expand every input row 3×, interleaving three key
    // domains in one partial-agg hash map — measured super-linear at
    // sf10 (ratio 5.25 for 3.3× rows) once that map outgrew memory.
    // The per-column formulation must keep Expand out of the plan and
    // broadcast the tiny per-column results back together.
    val p = plan("q_distinct_agg")
    assert(!p.contains("Expand"),
      s"multi-distinct fell back to the Expand rewrite:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"3-row per-column results should broadcast-join:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"tiny result join degraded:\n$p")
    // Each pass must dedup POST-shuffle: an explicit repartition by the
    // (group, value) pair feeds the dedup aggregate, so no map-side
    // dedup hash absorbs a near-unique column's full input (the
    // sf10→sf30 super-linear mechanism; measured by
    // f9f40ed:src/main/scala/graft/tools/DistinctProbe.scala).
    // REPARTITION_BY_COL is that exchange's origin tag.
    assert(p.contains("REPARTITION_BY_COL"),
      s"per-column pass lost its explicit pair repartition:\n$p")
  }

  test("bloom contamination probes the sketch before the confirm join") {
    // The point of the variant: the exact semi-join's input must be
    // pre-thinned by the codegen'd might_contain probe (a foldable
    // literal sketch — same materialized shape as Spark's own runtime
    // filters), and candidates must come from an equi-join, never a
    // cross product.
    val p = plan("x_contamination_bloom")
    assert(p.contains("might_contain"),
      s"confirm join input lost its Bloom pre-filter:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"no cross products in the contamination path:\n$p")
  }

  test("chunking is map-only: no hash exchange, only the output sort") {
    // 100 TB chunking must stream through: per-row HOF + posexplode,
    // with the ORDER BY's range exchange as the plan's only shuffle
    val p = plan("x_text_chunks")
    assert(p.contains("Generate"), s"chunks must posexplode in place:\n$p")
    assert(!p.contains("hashpartitioning"),
      s"chunking must not hash-shuffle:\n$p")
  }

  test("dedup-by-PK aggregates post-shuffle (A4)") {
    // The PK is near-unique (1-2 rows per key): a map-side partial agg
    // would hash nearly every scanned row for no reduction. The shipped
    // shape repartitions by the PK first so all dedup state lives in
    // AQE-sized post-shuffle partitions (the `dedup` mode of
    // f9f40ed:src/main/scala/graft/tools/DistinctProbe.scala measured
    // the win at sf10 and sf30 — and measured the OPPOSITE for k5's
    // collect_set, which is left two-phase).
    val p = plan("a4_dedup_by_pk")
    assert(p.contains("REPARTITION_BY_COL"),
      s"a4 lost its explicit PK repartition:\n$p")
    assert(!p.contains("Expand"), s"unexpected Expand in a4:\n$p")
  }

  test("token-budget select: row window is PARTITIONED by (stratum, bucket); " +
    "the only single-partition exchange is the bounded strata table") {
    val p = plan("x_select_budget")
    // the per-doc running sum must be a distributed window — partition
    // spec (__q, __h), order __id — never a corpus-wide sorted window
    assert(p.replaceAll("#\\d+", "")
        .contains("], [__qL, __hL], [__idL ASC NULLS FIRST]"),
      s"row window lost its (stratum, bucket) partition spec:\n$p")
    // exactly one SinglePartition exchange: the <=1001-row stratum-cum
    // table (post-aggregation), not raw rows
    assert("Exchange SinglePartition".r.findAllIn(p).size == 1,
      s"expected exactly one bounded single-partition exchange:\n$p")
    assert(p.contains("partial_sum"),
      "stratum/bucket sums must partial-aggregate map-side")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"cum tables must join back on keys:\n$p")
  }

  test("line dedup: two-phase count-distinct and partial collect_list — " +
    "no single-partition stage anywhere") {
    val p = plan("x_text_line_dedup")
    assert(p.contains("partial_count(distinct"),
      s"line-df count-distinct lost its partial phase:\n$p")
    assert(p.contains("partial_collect_list"),
      s"doc reassembly lost its partial phase:\n$p")
    assert(!p.contains("Exchange SinglePartition"),
      s"nothing in line dedup may serialize to one partition:\n$p")
    assert(!p.contains("CartesianProduct"), "no cartesian products")
  }

  test("incremental stats merge: partials come from ONE materialized " +
    "shared pass, the merge partial-sums, nothing single-partitions") {
    for (name <- Seq("x_linedf_incremental", "x_tokendf_incremental")) {
      val p = plan(name)
      // round-17: the per-batch partials are slices of one materialized
      // (key, batch, n) pass — the final plan reads the checkpoint
      // (ExistingRDD), never re-derives a batch from the corpus
      assert(p.contains("Scan ExistingRDD"),
        s"$name: partials must slice the materialized shared pass:\n$p")
      assert(!p.contains("FileScan parquet"),
        s"$name: the merge must not rescan the corpus per batch:\n$p")
      // the additive merge is union + partial-summed aggregation
      assert(p.contains("Union"), s"$name: merge lost its union:\n$p")
      assert(p.contains("partial_sum"),
        s"$name: merge must partial-aggregate map-side:\n$p")
      // the output orderBy is a range exchange; nothing may serialize
      // the stats table to one partition
      assert(!p.contains("Exchange SinglePartition"),
        s"$name: nothing in the merge may single-partition:\n$p")
      assert(!p.contains("CartesianProduct"), s"$name: no cartesian products")
    }
    // the shared pass itself keeps the partials' aggregation shape:
    // lineDfBy dedups docs via two-phase count-distinct per (key,
    // batch); tokenDfBy dedups IN-ROW (array_distinct before the
    // explode) so its partial is a plain count
    import org.apache.spark.sql.functions.col
    val docs = graft.core.Tables.documents(spark, dir)
    val lp = graft.operators.CorpusStats
      .lineDfBy(docs, "doc_id", "text", col("doc_id") % 3)
      .queryExecution.executedPlan.toString
    assert(lp.contains("partial_count(distinct"),
      s"lineDfBy lost its two-phase count-distinct:\n$lp")
    val tp = graft.operators.CorpusStats
      .tokenDfBy(docs, "doc_id", "text", col("doc_id") % 4)
      .queryExecution.executedPlan.toString
    assert(tp.contains("partial_count(1)") && tp.contains("array_distinct"),
      s"tokenDfBy lost in-row dedup + two-phase count:\n$tp")
  }

  test("bm25 search: the corpus never hash-shuffles — top-k via " +
    "TakeOrderedAndProject, stats as a 1-row broadcast") {
    val p = plan("x_search_bm25")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-50 must be a streaming top-k, not a global sort:\n$p")
    assert(!p.contains("hashpartitioning"),
      s"no corpus-wide hash exchange belongs in a map-only scorer:\n$p")
    assert(p.contains("IdentityBroadcastMode"),
      "corpus stats must broadcast as the single-row build side")
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size == 1,
      s"only the bounded 1-row stats may nested-loop:\n$p")
  }

  test("edit-distance join: candidates from an equi-join on the segment key, " +
    "never a cross product") {
    val p = plan("x_dedup_editdist")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin"),
      s"segment blocking must plan as a hash/merge equi-join:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"edit-distance join must never go all-pairs:\n$p")
  }

  test("DSIR: scoring is MAP-ONLY (compiled DsirMass fold — no feature " +
    "explode, no model join, no doc-keyed exchange); the model fit " +
    "partial-aggregates map-side") {
    // round 18: the scoring half collects the bounded (buckets-row)
    // model and folds each doc in one compiled kernel pass — the old
    // plan's feature explode + broadcast join + per-doc re-aggregation
    // + 1-row totals nested-loop are all gone. The model FIT (one
    // corpus pass, groupBy bucket) is unchanged and must still
    // partial-aggregate.
    val p = plan("x_sample_dsir")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("BroadcastHashJoin") && !p.contains("SortMergeJoin") &&
      !p.contains("ShuffledHashJoin"),
      s"map-only scoring must not join at all:\n$p")
    val scoring = graft.SparkEntry.queries("x_sample_dsir")(spark, dir)
      .queryExecution.analyzed
    assert(scoring.collect {
      case n if n.expressions.exists(_.exists(
        _.isInstanceOf[graft.expressions.DsirMass])) => n
    }.nonEmpty, "expected the compiled DsirMass kernel in the plan")
    // the model FIT is collected at build time (bounded table), so it
    // no longer appears in the query plan — audit its own plan
    val fit = graft.operators.Sampling.dsirModel(
        graft.core.Tables.documents(spark, dir), "doc_id", "text",
        org.apache.spark.sql.functions.col("lang") === "en", 4096)
      .queryExecution.executedPlan.toString
    assert(fit.contains("partial_count") || fit.contains("partial_sum"),
      s"the model fit must partial-aggregate map-side:\n$fit")
  }

  test("trained lang-id: profile training partial-aggregates map-side, " +
    "scoring is one LangGramHits kernel pass with no gram explode, no " +
    "window and no cartesian product") {
    // the query collects its merged model into the LangGramHits kernel,
    // so profile training never appears in the query plan — audit it
    // on its own plan
    val train = graft.operators.CorpusStats.langProfiles(
        graft.core.Tables.documents(spark, dir), "lang", "text")
      .queryExecution.executedPlan.toString
    assert(train.contains("partial_count"),
      s"profile counts must partial-aggregate map-side:\n$train")
    val p = plan("x_langid_trained")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"no join may degrade to a cross product:\n$p")
    // MAP-ONLY KERNEL shape (round 18, succeeding the round-13 pivot):
    // scoring is one compiled LangGramHits fold per document — no
    // corpus char-gram explode (Generate), no model join, no doc-keyed
    // aggregate, and still no window; the only remaining exchange is
    // the declared ORDER BY
    assert(!p.contains("row_number"),
      s"argmax must stay in-row, never window the corpus:\n$p")
    assert(p.contains("langgramhits"),
      s"scoring must run through the compiled LangGramHits kernel:\n$p")
    assert(!p.contains("Generate"),
      s"scoring must not explode the corpus gram mass:\n$p")
  }

  test("BPE id encode: the corpus side pays one equi-join against the " +
    "vocab-sized word table, never a per-occurrence encode or a cross " +
    "product; per-doc reassembly partial-aggregates") {
    val p = plan("x_bpe_ids")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"word join must be an equi-join:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin"),
      s"expected the docWords->wordIds equi-join:\n$p")
    // the MergeList encode kernel must sit ABOVE the distinct (vocab
    // side), so the expensive encode runs once per distinct word — the
    // physical toString truncates deep Project expression lists, so
    // probe the analyzed plan's expression tree for the kernel
    val analyzed = graft.SparkEntry.queries("x_bpe_ids")(spark, dir)
      .queryExecution.analyzed
    val hasKernel = analyzed.collect {
      case n if n.expressions.exists(_.exists(
        _.isInstanceOf[graft.expressions.MergeList])) => n
    }.nonEmpty
    assert(hasKernel, "expected the MergeList kernel in the analyzed plan")
    assert(p.contains("partial_collect_list") || p.contains("objHashAggregate") ||
      p.contains("partial_"),
      s"per-doc reassembly should partial-aggregate:\n$p")
  }

  test("span df-thinning is skew-safe: partial-agged count, no window " +
      "operator holding a key's full occurrence list in one task") {
    // round-14 conviction (bench_evidence/r14_viral_skew_probe.txt):
    // count(1) over (partition by __h) OOMed its single hot task at a
    // planted df of 10M. The replacement counts via groupBy (map-side
    // partial aggregation — a viral key contributes ONE row per map
    // task to the shuffle) and rejoins the filtered key sliver. A Window reappearing in
    // either span query's plan is the regression this pins against.
    Seq("x_dedup_substring", "x_dedup_spans").foreach { q =>
      val p = plan(q)
      assert(!p.contains("Window "),
        s"$q must not thin through a window operator:\n$p")
      assert(p.contains("partial_count") || p.contains("Partial"),
        s"$q's df count must partial-aggregate map-side:\n$p")
    }
  }

  test("whole-stream heavy hitters confirm via semi-joined slivers, " +
      "partial-agged counts") {
    val p = plan("x_sketch_heavy_stream")
    // history and batch are thinned to the candidate sliver by
    // LeftSemi joins (broadcast at this scale; AQE-splittable SMJ at
    // adversarial sliver sizes) — never a shuffle of the heavy mass
    // keyed on token before the sliver cut
    assert(p.contains("LeftSemi"),
      s"confirm must semi-join the candidate sliver:\n$p")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"counts must partial-aggregate map-side:\n$p")
  }

  test("mix planning from maintained tallies: the corpus aggregate " +
      "partial-aggregates map-side; totals join via broadcast; no " +
      "corpus-scale window or cartesian product") {
    val p = plan("x_mix_incremental")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"sourceTallies must partial-aggregate before the exchange:\n$p")
    // the 1-row totals attach via broadcast (the accepted 1-row
    // crossJoin pattern), never a shuffled cartesian product
    assert(p.contains("Broadcast"), s"totals must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), "no cartesian product")
    // the consumer runs entirely on the source-bounded tally - any
    // Window here would be corpus-scale and a regression
    assert(!p.contains("Window "),
      s"mix planning must not window over the corpus:\n$p")
  }

  test("unimax water-filling touches the corpus once: one partial-agged " +
      "tally pass, then source-bounded windows and 1-row broadcasts") {
    val q = graft.SparkEntry.queries("x_mix_unimax")(spark, dir)
    val p = q.queryExecution.executedPlan.toString
    // everything downstream of the tally runs on the materialized
    // source-bounded table: the corpus parquet scan must appear in
    // NO part of the allocator's own plan (the tally is checkpointed
    // precisely so the three references cannot re-scan the corpus)
    assert(!p.contains("FileScan"),
      s"allocator plan must read the checkpointed tally, not parquet:\n$p")
    assert(!p.contains("CartesianProduct"), "no cartesian product")
  }
}
