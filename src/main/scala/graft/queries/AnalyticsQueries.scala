package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.Tables

/** General analytic capability queries (SURVEY.md §2.5 notes these are
  * "absent entirely" in the reference and come free via Spark SQL —
  * these queries prove the engine delivers them, oracle-checked).
  *
  * All money math in DECIMAL (exact in both engines, see ParityQueries
  * scaladoc); every FINAL decimal output column is cast to DOUBLE on
  * both sides — the driver's hasher renders decimals through a
  * shortest-repr float path, so fixed-scale decimals with trailing
  * zeros ("123.40") never hash-match, while the double of the same
  * exact decimal is identical in Spark and DuckDB.
  *
  * The ORACLE side of that cast must go through a VARCHAR round-trip
  * (`CAST(CAST(x AS VARCHAR) AS DOUBLE)`): DuckDB's direct
  * decimal→double multiplies the unscaled integer by 10^-scale in
  * double arithmetic — one extra rounding — where Spark's
  * BigDecimal-backed cast is correctly rounded. Invisible at sf0.1, a
  * real 1-ulp hash mismatch at sf1 magnitudes (caught by the q1
  * sum_charge column there, DECIMAL(38,6): direct ...278 vs correct
  * ...274). DuckDB parses the exact decimal STRING to the
  * correctly-rounded nearest double, matching Spark bit-for-bit; the
  * wrap is applied to EVERY oracle `AS DOUBLE` cast uniformly — it is
  * an identity when the input is already DOUBLE (shortest-repr
  * round-trip) or integer (exact render, correct parse).
  *
  * Scale notes per query are in each def's scaladoc: these are the
  * plans whose shape must survive 100 TB (partial aggregation before
  * shuffle, broadcast for dimension joins, AQE skew handling).
  */
object AnalyticsQueries {
  type Q = (SparkSession, String) => DataFrame

  private def dec(c: String, p: Int = 12, s: Int = 2) =
    col(c).cast(DecimalType(p, s))

  private val one = lit(1).cast(DecimalType(4, 2))

  /** TPC-H Q1-style pricing summary. Scale: partial (map-side) agg on
    * (returnflag, linestatus) — 6 groups — then a 6-row shuffle; scan
    * reads only the 7 referenced columns (check ReadSchema).
    */
  def q1PricingSummary(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .where(col("l_shipdate") <= lit("2000-12-01").cast("timestamp"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum(dec("l_quantity")).cast("double").as("sum_qty"),
        sum(dec("l_extendedprice")).cast("double").as("sum_base_price"),
        sum(dec("l_extendedprice") * (one - dec("l_discount", 4, 2)))
          .cast("double").as("sum_disc_price"),
        sum(dec("l_extendedprice") * (one - dec("l_discount", 4, 2))
          * (one + dec("l_tax", 4, 2)))
          .cast("double").as("sum_charge"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  /** TPC-H Q3-style shipping priority: fact-fact join on the order key
    * + dimension filter. Scale: customer filter pushed to scan; orders
    * ⋈ lineitem co-shuffles on the key; AQE coalesces the 10-row tail.
    */
  def q3ShippingPriority(s: SparkSession, dir: String): DataFrame = {
    val cutoff = lit("1998-01-01").cast("timestamp")
    Tables.customer(s, dir).where(col("c_mktsegment") === "BUILDING")
      .join(Tables.orders(s, dir), col("c_custkey") === col("o_custkey"))
      .where(col("o_orderdate") < cutoff)
      .join(Tables.lineitem(s, dir), col("l_orderkey") === col("o_orderkey"))
      .where(col("l_shipdate") > cutoff)
      .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
      .agg(sum(dec("l_extendedprice") * (one - dec("l_discount", 4, 2)))
        .cast("double").as("revenue"))
      .select("o_orderkey", "revenue", "o_orderdate", "o_orderpriority")
      .orderBy(desc("revenue"), col("o_orderkey"))
      .limit(10)
  }

  /** TPC-H Q5-style local-supplier volume: 6-table join. Scale:
    * region/nation/supplier are broadcast (dimension-sized); the
    * lineitem⋈orders shuffle carries only pruned columns.
    */
  def q5LocalSupplierVolume(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .join(Tables.orders(s, dir), col("c_custkey") === col("o_custkey"))
      .where(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      .join(Tables.lineitem(s, dir), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.supplier(s, dir), col("l_suppkey") === col("s_suppkey") &&
        col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(Tables.nation(s, dir)), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, dir)), col("n_regionkey") === col("r_regionkey"))
      .where(col("r_name") === "ASIA")
      .groupBy("n_name")
      .agg(sum(dec("l_extendedprice") * (one - dec("l_discount", 4, 2)))
        .cast("double").as("revenue"))
      .orderBy(desc("revenue"), col("n_name"))

  /** Windowed running totals per user over the event stream. Scale: one
    * shuffle on user_id, sort within partitions; no global sort until
    * the (bounded) output ORDER BY.
    */
  def qWindowRunning(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir).select(
      col("event_id"), col("user_id"),
      col("value").cast(DecimalType(12, 2)).as("v"),
      date_trunc("SECOND", col("ts")).as("ts_sec"))
    val w = Window.partitionBy("user_id").orderBy("ts_sec", "event_id")
    e.select(
      col("event_id"), col("user_id"),
      row_number().over(w).cast("long").as("rn"),
      sum(col("v")).over(w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("double").as("running"))
      .orderBy("user_id", "rn")
  }

  /** Gap-based sessionization (30-min inactivity) — lag + cumulative
    * sum, the classic streaming-analytics shape. Scale: single shuffle
    * on user_id; state is per-partition sort, no driver involvement.
    */
  def qSessionize(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir).select(
      col("event_id"), col("user_id"),
      date_trunc("SECOND", col("ts")).as("ts_sec"))
    val w = Window.partitionBy("user_id").orderBy("ts_sec", "event_id")
    val prev = lag(col("ts_sec"), 1).over(w)
    val isNew = when(prev.isNull ||
      (unix_timestamp(col("ts_sec")) - unix_timestamp(prev)) > 1800, 1)
      .otherwise(0)
    e.withColumn("is_new", isNew)
      .withColumn("session_id",
        sum(col("is_new")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("n_events"),
        min(col("ts_sec")).as("session_start"),
        max(col("ts_sec")).as("session_end"))
      .orderBy("user_id", "session_id")
  }

  /** ROLLUP subtotals (grouping-set nulls coalesced to 'ALL' so both
    * engines compare identically).
    */
  def qRollup(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .rollup("l_returnflag", "l_linestatus")
      .agg(sum(dec("l_quantity")).cast("double").as("sum_qty"),
        count(lit(1)).as("n"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("rflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("lstatus"),
        col("sum_qty"), col("n"))
      .orderBy("rflag", "lstatus")

  /** Tumbling 15-minute event-time windows via `window()` — the
    * Structured-Streaming aggregation shape, checked here in its batch
    * form. Spark windows align to the epoch; DuckDB's time_bucket
    * origin (2000-01-03) is a whole number of days later, so 15-minute
    * buckets coincide exactly.
    */
  def qTimeBucket(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(date_trunc("SECOND", col("ts")).as("ts_sec"), col("value"))
      .groupBy(window(col("ts_sec"), "15 minutes").as("w"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(12, 2))).cast("double").as("sum_value"))
      .select(col("w.start").as("bucket_start"), col("n"), col("sum_value"))
      .orderBy("bucket_start")

  /** INTERSECT / EXCEPT over derived key sets. */
  def qSetOps(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir)
    val o = Tables.orders(s, dir)
    val building = c.where(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey").as("id"))
    val frequent = o.groupBy(col("o_custkey").as("id"))
      .agg(count(lit(1)).as("n")).where(col("n") > 2).select("id")
    building.intersect(frequent).withColumn("tag", lit("both"))
      .unionByName(building.except(frequent).withColumn("tag", lit("only_building")))
      .select("tag", "id")
      .orderBy("tag", "id")
  }

  /** Top-3 orders by total price per priority (ranking window). */
  def qTopkPerGroup(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_orderpriority")
      .orderBy(desc("price"), col("o_orderkey"))
    Tables.orders(s, dir)
      .select(col("o_orderpriority"), col("o_orderkey"),
        col("o_totalprice").cast(DecimalType(18, 2)).as("price"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .where(col("rk") <= 3)
      .withColumn("price", col("price").cast("double"))
      .orderBy("o_orderpriority", "rk")
  }

  /** JSON extraction from the events props payload + aggregation. */
  def qJsonExtract(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(get_json_object(col("props"), "$.k").cast("long").as("k"),
        col("value"))
      .groupBy((col("k") % 7).as("k_mod"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(12, 2))).cast("double").as("sum_value"))
      .orderBy("k_mod")

  /** NOT EXISTS as a left-anti join: customers with no orders. */
  def qAntiJoin(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .join(Tables.orders(s, dir), col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey").as("id"), col("c_name").as("name"))
      .orderBy("id")

  /** Exact multi-column DISTINCT aggregation. Scale: one pass PER
    * column, joined on the tiny group key — NOT a single
    * `agg(countDistinct, countDistinct, countDistinct)`. Catalyst
    * rewrites multi-distinct over different columns with a 3× Expand,
    * so every task's partial-agg state interleaves all three key
    * domains; the sf10 sweep measured that formulation going
    * super-linear (3.2 s → 16.8 s for 3.3× rows, ratio 5.25) once the
    * fused hash map outgrew memory.
    *
    * Each per-column pass is `repartition(group, col)` →
    * `dropDuplicates` → count, NOT `agg(countDistinct)`. A two-phase
    * distinct agg builds a map-side dedup hash over every (group,
    * value) pair a task scans — for a near-unique column (l_orderkey:
    * ~1 order per 4 lineitems) that map absorbs most of the input for
    * almost no row reduction, and its growth is what went super-linear
    * in the sf10→sf30 decade. Repartitioning by the PAIR first means
    * the dedup hash only ever sees one partition's share
    * (rows/partitions, AQE-sized), bounded at any scale; the dedup and
    * the final count then run post-shuffle where each pair occurs in
    * exactly one task. Probe-measured
    * (`f9f40ed:src/main/scala/graft/tools/DistinctProbe.scala`, n≥2
    * warm): sf10 8.4–15.4 s → 6.7–8.8 s; sf30 34.4–37.0 s →
    * 27.4–28.3 s (and 22.5 s at an explicit width of 256 — left to
    * AQE here because a hard-coded width is a local[32] artifact,
    * while the AQE-managed form scales with the data). `count(col(c))`
    * skips the one surviving (group, NULL) row, matching
    * `countDistinct`'s NULL-skipping exactly while keeping the group
    * alive with 0. The
    * per-column frames re-join on a NULL-SAFE key (`<=>`, still an
    * equi-join key for Catalyst) so a NULL group — which a single
    * multi-distinct agg would keep — survives the rewrite too; plain
    * equality would silently drop it.
    */
  def qDistinctAgg(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    def one(c: String, as: String): DataFrame =
      li.select(col("l_linestatus"), col(c))
        .repartition(col("l_linestatus"), col(c))
        .dropDuplicates("l_linestatus", c)
        .groupBy("l_linestatus").agg(count(col(c)).as(as))
    val supp = one("l_suppkey", "n_supp")
    val part = one("l_partkey", "n_part").withColumnRenamed("l_linestatus", "__ls_p")
    val ord = one("l_orderkey", "n_orders").withColumnRenamed("l_linestatus", "__ls_o")
    supp.join(part, col("l_linestatus") <=> col("__ls_p"))
      .join(ord, col("l_linestatus") <=> col("__ls_o"))
      .select(col("l_linestatus"), col("n_supp"), col("n_part"), col("n_orders"))
      .orderBy("l_linestatus")
  }

  /** TPC-H Q4-style EXISTS via left-semi join: orders in a date range
    * having at least one returned line item. Scale: the semi-join
    * carries only the key column of the probe side, dedups inside the
    * join (no post-join distinct), then a 5-group aggregate.
    */
  def q4PriorityExists(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
      .where(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
    val returned = Tables.lineitem(s, dir)
      .where(col("l_returnflag") === "R")
      .select(col("l_orderkey").as("o_orderkey"))
    o.join(returned, Seq("o_orderkey"), "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("order_count"))
      .orderBy("o_orderpriority")
  }

  /** TPC-H Q6-style forecast revenue: pure filter + global aggregate.
    * Scale: every predicate pushes to the parquet scan, partial sums
    * reduce to one row per partition before a 1-row exchange — the
    * cheapest possible shape for a 100 TB table.
    */
  def q6ForecastRevenue(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .where(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
        col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
      .agg(sum(dec("l_extendedprice") * dec("l_discount", 4, 2))
        .cast("double").as("revenue"))

  /** Exact interpolated percentiles per group (the distribution-shape
    * summary an OLAP user reaches for first), computed by
    * [[graft.expressions.CountMapPercentile]]: ONE primitive count-map
    * insert per row serves all three percentages, versus three
    * separate `percentile` aggregates each paying a boxed
    * `OpenHashMap[AnyRef, Long]` insert. Bounded-domain contract
    * (quantity has 50 distinct values); for unbounded heavy columns
    * switch to `percentile_approx` (GK summary, mergeable partials).
    * Interpolation is linear at (n−1)·p — identical to Spark's
    * `percentile` and DuckDB's `quantile_cont`, so doubles match.
    */
  def qPercentile(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy("l_returnflag")
      .agg(graft.expressions.CountMapPercentile
        .of(col("l_quantity"), Seq(0.25, 0.5, 0.75)).as("__ps"))
      .select(col("l_returnflag"),
        col("__ps").getItem(0).as("p25"),
        col("__ps").getItem(1).as("p50"),
        col("__ps").getItem(2).as("p75"))
      .orderBy("l_returnflag")

  /** As-of join: each purchase picks up the user's latest prior (or
    * simultaneous) view. Right side pre-aggregated to one row per
    * (user, second) so the carried payload is deterministic. Scale:
    * see [[graft.operators.AsOfJoin]] — one hash exchange, no row
    * amplification (asserted in PlanAuditSpec).
    */
  def qAsofJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("user_id"), date_trunc("SECOND", col("ts")).as("ts"),
        col("event_type"), col("value"))
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("value").as("purchase_value"))
    val views = ev.where(col("event_type") === "view")
      .groupBy("user_id", "ts").agg(max(col("value")).as("view_value"))
      .withColumn("view_ts", col("ts"))
    graft.operators.AsOfJoin.asOf(purchases, views, Seq("user_id"), "ts", "ts")
      .orderBy("user_id", "ts", "purchase_value")
  }

  /** As-of join bounded by a 1-hour lookback: a view older than an
    * hour before the purchase is stale and masked to NULL — the "join
    * to recent state only" form. Same single-exchange plan; the bound
    * is a map-side mask after the carry.
    */
  def qAsofTolerance(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("user_id"), date_trunc("SECOND", col("ts")).as("ts"),
        col("event_type"), col("value"))
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("value").as("purchase_value"))
    val views = ev.where(col("event_type") === "view")
      .groupBy("user_id", "ts").agg(max(col("value")).as("view_value"))
    graft.operators.AsOfJoin.asOfWithin(purchases, views, Seq("user_id"),
        "ts", "ts", expr("INTERVAL 1 HOUR"))
      .orderBy("user_id", "ts", "purchase_value")
  }

  /** The skew-hardened as-of join (one-day buckets): identical output
    * to [[qAsofJoin]], checked against the same DuckDB ASOF oracle —
    * proving the bucketed carry-in machinery end-to-end. Scale: the
    * window partitions by (user, day), so one hot user's history
    * spreads over its days instead of one reducer
    * ([[graft.operators.AsOfJoin.asOfBucketed]]).
    */
  def qAsofBucketed(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("user_id"), date_trunc("SECOND", col("ts")).as("ts"),
        col("event_type"), col("value"))
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("value").as("purchase_value"))
    val views = ev.where(col("event_type") === "view")
      .groupBy("user_id", "ts").agg(max(col("value")).as("view_value"))
      .withColumn("view_ts", col("ts"))
    graft.operators.AsOfJoin.asOfBucketed(purchases, views, Seq("user_id"),
        "ts", "ts", bucketWidth = 86400L)
      .orderBy("user_id", "ts", "purchase_value")
  }

  /** Range join: line items banded by quantity interval. The bands
    * derive from region (5 half-open [lo, hi) intervals covering
    * 1..50) so both engines see identical inputs. Scale: see
    * [[graft.operators.RangeJoin]] — bucketed equi-join, broadcast
    * interval side, no cross product (asserted in PlanAuditSpec).
    */
  def qRangeJoin(s: SparkSession, dir: String): DataFrame = {
    val bands = Tables.region(s, dir).select(col("r_name").as("band"),
      (col("r_regionkey") * 10 + 1).cast("double").as("lo"),
      (col("r_regionkey") * 10 + 11).cast("double").as("hi"))
    val pts = Tables.lineitem(s, dir).select(col("l_quantity"), col("l_extendedprice"))
    graft.operators.RangeJoin.pointInInterval(pts, bands, "l_quantity", "lo", "hi", 10.0)
      .groupBy("band")
      .agg(count(lit(1)).as("n"),
        sum(dec("l_extendedprice")).cast("double").as("sum_price"))
      .orderBy("band")
  }

  /** HLL sketch distinct-count with a self-asserting error bound: the
    * query emits the EXACT distinct count (oracle-checked value) plus
    * a boolean that Spark's Datasketches HLL estimate landed within
    * 5% of it — the oracle pins the boolean TRUE, so estimator drift
    * breaks the gate. Scale: the sketch is the point — mergeable
    * fixed-size partials instead of the exact count's per-group value
    * sets; at 100 TB `hll_sketch_agg` replaces `countDistinct`
    * wherever ±2% is acceptable.
    */
  def qSketchHll(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("exact_users"),
        hll_sketch_estimate(hll_sketch_agg(col("user_id"))).as("__est"))
      .select(col("event_type"), col("exact_users"),
        (abs(col("__est") - col("exact_users")) <=
          col("exact_users") * 0.05).as("within_5pct"))
      .orderBy("event_type")

  /** Time-range window frame: per-user rolling 1-hour sum — RANGE
    * BETWEEN on epoch seconds, not ROWS, so gaps and equal-timestamp
    * peers behave correctly. Scale: one hash exchange on user_id (same
    * shape as q_window_running); DECIMAL sum inside the frame so the
    * result is fold-order independent, cast DOUBLE at the edge.
    */
  def qWindowRange(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts_sec").cast("long"))
      .rangeBetween(-3600, Window.currentRow)
    Tables.events(s, dir)
      .select(col("user_id"), date_trunc("SECOND", col("ts")).as("ts_sec"),
        col("value"))
      .withColumn("rolling_1h",
        sum(col("value").cast(DecimalType(12, 2))).over(w).cast("double"))
      .orderBy("user_id", "ts_sec", "value")
  }

  /** Full CUBE over two dimensions (all four grouping sets at once).
    * Scale: Spark expands grouping sets before the exchange, partial
    * aggregation still applies per set.
    */
  def qCube(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .cube("l_returnflag", "l_linestatus")
      .agg(sum(dec("l_quantity")).cast("double").as("sum_qty"),
        count(lit(1)).as("n"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("rflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("lstatus"),
        col("sum_qty"), col("n"))
      .orderBy("rflag", "lstatus")

  /** PIVOT: returnflag rows × linestatus columns. The pivot values
    * are pinned (`Seq("F","O")`) so the plan is a single partial-agg
    * pass — an unpinned pivot pays an extra distinct-scan job to
    * discover the column set, a real cost at 100 TB. The oracle
    * expresses the same thing as conditional aggregation (the
    * engine-portable form of PIVOT).
    */
  def qPivot(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy("l_returnflag")
      .pivot("l_linestatus", Seq("F", "O"))
      .agg(sum(dec("l_quantity")).cast("double"))
      .select(col("l_returnflag"), col("F").as("f_qty"), col("O").as("o_qty"))
      .orderBy("l_returnflag")

  /** Ranking-function battery: rank / dense_rank / percent_rank /
    * ntile / cume_dist over suppliers per nation. rank family ordering
    * uses (acctbal DESC, suppkey) — the unique tie-break makes ntile
    * deterministic (ntile over a tied order is partition-layout
    * dependent on ANY engine). Scale: one hash exchange on the
    * partition key, same as every window query here.
    */
  def qRankFuncs(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("s_nationkey")
      .orderBy(desc("s_acctbal"), col("s_suppkey"))
    Tables.supplier(s, dir).select(
      col("s_nationkey"), col("s_suppkey"),
      rank().over(w).cast("long").as("rnk"),
      dense_rank().over(w).cast("long").as("drnk"),
      round(percent_rank().over(w), 6).as("prnk"),
      ntile(4).over(w).cast("long").as("quartile"),
      round(cume_dist().over(w), 6).as("cdist"))
      .orderBy("s_nationkey", "s_suppkey")
  }

  /** Explicit GROUPING SETS — a set rollup/cube can't express:
    * ((rflag, lstatus), (lstatus)). Spark's Dataset API has no
    * grouping-sets verb, so this goes through SQL (same Catalyst plan
    * machinery as cube/rollup: expand + partial agg).
    */
  def qGroupingSets(s: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(s, dir).createOrReplaceTempView("graft_gs_lineitem")
    s.sql(
      """SELECT coalesce(l_returnflag, 'ALL') AS rflag,
        |       l_linestatus AS lstatus,
        |       CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
        |       count(1) AS n
        |FROM graft_gs_lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_linestatus))
        |ORDER BY rflag, lstatus""".stripMargin)
  }

  /** Uncorrelated scalar subquery: orders above 90% of the maximum
    * price. The subquery result broadcasts (1 row); max is exact on
    * DECIMAL, and the 0.9 multiply happens in double identically on
    * both engines. Scale: one pass for max (partial agg), one pushed
    * filterable pass for the probe — no shuffle beyond the 1-row agg.
    */
  def qScalarSubquery(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val cutoff = o.agg((max(dec("o_totalprice")).cast("double") * 0.9).as("__cut"))
    o.join(broadcast(cutoff))
      .where(col("o_totalprice").cast("double") > col("__cut"))
      .agg(count(lit(1)).as("n"),
        sum(dec("o_totalprice")).cast("double").as("sum_price"))
  }

  /** first_value / last_value / nth_value with an explicit full-frame:
    * the "compare each event to its user's first/latest/second" shape.
    * Unique (ts, event_id) ordering keeps every value deterministic.
    */
  def qFirstLastWindow(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir).select(
      col("event_id"), col("user_id"), col("value"),
      date_trunc("SECOND", col("ts")).as("ts_sec"))
    val wRun = Window.partitionBy("user_id").orderBy("ts_sec", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wFull = Window.partitionBy("user_id").orderBy("ts_sec", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    e.select(col("event_id"), col("user_id"), col("value"),
      first_value(col("value")).over(wRun).as("first_v"),
      last_value(col("value")).over(wFull).as("last_v"),
      nth_value(col("value"), 2).over(wRun).as("second_v"))
      .orderBy("user_id", "event_id")
  }

  /** CORRELATED scalar subquery — each order compared to its own
    * customer's maximum. Catalyst decorrelates this into an aggregate
    * + equi-join (verify with explain: no per-row re-execution, which
    * is how a naive engine dies on this shape at scale); max on
    * DECIMAL keeps the comparison exact.
    */
  def qCorrelatedSubquery(s: SparkSession, dir: String): DataFrame = {
    Tables.orders(s, dir).createOrReplaceTempView("graft_corr_orders")
    s.sql(
      """SELECT o.o_custkey, count(1) AS n_at_max,
        |  CAST(max(CAST(o.o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS max_price
        |FROM graft_corr_orders o
        |WHERE CAST(o.o_totalprice AS DECIMAL(12,2)) =
        |  (SELECT max(CAST(o2.o_totalprice AS DECIMAL(12,2)))
        |   FROM graft_corr_orders o2 WHERE o2.o_custkey = o.o_custkey)
        |GROUP BY o.o_custkey
        |ORDER BY o.o_custkey""".stripMargin)
  }

  /** Ordered string aggregation (LISTAGG): deterministic via
    * collect_set → array_sort → join, the distributed-safe form (an
    * unsorted collect_list depends on partition arrival order).
    */
  def qStringAgg(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .groupBy("o_orderpriority")
      .agg(array_join(array_sort(collect_set(col("o_orderstatus"))), ",")
        .as("statuses"),
        count(lit(1)).as("n"))
      .orderBy("o_orderpriority")

  /** Approximate quantile sketch with a self-asserting bound: emits
    * the EXACT interpolated median (oracle-checked value, via the
    * count-map kernel — itself a mergeable bounded-state sketch for
    * this bounded domain) plus a boolean that `percentile_approx`'s
    * answer lies within ±1.5 of it. At 100 TB the approx form is the
    * point for UNBOUNDED domains — mergeable constant-size GK
    * partials.
    *
    * The GK accuracy is DERIVED from the asserted band, not defaulted:
    * accuracy 1000 bounds rank error to N/1000; the quantity domain's
    * 50 values each hold ~2% of the mass, so the answer can shift at
    * most one adjacent value (≤ 1.0 < the ±1.5 band). Measured at
    * sf10: accuracy 10000 cost 4.3 s of per-row compress for precision
    * the band never uses; 1000 costs 1.0 s for the same asserted
    * guarantee.
    */
  def qSketchQuantile(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy("l_returnflag")
      .agg(graft.expressions.CountMapPercentile
          .of(col("l_quantity"), Seq(0.5)).getItem(0).as("exact_p50"),
        percentile_approx(col("l_quantity"), lit(0.5), lit(1000)).as("__approx"))
      .select(col("l_returnflag"), col("exact_p50"),
        (abs(col("__approx") - col("exact_p50")) <= 1.5).as("within_band"))
      .orderBy("l_returnflag")

  /** Sliding event-time windows (30 min window, 15 min slide): every
    * event lands in exactly two overlapping windows. Scale: Spark
    * expands the window memberships map-side then aggregates with
    * partial combine — amplification = window/slide ratio (2 here),
    * the standard cost of sliding windows on any engine.
    */
  def qWindowSliding(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(date_trunc("SECOND", col("ts")).as("ts_sec"), col("value"))
      .groupBy(window(col("ts_sec"), "30 minutes", "15 minutes").as("w"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(12, 2))).cast("double").as("sum_value"))
      .select(col("w.start").as("w_start"), col("n"), col("sum_value"))
      .orderBy("w_start")

  /** Interval-overlap join over two derived banding tables (region
    * quantity bands × nation size bands) — every overlapping pair,
    * found via bucketed equi-join with canonical-bucket dedup, never a
    * cross product (see [[graft.operators.RangeJoin.intervalOverlapJoin]]).
    */
  def qIntervalJoin(s: SparkSession, dir: String): DataFrame = {
    val a = Tables.region(s, dir).select(col("r_name").as("band"),
      (col("r_regionkey") * 10 + 1).cast("double").as("a_lo"),
      (col("r_regionkey") * 10 + 11).cast("double").as("a_hi"))
    val b = Tables.nation(s, dir).select(col("n_name").as("nband"),
      (col("n_nationkey") * 4).cast("double").as("b_lo"),
      (col("n_nationkey") * 4 + 6).cast("double").as("b_hi"))
    graft.operators.RangeJoin.intervalOverlapJoin(a, b,
        "a_lo", "a_hi", "b_lo", "b_hi", 8.0)
      .select(col("band"), col("nband"))
      .orderBy("band", "nband")
  }

  val queries: Map[String, Q] = Map(
    "q1_pricing_summary" -> (q1PricingSummary _),
    "q3_shipping_priority" -> (q3ShippingPriority _),
    "q5_local_supplier_volume" -> (q5LocalSupplierVolume _),
    "q_window_running" -> (qWindowRunning _),
    "q_sessionize" -> (qSessionize _),
    "q_time_bucket" -> (qTimeBucket _),
    "q_rollup" -> (qRollup _),
    "q_setops" -> (qSetOps _),
    "q_topk_per_group" -> (qTopkPerGroup _),
    "q_json_extract" -> (qJsonExtract _),
    "q_anti_join" -> (qAntiJoin _),
    "q_distinct_agg" -> (qDistinctAgg _),
    "q4_priority_exists" -> (q4PriorityExists _),
    "q6_forecast_revenue" -> (q6ForecastRevenue _),
    "q_percentile" -> (qPercentile _),
    "q_asof_join" -> (qAsofJoin _),
    "q_asof_tolerance" -> (qAsofTolerance _),
    "q_asof_bucketed" -> (qAsofBucketed _),
    "q_range_join" -> (qRangeJoin _),
    "q_sketch_hll" -> (qSketchHll _),
    "q_window_range" -> (qWindowRange _),
    "q_cube" -> (qCube _),
    "q_string_agg" -> (qStringAgg _),
    "q_sketch_quantile" -> (qSketchQuantile _),
    "q_window_sliding" -> (qWindowSliding _),
    "q_interval_join" -> (qIntervalJoin _),
    "q_pivot" -> (qPivot _),
    "q_rank_funcs" -> (qRankFuncs _),
    "q_grouping_sets" -> (qGroupingSets _),
    "q_scalar_subquery" -> (qScalarSubquery _),
    "q_first_last_window" -> (qFirstLastWindow _),
    "q_correlated_subquery" -> (qCorrelatedSubquery _))

  val oracles: Map[String, String] = Map(
    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS sum_qty,
        |  CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS sum_base_price,
        |  CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS VARCHAR) AS DOUBLE) AS sum_disc_price,
        |  CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2))) * (CAST(1 AS DECIMAL(4,2)) + CAST(l_tax AS DECIMAL(4,2)))) AS VARCHAR) AS DOUBLE) AS sum_charge,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '2000-12-01 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q3_shipping_priority" ->
      """SELECT o_orderkey,
        |  CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS VARCHAR) AS DOUBLE) AS revenue,
        |  o_orderdate, o_orderpriority
        |FROM customer, orders, lineitem
        |WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
        |  AND l_orderkey = o_orderkey
        |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY o_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin,

    "q5_local_supplier_volume" ->
      """SELECT n_name,
        |  CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS VARCHAR) AS DOUBLE) AS revenue
        |FROM customer, orders, lineitem, supplier, nation, region
        |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
        |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        |  AND r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY n_name
        |ORDER BY revenue DESC, n_name""".stripMargin,

    "q_window_running" ->
      """WITH e AS (
        |  SELECT event_id, user_id, CAST(value AS DECIMAL(12,2)) AS v,
        |         CAST(date_trunc('second', ts) AS TIMESTAMP) AS ts_sec
        |  FROM events)
        |SELECT event_id, user_id,
        |  CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts_sec, event_id) AS BIGINT) AS rn,
        |  CAST(CAST(sum(v) OVER (PARTITION BY user_id ORDER BY ts_sec, event_id
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS VARCHAR) AS DOUBLE) AS running
        |FROM e ORDER BY user_id, rn""".stripMargin,

    "q_time_bucket" ->
      """SELECT time_bucket(INTERVAL '15 minutes',
        |         CAST(date_trunc('second', ts) AS TIMESTAMP)) AS bucket_start,
        |       count(*) AS n,
        |       CAST(CAST(sum(CAST(value AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1 ORDER BY bucket_start""".stripMargin,

    "q_rollup" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS rflag,
        |       coalesce(l_linestatus, 'ALL') AS lstatus,
        |       CAST(CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS sum_qty,
        |       count(*) AS n
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY rflag, lstatus""".stripMargin,

    "q_setops" ->
      """WITH building AS (SELECT c_custkey AS id FROM customer WHERE c_mktsegment = 'BUILDING'),
        |frequent AS (SELECT o_custkey AS id FROM orders GROUP BY o_custkey HAVING count(*) > 2)
        |SELECT 'both' AS tag, id FROM (SELECT id FROM building INTERSECT SELECT id FROM frequent)
        |UNION ALL
        |SELECT 'only_building' AS tag, id FROM (SELECT id FROM building EXCEPT SELECT id FROM frequent)
        |ORDER BY tag, id""".stripMargin,

    "q_topk_per_group" ->
      """SELECT o_orderpriority, o_orderkey,
        |       CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR) AS DOUBLE) AS price,
        |       CAST(rk AS BIGINT) AS rk
        |FROM (SELECT *, row_number() OVER (PARTITION BY o_orderpriority
        |        ORDER BY CAST(o_totalprice AS DECIMAL(18,2)) DESC, o_orderkey) AS rk FROM orders)
        |WHERE rk <= 3 ORDER BY o_orderpriority, rk""".stripMargin,

    "q_json_extract" ->
      """SELECT CAST(json_extract(props, '$.k') AS BIGINT) % 7 AS k_mod,
        |       count(*) AS n,
        |       CAST(CAST(sum(CAST(value AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1 ORDER BY k_mod""".stripMargin,

    "q_anti_join" ->
      """SELECT c_custkey AS id, c_name AS name FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        |ORDER BY id""".stripMargin,

    "q_distinct_agg" ->
      """SELECT l_linestatus,
        |       count(DISTINCT l_suppkey) AS n_supp,
        |       count(DISTINCT l_partkey) AS n_part,
        |       count(DISTINCT l_orderkey) AS n_orders
        |FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin,

    "q_sessionize" ->
      """WITH e AS (
        |  SELECT event_id, user_id,
        |         CAST(date_trunc('second', ts) AS TIMESTAMP) AS ts_sec
        |  FROM events),
        |g AS (
        |  SELECT *, CASE WHEN lag(ts_sec) OVER (PARTITION BY user_id ORDER BY ts_sec, event_id) IS NULL
        |                   OR date_diff('second', lag(ts_sec) OVER (PARTITION BY user_id ORDER BY ts_sec, event_id), ts_sec) > 1800
        |                 THEN 1 ELSE 0 END AS is_new
        |  FROM e),
        |s AS (
        |  SELECT *, CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts_sec, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM g)
        |SELECT user_id, session_id, count(*) AS n_events,
        |       min(ts_sec) AS session_start, max(ts_sec) AS session_end
        |FROM s GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin,

    "q4_priority_exists" ->
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q6_forecast_revenue" ->
      """SELECT CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
        |                CAST(l_discount AS DECIMAL(4,2))) AS VARCHAR) AS DOUBLE) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin,

    "q_percentile" ->
      """SELECT l_returnflag,
        |  quantile_cont(l_quantity, 0.25) AS p25,
        |  quantile_cont(l_quantity, 0.5) AS p50,
        |  quantile_cont(l_quantity, 0.75) AS p75
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_asof_join" ->
      """WITH ev AS (SELECT user_id, CAST(date_trunc('second', ts) AS TIMESTAMP) AS ts,
        |                   event_type, value FROM events),
        |p AS (SELECT user_id, ts, value AS purchase_value FROM ev
        |      WHERE event_type = 'purchase'),
        |v AS (SELECT user_id, ts, max(value) AS view_value FROM ev
        |      WHERE event_type = 'view' GROUP BY 1, 2)
        |SELECT p.user_id, p.ts, p.purchase_value, v.view_value, v.ts AS view_ts
        |FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.ts >= v.ts
        |ORDER BY p.user_id, p.ts, p.purchase_value""".stripMargin,

    // the bucketed form must produce EXACTLY the plain as-of answer
    "q_asof_bucketed" ->
      """WITH ev AS (SELECT user_id, CAST(date_trunc('second', ts) AS TIMESTAMP) AS ts,
        |                   event_type, value FROM events),
        |p AS (SELECT user_id, ts, value AS purchase_value FROM ev
        |      WHERE event_type = 'purchase'),
        |v AS (SELECT user_id, ts, max(value) AS view_value FROM ev
        |      WHERE event_type = 'view' GROUP BY 1, 2)
        |SELECT p.user_id, p.ts, p.purchase_value, v.view_value, v.ts AS view_ts
        |FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.ts >= v.ts
        |ORDER BY p.user_id, p.ts, p.purchase_value""".stripMargin,

    "q_asof_tolerance" ->
      """WITH ev AS (SELECT user_id, CAST(date_trunc('second', ts) AS TIMESTAMP) AS ts,
        |                   event_type, value FROM events),
        |p AS (SELECT user_id, ts, value AS purchase_value FROM ev
        |      WHERE event_type = 'purchase'),
        |v AS (SELECT user_id, ts, max(value) AS view_value FROM ev
        |      WHERE event_type = 'view' GROUP BY 1, 2)
        |SELECT p.user_id, p.ts, p.purchase_value,
        |  CASE WHEN v.ts >= p.ts - INTERVAL '1 hour' THEN v.view_value END AS view_value
        |FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.ts >= v.ts
        |ORDER BY p.user_id, p.ts, p.purchase_value""".stripMargin,

    "q_range_join" ->
      """WITH bands AS (SELECT r_name AS band, CAST(CAST(r_regionkey*10+1 AS VARCHAR) AS DOUBLE) AS lo,
        |                      CAST(CAST(r_regionkey*10+11 AS VARCHAR) AS DOUBLE) AS hi FROM region)
        |SELECT band, count(*) AS n,
        |  CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS sum_price
        |FROM lineitem JOIN bands ON l_quantity >= lo AND l_quantity < hi
        |GROUP BY band ORDER BY band""".stripMargin,

    "q_sketch_hll" ->
      """SELECT event_type, count(DISTINCT user_id) AS exact_users,
        |       TRUE AS within_5pct
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_window_range" ->
      """WITH e AS (SELECT user_id, CAST(date_trunc('second', ts) AS TIMESTAMP) AS ts_sec,
        |                  value FROM events)
        |SELECT user_id, ts_sec, value,
        |  CAST(CAST(sum(CAST(value AS DECIMAL(12,2))) OVER (
        |    PARTITION BY user_id ORDER BY CAST(epoch(ts_sec) AS BIGINT)
        |    RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW) AS VARCHAR) AS DOUBLE) AS rolling_1h
        |FROM e ORDER BY user_id, ts_sec, value""".stripMargin,

    "q_cube" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS rflag,
        |       coalesce(l_linestatus, 'ALL') AS lstatus,
        |       CAST(CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS sum_qty,
        |       count(*) AS n
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY rflag, lstatus""".stripMargin,

    "q_string_agg" ->
      """SELECT o_orderpriority,
        |  string_agg(DISTINCT o_orderstatus, ',' ORDER BY o_orderstatus) AS statuses,
        |  count(*) AS n
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q_sketch_quantile" ->
      """SELECT l_returnflag, quantile_cont(l_quantity, 0.5) AS exact_p50,
        |       TRUE AS within_band
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_window_sliding" ->
      """WITH e AS (SELECT CAST(date_trunc('second', ts) AS TIMESTAMP) AS ts, value FROM events),
        |m AS (SELECT unnest([time_bucket(INTERVAL '15 minutes', ts),
        |                     time_bucket(INTERVAL '15 minutes', ts) - INTERVAL '15 minutes'])
        |             AS w_start, ts, value FROM e)
        |SELECT w_start, count(*) AS n,
        |  CAST(CAST(sum(CAST(value AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS sum_value
        |FROM m WHERE ts >= w_start AND ts < w_start + INTERVAL '30 minutes'
        |GROUP BY w_start ORDER BY w_start""".stripMargin,

    "q_interval_join" ->
      """WITH a AS (SELECT r_name AS band, CAST(CAST(r_regionkey*10+1 AS VARCHAR) AS DOUBLE) AS a_lo,
        |                  CAST(CAST(r_regionkey*10+11 AS VARCHAR) AS DOUBLE) AS a_hi FROM region),
        |b AS (SELECT n_name AS nband, CAST(CAST(n_nationkey*4 AS VARCHAR) AS DOUBLE) AS b_lo,
        |             CAST(CAST(n_nationkey*4+6 AS VARCHAR) AS DOUBLE) AS b_hi FROM nation)
        |SELECT band, nband FROM a JOIN b ON a_lo < b_hi AND b_lo < a_hi
        |ORDER BY band, nband""".stripMargin,

    // conditional aggregation = the engine-portable PIVOT
    "q_pivot" ->
      """SELECT l_returnflag,
        |  CAST(CAST(sum(CASE WHEN l_linestatus = 'F'
        |    THEN CAST(l_quantity AS DECIMAL(12,2)) END) AS VARCHAR) AS DOUBLE) AS f_qty,
        |  CAST(CAST(sum(CASE WHEN l_linestatus = 'O'
        |    THEN CAST(l_quantity AS DECIMAL(12,2)) END) AS VARCHAR) AS DOUBLE) AS o_qty
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_rank_funcs" ->
      """SELECT s_nationkey, s_suppkey,
        |  CAST(rank() OVER w AS BIGINT) AS rnk,
        |  CAST(dense_rank() OVER w AS BIGINT) AS drnk,
        |  round(percent_rank() OVER w, 6) AS prnk,
        |  CAST(ntile(4) OVER w AS BIGINT) AS quartile,
        |  round(cume_dist() OVER w, 6) AS cdist
        |FROM supplier
        |WINDOW w AS (PARTITION BY s_nationkey ORDER BY s_acctbal DESC, s_suppkey)
        |ORDER BY s_nationkey, s_suppkey""".stripMargin,

    "q_grouping_sets" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS rflag,
        |       l_linestatus AS lstatus,
        |       CAST(CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS sum_qty,
        |       count(1) AS n
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_linestatus))
        |ORDER BY rflag, lstatus""".stripMargin,

    "q_scalar_subquery" ->
      """SELECT count(*) AS n,
        |  CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS sum_price
        |FROM orders
        |WHERE o_totalprice >
        |  (SELECT CAST(CAST(max(CAST(o_totalprice AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) * 0.9
        |   FROM orders)""".stripMargin,

    "q_first_last_window" ->
      """WITH e AS (SELECT event_id, user_id, value,
        |                  CAST(date_trunc('second', ts) AS TIMESTAMP) AS ts_sec
        |           FROM events)
        |SELECT event_id, user_id, value,
        |  first_value(value) OVER wrun AS first_v,
        |  last_value(value) OVER wfull AS last_v,
        |  nth_value(value, 2) OVER wrun AS second_v
        |FROM e
        |WINDOW
        |  wrun AS (PARTITION BY user_id ORDER BY ts_sec, event_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |  wfull AS (PARTITION BY user_id ORDER BY ts_sec, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY user_id, event_id""".stripMargin,

    "q_correlated_subquery" ->
      """SELECT o.o_custkey, count(1) AS n_at_max,
        |  CAST(CAST(max(CAST(o.o_totalprice AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS max_price
        |FROM orders o
        |WHERE CAST(o.o_totalprice AS DECIMAL(12,2)) =
        |  (SELECT max(CAST(o2.o_totalprice AS DECIMAL(12,2)))
        |   FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
        |GROUP BY o.o_custkey
        |ORDER BY o.o_custkey""".stripMargin)
}
