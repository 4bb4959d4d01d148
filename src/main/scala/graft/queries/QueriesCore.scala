package graft

import graft.expr.Expr
import graft.functions.{Text, Vectors}
import graft.operators.{Accumulate, AsOf, Dedup, Sessionize, Similarity}
import graft.sources.Tables
import graft.stream.DataStream

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Core gate queries, split out of [[SparkEntry]] (round-10
  * hygiene); the `queries`/`oracleSql` maps in SparkEntry remain the
  * single registry — this trait only hosts the builders verbatim. */
private[graft] trait QueriesCore { this: SparkEntry.type =>

  /** TPC-H Q1 shape: single-pass grouped aggregation over the fact table.
    * Partial (map-side) agg → tiny shuffle of 4-ish groups. */
  protected def q01(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(cents(col("l_quantity"))).as("sum_qty_c"),
        sum(cents(col("l_extendedprice"))).as("sum_price_c"),
        sum(cents(col("l_extendedprice") * (lit(1.0) - col("l_discount")))).as("sum_disc_price_c"),
        count(lit(1)).as("n_rows"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))


  /** TPC-H Q6 shape: selective filter + global agg. The predicate and the
    * 4-column projection must reach the parquet scan (PushedFilters). */
  protected def q02(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      // to_timestamp honors the UTC session timezone; java.sql.Timestamp
      // .valueOf would parse in the JVM default zone — machine-dependent
      .where(col("l_shipdate") >= to_timestamp(lit("1996-01-01 00:00:00")) &&
        col("l_shipdate") < to_timestamp(lit("1998-01-01 00:00:00")) &&
        col("l_discount") >= 0.05 && col("l_quantity") < 25.0)
      .agg(
        sum(round(col("l_extendedprice") * col("l_discount") * 10000).cast("long")).as("revenue_e4"),
        count(lit(1)).as("n_rows"))


  /** Star join: fact orders ⋈ customer, nation broadcast. */
  protected def q03(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val c = Tables.customer(s, dir)
    val n = Tables.nation(s, dir)
    o.join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(sum(cents(col("o_totalprice"))).as("revenue_c"), count(lit(1)).as("n_orders"))
      .orderBy(col("n_name"))
  }


  /** Top-k by aggregate: sort + limit after a keyed agg (deterministic
    * tie-break on the key). */
  protected def q04(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val c = Tables.customer(s, dir)
    o.groupBy(col("o_custkey"))
      .agg(sum(cents(col("o_totalprice"))).as("revenue_c"))
      .join(c, col("o_custkey") === c("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("revenue_c"))
      .orderBy(col("revenue_c").desc, col("c_custkey").asc)
      .limit(10)
  }


  /** Semi join (EXISTS). */
  protected def q05(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir)
    val big = Tables.orders(s, dir).where(col("o_totalprice") > 200000.0)
    c.join(big, c("c_custkey") === big("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_mktsegment"))
      .orderBy(col("c_custkey"))
  }


  /** Anti join (NOT EXISTS). */
  protected def q06(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir)
    val o = Tables.orders(s, dir)
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))
  }


  /** Set operations: INTERSECT and EXCEPT with a tag, unioned. */
  protected def q07(s: SparkSession, dir: String): DataFrame = {
    val building = Tables.customer(s, dir)
      .where(col("c_mktsegment") === "BUILDING").select(col("c_custkey").as("k"))
    val withOrders = Tables.orders(s, dir).select(col("o_custkey").as("k")).distinct()
    building.intersect(withOrders).withColumn("tag", lit("has_orders"))
      .union(building.except(withOrders).withColumn("tag", lit("no_orders")))
      .orderBy(col("tag"), col("k"))
  }


  /** Exact distinct aggregation (count_distinct expands to two-phase agg). */
  protected def q08(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy(col("l_suppkey"))
      .agg(
        countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_orderkey")).as("n_orders"),
        count(lit(1)).as("n_rows"))
      .orderBy(col("l_suppkey"))


  /** Analytic window function: top-3 orders per customer by rank. */
  protected def q09(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    Tables.orders(s, dir)
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= 3)
      .select(col("o_custkey"), col("rn"), col("o_orderkey"), cents(col("o_totalprice")).as("price_c"))
      .orderBy(col("o_custkey"), col("rn"))
  }


  /** Running (prefix) sum per user — the distributed MapAccumulate
    * (SURVEY §2.1 #5) as an unbounded-preceding window frame. */
  protected def q10(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), col("ts"), cents(col("value")).as("vc"))
    Accumulate.runningSum(ev, col("vc"),
        Seq(col("user_id")), Seq(col("ts").asc, col("event_id").asc), "running_c")
      .select(col("event_id"), col("user_id"), col("running_c"))
      .orderBy(col("event_id"))
  }


  /** lag/lead analytics per user. */
  protected def q11(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts").asc, col("event_id").asc)
    Tables.events(s, dir)
      .select(col("event_id"), col("user_id"),
        coalesce(lag(col("event_id"), 1).over(w), lit(-1L)).as("prev_event_id"),
        coalesce(lead(col("event_id"), 1).over(w), lit(-1L)).as("next_event_id"),
        coalesce(unix_millis(col("ts")) - unix_millis(lag(col("ts"), 1).over(w)), lit(-1L)).as("gap_ms"))
      .orderBy(col("event_id"))
  }


  /** ROLLUP grouping sets. */
  protected def q12(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(cents(col("l_quantity"))).as("sum_qty_c"), count(lit(1)).as("n_rows"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("flag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("status"),
        col("sum_qty_c"), col("n_rows"))
      .orderBy(col("flag"), col("status"))


  /** CUBE grouping sets. */
  protected def q27(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(sum(cents(col("o_totalprice"))).as("sum_price_c"), count(lit(1)).as("n_orders"))
      .select(
        coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("sum_price_c"), col("n_orders"))
      .orderBy(col("status"), col("priority"))


  /** JSON extraction from the events.props column. */
  protected def q26(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(col("event_type"), get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy(col("event_type"))
      .agg(sum(col("k")).as("sum_k"), count(lit(1)).as("n"))
      .orderBy(col("event_type"))

  // ---- reference dataflow algebra via the DataStream facade ----


  /** As-of join: each purchase event picks up the user's most recent click
    * at-or-before it (union-merge implementation — one shuffle, no
    * quadratic range join). */
  protected def q25(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val clicks = ev.where(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id").as("click_event_id"))
    AsOf.join(purchases, clicks, "user_id", "ts", "ts",
        Seq("click_event_id" -> "click_event_id"))
      .select(col("event_id"), col("user_id"),
        unix_millis(col("ts")).as("ts_ms"),
        coalesce(col("click_event_id"), lit(-1L)).as("click_event_id"))
      .orderBy(col("event_id"))
  }


  /** Approximate distinct (HLL++) — no oracle (estimator-specific values);
    * rows-only check, with exactness bounds asserted in the spec. */
  protected def q30(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(approx_count_distinct(col("l_partkey"), 0.01).as("approx_parts"),
        count(lit(1)).as("n_rows"))
      .orderBy(col("l_returnflag"))


  /** GROUPING SETS through the SQL surface (temp views + spark.sql) — the
    * engine's DSL-first design gets the SQL front for free once views are
    * registered (SURVEY §2.4 "SQL surface"). */
  protected def q31(s: SparkSession, dir: String): DataFrame = {
    Tables.registerAll(s, dir)
    s.sql(s"""
      SELECT coalesce(l_returnflag, 'ALL') AS flag,
             coalesce(l_linestatus, 'ALL') AS status,
             CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS sum_qty_c,
             count(*) AS n_rows
      FROM lineitem
      GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), (l_returnflag, l_linestatus))
      ORDER BY flag, status""")
  }


  /** Nested groupBy through the facade: re-grouping a grouped stream
    * composes keys (reference ComputeGrouping, SURVEY §2.1 #6) — the
    * composite key compiles to one multi-column hash aggregation, ONE
    * shuffle, not two. */
  protected def q32(s: SparkSession, dir: String): DataFrame = {
    import Expr._
    val li = DataStream.fromDF[(String, String, Double)](
      Tables.lineitem(s, dir).select(col("l_returnflag"), col("l_linestatus"),
        cents(col("l_quantity")).as("qc")))
    val nested = li.groupBy(t => t._1).groupBy(g => g.value._2)
    val agg = nested.fold(g => Expr.KeyValue(g.key, g.values.length))
    agg.toDF.select(
        col("value.key._1").as("flag"),
        col("value.key._2").as("status"),
        col("value.value").as("n_rows"))
      .orderBy(col("flag"), col("status"))
  }


  /** Range join: lineitems shipped within 30 days of their order's date —
    * equi-key plus range predicate; the equi conjunct keeps it a hash join
    * (the range alone would be a quadratic broadcast-nested-loop). */
  protected def q34(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    val o = Tables.orders(s, dir)
    li.join(o, li("l_orderkey") === o("o_orderkey") &&
        li("l_shipdate") >= o("o_orderdate") &&
        li("l_shipdate") < o("o_orderdate") + expr("INTERVAL 30 DAYS"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_fast_items"))
      .orderBy(col("o_orderpriority"))
  }


  /** The as-of join again, through the engine's OWN operator — custom
    * LogicalPlan + Strategy + SparkPlan (single-pass sorted merge, one
    * shuffle+sort per side). Checked against the same DuckDB ASOF oracle
    * as q25's compositional form. */
  protected def q37(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val clicks = ev.where(col("event_type") === "click")
      .select(col("user_id").as("c_uid"), col("ts").as("c_ts"), col("event_id").as("c_eid"))
    AsOf.joinNative(purchases, clicks, "user_id", "c_uid", "ts", "c_ts")
      .select(col("event_id"), col("user_id"),
        unix_millis(col("ts")).as("ts_ms"),
        coalesce(col("c_eid"), lit(-1L)).as("click_event_id"))
      .orderBy(col("event_id"))
  }


  /** Top-k frequent words via the native SpaceSaving sketch aggregate
    * (TypedImperativeAggregate with partial-agg and binary buffer
    * serialization). Run with capacity ≥ distinct keys, where SpaceSaving
    * is provably exact — hash-checkable against the exact oracle; the
    * approximate regime is covered by the spec's error-bound assertions. */
  protected def q38(s: SparkSession, dir: String): DataFrame = {
    Tables.documents(s, dir)
      .select(explode(Text.tokens(col("text"))).as("w"))
      .agg(Text.approxTopK(col("w"), 20, 4096).as("tk"))
      .select(explode(col("tk")).as("t"))
      .select(col("t.item").as("word"), col("t.count").as("cnt"))
      .orderBy(col("cnt").desc, col("word"))
  }


  /** Exact continuous percentiles (median / p95) per group — Spark
    * `percentile` and DuckDB `quantile_cont` share the linear-interpolation
    * definition, and the inputs are exact cents integers, so the doubles
    * hash-match. Scale note: exact percentile buffers per-group value
    * counts, so at 100 TB the production path is `approx_percentile`
    * (bounded-memory sketch, mergeable) — estimator-specific like q30's
    * HLL, hence exact is the oracle-checkable baseline here. */
  protected def q46(s: SparkSession, dir: String): DataFrame = {
    val priceC = "cast(round(l_extendedprice * 100) as bigint)"
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        expr(s"percentile($priceC, 0.5)").as("p50_c"),
        expr(s"percentile($priceC, 0.95)").as("p95_c"),
        count(lit(1)).as("n_rows"))
      .orderBy(col("l_returnflag"))
  }


  /** The 100 TB twin of [[q46]]: `approx_percentile` (Greenwald-Khanna
    * sketch) instead of exact `percentile`. Exact percentile buffers every
    * per-group value; the GK sketch is bounded-memory and mergeable, so the
    * aggregation stays partial-agg'd at any group size — this is the query
    * a production pipeline runs, with q46 as its oracle-checkable baseline.
    * No DuckDB oracle (sketch internals are estimator-specific, like q30's
    * HLL); the driver records rows-only, and SparkEntrySpec asserts the GK
    * rank-error contract (±n/accuracy ranks) against q46's exact values. */
  protected def q52(s: SparkSession, dir: String): DataFrame = {
    val priceC = "cast(round(l_extendedprice * 100) as bigint)"
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        expr(s"approx_percentile($priceC, 0.5, ${ApproxPercentileAccuracy})").as("p50_c"),
        expr(s"approx_percentile($priceC, 0.95, ${ApproxPercentileAccuracy})").as("p95_c"),
        count(lit(1)).as("n_rows"))
      .orderBy(col("l_returnflag"))
  }


  /** Histogram binning: fixed-width buckets over a measure, count + sum per
    * bucket. Bucket id is integer arithmetic (floor of scaled value) —
    * engine-portable, partial-agg'd, one tiny shuffle. */
  protected def q47(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .select(floor(col("l_quantity") / 10.0).cast("long").as("bucket"),
        cents(col("l_extendedprice")).as("price_c"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_rows"), sum(col("price_c")).as("sum_price_c"))
      .orderBy(col("bucket"))


  /** Skew-mitigated join: the salted form must produce EXACTLY the plain
    * join's rows (salting changes partitioning, never semantics) — checked
    * against the plain-join oracle. */
  protected def q48(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir).select(col("l_orderkey"), cents(col("l_quantity")).as("qty_c"))
    val o = Tables.orders(s, dir).select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
    graft.operators.Skew.saltedJoin(li, o, "l_orderkey", salts = 4)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_items"), sum(col("qty_c")).as("sum_qty_c"))
      .orderBy(col("o_orderpriority"))
  }


  /** Skew-PLANTED salted join — the twin of [[q48]] where salting is the
    * point, not just semantics-preserving: ~70% of orders collapse onto ONE
    * hot customer key, so the unsalted shuffle would put ~70% of the fact
    * table into a single reducer task (the straggler that stalls a 1000-
    * executor stage). [[graft.operators.Skew.saltedJoin]] spreads the hot
    * key across 32 row-uniform sub-keys — OperatorsSpec measures the
    * resulting (key, salt) histogram: max cell ≈ hot/32 — while the result,
    * checked against the plain-join oracle, is unchanged. */
  protected def q54(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
      .select(when(col("o_custkey") % 10 < 7, lit(1L)).otherwise(col("o_custkey")).as("k"),
        cents(col("o_totalprice")).as("price_c"))
    val c = Tables.customer(s, dir)
      .select(col("c_custkey").as("k"), col("c_mktsegment"))
    graft.operators.Skew.saltedJoin(o, c, "k", salts = 32)
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"), sum(col("price_c")).as("sum_price_c"))
      .orderBy(col("c_mktsegment"))
  }


  /** Facade calendar surface: events bucketed by (day-of-week, hour-of-day)
    * through the Expr date-part nodes — no raw epoch-ms arithmetic in user
    * code. Compiles to native date functions + one partial-agg'd count. */
  protected def q50(s: SparkSession, dir: String): DataFrame = {
    import Expr._
    val ev = DataStream.fromDF[Long](
      Tables.events(s, dir).select(unix_millis(col("ts")).as("value")))
    val counted = ev
      .map(ts => (ts.msDayOfWeek, ts.msHour))
      .groupBy(t => t)
      .fold(g => Expr.KeyValue(g.key, g.values.length))
    counted.toDF
      .select(col("value.key._1").as("dow"), col("value.key._2").as("hod"),
        col("value.value").as("n"))
      .orderBy(col("dow"), col("hod"))
  }


  /** Pivot: quantity (cents) per return flag, one column per line status.
    * The pivot values are ENUMERATED — `pivot(col)` without values runs a
    * driver-side distinct collect to discover them, an extra pass over the
    * fact table that a 100 TB pipeline declares away by naming its domain.
    * Map-side partial agg collapses each (flag, status) cell before the
    * one exchange on the group key. */
  protected def q59(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .select(col("l_returnflag"), col("l_linestatus"), cents(col("l_quantity")).as("qty_c"))
      .groupBy(col("l_returnflag"))
      .pivot("l_linestatus", Seq("F", "O"))
      .agg(sum(col("qty_c")))
      .withColumnRenamed("F", "qty_f_c")
      .withColumnRenamed("O", "qty_o_c")
      .orderBy(col("l_returnflag"))


  /** Unpivot (melt): three measure columns → (metric, value) rows, then
    * re-aggregated per (flag, metric). `unpivot` is a zero-shuffle Expand
    * (each input row emits one row per measure in the scan stage); the only
    * exchange is the final group-by. Measures are pre-scaled to exact
    * integers (cents / 1e-4) so the sums are order-independent. */
  protected def q62(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .select(col("l_returnflag"),
        cents(col("l_quantity")).as("qty_c"),
        cents(col("l_extendedprice")).as("price_c"),
        round(col("l_discount") * 10000).cast("long").as("disc_e4"))
      .unpivot(Array(col("l_returnflag")),
        Array(col("qty_c"), col("price_c"), col("disc_e4")), "metric", "v")
      .groupBy(col("l_returnflag"), col("metric"))
      .agg(sum(col("v")).as("total"))
      .orderBy(col("l_returnflag"), col("metric"))


  /** Correlated subqueries through the SQL surface: EXISTS, NOT EXISTS,
    * and a correlated scalar subquery in one statement — Catalyst
    * decorrelates all three into joins (no per-row re-execution), which is
    * the property that makes subqueries usable at 100 TB. Same SQL runs on
    * both engines. */
  protected def q70(s: SparkSession, dir: String): DataFrame = {
    Tables.registerAll(s, dir)
    s.sql(SubquerySql)
  }


  /** Distribution-analytic window functions over unique total orders:
    * ntile quartiles, percent_rank, cume_dist — deterministic because the
    * ORDER BY key (cents, orderkey) is unique. */
  protected def q71(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("price_c"), col("o_orderkey"))
    Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_orderpriority"),
        cents(col("o_totalprice")).as("price_c"))
      .select(col("o_orderkey"), col("o_orderpriority"),
        ntile(4).over(w).as("quartile"),
        percent_rank().over(w).as("pr"),
        cume_dist().over(w).as("cd"))
      .orderBy(col("o_orderkey"))
  }


  /** Z-order (Morton) clustering key over (l_partkey, l_suppkey) — the
    * layout pass behind multi-dimensional scan pruning
    * ([[graft.sources.Layout]]); exact integer bit-interleave, so the
    * whole layout decision is oracle-checkable. */
  protected def q83(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_linenumber"),
        graft.sources.Layout.zOrderKey(21, col("l_partkey"), col("l_suppkey")).as("zkey"))
      .orderBy(col("zkey"), col("l_orderkey"), col("l_linenumber"))


  /** PER-GROUP heavy hitters: q38's SpaceSaving sketch as a grouped
    * aggregate — one bounded-memory summary per language, partial-agg'd
    * map-side like any native aggregate (the per-group state is the
    * sketch's capacity, never the group's vocabulary). Capacity 4096 >>
    * per-lang vocab here, the provably-exact regime, so the oracle is the
    * exact per-group top-10. */
  protected def q99(s: SparkSession, dir: String): DataFrame = {
    Tables.documents(s, dir)
      .select(col("lang"), explode(Text.tokens(col("text"))).as("w"))
      .groupBy(col("lang"))
      .agg(Text.approxTopK(col("w"), 10, 4096).as("tk"))
      .select(col("lang"), explode(col("tk")).as("t"))
      .select(col("lang"), col("t.item").as("word"), col("t.count").as("cnt"))
      .orderBy(col("lang"), col("cnt").desc, col("word"))
  }


  /** EXACT global p50/p90/p99/max of l_extendedprice over every lineitem
    * row — rank selection through the distributed two-level order, where
    * a global exact `percentile` aggregate would buffer the whole column
    * in one task ([[graft.operators.Ranking.globalQuantiles]]). Type-1
    * quantiles: each answer is an actual data element, no interpolation
    * to mirror. */
  protected def q115(s: SparkSession, dir: String): DataFrame =
    graft.operators.Ranking.globalQuantiles(
        Tables.lineitem(s, dir), "l_extendedprice",
        bucket = expr("CAST(floor(l_extendedprice / 1000.0) AS BIGINT)"),
        idCol = "l_orderkey" /* not unique alone */,
        ps = Seq(0.5, 0.9, 0.99, 1.0))
      .orderBy(col("p"))


  /** Exact equi-depth decile binning of orders by total price — SQL
    * `ntile(10)` semantics bin-for-bin, computed through the distributed
    * two-level rank instead of ntile's SinglePartition window
    * ([[graft.operators.Ranking.equiDepthBins]]); reported as per-bin
    * (count, min, max) so the oracle checks every boundary placement. */
  protected def q117(s: SparkSession, dir: String): DataFrame =
    graft.operators.Ranking.equiDepthBins(
        Tables.orders(s, dir)
          .select(cents(col("o_totalprice")).as("price_c"), col("o_orderkey")),
        bucket = expr("price_c DIV 50000"), n = 10,
        col("price_c"), col("o_orderkey"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("price_c")).as("min_c"), max(col("price_c")).as("max_c"))
      .orderBy(col("bin"))


  /** Per-domain quality calibration: the exact within-language
    * percent_rank of every document's length — "top X% of EACH domain" as
    * an exact percentile cut, through the nested two-level rank so a
    * dominant language never serializes one window task
    * ([[graft.operators.Ranking.groupedPercentRank]]). The unique
    * (n_chars, doc_id) tiebreak collapses SQL rank() to row_number(), so
    * DuckDB's own percent_rank over the same key hash-matches. */
  protected def q120(s: SparkSession, dir: String): DataFrame =
    graft.operators.Ranking.groupedPercentRank(
        Tables.documents(s, dir).select(col("doc_id"), col("lang"), col("n_chars")),
        "lang", expr("n_chars DIV 256"), col("n_chars"), col("doc_id"))
      .orderBy(col("lang"), col("rank"))


  /** Count-min point-frequency service: sketch every token occurrence
    * into a 4×2048 CMS ([[graft.operators.CountMin]]), then estimate
    * each distinct token's frequency off the plan-literal model —
    * Bloom's model-not-data contract for counts. EXACT oracle despite
    * being an approximation: the ESTIMATE is a deterministic function
    * of the input (md5-derived 60-bit keys, splitmix64
    * Kirsch–Mitzenmacher positions, exact BIGINT cell sums), and DuckDB
    * replays the whole pipeline — splitmix64's mod-2⁶⁴ wrap arithmetic
    * emulated in UHUGEINT (xor + floor-div shifts + mul-mod), the
    * signed/unsigned seam closed by width = 2048 being a power of two
    * (floorMod ≡ low 11 bits under either representation). The spec
    * still proves the one-sided ε·N bound and merge linearity. */
  protected def q125(s: SparkSession, dir: String): DataFrame = {
    // the 3-shingle universe (thousands of keys at sf0.01 — a real
    // approximation regime for a 4×2048 sketch; the 31-token vocabulary
    // would be trivially exact)
    val sh = Tables.documents(s, dir)
      .select(explode(Text.fastWordShingles(col("text"), 3)).as("s"))
      .select(Dedup.shingleKey(col("s")).as("key"))
    val cms = graft.operators.CountMin.build(sh, "key", depth = 4, width = 2048)
    sh.distinct()
      .withColumn("est_count", cms.estimate(col("key")))
      .orderBy(col("key"))
  }


  /** Approximate distinct-count lifecycle (the HLL member of the sketch
    * family, on the q66/q119/q123 persisted-model contract): per-event-
    * type distinct users, built on 80% of the log, persisted bucketed,
    * then a batch absorbed by MERGING SKETCHES ONLY — no base re-scan
    * ([[graft.operators.DistinctSketch]]). Rows-only by design (q30/q52
    * pattern); incremental ≡ rebuild and the error bound are spec'd. */
  protected def q133(s: SparkSession, dir: String): DataFrame = {
    val events = Tables.events(s, dir)
    val base = events.where(col("event_id") % 5 =!= 0)
    val batch = events.where(col("event_id") % 5 === 0)
    val statsTable = "graft_q133_distinct_stats_" +
      dirHash(dir)
    Tables.writeBucketed(
      graft.operators.DistinctSketch.groupSketches(base, "event_type", "user_id"),
      statsTable, buckets = 4, "event_type")
    graft.operators.DistinctSketch.estimates(
        graft.operators.DistinctSketch.updateSketches(
          s.table(statsTable), batch, "event_type", "user_id"),
        "event_type")
      .orderBy(col("event_type"))
  }


  /** Mergeable QUANTILE-sketch lifecycle (the rank member of the sketch
    * family, on q133's persisted-model contract): per-event-type value
    * percentiles, sketches built on 80% of the log, persisted bucketed,
    * the batch absorbed by MERGING SKETCHES ONLY — no base re-scan.
    * Rows-only by design (the q30/q52/q133 pattern); the bitwise
    * merge ≡ rebuild (both orders) and the value/rank error bounds are
    * spec'd in QuantileSketchSpec
    * ([[graft.operators.QuantileSketch]]). */
  protected def q262(s: SparkSession, dir: String): DataFrame = {
    val events = Tables.events(s, dir)
      .select(col("event_type"), cents(col("value")).as("v"))
    val base = events.where(pmod(col("v"), lit(5)) =!= 0)
    val batch = events.where(pmod(col("v"), lit(5)) === 0)
    val sketchTable = "graft_q262_quantile_sketch_" +
      dirHash(dir)
    Tables.writeBucketed(
      graft.operators.QuantileSketch.groupSketches(base, "event_type",
        col("v"), cap = 256),
      sketchTable, buckets = 4, "event_type")
    graft.operators.QuantileSketch.quantiles(
        graft.operators.QuantileSketch.mergeSketches(
          s.table(sketchTable),
          graft.operators.QuantileSketch.groupSketches(batch, "event_type",
            col("v"), cap = 256),
          "event_type", cap = 256),
        "event_type", Seq(50, 90, 99))
      .orderBy(col("event_type"), col("pct"))
  }


  /** Mergeable CARDINALITY lifecycle with a DETERMINISTIC bitmap state
    * (linear counting) — the distinct-count story UPGRADED from q133's
    * rows-only HLL to a fully HASH-GATED lifecycle: per-event-type
    * distinct users, bitmaps built on 80% of the log, persisted
    * bucketed, the batch absorbed by BIT-UNION ONLY (bitwise equal to a
    * rebuild — the q262/q264 doctrine), estimates via the
    * site-quantized linear-counting ln the oracle replays
    * ([[graft.operators.CardinalitySketch]]). */
  protected def q266(s: SparkSession, dir: String): DataFrame = {
    val events = Tables.events(s, dir)
    val base = events.where(col("event_id") % 5 =!= 0)
    val batch = events.where(col("event_id") % 5 === 0)
    val bmTable = "graft_q266_card_bitmap_" +
      dirHash(dir)
    Tables.writeBucketed(
      graft.operators.CardinalitySketch.groupBitmaps(base, "event_type",
        "user_id", m = 4096),
      bmTable, buckets = 4, "event_type")
    graft.operators.CardinalitySketch.estimates(
        graft.operators.CardinalitySketch.mergeBitmaps(
          s.table(bmTable),
          graft.operators.CardinalitySketch.groupBitmaps(batch, "event_type",
            "user_id", m = 4096),
          "event_type"),
        "event_type", m = 4096)
      .orderBy(col("event_type"))
  }

  /** AUTO-RESIZING cardinality lifecycle — the q266 bitmap with
    * m-doubling and deterministic fold-down
    * ([[graft.operators.CardinalitySketch.groupBitmapsAuto]]): per-lang
    * distinct docs at m = 16, maxLevel = 3, so small langs store 16-slot
    * bitmaps while `en` climbs to 64 — and the persisted base (levels
    * 0–2 across langs at sf0.01) merges with a coarser batch ACROSS the
    * resize boundary by folding to the common level. Hash-gated: the
    * oracle rebuilds each side's auto level, takes the min, and rebuilds
    * the union's bitmap at that level — equality IS the
    * merge ≡ rebuild-at-common-level law, live at the gate. */
  protected def q269(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val base = docs.where(col("doc_id") % 5 =!= 0)
    val batch = docs.where(col("doc_id") % 5 === 0)
    val bmTable = "graft_q269_card_resize_" +
      dirHash(dir)
    Tables.writeBucketed(
      graft.operators.CardinalitySketch.groupBitmapsAuto(base, "lang",
        "doc_id", m = 16, maxLevel = 3),
      bmTable, buckets = 4, "lang")
    graft.operators.CardinalitySketch.estimatesLeveled(
        graft.operators.CardinalitySketch.mergeLeveled(
          s.table(bmTable),
          graft.operators.CardinalitySketch.groupBitmapsAuto(batch, "lang",
            "doc_id", m = 16, maxLevel = 3),
          "lang", m = 16),
        "lang", m = 16)
      .orderBy(col("lang"))
  }


  /** SECOND streaming CORRECTNESS row (q267 covers the foldWindow path;
    * this covers a stateful flatMapGroupsWithState lifecycle): q269's
    * base/batch doc slices replayed through the ACTUAL Structured
    * Streaming machinery via [[graft.streaming.Streams
    * .cardinalityAutoStream]] — base docs land in step 0, the batch in
    * step 1, a per-lang sentinel closes step 1 — and the LAST close per
    * lang (the cumulative base ∪ batch read) is hash-gated. The oracle
    * is the REBUILD semantics, which is the stream's actual contract
    * (its carried state is the finest bitmap, so every close is
    * bit-identical to batch `groupBitmapsAuto` + `estimatesLeveled`
    * over all closed values): level = the smallest non-saturated fold
    * of the UNION's key set. That is deliberately NOT q269's
    * merge-of-leveled-sketches oracle — the fold-down one-way note
    * means a merge's level is the min of its inputs while the stream
    * (holding fine bits) may read out finer; the two coincide exactly
    * when the sides' auto levels agree. The replay slice is
    * FIXED-COUNT (`doc_id < 2000`, ids dense from 0 — the q267 O(1)
    * discipline), mirrored in the oracle. */
  protected def q273(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val step = 1000000L
    val rows = Tables.documents(s, dir)
      .where(col("doc_id") < 2000)
      .select(col("lang"),
        when(col("doc_id") % 5 =!= 0, lit(0L)).otherwise(lit(step)).as("ts"),
        col("doc_id").cast("string").as("v"))
      .as[(String, Long, String)].collect().toSeq
    val flush = rows.map(_._1).distinct.sorted.map(l => (l, 2L * step, "zzz_flush"))
    val out = graft.streaming.Replay.appendOnce(s, rows, flush) { in =>
      graft.streaming.Streams.cardinalityAutoStream(
          in.as[(String, Long, String)], stepUs = step, m = 16, maxLevel = 3)
        .toDF("lang", "step", "level", "bits_set", "est_micro", "saturated")
    }
    // the sink holds one emission per CLOSED step; the gate reads the
    // last (cumulative) one per lang — a lang whose docs all fall in
    // one step closes at step 0, so "last" is by step, not a constant
    val w = Window.partitionBy(col("lang")).orderBy(col("step").desc)
    out.withColumn("_rn", row_number().over(w)).where(col("_rn") === 1)
      .select(col("lang"), col("level"), col("bits_set"),
        col("est_micro"), col("saturated"))
      .orderBy(col("lang"))
  }


  /** THIRD streaming CORRECTNESS row — the heavy-hitter twin
    * ([[graft.streaming.Streams.hitterStream]]), completing the gated
    * streaming trio (q267 windowed fold, q273 stateful cardinality,
    * this stateful top-k): per-lang word events from the FIXED-COUNT
    * slice `doc_id < 200` replayed through the real
    * flatMapGroupsWithState machinery — docs alternate two steps
    * (doc_id mod 2), a per-lang sentinel closes step 1 — and the LAST
    * close per lang is hash-gated. Run in the EXACT regime (cap 4096 ≫
    * the slice's per-lang distinct words — the q38/q264 capacity
    * doctrine), where the stream's chained canonical merges are
    * bit-equal to the batch top-k over all closed values, so the
    * oracle is q264's exact SQL top-k restricted to the slice. */
  protected def q274(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val step = 1000000L
    val rows = Tables.documents(s, dir)
      .where(col("doc_id") < 200)
      .select(col("lang"), (pmod(col("doc_id"), lit(2L)) * step).as("ts"),
        explode(Text.tokens(col("text"))).as("w"))
      .as[(String, Long, String)].collect().toSeq
    val flush = rows.map(_._1).distinct.sorted.map(l => (l, 2L * step, "zz"))
    val out = graft.streaming.Replay.appendOnce(s, rows, flush) { in =>
      graft.streaming.Streams.hitterStream(
          in.as[(String, Long, String)], stepUs = step, cap = 4096, k = 8)
        .toDF("lang", "step", "rank", "key", "cnt_lo", "cnt_up")
    }
    // each close emits k ranked rows, so "last close" is a per-lang
    // max-step window cut (a self-join on the sink view trips
    // conflicting-reference resolution), the q273 pattern
    out.withColumn("_mx",
        max(col("step")).over(Window.partitionBy(col("lang"))))
      .where(col("step") === col("_mx"))
      .select(col("lang"), col("rank"), col("key"), col("cnt_lo"),
        col("cnt_up"))
      .orderBy(col("lang"), col("rank"))
  }


  /** q274's replay in the APPROXIMATE regime — the streaming side of
    * q271: cap = 8 < the slice's per-lang vocabulary (~31+ distinct
    * words per lang-step), so every step close DROPS keys, the carried
    * summary's [lo, up] brackets are genuine, and the final close per
    * lang is the chained merge canon(step0) ⊕ canon(step1) — hash-gated
    * against the q271-style SQL replay of the canonical builds and the
    * merge rule, with the bracket invariant checked LIVE
    * (`ok = exact BETWEEN cnt_lo AND cnt_up` over the slice's exact
    * counts). Merging into the empty carried summary is identity
    * (thr 0, no absent-side mass), so the two-step stream replay is
    * exactly one batch merge — which is what the oracle replays. */
  protected def q276(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val step = 1000000L
    val toks = Tables.documents(s, dir)
      .where(col("doc_id") < 200)
      .select(col("doc_id"), col("lang"),
        explode(Text.tokens(col("text"))).as("w"))
    val rows = toks
      .select(col("lang"), (pmod(col("doc_id"), lit(2L)) * step).as("ts"),
        col("w"))
      .as[(String, Long, String)].collect().toSeq
    val flush = rows.map(_._1).distinct.sorted.map(l => (l, 2L * step, "zz"))
    val out = graft.streaming.Replay.appendOnce(s, rows, flush) { in =>
      graft.streaming.Streams.hitterStream(
          in.as[(String, Long, String)], stepUs = step, cap = 8, k = 5)
        .toDF("lang", "step", "rank", "key", "cnt_lo", "cnt_up")
    }
    val exact = toks.groupBy(col("lang"), col("w").as("key"))
      .agg(count(lit(1)).as("exact"))
    out.withColumn("_mx",
        max(col("step")).over(Window.partitionBy(col("lang"))))
      .where(col("step") === col("_mx"))
      .join(exact, Seq("lang", "key"))
      .select(col("lang"), col("rank"), col("key"), col("cnt_lo"),
        col("cnt_up"), col("exact"),
        col("exact").between(col("cnt_lo"), col("cnt_up")).as("ok"))
      .orderBy(col("lang"), col("rank"))
  }


  /** Mergeable HEAVY-HITTER summary lifecycle (the frequency member of
    * the sketch trio, on q133/q262's persisted-model contract): top-10
    * words per language, summaries built on 80% of the corpus,
    * persisted bucketed, the batch absorbed by MERGING SUMMARIES ONLY.
    * Run in the exact regime (cap ≥ per-group distinct — the q38
    * capacity doctrine), where merge ≡ rebuild with exact counts, so
    * the gate is HASH-CHECKED against the exact SQL top-k; the
    * approximate regime's [lo, up] bracket is spec'd
    * ([[graft.operators.HitterSketch]]). */
  protected def q264(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"),
        explode(Text.tokens(col("text"))).as("w"))
    val base = toks.where(col("doc_id") % 5 =!= 0)
    val batch = toks.where(col("doc_id") % 5 === 0)
    val sketchTable = "graft_q264_hitter_sketch_" +
      dirHash(dir)
    Tables.writeBucketed(
      graft.operators.HitterSketch.groupHitters(base, "lang", "w", cap = 4096),
      sketchTable, buckets = 4, "lang")
    graft.operators.HitterSketch.topK(
        graft.operators.HitterSketch.mergeHitters(
          s.table(sketchTable),
          graft.operators.HitterSketch.groupHitters(batch, "lang", "w",
            cap = 4096),
          "lang", cap = 4096),
        "lang", k = 10)
      .orderBy(col("lang"), col("rank"))
  }


  /** The heavy-hitter summary's APPROXIMATE regime at the gate — the
    * regime the round-12 chained-merge threshold fix
    * ([[graft.operators.HitterSketch.mergeHitters]] thr' =
    * max(thr_a+thr_b, dropped cnt_up)) exists for, previously exercised
    * only in specs: cap = 16 ≪ per-lang distinct words, so every build
    * DROPS keys (thr > 0) and the summaries carry genuine [lo, up]
    * brackets; the corpus splits into three slices (doc_id mod 3) and
    * the summaries CHAIN-merge (s0 ⊕ s1) ⊕ s2 — the shape whose
    * threshold rule the fix repaired. The bracket INVARIANT is checked
    * live: each emitted top-8 row joins its exact full-corpus count and
    * emits `ok = exact BETWEEN cnt_lo AND cnt_up` (must be all-true by
    * the merge induction). Fully HASH-GATED — every step (canonical
    * build, merge rule, keep rule, read rank) is a deterministic
    * function of the input multiset, so the DuckDB oracle replays the
    * builds and both merges verbatim.
    *
    * ## Scale shape (100 TB)
    * Identical to q264's lifecycle: builds are one partial-aggregable
    * exchange each + a group-partitioned top-cap window; merges touch
    * only ≤ cap-row-per-group summaries; the exact-count join is gate
    * instrumentation (the invariant column), not operator cost. */
  protected def q271(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.HitterSketch
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"),
        explode(Text.tokens(col("text"))).as("w"))
    def slice(r: Int): DataFrame = toks.where(col("doc_id") % 3 === r)
    val cap = 16
    val merged = HitterSketch.mergeHitters(
      HitterSketch.mergeHitters(
        HitterSketch.groupHitters(slice(0), "lang", "w", cap),
        HitterSketch.groupHitters(slice(1), "lang", "w", cap), "lang", cap),
      HitterSketch.groupHitters(slice(2), "lang", "w", cap), "lang", cap)
    val exact = toks.groupBy(col("lang"), col("w").as("key"))
      .agg(count(lit(1)).as("exact"))
    HitterSketch.topK(merged, "lang", k = 8)
      .join(exact, Seq("lang", "key"))
      .select(col("lang"), col("rank"), col("key"), col("cnt_lo"),
        col("cnt_up"), col("exact"),
        col("exact").between(col("cnt_lo"), col("cnt_up")).as("ok"))
      .orderBy(col("lang"), col("rank"))
  }


  /** Range-clustered sorted export round-trip: orders written as
    * `range=year/` directories, rows in (o_orderdate, o_orderkey) order
    * inside ([[graft.sources.Tables.writeSortedRange]] — deterministic
    * range boundaries, unlike Spark's sampled range partitioner), then
    * read BACK and profiled per range (count, date bounds, cents
    * checksum) — disjoint [d_min, d_max] windows are what make the
    * layout mergeable and partition-prunable. */
  protected def q138(s: SparkSession, dir: String): DataFrame = {
    val path = "/tmp/graft_q138_export_" +
      dirHash(dir)
    Tables.writeSortedRange(
      Tables.orders(s, dir).select(col("o_orderkey"), col("o_orderdate"),
        col("o_totalprice")),
      path, year(col("o_orderdate")), col("o_orderdate"), col("o_orderkey"))
    s.read.parquet(path)
      .groupBy(col("range").cast("long").as("range"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("o_orderdate")).as("d_min"), max(col("o_orderdate")).as("d_max"),
        sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
      .orderBy(col("range"))
  }


  /** TPC-H Q7 shape — VOLUME SHIPPING: cross-border trade revenue by
    * (supplier nation, customer nation, ship year) over every nation
    * pair. The five-way join exercises Catalyst's join planning
    * end-to-end: the two 25-row nation legs broadcast, supplier and
    * customer hash-join against the fact tables, AQE sizes the rest.
    * Revenue is exact cents-per-row BIGINT (the money rule), discount
    * factor exact at two decimals. */
  protected def q139(s: SparkSession, dir: String): DataFrame = {
    // both directions of trade between nations 1 and 2
    val supp = Tables.supplier(s, dir).select(col("s_suppkey"), col("s_nationkey"))
    val cust = Tables.customer(s, dir).select(col("c_custkey"), col("c_nationkey"))
    val li = Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_suppkey"),
      year(col("l_shipdate")).cast("long").as("l_year"),
      // exact cents: price and discount each exact at 2 decimals →
      // price·(100 − disc·100) is an exact integer per row
      (round(col("l_extendedprice") * 100).cast("long")
        * (lit(100L) - round(col("l_discount") * 100).cast("long"))).as("rev_e4"))
    val ord = Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey"))
    val nations = Tables.nation(s, dir)
      .select(col("n_nationkey"), col("n_name"))
    val joined = li
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(supp, col("l_suppkey") === col("s_suppkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(broadcast(nations.select(col("n_nationkey").as("snk"),
        col("n_name").as("supp_nation"))), col("s_nationkey") === col("snk"))
      .join(broadcast(nations.select(col("n_nationkey").as("cnk"),
        col("n_name").as("cust_nation"))), col("c_nationkey") === col("cnk"))
      .where(col("snk") =!= col("cnk"))
    joined.groupBy(col("supp_nation"), col("cust_nation"), col("l_year"))
      .agg(sum(col("rev_e4")).as("revenue_e4"), count(lit(1)).as("n_items"))
      .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
  }


  /** Exact per-source length quantiles by RANK SELECTION — q46's exact
    * percentiles without its per-group value buffer (the documented
    * memory cliff for dominant groups): the p-quantile is the element at
    * within-group rank ⌈p·n_g⌉ through groupedRank's nested two-level
    * scheme — no single-partition exchange, no interpolation arithmetic.
    * The quantiles are RATIONALS and the rank test is pure integer
    * comparison ((r−1)·den < num·n ≤ r·den), so the selection is
    * bit-exact type-1 for EVERY p — immune to the 0.07·100 =
    * 7.000000000000001 double-ceil hazard
    * ([[graft.operators.Ranking.groupedQuantilesRational]]). */
  protected def q141(s: SparkSession, dir: String): DataFrame =
    graft.operators.Ranking.groupedQuantilesRational(
        Tables.documents(s, dir).select(col("source"), col("n_chars"), col("doc_id")),
        "source", "n_chars",
        subBucket = expr("(n_chars - pmod(n_chars, 200L)) DIV 200L"),
        idCol = "doc_id", ps = Seq((1L, 4L), (1L, 2L), (9L, 10L)))
      .orderBy(col("source"), col("p"))


  /** TOKEN-WEIGHTED length quantiles per source — "the median document a
    * TOKEN lives in" (the mixture-weighting view of length: long docs
    * weigh in by their token mass, so the 50%/90% cut points describe
    * token exposure, not document counts). Exact rational selection over
    * the per-(source, n_chars) weight histogram
    * ([[graft.operators.Ranking.weightedQuantilesPerGroup]]). */
  protected def q166(s: SparkSession, dir: String): DataFrame =
    graft.operators.Ranking.weightedQuantilesPerGroup(
        graft.operators.Enrich.enrichedDocuments(s, dir)
          .select(col("source"), col("n_chars"), col("n_tokens").as("w")),
        "source", "n_chars", "w",
        subBucket = expr("n_chars DIV 64"),
        ps = Seq((1L, 2L), (9L, 10L)))
      .orderBy(col("source"), col("p"))


  /** URL HOST EXTRACTION + registrable-domain rollup — the crawl-side
    * canonicalization read (which domains dominate, how many distinct
    * hosts each spans): deterministic synthetic URLs enriched into the
    * text (the q51 pattern), host/domain pulled by the same RE2-safe
    * regexes on both engines, exact counts per registrable domain. */
  protected def q187(s: SparkSession, dir: String): DataFrame = {
    val tld = element_at(array(lit(".com"), lit(".org"), lit(".net"), lit(".io")),
      (pmod(col("doc_id"), lit(4)) + 1).cast("int"))
    val enriched = Tables.documents(s, dir).select(col("doc_id"),
      concat(col("text"), lit(" see https://s"), pmod(col("doc_id"), lit(7)),
        lit(".site"), pmod(col("doc_id"), lit(23)), tld,
        lit("/p/"), col("doc_id"), lit(" for details")).as("t"))
    enriched
      .select(col("doc_id"),
        regexp_extract(col("t"), "https://([^/\\s]+)", 1).as("host"))
      .select(col("doc_id"), col("host"),
        regexp_extract(col("host"), "([^.]+\\.[^.]+)$", 1).as("domain"))
      .groupBy(col("domain"))
      .agg(count(lit(1)).as("n_docs"), countDistinct(col("host")).as("n_hosts"))
      .orderBy(col("domain"))
  }


  /** COLUMN PROFILER — per-column null count, distinct count, and
    * lexicographic string bounds over lineitem's key/flag columns in ONE
    * stacked pass (every profile cell an exact count or a string
    * min/max — the ingestion health report run before trusting a new
    * drop; string bounds are the deliberately engine-stable choice). */
  protected def q199(s: SparkSession, dir: String): DataFrame = {
    val cols = Seq("l_orderkey", "l_partkey", "l_suppkey",
      "l_returnflag", "l_linestatus")
    Tables.lineitem(s, dir)
      .select(explode(array(cols.map(c =>
        struct(lit(c).as("col_name"), col(c).cast("string").as("v"))): _*)).as("p"))
      .select(col("p.col_name").as("col_name"), col("p.v").as("v"))
      .groupBy(col("col_name"))
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("v").isNull, 1L).otherwise(0L)).as("n_null"),
        countDistinct(col("v")).as("n_distinct"),
        min(col("v")).as("min_s"), max(col("v")).as("max_s"))
      .orderBy(col("col_name"))
  }


  /** REFERENTIAL-INTEGRITY audit — orphan counts for every foreign key
    * of the star schema via left-anti joins (broadcast where the parent
    * is a dim): the load-order/consistency check a warehouse runs after
    * every ingest; all-zero orphans IS the contract being verified. */
  protected def q200(s: SparkSession, dir: String): DataFrame = {
    def rel(name: String, child: DataFrame, ck: String,
            parent: DataFrame, pk: String): DataFrame = {
      val orphans = child.select(col(ck))
        .join(parent.select(col(pk).as(ck)), Seq(ck), "left_anti")
      child.agg(count(lit(1)).as("n_child"))
        .crossJoin(orphans.agg(count(lit(1)).as("n_orphans")))
        .select(lit(name).as("relationship"), col("n_child"), col("n_orphans"))
    }
    val li = Tables.lineitem(s, dir)
    rel("lineitem.orderkey->orders", li, "l_orderkey", Tables.orders(s, dir), "o_orderkey")
      .unionByName(rel("lineitem.partkey->part", li, "l_partkey", Tables.part(s, dir), "p_partkey"))
      .unionByName(rel("lineitem.suppkey->supplier", li, "l_suppkey", Tables.supplier(s, dir), "s_suppkey"))
      .unionByName(rel("orders.custkey->customer", Tables.orders(s, dir), "o_custkey", Tables.customer(s, dir), "c_custkey"))
      .unionByName(rel("customer.nationkey->nation", Tables.customer(s, dir), "c_nationkey", Tables.nation(s, dir), "n_nationkey"))
      .orderBy(col("relationship"))
  }


  protected def oraclesCore: Map[String, String] = Map(
      "q01_group_agg" ->
        s"""SELECT l_returnflag, l_linestatus,
           CAST(sum(${C.format("l_quantity")}) AS BIGINT) AS sum_qty_c,
           CAST(sum(${C.format("l_extendedprice")}) AS BIGINT) AS sum_price_c,
           CAST(sum(${C.format("l_extendedprice * (1.0 - l_discount)")}) AS BIGINT) AS sum_disc_price_c,
           count(*) AS n_rows
           FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""",

      "q02_filter_pushdown" ->
        s"""SELECT CAST(sum(CAST(round(l_extendedprice * l_discount * 10000) AS BIGINT)) AS BIGINT) AS revenue_e4,
           count(*) AS n_rows
           FROM lineitem
           WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
             AND l_discount >= 0.05 AND l_quantity < 25.0""",

      "q03_join_agg" ->
        s"""SELECT n_name, CAST(sum(${C.format("o_totalprice")}) AS BIGINT) AS revenue_c,
           count(*) AS n_orders
           FROM orders JOIN customer ON o_custkey = c_custkey
           JOIN nation ON c_nationkey = n_nationkey
           GROUP BY n_name ORDER BY n_name""",

      "q04_topk" ->
        s"""SELECT c_custkey, c_name, revenue_c FROM (
             SELECT o_custkey, CAST(sum(${C.format("o_totalprice")}) AS BIGINT) AS revenue_c
             FROM orders GROUP BY o_custkey) r
           JOIN customer ON o_custkey = c_custkey
           ORDER BY revenue_c DESC, c_custkey ASC LIMIT 10""",

      "q05_semi_join" ->
        """SELECT c_custkey, c_mktsegment FROM customer
           WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 200000.0)
           ORDER BY c_custkey""",

      "q06_anti_join" ->
        """SELECT c_custkey, c_name FROM customer
           WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
           ORDER BY c_custkey""",

      "q07_set_ops" ->
        """SELECT k, 'has_orders' AS tag FROM (
             SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'BUILDING'
             INTERSECT SELECT o_custkey AS k FROM orders)
           UNION ALL
           SELECT k, 'no_orders' AS tag FROM (
             SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'BUILDING'
             EXCEPT SELECT o_custkey AS k FROM orders)
           ORDER BY tag, k""",

      "q08_distinct_agg" ->
        """SELECT l_suppkey, CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts,
           CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders, count(*) AS n_rows
           FROM lineitem GROUP BY l_suppkey ORDER BY l_suppkey""",

      "q09_window_topn" ->
        s"""SELECT o_custkey, rn, o_orderkey, price_c FROM (
             SELECT o_custkey, o_orderkey, ${C.format("o_totalprice")} AS price_c,
               row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
             FROM orders) t
           WHERE rn <= 3 ORDER BY o_custkey, rn""",

      "q10_running_sum" ->
        s"""SELECT event_id, user_id,
           CAST(sum(${C.format("value")}) OVER (
             PARTITION BY user_id ORDER BY ts ASC, event_id ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS running_c
           FROM events ORDER BY event_id""",

      "q11_lag_lead" ->
        """SELECT event_id, user_id,
           coalesce(lag(event_id) OVER w, -1) AS prev_event_id,
           coalesce(lead(event_id) OVER w, -1) AS next_event_id,
           coalesce(epoch_ms(ts) - epoch_ms(lag(ts) OVER w), -1) AS gap_ms
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
           ORDER BY event_id""",

      "q12_rollup" ->
        s"""SELECT coalesce(l_returnflag, 'ALL') AS flag, coalesce(l_linestatus, 'ALL') AS status,
           CAST(sum(${C.format("l_quantity")}) AS BIGINT) AS sum_qty_c, count(*) AS n_rows
           FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
           ORDER BY flag, status""",

      "q27_cube" ->
        s"""SELECT coalesce(o_orderstatus, 'ALL') AS status, coalesce(o_orderpriority, 'ALL') AS priority,
           CAST(sum(${C.format("o_totalprice")}) AS BIGINT) AS sum_price_c, count(*) AS n_orders
           FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
           ORDER BY status, priority""",

      "q26_json" ->
        """SELECT event_type, CAST(sum(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS sum_k,
           count(*) AS n
           FROM events GROUP BY event_type ORDER BY event_type""",

      // DuckDB dayofweek is 0=Sunday..6; the engine (and SQL convention)
      // uses 1=Sunday..7 — hence the +1
      "q50_facade_dateparts" ->
        """SELECT CAST(dayofweek(ts) + 1 AS BIGINT) AS dow,
             CAST(hour(ts) AS BIGINT) AS hod, count(*) AS n
           FROM events GROUP BY 1, 2 ORDER BY dow, hod""",

      "q25_asof_join" ->
        """SELECT p.event_id, p.user_id, CAST(epoch_ms(p.ts) AS BIGINT) AS ts_ms,
           coalesce(c.click_event_id, -1) AS click_event_id
           FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') p
           ASOF LEFT JOIN (SELECT user_id, ts, event_id AS click_event_id FROM events WHERE event_type = 'click') c
             ON p.user_id = c.user_id AND p.ts >= c.ts
           ORDER BY p.event_id""",

      "q37_asof_native" ->
        """SELECT p.event_id, p.user_id, CAST(epoch_ms(p.ts) AS BIGINT) AS ts_ms,
           coalesce(c.click_event_id, -1) AS click_event_id
           FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') p
           ASOF LEFT JOIN (SELECT user_id, ts, event_id AS click_event_id FROM events WHERE event_type = 'click') c
             ON p.user_id = c.user_id AND p.ts >= c.ts
           ORDER BY p.event_id""",

      "q46_percentiles" ->
        s"""SELECT l_returnflag,
           quantile_cont(${C.format("l_extendedprice")}, 0.5) AS p50_c,
           quantile_cont(${C.format("l_extendedprice")}, 0.95) AS p95_c,
           count(*) AS n_rows
           FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",

      "q47_histogram" ->
        s"""SELECT CAST(floor(l_quantity / 10.0) AS BIGINT) AS bucket,
           count(*) AS n_rows,
           CAST(sum(${C.format("l_extendedprice")}) AS BIGINT) AS sum_price_c
           FROM lineitem GROUP BY 1 ORDER BY bucket""",

      "q48_salted_join" ->
        s"""SELECT o_orderpriority, count(*) AS n_items,
           CAST(sum(${C.format("l_quantity")}) AS BIGINT) AS sum_qty_c
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           GROUP BY o_orderpriority ORDER BY o_orderpriority""",

      // plain (unsalted) join over the same planted-hot-key derivation —
      // salting must not change a single row
      "q54_skewed_salted_join" ->
        s"""WITH o AS (
             SELECT CASE WHEN o_custkey % 10 < 7 THEN 1 ELSE o_custkey END AS k,
               ${C.format("o_totalprice")} AS price_c FROM orders)
           SELECT c_mktsegment, count(*) AS n_orders,
             CAST(sum(price_c) AS BIGINT) AS sum_price_c
           FROM o JOIN customer ON k = c_custkey
           GROUP BY c_mktsegment ORDER BY c_mktsegment""",

      // linear-counting cardinality lifecycle: deterministic md5-slot
      // bitmaps, bit-union merge, site-quantized estimate ln replayed
      "q266_cardinality_lifecycle" ->
        """WITH s AS (
             SELECT DISTINCT event_type,
               ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT
                 % 4096 AS slot
             FROM events),
           b AS (SELECT event_type, CAST(count(*) AS BIGINT) AS bits_set
                 FROM s GROUP BY event_type)
           SELECT event_type, bits_set,
             CASE WHEN bits_set < 4096 THEN
               CAST(round(ln(4096.0 / (4096.0 - bits_set)) * 4096.0 * 1e6)
                 AS BIGINT)
             END AS est_micro,
             bits_set >= 4096 AS saturated
           FROM b ORDER BY event_type""",

      // auto-resizing cardinality lifecycle: per-side auto level = the
      // smallest non-saturated fold (maxLevel 3 if none), merge level =
      // least of the sides, merged bitmap REBUILT from the union at that
      // level — hash equality proves the engine's fold-down merge is
      // bitwise the rebuild
      "q269_cardinality_resize" ->
        """WITH fa AS (SELECT DISTINCT lang,
               ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                 % 128 AS s
             FROM documents WHERE doc_id % 5 <> 0),
           fb AS (SELECT DISTINCT lang,
               ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                 % 128 AS s
             FROM documents WHERE doc_id % 5 = 0),
           lv AS (SELECT unnest([0, 1, 2, 3]) AS j),
           ba AS (SELECT lang, j, count(DISTINCT s % (16 * (1 << j))) AS b
                  FROM fa, lv GROUP BY 1, 2),
           bb AS (SELECT lang, j, count(DISTINCT s % (16 * (1 << j))) AS b
                  FROM fb, lv GROUP BY 1, 2),
           ja AS (SELECT lang, min(CASE WHEN b < 16 * (1 << j) OR j = 3
                    THEN j END) AS jl FROM ba GROUP BY 1),
           jb AS (SELECT lang, min(CASE WHEN b < 16 * (1 << j) OR j = 3
                    THEN j END) AS jl FROM bb GROUP BY 1),
           jc AS (SELECT coalesce(ja.lang, jb.lang) AS lang,
                    least(coalesce(ja.jl, jb.jl), coalesce(jb.jl, ja.jl)) AS jl
                  FROM ja FULL OUTER JOIN jb ON ja.lang = jb.lang),
           mg AS (SELECT f.lang, jc.jl,
                    count(DISTINCT f.s % (16 * (1 << jc.jl))) AS bits
                  FROM (SELECT * FROM fa UNION SELECT * FROM fb) f
                  JOIN jc ON f.lang = jc.lang GROUP BY 1, 2)
           SELECT lang, CAST(jl AS BIGINT) AS level,
             CAST(bits AS BIGINT) AS bits_set,
             CASE WHEN bits < 16 * (1 << jl) THEN
               CAST(round(ln((16 * (1 << jl)) * 1.0 /
                   ((16 * (1 << jl)) - bits)) * (16 * (1 << jl)) * 1e6)
                 AS BIGINT)
             END AS est_micro,
             bits >= 16 * (1 << jl) AS saturated
           FROM mg ORDER BY lang""",

      // streaming auto-resizing cardinality: the stream's contract is
      // REBUILD semantics (its state is the finest bitmap), so the
      // oracle computes, per lang over the union of the fixed-count
      // replay slice, the smallest non-saturated fold level and the
      // bits/site-quantized-ln estimate at that level
      "q273_cardinality_stream" ->
        """WITH f AS (SELECT DISTINCT lang,
               ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                 % 128 AS s
             FROM documents WHERE doc_id < 2000),
           lv AS (SELECT unnest([0, 1, 2, 3]) AS j),
           b AS (SELECT lang, j, count(DISTINCT s % (16 * (1 << j))) AS b
                 FROM f, lv GROUP BY 1, 2),
           jl AS (SELECT lang, min(CASE WHEN b < 16 * (1 << j) OR j = 3
                    THEN j END) AS jl FROM b GROUP BY 1),
           mg AS (SELECT f.lang, jl.jl,
                    count(DISTINCT f.s % (16 * (1 << jl.jl))) AS bits
                  FROM f JOIN jl ON f.lang = jl.lang GROUP BY 1, 2)
           SELECT lang, CAST(jl AS BIGINT) AS level,
             CAST(bits AS BIGINT) AS bits_set,
             CASE WHEN bits < 16 * (1 << jl) THEN
               CAST(round(ln((16 * (1 << jl)) * 1.0 /
                   ((16 * (1 << jl)) - bits)) * (16 * (1 << jl)) * 1e6)
                 AS BIGINT)
             END AS est_micro,
             bits >= 16 * (1 << jl) AS saturated
           FROM mg ORDER BY lang""",

      // streaming hitter twin in the exact regime: the stream's chained
      // canonical merges are bit-equal to the batch top-k over all
      // closed values, so the oracle is the exact per-lang top-8 over
      // the fixed-count replay slice
      "q274_hitter_stream" ->
        s"""WITH t AS (SELECT lang, unnest($toks) AS w FROM documents
                      WHERE doc_id < 200),
           c AS (SELECT lang, w, CAST(count(*) AS BIGINT) AS cnt
                 FROM t GROUP BY 1, 2),
           r AS (SELECT lang, w, cnt,
                   CAST(row_number() OVER (PARTITION BY lang
                     ORDER BY cnt DESC, w ASC) AS BIGINT) AS rank
                 FROM c)
           SELECT lang, rank, w AS key, cnt AS cnt_lo, cnt AS cnt_up
           FROM r WHERE rank <= 8 ORDER BY lang, rank""",

      // the streaming approximate regime: canonical builds (cap 8) of
      // the two step slices, ONE merge by the engine's exact rule, top-5
      // read, live bracket invariant — the q271 CTE machinery restricted
      // to the fixed-count replay slice
      "q276_hitter_stream_bracket" ->
        s"""WITH t AS (SELECT doc_id, lang, unnest($toks) AS w FROM documents
                      WHERE doc_id < 200),
           c0 AS (SELECT lang, w, CAST(count(*) AS BIGINT) AS cnt FROM t WHERE doc_id % 2 = 0 GROUP BY 1, 2),
           c1 AS (SELECT lang, w, CAST(count(*) AS BIGINT) AS cnt FROM t WHERE doc_id % 2 = 1 GROUP BY 1, 2),
           r0 AS (SELECT lang, w, cnt, row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, w ASC) AS rn FROM c0),
           r1 AS (SELECT lang, w, cnt, row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, w ASC) AS rn FROM c1),
           s0 AS (SELECT lang, w AS key, cnt AS lo, cnt AS up FROM r0 WHERE rn <= 8),
           s1 AS (SELECT lang, w AS key, cnt AS lo, cnt AS up FROM r1 WHERE rn <= 8),
           t0 AS (SELECT lang, coalesce(max(CASE WHEN rn > 8 THEN cnt END), 0) AS thr FROM r0 GROUP BY lang),
           t1 AS (SELECT lang, coalesce(max(CASE WHEN rn > 8 THEN cnt END), 0) AS thr FROM r1 GROUP BY lang),
           g1 AS (SELECT coalesce(a.lang, b.lang) AS lang,
                    coalesce(a.thr, 0) AS thra, coalesce(b.thr, 0) AS thrb
                  FROM t0 a FULL OUTER JOIN t1 b ON a.lang = b.lang),
           j1 AS (SELECT g.lang, coalesce(a.key, b.key) AS key,
                    coalesce(a.lo, 0) + coalesce(b.lo, 0) AS lo,
                    coalesce(a.up, g.thra) + coalesce(b.up, g.thrb) AS up
                  FROM s0 a FULL OUTER JOIN s1 b
                    ON a.lang = b.lang AND a.key = b.key
                  JOIN g1 g ON g.lang = coalesce(a.lang, b.lang)),
           k1 AS (SELECT *, row_number() OVER (PARTITION BY lang ORDER BY up DESC, lo DESC, key ASC) AS rn FROM j1),
           rk AS (SELECT lang, key, lo, up,
                    CAST(row_number() OVER (PARTITION BY lang ORDER BY lo DESC, key ASC) AS BIGINT) AS rank
                  FROM k1 WHERE rn <= 8),
           ex AS (SELECT lang, w AS key, CAST(count(*) AS BIGINT) AS exact FROM t GROUP BY 1, 2)
           SELECT r.lang, r.rank, r.key, r.lo AS cnt_lo, r.up AS cnt_up,
             e.exact, e.exact BETWEEN r.lo AND r.up AS ok
           FROM rk r JOIN ex e ON r.lang = e.lang AND r.key = e.key
           WHERE r.rank <= 5 ORDER BY r.lang, r.rank""",

      // heavy-hitter lifecycle in the exact regime: merge == rebuild with
      // exact counts, so the gate is the exact per-language top-10
      "q264_hitter_lifecycle" ->
        s"""WITH t AS (SELECT lang, unnest($toks) AS w FROM documents),
           c AS (SELECT lang, w, CAST(count(*) AS BIGINT) AS cnt
                 FROM t GROUP BY 1, 2),
           r AS (SELECT lang, w, cnt,
                   CAST(row_number() OVER (PARTITION BY lang
                     ORDER BY cnt DESC, w ASC) AS BIGINT) AS rank
                 FROM c)
           SELECT lang, rank, w AS key, cnt AS cnt_lo, cnt AS cnt_up
           FROM r WHERE rank <= 10 ORDER BY lang, rank""",

      // the APPROXIMATE regime, chained: three canonical builds (cap 16,
      // thr = largest dropped count), two merges by the engine's exact
      // rule (lo adds; up adds with absent sides bounded by thr; keep
      // top-cap by (up desc, lo desc, key); thr' = max(thr_a+thr_b,
      // dropped cnt_up)), top-8 read by (lo desc, key), and the live
      // bracket invariant against exact full-corpus counts
      "q271_hitter_bracket" ->
        s"""WITH t AS (SELECT doc_id, lang, unnest($toks) AS w FROM documents),
           c0 AS (SELECT lang, w, CAST(count(*) AS BIGINT) AS cnt FROM t WHERE doc_id % 3 = 0 GROUP BY 1, 2),
           c1 AS (SELECT lang, w, CAST(count(*) AS BIGINT) AS cnt FROM t WHERE doc_id % 3 = 1 GROUP BY 1, 2),
           c2 AS (SELECT lang, w, CAST(count(*) AS BIGINT) AS cnt FROM t WHERE doc_id % 3 = 2 GROUP BY 1, 2),
           r0 AS (SELECT lang, w, cnt, row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, w ASC) AS rn FROM c0),
           r1 AS (SELECT lang, w, cnt, row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, w ASC) AS rn FROM c1),
           r2 AS (SELECT lang, w, cnt, row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, w ASC) AS rn FROM c2),
           s0 AS (SELECT lang, w AS key, cnt AS lo, cnt AS up FROM r0 WHERE rn <= 16),
           s1 AS (SELECT lang, w AS key, cnt AS lo, cnt AS up FROM r1 WHERE rn <= 16),
           s2 AS (SELECT lang, w AS key, cnt AS lo, cnt AS up FROM r2 WHERE rn <= 16),
           t0 AS (SELECT lang, coalesce(max(CASE WHEN rn > 16 THEN cnt END), 0) AS thr FROM r0 GROUP BY lang),
           t1 AS (SELECT lang, coalesce(max(CASE WHEN rn > 16 THEN cnt END), 0) AS thr FROM r1 GROUP BY lang),
           t2 AS (SELECT lang, coalesce(max(CASE WHEN rn > 16 THEN cnt END), 0) AS thr FROM r2 GROUP BY lang),
           g1 AS (SELECT coalesce(a.lang, b.lang) AS lang,
                    coalesce(a.thr, 0) AS thra, coalesce(b.thr, 0) AS thrb
                  FROM t0 a FULL OUTER JOIN t1 b ON a.lang = b.lang),
           j1 AS (SELECT g.lang, coalesce(a.key, b.key) AS key,
                    coalesce(a.lo, 0) + coalesce(b.lo, 0) AS lo,
                    coalesce(a.up, g.thra) + coalesce(b.up, g.thrb) AS up,
                    g.thra + g.thrb AS thr
                  FROM s0 a FULL OUTER JOIN s1 b
                    ON a.lang = b.lang AND a.key = b.key
                  JOIN g1 g ON g.lang = coalesce(a.lang, b.lang)),
           k1 AS (SELECT *, row_number() OVER (PARTITION BY lang ORDER BY up DESC, lo DESC, key ASC) AS rn FROM j1),
           d1 AS (SELECT lang, coalesce(max(CASE WHEN rn > 16 THEN up END), 0) AS dropup FROM k1 GROUP BY lang),
           m1 AS (SELECT k.lang, k.key, k.lo, k.up, greatest(k.thr, d.dropup) AS thr
                  FROM k1 k JOIN d1 d ON k.lang = d.lang WHERE k.rn <= 16),
           mt1 AS (SELECT DISTINCT lang, thr FROM m1),
           g2 AS (SELECT coalesce(a.lang, b.lang) AS lang,
                    coalesce(a.thr, 0) AS thra, coalesce(b.thr, 0) AS thrb
                  FROM mt1 a FULL OUTER JOIN t2 b ON a.lang = b.lang),
           j2 AS (SELECT g.lang, coalesce(a.key, b.key) AS key,
                    coalesce(a.lo, 0) + coalesce(b.lo, 0) AS lo,
                    coalesce(a.up, g.thra) + coalesce(b.up, g.thrb) AS up,
                    g.thra + g.thrb AS thr
                  FROM m1 a FULL OUTER JOIN s2 b
                    ON a.lang = b.lang AND a.key = b.key
                  JOIN g2 g ON g.lang = coalesce(a.lang, b.lang)),
           k2 AS (SELECT *, row_number() OVER (PARTITION BY lang ORDER BY up DESC, lo DESC, key ASC) AS rn FROM j2),
           d2 AS (SELECT lang, coalesce(max(CASE WHEN rn > 16 THEN up END), 0) AS dropup FROM k2 GROUP BY lang),
           m2 AS (SELECT k.lang, k.key, k.lo, k.up
                  FROM k2 k JOIN d2 d ON k.lang = d.lang WHERE k.rn <= 16),
           rk AS (SELECT lang, key, lo, up,
                    CAST(row_number() OVER (PARTITION BY lang ORDER BY lo DESC, key ASC) AS BIGINT) AS rank
                  FROM m2),
           ex AS (SELECT lang, w AS key, CAST(count(*) AS BIGINT) AS exact FROM t GROUP BY 1, 2)
           SELECT r.lang, r.rank, r.key, r.lo AS cnt_lo, r.up AS cnt_up,
             e.exact, e.exact BETWEEN r.lo AND r.up AS ok
           FROM rk r JOIN ex e ON r.lang = e.lang AND r.key = e.key
           WHERE r.rank <= 8 ORDER BY r.lang, r.rank""",

      "q38_topk_sketch" ->
        """SELECT word, cnt FROM (
             SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM (
               SELECT unnest(regexp_split_to_array(lower(text), '\s+')) AS word FROM documents) t
             WHERE word <> '' GROUP BY word
             ORDER BY cnt DESC, word LIMIT 20) x
           ORDER BY cnt DESC, word""",

      "q31_grouping_sets" ->
        s"""SELECT coalesce(l_returnflag, 'ALL') AS flag, coalesce(l_linestatus, 'ALL') AS status,
           CAST(sum(${C.format("l_quantity")}) AS BIGINT) AS sum_qty_c, count(*) AS n_rows
           FROM lineitem
           GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), (l_returnflag, l_linestatus))
           ORDER BY flag, status""",

      "q32_nested_groupby" ->
        """SELECT l_returnflag AS flag, l_linestatus AS status, count(*) AS n_rows
           FROM lineitem GROUP BY 1, 2 ORDER BY flag, status""",

      "q34_range_join" ->
        """SELECT o_orderpriority, count(*) AS n_fast_items
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             AND l_shipdate >= o_orderdate AND l_shipdate < o_orderdate + INTERVAL 30 DAY
           GROUP BY o_orderpriority ORDER BY o_orderpriority""",

      // the IDENTICAL statement Spark runs (SubquerySql) — decorrelation
      // is the engine's job; semantics are plain ANSI
      "q70_subquery" -> SubquerySql,

      "q71_dist_windows" ->
        s"""SELECT o_orderkey, o_orderpriority,
           ntile(4) OVER w AS quartile,
           percent_rank() OVER w AS pr,
           cume_dist() OVER w AS cd
           FROM (SELECT o_orderkey, o_orderpriority,
                   ${C.format("o_totalprice")} AS price_c FROM orders) t
           WINDOW w AS (PARTITION BY o_orderpriority ORDER BY price_c, o_orderkey)
           ORDER BY o_orderkey""",

      // Morton interleave, bit i of col k -> output bit 2i+k (partkey
      // even, suppkey odd) — pure integer shift/mask arithmetic
      "q83_zorder_key" ->
        """SELECT l_orderkey, l_linenumber,
             CAST(list_sum(list_transform(range(0, 21), i ->
               (((l_partkey >> i) & 1) << (2 * i)) +
               (((l_suppkey >> i) & 1) << (2 * i + 1)))) AS BIGINT) AS zkey
           FROM lineitem
           ORDER BY zkey, l_orderkey, l_linenumber""",

      "q59_pivot" ->
        s"""SELECT l_returnflag,
           CAST(sum(CASE WHEN l_linestatus = 'F' THEN ${C.format("l_quantity")} END) AS BIGINT) AS qty_f_c,
           CAST(sum(CASE WHEN l_linestatus = 'O' THEN ${C.format("l_quantity")} END) AS BIGINT) AS qty_o_c
           FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",

      "q62_unpivot" ->
        s"""SELECT l_returnflag, metric, CAST(sum(v) AS BIGINT) AS total FROM (
             SELECT l_returnflag, 'qty_c' AS metric, ${C.format("l_quantity")} AS v FROM lineitem
             UNION ALL
             SELECT l_returnflag, 'price_c' AS metric, ${C.format("l_extendedprice")} AS v FROM lineitem
             UNION ALL
             SELECT l_returnflag, 'disc_e4' AS metric,
               CAST(round(l_discount * 10000) AS BIGINT) AS v FROM lineitem) u
           GROUP BY l_returnflag, metric ORDER BY l_returnflag, metric""",

      // exact per-group top-10 — the sketch runs in its provably-exact
      // regime (capacity >> per-lang vocabulary), tiebreak (cnt desc, word)
      // on both engines
      "q99_group_topk_sketch" ->
        """WITH c AS (
             SELECT lang, word, CAST(count(*) AS BIGINT) AS cnt FROM (
               SELECT lang, unnest(regexp_split_to_array(lower(text), '\s+')) AS word
               FROM documents) t
             WHERE word <> '' GROUP BY lang, word),
           r AS (SELECT *, row_number() OVER (
                   PARTITION BY lang ORDER BY cnt DESC, word) AS rn FROM c)
           SELECT lang, word, cnt FROM r WHERE rn <= 10
           ORDER BY lang, cnt DESC, word""",

      // type-1 quantiles = the element at rank ceil(p*N) of the identical
      // (value, orderkey) total order — an actual data element on both
      // engines, no interpolation; full-key ties imply equal values, so
      // the selected value is deterministic
      "q115_global_quantiles" ->
        """WITH r AS (SELECT l_extendedprice AS v,
               row_number() OVER (ORDER BY l_extendedprice, l_orderkey) AS rnk
             FROM lineitem),
           n AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM lineitem),
           ps AS (SELECT unnest([0.5, 0.9, 0.99, 1.0]) AS p)
           SELECT ps.p, r.v AS value
           FROM ps, n, r
           WHERE r.rnk = CAST(ceil(ps.p * n.nn) AS BIGINT)
           ORDER BY p""",

      // ntile's SQL-standard bin widths (larger bins first) against the
      // engine's integer-arithmetic reconstruction over the distributed
      // rank — boundary placement checks exactly via per-bin min/max
      "q117_equidepth_bins" ->
        s"""WITH r AS (SELECT
             ntile(10) OVER (ORDER BY ${C.format("o_totalprice")}, o_orderkey) AS bin,
             ${C.format("o_totalprice")} AS price_c FROM orders)
           SELECT bin, CAST(count(*) AS BIGINT) AS n_rows,
             min(price_c) AS min_c, max(price_c) AS max_c
           FROM r GROUP BY bin ORDER BY bin""",

      // full-key uniqueness makes SQL's rank() equal row_number(), so the
      // engine's (rank-1)/(n-1) division IS percent_rank; singleton
      // groups are 0.0 on both engines
      "q120_domain_percentile" ->
        """SELECT doc_id, lang, n_chars,
             CAST(row_number() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS BIGINT) AS rank,
             percent_rank() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS pct_rank
           FROM documents ORDER BY lang, rank""",

      // the CMS estimate replayed exactly: splitmix64 in UHUGEINT
      // mod-2^64 arithmetic (xor + floor-div shifts + mul-mod; h2
      // forced odd), positions mod 2048 (power of two, so floorMod =
      // low bits under signed OR unsigned), cells = exact occurrence
      // sums, estimate = min over the 4 rows
      "q125_cms_frequency" ->
        s"""WITH t AS (SELECT $toks AS toks FROM documents),
           occ AS (SELECT CAST('0x' || substr(md5(s), 1, 15) AS BIGINT) AS key
                   FROM (SELECT unnest(${shingles(3)}) AS s FROM t)),
           kc AS (SELECT key, CAST(count(*) AS BIGINT) AS cnt FROM occ GROUP BY key),
           a1 AS (SELECT key, (CAST(key AS UHUGEINT) + 11400714819323198485) % 18446744073709551616 AS z FROM kc),
           a2 AS (SELECT key, (xor(z, z // 1073741824) * 13787848793156543929) % 18446744073709551616 AS z FROM a1),
           a3 AS (SELECT key, (xor(z, z // 134217728) * 10723151780598845931) % 18446744073709551616 AS z FROM a2),
           h1 AS (SELECT key, xor(z, z // 2147483648) AS h1 FROM a3),
           b1 AS (SELECT key, (xor(CAST(key AS UHUGEINT), 6364136223846793005) + 11400714819323198485) % 18446744073709551616 AS z FROM kc),
           b2 AS (SELECT key, (xor(z, z // 1073741824) * 13787848793156543929) % 18446744073709551616 AS z FROM b1),
           b3 AS (SELECT key, (xor(z, z // 134217728) * 10723151780598845931) % 18446744073709551616 AS z FROM b2),
           h2 AS (SELECT key, xor(z, z // 2147483648) - xor(z, z // 2147483648) % 2 + 1 AS h2 FROM b3),
           pos AS (SELECT h1.key, i,
                     CAST(i AS BIGINT) * 2048
                       + CAST((h1.h1 + CAST(i AS UHUGEINT) * h2.h2) % 18446744073709551616 % 2048 AS BIGINT) AS cell
                   FROM h1 JOIN h2 ON h1.key = h2.key, (SELECT unnest([0, 1, 2, 3]) AS i)),
           cells AS (SELECT pos.cell, CAST(sum(kc.cnt) AS BIGINT) AS cellcnt
                     FROM pos JOIN kc ON kc.key = pos.key GROUP BY pos.cell)
           SELECT kc.key, CAST(min(cells.cellcnt) AS BIGINT) AS est_count
           FROM kc JOIN pos ON pos.key = kc.key JOIN cells ON cells.cell = pos.cell
           GROUP BY kc.key ORDER BY kc.key""",

      // per-range profile of the sorted export — the round-trip through
      // range=year/ directories must preserve exactly the year groups
      "q138_sorted_export" ->
        """SELECT CAST(year(o_orderdate) AS BIGINT) AS range,
             CAST(count(*) AS BIGINT) AS n_rows,
             min(o_orderdate) AS d_min, max(o_orderdate) AS d_max,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
           FROM orders GROUP BY 1 ORDER BY range""",

      // TPC-H Q7 shape over every cross-border nation pair; revenue in
      // exact e4 units (cents × (100 − disc_cents))
      "q139_volume_shipping" ->
        """SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
             CAST(year(l_shipdate) AS BIGINT) AS l_year,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
               * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT) AS revenue_e4,
             CAST(count(*) AS BIGINT) AS n_items
           FROM lineitem
           JOIN orders ON l_orderkey = o_orderkey
           JOIN supplier ON l_suppkey = s_suppkey
           JOIN customer ON o_custkey = c_custkey
           JOIN nation sn ON s_nationkey = sn.n_nationkey
           JOIN nation cn ON c_nationkey = cn.n_nationkey
           WHERE sn.n_nationkey <> cn.n_nationkey
           GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""",

      // per-group rank selection mirrored literally (row_number + group
      // count + the same ceil(p·n) index) — no quantile builtin whose
      // convention could differ
      // rank selected by INTEGER comparison (r−1)·den < num·n ≤ r·den —
      // both engines do zero float arithmetic until the reported p =
      // num/den division of the same exact integers
      "q141_grouped_quantiles" ->
        """WITH r AS (
             SELECT source, n_chars, doc_id,
               CAST(row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS BIGINT) AS rnk,
               CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS gn
             FROM documents),
           j AS (SELECT r.*, pn, pd FROM r
                 CROSS JOIN (VALUES (1, 4), (1, 2), (9, 10)) AS q(pn, pd))
           SELECT source, CAST(pn AS DOUBLE) / CAST(pd AS DOUBLE) AS p,
                  n_chars AS value FROM j
           WHERE (rnk - 1) * pd < pn * gn AND pn * gn <= rnk * pd
           ORDER BY source, p""",

      // lower weighted quantile: smallest value with cw·den >= num·W,
      // all-BIGINT comparison over the (source, value) weight histogram
      "q166_weighted_quantiles" ->
        s"""WITH t AS (SELECT source, n_chars AS v,
                        CAST(len($toks) AS BIGINT) AS w FROM documents),
           h AS (SELECT source, v, CAST(sum(w) AS BIGINT) AS hw
                 FROM t GROUP BY source, v),
           c AS (SELECT source, v, hw,
                   CAST(sum(hw) OVER (PARTITION BY source ORDER BY v) AS BIGINT) AS cw
                 FROM h),
           tot AS (SELECT source, CAST(sum(hw) AS BIGINT) AS tw
                   FROM h GROUP BY source),
           q AS (SELECT CAST(num AS BIGINT) AS num, CAST(den AS BIGINT) AS den
                 FROM (VALUES (1, 2), (9, 10)) AS v(num, den)),
           sel AS (SELECT c.source, q.num, q.den, min(c.v) AS value
                   FROM c JOIN tot ON tot.source = c.source CROSS JOIN q
                   WHERE c.cw * q.den >= q.num * tot.tw
                   GROUP BY c.source, q.num, q.den)
           SELECT source, CAST(num AS DOUBLE) / CAST(den AS DOUBLE) AS p, value
           FROM sel ORDER BY source, p""",

      // same synthetic enrichment, same RE2-safe host/domain regexes
      "q187_url_hosts" ->
        """WITH e AS (SELECT doc_id,
               text || ' see https://s' || CAST(doc_id % 7 AS VARCHAR)
                    || '.site' || CAST(doc_id % 23 AS VARCHAR)
                    || ['.com', '.org', '.net', '.io'][CAST(doc_id % 4 + 1 AS INTEGER)]
                    || '/p/' || CAST(doc_id AS VARCHAR) || ' for details' AS t
             FROM documents),
           h AS (SELECT doc_id, regexp_extract(t, 'https://([^/\s]+)', 1) AS host FROM e),
           d AS (SELECT doc_id, host,
                   regexp_extract(host, '([^.]+\.[^.]+)$', 1) AS domain FROM h)
           SELECT domain, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(count(DISTINCT host) AS BIGINT) AS n_hosts
           FROM d GROUP BY domain ORDER BY domain""",

      // stacked per-column profile; string bounds are binary-collated on
      // both engines
      "q199_column_profile" -> {
        val stacked = Seq("l_orderkey", "l_partkey", "l_suppkey",
          "l_returnflag", "l_linestatus")
          .map(c => s"SELECT '$c' AS col_name, CAST($c AS VARCHAR) AS v FROM lineitem")
          .mkString("\n           UNION ALL\n           ")
        s"""WITH s AS (
           $stacked)
           SELECT col_name, CAST(count(*) AS BIGINT) AS n_rows,
             CAST(sum(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
             CAST(count(DISTINCT v) AS BIGINT) AS n_distinct,
             min(v) AS min_s, max(v) AS max_s
           FROM s GROUP BY col_name ORDER BY col_name"""
      },

      // five orphan scans; all-zero IS the contract
      "q200_fk_audit" ->
        """SELECT * FROM (
             SELECT 'customer.nationkey->nation' AS relationship,
               (SELECT CAST(count(*) AS BIGINT) FROM customer) AS n_child,
               (SELECT CAST(count(*) AS BIGINT) FROM customer
                  WHERE c_nationkey NOT IN (SELECT n_nationkey FROM nation)) AS n_orphans
             UNION ALL
             SELECT 'lineitem.orderkey->orders',
               (SELECT count(*) FROM lineitem),
               (SELECT count(*) FROM lineitem
                  WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders))
             UNION ALL
             SELECT 'lineitem.partkey->part',
               (SELECT count(*) FROM lineitem),
               (SELECT count(*) FROM lineitem
                  WHERE l_partkey NOT IN (SELECT p_partkey FROM part))
             UNION ALL
             SELECT 'lineitem.suppkey->supplier',
               (SELECT count(*) FROM lineitem),
               (SELECT count(*) FROM lineitem
                  WHERE l_suppkey NOT IN (SELECT s_suppkey FROM supplier))
             UNION ALL
             SELECT 'orders.custkey->customer',
               (SELECT count(*) FROM orders),
               (SELECT count(*) FROM orders
                  WHERE o_custkey NOT IN (SELECT c_custkey FROM customer))) u
           ORDER BY relationship""",
  )
}
