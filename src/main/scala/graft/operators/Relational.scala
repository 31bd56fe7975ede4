package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Exact.{d4, d4w, dec, dsum, pres, ratio4}
import graft.sources.Tables

/** Relational/OLAP operator coverage (SURVEY.md §2.2) on the TPC-H-ish
  * star schema.
  *
  * Scale notes: true dimension tables (region/nation/supplier/part) are
  * explicitly broadcast; customer is FACT-SIZED (150k rows × SF in
  * TPC-H), so it carries no hint — a forced broadcast is not demoted by
  * AQE and would drive toward the broadcast wall / driver OOM at 100×,
  * while AQE still picks a broadcast join on its own at small SF (the
  * PlanSpec pins this). Fact-fact joins shuffle on the join key and
  * rely on AQE for skew handling; all filters are plain column
  * predicates so Catalyst pushes them into the parquet scan.
  */
object Relational {

  private def ts(s: String): Column = lit(s).cast("timestamp")

  /** TPC-H Q1: scan + filter + wide aggregation, decimal-exact sums. */
  def q1PricingSummary(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    li.filter(col("l_shipdate") <= ts("1998-09-02 00:00:00"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        pres(dsum(col("l_quantity"), 2)).as("sum_qty"),
        pres(dsum(col("l_extendedprice"), 2)).as("sum_base_price"),
        pres(dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4))
          .as("sum_disc_price"),
        pres(dsum(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax")), 6)).as("sum_charge"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  /** TPC-H Q3: fact-fact shuffle join + broadcast customer dim + top-N. */
  def q3ShippingPriority(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir).filter(col("c_mktsegment") === "BUILDING")
    val ord  = Tables.orders(spark, dir).filter(col("o_orderdate") < ts("1998-03-15 00:00:00"))
    val li   = Tables.lineitem(spark, dir).filter(col("l_shipdate") > ts("1998-03-15 00:00:00"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"))
      .agg(pres(dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4))
        .as("revenue"))
      .orderBy(col("revenue").desc, col("o_orderdate"), col("l_orderkey"))
      .limit(10)
      .select(col("l_orderkey"), col("revenue"), col("o_orderdate"))
  }

  /** TPC-H Q4: EXISTS as a left-semi join with a non-equi residual. */
  def q4OrderPriority(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= ts("1996-07-01 00:00:00") &&
              col("o_orderdate") < ts("1996-10-01 00:00:00"))
    val li = Tables.lineitem(spark, dir)
    ord.join(li, col("o_orderkey") === col("l_orderkey") &&
                 col("l_shipdate") > col("o_orderdate"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
      .orderBy(col("o_orderpriority"))
  }

  /** TPC-H Q5: snowflake join, all dims broadcast. */
  def q5LocalSupplier(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir)
    val ord = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= ts("1996-01-01 00:00:00") &&
              col("o_orderdate") < ts("1997-01-01 00:00:00"))
    val li   = Tables.lineitem(spark, dir)
    val sup  = Tables.supplier(spark, dir)
    val nat  = Tables.nation(spark, dir)
    val reg  = Tables.region(spark, dir).filter(col("r_name") === "ASIA")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey") &&
                            col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(pres(dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4))
        .as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  /** TPC-H Q6: tight range filter + single aggregate (pushdown showcase). */
  def q6ForecastRevenue(spark: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= ts("1996-01-01 00:00:00") &&
              col("l_shipdate") < ts("1997-01-01 00:00:00") &&
              col("l_discount").between(0.02, 0.04) &&
              col("l_quantity") < 24)
      .agg(pres(dsum(col("l_extendedprice") * col("l_discount"), 4)).as("revenue"),
           count(lit(1)).as("n_rows"))
  }

  /** TPC-H Q10: returned-item revenue per customer, top 20. */
  def q10ReturnedItems(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir)
    val ord = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= ts("1996-01-01 00:00:00") &&
              col("o_orderdate") < ts("1996-04-01 00:00:00"))
    val li  = Tables.lineitem(spark, dir).filter(col("l_returnflag") === "R")
    val nat = Tables.nation(spark, dir)
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
      .agg(pres(dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4))
        .as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)
      .select(col("c_custkey"), col("c_name"), col("revenue"), col("c_acctbal"), col("n_name"))
  }

  /** TPC-H Q13: left outer join + two-level aggregation. */
  def q13CustomerDistribution(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir)
    val ord  = Tables.orders(spark, dir).filter(col("o_orderpriority") =!= "1-URGENT")
    val perCust = cust.join(ord, col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
    perCust.groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  /** TPC-H Q14: conditional aggregation over a broadcast part join. */
  def q14PromoRevenue(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= ts("1996-09-01 00:00:00") &&
              col("l_shipdate") < ts("1996-10-01 00:00:00"))
    val part = Tables.part(spark, dir)
    val disc = col("l_extendedprice") * (lit(1) - col("l_discount"))
    li.join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .agg(
        pres(sum(when(col("p_type") === "PROMO", dec(disc, 4)).otherwise(dec(lit(0), 4))))
          .as("promo_revenue"),
        pres(dsum(disc, 4)).as("total_revenue"))
  }

  /** TPC-H Q18: HAVING subquery (large orders) + join back. */
  def q18LargeOrders(spark: SparkSession, dir: String): DataFrame = {
    val li   = Tables.lineitem(spark, dir)
    val big  = li.groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity")).as("total_qty"))
      .filter(col("total_qty") > 150)
      .select(col("l_orderkey").as("big_orderkey"))
    val ord  = Tables.orders(spark, dir)
    val cust = Tables.customer(spark, dir)
    li.join(big, col("l_orderkey") === col("big_orderkey"), "left_semi")
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_name"), col("c_custkey"), col("o_orderkey"), col("o_orderdate"),
               col("o_totalprice"))
      .agg(pres(dsum(col("l_quantity"), 2)).as("sum_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(100)
  }

  /** TPC-H Q19: disjunctive multi-predicate join (predicate pushdown
    * through an OR of conjunctions). */
  def q19DiscountedRevenue(spark: SparkSession, dir: String): DataFrame = {
    val li   = Tables.lineitem(spark, dir)
    val part = Tables.part(spark, dir)
    val cond =
      (col("p_brand") === "Brand#12" && col("l_quantity").between(1, 11) &&
        col("p_size").between(1, 5)) ||
      (col("p_brand") === "Brand#23" && col("l_quantity").between(10, 20) &&
        col("p_size").between(1, 10)) ||
      (col("p_brand") === "Brand#34" && col("l_quantity").between(20, 30) &&
        col("p_size").between(1, 15))
    li.join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .filter(cond)
      .agg(pres(dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4))
             .as("revenue"),
           count(lit(1)).as("n_rows"))
  }

  /** Top-k rows per group via ranking window. */
  def topkPerGroup(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir)
    val w = Window.partitionBy(col("c_mktsegment"))
      .orderBy(col("c_acctbal").desc, col("c_custkey"))
    cust.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 5)
      .select(col("c_mktsegment"), col("c_custkey"), col("c_acctbal"), col("rnk"))
      .orderBy(col("c_mktsegment"), col("rnk"))
  }

  /** Running (cumulative) aggregation window over the event stream. */
  def runningTotal(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).filter(col("user_id") < 10)
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev.withColumn("running_value", pres(sum(dec(col("value"), 2)).over(w)))
      .select(col("user_id"), col("event_id"), col("running_value"))
      .orderBy(col("user_id"), col("event_id"))
  }

  /** GROUP BY ROLLUP hierarchy aggregation. */
  def rollupAgg(spark: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(spark, dir)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(pres(dsum(col("l_quantity"), 2)).as("sum_qty"),
           count(lit(1)).as("n_rows"))
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
  }

  /** CUBE grouping sets — all 2^k key subsets in one pass ([[rollupAgg]]
    * covers the hierarchy prefixes; CUBE is the full lattice). Spark
    * plans both through the same Expand + single hash aggregate, so the
    * 100 TB shape is one shuffle over (rows × 4 grouping sets).
    * `grouping()` flags disambiguate a real NULL key from a subtotal
    * row, which also keeps the sort deterministic cross-engine. */
  def cubeAgg(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir)
      .cube(col("o_orderpriority"), col("o_orderstatus"))
      .agg(
        // grouping() is only resolvable inside the grouping aggregate.
        grouping(col("o_orderpriority")).cast("int").as("g_prio"),
        grouping(col("o_orderstatus")).cast("int").as("g_status"),
        pres(dsum(col("o_totalprice"), 2)).as("sum_price"),
        count(lit(1)).as("n_orders"))
      .select(col("o_orderpriority"), col("o_orderstatus"),
        col("g_prio"), col("g_status"), col("sum_price"), col("n_orders"))
      .orderBy(col("g_prio"), col("g_status"),
        col("o_orderpriority").asc_nulls_first, col("o_orderstatus").asc_nulls_first)
  }

  /** Multiple DISTINCT aggregates in one pass. */
  def distinctAgg(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir)
      .groupBy(col("o_orderstatus"))
      .agg(
        countDistinct(col("o_custkey")).as("n_cust"),
        countDistinct(col("o_orderpriority")).as("n_prio"),
        count(lit(1)).as("n_orders"))
      .orderBy(col("o_orderstatus"))
  }

  /** Anti join: customers with no urgent orders. */
  def antiSemiJoin(spark: SparkSession, dir: String): DataFrame = {
    val cust   = Tables.customer(spark, dir)
    val urgent = Tables.orders(spark, dir).filter(col("o_orderpriority") === "1-URGENT")
    cust.join(urgent, col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))
  }

  /** Set operators: nations with customers vs nations with suppliers. */
  def setOps(spark: SparkSession, dir: String): DataFrame = {
    val cn = Tables.customer(spark, dir).select(col("c_nationkey").as("nationkey"))
    val sn = Tables.supplier(spark, dir).select(col("s_nationkey").as("nationkey"))
    val both     = cn.intersect(sn).withColumn("tag", lit("both"))
    val custOnly = cn.except(sn).withColumn("tag", lit("cust_only"))
    both.unionAll(custOnly)
      .select(col("tag"), col("nationkey"))
      .orderBy(col("tag"), col("nationkey"))
  }

  /** Manual pivot via conditional aggregation. */
  def pivotManual(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(spark, dir)
    def cnt(prio: String): Column =
      sum(when(col("o_orderpriority") === prio, 1L).otherwise(0L))
    ord.groupBy(col("o_orderstatus"))
      .agg(
        cnt("1-URGENT").as("n_urgent"),
        cnt("2-HIGH").as("n_high"),
        cnt("3-MEDIUM").as("n_medium"),
        cnt("4-NOT SPECIFIED").as("n_unspecified"),
        cnt("5-LOW").as("n_low"))
      .orderBy(col("o_orderstatus"))
  }

  /** TPC-H Q12 in spirit (the schema carries no l_shipmode /
    * l_commitdate): order-to-ship latency distribution per order
    * priority — date arithmetic + banded conditional counts over the
    * lineitem-orders join. */
  def shipLatency(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir).select(col("l_orderkey"), col("l_shipdate"))
    val ord = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
    val lat = datediff(col("l_shipdate"), col("o_orderdate"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(
        sum(when(lat <= 30, 1L).otherwise(0L)).as("n_fast"),
        sum(when(lat > 30 && lat <= 90, 1L).otherwise(0L)).as("n_mid"),
        sum(when(lat > 90, 1L).otherwise(0L)).as("n_slow"),
        min(lat).cast("int").as("min_days"),
        max(lat).cast("int").as("max_days"))
      .orderBy(col("o_orderpriority"))
  }

  /** Exact continuous quantiles: the interpolating `percentile`
    * aggregate (the exact counterpart of the approx sketch path —
    * both engines define q as linear interpolation at rank (n-1)*q,
    * so the result is oracle-checkable; presented at cents). At
    * 100 TB you'd reach for approx_percentile's KLL-style sketch —
    * this is the exactness baseline it is judged against. */
  def quantileAgg(spark: SparkSession, dir: String): DataFrame =
    quantileAggM(spark, dir).orderBy(col("l_returnflag"))

  /** The exact-quantile frame (pre-sort), memoized per (session, dir)
    * as a lineage-free checkpoint — |groups| rows. TWO declared
    * consumers re-ran the full two-level order-statistics pipeline per
    * call (quantile_agg itself, and quantile_sketch's error baseline —
    * six corpus passes per bench triplet); an exact baseline is
    * computed once per corpus and scored against, the
    * [[graft.similarity.Similarity]] recall-truth discipline (r17,
    * guide §1.2). */
  private val quantileAggCache =
    new graft.functions.SessionScopedCache[DataFrame]("relational.quantile_agg")

  private def quantileAggM(spark: SparkSession, dir: String): DataFrame =
    quantileAggCache.getOrCompute(spark, dir)(
      quantileAggRaw(spark, dir).localCheckpoint())

  /** The pipeline behind the memo — what the plan dumps pin. */
  private[graft] def quantileAggRaw(spark: SparkSession, dir: String): DataFrame = {
    // Exact interpolating quantiles as TWO-LEVEL ORDER STATISTICS +
    // lerp (the quantile_cont contract), not Spark's percentile()
    // aggregate (which buffers every value of a group in one
    // aggregation buffer — OOM-bound at 100 TB group sizes) and not a
    // per-group global sort window (parallelism = #groups; with 3
    // return flags that is three corpus-third sorts in three tasks —
    // the declared scale-killer class). The seq_packing decomposition
    // instead:
    //   1. count rows per (group, fixed-width value bucket) — one
    //      map-side-combined shuffle, the only corpus-wide exchange;
    //   2. prefix-sum the BUCKET counts per group (a window over
    //      #groups × #buckets aggregated rows, corpus-independent);
    //   3. locate the ≤ 2 bracketing ranks per percentile in their
    //      buckets (tiny frame joins);
    //   4. sort ONLY the located buckets' rows, partitioned by
    //      (group, bucket) — parallelism = #needed buckets, each task
    //      a bucket-sized sort, never a group-sized one.
    // The lerp v_lo·(1−f) + v_hi·f with f from p·(n−1) runs in the
    // same IEEE operation order as DuckDB's quantile_cont
    // (fuzz-matched bit for bit over random groups), which Spark's
    // percentile — a different interpolation expression — only matched
    // to within one ulp, occasionally flipping the rounded cent.
    val ps = Seq(("p50", 0.5), ("p95", 0.95), ("p99", 0.99))
    // Fixed-width monotone value buckets: no data-dependent bounds
    // pass needed, and equal values can never straddle a bucket cut.
    val vals = Tables.lineitem(spark, dir)
      .select(col("l_returnflag"), col("l_extendedprice").as("v"))
      .withColumn("b", floor(col("v") / 100.0))
    val cnt = vals.groupBy(col("l_returnflag"), col("b"))
      .agg(count(lit(1)).as("c"))
    val wB = org.apache.spark.sql.expressions.Window
      .partitionBy(col("l_returnflag")).orderBy(col("b"))
    // Bucket offsets + group totals — windows over the AGGREGATED
    // bucket-count frame (cardinality #groups × #value-buckets,
    // independent of the row count).
    val off = cnt
      .withColumn("off", sum(col("c")).over(wB) - col("c"))
      .withColumn("n", sum(col("c")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("l_returnflag"))))
    def idxOf(p: Double) = lit(p) * (col("n") - 1).cast("double")
    // The ≤ 2 bracketing ranks per percentile (1-based), located in
    // their buckets: rank r lives where off < r ≤ off + c.
    val ranks = off.select(col("l_returnflag"), col("n")).distinct()
      .select(col("l_returnflag"), col("n"), explode(array(ps.flatMap { case (_, p) =>
        Seq((floor(idxOf(p)) + 1).cast("long"), (floor(idxOf(p)) + 2).cast("long"))
      }: _*)).as("r"))
      .filter(col("r") <= col("n")) // p≈1 upper bracket may not exist
      .distinct()
    val located = ranks.join(off.drop("n"), Seq("l_returnflag"))
      .filter(col("r") > col("off") && col("r") <= col("off") + col("c"))
      .select(col("l_returnflag"), col("b"), col("r"), col("off"), col("n"))
    // Sort only the located buckets (≤ 6 per group), each in its own
    // (group, bucket) partition; the bucket offset turns the local
    // row_number into the global rank.
    val wBucket = org.apache.spark.sql.expressions.Window
      .partitionBy(col("l_returnflag"), col("b")).orderBy(col("v"))
    val statVals = vals
      .join(broadcast(located.select(col("l_returnflag"), col("b")).distinct()),
        Seq("l_returnflag", "b"), "left_semi")
      .withColumn("rn", row_number().over(wBucket))
      .join(broadcast(located), Seq("l_returnflag", "b"))
      .filter(col("off") + col("rn") === col("r"))
      .select(col("l_returnflag"), col("n"), col("r"), col("v"))
    // Fold the ≤ 6 (rank, value) rows per group back into lo/hi
    // brackets per percentile, then lerp exactly as before.
    val aggs = ps.flatMap { case (name, p) =>
      Seq(
        max(when(col("r") === (floor(idxOf(p)) + 1).cast("long"), col("v"))).as(s"_lo_$name"),
        max(when(col("r") === (floor(idxOf(p)) + 2).cast("long"), col("v"))).as(s"_hi_$name"))
    }
    val picked = statVals.groupBy(col("l_returnflag"), col("n"))
      .agg(aggs.head, aggs.tail: _*)
    val outs = ps.map { case (name, p) =>
      val frac = idxOf(p) - floor(idxOf(p)).cast("double")
      // coalesce: a single-row group has no upper bracket (f = 0 there).
      val lerp = col(s"_lo_$name") * (lit(1.0) - frac) +
        coalesce(col(s"_hi_$name"), col(s"_lo_$name")) * frac
      // Present at cents in the ORACLE's rounding: DuckDB rounds a
      // double as std::round(x·100)/100 — the scale-multiply can cross
      // a tie the exact decimal expansion sits below, so Spark's
      // exact-decimal round(x, 2) flips the last cent on such values.
      // round(x·100, 0)/100 reproduces DuckDB bit for bit (fuzz-checked).
      (round(lerp * 100.0, 0) / lit(100.0)).as(name)
    }
    picked
      .select(col("l_returnflag") +: outs :+ col("n").as("n_rows"): _*)
  }

  /** #29z quantile_sketch: approx_percentile — the bounded, MERGEABLE
    * per-group quantile summary that replaces [[quantileAgg]]'s exact
    * order statistics at 100 TB (the exact path sorts each group; the
    * sketch is a fixed-size buffer with map-side partial merge) — run
    * next to the exact baseline with self-reported relative errors per
    * percentile, the rows-only sketch gate pattern (approx_distinct,
    * ANN recall@k): the dump carries its own checkable quality column.
    * At accuracy 10⁴ the rank error is ≤ n/10⁴, so the relative value
    * errors sit near zero on this data; DedupSpec-style floors pin
    * them in RelationalSpec. */
  def quantileSketch(spark: SparkSession, dir: String): DataFrame = {
    val approx = Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(percentile_approx(col("l_extendedprice"),
        array(lit(0.5), lit(0.95), lit(0.99)), lit(10000)).as("ap"))
      .select(col("l_returnflag"),
        element_at(col("ap"), 1).as("approx_p50"),
        element_at(col("ap"), 2).as("approx_p95"),
        element_at(col("ap"), 3).as("approx_p99"))
    val exact = quantileAggM(spark, dir)
      .select(col("l_returnflag"), col("p50"), col("p95"), col("p99"))
    approx.join(exact, "l_returnflag")
      .select(col("l_returnflag"),
        col("approx_p50"), col("approx_p95"), col("approx_p99"),
        d4(abs(col("approx_p50") - col("p50")) / col("p50")).as("rel_err_p50"),
        d4(abs(col("approx_p95") - col("p95")) / col("p95")).as("rel_err_p95"),
        d4(abs(col("approx_p99") - col("p99")) / col("p99")).as("rel_err_p99"))
      .orderBy(col("l_returnflag"))
  }

  /** HLL sketch aggregation (approximate; rows-only check). */
  /** TPC-H Q17 analog: correlated scalar aggregation subquery
    * (per-part average), written as SQL so Catalyst's subquery
    * decorrelation (rewrite to an aggregated self-join) is the plan —
    * the subquery's average is computed ONCE per part in a shuffled
    * aggregate, not per outer row. The 0.2*avg threshold is computed in
    * exact-decimal-then-double space so the predicate is bit-identical
    * across engines. */
  def q17SmallQtyRevenue(spark: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(spark, dir).createOrReplaceTempView("graft_lineitem")
    Tables.part(spark, dir).createOrReplaceTempView("graft_part")
    spark.sql(
      """SELECT CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(30,2))), 2) AS DOUBLE) AS sum_revenue,
        | COUNT(*) AS n_rows
        |FROM graft_lineitem, graft_part
        |WHERE p_partkey = l_partkey AND p_brand = 'Brand#23'
        |  AND l_quantity < (
        |    SELECT CAST(SUM(CAST(l_quantity AS DECIMAL(30,2))) AS DOUBLE)
        |           / COUNT(*) * 0.2e0
        |    FROM graft_lineitem l2 WHERE l2.l_partkey = p_partkey)
        |""".stripMargin)
  }

  /** TPC-H Q22 analog: uncorrelated scalar subquery (global average
    * balance) + anti-join, grouped by market segment. */
  def q22NoOrderCustomers(spark: SparkSession, dir: String): DataFrame = {
    Tables.customer(spark, dir).createOrReplaceTempView("graft_customer")
    Tables.orders(spark, dir).createOrReplaceTempView("graft_orders")
    spark.sql(
      """SELECT c_mktsegment, COUNT(*) AS n_cust,
        | CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(30,2))), 2) AS DOUBLE) AS total_bal
        |FROM graft_customer
        |WHERE c_acctbal > (
        |    SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(30,2))) AS DOUBLE) / COUNT(*)
        |    FROM graft_customer WHERE c_acctbal > 0)
        |  AND NOT EXISTS (SELECT 1 FROM graft_orders
        |    WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment
        |""".stripMargin)
  }

  /** TPC-H Q7 analog: two-sided nation volume (the supplier's and the
    * customer's nation both constrain the join), grouped by year. */
  def q7NationVolume(spark: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(spark, dir).createOrReplaceTempView("graft_lineitem")
    Tables.orders(spark, dir).createOrReplaceTempView("graft_orders")
    Tables.customer(spark, dir).createOrReplaceTempView("graft_customer")
    Tables.supplier(spark, dir).createOrReplaceTempView("graft_supplier")
    Tables.nation(spark, dir).createOrReplaceTempView("graft_nation")
    spark.sql(
      """SELECT supp_nation, cust_nation, l_year, CAST(ROUND(SUM(volume), 2) AS DOUBLE) AS revenue
        |FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |        CAST(EXTRACT(YEAR FROM l_shipdate) AS INT) AS l_year,
        |        CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,4)) AS volume
        |      FROM graft_supplier, graft_lineitem, graft_orders, graft_customer,
        |           graft_nation n1, graft_nation n2
        |      WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
        |        AND c_custkey = o_custkey AND s_nationkey = n1.n_nationkey
        |        AND c_nationkey = n2.n_nationkey
        |        AND n1.n_name IN ('NATION_1','NATION_2','NATION_3','NATION_4')
        |        AND n2.n_name IN ('NATION_1','NATION_2','NATION_3','NATION_4')
        |        AND n1.n_name <> n2.n_name) t
        |GROUP BY supp_nation, cust_nation, l_year
        |ORDER BY supp_nation, cust_nation, l_year
        |""".stripMargin)
  }

  /** TPC-H Q8 analog: national market share — a conditional share of a
    * conditional aggregate over the full 8-table snowflake (two nation
    * roles). The share divides the two PRESENTED doubles (each an
    * exact decimal sum rounded to cents), so both engines divide
    * identical operands and the ratio is bit-stable. */
  def q8MarketShare(spark: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(spark, dir).createOrReplaceTempView("graft_lineitem")
    Tables.orders(spark, dir).createOrReplaceTempView("graft_orders")
    Tables.customer(spark, dir).createOrReplaceTempView("graft_customer")
    Tables.supplier(spark, dir).createOrReplaceTempView("graft_supplier")
    Tables.nation(spark, dir).createOrReplaceTempView("graft_nation")
    Tables.region(spark, dir).createOrReplaceTempView("graft_region")
    Tables.part(spark, dir).createOrReplaceTempView("graft_part")
    spark.sql(
      """SELECT o_year,
        | CAST(ROUND(
        |   CAST(ROUND(SUM(CASE WHEN nation = 'NATION_2' THEN volume
        |                       ELSE CAST(0 AS DECIMAL(30,4)) END), 2) AS DOUBLE)
        |   / CAST(ROUND(SUM(volume), 2) AS DOUBLE), 6) AS DOUBLE) AS mkt_share,
        | CAST(ROUND(SUM(volume), 2) AS DOUBLE) AS total_volume,
        | COUNT(*) AS n_rows
        |FROM (SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS o_year,
        |        CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,4)) AS volume,
        |        n2.n_name AS nation
        |      FROM graft_part, graft_lineitem, graft_orders, graft_customer,
        |           graft_supplier, graft_nation n1, graft_nation n2, graft_region
        |      WHERE p_partkey = l_partkey AND l_orderkey = o_orderkey
        |        AND o_custkey = c_custkey AND l_suppkey = s_suppkey
        |        AND c_nationkey = n1.n_nationkey AND n1.n_regionkey = r_regionkey
        |        AND r_name = 'ASIA' AND s_nationkey = n2.n_nationkey
        |        AND p_type = 'STANDARD'
        |        AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |        AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00') t
        |GROUP BY o_year
        |ORDER BY o_year
        |""".stripMargin)
  }

  /** TPC-H Q15 analog: top supplier by revenue — a scalar MAX subquery
    * over a derived aggregate (aggregate-of-aggregate equality). */
  def q15TopSupplier(spark: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(spark, dir).createOrReplaceTempView("graft_lineitem")
    Tables.supplier(spark, dir).createOrReplaceTempView("graft_supplier")
    spark.sql(
      """WITH revenue AS (
        |  SELECT l_suppkey AS supplier_no,
        |    SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,4))) AS total_revenue
        |  FROM graft_lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, CAST(ROUND(total_revenue, 2) AS DOUBLE) AS total_revenue
        |FROM graft_supplier, revenue
        |WHERE s_suppkey = supplier_no
        |  AND total_revenue = (SELECT MAX(total_revenue) FROM revenue)
        |ORDER BY s_suppkey
        |""".stripMargin)
  }

  /** TPC-H Q21 analog: suppliers who were the ONLY late shipper in a
    * finished multi-supplier order. The correlated EXISTS / NOT EXISTS
    * formulation decorrelates into two extra lineitem joins (three
    * scans, two orderkey shuffles); this is the classic single-pass
    * rewrite: ONE per-(order, supplier) aggregate carries everything —
    * a supplier's late row count contributes to numwait exactly when
    * the order has ≥ 2 suppliers (the EXISTS) and exactly one of them
    * shipped late (the NOT EXISTS, which must be that supplier since
    * the contributing rows are themselves late). After the initial
    * orderkey join, every aggregation and the join-back stay on the
    * orderkey hash partitioning, so lineitem shuffles once. */
  def q21LateSuppliers(spark: SparkSession, dir: String): DataFrame = {
    val ordF = Tables.orders(spark, dir)
      .filter(col("o_orderstatus") === "F")
      .select(col("o_orderkey"), col("o_orderdate"))
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
    val late = col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAY")
    val perSupp = li
      .join(ordF, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_orderkey"), col("l_suppkey"))
      .agg(sum(when(late, 1L).otherwise(0L)).as("n_late_rows"))
    // Per-order qualification as a WINDOW over the aggregate, not a
    // second aggregate + semi-join back: the re-aggregation form plans
    // the perSupp subtree twice (two lineitem scans — the pushed
    // null-filters differ between the copies, so even exchange reuse
    // can't dedup them). The window computes the same n_supp /
    // n_late_supp per order in the SAME pass; lineitem is scanned once
    // and its rows shuffle once, and only the (order, supp) aggregate —
    // orders-of-magnitude smaller — shuffles again for the window.
    val wOrd = Window.partitionBy(col("l_orderkey"))
    val sup = Tables.supplier(spark, dir).select(col("s_suppkey"), col("s_name"))
    perSupp
      .withColumn("n_supp", count(lit(1)).over(wOrd))
      .withColumn("n_late_supp",
        sum(when(col("n_late_rows") > 0, 1L).otherwise(0L)).over(wOrd))
      .filter(col("n_late_rows") > 0 &&
              col("n_supp") >= 2 && col("n_late_supp") === 1)
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_name"))
      .agg(sum(col("n_late_rows")).as("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
      .limit(20)
  }

  /** Value-cut k-quantile THRESHOLDS over integer metrics, one
    * histogram pass for any number of metrics at once.
    *
    * Input: a (metric, v) frame (`metric` names the series). Output: a
    * 1-row frame with columns `<metric>_c1 … _c(k−1)`, where c_j is
    * the largest value whose inclusive cumulative fraction rounds into
    * quantile ≤ j — so assignment is `1 + Σ_j [x > c_j]` by pure
    * comparison against broadcast scalars, and the corpus never joins
    * back by value (a customer-cardinality equi-join per metric, the
    * shape the first cut of this operator paid 3× for).
    *
    * Internals are the two-level prefix decomposition (the
    * quantile_agg/seq_packing scheme): per-value histogram (ONE
    * map-side-combinable shuffle for all metrics) → per-bucket totals
    * → prefix offsets over the bounded bucket frame → bucket-local
    * prefix over the per-value frame → ceil(k·F(v)) in pure integer
    * arithmetic ((k·cum + n − 1) div n — no IEEE, ties share a
    * quantile by construction, unlike ntile). No window ever orders
    * the raw row frame. An empty quantile (heavy ties) yields a NULL
    * threshold; [[cutBucket]] treats NULL as −∞. */
  private[graft] def valueCuts(
      melted: DataFrame, metrics: Map[String, Long], k: Int): DataFrame = {
    val width = metrics.foldLeft(lit(1L)) { case (acc, (m, w)) =>
      when(col("metric") === m, lit(w)).otherwise(acc) }
    // Monotone non-negative bucketing is all correctness needs (equal
    // values share a bucket; bucket order follows value order) — the
    // double division is safe below 2^53.
    val hist = melted
      .withColumn("gb", floor(col("v") / width).cast("long"))
      .groupBy(col("metric"), col("gb"), col("v")).agg(count(lit(1)).as("cnt"))
    val bucketTot = hist.groupBy(col("metric"), col("gb"))
      .agg(sum(col("cnt")).as("bc"))
    val wB = Window.partitionBy(col("metric")).orderBy(col("gb"))
    val off = bucketTot
      .withColumn("boff", sum(col("bc")).over(wB) - col("bc"))
      .withColumn("n", sum(col("bc")).over(Window.partitionBy(col("metric"))))
    val wIn = Window.partitionBy(col("metric"), col("gb")).orderBy(col("v"))
    val q = hist
      .join(broadcast(off.select(col("metric"), col("gb"), col("boff"), col("n"))),
        Seq("metric", "gb"))
      .withColumn("cum", col("boff") + sum(col("cnt")).over(wIn))
      .withColumn("q", expr(s"($k * cum + n - 1) div n"))
    val aggs = metrics.keys.toSeq.sorted.flatMap { m =>
      (1 until k).map(j =>
        max(when(col("metric") === m && col("q") <= j, col("v")))
          .as(s"${m}_c$j"))
    }
    q.agg(aggs.head, aggs.tail: _*)
  }

  /** Quantile assignment against [[valueCuts]] thresholds: 1 + the
    * number of cuts strictly below x (NULL cut = empty quantile = −∞). */
  private[graft] def cutBucket(v: Column, cuts: Seq[Column]): Column =
    cuts.foldLeft(lit(1L)) { (acc, c) =>
      acc + when(v > coalesce(c, lit(Long.MinValue)), 1L).otherwise(0L) }

  /** #29g rfm_scores: RFM customer segmentation over `orders` —
    * recency (days since the customer's last order, against the
    * corpus max date), frequency (order count), monetary (lifetime
    * cents) — each scored into value-cut quartiles (1 = lowest metric
    * value; ties always share a quartile), rolled up to segment
    * counts. The classic marketing-DB segmentation, expressed
    * scale-first: ONE melted histogram shuffle computes all three
    * quartile cut vectors ([[valueCuts]]), the 9 thresholds broadcast
    * back as scalars, and the segment rollup is map-side combinable
    * on a ≤ 4³-key space — the per-customer frame is never joined by
    * value and never globally sorted. */
  def rfmScores(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val maxD = o.agg(max(col("o_orderdate")).as("max_d"))
    val per = o
      .groupBy(col("o_custkey"))
      .agg(
        max(col("o_orderdate")).as("last_d"),
        count(lit(1)).as("frequency"),
        sum(round(col("o_totalprice") * 100, 0).cast("long")).as("monetary_cents"))
      .crossJoin(broadcast(maxD))
      .withColumn("recency_days", datediff(col("max_d"), col("last_d")).cast("long"))
    val melted = per.select(explode(array(
        struct(lit("r").as("metric"), col("recency_days").as("v")),
        struct(lit("f").as("metric"), col("frequency").as("v")),
        struct(lit("m").as("metric"), col("monetary_cents").as("v")))).as("mv"))
      .select(col("mv.metric").as("metric"), col("mv.v").as("v"))
    val cuts = valueCuts(melted,
      Map("r" -> 30L, "f" -> 4L, "m" -> 10000000L), k = 4)
    val scored = per.crossJoin(broadcast(cuts))
      .select(
        cutBucket(col("recency_days"),
          (1 to 3).map(j => col(s"r_c$j"))).as("r_q"),
        cutBucket(col("frequency"),
          (1 to 3).map(j => col(s"f_c$j"))).as("f_q"),
        cutBucket(col("monetary_cents"),
          (1 to 3).map(j => col(s"m_c$j"))).as("m_q"),
        col("monetary_cents"))
    scored.groupBy(col("r_q"), col("f_q"), col("m_q"))
      .agg(
        count(lit(1)).as("n_customers"),
        sum(col("monetary_cents")).as("seg_cents"))
      .select(
        col("r_q"), col("f_q"), col("m_q"), col("n_customers"),
        pres(col("seg_cents") / lit(100.0)).as("total_monetary"),
        // Floor-cents average (integer div): seg_cents/n with small
        // segments lands on exact rounding-boundary halves where
        // engines disagree; floor has no boundary.
        pres(expr("seg_cents div n_customers") / lit(100.0)).as("avg_monetary"))
      .orderBy(col("r_q"), col("f_q"), col("m_q"))
  }

  /** #29h spend_deciles: customers ranked into value-cut spend deciles
    * (1 = lowest-spending; [[valueCuts]] thresholds, tie-stable), with
    * each decile's population, spend totals, bounds, and share of
    * corpus revenue — the concentration report behind "the top decile
    * is X% of revenue". Integer cents end to end; the only IEEE is the
    * pinned-order presentation divides. Assignment is comparison
    * against 9 broadcast scalars — no value join, no global sort. */
  def spendDeciles(spark: SparkSession, dir: String): DataFrame = {
    val per = Tables.orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(sum(round(col("o_totalprice") * 100, 0).cast("long")).as("spend_cents"))
    val grand = per.agg(sum(col("spend_cents")).as("grand_cents"))
    val cuts = valueCuts(
      per.select(lit("s").as("metric"), col("spend_cents").as("v")),
      Map("s" -> 10000000L), k = 10)
    per.crossJoin(broadcast(cuts)).crossJoin(broadcast(grand))
      .withColumn("decile",
        cutBucket(col("spend_cents"), (1 to 9).map(j => col(s"s_c$j"))))
      .groupBy(col("decile"))
      .agg(
        count(lit(1)).as("n_customers"),
        sum(col("spend_cents")).as("dec_cents"),
        min(col("spend_cents")).as("min_cents"),
        max(col("spend_cents")).as("max_cents"),
        first(col("grand_cents")).as("grand_cents"))
      .select(
        col("decile"), col("n_customers"),
        pres(col("dec_cents") / lit(100.0)).as("total_spend"),
        pres(col("min_cents") / lit(100.0)).as("min_spend"),
        pres(col("max_cents") / lit(100.0)).as("max_spend"),
        ratio4(col("dec_cents"), col("grand_cents"))
          .as("revenue_share"))
      .orderBy(col("decile"))
  }

  /** #24d grouping_sets_agg: explicit GROUPING SETS ((flag, status),
    * (flag), ()) — the third member of the rollup/cube family, with
    * per-column GROUPING indicators so a reader can tell an aggregated
    * NULL from a data NULL. Same plan class as rollup/cube: Catalyst
    * expands to one Expand + one aggregation, a single shuffle. */
  def groupingSetsAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupingSets(
        Seq(Seq(col("l_returnflag"), col("l_linestatus")),
            Seq(col("l_returnflag")), Seq.empty[Column]),
        col("l_returnflag"), col("l_linestatus"))
      .agg(
        grouping(col("l_returnflag")).cast("int").as("g_flag"),
        grouping(col("l_linestatus")).cast("int").as("g_status"),
        count(lit(1)).as("n_rows"),
        pres(dsum(col("l_quantity"), 2)).as("sum_qty"),
        pres(dsum(col("l_extendedprice"), 2)).as("sum_price"))
      // Aggregated-out keys present as the 'ALL' sentinel, not NULL:
      // the two engines disagree on NULL sort placement (Spark NULLS
      // FIRST asc, DuckDB NULLS LAST), and a sentinel keys the row
      // unambiguously alongside the grouping indicators anyway.
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
        col("g_flag"), col("g_status"), col("n_rows"),
        col("sum_qty"), col("sum_price"))
      .orderBy(col("g_flag"), col("g_status"), col("returnflag"), col("linestatus"))

  /** #29i basket_pairs: market-basket brand co-occurrence — for every
    * unordered brand pair, the number of orders containing both, each
    * brand's order reach, pair support, and lift. The association-rule
    * seed query ("which brands sell together?").
    *
    * Scale shape: lineitem collapses FIRST to the distinct (order,
    * brand) frame (brand rides in on a broadcast of the part
    * dimension); the pair generation is a self EQUI-join on orderkey —
    * per-order work is |brands-in-order|² with order size bounded by
    * the schema (≤ 7 lines in TPC-H), so pair volume is linear in
    * orders — and the rollup lands on the ≤ |brands|² key space. Lift
    * is a pinned-order IEEE expression over exact counts. */
  // Accounted session memo for basketPairs' brand-pair marker frame —
  // see [[graft.functions.SessionScopedCache]] for the footprint
  // contract (retainedBytes accounting, explicit reclamation).
  private val basketMarkersCache =
    new graft.functions.SessionScopedCache[DataFrame]("relational.basket_markers")

  def basketPairs(spark: SparkSession, dir: String): DataFrame = {
    // ONE corpus aggregation total: the per-order sorted brand set
    // (collect_set dedups in the aggregation buffer; set size is
    // bounded by order size, so the buffer never grows with the
    // corpus). Pair generation is an IN-ARRAY combination explode
    // (≤ |order|² structs per row, codegen'd), so no join ever
    // multiplies corpus rows — and the per-brand reach and the order
    // total ride the SAME explode as marker structs ((brand, null)
    // per member brand, (null, null) per order), so pairs/reach/total
    // come out of one (a, b) aggregation instead of three separate
    // consumers of `sets`. Before the markers, the three branches
    // re-ran the collect_set aggregation each (exchange reuse dedups
    // the shuffle WRITE, not the post-shuffle agg): 3 corpus-shaped
    // passes where one suffices — the dominant cost at sf1
    // (15.5 s → one pass).
    val sets = Tables.lineitem(spark, dir)
      .join(broadcast(Tables.part(spark, dir)
        .select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_set(col("p_brand"))).as("bs"))
    val nullStr = lit(null).cast("string")
    // Brand²-bounded (≤ |brands|²+|brands|+1 rows — schema-, not
    // corpus-shaped), materialized ONCE so the reshaping self-joins
    // below read a tiny local frame instead of re-running the corpus
    // pipeline per branch (predicate pushdown through the agg would
    // otherwise defeat exchange reuse). Checkpointed THROUGH the
    // session cache, not an ad-hoc localCheckpoint, so the blocks are
    // visible to SessionScopedCache.retainedBytes, reclaimable by the
    // memo-cap policy, and a first-attempt bench spike self-attributes
    // as memo-build.
    val markers = basketMarkersCache.getOrCompute(spark, dir) {
      sets
        .select(explode(concat(
          graft.functions.ArrayPairs.combinations(col("bs")),
          transform(col("bs"), b => struct(b.as("a"), nullStr.as("b"))),
          array(struct(nullStr.as("a"), nullStr.as("b"))))).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(count(lit(1)).as("n"))
        .localCheckpoint()
    }
    val pairs = markers.filter(col("a").isNotNull && col("b").isNotNull)
      .select(col("a").as("brand_a"), col("b").as("brand_b"), col("n").as("n_both"))
    val reach = markers.filter(col("a").isNotNull && col("b").isNull)
    val total = markers.filter(col("a").isNull).select(col("n").as("n_orders"))
    pairs
      .join(broadcast(reach.select(col("a").as("brand_a"), col("n").as("n_a"))), Seq("brand_a"))
      .join(broadcast(reach.select(col("a").as("brand_b"), col("n").as("n_b"))), Seq("brand_b"))
      .crossJoin(broadcast(total))
      .select(
        col("brand_a"), col("brand_b"), col("n_a"), col("n_b"), col("n_both"),
        ratio4(col("n_both"), col("n_orders")).as("support"),
        // d4w, not d4: lift is UNBOUNDED (n_both·n_orders/(n_a·n_b)
        // approaches n_orders for a rare always-co-bought pair) and an
        // ANSI cast to (10,4) aborts past 10^6 — the text_collocations
        // precedent for the same statistic.
        d4w((col("n_both").cast("double") / col("n_orders").cast("double")) /
          ((col("n_a").cast("double") / col("n_orders").cast("double")) *
           (col("n_b").cast("double") / col("n_orders").cast("double"))))
          .as("lift"))
      .orderBy(col("brand_a"), col("brand_b"))
  }

  /** #29j cohort_ltv: customer-cohort lifetime value — customers
    * cohorted by first-order month, revenue accumulated by months
    * since, per-customer LTV per (cohort, offset) cell. The
    * growth-analytics staple ("how does the 1996-03 cohort's spend
    * curve compare to 1996-04's?").
    *
    * Months are the integer index year·12+month (calendar-exact, no
    * timezone or day-length arithmetic); offsets with no orders are
    * absent (sparse). Scale shape: one groupBy to the per-customer
    * first-month frame, one to the (customer, month) revenue frame,
    * then everything lands on the (cohort, offset) dimension frame —
    * the cumulative window rides cohorts × months, corpus-independent,
    * and the sums are exact cents so the running total is
    * order-insensitive. */
  def cohortLtv(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .select(col("o_custkey"),
        expr("year(o_orderdate) * 12 + month(o_orderdate)").as("m"),
        round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
    val firstM = o.groupBy(col("o_custkey")).agg(min(col("m")).as("cohort_m"))
    val cohortSize = firstM.groupBy(col("cohort_m"))
      .agg(count(lit(1)).as("n_customers"))
    val cell = o.join(firstM, Seq("o_custkey"))
      .groupBy(col("cohort_m"),
        (col("m") - col("cohort_m")).cast("long").as("month_offset"))
      .agg(sum(col("cents")).as("rev_cents"))
    val wCum = Window.partitionBy(col("cohort_m")).orderBy(col("month_offset"))
    cell
      .withColumn("cum_cents", sum(col("rev_cents")).over(wCum))
      .join(broadcast(cohortSize), Seq("cohort_m"))
      .select(
        format_string("%04d-%02d",
          expr("(cohort_m - 1) div 12"),
          expr("cohort_m - 12 * ((cohort_m - 1) div 12)")).as("cohort"),
        col("month_offset"), col("n_customers"),
        pres(col("rev_cents") / lit(100.0)).as("revenue"),
        pres(col("cum_cents") / lit(100.0)).as("cum_revenue"),
        // LTV as FLOOR-cents (integer div), not a rounded IEEE divide:
        // cum_cents/n with small cohorts lands exactly on .xxxx5
        // boundaries, where engines' half-rounding of doubles
        // legitimately disagrees — integer floor has no boundary.
        pres(expr("cum_cents div n_customers") / lit(100.0))
          .as("ltv_per_customer"))
      .orderBy(col("cohort"), col("month_offset"))
  }

  /** #29r nation_year_growth: TPC-H Q9's nation×year profit frame on
    * the available schema (revenue in place of the partsupp-dependent
    * profit), with the year-over-year growth column — the lag-ratio
    * report shape (LAG over an ordered dimension, then a ratio) that
    * completes the window inventory beside running_total's cumulative.
    * One fact shuffle to the (nation, year) frame; the YoY window and
    * lag ride the ≤ nations×years dimension frame. Growth presents
    * d4w over exact-cents operands (messy denominator — no boundary
    * risk); the first year of each nation is NULL growth (both
    * engines emit NULL). */
  def nationYearGrowth(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .join(broadcast(Tables.supplier(spark, dir)
        .select(col("s_suppkey"), col("s_nationkey"))),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_nationkey"),
        year(col("l_shipdate")).as("yr"),
        (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("rev"))
    // House decimal-exact sums (the q1 convention): the 4-dec revenue
    // terms sum as DECIMAL, presentation rounds the DECIMAL (both
    // engines round exact decimals identically — rounding the double
    // instead would reopen the .xx5 boundary).
    val cell = li.groupBy(col("s_nationkey"), col("yr"))
      .agg(count(lit(1)).as("n_lines"), dsum(col("rev"), 4).as("rev_dec"))
    val wYr = Window.partitionBy(col("s_nationkey")).orderBy(col("yr"))
    cell
      .withColumn("prev_dec", lag(col("rev_dec"), 1).over(wYr))
      .join(broadcast(Tables.nation(spark, dir)
        .select(col("n_nationkey"), col("n_name"))),
        col("s_nationkey") === col("n_nationkey"))
      .select(
        col("n_name").as("nation"), col("yr").as("year"), col("n_lines"),
        pres(col("rev_dec")).as("revenue"),
        ratio4((col("rev_dec") - col("prev_dec")) * lit(10000),
          col("prev_dec") * lit(10000)).as("yoy_growth"))
      .orderBy(col("nation"), col("year"))
  }

  /** #29q table_profile: the data-profiling primitive — per-column row
    * count, null count, exact distinct count, and min/max (rendered
    * through pinned cross-engine formats: %.2f for doubles, ISO
    * seconds for timestamps) for the `orders` table, one row per
    * column.
    *
    * r17 shape (guide §2.3/§2.4; measured 42.8 s at sf1 before): the
    * former single 6-way multi-distinct aggregation planned as one
    * Expand — SEVEN copies of every row, all six columns wide — pushed
    * through a 7-part-key SORT aggregate and a 65 MB exchange. Now
    * each column runs its own two-level aggregate: groupBy(value)
    * compacts map-side to the column's distinct values (3–5 rows for
    * the enum columns), and a global pass over the value groups yields
    * n_rows = Σ cnt, n_nulls = Σ cnt over the null group, n_distinct =
    * count of non-null groups, and min/max over the group keys
    * (min/max over the distinct set ≡ min/max over the multiset). Each
    * branch's parquet scan reads ONE column (pruning the other five),
    * every aggregate is hash-based, and the six branches union into
    * the same 6-row report — values identical, 7×-wide Expand gone. */
  def tableProfile(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val asNum = (c: Column) => format_string("%.2f", c)
    val asLong = (c: Column) => c.cast("string")
    val asTs = (c: Column) => date_format(c, "yyyy-MM-dd HH:mm:ss")
    val id = (c: Column) => c
    val cols = Seq(
      ("o_orderkey", asLong), ("o_custkey", asLong),
      ("o_totalprice", asNum), ("o_orderdate", asTs),
      ("o_orderstatus", id), ("o_orderpriority", id))
    cols.map { case (c, f) =>
      o.select(col(c))
        .groupBy(col(c)).agg(count(lit(1)).as("cnt"))
        .agg(
          coalesce(sum(col("cnt")), lit(0L)).as("n_rows"),
          coalesce(sum(when(col(c).isNull, col("cnt")).otherwise(lit(0L))),
            lit(0L)).as("n_nulls"),
          count(when(col(c).isNotNull, lit(1))).as("n_distinct"),
          f(min(col(c))).as("min_value"),
          f(max(col(c))).as("max_value"))
        .select(lit(c).as("column"), col("n_rows"), col("n_nulls"),
          col("n_distinct"), col("min_value"), col("max_value"))
    }.reduce(_.unionAll(_)).orderBy(col("column"))
  }

  /** #29p order_cadence: repeat-purchase latency per market segment —
    * the gap in days between a customer's consecutive orders (lag over
    * the per-customer order sequence), rolled up per segment with gap
    * censuses and exact order statistics. The cross-table sibling of
    * events_interarrival (orders × customer instead of events).
    *
    * Scale shape: one (custkey)-keyed shuffle for the lag window (the
    * customer dim joins AQE-unhinted — fact-sized customer, the module
    * convention), then a \|segments\|-sized rollup. Gaps are integer
    * DAYS; the average is a floor-x100 divide and the p50 lerp runs
    * over integer-valued doubles — exact under any operand
    * arrangement. */
  def orderCadence(spark: SparkSession, dir: String): DataFrame = {
    val byCust = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val gaps = Tables.orders(spark, dir)
      .withColumn("gap_days",
        datediff(col("o_orderdate"), lag(col("o_orderdate"), 1).over(byCust))
          .cast("long"))
      .filter(col("gap_days").isNotNull)
      .join(Tables.customer(spark, dir)
        .select(col("c_custkey"), col("c_mktsegment")),
        col("o_custkey") === col("c_custkey"))
    gaps.groupBy(col("c_mktsegment"))
      .agg(
        count(lit(1)).as("n_gaps"),
        sum(col("gap_days")).as("sum_days"),
        min(col("gap_days")).as("min_days"),
        max(col("gap_days")).as("max_days"),
        percentile(col("gap_days"), lit(0.5)).as("p50_days"),
        sum(when(col("gap_days") === 0, 1L).otherwise(0L)).as("n_same_day"))
      .select(
        col("c_mktsegment").as("segment"), col("n_gaps"),
        (expr("(100 * sum_days) div n_gaps").cast("double") / lit(100.0))
          .as("avg_gap_days"),
        col("min_days"), col("max_days"),
        col("p50_days"), col("n_same_day"))
      .orderBy(col("segment"))
  }

  /** #29o supplier_dominance: TPC-H Q20's share-of-volume shape on the
    * available schema — each brand's TOP supplier by shipped quantity,
    * with its volume share and multiple of fair share (the "excess
    * stock" signal as a report, not a data-dependent threshold that
    * empties under uniform synthetics). The argmax is INTEGER-ENCODED
    * (q·10⁹ + (10⁹−1−suppkey), MAX) so quantity ties resolve to the
    * LOWEST suppkey identically in any engine. The fact table shuffles
    * once on its aggregation key; brand totals broadcast back. */
  def supplierDominance(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .join(broadcast(Tables.part(spark, dir)
        .select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
      .select(col("p_brand"), col("l_suppkey"),
        round(col("l_quantity") * 100, 0).cast("long").as("q100"))
    val bySupp = li.groupBy(col("p_brand"), col("l_suppkey"))
      .agg(sum(col("q100")).as("supp_q"))
      // Loud preconditions on the encoding's headroom (the pqTopK
      // convention: fail, never silently corrupt): suppkey must fit
      // the 10⁹ tie-break field and supp_q·10⁹ must fit a Long. Checked
      // on the AGGREGATED (brand, supplier) frame — dimension-sized.
      .withColumn("supp_q",
        when(col("l_suppkey") >= 1000000000L || col("supp_q") > 9000000000L,
          raise_error(concat(lit("supplier_dominance: argmax encoding "
            + "overflow (suppkey or per-pair quantity too large): key="),
            col("l_suppkey"), lit(" q100="), col("supp_q"))))
          .otherwise(col("supp_q")))
    val byBrand = bySupp.groupBy(col("p_brand"))
      .agg(
        sum(col("supp_q")).as("brand_q"),
        count(lit(1)).as("n_suppliers"),
        max(col("supp_q") * 1000000000L + (lit(999999999L) - col("l_suppkey")))
          .as("max_enc"))
      .select(col("p_brand"), col("brand_q"), col("n_suppliers"),
        (lit(999999999L) - col("max_enc") % 1000000000L).as("top_suppkey"),
        expr("max_enc div 1000000000").as("top_q"))
    byBrand
      .join(broadcast(Tables.supplier(spark, dir)
        .select(col("s_suppkey"), col("s_name"))),
        col("top_suppkey") === col("s_suppkey"))
      .select(
        col("p_brand").as("brand"), col("s_name").as("top_supplier"),
        col("n_suppliers"),
        pres(col("top_q") / lit(100.0)).as("top_qty"),
        pres(col("brand_q") / lit(100.0)).as("brand_qty"),
        ratio4(col("top_q"), col("brand_q")).as("share"),
        ratio4(col("top_q") * col("n_suppliers"), col("brand_q"))
          .as("fair_share_multiple"))
      .orderBy(col("brand"))
  }

  /** #29n balance_matrix: FULL OUTER join coverage — customer vs
    * supplier account-balance profiles per (nation, $1000 balance
    * band): cells where only one population exists survive with the
    * other side's counts at zero and a side indicator. Completes the
    * join-type inventory (inner/left/semi/anti/set-ops elsewhere);
    * both sides pre-aggregate to their dimension-sized band frames
    * BEFORE the full-outer (aggregate-then-join — the corpus never
    * rides an outer join). */
  def balanceMatrix(spark: SparkSession, dir: String): DataFrame = {
    def bands(df: DataFrame, key: String, bal: String, n: String) = df
      .select(col(key).cast("int").as("nationkey"),
        floor(col(bal) / 1000.0).cast("long").as("band"),
        round(col(bal) * 100, 0).cast("long").as("cents"))
      .groupBy(col("nationkey"), col("band"))
      .agg(count(lit(1)).as(s"n_$n"), sum(col("cents")).as(s"${n}_cents"))
    val c = bands(Tables.customer(spark, dir), "c_nationkey", "c_acctbal", "cust")
    val s = bands(Tables.supplier(spark, dir), "s_nationkey", "s_acctbal", "supp")
    val nat = Tables.nation(spark, dir)
    c.join(s, Seq("nationkey", "band"), "full_outer")
      .join(broadcast(nat.select(col("n_nationkey"), col("n_name"))),
        col("nationkey") === col("n_nationkey"))
      .select(
        col("n_name").as("nation"), col("band"),
        coalesce(col("n_cust"), lit(0L)).as("n_customers"),
        pres(coalesce(col("cust_cents"), lit(0L)) / lit(100.0)).as("cust_balance"),
        coalesce(col("n_supp"), lit(0L)).as("n_suppliers"),
        pres(coalesce(col("supp_cents"), lit(0L)) / lit(100.0)).as("supp_balance"),
        when(col("n_cust").isNull, lit("supplier_only"))
          .when(col("n_supp").isNull, lit("customer_only"))
          .otherwise(lit("both")).as("presence"))
      .orderBy(col("nation"), col("band"))
  }

  /** #29l supplier_concentration: TPC-H Q11's plan shape on the
    * available schema — per-nation supplier account-balance totals,
    * kept only where the nation's share exceeds a threshold of the
    * corpus total (the scalar-subquery-in-HAVING pattern: an
    * aggregate of the whole relation gates groups of the same
    * relation). The scalar lands as a 1-row broadcast, so the filter
    * evaluates group-side with no second scan of the grouped data. */
  def supplierConcentration(spark: SparkSession, dir: String): DataFrame = {
    val s = Tables.supplier(spark, dir)
      .select(col("s_nationkey"),
        round(col("s_acctbal") * 100, 0).cast("long").as("bal_cents"))
      .filter(col("bal_cents") > 0)
    val grand = s.agg(sum(col("bal_cents")).as("grand_cents"))
    val nat = Tables.nation(spark, dir)
    s.groupBy(col("s_nationkey"))
      .agg(count(lit(1)).as("n_suppliers"), sum(col("bal_cents")).as("nat_cents"))
      .crossJoin(broadcast(grand))
      // HAVING share > 2%: integer cross-multiplication, no IEEE in
      // the predicate (50 · nat > grand  ⇔  nat/grand > 0.02).
      .filter(col("nat_cents") * 50 > col("grand_cents"))
      .join(broadcast(nat.select(col("n_nationkey"), col("n_name"))),
        col("s_nationkey") === col("n_nationkey"))
      .select(
        col("n_name").as("nation"), col("n_suppliers"),
        pres(col("nat_cents") / lit(100.0)).as("total_acctbal"),
        ratio4(col("nat_cents"), col("grand_cents")).as("share"))
      .orderBy(col("share").desc, col("nation"))
  }

  /** #29m brand_cheapest: TPC-H Q2's correlated-min shape on the
    * available schema — for each brand, the part achieving the
    * minimum retail price (the "min-cost supplier" pattern: a
    * correlated aggregate selects the row). The argmin is
    * INTEGER-ENCODED (price·10⁹ + partkey, MIN) so price ties resolve
    * to the lowest partkey identically in any engine, and the
    * per-brand frame never re-joins the corpus by value. */
  def brandCheapest(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(spark, dir)
      .select(col("p_partkey"), col("p_brand"), col("p_name"),
        round(col("p_retailprice") * 100, 0).cast("long").as("price_cents"))
      // Loud precondition on the argmin encoding's headroom (the
      // supplierDominance / pqTopK convention: fail, never silently
      // corrupt): partkey must fit the 10⁹ tie-break field and
      // price_cents·10⁹ must fit a Long. Per-row on the part DIM frame
      // (the encoding itself is per-row here), pure codegen.
      .withColumn("price_cents",
        when(col("p_partkey") >= 1000000000L || col("price_cents") > 9000000000L,
          raise_error(concat(lit("brand_cheapest: argmin encoding overflow "
            + "(partkey or price too large): key="),
            col("p_partkey"), lit(" cents="), col("price_cents"))))
          .otherwise(col("price_cents")))
    val best = p.groupBy(col("p_brand"))
      .agg(
        count(lit(1)).as("n_parts"),
        min(col("price_cents") * 1000000000L + col("p_partkey")).as("min_enc"))
      .select(col("p_brand"), col("n_parts"),
        (col("min_enc") % 1000000000L).as("best_partkey"),
        expr("min_enc div 1000000000").as("min_cents"))
    best
      .join(p.select(col("p_partkey").as("best_partkey"), col("p_name")),
        Seq("best_partkey"))
      .select(
        col("p_brand").as("brand"), col("n_parts"),
        col("best_partkey"), col("p_name").as("part_name"),
        pres(col("min_cents") / lit(100.0)).as("min_retailprice"))
      .orderBy(col("brand"))
  }

  /** #29k orders_seasonality: month-of-year revenue profile — order
    * counts, exact-decimal revenue, and each calendar month's share of
    * lifetime revenue, with a per-month peak-year column (the year in
    * which that calendar month earned the most). The seasonality
    * report behind inventory planning. One month-keyed
    * map-side-combinable shuffle to a 12-row frame; the peak-year
    * argmax rides a struct MAX over the (month × year) frame. */
  def ordersSeasonality(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .select(
        month(col("o_orderdate")).as("mon"),
        year(col("o_orderdate")).as("yr"),
        round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
    val byMonYr = o.groupBy(col("mon"), col("yr"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("c"))
      // Loud precondition on the peak_enc headroom (supplierDominance
      // convention), checked on the AGGREGATED months×years frame:
      // monthly cents·10⁴ + year must fit a Long.
      .withColumn("c",
        when(col("c") > 900000000000000000L / 10000L || col("yr") >= 10000,
          raise_error(concat(lit("orders_seasonality: argmax encoding "
            + "overflow (monthly cents or year too large): cents="),
            col("c"), lit(" yr="), col("yr"))))
          .otherwise(col("c")))
    // Integer-encoded argmax (cents·10⁴ + year): ties on revenue
    // resolve to the later year identically in any engine — struct
    // MAX / arg_max tie rules are engine-specific.
    val byMon = byMonYr.groupBy(col("mon"))
      .agg(
        sum(col("n")).as("n_orders"),
        sum(col("c")).as("mon_cents"),
        max(col("c") * 10000L + col("yr")).as("peak_enc"))
    val grand = byMon.agg(sum(col("mon_cents")).as("grand_cents"))
    byMon.crossJoin(broadcast(grand))
      .select(
        col("mon").cast("long").as("month"), col("n_orders"),
        pres(col("mon_cents") / lit(100.0)).as("revenue"),
        ratio4(col("mon_cents"), col("grand_cents")).as("revenue_share"),
        (col("peak_enc") % 10000L).cast("int").as("peak_year"))
      .orderBy(col("month"))
  }

  def approxDistinct(spark: SparkSession, dir: String): DataFrame = {
    // Self-validating sketch output (same pattern as the ANN recall
    // columns): the HLL estimate rides next to the exact count and its
    // relative error, so the rows-only dump carries a checkable
    // quality number. At 100 TB you'd drop the exact column; here it
    // shares the same shuffle (multi-distinct rewrites to expand).
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        approx_count_distinct(col("l_partkey")).as("approx_parts"),
        countDistinct(col("l_partkey")).as("exact_parts"),
        approx_count_distinct(col("l_orderkey")).as("approx_orders"),
        countDistinct(col("l_orderkey")).as("exact_orders"))
      .withColumn("parts_rel_err",
        round(abs(col("approx_parts") - col("exact_parts")) /
          col("exact_parts").cast("double"), 4))
      .withColumn("orders_rel_err",
        round(abs(col("approx_orders") - col("exact_orders")) /
          col("exact_orders").cast("double"), 4))
      .orderBy(col("l_returnflag"))
  }

  /** #25n fk_integrity: the referential-integrity audit over the star
    * schema's five foreign-key edges — per relationship, the child
    * row count, the orphan count (child keys with no parent row) and
    * the orphan share: the warehouse data-quality gate a pipeline
    * runs BEFORE trusting any join's completeness ([[tableProfile]]'s
    * cross-table companion). A healthy corpus reports zeros; the
    * value is the mechanism — after a partial load or a botched
    * key-remap, the row that breaks names the edge.
    *
    * Scale shape: one pass per edge — the child streams once through
    * a LEFT join against the parent's DISTINCT key projection
    * (dimension parents broadcast; the fact-fact edge shuffles on the
    * join key like every fact-fact join here), and both counts ride
    * ONE aggregate (orphan = null parent marker). Output is
    * |edges|-sized. */
  def fkIntegrity(spark: SparkSession, dir: String): DataFrame = {
    def edge(name: String, child: DataFrame, childKey: String,
        parent: DataFrame, parentKey: String, bcast: Boolean): DataFrame = {
      val p0 = parent.select(col(parentKey).as(childKey)).distinct()
        .withColumn("_p", lit(1))
      val p = if (bcast) broadcast(p0) else p0
      child.select(col(childKey)).join(p, Seq(childKey), "left")
        .agg(count(lit(1)).as("n_child"),
          sum(when(col("_p").isNull, 1L).otherwise(0L)).as("n_orphans"))
        .select(lit(name).as("relationship"), col("n_child"),
          col("n_orphans"),
          ratio4(col("n_orphans"), greatest(col("n_child"), lit(1L)))
            .as("orphan_share"))
    }
    val li = Tables.lineitem(spark, dir)
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    val s = Tables.supplier(spark, dir)
    val n = Tables.nation(spark, dir)
    val r = Tables.region(spark, dir)
    Seq(
      edge("customer.c_nationkey -> nation", c, "c_nationkey", n, "n_nationkey", bcast = true),
      edge("lineitem.l_orderkey -> orders", li, "l_orderkey", o, "o_orderkey", bcast = false),
      edge("nation.n_regionkey -> region", n, "n_regionkey", r, "r_regionkey", bcast = true),
      edge("orders.o_custkey -> customer", o, "o_custkey", c, "c_custkey", bcast = false),
      edge("supplier.s_nationkey -> nation", s, "s_nationkey", n, "n_nationkey", bcast = true))
      .reduce(_ union _)
      .orderBy(col("relationship"))
  }
}
