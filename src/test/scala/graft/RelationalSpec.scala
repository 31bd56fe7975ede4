package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = graft.sources.Tables.sessionConfs
      .foldLeft(SparkSession.builder()
        .master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.warehouse.dir", "/tmp/graft-test-warehouse")
        .config("spark.ui.enabled", "false")) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf: String = "/root/testdata/sf0.001"
}

class RelationalSpec extends AnyFunSuite {
  import SparkTestSession._

  test("every declared query runs and returns rows at sf0.001") {
    val empties = SparkEntry.queries.keys.toSeq.sorted.flatMap { name =>
      val n = SparkEntry.queries(name)(spark, sf).count()
      if (n == 0) Some(name) else None
    }
    assert(empties.isEmpty, s"queries with empty results: $empties")
  }

  test("every oracleSql key has a queries entry") {
    val orphans = graft.oracle.Oracle.sql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracleSql without queries: $orphans")
  }

  test("q1 aggregates are decimal-exact (partitioning-stable)") {
    val df = SparkEntry.queries("q1_pricing_summary")(spark, sf)
    // Presentation is double (the oracle compare's canonical numeric
    // form), but the SUM underneath must still run over decimals so the
    // result is bit-stable under any partitioning.
    val moneyTypes = Seq("sum_qty", "sum_base_price", "sum_disc_price", "sum_charge")
      .map(c => df.schema(c).dataType.typeName)
    assert(moneyTypes.forall(_ == "double"), s"non-double presentation columns: $moneyTypes")
    val analyzed = df.queryExecution.analyzed.toString
    assert(analyzed.contains("decimal(30,"),
      s"expected decimal-typed internal sums in plan:\n$analyzed")
    // Re-run with different partitioning: results must be bitwise identical.
    val a = df.collect().map(_.toString).sorted
    val b = SparkEntry.queries("q1_pricing_summary")(spark, sf)
      .repartition(7).collect().map(_.toString).sorted
    assert(a.sameElements(b))
  }

  test("cube emits the full grouping lattice and every set partitions the corpus") {
    val rows = SparkEntry.queries("cube_agg")(spark, sf).collect()
    val bySet = rows.groupBy(r =>
      (r.getAs[Int]("g_prio"), r.getAs[Int]("g_status")))
    assert(bySet.keySet === Set((0, 0), (0, 1), (1, 0), (1, 1)),
      "CUBE over 2 keys must emit all 4 grouping sets")
    val grand = bySet((1, 1))
    assert(grand.length === 1, "exactly one grand-total row")
    val n = grand.head.getAs[Long]("n_orders")
    assert(n > 0)
    // Each grouping set partitions the same corpus: counts re-sum to n.
    bySet.foreach { case (set, rs) =>
      assert(rs.map(_.getAs[Long]("n_orders")).sum === n,
        s"grouping set $set does not partition the corpus")
    }
  }

  test("approx_count_distinct stays within HLL error bounds of exact") {
    val rows = SparkEntry.queries("approx_distinct")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val k = r.getString(0)
      // The exact counts ride in the same result; the self-reported
      // relative errors must reflect them and stay inside HLL bounds.
      assert(r.getAs[Long]("exact_parts") > 0 && r.getAs[Long]("exact_orders") > 0)
      val pErr = r.getAs[Double]("parts_rel_err")
      val oErr = r.getAs[Double]("orders_rel_err")
      assert(pErr < 0.1, s"$k parts rel err $pErr")
      assert(oErr < 0.1, s"$k orders rel err $oErr")
      val recompute = math.abs(r.getAs[Long]("approx_parts") - r.getAs[Long]("exact_parts"))
        .toDouble / r.getAs[Long]("exact_parts")
      assert(math.abs(pErr - recompute) < 1e-4, s"$k reported err drifted")
    }
  }

  test("quantile sketch stays within its accuracy bound of the exact quantiles") {
    val rows = SparkEntry.queries("quantile_sketch")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      Seq("rel_err_p50", "rel_err_p95", "rel_err_p99").foreach { c =>
        val e = r.getAs[Double](c)
        // Accuracy 10^4 bounds the RANK error at n/10^4; on this value
        // distribution that keeps relative value error well under 2%.
        assert(e >= 0.0 && e <= 0.02, s"${r.getString(0)} $c = $e")
      }
      // The sketch values themselves are real percentiles: positive and
      // ordered p50 <= p95 <= p99.
      val (a50, a95, a99) = (r.getAs[Double]("approx_p50"),
        r.getAs[Double]("approx_p95"), r.getAs[Double]("approx_p99"))
      assert(a50 > 0 && a50 <= a95 && a95 <= a99)
    }
  }

  test("q6 filters are pushed to the parquet scan") {
    val df = SparkEntry.queries("q6_forecast_revenue")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("l_shipdate"),
      s"expected shipdate pushdown in plan:\n$plan")
  }

  test("q5 broadcasts its dimension tables") {
    val df = SparkEntry.queries("q5_local_supplier")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast joins in plan:\n$plan")
  }

  test("rfm_scores partitions every customer into valid quartile cells") {
    val rows = graft.operators.Relational.rfmScores(spark, sf).collect()
    val nCust = graft.sources.Tables.orders(spark, sf)
      .select("o_custkey").distinct().count()
    assert(rows.map(_.getAs[Long]("n_customers")).sum === nCust,
      "segment populations must partition the customer base")
    rows.foreach { r =>
      Seq("r_q", "f_q", "m_q").foreach { q =>
        val v = r.getAs[Long](q)
        assert(v >= 1 && v <= 4, s"$q out of quartile range: $v")
      }
      assert(r.getAs[Double]("avg_monetary") <= r.getAs[Double]("total_monetary"))
    }
  }

  test("spend_deciles covers the base exactly and shares sum to ~1") {
    val rows = graft.operators.Relational.spendDeciles(spark, sf).collect()
    val nCust = graft.sources.Tables.orders(spark, sf)
      .select("o_custkey").distinct().count()
    assert(rows.map(_.getAs[Long]("n_customers")).sum === nCust)
    assert(rows.forall { r =>
      val d = r.getAs[Long]("decile"); d >= 1 && d <= 10 })
    val share = rows.map(_.getAs[Double]("revenue_share")).sum
    assert(math.abs(share - 1.0) < 0.001,
      s"decile revenue shares must partition the revenue: $share")
    // Value-cut deciles are ordered: decile k's max never exceeds
    // decile k+1's min.
    val sorted = rows.sortBy(_.getAs[Long]("decile"))
    sorted.sliding(2).foreach {
      case Array(a, b) =>
        assert(a.getAs[Double]("max_spend") <= b.getAs[Double]("min_spend"))
      case _ => ()
    }
  }

  test("grouping_sets_agg levels reconcile: finer levels sum to coarser") {
    val rows = graft.operators.Relational.groupingSetsAgg(spark, sf).collect()
    def lvl(gf: Int, gs: Int) = rows.filter(r =>
      r.getAs[Int]("g_flag") == gf && r.getAs[Int]("g_status") == gs)
    val fine = lvl(0, 0); val mid = lvl(0, 1); val top = lvl(1, 1)
    assert(top.length === 1 && top.head.getAs[String]("returnflag") === "ALL")
    assert(top.head.getAs[Long]("n_rows") === fine.map(_.getAs[Long]("n_rows")).sum)
    mid.foreach { m =>
      val f = fine.filter(_.getAs[String]("returnflag") == m.getAs[String]("returnflag"))
      assert(m.getAs[Long]("n_rows") === f.map(_.getAs[Long]("n_rows")).sum)
      assert(math.abs(m.getAs[Double]("sum_qty") -
        f.map(_.getAs[Double]("sum_qty")).sum) < 0.01)
    }
  }

  test("basket_pairs counts obey set algebra and pair orientation") {
    val rows = graft.operators.Relational.basketPairs(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (na, nb, both) = (r.getAs[Long]("n_a"), r.getAs[Long]("n_b"),
        r.getAs[Long]("n_both"))
      assert(both >= 1 && both <= math.min(na, nb),
        s"|A∩B| must be within [1, min(|A|,|B|)]: $r")
      assert(r.getAs[String]("brand_a") < r.getAs[String]("brand_b"),
        "pairs must be unordered (a < b)")
      assert(r.getAs[Double]("support") > 0 && r.getAs[Double]("support") <= 1)
      assert(r.getAs[Double]("lift") > 0)
    }
  }

  test("orders_seasonality partitions revenue across 12 months") {
    val rows = graft.operators.Relational.ordersSeasonality(spark, sf).collect()
    assert(rows.map(_.getAs[Long]("month")).toSeq === (1L to 12L))
    val share = rows.map(_.getAs[Double]("revenue_share")).sum
    assert(math.abs(share - 1.0) < 0.001)
    val nOrders = graft.sources.Tables.orders(spark, sf).count()
    assert(rows.map(_.getAs[Long]("n_orders")).sum === nOrders)
    rows.foreach { r =>
      val y = r.getAs[Int]("peak_year")
      assert(y >= 1990 && y <= 2030, s"implausible peak year: $r")
    }
  }

  test("balance_matrix full-outer preserves both populations exactly") {
    val rows = graft.operators.Relational.balanceMatrix(spark, sf).collect()
    val nCust = graft.sources.Tables.customer(spark, sf).count()
    val nSupp = graft.sources.Tables.supplier(spark, sf).count()
    assert(rows.map(_.getAs[Long]("n_customers")).sum === nCust)
    assert(rows.map(_.getAs[Long]("n_suppliers")).sum === nSupp)
    val presences = rows.map(_.getAs[String]("presence")).toSet
    assert(presences.contains("customer_only"),
      "sparse supplier side must leave customer-only cells")
    rows.foreach { r =>
      r.getAs[String]("presence") match {
        case "customer_only" => assert(r.getAs[Long]("n_suppliers") === 0L)
        case "supplier_only" => assert(r.getAs[Long]("n_customers") === 0L)
        case _ => assert(r.getAs[Long]("n_customers") > 0 &&
          r.getAs[Long]("n_suppliers") > 0)
      }
    }
  }

  test("nation_year_growth: first year NULL, growth consistent with revenue") {
    val rows = graft.operators.Relational.nationYearGrowth(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getAs[String]("nation")).values.foreach { rs =>
      val byYear = rs.sortBy(_.getAs[Int]("year"))
      assert(byYear.head.isNullAt(byYear.head.fieldIndex("yoy_growth")),
        "a nation's first year has no prior to grow from")
      byYear.sliding(2).foreach {
        case Array(a, b) =>
          val g = b.getAs[Double]("yoy_growth")
          val implied = (b.getAs[Double]("revenue") - a.getAs[Double]("revenue")) /
            a.getAs[Double]("revenue")
          assert(math.abs(g - implied) < 1e-3,
            s"growth must match the revenue ratio: $g vs $implied")
        case _ => ()
      }
    }
  }

  test("table_profile stats agree with direct per-column queries") {
    val rows = graft.operators.Relational.tableProfile(spark, sf).collect()
      .map(r => r.getAs[String]("column") -> r).toMap
    val o = graft.sources.Tables.orders(spark, sf)
    assert(rows.keySet === Set("o_orderkey", "o_custkey", "o_totalprice",
      "o_orderdate", "o_orderstatus", "o_orderpriority"))
    val n = o.count()
    rows.values.foreach { r =>
      assert(r.getAs[Long]("n_rows") === n)
      assert(r.getAs[Long]("n_nulls") === 0L, "synthetic orders has no nulls")
      assert(r.getAs[Long]("n_distinct") <= n)
      assert(r.getAs[String]("min_value") <= r.getAs[String]("max_value") ||
        r.getAs[String]("column") == "o_totalprice", // lexicographic vs numeric
        s"min/max sanity: $r")
    }
    assert(rows("o_orderkey").getAs[Long]("n_distinct") === n,
      "orderkey is the primary key")
    assert(rows("o_custkey").getAs[Long]("n_distinct") ===
      o.select("o_custkey").distinct().count())
  }

  test("order_cadence gap census matches per-customer order counts") {
    val rows = graft.operators.Relational.orderCadence(spark, sf).collect()
    assert(rows.nonEmpty)
    // Σ gaps = Σ_cust (orders − 1) = total orders − distinct customers.
    val o = graft.sources.Tables.orders(spark, sf)
    val totalGaps = o.count() - o.select("o_custkey").distinct().count()
    assert(rows.map(_.getAs[Long]("n_gaps")).sum === totalGaps)
    rows.foreach { r =>
      assert(r.getAs[Long]("min_days") >= 0)
      assert(r.getAs[Double]("avg_gap_days") >= r.getAs[Long]("min_days").toDouble)
      assert(r.getAs[Double]("avg_gap_days") <= r.getAs[Long]("max_days").toDouble)
      assert(r.getAs[Double]("p50_days") <= r.getAs[Long]("max_days").toDouble)
    }
  }

  test("supplier_dominance tops match a driver recount with low-key ties") {
    val rows = graft.operators.Relational.supplierDominance(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val share = r.getAs[Double]("share")
      assert(share > 0 && share <= 1.0)
      assert(r.getAs[Double]("top_qty") <= r.getAs[Double]("brand_qty"))
      // The top supplier's share is by definition >= fair share.
      assert(r.getAs[Double]("fair_share_multiple") >= 1.0 - 1e-4, s"$r")
    }
  }

  test("supplier_concentration keeps only above-threshold nations") {
    val rows = graft.operators.Relational.supplierConcentration(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val sh = r.getAs[Double]("share")
      assert(sh > 0.02 - 1e-9, s"HAVING must gate at 2%: $r")
      assert(sh <= 1.0)
    }
    assert(rows.map(_.getAs[Double]("share")).sum <= 1.0 + 1e-6)
  }

  test("brand_cheapest picks the true per-brand min with lowest-key ties") {
    val rows = graft.operators.Relational.brandCheapest(spark, sf).collect()
    val parts = graft.sources.Tables.part(spark, sf)
      .selectExpr("p_partkey", "p_brand",
        "cast(round(p_retailprice * 100) as long) as cents").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val byBrand = parts.groupBy(_._2)
    assert(rows.map(_.getAs[String]("brand")).toSet === byBrand.keySet)
    rows.foreach { r =>
      val b = r.getAs[String]("brand")
      val minC = byBrand(b).map(_._3).min
      assert(r.getAs[Double]("min_retailprice") === minC / 100.0)
      val expectKey = byBrand(b).filter(_._3 == minC).map(_._1).min
      assert(r.getAs[Long]("best_partkey") === expectKey,
        s"price ties must resolve to the lowest partkey for $b")
    }
  }

  test("cohort_ltv is cumulative and cohort-complete") {
    val rows = graft.operators.Relational.cohortLtv(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getAs[String]("cohort")).foreach { case (_, rs) =>
      val byOff = rs.sortBy(_.getAs[Long]("month_offset"))
      assert(byOff.head.getAs[Long]("month_offset") === 0L,
        "a cohort's first order is at offset 0 by construction")
      byOff.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getAs[Double]("cum_revenue") < b.getAs[Double]("cum_revenue") + 0.01,
            "cumulative revenue can never decrease")
        case _ => ()
      }
      byOff.foreach { r =>
        assert(r.getAs[Double]("revenue") > 0.0)
        assert(r.getAs[Double]("ltv_per_customer") <= r.getAs[Double]("cum_revenue") + 0.01)
      }
    }
  }

  test("fk_integrity: clean corpus reports zeros; a planted orphan is named") {
    import graft.operators.Relational
    val rows = Relational.fkIntegrity(spark, sf).collect()
    assert(rows.length === 5)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_child") > 0L)
      assert(r.getAs[Long]("n_orphans") === 0L, s"unexpected orphans: $r")
      assert(r.getAs[Double]("orphan_share") === 0.0)
    }
    // Plant one broken edge: a customer pointing at a nation that does
    // not exist. All six referenced tables are copied so the operator
    // reads a complete schema from the fixture dir.
    import org.apache.spark.sql.functions._
    val tmp = java.nio.file.Files.createTempDirectory("fk").toString
    Seq("lineitem", "orders", "supplier", "nation", "region").foreach { t =>
      spark.read.parquet(s"$sf/$t.parquet")
        .write.mode("overwrite").parquet(s"$tmp/$t.parquet")
    }
    spark.read.parquet(s"$sf/customer.parquet")
      .withColumn("c_nationkey",
        when(col("c_custkey") === 1L, lit(424242L)).otherwise(col("c_nationkey")))
      .write.mode("overwrite").parquet(s"$tmp/customer.parquet")
    val planted = Relational.fkIntegrity(spark, tmp).collect()
      .map(r => r.getAs[String]("relationship") -> r.getAs[Long]("n_orphans"))
      .toMap
    assert(planted("customer.c_nationkey -> nation") === 1L)
    // The break names ONLY its edge: the other four stay clean.
    assert(planted.filterNot(_._1.startsWith("customer.")).values.forall(_ == 0L))
  }
}
