package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Relational/analytic core: scan, filter+projection pushdown, hash agg,
  * shuffle + broadcast joins, windows, semi/anti joins, rollup, pivot.
  *
  * Determinism rules (the driver hash-compares against DuckDB):
  *  - money sums go through DECIMAL(18,2) (exact, order-independent) and are
  *    cast to DOUBLE only at the end → bit-identical across engines;
  *  - every query ends in an explicit ORDER BY on non-float keys;
  *  - integer sums are cast to BIGINT on the DuckDB side (DuckDB widens to
  *    HUGEINT by default).
  *
  * Scale notes: dims (region/nation/part/supplier) are broadcast; fact-fact
  * joins shuffle on their keys and rely on AQE; aggregates use partial
  * map-side combine (Spark default for hash aggregates).
  */
object Relational {

  // Exact decimal revenue term, same text for Spark SQL and DuckDB.
  private val DISC_PRICE =
    "CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))"
  private val REV_TERM =
    "CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))"

  private def decSum(term: String): Column = sum(expr(term)).cast("double")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // A2: hash aggregation with partial combine (TPC-H Q1 flavor).
    "q01_agg" -> { (s, dir) =>
      Tables(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("2000-12-31"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          decSum("CAST(l_quantity AS DECIMAL(18,2))").as("sum_qty"),
          decSum("CAST(l_extendedprice AS DECIMAL(18,2))").as("sum_base_price"),
          decSum(DISC_PRICE).as("sum_disc_price"),
          count(lit(1)).as("count_order"))
        .withColumn("avg_qty", col("sum_qty") / col("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    },

    // A1: filter + projection pushdown to the parquet scan (TPC-H Q6 flavor).
    "q02_filter_project" -> { (s, dir) =>
      Tables(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01") &&
          col("l_shipdate") < lit("1998-01-01") &&
          col("l_discount").between(0.02, 0.08) &&
          col("l_quantity") < 25)
        .agg(decSum(REV_TERM).as("revenue"), count(lit(1)).as("n_items"))
    },

    // A3: shuffle join chain customer ⨝ orders ⨝ lineitem (TPC-H Q3 flavor).
    "q03_join_agg" -> { (s, dir) =>
      val customer = Tables(s, dir, "customer")
      val orders = Tables(s, dir, "orders").filter(col("o_orderdate") >= lit("1996-01-01"))
      val lineitem = Tables(s, dir, "lineitem")
      customer
        .join(orders, col("c_custkey") === col("o_custkey"))
        .join(lineitem, col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("c_mktsegment"))
        .agg(decSum(DISC_PRICE).as("revenue"),
          countDistinct(col("o_orderkey")).as("n_orders"))
        .orderBy("c_mktsegment")
    },

    // A4: broadcast hash join against the small part dim.
    "q04_broadcast_join" -> { (s, dir) =>
      Tables(s, dir, "lineitem")
        .join(broadcast(Tables(s, dir, "part")), col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(decSum("CAST(l_quantity AS DECIMAL(18,2))").as("sum_qty"),
          count(lit(1)).as("n_items"))
        .orderBy("p_brand")
    },

    // A5: star join across all six TPC-H-ish tables (TPC-H Q5 flavor).
    "q05_star_join" -> { (s, dir) =>
      val lineitem = Tables(s, dir, "lineitem")
      val orders = Tables(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01") && col("o_orderdate") < lit("1999-01-01"))
      val customer = Tables(s, dir, "customer")
      val supplier = broadcast(Tables(s, dir, "supplier"))
      val nation = broadcast(Tables(s, dir, "nation"))
      val region = broadcast(Tables(s, dir, "region"))
      lineitem
        .join(orders, col("l_orderkey") === col("o_orderkey"))
        .join(customer, col("o_custkey") === col("c_custkey"))
        .join(supplier, col("l_suppkey") === col("s_suppkey"))
        .join(nation, col("s_nationkey") === col("n_nationkey"))
        .join(region, col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(decSum(DISC_PRICE).as("revenue"), count(lit(1)).as("n_items"))
        .orderBy("r_name", "n_name")
    },

    // A6: window rank per partition (top-2 orders per customer).
    "q06_window_rank" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      Tables(s, dir, "orders")
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 2)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"), col("rnk"))
        .orderBy("o_custkey", "rnk")
    },

    // A7: global top-k via sort + limit (TakeOrderedAndProject).
    "q07_topk" -> { (s, dir) =>
      Tables(s, dir, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(25)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    },

    // A8: distinct aggregation (expand + two-phase agg).
    "q08_distinct" -> { (s, dir) =>
      Tables(s, dir, "lineitem")
        .agg(countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_suppkey")).as("n_supps"),
          countDistinct(col("l_orderkey")).as("n_orders"))
    },

    // A9: union + dedup.
    "q09_union" -> { (s, dir) =>
      Tables(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
        .union(Tables(s, dir, "supplier").select(col("s_nationkey").as("nationkey")))
        .distinct()
        .orderBy("nationkey")
    },

    // A10: left semi join (EXISTS).
    "q10_semi_join" -> { (s, dir) =>
      Tables(s, dir, "customer")
        .join(Tables(s, dir, "orders").filter(col("o_totalprice") > 450000),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))
        .orderBy("c_custkey")
    },

    // A11: left anti join (NOT EXISTS).
    "q11_anti_join" -> { (s, dir) =>
      Tables(s, dir, "customer")
        .join(Tables(s, dir, "orders").filter(col("o_orderstatus") === "P"),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
        .orderBy("c_custkey")
    },

    // A12: rollup hierarchy (grouping sets).
    "q12_rollup" -> { (s, dir) =>
      Tables(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(decSum("CAST(l_quantity AS DECIMAL(18,2))").as("sum_qty"),
          count(lit(1)).as("n"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
          col("sum_qty"), col("n"))
        .orderBy("returnflag", "linestatus")
    },

    // A13: pivot (conditional aggregation) on the events stream table.
    "q13_pivot" -> { (s, dir) =>
      val types = Seq("click", "error", "purchase", "signup", "view")
      val p = Tables(s, dir, "events")
        .groupBy(date_trunc("day", col("ts")).as("day"))
        .pivot("event_type", types)
        .count()
      p.select(col("day") +: types.map(t => coalesce(col(t), lit(0L)).as(t)): _*)
        .orderBy("day")
    },

    // A26: set operations (INTERSECT / EXCEPT).
    "q16_setops" -> { (s, dir) =>
      val c = Tables(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
      val su = Tables(s, dir, "supplier").select(col("s_nationkey").as("nationkey"))
      c.intersect(su).withColumn("op", lit("both"))
        .union(c.except(su).withColumn("op", lit("customer_only")))
        .orderBy("op", "nationkey")
    },

    // A19: exact percentiles (sort-based distributed percentile).
    "q15_percentile" -> { (s, dir) =>
      Tables(s, dir, "orders")
        .groupBy(col("o_orderstatus"))
        .agg(
          round(expr("percentile(o_totalprice, 0.5)"), 4).as("p50"),
          round(expr("percentile(o_totalprice, 0.9)"), 4).as("p90"),
          count(lit(1)).as("n"))
        .orderBy("o_orderstatus")
    },

    // A16: argmax per group (top customer per nation by balance).
    "q14_argmax" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("c_nationkey"))
        .orderBy(col("c_acctbal").desc, col("c_custkey"))
      Tables(s, dir, "customer")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("c_nationkey"), col("c_custkey"), col("c_name"), col("c_acctbal"))
        .orderBy("c_nationkey")
    },

    // A28: CUBE — all 4 grouping combinations in one pass (rollup's full
    // lattice); Catalyst expands to a single Expand + hash agg, one
    // shuffle regardless of the combination count.
    "q18_cube" -> { (s, dir) =>
      Tables(s, dir, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(decSum("CAST(l_quantity AS DECIMAL(18,2))").as("sum_qty"),
          count(lit(1)).as("n"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
          col("sum_qty"), col("n"))
        .orderBy("returnflag", "linestatus")
    },

    // A29: z-order (Morton) interleave — the multi-column clustering
    // key behind ZOrder.cluster's layout writes, gated cross-engine as
    // pure bit arithmetic. Top rows per z so the gate pins the curve
    // ORDER, not just the values.
    "q19_zorder" -> { (s, dir) =>
      Tables(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          pmod(col("l_partkey"), lit(1024L)).as("zx"),
          pmod(col("l_suppkey"), lit(1024L)).as("zy"))
        .withColumn("zval",
          graft.operators.ZOrder.zvalue2(col("zx"), col("zy")))
        .orderBy(col("zval"), col("l_orderkey"), col("l_linenumber"))
        .limit(100)
    },

    // A29c: HILBERT-curve clustering (round 16) — the better-locality
    // sibling of q19's Morton interleave and what lakehouse clustering
    // actually prefers: the curve is CONTINUOUS (consecutive positions
    // always Manhattan distance 1; Morton jumps corner-to-corner at
    // power-of-two boundaries), so curve-contiguous row groups cover
    // tighter rectangles and box predicates prune strictly better at
    // block boundaries. Stateful across bit levels → a codegen'd
    // Catalyst expression (one O(bits) loop), not mask-shift algebra;
    // oracle = the identical per-level algebra as a generated CTE chain.
    "q23_hilbert" -> { (s, dir) =>
      Tables(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          pmod(col("l_partkey"), lit(1024L)).as("hx"),
          pmod(col("l_suppkey"), lit(1024L)).as("hy"))
        .withColumn("hval",
          graft.functions.HilbertCurve2(col("hx"), col("hy"), bits = 10))
        .orderBy(col("hval"), col("l_orderkey"), col("l_linenumber"))
        .limit(100)
    },

    // A38: the TPC-H Q3 composition (round 17) — shipping-priority:
    // selective dim filter → two fact joins → grouped DECIMAL revenue →
    // global top-10. The one classic the relational tier lacked as a
    // COMPOSED whole: filter pushdown on all three scans, the filtered
    // customer dim broadcasts, revenue = Σ extendedprice·(1−discount)
    // rides DECIMAL (exact, order-free) and surfaces as DOUBLE, and the
    // top-k is TakeOrdered with a total tie order.
    "q26_shipping_priority" -> { (s, dir) =>
      val c = Tables(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING")
      val o = Tables(s, dir, "orders")
        .filter(col("o_orderdate") < lit("1995-03-15").cast("timestamp"))
      val l = Tables(s, dir, "lineitem")
        .filter(col("l_shipdate") > lit("1995-03-15").cast("timestamp"))
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"),
          col("o_orderpriority"))
        .agg(sum(expr("CAST(l_extendedprice AS DECIMAL(18,2))") *
          (lit(1) - expr("CAST(l_discount AS DECIMAL(18,2))")))
          .cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("o_orderdate"), col("l_orderkey"))
        .limit(10)
    },

    // A39: the TPC-H Q18 composition (round 18) — large-volume customer:
    // a grouped-HAVING filter over the fact table feeds the join chain,
    // and the Spark-first plan computes the per-order quantity sum ONCE
    // (the HAVING aggregate IS the output aggregate — no second lineitem
    // pass, no IN-subquery re-scan). Quantity rides DECIMAL (exact),
    // surfaces as DOUBLE; total tie order under the top-100.
    "q27_large_volume" -> { (s, dir) =>
      val bigq = Tables(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(sum(expr("CAST(l_quantity AS DECIMAL(18,2))")).as("__sq"))
        .filter(col("__sq") > 250)
        .select(col("l_orderkey"), col("__sq").cast("double").as("sum_qty"))
      bigq
        .join(Tables(s, dir, "orders"),
          col("l_orderkey") === col("o_orderkey"))
        .join(Tables(s, dir, "customer"),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
          col("o_orderdate"), col("o_totalprice"), col("sum_qty"))
        .orderBy(col("o_totalprice").desc, col("o_orderdate"),
          col("o_orderkey"))
        .limit(100)
    },

    // A40: the TPC-H Q21 composition (round 18) — the EXISTS/NOT-EXISTS
    // self-join chain over lineitem ("suppliers who kept waiting",
    // adapted to this schema's fault signal: the supplier whose line was
    // the ONLY returned one in a multi-supplier finished order). The
    // nation-filtered supplier dim broadcasts FIRST (1/25 selectivity
    // before the fact-fact shuffles); the EXISTS is a left-semi and the
    // NOT EXISTS a left-anti, each an equi-join on orderkey with the
    // supplier inequality as residual — both orderkey-partitioned, no
    // per-order window, no all-pairs.
    "q28_single_fault_supplier" -> { (s, dir) =>
      val li = Tables(s, dir, "lineitem")
      val sn = Tables(s, dir, "supplier")
        .join(broadcast(Tables(s, dir, "nation")
          .filter(col("n_name") === "NATION_7")),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("s_name"))
      val l2 = li.select(col("l_orderkey").as("l2_ok"),
        col("l_suppkey").as("l2_sk"))
      val l3 = li.filter(col("l_returnflag") === "R")
        .select(col("l_orderkey").as("l3_ok"), col("l_suppkey").as("l3_sk"))
      li.filter(col("l_returnflag") === "R")
        .select(col("l_orderkey"), col("l_suppkey"))
        .join(broadcast(sn), col("l_suppkey") === col("s_suppkey"))
        .join(Tables(s, dir, "orders")
          .filter(col("o_orderstatus") === "F").select(col("o_orderkey")),
          col("l_orderkey") === col("o_orderkey"))
        .join(l2, col("l_orderkey") === col("l2_ok") &&
          col("l_suppkey") =!= col("l2_sk"), "left_semi")
        .join(l3, col("l_orderkey") === col("l3_ok") &&
          col("l_suppkey") =!= col("l3_sk"), "left_anti")
        .groupBy(col("s_name"))
        .agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name"))
        .limit(100)
    },

    // A43: the TPC-H Q17 composition (round 18) — small-quantity-order
    // revenue: "what do orders below 20% of a part's average quantity
    // earn" (the discontinued-inventory question). The correlated AVG
    // subquery decorrelates into ONE per-part aggregate over the
    // brand's rows; the comparison is exact DECIMAL cross-multiplied
    // (qty·5·cnt < sum — no float average, no boundary drift), the
    // brand dim broadcasts, and the brand's lineitem slice is computed
    // once (persisted, released after its next use: both the stats and
    // the final filter reference it inside the caller's single query).
    "q29_small_qty_revenue" -> { (s, dir) =>
      val partsF = Tables(s, dir, "part")
        .filter(col("p_brand") === "Brand#1").select(col("p_partkey"))
      val persisted = org.apache.spark.sql.graftbridge.Bridge
        .persistedCopy(
          Tables(s, dir, "lineitem")
            .join(broadcast(partsF), col("l_partkey") === col("p_partkey"))
            .select(col("l_partkey"),
              expr("CAST(l_quantity AS DECIMAL(18,2))").as("__q"),
              expr("CAST(l_extendedprice AS DECIMAL(18,2))").as("__p")),
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      persisted.releaseAfterNextUse()
      val liF = persisted.df
      val stats = liF.groupBy(col("l_partkey").as("__pk"))
        .agg(sum(col("__q")).as("__sq"), count(lit(1)).as("__n"))
      liF.join(broadcast(stats), col("l_partkey") === col("__pk"))
        .filter(col("__q") * lit(5) * col("__n") < col("__sq"))
        .agg((sum(col("__p")).cast("double") / lit(7.0)).as("avg_yearly"))
    },

    // A35: declarative DATA-QUALITY constraints (round 16; the
    // Deequ-family publish gate) — one report row per declared rule
    // with the EXACT violation count: row-local rules fold into one
    // conditional-count pass, uniqueness is one key group-by,
    // referential integrity one anti-join against the (broadcast)
    // dimension. The fixture mixes passing and failing rules on
    // purpose: counts, not booleans, are the signal.
    "q25_constraints" -> { (s, dir) =>
      import graft.operators.Constraints._
      val activeCustomers = Tables(s, dir, "customer")
        .filter(pmod(col("c_custkey"), lit(3L)) =!= 0)
      check(Tables(s, dir, "orders"), Seq(
        NotNull("o_custkey"),
        Unique(Seq("o_orderkey")),
        InRange("o_totalprice", 0.0, 300000.0),
        InSet("o_orderstatus", Seq("F", "O")),
        RefIntegrity("o_custkey", activeCustomers, "c_custkey")))
        .orderBy("rule")
    },

    // A19b: exact WEIGHTED quantiles (round 16) — "the price at which
    // half the QUANTITY traded": q15's unweighted percentiles answer
    // the wrong question when rows carry different mass, and no engine
    // ships a built-in. Left-continuous definition, DECIMAL weights,
    // integer-scaled threshold (cum·1e6 ≥ ppm·total — no 0.5 float in
    // the comparison), window over DISTINCT values per group.
    "q24_weighted_quantile" -> { (s, dir) =>
      val li = Tables(s, dir, "lineitem")
      // one shared corpus pass for both quantiles (round-18 perGroupMany:
      // the (group, value) collapse + bin histogram are ppm-independent)
      val wq = graft.operators.WeightedQuantile.perGroupMany(li,
        "l_returnflag", "l_extendedprice", "l_quantity",
        Seq(500000L, 900000L))
      wq(500000L).join(wq(900000L), "l_returnflag").orderBy("l_returnflag")
    },

    // A29b: the 3-column Morton interleave (host-bucket × day × band
    // layouts) — same generated-oracle discipline as q19.
    "q20_zorder3" -> { (s, dir) =>
      Tables(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          pmod(col("l_partkey"), lit(512L)).as("zx"),
          pmod(col("l_suppkey"), lit(512L)).as("zy"),
          pmod(col("l_orderkey"), lit(512L)).as("zz"))
        .withColumn("zval", graft.operators.ZOrder.zvalue3(
          col("zx"), col("zy"), col("zz")))
        .orderBy(col("zval"), col("l_orderkey"), col("l_linenumber"))
        .limit(100)
    },

    // A27: interval (range) join — customers matched to supplier balance
    // bands [s_acctbal−50, s_acctbal+50] via the binned equi-join (a bare
    // BETWEEN join would plan as BroadcastNestedLoopJoin). Balance sums
    // ride exact cents-longs so the aggregate is order-free.
    "q17_range_join" -> { (s, dir) =>
      val bands = Tables(s, dir, "supplier").select(col("s_suppkey"),
        (col("s_acctbal") - 50).as("lo"), (col("s_acctbal") + 50).as("hi"))
      graft.operators.RangeJoin(
          Tables(s, dir, "customer").select("c_custkey", "c_acctbal"),
          bands, "c_acctbal", "lo", "hi", binWidth = 100.0)
        .groupBy("s_suppkey")
        .agg(count(lit(1)).as("n_matches"),
          round(sum(round(col("c_acctbal") * 100).cast("long")) / 100.0, 2)
            .as("sum_bal"))
        .orderBy("s_suppkey")
    },

    // A6b: the distribution-window suite — ntile / percent_rank /
    // cume_dist / dense_rank per customer. Two window specs on purpose:
    // rank-family functions order by the COARSE key (o_orderpriority, 5
    // values → real peer groups, which is what percent_rank/cume_dist
    // tie semantics are about), while ntile orders by a TOTAL key
    // (priority, orderkey) because ntile assigns by physical row order —
    // over a non-total order its split of a peer group is engine-
    // dependent, the exact nondeterminism a hash gate must exclude. The
    // ratios are single IEEE divisions of exact small integers, so both
    // engines produce bit-identical doubles with no rounding hack. One
    // shuffle on o_custkey serves both specs (same partition key).
    "q21_window_suite" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val byCust = Window.partitionBy(col("o_custkey"))
      val coarse = byCust.orderBy(col("priority"))
      val total = byCust.orderBy(col("priority"), col("o_orderkey"))
      Tables(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          col("o_orderpriority").as("priority"))
        .withColumn("nt", ntile(4).over(total))
        .withColumn("drnk", dense_rank().over(coarse))
        .withColumn("prnk", percent_rank().over(coarse))
        .withColumn("cd", cume_dist().over(coarse))
        .orderBy("o_custkey", "priority", "o_orderkey")
    },

    // A12b: arbitrary GROUPING SETS — the lattice rollup/cube can't
    // express (here: by-flag-and-status, by-status alone, and the grand
    // total, deliberately SKIPPING by-flag — the asymmetry is the point).
    // grouping_id() disambiguates "aggregated-away" from a genuinely
    // NULL group value, the correctness trap the coalesce('ALL') display
    // hack papers over. Catalyst plans one Expand + a single hash agg
    // shuffle regardless of set count — same shape as rollup/cube.
    "q22_grouping_sets" -> { (s, dir) =>
      Tables(s, dir, "lineitem").createOrReplaceTempView("lineitem_gs")
      s.sql("""SELECT grouping_id(l_returnflag, l_linestatus) AS gid,
              |  coalesce(l_returnflag, 'ALL') AS returnflag,
              |  coalesce(l_linestatus, 'ALL') AS linestatus,
              |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
              |  COUNT(*) AS n
              |FROM lineitem_gs
              |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
              |                        (l_linestatus), ())
              |ORDER BY gid, returnflag, linestatus""".stripMargin)
    }
  )

  val oracles: Map[String, String] = Map(
    // q26: the same Q3 composition natively; DECIMAL revenue surfaces
    // as DOUBLE on both engines, total tie order
    "q26_shipping_priority" ->
      """SELECT l.l_orderkey, o.o_orderdate, o.o_orderpriority,
        |  CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)) *
        |           (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE)
        |    AS revenue
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |WHERE c.c_mktsegment = 'BUILDING'
        |  AND o.o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
        |  AND l.l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
        |GROUP BY 1, 2, 3
        |ORDER BY revenue DESC, o_orderdate, l_orderkey
        |LIMIT 10""".stripMargin,
    // q27: the same Q18 composition natively — grouped HAVING on the
    // DECIMAL quantity sum, reused as the output aggregate
    "q27_large_volume" ->
      """WITH bigq AS (
        |  SELECT l_orderkey,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |  FROM lineitem GROUP BY l_orderkey
        |  HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 250)
        |SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
        |  o.o_totalprice, b.sum_qty
        |FROM bigq b
        |JOIN orders o ON b.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |ORDER BY o.o_totalprice DESC, o.o_orderdate, o.o_orderkey
        |LIMIT 100""".stripMargin,

    // q28: the same Q21 chain natively — correlated EXISTS/NOT EXISTS
    "q28_single_fault_supplier" ->
      """SELECT s.s_name, CAST(COUNT(*) AS BIGINT) AS numwait
        |FROM lineitem l1
        |JOIN orders o ON o.o_orderkey = l1.l_orderkey
        |  AND o.o_orderstatus = 'F'
        |JOIN supplier s ON s.s_suppkey = l1.l_suppkey
        |JOIN nation n ON n.n_nationkey = s.s_nationkey
        |  AND n.n_name = 'NATION_7'
        |WHERE l1.l_returnflag = 'R'
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey
        |                    AND l3.l_suppkey <> l1.l_suppkey
        |                    AND l3.l_returnflag = 'R')
        |GROUP BY s.s_name
        |ORDER BY numwait DESC, s.s_name
        |LIMIT 100""".stripMargin,

    // q29: the same Q17 composition natively — correlated per-part
    // aggregate, same exact cross-multiplied DECIMAL comparison
    "q29_small_qty_revenue" ->
      """WITH st AS (
        |  SELECT l.l_partkey AS pk,
        |    SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS sq,
        |    COUNT(*) AS n
        |  FROM lineitem l
        |  JOIN part p ON p.p_partkey = l.l_partkey
        |  WHERE p.p_brand = 'Brand#1'
        |  GROUP BY l.l_partkey)
        |SELECT CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)))
        |         AS DOUBLE) / 7.0 AS avg_yearly
        |FROM lineitem l
        |JOIN part p ON p.p_partkey = l.l_partkey AND p.p_brand = 'Brand#1'
        |JOIN st ON st.pk = l.l_partkey
        |WHERE CAST(l.l_quantity AS DECIMAL(18,2)) * 5 * st.n < st.sq""".stripMargin,

    "q01_agg" ->
      s"""SELECT l_returnflag, l_linestatus,
         |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
         |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
         |  CAST(SUM($DISC_PRICE) AS DOUBLE) AS sum_disc_price,
         |  COUNT(*) AS count_order,
         |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty
         |FROM lineitem
         |WHERE l_shipdate <= TIMESTAMP '2000-12-31 00:00:00'
         |GROUP BY l_returnflag, l_linestatus
         |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q02_filter_project" ->
      s"""SELECT CAST(SUM($REV_TERM) AS DOUBLE) AS revenue, COUNT(*) AS n_items
         |FROM lineitem
         |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
         |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
         |  AND l_discount BETWEEN 0.02 AND 0.08
         |  AND l_quantity < 25""".stripMargin,

    "q03_join_agg" ->
      s"""SELECT c_mktsegment,
         |  CAST(SUM($DISC_PRICE) AS DOUBLE) AS revenue,
         |  COUNT(DISTINCT o_orderkey) AS n_orders
         |FROM customer
         |JOIN orders ON c_custkey = o_custkey
         |JOIN lineitem ON o_orderkey = l_orderkey
         |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
         |GROUP BY c_mktsegment
         |ORDER BY c_mktsegment""".stripMargin,

    "q04_broadcast_join" ->
      """SELECT p_brand,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  COUNT(*) AS n_items
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand
        |ORDER BY p_brand""".stripMargin,

    "q05_star_join" ->
      s"""SELECT r_name, n_name,
         |  CAST(SUM($DISC_PRICE) AS DOUBLE) AS revenue,
         |  COUNT(*) AS n_items
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation ON s_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
         |  AND o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
         |GROUP BY r_name, n_name
         |ORDER BY r_name, n_name""".stripMargin,

    "q06_window_rank" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rnk FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rnk
        |  FROM orders) t
        |WHERE rnk <= 2
        |ORDER BY o_custkey, rnk""".stripMargin,

    "q07_topk" ->
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey
        |LIMIT 25""".stripMargin,

    "q08_distinct" ->
      """SELECT COUNT(DISTINCT l_partkey) AS n_parts,
        |  COUNT(DISTINCT l_suppkey) AS n_supps,
        |  COUNT(DISTINCT l_orderkey) AS n_orders
        |FROM lineitem""".stripMargin,

    "q09_union" ->
      """SELECT c_nationkey AS nationkey FROM customer
        |UNION
        |SELECT s_nationkey AS nationkey FROM supplier
        |ORDER BY nationkey""".stripMargin,

    "q10_semi_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_totalprice > 450000)
        |ORDER BY c_custkey""".stripMargin,

    "q11_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
        |ORDER BY c_custkey""".stripMargin,

    "q12_rollup" ->
      """SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
        |  COALESCE(l_linestatus, 'ALL') AS linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  COUNT(*) AS n
        |FROM lineitem
        |GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY returnflag, linestatus""".stripMargin,

    "q13_pivot" ->
      """SELECT date_trunc('day', ts) AS day,
        |  COUNT(*) FILTER (WHERE event_type = 'click') AS click,
        |  COUNT(*) FILTER (WHERE event_type = 'error') AS error,
        |  COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase,
        |  COUNT(*) FILTER (WHERE event_type = 'signup') AS signup,
        |  COUNT(*) FILTER (WHERE event_type = 'view') AS view
        |FROM events
        |GROUP BY 1
        |ORDER BY 1""".stripMargin,

    "q16_setops" ->
      """SELECT nationkey, 'both' AS op FROM
        |  (SELECT c_nationkey AS nationkey FROM customer
        |   INTERSECT SELECT s_nationkey FROM supplier) a
        |UNION ALL
        |SELECT nationkey, 'customer_only' AS op FROM
        |  (SELECT c_nationkey AS nationkey FROM customer
        |   EXCEPT SELECT s_nationkey FROM supplier) b
        |ORDER BY op, nationkey""".stripMargin,

    "q15_percentile" ->
      """SELECT o_orderstatus,
        |  ROUND(quantile_cont(o_totalprice, 0.5), 4) AS p50,
        |  ROUND(quantile_cont(o_totalprice, 0.9), 4) AS p90,
        |  COUNT(*) AS n
        |FROM orders
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,

    "q14_argmax" ->
      """SELECT c_nationkey, c_custkey, c_name, c_acctbal FROM (
        |  SELECT c_nationkey, c_custkey, c_name, c_acctbal,
        |    ROW_NUMBER() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) AS rn
        |  FROM customer) t
        |WHERE rn = 1
        |ORDER BY c_nationkey""".stripMargin,

    // DuckDB plans the BETWEEN join natively (IEJoin); the binned
    // equi-join + residual filter is pair-identical. Cents scaling keeps
    // the sum exact at any partitioning.
    // generated from ZOrder.duckZvalue2 — identical mask constants as
    // the Column-side interleave, so the two sides cannot drift
    "q19_zorder" -> {
      val z = graft.operators.ZOrder.duckZvalue2(
        "(l_partkey % 1024)", "(l_suppkey % 1024)")
      s"""SELECT l_orderkey, l_linenumber,
         |  l_partkey % 1024 AS zx, l_suppkey % 1024 AS zy,
         |  $z AS zval
         |FROM lineitem
         |ORDER BY zval, l_orderkey, l_linenumber
         |LIMIT 100""".stripMargin
    },

    "q25_constraints" ->
      """WITH n AS (SELECT COUNT(*) AS n_rows FROM orders),
        |v AS (
        |  SELECT 'not_null:o_custkey' AS rule,
        |    (SELECT COUNT(*) FROM orders WHERE o_custkey IS NULL)
        |      AS violations
        |  UNION ALL
        |  SELECT 'unique:o_orderkey',
        |    (SELECT COALESCE(SUM(c), 0) FROM (
        |       SELECT COUNT(*) AS c FROM orders GROUP BY o_orderkey
        |       HAVING COUNT(*) > 1))
        |  UNION ALL
        |  SELECT 'in_range:o_totalprice',
        |    (SELECT COUNT(*) FROM orders
        |     WHERE o_totalprice IS NULL OR o_totalprice < 0
        |        OR o_totalprice > 300000)
        |  UNION ALL
        |  SELECT 'in_set:o_orderstatus',
        |    (SELECT COUNT(*) FROM orders
        |     WHERE o_orderstatus IS NULL
        |        OR o_orderstatus NOT IN ('F', 'O'))
        |  UNION ALL
        |  SELECT 'ref:o_custkey',
        |    (SELECT COUNT(*) FROM orders o
        |     WHERE o.o_custkey IS NOT NULL AND NOT EXISTS (
        |       SELECT 1 FROM customer c
        |       WHERE c.c_custkey = o.o_custkey AND c.c_custkey % 3 <> 0)))
        |SELECT v.rule, CAST(v.violations AS BIGINT) AS violations,
        |  CAST(n.n_rows AS BIGINT) AS n_rows,
        |  CAST(v.violations = 0 AS INT) AS pass
        |FROM v CROSS JOIN n
        |ORDER BY rule""".stripMargin,

    "q24_weighted_quantile" ->
      """WITH bv AS (
        |  SELECT l_returnflag, l_extendedprice AS v,
        |    SUM(CAST(l_quantity AS DECIMAL(18,2))) AS w
        |  FROM lineitem GROUP BY 1, 2),
        |c AS (
        |  SELECT l_returnflag, v,
        |    SUM(w) OVER (PARTITION BY l_returnflag ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
        |    SUM(w) OVER (PARTITION BY l_returnflag) AS tw
        |  FROM bv)
        |SELECT m.l_returnflag, m.wq_500000, p.wq_900000
        |FROM (SELECT l_returnflag, MIN(v) AS wq_500000 FROM c
        |      WHERE cw * 1000000 >= 500000 * tw GROUP BY 1) m
        |JOIN (SELECT l_returnflag, MIN(v) AS wq_900000 FROM c
        |      WHERE cw * 1000000 >= 900000 * tw GROUP BY 1) p
        |  USING (l_returnflag)
        |ORDER BY l_returnflag""".stripMargin,

    "q23_hilbert" -> {
      val stages = graft.functions.HilbertCurve2.duckStages(
        "src", bits = 10, carry = Seq("l_orderkey", "l_linenumber", "hx", "hy"))
      s"""WITH src AS (
         |  SELECT l_orderkey, l_linenumber,
         |    l_partkey % 1024 AS hx, l_suppkey % 1024 AS hy
         |  FROM lineitem),
         |$stages
         |SELECT l_orderkey, l_linenumber, hx, hy, hval
         |FROM hf
         |ORDER BY hval, l_orderkey, l_linenumber
         |LIMIT 100""".stripMargin
    },

    "q20_zorder3" -> {
      val z = graft.operators.ZOrder.duckZvalue3(
        "(l_partkey % 512)", "(l_suppkey % 512)", "(l_orderkey % 512)")
      s"""SELECT l_orderkey, l_linenumber,
         |  l_partkey % 512 AS zx, l_suppkey % 512 AS zy,
         |  l_orderkey % 512 AS zz,
         |  $z AS zval
         |FROM lineitem
         |ORDER BY zval, l_orderkey, l_linenumber
         |LIMIT 100""".stripMargin
    },

    "q18_cube" ->
      """SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
        |  COALESCE(l_linestatus, 'ALL') AS linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  COUNT(*) AS n
        |FROM lineitem
        |GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY returnflag, linestatus""".stripMargin,

    "q17_range_join" ->
      """SELECT s_suppkey,
        |  COUNT(*) AS n_matches,
        |  ROUND(SUM(CAST(ROUND(c_acctbal * 100, 0) AS BIGINT)) / 100.0, 2) AS sum_bal
        |FROM customer JOIN supplier
        |  ON c_acctbal BETWEEN s_acctbal - 50 AND s_acctbal + 50
        |GROUP BY s_suppkey
        |ORDER BY s_suppkey""".stripMargin,

    "q21_window_suite" ->
      """SELECT o_custkey, o_orderkey, o_orderpriority AS priority,
        |  NTILE(4) OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderpriority, o_orderkey) AS nt,
        |  DENSE_RANK() OVER w AS drnk,
        |  PERCENT_RANK() OVER w AS prnk,
        |  CUME_DIST() OVER w AS cd
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderpriority)
        |ORDER BY o_custkey, priority, o_orderkey""".stripMargin,

    // GROUPING() in DuckDB == Spark's grouping_id(): a bitmask with bit i
    // set when column i is aggregated away in that grouping set
    "q22_grouping_sets" ->
      """SELECT GROUPING(l_returnflag, l_linestatus) AS gid,
        |  COALESCE(l_returnflag, 'ALL') AS returnflag,
        |  COALESCE(l_linestatus, 'ALL') AS linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  COUNT(*) AS n
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
        |                        (l_linestatus), ())
        |ORDER BY gid, returnflag, linestatus""".stripMargin
  )
}
