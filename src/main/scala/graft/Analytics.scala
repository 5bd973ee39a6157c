package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.plans.Materialize._

/** OLAP block over the TPC-H-ish tables (SURVEY.md §2 "Analytics").
  *
  * These are the bench headliners: pure declarative DataFrame plans so
  * Catalyst gets pushdown/pruning/join-reorder for free, dimension
  * joins explicitly broadcast, and all money sums carried in
  * DECIMAL(38,6) so results are bit-identical to the DuckDB oracle.
  */
object Analytics {

  /** Exact cross-engine money arithmetic. The money columns are
    * doubles that encode exact 2-dp decimals, so casting each OPERAND
    * to decimal before any arithmetic keeps every product and sum
    * exact — no rounding happens anywhere, hence no engine- or
    * version-dependent rounding-mode / accumulation-order effects.
    * The single final decimal→double cast is correctly rounded in
    * both engines (scaled integers stay below 2^53 at any realistic
    * SF), so outputs are plain float64 — the one numeric type that
    * hashes identically across engines; decimal outputs don't (their
    * width/scale rendering is engine- and version-dependent). */
  private def money(c: Column): Column = c.cast("decimal(18,2)")
  private val one: Column = lit(new java.math.BigDecimal("1.00"))
  private def discounted(price: Column, disc: Column): Column =
    money(price) * (one - money(disc))
  private def dsum(c: Column): Column = sum(c).cast("double")

  // q20's (supplier, part) pair frame is persisted because it feeds
  // two consumers (see the query's scaladoc). A lazy persist cannot
  // be unpersisted before the caller's action runs, so repeated
  // invocations (bench reruns, specs) used to leak a cached copy per
  // call; memoizing per (session, dir) — the graph caches' lifecycle —
  // makes it ONE cached frame, and eviction unpersists it (safe for a
  // persist: consumers just recompute through the original plan).
  private val q20PairCache =
    new graft.util.Memos.Memo[(SparkSession, String), DataFrame](
      4, derived = true, onEvict = (df: DataFrame) => df.unpersist(false))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q1_agg" -> { (s, d) =>
      Tables.lineitem(s, d)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          dsum(money(col("l_quantity"))).as("sum_qty"),
          dsum(money(col("l_extendedprice"))).as("sum_base_price"),
          dsum(discounted(col("l_extendedprice"), col("l_discount")))
            .as("sum_disc_price"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    },

    "q3_topk" -> { (s, d) =>
      val cust = Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
      val ord = Tables.orders(s, d)
        .filter(col("o_orderdate") < lit("1995-03-15").cast("timestamp"))
      val li = Tables.lineitem(s, d)
        .filter(col("l_shipdate") > lit("1995-03-15").cast("timestamp"))
      // no broadcast hint: customer⋈orders is fact-sized at scale, so
      // the orderkey join must be free to shuffle; AQE still picks a
      // broadcast join at runtime when the filtered side is small
      li.join(cust.join(ord, cust("c_custkey") === ord("o_custkey"))
          .select("o_orderkey", "o_orderdate", "o_orderpriority"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(dsum(discounted(col("l_extendedprice"), col("l_discount")))
          .as("revenue"))
        .orderBy(col("revenue").desc, col("o_orderkey"))
        .limit(10)
    },

    "q5_join5" -> { (s, d) =>
      // revenue per nation: region ⋈ nation ⋈ customer ⋈ orders ⋈ lineitem.
      // nation/region are true dims (25/5 rows at any SF) → broadcast
      // hints; customer grows with SF, so its join gets no hint —
      // statically or via AQE Spark still broadcasts it while it fits
      val reg = Tables.region(s, d)
      val nat = Tables.nation(s, d)
      val cust = Tables.customer(s, d)
      val ord = Tables.orders(s, d)
      val li = Tables.lineitem(s, d)
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
        .groupBy("n_name")
        .agg(dsum(discounted(col("l_extendedprice"), col("l_discount")))
          .as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("n_name")
    },

    "q6_filter" -> { (s, d) =>
      // Selective scan-filter-agg: all three predicates reach the
      // parquet reader as PushedFilters.
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1994-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1995-01-01").cast("timestamp") &&
          col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
        .agg(dsum(money(col("l_extendedprice")) * money(col("l_discount")))
          .as("revenue"),
          count(lit(1)).as("n_rows"))
    },

    "q7_window" -> { (s, d) =>
      // Top-3 orders per customer by totalprice (rank over partition).
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      Tables.orders(s, d)
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("o_custkey"), col("o_orderkey"),
          money(col("o_totalprice")).cast("double").as("totalprice"),
          col("rk"))
        .orderBy("o_custkey", "rk")
    },

    "q7_topk_native" -> { (s, d) =>
      // same result as q7_window minus the rank column, produced by
      // the custom TopKPerKeyExec operator (bounded heap per key,
      // no partition sort) — see graft.plans.TopKPerKey
      graft.plans.TopK.perKey(Tables.orders(s, d), Seq("o_custkey"),
          Seq("o_totalprice" -> false, "o_orderkey" -> true), k = 3)
        .select(col("o_custkey"), col("o_orderkey"),
          money(col("o_totalprice")).cast("double").as("totalprice"))
        .orderBy("o_custkey", "o_orderkey")
    },

    "q8_rollup" -> { (s, d) =>
      Tables.orders(s, d)
        .rollup("o_orderstatus", "o_orderpriority")
        .agg(dsum(money(col("o_totalprice"))).as("sum_price"),
          count(lit(1)).as("n_orders"))
        .orderBy(col("o_orderstatus").asc_nulls_first,
          col("o_orderpriority").asc_nulls_first)
    },

    "q14_grouping_sets" -> { (s, d) =>
      // explicit GROUPING SETS with grouping_id: the status totals and
      // the priority totals in ONE pass (rollup/cube's general form —
      // Spark expands to a single expand+agg, no double scan), plus
      // the grouping_id disambiguator for NULL-valued group keys
      Tables.orders(s, d).createOrReplaceTempView("orders_gs")
      s.sql("""
        SELECT o_orderstatus, o_orderpriority,
               CAST(grouping_id(o_orderstatus, o_orderpriority) AS BIGINT)
                 AS gid,
               count(*) AS n_orders,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS sum_price
        FROM orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
        ORDER BY gid, o_orderstatus, o_orderpriority""")
    },

    "q12_rolling" -> { (s, d) =>
      // rolling 30-day spend per customer: a RANGE-frame window
      // (value-based, not row-based — peers at the same date share
      // one frame, so ties are deterministic in any engine). Decimal
      // accumulation, cast once at the end.
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("o_custkey").orderBy(col("sec"))
        .rangeBetween(-2592000L, 0L)
      Tables.orders(s, d)
        .select(col("o_custkey"), col("o_orderkey"),
          // NTZ→timestamp cast is wall-clock under the pinned UTC
          // session tz — the same instant DuckDB's epoch_ns reads
          expr("unix_micros(CAST(o_orderdate AS TIMESTAMP)) DIV 1000000")
            .as("sec"),
          money(col("o_totalprice")).as("p"))
        .select(col("o_custkey"), col("o_orderkey"),
          sum(col("p")).over(w).cast("double").as("spend_30d"),
          count(lit(1)).over(w).as("n_30d"))
        .orderBy("o_custkey", "o_orderkey")
    },

    "q13_pivot" -> { (s, d) =>
      // PIVOT: order counts per status × priority, explicit value
      // list so the output schema is static (the streaming-safe and
      // 100 TB-safe form — an implicit pivot scans twice to discover
      // values); absent cells coalesce to 0 like SQL's FILTER form
      val p = Tables.orders(s, d)
        .groupBy("o_orderstatus")
        .pivot("o_orderpriority", Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
          "4-NOT SPECIFIED", "5-LOW"))
        .agg(count(lit(1)))
      p.select(col("o_orderstatus"),
          coalesce(col("1-URGENT"), lit(0L)).as("p1_urgent"),
          coalesce(col("2-HIGH"), lit(0L)).as("p2_high"),
          coalesce(col("3-MEDIUM"), lit(0L)).as("p3_medium"),
          coalesce(col("4-NOT SPECIFIED"), lit(0L)).as("p4_none"),
          coalesce(col("5-LOW"), lit(0L)).as("p5_low"))
        .orderBy("o_orderstatus")
    },

    "q10_percentiles" -> { (s, d) =>
      // exact interpolated percentiles (both engines do linear
      // interpolation over the sorted values) + exact distinct count.
      // The true percentile of 2-dp inputs with frac ∈ {.5,.9} has at
      // most 3 decimals, so round(·,4) on the double absorbs any
      // last-ulp interpolation-arithmetic difference between engines
      // without ever sitting on a rounding boundary.
      Tables.orders(s, d)
        .groupBy("o_orderstatus")
        .agg(
          round(expr("percentile(o_totalprice, 0.5)"), 4).as("p50"),
          round(expr("percentile(o_totalprice, 0.9)"), 4).as("p90"),
          countDistinct(col("o_custkey")).as("n_custs"))
        .orderBy("o_orderstatus")
    },

    "q11_sketch" -> { (s, d) =>
      // the 100 TB form of q10: HyperLogLog++ distinct counts and
      // quantile-sketch percentiles — bounded-memory partial
      // aggregates that merge associatively, so the plan is one
      // map-side-combined shuffle regardless of group cardinality,
      // where exact distinct/percentile would buffer per-group value
      // sets. Rows-only: sketch estimates are engine-specific; the
      // relative-error contract vs the exact q10 answers is pinned
      // in AnalyticsSpec.
      Tables.orders(s, d)
        .groupBy("o_orderstatus")
        .agg(
          approx_count_distinct(col("o_custkey"), rsd = 0.01)
            .as("n_custs_approx"),
          round(expr("approx_percentile(o_totalprice, 0.5, 10000)"), 4)
            .as("p50_approx"),
          round(expr("approx_percentile(o_totalprice, 0.9, 10000)"), 4)
            .as("p90_approx"))
        .orderBy("o_orderstatus")
    },

    "q15_correlated" -> { (s, d) =>
      // TPC-H Q15 shape: supplier(s) whose windowed revenue equals
      // the global max — the scalar-correlated-subquery pattern. The
      // revenue CTE is computed ONCE (both consumers reference the
      // same frame, Catalyst reuses the exchange); the scalar max is
      // a single-row aggregate broadcast into the equality filter,
      // and the surviving row set (≥1 row, usually 1) broadcasts
      // into the supplier join — at any SF the only fact-sized work
      // is the initial filtered scan+agg. Revenue is exact decimal
      // arithmetic cast once to double, so the max-equality compares
      // identical float64 values in both engines.
      val rev = Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
        .groupBy("l_suppkey")
        .agg(dsum(discounted(col("l_extendedprice"), col("l_discount")))
          .as("total_revenue"))
      val mx = rev.agg(max("total_revenue").as("__mx"))
      val top = rev.join(broadcast(mx), col("total_revenue") === col("__mx"))
        .select("l_suppkey", "total_revenue")
      Tables.supplier(s, d)
        .join(broadcast(top), col("s_suppkey") === col("l_suppkey"))
        .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
        .orderBy("s_suppkey")
    },

    "q9_exists" -> { (s, d) =>
      // Customers with ≥1 order (semi) minus those with any F order
      // (anti) — EXISTS / NOT EXISTS as left_semi / left_anti joins.
      val cust = Tables.customer(s, d)
      val ord = Tables.orders(s, d)
      val withOrders = cust.join(ord.select("o_custkey"),
        cust("c_custkey") === col("o_custkey"), "left_semi")
      val fCust = ord.filter(col("o_orderstatus") === "F").select("o_custkey")
      withOrders.join(fCust, withOrders("c_custkey") === fCust("o_custkey"),
          "left_anti")
        .select(col("c_custkey"), col("c_name"),
          money(col("c_acctbal")).cast("double").as("acctbal"))
        .orderBy("c_custkey")
    },

    "q16_supplier_cnt" -> { (s, d) =>
      // TPC-H Q16 shape: distinct-supplier breadth per part attribute
      // group, minus an excluded-supplier set (the "complaints" anti
      // join). part⋈lineitem shuffles on partkey once; the excluded
      // set is a small fraction of suppliers at any SF → broadcast
      // anti join; count(DISTINCT) pays the one extra shuffle a
      // distinct aggregation inherently needs (partial distinct on
      // (group, suppkey) first, so the wide shuffle dedups map-side).
      val p = Tables.part(s, d)
        .filter(col("p_brand") =!= "Brand#1" && col("p_type") =!= "PROMO")
        .select("p_partkey", "p_brand", "p_type", "p_size")
      val excluded = Tables.supplier(s, d)
        .filter(col("s_acctbal") < 1000).select("s_suppkey")
      Tables.lineitem(s, d).select("l_partkey", "l_suppkey")
        .join(excluded, col("l_suppkey") === col("s_suppkey"), "left_anti")
        .join(p, col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
          col("p_size"))
    },

    "q17_small_qty" -> { (s, d) =>
      // TPC-H Q17 shape: per-part average-quantity correlated
      // subquery — revenue from lineitems under half their part's
      // mean quantity. The correlated scalar becomes one per-partkey
      // aggregate joined back on the SAME key the brand join uses, so
      // the plan is two shuffles on l_partkey (agg + join), no
      // re-scan per row. Cross-engine exactness: l_quantity is
      // integral-valued, so every partial double sum is exact and
      // avg = sum/count is the correctly-rounded quotient in any
      // accumulation order; 0.5*avg is an exponent shift.
      val li = Tables.lineitem(s, d)
      val partAvg = li.groupBy(col("l_partkey").as("pk"))
        .agg(avg(col("l_quantity")).as("avg_qty"))
      val brand = Tables.part(s, d).filter(col("p_brand") === "Brand#3")
        .select("p_partkey")
      li.join(brand, col("l_partkey") === col("p_partkey"))
        .join(partAvg, col("l_partkey") === col("pk"))
        .filter(col("l_quantity") < lit(0.5) * col("avg_qty"))
        .agg((dsum(money(col("l_extendedprice"))) / lit(7.0)).as("avg_yearly"),
          count(lit(1)).as("n_items"))
    },

    "q18_big_orders" -> { (s, d) =>
      // TPC-H Q18 shape: large-quantity orders via group-HAVING, then
      // the winner set (tiny) drives the orders/customer joins — at
      // scale only the initial lineitem agg is fact-sized; AQE
      // broadcasts the filtered aggregate into both joins.
      val big = Tables.lineitem(s, d).groupBy("l_orderkey")
        .agg(dsum(money(col("l_quantity"))).as("total_qty"))
        .filter(col("total_qty") > 190)
      Tables.orders(s, d)
        .join(big, col("o_orderkey") === col("l_orderkey"))
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
          money(col("o_totalprice")).cast("double").as("totalprice"),
          col("total_qty"))
        .orderBy(col("total_qty").desc, col("o_orderkey"))
        .limit(100)
    },

    "q19_disjunctive" -> { (s, d) =>
      // TPC-H Q19 shape: an OR-of-ANDs predicate spanning both join
      // sides. Each disjunct's per-side implication is stated
      // explicitly (brand IN-list on part, quantity envelope on
      // lineitem) because an optimizer cannot derive single-side
      // prefilters from an OR that references both tables — with
      // them, each scan prunes BEFORE the join (PushedFilters carries
      // the IN-list and the quantity range).
      val p = Tables.part(s, d)
        .filter(col("p_brand").isin("Brand#1", "Brand#2", "Brand#3"))
      val li = Tables.lineitem(s, d)
        .filter(col("l_quantity").between(1, 45))
      val cond =
        (col("p_brand") === "Brand#1" && col("p_size").between(1, 15) &&
          col("l_quantity").between(1, 21)) ||
        (col("p_brand") === "Brand#2" && col("p_size").between(10, 30) &&
          col("l_quantity").between(10, 30)) ||
        (col("p_brand") === "Brand#3" && col("p_size").between(20, 50) &&
          col("l_quantity").between(20, 45))
      li.join(p, col("l_partkey") === col("p_partkey"))
        .filter(cond)
        .agg(dsum(discounted(col("l_extendedprice"), col("l_discount")))
          .as("revenue"),
          count(lit(1)).as("n_items"))
    },

    "q20_supplier_share" -> { (s, d) =>
      // TPC-H Q20 shape: nested-aggregate semi-join chain — suppliers
      // who shipped >80 % of some part's 1995 volume. The part-level
      // total re-aggregates the (supplier, part) frame instead of
      // re-scanning lineitem, and the winner set semi-joins into the
      // supplier dim. The pair frame is persisted because it feeds
      // BOTH the share join and the part-total agg: Spark plans a
      // self-referencing frame as two full subtrees and (measured)
      // ReuseExchange does NOT collapse them at runtime — unpersisted,
      // lineitem scans twice; persisted, once (pinned in
      // PlanAuditSpec). Quantities are integral-valued, so double
      // sums are exact in any accumulation order (< 2^53) and the
      // 0.8 share compare sees identical IEEE operands in both
      // engines.
      val sp = q20PairCache((s, d))(
        Tables.lineitem(s, d)
          .filter(col("l_shipdate") >= lit("1995-01-01").cast("timestamp") &&
            col("l_shipdate") < lit("1996-01-01").cast("timestamp"))
          .groupBy("l_suppkey", "l_partkey")
          .agg(sum(col("l_quantity")).as("q"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      val pt = sp.groupBy(col("l_partkey").as("pk"))
        .agg(sum(col("q")).as("tq"))
      val dominant = sp.join(pt, col("l_partkey") === col("pk"))
        .filter(col("q") > lit(0.8) * col("tq"))
        .select("l_suppkey")
      Tables.supplier(s, d)
        .join(dominant, col("s_suppkey") === col("l_suppkey"), "left_semi")
        .join(broadcast(Tables.nation(s, d)),
          col("s_nationkey") === col("n_nationkey"))
        .select("s_suppkey", "s_name", "n_name")
        .orderBy("s_suppkey")
    },

    "q21_deciles" -> { (s, d) =>
      // ntile decile stats per order status: ntile is deterministic
      // once the window order is total — (totalprice, orderkey)
      // breaks all ties identically in both engines.
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("o_orderstatus")
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      Tables.orders(s, d)
        .withColumn("decile", ntile(10).over(w))
        .groupBy("o_orderstatus", "decile")
        .agg(count(lit(1)).as("n_orders"),
          min(money(col("o_totalprice"))).cast("double").as("min_price"),
          max(money(col("o_totalprice"))).cast("double").as("max_price"))
        .orderBy("o_orderstatus", "decile")
    },

    "q22_idle_rich" -> { (s, d) =>
      // TPC-H Q22 shape: scalar-subquery threshold + anti join. The
      // positive-balance mean is ONE row broadcast into the filter
      // (computed as exact-decimal sum → double, / bigint count, so
      // both engines IEEE-divide identical operands); customers above
      // it with no URGENT order roll up per nation.
      val cust = Tables.customer(s, d)
      val thr = cust.filter(col("c_acctbal") > 0)
        .agg((dsum(money(col("c_acctbal"))) / count(lit(1))).as("thr"))
      val urgent = Tables.orders(s, d)
        .filter(col("o_orderpriority") === "1-URGENT").select("o_custkey")
      cust.crossJoin(broadcast(thr))
        .filter(money(col("c_acctbal")).cast("double") > col("thr"))
        .join(urgent, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy("c_nationkey")
        .agg(count(lit(1)).as("n_custs"),
          dsum(money(col("c_acctbal"))).as("total_bal"))
        .orderBy("c_nationkey")
    },

    "q2_min_cost" -> { (s, d) =>
      // TPC-H Q2 shape: per-group correlated MIN driving a winner
      // join. The tables have no partsupp, so "cost" is the min unit
      // price a supplier ever charged for the part (exact-decimal min
      // — equality on it replays in any engine). Only the (part,
      // supplier) pair agg is fact-sized: the part filter and the
      // region's supplier set prune the scan BEFORE the shuffle, the
      // per-part min re-aggregates the pair frame, and dims broadcast.
      val regionSupp = Tables.supplier(s, d)
        .join(broadcast(Tables.nation(s, d)),
          col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, d)
          .filter(col("r_name") === "EUROPE")),
          col("n_regionkey") === col("r_regionkey"))
        .select("s_suppkey", "s_name", "n_name")
      val parts = Tables.part(s, d)
        .filter(col("p_type") === "STANDARD" &&
          col("p_size").between(10, 20))
        .select("p_partkey")
      // the pair frame feeds BOTH the per-part min and the winner
      // join; like q20, Spark plans a self-referencing frame as two
      // full subtrees (two lineitem scans). It is small (filtered
      // parts × region suppliers), so materialize once via eager
      // localCheckpoint — ContextCleaner reclaims the blocks, no
      // per-call cache leak.
      val pairs = Tables.lineitem(s, d)
        .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
        .join(regionSupp, col("l_suppkey") === col("s_suppkey"), "left_semi")
        .groupBy("l_partkey", "l_suppkey")
        .agg(min(money(col("l_extendedprice"))).as("cost"))
        .materialize(true)
      val perPart = pairs.groupBy(col("l_partkey").as("pk"))
        .agg(min(col("cost")).as("min_cost"))
      pairs
        .join(perPart,
          col("l_partkey") === col("pk") && col("cost") === col("min_cost"))
        .join(regionSupp, col("l_suppkey") === col("s_suppkey"))
        .select(col("l_partkey").as("p_partkey"), col("s_suppkey"),
          col("s_name"), col("n_name"), col("cost").cast("double").as("cost"))
        .orderBy("p_partkey", "s_suppkey")
    },

    "q4_priority" -> { (s, d) =>
      // TPC-H Q4 shape: EXISTS with a correlated cross-table
      // predicate, then a tiny group count. The tables carry no
      // commitdate, so "late" is shipped > 365 days after the order
      // date (timestamp + interval is exact integer arithmetic in
      // both engines). The semi join shuffles each side once on the
      // order key; the priority rollup is dimension-sized.
      val ord = Tables.orders(s, d)
      val li = Tables.lineitem(s, d).select("l_orderkey", "l_shipdate")
      ord.join(li,
          col("l_orderkey") === col("o_orderkey") &&
            col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 365 DAYS"),
          "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_orders"))
        .orderBy("o_orderpriority")
    },

    "q8_market_share" -> { (s, d) =>
      // TPC-H Q8 shape: per-year revenue share of one supplier nation
      // within one customer region — two independent nation lookups
      // (customer side restricts the scan, supplier side only tags
      // rows). Share = exact-decimal national / total revenue, cast to
      // double and divided as identical IEEE operands in both engines.
      val cn = Tables.nation(s, d)
        .join(broadcast(Tables.region(s, d).filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey").as("cn_key"))
      val asiaCust = Tables.customer(s, d)
        .join(broadcast(cn), col("c_nationkey") === col("cn_key"), "left_semi")
        .select("c_custkey")
      val sn = Tables.nation(s, d)
        .select(col("n_nationkey").as("sn_key"), col("n_name").as("s_nation"))
      val rev = discounted(col("l_extendedprice"), col("l_discount"))
      Tables.lineitem(s, d)
        .join(Tables.orders(s, d),
          col("l_orderkey") === col("o_orderkey"))
        .join(asiaCust, col("o_custkey") === col("c_custkey"), "left_semi")
        .join(broadcast(Tables.supplier(s, d).select("s_suppkey", "s_nationkey")),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(sn), col("s_nationkey") === col("sn_key"))
        .groupBy(year(col("o_orderdate")).as("o_year"))
        .agg(
          (sum(when(col("s_nation") === "NATION_2", rev)
            .otherwise(lit(new java.math.BigDecimal("0.00")))).cast("double") /
            dsum(rev)).as("mkt_share"),
          dsum(rev).as("total_rev"))
        .orderBy("o_year")
    },

    "q10_returns" -> { (s, d) =>
      // TPC-H Q10 shape: returned-item revenue per customer, top 20.
      // Only the lineitem-side agg is fact-sized; the returnflag
      // filter is pushed to the scan, and the customer join runs on
      // the already-aggregated per-order frame.
      val returned = Tables.lineitem(s, d)
        .filter(col("l_returnflag") === "R")
        .join(Tables.orders(s, d).select("o_orderkey", "o_custkey"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_custkey")
        .agg(dsum(discounted(col("l_extendedprice"), col("l_discount")))
          .as("revenue"),
          count(lit(1)).as("n_items"))
      Tables.customer(s, d).select("c_custkey", "c_name")
        .join(returned, col("c_custkey") === col("o_custkey"))
        .select("c_custkey", "c_name", "revenue", "n_items")
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    },

    "q13_custdist" -> { (s, d) =>
      // TPC-H Q13 shape: LEFT OUTER join with a join-condition filter
      // (customers with zero qualifying orders MUST survive with
      // count 0 — a WHERE would drop them), then a histogram of the
      // per-customer counts. Two shuffles total: the outer join and
      // the tiny histogram agg.
      val ord = Tables.orders(s, d)
        .select("o_custkey", "o_orderkey", "o_orderpriority")
      Tables.customer(s, d).select("c_custkey")
        .join(ord,
          col("c_custkey") === col("o_custkey") &&
            col("o_orderpriority") =!= "5-LOW",
          "left_outer")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy("c_count")
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    },

    "q14_promo" -> { (s, d) =>
      // TPC-H Q14 shape: conditional revenue share in one pass —
      // sum(CASE)/sum over the same rows, no second scan. Both sums
      // are exact decimals; the final (100.0 * promo) / total runs on
      // identical IEEE operands in both engines.
      val rev = discounted(col("l_extendedprice"), col("l_discount"))
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1995-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1996-01-01").cast("timestamp"))
        .join(broadcast(Tables.part(s, d).select("p_partkey", "p_type")),
          col("l_partkey") === col("p_partkey"))
        .agg(
          ((lit(100.0) * sum(when(col("p_type") === "PROMO", rev)
            .otherwise(lit(new java.math.BigDecimal("0.00")))).cast("double"))
            / dsum(rev)).as("promo_share"),
          count(lit(1)).as("n_items"))
    },

    "q21_late_solo" -> { (s, d) =>
      // TPC-H Q21 shape: suppliers who were the ONLY late supplier on
      // a multi-supplier order. The canonical form is two correlated
      // EXISTS self-joins on the fact table; re-expressed Spark-first
      // as ONE per-order aggregate — n_suppliers, n_late_suppliers,
      // and (via max-when) the sole late supplier — which provably
      // equals the EXISTS form: "exists another supplier" ⇔ n_supp ≥ 2,
      // "not exists another late supplier" ⇔ n_late = 1 for the late
      // one. The oracle deliberately stays in the canonical
      // double-EXISTS form so the gate proves the equivalence. One
      // fact shuffle on (order, supplier), one order-sized agg — the
      // self-join form shuffles the fact table three times.
      val pairs = Tables.lineitem(s, d)
        .select("l_orderkey", "l_suppkey", "l_shipdate")
        .join(Tables.orders(s, d).select("o_orderkey", "o_orderdate"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("l_orderkey", "l_suppkey")
        .agg(max(when(
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 730 DAYS"),
          1).otherwise(0)).as("late"))
      pairs.groupBy("l_orderkey")
        .agg(count(lit(1)).as("n_supp"),
          sum(col("late")).as("n_late"),
          max(when(col("late") === 1, col("l_suppkey"))).as("late_supp"))
        .filter(col("n_late") === 1 && col("n_supp") >= 2)
        .groupBy(col("late_supp").as("s_suppkey"))
        .agg(count(lit(1)).as("numwait"))
        .join(broadcast(Tables.supplier(s, d).select(
          col("s_suppkey").as("sk"), col("s_name"))),
          col("s_suppkey") === col("sk"))
        .select("s_suppkey", "s_name", "numwait")
        .orderBy(col("numwait").desc, col("s_suppkey"))
        .limit(50)
    },

    "q24_histogram" -> { (s, d) =>
      // equi-width histogram over a scalar-subquery range: the
      // [min, max] envelope is a single-row broadcast; the bucket
      // formula ((v−mn)·20)/(mx−mn) is spelled identically in the
      // oracle so both engines floor the same double, and the v=max
      // row clamps into the last bucket
      val ord = Tables.orders(s, d)
      val mm = ord.agg(min(money(col("o_totalprice"))).cast("double").as("mn"),
        max(money(col("o_totalprice"))).cast("double").as("mx"))
      ord.crossJoin(broadcast(mm))
        .withColumn("v", money(col("o_totalprice")).cast("double"))
        .withColumn("bucket", least(lit(19L),
          floor((col("v") - col("mn")) * lit(20.0) / (col("mx") - col("mn")))))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_orders"),
          min(col("v")).as("lo_price"), max(col("v")).as("hi_price"))
        .orderBy("bucket")
    },

    "q23_profile" -> { (s, d) =>
      // Column profiling (the data-quality primitive every curation
      // pipeline runs first): per-column row/null/distinct counts and
      // min/max. One scan PER COLUMN, each pruned to that single
      // column at the reader — at 100 TB this beats one
      // count-distinct-per-column pass, whose Expand multiplies every
      // row by the column count before the shuffle.
      val li = Tables.lineitem(s, d)
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      cols.map { c =>
          li.select(col(c))
            .agg(count(lit(1)).as("n_rows"),
              count(when(col(c).isNull, 1)).as("n_nulls"),
              count_distinct(col(c)).as("n_distinct"),
              min(col(c)).cast("double").as("min_val"),
              max(col(c)).cast("double").as("max_val"))
            .select(lit(c).as("column_name"), col("n_rows"), col("n_nulls"),
              col("n_distinct"), col("min_val"), col("max_val"))
        }
        .reduce(_ unionByName _)
        .orderBy("column_name")
    }
  )

  def oracles: Map[String, String] = Map(
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
         CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                  * (1.00 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS sum_disc_price,
         count(*) AS count_order
         FROM lineitem GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus""",
    "q3_topk" ->
      """SELECT o_orderkey, o_orderdate, o_orderpriority,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                  * (1.00 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
         FROM customer, orders, lineitem
         WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
           AND l_orderkey = o_orderkey
           AND o_orderdate < TIMESTAMP '1995-03-15'
           AND l_shipdate > TIMESTAMP '1995-03-15'
         GROUP BY o_orderkey, o_orderdate, o_orderpriority
         ORDER BY revenue DESC, o_orderkey LIMIT 10""",
    "q5_join5" ->
      """SELECT n_name,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                  * (1.00 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
         count(*) AS n_items
         FROM lineitem, orders, customer, nation, region
         WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
           AND c_nationkey = n_nationkey AND n_regionkey = r_regionkey
         GROUP BY n_name ORDER BY n_name""",
    "q6_filter" ->
      """SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                  * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
         count(*) AS n_rows
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1994-01-01'
           AND l_shipdate < TIMESTAMP '1995-01-01'
           AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""",
    "q7_window" ->
      """SELECT o_custkey, o_orderkey,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS totalprice, rk
         FROM (SELECT o_custkey, o_orderkey, o_totalprice,
                 row_number() OVER (PARTITION BY o_custkey
                   ORDER BY o_totalprice DESC, o_orderkey) AS rk
               FROM orders)
         WHERE rk <= 3 ORDER BY o_custkey, rk""",
    "q7_topk_native" ->
      """SELECT o_custkey, o_orderkey,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS totalprice
         FROM (SELECT o_custkey, o_orderkey, o_totalprice,
                 row_number() OVER (PARTITION BY o_custkey
                   ORDER BY o_totalprice DESC, o_orderkey) AS rk
               FROM orders)
         WHERE rk <= 3 ORDER BY o_custkey, o_orderkey""",
    "q8_rollup" ->
      """SELECT o_orderstatus, o_orderpriority,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
         count(*) AS n_orders
         FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
         ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""",
    "q14_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority,
         CAST(grouping(o_orderstatus) * 2 + grouping(o_orderpriority)
           AS BIGINT) AS gid,
         count(*) AS n_orders,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
         FROM orders
         GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
         ORDER BY gid, o_orderstatus, o_orderpriority""",
    // timestamp→long in Spark is epoch seconds; epoch_ns//1e9
    // replays it exactly as BIGINT (DuckDB's epoch() is a double)
    "q12_rolling" ->
      """SELECT o_custkey, o_orderkey,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
           PARTITION BY o_custkey ORDER BY epoch_ns(o_orderdate) // 1000000000
           RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW) AS DOUBLE)
           AS spend_30d,
         count(*) OVER (
           PARTITION BY o_custkey ORDER BY epoch_ns(o_orderdate) // 1000000000
           RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW) AS n_30d
         FROM orders ORDER BY o_custkey, o_orderkey""",
    "q13_pivot" ->
      """SELECT o_orderstatus,
         count(*) FILTER (o_orderpriority = '1-URGENT') AS p1_urgent,
         count(*) FILTER (o_orderpriority = '2-HIGH') AS p2_high,
         count(*) FILTER (o_orderpriority = '3-MEDIUM') AS p3_medium,
         count(*) FILTER (o_orderpriority = '4-NOT SPECIFIED') AS p4_none,
         count(*) FILTER (o_orderpriority = '5-LOW') AS p5_low
         FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    "q10_percentiles" ->
      """SELECT o_orderstatus,
         round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
         round(quantile_cont(o_totalprice, 0.9), 4) AS p90,
         count(DISTINCT o_custkey) AS n_custs
         FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    "q15_correlated" ->
      """WITH revenue AS (
           SELECT l_suppkey,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                      * (1.00 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE)
               AS total_revenue
           FROM lineitem
           WHERE l_shipdate >= TIMESTAMP '1996-01-01'
             AND l_shipdate < TIMESTAMP '1996-04-01'
           GROUP BY l_suppkey)
         SELECT s_suppkey, s_name, total_revenue
         FROM supplier, revenue
         WHERE s_suppkey = l_suppkey
           AND total_revenue = (SELECT max(total_revenue) FROM revenue)
         ORDER BY s_suppkey""",
    "q9_exists" ->
      """SELECT c_custkey, c_name,
         CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS DOUBLE) AS acctbal
         FROM customer
         WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
           AND NOT EXISTS (SELECT 1 FROM orders
                           WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
         ORDER BY c_custkey""",
    "q16_supplier_cnt" ->
      """SELECT p_brand, p_type, p_size,
         count(DISTINCT l_suppkey) AS supplier_cnt
         FROM lineitem, part
         WHERE p_partkey = l_partkey
           AND p_brand <> 'Brand#1' AND p_type <> 'PROMO'
           AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                                 WHERE s_acctbal < 1000)
         GROUP BY p_brand, p_type, p_size
         ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""",
    "q17_small_qty" ->
      """SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                / 7.0 AS avg_yearly,
         count(*) AS n_items
         FROM lineitem l, part
         WHERE p_partkey = l.l_partkey AND p_brand = 'Brand#3'
           AND l.l_quantity < (SELECT 0.5 * avg(l2.l_quantity)
                               FROM lineitem l2
                               WHERE l2.l_partkey = l.l_partkey)""",
    "q18_big_orders" ->
      """SELECT c_custkey, c_name, o_orderkey,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS totalprice,
         total_qty
         FROM orders, customer,
           (SELECT l_orderkey,
              CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                AS total_qty
            FROM lineitem GROUP BY l_orderkey
            HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 190) t
         WHERE o_orderkey = l_orderkey AND o_custkey = c_custkey
         ORDER BY total_qty DESC, o_orderkey LIMIT 100""",
    "q19_disjunctive" ->
      """SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                  * (1.00 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE)
           AS revenue,
         count(*) AS n_items
         FROM lineitem, part
         WHERE p_partkey = l_partkey
           AND p_brand IN ('Brand#1', 'Brand#2', 'Brand#3')
           AND l_quantity BETWEEN 1 AND 45
           AND ((p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
                 AND l_quantity BETWEEN 1 AND 21)
             OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30
                 AND l_quantity BETWEEN 10 AND 30)
             OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50
                 AND l_quantity BETWEEN 20 AND 45))""",
    "q20_supplier_share" ->
      """WITH sp AS (SELECT l_suppkey, l_partkey, sum(l_quantity) AS q
                     FROM lineitem
                     WHERE l_shipdate >= TIMESTAMP '1995-01-01'
                       AND l_shipdate < TIMESTAMP '1996-01-01'
                     GROUP BY l_suppkey, l_partkey),
         p AS (SELECT l_partkey AS pk, sum(q) AS tq FROM sp GROUP BY pk)
         SELECT s_suppkey, s_name, n_name
         FROM supplier, nation
         WHERE s_nationkey = n_nationkey
           AND s_suppkey IN (SELECT l_suppkey FROM sp, p
                             WHERE sp.l_partkey = p.pk AND sp.q > 0.8 * p.tq)
         ORDER BY s_suppkey""",
    "q21_deciles" ->
      """SELECT o_orderstatus, decile, count(*) AS n_orders,
         CAST(min(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
           AS min_price,
         CAST(max(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
           AS max_price
         FROM (SELECT o_orderstatus, o_totalprice,
                 ntile(10) OVER (PARTITION BY o_orderstatus
                   ORDER BY o_totalprice, o_orderkey) AS decile
               FROM orders)
         GROUP BY o_orderstatus, decile
         ORDER BY o_orderstatus, decile""",
    "q22_idle_rich" ->
      """SELECT c_nationkey, count(*) AS n_custs,
         CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
         FROM customer
         WHERE CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS DOUBLE) >
           (SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
                   / count(*)
            FROM customer WHERE c_acctbal > 0)
           AND NOT EXISTS (SELECT 1 FROM orders
                           WHERE o_custkey = c_custkey
                             AND o_orderpriority = '1-URGENT')
         GROUP BY c_nationkey ORDER BY c_nationkey""",
    "q2_min_cost" ->
      """WITH rs AS (SELECT s_suppkey, s_name, n_name
                     FROM supplier, nation, region
                     WHERE s_nationkey = n_nationkey
                       AND n_regionkey = r_regionkey AND r_name = 'EUROPE'),
         ps AS (SELECT l_partkey, l_suppkey,
                  min(CAST(l_extendedprice AS DECIMAL(18,2))) AS cost
                FROM lineitem
                JOIN part ON p_partkey = l_partkey
                JOIN rs ON l_suppkey = s_suppkey
                WHERE p_type = 'STANDARD' AND p_size BETWEEN 10 AND 20
                GROUP BY 1, 2)
         SELECT ps.l_partkey AS p_partkey, rs.s_suppkey, rs.s_name, rs.n_name,
           CAST(cost AS DOUBLE) AS cost
         FROM ps JOIN rs ON ps.l_suppkey = rs.s_suppkey
         WHERE cost = (SELECT min(cost) FROM ps p2
                       WHERE p2.l_partkey = ps.l_partkey)
         ORDER BY p_partkey, s_suppkey""",
    "q4_priority" ->
      """SELECT o_orderpriority, count(*) AS n_orders
         FROM orders
         WHERE EXISTS (SELECT 1 FROM lineitem
                       WHERE l_orderkey = o_orderkey
                         AND l_shipdate > o_orderdate + INTERVAL 365 DAY)
         GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "q8_market_share" ->
      """SELECT year(o_orderdate) AS o_year,
         CAST(sum(CASE WHEN n2.n_name = 'NATION_2'
                  THEN CAST(l_extendedprice AS DECIMAL(18,2))
                       * (1.00 - CAST(l_discount AS DECIMAL(4,2)))
                  ELSE CAST(0.00 AS DECIMAL(18,2)) END) AS DOUBLE)
           / CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                      * (1.00 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE)
           AS mkt_share,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                  * (1.00 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE)
           AS total_rev
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation n1 ON c_nationkey = n1.n_nationkey
         JOIN region ON n1.n_regionkey = r_regionkey AND r_name = 'ASIA'
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation n2 ON s_nationkey = n2.n_nationkey
         GROUP BY o_year ORDER BY o_year""",
    "q10_returns" ->
      """SELECT c_custkey, c_name,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                  * (1.00 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE)
           AS revenue,
         count(*) AS n_items
         FROM customer, orders, lineitem
         WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
           AND l_returnflag = 'R'
         GROUP BY c_custkey, c_name
         ORDER BY revenue DESC, c_custkey LIMIT 20""",
    "q13_custdist" ->
      """SELECT c_count, count(*) AS custdist
         FROM (SELECT c_custkey, count(o_orderkey) AS c_count
               FROM customer LEFT OUTER JOIN orders
                 ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
               GROUP BY c_custkey)
         GROUP BY c_count ORDER BY custdist DESC, c_count DESC""",
    "q14_promo" ->
      """SELECT (100.0 * CAST(sum(CASE WHEN p_type = 'PROMO'
                  THEN CAST(l_extendedprice AS DECIMAL(18,2))
                       * (1.00 - CAST(l_discount AS DECIMAL(4,2)))
                  ELSE CAST(0.00 AS DECIMAL(18,2)) END) AS DOUBLE))
           / CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                      * (1.00 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE)
           AS promo_share,
         count(*) AS n_items
         FROM lineitem, part
         WHERE l_partkey = p_partkey
           AND l_shipdate >= TIMESTAMP '1995-01-01'
           AND l_shipdate < TIMESTAMP '1996-01-01'""",
    // deliberately the CANONICAL double-EXISTS form: the Spark query
    // computes the same relation with one per-order aggregate, and
    // the gate proves the two formulations equivalent
    "q21_late_solo" ->
      """WITH late AS (SELECT DISTINCT l_orderkey, l_suppkey
                       FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                       WHERE l_shipdate > o_orderdate + INTERVAL 730 DAY),
         sup AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem)
         SELECT s_suppkey, s_name, count(*) AS numwait
         FROM late t JOIN supplier ON s_suppkey = t.l_suppkey
         WHERE EXISTS (SELECT 1 FROM sup o
                       WHERE o.l_orderkey = t.l_orderkey
                         AND o.l_suppkey <> t.l_suppkey)
           AND NOT EXISTS (SELECT 1 FROM late o2
                           WHERE o2.l_orderkey = t.l_orderkey
                             AND o2.l_suppkey <> t.l_suppkey)
         GROUP BY s_suppkey, s_name
         ORDER BY numwait DESC, s_suppkey LIMIT 50""",
    "q23_profile" ->
      """SELECT 'l_discount' AS column_name, count(*) AS n_rows,
           count(CASE WHEN l_discount IS NULL THEN 1 END) AS n_nulls,
           count(DISTINCT l_discount) AS n_distinct,
           CAST(min(l_discount) AS DOUBLE) AS min_val,
           CAST(max(l_discount) AS DOUBLE) AS max_val FROM lineitem
         UNION ALL
         SELECT 'l_extendedprice', count(*),
           count(CASE WHEN l_extendedprice IS NULL THEN 1 END),
           count(DISTINCT l_extendedprice),
           CAST(min(l_extendedprice) AS DOUBLE),
           CAST(max(l_extendedprice) AS DOUBLE) FROM lineitem
         UNION ALL
         SELECT 'l_quantity', count(*),
           count(CASE WHEN l_quantity IS NULL THEN 1 END),
           count(DISTINCT l_quantity),
           CAST(min(l_quantity) AS DOUBLE),
           CAST(max(l_quantity) AS DOUBLE) FROM lineitem
         UNION ALL
         SELECT 'l_tax', count(*),
           count(CASE WHEN l_tax IS NULL THEN 1 END),
           count(DISTINCT l_tax),
           CAST(min(l_tax) AS DOUBLE),
           CAST(max(l_tax) AS DOUBLE) FROM lineitem
         ORDER BY column_name""",
    "q24_histogram" ->
      """WITH mm AS (SELECT
             CAST(min(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS mn,
             CAST(max(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS mx
           FROM orders),
         b AS (SELECT least(19,
                 CAST(floor((CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE)
                             - mn) * 20.0 / (mx - mn)) AS BIGINT)) AS bucket,
                 CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS v
               FROM orders, mm)
         SELECT bucket, count(*) AS n_orders,
           min(v) AS lo_price, max(v) AS hi_price
         FROM b GROUP BY bucket ORDER BY bucket"""
  )
}
