package graft.analytics

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables

/** Round-3 OLAP widening beyond the reference's flat GROUP BYs: multi-level
  * rollup aggregation and exact distributed percentiles — the two
  * aggregate shapes a warehouse user reaches for next (the reference
  * approximates both client-side: its two-level state rollup Q5 re-groups
  * a CTE, and it has no percentile at all — SURVEY.md §2.4 "no median/
  * percentile aggregates").
  */
object OlapQueries {

  import Queries.moneySum

  /** DECIMAL(12,2) money cast for multi-factor products: (12,2)³ lands
    * exactly at the (38,6) precision cap in BOTH engines, where (18,2)
    * inputs would cross precision 38 and hit engine-specific rounding
    * (Spark HALF_UP scale trim vs DuckDB). Shared by q37/q38 so the
    * contract lives in one place. */
  private def m12(c: Column): Column = c.cast(DecimalType(12, 2))
  private val one12 = lit(1).cast(DecimalType(12, 2))

  // ---------------------------------------------------------------------
  // q33 — ROLLUP revenue by (region, nation): one query produces the
  // nation grain, per-region subtotals, and the grand total, with a
  // grouping-level bitmask disambiguating subtotal NULLs from data NULLs.
  //
  // Scale: Catalyst lowers rollup to Expand (×3 row replication) feeding
  // ONE hash aggregate with map-side partials — cheaper than three
  // separate aggregations unioned (one shuffle, not three, and the two
  // coarser grains aggregate partially on the map side). The dimensions
  // (customer→nation→region) broadcast; orders⋈customer is the only
  // genuine shuffle.
  // ---------------------------------------------------------------------
  def q33Rollup(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_nationkey"))
    val n = Tables.nation(spark, dir)
      .select(col("n_nationkey"), col("n_regionkey"), col("n_name"))
    val r = Tables.region(spark, dir).select(col("r_regionkey"), col("r_name"))
    o.join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .select(r("r_name").as("region_name"), n("n_name").as("nation_name"),
        col("o_totalprice"), col("o_orderkey"))
      .rollup(col("region_name"), col("nation_name"))
      .agg(
        grouping_id().cast(IntegerType).as("lvl"),
        count(col("o_orderkey")).as("n_orders"),
        moneySum(col("o_totalprice")).as("total_sales"))
      .orderBy(col("lvl"), col("region_name").asc_nulls_first,
        col("nation_name").asc_nulls_first)
  }

  val q33Sql: String =
    """SELECT region_name, nation_name,
      |       CAST(GROUPING(region_name, nation_name) AS INT) AS lvl,
      |       COUNT(o_orderkey) AS n_orders,
      |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_sales
      |FROM (
      |  SELECT r.r_name AS region_name, n.n_name AS nation_name,
      |         o.o_totalprice, o.o_orderkey
      |  FROM orders o
      |  JOIN customer c ON o.o_custkey = c.c_custkey
      |  JOIN nation n ON c.c_nationkey = n.n_nationkey
      |  JOIN region r ON n.n_regionkey = r.r_regionkey)
      |GROUP BY ROLLUP(region_name, nation_name)
      |ORDER BY lvl, region_name NULLS FIRST, nation_name NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------------
  // q34 — exact per-group percentiles (PERCENTILE_DISC semantics: the
  // value at rank ceil(p·n) under a deterministic total order) — median
  // and p90 of customer account balance per nation.
  //
  // Built from a PARTITIONED window (hash on nationkey — bounded groups,
  // nothing global) + one aggregate: rank every row within its group,
  // flag the two target ranks, max(when(flag)) collapses them. Exact — no
  // sketch — yet fully distributed; contrast q07b's approx-quantile tier,
  // which trades exactness for a single pass when groups are the whole
  // table. Both engines compute the same closed-form rank, so the value
  // is the same ROW, not a numerically-close interpolation (engines
  // disagree on interpolated PERCENTILE_CONT in low-order bits; DISC
  // picks a stored value, which hashes identically).
  // ---------------------------------------------------------------------
  def q34ExactMedian(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val n = Tables.nation(spark, dir).select(col("n_nationkey"), col("n_name"))
    val w = Window.partitionBy(col("c_nationkey"))
      .orderBy(col("c_acctbal").asc, col("c_custkey").asc)
    val cnt = Window.partitionBy(col("c_nationkey"))
    c.select(col("c_nationkey"), col("c_custkey"), col("c_acctbal"))
      .withColumn("__rn", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(cnt))
      .withColumn("__med_rank", ((col("__n") + 1) / 2).cast(LongType))
      .withColumn("__p90_rank", ((col("__n") * 9 + 9) / 10).cast(LongType))
      .groupBy(col("c_nationkey"))
      .agg(
        count(lit(1)).as("n_customers"),
        max(when(col("__rn") === col("__med_rank"), col("c_acctbal")))
          .as("median_acctbal"),
        max(when(col("__rn") === col("__p90_rank"), col("c_acctbal")))
          .as("p90_acctbal"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name").as("nation_name"), col("n_customers"),
        col("median_acctbal"), col("p90_acctbal"))
      .orderBy(col("nation_name"))
  }

  // ---------------------------------------------------------------------
  // q35 — time-series window frames over daily sales: day-over-day delta
  // (lag) and a 7-day moving average (RANGE frame over a day-number key) —
  // the two analytic-window shapes the reference's dashboard lacks
  // entirely (SURVEY.md §2.5: "no lead/lag, no custom frames").
  //
  // Scale: the window runs over the DAILY grain — bounded by the calendar
  // (a few thousand rows for years of data), not by data size; the raw
  // orders collapse to that grain in a partial-aggregated hash aggregate
  // first. The single-partition window over the daily frame is therefore
  // safe; the partition key is the usual non-foldable constant so the
  // plan documents the choice (same idiom as operators.Ranks).
  // rangeBetween needs a numeric order key: days since epoch, exact
  // integer arithmetic in both engines.
  // ---------------------------------------------------------------------
  def q35DailyWindows(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(spark, dir)
      .groupBy(to_date(col("o_orderdate")).as("sale_date"))
      .agg(moneySum(col("o_totalprice")).as("total_sales"),
        count(lit(1)).as("n_orders"))
      .withColumn("day_no", datediff(col("sale_date"), lit("1970-01-01")))
    val part = pmod(year(col("sale_date")), lit(1)) // non-foldable constant
    val byDay = Window.partitionBy(part).orderBy(col("day_no"))
    val ma7 = byDay.rangeBetween(-6, 0)
    daily
      .withColumn("prev_sales", lag(col("total_sales"), 1).over(byDay))
      .withColumn("dod_delta", col("total_sales") - col("prev_sales"))
      .withColumn("ma7_sales",
        (sum(Queries.money(col("total_sales"))).over(ma7).cast(DoubleType)
          / count(lit(1)).over(ma7)))
      .select(col("sale_date"), col("total_sales"), col("n_orders"),
        col("prev_sales"), col("dod_delta"), col("ma7_sales"))
      .orderBy(col("sale_date"))
  }

  val q35Sql: String =
    """WITH daily AS (
      |  SELECT CAST(o_orderdate AS DATE) AS sale_date,
      |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_sales,
      |         COUNT(*) AS n_orders,
      |         DATE_DIFF('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS day_no
      |  FROM orders GROUP BY 1, 4)
      |SELECT sale_date, total_sales, n_orders,
      |       lag(total_sales, 1) OVER (ORDER BY day_no) AS prev_sales,
      |       total_sales - lag(total_sales, 1) OVER (ORDER BY day_no) AS dod_delta,
      |       CAST(SUM(CAST(total_sales AS DECIMAL(18,2))) OVER ma7 AS DOUBLE)
      |         / COUNT(*) OVER ma7 AS ma7_sales
      |FROM daily
      |WINDOW ma7 AS (ORDER BY day_no RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
      |ORDER BY sale_date""".stripMargin

  // ---------------------------------------------------------------------
  // q36 — inactive-customer analytics via a genuine LEFT ANTI join:
  // per-nation counts of customers who never placed an order. The
  // reference's only anti-semantics is a name-set difference (U3); this
  // is the relational form a warehouse needs.
  //
  // Scale: the anti join probes with the customer's key against the
  // orders' custkey column only (column pruning reaches the scan); the
  // per-nation totals come from the dimension side alone. n_active is
  // derived (total − inactive) rather than a second semi join — one join,
  // not two.
  // ---------------------------------------------------------------------
  def q36InactiveCustomers(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_nationkey"))
    val o = Tables.orders(spark, dir).select(col("o_custkey"))
    val n = Tables.nation(spark, dir).select(col("n_nationkey"), col("n_name"))
    val totals = c.groupBy(col("c_nationkey")).agg(count(lit(1)).as("n_customers"))
    val inactive = c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .groupBy(col("c_nationkey")).agg(count(lit(1)).as("n_inactive"))
    totals
      .join(inactive, Seq("c_nationkey"), "left")
      .withColumn("n_inactive", coalesce(col("n_inactive"), lit(0L)))
      .withColumn("n_active", col("n_customers") - col("n_inactive"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name").as("nation_name"), col("n_customers"),
        col("n_active"), col("n_inactive"))
      .orderBy(col("nation_name"))
  }

  val q36Sql: String =
    """WITH buyers AS (SELECT DISTINCT o_custkey FROM orders),
      |agg AS (
      |  SELECT c_nationkey, COUNT(*) AS n_customers,
      |         COUNT(*) FILTER (WHERE b.o_custkey IS NULL) AS n_inactive
      |  FROM customer c LEFT JOIN buyers b ON c.c_custkey = b.o_custkey
      |  GROUP BY c_nationkey)
      |SELECT n.n_name AS nation_name, a.n_customers,
      |       a.n_customers - a.n_inactive AS n_active, a.n_inactive
      |FROM agg a JOIN nation n ON a.c_nationkey = n.n_nationkey
      |ORDER BY nation_name""".stripMargin

  // ---------------------------------------------------------------------
  // q45 — EXISTS semi-join aggregate (the TPC-H Q4 shape): orders with at
  // least one late-shipped line (the q06/q10 late predicate), counted per
  // order priority. The correlated EXISTS compiles to a LEFT SEMI join
  // with the cross-table predicate attached to the join itself, so each
  // order short-circuits at its first late line — no inner-join fan-out,
  // no post-join distinct over multiplied rows (at 100 TB that distinct
  // would re-shuffle the full join output; the semi-join never
  // materializes it). One shuffle on orderkey, then a tiny priority
  // aggregate.
  // ---------------------------------------------------------------------
  def q45PriorityLateOrders(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
    val l = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_shipdate"))
    o.join(l,
        o("o_orderkey") === l("l_orderkey") &&
          datediff(to_date(l("l_shipdate")), to_date(o("o_orderdate"))) > 90,
        "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_late_orders"))
      .orderBy(col("o_orderpriority"))
  }

  val q45Sql: String =
    """SELECT o_orderpriority, COUNT(*) AS n_late_orders
      |FROM orders o
      |WHERE EXISTS (
      |  SELECT 1 FROM lineitem l
      |  WHERE l.l_orderkey = o.o_orderkey
      |    AND DATE_DIFF('day', CAST(o.o_orderdate AS DATE),
      |                  CAST(l.l_shipdate AS DATE)) > 90)
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  // ---------------------------------------------------------------------
  // q37 — pricing summary (the TPC-H Q1 shape over the driver's lineitem):
  // the classic compute-dense scan→aggregate — six aggregates over exact
  // decimal chains per (returnflag, linestatus) group. One pass, map-side
  // partials, date filter pushed to the parquet scan. Money chains follow
  // the engine's decimal contract: inputs lifted to DECIMAL(18,2), exact
  // decimal products (scale grows per multiply), cast to double at the
  // end — associative, partition-order independent, oracle-identical.
  //
  // One sf1-found wrinkle (round 8): sum_charge is a scale-6 decimal sum,
  // and once its unscaled value crosses 2^53 (~2.8e16 here at 6M rows)
  // DuckDB's native decimal→double cast double-rounds (hugeint→double,
  // THEN ÷10^6) and can land 1 ulp off Spark's correctly-rounded
  // BigDecimal→double. The oracle therefore routes that one cast through
  // VARCHAR (string→double parse is correctly rounded); Spark-side code
  // is unchanged and exact.
  // ---------------------------------------------------------------------
  def q37PricingSummary(spark: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(spark, dir)
      .filter(to_date(col("l_shipdate")) <= lit("1998-09-02"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        // floor before the long cast: double→int CAST truncates in Spark
        // but ROUNDS in DuckDB (the a06 rule); explicit floor agrees
        floor(sum(col("l_quantity"))).cast(LongType).as("sum_qty"),
        moneySum(col("l_extendedprice")).as("sum_base_price"),
        sum(m12(col("l_extendedprice")) * (one12 - m12(col("l_discount"))))
          .cast(DoubleType).as("sum_disc_price"),
        sum(m12(col("l_extendedprice")) * (one12 - m12(col("l_discount")))
            * (one12 + m12(col("l_tax"))))
          .cast(DoubleType).as("sum_charge"),
        (sum(col("l_quantity")).cast(DoubleType) / count(col("l_quantity")))
          .as("avg_qty"),
        Queries.moneyAvg(col("l_discount")).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  val q37Sql: String =
    """SELECT l_returnflag, l_linestatus,
      |       CAST(FLOOR(SUM(l_quantity)) AS BIGINT) AS sum_qty,
      |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
      |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
      |             * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS sum_disc_price,
      |       CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
      |             * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))
      |             * (CAST(1 AS DECIMAL(12,2)) + CAST(l_tax AS DECIMAL(12,2)))) AS VARCHAR) AS DOUBLE) AS sum_charge,
      |       CAST(SUM(l_quantity) AS DOUBLE) / COUNT(l_quantity) AS avg_qty,
      |       CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_discount) AS avg_disc,
      |       COUNT(*) AS count_order
      |FROM lineitem
      |WHERE CAST(l_shipdate AS DATE) <= DATE '1998-09-02'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  // ---------------------------------------------------------------------
  // q38 — shipping-priority top-10 (the TPC-H Q3 shape): segment-filtered
  // customers ⋈ date-filtered orders ⋈ date-filtered lineitem, revenue per
  // order, top-10. The classic two-big-join plan: customer (filtered ~20%)
  // broadcasts under AQE at test scale / builds a shuffled hash join at
  // 100 TB; orders⋈lineitem is the genuine shuffle (co-partitioned if
  // bucketed, SURVEY §4); top-10 via TakeOrderedAndProject. All three
  // filters push to their scans.
  // ---------------------------------------------------------------------
  def q38ShippingPriority(spark: SparkSession, dir: String): DataFrame = {
    val cutoff = "1998-06-01"
    val c = Tables.customer(spark, dir)
      .filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey"))
    val o = Tables.orders(spark, dir)
      .filter(to_date(col("o_orderdate")) < lit(cutoff))
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
        col("o_orderpriority"))
    val l = Tables.lineitem(spark, dir)
      .filter(to_date(col("l_shipdate")) > lit(cutoff))
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
    o.join(c, o("o_custkey") === c("c_custkey"))
      .join(l, o("o_orderkey") === l("l_orderkey"))
      .groupBy(col("o_orderkey"), to_date(col("o_orderdate")).as("order_date"),
        col("o_orderpriority").as("order_priority"))
      .agg(sum(m12(col("l_extendedprice")) * (one12 - m12(col("l_discount"))))
        .cast(DoubleType).as("revenue"))
      .orderBy(col("revenue").desc, col("o_orderkey"))
      .limit(10)
  }

  val q38Sql: String =
    """SELECT o.o_orderkey, CAST(o.o_orderdate AS DATE) AS order_date,
      |       o.o_orderpriority AS order_priority,
      |       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
      |             * (CAST(1 AS DECIMAL(12,2)) - CAST(l.l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue
      |FROM orders o
      |JOIN customer c ON o.o_custkey = c.c_custkey AND c.c_mktsegment = 'BUILDING'
      |JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      |WHERE CAST(o.o_orderdate AS DATE) < DATE '1998-06-01'
      |  AND CAST(l.l_shipdate AS DATE) > DATE '1998-06-01'
      |GROUP BY 1, 2, 3
      |ORDER BY revenue DESC, o.o_orderkey LIMIT 10""".stripMargin

  // ---------------------------------------------------------------------
  // q39 — PIVOT: revenue by nation × order status, statuses spread into
  // columns — the reshape every pandas user of the reference does with
  // pivot_table (`run_analytics.py`'s groupby→unstack idiom).
  //
  // Scale: Spark's pivot with an EXPLICIT value list compiles to one hash
  // aggregate over the nation key with 3 conditional sums — map-side
  // partials, one shuffle, no second pass. (Omitting the value list would
  // add a driver-side distinct over the pivot column to discover values —
  // a scan a 100 TB run doesn't want; always pin the list.) The final
  // NULL→0 coalesce distinguishes "no such orders" from data NULLs.
  // ---------------------------------------------------------------------
  /** q39 body without the presentation sort, shared with q40 via
    * [[graft.StageCache]] so the pivot→unpivot pair costs one aggregate,
    * not two. */
  private def q39Core(spark: SparkSession, dir: String): DataFrame =
    graft.StageCache.cached(spark, dir, "q39_pivoted") {
      val o = Tables.orders(spark, dir)
      val c = Tables.customer(spark, dir)
      val n = Tables.nation(spark, dir)
      val statuses = Seq("F", "O", "P")
      val pivoted = o.join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .groupBy(n("n_name").as("nation"))
        .pivot("o_orderstatus", statuses)
        .agg(moneySum(col("o_totalprice")))
      statuses.foldLeft(pivoted) { (d, s) =>
        d.withColumn(s"revenue_$s", coalesce(col(s), lit(0.0))).drop(s)
      }
    }

  def q39PivotStatusRevenue(spark: SparkSession, dir: String): DataFrame =
    q39Core(spark, dir).orderBy(col("nation"))

  val q39Sql: String =
    """SELECT n.n_name AS nation,
      |       COALESCE(CAST(SUM(CASE WHEN o.o_orderstatus = 'F' THEN CAST(o.o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE), 0.0) AS revenue_F,
      |       COALESCE(CAST(SUM(CASE WHEN o.o_orderstatus = 'O' THEN CAST(o.o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE), 0.0) AS revenue_O,
      |       COALESCE(CAST(SUM(CASE WHEN o.o_orderstatus = 'P' THEN CAST(o.o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE), 0.0) AS revenue_P
      |FROM orders o
      |JOIN customer c ON o.o_custkey = c.c_custkey
      |JOIN nation n ON c.c_nationkey = n.n_nationkey
      |GROUP BY n.n_name
      |ORDER BY nation""".stripMargin

  // ---------------------------------------------------------------------
  // q40 — UNPIVOT (melt): q39's wide frame back to long form — the
  // inverse reshape (pandas melt). `stack` is a generator expression
  // evaluated row-by-row inside the projection: no shuffle at all beyond
  // q39's own aggregate (and at 100 TB the 3× row expansion happens
  // post-aggregation, on the small frame).
  // ---------------------------------------------------------------------
  def q40UnpivotStatusRevenue(spark: SparkSession, dir: String): DataFrame =
    q39Core(spark, dir)
      .selectExpr("nation",
        "stack(3, 'F', revenue_F, 'O', revenue_O, 'P', revenue_P) AS (order_status, revenue)")
      .orderBy(col("nation"), col("order_status"))

  // full nation × status grid (a nation with no orders of some status
  // still yields a 0.0 row after the pivot→unpivot round trip)
  val q40Sql: String =
    """WITH agg AS (
      |  SELECT n.n_name AS nation, o.o_orderstatus AS s,
      |         SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS rev
      |  FROM orders o
      |  JOIN customer c ON o.o_custkey = c.c_custkey
      |  JOIN nation n ON c.c_nationkey = n.n_nationkey
      |  GROUP BY 1, 2),
      |grid AS (SELECT DISTINCT nation FROM agg),
      |st AS (SELECT unnest(['F', 'O', 'P']) AS order_status)
      |SELECT g.nation, st.order_status,
      |       COALESCE(CAST(a.rev AS DOUBLE), 0.0) AS revenue
      |FROM grid g
      |CROSS JOIN st
      |LEFT JOIN agg a ON a.nation = g.nation AND a.s = st.order_status
      |ORDER BY g.nation, st.order_status""".stripMargin

  // ---------------------------------------------------------------------
  // q41 — CUBE revenue by (returnflag × linestatus): the full grouping
  // lattice in one query — every (flag, status) cell, both one-dimension
  // margins, and the grand total, with grouping_id disambiguating
  // subtotal NULLs from data NULLs. Completes the grouping-set family
  // next to q33's ROLLUP (a rollup walks one drill path; the cube emits
  // all 2^k margins — the shape a BI tool asks for when both dimensions
  // are slicers).
  //
  // Scale: Catalyst lowers cube to Expand (×4 row replication) feeding a
  // SINGLE hash aggregate with map-side partials — one shuffle total,
  // vs four separate scans+aggregates unioned. The Expand multiplier is
  // 2^k in the number of cube dimensions, so k stays small by design;
  // at two dimensions the replicated rows are narrower than the scan
  // saved three times over. Single-table: no join at all.
  // ---------------------------------------------------------------------
  def q41Cube(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .select(col("l_returnflag"), col("l_linestatus"),
        col("l_quantity"), col("l_extendedprice"))
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(
        grouping_id().cast(IntegerType).as("lvl"),
        count(lit(1)).as("n_lines"),
        floor(sum(col("l_quantity"))).cast(LongType).as("sum_qty"),
        moneySum(col("l_extendedprice")).as("total_price"))
      .orderBy(col("lvl"), col("l_returnflag").asc_nulls_first,
        col("l_linestatus").asc_nulls_first)

  val q41Sql: String =
    """SELECT l_returnflag, l_linestatus,
      |       CAST(GROUPING(l_returnflag, l_linestatus) AS INT) AS lvl,
      |       COUNT(*) AS n_lines,
      |       CAST(FLOOR(SUM(l_quantity)) AS BIGINT) AS sum_qty,
      |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
      |FROM lineitem
      |GROUP BY CUBE(l_returnflag, l_linestatus)
      |ORDER BY lvl, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------------
  // q42 — arbitrary GROUPING SETS, through the SQL surface: the
  // region-margin and priority-margin of the order count/revenue matrix
  // plus the grand total — a lattice neither ROLLUP (one drill path,
  // q33) nor CUBE (all 2^k cells, q41) expresses, because the (region ×
  // priority) cell grain is deliberately absent. Runs as `spark.sql`
  // text over the registered views: grouping-set syntax is SQL-only in
  // Spark, and the text gets identical Catalyst treatment (pushdown,
  // broadcast, Expand lowering) as the DataFrame programs
  // (SqlSurfaceSpec pins that equivalence).
  //
  // Scale: same Expand→single-hash-aggregate lowering as q33/q41, with
  // a ×3 multiplier (one per grouping set); dims broadcast, the
  // orders⋈customer shuffle is the only genuine exchange.
  // ---------------------------------------------------------------------
  private val q42Body: String =
    """SELECT r.r_name AS region_name, o.o_orderpriority AS priority,
      |       %s AS lvl,
      |       COUNT(*) AS n_orders,
      |       CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_sales
      |FROM orders o
      |JOIN customer c ON o.o_custkey = c.c_custkey
      |JOIN nation n ON c.c_nationkey = n.n_nationkey
      |JOIN region r ON n.n_regionkey = r.r_regionkey
      |GROUP BY GROUPING SETS ((r.r_name), (o.o_orderpriority), ())
      |ORDER BY lvl, region_name NULLS FIRST, priority NULLS FIRST""".stripMargin

  def q42GroupingSets(spark: SparkSession, dir: String): DataFrame = {
    Tables.registerViews(spark, dir)
    spark.sql(q42Body.format("CAST(grouping_id() AS INT)"))
  }

  val q42Sql: String =
    q42Body.format("CAST(GROUPING(r.r_name, o.o_orderpriority) AS INT)")

  val q34Sql: String =
    """WITH ranked AS (
      |  SELECT c_nationkey, c_acctbal,
      |         ROW_NUMBER() OVER (PARTITION BY c_nationkey
      |           ORDER BY c_acctbal ASC NULLS FIRST, c_custkey ASC) AS rn,
      |         COUNT(*) OVER (PARTITION BY c_nationkey) AS n
      |  FROM customer),
      |agg AS (
      |  SELECT c_nationkey, COUNT(*) AS n_customers,
      |         MAX(CASE WHEN rn = (n + 1) // 2 THEN c_acctbal END) AS median_acctbal,
      |         MAX(CASE WHEN rn = (n * 9 + 9) // 10 THEN c_acctbal END) AS p90_acctbal
      |  FROM ranked GROUP BY c_nationkey)
      |SELECT n.n_name AS nation_name, a.n_customers, a.median_acctbal, a.p90_acctbal
      |FROM agg a JOIN nation n ON a.c_nationkey = n.n_nationkey
      |ORDER BY nation_name""".stripMargin

  // ---------------------------------------------------------------------
  // q43 — argmin-per-group (the TPC-H Q2 "supplier with the minimum
  // cost per part" correlated-subquery shape): for every part, the
  // supplier selling it at the lowest unit price, ties broken by the
  // smaller suppkey.
  //
  // Scale: the argmin is ONE struct-min hash aggregate — `min(struct
  // (price, suppkey))` compares field-wise, so the aggregate carries the
  // winning pair with map-side partials and a single shuffle on partkey.
  // The classic alternatives both lose at 100 TB: a window row_number
  // sorts every lineitem row inside each part partition, and a min-join-
  // back reshuffles lineitem twice. The dim joins attach names AFTER the
  // aggregate, on the already-collapsed per-part frame.
  // ---------------------------------------------------------------------
  def q43MinCostSupplier(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir).filter(col("l_quantity") > 0)
      .select(col("l_partkey"), col("l_suppkey"),
        (col("l_extendedprice") / col("l_quantity")).as("unit_price"))
    val p = Tables.part(spark, dir).select(col("p_partkey"), col("p_name"))
    val s = Tables.supplier(spark, dir)
      .select(col("s_suppkey"), col("s_name"))
    l.groupBy(col("l_partkey").as("part_id"))
      .agg(min(struct(col("unit_price"), col("l_suppkey"))).as("best"))
      .select(col("part_id"), col("best.unit_price").as("min_unit_price"),
        col("best.l_suppkey").as("supplier_id"))
      .join(p, col("part_id") === col("p_partkey"))
      .join(s, col("supplier_id") === col("s_suppkey"))
      .select(col("part_id"), col("p_name").as("part_name"),
        col("supplier_id"), col("s_name").as("supplier_name"),
        col("min_unit_price"))
      .orderBy(col("part_id"))
  }

  val q43Sql: String =
    """WITH priced AS (
      |  SELECT l_partkey, l_suppkey, l_extendedprice / l_quantity AS unit_price
      |  FROM lineitem WHERE l_quantity > 0),
      |best AS (
      |  SELECT l_partkey, l_suppkey, unit_price,
      |         ROW_NUMBER() OVER (PARTITION BY l_partkey
      |           ORDER BY unit_price ASC, l_suppkey ASC) AS rn
      |  FROM priced)
      |SELECT b.l_partkey AS part_id, p.p_name AS part_name,
      |       b.l_suppkey AS supplier_id, s.s_name AS supplier_name,
      |       b.unit_price AS min_unit_price
      |FROM best b
      |JOIN part p ON b.l_partkey = p.p_partkey
      |JOIN supplier s ON b.l_suppkey = s.s_suppkey
      |WHERE b.rn = 1
      |ORDER BY part_id""".stripMargin

  // ---------------------------------------------------------------------
  // q48 — market-basket co-occurrence: the top part pairs bought together
  // in one order (the association-rule input every retail warehouse
  // computes; the reference has no self-join shape at all). Distinct
  // (order, part) first so multi-line parts count once per order, then a
  // within-order self-join with p1 < p2 emits each unordered pair once.
  //
  // Scale: the self-join is ORDER-KEYED — both sides hash-partition on
  // orderkey and the pair blow-up is bounded by order size k (k²/2 rows
  // per order), not by data size; a mega-order would be capped upstream
  // by validation. The pair aggregate is keyed on (p1, p2) and the final
  // top-20 is a TakeOrderedAndProject — no global sort materialization.
  // ---------------------------------------------------------------------
  def q48MarketBasket(spark: SparkSession, dir: String): DataFrame = {
    val items = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_partkey")).distinct()
    val a = items.select(col("l_orderkey"), col("l_partkey").as("part_a"))
    val b = items.select(col("l_orderkey"), col("l_partkey").as("part_b"))
    a.join(b, Seq("l_orderkey"))
      .filter(col("part_a") < col("part_b"))
      .groupBy(col("part_a"), col("part_b"))
      .agg(count(lit(1)).as("n_orders"))
      .orderBy(col("n_orders").desc, col("part_a"), col("part_b"))
      .limit(20)
  }

  val q48Sql: String =
    """WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
      |SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
      |       COUNT(*) AS n_orders
      |FROM items a JOIN items b
      |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      |GROUP BY 1, 2
      |ORDER BY n_orders DESC, part_a, part_b
      |LIMIT 20""".stripMargin

  // ---------------------------------------------------------------------
  // q49 — share-of-parent in the region→nation hierarchy: each nation's
  // revenue as a fraction of its region's total — the per-parent variant
  // of the global share-of-total (operators.Distribution W3). The window
  // runs over the NATION-GRAIN aggregate (25 rows for any data size —
  // bounded by the dimension, not the data), partitioned by region: the
  // raw orders collapse in a keyed hash aggregate first, so the window
  // never sees data-sized input.
  // ---------------------------------------------------------------------
  def q49NationShareOfRegion(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_nationkey"))
    val n = Tables.nation(spark, dir)
      .select(col("n_nationkey"), col("n_regionkey"), col("n_name"))
    val r = Tables.region(spark, dir).select(col("r_regionkey"), col("r_name"))
    // the nation totals stay DECIMAL through the window sum (decimal
    // addition is exact and order-independent; a double window sum could
    // diverge from the oracle in low-order bits) and cast to double last
    val byNation = o.join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("r_name").as("region_name"), col("n_name").as("nation_name"))
      .agg(sum(Queries.money(col("o_totalprice"))).as("__nation_dec"))
    val byRegion = Window.partitionBy(col("region_name"))
    byNation
      .withColumn("__region_dec", sum(col("__nation_dec")).over(byRegion))
      .select(col("region_name"), col("nation_name"),
        col("__nation_dec").cast(DoubleType).as("nation_sales"),
        col("__region_dec").cast(DoubleType).as("region_sales"),
        (col("__nation_dec").cast(DoubleType)
          / col("__region_dec").cast(DoubleType)).as("share_of_region"))
      .orderBy(col("region_name"), col("nation_name"))
  }

  val q49Sql: String =
    """WITH by_nation AS (
      |  SELECT r.r_name AS region_name, n.n_name AS nation_name,
      |         SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS nation_dec
      |  FROM orders o
      |  JOIN customer c ON o.o_custkey = c.c_custkey
      |  JOIN nation n ON c.c_nationkey = n.n_nationkey
      |  JOIN region r ON n.n_regionkey = r.r_regionkey
      |  GROUP BY 1, 2),
      |win AS (
      |  SELECT region_name, nation_name, nation_dec,
      |         SUM(nation_dec) OVER (PARTITION BY region_name) AS region_dec
      |  FROM by_nation)
      |SELECT region_name, nation_name,
      |       CAST(nation_dec AS DOUBLE) AS nation_sales,
      |       CAST(region_dec AS DOUBLE) AS region_sales,
      |       CAST(nation_dec AS DOUBLE) / CAST(region_dec AS DOUBLE) AS share_of_region
      |FROM win
      |ORDER BY region_name, nation_name""".stripMargin

  // ---------------------------------------------------------------------
  // q50 — INTERSECT / EXCEPT as gate-checked operators: buyers active in
  // BOTH 1995 and 1996 who then lapsed by 2001 — the retention set algebra
  // (U-family completion: q12 covers UNION; this covers the other two set
  // ops with their DISTINCT bag semantics).
  //
  // Scale: each year's buyer set is a distinct-aggregate over a
  // date-pruned scan; Catalyst lowers INTERSECT/EXCEPT to left-semi /
  // left-anti joins on the key — keyed shuffles all the way, and the
  // name join attaches after the set algebra has shrunk the frame.
  // ---------------------------------------------------------------------
  def q50RetainedBuyers(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .select(col("o_custkey"), year(to_date(col("o_orderdate"))).as("y"))
    def buyers(yr: Int) =
      o.filter(col("y") === yr).select(col("o_custkey")).distinct()
    val retained = buyers(1995).intersect(buyers(1996))
      .except(buyers(2001))
    retained
      .join(Tables.customer(spark, dir)
        .select(col("c_custkey"), col("c_name")),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey").as("customer_id"), col("c_name").as("name"))
      .orderBy(col("customer_id"))
  }

  val q50Sql: String =
    """WITH y95 AS (SELECT DISTINCT o_custkey FROM orders WHERE YEAR(CAST(o_orderdate AS DATE)) = 1995),
      |y96 AS (SELECT DISTINCT o_custkey FROM orders WHERE YEAR(CAST(o_orderdate AS DATE)) = 1996),
      |y01 AS (SELECT DISTINCT o_custkey FROM orders WHERE YEAR(CAST(o_orderdate AS DATE)) = 2001),
      |retained AS (
      |  SELECT * FROM (SELECT * FROM y95 INTERSECT SELECT * FROM y96)
      |  EXCEPT SELECT * FROM y01)
      |SELECT c.c_custkey AS customer_id, c.c_name AS name
      |FROM retained r JOIN customer c ON r.o_custkey = c.c_custkey
      |ORDER BY customer_id""".stripMargin

  // ---------------------------------------------------------------------
  // q51 — weighted PageRank over the CO-PURCHASE graph (q48's pair frame
  // as an undirected weighted graph): the iterative-propagation operator
  // class the repo's pointer-doubling CC (d23) opens but does not cover —
  // "which products sit at the center of the basket graph" is the
  // link-analysis question retail curation and web-corpus domain-ranking
  // both ask (Common Crawl publishes exactly this over its host graph).
  //
  // Numeric contract: ranks live in integer MICRO-units (1e6 = 1.0) and
  // every per-edge contribution is a pure integer function of
  // (r_src, w, wtot) — ((r*850 div 1000)*w) div wtot — so the per-node
  // SUM is order-free and both engines reproduce it bit-for-bit (the
  // d31 fixed-point discipline on an iterative operator). Damping 0.85,
  // base mass 0.15 per node, 10 fixed iterations; undirected co-purchase
  // edges mean no dangling nodes (every node has out-weight ≥ 1).
  // Overflow headroom: r ≤ total mass ≈ N·1e6; at N = 2e9 parts,
  // r·850 ≈ 1.7e18 < Long.Max — the widest intermediate by design.
  //
  // Scale shape: the pair blow-up is order-keyed (k²/2 per order, k
  // bounded by validation); each of the 10 iterations is ONE keyed
  // shuffle of the edge frame joined to a node-sized rank frame —
  // GraphX-Pregel's cost without leaving the DataFrame planner. The edge
  // frame is pinned once and the rank rounds are snapshotted (d23's
  // discipline: lineage stays flat, block loss fails loudly rather than
  // resampling), all inside one snapshot of the result.
  // ---------------------------------------------------------------------
  private val PrIters = 10
  private val PrStep = "(((r * 850) div 1000) * w) div wtot"

  /** Conf key for the convergence EARLY-EXIT of iterative operators
    * (r16 verdict #6). Default −1 = off: exactly `maxIters` iterations
    * (the oracle-gated mode — the unrolled oracle SQL encodes the
    * iteration count). Setting ε ≥ 0 stops as soon as
    * `max |rank_i − rank_{i−1}| ≤ ε` (micro-units; one node-sized
    * join+agg per iteration, cheap next to the edge shuffle).
    * ε = 0 is EXACT stationarity: the update is a deterministic
    * function of the previous vector, so a zero delta at iteration i
    * makes every later iteration a no-op — the early exit is
    * bit-identical to running the full count (GraphRankSpec pins it).
    * ε > 0 trades exactness for fewer shuffles: the result equals a
    * fixed run of exactly the iterations executed, NOT the full-count
    * run — gate it against the oracle generated at that count. */
  private[graft] val ConvergeEpsKey = "graft.iter.convergeEpsMicro"

  /** Damped weighted PageRank over undirected pairs (pa, pb, w):
    * returns (node, r, wtot) in micro-units. Extracted so the spec can
    * drive a hand-checkable graph through the exact production
    * arithmetic. Early exit follows [[ConvergeEpsKey]]; GraphRankSpec
    * proves the ε-exit equal to its fixed-count twin. */
  private[graft] def weightedPageRank(pairs: DataFrame,
      maxIters: Int = PrIters): DataFrame =
    weightedPageRankConverged(pairs, maxIters)._1

  /** [[weightedPageRank]] plus the number of iterations actually
    * executed (for the convergence census and the ε-exit spec).
    *
    * The whole loop is one [[graft.StageCache.snapshot]]: the result is
    * materialized once and every frame the loop pinned (pairs, wtot,
    * edges, at most `maxIters` node-sized rank rounds) is released when
    * it returns. Fixed-count mode snapshots every SECOND round, chaining
    * the round in between lazily: half the scheduling barriers of one
    * snapshot per round at a plan depth of 2 (r19, guide §1.2). Both
    * extremes were measured and rejected on q51 (sf0.1, interleaved A/B,
    * q03 control flat): one snapshot per round 8.47/10.14 s, a fully
    * lazy chain 9.18 s (analyzer/optimizer time over ten inlined copies
    * of the edge-frame lineage eats the job-launch saving), every second
    * round 8.24/8.30 s. The ε-exit mode snapshots every round: its
    * convergence probe is an action per round regardless, and the delta
    * join reads two materialized rank frames. Where the chain is cut
    * cannot change the result: the update is a deterministic function of
    * the previous vector. */
  private[graft] def weightedPageRankConverged(pairs: DataFrame,
      maxIters: Int = PrIters): (DataFrame, Int) = {
    val eps = pairs.sparkSession.conf.get(ConvergeEpsKey, "-1").toLong
    var iters = 0
    val ranked = graft.StageCache.snapshot(pairs.sparkSession) {
      // snapshot the PAIR frame first (r19): edges0 references it twice
      // (the union) and is itself consumed by both the wtot aggregate and
      // the edge-frame build — without it the corpus-scale pair build
      // (lineitem scan → per-order collect_set → pair explode → pair
      // aggregate) executed once per consumer
      val pairsP = graft.StageCache.checkpoint(pairs)
      val edges0 = pairsP.select(col("pa").as("src"), col("pb").as("dst"), col("w"))
        .union(pairsP.select(col("pb").as("src"), col("pa").as("dst"), col("w")))
      // node-sized; snapshotted so the final rank⋈wtot join reads the
      // materialized frame instead of re-scanning the corpus for edges0
      val wt = graft.StageCache.checkpoint(
        edges0.groupBy(col("src")).agg(sum(col("w")).as("wtot")))
      // The edge frame is the BIG side of every iteration's join, so its
      // physical layout decides the per-iteration cost. A snapshot here
      // would erase the partitioning (LogicalRDD resurfaces as
      // UnknownPartitioning — measured in plans/r18/q51_*_before.txt:
      // every iteration re-Exchanged AND re-Sorted the full edge frame,
      // 2 extra edge-frame passes × 10 rounds). Instead: shuffle ONCE onto
      // the join key, sort within partitions, and pin (cache) — the cached
      // plan keeps HashPartitioning(src)+ordering visible (AQE leaves
      // cached-plan partitioning alone by default), so each iteration's
      // join only exchanges the NODE-sized rank frame and the edge side
      // streams with no Exchange and no Sort (guide §2.4: establish a
      // partitioning once, share it across every consumer).
      // Recompute-on-block-loss is deterministic (no sampling anywhere
      // upstream), so a pin is as safe as a snapshot.
      val edges = graft.StageCache.pin(edges0.join(wt, Seq("src"))
        .repartition(col("src")).sortWithinPartitions(col("src")))
      var ranks = graft.StageCache.checkpoint(
        wt.select(col("src").as("node"), lit(1000000L).as("r")))
      var i = 1
      var converged = false
      while (i <= maxIters && !converged) {
        val round = edges.join(ranks, col("src") === col("node"))
          .select(col("dst"), expr(PrStep).as("c"))
          .groupBy(col("dst"))
          .agg((lit(150000L) + sum(col("c"))).as("r"))
          .select(col("dst").as("node"), col("r"))
        val next =
          if (eps >= 0 || i % 2 == 0) graft.StageCache.checkpoint(round) else round
        if (eps >= 0) {
          // node-sized join of two snapshotted frames — no edge
          // re-shuffle. Node sets are identical by construction (every
          // node of the undirected graph receives base mass each round).
          val row = next.as("n")
            .join(ranks.select(col("node"), col("r").as("rp")), Seq("node"))
            .agg(max(abs(col("r") - col("rp")))).head()
          // an empty graph aggregates max() to one NULL row — an empty
          // node set is converged by definition, not an NPE (ADVICE r17)
          converged = row.isNullAt(0) || row.getLong(0) <= eps
        }
        ranks = next
        i += 1
      }
      iters = i - 1
      ranks.join(wt, col("node") === col("src"))
        .select(col("node"), col("r"), col("wtot"))
    }
    (ranked, iters)
  }

  /** q51's weighted co-purchase edge frame (shared with GraphBench).
    *
    * One keyed aggregate instead of distinct + self-join (r18, guide
    * §2.4): the old form paid a (orderkey, partkey) distinct shuffle,
    * then re-exchanged the distinct output on orderkey for the pair
    * self-join — two corpus-scale exchanges before the pair aggregate.
    * The order's distinct part set is BOUNDED (per-order line counts are
    * capped by validation), so collect_set builds it in one orderkey
    * exchange and the pa<pb pairs expand as a pure codegen projection
    * over the sorted array — identical pair bag (each unordered pair
    * once per order that contains both parts), one lineitem-scale
    * exchange fewer and no join. The pair-grain groupBy keeps its
    * map-side partial aggregation either way. */
  private[graft] def copurchasePairs(spark: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_partkey"))
      .groupBy(col("l_orderkey"))
      .agg(array_sort(collect_set(col("l_partkey"))).as("ps"))
      .select(explode(expr(
        "flatten(transform(ps, (x, i) -> " +
          "transform(slice(ps, i + 2, size(ps) - i - 1), " +
          "y -> named_struct('pa', x, 'pb', y))))")).as("p"))
      .select(col("p.pa").as("pa"), col("p.pb").as("pb"))
      .groupBy(col("pa"), col("pb")).agg(count(lit(1)).as("w"))
  }

  def q51CopurchaseRank(spark: SparkSession, dir: String): DataFrame = {
    weightedPageRank(copurchasePairs(spark, dir))
      .select(col("node").as("part_id"), col("r").as("rank_micro"),
        col("wtot").as("w_out"))
      .orderBy(col("rank_micro").desc, col("part_id"))
      .limit(30)
  }

  /** The 10 iterations unroll as chained CTEs (recursive CTEs cannot
    * aggregate in the recursive term); DuckDB SUMs over BIGINT promote
    * to HUGEINT, so every aggregated column is re-CAST (the
    * audit_oracle_types rule). Every multiply-referenced CTE is
    * AS MATERIALIZED: inlined, DuckDB recomputes the pair self-join
    * once per iteration reference — measured at sf1 as >79 GB of temp
    * spill before ENOSPC killed the check. */
  val q51Sql: String = {
    val iters = (1 to PrIters).map { i =>
      s"""r$i AS MATERIALIZED (
         |  SELECT e.dst AS node,
         |         CAST(150000 + SUM((((p.r * 850) // 1000) * e.w) // e.wtot) AS BIGINT) AS r
         |  FROM edges e JOIN r${i - 1} p ON e.src = p.node GROUP BY e.dst)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH items AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |pairs AS MATERIALIZED (
       |  SELECT a.l_partkey AS pa, b.l_partkey AS pb, COUNT(*) AS w
       |  FROM items a JOIN items b
       |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
       |  GROUP BY 1, 2),
       |edges0 AS MATERIALIZED (
       |  SELECT pa AS src, pb AS dst, w FROM pairs
       |  UNION ALL SELECT pb, pa, w FROM pairs),
       |wt AS MATERIALIZED (SELECT src, CAST(SUM(w) AS BIGINT) AS wtot FROM edges0 GROUP BY src),
       |edges AS MATERIALIZED (SELECT e.src, e.dst, e.w, t.wtot FROM edges0 e JOIN wt t ON e.src = t.src),
       |r0 AS MATERIALIZED (SELECT src AS node, CAST(1000000 AS BIGINT) AS r FROM wt),
       |$iters
       |SELECT p.node AS part_id, p.r AS rank_micro, t.wtot AS w_out
       |FROM r$PrIters p JOIN wt t ON p.node = t.src
       |ORDER BY rank_micro DESC, part_id
       |LIMIT 30""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q52 — SCD TYPE-2 history build: the versioned-dimension op q44's
  // SCD-1 upsert deliberately is not. Given a change log (here: each
  // customer's orders as a stream of o_orderpriority re-statements), emit
  // one row per VALUE RUN with [valid_from, valid_to) intervals, a
  // version number, and an is_current flag — the table every "as of
  // date X" dimension lookup joins against, and the missing half of the
  // warehouse-write family (q44 keeps latest; this keeps history).
  //
  // Determinism: several orders can land on one day, so the per-day
  // winner is pinned FIRST (max_by on the unique o_orderkey — a
  // partial-aggregable groupBy, not a window), then runs collapse via
  // lag and intervals close via lead. valid_to of the open row is a
  // conventional high-date rather than NULL so the interval join
  // predicate stays a plain BETWEEN. The sentinel is 2262-01-01, NOT
  // the folklore 9999-12-31: any verifier that canonicalizes
  // timestamps through nanoseconds (pandas datetime64[ns] tops out at
  // 2262-04-11) overflows on the folklore value, so no compared column
  // may ever carry a timestamp past that horizon (enforced statically
  // by tools/audit_oracle_types.py).
  //
  // Scale shape: one keyed shuffle for the per-day argmax (map-side
  // combine on (custkey, day)), one keyed shuffle into the custkey
  // window — lag, the run filter, row_number, and lead all share the
  // (custkey, valid_from) partitioning+ordering, so Catalyst plans a
  // single Window exchange and the filter between the two window
  // operators re-sorts nothing. Per-key row counts are bounded by
  // per-customer order counts — no global window, no skew cliff.
  // ---------------------------------------------------------------------
  private[graft] val ScdHighDate = "2262-01-01 00:00:00"

  /** The interval builder alone: `changes` carries one pinned change per
    * (o_custkey, o_orderdate) with the new value in `prio`. Extracted so
    * the spec can drive a hand-checkable change log through the exact
    * production window algebra. */
  private[graft] def scd2Intervals(changes: DataFrame): DataFrame = {
    val byCust = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"))
    val runs = changes
      .withColumn("prev", lag(col("prio"), 1).over(byCust))
      .filter(col("prev").isNull || col("prev") =!= col("prio"))
    // No presentation orderBy here (r18): this builder runs INSIDE every
    // incremental fold step (scd2Merge) and every lake merge
    // (DimSync.mergeScd2) — a trailing global sort would cost a
    // range-shuffle per merge only to be discarded by the union /
    // bucket-repartition above it. The registered q52 applies the
    // presentation sort itself (the q01Core discipline).
    runs.select(
        col("o_custkey").as("customer_id"),
        row_number().over(byCust).cast("bigint").as("version_no"),
        col("prio").as("priority"),
        col("o_orderdate").as("valid_from"),
        coalesce(lead(col("o_orderdate"), 1).over(byCust),
          lit(ScdHighDate).cast("timestamp")).as("valid_to"),
        when(lead(col("o_orderdate"), 1).over(byCust).isNull, 1L)
          .otherwise(0L).as("is_current"))
  }

  /** The interval table shared by q52 (presentation sort on top) and q54
    * (as-of join) via [[graft.StageCache]] — the q01_core/q07_scored
    * "silver table" pattern: one window pass per session, every consumer
    * reads the pinned frame (cold bench bills the build). */
  private def q52IntervalsStage(spark: SparkSession, dir: String): DataFrame =
    graft.StageCache.cached(spark, dir, "q52_intervals")(
      scd2Intervals(pinnedChangesByYear(spark, dir).drop("__y")))

  def q52ScdHistory(spark: SparkSession, dir: String): DataFrame =
    q52IntervalsStage(spark, dir)
      .orderBy(col("customer_id"), col("version_no"))

  // ---------------------------------------------------------------------
  // q52b — INCREMENTAL SCD-2 merge (q52's production seam): q52 rebuilds
  // the whole history each run; a warehouse ingests a CHANGE BATCH —
  // close the affected open rows, insert the new versions, and leave
  // untouched keys alone. The algebraic key: an interval row IS a change
  // record at its valid_from (scd2Intervals keeps exactly the run
  // starts), so merging a batch = re-running the interval builder over
  // (touched keys' history re-read as changes) ∪ (the batch), unioned
  // with the untouched history verbatim. Same-value changes across the
  // batch boundary are absorbed by the lag filter (the open run
  // continues — no spurious version), differing values close the open
  // row at the new change date, and brand-new keys open at version 1.
  //
  // Contract: APPEND-ONLY in event time per key — every batch change
  // must postdate the key's open valid_from (date-split batches satisfy
  // this globally). A restatement INTO the past needs the from-scratch
  // rebuild: collapsed history has discarded same-value repeats that an
  // interloper could re-split, so replaying it is lossy for that case
  // (ScdSpec pins the law's boundary).
  //
  // Scale shape: per merge, ONLY the touched keys' history rows enter
  // the window (semi-join on the batch's key set, broadcast when the
  // batch is small); untouched rows pass through with no shuffle and —
  // in the bucketed-lake twin (DimSync.mergeScd2) — are never read at
  // all (directory pruning on the key bucket). The registered query
  // folds date-split batches and must hash-equal q52's from-scratch
  // SQL, so fold parity is proven BY the driver gate itself.
  // ---------------------------------------------------------------------
  private[graft] def scd2Merge(history: DataFrame, batch: DataFrame): DataFrame = {
    val touched = batch.select(col("o_custkey")).distinct()
    val untouched = history.join(touched,
      history("customer_id") === touched("o_custkey"), "left_anti")
    val replay = history.join(touched,
        history("customer_id") === touched("o_custkey"), "left_semi")
      .select(col("customer_id").as("o_custkey"),
        col("valid_from").as("o_orderdate"), col("priority").as("prio"))
    scd2Intervals(replay.unionByName(batch)).unionByName(untouched)
  }

  /** The per-day pinned change log shared by q52b/q52c's date-split
    * folds, with the batch year attached. Computed ONCE per run: a day
    * never straddles a batch, so the per-day argmax computed globally
    * and filtered to a year equals the argmax computed inside that
    * year's slice — the fold used to re-scan the full orders table and
    * re-run the argmax shuffle once PER YEAR (7× at the gate fixtures;
    * guide §1.2: remove redundant passes). Shared across the q52 family
    * (q52/q52b/q52c/q54 all start from this change log) via
    * [[graft.StageCache]]; pinned so each year's batch is a narrow
    * filter over materialized blocks, not a re-aggregation. */
  private def pinnedChangesByYear(spark: SparkSession, dir: String): DataFrame =
    graft.StageCache.cached(spark, dir, "q52_changes")(
      Tables.orders(spark, dir)
        .groupBy(col("o_custkey"), col("o_orderdate"))
        .agg(max_by(col("o_orderpriority"), col("o_orderkey")).as("prio"))
        .withColumn("__y", year(col("o_orderdate"))))

  def q52bScdMerge(spark: SparkSession, dir: String): DataFrame = {
    val pinned = pinnedChangesByYear(spark, dir)
    // bounded collect: the distinct calendar years (a handful) — the
    // deterministic date-split batch schedule
    val years = pinned.select(col("__y")).distinct()
      .collect().map(_.getInt(0)).sorted
    val folded = years.foldLeft(Option.empty[DataFrame]) { (hist, y) =>
      // per-year pin: the batch feeds several merge subtrees, and a bare
      // filter over the all-years pinned blocks would re-scan every
      // year's blocks per subtree — pin the slice so subtrees scan only it
      val batch = graft.StageCache.checkpoint(
        pinned.filter(col("__y") === y).drop("__y"))
      // a snapshot per merge truncates the fold's growing lineage (the
      // q51 discipline); one batch per year keeps the chain short
      Some(graft.StageCache.checkpoint(
        hist.fold(scd2Intervals(batch))(h => scd2Merge(h, batch))))
    }
    folded.get.orderBy(col("customer_id"), col("version_no"))
  }

  /** q52c — the PERSISTED twin of q52b: the same date-split fold, but
    * every merge goes through `DimSync.mergeScd2`'s bucketed, VERSIONED
    * parquet lake (manifest-routed touched-bucket reads; untouched
    * buckets carried by reference across versions; staging+rename
    * commit), and the gated result is what a CONSUMER reads back from
    * the lake via its manifest. Oracle is
    * again q52's from-scratch SQL, so the driver gate proves the whole
    * persistence seam — bucketing, directory pruning, parquet round-trip
    * of the interval schema — not just the in-memory algebra. Lake is
    * rebuilt per run (the d49 determinism discipline). */
  def q52cScdLake(spark: SparkSession, dir: String): DataFrame = {
    val lake = graft.sources.Layout.layoutPath(dir, "q52c_scd2_lake")
    val p = new org.apache.hadoop.fs.Path(lake)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    // one global argmax pass instead of one per year (see
    // [[pinnedChangesByYear]]); each merge's batch — which feeds four
    // subtrees (touched-bucket collect, append-only guard, in-batch
    // dedup, interval union) — is a narrow filter over the pinned
    // blocks, so no subtree re-runs the argmax shuffle
    val pinned = pinnedChangesByYear(spark, dir)
    val years = pinned.select(col("__y")).distinct()
      .collect().map(_.getInt(0)).sorted
    years.foreach { y =>
      // per-year pin, same rationale as q52b's: four subtrees per merge
      // must not each re-scan every year's pinned blocks
      val batch = graft.StageCache.checkpoint(
        pinned.filter(col("__y") === y).drop("__y"))
      graft.streaming.DimSync.mergeScd2(spark, lake, batch, nBuckets = 16)
    }
    graft.streaming.DimSync.scd2Snapshot(spark, lake)
      .orderBy(col("customer_id"), col("version_no"))
  }

  // ---------------------------------------------------------------------
  // q53 — correlated SCALAR subquery in a filter (the TPC-H Q17 shape):
  // small-quantity line items, where "small" is relative to THAT part's
  // own average quantity — the remaining correlated-subquery class after
  // q45's EXISTS (semi-join). Decorrelated the way Catalyst itself
  // would: the per-part average is a groupBy aggregate re-joined on the
  // key, so the "subquery per outer row" never executes row-at-a-time.
  //
  // Numeric contract: quantities are integer-valued doubles (≤50), so
  // their double SUM is exact and partition-order-free; avg = exact sum
  // / count and 0.2·avg are then bit-identical IEEE in both engines.
  // Revenue goes through the money(decimal) lift before summing.
  //
  // Scale shape: lineitem shuffles ONCE on l_partkey and the exchange is
  // reused for both sides of the self-join (aggregate + probe); the part
  // dim attaches by keyed join after the filter has cut the frame; final
  // rollup is a 25-row brand aggregate with map-side partials.
  // ---------------------------------------------------------------------
  def q53SmallQtyRevenue(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir)
    val perPart = l.groupBy(col("l_partkey"))
      .agg((sum(col("l_quantity")) / count(col("l_quantity"))).as("avg_qty"))
    val small = l.select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
      .join(perPart, Seq("l_partkey"))
      .filter(col("l_quantity") < lit(0.2) * col("avg_qty"))
    small
      .join(Tables.part(spark, dir)
        .select(col("p_partkey"), col("p_brand")),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(
        count(lit(1)).as("n_small"),
        (Queries.moneySum(col("l_extendedprice")) / lit(7.0)).as("avg_yearly"))
      .orderBy(col("p_brand"))
  }

  // ---------------------------------------------------------------------
  // q54 — POINT-IN-TIME lookup against the SCD-2 dimension (q52's
  // consumer): re-join every order to the priority interval that was
  // CURRENT at its order date — the "dimension as of event time" join
  // every type-2 warehouse exists to serve, and the read-side proof that
  // q52's intervals tile correctly (every order must land in exactly one
  // interval, including each run's FIRST order on the interval-opening
  // date, and the matched value must equal that day's pinned change).
  //
  // Join shape: equi-join on customer_id with the interval predicate as
  // a join-level range filter. Both sides hash-partition on the key; per
  // key the dimension carries only that customer's version rows (bounded
  // by their change count), so the per-key interval probe is a few-row
  // scan — the reason a type-2 dim join never needs the bucket-explode
  // machinery q31 uses for arbitrary interval overlap. The final rollup
  // compares looked-up state to the order's own restated priority:
  // is_current_match counts orders whose priority equals the interval
  // value (diagnostic for late-arriving re-statements).
  // ---------------------------------------------------------------------
  def q54AsOfDimension(spark: SparkSession, dir: String): DataFrame = {
    // the shared interval stage, NOT q52's sorted presentation frame —
    // the as-of join re-shuffles on the key anyway, so q52's global sort
    // would be paid only to be thrown away
    val hist = q52IntervalsStage(spark, dir)
      .select(col("customer_id"), col("version_no"), col("priority"),
        col("valid_from"), col("valid_to"))
    val o = Tables.orders(spark, dir)
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        col("o_orderpriority"), col("o_totalprice"))
    o.join(hist,
        col("o_custkey") === col("customer_id")
          && col("o_orderdate") >= col("valid_from")
          && col("o_orderdate") < col("valid_to"))
      .groupBy(col("priority"))
      .agg(
        count(lit(1)).as("n_orders"),
        sum(when(col("o_orderpriority") === col("priority"), 1L)
          .otherwise(0L)).as("n_matching"),
        Queries.moneySum(col("o_totalprice")).as("revenue"),
        max(col("version_no")).as("max_version"))
      .orderBy(col("priority"))
  }

  val q54Sql: String =
    s"""WITH per_day AS (
       |  SELECT o_custkey, o_orderdate,
       |         max_by(o_orderpriority, o_orderkey) AS prio
       |  FROM orders GROUP BY 1, 2),
       |runs AS (
       |  SELECT * FROM (
       |    SELECT o_custkey, o_orderdate, prio,
       |           LAG(prio) OVER (PARTITION BY o_custkey ORDER BY o_orderdate) AS prev
       |    FROM per_day)
       |  WHERE prev IS NULL OR prev <> prio),
       |hist AS (
       |  SELECT o_custkey AS customer_id,
       |         CAST(ROW_NUMBER() OVER w AS BIGINT) AS version_no,
       |         prio AS priority,
       |         o_orderdate AS valid_from,
       |         COALESCE(LEAD(o_orderdate) OVER w,
       |                  TIMESTAMP '$ScdHighDate') AS valid_to
       |  FROM runs
       |  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate))
       |SELECT h.priority,
       |       COUNT(*) AS n_orders,
       |       CAST(SUM(CASE WHEN o.o_orderpriority = h.priority
       |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_matching,
       |       CAST(CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS VARCHAR)
       |            AS DOUBLE) AS revenue,
       |       MAX(h.version_no) AS max_version
       |FROM orders o
       |JOIN hist h
       |  ON o.o_custkey = h.customer_id
       | AND o.o_orderdate >= h.valid_from
       | AND o.o_orderdate <  h.valid_to
       |GROUP BY h.priority ORDER BY h.priority""".stripMargin

  val q53Sql: String =
    """WITH pa AS (
      |  SELECT l_partkey,
      |         SUM(l_quantity) / COUNT(l_quantity) AS avg_qty
      |  FROM lineitem GROUP BY 1)
      |SELECT p.p_brand,
      |       COUNT(*) AS n_small,
      |       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0
      |         AS avg_yearly
      |FROM lineitem l
      |JOIN pa ON l.l_partkey = pa.l_partkey
      |JOIN part p ON p.p_partkey = l.l_partkey
      |WHERE l.l_quantity < 0.2 * pa.avg_qty
      |GROUP BY p.p_brand ORDER BY p.p_brand""".stripMargin

  val q52Sql: String =
    s"""WITH per_day AS (
       |  SELECT o_custkey, o_orderdate,
       |         max_by(o_orderpriority, o_orderkey) AS prio
       |  FROM orders GROUP BY 1, 2),
       |runs AS (
       |  SELECT * FROM (
       |    SELECT o_custkey, o_orderdate, prio,
       |           LAG(prio) OVER (PARTITION BY o_custkey ORDER BY o_orderdate) AS prev
       |    FROM per_day)
       |  WHERE prev IS NULL OR prev <> prio)
       |SELECT o_custkey AS customer_id,
       |       CAST(ROW_NUMBER() OVER w AS BIGINT) AS version_no,
       |       prio AS priority,
       |       o_orderdate AS valid_from,
       |       COALESCE(LEAD(o_orderdate) OVER w,
       |                TIMESTAMP '$ScdHighDate') AS valid_to,
       |       CAST(CASE WHEN LEAD(o_orderdate) OVER w IS NULL THEN 1 ELSE 0 END
       |            AS BIGINT) AS is_current
       |FROM runs
       |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate)
       |ORDER BY customer_id, version_no""".stripMargin
}
