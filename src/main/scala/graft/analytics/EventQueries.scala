package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables

/** Event-stream analytics S-Q1..S-Q5 (SURVEY.md §2.10/§2.12) — the
  * reference's Kafka→Redis realtime metrics (`consumer.py:192-344`)
  * re-expressed as declarative batch aggregations, the DuckDB-checked
  * correctness tier of the realtime metrics.
  *
  * What the streaming side (`graft.streaming.Realtime`) shares with this
  * file is one transform: q32 unpacks order items with
  * `Realtime.explodeOrderItems`, the same code the streaming path runs.
  * The aggregations are not shared. `Realtime.minutelyCounts`,
  * `minutelyRevenue` and `runningTotals` are streaming twins of
  * [[minutelyCounts]], [[minutelyRevenue]] and [[runningTotals]]: separate
  * copies that bucket with a watermarked `window()` instead of
  * `date_trunc`, and the streaming running totals carry no `n_users`
  * (an exact distinct count is not a streaming aggregate).
  */
object EventQueries {

  /** S-Q1 (ST1): tumbling 1-minute counts per event type
    * (`consumer.py:200-204`). Batch form uses date_trunc — identical
    * bucketing to `window($"ts", "1 minute")` for tumbling windows. */
  def minutelyCounts(events: DataFrame): DataFrame =
    events
      .groupBy(
        date_trunc("minute", col("ts")).as("minute"),
        col("event_type"))
      .agg(count(lit(1)).as("n"))

  def q23MinutelyCounts(spark: SparkSession, dir: String): DataFrame =
    minutelyCounts(Tables.events(spark, dir))
      .orderBy(col("minute"), col("event_type"))

  val q23Sql: String =
    """SELECT date_trunc('minute', ts) AS minute, event_type, COUNT(*) AS n
      |FROM events GROUP BY 1, 2 ORDER BY minute, event_type""".stripMargin

  /** S-Q2 (ST2): tumbling 1-minute revenue + cart-value sums
    * (`consumer.py:250-251,313-315`) — purchase events only. */
  def minutelyRevenue(events: DataFrame): DataFrame =
    events.filter(col("event_type") === "purchase")
      .groupBy(date_trunc("minute", col("ts")).as("minute"))
      .agg(
        Queries.moneySum(col("value")).as("revenue"),
        count(lit(1)).as("n_purchases"))

  def q24MinutelyRevenue(spark: SparkSession, dir: String): DataFrame =
    minutelyRevenue(Tables.events(spark, dir)).orderBy(col("minute"))

  val q24Sql: String =
    """SELECT date_trunc('minute', ts) AS minute,
      |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
      |       COUNT(*) AS n_purchases
      |FROM events WHERE event_type = 'purchase'
      |GROUP BY 1 ORDER BY minute""".stripMargin

  /** S-Q3 (ST3/A17): running totals since start per event type
    * (`consumer.py:146-189`) — in streaming this is the `update`-mode
    * global aggregate; in batch, a plain groupBy. */
  def runningTotals(events: DataFrame): DataFrame =
    events.groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        Queries.moneySum(col("value")).as("total_value"),
        countDistinct(col("user_id")).as("n_users"))

  def q25RunningTotals(spark: SparkSession, dir: String): DataFrame =
    runningTotals(Tables.events(spark, dir)).orderBy(col("event_type"))

  val q25Sql: String =
    """SELECT event_type, COUNT(*) AS n,
      |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
      |       COUNT(DISTINCT user_id) AS n_users
      |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin

  /** S-Q4 (ST4/A18+T5): per-user leaderboard, top-10 by event count
    * (`consumer.py:207-216` + `utils.py:143-150`). Deterministic tie-break
    * on user_id. Scale: groupBy shuffles once on user_id; the top-k is a
    * TakeOrderedAndProject (no global sort materialization). */
  def userLeaderboard(events: DataFrame): DataFrame =
    events.groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_events"),
        Queries.moneySum(col("value")).as("total_value"))

  def q26TopUsers(spark: SparkSession, dir: String): DataFrame =
    userLeaderboard(Tables.events(spark, dir))
      .orderBy(col("n_events").desc, col("user_id"))
      .limit(10)

  val q26Sql: String =
    """SELECT user_id, COUNT(*) AS n_events,
      |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM events GROUP BY 1
      |ORDER BY n_events DESC, user_id LIMIT 10""".stripMargin

  /** S-Q5 (ST5/T6): most-recent-100 event feed (`consumer.py:219-226`
    * LPUSH+LTRIM ring buffer) — ordered by event time desc, id desc. */
  def q27RecentFeed(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .orderBy(col("ts").desc, col("event_id").desc)
      .limit(100)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))

  val q27Sql: String =
    """SELECT event_id, ts, user_id, event_type, value
      |FROM events ORDER BY ts DESC, event_id DESC LIMIT 100""".stripMargin

  /** q29 — sessionization (gaps-and-islands): split each user's event
    * stream into sessions separated by >30-minute gaps, one row per
    * session with start/end/count/value. Batch twin of the
    * `flatMapGroupsWithState` streaming operator
    * ([[graft.streaming.Sessionize]]) — beyond the reference's surface
    * (its consumer keeps only counters), standard for training-data /
    * clickstream pipelines.
    * Scale: two window passes over the same (user_id, ts) partitioning —
    * Catalyst reuses one exchange+sort for both (lag and the running sum
    * share the window spec); then one groupBy on (user, session). */
  private val GapMinutes = 30

  def sessionize(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"))
    events
      .withColumn("__prev", lag(col("ts"), 1).over(byUser))
      // microsecond-exact gap test (unix_timestamp truncates to seconds,
      // which would misclassify sub-second boundary gaps vs the oracle)
      .withColumn("__new_session",
        when(col("__prev").isNull ||
          unix_micros(col("ts")) - unix_micros(col("__prev"))
            > GapMinutes * 60L * 1000000L, 1L).otherwise(0L))
      .withColumn("__session_no",
        sum(col("__new_session")).over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("__session_no").as("session_no"))
      .agg(
        min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"),
        Queries.moneySum(col("value")).as("total_value"))
  }

  def q29Sessionize(spark: SparkSession, dir: String): DataFrame =
    sessionize(Tables.events(spark, dir))
      .orderBy(col("user_id"), col("session_no"))

  val q29Sql: String =
    """WITH flagged AS (
      |  SELECT user_id, ts, value,
      |         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts NULLS FIRST) IS NULL
      |                OR epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts NULLS FIRST)) > 1800000000
      |              THEN 1 ELSE 0 END AS new_session
      |  FROM events),
      |numbered AS (
      |  SELECT *, SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts NULLS FIRST
      |    ROWS UNBOUNDED PRECEDING) AS session_no
      |  FROM flagged)
      |SELECT user_id, CAST(session_no AS BIGINT) AS session_no,
      |       MIN(ts) AS session_start, MAX(ts) AS session_end,
      |       COUNT(*) AS n_events,
      |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM numbered GROUP BY user_id, session_no
      |ORDER BY user_id, session_no""".stripMargin

  /** N2 — explode of nested order items (`consumer.py:317-325`): the
    * events table carries a JSON props column; parse it (N1 from_json) and
    * aggregate on the extracted field — exercising the JSON path the
    * reference's order events use. */
  def q28PropsExtract(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    e.withColumn("k",
        from_json(col("props"), StructType(Seq(StructField("k", IntegerType))))
          .getField("k"))
      .filter(col("k").isNotNull)
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("k")).as("sum_k"),
        (sum(col("k")).cast(DoubleType) / count(col("k"))).as("avg_k"))
      .orderBy(col("event_type"))
  }

  val q28Sql: String =
    """SELECT event_type, COUNT(*) AS n,
      |       CAST(SUM(CAST(json_extract(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k,
      |       CAST(SUM(CAST(json_extract(props, '$.k') AS INTEGER)) AS DOUBLE)
      |         / COUNT(CAST(json_extract(props, '$.k') AS INTEGER)) AS avg_k
      |FROM events
      |WHERE CAST(json_extract(props, '$.k') AS INTEGER) IS NOT NULL
      |GROUP BY 1 ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------------
  // Q32 — nested order-items rollup under the oracle (round-1 verdict #5;
  // reference `consumer.py:317-325`): lineitem lines pack into a JSON
  // items array per order (the exact wire shape the reference's completed-
  // order events carry), then the SAME code the streaming path uses
  // (Realtime.explodeOrderItems: N1 from_json, N2 explode, N3 struct
  // field access) unpacks it, and a per-category rollup aggregates.
  // The oracle skips the ser/de round-trip (it is an identity) and
  // aggregates lineitem directly — so any JSON ser/de or explode defect
  // surfaces as a hash mismatch.
  // Money: price lifts to DECIMAL(18,2) BEFORE the multiply (raw input
  // column, exact) — never casting the derived double (q07/q01 rule).
  // ---------------------------------------------------------------------
  def q32ItemsExplode(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{ArrayType, TimestampType}
    val li = graft.Tables.lineitem(spark, dir)
    val orders = li
      .select(col("l_orderkey").as("event_id"),
        struct(
          col("l_partkey").as("product_id"),
          col("l_returnflag").as("product_category"),
          col("l_extendedprice").as("product_price"),
          col("l_linenumber").as("quantity")).as("item"))
      .groupBy(col("event_id"))
      .agg(to_json(array_sort(collect_list(col("item")))).as("items_json"))
      .select(col("event_id"),
        lit(null).cast(TimestampType).as("ts"),
        col("event_id").as("user_id"),
        from_json(col("items_json"),
          ArrayType(graft.streaming.EventBus.orderItemSchema)).as("items"))
    graft.streaming.Realtime.explodeOrderItems(orders)
      .groupBy(col("product_category"))
      .agg(
        count(lit(1)).as("n_lines"),
        countDistinct(col("event_id")).as("n_orders"),
        sum(col("quantity").cast("long")).as("total_qty"),
        sum(Queries.money(col("price")) * col("quantity")).cast("double")
          .as("revenue"))
      .orderBy(col("product_category"))
  }

  val q32Sql: String =
    """SELECT l_returnflag AS product_category,
      |       COUNT(*) AS n_lines,
      |       COUNT(DISTINCT l_orderkey) AS n_orders,
      |       CAST(SUM(l_linenumber) AS BIGINT) AS total_qty,
      |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * l_linenumber) AS DOUBLE) AS revenue
      |FROM lineitem
      |GROUP BY 1 ORDER BY product_category""".stripMargin

  // ---------------------------------------------------------------------
  // q46 — conversion funnel (view → click-after-view → purchase-after-
  // click): the sequential-pattern aggregate every product-analytics
  // stack runs and the reference's dashboard cannot express. Step
  // membership is ORDER-dependent — a click only counts with a view
  // strictly before it, a purchase only with such a click before it —
  // computed as chained running flags over ONE per-user window pass:
  // max(view-flag) over preceding rows marks qualified clicks, then
  // max(qualified-click) over the same frame marks qualified purchases.
  //
  // Scale: a single events scan, one shuffle on user_id; both window
  // passes share the same (partition, sort) spec so the second reuses
  // the first's order — per-user frames, never a global window. The
  // per-user step flags aggregate on the SAME user_id partitioning (no
  // new exchange), so the final single-row sum receives 0/1 partials
  // only; the 3-row reshape is a row-local stack generator. Contrast
  // the naive per-step min-ts self-joins: three scans and three
  // user-keyed shuffles.
  // ---------------------------------------------------------------------
  def q46Funnel(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wPrev = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val flagged = Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("seen_view",
        max(when(col("event_type") === "view", 1)).over(wPrev))
      .withColumn("qclick",
        when(col("event_type") === "click" && col("seen_view") === 1, 1))
      .withColumn("seen_qclick", max(col("qclick")).over(wPrev))
    // per-user step flags FIRST (reuses the window's user_id partitioning —
    // no extra exchange), so the final single-row aggregate sums 0/1
    // partials, never a distinct-user row set (a global countDistinct
    // would funnel every distinct user into one partition at 100 TB)
    flagged.groupBy(col("user_id"))
      .agg(
        max(when(col("event_type") === "view", 1).otherwise(0)).as("f_view"),
        max(when(col("qclick") === 1, 1).otherwise(0)).as("f_click"),
        max(when(col("event_type") === "purchase"
            && col("seen_qclick") === 1, 1).otherwise(0)).as("f_purchase"))
      .agg(
        sum(col("f_view")).as("n_view"),
        sum(col("f_click")).as("n_click"),
        sum(col("f_purchase")).as("n_purchase"))
      .selectExpr(
        """stack(3, '1_view', n_view,
          |         '2_click_after_view', n_click,
          |         '3_purchase_after_click', n_purchase) AS (step, n_users)""".stripMargin,
        "n_view AS __first")
      .select(col("step"), col("n_users"),
        (col("n_users").cast(DoubleType) / col("__first")).as("pct_of_first"))
      .orderBy(col("step"))
  }

  val q46Sql: String =
    """WITH e1 AS (
      |  SELECT user_id, ts, event_id, event_type,
      |         MAX(CASE WHEN event_type = 'view' THEN 1 END) OVER w AS seen_view
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
      |e2 AS (
      |  SELECT *, CASE WHEN event_type = 'click' AND seen_view = 1 THEN 1 END AS qclick
      |  FROM e1),
      |e3 AS (
      |  SELECT *, MAX(qclick) OVER w AS seen_qclick
      |  FROM e2
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
      |peruser AS (
      |  SELECT user_id,
      |         MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS f_view,
      |         MAX(CASE WHEN qclick = 1 THEN 1 ELSE 0 END) AS f_click,
      |         MAX(CASE WHEN event_type = 'purchase' AND seen_qclick = 1 THEN 1 ELSE 0 END) AS f_purchase
      |  FROM e3 GROUP BY user_id),
      |agg AS (
      |  SELECT CAST(SUM(f_view) AS BIGINT) AS n_view,
      |         CAST(SUM(f_click) AS BIGINT) AS n_click,
      |         CAST(SUM(f_purchase) AS BIGINT) AS n_purchase
      |  FROM peruser)
      |SELECT * FROM (
      |  SELECT '1_view' AS step, n_view AS n_users,
      |         CAST(n_view AS DOUBLE) / n_view AS pct_of_first FROM agg
      |  UNION ALL
      |  SELECT '2_click_after_view', n_click, CAST(n_click AS DOUBLE) / n_view FROM agg
      |  UNION ALL
      |  SELECT '3_purchase_after_click', n_purchase, CAST(n_purchase AS DOUBLE) / n_view FROM agg)
      |ORDER BY step""".stripMargin

  // ---------------------------------------------------------------------
  // q47 — cohort retention: users grouped by their first-activity day
  // (the cohort), counted per subsequent week of activity — q46's
  // companion product-analytics aggregate (funnel = how users convert,
  // retention = whether they come back).
  //
  // Scale: cohort assignment is a per-user min (keyed aggregate); the
  // join back to activity is user-keyed and AQE-broadcastable when the
  // user dimension is small relative to events; the final (cohort, week)
  // aggregate counts distinct users per cell with two-phase partial
  // distinct — every stage keyed, nothing global, no window at all.
  // ---------------------------------------------------------------------
  def q47CohortRetention(spark: SparkSession, dir: String): DataFrame = {
    val activity = Tables.events(spark, dir)
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
    val cohorts = activity.groupBy(col("user_id"))
      .agg(min(col("day")).as("cohort_day"))
    activity.join(cohorts, Seq("user_id"))
      .withColumn("week_offset",
        floor(datediff(col("day"), col("cohort_day")) / 7).cast(IntegerType))
      .groupBy(col("cohort_day"), col("week_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("cohort_day"), col("week_offset"))
  }

  val q47Sql: String =
    """WITH activity AS (
      |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
      |cohorts AS (
      |  SELECT user_id, MIN(day) AS cohort_day FROM activity GROUP BY user_id)
      |SELECT c.cohort_day, CAST(DATE_DIFF('day', c.cohort_day, a.day) // 7 AS INTEGER) AS week_offset,
      |       COUNT(DISTINCT a.user_id) AS n_users
      |FROM activity a JOIN cohorts c ON a.user_id = c.user_id
      |GROUP BY 1, 2
      |ORDER BY cohort_day, week_offset""".stripMargin
}
