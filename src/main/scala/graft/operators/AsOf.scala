package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** As-of (temporal) join — the canonical operator Spark's built-ins lack
  * (the build contract's tier-(a) case: COMPOSE it before reaching for a
  * custom SparkPlan). For each left row, attach the latest right row of
  * the same key with `rightTs <= leftTs`.
  *
  * Composition: tag both sides, UNION, and run ONE window pass per key
  * ordered by (ts, side) carrying the last-seen right payload forward
  * (`last(_, ignoreNulls)` over an unbounded-preceding frame) — right
  * rows sort before left rows at equal timestamps, which yields the `<=`
  * bound. One shuffle + one sort total; a sort-merge-join-shaped custom
  * physical node could fuse the filter but adds nothing asymptotically.
  *
  * Determinism: callers must dedupe the right side to one row per
  * (key, ts) — `Dedup.keepFirst` — because "the latest right row" is
  * otherwise ambiguous (DuckDB's ASOF JOIN, the oracle, has the same
  * requirement).
  *
  * Scale: the union shuffles once on the key; skew on a hot key is AQE's
  * problem exactly as in any windowed op. State is one carried struct per
  * row — no buffering of the right side.
  */
object AsOf {

  /** Generic as-of: left/right must share `key`; the right frame's
    * non-key columns are carried (as a struct column `asof`) onto each
    * left row, null when no right row precedes it. */
  def join(left: DataFrame, right: DataFrame, key: String,
      leftTs: String, rightTs: String): DataFrame = {
    val payloadCols = right.columns.filterNot(c => c == key || c == rightTs)
    val taggedRight = right.select(
      col(key),
      col(rightTs).as("__t"),
      lit(0).as("__side"),
      struct(col(rightTs).as("__asof_ts") +: payloadCols.map(col): _*).as("__p"))
    val taggedLeft = left
      .withColumn("__t", col(leftTs))
      .withColumn("__side", lit(1))
      .withColumn("__p", lit(null).cast(taggedRight.schema("__p").dataType))
      .select(Seq(col(key), col("__t"), col("__side"), col("__p")) ++
        left.columns.filterNot(_ == key).map(col): _*)
    val w = Window.partitionBy(col(key))
      .orderBy(col("__t").asc, col("__side").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    taggedLeft.unionByName(
        taggedRight.select(taggedLeft.columns.map(c =>
          if (taggedRight.columns.contains(c)) col(c)
          else lit(null).cast(taggedLeft.schema(c).dataType).as(c)): _*))
      .withColumn("asof", last(col("__p"), ignoreNulls = true).over(w))
      .filter(col("__side") === 1)
      .drop("__t", "__side", "__p")
  }

  /** q30 — attribution: each purchase event joined as-of to the user's
    * most recent view at-or-before it (the classic clickstream
    * last-touch attribution join; DuckDB's native ASOF JOIN is the
    * oracle). */
  def q30Attribution(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val views = Dedup.keepFirst(
      e.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts"), col("event_id")),
      Seq("user_id", "ts"), Seq(col("event_id").desc))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
    join(purchases, views, "user_id", "ts", "ts")
      .select(
        col("event_id").as("purchase_id"),
        col("user_id"),
        col("ts").as("purchase_ts"),
        col("value").as("purchase_value"),
        col("asof.event_id").as("view_id"),
        col("asof.__asof_ts").as("view_ts"),
        (unix_micros(col("ts")) - unix_micros(col("asof.__asof_ts")))
          .as("micros_since_view"))
      .orderBy(col("purchase_id"))
  }

  val q30Sql: String =
    """WITH v AS (
      |  SELECT user_id, ts, event_id FROM events WHERE event_type = 'view'
      |  QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) = 1),
      |p AS (SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase')
      |SELECT p.event_id AS purchase_id, p.user_id, p.ts AS purchase_ts,
      |       p.value AS purchase_value,
      |       v.event_id AS view_id, v.ts AS view_ts,
      |       epoch_us(p.ts) - epoch_us(v.ts) AS micros_since_view
      |FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND v.ts <= p.ts
      |ORDER BY purchase_id""".stripMargin
}
