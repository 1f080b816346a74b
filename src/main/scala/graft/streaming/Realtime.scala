package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, Trigger}
import org.apache.spark.sql.Row

/** Structured Streaming re-expression of the reference's realtime pipeline
  * (SURVEY.md §2.10, `consumer.py:192-344`): the Kafka consumer's
  * Redis-mutating poll loop becomes declarative continuous queries.
  *
  * - ST1/ST2: tumbling 1-minute event-time windows (the reference buckets
  *   by arrival wall-clock minute; with in-order fixtures both agree —
  *   documented divergence ST7).
  * - ST3: running totals as an update-mode aggregate (the ST4
  *   leaderboard is `EventQueries.userLeaderboard`).
  * - ST6: the reference's 24 h Redis TTL becomes a 24 h watermark, which
  *   bounds state exactly like the TTL did.
  * - ST8/ST9: offset replay/resume = checkpointLocation; tests use a
  *   MemoryStream source + memory sink (reference's Kafka/Redis are
  *   infra, not semantics).
  *
  * Shared with the batch tier (`analytics.EventQueries`): only
  * [[explodeOrderItems]], which q32 runs on its batch frame. ST1, ST2 and
  * ST3 below are streaming twins of `EventQueries.minutelyCounts`,
  * `minutelyRevenue` and `runningTotals`, written separately: they bucket
  * with a watermarked `window()` (streaming state needs the explicit
  * window struct, not date_trunc), and [[runningTotals]] has no `n_users`
  * (an exact distinct count is not supported as a streaming aggregate).
  *
  * Scale: streaming aggregation state is per-key in the state store;
  * watermarks bound it; `foreachBatch` sinks (the Redis-replacement
  * upsert) get each micro-batch as a normal DataFrame.
  */
object Realtime {

  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType)))

  /** Parse a raw JSON event stream (reference N1: Kafka value = JSON). */
  def parseJson(raw: DataFrame): DataFrame =
    raw.select(from_json(col("value").cast(StringType), eventSchema).as("e"))
      .select(col("e.*"))

  /** ST1 — tumbling 1-minute counts per event type, 24 h watermark. */
  def minutelyCounts(events: DataFrame): DataFrame =
    events.withWatermark("ts", "24 hours")
      .groupBy(window(col("ts"), "1 minute"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("minute"), col("event_type"), col("n"))

  /** ST2 — tumbling 1-minute revenue over purchase events. */
  def minutelyRevenue(events: DataFrame): DataFrame =
    events.filter(col("event_type") === "purchase")
      .withWatermark("ts", "24 hours")
      .groupBy(window(col("ts"), "1 minute"))
      .agg(
        graft.analytics.Queries.moneySum(col("value")).as("revenue"),
        count(lit(1)).as("n_purchases"))
      .select(col("window.start").as("minute"), col("revenue"), col("n_purchases"))

  /** Sliding 5-minute window advancing every minute — beyond the
    * reference's tumbling-only surface (each event contributes to 5
    * overlapping windows); same watermark bounds the state. */
  def slidingCounts(events: DataFrame): DataFrame =
    events.withWatermark("ts", "24 hours")
      .groupBy(window(col("ts"), "5 minutes", "1 minute"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col("event_type"), col("n"))

  /** At-least-once → effectively-once repair: the reference's consumer
    * auto-commits offsets every 1 s, so crash-replay DUPLICATES are part
    * of its delivery contract (`consumer.py:87-88` — SURVEY.md §3.3 "at-
    * least-once, duplicates possible on crash") and its Redis counters
    * silently double-count them. Streaming twin of the batch keep-first
    * dedup tier (A13/A15/q18): drop every event_id already seen, with the
    * dedup state BOUNDED by the watermark (an unbounded dropDuplicates
    * would grow state forever on an infinite stream — the watermark is
    * what makes exactly-once affordable at 100 TB/day). Place before any
    * downstream aggregate so replayed events never reach a counter. */
  def dedupEvents(events: DataFrame, watermark: String = "24 hours"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** ST3 — running totals since stream start (update-mode global agg). */
  def runningTotals(events: DataFrame): DataFrame =
    events.groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        graft.analytics.Queries.moneySum(col("value")).as("total_value"))

  /** ST5 — recent-100 feed: processing-time ring buffer via foreachBatch
    * (exactly the reference's LPUSH+LTRIM semantics — per batch, keep the
    * newest 100 into an in-memory/KV sink). */
  def recentFeedWriter(events: DataFrame)(
      sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    events.writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        sink(batch.orderBy(col("ts").desc, col("event_id").desc).limit(100), id)
      }

  /** Stream-stream interval join — beyond the reference's surface (SURVEY
    * §2.10: it has no stream joins at all; its consumer looks every event
    * up in Redis instead). Each purchase joins the SAME USER's view events
    * from the preceding attribution window — the streaming form of the
    * batch as-of/attribution query (q30). Both sides carry watermarks and
    * the join condition bounds event-time distance, so Spark can expire
    * buffered state from both sides — without the interval bound a
    * stream-stream join's state grows forever. Output: one row per
    * (purchase, qualifying view) pair; downstream pick-latest is q30's
    * window. */
  def purchaseViewJoin(views: DataFrame, purchases: DataFrame,
      attributionWindow: String = "10 minutes"): DataFrame = {
    val v = views.select(col("user_id").as("v_user"), col("ts").as("view_ts"),
        col("event_id").as("view_id"))
      .withWatermark("view_ts", "1 hour")
    val p = purchases.select(col("user_id").as("p_user"), col("ts").as("purchase_ts"),
        col("event_id").as("purchase_id"), col("value"))
      .withWatermark("purchase_ts", "1 hour")
    p.join(v,
      col("p_user") === col("v_user") &&
        col("view_ts") <= col("purchase_ts") &&
        col("view_ts") >= col("purchase_ts") - expr(s"interval $attributionWindow"))
      .select(col("purchase_id"), col("p_user").as("user_id"),
        col("purchase_ts"), col("view_id"), col("view_ts"), col("value"))
  }

  /** N2/N4 — the reference's completed-order events carry a nested list
    * of item structs and an address struct (`producer.py:164-207`); the
    * consumer loops the items for per-product/category rollups
    * (`consumer.py:317-325`). Declarative form: explode the array, keep
    * the struct fields, aggregate. Works identically on batch and
    * streaming frames. The items follow [[EventBus.orderItemSchema]]. */
  def explodeOrderItems(orders: DataFrame): DataFrame =
    orders.select(col("*"), explode(col("items")).as("item"))
      .select(col("event_id"), col("ts"), col("user_id"),
        col("item.product_id").as("product_id"),
        col("item.product_category").as("product_category"),
        col("item.product_price").as("price"),
        col("item.quantity").as("quantity"),
        (col("item.product_price") * col("item.quantity")).as("line_value"))

  /** ST4-adjacent: per-category revenue over exploded items. */
  def categoryRevenue(orders: DataFrame): DataFrame =
    explodeOrderItems(orders)
      .groupBy(col("product_category"))
      .agg(
        graft.analytics.Queries.moneySum(col("line_value")).as("revenue"),
        count(lit(1)).as("n_lines"))

  /** Start an aggregation into a named in-memory result table (test /
    * dashboard serving surface; production swaps this for foreachBatch →
    * KV upsert, keeping the same query). */
  def startMemorySink(df: DataFrame, name: String,
      mode: OutputMode = OutputMode.Update) =
    df.writeStream
      .format("memory")
      .queryName(name)
      .outputMode(mode)
      .trigger(Trigger.AvailableNow())
      .start()
}
