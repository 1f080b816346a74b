package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.operators.TopK
import graft.streaming.Realtime

case class OrderItem(product_id: Long, product_category: String,
    product_price: Double, quantity: Int)
case class OrderEvent(event_id: Long, ts: Timestamp, user_id: Long,
    items: Seq[OrderItem])

/** N2/N4 (nested order-items explode, `consumer.py:317-325`), ST9
  * (checkpointed resume), and the T4 pagination helper. */
class NestedStreamSpec extends SparkSpec {
  import spark.implicits._

  private val t0 = Timestamp.valueOf("2024-01-01 00:00:00")

  private def orders = Seq(
    OrderEvent(1, t0, 10, Seq(
      OrderItem(100, "electronics", 10.0, 2),
      OrderItem(200, "books", 5.0, 1))),
    OrderEvent(2, t0, 11, Seq(
      OrderItem(100, "electronics", 10.0, 1))))

  test("order-items explode + per-category revenue (N2), batch form") {
    val out = Realtime.categoryRevenue(orders.toDF())
      .orderBy("product_category").collect()
    assert(out.map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSeq ==
      Seq(("books", 5.0), ("electronics", 30.0)).map { case (c, v) =>
        (c, v, if (c == "books") 1L else 2L)
      })
  }

  test("order-items explode works identically on a stream (N2 streaming)") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[OrderEvent]
    stream.addData(orders)
    val q = Realtime.startMemorySink(
      Realtime.categoryRevenue(stream.toDF()), "t_catrev", OutputMode.Complete)
    q.processAllAvailable()
    q.stop()
    val got = spark.table("t_catrev").orderBy("product_category").collect()
      .map(r => (r.getString(0), r.getDouble(1)))
    assert(got.toSeq == Seq(("books", 5.0), ("electronics", 30.0)))
  }

  test("running totals resume from checkpoint (ST9)") {
    implicit val sqlCtx = spark.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    val stream = MemoryStream[Ev]
    stream.addData(Ev(1, t0, 1, "view", 1.0), Ev(2, t0, 1, "view", 2.0))
    def start() = Realtime.runningTotals(stream.toDF())
      .writeStream.format("memory").queryName("t_resume")
      .outputMode(OutputMode.Complete)
      .option("checkpointLocation", ckpt)
      .start()
    val q1 = start()
    q1.processAllAvailable(); q1.stop()
    assert(spark.table("t_resume").collect()(0).getLong(1) == 2L)
    // restart against the SAME checkpoint: state carries over
    stream.addData(Ev(3, t0, 2, "view", 3.0))
    val q2 = start()
    q2.processAllAvailable(); q2.stop()
    val r = spark.table("t_resume").collect()(0)
    assert(r.getLong(1) == 3L) // 2 old + 1 new, not reset
    assert(r.getDouble(2) == 6.0)
  }

  test("pagination returns disjoint sorted pages (T4)") {
    val df = (1 to 10).map(i => (i.toLong, s"n$i")).toDF("id", "name")
    val p0 = TopK.page(df, 3, 0, col("id").desc).collect().map(_.getLong(0))
    val p1 = TopK.page(df, 3, 1, col("id").desc).collect().map(_.getLong(0))
    assert(p0.toSeq == Seq(10L, 9L, 8L))
    assert(p1.toSeq == Seq(7L, 6L, 5L))
  }
}
