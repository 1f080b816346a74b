package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.{StringType, StructType}

import graft.streaming.EventBus

/** 4-topic Kafka-shaped ingestion (S12/S13 contract): one envelope parse
  * over one (topic, value) stream, each field typed and owned by the topic
  * schemas, batch == streaming. */
class EventBusSpec extends SparkSpec {
  import spark.implicits._

  private val wireRows = Seq(
    (EventBus.ProductViews,
      """{"event_id":"e1","event_type":"product_view","user_id":"u1",
        |"product_id":7,"product_name":"Widget","product_category":"tools",
        |"product_price":9.99,"timestamp":"2024-01-01T10:00:00",
        |"session_id":"s1","page_url":"/product/7","referrer":"direct"}"""
        .stripMargin.replaceAll("\n", "")),
    (EventBus.CartAdd,
      """{"event_id":"e2","event_type":"add_to_cart","user_id":"u2",
        |"product_id":8,"product_name":"Gadget","product_category":"tools",
        |"product_price":5.00,"quantity":3,"total_amount":15.00,
        |"timestamp":"2024-01-01T10:01:00","session_id":"s2"}"""
        .stripMargin.replaceAll("\n", "")),
    (EventBus.WishlistAdd,
      """{"event_id":"e3","event_type":"add_to_wishlist","user_id":"u1",
        |"product_id":9,"product_name":"Doodad","product_category":"toys",
        |"product_price":2.50,"timestamp":"2024-01-01T10:02:00",
        |"session_id":"s1"}""".stripMargin.replaceAll("\n", "")),
    (EventBus.Orders,
      """{"event_id":"e4","event_type":"order_completed","user_id":"u2",
        |"order_id":"order_ab","items":[
        |{"product_id":7,"product_name":"Widget","product_category":"tools",
        |"product_price":9.99,"quantity":2,"item_total":19.98},
        |{"product_id":9,"product_name":"Doodad","product_category":"toys",
        |"product_price":2.50,"quantity":1,"item_total":2.50}],
        |"total_amount":22.48,"payment_method":"paypal",
        |"shipping_address":{"street":"1 Main St","city":"Springfield",
        |"state":"IL","zip_code":"62701","country":"US"},
        |"timestamp":"2024-01-01T10:03:00","session_id":"s2"}"""
        .stripMargin.replaceAll("\n", "")),
  )

  /** Lands `rows` as one wire file; written via Spark so the nested JSON
    * value string gets correct JSON escaping inside the file. */
  private def landWire(rows: Seq[(String, String)]): String = {
    val dir = Files.createTempDirectory("graft_bus").toFile.getAbsolutePath
    rows.toDF("topic", "value").coalesce(1).write.mode("overwrite").json(dir)
    dir
  }

  test("batch ingest: per-topic dispatch into one typed envelope") {
    val out = EventBus.ingest(wireRows.toDF("topic", "value"))
      .orderBy("event_id").collect()
    assert(out.length == 4)
    val view = out(0)
    assert(view.getAs[String]("event_type") == "product_view")
    assert(view.getAs[Long]("product_id") == 7L)
    val cart = out(1)
    assert(cart.getAs[Int]("quantity") == 3 &&
      cart.getAs[Double]("total_amount") == 15.00)
    val wish = out(2)
    assert(wish.getAs[String]("product_category") == "toys" &&
      wish.isNullAt(wish.fieldIndex("quantity")))
    val order = out(3)
    assert(order.getAs[String]("order_id") == "order_ab")
    assert(order.getAs[scala.collection.Seq[_]]("items").length == 2)
  }

  test("order items from the bus feed the nested explode/rollup path") {
    val orders = EventBus.ingest(wireRows.toDF("topic", "value"))
      .filter(col("topic") === EventBus.Orders)
    val lines = graft.streaming.Realtime.explodeOrderItems(orders)
    val got = lines.orderBy("product_id")
      .select("product_id", "line_value").collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(got.toSeq == Seq((7L, 19.98), (9L, 2.50)))
  }

  test("file-bus streaming ingest == batch ingest (S12/S13 twin)") {
    val stream = EventBus.ingest(EventBus.FileBus(landWire(wireRows)).load(spark))
    val q = graft.streaming.Realtime.startMemorySink(stream, "t_bus",
      org.apache.spark.sql.streaming.OutputMode.Append)
    q.processAllAvailable()
    q.stop()
    val got = spark.table("t_bus").orderBy("event_id")
      .select("event_id", "event_type", "topic").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))
    val want = EventBus.ingest(wireRows.toDF("topic", "value"))
      .orderBy("event_id").select("event_id", "event_type", "topic").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))
    assert(got.toSeq == want.toSeq)
  }

  test("per-topic consumer metrics over the envelope (S14 rollups)") {
    val env = EventBus.ingest(wireRows.toDF("topic", "value")).cache()
    // product/category views count only the view topic
    assert(EventBus.productViews(env).collect().map(r =>
      (r.getLong(0), r.getLong(1))).toSeq == Seq((7L, 1L)))
    assert(EventBus.categoryViews(env).collect().map(r =>
      (r.getString(0), r.getLong(1))).toSeq == Seq(("tools", 1L)))
    // user activity spans all four topics
    assert(EventBus.userActivity(env).agg(sum("n_events")).collect()(0)
      .getLong(0) == 4L)
    val cart = EventBus.cartTotals(env).collect()(0)
    assert(cart.getLong(0) == 1L && cart.getLong(1) == 3L &&
      cart.getDouble(2) == 15.00)
    val rev = EventBus.orderCategoryRevenue(env).orderBy("product_category")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(rev.toSeq == Seq(("tools", 1L, 19.98), ("toys", 1L, 2.50)))
    env.unpersist()
  }

  test("ingest parses each wire row once: one scan, input rows counted once") {
    val wire = new StructType().add("topic", StringType).add("value", StringType)
    val dir = landWire(Seq.fill(25)(wireRows).flatten)
    val plan = EventBus.ingest(spark.read.schema(wire).json(dir))
      .queryExecution.optimizedPlan
    assert(plan.collectLeaves().size == 1, plan.treeString)
    // each consumer query counts every landed row it reads once: all 100,
    // or its topic's 25 where the topic filter is pushed into the scan
    val queries = Seq[(String, DataFrame => DataFrame, OutputMode, Long)](
      ("envelope", identity, OutputMode.Append, 100L),
      ("user_activity", EventBus.userActivity, OutputMode.Update, 100L),
      ("product_views", EventBus.productViews, OutputMode.Update, 25L),
      ("category_views", EventBus.categoryViews, OutputMode.Update, 25L),
      ("cart_totals", EventBus.cartTotals, OutputMode.Update, 25L),
      ("order_category_revenue", EventBus.orderCategoryRevenue, OutputMode.Update, 25L))
    queries.foreach { case (name, metric, mode, rows) =>
      val q = graft.streaming.Realtime.startMemorySink(
        metric(EventBus.ingest(EventBus.FileBus(dir).load(spark))), s"t_bus_$name", mode)
      q.processAllAvailable()
      q.stop()
      assert(q.lastProgress.numInputRows == rows, name)
    }
    assert(spark.table("t_bus_envelope").count() == 100L)
  }

  test("order items are parsed once, with explode's rows") {
    val order = """{"event_id":"%s","event_type":"order_completed","user_id":"u4",
      |"order_id":"o%s"%s,"total_amount":1.0,"timestamp":"2024-01-01T10:05:00",
      |"session_id":"s4"}""".stripMargin.replaceAll("\n", "")
    val item = """{"product_id":7,"product_category":"tools","item_total":4.5}"""
    val rows = wireRows ++ Seq(
      EventBus.Orders -> order.format("e8", "8", ""), // no items
      EventBus.Orders -> order.format("e9", "9", ",\"items\":[]"),
      EventBus.Orders -> order.format("e10", "10", ",\"items\":null"),
      EventBus.Orders -> order.format("e11", "11", s",\"items\":[$item,null]"))
    val wire = new StructType().add("topic", StringType).add("value", StringType)
    val env = EventBus.ingest(spark.read.schema(wire).json(landWire(rows)))
    val q = EventBus.orderCategoryRevenue(env)
    val got = q.collect().map(_.toSeq).toSet
    // the plain explode form, which parses the items three times
    val want = env.filter(col("topic") === EventBus.Orders)
      .select(explode(col("items")).as("item"))
      .groupBy(col("item.product_category").as("product_category"))
      .agg(count(lit(1)).as("n_lines"),
        sum(col("item.item_total").cast("decimal(18,2)")).cast("double").as("revenue"))
      .collect().map(_.toSeq).toSet
    assert(got == want && got.size == 3, got) // tools, toys and the null element
    val nodes = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
      .collect(q.queryExecution.executedPlan) { case p => p }
    val parses = nodes.flatMap(_.expressions.flatMap(_.collect {
      case j: org.apache.spark.sql.catalyst.expressions.JsonToStructs => j }))
    assert(parses.size == 1 && parses.head.child.references.map(_.name).toSet == Set("value"),
      q.queryExecution.executedPlan.treeString)
  }

  test("envelope parity: stray, malformed-foreign and unregistered rows") {
    val view = """{"event_id":"%s","event_type":"product_view","user_id":"u3",
      |"product_id":7,"product_name":"Widget","product_category":"tools",
      |"product_price":9.99,"timestamp":"2024-01-01T10:04:00",
      |"session_id":"s3",%s}""".stripMargin.replaceAll("\n", "")
    val edge = Seq(
      EventBus.ProductViews -> view.format("e5", "\"quantity\":2,\"order_id\":\"o9\""),
      EventBus.ProductViews -> view.format("e6", "\"quantity\":\"abc\""),
      "ecommerce.returns" -> view.format("e7", "\"page_url\":\"/p/7\""))
    val rows = wireRows ++ edge
    val env = EventBus.ingest(rows.toDF("topic", "value")).orderBy("event_id").collect()
    assert(env.map(_.getAs[String]("event_id")).toSeq == (1 to 6).map(i => s"e$i"))
    Seq(env(4), env(5)).foreach { r =>
      assert(r.isNullAt(r.fieldIndex("quantity")) && r.isNullAt(r.fieldIndex("order_id")))
      assert(r.getAs[Long]("product_id") == 7L && r.getAs[String]("session_id") == "s3" &&
        r.getAs[Double]("product_price") == 9.99 && !r.isNullAt(r.fieldIndex("ts")))
    }
    // every row equals the parse under its own topic's full schema, with
    // null in each envelope field that schema lacks
    rows.filter(r => EventBus.schemas.contains(r._1)).zip(env).foreach { case ((t, v), got) =>
      val own = Seq(v).toDF("value")
        .select(from_json(col("value"), EventBus.schemas(t)).as("e")).select("e.*").head()
      got.schema.fieldNames.tail.foreach { c =>
        val f = if (c == "ts") "timestamp" else c
        val want = if (own.schema.fieldNames.contains(f)) own.getAs[Any](f) else null
        assert(got.getAs[Any](c) == want, s"${got.getAs[String]("event_id")}.$c")
      }
    }
  }

  test("kafka branch is constructible (production wiring compiles)") {
    val bus = EventBus.KafkaBus("broker:9092")
    assert(bus.subscribePattern.r.findFirstIn(EventBus.Orders).isDefined)
    // not executable here: no broker/connector in the environment
  }
}
