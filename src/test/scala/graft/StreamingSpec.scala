package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.Realtime

/** Streaming equivalence (SURVEY.md §5.4): feed a deterministic event
  * batch through MemoryStream → the Realtime continuous queries, and
  * assert the result tables equal the batch computation of the same frame
  * (the property the reference enforces operationally via its pipeline
  * smoke checks). */
case class Ev(event_id: Long, ts: Timestamp, user_id: Long,
    event_type: String, value: Double)

case class Up(k: Long, name: String, acctbal: Double)

case class Ord(o_custkey: Long, o_orderkey: Long, o_orderdate: Timestamp,
    o_orderpriority: String, o_totalprice: Double)

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def mkEvents: Seq[Ev] = {
    val base = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    // deterministic mix shaped like the reference producer's 70:20:8:2
    // view:cart:wishlist:order weights (producer.py:233-237)
    (0 until 100).map { i =>
      val t = new Timestamp(base + i * 7000L) // ~12 minutes span
      val kind = i % 50 match {
        case x if x < 35 => "view"
        case x if x < 45 => "click"
        case x if x < 49 => "signup"
        case _ => "purchase"
      }
      Ev(i.toLong, t, (i % 7).toLong, kind, (i % 10) + 0.5)
    }
  }

  test("streaming minutely counts == batch date_trunc counts") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Ev]
    val events = mkEvents
    stream.addData(events)
    val q = Realtime.startMemorySink(
      Realtime.minutelyCounts(stream.toDF()), "t_minutely",
      org.apache.spark.sql.streaming.OutputMode.Update)
    q.processAllAvailable()
    q.stop()
    val got = spark.table("t_minutely")
      .groupBy("minute", "event_type").agg(max("n").as("n")) // update mode: last update wins
      .orderBy("minute", "event_type").collect()
    val want = graft.analytics.EventQueries
      .minutelyCounts(events.toDF())
      .withColumnRenamed("minute", "minute")
      .orderBy("minute", "event_type").collect()
    assert(got.map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSeq ==
      want.map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSeq)
  }

  test("streaming running totals == batch groupBy") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Ev]
    val events = mkEvents
    // two micro-batches to exercise state accumulation
    stream.addData(events.take(40))
    stream.addData(events.drop(40))
    val q = Realtime.startMemorySink(
      Realtime.runningTotals(stream.toDF()), "t_totals",
      org.apache.spark.sql.streaming.OutputMode.Complete)
    q.processAllAvailable()
    q.stop()
    val got = spark.table("t_totals").orderBy("event_type").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    val want = Realtime.runningTotals(events.toDF()).orderBy("event_type")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq == want.toSeq)
  }

  test("streaming minutely revenue == batch (ST2), via KV upsert sink (S14)") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Ev]
    val events = mkEvents
    stream.addData(events.take(60))
    stream.addData(events.drop(60)) // second batch updates some minutes
    val sink = new graft.streaming.KvSink("minute")
    val q = sink.writer(Realtime.minutelyRevenue(stream.toDF()))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.processAllAvailable()
    q.stop()
    val want = graft.analytics.EventQueries.minutelyRevenue(events.toDF())
      .collect()
      .map(r => (r.getTimestamp(0).toString, (r.getDouble(1), r.getLong(2))))
      .toMap
    val got = sink.snapshot.map { case (k, m) =>
      // KvSink stringifies the key; minutelyRevenue emits window.start
      (k, (m("revenue").asInstanceOf[Double], m("n_purchases").asInstanceOf[Long]))
    }
    assert(got.size == want.size)
    want.foreach { case (minute, v) =>
      assert(got(minute) == v, s"minute $minute: got ${got(minute)}, want $v")
    }
  }

  test("sliding 5m/1m windows: streaming == batch, 5 windows per event") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Ev]
    val events = mkEvents
    stream.addData(events)
    val q = Realtime.startMemorySink(
      Realtime.slidingCounts(stream.toDF()), "t_sliding",
      org.apache.spark.sql.streaming.OutputMode.Update)
    q.processAllAvailable()
    q.stop()
    val got = spark.table("t_sliding")
      .groupBy("window_start", "event_type").agg(max("n").as("n"))
      .orderBy("window_start", "event_type").collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2)))
    val want = Realtime.slidingCounts(events.toDF()) // same fn, batch frame
      .orderBy("window_start", "event_type").collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2)))
    assert(got.toSeq == want.toSeq)
    // every event contributes to exactly 5 overlapping windows
    assert(got.map(_._3).sum == events.size * 5L)
  }

  test("event-time semantics (ST7): out-of-order within watermark counted, beyond watermark dropped") {
    // The reference buckets by ARRIVAL wall-clock minute (consumer.py:200)
    // and so has no late-data story at all; our upgrade aggregates by
    // EVENT time under a 24 h watermark (SURVEY ST7). This pins both
    // halves of that semantics: an event arriving a micro-batch later
    // but still inside the watermark lands in its event-time window,
    // and an event older than the watermark is dropped instead of
    // resurrecting expired state.
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Ev]
    def ev(id: Long, at: String) =
      Ev(id, Timestamp.valueOf(at), 1L, "view", 1.0)
    // batch 1: three events in the 00:00 window, plus a far-future event
    // that advances the watermark to 2024-01-02 00:00 (max - 24 h)
    stream.addData(Seq(
      ev(1, "2024-01-01 00:00:05"), ev(2, "2024-01-01 00:00:15"),
      ev(3, "2024-01-01 00:00:45"), ev(4, "2024-01-03 00:00:00")))
    // NOT startMemorySink: its AvailableNow trigger stops the query after
    // draining batch 1, and the late-arrival batch below would never run
    val q = Realtime.minutelyCounts(stream.toDF()).writeStream
      .format("memory").queryName("t_latedata")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Update)
      .start()
    q.processAllAvailable()
    // batch 2, after the watermark advanced: one event 18 h out of order
    // but inside the watermark (counted), one below it targeting the
    // batch-1 window (dropped — the count must NOT become 4)
    stream.addData(Seq(
      ev(5, "2024-01-02 06:00:30"), ev(6, "2024-01-01 00:00:55")))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("t_latedata")
      .groupBy("minute", "event_type").agg(max("n").as("n"))
      .collect()
      .map(r => (r.getTimestamp(0).toString, r.getLong(2))).toMap
    assert(got("2024-01-01 00:00:00.0") == 3L,
      s"late event below the watermark must not mutate the expired window: $got")
    assert(got("2024-01-02 06:00:00.0") == 1L,
      s"out-of-order event inside the watermark must be counted: $got")
  }

  test("streaming dedup drops replayed events across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Ev]
    val events = mkEvents
    // simulate the reference's at-least-once crash-replay: batch 2 resends
    // the tail of batch 1 before continuing
    stream.addData(events.take(60))
    stream.addData(events.slice(40, 60) ++ events.drop(60))
    val q = Realtime.startMemorySink(
      Realtime.dedupEvents(stream.toDF()), "t_dedup",
      org.apache.spark.sql.streaming.OutputMode.Append)
    q.processAllAvailable()
    q.stop()
    val got = spark.table("t_dedup").select("event_id").collect()
      .map(_.getLong(0)).sorted
    assert(got.length == events.size)            // replays dropped
    assert(got.toSeq == events.map(_.event_id))  // exactly the originals
  }

  test("CDC dimension sync: streamed upserts converge to the batch MERGE, replays idempotent") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dim = java.nio.file.Files.createTempDirectory("graft_dim").toString
    // seed version 0 with q44's snapshot side
    val c = Tables.customer(spark, sfDir)
      .select(col("c_custkey").as("k"), col("c_name").as("name"),
        col("c_acctbal").as("acctbal"),
        graft.llm.TextOps.hashBucket(col("c_custkey")).as("__b"))
    graft.streaming.DimSync.merge(spark, dim,
      c.filter(col("__b") < 90).drop("__b"), "k")
    // stream q44's update/insert batch in two chunks, then REPLAY chunk 1
    val ups = c.filter(col("__b") >= 80).drop("__b")
      .withColumn("acctbal", col("acctbal") + lit(100.0))
      .as[Up].collect().toSeq
    val (chunk1, chunk2) = ups.splitAt(ups.size / 2)
    val stream = MemoryStream[Up]
    val q = stream.toDF().writeStream
      .foreachBatch((b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        graft.streaming.DimSync.merge(spark, dim, b, "k"))
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft_dim_ckpt").toString)
      .start()
    // separate micro-batches: chunk 1, chunk 2, then an at-least-once
    // replay of chunk 1
    Seq(chunk1, chunk2, chunk1).foreach { ch =>
      stream.addData(ch)
      q.processAllAvailable()
    }
    q.stop()
    val streamed = spark.read.parquet(
      s"$dim/v${graft.streaming.DimSync.latestVersion(spark, dim).get}")
    val batch = graft.analytics.StagingQueries.q44DimensionMerge(spark, sfDir)
      .select(col("customer_id").as("k"), col("name"), col("acctbal"))
    assert(streamed.except(batch).isEmpty && batch.except(streamed).isEmpty)
    // 4 merges happened (seed + 2 chunks + replay), all versions complete
    assert(graft.streaming.DimSync.latestVersion(spark, dim).get == 3)
  }

  test("DimSync: arbitrary chunking, ordering, and replays converge to one snapshot") {
    import spark.implicits._
    val c = Tables.customer(spark, sfDir)
      .select(col("c_custkey").as("k"), col("c_name").as("name"),
        col("c_acctbal").as("acctbal"))
    val seed = c.filter(col("k") % 3 === 0)
    val ups = c.filter(col("k") % 3 =!= 0)
      .withColumn("acctbal", col("acctbal") * lit(2.0))
      .as[Up].collect().toSeq
    // reference: seed then one big merge
    val refDir = java.nio.file.Files.createTempDirectory("graft_dimref").toString
    graft.streaming.DimSync.merge(spark, refDir, seed, "k")
    graft.streaming.DimSync.merge(spark, refDir, ups.toDF(), "k")
    val expected = spark.read.parquet(
      s"$refDir/v${graft.streaming.DimSync.latestVersion(spark, refDir).get}")
    // trials: seeded random chunking with a replayed chunk, order shuffled
    Seq(7, 23, 99).foreach { s =>
      val rnd = new scala.util.Random(s)
      val shuffled = rnd.shuffle(ups)
      val nChunks = 2 + rnd.nextInt(3)
      val chunks = shuffled.grouped(
        math.max(1, shuffled.size / nChunks)).toSeq
      val withReplay = chunks :+ chunks(rnd.nextInt(chunks.size))
      val dir = java.nio.file.Files.createTempDirectory(s"graft_dim$s").toString
      graft.streaming.DimSync.merge(spark, dir, seed, "k")
      withReplay.foreach(ch =>
        graft.streaming.DimSync.merge(spark, dir, ch.toDF(), "k"))
      val got = spark.read.parquet(
        s"$dir/v${graft.streaming.DimSync.latestVersion(spark, dir).get}")
      assert(got.except(expected).isEmpty && expected.except(got).isEmpty,
        s"seed $s diverged")
    }
  }

  test("DimSync: vacuum retains the newest versions, sweeps dead writers, spares in-flight slots") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_dimvac").toString
    // four complete versions v0..v3
    (0 to 3).foreach { i =>
      graft.streaming.DimSync.merge(spark,
        dir, Seq((1L, s"n$i", i.toDouble)).toDF("k", "name", "acctbal"), "k")
    }
    // time travel works on a retained complete version
    assert(graft.streaming.DimSync.snapshotAt(spark, dir, 2)
      .head.getAs[String]("name") == "n2")
    // plant a dead writer BELOW latest (v1-era partial, _SUCCESS removed)
    // and an in-flight writer ABOVE latest (v4 without _SUCCESS)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/v1/_SUCCESS"), false)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$dir/v4"))
    val swept = graft.streaming.DimSync.vacuum(spark, dir, keep = 2)
    // keep=2 retains {v2, v3}; v0 ages out, v1 is a dead writer, v4 may
    // be an in-flight commit and must survive
    assert(swept.toSet == Set("v0", "v1"), s"unexpected sweep set: $swept")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/v0")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/v1")))
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$dir/v4")))
    // the current snapshot is untouched and still the latest merge
    assert(graft.streaming.DimSync.latestVersion(spark, dir).contains(3))
    assert(graft.streaming.DimSync.snapshotAt(spark, dir, 3)
      .head.getAs[String]("name") == "n3")
    // an aged-out version no longer time-travels, loudly
    intercept[IllegalArgumentException] {
      graft.streaming.DimSync.snapshotAt(spark, dir, 0)
    }
    // vacuum is idempotent once converged
    assert(graft.streaming.DimSync.vacuum(spark, dir, keep = 2).isEmpty)
  }

  test("streaming SCD-2 ingest: three-chunk CDC log with a mid-stream restart converges to the from-scratch history") {
    import graft.streaming.DimSync
    import graft.analytics.OlapQueries
    // write-side twin of asOfScd2: DimSync.mergeScd2 driven from a
    // foreachBatch CDC stream, replay-idempotent by version-gated batchId
    val root = java.nio.file.Files.createTempDirectory("scd2_stream").toString
    val lake = s"$root/lake"
    val srcDir = s"$root/src"
    val ckpt = s"$root/ckpt"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(srcDir))
    val o = Tables.orders(spark, sfDir)
    val years = o.select(year(col("o_orderdate")).as("y")).distinct()
      .collect().map(_.getInt(0)).sorted
    // three DATE-ORDERED chunks (the append-only contract date-split
    // batches satisfy globally), each pinned per-day inside its chunk —
    // a day never straddles a chunk, so the per-chunk argmax == global
    val groups = years.grouped(math.max(1, (years.length + 2) / 3)).toSeq
    def chunkOf(ys: Seq[Int]) = o.filter(year(col("o_orderdate")).isin(ys: _*))
      .groupBy(col("o_custkey"), col("o_orderdate"))
      .agg(max_by(col("o_orderpriority"), col("o_orderkey")).as("prio"))
    def publish(i: Int): Unit = // one file per chunk = one micro-batch
      chunkOf(groups(i)).coalesce(1).write.parquet(s"$srcDir/chunk$i")
    val srcSchema = chunkOf(groups.head).schema
    def startIngest() = spark.readStream.schema(srcSchema)
      .option("maxFilesPerTrigger", 1).parquet(s"$srcDir/chunk*")
      .writeStream
      .foreachBatch((b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) => {
        DimSync.mergeScd2(spark, lake, b, nBuckets = 8, batchId = Some(id)); ()
      })
      .option("checkpointLocation", ckpt)
      .start()
    publish(0)
    val q1 = startIngest()
    q1.processAllAvailable()
    publish(1)
    q1.processAllAvailable()
    q1.stop() // mid-stream shutdown after two committed batches
    assert(DimSync.latestScd2Version(spark, lake).contains(1))
    // at-least-once redelivery (foreachBatch re-runs the last batch id
    // after a crash between lake write and checkpoint commit): the
    // manifest's batchId gates it to a no-op — no torn double-merge
    assert(DimSync.mergeScd2(spark, lake,
      chunkOf(groups(1)), batchId = Some(1L)) === Nil)
    assert(DimSync.latestScd2Version(spark, lake).contains(1))
    publish(2)
    val q2 = startIngest() // restart from the same checkpoint
    q2.processAllAvailable()
    q2.stop()
    assert(DimSync.latestScd2Version(spark, lake).contains(2),
      "one version per distinct committed batch")
    // the streamed lake equals q52's from-scratch build over ALL changes
    val want = OlapQueries.scd2Intervals(chunkOf(years.toSeq))
    val got = DimSync.scd2Snapshot(spark, lake)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("DimSync: duplicate keys within one batch collapse to one row, last-wins by batchOrder") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_dimdup").toString
    val seed = Seq((1L, "a", 10.0, 0L)).toDF("k", "name", "acctbal", "seq")
    graft.streaming.DimSync.merge(spark, dir, seed, "k")
    // a routine CDC micro-batch: three upserts for k=1 plus an insert —
    // must NOT fan out in the full-outer join; the highest-seq row wins
    val batch = Seq(
      (1L, "a1", 11.0, 1L), (1L, "a3", 13.0, 3L), (1L, "a2", 12.0, 2L),
      (2L, "b", 20.0, 1L),
    ).toDF("k", "name", "acctbal", "seq")
    graft.streaming.DimSync.merge(spark, dir, batch, "k", Seq(col("seq")))
    val snap = spark.read.parquet(
      s"$dir/v${graft.streaming.DimSync.latestVersion(spark, dir).get}")
    assert(snap.count() == 2, "in-batch duplicate keys must not fan out")
    val r = snap.filter(col("k") === 1).collect()
    assert(r.length == 1 && r(0).getAs[String]("name") == "a3"
      && r(0).getAs[Double]("acctbal") == 13.0)
    // without batchOrder the survivor is still ONE deterministic row
    val dir2 = java.nio.file.Files.createTempDirectory("graft_dimdup2").toString
    graft.streaming.DimSync.merge(spark, dir2, batch, "k")
    val snap2 = spark.read.parquet(s"$dir2/v0")
    assert(snap2.count() == 2)
  }

  test("DimSync: a dead pre-staging slot self-heals; a racing COMMITTED version is based on, never overwritten") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_dimrace").toString
    graft.streaming.DimSync.merge(spark, dir, Seq((1L, 10.0)).toDF("k", "v"), "k") // v0
    // an INCOMPLETE occupant of the next slot is provably dead under the
    // staging protocol (a live writer holds only a hidden staging dir
    // until complete, then renames a COMPLETE dir in) — it can only be a
    // pre-staging crash artifact. The merge sweeps it and takes the slot
    // instead of wedging on it forever (ADVICE r17).
    new java.io.File(s"$dir/v1").mkdirs()
    graft.streaming.DimSync.merge(spark, dir, Seq((1L, 99.0)).toDF("k", "v"), "k")
    assert(graft.streaming.DimSync.latestVersion(spark, dir).contains(1))
    assert(spark.read.parquet(s"$dir/v1").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap == Map(1L -> 99.0))
    // a racing writer's COMPLETE commit is sacred: once v2 is committed
    // (with _SUCCESS — the rename source is always complete), the next
    // merge lists it as base and lands v3 carrying BOTH commits; a
    // complete occupant of a target slot is refused, never overwritten
    Seq((2L, 20.0)).toDF("k", "v").write
      .mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(s"$dir/v2")
    graft.streaming.DimSync.merge(spark, dir, Seq((3L, 30.0)).toDF("k", "v"), "k")
    val snap = spark.read.parquet(s"$dir/v3")
    assert(snap.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      == Map(2L -> 20.0, 3L -> 30.0))
  }

  test("stream as-of SCD-2 lookup == q54 batch on the same replay (late arrivals resolve by event time)") {
    implicit val sqlCtx = spark.sqlContext
    import graft.analytics.OlapQueries
    val hist = OlapQueries.q52ScdHistory(spark, sfDir).cache()
    try {
      val orders = Tables.orders(spark, sfDir)
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
          col("o_orderpriority"), col("o_totalprice"))
        .as[Ord].collect().toSeq // bounded: sf0.001 test fixture
      // replay NEWEST-FIRST in three chunks: every chunk after the first
      // is a late arrival relative to what's already been processed —
      // the lookup must still resolve each order against the version
      // current AT ITS ORDER DATE, not at arrival
      val chunks = orders.sortBy(-_.o_orderdate.getTime).grouped(
        (orders.size + 2) / 3).toSeq
      val stream = MemoryStream[Ord]
      val joined = graft.streaming.DimSync.asOfScd2(
        stream.toDF(), hist, col("o_custkey"), col("o_orderdate"))
      // default trigger (not AvailableNow): each chunk lands as its own
      // micro-batch so the late chunks really arrive after earlier ones
      val q = joined.writeStream.format("memory").queryName("t_asof")
        .outputMode("append").start()
      chunks.foreach { ch => stream.addData(ch); q.processAllAvailable() }
      q.stop()
      val got = spark.table("t_asof")
        .groupBy(col("priority"))
        .agg(count(lit(1)).as("n_orders"),
          sum(when(col("o_orderpriority") === col("priority"), 1L)
            .otherwise(0L)).as("n_matching"),
          graft.analytics.Queries.moneySum(col("o_totalprice")).as("revenue"),
          max(col("version_no")).as("max_version"))
        .orderBy(col("priority")).collect().toSeq
      val want = OlapQueries.q54AsOfDimension(spark, sfDir)
        .orderBy(col("priority")).collect().toSeq
      assert(got === want)
      // and nothing was dropped or duplicated by the replay
      assert(spark.table("t_asof").count() === orders.size.toLong)
    } finally hist.unpersist()
  }

  test("stream-stream interval join == batch join (purchase-view attribution)") {
    implicit val sqlCtx = spark.sqlContext
    val events = mkEvents
    val vStream = MemoryStream[Ev]
    val pStream = MemoryStream[Ev]
    val views = events.filter(_.event_type == "view")
    val purchases = events.filter(_.event_type == "purchase")
    vStream.addData(views)
    pStream.addData(purchases)
    val q = Realtime.startMemorySink(
      Realtime.purchaseViewJoin(vStream.toDF(), pStream.toDF()), "t_ssjoin",
      org.apache.spark.sql.streaming.OutputMode.Append)
    q.processAllAvailable()
    q.stop()
    val got = spark.table("t_ssjoin").orderBy("purchase_id", "view_id")
      .collect().map(r => (r.getLong(0), r.getLong(3)))
    // batch twin: same function over batch frames
    val want = Realtime.purchaseViewJoin(views.toDF(), purchases.toDF())
      .orderBy("purchase_id", "view_id")
      .collect().map(r => (r.getLong(0), r.getLong(3)))
    assert(got.nonEmpty && got.toSeq == want.toSeq)
  }

  test("streaming corpus ingest: gate drops short docs, content dedup keeps first") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, java.sql.Timestamp, String)]
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    def ts(i: Int) = new java.sql.Timestamp(t0 + i * 1000L)
    val body = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    stream.addData(Seq(
      (1L, ts(0), body),                    // kept
      (2L, ts(1), "too short"),             // gated (under 10 tokens)
      (3L, ts(2), body)))                   // duplicate content of 1
    stream.addData(Seq(
      (4L, ts(3), body),                    // duplicate across micro-batches
      (5L, ts(4), body + " different tail"))) // kept (new content)
    val q = graft.streaming.Realtime.startMemorySink(
      graft.streaming.CorpusStream.gateAndDedup(
        stream.toDF().toDF("doc_id", "ingest_ts", "text")),
      "t_corpus", org.apache.spark.sql.streaming.OutputMode.Append)
    q.processAllAvailable()
    q.stop()
    val got = spark.table("t_corpus").select("doc_id").collect()
      .map(_.getLong(0)).sorted
    assert(got.toSeq == Seq(1L, 5L))
    // the batch form of the same gate agrees (pure projections)
    val batch = graft.streaming.CorpusStream.gated(
      Seq((1L, ts(0), body), (2L, ts(1), "too short")).toDF("doc_id", "ingest_ts", "text"))
    assert(batch.select("doc_id").collect().map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("index-backed corpus ingest: stream == batch d26 protocol, replays idempotent") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.CorpusStream
    val idx = java.nio.file.Files.createTempDirectory("graft_fpidx").toString
    val out = java.nio.file.Files.createTempDirectory("graft_fpout").toString
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    def ts(i: Int) = new java.sql.Timestamp(t0 + i * 1000L)
    val body = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val b0 = Seq(
      (1L, ts(0), body),                      // kept
      (2L, ts(1), body),                      // within-batch dup of 1 → dropped
      (3L, ts(2), body + " second content"))  // kept
    val b1 = Seq(
      (4L, ts(3), body),                      // dup of batch-0 content → index drop
      (5L, ts(4), body + " third content"),   // kept
      (6L, ts(5), "too short"))               // gated
    val stream = MemoryStream[(Long, java.sql.Timestamp, String)]
    val ckpt = java.nio.file.Files.createTempDirectory("graft_fpckpt").toString
    val q = CorpusStream.startIngest(
      stream.toDF().toDF("doc_id", "ingest_ts", "text"), idx, out, ckpt)
    stream.addData(b0); q.processAllAvailable()
    stream.addData(b1); q.processAllAvailable()
    q.stop()
    def survivors() = spark.read.parquet(out).select("doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(survivors() == Seq(1L, 3L, 5L))
    // two committed index deltas, tagged with their batch ids
    assert(CorpusStream.indexVersions(spark, idx).map(_._3) == Seq(0L, 1L))
    assert(CorpusStream.indexVersions(spark, idx).map(_._2).distinct == Seq("stream"))
    assert(CorpusStream.readIndex(spark, idx).count() == 3)

    // the BATCH path is the same function: batch-1 against the index
    // built from batch-0 must equal what the stream emitted for batch 1
    val batchIdx = java.nio.file.Files.createTempDirectory("graft_fpidx2").toString
    val batchOut = java.nio.file.Files.createTempDirectory("graft_fpout2").toString
    CorpusStream.ingestBatch(spark, batchIdx, batchOut)(b0.toDF("doc_id", "ingest_ts", "text"), 0L)
    CorpusStream.ingestBatch(spark, batchIdx, batchOut)(b1.toDF("doc_id", "ingest_ts", "text"), 1L)
    val batchSurvivors = spark.read.parquet(batchOut).select("doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(batchSurvivors == survivors())

    // at-least-once replay of an already-committed batch is a no-op:
    // same output rows, no new index version
    CorpusStream.ingestBatch(spark, batchIdx, batchOut)(b1.toDF("doc_id", "ingest_ts", "text"), 1L)
    assert(spark.read.parquet(batchOut).select("doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 3L, 5L))
    assert(CorpusStream.indexVersions(spark, batchIdx).size == 2)

    // crash-between-sinks replay: corpus rows written but the delta never
    // committed → re-running the batch rewrites the same rows and commits
    val d = new java.io.File(s"$batchIdx/v1_batch_b1")
    def deleteRec(f: java.io.File): Unit = {
      Option(f.listFiles).foreach(_.foreach(deleteRec)); f.delete()
    }
    deleteRec(d) // simulate: batch 1's delta commit never happened
    CorpusStream.ingestBatch(spark, batchIdx, batchOut)(b1.toDF("doc_id", "ingest_ts", "text"), 1L)
    assert(spark.read.parquet(batchOut).select("doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 3L, 5L))
    assert(CorpusStream.indexVersions(spark, batchIdx).map(_._3) == Seq(0L, 1L))

    // crash MID-delta-write replay: a partial delta dir (no _SUCCESS) at the
    // slot this batch recomputes must be reclaimed, not wedge ErrorIfExists
    val partial = new java.io.File(s"$batchIdx/v1_batch_b1")
    deleteRec(partial) // drop the committed delta, then plant a partial one
    partial.mkdirs()
    new java.io.File(partial, "part-00000.parquet").createNewFile() // partial, no _SUCCESS
    CorpusStream.ingestBatch(spark, batchIdx, batchOut)(b1.toDF("doc_id", "ingest_ts", "text"), 1L)
    assert(CorpusStream.indexVersions(spark, batchIdx).map(_._3) == Seq(0L, 1L))
    assert(CorpusStream.readIndex(spark, batchIdx).count() == 3)

    // writer-namespaced replay check: a NIGHTLY-BATCH writer sharing the
    // stream's index starts its own batchIds at 0 — it must NOT be
    // mistaken for a replay of the stream's batch 0 (that was silent data
    // loss before the writer namespace). New content lands; dup content
    // still dedups against the stream's fingerprints.
    val nightly = Seq(
      (7L, ts(6), body),                     // dup of streamed content -> dropped
      (8L, ts(7), body + " nightly only"))   // kept
    CorpusStream.ingestBatch(spark, idx, out, writer = "nightly")(
      nightly.toDF("doc_id", "ingest_ts", "text"), 0L)
    assert(survivors() == Seq(1L, 3L, 5L, 8L))
    assert(CorpusStream.indexVersions(spark, idx).map(v => (v._2, v._3)).toSet ==
      Set(("stream", 0L), ("stream", 1L), ("nightly", 0L)))

    // cross-restart dedup: a NEW query incarnation on the SAME checkpoint
    // and index must drop content accepted BEFORE the restart — including
    // content only the nightly batch writer ingested — because the
    // persisted index spans the corpus lifetime, unlike watermark state,
    // which dies with the query. (A fresh-checkpoint restart would also
    // need a fresh writer id: batchIds restart at 0 and would read as
    // replays of the first incarnation's commits.)
    val b2 = Seq(
      (9L, ts(8), body),                         // dup of pre-restart stream content
      (10L, ts(9), body + " nightly only"),      // dup of the NIGHTLY batch's content
      (11L, ts(10), body + " post restart"))     // kept
    stream.addData(b2)
    val q2 = CorpusStream.startIngest(
      stream.toDF().toDF("doc_id", "ingest_ts", "text"), idx, out, ckpt)
    q2.processAllAvailable()
    q2.stop()
    assert(survivors() == Seq(1L, 3L, 5L, 8L, 11L))
    assert(CorpusStream.indexVersions(spark, idx).map(v => (v._2, v._3)).toSet ==
      Set(("stream", 0L), ("stream", 1L), ("stream", 2L), ("nightly", 0L)))

    // a legacy pre-writer-namespace delta (v<N>_b<id>) must fail LOUDLY,
    // not be silently skipped (skipping committed fingerprints would
    // re-ingest all prior content as duplicates)
    val legacyIdx = java.nio.file.Files.createTempDirectory("graft_fpidx3").toString
    val legacy = new java.io.File(s"$legacyIdx/v0_b0")
    legacy.mkdirs()
    new java.io.File(legacy, "_SUCCESS").createNewFile()
    val ex = intercept[IllegalStateException] {
      CorpusStream.indexVersions(spark, legacyIdx)
    }
    assert(ex.getMessage.contains("legacy delta"))
  }

  test("corpus store candidate fetch is partition-pruned to candidate buckets (plan-verified)") {
    import graft.streaming.CorpusStream
    val idx = java.nio.file.Files.createTempDirectory("graft_cbidx").toString
    val out = java.nio.file.Files.createTempDirectory("graft_cbout").toString
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    def ts(i: Int) = new java.sql.Timestamp(t0 + i * 1000L)
    def doc(i: Long) =
      (i, ts(i.toInt), s"document number $i body with enough distinct tokens to pass the quality gate")
    CorpusStream.ingestBatch(spark, idx, out)(
      (1L to 6L).map(doc).toDF("doc_id", "ingest_ts", "text"), 0L)
    CorpusStream.ingestBatch(spark, idx, out)(
      (7L to 12L).map(doc).toDF("doc_id", "ingest_ts", "text"), 1L)

    // the store landed bucketed: doc_bucket is a partition column
    val store = spark.read.parquet(out)
    assert(store.columns.contains("doc_bucket"))
    assert(store.select("doc_id").distinct().count() == 12)
    val totalLeaves = store
      .select("writer", "batch", "doc_bucket").distinct().count()

    // fetch ONE candidate: the scan must prune to just the leaves of that
    // doc's bucket — never the whole accepted store (the 100 TB contract:
    // per-micro-batch probe I/O scales with candidates, not corpus size)
    val candIds = Seq(1L).toDF("doc_id")
    val targetBucket = Seq(1L).toDF("id")
      .select(CorpusStream.docBucket(col("id"))).collect()(0).getInt(0)
    val bucketLeaves = store.filter(col("doc_bucket") === targetBucket)
      .select("writer", "batch", "doc_bucket").distinct().count()
    assert(bucketLeaves < totalLeaves, "fixture must span several buckets")

    // AQE wraps the executedPlan in an adaptive leaf; pruning is decided
    // at static planning time either way, so assert on the plain plan
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val fetch = CorpusStream.candidateFetch(spark, out, candIds)
      val scan = fetch.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.head
      assert(scan.partitionFilters.exists(_.toString.contains("doc_bucket")),
        "candidate buckets must reach the store scan as a partition filter")
      val rows = fetch.collect()
      assert(scan.metrics("numPartitions").value == bucketLeaves,
        s"expected $bucketLeaves of $totalLeaves leaves read, " +
          s"got ${scan.metrics("numPartitions").value}")
      assert(rows.map(_.getLong(0)).toSeq == Seq(1L))
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("compactStore migrates the bucket fan-out: fetch stays pruned, replays stay no-ops") {
    import graft.streaming.CorpusStream
    val idx = java.nio.file.Files.createTempDirectory("graft_mgidx").toString
    val out = java.nio.file.Files.createTempDirectory("graft_mgout").toString
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    def ts(i: Int) = new java.sql.Timestamp(t0 + i * 1000L)
    def doc(i: Long) =
      (i, ts(i.toInt), s"migration document $i body with enough distinct tokens to pass the quality gate")
    // a store born at 4 buckets (the marker, not the constant, rules)
    CorpusStream.writeBucketMarker(spark, out, 4)
    CorpusStream.ingestBatch(spark, idx, out)(
      (1L to 6L).map(doc).toDF("doc_id", "ingest_ts", "text"), 0L)
    CorpusStream.ingestBatch(spark, idx, out)(
      (7L to 12L).map(doc).toDF("doc_id", "ingest_ts", "text"), 1L)
    assert(CorpusStream.storeBuckets(spark, out) == 4)
    val before = spark.read.parquet(out)
    assert(before.agg(max(col("doc_bucket"))).collect()(0).getInt(0) < 4)
    val idsBefore = before.select("doc_id").as[Long].collect().sorted.toSeq

    // migrate 4 -> 16: verified swap, marker updated, every row survives
    CorpusStream.compactStore(spark, out, 16)
    assert(CorpusStream.storeBuckets(spark, out) == 16)
    val store = spark.read.parquet(out)
    assert(store.select("doc_id").as[Long].collect().sorted.toSeq == idsBefore)
    val totalLeaves = store
      .select("writer", "batch", "doc_bucket").distinct().count()

    // the candidate fetch prunes on the MIGRATED fan-out (plan-verified)
    val candIds = Seq(1L).toDF("doc_id")
    val targetBucket = Seq(1L).toDF("id")
      .select(CorpusStream.docBucket(col("id"), 16)).collect()(0).getInt(0)
    val bucketLeaves = store.filter(col("doc_bucket") === targetBucket)
      .select("writer", "batch", "doc_bucket").distinct().count()
    assert(bucketLeaves < totalLeaves, "fixture must span several buckets")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val fetch = CorpusStream.candidateFetch(spark, out, candIds)
      val scan = fetch.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.head
      assert(scan.partitionFilters.exists(_.toString.contains("doc_bucket")))
      assert(fetch.collect().map(_.getLong(0)).toSeq == Seq(1L))
      assert(scan.metrics("numPartitions").value == bucketLeaves,
        s"expected $bucketLeaves of $totalLeaves leaves read after migration")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")

    // replaying a pre-migration batchId is still a committed no-op (the
    // ledger in indexDir was untouched by the swap)
    val rowsAfterMigrate = spark.read.parquet(out).count()
    CorpusStream.ingestBatch(spark, idx, out)(
      (1L to 6L).map(doc).toDF("doc_id", "ingest_ts", "text"), 0L)
    assert(spark.read.parquet(out).count() == rowsAfterMigrate)

    // and a NEW batch lands in the migrated fan-out
    CorpusStream.ingestBatch(spark, idx, out)(
      (13L to 18L).map(doc).toDF("doc_id", "ingest_ts", "text"), 2L)
    val after = spark.read.parquet(out)
    assert(after.select("doc_id").distinct().count() == 18)
    assert(CorpusStream.storeBuckets(spark, out) == 16)

    // crash recovery (ADVICE r11): simulate dying between the two swap
    // renames — store gone, data stranded at the swap's backup — and show
    // the rerun restores it and completes the migration
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val idsNow = after.select("doc_id").as[Long].collect().sorted.toSeq
    val (_, old) = graft.sources.Sinks.compactStaging(new org.apache.hadoop.fs.Path(out))
    assert(fs.mkdirs(old.getParent))
    assert(fs.rename(new org.apache.hadoop.fs.Path(out), old))
    CorpusStream.compactStore(spark, out, 8) // must restore, then migrate
    assert(CorpusStream.storeBuckets(spark, out) == 8)
    assert(spark.read.parquet(out)
      .select("doc_id").as[Long].collect().sorted.toSeq == idsNow)
    assert(!fs.exists(old))
  }

  test("compactIndex folds deltas to one dir: probes identical, replays no-op, gates still fire") {
    import graft.streaming.CorpusStream
    val idx = java.nio.file.Files.createTempDirectory("graft_ciidx").toString
    val out = java.nio.file.Files.createTempDirectory("graft_ciout").toString
    def ingest(writer: String, b: Long, rows: Seq[(Long, String, String)]): Unit =
      CorpusStream.ingestBatch(spark, idx, out, writer = writer,
        nearDup = true, spanGate = true, containGate = true, syndGate = true)(
        rows.toDF("doc_id", "text", "source"), b)
    val body = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val other = "one two three four five six seven eight nine ten"
    ingest("stream", 0L, Seq((1L, body, "wire"), (2L, other, "wire")))
    ingest("stream", 1L, Seq(
      (3L, "third wholly novel document body carrying plenty of distinct tokens here", "misc")))
    ingest("nightly", 0L, Seq(
      (4L, "the nightly writer contributes one more novel accepted document body", "arch")))
    def deltaDirs() = new java.io.File(idx).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("v")).map(_.getName).sorted.toSeq
    assert(deltaDirs().size == 3)
    def snap() = (
      CorpusStream.readIndex(spark, idx).collect().map(_.getString(0)).sorted.toSeq,
      CorpusStream.readBandIndex(spark, idx).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).sorted.toSeq,
      CorpusStream.readSpanIndex(spark, idx).collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq,
      CorpusStream.readContainIndex(spark, idx).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).sorted.toSeq)
    val before = snap()
    val versBefore = CorpusStream.indexVersions(spark, idx)

    CorpusStream.compactIndex(spark, idx)
    assert(deltaDirs() == Seq("v3_compacted_b0"), s"got ${deltaDirs()}")
    assert(snap() == before, "every tier's probe must read identically from the fold")
    // the folded (writer, batchId) triples stay visible for replay checks
    assert(versBefore.toSet.subsetOf(CorpusStream.indexVersions(spark, idx).toSet))
    val storeRows = spark.read.parquet(out).count()
    ingest("stream", 0L, Seq((1L, body, "wire"), (2L, other, "wire"))) // replay
    assert(spark.read.parquet(out).count() == storeRows, "replay must stay a no-op")

    // every history tier still fires off the COMPACTED delta: exact dup,
    // near-dup, and a cross-source syndicated copy all bounce; fresh lands
    ingest("stream", 2L, Seq(
      (10L, body, "misc"),                          // exact tier (fp folded)
      (11L, body.replace("kappa", "lambda"), "misc"), // band tier
      (12L, body, "archive2"),                      // would be syndication had fp missed
      (13L, "a genuinely fresh follow-up document accepted after the compaction pass", "misc")))
    val accepted = spark.read.parquet(out).select("doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(accepted == Seq(1L, 2L, 3L, 4L, 13L), s"got $accepted")
    // the new delta's version continues ABOVE the fold (no slot reuse)
    assert(deltaDirs().contains("v4_stream_b2"), s"got ${deltaDirs()}")

    // second fold: epoch advances, everything above still holds
    CorpusStream.compactIndex(spark, idx)
    assert(deltaDirs() == Seq("v5_compacted_b1"), s"got ${deltaDirs()}")
    ingest("stream", 2L, Seq((14L, "replay of batch two after the second fold", "misc")))
    assert(spark.read.parquet(out).select("doc_id").count() == 5, "replay after refold")

    // crash window: dying between the two swap renames leaves the index
    // at the swap's backup — the next pass restores it before folding
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    ingest("stream", 3L, Seq(
      (15L, "one more accepted document so the restored index has two deltas to fold", "misc")))
    val versNow = CorpusStream.indexVersions(spark, idx).toSet
    val (_, old) = graft.sources.Sinks.compactStaging(new org.apache.hadoop.fs.Path(idx))
    assert(fs.mkdirs(old.getParent))
    assert(fs.rename(new org.apache.hadoop.fs.Path(idx), old))
    CorpusStream.compactIndex(spark, idx) // restore, then fold
    assert(versNow.subsetOf(CorpusStream.indexVersions(spark, idx).toSet))
    assert(deltaDirs().size == 1)
    assert(!fs.exists(old))

    // 'compacted' is a reserved writer id
    intercept[IllegalArgumentException] {
      CorpusStream.ingestBatch(spark, idx, out, writer = "compacted")(
        Seq((99L, body, "wire")).toDF("doc_id", "text", "source"), 9L)
    }
  }

  test("index deltas in the older narrow layouts stay readable: absent columns read as null") {
    import graft.streaming.CorpusStream
    val idx = java.nio.file.Files.createTempDirectory("graft_narrowidx").toString
    // an exact-only delta (text_fp alone) and a pre-syndication sketch
    // delta (doc_id, ck), each committed with its _SUCCESS marker
    Seq("fp1", "fp2").toDF("text_fp").write.parquet(s"$idx/v0_old_b0")
    Seq((7L, 70L), (7L, 71L)).toDF("doc_id", "ck").write.parquet(s"$idx/v1_old_b1")
    def sorted(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).sorted.toSeq
    assert(sorted(CorpusStream.readIndex(spark, idx)) == Seq("[fp1]", "[fp2]"))
    assert(sorted(CorpusStream.readContainIndex(spark, idx)) ==
      Seq("[7,70,null,null]", "[7,71,null,null]"))
    assert(CorpusStream.readBandIndex(spark, idx).isEmpty)
    assert(CorpusStream.readSpanIndex(spark, idx).isEmpty)
  }

  test("near-dup streaming ingest: band index rejects near-dups across batches, restarts, writers") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.CorpusStream
    val idx = java.nio.file.Files.createTempDirectory("graft_ndidx").toString
    val out = java.nio.file.Files.createTempDirectory("graft_ndout").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ndckpt").toString
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    def ts(i: Int) = new java.sql.Timestamp(t0 + i * 1000L)
    // both bodies: 10 tokens (inside the gate); the near-dup variants
    // below were chosen so >=1 of the 4 LSH bands provably collides
    // (md5 signatures are deterministic) with jaccard 0.78 >= 0.2
    val body = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val other = "one two three four five six seven eight nine ten"
    val stream = MemoryStream[(Long, java.sql.Timestamp, String)]
    val q = CorpusStream.startIngest(
      stream.toDF().toDF("doc_id", "ingest_ts", "text"), idx, out, ckpt,
      nearDup = true)
    stream.addData(Seq((1L, ts(0), body), (2L, ts(1), other)))
    q.processAllAvailable()
    stream.addData(Seq(
      (3L, ts(2), body.replace("kappa", "lambda")), // NEAR-dup of 1: new fp, exact tier blind to it
      (4L, ts(3), "completely fresh unrelated content with enough tokens to pass the gate")))
    q.processAllAvailable()
    q.stop()
    def survivors() = spark.read.parquet(out).select("doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(survivors() == Seq(1L, 2L, 4L))
    // one atomic delta per batch carries fp rows AND band rows
    assert(CorpusStream.readIndex(spark, idx).count() == 3)
    assert(CorpusStream.readBandIndex(spark, idx).count() == 3 * 4)

    // restart on the same checkpoint + index: near-dups of content
    // accepted BEFORE the restart still bounce off the persisted bands
    stream.addData(Seq(
      (5L, ts(4), other.replace("ten", "eleven")), // near-dup of pre-restart 2
      (6L, ts(5), body),                           // exact dup → fp tier
      (7L, ts(6), "genuinely new third stream content arriving after the restart just fine")))
    val q2 = CorpusStream.startIngest(
      stream.toDF().toDF("doc_id", "ingest_ts", "text"), idx, out, ckpt,
      nearDup = true)
    q2.processAllAvailable()
    q2.stop()
    assert(survivors() == Seq(1L, 2L, 4L, 7L))

    // a nightly batch writer sharing the index sees stream-accepted
    // bands (candidate bodies are fetched from the shared corpus store),
    // and its replay is a no-op
    val nightly = Seq(
      (8L, ts(7), body.replace("alpha", "omega")), // near-dup of streamed 1
      (9L, ts(8), "the nightly pass contributes its own novel document body for the corpus"))
    CorpusStream.ingestBatch(spark, idx, out, writer = "nightly", nearDup = true)(
      nightly.toDF("doc_id", "ingest_ts", "text"), 0L)
    assert(survivors() == Seq(1L, 2L, 4L, 7L, 9L))
    val nVersions = CorpusStream.indexVersions(spark, idx).size
    CorpusStream.ingestBatch(spark, idx, out, writer = "nightly", nearDup = true)(
      nightly.toDF("doc_id", "ingest_ts", "text"), 0L)
    assert(survivors() == Seq(1L, 2L, 4L, 7L, 9L))
    assert(CorpusStream.indexVersions(spark, idx).size == nVersions)
  }

  test("span-gate ingest: history-covered template pages rejected, small quotes pass") {
    import graft.streaming.CorpusStream
    val idx = java.nio.file.Files.createTempDirectory("graft_spidx").toString
    val out = java.nio.file.Files.createTempDirectory("graft_spout").toString
    def ts(i: Int) = new java.sql.Timestamp(
      java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime + i * 1000L)
    val body = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val other = "one two three four five six seven eight nine ten"
    CorpusStream.ingestBatch(spark, idx, out, writer = "w", spanGate = true)(
      Seq((1L, ts(0), body), (2L, ts(1), other))
        .toDF("doc_id", "ingest_ts", "text"), 0L)
    // span index: six 5-token spans per 10-token doc, one count each
    assert(CorpusStream.readSpanIndex(spark, idx).count() == 12)
    // doc 3: 8-token prefix of accepted body + 6 new tokens → 8/14
    // covered = 571428 ppm >= 500000 → REJECTED (new md5, so the exact
    // tier is blind to it); doc 4: one 5-token quote + 9 new tokens →
    // 5/14 = 357142 ppm → accepted
    val template = "alpha beta gamma delta epsilon zeta eta theta " +
      "novel tail tokens appended here instead"
    val quote = "alpha beta gamma delta epsilon " +
      "followed by nine genuinely original trailing words right here"
    CorpusStream.ingestBatch(spark, idx, out, writer = "w", spanGate = true)(
      Seq((3L, ts(2), template), (4L, ts(3), quote))
        .toDF("doc_id", "ingest_ts", "text"), 1L)
    def survivors() = spark.read.parquet(out).select("doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(survivors() == Seq(1L, 2L, 4L))
    // accepted doc 4's ten spans joined the index atomically; its quoted
    // span MERGES with doc 1's fingerprint (12 + 10 - 1 distinct), and
    // the merged fp's count sums across deltas
    val spanIdx = CorpusStream.readSpanIndex(spark, idx).cache()
    assert(spanIdx.count() == 21)
    assert(spanIdx.where(col("sn") === 2).count() == 1)
    spanIdx.unpersist()
    assert(CorpusStream.readIndex(spark, idx).count() == 3)
    // replay of batch 1 is a no-op (delta already committed)
    val nv = CorpusStream.indexVersions(spark, idx).size
    CorpusStream.ingestBatch(spark, idx, out, writer = "w", spanGate = true)(
      Seq((3L, ts(2), template), (4L, ts(3), quote))
        .toDF("doc_id", "ingest_ts", "text"), 1L)
    assert(survivors() == Seq(1L, 2L, 4L) &&
      CorpusStream.indexVersions(spark, idx).size == nv)
  }

  test("containment-gate ingest: doc-in-doc batch docs rejected, fresh docs pass") {
    import graft.streaming.CorpusStream
    val idx = java.nio.file.Files.createTempDirectory("graft_ckidx").toString
    val out = java.nio.file.Files.createTempDirectory("graft_ckout").toString
    def ts(i: Int) = new java.sql.Timestamp(
      java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime + i * 1000L)
    val body = (1 to 20).map(i => s"tok$i").mkString(" ")   // 18 shingles
    val other = (1 to 10).map(i => s"oth$i").mkString(" ")  // 8 shingles
    CorpusStream.ingestBatch(spark, idx, out, writer = "w", containGate = true)(
      Seq((1L, ts(0), body), (2L, ts(1), other))
        .toDF("doc_id", "ingest_ts", "text"), 0L)
    // sketch index: min(k=16, shingles) elements per accepted doc
    assert(CorpusStream.readContainIndex(spark, idx).count() == 16 + 8)
    // doc 3 is a 10-token SUBSTRING of accepted doc 1 — new md5 (exact
    // tier blind), low jaccard vs doc 1 (8/18), containment 8/8 = 1.0 →
    // REJECTED; doc 4 is fresh → accepted
    val contained = (5 to 14).map(i => s"tok$i").mkString(" ")
    val fresh = (1 to 10).map(i => s"new$i").mkString(" ")
    CorpusStream.ingestBatch(spark, idx, out, writer = "w", containGate = true)(
      Seq((3L, ts(2), contained), (4L, ts(3), fresh))
        .toDF("doc_id", "ingest_ts", "text"), 1L)
    def survivors() = spark.read.parquet(out).select("doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(survivors() == Seq(1L, 2L, 4L))
    // doc 4's 8 sketch elements joined the index atomically
    assert(CorpusStream.readContainIndex(spark, idx).count() == 16 + 8 + 8)
    assert(CorpusStream.readIndex(spark, idx).count() == 3)
    // replay of batch 1 is a no-op (delta already committed)
    val nv = CorpusStream.indexVersions(spark, idx).size
    CorpusStream.ingestBatch(spark, idx, out, writer = "w", containGate = true)(
      Seq((3L, ts(2), contained), (4L, ts(3), fresh))
        .toDF("doc_id", "ingest_ts", "text"), 1L)
    assert(survivors() == Seq(1L, 2L, 4L) &&
      CorpusStream.indexVersions(spark, idx).size == nv)
  }

  test("syndication-gate ingest: cross-source contained doc rejected across micro-batches") {
    // r11 verdict #6 — d44's cross-source protocol as a streaming gate:
    // an article accepted inside a long page from source "agg" must be
    // rejected when it re-arrives standalone from source "wire" in a
    // LATER micro-batch; the same containment within ONE source is NOT
    // this gate's business (source-inequality is stage 1 of the
    // protocol), so a same-source contained doc passes with only
    // syndGate on.
    import graft.streaming.CorpusStream
    val idx = java.nio.file.Files.createTempDirectory("graft_synidx").toString
    val out = java.nio.file.Files.createTempDirectory("graft_synout").toString
    def ts(i: Int) = new java.sql.Timestamp(
      java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime + i * 1000L)
    val page = (1 to 30).map(i => s"tok$i").mkString(" ")   // 28 shingles
    val wireDoc = (1 to 20).map(i => s"wrd$i").mkString(" ") // 18 shingles
    CorpusStream.ingestBatch(spark, idx, out, writer = "w", syndGate = true)(
      Seq((1L, ts(0), page, "agg"), (2L, ts(1), wireDoc, "wire"))
        .toDF("doc_id", "ingest_ts", "text", "source"), 0L)
    // ck rows carry sizes and sources for the estimate/source stages
    val ck = CorpusStream.readContainIndex(spark, idx)
    assert(ck.count() == 16 + 16)
    assert(ck.select("csource").distinct().collect()
      .map(_.getString(0)).sorted.toSeq == Seq("agg", "wire"))
    // batch 1: doc 3 = 10-token substring of the agg page, arriving from
    // "wire" → cross-source syndication, REJECTED; doc 4 = substring of
    // doc 2 from the SAME source → not this gate's job, accepted; doc 5
    // fresh → accepted
    val article = (5 to 14).map(i => s"tok$i").mkString(" ")
    val sameSrc = (6 to 15).map(i => s"wrd$i").mkString(" ")
    val freshDoc = (1 to 10).map(i => s"new$i").mkString(" ")
    CorpusStream.ingestBatch(spark, idx, out, writer = "w", syndGate = true)(
      Seq((3L, ts(2), article, "wire"), (4L, ts(3), sameSrc, "wire"),
        (5L, ts(4), freshDoc, "misc"))
        .toDF("doc_id", "ingest_ts", "text", "source"), 1L)
    def survivors() = spark.read.parquet(out).select("doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(survivors() == Seq(1L, 2L, 4L, 5L))
    // replay of batch 1 is a no-op (delta already committed)
    val nv = CorpusStream.indexVersions(spark, idx).size
    CorpusStream.ingestBatch(spark, idx, out, writer = "w", syndGate = true)(
      Seq((3L, ts(2), article, "wire"), (4L, ts(3), sameSrc, "wire"),
        (5L, ts(4), freshDoc, "misc"))
        .toDF("doc_id", "ingest_ts", "text", "source"), 1L)
    assert(survivors() == Seq(1L, 2L, 4L, 5L) &&
      CorpusStream.indexVersions(spark, idx).size == nv)
    // protocol parity with the batch query: d44 on the union of all five
    // docs surfaces exactly the (1,3) cross-source pair the gate acted on
    val all = Seq((1L, page, "agg"), (2L, wireDoc, "wire"),
      (3L, article, "wire"), (4L, sameSrc, "wire"), (5L, freshDoc, "misc"))
      .toDF("doc_id", "text", "source")
    val pairs = graft.llm.SketchOps.crossSourceContainment(all)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(pairs == Seq((1L, 3L)))
  }

  test("gated ingest releases its per-batch SQL caches (advice r12)") {
    // a long-running stream must not accumulate one cached candidate
    // frame per micro-batch: every gate's pins and snapshots, and the
    // batch's own, belong to the batch's StageCache scope — so after any
    // gated batch the SQL cache is empty and no persisted RDD is left
    import graft.streaming.CorpusStream
    // start from a clean slate: other tests in the shared session may
    // hold their own (legitimate) cached frames — the assertion below
    // is about what THIS ingest leaves behind
    spark.catalog.clearCache()
    val idx = java.nio.file.Files.createTempDirectory("graft_ccidx").toString
    val out = java.nio.file.Files.createTempDirectory("graft_ccout").toString
    def docs(rows: (Long, String, String)*) =
      rows.toSeq.toDF("doc_id", "text", "source")
    val page = (1 to 30).map(i => s"tok$i").mkString(" ")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    CorpusStream.ingestBatch(spark, idx, out, writer = "w",
      nearDup = true, spanGate = true, containGate = true, syndGate = true)(
      docs((1L, page, "agg"),
        (2L, (1 to 20).map(i => s"wrd$i").mkString(" "), "wire")), 0L)
    CorpusStream.ingestBatch(spark, idx, out, writer = "w",
      nearDup = true, spanGate = true, containGate = true, syndGate = true)(
      docs((3L, (5 to 14).map(i => s"tok$i").mkString(" "), "wire"),
        (4L, (1 to 12).map(i => s"new$i").mkString(" "), "misc")), 1L)
    assert(spark.sharedState.cacheManager.isEmpty,
      "gated ingestBatch left SQL-cached frames behind")
    // not only the SQL cache: the rejected-set and batch snapshots too,
    // without waiting for a GC to hand them to the ContextCleaner
    val left = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(left.isEmpty, s"gated ingestBatch left persisted RDDs $left behind")
  }

  test("d45 ingest handles single-source and all-gated-out corpora (advice r13)") {
    // a single-source table makes the replay's batch-0 slice empty; the
    // old path committed a zero-row store whose parquet dirs held no
    // data files, and batch 1's history probes died on schema inference.
    // Now batch 0 is skipped (batch 1 = first commit, no history to
    // syndicate from) and every quality-passing doc is accepted.
    import graft.streaming.CorpusStream
    def writeDocs(rows: Seq[(Long, String, String)]): String = {
      val dir = java.nio.file.Files.createTempDirectory("graft_d45deg").toString
      rows.toDF("doc_id", "text", "source")
        .withColumn("lang", org.apache.spark.sql.functions.lit("en"))
        .withColumn("n_chars",
          org.apache.spark.sql.functions.length($"text").cast("long"))
        .select("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      dir
    }
    val body1 = (1 to 30).map(i => s"tok$i").mkString(" ")
    val body2 = (1 to 30).map(i => s"wrd$i").mkString(" ")
    val single = writeDocs(Seq((1L, body1, "wire"), (2L, body2, "wire")))
    val got = CorpusStream.d45SyndicationIngest(spark, single)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(got == Seq(1L, 2L))
    // all-gated-out: every doc fails the quality gate (under MinTokens),
    // so both batches commit zero rows — the explicit-schema store read
    // returns empty instead of failing parquet schema inference
    val gatedOut = writeDocs(Seq((1L, "too short", "wire"),
      (2L, "also short", "misc")))
    assert(CorpusStream.d45SyndicationIngest(spark, gatedOut).count() == 0L)
  }

  test("json event parsing roundtrip (N1)") {
    val raw = Seq(
      """{"event_id":1,"ts":"2024-01-01T00:00:00","user_id":5,"event_type":"view","value":1.5}""")
      .toDF("value")
    val parsed = Realtime.parseJson(raw).collect()(0)
    assert(parsed.getLong(0) == 1L)
    assert(parsed.getString(3) == "view")
    assert(parsed.getDouble(4) == 1.5)
  }

  test("recent-100 ring buffer keeps the newest 100 per batch") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Ev]
    stream.addData(mkEvents ++ mkEvents.map(e => e.copy(event_id = e.event_id + 1000)))
    @volatile var captured: Array[(Long)] = Array.empty
    val q = Realtime.recentFeedWriter(stream.toDF()) { (batch, _) =>
      captured = batch.select("event_id").collect().map(_.getLong(0))
    }.trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.processAllAvailable()
    q.stop()
    assert(captured.length == 100)
    // newest == highest ts then event_id: the +1000 copies at late ts win
    assert(captured.head == 1099L)
  }
}
