package perfbench

import java.io.{BufferedReader, File, InputStreamReader}
import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, concat_ws, lit}
import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.{Engine, SparkEntry, StageCache}
import graft.pipeline.Runner
import graft.streaming.{EventBus, KvSink}

/** Benchmark harness: one JVM per run, driving the program's public entry
  * points from outside.
  *
  *   lake    one full `Runner` pass (bronze → silver → gold → corpus →
  *           maintenance) over a generated raw drop into an empty lake
  *   stream  the five `EventBus` aggregations as `KvSink` update-mode
  *           queries on a processing-time trigger over a `FileBus`
  *           directory that `run.py` lands files into; `run.py` paces the
  *           run and ends it with `stop` on stdin
  *
  * Usage: `perfbench.Main lake work=<dir> data=<dir> [trace=0|1]` or
  * `perfbench.Main stream work=<dir> trigger_ms=<n> [trace=0|1]`.
  * A line `@@ready` on stdout marks the end of set-up; everything else the
  * python side needs is written to `<work>/result.json`.
  *
  * With `trace=1`, spans (workload → pass → layer → Spark job) and per-job
  * task metrics are recorded by listeners registered here, kept in memory
  * and written once at the end. Nothing inside the program is
  * instrumented, and an untraced run registers no listener at all.
  */
object Main {

  /** The program's own DuckDB oracle SQL the lake's expected row counts
    * are derived from. (The corpus outputs are held to counts recorded for
    * the fixed benchmark corpus instead: d18's oracle alone takes ~45 s.) */
  val OracleQueries: Seq[String] = Seq(
    "q02_kpi_totals", "q03_daily_sales", "q07_rfm", "q09_supplier_scorecard",
    "q18_dedup_map", "q19_product_imputation", "q20_customer_geo_enrich",
    "q21_latest_event_per_user", "q22b_validation_all", "q25_running_totals",
    "d19_corpus_stats")

  /** The five consumer aggregations, each with the single key column
    * `KvSink` upserts on. */
  val Aggregations: Seq[(String, DataFrame => DataFrame)] = Seq(
    "product_views" -> (env => EventBus.productViews(env)
      .withColumn("k", col("product_id").cast(StringType))),
    "category_views" -> (env => EventBus.categoryViews(env)
      .withColumn("k", col("product_category"))),
    "user_activity" -> (env => EventBus.userActivity(env)
      .withColumn("k", concat_ws("|", col("user_id"), col("event_type")))),
    "cart_totals" -> (env => EventBus.cartTotals(env).withColumn("k", lit("all"))),
    "order_category_revenue" -> (env => EventBus.orderCategoryRevenue(env)
      .withColumn("k", col("product_category"))))

  def main(args: Array[String]): Unit = {
    val phase = args(0)
    val opt = args.drop(1).map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val work = opt("work")
    val cores = Runtime.getRuntime.availableProcessors()
    val heap = new HeapWatch
    val spark = Engine.session(s"local[$cores]", cores)
    val tracer = new Tracer(opt.getOrElse("trace", "0") == "1", spark)
    val out = mutable.LinkedHashMap[String, Any](
      "phase" -> phase, "cores" -> cores,
      "heap_cap_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "spark_version" -> spark.version)
    try {
      phase match {
        case "lake" => lake(spark, tracer, heap, opt("data"), work, out)
        case "stream" => stream(spark, heap, work, opt("trigger_ms").toLong, tracer.on, out)
      }
      out("spans") = tracer.spanRecords
      out("jobs") = tracer.jobRecords
    } finally {
      heap.stop()
      new ObjectMapper().registerModule(DefaultScalaModule)
        .writeValue(new File(work, "result.json"), out)
      spark.stop()
    }
  }

  def ready(): Unit = { println("@@ready"); System.out.flush() }

  /** The old generation's after-GC peak so far, then the heap still
    * reachable after full collections. Read as soon as the measured work
    * ends, before the harness's own checking allocates anything. */
  def heapFigures(heap: HeapWatch, out: mutable.Map[String, Any]): Unit = {
    out("peak_heap_mb") = heap.peakMb
    (1 to 2).foreach { _ => System.gc(); Thread.sleep(100) }
    out("live_heap_mb") = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def pinnedMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0

  /** Path → size of every data file under `dirs`. */
  def files(dirs: Seq[File]): Map[String, Long] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk) else Seq(f)
    dirs.filter(_.exists).flatMap(walk)
      .filter(f => !f.getName.startsWith(".") && !f.getName.startsWith("_"))
      .map(f => f.getPath -> f.length).toMap
  }

  // --- lake_build ----------------------------------------------------------

  def lake(spark: SparkSession, tracer: Tracer, heap: HeapWatch, data: String,
      work: String, out: mutable.Map[String, Any]): Unit = {
    val lakeDir = new File(work, "lake").getAbsolutePath
    val warehouse = new File(spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"))
    StageCache.clear(spark)
    // the first job pays the scheduler's and the session's lazy set-up
    spark.range(1000).selectExpr("sum(id)").collect()
    ready()
    val layers: Seq[(String, () => Unit)] = Seq(
      "bronze" -> (() => Runner.runBronze(spark, data, lakeDir)),
      "silver" -> (() => Runner.runSilver(spark, data, lakeDir)),
      "gold" -> (() => Runner.runGold(spark, data, lakeDir)),
      "corpus" -> (() => Runner.runCorpus(spark, data, lakeDir)),
      "maintenance" -> (() => Runner.runMaintenance(spark, lakeDir)))
    val layerOut = mutable.LinkedHashMap[String, Any]()
    val t0 = System.nanoTime()
    out("pass_start_ms") = System.currentTimeMillis()
    tracer.span("run", "lake_pass") {
      for ((name, run) <- layers) {
        val lakeFiles = () => files(Seq(new File(lakeDir), warehouse))
        val before = if (tracer.on) lakeFiles() else Map.empty[String, Long]
        val lt = System.nanoTime()
        tracer.span("layer", name)(run())
        val rec = mutable.LinkedHashMap[String, Any]("wall_s" -> (System.nanoTime() - lt) / 1e9)
        if (tracer.on) {
          val written = lakeFiles().filter { case (p, n) => !before.get(p).contains(n) }
          rec("output_files") = written.size
          rec("output_mb") = written.values.sum / 1048576.0
          rec("pinned_mb") = pinnedMb(spark)
        }
        layerOut(name) = rec
      }
    }
    out("lake_s") = (System.nanoTime() - t0) / 1e9
    out("pass_end_ms") = System.currentTimeMillis()
    out("layers") = layerOut
    heapFigures(heap, out)
    // after the pass, so the pass pays its own object initialisation
    val oracle = SparkEntry.oracleSql
    out("oracle_sql") = OracleQueries.map(n => n -> oracle(n)).toMap
  }

  // --- event_stream --------------------------------------------------------

  def stream(spark: SparkSession, heap: HeapWatch, work: String, triggerMs: Long,
      traced: Boolean, out: mutable.Map[String, Any]): Unit = {
    val bus = new File(work, "bus").getAbsolutePath
    val progress = java.util.Collections.synchronizedList(
      new java.util.ArrayList[Map[String, Any]]())
    if (traced) spark.streams.addListener(new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val st = p.stateOperators.headOption
        progress.add(Map("query" -> p.name, "id" -> p.id.toString, "batch" -> p.batchId,
          "start_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
          "trigger_ms" -> Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L),
          "durations_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue },
          "input_rows" -> p.numInputRows,
          "state_rows" -> st.map(_.numRowsTotal).getOrElse(0L),
          "state_bytes" -> st.map(_.memoryUsedBytes).getOrElse(0L)))
      }
    })
    val env = EventBus.ingest(EventBus.FileBus(bus).load(spark))
    val sinks = Aggregations.map { case (name, _) => name -> new KvSink("k") }
    val queries = Aggregations.zip(sinks).map { case ((name, agg), (_, sink)) =>
      sink.writer(agg(env)).queryName(name)
        .trigger(Trigger.ProcessingTime(triggerMs))
        .option("checkpointLocation", new File(work, s"ckpt/$name").getPath)
        .start()
    }
    ready()
    // run.py lands the files and watches the commit logs; it sends `stop`
    // once every query has committed every file
    val in = new BufferedReader(new InputStreamReader(System.in))
    while (Option(in.readLine()).exists(_.trim != "stop")) ()
    // the queries are idle but their state stores and sinks are still live
    heapFigures(heap, out)
    queries.foreach(_.stop())
    // the same aggregations in batch over every landed event
    val wire = StructType(Seq(StructField("topic", StringType), StructField("value", StringType)))
    val batchEnv = EventBus.ingest(spark.read.schema(wire).json(bus)).cache()
    def rows(df: DataFrame): Seq[Map[String, Any]] =
      df.drop("k").collect().toSeq.map(r => r.schema.fieldNames.map(f => f -> r.getAs[Any](f)).toMap)
    out("snapshot") = sinks.map { case (n, s) => n -> s.snapshot.values.toSeq.map(_ - "k") }.toMap
    out("batch") = Aggregations.map { case (n, agg) => n -> rows(agg(batchEnv)) }.toMap
    out("progress") = progress.asScala.toSeq
    batchEnv.unpersist()
  }
}

/** Peak old-generation occupancy right after a garbage collection, from the
  * collectors' own notifications. */
final class HeapWatch {
  import com.sun.management.GarbageCollectionNotificationInfo
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import javax.management.openmbean.CompositeData

  private def isOld(pool: String) = pool.contains("Old") || pool.contains("Tenured")
  @volatile private var peak = 0L
  private val listener = new NotificationListener {
    def handleNotification(n: Notification, hb: Any): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if isOld(pool) => u.getUsed }
          .foreach(u => if (u > peak) peak = u)
      }
  }
  private val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
    .collect { case b: NotificationEmitter => b }
  beans.foreach(_.addNotificationListener(listener, null, null))

  /** A run that never collected reports the current occupancy. */
  def peakMb: Double = (if (peak > 0) peak else
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(p => isOld(p.getName))
      .map(_.getUsage.getUsed).sum) / 1048576.0

  def stop(): Unit = beans.foreach(b => scala.util.Try(b.removeNotificationListener(listener)))
}

private final case class SpanRec(id: Int, parent: Int, kind: String, name: String,
    startMs: Double, endMs: Double)

/** Spans and per-job task metrics, recorded only when `on`. All times are
  * epoch milliseconds. */
final class Tracer(val on: Boolean, spark: SparkSession) {
  private final class Job(val id: Int, val span: Int, val start: Long,
      val props: java.util.Properties) {
    var end = 0L; var tasks = 0L; var cpuNs = 0L; var gcMs = 0L
    var shWrite = 0L; var shRead = 0L; var spill = 0L; var outBytes = 0L
  }

  private val SpanProp = "perfbench.span"
  private val sc = spark.sparkContext
  private val epoch0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()
  private def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6
  private val spans = mutable.ArrayBuffer[SpanRec]()
  private val stack = new ThreadLocal[List[Int]] { override def initialValue = List(1) }
  private var lastId = 1 // span 1 is the workload itself
  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Job]()

  if (on) sc.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      val span = p.flatMap(x => Option(x.getProperty(SpanProp))).map(_.toInt).getOrElse(1)
      val j = new Job(e.jobId, span, e.time, p.orNull)
      jobs.put(e.jobId, j)
      e.stageIds.foreach(s => stageJob.put(s, j))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      Option(stageJob.get(e.stageId)).filter(_ => m != null).foreach { j => j.synchronized {
        j.tasks += 1; j.cpuNs += m.executorCpuTime; j.gcMs += m.jvmGCTime
        j.shWrite += m.shuffleWriteMetrics.bytesWritten
        j.shRead += m.shuffleReadMetrics.totalBytesRead
        j.spill += m.diskBytesSpilled; j.outBytes += m.outputMetrics.bytesWritten
      }}
    }
  })

  /** Run `f` inside a span. Spark jobs it submits, from this thread or from
    * threads it starts, carry the span id as a local property. */
  def span[T](kind: String, name: String)(f: => T): T =
    if (!on) f else {
      val id = synchronized { lastId += 1; lastId }
      val parent = stack.get.head
      val prevProp = sc.getLocalProperty(SpanProp)
      stack.set(id :: stack.get)
      sc.setLocalProperty(SpanProp, id.toString)
      val t0 = nowMs
      try f finally {
        val t1 = nowMs
        stack.set(stack.get.tail)
        sc.setLocalProperty(SpanProp, prevProp)
        synchronized { spans += SpanRec(id, parent, kind, name, t0, t1) }
      }
    }

  def spanRecords: Seq[Map[String, Any]] = if (!on) Nil else
    (SpanRec(1, 0, "workload", "workload", epoch0.toDouble, nowMs) +: synchronized(spans.toSeq)).map { s =>
      Map[String, Any]("id" -> s.id, "parent" -> s.parent, "kind" -> s.kind,
        "name" -> s.name, "start_ms" -> s.startMs, "end_ms" -> s.endMs)
    }

  def jobRecords: Seq[Map[String, Any]] =
    jobs.values.asScala.toSeq.sortBy(_.id).map { j =>
      def prop(k: String) = Option(j.props).flatMap(x => Option(x.getProperty(k))).getOrElse("")
      Map[String, Any]("id" -> j.id, "span" -> j.span,
        "start_ms" -> j.start.toDouble, "end_ms" -> j.end.toDouble,
        "stream_query" -> prop("sql.streaming.queryId"),
        "stream_batch" -> prop("streaming.sql.batchId"),
        "tasks" -> j.tasks, "exec_cpu_s" -> j.cpuNs / 1e9, "gc_s" -> j.gcMs / 1e3,
        "shuffle_write_mb" -> j.shWrite / 1048576.0, "shuffle_read_mb" -> j.shRead / 1048576.0,
        "spill_mb" -> j.spill / 1048576.0, "output_mb" -> j.outBytes / 1048576.0)
    }
}
