package graft

import java.nio.file.Files

import graft.pipeline.Runner
import graft.sources.{Sinks, Sources}

/** End-to-end layered pipeline + source/sink roundtrips (SURVEY.md §3.1
  * lifecycle and §2.1 scans/sinks). */
class PipelineSpec extends SparkSpec {

  /** Runs one Runner layer and checks that it leaves the session's
    * persistent RDDs as it found them: no later layer reads a layer's
    * pins, so it must release every one it took. */
  private def layer(name: String)(run: => Unit): Unit = {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    run
    val after = spark.sparkContext.getPersistentRDDs.keySet
    assert(after == before, s"$name: left ${after -- before}, dropped ${before -- after}")
  }

  test("bronze → silver → gold runner produces the full lake") {
    val out = Files.createTempDirectory("graft_lake").toString
    layer("bronze")(Runner.runBronze(spark, sfDir, out))
    layer("silver")(Runner.runSilver(spark, sfDir, out))
    layer("gold")(Runner.runGold(spark, sfDir, out))
    val events = spark.read.parquet(s"$out/bronze/events")
    assert(events.count() > 0)
    assert(!events.columns.contains("error"))
    val report = spark.read.json(s"$out/bronze/events_bad/report")
    val r = report.collect()(0)
    assert(r.getAs[Long]("total") ==
      Tables.events(spark, sfDir).count())
    assert(spark.read.parquet(s"$out/silver/line_dedup_map").count() > 0)
    assert(spark.read.parquet(s"$out/silver/customer_enriched").count() == 150)
    val kpi = spark.read.parquet(s"$out/gold/kpi_totals")
    assert(kpi.count() == 1 && kpi.columns.contains("_inserted_at"))
    assert(spark.read.parquet(s"$out/gold/rfm").count() == 150)

    // --- layer hand-off is REAL (round-8 verdict #2) ---
    // The loaders detect the layer layout: pointing them at silver/ must
    // scan silver's parquet, not the raw drop. Asserted by scan path in
    // the physical plan of a mart-shaped query built against silver.
    val silverPlan = graft.analytics.Queries
      .q03DailySales(spark, s"$out/silver")
      .queryExecution.executedPlan.toString
    assert(silverPlan.contains(s"$out/silver/orders"))
    assert(!silverPlan.contains(sfDir))
    // silver entity copies carry the same typed contract as the raw read
    assert(Tables.orders(spark, s"$out/silver").schema == Tables.ordersSchema)
    assert(Tables.events(spark, s"$out/silver").schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType)
    // ... and the same rows for the pass-through tables (every table but
    // lineitem validates clean on the driver data)
    assert(Tables.events(spark, s"$out/silver")
      .except(Tables.events(spark, sfDir)).isEmpty)
    assert(Tables.orders(spark, s"$out/silver")
      .except(Tables.orders(spark, sfDir)).isEmpty)
    // lineitem is NOT a pass-through: the driver data carries duplicate
    // (l_orderkey, l_linenumber) keys, which bronze quarantines. Row
    // conservation: valid ∪ quarantine == raw, and silver == the valid side.
    val rawLi = Tables.lineitem(spark, sfDir).count()
    val silverLi = Tables.lineitem(spark, s"$out/silver").count()
    val quarantinedLi = spark.read.option("header", "true")
      .csv(s"$out/bronze/lineitem_bad/quarantine").count()
    assert(silverLi + quarantinedLi == rawLi && quarantinedLi > 0)
    // gold marts aggregate the VALIDATED fact layer: mart == registered
    // query pointed at silver (not raw — raw still carries the duplicate
    // keys bronze exists to strip; the CORRECTNESS oracle board runs over
    // raw via Verify and is untouched by the pipeline)
    val goldKpi = spark.read.parquet(s"$out/gold/kpi_totals")
      .drop("_inserted_at", "_source")
    assert(goldKpi.collect().map(_.toSeq).toSeq ==
      graft.analytics.Queries.q02KpiTotals(spark, s"$out/silver")
        .collect().map(_.toSeq).toSeq)
    val goldScorecard = spark.read.parquet(s"$out/gold/supplier_scorecard")
      .drop("_inserted_at", "_source")
    val q09silver = graft.analytics.Queries.q09SupplierScorecard(spark, s"$out/silver")
    assert(goldScorecard.except(q09silver).isEmpty &&
      q09silver.except(goldScorecard).isEmpty)
  }

  test("corpus layer: prepared split, stats, chunks of survivors only") {
    val out = Files.createTempDirectory("graft_corpus").toString
    layer("corpus")(Runner.runCorpus(spark, sfDir, out))
    // --- corpus hand-off is REAL too: the survivors frame every later
    // corpus step shares scans the committed corpus/prepared — it neither
    // inlines the d18 plan nor pins it (cache / checkpoint) ---
    val survivorsQe = Runner.corpusSurvivors(spark, sfDir, out).queryExecution
    assert(survivorsQe.executedPlan.toString.contains(s"$out/corpus/prepared"))
    assert(survivorsQe.withCachedData.collect {
      case r: org.apache.spark.sql.execution.columnar.InMemoryRelation => r
      case r: org.apache.spark.sql.execution.LogicalRDD => r
    }.isEmpty, survivorsQe.withCachedData.treeString)
    assert(survivorsQe.analyzed.collect { case n => n }.size <= 12,
      survivorsQe.analyzed.treeString)
    val prepared = spark.read.parquet(s"$out/corpus/prepared")
    assert(prepared.count() > 0)
    assert(prepared.columns.toSet ==
      Set("doc_id", "source", "n_tokens", "bucket", "split"))
    val stats = spark.read.parquet(s"$out/corpus/stats")
    assert(stats.filter(org.apache.spark.sql.functions.col("lvl") === 3)
      .count() == 1) // grand-total row present
    // containment drops are a subset of the prepared survivors
    val dropped = spark.read.parquet(s"$out/corpus/containment_dropped")
      .select("doc_id")
    assert(dropped.except(prepared.select("doc_id")).isEmpty)
    // the span stage scores exactly the prepared ids MINUS the
    // containment-collapsed docs
    val spanClean = spark.read.parquet(s"$out/corpus/span_clean")
    val prepDocs = prepared.select("doc_id").except(dropped)
    assert(spanClean.select("doc_id").except(prepDocs).isEmpty)
    assert(prepDocs.except(spanClean.select("doc_id")).isEmpty)
    // chunks cover exactly the span-survivor docs (nonempty clean_text)
    val cleanDocs = spanClean
      .filter(org.apache.spark.sql.functions.length(
        org.apache.spark.sql.functions.col("clean_text")) > 0)
      .select("doc_id")
    val chunkDocs = spark.read.parquet(s"$out/corpus/chunks")
      .select("doc_id").distinct()
    assert(chunkDocs.except(cleanDocs).isEmpty)
    assert(cleanDocs.except(chunkDocs).isEmpty)
    // packed sequences: one row per span-survivor doc, offsets in budget
    val packed = spark.read.parquet(s"$out/corpus/packed")
    assert(packed.count() == cleanDocs.count())
    assert(packed.filter(
      org.apache.spark.sql.functions.col("offset_in_pack") >= 512L
        || org.apache.spark.sql.functions.col("offset_in_pack") < 0L)
      .count() == 0)

    // maintenance stage (round 15): OPTIMIZE over the live lake — the
    // clustered chunk table must (a) serve a doc shard reading FEWER
    // files than are on disk (directory pruning is real) and (b) be
    // value-identical to the unclustered table on that shard
    import org.apache.spark.sql.functions.col
    layer("maintenance")(Runner.runMaintenance(spark, out))
    val clustered = s"$out/corpus/chunks_clustered"
    val ids = spark.read.parquet(s"$out/corpus/chunks")
      .agg(org.apache.spark.sql.functions.min(col("doc_id")),
        org.apache.spark.sql.functions.max(col("doc_id"))).head()
    val (lo, hi) = (ids.getLong(0), ids.getLong(0)
      + (ids.getLong(1) - ids.getLong(0)) / 4) // first-quartile shard
    val shard = graft.sources.Layout.chunkShard(spark, clustered, lo, hi)
    shard.collect()
    val scan = shard.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.head
    assert(scan.partitionFilters.exists(_.toString.contains("doc_band")),
      s"no doc_band partition filter: ${scan.partitionFilters}")
    val readFiles = scan.metrics("numFiles").value
    val allFiles = spark.read.parquet(clustered).inputFiles.length
    assert(readFiles < allFiles,
      s"maintenance read $readFiles of $allFiles files — nothing pruned")
    // the maintenance stage also processed the takedown queue: the
    // victim (deterministically the min doc id) is purged from the
    // SERVING table only — the ingest table keeps it, so parity is
    // against (unclustered MINUS the takedown set)
    val victim = ids.getLong(0)
    assert(spark.read.parquet(clustered)
      .filter(col("doc_id") === victim).isEmpty,
      "takedown victim must be gone from the serving table")
    val want = spark.read.parquet(s"$out/corpus/chunks")
      .filter(col("doc_id").between(lo, hi) && col("doc_id") =!= victim)
    assert(shard.drop("doc_band").exceptAll(want).isEmpty
      && want.exceptAll(shard.drop("doc_band")).isEmpty,
      "clustered shard must be value-identical to the unclustered table minus the takedown")
  }

  test("CSV source roundtrip with pinned schema (S1/S4)") {
    val out = Files.createTempDirectory("graft_csv").toString
    val orders = Tables.orders(spark, sfDir)
    orders.coalesce(1).write.mode("overwrite")
      .option("header", "true").csv(s"$out/orders_csv")
    val back = Sources.csv(spark, s"$out/orders_csv", Tables.ordersSchema)
    assert(back.count() == orders.count())
    assert(back.schema == Tables.ordersSchema)
    // values survive the roundtrip
    val a = orders.orderBy("o_orderkey").collect().map(_.toSeq)
    val b = back.orderBy("o_orderkey").collect().map(_.toSeq)
    assert(a.sameElements(b))
  }

  test("bronze CSV read is all-strings with empty-as-null (S3)") {
    val out = Files.createTempDirectory("graft_csv3").toString
    import spark.implicits._
    Seq(("1", "x"), ("2", "")).toDF("id", "v")
      .coalesce(1).write.mode("overwrite").option("header", "true")
      .csv(s"$out/t")
    val back = Sources.csvBronze(spark, s"$out/t", Seq("id", "v"))
      .orderBy("id").collect()
    assert(back(0).getString(1) == "x")
    assert(back(1).isNullAt(1))
  }

  test("small-file compaction: per-leaf rewrite, content identical, partition col intact") {
    val out = Files.createTempDirectory("graft_compact").toString
    val ev = Tables.events(spark, sfDir)
      .withColumn("dt", org.apache.spark.sql.functions.to_date(
        org.apache.spark.sql.functions.col("ts")))
    // 16 tiny part files per dt partition — the streaming-writer shape
    ev.repartition(16).write.mode("overwrite").partitionBy("dt")
      .parquet(s"$out/events")
    val beforeDf = spark.read.parquet(s"$out/events")
    val beforeCols = beforeDf.columns.sorted.toSeq
    // eager capture: the lazy frame would re-list the SWAPPED files
    val beforeRows = beforeDf.select(beforeCols.map(
      org.apache.spark.sql.functions.col): _*)
      .collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq
    val stats = Sinks.compact(spark, s"$out/events") // 128 MB target → 1 file/leaf
    assert(stats.leaves > 1 && stats.compacted >= 1)
    assert(stats.filesAfter < stats.filesBefore)
    assert(stats.filesAfter == stats.leaves) // every leaf ends at exactly 1 file
    val after = spark.read.parquet(s"$out/events")
    assert(after.columns.sorted.toSeq == beforeCols) // dt partition col survives
    val afterRows = after.select(beforeCols.map(
      org.apache.spark.sql.functions.col): _*)
      .collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq
    assert(afterRows == beforeRows)
    // already-compact leaves are left alone (idempotent second pass)
    val again = Sinks.compact(spark, s"$out/events")
    assert(again.compacted == 0 && again.filesAfter == again.filesBefore)
  }

  test("small-file compaction: a crash at any swap step is finished by the next pass") {
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.functions.col
    val fs = new Path("/").getFileSystem(spark.sparkContext.hadoopConfiguration)
    // crash after step 0 (rewrite staged), 1 (leaf moved to the backup)
    // or 2 (rewrite installed, backup not yet dropped)
    for (step <- 0 to 2) {
      val t = s"${Files.createTempDirectory("graft_compact_crash")}/t"
      spark.range(1000).withColumn("p", col("id") % 2)
        .repartition(8).write.partitionBy("p").parquet(t)
      val leaf = new Path(s"$t/p=0")
      val (fresh, old) = Sinks.compactStaging(leaf)
      spark.read.parquet(leaf.toString).repartition(1).write.parquet(fresh.toString)
      if (step >= 1) assert(fs.rename(leaf, old))
      if (step >= 2) assert(fs.rename(fresh, leaf))
      def counts = spark.read.parquet(t).groupBy("p").count().collect()
        .map(r => r.get(0).toString -> r.getLong(1)).toMap
      // the staged copies never read as partitions, even mid-crash: the
      // one window left is step 1's, where p=0 is missing, not doubled
      assert(counts == (if (step == 1) Map("1" -> 500L)
        else Map("0" -> 500L, "1" -> 500L)), s"step $step")
      Sinks.compact(spark, t)
      assert(counts == Map("0" -> 500L, "1" -> 500L), s"step $step")
      assert(spark.read.parquet(t).select("id").distinct().count() == 1000,
        s"step $step")
      assert(!fs.exists(new Path(s"$t/_compact")), s"step $step")
    }
  }
}
