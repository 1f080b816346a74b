package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Engine, StageCache, Tables}
import graft.analytics.{EventQueries, Queries, StagingQueries}
import graft.operators.Validate
import graft.sources.Sinks

/** Layered ETL orchestration (SURVEY.md §3.1: the reference's Airflow
  * chain ods → staging → target → analytics, `etl_dag.py:47`), re-expressed
  * as one Spark driver program per layer with parquet hand-off:
  *
  *   bronze/  validated raw copies + quarantine + ingestion report
  *            (reference ingestion + ODS layers) — reads the RAW drop
  *   silver/  cleaned & conformed — reads ONLY bronze/: the conformed
  *            entity copies (the STG hand-off tables) plus the staging
  *            side-outputs (dedup maps, enrichment, imputation,
  *            latest-wins dedup; reference STG layer)
  *   gold/    audited marts with load-audit columns + the analytics
  *            rollups (reference DWH + dashboard queries) — reads ONLY
  *            silver/ (facts via the one-time bucketed warehouse built
  *            FROM silver)
  *
  * Each layer reads only the previous layer's parquet — the same data
  * dependency DAG as the reference (`etl_dag.py:47` ods → staging →
  * target), without a scheduler in the loop (any orchestrator can call
  * the three entry points in order; PipelineSpec asserts the hand-off by
  * scan path). Layer copies are the medallion trade-off made on purpose:
  * each layer is a re-runnable contract, so facts are persisted three
  * times (validated / conformed / bucketed-for-joins). For the same
  * reason each layer runs in a StageCache scope: the stages and pins it
  * builds have no reader once its outputs are committed, so they are
  * released when it returns, not held for the session.
  *
  * The layering is OBSERVABLE on the driver data: lineitem carries
  * duplicate (l_orderkey, l_linenumber) keys that bronze quarantines, so
  * the gold marts aggregate 4,599 validated lines (at sf0.001), not the
  * raw 6,000 — the marts measure what survived validation, which is the
  * pipeline's entire point (the pre-round-9 runner read raw everywhere
  * and silently re-included rows bronze had quarantined). The registered
  * CORRECTNESS queries keep reading the raw drop via Verify; the oracle
  * board is independent of the lake.
  */
object Runner {

  /** Run independent sink jobs concurrently from the driver. Spark's
    * scheduler accepts jobs from many threads; with 32 local slots a
    * single sequential write rarely fills the cluster (a 5-row `region`
    * write costs a whole job round-trip of scheduling latency), so
    * overlapping independent jobs is the idiomatic way to keep the
    * executors busy — same on a 1000-executor cluster, where sequential
    * per-table jobs leave the cluster idle during each job's tail.
    *
    * Pool size is capped at 8, not jobs.size: each driver thread holds a
    * full job's task set in flight, so the useful concurrency is
    * slots / typical-tasks-per-stage, and 8 concurrent jobs already
    * saturate 32 local slots (and a real cluster's scheduler throughput)
    * without stacking dozens of pending task sets in the DAGScheduler.
    *
    * Failure is fail-fast AND clean: every job in one `inParallel` call
    * runs under a shared Spark job group; the first failure cancels the
    * group (stopping sibling jobs mid-write instead of letting them keep
    * writing sinks in the background), awaits the pool so no task is
    * still running when the caller sees the exception, then rethrows.
    *
    * Each job runs in the caller's StageCache scope, so what it pins is
    * released with the caller's. */
  private[graft] def inParallel(spark: SparkSession, jobs: Seq[() => Unit]): Unit = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val sc = spark.sparkContext
    val group = s"graft-inparallel-${java.util.UUID.randomUUID()}"
    val scope = StageCache.currentScope
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(jobs.size, 8))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try Await.result(Future.sequence(jobs.map(j => Future {
      // job groups are thread-local on SparkContext: tag each pool thread
      sc.setJobGroup(group, group, interruptOnCancel = true)
      try StageCache.within(scope)(j()) finally sc.clearJobGroup()
    })), Duration.Inf)
    catch { case e: Throwable =>
      sc.cancelJobGroup(group)
      // shutdownNow, not shutdown: shutdown() still RUNS queued tasks, and a
      // task that starts after the cancel re-tags its thread via setJobGroup
      // and writes its sink to completion — breaking fail-fast the moment a
      // 9th job queues behind the 8-thread cap. shutdownNow drains the queue
      // and interrupts (aligned with interruptOnCancel=true above).
      pool.shutdownNow()
      if (!pool.awaitTermination(60, java.util.concurrent.TimeUnit.SECONDS)) {
        sc.cancelJobGroup(group) // a straggler survived the interrupt: re-cancel
        System.err.println(s"[runner] WARN: job group $group did not terminate within 60s of cancellation")
      }
      throw e
    }
    finally pool.shutdown()
  }

  /** Every table passes the per-table validation split (reference
    * `ingestion_script.py:59-179` validates all eight datasets): valid rows
    * land under `bronze/<t>`, rule violations + key duplicates under
    * `bronze/<t>_bad` with the reason column, plus a per-table count
    * report. Pinned-schema reads are the cast contract (reference ODS COPY
    * INTO casts). Tables are independent of each other, so the eight
    * validate-and-write pipelines run as concurrent driver jobs. */
  def runBronze(spark: SparkSession, sfDir: String, outDir: String): Unit =
    StageCache.scoped(spark)(inParallel(spark, Seq(
      "events" -> Tables.events(spark, sfDir),
      "orders" -> Tables.orders(spark, sfDir),
      "lineitem" -> Tables.lineitem(spark, sfDir),
      "customer" -> Tables.customer(spark, sfDir),
      "supplier" -> Tables.supplier(spark, sfDir),
      "nation" -> Tables.nation(spark, sfDir),
      "region" -> Tables.region(spark, sfDir),
      "part" -> Tables.part(spark, sfDir),
    ).map { case (name, df) => () => StageCache.scoped(spark) {
      // three sinks below — tag each row once, not three times
      val tagged = StageCache.pin(Validate.split(
        df.toDF(df.columns.map(_.toLowerCase): _*), Validate.rulesFor(name))) // P2
      Sinks.parquet(Validate.valid(tagged), s"$outDir/bronze/$name")
      Sinks.quarantine(tagged, s"$outDir/bronze/${name}_bad")
      Sinks.report(tagged, s"$outDir/bronze/${name}_bad")
    }}))

  /** Silver reads ONLY `bronze/` (the `sfDir` parameter is kept for call
    * symmetry but unused — bronze must have run into `outDir` first).
    * Two kinds of output:
    *   - conformed entity copies (`silver/<t>`): the validated tables
    *     re-persisted as the STG hand-off contract gold reads from. On
    *     clean feeds conformance is the identity (the rules already ran
    *     in bronze's validated split), so this is a pass-through copy —
    *     the price of layer isolation; a deployment that can't afford
    *     the copy at 100 TB points gold at bronze directly (the loaders
    *     accept any layer dir).
    *   - staging side-outputs (dedup map, imputed parts, geo enrichment,
    *     latest-event), the reference STG transforms with new schemas. */
  def runSilver(spark: SparkSession, sfDir: String, outDir: String): Unit = StageCache.scoped(spark) {
    val bronze = s"$outDir/bronze"
    // pinned-schema reads, same loaders as everything else (they detect
    // the layer layout); the copy re-asserts the typed contract rather
    // than trusting whatever bytes bronze left behind
    val entities: Seq[(String, DataFrame)] = Seq(
      "orders" -> Tables.orders(spark, bronze),
      "lineitem" -> Tables.lineitem(spark, bronze),
      "customer" -> Tables.customer(spark, bronze),
      "supplier" -> Tables.supplier(spark, bronze),
      "nation" -> Tables.nation(spark, bronze),
      "region" -> Tables.region(spark, bronze),
      "part" -> Tables.part(spark, bronze),
      "events" -> Tables.events(spark, bronze))
    inParallel(spark,
      entities.map { case (t, df) => () =>
        Sinks.parquet(df, s"$outDir/silver/$t") } ++
      Seq(
        () => Sinks.parquet(StagingQueries.q18DedupMap(spark, bronze), s"$outDir/silver/line_dedup_map"),
        () => Sinks.parquet(StagingQueries.q19ProductImputation(spark, bronze), s"$outDir/silver/part_conformed"),
        () => Sinks.parquet(StagingQueries.q20CustomerGeoEnrich(spark, bronze), s"$outDir/silver/customer_enriched"),
        () => Sinks.parquet(StagingQueries.q21LatestEventPerUser(spark, bronze), s"$outDir/silver/user_last_event"),
      ))
  }

  /** Gold: audited marts, read ONLY from `silver/` (silver must have run
    * into `outDir` first; `sfDir` is kept for call symmetry but unused).
    * Audit columns mirror the reference DWH layer (`target_layer.py:52-53`
    * insertion/modification dates). The marts run concurrently; q02/q03/q07
    * share their StageCache stages, which the layer's scope releases once
    * the marts are written.
    *
    * The two big facts first land ONCE as orderkey-bucketed managed tables
    * built FROM the silver copies (the 100 TB layout: co-located +
    * co-sorted on the join key), and every mart query is pointed at the
    * silver layer dir (the loaders detect the layout). The q09-shape
    * supplier scorecard is built from the bucketed tables — its
    * orders⋈lineitem fact-fact join plans with ZERO shuffle exchanges
    * (asserted in BucketingSpec). On a cluster, every later fact-fact
    * query amortizes the same one-time bucketed write. */
  def runGold(spark: SparkSession, sfDir: String, outDir: String): Unit = StageCache.scoped(spark) {
    val silver = s"$outDir/silver"
    def audited(df: DataFrame): DataFrame =
      df.withColumn("_inserted_at", current_timestamp())
        .withColumn("_source", lit("graft-etl"))
    inParallel(spark, Seq(
      () => Sinks.bucketed(Tables.orders(spark, silver), "graft_wh_orders", 32, Seq("o_orderkey")),
      () => Sinks.bucketed(Tables.lineitem(spark, silver), "graft_wh_lineitem", 32, Seq("l_orderkey")),
    ))
    val scorecardJoin = Queries.q09Joined(spark.table("graft_wh_orders"),
      spark.table("graft_wh_lineitem"), Tables.supplier(spark, silver))
    inParallel(spark, Seq(
      () => Sinks.parquet(audited(Queries.q02KpiTotals(spark, silver)), s"$outDir/gold/kpi_totals", tinyOutput = true),
      () => Sinks.parquet(audited(Queries.q03DailySales(spark, silver)), s"$outDir/gold/daily_sales", tinyOutput = true),
      () => Sinks.parquet(audited(Queries.q07Rfm(spark, silver)), s"$outDir/gold/rfm"),
      () => Sinks.parquet(audited(EventQueries.q25RunningTotals(spark, silver)), s"$outDir/gold/event_totals", tinyOutput = true),
      () => Sinks.parquet(audited(Queries.q09Rollup(scorecardJoin)), s"$outDir/gold/supplier_scorecard"),
    ))
  }

  /** Corpus layer (round-3; span stage round-10): the training-data
    * workload as a first-class lake output next to the warehouse marts —
    *   corpus/prepared   d18 full pipeline (gates → dedup tiers →
    *                     decontamination → split)
    *   corpus/stats      d19 dataset-card rollup
    *   corpus/containment_dropped
    *                     containment collapse (round-10 sixth wave;
    *                     round-11 cross-source tier): docs CONTAINED in
    *                     a surviving superset drop before the span
    *                     stage — the doc-in-doc class that resemblance
    *                     tiers in d18 structurally miss. Same-source
    *                     quotes/reposts via d41's exact tier
    *                     (source-blocked by measured necessity);
    *                     cross-source SYNDICATION via d44's
    *                     sketch-candidate protocol. One drop policy,
    *                     pair-bounded, broadcast.
    *   corpus/span_clean d35 span-level dedup of the containment
    *                     survivors — the Lee-et-al ordering: DOC-level
    *                     tiers first (d18), whole-doc containment
    *                     collapse next (d41 — spans it removes wholesale
    *                     never reach span accounting), then every
    *                     k-token span repeated anywhere in the surviving
    *                     corpus is excised; per-doc dup stats +
    *                     reconstructed clean_text
    *   corpus/chunks     context-window chunks of the SPAN-CLEANED text
    *                     — the survivor semi-join runs BEFORE chunkRows
    *                     and the span excision before chunking, so
    *                     rejected/duplicate/boilerplate text never pays
    *                     the tokenize+explode stage at all
    */
  def runCorpus(spark: SparkSession, sfDir: String, outDir: String): Unit = StageCache.scoped(spark) {
    // A corpus output a later step reads is read back from its committed
    // parquet: a carried d18 plan would be re-analyzed (and kept alive) at
    // each of the survivors' several uses. Stats and prepared are
    // independent, so they write concurrently.
    inParallel(spark, Seq(
      () => Sinks.parquet(graft.llm.CorpusPrep.d18CorpusPrepFull(spark, sfDir),
        s"$outDir/corpus/prepared"),
      () => Sinks.parquet(graft.llm.QualityOps.d19CorpusStats(spark, sfDir),
        s"$outDir/corpus/stats", tinyOutput = true),
    ))
    val survivors = corpusSurvivors(spark, sfDir, outDir)
    // containment collapse: contained docs drop before span accounting
    // (their every span would otherwise count as duplicated — excising
    // the whole doc is both cheaper and the curation-correct call).
    // Two tiers, one drop policy: the same-source EXACT tier (d41's
    // source-blocked intersection join — the measured scale trade-off)
    // unioned with the cross-source SKETCH-candidate tier (d44 — how
    // syndicated republications across sources actually get caught).
    val dropped = graft.llm.TextOps.containmentDropSet(survivors)
      .unionByName(graft.llm.SketchOps.syndicationDropSet(survivors))
      .distinct()
    Sinks.parquet(dropped, s"$outDir/corpus/containment_dropped",
      tinyOutput = true)
    val kept = survivors.join(
      broadcast(spark.read.parquet(s"$outDir/corpus/containment_dropped")),
      Seq("doc_id"), "left_anti")
    // span-level dedup over the surviving corpus
    Sinks.parquet(graft.llm.TextOps.spanDedup(kept, graft.llm.TextOps.SpanK),
      s"$outDir/corpus/span_clean")
    // chunks and packed sequences derive from the committed span-CLEANED text
    val cleaned = spark.read.parquet(s"$outDir/corpus/span_clean")
      .filter(length(col("clean_text")) > 0)
      .join(survivors.select(col("doc_id"), col("source")), Seq("doc_id"))
      .select(col("doc_id"), col("source"), col("clean_text").as("text"))
    inParallel(spark, Seq(
      () => Sinks.parquet(graft.llm.QualityOps.chunkRows(cleaned),
        s"$outDir/corpus/chunks"),
      () => Sinks.parquet(graft.llm.QualityOps.packRows(cleaned),
        s"$outDir/corpus/packed"),
    ))
  }

  /** The source documents that survived d18, selected by the ids in the
    * committed `corpus/prepared` — a parquet scan, not the d18 plan. */
  private[graft] def corpusSurvivors(spark: SparkSession, sfDir: String,
      outDir: String): DataFrame =
    Tables.documents(spark, sfDir).join(
      spark.read.parquet(s"$outDir/corpus/prepared").select(col("doc_id")),
      Seq("doc_id"), "left_semi")

  /** Maintenance layer (round 15): scheduled jobs over the LIVE lake,
    * run after the layers that populate it — currently the d47 OPTIMIZE
    * tier rewriting corpus/chunks range-clustered by doc band so
    * doc-sharded training reads prune directories instead of scanning
    * the whole chunk table (graft.sources.Layout.optimizeChunks; the
    * pruning + value-parity contract is PipelineSpec's assertion, the
    * physical win is LAYOUT_CENSUS). At 100 TB this is the nightly
    * OPTIMIZE job; here it is the fourth Runner stage so its wall is on
    * the same board as the layers it serves. */
  def runMaintenance(spark: SparkSession, outDir: String): Unit = StageCache.scoped(spark) {
    val out = graft.sources.Layout.optimizeChunks(spark, outDir)
    println(s"[runner] maintenance: corpus/chunks clustered at $out")
    // Takedown queue (round 15 cont.): copy-on-write purge of one doc's
    // chunks from the SERVING table — d49's seam running on the live
    // lake, after OPTIMIZE so the request lands on the band-partitioned
    // layout and the rewrite touches only that doc's band directory.
    // The fixture's "queue" is deterministic: the minimum doc id (1-row
    // aggregate; a deployment reads its takedown table here).
    val victim = spark.read.parquet(out)
      .agg(org.apache.spark.sql.functions.min(
        org.apache.spark.sql.functions.col("doc_id"))).head.getLong(0)
    val hit = graft.sources.Layout.purgeLake(spark, out,
      org.apache.spark.sql.functions.col("doc_id") === victim, "doc_band")
    println(s"[runner] maintenance: takedown purged doc $victim " +
      s"from band dir(s) ${hit.mkString(",")} of " +
      s"${spark.read.parquet(out).inputFiles.length} serving files")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.001"
    val outDir = if (args.length > 1) args(1) else "/tmp/graft_lake"
    val spark = Engine.session(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")}]")
    def timed(label: String)(f: => Unit): Unit = {
      val t0 = System.nanoTime()
      f
      println(f"[runner] $label: ${(System.nanoTime() - t0) / 1e9}%.1f s")
    }
    timed("bronze")(runBronze(spark, sfDir, outDir))
    timed("silver")(runSilver(spark, sfDir, outDir))
    timed("gold")(runGold(spark, sfDir, outDir))
    timed("corpus")(runCorpus(spark, sfDir, outDir))
    timed("maintenance")(runMaintenance(spark, outDir))
    println(s"[runner] lake written to $outDir")
    spark.stop()
  }
}
