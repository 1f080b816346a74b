package graft

import org.apache.spark.sql.functions._

import graft.sources.Sinks

/** The bucketing scale story, proven on the physical plan: two tables
  * bucketed on the join key sort-merge-join with ZERO shuffle exchanges
  * (SURVEY.md §2.3 scale note — the orders⋈lineitem join is the one
  * genuine shuffle in the batch tier; bucketing removes it for repeated
  * joins). */
class BucketingSpec extends SparkSpec {

  test("bucketed co-located join plans without any shuffle exchange") {
    val o = Tables.orders(spark, sfDir)
    val l = Tables.lineitem(spark, sfDir)
    Sinks.bucketed(o, "b_orders", 4, Seq("o_orderkey"))
    Sinks.bucketed(l, "b_lineitem", 4, Seq("l_orderkey"))
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
    try {
      val joined = spark.table("b_orders").join(spark.table("b_lineitem"),
        col("o_orderkey") === col("l_orderkey"))
      // Spark 4 wraps even exchange-free plans in an AdaptiveSparkPlanExec
      // LEAF, so collect() over executedPlan sees nothing — assert on the
      // rendered tree instead (it prints the full current plan)
      val planStr = joined.queryExecution.executedPlan.toString
      assert(planStr.contains("SortMergeJoin"), planStr.take(800))
      assert(planStr.contains("Bucketed: true"), planStr.take(800))
      assert(!planStr.contains("Exchange"),
        s"expected exchange-free co-located join:\n${planStr.take(1500)}")
      // and it still computes the right thing
      assert(joined.count() ==
        o.join(l, col("o_orderkey") === col("l_orderkey")).count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_lineitem")
    }
  }

  test("gold scorecard from the bucketed warehouse matches the raw-scan q09") {
    val o = Tables.orders(spark, sfDir)
    val l = Tables.lineitem(spark, sfDir)
    val s = Tables.supplier(spark, sfDir)
    Sinks.bucketed(o, "b_wh_orders", 4, Seq("o_orderkey"))
    Sinks.bucketed(l, "b_wh_lineitem", 4, Seq("l_orderkey"))
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // the Runner.runGold plan proof: pure fact-fact join (broadcast off
      // so a tiny-SF broadcast join can't satisfy the check vacuously, and
      // the exchange-free plan stays non-adaptive => collect() sees it)
      val factJoin = spark.table("b_wh_orders")
        .join(spark.table("b_wh_lineitem"), col("o_orderkey") === col("l_orderkey"))
      val planStr = factJoin.queryExecution.executedPlan.toString
      assert(planStr.contains("SortMergeJoin"), planStr.take(800))
      assert(planStr.contains("Bucketed: true"), planStr.take(800))
      assert(!planStr.contains("Exchange"),
        s"bucketed fact-fact join must plan without exchanges:\n${planStr.take(1500)}")
      // and the mart built from the bucketed warehouse is byte-identical
      // to the raw-scan q09 (same rollup, different physical layout)
      val bucketedMart = graft.analytics.Queries.q09Rollup(
        graft.analytics.Queries.q09Joined(
          spark.table("b_wh_orders"), spark.table("b_wh_lineitem"), s))
      val rawMart = graft.analytics.Queries.q09SupplierScorecard(spark, sfDir)
      assert(bucketedMart.collect().toSeq == rawMart.collect().toSeq)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS b_wh_orders")
      spark.sql("DROP TABLE IF EXISTS b_wh_lineitem")
    }
  }

  test("registered q09b builds its warehouse once, joins bucketed, matches q09") {
    def countExch(plan: String) =
      "Exchange".r.findAllMatchIn(plan).size
    // broadcast forced off: at this tiny SF the planner would broadcast
    // the orders side of BOTH variants, hiding the difference bucketing
    // exists to prove (the supplier dim keeps its explicit hint)
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val q09b = graft.analytics.Queries.q09bScorecardBucketed(spark, sfDir)
      val q09 = graft.analytics.Queries.q09SupplierScorecard(spark, sfDir)
      val bPlan = q09b.queryExecution.executedPlan.toString
      val rPlan = q09.queryExecution.executedPlan.toString
      // both fact scans come from the bucketed managed tables and feed the
      // join co-located: the full plan keeps only the rollup-sized
      // exchanges (suppkey aggregate + final sort), so it must plan
      // strictly fewer exchanges than the raw-scan q09
      assert(bPlan.contains("SortMergeJoin") && bPlan.contains("Bucketed: true"),
        bPlan.take(800))
      assert(countExch(bPlan) < countExch(rPlan),
        s"bucketed plan should shed the fact-fact join shuffles:\n${bPlan.take(1500)}")
      // same result, and the second call reuses the tables (no rebuild):
      // outside a scope the warehouse is a session stage
      assert(q09b.collect().toSeq == q09.collect().toSeq)
      assert(graft.analytics.Queries.q09bScorecardBucketed(spark, sfDir)
        .collect().toSeq == q09.collect().toSeq)
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
  }

  /** q09b's table for `fact` over `dir`. */
  private def warehouse(dir: String, fact: String): String = "graft_wh_" + fact + "_" +
    Integer.toHexString(java.util.Objects.hashCode(new java.io.File(dir).getAbsolutePath))

  private def numBuckets(table: String): Int = spark.sessionState.catalog
    .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(table)).bucketSpec.get.numBuckets

  test("q09b's two facts share one bucket count derived from the session and the data") {
    graft.analytics.Queries.q09bScorecardBucketed(spark, sfDir)
    val facts = Seq(Tables.orders(spark, sfDir), Tables.lineitem(spark, sfDir))
    // tiny facts: the shuffle partitions, which Engine sets to the cores
    assert(Sinks.bucketCount(facts) == spark.conf.get("spark.sql.shuffle.partitions").toInt)
    assert(numBuckets(warehouse(sfDir, "orders")) == Sinks.bucketCount(facts))
    assert(numBuckets(warehouse(sfDir, "lineitem")) == Sinks.bucketCount(facts))
    // a fact larger than the split size asks for more: its size over the split
    val prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "4096")
    try {
      val largest = facts.map(_.queryExecution.optimizedPlan.stats.sizeInBytes).max
      assert(largest > 4096 * 4)
      assert(Sinks.bucketCount(facts) == ((largest + 4095) / 4096).toInt)
    } finally spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
  }

  test("a bucketed table holds one data file per non-empty bucket") {
    val o = Tables.orders(spark, sfDir).repartition(3) // three write tasks
    try {
      Sinks.bucketed(o, "b_files", 4, Seq("o_orderkey"))
      val loc = new java.io.File(spark.sessionState.catalog.defaultTablePath(
        org.apache.spark.sql.catalyst.TableIdentifier("b_files")))
      val ids = loc.list().toSeq.filter(_.startsWith("part-"))
        .map(f => "_(\\d{5})\\.".r.findFirstMatchIn(f).get.group(1).toInt)
      // the bucket id is pmod(murmur3(key), n): Spark's `hash`
      val nonEmpty = o.select(pmod(hash(col("o_orderkey")), lit(4))).distinct().count()
      assert(ids.sorted == ids.distinct.sorted && ids.size == nonEmpty, ids)
      assert(spark.table("b_files").count() == o.count())
    } finally spark.sql("DROP TABLE IF EXISTS b_files")
  }

  test("a second gold pass over changed silver in one session rebuilds the warehouse") {
    val out = java.nio.file.Files.createTempDirectory("graft_gold").toString
    val silver = s"$out/silver"
    def land(lineitem: org.apache.spark.sql.DataFrame): Unit = {
      Seq("orders" -> Tables.orders _, "customer" -> Tables.customer _,
          "supplier" -> Tables.supplier _, "nation" -> Tables.nation _,
          "region" -> Tables.region _, "part" -> Tables.part _, "events" -> Tables.events _)
        .foreach { case (t, load) => Sinks.parquet(load(spark, sfDir), s"$silver/$t") }
      Sinks.parquet(lineitem, s"$silver/lineitem")
    }
    def scorecard() = spark.read.parquet(s"$out/gold/supplier_scorecard")
      .drop("_inserted_at", "_source").collect().toSet
    val lineitem = Tables.lineitem(spark, sfDir)
    land(lineitem)
    graft.pipeline.Runner.runGold(spark, sfDir, out)
    val first = scorecard()
    land(lineitem.filter(col("l_orderkey") % 2 === 0))
    graft.pipeline.Runner.runGold(spark, sfDir, out)
    val q09 = graft.analytics.Queries.q09SupplierScorecard(spark, silver).collect().toSet
    assert(scorecard() == q09 && q09 != first)
    assert(spark.table(warehouse(silver, "lineitem")).count() ==
      Tables.lineitem(spark, silver).count())
  }
}
