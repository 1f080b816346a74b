package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.analytics.OlapQueries

/** q52's SCD-2 interval builder: a hand-checkable change log through the
  * exact production window algebra, plus the interval invariants every
  * type-2 dimension consumer relies on, asserted over the real table.
  */
class ScdSpec extends SparkSpec {

  private def ts(s: String) = Timestamp.valueOf(s + " 00:00:00")

  test("hand-built change log produces the expected type-2 intervals") {
    import spark.implicits._
    // cust 1: A, A (run collapses), B, A again (new version — value
    // RE-appearing must open a fresh interval, not merge with v1)
    // cust 2: single value -> one open row
    val changes = Seq(
      (1L, ts("1995-01-01"), "A"),
      (1L, ts("1995-02-01"), "A"),
      (1L, ts("1995-03-01"), "B"),
      (1L, ts("1995-04-01"), "A"),
      (2L, ts("1996-06-15"), "C")
    ).toDF("o_custkey", "o_orderdate", "prio")
    // sorted compare: the interval builder no longer carries a
    // presentation sort (r18 — the registered q52 orders on top; a sort
    // inside the builder cost a range-shuffle per incremental merge)
    val got = OlapQueries.scd2Intervals(changes)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getTimestamp(3), r.getTimestamp(4), r.getLong(5))).toSeq.sorted
    val high = Timestamp.valueOf(OlapQueries.ScdHighDate)
    val want = Seq(
      (1L, 1L, "A", ts("1995-01-01"), ts("1995-03-01"), 0L),
      (1L, 2L, "B", ts("1995-03-01"), ts("1995-04-01"), 0L),
      (1L, 3L, "A", ts("1995-04-01"), high, 1L),
      (2L, 1L, "C", ts("1996-06-15"), high, 1L))
    assert(got === want)
  }

  test("q52 intervals tile each customer's timeline with one open row") {
    val hist = OlapQueries.q52ScdHistory(spark, sfDir).cache()
    try {
      assert(hist.count() > 0)
      // exactly one is_current per customer, and it owns the high date
      val current = hist.groupBy(col("customer_id"))
        .agg(sum(col("is_current")).as("n_open"),
          max(col("valid_to")).as("max_to"))
      assert(current.filter(col("n_open") =!= 1L).isEmpty)
      assert(current
        .filter(col("max_to") =!= lit(OlapQueries.ScdHighDate).cast("timestamp"))
        .isEmpty)
      // versions are 1..n dense and intervals are contiguous: row k's
      // valid_to equals row k+1's valid_from (no gap, no overlap)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("customer_id")).orderBy(col("version_no"))
      val linked = hist
        .withColumn("next_from", lead(col("valid_from"), 1).over(w))
        .withColumn("next_ver", lead(col("version_no"), 1).over(w))
      assert(linked.filter(col("next_from").isNotNull &&
        (col("valid_to") =!= col("next_from") ||
          col("next_ver") =!= col("version_no") + 1L)).isEmpty)
      assert(linked.filter(col("version_no") === 1L).count() ===
        hist.select(col("customer_id")).distinct().count())
      // adjacent versions genuinely changed value (runs were collapsed)
      val chg = hist
        .withColumn("next_prio", lead(col("priority"), 1).over(w))
      assert(chg.filter(col("next_prio").isNotNull &&
        col("next_prio") === col("priority")).isEmpty)
    } finally hist.unpersist()
  }

  test("q54: every order lands in exactly ONE interval (the tiling proof, read side)") {
    val n = OlapQueries.q54AsOfDimension(spark, sfDir)
      .agg(sum(col("n_orders"))).head.getLong(0)
    val orders = Tables.orders(spark, sfDir).count()
    assert(n === orders,
      s"as-of join produced $n rows for $orders orders — intervals must tile")
    // and the interval-opening order matches its own interval's value:
    // each version's first day is the pinned change itself, so orders on
    // valid_from with the winning key must match
    val matched = OlapQueries.q54AsOfDimension(spark, sfDir)
      .agg(sum(col("n_matching"))).head.getLong(0)
    assert(matched > 0 && matched <= n)
  }

  test("q52b hand merge: absorption, close-and-insert, and new-key open") {
    import spark.implicits._
    def changes(rows: (Long, Timestamp, String)*) =
      rows.toDF("o_custkey", "o_orderdate", "prio")
    val hist = OlapQueries.scd2Intervals(changes(
      (1L, ts("1995-01-01"), "A"),
      (1L, ts("1995-03-01"), "B"),
      (2L, ts("1995-02-01"), "C")))
    val merged = OlapQueries.scd2Merge(hist, changes(
      (1L, ts("1995-05-01"), "B"), // same as cust 1's open value → absorbed
      (2L, ts("1995-06-01"), "D"), // differs → close open row, version 2
      (3L, ts("1995-07-01"), "E")  // brand-new key → version 1, open
    )).collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
      r.getTimestamp(3), r.getTimestamp(4), r.getLong(5))).toSeq.sorted
    val high = Timestamp.valueOf(OlapQueries.ScdHighDate)
    assert(merged === Seq(
      (1L, 1L, "A", ts("1995-01-01"), ts("1995-03-01"), 0L),
      (1L, 2L, "B", ts("1995-03-01"), high, 1L), // NOT split at 05-01
      (2L, 1L, "C", ts("1995-02-01"), ts("1995-06-01"), 0L),
      (2L, 2L, "D", ts("1995-06-01"), high, 1L),
      (3L, 1L, "E", ts("1995-07-01"), high, 1L)))
  }

  test("q52b fold parity: date-split incremental merges == from-scratch q52") {
    val inc = OlapQueries.q52bScdMerge(spark, sfDir)
    val full = OlapQueries.q52ScdHistory(spark, sfDir)
    assert(inc.exceptAll(full).isEmpty && full.exceptAll(inc).isEmpty)
    assert(inc.count() === full.count())
  }

  test("scd2Merge plan: custkey window exchange, no cartesian, bounded shuffle count") {
    val o = Tables.orders(spark, sfDir)
    def batchOf(y: Int) = o.filter(year(col("o_orderdate")) === y)
      .groupBy(col("o_custkey"), col("o_orderdate"))
      .agg(max_by(col("o_orderpriority"), col("o_orderkey")).as("prio"))
    val hist = OlapQueries.scd2Intervals(batchOf(1995)).localCheckpoint()
    val plan = OlapQueries.scd2Merge(hist, batchOf(1996))
      .queryExecution.executedPlan.toString
    assert(plan.contains("hashpartitioning(o_custkey"),
      "the rebuilt-interval window must partition on the key")
    assert(!plan.contains("CartesianProduct"))
    // shuffles: batch argmax, touched-key distinct, the window, and the
    // anti/semi key-set splits (AQE broadcasts these at runtime when the
    // batch key set is small) — anything beyond that is a regression
    val n = plan.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(n <= 7, s"merge plan grew to $n keyed exchanges:\n$plan")
  }

  private def lakeFileMap(lake: String): Map[String, (Long, Long)] = {
    import scala.jdk.CollectionConverters._
    val base = java.nio.file.Paths.get(lake)
    val walk = java.nio.file.Files.walk(base)
    try walk.iterator().asScala
      .filter(p => java.nio.file.Files.isRegularFile(p)
        && p.getFileName.toString.endsWith(".parquet"))
      .map(p => (base.relativize(p).toString,
        (java.nio.file.Files.size(p),
          java.nio.file.Files.getLastModifiedTime(p).toMillis)))
      .toMap
    finally walk.close()
  }

  test("DimSync.mergeScd2: touched-bucket blast radius, untouched files untouched, lake == from-scratch") {
    import graft.streaming.DimSync
    val lake = java.nio.file.Files
      .createTempDirectory("scd2_lake").toString + "/hist"
    val o = Tables.orders(spark, sfDir)
    val years = o.select(year(col("o_orderdate")).as("y")).distinct()
      .collect().map(_.getInt(0)).sorted
    def batchOf(y: Int) = o.filter(year(col("o_orderdate")) === y)
      .groupBy(col("o_custkey"), col("o_orderdate"))
      .agg(max_by(col("o_orderpriority"), col("o_orderkey")).as("prio"))
    val nBuckets = 8
    // seed with every year but the last
    years.init.foreach(y => DimSync.mergeScd2(spark, lake, batchOf(y), nBuckets))
    // final batch restricted to a FEW keys → bounded blast radius
    val fewKeys = batchOf(years.last).select(col("o_custkey"))
      .distinct().orderBy(col("o_custkey")).limit(2)
      .collect().map(_.getLong(0))
    assert(fewKeys.nonEmpty, "fixture must have orders in the last year")
    val lastBatch = batchOf(years.last).filter(col("o_custkey").isin(fewKeys: _*))
    val baseVer = DimSync.latestScd2Version(spark, lake).get
    val before = lakeFileMap(lake)
    val touched = DimSync.mergeScd2(spark, lake, lastBatch, nBuckets)
    val expectBuckets = lastBatch
      .select(pmod(col("o_custkey"), lit(nBuckets)).cast("int"))
      .distinct().collect().map(_.getInt(0)).toSeq.sorted
    assert(touched === expectBuckets && touched.size < nBuckets,
      s"blast radius $touched should be exactly the batch's buckets ($expectBuckets)")
    val after = lakeFileMap(lake)
    // versioned protocol: NOTHING pre-existing is rewritten — every file
    // present before the merge survives byte-identical (untouched buckets
    // carry by manifest reference), and every new file lives under the
    // new version's touched-bucket dirs (d49 discipline, strengthened)
    assert(before.forall { case (f, sig) => after.get(f).contains(sig) },
      "a pre-existing lake file was rewritten — versioned commits must only add")
    val newVer = DimSync.latestScd2Version(spark, lake).get
    assert(newVer === baseVer + 1)
    val newFiles = (after.keySet -- before.keySet).toSeq
    val allowed = touched.map(b => s"v$newVer/bucket=$b/").toSet
    assert(newFiles.nonEmpty && newFiles.forall(f => allowed.exists(f.startsWith)),
      s"new files must land only in v$newVer's touched buckets: $newFiles")
    // the lake equals the from-scratch build over the same ingested changes
    val ingested = o.filter(year(col("o_orderdate")) < years.last
        || col("o_custkey").isin(fewKeys: _*))
      .groupBy(col("o_custkey"), col("o_orderdate"))
      .agg(max_by(col("o_orderpriority"), col("o_orderkey")).as("prio"))
    val want = OlapQueries.scd2Intervals(ingested)
    val got = DimSync.scd2Snapshot(spark, lake)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    // and time travel resolves the PRE-merge state through its manifest
    val travel = DimSync.scd2SnapshotAt(spark, lake, baseVer)
    val wantBase = OlapQueries.scd2Intervals(
      o.filter(year(col("o_orderdate")) < years.last)
        .groupBy(col("o_custkey"), col("o_orderdate"))
        .agg(max_by(col("o_orderpriority"), col("o_orderkey")).as("prio")))
    assert(travel.exceptAll(wantBase).isEmpty && wantBase.exceptAll(travel).isEmpty)
  }

  test("mergeScd2 writes each bucket file in (customer_id, valid_from) order") {
    import scala.jdk.CollectionConverters._
    import graft.streaming.DimSync
    val lake = java.nio.file.Files
      .createTempDirectory("scd2_order").toString + "/hist"
    val batch = Tables.orders(spark, sfDir)
      .groupBy(col("o_custkey"), col("o_orderdate"))
      .agg(max_by(col("o_orderpriority"), col("o_orderkey")).as("prio"))
    // uncoalesced, each bucket gathers rows from several upstream tasks,
    // as it does at scale, so nothing but the merge's own sort orders them
    val coalesce = "spark.sql.adaptive.coalescePartitions.enabled"
    val prev = spark.conf.get(coalesce)
    spark.conf.set(coalesce, "false")
    try DimSync.mergeScd2(spark, lake, batch, nBuckets = 4)
    finally spark.conf.set(coalesce, prev)
    // the same merge must write the same bytes: row order inside a file
    // changes parquet's encoded size, so it is pinned
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get(lake)).iterator().asScala
      .map(_.toString).filter(_.endsWith(".parquet")).toSeq
    assert(files.size == 4)
    for (f <- files) {
      val keys = spark.read.parquet(f)
        .select(col("customer_id").cast("long"), col("valid_from").cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(keys.size > 1 && keys == keys.sorted, s"$f is not in (customer_id, valid_from) order")
    }
  }

  test("mergeScd2 crash atomicity: a dead writer's partial version never serves; the retry self-heals") {
    import spark.implicits._
    import graft.streaming.DimSync
    val lake = java.nio.file.Files
      .createTempDirectory("scd2_crash").toString + "/hist"
    def changes(rows: (Long, Timestamp, String)*) =
      rows.toDF("o_custkey", "o_orderdate", "prio")
    val b0 = changes((1L, ts("1995-01-01"), "A"), (2L, ts("1995-01-01"), "C"))
    val b1 = changes((1L, ts("1996-01-01"), "B"))
    DimSync.mergeScd2(spark, lake, b0, nBuckets = 4)
    val served = DimSync.scd2Snapshot(spark, lake).collect().toSeq.sortBy(_.toString)
    // simulate a PRE-STAGING-era writer that crashed mid-commit on v1:
    // parquet job done (_SUCCESS present) but the manifest — the commit
    // point — never landed, leaving a dead dir squatting the slot.
    val deadData = OlapQueries.scd2Intervals(b1)
      .withColumn("bucket", pmod(col("customer_id"), lit(4)).cast("int"))
    deadData.write.partitionBy("bucket").parquet(s"$lake/v1")
    assert(DimSync.latestScd2Version(spark, lake).contains(0),
      "a manifest-less version slot must stay invisible")
    val afterCrash = DimSync.scd2Snapshot(spark, lake).collect().toSeq.sortBy(_.toString)
    assert(afterCrash === served, "the previous version must keep serving after a crash")
    // a retry SELF-HEALS: under the staging protocol an incomplete slot
    // occupant is provably dead (a live writer commits by renaming a
    // complete dir in), so the retry sweeps it and takes the slot — no
    // manual fs delete (the r17 wedge)
    DimSync.mergeScd2(spark, lake, b1, nBuckets = 4)
    val got = DimSync.scd2Snapshot(spark, lake)
    val want = OlapQueries.scd2Intervals(b0.unionByName(b1))
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("mergeScd2 staging crash: abandoned staging dirs stay invisible, never collide, and vacuum sweeps only the dead ones") {
    import spark.implicits._
    import graft.streaming.DimSync
    val lake = java.nio.file.Files
      .createTempDirectory("scd2_stage").toString + "/hist"
    def changes(rows: (Long, Timestamp, String)*) =
      rows.toDF("o_custkey", "o_orderdate", "prio")
    DimSync.mergeScd2(spark, lake,
      changes((1L, ts("1995-01-01"), "A"), (2L, ts("1995-01-01"), "C")),
      nBuckets = 4)
    val served = DimSync.scd2Snapshot(spark, lake).collect().toSeq.sortBy(_.toString)
    // a writer that crashed BEFORE its commit rename leaves only a
    // hidden staging dir — the slot itself is never occupied
    val fs = new org.apache.hadoop.fs.Path(lake)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$lake/.staging_v1_deadbeef"))
    assert(DimSync.latestScd2Version(spark, lake).contains(0))
    assert(DimSync.scd2Snapshot(spark, lake).collect().toSeq.sortBy(_.toString) === served)
    // a fresh merge targets the same v1 slot but its own uuid staging —
    // no collision with the corpse, and the commit lands normally
    DimSync.mergeScd2(spark, lake, changes((1L, ts("1996-01-01"), "B")))
    assert(DimSync.latestScd2Version(spark, lake).contains(1))
    // the corpse's target slot is now at/below the committed head → its
    // rename could only be refused → provably dead → vacuum sweeps it;
    // an in-flight staging dir targeting the NEXT slot is spared
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$lake/.staging_v2_cafe1234"))
    val swept = DimSync.vacuumScd2(spark, lake, keep = 2)
    assert(swept.contains(".staging_v1_deadbeef"), s"dead staging not swept: $swept")
    assert(!swept.contains(".staging_v2_cafe1234"), s"in-flight staging swept: $swept")
  }

  test("mergeScd2 refuses a pre-versioned (legacy dynamic-overwrite) lake instead of orphaning it") {
    import spark.implicits._
    import graft.streaming.DimSync
    val lake = java.nio.file.Files
      .createTempDirectory("scd2_legacy").toString + "/hist"
    def changes(rows: (Long, Timestamp, String)*) =
      rows.toDF("o_custkey", "o_orderdate", "prio")
    // the r16 layout: bucket=* dirs at the lake root, no v*/ manifests
    OlapQueries.scd2Intervals(changes((1L, ts("1995-01-01"), "A")))
      .withColumn("bucket", pmod(col("customer_id"), lit(4)).cast("int"))
      .write.partitionBy("bucket").parquet(lake)
    val e = intercept[IllegalStateException] {
      DimSync.mergeScd2(spark, lake, changes((1L, ts("1996-01-01"), "B")))
    }
    assert(e.getMessage.contains("pre-versioned"),
      s"expected a loud legacy-layout refusal, got: ${e.getMessage}")
  }

  test("vacuumScd2 reader isolation: snapshots consumed before vacuum survive; a frame held across the sweep fails") {
    import spark.implicits._
    import graft.streaming.DimSync
    val lake = java.nio.file.Files
      .createTempDirectory("scd2_iso").toString + "/hist"
    def changes(rows: (Long, Timestamp, String)*) =
      rows.toDF("o_custkey", "o_orderdate", "prio")
    DimSync.mergeScd2(spark, lake,
      changes((1L, ts("1995-01-01"), "A")), nBuckets = 4, batchId = Some(0L))
    DimSync.mergeScd2(spark, lake,
      changes((1L, ts("1996-01-01"), "B")), batchId = Some(1L))
    // a reader that resolved v0 BEFORE the sweep holds concrete paths
    val held = DimSync.scd2SnapshotAt(spark, lake, 0)
    val consumed = held.collect() // consumed-before-vacuum: fine
    assert(consumed.nonEmpty)
    // keep=1 retains only v1; v0's only bucket was superseded → swept
    val swept = DimSync.vacuumScd2(spark, lake, keep = 1)
    assert(swept.contains("v0"), s"expected v0 swept, got $swept")
    // the isolation window the scaladoc documents: re-reading the held
    // frame now fails (its files are gone) — consume before vacuuming,
    // or size keep to the reader horizon
    intercept[Exception] { held.collect() }
    // and the retained head still serves
    assert(DimSync.scd2Snapshot(spark, lake).count() === 2L)
  }

  test("mergeScd2 idempotent replay by batchId, vacuumScd2 spares referenced + in-flight dirs") {
    import spark.implicits._
    import graft.streaming.DimSync
    val lake = java.nio.file.Files
      .createTempDirectory("scd2_vac").toString + "/hist"
    def changes(rows: (Long, Timestamp, String)*) =
      rows.toDF("o_custkey", "o_orderdate", "prio")
    // v0 seeds keys 1..4 (buckets 1,2,3,0); later merges touch only key 1
    DimSync.mergeScd2(spark, lake,
      changes((1L, ts("1995-01-01"), "A"), (2L, ts("1995-01-01"), "B"),
        (3L, ts("1995-01-01"), "C"), (4L, ts("1995-01-01"), "D")),
      nBuckets = 4, batchId = Some(0L))
    DimSync.mergeScd2(spark, lake,
      changes((1L, ts("1996-01-01"), "E")), batchId = Some(1L))
    // replay of the committed head is a no-op: no touched buckets, no
    // new version (the foreachBatch redelivery case)
    assert(DimSync.mergeScd2(spark, lake,
      changes((1L, ts("1996-01-01"), "E")), batchId = Some(1L)) === Nil)
    assert(DimSync.latestScd2Version(spark, lake).contains(1))
    DimSync.mergeScd2(spark, lake,
      changes((1L, ts("1997-01-01"), "F")), batchId = Some(2L))
    // plant an in-flight slot above the head
    val fs = new org.apache.hadoop.fs.Path(lake)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$lake/v3"))
    // keep=1 retains only v2's manifest — but v2 still SERVES buckets
    // from v0 (keys 2..4 never changed), so v0 must survive the sweep;
    // v1 is superseded (its only bucket was rewritten by v2) and goes;
    // the in-flight v3 is spared
    val swept = DimSync.vacuumScd2(spark, lake, keep = 1)
    assert(swept === Seq("v1"), s"expected only v1 swept, got $swept")
    val got = DimSync.scd2Snapshot(spark, lake)
    val want = OlapQueries.scd2Intervals(changes(
      (1L, ts("1995-01-01"), "A"), (2L, ts("1995-01-01"), "B"),
      (3L, ts("1995-01-01"), "C"), (4L, ts("1995-01-01"), "D"),
      (1L, ts("1996-01-01"), "E"), (1L, ts("1997-01-01"), "F")))
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("mergeScd2 append-only guard: a restatement into the past fails loudly") {
    import spark.implicits._
    import graft.streaming.DimSync
    val lake = java.nio.file.Files
      .createTempDirectory("scd2_guard").toString + "/hist"
    def changes(rows: (Long, Timestamp, String)*) =
      rows.toDF("o_custkey", "o_orderdate", "prio")
    DimSync.mergeScd2(spark, lake,
      changes((1L, ts("1995-01-01"), "A"), (1L, ts("1996-01-01"), "B")),
      nBuckets = 4)
    val past = changes((1L, ts("1995-06-01"), "X")) // inside closed history
    val e = intercept[IllegalArgumentException] {
      DimSync.mergeScd2(spark, lake, past)
    }
    assert(e.getMessage.contains("append-only"))
    // the failed merge committed nothing
    assert(DimSync.latestScd2Version(spark, lake).contains(0))
  }

  test("scd2Merge law boundary: a restated-past batch DIVERGES from the from-scratch rebuild") {
    import spark.implicits._
    def changes(rows: (Long, Timestamp, String)*) =
      rows.toDF("o_custkey", "o_orderdate", "prio")
    // collapsed history discards the Mar same-value repeat of A …
    val hist = OlapQueries.scd2Intervals(changes(
      (1L, ts("1995-01-01"), "A"), (1L, ts("1995-03-01"), "A")))
    // … so replaying it with a PAST interloper cannot re-split the run:
    val interloper = changes((1L, ts("1995-02-01"), "B"))
    val merged = OlapQueries.scd2Merge(hist, interloper)
    val scratch = OlapQueries.scd2Intervals(changes(
      (1L, ts("1995-01-01"), "A"), (1L, ts("1995-02-01"), "B"),
      (1L, ts("1995-03-01"), "A")))
    // from-scratch: A[Jan,Feb) B[Feb,Mar) A[Mar,∞) — 3 versions; the
    // merge can only see A[Jan,…) + B[Feb,…) — 2. This is WHY the
    // incremental contract is append-only per key (and why mergeScd2
    // now enforces it at runtime).
    assert(scratch.count() === 3L && merged.count() === 2L)
    assert(merged.exceptAll(scratch).count() > 0,
      "the boundary case must diverge — otherwise the guard is dead weight")
  }
}
