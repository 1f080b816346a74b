package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Sinks

/** CDC apply: keep a keyed dimension snapshot in sync with a stream of
  * upserts (the streaming twin of `StagingQueries.q44DimensionMerge` —
  * SCD-1 semantics: incoming values win, unmatched incoming keys insert,
  * untouched rows survive).
  *
  * Storage is VERSIONED parquet: each merge reads the highest complete
  * version `v<N>/` and writes `v<N+1>/` — never overwriting what it
  * reads. A version is "complete" only when Spark's `_SUCCESS` marker
  * exists, so a crash mid-write leaves the previous version current
  * (re-applying an upsert batch is a no-op by construction — SCD-1 sets
  * values, it does not accumulate). The next version is STAGED under a
  * writer-unique hidden dir (`.staging_v<N+1>_<uuid>`) and renamed into
  * its slot only once fully written, so a crashed writer never occupies
  * a version slot — it leaves only staging junk, invisible to readers
  * and swept by [[vacuum]]. A `v<k>` dir WITHOUT `_SUCCESS` is therefore
  * provably dead under this protocol (the rename source always contains
  * the marker), and a retry sweeps it in place of the old manual-delete
  * wedge; a `v<k>` dir WITH the marker is a racing writer's committed
  * version — the rename is refused and the merge fails loudly (retry
  * re-reads the new snapshot).
  * This is the optimistic-commit protocol of a lake table format (Delta/
  * Iceberg) reduced to its parquet essentials; swapping the version
  * listing for a real table catalog changes nothing upstream.
  *
  * Scale: each merge is one full-outer sort-merge join on the key — the
  * q44 plan; with the snapshot written bucketed on the key, only the
  * day's CDC batch shuffles. Old versions are retained for time travel /
  * concurrent readers and pruned by any retention sweep.
  */
object DimSync {

  private val VersionRe = "v(\\d+)".r
  private val StagingRe = "\\.staging_v(\\d+)_.*".r

  /** The commit marker of [[merge]]'s snapshots: Spark's own. */
  private val Success = "_SUCCESS"

  /** Version-slot commit, shared by [[merge]] (marker `_SUCCESS`) and
    * [[mergeScd2]] (marker `_MANIFEST`): `write` fills a writer-unique
    * staging dir for version `n` (hidden, so invisible to both the
    * version listing and Spark's file-source listing; uuid-suffixed so
    * concurrent writers never collide on it) and must leave `marker` in
    * it last; one rename then moves it into `v<n>`.
    * An occupying slot that holds `marker` is a racing writer's
    * committed version — refuse loudly (optimistic concurrency; the
    * caller's retry re-reads the new snapshot). An occupying slot
    * WITHOUT it is provably dead: no writer under the staging protocol
    * ever puts an incomplete dir in a version slot (the rename source is
    * complete before the rename), so it can only be a crash artifact of
    * the pre-staging protocol — sweep it and take the slot, healing the
    * wedge that used to need a manual delete. A crash anywhere leaves
    * the previous version serving and at most staging junk, which
    * [[vacuum]]/[[vacuumScd2]] sweep once a later version commits. */
  private[graft] def commitVersion(fs: FileSystem, root: Path, n: Int,
      marker: String)(write: Path => Unit): Unit = {
    val staging = new Path(root,
      s".staging_v${n}_${java.util.UUID.randomUUID().toString.take(8)}")
    write(staging)
    val dst = new Path(root, s"v$n")
    if (fs.exists(dst)) {
      if (fs.exists(new Path(dst, marker))) {
        fs.delete(staging, true)
        throw new IllegalStateException(s"version ${dst.getName} was " +
          "committed concurrently; retry the merge against the new snapshot")
      }
      fs.delete(dst, true) // dead pre-staging slot — self-heal
    }
    require(fs.rename(staging, dst),
      s"could not commit ${dst.getName}: rename failed (staging left at $staging)")
  }

  /** Version slots under `path` as (n, dir, complete), ascending; a
    * slot is complete once it holds `marker`. */
  private def slots(spark: SparkSession, path: String,
      marker: String): (FileSystem, Seq[(Int, Path, Boolean)]) = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    (fs, if (!fs.exists(p)) Nil else fs.listStatus(p).toSeq
      .filter(_.isDirectory)
      .flatMap(s => s.getPath.getName match {
        case VersionRe(n) =>
          Some((n.toInt, s.getPath, fs.exists(new Path(s.getPath, marker))))
        case _ => None
      }).sortBy(_._1))
  }

  private def latestComplete(spark: SparkSession, path: String,
      marker: String): Option[Int] =
    slots(spark, path, marker)._2.collect { case (n, _, true) => n }.lastOption

  /** `v<version>` under `path`, failing loudly on an incomplete or
    * absent slot rather than serving a dead writer's partial directory. */
  private def completeVersion(spark: SparkSession, path: String,
      version: Int, marker: String): Path = {
    val v = new Path(path, s"v$version")
    require(v.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .exists(new Path(v, marker)),
      s"version v$version at $path is absent or incomplete")
    v
  }

  /** Staging dirs that can no longer commit: their target slot sits at
    * or below the latest complete version, so their rename would land on
    * a committed dir and be refused — provably dead regardless of
    * whether the writer still runs. A staging dir targeting a slot ABOVE
    * the latest complete version may be in flight and is spared. */
  private def deadStaging(fs: FileSystem, root: Path,
      latestComplete: Int): Seq[Path] =
    fs.listStatus(root).toSeq.filter(_.isDirectory).flatMap(s =>
      s.getPath.getName match {
        case StagingRe(n) if n.toInt <= latestComplete => Some(s.getPath)
        case _ => None
      })

  /** Highest version directory with a `_SUCCESS` marker, if any. */
  def latestVersion(spark: SparkSession, dimPath: String): Option[Int] =
    latestComplete(spark, dimPath, Success)

  /** The snapshot frame at a known version (empty-with-batch-schema when
    * `version` is None, so merge #0 is a pure insert). */
  private def readVersion(spark: SparkSession, dimPath: String,
      version: Option[Int], like: DataFrame): DataFrame = version match {
    case Some(n) => spark.read.parquet(s"$dimPath/v$n")
    case None => spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], like.schema)
  }

  /** The current snapshot frame. */
  def snapshot(spark: SparkSession, dimPath: String, like: DataFrame): DataFrame =
    readVersion(spark, dimPath, latestVersion(spark, dimPath), like)

  /** Time-travel read: the snapshot as of a specific COMPLETE version.
    * Fails loudly on an incomplete or absent slot rather than serving a
    * dead writer's partial directory. */
  def snapshotAt(spark: SparkSession, dimPath: String, version: Int): DataFrame =
    spark.read.parquet(completeVersion(spark, dimPath, version, Success).toString)

  /** VACUUM: the retention sweep the merge path's contract defers to.
    * Deletes (a) COMPLETE versions older than the newest `keep` (time
    * travel shrinks to the retained window) and (b) incomplete version
    * dirs BELOW the latest complete version — those writers are provably
    * dead, something committed past them. An incomplete dir ABOVE the
    * latest complete version is left alone: that slot may be an
    * in-flight writer, and sweeping it would turn the optimistic-commit
    * protocol into lost work (a real lake ages those out by wall-clock;
    * version order is the crash-proof signal available here). Staging
    * dirs whose target slot is at or below the latest complete version
    * are swept too — their commit rename can only be refused, so they
    * are dead no matter what their writer is doing.
    * Returns the swept directory names. Bounded driver work throughout:
    * one directory listing, never data reads.
    *
    * Reader isolation: a DataFrame resolved from [[snapshot]]/
    * [[snapshotAt]] holds concrete file paths, not the version listing —
    * a vacuum that sweeps that version out from under a still-running
    * reader fails the reader's scan (the classic lake-format isolation
    * window). Contract: consume snapshot frames before vacuuming, or
    * size `keep` to at least the longest reader horizon. */
  def vacuum(spark: SparkSession, dimPath: String, keep: Int): Seq[String] =
    vacuumSlots(spark, dimPath, keep, Success)(_.toSet)

  /** The sweep behind [[vacuum]] and [[vacuumScd2]]: given the newest
    * `keep` complete versions, `live` names every complete version that
    * must survive; other complete versions, incomplete slots below the
    * latest complete version and dead staging dirs go. */
  private def vacuumSlots(spark: SparkSession, path: String, keep: Int,
      marker: String)(live: Seq[Int] => Set[Int]): Seq[String] = {
    require(keep >= 1, "must keep at least the current version")
    val (fs, all) = slots(spark, path, marker)
    val complete = all.collect { case (n, _, true) => n }
    if (complete.isEmpty) return Nil
    val latest = complete.last
    val alive = live(complete.takeRight(keep))
    val sweep = all.filter { case (n, _, ok) =>
      if (ok) !alive(n) else n < latest
    }.map(_._2) ++ deadStaging(fs, new Path(path), latest)
    sweep.foreach(fs.delete(_, true))
    sweep.map(_.getName)
  }

  /** Apply one upsert batch: full-outer merge on `key`, batch values win
    * column-wise, result lands as the next version. Usable directly as a
    * `foreachBatch` body.
    *
    * Contract notes:
    *   - COLUMN-WISE upsert, not whole-row SCD-1: a NULL in an incoming
    *     value column inherits the current snapshot value rather than
    *     overwriting it with NULL (partial-upsert / CDC-patch semantics,
    *     matching q44's oracle). A source that must null a column out
    *     needs a sentinel or a whole-row variant — this one cannot
    *     express "set to NULL".
    *   - A batch with several upserts for the same key is collapsed to
    *     one row per key BEFORE the join (a fan-out there would plant
    *     duplicate snapshot rows that persist into every later version).
    *     `batchOrder` picks the survivor: highest ordering wins
    *     (last-wins for a CDC offset/timestamp column). When omitted,
    *     the survivor is still deterministic — highest packed value-
    *     struct wins — but semantically arbitrary; pass the batch's real
    *     ordering column whenever it has one.
    *   - Optimistic concurrency: the base version is listed ONCE and the
    *     output version derived from it; the result is STAGED under a
    *     writer-unique hidden dir and renamed into v(base+1) only once
    *     complete. A writer that raced us owns the slot with a COMPLETE
    *     version and this commit fails loudly instead of silently
    *     discarding the concurrent commit — retry the merge on that
    *     failure (re-reads the new snapshot). An INCOMPLETE occupant is
    *     a provably-dead pre-staging crash artifact and is swept in
    *     place (self-heal).
    */
  def merge(spark: SparkSession, dimPath: String, batch: DataFrame,
      key: String, batchOrder: Seq[Column] = Nil): Unit = {
    val base = latestVersion(spark, dimPath)
    val cur = readVersion(spark, dimPath, base, batch)
    val valueCols = batch.columns.filter(_ != key).toSeq
    val order = if (batchOrder.nonEmpty) batchOrder.map(_.desc)
      else Seq(struct(valueCols.map(col): _*).desc)
    val one = graft.operators.Dedup.keepFirst(batch, Seq(key), order)
    val merged = cur.as("s").join(one.as("b"), Seq(key), "full_outer")
      .select(col(key) +: valueCols.map(c =>
        coalesce(col(s"b.$c"), col(s"s.$c")).as(c)): _*)
    val root = new Path(dimPath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    commitVersion(fs, root, base.getOrElse(-1) + 1, Success)(staging =>
      merged.write.mode(SaveMode.ErrorIfExists).parquet(staging.toString))
  }

  // -------------------------------------------------------------------
  // SCD-2 lake: versioned + manifested
  // -------------------------------------------------------------------

  /** Per-version manifest of the SCD-2 lake: where each bucket's CURRENT
    * data lives (`buckets(b) = version whose v<k>/bucket=b dir serves b`).
    * `batchId` is the CDC batch that produced the version — the
    * replay-idempotency token for streaming ingest. */
  private[graft] case class Scd2Manifest(
      nBuckets: Int, batchId: Option[Long], buckets: Map[Int, Int])

  private val Scd2ManifestFile = "_MANIFEST"

  /** Highest SCD-2 lake version whose manifest exists. The manifest is
    * written LAST (after the parquet job's own `_SUCCESS`), through
    * `Sinks.writeSmallFile`, so its presence is the commit point: a
    * crash anywhere earlier leaves the previous version serving. */
  def latestScd2Version(spark: SparkSession, lakePath: String): Option[Int] =
    latestComplete(spark, lakePath, Scd2ManifestFile)

  private def readScd2Manifest(spark: SparkSession, lakePath: String,
      version: Int): Scd2Manifest = {
    val p = new Path(s"$lakePath/v$version/$Scd2ManifestFile")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val text = Sinks.readSmallFile(fs, p)
      .getOrElse(throw new java.io.FileNotFoundException(p.toString))
    val kv = text.linesIterator.map(_.trim).filter(_.nonEmpty)
      .map { l => val Array(k, v) = l.split("=", 2); (k, v) }.toMap
    Scd2Manifest(
      kv("nBuckets").toInt,
      kv.get("batchId").map(_.toLong),
      kv.collect { case (k, v) if k.startsWith("bucket.") =>
        k.stripPrefix("bucket.").toInt -> v.toInt })
  }

  private def writeScd2Manifest(fs: FileSystem, dir: Path,
      m: Scd2Manifest): Unit = {
    val lines = Seq(s"nBuckets=${m.nBuckets}") ++
      m.batchId.map(id => s"batchId=$id") ++
      m.buckets.toSeq.sortBy(_._1).map { case (b, v) => s"bucket.$b=$v" }
    Sinks.writeSmallFile(fs, new Path(dir, Scd2ManifestFile),
      lines.mkString("", "\n", "\n"))
  }

  /** [[autoBuckets]]'s upper clamp (the one place the clamp and its
    * rationale live). It lands a 1e9-key domain at ~15k keys per bucket;
    * a larger key domain should pass nBuckets explicitly so per-merge
    * write amplification keeps converging to the batch-key fraction.
    * LAYOUT_CENSUS `scd2_merge` anchors the extrapolation with measured
    * amplification rows up to the clamp itself. */
  private val Scd2MaxBuckets = 65536

  /** Default bucket sizing when a lake is created without an explicit
    * count: ~1k keys per bucket from the FIRST batch's key cardinality,
    * power of two, clamped to [16, [[Scd2MaxBuckets]]]. Rationale
    * (LAYOUT_CENSUS `scd2_merge`): a K-key change batch touches
    * ≈ n(1−(1−1/n)^K) buckets, so per-merge write amplification
    * converges to the batch-key fraction only once n ≫ typical K — size
    * n from the KEY DOMAIN, not the batch; a first full-dimension load
    * is the best available proxy. At 100 TB (~1e9 keys) this rule lands
    * at the clamp. */
  private def autoBuckets(batch: DataFrame): Int = {
    val keys = batch.select(col("o_custkey")).distinct().count()
    var n = 16
    while (n < keys / 1024 && n < Scd2MaxBuckets) n *= 2
    n
  }

  /** SCD-2 lake merge — the TYPE-2 twin of [[merge]] and the persistence
    * seam of `OlapQueries.scd2Merge`: fold one change batch
    * (`o_custkey`, `o_orderdate`, `prio`) into an interval table stored
    * as a key-BUCKETED (`bucket = pmod(customer_id, n)`), VERSIONED
    * parquet lake. The same optimistic-commit protocol as [[merge]],
    * extended with a per-version bucket MANIFEST so untouched buckets
    * are carried BY REFERENCE instead of rewritten:
    *
    *   - each merge writes ONLY the touched buckets, STAGED under a
    *     writer-unique hidden dir together with the version's
    *     `_MANIFEST`, then renamed into `v<N+1>` as the single commit
    *     point — a crash anywhere before the rename leaves v<N> serving
    *     and only vacuum-sweepable staging junk behind (no dead version
    *     slot to wedge a retry). A racing writer that committed the
    *     slot first makes the rename fail loudly instead of silently
    *     losing a commit (retry re-reads); an INCOMPLETE slot occupant
    *     (pre-staging crash artifact) is swept in place — self-heal;
    *   - `v<N+1>/_MANIFEST` maps every bucket to the version that
    *     serves it: touched → N+1, untouched → carried forward verbatim;
    *   - readers ([[scd2Snapshot]]/[[scd2SnapshotAt]]) resolve through
    *     the manifest; old versions remain for time travel until
    *     [[vacuumScd2]] sweeps the unreferenced ones.
    *
    * Blast-radius discipline (d49): the batch's key set decides the
    * touched buckets; ONLY those directories are read (manifest-routed
    * pruning — untouched keys are genuinely unread) and only they are
    * written. Untouched bucket files are never opened, let alone
    * rewritten — asserted in ScdSpec the way LayoutSpec pins d49.
    *
    * Same append-only-per-key contract as `scd2Merge`, ENFORCED at
    * runtime on every merge (one small extra job over the already-pruned
    * history): a batch change that does not postdate its key's open
    * `valid_from` fails the merge loudly instead of silently planting
    * wrong history (a restatement into the past needs the from-scratch
    * rebuild — q52's path).
    *
    * `nBuckets = 0` auto-sizes a NEW lake from the first batch's key
    * cardinality ([[autoBuckets]]); an existing lake always keeps its
    * manifest's count (a non-zero argument must agree). `batchId` makes
    * replays idempotent: a batch whose id equals the committed head's is
    * skipped. That covers exactly the foreachBatch redelivery case —
    * only the LAST batch is ever redelivered after a stream restart; a
    * replay of an OLDER batch is not recognized and fails loudly via the
    * append-only guard rather than corrupting history.
    *
    * Returns the touched bucket ids (the measured blast radius); empty
    * for an empty batch or an idempotent replay. */
  def mergeScd2(spark: SparkSession, lakePath: String, batch: DataFrame,
      nBuckets: Int = 0, batchId: Option[Long] = None): Seq[Int] = {
    import graft.analytics.OlapQueries
    val base = latestScd2Version(spark, lakePath)
    if (base.isEmpty) {
      // refuse to silently orphan a pre-versioned lake (the r16 dynamic-
      // overwrite format kept bucket=* dirs at the lake root): starting
      // a fresh v0 next to them would serve none of the legacy history
      val p = new Path(lakePath)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(p) && fs.listStatus(p).exists(s =>
          s.isDirectory && s.getPath.getName.startsWith("bucket=")))
        throw new IllegalStateException(s"lake at $lakePath holds a " +
          "pre-versioned (dynamic-overwrite era) SCD-2 layout; rebuild it " +
          "into the versioned format (read the legacy bucket=* dirs, " +
          "mergeScd2 them into a fresh path as v0) before merging")
    }
    val baseMan = base.map(readScd2Manifest(spark, lakePath, _))
    if (batchId.isDefined && baseMan.exists(_.batchId == batchId))
      return Nil // replay of the committed head — already applied
    val n = baseMan.map(_.nBuckets).getOrElse(
      if (nBuckets > 0) nBuckets else autoBuckets(batch))
    require(nBuckets == 0 || baseMan.forall(_.nBuckets == nBuckets),
      s"lake at $lakePath is bucketed ${baseMan.get.nBuckets}-way; " +
        s"got nBuckets=$nBuckets (re-bucketing needs a rebuild)")
    // bounded collect: distinct bucket ids of the batch's keys (<= n)
    val touched = batch
      .select(pmod(col("o_custkey"), lit(n)).cast("int").as("b"))
      .distinct().collect().map(_.getInt(0)).toSeq.sorted
    if (touched.isEmpty) return Nil
    val histPaths = baseMan.toSeq.flatMap(m =>
      touched.flatMap(b => m.buckets.get(b)
        .map(v => s"$lakePath/v$v/bucket=$b")))
    // the pruned history feeds up to four subtrees per merge (guard,
    // untouched anti-join, replay semi-join) — pin it once instead of
    // re-reading the bucket dirs per subtree, for the length of this
    // merge; MEMORY_AND_DISK, so a dimension-sized touched set spills
    // rather than OOMs
    graft.StageCache.scoped(spark) {
    val hist =
      if (histPaths.nonEmpty) graft.StageCache.pin(spark.read.parquet(histPaths: _*))
      else spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        OlapQueries.scd2Intervals(batch).schema)
    if (histPaths.nonEmpty) {
      // append-only guard: one small extra job per merge. The open row
      // per key IS the is_current row (exactly one per key by the
      // interval invariant), so the history side needs a filter, not a
      // groupBy-max over the full version history
      val bad = hist.filter(col("is_current") === 1L)
        .select(col("customer_id"), col("valid_from").as("open_from"))
        .join(batch.groupBy(col("o_custkey"))
          .agg(min(col("o_orderdate")).as("first_change")),
          col("customer_id") === col("o_custkey"))
        .filter(col("first_change") <= col("open_from"))
        .limit(1).collect()
      require(bad.isEmpty, {
        val r = bad.head
        s"SCD-2 append-only contract violated: key ${r.get(0)} has a " +
          s"batch change at ${r.get(3)} that does not postdate its open " +
          s"valid_from ${r.get(1)} — restatements into the past need the " +
          "from-scratch rebuild (q52 path), not the incremental merge"
      })
    }
    val next = base.getOrElse(-1) + 1
    val merged = OlapQueries.scd2Merge(hist, batch)
      .withColumn("bucket", pmod(col("customer_id"), lit(n)).cast("int"))
      // co-locate each bucket in one task: without this every shuffle
      // task writes its own file into every bucket dir (tasks × buckets
      // small files per version), and the NEXT merge pays the listing +
      // footer cost — one extra keyed shuffle of a dimension-sized frame
      // buys one file per bucket. The in-file order is pinned too, so the
      // same merge writes the same parquet bytes on every run
      .repartition(col("bucket"))
      .sortWithinPartitions(col("bucket"), col("customer_id"), col("valid_from"))
    val root = new Path(lakePath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    commitVersion(fs, root, next, Scd2ManifestFile) { staging =>
      merged.write.mode(SaveMode.ErrorIfExists)
        .partitionBy("bucket").parquet(staging.toString)
      writeScd2Manifest(fs, staging, Scd2Manifest(n, batchId,
        baseMan.map(_.buckets).getOrElse(Map.empty) ++ touched.map(_ -> next)))
    }
    touched
    }
  }

  /** The SCD-2 lake as an interval frame — the latest COMPLETE version,
    * resolved bucket-by-bucket through its manifest. */
  def scd2Snapshot(spark: SparkSession, lakePath: String): DataFrame =
    scd2SnapshotAt(spark, lakePath,
      latestScd2Version(spark, lakePath).getOrElse(
        throw new IllegalArgumentException(
          s"no complete SCD-2 version at $lakePath")))

  /** Time-travel read of the SCD-2 lake at a COMPLETE version. Fails
    * loudly on an incomplete or absent slot. */
  def scd2SnapshotAt(spark: SparkSession, lakePath: String,
      version: Int): DataFrame = {
    completeVersion(spark, lakePath, version, Scd2ManifestFile)
    val m = readScd2Manifest(spark, lakePath, version)
    val paths = m.buckets.toSeq.sortBy(_._1)
      .map { case (b, v) => s"$lakePath/v$v/bucket=$b" }
    spark.read.parquet(paths: _*)
  }

  /** VACUUM for the manifested SCD-2 lake. Retains the newest `keep`
    * COMPLETE versions as time-travel points; sweeps (a) complete
    * version dirs referenced by NONE of the retained manifests (an old
    * version whose buckets have all been superseded) and (b) incomplete
    * dirs BELOW the latest complete version (provably dead writers).
    * An incomplete dir ABOVE the latest complete version is spared —
    * same in-flight-writer stance as [[vacuum]] — and dead staging dirs
    * (target slot at or below the latest complete version) are swept.
    * Note the reference semantics: a version dir stays alive as long as
    * ANY retained manifest still serves a bucket from it, regardless of
    * age.
    *
    * Reader isolation: [[scd2Snapshot]]/[[scd2SnapshotAt]] resolve their
    * manifest to concrete bucket paths at call time — a vacuum that
    * sweeps a version those paths live in fails any still-running reader
    * holding that frame (the classic lake-format isolation window; a
    * real catalog ages versions out by wall-clock lease instead).
    * Contract: consume snapshot frames before vacuuming, or size `keep`
    * to at least the longest reader horizon — ScdSpec pins both sides of
    * this boundary. */
  def vacuumScd2(spark: SparkSession, lakePath: String, keep: Int): Seq[String] =
    vacuumSlots(spark, lakePath, keep, Scd2ManifestFile)(retained =>
      retained.toSet ++ retained.flatMap(v =>
        readScd2Manifest(spark, lakePath, v).buckets.values))

  /** Point-in-time lookup against an SCD-2 interval table — the
    * STREAM-side consumer of q52's history (q54 is the batch twin):
    * each incoming row joins the version whose [valid_from, valid_to)
    * interval covers its event time, so late-arriving events resolve
    * against the dimension AS OF when they happened, not as of arrival.
    *
    * Works directly as a stream-static join (`events` streaming, `hist`
    * static — Structured Streaming plans the equi-join on the key with
    * the interval predicate as a join filter, append mode, no watermark
    * needed) or inside a foreachBatch body against a versioned snapshot
    * ([[snapshotAt]]/[[scd2Snapshot]]).
    *
    * Scale: per key the dimension carries only that key's version rows
    * (bounded by its change count), so the per-row interval probe is a
    * few-row scan — same shape as q54's batch join. */
  def asOfScd2(events: DataFrame, hist: DataFrame,
      key: Column, at: Column): DataFrame =
    events.join(hist,
      key === hist("customer_id")
        && at >= hist("valid_from") && at < hist("valid_to"))
}
