package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Sink writers (SURVEY.md §2.1 S4/S15/S16 + partitioned-lake layout).
  * All writes are `overwrite` — idempotent by construction, replacing the
  * reference's TRUNCATE-then-append protocol (S11,
  * `spark_transform.py:443-469`).
  */
object Sinks {

  /** S4 — parquet table write. `tinyOutput=true` reproduces the
    * reference's single-file-per-table layout (`coalesce(1)`,
    * `spark_transform.py:564-566`) for small marts; the default keeps the
    * natural partitioning (AQE-coalesced) for scale. */
  def parquet(df: DataFrame, path: String, tinyOutput: Boolean = false): Unit =
    (if (tinyOutput) df.coalesce(1) else df)
      .write.mode(SaveMode.Overwrite).parquet(path)

  /** Date-partitioned lake write (`dt=YYYY-MM-DD/`): downstream readers
    * get partition pruning instead of the reference's latest-file S3
    * listing. `dtCol` must be a date-formatted string column. */
  def parquetPartitioned(df: DataFrame, path: String, dtCol: String): Unit =
    df.write.mode(SaveMode.Overwrite).partitionBy(dtCol).parquet(path)

  /** S15 — quarantine sink: rows that failed validation, with their
    * `error` reason column, as CSV under `<path>/quarantine/` (reference
    * `ingestion_script.py:360-366`). */
  def quarantine(tagged: DataFrame, path: String): Unit =
    graft.operators.Validate.quarantine(tagged)
      .write.mode(SaveMode.Overwrite)
      .option("header", "true")
      .csv(s"$path/quarantine")

  /** S16 — ingestion report sink: the single-row
    * {total, valid, invalid, duplicate} counts as JSON (reference
    * `ingestion_script.py:368-381`). */
  def report(tagged: DataFrame, path: String): Unit =
    graft.operators.Validate.report(tagged)
      .withColumn("generated_by", lit("graft-ingest"))
      .coalesce(1)
      .write.mode(SaveMode.Overwrite)
      .json(s"$path/report")

  /** Bucketed managed-table write: co-locates and co-sorts the table on
    * its join key so repeated big-big joins on that key run WITHOUT a
    * shuffle exchange (verified by plan in BucketingSpec) — the 100 TB
    * answer to the orders⋈lineitem join. Tables joined this way share one
    * [[bucketCount]]. Hash-partitioning on the keys first (the bucket id's
    * hash) writes each bucket as one file, not one per write task. */
  def bucketed(df: DataFrame, table: String, buckets: Int,
      keys: Seq[String]): Unit = {
    val spark = df.sparkSession
    // idempotent across JVMs: the in-memory catalog forgets managed tables
    // between sessions but their warehouse directory survives, and
    // Overwrite can only replace a table the catalog knows — drop the
    // entry if present AND clear a stale orphaned location
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    val loc = new Path(
      spark.sessionState.catalog.defaultTablePath(
        org.apache.spark.sql.catalyst.TableIdentifier(table)))
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) {
      // guard the recursive delete: only reclaim a directory that looks
      // like an orphaned managed-table remnant (parquet part files or a
      // _SUCCESS marker at its top level). Anything else at this warehouse
      // path — e.g. data another tool parked there, or an external table
      // registered under a different name — is NOT ours to destroy.
      val top = fs.listStatus(loc).map(_.getPath.getName)
      val looksLikeTableRemnant = top.isEmpty ||
        top.exists(n => n == "_SUCCESS" || (n.startsWith("part-") && n.contains(".parquet")))
      require(looksLikeTableRemnant,
        s"refusing to overwrite $loc for table `$table`: directory exists " +
        s"but does not look like an orphaned managed-table remnant " +
        s"(top-level entries: ${top.take(5).mkString(", ")}); move it aside first")
      println(s"[sinks] reclaiming orphaned managed-table dir $loc for `$table`")
      fs.delete(loc, true)
    }
    df.repartition(buckets, keys.map(col): _*).write.mode(SaveMode.Overwrite)
      .bucketBy(buckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .format("parquet")
      .saveAsTable(table)
  }

  /** The bucket count shared by file-scan facts that join on their bucket
    * keys: the shuffle partitions (Engine: the cores), or more when the
    * largest fact's size over `spark.sql.files.maxPartitionBytes` asks. */
  def bucketCount(facts: Seq[DataFrame]): Int = {
    val conf = facts.head.sparkSession.sessionState.conf
    val largest = facts.map(_.queryExecution.optimizedPlan.stats.sizeInBytes).max
    math.max(conf.numShufflePartitions, ((largest - 1) / conf.filesMaxPartitionBytes + 1).toInt)
  }

  /** S7 — JDBC append sink, the warehouse egress the reference uses for
    * Postgres (`spark_transform.py:331-355`). Exercised end-to-end against
    * embedded Derby (JdbcSpec: write → read-back → predicate pushdown);
    * a production target differs only in URL/driver. The parquet lake
    * remains the primary sink. */
  def jdbc(df: DataFrame, url: String, table: String,
      props: java.util.Properties): Unit =
    df.write.mode(SaveMode.Append).jdbc(url, table, props)

  case class CompactStats(leaves: Int, compacted: Int,
      filesBefore: Int, filesAfter: Int)

  /** Small-file compaction — the maintenance pass every streaming lake
    * needs at scale: micro-batch and per-partition writes accumulate
    * part files far below the scan-efficient size, and a 100 TB table of
    * kilobyte files is a metadata DoS on its own listing. Walks the
    * partition tree under `dir`, and rewrites every leaf whose part-file
    * count exceeds ceil(bytes/targetBytes) down to exactly that many
    * files (`repartition` — round-robin for even output sizes; the
    * shuffle is the price of not writing one skewed giant file).
    *
    * Safety: each leaf is rewritten through [[swap]] (row-count
    * verified; its crash rule and window are documented there), and the
    * walk first finishes any swap an earlier pass left. NOT for
    * replay-ledger layouts (CorpusStream's `batch=<id>` dirs ARE the
    * commit protocol — compacting across them would forge replays). */
  def compact(spark: org.apache.spark.sql.SparkSession, dir: String,
      targetBytes: Long = 128L << 20): CompactStats = {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def leaves(p: Path): Seq[Path] = {
      val pending = new Path(p, "_compact")
      if (fs.exists(pending)) fs.listStatus(pending)
        .foreach(s => finishSwap(fs, new Path(p, s.getPath.getName)))
      val subdirs = fs.listStatus(p)
        .filter(s => s.isDirectory && !s.getPath.getName.startsWith("_")
          && !s.getPath.getName.startsWith("."))
        .map(_.getPath).toSeq
      if (subdirs.isEmpty) Seq(p) else subdirs.flatMap(leaves)
    }
    finishSwap(fs, root) // the root's own staging sits beside it, outside the walk
    var compacted, before, after = 0
    val all = leaves(root)
    all.foreach { leaf =>
      val parts = fs.listStatus(leaf)
        .filter(s => s.isFile && s.getPath.getName.startsWith("part-"))
      val n = math.max(1, math.ceil(
        parts.map(_.getLen).sum.toDouble / targetBytes).toInt)
      before += parts.length
      if (parts.length <= n) after += parts.length
      else {
        val src = spark.read.parquet(leaf.toString)
        val nRows = src.count()
        swap(fs, leaf) { fresh =>
          src.repartition(n).write.mode(SaveMode.Overwrite).parquet(fresh.toString)
          require(spark.read.parquet(fresh.toString).count() == nRows,
            s"compaction of $leaf would change its row count; aborting swap")
        }
        compacted += 1
        after += n
      }
    }
    CompactStats(all.size, compacted, before, after)
  }

  /** Verified directory swap — the one rename-based rewrite protocol of
    * the lake: [[compact]] per partition leaf, `CorpusStream.compactIndex`
    * and `CorpusStream.compactStore` per store root. `stage(fresh)`
    * writes the rewrite into `<parent>/_compact/<name>/new` (the file
    * index skips `_compact`, so readers never see staged copies) and
    * verifies it, throwing to abort with `target` untouched; only then
    * is a `ready` marker created beside it and the rewrite swapped in by
    * two renames: `target` → `old`, `new` → `target`.
    *
    * Readers see the old contents or the new ones, never a mix or a
    * duplicate. The one window left: between the two renames `target` is
    * absent, so a reader there, or after a crash there until the next
    * pass, sees no `target` at all. Every pass (this one included) first
    * runs [[finishSwap]], which closes that window. */
  private[graft] def swap(fs: FileSystem, target: Path)(stage: Path => Unit): Unit = {
    finishSwap(fs, target)
    val (fresh, old) = compactStaging(target)
    stage(fresh)
    fs.create(new Path(fresh.getParent, "ready"), true).close()
    require(fs.rename(target, old) && fs.rename(fresh, target),
      s"swap failed for $target")
    finishSwap(fs, target)
  }

  /** Finish a [[swap]] of `target` that a crash interrupted, then drop
    * its staging. The one recovery rule: a missing `target` gets the
    * rewrite when it is marked ready, otherwise its backup. A present
    * `target` is never touched. */
  private[graft] def finishSwap(fs: FileSystem, target: Path): Unit = {
    val (fresh, old) = compactStaging(target)
    val staging = fresh.getParent
    if (fs.exists(staging)) {
      if (!fs.exists(target)) require(fs.rename(
          if (fs.exists(new Path(staging, "ready"))) fresh else old, target),
        s"could not finish the swap of $target")
      fs.delete(staging, true)
    }
    // non-recursive: never sweeps a sibling's swap that just started
    val pending = staging.getParent
    if (fs.exists(pending) && fs.listStatus(pending).isEmpty) fs.delete(pending, false)
  }

  /** [[swap]]'s staging for `target`: (rewrite, backup). A `_`-named
    * sibling would keep a partition leaf's `=`, which the file index
    * reads. */
  private[graft] def compactStaging(target: Path): (Path, Path) = {
    val st = new Path(new Path(target.getParent, "_compact"), target.getName)
    (new Path(st, "new"), new Path(st, "old"))
  }

  /** Write a small text file whole or not at all: into a hidden temp
    * sibling, then one rename onto `p` (atomic within a directory on
    * HDFS and the local FS), so readers see no file or all of it, never
    * a torn one. `p` must not exist yet; a crashed attempt leaves only
    * the temp, which the next attempt overwrites. */
  private[graft] def writeSmallFile(fs: FileSystem, p: Path, text: String): Unit = {
    val tmp = new Path(p.getParent, s".${p.getName}.tmp")
    val out = fs.create(tmp, true)
    try out.write(text.getBytes("UTF-8")) finally out.close()
    require(fs.rename(tmp, p), s"could not write $p")
  }

  /** A [[writeSmallFile]] file's text, or None when it is absent. */
  private[graft] def readSmallFile(fs: FileSystem, p: Path): Option[String] =
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(new String(in.readAllBytes(), "UTF-8")) finally in.close()
    }
}
