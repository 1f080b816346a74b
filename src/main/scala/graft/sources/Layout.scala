package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables

/** Lake layout maintenance — the OPTIMIZE/CLUSTER-BY tier every serving
  * lake needs at 100 TB: rewrite a table physically clustered on its
  * dominant predicate column so selective scans prune most of the data
  * at PLANNING time (directory partition pruning) and most of the rest
  * at READ time (parquet row-group min/max stats, which only help when
  * the writer sorted the column).
  *
  * d47 clusters `documents` by a derived length band: rows are
  * range-shuffled on (band, n_chars, doc_id) — so every output file
  * covers a contiguous n_chars run AND file sizes stay balanced even
  * when one band dominates (a hash-on-band repartition would pin each
  * band to exactly one writer task; range on the full sort key splits a
  * hot band across tasks) — then written `partitionBy(len_band)`. The
  * serving filter carries BOTH the semantic predicate (n_chars range)
  * and its implied band range: the band conjunct is what the planner
  * prunes directories with, the n_chars conjunct is what the reader
  * pushes to row-group stats. Band arithmetic is integer floor-division
  * — exact and engine-identical.
  *
  * The oracle runs the same aggregate over the ORIGINAL table: a layout
  * rewrite must be value-invariant, so oracle equality here is also the
  * round-trip proof (write → partition-pruned read → same answer).
  * LayoutBench measures the physical side (files/bytes/rows actually
  * read, clustered vs unclustered) → LAYOUT_CENSUS.json.
  */
object Layout {

  private[graft] val BandWidth = 64L
  private[graft] val LoChars = 150L
  private[graft] val HiChars = 280L

  /** Artifact path keyed by data dir (Models.path's md5 move — gates on
    * different dirs must not clobber one another's layout copies). */
  private[graft] def layoutPath(dir: String, tag: String): String = {
    val abs = new java.io.File(dir).getAbsolutePath
    val md5 = java.security.MessageDigest.getInstance("MD5")
      .digest(abs.getBytes("UTF-8"))
    val suffix = md5.map("%02x".format(_)).mkString
    new java.io.File(s"target/layout/${tag}_$suffix").getAbsolutePath
  }

  /** The clustered rewrite alone (shared by d47 and LayoutBench).
    * Returns the output path. */
  private[graft] def writeClustered(spark: SparkSession, dir: String): String = {
    val out = layoutPath(dir, "d47_docs_by_len")
    Tables.documents(spark, dir)
      .withColumn("len_band", floor(col("n_chars") / BandWidth).cast(LongType))
      .repartitionByRange(col("len_band"), col("n_chars"), col("doc_id"))
      .sortWithinPartitions(col("len_band"), col("n_chars"), col("doc_id"))
      .write.mode("overwrite").partitionBy("len_band").parquet(out)
    out
  }

  /** The pruned serving scan alone (shared by d47 and LayoutBench). */
  private[graft] def servingScan(spark: SparkSession, out: String): DataFrame =
    spark.read.parquet(out)
      .filter(col("len_band").between(LoChars / BandWidth, HiChars / BandWidth)
        && col("n_chars").between(LoChars, HiChars))

  def d47LayoutCluster(spark: SparkSession, dir: String): DataFrame = {
    val out = writeClustered(spark, dir)
    servingScan(spark, out)
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
      .orderBy(col("lang"))
  }

  val d47Sql: String =
    s"""SELECT lang, COUNT(*) AS n_docs,
       |       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       |       MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
       |FROM documents
       |WHERE n_chars BETWEEN $LoChars AND $HiChars
       |GROUP BY lang ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------------
  // Runner maintenance seam (round 15): the d47 tier graduated from a
  // registered query to a job over the LIVE lake, the way compaction
  // went d26 (query) → CorpusStream.compactIndex (seam). The chunk
  // table's serving pattern is doc-sharded reads — a training loader
  // pulls a doc_id range per worker — so OPTIMIZE range-clusters
  // corpus/chunks on (doc_band, doc_id, chunk_no) and partitions by the
  // band: a range read prunes out-of-band DIRECTORIES at planning time
  // and pushes doc_id to row-group stats inside the band. DocBandWidth
  // is the maintenance knob a deployment sizes so one band ≈ one
  // loader shard (≈1 GB of chunks at 100 TB); fixed here at fixture
  // scale. The rewrite is value-invariant — PipelineSpec asserts both
  // the pruned-read proof and row parity against the unclustered table.
  // ---------------------------------------------------------------------
  private[graft] val DocBandWidth = 128L

  /** OPTIMIZE corpus/chunks in the lake at `outDir`; returns the
    * clustered path (written next to the original — the original stays
    * the ingest target, the clustered copy is the serving table, and
    * each maintenance run refreshes it wholesale). */
  private[graft] def optimizeChunks(spark: SparkSession, outDir: String): String = {
    val out = s"$outDir/corpus/chunks_clustered"
    spark.read.parquet(s"$outDir/corpus/chunks")
      .withColumn("doc_band",
        floor(col("doc_id") / DocBandWidth).cast(LongType))
      .repartitionByRange(col("doc_band"), col("doc_id"), col("chunk_no"))
      .sortWithinPartitions(col("doc_band"), col("doc_id"), col("chunk_no"))
      .write.mode("overwrite").partitionBy("doc_band").parquet(out)
    out
  }

  /** Doc-sharded serving read over the clustered chunk table: the band
    * conjunct prunes directories, the doc_id conjunct reaches row-group
    * stats. */
  private[graft] def chunkShard(spark: SparkSession, out: String,
      loDoc: Long, hiDoc: Long): DataFrame =
    spark.read.parquet(out)
      .filter(col("doc_band").between(loDoc / DocBandWidth, hiDoc / DocBandWidth)
        && col("doc_id").between(loDoc, hiDoc))

  // ---------------------------------------------------------------------
  // d47b — Z-ORDER (multi-dimensional) clustering: d47's linear layout
  // serves ONE predicate column; a serving lake usually has two (here:
  // length bands for loader sharding AND language for mixture slicing).
  // A linear sort on either column leaves the other scattered across
  // every file, so the other predicate reads the whole table. Z-order
  // interleaves the bits of both dimensions' RANKS into one key and
  // range-writes on it: each output file then covers a small rectangle
  // of (length, language) space, so row-group min/max stats skip on
  // EITHER predicate.
  //
  // The language dimension is rank-encoded (lexicographic position via
  // the distributed Ranks.withGlobalRank, k-row frame), NOT hashed: the
  // parquet stats that do the skipping are min/max over the lang STRING,
  // and only a rank that agrees with the string order makes a zkey-
  // contiguous file also string-contiguous — a hashed id would cluster
  // physically but leave every file's (min,max) spanning the alphabet,
  // skipping nothing. Bit widths clamp (band at 31, lang rank at 7):
  // clamping degrades layout locality for out-of-range values, never
  // correctness — the oracle runs against the ORIGINAL table, so value
  // invariance of the rewrite is re-proven on every gate run, exactly as
  // d47.
  // ---------------------------------------------------------------------
  private[graft] val ZBandBits = 5 // len_band ≤ 31 (n_chars < 2048 at BandWidth 64)
  private[graft] val ZLangBits = 3 // lang rank ≤ 7
  private[graft] val ZLang = "es"

  /** Parquet row-group size for the z-ordered write. The skipping
    * mechanism z-order monetizes is ROW-GROUP min/max stats, so the
    * group size must be well below the file size or skipping degrades
    * to all-or-nothing per file (observed: one group per file at
    * fixture scale, where footer overhead then dominates task bytes).
    * 256 KB is the fixture-proportional analogue of the 128 MB default a
    * 100 TB lake would keep — the same reason make_sf.py pins 32k-row
    * groups in its stretch fixtures. */
  private[graft] val ZRowGroupBytes = 256 * 1024

  /** 2-D Morton (Z-curve) key as pure integer arithmetic (codegen-
    * friendly, engine-reproducible). Bits interleave MSB-FIRST,
    * alternating dimensions — z = a₄ b₂ a₃ b₁ a₂ b₀ a₁ a₀ for (5,3) —
    * so BOTH dimensions contribute to the key's top bits and file-count
    * splits alternate between them; an LSB interleave of unequal widths
    * would hand the wider dimension the entire high order and degrade to
    * a linear sort. Leftover low bits of the wider dimension trail. */
  private[graft] def zInterleave(a: Column, aBits: Int,
      b: Column, bBits: Int): Column = {
    val msbFirst: Seq[(Column, Int)] =
      (0 until math.max(aBits, bBits)).flatMap { i =>
        (if (aBits - 1 - i >= 0) Seq((a, aBits - 1 - i)) else Nil) ++
          (if (bBits - 1 - i >= 0) Seq((b, bBits - 1 - i)) else Nil)
      }
    val total = aBits + bBits
    msbFirst.zipWithIndex.map { case ((c, srcBit), idx) =>
      shiftleft(shiftright(c, srcBit).bitwiseAND(lit(1L)), total - 1 - idx)
    }.reduce(_ + _)
  }

  /** The Z-ordered rewrite alone (shared by d47b, LayoutBench, and the
    * spec). Helper columns are physical-only — dropped before write, so
    * the table's logical schema is unchanged. */
  private[graft] def writeZordered(spark: SparkSession, dir: String): String = {
    val out = layoutPath(dir, "d47b_docs_zorder")
    val docs = Tables.documents(spark, dir)
    val langRank = graft.operators.Ranks
      .withGlobalRank(docs.select(col("lang")).distinct(), Seq(col("lang")), "__lr")
      .select(col("lang"),
        least(col("__lr") - 1, lit((1 << ZLangBits) - 1)).cast(LongType).as("__lang_id"))
    // explicit partition count: file sizing is THE layout knob (a
    // deployment targets ~1 GB files), and an explicit N also opts the
    // range shuffle out of AQE coalescing — letting AQE fold the tiny
    // fixture into one file would erase the multi-file locality the
    // rewrite exists to produce
    val nFiles = spark.sessionState.conf.numShufflePartitions
    docs.join(broadcast(langRank), Seq("lang"))
      .withColumn("__band",
        least(floor(col("n_chars") / BandWidth), lit((1 << ZBandBits) - 1))
          .cast(LongType))
      .withColumn("__zkey",
        zInterleave(col("__band"), ZBandBits, col("__lang_id"), ZLangBits))
      .repartitionByRange(nFiles, col("__zkey"), col("doc_id"))
      .sortWithinPartitions(col("__zkey"), col("doc_id"))
      .drop("__band", "__lang_id", "__zkey")
      .write.mode("overwrite")
      .option("parquet.block.size", ZRowGroupBytes)
      .option("parquet.page.size", ZRowGroupBytes / 4)
      .parquet(out)
    out
  }

  def d47bLayoutZorder(spark: SparkSession, dir: String): DataFrame = {
    val out = writeZordered(spark, dir)
    spark.read.parquet(out)
      .filter(col("lang") === ZLang
        && col("n_chars").between(LoChars, HiChars))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
      .orderBy(col("source"))
  }

  val d47bSql: String =
    s"""SELECT source, COUNT(*) AS n_docs,
       |       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       |       MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
       |FROM documents
       |WHERE lang = '$ZLang' AND n_chars BETWEEN $LoChars AND $HiChars
       |GROUP BY source ORDER BY source""".stripMargin

  // ---------------------------------------------------------------------
  // d49 — COPY-ON-WRITE targeted purge (the takedown / right-to-be-
  // forgotten seam): delete a keyed subset from the lake by rewriting
  // ONLY the partition directories that hold matching rows, leaving
  // every other file physically untouched. At 100 TB this is the
  // difference between a job sized by the purge's blast radius (one
  // source's directory) and a full-table rewrite; the partition column
  // is chosen to align with the dominant purge predicate (source — the
  // unit takedown requests arrive in), exactly how a real lake picks its
  // partitioning for GDPR economics.
  //
  // Mechanics: matching rows' partition VALUES are collected (bounded by
  // the partition-value cardinality, never row count), the affected
  // directories are re-read (directory-pruned scan), survivors are
  // materialized via localCheckpoint — the staged-commit buffer that
  // both breaks the read-from-overwritten-path cycle and pins the bytes
  // before anything is replaced — and written back under DYNAMIC
  // partition overwrite, which replaces only the directories present in
  // the written frame. A production lake does the same dance through a
  // table format's staged commit (Delta/Iceberg); the buffer here is
  // blast-radius-sized, not table-sized.
  //
  // The oracle runs the anti-predicate over the ORIGINAL table, so every
  // gate run re-proves the purge removed EXACTLY the requested rows and
  // damaged nothing else. LayoutSpec additionally pins the physical
  // claim: untouched directories' files are byte-identical after the
  // purge, and only the hit partition was rewritten.
  // ---------------------------------------------------------------------
  private[graft] val PurgeSource = "src7"
  private[graft] val PurgeBucketLimit = 40L

  private[graft] def purgePredicate: Column =
    col("source") === PurgeSource &&
      graft.llm.TextOps.hashBucket(col("doc_id")) < PurgeBucketLimit

  /** Fresh source-partitioned lake copy of `documents` (one directory
    * per source — the takedown-request grain). Rebuilt on every call so
    * the registered query is deterministic run-over-run. */
  private[graft] def writeSourceLake(spark: SparkSession, dir: String): String = {
    val out = layoutPath(dir, "d49_docs_by_source")
    Tables.documents(spark, dir)
      .repartition(col("source"))
      .write.mode("overwrite").partitionBy("source").parquet(out)
    out
  }

  /** Copy-on-write delete: rewrite only the `partCol` directories holding
    * rows matching `pred`. Returns the rewritten partition values. */
  private[graft] def purgeLake(spark: SparkSession, lake: String,
      pred: Column, partCol: String): Seq[String] = {
    // bounded collect: distinct PARTITION VALUES of matching rows — the
    // blast radius, never the row set
    val hit = spark.read.parquet(lake).filter(pred)
      .select(col(partCol).cast("string")).distinct()
      .collect().map(_.getString(0)).toSeq.sorted
    if (hit.nonEmpty) {
      // staged-commit buffer, blast-radius-sized
      val survivors = graft.StageCache.checkpoint(spark.read.parquet(lake)
        .filter(col(partCol).isin(hit: _*)) // directory-pruned read
        // keep every row whose predicate is NOT TRUE: under SQL
        // three-valued logic a NULL-evaluating predicate satisfies
        // neither pred nor !pred, so a bare .filter(!pred) would
        // silently drop such rows from the rewritten partition —
        // data loss beyond the requested purge
        .filter(coalesce(!pred, lit(true))))
      // dynamic overwrite replaces only partitions PRESENT in the written
      // frame — a fully-purged partition would survive untouched, so any
      // hit value with zero survivors is dropped by directory delete
      // (bounded: partition values, checked AFTER the buffer is pinned)
      val kept = survivors.select(col(partCol).cast("string")).distinct()
        .collect().map(_.getString(0)).toSet
      val key = "spark.sql.sources.partitionOverwriteMode"
      val prev = spark.conf.get(key, "STATIC")
      try {
        spark.conf.set(key, "dynamic")
        if (kept.nonEmpty)
          survivors.write.mode("overwrite").partitionBy(partCol).parquet(lake)
      } finally spark.conf.set(key, prev)
      val fs = new org.apache.hadoop.fs.Path(lake)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      hit.filterNot(kept).foreach { v =>
        fs.delete(new org.apache.hadoop.fs.Path(lake, s"$partCol=$v"), true)
      }
    }
    hit
  }

  def d49PurgeLake(spark: SparkSession, dir: String): DataFrame = {
    val lake = writeSourceLake(spark, dir)
    purgeLake(spark, lake, purgePredicate, "source")
    spark.read.parquet(lake)
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
      .orderBy(col("lang"))
  }

  val d49Sql: String =
    s"""SELECT lang, COUNT(*) AS n_docs,
       |       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       |       MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
       |FROM documents
       |WHERE NOT (source = '$PurgeSource'
       |  AND CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
       |      % 100 < $PurgeBucketLimit)
       |GROUP BY lang ORDER BY lang""".stripMargin
}
