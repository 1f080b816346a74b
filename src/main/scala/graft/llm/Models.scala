package graft.llm

import org.apache.spark.sql.DataFrame

/** Frozen-model artifact store — the seam between iterative TRAINING
  * (k-means centroids, PQ codebooks, BPE merge tables: data-dependent
  * loops with no single-SQL cross-engine oracle) and frozen-model
  * INFERENCE (assignment, ADC scan, encode: plain relational algebra
  * that DuckDB can replay bit-for-bit).
  *
  * Training runs Spark-side and persists its model as a tiny parquet
  * artifact here; the query's inference phase consumes the RE-READ
  * artifact (so what the oracle sees is structurally what the engine
  * used — parquet float round-trips are lossless), and the oracle SQL
  * (generated at Verify-dump time, after the query ran) reads the same
  * file via `read_parquet(...)`. This upgrades the a04b/a07/a08/d33b
  * entries from rows-only to full hash-checked, leaving only genuinely
  * iterative TRAINING outputs (d33, q02b/q07b sketches) oracle-less —
  * the d37 frozen-classifier pattern generalized (LmOps.scala d37
  * header).
  *
  * Paths are keyed by the data dir (q09b's warehouse-suffix move): the
  * sf0.01, sf1, and dirty gates each train, persist, and check their
  * own artifact without clobbering one another. The registry records
  * which dir a tag last trained on in THIS JVM, which is exactly the
  * Verify contract: queries run first, `oracleSql` is dumped after.
  * Paths are repo-relative (Verify runs at the root; `tools/check.py`
  * resolves them there), so two checkouts dump the same oracle SQL.
  *
  * At 100 TB these artifacts are unchanged: models are cluster-count /
  * vocab-sized (k×dim, M×K×sub, K merges), never data-sized — a model
  * write is a broadcast-scale parquet, and inference stays one scan.
  */
object Models {

  private val root = "target/models"

  /** tag → data dir the tag's model was last trained on (this JVM). */
  private val trainedOn =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  def path(dir: String, tag: String): String = {
    // collision-resistant dir key (ADVICE r11): a 32-bit String.hashCode
    // collision between two gate dirs would silently share one artifact
    // path and the oracle would compare against the wrong model — md5 of
    // the absolute path makes that practically impossible.
    val abs = new java.io.File(dir).getAbsolutePath
    val md5 = java.security.MessageDigest.getInstance("MD5")
      .digest(abs.getBytes("UTF-8"))
    val suffix = md5.map("%02x".format(_)).mkString
    s"$root/${tag}_$suffix"
  }

  /** Persist a model frame as the frozen artifact for (dir, tag) and
    * return the re-read frame — inference downstream consumes exactly
    * the persisted bits, and the training lineage is truncated at the
    * artifact boundary (the plan below the scan is a file read, not the
    * K-round training DAG). */
  def save(df: DataFrame, dir: String, tag: String): DataFrame = {
    val p = path(dir, tag)
    df.coalesce(1).write.mode("overwrite").parquet(p)
    trainedOn.put(tag, dir)
    df.sparkSession.read.parquet(p)
  }

  /** DuckDB table expression for a tag's current artifact. Falls back
    * to the sf0.01 path (the driver's t2 gate dir) if the tag has not
    * trained in this JVM — only reachable when oracle SQL is dumped
    * without running the query, in which case the result is never
    * compared either. */
  def sqlRef(tag: String): String = {
    val dir = trainedOn.getOrDefault(tag, "/root/testdata/sf0.01")
    s"read_parquet('${path(dir, tag)}/*.parquet')"
  }
}
