package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Scalar function library (SURVEY.md §2.8) — the reference's cleaning /
  * casting / labeling vocabulary as composable Columns. Everything except
  * [[asciiFold]] is built-ins only (codegen'd end to end).
  */
object Scalars {

  /** F1 — strip the `.0` float artifact from stringified numeric codes
    * (reference `spark_transform.py:527-532`). */
  def stripFloatArtifact(c: Column): Column =
    regexp_replace(c, "\\.0$", "")

  /** F2+F3 — city/key normalization: lowercase, trim, drop
    * non-alphanumerics (reference `staging_layer.py:187`). */
  def normalizeKey(c: Column): Column =
    regexp_replace(lower(trim(c)), "[^a-zA-Z0-9 ]", "")

  /** F4 — Unicode NFKD → ASCII fold (reference `ingestion_script.py:282-290`
    * python `unicodedata`): strip combining marks after compatibility
    * decomposition, lowercase, trim. Backed by the native codegen
    * expression [[org.apache.spark.sql.graft.AsciiFold]] (no Spark
    * built-in decomposes unicode; the former Scala UDF broke whole-stage
    * codegen at every call site — round-1 verdict #10). */
  def asciiFold(c: Column): Column =
    org.apache.spark.sql.graft.StringExpressions.asciiFold(c)

  /** F7 — multi-format timestamp parse: first format that succeeds wins,
    * null when none do (reference `ingestion_script.py:293-310` tries 4
    * formats; TRY_ semantics need non-ANSI mode, pinned in Engine). */
  def parseTimestampMulti(c: Column, formats: Seq[String]): Column =
    coalesce(formats.map(f => to_timestamp(c, f)): _*)

  val referenceFormats: Seq[String] = Seq(
    "yyyy-MM-dd HH:mm:ss", "yyyy-MM-dd", "yyyy/MM/dd HH:mm:ss", "yyyy/MM/dd")

  /** F14 — lenient numeric cast: null on unparseable input (pandas
    * `to_numeric(errors='coerce')`), plus an error indicator for the
    * quarantine path (non-null input that failed to cast). */
  def lenientDouble(c: Column): Column = c.cast(DoubleType)

  def lenientDoubleError(c: Column): Column =
    c.isNotNull && lenientDouble(c).isNull

  /** F16 — min-max scale to [lo, hi] (reference
    * `original_dashboard.py:480-489` scales map markers to [5,100]). The
    * single-row min/max frame broadcasts; no window over an empty
    * partition spec. */
  def minMaxScaled(df: DataFrame, value: Column, outName: String,
      lo: Double, hi: Double): DataFrame = {
    val mm = df.agg(min(value).as("__mn"), max(value).as("__mx"))
    df.crossJoin(broadcast(mm))
      .withColumn(outName,
        when(col("__mx") === col("__mn"), lit(lo))
          .otherwise((value - col("__mn")) / (col("__mx") - col("__mn"))
            * (hi - lo) + lo))
      .drop("__mn", "__mx")
  }
}
