package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Ordering / pagination / preflight helpers (SURVEY.md §2.6 T1–T5, §2.7
  * U3).
  *
  * Scale note: `orderBy(...).limit(k)` compiles to
  * TakeOrderedAndProject — per-partition top-k then a driver merge of k
  * rows per partition, no global sort materialization. Pagination
  * (`offset`) is a serving-layer convenience: at depth it degrades (the
  * engine must still discard offset rows), exactly like SQL OFFSET —
  * keyset pagination (filter on the last-seen sort key) is the deep-scroll
  * path. */
object TopK {

  /** T4 — page `pageIdx` (0-based) of the sorted result
    * (reference `📊Historical_Analytics.py:219-234` sorts the seller table
    * and slices `iloc[start:end]`). */
  def page(df: DataFrame, pageSize: Int, pageIdx: Int, order: Column*): DataFrame =
    df.orderBy(order: _*).offset(pageIdx * pageSize).limit(pageSize)

  /** U3 — preflight set difference: required tables missing from the lake
    * (reference `utils.py:95-99` `required − found`). Probes through the
    * Hadoop FileSystem API so any Spark-readable lake URI works
    * (file://, hdfs://, s3a://…), not just the local filesystem. */
  def missingTables(spark: SparkSession, lakeDir: String,
      required: Seq[String]): Seq[String] = {
    val conf = spark.sparkContext.hadoopConfiguration
    required.filterNot { t =>
      Seq(s"$lakeDir/$t", s"$lakeDir/$t.parquet").exists { p =>
        val path = new org.apache.hadoop.fs.Path(p)
        path.getFileSystem(conf).exists(path)
      }
    }
  }
}
