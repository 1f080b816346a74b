package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Window-based deduplication operators.
  *
  * The reference dedups four different ways (SURVEY.md §2.4 A12–A15):
  * `ROW_NUMBER() OVER (PARTITION BY … ORDER BY …) = 1` in SQL
  * (`spark_transform.py:365-373`, `staging_layer.py:190,198,232,343`),
  * pandas `drop_duplicates`/`duplicated` (`ingestion_script.py:332-342`),
  * and Postgres `DISTINCT ON` (`local/s3_to_pg.py:298-304`). All of them are
  * the same logical operator: keep exactly one row per key, chosen by an
  * explicit ordering. We expose that single operator; "keep first by file
  * order" is expressed as an ordering column, never implicit row order
  * (SURVEY.md §7.4.3 — implicit order is not reproducible on a cluster).
  *
  * Scale: one hash-partition shuffle on the key columns; Spark's window
  * exec sorts within partitions. Skewed keys are handled by AQE; for a
  * pathologically hot key, pre-aggregate with `min_by`/`max_by` instead
  * (same semantics when the payoff ordering is a single column).
  */
object Dedup {

  /** Keep the single row per `keys` that sorts first under `order`
    * (ties must be broken by the caller's ordering — include a unique
    * column to make the result deterministic). */
  def keepFirst(df: DataFrame, keys: Seq[String], order: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Rows that would be dropped by [[keepFirst]] — the quarantine side of
    * the reference's duplicate split (`ingestion_script.py:332-342`). */
  def duplicates(df: DataFrame, keys: Seq[String], order: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") > 1)
      .drop("__rn")
  }

  /** Skew-resistant keepFirst for a SINGLE ordering column: two-phase
    * salted reduction (SURVEY.md §4 "salted variant of A12"). Phase 1
    * reduces each (key, salt) shard to its min (ord, payload) with
    * map-side combine; phase 2 reduces the ≤`salts` survivors per key.
    * A pathologically hot key never lands on one task with all its rows —
    * each shard carries ~1/salts of it. Semantics equal [[keepFirst]]
    * when `(ord, tieBreaker)` is unique per row (property-tested).
    *
    * Uses min_by on a packed struct: struct ordering is lexicographic, so
    * min(struct(ord, tie, payload…)) IS argmin with deterministic ties.
    *
    * When to reach for it — measured crossover (round 7, q18 vs q18b on
    * lineitem derivatives, back-to-back in one JVM at local[32]):
    * unskewed 600k rows window 1.59 s vs salted 2.33 s (~1.5× tax); one
    * key = 50% of rows, still 1.38 vs 1.72; one key = 18M of 19M rows,
    * parity (2.7-3.1 vs 2.7-3.3, inside VM noise). A single in-memory
    * sort of even an 18M-row lean partition is cheap, so on CPU alone
    * the window wins until the hot partition stops FITTING — this
    * operator is insurance against the hot key exceeding task memory
    * (spill/OOM on a real cluster, where one 100 GB partition kills the
    * stage), not a speedup for mere relative skew. Default to
    * [[keepFirst]]; switch when a known-hot key approaches task memory,
    * or AQE can't help (windows are not AQE-skew-splittable).
    *
    * The packed struct defeats Catalyst column pruning — project `df`
    * to the columns you need BEFORE calling (q18b measured 4.7→2.7 s on
    * the 18M-row hot key from that projection alone). */
  def keepFirstSalted(df: DataFrame, keys: Seq[String], ord: Column,
      tieBreaker: Column, salts: Int = 16): DataFrame = {
    val payload = struct(ord.as("__o") +: tieBreaker.as("__t") +:
      df.columns.map(col): _*)
    val salted = df
      .withColumn("__salt", pmod(hash(tieBreaker), lit(salts)))
      .groupBy(keys.map(col) :+ col("__salt"): _*)
      .agg(min(payload).as("__p"))
    val reduced = salted
      .groupBy(keys.map(col): _*)
      .agg(min(col("__p")).as("__p"))
    reduced.select(df.columns.map(c => col(s"__p.$c").as(c)): _*)
  }
}
