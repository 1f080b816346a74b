package graft.operators

import org.apache.spark.sql.{Column, DataFrame}

/** Ordering / pagination helpers (SURVEY.md §2.6 T1–T5).
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
}
