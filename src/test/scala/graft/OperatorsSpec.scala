package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Distribution, Validate}

/** Unit specs for the core operators, on inline fixtures (SURVEY.md §5
  * test plan: dedup idempotence, quarantine partition property,
  * distribution share-of-total). The driver testdata has no invalid or
  * duplicate rows, so the interesting paths are exercised here with
  * crafted inputs. */
class OperatorsSpec extends SparkSpec {
  import spark.implicits._

  private def df =
    Seq((1L, "a", 3.0), (2L, "a", 1.0), (3L, "b", 2.0), (4L, "a", 1.0))
      .toDF("id", "k", "v")

  test("keepFirst keeps exactly one row per key, chosen by the ordering") {
    val out = Dedup.keepFirst(df, Seq("k"), Seq(col("v").asc, col("id").asc))
      .orderBy("k").collect()
    assert(out.map(r => (r.getString(1), r.getLong(0))).toSeq ==
      Seq(("a", 2L), ("b", 3L)))
  }

  test("keepFirst ∪ duplicates = input, disjoint") {
    val order = Seq(col("v").asc, col("id").asc)
    val kept = Dedup.keepFirst(df, Seq("k"), order)
    val dups = Dedup.duplicates(df, Seq("k"), order)
    assert(kept.count() + dups.count() == df.count())
    assert(kept.join(dups, Seq("id")).count() == 0)
  }

  test("keepFirst is idempotent") {
    val order = Seq(col("v").asc, col("id").asc)
    val once = Dedup.keepFirst(df, Seq("k"), order)
    val twice = Dedup.keepFirst(once, Seq("k"), order)
    assert(once.collect().toSet == twice.collect().toSet)
  }

  test("valueCountsPct shares sum to 100 and drop null keys") {
    val d = Seq(Some("x"), Some("x"), Some("y"), None)
      .toDF("k")
    val out = Distribution.valueCountsPct(d, col("k"), "key").collect()
    assert(out.length == 2)
    assert(math.abs(out.map(_.getDouble(2)).sum - 100.0) < 1e-9)
    val x = out.find(_.getString(0) == "x").get
    assert(x.getLong(1) == 2L)
  }

  test("validate split: valid ∪ quarantine = input, first failing rule wins") {
    val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val d = Seq(
      (1L, Option(ts), 10L, "click", Option(5.0), "{}"),      // valid
      (2L, None, 10L, "click", Option(5.0), "{}"),            // missing_ts
      (3L, Option(ts), 10L, "bogus", Option(-1.0), "{}"),     // bad_event_type (first rule wins over negative)
      (4L, Option(ts), 10L, "view", None, "{}"),              // missing_value
      (5L, Option(ts), 10L, "view", Option(-2.0), "{}"),      // negative_value
      (5L, Option(ts), 11L, "view", Option(2.0), "{}"),       // clean-first: keeps key 5's valid slot
      (6L, Option(ts), 20L, "view", Option(1.0), "{}"),       // valid (first of dup pair)
      (6L, Option(ts), 21L, "view", Option(1.0), "{}"))       // duplicate event_id
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val tagged = Validate.splitEvents(d)
    val errors = tagged.orderBy("event_id", "user_id")
      .select("error").collect().map(r => Option(r.getString(0)))
    // clean-first dup ranking: an invalid row never consumes its key's
    // valid slot (event_id 5), while a genuinely duplicated clean key
    // (event_id 6) quarantines all-but-first
    assert(errors.toSeq == Seq(None, Some("missing_ts"), Some("bad_event_type"),
      Some("missing_value"), Some("negative_value"), None, None,
      Some("duplicate")))
    assert(Validate.valid(tagged).count() + Validate.quarantine(tagged).count()
      == d.count())
    val rep = Validate.report(tagged).collect()(0)
    assert(rep.getLong(0) == 8 && rep.getLong(1) == 3 &&
      rep.getLong(2) == 4 && rep.getLong(3) == 1)
  }

  test("reportCounts == report∘split on every edge shape (r18 count-only path)") {
    val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    // edge shapes: unique-valid, unique-invalid, dup pair both clean,
    // dup group mixing clean+invalid, dup group ALL invalid (no valid
    // slot, no duplicate), triple-clean dup (two duplicates)
    val d = Seq(
      (1L, Option(ts), 10L, "click", Option(5.0), "{}"),
      (2L, None, 10L, "click", Option(5.0), "{}"),
      (6L, Option(ts), 20L, "view", Option(1.0), "{}"),
      (6L, Option(ts), 21L, "view", Option(1.0), "{}"),
      (5L, Option(ts), 10L, "view", Option(-2.0), "{}"),
      (5L, Option(ts), 11L, "view", Option(2.0), "{}"),
      (7L, None, 10L, "view", Option(1.0), "{}"),
      (7L, Option(ts), 11L, "bogus", Option(1.0), "{}"),
      (8L, Option(ts), 1L, "view", Option(1.0), "{}"),
      (8L, Option(ts), 2L, "view", Option(1.0), "{}"),
      (8L, Option(ts), 3L, "view", Option(1.0), "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val tr = Validate.rulesFor("events")
    val slow = Validate.report(Validate.split(d, tr)).collect()(0)
    val fast = Validate.reportCounts(d, tr).collect()(0)
    assert(fast.getLong(0) == slow.getLong(0) && // total
      fast.getLong(1) == slow.getLong(1) &&      // valid
      fast.getLong(2) == slow.getLong(2) &&      // invalid
      fast.getLong(3) == slow.getLong(3))        // duplicate
    // and the empty frame reports zeros, not nulls
    val empty = Validate.reportCounts(d.limit(0), tr).collect()(0)
    assert((0 to 3).forall(i => empty.getLong(i) == 0L))
  }

  test("q43 argmin tie-break: equal unit prices resolve to the smaller suppkey") {
    import java.sql.Timestamp
    val dir = java.nio.file.Files.createTempDirectory("graft_q43").toString
    // part 1: suppliers 7 and 3 offer the identical unit price -> 3 wins;
    // part 2: supplier 9 strictly cheaper than 5 -> 9 wins
    Seq(
      (1L, 1L, 7L, 1, 2.0, 20.0, 0.0, 0.0, "N", "O", Timestamp.valueOf("2024-01-01 00:00:00")),
      (2L, 1L, 3L, 1, 4.0, 40.0, 0.0, 0.0, "N", "O", Timestamp.valueOf("2024-01-01 00:00:00")),
      (3L, 2L, 5L, 1, 2.0, 30.0, 0.0, 0.0, "N", "O", Timestamp.valueOf("2024-01-01 00:00:00")),
      (4L, 2L, 9L, 1, 2.0, 20.0, 0.0, 0.0, "N", "O", Timestamp.valueOf("2024-01-01 00:00:00")))
      .toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate")
      .write.parquet(s"$dir/lineitem.parquet")
    Seq((1L, "part one"), (2L, "part two")).toDF("p_partkey", "p_name")
      .write.parquet(s"$dir/part.parquet")
    Seq((3L, "s3"), (5L, "s5"), (7L, "s7"), (9L, "s9"))
      .toDF("s_suppkey", "s_name")
      .write.parquet(s"$dir/supplier.parquet")
    val got = graft.analytics.OlapQueries.q43MinCostSupplier(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSeq
    assert(got == Seq((1L, 3L), (2L, 9L)))
  }

  test("q44 exercises all three merge actions on the gate data") {
    val acts = graft.analytics.StagingQueries.q44DimensionMerge(spark, sfDir)
      .groupBy("action").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(acts.keySet == Set("updated", "inserted", "kept"))
    assert(acts.values.forall(_ > 0))
  }

  test("q36 planted fixture: the anti-join finds never-ordered customers") {
    // every customer in the synthetic data has orders, so q36's inactive
    // branch never fires there; plant two nations where it does
    import java.sql.Timestamp
    val dir = java.nio.file.Files.createTempDirectory("graft_q36").toString
    Seq(
      (1L, "alice", 0, 10.0, "SEG"), (2L, "bob", 0, 20.0, "SEG"),
      (3L, "carol", 1, 30.0, "SEG"), (4L, "dave", 1, 40.0, "SEG"))
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
      .write.parquet(s"$dir/customer.parquet")
    // alice and carol order; bob and dave never do
    Seq(
      (100L, 1L, "O", 5.0, Timestamp.valueOf("2024-01-01 00:00:00"), "1-URGENT"),
      (101L, 3L, "O", 6.0, Timestamp.valueOf("2024-01-02 00:00:00"), "1-URGENT"))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .write.parquet(s"$dir/orders.parquet")
    Seq((0, "ARGENTINA", 1), (1, "BRAZIL", 1))
      .toDF("n_nationkey", "n_name", "n_regionkey")
      .write.parquet(s"$dir/nation.parquet")
    val got = graft.analytics.OlapQueries.q36InactiveCustomers(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq(("ARGENTINA", 2L, 1L, 1L), ("BRAZIL", 2L, 1L, 1L)))
  }

  test("q46 funnel ordering bites: out-of-order steps do not count") {
    import org.apache.spark.sql.Row
    // user 1: view->click->purchase (full funnel); user 2: click BEFORE
    // its view, then purchase (click unqualified => purchase unqualified);
    // user 3: view->purchase with no click (purchase unqualified)
    // written as native TIMESTAMP (micros) — Tables.events sniffs the
    // footer unit, so the fixture file no longer needs to be nanos-as-long
    def ts(m: Int): java.sql.Timestamp =
      java.sql.Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
    val rows = Seq(
      Row(1L, ts(1), 1L, "view", 1.0, null),
      Row(2L, ts(2), 1L, "click", 1.0, null),
      Row(3L, ts(3), 1L, "purchase", 1.0, null),
      Row(4L, ts(1), 2L, "click", 1.0, null),
      Row(5L, ts(2), 2L, "view", 1.0, null),
      Row(6L, ts(3), 2L, "purchase", 1.0, null),
      Row(7L, ts(1), 3L, "view", 1.0, null),
      Row(8L, ts(2), 3L, "purchase", 1.0, null))
    val dir = java.nio.file.Files.createTempDirectory("graft_funnel").toString
    spark.createDataFrame(
        spark.sparkContext.parallelize(rows), Tables.eventsSchema)
      .write.parquet(s"$dir/events.parquet")
    val got = graft.analytics.EventQueries.q46Funnel(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == Seq(("1_view", 3L), ("2_click_after_view", 1L),
      ("3_purchase_after_click", 1L)))
  }
}
