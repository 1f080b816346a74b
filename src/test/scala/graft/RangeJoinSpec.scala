package graft

import java.sql.Timestamp

import graft.operators.RangeJoin

class RangeJoinSpec extends SparkSpec {
  import spark.implicits._

  private def ts(h: Int, m: Int) = Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")

  test("point-in-interval matches across bucket boundaries, no dups") {
    val points = Seq(
      (1L, ts(0, 30), "in-first"),
      (1L, ts(2, 30), "in-long-interval-later-bucket"),
      (1L, ts(9, 0), "outside"),
      (2L, ts(0, 30), "wrong-key"))
      .toDF("k", "ts", "tag")
    // interval spans 0:00..3:00 → explodes to 4 hourly buckets
    val intervals = Seq((1L, ts(0, 0), ts(3, 0), 7L))
      .toDF("k", "start", "end", "interval_id")
    val out = RangeJoin.pointInInterval(points, intervals, "k", "ts",
        "start", "end", bucketSeconds = 3600)
      .select("tag", "interval_id").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(out.toSet == Set(
      ("in-first", 7L), ("in-long-interval-later-bucket", 7L)))
    assert(out.length == 2) // exactly one match each, no bucket dups
  }

  test("boundary timestamps are inclusive on both ends") {
    val points = Seq((1L, ts(1, 0), "at-start"), (1L, ts(2, 0), "at-end"))
      .toDF("k", "ts", "tag")
    val intervals = Seq((1L, ts(1, 0), ts(2, 0), 1L))
      .toDF("k", "start", "end", "interval_id")
    val out = RangeJoin.pointInInterval(points, intervals, "k", "ts",
      "start", "end", 3600).count()
    assert(out == 2)
  }
}
