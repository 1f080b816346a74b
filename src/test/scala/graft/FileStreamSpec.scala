package graft

import java.nio.file.Files

import org.apache.spark.sql.streaming.OutputMode

import graft.streaming.Realtime

/** S13/ST8 — the file-based streaming source path: JSON events dropped
  * into a folder drive the same continuous queries the Kafka source would
  * (identical downstream plan; only the source format differs). */
class FileStreamSpec extends SparkSpec {

  test("JSON folder stream → running totals == batch") {
    val dir = Files.createTempDirectory("graft_stream_in").toString
    val events = (0 until 50).map { i =>
      s"""{"event_id":$i,"ts":"2024-01-01T00:${"%02d".format(i % 60)}:00.000Z","user_id":${i % 5},"event_type":"${if (i % 3 == 0) "view" else "click"}","value":${i % 7}.5}"""
    }
    Files.writeString(java.nio.file.Paths.get(s"$dir/batch1.json"),
      events.mkString("\n"))
    val stream = graft.sources.Sources.jsonStream(spark, dir, Realtime.eventSchema)
    val q = Realtime.startMemorySink(
      Realtime.runningTotals(stream), "t_file_totals", OutputMode.Complete)
    q.processAllAvailable()
    q.stop()
    val batch = spark.read.schema(Realtime.eventSchema).json(dir)
    val want = Realtime.runningTotals(batch).orderBy("event_type").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    val got = spark.table("t_file_totals").orderBy("event_type").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq == want.toSeq)
    assert(got.map(_._2).sum == 50L)
  }
}
