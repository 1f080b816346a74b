package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.streaming.LmStream

/** Frozen-model streaming LM gate: version commit protocol, stream-vs-
  * batch score equivalence, threshold gating, replay safety. */
class LmStreamSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(tag: String) =
    java.nio.file.Files.createTempDirectory(tag).toString

  private def refCorpus = Seq(
    (1L, "the cat sat on the mat", "ref"),
    (2L, "the cat sat on the rug", "ref"),
    (3L, "the dog sat on the mat", "ref"),
    (4L, "the cat ran on the mat", "ref"),
    (5L, "a dog ran to the rug", "ref"))
    .toDF("doc_id", "text", "source")

  test("trainModel commits versioned artifacts; partial versions invisible") {
    val modelDir = tmp("lmmodel")
    assert(LmStream.modelVersions(spark, modelDir).isEmpty)
    val v0 = LmStream.trainModel(spark, refCorpus, modelDir)
    assert(v0 === 0 && LmStream.modelVersions(spark, modelDir) === Seq(0))
    // a partial (uncommitted) version must be invisible to readers...
    val fs = new org.apache.hadoop.fs.Path(modelDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$modelDir/v1/model"))
    assert(LmStream.modelVersions(spark, modelDir) === Seq(0))
    // ...and reclaimed by the next trainer, which lands AT that slot
    val v1 = LmStream.trainModel(spark, refCorpus, modelDir)
    assert(v1 === 1 && LmStream.modelVersions(spark, modelDir) === Seq(0, 1))
  }

  test("scoreBatch against the frozen model == in-place pruned scoring of ref∪batch bigram rows") {
    // scoring MUST use the frozen reference model, not retrain on the
    // batch: a batch full of repeated garble would otherwise score its
    // own garble as high-probability
    val modelDir = tmp("lmmodel")
    LmStream.trainModel(spark, refCorpus, modelDir)
    val batch = Seq(
      (100L, "the cat sat on the mat", "crawl"), // in-distribution
      (101L, "zz qq xx yy zz qq", "crawl"))      // garble
      .toDF("doc_id", "text", "source")
    val scores = LmStream.scoreBatch(spark, modelDir)(batch)
      .select("doc_id", "avg_ll").as[(Long, Double)].collect().toMap
    // in-distribution text scores strictly above out-of-vocabulary garble
    assert(scores(100L) > scores(101L) + 0.5,
      s"frozen-model gate failed to separate: $scores")
    // garble backs off to the vocabulary floor: every bigram unseen,
    // every context unseen -> avg_ll == ln(1/V), V = 10 distinct ref tokens
    assert(math.abs(scores(101L) - math.log(1.0 / 10)) < 1e-5)
  }

  test("startScored gates a stream; replayed output lands per-batch idempotently") {
    val modelDir = tmp("lmmodel")
    val outDir = tmp("lmout")
    LmStream.trainModel(spark, refCorpus, modelDir)
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, String)]
    val docs = stream.toDF.toDF("doc_id", "text")
    // threshold between the in-distribution score (~ -1.58) and floor (-2.30)
    val q = LmStream.startScored(docs, modelDir, outDir, tmp("lmchk"), -2.2)
    stream.addData((200L, "the cat sat on the mat"), (201L, "zz qq xx yy"))
    q.processAllAvailable()
    stream.addData((202L, "sat on the mat"))
    q.processAllAvailable()
    q.stop()
    val out = spark.read.parquet(outDir)
      .select("doc_id", "lm_pass").as[(Long, Int)].collect().toMap
    assert(out === Map(200L -> 1, 201L -> 0, 202L -> 1))
  }
}
