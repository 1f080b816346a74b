package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

import graft.pipeline.Runner

/** StageCache lifetimes: session stages outlive every scope; a stage or
  * pin first taken in a scope is released (its blocks unpersisted) when
  * the last open scope that touched it closes; a pin taken by a stage's
  * or a snapshot's build is released when the build returns. */
class StageCacheSpec extends SparkSpec {

  private val dir = s"stagecache-${java.util.UUID.randomUUID()}"

  /** A stage under a fresh tag, and a counter of its builds. */
  private def stage(tag: String, builds: AtomicInteger): DataFrame =
    StageCache.cached(spark, dir, tag) {
      builds.incrementAndGet()
      spark.range(1000).toDF("id")
    }

  private def rddIds(df: DataFrame): Set[Int] =
    df.queryExecution.logical.collect { case r: LogicalRDD => r.rdd.id }.toSet

  private def stored(): Set[Int] = spark.sparkContext.getRDDStorageInfo.map(_.id).toSet

  private def assertReleased(df: DataFrame): Unit = {
    val ids = rddIds(df)
    assert(ids.nonEmpty)
    assert((ids & spark.sparkContext.getPersistentRDDs.keySet).isEmpty)
    assert((ids & stored()).isEmpty)
  }

  test("a stage first built in a scope is released when the scope closes") {
    val builds = new AtomicInteger
    val df = StageCache.scoped(spark) {
      val df = stage("inner", builds)
      assert(stage("inner", builds).count() == 1000 && builds.get == 1)
      assert(rddIds(df).subsetOf(stored()))
      df
    }
    assertReleased(df)
    // gone from the cache too: the next reader builds it again
    stage("inner", builds)
    assert(builds.get == 2)
  }

  test("a stage built before the scope keeps its session lifetime") {
    val builds = new AtomicInteger
    val df = stage("session", builds)
    StageCache.scoped(spark)(assert(stage("session", builds).count() == 1000))
    assert(rddIds(df).subsetOf(stored()))
    assert(stage("session", builds).count() == 1000 && builds.get == 1)
  }

  test("a body that throws still releases what it pinned") {
    val builds = new AtomicInteger
    var df: DataFrame = null
    var pinned: DataFrame = null
    intercept[IllegalStateException] {
      StageCache.scoped(spark) {
        df = stage("throws", builds)
        pinned = StageCache.pin(spark.range(500).toDF("p"))
        assert(pinned.count() == 500 && pinned.storageLevel.isValid)
        throw new IllegalStateException("sink failed")
      }
    }
    assertReleased(df)
    assert(pinned.storageLevel == StorageLevel.NONE)
  }

  test("builds on Runner.inParallel pool threads belong to the caller's scope") {
    val builds = new AtomicInteger
    val stages, pins = new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]
    val before = spark.sparkContext.getPersistentRDDs.keySet
    StageCache.scoped(spark) {
      Runner.inParallel(spark, (1 to 3).map(i => () => {
        stages.add(stage(s"pool$i", builds))
        val p = StageCache.pin(spark.range(100 * i).toDF("p"))
        assert(p.count() == 100L * i)
        pins.add(p)
      }))
      assert(stages.size == 3 && stages.asScala.forall(rddIds(_).subsetOf(stored())))
      assert(pins.size == 3 && pins.asScala.forall(_.storageLevel.isValid))
    }
    stages.forEach(assertReleased(_))
    assert(pins.asScala.forall(_.storageLevel == StorageLevel.NONE))
    assert(spark.sparkContext.getPersistentRDDs.keySet == before)
  }

  test("a stage touched by two overlapping scopes lives until the second closes") {
    val builds = new AtomicInteger
    val built = new CountDownLatch(1)
    val readBySecond = new CountDownLatch(1)
    var df: DataFrame = null
    val first = new Thread(() => {
      StageCache.scoped(spark) {
        df = stage("shared", builds)
        built.countDown()
        // hold the first scope open until the second has read the stage
        readBySecond.await(60, TimeUnit.SECONDS)
      }
    })
    StageCache.scoped(spark) {
      first.start()
      assert(built.await(60, TimeUnit.SECONDS))
      assert(stage("shared", builds) eq df)
      readBySecond.countDown()
      first.join(60000)
      assert(!first.isAlive)
      assert(rddIds(df).subsetOf(stored()))
      assert(df.count() == 1000 && builds.get == 1)
    }
    assertReleased(df)
  }

  /** `n` threads that each run `body(i)` once all of them are in their
    * stage build, so the builds overlap; returns the frames they got. */
  private def racedBuilds(n: Int)(body: (Int, => DataFrame) => DataFrame): Seq[DataFrame] = {
    val inBuild = new java.util.concurrent.CyclicBarrier(n)
    val got = new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]
    val threads = (0 until n).map(i => new Thread(() => got.add(body(i, {
      inBuild.await(60, TimeUnit.SECONDS)
      spark.range(1000).toDF("id")
    }))))
    threads.foreach(_.start())
    threads.foreach(_.join(60000))
    got.asScala.toSeq
  }

  test("two threads building one stage at once get one frame; the loser's snapshot is released") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val got = racedBuilds(2)((_, build) => StageCache.cached(spark, dir, "race")(build))
    assert(got.size == 2 && (got(0) eq got(1)))
    // both builds ran (the barrier needs both), one snapshot stays pinned
    assert(spark.sparkContext.getPersistentRDDs.keySet -- before == rddIds(got(0)))
    StageCache.drop(spark, dir, "race")
    assertReleased(got(0))
  }

  test("two stages built at once on two threads in one scope are both released when it closes") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val got = StageCache.scoped(spark) {
      val scope = StageCache.currentScope
      val got = racedBuilds(2)((i, build) =>
        StageCache.within(scope)(StageCache.cached(spark, dir, s"raced$i")(build)))
      assert(got.size == 2 && got.forall(rddIds(_).subsetOf(stored())))
      got
    }
    got.foreach(assertReleased)
    assert(spark.sparkContext.getPersistentRDDs.keySet == before)
  }

  test("a stage build releases its own pins; a stage built in it keeps its owner") {
    val builds, nestedBuilds = new AtomicInteger
    var pinned, snap, nested: DataFrame = null
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val df = StageCache.cached(spark, dir, "build-local") {
      builds.incrementAndGet()
      pinned = StageCache.pin(spark.range(300).toDF("p"))
      snap = StageCache.checkpoint(spark.range(200).toDF("c"))
      nested = stage("build-nested", nestedBuilds)
      nested.join(pinned, col("id") === col("p")).select(col("id"))
        .union(snap.select(col("c")))
    }
    // outside any scope: the build's pin and snapshot are gone once it
    // returns; the stage and the session stage built inside it remain
    assert(pinned.storageLevel == StorageLevel.NONE)
    assertReleased(snap)
    assert(spark.sparkContext.getPersistentRDDs.keySet -- before ==
      rddIds(df) ++ rddIds(nested))
    assert(df.count() == 500 && builds.get == 1)
    assert(stage("build-nested", nestedBuilds) eq nested)
    assert(nested.count() == 1000 && nestedBuilds.get == 1)

    // in a scope, the stage built inside a build belongs to the scope
    val scopedBuilds = new AtomicInteger
    val inScope = StageCache.scoped(spark) {
      StageCache.cached(spark, dir, "build-local-scoped")(
        stage("build-nested-scoped", scopedBuilds).filter(col("id") < 10))
      val n = stage("build-nested-scoped", scopedBuilds)
      assert(n.count() == 1000 && scopedBuilds.get == 1)
      n
    }
    assertReleased(inScope)
  }

  test("snapshot: the body's pins are released when it returns; the result lives as long as its owner") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    var pinned, inner: DataFrame = null
    val snap = StageCache.scoped(spark) {
      val snap = StageCache.snapshot(spark) {
        pinned = StageCache.pin(spark.range(400).toDF("p"))
        inner = StageCache.checkpoint(spark.range(300).toDF("c"))
        pinned.join(inner, col("p") === col("c")).select(col("c"))
      }
      // the body's pin and snapshot are gone once it returns ...
      assert(pinned.storageLevel == StorageLevel.NONE)
      assertReleased(inner)
      // ... while its result, owned by the scope, stays readable
      assert(rddIds(snap).subsetOf(stored()))
      assert(snap.count() == 300)
      snap
    }
    assertReleased(snap)
    assert(spark.sparkContext.getPersistentRDDs.keySet == before)

    // outside any scope the snapshot has no owner: a scope that reads it
    // does not release it
    val kept = StageCache.snapshot(spark)(spark.range(50).toDF("k"))
    StageCache.scoped(spark)(assert(kept.count() == 50))
    assert(rddIds(kept).subsetOf(stored()) && kept.count() == 50)
  }

  test("clear releases the session stages it drops and leaves scoped ones to their scope") {
    val builds = new AtomicInteger
    val session = stage("clear-session", builds)
    val ids = rddIds(session)
    assert(ids.subsetOf(spark.sparkContext.getPersistentRDDs.keySet))
    StageCache.scoped(spark) {
      val scoped = stage("clear-scoped", builds)
      StageCache.clear(spark)
      assert((ids & spark.sparkContext.getPersistentRDDs.keySet).isEmpty)
      assert(rddIds(scoped).subsetOf(spark.sparkContext.getPersistentRDDs.keySet))
      assert(scoped.count() == 1000)
    }
    // the next reader builds the cleared stage again
    stage("clear-session", builds)
    assert(builds.get == 3)
  }

  test("iterative and snapshotting queries run in a scope leave no persistent RDD behind") {
    val leaks = Seq("q51_copurchase_rank", "d23_dedup_clusters", "d28_token_rarity",
        "a12_mmr_rerank").map { q =>
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val rows = StageCache.scoped(spark)(SparkEntry.queries(q)(spark, sfDir).collect())
      assert(rows.nonEmpty, q)
      q -> spark.sparkContext.getPersistentRDDs.keySet.filterNot(before)
    }.filter(_._2.nonEmpty)
    assert(leaks.isEmpty, s"persistent RDDs left behind: $leaks")
  }

  test("trained models are stages: clear makes the next reader retrain") {
    // each artifact write leaves part files with a fresh name
    def parts(tag: String): Set[String] =
      Option(new java.io.File(graft.llm.Models.path(sfDir, tag)).list())
        .fold(Set.empty[String])(_.filter(_.startsWith("part-")).toSet)
    def train(): (Set[String], Set[String]) = {
      graft.llm.VectorOps.a10Index(spark, sfDir)
      graft.llm.LmOps.d33bMerges(spark, sfDir)
      (parts("a10_centroids"), parts("d33b_merges"))
    }
    val first = train()
    assert(first._1.nonEmpty && first._2.nonEmpty)
    assert(train() == first, "a live stage must not retrain")
    StageCache.clear(spark)
    val (a10, d33b) = train()
    assert(a10.nonEmpty && (a10 & first._1).isEmpty, "a10 centroids not retrained after clear")
    assert(d33b.nonEmpty && (d33b & first._2).isEmpty, "d33b merges not retrained after clear")
  }

  /** The census mains, which keep their own session-long caches and
    * snapshots and build their own shingle frames. */
  private val censusMains = Set("BpeBench", "CompactionBench", "GraphBench",
    "LayoutBench", "RecallBench", "SkewBench", "SpillBench").map(_ + ".scala")

  private val stageCacheOwners = censusMains + "StageCache.scala"

  /** `file:line: text` of every source line under src/main/scala, outside
    * the `exempt` files, that matches `call`. */
  private def callsOutside(exempt: Set[String],
      call: scala.util.matching.Regex): List[String] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the project root: no $root")
    Using.resource(Files.walk(root))(_.iterator.asScala.toList)
      .filter(p => p.toString.endsWith(".scala") && !exempt(p.getFileName.toString))
      .flatMap(p => Files.readAllLines(p).asScala.zipWithIndex.collect {
        case (line, i) if call.findFirstIn(line).isDefined => s"$p:${i + 1}: ${line.trim}"
      })
  }

  test("StageCache owns every cache: no other cache, persist or unpersist call") {
    val hits = callsOutside(stageCacheOwners, """\.cache\(\)|\.persist\(|unpersist\(""".r)
    assert(hits.isEmpty, hits.mkString("pin through StageCache instead:\n", "\n", ""))
  }

  test("StageCache owns every snapshot: no other localCheckpoint or checkpoint call") {
    val hits = callsOutside(stageCacheOwners, """localCheckpoint\(|(?<!StageCache)\.checkpoint\(""".r)
    assert(hits.isEmpty, hits.mkString("snapshot through StageCache instead:\n", "\n", ""))
  }

  test("StageCache owns every memo: no ConcurrentHashMap outside the KV store and the model registry") {
    val hits = callsOutside(Set("KvSink.scala", "Models.scala"), "ConcurrentHashMap".r)
    assert(hits.isEmpty, hits.mkString("memoize through StageCache.cached instead:\n", "\n", ""))
  }

  test("TextOps owns the shingle pipeline: no other n-gram builder or hashed-shingle projection") {
    // SketchOps' MinHash input hashes the shingle TEXT (two 40-bit md5
    // bases per shingle), so it is the one caller that needs the rows
    // before TextOps hashes them
    val minhashInput =
      """/SketchOps\.scala:\d+: .*TextOps\.shingleRows\(df, 3\)\.withColumnRenamed\("sh", "tok"\)""".r
    val hits = callsOutside(censusMains + "TextOps.scala",
        """shingleRows\(|ngramRows\(|conv\(substring\(md5\(.*,\s*1,\s*15\)""".r)
      .filterNot(minhashInput.findFirstIn(_).isDefined)
    assert(hits.isEmpty, hits.mkString(
      "read n-grams through TextOps.shingleHashes or a TextOps stage instead:\n", "\n", ""))
  }
}
