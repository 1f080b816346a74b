package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

import graft.pipeline.Runner

/** StageCache lifetimes: session stages outlive every scope; a stage or
  * pin first taken in a scope is released (its blocks unpersisted) when
  * the last open scope that touched it closes. */
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
}
