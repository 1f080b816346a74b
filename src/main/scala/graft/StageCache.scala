package graft

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.graft.SnapshotRelease

/** Materialized stage views: several registered queries are tiers over
  * the same expensive intermediate (q07/q08 share the scored RFM frame;
  * d07/d11/d12/d23 share MinHash signatures over the documents table;
  * d13/d18 share the quality gate + signatures + shingles), and a trained
  * model is a stage (a10/a10b/a11 read the a10 centroids, d33b/d48 the
  * BPE merge table), so [[clear]] makes the next reader train again.
  * Each stage is keyed by (session, data dir, tag), built once and pinned with
  * localCheckpoint (r3 lesson: checkpoint, not cache, when separate
  * actions consume a frame — cache still recomputes the lineage per
  * action for `repartitionByRange` inputs and interpreted lambdas).
  *
  * Lifetime. A stage built outside any scope lives for the session: the
  * Verify and Bench sweeps open none, so every later query reuses it. A
  * stage first built while a [[scoped]] block is open belongs to that
  * block, and to every other open block that reads it; it is unpersisted
  * when the last of them closes, whether its body returned or threw. A
  * reader outside any scope turns a scoped stage into a session stage.
  * The Runner layers each run in a scope: their pins have no reader once
  * the layer has committed its outputs.
  *
  * Pins. [[pin]] is the only `cache` and [[snapshot]] the only
  * `localCheckpoint` in the program outside the census mains, so the
  * cache-or-checkpoint choice is made here alone. A function's
  * multiply-read frame gets the lifetime of the open scope, so no caller
  * frees what a callee pinned. A pin taken while a snapshot or a stage
  * builds belongs to that build and is released when the build returns,
  * since the result is an eager snapshot that no longer reads it; an
  * iterative operator built as one snapshot frees its rounds that way. A
  * stage built inside a build keeps the owner it would have had without
  * it: the open scope, or the session.
  *
  * At 100 TB this is the "silver table" pattern: the shared stage is a
  * persisted intermediate dataset, not a per-query recompute; here the
  * persistence is executor-local blocks instead of a lake write.
  */
object StageCache {

  /** An open lifetime; see [[scoped]]. A build's scope (`build`, see
    * [[snapshot]]) holds only the pins its build takes; the stages built or
    * read in it go to `outer`, the scope they would have had without the
    * build (None: the session). */
  final class Scope private[StageCache] (private[StageCache] val spark: SparkSession,
      private[StageCache] val build: Boolean, private[StageCache] val outer: Option[Scope]) {
    private[StageCache] var open = true
    private[StageCache] val held = mutable.Set.empty[Pinned]
  }

  /** One pinned frame. `owners` is None for a session-lifetime pin, else
    * the open scopes that touched it. `key` is null for [[pin]]. */
  private final class Pinned(val spark: SparkSession, val key: String,
      val df: DataFrame, val release: () => Unit) {
    var owners: Option[mutable.Set[Scope]] = None
  }

  // guarded by `this`; builds run outside the lock (they may re-enter)
  private val stages = mutable.HashMap.empty[String, Pinned]

  private val current = new ThreadLocal[Option[Scope]] {
    override def initialValue(): Option[Scope] = None
  }

  /** Stable key per (session, dir, tag): identity hash is safe here
    * because the map value holds a strong reference to the session itself
    * — the session cannot be GC'd while its entry lives, so its identity
    * hash cannot be reused by a new session. (Spark 4.1's `sessionUUID`
    * is private[sql], so it is not an option from this package.) */
  private def stageKey(spark: SparkSession, dir: String, tag: String): String =
    s"id${System.identityHashCode(spark)}:$dir:$tag"

  /** Run `body` with a fresh scope open on this thread: every stage first
    * built and every [[pin]] taken in it (on this thread, or on a thread
    * that adopts it with [[within]]) is released when it closes, unless
    * another open scope still holds it. Frames obtained in the scope are
    * valid until then. Release is `unpersist(blocking = false)`. */
  def scoped[T](spark: SparkSession)(body: => T): T =
    open(new Scope(spark, build = false, outer = None))(body)

  private def open[T](scope: Scope)(body: => T): T =
    try within(Some(scope))(body) finally close(scope)

  /** The calling thread's innermost open scope, for [[within]]. */
  def currentScope: Option[Scope] = current.get

  /** Run `body` under `scope` on this thread — how a worker thread's
    * builds join the scope of the thread that submitted the work. */
  def within[T](scope: Option[Scope])(body: => T): T = {
    val outer = current.get
    current.set(scope)
    try body finally current.set(outer)
  }

  /** Pin `df` (`cache`) for a function that reads it more than once. In a
    * scope it is unpersisted when the scope closes, in a stage build when
    * the build returns; outside both it stays cached for the session. A
    * plan that is already cached belongs to whoever cached it first, so it
    * is returned as is. */
  def pin(df: DataFrame): DataFrame =
    if (df.storageLevel.isValid) df
    else {
      val cached = df.cache()
      synchronized(own(new Pinned(df.sparkSession, null, cached,
        () => cached.unpersist(blocking = false))))
      cached
    }

  /** An eager snapshot (`localCheckpoint`) of the frame `body` builds,
    * owned like a [[pin]]: released when the open scope closes or the
    * enclosing build returns. Outside both nothing holds it, so the
    * ContextCleaner reclaims it once the frame is unreferenced. `body`
    * runs as a build: every [[pin]] and snapshot it takes is released
    * once the result is materialized, while a stage it builds keeps its
    * owner. */
  def snapshot(spark: SparkSession)(body: => DataFrame): DataFrame =
    synchronized(own(materialize(spark, null)(body))).df

  /** [[snapshot]] of a frame already built. */
  def checkpoint(df: DataFrame): DataFrame = snapshot(df.sparkSession)(df)

  /** Drop every stage owned by `spark` — the cold-path bench hook
    * (SPARK_GRAFT_COLD): clearing before each timed pass makes a tiered
    * query pay its shared-stage build cost, so the bench board carries
    * both the deployed (persisted-silver) number and the from-scratch
    * one. The dropped session stages are released at once; a stage an
    * open scope owns is left to that scope. */
  def clear(spark: SparkSession): Unit = dropWhere(spark)(_ => true)

  /** Drop the (dir, tag) stage of `spark`, released as [[clear]] releases
    * it: the next reader builds it again. */
  def drop(spark: SparkSession, dir: String, tag: String): Unit = {
    val key = stageKey(spark, dir, tag)
    dropWhere(spark)(_ == key)
  }

  private def dropWhere(spark: SparkSession)(hit: String => Boolean): Unit = {
    val dropped = synchronized {
      val mine = stages.filter { case (k, p) => (p.spark eq spark) && hit(k) }
      stages --= mine.keys
      mine.values.filter(_.owners.isEmpty).toList
    }
    if (!spark.sparkContext.isStopped) dropped.foreach(_.release())
  }

  /** Build-once per (session, dir, tag): returns the eagerly
    * materialized (localCheckpoint'd) frame on every call.
    *
    * RE-ENTRANT by design: a stage build may itself resolve another
    * cached stage (q52_intervals builds on q52_changes), so the build
    * runs OUTSIDE the lock. The get → build → put race can at worst
    * build a stage twice concurrently (same deterministic result); the
    * loser's blocks are released at once. The build is a [[snapshot]]'s:
    * what it pins is released once the stage is materialized. */
  def cached(spark: SparkSession, dir: String, tag: String)
      (build: => DataFrame): DataFrame = {
    val key = stageKey(spark, dir, tag)
    val hit = synchronized {
      // evict entries of stopped sessions: their checkpoint blocks died
      // with the executor, so the frames are unusable, and keeping them
      // would leak plans for the life of the JVM
      stages.filterInPlace((_, p) => !p.spark.sparkContext.isStopped)
      stages.get(key).map(touch)
    }
    hit.map(_.df).getOrElse {
      val built = materialize(spark, key)(build)
      val winner = synchronized {
        stages.get(key).map(touch).getOrElse {
          stages(key) = built
          own(built)
        }
      }
      if (winner ne built) built.release()
      winner.df
    }
  }

  /** `body`, localCheckpointed in a build scope that releases what the
    * build pinned; the result has no owner yet. */
  private def materialize(spark: SparkSession, key: String)(body: => DataFrame): Pinned = {
    val df = open(new Scope(spark, build = true, outer = stageScope))(body.localCheckpoint())
    new Pinned(spark, key, df, () => unpersistCheckpoint(df))
  }

  /** Where a stage built or read on this thread belongs: the innermost
    * scope, or, in a build, the scope the build would have had. */
  private def stageScope: Option[Scope] =
    current.get.flatMap(s => if (s.build) s.outer else Some(s))

  /** The calling thread's owner for `p` (a stage or a pin), if it is open
    * and of `p`'s session. */
  private def scopeFor(p: Pinned): Option[Scope] =
    (if (p.key == null) current.get else stageScope)
      .filter(s => s.open && (s.spark eq p.spark))

  /** A new pin: owned by the calling thread's scope, if any; else it lives
    * for the session. Under the lock. */
  private def own(p: Pinned): Pinned = {
    scopeFor(p).foreach { s => p.owners = Some(mutable.Set(s)); s.held += p }
    p
  }

  /** A read of an existing stage: a scoped stage gains the reader's scope
    * as an owner; a reader with no scope makes it a session stage. Under
    * the lock. */
  private def touch(p: Pinned): Pinned = {
    p.owners.foreach { owners =>
      scopeFor(p) match {
        case Some(s) => owners += s; s.held += p
        case None =>
          owners.foreach(_.held -= p)
          p.owners = None
      }
    }
    p
  }

  private def close(scope: Scope): Unit = {
    val released = synchronized {
      scope.open = false
      scope.held.foreach(p => p.owners.foreach(_ -= scope))
      val last = scope.held.toList.filter(_.owners.exists(_.isEmpty))
      scope.held.clear()
      last.foreach(p => if (p.key != null && stages.get(p.key).contains(p)) stages.remove(p.key))
      last
    }
    if (!scope.spark.sparkContext.isStopped) released.foreach(_.release())
  }

  /** A localCheckpoint'd frame is a LogicalRDD over the persisted RDD. */
  private def unpersistCheckpoint(df: DataFrame): Unit =
    df.queryExecution.logical.foreach {
      case r: LogicalRDD => SnapshotRelease(r.rdd)
      case _ =>
    }
}
