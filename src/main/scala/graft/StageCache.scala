package graft

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** Materialized stage views: several registered queries are tiers over
  * the same expensive intermediate (q07/q08 share the scored RFM frame;
  * d07/d11/d12/d23 share MinHash signatures over the documents table;
  * d13/d18 share the quality gate + signatures + shingles). Each stage is
  * keyed by (session, data dir, tag), built once and pinned with
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
  * Pins. [[pin]] is the only `cache` in the program outside the census
  * mains, and [[checkpoint]] the owned `localCheckpoint`: a function's
  * multiply-read frame gets the lifetime of the open scope, so no caller
  * frees what a callee pinned. A pin taken while a stage builds belongs
  * to that build and is released when the build returns, since the stage
  * is an eager snapshot that no longer reads it. A stage built inside
  * another stage's build keeps the owner it would have had without that
  * build: the open scope, or the session.
  *
  * At 100 TB this is the "silver table" pattern: the shared stage is a
  * persisted intermediate dataset, not a per-query recompute; here the
  * persistence is executor-local blocks instead of a lake write.
  */
object StageCache {

  /** An open lifetime; see [[scoped]]. A build's scope (`build`, see
    * [[cached]]) holds only the pins its build takes; the stages built or
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

  /** Stable per-session key: identity hash is safe here because the map
    * value holds a strong reference to the session itself — the session
    * cannot be GC'd while its entry lives, so its identity hash cannot be
    * reused by a new session. (Spark 4.1's `sessionUUID` is private[sql],
    * so it is not an option from this package.) */
  private def sessionKey(spark: SparkSession): String =
    s"id${System.identityHashCode(spark)}"

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

  /** `df.localCheckpoint()` — an eager snapshot — owned like a [[pin]]:
    * released when the open scope closes or the stage build returns.
    * Outside both nothing holds it, so the ContextCleaner reclaims it once
    * the frame is unreferenced. */
  def checkpoint(df: DataFrame): DataFrame = {
    val cp = df.localCheckpoint()
    synchronized(own(new Pinned(df.sparkSession, null, cp, () => unpersistCheckpoint(cp))))
    cp
  }

  /** Drop every stage owned by `spark` — the cold-path bench hook
    * (SPARK_GRAFT_COLD): clearing before each timed pass makes a tiered
    * query pay its shared-stage build cost, so the bench board carries
    * both the deployed (persisted-silver) number and the from-scratch
    * one. The checkpoint blocks release via the ContextCleaner once the
    * dropped frames are GC'd. */
  def clear(spark: SparkSession): Unit = synchronized {
    stages.filterInPlace((_, p) => p.spark ne spark)
  }

  /** Build-once per (session, dir, tag): returns the eagerly
    * materialized (localCheckpoint'd) frame on every call.
    *
    * RE-ENTRANT by design: a stage build may itself resolve another
    * cached stage (q52_intervals builds on q52_changes), so the build
    * runs OUTSIDE the lock. The get → build → put race can at worst
    * build a stage twice concurrently (same deterministic result); the
    * loser's blocks are released at once. The build runs in its own
    * scope: every [[pin]] and [[checkpoint]] it takes is released once the
    * stage is materialized, while a stage it builds on keeps its owner. */
  def cached(spark: SparkSession, dir: String, tag: String)
      (build: => DataFrame): DataFrame = {
    val key = s"${sessionKey(spark)}:$dir:$tag"
    val hit = synchronized {
      // evict entries of stopped sessions: their checkpoint blocks died
      // with the executor, so the frames are unusable, and keeping them
      // would leak plans for the life of the JVM
      stages.filterInPlace((_, p) => !p.spark.sparkContext.isStopped)
      stages.get(key).map(touch)
    }
    hit.map(_.df).getOrElse {
      val df = open(new Scope(spark, build = true, outer = stageScope))(
        build.localCheckpoint())
      val built = new Pinned(spark, key, df, () => unpersistCheckpoint(df))
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
      case r: LogicalRDD => r.rdd.unpersist(blocking = false)
      case _ =>
    }
}
