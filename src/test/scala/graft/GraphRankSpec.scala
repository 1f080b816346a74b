package graft

import graft.analytics.OlapQueries

/** q51's fixed-point weighted PageRank: the distributed arithmetic must
  * reproduce a driver-side integer simulation EXACTLY (the oracle's
  * cross-engine contract depends on every contribution being a pure
  * integer function summed order-free), plus structural sanity on the
  * real co-purchase graph. */
class GraphRankSpec extends SparkSpec {
  import spark.implicits._

  /** Reference implementation: same micro-unit integer arithmetic, plain
    * Scala maps. Long `/` truncates toward zero == Spark `div` == DuckDB
    * `//` on the all-positive ranks. */
  private def simulate(pairs: Seq[(Long, Long, Long)],
      iters: Int = 10): Map[Long, Long] = {
    val edges = pairs.flatMap { case (a, b, w) => Seq((a, b, w), (b, a, w)) }
    val wtot = edges.groupBy(_._1).map { case (s, es) => s -> es.map(_._3).sum }
    var r: Map[Long, Long] = wtot.keys.map(_ -> 1000000L).toMap
    for (_ <- 1 to iters) {
      val contrib = edges.groupBy(_._2).map { case (dst, es) =>
        dst -> es.map { case (s, _, w) => ((r(s) * 850L / 1000L) * w) / wtot(s) }.sum
      }
      r = r.keys.map(n => n -> (150000L + contrib(n))).toMap
    }
    r
  }

  test("weightedPageRank == the integer simulation on a weighted hub graph") {
    // weighted edges with a hub (node 2) and a pendant (node 5): exercises
    // unequal out-weights, multi-edge accumulation, and the damping base
    val pairs = Seq((1L, 2L, 3L), (2L, 3L, 1L), (3L, 4L, 2L),
      (2L, 4L, 5L), (5L, 2L, 1L))
    val got = OlapQueries.weightedPageRank(pairs.toDF("pa", "pb", "w"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val sim = simulate(pairs)
    assert(got.keySet == sim.keySet)
    for ((n, expected) <- sim)
      assert(got(n) == expected, s"node $n: got ${got(n)}, simulated $expected")
  }

  test("star graph: the hub outranks every leaf; symmetric leaves tie exactly") {
    val pairs = (2L to 9L).map(i => (1L, i, 1L))
    val got = OlapQueries.weightedPageRank(pairs.toDF("pa", "pb", "w"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val leafRanks = (2L to 9L).map(got)
    assert(leafRanks.distinct.size == 1, "symmetric leaves must tie bit-exactly")
    assert(got(1L) > leafRanks.head, "hub must dominate")
  }

  test("q51 at sf0.001: bounded output, base-mass floor, deterministic ordering") {
    val rows = OlapQueries.q51CopurchaseRank(spark, sfDir).collect()
    assert(rows.nonEmpty && rows.length <= 30)
    // every rank carries at least the damping base plus one contribution
    assert(rows.forall(_.getLong(1) > 150000L))
    val ranks = rows.map(r => (r.getLong(1), r.getLong(0)))
    assert(ranks.sameElements(ranks.sortBy { case (r, id) => (-r, id) }),
      "rows must arrive rank-desc, part_id tie-broken asc")
  }

  test("ε-exit, ε=0 (exact stationarity): a regular graph converges in 2 rounds, bit-identical to the full count") {
    // triangle with equal weights: every node's update reproduces 1e6
    // exactly, so the rank vector is stationary from round 1 and the
    // early exit is provably equal to the 10-iteration run
    val pairs = Seq((1L, 2L, 1L), (2L, 3L, 1L), (1L, 3L, 1L)).toDF("pa", "pb", "w")
    val full = OlapQueries.weightedPageRank(pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    spark.conf.set(OlapQueries.ConvergeEpsKey, "0")
    try {
      val (df, iters) = OlapQueries.weightedPageRankConverged(pairs)
      val got = df.collect().map(r => (r.getLong(0), r.getLong(1))).sorted
      assert(got === full, "ε=0 exit must be bit-identical to the fixed count")
      assert(iters < 10 && iters >= 1,
        s"the stationary graph must exit early (ran $iters)")
    } finally spark.conf.unset(OlapQueries.ConvergeEpsKey)
  }

  test("ε-exit on an EMPTY edge frame: converged immediately, no NPE (ADVICE r17)") {
    val pairs = Seq.empty[(Long, Long, Long)].toDF("pa", "pb", "w")
    spark.conf.set(OlapQueries.ConvergeEpsKey, "0")
    try {
      // the delta join of two empty rank frames aggregates max() to one
      // NULL row — an empty node set is converged, not a crash
      val (df, iters) = OlapQueries.weightedPageRankConverged(pairs)
      assert(df.count() === 0L)
      assert(iters === 1, s"empty graph must exit at the first check (ran $iters)")
    } finally spark.conf.unset(OlapQueries.ConvergeEpsKey)
  }

  test("ε-exit, ε>0: result equals the fixed run at exactly the converged iteration") {
    val pairs = Seq((1L, 2L, 3L), (2L, 3L, 1L), (3L, 4L, 2L),
      (2L, 4L, 5L), (5L, 2L, 1L)).toDF("pa", "pb", "w")
    // deltas on this graph: 184152 at round 8, 137685 at round 9 — the
    // 0.15 tolerance exits at exactly round 9, one before the cap
    spark.conf.set(OlapQueries.ConvergeEpsKey, "150000")
    val (df, iters) = try OlapQueries.weightedPageRankConverged(pairs)
      finally spark.conf.unset(OlapQueries.ConvergeEpsKey)
    assert(iters === 9, s"ε=150000 must stop at round 9 (ran $iters)")
    val got = df.collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    // the contract: an ε-exited run IS the fixed run of `iters` rounds —
    // that is the count its oracle must be generated at
    val fixed = OlapQueries.weightedPageRank(pairs, maxIters = iters)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(got === fixed)
    // and the simulation agrees at that count
    val sim = simulate(Seq((1L, 2L, 3L), (2L, 3L, 1L), (3L, 4L, 2L),
      (2L, 4L, 5L), (5L, 2L, 1L)), iters)
    assert(got.toMap === sim)
  }
}
