package graft

import graft.llm.VectorOps

/** Recall contract for the k-means IVF tier (a04b) against the exact
  * brute-force baseline (a01). The fixture embeddings are structureless
  * random vectors (measured: within-label cosine == cross-label), the
  * worst case for IVF — the asserted floors are the measured curve minus
  * a small float-assignment margin. */
class IvfSpec extends SparkSpec {

  private def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("k-means IVF multi-probe recall vs brute force (a04b contract)") {
    val exact = pairs(VectorOps.a01AnnBruteForce(spark, sfDir))
    assert(exact.size == 100) // 20 queries × top-5

    val at5 = pairs(VectorOps.ivfKmeans(spark, sfDir, k = 8, iters = 4, nprobe = 5,
      tag = "ivf_spec_centroids"))
    val recall5 = exact.intersect(at5).size.toDouble / exact.size
    assert(recall5 >= 0.9, s"recall@nprobe=5 = $recall5")

    // probing every list degenerates to brute force: recall must be exact
    val at8 = pairs(VectorOps.ivfKmeans(spark, sfDir, k = 8, iters = 4, nprobe = 8,
      tag = "ivf_spec_centroids"))
    val recall8 = exact.intersect(at8).size.toDouble / exact.size
    assert(recall8 == 1.0, s"recall@nprobe=k = $recall8")
  }
}
