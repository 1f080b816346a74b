package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables

/** Similarity search over the `embeddings` table (driver mandate
  * SURVEY.md §7.5): brute-force cosine top-k as the exactness baseline and
  * a sign-LSH bucketed variant as the scale path.
  *
  * Numeric contract with the oracle: dot products are computed as a
  * SEQUENTIAL left-to-right fold over the array (`aggregate(zip_with(...))`)
  * with floats promoted to double before multiplying — the same order and
  * precision DuckDB's list arithmetic uses, so the doubles are
  * bit-identical (float addition is not associative; an unordered parallel
  * reduction would not match).
  *
  * Scale design: brute-force is O(|Q|·N) — correct but only for small
  * query sets; the LSH variant prunes candidates by equi-joining on a
  * bucket id (here sign-bits of the leading dimensions; production would
  * use random hyperplanes), turning the cross join into a hash join whose
  * build side is one bucket. An IVF upgrade replaces the bucket id with a
  * nearest-centroid id from a sampled k-means — same join shape.
  */
object VectorOps {

  /** Sequential-fold dot product of two float-array columns, in double.
    * Backed by the codegen [[org.apache.spark.sql.graft.DotProduct]]
    * expression — identical semantics to `aggregate(zip_with(...))`
    * (left-to-right double accumulation) at ~10× the throughput. */
  def dot(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.VectorExpressions.dotProduct(a, b)

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))

  /** Cosine with precomputed norms: each vector's ‖v‖ is computed once
    * per VECTOR, not once per PAIR (3× fewer dot products in the pairwise
    * joins). `sqrt(dot(v,v))` precomputed equals the inline form exactly
    * — same expression over the same data — so oracle parity holds. */
  private def cosinePre(dotAB: Column, normA: Column, normB: Column): Column =
    dotAB / (normA * normB)

  private def norm(v: Column): Column = sqrt(dot(v, v))

  private[graft] val K = 5
  private[graft] val NQueries = 20

  // ---------------------------------------------------------------------
  // a01 — brute-force cosine top-k: the first 20 vectors are the query
  // set; for each, rank all other vectors by cosine desc (vec_id
  // tie-break) and keep the top 5.
  // ---------------------------------------------------------------------
  def a01AnnBruteForce(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.embeddings(spark, dir)
      .withColumn("__norm", norm(col("embedding")))
    val q = e.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        col("__norm").as("qn"))
    val n = e.select(col("vec_id").as("neighbor_id"), col("embedding").as("ne"),
      col("__norm").as("nn"))
    val scored = q.join(n, col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosinePre(dot(col("qe"), col("ne")), col("qn"), col("nn")).as("cos_sim"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= K)
      .orderBy(col("query_id"), col("rank"))
  }

  private val dotSql =
    "list_dot_product(CAST(%s AS DOUBLE[]), CAST(%s AS DOUBLE[]))"

  private def cosSql(a: String, b: String): String =
    s"${dotSql.format(a, b)} / (sqrt(${dotSql.format(a, a)}) * sqrt(${dotSql.format(b, b)}))"

  val a01Sql: String =
    s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < $NQueries),
       |n AS (SELECT vec_id AS neighbor_id, embedding AS ne FROM embeddings),
       |scored AS (
       |  SELECT query_id, neighbor_id, ${cosSql("qe", "ne")} AS cos_sim
       |  FROM q JOIN n ON query_id <> neighbor_id),
       |ranked AS (
       |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |    ORDER BY cos_sim DESC, neighbor_id) AS INTEGER) AS rank
       |  FROM scored)
       |SELECT query_id, neighbor_id, cos_sim, rank FROM ranked
       |WHERE rank <= $K ORDER BY query_id, rank""".stripMargin

  // ---------------------------------------------------------------------
  // a02 — sign-LSH bucketed ANN: bucket = sign bits of the first 8
  // dimensions (an axis-aligned hyperplane LSH family); candidates share
  // the query's bucket, so the cross join becomes a bucket equi-join.
  // ---------------------------------------------------------------------
  private val LshBits = 8

  def signBucket(emb: Column): Column =
    (0 until LshBits)
      .map(i => when(element_at(emb, i + 1) > 0f, lit(1 << i)).otherwise(lit(0)))
      .reduce(_ + _)

  def a02AnnLshBucketed(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.embeddings(spark, dir)
      .withColumn("bucket", signBucket(col("embedding")))
      .withColumn("__norm", norm(col("embedding")))
    val q = e.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        col("bucket"), col("__norm").as("qn"))
    val n = e.select(col("vec_id").as("neighbor_id"), col("embedding").as("ne"),
      col("bucket").as("nbucket"), col("__norm").as("nn"))
    val scored = q.join(n,
        col("bucket") === col("nbucket") && col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), col("bucket"),
        cosinePre(dot(col("qe"), col("ne")), col("qn"), col("nn")).as("cos_sim"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= K)
      .orderBy(col("query_id"), col("rank"))
  }

  // ---------------------------------------------------------------------
  // a04 — IVF-style ANN: vectors are assigned to their nearest centroid
  // (inverted file); a query probes only its own centroid's list. The
  // "trained" centroids are a deterministic sample (first NCentroids
  // vectors) so the oracle can reproduce the assignment; production runs
  // sampled k-means — the join shape (argmin assign → bucket equi-join)
  // is identical. nprobe=1 here; multi-probe = union of the nearest P
  // centroid lists.
  // ---------------------------------------------------------------------
  private val NCentroids = 8

  def a04AnnIvf(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.embeddings(spark, dir)
      .withColumn("__norm", norm(col("embedding")))
    val cents = e.filter(col("vec_id") < NCentroids)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("ce"))
    // assignment: argmax cosine (centroid_id tie-break) — the shared
    // pure-projection form (see assignTo's scaladoc)
    val assigned = assignTo(e, cents)
    val q = assigned.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        col("__norm").as("qn"), col("centroid_id").as("qc"))
    val n = assigned.select(col("vec_id").as("neighbor_id"),
      col("embedding").as("ne"), col("__norm").as("nn"),
      col("centroid_id").as("nc"))
    val scored = q.join(n,
        col("qc") === col("nc") && col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), col("qc").as("centroid_id"),
        cosinePre(dot(col("qe"), col("ne")), col("qn"), col("nn")).as("cos_sim"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= K)
      .orderBy(col("query_id"), col("rank"))
  }

  val a04Sql: String =
    s"""WITH cents AS (
       |  SELECT vec_id AS centroid_id, embedding AS ce FROM embeddings
       |  WHERE vec_id < $NCentroids),
       |assigned AS (
       |  SELECT vec_id, embedding, centroid_id FROM (
       |    SELECT e.vec_id, e.embedding, c.centroid_id,
       |           ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |             ORDER BY ${cosSql("e.embedding", "c.ce")} DESC, c.centroid_id) AS rn
       |    FROM embeddings e CROSS JOIN cents c)
       |  WHERE rn = 1),
       |q AS (SELECT vec_id AS query_id, embedding AS qe, centroid_id AS qc
       |      FROM assigned WHERE vec_id < $NQueries),
       |n AS (SELECT vec_id AS neighbor_id, embedding AS ne, centroid_id AS nc
       |      FROM assigned),
       |scored AS (
       |  SELECT query_id, neighbor_id, qc AS centroid_id,
       |         ${cosSql("qe", "ne")} AS cos_sim
       |  FROM q JOIN n ON qc = nc AND query_id <> neighbor_id),
       |ranked AS (
       |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |    ORDER BY cos_sim DESC, neighbor_id) AS INTEGER) AS rank
       |  FROM scored)
       |SELECT query_id, neighbor_id, centroid_id, cos_sim, rank FROM ranked
       |WHERE rank <= $K ORDER BY query_id, rank""".stripMargin

  // ---------------------------------------------------------------------
  // a04b — IVF with k-means-TRAINED centroids + multi-probe (round-1
  // verdict #8; a04's deterministic-sample centroids are the oracle tier).
  // Training is Lloyd's: deterministic init (first k vectors), KmIters
  // distributed assign/recompute rounds; the model (k × dim rows) is
  // cached per round — bounded by cluster count, never data size. Queries
  // probe their NProbe nearest centroid lists; exact cosine top-K runs
  // within the candidate union only. A neighbor belongs to exactly one
  // list and probes are distinct, so no dedup step is needed.
  //
  // TRAINING has no DuckDB oracle (iterative — not one SQL query); the
  // recall property test against a01 (IvfSpec) is its contract. Measured
  // on the fixture corpus (structureless random vectors — IVF's worst
  // case; within-label cosine equals cross-label): recall@5 = 0.86 at
  // nprobe=4, 0.93 at nprobe=5, 1.0 at nprobe=k=8. Clustered production
  // corpora sit far above this curve; here the default probes 5/8 lists
  // for the ≥0.9 target.
  //
  // INFERENCE is fully oracled (round-11): the trained centroids persist
  // as a frozen [[Models]] artifact, and a04bSql replays the whole
  // serving path — assignment, multi-probe, candidate join, exact
  // top-K — in DuckDB against that artifact (the d37 frozen-model
  // pattern). The registered query is train → freeze → infer-from-the-
  // frozen-bits, so the hash gate covers everything but the Lloyd's
  // loop itself.
  // ---------------------------------------------------------------------
  private val KmIters = 4
  val NProbeDefault = 5

  private def withCn(cents: DataFrame): DataFrame =
    cents.withColumn("cn", norm(col("ce")))

  private def litVal(v: Any, dt: org.apache.spark.sql.types.DataType) =
    org.apache.spark.sql.graft.VectorExpressions.litValue(v, dt)

  /** Nearest-centroid assignment (argmax cosine, centroid_id tie-break)
    * as a PURE PROJECTION (r18): the centroid model is collected to the
    * driver — bounded by construction, k×dim rows, the same model-sized
    * frame [[Models.save]] already coalesces to one file — and each row's
    * winner is `greatest` over k inlined (score, −id, id) structs, all
    * codegen. Assignment is embarrassingly parallel, so neither of the
    * relational forms was free of waste: the window row_number shuffled
    * AND sorted all N×k scored rows, and a max_by aggregation falls back
    * to SortAggregate (array-typed buffer — measured +40% on a04b).
    * This form has NO join, NO aggregation, NO shuffle — argmax runs
    * inside the scan's codegen stage. Tie-break identical: lexicographic
    * max of (__cs, −centroid_id) == ORDER BY __cs DESC, centroid_id ASC;
    * score arithmetic is the same DotProduct expression over the same
    * values, so results are bit-identical. */
  private[graft] def assignTo(e: DataFrame, cents: DataFrame): DataFrame = {
    val cw = withCn(cents)
    val idT = cw.schema("centroid_id").dataType
    val ceT = cw.schema("ce").dataType
    val rows = cw.select(col("centroid_id"), col("ce"), col("cn")).collect()
    if (rows.isEmpty)
      return e.select(col("vec_id"), col("embedding"), col("__norm"),
        litVal(null, idT).as("centroid_id")).filter(lit(false))
    val packed = rows.map { r =>
      val negId = r.get(0) match {
        case l: java.lang.Long => lit(-l.longValue)
        case i: java.lang.Integer => lit(-i.intValue)
        case other => sys.error(s"unsupported centroid_id type: $other")
      }
      struct(
        cosinePre(dot(col("embedding"), litVal(r.get(1), ceT)),
          col("__norm"), lit(r.getDouble(2))).as("s"),
        negId.as("n"), litVal(r.get(0), idT).as("id"))
    }
    val best = if (packed.length == 1) packed.head else greatest(packed.toSeq: _*)
    e.select(col("vec_id"), col("embedding"), col("__norm"),
      best.getField("id").as("centroid_id"))
  }

  /** Lloyd's k-means over (vec_id, embedding, __norm); returns
    * (centroid_id, ce). Empty clusters drop out (standard IVF behavior).
    *
    * No per-iteration cache/count (r19, the r18 trainSubs treatment):
    * [[assignTo]] COLLECTS the model each round, so the next round's
    * collect IS the previous aggregate's materialization and lineage cut
    * (every round's plan restarts from `e` plus literals) — the old
    * cache+count pair added one scheduled job per round for nothing.
    * The FINAL model is snapshotted once (a k×dim frame)
    * so multi-consumer callers (saveTag-less ivfKmeans reads it for the
    * assignment collect AND the probe broadcast) do not re-run the last
    * aggregate per consumer.
    *
    * `init` overrides the default deterministic seed (the vectors with
    * vec_id < k) with an explicit (centroid_id, ce) frame — a10 trains
    * on the index STRATUM, whose k smallest vec_ids are not 0..k-1. */
  def trainKmeans(e: DataFrame, k: Int, iters: Int,
      init: Option[DataFrame] = None): DataFrame = {
    var cents = init.getOrElse(e.filter(col("vec_id") < k)
      .select(col("vec_id").cast(IntegerType).as("centroid_id"),
        col("embedding").as("ce")))
    for (_ <- 1 to iters) {
      cents = assignTo(e, cents)
        .select(col("centroid_id"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy(col("centroid_id"), col("pos"))
        .agg(avg(col("v")).as("m"))
        .groupBy(col("centroid_id"))
        .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
        // interpreted lambda is fine here: k rows, not the corpus
        .select(col("centroid_id"),
          expr("transform(pm, x -> CAST(x.m AS FLOAT))").as("ce"))
    }
    graft.StageCache.checkpoint(cents) // the k×dim model, once for all consumers
  }

  def a04bAnnIvfKmeans(spark: SparkSession, dir: String): DataFrame =
    ivfKmeans(spark, dir, NCentroids, KmIters, NProbeDefault,
      saveTag = Some("a04b_centroids"))

  def ivfKmeans(spark: SparkSession, dir: String, k: Int, iters: Int,
      nprobe: Int, saveTag: Option[String] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = graft.StageCache.pin(Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
      .withColumn("__norm", norm(col("embedding"))))
    val trained = trainKmeans(e, k, iters)
    // freeze the model: inference below consumes the persisted bits
    val cents = saveTag.fold(trained)(Models.save(trained, dir, _))
    val assigned = assignTo(e, cents)
    // multi-probe: each query's NProbe nearest centroids
    val probes = e.filter(col("vec_id") < NQueries)
      .crossJoin(broadcast(withCn(cents)))
      .withColumn("__cs",
        cosinePre(dot(col("embedding"), col("ce")), col("__norm"), col("cn")))
      .withColumn("__pr", row_number().over(
        Window.partitionBy(col("vec_id"))
          .orderBy(col("__cs").desc, col("centroid_id"))))
      .filter(col("__pr") <= nprobe)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        col("__norm").as("qn"), col("centroid_id").as("pc"))
    val n = assigned.select(col("vec_id").as("neighbor_id"),
      col("embedding").as("ne"), col("__norm").as("nn"),
      col("centroid_id").as("nc"))
    val scored = probes.join(n,
        col("pc") === col("nc") && col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosinePre(dot(col("qe"), col("ne")), col("qn"), col("nn")).as("cos_sim"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= K)
      .orderBy(col("query_id"), col("rank"))
  }

  /** Inference oracle for a04b over the frozen centroid artifact: with
    * the model a table, the serving path — nearest-centroid assignment,
    * multi-probe, candidate list join, exact top-K — is plain SQL. A
    * `def`: generated at Verify-dump time, after the query ran and froze
    * its model for this run's data dir. */
  def a04bSql: String =
    s"""WITH cents AS (
       |  SELECT centroid_id, ce FROM ${Models.sqlRef("a04b_centroids")}),
       |assigned AS (
       |  SELECT vec_id, embedding, centroid_id FROM (
       |    SELECT e.vec_id, e.embedding, c.centroid_id,
       |           ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |             ORDER BY ${cosSql("e.embedding", "c.ce")} DESC, c.centroid_id) AS rn
       |    FROM embeddings e CROSS JOIN cents c)
       |  WHERE rn = 1),
       |probes AS (
       |  SELECT vec_id AS query_id, embedding AS qe, centroid_id AS pc FROM (
       |    SELECT e.vec_id, e.embedding, c.centroid_id,
       |           ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |             ORDER BY ${cosSql("e.embedding", "c.ce")} DESC, c.centroid_id) AS pr
       |    FROM embeddings e CROSS JOIN cents c WHERE e.vec_id < $NQueries)
       |  WHERE pr <= $NProbeDefault),
       |n AS (SELECT vec_id AS neighbor_id, embedding AS ne, centroid_id AS nc
       |      FROM assigned),
       |scored AS (
       |  SELECT query_id, neighbor_id, ${cosSql("qe", "ne")} AS cos_sim
       |  FROM probes JOIN n ON pc = nc AND query_id <> neighbor_id),
       |ranked AS (
       |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |    ORDER BY cos_sim DESC, neighbor_id) AS INTEGER) AS rank
       |  FROM scored)
       |SELECT query_id, neighbor_id, cos_sim, rank FROM ranked
       |WHERE rank <= $K ORDER BY query_id, rank""".stripMargin

  // ---------------------------------------------------------------------
  // a03 — embedding-cosine near-duplicate pairs (driver mandate: the
  // embedding-space analog of d06/d07): candidates share a sign-LSH
  // bucket; pairs above the cosine threshold are near-dups, keeping the
  // lower vec_id as representative. The bucket equi-join bounds the
  // quadratic step exactly like the band join in MinHash LSH.
  // ---------------------------------------------------------------------
  // the synthetic embeddings are random (no planted near-dups; max
  // in-bucket cosine ≈ 0.47) — the threshold is set low enough to produce
  // checkable output; a production corpus would use ~0.9
  private val NearDupCos = 0.3

  def a03EmbeddingNearDup(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .withColumn("bucket", signBucket(col("embedding")))
    val en = e.withColumn("__norm", norm(col("embedding")))
    val a = en.select(col("vec_id").as("keep_id"), col("embedding").as("ea"),
      col("bucket"), col("__norm").as("na"))
    val b = en.select(col("vec_id").as("dup_id"), col("embedding").as("eb"),
      col("bucket").as("bucket2"), col("__norm").as("nb"))
    a.join(b, col("bucket") === col("bucket2") && col("keep_id") < col("dup_id"))
      .select(col("keep_id"), col("dup_id"),
        cosinePre(dot(col("ea"), col("eb")), col("na"), col("nb")).as("cos_sim"))
      .filter(col("cos_sim") >= NearDupCos)
      .orderBy(col("keep_id"), col("dup_id"))
  }

  val a03Sql: String = {
    val bucket = (0 until LshBits)
      .map(i => s"(CASE WHEN embedding[${i + 1}] > 0 THEN ${1 << i} ELSE 0 END)")
      .mkString(" + ")
    s"""WITH e AS (SELECT vec_id, embedding, $bucket AS bucket FROM embeddings),
       |pairs AS (
       |  SELECT a.vec_id AS keep_id, b.vec_id AS dup_id,
       |         ${cosSql("a.embedding", "b.embedding")} AS cos_sim
       |  FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
       |SELECT keep_id, dup_id, cos_sim FROM pairs
       |WHERE cos_sim >= $NearDupCos
       |ORDER BY keep_id, dup_id""".stripMargin
  }

  // ---------------------------------------------------------------------
  // a05 — SemDeDup-style semantic deduplication: cluster the corpus
  // (nearest-centroid assignment, same inverted-file shape as a04), then
  // within each cluster drop every vector that has an EARLIER vector
  // (lower vec_id) at cosine ≥ threshold — keep-first semantics identical
  // to the text dedup tier (d01/d12), but in embedding space. Output is
  // the full corpus with its cluster, keep flag, and the witness
  // (dup_of = the smallest earlier in-cluster near-duplicate).
  //
  // Scale: the quadratic step is bounded per cluster list, exactly like
  // a04's probe join — no all-pairs over the corpus. Centroids here are
  // the deterministic first-k sample so the DuckDB oracle can reproduce
  // the assignment; production swaps in trainKmeans (a04b) — the dedup
  // join is unchanged. Witness-based keep-first (ANY earlier near-dup
  // drops the row) needs no transitive closure / connected components:
  // one broadcast-assign pass + one in-cluster self-join + one aggregate.
  // ---------------------------------------------------------------------
  private val SemDedupCos = 0.3

  def a05SemanticDedup(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
      .withColumn("__norm", norm(col("embedding")))
    val cents = e.filter(col("vec_id") < NCentroids)
      .select(col("vec_id").cast(IntegerType).as("centroid_id"),
        col("embedding").as("ce"))
    // pinned: consumed by BOTH self-join sides and the final left join —
    // without the snapshot the crossJoin+window assignment stage executes
    // three times (deterministic, so correct, but 3× the work)
    val assigned = graft.StageCache.checkpoint(assignTo(e, cents))
    val a = assigned.select(col("vec_id").as("earlier_id"),
      col("embedding").as("ea"), col("__norm").as("na"),
      col("centroid_id").as("ca"))
    val b = assigned.select(col("vec_id").as("later_id"),
      col("embedding").as("eb"), col("__norm").as("nb"),
      col("centroid_id").as("cb"))
    val dupOf = a.join(b,
        col("ca") === col("cb") && col("earlier_id") < col("later_id"))
      .filter(cosinePre(dot(col("ea"), col("eb")), col("na"), col("nb"))
        >= SemDedupCos)
      .groupBy(col("later_id"))
      .agg(min(col("earlier_id")).as("dup_of"))
    assigned.join(dupOf, col("vec_id") === col("later_id"), "left")
      .select(col("vec_id"), col("centroid_id"), col("dup_of"),
        when(col("dup_of").isNull, 1).otherwise(0)
          .cast(IntegerType).as("is_kept"))
      .orderBy(col("vec_id"))
  }

  val a05Sql: String =
    s"""WITH cents AS (
       |  SELECT CAST(vec_id AS INT) AS centroid_id, embedding AS ce
       |  FROM embeddings WHERE vec_id < $NCentroids),
       |assigned AS (
       |  SELECT vec_id, embedding, centroid_id FROM (
       |    SELECT e.vec_id, e.embedding, c.centroid_id,
       |           ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |             ORDER BY ${cosSql("e.embedding", "c.ce")} DESC, c.centroid_id) AS rn
       |    FROM embeddings e CROSS JOIN cents c)
       |  WHERE rn = 1),
       |dup AS (
       |  SELECT b.vec_id AS later_id, MIN(a.vec_id) AS dup_of
       |  FROM assigned a JOIN assigned b
       |    ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
       |  WHERE ${cosSql("a.embedding", "b.embedding")} >= $SemDedupCos
       |  GROUP BY b.vec_id)
       |SELECT s.vec_id, s.centroid_id, d.dup_of,
       |       CAST(d.dup_of IS NULL AS INT) AS is_kept
       |FROM assigned s LEFT JOIN dup d ON s.vec_id = d.later_id
       |ORDER BY s.vec_id""".stripMargin

  // ---------------------------------------------------------------------
  // a06 — scalar (int8) quantization of the embedding corpus: global
  // min/max over all components define 256 uniform levels; each component
  // maps to floor((v − min)/(max − min) · 256), clamped to 255 — 4×
  // smaller vectors for the ANN serving tier. Per-corpus calibration is
  // one tiny aggregate broadcast back; the quantization itself is
  // explode → codegen arithmetic → re-assemble (array_sort(collect_list))
  // — one shuffle on vec_id. floor (not round) everywhere: double→int
  // CAST truncates in Spark but ROUNDS in DuckDB, so an explicit floor is
  // the only cast both engines agree on.
  // ---------------------------------------------------------------------
  def a06QuantizeEmbeddings(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .withColumn("v", col("v").cast(DoubleType))
    val cal = e.agg(min(col("v")).as("mn"), max(col("v")).as("mx"))
    e.crossJoin(broadcast(cal))
      // degenerate-range guard (mx == mn, e.g. a constant corpus): the
      // unguarded division is NULL in Spark but NaN in DuckDB — code 0 on
      // both sides keeps the engines identical AND the codes meaningful
      .withColumn("q",
        when(col("mx") === col("mn"), lit(0))
          .otherwise(least(lit(255),
            floor((col("v") - col("mn")) / (col("mx") - col("mn")) * 256)))
          .cast(IntegerType))
      .groupBy(col("vec_id"))
      .agg(array_sort(collect_list(struct(col("pos"), col("q")))).as("pq"),
        min(col("mn")).as("q_min"), min(col("mx")).as("q_max"))
      // CSV-string form: the hash gate compares scalar cells, not arrays
      // (qvec as a real array column is one expr away for library users)
      .select(col("vec_id"),
        expr("array_join(transform(pq, x -> CAST(x.q AS STRING)), ',')")
          .as("qvec_csv"),
        col("q_min"), col("q_max"))
      .orderBy(col("vec_id"))
  }

  /** Array-column form of [[a06QuantizeEmbeddings]] for library callers. */
  def quantizedVectors(spark: SparkSession, dir: String): DataFrame =
    a06QuantizeEmbeddings(spark, dir)
      .select(col("vec_id"),
        expr("transform(split(qvec_csv, ','), x -> CAST(x AS INT))").as("qvec"),
        col("q_min"), col("q_max"))

  val a06Sql: String =
    """WITH e AS (
      |  SELECT vec_id, i AS pos, CAST(embedding[i] AS DOUBLE) AS v
      |  FROM embeddings,
      |       (SELECT unnest(range(1, (SELECT MAX(len(embedding)) + 1 FROM embeddings))) AS i) r
      |  WHERE i <= len(embedding)),
      |cal AS (SELECT MIN(v) AS mn, MAX(v) AS mx FROM e)
      |SELECT vec_id,
      |       array_to_string(
      |         list(CAST(CAST(CASE WHEN mx = mn THEN 0
      |                        ELSE LEAST(255, FLOOR((v - mn) / (mx - mn) * 256))
      |                        END AS INT) AS VARCHAR)
      |              ORDER BY pos), ',') AS qvec_csv,
      |       MIN(mn) AS q_min, MIN(mx) AS q_max
      |FROM e, cal
      |GROUP BY vec_id ORDER BY vec_id""".stripMargin

  val a02Sql: String = {
    val bucket = (0 until LshBits)
      .map(i => s"(CASE WHEN embedding[${i + 1}] > 0 THEN ${1 << i} ELSE 0 END)")
      .mkString(" + ")
    s"""WITH e AS (SELECT vec_id, embedding, $bucket AS bucket FROM embeddings),
       |q AS (SELECT vec_id AS query_id, embedding AS qe, bucket FROM e WHERE vec_id < $NQueries),
       |n AS (SELECT vec_id AS neighbor_id, embedding AS ne, bucket AS nbucket FROM e),
       |scored AS (
       |  SELECT query_id, neighbor_id, bucket, ${cosSql("qe", "ne")} AS cos_sim
       |  FROM q JOIN n ON bucket = nbucket AND query_id <> neighbor_id),
       |ranked AS (
       |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |    ORDER BY cos_sim DESC, neighbor_id) AS INTEGER) AS rank
       |  FROM scored)
       |SELECT query_id, neighbor_id, bucket, cos_sim, rank FROM ranked
       |WHERE rank <= $K ORDER BY query_id, rank""".stripMargin
  }

  // ---------------------------------------------------------------------
  // a07 — product quantization with asymmetric-distance scoring (ADC) +
  // exact re-rank: the MEMORY half of web-scale ANN that IVF alone lacks.
  // Vectors normalize once, split into PqM subspaces, and each subspace
  // trains its own PqK-code L2 codebook (Lloyd's, deterministic first-K
  // init); a vector is then PqM one-byte codes — 8 bytes here vs 256 for
  // float32×64, a 32× memory cut, the layout that lets a billion-vector
  // index live in RAM. A query never touches stored vectors during the
  // scan: it precomputes per-subspace dot tables against the PqM×PqK
  // codebook (tiny, broadcast) and scores every vector as a sum of PqM
  // table lookups (approximate cosine, since everything is normalized).
  // The top PqRerank ADC candidates — and only those — are re-ranked
  // with exact dots for the final top-K.
  //
  // Scale: codebooks and query tables are model-sized broadcasts; the
  // ADC scan is one hash join on (m, code) + a map-side-partial sum per
  // (query, vector); the exact pass touches PqRerank vectors per query.
  // Composes with a04's IVF the standard way (probe lists first, ADC
  // within them) — registered standalone so the gate measures the PQ
  // machinery itself. Codebook TRAINING is iterative (no SQL oracle;
  // PqSpec pins recall against a01 and the code-size invariants), but
  // the codebooks freeze as a [[Models]] artifact and a07Sql replays the
  // whole inference half — normalize, slice, encode, ADC tables, scan,
  // exact re-rank — in DuckDB against the frozen file (fixed-point ADC
  // partials make the scan's sums bit-reproducible; see [[adcFx]]).
  // ---------------------------------------------------------------------
  private val PqM = 8
  private val PqK = 16
  private val PqIters = 3
  private val PqRerank = 50

  /** ADC partial scores quantize to fixed-point longs (2^-40 grain)
    * BEFORE the per-(query, vector) sum: long addition is exact and
    * order-free, where a double sum's value depends on partition order —
    * both non-reproducible run-to-run AND unmatchable by an oracle
    * (d31's bit-reproducible-sum lesson applied to ANN). The multiplier
    * is a power of two, so the scaling itself is exact (exponent shift);
    * the one rounding step (+0.5, floor) is the same IEEE op in both
    * engines. At 2^-40 grain the quantization error per partial is
    * ~1e-12 — four orders below the float32 inputs' own noise floor. */
  private val AdcFxGrain = (1L << 40).toDouble

  private def adcFx(c: Column): Column =
    floor(c * lit(AdcFxGrain) + lit(0.5)).cast(LongType)

  /** L2 assignment of sub-vectors to sub-codebooks for ALL subspaces at
    * once: the subspace index `m` is a JOIN/GROUP KEY, not a driver-side
    * loop — one Spark job assigns every (vector, subspace) pair, instead
    * of PqM sequential jobs (the r10 restructure: 8×3 scheduled rounds →
    * 3, measured 11.0 s → 4.8 s best-of-2 on the sf0.1 bench;
    * job-scheduling overhead, not compute, dominated the per-subspace
    * loop at gate scale, and at cluster scale fewer barriers = fewer
    * stragglers resynchronized).
    * argmin ‖x−c‖² = argmax (x·c − ‖c‖²/2), code-asc tie-break. */
  /** L2 sub-vector assignment as a PURE PROJECTION (r18, the assignTo
    * pattern applied to PQ): the codebook is bounded (PqM×PqK rows) and
    * collected; per input row the winner is `greatest` over one struct
    * PER CODE, where code j's centroid for THIS row's subspace resolves
    * by array index — `ceByM_j[m]` — so each row evaluates exactly PqK
    * codegen dots, the same count the join+window form paid, with NO
    * join, NO N×PqM×PqK fan-out rows, NO (m, vec_id) exchange and NO
    * sort. (The round's earlier rejected inline variant guarded PqM×PqK
    * dot loops behind CASE WHEN on m — 8× the generated code and +33% on
    * a08; indexing the literal by m is what removes that redundancy.)
    * Two earlier-rejected relational forms for the record: max_by
    * aggregation falls back to SortAggregate (struct buffer, a07 +14%).
    *
    * Bit parity with the join+window form: ‖c‖²/2 is pre-folded on the
    * driver with the SAME sequential float→double loop DotProduct
    * generates, the score is the same `dot(sv, ce) − c2half` double
    * arithmetic, and greatest over (score, −code, code) structs is
    * lexicographic — identical winner and tie-break (ORDER BY score
    * DESC, code ASC). A code with no centroid at some m (possible once
    * Lloyd's drops an empty cluster) scores −∞ there and can never win,
    * exactly like its absent join row. */
  private def assignL2(s: DataFrame, cents: DataFrame): DataFrame = {
    val ceT = cents.schema("ce").dataType
    val rows = cents.select(col("m"), col("code"), col("ce")).collect()
    require(rows.nonEmpty, "assignL2: empty codebook")
    // the same fold order as DotProduct's generated loop — bit-identical
    def c2half(a: Seq[Float]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i).toDouble * a(i).toDouble; i += 1 }
      acc / 2.0
    }
    val byCode: Map[Int, Map[Int, Seq[Float]]] = rows.groupBy(_.getInt(1))
      .map { case (c, rs) =>
        c -> rs.map(r => r.getInt(0) -> r.getSeq[Float](2)).toMap }
    val maxM = rows.map(_.getInt(0)).max + 1
    val packed = byCode.keys.toSeq.sorted.map { j =>
      val ces: Seq[Any] = (0 until maxM).map(m => byCode(j).get(m).orNull)
      val c2s: Seq[Any] = (0 until maxM).map(m =>
        byCode(j).get(m).fold(null: Any)(c2half))
      val ceL = litVal(ces, ArrayType(ceT, containsNull = true))
      val c2L = litVal(c2s, ArrayType(DoubleType, containsNull = true))
      struct(
        coalesce(dot(col("sv"), ceL(col("m"))) - c2L(col("m")),
          lit(Double.NegativeInfinity)).as("s"),
        lit(-j).as("n"), lit(j).as("id"))
    }
    val best = if (packed.length == 1) packed.head else greatest(packed: _*)
    s.select(col("m"), col("vec_id"), col("sv"),
      best.getField("id").as("code"))
  }

  /** Lloyd's over (m, vec_id, sv) sub-vector rows, all PqM subspaces per
    * pass; returns (m, code, ce). No per-iteration cache/count: assignL2
    * COLLECTS the model each round (that collect is the materialization
    * and lineage cut — each iteration's plan restarts from the pinned
    * sub-vector frame plus literals), so one job per iteration replaces
    * the old cache + count pair. */
  private def trainSubs(s: DataFrame): DataFrame = {
    var cents = s.filter(col("vec_id") < PqK)
      .select(col("m"), col("vec_id").cast(IntegerType).as("code"),
        col("sv").as("ce"))
    for (_ <- 1 to PqIters) {
      cents = assignL2(s, cents)
        .select(col("m"), col("code"), posexplode(col("sv")).as(Seq("pos", "v")))
        .groupBy(col("m"), col("code"), col("pos")).agg(avg(col("v")).as("mu"))
        .groupBy(col("m"), col("code"))
        .agg(array_sort(collect_list(struct(col("pos"), col("mu")))).as("pm"))
        .select(col("m"), col("code"),
          expr("transform(pm, x -> CAST(x.mu AS FLOAT))").as("ce"))
    }
    cents
  }

  /** The normalized embedding table (vec_id, nemb), pinned per
    * (session, dir) via [[graft.StageCache]] (r19): a07 and a08 each
    * normalized and localCheckpointed the identical frame — one
    * normalization pass per session now serves both (a08 adds its
    * `__norm` column as a projection over the pinned rows). */
  private def embNormStage(spark: SparkSession, dir: String): DataFrame =
    graft.StageCache.cached(spark, dir, "emb_norm")(
      Tables.embeddings(spark, dir)
        .withColumn("__n", norm(col("embedding")))
        .select(col("vec_id"),
          expr("transform(embedding, x -> CAST(CAST(x AS DOUBLE) / __n AS FLOAT))")
            .as("nemb")))

  def a07AnnPq(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = embNormStage(spark, dir) // pinned; training, encode, queries
    val dim = e.select(size(col("nemb"))).first().getInt(0) // 1-row driver probe
    require(dim % PqM == 0, s"embedding dim $dim not divisible by PqM=$PqM")
    val sub = dim / PqM

    // every (vector, subspace) sub-vector in ONE frame — the generator is
    // a codegen projection, so the PqM fan-out costs no extra scan
    val subs = e.select(col("vec_id"), expr(
        s"explode(transform(sequence(0, ${PqM - 1}), " +
          s"m -> struct(m AS m, slice(nemb, m * $sub + 1, $sub) AS sv)))")
        .as("s"))
      .select(col("vec_id"), col("s.m").as("m"), col("s.sv").as("sv"))
    // freeze the codebook model: the encode + scan consume the persisted
    // bits, and a07Sql replays them in DuckDB against the same file
    val books = Models.save(trainSubs(subs), dir, "a07_books") // PqM×PqK rows
    val codes = assignL2(subs, books)
      .select(col("vec_id"), col("m"), col("code")) // N×PqM rows — the index

    // per-query subspace dot tables against the codebook (broadcast-sized)
    val q = e.filter(col("vec_id") < NQueries)
    val qsubs = (0 until PqM).map { m =>
      q.select(col("vec_id").as("query_id"), lit(m).as("m"),
        expr(s"slice(nemb, ${m * sub + 1}, $sub)").as("qsv"))
    }.reduce(_ unionByName _)
    val tables = qsubs.join(broadcast(books), Seq("m"))
      .select(col("query_id"), col("m"), col("code"),
        adcFx(dot(col("qsv"), col("ce"))).as("part_fx"))

    // ADC scan: one hash join on (m, code), partial-summed per pair —
    // fixed-point partials, so the sum is exact and order-free
    val adc = codes.join(broadcast(tables), Seq("m", "code"))
      .filter(col("query_id") =!= col("vec_id"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(sum(col("part_fx")).as("adc_fx"))
    val cand = adc.withColumn("__r", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("adc_fx").desc, col("vec_id"))))
      .filter(col("__r") <= PqRerank)

    // exact re-rank of the candidates only (normalized → dot == cosine)
    val exact = cand
      .join(e.select(col("vec_id"), col("nemb")), Seq("vec_id"))
      .join(q.select(col("vec_id").as("query_id"), col("nemb").as("qne")),
        Seq("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        dot(col("qne"), col("nemb")).as("cos_sim"))
    exact.withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("cos_sim").desc, col("neighbor_id"))))
      .filter(col("rank") <= K)
      .orderBy(col("query_id"), col("rank"))
  }

  /** Inference oracle for a07 over the frozen codebook artifact: the
    * geometric constants (subspace width, subspace count) derive from
    * the artifact itself, so the SQL cannot drift from the model. A
    * `def` — generated at Verify-dump time, after the query froze its
    * model for this run's data dir. */
  def a07Sql: String = {
    val fx = (1L << 40).toString
    s"""WITH books AS (SELECT m, code, ce FROM ${Models.sqlRef("a07_books")}),
       |meta AS (SELECT MAX(len(ce)) AS sub, MAX(m) + 1 AS pm FROM books),
       |e AS (
       |  SELECT vec_id,
       |         list_transform(embedding, x -> CAST(CAST(x AS DOUBLE) /
       |           sqrt(${dotSql.format("embedding", "embedding")}) AS REAL)) AS nemb
       |  FROM embeddings),
       |subs AS (
       |  SELECT vec_id, ms.m,
       |         list_slice(nemb, ms.m * meta.sub + 1, ms.m * meta.sub + meta.sub) AS sv
       |  FROM e, meta, (SELECT unnest(range(0, (SELECT pm FROM meta))) AS m) ms),
       |asg AS (
       |  SELECT vec_id, m, code,
       |         ROW_NUMBER() OVER (PARTITION BY m, vec_id ORDER BY sc DESC, code) AS rn
       |  FROM (
       |    SELECT s.vec_id, s.m, b.code,
       |           ${dotSql.format("s.sv", "b.ce")}
       |             - ${dotSql.format("b.ce", "b.ce")} / 2.0 AS sc
       |    FROM subs s JOIN books b USING (m))),
       |codes AS (SELECT vec_id, m, code FROM asg WHERE rn = 1),
       |tabs AS (
       |  SELECT s.vec_id AS query_id, s.m, b.code,
       |         CAST(floor(${dotSql.format("s.sv", "b.ce")} * $fx + 0.5) AS BIGINT) AS part_fx
       |  FROM subs s JOIN books b USING (m) WHERE s.vec_id < $NQueries),
       |adc AS (
       |  SELECT t.query_id, c.vec_id, CAST(SUM(t.part_fx) AS BIGINT) AS adc_fx
       |  FROM codes c JOIN tabs t ON c.m = t.m AND c.code = t.code
       |  WHERE t.query_id <> c.vec_id
       |  GROUP BY 1, 2),
       |cand AS MATERIALIZED (
       |  SELECT query_id, vec_id FROM (
       |    SELECT query_id, vec_id,
       |           ROW_NUMBER() OVER (PARTITION BY query_id
       |             ORDER BY adc_fx DESC, vec_id) AS r
       |    FROM adc) WHERE r <= $PqRerank),
       |exact AS (
       |  SELECT c.query_id, c.vec_id AS neighbor_id,
       |         ${dotSql.format("q.nemb", "n.nemb")} AS cos_sim
       |  FROM cand c
       |  JOIN e n ON n.vec_id = c.vec_id
       |  JOIN e q ON q.vec_id = c.query_id),
       |ranked AS (
       |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |    ORDER BY cos_sim DESC, neighbor_id) AS INTEGER) AS rank
       |  FROM exact)
       |SELECT query_id, neighbor_id, cos_sim, rank FROM ranked
       |WHERE rank <= $K ORDER BY query_id, rank""".stripMargin
  }

  // ---------------------------------------------------------------------
  // a08 — IVF-PQ: the composed billion-scale ANN layout (FAISS IVFPQ).
  // a04b's coarse k-means lists bound WHICH vectors a query touches
  // (nprobe lists, not the corpus); a07's product quantization bounds
  // WHAT is read per touched vector (PqM one-byte codes, not floats).
  // PQ here encodes RESIDUALS x − c(list) — the standard refinement:
  // residual magnitudes are much smaller than raw vectors, so the same
  // codebook budget spends its precision where vectors differ from
  // their list centroid. score(q, x) ≈ q·c(list) + Σ_m table(q, list,
  // m, code_m(x)): the first term is one dot per (query, probed list);
  // the tables are per-(query, list) because the query residual depends
  // on the list. Top PqRerank ADC candidates re-rank exactly.
  //
  // Scale: coarse model k×dim, PQ model PqM×PqK, per-query tables
  // nprobe×PqM×PqK — all broadcast-sized; the scan is one equi-join of
  // the code table against (list, m, code) keys restricted to probed
  // lists, partial-summed per (query, vector). Nothing corpus-sized
  // shuffles except the one-time encode. Both models (coarse centroids,
  // residual codebooks) freeze as [[Models]] artifacts; a08Sql replays
  // the full inference half — assign, residual encode, probe, ADC over
  // probed lists, exact re-rank — in DuckDB against the frozen files
  // (training itself stays oracle-less; PqSpec pins recall and shape).
  // ---------------------------------------------------------------------
  def a08AnnIvfPq(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // projection over the pinned normalized stage (shared with a07);
    // __norm is one codegen dot per row per consumer scan — cheaper than
    // a second pinned copy of the table
    val e = embNormStage(spark, dir)
      .select(col("vec_id"), col("nemb").as("embedding"))
      .withColumn("__norm", norm(col("embedding")))
    val dim = e.select(size(col("embedding"))).first().getInt(0)
    require(dim % PqM == 0, s"embedding dim $dim not divisible by PqM=$PqM")
    val sub = dim / PqM

    // freeze the coarse model (the PQ books freeze below): inference
    // consumes the persisted bits, a08Sql replays them in DuckDB
    val coarse = Models.save(
      trainKmeans(e, NCentroids, KmIters), dir, "a08_coarse") // (centroid_id, ce)
    // snapshotted: feeds PQ training AND the encode
    val resid = graft.StageCache.checkpoint(assignTo(e, coarse)
      .join(broadcast(coarse), Seq("centroid_id"))
      .select(col("vec_id"), col("centroid_id"),
        expr("zip_with(embedding, ce, (a, b) -> CAST(CAST(a AS DOUBLE) - b AS FLOAT))")
          .as("remb")))
    val subs = resid.select(col("vec_id"), expr(
        s"explode(transform(sequence(0, ${PqM - 1}), " +
          s"m -> struct(m AS m, slice(remb, m * $sub + 1, $sub) AS sv)))").as("s"))
      .select(col("vec_id"), col("s.m").as("m"), col("s.sv").as("sv"))
    val books = Models.save(trainSubs(subs), dir, "a08_books")
    val codes = assignL2(subs, books)
      .join(resid.select(col("vec_id"), col("centroid_id").as("nc")), Seq("vec_id"))
      .select(col("vec_id"), col("nc"), col("m"), col("code"))

    // per-(query, probed list): centroid dot + residual sub-vectors
    val probes = e.filter(col("vec_id") < NQueries)
      .crossJoin(broadcast(withCn(coarse)))
      .withColumn("__cs",
        cosinePre(dot(col("embedding"), col("ce")), col("__norm"), col("cn")))
      .withColumn("__pr", row_number().over(
        Window.partitionBy(col("vec_id"))
          .orderBy(col("__cs").desc, col("centroid_id"))))
      .filter(col("__pr") <= NProbeDefault)
      .select(col("vec_id").as("query_id"), col("centroid_id").as("pc"),
        adcFx(dot(col("embedding"), col("ce"))).as("qc_fx"),
        expr("zip_with(embedding, ce, (a, b) -> CAST(CAST(a AS DOUBLE) - b AS FLOAT))")
          .as("qres"))
    val tables = probes.select(col("query_id"), col("pc"), col("qc_fx"),
        expr(s"explode(transform(sequence(0, ${PqM - 1}), " +
          s"m -> struct(m AS m, slice(qres, m * $sub + 1, $sub) AS qsv)))").as("s"))
      .select(col("query_id"), col("pc"), col("qc_fx"),
        col("s.m").as("m"), col("s.qsv").as("qsv"))
      .join(broadcast(books), Seq("m"))
      .select(col("query_id"), col("pc"), col("qc_fx"),
        col("m").as("pm"), col("code").as("pcode"),
        adcFx(dot(col("qsv"), col("ce"))).as("part_fx"))

    // ADC within probed lists only: equi-join on (list, m, code) —
    // fixed-point partials (adcFx), so the sum is exact and order-free
    val adc = codes.join(broadcast(tables),
        col("nc") === col("pc") && col("m") === col("pm") &&
          col("code") === col("pcode"))
      .filter(col("query_id") =!= col("vec_id"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg((max(col("qc_fx")) + sum(col("part_fx"))).as("adc_fx"))
    val cand = adc.withColumn("__r", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("adc_fx").desc, col("vec_id"))))
      .filter(col("__r") <= PqRerank)

    val exact = cand
      .join(e.select(col("vec_id"), col("embedding").as("nemb")), Seq("vec_id"))
      .join(e.select(col("vec_id").as("query_id"), col("embedding").as("qne")),
        Seq("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        dot(col("qne"), col("nemb")).as("cos_sim"))
    exact.withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("cos_sim").desc, col("neighbor_id"))))
      .filter(col("rank") <= K)
      .orderBy(col("query_id"), col("rank"))
  }

  /** Inference oracle for a08 over BOTH frozen artifacts (coarse
    * centroids + residual codebooks): assignment, residual encode,
    * multi-probe, per-(query, list) ADC tables, the probed-list scan,
    * and the exact re-rank — all plain SQL once the models are tables.
    * A `def` — generated at Verify-dump time, after the query froze its
    * models for this run's data dir. */
  def a08Sql: String = {
    val fx = (1L << 40).toString
    s"""WITH coarse AS (SELECT centroid_id, ce FROM ${Models.sqlRef("a08_coarse")}),
       |books AS (SELECT m, code, ce FROM ${Models.sqlRef("a08_books")}),
       |meta AS (SELECT MAX(len(ce)) AS sub, MAX(m) + 1 AS pm FROM books),
       |e AS (
       |  SELECT vec_id,
       |         list_transform(embedding, x -> CAST(CAST(x AS DOUBLE) /
       |           sqrt(${dotSql.format("embedding", "embedding")}) AS REAL)) AS nemb
       |  FROM embeddings),
       |casg AS (
       |  SELECT vec_id, nemb, centroid_id, ce,
       |         ROW_NUMBER() OVER (PARTITION BY vec_id
       |           ORDER BY ${cosSql("nemb", "ce")} DESC, centroid_id) AS rn
       |  FROM e CROSS JOIN coarse),
       |resid AS (
       |  SELECT vec_id, centroid_id,
       |         list_transform(range(1, len(nemb) + 1),
       |           i -> CAST(CAST(nemb[i] AS DOUBLE) - CAST(ce[i] AS DOUBLE) AS REAL)) AS remb
       |  FROM casg WHERE rn = 1),
       |subs AS (
       |  SELECT vec_id, centroid_id, ms.m,
       |         list_slice(remb, ms.m * meta.sub + 1, ms.m * meta.sub + meta.sub) AS sv
       |  FROM resid, meta, (SELECT unnest(range(0, (SELECT pm FROM meta))) AS m) ms),
       |asg AS (
       |  SELECT vec_id, centroid_id AS nc, m, code,
       |         ROW_NUMBER() OVER (PARTITION BY m, vec_id ORDER BY sc DESC, code) AS rn
       |  FROM (
       |    SELECT s.vec_id, s.centroid_id, s.m, b.code,
       |           ${dotSql.format("s.sv", "b.ce")}
       |             - ${dotSql.format("b.ce", "b.ce")} / 2.0 AS sc
       |    FROM subs s JOIN books b USING (m))),
       |codes AS (SELECT vec_id, nc, m, code FROM asg WHERE rn = 1),
       |probes AS (
       |  SELECT vec_id AS query_id, centroid_id AS pc,
       |         CAST(floor(${dotSql.format("nemb", "ce")} * $fx + 0.5) AS BIGINT) AS qc_fx,
       |         list_transform(range(1, len(nemb) + 1),
       |           i -> CAST(CAST(nemb[i] AS DOUBLE) - CAST(ce[i] AS DOUBLE) AS REAL)) AS qres
       |  FROM casg WHERE vec_id < $NQueries AND rn <= $NProbeDefault),
       |tabs AS (
       |  SELECT p.query_id, p.pc, p.qc_fx, ms.m, b.code,
       |         CAST(floor(${dotSql.format(
                   "list_slice(p.qres, ms.m * meta.sub + 1, ms.m * meta.sub + meta.sub)",
                   "b.ce")} * $fx + 0.5) AS BIGINT) AS part_fx
       |  FROM probes p
       |  CROSS JOIN meta
       |  CROSS JOIN (SELECT unnest(range(0, (SELECT pm FROM meta))) AS m) ms
       |  JOIN books b ON b.m = ms.m),
       |adc AS (
       |  SELECT t.query_id, c.vec_id,
       |         MAX(t.qc_fx) + CAST(SUM(t.part_fx) AS BIGINT) AS adc_fx
       |  FROM codes c JOIN tabs t
       |    ON c.nc = t.pc AND c.m = t.m AND c.code = t.code
       |  WHERE t.query_id <> c.vec_id
       |  GROUP BY 1, 2),
       |cand AS MATERIALIZED (
       |  SELECT query_id, vec_id FROM (
       |    SELECT query_id, vec_id,
       |           ROW_NUMBER() OVER (PARTITION BY query_id
       |             ORDER BY adc_fx DESC, vec_id) AS r
       |    FROM adc) WHERE r <= $PqRerank),
       |exact AS (
       |  SELECT c.query_id, c.vec_id AS neighbor_id,
       |         ${dotSql.format("q.nemb", "n.nemb")} AS cos_sim
       |  FROM cand c
       |  JOIN e n ON n.vec_id = c.vec_id
       |  JOIN e q ON q.vec_id = c.query_id),
       |ranked AS (
       |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |    ORDER BY cos_sim DESC, neighbor_id) AS INTEGER) AS rank
       |  FROM exact)
       |SELECT query_id, neighbor_id, cos_sim, rank FROM ranked
       |WHERE rank <= $K ORDER BY query_id, rank""".stripMargin
  }

  // ---------------------------------------------------------------------
  // a09 — k-NN similarity JOIN between two corpora (entity resolution /
  // cross-dataset linking): even vec_ids play corpus A (every A row is a
  // probe), odd vec_ids corpus B (the index side); each A row links to
  // its top-JoinK B neighbors by cosine among candidates sharing its
  // sign-LSH bucket. Distinct from a01/a02's ANN SEARCH shape (a small
  // fixed query set against one corpus): here BOTH sides are corpus-sized
  // — the record-linkage join a curation pipeline runs to align two
  // crawls or match documents to a reference set.
  //
  // Scale: the candidate stage is a hash equi-join on the bucket id — no
  // cross join anywhere; per-probe candidate count is bounded by bucket
  // occupancy (more LSH bits shrink it; multiprobe widens recall), so the
  // top-k window partitions on left_id over a bucket-bounded candidate
  // list, never the corpus. An A row whose bucket holds no B rows emits
  // nothing — recall is the LSH trade, measured for this family in
  // RECALL_CENSUS.json.
  // ---------------------------------------------------------------------
  private val JoinK = 3

  /** Bits-parametrized sign bucket (RecallBench sweeps the knob: more
    * bits = smaller candidate buckets = faster join, lower recall).
    * bits=0 disables bucketing (every row in one bucket) — that is the
    * brute-force truth engine the census compares against. */
  private[graft] def signBucketN(emb: Column, bits: Int): Column =
    if (bits == 0) lit(0)
    else (0 until bits)
      .map(i => when(element_at(emb, i + 1) > 0f, lit(1 << i)).otherwise(lit(0)))
      .reduce(_ + _)

  /** a09's frame with the bucket width as a knob — shared by the query
    * (bits = LshBits) and RecallBench's sweep. */
  private[graft] def knnJoinPairs(spark: SparkSession, dir: String,
      bits: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.embeddings(spark, dir)
      .withColumn("bucket", signBucketN(col("embedding"), bits))
      .withColumn("__norm", norm(col("embedding")))
    val a = e.filter(col("vec_id") % 2 === 0)
      .select(col("vec_id").as("left_id"), col("embedding").as("le"),
        col("bucket"), col("__norm").as("lnorm"))
    val b = e.filter(col("vec_id") % 2 === 1)
      .select(col("vec_id").as("right_id"), col("embedding").as("re"),
        col("bucket").as("rbucket"), col("__norm").as("rnorm"))
    val scored = a.join(b, col("bucket") === col("rbucket"))
      .select(col("left_id"), col("right_id"), col("bucket"),
        cosinePre(dot(col("le"), col("re")), col("lnorm"), col("rnorm"))
          .as("cos_sim"))
    val w = Window.partitionBy(col("left_id"))
      .orderBy(col("cos_sim").desc, col("right_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= JoinK)
      .orderBy(col("left_id"), col("rank"))
  }

  def a09KnnJoin(spark: SparkSession, dir: String): DataFrame =
    knnJoinPairs(spark, dir, LshBits)

  val a09Sql: String = {
    val bucket = (0 until LshBits)
      .map(i => s"(CASE WHEN embedding[${i + 1}] > 0 THEN ${1 << i} ELSE 0 END)")
      .mkString(" + ")
    s"""WITH e AS (SELECT vec_id, embedding, $bucket AS bucket FROM embeddings),
       |a AS (SELECT vec_id AS left_id, embedding AS le, bucket FROM e WHERE vec_id % 2 = 0),
       |b AS (SELECT vec_id AS right_id, embedding AS re, bucket AS rbucket FROM e WHERE vec_id % 2 = 1),
       |scored AS (
       |  SELECT left_id, right_id, bucket, ${cosSql("le", "re")} AS cos_sim
       |  FROM a JOIN b ON bucket = rbucket),
       |ranked AS (
       |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY left_id
       |    ORDER BY cos_sim DESC, right_id) AS INTEGER) AS rank
       |  FROM scored)
       |SELECT left_id, right_id, bucket, cos_sim, rank FROM ranked
       |WHERE rank <= $JoinK ORDER BY left_id, rank""".stripMargin
  }

  // ---------------------------------------------------------------------
  // a09b — banded OR-amplified k-NN join (the high-recall serving tier
  // a09 deliberately is not): a09's single sign-LSH band is a BLOCKING
  // contract — RECALL_CENSUS measures 0.14/0.02/0.003 joint recall vs
  // global top-3 at bits 4/8/12, because one band's collision
  // probability for a pair at angle θ is only (1-θ/π)^bits. a09b is the
  // d07/d11 OR-amplification algebra moved to the vector side: B
  // independent sign-LSH bands over DISJOINT 8-component slices of the
  // 64-dim embedding (independent axis-aligned hyperplane draws, the
  // same family as a02), candidate pairs unioned across bands, deduped,
  // then exact cosine + top-k. Joint recall compounds as 1-(1-p^B_bits)^B
  // — ≈0.94 for a cos≈0.9 pair at B=bits=8, while a random pair
  // (p≈0.5) stays at ≈0.03, so the candidate multiplier is bounded:
  // RECALL_CENSUS's planted-neighbor fixture measures both sides
  // (recall and candidate count vs the |A|·|B| all-pairs cost).
  //
  // Scale shape: the ×B posexplode is the standard OR-amplification
  // shuffle cost (identical to d07's band signature explode); each
  // band's buckets keep a09's occupancy bound, so the equi-join never
  // degenerates; the pair dedup carries only (ids, score) — 16 bytes a
  // row, map-side combinable — never the embedding arrays; top-k is
  // a09's WindowGroupLimit-pushed rank window.
  // ---------------------------------------------------------------------
  private[graft] val KnnBands = 8
  private[graft] val KnnBandBits = 8

  /** Sign bucket of band b's disjoint component slice
    * [b·bits, (b+1)·bits) — independent hashes because the generator
    * draws components independently. */
  private def bandBucket(emb: Column, band: Int): Column =
    (0 until KnnBandBits)
      .map(j => when(element_at(emb, band * KnnBandBits + j + 1) > 0f,
        lit(1 << j)).otherwise(lit(0)))
      .reduce(_ + _)

  /** Deduped candidate pairs of the banded join — the frame whose row
    * count IS the tier's cost (RecallBench reports it against
    * |A|·|B|); a09b ranks on top of it. */
  private[graft] def knnJoinBandedCandidates(spark: SparkSession,
      dir: String, bands: Int): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .withColumn("__norm", norm(col("embedding")))
      .select(col("vec_id"), col("embedding"), col("__norm"),
        posexplode(array((0 until bands).map(b =>
          bandBucket(col("embedding"), b)): _*)).as(Seq("band", "bucket")))
    val a = e.filter(col("vec_id") % 2 === 0)
      .select(col("vec_id").as("left_id"), col("embedding").as("le"),
        col("__norm").as("lnorm"), col("band"), col("bucket"))
    val b = e.filter(col("vec_id") % 2 === 1)
      .select(col("vec_id").as("right_id"), col("embedding").as("re"),
        col("__norm").as("rnorm"), col("band").as("rband"),
        col("bucket").as("rbucket"))
    // score per collision (the cosine is deterministic per PAIR, so the
    // cross-band duplicates agree bit-for-bit and max() is a pure
    // dedup); n_bands = how many bands found the pair — the
    // OR-amplification diagnostic, deterministic and oracle-checkable
    a.join(b, col("band") === col("rband") && col("bucket") === col("rbucket"))
      .select(col("left_id"), col("right_id"),
        cosinePre(dot(col("le"), col("re")), col("lnorm"), col("rnorm"))
          .as("__cs"))
      .groupBy(col("left_id"), col("right_id"))
      .agg(max(col("__cs")).as("cos_sim"), count(lit(1)).as("n_bands"))
  }

  def a09bKnnJoinBanded(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("left_id"))
      .orderBy(col("cos_sim").desc, col("right_id"))
    knnJoinBandedCandidates(spark, dir, KnnBands)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= JoinK)
      .orderBy(col("left_id"), col("rank"))
  }

  val a09bSql: String = {
    val bucket = (0 until KnnBandBits)
      .map(j => s"(CASE WHEN embedding[t.band*$KnnBandBits + ${j + 1}] > 0" +
        s" THEN ${1 << j} ELSE 0 END)")
      .mkString(" + ")
    s"""WITH bands AS (
       |  SELECT vec_id, embedding, CAST(t.band AS INTEGER) AS band,
       |         $bucket AS bucket
       |  FROM embeddings, range($KnnBands) t(band)),
       |a AS (SELECT vec_id AS left_id, embedding AS le, band, bucket
       |      FROM bands WHERE vec_id % 2 = 0),
       |b AS (SELECT vec_id AS right_id, embedding AS re, band AS rband,
       |             bucket AS rbucket
       |      FROM bands WHERE vec_id % 2 = 1),
       |cand AS MATERIALIZED (
       |  SELECT left_id, right_id, MAX(${cosSql("le", "re")}) AS cos_sim,
       |         COUNT(*) AS n_bands
       |  FROM a JOIN b ON band = rband AND bucket = rbucket
       |  GROUP BY left_id, right_id),
       |ranked AS (
       |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY left_id
       |    ORDER BY cos_sim DESC, right_id) AS INTEGER) AS rank
       |  FROM cand)
       |SELECT left_id, right_id, cos_sim, n_bands, rank FROM ranked
       |WHERE rank <= $JoinK ORDER BY left_id, rank""".stripMargin
  }

  // ---------------------------------------------------------------------
  // a09c — a09's SALTED twin for the quadratic skew residual (the q18b
  // playbook on the candidate join): AQE's byte-based split caps what it
  // can do on a hot LSH bucket at max/med ≈ 10 because every split
  // slice still joins the FULL hot index partition (SKEW_CENSUS pass 4).
  // Salting attacks the row-count product directly: the index side
  // lands in ONE of R salt shards by hash(right_id); the probe side is
  // replicated across all R, so every in-bucket pair is still produced
  // exactly once but the hot bucket's build side is R-way split
  // STRUCTURALLY — no AQE precondition (works even on single-row-group
  // files where the byte split cannot fire). Output ≡ a09 row-for-row;
  // the oracle entry IS a09's SQL. Cost: R× the probe-side shuffle —
  // the documented premium for bounded-task guarantees on clustered
  // corpora; the salt is not data-dependent, so the twin is the knob a
  // deployment flips when SKEW_CENSUS flags the organic form.
  // ---------------------------------------------------------------------
  private[graft] val KnnSalt = 8

  def a09cKnnJoinSalted(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.embeddings(spark, dir)
      .withColumn("bucket", signBucketN(col("embedding"), LshBits))
      .withColumn("__norm", norm(col("embedding")))
    val a = e.filter(col("vec_id") % 2 === 0)
      .select(col("vec_id").as("left_id"), col("embedding").as("le"),
        col("bucket"), col("__norm").as("lnorm"))
      .withColumn("salt", explode(array((0 until KnnSalt).map(lit): _*)))
    val b = e.filter(col("vec_id") % 2 === 1)
      .select(col("vec_id").as("right_id"), col("embedding").as("re"),
        col("bucket").as("rbucket"), col("__norm").as("rnorm"),
        pmod(hash(col("vec_id")), lit(KnnSalt)).as("rsalt"))
    val scored = a.join(b,
        col("bucket") === col("rbucket") && col("salt") === col("rsalt"))
      .select(col("left_id"), col("right_id"), col("bucket"),
        cosinePre(dot(col("le"), col("re")), col("lnorm"), col("rnorm"))
          .as("cos_sim"))
    val w = Window.partitionBy(col("left_id"))
      .orderBy(col("cos_sim").desc, col("right_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= JoinK)
      .orderBy(col("left_id"), col("rank"))
  }

  // ---------------------------------------------------------------------
  // a10 — INCREMENTAL ANN: IVF index maintenance under append-only
  // vector arrival, closing the incremental family on the vector side
  // (d26 exact, d30 near-dup, d35b span, d42 containment, d45
  // syndication — the ANN index was the one tier without an incremental
  // protocol). The d-family's 80/20 hash-bucket split plays the roles:
  // vec_id buckets < SketchOps.IndexBuckets are the SERVING INDEX — its
  // centroids trained once on that stratum only and FROZEN as the
  // a10_centroids artifact (production retrains on compaction, never per
  // batch) — and buckets >= 80 are today's DELTA, assigned to the same
  // frozen lists without retraining (the vector-DB upsert path). Queries
  // multi-probe index ∪ delta with per-neighbor provenance: a vector is
  // searchable the moment it lands, through exactly the lists a
  // compaction would fold it into.
  //
  // Nearest-centroid assignment is a pure per-row function of (vector,
  // frozen model), so incremental ingest and fold-then-serve are
  // result-identical — IncAnnSpec EXECUTES that parity (separate
  // index/delta assignment passes unioned vs the one-pass fold), and the
  // a10Sql oracle replays the whole serving path from the frozen bits.
  //
  // Scale shape: training reads the bounded index stratum (the periodic
  // compaction job's input); per-batch work is |delta| broadcast-assigns
  // against a k×dim model (no shuffle); probes stay candidate-bounded by
  // the nprobe lists exactly as in a04b. Nothing data-sized moves except
  // the one probe join. a10b is the per-list DRIFT census a deployment
  // triggers that retrain from: delta share and member-to-centroid mean
  // cosine per stratum (fixed-point sums — order-free and oracle-exact).
  // ---------------------------------------------------------------------
  private[graft] def isDeltaVec(id: Column): Column =
    TextOps.hashBucket(id) >= SketchOps.IndexBuckets

  /** a10's trained artifact, memoized per data dir (ADVICE r14): a10,
    * a10b, and IncAnnSpec each need the frozen model, and retraining
    * per caller both wastes a Lloyd's run and re-persists the artifact
    * AFTER the first caller's results were recorded — shuffle-order ulp
    * drift in the double-precision centroid means could then flip a
    * near-tie argmax between what the engine answered and what the
    * oracle replays. Train once per (JVM, dir); invalidate if the
    * SparkSession changed (test suites recycle sessions). */
  private val a10Memo =
    new java.util.concurrent.ConcurrentHashMap[String, (DataFrame, DataFrame)]()

  private[graft] def a10Index(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val hit = a10Memo.get(dir)
    if (hit != null && (hit._1.sparkSession eq spark)) hit
    else {
      val trained = a10Train(spark, dir)
      a10Memo.put(dir, trained)
      trained
    }
  }

  /** Train-on-index-only frozen centroids + full-corpus assignment with
    * provenance. One assignTo pass covers both strata: assignment is
    * per-row pure, so this IS the fold of the index's persisted lists
    * with the delta's fresh ones (parity executed in IncAnnSpec). */
  private def a10Train(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
      .withColumn("__norm", norm(col("embedding")))
    val idx = e.filter(!isDeltaVec(col("vec_id")))
    // deterministic init: the k smallest vec_ids IN THE STRATUM (k-row
    // bounded collect, the LmOps merge-table precedent) — the default
    // `vec_id < k` seed would straddle strata
    val initRows = idx.select(col("vec_id"), col("embedding"))
      .orderBy(col("vec_id")).limit(NCentroids).collect()
      .sortBy(_.getLong(0)).zipWithIndex
    val init = spark.createDataFrame(
      spark.sparkContext.parallelize(initRows.map { case (r, i) =>
        org.apache.spark.sql.Row(i, r.getSeq[Float](1))
      }.toSeq, 1),
      StructType(Seq(StructField("centroid_id", IntegerType),
        StructField("ce", ArrayType(FloatType)))))
    // the training stratum is pinned only while training: the model is
    // frozen on disk once the scope closes
    val cents = graft.StageCache.scoped(spark)(Models.save(
      trainKmeans(graft.StageCache.pin(idx), NCentroids, KmIters, Some(init)),
      dir, "a10_centroids"))
    val assigned = assignTo(e, cents)
      .withColumn("from_delta", isDeltaVec(col("vec_id")))
    (cents, assigned)
  }

  def a10AnnIncremental(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (cents, assigned) = a10Index(spark, dir)
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
      .withColumn("__norm", norm(col("embedding")))
    val probes = e.filter(col("vec_id") < NQueries)
      .crossJoin(broadcast(withCn(cents)))
      .withColumn("__cs",
        cosinePre(dot(col("embedding"), col("ce")), col("__norm"), col("cn")))
      .withColumn("__pr", row_number().over(
        Window.partitionBy(col("vec_id"))
          .orderBy(col("__cs").desc, col("centroid_id"))))
      .filter(col("__pr") <= NProbeDefault)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        col("__norm").as("qn"), col("centroid_id").as("pc"))
    val n = assigned.select(col("vec_id").as("neighbor_id"),
      col("embedding").as("ne"), col("__norm").as("nn"),
      col("centroid_id").as("nc"), col("from_delta"))
    val scored = probes.join(n,
        col("pc") === col("nc") && col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosinePre(dot(col("qe"), col("ne")), col("qn"), col("nn")).as("cos_sim"),
        col("from_delta"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= K)
      .orderBy(col("query_id"), col("rank"))
  }

  /** Serving-path oracle over the frozen a10 centroids — a04bSql's form
    * plus the provenance flag (the md5 hash-bucket replica, d42Sql's bkt
    * algebra). A `def`: resolved at Verify-dump time, after the query
    * trained and froze its model for this run's data dir. */
  def a10Sql: String =
    s"""WITH cents AS (
       |  SELECT centroid_id, ce FROM ${Models.sqlRef("a10_centroids")}),
       |assigned AS (
       |  SELECT vec_id, embedding, centroid_id FROM (
       |    SELECT e.vec_id, e.embedding, c.centroid_id,
       |           ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |             ORDER BY ${cosSql("e.embedding", "c.ce")} DESC, c.centroid_id) AS rn
       |    FROM embeddings e CROSS JOIN cents c)
       |  WHERE rn = 1),
       |probes AS (
       |  SELECT vec_id AS query_id, embedding AS qe, centroid_id AS pc FROM (
       |    SELECT e.vec_id, e.embedding, c.centroid_id,
       |           ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |             ORDER BY ${cosSql("e.embedding", "c.ce")} DESC, c.centroid_id) AS pr
       |    FROM embeddings e CROSS JOIN cents c WHERE e.vec_id < $NQueries)
       |  WHERE pr <= $NProbeDefault),
       |n AS (SELECT vec_id AS neighbor_id, embedding AS ne, centroid_id AS nc,
       |        (CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100
       |           >= ${SketchOps.IndexBuckets}) AS from_delta
       |      FROM assigned),
       |scored AS (
       |  SELECT query_id, neighbor_id, ${cosSql("qe", "ne")} AS cos_sim, from_delta
       |  FROM probes JOIN n ON pc = nc AND query_id <> neighbor_id),
       |ranked AS (
       |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |    ORDER BY cos_sim DESC, neighbor_id) AS INTEGER) AS rank
       |  FROM scored)
       |SELECT query_id, neighbor_id, cos_sim, from_delta, rank FROM ranked
       |WHERE rank <= $K ORDER BY query_id, rank""".stripMargin

  /** Delta share that triggers a retrain+fold (compaction) of a list. */
  private[graft] val DriftRetrainFrac = 0.3

  def a10bAnnDrift(spark: SparkSession, dir: String): DataFrame = {
    val (cents, assigned) = a10Index(spark, dir)
    val c2 = withCn(cents).select(col("centroid_id").as("cid"),
      col("ce"), col("cn"))
    val m = assigned.join(broadcast(c2), col("centroid_id") === col("cid"))
      .select(col("centroid_id"), col("from_delta"),
        adcFx(cosinePre(dot(col("embedding"), col("ce")),
          col("__norm"), col("cn"))).as("cfx"))
    m.groupBy(col("centroid_id"))
      .agg(
        sum(when(!col("from_delta"), lit(1L)).otherwise(lit(0L))).as("n_index"),
        sum(when(col("from_delta"), lit(1L)).otherwise(lit(0L))).as("n_delta"),
        sum(when(!col("from_delta"), col("cfx"))).as("fxi"),
        sum(when(col("from_delta"), col("cfx"))).as("fxd"))
      .select(col("centroid_id"), col("n_index"), col("n_delta"),
        (col("n_delta").cast(DoubleType)
          / (col("n_index") + col("n_delta"))).as("delta_frac"),
        when(col("n_index") > 0, col("fxi").cast(DoubleType)
          / (lit(AdcFxGrain) * col("n_index").cast(DoubleType))).as("mean_cos_index"),
        when(col("n_delta") > 0, col("fxd").cast(DoubleType)
          / (lit(AdcFxGrain) * col("n_delta").cast(DoubleType))).as("mean_cos_delta"))
      .withColumn("retrain", col("delta_frac") >= DriftRetrainFrac)
      .orderBy(col("centroid_id"))
  }

  def a10bSql: String = {
    val fx = (1L << 40).toString
    s"""WITH cents AS (
       |  SELECT centroid_id, ce FROM ${Models.sqlRef("a10_centroids")}),
       |assigned AS (
       |  SELECT vec_id, embedding, centroid_id FROM (
       |    SELECT e.vec_id, e.embedding, c.centroid_id,
       |           ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |             ORDER BY ${cosSql("e.embedding", "c.ce")} DESC, c.centroid_id) AS rn
       |    FROM embeddings e CROSS JOIN cents c)
       |  WHERE rn = 1),
       |m AS (
       |  SELECT a.centroid_id,
       |         (CAST(('0x' || substr(md5(CAST(a.vec_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100
       |            >= ${SketchOps.IndexBuckets}) AS from_delta,
       |         CAST(floor(${cosSql("a.embedding", "c.ce")} * $fx + 0.5) AS BIGINT) AS cfx
       |  FROM assigned a JOIN cents c ON a.centroid_id = c.centroid_id),
       |g AS (
       |  SELECT centroid_id,
       |         SUM(CASE WHEN NOT from_delta THEN 1 ELSE 0 END) AS n_index,
       |         SUM(CASE WHEN from_delta THEN 1 ELSE 0 END) AS n_delta,
       |         SUM(CASE WHEN NOT from_delta THEN cfx END) AS fxi,
       |         SUM(CASE WHEN from_delta THEN cfx END) AS fxd
       |  FROM m GROUP BY centroid_id)
       |SELECT centroid_id, CAST(n_index AS BIGINT) AS n_index,
       |       CAST(n_delta AS BIGINT) AS n_delta,
       |       CAST(n_delta AS DOUBLE) / (n_index + n_delta) AS delta_frac,
       |       CASE WHEN n_index > 0 THEN
       |         CAST(fxi AS DOUBLE) / ($fx.0 * CAST(n_index AS DOUBLE)) END AS mean_cos_index,
       |       CASE WHEN n_delta > 0 THEN
       |         CAST(fxd AS DOUBLE) / ($fx.0 * CAST(n_delta AS DOUBLE)) END AS mean_cos_delta,
       |       (CAST(n_delta AS DOUBLE) / (n_index + n_delta))
       |         >= ${DriftRetrainFrac} AS retrain
       |FROM g ORDER BY centroid_id""".stripMargin
  }

  // ---------------------------------------------------------------------
  // a10c — COMPACTION of the incremental ANN index (round-15: the step
  // a10b's `retrain` flag points at, previously prose-only). The fold:
  //  1. read the a10 drift census; if ANY list's delta share crossed
  //     DriftRetrainFrac (or the caller forces), RETRAIN Lloyd's on
  //     index ∪ delta — the full corpus, exactly what a periodic
  //     compaction job reads; otherwise the frozen centroids are kept
  //     (fold without retrain — the cheap branch);
  //  2. re-freeze the result as the a10c_centroids artifact;
  //  3. reset the provenance ledger — post-fold, every vector is INDEX
  //     (from_delta=false), the d26/d42 fold discipline on vectors.
  // Serving after the fold is the same frozen-model inference as a10,
  // so the oracle replays it from the new artifact bits; IncAnnSpec
  // executes the fold parity (post-fold serving == the serving algebra
  // recomputed from the persisted artifact) and exercises BOTH trigger
  // branches. Scale shape: the retrain is the a10 training loop at
  // index∪delta size — the scheduled-job cost, never the per-batch
  // cost; everything else is a10's bounded-model inference.
  // ---------------------------------------------------------------------
  private val a10cMemo =
    new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()

  /** The folded (possibly retrained) frozen centroids for (dir). The
    * trigger read is a 1-row bounded probe over the k-row drift frame. */
  private[graft] def compactAnnIndex(spark: SparkSession, dir: String,
      force: Boolean = false): DataFrame = {
    val hit = a10cMemo.get(dir)
    if (!force && hit != null && (hit.sparkSession eq spark)) hit
    else {
      val (cents, _) = a10Index(spark, dir)
      val tripped = force ||
        a10bAnnDrift(spark, dir).filter(col("retrain")).limit(1).count() > 0
      val frozen =
        if (!tripped) Models.save(cents, dir, "a10c_centroids")
        else {
          val e = Tables.embeddings(spark, dir)
            .select(col("vec_id"), col("embedding"))
            .withColumn("__norm", norm(col("embedding")))
          // deterministic init over the FULL post-fold corpus (k-row
          // bounded collect, the a10Train precedent)
          val initRows = e.orderBy(col("vec_id")).limit(NCentroids).collect()
            .sortBy(_.getLong(0)).zipWithIndex
          val init = spark.createDataFrame(
            spark.sparkContext.parallelize(initRows.map { case (r, i) =>
              org.apache.spark.sql.Row(i, r.getSeq[Float](1))
            }.toSeq, 1),
            StructType(Seq(StructField("centroid_id", IntegerType),
              StructField("ce", ArrayType(FloatType)))))
          // pinned only while training, like a10Train's stratum: the
          // model is frozen on disk before the scope closes
          graft.StageCache.scoped(spark)(Models.save(
            trainKmeans(graft.StageCache.pin(e), NCentroids, KmIters, Some(init)),
            dir, "a10c_centroids"))
        }
      a10cMemo.put(dir, frozen)
      frozen
    }
  }

  def a10cAnnCompacted(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cents = compactAnnIndex(spark, dir)
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
      .withColumn("__norm", norm(col("embedding")))
    val assigned = assignTo(e, cents)
    val probes = e.filter(col("vec_id") < NQueries)
      .crossJoin(broadcast(withCn(cents)))
      .withColumn("__cs",
        cosinePre(dot(col("embedding"), col("ce")), col("__norm"), col("cn")))
      .withColumn("__pr", row_number().over(
        Window.partitionBy(col("vec_id"))
          .orderBy(col("__cs").desc, col("centroid_id"))))
      .filter(col("__pr") <= NProbeDefault)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        col("__norm").as("qn"), col("centroid_id").as("pc"))
    val n = assigned.select(col("vec_id").as("neighbor_id"),
      col("embedding").as("ne"), col("__norm").as("nn"),
      col("centroid_id").as("nc"))
    val scored = probes.join(n,
        col("pc") === col("nc") && col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosinePre(dot(col("qe"), col("ne")), col("qn"), col("nn")).as("cos_sim"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= K)
      // ledger reset: post-fold there is no delta stratum
      .withColumn("from_delta", lit(false))
      .select(col("query_id"), col("neighbor_id"), col("cos_sim"),
        col("from_delta"), col("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** a10Sql's serving algebra over the FOLDED artifact, provenance
    * constant-false (the ledger reset is part of what the oracle
    * checks). */
  def a10cSql: String =
    s"""WITH cents AS (
       |  SELECT centroid_id, ce FROM ${Models.sqlRef("a10c_centroids")}),
       |assigned AS (
       |  SELECT vec_id, embedding, centroid_id FROM (
       |    SELECT e.vec_id, e.embedding, c.centroid_id,
       |           ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |             ORDER BY ${cosSql("e.embedding", "c.ce")} DESC, c.centroid_id) AS rn
       |    FROM embeddings e CROSS JOIN cents c)
       |  WHERE rn = 1),
       |probes AS (
       |  SELECT vec_id AS query_id, embedding AS qe, centroid_id AS pc FROM (
       |    SELECT e.vec_id, e.embedding, c.centroid_id,
       |           ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |             ORDER BY ${cosSql("e.embedding", "c.ce")} DESC, c.centroid_id) AS pr
       |    FROM embeddings e CROSS JOIN cents c WHERE e.vec_id < $NQueries)
       |  WHERE pr <= $NProbeDefault),
       |n AS (SELECT vec_id AS neighbor_id, embedding AS ne, centroid_id AS nc
       |      FROM assigned),
       |scored AS (
       |  SELECT query_id, neighbor_id, ${cosSql("qe", "ne")} AS cos_sim
       |  FROM probes JOIN n ON pc = nc AND query_id <> neighbor_id),
       |ranked AS (
       |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |    ORDER BY cos_sim DESC, neighbor_id) AS INTEGER) AS rank
       |  FROM scored)
       |SELECT query_id, neighbor_id, cos_sim, FALSE AS from_delta, rank
       |FROM ranked WHERE rank <= $K ORDER BY query_id, rank""".stripMargin

  // ---------------------------------------------------------------------
  // a11 — semantic DIVERSITY pruning (the D4 recipe: SemDeDup, then drop
  // the most PROTOTYPICAL points of every k-means cluster — Tirumala et
  // al. 2023 keep the diverse tail, not the redundant center; a05 covers
  // the SemDeDup half, a11 closes the published family). Over the frozen
  // a10 centroids: assign every vector to its nearest list, score cosine
  // to the ASSIGNED centroid, rank most-prototypical-first within the
  // cluster, and drop the top ceil(25%) per cluster.
  //
  // Scale shape: the within-cluster rank is NOT a per-cluster window —
  // a cluster is corpus/k-sized and a hot list would funnel one task.
  // Instead Ranks.withGlobalRank orders (centroid_id, cos DESC, vec_id)
  // globally (range-repartition + P-row offset frame), and the per-
  // cluster rank falls out as global_rank − cluster's min global rank +
  // 1 via a k-row broadcast join. Assignment reuses a10's memoized
  // frozen artifact (no second training); the only corpus-sized moves
  // are the one broadcast-assign pass and the range shuffle.
  // ---------------------------------------------------------------------
  private val DiversityDropNum = 1 // drop ceil(1/4) most-prototypical
  private val DiversityDropDen = 4

  def a11DiversityPrune(spark: SparkSession, dir: String): DataFrame = {
    val (cents, assigned) = a10Index(spark, dir)
    // cosine to the assigned centroid only: one dot per ROW (the argmax
    // already ran inside a10's assignment), via a k-row broadcast join
    val scored = assigned.join(
        broadcast(withCn(cents).select(col("centroid_id").as("cid"),
          col("ce"), col("cn"))),
        col("centroid_id") === col("cid"))
      .select(col("vec_id"), col("centroid_id"),
        cosinePre(dot(col("embedding"), col("ce")), col("__norm"), col("cn"))
          .as("cos_to_centroid"))
    val ranked = graft.operators.Ranks.withGlobalRank(scored,
      Seq(col("centroid_id"), col("cos_to_centroid").desc, col("vec_id")),
      "__g")
    val sizes = ranked.groupBy(col("centroid_id"))
      .agg(count(lit(1)).as("cluster_n"), min(col("__g")).as("__base"))
    ranked.join(broadcast(sizes), Seq("centroid_id"))
      .withColumn("proto_rank",
        (col("__g") - col("__base") + lit(1L)).cast(IntegerType))
      // integer ceil(n/4): identical arithmetic on both engines (the
      // verify-skill float rule — never compare a rounded double)
      .withColumn("kept", col("proto_rank") >
        expr(s"(cluster_n * $DiversityDropNum + ${DiversityDropDen - 1}) div $DiversityDropDen"))
      .select(col("vec_id"), col("centroid_id"), col("cos_to_centroid"),
        col("proto_rank"), col("cluster_n"), col("kept"))
      .orderBy(col("vec_id"))
  }

  /** Prototypicality replayed from the frozen a10 bits: the assigned CTE
    * is a10Sql's verbatim, the per-cluster rank a plain window (exact at
    * gate scale; the engine's distributed-rank equivalence is RanksSpec's
    * contract). */
  def a11Sql: String =
    s"""WITH cents AS (
       |  SELECT centroid_id, ce FROM ${Models.sqlRef("a10_centroids")}),
       |assigned AS (
       |  SELECT vec_id, centroid_id, cs AS cos_to_centroid FROM (
       |    SELECT e.vec_id, c.centroid_id,
       |           ${cosSql("e.embedding", "c.ce")} AS cs,
       |           ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |             ORDER BY ${cosSql("e.embedding", "c.ce")} DESC, c.centroid_id) AS rn
       |    FROM embeddings e CROSS JOIN cents c)
       |  WHERE rn = 1),
       |r AS (
       |  SELECT vec_id, centroid_id, cos_to_centroid,
       |         CAST(ROW_NUMBER() OVER (PARTITION BY centroid_id
       |           ORDER BY cos_to_centroid DESC, vec_id) AS INTEGER) AS proto_rank,
       |         CAST(COUNT(*) OVER (PARTITION BY centroid_id) AS BIGINT) AS cluster_n
       |  FROM assigned)
       |SELECT vec_id, centroid_id, cos_to_centroid, proto_rank, cluster_n,
       |       proto_rank > (cluster_n * $DiversityDropNum + ${DiversityDropDen - 1}) // $DiversityDropDen AS kept
       |FROM r ORDER BY vec_id""".stripMargin

  // ---------------------------------------------------------------------
  // a12 — MMR diversity RE-RANKING (Carbonell & Goldstein 1998): the
  // serving-side counterpart of a11's corpus-side pruning. Per query,
  // take the top-C relevance candidates, then greedily pick K results
  // maximizing λ·rel(c) − (1−λ)·max_{s∈picked} cos(c, s) — the dedup-at-
  // retrieval step a RAG training-data builder runs so one near-dup
  // cluster can't fill the whole context window.
  //
  // Determinism contract: λ and (1−λ) are both DECIMAL-LITERAL pinned
  // (0.7 / 0.3 — a Scala `1 - 0.7` is 0.30000000000000004, NOT DuckDB's
  // 0.3; the constants below are what both engines parse). Each greedy
  // step is pick-by-argmax with neighbor_id tie-break, so the K unrolled
  // steps replay bit-for-bit as chained CTEs (q51's unrolling pattern).
  //
  // Scale shape: every frame after candidate generation is bounded by
  // |Q|·C (queries × fixed candidate count) — the greedy loop never
  // touches the corpus. Candidate generation here is the a01 brute-force
  // shape over the bounded query set; a deployment swaps in an ANN tier
  // (a04b/a08/a09b) without touching the MMR algebra.
  // ---------------------------------------------------------------------
  private val MmrLambda = 0.7
  private val MmrComp = 0.3 // 1−λ as its own pinned literal (see header)
  private val MmrCands = 20

  def a12MmrRerank(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
      .withColumn("__norm", norm(col("embedding")))
    val q = e.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        col("__norm").as("qn"))
    val n = e.select(col("vec_id").as("neighbor_id"), col("embedding").as("ne"),
      col("__norm").as("nn"))
    val wRel = Window.partitionBy(col("query_id"))
      .orderBy(col("rel").desc, col("neighbor_id"))
    // snapshotted: |Q|·C rows, consumed K times
    val cand = graft.StageCache.checkpoint(q.join(n, col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), col("ne"), col("nn"),
        cosinePre(dot(col("qe"), col("ne")), col("qn"), col("nn")).as("rel"))
      .withColumn("__crk", row_number().over(wRel))
      .filter(col("__crk") <= MmrCands).drop("__crk"))
    var selected = graft.StageCache.checkpoint(
      cand.withColumn("__rn", row_number().over(wRel))
        .filter(col("__rn") === 1).drop("__rn")
        .withColumn("mmr_score", lit(MmrLambda) * col("rel"))
        .withColumn("mmr_rank", lit(1)))
    for (t <- 2 to K) {
      val s = selected.select(col("query_id"), col("ne").as("__se"),
        col("nn").as("__sn"))
      val remaining = cand.join(
        selected.select(col("query_id"), col("neighbor_id")),
        Seq("query_id", "neighbor_id"), "left_anti")
      val msim = remaining.join(s, Seq("query_id"))
        .groupBy(col("query_id"), col("neighbor_id"))
        .agg(max(cosinePre(dot(col("ne"), col("__se")), col("nn"), col("__sn")))
          .as("__msim"))
      val wm = Window.partitionBy(col("query_id"))
        .orderBy(col("mmr_score").desc, col("neighbor_id"))
      val pick = remaining.join(msim, Seq("query_id", "neighbor_id"))
        .withColumn("mmr_score",
          lit(MmrLambda) * col("rel") - lit(MmrComp) * col("__msim"))
        .withColumn("__rn", row_number().over(wm))
        .filter(col("__rn") === 1)
        .select(col("query_id"), col("neighbor_id"), col("ne"), col("nn"),
          col("rel"), col("mmr_score"), lit(t).as("mmr_rank"))
      selected = graft.StageCache.checkpoint(selected.unionByName(pick))
    }
    selected.select(col("query_id"), col("neighbor_id"), col("mmr_rank"),
      col("rel").as("relevance"), col("mmr_score"))
      .orderBy(col("query_id"), col("mmr_rank"))
  }

  /** The K greedy picks unrolled as chained CTEs (q51's pattern): each
    * step anti-filters the picked set, maxes pairwise cosine against it,
    * and argmaxes the pinned-literal MMR score. */
  val a12Sql: String = {
    val steps = (2 to K).map { t =>
      val p = t - 1
      s"""ms$t AS MATERIALIZED (
         |  SELECT c.query_id, c.neighbor_id, MAX(${cosSql("c.ne", "s.ne")}) AS msim
         |  FROM cand c JOIN prev$p s USING (query_id)
         |  GROUP BY c.query_id, c.neighbor_id),
         |sc$t AS MATERIALIZED (
         |  SELECT c.query_id, c.neighbor_id, c.ne, c.rel,
         |         $MmrLambda * c.rel - $MmrComp * m.msim AS mmr
         |  FROM cand c JOIN ms$t m
         |    ON c.query_id = m.query_id AND c.neighbor_id = m.neighbor_id
         |  WHERE NOT EXISTS (SELECT 1 FROM prev$p p
         |    WHERE p.query_id = c.query_id AND p.neighbor_id = c.neighbor_id)),
         |sel$t AS MATERIALIZED (
         |  SELECT query_id, neighbor_id, ne, rel, mmr AS mmr_score, $t AS mmr_rank FROM (
         |    SELECT s.*, ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY mmr DESC, neighbor_id) AS rn FROM sc$t s)
         |  WHERE rn = 1),
         |prev$t AS MATERIALIZED (SELECT * FROM prev$p UNION ALL SELECT * FROM sel$t)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
       |cand AS MATERIALIZED (
       |  SELECT query_id, neighbor_id, ne, rel FROM (
       |    SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id, n.embedding AS ne,
       |           ${cosSql("q.embedding", "n.embedding")} AS rel,
       |           ROW_NUMBER() OVER (PARTITION BY q.vec_id
       |             ORDER BY ${cosSql("q.embedding", "n.embedding")} DESC, n.vec_id) AS crk
       |    FROM e q JOIN e n ON q.vec_id <> n.vec_id
       |    WHERE q.vec_id < $NQueries)
       |  WHERE crk <= $MmrCands),
       |sel1 AS MATERIALIZED (
       |  SELECT query_id, neighbor_id, ne, rel, $MmrLambda * rel AS mmr_score, 1 AS mmr_rank FROM (
       |    SELECT c.*, ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY rel DESC, neighbor_id) AS rn FROM cand c)
       |  WHERE rn = 1),
       |prev1 AS MATERIALIZED (SELECT * FROM sel1),
       |$steps
       |SELECT query_id, neighbor_id, CAST(mmr_rank AS INTEGER) AS mmr_rank,
       |       rel AS relevance, mmr_score
       |FROM prev$K ORDER BY query_id, mmr_rank""".stripMargin
  }
}
