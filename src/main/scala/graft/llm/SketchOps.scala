package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables

/** Sketch-based near-duplicate detection: MinHash+LSH and SimHash
  * (driver mandate SURVEY.md §7.5). All hash functions are md5-derived so
  * the DuckDB oracle can reproduce them bit-for-bit — no engine-private
  * hash (xxhash64 etc.) appears in any compared output.
  *
  * Scale design: the LSH band join is the canonical 100 TB near-dup path —
  * candidates are generated by equi-join on (band, band_hash), never by a
  * quadratic all-pairs scan; the exact-verification stage (d06) then runs
  * only on candidates. Signatures are 16 aggregated longs per doc (128 B),
  * so the shuffle is tiny regardless of document size.
  */
object SketchOps {

  private val NumPerm = 16
  private[graft] val Bands = 4
  private val RowsPerBand = NumPerm / Bands

  /** Per-token md5 hash *bases*, computed once over the DISTINCT
    * vocabulary and broadcast-joined back to occurrences (dictionary
    * encoding — md5 cost scales with |vocab|, not corpus size). The 16
    * permutation hashes derive from two 40-bit bases by double hashing
    * (Kirsch–Mitzenmacher): h_j = h1 + j·h2, overflow-free (< 2^45) and
    * reproducible in DuckDB hex-substring arithmetic. */
  private def tokenHashBases(toks: DataFrame): DataFrame =
    toks.select(col("tok")).distinct()
      .select(col("tok"),
        conv(substring(md5(col("tok")), 1, 10), 16, 10).cast(LongType).as("h1"),
        conv(substring(md5(col("tok")), 11, 10), 16, 10).cast(LongType).as("h2"))

  /** 16-permutation MinHash signature, one row per doc: m0..m15, over
    * the distinct word-3-gram shingles, the SAME shingle definition d06
    * verifies exactly, so LSH candidates feed the exact stage directly.
    * (1-gram shingles are a trap here: over a small vocabulary every long
    * doc contains nearly every word, all signatures collide, and the
    * candidate set goes quadratic — observed 9.7M pairs from 5k docs
    * before this was switched to 3-grams.) The one reader of shingle
    * TEXT outside TextOps: the two 40-bit hash bases are md5 substrings
    * of the shingle itself, not of its 60-bit key. */
  def minhashSignatures(df: DataFrame): DataFrame = {
    // pinned: read twice below (the dictionary derives from it AND the
    // occurrence stream joins against the dictionary)
    val toks = graft.StageCache.pin(TextOps.shingleRows(df, 3).withColumnRenamed("sh", "tok"))
    val hashed = toks.join(broadcast(tokenHashBases(toks)), "tok")
    hashed.groupBy(col("doc_id"), col("source"))
      .agg(min(col("h1") + lit(0) * col("h2")).as("m0"),
        (1 until NumPerm).map(j => min(col("h1") + lit(j) * col("h2")).as(s"m$j")): _*)
  }

  // ---------------------------------------------------------------------
  // d07 — MinHash LSH candidate pairs: band the signature (4 bands × 4
  // rows), bucket-join on (band, band_hash), then estimate similarity as
  // the fraction of agreeing minima. Candidates only — exact Jaccard
  // verification is d06's job downstream.
  // ---------------------------------------------------------------------
  /** Banded LSH keys, one row per (doc, band): (doc_id, band, bh). This IS
    * the on-disk layout of a production LSH index — [[Bands]] rows of
    * (int, 32-hex md5) per doc regardless of document size, so a 100 TB
    * corpus's band index is tens of GB. Consumed by the d07/d11 self-join
    * and by d30's index-vs-batch probe join. */
  def bandRows(sig: DataFrame, nBands: Int = Bands): DataFrame = {
    val rows = NumPerm / nBands
    val bandCols = (0 until nBands).map { b =>
      val cols = (0 until rows).map(r => col(s"m${b * rows + r}"))
      struct(lit(b).as("band"), md5(concat_ws(",", cols: _*)).as("bh"))
    }
    sig.select(col("doc_id"), explode(array(bandCols: _*)).as("s"))
      .select(col("doc_id"), col("s.band").as("band"), col("s.bh").as("bh"))
  }

  /** LSH candidate pairs (d1 < d2) from a cached signature frame: bucket
    * equi-join on (band, band-hash) — the content-based block generator
    * both d07 (estimate) and d11 (exact verify) consume. `nBands` is a
    * knob for the recall census only; every registered query uses the
    * default. */
  def lshCandidates(sig: DataFrame, nBands: Int = Bands): DataFrame = {
    val bands = bandRows(sig, nBands)
    bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .distinct()
  }

  /** MinHash signatures + shingle hashes over the RAW documents table,
    * memoized per (session, dir): d07, d11 and d12 are three tiers over
    * the same two stages — a session-level materialized view
    * ([[graft.StageCache]]), computed once instead of per query. */
  private[llm] def docSigStage(spark: SparkSession, dir: String): DataFrame =
    graft.StageCache.cached(spark, dir, "doc_sig")(
      minhashSignatures(Tables.documents(spark, dir)))

  /** The documents table's distinct 3-gram shingle rows, hashed:
    * (doc_id, source, shh). r19: this one frame was being rebuilt —
    * token explode, lead window, md5 — by d06, d40, d41, d29/d29b/d43
    * (source grain), d09, the bottom-k stage and d44's verify arrays,
    * each per query; now every one of them is a narrow filter/aggregate
    * over this single pinned stage (d30/d42 consumed it already and
    * simply ignore the added `source` column). */
  private[llm] def docShhStage(spark: SparkSession, dir: String): DataFrame =
    graft.StageCache.cached(spark, dir, "doc_shh")(
      TextOps.shingleHashes(Tables.documents(spark, dir), 3))

  def d07MinhashLsh(spark: SparkSession, dir: String): DataFrame = {
    // only the signature stage: materializing the shingle stage here
    // would run a corpus-wide job d07 never consumes
    val sig = docSigStage(spark, dir)
    val cand = lshCandidates(sig)
    val s1 = sig.select(col("doc_id").as("d1") +:
      (0 until NumPerm).map(j => col(s"m$j").as(s"x$j")): _*)
    val s2 = sig.select(col("doc_id").as("d2") +:
      (0 until NumPerm).map(j => col(s"m$j").as(s"y$j")): _*)
    val nEq = (0 until NumPerm)
      .map(j => when(col(s"x$j") === col(s"y$j"), 1).otherwise(0))
      .reduce(_ + _)
    cand.join(s1, "d1").join(s2, "d2")
      .select(col("d1"), col("d2"),
        (nEq.cast(DoubleType) / lit(NumPerm.toDouble)).as("est_sim"))
      .orderBy(col("d1"), col("d2"))
  }

  /** Shared oracle CTE chain (no leading WITH): word-3-gram shingles →
    * 16-perm MinHash signatures → banded buckets → candidate pairs
    * `cand(d1, d2)`, over any relation with (doc_id, source, text). */
  def lshCtes(from: String): String = {
    val hashes = (0 until NumPerm)
      .map(j => s"MIN(CAST(('0x' || substr(md5(tok), 1, 10)) AS BIGINT) + $j * CAST(('0x' || substr(md5(tok), 11, 10)) AS BIGINT)) AS m$j")
      .mkString(",\n         ")
    val bandCase = (0 until Bands).map { b =>
      val cols = (0 until RowsPerBand).map(r => s"CAST(m${b * RowsPerBand + r} AS VARCHAR)")
      s"WHEN $b THEN md5(${cols.mkString(" || ',' || ")})"
    }.mkString(" ")
    s"""toks AS (
       |  SELECT doc_id, source,
       |         list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS tk
       |  FROM $from),
       |tok AS (
       |  SELECT DISTINCT doc_id, source, array_to_string(tk[i:i+2], ' ') AS tok
       |  FROM toks, (SELECT unnest(range(1, (SELECT COALESCE(MAX(len(tk)), 1) FROM toks))) AS i) r
       |  WHERE i <= len(tk) - 2),
       |sig AS (
       |  SELECT doc_id, source,
       |         $hashes
       |  FROM tok GROUP BY doc_id, source),
       |bands AS (
       |  SELECT doc_id, b, CASE b $bandCase END AS bh
       |  FROM sig, (SELECT unnest(range(0, $Bands)) AS b) r),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS d1, b2.doc_id AS d2
       |  FROM bands a JOIN bands b2
       |    ON a.b = b2.b AND a.bh = b2.bh AND a.doc_id < b2.doc_id)""".stripMargin
  }

  val d07Sql: String = {
    val nEq = (0 until NumPerm)
      .map(j => s"(CASE WHEN s1.m$j = s2.m$j THEN 1 ELSE 0 END)")
      .mkString(" + ")
    s"""WITH ${lshCtes("documents")}
       |SELECT d1, d2, CAST($nEq AS DOUBLE) / 16.0 AS est_sim
       |FROM cand JOIN sig s1 ON s1.doc_id = d1 JOIN sig s2 ON s2.doc_id = d2
       |ORDER BY d1, d2""".stripMargin
  }

  // ---------------------------------------------------------------------
  // d11 — the COMPOSED 100 TB near-dup pipeline the tiered design promises
  // (round-1 verdict #3): MinHash-LSH candidate generation over the whole
  // corpus (content-based blocks, no metadata blocking) feeding the exact
  // n-gram-Jaccard verification — d07's block join in front of d06's
  // intersection count, registered as one oracle-checked query. The
  // quadratic stage never runs: the exact verify touches only pairs the
  // band join emitted.
  // ---------------------------------------------------------------------
  private[graft] val NearDupThreshold = 0.2

  def d11LshNearDup(spark: SparkSession, dir: String): DataFrame =
    lshVerifiedPairs(docSigStage(spark, dir), docShhStage(spark, dir))
      .orderBy(col("d1"), col("d2"))

  /** Candidate→verify over PRECOMPUTED signature (doc_id, source, m0..m15)
    * and shingle-hash (doc_id, shh) frames restricted to the same doc set
    * (60-bit md5 shingle keys, same contract as d06 — 8-byte shuffle
    * rows). The single LSH entry point: every consumer (d11/d12/d23
    * directly, d13/d18 via survivor semi-joins on the shared stages)
    * shares those stages instead of recomputing them per query. */
  def lshVerifiedPairs(sig: DataFrame, shIn: DataFrame,
      nBands: Int = Bands): DataFrame = {
    // sh feeds three consumers in the final plan (both join sides and the
    // per-doc sizes); sig feeds only the candidate join — caching it
    // would just pin blocks for a single-consumer subtree
    val sh = graft.StageCache.pin(shIn)
    val cand = lshCandidates(sig, nBands)
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    val sh2 = sh.select(col("doc_id").as("__d2"), col("shh").as("shh2"))
    val inter = cand
      .join(sh.select(col("doc_id").as("d1"), col("shh")), "d1")
      .join(sh2, col("d2") === col("__d2") && col("shh") === col("shh2"))
      .groupBy(col("d1"), col("d2"))
      .agg(count(lit(1)).as("n_inter"))
    inter
      .join(sizes.select(col("doc_id").as("d1"), col("sz").as("sz1")), "d1")
      .join(sizes.select(col("doc_id").as("d2"), col("sz").as("sz2")), "d2")
      .select(col("d1"), col("d2"),
        (col("n_inter").cast(DoubleType)
          / (col("sz1") + col("sz2") - col("n_inter"))).as("jaccard"))
      .filter(col("jaccard") >= NearDupThreshold)
  }

  /** Verified near-dup pairs as a CTE chain extension (no leading WITH):
    * append after [[lshCtes]]; exposes `neardup(d1, d2, jaccard)`. */
  def nearDupCtes(from: String): String =
    s"""${lshCtes(from)},
       |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM tok GROUP BY doc_id),
       |inter AS (
       |  SELECT c.d1, c.d2, COUNT(*) AS n_inter
       |  FROM cand c
       |  JOIN tok s1 ON s1.doc_id = c.d1
       |  JOIN tok s2 ON s2.doc_id = c.d2 AND s1.tok = s2.tok
       |  GROUP BY 1, 2),
       |neardup AS (
       |  SELECT d1, d2,
       |         CAST(n_inter AS DOUBLE) / (z1.sz + z2.sz - n_inter) AS jaccard
       |  FROM inter
       |  JOIN sizes z1 ON z1.doc_id = d1
       |  JOIN sizes z2 ON z2.doc_id = d2
       |  WHERE CAST(n_inter AS DOUBLE) / (z1.sz + z2.sz - n_inter) >= $NearDupThreshold)""".stripMargin

  val d11Sql: String =
    s"""WITH ${nearDupCtes("documents")}
       |SELECT d1, d2, jaccard FROM neardup ORDER BY d1, d2""".stripMargin

  // ---------------------------------------------------------------------
  // d12 — dedup APPLY: the terminal stage of the tiered pipeline
  // (candidates → exact verify → drop). Every doc appearing as the
  // higher-id side of a verified near-dup pair (d11) is dropped; lower
  // ids survive as canonical representatives. Greedy drop-all-higher
  // policy, not connected components — deterministic, single anti-join,
  // and conservative (never drops a doc without a surviving lower
  // near-neighbor chain). The anti-join is a hash join on doc_id: the
  // pair set is tiny relative to the corpus, so at 100 TB it broadcasts.
  // ---------------------------------------------------------------------
  def d12DedupApply(spark: SparkSession, dir: String): DataFrame = {
    val drop = d11LshNearDup(spark, dir).select(col("d2")).distinct()
    Tables.documents(spark, dir)
      .join(broadcast(drop), col("doc_id") === col("d2"), "left_anti")
      .select(col("doc_id"), col("source"), col("n_chars"))
      .orderBy(col("doc_id"))
  }

  val d12Sql: String =
    s"""WITH ${nearDupCtes("documents")}
       |SELECT doc_id, source, n_chars FROM documents
       |WHERE doc_id NOT IN (SELECT d2 FROM neardup)
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // d23 — dedup CLUSTERS: connected components over the verified near-dup
  // pair graph (d11), labeling every clustered doc with the minimum doc_id
  // of its component — the canonical-representative assignment real corpus
  // dedup publishes (d12's greedy drop-higher is the fast tier; this is
  // the exact-cluster tier, catching chains a>b, b>c where greedy keeps a
  // and c but the cluster is {a,b,c}).
  //
  // Algorithm: iterated min-label propagation over the symmetrized edge
  // set — label(d) := min(label(d), min over neighbors(label(n))) until
  // fixpoint. Each round is one equi-join + one hash aggregate (shuffle on
  // doc_id); rounds needed = graph diameter (near-dup components are tiny
  // chains, so single digits even at 100 TB — same join-iteration shape as
  // the "large-star/small-star" CC algorithm). The fixpoint test is a
  // 1-row count, and each round localCheckpoints to keep lineage flat.
  // ---------------------------------------------------------------------
  def d23DedupClusters(spark: SparkSession, dir: String): DataFrame = {
    val labels = connectedComponents(
      lshVerifiedPairs(docSigStage(spark, dir), docShhStage(spark, dir))
        .select(col("d1"), col("d2")))
    // cluster_size via count-aggregate + join: constant per-group state
    // (a collect_list of members would build a whole cluster in one
    // aggregation buffer — OOM bait on a boilerplate mega-cluster)
    val sizes = labels.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, Seq("cluster_id"))
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"))
      .orderBy(col("doc_id"))
  }

  /** Connected components over an undirected pair set `(d1, d2)`:
    * returns (doc_id, cluster_id = min id in the component) for every
    * endpoint. Each round does min-label propagation over the edges AND a
    * pointer-doubling jump (label := label-of-label), so convergence is
    * O(log diameter) rounds, not O(diameter) — a 100 TB boilerplate
    * mega-cluster forming a long chain of near-dup edges (templated docs
    * drifting gradually) converges in ~log2(chain) joins instead of
    * tripping the round bound. */
  def connectedComponents(pairs: DataFrame): DataFrame = {
    // symmetrize: propagation must flow both directions
    val edges = graft.StageCache.checkpoint(pairs
      .union(pairs.select(col("d2").as("d1"), col("d1").as("d2"))))
    var labels = graft.StageCache.checkpoint(
      edges.select(col("d1").as("doc_id")).distinct()
        .select(col("doc_id"), col("doc_id").as("cluster_id")))
    val MaxRounds = 50
    var converged = false
    var rounds = 0
    while (!converged && rounds < MaxRounds) {
      val neighborMin = edges
        .join(labels.select(col("doc_id").as("d2"), col("cluster_id").as("nl")), "d2")
        .groupBy(col("d1").as("doc_id"))
        .agg(min(col("nl")).as("nmin"))
      // carry the OLD label through the round so the convergence probe
      // is a filter over the pinned result instead of a join of two
      // pinned frames — one node-sized shuffle fewer per round (r19)
      val propagated = labels.select(col("doc_id"), col("cluster_id").as("__old"))
        .join(neighborMin, Seq("doc_id"))
        .select(col("doc_id"), col("__old"),
          least(col("__old"), col("nmin")).as("cluster_id"))
      // pointer-doubling: a label is always some member's doc_id, so its
      // own row carries a (possibly smaller) label — jump to it. Left
      // join: a component's minimum labels itself, and after the jump the
      // chain length to the minimum halves each round.
      val jumpedLabel = least(col("cluster_id"),
        coalesce(col("jumped"), col("cluster_id")))
      val next = graft.StageCache.checkpoint(propagated.join(
          propagated.select(
            col("doc_id").as("cluster_id"), col("cluster_id").as("jumped")),
          Seq("cluster_id"), "left")
        .select(col("doc_id"), jumpedLabel.as("cluster_id"),
          (jumpedLabel =!= col("__old")).as("__chg")))
      converged = next.filter(col("__chg")).isEmpty
      labels = next.select(col("doc_id"), col("cluster_id"))
      rounds += 1
    }
    // an unconverged exit would silently publish split components — with
    // pointer doubling, >MaxRounds means min-id eccentricity >2^50, which
    // cannot occur; fail loudly rather than emit wrong clusters
    require(converged,
      s"connectedComponents did not reach fixpoint after $MaxRounds rounds")
    labels
  }

  // Oracle: transitive closure by recursive CTE over the same verified
  // pair set (fine at gate scale: the pair graph is tiny), component
  // label = min reachable id (self included).
  val d23Sql: String =
    s"""WITH RECURSIVE ${nearDupCtes("documents")},
       |edges AS (
       |  SELECT d1, d2 FROM neardup
       |  UNION SELECT d2, d1 FROM neardup),
       |reach AS (
       |  SELECT d1 AS src, d2 AS dst FROM edges
       |  UNION
       |  SELECT r.src, e.d2 FROM reach r JOIN edges e ON r.dst = e.d1),
       |lbl AS (
       |  SELECT src AS doc_id, LEAST(src, MIN(dst)) AS cluster_id
       |  FROM reach GROUP BY src)
       |SELECT l.doc_id, l.cluster_id,
       |       CAST(COUNT(*) OVER (PARTITION BY l.cluster_id) AS BIGINT) AS cluster_size
       |FROM lbl l
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // d08 — SimHash (48-bit): per-token 48-bit md5-derived hash; each bit
  // contributes ±1 weighted by term frequency (non-distinct tokens); the
  // sketch sets bit b iff the summed contribution is positive. Near-dup
  // pairs = same-source docs with Hamming distance ≤ 12 (bit_count of
  // XOR). The 48 per-bit sums are one groupBy with 48 map-side-combined
  // aggregates — a single shuffle of 48 longs per doc.
  // ---------------------------------------------------------------------
  // ---------------------------------------------------------------------
  // d09 — KMV distinct-count sketch per source over the shingle space,
  // via the custom TypedImperativeAggregate
  // [[org.apache.spark.sql.graft.BottomKAgg]]: the 16 smallest 60-bit
  // md5 hashes of the distinct shingles, the (k−1)·2^60 / kth-min
  // estimate, and the exact distinct for comparison. Deterministic sketch
  // content → full oracle parity (unlike HLL).
  // ---------------------------------------------------------------------
  private val KmvK = 16

  def d09KmvDistinct(spark: SparkSession, dir: String): DataFrame = {
    // the (source, shh) distinct over the pinned per-doc rows equals the
    // hashed (source, shingle) distinct (d29's argument)
    val st = docShhStage(spark, dir)
      .select(col("source"), col("shh").as("h")).distinct()
    st.groupBy(col("source"))
      .agg(
        org.apache.spark.sql.graft.BottomKAgg.bottomK(col("h"), KmvK).as("__bk"),
        count(lit(1)).as("exact_distinct"))
      .select(col("source"),
        element_at(col("__bk"), KmvK).as("kth_min"),
        (lit((KmvK - 1).toDouble) * lit((1L << 60).toDouble)
          / element_at(col("__bk"), KmvK).cast(DoubleType)).as("est_distinct"),
        col("exact_distinct"))
      .orderBy(col("source"))
  }

  val d09Sql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, source,
       |         list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS tk
       |  FROM documents),
       |st AS (
       |  SELECT DISTINCT source, array_to_string(tk[i:i+2], ' ') AS tok
       |  FROM toks, (SELECT unnest(range(1, (SELECT COALESCE(MAX(len(tk)), 1) FROM toks))) AS i) r
       |  WHERE i <= len(tk) - 2),
       |h AS (SELECT source, CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) AS h FROM st)
       |SELECT source, list_sort(list(h))[$KmvK] AS kth_min,
       |       CAST(${KmvK - 1}.0 AS DOUBLE) * CAST(${1L << 60} AS DOUBLE)
       |         / CAST(list_sort(list(h))[$KmvK] AS DOUBLE) AS est_distinct,
       |       COUNT(*) AS exact_distinct
       |FROM h GROUP BY source ORDER BY source""".stripMargin

  // ---------------------------------------------------------------------
  // d40b — CONTAINMENT from bottom-k sketches: the scale tier of d40's
  // exact containment (TextOps). MinHash LSH cannot candidate-generate
  // containment (a doc contained in a much larger one shares few
  // min-hashes — band collisions fade exactly when |B| ≫ |A|), but
  // bottom-k sketches compose: the k smallest of S(A) ∪ S(B) is itself a
  // valid bottom-k sketch of A ∪ B, so resemblance is estimable from the
  // two per-doc sketches alone (Broder '97), and containment follows
  // from resemblance plus the EXACT set sizes (free: they ride the same
  // aggregate): j = i/(szA+szB−i) ⇒ i = j(szA+szB)/(1+j), c(A→B) = i/szA.
  //
  // Scale: per-doc state is k longs + one count, built in ONE
  // TypedImperativeAggregate pass over the same 8-byte hashed-shingle
  // rows d09 shuffles; the pair stage then compares k-long ARRAYS —
  // per-pair cost k, not |shingles| — which is what makes containment
  // candidate generation affordable where the exact tier (d40) pays the
  // full intersection join. Every estimate is deterministic (md5-derived
  // hashes, closed-form arithmetic), so the DuckDB oracle reproduces the
  // sketch CONTENT exactly — full hash parity on a sketch op, the d09
  // precedent.
  // ---------------------------------------------------------------------
  // MEASURED boundary behavior of these defaults (RecallBench boundary
  // mode, r13, RECALL_CENSUS.json): wide-margin pairs (true c >= 0.7)
  // recall 0.88-0.98 at k=16; pairs AT the boundary (c = 0.51 vs the
  // 0.5 exact threshold) recall ~0.66 at k=16, 0.84 at k=32, 0.96 at
  // k=128 — k is the effective knob, est_t 0.4->0.3 the cheap one
  // (+0.10-0.15 recall, precision unchanged by the exact verify).
  // Tiny-in-huge containment is CANDIDATE-bound: recall tracks
  // k/size-ratio (0.30 at k=16 for ratio 66; k >~ 2x ratio reaches
  // ~0.9) and est_t has no effect there — the nightly exact pass is
  // the documented backstop for contained docs << their container.
  private[graft] final val ContainK = 16
  private[graft] final val ContainEstThreshold = 0.4

  def d40bContainmentKmv(spark: SparkSession, dir: String): DataFrame =
    containmentKmv(Tables.documents(spark, dir),
      sk0 = Some(docBottomKStage(spark, dir)))

  /** The default-k per-doc sketch over the documents table, shared by
    * d40b/d42/d44 per (session, dir) via [[graft.StageCache]] — all
    * three containment tiers start from this exact frame, so it is
    * built once per session instead of once per query (cold bench
    * bills the build). Census paths with non-default `k` still build
    * their own. */
  private def docBottomKStage(spark: SparkSession, dir: String): DataFrame =
    // aggregates the pinned shingle-hash stage instead of re-tokenizing
    // the corpus: the same rows bottomKSketch hashes per call
    graft.StageCache.cached(spark, dir, "doc_bk")(
      sketchOf(docShhStage(spark, dir), ContainK))

  /** d40b's closed-form containment estimate over sketch pairs that carry
    * each side's bottom-k sketch and shingle count (bk1, sz1, bk2, sz2):
    * j_est is the KMV Jaccard estimate over the k smallest of the union,
    * and the intersection estimate j·(sz1+sz2)/(j+1) over each side's size
    * gives c12_est and c21_est. The one Scala copy, shared by d40b, d44 and
    * the streaming syndication gate; the oracle SQL spells it out itself. */
  private[graft] def withContainmentEst(pairs: DataFrame, k: Int): DataFrame = {
    val u = slice(array_sort(array_union(col("bk1"), col("bk2"))), 1, k)
    val nInter3 = size(array_intersect(array_intersect(u, col("bk1")), col("bk2")))
    pairs
      .withColumn("j_est", nInter3.cast(DoubleType) / size(u).cast(DoubleType))
      .withColumn("__i",
        col("j_est") * (col("sz1") + col("sz2")).cast(DoubleType)
          / (col("j_est") + lit(1.0)))
      .withColumn("c12_est", col("__i") / col("sz1").cast(DoubleType))
      .withColumn("c21_est", col("__i") / col("sz2").cast(DoubleType))
      .drop("__i")
  }

  /** Per-doc bottom-k shingle sketch: (doc_id, source, bk, sz) — the
    * containment tier's per-doc state, shared by d40b and the streaming
    * containment gate (CorpusStream) so both speak the same sketch. */
  private[graft] def bottomKSketch(docs: DataFrame,
      k: Int = ContainK): DataFrame =
    sketchOf(TextOps.shingleHashes(docs, 3), k)

  /** The k smallest shingle hashes and the shingle count per doc, over
    * hashed shingle rows (doc_id, source, shh). */
  private def sketchOf(sh: DataFrame, k: Int): DataFrame =
    sh.groupBy(col("doc_id"), col("source"))
      .agg(
        org.apache.spark.sql.graft.BottomKAgg.bottomK(col("shh"), k).as("bk"),
        count(lit(1)).as("sz"))

  /** Sketch-candidate pairs d1 < d2 with their containment estimates,
    * over per-doc sketches (doc_id, source, bk, sz): same-source pairs
    * for d40b, cross-source for d44. Candidate generation is EXACTLY
    * result-preserving: a pair whose estimate can clear any threshold has
    * |U ∩ S(A) ∩ S(B)| ≥ 1, i.e. the two sketches share an element — so
    * equi-joining exploded sketch elements (the "bands of size 1 over the
    * bottom-k sketch" form) finds every pair the all-pairs join would
    * keep, while the join input is |docs|·k rows and the fan-out is
    * Σ_h C(df_h, 2) over sketch-element collisions (LSH's bound), not the
    * quadratic pair count. */
  private def sketchPairs(sk: DataFrame, k: Int, crossSource: Boolean): DataFrame = {
    val el = sk.select(col("doc_id"), col("source"), explode(col("bk")).as("h"))
    val (hEq, before) = (col("ea.h") === col("eb.h"), col("ea.doc_id") < col("eb.doc_id"))
    val cand = el.as("ea").join(el.as("eb"),
        if (crossSource) hEq && col("ea.source") =!= col("eb.source") && before
        else col("ea.source") === col("eb.source") && hEq && before)
      .select(col("ea.doc_id").as("d1"), col("eb.doc_id").as("d2"))
      .distinct()
    def side(i: Int) = sk.select(col("doc_id").as(s"d$i"), col("source").as(s"source$i"),
      col("bk").as(s"bk$i"), col("sz").as(s"sz$i"))
    withContainmentEst(cand.join(side(1), "d1").join(side(2), "d2"), k)
  }

  /** Frame-level core of d40b — see the header above. `docs` needs
    * (doc_id, source, text) columns. `k`/`estT` are recall-census knobs;
    * every registered query uses the defaults. */
  def containmentKmv(docs: DataFrame, k: Int = ContainK,
      estT: Double = ContainEstThreshold,
      sk0: Option[DataFrame] = None): DataFrame = {
    // consumed 3× (element explode + both candidate-join sides): either
    // the shared session stage (registered query) or a per-call pin.
    // Source-blocked like the exact tier it feeds (d40) — same measured
    // trade-off; the cross-source protocol is crossSourceContainment.
    sketchPairs(sk0.getOrElse(graft.StageCache.pin(bottomKSketch(docs, k))), k,
        crossSource = false)
      .filter(greatest(col("c12_est"), col("c21_est")) >= estT)
      .select(col("d1"), col("d2"), col("sz1"), col("sz2"),
        col("j_est"), col("c12_est"), col("c21_est"))
      .orderBy(col("d1"), col("d2"))
  }

  val d40bSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, source,
       |         list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS tk
       |  FROM documents),
       |st AS (
       |  SELECT DISTINCT doc_id, source, array_to_string(tk[i:i+2], ' ') AS tok
       |  FROM toks, (SELECT unnest(range(1, (SELECT COALESCE(MAX(len(tk)), 1) FROM toks))) AS i) r
       |  WHERE i <= len(tk) - 2),
       |h AS (SELECT doc_id, source,
       |             CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) AS h FROM st),
       |sk AS (
       |  SELECT doc_id, source, COUNT(*) AS sz,
       |         list_slice(list_sort(list(h)), 1, $ContainK) AS bk
       |  FROM h GROUP BY doc_id, source),
       |el AS (SELECT doc_id, source, unnest(bk) AS h FROM sk),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
       |  FROM el a JOIN el b
       |    ON a.source = b.source AND a.h = b.h AND a.doc_id < b.doc_id),
       |pairs AS (
       |  SELECT c.d1, c.d2, sa.sz AS sz1, sb.sz AS sz2,
       |         sa.bk AS bk1, sb.bk AS bk2
       |  FROM cand c JOIN sk sa ON sa.doc_id = c.d1
       |              JOIN sk sb ON sb.doc_id = c.d2),
       |est AS (
       |  SELECT d1, d2, sz1, sz2,
       |         list_slice(list_sort(list_distinct(list_concat(bk1, bk2))), 1, $ContainK) AS u,
       |         bk1, bk2
       |  FROM pairs),
       |jj AS (
       |  SELECT d1, d2, sz1, sz2,
       |         CAST(len(list_intersect(list_intersect(u, bk1), bk2)) AS DOUBLE)
       |           / len(u) AS j_est
       |  FROM est),
       |cc AS (
       |  SELECT d1, d2, sz1, sz2, j_est,
       |         (j_est * (sz1 + sz2) / (j_est + 1.0)) / sz1 AS c12_est,
       |         (j_est * (sz1 + sz2) / (j_est + 1.0)) / sz2 AS c21_est
       |  FROM jj)
       |SELECT d1, d2, sz1, sz2, j_est, c12_est, c21_est FROM cc
       |WHERE GREATEST(c12_est, c21_est) >= $ContainEstThreshold
       |ORDER BY d1, d2""".stripMargin

  // ---------------------------------------------------------------------
  // d44 — CROSS-source containment: the syndication detector (an article
  // from one source republished inside a longer page under another).
  // The exact tier (d40) is source-blocked by measured necessity — the
  // corpus-wide intersection join is Σ_shh df², 1.25B pair rows at sf3
  // on the replica fixture, past a single node's heap — so cross-source
  // doc-in-doc gets the architecture d40's header prescribes instead:
  //   1. candidates: bottom-k sketch elements equi-join (d40b's form),
  //      restricted to source-UNEQUAL pairs — the join output streams
  //      through the inequality filter, so only cross-source pairs
  //      reach the distinct;
  //   2. estimate gate: the d40b closed-form containment estimate must
  //      clear ContainEstThreshold — a pair-bounded, k-array compare;
  //   3. exact verify: per-doc FULL sorted shingle-hash arrays join the
  //      surviving pairs and array_intersect gives the exact n_inter —
  //      cost ∝ estimate-passing pairs, never Σ df².
  // Every stage is deterministic (md5 hashes, closed-form arithmetic),
  // so the whole three-stage protocol has a full DuckDB oracle. The
  // contract is estimate-GATED exact containment: a qualifying pair
  // whose k=16 sketches miss the estimate threshold is not emitted —
  // the recall-for-scale trade every sketch-candidate system makes
  // (d07/d11's LSH precedent), and the reason this runs where the
  // exact tier cannot.
  // ---------------------------------------------------------------------
  def d44CrossSourceContainment(spark: SparkSession, dir: String): DataFrame =
    crossSourceContainment(Tables.documents(spark, dir),
      sk0 = Some(docBottomKStage(spark, dir)),
      sh0 = Some(docShhStage(spark, dir)))

  /** Frame-level core of d44 — see the header above. `docs` needs
    * (doc_id, source, text) columns. `k`/`estT` are recall-census knobs;
    * every registered query uses the defaults. `sh0` optionally supplies
    * prebuilt (doc_id, shh) shingle-hash rows for the exact-verify
    * arrays (the registered query passes the pinned doc_shh stage). */
  def crossSourceContainment(docs: DataFrame, k: Int = ContainK,
      estT: Double = ContainEstThreshold,
      sk0: Option[DataFrame] = None,
      sh0: Option[DataFrame] = None): DataFrame = {
    // element explode + both pair sides: shared session stage when the
    // caller is the registered query, else a per-call pin. The estimate
    // is pair-bounded and read twice (gated ids + the verify join).
    val est = graft.StageCache.pin(sketchPairs(
        sk0.getOrElse(graft.StageCache.pin(bottomKSketch(docs, k))), k,
        crossSource = true)
      .filter(greatest(col("c12_est"), col("c21_est")) >= estT)
      .select(col("d1"), col("d2"), col("source1"), col("source2"),
        col("sz1"), col("sz2")))
    // exact verify per surviving pair: full sorted hash arrays, built for
    // CANDIDATE DOCS ONLY (r11 verdict #1) — the estimate gate names the
    // docs that can matter, so the corpus-wide array build + shuffle the
    // aggregate would otherwise cost at 100 TB collapses to the gated
    // set: a broadcast semi-join on the pair ids BEFORE the aggregate
    // (Catalyst can't push a semi-join through it on its own), the same
    // probe-then-verify discipline as d30/d35b/d42. (Shingle rows are
    // distinct per doc, so collect_list is set-valued.)
    val gatedIds = est.select(col("d1").as("doc_id"))
      .union(est.select(col("d2").as("doc_id"))).distinct()
    val gatedSh = sh0 match {
      // pinned stage: the semi-join is a narrow filter over built blocks
      case Some(sh) => sh.join(broadcast(gatedIds), Seq("doc_id"), "left_semi")
      // frame-level caller: prune docs BEFORE tokenizing (r11 verdict #1)
      case None => TextOps.shingleHashes(
        docs.join(broadcast(gatedIds), Seq("doc_id"), "left_semi"), 3)
    }
    val fullArr = gatedSh
      .groupBy(col("doc_id"))
      .agg(array_sort(collect_list(col("shh"))).as("arr"))
    est
      .join(fullArr.select(col("doc_id").as("d1"), col("arr").as("arr1")), "d1")
      .join(fullArr.select(col("doc_id").as("d2"), col("arr").as("arr2")), "d2")
      .withColumn("n_inter",
        size(array_intersect(col("arr1"), col("arr2"))).cast(LongType))
      .withColumn("c12", col("n_inter").cast(DoubleType) / col("sz1").cast(DoubleType))
      .withColumn("c21", col("n_inter").cast(DoubleType) / col("sz2").cast(DoubleType))
      .filter(greatest(col("c12"), col("c21")) >= TextOps.ContainmentThreshold)
      .select(col("d1"), col("d2"), col("source1"), col("source2"),
        col("sz1"), col("sz2"), col("n_inter"), col("c12"), col("c21"))
      .orderBy(col("d1"), col("d2"))
  }

  /** Cross-source victims under d41's drop policy (drop the contained
    * doc; mutual containment keeps the lower id) — what Runner unions
    * with the same-source exact drop set so the corpus stage's
    * syndication claim is real. Pair-bounded, broadcastable. */
  def syndicationDropSet(docs: DataFrame): DataFrame =
    TextOps.containmentVictims(crossSourceContainment(docs))

  val d44Sql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, source,
       |         list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS tk
       |  FROM documents),
       |st AS (
       |  SELECT DISTINCT doc_id, source, array_to_string(tk[i:i+2], ' ') AS tok
       |  FROM toks, (SELECT unnest(range(1, (SELECT COALESCE(MAX(len(tk)), 1) FROM toks))) AS i) r
       |  WHERE i <= len(tk) - 2),
       |h AS (SELECT doc_id, source,
       |             CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) AS h FROM st),
       |sk AS (
       |  SELECT doc_id, source, COUNT(*) AS sz,
       |         list_slice(list_sort(list(h)), 1, $ContainK) AS bk
       |  FROM h GROUP BY doc_id, source),
       |el AS (SELECT doc_id, source, unnest(bk) AS h FROM sk),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
       |  FROM el a JOIN el b
       |    ON a.h = b.h AND a.source <> b.source AND a.doc_id < b.doc_id),
       |est AS (
       |  SELECT c.d1, c.d2, sa.source AS source1, sb.source AS source2,
       |         sa.sz AS sz1, sb.sz AS sz2,
       |         CAST(len(list_intersect(list_intersect(
       |           list_slice(list_sort(list_distinct(list_concat(sa.bk, sb.bk))), 1, $ContainK),
       |           sa.bk), sb.bk)) AS DOUBLE)
       |           / len(list_slice(list_sort(list_distinct(list_concat(sa.bk, sb.bk))), 1, $ContainK)) AS j_est
       |  FROM cand c JOIN sk sa ON sa.doc_id = c.d1
       |              JOIN sk sb ON sb.doc_id = c.d2),
       |gated AS (
       |  SELECT d1, d2, source1, source2, sz1, sz2
       |  FROM est
       |  WHERE GREATEST((j_est * (sz1 + sz2) / (j_est + 1.0)) / sz1,
       |                 (j_est * (sz1 + sz2) / (j_est + 1.0)) / sz2) >= $ContainEstThreshold),
       |farr AS (SELECT doc_id, list_sort(list(h)) AS arr FROM h GROUP BY doc_id),
       |ver AS (
       |  SELECT g.d1, g.d2, g.source1, g.source2, g.sz1, g.sz2,
       |         CAST(len(list_intersect(f1.arr, f2.arr)) AS BIGINT) AS n_inter
       |  FROM gated g JOIN farr f1 ON f1.doc_id = g.d1
       |               JOIN farr f2 ON f2.doc_id = g.d2)
       |SELECT d1, d2, source1, source2, sz1, sz2, n_inter,
       |       CAST(n_inter AS DOUBLE) / sz1 AS c12,
       |       CAST(n_inter AS DOUBLE) / sz2 AS c21
       |FROM ver
       |WHERE GREATEST(CAST(n_inter AS DOUBLE) / sz1,
       |               CAST(n_inter AS DOUBLE) / sz2) >= ${TextOps.ContainmentThreshold}
       |ORDER BY d1, d2""".stripMargin

  private val SimBits = 48

  def simhashes(df: DataFrame): DataFrame = {
    // read twice: dictionary build + dictionary join. An eager snapshot,
    // not a lazy pin: the plan submits the dictionary's jobs and the join's
    // concurrently, and over an unbuilt pin both ask for the same block
    // (one computes it, the other waits on its write lock and logs
    // "Block rdd_N_0 already exists")
    val occurrences = graft.StageCache.checkpoint(df.select(col("doc_id"), col("source"),
      explode(TextOps.tokens(col("text"))).as("tok")))
    // dictionary-encode: md5 over the distinct vocabulary only, broadcast
    // back to the (much larger) occurrence stream
    val dict = occurrences.select(col("tok")).distinct()
      .select(col("tok"),
        conv(substring(md5(col("tok")), 1, 12), 16, 10).cast(LongType).as("h"))
    val toks = occurrences.join(broadcast(dict), "tok")
    val bitSums = (0 until SimBits).map(b =>
      sum(shiftright(col("h"), b).bitwiseAND(1) * 2 - 1).as(s"s$b"))
    val sketch = (0 until SimBits)
      .map(b => when(col(s"s$b") > 0, lit(1L << b)).otherwise(lit(0L)))
      .reduce(_ + _)
    toks.groupBy(col("doc_id"), col("source"))
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"), col("source"), sketch.as("simhash"))
  }

  /** d08/d08b share the documents-table simhash sketch per (session,
    * dir) via [[graft.StageCache]] (r19; the doc_sig/doc_shh precedent):
    * both queries started from the identical `simhashes(documents)`
    * frame — one token explode + dictionary join + 48 bit-sum aggregate
    * per SESSION instead of one per query. */
  private def docSimhashStage(spark: SparkSession, dir: String): DataFrame =
    graft.StageCache.cached(spark, dir, "doc_simhash")(
      simhashes(Tables.documents(spark, dir)))

  def d08Simhash(spark: SparkSession, dir: String): DataFrame = {
    val sk = docSimhashStage(spark, dir) // pinned — no per-query cache
    val a = sk.select(col("doc_id").as("d1"), col("source"), col("simhash").as("sh1"))
    val b = sk.select(col("doc_id").as("d2"), col("source").as("source2"), col("simhash").as("sh2"))
    a.join(b, col("source") === col("source2") && col("d1") < col("d2"))
      .withColumn("hamming", bit_count(col("sh1").bitwiseXOR(col("sh2"))))
      .filter(col("hamming") <= 12)
      .select(col("d1"), col("d2"), col("sh1"), col("sh2"), col("hamming"))
      .orderBy(col("d1"), col("d2"))
  }

  /** Shared oracle CTE chain producing `sk(doc_id, source, simhash)`. */
  private val skCte: String = {
    val bitSums = (0 until SimBits)
      .map(b => s"SUM(((h >> $b) & 1) * 2 - 1) AS s$b")
      .mkString(",\n         ")
    val sketch = (0 until SimBits)
      .map(b => s"(CASE WHEN s$b > 0 THEN CAST(${1L << b} AS BIGINT) ELSE 0 END)")
      .mkString(" + ")
    s"""WITH tok AS (
       |  SELECT doc_id, source,
       |         CAST(('0x' || substr(md5(t), 1, 12)) AS BIGINT) AS h FROM (
       |    SELECT doc_id, source,
       |           unnest(list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')) AS t
       |    FROM documents)),
       |sums AS (
       |  SELECT doc_id, source,
       |         $bitSums
       |  FROM tok GROUP BY doc_id, source),
       |sk AS (SELECT doc_id, source, CAST($sketch AS BIGINT) AS simhash FROM sums)""".stripMargin
  }

  val d08Sql: String =
    s"""$skCte
       |SELECT a.doc_id AS d1, b.doc_id AS d2, a.simhash AS sh1, b.simhash AS sh2,
       |       CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
       |FROM sk a JOIN sk b ON a.source = b.source AND a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.simhash, b.simhash)) <= 12
       |ORDER BY d1, d2""".stripMargin

  // ---------------------------------------------------------------------
  // d08b — SimHash multi-index banding (Norouzi et al.'s multi-index
  // hashing shape): the 48-bit sketch splits into 4 × 12-bit bands;
  // candidates are pairs sharing ANY band value — a content-based
  // equi-join over the WHOLE corpus, replacing d08's metadata (`source`)
  // blocking, which a general corpus doesn't have. By pigeonhole, any
  // pair with Hamming ≤ 3 has at least one clean band, so recall at the
  // ≤3 threshold is exact (property-tested against brute force).
  // ---------------------------------------------------------------------
  private val BandBits = 12
  private val SimBands = SimBits / BandBits
  private[graft] val BandedHamming = SimBands - 1 // pigeonhole-guaranteed recall

  def d08bSimhashBanded(spark: SparkSession, dir: String): DataFrame =
    bandedPairs(docSimhashStage(spark, dir))

  /** Banded near-dup pairs over any frame with (doc_id, simhash). */
  def bandedPairs(sk0: DataFrame): DataFrame = {
    val sk = graft.StageCache.pin(sk0)
    val bandCols = (0 until SimBands).map(b => struct(
      lit(b).as("b"),
      shiftright(col("simhash"), b * BandBits).bitwiseAND((1L << BandBits) - 1)
        .as("bv")))
    val bands = sk
      .select(col("doc_id"), col("simhash"), explode(array(bandCols: _*)).as("s"))
      .select(col("doc_id"), col("simhash"), col("s.b").as("b"), col("s.bv").as("bv"))
    bands.as("a").join(bands.as("b2"),
        col("a.b") === col("b2.b") && col("a.bv") === col("b2.bv") &&
          col("a.doc_id") < col("b2.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b2.doc_id").as("d2"),
        col("a.simhash").as("sh1"), col("b2.simhash").as("sh2"))
      .distinct()
      .withColumn("hamming", bit_count(col("sh1").bitwiseXOR(col("sh2"))))
      .filter(col("hamming") <= BandedHamming)
      .orderBy(col("d1"), col("d2"))
  }

  val d08bSql: String =
    s"""$skCte,
       |bands AS (
       |  SELECT doc_id, simhash, b, (simhash >> (b * $BandBits)) & ${(1L << BandBits) - 1} AS bv
       |  FROM sk, (SELECT unnest(range(0, $SimBands)) AS b) r),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS d1, b2.doc_id AS d2,
       |         a.simhash AS sh1, b2.simhash AS sh2
       |  FROM bands a JOIN bands b2
       |    ON a.b = b2.b AND a.bv = b2.bv AND a.doc_id < b2.doc_id)
       |SELECT d1, d2, sh1, sh2,
       |       CAST(bit_count(xor(sh1, sh2)) AS INTEGER) AS hamming
       |FROM cand WHERE bit_count(xor(sh1, sh2)) <= $BandedHamming
       |ORDER BY d1, d2""".stripMargin

  // ---------------------------------------------------------------------
  // d30 — INCREMENTAL near-dup dedup: d26's append-only protocol applied
  // to the near-dup tier. A 100 TB corpus is never near-deduplicated from
  // scratch — each ingest batch probes the persisted LSH BAND INDEX
  // ([[bandRows]]: 4×(int,md5) per accepted doc, content-free) for
  // candidates, then runs exact shingle-Jaccard verification ONLY against
  // the indexed docs it collided with. Same 80/20 doc-id hash-bucket split
  // as d26: buckets <80 play the accepted index, ≥80 play today's batch.
  //
  // Scale shape: the probe is an equi-join of day-sized batch bands
  // against the band index (shuffle keyed on (band, bh) — at 100 TB the
  // batch side broadcasts); the verify fetches shingles for CANDIDATE
  // index docs only via a semi-join pushdown into the corpus store, never
  // rescanning accepted history. Within-batch duplicates are d26/d11's
  // job; this operator is the batch-vs-history edge.
  //
  // Deterministic end-to-end (md5 bands + exact Jaccard) → full DuckDB
  // oracle, unlike a random-permutation MinHash.
  //
  // MEASURED vs the full d11 re-dedup (same JVM, local[32], sf0.1 docs
  // replicated K× with distinct suffixes, fixed 1000-doc batch, index
  // signature/bands precomputed as persisted state — the production
  // shape): full re-dedup grows with the corpus (4.8 s at 5k docs →
  // 12.8 s at 40k), the incremental probe with batch × match-rate
  // (2.7 s → 5.5 s on this replica fixture, where EVERY batch doc has
  // K−1 planted near-dups in history — the probe's worst case). The
  // incremental tier wins 1.8–2.3× at every measured scale and the gap
  // widens with history; at web scale the nightly full pass is not a
  // candidate at all — incremental cost is bounded by the day's batch,
  // full-pass cost by the corpus lifetime.
  // ---------------------------------------------------------------------
  private[graft] final val IndexBuckets = 80

  /** Pinned distinct (db, di) pairs of batch-vs-index collision rows:
    * band collisions (d30, near-dup gate), sketch-element collisions
    * (d42, containment and syndication gates). */
  def candidatePairs(collisions: DataFrame): DataFrame =
    graft.StageCache.pin(collisions.select(col("db"), col("di")).distinct())

  /** Verified near-dup pairs BETWEEN two doc populations — the
    * cross-population twin of [[lshVerifiedPairs]]'s self-join, shared by
    * d30 and the streaming ingest's band-index probe. Inputs: distinct
    * candidate pairs `cand(db, di)` (from a band-collision join), and
    * each side's shingle-hash rows `shDb(db, shh)` / `shDi(di, shh)`
    * (the di side already restricted to candidate docs — the semi-join
    * pushdown that keeps history reads bounded is the CALLER's job, so
    * this helper never widens a scan). Returns pairs passing exact
    * Jaccard >= [[NearDupThreshold]] as (db, di, jaccard). */
  def crossVerifiedPairs(cand: DataFrame, shDb0: DataFrame,
      shDi0: DataFrame): DataFrame = {
    val shDb = graft.StageCache.pin(shDb0) // intersection side + per-doc sizes
    val shDi = graft.StageCache.pin(shDi0)
    val szB = shDb.groupBy(col("db")).agg(count(lit(1)).as("sz1"))
    val szI = shDi.groupBy(col("di")).agg(count(lit(1)).as("sz2"))
    val jac = col("n_inter").cast(DoubleType) /
      (col("sz1") + col("sz2") - col("n_inter"))
    cand
      .join(shDb, "db")
      .join(shDi.withColumnRenamed("di", "__di").withColumnRenamed("shh", "shh2"),
        col("di") === col("__di") && col("shh") === col("shh2"))
      .groupBy(col("db"), col("di"))
      .agg(count(lit(1)).as("n_inter"))
      .join(szB, "db")
      .join(szI, "di")
      .filter(jac >= NearDupThreshold)
      .select(col("db"), col("di"), jac.as("jaccard"))
  }

  /** (db, di, c) for candidate pairs sharing a shingle, c = n_inter /
    * sz(db): is the NEW doc's content inside an accepted one. d42 takes
    * the max per db; the containment and syndication gates reject at
    * c ≥ the d40 threshold. Frames as in [[crossVerifiedPairs]].
    * Intersect shingle rows FIRST (fan-out Σ_shh dfB·dfI), THEN restrict
    * to candidates: the opposite order multiplies every pair by
    * |shingles| before the first groupBy (d42 at sf1: 129 s vs ~7 s). */
  def containmentVerify(cand: DataFrame, shDb0: DataFrame,
      shDi: DataFrame): DataFrame = {
    val shDb = graft.StageCache.pin(shDb0) // intersection side + per-doc sizes
    val szB = shDb.groupBy(col("db")).agg(count(lit(1)).as("szb"))
    shDb.join(cand.select(col("db")).distinct(), Seq("db"), "left_semi")
      .join(shDi, Seq("shh"))
      .groupBy(col("db"), col("di"))
      .agg(count(lit(1)).as("n_inter"))
      .join(cand, Seq("db", "di"), "left_semi")
      .join(szB, "db")
      .select(col("db"), col("di"),
        (col("n_inter").cast(DoubleType) / col("szb")).as("c"))
  }

  def d30IncrementalNearDup(spark: SparkSession, dir: String): DataFrame = {
    val bucket = TextOps.hashBucket(col("doc_id"))
    val sig = docSigStage(spark, dir).withColumn("__b", bucket)
    val indexBands = bandRows(sig.filter(col("__b") < IndexBuckets))
      .select(col("doc_id").as("di"), col("band"), col("bh"))
    val batchBands = bandRows(sig.filter(col("__b") >= IndexBuckets))
      .select(col("doc_id").as("db"), col("band"), col("bh"))
    val cand = candidatePairs(batchBands.join(indexBands, Seq("band", "bh")))
    // exact verify on candidates only: shingle sets restricted per side,
    // the index side semi-joined down to candidate docs BEFORE the
    // intersection join
    val shh = docShhStage(spark, dir)
    val shBatch = shh.select(col("doc_id").as("db"), col("shh"))
      .filter(TextOps.hashBucket(col("db")) >= IndexBuckets)
    val shIndex = shh.select(col("doc_id").as("di"), col("shh"))
      .join(cand.select(col("di")).distinct(), Seq("di"), "left_semi")
    val verified = crossVerifiedPairs(cand, shBatch, shIndex)
    val nCand = cand.groupBy(col("db")).agg(count(lit(1)).as("n_index_cand"))
    val nDup = verified.groupBy(col("db")).agg(count(lit(1)).as("n_index_neardup"))
    Tables.documents(spark, dir)
      .filter(bucket >= IndexBuckets)
      .select(col("doc_id"))
      .join(nCand, col("doc_id") === nCand("db"), "left").drop("db")
      .join(nDup, col("doc_id") === nDup("db"), "left").drop("db")
      .select(col("doc_id"),
        coalesce(col("n_index_cand"), lit(0L)).as("n_index_cand"),
        coalesce(col("n_index_neardup"), lit(0L)).as("n_index_neardup"),
        (coalesce(col("n_index_neardup"), lit(0L)) === 0L).as("kept"))
      .orderBy(col("doc_id"))
  }

  val d30Sql: String =
    s"""WITH ${lshCtes("documents")},
       |bk AS (
       |  SELECT doc_id,
       |         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS bucket
       |  FROM documents),
       |ib AS (SELECT bands.doc_id AS di, b, bh FROM bands JOIN bk USING (doc_id) WHERE bucket < $IndexBuckets),
       |bb AS (SELECT bands.doc_id AS db, b, bh FROM bands JOIN bk USING (doc_id) WHERE bucket >= $IndexBuckets),
       |xc AS (SELECT DISTINCT db, di FROM bb JOIN ib USING (b, bh)),
       |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM tok GROUP BY doc_id),
       |xinter AS (
       |  SELECT c.db, c.di, COUNT(*) AS n_inter
       |  FROM xc c
       |  JOIN tok s1 ON s1.doc_id = c.db
       |  JOIN tok s2 ON s2.doc_id = c.di AND s1.tok = s2.tok
       |  GROUP BY 1, 2),
       |xnd AS (
       |  SELECT db, di FROM xinter
       |  JOIN sizes z1 ON z1.doc_id = db
       |  JOIN sizes z2 ON z2.doc_id = di
       |  WHERE CAST(n_inter AS DOUBLE) / (z1.sz + z2.sz - n_inter) >= $NearDupThreshold),
       |nc AS (SELECT db, COUNT(*) AS n_index_cand FROM xc GROUP BY db),
       |nn AS (SELECT db, COUNT(*) AS n_index_neardup FROM xnd GROUP BY db)
       |SELECT d.doc_id,
       |       CAST(COALESCE(nc.n_index_cand, 0) AS BIGINT) AS n_index_cand,
       |       CAST(COALESCE(nn.n_index_neardup, 0) AS BIGINT) AS n_index_neardup,
       |       COALESCE(nn.n_index_neardup, 0) = 0 AS kept
       |FROM bk d
       |LEFT JOIN nc ON nc.db = d.doc_id
       |LEFT JOIN nn ON nn.db = d.doc_id
       |WHERE d.bucket >= $IndexBuckets
       |ORDER BY d.doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // d42 — INCREMENTAL containment: d30's append-only protocol applied to
  // the containment tier, closing the incremental family (d26 exact, d30
  // near-dup, d35b span, d42 containment). Same 80/20 doc-id hash-bucket
  // split: buckets <80 play the accepted index, ≥80 play today's batch.
  // Candidates come from the sketch-element equi-join (d40b's form — a
  // pair whose containment estimate could clear any threshold shares a
  // bottom-k element), then exact shingle containment verifies ONLY the
  // colliding (batch, index) pairs, index side semi-joined down first.
  //
  // Scale shape: the index's persisted state is k longs per accepted doc
  // (the streaming gate's sketch-element rows — content-free); the probe
  // shuffles sketch elements keyed on the 60-bit hash, never text; the
  // verify reads history shingles only where a sketch collision names
  // the doc. Output is per-batch-doc: candidate count, the max exact
  // containment in any indexed doc, and the keep verdict — what the
  // ingest gate acts on. Deterministic md5 sketches → full oracle.
  // ---------------------------------------------------------------------
  def d42IncrementalContainment(spark: SparkSession, dir: String): DataFrame = {
    val bucket = TextOps.hashBucket(col("doc_id"))
    val docs = Tables.documents(spark, dir)
    val sk = docBottomKStage(spark, dir) // shared with d40b/d44
    val elB = sk.filter(TextOps.hashBucket(col("doc_id")) >= IndexBuckets)
      .select(col("doc_id").as("db"), explode(col("bk")).as("ck"))
    val elI = sk.filter(TextOps.hashBucket(col("doc_id")) < IndexBuckets)
      .select(col("doc_id").as("di"), explode(col("bk")).as("ck"))
    val cand = candidatePairs(elB.join(elI, Seq("ck")))
    // the exact verify on candidate docs only (both sides are
    // semi-joined down to them); a candidate pair sharing no shingle has
    // containment 0 and adds nothing to the max
    val shh = docShhStage(spark, dir)
    val shI = shh.select(col("doc_id").as("di"), col("shh"))
      .join(cand.select(col("di")).distinct(), Seq("di"), "left_semi")
    val cm = containmentVerify(cand,
        shh.select(col("doc_id").as("db"), col("shh"))
          .filter(TextOps.hashBucket(col("db")) >= IndexBuckets), shI)
      .groupBy(col("db")).agg(max(col("c")).as("max_containment"))
    val nc = cand.groupBy(col("db")).agg(count(lit(1)).as("n_index_cand"))
    docs.filter(bucket >= IndexBuckets).select(col("doc_id"))
      .join(nc, col("doc_id") === nc("db"), "left").drop("db")
      .join(cm, col("doc_id") === cm("db"), "left").drop("db")
      .select(col("doc_id"),
        coalesce(col("n_index_cand"), lit(0L)).as("n_index_cand"),
        coalesce(col("max_containment"), lit(0.0)).as("max_containment"),
        (coalesce(col("max_containment"), lit(0.0))
          < TextOps.ContainmentThreshold).as("kept"))
      .orderBy(col("doc_id"))
  }

  val d42Sql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, source,
       |         list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS tk
       |  FROM documents),
       |st AS (
       |  SELECT DISTINCT doc_id, source, array_to_string(tk[i:i+2], ' ') AS tok
       |  FROM toks, (SELECT unnest(range(1, (SELECT COALESCE(MAX(len(tk)), 1) FROM toks))) AS i) r
       |  WHERE i <= len(tk) - 2),
       |h AS (SELECT doc_id,
       |             CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) AS h FROM st),
       |bkt AS (
       |  SELECT doc_id,
       |         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS bucket
       |  FROM documents),
       |sk AS (
       |  SELECT doc_id, COUNT(*) AS sz,
       |         list_slice(list_sort(list(h)), 1, $ContainK) AS bk
       |  FROM h GROUP BY doc_id),
       |elB AS (SELECT sk.doc_id AS db, unnest(bk) AS ck FROM sk JOIN bkt USING (doc_id) WHERE bucket >= $IndexBuckets),
       |elI AS (SELECT sk.doc_id AS di, unnest(bk) AS ck FROM sk JOIN bkt USING (doc_id) WHERE bucket < $IndexBuckets),
       |xc AS (SELECT DISTINCT db, di FROM elB JOIN elI USING (ck)),
       |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM st GROUP BY doc_id),
       |xinter AS (
       |  SELECT c.db, c.di, COUNT(*) AS n_inter
       |  FROM xc c
       |  JOIN st s1 ON s1.doc_id = c.db
       |  JOIN st s2 ON s2.doc_id = c.di AND s1.tok = s2.tok
       |  GROUP BY 1, 2),
       |cm AS (
       |  SELECT db, MAX(CAST(n_inter AS DOUBLE) / z.sz) AS max_containment
       |  FROM xinter JOIN sizes z ON z.doc_id = db
       |  GROUP BY db),
       |nc AS (SELECT db, COUNT(*) AS n_index_cand FROM xc GROUP BY db)
       |SELECT d.doc_id,
       |       CAST(COALESCE(nc.n_index_cand, 0) AS BIGINT) AS n_index_cand,
       |       COALESCE(cm.max_containment, 0.0) AS max_containment,
       |       COALESCE(cm.max_containment, 0.0) < ${TextOps.ContainmentThreshold} AS kept
       |FROM bkt d
       |LEFT JOIN nc ON nc.db = d.doc_id
       |LEFT JOIN cm ON cm.db = d.doc_id
       |WHERE d.bucket >= $IndexBuckets
       |ORDER BY d.doc_id""".stripMargin
}
