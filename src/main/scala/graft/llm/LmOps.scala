package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables

/** Statistical language-model operators over the `documents` table — the
  * model-based tier of the quality/filtering family (reference scope:
  * the pipeline's quality gate, `spark_transform.py` validation rules,
  * generalized to LLM-corpus curation per SURVEY.md §7.5).
  *
  *   - d31 bigram-LM scoring — the CCNet-style perplexity filter, exact:
  *     train an add-one-smoothed bigram LM on the corpus itself, score
  *     every document by mean token log-likelihood. d28 is the
  *     integer-exact proxy tier; this is the real thing, oracle-checked.
  *   - d32 per-source Jensen-Shannon divergence — mixture diagnostics:
  *     how far each source's unigram distribution sits from the corpus
  *     mixture, the number a data-mixing run watches when reweighting.
  *   - d33 BPE merge training — distributed byte-pair-encoding: the
  *     iterative pair-count → argmax → merge loop run as Spark jobs over
  *     a word-frequency table, driver state bounded by the merge table.
  *
  * All bigram/token construction is array-slicing over the shared
  * [[TextOps.tokens]] tokenizer — pure codegen projections, no window
  * shuffle (contrast [[QualityOps.ngramRows]], which pays a per-doc
  * window; here adjacency comes from the token array itself).
  *
  * Cross-engine float contract (measured, not hoped): JVM `Math.log`/
  * `Math.exp` are BIT-IDENTICAL to DuckDB's libm on identical IEEE
  * inputs, and every scalar +,-,*,/ is IEEE-deterministic — so any
  * per-row transcendental expression written with the same operation
  * tree hash-matches. What does NOT match is a floating SUM/AVG over
  * many rows (each engine picks its own summation order; the driver
  * hash is bit-strict — d28's lesson). Both d31 and d32 therefore
  * quantize per-row terms to integer fixed-point (micro-/nano-nats),
  * sum LONGS (order-free, exact), and divide once at the end: the
  * score's contract is fixed-point, and the whole query is
  * bit-reproducible on any engine, any partitioning, any row order.
  */
object LmOps {

  // ---------------------------------------------------------------------
  // d31 — bigram-LM document scoring. Model: P(w2|w1) = (c(w1,w2) + 1) /
  // (c(w1,·) + V), add-one smoothing over the corpus vocabulary V; score:
  // mean ln P over a document's bigram instances, ppl = exp(-mean).
  // Trained on the corpus being scored (the self-scoring configuration a
  // corpus-level filter uses; a held-out-trained variant is the same
  // plan with a hash-bucket filter on the training side).
  //
  // Scale: the corpus-sized explode happens ONCE (localCheckpoint-pinned,
  // consumed by the count stage and the scoring join). Every shuffle
  // after it carries 8-byte 60-bit hashes ([[TextOps.shingleHash]]
  // contract, same as d06/d15): pair counts group on (w1-hash,
  // bigram-hash), the model is bigram-vocabulary-sized — millions of
  // rows at 100 TB, not corpus-sized — and the scoring join keys on the
  // bigram hash the instance rows already own. V and the 1-row corpus
  // constants ride broadcasts. A production LM would prune the count
  // table (min-count threshold) exactly like d28b truncates its
  // frequency table; the plan shape is unchanged.
  //
  // Contract (d28's): a doc with < 2 tokens has no bigrams and is ABSENT
  // from the output (DuckDB's unnest agrees); gated corpora never
  // contain such docs.
  // ---------------------------------------------------------------------
  /** Shared LM training stages: (bigram-instance rows, 1-row |V|, bigram
    * counts, context totals). Pinned per (session, dir) via
    * [[graft.StageCache]] (r19): d31 and d31b each re-ran the bigram
    * explode + hash pass, the vocabulary distinct (a full corpus pass
    * for one row) and the count aggregates — the two tiers score the
    * IDENTICAL model, so the stages are built once per session and each
    * query consumes the pinned frames. Same expressions as
    * [[lmStagesFrom]], so the streaming trainer's path is unchanged. */
  private def lmStages(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    import graft.StageCache.cached
    val pairs = cached(spark, dir, "lm_pairs")(
      bigramRows(Tables.documents(spark, dir)))
    val vocab = cached(spark, dir, "lm_vocab")(
      Tables.documents(spark, dir)
        .select(col("doc_id"), TextOps.tokens(col("text")).as("tk"))
        .select(explode(col("tk")).as("tok"))
        .agg(countDistinct(col("tok")).cast(DoubleType).as("__v")))
    val cnt = cached(spark, dir, "lm_cnt")(
      pairs.groupBy(col("w1h"), col("bh")).agg(count(lit(1)).as("c12")))
    val ctx = cached(spark, dir, "lm_ctx")(
      cnt.groupBy(col("w1h")).agg(sum(col("c12")).as("c1")))
    (pairs, vocab, cnt, ctx)
  }

  /** Frame-level twin of [[lmStages]] so the streaming model trainer
    * ([[graft.streaming.LmStream]]) can run the identical stages over an
    * accepted-corpus frame instead of a fixture dir. */
  private[graft] def lmStagesFrom(docsIn: DataFrame)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val docs = docsIn
      .select(col("doc_id"), TextOps.tokens(col("text")).as("tk"))

    // corpus vocabulary size |V| — exact distinct over token strings
    // (vocabulary-sized shuffle; the strings never travel again after
    // this aggregate)
    val vocab = docs
      .select(explode(col("tk")).as("tok"))
      .agg(countDistinct(col("tok")).cast(DoubleType).as("__v"))

    // snapshotted: feeds the count stage AND the scoring join
    val pairs = graft.StageCache.checkpoint(bigramRows(docsIn))

    val cnt = pairs.groupBy(col("w1h"), col("bh"))
      .agg(count(lit(1)).as("c12"))
    val ctx = cnt.groupBy(col("w1h")).agg(sum(col("c12")).as("c1"))
    (pairs, vocab, cnt, ctx)
  }

  /** One bigram-instance row per adjacent token pair: (doc_id, w1h, bh).
    * slice+zip_with is a codegen projection — no window, no shuffle.
    * size>=2 guard: slice with negative length throws, and null/empty
    * token arrays must vanish rather than error. NOT checkpointed — a
    * single-consumer caller (the streaming scorer) pays nothing extra. */
  private[graft] def bigramRows(docsIn: DataFrame): DataFrame =
    docsIn
      .select(col("doc_id"), TextOps.tokens(col("text")).as("tk"))
      .filter(size(col("tk")) >= 2)
      .select(col("doc_id"),
        expr("explode(zip_with(slice(tk, 1, size(tk)-1), slice(tk, 2, size(tk)-1)," +
          " (a, b) -> named_struct('w1', a, 'w2', b))) AS pr"))
      .select(col("doc_id"),
        TextOps.shingleHash(col("pr.w1")).as("w1h"),
        TextOps.shingleHash(concat_ws(" ", col("pr.w1"), col("pr.w2"))).as("bh"))

  /** Common scoring tail: LONG-sum the micro-nat terms per doc, divide
    * once, fixed-point the ppl (JVM's exp intrinsic is within-1-ulp but
    * not correctly rounded — libm is — so raw exp() diverges on ~4% of
    * values; measured, not theoretical). */
  private def scoreTail(scored: DataFrame): DataFrame =
    scored
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("llq")).as("__s"))
      .withColumn("avg_ll", col("__s").cast(DoubleType) /
        (col("n_bigrams").cast(DoubleType) * lit(1e6)))
      .withColumn("ppl",
        floor(exp(-col("avg_ll")) * lit(1e6) + lit(0.5)).cast(DoubleType) / lit(1e6))
      .select(col("doc_id"), col("n_bigrams"), col("avg_ll"), col("ppl"))
      .orderBy(col("doc_id"))

  def d31LmScore(spark: SparkSession, dir: String): DataFrame = {
    val (pairs, vocab, cnt, ctx) = lmStages(spark, dir)
    // per-bigram log-likelihood, quantized to integer MICRO-NATS in the
    // model table (one floor per distinct bigram, not per instance):
    // floor(ll·1e6 + 0.5) is round-half-up, exact on the bit-identical
    // ll both engines compute. Doc scores then sum LONGS.
    val model = cnt.join(ctx, Seq("w1h"))
      .crossJoin(broadcast(vocab))
      .select(col("bh"),
        floor(log((col("c12").cast(DoubleType) + lit(1.0)) /
          (col("c1").cast(DoubleType) + col("__v"))) * lit(1e6) + lit(0.5))
          .as("llq"))
    scoreTail(pairs.join(model, Seq("bh")))
  }

  /** DuckDB joins bigram STRINGS where the engine joins their 60-bit
    * hashes — identical results under the corpus-wide no-collision
    * contract every sketch op shares. The micro-nat quantization makes
    * the doc aggregate an exact integer sum on both sides. */
  val d31Sql: String =
    """WITH toks AS (
      |  SELECT doc_id,
      |         list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '') AS tk
      |  FROM documents),
      |big AS (
      |  SELECT doc_id, tk[i] AS w1, tk[i+1] AS w2
      |  FROM toks, (SELECT unnest(range(1, (SELECT COALESCE(MAX(len(tk)), 1) FROM toks))) AS i) r
      |  WHERE i <= len(tk) - 1),
      |v AS (SELECT CAST(COUNT(DISTINCT w) AS DOUBLE) AS v
      |      FROM (SELECT unnest(tk) AS w FROM toks)),
      |cnt AS (SELECT w1, w2, COUNT(*) AS c12 FROM big GROUP BY w1, w2),
      |ctx AS (SELECT w1, SUM(c12) AS c1 FROM cnt GROUP BY w1),
      |model AS (
      |  SELECT w1, w2,
      |         CAST(floor(ln((CAST(c12 AS DOUBLE) + 1.0) / (CAST(c1 AS DOUBLE) + (SELECT v FROM v))) * 1e6 + 0.5) AS BIGINT) AS llq
      |  FROM cnt JOIN ctx USING (w1)),
      |sc AS (
      |  SELECT b.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
      |         CAST(SUM(m.llq) AS DOUBLE) AS s
      |  FROM big b JOIN model m ON b.w1 = m.w1 AND b.w2 = m.w2
      |  GROUP BY b.doc_id)
      |SELECT doc_id, n_bigrams,
      |       s / (CAST(n_bigrams AS DOUBLE) * 1e6) AS avg_ll,
      |       CAST(floor(exp(-(s / (CAST(n_bigrams AS DOUBLE) * 1e6))) * 1e6 + 0.5) AS DOUBLE) / 1e6 AS ppl
      |FROM sc ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // d31b — pruned-LM broadcast tier: d31's 100 TB path. d31's model is
  // bigram-vocabulary-sized, so at web scale the scoring join shuffles
  // the corpus-sized instance stream against a model too big to
  // broadcast. Here the model keeps only bigrams seen >= MinBigramCount
  // times and the backoff table only contexts seen >= MinCtxCount times
  // — both bounded by corpus_tokens/M (the long-tail singleton mass, the
  // overwhelming majority of distinct bigrams, vanishes) — and unseen
  // pairs back off deterministically:
  //     ll = seen bigram      → ln((c12+1)/(c1+V))      (exact d31 value)
  //        | known context    → ln(    1   /(c1+V))      (c12 = 0)
  //        | unknown context  → ln(    1   /    V)       (c1 = 0 floor)
  // Every branch is integer-exact under the same micro-nat quantization,
  // so the tier keeps a FULL DuckDB oracle (deterministic pruning — no
  // sketch). The scoring join becomes broadcast-hash against the pruned
  // tables: the corpus-sized instance stream never shuffles at all —
  // the same absent-means-default move as d28b's top-k frequency table.
  // ---------------------------------------------------------------------
  private[graft] val MinBigramCount = 3
  private[graft] val MinCtxCount = 3

  /** The pruned-LM artifact: (model (bh, llq), backoff (w1h, bllq),
    * 1-row floor (fllq)). Shared by d31b (train-and-score-in-place) and
    * the streaming model store ([[graft.streaming.LmStream]]), which
    * persists exactly these three frames. */
  private[graft] def prunedTablesFrom(vocab: DataFrame, cnt: DataFrame,
      ctx: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    // kept bigrams have c1 >= c12 >= MinBigramCount, so their context is
    // always in ctx — the exact-model join needs no null handling
    val model = cnt.filter(col("c12") >= MinBigramCount)
      .join(ctx, Seq("w1h"))
      .crossJoin(broadcast(vocab))
      .select(col("bh"),
        floor(log((col("c12").cast(DoubleType) + lit(1.0)) /
          (col("c1").cast(DoubleType) + col("__v"))) * lit(1e6) + lit(0.5))
          .as("llq"))
    val backoff = ctx.filter(col("c1") >= MinCtxCount)
      .crossJoin(broadcast(vocab))
      .select(col("w1h"),
        floor(log(lit(1.0) /
          (col("c1").cast(DoubleType) + col("__v"))) * lit(1e6) + lit(0.5))
          .as("bllq"))
    val floorLl = vocab.select(
      floor(log(lit(1.0) / col("__v")) * lit(1e6) + lit(0.5)).as("fllq"))
    (model, backoff, floorLl)
  }

  /** Score bigram-instance rows against a pruned LM: broadcast-hash
    * joins only — the instance stream never shuffles before the per-doc
    * aggregate. */
  private[graft] def scorePruned(pairs: DataFrame, model: DataFrame,
      backoff: DataFrame, floorLl: DataFrame): DataFrame =
    scoreTail(
      pairs
        .join(broadcast(model), Seq("bh"), "left")
        .join(broadcast(backoff), Seq("w1h"), "left")
        .crossJoin(broadcast(floorLl))
        .withColumn("llq", coalesce(col("llq"), col("bllq"), col("fllq"))))

  def d31bLmScorePruned(spark: SparkSession, dir: String): DataFrame = {
    val (pairs, vocab, cnt, ctx) = lmStages(spark, dir)
    val (model, backoff, floorLl) = prunedTablesFrom(vocab, cnt, ctx)
    scorePruned(pairs, model, backoff, floorLl)
  }

  val d31bSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id,
       |         list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '') AS tk
       |  FROM documents),
       |big AS (
       |  SELECT doc_id, tk[i] AS w1, tk[i+1] AS w2
       |  FROM toks, (SELECT unnest(range(1, (SELECT COALESCE(MAX(len(tk)), 1) FROM toks))) AS i) r
       |  WHERE i <= len(tk) - 1),
       |v AS (SELECT CAST(COUNT(DISTINCT w) AS DOUBLE) AS v
       |      FROM (SELECT unnest(tk) AS w FROM toks)),
       |cnt AS (SELECT w1, w2, COUNT(*) AS c12 FROM big GROUP BY w1, w2),
       |ctx AS (SELECT w1, SUM(c12) AS c1 FROM cnt GROUP BY w1),
       |model AS (
       |  SELECT w1, w2,
       |         CAST(floor(ln((CAST(c12 AS DOUBLE) + 1.0) / (CAST(c1 AS DOUBLE) + (SELECT v FROM v))) * 1e6 + 0.5) AS BIGINT) AS llq
       |  FROM cnt JOIN ctx USING (w1)
       |  WHERE c12 >= $MinBigramCount),
       |backoff AS (
       |  SELECT w1,
       |         CAST(floor(ln(1.0 / (CAST(c1 AS DOUBLE) + (SELECT v FROM v))) * 1e6 + 0.5) AS BIGINT) AS bllq
       |  FROM ctx WHERE c1 >= $MinCtxCount),
       |fl AS (SELECT CAST(floor(ln(1.0 / v) * 1e6 + 0.5) AS BIGINT) AS fllq FROM v),
       |sc AS (
       |  SELECT b.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       |         CAST(SUM(COALESCE(m.llq, k.bllq, fl.fllq)) AS DOUBLE) AS s
       |  FROM big b
       |  LEFT JOIN model m ON b.w1 = m.w1 AND b.w2 = m.w2
       |  LEFT JOIN backoff k ON b.w1 = k.w1
       |  CROSS JOIN fl
       |  GROUP BY b.doc_id)
       |SELECT doc_id, n_bigrams,
       |       s / (CAST(n_bigrams AS DOUBLE) * 1e6) AS avg_ll,
       |       CAST(floor(exp(-(s / (CAST(n_bigrams AS DOUBLE) * 1e6))) * 1e6 + 0.5) AS DOUBLE) / 1e6 AS ppl
       |FROM sc ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // d32 — per-source Jensen-Shannon divergence from the corpus unigram
  // mixture. With P = the source's unigram distribution and Q = the whole
  // corpus', JS(P,Q) = ½Σ p·ln(2p/(p+q)) + ½Σ q·ln(2q/(p+q)). Tokens the
  // source never emits (p=0) contribute ½·q·ln2 each, so the full-vocab
  // sum collapses to rows the source DOES own plus a closed-form
  // remainder: ½·ln2·(1 − Σ_{w∈source} q). Nothing iterates over absent
  // (source, token) pairs — the join stays present-pairs-sized.
  //
  // Scale: one corpus explode → (source, token) counts with map-side
  // partials (vocabulary×sources rows, not corpus rows); corpus totals
  // derive from that same table (second aggregate over it, not a second
  // scan); per-source totals broadcast. JS of disjoint vocabularies is
  // ln 2 — the bound a mixture dashboard normalizes against.
  //
  // Exactness: each (source, token) term quantizes to integer NANO-NATS
  // (floor(term·1e9 + 0.5) on the bit-identical double both engines
  // compute), the per-source sum is a LONG sum, and the coverage
  // Σ_{w∈source} q = (Σ nw)/N needs no quantization at all — an exact
  // integer sum with one final division. Long-sum headroom: |term| ≤
  // ln2·(p+q) ⇒ Σ|term·1e9| ≤ 1.4e9 per source regardless of vocabulary
  // size, nowhere near 2^63.
  // ---------------------------------------------------------------------
  def d32SourceDivergence(spark: SparkSession, dir: String): DataFrame = {
    // snapshotted: feeds corpus counts, source totals, and the term join
    val sc = graft.StageCache.checkpoint(Tables.documents(spark, dir)
      .select(col("source"), explode(TextOps.tokens(col("text"))).as("tok"))
      .groupBy(col("source"), col("tok"))
      .agg(count(lit(1)).as("nsw")))

    val corpus = sc.groupBy(col("tok")).agg(sum(col("nsw")).as("nw"))
    val srcTot = sc.groupBy(col("source")).agg(sum(col("nsw")).as("ns"))
    val tot = sc.agg(sum(col("nsw")).cast(DoubleType).as("n")) // 1 row

    val p = col("nsw").cast(DoubleType) / col("ns").cast(DoubleType)
    val q = col("nw").cast(DoubleType) / col("n")
    sc.join(corpus, Seq("tok"))
      .join(broadcast(srcTot), Seq("source"))
      .crossJoin(broadcast(tot))
      .groupBy(col("source"))
      .agg(
        max(col("ns")).as("n_tokens"),
        count(lit(1)).as("n_distinct_tokens"),
        sum(floor((p * log(lit(2.0) * p / (p + q)) +
                   q * log(lit(2.0) * q / (p + q))) * lit(1e9) + lit(0.5)))
          .as("__coreq"),
        sum(col("nw")).as("__nwsum"),
        max(col("n")).as("__n"))
      .select(col("source"), col("n_tokens"), col("n_distinct_tokens"),
        (lit(0.5) * (col("__coreq").cast(DoubleType) / lit(1e9)) +
          lit(0.5) * log(lit(2.0)) *
            (lit(1.0) - col("__nwsum").cast(DoubleType) / col("__n")))
          .as("js_div"))
      .orderBy(col("source"))
  }

  val d32Sql: String =
    """WITH toks AS (
      |  SELECT source, unnest(list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '')) AS tok
      |  FROM documents),
      |sc AS (SELECT source, tok, COUNT(*) AS nsw FROM toks GROUP BY source, tok),
      |corpus AS (SELECT tok, SUM(nsw) AS nw FROM sc GROUP BY tok),
      |srct AS (SELECT source, CAST(SUM(nsw) AS BIGINT) AS ns FROM sc GROUP BY source),
      |tot AS (SELECT CAST(SUM(nsw) AS DOUBLE) AS n FROM sc)
      |SELECT s.source,
      |       MAX(t.ns) AS n_tokens,
      |       COUNT(*) AS n_distinct_tokens,
      |       0.5 * (CAST(SUM(CAST(floor(
      |                ( (CAST(s.nsw AS DOUBLE) / CAST(t.ns AS DOUBLE))
      |                  * ln(2.0 * (CAST(s.nsw AS DOUBLE) / CAST(t.ns AS DOUBLE))
      |                       / ((CAST(s.nsw AS DOUBLE) / CAST(t.ns AS DOUBLE)) + (CAST(c.nw AS DOUBLE) / tot.n)))
      |                + (CAST(c.nw AS DOUBLE) / tot.n)
      |                  * ln(2.0 * (CAST(c.nw AS DOUBLE) / tot.n)
      |                       / ((CAST(s.nsw AS DOUBLE) / CAST(t.ns AS DOUBLE)) + (CAST(c.nw AS DOUBLE) / tot.n)))
      |                ) * 1e9 + 0.5) AS BIGINT)) AS DOUBLE) / 1e9)
      |       + 0.5 * ln(2.0) * (1.0 - CAST(SUM(c.nw) AS DOUBLE) / MAX(tot.n)) AS js_div
      |FROM sc s
      |JOIN corpus c USING (tok)
      |JOIN srct t USING (source)
      |CROSS JOIN tot
      |GROUP BY s.source
      |ORDER BY source""".stripMargin

  // ---------------------------------------------------------------------
  // d34 — stratified quota sampling: take EXACTLY min(quota, |stratum|)
  // documents per (lang, source) stratum, chosen by deterministic hash
  // rank (shingleHash(doc_id), doc_id tie-break — reproducible across
  // runs, engines, and partitionings). The fixed-budget mixture-capping
  // op: d10 samples at a RATE per language, d24 replicates by weight —
  // this caps each cell of the mixture grid at an absolute budget, the
  // thing a token-budgeted training run actually enforces.
  //
  // Scale: one shuffle keyed on the stratum for the per-stratum
  // row_number window. Strata are (lang, source) cells — thousands, not
  // billions — so the window's partitions are the mixture grid; a
  // pathologically hot cell (one source dominating the corpus) is
  // bounded by the same skew playbook as q18b's salted dedup: rank
  // within salted sub-cells, take quota from the merged top. At gate
  // scale the plain window is the right plan.
  // ---------------------------------------------------------------------
  // 10 < the fixture's max stratum size (16) at every gate scale, so the
  // cap provably FIRES in the oracle gate rather than passing everything
  private[graft] val StratumQuota = 10

  def d34StratifiedSample(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("lang"), col("source"))
      .orderBy(TextOps.shingleHash(col("doc_id").cast(StringType)).asc,
        col("doc_id").asc)
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("source"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= StratumQuota)
      .select(col("doc_id"), col("lang"), col("source"),
        col("rn").cast(LongType).as("rn"))
      .orderBy(col("lang"), col("source"), col("rn"))
  }

  val d34Sql: String =
    s"""SELECT doc_id, lang, source, CAST(rn AS BIGINT) AS rn FROM (
       |  SELECT doc_id, lang, source,
       |         ROW_NUMBER() OVER (
       |           PARTITION BY lang, source
       |           ORDER BY CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) ASC,
       |                    doc_id ASC) AS rn
       |  FROM documents)
       |WHERE rn <= $StratumQuota
       |ORDER BY lang, source, rn""".stripMargin

  // ---------------------------------------------------------------------
  // d34b — the salted skew tier of d34 (q18b's playbook, same oracle):
  // when one mixture cell holds a disproportionate share of the corpus
  // (one crawl source dominating), d34's per-cell window concentrates
  // that cell's rows in one task. Salting splits each cell into
  // SampleSalts sub-cells ranked independently; each sub-cell keeps its
  // own top-quota (a SUPERSET of the global top-quota, since the global
  // rank-k element ranks <= k within its salt), and a second window over
  // the <= salts x quota survivors per cell produces the exact global
  // answer. The hot cell's heavy first pass spreads over SampleSalts
  // tasks; the second pass is quota-bounded. Results are byte-identical
  // to d34 — the driver gate holds both to d34's oracle.
  // ---------------------------------------------------------------------
  private[graft] val SampleSalts = 8

  def d34bStratifiedSampleSalted(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val orderKey = TextOps.shingleHash(col("doc_id").cast(StringType))
    val salted = Window
      .partitionBy(col("lang"), col("source"), col("__salt"))
      .orderBy(orderKey.asc, col("doc_id").asc)
    val cell = Window.partitionBy(col("lang"), col("source"))
      .orderBy(orderKey.asc, col("doc_id").asc)
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("source"))
      .withColumn("__salt", pmod(hash(col("doc_id")), lit(SampleSalts)))
      .withColumn("__srn", row_number().over(salted))
      .filter(col("__srn") <= StratumQuota) // superset of the global top-quota
      .withColumn("rn", row_number().over(cell))
      .filter(col("rn") <= StratumQuota)
      .select(col("doc_id"), col("lang"), col("source"),
        col("rn").cast(LongType).as("rn"))
      .orderBy(col("lang"), col("source"), col("rn"))
  }

  // ---------------------------------------------------------------------
  // d33 — distributed BPE merge training (Sennrich-style): words become
  // char sequences + '</w>'; each round counts adjacent symbol pairs
  // weighted by word frequency, merges the most frequent pair
  // (deterministic tie-break: count desc, then pair lexicographic), and
  // rewrites the vocabulary with a greedy left-to-right fold. The output
  // is the ranked merge table a tokenizer ships.
  //
  // Scale: the corpus collapses to a WORD-FREQUENCY table in the first
  // aggregate (vocabulary-sized — the 100 TB corpus touches the loop
  // only once); each round's pair count is a map-side-combined aggregate
  // over that table, and the driver pulls back a BOUNDED candidate head
  // (BpeScan+1 rows). Lineage is truncated per round with
  // localCheckpoint. The merge REWRITE is a higher-order `aggregate`
  // fold (interpreted, not codegen) — acceptable exactly because it
  // runs on the vocabulary table, never the corpus.
  //
  // DRIVER-ROUND SCALING (round-11, verdict nit #1): a real tokenizer
  // needs ~30k merges, and one Spark job per merge is
  // job-scheduling-bound long before it is data-bound. Each round now
  // applies a BATCH of merges selected so the batched trainer provably
  // reproduces the sequential merge sequence — see [[selectBpeBatch]]
  // for the rule and its proof; all of a round's merges fold into ONE
  // vocabulary-rewrite plan, so K merges cost rounds ≪ K jobs
  // (LmOpsSpec pins sequence equality vs the sequential reference AND
  // the measured round reduction).
  //
  // No DuckDB oracle — K data-dependent passes are not one SQL query
  // (a04b precedent); BpeSpec pins the merge sequence on a planted
  // corpus and the reconstruction invariant (symbols rejoin to the
  // original word) on the fixture.
  // ---------------------------------------------------------------------
  private[graft] val BpeMerges = 20

  /** Candidate-head size pulled to the driver per round: the scan is
    * bounded by this, never by the pair-table size. */
  private[graft] val BpeScan = 64

  def d33BpeTrain(spark: SparkSession, dir: String): DataFrame =
    bpeTrain(spark, Tables.documents(spark, dir), BpeMerges)

  /** Greedy left-to-right application of one merge to a symbol array,
    * as a SQL fold: scan the symbols, gluing (left, right) whenever the
    * accumulator's tail is `left` and the next symbol is `right` —
    * non-overlapping by construction, the standard BPE apply order. */
  private def applyMergeExpr(left: String, right: String): String = {
    def q(s: String) = "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"
    val merged = q(left + right)
    s"""aggregate(syms, CAST(array() AS array<string>),
       | (acc, s) -> CASE
       |   WHEN size(acc) > 0 AND element_at(acc, -1) = ${q(left)} AND s = ${q(right)}
       |   THEN concat(slice(acc, 1, size(acc) - 1), array($merged))
       |   ELSE concat(acc, array(s)) END)""".stripMargin
  }

  /** Rounds the last [[bpeTrain]] call used — the jobs-per-K evidence
    * LmOpsSpec asserts on (a round = one pair-count job + one rewrite
    * materialization, regardless of how many merges it applied). */
  @volatile private[graft] var lastBpeRounds: Int = 0

  /** Word-frequency table with char-symbol arrays — the shared trainer
    * prep (corpus touches this aggregate once; the loop below is
    * vocabulary-sized). */
  private def bpeVocab(docs: DataFrame): DataFrame = graft.StageCache.checkpoint(docs
    .select(explode(TextOps.tokens(col("text"))).as("word"))
    .groupBy(col("word")).agg(count(lit(1)).as("wc"))
    .select(expr("concat(split(word, ''), array('</w>')) AS syms"), col("wc")))

  /** Stale adjacent-pair counts over the vocab, best-first (count desc,
    * then pair lexicographic — the deterministic total order), bounded
    * to the first `n` rows. */
  private def pairHead(vocab: DataFrame, n: Int): Array[(String, String, Long)] = {
    import vocab.sparkSession.implicits._
    vocab
      .filter(size(col("syms")) >= 2)
      .select(col("wc"),
        expr("explode(zip_with(slice(syms, 1, size(syms)-1), slice(syms, 2, size(syms)-1)," +
          " (a, b) -> named_struct('l', a, 'r', b))) AS pr"))
      .groupBy(col("pr.l").as("l"), col("pr.r").as("r"))
      .agg(sum(col("wc")).as("pc"))
      .orderBy(col("pc").desc, col("l").asc, col("r").asc)
      .limit(n) // TakeOrdered — a bounded head to the driver per round
      .as[(String, String, Long)]
      .collect()
  }

  /** The batch-selection rule, chosen so batched == sequential EXACTLY.
    *
    * From the stale sorted pair list, accept a NO-SKIP PREFIX of
    * pairwise symbol-disjoint pairs whose merged symbol concat(l,r) is
    * FRESH — not in `known`, a superset of every symbol the current
    * vocab can contain (stop at the first pair sharing a symbol with an
    * accepted one, creating a non-fresh symbol, or at the budget), then
    * truncate the accepted list to counts STRICTLY ABOVE `cutoff` = max
    * count of any conflicting or unscanned pair. Why this reproduces
    * the sequential sequence (induction over accepted p_i):
    *  - every pair ranked above p_i in the stale order is an earlier
    *    accepted merge (no skips) — already applied, its count now 0;
    *  - applying a merge (a,b) changes the count of pair q only if q
    *    shares a symbol with it (destroyed neighbors (x,a)/(b,y)) or q
    *    is newly created ((x,ab)/(ab,y), count ≤ the destroyed
    *    neighbor's stale count). The freshness check is what makes
    *    "newly created" airtight (ADVICE r11): without it, a merged
    *    symbol 'ab' could string-equal a PRE-EXISTING symbol from a
    *    different derivation, and the created adjacencies would then
    *    ADD to a stale, symbol-disjoint pair's count — post-batch up to
    *    stale + created > cutoff. With concat(l,b) fresh, created pairs
    *    are genuinely new (stale count 0) and every changed-or-created
    *    q has post-merge count ≤ cutoff < count(p_i), so none can reach
    *    p_i's rank, even on count ties (the strict inequality rules the
    *    tie-then-lexicographic upset out);
    *  - disjoint pairs keep their counts, and every unaccepted one
    *    ranked below p_i stays below (same count, same name).
    *  Hence the sequential argmax at step i is exactly p_i. Accepted
    *  merged symbols join `known` batch-locally, so a later pair in the
    *  same batch cannot re-create one either; and because accepted
    *  concats are fresh w.r.t. known ⊇ vocab symbols, no stale scanned
    *  pair can contain them — the other direction of the collision. If
    *  the truncation empties the batch, or the TOP pair itself would
    *  create a colliding symbol, fall back to the plain single
    *  sequential merge — always exact, whatever the collision does to
    *  the counts, because the next round recounts from scratch. */
  private[graft] def selectBpeBatch(top: Array[(String, String, Long)],
      scan: Int, budget: Int,
      known: String => Boolean = _ => false): Seq[(String, String, Long)] = {
    val usable = top.take(scan)
    if (usable.isEmpty || usable.head._3 < 2) return Nil
    // pairs beyond the scanned head (if any) are bounded by the last
    // scanned count; conflicts among them are invisible, so they cap
    // the cutoff exactly like a scanned conflict
    val hiddenCut = if (top.length > scan) top(scan)._3 else 0L
    val used = scala.collection.mutable.Set.empty[String]
    val created = scala.collection.mutable.Set.empty[String]
    val acc = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    var i = 0
    var stopped = false
    while (!stopped && i < usable.length) {
      val p @ (l, r, pc) = usable(i)
      if (pc < 2 || acc.size >= budget) stopped = true
      else if (used(l) || used(r)) stopped = true
      else if (known(l + r) || created(l + r)) stopped = true
      else { acc += p; used += l; used += r; created += (l + r); i += 1 }
    }
    // highest-ranked pair (scanned or not) that CONFLICTS with the
    // accepted set — the sorted order makes the first such the max
    val conflictCut = usable.drop(i)
      .collectFirst { case (l, r, pc) if used(l) || used(r) => pc }
      .getOrElse(0L)
    val cutoff = math.max(conflictCut, hiddenCut)
    val trimmed = acc.takeWhile(_._3 > cutoff) // counts are non-increasing
    if (trimmed.nonEmpty) trimmed.toSeq
    else usable.take(1).toSeq // single sequential step — always exact
  }

  /** Batched BPE training: K merges in far fewer rounds (see
    * [[selectBpeBatch]]). Each round snapshots the rewritten vocab; the
    * rounds are released when training returns, since the merge table is
    * built on the driver. */
  def bpeTrain(spark: SparkSession, docs: DataFrame, k: Int): DataFrame =
    mergeTable(spark, graft.StageCache.scoped(spark) {
      import spark.implicits._
      var vocab = bpeVocab(docs)
      // conservative superset of every symbol the vocab can ever contain:
      // the initial distinct symbols (alphabet-sized — one tiny job) plus
      // each accepted merge's concat. selectBpeBatch refuses a batched
      // merge whose merged symbol is already here, closing the
      // string-collision gap in the exactness proof (ADVICE r11); a
      // refused pair still merges via the single-step fallback, which is
      // sequential by definition.
      val known = scala.collection.mutable.Set.empty[String]
      known ++= vocab.select(explode(col("syms")).as("s"))
        .distinct().as[String].collect()
      val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
      var rounds = 0
      var done = false
      while (!done && merges.size < k) {
        val top = pairHead(vocab, BpeScan + 1)
        rounds += 1
        val batch = selectBpeBatch(top, BpeScan, k - merges.size, known)
        if (batch.isEmpty) done = true // nothing left worth merging
        else {
          batch.foreach { case (l, r, pc) =>
            merges += ((merges.size + 1, l, r, pc))
            known += (l + r)
          }
          // ONE rewrite plan applies the whole batch in rank order, then
          // one snapshot truncates the round's lineage
          vocab = graft.StageCache.checkpoint(batch.foldLeft(vocab) { case (df, (l, r, _)) =>
            df.select(expr(applyMergeExpr(l, r)).as("syms"), col("wc"))
          })
        }
      }
      lastBpeRounds = rounds
      merges.toSeq
    })

  /** The one-merge-per-round reference trainer — the definitional form
    * LmOpsSpec holds [[bpeTrain]]'s batched sequence to. */
  private[graft] def bpeTrainSequential(spark: SparkSession, docs: DataFrame,
      k: Int): DataFrame =
    mergeTable(spark, graft.StageCache.scoped(spark) {
      var vocab = bpeVocab(docs)
      val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
      var rank = 1
      while (rank <= k) {
        pairHead(vocab, 1).headOption match {
          case Some((l, r, pc)) if pc >= 2 =>
            merges += ((rank, l, r, pc))
            // truncate lineage: K rounds, not a K-deep plan
            vocab = graft.StageCache.checkpoint(
              vocab.select(expr(applyMergeExpr(l, r)).as("syms"), col("wc")))
            rank += 1
          case _ => rank = k + 1 // nothing left worth merging
        }
      }
      merges.toSeq
    })

  /** The trained (rank, left, right, merged, pair_count) table. */
  private def mergeTable(spark: SparkSession,
      merges: Seq[(Int, String, String, Long)]): DataFrame = {
    import spark.implicits._
    merges
      .toDF("rank", "left", "right", "pair_count")
      .withColumn("merged", concat(col("left"), col("right")))
      .select(col("rank"), col("left"), col("right"), col("merged"), col("pair_count"))
      .orderBy(col("rank"))
  }

  // ---------------------------------------------------------------------
  // d33b — BPE ENCODING with the trained merge table: the apply half of
  // the tokenizer (train → ship merges → encode). Each document's token
  // count under the learned vocabulary is what a token-budgeted pipeline
  // actually bills by.
  //
  // Scale: merges apply to the DISTINCT-WORD vocabulary, never the
  // corpus — the K interpreted folds run over vocabulary-sized rows
  // (the same bound as training), and documents get their counts back
  // through a vocabulary join (word-keyed, broadcastable once encoded:
  // the encoded vocab is (word, n_sym) — smaller than d28b's frequency
  // table). The merge list itself is the K-row driver-side artifact the
  // trainer produced; no per-round jobs here, one plan applies all K.
  //
  // Fully oracled against the frozen artifact (round-11): the greedy
  // left-to-right fold of ONE merge over a symbol array is exactly one
  // non-overlapping left-to-right string replace over the symbols
  // rendered as " s1  s2  s3 " (each symbol flanked by single spaces,
  // two between neighbors — symbols are whitespace-free by construction,
  // so every space-flanked substring is a complete symbol and no false
  // cross-boundary match exists; the shared-separator pitfall of
  // single-space rendering is what the double separator removes). K
  // merges in rank order become a K-step recursive CTE joining on the
  // artifact's rank column — the oracle drives entirely off the file.
  // LmOpsSpec additionally pins the hand-computed encoding of the
  // planted corpus and the token-count bounds on the fixture.
  // ---------------------------------------------------------------------
  /** Frozen d33b merge table, a StageCache stage for the reason
    * [[VectorOps.a10Index]] gives: d33b and d48 both read it, and a second
    * training would re-persist it after the first query's results were
    * recorded. Freezing it is the tokenizer artifact a real pipeline
    * ships; encode consumes the persisted rows in rank order, and the
    * oracles replay the same encode from the file. The ≤K-row collect is
    * the merge-table precedent. */
  private[graft] def d33bMerges(spark: SparkSession, dir: String): Seq[(String, String)] = {
    import spark.implicits._
    graft.StageCache.cached(spark, dir, "d33b_merges")(Models.save(
        bpeTrain(spark, Tables.documents(spark, dir), BpeMerges), dir, "d33b_merges"))
      .orderBy(col("rank")).select(col("left"), col("right")).as[(String, String)]
      .collect().toSeq
  }

  def d33bBpeEncode(spark: SparkSession, dir: String): DataFrame =
    bpeEncode(Tables.documents(spark, dir), d33bMerges(spark, dir))

  /** Per-doc token counts under a merge table: (doc_id, n_words,
    * n_bpe_tokens). Words beyond the learned vocabulary still encode —
    * they just merge less. */
  def bpeEncode(docs: DataFrame, merges: Seq[(String, String)]): DataFrame = {
    val words = docs
      .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("word"))
    val vocab0 = words.select(col("word")).distinct()
      .withColumn("syms", expr("concat(split(word, ''), array('</w>'))"))
    val encoded = merges.foldLeft(vocab0) { case (df, (l, r)) =>
      df.withColumn("syms", expr(applyMergeExpr(l, r)))
    }.select(col("word"), size(col("syms")).cast(LongType).as("n_sym"))
    words.join(broadcast(encoded), Seq("word"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"), sum(col("n_sym")).as("n_bpe_tokens"))
      .orderBy(col("doc_id"))
  }

  /** Encode oracle for d33b over the frozen merge-table artifact — see
    * the d33b header for why one merge-fold ≡ one string replace. A
    * `def`: generated at Verify-dump time, after the query froze its
    * merge table for this run's data dir. */
  def d33bSql: String =
    s"""WITH RECURSIVE merges AS (
       |  SELECT rank, "left", "right", merged FROM ${Models.sqlRef("d33b_merges")}),
       |toks AS (
       |  SELECT doc_id,
       |         unnest(list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '')) AS word
       |  FROM documents),
       |vocab AS (SELECT DISTINCT word FROM toks),
       |enc AS (
       |  SELECT word,
       |         ' ' || array_to_string(list_append(string_split_regex(word, ''), '</w>'), '  ') || ' ' AS s,
       |         0 AS rk
       |  FROM vocab
       |  UNION ALL
       |  SELECT e.word,
       |         replace(e.s, ' ' || m."left" || '  ' || m."right" || ' ',
       |                 ' ' || m.merged || ' '),
       |         e.rk + 1
       |  FROM enc e JOIN merges m ON m.rank = e.rk + 1),
       |fin AS (
       |  SELECT word, len(list_filter(string_split(s, ' '), x -> x <> '')) AS n_sym
       |  FROM enc WHERE rk = (SELECT COALESCE(MAX(rank), 0) FROM merges))
       |SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
       |       CAST(SUM(f.n_sym) AS BIGINT) AS n_bpe_tokens
       |FROM toks t JOIN fin f USING (word)
       |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // d48 — TOKENIZER-FIT census per source: chars-per-token (compression),
  // fertility (tokens per word), and the unmerged-word share under the
  // frozen d33b merge table. The question a mixture designer asks before
  // billing a source against a token budget: a domain the tokenizer
  // compresses poorly (low chars/token, high unmerged share) costs more
  // tokens per byte of signal — SentencePiece/BPE papers report exactly
  // these numbers per language/domain.
  //
  // Scale: identical to d33b — the K merge folds run over the DISTINCT
  // WORD vocabulary, the corpus-sized word stream meets the encoded
  // vocab through one broadcast join, and the census is one source-keyed
  // aggregate (map-side partials; COUNT(DISTINCT doc_id) expands to the
  // standard two-phase distinct — still keyed on source). Contract: a
  // zero-token doc has no word rows and is absent from every count
  // (d28's absence contract).
  // ---------------------------------------------------------------------
  def d48TokenEfficiency(spark: SparkSession, dir: String): DataFrame = {
    val merges = d33bMerges(spark, dir)
    val words = Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"),
        explode(TextOps.tokens(col("text"))).as("word"))
    val vocab0 = words.select(col("word")).distinct()
      .withColumn("syms", expr("concat(split(word, ''), array('</w>'))"))
    val encoded = merges.foldLeft(vocab0) { case (df, (l, r)) =>
      df.withColumn("syms", expr(applyMergeExpr(l, r)))
    }.select(col("word"), size(col("syms")).cast(LongType).as("n_sym"),
      length(col("word")).cast(LongType).as("n_char"))
    words.join(broadcast(encoded), Seq("word"))
      .groupBy(col("source"))
      .agg(
        countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_words"),
        sum(col("n_sym")).as("n_tokens"),
        sum(col("n_char")).as("n_chars"),
        sum(when(col("n_sym") === col("n_char") + 1L, 1L).otherwise(0L))
          .as("n_unmerged"))
      .select(col("source"), col("n_docs"), col("n_words"),
        col("n_tokens"), col("n_chars"),
        (col("n_chars").cast(DoubleType) / col("n_tokens").cast(DoubleType))
          .as("chars_per_token"),
        (col("n_tokens").cast(DoubleType) / col("n_words").cast(DoubleType))
          .as("fertility"),
        (col("n_unmerged").cast(DoubleType) / col("n_words").cast(DoubleType))
          .as("unmerged_frac"))
      .orderBy(col("source"))
  }

  /** d33bSql's encode CTEs re-grouped at the SOURCE grain; every ratio is
    * a single both-sides-cast-to-double division (exact long inputs →
    * bit-identical quotients). */
  def d48Sql: String =
    s"""WITH RECURSIVE merges AS (
       |  SELECT rank, "left", "right", merged FROM ${Models.sqlRef("d33b_merges")}),
       |toks AS (
       |  SELECT doc_id, source,
       |         unnest(list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '')) AS word
       |  FROM documents),
       |vocab AS (SELECT DISTINCT word FROM toks),
       |enc AS (
       |  SELECT word,
       |         ' ' || array_to_string(list_append(string_split_regex(word, ''), '</w>'), '  ') || ' ' AS s,
       |         0 AS rk
       |  FROM vocab
       |  UNION ALL
       |  SELECT e.word,
       |         replace(e.s, ' ' || m."left" || '  ' || m."right" || ' ',
       |                 ' ' || m.merged || ' '),
       |         e.rk + 1
       |  FROM enc e JOIN merges m ON m.rank = e.rk + 1),
       |fin AS (
       |  SELECT word, len(list_filter(string_split(s, ' '), x -> x <> '')) AS n_sym
       |  FROM enc WHERE rk = (SELECT COALESCE(MAX(rank), 0) FROM merges))
       |SELECT t.source,
       |       CAST(COUNT(DISTINCT t.doc_id) AS BIGINT) AS n_docs,
       |       CAST(COUNT(*) AS BIGINT) AS n_words,
       |       CAST(SUM(f.n_sym) AS BIGINT) AS n_tokens,
       |       CAST(SUM(len(t.word)) AS BIGINT) AS n_chars,
       |       CAST(SUM(len(t.word)) AS DOUBLE) / CAST(SUM(f.n_sym) AS DOUBLE) AS chars_per_token,
       |       CAST(SUM(f.n_sym) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS fertility,
       |       CAST(SUM(CASE WHEN f.n_sym = len(t.word) + 1 THEN 1 ELSE 0 END) AS DOUBLE)
       |         / CAST(COUNT(*) AS DOUBLE) AS unmerged_frac
       |FROM toks t JOIN fin f USING (word)
       |GROUP BY t.source ORDER BY t.source""".stripMargin

  // ---------------------------------------------------------------------
  // d37 — frozen hashed-linear quality classifier: inference for the
  // model-based quality gate every web-scale corpus runs (the GPT-3 /
  // CCNet move: a linear classifier over hashed bag-of-words features
  // scores each page, the score gates or buckets it). The model artifact
  // is a D-bucket weight table — trained OFFLINE in a real deployment
  // and shipped frozen; here the weights are a deterministic PRF of the
  // bucket index (Knuth multiplicative hash) so the op stays a pure
  // function of its inputs with a full DuckDB oracle. What the engine
  // owns — and what this op exercises — is the INFERENCE plumbing:
  // feature hashing, broadcast of the model artifact, the per-doc
  // fixed-point aggregate, the logistic link.
  //
  // Model: bucket(t) = md5_32(t) mod D (d10's portable hash contract);
  // w_int(b) = ((b · 2654435761) mod 8192) − 4096, i.e. weights in
  // [−1, 1) at 1/4096 grain — INTEGER in the table, so doc sums are
  // exact longs in any order. score = Σ w_int / (4096 · n_tokens);
  // prob = σ(score), quantized to micro-units (exp is within-1-ulp on
  // the JVM, not correctly rounded — d31's measured lesson); kept =
  // prob ≥ 0.5 at the 1e-6 grain.
  //
  // Scale: the weight table is D rows — at D = 2^21 (a production
  // fasttext dim) a few MB — and BROADCASTS; the corpus-sized token
  // stream never shuffles before the per-doc aggregate (one shuffle,
  // map-side partials). Exchange census = d31b's: broadcast-hash join +
  // one doc-keyed aggregate. Inference over a 100 TB corpus is one scan.
  //
  // Contract (d28's): a zero-token doc has no feature rows and is absent.
  // ---------------------------------------------------------------------
  private[graft] val ClfBuckets = 512L
  private[graft] val ClfWeightGrain = 4096.0

  /** The frozen model artifact: (bucket, w_int). Deterministic PRF of
    * the bucket index — stands in for a trained-weights parquet load;
    * swap `weightTable` for `spark.read.parquet(modelPath)` and nothing
    * else changes. */
  private[graft] def weightTable(spark: SparkSession): DataFrame =
    spark.range(ClfBuckets).select(
      col("id").as("bucket"),
      ((col("id") * lit(2654435761L)) % lit(8192L) - lit(4096L)).as("w_int"))

  def d37QualityClassifier(spark: SparkSession, dir: String): DataFrame = {
    val feats = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("tok"))
      .select(col("doc_id"),
        pmod(conv(substring(md5(col("tok")), 1, 8), 16, 10).cast(LongType),
          lit(ClfBuckets)).as("bucket"))
    feats.join(broadcast(weightTable(spark)), Seq("bucket"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("w_int")).as("sum_w"))
      .withColumn("score", col("sum_w").cast(DoubleType) /
        (lit(ClfWeightGrain) * col("n_tokens").cast(DoubleType)))
      .withColumn("prob_q",
        floor(lit(1.0) / (lit(1.0) + exp(-col("score"))) * lit(1e6) + lit(0.5))
          .cast(DoubleType) / lit(1e6))
      .withColumn("kept",
        when(col("prob_q") >= 0.5, 1).otherwise(0).cast(IntegerType))
      .select(col("doc_id"), col("n_tokens"), col("sum_w"), col("score"),
        col("prob_q"), col("kept"))
      .orderBy(col("doc_id"))
  }

  val d37Sql: String =
    s"""WITH toks AS (
       |  SELECT doc_id,
       |         unnest(list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '')) AS tok
       |  FROM documents),
       |w AS (
       |  SELECT b AS bucket, (b * 2654435761) % 8192 - 4096 AS w_int
       |  FROM (SELECT unnest(range(0, ${ClfBuckets})) AS b)),
       |feats AS (
       |  SELECT doc_id,
       |         CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) % ${ClfBuckets} AS bucket
       |  FROM toks),
       |sc AS (
       |  SELECT f.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
       |         CAST(SUM(w.w_int) AS BIGINT) AS sum_w
       |  FROM feats f JOIN w USING (bucket)
       |  GROUP BY f.doc_id)
       |SELECT doc_id, n_tokens, sum_w,
       |       CAST(sum_w AS DOUBLE) / (${ClfWeightGrain} * CAST(n_tokens AS DOUBLE)) AS score,
       |       floor(1.0 / (1.0 + exp(-(CAST(sum_w AS DOUBLE) / (${ClfWeightGrain} * CAST(n_tokens AS DOUBLE))))) * 1e6 + 0.5) / 1e6 AS prob_q,
       |       CAST(floor(1.0 / (1.0 + exp(-(CAST(sum_w AS DOUBLE) / (${ClfWeightGrain} * CAST(n_tokens AS DOUBLE))))) * 1e6 + 0.5) / 1e6 >= 0.5 AS INT) AS kept
       |FROM sc ORDER BY doc_id""".stripMargin
}
