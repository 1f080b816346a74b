package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables

/** Corpus-quality operators a large-scale training-data pipeline runs
  * between dedup and tokenization (driver mandate SURVEY.md §7.5; round-3
  * widening of the `llm` tier):
  *
  *   - d15 benchmark decontamination — n-gram overlap of every training
  *     document against a held-out eval split;
  *   - d16 repetition quality — Gopher-style repetitiveness signals
  *     (top-unigram / top-bigram mass, type-token ratio) with a keep/drop
  *     flag;
  *   - d17 n-gram vocabulary — corpus-level bigram frequency/document-
  *     frequency table (the "what is this corpus made of" dataset-card
  *     stat);
  *   - d19 dataset-card statistics at every (lang, source) grain (ROLLUP);
  *   - d20 sliding token-window chunking (context-window preparation);
  *   - d21 per-language heavy hitters via the custom Misra-Gries
  *     aggregate (the O(k)-memory scale path for d17);
  *   - d22 boilerplate-span detection (cross-document repeated n-grams).
  *
  * All built from codegen'd built-ins (the n-gram rows come from
  * TextOps' shingle pipeline, plus hash aggregates); no UDFs, no
  * driver-side collection, and every derived double is the identical
  * integer-division expression in the DuckDB oracle.
  */
object QualityOps {

  // ---------------------------------------------------------------------
  // d15 — benchmark decontamination: the held-out eval split (the same
  // deterministic hash-bucket split as d10 — buckets ≥ EvalBucket) must
  // not leak into training text. Every training doc is scored by how many
  // of its distinct word-5-grams appear anywhere in the eval split; a doc
  // whose overlap ratio crosses the threshold is contaminated (in this
  // corpus those are exactly the near-duplicates of eval docs — the
  // classic leak).
  //
  // Scale: shingles are joined as 60-bit md5-derived hashes (8-byte
  // shuffle rows, same contract as d06); the eval side is a DISTINCT
  // shingle set from a ~5% slice — orders of magnitude smaller than the
  // corpus and AQE-broadcastable, so the training side never reshuffles
  // by anything but the shingle hash it already owns. Both inputs prune
  // to (doc_id, text).
  // ---------------------------------------------------------------------
  private[graft] final val EvalBucket = 95   // buckets 95..99 → ~5% eval split
  private[llm] final val NGramN = 5
  private[llm] final val ContamRatio = 0.5

  /** Per-training-doc contamination scores for any (doc_id, source, text)
    * frame: docs in buckets ≥ evalBucketMin form the eval split; every
    * other doc is scored by its distinct 5-gram overlap with that split.
    * Frame-level so the composed pipeline (d18) can run it over near-dedup
    * survivors with ITS split boundary. `sh0` optionally supplies the
    * prebuilt (doc_id, shh) 5-gram rows of a SUPERSET of `docs` (d18
    * passes the pinned corpus stage; shingling is per-doc pure, so the
    * semi-join restriction equals shingling the subset). */
  def contamination(docs: DataFrame, evalBucketMin: Int,
      sh0: Option[DataFrame] = None): DataFrame = sh0 match {
    case Some(sh) =>
      // restriction of an already-pinned stage: both consumer branches
      // re-run the narrow semi-join over materialized blocks — cheaper
      // than pinning a second, almost-full copy of the corpus shingles
      contaminationFromShingles(
        sh.join(docs.select(col("doc_id")), Seq("doc_id"), "left_semi")
          .withColumn("is_eval",
            TextOps.hashBucket(col("doc_id")) >= evalBucketMin))
    case None =>
      // snapshotted: consumed by BOTH the eval-set branch and the
      // training-side join — without it the window+hash shingle stage
      // runs per branch. It lives for the caller's scope; outside one the
      // ContextCleaner reclaims it once the consumer drops the frame.
      contaminationFromShingles(
        graft.StageCache.checkpoint(shingleStage(docs, evalBucketMin)))
  }

  /** The (doc_id, shh, is_eval) shingle frame both decontamination tiers
    * score against. */
  private def shingleStage(docs: DataFrame, evalBucketMin: Int): DataFrame =
    TextOps.shingleHashes(docs, NGramN)
      .select(col("doc_id"), col("shh"))
      .withColumn("is_eval", TextOps.hashBucket(col("doc_id")) >= evalBucketMin)

  /** The documents table's hashed 5-gram shingle rows (doc_id, shh),
    * pinned per (session, dir) — the base d15/d15b score against and the
    * superset d18's contamination restricts (r19; the split flag is a
    * projection each consumer adds at ITS boundary). */
  private[llm] def docShh5Stage(spark: SparkSession, dir: String): DataFrame =
    graft.StageCache.cached(spark, dir, "doc_shh5")(
      TextOps.shingleHashes(Tables.documents(spark, dir), NGramN)
        .select(col("doc_id"), col("shh")))

  /** d15/d15b's scored frame: the pinned 5-gram stage plus the eval flag
    * (a projection over pinned blocks — no second pin). */
  private def docShingles(spark: SparkSession, dir: String): DataFrame =
    docShh5Stage(spark, dir)
      .withColumn("is_eval", TextOps.hashBucket(col("doc_id")) >= EvalBucket)

  private[llm] def contaminationFromShingles(sh: DataFrame): DataFrame = {
    val evalSet = sh.filter(col("is_eval"))
      .select(col("shh")).distinct().withColumn("__hit", lit(1))
    sh.filter(!col("is_eval"))
      .join(evalSet, Seq("shh"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"), count(col("__hit")).as("n_hit"))
      .withColumn("overlap_ratio",
        col("n_hit").cast(DoubleType) / col("n_shingles"))
      .withColumn("contaminated",
        when(col("overlap_ratio") >= ContamRatio, 1).otherwise(0)
          .cast(IntegerType))
  }

  def d15Decontaminate(spark: SparkSession, dir: String): DataFrame =
    contaminationFromShingles(docShingles(spark, dir))
      .orderBy(col("doc_id"))

  // ---------------------------------------------------------------------
  // d15b — Bloom-prefiltered decontamination: d15's 100 TB tier. d15
  // relies on the eval shingle set being broadcastable; when the held-out
  // suite is itself large, the training⋈eval shingle join shuffles the
  // full corpus' shingles. Here the eval set first collapses to a Bloom
  // filter (bits, not rows — ~1.2 MB per million shingles at 1% fpp),
  // every training shingle probes the filter as a codegen'd scalar
  // predicate BEFORE any join, and only the surviving ~1% (true hits +
  // fpp) pays the exact semi-join that removes false positives. The
  // result is therefore EXACT — the oracle is d15's — while the shuffle
  // volume drops by the filter's rejection rate. Same approximate-
  // prefilter-then-exact-verify shape as d11's LSH→Jaccard pipeline.
  //
  // The driver holds only the serialized sketch (O(bits), independent of
  // data size — the same thing Spark's own runtime-filter injection
  // ships to the probe side), never data rows.
  // ---------------------------------------------------------------------
  def d15bDecontaminateBloom(spark: SparkSession, dir: String): DataFrame = {
    // shared with d15 via StageCache — no second per-query pin of the
    // corpus shingles (the r6 advisor finding); the eval set is a
    // snapshot (three consumers: count, bloom build, exact semi-join)
    val sh = docShingles(spark, dir)
    val evalSet = graft.StageCache.checkpoint(
      sh.filter(col("is_eval")).select(col("shh")).distinct())
    val bloom = evalSet.stat.bloomFilter("shh",
      math.max(evalSet.count(), 1L), 0.01)
    val bloomBytes = {
      val bos = new java.io.ByteArrayOutputStream()
      bloom.writeTo(bos)
      bos.toByteArray
    }
    val train = sh.filter(!col("is_eval"))
    val hits = train
      .filter(org.apache.spark.sql.graft.BloomFilterOps
        .mightContain(bloomBytes, col("shh")))
      .join(evalSet, Seq("shh"), "left_semi") // exact: false positives die here
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hit"))
    train.groupBy(col("doc_id")).agg(count(lit(1)).as("n_shingles"))
      .join(hits, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_hit"))
      .withColumn("overlap_ratio",
        col("n_hit").cast(DoubleType) / col("n_shingles"))
      .withColumn("contaminated",
        when(col("overlap_ratio") >= ContamRatio, 1).otherwise(0)
          .cast(IntegerType))
      .select(col("doc_id"), col("n_shingles"), col("n_hit"),
        col("overlap_ratio"), col("contaminated"))
      .orderBy(col("doc_id"))
  }

  val d15Sql: String =
    s"""WITH toks AS (
       |  SELECT doc_id,
       |         list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '') AS tk,
       |         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 >= $EvalBucket AS is_eval
       |  FROM documents),
       |sh AS (
       |  SELECT DISTINCT doc_id, is_eval, array_to_string(tk[i:i+${NGramN - 1}], ' ') AS sh
       |  FROM toks, (SELECT unnest(range(1, (SELECT COALESCE(MAX(len(tk)), 1) FROM toks))) AS i) r
       |  WHERE i <= len(tk) - ${NGramN - 1}),
       |ev AS (SELECT DISTINCT sh FROM sh WHERE is_eval),
       |scored AS (
       |  SELECT s.doc_id, COUNT(*) AS n_shingles,
       |         COUNT(ev.sh) AS n_hit
       |  FROM sh s LEFT JOIN ev ON s.sh = ev.sh
       |  WHERE NOT s.is_eval GROUP BY s.doc_id)
       |SELECT doc_id, n_shingles, n_hit,
       |       CAST(n_hit AS DOUBLE) / n_shingles AS overlap_ratio,
       |       CAST(CAST(n_hit AS DOUBLE) / n_shingles >= $ContamRatio AS INT) AS contaminated
       |FROM scored ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // d16 — repetition-quality signals (the Gopher-rule family adapted to
  // single-line documents): top-unigram mass, top-bigram mass, and
  // type-token ratio, with a keep/drop flag. Two hash-aggregate passes
  // (unigrams, bigrams) joined per doc — map-side partials everywhere,
  // never a global window.
  // ---------------------------------------------------------------------
  private[llm] final val MaxTopUnigramFrac = 0.15
  private[llm] final val MaxTopBigramFrac = 0.08
  private[llm] final val MinTypeTokenRatio = 0.4

  /** Per-doc repetition signals for any (doc_id, text) frame and its
    * multiset bigram rows (doc_id, ng) from [[TextOps.ngramRows]]
    * (frame-level for pipeline composition — the signals are pure per-doc
    * functions, so computing them on a filtered subset equals filtering
    * the full-corpus result). */
  def repetitionSignals(docs: DataFrame, bigrams: DataFrame): DataFrame = {
    val uni = docs
      .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        max(col("c")).as("top_unigram_cnt"))
    val bi = bigrams
      .groupBy(col("doc_id"), col("ng")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_bigrams"), max(col("c")).as("top_bigram_cnt"))
    uni.join(bi, Seq("doc_id"), "left")
      .withColumn("n_bigrams", coalesce(col("n_bigrams"), lit(0L)))
      .withColumn("top_bigram_cnt", coalesce(col("top_bigram_cnt"), lit(0L)))
      .withColumn("ttr", col("n_distinct").cast(DoubleType) / col("n_tokens"))
      .withColumn("top_unigram_frac",
        col("top_unigram_cnt").cast(DoubleType) / col("n_tokens"))
      .withColumn("top_bigram_frac",
        when(col("n_bigrams") > 0,
          col("top_bigram_cnt").cast(DoubleType) / col("n_bigrams"))
          .otherwise(0.0))
      .withColumn("flagged",
        when(col("top_unigram_frac") > MaxTopUnigramFrac
            || col("top_bigram_frac") > MaxTopBigramFrac
            || col("ttr") < MinTypeTokenRatio, 1).otherwise(0)
          .cast(IntegerType))
  }

  /** Full-corpus repetition signals, pinned per (session, dir): the
    * signals are per-doc pure (scaladoc above), so d16 reads the pin
    * directly and d18's gate tier restricts it by semi-join instead of
    * re-running the two n-gram aggregate passes over its subset (r19). */
  private[llm] def docRepSigStage(spark: SparkSession, dir: String): DataFrame =
    graft.StageCache.cached(spark, dir, "doc_repsig")(
      repetitionSignals(Tables.documents(spark, dir),
        TextOps.docBigramStage(spark, dir)))

  def d16RepetitionQuality(spark: SparkSession, dir: String): DataFrame =
    docRepSigStage(spark, dir).orderBy(col("doc_id"))

  val d16Sql: String =
    s"""WITH toks AS (
       |  SELECT doc_id,
       |         list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '') AS tk
       |  FROM documents),
       |uni AS (
       |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens, COUNT(*) AS n_distinct,
       |         MAX(c) AS top_unigram_cnt
       |  FROM (SELECT doc_id, tok, COUNT(*) AS c
       |        FROM (SELECT doc_id, unnest(tk) AS tok FROM toks) GROUP BY 1, 2)
       |  GROUP BY doc_id),
       |bi AS (
       |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bigrams, MAX(c) AS top_bigram_cnt
       |  FROM (SELECT doc_id, ng, COUNT(*) AS c FROM (
       |          SELECT doc_id, array_to_string(tk[i:i+1], ' ') AS ng
       |          FROM toks, (SELECT unnest(range(1, (SELECT COALESCE(MAX(len(tk)), 1) FROM toks))) AS i) r
       |          WHERE i <= len(tk) - 1) GROUP BY 1, 2)
       |  GROUP BY doc_id),
       |j AS (
       |  SELECT uni.doc_id, n_tokens, n_distinct, top_unigram_cnt,
       |         COALESCE(n_bigrams, 0) AS n_bigrams,
       |         COALESCE(top_bigram_cnt, 0) AS top_bigram_cnt
       |  FROM uni LEFT JOIN bi ON uni.doc_id = bi.doc_id),
       |m AS (
       |  SELECT *, CAST(n_distinct AS DOUBLE) / n_tokens AS ttr,
       |         CAST(top_unigram_cnt AS DOUBLE) / n_tokens AS top_unigram_frac,
       |         CASE WHEN n_bigrams > 0
       |              THEN CAST(top_bigram_cnt AS DOUBLE) / n_bigrams
       |              ELSE 0.0 END AS top_bigram_frac
       |  FROM j)
       |SELECT *, CAST(top_unigram_frac > $MaxTopUnigramFrac
       |       OR top_bigram_frac > $MaxTopBigramFrac
       |       OR ttr < $MinTypeTokenRatio AS INT) AS flagged
       |FROM m ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // d17 — corpus n-gram vocabulary: the top-Vocab most frequent word
  // bigrams with occurrence and document frequency. One hash aggregate on
  // the bigram (map-side partials collapse the long tail before the
  // shuffle) + a global top-k — the orderBy/limit pair Spark executes as
  // TakeOrderedAndProject, never a full sort. Total order (count desc,
  // bigram asc) makes the LIMIT boundary deterministic.
  // ---------------------------------------------------------------------
  // ---------------------------------------------------------------------
  // d19 — dataset-card corpus statistics: docs / tokens / chars / mean doc
  // length at every (lang, source) grain via ROLLUP — the summary table a
  // corpus release publishes. Same Expand-to-one-aggregate lowering as
  // q33 (one shuffle carries all three grains, map-side partials); the
  // token counts come from a pure codegen projection, so the whole query
  // is scan → project → rollup-aggregate.
  // ---------------------------------------------------------------------
  def d19CorpusStats(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("lang"), col("source"),
        size(TextOps.tokens(col("text"))).cast(LongType).as("__toks"),
        length(col("text")).cast(LongType).as("__chars"))
      .rollup(col("lang"), col("source"))
      .agg(
        grouping_id().cast(IntegerType).as("lvl"),
        count(lit(1)).as("n_docs"),
        sum(col("__toks")).as("n_tokens"),
        sum(col("__chars")).as("n_chars"),
        (sum(col("__toks")).cast(DoubleType) / count(lit(1)))
          .as("avg_tokens_per_doc"))
      .orderBy(col("lvl"), col("lang").asc_nulls_first,
        col("source").asc_nulls_first)

  val d19Sql: String =
    """SELECT lang, source,
      |       CAST(GROUPING(lang, source) AS INT) AS lvl,
      |       COUNT(*) AS n_docs,
      |       CAST(SUM(toks) AS BIGINT) AS n_tokens,
      |       CAST(SUM(chars) AS BIGINT) AS n_chars,
      |       CAST(SUM(toks) AS DOUBLE) / COUNT(*) AS avg_tokens_per_doc
      |FROM (
      |  SELECT lang, source,
      |         CAST(len(list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '')) AS BIGINT) AS toks,
      |         CAST(length(text) AS BIGINT) AS chars
      |  FROM documents)
      |GROUP BY ROLLUP(lang, source)
      |ORDER BY lvl, lang NULLS FIRST, source NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------------
  // d20 — sliding token-window chunking: every document becomes
  // overlapping chunks of ChunkTokens tokens advancing by StrideTokens —
  // the context-window preparation stage of a pretraining/RAG pipeline.
  // Chunk count per doc is the exact integer closed form
  // ceil(max(n−chunk,0)/stride)+1 (identical `(x+stride−1) div stride`
  // arithmetic in both engines — no float division); chunk extraction is
  // slice + array_join over the token array. Pure projection + generator:
  // shuffle-free, whole-stage codegen, output grain (doc_id, chunk_no).
  // ---------------------------------------------------------------------
  private val ChunkTokens = 32
  private val StrideTokens = 16

  /** Frame-level chunking over any (doc_id, text) frame — pipeline
    * consumers (Runner's corpus layer) filter to surviving docs BEFORE
    * chunking, so rejected text never pays tokenize+explode. */
  def chunkRows(docs: DataFrame): DataFrame = {
    val toks = TextOps.tokens(col("text"))
    val base = docs
      .select(col("doc_id"), toks.as("tk"))
      .withColumn("n", size(col("tk")).cast(LongType))
      .filter(col("n") > 0)
      // last chunk index: ceil(max(n - chunk, 0) / stride), integer-exact
      .withColumn("last_chunk", expr(
        s"(GREATEST(n - $ChunkTokens, 0) + ${StrideTokens - 1}) DIV $StrideTokens"))
    base
      .select(col("doc_id"), col("tk"), col("n"),
        explode(sequence(lit(0L), col("last_chunk"))).as("chunk_no"))
      .select(
        col("doc_id"), col("chunk_no"),
        least(lit(ChunkTokens.toLong), col("n") - col("chunk_no") * StrideTokens)
          .as("chunk_tokens"),
        array_join(
          slice(col("tk"), (col("chunk_no") * StrideTokens + 1).cast(IntegerType),
            lit(ChunkTokens)), " ").as("chunk_text"))
  }

  def d20Chunk(spark: SparkSession, dir: String): DataFrame =
    chunkRows(Tables.documents(spark, dir))
      .orderBy(col("doc_id"), col("chunk_no"))

  val d20Sql: String =
    s"""WITH toks AS (
       |  SELECT doc_id,
       |         list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '') AS tk,
       |         CAST(len(list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '')) AS BIGINT) AS n
       |  FROM documents),
       |base AS (
       |  SELECT doc_id, tk, n,
       |         (GREATEST(n - $ChunkTokens, 0) + ${StrideTokens - 1}) // $StrideTokens AS last_chunk
       |  FROM toks WHERE n > 0)
       |SELECT doc_id, i AS chunk_no,
       |       LEAST($ChunkTokens, n - i * $StrideTokens) AS chunk_tokens,
       |       array_to_string(tk[i * $StrideTokens + 1 : i * $StrideTokens + $ChunkTokens], ' ') AS chunk_text
       |FROM base, (SELECT unnest(range(0, (SELECT MAX(last_chunk) + 1 FROM base))) AS i) r
       |WHERE i <= last_chunk
       |ORDER BY doc_id, chunk_no""".stripMargin

  // ---------------------------------------------------------------------
  // d25 — sequence PACKING: the pretraining batch-prep step that
  // concatenates a shard's token stream and cuts it every PackBudget
  // tokens. Each doc gets the pack it STARTS in and its token offset
  // within that pack (GPT-style contiguous packing — a doc may straddle
  // the cut; the trainer's loader handles the split, this op owns the
  // deterministic placement).
  //
  // Scale: the running token count is a window partitioned BY SOURCE
  // SHARD (the unit real pipelines pack within), so the prefix sum
  // distributes across shards — never a global single-partition window.
  // One shuffle on source, then row-local arithmetic.
  // ---------------------------------------------------------------------
  private val PackBudget = 512L

  /** Frame-level packing for any (doc_id, source, text) frame — the
    * production lake packs the PREPARED split (Runner.runCorpus), the
    * registered d25 packs the full table for the oracle gate. */
  def packRows(docs: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    docs
      .select(col("doc_id"), col("source"),
        size(TextOps.tokens(col("text"))).cast(LongType).as("n_tokens"))
      .withColumn("cum_before", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .select(col("doc_id"), col("source"), col("n_tokens"),
        expr(s"cum_before DIV $PackBudget").as("pack_id"),
        (col("cum_before") % PackBudget).as("offset_in_pack"))
  }

  def d25SequencePack(spark: SparkSession, dir: String): DataFrame =
    packRows(Tables.documents(spark, dir)).orderBy(col("doc_id"))

  val d25Sql: String =
    s"""SELECT doc_id, source, n_tokens,
       |       CAST(cum_before // $PackBudget AS BIGINT) AS pack_id,
       |       CAST(cum_before % $PackBudget AS BIGINT) AS offset_in_pack
       |FROM (
       |  SELECT doc_id, source, n_tokens,
       |         COALESCE(SUM(n_tokens) OVER (PARTITION BY source
       |           ORDER BY doc_id ASC NULLS FIRST
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
       |  FROM (
       |    SELECT doc_id, source,
       |           CAST(len(list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '')) AS BIGINT) AS n_tokens
       |    FROM documents))
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // d21 — per-language heavy hitters via the custom Misra-Gries
  // TypedImperativeAggregate (HeavyHittersAgg): O(k)-memory frequent-token
  // tracking with mergeable buffers — the scale path for vocabulary stats
  // when an exact token groupBy would shuffle billions of distinct keys
  // (contrast d17, which is the exact-aggregate form). Capacity 64 ≥ the
  // corpus vocabulary, so counts here are in the aggregate's EXACT regime
  // and the plain-GROUP-BY DuckDB oracle hash-matches; the sub-capacity
  // error bound is property-tested in HeavyHittersSpec.
  // ---------------------------------------------------------------------
  private val HhCapacity = 64

  def d21HeavyHitters(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("lang"), explode(TextOps.tokens(col("text"))).as("tok"))
      .groupBy(col("lang"))
      .agg(org.apache.spark.sql.graft.HeavyHittersAgg
        .heavyHitters(col("tok"), HhCapacity).as("hh"))
      .select(col("lang"), explode(col("hh")).as("e"))
      .select(col("lang"), col("e.token").as("token"), col("e.cnt").as("cnt"))
      .orderBy(col("lang"), col("cnt").desc, col("token"))

  val d21Sql: String =
    """SELECT lang, tok AS token, COUNT(*) AS cnt
      |FROM (SELECT lang,
      |        unnest(list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '')) AS tok
      |      FROM documents)
      |GROUP BY 1, 2 ORDER BY lang, cnt DESC, token""".stripMargin

  // ---------------------------------------------------------------------
  // d22 — boilerplate-span detection: word-5-grams occurring in ≥ MinDf
  // DISTINCT documents are "boilerplate spans" (shared headers, templates,
  // near-dup debris); every doc is scored by the fraction of its shingles
  // that are boilerplate. Complements d15 (overlap vs an eval split) and
  // d16 (within-doc repetition) — this is CROSS-doc repetition.
  //
  // Scale: document frequency is one hash aggregate over 8-byte shingle
  // hashes (map-side partials collapse unique shingles — the overwhelming
  // majority — before the shuffle); the boilerplate set joins back by the
  // same hash the doc side already carries. No strings shuffle anywhere.
  // ---------------------------------------------------------------------
  private val BoilerMinDf = 3
  private val BoilerRatio = 0.5

  def d22Boilerplate(spark: SparkSession, dir: String): DataFrame = {
    // the pinned 5-gram stage (shared with d15/d15b/d18) feeds the
    // doc-frequency aggregate AND the scoring join — this was the exact
    // frame d22 rebuilt and cached per query (r19)
    val sh = docShh5Stage(spark, dir)
    val boiler = sh.groupBy(col("shh"))
      .agg(count(lit(1)).as("__df")) // shingles are distinct per doc → count = doc frequency
      .filter(col("__df") >= BoilerMinDf)
      .select(col("shh")).withColumn("__b", lit(1))
    sh.join(boiler, Seq("shh"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"), count(col("__b")).as("n_boiler"))
      .withColumn("boiler_ratio",
        col("n_boiler").cast(DoubleType) / col("n_shingles"))
      .withColumn("flagged",
        when(col("boiler_ratio") >= BoilerRatio, 1).otherwise(0)
          .cast(IntegerType))
      .orderBy(col("doc_id"))
  }

  val d22Sql: String =
    s"""WITH toks AS (
       |  SELECT doc_id,
       |         list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '') AS tk
       |  FROM documents),
       |sh AS (
       |  SELECT DISTINCT doc_id, array_to_string(tk[i:i+${NGramN - 1}], ' ') AS sh
       |  FROM toks, (SELECT unnest(range(1, (SELECT COALESCE(MAX(len(tk)), 1) FROM toks))) AS i) r
       |  WHERE i <= len(tk) - ${NGramN - 1}),
       |boiler AS (
       |  SELECT sh FROM sh GROUP BY sh HAVING COUNT(*) >= $BoilerMinDf),
       |scored AS (
       |  SELECT s.doc_id, COUNT(*) AS n_shingles, COUNT(b.sh) AS n_boiler
       |  FROM sh s LEFT JOIN boiler b ON s.sh = b.sh
       |  GROUP BY s.doc_id)
       |SELECT doc_id, n_shingles, n_boiler,
       |       CAST(n_boiler AS DOUBLE) / n_shingles AS boiler_ratio,
       |       CAST(CAST(n_boiler AS DOUBLE) / n_shingles >= $BoilerRatio AS INT) AS flagged
       |FROM scored ORDER BY doc_id""".stripMargin

  private val VocabTopK = 50

  def d17NgramVocab(spark: SparkSession, dir: String): DataFrame =
    TextOps.docBigramStage(spark, dir)
      .groupBy(col("ng").as("bigram"))
      .agg(count(lit(1)).as("n_occurrences"),
        countDistinct(col("doc_id")).as("n_docs"))
      .orderBy(col("n_occurrences").desc, col("bigram").asc)
      .limit(VocabTopK)

  val d17Sql: String =
    s"""WITH toks AS (
       |  SELECT doc_id,
       |         list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '') AS tk
       |  FROM documents),
       |bi AS (
       |  SELECT doc_id, array_to_string(tk[i:i+1], ' ') AS bigram
       |  FROM toks, (SELECT unnest(range(1, (SELECT COALESCE(MAX(len(tk)), 1) FROM toks))) AS i) r
       |  WHERE i <= len(tk) - 1)
       |SELECT bigram, COUNT(*) AS n_occurrences, COUNT(DISTINCT doc_id) AS n_docs
       |FROM bi GROUP BY bigram
       |ORDER BY n_occurrences DESC, bigram ASC LIMIT $VocabTopK""".stripMargin

  // ---------------------------------------------------------------------
  // d28 — token-rarity quality score: the cheap perplexity proxy (the
  // CCNet-style LM filter's integer-exact cousin). A document built from
  // tokens the corpus rarely produces is likelier noise/garble than
  // prose; instead of an LM's -log p (whose transcendental math never
  // hash-matches across engines), score each doc by its tokens' CORPUS
  // frequencies: mean token frequency, and the fraction of tokens whose
  // frequency falls below RareFactor × the mean token frequency. All
  // integer sums and one final IEEE division — bit-identical in any
  // engine.
  //
  // Scale: the frequency table is vocabulary-sized (millions of rows at
  // 100 TB, not corpus-sized) and joins on the token — the only shuffles
  // are token-keyed (short strings) and the per-doc hash aggregate with
  // map-side partials. The 1-row threshold frame rides a broadcast cross
  // join (bounded, q19's J7 shape). The web-scale tier — freq table
  // truncated to top-k with "absent ⇒ rare", which also turns the token
  // join into a broadcast — is d28b below.
  //
  // Contract: a document whose text tokenizes to ZERO tokens produces no
  // explode rows, so it is ABSENT from the output rather than scored
  // with n_tokens=0 (DuckDB's unnest agrees, so parity holds either
  // way). Gated corpora never contain zero-token docs — the quality gate
  // (d04/d13) drops them first; callers scoring UNgated text who need
  // every doc_id back must left-join this result to their doc frame.
  // ---------------------------------------------------------------------
  private val RareFactor = 0.5
  private val RareRatioFlag = 0.02

  def d28TokenRarity(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("tok"))
    // snapshotted: the VOCAB-sized frequency table feeds the doc join AND
    // the threshold aggregate — without it the corpus-sized explode
    // underneath it runs once per consumer
    val freq = graft.StageCache.checkpoint(
      toks.groupBy(col("tok")).agg(count(lit(1)).as("__f")))
    val thr = freq.agg(
      (sum(col("__f")).cast(DoubleType) / count(lit(1))).as("__avg"))
    toks.join(freq, Seq("tok"))
      .crossJoin(broadcast(thr))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(when(col("__f").cast(DoubleType) < col("__avg") * RareFactor, 1L)
          .otherwise(0L)).as("n_rare"),
        (sum(col("__f")).cast(DoubleType) / count(lit(1))).as("mean_tok_freq"))
      .withColumn("rare_ratio",
        col("n_rare").cast(DoubleType) / col("n_tokens"))
      .withColumn("flagged",
        when(col("rare_ratio") >= RareRatioFlag, 1).otherwise(0)
          .cast(IntegerType))
      .select(col("doc_id"), col("n_tokens"), col("n_rare"),
        col("mean_tok_freq"), col("rare_ratio"), col("flagged"))
      .orderBy(col("doc_id"))
  }

  val d28Sql: String =
    s"""WITH toks AS (
       |  SELECT doc_id,
       |         unnest(list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '')) AS tok
       |  FROM documents),
       |freq AS (SELECT tok, COUNT(*) AS f FROM toks GROUP BY tok),
       |thr AS (SELECT CAST(SUM(f) AS DOUBLE) / COUNT(*) AS avg_f FROM freq),
       |scored AS (
       |  SELECT t.doc_id,
       |         COUNT(*) AS n_tokens,
       |         CAST(SUM(CASE WHEN CAST(f.f AS DOUBLE) < thr.avg_f * $RareFactor
       |                       THEN 1 ELSE 0 END) AS BIGINT) AS n_rare,
       |         CAST(SUM(f.f) AS DOUBLE) / COUNT(*) AS mean_tok_freq
       |  FROM toks t JOIN freq f USING (tok), thr
       |  GROUP BY t.doc_id)
       |SELECT doc_id, n_tokens, n_rare, mean_tok_freq,
       |       CAST(n_rare AS DOUBLE) / n_tokens AS rare_ratio,
       |       CAST(CAST(n_rare AS DOUBLE) / n_tokens >= $RareRatioFlag AS INT) AS flagged
       |FROM scored ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // d28b — d28's web-scale tier, the header's "freq table truncated to
  // top-k + absent ⇒ rare" made real: the frequency table keeps only the
  // top-K tokens (ORDER BY f DESC, tok — a deterministic total order, so
  // the truncation is EXACTLY reproducible and the query keeps a full
  // DuckDB oracle, unlike the sketch tiers), the rarity threshold
  // averages over that bounded table, and any token ABSENT from it is
  // rare by definition.
  //
  // Scale: this flips d28's one data-sized shuffle into none — freqK is
  // K rows, so the token join BROADCASTS (the plan's only exchanges are
  // the vocab-sized freq aggregate, which d28 pays too, and the final
  // per-doc aggregate). At web scale the full vocab is billions of rows
  // while top-K at K~1M covers ~99% of token OCCURRENCES (Zipf); every
  // uncovered occurrence is exactly what the filter wants to call rare.
  // mean_tok_freq averages over PRESENT tokens only (a doc of all-absent
  // tokens gets NULL — both engines agree).
  //
  // MEASURED crossover (same-JVM best-of-2, local[16], 8g heap, Zipf-ish
  // synthetic corpus at 100 tokens/doc, production code paths): there is
  // NO crossover to wait for — the broadcast tier wins at every scale,
  // and the gap widens as the occurrence shuffle grows. d28 vs
  // d28b(k=10k): 3M tokens 1.64s vs 1.23s; 10M 3.01 vs 2.26; 30M 10.28
  // vs 3.85 (2.7×); 100M 40.0 vs 13.9 (2.9×). k=10k vs k=100k is noise
  // (the broadcast stays kilobytes–megabytes) — both tiers pay the same
  // vocab aggregate, so the whole gap is the data-sized token-keyed
  // shuffle join d28b deletes. sf0.1's bench (0.56 vs 0.61s) is the flat
  // left end of the same curve.
  //
  // K-sensitivity of the FLAG (dirty sf0.01 fixture, 577 docs): the
  // planted garble docs' singleton tokens are absent from top-K at every
  // K below the full vocab AND fall under the frequency threshold when
  // present, so their flag is K-invariant (3/3 at k=5, 10, 20, 64). What
  // moves with K is the false-flag rate on ordinary docs: at k≤20 on
  // this tiny-vocab corpus EVERY doc is flagged (577/577 — the
  // truncation artifact DemoTopK's comment warns about), while k=64
  // (covering the vocab) reproduces d28's 41/577. Size K so top-K covers
  // ~99% of occurrences (Zipf: K~1M at web scale) and absent⇒rare is
  // the tail it is meant to be.
  // ---------------------------------------------------------------------
  // K for the REGISTERED demo tier only — pinned tiny so the truncation
  // branch (absent ⇒ rare) actually exercises on the driver corpus and
  // the DuckDB oracle reproduces it bit-for-bit. At K=20 most of the
  // vocabulary is absent⇒rare — that is the truncation artifact on
  // display, not a production setting. Real deployments pass `k`
  // explicitly (the header's Zipf argument sizes K~1M for web scale,
  // where top-K covers ~99% of occurrences and absent⇒rare is the tail).
  private val DemoTopK = 20

  def d28bTokenRarityTopK(spark: SparkSession, dir: String,
      k: Int = DemoTopK): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("tok"))
    // snapshotted: feeds the threshold agg AND the broadcast join
    val freqK = graft.StageCache.checkpoint(
      toks.groupBy(col("tok")).agg(count(lit(1)).as("__f"))
        .orderBy(col("__f").desc, col("tok"))
        .limit(k))
    val thr = freqK.agg(
      (sum(col("__f")).cast(DoubleType) / count(lit(1))).as("__avg"))
    toks.join(broadcast(freqK), Seq("tok"), "left")
      .crossJoin(broadcast(thr))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(when(col("__f").isNull ||
            col("__f").cast(DoubleType) < col("__avg") * RareFactor, 1L)
          .otherwise(0L)).as("n_rare"),
        (sum(col("__f")).cast(DoubleType) / count(col("__f")))
          .as("mean_tok_freq"))
      .withColumn("rare_ratio",
        col("n_rare").cast(DoubleType) / col("n_tokens"))
      .withColumn("flagged",
        when(col("rare_ratio") >= RareRatioFlag, 1).otherwise(0)
          .cast(IntegerType))
      .select(col("doc_id"), col("n_tokens"), col("n_rare"),
        col("mean_tok_freq"), col("rare_ratio"), col("flagged"))
      .orderBy(col("doc_id"))
  }

  val d28bSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id,
       |         unnest(list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '')) AS tok
       |  FROM documents),
       |freqk AS (SELECT tok, COUNT(*) AS f FROM toks GROUP BY tok
       |          ORDER BY f DESC, tok LIMIT $DemoTopK),
       |thr AS (SELECT CAST(SUM(f) AS DOUBLE) / COUNT(*) AS avg_f FROM freqk),
       |scored AS (
       |  SELECT t.doc_id,
       |         COUNT(*) AS n_tokens,
       |         CAST(SUM(CASE WHEN f.f IS NULL OR CAST(f.f AS DOUBLE) < thr.avg_f * $RareFactor
       |                       THEN 1 ELSE 0 END) AS BIGINT) AS n_rare,
       |         CAST(SUM(f.f) AS DOUBLE) / COUNT(f.f) AS mean_tok_freq
       |  FROM toks t LEFT JOIN freqk f USING (tok), thr
       |  GROUP BY t.doc_id)
       |SELECT doc_id, n_tokens, n_rare, mean_tok_freq,
       |       CAST(n_rare AS DOUBLE) / n_tokens AS rare_ratio,
       |       CAST(CAST(n_rare AS DOUBLE) / n_tokens >= $RareRatioFlag AS INT) AS flagged
       |FROM scored ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // d29 — source overlap matrix: exact 3-gram-shingle Jaccard between
  // every pair of sources — the dataset-level comparison behind "do these
  // two crawls/dumps duplicate each other enough to drop one", where
  // d06/d11 answer the same question per DOCUMENT. Output is the
  // O(sources²) upper triangle with set sizes and Jaccard.
  //
  // Scale: operates entirely on distinct (source, shingle-hash) rows —
  // the corpus collapses to ~|vocabulary of shingles| × sources 8-byte
  // keys before any join; the self-join is shingle-hash-keyed and each
  // shingle fans out at most (sources choose 2) pairs, bounded by the
  // source count, not the corpus. Sizes and pair counts reuse the same
  // pinned frame (localCheckpoint — two consumers).
  //
  // maxDocFreq is the web-scale guard: the pair fan-out bound above is
  // per SHINGLE, so join input is sum over shingles of C(df, 2) — at
  // web scale, boilerplate shingles present in EVERY source ("all
  // rights reserved") each contribute C(|sources|, 2) and dominate the
  // join while carrying zero discriminating signal (a shingle shared by
  // all sources separates none of them — the same reason search engines
  // drop stopwords from postings). Dropping shingles whose source-level
  // document frequency exceeds maxDocFreq bounds the join input at
  // C(maxDocFreq, 2) x |shingle vocab| and redefines the measure over
  // the discriminating-shingle universe only (set sizes shrink
  // consistently, so jaccard stays internally coherent). The default
  // (Int.MaxValue) keeps the measure exact and adds NO extra stage —
  // the frequency filter only enters the plan when a finite bound is
  // asked for.
  // ---------------------------------------------------------------------
  def d29SourceOverlap(spark: SparkSession, dir: String,
      maxDocFreq: Int = Int.MaxValue): DataFrame =
    sourceOverlap(Tables.documents(spark, dir), maxDocFreq,
      sh0 = Some(SketchOps.docShhStage(spark, dir)))

  /** Frame-level core of d29 — see the header above. `docs` needs
    * (source, text) columns. `sh0` optionally supplies prebuilt
    * (doc_id, source, shh) rows (the registered d29/d29b/d43 pass the
    * pinned doc_shh stage; the (source, shh) distinct over the per-doc
    * distinct rows equals the one built from scratch). */
  def sourceOverlap(docs: DataFrame, maxDocFreq: Int = Int.MaxValue,
      sh0: Option[DataFrame] = None): DataFrame = {
    val distinctSh = sh0.getOrElse(TextOps.shingleHashes(docs, 3))
      .select(col("source"), col("shh"))
      .distinct()
    val bounded =
      if (maxDocFreq == Int.MaxValue) distinctSh
      else {
        // source-level DF rides the same shh-keyed shuffle the pair join
        // needs anyway; count(*) over the distinct frame IS the DF
        val df = distinctSh.groupBy(col("shh"))
          .agg(count(lit(1)).as("__df"))
          .filter(col("__df") <= maxDocFreq)
        distinctSh.join(df.select(col("shh")), Seq("shh"))
      }
    val sh = graft.StageCache.checkpoint(bounded) // consumed by the sizes agg AND the pair join
    val sizes = sh.groupBy(col("source")).agg(count(lit(1)).as("n_sh"))
    sh.as("a").join(sh.as("b"),
        col("a.shh") === col("b.shh") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(count(lit(1)).as("n_common"))
      .join(broadcast(sizes.select(col("source").as("source_a"),
        col("n_sh").as("n_a"))), Seq("source_a"))
      .join(broadcast(sizes.select(col("source").as("source_b"),
        col("n_sh").as("n_b"))), Seq("source_b"))
      .withColumn("jaccard", col("n_common").cast(DoubleType) /
        (col("n_a") + col("n_b") - col("n_common")).cast(DoubleType))
      .select(col("source_a"), col("source_b"), col("n_a"), col("n_b"),
        col("n_common"), col("jaccard"))
      .orderBy(col("source_a"), col("source_b"))
  }

  val d29Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, source,
      |         list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '') AS tk
      |  FROM documents),
      |sh AS (
      |  SELECT DISTINCT source, array_to_string(tk[i:i+2], ' ') AS sh
      |  FROM toks, (SELECT unnest(range(1, (SELECT COALESCE(MAX(len(tk)), 1) FROM toks))) AS i) r
      |  WHERE i <= len(tk) - 2),
      |sizes AS (SELECT source, COUNT(*) AS n_sh FROM sh GROUP BY source),
      |pairs AS (
      |  SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS n_common
      |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.source < b.source
      |  GROUP BY 1, 2)
      |SELECT p.source_a, p.source_b, sa.n_sh AS n_a, sb.n_sh AS n_b,
      |       p.n_common,
      |       CAST(p.n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - p.n_common) AS jaccard
      |FROM pairs p
      |JOIN sizes sa ON sa.source = p.source_a
      |JOIN sizes sb ON sb.source = p.source_b
      |ORDER BY source_a, source_b""".stripMargin

  // ---------------------------------------------------------------------
  // d29b — d29 under the stop-shingle bound as a gated tier: shingles
  // whose source-level document frequency exceeds StopShingleDf are
  // dropped before the pair join (they separate nothing — a shingle in
  // every source carries zero discriminating signal, and at web scale
  // boilerplate shingles would otherwise dominate the join's fan-out
  // with C(|sources|, 2) pairs EACH). The truncation is deterministic,
  // so unlike the sketch tiers this keeps a full DuckDB oracle; set
  // sizes shrink to the discriminating-shingle universe consistently,
  // keeping jaccard internally coherent.
  // ---------------------------------------------------------------------
  private val StopShingleDf = 4

  def d29bSourceOverlapBounded(spark: SparkSession, dir: String): DataFrame =
    sourceOverlap(Tables.documents(spark, dir), StopShingleDf,
      sh0 = Some(SketchOps.docShhStage(spark, dir)))

  val d29bSql: String =
    s"""WITH toks AS (
      |  SELECT doc_id, source,
      |         list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '') AS tk
      |  FROM documents),
      |sh0 AS (
      |  SELECT DISTINCT source, array_to_string(tk[i:i+2], ' ') AS sh
      |  FROM toks, (SELECT unnest(range(1, (SELECT COALESCE(MAX(len(tk)), 1) FROM toks))) AS i) r
      |  WHERE i <= len(tk) - 2),
      |keep AS (SELECT sh FROM sh0 GROUP BY sh HAVING COUNT(*) <= $StopShingleDf),
      |sh AS (SELECT s.source, s.sh FROM sh0 s JOIN keep USING (sh)),
      |sizes AS (SELECT source, COUNT(*) AS n_sh FROM sh GROUP BY source),
      |pairs AS (
      |  SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS n_common
      |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.source < b.source
      |  GROUP BY 1, 2)
      |SELECT p.source_a, p.source_b, sa.n_sh AS n_a, sb.n_sh AS n_b,
      |       p.n_common,
      |       CAST(p.n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - p.n_common) AS jaccard
      |FROM pairs p
      |JOIN sizes sa ON sa.source = p.source_a
      |JOIN sizes sb ON sb.source = p.source_b
      |ORDER BY source_a, source_b""".stripMargin

  // ---------------------------------------------------------------------
  // d43 — source-level CONTAINMENT matrix: d40's asymmetric measure at
  // the DATASET grain, completing the square (d06:d40 :: d29:d43). The
  // mixture-curation question d29's symmetric Jaccard cannot answer:
  // "is dump N+1 a superset of dump N" — a pair of crawls with jaccard
  // 0.5 could be half-overlapping siblings (keep both) or one 95%-inside
  // the other (drop the subset) — containment per direction separates
  // the two. Pure projection over d29's overlap frame: both directions
  // derive from (n_common, n_a, n_b) already computed there, so the
  // matrix costs nothing beyond d29's shingle-key join, and every scale
  // property (distinct (source, shingle-hash) collapse, per-shingle pair
  // fan-out bound) is inherited unchanged.
  // ---------------------------------------------------------------------
  def d43SourceContainment(spark: SparkSession, dir: String): DataFrame =
    sourceOverlap(Tables.documents(spark, dir),
        sh0 = Some(SketchOps.docShhStage(spark, dir)))
      .withColumn("c_ab", col("n_common").cast(DoubleType) / col("n_a").cast(DoubleType))
      .withColumn("c_ba", col("n_common").cast(DoubleType) / col("n_b").cast(DoubleType))
      .select(col("source_a"), col("source_b"), col("n_a"), col("n_b"),
        col("n_common"), col("c_ab"), col("c_ba"))
      .orderBy(col("source_a"), col("source_b"))

  val d43Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, source,
      |         list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '') AS tk
      |  FROM documents),
      |sh AS (
      |  SELECT DISTINCT source, array_to_string(tk[i:i+2], ' ') AS sh
      |  FROM toks, (SELECT unnest(range(1, (SELECT COALESCE(MAX(len(tk)), 1) FROM toks))) AS i) r
      |  WHERE i <= len(tk) - 2),
      |sizes AS (SELECT source, COUNT(*) AS n_sh FROM sh GROUP BY source),
      |pairs AS (
      |  SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS n_common
      |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.source < b.source
      |  GROUP BY 1, 2)
      |SELECT p.source_a, p.source_b, sa.n_sh AS n_a, sb.n_sh AS n_b,
      |       p.n_common,
      |       CAST(p.n_common AS DOUBLE) / sa.n_sh AS c_ab,
      |       CAST(p.n_common AS DOUBLE) / sb.n_sh AS c_ba
      |FROM pairs p
      |JOIN sizes sa ON sa.source = p.source_a
      |JOIN sizes sb ON sb.source = p.source_b
      |ORDER BY source_a, source_b""".stripMargin

  // ---------------------------------------------------------------------
  // d36 — per-document tf-idf keyword extraction: the top-K terms of
  // every document by tf·idf, the metadata field a curation pipeline
  // attaches for topic routing, domain mixing, and search over the
  // corpus. Completes the term-statistics family: d17 is the GLOBAL
  // vocabulary head, d28 scores docs by rarity mass, this names the
  // distinguishing terms PER DOC. tf = c(t,d)/|d|; idf = ln((N+1)/(df+1))
  // + 1 (the smoothed form that keeps corpus-universal terms at weight
  // 1 rather than 0); rank by tf·idf desc with the term string as the
  // deterministic tie-break.
  //
  // Scale: the corpus-sized explode collapses FIRST into per-(doc, term)
  // counts (one corpus-sized shuffle, map-side partials absorb repeats);
  // everything after operates on the distinct doc-term frame (pinned —
  // it feeds the doc-length re-aggregate, the document-frequency
  // aggregate, and the scoring join). The df table is vocabulary-sized
  // (d28's argument: millions of rows at 100 TB, not corpus-sized) and
  // joins back on the term key the doc side already carries; at web
  // scale it truncates to top-K-by-df with absent ⇒ idf-floor, exactly
  // d28b's broadcast move — plan shape unchanged. The top-K window
  // partitions by doc_id over a doc's DISTINCT terms (bounded by doc
  // vocabulary, never corpus-sized — the global forms live in
  // operators.Ranks).
  //
  // Cross-engine contract (d31's): tf·idf is one per-row scalar
  // expression over identical integer inputs (c, |d|, df, N) — ln/÷/×
  // are bit-identical on both engines — quantized ONCE to integer
  // nano-units (floor(x·1e9 + 0.5)) so the ranking key and the output
  // column are exact longs. A doc with zero tokens has no terms and is
  // absent (d28's contract).
  // ---------------------------------------------------------------------
  private val KeywordTopK = 5

  def d36TfidfKeywords(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // distinct (doc, term) counts — pinned: feeds doc-length re-agg,
    // document-frequency agg, and the scoring join
    val tf = graft.StageCache.checkpoint(Tables.documents(spark, dir)
      .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf")))
    val docLen = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("n_tokens"))
    val df = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val nDocs = docLen.agg(count(lit(1)).cast(DoubleType).as("__n"))
    val scored = tf
      .join(docLen, Seq("doc_id"))
      .join(df, Seq("tok"))
      .crossJoin(broadcast(nDocs))
      .withColumn("tfidf_q",
        floor((col("tf").cast(DoubleType) / col("n_tokens").cast(DoubleType)) *
          (log((col("__n") + lit(1.0)) / (col("df").cast(DoubleType) + lit(1.0))) +
            lit(1.0)) * lit(1e9) + lit(0.5)).cast(LongType))
    scored
      .withColumn("rank",
        row_number().over(Window.partitionBy(col("doc_id"))
          .orderBy(col("tfidf_q").desc, col("tok").asc)))
      .filter(col("rank") <= KeywordTopK)
      .select(col("doc_id"), col("rank"), col("tok"), col("tf"), col("df"),
        col("n_tokens"), col("tfidf_q"))
      .orderBy(col("doc_id"), col("rank"))
  }

  val d36Sql: String =
    s"""WITH toks AS (
       |  SELECT doc_id,
       |         unnest(list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '')) AS tok
       |  FROM documents),
       |tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY doc_id, tok),
       |dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_tokens FROM tf GROUP BY doc_id),
       |df AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
       |nd AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM dl),
       |sc AS (
       |  SELECT t.doc_id, t.tok, t.tf, f.df, l.n_tokens,
       |         CAST(floor((CAST(t.tf AS DOUBLE) / CAST(l.n_tokens AS DOUBLE)) *
       |           (ln((nd.n + 1.0) / (CAST(f.df AS DOUBLE) + 1.0)) + 1.0) * 1e9 + 0.5)
       |           AS BIGINT) AS tfidf_q
       |  FROM tf t JOIN dl l USING (doc_id) JOIN df f USING (tok), nd),
       |rk AS (
       |  SELECT *, row_number() OVER (PARTITION BY doc_id
       |                               ORDER BY tfidf_q DESC, tok ASC) AS rank
       |  FROM sc)
       |SELECT doc_id, rank, tok, tf, df, n_tokens, tfidf_q
       |FROM rk WHERE rank <= $KeywordTopK ORDER BY doc_id, rank""".stripMargin

  // ---------------------------------------------------------------------
  // d46 — inverted index build: term → (df, total tf, top-K postings by
  // tf) — the retrieval-side member of the term-statistics family (d17 =
  // global vocabulary head, d28 = doc rarity mass, d36 = per-doc
  // keywords; this is the SEARCH INDEX over the curated corpus). Postings
  // are emitted as rows (tok, rank, doc_id, tf) so the result stays
  // hash-comparable; hapax terms (df < MinDf) are dropped — an index on
  // the long tail is per-doc metadata, which d36 already carries.
  //
  // Scale: the per-term top-K is a bounded TypedImperativeAggregate
  // ([[org.apache.spark.sql.graft.TopKPairsAgg]]), NOT a window — a
  // row_number window partitioned by term would shuffle the FULL postings
  // of every stopword to a single reducer (corpus-sized partitions, the
  // skew class every other window in this repo avoids by using bounded
  // partition keys). The heap agg's map-side partials bound the shuffle
  // to ≤ K pairs per (term, map partition), and df/tf_total ride the same
  // single hash aggregate. Two shuffles total: (doc,term) tf collapse,
  // then the term-grain aggregate.
  // ---------------------------------------------------------------------
  private val PostingsK = 5
  private val MinDf = 3

  def d46InvertedIndex(spark: SparkSession, dir: String): DataFrame = {
    val tf = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("tok"))
      .groupBy(col("tok"), col("doc_id")).agg(count(lit(1)).as("tf"))
    tf.groupBy(col("tok"))
      .agg(
        count(lit(1)).as("df"),
        sum(col("tf")).as("tf_total"),
        org.apache.spark.sql.graft.TopKPairsAgg
          .topKPairs(col("tf"), col("doc_id"), PostingsK).as("postings"))
      .filter(col("df") >= MinDf)
      .select(col("tok"), col("df"), col("tf_total"),
        posexplode(col("postings")))
      .select(col("tok"), col("df"), col("tf_total"),
        (col("pos") + 1).cast(IntegerType).as("rank"),
        col("col.id").as("doc_id"), col("col.score").as("tf"))
      .orderBy(col("tok"), col("rank"))
  }

  val d46Sql: String =
    s"""WITH toks AS (
       |  SELECT doc_id,
       |         unnest(list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '')) AS tok
       |  FROM documents),
       |tf AS (SELECT tok, doc_id, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
       |term AS (
       |  SELECT tok, COUNT(*) AS df, CAST(SUM(tf) AS BIGINT) AS tf_total
       |  FROM tf GROUP BY tok),
       |rk AS (
       |  SELECT tok, doc_id, tf,
       |         CAST(row_number() OVER (PARTITION BY tok
       |           ORDER BY tf DESC, doc_id) AS INT) AS rank
       |  FROM tf)
       |SELECT t.tok, t.df, t.tf_total, r.rank, r.doc_id, r.tf
       |FROM term t JOIN rk r USING (tok)
       |WHERE t.df >= $MinDf AND r.rank <= $PostingsK
       |ORDER BY tok, rank""".stripMargin
}
