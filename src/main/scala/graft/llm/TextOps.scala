package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables

/** Training-data text operators over the `documents` table (driver mandate:
  * SURVEY.md §7.5 — dedup, text analysis, fingerprinting for an LLM data
  * pipeline at 100 TB). Everything is built from codegen'd built-ins
  * (`split`/`filter`/`transform`/`md5`/…) — no Scala UDFs in any hot path —
  * and every derived number is integer-exact or a double computed by the
  * same IEEE expression in the DuckDB oracle.
  */
object TextOps {

  /** Whitespace tokens of the lowercased text, empties dropped — the
    * shared tokenizer of all text ops. trim-then-split rather than a
    * higher-order `filter` lambda (interpreted, measured ~100× slower than
    * codegen): with the text trimmed, `\s+` splitting can produce no empty
    * tokens, except for the all-whitespace input handled explicitly. */
  def tokens(text: Column): Column = {
    val t = trim(lower(text))
    when(length(t) === 0, array().cast("array<string>"))
      .otherwise(split(t, "\\s+"))
  }

  // ---------------------------------------------------------------------
  // d01 — exact deduplication: one representative (min doc_id) per
  // identical text. Implemented as a plain aggregate on the text (one
  // shuffle with map-side partials) rather than a window. Scale: group on
  // a 128-bit fingerprint (md5 here) instead of the raw text so shuffle
  // rows carry 16 bytes, not whole documents.
  // ---------------------------------------------------------------------
  def d01DedupExact(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(md5(col("text")).as("text_fp"))
      .agg(
        min(col("doc_id")).as("rep_doc_id"),
        count(lit(1)).as("n_copies"))
      .orderBy(col("text_fp"))

  val d01Sql: String =
    """SELECT md5(text) AS text_fp, MIN(doc_id) AS rep_doc_id, COUNT(*) AS n_copies
      |FROM documents GROUP BY md5(text) ORDER BY text_fp""".stripMargin

  // ---------------------------------------------------------------------
  // d02 — token counting: whitespace tokens + a BPE-ish pre-tokenizer
  // regex (letter runs | digit runs | single other non-space — the GPT-2
  // pre-tokenizer shape). Pure projection, whole-stage codegen.
  // ---------------------------------------------------------------------
  private val bpeish = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"

  def d02TokenStats(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        length(col("text")).cast(LongType).as("n_chars"),
        size(tokens(col("text"))).cast(LongType).as("n_tokens_ws"),
        regexp_count(col("text"), lit(bpeish)).cast(LongType).as("n_tokens_bpe"))
      .orderBy(col("doc_id"))

  val d02Sql: String =
    s"""SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
       |       CAST(len(list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '')) AS BIGINT) AS n_tokens_ws,
       |       CAST(len(regexp_extract_all(text, '$bpeish')) AS BIGINT) AS n_tokens_bpe
       |FROM documents ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // d03 — language ID by stopword-profile scoring (n-gram-heuristic
  // class): count token hits against per-language stopword profiles, pick
  // the max with a fixed precedence for ties. The test corpus is synthetic
  // (labels are independent of the text), so the contract is a
  // deterministic heuristic, identical in both engines — not label
  // recovery.
  // ---------------------------------------------------------------------
  private val profiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "is", "a"),
    "de" -> Seq("der", "die", "und", "das", "ist", "ein"),
    "fr" -> Seq("le", "la", "et", "les", "des", "un"),
    "es" -> Seq("el", "los", "las", "que", "y", "un"))

  def d03LangId(spark: SparkSession, dir: String): DataFrame = {
    val toks = tokens(col("text"))
    val hitCols = profiles.map { case (langCode, words) =>
      size(filter(toks, t => t.isInCollection(words)))
        .cast(LongType).as(s"hits_$langCode")
    }
    val hits = Tables.documents(spark, dir)
      .select(col("doc_id") +: col("lang").as("lang_label") +: hitCols: _*)
    // argmax with fixed precedence = profile order (first max wins)
    val best = profiles.map(p => col(s"hits_${p._1}"))
      .reduce((a, b) => when(b > a, b).otherwise(a))
    val pred = profiles.reverse.foldLeft(lit("unknown"): Column) {
      case (acc, (langCode, _)) =>
        when(col(s"hits_$langCode") === col("__best") && col("__best") > 0,
          langCode).otherwise(acc)
    }
    hits.withColumn("__best", best)
      .withColumn("lang_pred", pred)
      .drop("__best")
      .orderBy(col("doc_id"))
  }

  val d03Sql: String = {
    val hitExprs = profiles.map { case (langCode, words) =>
      val lst = words.map(w => s"'$w'").mkString(", ")
      s"CAST(len(list_filter(list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> ''), t -> list_contains([$lst], t))) AS BIGINT) AS hits_$langCode"
    }.mkString(",\n       ")
    val best = profiles.map(p => s"hits_${p._1}").reduce((a, b) => s"(CASE WHEN $b > $a THEN $b ELSE $a END)")
    val pred = profiles.foldRight("'unknown'") { case ((langCode, _), acc) =>
      s"CASE WHEN hits_$langCode = __best AND __best > 0 THEN '$langCode' ELSE $acc END"
    }
    s"""WITH hits AS (
       |  SELECT doc_id, lang AS lang_label,
       |       $hitExprs
       |  FROM documents),
       |best AS (SELECT *, $best AS __best FROM hits)
       |SELECT doc_id, lang_label, hits_en, hits_de, hits_fr, hits_es,
       |       $pred AS lang_pred
       |FROM best ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------------
  // d04 — quality scoring: length / punctuation / stopword / token-length
  // signals combined into one score. Components are exact integer counts;
  // the score is the same double expression on both sides.
  // ---------------------------------------------------------------------
  def d04QualityScore(spark: SparkSession, dir: String): DataFrame = {
    val toks = tokens(col("text"))
    val stop = profiles.head._2 // en stopwords
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        length(col("text")).cast(LongType).as("n_chars"),
        size(toks).cast(LongType).as("n_tokens"),
        length(regexp_replace(col("text"), "[a-zA-Z0-9\\s]", ""))
          .cast(LongType).as("n_punct"),
        size(filter(toks, t => t.isInCollection(stop)))
          .cast(LongType).as("n_stop"))
      .withColumn("avg_token_len",
        (col("n_chars") - col("n_tokens") + 1).cast(DoubleType) / col("n_tokens"))
      .withColumn("stop_ratio",
        col("n_stop").cast(DoubleType) / col("n_tokens"))
      .withColumn("punct_ratio",
        col("n_punct").cast(DoubleType) / col("n_chars"))
      .withColumn("quality_score",
        (least(col("n_tokens").cast(DoubleType) / lit(50.0), lit(1.0)) * lit(0.4))
          + (col("stop_ratio") * lit(2.0)) + (lit(1.0) - col("punct_ratio")) * lit(0.3))
      .orderBy(col("doc_id"))
  }

  val d04Sql: String = {
    val stop = profiles.head._2.map(w => s"'$w'").mkString(", ")
    s"""WITH base AS (
       |  SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
       |         CAST(len(list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '')) AS BIGINT) AS n_tokens,
       |         CAST(length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) AS BIGINT) AS n_punct,
       |         CAST(len(list_filter(list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> ''), t -> list_contains([$stop], t))) AS BIGINT) AS n_stop
       |  FROM documents)
       |SELECT *,
       |       CAST(n_chars - n_tokens + 1 AS DOUBLE) / n_tokens AS avg_token_len,
       |       CAST(n_stop AS DOUBLE) / n_tokens AS stop_ratio,
       |       CAST(n_punct AS DOUBLE) / n_chars AS punct_ratio,
       |       (CASE WHEN CAST(n_tokens AS DOUBLE) / 50.0 < 1.0 THEN CAST(n_tokens AS DOUBLE) / 50.0 ELSE 1.0 END) * 0.4
       |         + (CAST(n_stop AS DOUBLE) / n_tokens) * 2.0
       |         + (1.0 - CAST(n_punct AS DOUBLE) / n_chars) * 0.3 AS quality_score
       |FROM base ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------------
  // d05 — document fingerprinting: (a) md5 of the whitespace-normalized
  // text, (b) a position-weighted token hash ("rolling-hash" class):
  // sum over tokens of (md5-derived 30-bit token hash × 1-based position).
  // Bounded: 2^30 × 10^4 positions × 10^4 tokens stays far under 2^63,
  // so the sum is exact in both engines.
  // ---------------------------------------------------------------------
  def d05Fingerprint(spark: SparkSession, dir: String): DataFrame = {
    val norm = trim(regexp_replace(lower(col("text")), "\\s+", " "))
    val toks = split(norm, " ")
    // token hash: first 7 hex chars of md5 → 28-bit int
    val rolling = aggregate(
      zip_with(toks, sequence(lit(1), size(toks)),
        (t, i) => conv(substring(md5(t), 1, 7), 16, 10).cast(LongType) * i),
      lit(0L), (acc, x) => acc + x)
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        md5(norm).as("fp_md5"),
        rolling.as("fp_rolling"))
      .orderBy(col("doc_id"))
  }

  val d05Sql: String =
    """WITH t AS (
      |  SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm
      |  FROM documents),
      |toks AS (
      |  SELECT doc_id, norm, string_split(norm, ' ') AS tk FROM t)
      |SELECT doc_id, md5(norm) AS fp_md5,
      |       CAST(COALESCE((SELECT SUM(CAST(('0x' || substr(md5(tk[i]), 1, 7)) AS BIGINT) * i)
      |         FROM (SELECT unnest(range(1, len(tk) + 1)) AS i)), 0) AS BIGINT) AS fp_rolling
      |FROM toks ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // d10 — deterministic hash-bucket sampling: the reproducible
  // train/eval-split primitive of a training-data pipeline. Each doc maps
  // to a stable bucket 0..99 via an md5 of its id; per-language sampling
  // rates select buckets. Unlike `df.sample`/`sampleBy` (RNG seeded per
  // partition → partitioning-dependent), the selection is a pure function
  // of the row — re-runs, engine changes, and repartitioning cannot move
  // a document between splits. Pure projection + filter: pushdown-friendly
  // and shuffle-free.
  // ---------------------------------------------------------------------
  private val sampleRates = Map("en" -> 40, "de" -> 20) // % kept; others 10

  def hashBucket(c: Column): Column =
    pmod(conv(substring(md5(c.cast("string")), 1, 8), 16, 10).cast(LongType),
      lit(100L))

  /** 60-bit md5-derived shingle key: joins/shuffles carry 8-byte longs
    * instead of shingle text (collision probability ~|shingles|²/2^61 —
    * the accepted contract of every dedup operator). 15 hex chars is
    * load-bearing: the unsigned value always fits a signed long. Shared
    * by d06/d11/d15/d22 so the cross-operator hash contract lives in one
    * place. */
  def shingleHash(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast(LongType)

  def d10DeterministicSample(spark: SparkSession, dir: String): DataFrame = {
    val rate = sampleRates.foldLeft(lit(10): Column) { case (acc, (l, r)) =>
      when(col("lang") === l, r).otherwise(acc)
    }
    Tables.documents(spark, dir)
      .withColumn("bucket", hashBucket(col("doc_id")))
      .withColumn("__rate", rate)
      .filter(col("bucket") < col("__rate"))
      .select(col("doc_id"), col("lang"), col("source"), col("bucket"))
      .orderBy(col("doc_id"))
  }

  val d10Sql: String = {
    val rate = sampleRates.foldLeft("10") { case (acc, (l, r)) =>
      s"CASE WHEN lang = '$l' THEN $r ELSE $acc END"
    }
    s"""SELECT doc_id, lang, source,
       |       CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS bucket
       |FROM documents
       |WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < ($rate)
       |ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------------
  // d24 — mixture REPLICATION (epoch oversampling): data mixing assigns
  // each language a target epoch weight; every doc is emitted floor(w)
  // times plus one extra copy for a deterministic hash-selected fraction
  // of docs (the fractional tail — e.g. w=2.5 → every doc twice, half
  // the docs a third time), each copy tagged with its epoch index. The
  // complement of d10's down-sampling: together they retarget any corpus
  // mixture. Weights are .5-grained so the fractional arithmetic is
  // exact in binary on both engines.
  //
  // Scale: pure row-local projection + generator (explode of a ≤⌈w⌉
  // sequence) — shuffle-free, and the replication factor is bounded by
  // the mixture spec, not the data.
  // ---------------------------------------------------------------------
  private[llm] val mixWeights: Seq[(String, Double)] = Seq(
    "en" -> 2.5, "de" -> 1.0, "fr" -> 0.5, "es" -> 1.5, "zh" -> 1.0)

  def d24MixtureReplicate(spark: SparkSession, dir: String): DataFrame = {
    val w = mixWeights.foldLeft(lit(1.0): Column) { case (acc, (l, r)) =>
      when(col("lang") === l, r).otherwise(acc)
    }
    Tables.documents(spark, dir)
      .withColumn("__w", w)
      .withColumn("bucket", hashBucket(col("doc_id")))
      .withColumn("n_copies",
        (floor(col("__w")).cast(IntegerType)
          + when(col("bucket") < ((col("__w") - floor(col("__w"))) * 100)
              .cast(IntegerType), 1).otherwise(0)).cast(IntegerType))
      .filter(col("n_copies") > 0)
      // n_copies is IntegerType, so the sequence elements are already
      // ints (a cast around explode would be an unsupported nested
      // generator)
      .select(col("doc_id"), col("lang"), col("source"), col("n_copies"),
        explode(sequence(lit(0), col("n_copies") - 1)).as("epoch"))
      .orderBy(col("doc_id"), col("epoch"))
  }

  val d24Sql: String = {
    val wt = mixWeights.foldLeft("1.0") { case (acc, (l, r)) =>
      s"CASE WHEN lang = '$l' THEN $r ELSE $acc END"
    }
    s"""WITH c AS (
       |  SELECT doc_id, lang, source,
       |         CAST(FLOOR(w) AS INTEGER)
       |           + CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100
       |                       < CAST((w - FLOOR(w)) * 100 AS INTEGER)
       |                  THEN 1 ELSE 0 END AS n_copies
       |  FROM (SELECT *, ($wt) AS w FROM documents))
       |SELECT doc_id, lang, source, CAST(n_copies AS INTEGER) AS n_copies,
       |       CAST(e AS INTEGER) AS epoch
       |FROM c, (SELECT unnest(range(0, (SELECT COALESCE(MAX(n_copies), 1) FROM c))) AS e) r
       |WHERE e < n_copies
       |ORDER BY doc_id, epoch""".stripMargin
  }

  // ---------------------------------------------------------------------
  // d14 — PII redaction: the scrubbing stage every training-data pipeline
  // runs before text ships. Emails and URLs are replaced with typed
  // placeholder tokens; per-doc hit counts ride along for audit. Pure
  // regexp projection (whole-stage codegen, shuffle-free, pushdown-safe).
  // The patterns deliberately use only character classes / quantifiers
  // that Java regex (Spark) and RE2 (DuckDB) interpret identically — no
  // lookaround, no backrefs — so the REDACTED TEXT itself hash-matches
  // across engines, not just the counts.
  // ---------------------------------------------------------------------
  private val EmailRe = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
  private val UrlRe = "https?://[^\\s]+"

  /** Redact any (…, text) frame: emails first (an email inside a URL
    * query-string would otherwise leak), then URLs. */
  def redact(text: Column): Column =
    regexp_replace(regexp_replace(text, EmailRe, "<EMAIL>"), UrlRe, "<URL>")

  def d14RedactPii(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        regexp_count(col("text"), lit(EmailRe)).cast(LongType).as("n_emails"),
        regexp_count(col("text"), lit(UrlRe)).cast(LongType).as("n_urls"),
        redact(col("text")).as("text_redacted"))
      .orderBy(col("doc_id"))

  val d14Sql: String =
    s"""SELECT doc_id,
       |       CAST(len(regexp_extract_all(text, '$EmailRe')) AS BIGINT) AS n_emails,
       |       CAST(len(regexp_extract_all(text, '$UrlRe')) AS BIGINT) AS n_urls,
       |       regexp_replace(regexp_replace(text, '$EmailRe', '<EMAIL>', 'g'), '$UrlRe', '<URL>', 'g') AS text_redacted
       |FROM documents ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // The shingle pipeline: one word-n-gram builder, its multiset and
  // distinct row forms, one hashed projection every dedup tier and
  // ingest gate joins on, and the source-blocked self-overlap kernel of
  // d06/d40. SketchOps holds the candidate-restricted verifies.
  // ---------------------------------------------------------------------

  /** Word n-grams, one row per start position, carrying the `keys`
    * columns: posexplode + lead() windows, whole-stage-codegen'd (the
    * interpreted higher-order-lambda array form measured 100× slower at
    * sf0.1). One shuffle, on doc_id; a doc under n tokens yields none. */
  private def ngramWindow(df: DataFrame, n: Int, keys: Seq[String],
      name: String): DataFrame = {
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val carried = keys.map(col)
    val leads = (1 until n).map(i => lead(col("tok"), i).over(w).as(s"t$i"))
    df.select(carried :+ posexplode(tokens(col("text"))).as(Seq("pos", "tok")): _*)
      .select(carried ++ (col("tok") +: leads): _*)
      .filter(col(s"t${n - 1}").isNotNull)
      .select(carried :+ concat_ws(" ", col("tok") +: (1 until n).map(i => col(s"t$i")): _*)
        .as(name): _*)
  }

  /** Multiset word-n-gram rows (doc_id, ng), for d16/d17's counts. */
  def ngramRows(df: DataFrame, n: Int): DataFrame =
    ngramWindow(df, n, Seq("doc_id"), "ng")

  /** The documents table's bigram rows, pinned per (session, dir) for
    * d17 and d16's repetition-signal stage (r19). */
  private[llm] def docBigramStage(spark: SparkSession, dir: String): DataFrame =
    graft.StageCache.cached(spark, dir, "doc_ng2")(
      ngramRows(Tables.documents(spark, dir), 2))

  /** Distinct shingle rows (doc_id, source, sh). Only MinHash and the
    * census mains read the text; the rest join on [[shingleHashes]]. */
  def shingleRows(df: DataFrame, n: Int): DataFrame =
    ngramWindow(df, n, Seq("doc_id", "source"), "sh").distinct()

  /** Hashed distinct shingle rows (doc_id, source, shh) of a (doc_id,
    * source, text) frame: joins shuffle 8-byte keys, not shingle text. */
  def shingleHashes(docs: DataFrame, n: Int): DataFrame =
    shingleRows(docs, n)
      .select(col("doc_id"), col("source"), shingleHash(col("sh")).as("shh"))

  /** (d2, d1, n_inter, sz1, sz2) for every same-source pair d1 < d2 of
    * hashed shingle rows (doc_id, source, shh) sharing a shingle; d06
    * reads Jaccard from it, d40 both containment directions.
    * SOURCE-BLOCKED BY DESIGN (round 11): the unblocked exact join is
    * Σ_shh df², 138M pair rows at sf1 (8× blocked) and 1.25B at sf3 on
    * the replica fixture; cross-source pairs are d44's job. */
  def blockedOverlap(sh: DataFrame): DataFrame = {
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    val a = sh.select(col("doc_id").as("d1"), col("source"), col("shh"))
    val b = sh.select(col("doc_id").as("d2"), col("source").as("source2"),
      col("shh").as("shh2"))
    a.join(b, a("source") === b("source2") && a("shh") === b("shh2")
        && a("d1") < b("d2"))
      .groupBy(col("d1"), col("d2"))
      .agg(count(lit(1)).as("n_inter"))
      .join(sizes.select(col("doc_id").as("d1"), col("sz").as("sz1")), "d1")
      .join(sizes.select(col("doc_id").as("d2"), col("sz").as("sz2")), "d2")
  }

  // ---------------------------------------------------------------------
  // d06 — n-gram Jaccard near-duplicate pairs, blocked by `source` (the
  // quadratic step is confined to a bounded block — at 100 TB the block
  // key comes from LSH (d07), not a metadata column; this operator is the
  // exact-verification stage of that pipeline). Distinct word-3-gram
  // shingle sets; Jaccard = |∩| / (|A|+|B|−|∩|), exact integer division.
  // ---------------------------------------------------------------------
  def d06NgramJaccard(spark: SparkSession, dir: String): DataFrame =
    // the pinned doc_shh stage, shared with d40/d41/d29/d30/d42/d44
    blockedOverlap(SketchOps.docShhStage(spark, dir))
      .select(col("d1"), col("d2"),
        (col("n_inter").cast(DoubleType)
          / (col("sz1") + col("sz2") - col("n_inter"))).as("jaccard"))
      .filter(col("jaccard") >= 0.2)
      .orderBy(col("d1"), col("d2"))

  val d06Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, source,
      |         list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '') AS tk
      |  FROM documents),
      |sh AS (
      |  SELECT DISTINCT doc_id, source, array_to_string(tk[i:i+2], ' ') AS sh
      |  FROM toks, (SELECT unnest(range(1, (SELECT COALESCE(MAX(len(tk)), 1) FROM toks))) AS i) r
      |  WHERE i <= len(tk) - 2),
      |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
      |inter AS (
      |  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS n_inter
      |  FROM sh a JOIN sh b ON a.source = b.source AND a.sh = b.sh AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)
      |SELECT d1, d2,
      |       CAST(n_inter AS DOUBLE) / (s1.sz + s2.sz - n_inter) AS jaccard
      |FROM inter
      |JOIN sizes s1 ON s1.doc_id = d1
      |JOIN sizes s2 ON s2.doc_id = d2
      |WHERE CAST(n_inter AS DOUBLE) / (s1.sz + s2.sz - n_inter) >= 0.2
      |ORDER BY d1, d2""".stripMargin

  // ---------------------------------------------------------------------
  // d40 — shingle CONTAINMENT pairs (Broder's containment, the asymmetric
  // sibling of d06's resemblance): c(A→B) = |sh(A) ∩ sh(B)| / |sh(A)| —
  // "what fraction of A is inside B". The quote/doc-in-doc detector:
  // a short doc fully embedded in a long one has LOW Jaccard (the union
  // is dominated by the long doc) but containment ≈ 1, so d06's
  // threshold never fires on exactly the pairs a curation pipeline most
  // wants to collapse (syndicated articles inside aggregator pages,
  // quoted posts inside threads). Emits both directions per unordered
  // pair; a pair surfaces when EITHER direction clears the threshold.
  // Source-blocked like d06 — the measured exact-tier scale trade-off
  // (see blockedOverlap); cross-source syndication is d44's job.
  //
  // Scale: same frame as d06 — the intersection join moves 8-byte
  // 60-bit md5 shingle keys, blocked by `source` here; at 100 TB the
  // block key must come from candidate generation, and — unlike
  // resemblance — MinHash LSH banding does NOT bound containment (a
  // contained doc's min-hashes are dominated by the superset's extra
  // shingles, so band collisions fade exactly when |B| ≫ |A|). The
  // production candidate stage for containment is prefix filtering on
  // rarest-first shingle orderings or the d40b bottom-k sketch tier
  // below; this operator is the exact-verification stage both feed.
  // ---------------------------------------------------------------------
  private[graft] final val ContainmentThreshold = 0.5

  def d40ShingleContainment(spark: SparkSession, dir: String): DataFrame =
    shingleContainment(Tables.documents(spark, dir),
      sh0 = Some(SketchOps.docShhStage(spark, dir)))

  /** Frame-level core of d40 — see the header above. `docs` needs
    * (doc_id, source, text) columns. `sh0` optionally supplies prebuilt
    * (doc_id, source, shh) rows (the registered query passes the pinned
    * doc_shh stage shared with d06/d29/d41/d44). */
  def shingleContainment(docs: DataFrame,
      sh0: Option[DataFrame] = None): DataFrame =
    blockedOverlap(sh0.getOrElse(graft.StageCache.pin(shingleHashes(docs, 3))))
      .withColumn("c12", col("n_inter").cast(DoubleType) / col("sz1").cast(DoubleType))
      .withColumn("c21", col("n_inter").cast(DoubleType) / col("sz2").cast(DoubleType))
      .filter(greatest(col("c12"), col("c21")) >= ContainmentThreshold)
      .select(col("d1"), col("d2"), col("sz1"), col("sz2"), col("n_inter"),
        col("c12"), col("c21"))
      .orderBy(col("d1"), col("d2"))

  val d40Sql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, source,
       |         list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '') AS tk
       |  FROM documents),
       |sh AS (
       |  SELECT DISTINCT doc_id, source, array_to_string(tk[i:i+2], ' ') AS sh
       |  FROM toks, (SELECT unnest(range(1, (SELECT COALESCE(MAX(len(tk)), 1) FROM toks))) AS i) r
       |  WHERE i <= len(tk) - 2),
       |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
       |inter AS (
       |  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS n_inter
       |  FROM sh a JOIN sh b ON a.source = b.source AND a.sh = b.sh AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT d1, d2, s1.sz AS sz1, s2.sz AS sz2, n_inter,
       |       CAST(n_inter AS DOUBLE) / s1.sz AS c12,
       |       CAST(n_inter AS DOUBLE) / s2.sz AS c21
       |FROM inter
       |JOIN sizes s1 ON s1.doc_id = d1
       |JOIN sizes s2 ON s2.doc_id = d2
       |WHERE GREATEST(CAST(n_inter AS DOUBLE) / s1.sz,
       |               CAST(n_inter AS DOUBLE) / s2.sz) >= $ContainmentThreshold
       |ORDER BY d1, d2""".stripMargin

  // ---------------------------------------------------------------------
  // d41 — containment APPLY: the terminal stage of the containment
  // pipeline (d40b candidates → d40 exact verify → drop), mirroring what
  // d12 is to d11. Policy: drop the CONTAINED doc — its content already
  // lives inside the survivor, so keeping the superset preserves strictly
  // more training signal than resemblance dedup's keep-one-of-equals.
  // Direction decides the victim (c12 ≥ T ⇒ d1 is inside d2 ⇒ drop d1);
  // mutual containment (≈ equal sets) falls back to d12's deterministic
  // keep-lower-id. Same greedy single-anti-join shape as d12, and the
  // same 100 TB form: the drop set is pair-bounded and broadcasts.
  // Invariant note: "every dropped doc has a SURVIVING superset" holds
  // for exact-subset chains (c = 1.0 — A ⊂ B ⊂ C drops A and B, keeps
  // C, which contains both); at partial thresholds a chain A→B→C with
  // c ≈ 0.6 each can drop A and B while C holds only part of A. That is
  // the standard greedy trade-off (iterating to a fixpoint would make
  // the drop decision order-dependent); the threshold bounds the loss.
  // ---------------------------------------------------------------------
  def d41ContainmentApply(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val drop = containmentDropSet(docs,
      sh0 = Some(SketchOps.docShhStage(spark, dir)))
    docs.join(broadcast(drop), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("source"), col("n_chars"))
      .orderBy(col("doc_id"))
  }

  /** The containment drop POLICY as a reusable frame: doc ids to drop
    * under d41's rule (drop the contained doc; mutual containment keeps
    * the lower id). Shared by d41 and the Runner's corpus stage so lake
    * and query surface apply identical curation. Pair-bounded — always
    * broadcastable. */
  def containmentDropSet(docs: DataFrame,
      sh0: Option[DataFrame] = None): DataFrame =
    containmentVictims(shingleContainment(docs, sh0))

  /** d41's drop rule over containment pairs (d1, d2, c12, c21): the
    * distinct doc ids to drop. The one Scala copy, shared by the
    * same-source tier above and d44's cross-source tier
    * (`SketchOps.syndicationDropSet`); the oracle SQL spells it out. */
  private[graft] def containmentVictims(pairs: DataFrame): DataFrame =
    pairs.select(
        when(col("c12") >= ContainmentThreshold
          && col("c21") >= ContainmentThreshold, col("d2")) // mutual: keep lower id
          .when(col("c12") >= ContainmentThreshold, col("d1")) // d1 inside d2
          .otherwise(col("d2")).as("doc_id"))                  // d2 inside d1
      .distinct()

  val d41Sql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, source,
       |         list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '') AS tk
       |  FROM documents),
       |sh AS (
       |  SELECT DISTINCT doc_id, source, array_to_string(tk[i:i+2], ' ') AS sh
       |  FROM toks, (SELECT unnest(range(1, (SELECT COALESCE(MAX(len(tk)), 1) FROM toks))) AS i) r
       |  WHERE i <= len(tk) - 2),
       |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
       |inter AS (
       |  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS n_inter
       |  FROM sh a JOIN sh b ON a.source = b.source AND a.sh = b.sh AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |flagged AS (
       |  SELECT d1, d2,
       |         CAST(n_inter AS DOUBLE) / s1.sz AS c12,
       |         CAST(n_inter AS DOUBLE) / s2.sz AS c21
       |  FROM inter
       |  JOIN sizes s1 ON s1.doc_id = d1
       |  JOIN sizes s2 ON s2.doc_id = d2
       |  WHERE GREATEST(CAST(n_inter AS DOUBLE) / s1.sz,
       |                 CAST(n_inter AS DOUBLE) / s2.sz) >= $ContainmentThreshold),
       |dropped AS (
       |  SELECT CASE WHEN c12 >= $ContainmentThreshold AND c21 >= $ContainmentThreshold THEN d2
       |              WHEN c12 >= $ContainmentThreshold THEN d1
       |              ELSE d2 END AS doc_id
       |  FROM flagged)
       |SELECT doc_id, source, n_chars FROM documents
       |WHERE doc_id NOT IN (SELECT doc_id FROM dropped)
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // d26 — INCREMENTAL dedup: the production shape of exact dedup. A
  // corpus is never deduplicated from scratch — each ingest batch is
  // checked against the fingerprint index of everything already
  // accepted, then against itself (first-wins within the batch). Here
  // the stable 80% of doc-id hash-bucket space plays the existing index
  // and the remaining 20% plays today's batch; output is the batch rows
  // that survive both checks, with their within-batch copy count.
  //
  // Scale: the index side carries ONLY 128-bit fingerprints (16 bytes a
  // doc — a 100 TB corpus's index is ~1.6 TB, a routine shuffle), never
  // text; the anti-join shuffles on the fingerprint, and the batch side
  // is day-sized. This is d01's groupBy dedup turned into an append-only
  // protocol: accepted batches' fingerprints become tomorrow's index.
  // ---------------------------------------------------------------------
  def d26IncrementalDedup(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .withColumn("__bucket", hashBucket(col("doc_id")))
    val indexFps = docs.filter(col("__bucket") < 80)
      .select(md5(col("text")).as("text_fp")).distinct()
    docs.filter(col("__bucket") >= 80)
      .withColumn("text_fp", md5(col("text")))
      .join(indexFps, Seq("text_fp"), "left_anti")
      .groupBy(col("text_fp"))
      .agg(min(col("doc_id")).as("doc_id"),
        count(lit(1)).as("n_batch_copies"))
      .select(col("doc_id"), col("text_fp"), col("n_batch_copies"))
      .orderBy(col("doc_id"))
  }

  val d26Sql: String =
    """WITH b AS (
      |  SELECT doc_id, md5(text) AS text_fp,
      |         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS bucket
      |  FROM documents),
      |idx AS (SELECT DISTINCT text_fp FROM b WHERE bucket < 80)
      |SELECT MIN(doc_id) AS doc_id, text_fp, COUNT(*) AS n_batch_copies
      |FROM b
      |WHERE bucket >= 80
      |  AND NOT EXISTS (SELECT 1 FROM idx WHERE idx.text_fp = b.text_fp)
      |GROUP BY text_fp
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // d27 — deterministic epoch shuffle: training wants each epoch to read
  // the corpus in a different pseudorandom order, reproducibly. Every doc
  // gets an epoch-salted md5 sort key; the key's top bits pick the output
  // shard and the within-shard rank is the doc's position in that shard's
  // file. A pure function of (epoch, doc_id): re-runs, engine changes,
  // and repartitioning cannot change the training order — the same
  // contract as d10's split assignment, extended to a total order.
  //
  // Scale: one shuffle on the shard key, then a PER-SHARD window (never
  // global) — exactly the sortWithinPartitions a shard writer performs.
  // Shard count is the parallelism knob: production uses thousands so a
  // shard sorts executor-memory-sized data; 32 here mirrors local[32].
  // ---------------------------------------------------------------------
  private val ShuffleEpoch = 1
  private val NShards = 32

  def d27EpochShuffle(spark: SparkSession, dir: String): DataFrame = {
    val sk = md5(concat(lit(s"$ShuffleEpoch:"), col("doc_id").cast("string")))
    val shard = pmod(
      conv(substring(col("__sk"), 1, 8), 16, 10).cast(LongType), lit(NShards.toLong))
    val w = Window.partitionBy(col("shard"))
      .orderBy(col("__sk").asc, col("doc_id").asc)
    Tables.documents(spark, dir)
      .select(col("doc_id"), sk.as("__sk"))
      .withColumn("shard", shard)
      .withColumn("pos", row_number().over(w))
      .select(col("doc_id"), lit(ShuffleEpoch).as("epoch"),
        col("shard"), col("pos"))
      .orderBy(col("shard"), col("pos"))
  }

  val d27Sql: String =
    s"""WITH t AS (
       |  SELECT doc_id, md5('$ShuffleEpoch:' || CAST(doc_id AS VARCHAR)) AS sk
       |  FROM documents),
       |s AS (
       |  SELECT doc_id, sk,
       |         CAST(('0x' || substr(sk, 1, 8)) AS BIGINT) % $NShards AS shard
       |  FROM t)
       |SELECT doc_id, CAST($ShuffleEpoch AS INTEGER) AS epoch, shard,
       |       CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY sk ASC, doc_id ASC) AS INTEGER) AS pos
       |FROM s
       |ORDER BY shard, pos""".stripMargin

  // ---------------------------------------------------------------------
  // d35 — span-level (substring) deduplication: remove every k-token span
  // that occurs MORE THAN ONCE anywhere in the corpus (cross-doc or
  // within-doc), keeping the rest of each document intact. This is the
  // sequence-level dedup of Lee et al. 2022 ("Deduplicating Training Data
  // Makes Language Models Better"), with the suffix array replaced by the
  // standard distributed approximation: exact k-token shingles with
  // positions. Doc-level dedup (d01/d06–d11) cannot express this — a
  // boilerplate paragraph shared by a million otherwise-distinct pages
  // survives every doc-level tier, and span dedup is what removes it.
  //
  // Exactness: a token is "duplicated" iff some duplicated shingle covers
  // it — a pure function of the text, no sketches, so the op keeps a full
  // DuckDB oracle (incl. the reconstructed clean_text). Tokenization is
  // split on a single space, mirrored exactly by the oracle's
  // string_split; the fixture (and the dirty gate's planted docs) are
  // single-space joined, so both sides see identical token streams.
  //
  // Scale (the two-phase shape is the whole design):
  //  * Phase 1 finds candidate shingle FINGERPRINTS: groupBy(xxhash64)
  //    with map-side partial counts — the corpus-sized shuffle moves
  //    8-byte hashes, never shingle text (d01's fingerprint discipline).
  //  * Phase 2 re-groups ONLY the candidate-hash survivors by shingle
  //    text, so a 64-bit collision between two once-seen shingles cannot
  //    fabricate a duplicate — exactness is restored on a set bounded by
  //    actually-repeated content, which is the set a dedup pass exists to
  //    shrink. (At web scale this is the Zipf head: tiny relative to the
  //    corpus; AQE broadcasts it into the probe joins below at runtime —
  //    no static hint, so a pathological dup set degrades to a shuffle
  //    join instead of an OOM.)
  //  * Coverage explode is k rows per duplicated-shingle OCCURRENCE (not
  //    per corpus token), and the final per-doc aggregate is the same
  //    one-shuffle group-by-doc every corpus op here pays.
  // ---------------------------------------------------------------------
  private[graft] final val SpanK = 5

  // ---------------------------------------------------------------------
  // d39 — link/domain statistics + domain-blocklist gate: extract every
  // URL host from each document and score it against a domain blocklist
  // — the provenance-policy stage of a web-corpus pipeline (spam/SEO
  // domain lists, licensing blocks) and d14's sibling: d14 scrubs PII
  // out of kept text, d39 decides KEEP/DROP from where the text points.
  // Pure per-row projection — codegen'd regexp + array ops, zero
  // shuffles (d02's class); the blocklist is a query-literal here and a
  // broadcast set at production list sizes (d37's artifact seam).
  // Clean-fixture docs carry no URLs (all-zero rows); the dirty gate's
  // planted URL docs prove the non-zero branch (13th branch).
  // ---------------------------------------------------------------------
  private val DomainRe = "https?://([^/\\s?#]+)"
  private[graft] val BlockedDomains = Seq("example.com", "spam.invalid")

  def d39DomainStats(spark: SparkSession, dir: String): DataFrame = {
    val doms = regexp_extract_all(col("text"), lit(DomainRe), lit(1))
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        size(doms).cast(LongType).as("n_urls"),
        size(array_distinct(doms)).cast(LongType).as("n_domains"),
        size(filter(doms, d => d.isInCollection(BlockedDomains)))
          .cast(LongType).as("n_blocked"))
      .withColumn("flagged",
        when(col("n_blocked") > 0, 1).otherwise(0).cast(IntegerType))
      .orderBy(col("doc_id"))
  }

  val d39Sql: String = {
    val lst = BlockedDomains.map(d => s"'$d'").mkString(", ")
    s"""SELECT doc_id,
       |       CAST(len(regexp_extract_all(text, '$DomainRe', 1)) AS BIGINT) AS n_urls,
       |       CAST(len(list_distinct(regexp_extract_all(text, '$DomainRe', 1))) AS BIGINT) AS n_domains,
       |       CAST(len(list_filter(regexp_extract_all(text, '$DomainRe', 1),
       |                            d -> list_contains([$lst], d))) AS BIGINT) AS n_blocked,
       |       CAST(len(list_filter(regexp_extract_all(text, '$DomainRe', 1),
       |                            d -> list_contains([$lst], d))) > 0 AS INT) AS flagged
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  /** Positional k-shingle rows (doc_id, pos, shingle, fp) over a
    * (doc_id, arr) frame — the probe/index unit of span dedup. */
  private[graft] def spanShingleRows(arr: DataFrame, k: Int): DataFrame =
    arr.where(size(col("arr")) >= k)
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(1, size(arr) - ${k - 1}), " +
          s"i -> array_join(slice(arr, i, $k), ' '))")).as(Seq("i0", "shingle")))
      .select(col("doc_id"), (col("i0") + 1).as("pos"), col("shingle"),
        xxhash64(col("shingle")).as("fp"))

  /** Coverage → clean-text tail shared by d35/d35b: `sh` are the scored
    * docs' shingle rows (any superset containing every dup occurrence),
    * `dup` the confirmed duplicated shingle texts, `arr` the scored docs'
    * token arrays. */
  private def spanTail(arr: DataFrame, sh: DataFrame, dup: DataFrame,
      k: Int): DataFrame = {
    val cov = sh.join(dup, "shingle")
      .select(col("doc_id").as("c_doc"),
        explode(sequence(col("pos"), col("pos") + lit(k - 1))).as("cpos"))
      .distinct()
    val tok = arr
      .select(col("doc_id"), posexplode(col("arr")).as(Seq("i0", "tok")))
      .select(col("doc_id"), (col("i0") + 1).as("pos"), col("tok"))
    tok.join(cov,
        tok("doc_id") === cov("c_doc") && col("pos") === col("cpos"), "left")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_tokens"),
        count(col("cpos")).as("dup_tokens"),
        array_join(
          transform(
            array_sort(collect_list(
              when(col("cpos").isNull, struct(col("pos"), col("tok"))))),
            x => x.getField("tok")),
          " ").as("clean_text"))
      .withColumn("dup_ppm", expr("(dup_tokens * 1000000) div n_tokens"))
      .select(col("doc_id"), col("n_tokens"), col("dup_tokens"),
        col("dup_ppm"), col("clean_text"))
      .orderBy(col("doc_id"))
  }

  /** Core span dedup over any (doc_id, text) frame; k = span length. */
  def spanDedup(docs: DataFrame, k: Int): DataFrame = {
    val arr = docs.select(col("doc_id"), split(col("text"), " ").as("arr"))
    spanDedupFromRows(arr, spanShingleRows(arr, k), k)
  }

  /** [[spanDedup]]'s tail over prebuilt (arr, shingle-row) frames —
    * shared by the generic entry and the staged d35. */
  private def spanDedupFromRows(arr: DataFrame, sh: DataFrame,
      k: Int): DataFrame = {
    val candFp = sh.groupBy(col("fp"))
      .agg(count(lit(1)).as("n")).where(col("n") >= 2).select("fp")
    val dup = sh.join(candFp, "fp")
      .groupBy(col("shingle")).agg(count(lit(1)).as("n"))
      .where(col("n") >= 2).select("shingle")
    spanTail(arr, sh, dup, k)
  }

  /** The documents table's token arrays and positional span-shingle rows,
    * shared per (session, dir) via [[graft.StageCache]] (r19): d35
    * consumed the UNPINNED shingle frame from three subtrees (candidate
    * fps, text confirm, coverage) — three rebuilds of the split +
    * posexplode + xxhash stage inside ONE action — and d35b/d38 then
    * rebuilt the same rows again restricted to their bucket splits.
    * Bucket filters commute with the per-doc explode, so every consumer
    * is a narrow filter over the pinned rows. */
  private def docSpanArrStage(spark: SparkSession, dir: String): DataFrame =
    graft.StageCache.cached(spark, dir, "span_arr")(
      Tables.documents(spark, dir)
        .select(col("doc_id"), split(col("text"), " ").as("arr")))

  private def docSpanShStage(spark: SparkSession, dir: String): DataFrame =
    graft.StageCache.cached(spark, dir, "span_sh")(
      spanShingleRows(docSpanArrStage(spark, dir), SpanK))

  def d35SpanDedup(spark: SparkSession, dir: String): DataFrame =
    spanDedupFromRows(docSpanArrStage(spark, dir),
      docSpanShStage(spark, dir), SpanK)

  // ---------------------------------------------------------------------
  // d35b — INCREMENTAL span dedup: d35's per-ingest-batch form, the
  // composition the d35 scale note promised. The corpus splits into the
  // already-ingested INDEX (hash-buckets < SketchOps.IndexBuckets — in
  // production, a persisted content-free (fp, count) table maintained
  // exactly like d30's LSH band index) and the arriving BATCH; only
  // batch documents are scored, and a batch span is duplicated iff its
  // total occurrence count across index + batch is >= 2. The oracle is
  // d35's GLOBAL rule restricted to batch docs — engine-incremental ==
  // oracle-global is precisely the losslessness contract (d26/d30's).
  //
  // Scale: phase 1 probes batch fingerprint counts against the index fp
  // table — fp-keyed 8-byte shuffles, batch-sized left side, and the
  // index is never re-scanned beyond this vocabulary-of-spans table.
  // Phase 2 confirms by TEXT only for candidate fps on BOTH sides: the
  // index side is fp-semi-joined down before its shingle text is ever
  // re-materialized (in production: a bucket-pruned fetch from the
  // corpus store, d30's move), so a 64-bit collision cannot fabricate a
  // duplicate and the confirm set stays bounded by actually-repeated
  // content. Coverage/clean-text is d35's tail over batch docs only.
  // ---------------------------------------------------------------------
  def d35bSpanDedupIncremental(spark: SparkSession, dir: String): DataFrame = {
    val bucket = hashBucket(col("doc_id"))
    val arrBat = docSpanArrStage(spark, dir)
      .where(bucket >= SketchOps.IndexBuckets)
    val shAll = docSpanShStage(spark, dir) // shared pin (d35/d35b/d38)
    val shIdx = shAll.where(bucket < SketchOps.IndexBuckets)
    // narrow filters over the pinned stage — the old per-query pin of
    // the batch rows is subsumed by the shared one
    val shBat = shAll.where(bucket >= SketchOps.IndexBuckets)
    val idxFp = shIdx.groupBy(col("fp")).agg(count(lit(1)).as("idx_n"))
    // pinned: candidate fps feed the batch text-confirm AND the index
    // text-confirm — without the pin both phase-1 aggregates re-run per
    // consumer. Bounded by actually-repeated spans (the Zipf head).
    val candFp = graft.StageCache.checkpoint(
      shBat.groupBy(col("fp")).agg(count(lit(1)).as("bat_n"))
        .join(idxFp, Seq("fp"), "left")
        .where(col("bat_n") + coalesce(col("idx_n"), lit(0L)) >= 2)
        .select("fp"))
    val candBat = shBat.join(candFp, "fp")
    val batTxt = candBat.groupBy(col("shingle")).agg(count(lit(1)).as("bn"))
    val idxTxt = shIdx.join(candFp, "fp")
      .groupBy(col("shingle")).agg(count(lit(1)).as("in_n"))
    val dup = batTxt.join(idxTxt, Seq("shingle"), "left")
      .where(col("bn") + coalesce(col("in_n"), lit(0L)) >= 2)
      .select("shingle")
    spanTail(arrBat, candBat, dup, SpanK)
  }

  // ---------------------------------------------------------------------
  // d38 — SPAN-level decontamination: remove every k-token span of a
  // training document that appears verbatim anywhere in the held-out
  // eval split, keeping the rest of the document. d15 SCORES docs by
  // eval overlap and drops whole documents past a threshold; this is the
  // surgical tier a pipeline runs below that threshold — a page quoting
  // one benchmark question loses the quote, not the page. Same eval
  // split as d15 (doc-id hash buckets >= EvalBucket), same per-doc
  // output contract as d35 (n_tokens, contaminated count, ppm,
  // reconstructed clean_text).
  //
  // Scale (d35's two-phase + d15's asymmetry): the eval split is ~5% of
  // the corpus, so its distinct span-FINGERPRINT set is small and
  // AQE-broadcasts into the training-side probe — the corpus-sized
  // training shingle stream never shuffles on anything it doesn't
  // already carry. Only fp-collision candidates pay the text confirm,
  // and the eval text set is itself fp-semi-joined down before its
  // shingle text travels. At d15b scale (eval suite too big to
  // broadcast) the fp probe becomes the Bloom prefilter — same seam.
  // ---------------------------------------------------------------------
  def d38SpanDecontaminate(spark: SparkSession, dir: String): DataFrame = {
    val bucket = hashBucket(col("doc_id"))
    val arrTrain = docSpanArrStage(spark, dir)
      .where(bucket < QualityOps.EvalBucket)
    val shAll = docSpanShStage(spark, dir) // shared pin (d35/d35b/d38)
    val shEval = shAll.where(bucket >= QualityOps.EvalBucket)
    val shTrain = shAll.where(bucket < QualityOps.EvalBucket)
    val evalFp = shEval.select(col("fp")).distinct()
    // fp prefilter (superset of true hits), pinned: feeds the coverage
    // probe AND the eval-side text fetch
    val candTrain = graft.StageCache.checkpoint(shTrain.join(evalFp, "fp"))
    val evalTxt = shEval
      .join(candTrain.select(col("fp")).distinct(), Seq("fp"), "left_semi")
      .select(col("shingle")).distinct()
    spanTail(arrTrain, candTrain, evalTxt, SpanK)
  }

  lazy val d38Sql: String =
    s"""WITH bk AS (
       |  SELECT doc_id,
       |         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS bucket
       |  FROM documents),
       |toks AS (
       |  SELECT doc_id, string_split(text, ' ') AS arr FROM documents
       |),
       |sh AS (
       |  SELECT doc_id,
       |         unnest(generate_series(1, len(arr) - ${SpanK - 1})) AS pos, arr
       |  FROM toks WHERE len(arr) >= $SpanK
       |),
       |sh2 AS (
       |  SELECT doc_id, pos,
       |         array_to_string(arr[pos:pos + ${SpanK - 1}], ' ') AS shingle
       |  FROM sh
       |),
       |evalsh AS (
       |  SELECT DISTINCT shingle
       |  FROM sh2 JOIN bk USING (doc_id)
       |  WHERE bk.bucket >= ${QualityOps.EvalBucket}
       |),
       |tok AS (
       |  SELECT t.doc_id, t.arr, unnest(generate_series(1, len(t.arr))) AS pos
       |  FROM toks t JOIN bk USING (doc_id)
       |  WHERE bk.bucket < ${QualityOps.EvalBucket}
       |),
       |cov AS (
       |  SELECT DISTINCT doc_id, pos FROM (
       |    SELECT s0.doc_id,
       |           unnest(generate_series(s0.pos, s0.pos + ${SpanK - 1})) AS pos
       |    FROM sh2 s0
       |    JOIN bk ON bk.doc_id = s0.doc_id AND bk.bucket < ${QualityOps.EvalBucket}
       |    JOIN evalsh e USING (shingle)
       |  )
       |),
       |final AS (
       |  SELECT t.doc_id,
       |         count(*) AS n_tokens,
       |         count(c.pos) AS dup_tokens,
       |         (count(c.pos) * 1000000) // count(*) AS dup_ppm,
       |         coalesce(string_agg(
       |           CASE WHEN c.pos IS NULL THEN t.arr[t.pos] END,
       |           ' ' ORDER BY t.pos), '') AS clean_text
       |  FROM tok t LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.pos = c.pos
       |  GROUP BY t.doc_id
       |)
       |SELECT doc_id, n_tokens, dup_tokens, dup_ppm, clean_text
       |FROM final ORDER BY doc_id""".stripMargin

  val d35Sql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, string_split(text, ' ') AS arr FROM documents
       |),
       |tok AS (
       |  SELECT doc_id, arr, unnest(generate_series(1, len(arr))) AS pos FROM toks
       |),
       |sh AS (
       |  SELECT doc_id,
       |         unnest(generate_series(1, len(arr) - ${SpanK - 1})) AS pos, arr
       |  FROM toks WHERE len(arr) >= $SpanK
       |),
       |sh2 AS (
       |  SELECT doc_id, pos,
       |         array_to_string(arr[pos:pos + ${SpanK - 1}], ' ') AS shingle
       |  FROM sh
       |),
       |dup AS (
       |  SELECT shingle FROM sh2 GROUP BY shingle HAVING count(*) >= 2
       |),
       |cov AS (
       |  SELECT DISTINCT doc_id, pos FROM (
       |    SELECT s0.doc_id,
       |           unnest(generate_series(s0.pos, s0.pos + ${SpanK - 1})) AS pos
       |    FROM sh2 s0 JOIN dup d USING (shingle)
       |  )
       |),
       |final AS (
       |  SELECT t.doc_id,
       |         count(*) AS n_tokens,
       |         count(c.pos) AS dup_tokens,
       |         (count(c.pos) * 1000000) // count(*) AS dup_ppm,
       |         coalesce(string_agg(
       |           CASE WHEN c.pos IS NULL THEN t.arr[t.pos] END,
       |           ' ' ORDER BY t.pos), '') AS clean_text
       |  FROM tok t LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.pos = c.pos
       |  GROUP BY t.doc_id
       |)
       |SELECT doc_id, n_tokens, dup_tokens, dup_ppm, clean_text
       |FROM final ORDER BY doc_id""".stripMargin

  /** d35's GLOBAL duplication rule with coverage and output restricted to
    * batch-bucket docs: equality with the engine's index-probe
    * formulation is the incremental protocol's losslessness proof. */
  lazy val d35bSql: String =
    s"""WITH bk AS (
       |  SELECT doc_id,
       |         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS bucket
       |  FROM documents),
       |toks AS (
       |  SELECT doc_id, string_split(text, ' ') AS arr FROM documents
       |),
       |sh AS (
       |  SELECT doc_id,
       |         unnest(generate_series(1, len(arr) - ${SpanK - 1})) AS pos, arr
       |  FROM toks WHERE len(arr) >= $SpanK
       |),
       |sh2 AS (
       |  SELECT doc_id, pos,
       |         array_to_string(arr[pos:pos + ${SpanK - 1}], ' ') AS shingle
       |  FROM sh
       |),
       |dup AS (
       |  SELECT shingle FROM sh2 GROUP BY shingle HAVING count(*) >= 2
       |),
       |tok AS (
       |  SELECT t.doc_id, t.arr, unnest(generate_series(1, len(t.arr))) AS pos
       |  FROM toks t JOIN bk USING (doc_id)
       |  WHERE bk.bucket >= ${SketchOps.IndexBuckets}
       |),
       |cov AS (
       |  SELECT DISTINCT doc_id, pos FROM (
       |    SELECT s0.doc_id,
       |           unnest(generate_series(s0.pos, s0.pos + ${SpanK - 1})) AS pos
       |    FROM sh2 s0
       |    JOIN bk ON bk.doc_id = s0.doc_id AND bk.bucket >= ${SketchOps.IndexBuckets}
       |    JOIN dup d USING (shingle)
       |  )
       |),
       |final AS (
       |  SELECT t.doc_id,
       |         count(*) AS n_tokens,
       |         count(c.pos) AS dup_tokens,
       |         (count(c.pos) * 1000000) // count(*) AS dup_ppm,
       |         coalesce(string_agg(
       |           CASE WHEN c.pos IS NULL THEN t.arr[t.pos] END,
       |           ' ' ORDER BY t.pos), '') AS clean_text
       |  FROM tok t LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.pos = c.pos
       |  GROUP BY t.doc_id
       |)
       |SELECT doc_id, n_tokens, dup_tokens, dup_ppm, clean_text
       |FROM final ORDER BY doc_id""".stripMargin
}
