package graft

import org.apache.spark.sql.functions._

import graft.llm.{QualityOps, TextOps, VectorOps}

/** Corpus-quality tier (QualityOps d15-d17) + semantic dedup (a05). The
  * DuckDB oracle is the cross-engine contract; these specs pin the
  * SEMANTIC invariants the hash check can't express. */
class QualityOpsSpec extends SparkSpec {
  import spark.implicits._

  private val sf = sfDir

  test("ngramRows: counts multiplicity (unlike shingleRows), n-1 bigrams per doc") {
    val d = Seq((1L, "a b a b a"), (2L, "solo")).toDF("doc_id", "text")
    val rows = TextOps.ngramRows(d, 2).collect()
    val byDoc = rows.groupBy(_.getLong(0)).view.mapValues(_.map(_.getString(1)))
    assert(byDoc(1L).sorted.toSeq == Seq("a b", "a b", "b a", "b a"))
    assert(!byDoc.contains(2L)) // single-token doc yields no bigrams
  }

  test("d15: eval docs are excluded, hits bounded by shingle count, flag matches ratio") {
    val out = QualityOps.d15Decontaminate(spark, sf).cache()
    val evalIds = out.withColumn("b", TextOps.hashBucket(col("doc_id")))
      .filter(col("b") >= 95).count()
    assert(evalIds == 0) // output is the training split only
    assert(out.filter(col("n_hit") > col("n_shingles")).count() == 0)
    assert(out.filter(
      (col("contaminated") === 1) =!= (col("overlap_ratio") >= 0.5)).count() == 0)
    out.unpersist()
  }

  test("d15: a planted eval near-duplicate is contaminated") {
    // doc 17 hashes to bucket >= 95 on sf0.001 (eval); doc 1 does not.
    // Give the train doc the same text as the eval doc → full overlap.
    val evalDoc = graft.Tables.documents(spark, sf)
      .withColumn("b", TextOps.hashBucket(col("doc_id")))
      .filter(col("b") >= 95).select("doc_id").as[Long].head()
    val txt = "w1 w2 w3 w4 w5 w6 w7 w8"
    val d = Seq((evalDoc, "s", txt), (1L, "s", txt),
      (2L, "s", "x1 x2 x3 x4 x5 x6 x7 x8")).toDF("doc_id", "source", "text")
    val sh = TextOps.shingleRows(d, 5)
      .select(col("doc_id"),
        conv(substring(md5(col("sh")), 1, 15), 16, 10).cast("long").as("shh"))
      .withColumn("is_eval", TextOps.hashBucket(col("doc_id")) >= 95)
    val ev = sh.filter(col("is_eval")).select("shh").distinct()
      .withColumn("__hit", lit(1))
    val scored = sh.filter(!col("is_eval")).join(ev, Seq("shh"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_sh"), count(col("__hit")).as("n_hit"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(scored(1L)._1 == scored(1L)._2 && scored(1L)._2 > 0) // full overlap
    assert(scored(2L)._2 == 0)                                  // clean doc
  }

  test("d16: fractions in (0,1], flag consistent with thresholds") {
    val out = QualityOps.d16RepetitionQuality(spark, sf).cache()
    assert(out.filter(col("ttr") <= 0 || col("ttr") > 1).count() == 0)
    assert(out.filter(col("top_unigram_frac") <= 0
      || col("top_unigram_frac") > 1).count() == 0)
    assert(out.filter(col("n_distinct") > col("n_tokens")).count() == 0)
    val bad = out.filter((col("flagged") === 1) =!=
      (col("top_unigram_frac") > 0.15 || col("top_bigram_frac") > 0.08
        || col("ttr") < 0.4))
    assert(bad.count() == 0)
    out.unpersist()
  }

  test("d17: top-k is sorted desc, doc frequency bounded by occurrences") {
    val rows = QualityOps.d17NgramVocab(spark, sf).collect()
    assert(rows.length <= 50 && rows.nonEmpty)
    val occ = rows.map(_.getLong(1))
    assert(occ.zip(occ.tail).forall { case (a, b) => a >= b })
    assert(rows.forall(r => r.getLong(2) <= r.getLong(1) && r.getLong(2) >= 1))
  }

  test("d20: chunking covers every token, short docs get one whole-doc chunk") {
    val out = graft.llm.QualityOps.d20Chunk(spark, sf).cache()
    val docs = graft.Tables.documents(spark, sf)
      .select(col("doc_id"),
        size(TextOps.tokens(col("text"))).cast("long").as("n"))
      .filter(col("n") > 0)
    // chunk 0 always exists; every chunk has 1..32 tokens; the per-doc
    // max chunk_no matches the closed form
    assert(out.filter(col("chunk_tokens") < 1 || col("chunk_tokens") > 32)
      .count() == 0)
    val perDoc = out.groupBy("doc_id")
      .agg(max("chunk_no").as("mx"), count(lit(1)).as("nc"))
      .join(docs, "doc_id")
    assert(perDoc.filter(col("nc") =!= col("mx") + 1).count() == 0)
    assert(perDoc.filter(
      col("mx") =!= expr("(GREATEST(n - 32, 0) + 15) DIV 16")).count() == 0)
    // a short doc yields exactly one chunk = the full token sequence
    val short = perDoc.filter(col("n") <= 32)
    assert(short.filter(col("nc") =!= 1).count() == 0)
    out.unpersist()
  }

  test("d18: full pipeline — consistent split, unique ids, gates actually applied") {
    val out = graft.llm.CorpusPrep.d18CorpusPrepFull(spark, sf).cache()
    val n = out.count()
    assert(n > 0 && out.select("doc_id").distinct().count() == n)
    // split is a pure function of the bucket
    assert(out.filter(
      (col("split") === "train") =!= (col("bucket") < 80)).count() == 0)
    assert(out.filter(col("bucket") < 0 || col("bucket") > 99).count() == 0)
    // the repetition gate is live: no surviving doc is flagged
    val flaggedSurvivors = out.join(
      graft.llm.QualityOps.repetitionSignals(graft.Tables.documents(spark, sf),
          TextOps.ngramRows(graft.Tables.documents(spark, sf), 2))
        .filter(col("flagged") === 1)
        .select("doc_id"), Seq("doc_id"), "left_semi")
    assert(flaggedSurvivors.count() == 0)
    out.unpersist()
  }

  test("a06: quantized codes in [0,255], dequantization error within one step") {
    val out = VectorOps.quantizedVectors(spark, sf).cache()
    val exploded = out.select(col("vec_id"), col("q_min"), col("q_max"),
      posexplode(col("qvec")).as(Seq("pos", "q")))
    assert(exploded.filter(col("q") < 0 || col("q") > 255).count() == 0)
    // reconstruct and compare to the original: |v − dequant(q)| ≤ step
    val orig = graft.Tables.embeddings(spark, sf)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .withColumn("v", col("v").cast("double"))
    val step = (col("q_max") - col("q_min")) / 256
    val err = exploded.join(orig, Seq("vec_id", "pos"))
      .withColumn("deq", col("q_min") + (col("q") + 0.5) * step)
      .filter(abs(col("v") - col("deq")) > step)
    assert(err.count() == 0)
    out.unpersist()
  }

  test("a05: keep-first semantics — dup_of is an earlier kept-or-dropped vec, flags consistent") {
    val out = VectorOps.a05SemanticDedup(spark, sf).cache()
    assert(out.count() ==
      graft.Tables.embeddings(spark, sf).count()) // full corpus, one row each
    assert(out.filter(col("dup_of") >= col("vec_id")).count() == 0)
    assert(out.filter(
      (col("is_kept") === 1) =!= col("dup_of").isNull).count() == 0)
    // the earliest vector of every cluster can have no earlier in-cluster
    // near-dup → always kept
    val minPerCluster = out.groupBy("centroid_id").agg(min("vec_id").as("mn"))
    val firsts = out.join(minPerCluster,
      out("vec_id") === minPerCluster("mn"))
    assert(firsts.filter(col("is_kept") === 0).count() == 0)
    out.unpersist()
  }

  test("d15b == d15 exactly, and the bloom prefilter actually rejects") {
    val exact = QualityOps.d15Decontaminate(spark, sfDir)
    val bloom = QualityOps.d15bDecontaminateBloom(spark, sfDir)
    assert(bloom.columns.toSeq == exact.columns.toSeq)
    assert(bloom.except(exact).isEmpty && exact.except(bloom).isEmpty)
    // the membership predicate itself: no false negatives, real rejection
    val sh = graft.llm.TextOps
      .shingleRows(Tables.documents(spark, sfDir), 5)
      .select(graft.llm.TextOps.shingleHash(col("sh")).as("shh"))
    val members = sh.limit(200).cache()
    val bf = members.stat.bloomFilter("shh", 200, 0.01)
    val bytes = {
      val bos = new java.io.ByteArrayOutputStream(); bf.writeTo(bos); bos.toByteArray
    }
    import org.apache.spark.sql.graft.BloomFilterOps.mightContain
    assert(members.filter(!mightContain(bytes, col("shh"))).count() == 0)
    val foreign = sh.select((col("shh") + lit(982451653L)).as("shh")).limit(2000)
    val pass = foreign.filter(mightContain(bytes, col("shh"))).count()
    assert(pass < 200, s"bloom rejected almost nothing ($pass/2000 passed)")
    members.unpersist()
  }

  test("d28: a doc of rare-only tokens is flagged, common-only is not, ratios consistent") {
    val out = QualityOps.d28TokenRarity(spark, sf).cache()
    // every doc accounted for, ratios in range, flag == threshold test
    assert(out.count() == graft.Tables.documents(spark, sf).count())
    assert(out.filter(col("rare_ratio") < 0 || col("rare_ratio") > 1).count() == 0)
    assert(out.filter(col("n_rare") > col("n_tokens")).count() == 0)
    assert(out.filter(
      (col("flagged") === 1) =!= (col("rare_ratio") >= 0.02)).count() == 0)
    // mean_tok_freq is per-doc: docs weighted toward rarer tokens score lower
    assert(out.agg(min(col("mean_tok_freq"))).head().getDouble(0) <
      out.agg(max(col("mean_tok_freq"))).head().getDouble(0))
    out.unpersist()
  }

  test("d28b: top-k tier degenerates to d28 when k covers the vocab; rarity only grows under truncation") {
    // k >= |vocab|: freqK is the full table, thresholds identical -> d28b == d28
    val full = QualityOps.d28bTokenRarityTopK(spark, sf, k = 1000000).collect().toSeq
    val exact = QualityOps.d28TokenRarity(spark, sf).collect().toSeq
    assert(full == exact)
    // default k truncates: per-doc token counts unchanged, but absent =>
    // rare and the top-k average can only sit higher, so rarity grows
    val topk = QualityOps.d28bTokenRarityTopK(spark, sf).cache()
    val d28 = QualityOps.d28TokenRarity(spark, sf)
    assert(topk.count() == d28.count())
    val joined = topk.select(col("doc_id"), col("n_tokens").as("nt_b"),
        col("n_rare").as("nr_b"))
      .join(d28.select(col("doc_id"), col("n_tokens"), col("n_rare")), Seq("doc_id"))
    assert(joined.filter(col("nt_b") =!= col("n_tokens")).count() == 0)
    assert(joined.filter(col("nr_b") < col("n_rare")).count() == 0)
    // the absent => rare branch actually fires on this corpus
    assert(topk.agg(sum(col("n_rare"))).head().getLong(0) >
      d28.agg(sum(col("n_rare"))).head().getLong(0))
    topk.unpersist()
  }

  test("d29: upper triangle only, n_common bounded by set sizes, jaccard consistent") {
    val out = QualityOps.d29SourceOverlap(spark, sf).cache()
    assert(out.filter(col("source_a") >= col("source_b")).count() == 0)
    assert(out.filter(col("n_common") > least(col("n_a"), col("n_b"))).count() == 0)
    // jaccard recomputes from the integer columns exactly
    assert(out.filter(col("jaccard") =!=
      col("n_common").cast("double") /
        (col("n_a") + col("n_b") - col("n_common")).cast("double")).count() == 0)
    // a source's self-overlap is excluded; pair count bounded by C(n,2)
    val nSrc = graft.Tables.documents(spark, sf).select(col("source"))
      .distinct().count()
    assert(out.count() <= nSrc * (nSrc - 1) / 2)
    out.unpersist()
  }

  test("d29 maxDocFreq: default is exact; finite bound drops ubiquitous shingles") {
    import spark.implicits._
    // boilerplate "all rights reserved here" in every source; one
    // discriminating shingle shared by A and B only
    val docs = Seq(
      (1L, "alpha beta gamma delta", "A"),
      (2L, "alpha beta gamma epsilon", "B"),
      (3L, "zeta eta theta iota", "C"),
      (4L, "all rights reserved here", "A"),
      (5L, "all rights reserved here", "B"),
      (6L, "all rights reserved here", "C"))
      .toDF("doc_id", "text", "source")
    def pairs(maxDf: Int) = QualityOps.sourceOverlap(docs, maxDf)
      .collect().map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    val exact = pairs(Int.MaxValue)
    // every pair overlaps via the boilerplate shingles (df = 3 sources)
    assert(exact.keySet == Set(("A", "B"), ("A", "C"), ("B", "C")))
    // A-B additionally share "alpha beta gamma" (df = 2)
    assert(exact(("A", "B"))._3 == exact(("A", "C"))._3 + 1)
    // df <= 2 drops the 3-source boilerplate: only the A-B pair survives,
    // with exactly the one discriminating shingle, and set sizes shrink
    // to the discriminating universe
    val bounded = pairs(2)
    assert(bounded.keySet == Set(("A", "B")))
    assert(bounded(("A", "B"))._3 == 1)
    assert(bounded(("A", "B"))._1 < exact(("A", "B"))._1)
    // default-parameter path == explicit Int.MaxValue (exact tier unchanged)
    assert(QualityOps.sourceOverlap(docs).collect().toSeq ==
      QualityOps.sourceOverlap(docs, Int.MaxValue).collect().toSeq)
  }

  test("d29b: the registered stop-shingle tier actually drops shingles on the driver corpus") {
    val exact = QualityOps.d29SourceOverlap(spark, sf)
      .agg(sum(col("n_common")), sum(col("n_a"))).head()
    val bounded = QualityOps.d29bSourceOverlapBounded(spark, sf)
      .agg(sum(col("n_common")), sum(col("n_a"))).head()
    // set sizes shrink (the cutoff removed shingles) and overlap never grows
    assert(bounded.getLong(1) < exact.getLong(1))
    assert(bounded.getLong(0) <= exact.getLong(0))
  }

  test("d36: hand-computed tf-idf keywords, ranking, and tie-break on a planted corpus") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("d36").toString
    Seq((1L, "apple banana apple"), (2L, "banana cherry"),
        (3L, "cherry cherry cherry dog"))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val r = QualityOps.d36TfidfKeywords(spark, dir)
      .select("doc_id", "rank", "tok", "tf", "df", "n_tokens", "tfidf_q")
      .as[(Long, Int, String, Long, Long, Long, Long)].collect()
      .sortBy(x => (x._1, x._2)).toSeq
    // N=3; df: apple 1, banana 2, cherry 2, dog 1
    def q(tf: Long, n: Long, df: Long): Long =
      math.floor(tf.toDouble / n * (math.log(4.0 / (df + 1.0)) + 1.0) * 1e9 + 0.5).toLong
    assert(r.map(x => (x._1, x._2, x._3)) === Seq(
      (1L, 1, "apple"), (1L, 2, "banana"),
      (2L, 1, "banana"), (2L, 2, "cherry"), // exact tf-idf tie → tok asc
      (3L, 1, "cherry"), (3L, 2, "dog")))
    assert(r.find(x => x._1 == 1L && x._3 == "apple").get._7 === q(2, 3, 1))
    assert(r.find(x => x._1 == 2L && x._3 == "banana").get._7 === q(1, 2, 2))
    assert(r.find(x => x._1 == 2L && x._3 == "cherry").get._7 === q(1, 2, 2))
  }

  test("d36: fixture ranks are contiguous from 1 and capped at K per doc") {
    val r = QualityOps.d36TfidfKeywords(spark, sf).cache()
    assert(r.count() > 0)
    assert(r.filter(col("rank") < 1 || col("rank") > 5).count() === 0)
    // per doc: ranks are exactly 1..n_keywords (no gaps, no dups)
    val bad = r.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n"), max(col("rank")).as("mx"),
        countDistinct(col("rank")).as("nd"))
      .filter(col("mx") =!= col("n") || col("nd") =!= col("n"))
    assert(bad.count() === 0)
    r.unpersist()
  }
}
