package graft

import org.apache.spark.sql.functions._

import graft.llm.{SketchOps, TextOps, VectorOps}

class TextOpsSpec extends SparkSpec {
  import spark.implicits._

  test("tokens drops empties from repeated/leading/trailing whitespace") {
    val out = Seq("  a  b\t c ", "", "solo").toDF("text")
      .select(TextOps.tokens(col("text")).as("t")).collect()
    assert(out(0).getSeq[String](0) == Seq("a", "b", "c"))
    assert(out(1).getSeq[String](0) == Seq())
    assert(out(2).getSeq[String](0) == Seq("solo"))
  }

  test("shingles of short docs are empty, not descending-sequence garbage") {
    val d = Seq((1L, "s", "one two"), (2L, "s", "one two three four"))
      .toDF("doc_id", "source", "text")
    val out = TextOps.shingleRows(d, 3).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getString(2)).toSeq.sorted)
    assert(!out.contains(1L)) // a 2-token doc has no 3-gram
    assert(out(2L) == Seq("one two three", "two three four"))
  }

  test("minhash similarity ≈ 1 for identical docs, lower for disjoint") {
    val d = Seq(
      (1L, "s", "alpha beta gamma delta epsilon zeta"),
      (2L, "s", "alpha beta gamma delta epsilon zeta"),
      (3L, "s", "one two three four five six seven"))
      .toDF("doc_id", "source", "text")
    val sig = SketchOps.minhashSignatures(d).collect()
    val byId = sig.map(r => r.getLong(0) -> (2 until r.length).map(r.getLong)).toMap
    assert(byId(1L) == byId(2L)) // identical docs → identical signatures
    assert(byId(1L) != byId(3L))
  }

  test("simhash: identical docs collide, disjoint docs differ") {
    val d = Seq(
      (1L, "s", "alpha beta gamma delta"),
      (2L, "s", "alpha beta gamma delta"),
      (3L, "s", "unrelated words entirely different"))
      .toDF("doc_id", "source", "text")
    val sk = SketchOps.simhashes(d).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(sk(1L) == sk(2L))
    assert(java.lang.Long.bitCount(sk(1L) ^ sk(3L)) > 0)
  }

  test("cosine: self = 1, orthogonal = 0") {
    val d = Seq(
      (1L, Array(1.0f, 0.0f)),
      (2L, Array(0.0f, 2.0f)))
      .toDF("vec_id", "embedding")
    val self = d.select(VectorOps.cosine(col("embedding"), col("embedding")))
      .collect().map(_.getDouble(0))
    assert(self.forall(v => math.abs(v - 1.0) < 1e-12))
    val cross = d.as("a").crossJoin(d.as("b"))
      .filter(col("a.vec_id") < col("b.vec_id"))
      .select(VectorOps.cosine(col("a.embedding"), col("b.embedding")))
      .collect()(0).getDouble(0)
    assert(math.abs(cross) < 1e-12)
  }

  test("RFM segment chain is total: every (r,f) combo gets a segment") {
    // exhaustive over the score domain 1..4 × 1..4, mirrors reference rules
    val combos = for { r <- 1 to 4; f <- 1 to 4 } yield (r, f)
    val d = combos.toDF("r_score", "f_score")
    val seg = d.withColumn("segment",
      when(col("r_score") >= 4 && col("f_score") >= 4, "Champions")
        .when(col("r_score") >= 3 && col("f_score") >= 3, "Loyal Customers")
        .when(col("r_score") >= 3 && col("f_score") < 3, "Potential Loyalists")
        .when(col("r_score") < 3 && col("f_score") >= 4, "Cannot Lose")
        .when(col("r_score") >= 2 && col("f_score") >= 2, "At Risk")
        .when(col("r_score") < 2 && col("f_score") < 2, "Hibernating")
        .otherwise("Needs Attention"))
    assert(seg.filter(col("segment").isNull).count() == 0)
    assert(seg.select("segment").distinct().count() == 7)
  }

  test("PII redaction replaces emails and URLs, leaves clean text alone (d14)") {
    import graft.llm.TextOps
    val d = Seq(
      "contact bob.smith+spam@example.co.uk for details",
      "see https://example.com/a?user=x@y.org and http://plain.io",
      "no pii here at all").toDF("text")
    val got = d.select(TextOps.redact(col("text"))).collect().map(_.getString(0))
    assert(got(0) == "contact <EMAIL> for details")
    // email-before-URL ordering: the address inside the query string is
    // caught by the email pass; the rest of the URL by the URL pass
    assert(!got(1).contains("x@y.org") && got(1).contains("<URL>"))
    assert(got(2) == "no pii here at all")
  }

  test("d26: no survivor's fingerprint exists in the corpus index side") {
    val docs = Tables.documents(spark, sfDir)
      .withColumn("b", TextOps.hashBucket(col("doc_id")))
    val indexFps = docs.filter(col("b") < 80)
      .select(md5(col("text")).as("text_fp")).distinct()
    val survivors = TextOps.d26IncrementalDedup(spark, sfDir)
    assert(survivors.count() > 0)
    assert(survivors.join(indexFps, Seq("text_fp"), "inner").count() == 0)
    // survivors come only from the batch side of the bucket split
    val batchIds = docs.filter(col("b") >= 80).select(col("doc_id"))
    assert(survivors.select("doc_id").except(batchIds).isEmpty)
  }

  test("d26 planted fixture: index dups rejected, batch dups collapse, uniques survive") {
    // the synthetic corpus has NO duplicate texts, so only a planted
    // fixture exercises d26's rejection branches
    val buckets = spark.range(1, 300)
      .select(col("id"), TextOps.hashBucket(col("id")).as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val indexId = buckets.collectFirst { case (id, b) if b < 80 => id }.get
    val batchIds = buckets.collect { case (id, b) if b >= 80 => id }.toSeq.sorted.take(4)
    val Seq(b1, b2, b3, b4) = batchIds
    val rows = Seq(
      (indexId, "shared with the index", "en", "s"),
      (b1, "shared with the index", "en", "s"),  // rejected: fp in index
      (b2, "batch-internal duplicate", "en", "s"), // survives as the min id
      (b3, "batch-internal duplicate", "en", "s"), // collapsed into b2
      (b4, "unique new content", "en", "s"))       // survives
    val dir = java.nio.file.Files.createTempDirectory("graft_d26").toString
    rows.toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.parquet(s"$dir/documents.parquet")
    val got = TextOps.d26IncrementalDedup(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got == Map(b2 -> 2L, b4 -> 1L))
  }

  test("d30 planted fixture: index near-dup rejected via band probe, fresh content kept") {
    val buckets = spark.range(1, 300)
      .select(col("id"), TextOps.hashBucket(col("id")).as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val idxIds = buckets.collect { case (id, b) if b < 80 => id }.toSeq.sorted.take(2)
    val batchIds = buckets.collect { case (id, b) if b >= 80 => id }.toSeq.sorted.take(3)
    val Seq(i1, i2) = idxIds
    val Seq(b1, b2, b3) = batchIds
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val rows = Seq(
      (i1, base, "en", "s"),
      (i2, "completely different indexed material here", "en", "s"),
      // NEAR dup of i1 (last word differs → 7 of 9 union shingles shared,
      // jaccard ≈ 0.78): exact-fp dedup (d26) would MISS this pair
      (b1, base.replace("kappa", "lambda"), "en", "s"),
      (b2, "fresh unrelated batch content nothing shared", "en", "s"),
      (b3, "tiny doc", "en", "s")) // <3 tokens: no shingles, no signature
    val dir = java.nio.file.Files.createTempDirectory("graft_d30").toString
    rows.toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.parquet(s"$dir/documents.parquet")
    val got = SketchOps.d30IncrementalNearDup(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    // output covers exactly the batch docs
    assert(got.keySet == batchIds.toSet)
    val (c1, n1, k1) = got(b1)
    assert(c1 >= 1L && n1 == 1L && !k1) // probed i1's bands, verified, rejected
    assert(got(b2) == ((0L, 0L, true)))
    assert(got(b3) == ((0L, 0L, true)))
  }

  test("d27: per-shard positions are contiguous 1..n and re-runs agree") {
    val out = TextOps.d27EpochShuffle(spark, sfDir)
    val perShard = out.groupBy("shard").agg(
      count(lit(1)).as("n"), min(col("pos")).as("lo"),
      max(col("pos")).as("hi"), countDistinct(col("pos")).as("nd")).collect()
    assert(perShard.nonEmpty)
    perShard.foreach { r =>
      assert(r.getAs[Int]("lo") == 1)
      assert(r.getAs[Int]("hi").toLong == r.getAs[Long]("n"))
      assert(r.getAs[Long]("nd") == r.getAs[Long]("n"))
    }
    // pure function of (epoch, doc_id): a second evaluation is identical
    assert(out.except(TextOps.d27EpochShuffle(spark, sfDir)).isEmpty)
  }

  test("d35 span dedup: cross-doc span, within-doc repeat, short doc") {
    val d = Seq(
      (1L, "a b c d e f g h"),             // shares "a b c d e" with doc 2
      (2L, "x y a b c d e z"),
      (3L, "p q r"),                       // shorter than k: no shingles
      (4L, "m n o p q m n o p q r s"))     // within-doc repeated span
      .toDF("doc_id", "text")
    val out = TextOps.spanDedup(d, 5).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    assert(out(1L) == ((8L, 5L, 625000L, "f g h")))
    assert(out(2L) == ((8L, 5L, 625000L, "x y z")))
    assert(out(3L) == ((3L, 0L, 0L, "p q r")))
    assert(out(4L) == ((12L, 10L, 833333L, "r s")))
  }

  test("d35 on the fixture: every doc accounted, dup signal present") {
    val docs = graft.Tables.documents(spark, sfDir)
    val out = TextOps.d35SpanDedup(spark, sfDir).cache()
    assert(out.count() == docs.count())
    // the fixture's planted near-dup pairs share >= one 5-token span
    assert(out.where(col("dup_tokens") > 0).count() > 0)
    // n_tokens agrees with an independent tokenization of the source text
    val bad = out.join(docs.select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n2")), "doc_id")
      .where(col("n_tokens") =!= col("n2")).count()
    assert(bad == 0)
    // clean_text of an untouched doc round-trips the original text
    val any = out.where(col("dup_tokens") === 0).limit(1).collect()(0)
    val orig = docs.where(col("doc_id") === any.getLong(0))
      .collect()(0).getAs[String]("text")
    assert(any.getString(4) == orig)
    out.unpersist()
  }

  test("d35b incremental == d35 global restricted to batch docs (losslessness)") {
    import graft.llm.TextOps
    val incr = TextOps.d35bSpanDedupIncremental(spark, sfDir)
    val batchIds = graft.Tables.documents(spark, sfDir)
      .where(TextOps.hashBucket(col("doc_id")) >= graft.llm.SketchOps.IndexBuckets)
      .select("doc_id")
    val global = TextOps.d35SpanDedup(spark, sfDir)
      .join(batchIds, "doc_id")
    // every batch doc scored, none extra
    assert(incr.count() == batchIds.count())
    // byte-identical rows: the index probe loses nothing vs the global rule
    assert(incr.exceptAll(global).count() == 0)
    assert(global.exceptAll(incr).count() == 0)
    // index-only spans must mark batch twins: at least one batch doc has
    // dup coverage that d35-restricted sees only via a cross-bucket pair
    assert(incr.where(col("dup_tokens") > 0).count() > 0)
  }

  test("d38 span decontamination: eval spans excised from train docs, rest intact") {
    import graft.llm.{QualityOps, TextOps}
    // place docs on the right side of the d15 eval split by probing the
    // same md5 bucket contract the engine uses (independent JVM path)
    def bucket(id: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 8), 16) % 100
    }
    val evalId = (1L to 500L).find(bucket(_) >= QualityOps.EvalBucket).get
    val trainIds = (1L to 500L).filter(bucket(_) < QualityOps.EvalBucket).take(2)
    val d = Seq(
      (evalId, "a b c d e f"),                 // eval: spans "a b c d e", "b c d e f"
      (trainIds(0), "x a b c d e y"),          // contains an eval span at pos 2
      (trainIds(1), "p q r s t u v"))          // clean
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val dir = java.nio.file.Files.createTempDirectory("d38").toString
    d.select("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = TextOps.d38SpanDecontaminate(spark, dir).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    assert(!out.contains(evalId), "eval docs are not scored")
    assert(out(trainIds(0)) == ((7L, 5L, 714285L, "x y")))
    assert(out(trainIds(1)) == ((7L, 0L, 0L, "p q r s t u v")))
  }

  test("d39 domain stats: extraction, distinct domains, blocklist flag") {
    import graft.llm.TextOps
    val d = Seq(
      (1L, "see https://example.com/a?q=1 and http://ok.org/page plus " +
        "https://example.com/b for details"),
      (2L, "no links at all in this one"),
      (3L, "only https://spam.invalid here"))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val dir = java.nio.file.Files.createTempDirectory("d39").toString
    d.select("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = TextOps.d39DomainStats(spark, dir).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getInt(4)))).toMap
    assert(out(1L) == ((3L, 2L, 2L, 1)))  // example.com twice (distinct once) + ok.org
    assert(out(2L) == ((0L, 0L, 0L, 0)))
    assert(out(3L) == ((1L, 1L, 1L, 1)))
  }

  // A short doc fully embedded in a much longer one: the pair d06's
  // resemblance threshold can never surface (the union is dominated by
  // the long doc) but containment flags at exactly 1.0 — the semantics
  // d40 exists for.
  private val containedDocs = {
    val a = (1 to 6).map(i => s"a$i").mkString(" ")              // 4 shingles
    val b = a + " " + (1 to 20).map(i => s"b$i").mkString(" ")   // 24 shingles
    val c = (1 to 8).map(i => s"c$i").mkString(" ")              // unrelated
    Seq((1L, "s", a), (2L, "s", b), (3L, "s", c))
  }

  test("d40: doc-in-doc pair has containment 1.0 where jaccard is sub-threshold") {
    val d = containedDocs.toDF("doc_id", "source", "text")
    val out = TextOps.shingleContainment(d).collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 2L)),
      "exactly the planted contained pair surfaces")
    val r = out.head
    val (sz1, sz2, nInter) = (r.getLong(2), r.getLong(3), r.getLong(4))
    assert((sz1, sz2, nInter) == ((4L, 24L, 4L)))
    assert(r.getDouble(5) == 1.0)           // c12: A fully inside B
    assert(math.abs(r.getDouble(6) - 4.0 / 24.0) < 1e-12) // c21
    // the same pair is invisible to d06's resemblance threshold (0.2)
    val jaccard = nInter.toDouble / (sz1 + sz2 - nInter)
    assert(jaccard < 0.2, s"planted pair must be sub-Jaccard-threshold, got $jaccard")
  }

  test("d40b: bottom-k sketch tier estimates the containment direction correctly") {
    val d = containedDocs.toDF("doc_id", "source", "text")
    val out = SketchOps.containmentKmv(d).collect()
    val pairs = out.map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(pairs == Seq((1L, 2L)), s"only the planted pair estimates above threshold, got $pairs")
    val r = out.head
    assert(r.getDouble(4) < 0.4, "resemblance estimate stays low for the asymmetric pair")
    assert(r.getDouble(5) >= 0.4, "containment of the short doc in the long one flags")
    assert(r.getDouble(5) > r.getDouble(6), "direction: c(A in B) > c(B in A)")
  }

  test("d41 apply: the CONTAINED doc drops, the superset survives") {
    val d = containedDocs.toDF("doc_id", "source", "text")
      .withColumn("n_chars", length(col("text")).cast("long"))
    val dir = java.nio.file.Files.createTempDirectory("d41").toString
    d.select("doc_id", "text", "source")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .select("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = TextOps.d41ContainmentApply(spark, dir).collect().map(_.getLong(0))
    // doc 1 (contained in 2) drops; 2 (the superset) and 3 survive —
    // resemblance dedup (d12's keep-lower) would have kept the SHORTER
    // doc had its threshold even fired; containment apply keeps content
    assert(out.toSeq == Seq(2L, 3L))
  }

  test("d44: CROSS-source syndication surfaces via the sketch-candidate tier") {
    // the syndication case: an article from source "wire" republished
    // inside a longer aggregator page under source "aggregator". The
    // exact tier is source-blocked BY DESIGN (measured Σ df² trade-off),
    // so it must NOT surface the pair — d44's three-stage protocol
    // (cross-source sketch candidates → estimate gate → exact verify)
    // is the path that does, and Runner unions both drop sets.
    val article = (1 to 6).map(i => s"a$i").mkString(" ")
    val page = article + " " + (1 to 20).map(i => s"b$i").mkString(" ")
    val d = Seq((1L, "wire", article), (2L, "aggregator", page))
      .toDF("doc_id", "source", "text")
    assert(TextOps.shingleContainment(d).collect().isEmpty,
      "exact tier is source-blocked: cross-source pair must not surface here")
    val out = SketchOps.crossSourceContainment(d).collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 2L)))
    val r = out.head
    assert((r.getString(2), r.getString(3)) == (("wire", "aggregator")))
    assert((r.getLong(4), r.getLong(5), r.getLong(6)) == ((4L, 24L, 4L)))
    assert(r.getDouble(7) == 1.0, "exact c12: article fully inside the page")
    // the syndication drop set names the contained article
    val drops = SketchOps.syndicationDropSet(d).collect().map(_.getLong(0))
    assert(drops.toSeq == Seq(1L))
  }

  test("d42: batch doc contained in an index doc flags, fresh batch doc keeps") {
    // pick doc ids landing in the index (<80) / batch (>=80) buckets
    val ids = spark.range(1, 500)
      .select(col("id"), TextOps.hashBucket(col("id")).as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val idxId = ids.find(_._2 < graft.llm.SketchOps.IndexBuckets).get._1
    val batchIds = ids.filter(_._2 >= graft.llm.SketchOps.IndexBuckets).map(_._1)
    val (containedId, freshId) = (batchIds(0), batchIds(1))
    val body = (1 to 20).map(i => s"tok$i").mkString(" ")
    val d = Seq(
      (idxId, body),                                   // index superset
      (containedId, (5 to 14).map(i => s"tok$i").mkString(" ")), // inside it
      (freshId, (1 to 10).map(i => s"new$i").mkString(" ")))     // fresh
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val dir = java.nio.file.Files.createTempDirectory("d42").toString
    d.select("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = graft.llm.SketchOps.d42IncrementalContainment(spark, dir)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2), r.getBoolean(3)))).toMap
    assert(!out.contains(idxId), "index docs are not scored")
    val (nCand, maxC, kept) = out(containedId)
    assert(nCand >= 1 && maxC == 1.0 && !kept,
      s"contained batch doc flags: $nCand candidates, max_containment $maxC")
    assert(out(freshId) == ((0L, 0.0, true)), "fresh batch doc keeps")
  }
}
