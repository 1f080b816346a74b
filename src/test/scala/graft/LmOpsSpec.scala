package graft

import org.apache.spark.sql.functions._

import graft.llm.LmOps

/** d31 bigram-LM scoring, d32 source JS divergence, d33 BPE training.
  * Planted-corpus expectations are hand-computed; fixture runs assert the
  * structural invariants the DuckDB oracle can't see (d33 has no oracle).
  */
class LmOpsSpec extends SparkSpec {
  import spark.implicits._

  private def docsOf(rows: (Long, String, String)*) =
    rows.toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")).cast("long"))

  private def writeDocs(rows: (Long, String, String)*): String = {
    val dir = java.nio.file.Files.createTempDirectory("lmops").toString
    docsOf(rows: _*)
      .select("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("d31: hand-computed add-one bigram LM scores on a planted corpus") {
    // corpus: "a b", "a b", "a c" → V=3, c(a,b)=2, c(a,c)=1, c(a,·)=3
    // P(b|a)=(2+1)/(3+3)=1/2; P(c|a)=(1+1)/(3+3)=1/3
    val dir = writeDocs((1L, "a b", "s"), (2L, "a b", "s"), (3L, "a c", "s"))
    val r = LmOps.d31LmScore(spark, dir)
      .select("doc_id", "n_bigrams", "avg_ll", "ppl")
      .as[(Long, Long, Double, Double)].collect().sortBy(_._1)
    assert(r.map(x => (x._1, x._2)).toSeq === Seq((1L, 1L), (2L, 1L), (3L, 1L)))
    assert(math.abs(r(0)._3 - math.log(0.5)) < 1e-5)
    assert(math.abs(r(2)._3 - math.log(1.0 / 3)) < 1e-5)
    // ppl = exp(-avg_ll), micro-quantized
    assert(math.abs(r(0)._4 - 2.0) < 1e-4)
    assert(math.abs(r(2)._4 - 3.0) < 1e-4)
  }

  test("d31: near-duplicate high-probability docs score above garble") {
    val r = LmOps.d31LmScore(spark, sfDir)
    val n = r.count()
    assert(n > 0)
    // every scored doc has >=1 bigram and a negative log-likelihood
    assert(r.filter(col("n_bigrams") < 1 || col("avg_ll") >= 0).count() === 0)
    // ppl must invert avg_ll within the quantization contract
    val bad = r.withColumn("__e",
      abs(col("ppl") - exp(-col("avg_ll")))).filter(col("__e") > 1e-3)
    assert(bad.count() === 0)
  }

  test("d31b: pruned model, context backoff, and vocabulary floor all fire") {
    // V={a,b,z,q,r}=5; (a,b)×3 kept (c12=3), c(a,·)=4 kept; (a,z) rare →
    // context backoff; (q,r) rare with rare context → vocabulary floor
    val dir = writeDocs((1L, "a b", "s"), (2L, "a b", "s"), (3L, "a b", "s"),
      (4L, "a z", "s"), (5L, "q r", "s"))
    val r = LmOps.d31bLmScorePruned(spark, dir)
      .select("doc_id", "avg_ll").as[(Long, Double)].collect().toMap
    assert(math.abs(r(1L) - math.log(4.0 / 9)) < 1e-5)  // exact model branch
    assert(math.abs(r(4L) - math.log(1.0 / 9)) < 1e-5)  // known-context backoff
    assert(math.abs(r(5L) - math.log(1.0 / 5)) < 1e-5)  // unknown-context floor
  }

  test("d31b: agrees with d31 on docs whose bigrams all clear the pruning bar") {
    val exact = LmOps.d31LmScore(spark, sfDir)
      .select(col("doc_id"), col("avg_ll").as("exact_ll"))
    val pruned = LmOps.d31bLmScorePruned(spark, sfDir)
      .select(col("doc_id"), col("avg_ll").as("pruned_ll"))
    val both = exact.join(pruned, "doc_id")
    assert(both.count() === LmOps.d31LmScore(spark, sfDir).count())
    // the tiers must agree in aggregate direction: mean absolute gap is
    // bounded by the backoff mass (the fixture corpus is dense, so small)
    val gap = both.select(avg(abs(col("exact_ll") - col("pruned_ll"))))
      .as[Double].collect()(0)
    assert(gap < 0.5, s"pruned tier diverges from exact LM: mean |gap| = $gap")
  }

  test("d32: identical sources diverge zero; disjoint sources approach ln 2") {
    val same = writeDocs((1L, "x y z", "s1"), (2L, "x y z", "s2"))
    val r1 = LmOps.d32SourceDivergence(spark, same)
      .select("source", "js_div").as[(String, Double)].collect().toMap
    assert(math.abs(r1("s1")) < 1e-6 && math.abs(r1("s2")) < 1e-6)

    // disjoint unigram supports, equal sizes: P=(a:1), Q=(a:1/2, b:1/2)
    // JS = 1/2·ln(4/3) + 1/2·(1/2·ln(2/3) + 1/2·ln 2) per source
    val disj = writeDocs((1L, "a a a", "s1"), (2L, "b b b", "s2"))
    val expected = 0.5 * math.log(4.0 / 3) +
      0.5 * (0.5 * math.log(2.0 / 3) + 0.5 * math.log(2.0))
    val r2 = LmOps.d32SourceDivergence(spark, disj)
      .select("source", "js_div").as[(String, Double)].collect().toMap
    assert(math.abs(r2("s1") - expected) < 1e-6)
    assert(math.abs(r2("s2") - expected) < 1e-6)
  }

  test("d32: fixture divergences are finite, non-negative, below ln 2") {
    val r = LmOps.d32SourceDivergence(spark, sfDir)
      .select("js_div").as[Double].collect()
    assert(r.nonEmpty)
    assert(r.forall(v => v >= -1e-9 && v <= math.log(2.0) + 1e-9))
  }

  test("d34: exact per-stratum quotas, contiguous ranks, rerun-stable") {
    val r = LmOps.d34StratifiedSample(spark, sfDir)
    val base = Tables.documents(spark, sfDir)
      .groupBy(col("lang"), col("source")).agg(count(lit(1)).as("n"))
      .as[(String, String, Long)].collect()
      .map { case (l, s, n) => (l, s) -> math.min(n, LmOps.StratumQuota.toLong) }
      .toMap
    val got = r.groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("k"), max(col("rn")).as("mx"))
      .as[(String, String, Long, Long)].collect()
    assert(got.nonEmpty)
    got.foreach { case (l, s, k, mx) =>
      assert(k === base((l, s)), s"stratum ($l,$s)")
      assert(mx === k, s"ranks not contiguous in ($l,$s)")
    }
    // deterministic: a second run selects the identical doc set
    val a = r.select("doc_id").as[Long].collect().sorted.toSeq
    val b = LmOps.d34StratifiedSample(spark, sfDir)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(a === b)
  }

  test("d33: hand-computed merge sequence with deterministic tie-breaks") {
    // words: "aaab"×2, "aab"×1 → symbols [a,a,a,b,</w>]×2, [a,a,b,</w>]×1
    // r1: (a,a) pc=5 → aa          r2: (b,</w>) pc=3 → b</w>
    // r3: tie at 2 — (a,b</w>) beats (aa,a) lexicographically → ab</w>
    // r4: (aa,ab</w>) pc=2         then best pair pc=1 < 2 → stop
    val dir = writeDocs((1L, "aaab aaab", "s"), (2L, "aab", "s"))
    val r = LmOps.bpeTrain(spark, Tables.documents(spark, dir), 10)
      .select("rank", "left", "right", "merged", "pair_count")
      .as[(Int, String, String, String, Long)].collect().toSeq
    assert(r === Seq(
      (1, "a", "a", "aa", 5L),
      (2, "b", "</w>", "b</w>", 3L),
      (3, "a", "b</w>", "ab</w>", 2L),
      (4, "aa", "ab</w>", "aaab</w>", 2L)))
  }

  test("d33: batched trainer reproduces the sequential merge sequence") {
    // adversarial planted corpus (chained conflicts force 1-merge
    // rounds) AND the fixture corpus: batched == sequential exactly
    val dir = writeDocs((1L, "aaab aaab", "s"), (2L, "aab", "s"))
    for (docs <- Seq(Tables.documents(spark, dir),
        Tables.documents(spark, sfDir))) {
      val batched = LmOps.bpeTrain(spark, docs, LmOps.BpeMerges)
        .as[(Int, String, String, String, Long)].collect().toSeq
      val seq = LmOps.bpeTrainSequential(spark, docs, LmOps.BpeMerges)
        .as[(Int, String, String, String, Long)].collect().toSeq
      assert(batched === seq)
    }
  }

  test("d33: disjoint merges batch into one round — measured round reduction") {
    // three letter-disjoint repeated words with separated counts: round 1
    // can safely take (a,a) and (b,b) together — the (a,</w>) conflict at
    // count 16 sets the cutoff below both
    val dir = writeDocs((1L, Seq.fill(16)("aaaa").mkString(" "), "s"),
      (2L, Seq.fill(8)("bbbb").mkString(" "), "s"),
      (3L, Seq.fill(4)("cccc").mkString(" "), "s"))
    val docs = Tables.documents(spark, dir)
    val batched = LmOps.bpeTrain(spark, docs, 6)
      .as[(Int, String, String, String, Long)].collect().toSeq
    val rounds = LmOps.lastBpeRounds
    assert(batched.size >= 4, s"expected several merges, got $batched")
    assert(rounds < batched.size,
      s"batching should need fewer rounds than merges: $rounds rounds for ${batched.size} merges")
    // and the batched sequence is still the sequential one
    val seq = LmOps.bpeTrainSequential(spark, docs, 6)
      .as[(Int, String, String, String, Long)].collect().toSeq
    assert(batched === seq)
  }

  test("d33: a colliding merged symbol is never batched with other merges") {
    // ADVICE r11: the disjointness proof needs accepted concats to be
    // FRESH symbols — a merge whose concat string-equals a pre-existing
    // symbol must fall out of the multi-merge batch (its created
    // adjacencies could otherwise ADD to a stale disjoint pair's count).
    val known = Set("abc")
    // collision at the head → single sequential step, never a batch
    val atHead = LmOps.selectBpeBatch(
      Array(("a", "bc", 30L), ("x", "y", 28L), ("q", "r", 26L)), 64, 10, known)
    assert(atHead === Seq(("a", "bc", 30L)))
    // collision mid-prefix → the prefix stops BEFORE the colliding pair
    val mid = LmOps.selectBpeBatch(
      Array(("x", "y", 30L), ("a", "bc", 28L), ("q", "r", 26L)), 64, 10, known)
    assert(mid === Seq(("x", "y", 30L)))
    // within-batch re-creation: two disjoint pairs with EQUAL concats
    // cannot both be accepted (the second would re-create the first's
    // fresh symbol)
    val twin = LmOps.selectBpeBatch(
      Array(("a", "bc", 30L), ("ab", "c", 28L), ("q", "r", 26L)), 64, 10,
      _ => false)
    assert(twin === Seq(("a", "bc", 30L)))
    // and without any collision the multi-merge batch is unchanged
    val clean = LmOps.selectBpeBatch(
      Array(("a", "bc", 30L), ("x", "y", 28L), ("q", "r", 26L)), 64, 10,
      _ => false)
    assert(clean === Seq(("a", "bc", 30L), ("x", "y", 28L), ("q", "r", 26L)))
  }

  test("d33: batched == sequential on a corpus that recreates '</w>'") {
    // the end-of-word marker is the one multi-char symbol present from
    // round 0, so words containing the LITERAL text "</w>" drive merges
    // whose concats collide with it ('</'+'w', '</w'+'>' → the marker
    // string) — the reachable instance of the ADVICE r11 collision.
    // Batched training must still reproduce the sequential sequence.
    val dir = writeDocs(
      (1L, Seq.fill(12)("</w>").mkString(" "), "s"),
      (2L, Seq.fill(9)("a</w>b").mkString(" "), "s"),
      (3L, Seq.fill(7)("qa qa </w>x").mkString(" "), "s"),
      (4L, Seq.fill(5)("zb zb").mkString(" "), "s"))
    val docs = Tables.documents(spark, dir)
    val batched = LmOps.bpeTrain(spark, docs, 25)
      .as[(Int, String, String, String, Long)].collect().toSeq
    val seq = LmOps.bpeTrainSequential(spark, docs, 25)
      .as[(Int, String, String, String, Long)].collect().toSeq
    assert(batched === seq)
    // the fixture really does re-derive the marker string at some rank —
    // without that, this test would not exercise the collision rule
    assert(batched.exists(_._4 == "</w>"),
      s"fixture no longer recreates the marker symbol: $batched")
  }

  test("d33: natural-vocabulary corpus — batched == sequential, rounds < merges") {
    // r11 verdict #3: the 31-word fixture is near the batch rule's worst
    // case; a conflict-sparse natural vocabulary is where batching pays.
    // BpeBench (K=200, 5442 distinct words) publishes the full census —
    // this pins the exactness contract on the same generator in-suite.
    val docs = BpeBench.naturalCorpus(spark, nDocs = 250, wordsPerDoc = 30,
      nStems = 150).cache()
    val k = 30
    val batched = LmOps.bpeTrain(spark, docs, k)
      .as[(Int, String, String, String, Long)].collect().toSeq
    val rounds = LmOps.lastBpeRounds
    val seq = LmOps.bpeTrainSequential(spark, docs, k)
      .as[(Int, String, String, String, Long)].collect().toSeq
    assert(batched === seq)
    assert(batched.size === k)
    assert(rounds < batched.size,
      s"natural vocab should batch several merges per round: $rounds rounds for ${batched.size} merges")
  }

  test("d34b: salted path returns byte-identical rows to d34") {
    val a = LmOps.d34StratifiedSample(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    val b = LmOps.d34bStratifiedSampleSalted(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    assert(a === b)
  }

  test("d33b: hand-computed encoding under the trained merges") {
    // merges from the d33 planted corpus: (a,a),(b,</w>),(a,b</w>),(aa,ab</w>)
    // encode "aaab" -> [aaab</w>] = 1 symbol; "aab" -> [aa, b</w>] = 2
    val dir = writeDocs((1L, "aaab aaab", "s"), (2L, "aab", "s"))
    val docs = Tables.documents(spark, dir)
    val merges = LmOps.bpeTrain(spark, docs, 10)
      .select("left", "right").as[(String, String)].collect().toSeq
    val r = LmOps.bpeEncode(docs, merges)
      .select("doc_id", "n_words", "n_bpe_tokens")
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(r === Seq((1L, 2L, 2L), (2L, 1L, 2L)))
  }

  test("d33b: fixture token counts sit between word count and char+word count") {
    val enc = LmOps.d33bBpeEncode(spark, sfDir)
    val joined = enc.join(
      Tables.documents(spark, sfDir).select(col("doc_id"),
        length(col("text")).cast("long").as("n_chars")), "doc_id")
    // every word encodes to >= 1 symbol and <= |chars|+1 symbols
    val bad = joined.filter(col("n_bpe_tokens") < col("n_words") ||
      col("n_bpe_tokens") > col("n_chars") + col("n_words")).count()
    assert(bad === 0)
    // the learned merges actually compress: strictly fewer symbols than
    // the unmerged char+marker baseline on the whole corpus
    val (bpe, base) = joined
      .agg(sum(col("n_bpe_tokens")), sum(col("n_chars") + col("n_words")))
      .as[(Long, Long)].collect()(0)
    assert(bpe < base, s"BPE failed to compress: $bpe vs $base")
  }

  test("d33: fixture merge table invariants") {
    val r = LmOps.d33BpeTrain(spark, sfDir)
      .select("rank", "left", "right", "merged", "pair_count")
      .as[(Int, String, String, String, Long)].collect().toSeq
    assert(r.nonEmpty && r.size <= graft.llm.LmOps.BpeMerges)
    assert(r.map(_._1) === (1 to r.size))             // contiguous ranks
    assert(r.forall { case (_, l, rt, m, pc) => m == l + rt && pc >= 2 })
    assert(r.map(x => (x._2, x._3)).distinct.size === r.size) // no repeat merges
  }

  /** Reference model on the JVM side: same bucket/weight arithmetic as the
    * engine's expressions, computed with MessageDigest — an independent
    * implementation path, not the code under test. */
  private def refBucket(tok: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(tok.getBytes("UTF-8")).map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.substring(0, 8), 16) % LmOps.ClfBuckets
  }
  private def refWeight(b: Long): Long = (b * 2654435761L) % 8192L - 4096L

  test("d37: hand-checked classifier scores on a planted corpus") {
    val dir = writeDocs((1L, "good clean prose", "s"), (2L, "zzqx", "s"))
    val r = LmOps.d37QualityClassifier(spark, dir)
      .select("doc_id", "n_tokens", "sum_w", "score", "prob_q", "kept")
      .as[(Long, Long, Long, Double, Double, Int)].collect().sortBy(_._1)
    val w1 = Seq("good", "clean", "prose").map(t => refWeight(refBucket(t))).sum
    val w2 = refWeight(refBucket("zzqx"))
    assert(r(0) ._2 === 3L); assert(r(0)._3 === w1)
    assert(r(1)._2 === 1L); assert(r(1)._3 === w2)
    val s1 = w1.toDouble / (LmOps.ClfWeightGrain * 3)
    assert(math.abs(r(0)._4 - s1) < 1e-12)
    assert(r(0)._5 === math.floor(1.0 / (1.0 + math.exp(-s1)) * 1e6 + 0.5) / 1e6)
    assert(r(0)._6 === (if (r(0)._5 >= 0.5) 1 else 0))
    assert(r(1)._6 === (if (r(1)._5 >= 0.5) 1 else 0))
  }

  test("d37: weight table is the deterministic PRF, bounded in [-4096, 4096)") {
    val w = LmOps.weightTable(spark).as[(Long, Long)].collect().sortBy(_._1)
    assert(w.length === LmOps.ClfBuckets)
    assert(w.forall { case (b, wi) => wi == refWeight(b) })
    assert(w.forall { case (_, wi) => wi >= -4096L && wi < 4096L })
    // not degenerate: both signs occur
    assert(w.exists(_._2 < 0) && w.exists(_._2 > 0))
  }

  test("d48: source sums reconcile with d33b's per-doc counts; ratios bounded") {
    val eff = LmOps.d48TokenEfficiency(spark, sfDir).cache()
    val enc = LmOps.d33bBpeEncode(spark, sfDir)
    // the census is d33b's encode re-grouped: corpus totals must agree
    val (effW, effT) = {
      val r = eff.agg(sum(col("n_words")), sum(col("n_tokens"))).head()
      (r.getLong(0), r.getLong(1))
    }
    val (encW, encT) = {
      val r = enc.agg(sum(col("n_words")), sum(col("n_bpe_tokens"))).head()
      (r.getLong(0), r.getLong(1))
    }
    assert(effW == encW && effT == encT,
      s"census totals ($effW, $effT) != d33b totals ($encW, $encT)")
    // every word encodes to 1..len+1 symbols → per-source bounds
    val bad = eff.filter(
      col("n_tokens") < col("n_words") ||
      col("n_tokens") > col("n_chars") + col("n_words") ||
      col("fertility") < 1.0 ||
      col("unmerged_frac") < 0.0 || col("unmerged_frac") > 1.0)
    assert(bad.isEmpty)
    eff.unpersist()
  }

  test("d37: fixture scores are consistent (prob inverts score, kept matches threshold)") {
    val r = LmOps.d37QualityClassifier(spark, sfDir).cache()
    assert(r.count() > 0)
    assert(r.filter(col("prob_q") <= 0.0 || col("prob_q") >= 1.0).count() === 0)
    assert(r.filter((col("prob_q") >= 0.5) =!= (col("kept") === 1)).count() === 0)
    val bad = r.withColumn("__e",
      abs(col("prob_q") - lit(1.0) / (lit(1.0) + exp(-col("score")))))
      .filter(col("__e") > 1e-3)
    assert(bad.count() === 0)
    r.unpersist()
  }
}
