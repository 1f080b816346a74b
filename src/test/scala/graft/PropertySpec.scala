package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.llm.{SketchOps, TextOps}
import graft.operators.{Dedup, Validate}

/** Generator-driven properties (SURVEY.md §5.3): dedup equivalences, the
  * quarantine partition law and the shingle kernels over randomized
  * inputs. Plain ScalaCheck
  * generators sampled with fixed seeds (the scalatest bridge artifact is
  * not in the offline cache) — deterministic, 10 cases per law. */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def samples[T](g: Gen[T], n: Int): Seq[T] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(i.toLong)))

  private val rowsGen: Gen[List[(Int, Double)]] =
    Gen.listOfN(60, for {
      k <- Gen.choose(0, 5)
      v <- Gen.choose(0, 100).map(_ / 10.0)
    } yield (k, v))

  test("salted keepFirst == window keepFirst for any input") {
    samples(rowsGen, 10).foreach { rows =>
      // unique (v, id) per row → both variants deterministic
      val df = rows.zipWithIndex
        .map { case ((k, v), i) => (i.toLong, k, v) }
        .toDF("id", "k", "v")
      val win = Dedup.keepFirst(df, Seq("k"), Seq(col("v").asc, col("id").asc))
        .orderBy("k").collect().map(_.toSeq).toSeq
      val salted = Dedup.keepFirstSalted(df, Seq("k"), col("v"), col("id"), salts = 4)
        .orderBy("k").collect().map(_.toSeq).toSeq
      assert(win == salted, s"mismatch for input $rows")
    }
  }

  test("quarantine partition law: valid ∪ quarantine = input, report adds up") {
    val evGen = Gen.listOfN(40, for {
      id <- Gen.choose(0L, 20L) // collisions → duplicates exercised
      tsNull <- Gen.prob(0.1)
      typ <- Gen.oneOf("click", "view", "bogus", "purchase")
      vNull <- Gen.prob(0.1)
      v <- Gen.choose(-5.0, 50.0)
    } yield (id, tsNull, typ, vNull, v))
    samples(evGen, 10).foreach { rows =>
      val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
      val df = rows.map { case (id, tsNull, typ, vNull, v) =>
        (id, if (tsNull) None else Some(ts), 1L, typ,
          if (vNull) None else Some(v), "{}")
      }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      val tagged = Validate.splitEvents(df).cache()
      val v = Validate.valid(tagged).count()
      val q = Validate.quarantine(tagged).count()
      assert(v + q == df.count())
      val rep = Validate.report(tagged).collect()(0)
      assert(rep.getLong(0) == v + q)
      assert(rep.getLong(1) == v)
      assert(rep.getLong(2) + rep.getLong(3) == q)
      tagged.unpersist()
    }
  }

  test("connectedComponents == union-find on random graphs") {
    // random sparse graphs exercise the pointer-doubling path against a
    // driver-side union-find reference (exact same component minima)
    val edgesGen: Gen[List[(Long, Long)]] =
      Gen.listOfN(40, for {
        a <- Gen.choose(0L, 30L)
        b <- Gen.choose(0L, 30L)
      } yield (a, if (a == b) (b + 1) % 31 else b))
    samples(edgesGen, 8).filter(_.nonEmpty).foreach { edges =>
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = edges.flatMap(e => Seq(e._1, e._2)).distinct
        .map(d => d -> find(d)).toMap
      val got = graft.llm.SketchOps
        .connectedComponents(edges.toDF("d1", "d2"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expected, s"mismatch for edges $edges")
    }
  }

  test("shingle kernels == brute-force shingle sets: blocked self-overlap and containment verify") {
    // a 4-word vocabulary repeats shingles within and across docs; 0-9
    // tokens per doc makes docs too short for any 3-gram common
    val docGen = for {
      src <- Gen.choose(0, 2)
      len <- Gen.choose(0, 9)
      toks <- Gen.listOfN(len, Gen.oneOf("a", "b", "c", "d"))
    } yield (src, toks)
    val caseGen = for {
      docs <- Gen.listOfN(8, docGen)
      inCand <- Gen.listOfN(16, Gen.prob(0.6))
    } yield (docs, inCand)
    val cases = samples(caseGen, 10)
    // one frame for all cases: ids and sources are offset per case, so no
    // same-source pair and no candidate pair crosses two cases
    val docs = for {
      ((ds, _), c) <- cases.zipWithIndex; ((src, toks), i) <- ds.zipWithIndex
    } yield (c * 100L + i, s"$c-s$src", toks)
    val shOf = docs.map { case (id, _, toks) =>
      id -> toks.sliding(3).filter(_.size == 3).map(_.mkString(" ")).toSet }.toMap
    val srcOf = docs.map(d => d._1 -> d._2).toMap
    val hashes = TextOps.shingleHashes(
      docs.map(d => (d._1, d._2, d._3.mkString(" "))).toDF("doc_id", "source", "text"), 3)
    StageCache.scoped(spark) {
      // blocked self-overlap: (d1, d2, n_inter, sz1, sz2) for same-source
      // pairs d1 < d2 sharing a shingle
      val overlaps = for {
        (d1, s1) <- shOf.toSeq; (d2, s2) <- shOf.toSeq if d1 < d2 && (s1 & s2).nonEmpty
      } yield (d1, d2, (s1 & s2).size.toLong, s1.size.toLong, s2.size.toLong)
      val (blocked, crossSource) = overlaps.partition(o => srcOf(o._1) == srcOf(o._2))
      assert(crossSource.nonEmpty, "no cross-source overlap: source blocking untested")
      val got = TextOps.blockedOverlap(hashes)
        .select("d1", "d2", "n_inter", "sz1", "sz2")
        .as[(Long, Long, Long, Long, Long)].collect().toSet
      assert(got == blocked.toSet)

      // containment verify: even docs are the batch (db), odd docs the
      // history (di), a random candidate subset; c = n_inter / sz(db), and
      // a candidate pair sharing no shingle yields no row
      val cand = for {
        ((_, inCand), c) <- cases.zipWithIndex; (keep, j) <- inCand.zipWithIndex if keep
      } yield (c * 100L + 2 * (j / 4), c * 100L + 2 * (j % 4) + 1)
      val expected = cand.flatMap { case (db, di) =>
        val n = (shOf(db) & shOf(di)).size
        Option.when(n > 0)((db, di, n.toDouble / shOf(db).size))
      }.toSet
      assert(expected.exists { case (db, di, _) => shOf(db).size != shOf(di).size },
        "every verified pair has equal sizes: containment direction untested")
      def side(parity: Int, id: String) = hashes.filter(col("doc_id") % 2 === parity)
        .select(col("doc_id").as(id), col("shh"))
      val verified = SketchOps.containmentVerify(cand.toDF("db", "di"), side(0, "db"), side(1, "di"))
        .as[(Long, Long, Double)].collect().toSet
      assert(verified == expected)
    }
  }
}
