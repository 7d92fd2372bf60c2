package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Dedup, Similarity, Stats}

/** Per-group drift and density valves: per-group PSI (L284), the
  * ENGAGED density valves (jaccardPairsPrefix maxDf / editDistancePairs
  * maxBlockSize — round-11 verdict items #3/#7), and the whitenDiagonal
  * single-sample guard.
  *
  * The class keeps its earlier name: suite class plus test name is each
  * test's id in the suite's reports and history.
  */
class Round12OpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // ---- psiByGroup ------------------------------------------------------

  test("psiByGroup: hand-computed per-group PSI, shared global edges") {
    // Edges from the GLOBAL ref range [0, 1], bins = 2 (width 0.5):
    // group a is identical across snapshots → psi 0; group b flips all
    // mass from bin 0 to bin 1 → terms 2×(2/3)·ln5 = 2.145918; group c
    // exists only in cur (ref smooths to uniform) → 0.274653.
    val ref = Seq(("a", 0.0), ("a", 1.0), ("b", 0.0), ("b", 0.0))
      .toDF("g", "v")
    val cur = Seq(("a", 0.0), ("a", 1.0), ("b", 1.0), ("b", 1.0), ("c", 1.0))
      .toDF("g", "v")
    val got = Stats.psiByGroup(ref, cur, "v", "g", bins = 2)
      .orderBy("g").as[(String, Double)].collect().toSeq
    assert(got == Seq(("a", 0.0), ("b", 2.145918), ("c", 0.274653)),
      got.toString)
  }

  test("psiByGroup: identical snapshots give psi 0 for every group") {
    val df = Seq(("a", 1.0), ("a", 2.0), ("b", 3.0), ("b", 9.0))
      .toDF("g", "v")
    val got = Stats.psiByGroup(df, df, "v", "g", bins = 4)
      .as[(String, Double)].collect().toMap
    assert(got == Map("a" -> 0.0, "b" -> 0.0), got.toString)
  }

  test("ksByGroup: hand-computed two-snapshot KS per group") {
    // Group a: ref {1,2} vs cur {2,3} → ECDF gap peaks at 1/2 (v=1 and
    // v=2 both give |cumr·nc − cumc·nr| = 2 over nr·nc = 4). Group b is
    // identical across snapshots → 0. Group c has no cur rows → null ks.
    val ref = Seq(("a", 1.0), ("a", 2.0), ("b", 5.0), ("c", 1.0))
      .toDF("g", "v")
    val cur = Seq(("a", 2.0), ("a", 3.0), ("b", 5.0)).toDF("g", "v")
    val got = Stats.ksByGroup(ref, cur, "v", "g")
      .orderBy("g").collect()
    assert(got(0).getString(0) == "a" && got(0).getLong(1) == 2L &&
      got(0).getLong(2) == 2L && got(0).getDouble(3) == 0.5, got(0).toString)
    assert(got(1).getString(0) == "b" && got(1).getDouble(3) == 0.0,
      got(1).toString)
    assert(got(2).getString(0) == "c" && got(2).getLong(2) == 0L &&
      got(2).isNullAt(3), got(2).toString)
  }

  // ---- jaccardPairsPrefix density valve --------------------------------

  test("jaccardPairsPrefix maxDf: hot token dropped from sets AND sizes") {
    // x appears in all four sets (df 4 > cap 2) → dropped everywhere:
    // d1/d2 become {a,b} twice (J = 1), d3 = {c,d}, d4 = {c,e} (J = 1/3).
    val sh = Seq(
      (1L, "x"), (1L, "a"), (1L, "b"),
      (2L, "x"), (2L, "a"), (2L, "b"),
      (3L, "x"), (3L, "c"), (3L, "d"),
      (4L, "x"), (4L, "c"), (4L, "e")
    ).toDF("doc_id", "shingle")
    val capped = Dedup.jaccardPairsPrefix(sh, "doc_id", minJaccard = 0.5,
        maxDf = Some(2L))
      .select("doc_a", "doc_b", "inter", "jaccard")
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(capped == Set((1L, 2L, 2L, 1.0)), capped.toString)
    // Uncapped, the hot token inflates every intersection: d1–d2 share
    // {x,a,b} and d3–d4 now clear the 0.5 threshold via {x,c}.
    val exact = Dedup.jaccardPairsPrefix(sh, "doc_id", minJaccard = 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(exact == Set((1L, 2L), (3L, 4L)), exact.toString)
  }

  // ---- editDistancePairs block cap -------------------------------------

  test("editDistancePairs maxBlockSize: hot block dropped, cold kept") {
    val docs = Seq(
      (1L, "aa hot x"), (2L, "aa hot y"), (3L, "aa hot z"), // block aa: 3
      (4L, "bb cold x"), (5L, "bb cold y")                  // block bb: 2
    ).toDF("id", "name")
    val blk = split_part(col("name"), lit(" "), lit(1))
    val capped = Dedup.editDistancePairs(docs, "id", "name", blk,
        maxDist = 3, maxBlockSize = Some(2L))
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(capped == Set((4L, 5L)), capped.toString)
    val uncapped = Dedup.editDistancePairs(docs, "id", "name", blk,
        maxDist = 3, maxBlockSize = None)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(uncapped ==
      Set((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L)), uncapped.toString)
  }

  // ---- LSH banding planner ---------------------------------------------

  test("lshPlan: divisor grid, hand-computed collision probs, midpoints") {
    val plan = Dedup.lshPlan(spark, nPerms = 128,
      thresholds = Seq(0.5, 0.7, 0.8, 0.9))
    val rows = plan.collect()
    assert(rows.length == 8 * 4, s"d(128)=8 splits x 4 thresholds")
    def at(b: Int, t: Double) = rows.find(r =>
      r.getInt(0) == b && r.getDouble(2) == t).get
    // (32 bands, 4 rows) at t=0.5: 1-(1-0.5^4)^32 = 0.873211; t1/2 = 0.420448.
    val r32 = at(32, 0.5)
    assert(r32.getInt(1) == 4 && r32.getDouble(3) == 0.873211 &&
      r32.getDouble(4) == 0.420448, r32.toString)
    // (8 bands, 16 rows) at t=0.8: 0.204202; t1/2 = 0.878126.
    val r8 = at(8, 0.8)
    assert(r8.getDouble(3) == 0.204202 && r8.getDouble(4) == 0.878126,
      r8.toString)
    // P(t) is monotone increasing in t for every split.
    rows.groupBy(_.getInt(0)).values.foreach { g =>
      val ps = g.sortBy(_.getDouble(2)).map(_.getDouble(3))
      assert(ps.zip(ps.tail).forall { case (a, b) => a <= b }, g.mkString)
    }
  }

  // ---- whitenDiagonal single-sample dims -------------------------------

  test("whitenDiagonal: single-vector corpus (null stddev) whitens to 0") {
    // stddev_samp is NULL with one sample per dimension — previously an
    // NPE at the driver collect; now the dead-dim branch absorbs it.
    val one = Seq((1L, Seq(1.0f, 2.0f))).toDF("id", "vec")
    val got = Similarity.whitenDiagonal(one, "id", "vec")
      .select("whitened").as[Seq[Double]].collect().head
    assert(got == Seq(0.0, 0.0), got.toString)
  }

  test("whitenDiagonal: ragged corpus — lone max-length dim is dead") {
    // dim 2 has exactly one sample (only the long vector reaches it):
    // null stddev → dead → 0.0; dims 0/1 whiten normally.
    val emb = Seq(
      (1L, Seq(0.0f, 0.0f)),
      (2L, Seq(2.0f, 4.0f, 7.0f))
    ).toDF("id", "vec")
    val got = Similarity.whitenDiagonal(emb, "id", "vec")
      .orderBy("id").select("whitened").as[Seq[Double]].collect()
    // μ = (1, 2), σ = (√2, 2√2): row1 = ((0−1)/√2, (0−2)/2√2) ≈
    // (−0.707107, −0.707107); row2 dims 0/1 mirror it, dim 2 → 0.
    assert(got(0) == Seq(-0.707107, -0.707107), got(0).toString)
    assert(got(1) == Seq(0.707107, 0.707107, 0.0), got(1).toString)
  }
}
