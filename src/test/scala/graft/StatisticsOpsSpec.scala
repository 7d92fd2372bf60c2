package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Graph, Similarity, Stats, TextAnalysis}

/** Statistics ops: rank/effect-size statistics, ranking agreement,
  * lexical diversity, and embedding whitening (SURVEY §2.12 L269–L275).
  *
  * The class keeps its earlier name: suite class plus test name is each
  * test's id in the suite's reports and history.
  */
class Round11OpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // ---- Spearman --------------------------------------------------------

  test("spearmanCorr: classic no-tie case matches 1 - 6Σd²/(n(n²-1))") {
    // x = 1..5, y = (2,1,4,3,5): d² sums to 4 → ρ = 1 − 24/120 = 0.8.
    val df = Seq((1.0, 2.0), (2.0, 1.0), (3.0, 4.0), (4.0, 3.0), (5.0, 5.0))
      .toDF("x", "y")
    val got = Stats.spearmanCorr(df, "x", "y")
      .as[(Long, Double)].collect().head
    assert(got == ((5L, 0.8)), got.toString)
  }

  test("spearmanCorr: midranks under ties; perfect monotone = 1.0") {
    // x = (1,1,2) → midranks (1.5, 1.5, 3); y = (1,2,3) → (1,2,3).
    // Pearson over ranks = 1.5/√(1.5·2) = 0.8660254 → 0.866.
    val tied = Seq((1.0, 1.0), (1.0, 2.0), (2.0, 3.0)).toDF("x", "y")
    val r = Stats.spearmanCorr(tied, "x", "y")
      .as[(Long, Double)].collect().head
    assert(r == ((3L, 0.866)), r.toString)
    val mono = Seq((1.0, 10.0), (2.0, 20.0), (3.0, 30.0)).toDF("x", "y")
    val m = Stats.spearmanCorr(mono, "x", "y")
      .as[(Long, Double)].collect().head
    assert(m == ((3L, 1.0)), m.toString)
  }

  test("spearmanCorr: n < 3 or constant column → null rho, never a crash") {
    val tiny = Seq((1.0, 2.0), (2.0, 1.0)).toDF("x", "y")
    val r = Stats.spearmanCorr(tiny, "x", "y").collect().head
    assert(r.getLong(0) == 2L && r.isNullAt(1))
    // Constant x: zero rank variance → denominator nullif(0) → null.
    val const = Seq((1.0, 1.0), (1.0, 2.0), (1.0, 3.0)).toDF("x", "y")
    val c = Stats.spearmanCorr(const, "x", "y").collect().head
    assert(c.isNullAt(1), c.toString)
  }

  // ---- Levene ----------------------------------------------------------

  test("leveneTest: hand-computed W on unequal-spread groups") {
    // a = {0,2} → z = {1,1}; b = {0,4,8} → z = {4,0,4}.
    // SSB = 10/3, SSW = 32/3 → W = (10/3)/(32/9) = 0.9375.
    val df = Seq(("a", 0.0), ("a", 2.0), ("b", 0.0), ("b", 4.0), ("b", 8.0))
      .toDF("g", "v")
    val got = Stats.leveneTest(df, "g", "v")
      .select("k", "n", "w_stat")
      .as[(Long, Long, Double)].collect().head
    assert(got == ((2L, 5L, 0.9375)), got.toString)
  }

  test("leveneTest: symmetric groups give zero within-variance → null W") {
    // Both groups' |v − mean| are constant → SSW = 0 → W undefined.
    val df = Seq(("a", 1.0), ("a", 3.0), ("b", 2.0), ("b", 6.0)).toDF("g", "v")
    val r = Stats.leveneTest(df, "g", "v").collect().head
    assert(r.isNullAt(r.fieldIndex("w_stat")), r.toString)
  }

  // ---- Cohen's d / Hedges' g --------------------------------------------

  test("cohensD: pooled-σ d and small-sample g on the welch fixture") {
    // a = {1,2,3} (m=2, v=1), b = {2,4,6,8} (m=5, v=20/3):
    // sp² = (2·1 + 3·20/3)/5 = 4.4; d = −3/√4.4 = −1.4302;
    // g = d·(1 − 3/19) = −1.2044.
    val df = Seq(("a", 1.0), ("a", 2.0), ("a", 3.0),
      ("b", 2.0), ("b", 4.0), ("b", 6.0), ("b", 8.0)).toDF("g", "v")
    val got = Stats.cohensD(df, "g", "v", "a", "b")
      .select("n_a", "n_b", "cohens_d", "hedges_g")
      .as[(Long, Long, Double, Double)].collect().head
    assert(got == ((3L, 4L, -1.4302, -1.2044)), got.toString)
  }

  test("cohensD: single-row arm and zero pooled variance → null") {
    val tiny = Seq(("a", 1.0), ("b", 2.0), ("b", 3.0)).toDF("g", "v")
    val r = Stats.cohensD(tiny, "g", "v", "a", "b").collect().head
    assert(r.isNullAt(r.fieldIndex("cohens_d")))
    val const = Seq(("a", 1.0), ("a", 1.0), ("b", 1.0), ("b", 1.0))
      .toDF("g", "v")
    val c = Stats.cohensD(const, "g", "v", "a", "b").collect().head
    assert(c.isNullAt(c.fieldIndex("cohens_d")))
  }

  // ---- Assortativity ----------------------------------------------------

  test("assortativity: star graph is perfectly disassortative (−1)") {
    val edges = Seq(("h", "a"), ("h", "b"), ("h", "c")).toDF("src", "dst")
    val got = Graph.assortativity(edges, "src", "dst")
      .as[(Long, Double)].collect().head
    assert(got == ((6L, -1.0)), got.toString)
  }

  test("assortativity: regular graph has zero degree variance → null") {
    // 4-cycle: every node degree 2 → no variance → nullif → null ρ.
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "a"))
      .toDF("src", "dst")
    val r = Graph.assortativity(edges, "src", "dst").collect().head
    assert(r.getLong(0) == 8L && r.isNullAt(1), r.toString)
  }

  // ---- Type–token ratio --------------------------------------------------

  test("typeTokenRatio: hapaxes counted on the sorted array") {
    val docs = Seq((1L, "a b a c"), (2L, "a a"), (3L, "x"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.typeTokenRatio(docs, "doc_id", "text")
      .as[(Long, Long, Long, Double, Double)].collect()
      .map(t => t._1 -> t).toMap
    assert(got(1L) == ((1L, 4L, 3L, 0.75, 0.6667)), got(1L).toString)
    assert(got(2L) == ((2L, 2L, 1L, 0.5, 0.0)), got(2L).toString)
    assert(got(3L) == ((3L, 1L, 1L, 1.0, 1.0)), got(3L).toString)
  }

  // ---- RBO ---------------------------------------------------------------

  test("rboOverlap: hand-computed truncated RBO at p=0.5") {
    // A = (1,2,3), B = (1,3,2): depths 1,3,3 → X = (1,1,3);
    // RBO = 0.5·(1 + 0.5·(1/2) + 0.25·(3/3)) = 0.75.
    val a = Seq((1L, 1), (2L, 2), (3L, 3)).toDF("id", "rank")
    val b = Seq((1L, 1), (3L, 2), (2L, 3)).toDF("id", "rank")
    val got = Similarity.rboOverlap(a, b, "id", p = 0.5, k = 3)
      .as[(Int, Long, Double)].collect().head
    assert(got == ((3, 3L, 0.75)), got.toString)
  }

  test("rboOverlap: identical lists score the truncated bound; disjoint 0") {
    val a = Seq((1L, 1), (2L, 2)).toDF("id", "rank")
    val same = Similarity.rboOverlap(a, a, "id", p = 0.5, k = 2)
      .as[(Int, Long, Double)].collect().head
    // (1−p)·Σ p^{d−1} = 0.5·1.5 = 0.75 — the withheld-tail bound, not 1.
    assert(same == ((2, 2L, 0.75)), same.toString)
    val b = Seq((9L, 1), (8L, 2)).toDF("id", "rank")
    val disj = Similarity.rboOverlap(a, b, "id", p = 0.5, k = 2)
      .as[(Int, Long, Double)].collect().head
    assert(disj._2 == 0L && disj._3 == 0.0, disj.toString)
  }

  // ---- Cramér's V ---------------------------------------------------------

  test("cramersV: perfect 2×2 association → V = 1; zero-cell fold exact") {
    val df = Seq(("a", "a"), ("a", "a"), ("b", "b"), ("b", "b"))
      .toDF("x", "y")
    val got = Stats.cramersV(df, "x", "y")
      .select("n_rows", "r", "c", "chi2", "cramers_v")
      .as[(Long, Long, Long, Double, Double)].collect().head
    assert(got == ((4L, 2L, 2L, 4.0, 1.0)), got.toString)
  }

  test("cramersV: single-category column → null V (no association defined)") {
    val df = Seq(("a", "z"), ("b", "z"), ("c", "z")).toDF("x", "y")
    val r = Stats.cramersV(df, "x", "y").collect().head
    assert(r.isNullAt(r.fieldIndex("cramers_v")), r.toString)
  }

  // ---- Trimmed mean -------------------------------------------------------

  test("trimmedMean: 10% symmetric trim drops exactly k per side") {
    val df = (1 to 10).map(i => (i.toDouble, i.toLong)).toDF("v", "id")
    val got = Stats.trimmedMean(df, "v", "id", trimBp = 1000)
      .as[(Long, Long, Double)].collect().head
    // k = 10·1000 div 10⁴ = 1 → mean of 2..9 = 5.5.
    assert(got == ((10L, 8L, 5.5)), got.toString)
    // trimBp = 0 degenerates to the plain mean over everything.
    val all = Stats.trimmedMean(df, "v", "id", trimBp = 0)
      .as[(Long, Long, Double)].collect().head
    assert(all == ((10L, 10L, 5.5)), all.toString)
  }

  // ---- Permutation test ---------------------------------------------------

  test("permutationTest: observed diff exact; replica counts bounded and deterministic") {
    val df = (1 to 40).map { i =>
      (i.toLong, if (i % 2 == 0) "a" else "b",
        if (i % 2 == 0) 10.0 + i else 1.0 + i)
    }.toDF("id", "g", "v")
    val run1 = Stats.permutationTest(df, "id", "g", "v", "a", "b",
      replicas = 8).collect().head
    val run2 = Stats.permutationTest(df, "id", "g", "v", "a", "b",
      replicas = 8).collect().head
    assert(run1 == run2, "hash-derived replicas must be deterministic")
    assert(run1.getLong(run1.fieldIndex("n_a")) == 20L)
    assert(run1.getLong(run1.fieldIndex("n_b")) == 20L)
    assert(run1.getLong(run1.fieldIndex("n_replicas")) == 8L)
    val extreme = run1.getLong(run1.fieldIndex("n_as_extreme"))
    assert(extreme >= 0L && extreme <= 8L, run1.toString)
    // mean_a − mean_b = (10+21.5...) hand check: a values 12,14,..,50
    // mean 31; b values 2,4,...,40 mean 21 → diff 10.
    assert(run1.getDouble(run1.fieldIndex("diff_obs")) == 10.0, run1.toString)
  }

  test("permutationTest: zero observed diff → every valid replica is as extreme") {
    val df = (1 to 20).map(i => (i.toLong, if (i <= 10) "a" else "b",
      (i % 10).toDouble)).toDF("id", "g", "v")
    val r = Stats.permutationTest(df, "id", "g", "v", "a", "b", replicas = 8)
      .collect().head
    assert(r.getDouble(r.fieldIndex("diff_obs")) == 0.0)
    // |db| ≥ 0 always holds, so only null-armed replicas can miss.
    assert(r.getLong(r.fieldIndex("n_as_extreme")) ==
      r.getLong(r.fieldIndex("n_replicas")), r.toString)
  }

  // ---- Lift curve ---------------------------------------------------------

  test("liftCurve: positives concentrated at the top give monotone lift") {
    // Scores 10..1, the two best are positive; 5 buckets of 2.
    val df = (1 to 10).map(i => (i.toLong, (11 - i).toDouble, i <= 2))
      .toDF("id", "score", "label")
    val got = Stats.liftCurve(df, col("label"), "score", "id", buckets = 5)
      .orderBy("bucket")
      .select("bucket", "n", "positives", "cum_positives",
        "capture_rate", "lift")
      .as[(Int, Long, Long, Long, Double, Double)].collect()
    assert(got.length == 5)
    assert(got(0) == ((1, 2L, 2L, 2L, 1.0, 5.0)), got(0).toString)
    assert(got(1) == ((2, 2L, 0L, 2L, 1.0, 2.5)), got(1).toString)
    assert(got(4) == ((5, 2L, 0L, 2L, 1.0, 1.0)), got(4).toString)
  }

  // ---- Source vocab Jaccard ------------------------------------------------

  test("sourceVocabJaccard: overlap counted on per-source top-V sets; disjoint pairs 0") {
    val docs = Seq((1L, "a b c", "s1"), (2L, "a b d", "s2"), (3L, "x", "s3"))
      .toDF("doc_id", "text", "source")
    val got = TextAnalysis.sourceVocabJaccard(docs, "text", "source", v = 10)
      .as[(String, String, Long, Long, Long, Double)].collect()
      .map(t => (t._1, t._2) -> t).toMap
    assert(got(("s1", "s2")) == (("s1", "s2", 3L, 3L, 2L, 0.5)))
    assert(got(("s1", "s3")) == (("s1", "s3", 3L, 1L, 0L, 0.0)))
    assert(got(("s2", "s3")) == (("s2", "s3", 3L, 1L, 0L, 0.0)))
  }

  test("sourceVocabJaccard: V caps each side's vocabulary") {
    // s1 has 4 words but V=2 keeps the 2 most frequent (count desc,
    // word asc): "b"(2), then "a"(1) by the tie-break among {a,c,d}.
    val docs = Seq((1L, "b b a c d", "s1"), (2L, "a b", "s2"))
      .toDF("doc_id", "text", "source")
    val got = TextAnalysis.sourceVocabJaccard(docs, "text", "source", v = 2)
      .as[(String, String, Long, Long, Long, Double)].collect().head
    assert(got == (("s1", "s2", 2L, 2L, 2L, 1.0)), got.toString)
  }

  // ---- Krippendorff's alpha -----------------------------------------------

  test("krippendorffAlpha: perfect agreement 1, systematic disagreement −0.5") {
    val perfect = Seq((1L, "a"), (1L, "a"), (2L, "b"), (2L, "b"))
      .toDF("item", "cat")
    val p = graft.ops.Stats.krippendorffAlpha(perfect, "item", "cat")
      .as[(Long, Long, Double)].collect().head
    assert(p == ((2L, 4L, 1.0)), p.toString)
    // Two items, each split a/b: D_o = 4, D_e = 8/3 → α = −0.5.
    val split = Seq((1L, "a"), (1L, "b"), (2L, "a"), (2L, "b"))
      .toDF("item", "cat")
    val s = graft.ops.Stats.krippendorffAlpha(split, "item", "cat")
      .as[(Long, Long, Double)].collect().head
    assert(s == ((2L, 4L, -0.5)), s.toString)
  }

  test("krippendorffAlpha: single-judgment items drop from counts AND margins") {
    val df = Seq((1L, "a"), (1L, "a"), (2L, "b"), (2L, "b"), (3L, "c"))
      .toDF("item", "cat")
    val r = graft.ops.Stats.krippendorffAlpha(df, "item", "cat")
      .as[(Long, Long, Double)].collect().head
    // Item 3 pins nothing: identical to the perfect-agreement case.
    assert(r == ((2L, 4L, 1.0)), r.toString)
  }

  // ---- Funnel time-to-convert ----------------------------------------------

  test("timeToConvertSummary: exact nearest-rank median over converters") {
    val ev = Seq(
      (1L, 0L, "view"), (1L, 10L, "click"), (1L, 100L, "purchase"),
      (2L, 0L, "view"), (2L, 5L, "click"), (2L, 50L, "purchase"),
      (3L, 0L, "view") // never converts
    ).toDF("user_id", "secs", "event_type")
      .withColumn("ts", timestamp_seconds(col("secs")))
    val got = graft.ops.Funnel.timeToConvertSummary(ev, "user_id", "ts",
        "event_type", Seq("view", "click", "purchase"), windowSec = 86400L)
      .as[(Long, Double, Double, Double, Double)].collect().head
    // n=2; rank (2+1) div 2 = 1 → p50 is the LOWER middle (50 s).
    assert(got == ((2L, 75.0, 50.0, 100.0, 50.0)), got.toString)
  }

  test("timeToConvertSummary: zero converters → one row of nulls, not zero rows") {
    val ev = Seq((1L, 0L, "view")).toDF("user_id", "secs", "event_type")
      .withColumn("ts", timestamp_seconds(col("secs")))
    val rows = graft.ops.Funnel.timeToConvertSummary(ev, "user_id", "ts",
      "event_type", Seq("view", "click", "purchase"), 86400L).collect()
    assert(rows.length == 1 && rows.head.getLong(0) == 0L &&
      rows.head.isNullAt(4), rows.mkString)
  }

  // ---- Clustering coefficient ------------------------------------------------

  test("clusteringCoefficient: triangle corners score by (deg choose 2); pendant null") {
    val edges = Seq(("a", "b"), ("b", "c"), ("a", "c"), ("a", "d"))
      .toDF("src", "dst")
    val got = graft.ops.Graph.clusteringCoefficient(edges, "src", "dst")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getDouble(3))))).toMap
    assert(got("a") == ((3L, 1L, Some(0.333333))), got("a").toString)
    assert(got("b") == ((2L, 1L, Some(1.0))))
    assert(got("c") == ((2L, 1L, Some(1.0))))
    assert(got("d") == ((1L, 0L, None)), got("d").toString)
  }

  // ---- jaccardPairsPrefix density valve --------------------------------------

  test("jaccardPairsPrefix maxDf: hot tokens drop from sets before any join") {
    val sh = Seq(
      (1L, "h"), (1L, "a"), (1L, "b"),
      (2L, "h"), (2L, "a"), (2L, "b"),
      (3L, "h"), (3L, "x"), (3L, "y")
    ).toDF("doc_id", "shingle")
    // Uncapped: (1,2) share {h,a,b} of union 3 → J=1.0, inter=3.
    val exact = graft.ops.Dedup.jaccardPairsPrefix(sh, "doc_id", 0.5)
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(exact == Set((1L, 2L, 3L, 1.0)), exact.toString)
    // Capped at df ≤ 2: 'h' (df 3) drops from all sets → (1,2) still
    // J=1.0 on the reduced sets {a,b}; (1,3)/(2,3) share nothing.
    val capped = graft.ops.Dedup.jaccardPairsPrefix(sh, "doc_id", 0.5,
        maxDf = Some(2L))
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(capped == Set((1L, 2L, 2L, 1.0)), capped.toString)
  }

  // ---- Whitening ----------------------------------------------------------

  test("whitenDiagonal: per-dim standardization; dead dims zero out") {
    val emb = Seq((1L, Seq(1.0f, 10.0f, 5.0f)), (2L, Seq(3.0f, 30.0f, 5.0f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.whitenDiagonal(emb, "vec_id", "embedding")
      .orderBy("vec_id")
      .select("vec_id", "n_dims", "whitened")
      .as[(Long, Int, Seq[Double])].collect()
    // dims 0/1: {1,3}/{10,30} standardized → ∓1/√2 = ∓0.707107;
    // dim 2 constant → σ=0 → dead → 0.0.
    assert(got(0) == ((1L, 3, Seq(-0.707107, -0.707107, 0.0))), got(0).toString)
    assert(got(1) == ((2L, 3, Seq(0.707107, 0.707107, 0.0))), got(1).toString)
  }
}
