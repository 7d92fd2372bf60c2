package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Dedup, Similarity, Stats}

/** LSH banding and group drift: the LSH banding planner CONSUMED by
  * execution (bandsFor → minhashSignaturesPlanned → nearDuplicates, the
  * round-12 verdict's #1 item; since round 14 the planner IS
  * nearDuplicates' default banding path), truncated re-rank kNN, per-group
  * JS and embedding drift, and the leakage-safe split.
  *
  * The class keeps its earlier name: suite class plus test name is each
  * test's id in the suite's reports and history.
  */
class Round13OpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // ---- bandsFor: the closed-form pick ----------------------------------

  test("bandsFor picks the divisor split whose S-curve midpoint is closest") {
    // 16 perms, t=0.7: midpoints are 1.0 (1x16), 0.9170 (2x8),
    // 0.7071 (4x4), 0.3536 (8x2), 0.0625 (16x1) -> (4, 4).
    val p = Dedup.bandsFor(16, 0.7)
    assert(p.bands == 4 && p.rowsPerBand == 4, p.toString)
    assert(math.abs(p.tMid - 0.70710678) < 1e-8, p.toString)
    // High threshold favors few bands x many rows.
    assert(Dedup.bandsFor(16, 0.95).bands == 2)
    // Low threshold favors many bands x few rows.
    assert(Dedup.bandsFor(16, 0.3).bands == 8)
  }

  test("bandsFor agrees with lshPlan's decision table (argmin over t_mid)") {
    // The planner table and the driver-side pick must encode the SAME
    // closed form: for each threshold, the argmin |t_mid - t| row of
    // lshPlan (ties toward more bands) is exactly bandsFor's pick.
    val thresholds = Seq(0.5, 0.7, 0.8, 0.9)
    val table = Dedup.lshPlan(spark, nPerms = 128, thresholds = thresholds)
      .collect()
    for (t <- thresholds) {
      val best = table.filter(_.getDouble(2) == t)
        .minBy(r => (math.abs(r.getDouble(4) - t), -r.getInt(0)))
      val pick = Dedup.bandsFor(128, t)
      assert(pick.bands == best.getInt(0) &&
        pick.rowsPerBand == best.getInt(1),
        s"t=$t: table says (${best.getInt(0)}, ${best.getInt(1)}), " +
          s"bandsFor says $pick")
    }
  }

  // ---- planned signatures / planned near-duplicates ---------------------

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy cat"), // near-dup of 1
    (3L, "completely different words entirely here now"),
    (4L, "the quick brown fox jumps over the lazy dog")  // exact dup of 1
  ).toDF("doc_id", "text")

  test("minhashSignaturesPlanned emits exactly `bands` buckets per doc") {
    val plan = Dedup.bandsFor(16, 0.7)
    val sh = Dedup.shingleSets(docs, "doc_id", "text")
    val sig = Dedup.minhashSignaturesPlanned(sh, "doc_id", plan)
    val perDoc = sig.groupBy("doc_id").count()
      .as[(Long, Long)].collect().toMap
    assert(perDoc == Map(1L -> 4L, 2L -> 4L, 3L -> 4L, 4L -> 4L), perDoc)
    // Bucket key = rowsPerBand concatenated 8-hex-char minima.
    val lens = sig.select(length(col("minhash"))).as[Int].collect().toSet
    assert(lens == Set(8 * plan.rowsPerBand), lens)
    // Identical docs (1, 4) agree on every band's bucket.
    val b1 = sig.filter(col("doc_id") === 1L)
      .select("band", "minhash").as[(Int, String)].collect().toSet
    val b4 = sig.filter(col("doc_id") === 4L)
      .select("band", "minhash").as[(Int, String)].collect().toSet
    assert(b1 == b4)
  }

  test("nearDuplicates default path: executed banding IS the planner's pick") {
    val got = Dedup.nearDuplicates(docs, "doc_id", "text",
      minJaccard = 0.5, nPerms = 16, maxDocFrequency = None)
    val rows = got.collect()
    assert(rows.nonEmpty)
    val plan = Dedup.bandsFor(16, 0.5)
    assert(rows.forall(r => r.getAs[Int]("bands") == plan.bands &&
      r.getAs[Int]("rows_per_band") == plan.rowsPerBand))
    val pairs = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    // The identical pair collides in EVERY band (jaccard 1.0) and must
    // survive; the distinct doc shares no shingle with anything.
    assert(pairs.contains((1L, 4L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
    // Soundness: every emitted pair is a true >=t pair (LSH only ever
    // restricts candidates; verification is exact).
    val sh = Dedup.shingleSets(docs, "doc_id", "text")
    val exact = Dedup.jaccardPairs(sh, "doc_id", minJaccard = 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.subsetOf(exact), s"planned=$pairs exact=$exact")
    graft.ops.OpCaches.releaseAll()
  }

  // ---- matryoshka two-stage re-rank --------------------------------------

  private lazy val vecs = {
    val rnd = new scala.util.Random(42)
    (1L to 40L).map(i => (i, Seq.fill(8)(rnd.nextDouble() * 2 - 1)))
      .toDF("vec_id", "embedding")
  }

  test("truncatedRerankKnn with a full candidate budget IS brute force") {
    // candidates = |corpus| - 1 means the prefix stage prunes nothing, so
    // the full-dim re-rank must reproduce exact kNN bit-for-bit.
    val queries = vecs.filter(col("vec_id") <= 4L)
    val exact = Similarity.bruteForceKnn(vecs, queries, "vec_id",
        "embedding", k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    val rerank = Similarity.truncatedRerankKnn(vecs, queries, "vec_id",
        "embedding", k = 3, prefixDims = 2, candidates = 39)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(rerank == exact)
  }

  test("re-rank recall is >= truncation-only recall per query, same budget") {
    // Within the candidate set, a truth member outranks every non-truth
    // member under the TRUE metric, so the re-rank's top-k keeps every
    // truth hit the candidate stage admitted — truncation-only top-k can
    // only keep a subset of those. (>= holds per query by construction;
    // on a 2-of-8-dim prefix over random vectors the improvement is
    // strict in aggregate.)
    val queries = vecs.filter(col("vec_id") <= 8L)
    def trunc(df: org.apache.spark.sql.DataFrame) = df.select(
      col("vec_id"), slice(col("embedding"), 1, 2).as("embedding"))
    val truth = Similarity.bruteForceKnn(vecs, queries, "vec_id",
      "embedding", k = 3)
    val truncOnly = Similarity.recallAtK(
      Similarity.bruteForceKnn(trunc(vecs), trunc(queries), "vec_id",
        "embedding", k = 3), truth, k = 3)
      .select("query_id", "recall").as[(Long, Double)].collect().toMap
    val rerank = Similarity.recallAtK(
      Similarity.truncatedRerankKnn(vecs, queries, "vec_id", "embedding",
        k = 3, prefixDims = 2, candidates = 3), truth, k = 3)
      .select("query_id", "recall").as[(Long, Double)].collect().toMap
    // Same budget (candidates = k = 3): identical candidate set, so the
    // re-rank can only reorder WITHIN it — recall is equal per query.
    assert(rerank == truncOnly, s"rerank=$rerank trunc=$truncOnly")
    // A 4x budget dominates truncation-only everywhere and strictly in sum.
    val rerank12 = Similarity.recallAtK(
      Similarity.truncatedRerankKnn(vecs, queries, "vec_id", "embedding",
        k = 3, prefixDims = 2, candidates = 12), truth, k = 3)
      .select("query_id", "recall").as[(Long, Double)].collect().toMap
    assert(rerank12.forall { case (q, r) => r >= truncOnly(q) }, rerank12)
    assert(rerank12.values.sum > truncOnly.values.sum,
      s"rerank12=$rerank12 trunc=$truncOnly")
  }

  // ---- one-pass planned LSH ----------------------------------------------

  test("nearDuplicatesPlannedOnePass: planner banding, sound pairs, planted dups") {
    val got = Dedup.nearDuplicatesPlannedOnePass(docs, "doc_id", "text",
      minJaccard = 0.5, nPerms = 64, maxDocFrequency = None)
    val rows = got.collect()
    val plan = Dedup.bandsFor(64, 0.5)
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getAs[Int]("bands") == plan.bands &&
      r.getAs[Int]("rows_per_band") == plan.rowsPerBand))
    val pairs = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 4L))) // identical pair collides in every band
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
    val sh = Dedup.shingleSets(docs, "doc_id", "text")
    val exact = Dedup.jaccardPairs(sh, "doc_id", minJaccard = 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.subsetOf(exact), s"onepass=$pairs exact=$exact")
    graft.ops.OpCaches.releaseAll()
  }

  // ---- jsByGroup (categorical drift) --------------------------------------

  test("jsByGroup: hand-computed per-group JS, bounded by ln 2") {
    // Group a: ref (x,x,y) vs cur (x,y,y) -> JS = (2/3)ln(4/3) +
    // (1/3)ln(2/3) = 0.056633. Group b identical -> 0. Group c disjoint
    // categories -> the ln 2 maximum.
    val ref = Seq(("a", "x"), ("a", "x"), ("a", "y"), ("b", "u"), ("b", "v"),
      ("c", "z")).toDF("g", "cat")
    val cur = Seq(("a", "x"), ("a", "y"), ("a", "y"), ("b", "u"), ("b", "v"),
      ("c", "w")).toDF("g", "cat")
    val got = Stats.jsByGroup(ref, cur, "cat", "g")
      .select("g", "js").as[(String, Double)].collect().toMap
    assert(got == Map("a" -> 0.056633, "b" -> 0.0, "c" -> 0.693147),
      got.toString)
  }

  test("jsByGroup: group present on one side only is maximal drift, not absent") {
    val ref = Seq(("a", "x")).toDF("g", "cat")
    val cur = Seq(("a", "x"), ("new", "x")).toDF("g", "cat")
    val got = Stats.jsByGroup(ref, cur, "cat", "g")
      .as[(String, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got("a") == ((1L, 1L, 0.0)), got.toString)
    // 'new' has no reference mass: p = 0 everywhere, q = 1 on x ->
    // JS = 0.5 ln 2 = 0.346574.
    assert(got("new") == ((0L, 1L, 0.346574)), got.toString)
  }

  // ---- embeddingDriftByGroup ----------------------------------------------

  test("embeddingDriftByGroup separates direction drift from scale drift") {
    val ref = Seq(
      ("a", Seq(1.0f, 0.0f)), ("a", Seq(1.0f, 0.0f)),
      ("b", Seq(0.0f, 2.0f)), ("b", Seq(0.0f, 2.0f)),
      ("c", Seq(3.0f, 4.0f))).toDF("g", "vec")
    val cur = Seq(
      ("a", Seq(2.0f, 0.0f)), ("a", Seq(2.0f, 0.0f)), // scale x2, same dir
      ("b", Seq(2.0f, 0.0f)), ("b", Seq(2.0f, 0.0f)), // orthogonal rotation
      ("c", Seq(-3.0f, -4.0f))).toDF("g", "vec")      // exact flip
    val got = graft.ops.EmbeddingEval
      .embeddingDriftByGroup(ref, cur, "vec", "g")
      .select("g", "n_ref", "n_cur", "centroid_cosine", "norm_ratio")
      .as[(String, Long, Long, Double, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(got("a") == ((2L, 2L, 1.0, 2.0)), got.toString)   // pure scale
    assert(got("b") == ((2L, 2L, 0.0, 1.0)), got.toString)   // pure direction
    assert(got("c") == ((1L, 1L, -1.0, 1.0)), got.toString)  // flip
  }

  test("embeddingDriftByGroup: identical snapshots are the (1, 1) fixpoint") {
    val df = vecs.withColumn("g", (col("vec_id") % 3).cast("string"))
    val got = graft.ops.EmbeddingEval
      .embeddingDriftByGroup(df, df, "embedding", "g")
      .select("centroid_cosine", "norm_ratio")
      .as[(Double, Double)].collect().toSet
    assert(got == Set((1.0, 1.0)), got.toString)
  }

  // ---- leakage-safe split -------------------------------------------------

  test("leakageSafeSplit: no near-dup cluster ever crosses the split boundary") {
    // 30 docs in 10 near-dup clusters of 3 (ids i, i+100, i+200 share a
    // planted pair chain) — a doc-LEVEL hash split provably tears some
    // cluster across train/eval; the cluster-level split never does.
    val docs = (1L to 10L).flatMap(i => Seq(i, i + 100, i + 200))
      .toDF("doc_id")
    val pairs = (1L to 10L).flatMap(i =>
      Seq((i, i + 100), (i + 100, i + 200))).toDF("doc_a", "doc_b")
    val got = Dedup.leakageSafeSplit(docs, pairs, "doc_id",
        evalFraction = 0.4)
      .select("doc_id", "cluster_id", "split")
      .as[(Long, Long, String)].collect()
    assert(got.length == 30)
    // Every member adopted the cluster minimum, and split is constant
    // per cluster.
    val byCluster = got.groupBy(_._2)
    assert(byCluster.keySet == (1L to 10L).toSet, byCluster.keySet)
    byCluster.foreach { case (cid, rows) =>
      assert(rows.map(_._1).toSet == Set(cid, cid + 100, cid + 200))
      assert(rows.map(_._3).toSet.size == 1,
        s"cluster $cid torn across splits: $rows")
    }
    // Both splits are populated (0.4 over 10 cluster hashes).
    assert(got.map(_._3).toSet == Set("train", "eval"))
    // The doc-level hash split WOULD leak: some cluster gets both labels.
    val docSplit = docs.select(col("doc_id"),
        when(graft.ops.Sampling.keyUniform(col("doc_id")) < 0.4, lit("eval"))
          .otherwise(lit("train")).as("split"))
      .as[(Long, String)].collect().toMap
    val leaked = got.groupBy(_._2).values
      .exists(rows => rows.map(r => docSplit(r._1)).toSet.size == 2)
    assert(leaked, "fixture must demonstrate the doc-level leak")
    graft.ops.OpCaches.releaseAll()
  }
}
