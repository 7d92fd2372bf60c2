package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Dedup, OpCaches, Stats}

/** Signature store and quantile PSI: the signature-store incremental LSH
  * probe and the reference-quantile PSI binning.
  *
  * The class keeps its earlier name: suite class plus test name is each
  * test's id in the suite's reports and history.
  */
class Round14OpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // ---- incremental signature-store probe ---------------------------------

  test("signature-store probe finds planted near-dups from signatures alone") {
    val history = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight again"),
      (2L, "completely different historical words entirely unrelated here"),
      (3L, "one two three four five six seven eight nine ten")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (101L, "the quick brown fox jumps over the lazy dog tonight again"), // = 1
      (102L, "one two three four five six seven eight nine eleven"),       // ~ 3
      (103L, "nothing in common with anything stored so far at all")
    ).toDF("doc_id", "text")
    val store = Dedup.minhashStore(history, "doc_id", "text")
    // The store is signature-sized: exactly nPerms rows per doc, no text.
    assert(store.columns.toSet == Set("doc_id", "perm", "mh"))
    assert(store.groupBy("doc_id").count().as[(Long, Long)].collect()
      .forall(_._2 == 16L))
    val got = Dedup.incrementalPairsSignatureStore(batch, store, "doc_id",
        "text", minJaccardEst = 0.5)
      .collect()
    val pairs = got.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((101L, 1L)), s"identical pair must estimate 1.0: $pairs")
    // Identical docs agree on every permutation by construction.
    val exact = got.find(r => r.getLong(0) == 101L && r.getLong(1) == 1L).get
    assert(exact.getAs[Long]("n_match") == 16L &&
      exact.getAs[Double]("jaccard_est") == 1.0)
    assert(got.forall(r => r.getAs[Int]("bands") == 8 &&
      r.getAs[Int]("rows_per_band") == 2), "planner pick at t=0.5 is (8, 2)")
    assert(!pairs.exists(_._1 == 103L), s"unrelated doc must not pair: $pairs")
    // 102 vs 3: 8 of 10 words shared -> high estimate expected; whether it
    // crosses 0.5 depends on the hash draw, but it must never pair with
    // the unrelated history docs.
    assert(!pairs.contains((102L, 1L)) && !pairs.contains((102L, 2L)), pairs)
    OpCaches.releaseAll()
  }

  test("signature-store estimate tracks exact Jaccard on shared fixtures") {
    // For every emitted pair, |estimate - exact J| should be small for
    // k = 64 perms (sigma = sqrt(J(1-J)/k) <= 0.0625) on clear-cut pairs.
    val docs = (1L to 6L).map { i =>
      val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
      (i, if (i % 2 == 0) base else base + s" unique$i tail$i close$i")
    }.toDF("doc_id", "text")
    val history = docs.filter(col("doc_id") <= 3)
    val batch = docs.filter(col("doc_id") > 3)
    val store = Dedup.minhashStore(history, "doc_id", "text", nPerms = 64)
    val est = Dedup.incrementalPairsSignatureStore(batch, store, "doc_id",
        "text", minJaccardEst = 0.3, nPerms = 64)
      .select(col("new_id"), col("corpus_id"), col("jaccard_est"))
      .as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    val exact = Dedup.incrementalPairs(batch, history, "doc_id", "text",
        minJaccard = 0.01, maxDocFrequency = None)
      .select(col("new_id"), col("corpus_id"), col("jaccard"))
      .as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(est.nonEmpty)
    est.foreach { case (pair, e) =>
      val j = exact.getOrElse(pair, 0.0)
      assert(math.abs(e - j) <= 0.25, s"$pair est=$e exact=$j")
    }
    OpCaches.releaseAll()
  }

  test("signature-store probe REJECTS a store built with mismatched perms") {
    // Round-14 advice #5: the (nPerms) consistency contract is enforced,
    // not just documented — a store built with fewer perms than the probe
    // would silently bias jaccard_est low (n_match divides by the probe's
    // k while only the store's perms can match).
    val history = Seq((1L, "one two three four five six seven eight"))
      .toDF("doc_id", "text")
    val batch = Seq((2L, "one two three four five six seven nine"))
      .toDF("doc_id", "text")
    val store8 = Dedup.minhashStore(history, "doc_id", "text", nPerms = 8)
    val ex = intercept[IllegalArgumentException] {
      Dedup.incrementalPairsSignatureStore(batch, store8, "doc_id", "text",
        minJaccardEst = 0.5, nPerms = 16).collect()
    }
    assert(ex.getMessage.contains("permutation mismatch"), ex.getMessage)
    OpCaches.releaseAll()
    // MIXED store (r15 advice): a store concatenated from an 8-perm and
    // a 16-perm build — any single sampled doc from the 16-perm half
    // would look healthy, but the full-store rows = docs × nPerms check
    // must still reject (the 8-perm docs would bias jaccard_est low).
    val mixed = store8.unionByName(
      Dedup.minhashStore(
        Seq((9L, "nine ten eleven twelve thirteen fourteen fifteen sixteen"))
          .toDF("doc_id", "text"), "doc_id", "text", nPerms = 16))
    val exMixed = intercept[IllegalArgumentException] {
      Dedup.incrementalPairsSignatureStore(batch, mixed, "doc_id", "text",
        minJaccardEst = 0.5, nPerms = 16).collect()
    }
    assert(exMixed.getMessage.contains("permutation mismatch"),
      exMixed.getMessage)
    OpCaches.releaseAll()
    // The matched build still works.
    val ok = Dedup.incrementalPairsSignatureStore(batch,
      Dedup.minhashStore(history, "doc_id", "text", nPerms = 16),
      "doc_id", "text", minJaccardEst = 0.3, nPerms = 16).collect()
    assert(ok.nonEmpty)
    OpCaches.releaseAll()
  }

  // ---- quantile-binned PSI ------------------------------------------------

  test("psiByGroupQuantile: identical snapshots read ~0; a bulk shift is seen") {
    // Heavy-tailed column: 95% of mass in [0, 10], a tail at 1000+.
    // The CURRENT snapshot shifts the BULK (x -> x + 3) while the tail is
    // unchanged — the drift fixed-width binning is numb to (all bulk mass
    // sits in bin 0 of the 0..1000 range either way).
    def frame(shift: Double) = (1 to 400).map { i =>
      val v = if (i % 20 == 0) 1000.0 + i else (i % 10).toDouble + shift
      ("s0", v)
    }.toDF("source", "v")
    val ref = frame(0.0)
    val same = Stats.psiByGroupQuantile(ref, frame(0.0), "v", "source")
      .select("psi").as[Double].collect().head
    assert(same == 0.0, s"identical snapshots must read 0: $same")
    val shifted = Stats.psiByGroupQuantile(ref, frame(3.0), "v", "source")
      .select("psi").as[Double].collect().head
    val fixedWidth = Stats.psiByGroup(ref, frame(3.0), "v", "source")
      .select("psi").as[Double].collect().head
    assert(shifted > 0.25, s"quantile bins must see the bulk shift: $shifted")
    assert(shifted > 4 * fixedWidth,
      s"fixed-width bins are numb to it (quantile=$shifted fixed=$fixedWidth)")
    OpCaches.releaseAll()
  }

  test("psiByGroupQuantile bins by exact reference order statistics") {
    // 10 values 1..10 in ref, bins=2: edge rank = ceil(10*1/2) = 5 ->
    // edge value 5; cur values <= 5 land in bin 0, > 5 in bin 1.
    val ref = (1 to 10).map(i => ("g", i.toDouble)).toDF("source", "v")
    val cur = Seq(("g", 5.0), ("g", 5.0), ("g", 6.0)).toDF("source", "v")
    val psi = Stats.psiByGroupQuantile(ref, cur, "v", "source", bins = 2)
      .select("psi").as[Double].collect().head
    // Hand computation: ref bins (5, 5); cur bins (2, 1).
    val p0 = (5 + 0.5) / (10 + 1.0); val p1 = (5 + 0.5) / (10 + 1.0)
    val q0 = (2 + 0.5) / (3 + 1.0); val q1 = (1 + 0.5) / (3 + 1.0)
    def t(p: Double, q: Double) =
      BigDecimal((p - q) * math.log(p / q)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expect = BigDecimal(t(p0, q0) + t(p1, q1))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(math.abs(psi - expect) < 1e-9, s"psi=$psi expect=$expect")
    OpCaches.releaseAll()
  }
}
