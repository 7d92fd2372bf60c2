package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Dedup, Similarity, TextAnalysis}

class DedupSimilaritySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy cat"), // near-dup of 1
    (3L, "completely different words entirely here now"),
    (4L, "the quick brown fox jumps over the lazy dog")  // exact dup of 1
  ).toDF("doc_id", "text")

  test("exact dedup groups identical texts (keep-min id)") {
    val got = Dedup.exact(docs, "doc_id", "text")
      .select("canonical_id", "n_copies")
      .as[(Long, Long)].collect().sortBy(_._1).toSeq
    assert(got == Seq((1L, 2L), (2L, 1L), (3L, 1L)))
  }

  test("near-duplicate pipeline finds the planted pair and not the distinct doc") {
    // Capping off: at 4 docs every shared shingle exceeds any df fraction,
    // and this test exercises the verification logic, not the skew guard.
    val pairs = Dedup.nearDuplicates(docs, "doc_id", "text", minJaccard = 0.5,
        maxDocFrequency = None)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 4L))) // identical → jaccard 1.0
    assert(pairs.contains((1L, 2L)) && pairs.contains((2L, 4L))) // one word差
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("jaccardPairsPrefix is LOSSLESS: identical output to all-pairs jaccardPairs") {
    // 40 users over a small cell vocabulary with one corpus-wide hot cell
    // (every user visits cell "H") — the case the prefix filter exists for.
    // The prefix join must still return EXACTLY the pairs the ground-truth
    // all-pairs join returns, at several thresholds including ones where
    // the hot cell alone cannot satisfy the prefix condition.
    val rnd = new scala.util.Random(7)
    val rows = (1 to 40).flatMap { u =>
      val cells = Seq("H") ++ (1 to (3 + rnd.nextInt(5))).map(_ => s"c${rnd.nextInt(12)}")
      cells.distinct.map(c => (u.toLong, c))
    }.toDF("doc_id", "shingle")
    for (t <- Seq(0.3, 0.5, 0.8)) {
      val exact = Dedup.jaccardPairs(rows, "doc_id", t)
        .select("doc_a", "doc_b", "inter").as[(Long, Long, Long)].collect().toSet
      val prefix = Dedup.jaccardPairsPrefix(rows, "doc_id", t)
        .select("doc_a", "doc_b", "inter").as[(Long, Long, Long)].collect().toSet
      assert(prefix == exact, s"threshold $t: prefix-filtered result diverged")
    }
    graft.ops.OpCaches.releaseAll()
  }

  test("prefix filter keeps candidate count below the all-pairs space on a hot cell") {
    // 60 users ALL share one cell; besides it each has a private cell, so
    // no pair reaches J >= 0.5. All-pairs candidate space via the hot cell
    // would be C(60,2)=1770; with prefix length 1 + df-asc ordering, every
    // user's prefix is its PRIVATE cell (df=1 sorts before df=60), so the
    // candidate join produces zero pairs.
    val rows = (1 to 60).flatMap(u => Seq((u.toLong, "HOT"), (u.toLong, s"p$u")))
      .toDF("doc_id", "shingle")
    val got = Dedup.jaccardPairsPrefix(rows, "doc_id", 0.5).count()
    assert(got == 0)
    graft.ops.OpCaches.releaseAll()
  }

  test("hot-shingle cap drops corpus-wide stop-shingles before joins") {
    // 'the quick brown' etc. appear in 3 of 4 docs (75%); cap at 50%.
    val sh = Dedup.shingleSets(docs, "doc_id", "text", maxDocFrequency = Some(0.5))
    val remainingDf = sh.groupBy("shingle").count()
      .agg(org.apache.spark.sql.functions.max("count")).head().getLong(0)
    assert(remainingDf <= 2, "no shingle may remain in >50% of the 4 docs")
    assert(sh.count() > 0)
  }

  test("nearDuplicates' default cap prevents hot-shingle candidate blowup") {
    // 30 docs share a boilerplate phrase (df = 100%) but are otherwise
    // unique; docs 31/32 are a genuine near-dup pair with private shingles.
    // Uncapped, the boilerplate makes EVERY doc pair an LSH candidate
    // (O(N²) blowup); the default 10% cap drops those shingles before any
    // join while the true pair (df = 2 ≤ 3) survives verification.
    val boiler = "all rights reserved by the corpus publisher institute ltd"
    val hotDocs = ((1 to 30).map(i =>
      (i.toLong, s"alpha$i beta$i gamma$i delta$i epsilon$i $boiler")) ++ Seq(
      (31L, "the festival parade gathers near the old harbor lighthouse every summer"),
      (32L, "the festival parade gathers near the old harbor lighthouse every winter")))
      .toDF("doc_id", "text")
    def candidates(maxDf: Option[Double]) =
      Dedup.lshCandidates(Dedup.minhashSignatures(
        Dedup.shingleSets(hotDocs, "doc_id", "text", maxDocFrequency = maxDf),
        "doc_id"), "doc_id").count()
    val uncapped = candidates(None)
    val capped = candidates(Some(0.1))
    // (A doc's unique shingles can beat the boilerplate in a band's min, so
    // not every pair collides — but the blowup is still O(N²)-order.)
    assert(uncapped > 300, s"boilerplate must candidate most pairs: $uncapped")
    assert(capped <= 5, s"cap must collapse the candidate blowup: $capped")
    val pairs = Dedup.nearDuplicates(hotDocs, "doc_id", "text", minJaccard = 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((31L, 32L)), s"true pair must survive the cap: $pairs")
  }

  test("containmentPairs' cap drops boilerplate-only pairs; denominators stay pre-cap") {
    // 30 docs share only a boilerplate shingle (df ~ 94%); docs 31/32 are a
    // genuine containment pair through private shingles AND carry the
    // boilerplate, so the cap must (a) kill the O(N²) boilerplate-only
    // pairs, (b) keep the true pair, (c) divide by the UNCAPPED set size.
    val boiler = "h1 h2 h3"
    val cdocs = ((1 to 30).map(i => (i.toLong, s"a$i b$i c$i $boiler")) ++ Seq(
      (31L, s"p1 p2 p3 p4 p5 $boiler"),
      (32L, s"p1 p2 p3 p4 p5 q6 $boiler"))).toDF("doc_id", "text")
    val sh = Dedup.shingleSets(cdocs, "doc_id", "text")
    def run(maxDf: Option[Double]) =
      Dedup.containmentPairs(sh, "doc_id", minContainment = 0.2,
        maxDocFrequency = maxDf)
    // Uncapped, the shared shingle alone pairs all 30 boilerplate docs
    // (cont = 1/4 = 0.25 ≥ 0.2): C(30,2) = 435 junk pairs.
    assert(run(None).count() > 400)
    val capped = run(Some(0.1)).collect()
    assert(capped.length == 1, s"only the true pair survives: ${capped.toSeq}")
    val r = capped.head
    assert(r.getLong(0) == 31L && r.getLong(1) == 32L)
    // doc31 has 6 uncapped shingles; capped intersection = 3 private ones.
    // cont_a = 3/6 (pre-cap denominator) — a post-cap denominator would
    // report 3/5 = 0.6.
    assert(r.getAs[Long]("inter") == 3L)
    assert(r.getAs[Double]("cont_a") == 0.5)
    assert(math.abs(r.getAs[Double]("cont_b") - 3.0 / 7) < 1e-12)
  }

  test("df-cap threshold counts ALL docs, including ones too short to shingle") {
    // 4 docs share one 3-gram (df = 4) plus 4 docs too short to produce any
    // shingle. With maxDf = 0.5 the threshold over ALL 8 docs is 4 (shingle
    // kept: 4 > 4 is false); over only the 4 shingled docs it would be 2
    // (shingle dropped) — the oracle counts all documents, so must we.
    val cdocs = ((1 to 4).map(i => (i.toLong, s"c1 c2 c3 u${i}a u${i}b")) ++
      (5 to 8).map(i => (i.toLong, "x y"))).toDF("doc_id", "text")
    val sh = Dedup.shingleSets(cdocs, "doc_id", "text")
    val withDocs = Dedup.containmentPairs(sh, "doc_id", minContainment = 0.1,
      maxDocFrequency = Some(0.5), docs = Some(cdocs)).count()
    assert(withDocs == 6, s"shared shingle survives the all-docs threshold: $withDocs")
    val shingledOnly = Dedup.containmentPairs(sh, "doc_id", minContainment = 0.1,
      maxDocFrequency = Some(0.5)).count()
    assert(shingledOnly == 0, "fallback threshold counts only shingled docs")
  }

  test("simhash of identical docs is identical; near-dups are hamming-close") {
    val sh = Dedup.simhash(docs, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    assert(sh(1L) == sh(4L))
    val hamming = java.lang.Long.bitCount(sh(1L) ^ sh(2L))
    val hammingFar = java.lang.Long.bitCount(sh(1L) ^ sh(3L))
    assert(hamming <= hammingFar)
  }

  test("connected components collapse transitive near-dup chains (both paths)") {
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 9L)).toDF("doc_a", "doc_b")
    val expect = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 9L -> 7L)
    val local = Dedup.clusters(pairs).as[(Long, Long)].collect().toMap
    assert(local == expect)
    // driverPairLimit=0 forces the distributed propagation path
    val dist = Dedup.clusters(pairs, driverPairLimit = 0)
      .as[(Long, Long)].collect().toMap
    assert(dist == expect)
  }

  test("distributed components converge in ~log2(diameter) rounds on a 100k-edge graph") {
    // The worst case for min-label propagation: one chain component whose
    // diameter equals its edge count — plain one-hop propagation would
    // need 65k rounds here; pointer doubling must finish in ~log2.
    val chainN = 65536L
    val chain = (0L until chainN - 1).map(i => (i, i + 1))
    // A second large component (its min id sits at the far end) plus
    // isolated pairs prove labels don't bleed across components.
    val off = 10000000L
    val chain2 = (0L until 30000L).map(i => (off + i, off + i + 1))
    val pairs = (chain ++ chain2 ++ Seq((99000000L, 99000001L)))
      .toDF("doc_a", "doc_b")
    val (labels, rounds) = Dedup.clustersWithRounds(pairs,
      maxIterations = 25, driverPairLimit = 0)
    val bound = (math.log(chainN.toDouble) / math.log(2.0)).ceil.toInt + 2
    assert(rounds <= bound, s"pointer doubling must be log-round: " +
      s"$rounds rounds for diameter $chainN (bound $bound)")
    val got = labels.as[(Long, Long)].collect()
    assert(got.length == chainN + 30001L + 2L)
    got.foreach { case (id, cl) =>
      val expect = if (id < chainN) 0L else if (id >= 99000000L) 99000000L else off
      assert(cl == expect, s"node $id labeled $cl, expected $expect")
    }
  }

  test("language ID picks the marker-rich language") {
    val d = Seq((1L, "the cat and the dog is a pet"),
      (2L, "el la de que y el la"), (3L, "xyz qqq zzz")).toDF("doc_id", "text")
    val got = TextAnalysis.langId(d, "doc_id", "text")
      .select("doc_id", "predicted_lang").as[(Long, String)].collect().toMap
    assert(got(1L) == "en" && got(2L) == "es" && got(3L) == "und")
  }

  test("brute-force kNN ranks an identical vector first") {
    val emb = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(1.0f, 0.0f, 0.0f)),   // identical to 1
      (3L, Array(0.9f, 0.1f, 0.0f)),   // close
      (4L, Array(0.0f, 0.0f, 1.0f))    // orthogonal
    ).toDF("vec_id", "embedding")
    val got = Similarity.bruteForceKnn(emb, emb.filter($"vec_id" === 1), "vec_id",
      "embedding", k = 3)
      .orderBy("rn").select("cand_id").as[Long].collect().toSeq
    assert(got == Seq(2L, 3L, 4L))
  }

  test("multi-probe LSH recovers at least the single-probe candidates; " +
    "recall harness scores perfect recall for identical results") {
    val emb = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)), (2L, Array(1.0f, 0.0f, 0.0f)),
      (3L, Array(0.9f, 0.1f, 0.0f)), (4L, Array(0.0f, 0.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    val q = emb.filter($"vec_id" === 1)
    val single = Similarity.lshKnn(emb, q, "vec_id", "embedding", 4, 4, 3)
      .select("cand_id").as[Long].collect().toSet
    val multi = Similarity.lshKnnMultiProbe(emb, q, "vec_id", "embedding", 4, 4, 3)
      .select("cand_id").as[Long].collect().toSet
    assert(single.subsetOf(multi))
    val truth = Similarity.bruteForceKnn(emb, q, "vec_id", "embedding", 3)
    val recall = Similarity.recallAtK(truth, truth, 3)
      .select("recall").as[Double].head()
    assert(recall == 1.0)
  }

  test("LSH buckets put identical vectors together") {
    val emb = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(1.0f, 0.0f, 0.0f)),
      (3L, Array(-1.0f, 0.5f, 0.2f))
    ).toDF("vec_id", "embedding")
    val got = Similarity.lshKnn(emb, emb.filter($"vec_id" === 1), "vec_id",
      "embedding", k = 5, planes = 4, dims = 3)
      .select("cand_id").as[Long].collect().toSet
    assert(got.contains(2L)) // same bucket guaranteed for identical vectors
  }

  test("multi-table cosine pairs recover at least the single-table pairs") {
    // Table 0 of the AND-OR construction hashes the SAME planes at any
    // table count (offset 0), so tables = 3 mines a superset of the
    // tables = 1 candidates — and therefore of the verified pairs — at
    // equal planes. The extra tables only ever ADD recall.
    val emb = Seq.tabulate(40) { i =>
      (i.toLong, Array.tabulate(8)(j =>
        (math.sin(i * 17 + j * 3) + (if (i % 7 == 0) 2.0 else 0.0)).toFloat))
    }.toDF("vec_id", "embedding")
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val single = pairSet(Similarity.cosinePairsMultiTable(emb, "vec_id",
      "embedding", threshold = 0.5, planes = 3, tables = 1, dims = 8))
    val multi = pairSet(Similarity.cosinePairsMultiTable(emb, "vec_id",
      "embedding", threshold = 0.5, planes = 3, tables = 3, dims = 8))
    assert(single.subsetOf(multi),
      s"missing: ${single.diff(multi)} (single=${single.size}, multi=${multi.size})")
  }

  test("multi-table LSH kNN at production sizing (P=10, T=3) holds the derived recall floor") {
    // A corpus big enough that the 2^10-bucket tables actually separate
    // points (2400 vectors ⇒ ~2.3 per bucket per table): each query's true
    // neighbors are same-cluster perturbations at cosine ≈ 0.99, where
    // 1 − (1 − p^P)^T predicts ≳ 0.9 recall — the SCALE.md sizing rule
    // demonstrated on data, not just derived. Deterministic (sin-based)
    // corpus keeps the asserted floor stable across runs.
    val emb = Seq.tabulate(2400) { i =>
      val c = i / 40 // cluster
      (i.toLong, Array.tabulate(16) { j =>
        (math.sin(c * 31 + j * 7) + 0.05 * math.sin(i * 13 + j * 5)).toFloat
      })
    }.toDF("vec_id", "embedding")
    val q = emb.filter($"vec_id" < 20)
    val truth = Similarity.bruteForceKnn(emb, q, "vec_id", "embedding", k = 3)
    val ann = Similarity.lshKnnMultiTable(emb, q, "vec_id", "embedding",
      k = 3, planes = 10, tables = 3, dims = 16)
    val mean = Similarity.recallAtK(ann, truth, k = 3)
      .agg(org.apache.spark.sql.functions.avg($"recall")).as[Double].head()
    assert(mean >= 0.8, s"mean recall@3 $mean below floor at production sizing")
  }

  test("hash embedding: dense form is the L2-normalized sparse form, total over docs") {
    val d = Seq(
      (1L, "alpha beta gamma alpha"),
      (2L, "alpha beta gamma alpha"), // identical → identical embedding
      (3L, "unrelated totally other words here")
    ).toDF("doc_id", "text")
    val sparse = TextAnalysis.hashEmbeddingSparse(d, "doc_id", "text", dim = 16)
      .as[(Long, Long, Long)].collect()
    // weights are ±1 sums; doc 1 and 2 agree bucket-for-bucket
    val w1 = sparse.filter(_._1 == 1L).map(t => (t._2, t._3)).toMap
    val w2 = sparse.filter(_._1 == 2L).map(t => (t._2, t._3)).toMap
    assert(w1 == w2 && w1.nonEmpty)
    val dense = TextAnalysis.hashEmbedding(d, "doc_id", "text", dim = 16)
      .as[(Long, Array[Float])].collect().toMap
    assert(dense.keySet == Set(1L, 2L, 3L), "embedding must be total over docs")
    dense.values.foreach { v =>
      val n = math.sqrt(v.map(x => x.toDouble * x).sum)
      assert(math.abs(n - 1.0) < 1e-5, s"unit norm expected, got $n")
    }
    assert(dense(1L).toSeq == dense(2L).toSeq)
    // identical docs max-cosine; unrelated doc is far from both
    val cos13 = dense(1L).zip(dense(3L)).map { case (a, b) => a * b }.sum
    assert(cos13 < 0.9)
  }

  test("hashCosinePairs scores identical docs at cos 1.0 via integer math") {
    val d = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "alpha beta gamma delta"),
      (3L, "epsilon zeta eta theta iota kappa")
    ).toDF("doc_id", "text")
    val pairs = Dedup.hashCosinePairs(
        TextAnalysis.hashEmbeddingSparse(d, "doc_id", "text", 16), "doc_id", 0.9)
      .select("doc_a", "doc_b", "cos").as[(Long, Long, Double)].collect().toSeq
    assert(pairs == Seq((1L, 2L, 1.0)))
  }

  test("hashCosinePairs occupancy cap drops hot-bucket-only pairs, keeps exact dot") {
    // Bucket 0 is hot (all 10 docs), bucket 1 cold (docs 1,2). With cap=5
    // candidates may only form in bucket 1 → the sole survivor is (1,2);
    // its dot must still include the HOT bucket's 5·5 term (two-phase
    // contract: the cap bounds candidate work, never the arithmetic).
    val sparse = ((1L to 10L).map(i => (i, 0L, 5L)) ++
      Seq((1L, 1L, 3L), (2L, 1L, 3L))).toDF("doc_id", "bucket", "weight")
    val capped = Dedup.hashCosinePairs(sparse, "doc_id", minCos = 0.0,
        maxBucketSize = Some(5L))
      .select("doc_a", "doc_b", "dot", "cos")
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(capped == Seq((1L, 2L, 34L, 1.0)))
    val uncapped = Dedup.hashCosinePairs(sparse, "doc_id", minCos = 0.0,
      maxBucketSize = None)
    assert(uncapped.count() == 45L, "uncapped = all C(10,2) pairs")
  }

  test("edit-distance block cap drops only the oversized block") {
    val rows = (1L to 30L).map(i => (i, s"hot common$i")) ++ // one 30-row block
      Seq((100L, "cold alpha"), (101L, "cold alphb"))        // 2-row block, dist 1
    val df = rows.toDF("id", "name")
    val capped = Dedup.editDistancePairs(df, "id", "name",
        blockExpr = org.apache.spark.sql.functions.split_part(
          $"name", org.apache.spark.sql.functions.lit(" "),
          org.apache.spark.sql.functions.lit(1)),
        maxDist = 2, maxBlockSize = Some(10L))
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(capped == Set((100L, 101L)),
      "hot block must be excluded, small blocks fully mined")
    val uncapped = Dedup.editDistancePairs(df, "id", "name",
        blockExpr = org.apache.spark.sql.functions.split_part(
          $"name", org.apache.spark.sql.functions.lit(" "),
          org.apache.spark.sql.functions.lit(1)),
        maxDist = 2, maxBlockSize = None)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(uncapped.contains((100L, 101L)) && uncapped.size > 1,
      "cap disabled ⇒ hot block mined")
  }

  test("unicode scrub strips control/zero-width chars and reports counts") {
    val d = Seq(
      (1L, "clean text"),
      (2L, "a\u0007b \u200Bc\u200D d\uFEFF"),
      (3L, "")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.unicodeScrub(d, "doc_id", "text")
      .as[(Long, String, Long, Long)].collect().sortBy(_._1).toSeq
    assert(got(0) == ((1L, "clean text", 0L, 0L)))
    assert(got(1) == ((2L, "ab c d", 1L, 3L)))
    assert(got(2) == ((3L, "", 0L, 0L)))
  }

  test("planesFor applies the occupancy sizing rule with clamps") {
    import graft.ops.Similarity.planesFor
    // At or below the target bucket size the floor holds (never all-pairs).
    assert(planesFor(0L) == 4 && planesFor(10000L) == 4)
    // ceil(log2(n/target)): the probe corpus sizes from SCALE.md.
    assert(planesFor(20000L) == 4) // ceil(log2(2)) = 1 → clamped to floor
    assert(planesFor(20000L, targetBucketSize = 20L) == 10) // production row
    assert(planesFor(1L << 40, targetBucketSize = 10000L) == 24,
      "ceiling bounds signature cost at extreme n")
    // Rule exactness between the clamps: occupancy lands ≤ target.
    val p = planesFor(5000000L, targetBucketSize = 10000L)
    assert(p == 9 && 5000000.0 / (1 << p) <= 10000.0)
    assertThrows[IllegalArgumentException](planesFor(-1L))
    assertThrows[IllegalArgumentException](planesFor(10L, targetBucketSize = 0L))
  }

  test("script share counts families and routes the dominant label") {
    val d = Seq(
      (1L, "hello world"),
      (2L, "Привет мир"),
      (3L, "你好"),
      (4L, "1234 56"),
      (5L, "")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.scriptShare(d, "doc_id", "text")
      .select("doc_id", "dominant").as[(Long, String)].collect().toMap
    assert(got(1L) == "latin" && got(2L) == "cyrillic" && got(3L) == "cjk")
    assert(got(4L) == "digit")
    assert(got(5L) == "latin", "empty text ties resolve by fixed precedence")
  }

  test("selfSimilarityBands: decile banding, isolated band, shares sum to 1") {
    // Three populations: an exact-dup pair (J=1.0 -> band 10), a high-
    // overlap pair (band from its true Jaccard), and two isolated docs
    // (band -1). Low threshold so the mid pair clears the floor.
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = Seq(
      (1L, base), (2L, base),                       // J = 1.0
      (3L, base + " lambda"), (4L, base + " mu"),   // 8 shared / 10 union = 0.8? see below
      (5L, "one two three four five six"),
      (6L, "seven eight nine ten eleven twelve")
    ).toDF("doc_id", "text")
    val got = Dedup.selfSimilarityBands(docs, "doc_id", "text",
        minJaccard = 0.3, maxDocFrequency = None)
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // Bands present: 10 (exact), the 3/4 pair's band, -1 (isolated).
    assert(got(10)._1 >= 2L, s"exact dups must land in band 10: $got")
    assert(got(-1)._1 == 2L, s"docs 5,6 are isolated: $got")
    // Each share is individually rounded to 6 dp, so the sum can be off
    // by up to #bands × 5e-7.
    assert(math.abs(got.values.map(_._2).sum - 1.0) < 1e-5,
      s"shares must partition the corpus: $got")
    // 3 and 4 share 8 of their 9 shingles each (union 10): J = 0.8 ->
    // band 8 (the inner round keeps 0.8*10 from flooring to 7).
    assert(got(8)._1 == 2L, s"docs 3,4 belong in band 8: $got")
  }

  test("prefixPairs: shared-head blocking, literal-prefix verdict, hot cap") {
    def doc(head: String, tail: String) = (head + " " + tail).trim
    val head = (1 to 16).map(i => s"w$i").mkString(" ")
    val pdocs = Seq(
      (1L, doc(head, "alpha beta gamma")),
      (2L, doc(head, "alpha beta")),          // literal prefix of nothing; shares head
      (3L, doc(head, "")),                    // literal prefix of 1 and 2
      (4L, "short doc under sixteen tokens"), // filtered: < k words
      (5L, doc((1 to 16).map(i => s"x$i").mkString(" "), "tail"))
    ).toDF("doc_id", "text")
    val got = graft.ops.Dedup.prefixPairs(pdocs, "doc_id", "text", k = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    // every pair here is a literal truncation: 3 ⊑ 2 ⊑ 1; doc 4 is
    // filtered (< k tokens) and doc 5's different head never joins
    assert(got == Set((1L, 2L, true), (1L, 3L, true), (2L, 3L, true)))
    // hot-prefix cap: 11 docs sharing a head -> group dropped entirely
    val hot = (1 to 11).map(i => (100L + i, doc(head, s"v$i"))).toDF("doc_id", "text")
    assert(graft.ops.Dedup.prefixPairs(hot, "doc_id", "text", k = 16).count() == 0)
    assert(graft.ops.Dedup.prefixPairs(hot, "doc_id", "text", k = 16,
      maxGroupSize = None).count() == 55)
  }

  test("snapshot diff classifies added/removed/changed/unchanged") {
    val oldSnap = Seq((1L, "alpha"), (2L, "beta"), (3L, "gamma"))
      .toDF("doc_id", "text")
    val newSnap = Seq((2L, "beta"), (3L, "gamma CHANGED"), (4L, "delta"))
      .toDF("doc_id", "text")
    val got = Dedup.snapshotDiff(oldSnap, newSnap, "doc_id", "text")
      .as[(Long, String)].collect().toSet
    assert(got == Set((1L, "removed"), (2L, "unchanged"),
      (3L, "changed"), (4L, "added")))
  }

  test("pcaTopComponent: colinear data recovers the direction; unit norm") {
    // All vectors lie on span{(0.6, 0.8)} -> the top component IS that
    // direction (sign pinned positive by the uniform start vector).
    val df = Seq(
      (1L, Array(6.0f, 8.0f)), (2L, Array(3.0f, 4.0f)),
      (3L, Array(-6.0f, -8.0f)), (4L, Array(9.0f, 12.0f)))
      .toDF("vec_id", "embedding")
    val got = graft.ops.Similarity
      .pcaTopComponent(df, "vec_id", "embedding", iterations = 3)
      .as[(Int, Double, Double)].collect().sortBy(_._1)
    assert(math.abs(got(0)._2 - 0.6) < 1e-5, got.mkString(","))
    assert(math.abs(got(1)._2 - 0.8) < 1e-5, got.mkString(","))
    val norm = math.sqrt(got.map(r => r._2 * r._2).sum)
    assert(math.abs(norm - 1.0) < 1e-4, norm.toString)
    assert(got(0)._3 > 0, "lambda must be positive")
  }

  test("RRF fusion: rank-consensus doc outranks either ranker's solo #1") {
    // doc 10 is mid-ranked by BOTH rankers; docs 11/21 are each one
    // ranker's #1 but absent from the other. With kRrf small enough the
    // consensus doc must fuse above the solo leaders: 2/(k+2) > 1/(k+1).
    val lex = Seq((11L, 1), (10L, 2), (12L, 3)).toDF("doc_id", "rank")
    val sem = Seq((21L, 1), (10L, 2), (22L, 3)).toDF("doc_id", "rank")
    val fused = Similarity.rrfFuse(Seq("lex" -> lex, "sem" -> sem),
        "doc_id", k = 5, kRrf = 1)
      .select("doc_id", "n_rankers").as[(Long, Long)].collect().toSeq
    assert(fused.head == (10L, 2L), s"consensus doc must lead: $fused")
    assert(fused.map(_._1).toSet == Set(10L, 11L, 21L, 12L, 22L))
    // Per-query fusion: ranks fuse within each query group independently.
    val lexQ = Seq(("q1", 11L, 1), ("q2", 31L, 1)).toDF("q", "doc_id", "rank")
    val semQ = Seq(("q1", 11L, 2), ("q2", 32L, 1)).toDF("q", "doc_id", "rank")
    val perQ = Similarity.rrfFuse(Seq("lex" -> lexQ, "sem" -> semQ),
        "doc_id", k = 1, kRrf = 60, queryCols = Seq("q"))
      .select("q", "doc_id").as[(String, Long)].collect().toSet
    assert(perQ == Set(("q1", 11L), ("q2", 31L)))
  }
}
