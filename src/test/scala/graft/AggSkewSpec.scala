package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.MinHashAgg
import graft.ops.{Dedup, Similarity, Skew}

class AggSkewSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog tonight again"),
    (2L, "the quick brown fox jumps over the lazy dog tonight today"), // near-dup
    (3L, "all work and no play makes jack a dull boy indeed"),
    (4L, "the quick brown fox jumps over the lazy dog tonight again")  // exact dup of 1
  ).toDF("doc_id", "text")

  test("one-pass MinHash Aggregator: identical docs → identical signatures; " +
    "estimated jaccard orders near-dup above unrelated") {
    val sh = Dedup.shingleSets(docs, "doc_id", "text")
    val sig = Dedup.minhashSignaturesOnePass(sh, "doc_id", k = 64)
      .as[(Long, Array[Long])].collect().toMap
    assert(sig(1L).toSeq == sig(4L).toSeq)
    val near = MinHashAgg.estimateJaccard(sig(1L), sig(2L))
    val far = MinHashAgg.estimateJaccard(sig(1L), sig(3L))
    assert(near > far)
    assert(near > 0.5) // 9 of 11 shared shingles (true j ≈ 0.69)
    assert(far == 0.0)
  }

  test("salted join equals plain join on a skewed key") {
    val big = (1 to 1000).map(i => (if (i % 10 == 0) "cold" + i else "HOT", i))
      .toDF("k", "v") // 90% of rows share one key
    val small = Seq(("HOT", 1.0), ("cold10", 2.0), ("missing", 3.0)).toDF("k", "w")
    val plain = big.join(small, Seq("k")).agg(count(lit(1)), sum("v"), sum("w"))
      .as[(Long, Long, Double)].head()
    val salted = Skew.saltedJoin(big, small, Seq("k"), salts = 8)
      .agg(count(lit(1)), sum("v"), sum("w")).as[(Long, Long, Double)].head()
    assert(salted == plain)
  }

  test("AQE splits a skewed sort-merge join partition at runtime") {
    // The engine's first line of defense against join skew is AQE's
    // runtime split (GraftSession enables it); salting is the explicit
    // fallback for hash joins/aggs. Prove the AQE path actually engages:
    // a 20%-hot key, broadcast disabled (forcing a shuffle join), and
    // thresholds at test scale — the final adaptive plan must mark the
    // skewed partition split.
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes")
      .map(k => k -> conf.getOption(k)).toMap
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "1MB")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1MB")
      // Incompressible payload: AQE judges partition size from COMPRESSED
      // shuffle bytes, and 160k identical hot-key longs lz4 down to ~2 KB
      // — below any threshold. Hash-salted strings keep the bytes honest.
      val big = (1 to 500000)
        .map(i => (if (i % 5 != 0) 0L else i.toLong,
          java.lang.Long.toHexString(i * 2654435761L) +
            java.lang.Long.toHexString(i * 0x9e3779b97f4a7c15L)))
        .toDF("k", "v") // 80% of rows on key 0
      // The dim must reach the join as a BARE shuffle stage: a post-shuffle
      // aggregate between the sort and the exchange breaks
      // OptimizeSkewedJoin's SMJ(Sort(Shuffle), Sort(Shuffle)) pattern and
      // the rule skips the join entirely.
      val small = (0L +: (1 to 500000).filter(_ % 5 == 0).map(_.toLong))
        .toDF("k").withColumn("w", $"k" % 7)
      val joined = big.join(small, Seq("k"))
      // collect() drives joined's OWN QueryExecution, so the adaptive
      // plan below is final (count() would plan a separate query).
      assert(joined.collect().length == 500000)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew="), s"no skew handling in plan:\n${plan.take(1500)}")
      assert(plan.contains("skewed"), // AQEShuffleRead marks split partitions
        s"AQE must split the hot partition:\n${plan.take(1500)}")
    } finally saved.foreach { case (k, v) =>
      v match { case Some(x) => conf.set(k, x); case None => conf.unset(k) }
    }
  }

  test("deterministic sampling: stable across runs, rates approximately honored") {
    import graft.ops.Sampling
    val df = (1 to 2000).map(i => (i.toLong, if (i % 2 == 0) "a" else "b"))
      .toDF("id", "src")
    val s1 = Sampling.bernoulli(df, "id", 0.3).select("id").as[Long].collect().toSet
    val s2 = Sampling.bernoulli(df, "id", 0.3).select("id").as[Long].collect().toSet
    assert(s1 == s2) // run-to-run stable
    assert(math.abs(s1.size / 2000.0 - 0.3) < 0.05)
    // nested fractions: a 0.1 sample is a subset of a 0.3 sample
    val s3 = Sampling.bernoulli(df, "id", 0.1).select("id").as[Long].collect().toSet
    assert(s3.subsetOf(s1))
    val strat = Sampling.stratified(df, "id", "src", Map("a" -> 0.5), defaultRate = 0.0)
      .select("src").as[String].collect()
    assert(strat.forall(_ == "a"))
    assert(math.abs(strat.length / 1000.0 - 0.5) < 0.1)
  }

  test("IVF kNN searches only the assigned cluster") {
    val emb = Seq(
      (1L, Array(1.0f, 0.0f), 0), (2L, Array(0.9f, 0.1f), 0),
      (3L, Array(0.8f, 0.2f), 0),
      (10L, Array(0.0f, 1.0f), 1), (11L, Array(0.1f, 0.9f), 1)
    ).toDF("vec_id", "embedding", "label")
    val got = Similarity.ivfKnn(emb, emb.filter($"vec_id" === 1), "vec_id",
      "embedding", "label", k = 5)
      .select("cand_id", "cluster").as[(Long, Int)].collect()
    assert(got.forall(_._2 == 0))              // never leaves cluster 0
    assert(got.map(_._1).toSet == Set(2L, 3L)) // all cluster-0 candidates, no self
  }

  test("TopKAgg matches the window formulation, incl. score ties and small groups") {
    import org.apache.spark.sql.expressions.Window
    // Ties on score (ids 20,21,22 all score 5.0) exercise the id
    // tie-break; group "b" has fewer rows than k; 300 rows over 32
    // partitions exercise cross-partition partial-buffer merges.
    val rows = (1L to 300L).map { i =>
      val g = if (i % 3 == 0) "a" else if (i % 3 == 1) "b" else "c"
      val score = if (i >= 20 && i <= 22) 5.0 else (i % 17).toDouble
      (g, i, score)
    }
    val df = rows.toDF("grp", "id", "score").repartition(32)
    val topk = udaf(graft.functions.TopKAgg(4))
    val got = df.groupBy($"grp")
      .agg(topk($"id", $"score").as("top"))
      .select($"grp", posexplode($"top").as(Seq("pos", "e")))
      .select($"grp", $"e._1".as("id"), $"e._2".as("score"),
        ($"pos" + 1).cast("int").as("rn"))
      .as[(String, Long, Double, Int)].collect().toSet
    val w = Window.partitionBy($"grp").orderBy($"score".desc, $"id")
    val want = df.withColumn("rn", row_number().over(w))
      .filter($"rn" <= 4).select($"grp", $"id", $"score", $"rn")
      .as[(String, Long, Double, Int)].collect().toSet
    assert(got == want)
    // A group smaller than k returns all its rows, no sentinel leakage.
    val tiny = Seq(("x", 7L, 1.0)).toDF("grp", "id", "score")
      .groupBy($"grp").agg(topk($"id", $"score").as("top"))
      .select(size($"top")).as[Int].collect()
    assert(tiny.toSeq == Seq(1))
  }
}
