package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Dedup, Stats, TextAnalysis}

/** Round-4 batch D: within-group percentile rank, content-defined
  * chunking, and incremental ingest dedup.
  */
class IngestOpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("percentileRank: explicit (rank-1)/(n-1), single-row group = 0") {
    val df = Seq((1L, "a", 10.0), (2L, "a", 30.0), (3L, "a", 20.0),
      (4L, "b", 99.0)).toDF("id", "g", "v")
    val got = Stats.percentileRank(df, "v", "g", "id")
      .select("id", "pct_rank").as[(Long, Double)].collect().toMap
    assert(got == Map(1L -> 0.0, 3L -> 0.5, 2L -> 1.0, 4L -> 0.0), got.toString)
  }

  // A token whose 24-bit md5 hash is ≡ 0 (mod 8) — found at runtime so the
  // test doesn't bake in hash values.
  private def cutWord(mod: Int): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Iterator.from(0).map(i => s"w$i").find { w =>
      val hex = md.digest(w.getBytes("UTF-8")).take(3)
        .map(b => f"${b & 0xff}%02x").mkString
      java.lang.Long.parseLong(hex, 16) % mod == 0
    }.get
  }

  test("cdcChunks: chunks reassemble the doc and survive a head insertion") {
    val cw = cutWord(8)
    val tail = s"alpha beta $cw gamma delta epsilon"
    val a = (1L, tail)
    val b = (2L, s"inserted words here $cw $tail") // head edit, own cut
    val chunks = TextAnalysis.cdcChunks(Seq(a, b).toDF("doc_id", "text"),
        "doc_id", "text", avgTokens = 8)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(3)))
    // Chunk hashes after the first boundary of doc 2 must re-align with
    // doc 1's despite the inserted head — the CDC property fixed-size
    // chunking lacks.
    val h1 = chunks.filter(_._1 == 1L).sortBy(_._2).map(_._3).toSeq
    val h2 = chunks.filter(_._1 == 2L).sortBy(_._2).map(_._3).toSeq
    assert(h1.nonEmpty && h2.length > h1.length - 1)
    assert(h2.takeRight(h1.length - 1) == h1.takeRight(h1.length - 1) ||
      h2.takeRight(h1.length) == h1,
      s"suffix chunks must re-align: doc1=$h1 doc2=$h2")
    // Shared-chunk report sees the alignment.
    val shared = TextAnalysis.cdcSharedChunks(Seq(a, b).toDF("doc_id", "text"),
      "doc_id", "text", avgTokens = 8).count()
    assert(shared >= 1, "at least one chunk shared across the two docs")
  }

  test("boilerplateStrip removes exactly the hot-covered tokens") {
    // 8 of 10 docs end with the same 5-token run; maxDf=0.5 → its 3 fully-
    // interior trigrams are hot, covering tokens 4..8 of each planted doc.
    val boiler = "b1 b2 b3 b4 b5"
    val docs = ((1 to 8).map(i => (i.toLong, s"u${i}a u${i}b u${i}c $boiler")) ++
      Seq((9L, "x1 x2 x3 x4 x5 x6 x7"))).toDF("doc_id", "text")
    val got = TextAnalysis.boilerplateStrip(docs, "doc_id", "text",
        n = 3, maxDocFrequency = 0.5)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got(1L) == (("u1a u1b u1c", 8L, 5L)), s"planted doc: ${got(1L)}")
    assert(got(9L) == (("x1 x2 x3 x4 x5 x6 x7", 7L, 0L)),
      s"clean doc unchanged: ${got(9L)}")
  }

  test("winsorize clamps exactly the out-of-band values to exact quantiles") {
    // 1..20 plus outlier 1000: p05 of 21 values = 2.0, p95 = 20.0 exactly
    // (the interpolation (n-1)p+1 lands on integer ranks) — so value 1
    // saturates up to 2, 1000 saturates down to 20, everything else passes.
    val df = ((1 to 20).map(v => (v.toLong, "g", v.toDouble)) :+
      (21L, "g", 1000.0)).toDF("id", "grp", "value")
    val got = graft.ops.Stats.winsorize(df, "value", "grp", 0.05, 0.95)
      .select("id", "value_wins", "clamped")
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getInt(2)))).toMap
    assert(got(1L) == ((2.0, 1)), s"low outlier saturates: ${got(1L)}")
    assert(got(21L) == ((20.0, 1)), s"high outlier saturates: ${got(21L)}")
    assert(got(10L) == ((10.0, 0)), s"in-band untouched: ${got(10L)}")
    assert(got.values.count(_._2 == 1) == 2, "exactly two clamped rows")
  }

  test("incrementalPairs finds batch-vs-corpus near-copies only, cap-safe denominators") {
    val base = "one two three four five six seven eight nine ten eleven twelve"
    // Corpus: the original + unrelated docs, 60% of which share a hot
    // 3-gram run (df > 10% → capped away); batch: a near-copy of doc 1
    // AND two identical new docs (new×new — must NOT be reported).
    val hot = "h1 h2 h3"
    val corpus = Seq((1L, base)) ++ (2L to 10L).map { i =>
      val filler = s"c${i}a c${i}b c${i}c c${i}d c${i}e"
      (i, if (i <= 6) s"$filler $hot" else filler)
    }
    val batch = Seq(
      (100L, base + " thirteen"),
      (101L, "fresh new content with no overlap at all"),
      (102L, "fresh new content with no overlap at all"))
    val got = Dedup.incrementalPairs(batch.toDF("doc_id", "text"),
        corpus.toDF("doc_id", "text"), "doc_id", "text", minJaccard = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
    assert(got.map(t => (t._1, t._2)).toSeq == Seq((100L, 1L)),
      s"exactly the planted cross pair (never new×new): ${got.toSeq}")
    // Denominators from UNCAPPED sizes: base has 10 shingles, the copy 11,
    // 10 shared → jaccard 10/11.
    assert(math.abs(got.head._3 - math.rint(1000000.0 * 10 / 11) / 1000000.0) < 1e-9,
      s"jaccard must be 10/11 rounded: ${got.head._3}")
  }

  test("psi: identical distributions read ~0; a shifted one reads the formula") {
    import org.apache.spark.sql.functions.col
    val ref = (1 to 100).map(i => Tuple1(i.toDouble)).toDF("v")
    // Identical current -> every term 0 exactly (p == q per bin).
    val same = Stats.psi(ref, ref, "v", bins = 10)
      .collect().map(r => r.getInt(0) -> r.getDouble(3)).toMap
    assert(same.keySet == (0 until 10).toSet)
    assert(same.values.forall(_ == 0.0), s"identical dists must read 0: $same")
    // Everything shifted into the top of the range: mass concentrates in
    // bin 9 (values beyond the ref max CLAMP into the edge bin) and the
    // summed PSI clears the 0.25 "investigate" bar by a wide margin.
    val cur = (1 to 100).map(i => Tuple1(91.0 + (i % 10))).toDF("v")
    val rows = Stats.psi(ref, cur, "v", bins = 10)
      .collect().map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)))
    val total = rows.map(_._4).sum
    assert(total > 0.25, s"hard shift must flag: $total")
    val bin9 = rows.find(_._1 == 9).get
    assert(bin9._3 > 0.9, s"clamped mass lands in the edge bin: $bin9")
    // Laplace smoothing: empty current bins still produce finite terms.
    assert(rows.forall(r => !r._4.isNaN && !r._4.isInfinite), rows.mkString(","))
  }

  test("incremental agg state: merge of splits == direct state; one-sided keys survive") {
    val all = (1 to 300).map(i => ((i % 7).toLong, (i % 13).toDouble))
      .toDF("k", "v")
    // Three-way split merged pairwise (associativity in practice).
    val parts = Seq(0, 1, 2).map(r =>
      Stats.aggState(all.filter(col("v").cast("int") % 3 === r), "k", "v"))
    val merged = parts.reduce(Stats.mergeAggStates(_, _, "k"))
    val direct = Stats.aggState(all, "k", "v")
    def rows(df: org.apache.spark.sql.DataFrame) =
      Stats.finishAggState(df, "k")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getDouble(3), r.getDouble(4), r.getDouble(5))).toSet
    assert(rows(merged) == rows(direct))
    // A key present only in the delta passes min/max/n through untouched.
    val histOnly = Stats.aggState(Seq((1L, 5.0)).toDF("k", "v"), "k", "v")
    val deltaOnly = Stats.aggState(Seq((2L, 7.0)).toDF("k", "v"), "k", "v")
    val m = Stats.mergeAggStates(histOnly, deltaOnly, "k")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(4))).toSet
    assert(m == Set((1L, 1L, 5.0), (2L, 1L, 7.0)))
  }

  test("z-order clustering bounds BOTH dimensions per partition; x-sort bounds only x") {
    import graft.ops.ZOrder
    import org.apache.spark.sql.functions.spark_partition_id
    // 64x64 grid. After clustering into 16 range partitions along the
    // curve, every partition must hold a small bounding BOX: a perfect
    // curve split gives 16x16 cells; assert <= 32 per side (vs 64 = no
    // pruning). The x-major sort gives tight x but useless y spans.
    val grid = (for (x <- 0 until 64; y <- 0 until 64) yield (x.toLong, y.toLong))
      .toDF("x", "y").repartition(8)
    def spans(df: org.apache.spark.sql.DataFrame): (Long, Long) = {
      val s = df.groupBy(spark_partition_id().as("p"))
        .agg((max($"x") - min($"x")).as("xs"), (max($"y") - min($"y")).as("ys"))
        .agg(max($"xs"), max($"ys")).as[(Long, Long)].head()
      s
    }
    val q = (c: org.apache.spark.sql.Column) =>
      ZOrder.quantize16(c, 0.0, 64.0)
    val (zx, zy) = spans(ZOrder.cluster(grid, q($"x"), q($"y"), 16))
    assert(zx <= 32 && zy <= 32,
      s"z-order partitions must bound both dims: x-span $zx, y-span $zy")
    val (sx, sy) = spans(grid.repartitionByRange(16, $"x", $"y"))
    assert(sx <= 8, s"x-major sort bounds x tightly: $sx")
    assert(sy >= 60, s"x-major sort cannot bound y (that is the point): $sy")
    // The 16-bit curve is a bijection: all 4096 cells map to distinct z.
    val nz = grid.select(ZOrder.zValue2(q($"x"), q($"y"))).distinct().count()
    assert(nz == 4096L)
  }

  test("erasure: forget leaves zero residual, preserves others; audit adds up") {
    import graft.ops.Erasure
    val t = Seq((1L, "a"), (2L, "b"), (3L, "c"), (2L, "d")).toDF("uid", "v")
    val ids = Seq(2L, 9L).toDF("id") // 9 matches nothing — must be harmless
    val purged = t.join(ids.select(col("id").as("uid")), Seq("uid"), "left_anti")
    assert(purged.as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (3L, "c")))
    assert(purged.join(ids, purged("uid") === ids("id"), "left_semi").count() == 0,
      "no residual rows for erased ids")
    val a = Erasure.audit(Seq(("t", t, "uid")), ids, "id")
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(a == Seq(("t", 4L, 2L, 2L)))
  }
}
