package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamKpis
import graft.streaming.StreamKpis.{Point, TrailingKpi, TrailingState}

class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def us(min: Long): Long = min * 60L * 1000000L

  /** The admission datacard judged on one drift arm: the arms not named
    * read one constant column on both sides under thresholds that always
    * pass, so `admitted` is the Wilson bound ∧ the named arm (a source
    * without reference rows still reads no vector evidence: false).
    */
  private def datacardArm(batch: DataFrame, reference: DataFrame,
                          quality: Column, minWilsonLo: Double,
                          valueCol: String = "same_v", catCol: String = "same_c",
                          vecCol: String = "same_e",
                          maxPsi: Double = Double.PositiveInfinity,
                          maxKs: Double = Double.PositiveInfinity,
                          maxJs: Double = Double.PositiveInfinity,
                          minCentroidCos: Double = Double.NegativeInfinity,
                          maxNormDelta: Double = Double.PositiveInfinity): DataFrame = {
    def same(df: DataFrame) = df.withColumn("same_v", lit(1.0))
      .withColumn("same_c", lit("x")).withColumn("same_e", array(lit(1.0)))
    graft.streaming.StreamAdmission.admissionDatacard(same(batch), same(reference),
      "source", valueCol, catCol, vecCol, quality, minWilsonLo,
      maxPsi = maxPsi, maxKs = maxKs, maxJs = maxJs,
      minCentroidCos = minCentroidCos, maxNormDelta = maxNormDelta)
  }

  private val batches: Seq[Seq[Point]] = Seq(
    Seq(Point(1, us(0), 10.0), Point(1, us(1), 20.0), Point(2, us(0), 5.0)),
    Seq(Point(1, us(2), 30.0), Point(2, us(90), 7.0)),
    Seq(Point(1, us(200), 40.0)) // far jump: only this point stays in window
  )

  test("running KPIs after each micro-batch equal batch recomputation") {
    val input = MemoryStream[Point](implicitly[org.apache.spark.sql.Encoder[Point]], spark)
    val q = StreamKpis.running(input.toDF(), "userId", "value")
      .writeStream.outputMode("complete")
      .format("memory").queryName("running_kpis").start()
    try {
      var seen = Seq.empty[Point]
      batches.foreach { b =>
        input.addData(b)
        q.processAllAvailable()
        seen = seen ++ b
        val got = spark.table("running_kpis")
          .select("userId", "avg_value", "min_value", "max_value", "n")
          .as[(Long, Double, Double, Double, Long)].collect()
          .map(t => t._1 -> t).toMap
        val expect = seen.groupBy(_.userId)
        expect.foreach { case (u, ps) =>
          val vs = ps.map(_.value)
          val g = got(u)
          assert(math.abs(g._2 - vs.sum / vs.size) < 1e-12, s"user $u avg")
          assert(g._3 == vs.min && g._4 == vs.max && g._5 == vs.size)
        }
      }
    } finally q.stop()
  }

  test("per-user trailing window anchors at the user's latest event (W6)") {
    val input = MemoryStream[Point](implicitly[org.apache.spark.sql.Encoder[Point]], spark)
    val q = StreamKpis.trailingPerUser(input.toDS(), windowSec = 3600)(
      implicitly, implicitly)
      .writeStream.outputMode("update")
      .format("memory").queryName("trailing_kpis").start()
    try {
      batches.foreach { b => input.addData(b); q.processAllAvailable() }
      val last = spark.table("trailing_kpis")
        .groupBy("userId").agg(max(struct(col("lastTsUs"), col("avgValue"),
          col("minValue"), col("maxValue"), col("n"))).as("s"))
        .select("userId", "s.*")
        .as[(Long, Long, Double, Double, Double, Long)]
        .collect().map(t => t._1 -> t).toMap

      // user 1: last ts = 200 min; window [140, 200] min → only the 40.0 point.
      assert(last(1L)._6 == 1 && last(1L)._3 == 40.0)
      // user 2: last ts = 90 min; window [30, 90] → only the 7.0 point.
      assert(last(2L)._6 == 1 && last(2L)._3 == 7.0)
    } finally q.stop()
  }

  test("trailing KPIs are SET-based: any within-window arrival order gives the same final KPI") {
    // trailingPerUser keeps every event inside [maxTs − win, maxTs] and
    // recomputes from the kept set, so unlike the chain-state ops it
    // needs no ordered-split contract: disorder bounded by the window
    // span folds in exactly. Feed the same per-user points in three
    // different cross-batch orders; final KPI rows must be identical.
    import graft.streaming.StreamKpis.Point
    val pts = Seq(Point(1, 10L * 60000000L, 4.0), Point(1, 20L * 60000000L, 8.0),
      Point(1, 30L * 60000000L, 6.0), Point(1, 40L * 60000000L, 2.0))
    val orders = Seq(pts, pts.reverse,
      Seq(pts(2), pts(0), pts(3), pts(1)))
    val finals = orders.zipWithIndex.map { case (ord, i) =>
      val input = MemoryStream[Point](
        implicitly[org.apache.spark.sql.Encoder[Point]], spark)
      val name = s"trailing_ooo_$i"
      val q = graft.streaming.StreamKpis
        .trailingPerUser(input.toDS(), windowSec = 3600)(
          implicitly, implicitly)
        .writeStream.outputMode("update").format("memory")
        .queryName(name).start()
      try {
        ord.grouped(2).foreach { b => input.addData(b); q.processAllAvailable() }
        spark.table(name)
          .groupBy("userId").agg(max(struct(col("n"), col("lastTsUs"),
            col("avgValue"), col("minValue"), col("maxValue"))).as("s"))
          .select("userId", "s.*")
          .as[(Long, Long, Long, Double, Double, Double)].collect().toSet
      } finally q.stop()
    }
    assert(finals.distinct.size == 1, finals.toString)
    // And the value is the full-window KPI over all four points.
    val row = finals.head.head
    assert(row._2 == 4L && row._4 == 5.0 && row._5 == 2.0 && row._6 == 8.0,
      row.toString)
  }

  test("foreachBatch bundle sink matches the batch engine after every batch") {
    import org.apache.spark.sql.{Dataset, Row}
    import graft.model.{AllUsers, ByIds, QuerySpec}
    import graft.query.QueryEngine
    import graft.streaming.BundleKpiSink

    val input = MemoryStream[(String, Long, Double)](
      implicitly[org.apache.spark.sql.Encoder[(String, Long, Double)]], spark)
    val sink = new BundleKpiSink(col("user_id").isin("u1", "u2"), lit(true), "value")
    val q = input.toDF().toDF("user_id", "ts_us", "value")
      .withColumn("ts", timestamp_micros(col("ts_us")))
      .writeStream
      .foreachBatch((b: Dataset[Row], id: Long) => sink.step(b, id))
      .start()
    try {
      val sBatches = Seq(
        Seq(("u1", us(0), 10.0), ("u2", us(1), 20.0), ("u3", us(2), 5.0)),
        Seq(("u1", us(3), 30.0), ("u3", us(90), 7.0)),
        Seq(("u2", us(200), 40.0)))
      var seen = Seq.empty[(String, Long, Double)]
      sBatches.foreach { b =>
        input.addData(b)
        q.processAllAvailable()
        seen = seen ++ b
        // Batch-engine recompute over ALL accumulated rows must equal the
        // sink's merged incremental state after this micro-batch.
        val series = seen.toDF("user_id", "ts_us", "value")
          .withColumn("ts", timestamp_micros(col("ts_us")))
        val subjects = series.select("user_id").distinct()
        val spec = QuerySpec(ByIds("user_id", Seq("u1", "u2")), AllUsers,
          "1970-01-01", "1970-01-02")
        val expect = QueryEngine.run(spec, subjects, series,
          "user_id", "ts", "value").kpis.head()
        val got = sink.kpis(spark).head()
        Seq("subj_avg", "subj_min", "subj_max", "ctrl_avg", "ctrl_std",
          "delta_avg").foreach { c =>
          assert(math.abs(got.getAs[Double](c) - expect.getAs[Double](c)) < 1e-9,
            s"$c after batch ${seen.size}")
        }
        Seq("subj_rows", "ctrl_rows").foreach { c =>
          assert(got.getAs[Long](c) == expect.getAs[Long](c), c)
        }
      }
      assert(sink.history.map(_._1) == Seq(0L, 1L, 2L))
    } finally q.stop()
  }

  test("bundle KPI step is one aggregation: at most 2 jobs, moments of each cohort") {
    import graft.streaming.BundleKpiSink
    // Four partitions; a NULL value inside each cohort, and a NULL user
    // (its predicate is NULL, so it is in neither cohort).
    def batch(from: Long) = spark.range(from, from + 40, 1, 4).select(
      when(col("id") =!= 7, col("id")).as("user_id"),
      when(col("id") % 9 =!= 0, col("id") * 0.5).as("value"))
    val subject = col("user_id").isin((0L until 80L by 3): _*)
    val control = col("user_id") % 2 === 0
    val sink = new BundleKpiSink(subject, control, "value")
    def moments(b: DataFrame, pred: Column) = {
      val v = col("value")
      val r = b.filter(pred).agg(count(v), sum(v), min(v), max(v), sum(v * v)).head()
      BundleKpiSink.Acc(r.getLong(0), r.getDouble(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4))
    }
    val expected = Seq(0L, 40L).scanLeft((BundleKpiSink.Acc.empty, BundleKpiSink.Acc.empty)) {
      case ((s, c), from) =>
        (s.merge(moments(batch(from), subject)), c.merge(moments(batch(from), control)))
    }.tail
    Seq(0L, 40L).zipWithIndex.foreach { case (from, id) =>
      val (_, jobs) = org.apache.spark.graft.JobCount(spark.sparkContext)(
        sink.step(batch(from), id.toLong))
      assert(jobs <= 2, s"KPI step $id ran $jobs jobs")
    }
    assert(sink.history == Seq(0L, 1L).zip(expected))
  }

  test("streaming session windows match batch sessionization counts") {
    // session_window (10-minute gap) on a stream ≡ batch SeriesOps.sessionize
    // with the same gap: same number of sessions, same per-session counts.
    val input = MemoryStream[Point](implicitly[org.apache.spark.sql.Encoder[Point]], spark)
    val stream = input.toDF()
      .withColumn("ts", timestamp_micros(col("tsUs")))
      .withWatermark("ts", "0 seconds")
      .groupBy(col("userId"), session_window(col("ts"), "10 minutes"))
      .agg(count(lit(1)).as("n"))
    val q = stream.writeStream.outputMode("complete")
      .format("memory").queryName("session_kpis").start()
    try {
      batches.foreach(input.addData(_))
      q.processAllAvailable()
      val got = spark.table("session_kpis")
        .select(col("userId"), col("n")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
        .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap

      val batchDf = batches.flatten.toDF("userId", "tsUs", "value")
        .withColumn("ts", timestamp_micros(col("tsUs")))
      val expect = graft.ops.SeriesOps.sessionize(batchDf, "userId", "ts",
          gapSeconds = 600, tiebreak = "tsUs")
        .groupBy(col("userId"), col("session_id")).agg(count(lit(1)).as("n"))
        .collect().map(r => (r.getLong(0), r.getLong(2))).toSeq
        .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
      assert(got == expect, s"got $got expected $expect")
    } finally q.stop()
  }

  test("stream-stream interval join equals the batch interval join") {
    // Clicks join views within a 5-minute lookback per user; watermarks
    // bound the join state on both sides (§2.10 stream-stream capability).
    val clicks = MemoryStream[(Long, Long, Double)](
      implicitly[org.apache.spark.sql.Encoder[(Long, Long, Double)]], spark)
    val views = MemoryStream[(Long, Long, Double)](
      implicitly[org.apache.spark.sql.Encoder[(Long, Long, Double)]], spark)
    def shape(s: org.apache.spark.sql.DataFrame, p: String) =
      s.toDF(s"${p}_user", s"${p}_us", s"${p}_v")
        .withColumn(s"${p}_ts", timestamp_micros(col(s"${p}_us")))
        .withWatermark(s"${p}_ts", "10 minutes")
    val joined = shape(clicks.toDF(), "c").join(shape(views.toDF(), "v"),
      expr("c_user = v_user AND v_ts BETWEEN c_ts - INTERVAL 5 MINUTES AND c_ts"))
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("ss_join").start()
    try {
      val cRows = Seq((1L, us(10), 1.0), (2L, us(20), 2.0))
      val vRows = Seq((1L, us(7), 10.0), (1L, us(9), 11.0), (1L, us(2), 12.0),
        (2L, us(19), 20.0), (2L, us(30), 21.0))
      clicks.addData(cRows); views.addData(vRows)
      q.processAllAvailable()
      val got = spark.table("ss_join")
        .select("c_user", "c_us", "v_us").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val expect = (for {
        (cu, cts, _) <- cRows; (vu, vts, _) <- vRows
        if cu == vu && vts >= cts - us(5) && vts <= cts
      } yield (cu, cts, vts)).toSet
      assert(got == expect, s"got $got expected $expect")
      assert(expect.nonEmpty)
    } finally q.stop()
  }

  test("streaming exact dedup drops re-ingested rows with bounded state") {
    import org.apache.spark.sql.{Dataset, Row}
    val input = MemoryStream[(String, Long, String)](
      implicitly[org.apache.spark.sql.Encoder[(String, Long, String)]], spark)
    val stream = input.toDF().toDF("doc_id", "ts_us", "text")
      .withColumn("ts", timestamp_micros(col("ts_us")))
    val deduped = graft.streaming.StreamDedup.exactWithinWatermark(
      graft.streaming.StreamDedup.withContentHash(stream, "text"),
      "ts", Seq("content_hash"), watermark = "10 minutes")
    val q = deduped.writeStream.outputMode("append")
      .format("memory").queryName("stream_dedup").start()
    try {
      input.addData(Seq(("d1", us(0), "alpha beta"), ("d2", us(1), "gamma delta")))
      q.processAllAvailable()
      // Re-ingest d1's content (same text → same hash) plus a new doc.
      input.addData(Seq(("d1b", us(2), "alpha beta"), ("d3", us(3), "epsilon zeta")))
      q.processAllAvailable()
      val texts = spark.table("stream_dedup").select("text")
        .as[String].collect().sorted.toSeq
      assert(texts == Seq("alpha beta", "epsilon zeta", "gamma delta"),
        s"duplicate content must be dropped: $texts")
    } finally q.stop()
  }

  test("IVF cluster assignment composes into a streaming projection") {
    import org.apache.spark.sql.Encoder
    // The map-side assignment (plan-time centroid literals, no join/agg)
    // must run unchanged on a stream — the ingest-time routing that lets
    // a streaming sink write cluster-partitioned embeddings.
    val corpus = (0 until 12).map { i =>
      (i.toLong, Seq.tabulate(4)(j => ((i % 3) * 10 + j * 0.1).toFloat))
    }
    val idx = graft.ops.Similarity.kmeansFit(corpus.toDF("vec_id", "embedding"),
      "vec_id", "embedding", k = 3, iters = 2)
    val batch = graft.ops.Similarity.ivfAssign(corpus.toDF("vec_id", "embedding"),
        "vec_id", "embedding", idx)
      .as[(Long, Int)].collect().toMap

    val input = MemoryStream[(Long, Seq[Float])](
      implicitly[Encoder[(Long, Seq[Float])]], spark)
    val assigned = graft.ops.Similarity.ivfAssign(
      input.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding", idx)
    val q = assigned.writeStream.outputMode("append")
      .format("memory").queryName("stream_ivf").start()
    try {
      input.addData(corpus)
      q.processAllAvailable()
      val got = spark.table("stream_ivf").as[(Long, Int)].collect().toMap
      assert(got == batch, "streaming assignment must equal the batch one")
    } finally q.stop()
  }

  test("streaming NB classification: per-batch predictions equal batch ones") {
    import org.apache.spark.sql.Encoder
    // Fit once on a static training corpus (the persisted-artifact path);
    // apply per micro-batch via foreachBatch — predict's argmax window is
    // per-doc-bounded but still a window, so ingest scoring runs under
    // batch semantics, like the bundle sink.
    val train = Seq((1L, "en", "the cat sat on the mat"),
      (2L, "en", "the dog ate the food"),
      (3L, "fr", "le chat est sur le tapis"),
      (4L, "fr", "le chien mange le repas")).toDF("doc_id", "lang", "text")
    val model = graft.ops.Classify.naiveBayesFit(train, "lang", "text", dim = 32)
    val incoming = Seq((10L, "the cat and the dog"), (11L, "le chat et le chien"))
    val expected = graft.ops.Classify.naiveBayesPredict(
        incoming.toDF("doc_id", "text"), model, "doc_id", "text", dim = 32)
      .as[(Long, String, Double)].collect().toSet
    val input = MemoryStream[(Long, String)](
      implicitly[Encoder[(Long, String)]], spark)
    var got = Set.empty[(Long, String, Double)]
    val q = input.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        got = got ++ graft.ops.Classify
          .naiveBayesPredict(b, model, "doc_id", "text", dim = 32)
          .as[(Long, String, Double)](
            implicitly[Encoder[(Long, String, Double)]]).collect()
        ()
      }
      .start()
    try {
      input.addData(incoming)
      q.processAllAvailable()
      assert(got == expected, s"stream scoring must equal batch: $got")
    } finally q.stop()
  }

  test("stream-static novelty gate drops docs already in the corpus store") {
    import org.apache.spark.sql.Encoder
    // Static store: content hashes of the accumulated corpus.
    val store = graft.streaming.StreamDedup.withContentHash(
      Seq(("c1", "alpha beta"), ("c2", "gamma delta")).toDF("doc_id", "text"),
      "text").select("content_hash")
    val input = MemoryStream[(String, Long, String)](
      implicitly[Encoder[(String, Long, String)]], spark)
    val stream = input.toDF().toDF("doc_id", "ts_us", "text")
    val novel = graft.streaming.StreamDedup.novelAgainstStore(
      graft.streaming.StreamDedup.withContentHash(stream, "text"),
      store, Seq("content_hash"))
    val q = novel.writeStream.outputMode("append")
      .format("memory").queryName("stream_novel").start()
    try {
      input.addData(Seq(("n1", us(0), "alpha beta"),      // already stored
        ("n2", us(1), "fresh content one"),
        ("n3", us(2), "gamma delta")))                    // already stored
      q.processAllAvailable()
      input.addData(Seq(("n4", us(3), "fresh content two")))
      q.processAllAvailable()
      val kept = spark.table("stream_novel").select("doc_id")
        .as[String].collect().sorted.toSeq
      assert(kept == Seq("n2", "n4"),
        s"only never-stored content passes: $kept")
    } finally q.stop()
  }

  test("streaming simhash dedup drops order-permuted near-dups exact hashing misses") {
    import org.apache.spark.sql.Encoder
    // The map-side streaming simhash projection must equal the batch
    // (explode + groupBy) definition...
    val docs = Seq((1L, "the quick brown fox jumps"), (2L, "jumps fox brown quick the"),
      (3L, "completely different content here")).toDF("doc_id", "text")
    val batchSig = graft.ops.Dedup.simhash(docs, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    val projSig = graft.streaming.StreamDedup.withSimhash(docs, "doc_id", "text")
      .select("doc_id", "simhash").as[(Long, Long)].collect().toMap
    assert(projSig == batchSig, s"projection must equal batch simhash")
    assert(batchSig(1L) == batchSig(2L), "simhash is token-order invariant")

    // ...and on a stream, a token-permuted re-ingest (different md5!) is
    // dropped within the watermark while distinct content passes.
    val input = MemoryStream[(String, Long, String)](
      implicitly[Encoder[(String, Long, String)]], spark)
    val stream = input.toDF().toDF("doc_id", "ts_us", "text")
      .withColumn("ts", timestamp_micros(col("ts_us")))
    val deduped = graft.streaming.StreamDedup.exactWithinWatermark(
      graft.streaming.StreamDedup.withSimhash(stream, "doc_id", "text"),
      "ts", Seq("simhash"), watermark = "10 minutes")
    val q = deduped.writeStream.outputMode("append")
      .format("memory").queryName("stream_simdedup").start()
    try {
      input.addData(Seq(("d1", us(60), "the quick brown fox jumps")))
      q.processAllAvailable()
      input.addData(Seq(("d1p", us(61), "jumps fox brown quick the"), // permuted
        ("d2", us(62), "completely different content here")))
      q.processAllAvailable()
      val kept = spark.table("stream_simdedup").select("doc_id")
        .as[String].collect().sorted.toSeq
      assert(kept == Seq("d1", "d2"), s"permuted re-ingest must drop: $kept")
    } finally q.stop()
  }

  test("streaming curation ingest (quality filter + dedup) equals the batch cut") {
    // The L35 curation shape over an ingest STREAM: score quality on
    // arrival (stateless projection), drop exact re-ingests within the
    // watermark (bounded state), keep quality >= threshold. Same rows as
    // running the batch quality filter + exact-dedup over the accumulated
    // input — streaming is an incremental evaluation of the same operator,
    // not a different semantics.
    val input = MemoryStream[(String, Long, String)](
      implicitly[org.apache.spark.sql.Encoder[(String, Long, String)]], spark)
    // NB: start away from epoch 0 — a row whose event time equals the
    // INITIAL watermark (0) is dropped as late by the dedup operator.
    val rows = Seq(
      ("d1", us(60), "the quick brown fox jumps over a lazy dog repeatedly today"),
      ("d2", us(61), "the the the the"),                          // low quality
      ("d3", us(62), "completely original content streams in with many fine words here"),
      ("d1b", us(63), "the quick brown fox jumps over a lazy dog repeatedly today"), // dup
      ("d4", us(64), "novel closing document with sufficient length and variety included"))
    val stream = input.toDF().toDF("doc_id", "ts_us", "text")
      .withColumn("ts", timestamp_micros(col("ts_us")))
    val scored = graft.streaming.StreamDedup.exactWithinWatermark(
      graft.streaming.StreamDedup.withContentHash(stream, "text"),
      "ts", Seq("content_hash"), watermark = "10 minutes")
      .withColumn("q",
        least(lit(1.0), size(split(trim(col("text")), " ")) / lit(50.0)) *
          (lit(1.0) - size(filter(split(trim(col("text")), " "),
            w => w.isin(graft.functions.TextFunctions.Stopwords: _*))) /
            size(split(trim(col("text")), " ")).cast("double")))
      .filter(col("q") >= 0.1)
    val q = scored.writeStream.outputMode("append")
      .format("memory").queryName("stream_curation").start()
    try {
      input.addData(rows.take(3)); q.processAllAvailable()
      input.addData(rows.drop(3)); q.processAllAvailable()
      val got = spark.table("stream_curation").select("doc_id")
        .as[String].collect().sorted.toSeq
      // Batch reference: same quality expr + keep-first exact dedup.
      val batch = rows.toDF("doc_id", "ts_us", "text")
      val expect = graft.ops.TextAnalysis
        .quality(batch, "doc_id", "text")
        .join(batch, Seq("doc_id"))
        .filter(col("quality_score") >= 0.1)
        .join(graft.ops.Dedup.exact(batch, "doc_id", "text")
          .select(col("canonical_id").as("doc_id")), Seq("doc_id"), "left_semi")
        .select("doc_id").as[String].collect().sorted.toSeq
      assert(got == expect, s"stream=$got batch=$expect")
    } finally q.stop()
  }

  test("replay → novelty gate → quality → compacted store equals the batch cut") {
    // The reference's full lifecycle (§3.2), composed from gated units:
    // ReplayStreamSource re-drives stored history in event-time order;
    // each micro-batch scores quality, anti-joins the ACCUMULATED
    // fingerprint store (StreamDedup.novelAgainstStore — the store absorbs
    // each batch's survivors, so cross-batch re-ingests drop), appends
    // survivors to the curated table and compacts it
    // (TableStore.compactParquet). The curated output must equal the batch
    // recompute: quality cut + seed-store anti-join + first-arrival-per-
    // content-hash.
    val base = java.nio.file.Files.createTempDirectory("stream_cur").toString
    val rawDir = s"$base/raw"; val storeDir = s"$base/store"
    val curatedDir = s"$base/curated"
    val good = (tag: String) =>
      s"completely $tag original content streams in with many fine words here"
    val rows = Seq(
      ("d1", us(10), good("first")),
      ("d2", us(10), "the the the the"),       // low quality
      ("d3", us(10), good("seeded")),          // already in the seed store
      ("d4", us(20), good("second")),
      ("d5", us(20), good("first")),           // cross-batch dup of d1
      ("d6", us(30), good("third")),
      ("d7", us(30), good("second")),          // cross-batch dup of d4
      ("d8", us(30), "a a a a"))               // low quality
    rows.toDF("doc_id", "ts_us", "text")
      .withColumn("ts", timestamp_micros(col("ts_us")))
      .write.parquet(rawDir)
    // Seed store: d3's content hash is already-curated corpus.
    Seq(good("seeded")).toDF("text").select(md5(col("text")).as("content_hash"))
      .write.parquet(storeDir)
    def qualityGate(df: org.apache.spark.sql.DataFrame) =
      graft.streaming.StreamDedup.withContentHash(df, "text")
        .withColumn("q",
          least(lit(1.0), size(split(trim(col("text")), " ")) / lit(50.0)) *
            (lit(1.0) - size(filter(split(trim(col("text")), " "),
              w => w.isin(graft.functions.TextFunctions.Stopwords: _*))) /
              size(split(trim(col("text")), " ")).cast("double")))
        .filter(col("q") >= 0.1)
    val stream = spark.readStream
      .format(classOf[graft.streaming.ReplayStreamSource].getName)
      .option("path", rawDir).option("tsCol", "ts")
      .option("timestampsPerTrigger", "1") // 3 distinct ts → 3 micro-batches
      .load()
    var nBatches = 0
    val q = qualityGate(stream).writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        if (!b.isEmpty) {
          // Fresh store read per batch: the static side of a stream-static
          // join pins its file listing, so the accumulate-then-probe loop
          // belongs in foreachBatch.
          val store = spark.read.parquet(storeDir)
          val novel = graft.streaming.StreamDedup
            .novelAgainstStore(b, store, Seq("content_hash")).cache()
          novel.select("doc_id", "ts_us", "text")
            .write.mode("append").parquet(curatedDir)
          novel.select("content_hash").write.mode("append").parquet(storeDir)
          graft.sources.TableStore.compactParquet(spark, curatedDir)
          novel.unpersist()
          nBatches += 1
        }
        ()
      }
      .start()
    try { q.processAllAvailable() } finally q.stop()
    assert(nBatches == 3, s"3 distinct timestamps must serve 3 batches: $nBatches")
    val got = spark.read.parquet(curatedDir).select("doc_id")
      .as[String].collect().sorted.toSeq
    // Batch reference over the whole raw table: quality cut, seed-store
    // anti-join, first arrival per content hash (ts then doc_id).
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("content_hash")).orderBy(col("ts_us"), col("doc_id"))
    val expect = qualityGate(spark.read.parquet(rawDir))
      .join(Seq(good("seeded")).toDF("text")
        .select(md5(col("text")).as("content_hash")), Seq("content_hash"), "left_anti")
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select("doc_id").as[String].collect().sorted.toSeq
    assert(got == expect, s"stream=$got batch=$expect")
    assert(got == Seq("d1", "d4", "d6"))
    // Compaction holds: the curated table is one file, not one per batch.
    val parts = new java.io.File(curatedDir).listFiles()
      .count(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    assert(parts == 1, s"compaction must leave a single data file: $parts")
  }

  test("replay → soft-dedup store merge per batch: weights equal the batch cut") {
    // The FULL streaming composition of L154: ReplayStreamSource re-drives
    // stored history in event-time order; each micro-batch merges into a
    // parquet-round-tripped cluster store via softDedupIngest (versioned
    // store dirs — overwriting a parquet dir mid-read races the lazy
    // scan); final softWeights must equal the batch recompute over
    // everything replayed. Same chain (across batches) + bridge (merges
    // two earlier clusters) shapes as the unit parity test, now through
    // the real streaming engine.
    val base = java.nio.file.Files.createTempDirectory("soft_stream").toString
    val rawDir = s"$base/raw"
    val g1 = "alpha beta gamma delta epsilon zeta"
    val g2 = "one two three four five six seven"
    val g3 = "red orange yellow green blue indigo violet"
    val bridge = g2 + " " + g3
    Seq(
      (1L, us(10), g1), (2L, us(10), g2), (3L, us(10), g3),
      (4L, us(20), g1), (5L, us(20), g2), (6L, us(20), g3),
      (7L, us(30), g1), (8L, us(30), bridge), (9L, us(30), "another singleton doc")
    ).toDF("doc_id", "ts_us", "text")
      .withColumn("ts", timestamp_micros(col("ts_us")))
      .write.parquet(rawDir)
    var storePath = s"$base/store_init"
    Seq.empty[(Long, Long, String)].toDF("doc_id", "cluster_id", "text")
      .write.parquet(storePath)
    val stream = spark.readStream
      .format(classOf[graft.streaming.ReplayStreamSource].getName)
      .option("path", rawDir).option("tsCol", "ts")
      .option("timestampsPerTrigger", "1")
      .load()
    val q = stream.writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        if (!b.isEmpty) {
          val store = spark.read.parquet(storePath)
          val updated = graft.streaming.StreamDedup.softDedupIngest(
            store, b.select(col("doc_id"), col("text")), "doc_id", "text",
            minJaccard = 0.2, maxDocFrequency = None)
          val next = s"$base/store_v$id"
          updated.write.parquet(next)
          storePath = next
        }
        ()
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    val streamW = graft.streaming.StreamDedup
      .softWeights(spark.read.parquet(storePath), "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val corpus = spark.read.parquet(rawDir).select(col("doc_id"), col("text"))
    val cl = graft.ops.Dedup.clusters(graft.ops.Dedup.nearDuplicates(
      corpus, "doc_id", "text", minJaccard = 0.2, maxDocFrequency = None))
    val sizes = cl.groupBy(col("cluster_id")).agg(count(lit(1)).as("sz"))
    val batchW = corpus.select(col("doc_id"))
      .join(cl, Seq("doc_id"), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
      .join(sizes, Seq("cluster_id"), "left")
      .select(col("doc_id"), col("cluster_id"),
        round(lit(1.0) / coalesce(col("sz"), lit(1L)), 6).as("weight"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(streamW == batchW, s"stream=$streamW batch=$batchW")
    // The bridge really merged through the replay path.
    val byDoc = streamW.map(x => x._1 -> x._2).toMap
    assert(Set(2L, 3L, 5L, 6L, 8L).map(byDoc) == Set(2L), s"merge shape: $byDoc")
  }

  test("streaming soft dedup: incremental cluster weights equal batch recompute") {
    // L151 composed with the incremental ingest path (L111/L117): fold the
    // corpus in as three micro-batches via softDedupIngest, then assert the
    // final 1/|cluster| weights equal the batch-side recompute
    // (Dedup.clusters over nearDuplicates on EVERYTHING ingested). The
    // fixture deliberately exercises the two hard merge shapes:
    //  - a cross-batch chain (1 ≈ 4 ≈ 7 across batches 1/2/3), and
    //  - a bridge doc (8, batch 3) that MERGES two clusters formed in
    //    earlier batches ({2,5} and {3,6}) — the store-relabel path.
    val t = (s: String) => s // readability
    val g1 = t("alpha beta gamma delta epsilon zeta")          // chain seed
    val g2 = t("one two three four five six seven")            // cluster P
    val g3 = t("red orange yellow green blue indigo violet")   // cluster Q
    val b1 = Seq((1L, g1), (2L, g2), (3L, g3))
    val b2 = Seq((4L, g1), (5L, g2), (6L, g3), (10L, t("lonely unique text nothing matches")))
    // 8 bridges P and Q: the full concatenation shares all 5 of each
    // side's shingles (J = 5/12 ≈ 0.417 against both). The parity
    // fixtures mine at t = 0.2, well BELOW the bridge's similarity: the
    // planner centers its collision S-curve at the threshold (~50%
    // candidate recall exactly at t, by design), so a parity spec must
    // keep its true pairs far above the midpoint — at t = 0.2 bandsFor
    // picks 16 bands × 1 row and the bridge collides with ≥ 99.98%
    // probability (verified against the actual md5 values; rerun-stable
    // because minhash is a pure function of shingle text). Cross-group
    // vocabulary is disjoint, so lowering t adds no spurious pairs.
    val bridge = g2 + " " + g3
    val b3 = Seq((7L, g1), (8L, bridge), (9L, t("another singleton document entirely")))
    val all = b1 ++ b2 ++ b3
    def df(rows: Seq[(Long, String)]) = rows.toDF("doc_id", "text")
    // minJaccard 0.2 so the bridge (≈half its shingles with each side)
    // links both clusters with saturated candidate recall (see above);
    // df-cap off for exact batch/stream parity (the cap sees the
    // corpus-at-ingest, not the final corpus).
    val mj = 0.2
    var store = df(Seq.empty).withColumn("cluster_id", col("doc_id"))
      .select(col("doc_id"), col("cluster_id"), col("text"))
    Seq(b1, b2, b3).foreach { b =>
      store = graft.streaming.StreamDedup.softDedupIngest(
        store, df(b), "doc_id", "text", minJaccard = mj,
        maxDocFrequency = None)
        .localCheckpoint() // the store would round-trip parquet in prod
    }
    val streamW = graft.streaming.StreamDedup.softWeights(store, "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // Batch recompute on the full corpus (same params).
    val corpus = df(all)
    val cl = graft.ops.Dedup.clusters(graft.ops.Dedup.nearDuplicates(
      corpus, "doc_id", "text", minJaccard = mj, maxDocFrequency = None))
    val sizes = cl.groupBy(col("cluster_id")).agg(count(lit(1)).as("sz"))
    val batchW = corpus.select(col("doc_id"))
      .join(cl, Seq("doc_id"), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
      .join(sizes, Seq("cluster_id"), "left")
      .select(col("doc_id"), col("cluster_id"),
        round(lit(1.0) / coalesce(col("sz"), lit(1L)), 6).as("weight"))
      .collect().map(r => (r.getLong(1), r.getLong(0), r.getDouble(2)))
      .map { case (c, d, w) => (d, c, w) }.toSet
    assert(streamW == batchW,
      s"stream=${streamW.toSeq.sorted} batch=${batchW.toSeq.sorted}")
    // The bridge actually merged: 2,3,5,6,8 share one cluster of size 5.
    val byDoc = streamW.map(x => x._1 -> x._2).toMap
    assert(Set(2L, 3L, 5L, 6L, 8L).map(byDoc) == Set(2L), s"merge shape: $byDoc")
  }

  test("pre-shingled soft-dedup ingest equals the body-based path") {
    // The production shape: the cross-batch probe reads an accumulated
    // (doc_id, shingle) store instead of re-tokenizing stored bodies.
    // Same chain+bridge fixture; both paths must produce identical
    // weights (and equal the batch recompute by transitivity with the
    // unit parity test above).
    val g1 = "alpha beta gamma delta epsilon zeta"
    val g2 = "one two three four five six seven"
    val g3 = "red orange yellow green blue indigo violet"
    val batches = Seq(
      Seq((1L, g1), (2L, g2), (3L, g3)),
      Seq((4L, g1), (5L, g2), (6L, g3), (10L, "lonely unique text nothing matches")),
      Seq((7L, g1), (8L, g2 + " " + g3), (9L, "another singleton document entirely")))
    def df(rows: Seq[(Long, String)]) = rows.toDF("doc_id", "text")
    def emptyStore = Seq.empty[(Long, Long, String)].toDF("doc_id", "cluster_id", "text")
    // Body-based fold.
    var s1 = emptyStore
    batches.foreach { b =>
      s1 = graft.streaming.StreamDedup.softDedupIngest(
        s1, df(b), "doc_id", "text", minJaccard = 0.4,
        maxDocFrequency = None).localCheckpoint()
    }
    // Pre-shingled fold: shingle store accumulates per batch.
    var s2 = emptyStore
    var shingles = Seq.empty[(Long, String)].toDF("doc_id", "shingle")
    batches.foreach { b =>
      s2 = graft.streaming.StreamDedup.softDedupIngestPreShingled(
        s2, shingles, df(b), "doc_id", "text", minJaccard = 0.4,
        maxDocFrequency = None).localCheckpoint()
      shingles = shingles.unionByName(
        graft.ops.Dedup.shingleSets(df(b), "doc_id", "text")).localCheckpoint()
    }
    def weights(st: org.apache.spark.sql.DataFrame) =
      graft.streaming.StreamDedup.softWeights(st, "doc_id")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(weights(s2) == weights(s1), s"pre=${weights(s2)} body=${weights(s1)}")
  }

  test("streaming funnel equals batch funnel for any contiguous ordered split") {
    import graft.streaming.StreamFunnel
    import graft.streaming.StreamFunnel.{StageEvent, FunnelProgress, FunnelState}
    val stages = Seq("view", "click", "purchase")
    // Mirrors the batch-spec corpus: full conversion (u1), out-of-order
    // purchase (u2), window miss (u3), no stage-1 (u4), greedy anchor (u5).
    val raw = Seq(
      (1L, "view", 0L), (1L, "click", 20L), (1L, "purchase", 40L),
      (2L, "view", 0L), (2L, "purchase", 30L), (2L, "click", 60L),
      (3L, "view", 0L), (3L, "click", 20L), (3L, "purchase", 90L),
      (4L, "click", 5L),
      (5L, "view", 0L), (5L, "view", 120L), (5L, "click", 130L),
      (5L, "purchase", 140L)
    ).map { case (u, t, min) => (u, t, min * 60L * 1000000L) }
    val winSec = 3600L
    val batchResult = graft.ops.Funnel.windowedFunnel(
        raw.map { case (u, t, usv) =>
          (u, t, new java.sql.Timestamp(usv / 1000L)) }
          .toDF("user_id", "event_type", "ts"),
        "user_id", "ts", "event_type", stages, winSec)
      .select("user_id", "funnel_level", "converted")
      .as[(Long, Int, Boolean)].collect()
      .map { case (u, l, c) => u -> ((l, c)) }.toMap
    // Event-time-ordered stream, split at arbitrary contiguous points.
    val ordered = raw.sortBy(_._3)
      .map { case (u, t, usv) => StageEvent(u, usv, stages.indexOf(t)) }
    for (cuts <- Seq(Seq(5), Seq(3, 9), Seq(1, 2, 3, 4, 5, 6))) {
      val slices = (Seq(0) ++ cuts ++ Seq(ordered.size)).sliding(2)
        .map { case Seq(a, b) => ordered.slice(a, b) }.filter(_.nonEmpty).toSeq
      val input = MemoryStream[StageEvent](
        implicitly[org.apache.spark.sql.Encoder[StageEvent]], spark)
      val name = s"funnel_${cuts.mkString("_")}"
      val q = StreamFunnel.progress(input.toDS(), stages.size, winSec)(
          implicitly, implicitly)
        .writeStream.outputMode("update").format("memory").queryName(name).start()
      try {
        slices.foreach { b => input.addData(b); q.processAllAvailable() }
        val got = spark.table(name)
          .groupBy("userId").agg(max(struct(col("funnelLevel"), col("converted"))).as("s"))
          .select(col("userId"), col("s.funnelLevel"), col("s.converted"))
          .as[(Long, Int, Boolean)].collect()
          .map { case (u, l, c) => u -> ((l, c)) }.toMap
        assert(got == batchResult, s"split $cuts diverged: $got vs $batchResult")
      } finally q.stop()
    }
  }

  test("streaming upsert store merge equals the one-shot changelog apply") {
    // Changelog over 3 keys: key 1 updated twice, key 2 deleted then
    // re-inserted, key 3 deleted; key 9 appears only in the snapshot.
    val snapshot = Seq((1L, 10.0), (2L, 20.0), (3L, 30.0), (9L, 90.0))
      .toDF("k", "v")
    val changes = Seq(
      (1L, 100L, 1L, "U", 11.0), (2L, 110L, 2L, "D", 0.0),
      (3L, 120L, 3L, "D", 0.0), (1L, 200L, 4L, "U", 12.0),
      (2L, 210L, 5L, "U", 21.0), (4L, 220L, 6L, "U", 44.0))
    val oneShot = graft.ops.Changelog.cdcApply(snapshot,
        changes.toDF("k", "seq", "tie", "op", "v"), "k", "seq", "tie", "op", "v")
      .select("k", "v").as[(Long, Double)].collect().toMap
    // Fold the same changes as 3 contiguous ordered micro-batches.
    var store = snapshot
    changes.sortBy(c => (c._2, c._3)).grouped(2).foreach { b =>
      store = graft.streaming.StreamUpsert.upsertIngest(store,
        b.toDF("k", "seq", "tie", "op", "v"), "k", "seq", "tie", "op", "v")
      store = store.localCheckpoint() // parquet-round-trip stand-in
    }
    val folded = store.as[(Long, Double)].collect().toMap
    assert(folded == oneShot, s"$folded vs $oneShot")
    assert(folded == Map(1L -> 12.0, 2L -> 21.0, 4L -> 44.0, 9L -> 90.0))
  }

  test("native session_window aggregation equals the batch sessionizer") {
    def t(min: Long) = new java.sql.Timestamp(min * 60000L)
    // user 1: two sessions split by a 45-min gap; user 2: one session.
    val ev = Seq(
      (1L, t(0), 1L, 1.0), (1L, t(10), 2L, 2.0), (1L, t(29), 3L, 3.0),
      (1L, t(75), 4L, 4.0), (1L, t(80), 5L, 5.0),
      (2L, t(5), 6L, 6.0)).toDF("u", "t", "id", "v")
    val native = graft.streaming.StreamSessions
      .sessions(ev, "u", "t", "v", gap = "30 minutes")
      .as[(Long, Long, Long, Long, Double)].collect().toSet
    val batch = graft.ops.SeriesOps.sessionize(ev, "u", "t",
        gapSeconds = 1800, tiebreak = "id")
      .groupBy(col("u"), col("session_id"))
      .agg(unix_micros(min(col("t"))).as("start_us"),
        unix_micros(max(col("t"))).as("end_us"),
        count(lit(1)).as("n_events"),
        round(sum(col("v")), 4).as("sum_value"))
      .select("u", "start_us", "end_us", "n_events", "sum_value")
      .as[(Long, Long, Long, Long, Double)].collect().toSet
    assert(native == batch, s"$native vs $batch")
    assert(native.size == 3)
  }

  test("streaming session_window emits watermark-closed sessions matching batch") {
    def us(min: Long) = min * 60L * 1000000L
    val real = Seq(Point(1, us(0), 1.0), Point(1, us(10), 2.0),
      Point(1, us(75), 4.0), Point(2, us(5), 6.0))
    // Sentinels push the watermark far past every real session's close;
    // their own (still-open) session is filtered from the comparison.
    val sentinel1 = Point(99, us(100000), 0.0)
    val sentinel2 = Point(99, us(200000), 0.0)
    val input = MemoryStream[Point](
      implicitly[org.apache.spark.sql.Encoder[Point]], spark)
    val src = input.toDF()
      .select(col("userId").as("u"),
        timestamp_micros(col("tsUs")).as("t"), col("value").as("v"))
      .withWatermark("t", "1 minute")
    val q = graft.streaming.StreamSessions
      .sessions(src, "u", "t", "v", gap = "30 minutes")
      .writeStream.outputMode("append").format("memory")
      .queryName("native_sessions").start()
    try {
      input.addData(real); q.processAllAvailable()
      input.addData(Seq(sentinel1)); q.processAllAvailable()
      input.addData(Seq(sentinel2)); q.processAllAvailable()
      val got = spark.table("native_sessions").filter(col("u") =!= 99)
        .as[(Long, Long, Long, Long, Double)].collect().toSet
      val ev = real.map(p => (p.userId, new java.sql.Timestamp(p.tsUs / 1000L),
        p.tsUs, p.value)).toDF("u", "t", "id", "v")
      val batch = graft.streaming.StreamSessions
        .sessions(ev, "u", "t", "v", gap = "30 minutes")
        .as[(Long, Long, Long, Long, Double)].collect().toSet
      assert(got == batch, s"$got vs $batch")
      assert(got.size == 3, got.toString) // user 1 × 2 sessions + user 2
    } finally q.stop()
  }

  test("session_window tolerates watermark-bounded out-of-order arrival") {
    // Same corpus as the ordered test, but arrival is shuffled ACROSS
    // batches: user 1's opening event lands a batch AFTER its successor
    // (25 minutes of event-time disorder against a 40-minute watermark
    // delay). The native merging-session state must still produce the
    // identical sessions — late-but-within-watermark events merge into
    // the open session before eviction.
    def us(min: Long) = min * 60L * 1000000L
    val b1 = Seq(Point(1, us(10), 2.0), Point(2, us(5), 6.0))
    val b2 = Seq(Point(1, us(0), 1.0), Point(1, us(75), 4.0)) // us(0) late
    val input = MemoryStream[Point](
      implicitly[org.apache.spark.sql.Encoder[Point]], spark)
    val src = input.toDF()
      .select(col("userId").as("u"),
        timestamp_micros(col("tsUs")).as("t"), col("value").as("v"))
      .withWatermark("t", "40 minutes")
    val q = graft.streaming.StreamSessions
      .sessions(src, "u", "t", "v", gap = "30 minutes")
      .writeStream.outputMode("append").format("memory")
      .queryName("ooo_sessions").start()
    try {
      input.addData(b1); q.processAllAvailable()
      input.addData(b2); q.processAllAvailable()
      input.addData(Seq(Point(99, us(100000), 0.0))); q.processAllAvailable()
      input.addData(Seq(Point(99, us(200000), 0.0))); q.processAllAvailable()
      val got = spark.table("ooo_sessions").filter(col("u") =!= 99)
        .as[(Long, Long, Long, Long, Double)].collect().toSet
      val ev = (b1 ++ b2).map(p => (p.userId,
          new java.sql.Timestamp(p.tsUs / 1000L), p.tsUs, p.value))
        .toDF("u", "t", "id", "v")
      val batch = graft.streaming.StreamSessions
        .sessions(ev, "u", "t", "v", gap = "30 minutes")
        .as[(Long, Long, Long, Long, Double)].collect().toSet
      assert(got == batch, s"$got vs $batch")
      assert(got.size == 3, got.toString)
    } finally q.stop()
  }

  test("streaming exact dedup tolerates watermark-bounded disorder, drops beyond-watermark stragglers, and evicts state") {
    // r15 verdict #4: the dedup parity specs replayed ordered splits —
    // faithful to the reference, but silent on a real event stream's
    // disorder. Three contracts of dropDuplicatesWithinWatermark, all
    // asserted here:
    //   1. a duplicate arriving LATE-but-within-watermark (event time
    //      behind already-seen rows, >= the current watermark) still
    //      deduplicates;
    //   2. a straggler older than the watermark is dropped as late — the
    //      operator's documented loss mode (StreamDedup's scaladoc:
    //      batch re-dedup of the sink catches beyond-horizon stragglers);
    //   3. state is BOUNDED: keys evict once the watermark passes their
    //      horizon, so the store never accumulates the corpus.
    val input = MemoryStream[(String, Long, String)](
      implicitly[org.apache.spark.sql.Encoder[(String, Long, String)]], spark)
    val stream = input.toDF().toDF("doc_id", "ts_us", "text")
      .withColumn("ts", timestamp_micros(col("ts_us")))
    val deduped = graft.streaming.StreamDedup.exactWithinWatermark(
      graft.streaming.StreamDedup.withContentHash(stream, "text"),
      "ts", Seq("content_hash"), watermark = "10 minutes")
    val q = deduped.writeStream.outputMode("append")
      .format("memory").queryName("stream_dedup_ooo").start()
    try {
      input.addData(Seq(("d1", us(60), "alpha"), ("d2", us(70), "beta")))
      q.processAllAvailable() // watermark after this batch: 60 min
      // Disordered batch: d1's content re-ingested at an EARLIER event
      // time than d2 (late-but-within, 65 >= wm 60) must still dedup;
      // a novel late-but-within row (62) must pass.
      input.addData(Seq(("d1late", us(65), "alpha"), ("d3", us(62), "gamma")))
      q.processAllAvailable()
      input.addData(Seq(("d4", us(200), "delta"))) // advances wm to 190
      q.processAllAvailable()
      // Beyond-watermark straggler: ts 100 < wm 190 -> dropped as late,
      // and the batch's processing evicts every pre-190 key.
      input.addData(Seq(("d5", us(100), "epsilon")))
      q.processAllAvailable()
      val texts = spark.table("stream_dedup_ooo").select("text")
        .as[String].collect().sorted.toSeq
      assert(texts == Seq("alpha", "beta", "delta", "gamma"),
        s"late dup must drop, late novel must pass, straggler must drop: $texts")
      val stateProgress = q.recentProgress.toSeq
        .flatMap(_.stateOperators.toSeq)
      assert(stateProgress.map(_.numRowsDroppedByWatermark).sum >= 1,
        "the straggler must be counted as dropped-by-watermark")
      val finalRows = stateProgress.lastOption.map(_.numRowsTotal)
      assert(finalRows.exists(_ <= 1),
        s"state must evict watermark-passed keys (4 keys ingested, " +
          s"expected <=1 live): $finalRows")
    } finally q.stop()
  }

  test("per-batch admission composes with watermark dedup under disorder: set-semantics reports, lateness enforced upstream") {
    // r15 verdict #4, the admission leg. StreamAdmission is stateless
    // per micro-batch (no watermark of its own), so its out-of-order
    // contract is two-part and this spec documents both:
    //   1. admission statistics are SET-semantics — permuting a batch's
    //      row order changes nothing in the report;
    //   2. in the composed pipeline (watermark dedup upstream, admission
    //      in foreachBatch) lateness is enforced by the WATERMARK stage:
    //      a within-watermark late duplicate is removed before it can
    //      pad a source's admission statistics, and a beyond-watermark
    //      straggler never reaches admission at all.
    import org.apache.spark.sql.{Dataset, Row}
    val reference = Seq(
      ("s1", 1.0), ("s1", 2.0), ("s1", 3.0), ("s1", 4.0),
      ("s2", 1.5), ("s2", 2.5), ("s2", 3.5))
      .toDF("source", "value")
    // Part 1: permutation invariance of the report (batch-level).
    val rows = Seq(("s1", 1.2, true), ("s1", 3.1, true), ("s1", 2.2, false),
      ("s2", 1.6, true), ("s2", 3.4, false))
    def report(rs: Seq[(String, Double, Boolean)]) =
      datacardArm(rs.toDF("source", "value", "ok"), reference, col("ok"),
          minWilsonLo = 0.1, valueCol = "value", maxPsi = 5.0)
        .select("source", "n", "wilson_lo", "psi", "admitted").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
          r.getDouble(3), r.getBoolean(4))).toSet
    val fwd = report(rows)
    assert(fwd == report(rows.reverse) &&
      fwd == report(Seq(rows(3), rows(0), rows(4), rows(2), rows(1))),
      "admission report must be invariant to row order within the batch")
    graft.ops.OpCaches.releaseAll()
    // Part 2: the composed pipeline under the same disorder fixture as
    // the dedup spec above — record exactly what admission SEES.
    val input = MemoryStream[(String, String, Long, Double, String)](
      implicitly[org.apache.spark.sql.Encoder[(String, String, Long, Double, String)]],
      spark)
    val stream = input.toDF()
      .toDF("doc_id", "source", "ts_us", "value", "text")
      .withColumn("ts", timestamp_micros(col("ts_us")))
    val deduped = graft.streaming.StreamDedup.exactWithinWatermark(
      graft.streaming.StreamDedup.withContentHash(stream, "text"),
      "ts", Seq("content_hash"), watermark = "10 minutes")
    val seen = scala.collection.mutable.ArrayBuffer.empty[Set[String]]
    val q = deduped.writeStream
      .foreachBatch { (b: Dataset[Row], _: Long) =>
        val ids = b.select("doc_id").collect().map(_.getString(0)).toSet
        if (ids.nonEmpty) {
          // Admission runs on the deduped batch; the report stays
          // |sources|-bounded regardless of disorder.
          val rep = datacardArm(b, reference, col("value") > 0.0,
            minWilsonLo = 0.1, valueCol = "value", maxPsi = 5.0)
          assert(rep.count() <= 2)
          seen.synchronized { seen += ids }
          graft.ops.OpCaches.releaseAll()
        }
        ()
      }.start()
    try {
      input.addData(Seq(("d1", "s1", us(60), 1.1, "alpha"),
        ("d2", "s1", us(70), 2.1, "beta")))
      q.processAllAvailable()
      // Late-but-within dup of d1 (must not pad s1's stats) + late novel.
      input.addData(Seq(("d1late", "s1", us(65), 1.1, "alpha"),
        ("d3", "s2", us(62), 1.4, "gamma")))
      q.processAllAvailable()
      input.addData(Seq(("d4", "s2", us(200), 2.4, "delta"))) // wm -> 190
      q.processAllAvailable()
      input.addData(Seq(("d5", "s1", us(100), 9.9, "epsilon"))) // straggler
      q.processAllAvailable()
      val got = seen.synchronized(seen.toSeq)
      assert(got == Seq(Set("d1", "d2"), Set("d3"), Set("d4")),
        s"admission must see deduped, late-filtered batches only: $got")
      assert(!got.exists(_.contains("d5")),
        "a beyond-watermark straggler must never reach admission")
    } finally q.stop()
  }

  test("out-of-order streaming funnel equals batch funnel under bounded disorder") {
    import graft.streaming.StreamFunnel
    import graft.streaming.StreamFunnel.StampedStageEvent
    val stages = Seq("view", "click", "purchase")
    val raw = Seq(
      (1L, "view", 0L), (1L, "click", 20L), (1L, "purchase", 40L),
      (2L, "view", 0L), (2L, "purchase", 30L), (2L, "click", 60L),
      (3L, "view", 0L), (3L, "click", 20L), (3L, "purchase", 90L),
      (4L, "click", 5L),
      (5L, "view", 0L), (5L, "view", 120L), (5L, "click", 130L),
      (5L, "purchase", 140L)
    ).map { case (u, t, min) => (u, t, min * 60L * 1000000L) }
    val winSec = 3600L
    val batchResult = graft.ops.Funnel.windowedFunnel(
        raw.map { case (u, t, usv) =>
          (u, t, new java.sql.Timestamp(usv / 1000L)) }
          .toDF("user_id", "event_type", "ts"),
        "user_id", "ts", "event_type", stages, winSec)
      .select("user_id", "funnel_level", "converted")
      .as[(Long, Int, Boolean)].collect()
      .map { case (u, l, c) => u -> ((l, c)) }.toMap
    // Arrival order: event time plus a deterministic per-event jitter of
    // up to 79 minutes — strictly inside the 80-minute watermark delay,
    // so disorder crosses batch boundaries but never outruns the
    // watermark contract.
    val evs = raw.map { case (u, t, usv) =>
      StampedStageEvent(u, new java.sql.Timestamp(usv / 1000L),
        stages.indexOf(t)) }
    val arrival = evs.sortBy(e =>
      e.ts.getTime + ((e.userId * 37 + e.stage * 13) % 80) * 60000L)
    assert(arrival != evs.sortBy(_.ts.getTime), "fixture must be disordered")
    val input = MemoryStream[StampedStageEvent](
      implicitly[org.apache.spark.sql.Encoder[StampedStageEvent]], spark)
    val q = StreamFunnel.progressOutOfOrder(
        input.toDS().withWatermark("ts", "80 minutes"), stages.size, winSec)(
        implicitly, implicitly)
      .writeStream.outputMode("update").format("memory")
      .queryName("funnel_ooo").start()
    try {
      arrival.grouped(4).foreach { b =>
        input.addData(b); q.processAllAvailable() }
      // nEvents is monotone per user, so the max-nEvents row is the
      // final answer (a speculative level may transiently overshoot
      // when a late stage-0 re-anchors the chain).
      val got = spark.table("funnel_ooo")
        .groupBy("userId")
        .agg(max(struct(col("nEvents"), col("funnelLevel"),
          col("converted"))).as("s"))
        .select(col("userId"), col("s.funnelLevel"), col("s.converted"))
        .as[(Long, Int, Boolean)].collect()
        .map { case (u, l, c) => u -> ((l, c)) }.toMap
      assert(got == batchResult, s"ooo diverged: $got vs $batchResult")
    } finally q.stop()
  }

  test("per-batch source admission (Wilson ∧ PSI vs static reference) before the novelty gate equals the per-split batch recompute") {
    // The streaming form of curation v6's admission control (L292): every
    // micro-batch scores each SOURCE against the static reference snapshot
    // — Wilson 95% lower bound of the quality share AND PSI drift of
    // n_chars — and drops non-admitted sources wholesale BEFORE the
    // accumulated-store novelty gate. Admission is per batch: a source
    // rejected in one batch (drifted values / collapsed quality) is
    // re-admitted the moment a later batch looks healthy again.
    val reference = (1 to 12).flatMap { i =>
      Seq(("a", 40L + i * 5), ("b", 40L + i * 5), ("c", 40L + i * 5))
    }.toDF("source", "n_chars")
    def doc(src: String, id: String, nc: Long, tag: String) =
      (src, id, nc, s"document $tag from source $src")
    // Healthy batches SPREAD their n_chars across the reference range
    // (45 + 7i lands one doc in most bins) — an 8-doc batch concentrated
    // in 2-3 bins reads as drift under the Laplace-smoothed PSI, which is
    // correct behavior but not what these sources should exhibit.
    // Batch 1: a healthy; b DRIFTED (n_chars ~8x the reference range, all
    // mass in the top bin -> PSI ≈ 1.2 > 1.0 rejects); c low-quality
    // (share 3/8, wilson_lo ≈ 0.137 < 0.5 rejects).
    val batch1 = (1 to 8).map(i => doc("a", s"a1$i", 46L + i * 7, s"a1$i")) ++
      (1 to 8).map(i => doc("b", s"b1$i", 800L + i, s"b1$i")) ++
      (1 to 8).map(i => doc("c", s"c1$i",
        if (i <= 3) 53L + i * 15 else 20L + i, s"c1$i"))
    // Batch 2: b recovered (spread back across the range) -> re-admitted;
    // c all-quality -> re-admitted; b21 re-ingests a11's exact text ->
    // admission passes it, the novelty gate must drop it.
    val batch2 =
      Seq(("b", "b21", 52L, "document a11 from source a")) ++
        (2 to 8).map(i => doc("b", s"b2$i", 45L + i * 7, s"b2$i")) ++
        (1 to 8).map(i => doc("c", s"c2$i", 45L + i * 7, s"c2$i"))
    val splits = Seq(batch1, batch2)

    def admitBatch(df: org.apache.spark.sql.DataFrame) =
      graft.streaming.StreamAdmission.admit(df,
        datacardArm(df, reference, col("n_chars") > 50, minWilsonLo = 0.5,
          valueCol = "n_chars", maxPsi = 1.0),
        "source")

    val input = MemoryStream[(String, String, Long, String)](
      implicitly[org.apache.spark.sql.Encoder[(String, String, Long, String)]],
      spark)
    val stream = input.toDF().toDF("source", "doc_id", "n_chars", "text")
    var curated = Vector.empty[String]
    var storeHashes = Vector.empty[String]
    val q = stream.writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        if (!b.isEmpty) {
          val store = storeHashes.toDF("content_hash")
          val novel = graft.streaming.StreamDedup.novelAgainstStore(
            graft.streaming.StreamDedup.withContentHash(admitBatch(b), "text"),
            store, Seq("content_hash")).cache()
          curated = curated ++ novel.select("doc_id").as[String].collect()
          storeHashes =
            storeHashes ++ novel.select("content_hash").as[String].collect()
          novel.unpersist()
          graft.ops.OpCaches.releaseAll()
        }
        ()
      }
      .start()
    try {
      splits.foreach { s => input.addData(s); q.processAllAvailable() }
    } finally q.stop()

    // Batch reference: the SAME admission + novelty functions applied to
    // each ordered split with an accumulating hash store.
    var expect = Vector.empty[String]
    var expectHashes = Set.empty[String]
    splits.foreach { s =>
      val adm = graft.streaming.StreamDedup.withContentHash(
          admitBatch(s.toDF("source", "doc_id", "n_chars", "text")), "text")
        .select("doc_id", "content_hash").as[(String, String)].collect()
      val novel = adm.filterNot(r => expectHashes.contains(r._2))
      expect = expect ++ novel.map(_._1)
      expectHashes = expectHashes ++ novel.map(_._2)
      graft.ops.OpCaches.releaseAll()
    }
    assert(curated.sorted == expect.sorted,
      s"stream=${curated.sorted} batch=${expect.sorted}")
    // Engagement: batch 1 admits ONLY source a (b drifted, c low-quality);
    // batch 2 re-admits b and c, minus the novelty-dropped re-ingest b21.
    val got = curated.toSet
    assert((1 to 8).forall(i => got.contains(s"a1$i")), got)
    assert(!got.exists(_.startsWith("b1")), s"drifted b admitted: $got")
    assert(!got.exists(_.startsWith("c1")), s"low-quality c admitted: $got")
    assert((2 to 8).forall(i => got.contains(s"b2$i")), got)
    assert(!got.contains("b21"), s"re-ingest must be novelty-dropped: $got")
    assert((1 to 8).forall(i => got.contains(s"c2$i")), got)

    // KS drift arm (curation v7's streaming form) on the same splits:
    // the drifted batch-1 b (all values above the reference range) is
    // maximal drift D = 1.0; the recovered batch-2 b interleaves the
    // reference grid (D ≈ 0.1) and re-admits. Same verdicts as PSI here;
    // the statistics differ (binning-free sup-norm vs binned divergence).
    val rep1 = datacardArm(
        batch1.toDF("source", "doc_id", "n_chars", "text"), reference,
        col("n_chars") > 50, minWilsonLo = 0.5, valueCol = "n_chars",
        maxKs = 0.4)
      .select("source", "ks", "admitted")
      .as[(String, Double, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(rep1("b")._1 == 1.0 && !rep1("b")._2, rep1.toString)
    assert(rep1("a")._2 && !rep1("c")._2, rep1.toString)
    val batch2Df = batch2.toDF("source", "doc_id", "n_chars", "text")
    val adm2 = graft.streaming.StreamAdmission.admit(batch2Df,
      datacardArm(batch2Df, reference, col("n_chars") > 50,
        minWilsonLo = 0.5, valueCol = "n_chars", maxKs = 0.4), "source")
      .select("doc_id").as[String].collect().toSet
    assert(adm2 == batch2.map(_._2).toSet, s"batch-2 all re-admitted: $adm2")
    graft.ops.OpCaches.releaseAll()

    // Full ordered-splits parity for the KS arm, mirroring the PSI loop:
    // stream foreachBatch (admit on the KS report -> novelty -> accumulate
    // store) must equal the per-split batch recompute, and the one batch-2
    // re-ingest must pass admission yet drop at the novelty gate.
    def admitKsBatch(df: org.apache.spark.sql.DataFrame) =
      graft.streaming.StreamAdmission.admit(df,
        datacardArm(df, reference, col("n_chars") > 50, minWilsonLo = 0.5,
          valueCol = "n_chars", maxKs = 0.4),
        "source")
    val input2 = MemoryStream[(String, String, Long, String)](
      implicitly[org.apache.spark.sql.Encoder[(String, String, Long, String)]],
      spark)
    val stream2 = input2.toDF().toDF("source", "doc_id", "n_chars", "text")
    var curated2 = Vector.empty[String]
    var store2 = Vector.empty[String]
    val q2 = stream2.writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        if (!b.isEmpty) {
          val novel = graft.streaming.StreamDedup.novelAgainstStore(
            graft.streaming.StreamDedup.withContentHash(admitKsBatch(b), "text"),
            store2.toDF("content_hash"), Seq("content_hash")).cache()
          curated2 = curated2 ++ novel.select("doc_id").as[String].collect()
          store2 = store2 ++ novel.select("content_hash").as[String].collect()
          novel.unpersist()
          graft.ops.OpCaches.releaseAll()
        }
        ()
      }
      .start()
    try {
      splits.foreach { s => input2.addData(s); q2.processAllAvailable() }
    } finally q2.stop()
    var expect2 = Vector.empty[String]
    var expectH2 = Set.empty[String]
    splits.foreach { s =>
      val adm = graft.streaming.StreamDedup.withContentHash(
          admitKsBatch(s.toDF("source", "doc_id", "n_chars", "text")), "text")
        .select("doc_id", "content_hash").as[(String, String)].collect()
      val novel = adm.filterNot(r => expectH2.contains(r._2))
      expect2 = expect2 ++ novel.map(_._1)
      expectH2 = expectH2 ++ novel.map(_._2)
      graft.ops.OpCaches.releaseAll()
    }
    assert(curated2.sorted == expect2.sorted,
      s"KS stream=${curated2.sorted} batch=${expect2.sorted}")
    val gotKs = curated2.toSet
    assert((1 to 8).forall(i => gotKs.contains(s"a1$i")), gotKs)
    assert(!gotKs.exists(_.startsWith("b1")) && !gotKs.exists(_.startsWith("c1")),
      gotKs)
    assert(!gotKs.contains("b21"), s"KS arm: re-ingest must novelty-drop: $gotKs")
    assert((2 to 8).forall(i => gotKs.contains(s"b2$i")) &&
      (1 to 8).forall(i => gotKs.contains(s"c2$i")), gotKs)
  }

  test("streaming admission JS arm: categorical drift rejects, parity with ordered splits") {
    // The categorical member of the admission family (round-13 verdict
    // #4): a source whose LANGUAGE MIX flips reads as drift even though
    // every numeric column is stable — exactly what the PSI/KS arms
    // cannot see. Reference mixes are en/de/fr at (.5, .25, .25) per
    // source.
    val reference = Seq("a", "b", "c").flatMap { src =>
      (1 to 6).map(i => (src, s"r$src$i", "en")) ++
        (1 to 3).map(i => (src, s"rd$src$i", "de")) ++
        (1 to 3).map(i => (src, s"rf$src$i", "fr"))
    }.toDF("source", "doc_id", "lang")
    def doc(src: String, id: String, lang: String, nc: Long) =
      (src, id, lang, nc, s"document $id from source $src")
    // Batch 1: a healthy (same mix, all-quality); b lang mix FLIPPED to a
    // category the reference never saw (JS = ln 2 > 0.2 rejects); c same
    // mix but low quality (3/8 -> wilson_lo ~ 0.137 < 0.5 rejects).
    val batch1 =
      (1 to 4).map(i => doc("a", s"a1$i", "en", 60L)) ++
        (5 to 6).map(i => doc("a", s"a1$i", "de", 60L)) ++
        (7 to 8).map(i => doc("a", s"a1$i", "fr", 60L)) ++
        (1 to 8).map(i => doc("b", s"b1$i", "zz", 60L)) ++
        (1 to 8).map(i => doc("c", s"c1$i",
          if (i <= 4) "en" else if (i <= 6) "de" else "fr",
          if (i <= 3) 60L else 20L))
    // Batch 2: b recovers its mix; c recovers quality; d is BATCH-ONLY
    // (no reference evidence): js forced to ln 2, admitted explicit false.
    val batch2 =
      (1 to 4).map(i => doc("b", s"b2$i", "en", 60L)) ++
        (5 to 6).map(i => doc("b", s"b2$i", "de", 60L)) ++
        (7 to 8).map(i => doc("b", s"b2$i", "fr", 60L)) ++
        (1 to 4).map(i => doc("c", s"c2$i", "en", 60L)) ++
        (5 to 6).map(i => doc("c", s"c2$i", "de", 60L)) ++
        (7 to 8).map(i => doc("c", s"c2$i", "fr", 60L)) ++
        (1 to 4).map(i => doc("d", s"d2$i", "en", 60L))
    val splits = Seq(batch1, batch2)

    val rep1 = datacardArm(
        batch1.toDF("source", "doc_id", "lang", "n_chars", "text"),
        reference, col("n_chars") > 50, minWilsonLo = 0.5, catCol = "lang",
        maxJs = 0.2)
      .select("source", "js", "admitted")
      .as[(String, Double, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(math.abs(rep1("b")._1 - math.log(2.0)) < 1e-6 && !rep1("b")._2,
      rep1.toString)
    assert(rep1("a")._2, rep1.toString)
    assert(rep1("a")._1 == 0.0, s"identical mix must read js=0: $rep1")
    assert(!rep1("c")._2, rep1.toString)
    val rep2 = datacardArm(
        batch2.toDF("source", "doc_id", "lang", "n_chars", "text"),
        reference, col("n_chars") > 50, minWilsonLo = 0.5, catCol = "lang",
        maxJs = 0.2)
      .select("source", "js", "admitted")
      .as[(String, Double, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    // No reference evidence is NEVER a free pass: explicit false, js = ln 2.
    assert(!rep2("d")._2 && math.abs(rep2("d")._1 - math.log(2.0)) < 1e-6,
      rep2.toString)
    assert(rep2("b")._2 && rep2("c")._2, rep2.toString)

    // Full ordered-splits parity, mirroring the KS arm's loop: stream
    // foreachBatch (admit on the JS report -> novelty -> accumulate store)
    // must equal the per-split batch recompute.
    def admitJsBatch(df: org.apache.spark.sql.DataFrame) =
      graft.streaming.StreamAdmission.admit(df,
        datacardArm(df, reference, col("n_chars") > 50, minWilsonLo = 0.5,
          catCol = "lang", maxJs = 0.2),
        "source")
    val input = MemoryStream[(String, String, String, Long, String)](
      implicitly[org.apache.spark.sql.Encoder[(String, String, String, Long, String)]],
      spark)
    val stream = input.toDF().toDF("source", "doc_id", "lang", "n_chars", "text")
    var curated = Vector.empty[String]
    var store = Vector.empty[String]
    val q = stream.writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        if (!b.isEmpty) {
          val novel = graft.streaming.StreamDedup.novelAgainstStore(
            graft.streaming.StreamDedup.withContentHash(admitJsBatch(b), "text"),
            store.toDF("content_hash"), Seq("content_hash")).cache()
          curated = curated ++ novel.select("doc_id").as[String].collect()
          store = store ++ novel.select("content_hash").as[String].collect()
          novel.unpersist()
          graft.ops.OpCaches.releaseAll()
        }
        ()
      }
      .start()
    try {
      splits.foreach { s => input.addData(s); q.processAllAvailable() }
    } finally q.stop()
    var expect = Vector.empty[String]
    var expectH = Set.empty[String]
    splits.foreach { s =>
      val adm = graft.streaming.StreamDedup.withContentHash(
          admitJsBatch(s.toDF("source", "doc_id", "lang", "n_chars", "text")),
          "text")
        .select("doc_id", "content_hash").as[(String, String)].collect()
      val novel = adm.filterNot(r => expectH.contains(r._2))
      expect = expect ++ novel.map(_._1)
      expectH = expectH ++ novel.map(_._2)
      graft.ops.OpCaches.releaseAll()
    }
    assert(curated.sorted == expect.sorted,
      s"JS stream=${curated.sorted} batch=${expect.sorted}")
    val got = curated.toSet
    assert((1 to 8).forall(i => got.contains(s"a1$i")), got)
    assert(!got.exists(_.startsWith("b1")), s"flipped-mix b admitted: $got")
    assert(!got.exists(_.startsWith("c1")), s"low-quality c admitted: $got")
    assert((1 to 8).forall(i => got.contains(s"b2$i")), got)
    assert(!got.exists(_.startsWith("d2")), s"reference-less d admitted: $got")
  }

  test("streaming admission EMBEDDING arm: centroid/norm drift rejects, ordered-splits parity") {
    // The vector member of the admission family: an encoder regression
    // moves the batch's centroid (direction) or its norms (scale) while
    // every scalar column stays stable. Reference: source a near e1,
    // source b near e2, unit norms.
    def vec(main: Int, eps: Double): Seq[Double] =
      Seq.tabulate(4)(d => (if (d == main) 1.0 else 0.0) + (if (d == 3) eps else 0.0))
    val reference = ((1 to 6).map(i => ("a", s"ra$i", vec(0, 0.01 * i))) ++
      (1 to 6).map(i => ("b", s"rb$i", vec(1, 0.01 * i))))
      .toDF("source", "doc_id", "emb")
    def doc(src: String, id: String, v: Seq[Double], nc: Long) =
      (src, id, v, nc, s"document $id from source $src")
    // Batch 1: a aligned (cos ~ 1) all-quality; b ROTATED onto e3
    // (centroid cosine ~ 0 < 0.8 rejects).
    val batch1 = (1 to 6).map(i => doc("a", s"a1$i", vec(0, 0.01 * i), 60L)) ++
      (1 to 6).map(i => doc("b", s"b1$i", vec(2, 0.01 * i), 60L))
    // Batch 2: b re-aligned but NORMS 3x (norm_ratio ~ 3 rejects); a
    // stays healthy.
    val batch2 = (1 to 6).map(i => doc("a", s"a2$i", vec(0, 0.01 * i), 60L)) ++
      (1 to 6).map(i => doc("b", s"b2$i", vec(1, 0.01 * i).map(_ * 3.0), 60L))
    // Batch 3: b fully recovered.
    val batch3 = (1 to 6).map(i => doc("b", s"b3$i", vec(1, 0.01 * i), 60L))
    val splits = Seq(batch1, batch2, batch3)

    val rep1 = datacardArm(
        batch1.toDF("source", "doc_id", "emb", "n_chars", "text"),
        reference, col("n_chars") > 50, minWilsonLo = 0.5, vecCol = "emb",
        minCentroidCos = 0.8, maxNormDelta = 0.2)
      .select("source", "centroid_cosine", "norm_ratio", "admitted")
      .as[(String, Double, Double, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(rep1("a")._3 && rep1("a")._1 > 0.99, rep1.toString)
    assert(!rep1("b")._3 && rep1("b")._1 < 0.2,
      s"rotated centroid must reject: $rep1")
    val rep2 = datacardArm(
        batch2.toDF("source", "doc_id", "emb", "n_chars", "text"),
        reference, col("n_chars") > 50, minWilsonLo = 0.5, vecCol = "emb",
        minCentroidCos = 0.8, maxNormDelta = 0.2)
      .select("source", "centroid_cosine", "norm_ratio", "admitted")
      .as[(String, Double, Double, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(!rep2("b")._3 && math.abs(rep2("b")._2 - 3.0) < 0.05,
      s"norm drift must reject even with cosine ~1: $rep2")
    assert(rep2("b")._1 > 0.99, rep2.toString)

    // Ordered-splits parity (same loop shape as the KS/JS arms).
    def admitEmbBatch(df: org.apache.spark.sql.DataFrame) =
      graft.streaming.StreamAdmission.admit(df,
        datacardArm(df, reference, col("n_chars") > 50, minWilsonLo = 0.5,
          vecCol = "emb", minCentroidCos = 0.8, maxNormDelta = 0.2),
        "source")
    val input = MemoryStream[(String, String, Seq[Double], Long, String)](
      implicitly[org.apache.spark.sql.Encoder[(String, String, Seq[Double], Long, String)]],
      spark)
    val stream = input.toDF().toDF("source", "doc_id", "emb", "n_chars", "text")
    var curated = Vector.empty[String]
    var store = Vector.empty[String]
    val q = stream.writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        if (!b.isEmpty) {
          val novel = graft.streaming.StreamDedup.novelAgainstStore(
            graft.streaming.StreamDedup.withContentHash(admitEmbBatch(b), "text"),
            store.toDF("content_hash"), Seq("content_hash")).cache()
          curated = curated ++ novel.select("doc_id").as[String].collect()
          store = store ++ novel.select("content_hash").as[String].collect()
          novel.unpersist()
          graft.ops.OpCaches.releaseAll()
        }
        ()
      }
      .start()
    try {
      splits.foreach { s => input.addData(s); q.processAllAvailable() }
    } finally q.stop()
    var expect = Vector.empty[String]
    var expectH = Set.empty[String]
    splits.foreach { s =>
      val adm = graft.streaming.StreamDedup.withContentHash(
          admitEmbBatch(s.toDF("source", "doc_id", "emb", "n_chars", "text")),
          "text")
        .select("doc_id", "content_hash").as[(String, String)].collect()
      val novel = adm.filterNot(r => expectH.contains(r._2))
      expect = expect ++ novel.map(_._1)
      expectH = expectH ++ novel.map(_._2)
      graft.ops.OpCaches.releaseAll()
    }
    assert(curated.sorted == expect.sorted,
      s"EMB stream=${curated.sorted} batch=${expect.sorted}")
    val got = curated.toSet
    assert((1 to 6).forall(i => got.contains(s"a1$i")), got)
    assert(!got.exists(_.startsWith("b1")), s"rotated b admitted: $got")
    assert(!got.exists(_.startsWith("b2")), s"norm-drifted b admitted: $got")
    assert((1 to 6).forall(i => got.contains(s"b3$i")), got)
  }

  test("streaming admission DATACARD: four arms in one report, each tripping its own source") {
    // The per-ingest log line (streaming face of dq_drift_datacard):
    // five sources, each failing exactly one arm — the datacard must
    // show WHICH modality moved, and the composite verdict must reject
    // each for its own reason while admitting the healthy source.
    def vec(main: Int, eps: Double): Seq[Double] =
      Seq.tabulate(4)(d => (if (d == main) 1.0 else 0.0) + (if (d == 3) eps else 0.0))
    val srcs = Seq("ok", "numdrift", "catdrift", "vecdrift", "lowq")
    val reference = srcs.flatMap { src =>
      (1 to 12).map { i =>
        val lang = if (i <= 6) "en" else if (i <= 9) "de" else "fr"
        (src, s"r$src$i", 40L + i * 5, lang, vec(0, 0.01 * i))
      }
    }.toDF("source", "doc_id", "n_chars", "lang", "emb")
    // Healthy batches SPREAD n_chars across the reference range (45+7i —
    // the r13 admission-fixture discipline: a batch concentrated on one
    // value reads as KS drift against a spread reference, correctly).
    def healthyRow(src: String, i: Int) = {
      val lang = if (i <= 4) "en" else if (i <= 6) "de" else "fr"
      (src, s"b$src$i", 45L + i * 7, lang, vec(0, 0.01 * i))
    }
    val batch = (
      (1 to 8).map(i => healthyRow("ok", i)) ++
        // numeric drift: n_chars ~10x the reference range, mix/vectors fine
        (1 to 8).map { i =>
          val h = healthyRow("numdrift", i); (h._1, h._2, 900L + i, h._4, h._5)
        } ++
        // categorical drift: lang flipped to an unseen category
        (1 to 8).map { i =>
          val h = healthyRow("catdrift", i); (h._1, h._2, h._3, "zz", h._5)
        } ++
        // vector drift: centroid rotated onto another axis
        (1 to 8).map { i =>
          val h = healthyRow("vecdrift", i); (h._1, h._2, h._3, h._4, vec(2, 0.01 * i))
        } ++
        // low quality: 3 of 8 pass the quality predicate
        (1 to 8).map { i =>
          val h = healthyRow("lowq", i)
          (h._1, h._2, if (i <= 3) h._3 else 20L + i, h._4, h._5)
        }
      ).toDF("source", "doc_id", "n_chars", "lang", "emb")

    val rep = graft.streaming.StreamAdmission.admissionDatacard(
        batch, reference, "source", "n_chars", "lang", "emb",
        col("n_chars") > 50, minWilsonLo = 0.5, maxPsi = 1.0, maxKs = 0.4,
        maxJs = 0.2, minCentroidCos = 0.8, maxNormDelta = 0.2)
      .collect().map(r => r.getAs[String]("source") -> r).toMap
    graft.ops.OpCaches.releaseAll()
    // State claim: the datacard is |sources|-bounded — one row per batch
    // source, nothing per-document survives (the bench row asserts the
    // same bound per micro-batch under volume).
    assert(rep.size == srcs.size, s"datacard must be |sources|-bounded: $rep")
    assert(rep("ok").getAs[Boolean]("admitted"), rep("ok").toString)
    assert(!rep("numdrift").getAs[Boolean]("admitted"))
    assert(rep("numdrift").getAs[Double]("ks") > 0.4,
      s"numeric arm must trip: ${rep("numdrift")}")
    assert(rep("numdrift").getAs[Double]("js") <= 0.2,
      s"categorical arm must NOT trip on numeric drift: ${rep("numdrift")}")
    assert(!rep("catdrift").getAs[Boolean]("admitted"))
    assert(rep("catdrift").getAs[Double]("js") > 0.2 &&
      rep("catdrift").getAs[Double]("ks") <= 0.4,
      s"only the categorical arm moves: ${rep("catdrift")}")
    assert(!rep("vecdrift").getAs[Boolean]("admitted"))
    assert(rep("vecdrift").getAs[Double]("centroid_cosine") < 0.2 &&
      rep("vecdrift").getAs[Double]("js") <= 0.2 &&
      rep("vecdrift").getAs[Double]("ks") <= 0.4,
      s"only the vector arm moves: ${rep("vecdrift")}")
    assert(!rep("lowq").getAs[Boolean]("admitted"))
    assert(rep("lowq").getAs[Double]("wilson_lo") < 0.5, rep("lowq").toString)

    // admit on the datacard verdict keeps exactly the healthy source's
    // documents.
    val adm = graft.streaming.StreamAdmission.admit(batch,
        graft.streaming.StreamAdmission.admissionDatacard(
          batch, reference, "source", "n_chars", "lang", "emb",
          col("n_chars") > 50, minWilsonLo = 0.5, maxPsi = 1.0, maxKs = 0.4,
          maxJs = 0.2, minCentroidCos = 0.8, maxNormDelta = 0.2),
        "source")
      .select("source").distinct().as[String].collect().toSet
    graft.ops.OpCaches.releaseAll()
    assert(adm == Set("ok"), s"only the healthy source survives: $adm")
  }

  test("datacard JS arm gates on its OWN categorical evidence, not the KS counts") {
    // Round-14 advice #2 regression: a source whose NUMERIC column is
    // all-null on both sides but whose categorical column is live must
    // report its REAL js (here 0.0 — identical language mixes), while ks
    // correctly coalesces to 1.0 for want of numeric evidence. The old
    // gating clobbered js to ln 2 off the KS pass's n_ref, misreporting
    // which modality drifted.
    def rows(pfx: String) = (1 to 12).map(i =>
      ("s", s"$pfx$i", Option.empty[Long], if (i <= 6) "en" else "de",
        Seq(1.0, 0.0)))
    val reference = rows("r").toDF("source", "doc_id", "n_chars", "lang", "emb")
    val batch = rows("b").toDF("source", "doc_id", "n_chars", "lang", "emb")
    val rep = graft.streaming.StreamAdmission.admissionDatacard(
        batch, reference, "source", "n_chars", "lang", "emb",
        quality = lit(true), minWilsonLo = 0.0, maxPsi = 10.0, maxKs = 2.0,
        maxJs = 0.2, minCentroidCos = 0.5, maxNormDelta = 0.5)
      .collect()
    graft.ops.OpCaches.releaseAll()
    assert(rep.length == 1)
    val r = rep.head
    assert(r.getAs[Double]("js") == 0.0,
      s"identical category mixes must read js=0, not ln 2: $r")
    assert(r.getAs[Double]("ks") == 1.0,
      s"no numeric evidence must read maximal ks: $r")
  }
}
