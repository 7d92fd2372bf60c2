package graft

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Multimodal, OpCaches, Similarity}

/** Fitted-artifact persistence + real image header decode + op-cache
  * lifecycle.
  */
class ArtifactSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val emb = {
    // 3 well-separated clusters of 8-dim vectors, deterministic.
    val rows = for (c <- 0 until 3; i <- 0 until 10) yield {
      val base = Array.fill(8)(0.01)
      base(c) = 1.0 + 0.01 * i
      (c * 100L + i, s"c$c", base.toSeq)
    }
    rows.toDF("vec_id", "label", "embedding")
  }

  test("IVF index save/load round-trips: loaded probe equals fresh-fit probe") {
    val idx = Similarity.ivfFit(emb, "label", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("ivf_idx").toString + "/idx"
    Similarity.ivfSave(spark, idx, dir)
    val loaded = Similarity.ivfLoad(spark, dir)

    assert(loaded.centroids.map(_.label) == idx.centroids.map(_.label))
    assert(loaded.centroids.map(_.vec) == idx.centroids.map(_.vec))
    assert(loaded.centroids.map(_.norm) == idx.centroids.map(_.norm))

    val queries = emb.filter($"vec_id" % 100 === 0)
    def knn(i: Similarity.IvfIndex) =
      Similarity.ivfKnn(emb, queries, "vec_id", "embedding", "label",
          k = 3, nprobe = 2, index = Some(i))
        .orderBy("query_id", "rn")
        .as[(Long, String, Long, Double, Int)].collect().toSeq
    assert(knn(loaded) == knn(idx))
  }

  test("PNG IHDR header parse reads real big-endian dimensions") {
    def be32(v: Int) = Array((v >> 24).toByte, (v >> 16).toByte, (v >> 8).toByte, v.toByte)
    val png = Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a) ++
      be32(13) ++ "IHDR".getBytes ++ be32(640) ++ be32(480) ++
      Array[Byte](8, 6, 0, 0, 0) ++ be32(0) // bit depth 8, RGBA, fake CRC
    assert(Multimodal.parseImageHeader(png).contains((640, 480, 4)))
    // grayscale color type 0 → 1 channel
    png(25) = 0
    assert(Multimodal.parseImageHeader(png).contains((640, 480, 1)))
    // truncated → None
    assert(Multimodal.parseImageHeader(png.take(20)).isEmpty)
  }

  test("JPEG SOF parse walks leading segments (APP0/EXIF-style) to the frame header") {
    def seg(marker: Int, payload: Array[Byte]): Array[Byte] =
      Array(0xff.toByte, marker.toByte,
        ((payload.length + 2) >> 8).toByte, ((payload.length + 2) & 0xff).toByte) ++ payload
    val app0 = seg(0xe0, "JFIF".getBytes ++ Array[Byte](0, 1, 1, 0, 0, 1, 0, 1, 0, 0))
    val dqt = seg(0xdb, Array.fill[Byte](65)(3)) // another skippable segment
    val sof0 = seg(0xc0, Array[Byte](8,
      (1080 >> 8).toByte, (1080 & 0xff).toByte,    // height
      (1920 >> 8).toByte, (1920 & 0xff).toByte,    // width
      3, 1, 0x11, 0, 2, 0x11, 1, 3, 0x11, 1))
    val jpeg = Array(0xff.toByte, 0xd8.toByte) ++ app0 ++ dqt ++ sof0 ++
      Array(0xff.toByte, 0xd9.toByte)
    assert(Multimodal.parseImageHeader(jpeg).contains((1920, 1080, 3)))
    // progressive (SOF2) resolves too
    jpeg(2 + app0.length + dqt.length + 1) = 0xc2.toByte
    assert(Multimodal.parseImageHeader(jpeg).contains((1920, 1080, 3)))
    // ITU T.81 B.1.1.2 fill bytes: extra 0xFF padding before a marker is
    // spec-legal and must not derail the walk.
    val padded = Array(0xff.toByte, 0xd8.toByte) ++
      Array(0xff.toByte, 0xff.toByte, 0xff.toByte).dropRight(1) ++ // fill
      app0.drop(1) ++ dqt ++ sof0 ++ Array(0xff.toByte, 0xd9.toByte)
    assert(Multimodal.parseImageHeader(padded).contains((1920, 1080, 3)))
    // non-image bytes fall through to None (stub path)
    assert(Multimodal.parseImageHeader("plain text".getBytes).isEmpty)
  }

  test("sourceDrift: centered label reads 1.0, axis-aligned labels read their geometry") {
    // Global mean of the 3-cluster fixture sits between the cluster axes;
    // each label's mean is axis-aligned, so cos(label, global) is equal
    // across labels by symmetry and strictly below 1. A fourth label AT
    // the global mean must read exactly 1.0 after rounding.
    val gm = Similarity.sourceDrift(emb, "label", "embedding")
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(gm.keySet == Set("c0", "c1", "c2"))
    assert(gm.values.forall(v => v > 0 && v < 1))
    assert(math.abs(gm("c0") - gm("c1")) < 1e-6 &&
      math.abs(gm("c1") - gm("c2")) < 1e-6, s"symmetric fixture: $gm")
    // Degenerate: every vector identical → every label centered → 1.0.
    val flat = Seq((1L, "a", Seq(1.0, 2.0)), (2L, "b", Seq(1.0, 2.0)))
      .toDF("vec_id", "label", "embedding")
    val f = Similarity.sourceDrift(flat, "label", "embedding")
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(f == Map("a" -> 1.0, "b" -> 1.0))
  }

  test("dimStats: per-dimension moments and the dead-dim flag") {
    // dim 0 varies, dim 1 is constant (dead), dim 2 varies with negatives.
    val emb = Seq(
      (1L, Seq(1.0f, 5.0f, -2.0f)),
      (2L, Seq(3.0f, 5.0f, 0.0f)),
      (3L, Seq(5.0f, 5.0f, 2.0f))).toDF("vec_id", "embedding")
    val got = Similarity.dimStats(emb, "embedding")
      .collect().map(r => r.getInt(0) -> r).toMap
    assert(got.keySet == Set(0, 1, 2))
    assert(got(0).getAs[Double]("mean") == 3.0 && got(0).getAs[Double]("std") == 2.0)
    assert(!got(0).getAs[Boolean]("dead"))
    assert(got(1).getAs[Double]("std") == 0.0 && got(1).getAs[Boolean]("dead"),
      "constant dimension must flag dead")
    assert(got(2).getAs[Double]("min_v") == -2.0 && got(2).getAs[Double]("max_v") == 2.0)
    assert(got.values.forall(_.getAs[Long]("n") == 3L))
  }

  test("MP4 header parse walks big-endian boxes to ftyp brand and moov/mvhd") {
    def be32(v: Long) = Array((v >> 24).toByte, (v >> 16).toByte,
      (v >> 8).toByte, v.toByte)
    def box(tag: String, body: Array[Byte]) =
      be32(8L + body.length) ++ tag.getBytes ++ body
    val mvhd = box("mvhd", Array[Byte](0, 0, 0, 0) ++ be32(0L) ++ be32(0L) ++
      be32(90000L) ++ be32(450000L) ++ Array.fill[Byte](80)(0))
    // An interposed unknown box inside moov and a free box at top level
    // must be skipped by size, not by enumeration.
    val moov = box("moov", box("iods", Array[Byte](1, 2, 3, 4)) ++ mvhd)
    val mp4 = box("ftyp", "mp42".getBytes ++ be32(0L)) ++
      box("free", Array[Byte](0, 0)) ++ moov
    assert(Multimodal.parseMp4Header(mp4).contains(("mp42", 90000L, 450000L, 5000L)))
    // Corrupt u32 box size >= 2^31 must end the walk (Long advance), not
    // wrap an Int index.
    val huge = box("ftyp", "isom".getBytes ++ be32(0L)) ++
      be32(0xfffffff0L) ++ "free".getBytes ++ moov
    assert(Multimodal.parseMp4Header(huge).isEmpty)
    // Truncation, mvhd v1 (64-bit), zero timescale, non-MP4 → None.
    assert(Multimodal.parseMp4Header(mp4.take(40)).isEmpty)
    val v1 = box("moov", box("mvhd", Array[Byte](1, 0, 0, 0) ++
      Array.fill[Byte](96)(0)))
    assert(Multimodal.parseMp4Header(
      box("ftyp", "isom".getBytes ++ be32(0L)) ++ v1).isEmpty)
    val zeroTs = box("moov", box("mvhd", Array[Byte](0, 0, 0, 0) ++
      be32(0L) ++ be32(0L) ++ be32(0L) ++ be32(100L) ++ Array.fill[Byte](80)(0)))
    assert(Multimodal.parseMp4Header(
      box("ftyp", "isom".getBytes ++ be32(0L)) ++ zeroTs).isEmpty)
    assert(Multimodal.parseMp4Header("plain text long enough here".getBytes).isEmpty)
    assert(Multimodal.looksLikeMp4(mp4) &&
      !Multimodal.looksLikeMp4("no brand".getBytes))
  }

  test("WAV header parse walks interposed chunks little-endian to fmt and data") {
    def le16(v: Int) = Array(v.toByte, (v >> 8).toByte)
    def le32(v: Long) = Array(v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)
    def chunk(id: String, body: Array[Byte]) =
      id.getBytes ++ le32(body.length.toLong) ++ body ++
        (if (body.length % 2 == 1) Array[Byte](0) else Array.empty[Byte])
    val fmt = chunk("fmt ", le16(1) ++ le16(2) ++ le32(44100L) ++
      le32(44100L * 2 * 2) ++ le16(4) ++ le16(16))
    val list = chunk("LIST", "INFOsoft".getBytes ++ Array[Byte](9)) // odd → padded
    val fact = chunk("fact", le32(1234L))
    val dataHdr = "data".getBytes ++ le32(88200L) // size only, no body
    val wav = "RIFF".getBytes ++ le32(4L) ++ "WAVE".getBytes ++
      list ++ fmt ++ fact ++ dataHdr
    assert(Multimodal.parseWavHeader(wav).contains((2, 44100, 16, 4, 88200L)))
    // A corrupt non-final chunk declaring a u32 size >= 2^31 must end the
    // walk as "structure truncated" (None), never overflow the advance
    // into a negative index (the advance is Long arithmetic).
    val hugeChunk = "LIST".getBytes ++ le32(0xfffffff0L)
    val overflow = "RIFF".getBytes ++ le32(4L) ++ "WAVE".getBytes ++
      hugeChunk ++ fmt ++ dataHdr
    assert(Multimodal.parseWavHeader(overflow).isEmpty)
    // (a header-only data chunk must be FINAL: the walk advances past the
    // declared body size, so only a trailing absent body is recoverable —
    // matching the spec's fmt-before-data ordering)
    // truncated fmt / missing data / zero channels → None
    assert(Multimodal.parseWavHeader(wav.take(30)).isEmpty)
    assert(Multimodal.parseWavHeader(
      "RIFF".getBytes ++ le32(4L) ++ "WAVE".getBytes ++ fmt).isEmpty)
    val badFmt = chunk("fmt ", le16(1) ++ le16(0) ++ le32(44100L) ++
      le32(0L) ++ le16(4) ++ le16(16))
    assert(Multimodal.parseWavHeader(
      "RIFF".getBytes ++ le32(4L) ++ "WAVE".getBytes ++ badFmt ++ dataHdr).isEmpty)
    // non-audio bytes fall through to None
    assert(Multimodal.parseWavHeader("plain text but long enough".getBytes).isEmpty)
  }

  test("corrupt WAV payloads decode to null fields; duration uses integer math") {
    def le16(v: Int) = Array(v.toByte, (v >> 8).toByte)
    def le32(v: Long) = Array(v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)
    val fmt = "fmt ".getBytes ++ le32(16L) ++ le16(1) ++ le16(1) ++
      le32(8000L) ++ le32(8000L) ++ le16(1) ++ le16(8)
    val good = "RIFF".getBytes ++ le32(4L) ++ "WAVE".getBytes ++ fmt ++
      "data".getBytes ++ le32(12345L)
    val corrupt = "RIFF".getBytes ++ le32(4L) ++ "WAVE".getBytes // magic only
    val media = Seq((1L, good), (2L, corrupt), (3L, "not audio at all".getBytes))
      .toDF("media_id", "payload")
    val got = Multimodal.decodeAudioMeta(media).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(got(1L).getInt(2) == 1 && got(1L).getInt(3) == 8000 &&
      got(1L).getInt(4) == 8 && got(1L).getInt(5) == 1 &&
      got(1L).getLong(6) == 12345L)
    assert(got(1L).getLong(7) == 12345L * 8000L / (8000L * 1 * 8)) // 1543 ms
    assert(got(2L).isNullAt(2) && got(2L).isNullAt(7), "corrupt → nulls")
    assert(got(3L).isNullAt(2), "non-audio → nulls, never fabricated")
  }

  test("audioSegments: frame-aligned byte ranges, overlap, zero-duration drop") {
    def le16(v: Int) = Array(v.toByte, (v >> 8).toByte)
    def le32(v: Long) = Array(v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)
    def wav(ch: Int, rate: Long, bits: Int, frames: Long) = {
      val ba = ch * bits / 8
      "RIFF".getBytes ++ le32(4L) ++ "WAVE".getBytes ++
        "fmt ".getBytes ++ le32(16L) ++ le16(1) ++ le16(ch) ++ le32(rate) ++
        le32(rate * ba) ++ le16(ba) ++ le16(bits) ++
        "data".getBytes ++ le32(frames * ba)
    }
    // 1 ch, 1000 Hz, 16-bit, 250 frames → 250 ms, blockAlign 2.
    // segMs=100/stride=50 → starts 0,50,100,150,200; last seg 50 ms.
    val media = Seq(
      (1L, wav(1, 1000L, 16, 250L)),
      (2L, wav(2, 44100L, 16, 10L)) // 10 frames @44.1k → 0 ms → drops
    ).toDF("media_id", "payload")
    val got = Multimodal.audioSegments(media, segMs = 100L, strideMs = 50L)
      .orderBy("media_id", "seg_idx")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
    assert(got.forall(_._1 == 1L), "zero-duration clip must yield no segments")
    assert(got.map(_._3) == Seq(0L, 50L, 100L, 150L, 200L))
    assert(got.head == ((1L, 0, 0L, 100L, 0L, 200L))) // 100 frames × 2 B
    assert(got.last == ((1L, 4, 200L, 250L, 400L, 100L))) // trailing partial
    assert(got.forall(s => s._5 % 2 == 0 && s._6 % 2 == 0), "blockAlign-aligned")
  }

  test("versionDiff classifies null-text docs by presence, not hash nullability") {
    val oldV = Seq((1L, Option("alpha")), (2L, Option.empty[String]),
      (3L, Option("gone")), (4L, Option.empty[String])).toDF("doc_id", "text")
    val newV = Seq((1L, Option("alpha")), (2L, Option.empty[String]),
      (5L, Option("fresh")), (4L, Option("filled"))).toDF("doc_id", "text")
    val got = graft.ops.Dedup.versionDiff(oldV, newV, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "unchanged", 2L -> "unchanged", 3L -> "removed",
      4L -> "changed", 5L -> "added"), got.toString)
  }

  test("stratifiedExact pre-thin keeps NULL-stratum rows drawing defaultCount") {
    // Strata of 1500 rows — ABOVE the 1000-row thin floor, so the thin
    // rate is 1000/1500 < 1 and the pre-filter genuinely drops rows
    // (a smaller fixture passes this test vacuously with rate 1).
    val df = (1 to 3000).map(i => (i.toLong,
      if (i % 2 == 0) Option("a") else Option.empty[String]))
      .toDF("id", "stratum")
    val thinSurvivors = df.filter(
      graft.ops.Sampling.keyUniform(org.apache.spark.sql.functions.col("id"))
        < 1000.0 / 1500.0).count()
    assert(thinSurvivors > 0 && thinSurvivors < 3000,
      s"fixture must make the thin predicate non-vacuous: $thinSurvivors")
    def run(thin: Option[Double]) =
      graft.ops.Sampling.stratifiedExact(df, "id", "stratum",
          counts = Map("a" -> 3), defaultCount = 4, preThinSafety = thin)
        .select("id").as[Long].collect().sorted.toSeq
    val thinned = run(Some(10.0))
    assert(thinned == run(None), "pre-thin must not change the answer")
    assert(thinned.count(_ % 2 == 1) == 4, "NULL stratum draws defaultCount")
    assert(thinned.count(_ % 2 == 0) == 3, "stratum 'a' draws its quota")
  }

  test("corrupt image payloads decode to null dims, never fabricated ones") {
    val corruptJpeg = Array(0xff.toByte, 0xd8.toByte, 0xff.toByte) // truncated
    val textBytes = "just some text".getBytes
    val media = Seq((1L, corruptJpeg, "image/jpeg"), (2L, textBytes, "text/plain"))
      .toDF("media_id", "payload", "mime")
    val got = Multimodal.decodeImageMeta(media).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(got(1L).isNullAt(2) && got(1L).isNullAt(3), "corrupt image → nulls")
    assert(!got(2L).isNullAt(2), "non-image → deterministic stub dims")
  }

  test("spherical k-means recovers well-separated clusters (pure assignment)") {
    val idx = Similarity.kmeansFit(emb, "vec_id", "embedding", k = 3, iters = 3)
    assert(idx.centroids.size == 3)
    val assign = Similarity.ivfAssign(emb, "vec_id", "embedding", idx)
      .collect().map(r => r.getLong(0) -> r.getInt(1))
    // Every true cluster (vec_id / 100) maps to exactly one fitted label.
    val byTrue = assign.groupBy(_._1 / 100).view.mapValues(_.map(_._2).toSet)
    assert(byTrue.values.forall(_.size == 1), byTrue.toMap.toString)
    assert(byTrue.values.flatten.toSet.size == 3, "labels must be distinct")
  }

  test("k-means fit scales past 10 centroids; nlist=64 IVF recall >= nlist=8") {
    // 64 well-separated clusters in 64 dims, 4 points each — enough cells
    // to exercise the (former) k <= 10 string-sort cap.
    val rows = for (c <- 0 until 64; i <- 0 until 4) yield {
      val base = Array.fill(64)(0.001)
      base(c) = 1.0 + 0.01 * i
      (c * 100L + i, base.toSeq)
    }
    val corpus = rows.toDF("vec_id", "embedding")
    val queries = corpus.filter($"vec_id" % 100 === 0 && $"vec_id" < 1600)
    val truth = Similarity.bruteForceKnn(corpus, queries, "vec_id", "embedding", k = 3)

    def meanRecall(idx: Similarity.IvfIndex, nprobe: Int): Double = {
      val assigned = corpus.join(
        Similarity.ivfAssign(corpus, "vec_id", "embedding", idx), Seq("vec_id"))
      val ann = Similarity.ivfKnn(assigned, queries, "vec_id", "embedding",
        "cluster", k = 3, nprobe = nprobe, index = Some(idx))
      Similarity.recallAtK(ann, truth, 3)
        .agg(org.apache.spark.sql.functions.avg($"recall")).as[Double].head()
    }

    val idx64 = Similarity.kmeansFit(corpus, "vec_id", "embedding", k = 64, iters = 2)
    assert(idx64.centroids.size > 10, "the old k <= 10 cap must be lifted")
    val labels = idx64.centroids.map(_.label.asInstanceOf[Int])
    assert(labels == labels.sorted, s"labels must sort numerically: $labels")

    val idx8 = Similarity.kmeansFit(corpus, "vec_id", "embedding", k = 8, iters = 2)
    val r64 = meanRecall(idx64, nprobe = 2)
    val r8 = meanRecall(idx8, nprobe = 2)
    assert(r64 >= r8, s"recall@3 nlist=64 ($r64) must be >= nlist=8 ($r8)")
    assert(r64 > 0.9, s"well-separated clusters should give high recall: $r64")
  }

  test("compression ratio separates repetitive from varied text") {
    val docs = Seq(
      (1L, "spam spam spam spam spam spam spam spam spam spam spam spam"),
      (2L, "quartz vixen jumbled phlegm dwarf sphinx blocky judge wafts nymph"),
      (3L, "")).toDF("doc_id", "text")
    val got = graft.ops.TextAnalysis.compressionRatio(docs, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_bytes"), r.getAs[Long]("deflate_bytes"),
          r.getAs[Double]("compress_ratio"))).toMap
    // Repetitive text compresses far better than varied text.
    assert(got(1L)._3 < got(2L)._3,
      s"repetitive should compress better: $got")
    assert(got(1L)._3 < 0.5 && got(2L)._3 > 0.7, got.toString)
    // Empty input: defined ratio, zero sizes handled.
    assert(got(3L)._1 == 0L && got(3L)._3 == 1.0)
    // Deterministic across invocations (same deflate bytes).
    val again = graft.ops.TextAnalysis.compressionRatio(docs, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("deflate_bytes")).sorted.toSeq
    assert(again == got.values.map(_._2).toSeq.sorted)
  }

  test("OpCaches.releaseAll unpersists every op-registered cache") {
    OpCaches.releaseAll() // isolate from other suites' leftovers
    val before = spark.sparkContext.getPersistentRDDs.size
    // nearDuplicates registers scoped caches internally.
    graft.ops.Dedup.nearDuplicates(
      Seq((1L, "a b c d e"), (2L, "a b c d f")).toDF("doc_id", "text"),
      "doc_id", "text", minJaccard = 0.1, maxDocFrequency = None).count()
    assert(OpCaches.registered > 0)
    OpCaches.releaseAll()
    assert(OpCaches.registered == 0)
    // unpersist(blocking=false) is async; poll briefly for the RDDs to go.
    val deadline = System.nanoTime() + 10e9.toLong
    while (spark.sparkContext.getPersistentRDDs.size > before &&
           System.nanoTime() < deadline) Thread.sleep(100)
    assert(spark.sparkContext.getPersistentRDDs.size <= before)
  }

  test("OpCaches.scoped re-caches after a bare clearCache; a live equal cache registers nothing") {
    import org.apache.spark.storage.StorageLevel
    OpCaches.releaseAll(blocking = true)
    def frame = (1 to 50).map(i => (i.toLong, i * 2.0)).toDF("id", "v")
      .filter(col("v") > 10.0)
    val first = OpCaches.scoped(frame)
    assert(first.storageLevel != StorageLevel.NONE)
    val n = OpCaches.registered
    // The streaming admission loop's case: an equal frame re-derived while
    // the cache is live reads that cache and registers nothing new.
    val again = OpCaches.scoped(frame)
    assert(again.storageLevel != StorageLevel.NONE)
    assert(OpCaches.registered == n, "a live equal cache must not re-register")
    // A bare clearCache drops the cache behind the registry's back; the
    // next scoped call on an equal frame must cache it again.
    spark.catalog.clearCache()
    assert(frame.storageLevel == StorageLevel.NONE)
    val recached = OpCaches.scoped(frame)
    assert(recached.storageLevel != StorageLevel.NONE,
      "scoped after clearCache must return a cached frame")
    OpCaches.releaseAll(blocking = true)
    assert(frame.storageLevel == StorageLevel.NONE)
    // A caller-owned cache of an equal plan is never registered, so
    // releaseAll leaves it alone.
    val owned = frame.cache()
    try {
      OpCaches.scoped(frame)
      assert(OpCaches.registered == 0)
      OpCaches.releaseAll(blocking = true)
      assert(owned.storageLevel != StorageLevel.NONE)
    } finally owned.unpersist(blocking = true)
  }

  test("releaseAll frees rank-op localCheckpoint blocks (not just caches)") {
    // The rank/prefix-sum family checkpoints its range-partitioned frame
    // (lineage truncation — a released cache would silently re-sample
    // range bounds). Dataset.unpersist can't free those MEMORY_AND_DISK
    // blocks; OpCaches.scopedCheckpoint registers the underlying RDD so a
    // long bench/verify session releases them between queries instead of
    // waiting on driver GC (round-13 ADVICE).
    OpCaches.releaseAll(blocking = true)
    val before = spark.sparkContext.getPersistentRDDs.size
    val df = (1 to 500).map(i => (i.toLong, (i * 37 % 101).toDouble))
      .toDF("id", "v")
    val ranked = graft.ops.Stats.withRangeRank(df,
      Seq(col("v"), col("id")), "rank")
    assert(ranked.count() == 500)
    assert(OpCaches.registered > 0, "checkpoint must register for release")
    assert(spark.sparkContext.getPersistentRDDs.size > before,
      "the checkpointed RDD must hold blocks while registered")
    OpCaches.releaseAll(blocking = true)
    assert(OpCaches.registered == 0)
    assert(spark.sparkContext.getPersistentRDDs.size <= before,
      "releaseAll must drop the checkpoint blocks")
  }
}
