package graft

import org.apache.spark.graft.JobCount
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{DataQuality, OpCaches}
import graft.streaming.StreamAdmission

/** The drift datacard and its streaming face on irregular inputs. The
  * expected rows are pinned from the four-arm composition (KS windows,
  * PSI grid, JS windows, embedding centroids, joined full-outer), so the
  * per-group profile formulation must reproduce the unfused chain row for
  * row, including its absence-of-evidence semantics.
  */
class DriftDatacardSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private type R = (Option[String], Option[Double], Option[String], Option[Seq[Double]])

  // Reference: ties at 2.0 and 3.0 shared with the batch, -0.0 beside
  // 0.0, a null value, a null category, an empty vector, a null source
  // whose values widen the PSI edges, a reference-only source and a
  // source whose numeric column is all null beside a live category.
  private val refRows: Seq[R] = Seq(
    (Some("a"), Some(1.0), Some("x"), Some(Seq(1.0, 0.0))),
    (Some("a"), Some(2.0), Some("y"), Some(Seq(1.0, 0.0))),
    (Some("a"), Some(2.0), Some("x"), Some(Seq(0.5, 0.5))),
    (Some("a"), None, Some("x"), None),
    (Some("a"), Some(-0.0), Some("y"), Some(Seq(1.0, 0.0))),
    (Some("a"), Some(0.0), None, Some(Seq(0.0, 1.0))),
    (Some("b"), Some(0.0), Some("x"), Some(Seq(0.0, 1.0))),
    (Some("b"), Some(3.0), Some("x"), Some(Seq(0.0, 1.0))),
    (Some("b"), Some(3.0), Some("z"), Some(Seq())),
    (Some("reff"), Some(5.0), Some("x"), Some(Seq(1.0, 1.0))),
    (None, Some(10.0), Some("x"), Some(Seq(1.0, 1.0))),
    (None, Some(-5.0), Some("q"), Some(Seq(3.0, 0.0))),
    (Some("allnull"), None, Some("x"), None),
    (Some("allnull"), None, Some("y"), Some(Seq(1.0, 0.0))))

  // Batch: NaN values, -0.0, ties at 2.0/3.0, nulls in every column, a
  // batch-only source and the all-null-numeric source again.
  private val curRows: Seq[R] = Seq(
    (Some("a"), Some(0.0), Some("x"), Some(Seq(1.0, 0.0))),
    (Some("a"), Some(2.0), Some("x"), Some(Seq(0.0, 1.0))),
    (Some("a"), Some(2.0), None, Some(Seq(1.0, 0.0))),
    (Some("a"), Some(Double.NaN), Some("y"), None),
    (Some("a"), None, Some("y"), Some(Seq(1.0, 0.0))),
    (Some("b"), Some(-0.0), Some("x"), Some(Seq(0.0, 1.0))),
    (Some("b"), Some(3.0), Some("z"), Some(Seq(0.0, 1.0))),
    (Some("b"), Some(3.0), Some("z"), None),
    (Some("curonly"), Some(4.0), Some("w"), Some(Seq(2.0, 0.0))),
    (None, Some(1.0), Some("x"), Some(Seq(1.0, 0.0))),
    (Some("allnull"), None, Some("x"), Some(Seq(1.0, 0.0))),
    (Some("allnull"), None, Some("x"), None))

  private def frame(rows: Seq[R]): DataFrame =
    rows.toDF("source", "v", "cat", "vec")

  /** One line per row, columns in output order, doubles at full
    * precision — an exact comparison of every value, null and NaN. */
  private def lines(df: DataFrame): Seq[String] = {
    val cols = df.columns.toSeq
    df.collect().toSeq.map { r: Row =>
      cols.indices.map(i => String.valueOf(r.get(i))).mkString("|")
    }.sorted
  }

  private def card(ref: DataFrame, cur: DataFrame): Seq[String] = {
    val out = DataQuality.driftDatacard(ref, cur, "source", "v", "cat", "vec", bins = 4)
    assert(out.columns.toSeq == Seq("source", "n_ref", "n_cur", "psi", "ks",
      "js_n_ref", "js_n_cur", "js", "centroid_cosine", "norm_ratio"))
    assert(out.schema.fields.map(_.dataType.simpleString).toSeq == Seq("string",
      "bigint", "bigint", "double", "double", "bigint", "bigint", "double",
      "double", "double"))
    try lines(out) finally OpCaches.releaseAll()
  }

  test("driftDatacard on ragged inputs matches the pinned four-arm rows") {
    assert(card(frame(refRows), frame(curRows)) == Seq(
      "allnull|0|0|null|null|2|2|0.215762|1.0|1.0",
      "a|5|4|0.287654|0.35|5|4|0.005059|0.996546|1.062224",
      "b|3|3|0.0|0.0|3|3|0.056633|1.0|1.499999",
      "curonly|0|1|0.274654|null|0|1|0.346574|null|null",
      "reff|1|0|0.274654|null|1|0|0.346574|null|null"))
    // Swapped: NaN now sits in the reference, so the PSI edges see it.
    assert(card(frame(curRows), frame(refRows)) == Seq(
      "allnull|0|0|null|null|2|2|0.215762|1.0|1.0",
      "a|4|5|0.007166|0.35|4|5|0.005059|0.996546|0.941421",
      "b|3|3|0.0|0.0|3|3|0.056633|1.0|0.666667",
      "curonly|1|0|0.274654|null|1|0|0.346574|null|null",
      "reff|0|1|0.274654|null|0|1|0.346574|null|null"))
  }

  test("admissionDatacard on ragged inputs matches the pinned verdict rows") {
    val out = StreamAdmission.admissionDatacard(frame(curRows), frame(refRows),
      "source", "v", "cat", "vec", col("v") > 1.0, minWilsonLo = 0.0,
      maxPsi = 10.0, maxKs = 1.0, maxJs = 1.0, minCentroidCos = -1.0,
      maxNormDelta = 10.0, bins = 4)
    assert(out.columns.toSeq == Seq("source", "n", "wilson_lo", "psi", "ks",
      "js", "centroid_cosine", "norm_ratio", "admitted"))
    val got = try lines(out) finally OpCaches.releaseAll()
    assert(got == Seq(
      "allnull|2|0.0|null|1.0|0.215762|1.0|1.0|false",
      "a|5|0.23072|0.287654|0.35|0.005059|0.996546|1.062224|true",
      "b|3|0.207655|0.0|0.0|0.056633|1.0|1.499999|true",
      "curonly|1|0.206543|0.274654|1.0|0.6931471805599453|null|null|false"))
  }

  test("admission caches: only the reference profile is registered, once") {
    // Four successive batches against one reference: the first batch may
    // register the reference's scoped cache; later batches find it in the
    // CacheManager and register nothing (a per-batch registration would
    // grow without bound over a long stream).
    OpCaches.releaseAll()
    val reference = frame(refRows)
    val counts = (0 until 4).map { i =>
      val batch = frame(curRows.map(r => r.copy(_2 = r._2.map(_ + i))))
      StreamAdmission.admissionDatacard(batch, reference, "source", "v",
        "cat", "vec", col("v") > 1.0, minWilsonLo = 0.0, maxPsi = 10.0,
        maxKs = 1.0, maxJs = 1.0, minCentroidCos = -1.0, maxNormDelta = 10.0)
        .collect()
      OpCaches.registered
    }
    OpCaches.releaseAll()
    assert(counts.forall(_ == counts.head),
      s"registered caches grew across batches: $counts")
  }

  private def admission(batch: DataFrame, reference: DataFrame): DataFrame =
    StreamAdmission.admissionDatacard(batch, reference, "source", "v", "cat",
      "vec", col("v") > 1.0, minWilsonLo = 0.0, maxPsi = 10.0, maxKs = 1.0,
      maxJs = 1.0, minCentroidCos = -1.0, maxNormDelta = 10.0, bins = 4)

  /** The datacard's rows, and the Spark jobs run while it was built
    * (before its own action): a fresh build collects the reference's PSI
    * edges, a batch on the kept plan runs none. */
  private def built(batch: DataFrame, reference: DataFrame): (Seq[String], Int) = {
    val (card, jobs) = JobCount(spark.sparkContext)(admission(batch, reference))
    (lines(card), jobs)
  }

  /** The rows of a fresh build: a freshly derived reference equal to
    * [[refRows]] has no kept plan. */
  private def fresh(batch: DataFrame): Seq[String] = {
    val (rows, jobs) = built(batch, frame(refRows))
    assert(jobs >= 1, "a new reference frame must take the build path")
    rows
  }

  test("admission batches on the kept plan equal a fresh build, and build with no job") {
    OpCaches.releaseAll()
    val reference = frame(refRows)
    // Ragged batches of one schema: NaN, -0.0 and nulls throughout, a
    // shifted copy, sources absent (b, then all but a), a new category.
    val batches: Seq[Seq[R]] = Seq(
      curRows,
      curRows.map(r => r.copy(_2 = r._2.map(_ + 1.5))),
      curRows.filterNot(_._1.contains("b")),
      curRows.filter(_._1.contains("a")) :+
        ((Some("a"), Some(Double.NaN), None, Some(Seq(0.0, 0.0)))),
      curRows.map(r => r.copy(_3 = r._3.map(_ + "2"), _4 = r._4.map(_.reverse))))
    try {
      batches.zipWithIndex.foreach { case (rows, i) =>
        val (got, jobs) = built(frame(rows), reference)
        if (i == 0) assert(jobs >= 1, "the first batch builds the datacard")
        else assert(jobs == 0, s"batch $i ran $jobs jobs before its action")
        assert(got == fresh(frame(rows)), s"batch $i")
      }
    } finally OpCaches.releaseAll()
  }

  test("the kept admission plan falls back to a fresh build") {
    OpCaches.releaseAll()
    val reference = frame(refRows)
    def fallsBack(batch: DataFrame, why: String): Unit = {
      val (got, jobs) = built(batch, reference)
      assert(jobs >= 1, s"$why: the kept plan ran")
      assert(got == fresh(batch), why)
    }
    try {
      built(frame(curRows), reference)
      // The same names and types, `v` not nullable.
      val strict = curRows.map(r => (r._1, r._2.getOrElse(0.0), r._3, r._4))
        .toDF("source", "v", "cat", "vec")
      assert(strict.schema.map(f => (f.name, f.dataType)) ==
        frame(curRows).schema.map(f => (f.name, f.dataType)) &&
        strict.schema != frame(curRows).schema)
      fallsBack(strict, "nullability")
      built(frame(curRows), reference)
      OpCaches.releaseAll()
      fallsBack(frame(curRows), "after releaseAll")
      fallsBack(reference, "batch = reference")
      // The plan kept after the fallbacks serves the next batch again.
      built(frame(curRows), reference)
      val (got, jobs) = built(frame(curRows.reverse), reference)
      assert(jobs == 0 && got == fresh(frame(curRows)))
    } finally OpCaches.releaseAll()
  }

  test("a plan template refuses a plan that reads its input twice") {
    import org.apache.spark.sql.graft.CatalystBridge
    val in = frame(curRows).select(col("source"), col("v"))
    assert(CatalystBridge.template(in.filter(col("v") > 1.0), in).isDefined)
    // A self-join: analysis copies one side into new nodes.
    assert(CatalystBridge.template(in.as("l").join(in.as("r"), "source"), in).isEmpty)
    // A scalar subquery over the input.
    assert(CatalystBridge.template(
      in.filter(col("v") < in.select(max(col("v"))).scalar()), in).isEmpty)
  }

  test("admission on a stream: each micro-batch on the kept plan equals a fresh build") {
    // foreachBatch hands every batch over as a new plan of the stream's
    // own session; the kept plan must take each of them as its leaf.
    import org.apache.spark.sql.Dataset
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    OpCaches.releaseAll()
    val reference = frame(refRows)
    val input = MemoryStream[R](implicitly[org.apache.spark.sql.Encoder[R]], spark)
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[String], Int, Seq[String])]
    val q = input.toDF().toDF("source", "v", "cat", "vec").writeStream
      .foreachBatch { (b: Dataset[Row], id: Long) =>
        val (got, jobs) = built(b, reference)
        seen += ((id, got, jobs, lines(admission(b, frame(refRows)))))
        ()
      }.start()
    try {
      Seq(curRows, curRows.filterNot(_._1.contains("a")),
          curRows.map(r => r.copy(_2 = r._2.map(_ * 2))), curRows.reverse)
        .foreach { rows => input.addData(rows); q.processAllAvailable() }
    } finally { q.stop(); OpCaches.releaseAll() }
    assert(seen.map(_._1) == Seq(0L, 1L, 2L, 3L))
    seen.foreach { case (id, got, jobs, fresh) =>
      assert(got == fresh, s"batch $id")
      if (id > 0) assert(jobs == 0, s"batch $id ran $jobs jobs before its action")
    }
  }
}
