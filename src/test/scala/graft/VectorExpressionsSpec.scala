package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.VectorFunctions

/** Native DotProductD vs the higher-order-function fold: bit-identical
  * values (same sequential left fold), null semantics, and codegen (the
  * expression must not fall back to interpreted evaluation).
  */
class VectorExpressionsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("native dot product is bit-identical to the fold formulation") {
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val a = emb.select(col("vec_id"), col("embedding").as("va"))
    val b = emb.select((col("vec_id") + 7).as("vec_id"), col("embedding").as("vb"))
    val joined = a.join(b, "vec_id")
    val diff = joined.select(
      VectorFunctions.dotD(col("va"), col("vb")).as("fast"),
      VectorFunctions.dotFold(col("va"), col("vb")).as("fold"))
      .filter(not(col("fast") <=> col("fold")))
    assert(diff.count() == 0, "every pair must match bit-for-bit")
  }

  test("null semantics: null array, length mismatch, null element") {
    val df = Seq(
      (1L, Some(Seq(1.0, 2.0)), Some(Seq(3.0, 4.0))),   // 11.0
      (2L, None, Some(Seq(1.0))),                        // null array
      (3L, Some(Seq(1.0, 2.0)), Some(Seq(1.0)))          // length mismatch
    ).toDF("id", "a", "b")
    val got = df.select(col("id"), VectorFunctions.dotD(col("a"), col("b")).as("d"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(got(1L).contains(11.0))
    assert(got(2L).isEmpty && got(3L).isEmpty)
    // Element-level null propagates (same as the fold formulation).
    val withNullElem = spark.sql(
      "SELECT array(CAST(1.0 AS DOUBLE), CAST(NULL AS DOUBLE)) AS a, " +
        "array(CAST(1.0 AS DOUBLE), CAST(2.0 AS DOUBLE)) AS b")
    assert(withNullElem.select(VectorFunctions.dotD(col("a"), col("b"))).head().isNullAt(0))
  }

  test("dot_product_d is registered as a SQL function via the extensions") {
    val r = spark.sql(
      "SELECT dot_product_d(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d").head()
    assert(r.getDouble(0) == 11.0)
  }

  test("every native kernel answers by its SQL name (pure-SQL surface)") {
    // wkb round-trip: encode a point, decode it back.
    val pt = spark.sql(
      "SELECT wkb_point_decode(wkb_point_encode(1.5d, -2.25d)) AS p")
      .select("p.lon", "p.lat").head()
    assert(pt.getDouble(0) == 1.5 && pt.getDouble(1) == -2.25, pt.toString)
    // Media headers: malformed payloads answer a struct whose validity
    // flag (last field) is false, never an exception — proof the
    // functions resolve and evaluate through their SQL names.
    val m = spark.sql(
      "SELECT image_header(CAST('xx' AS BINARY)) AS i, " +
        "audio_header(CAST('xx' AS BINARY)) AS a, " +
        "video_header(CAST('xx' AS BINARY)) AS v").head()
    Seq(0, 1, 2).foreach { i =>
      val st = m.getStruct(i)
      assert(!st.getBoolean(st.length - 1), s"col $i: $st")
    }
  }

  test("native l2sq is bit-identical to the fold formulation") {
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val a = emb.select(col("vec_id"), col("embedding").as("va"))
    val b = emb.select((col("vec_id") + 7).as("vec_id"), col("embedding").as("vb"))
    val joined = a.join(b, "vec_id")
    val diff = joined.select(
      VectorFunctions.l2sqD(col("va"), col("vb")).as("fast"),
      VectorFunctions.l2sqFold(col("va"), col("vb")).as("fold"))
      .filter(not(col("fast") <=> col("fold")))
    assert(diff.count() == 0, "every pair must match bit-for-bit")
  }

  test("l2sq null semantics and SQL registration") {
    val df = Seq(
      (1L, Some(Seq(1.0, 2.0)), Some(Seq(3.0, 4.0))),   // 4 + 4 = 8.0
      (2L, None, Some(Seq(1.0))),                        // null array
      (3L, Some(Seq(1.0, 2.0)), Some(Seq(1.0)))          // length mismatch
    ).toDF("id", "a", "b")
    val got = df.select(col("id"), VectorFunctions.l2sqD(col("a"), col("b")).as("d"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(got(1L).contains(8.0))
    assert(got(2L).isEmpty && got(3L).isEmpty)
    val r = spark.sql(
      "SELECT l2sq_d(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d").head()
    assert(r.getDouble(0) == 8.0)
  }

  test("l2sq participates in whole-stage codegen (no fallback)") {
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val df = emb.select(VectorFunctions.l2sqD(col("embedding"), col("embedding")).as("d"))
    val plan = df.queryExecution.executedPlan.toString
    assert("""\*\(\d+\) Project \[l2sq_d""".r.findFirstIn(plan).isDefined,
      plan.take(500))
    val shifted = emb.select(col("vec_id"),
      transform(col("embedding"), x => x + lit(1.0f)).as("vb"), col("embedding"))
    val sum1 = shifted.select(VectorFunctions.l2sqD(col("embedding"), col("vb")).as("d"))
      .agg(sum(col("d"))).head().getDouble(0)
    val sum2 = shifted.select(VectorFunctions.l2sqFold(col("embedding"), col("vb")).as("d"))
      .agg(sum(col("d"))).head().getDouble(0)
    assert(sum1 == sum2)
  }

  test("round6 fast path ≡ BigDecimal HALF_UP reference, ties included") {
    import graft.functions.VectorExpressions.round6
    def ref(x: Double): Double =
      if (x.isNaN || x.isInfinite) x
      else java.math.BigDecimal.valueOf(x)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    // Adversarial: exact decimal ties and shortest-representation
    // boundaries (0.1234565's closest double sits BELOW the tie, but
    // BigDecimal.valueOf sees the shortest string "0.1234565" and rounds
    // up) — these must take the guarded fallback.
    val adversarial = Seq(0.1234565, 0.0000005, -0.0000005, 1.0000005,
      2.5e-6, -2.5e-6, 123456.4999995, 0.9999995, 1e-7, -1e-7, 0.0, -0.0,
      Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity,
      5e-7, 15e-7, -15e-7)
    adversarial.foreach { x =>
      assert(java.lang.Double.doubleToLongBits(round6(x)) ==
        java.lang.Double.doubleToLongBits(ref(x)), s"mismatch at $x")
    }
    val rnd = new java.util.Random(42)
    var i = 0
    while (i < 2000000) {
      val x = rnd.nextDouble() * math.pow(10.0, rnd.nextInt(8) - 4) *
        (if (rnd.nextBoolean()) 1 else -1)
      assert(java.lang.Double.doubleToLongBits(round6(x)) ==
        java.lang.Double.doubleToLongBits(ref(x)), s"mismatch at $x")
      i += 1
    }
    // And against Spark's own round(), column-evaluated, on a sample.
    val xs = (0 until 2000).map(_ => rnd.nextDouble() * 100 - 50)
    val viaSpark = xs.toDF("x").select(round(col("x"), 6)).collect().map(_.getDouble(0))
    xs.zip(viaSpark).foreach { case (x, s) =>
      assert(java.lang.Double.doubleToLongBits(round6(x)) ==
        java.lang.Double.doubleToLongBits(s), s"Spark round mismatch at $x")
    }
  }

  test("l2sq_table_d stays in whole-stage codegen and matches per-pair l2sq") {
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    import org.apache.spark.sql.graft.CatalystBridge
    import graft.functions.VectorExpressions
    val mat = (0 until 4).map(j => (0 until 64).map(i => (i * 7 + j) % 5 * 0.1))
    val native = CatalystBridge.column(VectorExpressions.L2SqTableD(
      CatalystBridge.expression(col("embedding")),
      CatalystBridge.expression(typedlit(mat))))
    val df = emb.select(native.as("t"))
    val plan = df.queryExecution.executedPlan.toString
    assert("""\*\(\d+\) Project \[l2sq_table_d""".r.findFirstIn(plan).isDefined,
      plan.take(500))
    val perPair = emb.select(array(mat.map(c =>
      round(VectorFunctions.l2sqD(col("embedding"), typedlit(c)), 6)): _*).as("t"))
    assert(df.collect().map(_.getSeq[Double](0)).toSeq ==
      perPair.collect().map(_.getSeq[Double](0)).toSeq)
  }

  test("cos_table_d stays in whole-stage codegen and matches the lambda form") {
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    import org.apache.spark.sql.graft.CatalystBridge
    import graft.functions.VectorExpressions
    def foldNorm(v: Seq[Double]) = math.sqrt(v.foldLeft(0.0)((a, x) => a + x * x))
    val cents = (0 until 3).map(j => (0 until 64).map(i => ((i * 5 + j) % 7) * 0.1 - 0.3))
    val mat = cents.map(v => (v, foldNorm(v)))
    val base = emb.select(col("embedding"),
      VectorFunctions.normD(col("embedding")).as("n"))
    val native = CatalystBridge.column(VectorExpressions.CosTableD(
      CatalystBridge.expression(col("embedding")),
      CatalystBridge.expression(col("n")),
      CatalystBridge.expression(typedlit(mat))))
    val df = base.select(native.as("t"))
    val plan = df.queryExecution.executedPlan.toString
    assert("""\*\(\d+\) Project \[cos_table_d""".r.findFirstIn(plan).isDefined,
      plan.take(500))
    val reference = base.select(transform(typedlit(mat), x =>
      round(VectorFunctions.dotD(col("embedding"), x.getField("_1")) /
        nullif(col("n") * x.getField("_2"), lit(0.0)), 6)).as("t"))
    assert(df.collect().map(_.getSeq[Double](0)).toSeq ==
      reference.collect().map(_.getSeq[Double](0)).toSeq)
  }

  test("dot product participates in whole-stage codegen (no fallback)") {
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val df = emb.select(VectorFunctions.dotD(col("embedding"), col("embedding")).as("d"))
    val plan = df.queryExecution.executedPlan.toString
    // A `*(n)` prefix marks operators inside a WholeStageCodegen stage; the
    // projection evaluating the expression must carry it.
    assert("""\*\(\d+\) Project \[dot_product_d""".r.findFirstIn(plan).isDefined,
      plan.take(500))
    // Interpreted-mode safety net still works (CodegenFallback would hide
    // doGenCode bugs; force interpreted eval and compare).
    val sum1 = df.agg(sum(col("d"))).head().getDouble(0)
    val sum2 = emb.select(VectorFunctions.dotFold(col("embedding"), col("embedding")).as("d"))
      .agg(sum(col("d"))).head().getDouble(0)
    assert(sum1 == sum2)
  }
}
