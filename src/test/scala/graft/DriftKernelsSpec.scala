package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.VectorFunctions.normD
import graft.ops.{DataQuality, Stats}

/** The drift kernels against the formulations they replace, kept here
  * only as references: the explode into struct cells with its two-level
  * aggregation (the drift profile and the per-group cells), the KS fold
  * over `array_sort`ed tagged cells, and the per-cell `transform` over
  * the bins. Every case runs at 1 and at 4 input partitions, so the
  * aggregate's buffers are serialized, shuffled, deserialized and
  * merged.
  */
class DriftKernelsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val schema = StructType(Seq(
    StructField("source", StringType), StructField("v", DoubleType),
    StructField("cat", StringType),
    StructField("vec", ArrayType(DoubleType, containsNull = true))))

  private def vec(xs: Any*): Seq[Any] = xs.map {
    case null => null
    case x: Double => x
  }

  // Reference: ties at 2.0 and 3.0 with the batch, -0.0 beside 0.0, NaN,
  // a null value, a null category, an empty vector, ragged vectors, a null
  // element, a null group and a reference-only group.
  private val refRows: Seq[Row] = Seq(
    Row("a", 1.0, "x", vec(1.0, 0.0)),
    Row("a", 2.0, "y", vec(1.0, 0.0)),
    Row("a", 2.0, "x", vec(0.5, 0.5)),
    Row("a", null, "x", null),
    Row("a", -0.0, "y", vec(1.0, 0.0, 2.0)),
    Row("a", 0.0, null, vec(0.0, null)),
    Row("a", Double.NaN, "é", vec()),
    Row("b", 0.0, "x", vec(0.0, 1.0)),
    Row("b", 3.0, "x", vec(0.0, 1.0)),
    Row("b", 3.0, "z", vec()),
    Row("reff", 5.0, "X", vec(1.0, 1.0)),
    Row(null, 10.0, "x", vec(1.0, 1.0)),
    Row(null, -5.0, "q", vec(3.0, 0.0)),
    Row("allnull", null, "x", null),
    Row("allnull", null, "y", vec(null, null)),
    Row("empty", 1.5, null, vec()))

  // Batch: NaN twice, -0.0 only, ties at 2.0/3.0, nulls in every column,
  // a batch-only group and the all-null-numeric group again.
  private val curRows: Seq[Row] = Seq(
    Row("a", 0.0, "x", vec(1.0, 0.0)),
    Row("a", 2.0, "x", vec(0.0, 1.0, 4.0, 1.0)),
    Row("a", 2.0, null, vec(1.0, 0.0)),
    Row("a", Double.NaN, "y", null),
    Row("a", Double.NaN, "é", vec(0.25)),
    Row("a", null, "y", vec(1.0, 0.0)),
    Row("b", -0.0, "x", vec(0.0, 1.0)),
    Row("b", 3.0, "z", vec(0.0, 1.0)),
    Row("b", 3.0, "z", null),
    Row("curonly", 4.0, "w", vec(2.0, 0.0)),
    Row(null, 1.0, "x", vec(1.0, 0.0)),
    Row("allnull", null, "x", vec(1.0, 0.0)),
    Row("allnull", null, "x", null))

  private def frame(rows: Seq[Row], parts: Int): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, parts), schema)

  /** One line per row, columns in output order, doubles at full
    * precision — an exact comparison of every value, null, NaN and -0.0. */
  private def lines(df: DataFrame): Seq[String] = {
    val cols = df.columns.toSeq
    df.collect().toSeq.map { r: Row =>
      cols.indices.map(i => String.valueOf(r.get(i))).mkString("|")
    }.sorted
  }

  private def types(df: DataFrame): Seq[(String, DataType)] =
    df.schema.fields.toSeq.map(f => f.name -> f.dataType)

  /** Data types with every nullability flag set: the kernels may know a
    * field is never null where the reference formulation does not. */
  private def loose(t: DataType): DataType = t match {
    case ArrayType(e, _) => ArrayType(loose(e), containsNull = true)
    case StructType(fs) => StructType(fs.map(f => f.copy(dataType = loose(f.dataType),
      nullable = true)))
    case other => other
  }

  // ---- references: the formulations the kernels replaced ----------------

  /** The explode/two-level drift profile. */
  private def refProfile(df: DataFrame, groupCol: String, valueCol: String,
                         catCol: String, vecCol: String, success: Column,
                         side: String): DataFrame = {
    val (num, cat, dim, row) = (0, 1, 2, 3)
    val vec = col(vecCol)
    def cell(kind: Int, v: Column = lit(null).cast("double"),
             c: Column = lit(null).cast("string"),
             pos: Column = lit(null).cast("int"),
             x: Column = lit(null).cast("double"), s: Column = lit(0L)) =
      struct(lit(kind).as("kind"), v.as("v"), c.as("c"), pos.as("pos"),
        x.as("x"), s.as("s"))
    val cells = concat(
      array(cell(num, v = col(valueCol).cast("double")),
        cell(cat, c = col(catCol).cast("string")),
        cell(row, x = when(vec.isNotNull, normD(vec)),
          s = when(success, 1L).otherwise(0L))),
      transform(coalesce(vec, array()), (e, i) =>
        cell(dim, pos = i, x = e.cast("double"))))
    val kind = col("kind")
    def cellsOf(k: Int, key: Column, value: Column) =
      array_sort(collect_list(when(kind === k, struct(key, value))))
    val hasVec = count(when(kind === dim, 1)) > 0
    df.select(col(groupCol), explode(filter(cells, e =>
        e.getField("kind") >= dim || e.getField("v").isNotNull ||
          e.getField("c").isNotNull)).as("e"))
      .groupBy(col(groupCol), col("e.kind").as("kind"), col("e.v").as("v"),
        col("e.c").as("c"), col("e.pos").as("pos"))
      .agg(count(lit(1)).as("n"), avg(col("e.x")).as("x"),
        sum(col("e.s")).as("s"))
      .groupBy(col(groupCol))
      .agg(
        cellsOf(num, col("v").as("k"), col("n")).as(s"num_$side"),
        sum(when(kind === num, col("n"))).as(s"num_n_$side"),
        cellsOf(cat, col("c").as("k"), col("n")).as(s"cat_$side"),
        sum(when(kind === cat, col("n"))).as(s"cat_n_$side"),
        when(hasVec, transform(cellsOf(dim, col("pos"), col("x")),
          d => round(d.getField("x"), 6))).as(s"centroid_$side"),
        when(hasVec, round(max(when(kind === row, col("x"))), 6))
          .as(s"norm_$side"),
        max(when(kind === row, col("n"))).as(s"rows_$side"),
        max(when(kind === row, col("s"))).as(s"successes_$side"))
  }

  /** The two-level per-group cells. */
  private def refCountCells(df: DataFrame, groupCol: String, key: Column): DataFrame =
    df.select(col(groupCol), key.as("__k"))
      .filter(col(groupCol).isNotNull && col("__k").isNotNull)
      .groupBy(col(groupCol), col("__k")).agg(count(lit(1)).as("__n"))
      .groupBy(col(groupCol))
      .agg(array_sort(collect_list(struct(col("__k").as("k"),
        col("__n").as("n")))).as("cells"), sum(col("__n")).as("n"))

  /** The KS fold over the sorted concatenation of tagged cells. */
  private def refKsOf(ref: Column, cur: Column, nr: Column, nc: Column): Column = {
    def tagged(cells: Column, r: Column => Column, c: Column => Column) =
      transform(cells, x => struct(x.getField("k").as("k"),
        r(x.getField("n")).as("r"), c(x.getField("n")).as("c")))
    val zero = struct(lit(null).cast("double").as("k"), lit(0L).as("r"),
      lit(0L).as("c"), lit(0L).as("d"))
    val d = aggregate(array_sort(concat(tagged(ref, identity, _ => lit(0L)),
        tagged(cur, _ => lit(0L), identity))),
      zero, (acc, x) => struct(x.getField("k").as("k"),
        (acc.getField("r") + x.getField("r")).as("r"),
        (acc.getField("c") + x.getField("c")).as("c"),
        when(x.getField("k") === acc.getField("k"), acc.getField("d"))
          .otherwise(greatest(acc.getField("d"),
            abs(acc.getField("r") * nc - acc.getField("c") * nr))).as("d")))
      .getField("d")
    when(nr > 0 && nc > 0,
      round(d.cast("double") / (nr * nc).cast("double"), 6))
  }

  /** One `transform` over the bins per cell. */
  private def refBinCounts(cells: Column, bin: Column => Column, bins: Int): Column =
    aggregate(cells, array_repeat(lit(0L), bins), (acc, c) =>
      transform(acc, (a, i) =>
        when(i === bin(c.getField("k")), a + c.getField("n")).otherwise(a)))

  // ---- differential cases -----------------------------------------------

  private val partitions = Seq(1, 4)

  test("the drift profile aggregate equals the explode/two-level profile") {
    for (parts <- partitions; rows <- Seq(refRows, curRows, refRows ++ curRows);
         float <- Seq(false, true)) {
      val df = frame(rows, parts)
      val in = if (float) df.withColumn("vec", col("vec").cast("array<float>")) else df
      for (success <- Seq(col("v") > 1.0, lit(false))) {
        val got = DataQuality.driftProfile(in, "source", "v", "cat", "vec", success, "s")
        val want = refProfile(in, "source", "v", "cat", "vec", success, "s")
        val what = s"parts=$parts rows=${rows.size} float=$float success=$success"
        assert(types(got).map { case (n, t) => n -> loose(t) } ==
          types(want).map { case (n, t) => n -> loose(t) }, what)
        assert(lines(got) == lines(want), what)
      }
    }
  }

  test("countCells equals the two-level cells for double, string and bin keys") {
    for (parts <- partitions; rows <- Seq(refRows, refRows ++ curRows)) {
      val df = frame(rows, parts)
      for ((key, name) <- Seq(col("v"), col("cat"),
          Stats.fixedWidthBin(col("v"), lit(-5.0), lit(10.0), 4)).zip(
          Seq("double", "string", "bin"))) {
        val got = Stats.countCells(df, "source", key)
        // The reference keeps an int bin key; the cells hold it as a double.
        val want = refCountCells(df, "source",
          if (name == "bin") key.cast("double") else key)
        assert(lines(got) == lines(want), s"parts=$parts key=$name")
      }
    }
  }

  /** Both sides' profiles joined full-outer, as the datacard joins them:
    * one-sided groups get null cells and zero totals. */
  private def joined(parts: Int): DataFrame = {
    def side(rows: Seq[Row], s: String) =
      DataQuality.driftProfile(frame(rows, parts), "source", "v", "cat", "vec",
        lit(false), s)
    side(refRows, "ref").join(side(curRows, "cur"), Seq("source"), "full_outer")
      .withColumn("n_ref", coalesce(col("num_n_ref"), lit(0L)))
      .withColumn("n_cur", coalesce(col("num_n_cur"), lit(0L)))
  }

  test("the KS kernel equals the sorted-fold KS, ties and one-sided groups included") {
    for (parts <- partitions) {
      val j = joined(parts)
      def ks(f: (Column, Column, Column, Column) => Column, ref: String, cur: String,
             nr: String, nc: String) =
        lines(j.select(col("source"), f(col(ref), col(cur), col(nr), col(nc))))
      for ((r, c, nr, nc) <- Seq(("num_ref", "num_cur", "n_ref", "n_cur"),
          ("num_cur", "num_ref", "n_cur", "n_ref"),
          ("num_ref", "num_ref", "n_ref", "n_ref"),
          // Raw totals: null for a group without cells on that side.
          ("num_ref", "num_cur", "num_n_ref", "num_n_cur"))) {
        val got = ks(Stats.ksOf, r, c, nr, nc)
        assert(got == ks(refKsOf, r, c, nr, nc), s"parts=$parts $r/$c $nr/$nc")
        assert(got.exists(!_.endsWith("|null")), s"no KS evaluated: $got")
      }
    }
  }

  test("the bin-count kernel equals the per-cell transform over the bins") {
    val inf = Double.PositiveInfinity
    val edges: Seq[(Column, Column)] = Seq((-5.0, 10.0), (0.0, 3.0), (2.0, 2.0),
        (3.0, 0.0), (0.0, Double.NaN), (Double.NaN, Double.NaN), (-inf, 1.0),
        (0.0, inf), (1.0, 1.0 + 1e-12))
      .map { case (l, h) => (lit(l), lit(h)) } :+
      ((lit(null).cast("double"), lit(null).cast("double"))) :+
      ((lit(0.0), lit(null).cast("double")))
    for (parts <- partitions; bins <- Seq(1, 4, 7)) {
      val j = joined(parts)
      for ((lo, hi) <- edges; side <- Seq("num_ref", "num_cur")) {
        val got = lines(j.select(col("source"), Stats.binCounts(col(side), bins, lo, hi)))
        val want = lines(j.select(col("source"),
          refBinCounts(col(side), Stats.fixedWidthBin(_, lo, hi, bins), bins)))
        assert(got == want, s"parts=$parts bins=$bins lo=$lo hi=$hi $side")
      }
    }
    // Bin-id keys, as psiByGroup bins them: each key is its own bin.
    for (parts <- partitions) {
      val cells = Stats.countCells(frame(refRows ++ curRows, parts), "source",
        Stats.fixedWidthBin(col("v"), lit(-5.0), lit(10.0), 4))
      val got = lines(cells.select(col("source"),
        Stats.binCounts(col("cells"), 4, lit(0.0), lit(4.0))))
      val want = lines(cells.select(col("source"),
        refBinCounts(col("cells"), identity, 4)))
      assert(got == want, s"parts=$parts bin ids")
    }
  }
}
