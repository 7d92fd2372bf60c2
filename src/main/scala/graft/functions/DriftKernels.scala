package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream,
  DataOutputStream}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression,
  GenericInternalRow, QuaternaryExpression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{Block, CodegenContext,
  ExprCode}
import org.apache.spark.sql.catalyst.trees.QuaternaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData,
  SQLOrderingUtil}
import org.apache.spark.sql.graft.CatalystBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native kernels of the drift family (`graft.ops.DataQuality`'s drift
  * datacard, `graft.ops.Stats`' per-group PSI/KS/JS): one aggregate that
  * folds a group's rows into its drift profile in a single aggregation,
  * and the two statistics read off sorted (k, n) cells — KS and per-bin
  * counts — as tight loops. The higher-order-function forms of the same
  * statistics (`array_sort` of structs, `aggregate` over a struct
  * accumulator, a `transform` over the bins per cell) evaluate their
  * lambdas interpreted, per element. The kernels give their results bit
  * for bit: the same grouping normalization of keys, the same orders,
  * the same integer arithmetic and the same single division and rounding
  * (`DriftKernelsSpec` keeps those forms as references).
  */
object DriftKernels {

  /** Sorted (k, n) cells: distinct keys with their row counts. */
  private def cellsType(key: DataType): ArrayType = ArrayType(StructType(Seq(
    StructField("k", key), StructField("n", LongType, nullable = false))),
    containsNull = false)

  /** The result of [[DriftProfileAgg]], one struct per group. */
  val ProfileType: StructType = StructType(Seq(
    StructField("num", cellsType(DoubleType), nullable = false),
    StructField("num_n", LongType),
    StructField("cat", cellsType(StringType), nullable = false),
    StructField("cat_n", LongType),
    StructField("centroid", ArrayType(DoubleType, containsNull = true)),
    StructField("norm", DoubleType),
    StructField("rows", LongType, nullable = false),
    StructField("successes", LongType, nullable = false)))

  /** Per group, the drift profile of its rows (see [[DriftProfileAgg]]):
    * `value` double, `category` string, `vector` array<float|double>,
    * `success` boolean. */
  def profile(value: Column, category: Column, vector: Column,
              success: Column): Column =
    CatalystBridge.column(DriftProfileAgg(CatalystBridge.expression(value),
      CatalystBridge.expression(category), CatalystBridge.expression(vector),
      CatalystBridge.expression(success)).toAggregateExpression())

  /** A row count that grows in place inside a sorted map. */
  final class Count(var n: Long)

  /** The buffer of [[DriftProfileAgg]]. Value keys are normalized before
    * they are inserted, so a stored key is never -0.0 and every NaN is
    * the one canonical NaN; category keys are copies the buffer owns. */
  final class Profile {
    val values = new java.util.TreeMap[java.lang.Double, Count](
      (a: java.lang.Double, b: java.lang.Double) =>
        SQLOrderingUtil.compareDoubles(a, b))
    // UTF8String's natural order is the binary order.
    val cats = new java.util.TreeMap[UTF8String, Count]()
    var sums = new Array[Double](0)
    var counts = new Array[Long](0)
    var normSum = 0.0
    var norms = 0L
    var rows = 0L
    var successes = 0L

    /** `n` rows of value `v`: -0.0 counts as 0.0 and every NaN as one
      * NaN, as Spark's grouping normalizes them. */
    def addValue(v: Double, n: Long): Unit = {
      val k = if (v.isNaN) Double.NaN else if (v == 0.0) 0.0 else v
      val c = values.get(k)
      if (c == null) values.put(k, new Count(n)) else c.n += n
    }

    /** `n` rows of category `s`; `owned` says the buffer may keep `s`
      * itself (a row's string may point into a reused row buffer). */
    def addCat(s: UTF8String, n: Long, owned: Boolean): Unit = {
      val c = cats.get(s)
      if (c == null) cats.put(if (owned) s else s.clone(), new Count(n))
      else c.n += n
    }

    /** Room for `dims` vector positions. */
    def grow(dims: Int): Unit = if (dims > sums.length) {
      sums = java.util.Arrays.copyOf(sums, dims)
      counts = java.util.Arrays.copyOf(counts, dims)
    }
  }

  /** `drift_profile(value, category, vector, success)`: per group, in one
    * aggregation,
    *   - `num`: the sorted (value, rows) cells of the non-null values,
    *     and `num_n` their total (null without a cell);
    *   - `cat`: the sorted (category, rows) cells of the non-null
    *     categories (binary string order), and `cat_n` their total;
    *   - `centroid`: per vector position, the mean of its non-null
    *     elements at 6 dp (null where every element is null), and `norm`:
    *     the mean L2 norm at 6 dp of the vectors without a null element —
    *     both null unless some vector is non-empty;
    *   - `rows`: every row; `successes`: rows where `success` is true.
    * Values order by `SQLOrderingUtil.compareDoubles`, after the
    * normalization of [[Profile.addValue]]. Sums and means are those of
    * Spark's `avg` (a sequential sum, then one division), norms those of
    * `VectorFunctions.normD`. A partial buffer is the group's cells, so
    * the shuffle carries cells, not rows.
    */
  case class DriftProfileAgg(value: Expression, category: Expression,
                             vector: Expression, success: Expression,
                             mutableAggBufferOffset: Int = 0,
                             inputAggBufferOffset: Int = 0)
      extends TypedImperativeAggregate[Profile] with QuaternaryLike[Expression] {

    override def first: Expression = value
    override def second: Expression = category
    override def third: Expression = vector
    override def fourth: Expression = success
    override def dataType: DataType = ProfileType
    override def nullable: Boolean = false
    override def prettyName: String = "drift_profile"

    private lazy val vecIsFloat = vector.dataType match {
      case ArrayType(FloatType, _) => true
      case _                       => false
    }

    override def checkInputDataTypes(): TypeCheckResult =
      (value.dataType, category.dataType, vector.dataType, success.dataType) match {
        case (DoubleType, StringType, ArrayType(et, _), BooleanType)
            if (et == FloatType || et == DoubleType) =>
          TypeCheckResult.TypeCheckSuccess
        case _ => TypeCheckResult.TypeCheckFailure(
          s"$prettyName expects (double, string, array<float|double>, boolean), got " +
            children.map(_.dataType.simpleString).mkString(", "))
      }

    override def createAggregationBuffer(): Profile = new Profile

    override def update(p: Profile, input: InternalRow): Profile = {
      val v = value.eval(input)
      if (v != null) p.addValue(v.asInstanceOf[Double], 1L)
      val c = category.eval(input)
      if (c != null) p.addCat(c.asInstanceOf[UTF8String], 1L, owned = false)
      val a = vector.eval(input).asInstanceOf[ArrayData]
      if (a != null) {
        val n = a.numElements()
        p.grow(n)
        var dot = 0.0
        var complete = true
        var i = 0
        while (i < n) {
          if (a.isNullAt(i)) complete = false
          else {
            val x = if (vecIsFloat) a.getFloat(i).toDouble else a.getDouble(i)
            p.sums(i) += x
            p.counts(i) += 1
            dot += x * x
          }
          i += 1
        }
        if (complete) { p.normSum += Math.sqrt(dot); p.norms += 1 }
      }
      if (success.eval(input) == true) p.successes += 1
      p.rows += 1
      p
    }

    override def merge(p: Profile, q: Profile): Profile = {
      q.values.forEach((k, c) => p.addValue(k, c.n))
      q.cats.forEach((k, c) => p.addCat(k, c.n, owned = true))
      p.grow(q.sums.length)
      var i = 0
      while (i < q.sums.length) {
        p.sums(i) += q.sums(i)
        p.counts(i) += q.counts(i)
        i += 1
      }
      p.normSum += q.normSum
      p.norms += q.norms
      p.rows += q.rows
      p.successes += q.successes
      p
    }

    override def eval(p: Profile): Any = {
      def cells[K](m: java.util.TreeMap[K, Count], key: K => Any): (ArrayData, Any) = {
        val out = new Array[Any](m.size)
        var total = 0L
        var i = 0
        m.forEach { (k, c) =>
          out(i) = new GenericInternalRow(Array[Any](key(k), c.n))
          total += c.n
          i += 1
        }
        (new GenericArrayData(out), if (i == 0) null else total)
      }
      val (num, numN) = cells[java.lang.Double](p.values, _.doubleValue)
      val (cat, catN) = cells[UTF8String](p.cats, identity)
      val dims = p.sums.length
      val centroid = if (dims == 0) null else new GenericArrayData(
        Array.tabulate[Any](dims)(i =>
          if (p.counts(i) == 0) null
          else VectorExpressions.round6(p.sums(i) / p.counts(i))))
      val norm = if (dims == 0 || p.norms == 0) null
        else VectorExpressions.round6(p.normSum / p.norms)
      new GenericInternalRow(Array[Any](num, numN, cat, catN, centroid, norm,
        p.rows, p.successes))
    }

    override def serialize(p: Profile): Array[Byte] = {
      val bytes = new ByteArrayOutputStream()
      val out = new DataOutputStream(bytes)
      out.writeLong(p.rows)
      out.writeLong(p.successes)
      out.writeDouble(p.normSum)
      out.writeLong(p.norms)
      out.writeInt(p.values.size)
      p.values.forEach { (k, c) => out.writeDouble(k); out.writeLong(c.n) }
      out.writeInt(p.cats.size)
      p.cats.forEach { (k, c) =>
        out.writeInt(k.numBytes)
        k.writeTo(out)
        out.writeLong(c.n)
      }
      out.writeInt(p.sums.length)
      var i = 0
      while (i < p.sums.length) {
        out.writeDouble(p.sums(i))
        out.writeLong(p.counts(i))
        i += 1
      }
      out.flush()
      bytes.toByteArray
    }

    override def deserialize(bytes: Array[Byte]): Profile = {
      val in = new DataInputStream(new ByteArrayInputStream(bytes))
      val p = new Profile
      p.rows = in.readLong()
      p.successes = in.readLong()
      p.normSum = in.readDouble()
      p.norms = in.readLong()
      for (_ <- 0 until in.readInt()) p.addValue(in.readDouble(), in.readLong())
      for (_ <- 0 until in.readInt()) {
        val s = new Array[Byte](in.readInt())
        in.readFully(s)
        p.addCat(UTF8String.fromBytes(s), in.readLong(), owned = true)
      }
      p.grow(in.readInt())
      var i = 0
      while (i < p.sums.length) {
        p.sums(i) = in.readDouble()
        p.counts(i) = in.readLong()
        i += 1
      }
      p
    }

    override def withNewMutableAggBufferOffset(offset: Int): DriftProfileAgg =
      copy(mutableAggBufferOffset = offset)
    override def withNewInputAggBufferOffset(offset: Int): DriftProfileAgg =
      copy(inputAggBufferOffset = offset)
    override protected def withNewChildrenInternal(v: Expression, c: Expression,
        vec: Expression, s: Expression): DriftProfileAgg =
      copy(value = v, category = c, vector = vec, success = s)
  }

  /** Runtime kernel of [[KsStat]]: one linear merge of the two sorted
    * cells arrays. Before the first cell of a new value is added, the
    * cumulative counts cover every smaller value, so the ECDFs are
    * compared there as the integer |cumR·nc − cumC·nr|; the one division
    * comes at the end. Keys are non-null and ordered by
    * `SQLOrderingUtil.compareDoubles`, as [[DriftProfileAgg]] emits them.
    */
  def ksStat(ref: ArrayData, cur: ArrayData, nr: Long, nc: Long): Double = {
    def key(a: ArrayData, i: Int) = a.getStruct(i, 2).getDouble(0)
    def rows(a: ArrayData, i: Int) = a.getStruct(i, 2).getLong(1)
    val (lr, lc) = (ref.numElements(), cur.numElements())
    var i, j = 0
    var cumR, cumC, d = 0L
    while (i < lr || j < lc) {
      // The next value is the smaller head of the two sides.
      val k = if (j == lc || i < lr &&
          SQLOrderingUtil.compareDoubles(key(ref, i), key(cur, j)) <= 0) key(ref, i)
        else key(cur, j)
      d = math.max(d, math.abs(cumR * nc - cumC * nr))
      if (i < lr && SQLOrderingUtil.compareDoubles(key(ref, i), k) == 0) {
        cumR += rows(ref, i)
        i += 1
      }
      if (j < lc && SQLOrderingUtil.compareDoubles(key(cur, j), k) == 0) {
        cumC += rows(cur, j)
        j += 1
      }
    }
    VectorExpressions.round6(d.toDouble / (nr * nc).toDouble)
  }

  /** `ks_stat(ref cells, cur cells, n_ref, n_cur) → double`: the
    * two-sample Kolmogorov–Smirnov statistic max |ECDF_ref − ECDF_cur| of
    * two sorted (k: double, n) cells arrays with their totals, at 6 dp.
    * EXACT over integers (see [[ksStat]]); headroom: n_ref·n_cur < 2⁶³.
    * Null when an input is null or a side has no evidence (a total ≤ 0).
    */
  case class KsStat(ref: Expression, cur: Expression, nr: Expression,
                    nc: Expression) extends QuaternaryExpression {

    override def first: Expression = ref
    override def second: Expression = cur
    override def third: Expression = nr
    override def fourth: Expression = nc
    override def dataType: DataType = DoubleType
    override def nullable: Boolean = true
    override def prettyName: String = "ks_stat"

    override def checkInputDataTypes(): TypeCheckResult =
      (ref.dataType, cur.dataType, nr.dataType, nc.dataType) match {
        case (ArrayType(StructType(Array(k1, n1)), _),
              ArrayType(StructType(Array(k2, n2)), _), LongType, LongType)
            if Seq(k1, k2).forall(_.dataType == DoubleType) &&
              Seq(n1, n2).forall(_.dataType == LongType) =>
          TypeCheckResult.TypeCheckSuccess
        case _ => TypeCheckResult.TypeCheckFailure(
          s"$prettyName expects (array<struct<double, bigint>> x2, bigint, bigint), got " +
            children.map(_.dataType.simpleString).mkString(", "))
      }

    override protected def nullSafeEval(r: Any, c: Any, a: Any, b: Any): Any = {
      val (n1, n2) = (a.asInstanceOf[Long], b.asInstanceOf[Long])
      if (n1 > 0 && n2 > 0)
        ksStat(r.asInstanceOf[ArrayData], c.asInstanceOf[ArrayData], n1, n2)
      else null
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (r, c, a, b) =>
        s"""
           |if ($a > 0 && $b > 0) {
           |  ${ev.value} = graft.functions.DriftKernels.ksStat($r, $c, $a, $b);
           |} else {
           |  ${ev.isNull} = true;
           |}
         """.stripMargin)

    override protected def withNewChildrenInternal(r: Expression, c: Expression,
        a: Expression, b: Expression): KsStat = copy(ref = r, cur = c, nr = a, nc = b)
  }

  /** Runtime kernel of [[BinCounts]]: the rows of every cell added into
    * its bin. `ranged` is `hi > lo` (false when an edge is null; Spark
    * orders NaN above every number, but a NaN edge puts every key in bin
    * 0 either way); the bin is `Stats.fixedWidthBin`'s
    * `least(bins − 1, greatest(0, floor((k − lo) / ((hi − lo) / bins))))`
    * with Spark's casts: `floor` of NaN is 0 and of ±∞ is the extreme
    * long, and a zero width (a division by zero, null) puts the key in
    * bin 0.
    */
  def binCounts(cells: ArrayData, lo: Double, hi: Double, ranged: Boolean,
                bins: Int): ArrayData = {
    val out = new Array[Long](bins)
    val w = (hi - lo) / bins
    var i = 0
    while (i < cells.numElements()) {
      val cell = cells.getStruct(i, 2)
      val b = if (!ranged || w == 0.0) 0
        else math.min(bins - 1L,
          math.max(0L, Math.floor((cell.getDouble(0) - lo) / w).toLong)).toInt
      out(b) += cell.getLong(1)
      i += 1
    }
    ArrayData.toArrayData(out)
  }

  /** `bin_counts(cells, lo, hi)` with `bins` fixed → array<bigint> of
    * `bins` entries: the per-bin row counts of a sorted (k: double, n)
    * cells array under fixed-width binning over [lo, hi], clamped into
    * the edge bins; a degenerate range (hi ≤ lo, or a null edge) puts
    * every cell in bin 0 (see [[binCounts]]). Keys that already are bin
    * ids bin to themselves over [0, bins], where every bin is exactly 1
    * wide. Null when `cells` is null.
    */
  case class BinCounts(cells: Expression, lo: Expression, hi: Expression,
                       bins: Int) extends TernaryExpression {
    require(bins > 0, "bins must be positive")

    override def first: Expression = cells
    override def second: Expression = lo
    override def third: Expression = hi
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullable: Boolean = cells.nullable
    override def prettyName: String = "bin_counts"

    override def checkInputDataTypes(): TypeCheckResult =
      (cells.dataType, lo.dataType, hi.dataType) match {
        case (ArrayType(StructType(Array(k, n)), _), DoubleType, DoubleType)
            if k.dataType == DoubleType && n.dataType == LongType =>
          TypeCheckResult.TypeCheckSuccess
        case _ => TypeCheckResult.TypeCheckFailure(
          s"$prettyName expects (array<struct<double, bigint>>, double, double), got " +
            children.map(_.dataType.simpleString).mkString(", "))
      }

    // A null edge bins everything to 0 instead of nulling the result, so
    // eval is hand-rolled instead of nullSafeEval.
    override def eval(input: InternalRow): Any = {
      val c = cells.eval(input)
      if (c == null) return null
      val (l, h) = (lo.eval(input), hi.eval(input))
      val ranged = l != null && h != null &&
        h.asInstanceOf[Double] > l.asInstanceOf[Double]
      binCounts(c.asInstanceOf[ArrayData],
        if (l == null) 0.0 else l.asInstanceOf[Double],
        if (h == null) 0.0 else h.asInstanceOf[Double], ranged, bins)
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val (c, l, h) = (cells.genCode(ctx), lo.genCode(ctx), hi.genCode(ctx))
      val code =
        s"""
           |${c.code}
           |${l.code}
           |${h.code}
           |boolean ${ev.isNull} = ${c.isNull};
           |org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} = null;
           |if (!${ev.isNull}) {
           |  ${ev.value} = graft.functions.DriftKernels.binCounts(${c.value},
           |    ${l.value}, ${h.value},
           |    !${l.isNull} && !${h.isNull} && ${h.value} > ${l.value}, $bins);
           |}
         """.stripMargin
      ev.copy(code = Block.BlockHelper(new StringContext(code)).code())
    }

    override protected def withNewChildrenInternal(c: Expression, l: Expression,
        h: Expression): BinCounts = copy(cells = c, lo = l, hi = h)
  }
}
