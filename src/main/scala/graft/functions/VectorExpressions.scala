package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expressions for the vector hot path (SURVEY.md §2.11).
  *
  * The higher-order-function formulation (`aggregate(zip_with(...))`)
  * is codegen'd too, but each element pays lambda-variable plumbing and an
  * intermediate zipped array; at embedding width × corpus scale the dot
  * product IS the workload (every kNN/ANN/dedup score), so it gets a tight
  * primitive loop with `doGenCode` — no intermediate array, no boxing.
  *
  * Semantics are EXACTLY the sequential left fold of
  * `Σ (double)a(i) · (double)b(i)` the SQL/DuckDB formulation uses —
  * bit-identical results, so the oracle gates are unaffected.
  */
object VectorExpressions {

  /** `dot_product_d(array<float|double>, array<float|double>) → double`.
    * Null when either array is null, lengths differ, or any element is
    * null (the fold formulation propagates element nulls the same way).
    */
  case class DotProductD(left: Expression, right: Expression)
      extends BinaryExpression {

    override def dataType: DataType = DoubleType
    override def nullable: Boolean = true
    override def prettyName: String = "dot_product_d"

    private def elemIsFloat(e: Expression): Boolean = e.dataType match {
      case ArrayType(FloatType, _) => true
      case _                       => false
    }

    override def checkInputDataTypes(): TypeCheckResult =
      (left.dataType, right.dataType) match {
        case (ArrayType(lt, _), ArrayType(rt, _))
            if Seq(lt, rt).forall(t => t == FloatType || t == DoubleType) =>
          TypeCheckResult.TypeCheckSuccess
        case _ => TypeCheckResult.TypeCheckFailure(
          s"$prettyName expects two array<float|double> arguments, got " +
            s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
      }

    override protected def nullSafeEval(l: Any, r: Any): Any = {
      val a = l.asInstanceOf[ArrayData]
      val b = r.asInstanceOf[ArrayData]
      val n = a.numElements()
      if (n != b.numElements()) return null
      val lf = elemIsFloat(left)
      val rf = elemIsFloat(right)
      var s = 0.0
      var i = 0
      while (i < n) {
        if (a.isNullAt(i) || b.isNullAt(i)) return null
        val x = if (lf) a.getFloat(i).toDouble else a.getDouble(i)
        val y = if (rf) b.getFloat(i).toDouble else b.getDouble(i)
        s += x * y
        i += 1
      }
      s
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val i = ctx.freshName("i")
        val n = ctx.freshName("n")
        val s = ctx.freshName("s")
        val getL = if (elemIsFloat(left)) s"(double) $a.getFloat($i)"
                   else s"$a.getDouble($i)"
        val getR = if (elemIsFloat(right)) s"(double) $b.getFloat($i)"
                   else s"$b.getDouble($i)"
        s"""
           |final int $n = $a.numElements();
           |if ($n != $b.numElements()) {
           |  ${ev.isNull} = true;
           |} else {
           |  double $s = 0.0;
           |  for (int $i = 0; $i < $n; $i++) {
           |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
           |    $s += $getL * $getR;
           |  }
           |  if (!${ev.isNull}) { ${ev.value} = $s; }
           |}
         """.stripMargin
      })

    override protected def withNewChildrenInternal(
        l: Expression, r: Expression): DotProductD = copy(left = l, right = r)
  }

  /** `l2sq_d(array<float|double>, array<float|double>) → double`: squared
    * L2 distance as the sequential left fold `Σ ((double)a(i) − (double)
    * b(i))²` — the exact evaluation order of the HOF formulation
    * ([[VectorFunctions.l2sqFold]]) and DuckDB's `list_sum(list_transform(
    * range(len(a)), i -> (a[i+1]-b[i+1])*(a[i+1]-b[i+1])))`, so PQ
    * assignment and ADC scores are bit-identical across engines. Native
    * because PQ encode/ADC evaluates it k×m times per row (k=256, m=8 ⇒
    * 2048 evals/row): a tight primitive loop with `doGenCode`, no
    * intermediate zipped array, no boxing. Null semantics match the fold:
    * null when either array is null, lengths differ, or any element is
    * null.
    */
  case class L2SqD(left: Expression, right: Expression)
      extends BinaryExpression {

    override def dataType: DataType = DoubleType
    override def nullable: Boolean = true
    override def prettyName: String = "l2sq_d"

    private def elemIsFloat(e: Expression): Boolean = e.dataType match {
      case ArrayType(FloatType, _) => true
      case _                       => false
    }

    override def checkInputDataTypes(): TypeCheckResult =
      (left.dataType, right.dataType) match {
        case (ArrayType(lt, _), ArrayType(rt, _))
            if Seq(lt, rt).forall(t => t == FloatType || t == DoubleType) =>
          TypeCheckResult.TypeCheckSuccess
        case _ => TypeCheckResult.TypeCheckFailure(
          s"$prettyName expects two array<float|double> arguments, got " +
            s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
      }

    override protected def nullSafeEval(l: Any, r: Any): Any = {
      val a = l.asInstanceOf[ArrayData]
      val b = r.asInstanceOf[ArrayData]
      val n = a.numElements()
      if (n != b.numElements()) return null
      val lf = elemIsFloat(left)
      val rf = elemIsFloat(right)
      var s = 0.0
      var i = 0
      while (i < n) {
        if (a.isNullAt(i) || b.isNullAt(i)) return null
        val x = if (lf) a.getFloat(i).toDouble else a.getDouble(i)
        val y = if (rf) b.getFloat(i).toDouble else b.getDouble(i)
        val d = x - y
        s += d * d
        i += 1
      }
      s
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val i = ctx.freshName("i")
        val n = ctx.freshName("n")
        val s = ctx.freshName("s")
        val d = ctx.freshName("d")
        val getL = if (elemIsFloat(left)) s"(double) $a.getFloat($i)"
                   else s"$a.getDouble($i)"
        val getR = if (elemIsFloat(right)) s"(double) $b.getFloat($i)"
                   else s"$b.getDouble($i)"
        s"""
           |final int $n = $a.numElements();
           |if ($n != $b.numElements()) {
           |  ${ev.isNull} = true;
           |} else {
           |  double $s = 0.0;
           |  for (int $i = 0; $i < $n; $i++) {
           |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
           |    final double $d = $getL - $getR;
           |    $s += $d * $d;
           |  }
           |  if (!${ev.isNull}) { ${ev.value} = $s; }
           |}
         """.stripMargin
      })

    override protected def withNewChildrenInternal(
        l: Expression, r: Expression): L2SqD = copy(left = l, right = r)
  }

  /** Exact replica of Spark's `round(x, 6)` on doubles (RoundBase →
    * BigDecimal.valueOf → setScale(6, HALF_UP); NaN/±Inf pass through) —
    * used by [[l2sqTable]] so the fused table is bit-identical to the
    * `transform(mat, c -> round(l2sq_d(sv, c), 6))` formulation. A
    * differential property test pins the equivalence.
    *
    * Fast path: `floor(x·1e6 + 0.5) / 1e6` — BigDecimal.valueOf goes
    * through Double.toString (~150 ns), which dominated the PQ table
    * kernel at k×m entries per row. The two disagree only when x·1e6
    * lies essentially ON a .5 decimal boundary (exact ties, and
    * shortest-decimal-representation values like 0.1234565 whose binary
    * double sits ~1e-11 below the tie): both the multiply error and the
    * toString shortest-repr gap are ≤ |f|·2⁻⁵² ≈ |f|·2.2e-16, so any
    * point farther than `|f|·1e-12 + 1e-12` from a half-integer provably
    * rounds identically under both — that margin is 4 orders looser than
    * the error bound, and a random value falls inside it with
    * probability ~1e-12, so the BigDecimal fallback almost never runs.
    */
  def round6(x: Double): Double = {
    if (java.lang.Double.isNaN(x) || java.lang.Double.isInfinite(x)) return x
    val f = x * 1e6
    val distToHalf = Math.abs(f - (Math.floor(f) + 0.5))
    if (distToHalf > Math.abs(f) * 1e-12 + 1e-12) Math.floor(f + 0.5) / 1e6
    else java.math.BigDecimal.valueOf(x).setScale(6, java.math.RoundingMode.HALF_UP)
      .doubleValue()
  }

  /** Runtime kernel shared by [[L2SqTableD]]'s eval and codegen paths:
    * rounded squared-L2 from `sv` to every row of the codebook matrix, as
    * one tight primitive double loop per row. An entry is null when `sv`'s
    * length differs from that centroid's or an element is null (the same
    * per-pair semantics as [[L2SqD]]).
    */
  def l2sqTable(sv: ArrayData, mat: ArrayData, svIsFloat: Boolean): ArrayData = {
    val k = mat.numElements()
    val out = new Array[Any](k)
    var j = 0
    while (j < k) {
      val c = mat.getArray(j)
      val n = sv.numElements()
      if (n != c.numElements()) { out(j) = null }
      else {
        var s = 0.0
        var ok = true
        var i = 0
        while (ok && i < n) {
          if (sv.isNullAt(i) || c.isNullAt(i)) ok = false
          else {
            val x = if (svIsFloat) sv.getFloat(i).toDouble else sv.getDouble(i)
            val d = x - c.getDouble(i)
            s += d * d
            i += 1
          }
        }
        out(j) = if (ok) round6(s) else null
      }
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Runtime kernel shared by [[CosTableD]]'s eval and codegen paths:
    * rounded cosine from (`v`, its precomputed norm `n`) to every
    * (centroid, norm) row of the matrix. Entry semantics replicate the
    * higher-order formulation `round(dot(v,c) / nullif(n·cn, 0), 6)`
    * exactly: null when the lengths differ, an element is null, or the
    * norm product is zero.
    */
  def cosTable(v: ArrayData, n: Double, mat: ArrayData,
               vIsFloat: Boolean): ArrayData = {
    val k = mat.numElements()
    val out = new Array[Any](k)
    var j = 0
    while (j < k) {
      val row = mat.getStruct(j, 2)
      val c = row.getArray(0)
      val cn = row.getDouble(1)
      val len = v.numElements()
      if (len != c.numElements()) { out(j) = null }
      else {
        var dot = 0.0
        var ok = true
        var i = 0
        while (ok && i < len) {
          if (v.isNullAt(i) || c.isNullAt(i)) ok = false
          else {
            val x = if (vIsFloat) v.getFloat(i).toDouble else v.getDouble(i)
            dot += x * c.getDouble(i)
            i += 1
          }
        }
        val denom = n * cn
        out(j) = if (!ok || denom == 0.0) null else round6(dot / denom)
      }
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** `cos_table_d(array<float|double>, double, array<struct<array<double>,
    * double>>) → array<double>`: the whole dense cosine table in ONE
    * codegen'd expression — entry `j` is `round(dot(v, mat(j).vec) /
    * nullif(n × mat(j).norm, 0), 6)`. The spherical twin of
    * [[L2SqTableD]]: corpus-side IVF assignment / Lloyd passes / SemDeDup
    * probes evaluate it once per row per centroid, and the `transform`
    * formulation dispatches its lambda interpreted per element. Null
    * semantics per ENTRY match the lambda form; a null vector or norm
    * yields an all-null table (not a null array) for the same reason.
    * Pinned bit-identical to the transform formulation by a differential
    * property test.
    */
  case class CosTableD(vec: Expression, norm: Expression, mat: Expression)
      extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {

    override def first: Expression = vec
    override def second: Expression = norm
    override def third: Expression = mat
    override def dataType: DataType = ArrayType(DoubleType, containsNull = true)
    override def nullable: Boolean = false
    override def prettyName: String = "cos_table_d"

    private def vIsFloat: Boolean = vec.dataType match {
      case ArrayType(FloatType, _) => true
      case _                       => false
    }

    override def checkInputDataTypes(): TypeCheckResult =
      (vec.dataType, norm.dataType, mat.dataType) match {
        case (ArrayType(vt, _), DoubleType,
              ArrayType(StructType(Array(f1, f2)), _))
            if (vt == FloatType || vt == DoubleType) &&
              f1.dataType == ArrayType(DoubleType, false) &&
              f2.dataType == DoubleType =>
          TypeCheckResult.TypeCheckSuccess
        case _ => TypeCheckResult.TypeCheckFailure(
          s"$prettyName expects (array<float|double>, double, " +
            s"array<struct<array<double>, double>>), got " +
            s"${vec.dataType.simpleString}, ${norm.dataType.simpleString}, " +
            s"${mat.dataType.simpleString}")
      }

    // A null vector/norm must yield an all-null TABLE (what the lambda
    // formulation computes), not a null array — so eval is hand-rolled
    // instead of nullSafeEval.
    override def eval(
        input: org.apache.spark.sql.catalyst.InternalRow): Any = {
      val m = mat.eval(input).asInstanceOf[ArrayData]
      if (m == null) return null // matrix is a literal; never null in practice
      val v = vec.eval(input)
      val n = norm.eval(input)
      if (v == null || n == null)
        return new org.apache.spark.sql.catalyst.util.GenericArrayData(
          new Array[Any](m.numElements()))
      cosTable(v.asInstanceOf[ArrayData], n.asInstanceOf[Double], m, vIsFloat)
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val vE = vec.genCode(ctx)
      val nE = norm.genCode(ctx)
      val mE = mat.genCode(ctx)
      val code =
        s"""
           |${vE.code}
           |${nE.code}
           |${mE.code}
           |org.apache.spark.sql.catalyst.util.ArrayData ${ev.value};
           |if (${vE.isNull} || ${nE.isNull}) {
           |  ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
           |    new Object[${mE.value}.numElements()]);
           |} else {
           |  ${ev.value} = graft.functions.VectorExpressions.cosTable(
           |    ${vE.value}, ${nE.value}, ${mE.value}, $vIsFloat);
           |}
         """.stripMargin
      ev.copy(code = org.apache.spark.sql.catalyst.expressions.codegen.Block
        .BlockHelper(new StringContext(code)).code(),
        isNull = org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral)
    }

    override protected def withNewChildrenInternal(
        f: Expression, s: Expression, t: Expression): CosTableD =
      copy(vec = f, norm = s, mat = t)
  }

  /** `l2sq_table_d(array<float|double>, array<array<double>>) →
    * array<double>`: the whole dense PQ/ADC distance table in ONE
    * expression — entry `j` is `round(l2sq_d(sv, mat[j]), 6)`. Exists
    * because the higher-order `transform` formulation evaluates its
    * lambda interpreted per element: at k=256 codes × m=8 subspaces
    * that is 2048 lambda dispatches per row, and the fit/encode passes
    * over a corpus make it the hot loop. This collapses the table to one
    * codegen'd call into [[l2sqTable]] (tight primitive loops). Value
    * semantics are pinned bit-identical to the transform formulation by a
    * differential property test.
    */
  case class L2SqTableD(left: Expression, right: Expression)
      extends BinaryExpression {

    override def dataType: DataType = ArrayType(DoubleType, containsNull = true)
    override def nullable: Boolean = true
    override def prettyName: String = "l2sq_table_d"

    private def svIsFloat: Boolean = left.dataType match {
      case ArrayType(FloatType, _) => true
      case _                       => false
    }

    override def checkInputDataTypes(): TypeCheckResult =
      (left.dataType, right.dataType) match {
        case (ArrayType(lt, _), ArrayType(ArrayType(DoubleType, _), _))
            if lt == FloatType || lt == DoubleType =>
          TypeCheckResult.TypeCheckSuccess
        case _ => TypeCheckResult.TypeCheckFailure(
          s"$prettyName expects (array<float|double>, array<array<double>>), got " +
            s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
      }

    override protected def nullSafeEval(l: Any, r: Any): Any =
      l2sqTable(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData], svIsFloat)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (sv, mat) => {
        // One static call into the Scala kernel — keeps the generated
        // method tiny regardless of k, so the projection stays inside
        // whole-stage codegen at k=256 where inlined per-centroid code
        // would blow the method limit.
        s"${ev.value} = graft.functions.VectorExpressions.l2sqTable($sv, $mat, $svIsFloat);"
      })

    override protected def withNewChildrenInternal(
        l: Expression, r: Expression): L2SqTableD = copy(left = l, right = r)
  }
}
