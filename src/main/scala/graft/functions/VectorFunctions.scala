package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column-level vector math over `array<float>` embedding columns.
  *
  * All reductions are SEQUENTIAL left folds (`aggregate` over the array) in
  * double precision — the same evaluation order DuckDB's `list_sum(
  * list_transform(...))` uses — so cosine scores are bit-identical across
  * engines. Everything stays inside whole-stage codegen; no UDFs.
  */
object VectorFunctions {

  /** Dot product in double precision — backed by the native codegen'd
    * [[VectorExpressions.DotProductD]] (tight primitive loop; no
    * intermediate zipped array). Bit-identical to [[dotFold]]: the same
    * sequential left fold, so oracle-gated scores are unchanged.
    */
  def dotD(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graft.CatalystBridge
    CatalystBridge.column(VectorExpressions.DotProductD(
      CatalystBridge.expression(a), CatalystBridge.expression(b)))
  }

  /** Reference formulation via built-in higher-order functions (zip_with +
    * aggregate) — the differential-testing baseline for [[dotD]], and the
    * shape portable to engines without expression extension points.
    */
  def dotFold(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def normD(a: Column): Column = sqrt(dotD(a, a))

  /** Squared L2 distance in double precision — backed by the native
    * codegen'd [[VectorExpressions.L2SqD]] (tight primitive loop; no
    * intermediate zipped array). Bit-identical to [[l2sqFold]]: the same
    * sequential left fold in index order as DuckDB `list_sum(
    * list_transform(range(len(a)), i -> (a[i+1]-b[i+1])*(a[i+1]-b[i+1])))`,
    * so PQ assignment and ADC scores are unchanged across engines.
    */
  def l2sqD(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graft.CatalystBridge
    CatalystBridge.column(VectorExpressions.L2SqD(
      CatalystBridge.expression(a), CatalystBridge.expression(b)))
  }

  /** Reference formulation of [[l2sqD]] via built-in higher-order
    * functions — the differential-testing baseline, portable to engines
    * without expression extension points.
    */
  def l2sqFold(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => (x.cast("double") - y.cast("double")) *
        (x.cast("double") - y.cast("double"))),
      lit(0.0), (acc, v) => acc + v)

  def cosine(a: Column, b: Column): Column = dotD(a, b) / (normD(a) * normD(b))

  /** Deterministic pseudo-random hyperplane coefficient for (plane, dim):
    * 16 md5 bits shifted to [-32768, 32767]. Computed DRIVER-side at
    * plan-build time — the coefficients are row-invariant, so embedding
    * them as literals removes 2×planes×dims md5 evaluations PER ROW.
    * Value-identical to DuckDB
    * `('0x'||substr(md5(p||'_'||j),1,4))::BIGINT - 32768`.
    */
  def planeCoeffValue(p: Int, j: Int): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"${p}_$j".getBytes("UTF-8"))
      .take(2).map(b => f"${b & 0xff}%02x").mkString
    (Integer.parseInt(hex, 16) - 32768).toDouble
  }

  /** Signed projection of `v` onto deterministic hyperplane `p` (left fold,
    * same order as the element-indexed SQL formulation).
    */
  def planeDot(v: Column, p: Int, dims: Int): Column =
    dotD(v, typedlit((0 until dims).map(planeCoeffValue(p, _))))

  /** Signed-random-projection LSH bucket id over `planes` hyperplanes
    * drawn from the GLOBAL plane sequence starting at `planeOffset` — a
    * single table uses offset 0; independent hash tables for AND-OR
    * amplification share one deterministic coefficient stream (table t
    * uses planes [t·P, (t+1)·P), so adding tables never re-randomizes
    * existing ones). `dims` must match the embedding length (coefficients
    * are plan-time literals).
    */
  def lshBucketAt(v: Column, planes: Int, dims: Int, planeOffset: Int): Column =
    (0 until planes).map { p =>
      when(planeDot(v, planeOffset + p, dims) >= 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)
}
