package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental maintenance of the QueryEngine KPI bundle over a stream
  * (SURVEY.md §2.10 + §3.1 lifecycle).
  *
  * The reference appends every tick's rows client-side and reruns the full
  * batch KPI pipeline over ALL accumulated data (`viz.py:742-803`). Here
  * each micro-batch contributes ONE distributed aggregation over only its
  * own rows, both cohorts together; the per-cohort moments (n, Σv, min,
  * max, Σv²) merge associatively into running state, so per-tick work is
  * O(batch) — not O(stream) — and the emitted KPI row is algebraically
  * identical to the batch engine's ([[graft.query.QueryEngine.run]]
  * `kpis` schema).
  *
  * Restart note: state lives on the driver. A production restart rebuilds
  * it by replaying the per-batch moment rows from the checkpointed sink
  * table — the merge is associative, so replay reconstructs state exactly;
  * `batchId` makes the writes idempotent.
  */
object BundleKpiSink {

  /** Mergeable KPI moments for one cohort. */
  final case class Acc(n: Long, sum: Double, mn: Double, mx: Double, sumSq: Double) {
    def merge(o: Acc): Acc =
      if (o.n == 0) this
      else if (n == 0) o
      else Acc(n + o.n, sum + o.sum, math.min(mn, o.mn), math.max(mx, o.mx),
        sumSq + o.sumSq)
    def avg: Double = sum / n
    /** Sample stddev from merged moments (= `stddev_samp`). */
    def std: Double =
      if (n < 2) Double.NaN else math.sqrt((sumSq - sum * sum / n) / (n - 1))
  }
  object Acc {
    val empty: Acc =
      Acc(0L, 0.0, Double.PositiveInfinity, Double.NegativeInfinity, 0.0)
  }
}

/** One instance per streaming query; wire [[step]] into `foreachBatch`. */
final class BundleKpiSink(subjectPred: Column, controlPred: Column,
                          valueCol: String) extends Serializable {
  import BundleKpiSink._

  @volatile private var subj: Acc = Acc.empty
  @volatile private var ctrl: Acc = Acc.empty
  private val emitted =
    scala.collection.mutable.ArrayBuffer.empty[(Long, (Acc, Acc))]

  /** foreachBatch hook: ONE distributed aggregation over THIS batch only,
    * merged into the running moments. Each cohort's value is projected
    * once, as `when(pred, value)` (null outside the cohort), and all ten
    * moments aggregate over the two projected columns: each cohort sees
    * the rows its filter kept, summed per partition in the same order,
    * and each predicate (a long `isin`, say) is evaluated once per row.
    */
  def step(batch: DataFrame, batchId: Long): Unit = synchronized {
    val v = col(valueCol)
    val ms = moments(col("__subj")) ++ moments(col("__ctrl"))
    val r = batch.select(when(subjectPred, v).as("__subj"),
        when(controlPred, v).as("__ctrl"))
      .agg(ms.head, ms.tail: _*).head()
    subj = subj.merge(accOf(r, 0))
    ctrl = ctrl.merge(accOf(r, 5))
    emitted += batchId -> (subj, ctrl)
  }

  // count(v), not count(*): a batch whose rows all carry a NULL value
  // has count(*) > 0 but null sum/min/max — it must merge as empty, or
  // the getDouble calls would NPE and kill the streaming query.
  private def moments(v: Column): Seq[Column] =
    Seq(count(v), sum(v), min(v), max(v), sum(v * v))

  private def accOf(r: org.apache.spark.sql.Row, i: Int): Acc =
    if (r.getLong(i) == 0L) Acc.empty
    else Acc(r.getLong(i), r.getDouble(i + 1), r.getDouble(i + 2),
      r.getDouble(i + 3), r.getDouble(i + 4))

  /** Current bundle KPIs as a 1-row frame with the batch engine's exact
    * `kpis` schema.
    */
  def kpis(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq((subj.avg, subj.mn, subj.mx, subj.n, ctrl.avg, ctrl.std, ctrl.n,
      subj.avg - ctrl.avg))
      .toDF("subj_avg", "subj_min", "subj_max", "subj_rows", "ctrl_avg",
        "ctrl_std", "ctrl_rows", "delta_avg")
  }

  /** Per-batch KPI snapshots (batchId → cohort moments) — the incremental
    * sink history a dashboard would chart.
    */
  def history: Seq[(Long, (Acc, Acc))] = synchronized(emitted.toSeq)
}
