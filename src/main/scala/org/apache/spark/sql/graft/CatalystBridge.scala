package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into `private[sql]` Column↔Expression conversion (Spark 4 moved
  * the classic `new Column(expr)` constructor behind
  * `org.apache.spark.sql.classic.ExpressionUtils`). Lives in the
  * `org.apache.spark.sql` package space solely to satisfy the access
  * modifier; keep it to these two forwarders.
  */
object CatalystBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** The physical plan of a streaming query's last executed micro-batch
    * (None before the first batch) — for plan-shape assertions on
    * streaming sources; `StreamingQueryWrapper` is `private[sql]`.
    */
  def lastMicroBatchPlan(q: org.apache.spark.sql.streaming.StreamingQuery): Option[String] =
    q match {
      case w: org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper =>
        Option(w.streamingQuery.lastExecution).map(_.executedPlan.toString)
      case _ => None
    }

  /** Count REAL leaf scans of an executed plan: (parquet file scans,
    * in-memory cache scans). Traverses through AQE wrappers and into
    * subquery plans (scalar subqueries, runtime bloom filters) but does NOT
    * recurse into `InMemoryRelation.cachedPlan` — a cached subtree's scan
    * executes once at materialization, not per reference. String-counting
    * `"FileScan"` in `executedPlan.toString` is unsound for this purpose:
    * a MATERIALIZED adaptive cached plan prints both its `== Final Plan ==`
    * and `== Initial Plan ==` sections, so every cached scan appears twice
    * as soon as some earlier query materialized the shared cache entry
    * (plan-shape guards must not depend on suite execution order).
    */
  def realScanCounts(df: DataFrame): (Int, Int) = {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    def walk(p: SparkPlan): (Int, Int) = p match {
      case a: AdaptiveSparkPlanExec => walk(a.inputPlan)
      case _: FileSourceScanExec => (1, 0)
      case _: InMemoryTableScanExec => (0, 1)
      case other =>
        (other.children ++ other.subqueries).map(walk)
          .foldLeft((0, 0)) { case ((a, b), (c, d)) => (a + c, b + d) }
    }
    walk(df.queryExecution.executedPlan)
  }

  /** Block until the async listener bus has delivered every queued event
    * (`LiveListenerBus.waitUntilEmpty` is `private[spark]`). Profilers
    * that read a listener-filled buffer right after the timed action must
    * drain first or silently drop the last stages' events.
    */
  def drainListenerBus(sc: org.apache.spark.SparkContext,
                       timeoutMs: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)

  /** The materialized RDD behind a `localCheckpoint`ed Dataset (None for
    * any other plan shape). `Dataset.unpersist` only touches the
    * CacheManager entry; the checkpoint's MEMORY_AND_DISK blocks belong to
    * this underlying RDD (`LogicalRDD` is `private[sql]`), so releasing
    * them early — instead of waiting for driver GC + ContextCleaner —
    * needs this handle.
    */
  def checkpointedRdd(df: DataFrame): Option[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD => Some(l.rdd)
      case _ => None
    }
}
