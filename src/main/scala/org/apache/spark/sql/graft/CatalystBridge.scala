package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{Alias, Expression}
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, LogicalPlan, Project}
import org.apache.spark.sql.classic.{Dataset, ExpressionUtils, SparkSession}
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.execution.SparkPlan

/** Bridge into `private[sql]` Column↔Expression conversion (Spark 4 moved
  * the classic `new Column(expr)` constructor behind
  * `org.apache.spark.sql.classic.ExpressionUtils`) and into Dataset
  * construction from a logical plan (`Dataset.ofRows`). Lives in the
  * `org.apache.spark.sql` package space solely to satisfy the access
  * modifiers.
  */
object CatalystBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** An analyzed plan kept to run again over a new input: `plan` reads
    * `leaf` (the plan of the input it was built over, from
    * `inputSession`) exactly once. See [[template]].
    */
  final class PlanTemplate private[CatalystBridge] (
      session: SparkSession, plan: LogicalPlan, leaf: LogicalPlan,
      inputSession: SparkSession) {
    private val nodes = planNodes(plan)

    /** The template over `input` in place of its leaf, analyzed again but
      * not rebuilt: the input's plan sits under a projection that aliases
      * its attributes, by position, to the leaf's expression ids. The
      * optimizer and the physical planner run per call, as for any new
      * Dataset. None when the input comes from another session, its
      * schema (names, types, nullability) differs from the leaf's, or its
      * plan shares a node with the template.
      */
    def bind(input: DataFrame): Option[DataFrame] = {
      val in = castToImpl(input).logicalPlan
      if ((input.sparkSession ne inputSession) || input.schema != leaf.schema ||
          in.exists(nodes.contains)) None
      else {
        val aliased = Project(in.output.zip(leaf.output).map { case (n, o) =>
          if (n.exprId == o.exprId) n else Alias(n, o.name)(exprId = o.exprId)
        }, in)
        Some(Dataset.ofRows(session, plan.transformUp {
          case p if p eq leaf => aliased
        }))
      }
    }
  }

  /** `out`'s analyzed plan as a template over `input`, the frame it was
    * built from, and which `out` must read exactly once. None unless
    * `input`'s plan occurs in it exactly once (by identity), every leaf
    * relation it reads, subqueries included, is read once and belongs to
    * that occurrence or to the plans of `fixed` (the frames `out` reads
    * besides it), and `input` shares no node with `fixed`. A second read
    * of the input, which [[PlanTemplate.bind]] would leave on the old
    * rows, is refused: a self-join's analysis copies one side into new
    * nodes, and a subquery over the input repeats its leaves.
    */
  def template(out: DataFrame, input: DataFrame,
               fixed: DataFrame*): Option[PlanTemplate] = {
    val plan = castToImpl(out).queryExecution.analyzed
    val leaf = castToImpl(input).logicalPlan
    val fixedNodes = planNodes(fixed.map(f => castToImpl(f).logicalPlan): _*)
    val inputNodes = planNodes(leaf)
    val reads = plan.collectWithSubqueries { case r: LeafNode => r }
    if (plan.collectWithSubqueries { case p if p eq leaf => p }.size != 1 ||
        planNodes(reads: _*).size != reads.size ||
        !reads.forall(r => inputNodes.contains(r) || fixedNodes.contains(r)) ||
        leaf.exists(fixedNodes.contains)) None
    else Some(new PlanTemplate(castToImpl(out).sparkSession, plan, leaf,
      castToImpl(input).sparkSession))
  }

  /** Every node of `plans`, by identity. */
  private def planNodes(plans: LogicalPlan*): java.util.Set[LogicalPlan] = {
    val s = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[LogicalPlan, java.lang.Boolean]())
    plans.foreach(_.foreach(s.add))
    s
  }

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
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val nodes = realNodes(df, intoCaches = false)
    (nodes.count(_.isInstanceOf[FileSourceScanExec]),
      nodes.count(_.isInstanceOf[InMemoryTableScanExec]))
  }

  /** Count the unkeyed joins that run for an executed plan: (cartesian
    * products, broadcast nested-loop joins). The [[realScanCounts]] walk,
    * which also enters each in-memory cached plan ONCE: a cached subtree's
    * joins run once at materialization, however many scans read it (the
    * plan string prints a cached plan at every scan site, and twice once
    * materialized).
    */
  def realNestedJoinCounts(df: DataFrame): (Int, Int) = {
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec,
      CartesianProductExec}
    val nodes = realNodes(df, intoCaches = true)
    (nodes.count(_.isInstanceOf[CartesianProductExec]),
      nodes.count(_.isInstanceOf[BroadcastNestedLoopJoinExec]))
  }

  private def realNodes(df: DataFrame, intoCaches: Boolean): Seq[SparkPlan] = {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val entered = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.inputPlan)
      case s: FileSourceScanExec => Seq(s)
      case m: InMemoryTableScanExec
          if intoCaches && entered.add(m.relation.cacheBuilder.cachedPlan) =>
        m +: walk(m.relation.cacheBuilder.cachedPlan)
      case other => other +: (other.children ++ other.subqueries).flatMap(walk)
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
