package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.scalatest.funsuite.AnyFunSuite

/** Generated code is reused across requests: `GraftSession` bounds Spark's
  * JVM-wide codegen class cache above the engine's working set. At Spark's
  * default bound of 100 classes, a working set larger than that evicts
  * itself, and every repeat of a request compiles its classes again.
  */
class CodegenReuseSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val dir = "/root/testdata/sf0.01"

  // The dashboard queries and curation jobs of the analytics benchmark:
  // together well over 100 distinct generated classes.
  private val ops = Seq("cohort_analysis_e2e", "p3_semi_join_cohort", "a1_kpis",
    "s2_date_range_scan", "w6_trailing_window_kpis", "w8_sessionize",
    "g3_trajectory_assembly", "g7_radius_search", "traj_similarity_grid",
    "graph_pagerank", "stats_bootstrap_ci", "text_decontaminate")

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Each op's rows, sorted as strings, and the classes it compiled. */
  private def pass(): Seq[(Seq[String], Long)] =
    ops.map { n =>
      val c0 = compiles
      val r = SparkEntry.queries(n)(spark, dir).collect().map(_.toString).sorted.toSeq
      val compiled = compiles - c0
      graft.ops.OpCaches.releaseAll(blocking = true)
      spark.catalog.clearCache()
      (r, compiled)
    }

  test("a second pass over the analytics ops compiles no generated class and returns the same rows") {
    val first = pass()
    val second = pass()
    val recompiled = ops.zip(second.map(_._2)).filter(_._2 > 0)
    assert(recompiled.isEmpty,
      s"the repeat pass compiled ${recompiled.map(_._2).sum} classes in " +
        recompiled.map { case (n, c) => s"$n ($c)" }.mkString(", ") +
        s" (first pass: ${ops.zip(first.map(_._2)).map { case (n, c) => s"$n $c" }.mkString(", ")})")
    ops.zip(first.zip(second)).foreach { case (n, ((a, _), (b, _))) =>
      assert(a == b, s"$n returned different rows on the repeat pass")
    }
  }
}
