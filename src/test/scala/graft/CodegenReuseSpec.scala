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

  /** Each op's rows, sorted as strings, and the classes the pass compiled. */
  private def pass(): (Seq[Seq[String]], Long) = {
    val c0 = compiles
    val rows = ops.map { n =>
      val r = SparkEntry.queries(n)(spark, dir).collect().map(_.toString).sorted.toSeq
      graft.ops.OpCaches.releaseAll(blocking = true)
      spark.catalog.clearCache()
      r
    }
    (rows, compiles - c0)
  }

  test("a second pass over the analytics ops compiles no generated class and returns the same rows") {
    val (first, firstCompiles) = pass()
    val (second, secondCompiles) = pass()
    assert(secondCompiles == 0,
      s"the repeat pass compiled $secondCompiles classes (first pass: $firstCompiles)")
    ops.zip(first.zip(second)).foreach { case (n, (a, b)) =>
      assert(a == b, s"$n returned different rows on the repeat pass")
    }
  }
}
