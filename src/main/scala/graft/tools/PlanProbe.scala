package graft.tools

import graft.{GraftSession, SparkEntry}

/** Ad-hoc physical-plan dump for one query: `runMain graft.tools.PlanProbe
  * <query> [sfDir]` prints the executed plan plus counts of the join/scan
  * operators the plan guards assert on — the fast loop for diagnosing a
  * PlanShapeSpec failure without re-running the suite. Scan counts come
  * from plan traversal (`CatalystBridge.realScanCounts`), as in the
  * guards.
  */
object PlanProbe {
  def main(args: Array[String]): Unit = {
    val q = args(0)
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.001"
    val spark = GraftSession.local(8)
    try {
      val df = SparkEntry.queries(q)(spark, dir)
      val p = df.queryExecution.executedPlan.toString
      val (scans, imr) =
        org.apache.spark.sql.graft.CatalystBridge.realScanCounts(df)
      println(s"BNLJ=${"BroadcastNestedLoopJoin".r.findAllIn(p).size} " +
        s"IMR=$imr SCANS=$scans " +
        s"CART=${"CartesianProduct".r.findAllIn(p).size}")
      println(p)
    } finally spark.stop()
  }
}
