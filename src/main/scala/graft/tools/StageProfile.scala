package graft.tools

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import graft.{GraftSession, SparkEntry}

/** Empirical profiler (guide §1.1 with spark.ui.enabled=false): run one
  * query warm, then measured, and print per-stage wall/task-time/shuffle
  * bytes sorted by duration — the "which stage is slow" answer the Spark
  * UI would give. Each run writes every column of the result to Spark's
  * `noop` sink, as `Verify` writes every column: a `count()` would prune
  * columns and profile other stages than the ones that run. The TOTAL
  * line also counts the generated classes the measured run compiled and
  * their compile time: a warm run should compile none, so a non-zero
  * count says the query paid for codegen again.
  *
  * `runMain graft.tools.StageProfile <query> [sfDir] [cpus]`
  */
object StageProfile {
  def main(args: Array[String]): Unit = {
    val q = args(0)
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val cpus = if (args.length > 2) args(2).toInt else 32
    val spark = GraftSession.configure(
      org.apache.spark.sql.SparkSession.builder().master(s"local[$cpus]"),
      shufflePartitions = cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val fn = SparkEntry.queries(q)

    def once(): Unit =
      fn(spark, dir).write.format("noop").mode("overwrite").save()
    once() // warm: codegen + JIT + footers
    graft.ops.OpCaches.releaseAll(blocking = true)
    spark.catalog.clearCache()
    System.gc()

    case class Row(id: Int, name: String, ms: Long, taskMs: Long,
                   shufRead: Long, shufWrite: Long, outRows: Long)
    val rows = scala.collection.mutable.ArrayBuffer[Row]()
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val i = e.stageInfo
        val ms = (for (a <- i.completionTime; b <- i.submissionTime)
          yield a - b).getOrElse(-1L)
        val m = i.taskMetrics
        rows += Row(i.stageId, i.name.takeWhile(_ != '\n'), ms,
          m.executorRunTime, m.shuffleReadMetrics.totalBytesRead,
          m.shuffleWriteMetrics.bytesWritten, m.outputMetrics.recordsWritten)
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val compileNs0 = CodeGenerator.compileTime
    val t0 = System.nanoTime()
    once()
    val wall = (System.nanoTime() - t0) / 1e9
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
    val compileMs = (CodeGenerator.compileTime - compileNs0) / 1e6
    // Listener events arrive on an async bus: drain it before reading the
    // rows buffer, or the final stages' completions can be silently
    // dropped (r16 advice). waitUntilEmpty is what Spark's own tests use.
    try org.apache.spark.sql.graft.CatalystBridge.drainListenerBus(
      spark.sparkContext, 10000)
    catch { case _: Throwable => Thread.sleep(1000) }
    spark.sparkContext.removeSparkListener(listener)
    println(f"TOTAL $q wall=$wall%.3f s, stages=${rows.size}, " +
      f"sum(stage wall)=${rows.map(_.ms).sum / 1e3}%.3f s, " +
      f"codegen compiles=$compiles ($compileMs%.0f ms)")
    rows.sortBy(-_.ms).take(40).foreach { r =>
      println(f"${r.ms}%6d ms  task=${r.taskMs}%7d ms  " +
        f"shufR=${r.shufRead}%9d shufW=${r.shufWrite}%9d  [${r.id}%3d] ${r.name.take(110)}")
    }
    spark.stop()
  }
}
