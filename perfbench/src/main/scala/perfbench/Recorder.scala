package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Wall clock in epoch microseconds with `nanoTime` resolution, so the
  * benchmark's spans line up with the epoch-millisecond times Spark's
  * listener events carry.
  */
object Clock {
  private val baseUs = System.currentTimeMillis() * 1000L
  private val baseNs = System.nanoTime()
  def nowUs: Long = baseUs + (System.nanoTime() - baseNs) / 1000L
}

/** One layer-boundary interval recorded by the benchmark. `rid` is the
  * request id (query, job or batch) all spans of one operation share.
  */
final case class Span(id: Int, parent: Int, name: String, rid: String,
                      startUs: Long, endUs: Long)

/** In-memory span recorder. Spans nest by call order; only one thread
  * records at a time (the client thread, or the stream thread while the
  * client waits on it), so a single stack is enough. Disabled, it runs the
  * body and records nothing.
  */
final class Spans(val enabled: Boolean) {
  private val done = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var next = 0

  def apply[T](name: String, rid: String)(body: => T): T =
    if (!enabled) body
    else {
      val (id, parent) = synchronized {
        next += 1
        val p = stack.headOption.getOrElse(0)
        stack = next :: stack
        (next, p)
      }
      val s = Clock.nowUs
      try body
      finally synchronized {
        stack = stack.tail
        done += Span(id, parent, name, rid, s, Clock.nowUs)
      }
    }

  def all: Seq[Span] = synchronized(done.toSeq)
}

/** Spark work as the listener bus reports it: jobs (with the job group
  * the benchmark set), their stages, every finished task's metrics, and
  * the RDD blocks stored (caches and local checkpoints).
  */
final class SparkWork extends SparkListener {
  val jobs = ArrayBuffer.empty[Map[String, Any]]
  val tasks = ArrayBuffer.empty[Map[String, Any]]
  val stageJob = scala.collection.mutable.Map.empty[Int, Int]
  val rddBlocks = ArrayBuffer.empty[Map[String, Any]]
  private val jobStart = scala.collection.mutable.Map.empty[Int, (Long, String)]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobStart(e.jobId) = (e.time, group)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    val (start, group) = jobStart.remove(e.jobId).getOrElse((e.time, ""))
    jobs += Map("job" -> e.jobId, "group" -> group, "start_ms" -> start,
      "end_ms" -> e.time, "ok" -> (e.jobResult == JobSucceeded))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val i = e.taskInfo
    val m = Option(e.taskMetrics)
    def g(f: org.apache.spark.executor.TaskMetrics => Long): Long = m.map(f).getOrElse(0L)
    tasks += Map("stage" -> e.stageId, "job" -> stageJob.getOrElse(e.stageId, -1),
      "start_ms" -> i.launchTime, "end_ms" -> i.finishTime,
      "run_ms" -> g(_.executorRunTime), "cpu_ns" -> g(_.executorCpuTime),
      "gc_ms" -> g(_.jvmGCTime), "in_bytes" -> g(_.inputMetrics.bytesRead),
      "in_rows" -> g(_.inputMetrics.recordsRead),
      "sh_read" -> g(t => t.shuffleReadMetrics.remoteBytesRead +
        t.shuffleReadMetrics.localBytesRead),
      "sh_write" -> g(_.shuffleWriteMetrics.bytesWritten),
      "spill" -> g(t => t.diskBytesSpilled + t.memoryBytesSpilled),
      "out_bytes" -> g(_.outputMetrics.bytesWritten),
      "out_rows" -> g(_.outputMetrics.recordsWritten))
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val b = e.blockUpdatedInfo
    if (b.storageLevel.isValid) b.blockId.asRDDId.foreach { r =>
      synchronized(rddBlocks += Map("rdd" -> r.rddId, "t_ms" -> System.currentTimeMillis()))
    }
  }

  def snapshot: Map[String, Any] = synchronized(Map(
    "jobs" -> jobs.toList, "tasks" -> tasks.toList, "rdd_blocks" -> rddBlocks.toList))
}

/** Per-trigger progress of streaming queries: trigger start, phase
  * durations (`durationMs`) and input rows.
  */
final class StreamProgress extends StreamingQueryListener {
  val batches = ArrayBuffer.empty[Map[String, Any]]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    synchronized(batches += StreamProgress.record(e.progress))
}

object StreamProgress {
  def record(p: org.apache.spark.sql.streaming.StreamingQueryProgress): Map[String, Any] = {
    import scala.jdk.CollectionConverters._
    Map("run" -> p.runId.toString, "batch" -> p.batchId, "start_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
      "rows" -> p.numInputRows,
      "duration_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)
  }
}
