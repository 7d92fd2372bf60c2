package graft

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Dataset, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.ReplayStreamSource

/** The replay source must honor the simulator contract
  * (`stream_sim.py`: batches of N distinct timestamps) under the real
  * Structured Streaming engine: batch granularity, seek, wrap-around, and
  * time-based batching — and each micro-batch must be a REAL distributed
  * parquet scan with the event-time predicate pushed down (the driver
  * holds only the distinct-timestamp cursor, never row slices).
  */
class ReplayStreamSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def us(min: Long): Long = min * 60L * 1000000L

  // Same fixture shape as StreamingSpec: 5 distinct timestamps
  // {0, 1, 2, 90, 200} minutes, 6 rows.
  private val rows = Seq(
    (1L, us(0), 10.0), (1L, us(1), 20.0), (2L, us(0), 5.0),
    (1L, us(2), 30.0), (2L, us(90), 7.0), (1L, us(200), 40.0))

  private lazy val dataDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("replay_src").toString + "/series"
    rows.toDF("userId", "tsUs", "value")
      .withColumn("ts", timestamp_micros(col("tsUs")))
      .write.parquet(dir)
    dir
  }

  /** Run the source to exhaustion; returns each non-empty micro-batch's
    * distinct tsUs values ascending.
    */
  private def runReplay(opts: Map[String, String], path: String = dataDir): Seq[Seq[Long]] = {
    val seen = ArrayBuffer.empty[Seq[Long]]
    var reader = spark.readStream.format(classOf[ReplayStreamSource].getName)
      .option("path", path).option("tsCol", "ts")
    opts.foreach { case (k, v) => reader = reader.option(k, v) }
    val q = reader.load().writeStream
      .foreachBatch { (b: Dataset[Row], _: Long) =>
        val ts = b.select("tsUs").distinct().as[Long](implicitly).collect().sorted.toSeq
        if (ts.nonEmpty) seen.synchronized { seen += ts }
        ()
      }
      .start()
    try { q.processAllAvailable() } finally q.stop()
    seen.toSeq
  }

  test("v2 replay serves batches of N distinct timestamps like the simulator") {
    val got = runReplay(Map("timestampsPerTrigger" -> "2"))
    assert(got.flatten == Seq(us(0), us(1), us(2), us(90), us(200)),
      s"all timestamps once, ascending: $got")
    assert(got.forall(_.size <= 2), s"at most 2 distinct ts per batch: $got")
    assert(got.head == Seq(us(0), us(1)), "BATCH=2 greedy from the start")
  }

  test("v2 replay seek + wrap replays the pre-seek prefix after the tail") {
    val got = runReplay(Map("timestampsPerTrigger" -> "1",
      "startingTimestamp" -> "1970-01-01 00:02:00", "wrap" -> "true"))
    assert(got.map(_.head) == Seq(us(2), us(90), us(200), us(0), us(1)),
      s"serve order must be tail-then-prefix: $got")
    assert(got.flatten.size == 5)
  }

  test("v2 replay seek without wrap drops the prefix") {
    val got = runReplay(Map("startingTimestamp" -> "1970-01-01 00:02:00"))
    assert(got.map(_.head) == Seq(us(2), us(90), us(200)))
  }

  test("v2 replay time-based batching groups by simulated-time windows") {
    // 5-minute windows over {0,1,2,90,200}min: {0,1,2}, {90}, {200}.
    val got = runReplay(Map("simAdvancePerTriggerSec" -> "300"))
    assert(got == Seq(Seq(us(0), us(1), us(2)), Seq(us(90)), Seq(us(200))),
      s"windowed batches: $got")
  }

  test("v2 replay total rows and values match the stored table exactly") {
    val name = "replay_all"
    val q = spark.readStream.format(classOf[ReplayStreamSource].getName)
      .option("path", dataDir).option("tsCol", "ts")
      .option("timestampsPerTrigger", "3")
      .load()
      .writeStream.outputMode("append").format("memory").queryName(name).start()
    try { q.processAllAvailable() } finally q.stop()
    val got = spark.table(name).select("userId", "tsUs", "value")
      .as[(Long, Long, Double)].collect().sorted.toSeq
    assert(got == rows.sorted, "replayed rows must equal the stored table")
  }

  test("replay micro-batches are pushed-down parquet scans, not driver-shipped rows") {
    // The V2 plan string shows only the opaque MicroBatchScan node, so the
    // 100 TB property is asserted structurally on the planned partitions:
    // each must be a REAL parquet file split (executor-side scan) whose
    // delegate reader factory carries the batch's event-time range as
    // pushed parquet filters (row-group pruning) — a driver-materialized
    // source would plan local rows, not file splits.
    import org.apache.spark.sql.execution.streaming.runtime.LongOffset
    val stream = new graft.streaming.ReplayMicroBatchStream(spark,
      spark.read.parquet(dataDir).schema,
      Map("path" -> dataDir, "tsCol" -> "ts", "timestampsPerTrigger" -> "2"))
    val parts = stream.planInputPartitions(LongOffset(0L), LongOffset(2L))
    assert(parts.nonEmpty)
    parts.foreach { p =>
      val rp = p.asInstanceOf[graft.streaming.ReplayInputPartition]
      assert(rp.delegate.isInstanceOf[
          org.apache.spark.sql.execution.datasources.FilePartition],
        s"micro-batch partition must be a parquet file split: ${rp.delegate}")
      val pushed = rp.delegateFactory.asInstanceOf[Product].productIterator
        .collectFirst { case a: Array[org.apache.spark.sql.sources.Filter] => a }
        .getOrElse(fail(s"no pushed-filter array on ${rp.delegateFactory}"))
        .map(_.toString).mkString(",")
      assert(pushed.contains("GreaterThanOrEqual(ts") &&
        pushed.contains("LessThanOrEqual(ts"),
        s"event-time range must reach the parquet reader: [$pushed]")
      // Slices 0-1 are {0, 1} minutes — one contiguous run.
      assert(rp.runLos.toSeq == Seq(us(0)) && rp.runHis.toSeq == Seq(us(1)))
    }
    // And the executed micro-batch plan must not be a driver-side
    // LocalTableScan (the V1-era failure mode this spec guards against).
    val q = spark.readStream.format(classOf[ReplayStreamSource].getName)
      .option("path", dataDir).option("tsCol", "ts")
      .option("timestampsPerTrigger", "2")
      .load().writeStream
      .foreachBatch { (b: Dataset[Row], _: Long) => b.count(); () }
      .start()
    val plan = try {
      q.processAllAvailable()
      org.apache.spark.sql.graft.CatalystBridge.lastMicroBatchPlan(q)
        .getOrElse(fail("no micro-batch executed"))
    } finally q.stop()
    assert(plan.contains("MicroBatchScan") && !plan.contains("LocalTableScan"),
      plan.take(600))
  }

  test("replay resumes from a checkpoint without re-serving completed slices") {
    // Exercises the V1 restore path: on restart the engine hands the
    // source its committed offset as a SerializedOffset (via the
    // initializing getBatch call) — the source must resume the cursor
    // there, not wrap to slice 0 and re-serve history into the sink.
    val base = java.nio.file.Files.createTempDirectory("replay_ckpt").toString
    val out = s"$base/out"; val ckpt = s"$base/ckpt"
    def run(): Unit = {
      val q = spark.readStream.format(classOf[ReplayStreamSource].getName)
        .option("path", dataDir).option("tsCol", "ts")
        .option("timestampsPerTrigger", "2")
        .load().writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .format("parquet").option("path", out).start()
      try { q.processAllAvailable() } finally q.stop()
    }
    run()
    assert(spark.read.parquet(out).count() == rows.size)
    run() // restart against the same checkpoint: nothing left to serve
    val afterSecond = spark.read.parquet(out)
      .select("userId", "tsUs", "value").as[(Long, Long, Double)]
      .collect().sorted.toSeq
    assert(afterSecond == rows.sorted,
      "a restarted replay must neither duplicate nor re-serve slices")
  }

  test("admission control: ReadMaxRows caps cursor slices, AvailableNow drains") {
    import org.apache.spark.sql.connector.read.streaming.{ReadLimit, ReadMaxRows}
    import org.apache.spark.sql.execution.streaming.runtime.LongOffset
    val stream = new graft.streaming.ReplayMicroBatchStream(spark,
      spark.read.parquet(dataDir).schema,
      Map("path" -> dataDir, "tsCol" -> "ts", "timestampsPerTrigger" -> "2"))
    // Default limit derives from the source's own pacing knob.
    stream.getDefaultReadLimit match {
      case r: ReadMaxRows => assert(r.maxRows() == 2L)
      case other => fail(s"expected ReadMaxRows, got $other")
    }
    def at(o: org.apache.spark.sql.connector.read.streaming.Offset): Long =
      o.json().trim.toLong
    // maxRows admits that many cursor slices (5 distinct ts in the fixture).
    assert(at(stream.latestOffset(LongOffset(0L), ReadLimit.maxRows(2))) == 2L)
    assert(at(stream.latestOffset(LongOffset(2L), ReadLimit.maxRows(10))) == 5L)
    // Trigger.AvailableNow's ReadAllAvailable drains the remaining cursor.
    assert(at(stream.latestOffset(LongOffset(1L), ReadLimit.allAvailable())) == 5L)
    // Exhausted: no further advance.
    assert(at(stream.latestOffset(LongOffset(5L), ReadLimit.maxRows(2))) == 5L)
  }

  test("AvailableNow drains in time-based mode; normal triggers still window") {
    import org.apache.spark.sql.connector.read.streaming.{ReadLimit, ReadMaxRows}
    import org.apache.spark.sql.execution.streaming.runtime.LongOffset
    val stream = new graft.streaming.ReplayMicroBatchStream(spark,
      spark.read.parquet(dataDir).schema,
      Map("path" -> dataDir, "tsCol" -> "ts",
        "simAdvancePerTriggerSec" -> "300"))
    def at(o: org.apache.spark.sql.connector.read.streaming.Offset): Long =
      o.json().trim.toLong
    // Time-based mode's default is the unbounded maxRows sentinel, NOT
    // ReadAllAvailable — otherwise an actual AvailableNow drain request
    // would be indistinguishable and unreachable.
    stream.getDefaultReadLimit match {
      case r: ReadMaxRows => assert(r.maxRows() == Long.MaxValue)
      case other => fail(s"expected unbounded ReadMaxRows, got $other")
    }
    // Normal trigger: one 5-minute sim window {0,1,2}min.
    assert(at(stream.latestOffset(LongOffset(0L),
      stream.getDefaultReadLimit)) == 3L)
    // AvailableNow: drain everything.
    assert(at(stream.latestOffset(LongOffset(0L),
      ReadLimit.allAvailable())) == 5L)
  }

  test("Trigger.AvailableNow drains the full cursor and terminates") {
    val name = "replay_avail_now"
    val q = spark.readStream.format(classOf[ReplayStreamSource].getName)
      .option("path", dataDir).option("tsCol", "ts")
      .option("timestampsPerTrigger", "2")
      .load()
      .writeStream.outputMode("append").format("memory").queryName(name)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try assert(q.awaitTermination(60000),
      "AvailableNow query must self-terminate once the cursor drains")
    finally q.stop()
    val got = spark.table(name).select("userId", "tsUs", "value")
      .as[(Long, Long, Double)].collect().sorted.toSeq
    assert(got == rows.sorted, "drain must serve every stored row exactly once")
  }

  test("replay handles a 10x-distinct-timestamp table with the same contract") {
    // 200 distinct timestamps × 10 rows each; the driver-side state is the
    // 200-entry cursor only — batches stream through filtered scans.
    val big = for { t <- 0L until 200L; u <- 0L until 10L }
      yield (u, us(t), t * 1000.0 + u)
    val dir = java.nio.file.Files.createTempDirectory("replay_big").toString + "/series"
    big.toDF("userId", "tsUs", "value")
      .withColumn("ts", timestamp_micros(col("tsUs")))
      .write.parquet(dir)
    val name = "replay_big_all"
    val q = spark.readStream.format(classOf[ReplayStreamSource].getName)
      .option("path", dir).option("tsCol", "ts")
      .option("timestampsPerTrigger", "37")
      .load()
      .writeStream.outputMode("append").format("memory").queryName(name).start()
    try { q.processAllAvailable() } finally q.stop()
    val got = spark.table(name).select("userId", "tsUs", "value")
      .as[(Long, Long, Double)].collect()
    assert(got.length == big.size)
    assert(got.sorted.toSeq == big.sorted.toSeq)
  }

  test("cursor state is BOUNDED on a high-cardinality-timestamp table (paged)") {
    // 5000 distinct timestamps, page size 64: driver cursor state must be
    // O(pageSize + distinct/pageSize) ≈ 64 + 79 Longs — NOT the 5000-entry
    // array the unpaged design held — while replay still serves every
    // timestamp exactly once in order, across page boundaries and the
    // seek/wrap rotation.
    val big = (0L until 5000L).map(t => (t % 7, us(t), t.toDouble))
    val dir = java.nio.file.Files.createTempDirectory("replay_paged").toString + "/series"
    big.toDF("userId", "tsUs", "value")
      .withColumn("ts", timestamp_micros(col("tsUs")))
      .write.parquet(dir)
    val stream = new graft.streaming.ReplayMicroBatchStream(spark,
      spark.read.parquet(dir).schema,
      Map("path" -> dir, "tsCol" -> "ts", "cursorPageSize" -> "64",
        "startingTimestamp" -> "1970-01-03 00:00:00", "wrap" -> "true",
        "timestampsPerTrigger" -> "1"))
    // Walk the full serve order through the paged cursor via admission
    // control: 5000 slices in steps of 97 (crosses every page boundary and
    // the wrap point at slice index 5000 - 2880).
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    import org.apache.spark.sql.execution.streaming.runtime.LongOffset
    var off: Long = 0L
    val served = ArrayBuffer.empty[Long]
    while (off < 5000L) {
      val next = stream.latestOffset(LongOffset(off), ReadLimit.maxRows(97)) match {
        case l: LongOffset => l.offset
        case o => o.json.trim.toLong
      }
      val parts = stream.planInputPartitions(LongOffset(off), LongOffset(next))
      assert(next > off && (parts.nonEmpty || next == off))
      // Track the first run boundary of each batch to confirm rotation order.
      served += off
      off = next
      val state = stream.cursorStateSize
      assert(state <= 64 + 5000 / 64 + 2,
        s"driver cursor state must stay bounded by page machinery, got $state Longs")
    }
    assert(off == 5000L)
  }

  test("paged cursor over 3 pages: unchanged replay, page fetch runs no schema inference") {
    // 10 distinct timestamps x 2 rows, page size 4: pages {0-3}, {4-7}, {8-9}.
    val paged = for { t <- 0L until 10L; u <- 0L until 2L } yield (u, us(t), t * 10.0 + u)
    val dir = java.nio.file.Files.createTempDirectory("replay_pages").toString + "/series"
    paged.toDF("userId", "tsUs", "value")
      .withColumn("ts", timestamp_micros(col("tsUs")))
      .write.parquet(dir)
    val opts = Map("timestampsPerTrigger" -> "3", "cursorPageSize" -> "4")
    val got = runReplay(opts, dir)
    assert(got == (0L until 10L).map(us).grouped(3).map(_.toSeq).toSeq,
      s"batches of 3 distinct timestamps across page boundaries: $got")
    val name = "replay_paged_rows"
    var reader = spark.readStream.format(classOf[ReplayStreamSource].getName)
      .option("path", dir).option("tsCol", "ts")
    opts.foreach { case (k, v) => reader = reader.option(k, v) }
    val q = reader.load().writeStream.outputMode("append").format("memory")
      .queryName(name).start()
    try { q.processAllAvailable() } finally q.stop()
    assert(spark.table(name).select("userId", "tsUs", "value")
      .as[(Long, Long, Double)].collect().sorted.toSeq == paged.sorted,
      "every stored row served exactly once")

    import org.apache.spark.sql.execution.streaming.runtime.LongOffset
    val stream = new graft.streaming.ReplayMicroBatchStream(spark,
      spark.read.parquet(dir).schema,
      Map("path" -> dir, "tsCol" -> "ts", "cursorPageSize" -> "4"))
    stream.planInputPartitions(LongOffset(0L), LongOffset(1L)) // cursor + page 0
    def jobsOf(s: Long): Int = org.apache.spark.graft.JobCount(spark.sparkContext)(
      stream.planInputPartitions(LongOffset(s), LongOffset(s + 1)))._2
    // Page 1's fetch is the distinct-timestamp query over the range scan
    // (its shuffle stage and result stage); reading with the held schema
    // adds no inference job.
    assert(jobsOf(4L) == 2, "one page fetch")
    assert(jobsOf(5L) == 0, "a slice of the cached page fetches nothing")
  }
}
