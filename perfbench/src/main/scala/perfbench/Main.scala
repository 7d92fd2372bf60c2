package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.{GraftSession, SparkEntry}
import graft.model.{AllUsers, ByAttributes, QuerySpec}
import graft.ops.{CohortFilter, OpCaches}
import graft.query.QueryEngine
import graft.sources.{TableStore, Tables}
import graft.streaming.{BundleKpiSink, ReplayStreamSource, StreamAdmission}

/** Runs one workload of the benchmark from a plan file and writes what it
  * measured as JSON; `perfbench/run.py` writes the plan, turns the record
  * into metrics and checks the outputs.
  *
  * Usage: Main <plan.json>
  *
  * The plan names the workload, the generated input tables (`data`), a
  * scratch directory (`work`), the result directory (`out`), the request
  * order, how many seconds to measure and whether to trace. The process
  * warms the JVM up once (`warm_up_s`, counted from JVM start), then sets
  * up `setups` times on a fresh session each and records each set-up
  * time. It measures untraced and, when tracing, once more with spans and
  * Spark listeners attached and then untraced again: the traced phase is
  * compared with the untraced ones on either side of it, so the JVM's
  * warming during the run does not count as tracing overhead.
  */
object Main {
  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(args: Array[String]): Unit = {
    val plan = json.readTree(new File(args(0)))
    val out = plan.get("out").asText
    Files.createDirectories(Paths.get(out))
    val workload: Workload = plan.get("workload").asText match {
      case "analytics" => new Queries(plan)
      case "stream" => new Stream(plan)
      case w => throw new IllegalArgumentException(s"unknown workload '$w'")
    }
    val jvmStartUs =
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime * 1000L
    var spark = session(plan, 0)
    workload.warmUp(spark)
    val warmUpS = (Clock.nowUs - jvmStartUs) / 1e6
    val setups = ArrayBuffer.empty[Double]
    for (i <- 1 to plan.get("setups").asInt) {
      OpCaches.releaseAll(blocking = true)
      spark.stop()
      val t0 = Clock.nowUs
      spark = session(plan, i)
      workload.setUp(spark, i)
      setups += (Clock.nowUs - t0) / 1e6
    }
    val seconds = plan.get("seconds").asDouble
    val phases = ArrayBuffer.empty[Map[String, Any]]
    phases += workload.measure(spark, seconds, new Spans(false), None)
    if (plan.get("trace").asBoolean) {
      val work = new SparkWork
      val progress = new StreamProgress
      spark.sparkContext.addSparkListener(work)
      spark.streams.addListener(progress)
      val spans = new Spans(true)
      val traced = workload.measure(spark, seconds, spans, Some(progress))
      org.apache.spark.PerfbenchBridge.drainListeners(spark.sparkContext)
      phases += traced ++ Map("spans" -> spans.all.map(s => Map("id" -> s.id,
        "parent" -> s.parent, "name" -> s.name, "rid" -> s.rid,
        "start_us" -> s.startUs, "end_us" -> s.endUs))) ++ work.snapshot
      spark.sparkContext.removeSparkListener(work)
      spark.streams.removeListener(progress)
      phases += workload.measure(spark, seconds, new Spans(false), None)
    }
    val checks = workload.check(spark, out)
    Files.writeString(Paths.get(out, "result.json"), json.writeValueAsString(Map(
      "warm_up_s" -> warmUpS, "setup_s" -> setups.toList, "phases" -> phases.toList, "checks" -> checks)))
    OpCaches.releaseAll(blocking = true)
    spark.stop()
  }

  /** A `local[cores]` session with the engine's own configuration and every
    * directory it writes (warehouse, local dirs) under the run's scratch
    * directory.
    */
  private def session(plan: JsonNode, i: Int): SparkSession = {
    val cores = plan.get("cores").asInt
    val work = s"${plan.get("work").asText}/session$i"
    val b = SparkSession.builder().master(s"local[$cores]").appName("perfbench")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/local")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
    val spark = GraftSession.configure(b, shufflePartitions = math.max(cores, 4))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Runs `body` with a job group naming the operation, so the listener can
    * tie each Spark job to the span that issued it; the caller's job group
    * (a streaming query's own, inside `foreachBatch`) is restored after.
    */
  def withGroup[T](spark: SparkSession, id: String)(body: => T): T = {
    val sc = spark.sparkContext
    val keys = Seq("spark.jobGroup.id", "spark.job.description",
      "spark.job.interruptOnCancel")
    val saved = keys.map(k => k -> sc.getLocalProperty(k))
    sc.setJobGroup(id, id)
    try body finally saved.foreach { case (k, v) => sc.setLocalProperty(k, v) }
  }

  def strings(n: JsonNode): Seq[String] = n.elements.asScala.map(_.asText).toSeq

  def error(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}"
}

trait Workload {
  /** Runs operations once on the inputs, untimed, so the JIT and the
    * code-generation cache are warmer before anything is timed.
    */
  def warmUp(spark: SparkSession): Unit
  /** Preparation for the `i`-th set-up, on a fresh session; none by default. */
  def setUp(spark: SparkSession, i: Int): Unit = ()
  /** One measured phase of about `seconds` seconds. */
  def measure(spark: SparkSession, seconds: Double, spans: Spans,
              progress: Option[StreamProgress]): Map[String, Any]
  /** Untimed output checks after every phase has run. */
  def check(spark: SparkSession, out: String): Map[String, Any]
}

/** `analytics`: closed-loop requests from one client, each a
  * `SparkEntry.queries` function (a dashboard query or a curation job)
  * called on the input directory and its result collected. Passes of
  * requests run until the phase has lasted `seconds`; every started pass
  * is completed. The warm-up runs the plan's `warmup` queries once; the
  * workload has no preparation of its own, so it takes no set-ups.
  */
final class Queries(plan: JsonNode) extends Workload {
  private val data = plan.get("data").asText
  private val passes = plan.get("passes").elements.asScala.map(Main.strings).toSeq
  private val names = passes.flatten.distinct
  private val fns = names.map(n => n -> SparkEntry.queries.getOrElse(n,
    throw new IllegalArgumentException(s"unknown query '$n'"))).toMap
  /** First successful result of each query: schema and rows, for the check. */
  private val firsts = scala.collection.mutable.Map.empty[String, (StructType, Array[Row])]
  private var phase = 0

  def warmUp(spark: SparkSession): Unit =
    Main.strings(plan.get("warmup")).foreach { n =>
      try fns(n)(spark, data).collect() catch { case _: Throwable => () }
      release(spark)
    }

  private def release(spark: SparkSession): Unit = {
    OpCaches.releaseAll(blocking = true)
    spark.catalog.clearCache()
  }

  def measure(spark: SparkSession, seconds: Double, spans: Spans,
              progress: Option[StreamProgress]): Map[String, Any] = {
    phase += 1
    val ops = ArrayBuffer.empty[Map[String, Any]]
    val units = ArrayBuffer.empty[Map[String, Any]]
    val t0 = Clock.nowUs
    val it = passes.iterator
    while (it.hasNext && (units.isEmpty || Clock.nowUs - t0 < seconds * 1e6)) {
      val pass = it.next()
      val p0 = Clock.nowUs
      pass.foreach(n => ops += request(spark, s"p$phase-${ops.size}-$n", n, spans))
      units += Map("start_us" -> p0, "end_us" -> Clock.nowUs, "ops" -> pass.size)
    }
    Map("ops" -> ops.toList, "units" -> units.toList)
  }

  /** One timed request: build (the SparkEntry call) then collect. The
    * digest of the rows is taken after the clock stops; caches the query
    * registered are released between requests, untimed.
    */
  private def request(spark: SparkSession, rid: String, name: String,
                      spans: Spans): Map[String, Any] = {
    val start = Clock.nowUs
    var built = start
    val res = try {
      val rows = Main.withGroup(spark, rid) {
        spans("request", rid) {
          val df = spans("queries.build", rid)(fns(name)(spark, data))
          built = Clock.nowUs
          spans("action", rid)((df.schema, df.collect()))
        }
      }
      Right(rows)
    } catch { case e: Throwable => Left(Main.error(e)) }
    val end = Clock.nowUs
    release(spark)
    val base = Map("rid" -> rid, "name" -> name, "start_us" -> start,
      "built_us" -> built, "end_us" -> end)
    res match {
      case Right((schema, rows)) =>
        if (!firsts.contains(name)) firsts(name) = (schema, rows)
        base ++ Map("ok" -> true, "rows" -> rows.length, "digest" -> Queries.digest(rows))
      case Left(err) => base ++ Map("ok" -> false, "error" -> err)
    }
  }

  /** Writes each query's first result as parquet beside its oracle SQL;
    * the comparison itself runs in DuckDB afterwards.
    */
  def check(spark: SparkSession, out: String): Map[String, Any] = {
    val results = firsts.toSeq.map { case (name, (schema, rows)) =>
      val path = s"$out/results/$name"
      spark.createDataFrame(rows.toList.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(path)
      name -> Map("path" -> path, "digest" -> Queries.digest(rows),
        "oracle" -> SparkEntry.oracleSql.get(name).orNull)
    }
    Map("queries" -> results.toMap)
  }
}

object Queries {
  /** Order-independent digest of a result, to tell whether two runs of one
    * query returned the same rows.
    */
  def digest(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.map(_.toString).sorted.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }
}

/** `stream`: one replay query over the events table, back-to-back
  * micro-batches (the replay source paces itself) until the table has
  * been replayed once, from a seeded start timestamp with wrap-around.
  * Each batch updates the KPI sink, evaluates the admission datacard
  * against the whole table and appends the batch to a date-partitioned,
  * user-bucketed store. The first `skip` batches of a drain are its
  * warm-up: the first builds the source's cursor and compiles the batch
  * pipeline, and the JVM keeps speeding up over the next ones.
  */
final class Stream(plan: JsonNode) extends Workload {
  private val work = plan.get("work").asText
  private val start = plan.get("start").asText
  private val perTrigger = plan.get("per_trigger").asInt
  private val skip = plan.get("skip").asInt
  private val buckets = plan.get("buckets").asInt
  /** Whole-table spec: the stream's KPIs must equal the batch engine's. */
  private val spec = QuerySpec(
    subjectSelection = ByAttributes(Seq(
      CohortFilter.NumericRange("c_acctbal", 1000.0, 9000.0),
      CohortFilter.CategoricalIn("c_mktsegment", Seq("BUILDING", "MACHINERY")))),
    controlSelection = AllUsers, startDate = "2000-01-01", endDate = "2100-01-01")
  private var raw = ""
  private var reference: DataFrame = _
  private var subjectIds: Seq[Long] = Nil
  private var controlIds: Seq[Long] = Nil
  private var eventCount = 0L
  private var runs = 0
  private val outcomes = ArrayBuffer.empty[(String, BundleKpiSink)]

  private def derive(df: DataFrame): DataFrame = df.select(
    concat(lit("s"), pmod(col("user_id"), lit(8))).as("source"),
    col("value"), col("event_type"),
    array(col("value"), pmod(col("event_id"), lit(7)).cast("double"),
      pmod(col("event_id"), lit(11)).cast("double"), lit(1.0)).as("vec"))

  private def ids(spark: SparkSession, dir: String, sel: Seq[CohortFilter.AttrFilter]) = {
    val subjects = Tables.customer(spark, dir).withColumnRenamed("c_custkey", "user_id")
    CohortFilter(subjects, sel).select(col("user_id")).collect().map(_.getLong(0)).toSeq
  }

  /** One untimed preparation: the first one pays for cold code paths. */
  def warmUp(spark: SparkSession): Unit = setUp(spark, 0)

  /** Prep: normalized parquet copy of the events, the cohorts' user ids
    * and the admission reference.
    */
  override def setUp(spark: SparkSession, i: Int): Unit = {
    val dir = plan.get("data").asText
    raw = s"$work/raw$i"
    Tables.events(spark, dir).write.parquet(raw)
    subjectIds = ids(spark, dir, spec.subjectSelection.filters())
    controlIds = ids(spark, dir, spec.controlSelection.filters())
    reference = derive(spark.read.parquet(raw))
    eventCount = spark.read.parquet(raw).count()
  }

  /** Drains the replay once; returns the sink, per-batch records and the
    * store table's name.
    */
  private def replay(spark: SparkSession, tag: String, spans: Spans)
      : (BundleKpiSink, Seq[Map[String, Any]], String, org.apache.spark.sql.streaming.StreamingQuery) = {
    val sink = new BundleKpiSink(col("user_id").isin(subjectIds: _*),
      col("user_id").isin(controlIds: _*), "value")
    val table = s"events_store_$tag"
    val batches = ArrayBuffer.empty[Map[String, Any]]
    val stream = spark.readStream
      .format(classOf[ReplayStreamSource].getName)
      .option("path", raw).option("tsCol", "ts")
      .option("timestampsPerTrigger", perTrigger.toString)
      .option("startingTimestamp", start).option("wrap", "true")
      .load()
    val q = stream.writeStream
      .option("checkpointLocation", s"$work/ckpt_$tag")
      .foreachBatch { (b: Dataset[Row], id: Long) =>
        val rid = s"$tag-b$id"
        val rec = try {
          spans("batch.body", rid) {
            spans("streaming.kpi_step", rid)(Main.withGroup(spark, s"$rid/kpi")(sink.step(b, id)))
            val report = spans("streaming.admission", rid)(Main.withGroup(spark, s"$rid/adm")(
              StreamAdmission.admissionDatacard(derive(b), reference, "source", "value",
                "event_type", "vec", col("value") > 5.0, minWilsonLo = 0.2, maxPsi = 1.0,
                maxKs = 0.5, maxJs = 0.4, minCentroidCos = 0.8, maxNormDelta = 0.3).collect()))
            spans("sources.append", rid)(Main.withGroup(spark, s"$rid/append")(
              TableStore.appendSeries(b.select("user_id", "ts", "value", "event_type"),
                table, "user_id", "ts", buckets)))
            // Replayed rows: the admission report counts every row per source.
            Map("batch" -> id, "ok" -> true, "report_rows" -> report.length,
              "rows" -> report.map(_.getAs[Number]("n").longValue).sum) ++
              (if (spans.enabled) Map("files_total" -> Stream.files(tableDir(spark, table)))
               else Map.empty)
          }
        } catch { case e: Throwable => Map("batch" -> id, "ok" -> false, "error" -> Main.error(e)) }
        batches += rec
        ()
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    OpCaches.releaseAll(blocking = true)
    (sink, batches.toSeq, table, q)
  }

  private def tableDir(spark: SparkSession, table: String): String =
    s"${spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")}/$table"

  def measure(spark: SparkSession, seconds: Double, spans: Spans,
              progress: Option[StreamProgress]): Map[String, Any] = {
    runs += 1
    val tag = s"run$runs"
    val t0 = Clock.nowUs
    val (sink, batches, table, q) = replay(spark, tag, spans)
    val t1 = Clock.nowUs
    outcomes += ((table, sink))
    val runId = q.runId.toString
    val trig = progress.map(p => p.synchronized(p.batches.toList).filter(_("run") == runId))
      .getOrElse(q.recentProgress.toList.map(StreamProgress.record))
    Map("start_us" -> t0, "end_us" -> t1, "batches" -> batches.toList, "progress" -> trig,
      "table" -> table, "skip" -> skip)
  }

  /** Row counts, the KPI equality with the batch engine, and the store. */
  def check(spark: SparkSession, out: String): Map[String, Any] = {
    val batchKpis = QueryEngine.run(spec,
      Tables.customer(spark, plan.get("data").asText).withColumnRenamed("c_custkey", "user_id"),
      Tables.events(spark, plan.get("data").asText), "user_id", "ts", "value").kpis
    // Unrounded: run.py compares them (metrics.kpis_match).
    def values(df: DataFrame): Map[String, Any] = {
      val r = df.head()
      df.columns.map(c => c -> r.getAs[Any](c)).toMap
    }
    val expected = values(batchKpis)
    val runsOut = outcomes.toList.map { case (table, sink) =>
      Map("kpis" -> values(sink.kpis(spark)), "store_rows" -> spark.table(table).count())
    }
    Map("events" -> eventCount, "expected_kpis" -> expected, "runs" -> runsOut)
  }
}

object Stream {
  /** Data files under a table directory so far (0 before the first write). */
  def files(dir: String): Long = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) 0L
    else {
      val walk = Files.walk(root)
      try walk.filter(p => Files.isRegularFile(p) && !p.getFileName.toString.startsWith("."))
        .filter(p => !p.getFileName.toString.startsWith("_")).count()
      finally walk.close()
    }
  }
}
