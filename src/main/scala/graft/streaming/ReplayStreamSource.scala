package graft.streaming

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, Expression, GreaterThanOrEqual, LessThanOrEqual, Literal, Or}
import org.apache.spark.sql.catalyst.util.CaseInsensitiveMap
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadAllAvailable, ReadLimit, ReadMaxRows, SupportsAdmissionControl}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.ParquetScanBridge
import org.apache.spark.sql.types.{DataType, LongType, StructType, TimestampNTZType, TimestampType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sources.Tables

/** Micro-batch REPLAY source — the reference simulator's contract
  * (`stream_sim.py:15-83`: serve batches of N distinct event timestamps,
  * seek via start_time, wrap-around at end of data) as a DataSourceV2
  * `MicroBatchStream`, so the seek/pace semantics run under the engine's
  * own offset tracking, checkpointing, trigger loop and admission control.
  *
  * Usage:
  * {{{
  * spark.readStream
  *   .format(classOf[ReplayStreamSource].getName)
  *   .option("path", "/data/series.parquet")   // required
  *   .option("tsCol", "ts")                    // event-time column
  *   .option("timestampsPerTrigger", "2")      // batch granularity (BATCH=N)
  *   .option("startingTimestamp", "1970-01-01 00:02:00") // seek (UTC)
  *   .option("wrap", "true")                   // replay pre-seek prefix last
  *   .option("simAdvancePerTriggerSec", "3600") // OR time-based batching
  *   .option("cursorPageSize", "8192")         // paged-cursor page size
  *   .load()
  * }}}
  *
  * Offsets are indices into the distinct-timestamp cursor (serve order), so
  * a restart from a checkpoint resumes at the exact replay position — in V2
  * the engine owns the restore entirely (`planInputPartitions` receives the
  * committed offset; no source-side restore state at all). TIME COMPRESSION
  * ("1 simulated hour per N wall seconds", reference `viz.py:583`) composes
  * from two knobs: simulated time per trigger here
  * (`simAdvancePerTriggerSec`), wall time per trigger via the query's
  * `Trigger.ProcessingTime` (`simAdvancePerTriggerSec / 3600` × the wall
  * seconds per simulated hour).
  * Admission control maps `ReadMaxRows` onto the cursor (max distinct
  * timestamps per batch — row counts per slice are executor-side knowledge)
  * and serves everything remaining under `Trigger.AvailableNow`'s
  * `ReadAllAvailable`.
  *
  * Scale: the driver holds ONLY the distinct-timestamp cursor (O(distinct
  * event times), independent of row count) plus the table's file listing.
  * Each micro-batch is planned by delegating to Spark's own V2 parquet
  * batch scan with the batch's event-time ranges pushed down
  * ([[ParquetScanBridge.parquetBatch]]): executors read their own file
  * splits with row-group pruning, and a thin [[ReplayReaderFactory]]
  * wrapper enforces the exact row-level range on top (parquet pushdown
  * prunes row groups; it does not promise row precision). Rows never touch
  * the driver — unlike the reference simulator, which loads all three
  * tables into memory.
  */
class ReplayStreamSource extends TableProvider {
  override def supportsExternalMetadata(): Boolean = true

  private def spark: SparkSession = SparkSession.active

  // Schema inference lists files and reads parquet footers on the driver
  // (a single-file table resolves once per session, [[Tables.read]]);
  // Spark calls inferSchema and then hands the result back to getTable on
  // the SAME provider instance, so the one inference is cached and
  // getTable resolves the table only when the user supplied an explicit
  // schema that bypassed inferSchema.
  @volatile private var inferredFor: Option[(String, StructType)] = None

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val opts = ReplayStreamSource.scalaOptions(options)
    val p = ReplayStreamSource.path(opts)
    val schema = Tables.read(spark, p).schema
    inferredFor = Some((p, schema))
    schema
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: java.util.Map[String, String]): Table = {
    val opts = ReplayStreamSource.scalaOptions(
      new CaseInsensitiveStringMap(properties))
    val p = ReplayStreamSource.path(opts)
    // The batch scans read the parquet table's own schema; silently
    // accepting a different user-supplied one would surface later as a
    // confusing batch-vs-source schema mismatch inside the stream engine.
    val inferred = inferredFor.collect { case (`p`, s) => s }
      .getOrElse(Tables.read(spark, p).schema)
    require(schema == inferred,
      s"replay source infers its schema from the parquet table ($inferred); " +
        "drop the explicit .schema(...) or make it identical")
    new ReplayTable(inferred, opts)
  }
}

object ReplayStreamSource {
  private[streaming] def path(options: Map[String, String]): String =
    options.getOrElse("path",
      throw new IllegalArgumentException("replay source requires a 'path' option"))

  private[streaming] def scalaOptions(m: CaseInsensitiveStringMap): Map[String, String] = {
    val b = Map.newBuilder[String, String]
    m.entrySet().forEach(e => b += (e.getKey -> e.getValue))
    CaseInsensitiveMap(b.result())
  }

  /** `yyyy-MM-dd HH:mm:ss[.SSS...]` interpreted in UTC (the engine's
    * session time zone, SURVEY §1.2) → epoch micros.
    */
  private[streaming] def parseMicros(s: String): Long = {
    val ldt = java.time.LocalDateTime.parse(s.trim.replace(' ', 'T'))
    ldt.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + ldt.getNano / 1000L
  }
}

/** V2 table: static parquet history, readable as a micro-batch stream. */
private[streaming] class ReplayTable(tableSchema: StructType,
                                     options: Map[String, String])
    extends Table with SupportsRead {
  override def name(): String = s"graft_replay(${ReplayStreamSource.path(options)})"
  override def schema(): StructType = tableSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(caseInsensitiveOptions: CaseInsensitiveStringMap): ScanBuilder =
    () => new Scan {
      override def readSchema(): StructType = tableSchema
      override def description(): String = name()
      override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
        new ReplayMicroBatchStream(SparkSession.active, tableSchema, options)
    }
}

/** The micro-batch stream behind [[ReplayStreamSource]]. Offset = number of
  * distinct-timestamp slices served (serve order, post-seek rotation).
  */
private[graft] class ReplayMicroBatchStream(spark: SparkSession,
                                                tableSchema: StructType,
                                                options: Map[String, String])
    extends MicroBatchStream with SupportsAdmissionControl {

  private val pathOpt = ReplayStreamSource.path(options)
  private val tsCol = options.getOrElse("tsCol", "ts")
  private val perTrigger = options.get("timestampsPerTrigger").map(_.toInt).getOrElse(1)
  private val simAdvanceUs =
    options.get("simAdvancePerTriggerSec").map(_.toDouble * 1e6).getOrElse(0.0)
  private val startingTs =
    options.get("startingTimestamp").map(ReplayStreamSource.parseMicros)
  private val wrap = options.get("wrap").exists(_.toBoolean)
  require(perTrigger > 0, "timestampsPerTrigger must be positive")

  private val tsField = tableSchema(
    tableSchema.fieldIndex(tsCol)) // throws with a clear message if absent
  tsField.dataType match {
    case TimestampType | TimestampNTZType | LongType => ()
    case t => throw new IllegalArgumentException(
      s"tsCol '$tsCol' must be a timestamp or epoch-long column, got $t")
  }
  private val tsOrdinal = tableSchema.fieldIndex(tsCol)

  /** PAGED cursor: driver-side state is O(pageSize + distinct/pageSize),
    * INDEPENDENT of the event-time domain — not the full distinct-timestamp
    * array the round-9 design collected (O(distinct) driver memory, the one
    * structural collect the round-9 audit flagged).
    *
    * Layout: [[pageFirstTs]] holds every pageSize-th distinct timestamp
    * (sorted order) from ONE distributed zipWithIndex pass at init; a
    * single page of timestamps is materialized at a time, fetched by a
    * range-pushed parquet scan over [boundary(p), boundary(p+1)) — row
    * groups outside the page prune away. Serve order (seek rotation,
    * stream_sim.py:60-61: post-seek suffix first, then the pre-seek prefix
    * when wrapping) is an INDEX mapping over sorted order, so paging and
    * rotation compose without materializing anything rotated.
    *
    * Access is effectively sequential (offsets advance monotonically), so
    * steady-state cost is one bounded page fetch per pageSize slices.
    */
  private val pageSize = options.get("cursorPageSize").map(_.toInt).getOrElse(8192)
  require(pageSize > 0, "cursorPageSize must be positive")

  // Driver-side reads of the table (cursor build, page fetches) use the
  // schema the source already holds: no inference job per read.
  private def history = spark.read.schema(tableSchema).parquet(pathOpt)

  private def distinctTs = history
    .filter(col(tsCol).isNotNull) // a null event time has no replay position
    .select(col(tsCol)).distinct()

  /** Event-time boundary literal as a Column in the ts column's own type
    * (comparisons stay pushdown-eligible; session TZ is UTC so the NTZ
    * cast is micros-exact).
    */
  private def tsBound(us: Long) = tsField.dataType match {
    case LongType => org.apache.spark.sql.functions.lit(us)
    case TimestampNTZType =>
      org.apache.spark.sql.functions.timestamp_micros(
        org.apache.spark.sql.functions.lit(us)).cast(TimestampNTZType)
    case _ => org.apache.spark.sql.functions.timestamp_micros(
      org.apache.spark.sql.functions.lit(us))
  }

  /** (page boundaries, distinct count): one sorted distributed pass;
    * extracting the long before zipWithIndex avoids InternalRow reuse.
    */
  private lazy val (pageFirstTs: Array[Long], distinctCount: Long) = {
    val ps = pageSize // local copy: RDD closures must not capture `this`
    val indexed = distinctTs.orderBy(col(tsCol))
      .queryExecution.toRdd.map(_.getLong(0)).zipWithIndex()
    val bounds = indexed.filter(_._2 % ps == 0).map(_._1).collect()
    val n = if (bounds.isEmpty) 0L else indexed.count()
    (bounds, n)
  }

  /** Sorted position of the seek timestamp (count of distinct times before
    * it) — a distributed count, never a collect.
    */
  private lazy val seekIdx: Long = startingTs.fold(0L) { s0 =>
    val bound = s0 // local copy: RDD closures must not capture `this`
    distinctTs.queryExecution.toRdd.map(_.getLong(0)).filter(_ < bound).count()
  }

  /** Number of slices in serve order: everything when wrapping or
    * unseeked; the post-seek suffix otherwise.
    */
  private lazy val serveLen: Long = startingTs match {
    case None => distinctCount
    case Some(_) => if (wrap) distinctCount else distinctCount - seekIdx
  }

  // Single-page cache (guarded: latestOffset/planInputPartitions run on the
  // stream execution thread, but cheap insurance against engine changes).
  private[this] var cachedPageIdx: Long = -1L
  private[this] var cachedPage: Array[Long] = Array.emptyLongArray

  private def page(p: Long): Array[Long] = synchronized {
    if (p != cachedPageIdx) {
      val lo = pageFirstTs(p.toInt)
      val base = history
        .filter(col(tsCol).isNotNull && col(tsCol) >= tsBound(lo))
      val bounded =
        if (p.toInt + 1 < pageFirstTs.length)
          base.filter(col(tsCol) < tsBound(pageFirstTs(p.toInt + 1)))
        else base
      cachedPage = bounded.select(col(tsCol)).distinct()
        .queryExecution.toRdd.map(_.getLong(0)).collect().sorted
      cachedPageIdx = p
    }
    cachedPage
  }

  /** Event time (micros) of serve-order slice `i`. */
  private def tsAt(i: Long): Long = {
    val sorted = (seekIdx + i) % distinctCount
    page(sorted / pageSize)((sorted % pageSize).toInt)
  }

  /** Driver-held cursor state in Longs (bounded-memory spec hook). */
  private[graft] def cursorStateSize: Long =
    pageFirstTs.length.toLong + cachedPage.length.toLong

  // One file listing, shared by every batch (the history is static).
  private lazy val index = ParquetScanBridge.fileIndex(spark, pathOpt)

  private def idx(o: Offset): Long = o match {
    case l: LongOffset => l.offset
    case other         => other.json.trim.toLong
  }

  override def initialOffset(): Offset = LongOffset(0L)
  override def deserializeOffset(json: String): Offset = LongOffset(json.trim.toLong)

  // In time-based mode there is no slice-count pacing, so the default is
  // an UNBOUNDED maxRows sentinel rather than ReadAllAvailable — keeping
  // ReadAllAvailable reserved for an actual Trigger.AvailableNow drain
  // (which must win over windowing in BOTH modes; a default of
  // allAvailable would make the two indistinguishable and the drain
  // request unreachable).
  override def getDefaultReadLimit: ReadLimit =
    if (simAdvanceUs > 0) ReadLimit.maxRows(Long.MaxValue)
    else ReadLimit.maxRows(perTrigger)

  /** Admission-controlled advance. `maxRows` counts cursor slices (distinct
    * event times): per-slice row counts live executor-side by design, so
    * the cursor is the only granularity the driver can admit by.
    * `ReadAllAvailable` (Trigger.AvailableNow) drains the remaining cursor
    * regardless of pacing mode.
    */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = idx(start)
    val n = serveLen
    if (s >= n) return LongOffset(n)
    val e = limit match {
      case _: ReadAllAvailable => n // Trigger.AvailableNow: drain
      case _ if simAdvanceUs > 0 =>
        // Time-based batching: serve every slice whose event time falls in
        // the next simAdvance window. A wrap point (event time jumps
        // backwards in serve order) ends the batch; the next trigger
        // starts a fresh window at the wrapped timestamp.
        val startTs = tsAt(s)
        var e0 = s + 1
        while (e0 < n && tsAt(e0) >= startTs &&
               tsAt(e0) < startTs + simAdvanceUs) e0 += 1
        e0
      case r: ReadMaxRows =>
        // Saturating add: the unbounded-maxRows sentinel must not overflow.
        val step = math.max(1L, r.maxRows())
        if (step >= n - s) n else s + step
      case _ => s + perTrigger
    }
    LongOffset(math.min(e, n))
  }

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) should be called instead (SupportsAdmissionControl)")

  // Event-time literal in the column's own type (all three accepted types
  // store micros internally).
  private def tsLit(us: Long) = Literal(us, tsField.dataType)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = idx(start)
    val e = idx(end)
    val ts = (s until e).map(tsAt)
    if (ts.isEmpty) return Array.empty
    // The slice indices are contiguous in serve order; event times ascend
    // except at the single wrap point, so the batch is at most two
    // ascending runs. Each run of consecutive DISTINCT timestamps is
    // exactly the rows in [lo, hi] — a range predicate pushed into the
    // parquet scan for row-group pruning, then enforced row-level by
    // [[ReplayReaderFactory]].
    val runs = ArrayBuffer.empty[(Long, Long)]
    var lo = ts.head
    var prev = ts.head
    ts.tail.foreach { t =>
      if (t < prev) { runs += ((lo, prev)); lo = t }
      prev = t
    }
    runs += ((lo, prev))
    val attr = AttributeReference(tsCol, tsField.dataType, tsField.nullable)()
    val pushed: Seq[Expression] =
      if (runs.size == 1)
        Seq(GreaterThanOrEqual(attr, tsLit(runs.head._1)),
          LessThanOrEqual(attr, tsLit(runs.head._2)))
      else Seq(runs.map { case (rLo, rHi) =>
        And(GreaterThanOrEqual(attr, tsLit(rLo)),
          LessThanOrEqual(attr, tsLit(rHi))): Expression
      }.reduce(Or(_, _)))
    val (parts, factory) = ParquetScanBridge.parquetBatch(spark, index, tableSchema, pushed)
    val los = runs.map(_._1).toArray
    val his = runs.map(_._2).toArray
    parts.map(p => ReplayInputPartition(p, factory, los, his, tsOrdinal))
  }

  override def createReaderFactory(): PartitionReaderFactory = new ReplayReaderFactory

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** A delegate file partition plus the batch's event-time ranges. The
  * delegate parquet reader factory rides along so the batch-specific scan
  * configuration (pushed filters, schema, hadoop conf) stays attached to
  * the partitions it planned — [[ReplayMicroBatchStream.createReaderFactory]]
  * is stateless by construction.
  */
private[graft] case class ReplayInputPartition(
    delegate: InputPartition, delegateFactory: PartitionReaderFactory,
    runLos: Array[Long], runHis: Array[Long], tsOrdinal: Int)
  extends InputPartition {
  override def preferredLocations(): Array[String] = delegate.preferredLocations()
}

/** Executor-side: Spark's own parquet reader for the split, wrapped with
  * the exact row-level event-time predicate (row groups that straddle a
  * range boundary would otherwise leak neighboring slices into the batch).
  */
private[streaming] class ReplayReaderFactory extends PartitionReaderFactory {
  override def supportColumnarReads(partition: InputPartition): Boolean = false

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val rp = partition.asInstanceOf[ReplayInputPartition]
    val inner = rp.delegateFactory.createReader(rp.delegate)
    new PartitionReader[InternalRow] {
      private def inRange(row: InternalRow): Boolean = {
        if (row.isNullAt(rp.tsOrdinal)) return false
        val v = row.getLong(rp.tsOrdinal)
        var i = 0
        while (i < rp.runLos.length) {
          if (v >= rp.runLos(i) && v <= rp.runHis(i)) return true
          i += 1
        }
        false
      }
      override def next(): Boolean = {
        while (inner.next()) if (inRange(inner.get())) return true
        false
      }
      override def get(): InternalRow = inner.get()
      override def close(): Unit = inner.close()
    }
  }
}
