package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Time-series primitives over long-format `(user, timestamp, value)` data
  * (SURVEY.md §2.1 S2/S4, §2.2 P9–P11, §2.4 A7, §2.7 U4).
  *
  * All operators are pure `DataFrame => DataFrame` transforms built from
  * codegen'd built-ins; every predicate is Catalyst-pushable.
  */
object SeriesOps {

  /** S2: day-granularity date-range scan — the reference casts BOTH sides to
    * Date (`viz.py:140-148`: `Date(timestamp) >= Date(%s)`), so the bounds
    * are inclusive whole days.
    *
    * Written as raw timestamp bounds (`ts >= d0 && ts < d1+1d`), NOT
    * `to_date(ts).between(...)`: semantically identical for non-null ts,
    * but a bare-column comparison reaches the parquet scan (PushedFilters +
    * row-group skipping) and prunes date partitions, while a function-
    * wrapped column defeats both.
    */
  def dateRange(df: DataFrame, tsCol: String, startDate: String, endDate: String): DataFrame =
    df.filter(
      col(tsCol) >= lit(startDate).cast("timestamp") &&
        col(tsCol) < date_add(lit(endDate).cast("date"), 1).cast("timestamp"))

  /** P11: time-of-day slice with midnight wrap-around — pandas
    * `.loc[time(20,0):time(4,45)]` selects rows whose time-of-day is in the
    * wrapping range (`viz.py:542-547`, `viz.py:1069-1080`).
    * `start`/`end` are "HH:mm:ss" strings.
    */
  def timeOfDayPredicate(tsCol: String, start: String, end: String): Column = {
    val tod = date_format(col(tsCol), "HH:mm:ss")
    if (start <= end) tod.between(lit(start), lit(end))
    else tod >= lit(start) || tod <= lit(end)
  }

  def timeOfDayRange(df: DataFrame, tsCol: String, start: String, end: String): DataFrame =
    df.filter(timeOfDayPredicate(tsCol, start, end))

  /** U4: dedup on key columns, keeping the row with the smallest tiebreak
    * value (the reference's `drop_duplicates` keeps first-in-file order,
    * `w4h_db_utils.py:192`; a deterministic tiebreak replaces file order).
    * Implemented as max_by/min_by-style aggregation — one shuffle on the
    * dedup keys, no window sort.
    */
  def dedupKeepFirst(df: DataFrame, keys: Seq[String], tiebreak: String): DataFrame = {
    val others = df.columns.filterNot(c => keys.contains(c) || c == tiebreak)
    df.groupBy(keys.map(col): _*)
      .agg(
        min(col(tiebreak)).as(tiebreak),
        others.toIndexedSeq.map(c => min_by(col(c), col(tiebreak)).as(c)): _*
      )
  }

  /** A7: tumbling-window downsample — per-user fixed-interval mean
    * (`data_preproc.ipynb` cell 7: `.resample('1T').mean()`).
    * Emits the bucket start as a timestamp column named `bucket_start`.
    */
  def resample(df: DataFrame, userCol: String, tsCol: String, valueCol: String,
               interval: String): DataFrame =
    df.groupBy(col(userCol), window(col(tsCol), interval).getField("start").as("bucket_start"))
      .agg(avg(col(valueCol)).as("avg_value"))

  /** A4: per-user observed span (`viz.py:765-766`). */
  def userSpan(df: DataFrame, userCol: String, tsCol: String): DataFrame =
    df.groupBy(col(userCol))
      .agg(min(col(tsCol)).as("start"), max(col(tsCol)).as("end"), count(lit(1)).as("n"))

  /** As-of join (backward): attach to each left row the latest right value
    * with `right.ts <= left.ts` (optionally within `toleranceSec`), per
    * user — the sensor-alignment operator (align sparse readings to a
    * dense series; the reference only aligns EXACT timestamps, J4, but
    * real wearable streams need nearest-prior).
    *
    * Built by COMPOSITION, not a custom physical operator (preference (a)):
    * union the two sides tagged, then `last(value, ignoreNulls)` over a
    * per-user time-ordered window carries the most recent right value
    * forward onto left rows. ONE shuffle on the user key, no range join,
    * no per-group collect; works at any per-user history size.
    */
  def asofJoinBackward(left: DataFrame, right: DataFrame,
                       userCol: String, tsCol: String,
                       leftValueCols: Seq[String], rightValueCol: String,
                       toleranceSec: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val l = left.select(
      (Seq(col(userCol), col(tsCol), lit(1).as("__is_left")) ++
        leftValueCols.map(col) :+
        lit(null).cast("double").as("__rv") :+
        lit(null).cast("long").as("__rts")): _*)
    val r = right.select(
      (Seq(col(userCol), col(tsCol), lit(0).as("__is_left")) ++
        leftValueCols.map(c => lit(null).cast(left.schema(c).dataType).as(c)) :+
        col(rightValueCol).cast("double").as("__rv") :+
        unix_micros(col(tsCol)).as("__rts")): _*)
    // Right rows sort BEFORE left rows at identical timestamps (tag asc),
    // so an exact-tie right value is visible to the left row.
    val w = Window.partitionBy(col(userCol))
      .orderBy(col(tsCol), col("__is_left"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val joined = l.unionByName(r)
      .withColumn("__last_rv", last(col("__rv"), ignoreNulls = true).over(w))
      .withColumn("__last_rts", last(col("__rts"), ignoreNulls = true).over(w))
      .filter(col("__is_left") === 1)
    val withTol = toleranceSec match {
      case Some(t) =>
        joined.withColumn("__ok",
          col("__last_rts").isNotNull &&
            unix_micros(col(tsCol)) - col("__last_rts") <= t * 1000000L)
          .withColumn("asof_value", when(col("__ok"), col("__last_rv")))
          .withColumn("asof_ts_us", when(col("__ok"), col("__last_rts")))
      case None =>
        joined.withColumn("asof_value", col("__last_rv"))
          .withColumn("asof_ts_us", col("__last_rts"))
    }
    withTol.select(
      (Seq(col(userCol), col(tsCol)) ++ leftValueCols.map(col) :+
        col("asof_value") :+ col("asof_ts_us")): _*)
  }

  /** Gap-based sessionization (beyond-reference, training-pipeline staple):
    * a new session starts when the gap from the previous event exceeds
    * `gapSeconds`. Two windows over ONE user-keyed exchange: a lag to flag
    * session starts, a running sum to number them. Emits per-event session
    * ids; aggregate downstream for per-session stats.
    */
  /** A15 (beyond ref): thin a series to at most one reading per
    * (user, bucket) — sensor-rate reduction keeping the EARLIEST reading
    * (id tie-break) rather than aggregating like [[resample]]. One
    * map-side bucket column + the keep-first groupBy (min_by — no window
    * sort).
    */
  def thinPerBucket(df: DataFrame, userCol: String, tsCol: String,
                    bucketSec: Long, tiebreak: String): DataFrame = {
    // Integral `div`, not double division — µs values near 2^53 would
    // round under a double quotient.
    val bucket = expr(s"unix_micros($tsCol) div ${bucketSec * 1000000L}")
    df.withColumn("__bucket", bucket)
      .groupBy(col(userCol), col("__bucket"))
      .agg(min_by(struct(df.columns.toIndexedSeq.map(col): _*),
        struct(col(tsCol), col(tiebreak))).as("__row"))
      .select(col("__row.*"))
  }

  /** W11 (beyond ref): linear interpolation onto a fixed per-user time
    * grid — the upsampling companion to the A7 downsample. Grid points
    * (every `stepSec` within the user's observed span) union with the
    * readings; the bracketing readings come from two ignore-null window
    * scans (forward for prev, reversed for next) over ONE user-keyed
    * exchange — no joins, no per-point search. Grid points landing exactly
    * on a reading reproduce it bit-for-bit.
    */
  def interpolateGrid(df: DataFrame, userCol: String, tsCol: String,
                      valueCol: String, stepSec: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val stepUs = stepSec * 1000000L
    val base = df.select(col(userCol), unix_micros(col(tsCol)).as("ts_us"),
      col(valueCol).cast("double").as("__v"))
    val grid = base.groupBy(col(userCol))
      .agg(min(col("ts_us")).as("__mn"), max(col("ts_us")).as("__mx"))
      .withColumn("__gs", expr(s"((__mn + $stepUs - 1) div $stepUs) * $stepUs"))
      .withColumn("__ge", expr(s"(__mx div $stepUs) * $stepUs"))
      .filter(col("__gs") <= col("__ge")) // sequence() rejects empty ranges
      .select(col(userCol),
        explode(sequence(col("__gs"), col("__ge"), lit(stepUs))).as("ts_us"))
    val pts = base.withColumn("__g", lit(0))
      .unionByName(grid.select(col(userCol), col("ts_us"),
        lit(null).cast("double").as("__v"), lit(1).as("__g")))
    // Same-ts readings sort BEFORE their grid point in both scan
    // directions, so an on-grid reading is its own bracket.
    val wPrev = Window.partitionBy(col(userCol))
      .orderBy(col("ts_us"), col("__g"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wNext = Window.partitionBy(col(userCol))
      .orderBy(col("ts_us").desc, col("__g"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tsIfReading = when(col("__v").isNotNull, col("ts_us"))
    pts
      .withColumn("__pv", last(col("__v"), ignoreNulls = true).over(wPrev))
      .withColumn("__pts", last(tsIfReading, ignoreNulls = true).over(wPrev))
      .withColumn("__nv", last(col("__v"), ignoreNulls = true).over(wNext))
      .withColumn("__nts", last(tsIfReading, ignoreNulls = true).over(wNext))
      .filter(col("__g") === 1)
      .select(col(userCol), col("ts_us"),
        when(col("__nts") === col("__pts"), col("__pv"))
          .otherwise(col("__pv") + (col("__nv") - col("__pv")) *
            (col("ts_us") - col("__pts")).cast("double") /
            (col("__nts") - col("__pts")))
          .as("v_interp"))
  }

  /** W10 (beyond ref): forward-fill nulls per user in event-time order —
    * sensor-gap imputation: each null reading takes the latest preceding
    * non-null value. One window over the user exchange (which disappears
    * entirely on user-bucketed storage).
    */
  def forwardFill(df: DataFrame, userCol: String, tsCol: String,
                  valueCol: String, tiebreak: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(userCol)).orderBy(col(tsCol), col(tiebreak))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn(s"${valueCol}_filled",
      last(col(valueCol), ignoreNulls = true).over(w))
  }

  def sessionize(df: DataFrame, userCol: String, tsCol: String,
                 gapSeconds: Long, tiebreak: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ordered = Window.partitionBy(col(userCol))
      .orderBy(col(tsCol), col(tiebreak))
    val gapUs = gapSeconds * 1000000L
    df.withColumn("__prev_us", lag(unix_micros(col(tsCol)), 1).over(ordered))
      .withColumn("__new_session",
        when(col("__prev_us").isNull ||
          unix_micros(col(tsCol)) - col("__prev_us") > gapUs, 1L).otherwise(0L))
      .withColumn("session_id",
        sum(col("__new_session")).over(
          ordered.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .drop("__prev_us", "__new_session")
  }

  /** J4: exact-timestamp feature alignment — the reference's stream payload
    * groups heart-rate/calories/locations rows sharing one timestamp
    * (`stream_sim.py:52-58`) and the dashboard aligns them by index
    * (`viz.py:742-747`). Spark form: pivot the long frame to one row per
    * (user, ts) with one column per feature; `min` resolves duplicate
    * readings deterministically. Explicit `features` list keeps the pivot a
    * single pass (no distinct-values pre-scan).
    */
  def alignFeatures(df: DataFrame, userCol: String, tsCol: String,
                    featureCol: String, valueCol: String,
                    features: Seq[String]): DataFrame =
    df.groupBy(col(userCol), col(tsCol))
      .pivot(featureCol, features)
      .agg(min(col(valueCol)))

  /** W6/A3: trailing window anchored at the LATEST EVENT TIME (not wall
    * clock) — the reference anchors at `df.index[-1]` (`viz.py:783-789`).
    * Computes max(ts) as a 1-row broadcast join, then filters.
    */
  def trailingWindow(df: DataFrame, tsCol: String, seconds: Long): DataFrame = {
    val maxTs = df.agg(max(col(tsCol)).as("__max_ts"))
    df.join(broadcast(maxTs))
      .filter(col(tsCol) >= col("__max_ts") - expr(s"INTERVAL $seconds SECONDS"))
      .drop("__max_ts")
  }

  /** Point-in-interval range join WITHOUT an equi key — the classic Spark
    * scale trap: `points JOIN intervals ON ts >= start AND ts < end`
    * planless degrades to BroadcastNestedLoopJoin (|points| × |intervals|
    * comparisons, single-threaded build at that). This op makes it an
    * EQUI join: quantize time into fixed `bucketUs` buckets, explode each
    * interval over the buckets it covers, equi-join on the bucket id,
    * then post-filter the exact bounds. Cost is Σ_b |points_b| ×
    * |intervals_b| — local to each bucket, shuffled on an even key, and
    * tunable: pick `bucketUs` near the median interval length so most
    * intervals explode into ~1-2 buckets (a too-small bucket multiplies
    * the interval side; a too-large one multiplies the per-bucket pair
    * count).
    *
    * Columns are µs LONGS (`tsUsCol`, `startUsCol`, `endUsCol` with end
    * EXCLUSIVE) — callers convert timestamps via `unix_micros`, keeping
    * the op portable and the bucket arithmetic exact. Degenerate
    * intervals (end ≤ start) match nothing and are dropped up front
    * (Spark's `sequence(a, b)` generates DESCENDING when b < a — without
    * the guard an inverted interval would explode backwards instead of
    * vanishing).
    */
  def rangeJoinBucketed(points: DataFrame, intervals: DataFrame,
                        tsUsCol: String, startUsCol: String, endUsCol: String,
                        bucketUs: Long): DataFrame = {
    require(bucketUs > 0, "bucketUs must be positive")
    val p = points.withColumn("__b", floor(col(tsUsCol) / bucketUs).cast("long"))
    val iv = intervals
      .filter(col(endUsCol) > col(startUsCol))
      .withColumn("__b", explode(sequence(
        floor(col(startUsCol) / bucketUs).cast("long"),
        floor((col(endUsCol) - 1) / bucketUs).cast("long"))))
    p.join(iv, Seq("__b"))
      .filter(col(tsUsCol) >= col(startUsCol) && col(tsUsCol) < col(endUsCol))
      .drop("__b")
  }
}
