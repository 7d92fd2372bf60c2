package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.CatalystBridge
import org.apache.spark.sql.types.StringType

import graft.functions.DriftKernels

/** KPI / statistics aggregations (SURVEY.md §2.4 A1–A6, A10).
  *
  * All are single hash-aggregations with map-side partial aggregation —
  * the shape that scales: the shuffle carries one row per group, not the
  * data.
  */
object Stats {

  /** A1: global KPIs — mean/min/max over a (cohort-filtered) series
    * (`viz.py:768-780`).
    */
  def kpis(df: DataFrame, valueCol: String): DataFrame =
    df.agg(
      avg(col(valueCol)).as("avg_value"),
      min(col(valueCol)).as("min_value"),
      max(col(valueCol)).as("max_value"),
      count(lit(1)).as("n")
    )

  /** A2: per-group stats incl. SAMPLE stddev — pandas `.std()` is ddof=1
    * (`viz.py:165-176`), hence `stddev_samp`, never `stddev_pop`.
    */
  def groupStats(df: DataFrame, groupCol: String, valueCol: String): DataFrame =
    df.groupBy(col(groupCol))
      .agg(
        max(col(valueCol)).as("max_value"),
        min(col(valueCol)).as("min_value"),
        avg(col(valueCol)).as("avg_value"),
        stddev_samp(col(valueCol)).as("std_value"),
        count(lit(1)).as("n")
      )

  /** A5: column bounds for widget seeding (`viz.py:344-357`). */
  def bounds(df: DataFrame, c: String): DataFrame =
    df.agg(min(col(c)).as("min_value"), max(col(c)).as("max_value"))

  /** A10: row and cardinality counts. `approx_count_distinct` (HLL) is the
    * 100 TB path — exact distinct shuffles every key; the sketch merges
    * map-side. (Only exact counts are oracle-comparable across engines.)
    */
  def counts(df: DataFrame, keyCol: String): DataFrame =
    df.agg(
      count(lit(1)).as("n_rows"),
      countDistinct(col(keyCol)).as("n_distinct"),
      approx_count_distinct(col(keyCol)).as("n_distinct_approx"))

  /** Pearson correlation between two (aligned-feature) columns via
    * EXPLICIT moments — n, Σx, Σy, Σxy, Σx², Σy² in one pass, then the
    * closed form. Built-in `corr()` implementations use engine-specific
    * incremental updates whose last-ulp drift is unpredictable; spelling
    * the arithmetic out means any engine evaluates the identical
    * expression tree. Rows with a null on either side are excluded
    * (pairwise-complete, the dashboard convention).
    */
  /** Column profile — the ingest data-quality report (row count, null
    * count, distinct cardinality per column) in ONE aggregation pass:
    * every column's metrics aggregate simultaneously, and the 1-row result
    * explodes into a row per column. One scan regardless of width.
    */
  def profile(df: DataFrame, cols: Seq[String]): DataFrame = {
    val aggs = cols.flatMap { c =>
      Seq(sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"__null_$c"),
        countDistinct(col(c)).as(s"__nd_$c"))
    } :+ count(lit(1)).as("__n")
    val m = df.agg(aggs.head, aggs.tail: _*)
    val rows = array(cols.map { c =>
      struct(lit(c).as("column"), col("__n").as("n_rows"),
        col(s"__null_$c").as("n_null"), col(s"__nd_$c").as("n_distinct"))
    }: _*)
    m.select(explode(rows).as("__p")).select(col("__p.*"))
  }

  /** Pairwise-complete correlation matrix over `cols` in ONE aggregation
    * pass: every pair's six moments are computed simultaneously (each with
    * its own both-non-null mask), then the 1-row result explodes into one
    * row per pair. One scan + one 1-row shuffle no matter how many
    * features — the shape that matters when the frame is 100 TB.
    */
  def pearsonMatrix(df: DataFrame, cols: Seq[String]): DataFrame = {
    val pairs = for {
      i <- cols.indices; j <- (i + 1) until cols.size
    } yield (cols(i), cols(j))
    val aggs = pairs.flatMap { case (a, b) =>
      val x = col(a).cast("double"); val y = col(b).cast("double")
      val both = x.isNotNull && y.isNotNull
      Seq(count(when(both, lit(1))).as(s"__n_${a}_$b"),
        sum(when(both, x)).as(s"__sx_${a}_$b"),
        sum(when(both, y)).as(s"__sy_${a}_$b"),
        sum(when(both, x * y)).as(s"__sxy_${a}_$b"),
        sum(when(both, x * x)).as(s"__sxx_${a}_$b"),
        sum(when(both, y * y)).as(s"__syy_${a}_$b"))
    }
    val m = df.agg(aggs.head, aggs.tail: _*)
    val rows = array(pairs.map { case (a, b) =>
      val n = col(s"__n_${a}_$b"); val sx = col(s"__sx_${a}_$b")
      val sy = col(s"__sy_${a}_$b"); val sxy = col(s"__sxy_${a}_$b")
      val sxx = col(s"__sxx_${a}_$b"); val syy = col(s"__syy_${a}_$b")
      // nullif guards degenerate pairs (zero variance): corr = null, and
      // under ANSI mode the division would otherwise throw.
      val den = nullif(sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy), lit(0.0))
      struct(lit(a).as("feature_a"), lit(b).as("feature_b"), n.as("n"),
        ((n * sxy - sx * sy) / den).as("corr"))
    }: _*)
    m.select(explode(rows).as("__p")).select(col("__p.*"))
  }

  /** Per-user TREND: least-squares slope of value over time, reported per
    * hour — the "is this metric drifting" signal per subject. The moment
    * sums (Σx, Σy, Σxy, Σx²) fold SEQUENTIALLY over the (ts, tiebreak)-
    * sorted reading list (not float `sum()` aggregates), so the doubles
    * are order-identical across engines and runs; x is microseconds from
    * the user's first reading (exact integers into the fold; `tsCol` must
    * be a TimestampType). Per-user state is bounded like the window
    * family; the large x values exceed double's exact-integer range in
    * x² — deterministic either way, both engines fold the identical IEEE
    * values.
    */
  def trendSlope(df: DataFrame, userCol: String, tsCol: String,
                 valueCol: String, tiebreak: String): DataFrame = {
    val pts = array_sort(collect_list(struct(
      unix_micros(col(tsCol)).as("t"), col(tiebreak),
      col(valueCol).cast("double").as("v"))))
    val withP = df.groupBy(col(userCol)).agg(pts.as("__p"))
      .withColumn("__t0", element_at(col("__p"), 1).getField("t"))
    val xs = transform(col("__p"),
      p => (p.getField("t") - col("__t0")).cast("double"))
    val ys = transform(col("__p"), p => p.getField("v"))
    def fsum(arr: org.apache.spark.sql.Column) =
      aggregate(arr, lit(0.0), (acc, e) => acc + e)
    withP.select(col(userCol), size(col("__p")).cast("long").as("n_points"),
        fsum(xs).as("__sx"), fsum(ys).as("__sy"),
        fsum(zip_with(xs, ys, (a, b) => a * b)).as("__sxy"),
        fsum(transform(xs, a => a * a)).as("__sxx"))
      .select(col(userCol), col("n_points"),
        round(lit(3.6e9) *
          (col("n_points") * col("__sxy") - col("__sx") * col("__sy")) /
          nullif(col("n_points") * col("__sxx") - col("__sx") * col("__sx"),
            lit(0.0)), 6).as("slope_per_hour"))
  }

  /** Within-group percentile rank of a value column — the per-source
    * quality NORMALIZATION step for dataset mixing: a 0.8 raw score means
    * different things in a clean and a noisy source; mixing on within-
    * source percentiles samples each source's own best. Computed as
    * (rank−1)/(n−1) over a UNIQUE ordering (value, id tie-break) — an
    * explicit formula both engines evaluate identically, rather than
    * trusting `percent_rank` tie conventions; single-row groups get 0.
    * One shuffle on the group key; the rank window and the count ride the
    * same exchange.
    */
  def percentileRank(df: DataFrame, valueCol: String, groupCol: String,
                     idCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col(valueCol), col(idCol))
    val n = Window.partitionBy(col(groupCol))
    df.select(col(idCol), col(groupCol), col(valueCol))
      .withColumn("__rn", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(n))
      .withColumn("pct_rank",
        when(col("__n") > 1,
          round((col("__rn") - 1).cast("double") / (col("__n") - 1), 6))
          .otherwise(lit(0.0)))
      .drop("__rn", "__n")
  }

  /** Per-group winsorization: values clamped to the group's exact
    * [pLow, pHigh] quantile band — the standard outlier treatment before
    * training-statistics aggregation (a sensor glitch or a parse artifact
    * should saturate, not dominate a mean). Exact `percentile` (not the
    * t-digest approximation) so the clamp bounds are engine-reproducible;
    * the per-group bound table is small by construction (one row per
    * group) and broadcast back onto the stream — one aggregation exchange
    * plus a map-side clamp.
    */
  def winsorize(df: DataFrame, valueCol: String, groupCol: String,
                pLow: Double, pHigh: Double): DataFrame = {
    val bounds = df.groupBy(col(groupCol)).agg(
      round(expr(s"percentile($valueCol, $pLow)"), 6).as("__lo"),
      round(expr(s"percentile($valueCol, $pHigh)"), 6).as("__hi"))
    df.join(broadcast(bounds), Seq(groupCol))
      .withColumn(s"${valueCol}_wins",
        round(least(greatest(col(valueCol).cast("double"), col("__lo")),
          col("__hi")), 6))
      .withColumn("clamped",
        (col(valueCol).cast("double") < col("__lo") ||
          col(valueCol).cast("double") > col("__hi")).cast("int"))
      .drop("__lo", "__hi")
  }

  /** Population Stability Index between a REFERENCE and a CURRENT
    * distribution of `valueCol` — the standard drift monitor run between
    * a training snapshot and live ingest (PSI < 0.1 stable, 0.1–0.25
    * moderate shift, > 0.25 retrain/investigate).
    *
    * Bin edges are FIXED-WIDTH over the reference's [min, max] (a 1-row
    * broadcast) so both sides bin identically and the metric is exactly
    * reproducible cross-engine — quantile edges would couple the binning
    * to the reference's full sort order. Out-of-range current values
    * clamp into the edge bins (drift INTO the tails still registers).
    * Shares are Laplace-smoothed ((n_b + 0.5) / (N + 0.5·bins)) so an
    * empty bin on either side cannot produce log(0) or a division by
    * zero. Output is per-bin (share_ref, share_cur, psi_term) — sum the
    * terms for the headline number; the per-bin rows localize WHERE the
    * distribution moved. Two single-pass aggregations; the bin table is
    * bins-bounded at any data size.
    */
  def psi(ref: DataFrame, cur: DataFrame, valueCol: String,
          bins: Int = 10): DataFrame = {
    require(bins > 0, "bins must be positive")
    val v = col(valueCol).cast("double")
    val edges = ref.filter(v.isNotNull)
      .agg(min(v).as("__lo"), max(v).as("__hi"))
    def binned(df: DataFrame) = df.filter(v.isNotNull)
      .crossJoin(broadcast(edges))
      .select(fixedWidthBin(v, col("__lo"), col("__hi"), bins).as("bin"))
      .groupBy(col("bin")).agg(count(lit(1)).as("__n"))
    val grid = ref.sparkSession.range(bins).select(col("id").cast("int").as("bin"))
    def shares(df: DataFrame, out: String) = {
      val tot = df.agg(sum(col("__n")).as("__t"))
      grid.join(df, Seq("bin"), "left")
        .crossJoin(broadcast(tot))
        .select(col("bin"),
          ((coalesce(col("__n"), lit(0L)) + lit(0.5)) /
            (col("__t") + lit(0.5 * bins))).as(out))
    }
    shares(binned(ref), "__p").join(shares(binned(cur), "__q"), Seq("bin"))
      .select(col("bin"),
        round(col("__p"), 6).as("share_ref"),
        round(col("__q"), 6).as("share_cur"),
        round((col("__p") - col("__q")) * log(col("__p") / col("__q")), 6)
          .as("psi_term"))
  }

  /** Fixed-width bin of `v` over [lo, hi] in `bins` equal bins, clamped
    * into the edge bins; a degenerate range (hi ≤ lo, or no edges) puts
    * everything in bin 0. The one binning formula of [[psi]],
    * [[psiByGroup]] and the drift datacard.
    */
  private[graft] def fixedWidthBin(v: Column, lo: Column, hi: Column,
                                   bins: Int): Column =
    least(lit(bins - 1), greatest(lit(0),
      when(hi > lo, floor((v - lo) / ((hi - lo) / bins)))
        .otherwise(lit(0)))).cast("int")

  /** One row per non-null group of `df`: `cells`, the sorted (k, n)
    * counts of its non-null `key` values, and their total `n`. A string
    * key keeps its strings; any other key counts as a double. One
    * aggregation — the cells of [[graft.functions.DriftKernels.profile]],
    * so the partial buffers, and the shuffle, carry cells, not rows.
    */
  private[graft] def countCells(df: DataFrame, groupCol: String,
                                key: Column): DataFrame = {
    val keyed = df.select(col(groupCol), key.as("__k"))
      .filter(col(groupCol).isNotNull && col("__k").isNotNull)
    val text = keyed.schema("__k").dataType == StringType
    val none = lit(null)
    keyed.groupBy(col(groupCol))
      .agg(DriftKernels.profile(
        (if (text) none else col("__k")).cast("double"),
        (if (text) col("__k") else none).cast("string"),
        none.cast("array<double>"), lit(false)).as("__p"))
      .select(col(groupCol),
        col(if (text) "__p.cat" else "__p.num").as("cells"),
        col(if (text) "__p.cat_n" else "__p.num_n").as("n"))
  }

  /** Per-bin counts of a numeric cells array under [[fixedWidthBin]]'s
    * binning over [lo, hi], in one native loop
    * ([[graft.functions.DriftKernels.BinCounts]]). Cells whose keys
    * already are bin ids bin over [0, bins]: every bin is then exactly 1
    * wide, so each key is its own bin.
    */
  private[graft] def binCounts(cells: Column, bins: Int, lo: Column,
                               hi: Column): Column =
    CatalystBridge.column(DriftKernels.BinCounts(CatalystBridge.expression(cells),
      CatalystBridge.expression(lo), CatalystBridge.expression(hi), bins))

  /** Smoothed PSI between two per-group bin-count vectors: every bin's
    * share is (n_b + 0.5) / (N + 0.5·bins), so a missing side (null
    * vector) or an empty bin reads as the smoothed zero instead of
    * log(0); each term rounds to 6 dp before the fold, so the sum is
    * order-independent. The one PSI tail of [[psiByGroup]],
    * [[psiByGroupQuantile]] and the drift datacard.
    */
  private[graft] def psiOf(refBins: Column, curBins: Column,
                           bins: Int): Column = {
    def shares(counts: Column) =
      aggregate(coalesce(counts, array_repeat(lit(0L), bins)), lit(0L),
        (t, n) => t + n, t => transform(
          coalesce(counts, array_repeat(lit(0L), bins)),
          n => (n + lit(0.5)) / (t + lit(0.5 * bins))))
    val terms = zip_with(shares(refBins), shares(curBins),
      (p, q) => round((p - q) * log(p / q), 6))
    round(aggregate(terms, lit(0.0), (acc, t) => acc + t), 6)
  }

  /** Per-GROUP PSI in one pass each side (L284): for every group (source,
    * shard, ingest batch) the PSI of its `valueCol` distribution between a
    * reference and a current snapshot — [[psi]]'s fixed-width bins over
    * the reference's GLOBAL range (one 1-row broadcast, so every group is
    * binned identically and scores are comparable across groups) and the
    * same 0.5-Laplace smoothing, but grouped: the shuffle carries
    * (group × bin) partial counts, never rows, and the output is
    * |groups|-bounded. This is the drift side of a per-source admission
    * gate (see curation_pipeline_v6): a 100 TB curation run scores every
    * source's drift in two corpus passes instead of |sources| [[psi]]
    * calls.
    */
  def psiByGroup(ref: DataFrame, cur: DataFrame, valueCol: String,
                 groupCol: String, bins: Int = 10): DataFrame = {
    require(bins > 0, "bins must be positive")
    val v = col(valueCol).cast("double")
    // Scoped caches on the edges (they feed both sides) and on each
    // side's bin cells: a caller that re-derives the same reference (per
    // micro-batch) reads the reference frames from the CacheManager, and
    // each side's corpus scan runs once. Everything downstream is
    // (groups × bins)-bounded.
    val edges = OpCaches.scoped(ref.filter(v.isNotNull)
      .agg(min(v).as("__lo"), max(v).as("__hi")))
    def binned(df: DataFrame) = OpCaches.scoped(countCells(
      df.filter(v.isNotNull).crossJoin(broadcast(edges)), groupCol,
      fixedWidthBin(v, col("__lo"), col("__hi"), bins)))
    psiFromBinnedByGroup(binned(ref), binned(cur), groupCol, bins)
  }

  /** Shared PSI downstream of [[psiByGroup]] (fixed-width bins) and
    * [[psiByGroupQuantile]] (reference-quantile bins): each side's
    * per-group bin cells ([[countCells]] of the bin ids; null groups have
    * none) fold into one bin vector per group, the two sides join
    * full-outer on the group (a group present only in `cur` is maximal
    * drift, not absence of evidence) and [[psiOf]] scores them.
    */
  private def psiFromBinnedByGroup(refB: DataFrame, curB: DataFrame,
                                   groupCol: String, bins: Int): DataFrame = {
    def vectors(df: DataFrame, out: String) =
      df.select(col(groupCol),
        binCounts(col("cells"), bins, lit(0.0), lit(bins.toDouble)).as(out))
    vectors(refB, "__p").join(vectors(curB, "__q"), Seq(groupCol), "full_outer")
      .select(col(groupCol), psiOf(col("__p"), col("__q"), bins).as("psi"))
  }

  /** [[psiByGroup]] with EQUAL-MASS bins from the reference's exact
    * GLOBAL quantiles (L308) instead of fixed-width range bins — the
    * robust production binning: on a heavy-tailed column (bytes,
    * latencies, token counts) fixed-width bins put ~all mass in bin 0
    * and PSI goes numb to everything but the tail, while
    * reference-quantile bins hold ~n/bins rows each by construction, so
    * every part of the distribution carries equal statistical weight.
    *
    * Edges are EXACT order statistics — edge_b = the value at sorted
    * position ⌈n·b/bins⌉ of the reference — computed with the
    * range-partitioned rank recipe ([[withRangeRank]]: no
    * single-partition sort), then collected as a (bins−1)-bounded
    * driver literal and applied map-side on both snapshots:
    * bin(v) = #edges strictly below v. Identical 0.5-Laplace smoothing
    * and PSI tail as [[psiByGroup]]; scores remain cross-group
    * comparable because every group is binned on the same global edges.
    */
  def psiByGroupQuantile(ref: DataFrame, cur: DataFrame, valueCol: String,
                         groupCol: String, bins: Int = 10): DataFrame = {
    require(bins >= 2 && bins <= 1000, "bins in [2, 1000]")
    val v = col(valueCol).cast("double")
    val ranked = withRangeRank(
      ref.filter(v.isNotNull && col(groupCol).isNotNull)
        .select(v.as("__v")),
      Seq(col("__v")), "__r")
    // Edge ranks ⌈n·b/bins⌉, b = 1..bins−1, matched as a column predicate
    // so ranking + edge extraction is one pass (no separate count()).
    // MULTISET of edge values (one row per distinct matched rank; equal
    // quantile VALUES stay duplicated so bin(v) jumps past them exactly
    // as the oracle's edge-row count does).
    val edges: Seq[Double] = ranked
      .filter(array_contains(
        transform(sequence(lit(1), lit(bins - 1)),
          b => ceil(col("__n").cast("double") * b / bins).cast("long")),
        col("__r").cast("long")))
      .select(col("__v"))
      .collect().map(_.getDouble(0)).toSeq.sorted
    def binned(df: DataFrame) = countCells(df.filter(v.isNotNull), groupCol,
      edges.foldLeft(lit(0)) { (acc, e) =>
        acc + when(v > lit(e), 1).otherwise(0)
      })
    psiFromBinnedByGroup(binned(ref), binned(cur), groupCol, bins)
  }

  /** Incremental aggregate maintenance: per-key mergeable state
    * (n, sum, sumsq, min, max). At 100 TB the point is to NEVER rescan
    * history — yesterday's state table plus today's delta merge into
    * today's state with a join over per-key rows (one row per key, not
    * per event). Sums are rounded to 6 dp at every stage so the merged
    * state is bit-identical to an engine recomputing the same stages.
    */
  def aggState(df: DataFrame, keyCol: String, valueCol: String): DataFrame = {
    val v = col(valueCol).cast("double")
    df.filter(v.isNotNull).groupBy(col(keyCol))
      .agg(count(lit(1)).as("n"), round(sum(v), 6).as("s"),
        round(sum(v * v), 6).as("ss"), min(v).as("min_v"), max(v).as("max_v"))
  }

  /** Combine two [[aggState]] frames (full outer: keys may appear on
    * either side only). Associative and commutative, so states roll up
    * across any number of deltas/partitions/days.
    */
  def mergeAggStates(a: DataFrame, b: DataFrame, keyCol: String): DataFrame = {
    val fields = Seq("n", "s", "ss", "min_v", "max_v")
    val an = a.select(col(keyCol) +: fields.map(c => col(c).as(s"__a_$c")): _*)
    val bn = b.select(col(keyCol) +: fields.map(c => col(c).as(s"__b_$c")): _*)
    an.join(bn, Seq(keyCol), "full_outer")
      .select(col(keyCol),
        (coalesce(col("__a_n"), lit(0L)) + coalesce(col("__b_n"), lit(0L))).as("n"),
        round(coalesce(col("__a_s"), lit(0.0)) +
          coalesce(col("__b_s"), lit(0.0)), 6).as("s"),
        round(coalesce(col("__a_ss"), lit(0.0)) +
          coalesce(col("__b_ss"), lit(0.0)), 6).as("ss"),
        // least/greatest skip nulls only when SOME arg is non-null; a
        // one-sided key passes its own value through via coalesce.
        least(coalesce(col("__a_min_v"), col("__b_min_v")),
          coalesce(col("__b_min_v"), col("__a_min_v"))).as("min_v"),
        greatest(coalesce(col("__a_max_v"), col("__b_max_v")),
          coalesce(col("__b_max_v"), col("__a_max_v"))).as("max_v"))
  }

  /** Derive reporting stats from a (possibly merged) [[aggState]]. */
  def finishAggState(state: DataFrame, keyCol: String): DataFrame =
    state.select(col(keyCol), col("n"), col("min_v"), col("max_v"),
      round(col("s") / col("n"), 6).as("mean"),
      round(when(col("n") > 1,
        (col("ss") - col("s") * col("s") / col("n")) / (col("n") - 1)), 6)
        .as("variance"))

  /** Two-proportion z-test over per-unit conversion: units (e.g. users)
    * split into arm A (`armA` true) and B, a unit converts when ANY of
    * its rows satisfies `success`, and the pooled-variance z statistic
    * scores the difference — the standard A/B readout. Two aggregations
    * (unit roll-up, then four counts) and closed-form arithmetic; the
    * output is one row, and every input to the formula is an exact
    * integer count, so both engines evaluate the identical IEEE
    * sequence. |z| > 1.96 ⇒ significant at 95%.
    */
  def twoProportionZTest(df: DataFrame, unitCol: String,
                         armA: org.apache.spark.sql.Column,
                         success: org.apache.spark.sql.Column): DataFrame = {
    val perUnit = df.groupBy(col(unitCol))
      .agg(max(when(armA, 1L).otherwise(0L)).as("__a"),
        max(when(success, 1L).otherwise(0L)).as("__s"))
    val counts = perUnit.agg(
      sum(col("__a")).as("n_a"),
      sum(lit(1L) - col("__a")).as("n_b"),
      sum(col("__a") * col("__s")).as("conv_a"),
      sum((lit(1L) - col("__a")) * col("__s")).as("conv_b"))
    val na = col("n_a").cast("double"); val nb = col("n_b").cast("double")
    val pa = col("conv_a").cast("double") / na
    val pb = col("conv_b").cast("double") / nb
    val pp = (col("conv_a") + col("conv_b")).cast("double") / (na + nb)
    // Degenerate pools (everyone or no one converts, or an empty arm)
    // have zero pooled variance: emit null rather than divide — ANSI
    // mode turns the 0-divisor into a query-killing error otherwise.
    val se = sqrt(pp * (lit(1.0) - pp) * (lit(1.0) / na + lit(1.0) / nb))
    val z = when(se > 0, (pa - pb) / se)
    counts.select(col("n_a"), col("n_b"), col("conv_a"), col("conv_b"),
      round(pa, 6).as("rate_a"), round(pb, 6).as("rate_b"),
      round(z, 6).as("z_stat"), (abs(z) > 1.96).as("significant"))
  }

  /** Period-over-period growth of a monthly revenue series: calendar
    * months bucket the fact stream, and each month compares against the
    * month `lagPeriods` earlier (12 = year-over-year). Revenue is summed
    * as exact integer cents — order-free, so the growth ratio is
    * bit-identical in any engine — and only converted to currency at the
    * output edge. Month cardinality bounds everything after one fact
    * aggregation.
    */
  def periodGrowth(df: DataFrame, tsCol: String, valueCol: String,
                   lagPeriods: Int): DataFrame = {
    require(lagPeriods >= 1, "lagPeriods must be positive")
    val cents = round(col(valueCol) * 100).cast("long")
    // Month INDEX (year·12 + month−1) keys the comparison, so the lag is
    // calendar months — a row-lag window would silently compare against
    // "12 PRESENT months ago" when the series has gaps.
    val monthly = df.select(
        (year(col(tsCol)) * 12 + month(col(tsCol)) - 1).as("__mi"),
        cents.as("__c"))
      .groupBy(col("__mi")).agg(sum(col("__c")).as("__rc"))
    val prior = monthly.select((col("__mi") + lagPeriods).as("__mi"),
      col("__rc").as("__prev"))
    monthly.join(prior, Seq("__mi"), "left")
      .select(
        ((col("__mi") / 12).cast("long") * 100 + pmod(col("__mi"), lit(12))
          + 1).cast("int").as("yyyymm"),
        round(col("__rc").cast("double") / 100.0, 2).as("revenue"),
        when(col("__prev").isNotNull && col("__prev") =!= 0,
          round((col("__rc") - col("__prev")).cast("double") /
            col("__prev").cast("double"), 6)).as("growth"))
  }

  /** Distributed global row_number over a TOTAL order (callers must
    * include an id tie-break): the two-pass range recipe. Pass 1
    * range-partitions on the order key (so partition i holds a
    * contiguous rank span) and materializes it; the per-partition row
    * counts — at most `spark.sql.shuffle.partitions` values, a
    * structurally bounded driver collect like pagerank's scalar — turn
    * into cumulative offsets shipped back as a literal map. Pass 2 adds
    * offset(pid) + row_number within the partition. No row ever crosses
    * a single-partition sort: the only per-entity exchanges are the
    * even range shuffle and the pid-keyed window shuffle, both
    * embarrassingly parallel at 10⁸–10⁹ entities.
    *
    * The ranged frame is a LAZY localCheckpoint (eager = false): the
    * counts collect materializes it in the same job — so unlike the
    * eager checkpoint (one extra job per pass, ~340 ms at local[32] on a
    * 3 MB frame — round-11 CheckpointProbe) chained callers like
    * [[rfmQuintiles]] pay nothing extra — and unlike a scoped cache the
    * lineage is TRUNCATED: the collected per-pid offsets are only valid
    * for the exact partitioning the collect observed, and a cache
    * released before the returned plan executes would re-plan the range
    * shuffle with a fresh RangePartitioner sample (its seed derives from
    * the new RDD id), silently shifting rows across pids under the stale
    * offset map. With the checkpoint there is no recompute path at all:
    * lost blocks fail loudly instead of re-ranking wrongly. The blocks
    * are MEMORY_AND_DISK and registered via [[OpCaches.scopedCheckpoint]]
    * so a long session's `releaseAll` frees them between queries instead
    * of waiting on driver GC (rfmQuintiles checkpoints three frames per
    * call; a 300-query bench session would otherwise carry them all).
    */
  private[graft] def withRangeRank(df: DataFrame, order: Seq[Column],
                                   rankName: String): DataFrame = {
    val nPart = df.sparkSession.sessionState.conf.numShufflePartitions
    val parted = OpCaches.scopedCheckpoint(
      df.repartitionByRange(nPart, order: _*)
        .withColumn("__pid", spark_partition_id()))
    val cnts = parted.groupBy(col("__pid")).agg(count(lit(1)).as("__c"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    val offsets: Map[Int, Long] = {
      var acc = 0L
      cnts.map { case (pid, c) => val o = pid -> acc; acc += c; o }.toMap
    }
    parted
      .withColumn(rankName,
        element_at(typedlit(offsets), col("__pid")) +
          row_number().over(
            Window.partitionBy(col("__pid")).orderBy(order: _*)))
      .withColumn("__n", lit(cnts.map(_._2).sum))
      .drop("__pid")
  }

  /** Distributed EXACT prefix sum over a total order — the
    * [[withRangeRank]] recipe generalized from counts to an arbitrary
    * Long measure: range-partition on the order key, collect the
    * per-partition measure totals (bounded by the partition count),
    * broadcast the cumulative offsets back, add the within-partition
    * running sum. `outCol` receives the sum of `measure` over all rows
    * STRICTLY BEFORE the current row in the order (exclusive prefix) —
    * the form rank statistics (midranks, ECDFs, AUC) want. Integer
    * arithmetic end to end; no single-partition sort.
    */
  private[graft] def withRangeCumSum(df: DataFrame, order: Seq[Column],
                                     measure: Column,
                                     outCol: String): DataFrame = {
    val nPart = df.sparkSession.sessionState.conf.numShufflePartitions
    // Lazy localCheckpoint, not a scoped cache — same pid-stability
    // contract as [[withRangeRank]] (offsets are only valid for the
    // observed partitioning; a released cache could re-sample bounds);
    // scopedCheckpoint so releaseAll frees the blocks between queries.
    val parted = OpCaches.scopedCheckpoint(
      df.repartitionByRange(nPart, order: _*)
        .withColumn("__pid", spark_partition_id())
        .withColumn("__m", measure.cast("long")))
    val cnts = parted.groupBy(col("__pid"))
      .agg(sum(col("__m")).as("__s"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    val offsets: Map[Int, Long] = {
      var acc = 0L
      cnts.map { case (pid, c) => val o = pid -> acc; acc += c; o }.toMap
    }
    val w = Window.partitionBy(col("__pid")).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    parted
      .withColumn(outCol,
        element_at(typedlit(offsets), col("__pid")) +
          coalesce(sum(col("__m")).over(w), lit(0L)))
      .drop("__pid", "__m")
  }

  /** EXACT ROC AUC via the Mann–Whitney U statistic with midranks for
    * ties — the rank form AUC = (Σ_pos rank − n₊(n₊+1)/2)/(n₊·n₋),
    * computed entirely in integers until the final division: per
    * distinct score, 2·midrank = 2·cumBefore + cnt + 1, so
    * 2U = Σ_scores pos·(2·cumBefore + cnt + 1) − n₊(n₊+1) is an exact
    * Long and AUC = 2U/(2·n₊·n₋) — bit-identical across engines, no
    * sampling, no sort through one partition: the distinct-score
    * aggregate rides [[withRangeCumSum]]. Headroom: 2U ≤ 2n² — bucket
    * scores first past ~10⁹ rows.
    */
  def aucRoc(df: DataFrame, labelCol: Column, scoreCol: String): DataFrame = {
    val base = df.select(col(scoreCol).cast("double").as("__s"),
        when(labelCol, 1L).otherwise(0L).as("__y"))
      .filter(col("__s").isNotNull)
    val cells = base.groupBy(col("__s"))
      .agg(count(lit(1)).as("__cnt"), sum(col("__y")).as("__pos"))
    val cum = withRangeCumSum(cells, Seq(col("__s")), col("__cnt"), "__cb")
    cum
      .agg(sum(col("__pos")).as("__n1"),
        sum(col("__cnt") - col("__pos")).as("__n0"),
        sum(col("__pos") * (lit(2L) * col("__cb") + col("__cnt") + 1))
          .as("__rsum2"))
      .select(col("__n1").as("n_pos"), col("__n0").as("n_neg"),
        when(col("__n1") > 0 && col("__n0") > 0,
          round((col("__rsum2") - col("__n1") * (col("__n1") + 1))
            .cast("double") /
            (lit(2.0) * col("__n1").cast("double") *
              col("__n0").cast("double")), 6)).as("auc"))
  }

  /** SQL-standard ntile derived arithmetically from a global rank and
    * the row count: with q = n div k and m = n mod k, the first m
    * buckets hold q+1 rows and the rest q — exactly Spark's and
    * DuckDB's ntile(). All intermediates are exact in double below
    * 2^53 rows (numerators are multiples of their divisors or floored).
    */
  private def ntileFromRank(rank: Column, n: Column, k: Int): Column = {
    val kl = lit(k.toLong)
    val q = ((n - pmod(n, kl)) / kl).cast("long")
    val m = pmod(n, kl)
    val cut = m * (q + 1)
    when(rank <= cut, floor((rank - 1) / (q + 1)).cast("long") + 1)
      .otherwise(m + floor((rank - cut - 1) / q).cast("long") + 1)
      .cast("int")
  }

  /** Pareto concentration by decile: entities ranked by their summed
    * value (exact cents, deterministic ties on the entity id), split
    * into 10 equal-count bands, each reporting its share and the
    * cumulative share — "the top 10% of customers carry X% of revenue".
    * Integer sums end to end; 10 output rows. The rank runs over the
    * per-entity AGGREGATE (entity-cardinality rows, not facts) through
    * [[withRangeRank]] — no single-partition ntile anywhere; the only
    * partition-less window left is the cumulative share over the 10
    * decile rows, bounded by construction.
    */
  def paretoDeciles(df: DataFrame, keyCol: String,
                    valueCol: String): DataFrame = {
    val cents = round(col(valueCol) * 100).cast("long")
    val per = df.select(col(keyCol), cents.as("__c"))
      .groupBy(col(keyCol)).agg(sum(col("__c")).as("__v"))
    val banded = withRangeRank(per,
        Seq(col("__v").desc, col(keyCol)), "__r")
      .withColumn("__d", ntileFromRank(col("__r"), col("__n"), 10))
    val byBand = banded.groupBy(col("__d").as("decile"))
      .agg(count(lit(1)).as("n_entities"), sum(col("__v")).as("__s"))
    val total = byBand.agg(sum(col("__s")).as("__t"))
    val cum = Window.orderBy(col("decile"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byBand.crossJoin(broadcast(total))
      .withColumn("share",
        round(col("__s").cast("double") / col("__t").cast("double"), 6))
      .withColumn("cum_share",
        round(sum(col("__s")).over(cum).cast("double") /
          col("__t").cast("double"), 6))
      .select(col("decile"), col("n_entities"), col("share"),
        col("cum_share"))
  }

  /** RFM quintile segmentation: each entity scored 1..5 on Recency (days
    * since its last event, vs the corpus anchor = the global max date),
    * Frequency (event count), and Monetary (summed value, exact cents) —
    * the classic CRM segmentation. Quintiles rank so 1 = best (most
    * recent / most frequent / highest value), ties broken on the entity
    * id. Each of the three ranks runs over the per-entity AGGREGATE via
    * [[withRangeRank]] — three chained range passes, no single-partition
    * window; quintile membership is then pure arithmetic on the rank.
    */
  def rfmQuintiles(df: DataFrame, keyCol: String, tsCol: String,
                   valueCol: String): DataFrame = {
    val cents = round(col(valueCol) * 100).cast("long")
    val per = df.select(col(keyCol),
        unix_micros(col(tsCol).cast("timestamp")).as("__us"),
        cents.as("__c"))
      .groupBy(col(keyCol))
      .agg(max(col("__us")).as("__last"), count(lit(1)).as("frequency"),
        sum(col("__c")).as("__m"))
    val anchor = per.agg(max(col("__last")).as("__anchor"))
    val based = per.crossJoin(broadcast(anchor))
      .select(col(keyCol),
        floor((col("__anchor") - col("__last")) / lit(86400000000L))
          .as("recency_days"),
        col("frequency"), col("__m"))
    val r1 = withRangeRank(based,
      Seq(col("recency_days"), col(keyCol)), "__rr")
    val r2 = withRangeRank(r1,
      Seq(col("frequency").desc, col(keyCol)), "__rf")
    val r3 = withRangeRank(r2,
      Seq(col("__m").desc, col(keyCol)), "__rm")
    r3.select(col(keyCol), col("recency_days"), col("frequency"),
      round(col("__m").cast("double") / 100.0, 2).as("monetary"),
      ntileFromRank(col("__rr"), col("__n"), 5).as("r_quintile"),
      ntileFromRank(col("__rf"), col("__n"), 5).as("f_quintile"),
      ntileFromRank(col("__rm"), col("__n"), 5).as("m_quintile"))
  }

  /** Gini coefficient of a per-entity value distribution (0 = perfectly
    * even, →1 = fully concentrated): G = (2·Σᵢ i·xᵢ − (n+1)·Σx)/(n·Σx)
    * over values sorted ASCENDING with an id tie-break. Every sum is an
    * exact integer (cents × rank), so the two divisions at the end are
    * the only float ops — bit-identical across engines. The rank comes
    * from [[withRangeRank]] (no single-partition sort), and the rank
    * product's Long headroom (Σ i·xᵢ ≤ n²·max|cents|) is checked up
    * front — bucket pre-aggregation is the fallback past ~10⁹ entities
    * with large values.
    */
  def gini(df: DataFrame, keyCol: String, valueCol: String): DataFrame = {
    val cents = round(col(valueCol) * 100).cast("long")
    // Scoped cache: the overflow-guard collect and the rank pass would
    // otherwise each aggregate the fact table from scratch.
    val per = OpCaches.scoped(df.select(col(keyCol), cents.as("__c"))
      .groupBy(col(keyCol)).agg(sum(col("__c")).as("__v")))
    val head = per.agg(count(lit(1)).as("n"),
      max(abs(col("__v"))).as("mx")).collect()(0)
    val (n, mx) =
      (head.getLong(0), if (head.isNullAt(1)) 0L else head.getLong(1))
    require(n.toDouble * n.toDouble * mx.toDouble < 9.0e18,
      s"gini rank-weighted sum would overflow Long: n=$n maxAbsCents=$mx" +
        " — pre-aggregate into value buckets first")
    withRangeRank(per, Seq(col("__v"), col(keyCol)), "__i")
      .agg(count(lit(1)).as("n"),
        sum(col("__i") * col("__v")).as("__iw"),
        sum(col("__v")).as("__s"))
      .select(col("n"),
        round((lit(2L) * col("__iw") - (col("n") + 1) * col("__s"))
          .cast("double") /
          (col("n") * col("__s")).cast("double"), 6).as("gini"))
  }

  /** Leave-one-out target encoding: each row's category is replaced by
    * the mean target of the OTHER rows in that category — the standard
    * high-cardinality categorical feature for tree/linear models, with
    * the self-exclusion that prevents target leakage. Singleton
    * categories have no peers and emit null. Computed in EXACT integer
    * cent arithmetic ((Σ−y)/(n−1) from integer sums), so both engines
    * derive bit-identical doubles — a float group sum would wobble at
    * rounding boundaries. One group aggregation + one AQE-sized join
    * back (category cardinality-bounded).
    */
  def targetEncodeLoo(df: DataFrame, idCol: String, catCol: String,
                      targetCol: String): DataFrame = {
    val cents = round(col(targetCol) * 100).cast("long")
    val rows = df.select(col(idCol), col(catCol), cents.as("__c"))
    val agg = rows.groupBy(col(catCol))
      .agg(sum(col("__c")).as("__s"), count(lit(1)).as("__n"))
    rows.join(agg, Seq(catCol))
      .select(col(idCol), col(catCol),
        // Round to 4 dp in INTEGER arithmetic (half away from zero):
        // double-round here sits exactly on a .5 ulp boundary for some
        // groups, where Spark's BigDecimal HALF_UP and DuckDB's
        // multiply-round disagree by 1e-4. round4(N/D) with N=(Σ−y)·100,
        // D=n−1 is sign·((2|N|+D) div 2D), then one exact-integer →
        // double division by 10⁴ — bit-identical across engines.
        when(col("__n") > 1,
          (when(col("__s") >= col("__c"), lit(1L)).otherwise(lit(-1L)) *
            expr("(2 * abs((__s - __c) * 100) + (__n - 1)) div (2 * (__n - 1))"))
            .cast("double") / lit(10000.0))
          .as("loo_mean"))
  }

  /** CUPED-adjusted A/B comparison (Deng et al. 2013): each unit's
    * post-period metric y is adjusted by its pre-period covariate x —
    * adj = y − θ(x − x̄) with θ = cov(x,y)/var(x) pooled over all units —
    * removing the between-user variance the experiment did not cause.
    * Reports per-arm adjusted means, their difference, θ, and the
    * variance-reduction share. Two aggregations (unit roll-up, pooled
    * moments) plus one broadcast of the 1-row moment frame; every input
    * to the closed form is a plain sum, so the engines agree to the
    * rounding precision.
    */
  def cupedAdjusted(df: DataFrame, unitCol: String,
                    armA: org.apache.spark.sql.Column,
                    metric: org.apache.spark.sql.Column,
                    covariate: org.apache.spark.sql.Column): DataFrame = {
    val units = df.groupBy(col(unitCol))
      .agg(max(when(armA, 1L).otherwise(0L)).as("__a"),
        sum(metric).as("__y"), sum(covariate).as("__x"))
    val m = units.agg(count(lit(1)).cast("double").as("__n"),
      sum(col("__x")).as("__sx"), sum(col("__y")).as("__sy"),
      sum(col("__x") * col("__y")).as("__sxy"),
      sum(col("__x") * col("__x")).as("__sxx"),
      sum(col("__y") * col("__y")).as("__syy"))
    val withM = units.crossJoin(broadcast(m))
    val theta = (col("__sxy") - col("__sx") * col("__sy") / col("__n")) /
      (col("__sxx") - col("__sx") * col("__sx") / col("__n"))
    val adj = col("__y") - theta * (col("__x") - col("__sx") / col("__n"))
    val varY = (col("__syy") - col("__sy") * col("__sy") / col("__n")) /
      col("__n")
    withM
      .withColumn("__adj", adj)
      .withColumn("__vy", varY)
      .withColumn("__th", theta)
      .groupBy()
      .agg(sum(when(col("__a") === 1, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("__a") === 0, 1L).otherwise(0L)).as("n_b"),
        round(sum(when(col("__a") === 1, col("__adj"))) /
          sum(when(col("__a") === 1, 1.0)), 6).as("adj_mean_a"),
        round(sum(when(col("__a") === 0, col("__adj"))) /
          sum(when(col("__a") === 0, 1.0)), 6).as("adj_mean_b"),
        round(first(col("__th")), 6).as("theta"),
        round(lit(1.0) -
          ((sum(col("__adj") * col("__adj")) -
            sum(col("__adj")) * sum(col("__adj")) / count(lit(1)).cast("double")) /
            count(lit(1)).cast("double")) / first(col("__vy")), 6)
          .as("var_reduction"))
      .withColumn("adj_diff",
        round(col("adj_mean_a") - col("adj_mean_b"), 6))
  }

  /** Mutual information (nats) between two categorical columns — the
    * standard feature-selection / drift-detection signal: MI =
    * Σ_xy p(x,y)·ln(p(x,y)/(p(x)p(y))) over the observed contingency
    * cells. All counts are exact integers from three hash aggregations
    * (cells + two marginals — each shuffles one row per category, not
    * the data); the ratio is computed in doubles ((nxy·N)/(nx·ny), so
    * no integer product can overflow at 100 TB counts), and the final
    * sum runs over the category-bounded cell set. Joins onto the
    * marginals are AQE-sized — category cardinality is data-dependent,
    * so nothing is force-broadcast.
    */
  def mutualInfo(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val base = df.filter(col(xCol).isNotNull && col(yCol).isNotNull)
    val cells = base.groupBy(col(xCol), col(yCol))
      .agg(count(lit(1)).as("__nxy"))
    val mx = base.groupBy(col(xCol)).agg(count(lit(1)).as("__nx"))
    val my = base.groupBy(col(yCol)).agg(count(lit(1)).as("__ny"))
    val tot = base.agg(count(lit(1)).as("__n"))
    cells.join(mx, Seq(xCol)).join(my, Seq(yCol))
      .crossJoin(broadcast(tot))
      .agg(count(lit(1)).as("n_cells"),
        first(col("__n")).as("n_rows"),
        round(sum((col("__nxy").cast("double") / col("__n").cast("double")) *
          log(col("__nxy").cast("double") * col("__n").cast("double") /
            (col("__nx").cast("double") * col("__ny").cast("double")))), 6)
          .as("mutual_info_nats"))
  }

  /** Pearson chi-square test of independence over the same contingency:
    * χ² = Σ_ALL_cells (n_xy − e_xy)²/e_xy with e_xy = n_x·n_y/N. The
    * zero-count cells a naive observed-only sum silently drops are
    * folded in algebraically: their contribution is Σ_absent e = N −
    * Σ_observed e, so χ² = Σ_observed ((n−e)²/e − e) + N — no marginal
    * cross join ever materializes. Reports χ² and the (R−1)(C−1)
    * degrees of freedom.
    */
  def chiSquareIndependence(df: DataFrame, xCol: String,
                            yCol: String): DataFrame = {
    val base = df.filter(col(xCol).isNotNull && col(yCol).isNotNull)
    val cells = base.groupBy(col(xCol), col(yCol))
      .agg(count(lit(1)).as("__nxy"))
    val mx = base.groupBy(col(xCol)).agg(count(lit(1)).as("__nx"))
    val my = base.groupBy(col(yCol)).agg(count(lit(1)).as("__ny"))
    val tot = base.agg(count(lit(1)).as("__n"))
    val e = col("__nx").cast("double") * col("__ny").cast("double") /
      col("__n").cast("double")
    cells.join(mx, Seq(xCol)).join(my, Seq(yCol))
      .crossJoin(broadcast(tot))
      .agg(
        round(sum((col("__nxy").cast("double") - e) *
            (col("__nxy").cast("double") - e) / e - e) +
          first(col("__n")).cast("double"), 6).as("chi2"),
        ((countDistinct(col(xCol)) - 1) *
          (countDistinct(col(yCol)) - 1)).as("dof"))
  }

  /** EXACT percentiles of a numeric column at arbitrary scale — the
    * nearest-rank definition (value at rank ⌈p·n⌉) computed through
    * [[withRangeRank]], so no single-partition sort and no sketch
    * error: where approx_percentile trades accuracy for one pass, this
    * pays the two range passes and is bit-exact, which is what a
    * correctness gate (or an SLA percentile) needs. Percentiles are
    * taken at basis-point precision (p rounded to 4 decimals) so the
    * target rank is EXACT INTEGER arithmetic ((bp·n + 9999) div 10⁴) —
    * a float p·n product can straddle an integer boundary differently
    * per engine. Duplicate values make rank ASSIGNMENT among ties
    * arbitrary, but the value AT a given rank is the sorted multiset's
    * — deterministic either way.
    */
  def exactPercentiles(df: DataFrame, valueCol: String,
                       ps: Seq[Double]): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p > 0.0 && p <= 1.0),
      "percentiles must lie in (0, 1]")
    val vals = df.select(col(valueCol).cast("double").as("__v"))
      .filter(col("__v").isNotNull)
    val n = vals.count()
    require(n > 0, "exactPercentiles needs at least one non-null value")
    val ranked = withRangeRank(vals, Seq(col("__v")), "__r")
    val spark = df.sparkSession
    import spark.implicits._
    // A p in (0, 0.00005) passes the range require but rounds to basis
    // point 0 → target rank 0, which matches no row and would silently
    // drop the requested percentile from the output; clamp to bp 1.
    val targets = ps.map(p => math.max(1L, math.round(p * 10000).toLong))
      .distinct.sorted
      .map(bp => (bp.toDouble / 10000.0, (bp * n + 9999L) / 10000L))
    val pdf = targets.toDF("percentile", "__r")
    ranked.join(broadcast(pdf), Seq("__r"))
      .select(col("percentile"), col("__v").as("value"),
        col("__n").as("n_rows"))
  }

  /** Quantile normalization across groups — the batch-effect
    * correction: each row's value is replaced by the GLOBAL value at
    * its within-group quantile, so every group ends up with the same
    * marginal distribution (the cross-source score-calibration a
    * curation pipeline needs before mixing sources). Ranks: the
    * within-group rank is an ordinary group-keyed window (the group
    * partitions it — no global sort); the global rank goes through
    * [[withRangeRank]]. The quantile mapping r → 1 + (r−1)(N−1) div
    * (n_g−1) is EXACT integer arithmetic (singleton groups map to the
    * global median (N+1) div 2), and the final lookup is a rank-keyed
    * equi join.
    */
  def quantileNormalize(df: DataFrame, groupCol: String, valueCol: String,
                        idCol: String): DataFrame = {
    val base = df.select(col(idCol), col(groupCol),
        col(valueCol).cast("double").as("__v"))
      .filter(col("__v").isNotNull && col(groupCol).isNotNull)
    val wg = Window.partitionBy(col(groupCol))
      .orderBy(col("__v"), col(idCol))
    val grouped = base
      .withColumn("__r", row_number().over(wg).cast("long"))
      .withColumn("__ng",
        count(lit(1)).over(Window.partitionBy(col(groupCol))).cast("long"))
    val nTot = base.agg(count(lit(1)).as("__n0"))
    val lookup = withRangeRank(base.select(col("__v"), col(idCol)),
        Seq(col("__v"), col(idCol)), "__gr")
      .select(col("__gr").as("__t"), col("__v").as("__nv"))
    grouped.crossJoin(broadcast(nTot))
      .withColumn("__t",
        when(col("__ng") > 1,
          lit(1L) + expr("((__r - 1) * (__n0 - 1)) div (__ng - 1)"))
          .otherwise(expr("(__n0 + 1) div 2")))
      .join(lookup, Seq("__t"))
      .select(col(idCol), col(groupCol), col("__v").as("value"),
        round(col("__nv"), 6).as("normalized"))
  }

  /** Two-sample Kolmogorov–Smirnov drift statistic per group: for each
    * group g, D_g = max over value points of |ECDF_g − ECDF_rest| —
    * the standard distribution-drift screen for "did this source's
    * quality profile diverge". Computed EXACTLY over integers: at each
    * distinct value, |cum_g·(N−n_g) − (cum_all−cum_g)·n_g| is an
    * integer (the single division happens once, at the max). The only
    * materialized frame beyond the aggregates is the groups × distinct
    * values grid — bounded by the report's own dimensions (a KS report
    * over millions of groups is not a report; the group frame is
    * category-bounded, hence broadcast). Headroom: cum·N products need
    * n_g·N < 2⁶³; bucket the values first past ~10⁹ rows.
    */
  def ksDrift(df: DataFrame, groupCol: String,
              valueCol: String): DataFrame = {
    val base = df.select(col(groupCol).as("__g"),
        col(valueCol).cast("double").as("__v"))
      .filter(col("__v").isNotNull && col("__g").isNotNull)
    val cells = base.groupBy(col("__g"), col("__v"))
      .agg(count(lit(1)).as("__c"))
    val groups = base.groupBy(col("__g")).agg(count(lit(1)).as("__ng"))
    val vals = base.groupBy(col("__v")).agg(count(lit(1)).as("__cv"))
    val nTot = base.agg(count(lit(1)).as("__n0"))
    val grid = vals.crossJoin(broadcast(groups))
      .join(cells, Seq("__g", "__v"), "left")
      .select(col("__g"), col("__ng"), col("__v"), col("__cv"),
        coalesce(col("__c"), lit(0L)).as("__c"))
    val wv = Window.partitionBy(col("__g")).orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid
      .withColumn("__cumg", sum(col("__c")).over(wv))
      .withColumn("__cumall", sum(col("__cv")).over(wv))
      .crossJoin(broadcast(nTot))
      .groupBy(col("__g"))
      .agg(max(col("__ng")).as("__ngm"),
        max(abs(col("__cumg") * (col("__n0") - col("__ng")) -
          (col("__cumall") - col("__cumg")) * col("__ng"))).as("__num"),
        max(col("__n0")).as("__n0m"))
      .select(col("__g").as(groupCol), col("__ngm").as("n_group"),
        (col("__n0m") - col("__ngm")).as("n_rest"),
        when(col("__n0m") > col("__ngm"),
          round(col("__num").cast("double") /
            (col("__ngm").cast("double") *
              (col("__n0m") - col("__ngm")).cast("double")), 6)).as("ks"))
  }

  /** Two-snapshot Kolmogorov–Smirnov drift PER GROUP (L287): for each
    * group g, D_g = max over value points of |ECDF_ref,g − ECDF_cur,g| —
    * [[ksDrift]]'s group-vs-rest screen re-aimed at temporal drift
    * (yesterday's crawl vs today's, per source), the two-sample
    * companion to [[psiByGroup]] that needs no binning ([[ksOf]]).
    */
  def ksByGroup(ref: DataFrame, cur: DataFrame, valueCol: String,
                groupCol: String): DataFrame =
    cellDrift(ref, cur, groupCol, col(valueCol).cast("double"), "ks", ksOf)

  /** Two-snapshot Jensen–Shannon drift PER GROUP over a CATEGORICAL
    * column (L296) — the categorical member of the per-group drift
    * family: [[psiByGroup]] covers binned numerics, [[ksByGroup]]
    * continuous numerics, this one category mixes (language shares,
    * script mixes, format tags — "did src7's language mix shift since
    * yesterday's crawl"); see [[jsOf]].
    */
  def jsByGroup(ref: DataFrame, cur: DataFrame, catCol: String,
                groupCol: String): DataFrame =
    cellDrift(ref, cur, groupCol, col(catCol).cast("string"), "js", jsOf)

  /** Per group, `n_ref`/`n_cur` (non-null `key` rows per side) and
    * `out` = `stat` of the two sides' sorted (key, count) cells. Each
    * side is one aggregation ([[countCells]]); the sides join full-outer
    * on the group, so a one-sided group still reports. A group's cells
    * are one row, so the only skew bound is one group's own distinct-key
    * count. The reference cells are scope-cached: a per-micro-batch
    * caller re-deriving the same reference reads them from the
    * CacheManager.
    */
  private def cellDrift(ref: DataFrame, cur: DataFrame, groupCol: String,
                        key: Column, out: String,
                        stat: (Column, Column, Column, Column) => Column) = {
    def cells(df: DataFrame, s: String) = countCells(df, groupCol, key)
      .select(col(groupCol), col("cells").as(s"__$s"), col("n").as(s"n_$s"))
    OpCaches.scoped(cells(ref, "ref")).join(cells(cur, "cur"), Seq(groupCol),
        "full_outer")
      .na.fill(0L, Seq("n_ref", "n_cur"))
      .select(col(groupCol), col("n_ref"), col("n_cur"),
        stat(col("__ref"), col("__cur"), col("n_ref"), col("n_cur")).as(out))
  }

  /** KS statistic of two sorted numeric cells arrays (`k`, `n`) with
    * their totals — null unless both sides have evidence. EXACT over
    * integers: one linear merge of the two sides keeps the cumulative
    * counts, and at each distinct-value boundary |cumR·n_cur − cumC·n_ref|
    * is an integer; the single division happens once, at the max
    * ([[graft.functions.DriftKernels.KsStat]]). Headroom:
    * n_ref·n_cur < 2⁶³.
    */
  private[graft] def ksOf(ref: Column, cur: Column, nr: Column,
                          nc: Column): Column =
    CatalystBridge.column(DriftKernels.KsStat(CatalystBridge.expression(ref),
      CatalystBridge.expression(cur), CatalystBridge.expression(nr),
      CatalystBridge.expression(nc)))

  /** Jensen–Shannon divergence of two category cells arrays with their
    * totals: JS = ½·KL(p‖m) + ½·KL(q‖m), m the midpoint, over the union
    * of both sides' categories. Symmetric, bounded by ln 2, and needs no
    * smoothing — a category absent on one side contributes only through
    * the present side (0·ln 0 ≡ 0); a side with no cells has all-zero
    * shares, so a one-sided group reads ½·ln 2. Terms fold in sorted
    * order, so the sum is order-independent and engine-portable.
    */
  private[graft] def jsOf(ref: Column, cur: Column, nr: Column,
                          nc: Column): Column = {
    val (r, c) = (coalesce(ref, array()), coalesce(cur, array()))
    def share(cells: Column, n: Column, k: Column) = when(n > 0,
      aggregate(filter(cells, x => x.getField("k") === k), lit(0L),
        (a, x) => a + x.getField("n")).cast("double") / n).otherwise(lit(0.0))
    val pq = transform(array_distinct(concat(transform(r, _.getField("k")),
        transform(c, _.getField("k")))),
      k => struct(share(r, nr, k).as("p"), share(c, nc, k).as("q")))
    val terms = transform(pq, s => {
      val (p, q) = (s.getField("p"), s.getField("q"))
      val m = (p + q) / 2.0
      coalesce(when(p > 0, lit(0.5) * p * log(p / m)), lit(0.0)) +
        coalesce(when(q > 0, lit(0.5) * q * log(q / m)), lit(0.0))
    })
    round(aggregate(array_sort(terms), lit(0.0), (acc, x) => acc + x), 6)
  }

  /** Stationary distribution of the empirical event-type Markov chain
    * by fixed-count power iteration: πₖ₊₁(s) = Σ_t πₖ(t)·P(t,s) over
    * the row-normalized transition matrix (the |S|²-bounded aggregate
    * [[graft.ops.DataQuality.transitionMatrix]] builds) — "where does
    * the user journey settle". π re-quantizes to 6 decimals each round
    * (the k-means-oracle discipline), so the unrolled oracle replays
    * the recurrence exactly. Contract: every reachable state needs an
    * out-transition, or its mass leaks (the raw-pagerank contract; on
    * long per-user event streams every type appears on both sides).
    */
  def markovStationary(df: DataFrame, userCol: String, tsCol: String,
                       tieCol: String, stateCol: String,
                       iterations: Int = 3): DataFrame = {
    require(iterations >= 1 && iterations <= 20, "1..20 iterations")
    val tm = graft.ops.DataQuality.transitionMatrix(df, userCol, tsCol,
      tieCol, stateCol).localCheckpoint()
    val states = tm.select(col("from_state").as("state")).distinct()
      .localCheckpoint()
    val n = states.count().toDouble // bounded driver scalar (|S|)
    require(n > 0, "no transitions")
    var pi = states.select(col("state"),
      round(lit(1.0 / n), 6).as("p"))
    for (k <- 1 to iterations) {
      pi = tm
        .join(pi.withColumnRenamed("state", "from_state"),
          Seq("from_state"))
        .groupBy(col("to_state").as("state"))
        .agg(round(sum(col("p") * col("prob")), 6).as("p"))
      if (k < iterations) pi = pi.localCheckpoint()
    }
    pi.select(col("state"), col("p").as("stationary_p"))
  }

  /** Poisson-bootstrap confidence interval for a global mean — error
    * bars that actually scale: each row enters replica b with
    * multiplicity ~ Poisson(1), derived DETERMINISTICALLY by inverse
    * CDF on the md5-uniform of (key, b) (the keyed-hash sampling
    * doctrine — reproducible on any engine, any partitioning; Poisson
    * bootstrap is the standard streaming form since rows need no
    * global resample index). The replica fan-out is map-side and
    * collapses immediately into B partial sums per partition, so the
    * shuffle carries B rows, not B× the data. Replica means re-quantize
    * to 6 dp, then the CI picks nearest-rank quantiles with
    * basis-point integer rank arithmetic over the B-row (bounded)
    * frame.
    */
  def bootstrapMeanCi(df: DataFrame, keyCol: String, valueCol: String,
                      replicas: Int = 64,
                      alphaBp: Int = 500): DataFrame = {
    require(replicas >= 8 &&
        replicas <= graft.functions.HashExpressions.MaxPerms,
      s"8..${graft.functions.HashExpressions.MaxPerms} replicas")
    require(alphaBp >= 1 && alphaBp < 10000, "alpha in basis points")
    val base = df.select(col(keyCol).cast("string").as("__k"),
        col(valueCol).cast("double").as("__v"))
      .filter(col("__v").isNotNull)
    val cdf = Seq(0.36787944117144233, 0.7357588823428847,
      0.9196986029286058, 0.9810118431238463, 0.9963401531726563,
      0.9994058151824183)
    // One md5 digest carries 128 bits = FOUR independent 32-bit
    // uniforms, so replica 4g+c reads chunk c of digest g. Since round
    // 16 the whole per-row uniform array comes from ONE codegen'd kernel
    // call ([[graft.functions.HashExpressions.Md5ChunkUniforms]]) —
    // bit-identical to the historical nested-transform
    // `conv(substr(md5(concat(k,':',g)),8c+1,8),16,10)/2³²` formulation
    // (differential property in HashExpressionsSpec pins it), but with
    // no hex-string round-trip, no per-chunk substr/conv, and no
    // interpreted HOF lambda dispatch; element order (4g+c) means
    // posexplode's pos IS the replica index b. Measured at sf0.1:
    // stats_bootstrap_ci 7.0 s → (see OPTIMIZATION_r16.md).
    require(replicas % 4 == 0, "replicas must be a multiple of 4")
    val chunks = org.apache.spark.sql.graft.CatalystBridge.column(
      graft.functions.HashExpressions.Md5ChunkUniforms(
        org.apache.spark.sql.graft.CatalystBridge.expression(col("__k")),
        org.apache.spark.sql.graft.CatalystBridge.expression(
          lit(replicas / 4))))
    // Nest REVERSED so the outermost branch is the smallest threshold:
    // m = CASE WHEN u < c₀ THEN 0 WHEN u < c₁ THEN 1 … ELSE 6.
    val m = cdf.zipWithIndex.reverse.foldLeft(lit(6): Column) {
      case (acc, (t, i)) => when(col("__u") < t, lit(i)).otherwise(acc)
    }
    val perReplica = base
      .select(col("__v"), posexplode(chunks).as(Seq("__b", "__u")))
      .withColumn("__m", m.cast("double"))
      .groupBy(col("__b"))
      .agg(round(sum(col("__m") * col("__v")) /
        nullif(sum(col("__m")), lit(0.0)), 6).as("__mean"))
    // B-row frame: the global order window is bounded by `replicas`.
    // Degenerate replicas (zero total weight ⇒ null mean; only possible
    // at tiny n) are dropped BEFORE ranking — engines disagree on where
    // nulls sort (Spark NULLS FIRST, DuckDB NULLS LAST), and a null
    // carries no interval information anyway. Ranks are computed from
    // the SURVIVING replica count (not `replicas`): if any replica
    // drops, rank == replicas never exists and ci_hi would silently
    // read null. ceil((α/2)·cnt) in half-basis-point integer arithmetic
    // handles odd alphaBp symmetrically (no alphaBp/2 truncation), with
    // ranks clamped into [1, cnt].
    val rn = row_number().over(Window.orderBy(col("__mean"), col("__b")))
    val ranked = perReplica.filter(col("__mean").isNotNull)
      .withColumn("__rn", rn)
      .withColumn("__cnt", count(lit(1)).over(Window.partitionBy()))
    val loRank = expr(s"greatest(1L, ($alphaBp * __cnt + 19999) div 20000)")
    val hiRank = expr(
      s"least(__cnt, ((20000 - $alphaBp) * __cnt + 19999) div 20000)")
    val overall = base.agg(count(lit(1)).as("n"),
      round(avg(col("__v")), 6).as("mean"))
    overall.crossJoin(broadcast(ranked
      .agg(min(when(col("__rn") === loRank, col("__mean"))).as("ci_lo"),
        min(when(col("__rn") === hiRank, col("__mean"))).as("ci_hi"),
        count(lit(1)).as("n_replicas"))))
  }

  def pearson(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val x = col(xCol).cast("double")
    val y = col(yCol).cast("double")
    df.filter(x.isNotNull && y.isNotNull)
      .agg(count(lit(1)).as("n"), sum(x).as("__sx"), sum(y).as("__sy"),
        sum(x * y).as("__sxy"), sum(x * x).as("__sxx"), sum(y * y).as("__syy"))
      .select(col("n"),
        ((col("n") * col("__sxy") - col("__sx") * col("__sy")) /
          nullif(sqrt(col("n") * col("__sxx") - col("__sx") * col("__sx")) *
            sqrt(col("n") * col("__syy") - col("__sy") * col("__sy")), lit(0.0)))
          .as("corr"))
  }

  /** Cohen's kappa — chance-corrected agreement between two categorical
    * raters (the labeling-pipeline QA metric: "are annotator A and the
    * model actually agreeing beyond what their marginals force").
    * κ = (p_o − p_e) / (1 − p_e), p_o = agreement share, p_e = Σ_c of
    * the two raters' marginal shares multiplied.
    *
    * One hash-agg over the (rater_a, rater_b) contingency cells (bounded
    * by |categories|²), then the marginals and κ fold on that bounded
    * frame — integer counts until the final divisions. Rows where either
    * side is null are excluded (no-label ≠ a label). κ = null when
    * p_e = 1 (both raters constant and equal — agreement is undefined,
    * not perfect). Output: (n_items, p_observed, p_expected, kappa).
    */
  /** Welch's unequal-variance two-sample t — the A/B significance
    * statistic that doesn't assume equal group variances:
    * t = (m_a − m_b)/√(v_a/n_a + v_b/n_b), with the Welch–Satterthwaite
    * degrees of freedom. Emits t and dof only — p-values need the
    * incomplete beta, whose libm paths differ per engine; the caller
    * compares t against their chosen critical value.
    *
    * One group-keyed aggregation (count/avg/var_samp), two 1-row
    * broadcasts, a closed-form projection. Outputs round at 4 dp (the
    * [[groupStats]] moment-stat discipline — variance accumulation
    * order differs across engines in the last ulps). Null when either
    * group has < 2 rows or both variances are 0.
    */
  def welchTTest(df: DataFrame, groupCol: String, valueCol: String,
                 groupA: String, groupB: String): DataFrame = {
    val v = col(valueCol).cast("double")
    val agg = df.filter(col(groupCol).isin(groupA, groupB) && v.isNotNull)
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("__n"), avg(v).as("__m"), var_samp(v).as("__v"))
    def side(g: String, suffix: String) = agg
      .filter(col(groupCol) === g)
      .select(col("__n").as(s"n_$suffix"), col("__m").as(s"__m_$suffix"),
        col("__v").as(s"__v_$suffix"))
    val a = side(groupA, "a")
    val b = side(groupB, "b")
    val sa = col("__v_a") / col("n_a")
    val sb = col("__v_b") / col("n_b")
    val se2 = sa + sb
    a.crossJoin(broadcast(b))
      .select(col("n_a"), col("n_b"),
        round(col("__m_a"), 4).as("mean_a"),
        round(col("__m_b"), 4).as("mean_b"),
        when(col("n_a") >= 2 && col("n_b") >= 2 && se2 > 0.0,
          round((col("__m_a") - col("__m_b")) / sqrt(se2), 4)).as("t_stat"),
        when(col("n_a") >= 2 && col("n_b") >= 2 && se2 > 0.0,
          round((se2 * se2) /
            (sa * sa / (col("n_a") - 1) + sb * sb / (col("n_b") - 1)), 2))
          .as("dof"))
  }

  def cohensKappa(df: DataFrame, raterACol: String,
                  raterBCol: String): DataFrame = {
    // ONE corpus pass builds the |cats|²-bounded contingency cells;
    // marginals, the diagonal, and the total all derive from that frame.
    val cells = df
      .filter(col(raterACol).isNotNull && col(raterBCol).isNotNull)
      .groupBy(col(raterACol).cast("string").as("__a"),
        col(raterBCol).cast("string").as("__b"))
      .agg(count(lit(1)).as("__n"))
      .localCheckpoint() // reused four ways; recomputing = 4 corpus scans
    val ma = cells.groupBy(col("__a").as("__c")).agg(sum(col("__n")).as("__na"))
    val mb = cells.groupBy(col("__b").as("__c")).agg(sum(col("__n")).as("__nb"))
    // Inner join: a category one rater never uses has n_a·n_b = 0 and
    // contributes nothing to p_e. Products stay in Long (< 2^63 up to
    // ~3·10⁹ items per side).
    val peNum = ma.join(mb, Seq("__c"))
      .agg(coalesce(sum(col("__na") * col("__nb")), lit(0L)).as("__pe_num"))
    val totals = cells.agg(sum(col("__n")).as("n_items"),
      coalesce(sum(when(col("__a") === col("__b"), col("__n"))),
        lit(0L)).as("__agree"))
    totals.crossJoin(broadcast(peNum))
      .select(col("n_items"),
        round(col("__agree").cast("double") / col("n_items"), 6)
          .as("p_observed"),
        round(col("__pe_num").cast("double") /
          (col("n_items") * col("n_items")).cast("double"), 6)
          .as("p_expected"))
      .withColumn("kappa",
        when(col("p_expected") === 1.0, lit(null).cast("double"))
          .otherwise(round((col("p_observed") - col("p_expected")) /
            (lit(1.0) - col("p_expected")), 6)))
  }

  /** Mann–Whitney U — the nonparametric two-sample A/B test (does one
    * arm's value distribution stochastically dominate the other's),
    * robust where Welch's t is not: heavy tails, ordinal metrics.
    *
    * Same exact-integer midrank algebra as [[aucRoc]] (U IS the AUC
    * numerator): per distinct value, 2·midrank = 2·cumBefore + cnt + 1,
    * so 2·R_A = Σ cntA·(2·cb + cnt + 1) is an exact Long and
    * U_A = R_A − n_A(n_A+1)/2 follows without ever ranking row-by-row.
    * The normal approximation carries the standard tie correction:
    * Var(U) = n_A·n_B/12 · ((N+1) − Σ(t³−t)/(N(N−1))). No continuity
    * correction (engines and textbooks disagree on ±0.5; the exact U is
    * emitted so callers can apply their own).
    *
    * Plan: one value-keyed hash-agg to the distinct-value cells, the
    * [[withRangeCumSum]] exclusive prefix (no single-partition sort),
    * one global fold. Headroom: Σt³ — past ~2M rows tied on ONE value,
    * pre-bucket. z rounds at 4 dp ([[welchTTest]] discipline); U is an
    * exact half-integer and emits unrounded.
    */
  def mannWhitneyU(df: DataFrame, groupCol: String, valueCol: String,
                   groupA: String, groupB: String): DataFrame = {
    val v = col(valueCol).cast("double")
    val cells = df
      .filter(col(groupCol).isin(groupA, groupB) && v.isNotNull)
      .groupBy(v.as("__v"))
      .agg(count(lit(1)).as("__cnt"),
        sum(when(col(groupCol) === groupA, 1L).otherwise(0L)).as("__ca"))
    val cum = withRangeCumSum(cells, Seq(col("__v")), col("__cnt"), "__cb")
    val folded = cum.agg(
      sum(col("__ca")).as("__na"),
      sum(col("__cnt") - col("__ca")).as("__nb"),
      sum(col("__ca") * (lit(2L) * col("__cb") + col("__cnt") + 1))
        .as("__r2a"),
      sum(col("__cnt") * col("__cnt") * col("__cnt") - col("__cnt"))
        .as("__t3"),
      sum(col("__cnt")).as("__n"))
    val na = col("__na").cast("double")
    val nb = col("__nb").cast("double")
    val n = col("__n").cast("double")
    // 2U = 2R_A − n_A(n_A+1): exact Long; U in exact .5 steps.
    val u2 = col("__r2a") - col("__na") * (col("__na") + 1)
    val varU = na * nb / 12.0 *
      ((n + 1.0) - col("__t3").cast("double") / (n * (n - 1.0)))
    folded.select(
      col("__na").as("n_a"), col("__nb").as("n_b"),
      (u2.cast("double") / 2.0).as("u_stat"),
      when(col("__na") > 0 && col("__nb") > 0 && col("__n") > 1 && varU > 0.0,
        round((u2.cast("double") / 2.0 - na * nb / 2.0) / sqrt(varU), 4))
        .as("z_stat"))
  }

  /** Kruskal–Wallis H — the k-group generalization of [[mannWhitneyU]]
    * ("do ANY of these arms differ in location"), the nonparametric
    * one-way ANOVA. H = 12/(N(N+1)) · Σ_g R̄²_g/n_g − 3(N+1), divided by
    * the tie factor 1 − Σ(t³−t)/(N³−N).
    *
    * Ranks never materialize per row: distinct-value cells carry
    * (cnt, per-group cnt) — the per-(group, value) frame joins the
    * value-keyed exclusive prefix on the value key (one co-keyed
    * shuffle) and each group's DOUBLED rank sum Σ gcnt·(2·cb + cnt + 1)
    * is an exact Long. Output is one row: (k, n, h_stat, h_tie_corrected),
    * both at 4 dp; dof = k − 1 is the caller's chi-square lookup.
    */
  def kruskalWallis(df: DataFrame, groupCol: String,
                    valueCol: String): DataFrame = {
    val v = col(valueCol).cast("double")
    val base = df.filter(col(groupCol).isNotNull && v.isNotNull)
      .select(col(groupCol).cast("string").as("__g"), v.as("__v"))
    val cells = base.groupBy(col("__v")).agg(count(lit(1)).as("__cnt"))
    val cum = withRangeCumSum(cells, Seq(col("__v")), col("__cnt"), "__cb")
    val gcells = base.groupBy(col("__g"), col("__v"))
      .agg(count(lit(1)).as("__gc"))
    // Doubled per-group rank sums: exact Longs until the final fold.
    val perGroup = gcells.join(cum, "__v")
      .groupBy(col("__g"))
      .agg(sum(col("__gc")).as("__ng"),
        sum(col("__gc") * (lit(2L) * col("__cb") + col("__cnt") + 1))
          .as("__r2g"))
    val ties = cum.agg(
      sum(col("__cnt") * col("__cnt") * col("__cnt") - col("__cnt"))
        .as("__t3"),
      sum(col("__cnt")).as("__n"))
    val n = col("__n").cast("double")
    // Σ (R2_g/2)²/n_g : half-integer squares are exact in double.
    val hCore = perGroup.agg(
      count(lit(1)).as("k"),
      sum((col("__r2g").cast("double") / 2.0) *
        (col("__r2g").cast("double") / 2.0) /
        col("__ng").cast("double")).as("__rss"))
    val h = lit(12.0) / (n * (n + 1.0)) * col("__rss") - lit(3.0) * (n + 1.0)
    val tieFactor =
      lit(1.0) - col("__t3").cast("double") / (n * n * n - n)
    hCore.crossJoin(broadcast(ties)).select(
      col("k"), col("__n").as("n"),
      when(col("__n") > 1, round(h, 4)).as("h_stat"),
      when(col("__n") > 1 && tieFactor > 0.0, round(h / tieFactor, 4))
        .as("h_tie_corrected"))
  }

  /** One-way ANOVA F — the parametric k-group mean test. Derived
    * entirely from per-group moments (n, Σv, Σv²): SSB = Σ n_g m_g² −
    * N·m², SSW = Σv² − Σ n_g m_g², F = (SSB/(k−1))/(SSW/(N−k)). One
    * group-keyed hash-agg (shuffle = k rows) and a scalar fold — the
    * same moment discipline as [[welchTTest]]; F and the two mean
    * squares round at 4 dp. Null F when N ≤ k or SSW = 0 (all-constant
    * groups: the ratio is undefined, not infinite significance).
    */
  def anovaF(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val v = col(valueCol).cast("double")
    val g = df.filter(col(groupCol).isNotNull && v.isNotNull)
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("__ng"), sum(v).as("__s"),
        sum(v * v).as("__ss"))
    val folded = g.agg(
      count(lit(1)).as("k"), sum(col("__ng")).as("n"),
      sum(col("__s")).as("__ts"), sum(col("__ss")).as("__tss"),
      sum(col("__s") * col("__s") / col("__ng").cast("double"))
        .as("__snm2"))
    val n = col("n").cast("double")
    val k = col("k").cast("double")
    val ssb = col("__snm2") - col("__ts") * col("__ts") / n
    val ssw = col("__tss") - col("__snm2")
    val msb = ssb / (k - 1.0)
    val msw = ssw / (n - k)
    folded.select(
      col("k"), col("n"),
      when(col("k") > 1, round(msb, 4)).as("ms_between"),
      when(col("n") > col("k"), round(msw, 4)).as("ms_within"),
      when(col("k") > 1 && col("n") > col("k") && msw > 0.0,
        round(msb / msw, 4)).as("f_stat"))
  }

  /** Spearman rank correlation between two numeric columns — Pearson
    * over midranks, the monotone-association statistic that survives
    * heavy tails and nonlinearity (value-vs-time drift, score-vs-score
    * agreement). Tie-exact: per distinct value the DOUBLED midrank
    * 2r = 2·cumBefore + cnt + 1 is an integer Long from the same
    * [[withRangeCumSum]] exclusive prefix that powers [[aucRoc]] — no
    * single-partition sort. The five moment sums fold as exact Longs
    * (bit-identical to the oracle's HUGEINT sums), cast to double only
    * for the closed-form ρ; doubling cancels in the ratio. Headroom:
    * Σ(2r)² ≤ 4n³ needs n ≲ 1.3e6 to stay in Long — past that, bucket
    * values first (the rank map is per-DISTINCT-value, so any
    * quantization of the inputs shrinks it). Each rank map is a
    * |distinct|-row frame; the joins back to rows are value-keyed
    * equi-joins, AQE-sized.
    */
  def spearmanCorr(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val base = df.select(col(xCol).cast("double").as("__x"),
        col(yCol).cast("double").as("__y"))
      .filter(col("__x").isNotNull && col("__y").isNotNull)
    def rankMap(c: String, out: String): DataFrame = {
      val cells = base.groupBy(col(c)).agg(count(lit(1)).as("__cnt"))
      withRangeCumSum(cells, Seq(col(c)), col("__cnt"), "__cb")
        .select(col(c),
          (lit(2L) * col("__cb") + col("__cnt") + 1).as(out))
    }
    val ranked = base
      .join(rankMap("__x", "__rx"), "__x")
      .join(rankMap("__y", "__ry"), "__y")
    val m = ranked.agg(count(lit(1)).as("n"),
      sum(col("__rx")).as("__sx"), sum(col("__ry")).as("__sy"),
      sum(col("__rx") * col("__rx")).as("__sxx"),
      sum(col("__ry") * col("__ry")).as("__syy"),
      sum(col("__rx") * col("__ry")).as("__sxy"))
    val nD = col("n").cast("double")
    def d(c: String) = col(c).cast("double")
    m.select(col("n"),
      when(col("n") >= 3,
        round((nD * d("__sxy") - d("__sx") * d("__sy")) /
          nullif(sqrt(nD * d("__sxx") - d("__sx") * d("__sx")) *
            sqrt(nD * d("__syy") - d("__sy") * d("__sy")), lit(0.0)), 4))
        .as("spearman_rho"))
  }

  /** Levene's variance-homogeneity test (mean-centered): W = the
    * one-way ANOVA F computed on z_ij = |v_ij − mean_j| — the check
    * that guards [[anovaF]]'s equal-variance assumption. Two passes:
    * a k-row group-mean broadcast join, then [[anovaF]]'s single
    * moment aggregation on z. Output mirrors anovaF with the statistic
    * renamed w_stat.
    */
  def leveneTest(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val v = col(valueCol).cast("double")
    val filtered = df.filter(col(groupCol).isNotNull && v.isNotNull)
    val means = filtered.groupBy(col(groupCol)).agg(avg(v).as("__gm"))
    val z = filtered.join(broadcast(means), Seq(groupCol))
      .select(col(groupCol), abs(v - col("__gm")).as("__z"))
    anovaF(z, groupCol, "__z")
      .select(col("k"), col("n"),
        col("ms_between"), col("ms_within"),
        col("f_stat").as("w_stat"))
  }

  /** Standardized effect size for a two-arm comparison: Cohen's d on
    * the pooled standard deviation, plus Hedges' g small-sample
    * correction g = d·(1 − 3/(4N − 9)) — the magnitude read-out that a
    * significance test ([[welchTTest]]) doesn't give. Same single
    * group-keyed moment aggregation and two 1-row broadcasts as the t;
    * null d when either arm has < 2 rows or the pooled variance is 0.
    */
  def cohensD(df: DataFrame, groupCol: String, valueCol: String,
              groupA: String, groupB: String): DataFrame = {
    val v = col(valueCol).cast("double")
    val agg0 = df.filter(col(groupCol).isin(groupA, groupB) && v.isNotNull)
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("__n"), avg(v).as("__m"), var_samp(v).as("__v"))
    def side(g: String, suffix: String) = agg0
      .filter(col(groupCol) === g)
      .select(col("__n").as(s"n_$suffix"), col("__m").as(s"__m_$suffix"),
        col("__v").as(s"__v_$suffix"))
    val joined = side(groupA, "a").crossJoin(broadcast(side(groupB, "b")))
    val nA = col("n_a").cast("double")
    val nB = col("n_b").cast("double")
    val sp2 = ((nA - 1.0) * col("__v_a") + (nB - 1.0) * col("__v_b")) /
      (nA + nB - 2.0)
    val dStat = (col("__m_a") - col("__m_b")) / sqrt(sp2)
    val ok = col("n_a") >= 2 && col("n_b") >= 2 && sp2 > 0.0
    joined.select(col("n_a"), col("n_b"),
      round(col("__m_a"), 4).as("mean_a"),
      round(col("__m_b"), 4).as("mean_b"),
      when(ok, round(dStat, 4)).as("cohens_d"),
      when(ok, round(dStat *
        (lit(1.0) - lit(3.0) / (lit(4.0) * (nA + nB) - 9.0)), 4))
        .as("hedges_g"))
  }

  /** Cramér's V — the normalized effect size for the
    * [[chiSquareIndependence]] contingency: V = √(χ²/(N·min(R−1,C−1)))
    * ∈ [0,1], comparable across tables of any shape where raw χ² is
    * not. Same three category-bounded hash aggregations and
    * zero-cell-folded χ² as the test; V derives from the UNROUNDED χ²
    * so the two reported numbers round independently. Null V for a
    * 1×C or R×1 table (no association is definable).
    */
  def cramersV(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val base = df.filter(col(xCol).isNotNull && col(yCol).isNotNull)
    val cells = base.groupBy(col(xCol), col(yCol))
      .agg(count(lit(1)).as("__nxy"))
    val mx = base.groupBy(col(xCol)).agg(count(lit(1)).as("__nx"))
    val my = base.groupBy(col(yCol)).agg(count(lit(1)).as("__ny"))
    val tot = base.agg(count(lit(1)).as("__n"))
    val e = col("__nx").cast("double") * col("__ny").cast("double") /
      col("__n").cast("double")
    val folded = cells.join(mx, Seq(xCol)).join(my, Seq(yCol))
      .crossJoin(broadcast(tot))
      .agg(
        (sum((col("__nxy").cast("double") - e) *
            (col("__nxy").cast("double") - e) / e - e) +
          first(col("__n")).cast("double")).as("__chi2"),
        first(col("__n")).as("n_rows"),
        countDistinct(col(xCol)).as("r"),
        countDistinct(col(yCol)).as("c"))
    val minDim = (least(col("r"), col("c")) - 1).cast("double")
    folded.select(col("n_rows"), col("r"), col("c"),
      round(col("__chi2"), 6).as("chi2"),
      when(minDim > 0.0,
        round(sqrt(col("__chi2") /
          (col("n_rows").cast("double") * minDim)), 6)).as("cramers_v"))
  }

  /** EXACT symmetric trimmed mean: drop the k = (n·bp) div 10⁴ lowest
    * and highest values (basis-point trim fraction — integer target
    * arithmetic, the [[exactPercentiles]] discipline) and average the
    * middle n−2k. Ranks via [[withRangeRank]] (no single-partition
    * sort, no sketch); tie ASSIGNMENT among equal values is arbitrary
    * but the surviving multiset — and hence the mean — is
    * deterministic. The robust-location summary to quote when
    * [[bootstrapMeanCi]]'s plain mean is hostage to tail outliers.
    */
  def trimmedMean(df: DataFrame, valueCol: String, tieCol: String,
                  trimBp: Int = 500): DataFrame = {
    require(trimBp >= 0 && trimBp < 5000, "trim fraction in [0, 0.5) bp")
    val base = df.select(col(valueCol).cast("double").as("__v"),
        col(tieCol).as("__t"))
      .filter(col("__v").isNotNull)
    val ranked = withRangeRank(base, Seq(col("__v"), col("__t")), "__r")
      .withColumn("__k", expr(s"(__n * $trimBp) div 10000"))
    ranked.filter(col("__r") > col("__k") &&
        col("__r") <= col("__n") - col("__k"))
      .agg(first(col("__n")).as("n_rows"),
        count(lit(1)).as("n_kept"),
        round(avg(col("__v")), 6).as("trimmed_mean"))
  }

  /** Deterministic two-sample randomization test: B hash-derived
    * relabelings of the pooled rows (replica b assigns a row to arm A′
    * iff its [0,1) md5-chunk uniform — the [[bootstrapMeanCi]] digest
    * recipe, exact on any engine — falls below n_a/(n_a+n_b)), and the
    * report is HOW MANY replicas produce |mean(A′) − mean(B′)| at least
    * as large as the observed |mean_a − mean_b|. A rank among replicas,
    * not a p-value — no libm tail functions, and the Bernoulli
    * allocation (expected arm sizes, not exact — documented) keeps the
    * whole thing one explode + one B-row aggregation: the shuffle
    * carries B rows per map partition, never B× the data. Replica and
    * observed diffs re-quantize at 6 dp BEFORE the ≥ comparison so an
    * ulp of cross-engine drift cannot flip a count.
    */
  def permutationTest(df: DataFrame, keyCol: String, groupCol: String,
                      valueCol: String, groupA: String, groupB: String,
                      replicas: Int = 32): DataFrame = {
    // Bound shared with the md5 kernel: replicas/4 uniforms per digest,
    // so replicas = 4·groups maps to Md5ChunkUniforms' MaxGroups exactly.
    require(replicas >= 8 &&
        replicas <= graft.functions.HashExpressions.MaxPerms &&
        replicas % 4 == 0,
      s"replicas: multiple of 4 in 8..${graft.functions.HashExpressions.MaxPerms}")
    val base = df
      .filter(col(groupCol).isin(groupA, groupB) &&
        col(valueCol).isNotNull)
      .select(col(keyCol).cast("string").as("__k"),
        (col(groupCol) === groupA).as("__ya"),
        col(valueCol).cast("double").as("__v"))
    val obs = base.agg(
      sum(when(col("__ya"), 1L).otherwise(0L)).as("n_a"),
      sum(when(!col("__ya"), 1L).otherwise(0L)).as("n_b"),
      round(avg(when(col("__ya"), col("__v"))) -
        avg(when(!col("__ya"), col("__v"))), 6).as("__dobs"))
    // Same codegen'd uniform kernel as [[bootstrapMeanCi]] (round 16):
    // one call yields the replica uniforms in (4g+c) order, so
    // posexplode's pos is the replica index — bit-identical to the
    // historical nested-transform conv(substr(md5(...))) formulation
    // (differential property in HashExpressionsSpec).
    val chunks = org.apache.spark.sql.graft.CatalystBridge.column(
      graft.functions.HashExpressions.Md5ChunkUniforms(
        org.apache.spark.sql.graft.CatalystBridge.expression(col("__k")),
        org.apache.spark.sql.graft.CatalystBridge.expression(
          lit(replicas / 4))))
    val pA = col("n_a").cast("double") /
      (col("n_a") + col("n_b")).cast("double")
    val perReplica = base
      .select(col("__v"), posexplode(chunks).as(Seq("__b", "__u")))
      .crossJoin(broadcast(obs))
      .select(col("__v"), col("__b"),
        (col("__u") < pA).as("__toA"), col("__dobs"))
      .groupBy(col("__b"))
      .agg(first(col("__dobs")).as("__dobs"),
        round(avg(when(col("__toA"), col("__v"))) -
          avg(when(!col("__toA"), col("__v"))), 6).as("__db"))
    perReplica
      .agg(count(lit(1)).as("n_replicas"),
        sum(when(col("__db").isNotNull &&
            abs(col("__db")) >= abs(col("__dobs")), 1L).otherwise(0L))
          .as("n_as_extreme"),
        first(col("__dobs")).as("diff_obs"))
      .crossJoin(broadcast(obs.select(col("n_a"), col("n_b"))))
      .select(col("n_a"), col("n_b"), col("diff_obs"),
        col("n_replicas"), col("n_as_extreme"))
  }

  /** Krippendorff's alpha (nominal) — inter-annotator agreement that,
    * unlike [[cohensKappa]], handles ANY number of raters per item and
    * missing judgments: α = 1 − D_o/D_e with
    * D_o = Σ_items (m_u² − Σ_c n_uc²)/(m_u − 1) (observed off-diagonal
    * coincidences) and D_e = (n² − Σ_c n_c²)/(n − 1) from the pooled
    * margins — the RLHF label-quality read-out when every prompt gets
    * a variable number of ratings. Items with a single judgment drop
    * (they pin no agreement). Everything is exact integer counts from
    * two hash aggregations until the final rational folds; α rounds at
    * 6 dp. Headroom: Σ n_c² needs n ≲ 3e9 in a Long — past that,
    * downsample items (α is a ratio estimate; item sampling is
    * unbiased).
    */
  def krippendorffAlpha(df: DataFrame, itemCol: String,
                        catCol: String): DataFrame = {
    val base = df.filter(col(itemCol).isNotNull && col(catCol).isNotNull)
    val nuc = base.groupBy(col(itemCol), col(catCol))
      .agg(count(lit(1)).as("__nuc"))
    val perItem = nuc.groupBy(col(itemCol))
      .agg(sum(col("__nuc")).as("__m"),
        sum(col("__nuc") * col("__nuc")).as("__s2"))
      .filter(col("__m") >= 2)
    val doAgg = perItem.agg(
      count(lit(1)).as("n_items"),
      sum(col("__m")).as("n_judgments"),
      sum((col("__m") * col("__m") - col("__s2")).cast("double") /
        (col("__m") - 1).cast("double")).as("__do"))
    val kept = nuc.join(perItem.select(col(itemCol)), Seq(itemCol),
      "left_semi")
    val de = kept.groupBy(col(catCol)).agg(sum(col("__nuc")).as("__nc"))
      .agg(sum(col("__nc")).as("__n"),
        sum(col("__nc") * col("__nc")).as("__nc2"))
    doAgg.crossJoin(broadcast(de))
      .select(col("n_items"), col("n_judgments"),
        when(col("__n") > 1 && col("__n") * col("__n") - col("__nc2") > 0,
          round(lit(1.0) - col("__do") /
            ((col("__n") * col("__n") - col("__nc2")).cast("double") /
              (col("__n") - 1).cast("double")), 6)).as("alpha"))
  }

  /** Cumulative lift / gains curve over score-descending buckets — the
    * targeting-model eval that [[aucRoc]] summarizes away: for each of
    * `buckets` equal-population score bands, the positives captured so
    * far and lift = (cum positive rate)/(base rate). Global ordering
    * through [[withRangeRank]] on (score DESC, tie) with the EXACT
    * integer band formula ((r−1)·buckets) div n + 1; the cumulative
    * window runs over the `buckets`-row aggregate only (the
    * bootstrapMeanCi B-row-frame discipline). Callers must pass a
    * total tie-break so band POPULATION is engine-stable even when
    * scores tie across a boundary (the capture counts then depend on
    * tie order — same caveat as any top-k by a tied score).
    */
  def liftCurve(df: DataFrame, labelCol: Column, scoreCol: String,
                tieCol: String, buckets: Int = 10): DataFrame = {
    require(buckets >= 2 && buckets <= 1000, "buckets in 2..1000")
    val base = df.select(col(scoreCol).cast("double").as("__s"),
        col(tieCol).as("__t"),
        when(labelCol, 1L).otherwise(0L).as("__y"))
      .filter(col("__s").isNotNull)
    val ranked = withRangeRank(base,
      Seq(col("__s").desc, col("__t")), "__r")
    val perBucket = ranked
      .withColumn("bucket", expr(s"((__r - 1) * $buckets) div __n + 1"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"), sum(col("__y")).as("positives"),
        first(col("__n")).as("__nt"))
    val w = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = perBucket.agg(sum(col("positives")).as("__pt"))
    perBucket.crossJoin(broadcast(tot))
      .withColumn("__cn", sum(col("n")).over(w))
      .withColumn("__cp", sum(col("positives")).over(w))
      .select(col("bucket").cast("int").as("bucket"), col("n"),
        col("positives"), col("__cp").as("cum_positives"),
        when(col("__pt") > 0,
          round(col("__cp").cast("double") / col("__pt").cast("double"), 6))
          .as("capture_rate"),
        when(col("__pt") > 0,
          round((col("__cp").cast("double") / col("__cn").cast("double")) /
            (col("__pt").cast("double") / col("__nt").cast("double")), 6))
          .as("lift"))
  }
}
