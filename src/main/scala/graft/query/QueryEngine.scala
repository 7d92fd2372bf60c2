package graft.query

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.model.QuerySpec
import graft.ops.{CohortFilter, SeriesOps, Stats}

/** The cohort-analysis lifecycle (SURVEY.md §3.1) as one lazily-composed
  * DataFrame graph: QuerySpec → cohort resolution → date-windowed series →
  * KPI bundle with subject-vs-control deltas and per-time-of-day-range
  * analyses.
  *
  * Where the reference eagerly materializes each stage in pandas
  * (`viz.py:653-1187`), every result here is a DataFrame the caller can
  * compose further; Catalyst sees the whole graph (cohort predicates reach
  * the subjects scan, the date filter reaches the series scan, the cohort
  * semi-join broadcasts).
  */
object QueryEngine {

  final case class ResultBundle(
      subjects: DataFrame,     // resolved subject cohort
      control: DataFrame,      // resolved control cohort
      kpis: DataFrame,         // 1 row: subject avg/min/max + control avg + delta
      userSpans: DataFrame,    // per-subject-user observed span
      todKpis: DataFrame)      // per labeled time-of-day range KPIs

  /** Per-feature KPI table — the dashboard's multi-feature results view
    * (one KPI row per feature table, subject vs control): folds every
    * feature series through the same two cohort frames. The cohorts are not
    * cached; each is resolved once per call because every feature's
    * semi-join broadcasts the same cohort plan, and Spark reuses that
    * broadcast exchange across the union's branches.
    */
  def runFeatures(spec: QuerySpec, subjects: DataFrame,
                  features: Map[String, DataFrame],
                  userCol: String, tsCol: String, valueCol: String): DataFrame = {
    val subjectCohort = CohortFilter(subjects, spec.subjectSelection.filters())
    val controlCohort = CohortFilter(subjects, spec.controlSelection.filters())
    features.toSeq.sortBy(_._1).map { case (name, series) =>
      val windowed = SeriesOps.dateRange(series, tsCol, spec.startDate, spec.endDate)
      val subj = CohortFilter.semiJoin(windowed, subjectCohort, userCol)
      val ctrl = CohortFilter.semiJoin(windowed, controlCohort, userCol)
      val v = col(valueCol)
      subj.agg(avg(v).as("subj_avg"), min(v).as("subj_min"), max(v).as("subj_max"),
        count(lit(1)).as("subj_rows"))
        .crossJoin(ctrl.agg(avg(v).as("ctrl_avg"), count(lit(1)).as("ctrl_rows")))
        .withColumn("delta_avg", col("subj_avg") - col("ctrl_avg"))
        .withColumn("feature", lit(name))
    }.reduce(_ unionByName _)
      .select(col("feature"), col("subj_avg"), col("subj_min"), col("subj_max"),
        col("subj_rows"), col("ctrl_avg"), col("ctrl_rows"), col("delta_avg"))
  }

  /** S11: write the bundle's export frames as CSV (reference
    * `viz.py:1149-1180`: full / subjects / control downloads).
    */
  def exportBundle(bundle: ResultBundle, dir: String): Unit = {
    graft.sources.TableStore.exportCsv(bundle.kpis, s"$dir/kpis")
    graft.sources.TableStore.exportCsv(bundle.userSpans, s"$dir/user_spans")
    graft.sources.TableStore.exportCsv(bundle.todKpis, s"$dir/tod_kpis")
  }

  /** The cohorts are not cached: the dashboard materializes only `kpis`,
    * which reads each cohort once, so a cache would be filled for a
    * single read.
    *
    * @param subjects  subjects table; must expose `userCol`, its primary key
    * @param series    long-format series; must expose `userCol`, `tsCol`, `valueCol`
    */
  def run(spec: QuerySpec, subjects: DataFrame, series: DataFrame,
          userCol: String, tsCol: String, valueCol: String): ResultBundle = {

    val subjectCohort = CohortFilter(subjects, spec.subjectSelection.filters())
    val controlCohort = CohortFilter(subjects, spec.controlSelection.filters())

    val windowed = SeriesOps.dateRange(series, tsCol, spec.startDate, spec.endDate)
    val subjSeries = CohortFilter.semiJoin(windowed, subjectCohort, userCol)
    val ctrlSeries = CohortFilter.semiJoin(windowed, controlCohort, userCol)

    val v: Column = col(valueCol)
    val kpis = subjSeries.agg(
      avg(v).as("subj_avg"), min(v).as("subj_min"), max(v).as("subj_max"),
      count(lit(1)).as("subj_rows"))
      .crossJoin(ctrlSeries.agg(
        avg(v).as("ctrl_avg"), stddev_samp(v).as("ctrl_std"),
        count(lit(1)).as("ctrl_rows")))
      .withColumn("delta_avg", col("subj_avg") - col("ctrl_avg"))

    val todKpis = spec.timeOfDayRanges.map { r =>
      SeriesOps.timeOfDayRange(subjSeries, tsCol, r.start, r.end)
        .agg(avg(v).as("avg_value"), min(v).as("min_value"), max(v).as("max_value"),
          count(lit(1)).as("n"))
        .withColumn("range_label", lit(r.label))
    }.reduce(_ unionByName _)

    ResultBundle(
      subjects = subjectCohort,
      control = controlCohort,
      kpis = kpis,
      userSpans = SeriesOps.userSpan(subjSeries, userCol, tsCol),
      todKpis = todKpis.select(col("range_label"), col("avg_value"),
        col("min_value"), col("max_value"), col("n")))
  }
}
