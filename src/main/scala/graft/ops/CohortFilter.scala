package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Cohort-selection operator: the reference's composable attribute-filter
  * builder (SURVEY.md §2.2 P4–P8; reference `viz.py:402-430`).
  *
  * Each widget selection becomes an [[AttrFilter]]; the cohort is the
  * conjunction. Semantics preserved from the reference:
  *   - numeric / datetime / boolean filters are null-tolerant when requested
  *     (`viz.py:417-427`: `... or name.isnull()`);
  *   - an empty categorical selection means "allow all" (`viz.py:388-390`);
  *   - id-list selection (`viz.py:623`) and LIKE-contains (`viz.py:62-66`)
  *     are alternative subject-selection modes.
  *
  * All filters compile to native `Column` predicates, so Catalyst pushes them
  * into the parquet scan — at 100 TB the cohort filter is a scan predicate,
  * not a post-scan pass.
  */
object CohortFilter {

  sealed trait AttrFilter { def toColumn: Column }

  /** P4: `lo <= c <= hi [or c is null]`. */
  final case class NumericRange(colName: String, lo: Double, hi: Double, nullOk: Boolean = true)
      extends AttrFilter {
    def toColumn: Column = withNull(col(colName).between(lo, hi), colName, nullOk)
  }

  /** P5: `c in (vs) [or c is null]`; empty selection ⇒ allow all. */
  final case class CategoricalIn(colName: String, values: Seq[String], nullOk: Boolean = true)
      extends AttrFilter {
    def toColumn: Column =
      if (values.isEmpty) lit(true)
      else withNull(col(colName).isin(values: _*), colName, nullOk)
  }

  /** P6: datetime range `[lo, hi]` (ISO strings) `[or null]`. */
  final case class DateTimeRange(colName: String, lo: String, hi: String, nullOk: Boolean = true)
      extends AttrFilter {
    def toColumn: Column =
      withNull(col(colName).between(lit(lo).cast("timestamp"), lit(hi).cast("timestamp")), colName, nullOk)
  }

  /** P7: boolean equality `[or null]`. */
  final case class BooleanEq(colName: String, value: Boolean, nullOk: Boolean = true)
      extends AttrFilter {
    def toColumn: Column = withNull(col(colName) === lit(value), colName, nullOk)
  }

  /** Id-list subject selection (`viz.py:623`). */
  final case class IdIn(colName: String, ids: Seq[Any]) extends AttrFilter {
    def toColumn: Column = col(colName).isin(ids: _*)
  }

  /** P2: LIKE %pattern% (`viz.py:62-66`). */
  final case class Contains(colName: String, pattern: String) extends AttrFilter {
    def toColumn: Column = col(colName).contains(pattern)
  }

  private def withNull(c: Column, colName: String, nullOk: Boolean): Column =
    if (nullOk) c || col(colName).isNull else c

  /** P8: fold the selected filters into one conjunction and apply. */
  def apply(subjects: DataFrame, filters: Seq[AttrFilter]): DataFrame =
    subjects.filter(predicate(filters))

  def predicate(filters: Seq[AttrFilter]): Column =
    filters.map(_.toColumn).reduceOption(_ && _).getOrElse(lit(true))

  /** J1: cohort semi-join — restrict a (huge) series table to a (small)
    * cohort. Broadcast left-semi: no shuffle of the series side at scale.
    *
    * A cohort is a subjects selection, keyed by the subjects' primary key,
    * so its keys are already distinct and are broadcast as they are: no
    * aggregation, so no exchange and no job of their own. A left-semi join's
    * rows do not depend on duplicate keys, so a cohort with duplicates
    * still gives the right rows; each duplicate is broadcast, though.
    */
  def semiJoin(series: DataFrame, cohort: DataFrame, key: String): DataFrame =
    series.join(broadcast(cohort.select(key)), Seq(key), "left_semi")

  /** J3/S12/U3: anti-join — rows whose key is absent from `existing`.
    * `existing` may repeat keys (U3 passes every event's `user_id`), so
    * they are made distinct before the broadcast.
    */
  def antiJoin(incoming: DataFrame, existing: DataFrame, key: String): DataFrame =
    incoming.join(broadcast(existing.select(key).distinct()), Seq(key), "left_anti")
}
