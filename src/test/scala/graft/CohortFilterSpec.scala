package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.ops.CohortFilter
import graft.ops.CohortFilter._

class CohortFilterSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def subjects = Seq(
    ("u1", Some(25L), Some("CA"), Some(true)),
    ("u2", Some(40L), Some("NY"), Some(false)),
    ("u3", None, Some("CA"), None),        // null age / consent
    ("u4", Some(70L), None, Some(true))    // null state
  ).toDF("user_id", "age", "state", "consent")

  test("empty categorical selection allows all (P5)") {
    assert(CohortFilter(subjects, Seq(CategoricalIn("state", Seq.empty))).count() == 4)
  }

  test("null-tolerant numeric range keeps null rows (P4)") {
    val got = CohortFilter(subjects, Seq(NumericRange("age", 20, 50)))
      .select("user_id").as[String].collect().toSet
    assert(got == Set("u1", "u2", "u3")) // u3 via null, u4 out of range
  }

  test("strict numeric range drops null rows") {
    val got = CohortFilter(subjects, Seq(NumericRange("age", 20, 50, nullOk = false)))
      .select("user_id").as[String].collect().toSet
    assert(got == Set("u1", "u2"))
  }

  test("filters conjoin (P8)") {
    val got = CohortFilter(subjects, Seq(
      NumericRange("age", 20, 80),
      CategoricalIn("state", Seq("CA")),
      BooleanEq("consent", value = true)))
      .select("user_id").as[String].collect().toSet
    assert(got == Set("u1", "u3", "u4")) // u3: nulls pass; u4: null state passes
  }

  test("datetime range filter is inclusive and null-tolerant (P6)") {
    val df = Seq(
      ("a", Some(java.sql.Timestamp.valueOf("2016-08-01 00:00:00"))),
      ("b", Some(java.sql.Timestamp.valueOf("2016-08-05 12:00:00"))),
      ("c", Some(java.sql.Timestamp.valueOf("2016-09-01 00:00:00"))),
      ("d", None)
    ).toDF("user_id", "start_date")
    val got = CohortFilter(df, Seq(
      DateTimeRange("start_date", "2016-08-01 00:00:00", "2016-08-31 23:59:59")))
      .select("user_id").as[String].collect().toSet
    assert(got == Set("a", "b", "d")) // d passes via null tolerance
    val strict = CohortFilter(df, Seq(
      DateTimeRange("start_date", "2016-08-01 00:00:00", "2016-08-31 23:59:59",
        nullOk = false))).count()
    assert(strict == 2)
  }

  test("no filters means all users") {
    assert(CohortFilter(subjects, Seq.empty).count() == 4)
  }

  test("semi/anti join split a series exactly (J1/J3)") {
    val series = Seq(("u1", 1.0), ("u2", 2.0), ("u9", 9.0)).toDF("user_id", "value")
    val cohort = subjects.select("user_id")
    assert(CohortFilter.semiJoin(series, cohort, "user_id").count() == 2)
    val anti = CohortFilter.antiJoin(series, cohort, "user_id")
      .select("user_id").as[String].collect().toSeq
    assert(anti == Seq("u9"))
  }

  test("semi-join rows do not depend on duplicate cohort keys") {
    val series = Seq(("u1", 1.0), ("u1", 1.5), ("u2", 2.0), ("u9", 9.0))
      .toDF("user_id", "value")
    val cohort = subjects.select("user_id")
    def rows(c: org.apache.spark.sql.DataFrame) =
      CohortFilter.semiJoin(series, c, "user_id").as[(String, Double)].collect().sorted.toSeq
    assert(rows(cohort.union(cohort).union(cohort)) == rows(cohort))
    assert(rows(cohort) == Seq(("u1", 1.0), ("u1", 1.5), ("u2", 2.0)))
  }
}
