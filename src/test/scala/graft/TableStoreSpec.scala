package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.TableStore

class TableStoreSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("series sink is date-partitioned, user-bucketed, and round-trips (S7/S9/S10)") {
    TableStore.createDatabase(spark, "graft_test")
    assert(TableStore.listDatabases(spark).contains("graft_test"))

    val series = Seq(
      ("u1", ts("2024-01-01 10:00:00"), 1.0),
      ("u2", ts("2024-01-02 11:00:00"), 2.0)
    ).toDF("user_id", "timestamp", "value")
    spark.sql("DROP TABLE IF EXISTS graft_test.hr")
    TableStore.appendSeries(series, "graft_test.hr", "user_id", "timestamp", buckets = 4)

    val back = spark.table("graft_test.hr")
    assert(back.count() == 2)
    assert(back.columns.contains("date")) // partition column materialized
    // partition pruning: a date filter must prune to 1 partition's rows
    assert(back.filter(col("date") === "2024-01-01").count() == 1)
    assert(TableStore.listTables(spark, "graft_test").contains("hr"))

    // appends accumulate (reference if_exists='append')
    TableStore.appendSeries(series, "graft_test.hr", "user_id", "timestamp", buckets = 4)
    assert(spark.table("graft_test.hr").count() == 4)
  }

  test("compaction collapses small files and preserves every row") {
    val dir = java.nio.file.Files.createTempDirectory("graft_compact").toString + "/t"
    val df = spark.range(0, 10000).selectExpr("id", "id * 2 AS v")
    df.repartition(40).write.parquet(dir) // simulate micro-batch small files
    def parquetFiles = new java.io.File(dir).listFiles()
      .count(f => f.getName.endsWith(".parquet"))
    assert(parquetFiles >= 40)
    val n = graft.sources.TableStore.compactParquet(spark, dir,
      targetFileBytes = 1L * 1024 * 1024 * 1024)
    assert(n == 1 && parquetFiles == 1, s"expected 1 compacted file, got $parquetFiles")
    val back = spark.read.parquet(dir)
    assert(back.count() == 10000)
    assert(back.agg(org.apache.spark.sql.functions.sum("v")).head().getLong(0)
      == (0L until 10000L).map(_ * 2).sum)
  }

  test("CSV export round-trips (S11)") {
    val dir = Files.createTempDirectory("graft_export").toString + "/out"
    val df = Seq(("u1", 1.5), ("u2", 2.5)).toDF("user_id", "value")
    TableStore.exportCsv(df, dir)
    val back = spark.read.option("header", "true").option("inferSchema", "true").csv(dir)
    assert(back.as[(String, Double)].collect().toSet == Set(("u1", 1.5), ("u2", 2.5)))
  }

  test("stream JSON payload decodes with from_json (S6, FIXTURES §5 shape)") {
    import org.apache.spark.sql.types._
    val payload =
      """{"heart_rates": [{"user_id": "u1", "timestamp": "2016-08-01 12:00:00", "value": 71.0}],
        |"calories": [{"user_id": "u1", "timestamp": "2016-08-01 12:00:00", "value": 1.2}],
        |"coordinates": []}""".stripMargin
    val recSchema = ArrayType(StructType(Seq(
      StructField("user_id", StringType), StructField("timestamp", TimestampType),
      StructField("value", DoubleType))))
    val schema = MapType(StringType, recSchema)
    val rows = Seq(payload).toDF("body")
      .select(explode(from_json(col("body"), schema)).as(Seq("feature", "records")))
      .select(col("feature"), explode(col("records")).as("r"))
      .select(col("feature"), col("r.user_id"), col("r.value"))
      .as[(String, String, Double)].collect().toSet
    assert(rows == Set(("heart_rates", "u1", 71.0), ("calories", "u1", 1.2)))
  }

  test("exact-timestamp feature alignment pivots to wide (J4)") {
    val long = Seq(
      ("u1", 100L, "hr", 71.0), ("u1", 100L, "cal", 1.2),
      ("u1", 200L, "hr", 80.0), ("u2", 100L, "cal", 2.0)
    ).toDF("user_id", "ts", "feature", "value")
    val wide = graft.ops.SeriesOps.alignFeatures(long, "user_id", "ts", "feature",
      "value", Seq("hr", "cal"))
      .orderBy("user_id", "ts")
      .as[(String, Long, Option[Double], Option[Double])].collect().toSeq
    assert(wide == Seq(
      ("u1", 100L, Some(71.0), Some(1.2)),
      ("u1", 200L, Some(80.0), None),
      ("u2", 100L, None, Some(2.0))))
  }

  test("embedding-cosine near-dup finds a planted duplicate pair") {
    val emb = Seq(
      (1L, Array(0.6f, 0.8f, 0.0f)),
      (2L, Array(0.6f, 0.8f, 0.001f)), // near-identical to 1
      (3L, Array(-0.9f, 0.1f, 0.4f))
    ).toDF("vec_id", "embedding")
    val pairs = graft.ops.Similarity.cosinePairsMultiTable(emb, "vec_id",
      "embedding", threshold = 0.95, planes = 2, tables = 1, dims = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
  }
}
