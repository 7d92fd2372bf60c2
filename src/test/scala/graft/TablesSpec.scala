package graft

import java.nio.file.{Files, Paths}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.graft.JobCount
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{BinaryType, StringType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Tables

/** `Tables.load` resolves each single-file table's schema once per
  * session: later reads run no schema-inference job, a rewritten file
  * resolves again, and what a load returns is what an inferring read
  * under the same normalization returns.
  */
class TablesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val sf001 = "/root/testdata/sf0.01"

  /** Writes one parquet file from a parquet message type and its rows,
    * replacing what is there.
    */
  private def writeParquet(path: String, message: String)(
      rows: SimpleGroupFactory => Seq[Group]): Unit = {
    val schema = MessageTypeParser.parseMessageType(message)
    val writer = ExampleParquetWriter.builder(new Path(path)).withType(schema)
      .withConf(new Configuration()).withWriteMode(ParquetFileWriter.Mode.OVERWRITE).build()
    try rows(new SimpleGroupFactory(schema)).foreach(writer.write) finally writer.close()
  }

  private def loadJobs(s: SparkSession, dir: String, name: String): Int =
    JobCount(s.sparkContext)(Tables.load(s, dir, name))._2

  test("a second Tables.load of a table in one session runs no Spark job") {
    val dir = Files.createTempDirectory("tables_once").toString
    Files.copy(Paths.get(s"$sf001/nation.parquet"), Paths.get(s"$dir/nation.parquet"))
    assert(loadJobs(spark, dir, "nation") == 1, "the first load infers the schema")
    assert(loadJobs(spark, dir, "nation") == 0, "a second load reads with the resolved schema")
  }

  test("overwriting a table file at the same path loads the new schema and rows") {
    val dir = Files.createTempDirectory("tables_rewrite").toString
    writeParquet(s"$dir/t.parquet",
        "message t { required int32 k; required binary v (STRING); }") { groups =>
      Seq(groups.newGroup().append("k", 1).append("v", "a"),
        groups.newGroup().append("k", 2).append("v", "b"))
    }
    val before = Tables.load(spark, dir, "t")
    assert(before.columns.toSeq == Seq("k", "v"))
    assert(before.as[(Int, String)].collect().sorted.toSeq == Seq((1, "a"), (2, "b")))
    writeParquet(s"$dir/t.parquet",
        "message t { required double x; required int64 y; required boolean z; }") { groups =>
      Seq((0.5, 7L, true), (1.5, 8L, false), (2.5, 9L, true)).map { case (x, y, z) =>
        groups.newGroup().append("x", x).append("y", y).append("z", z)
      }
    }
    val after = Tables.load(spark, dir, "t")
    assert(after.columns.toSeq == Seq("x", "y", "z"))
    assert(after.as[(Double, Long, Boolean)].collect().sorted.toSeq ==
      Seq((0.5, 7L, true), (1.5, 8L, false), (2.5, 9L, true)))
  }

  /** Load (resolving, then from the resolved schema) against an inferring
    * read of the same file under the same normalization: schema, plan and
    * rows.
    */
  private def assertMatchesInferred(dir: String, name: String): DataFrame = {
    Tables.load(spark, dir, name)
    val loaded = Tables.load(spark, dir, name)
    val inferred = Tables.normalize(name, spark.read.parquet(s"$dir/$name.parquet"))
    assert(loaded.schema == inferred.schema, s"$name schema")
    // What CacheManager and OpCaches.scoped match plans by.
    assert(loaded.queryExecution.analyzed.sameResult(inferred.queryExecution.analyzed),
      s"$name plan")
    assert(loaded.collect().toSeq == inferred.collect().toSeq, s"$name rows")
    loaded
  }

  test("every sf0.01 table loads as an inferring read under the same normalization") {
    Tables.all.foreach(name => assertMatchesInferred(sf001, name))
  }

  /** An events file whose `ts` has the given parquet logical type; one row
    * has a null ts, one a sub-microsecond remainder.
    */
  private def writeEvents(dir: String, tsType: String, tsOf: Long => Long): Unit =
    writeParquet(s"$dir/events.parquet",
      s"""message events {
         |  required int64 event_id;
         |  optional int64 ts ($tsType);
         |  optional int64 user_id;
         |  optional binary event_type (STRING);
         |  optional double value;
         |}""".stripMargin) { groups =>
      (0 until 5).map { i =>
        val g = groups.newGroup().append("event_id", i.toLong)
        if (i != 3) g.append("ts", tsOf(1470009600000000L + i * 60000000L + i))
        g.append("user_id", (i % 2).toLong).append("event_type", s"hr$i")
          .append("value", 60.0 + i)
      }
    }

  test("events as TIMESTAMP(NANOS) and as TIMESTAMP(MICROS, NTZ) load as inferring reads") {
    Seq(("TIMESTAMP(NANOS,true)", (us: Long) => us * 1000L + 789L),
        ("TIMESTAMP(MICROS,false)", (us: Long) => us)).foreach { case (tsType, tsOf) =>
      val dir = Files.createTempDirectory("tables_events").toString
      writeEvents(dir, tsType, tsOf)
      val loaded = assertMatchesInferred(dir, "events")
      assert(loaded.schema("ts").dataType == TimestampType, tsType)
      assert(loaded.orderBy("event_id").selectExpr("unix_micros(ts)").as[Option[Long]]
        .collect().toSeq ==
        (0 until 5).map(i => Option.when(i != 3)(1470009600000000L + i * 60000000L + i)),
        s"$tsType: ts in micros, sub-microsecond part dropped")
    }
  }

  test("a fresh session resolves a table again on its own") {
    val dir = Files.createTempDirectory("tables_session").toString
    Files.copy(Paths.get(s"$sf001/region.parquet"), Paths.get(s"$dir/region.parquet"))
    assert(loadJobs(spark, dir, "region") == 1)
    assert(loadJobs(spark, dir, "region") == 0)
    val fresh = spark.newSession()
    assert(loadJobs(fresh, dir, "region") == 1, "a new session does not share the schema")
    assert(loadJobs(fresh, dir, "region") == 0)
  }

  test("a changed parquet inference setting resolves the table again") {
    val dir = Files.createTempDirectory("tables_conf").toString
    writeParquet(s"$dir/t.parquet", "message t { optional binary b; }") { groups =>
      Seq(groups.newGroup().append("b", "x"))
    }
    val key = "spark.sql.parquet.binaryAsString"
    val saved = spark.conf.getOption(key)
    try {
      spark.conf.set(key, "false")
      assert(Tables.load(spark, dir, "t").schema("b").dataType == BinaryType)
      spark.conf.set(key, "true")
      val asString = Tables.load(spark, dir, "t")
      assert(asString.schema("b").dataType == StringType)
      assert(asString.as[String].collect().toSeq == Seq("x"))
    } finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }
}
