package graft.sources

import java.util.concurrent.ConcurrentHashMap

import scala.util.Try

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

/** Canonical-table access layer over the driver's parquet testdata.
  *
  * One place that knows physical quirks (the events table's nanosecond
  * timestamps) so operators never do. At cluster scale this is where
  * bucketing/partitioning metadata would live; locally it is a plain
  * parquet scan that Catalyst pushes filters/projections into.
  *
  * Schemas are resolved once per session. A bare `spark.read.parquet`
  * infers the schema with a Spark job that reads the file's footer, on
  * every read of the same unchanged file. [[read]] keys each single-file
  * table on its qualified path, length and modification time (one
  * `getFileStatus`) plus the session's parquet inference settings, infers
  * on the first read and afterwards reads with the resolved schema: no
  * job, no footer read. The file listing is still taken on every read, and
  * a rewritten file changes the key, so a cached schema never serves stale
  * data. The plans are those of an inferring read (same
  * `HadoopFsRelation`), so `OpCaches.scoped` and CacheManager matches are
  * unaffected.
  */
object Tables {

  val tpch: Seq[String] =
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
  val all: Seq[String] = tpch ++ Seq("events", "documents", "embeddings")

  // Settings that change what parquet schema inference returns for the
  // same footer; part of the key so a changed setting resolves again.
  private val inferenceConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong", "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp", "spark.sql.parquet.inferTimestampNTZ.enabled")

  // Per session by policy, not for correctness (the key already holds
  // every input of inference): a session's schemas, stale keys of
  // rewritten files included, go with it. Weak, so a stopped session
  // stays unreachable.
  private val resolved = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, ConcurrentHashMap[Seq[Any], StructType]]())

  /** Parquet read of `path` whose schema, for a single file, is resolved
    * once per session (see the object doc). Directories and missing paths
    * read as a bare `spark.read.parquet`.
    */
  private[graft] def read(spark: SparkSession, path: String): DataFrame = {
    val p = new Path(path)
    Try(p.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(p))
      .toOption.filter(_.isFile) match {
      case Some(st) =>
        val key = Seq(st.getPath.toString, st.getLen, st.getModificationTime) ++
          inferenceConfs.map(spark.conf.getOption)
        val m = resolved.computeIfAbsent(spark, _ => new ConcurrentHashMap())
        // Inferred outside the map's lock: the inference is a Spark job.
        val schema = Option(m.get(key)).getOrElse {
          val s = spark.read.parquet(path).schema
          m.putIfAbsent(key, s)
          s
        }
        spark.read.schema(schema).parquet(path)
      case None => spark.read.parquet(path)
    }
  }

  /** Load one canonical table from a scale-factor directory. */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    // Session-level escape hatch for TIMESTAMP(NANOS) parquet (events table);
    // schema resolution and the scan both read it, so set it before either.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalize(name, read(spark, s"$dir/$name.parquet"))
  }

  /** The per-table fix-ups `load` applies to the raw parquet read. */
  private[graft] def normalize(name: String, df: DataFrame): DataFrame = name match {
    case "events" =>
      // Normalize ts to a session-TZ TimestampType regardless of how the
      // generator wrote it: TIMESTAMP(NANOS) arrives as epoch-nanos Long
      // (integral division — a double round-trip would lose precision
      // above 2^53 ns), TIMESTAMP(MICROS, isAdjustedToUTC=false) arrives
      // as TIMESTAMP_NTZ (same wall values under the UTC session TZ).
      df.schema("ts").dataType match {
        case LongType => df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
        case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
        case _ => df
      }
    case _ => df
  }

  def events(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "events")
  def lineitem(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "customer")
  def part(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "part")
  def supplier(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "supplier")
  def nation(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "region")
  def documents(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")
}
