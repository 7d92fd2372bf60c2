package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Canonical persistent store (SURVEY.md §2.1 S7–S9, S11; §4 shuffle note).
  *
  * Layout strategy for the 100 TB target:
  *   - series tables are date-partitioned (`partitionBy(date)`) so S2
  *     day-granularity scans prune partitions, and BUCKETED by user so the
  *     per-user window pipelines (W1–W7, A4, A9) and cohort semi-joins read
  *     co-located data without a shuffle;
  *   - subjects tables are small → single unbucketed table, broadcast at
  *     join time.
  */
object TableStore {

  /** S7: create a database (catalog namespace). */
  def createDatabase(spark: SparkSession, name: String): Unit =
    spark.sql(s"CREATE DATABASE IF NOT EXISTS `$name`")

  /** S8: catalog listing. */
  def listDatabases(spark: SparkSession): Seq[String] =
    spark.catalog.listDatabases().collect().map(_.name).toSeq

  def listTables(spark: SparkSession, db: String): Seq[String] =
    spark.catalog.listTables(db).collect().map(_.name).toSeq

  /** S9/S10 sink: append a long-format series frame, date-partitioned and
    * user-bucketed. One-time shuffle at write; every later per-user
    * operator reads pre-clustered buckets.
    *
    * A write task writes one file per (date, bucket) it holds, plus its
    * `.crc` side file, and the commit makes the partition directories.
    * Without the native Hadoop library, Hadoop's stock local file system
    * forks a `chmod` process for each of these; sessions built by
    * [[graft.GraftSession.configure]] write a local store through
    * [[graft.sources.GraftLocalFileSystem]], which sets the same bits
    * without one.
    */
  def appendSeries(df: DataFrame, table: String, userCol: String, tsCol: String,
                   buckets: Int = 64): Unit =
    df.withColumn("date", to_date(col(tsCol)))
      .write.mode(SaveMode.Append)
      .partitionBy("date")
      .bucketBy(buckets, userCol)
      .sortBy(userCol, tsCol)
      .format("parquet")
      .saveAsTable(table)

  /** S9 sink: subjects append (small table, no bucketing). */
  def appendSubjects(df: DataFrame, table: String): Unit =
    df.write.mode(SaveMode.Append).format("parquet").saveAsTable(table)

  /** S11: CSV export sink. */
  def exportCsv(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).option("header", "true").csv(path)

  /** Compaction: rewrite a parquet directory's many small files into
    * ≈`targetFileBytes` files. Streaming micro-batch sinks accumulate
    * small files that destroy scan throughput at scale (footer/open cost
    * per file, tiny row groups); periodic compaction restores
    * scan-friendly sizes. Returns the new file count.
    *
    * Swap order is crash-safe: the original is renamed ASIDE first, the
    * rewrite renamed into place, and only then is the old copy deleted —
    * every intermediate state keeps one complete copy of the data on disk
    * (a delete-then-rename swap would lose the dataset if the process died
    * between the two calls). Readers racing the two renames can see a
    * transiently missing path and should retry; on object stores without
    * atomic rename, prefer a table format's commit protocol.
    */
  def compactParquet(spark: SparkSession, path: String,
                     targetFileBytes: Long = 128L * 1024 * 1024): Int = {
    val hadoopPath = new org.apache.hadoop.fs.Path(path)
    val fs = hadoopPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bytes = fs.getContentSummary(hadoopPath).getLength
    val nFiles = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
    val tmp = new org.apache.hadoop.fs.Path(path + "__compact_tmp")
    val old = new org.apache.hadoop.fs.Path(path + "__compact_old")
    spark.read.parquet(path).repartition(nFiles)
      .write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    fs.delete(old, true) // leftover from a previous crashed swap
    if (!fs.rename(hadoopPath, old))
      throw new java.io.IOException(s"compaction swap: cannot move $path aside")
    if (!fs.rename(tmp, hadoopPath)) {
      fs.rename(old, hadoopPath) // restore; the rewrite stays in __compact_tmp
      throw new java.io.IOException(s"compaction swap: cannot move $tmp into place")
    }
    fs.delete(old, true)
    nFiles
  }
}
