package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's canonical configuration.
  *
  * Tuned for the driver's harness (single-JVM `local[N]`) but every knob is
  * chosen for cluster scale: AQE on (runtime re-plan + skew-join splitting),
  * shuffle partitions sized to cores locally (on a real cluster AQE coalesces
  * from a higher initial number), UTC session time (reference assumes UTC
  * everywhere — see SURVEY.md §1.2 / reference `stream_sim.py:73-75`).
  *
  * Generated code is reused across requests. Spark compiles each
  * whole-stage and expression class once and keeps it in a codegen cache
  * of `spark.sql.codegen.cache.maxEntries` classes, 100 by default. The
  * engine's working set is larger. Counted on a fresh JVM with an
  * unbounded cache (sf0.01, 4 cores), the 8 dashboard queries and 4
  * curation jobs of the analytics benchmark generate 227 distinct classes
  * and the 337 oracle-gated queries 3,503. At 100 entries every pass over
  * the dashboard and curation set evicts its own classes and compiles
  * them all again, at 13–25 ms a class. [[CodegenCacheEntries]] holds the
  * whole oracle surface with room for plans that differ at other scales.
  * The cost is metaspace: after the 337-query run, with the classes
  * held, Metaspace read 229 MB and Compressed Class Space 29 MB, against
  * 200 MB and 25 MB at 100 entries.
  *
  * Generated class names leave out the codegen stage id
  * (`spark.sql.codegen.useIdInClassName`). Adaptive execution numbers a
  * query's stages in the order their inputs finish, so the same stage
  * can get another id on a later run; with the id in the class name its
  * class is a new cache key and is compiled again (the first repeat of
  * `cohort_analysis_e2e` compiled 4–8 classes that way). The plan still
  * shows each stage's id.
  *
  * JVM scope: the codegen cache is one per JVM, built when code is first
  * generated, and takes its bound from the session active at that moment.
  * The first session in a JVM therefore fixes the bound for every later
  * session; every engine session is built through [[configure]], so all
  * of them agree.
  *
  * Local files are written without forking a process. Without the native
  * Hadoop library (Spark's binary distribution ships none), Hadoop's
  * `file:` file system forks `chmod` for every file, `.crc` side file and
  * directory it creates, and `readlink` for every `FileContext` rename (see
  * [[graft.sources.NioRawLocalFileSystem]]). [[configure]] points
  * `fs.file.impl` and `fs.AbstractFileSystem.file.impl` at
  * [[graft.sources.GraftLocalFileSystem]] and [[graft.sources.GraftLocalFs]],
  * the stock local classes with those calls done through `java.nio`:
  * checksums, the commit protocol, the layout and the bits a file gets
  * stay the same. Traced stream run (seed 7804, 4 cores): the store append
  * fell from 339 to 188 ms a batch. Hadoop caches a `FileSystem` per
  * scheme and user for the whole JVM, so like the codegen bound this holds
  * for every session only when the JVM's first `file:` `FileSystem` is
  * made from a session's configuration.
  */
object GraftSession {

  /** Bound of Spark's JVM-wide codegen class cache (see the object doc). */
  private val CodegenCacheEntries: Int = 5000

  /** Configs every Graft session needs regardless of master. Installs the
    * engine's Catalyst extensions (DateCastRewrite) — a no-op when an
    * existing session is reused by getOrCreate — and the engine's `file:`
    * file systems, which write local files without forking `chmod` or
    * `readlink` (see the object doc).
    */
  def configure(b: SparkSession.Builder, shufflePartitions: Int): SparkSession.Builder =
    b.withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // Runtime bloom-filter pushdown: a selective join side injects a
      // bloom filter into the large side's scan — at 100 TB this prunes
      // fact-table IO for cohort-style joins before the shuffle.
      .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      // testdata events.parquet carries TIMESTAMP(NANOS) which Spark's parquet
      // reader rejects; read as epoch-nanos Long and convert in Tables.load.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // µs timestamps on write: unambiguous for the DuckDB oracle compare.
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config("spark.sql.codegen.useIdInClassName", "false")
      .config("spark.hadoop.fs.file.impl", classOf[graft.sources.GraftLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        classOf[graft.sources.GraftLocalFs].getName)

  def local(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession = {
    val spark = configure(
      SparkSession.builder().master(s"local[$cores]").appName("graft"),
      shufflePartitions = math.max(cores, 4)
    ).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
