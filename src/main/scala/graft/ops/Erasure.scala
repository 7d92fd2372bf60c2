package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Right-to-erasure (GDPR Art. 17 / CCPA delete) propagation: the audit
  * report compliance requires when a subject-id set is purged from every
  * table keyed by it (each purge is the caller's broadcast anti join).
  *
  * Scale shape: an erasure request list is bounded-small BY NATURE
  * (regulatory requests, not data) — the one case where a broadcast
  * hint is correct by construction, unlike the O(corpus) cluster maps
  * the dedup ops deliberately leave to AQE. Each audit row costs ONE
  * scan (left join + conditional count), so a 100-table erasure run is
  * 100 embarrassingly-parallel scans.
  */
object Erasure {

  /** Audit report over (name, table, keyCol) triples: per table, total
    * rows, rows the erasure set matches, and rows that would remain.
    * One scan per table — the match count rides a broadcast left join,
    * not a second pass — and the request list materializes ONCE (scoped
    * cache), not once per audited table: when the ids derive from a
    * query, an N-table audit must not re-run it N times.
    */
  def audit(tables: Seq[(String, DataFrame, String)],
            ids: DataFrame, idCol: String): DataFrame = {
    val cached = OpCaches.scoped(ids.select(col(idCol)).distinct())
    tables.map { case (name, df, key) =>
      val hits = broadcast(cached.select(col(idCol).as(key)))
        .withColumn("__hit", lit(1L))
      df.join(hits, Seq(key), "left")
        .agg(count(lit(1)).as("rows_total"),
          coalesce(sum(col("__hit")), lit(0L)).as("rows_purged"))
        .select(lit(name).as("table_name"), col("rows_total"),
          col("rows_purged"),
          (col("rows_total") - col("rows_purged")).as("rows_after"))
    }.reduce(_ unionByName _)
  }
}
