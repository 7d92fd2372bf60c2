package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Lifecycle registry for op-internal caches.
  *
  * Several operators ([[Dedup]], [[Similarity]], [[DataQuality]])
  * cache an intermediate frame that feeds multiple consumers inside one
  * returned plan (e.g. a shingle set read by the signature, size, and both
  * verification joins). The returned DataFrame is lazy, so the op cannot
  * unpersist before the caller executes it — but a long-lived session
  * issuing many such calls would otherwise accumulate cached partitions
  * forever (round-2 bench measured a session-wide 1.8× slowdown from
  * exactly this).
  *
  * Contract: every op-internal cache registers here via [[scoped]]; a
  * caller that has fully materialized the results of an op call releases
  * them with [[releaseAll]] (harnesses: Bench and Verify call it between
  * queries). `spark.catalog.clearCache()` also unpersists these frames —
  * releaseAll is the narrower option that leaves caller-owned caches
  * intact.
  */
object OpCaches {
  private val frames = java.util.Collections.newSetFromMap(
    new java.util.concurrent.ConcurrentHashMap[DataFrame, java.lang.Boolean]())
  private val checkpointRdds = java.util.Collections.newSetFromMap(
    new java.util.concurrent.ConcurrentHashMap[org.apache.spark.rdd.RDD[_],
      java.lang.Boolean]())

  /** Cache `df` and register it for a later [[releaseAll]] — unless the
    * CacheManager already holds an entry for an equal plan.
    *
    * `storageLevel` is the CacheManager's own canonical-plan lookup: a
    * streaming admission loop re-derives an equivalent reference frame
    * every micro-batch, and re-issuing `cache()` on it would grow this
    * registry unboundedly and warn "Asked to cache already cached data"
    * per batch. An existing entry is substituted at execution anyway.
    * Because the lookup is live, a bare `clearCache()` never leaves a
    * frame uncached, and a caller-owned cache of an equal plan is never
    * registered, so [[releaseAll]] leaves it alone.
    */
  private[graft] def scoped(df: DataFrame): DataFrame = {
    if (df.storageLevel == StorageLevel.NONE) {
      df.cache()
      frames.add(df)
    }
    df
  }

  /** Lazy `localCheckpoint` with its blocks registered for [[releaseAll]].
    *
    * The rank/prefix-sum ops ([[Stats.withRangeRank]]) checkpoint a
    * range-partitioned frame so the collected per-partition offsets can
    * never observe a different partitioning than the returned plan — a
    * released CACHE would silently re-sample range bounds; the checkpoint
    * has no recompute path at all. The flip side: `Dataset.unpersist`
    * cannot free a checkpoint's MEMORY_AND_DISK blocks (they belong to the
    * underlying RDD, released only by driver GC), so a long bench/verify
    * session calling rank-family ops hundreds of times would accumulate
    * them. Registering the RDD here lets [[releaseAll]] drop the blocks
    * explicitly.
    *
    * STRONGER contract than [[scoped]]: release only AFTER the dependent
    * plan has fully executed. The lineage is truncated, so a consumer that
    * runs after release fails loudly ("checkpoint block not found") instead
    * of recomputing — by design (recompute would re-rank wrongly), but it
    * means harnesses must materialize before releasing, which Bench and
    * Verify already do (releaseAll between queries).
    */
  private[graft] def scopedCheckpoint(df: DataFrame): DataFrame = {
    val cp = df.localCheckpoint(false)
    org.apache.spark.sql.graft.CatalystBridge.checkpointedRdd(cp)
      .foreach(checkpointRdds.add)
    cp
  }

  /** Unpersist every op-internal cache registered since the last release.
    *
    * Contract: call only AFTER the dependent plans have fully executed.
    * For plain [[scoped]] caches an early release is merely a reuse loss
    * (un-executed plans recompute), but [[scopedCheckpoint]] frames have
    * NO recompute path — a rank-family plan (`Stats.withRangeRank` /
    * `withRangeCumSum` / `rfmQuintiles`) held across a release and
    * executed afterwards fails loudly ("checkpoint block not found")
    * rather than silently re-ranking. Bench and Verify satisfy this by
    * materializing each query before the between-queries release.
    *
    * `blocking = true` waits until the blocks are actually dropped. The
    * bench harness needs this: with async removal, a long session's next
    * heavy query starts while the previous query's cached partitions still
    * occupy storage memory, and the resulting eviction churn shows up as a
    * 1.5-2× slowdown on exactly the cache-heavy composites (round-9
    * over-budget pattern: 8 dedup/curation composites flagged in the
    * 272-query session, none reproducible in an isolated run; the cheap
    * no-cache sentinel basket stayed flat the whole session).
    */
  def releaseAll(blocking: Boolean = false): Unit = {
    val it = frames.iterator()
    while (it.hasNext) {
      try it.next().unpersist(blocking)
      catch { case _: Throwable => () }
      it.remove()
    }
    val cit = checkpointRdds.iterator()
    while (cit.hasNext) {
      try cit.next().unpersist(blocking)
      catch { case _: Throwable => () }
      cit.remove()
    }
  }

  /** Number of currently-registered cached frames (for tests/monitoring). */
  def registered: Int = frames.size() + checkpointRdds.size()
}
