package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.ops.{DataQuality, Stats}

/** Per-micro-batch SOURCE ADMISSION CONTROL (L292): the batch curation
  * admission gate (curation_pipeline_v6's Wilson-quality ∧ PSI-drift
  * composite) evaluated against each arriving micro-batch inside
  * `foreachBatch`, BEFORE the novelty gate — the shape a 100 TB ingest
  * actually runs: a drifted crawl snapshot or a source gone low-quality is
  * rejected wholesale at the batch boundary, instead of its documents
  * individually limping through the per-document gates downstream.
  *
  * Scale/state design: the reference snapshot is a STATIC frame (the
  * curated corpus's profile — a stream-static join side, pinned by the
  * caller across batches); everything derived here is |sources|-bounded.
  *
  * Cache contract: [[admissionDatacard]] scope-caches one frame, the
  * reference's drift profile; a later batch re-deriving the same
  * reference finds it in the CacheManager and registers nothing, so
  * `graft.ops.OpCaches.registered` stays flat over a stream. The
  * single-arm reports scope-cache their reference-side aggregates the
  * same way, and the PSI arm ([[admissionReport]]) also caches each
  * batch's (sources × bins) counts. Call `graft.ops.OpCaches.releaseAll()`
  * once, after the stream stops: releasing per batch would re-scan the
  * reference every batch.
  */
object StreamAdmission {

  /** |sources|-bounded verdict frame for ONE micro-batch: per source, the
    * batch's row count, the Wilson 95% lower bound of the `quality` share,
    * the PSI drift of `valueCol` vs the reference snapshot, and the
    * admission verdict (wilson_lo ≥ minWilsonLo ∧ psi ≤ maxPsi). Sources
    * present in the reference but absent from the batch yield no row
    * (nothing to admit); sources present only in the batch get
    * maximal-drift PSI against the smoothed empty reference — absence of
    * reference evidence reads as drift, never as a free pass.
    */
  def admissionReport(batch: DataFrame, reference: DataFrame,
                      groupCol: String, valueCol: String, quality: Column,
                      minWilsonLo: Double, maxPsi: Double,
                      bins: Int = 10): DataFrame = {
    val wil = DataQuality.wilsonShare(batch, groupCol, quality)
      .select(col(groupCol), col("n"), col("wilson_lo"))
    val drift = Stats.psiByGroup(reference, batch, valueCol, groupCol, bins)
    wil.join(drift, Seq(groupCol))
      .select(col(groupCol), col("n"), col("wilson_lo"), col("psi"),
        (col("wilson_lo") >= minWilsonLo && col("psi") <= maxPsi)
          .as("admitted"))
  }

  /** [[admissionReport]] with the drift arm swapped to the binning-free
    * two-snapshot KS statistic (curation v7's streaming form): per
    * source, D = sup |ECDF_ref − ECDF_batch| over `valueCol`. No binning
    * sensitivity, exact integer ECDF arithmetic; each side is one sorted
    * (value, count) cells row per source, merged in one fold — bounded by
    * the distinct values per source, never a global cross join.
    *
    * A source with NO reference evidence (ksByGroup's n_ref = 0 case,
    * where the statistic is undefined) reads as MAXIMAL drift: `ks`
    * coalesces to 1.0 and `admitted` is an explicit `false`, never a
    * tri-state NULL — matching the PSI arm, where absence shows up as
    * high PSI against the smoothed empty side. [[admit]] would filter
    * NULLs out anyway; this makes the REPORT say the same thing to a
    * consumer reading the boolean.
    */
  def admissionReportKs(batch: DataFrame, reference: DataFrame,
                        groupCol: String, valueCol: String, quality: Column,
                        minWilsonLo: Double, maxKs: Double): DataFrame = {
    val wil = DataQuality.wilsonShare(batch, groupCol, quality)
      .select(col(groupCol), col("n"), col("wilson_lo"))
    val drift = Stats.ksByGroup(reference, batch, valueCol, groupCol)
    wil.join(drift.select(col(groupCol),
        coalesce(col("ks"), lit(1.0)).as("ks")), Seq(groupCol))
      .select(col(groupCol), col("n"), col("wilson_lo"), col("ks"),
        coalesce(col("wilson_lo") >= minWilsonLo && col("ks") <= maxKs,
          lit(false)).as("admitted"))
  }

  /** [[admissionReport]] with the drift arm swapped to CATEGORICAL
    * Jensen–Shannon divergence ([[Stats.jsByGroup]]'s two-snapshot form):
    * per source, JS of the `catCol` category mix (language shares, script
    * mixes, format tags) between the reference snapshot and the batch —
    * the drift a crawler regression shows when every NUMERIC column
    * still looks stable. Bounded by ln 2, so one `maxJs` threshold works
    * for every source; the per-source grid is the union of observed
    * categories, |sources × categories|-bounded.
    *
    * A source with NO reference evidence reads as MAXIMAL drift: `js`
    * is forced to ln 2 (jsByGroup's raw value against an empty side is
    * ½·ln 2 — a one-sided renormalization artifact, not evidence) and
    * `admitted` is an explicit false, matching the KS arm's coalesce.
    */
  def admissionReportJs(batch: DataFrame, reference: DataFrame,
                        groupCol: String, catCol: String, quality: Column,
                        minWilsonLo: Double, maxJs: Double): DataFrame = {
    val wil = DataQuality.wilsonShare(batch, groupCol, quality)
      .select(col(groupCol), col("n"), col("wilson_lo"))
    val drift = Stats.jsByGroup(reference, batch, catCol, groupCol)
    wil.join(drift.select(col(groupCol),
        when(col("n_ref") > 0 && col("n_cur") > 0, col("js"))
          .otherwise(lit(math.log(2.0))).as("js")), Seq(groupCol))
      .select(col(groupCol), col("n"), col("wilson_lo"), col("js"),
        coalesce(col("wilson_lo") >= minWilsonLo && col("js") <= maxJs,
          lit(false)).as("admitted"))
  }

  /** [[admissionReport]] with the drift arm swapped to EMBEDDING-SPACE
    * drift ([[graft.ops.EmbeddingEval.embeddingDriftByGroup]]): per
    * source, the cosine between the batch's and the reference's centroid
    * vectors plus the mean-norm ratio — the arm that catches an encoder
    * regression or silently swapped model while every scalar column
    * reads stable. Admission requires `centroid_cosine ≥ minCentroidCos`
    * and `|norm_ratio − 1| ≤ maxNormDelta`. State stays (sources ×
    * dims)-bounded: two component-mean aggregations per side, nothing
    * per-document survives the micro-batch.
    *
    * A source with no reference evidence has NULL drift metrics —
    * `admitted` coalesces to an explicit false (no free pass), matching
    * the other arms.
    */
  def admissionReportEmbedding(batch: DataFrame, reference: DataFrame,
                               groupCol: String, vecCol: String,
                               quality: Column, minWilsonLo: Double,
                               minCentroidCos: Double,
                               maxNormDelta: Double): DataFrame = {
    val wil = DataQuality.wilsonShare(batch, groupCol, quality)
      .select(col(groupCol), col("n"), col("wilson_lo"))
    val drift = graft.ops.EmbeddingEval.embeddingDriftByGroup(
      reference, batch, vecCol, groupCol)
    wil.join(drift.select(col(groupCol), col("centroid_cosine"),
        col("norm_ratio")), Seq(groupCol))
      .select(col(groupCol), col("n"), col("wilson_lo"),
        col("centroid_cosine"), col("norm_ratio"),
        coalesce(col("wilson_lo") >= minWilsonLo &&
          col("centroid_cosine") >= minCentroidCos &&
          abs(col("norm_ratio") - 1.0) <= maxNormDelta,
          lit(false)).as("admitted"))
  }

  /** The FOUR-ARM admission datacard per micro-batch — the streaming
    * face of [[DataQuality.driftDatacard]] (L300): per source, the batch
    * row count and Wilson quality bound next to ALL FOUR drift
    * statistics against the reference snapshot (PSI binned numeric, KS
    * continuous numeric, JS categorical, centroid-cosine + norm-ratio
    * vector) and one composite verdict. This is the per-ingest log line
    * a 100 TB pipeline keeps: when arms disagree (a stable value
    * distribution with a flipped language mix; a stable scalar profile
    * with a rotated embedding centroid), the datacard shows WHICH
    * modality moved, where a single-arm gate only says "rejected".
    *
    * Absence-of-reference-evidence semantics match the single arms, and
    * each arm is gated on its OWN modality's evidence: PSI reads high off
    * the smoothed empty side, KS (numeric evidence) coalesces to 1.0, JS
    * (categorical evidence — the JS arm's own counts, not the KS pass's)
    * to ln 2, the vector metrics stay NULL — and the verdict is an
    * explicit false, never NULL. The Wilson counts come from the batch's
    * own drift profile, so one batch is one scan plus one join against
    * the cached reference profile (see the cache contract above).
    */
  def admissionDatacard(batch: DataFrame, reference: DataFrame,
                        groupCol: String, valueCol: String, catCol: String,
                        vecCol: String, quality: Column,
                        minWilsonLo: Double, maxPsi: Double, maxKs: Double,
                        maxJs: Double, minCentroidCos: Double,
                        maxNormDelta: Double, bins: Int = 10): DataFrame = {
    val (_, wilsonLo, _) = DataQuality.wilsonBounds(col("n"), col("successes"))
    val ks = coalesce(col("ks"), lit(1.0))
    val js = when(col("js_n_ref") > 0 && col("js_n_cur") > 0, col("js"))
      .otherwise(lit(math.log(2.0)))
    DataQuality.driftCard(reference, batch, groupCol, valueCol, catCol,
        vecCol, bins, quality)
      .filter(col("n").isNotNull)
      .select(col(groupCol), col("n"), wilsonLo.as("wilson_lo"), col("psi"),
        ks.as("ks"), js.as("js"), col("centroid_cosine"), col("norm_ratio"),
        coalesce(wilsonLo >= minWilsonLo && col("psi") <= maxPsi &&
          ks <= maxKs && js <= maxJs &&
          col("centroid_cosine") >= minCentroidCos &&
          abs(col("norm_ratio") - 1.0) <= maxNormDelta, lit(false))
          .as("admitted"))
  }

  /** The micro-batch filtered to rows of the sources a verdict frame
    * admits — `report` is any `admissionReport*` / [[admissionDatacard]]
    * output (a `groupCol` and a non-null boolean `admitted` per source).
    * A broadcast left-semi join on the |sources|-bounded verdict frame:
    * per-batch cost is the report's own passes plus one over the batch,
    * with no per-document state.
    */
  def admit(batch: DataFrame, report: DataFrame,
            groupCol: String): DataFrame =
    batch.join(broadcast(report.filter(col("admitted")).select(col(groupCol))),
      Seq(groupCol), "left_semi")
}
