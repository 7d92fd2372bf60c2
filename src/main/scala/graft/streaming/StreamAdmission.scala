package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.CatalystBridge
import org.apache.spark.sql.graft.CatalystBridge.PlanTemplate
import org.apache.spark.storage.StorageLevel

import graft.ops.DataQuality

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
  * Cache contract: [[admissionDatacard]] keeps two things per reference
  * frame. One is the reference's drift profile, scope-cached; a later
  * batch re-deriving the same reference finds it in the CacheManager and
  * registers nothing, so `graft.ops.OpCaches.registered` stays flat over
  * a stream. The other is the analyzed datacard plan of the last fresh
  * build, its PSI edges already folded in as literals: a later batch of
  * the same schema, with equal arguments and from the same session, runs
  * that plan over its own rows instead of building the datacard again.
  * Both end at `graft.ops.OpCaches.releaseAll()`: the plan is used only
  * while its profile is cached, and the next call after a release drops
  * every plan whose profile was released (with the batch rows its leaf
  * may hold), builds afresh and caches the profile again. Call it once,
  * after the stream stops: releasing per batch would re-scan the
  * reference and rebuild the datacard every batch.
  */
object StreamAdmission {

  /** The datacard plan of the last fresh build against one reference:
    * the arguments it was built for, the reference profile it reads, and
    * the plan over that build's batch. */
  private final case class Planned(args: Seq[Any], profile: DataFrame,
                                   plan: PlanTemplate)

  /** Keyed weakly on the reference frame itself: a plan lives no longer
    * than the reference it was built against, nor past the first call
    * after its profile is released. */
  private val planned = new java.util.WeakHashMap[DataFrame, Planned]()

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
    * A source with no reference evidence never passes, and each arm is
    * gated on its OWN modality's evidence: PSI reads high off
    * the smoothed empty side, KS (numeric evidence) coalesces to 1.0, JS
    * (categorical evidence — the JS arm's own counts, not the KS pass's)
    * to ln 2, the vector metrics stay NULL — and the verdict is an
    * explicit false, never NULL. The Wilson counts come from the batch's
    * own drift profile, so one batch is one scan, one aggregation (one
    * exchange) and one join against the cached reference profile. After the first batch the datacard is
    * not built again: the kept plan runs over the new batch, which costs
    * no Spark job before the action (see the cache contract above).
    */
  def admissionDatacard(batch: DataFrame, reference: DataFrame,
                        groupCol: String, valueCol: String, catCol: String,
                        vecCol: String, quality: Column,
                        minWilsonLo: Double, maxPsi: Double, maxKs: Double,
                        maxJs: Double, minCentroidCos: Double,
                        maxNormDelta: Double, bins: Int = 10): DataFrame = {
    val args = Seq(groupCol, valueCol, catCol, vecCol, quality, minWilsonLo,
      maxPsi, maxKs, maxJs, minCentroidCos, maxNormDelta, bins)
    planned.synchronized {
      planned.values.removeIf(_.profile.storageLevel == StorageLevel.NONE)
      Option(planned.get(reference))
    }.filter(_.args == args).flatMap(_.plan.bind(batch))
      .getOrElse {
        val profile = DataQuality.referenceProfile(reference, groupCol,
          valueCol, catCol, vecCol)
        val (_, wilsonLo, _) = DataQuality.wilsonBounds(col("n"), col("successes"))
        val ks = coalesce(col("ks"), lit(1.0))
        val js = when(col("js_n_ref") > 0 && col("js_n_cur") > 0, col("js"))
          .otherwise(lit(math.log(2.0)))
        val card = DataQuality.driftCard(profile, batch, groupCol, valueCol,
            catCol, vecCol, bins, quality)
          .filter(col("n").isNotNull)
          .select(col(groupCol), col("n"), wilsonLo.as("wilson_lo"), col("psi"),
            ks.as("ks"), js.as("js"), col("centroid_cosine"), col("norm_ratio"),
            coalesce(wilsonLo >= minWilsonLo && col("psi") <= maxPsi &&
              ks <= maxKs && js <= maxJs &&
              col("centroid_cosine") >= minCentroidCos &&
              abs(col("norm_ratio") - 1.0) <= maxNormDelta, lit(false))
              .as("admitted"))
        planned.synchronized(CatalystBridge.template(card, batch, reference) match {
          case Some(t) =>
            planned.put(reference, Planned(args, profile, t))
          case None => planned.remove(reference)
        })
        card
      }
  }

  /** The micro-batch filtered to rows of the sources a verdict frame
    * admits — `report` is an [[admissionDatacard]] output (a `groupCol`
    * and a non-null boolean `admitted` per source). A broadcast left-semi
    * join on the |sources|-bounded verdict frame: per-batch cost is the
    * report's own passes plus one over the batch, with no per-document
    * state.
    */
  def admit(batch: DataFrame, report: DataFrame,
            groupCol: String): DataFrame =
    batch.join(broadcast(report.filter(col("admitted")).select(col(groupCol))),
      Seq(groupCol), "left_semi")
}
