package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.DriftKernels

/** Dataset-quality auditing: referential-integrity orphan counts,
  * Benford first-digit screening, and proportion confidence intervals —
  * the checks a 100 TB ingest runs before (and after) every curation
  * pass, alongside the PSI drift monitor and snapshot diff.
  *
  * Scale design: each audit is one pass over the child/fact table with a
  * distinct-key join against the parent (AQE broadcasts genuinely small
  * parents; a shuffled left join otherwise — no forced broadcast), or a
  * digit/group aggregation whose output is bounded by construction
  * (9 digits; one row per group). Nothing is event-sized downstream of
  * the first aggregation.
  */
object DataQuality {

  /** One relation to audit: child frame + its fk column, parent frame +
    * its pk column, and a display name for the report row. */
  final case class Relation(name: String, child: DataFrame, fkCol: String,
                            parent: DataFrame, pkCol: String)

  /** Referential-integrity audit: for each relation, total child rows,
    * orphan rows (fk with no matching parent pk; null fks count as
    * orphans — a dangling reference either way), and the orphan share.
    * One left join per relation against the parent's distinct keys; the
    * per-relation outputs are single rows, unioned into one report.
    */
  def referentialIntegrity(relations: Seq[Relation]): DataFrame = {
    require(relations.nonEmpty, "need at least one relation")
    relations.map { r =>
      val keys = r.parent.select(col(r.pkCol).as("__pk")).distinct()
      r.child.select(col(r.fkCol).as("__fk"))
        .join(keys, col("__fk") === col("__pk"), "left")
        .agg(count(lit(1)).as("rows_total"),
          sum(when(col("__pk").isNull, 1L).otherwise(0L)).as("orphan_rows"))
        .select(lit(r.name).as("relation"), col("rows_total"),
          col("orphan_rows"),
          round(col("orphan_rows").cast("double") /
            col("rows_total").cast("double"), 6).as("orphan_share"))
    }.reduce(_ unionByName _)
  }

  /** Ingest-freshness report: per group (source/partition), the latest
    * event time, its lag behind the corpus frontier in whole hours,
    * and a staleness flag — the first page of any pipeline health
    * dashboard. One group aggregation plus a 1-row frontier broadcast;
    * integer microsecond arithmetic end to end.
    */
  def freshnessReport(df: DataFrame, groupCol: String, tsCol: String,
                      staleAfterHours: Long = 24): DataFrame = {
    val us = unix_micros(col(tsCol))
    val per = df.groupBy(col(groupCol))
      .agg(max(us).as("__last"), count(lit(1)).as("n_rows"))
    val frontier = per.agg(max(col("__last")).as("__front"))
    // Integer `div`, not double `/` + cast: the lag is non-negative by
    // construction (frontier = max of lasts) so floor-div == trunc-div,
    // and exact integer division mirrors the DuckDB oracle's `//` with
    // no double-representation boundary at extreme lags.
    per.crossJoin(broadcast(frontier))
      .select(col(groupCol), col("n_rows"),
        col("__last").as("last_event_us"),
        expr("(__front - __last) div 3600000000").as("lag_hours"),
        (expr("(__front - __last) div 3600000000") >= staleAfterHours)
          .as("stale"))
  }

  /** Per-column data-card profile: row count, null count, and distinct
    * cardinality for each requested column, emitted as rows — the
    * schema-health page of a dataset card. ONE aggregation pass
    * (Spark expands the multi-distinct into one shuffle), then a
    * map-side explode pivots the flat aggregate into per-column rows.
    * Integer counts only.
    */
  def nullProfile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "need at least one column")
    val aggs = cols.flatMap { c =>
      Seq(sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"__null_$c"),
        countDistinct(col(c)).as(s"__d_$c"))
    }
    df.agg(count(lit(1)).as("__n"), aggs: _*)
      .select(explode(array(cols.map(c =>
        struct(lit(c).as("column"), col("__n").as("n_rows"),
          col(s"__null_$c").as("n_null"),
          col(s"__d_$c").as("n_distinct"))): _*)).as("e"))
      .select(col("e.column"), col("e.n_rows"), col("e.n_null"),
        col("e.n_distinct"))
  }

  /** Benford first-digit screen over a positive currency-like column:
    * the digit is taken from the INTEGER cent representation
    * (`round(x·100)` formatted as a string), never from `log10`, so both
    * engines extract the identical digit — integer formatting is exact
    * where float log-binning is ulp-fragile at power-of-ten boundaries.
    * Emits, per leading digit 1–9, the observed count/share, Benford's
    * expected share log10(1 + 1/d), and the chi-square term. Output is
    * nine rows by construction: the counts join onto an explicit 1..9
    * digit spine, so a digit with ZERO observations still reports its
    * row (share 0, full expected-share chi-square term) — exactly the
    * digits a fraud screen most needs to see.
    */
  def benfordDigits(df: DataFrame, valueCol: String): DataFrame = {
    val cents = round(col(valueCol) * 100).cast("long")
    val digit = substring(cents.cast("string"), 1, 1).cast("int")
    val spine = df.sparkSession.range(1, 10)
      .select(col("id").cast("int").as("digit"))
    val counted = spine.join(
        df.filter(col(valueCol) > 0)
          .select(digit.as("digit"))
          .groupBy(col("digit")).agg(count(lit(1)).as("__cnt")),
        Seq("digit"), "left")
      .select(col("digit"), coalesce(col("__cnt"), lit(0L)).as("n"))
    val total = counted.agg(sum(col("n")).as("__total"))
    val share = col("n").cast("double") / col("__total").cast("double")
    val expected = log10(lit(1.0) + lit(1.0) / col("digit").cast("double"))
    counted.crossJoin(total)
      .select(col("digit"), col("n"),
        round(share, 6).as("share"),
        round(expected, 6).as("benford_expected"),
        round(pow(share - expected, 2) / expected, 6).as("chi2_term"))
  }

  /** Wilson score interval for a per-group success share at confidence
    * z (1.96 ≈ 95%): the interval that stays inside [0,1] and behaves at
    * small n where the normal approximation fails — the standard way to
    * rank sources by a quality-pass rate without over-trusting tiny
    * sources. One group aggregation; closed-form arithmetic after it.
    */
  def wilsonShare(df: DataFrame, groupCol: String,
                  success: org.apache.spark.sql.Column,
                  z: Double = 1.96): DataFrame = {
    val (share, lo, hi) = wilsonBounds(col("n"), col("successes"), z)
    df.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"),
        sum(when(success, 1L).otherwise(0L)).as("successes"))
      .select(col(groupCol), col("n"), col("successes"), share.as("share"),
        lo.as("wilson_lo"), hi.as("wilson_hi"))
  }

  /** (share, wilson_lo, wilson_hi) at 6 dp from a row count and a
    * success count — the arithmetic of [[wilsonShare]]. */
  private[graft] def wilsonBounds(rows: Column, successes: Column,
                                  z: Double = 1.96): (Column, Column, Column) = {
    val n = rows.cast("double")
    val p = successes.cast("double") / n
    val z2 = lit(z * z)
    val denom = lit(1.0) + z2 / n
    val center = p + z2 / (lit(2.0) * n)
    val spread = lit(z) * sqrt(p * (lit(1.0) - p) / n +
      z2 / (lit(4.0) * n * n))
    (round(p, 6), round((center - spread) / denom, 6),
      round((center + spread) / denom, 6))
  }

  /** One keyed table to audit for primary-key uniqueness. */
  final case class KeyedTable(name: String, df: DataFrame, keyCol: String)

  /** Primary-key uniqueness audit: per table, total rows, distinct keys,
    * keys that repeat, and the worst key's multiplicity — the check that
    * gates every dimension build and CDC target (a duplicated pk turns
    * downstream joins into silent fan-outs). One key-grouped aggregation
    * per table; outputs are single rows, unioned into one report.
    */
  def keyUniqueness(tables: Seq[KeyedTable]): DataFrame = {
    require(tables.nonEmpty, "need at least one table")
    tables.map { t =>
      t.df.groupBy(col(t.keyCol).as("__k"))
        .agg(count(lit(1)).as("__n"))
        .agg(sum(col("__n")).as("rows_total"),
          count(lit(1)).as("distinct_keys"),
          sum(when(col("__n") > 1, 1L).otherwise(0L)).as("dup_keys"),
          max(col("__n")).as("max_multiplicity"))
        .select(lit(t.name).as("table_name"), col("rows_total"),
          col("distinct_keys"), col("dup_keys"), col("max_multiplicity"))
    }.reduce(_ unionByName _)
  }

  /** Robust outlier report per group via the median absolute deviation:
    * MAD = median(|x − median|), outlier when |x − median| exceeds
    * k·1.4826·MAD (1.4826 scales MAD to σ under normality) — the
    * mean/stddev z-score breaks down exactly when outliers are present,
    * since they inflate its own yardstick. Three passes (median, MAD,
    * flag count), each a group aggregation with the scalar joined back —
    * group-cardinality frames AQE broadcasts.
    */
  def madOutliers(df: DataFrame, groupCol: String, valueCol: String,
                  k: Double = 3.0): DataFrame = {
    val v = col(valueCol).cast("double")
    val med = df.groupBy(col(groupCol))
      .agg(expr(s"percentile($valueCol, 0.5)").as("__med"))
    val dev = df.select(col(groupCol), v.as("__v")).join(med, Seq(groupCol))
      .withColumn("__d", abs(col("__v") - col("__med")))
    val mad = dev.groupBy(col(groupCol))
      .agg(expr("percentile(__d, 0.5)").as("__mad"))
    dev.join(mad, Seq(groupCol))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"),
        round(first(col("__med")), 6).as("median"),
        round(first(col("__mad")), 6).as("mad"),
        sum(when(col("__d") > lit(k) * lit(1.4826) * col("__mad"), 1L)
          .otherwise(0L)).as("n_outliers"))
      .withColumn("outlier_share",
        round(col("n_outliers").cast("double") / col("n").cast("double"), 6))
  }

  /** Blocked entity resolution across two registries: candidate pairs
    * come only from a shared BLOCK key (here a cheap deterministic
    * function of the name), edit distance prunes within the block, and
    * each left entity keeps its single best match (lowest distance,
    * lowest right id on ties). The block join is the scale story: an
    * all-pairs name comparison is quadratic and unshippable, while
    * block-keyed candidates shuffle on an even hash key and bound the
    * per-block fan-out — the same blocking stance as the dedup family's
    * LSH band join. Skewed blocks (a too-common name suffix) are the
    * known failure mode; pick `blockOf` accordingly or pre-cap blocks.
    */
  def entityMatch(left: DataFrame, leftIdCol: String, leftNameCol: String,
                  right: DataFrame, rightIdCol: String, rightNameCol: String,
                  blockOf: org.apache.spark.sql.Column =>
                    org.apache.spark.sql.Column,
                  maxDist: Int): DataFrame = {
    val l = left.select(col(leftIdCol), col(leftNameCol),
      blockOf(col(leftNameCol)).as("__blk"))
    val r = right.select(col(rightIdCol), col(rightNameCol),
      blockOf(col(rightNameCol)).as("__blk"))
    val pairs = l.join(r, Seq("__blk"))
      .withColumn("distance", levenshtein(col(leftNameCol), col(rightNameCol)))
      .filter(col("distance") <= maxDist)
    val pick = org.apache.spark.sql.expressions.Window
      .partitionBy(col(leftIdCol))
      .orderBy(col("distance"), col(rightIdCol))
    pairs.withColumn("__rn", row_number().over(pick))
      .filter(col("__rn") === 1)
      .select(col(leftIdCol), col(leftNameCol), col(rightIdCol),
        col(rightNameCol), col("distance"))
  }

  /** First-order transition matrix over an event-type sequence: per user
    * ordered by (ts, tie), each consecutive (state → next state) pair is
    * counted, then row-normalized into transition probabilities — the
    * maximum-likelihood Markov-chain estimate for session modeling.
    * One ordered window for the lead + one pair aggregation; the output
    * is |states|² rows at most.
    */
  def transitionMatrix(df: DataFrame, userCol: String, tsCol: String,
                       tieCol: String, stateCol: String): DataFrame = {
    val ord = org.apache.spark.sql.expressions.Window
      .partitionBy(col(userCol)).orderBy(col(tsCol), col(tieCol))
    val pairs = df
      .select(col(userCol), col(tsCol), col(tieCol),
        col(stateCol).as("from_state"))
      .withColumn("to_state", lead(col("from_state"), 1).over(ord))
      .filter(col("to_state").isNotNull)
      .groupBy(col("from_state"), col("to_state"))
      .agg(count(lit(1)).as("n"))
    // Row-normalize with a window over the |states|²-bounded aggregate —
    // a totals self-join would recompute the event-sized window pass
    // twice (measured 5.3× at the 10× probe before this; 1.4× after).
    val rowTotal = sum(col("n")).over(
      org.apache.spark.sql.expressions.Window.partitionBy(col("from_state")))
    pairs.select(col("from_state"), col("to_state"), col("n"),
      round(col("n").cast("double") / rowTotal.cast("double"), 6).as("prob"))
  }

  /** Corpus version diff — the crawl-to-crawl regression report: per
    * group, how many documents were ADDED, REMOVED, CHANGED (same id,
    * different content), or UNCHANGED between two corpus versions, plus
    * the net size delta in characters. The report a pipeline reads
    * before re-training on a refreshed source ("src3 silently lost 40%
    * of its documents" is the incident this catches).
    *
    * Scale shape: content collapses to its md5 AND length MAP-SIDE, so
    * the full-outer id join shuffles (id, group, hash, len) per side —
    * never document text; the status classification is a projection
    * over the joined row and the report is one hash-agg on (group,
    * status). Group attribution: a changed/unchanged doc reports the
    * NEW version's group; removed docs report the old one.
    */
  def corpusDiff(oldDf: DataFrame, newDf: DataFrame, idCol: String,
                 textCol: String, groupCol: String): DataFrame = {
    def slim(df: DataFrame, side: String) = df.select(
      col(idCol),
      col(groupCol).as(s"__g_$side"),
      md5(col(textCol)).as(s"__h_$side"),
      length(col(textCol)).cast("long").as(s"__len_$side"))
    val joined = slim(oldDf, "old")
      .join(slim(newDf, "new"), Seq(idCol), "full_outer")
    joined
      .select(
        coalesce(col("__g_new"), col("__g_old")).as(groupCol),
        when(col("__h_old").isNull, "added")
          .when(col("__h_new").isNull, "removed")
          .when(col("__h_old") =!= col("__h_new"), "changed")
          .otherwise("unchanged").as("status"),
        (coalesce(col("__len_new"), lit(0L)) -
          coalesce(col("__len_old"), lit(0L))).as("__delta"))
      .groupBy(col(groupCol), col("status"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__delta")).as("char_delta"))
  }

  /** UNIFIED DRIFT DATACARD (L300): per group, all four drift statistics
    * of the family from the same two snapshots — `psi` (binned numeric,
    * [[Stats.psiOf]]), `ks` (binning-free numeric, [[Stats.ksOf]]), `js`
    * (categorical, [[Stats.jsOf]]) and `centroid_cosine`/`norm_ratio`
    * (vector, [[EmbeddingEval.centroidCosine]]/[[EmbeddingEval.normRatio]])
    * — the report a 100 TB operator actually reads after an ingest: one
    * row per source, every modality of "did this source change since
    * yesterday" side by side. Values equal the single-arm ops
    * ([[Stats.psiByGroup]], [[Stats.ksByGroup]], [[Stats.jsByGroup]],
    * [[EmbeddingEval.embeddingDriftByGroup]]) joined full-outer.
    *
    * Scale shape: each snapshot is scanned ONCE into a per-group profile
    * ([[driftProfile]]: one aggregation, so one exchange per side); the
    * reference profile is scope-cached (the only scoped cache, so a
    * stream-static caller re-deriving the same reference reads it from
    * cache), its two PSI edges are collected as
    * literals, and the two |groups|-row profiles join full-outer once
    * and finish in one projection. A group reports when any arm has
    * evidence on either side. Output columns: `groupCol`,
    * `n_ref`/`n_cur` (non-null `valueCol` rows), `psi`, `ks`,
    * `js_n_ref`/`js_n_cur` (non-null `catCol` rows — the JS arm's OWN
    * evidence, so a consumer gating `js` never clobbers a live
    * categorical signal when the numeric column is all-null), `js`,
    * `centroid_cosine`, `norm_ratio`.
    */
  def driftDatacard(ref: DataFrame, cur: DataFrame, groupCol: String,
                    valueCol: String, catCol: String, vecCol: String,
                    bins: Int = 10): DataFrame =
    driftCard(referenceProfile(ref, groupCol, valueCol, catCol, vecCol), cur,
      groupCol, valueCol, catCol, vecCol, bins, lit(false))
      .drop("n", "successes")

  /** The reference side of [[driftCard]]: `ref`'s [[driftProfile]],
    * scope-cached (the only scoped cache of the datacard). */
  private[graft] def referenceProfile(ref: DataFrame, groupCol: String,
                                      valueCol: String, catCol: String,
                                      vecCol: String): DataFrame =
    OpCaches.scoped(driftProfile(ref, groupCol, valueCol, catCol, vecCol,
      lit(false), "ref"))

  /** [[driftDatacard]] over a [[referenceProfile]] `r`, plus the current
    * side's row count `n` and its `success` count `successes` (null for a
    * group absent from `cur`) — the admission datacard's Wilson inputs,
    * from the same scan. `cur` costs one scan, one aggregation and one
    * exchange ([[driftProfile]]); the join to `r` and the statistics after
    * it add none: PSI bins and KS are native kernels over the sorted
    * cells ([[Stats.binCounts]], [[Stats.ksOf]]). */
  private[graft] def driftCard(r: DataFrame, cur: DataFrame, groupCol: String,
                               valueCol: String, catCol: String, vecCol: String,
                               bins: Int, success: Column): DataFrame = {
    require(bins > 0, "bins must be positive")
    // Fixed-width PSI edges over every non-null reference value (null
    // groups included): the per-group extremes are collected (|groups|
    // rows) and folded into two doubles, applied as literals to both
    // sides. `Double.compare` orders NaN last, as Spark does; the cells
    // hold no -0.0 (the profile normalizes it as grouping does).
    val extremes = r.select(array_min(transform(col("num_ref"), _.getField("k"))),
      array_max(transform(col("num_ref"), _.getField("k")))).collect()
    def edge(i: Int, keep: Int => Boolean) = lit(extremes
      .filterNot(_.isNullAt(i)).map(_.getDouble(i))
      .reduceOption((a, b) => if (keep(java.lang.Double.compare(a, b))) a else b)
      .map(Double.box).orNull).cast("double")
    val (lo, hi) = (edge(0, _ <= 0), edge(1, _ >= 0))
    def binned(cells: Column) = Stats.binCounts(cells, bins, lo, hi)
    def total(c: String) = coalesce(col(c), lit(0L))
    val c = driftProfile(cur, groupCol, valueCol, catCol, vecCol, success, "cur")
    r.join(c, Seq(groupCol), "full_outer")
      .filter(col(groupCol).isNotNull && (total("num_n_ref") +
        total("num_n_cur") + total("cat_n_ref") + total("cat_n_cur") > 0 ||
        col("centroid_ref").isNotNull || col("centroid_cur").isNotNull))
      // Totals and bin vectors in their own projection: the statistics
      // below read each of them more than once.
      .select(col(groupCol), total("num_n_ref").as("n_ref"),
        total("num_n_cur").as("n_cur"), total("cat_n_ref").as("js_n_ref"),
        total("cat_n_cur").as("js_n_cur"), col("num_ref"), col("num_cur"),
        binned(col("num_ref")).as("bins_ref"),
        binned(col("num_cur")).as("bins_cur"), col("cat_ref"), col("cat_cur"),
        col("centroid_ref"), col("centroid_cur"), col("norm_ref"),
        col("norm_cur"), col("rows_cur").as("n"),
        col("successes_cur").as("successes"))
      .select(col(groupCol), col("n_ref"), col("n_cur"),
        when(col("n_ref") + col("n_cur") > 0,
          Stats.psiOf(col("bins_ref"), col("bins_cur"), bins)).as("psi"),
        Stats.ksOf(col("num_ref"), col("num_cur"), col("n_ref"), col("n_cur"))
          .as("ks"),
        col("js_n_ref"), col("js_n_cur"),
        when(col("js_n_ref") + col("js_n_cur") > 0,
          Stats.jsOf(col("cat_ref"), col("cat_cur"), col("js_n_ref"),
            col("js_n_cur"))).as("js"),
        EmbeddingEval.centroidCosine(col("centroid_ref"), col("centroid_cur"))
          .as("centroid_cosine"),
        EmbeddingEval.normRatio(col("norm_ref"), col("norm_cur")).as("norm_ratio"),
        col("n"), col("successes"))
  }

  /** One snapshot's per-group drift profile: one aggregation per group
    * ([[graft.functions.DriftKernels.profile]]), so one exchange per
    * side, and a projection of its fields. Columns, each suffixed
    * `_side`:
    *   - `num`: sorted (value, count) cells of non-null `valueCol`, and
    *     `num_n` their total;
    *   - `cat`: sorted (category, count) cells of non-null `catCol`, and
    *     `cat_n` their total;
    *   - `centroid`: per-component means at 6 dp and `norm`: the mean L2
    *     norm at 6 dp of the non-null vectors (both null without a
    *     non-empty vector);
    *   - `rows`: every row; `successes`: rows where `success` holds.
    * The aggregation combines map-side, so the shuffle carries cells, not
    * rows.
    */
  private[graft] def driftProfile(df: DataFrame, groupCol: String,
                                  valueCol: String, catCol: String,
                                  vecCol: String, success: Column,
                                  side: String): DataFrame = {
    df.groupBy(col(groupCol))
      .agg(DriftKernels.profile(col(valueCol).cast("double"),
        col(catCol).cast("string"), col(vecCol), success).as("__p"))
      .select(col(groupCol) +: DriftKernels.ProfileType.fieldNames.toSeq
        .map(f => col(s"__p.$f").as(s"${f}_$side")): _*)
  }
}
