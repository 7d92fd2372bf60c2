package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions._

/** Label-aware embedding evaluation — the quality harness a curation
  * pipeline runs over a labeled embedding table (reference surface:
  * the toolkit's cohort/KPI evaluation loop, generalized to vector
  * data; beyond-reference ops for the training-data pipeline).
  *
  *   - [[knnLabelAccuracy]]: leave-one-out k-NN majority-vote accuracy
  *     per label — "do my embeddings separate my labels" as a measured
  *     number, the standard probe before spending GPU time on a model.
  *   - [[silhouetteSimplified]]: per-label simplified silhouette
  *     (centroid-based): a = cosine distance to the own-label centroid,
  *     b = min distance to any other centroid, s = (b−a)/max(a,b).
  *     The classic O(n²) silhouette is replaced by the centroid form —
  *     one centroid fit (explode + two hash-aggs) + a map-side score
  *     against the broadcast centroid table, which is the only shape
  *     that survives 100 TB.
  *   - [[conformalThresholds]]: split-conformal per-label nonconformity
  *     thresholds — q̂ = the ⌈(n+1)(1−α)⌉-th smallest score, computed
  *     WITHOUT a per-row window: scores collapse to per-(label, score)
  *     counts first (map-side combine; ≤ 10⁶ distinct at 6-dp rounding),
  *     then the cumulative rank runs over that bounded frame. A per-row
  *     `row_number` window over 10 labels would put each label's entire
  *     partition through one task at scale.
  *
  * Determinism discipline (matches [[Similarity]]): cosines are
  * sequential-left-fold doubles ROUNDED to 6 decimals before any
  * comparison or ranking; ties break on id / label ascending. All three
  * ops hash-match DuckDB oracles exactly.
  */
object EmbeddingEval {

  private def cosine6(qv: org.apache.spark.sql.Column,
                      qn: org.apache.spark.sql.Column,
                      cv: org.apache.spark.sql.Column,
                      cn: org.apache.spark.sql.Column) =
    round(dotD(qv, cv) / nullif(qn * cn, lit(0.0)), 6)

  /** Leave-one-out k-NN classification accuracy per label.
    *
    * `queries` is the evaluation sample (a bounded slice of the corpus —
    * at production scale you evaluate on a fixed sample, never all-pairs);
    * candidates are the full corpus minus the query row itself. The
    * majority vote ties break to the SMALLEST label. Output:
    * (label, n_queries, n_correct, accuracy).
    */
  def knnLabelAccuracy(corpus: DataFrame, queries: DataFrame,
                       idCol: String, vecCol: String, labelCol: String,
                       k: Int): DataFrame = {
    val knn = Similarity.bruteForceKnn(corpus, queries, idCol, vecCol, k)
    val candLabels = corpus.select(col(idCol).as("cand_id"),
      col(labelCol).as("__cl"))
    val trueLabels = queries.select(col(idCol).as("query_id"),
      col(labelCol).as("__tl"))
    // Vote: neighbor-label counts per query, then one rank over the ≤ k
    // rows per query (votes desc, label asc).
    val votes = knn.join(candLabels, Seq("cand_id"))
      .groupBy(col("query_id"), col("__cl"))
      .agg(count(lit(1)).as("__v"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("__v").desc, col("__cl"))
    val pred = votes.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col("query_id"), col("__cl").as("__pl"))
    pred.join(trueLabels, Seq("query_id"))
      .groupBy(col("__tl"))
      .agg(count(lit(1)).as("n_queries"),
        sum(when(col("__pl") === col("__tl"), 1L).otherwise(0L))
          .as("n_correct"))
      .select(col("__tl").as("label"), col("n_queries"), col("n_correct"),
        round(col("n_correct").cast("double") /
          col("n_queries").cast("double"), 6).as("accuracy"))
  }

  /** Per-label simplified (centroid) silhouette over cosine distance.
    * Output: (label, n, mean_silhouette) — mean of per-point
    * s = (b − a) / max(a, b) rounded to 6 decimals (0 when both distances
    * are 0), where distances are 1 − cosine₆(point, centroid).
    */
  def silhouetteSimplified(emb: DataFrame, idCol: String, vecCol: String,
                           labelCol: String): DataFrame = {
    val cent = Similarity.centroids(emb, labelCol, vecCol)
      .select(col(labelCol).as("__clab"), col("centroid"),
        normD(col("centroid")).as("__cn"))
    val pts = emb.select(col(idCol).as("__id"), col(labelCol).as("__plab"),
      col(vecCol).as("__pv"), normD(col(vecCol)).as("__pn"))
    // |labels| centroids broadcast against every point: the distance
    // matrix is map-side; per-point a/b reduce over ≤ |labels| rows.
    val d = pts.crossJoin(broadcast(cent))
      .withColumn("__d",
        lit(1.0) - cosine6(col("__pv"), col("__pn"), col("centroid"), col("__cn")))
    val ab = d.groupBy(col("__id"), col("__plab"))
      .agg(max(when(col("__plab") === col("__clab"), col("__d"))).as("__a"),
        min(when(col("__plab") =!= col("__clab"), col("__d"))).as("__b"))
    val s = ab.withColumn("__s",
      when(greatest(col("__a"), col("__b")) === 0.0, lit(0.0))
        .otherwise(round((col("__b") - col("__a")) /
          greatest(col("__a"), col("__b")), 6)))
    s.groupBy(col("__plab"))
      .agg(count(lit(1)).as("n"), round(avg(col("__s")), 6).as("mean_silhouette"))
      .select(col("__plab").as("label"), col("n"), col("mean_silhouette"))
  }

  /** Nearest-centroid cluster assignment: each vector goes to the
    * centroid with the highest 6-dp cosine (ties → smallest cluster id).
    * Centroids broadcast (bounded |clusters| rows); the distance matrix
    * is map-side; the argmax reduces ≤ |clusters| rows per vector.
    * Output: (idCol, cluster).
    */
  def assignClusters(emb: DataFrame, idCol: String, vecCol: String,
                     centroids: DataFrame, clusterCol: String): DataFrame = {
    val cent = centroids.select(col(clusterCol).cast("long").as("__c"),
      col("centroid"), normD(col("centroid")).as("__cn"))
    val pts = emb.select(col(idCol), col(vecCol).as("__pv"),
      normD(col(vecCol)).as("__pn"))
    pts.crossJoin(broadcast(cent))
      .select(col(idCol),
        struct(
          cosine6(col("__pv"), col("__pn"), col("centroid"), col("__cn"))
            .as("__cos"),
          (-col("__c")).as("__negc")).as("__s"))
      .groupBy(col(idCol))
      // struct max = (highest cosine, then highest -c = SMALLEST cluster).
      .agg(max(col("__s")).as("__m"))
      .select(col(idCol), (-col("__m.__negc")).as("cluster"))
  }

  /** Cluster-balanced (semantic-diversity) sampling: `totalN` rows split
    * EQUALLY across nearest-centroid clusters — the curation step that
    * keeps a sample from collapsing onto the corpus's dominant semantic
    * mode the way a uniform draw does. Assignment via [[assignClusters]];
    * the equal shares complete by largest remainder deterministically
    * (+1 to the `totalN mod k` largest clusters, ties → smallest id), a
    * cluster smaller than its quota contributes all its members
    * (`totalN` is a CEILING, the [[Sampling.neymanSample]] contract);
    * the per-cluster pick is the hash-ranked deterministic top-quota.
    *
    * Scale shape: centroids broadcast; quotas derive on the |clusters|-row
    * aggregate (bounded windows); the rank window is PRE-THINNED by key
    * hash to ~10× the max quota (+1000-row floor) per cluster first —
    * quota ≤ base+1 by construction, so the thin keeps every possible
    * winner with negligible (deterministic, data-fixed) miss risk and no
    * cluster's full population ever rides one window task.
    */
  def clusterBalancedSample(emb: DataFrame, idCol: String, vecCol: String,
                            centroids: DataFrame, clusterCol: String,
                            totalN: Int): DataFrame = {
    require(totalN > 0, "totalN must be positive")
    val assigned = assignClusters(emb, idCol, vecCol, centroids, clusterCol)
    val sizes = assigned.groupBy(col("cluster")).agg(count(lit(1)).as("__n"))
    val wAll = Window.partitionBy(lit(1))
    val wRem = Window.partitionBy(lit(1))
      .orderBy(col("__n").desc, col("cluster"))
    // base/remainder in exact integer arithmetic over the k-row frame.
    val quotas = sizes
      .withColumn("__k", count(lit(1)).over(wAll))
      .withColumn("__rk", row_number().over(wRem))
      .select(col("cluster"), col("__n"),
        least(col("__n"),
          expr(s"$totalN div __k") +
            when(col("__rk") <= expr(s"$totalN - (($totalN div __k) * __k)"),
              1L).otherwise(0L)).as("quota"))
    // Pre-thin before the rank window (stratifiedExact discipline): the
    // quota is ≤ totalN div k + 1, so 10× that (with a 1000-row floor)
    // bounds every window partition independent of cluster size.
    val expectKeep = greatest(lit(10.0) * col("quota"), lit(1000.0))
    val thinned = assigned.join(broadcast(quotas), Seq("cluster"))
      .filter(Sampling.keyUniform(col(idCol)) <
        least(lit(1.0), expectKeep / col("__n")))
    val w = Window.partitionBy(col("cluster"))
      .orderBy(Sampling.keyUniform(col(idCol)), col(idCol))
    thinned.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= col("quota"))
      .select(col(idCol), col("cluster"))
  }

  /** Maximal Marginal Relevance re-ranking (Carbonell & Goldstein 1998):
    * from each query's `poolK` most-relevant candidates, greedily select
    * `selectK` that trade relevance against redundancy —
    * score(c) = λ·rel(c) − (1−λ)·max_{s∈selected} cos(c, s) — the
    * diversity-aware retrieval/eval step that keeps a context window (or
    * an eval set) from filling with near-copies of one passage.
    *
    * Deterministic and oracle-replayable: λ is basis points (exact
    * double λ = bp/10⁴), every cosine and every MMR score re-quantizes
    * to 6 dp before the argmax, ties break to the smallest candidate id,
    * and the greedy loop is a FIXED `selectK` unrolled rounds (the
    * PageRank discipline — no data-dependent convergence).
    *
    * Scale shape: the pool is per-query bounded (≤ poolK rows carrying
    * their vectors), scope-cached once; each greedy round is one
    * pool×selected equi join on query_id (≤ poolK·r rows per query) +
    * one struct-max argmax — never a window over the corpus, and the
    * corpus itself is touched only by the pool builder
    * ([[Similarity.bruteForceKnn]] here; any ANN pool works the same).
    */
  def mmrRerank(corpus: DataFrame, queries: DataFrame, idCol: String,
                vecCol: String, poolK: Int, selectK: Int,
                lambdaBp: Int): DataFrame = {
    require(poolK >= selectK && selectK >= 1, "need 1 <= selectK <= poolK")
    require(lambdaBp >= 0 && lambdaBp <= 10000, "lambda in basis points")
    val lam = lambdaBp.toDouble / 10000.0
    val cv = corpus.select(col(idCol).as("cand_id"), col(vecCol).as("__cv"),
      normD(col(vecCol)).as("__cn"))
    val pool = OpCaches.scoped(
      Similarity.bruteForceKnn(corpus, queries, idCol, vecCol, poolK)
        .select(col("query_id"), col("cand_id"), col("cosine").as("__rel"))
        .join(cv, Seq("cand_id")))
    // Greedy rounds: selected carries (query_id, cand_id, rel, vec, norm,
    // mmr_rank). Round r: per remaining candidate, penalty = max cosine
    // to any selected; argmax (6-dp mmr, smallest id) via struct max.
    val empty = pool.filter(lit(false))
      .select(col("query_id"), col("cand_id"), col("__rel"), col("__cv"),
        col("__cn"), lit(0).as("mmr_rank"))
    val selected = (1 to selectK).foldLeft(empty) { (sel, r) =>
      val s = sel.select(col("query_id"), col("cand_id").as("__sid"),
        col("__cv").as("__sv"), col("__cn").as("__sn"))
      val remaining = pool.join(sel.select(col("query_id"), col("cand_id")),
        Seq("query_id", "cand_id"), "left_anti")
      val pen = remaining.join(s, Seq("query_id"), "left")
        .groupBy(col("query_id"), col("cand_id"))
        .agg(first(col("__rel")).as("__rel"), first(col("__cv")).as("__cv"),
          first(col("__cn")).as("__cn"),
          coalesce(max(cosine6(col("__cv"), col("__cn"), col("__sv"),
            col("__sn"))), lit(0.0)).as("__pen"))
        .withColumn("__mmr",
          round(lit(lam) * col("__rel") - lit(1.0 - lam) * col("__pen"), 6))
      val pick = pen.groupBy(col("query_id"))
        .agg(max(struct(col("__mmr"), (-col("cand_id")).as("__negid")))
          .as("__best"))
      sel.unionByName(pen
        .join(pick, Seq("query_id"))
        .filter(col("__mmr") === col("__best.__mmr") &&
          col("cand_id") === -col("__best.__negid"))
        .select(col("query_id"), col("cand_id"), col("__rel"), col("__cv"),
          col("__cn"), lit(r).as("mmr_rank")))
        .localCheckpoint()
    }
    selected.select(col("query_id"), col("cand_id"),
      col("__rel").as("relevance"), col("mmr_rank"))
  }

  /** Split-conformal per-label thresholds on the nonconformity score
    * s = round(1 − cosine₆(point, own-label centroid), 6): for each label,
    * q̂ = the r-th smallest score with r = min(n, ⌈(n+1)·(1−α)⌉) —
    * the standard finite-sample-valid conformal quantile. `alphaBp` is α
    * in basis points (exact integer rank arithmetic; no float quantile).
    *
    * Output: (label, n, qhat, coverage) where coverage = the fraction of
    * calibration scores ≤ q̂ (≥ 1−α by construction, > it only through
    * ties — emitted so drift in the score distribution is observable).
    *
    * Scale shape: scores collapse to per-(label, score) COUNTS before any
    * window; the cumulative rank runs over distinct 6-dp scores per label
    * (bounded ≤ 2·10⁶ rows/label whatever n is), not per point.
    */
  def conformalThresholds(emb: DataFrame, idCol: String, vecCol: String,
                          labelCol: String, alphaBp: Int): DataFrame = {
    require(alphaBp > 0 && alphaBp < 10000, "alphaBp must lie in (0, 10000)")
    val cent = Similarity.centroids(emb, labelCol, vecCol)
      .select(col(labelCol).as("__clab"), col("centroid"),
        normD(col("centroid")).as("__cn"))
    val scored = emb.select(col(labelCol).as("__lab"), col(vecCol).as("__pv"),
        normD(col(vecCol)).as("__pn"))
      .join(broadcast(cent), col("__lab") === col("__clab"))
      .select(col("__lab"),
        round(lit(1.0) -
          cosine6(col("__pv"), col("__pn"), col("centroid"), col("__cn")), 6)
          .as("__s"))
    val grp = scored.groupBy(col("__lab"), col("__s")).agg(count(lit(1)).as("__c"))
    val w = Window.partitionBy(col("__lab")).orderBy(col("__s"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = grp.withColumn("__cum", sum(col("__c")).over(w))
      .withColumn("__n", sum(col("__c")).over(Window.partitionBy(col("__lab"))))
    // r = min(n, ceil((n+1)(1-α))) in exact integer arithmetic; q̂ = the
    // smallest score whose cumulative count reaches r.
    val r = least(col("__n"),
      expr(s"((__n + 1) * ${10000 - alphaBp} + 9999) div 10000"))
    cum.filter(col("__cum") >= r)
      .groupBy(col("__lab"))
      .agg(min_by(struct(col("__s"), col("__cum")), col("__s")).as("__q"),
        max(col("__n")).as("n"))
      .select(col("__lab").as("label"), col("n"),
        col("__q.__s").as("qhat"),
        round(col("__q.__cum").cast("double") / col("n").cast("double"), 6)
          .as("coverage"))
  }

  /** Two-snapshot EMBEDDING-SPACE drift per group (L298) — the vector
    * member of the drift family (PSI/KS cover numeric columns, JS
    * categorical ones; an encoder regression or upstream content shift
    * moves the VECTORS while every scalar column looks stable). Per
    * group: `centroid_cosine` = cosine between the snapshots' mean
    * vectors (direction drift; 1.0 = stable) and `norm_ratio` = ratio
    * of mean L2 norms (scale drift; 1.0 = stable) — the two failure
    * axes of an embedding pipeline, both broken by re-normalization
    * bugs, dtype truncation, or a silently swapped model. Cost: one
    * component-mean aggregation (explode → two hash-aggs, map-side
    * combined) plus one norm aggregation per side — everything after is
    * (groups × dims)-bounded. Centroid components and mean norms round
    * to 6 decimals before the cosine/ratio so the numbers are
    * bit-portable across engines.
    */
  def embeddingDriftByGroup(ref: DataFrame, cur: DataFrame, vecCol: String,
                            groupCol: String): DataFrame = {
    def side(df: DataFrame, pre: String) = {
      val cent = Similarity.centroids(df, groupCol, vecCol)
        .select(col(groupCol), col("centroid").as(s"__${pre}c"))
      val agg = df.filter(col(vecCol).isNotNull)
        .groupBy(col(groupCol))
        .agg(count(lit(1)).as(s"n_$pre"),
          round(avg(normD(col(vecCol))), 6).as(s"__${pre}norm"))
      cent.join(agg, Seq(groupCol))
    }
    // r16 opt: reference-side centroid/norm aggregate scope-cached for
    // stream-static reuse (see Stats.ksByGroup) — (groups × dims)-bounded.
    OpCaches.scoped(side(ref, "ref"))
      .join(side(cur, "cur"), Seq(groupCol), "full_outer")
      .select(col(groupCol),
        coalesce(col("n_ref"), lit(0L)).as("n_ref"),
        coalesce(col("n_cur"), lit(0L)).as("n_cur"),
        centroidCosine(col("__refc"), col("__curc")).as("centroid_cosine"),
        normRatio(col("__refnorm"), col("__curnorm")).as("norm_ratio"))
  }

  /** Cosine between two centroid vectors at 6 dp; null when either side
    * is missing or has zero norm. Shared by [[embeddingDriftByGroup]] and
    * the drift datacard. */
  private[graft] def centroidCosine(ref: Column, cur: Column): Column =
    round(dotD(ref, cur) / nullif(normD(ref) * normD(cur), lit(0.0)), 6)

  /** Ratio of mean L2 norms (current over reference) at 6 dp; null when
    * either side is missing or the reference norm is zero. */
  private[graft] def normRatio(refNorm: Column, curNorm: Column): Column =
    round(curNorm / nullif(refNorm, lit(0.0)), 6)
}
