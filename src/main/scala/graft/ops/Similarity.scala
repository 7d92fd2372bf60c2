package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions._

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Two paths:
  *   - [[bruteForceKnn]]: exact cosine top-k. The QUERY side broadcasts
  *     (small set of probe vectors); the corpus streams through — at 100 TB
  *     this is one scan, no shuffle of the corpus, and the per-query top-k
  *     is a windowed rank over (query, candidate) scores whose cardinality
  *     is |queries| × |corpus| — use only when |queries| is small.
  *   - [[lshKnn]]: signed-random-projection LSH. Bucket ids are computed
  *     map-side from deterministic md5-derived hyperplanes; the join is an
  *     equi-join on the bucket, so each query scores only its bucket's
  *     candidates (recall < 1, tunable by `planes`; multi-probe = union
  *     over neighboring buckets would be the next step).
  *
  * Ranking is by cosine ROUNDED to 6 decimals with id tie-break, making
  * top-k deterministic and portable across engines.
  */
object Similarity {

  /** Exact cosine top-k of `corpus` for each row of `queries`.
    * Both frames must expose (`idCol`, `vecCol`).
    */
  def bruteForceKnn(corpus: DataFrame, queries: DataFrame,
                    idCol: String, vecCol: String, k: Int): DataFrame = {
    // Norms are hoisted to one pass per side; each pair then costs a single
    // array fold (dot) instead of three.
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"),
      normD(col(vecCol)).as("__qn"))
    val c = corpus.select(col(idCol).as("cand_id"), col(vecCol).as("__cv"),
      normD(col(vecCol)).as("__cn"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("cand_id"))
      .withColumn("cosine",
        round(dotD(col("__qv"), col("__cv")) / nullif(col("__qn") * col("__cn"), lit(0.0)), 6))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("cand_id"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("query_id"), col("cand_id"), col("cosine"), col("rn"))
  }

  /** Matryoshka TWO-STAGE serving (L290): candidate generation by exact
    * cosine over the `prefixDims`-truncated vectors — prefixDims/d of the
    * flops and, with the prefix stored as its own column at scale, of the
    * scan bytes — then EXACT full-dimension re-rank of each query's top
    * `candidates` prefix survivors. Recall@k is bounded below by the
    * truncation-only recall at the same budget (re-ranking a superset of
    * the truncated top-k with the true metric can only fix inversions,
    * never introduce them past the candidate cut) and reaches 1.0 as
    * `candidates` grows. The re-rank stage is (|queries| × candidates)
    * pairs joined back to the corpus on cand_id — an equi-join, never a
    * second cross join.
    */
  def truncatedRerankKnn(corpus: DataFrame, queries: DataFrame,
                         idCol: String, vecCol: String, k: Int,
                         prefixDims: Int, candidates: Int): DataFrame = {
    require(candidates >= k, "candidate budget must cover k")
    require(prefixDims >= 1, "prefixDims must be positive")
    def trunc(df: DataFrame) =
      df.select(col(idCol), slice(col(vecCol), 1, prefixDims).as(vecCol))
    val cand = bruteForceKnn(trunc(corpus), trunc(queries), idCol, vecCol,
        k = candidates)
      .select(col("query_id"), col("cand_id"))
    rerankFullDim(cand, corpus, queries, idCol, vecCol, k)
  }

  /** Full-dimension exact re-rank of `(query_id, cand_id)` candidate
    * pairs to top-k — the shared closing stage of every two-stage serve:
    * queries broadcast, candidates equi-join the corpus on cand_id.
    */
  private def rerankFullDim(cand: DataFrame, corpus: DataFrame,
                            queries: DataFrame, idCol: String,
                            vecCol: String, k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"),
      normD(col(vecCol)).as("__qn"))
    val c = corpus.select(col(idCol).as("cand_id"), col(vecCol).as("__cv"),
      normD(col(vecCol)).as("__cn"))
    val scored = cand
      .join(broadcast(q), Seq("query_id"))
      .join(c, Seq("cand_id"))
      .withColumn("cosine",
        round(dotD(col("__qv"), col("__cv")) /
          nullif(col("__qn") * col("__cn"), lit(0.0)), 6))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("cand_id"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("query_id"), col("cand_id"), col("cosine"), col("rn"))
  }

  /** The full production serve stack (L295): IVF coarse pruning (nprobe
    * clusters per query — partition/bucket-prunable corpus read) →
    * prefix-truncated scoring WITHIN the probed clusters (prefixDims/d of
    * the flops/bytes; top `candidates` per query) → full-dimension exact
    * re-rank to top-k. Composes the engine's three independent ANN cost
    * levers; each lever's recall cost is measured by its own gate
    * (ann_recall_ivf, ann_recall_truncated, ann_truncated_rerank). The
    * cluster probe uses the FULL query vector against the full-dim
    * centroids (matching ivfKnn); only candidate scoring is truncated. A
    * candidate belongs to exactly one cluster, so multi-probe cannot
    * duplicate pairs.
    */
  def ivfTruncatedRerankKnn(corpus: DataFrame, queries: DataFrame,
                            idCol: String, vecCol: String,
                            clusterCol: String, k: Int, nprobe: Int,
                            prefixDims: Int, candidates: Int,
                            index: Option[IvfIndex] = None): DataFrame = {
    require(candidates >= k, "candidate budget must cover k")
    val idx = index.getOrElse(ivfFit(corpus, clusterCol, vecCol))
    val q = queries.select(col(idCol).as("query_id"),
        col(vecCol).as("__qfull"),
        slice(col(vecCol), 1, prefixDims).as("__qv"))
      .withColumn("__qn", normD(col("__qv")))
      .withColumn("cluster",
        explode(probeClusters(col("__qfull"), normD(col("__qfull")), idx,
          nprobe)))
      .drop("__qfull")
    val c = corpus.select(col(idCol).as("cand_id"),
        col(clusterCol).as("cluster"),
        slice(col(vecCol), 1, prefixDims).as("__cv"))
      .withColumn("__cn", normD(col("__cv")))
    val wc = Window.partitionBy(col("query_id"))
      .orderBy(col("pcos").desc, col("cand_id"))
    val cand = c.join(broadcast(q), Seq("cluster"))
      .filter(col("query_id") =!= col("cand_id"))
      .withColumn("pcos",
        round(dotD(col("__qv"), col("__cv")) /
          nullif(col("__qn") * col("__cn"), lit(0.0)), 6))
      .withColumn("rn", row_number().over(wc))
      .filter(col("rn") <= candidates)
      .select(col("query_id"), col("cand_id"))
    rerankFullDim(cand, corpus, queries, idCol, vecCol, k)
  }

  /** LSH-bucketed cosine top-k: candidates limited to the query's bucket.
    * `dims` = embedding length (hyperplane coefficients are plan-time
    * literals, see VectorFunctions.planeCoeffValue).
    *
    * Recall note: signed-random-projection recall depends on the corpus
    * having angular structure; on isotropic random vectors single-probe
    * recall@k is low by nature (measured 0.10 on the synthetic testdata via
    * [[recallAtK]]) — use [[lshKnnMultiProbe]] and/or more planes+probes,
    * and track the recall harness when tuning.
    */
  def lshKnn(corpus: DataFrame, queries: DataFrame,
             idCol: String, vecCol: String, k: Int, planes: Int, dims: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"),
      normD(col(vecCol)).as("__qn"),
      lshBucketAt(col(vecCol), planes, dims, 0).as("bucket"))
    val c = corpus.select(col(idCol).as("cand_id"), col(vecCol).as("__cv"),
      normD(col(vecCol)).as("__cn"),
      lshBucketAt(col(vecCol), planes, dims, 0).as("bucket"))
    val scored = c.join(broadcast(q), Seq("bucket"))
      .filter(col("query_id") =!= col("cand_id"))
      .withColumn("cosine",
        round(dotD(col("__qv"), col("__cv")) / nullif(col("__qn") * col("__cn"), lit(0.0)), 6))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("cand_id"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("query_id"), col("bucket"), col("cand_id"), col("cosine"), col("rn"))
  }

  /** Multi-probe LSH kNN: each query probes its own bucket PLUS every
    * bucket at Hamming distance 1 (one flipped hyperplane) — the standard
    * recall boost without adding planes. The probe set explodes on the
    * (small) query side into `planes`+1 rows, so the corpus join stays a
    * bucket equi-join.
    */
  def lshKnnMultiProbe(corpus: DataFrame, queries: DataFrame,
                       idCol: String, vecCol: String, k: Int, planes: Int,
                       dims: Int): DataFrame = {
    val probes = array((0 to planes).map {
      case 0 => col("__home")
      case p => col("__home").bitwiseXOR(lit(1L << (p - 1)))
    }: _*)
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"),
      normD(col(vecCol)).as("__qn"),
      lshBucketAt(col(vecCol), planes, dims, 0).as("__home"))
      .withColumn("bucket", explode(probes))
      .drop("__home")
    val c = corpus.select(col(idCol).as("cand_id"), col(vecCol).as("__cv"),
      normD(col(vecCol)).as("__cn"),
      lshBucketAt(col(vecCol), planes, dims, 0).as("bucket"))
    val scored = c.join(broadcast(q), Seq("bucket"))
      .filter(col("query_id") =!= col("cand_id"))
      .select(col("query_id"), col("cand_id"),
        round(dotD(col("__qv"), col("__cv")) / nullif(col("__qn") * col("__cn"), lit(0.0)), 6)
          .as("cosine"))
      .distinct() // a candidate can appear via several probes
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("cand_id"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
  }

  /** Recall@k of an ANN result against brute-force ground truth: the
    * fraction of each query's true top-k the ANN result recovered —
    * the evaluation harness that turns "approximate" into a number.
    * Both inputs must expose (query_id, cand_id, rn ≤ k).
    */
  def recallAtK(ann: DataFrame, truth: DataFrame, k: Int): DataFrame = {
    val t = truth.filter(col("rn") <= k).select(col("query_id"), col("cand_id"))
    val a = ann.filter(col("rn") <= k).select(col("query_id"), col("cand_id"))
    t.join(a, Seq("query_id", "cand_id"), "left_semi")
      .groupBy(col("query_id")).agg(count(lit(1)).as("hits"))
      .join(t.groupBy(col("query_id")).agg(count(lit(1)).as("truth_k")),
        Seq("query_id"), "right")
      .select(col("query_id"),
        coalesce(col("hits"), lit(0L)).as("hits"), col("truth_k"),
        round(coalesce(col("hits"), lit(0L)).cast("double") / col("truth_k"), 6)
          .as("recall"))
  }

  /** One fitted IVF coarse-quantizer cell: cluster label (native type),
    * component-wise-mean centroid (rounded to 6 decimals for cross-engine
    * determinism), and its precomputed L2 norm (same sequential fold the
    * SQL formulation uses).
    */
  final case class IvfCentroid(label: Any, vec: Seq[Double], norm: Double)

  /** A fitted IVF index — nlist centroids, a driver-side artifact of
    * nlist × dims doubles. This is the "train once, probe many" shape:
    * fit with ONE distributed aggregation ([[ivfFit]]), then reuse across
    * any number of queries as plan-time literals (like the LSH
    * hyperplanes) — the corpus is never re-aggregated per query.
    */
  final case class IvfIndex(centroids: Seq[IvfCentroid]) {
    require(centroids.nonEmpty, "IVF index needs at least one centroid")
  }

  /** Deterministic centroid ordering: numeric labels sort numerically
    * (label 10 after label 2 — the old `.toString` sort capped usable
    * nlist at 10), everything else lexicographically. Only used for a
    * stable in-memory order; probe tie-breaks compare the native label
    * column directly.
    */
  private def labelKey(label: Any): (Int, Double, String) = label match {
    case n: java.lang.Number => (0, n.doubleValue(), "")
    case x                   => (1, 0.0, String.valueOf(x))
  }

  /** Per-cluster component-wise mean centroids (distributed; one explode +
    * two hash-aggs). Columns: (`clusterCol`, centroid: array<double>).
    */
  def centroids(corpus: DataFrame, clusterCol: String, vecCol: String): DataFrame =
    corpus.select(col(clusterCol), posexplode(col(vecCol)))
      .groupBy(col(clusterCol), col("pos"))
      .agg(avg(col("col").cast("double")).as("c"))
      .groupBy(col(clusterCol))
      .agg(array_sort(collect_list(struct(col("pos"), round(col("c"), 6).as("c"))))
        .as("__s"))
      .select(col(clusterCol),
        transform(col("__s"), s => s.getField("c")).as("centroid"))

  /** Fit the IVF index: run [[centroids]] once and collect the (tiny)
    * result. The norm is folded left in the same order as the engine/SQL
    * dot product so downstream scores are bit-identical.
    */
  def ivfFit(corpus: DataFrame, clusterCol: String, vecCol: String): IvfIndex = {
    val rows = centroids(corpus, clusterCol, vecCol).collect()
    IvfIndex(rows.toSeq.map { r =>
      val vec = r.getSeq[Double](1)
      IvfCentroid(r.get(0), vec,
        math.sqrt(vec.foldLeft(0.0)((acc, x) => acc + x * x)))
    }.sortBy(c => labelKey(c.label)))
  }

  /** Ranking-quality metrics beyond recall — MRR and NDCG@k of an ANN
    * result against ground truth (both shaped like [[bruteForceKnn]]
    * output: query_id, cand_id, rn):
    *   - MRR: 1/rank of the FIRST true positive in the ANN list (0 when
    *     none) — "how soon does a correct neighbor appear".
    *   - NDCG@k: Σ 1/log₂(rank+1) over hit ranks, normalized by the ideal
    *     prefix — position-weighted hit quality.
    * DCG folds over the SORTED hit-rank list (collect_list → sort_array →
    * sequential aggregate), not a float `sum()`, so the few-term double
    * sum is order-identical across engines.
    */
  def rankingMetrics(ann: DataFrame, truth: DataFrame, k: Int): DataFrame = {
    val t = truth.filter(col("rn") <= k).select(col("query_id"), col("cand_id"))
    val a = ann.filter(col("rn") <= k)
      .select(col("query_id"), col("cand_id"), col("rn"))
    val hits = a.join(t, Seq("query_id", "cand_id"), "left_semi")
    val perQ = hits.groupBy(col("query_id"))
      .agg(min(col("rn")).as("first_hit"),
        sort_array(collect_list(col("rn"))).as("__rns"))
    val tk = t.groupBy(col("query_id")).agg(count(lit(1)).as("truth_k"))
    val dcg = aggregate(col("__rns"), lit(0.0),
      (acc, r) => acc + lit(1.0) / log2(r + 1))
    val idcg = aggregate(
      sequence(lit(1), least(col("truth_k"), lit(k)).cast("int")), lit(0.0),
      (acc, r) => acc + lit(1.0) / log2(r + 1))
    tk.join(perQ, Seq("query_id"), "left")
      .select(col("query_id"),
        round(coalesce(lit(1.0) / col("first_hit"), lit(0.0)), 6).as("mrr"),
        round(coalesce(dcg, lit(0.0)) / idcg, 6).as("ndcg"),
        coalesce(size(col("__rns")), lit(0)).cast("long").as("n_hits"),
        col("truth_k"))
  }

  /** Persist a fitted IVF index as a tiny parquet table (one row per
    * centroid: typed label + centroid vector) so "fit once, probe many"
    * survives a cluster restart — the quantizer is an ARTIFACT, not session
    * state. The label round-trips through a (type tag, string) pair because
    * it keeps the caller's native type; the norm is recomputed on load with
    * the SAME sequential fold [[ivfFit]] uses, so a loaded index scores
    * bit-identically to a fresh fit.
    */
  def ivfSave(spark: SparkSession, index: IvfIndex, path: String): Unit = {
    import spark.implicits._
    index.centroids.map { c =>
      val (tag, s) = c.label match {
        case l: java.lang.Long    => ("long", l.toString)
        case i: java.lang.Integer => ("int", i.toString)
        case d: java.lang.Double  => ("double", d.toString)
        case x                    => ("string", String.valueOf(x))
      }
      (tag, s, c.vec)
    }.toDF("label_type", "label", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Restore an index written by [[ivfSave]]. */
  def ivfLoad(spark: SparkSession, path: String): IvfIndex = {
    val rows = spark.read.parquet(path)
      .select(col("label_type"), col("label"), col("centroid")).collect()
    IvfIndex(rows.toSeq.map { r =>
      val label: Any = r.getString(0) match {
        case "long"   => java.lang.Long.valueOf(r.getString(1))
        case "int"    => java.lang.Integer.valueOf(r.getString(1))
        case "double" => java.lang.Double.valueOf(r.getString(1))
        case _        => r.getString(1)
      }
      val vec = r.getSeq[Double](2)
      IvfCentroid(label, vec,
        math.sqrt(vec.foldLeft(0.0)((acc, x) => acc + x * x)))
    }.sortBy(c => labelKey(c.label)))
  }

  /** The query's `nprobe` nearest centroids as an array of cluster labels,
    * computed entirely map-side from index literals: per-centroid cosine
    * (rounded to 6 dp), array_sort by (cosine desc, label asc), slice.
    * No join, no window, no shuffle for the assignment step.
    */
  private[graft] def probeClusters(qv: org.apache.spark.sql.Column,
                                   qn: org.apache.spark.sql.Column,
                                   index: IvfIndex, nprobe: Int): org.apache.spark.sql.Column = {
    val scored = array(index.centroids.map { c =>
      struct(round(dotD(qv, typedlit(c.vec)) / nullif(qn * lit(c.norm), lit(0.0)), 6).as("ccos"),
        lit(c.label).as("label"))
    }: _*)
    val sorted = array_sort(scored, (l, r) =>
      when(l.getField("ccos") > r.getField("ccos"), -1)
        .when(l.getField("ccos") < r.getField("ccos"), 1)
        .when(l.getField("label") < r.getField("label"), -1)
        .when(l.getField("label") > r.getField("label"), 1)
        .otherwise(0))
    transform(slice(sorted, 1, nprobe), s => s.getField("label"))
  }

  /** Distributed spherical k-means fit — the missing half of IVF when the
    * corpus has NO precomputed cluster column: Lloyd iterations where the
    * ASSIGNMENT step is entirely map-side (argmax cosine over the current
    * centroids as plan-time literals, zero shuffles — same mechanism as
    * [[ivfKnn]]'s probe) and the UPDATE step is one distributed
    * per-(cluster, dim) mean aggregation; only nlist×dims doubles ever
    * reach the driver per iteration.
    *
    * Deterministic end-to-end: seeding takes the k vectors with the
    * smallest md5(id) (id tie-break), components round to 6 dp each
    * update (the cross-engine parity recipe), and assignment ties break
    * by label — so the fit is reproducible and oracle-checkable, unlike
    * RNG-seeded k-means. Cosine assignment = spherical k-means, the
    * standard for embedding spaces.
    */
  /** The ONE deterministic seeding recipe both k-means variants share —
    * oracle-parity-critical: the k vectors with the smallest md5(id)
    * prefix (id tie-break), components rounded to 6 dp. Any change here
    * must land in the SQL oracles' cent0 CTEs too.
    */
  private def seedVectors(corpus: DataFrame, idCol: String, vecCol: String,
                          k: Int): Seq[Seq[Double]] =
    corpus.select(
        transform(col(vecCol), x => round(x.cast("double"), 6)).as("v"),
        graft.functions.HashExpressions.md5HexLong(
          col(idCol).cast("string"), 1, 8).as("__h"), col(idCol).as("__id"))
      .orderBy(col("__h"), col("__id")).limit(k)
      .select(col("v")).collect().toSeq.map(_.getSeq[Double](0))

  /** Dense rounded-cosine table against an index: ONE matrix literal of
    * (centroid, norm) structs swept by a transform — position i holds the
    * score against `index.centroids(i)`. O(1) plan size at any nlist,
    * where the sorted-struct probe builds nlist per-centroid expressions
    * (the same plan-size cliff the dense ADC tables fixed). Values are
    * bit-identical to [[probeClusters]]' scores: same dotD, same
    * precomputed norm, same 6-dp rounding. `v` and `n` MUST be
    * materialized projection columns — the lambda body re-evaluates per
    * element and Catalyst does no CSE inside lambda bodies.
    */
  private def denseCosTable(v: org.apache.spark.sql.Column,
                            n: org.apache.spark.sql.Column,
                            index: IvfIndex): org.apache.spark.sql.Column = {
    val mat = typedlit(index.centroids.map(c => (c.vec, c.norm)))
    // Native fused kernel — bit-identical (differential-property-tested)
    // to `transform(mat, c => round(dotD(v, c._1) / nullif(n * c._2, 0),
    // 6))`, but one codegen'd call per row instead of k interpreted
    // lambda dispatches: these tables run corpus-side (assignment, Lloyd,
    // SemDeDup probes).
    import org.apache.spark.sql.graft.CatalystBridge
    CatalystBridge.column(graft.functions.VectorExpressions.CosTableD(
      CatalystBridge.expression(v), CatalystBridge.expression(n),
      CatalystBridge.expression(mat)))
  }

  /** Centroid labels in index (= position) order, as an array literal —
    * maps an argmax POSITION back to the label, so dense assignment works
    * for arbitrary label values (data-derived labels need not be dense
    * ints). Positions ascend by label ([[ivfFit]]/[[kmeansFit]] sort), so
    * the FIRST maximum is the smallest label — exactly [[probeClusters]]'
    * (score desc, label asc) tie-break.
    */
  private def labelArray(index: IvfIndex) =
    array(index.centroids.map(c => lit(c.label)): _*)

  /** Argmax-by-position cluster from a materialized dense score column.
    * Degenerate rows whose every score is null (zero-norm vectors: the
    * nullif guard) fall back to the smallest label — the sorted-struct
    * probe's behavior for all-equal scores — instead of a NULL cluster
    * that would silently drop the row from every downstream equi-join.
    */
  private def argmaxLabel(cos: org.apache.spark.sql.Column, index: IvfIndex) =
    element_at(labelArray(index),
      coalesce(array_position(cos, array_max(cos)).cast("int"), lit(1)))

  def kmeansFit(corpus: DataFrame, idCol: String, vecCol: String,
                k: Int, iters: Int): IvfIndex = {
    require(k > 0, "k must be positive")
    def foldNorm(vec: Seq[Double]): Double =
      math.sqrt(vec.foldLeft(0.0)((acc, x) => acc + x * x))
    var cents: Seq[IvfCentroid] =
      seedVectors(corpus, idCol, vecCol, k).zipWithIndex.map { case (v, i) =>
        IvfCentroid(i, v, foldNorm(v))
      }
    for (_ <- 1 to iters) {
      // Corpus-side assignment goes through the dense table (this pass
      // touches every row every iteration; the sorted-struct probe stays
      // on bounded query sides only).
      val idx = IvfIndex(cents)
      val assigned = corpus
        .withColumn("__n", normD(col(vecCol)))
        .withColumn("__cos", denseCosTable(col(vecCol), col("__n"), idx))
        .withColumn("cluster", argmaxLabel(col("__cos"), idx))
      cents = centroids(assigned, "cluster", vecCol).collect().toSeq.map { r =>
        val vec = r.getSeq[Double](1)
        IvfCentroid(r.get(0), vec, foldNorm(vec))
      }.sortBy(c => labelKey(c.label))
    }
    IvfIndex(cents)
  }

  /** Map-side cluster assignment against a fitted index (argmax rounded
    * cosine, smallest-label tie-break) — zero shuffles, O(1) plan size at
    * any nlist via the dense score table.
    */
  def ivfAssign(corpus: DataFrame, idCol: String, vecCol: String,
                index: IvfIndex): DataFrame =
    corpus.select(col(idCol), col(vecCol), normD(col(vecCol)).as("__n"))
      .withColumn("__cos", denseCosTable(col(vecCol), col("__n"), index))
      .select(col(idCol), argmaxLabel(col("__cos"), index).as("cluster"))

  /** IVF ANN: each query probes its `nprobe` nearest centroids' clusters
    * and scores only those clusters' vectors. At 100 TB the corpus is read
    * cluster-pruned (the cluster column is partition/bucket-prunable and
    * the probed queries broadcast); the centroid assignment costs zero
    * shuffles because the index is literal. Pass a pre-fitted `index` to
    * amortize fitting across calls; omitted, it is fitted on the spot.
    */
  def ivfKnn(corpus: DataFrame, queries: DataFrame, idCol: String,
             vecCol: String, clusterCol: String, k: Int, nprobe: Int = 1,
             index: Option[IvfIndex] = None): DataFrame = {
    val idx = index.getOrElse(ivfFit(corpus, clusterCol, vecCol))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"),
        normD(col(vecCol)).as("__qn"))
      .withColumn("cluster",
        explode(probeClusters(col("__qv"), col("__qn"), idx, nprobe)))
    val c = corpus.select(col(idCol).as("cand_id"), col(vecCol).as("__cv"),
      normD(col(vecCol)).as("__cn"), col(clusterCol).as("cluster"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("cand_id"))
    c.join(broadcast(q), Seq("cluster"))
      .filter(col("query_id") =!= col("cand_id"))
      .withColumn("cosine",
        round(dotD(col("__qv"), col("__cv")) / nullif(col("__qn") * col("__cn"), lit(0.0)), 6))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("query_id"), col("cluster"), col("cand_id"), col("cosine"), col("rn"))
  }

  /** The multi-table sizing rule applied, so callers don't hand-derive it:
    * the smallest P with expected bucket occupancy n/2^P ≤
    * `targetBucketSize`, i.e. P = ⌈log₂(n / targetBucketSize)⌉, clamped to
    * [`minPlanes`, `maxPlanes`]. The sf1 probe (SCALE.md round-7
    * extension) measures the two sides of this rule on one corpus: the
    * same miner runs 16× at 10× rows when P is pinned below the rule and
    * 3.8× at the prescribed P. The clamp floor keeps tiny corpora from
    * degenerating to planes=0 (one bucket = all-pairs); the ceiling bounds
    * signature cost — past P≈24 raise `targetBucketSize` instead. Pick
    * `tables` from the recall target via 1 − (1 − p^P)^T (T=3 covers the
    * probe corpus at recall ≥ the gate floor, `ann_recall_lsh_mt`).
    */
  def planesFor(n: Long, targetBucketSize: Long = 10000L,
                minPlanes: Int = 4, maxPlanes: Int = 24): Int = {
    require(n >= 0 && targetBucketSize > 0 && minPlanes >= 1 &&
      maxPlanes >= minPlanes, "invalid planesFor arguments")
    val needed =
      if (n <= targetBucketSize) 0
      else math.ceil(math.log(n.toDouble / targetBucketSize) / math.log(2.0)).toInt
    math.min(maxPlanes, math.max(minPlanes, needed))
  }

  /** Embedding-cosine near-duplicate mining (the 5th dedup modality) by
    * AND-OR amplified LSH: pairs whose exact cosine ≥ `threshold`,
    * candidate-limited to vectors that share a bucket in some table — the
    * corpus is never self-joined at large, only within buckets.
    *
    * One table's bucket count is FIXED (2^planes), so bucket occupancy
    * grows linearly with the corpus and within-bucket candidate pairs
    * quadratically — the 10× derived-corpus probe measured 46× runtime for
    * a single table at fixed planes (SCALE.md). The classic fix is AND-OR
    * amplification: raise `planes` so per-bucket occupancy stays bounded
    * (candidate volume shrinks exponentially in P), and mine `tables`
    * INDEPENDENT plane sets to buy back the recall the extra AND bits cost
    * — P(pair collides somewhere | angle θ) = 1 − (1 − p^P)^T with
    * p = 1 − θ/π. Size P with [[planesFor]] as the corpus grows; T from
    * the recall target.
    *
    * Candidates are the DISTINCT union of per-table bucket collisions
    * (a pair colliding in several tables verifies once); verification is
    * the exact cosine. Each table's planes come from the shared
    * deterministic coefficient stream at offset t·P, so results are
    * reproducible across engines and runs.
    */
  def cosinePairsMultiTable(emb: DataFrame, idCol: String, vecCol: String,
                            threshold: Double, planes: Int, tables: Int,
                            dims: Int): DataFrame = {
    require(tables > 0, "tables must be positive")
    val base = OpCaches.scoped(emb.select(col(idCol), col(vecCol),
      normD(col(vecCol)).as("__n")))
    val sigs = (0 until tables).map { t =>
      base.select(col(idCol), lit(t).as("__tbl"),
        lshBucketAt(col(vecCol), planes, dims, t * planes).as("__bucket"))
    }.reduce(_.unionByName(_))
    val cand = sigs.select(col(idCol).as("id_a"), col("__tbl"), col("__bucket"))
      .join(sigs.select(col(idCol).as("id_b"), col("__tbl"), col("__bucket")),
        Seq("__tbl", "__bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
    cand
      .join(base.select(col(idCol).as("id_a"), col(vecCol).as("__va"),
        col("__n").as("__na")), Seq("id_a"))
      .join(base.select(col(idCol).as("id_b"), col(vecCol).as("__vb"),
        col("__n").as("__nb")), Seq("id_b"))
      .withColumn("cosine",
        round(dotD(col("__va"), col("__vb")) /
          nullif(col("__na") * col("__nb"), lit(0.0)), 6))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), col("cosine"))
  }

  /** Multi-table LSH kNN — the top-k counterpart of
    * [[cosinePairsMultiTable]]: every vector hashes into `tables`
    * independent AND-OR buckets computed in ONE scan (explode over
    * per-table bucket structs, not `tables` re-scans), candidates are the
    * union of per-table collisions verified once by exact cosine, and the
    * per-query window keeps the top `k`. Same sizing rule as the pair
    * miner: P ≈ log₂(n / targetBucketSize) bounds occupancy, T restores
    * recall per 1 − (1 − p^P)^T. The query side broadcasts.
    */
  def lshKnnMultiTable(corpus: DataFrame, queries: DataFrame, idCol: String,
                       vecCol: String, k: Int, planes: Int, tables: Int,
                       dims: Int): DataFrame = {
    require(tables > 0, "tables must be positive")
    def sigs(df: DataFrame, idAs: String, vecAs: String, nAs: String) = {
      val buckets = array((0 until tables).map { t =>
        struct(lit(t).as("t"),
          lshBucketAt(col(vecCol), planes, dims, t * planes).as("b"))
      }: _*)
      df.select(col(idCol).as(idAs), col(vecCol).as(vecAs),
          normD(col(vecCol)).as(nAs), explode(buckets).as("__tb"))
        .select(col(idAs), col(vecAs), col(nAs),
          col("__tb.t").as("__tbl"), col("__tb.b").as("__bucket"))
    }
    val q = sigs(queries, "query_id", "__qv", "__qn")
    val c = sigs(corpus, "cand_id", "__cv", "__cn")
    val scored = c.join(broadcast(q), Seq("__tbl", "__bucket"))
      .filter(col("query_id") =!= col("cand_id"))
      .select(col("query_id"), col("cand_id"),
        round(dotD(col("__qv"), col("__cv")) /
          nullif(col("__qn") * col("__cn"), lit(0.0)), 6).as("cosine"))
      .distinct() // a pair can collide in several tables; verify once
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("cand_id"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
  }

  /** Hard-negative mining for contrastive training: each anchor's top-k
    * nearest neighbors EXCLUDING the near-duplicate band (cosine ≥
    * `dupThreshold`) — the "close but not the same" examples that make
    * embedding training losses informative; duplicates in the negative
    * set actively poison the loss. Same scan-the-corpus /
    * broadcast-the-queries shape as [[bruteForceKnn]]; the duplicate cut
    * happens BEFORE the rank window, so the k slots are all genuine
    * negatives. Compose with the ANN paths for corpus-scale anchors.
    */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, idCol: String,
                    vecCol: String, k: Int,
                    dupThreshold: Double = 0.95): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"),
      normD(col(vecCol)).as("__qn"))
    val c = corpus.select(col(idCol).as("cand_id"), col(vecCol).as("__cv"),
      normD(col(vecCol)).as("__cn"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("cand_id"))
    c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("cand_id"))
      .withColumn("cosine",
        round(dotD(col("__qv"), col("__cv")) /
          nullif(col("__qn") * col("__cn"), lit(0.0)), 6))
      .filter(col("cosine") < dupThreshold)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("query_id"), col("cand_id"), col("cosine"), col("rn"))
  }

  /** SemDeDup-style semantic near-duplicate mining: candidates come from
    * k-means cluster CO-MEMBERSHIP — each vector belongs to its `nprobe`
    * nearest centroids for candidate purposes (multi-assignment recovers
    * pairs straddling a cluster boundary, the failure mode of hard
    * single-assignment SemDeDup) — then exact cosine ≥ `threshold`
    * verifies. Complements [[cosinePairsMultiTable]]'s LSH buckets with
    * DATA-ADAPTIVE partitions: fitted centroids follow corpus structure,
    * so on clustered embedding spaces the same candidate budget buys more
    * recall. The self-join is per-cluster only; assignment is map-side
    * against literal centroids; a pair found in several shared clusters
    * collapses via distinct (its cosine is identical on every path).
    */
  def semanticDedupPairs(emb: DataFrame, idCol: String, vecCol: String,
                         threshold: Double, index: IvfIndex,
                         nprobe: Int = 2): DataFrame = {
    // Dense top-nprobe probe, CORPUS-side: nprobe argmax-and-mask layers
    // over ONE (centroid, norm) matrix literal — every row is probed every
    // pass, and SemDeDup-scale coarse quantizers run thousands of
    // clusters, so this must stay O(nprobe) plan size where the
    // sorted-struct probe is O(nlist) (the sorted form remains only on
    // bounded query sides). Selection order matches the sorted probe
    // exactly: max rounded score first, smallest label on ties, chosen
    // position nulled before the next argmax. Every alias is materialized
    // before reuse (multi-reference, and no CSE inside lambda bodies).
    var staged = emb.select(col(idCol), col(vecCol),
        normD(col(vecCol)).as("__n"))
      .withColumn("__cos1", denseCosTable(col(vecCol), col("__n"), index))
    (1 to nprobe).foreach { p =>
      staged = staged.withColumn(s"__p$p",
        array_position(col(s"__cos$p"), array_max(col(s"__cos$p"))))
      if (p < nprobe)
        staged = staged.withColumn(s"__cos${p + 1}",
          transform(col(s"__cos$p"), (x, i) =>
            when(i === col(s"__p$p").cast("int") - 1,
              lit(null).cast("double")).otherwise(x)))
    }
    // A null position means either live clusters ran out (nprobe > nlist
    // — the resulting null cluster never equi-joins, matching the sorted
    // probe's shorter slice) or a degenerate all-null score row, which
    // falls back to the p-th smallest label like the sorted probe's
    // stable order would produce.
    val probedClusters = array((1 to nprobe).map { p =>
      val pos = if (p <= index.centroids.size)
        coalesce(col(s"__p$p").cast("int"), lit(p))
      else col(s"__p$p").cast("int")
      element_at(labelArray(index), pos)
    }: _*)
    val assigned = OpCaches.scoped(staged
      .withColumn("cluster", explode(probedClusters))
      .select(col(idCol), col(vecCol), col("__n"), col("cluster")))
    val a = assigned.select(col(idCol).as("id_a"), col(vecCol).as("__va"),
      col("__n").as("__na"), col("cluster"))
    val b = assigned.select(col(idCol).as("id_b"), col(vecCol).as("__vb"),
      col("__n").as("__nb"), col("cluster"))
    a.join(b, Seq("cluster"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cosine",
        round(dotD(col("__va"), col("__vb")) /
          nullif(col("__na") * col("__nb"), lit(0.0)), 6))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), col("cosine"))
      .distinct()
  }

  /** Per-vector symmetric int8 quantization — the memory-scale lever for
    * ANN over a 100 TB embedding store (4× smaller than float32, 8× than
    * the double path): scale = max|x_i| / 127, q_i = floor(x_i/scale + .5)
    * ∈ [−127, 127]. `floor(v + 0.5)` (not `round`) keeps the tie behavior
    * identical across engines. Dequantized value is q_i × scale; the op
    * reports scale and the max reconstruction error in FIXED POINT
    * (floor ×1e9 / ×1e6) because decimal round() implementations differ in
    * last-ulp boundary behavior across engines while floor/× are IEEE-
    * identical. Zero vectors quantize to all-zero with scale 0.
    */
  def quantizeInt8(emb: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val xs = transform(col(vecCol), x => x.cast("double"))
    val scale = aggregate(xs, lit(0.0),
      (acc, x) => greatest(acc, abs(x))) / lit(127.0)
    emb.select(col(idCol), xs.as("__xs"), scale.as("scale"))
      .select(col(idCol),
        floor(col("scale") * lit(1000000000.0)).cast("long").as("scale_e9"),
        transform(col("__xs"), x =>
          when(col("scale") === 0.0, lit(0L))
            .otherwise(floor(x / col("scale") + lit(0.5)))).as("q"),
        // fixed-point (floor ×1e6), not round(…,6): max/greatest SELECT an
        // existing double, so both engines hold the identical IEEE value,
        // and floor×1e6 maps it identically — whereas decimal round()
        // implementations differ in last-ulp behavior at a boundary.
        floor(aggregate(
          zip_with(col("__xs"), transform(col("__xs"), x =>
            when(col("scale") === 0.0, lit(0.0))
              .otherwise(floor(x / col("scale") + lit(0.5)) * col("scale"))),
            (x, d) => abs(x - d)),
          lit(0.0), (acc, e) => greatest(acc, e)) * lit(1000000.0))
          .cast("long").as("max_err_e6"))
  }

  /** Brute-force cosine top-k over int8-QUANTIZED vectors — proof that the
    * [[quantizeInt8]] memory lever still searches: cosine of the
    * dequantized vectors is scale-free (per-vector scales cancel in the
    * ratio), so the score is dot(qa,qb)/(‖qa‖‖qb‖) over small integers —
    * exact integer arithmetic up to one final division. Same broadcast
    * shape as [[bruteForceKnn]]; at 100 TB the quantized corpus is 4× less
    * I/O per scan and the dot products run on codegen'd integer-valued
    * doubles.
    */
  def bruteForceKnnQuantized(corpus: DataFrame, queries: DataFrame,
                             idCol: String, vecCol: String, k: Int): DataFrame = {
    def qside(df: DataFrame, idAs: String, vAs: String, nAs: String) =
      quantizeInt8(df, idCol, vecCol).select(col(idCol).as(idAs),
        transform(col("q"), _.cast("double")).as(vAs))
        .withColumn(nAs, normD(col(vAs)))
    val q = qside(queries, "query_id", "__qv", "__qn")
    val c = qside(corpus, "cand_id", "__cv", "__cn")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("cand_id"))
    c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("cand_id"))
      .withColumn("cosine",
        round(dotD(col("__qv"), col("__cv")) /
          nullif(col("__qn") * col("__cn"), lit(0.0)), 6))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("query_id"), col("cand_id"), col("cosine"), col("rn"))
  }

  /** Product-quantization codebook: `codebooks(s)` holds subspace `s`'s
    * centroids (Int labels 0..k-1, possibly with gaps after empty-cluster
    * collapse), each of dimension `subDim`.
    */
  final case class PqIndex(subDim: Int, codebooks: Seq[Seq[IvfCentroid]]) {
    def m: Int = codebooks.size
  }

  /** Strict numeric→Int label. PQ/L2-k-means labels are Int by
    * construction (seeds 0..k−1, then groupBy of that value); anything
    * else fails loudly here instead of silently collapsing codes — e.g.
    * mapping every label to slot 0 in a persisted codebook.
    */
  private def intLabel(label: Any): Int = label match {
    case n: java.lang.Number => n.intValue()
    case x => throw new IllegalArgumentException(
      s"expected a numeric centroid label, got: $x")
  }

  /** Dense distance table for one L2 codebook: slot `label+1` (1-based,
    * for element_at) holds the rounded squared-L2 from `sv` to that
    * label's centroid; labels gapped by empty-cluster collapse hold NaN —
    * never selected, because NaN orders above every real double in
    * Spark's `array_min`, and stored codes only take live labels (a gap
    * slot holds an all-NaN centroid, so its distance is NaN by
    * arithmetic). Zero shuffles: the whole codebook is ONE plan-time
    * `array<array<double>>` literal swept by a single `transform` — k
    * separate per-centroid literal expressions made Catalyst
    * analysis/codegen of a k=256 plan cost tens of seconds, the matrix
    * form is O(1) plan size at any k. The dense layout is what keeps both
    * encode-side argmin and candidate-side ADC scoring O(1)-per-lookup at
    * ANY codebook size — k=256, the PQ standard, included — where the
    * former label-equality when-chain was an O(k) conditional per
    * subspace per row and capped practical codebooks below 64.
    *
    * `sv` MUST be a materialized projection column (attribute), not a
    * computed expression: the lambda body re-evaluates per element, and
    * there is no CSE inside Catalyst lambda bodies.
    */
  private def denseD2Table(sv: org.apache.spark.sql.Column,
                           cents: Seq[IvfCentroid]): org.apache.spark.sql.Column = {
    val byLabel = cents.map(c => intLabel(c.label) -> c.vec).toMap
    val subDim = cents.head.vec.size
    val mat: Seq[Seq[Double]] = (0 to byLabel.keys.max).map(l =>
      byLabel.getOrElse(l, Seq.fill(subDim)(Double.NaN)))
    // Native fused table (bit-identical to
    // `transform(typedlit(mat), c => round(l2sqD(sv, c), 6))`, pinned by a
    // differential property test): one codegen'd call per row instead of k
    // interpreted lambda dispatches per subspace.
    import org.apache.spark.sql.graft.CatalystBridge
    CatalystBridge.column(graft.functions.VectorExpressions.L2SqTableD(
      CatalystBridge.expression(sv),
      CatalystBridge.expression(typedlit(mat))))
  }

  /** Argmin over a dense table column: 1-based position of the FIRST
    * minimum − 1 = the smallest live label holding the minimum rounded
    * distance — the same (d2 asc, label asc) tie-break the sorted-struct
    * formulation used. The table column must be a materialized projection
    * column (it is referenced twice).
    */
  private def argminCode(dt: org.apache.spark.sql.Column) =
    (array_position(dt, array_min(dt)) - 1).cast("int")

  /** Fit a product quantizer: split the `d`-dim space into `m` contiguous
    * subspaces (`d % m == 0`) and train an independent EUCLIDEAN k-means
    * codebook in each — same recipe as [[kmeansFit]] (smallest-md5
    * seeding, 6-dp rounded centroid updates, label tie-breaks) but with
    * squared-L2 assignment: subvector magnitude carries information, so
    * spherical assignment would be wrong here. PQ is the memory lever
    * BEYOND [[quantizeInt8]]: a vector compresses to m small codes
    * (m bytes at k ≤ 256) instead of d floats — the difference between an
    * embedding store that fits executor memory at 100 TB corpus scale and
    * one that doesn't.
    *
    * All m Lloyd chains advance together: seeding is ONE collect (the k
    * smallest-md5 full vectors seed every subspace — a subspace seed is
    * the slice of a full-vector seed, numerically identical to seeding
    * each subspace separately), and each iteration is ONE distributed
    * aggregation (map-side per-subspace argmin assignment, then a single
    * grouped mean over (subspace, code, component)). The naive
    * m-sequential form costs m×(1+iters) driver round-trips — at m=8
    * that made driver latency, not compute, the fit wall-time.
    */
  def pqFit(corpus: DataFrame, idCol: String, vecCol: String,
            m: Int, k: Int, iters: Int): PqIndex = {
    require(k > 0, "k must be positive")
    // The fit drives 1 + iters driver actions over this frame (seed
    // collect, one fused update per iteration) — scope-cache the two
    // columns it needs so that isn't iters+1 re-reads of the source, and
    // REPARTITION it across the cluster first: an iterative fit re-sweeps
    // the same (small relative to the corpus) training frame every round,
    // and a sample that arrived in one or few input splits would otherwise
    // pin every Lloyd pass to as many cores. One tiny shuffle buys
    // cluster-wide assignment parallelism for all iterations.
    val base = OpCaches.scoped(corpus.select(col(idCol), col(vecCol))
      .repartition(corpus.sparkSession.sparkContext.defaultParallelism))
    val seeds = seedVectors(base, idCol, vecCol, k)
    require(seeds.nonEmpty, "cannot fit a product quantizer on an empty corpus")
    // The seed collect doubles as the dimensionality probe.
    val d = seeds.head.size
    require(d % m == 0, s"vector dim $d must divide into m=$m subspaces")
    val subDim = d / m
    var books: Seq[Seq[IvfCentroid]] = (0 until m).map { s =>
      seeds.zipWithIndex.map { case (v, i) =>
        IvfCentroid(i, v.slice(s * subDim, (s + 1) * subDim), 0.0)
      }
    }
    for (_ <- 1 to iters) {
      // (subspace, code, subvector) triples for every row, assignment
      // entirely map-side; then one shuffle: mean per (s, code, pos),
      // rounded to 6 dp — the same update centroids() applies, keyed by
      // subspace as well.
      val sliced = base.select((0 until m).map(s =>
        slice(col(vecCol), s * subDim + 1, subDim).as(svCol(s))): _*)
      val tabled = sliced.select((0 until m).map(s => col(svCol(s))) ++
        (0 until m).map(s => denseD2Table(col(svCol(s)), books(s)).as(dtCol(s))): _*)
      val triples = tabled.select(explode(array((0 until m).map(s =>
        struct(lit(s).as("s"), argminCode(col(dtCol(s))).as("code"),
          col(svCol(s)).as("sv"))): _*)).as("e"))
      val rows = triples
        .select(col("e.s").as("s"), col("e.code").as("code"),
          posexplode(col("e.sv")))
        .groupBy(col("s"), col("code"), col("pos"))
        .agg(avg(col("col").cast("double")).as("c"))
        .groupBy(col("s"), col("code"))
        .agg(array_sort(collect_list(struct(col("pos"), round(col("c"), 6).as("c"))))
          .as("__a"))
        .select(col("s"), col("code"),
          transform(col("__a"), x => x.getField("c")).as("centroid"))
        .collect()
      books = (0 until m).map { s =>
        rows.filter(_.getInt(0) == s).toSeq.map { r =>
          IvfCentroid(r.getInt(1), r.getSeq[Double](2), 0.0)
        }.sortBy(c => labelKey(c.label))
      }
    }
    PqIndex(subDim, books)
  }

  private def svCol(s: Int) = s"__sv_$s"
  private def dtCol(s: Int) = s"__dt_$s"

  /** Append per-subspace dense distance tables to `keep` in TWO explicit
    * projections: subvector slices first, tables second. Each alias is
    * non-cheap and referenced many times by the next layer (a slice by k
    * distance terms, a table by argmin + min), so CollapseProject keeps
    * the layers separate and every slice/table is computed once per row —
    * the materialize-before-reuse discipline (SCALE.md).
    */
  private def withDenseTables(df: DataFrame, keep: Seq[String],
                              vecCol: String, index: PqIndex): DataFrame = {
    val sliced = df.select(keep.map(col) ++ (0 until index.m).map(s =>
      slice(col(vecCol), s * index.subDim + 1, index.subDim).as(svCol(s))): _*)
    sliced.select(keep.map(col) ++ (0 until index.m).map(s =>
      denseD2Table(col(svCol(s)), index.codebooks(s)).as(dtCol(s))): _*)
  }

  /** A row's PQ codes from its dense tables (argmin per subspace) — the
    * ONE definition of "a vector's PQ codes", shared by [[pqEncode]] and
    * [[ivfPqKnn]] so stored codes and ADC candidates can never drift
    * apart.
    */
  private def pqCodesFromTables(index: PqIndex) =
    array((0 until index.m).map(s => argminCode(col(dtCol(s)))): _*)

  /** Encode every vector as its per-subspace nearest-centroid codes, plus
    * the total squared reconstruction error (the PQ quality audit).
    * Entirely map-side — the codebooks are plan-time literals; three
    * stacked projections (slices → dense tables → argmin codes), no
    * exchange; a PlanShapeSpec guard pins the shape. The error sums the
    * per-subspace minima left-to-right in subspace order (engine-stable).
    */
  def pqEncode(corpus: DataFrame, idCol: String, vecCol: String,
               index: PqIndex): DataFrame = {
    val tabled = withDenseTables(corpus, Seq(idCol), vecCol, index)
    tabled.select(col(idCol),
      pqCodesFromTables(index).as("codes"),
      round((0 until index.m).map(s => array_min(col(dtCol(s)))).reduce(_ + _), 6)
        .as("recon_d2"))
  }

  /** Persist a fitted product quantizer like [[ivfSave]] persists an IVF
    * index: one row per (subspace, code) centroid. PQ codebooks are the
    * artifact a 100 TB encode job broadcasts — fit once, encode forever;
    * a re-fit would re-code the whole store.
    */
  def pqSave(spark: SparkSession, index: PqIndex, path: String): Unit = {
    import spark.implicits._
    index.codebooks.zipWithIndex.flatMap { case (cents, s) =>
      // intLabel throws on a non-numeric label — corrupting the persisted
      // index (every code collapsed to one slot) must fail loudly.
      cents.map(c => (s, intLabel(c.label), c.vec))
    }.toDF("subspace", "label", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Restore an index written by [[pqSave]]; encodes bit-identically to
    * the fresh fit (labels and vectors round-trip exactly).
    */
  def pqLoad(spark: SparkSession, path: String): PqIndex = {
    val rows = spark.read.parquet(path)
      .select(col("subspace"), col("label"), col("centroid")).collect()
    val books = rows.groupBy(_.getInt(0)).toSeq.sortBy(_._1).map { case (_, rs) =>
      rs.toSeq.map(r => IvfCentroid(r.getInt(1), r.getSeq[Double](2), 0.0))
        .sortBy(c => labelKey(c.label))
    }
    require(books.nonEmpty, s"no PQ codebooks at $path")
    PqIndex(books.head.head.vec.size, books)
  }

  /** Candidate ADC distance: m element_at lookups into the query-side
    * dense `__dt_*` tables (the stored code selects the slot), summed
    * left-to-right in subspace order — O(1) per lookup at any codebook
    * size. A malformed candidate (null/wrong-dimension vector ⇒ null
    * codes) scores NaN, which sorts GREATER than every real distance —
    * ranked last, never displacing a real neighbor (ascending rank would
    * put a null FIRST; the old when-chain's NaN fallthrough had the same
    * rank-last behavior).
    */
  private def adcDist(index: PqIndex): org.apache.spark.sql.Column =
    coalesce((0 until index.m).map { s =>
      element_at(col(dtCol(s)), element_at(col("codes"), s + 1) + 1)
    }.reduce(_ + _), lit(Double.NaN))

  /** Asymmetric-distance (ADC) kNN over PQ codes: each query precomputes m
    * dense distance tables — rounded squared-L2 from its subvector to
    * every codebook centroid, m arrays of ≤k doubles, plan-time literal
    * centroids — and a candidate then scores with m element_at lookups
    * instead of d float ops. The corpus side carries ONLY its codes: at
    * scale this is the scan-the-codes / broadcast-the-queries shape of
    * [[bruteForceKnn]] with a d/m-fold smaller corpus row, and the dense
    * tables keep scoring O(m) at the PQ-standard k=256.
    * Returns (query_id, cand_id, adc_d2, rn); rank ascending by rounded
    * distance, id tie-break.
    */
  def pqAdcKnn(corpus: DataFrame, queries: DataFrame, idCol: String,
               vecCol: String, k: Int, index: PqIndex): DataFrame = {
    val q = withDenseTables(
      queries.select(col(idCol).as("query_id"), col(vecCol)),
      Seq("query_id"), vecCol, index)
    val codes = pqEncode(corpus, idCol, vecCol, index)
      .select(col(idCol).as("cand_id"), col("codes"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adc_d2").asc, col("cand_id"))
    codes.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("cand_id"))
      .withColumn("adc_d2", round(adcDist(index), 6))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("query_id"), col("cand_id"), col("adc_d2"), col("rn"))
  }

  /** IVF-PQ: the standard billion-scale ANN index — a coarse IVF prune
    * (each query probes its `nprobe` nearest coarse centroids' clusters,
    * assignment map-side against literals) composed with ADC scoring over
    * PQ codes within only the probed clusters. At 100 TB: the corpus is
    * stored as (cluster, m codes) — partition-prunable by cluster AND
    * d/m-fold smaller per row — so a query reads a fraction of a
    * compressed corpus; scoring is m lookups per surviving candidate.
    * Rank ascending by rounded ADC distance, id tie-break.
    */
  def ivfPqKnn(corpus: DataFrame, queries: DataFrame, idCol: String,
               vecCol: String, clusterCol: String, k: Int, nprobe: Int,
               coarse: IvfIndex, pq: PqIndex): DataFrame = {
    val probed = queries.select(
      col(idCol).as("query_id"),
      explode(probeClusters(col(vecCol), normD(col(vecCol)), coarse, nprobe))
        .as("cluster"),
      col(vecCol))
    val q = withDenseTables(probed, Seq("query_id", "cluster"), vecCol, pq)
    // Map-side projections only: codes + cluster together (no self-join);
    // the code assignment is pqCodesFromTables — the same definition
    // pqEncode stores.
    val codes = withDenseTables(
      corpus.select(col(idCol).as("cand_id"), col(clusterCol).as("cluster"),
        col(vecCol)),
      Seq("cand_id", "cluster"), vecCol, pq)
      .select(col("cand_id"), col("cluster"), pqCodesFromTables(pq).as("codes"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adc_d2").asc, col("cand_id"))
    codes.join(broadcast(q), Seq("cluster"))
      .filter(col("query_id") =!= col("cand_id"))
      .withColumn("adc_d2", round(adcDist(pq), 6))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("query_id"), col("cluster"), col("cand_id"), col("adc_d2"),
        col("rn"))
  }

  /** Write the IVF-PQ store: one row per vector — (id, PQ codes) — laid
    * out `partitionBy(cluster)`. This is the 100 TB serving artifact the
    * pieces compose into: each row is m small codes instead of d floats
    * (the PQ memory lever), and the cluster directory layout makes a
    * probe's cluster predicate a PARTITION filter, so a query reads only
    * its probed clusters' files ([[ivfPqKnnStored]]; plan-guarded).
    * Encode is [[pqCodesFromTables]] — the same definition [[pqEncode]]
    * and [[ivfPqKnn]] use, so stored codes never drift from the live
    * encode.
    */
  def pqStoreWrite(corpus: DataFrame, idCol: String, vecCol: String,
                   clusterCol: String, pq: PqIndex, path: String): Unit = {
    val tabled = withDenseTables(
      corpus.select(col(idCol), col(clusterCol).as("cluster"), col(vecCol)),
      Seq(idCol, "cluster"), vecCol, pq)
    tabled.select(col(idCol), col("cluster"), pqCodesFromTables(pq).as("codes"))
      .write.mode("overwrite").partitionBy("cluster").parquet(path)
  }

  /** IVF-PQ probe against a [[pqStoreWrite]] store — the end-to-end
    * serving path at 100 TB: coarse assignment map-side against literal
    * centroids, STATIC partition pruning of the store scan (the union of
    * probed clusters is driver-known because the query batch is small by
    * contract — |queries|×nprobe labels), then ADC scoring over the
    * stored codes with the dense query-side tables. Returns exactly
    * [[ivfPqKnn]]'s output over the raw corpus (the `ann_ivfpq_pruned`
    * gate shares `ann_ivfpq`'s oracle); `store` must expose
    * (`idCol`, cluster, codes) as written by [[pqStoreWrite]].
    */
  def ivfPqKnnStored(store: DataFrame, queries: DataFrame, idCol: String,
                     vecCol: String, k: Int, nprobe: Int,
                     coarse: IvfIndex, pq: PqIndex): DataFrame = {
    // Scope-cached: the probed query frame is read twice (driver collect
    // of the partition-prune list + the broadcast join side) — without
    // the cache an expensive or nondeterministic query frame could make
    // the pruned partition set diverge from the join's probe side.
    val probed = OpCaches.scoped(queries.select(
      col(idCol).as("query_id"),
      explode(probeClusters(col(vecCol), normD(col(vecCol)), coarse, nprobe))
        .as("cluster"),
      col(vecCol)))
    val q = withDenseTables(probed, Seq("query_id", "cluster"), vecCol, pq)
    val toScan = probed.select(col("cluster")).distinct().collect().map(_.get(0))
    val codes = store.filter(col("cluster").isin(toScan.toSeq: _*))
      .select(col(idCol).as("cand_id"), col("cluster"), col("codes"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adc_d2").asc, col("cand_id"))
    codes.join(broadcast(q), Seq("cluster"))
      .filter(col("query_id") =!= col("cand_id"))
      .withColumn("adc_d2", round(adcDist(pq), 6))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("query_id"), col("cluster"), col("cand_id"), col("adc_d2"),
        col("rn"))
  }

  /** Per-label norm statistics (sanity profile of an embedding corpus). */
  def normStats(emb: DataFrame, labelCol: String, vecCol: String): DataFrame =
    emb.select(col(labelCol), normD(col(vecCol)).as("__n"))
      .groupBy(col(labelCol))
      .agg(count(lit(1)).as("n_vectors"),
        round(avg(col("__n")), 6).as("avg_norm"),
        round(min(col("__n")), 6).as("min_norm"),
        round(max(col("__n")), 6).as("max_norm"))

  /** Semantic-drift monitor: cosine of each label's mean embedding against
    * the global mean embedding. A per-source row far below 1.0 flags a
    * source whose content has drifted from the corpus center — the
    * embedding-space counterpart of the unigram-KL drift report
    * (TextAnalysis.sourceKl).
    *
    * Scale design: one posexplode + two (label, pos)-keyed aggregations —
    * dimension-bounded intermediates (|labels| × dims rows), so everything
    * after the first aggregation broadcasts. Per-(label, pos) means are
    * rounded to 6 decimals (the k-means-oracle idiom: rounding absorbs
    * float-summation order), and the dims-length dot/norm sums fold over
    * value-sorted arrays for cross-engine bit stability.
    */
  def sourceDrift(emb: DataFrame, labelCol: String, vecCol: String): DataFrame = {
    val pe = emb.select(col(labelCol),
      posexplode(col(vecCol)).as(Seq("pos", "__v")))
      .select(col(labelCol), col("pos"), col("__v").cast("double").as("__v"))
    val perLabel = pe.groupBy(col(labelCol), col("pos"))
      .agg(round(avg(col("__v")), 6).as("__m"))
    val global = pe.groupBy(col("pos")).agg(round(avg(col("__v")), 6).as("__g"))
    def fold(c: org.apache.spark.sql.Column) =
      aggregate(sort_array(collect_list(c)), lit(0.0), (acc, x) => acc + x)
    val sums = perLabel.join(broadcast(global), Seq("pos"))
      .groupBy(col(labelCol))
      .agg(fold(col("__m") * col("__g")).as("__mg"),
        fold(col("__m") * col("__m")).as("__mm"),
        fold(col("__g") * col("__g")).as("__gg"))
    val counts = emb.groupBy(col(labelCol)).agg(count(lit(1)).as("n_vectors"))
    counts.join(sums, Seq(labelCol))
      .select(col(labelCol), col("n_vectors"),
        round(col("__mg") /
          when(sqrt(col("__mm")) * sqrt(col("__gg")) =!= 0.0,
            sqrt(col("__mm")) * sqrt(col("__gg"))),
          6).as("cos_to_global"))
  }

  /** Per-DIMENSION embedding QA: n/mean/std/min/max for every coordinate,
    * plus a dead-dimension flag (std below `deadEps`) — catches the three
    * classic embedding-table pathologies before they poison ANN indexes:
    * dead dims (encoder bug / truncated export), scale drift between
    * ingest batches, and saturated dims. One posexplode + ONE dim-keyed
    * aggregation with map-side combine — the shuffle carries dims ×
    * partial-aggregate rows, never vectors, and the output is
    * dimension-bounded at any corpus size.
    */
  def dimStats(emb: DataFrame, vecCol: String,
               deadEps: Double = 1e-9): DataFrame =
    emb.select(posexplode(col(vecCol)).as(Seq("dim", "__v")))
      .select(col("dim"), col("__v").cast("double").as("__v"))
      .groupBy(col("dim"))
      .agg(count(lit(1)).as("n"),
        round(avg(col("__v")), 6).as("mean"),
        round(stddev_samp(col("__v")), 6).as("std"),
        round(min(col("__v")), 6).as("min_v"),
        round(max(col("__v")), 6).as("max_v"))
      .withColumn("dead", col("std") < deadEps)

  /** Diagonal whitening of an embedding column: per dimension,
    * w_j = (v_j − μ_j)/σ_j with μ/σ from [[dimStats]]'s one-pass
    * dim-keyed aggregation — the standard pre-conditioner before
    * cosine ANN when dimensions carry wildly different scales (it
    * makes Euclidean ≈ Mahalanobis-diagonal). The d (mean, std) pairs
    * are a dimension-bounded driver collect (the IVF-centroid collect
    * class) shipped back as two array literals, so the transform
    * itself is MAP-SIDE over the corpus — no join, no shuffle, any
    * scale. Dead dimensions (σ < deadEps) pass through as 0.0 rather
    * than dividing by ~0. Components round at 6 dp (the k-means /
    * dimStats float-parity discipline).
    */
  def whitenDiagonal(emb: DataFrame, idCol: String, vecCol: String,
                     deadEps: Double = 1e-9): DataFrame = {
    val stats = emb
      .select(posexplode(col(vecCol)).as(Seq("dim", "__v")))
      .select(col("dim"), col("__v").cast("double").as("__v"))
      .groupBy(col("dim"))
      .agg(avg(col("__v")).as("__mu"), stddev_samp(col("__v")).as("__sd"))
      // stddev_samp is NULL for a dimension with exactly one sample
      // (single-vector corpus, or a ragged corpus where only one vector
      // reaches the max length); map it to 0.0 so the s < deadEps
      // dead-dimension branch below absorbs it instead of the driver
      // throwing on getDouble.
      .collect().map(r => (r.getInt(0), r.getDouble(1),
        if (r.isNullAt(2)) 0.0 else r.getDouble(2)))
      .sortBy(_._1)
    val mu = typedlit(stats.map(_._2).toSeq)
    val sd = typedlit(stats.map(_._3).toSeq)
    emb.select(col(idCol), col(vecCol).as("__in"))
      .select(col(idCol), size(col("__in")).as("n_dims"),
        zip_with(col("__in").cast("array<double>"),
          sequence(lit(0), size(col("__in")) - 1),
          (v, i) => {
            // `get` = 0-based, out-of-bounds-null (ANSI-safe).
            val s = get(sd, i)
            when(s.isNull || s < deadEps, lit(0.0))
              .otherwise(round((v - get(mu, i)) / s, 6))
          }).as("whitened"))
  }

  /** Truncated rank-biased overlap (Webber, Moffat & Zobel 2010)
    * between two top-k rankings: RBO@k = (1−p)·Σ_{d=1..k}
    * p^{d−1}·|A_{1..d} ∩ B_{1..d}|/d — the top-weighted agreement
    * measure for comparing rankers (BM25 vs ANN) that, unlike RRF,
    * SCORES the agreement instead of fusing the lists. Truncated sum =
    * the RBO_min lower bound; no extrapolated residual, so two
    * identical prefixes score (1−p)·Σp^{d−1} < 1 by the withheld
    * tail.
    *
    * Everything after the id-keyed intersection join is k-bounded: the
    * depth histogram is ≤ k rows, the weight spine is a k-row literal
    * (powers computed by repeated multiplication — exact for dyadic p
    * like 0.5, matching any engine), and the X_d prefix join is k×k.
    * Inputs carry (`idCol`, `rank`) top-k lists by construction, so
    * nothing here is corpus-sized.
    */
  def rboOverlap(a: DataFrame, b: DataFrame, idCol: String,
                 p: Double, k: Int): DataFrame = {
    require(k >= 1 && k <= 1000, "k in 1..1000")
    require(p > 0.0 && p < 1.0, "p in (0,1)")
    val spark = a.sparkSession
    import spark.implicits._
    val ra = a.filter(col("rank") <= k)
      .select(col(idCol), col("rank").cast("int").as("__ra"))
    val rb = b.filter(col("rank") <= k)
      .select(col(idCol), col("rank").cast("int").as("__rb"))
    val byDepth = ra.join(rb, idCol)
      .select(greatest(col("__ra"), col("__rb")).as("__depth"))
      .groupBy(col("__depth")).agg(count(lit(1)).as("__c"))
    val weights = {
      var w = 1.0
      (1 to k).map { d => val r = (d, w); w *= p; r }
    }
    val spine = weights.toDF("d", "__w")
    val xd = broadcast(spine)
      .join(byDepth, col("__depth") <= col("d"), "left")
      .groupBy(col("d"), col("__w"))
      .agg(coalesce(sum(col("__c")), lit(0L)).as("__xd"))
    // Value-sorted fold (the rrfFuse / list_sum(list_sort(...))
    // discipline) so the k-term double sum is order-identical on any
    // engine.
    xd.agg(
        max(when(col("d") === k, col("__xd"))).as("__ok"),
        sort_array(collect_list(
          col("__w") * col("__xd").cast("double") / col("d").cast("double")))
          .as("__ts"))
      .select(lit(k).as("k"), col("__ok").as("overlap_at_k"),
        round(lit(1.0 - p) *
          aggregate(col("__ts"), lit(0.0), (acc, x) => acc + x), 4)
          .as("rbo"))
  }

  /** Reciprocal-rank fusion of several retrieval rankings (Cormack,
    * Clarke & Buettcher, SIGIR'09): score(d) = Σ_r 1/(kRrf + rank_r(d))
    * over the rankers that surfaced d. The standard way to combine a
    * lexical (BM25) and a semantic (ANN cosine) ranking without score
    * calibration — ranks are comparable where raw scores are not.
    *
    * Each input frame carries (`idCol`, `rank`[, queryCols...]) and is a
    * top-N list BY CONSTRUCTION (rankers cut at N), so the union the
    * fusion aggregates is rankers × N × |queries| rows — never
    * corpus-sized, whatever the corpus size. Contributions fold in
    * sorted order (the house order-stable double-sum recipe) so the
    * 6-dp score ties break identically in any engine; final top-k is a
    * rank window per query group (TakeOrderedAndProject when
    * `queryCols` is empty).
    */
  def rrfFuse(rankings: Seq[(String, DataFrame)], idCol: String, k: Int,
              kRrf: Int = 60, queryCols: Seq[String] = Nil): DataFrame = {
    require(rankings.nonEmpty, "need at least one ranking")
    val contrib = rankings.map { case (tag, df) =>
      df.select(queryCols.map(col) ++ Seq(col(idCol),
        (lit(1.0) / (lit(kRrf.toDouble) + col("rank").cast("double")))
          .as("__c"), lit(tag).as("__ranker")): _*)
    }.reduce(_ unionByName _)
    val keys = queryCols :+ idCol
    val fused = contrib
      .groupBy(keys.map(col): _*)
      .agg(sort_array(collect_list(col("__c"))).as("__cs"),
        count(lit(1)).as("n_rankers"))
      .select(keys.map(col) ++ Seq(
        round(aggregate(col("__cs"), lit(0.0), (a, x) => a + x), 6)
          .as("rrf_score"), col("n_rankers")): _*)
    if (queryCols.isEmpty)
      fused.orderBy(col("rrf_score").desc, col(idCol)).limit(k)
    else {
      val w = Window.partitionBy(queryCols.map(col): _*)
        .orderBy(col("rrf_score").desc, col(idCol))
      fused.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
    }
  }

  /** Top principal component of the (uncentered) embedding matrix by
    * MATRIX-FREE power iteration: v ← XᵀXv / ‖XᵀXv‖, where XᵀXv is
    * computed as one corpus pass — the per-row scalar x·v (native
    * [[graft.functions.VectorFunctions.dotD]], index-order fold) feeds
    * a per-dimension Σ x_j·(x·v) aggregation, so NOTHING of size d×d
    * ever materializes and the shuffle carries d rows per round. That
    * is the only PCA shape that works at 100 TB (a Gram matrix is
    * d²-sized but needs the same passes; covariance solvers need the
    * data centered and gathered).
    *
    * Determinism across engines: the k-means-oracle discipline — each
    * round's vector is re-quantized ON-ENGINE to 6 decimals after the
    * norm division, so float drift cannot compound across rounds, and
    * the d quantized loadings (a dimension-bounded driver collect, like
    * the IVF centroid collect) re-enter the next round as literals both
    * engines share verbatim. v₀ is the uniform unit vector. Sign is
    * pinned by v₀ (positive overall orientation); λ is the final
    * pre-normalization norm, the Rayleigh-quotient estimate.
    */
  def pcaTopComponent(df: DataFrame, idCol: String, vecCol: String,
                      iterations: Int = 3): DataFrame = {
    require(iterations >= 1 && iterations <= 10, "1..10 iterations")
    val d = df.select(size(col(vecCol)).as("d")).head.getInt(0)
    require(d >= 1, "empty embedding")
    val v0 = BigDecimal(1.0 / math.sqrt(d.toDouble))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    var v: Array[Double] = Array.fill(d)(v0)
    var out: DataFrame = null
    for (k <- 1 to iterations) {
      val vLit = array(v.map(lit): _*)
      // Scope-cached: the d-row aggregate feeds BOTH the norm and the
      // output projection — uncached, the corpus pass would run twice
      // per round (the norm branch re-derives the aggregation).
      val sums = OpCaches.scoped(df
        .withColumn("__dot", dotD(col(vecCol), vLit))
        .select(posexplode(col(vecCol)).as(Seq("pos", "__x")), col("__dot"))
        .groupBy(col("pos"))
        .agg(sum(col("__x").cast("double") * col("__dot")).as("__s")))
      val norm = sums.agg(sqrt(sum(col("__s") * col("__s"))).as("__n"))
      out = sums.crossJoin(broadcast(norm))
        .select(col("pos").cast("int").as("pos"),
          round(col("__s") / col("__n"), 6).as("loading"),
          round(col("__n"), 4).as("lambda"))
      if (k < iterations) {
        // d rows — dimension-bounded, per round (the IVF-centroid
        // collect class); the FINAL round stays a lazy frame.
        val rows = out.collect()
        val next = Array.ofDim[Double](d)
        rows.foreach(r => next(r.getInt(0)) = r.getDouble(1))
        v = next
      }
    }
    out
  }
}
