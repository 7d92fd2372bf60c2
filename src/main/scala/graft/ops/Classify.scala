package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._

/** Hashed multinomial Naive Bayes text classification — the shape of a
  * fastText-style supervised quality / language classifier (multinomial NB
  * over a hashing-trick vocabulary; both components are public methods —
  * McCallum & Nigam 1998 for the model, Weinberger et al. 2009 for the
  * hashing trick). The reference has no learned classifier, but a corpus
  * curation pipeline at 100 TB filters with exactly this: a cheap linear
  * model fit once and applied map-side to every document.
  *
  * Scale design:
  *  - FIT is two aggregations over the exploded hashed-token stream plus a
  *    per-label document count. The model is exactly |labels| × dim rows by
  *    construction (add-one smoothing fills unseen buckets via a label ×
  *    bucket grid), so it broadcasts at ANY corpus size — same bounded-model
  *    contract as [[Sampling.importanceWeights]]'s DSIR tables.
  *  - PREDICT is a broadcast join of per-doc bucket counts against the model
  *    plus one (doc, label) aggregation; the per-class log-likelihood sum
  *    folds over a value-sorted array (the house idiom for bit-stable
  *    cross-engine double sums), and the argmax is a window over ≤ |labels|
  *    rows per doc. No shuffle touches the model side; the only exchange is
  *    the (doc, label) aggregation, keyed by doc — even, unskewed.
  */
object Classify {

  /** Fit: returns the dense model table `(label, bucket, loglik, logprior)`
    * of exactly |labels| × dim rows. The label column is CANONICALLY named
    * `label` whatever `labelCol` the training frame used — the model is an
    * artifact (saved, loaded, possibly written by other tooling), so
    * [[naiveBayesPredict]] binds it by name, never by position.
    *
    *   loglik(b|c)  = ln((count(b,c) + 1) / (tokens(c) + dim))   (add-one)
    *   logprior(c)  = ln(docs(c) / docs)
    */
  def naiveBayesFit(docs: DataFrame, labelCol: String, textCol: String,
                    dim: Int = 256): DataFrame = {
    require(dim > 0, "dim must be positive")
    val lab = col(labelCol)
    val feat = docs.select(lab,
      explode(words(col(textCol))).as("__w"))
      .select(lab, pmod(wordCode24(col("__w")), lit(dim.toLong)).as("bucket"))
    val classBucket = feat.groupBy(lab, col("bucket")).agg(count(lit(1)).as("__c"))
    // Per-class token totals roll up from the (class, bucket) counts —
    // summing counts equals counting tokens, and deriving it here avoids a
    // SECOND tokenize+hash explode over the corpus (the fit's dominant
    // cost; the rollup aggregates ≤ |labels|×dim rows instead).
    val classTokens = classBucket.groupBy(lab).agg(sum(col("__c")).as("__tot"))
    val classDocs = docs.groupBy(lab).agg(count(lit(1)).as("__nd"))
    val totalDocs = docs.agg(count(lit(1)).as("__ndt"))
    // Dense |labels| × dim grid so unseen (label, bucket) pairs carry the
    // smoothed floor — the model must be total for map-side scoring.
    val grid = docs.select(lab).distinct()
      .crossJoin(docs.sparkSession.range(dim).select(col("id").as("bucket")))
    grid.join(classBucket, Seq(labelCol, "bucket"), "left")
      .join(classTokens, Seq(labelCol))
      .join(classDocs, Seq(labelCol))
      .crossJoin(broadcast(totalDocs))
      .select(lab.as("label"), col("bucket"),
        log((coalesce(col("__c"), lit(0L)) + lit(1.0)) /
          (col("__tot") + lit(dim.toDouble))).as("loglik"),
        log(col("__nd").cast("double") / col("__ndt")).as("logprior"))
  }

  /** Predict: one row per document that has at least one token (the same
    * totality contract as the DSIR weigher — tokenless docs have no
    * evidence and no row). Output: `(idCol, pred, score)` where `pred` is
    * the argmax label (ties broken by label ascending on the 6-decimal
    * rounded score, so the result is engine-stable) and `score` its rounded
    * log-posterior.
    */
  def naiveBayesPredict(docs: DataFrame, model: DataFrame, idCol: String,
                        textCol: String, dim: Int = 256,
                        labelOut: String = "pred"): DataFrame = {
    val id = col(idCol)
    // Explicit contract, not positional inference: a caller that projects
    // or reorders the model columns must error here, never silently bind a
    // wrong column and mis-score.
    require(model.columns.contains("label"),
      s"model must carry the canonical 'label' column (naiveBayesFit's " +
        s"output contract); got [${model.columns.mkString(", ")}]")
    val labelCol = "label"
    val docBuckets = docs.select(id, explode(words(col(textCol))).as("__w"))
      .select(id, pmod(wordCode24(col("__w")), lit(dim.toLong)).as("bucket"))
      .groupBy(id, col("bucket")).agg(count(lit(1)).as("__c"))
    val scored = docBuckets.join(broadcast(model), Seq("bucket"))
      .select(id, col(labelCol),
        (col("__c") * col("loglik")).as("__term"), col("logprior"))
      .groupBy(id, col(labelCol))
      .agg(round(first(col("logprior")) +
        aggregate(sort_array(collect_list(col("__term"))), lit(0.0),
          (acc, x) => acc + x), 6).as("score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(id).orderBy(col("score").desc, col(labelCol).asc)
    scored.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(id, col(labelCol).as(labelOut), col("score"))
  }

  /** Binary logistic regression by FULL-BATCH gradient descent with a
    * fixed iteration count — the sibling of [[graft.ops.Graph.pagerank]]
    * on the model-training side: a deterministic, oracle-expressible
    * iterative DataFrame algorithm (each unrolled step is plain joins +
    * aggregations, so a SQL engine can replay the exact recurrence).
    *
    *   w₀ = 0;  wₖ₊₁(b) = wₖ(b) + lr · Σ_d x_db · (y_d − σ(Σ_b x_db·wₖ(b))) / N
    *
    * Scale design: features stay SPARSE (doc, bucket, x) end to end; per
    * iteration one broadcast of the dim-bounded weight vector, one
    * doc-keyed score aggregation, one bucket-keyed gradient aggregation
    * — two shuffles on even keys, state = dim rows, `localCheckpoint`
    * per round (the pagerank lineage discipline). Docs whose features
    * all canceled contribute a zero gradient and drop out naturally.
    * Full-batch GD converges geometrically on separable data (the spec
    * drives 40 rounds); the oracle gate pins 3 unrolled rounds.
    */
  def logisticFit(features: DataFrame, labels: DataFrame, idCol: String,
                  bucketCol: String, xCol: String, labelCol: String,
                  dim: Int, iterations: Int, lr: Double): DataFrame = {
    require(dim >= 1 && iterations >= 1 && lr > 0)
    val f = features.select(col(idCol), col(bucketCol).as("bucket"),
      col(xCol).cast("double").as("__x")).localCheckpoint()
    val lab = labels.select(col(idCol), col(labelCol).cast("double").as("__y"))
      .localCheckpoint()
    val n = lab.count().toDouble
    val spark = features.sparkSession
    import spark.implicits._
    var w = (0 until dim).map(b => (b.toLong, 0.0)).toDF("bucket", "wv")
    for (_ <- 1 to iterations) {
      val scores = f.join(broadcast(w), Seq("bucket"))
        .groupBy(col(idCol))
        .agg(sum(col("__x") * col("wv")).as("__score"))
      val resid = lab.join(scores, Seq(idCol), "left")
        .select(col(idCol), (col("__y") - lit(1.0) /
          (lit(1.0) + exp(-coalesce(col("__score"), lit(0.0)))))
          .as("__resid"))
      val grad = f.join(resid, Seq(idCol))
        .groupBy(col("bucket"))
        .agg((sum(col("__x") * col("__resid")) / lit(n)).as("__grad"))
      w = w.join(grad, Seq("bucket"), "left")
        .select(col("bucket"),
          (col("wv") + lit(lr) * coalesce(col("__grad"), lit(0.0))).as("wv"))
        .localCheckpoint()
    }
    w.select(col("bucket"), col("wv").as("weight"))
  }

  /** Score docs against a fitted weight vector: (id, prob) with
    * σ(Σ x·w); docs with no surviving features score σ(0) = 0.5 only if
    * present in `ids` — pass the full id frame to make scoring total.
    */
  def logisticPredict(features: DataFrame, weights: DataFrame,
                      ids: DataFrame, idCol: String, bucketCol: String,
                      xCol: String): DataFrame = {
    val scored = features
      .select(col(idCol), col(bucketCol).as("bucket"),
        col(xCol).cast("double").as("__x"))
      .join(broadcast(weights.select(col("bucket"), col("weight"))),
        Seq("bucket"))
      .groupBy(col(idCol)).agg(sum(col("__x") * col("weight")).as("__s"))
    ids.select(col(idCol)).join(scored, Seq(idCol), "left")
      .select(col(idCol), (lit(1.0) /
        (lit(1.0) + exp(-coalesce(col("__s"), lit(0.0))))).as("prob"))
  }
}
