package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._

/** Document deduplication operators for large-scale training-data pipelines:
  * exact (hash groupBy), MinHash+LSH banding, n-gram Jaccard verification,
  * and SimHash signatures.
  *
  * Scale design:
  *   - exact dedup: one shuffle keyed by content hash; the md5 is computed
  *     map-side so the shuffle carries (hash, id), not document bodies.
  *   - MinHash LSH: shingle explode → per-(doc, band) min-aggregation
  *     (partial aggregation collapses each doc's shingles map-side) →
  *     self-equi-join on (band, minhash). The join key is the bucket, so
  *     only candidate pairs materialize — never the O(N²) pair space.
  *   - Jaccard verify: restricted to candidate pairs; the shingle-set join
  *     is an equi-join on the shingle string, skew-safe under AQE.
  *   - SimHash: explode tokens × bits, two hash-aggregations; no joins.
  */
object Dedup {

  /** LSH banding planner (L288): for every (bands b, rows-per-band r)
    * split of `nPerms` minhash permutations, the candidate-collision
    * probability P(t) = 1 − (1 − t^r)^b at each Jaccard threshold of
    * interest, plus the S-curve midpoint t½ = (1/b)^(1/r) — the table a
    * 100 TB dedup run consults to PICK the banding before burning a
    * corpus pass (choose the split whose t½ brackets the target
    * threshold; P(t) at the thresholds quantifies recall vs candidate
    * volume). Pure column arithmetic over a divisors(n) × |thresholds|
    * grid — d(128) = 8 rows per threshold; no data touched at all.
    */
  def lshPlan(spark: org.apache.spark.sql.SparkSession, nPerms: Int = 128,
              thresholds: Seq[Double] = Seq(0.5, 0.7, 0.8, 0.9)): DataFrame = {
    require(nPerms >= 1 && nPerms <= 4096, "nPerms in [1, 4096]")
    require(thresholds.nonEmpty && thresholds.forall(t => t > 0 && t < 1),
      "thresholds in (0, 1)")
    val splits = spark.range(1, nPerms + 1L)
      .filter(lit(nPerms) % col("id") === 0)
      .select(col("id").cast("int").as("bands"),
        (lit(nPerms) / col("id")).cast("int").as("rows_per_band"))
    val ts = spark.range(thresholds.size.toLong)
      .select(element_at(typedlit(thresholds), col("id").cast("int") + 1)
        .as("t"))
    splits.crossJoin(broadcast(ts))
      .select(col("bands"), col("rows_per_band"),
        round(col("t"), 6).as("t"),
        round(lit(1.0) -
          pow(lit(1.0) - pow(col("t"), col("rows_per_band")), col("bands")), 6)
          .as("p_candidate"),
        round(pow(lit(1.0) / col("bands"), lit(1.0) / col("rows_per_band")), 6)
          .as("t_mid"))
  }

  /** A concrete banding decision: `bands` × `rowsPerBand` = total
    * permutations; `tMid` = (1/bands)^(1/rowsPerBand), the Jaccard level
    * where the collision S-curve crosses ~0.5.
    */
  final case class LshBanding(bands: Int, rowsPerBand: Int, tMid: Double)

  /** Consume [[lshPlan]]'s decision rule as a driver-side pick: among the
    * divisor splits (b, r = nPerms/b), choose the one whose S-curve
    * midpoint t½ = (1/b)^(1/r) lies closest to `threshold`; ties break
    * toward MORE bands (recall over candidate volume at equal distance).
    * Same closed form the `dedup_lsh_plan` gate pins relationally — this
    * is the planner's output actually steering execution
    * ([[nearDuplicates]]), not an advisory table.
    */
  def bandsFor(nPerms: Int, threshold: Double): LshBanding = {
    require(nPerms >= 1 && nPerms <= 4096, "nPerms in [1, 4096]")
    require(threshold > 0 && threshold < 1, "threshold in (0, 1)")
    (1 to nPerms).filter(nPerms % _ == 0)
      .map { b =>
        val r = nPerms / b
        LshBanding(b, r, math.pow(1.0 / b, 1.0 / r))
      }
      .minBy(p => (math.abs(p.tMid - threshold), -p.bands))
  }

  /** k-permutation minhash signature banded per a PLANNED (bands, rows)
    * split. Permutations come in CHUNKS OF FOUR per md5: permutation p
    * maps shingle s to hex chars [8·(p mod 4), 8·(p mod 4)+8) of
    * md5((p div 4) ":" s) — one 128-bit md5 yields four independent
    * 32-bit-range permutations, so k permutations cost ⌈k/4⌉ md5
    * computations per shingle instead of k (the round-13 path hashed per
    * permutation; its 16 md5 calls per (perm, shingle) were the whole
    * sf1 cost of the relational path). A band's bucket key concatenates
    * its rowsPerBand permutation minima in permutation order (an r-way
    * AND: all r minima must agree for a bucket collision). Relational
    * two-aggregation shape: the perm explode is collapsed map-side, so
    * the shuffle carries doc × k minima, never shingles × k;
    * oracle-portable because DuckDB's md5/substr agree byte-for-byte.
    * The one-pass typed alternative for collect-heavy callers is
    * [[minhashSignaturesOnePass]].
    */
  def minhashSignaturesPlanned(shingles: DataFrame, idCol: String,
                               plan: LshBanding): DataFrame =
    bandBuckets(permMinima(shingles, idCol,
      plan.bands * plan.rowsPerBand), idCol, plan)

  /** Per-permutation minhash minima — (idCol, perm, mh), k rows per doc:
    * the chunked scheme's first aggregation, exposed because this IS the
    * signature-store row format an incremental pipeline accumulates
    * ([[minhashStore]] / [[incrementalPairsSignatureStore]]).
    */
  private[graft] def permMinima(shingles: DataFrame, idCol: String,
                                k: Int): DataFrame = {
    // Round 16: the k permutation hashes of one shingle come from ONE
    // codegen'd kernel call ([[graft.functions.HashExpressions
    // .Md5PermHexes]]: ⌈k/4⌉ raw digests, hex emitted only for the 8-char
    // chunk strings) instead of the historical explode(groups) → md5 hex
    // → explode(chunks) → substring chain — bit-identical element values
    // in (4·grp + chunk) order, so posexplode's pos IS the permutation
    // index (differential property in HashExpressionsSpec). One explode
    // instead of two and no 32-char hex round-trip; the map-side partial
    // min aggregation below is unchanged.
    shingles
      .select(col(idCol),
        posexplode(org.apache.spark.sql.graft.CatalystBridge.column(
          graft.functions.HashExpressions.Md5PermHexes(
            org.apache.spark.sql.graft.CatalystBridge.expression(
              col("shingle")),
            org.apache.spark.sql.graft.CatalystBridge.expression(lit(k)))))
          .as(Seq("perm", "__h")))
      .groupBy(col(idCol), col("perm"))
      .agg(min(col("__h")).as("mh"))
  }

  /** Band-bucket keys from per-perm minima — the planned scheme's second
    * aggregation. floor(), not an int cast: the oracle side must band
    * identically, and SQL engines disagree on double→int casts (DuckDB
    * rounds, Spark truncates) — floor is unambiguous in both.
    */
  private def bandBuckets(minima: DataFrame, idCol: String,
                          plan: LshBanding): DataFrame =
    minima
      .groupBy(col(idCol),
        floor(col("perm") / plan.rowsPerBand).cast("int").as("band"))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("perm"), col("mh")))),
          x => x.getField("mh")), "").as("minhash"))

  /** Build the SIGNATURE STORE for a document frame: (idCol, perm, mh),
    * `nPerms` rows per document — what a continuously-ingesting dedup
    * pipeline appends per batch instead of (or alongside) a shingle
    * store. k × 8-char strings per doc ≈ 200 bytes regardless of
    * document size, so the store a year of ingest accumulates is
    * signature-sized, not corpus-sized — the piece that makes
    * [[incrementalPairsSignatureStore]] the 100 TB incremental shape.
    *
    * CONSISTENCY contract: the probe recomputes batch signatures with
    * the same (nPerms, n, maxDocFrequency) — signatures from differently
    * capped shingle sets would disagree on minima and bias the estimate
    * low. Default cap is None for exactly that reason; if you cap,
    * cap both sides identically. The nPerms leg is ENFORCED:
    * [[incrementalPairsSignatureStore]] aggregates the FULL store and
    * throws unless perm indices span exactly [0, nPerms) with
    * rows = docs × nPerms (so mixed-nPerms concatenations fail too).
    */
  def minhashStore(docs: DataFrame, idCol: String, textCol: String,
                   nPerms: Int = 16, n: Int = 3,
                   maxDocFrequency: Option[Double] = None): DataFrame =
    permMinima(shingleSets(docs, idCol, textCol, n, maxDocFrequency),
      idCol, nPerms)

  /** Incremental near-dup probe against a SIGNATURE store (L307): the
    * batch's banded buckets equi-join the store's banded buckets for
    * candidates (planner-chosen banding at the estimate threshold), and
    * similarity is ESTIMATED from per-permutation agreement over the
    * full k permutations — Ĵ = n_match/k, the unbiased minhash
    * estimator — cut at the integer rank ⌈t·k⌉. No shingle store, no
    * document bodies: the join carries signatures only (k 8-char
    * strings per doc), which is what makes this the incremental shape
    * when history is petabytes — [[incrementalPairs]] (exact, shingle
    * store) remains the high-precision tier for candidate confirmation.
    * Estimator resolution is 1/k; at k = 16 the cut t = 0.5 admits
    * pairs with ≥ 8 agreeing permutations (σ ≈ 0.125 at J = 0.5 — use
    * more perms when the threshold must be sharp).
    *
    * NOT LAZY: the (nPerms) store-contract check below runs one Spark
    * job at CALL time, which also materializes the store-signature
    * scoped cache (the probe's joins then reuse it, so the store is not
    * re-scanned). Callers composing plans to execute later should
    * expect that job here, not at first action.
    */
  def incrementalPairsSignatureStore(newDocs: DataFrame, store: DataFrame,
                                     idCol: String, textCol: String,
                                     minJaccardEst: Double,
                                     nPerms: Int = 16, n: Int = 3,
                                     maxDocFrequency: Option[Double] = None): DataFrame = {
    val plan = bandsFor(nPerms, minJaccardEst)
    val k = plan.bands * plan.rowsPerBand
    val minCut = math.ceil(minJaccardEst * k).toInt
    val newSig = OpCaches.scoped(
      minhashStore(newDocs, idCol, textCol, nPerms, n, maxDocFrequency))
    val corpSig = OpCaches.scoped(store.select(col(idCol), col("perm"),
      col("mh")))
    // Enforce the (nPerms) consistency contract instead of documenting it:
    // a store built with fewer perms than the probe would silently bias
    // jaccard_est LOW (the agreement join inner-joins on perm, so n_match
    // divides by the probe's k while only the store's perms can match) and
    // degrade banding recall. The check covers the FULL store (r15
    // advice — sampling one doc let a store CONCATENATED from
    // mixed-nPerms builds pass while still biasing the mismatched docs):
    // one global aggregate over the scoped-cached signatures (map-side
    // partial combine, no per-doc shuffle) asserting perm indices span
    // exactly [0, nPerms) and rows = docs × nPerms — a doc carrying
    // fewer perms, extra perms, or duplicated (id, perm) rows (which
    // would double-count n_match) all break the product.
    val chk = corpSig.agg(
      min(col("perm")).cast("long").as("__mn"),
      max(col("perm")).cast("long").as("__mx"),
      countDistinct(col("perm")).as("__np"),
      count(lit(1)).as("__rows"),
      countDistinct(col(idCol)).as("__docs")).head()
    if (chk.getLong(3) > 0) {
      val (mn, mx, np, rows, docs) = (chk.getLong(0), chk.getLong(1),
        chk.getLong(2), chk.getLong(3), chk.getLong(4))
      require(mn == 0L && mx == nPerms - 1L && np == nPerms &&
          rows == docs * nPerms,
        s"signature store/probe permutation mismatch: store spans perms " +
          s"[$mn, $mx] ($np distinct) with $rows rows over $docs docs, " +
          s"but the probe expects every doc to carry exactly " +
          s"nPerms=$nPerms perms spanning [0, $nPerms) — rebuild the " +
          s"store or probe with matching perms")
    }
    val cand = bandBuckets(newSig, idCol, plan)
      .select(col(idCol).as("new_id"), col("band"), col("minhash"))
      .join(bandBuckets(corpSig, idCol, plan)
        .select(col(idCol).as("corpus_id"), col("band"), col("minhash")),
        Seq("band", "minhash"))
      .filter(col("new_id") =!= col("corpus_id"))
      .select(col("new_id"), col("corpus_id"))
      .distinct()
    cand
      .join(newSig.select(col(idCol).as("new_id"), col("perm"),
        col("mh").as("__mn")), Seq("new_id"))
      .join(corpSig.select(col(idCol).as("corpus_id"), col("perm"),
        col("mh").as("__mc")), Seq("corpus_id", "perm"))
      .groupBy(col("new_id"), col("corpus_id"))
      .agg(sum(when(col("__mn") === col("__mc"), 1L).otherwise(0L))
        .as("n_match"))
      .filter(col("n_match") >= minCut)
      .select(col("new_id"), col("corpus_id"), col("n_match"),
        round(col("n_match").cast("double") / k, 6).as("jaccard_est"),
        lit(plan.bands).as("bands"), lit(plan.rowsPerBand).as("rows_per_band"))
  }

  /** Exact-Jaccard verification of candidate pairs, stamped with the
    * planner's executed banding — the shared closing stage of both
    * planned LSH paths.
    */
  private def verifiedPlannedPairs(candidates: DataFrame, sh: DataFrame,
                                   idCol: String, minJaccard: Double,
                                   plan: LshBanding): DataFrame = {
    val sizes = sh.groupBy(col(idCol)).agg(count(lit(1)).as("sz"))
    val sa = sh.select(col(idCol).as("doc_a"), col("shingle"))
    val sb = sh.select(col(idCol).as("doc_b"), col("shingle"))
    val inter = candidates
      .join(sa, Seq("doc_a"))
      .join(sb, Seq("doc_b", "shingle"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col(idCol).as("doc_a"), col("sz").as("sz_a")), Seq("doc_a"))
      .join(sizes.select(col(idCol).as("doc_b"), col("sz").as("sz_b")), Seq("doc_b"))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("sz_a") + col("sz_b") - col("inter")))
      .filter(col("jaccard") >= minJaccard)
      .select(col("doc_a"), col("doc_b"), col("inter"), col("jaccard"),
        lit(plan.bands).as("bands"), lit(plan.rowsPerBand).as("rows_per_band"))
  }

  /** [[nearDuplicates]] on the ONE-PASS signature path — the
    * production shape at corpus scale: [[minhashSignaturesOnePass]]
    * computes all k Kirsch–Mitzenmacher permutations in a single partial
    * aggregation (shuffle carries k longs per doc, no perm explode), and
    * the planner's (bands, rows) split slices the signature array into
    * band buckets (the bucket key is the r-long slice itself — arrays are
    * join keys). Not oracle-portable (the wrapping 64-bit h1 + i·h2
    * arithmetic has no safe SQL form), so the relational
    * [[nearDuplicates]] carries the DuckDB gate and the spec ties
    * the two paths on planted duplicates; candidates differ hash-by-hash
    * but both verify with exact Jaccard, so emitted pairs are always true
    * ≥-threshold pairs.
    *
    * WHEN TO PICK THIS PATH (measured, SCALE.md round 16): on a roomy
    * host the relational [[nearDuplicates]] is ~2× faster (the
    * chunked-md5 pipeline wins when compute is the bill), but under
    * memory pressure the ranking INVERTS — in a 4 GiB / 0.2-fraction
    * stress session at sf1 this path finishes with ZERO spill while the
    * relational path spills 2.2 GB and takes 2.2× longer. When executor
    * memory per task is the binding constraint (the 1000-executor
    * regime), the k-longs-per-doc shuffle is the right shape.
    */
  def nearDuplicatesPlannedOnePass(docs: DataFrame, idCol: String,
                                   textCol: String, minJaccard: Double,
                                   nPerms: Int = 64, n: Int = 3,
                                   maxDocFrequency: Option[Double] = Some(0.1)): DataFrame = {
    val plan = bandsFor(nPerms, minJaccard)
    val raw = OpCaches.scoped(shingleSets(docs, idCol, textCol, n, None))
    val sh = maxDocFrequency match {
      case None        => raw
      case Some(maxDf) => hotFiltered(raw, docs, idCol, maxDf)
    }
    val banded = minhashSignaturesOnePass(sh, idCol, nPerms)
      .select(col(idCol),
        explode(sequence(lit(0), lit(plan.bands - 1))).as("band"),
        col("signature"))
      .select(col(idCol), col("band"),
        slice(col("signature"), col("band") * plan.rowsPerBand + 1,
          lit(plan.rowsPerBand)).as("minhash"))
    verifiedPlannedPairs(lshCandidates(banded, idCol), sh, idCol,
      minJaccard, plan)
  }

  /** Leakage-safe train/eval split (L299): near-duplicate CLUSTERS are
    * assigned to splits wholesale, so a near-dup of a training document
    * can never land in the eval split — the eval-contamination failure a
    * doc-level random split produces with near-certainty once the corpus
    * carries duplicate clusters. Cluster ids come from [[clusters]] over
    * the supplied pair graph (docs without a near-dup are their own
    * cluster); the verdict is the deterministic md5 hash of the CLUSTER
    * id against `evalFraction` ([[Sampling.keyUniform]]), so re-runs,
    * backfills, and engines agree row-for-row. Cost beyond the pair
    * mining the caller already did: one components pass over the
    * dup-bounded pair graph + a left join back to the corpus.
    */
  def leakageSafeSplit(docs: DataFrame, pairs: DataFrame, idCol: String,
                       evalFraction: Double): DataFrame = {
    require(evalFraction > 0 && evalFraction < 1, "evalFraction in (0, 1)")
    docs.select(col(idCol))
      .join(clusters(pairs).select(col("doc_id").as(idCol), col("cluster_id")),
        Seq(idCol), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col(idCol)))
      .withColumn("split",
        when(Sampling.keyUniform(col("cluster_id")) < evalFraction,
          lit("eval")).otherwise(lit("train")))
  }

  /** Exact dedup on normalized content: one row per distinct text with the
    * canonical (minimum) id and the duplicate count.
    */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol), md5(col(textCol)).as("content_hash"))
      .groupBy(col("content_hash"))
      .agg(min(col(idCol)).as("canonical_id"), count(lit(1)).as("n_copies"))

  /** Distinct (id, shingle) pairs — the shingle-set representation.
    * Requires unique doc ids (every table here has them); within-doc
    * dedup happens per row via `array_distinct` BEFORE the explode, so
    * building the set costs zero shuffles instead of a corpus-wide
    * `distinct()` exchange.
    *
    * `maxDocFrequency` (opt-in) drops "stop-shingles" present in more than
    * that fraction of documents BEFORE any join — the standard mitigation
    * for hot-key skew in the shingle equi-joins at corpus scale (a shingle
    * shared by millions of docs would otherwise dominate one reducer and
    * contribute nothing to similarity discrimination).
    */
  def shingleSets(docs: DataFrame, idCol: String, textCol: String, n: Int = 3,
                  maxDocFrequency: Option[Double] = None): DataFrame = {
    // r16 opt: fan the (single-file) doc scan out BEFORE the tokenize/
    // shingle explode — the whole dedup family's per-row CPU lives here,
    // and a one-row-group input otherwise runs it in one task
    // (Fan.out scaladoc; downstream aggs are integer counts / string
    // minima, so partial order is immaterial).
    val sh = Fan.out(docs)
      .select(col(idCol),
        explode(array_distinct(wordShingles(words(col(textCol)), n))).as("shingle"))
    maxDocFrequency match {
      case None => sh
      // Cache before deriving the hot list: both the hot-df aggregation and
      // the anti-join consume the exploded set — without the cache the
      // corpus would tokenize/explode twice. Scoped: released by
      // OpCaches.releaseAll() once the caller materializes.
      case Some(maxDf) => hotFiltered(OpCaches.scoped(sh), docs, idCol, maxDf)
    }
  }

  /** Anti-join away "stop-shingles" present in more than `maxDf` of the
    * corpus. `sh` should already be cached — it feeds both the document
    * count and the anti-join probe side.
    */
  private def hotFiltered(sh: DataFrame, docs: DataFrame, idCol: String,
                          maxDf: Double): DataFrame = {
    val nDocs = docs.select(col(idCol)).distinct().count()
    val hot = sh.groupBy(col("shingle")).agg(count(lit(1)).as("__df"))
      .filter(col("__df") > lit(maxDf * nDocs))
      .select(col("shingle"))
    sh.join(broadcast(hot), Seq("shingle"), "left_anti")
  }

  /** Per-(doc, band) minhash signature. ONE md5 per shingle; band b's hash
    * is hex chars [8b, 8b+8) of it (4 independent 32-bit permutations from
    * 128 md5 bits) — 8× fewer hash computations than hashing per band, and
    * the min over a 32-bit space keeps random-collision candidates
    * negligible. Max 4 bands per md5.
    */
  def minhashSignatures(shingles: DataFrame, idCol: String, bands: Int = 4): DataFrame = {
    require(bands <= 4, "one 128-bit md5 yields at most 4×32-bit bands")
    shingles
      .withColumn("__md5", md5(col("shingle")))
      .select(col(idCol), explode(sequence(lit(0), lit(bands - 1))).as("band"),
        col("__md5"))
      .groupBy(col(idCol), col("band"))
      .agg(min(expr("substring(__md5, 1 + 8*band, 8)")).as("minhash"))
  }

  /** One-pass k-permutation signature via the typed [[graft.functions.MinHashAgg]]
    * Aggregator: no band explode — one partial-aggregation pass, shuffle
    * carries k longs per doc. Complements [[minhashSignatures]] (the
    * relational/oracle-portable path).
    */
  def minhashSignaturesOnePass(shingles: DataFrame, idCol: String, k: Int): DataFrame = {
    // Relational groupBy + udaf keeps the id column in its NATIVE type —
    // string, long, whatever the caller has — matching the rest of the
    // Dedup API (a typed groupByKey would force a cast).
    val mh = udaf(graft.functions.MinHashAgg(k))
    shingles.groupBy(col(idCol)).agg(mh(col("shingle")).as("signature"))
  }

  /** Candidate pairs: docs sharing any (band, minhash) bucket; a < b.
    * The signature frame is cached — both join sides reference it, and at
    * scale it is the small derived sketch (bands × docs), not the corpus.
    */
  def lshCandidates(signatures: DataFrame, idCol: String): DataFrame = {
    val sig = OpCaches.scoped(signatures)
    val a = sig.select(col(idCol).as("doc_a"), col("band"), col("minhash"))
    val b = sig.select(col(idCol).as("doc_b"), col("band"), col("minhash"))
    a.join(b, Seq("band", "minhash"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"))
      .distinct()
  }

  /** Incremental ingest dedup: Jaccard pairs between a NEW batch and the
    * EXISTING corpus — the production shape where a daily ingest checks
    * against the accumulated store instead of re-mining all pairs. The
    * new side is small by definition; the corpus side's shingles are
    * df-capped (hot shingles carry no signal but would route the corpus
    * through one reducer — same guard as [[nearDuplicates]]). Jaccard
    * denominators use the UNCAPPED set sizes of both sides, computed
    * before the cap; intersections are a LOWER BOUND when the cap drops a
    * shared hot shingle, so reported scores are conservative (never
    * inflated) but not exact near the threshold — don't rely on exactness
    * there. Pair
    * new×new duplication separately with [[nearDuplicates]] on the batch.
    */
  def incrementalPairs(newDocs: DataFrame, corpus: DataFrame, idCol: String,
                       textCol: String, minJaccard: Double, n: Int = 3,
                       maxDocFrequency: Option[Double] = Some(0.1)): DataFrame = {
    val newSh = OpCaches.scoped(shingleSets(newDocs, idCol, textCol, n, None))
    val corpShAll = OpCaches.scoped(shingleSets(corpus, idCol, textCol, n, None))
    val szNew = newSh.groupBy(col(idCol)).agg(count(lit(1)).as("sz_new"))
    val szCorp = corpShAll.groupBy(col(idCol)).agg(count(lit(1)).as("sz_corpus"))
    val corpSh = maxDocFrequency match {
      case None        => corpShAll
      case Some(maxDf) => hotFiltered(corpShAll, corpus, idCol, maxDf)
    }
    newSh.select(col(idCol).as("new_id"), col("shingle"))
      .join(corpSh.select(col(idCol).as("corpus_id"), col("shingle")),
        Seq("shingle"))
      .groupBy(col("new_id"), col("corpus_id"))
      .agg(count(lit(1)).as("inter"))
      .join(szNew.select(col(idCol).as("new_id"), col("sz_new")), Seq("new_id"))
      .join(szCorp.select(col(idCol).as("corpus_id"), col("sz_corpus")),
        Seq("corpus_id"))
      // Threshold on the UNROUNDED similarity (matching jaccardPairs /
      // nearDuplicates — the incremental path must cut the same boundary
      // pairs as a batch backfill); rounding is output formatting only.
      .withColumn("__j", col("inter").cast("double") /
        (col("sz_new") + col("sz_corpus") - col("inter")))
      .filter(col("__j") >= minJaccard)
      .select(col("new_id"), col("corpus_id"), col("inter"),
        round(col("__j"), 6).as("jaccard"))
  }

  /** [[incrementalPairs]] against a PRE-SHINGLED corpus: the corpus side
    * is an accumulated `(idCol, shingle)` store (distinct pairs, UNCAPPED)
    * instead of document bodies — a continuously-ingesting pipeline
    * appends each batch's [[shingleSets]] output once and never
    * re-tokenizes history, so the per-batch cross probe reads a columnar
    * shingle table (bucketable by `shingle` at cluster scale for a
    * shuffle-free probe) rather than re-deriving O(corpus) shingles every
    * batch. Semantics identical to [[incrementalPairs]]: same df cap
    * (document count derived from the store's distinct ids), same
    * uncapped-size denominators, same unrounded threshold cut.
    */
  def incrementalPairsPreShingled(newDocs: DataFrame, corpusShingles: DataFrame,
                                  idCol: String, textCol: String,
                                  minJaccard: Double, n: Int = 3,
                                  maxDocFrequency: Option[Double] = Some(0.1)): DataFrame = {
    val newSh = OpCaches.scoped(shingleSets(newDocs, idCol, textCol, n, None))
    val corpShAll = OpCaches.scoped(
      corpusShingles.select(col(idCol), col("shingle")))
    val szNew = newSh.groupBy(col(idCol)).agg(count(lit(1)).as("sz_new"))
    val szCorp = corpShAll.groupBy(col(idCol)).agg(count(lit(1)).as("sz_corpus"))
    val corpSh = maxDocFrequency match {
      case None => corpShAll
      case Some(maxDf) =>
        val nDocs = corpShAll.select(col(idCol)).distinct().count()
        val hot = corpShAll.groupBy(col("shingle"))
          .agg(count(lit(1)).as("__df"))
          .filter(col("__df") > lit(maxDf * nDocs))
          .select(col("shingle"))
        corpShAll.join(broadcast(hot), Seq("shingle"), "left_anti")
    }
    newSh.select(col(idCol).as("new_id"), col("shingle"))
      .join(corpSh.select(col(idCol).as("corpus_id"), col("shingle")),
        Seq("shingle"))
      .groupBy(col("new_id"), col("corpus_id"))
      .agg(count(lit(1)).as("inter"))
      .join(szNew.select(col(idCol).as("new_id"), col("sz_new")), Seq("new_id"))
      .join(szCorp.select(col(idCol).as("corpus_id"), col("sz_corpus")),
        Seq("corpus_id"))
      .withColumn("__j", col("inter").cast("double") /
        (col("sz_new") + col("sz_corpus") - col("inter")))
      .filter(col("__j") >= minJaccard)
      .select(col("new_id"), col("corpus_id"), col("inter"),
        round(col("__j"), 6).as("jaccard"))
  }

  /** Exact pairwise n-gram Jaccard via shingle-set equi-join, keeping pairs
    * with similarity ≥ `minJaccard`. Ground-truth op — at scale, restrict
    * with [[lshCandidates]] first (see [[nearDuplicates]]).
    */
  def jaccardPairs(shinglesIn: DataFrame, idCol: String, minJaccard: Double): DataFrame = {
    val shingles = OpCaches.scoped(shinglesIn) // feeds sizes + both join sides
    val sizes = shingles.groupBy(col(idCol)).agg(count(lit(1)).as("sz"))
    val a = shingles.select(col(idCol).as("doc_a"), col("shingle"))
    val b = shingles.select(col(idCol).as("doc_b"), col("shingle"))
    val inter = a.join(b, Seq("shingle"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col(idCol).as("doc_a"), col("sz").as("sz_a")), Seq("doc_a"))
      .join(sizes.select(col(idCol).as("doc_b"), col("sz").as("sz_b")), Seq("doc_b"))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("sz_a") + col("sz_b") - col("inter")))
      .filter(col("jaccard") >= minJaccard)
      .select(col("doc_a"), col("doc_b"), col("inter"), col("jaccard"))
  }

  /** Exact pairwise Jaccard via PREFIX FILTERING (PPJoin-style): identical
    * output to [[jaccardPairs]], sub-quadratic candidate generation.
    *
    * Tokens are globally ordered by (document frequency asc, token asc);
    * a set of size `sz` keeps only its first `sz - ceil(t·sz) + 1` tokens
    * as its PREFIX. Any pair with Jaccard ≥ t must share at least one
    * prefix token (pigeonhole on the ordered sets), so the candidate join
    * runs on prefixes — rare tokens by construction — instead of the full
    * inverted index, and a hot token (a grid cell every user visits, a
    * stopword shingle) falls out of most prefixes instead of routing the
    * corpus through one reducer. A length filter (J ≤ min/max sizes)
    * prunes candidates before the verification join. Verification is the
    * exact intersection count over full sets, restricted to candidates —
    * LOSSLESS, unlike the banded [[nearDuplicates]] path, which trades
    * recall for fewer candidates.
    *
    * Scale shape: df ranking is one agg + one window partitioned per doc
    * (per-doc set size bounded by doc/trajectory length); the candidate
    * join shuffles only prefix tokens; the verify join carries candidate
    * pairs × their shingles, the same shape as [[nearDuplicates]]'s
    * verify. No all-pairs stage anywhere.
    *
    * CAVEAT at low thresholds over DENSE key spaces: the prefix keeps
    * sz − ⌈t·sz⌉ + 1 tokens, so at t = 0.3 ~70% of every set is prefix
    * and a token shared by h sets still generates O(h²) candidates.
    * Round-11 measurement: a 10×-denser grid corpus (same 408 cells,
    * 10× users) put 11,060 users in the hottest cell — Σ df² ≈ 4.6e9
    * candidates, a 100× blow-up for 10× rows. `maxDf` is the density
    * valve: tokens with document frequency > maxDf are dropped from
    * BOTH prefix and full sets before anything joins (the
    * [[nearDuplicates]] hot-shingle cap, applied to the exact path).
    * LOSSY for pairs whose similarity rests on hot tokens — a token in
    * thousands of sets carries no similarity signal, which is exactly
    * why dropping it is the production answer — and None (the default)
    * keeps the op exact.
    */
  def jaccardPairsPrefix(shinglesIn: DataFrame, idCol: String,
                         minJaccard: Double,
                         maxDf: Option[Long] = None): DataFrame = {
    require(minJaccard > 0.0 && minJaccard <= 1.0,
      s"minJaccard must be in (0, 1], got $minJaccard")
    val raw = OpCaches.scoped(
      shinglesIn.select(col(idCol), col("shingle")))
    val shingles = maxDf match {
      case None => raw
      case Some(cap) =>
        require(cap >= 2, "maxDf must be at least 2")
        val hot = raw.groupBy(col("shingle"))
          .agg(count(lit(1)).as("__df"))
          .filter(col("__df") > cap)
          .select(col("shingle"))
        raw.join(hot, Seq("shingle"), "left_anti")
    }
    val dfCounts = shingles.groupBy(col("shingle"))
      .agg(count(lit(1)).as("__df"))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("__df").asc, col("shingle").asc)
    val ranked = OpCaches.scoped(
      shingles.join(dfCounts, Seq("shingle"))
        .withColumn("__rn", row_number().over(w))
        .withColumn("__sz", count(lit(1)).over(Window.partitionBy(col(idCol))))
        .withColumn("__prefix",
          col("__rn") <= col("__sz") - ceil(lit(minJaccard) * col("__sz")) + 1))
    val pa = ranked.filter(col("__prefix"))
      .select(col(idCol).as("doc_a"), col("shingle"), col("__sz").as("sz_a"))
    val pb = ranked.filter(col("__prefix"))
      .select(col(idCol).as("doc_b"), col("shingle"), col("__sz").as("sz_b"))
    val candidates = pa.join(pb, Seq("shingle"))
      .filter(col("doc_a") < col("doc_b"))
      // Length filter: inter ≤ min(sz), union ≥ max(sz) ⇒ J ≤ min/max.
      .filter(least(col("sz_a"), col("sz_b")) >=
        lit(minJaccard) * greatest(col("sz_a"), col("sz_b")))
      .select(col("doc_a"), col("doc_b"), col("sz_a"), col("sz_b"))
      .distinct()
    val fullA = ranked.select(col(idCol).as("doc_a"), col("shingle"))
    val fullB = ranked.select(col(idCol).as("doc_b"), col("shingle"))
    candidates
      .join(fullA, Seq("doc_a"))
      .join(fullB, Seq("doc_b", "shingle"))
      .groupBy(col("doc_a"), col("doc_b"), col("sz_a"), col("sz_b"))
      .agg(count(lit(1)).as("inter"))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("sz_a") + col("sz_b") - col("inter")))
      .filter(col("jaccard") >= minJaccard)
      .select(col("doc_a"), col("doc_b"), col("inter"), col("jaccard"))
  }

  /** The scale path and DEFAULT dedup front-door: LSH candidates verified
    * by exact Jaccard ≥ threshold, with the banding CHOSEN BY THE PLANNER
    * — (bands, rowsPerBand) = [[bandsFor]](nPerms, minJaccard), so the
    * candidate S-curve is centered on the query's own threshold instead
    * of a caller constant. The executed banding is emitted as literal
    * `bands` / `rows_per_band` columns so a gate can prove the planner's
    * pick flowed through to execution. (Round-13 shape measured 458
    * candidates → 25 pairs at t=0.8 on the 600-doc corpus with the old
    * fixed 4×1 banding vs 25 → 25 planner-banded: r=1 bands collide
    * nearly every mildly-similar pair, and the junk candidates were the
    * verify join's whole cost.)
    *
    * RECALL TRADEOFF of the planner default (know this before relying on
    * pairs NEAR the threshold): [[bandsFor]] centers the collision
    * S-curve AT `minJaccard`, so a true pair sitting just above the
    * threshold has only ~50% candidate recall BY DESIGN — e.g. at
    * t = 0.8 the (4, 4) split collides ~88% of J = 0.8 pairs where the
    * legacy r = 1 banding collided ~99.8%. More `nPerms` SHARPENS the
    * curve around t (fewer misses just above, fewer junk candidates just
    * below); it does not move it. Callers needing near-exhaustive recall
    * close to the threshold should either raise `nPerms` (64+) or mine at
    * a LOWER threshold and post-filter on the emitted exact `jaccard`.
    *
    * Jaccard is computed ONLY for candidate pairs (candidates → doc_a's
    * shingles → equi-join doc_b's shingles) — never over the O(N²) pair
    * space. The shingle set is cached: it feeds the signatures, the sizes,
    * and both verification sides.
    *
    * `maxDocFrequency` defaults ON (0.1): a shingle present in more than
    * 10% of documents carries no similarity signal but would route a large
    * fraction of the corpus through one reducer in the candidate and
    * verification joins — the classic hot-key blowup at corpus scale.
    */
  def nearDuplicates(docs: DataFrame, idCol: String, textCol: String,
                     minJaccard: Double = 0.8, n: Int = 3,
                     maxDocFrequency: Option[Double] = Some(0.1),
                     nPerms: Int = 16): DataFrame = {
    // ONE scoped cache of the raw exploded shingles; the hot-shingle
    // anti-join re-derives from it per consumer (its broadcast exchange is
    // reused within an action), instead of double-caching a second filtered
    // copy of the whole shingle set.
    val raw = OpCaches.scoped(shingleSets(docs, idCol, textCol, n, None))
    val sh = maxDocFrequency match {
      case None        => raw
      case Some(maxDf) => hotFiltered(raw, docs, idCol, maxDf)
    }
    val plan = bandsFor(nPerms, minJaccard)
    verifiedPlannedPairs(
      lshCandidates(minhashSignaturesPlanned(sh, idCol, plan), idCol), sh,
      idCol, minJaccard, plan)
  }

  /** Asymmetric containment pairs: containment(A in B) = |A∩B| / |A| over
    * shingle sets — catches subset duplication (a document quoted or
    * embedded inside another) that symmetric Jaccard misses when sizes
    * differ. Same candidate shape as [[jaccardPairs]] (shingle equi-join,
    * never all-pairs); keeps pairs where EITHER direction reaches
    * `minContainment`.
    *
    * `maxDocFrequency` defaults ON (0.1) for the same reason as
    * [[nearDuplicates]]: a shingle in d documents emits d² rows from the
    * self-join — one corpus-ubiquitous shingle is a reducer-melting hot
    * key at scale, and carries no duplication signal. Semantics under the
    * cap: denominators `sz_a`/`sz_b` are computed from the UNCAPPED
    * shingle sets (containment stays exactly |A∩B'|/|A| with B' the
    * capped intersection), so reported containment is a lower bound —
    * pairs held together ONLY by stop-shingles drop, genuine subset
    * duplication (rare shingles by definition) is unaffected.
    */
  def containmentPairs(shinglesIn: DataFrame, idCol: String,
                       minContainment: Double,
                       maxDocFrequency: Option[Double] = Some(0.1),
                       docs: Option[DataFrame] = None): DataFrame = {
    val shingles = OpCaches.scoped(shinglesIn)
    // Sizes BEFORE the cap: exact denominators.
    val sizes = shingles.groupBy(col(idCol)).agg(count(lit(1)).as("sz"))
    val joinable = maxDocFrequency match {
      case None        => shingles
      // `docs` supplies the distinct-doc universe for the df threshold —
      // pass the full document frame to count docs too short to shingle
      // (matching nearDuplicates); the shingle frame is only a fallback.
      case Some(maxDf) =>
        hotFiltered(shingles, docs.getOrElse(shingles), idCol, maxDf)
    }
    val a = joinable.select(col(idCol).as("doc_a"), col("shingle"))
    val b = joinable.select(col(idCol).as("doc_b"), col("shingle"))
    val inter = a.join(b, Seq("shingle"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col(idCol).as("doc_a"), col("sz").as("sz_a")), Seq("doc_a"))
      .join(sizes.select(col(idCol).as("doc_b"), col("sz").as("sz_b")), Seq("doc_b"))
      .withColumn("cont_a", col("inter").cast("double") / col("sz_a"))
      .withColumn("cont_b", col("inter").cast("double") / col("sz_b"))
      .filter(greatest(col("cont_a"), col("cont_b")) >= minContainment)
      .select(col("doc_a"), col("doc_b"), col("inter"),
        col("cont_a"), col("cont_b"))
  }

  /** Exact substring-span duplication: pairs of documents sharing at least
    * one identical `spanTokens`-token span — the "long exact overlap"
    * dedup modality (boilerplate blocks, quoted passages, mirrored
    * articles) that similarity RATIOS dilute away on long documents: a
    * 100-token block copied into a 100k-token doc moves Jaccard and
    * containment by ~0.1% but is exactly what span dedup flags.
    *
    * Shape: distinct token windows per doc (one pass, window text as the
    * key — at production scale hash the window to a 64-bit rolling hash
    * first and verify survivors), equi-join on the span, count shared
    * spans per pair. `maxDocFrequency` caps span document frequency like
    * [[nearDuplicates]] (a span in d docs emits d² join rows); spans ARE
    * the signal here, so the cap only drops corpus-ubiquitous boilerplate.
    */
  def substringSpanPairs(docs: DataFrame, idCol: String, textCol: String,
                         spanTokens: Int = 8,
                         maxDocFrequency: Option[Double] = Some(0.1)): DataFrame = {
    val raw = OpCaches.scoped(shingleSets(docs, idCol, textCol, spanTokens, None))
    val sh = maxDocFrequency match {
      case None        => raw
      // df threshold counts ALL docs (like nearDuplicates), not just docs
      // long enough to have spans — the two diverge on short-doc corpora.
      case Some(maxDf) => hotFiltered(raw, docs, idCol, maxDf)
    }
    val a = sh.select(col(idCol).as("doc_a"), col("shingle").as("span"))
    val b = sh.select(col(idCol).as("doc_b"), col("shingle").as("span"))
    a.join(b, Seq("span"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("shared_spans"), min(col("span")).as("first_span"))
  }

  /** Dataset version diff — the data-ops audit between two corpus
    * snapshots: per id, `added` / `removed` / `changed` / `unchanged` by
    * content hash. One full outer join keyed by id; hashes compute
    * map-side so the shuffle carries (id, md5), never document bodies —
    * the same discipline as [[exact]]. Downstream: changed+added feed
    * re-embedding/re-indexing, removed feeds tombstones.
    */
  def versionDiff(oldDocs: DataFrame, newDocs: DataFrame,
                  idCol: String, textCol: String): DataFrame = {
    // Presence comes from explicit per-side markers, NOT the hash's
    // nullability — md5(NULL text) is NULL, which would misreport an
    // existing null-text doc as "added"/"removed". Hash comparison is
    // null-safe for the same reason (two null texts are "unchanged").
    val o = oldDocs.select(col(idCol), md5(col(textCol)).as("__ho"),
      lit(1).as("__po"))
    val n = newDocs.select(col(idCol), md5(col(textCol)).as("__hn"),
      lit(1).as("__pn"))
    o.join(n, Seq(idCol), "full_outer")
      .select(col(idCol),
        when(col("__po").isNull, lit("added"))
          .when(col("__pn").isNull, lit("removed"))
          .when(!(col("__ho") <=> col("__hn")), lit("changed"))
          .otherwise(lit("unchanged")).as("status"))
  }

  /** Cross-corpus nearest near-duplicate: for each document tagged
    * `benchTag`, the single best-matching OTHER-tag document by n-gram
    * Jaccard — the "which training doc leaked this eval item" probe that
    * [[graft.ops.TextAnalysis.contaminationTagged]]'s hit COUNT cannot
    * answer. One tagged shingle scan split by tag (never two corpus
    * passes), candidates from the shingle equi-join (never |bench|×|train|
    * pairs), hot-shingle capping on by default, argmax per bench doc by
    * rounded Jaccard with train-id tie-break.
    */
  def crossCorpusNearest(docs: DataFrame, idCol: String, textCol: String,
                         tagCol: String, benchTag: String, n: Int = 3,
                         maxDocFrequency: Option[Double] = Some(0.1)): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val raw = docs.select(col(tagCol), col(idCol),
      explode(array_distinct(wordShingles(words(col(textCol)), n))).as("shingle"))
    val sh0 = OpCaches.scoped(raw)
    val sh = maxDocFrequency match {
      case None        => sh0
      case Some(maxDf) => hotFiltered(sh0, docs, idCol, maxDf)
    }
    val sizes = sh.groupBy(col(idCol)).agg(count(lit(1)).as("sz"))
    val b = sh.filter(col(tagCol) === benchTag)
      .select(col(idCol).as("bench_id"), col("shingle"))
    val t = sh.filter(col(tagCol) =!= benchTag)
      .select(col(idCol).as("train_id"), col("shingle"))
    val inter = b.join(t, Seq("shingle"))
      .groupBy(col("bench_id"), col("train_id"))
      .agg(count(lit(1)).as("inter"))
    val scored = inter
      .join(sizes.select(col(idCol).as("bench_id"), col("sz").as("sz_b")),
        Seq("bench_id"))
      .join(sizes.select(col(idCol).as("train_id"), col("sz").as("sz_t")),
        Seq("train_id"))
      .withColumn("jaccard", round(
        col("inter").cast("double") / (col("sz_b") + col("sz_t") - col("inter")),
        6))
    val w = Window.partitionBy(col("bench_id"))
      .orderBy(col("jaccard").desc, col("train_id"))
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("bench_id"), col("train_id"), col("inter"), col("jaccard"))
  }

  /** Corpus self-similarity / diversity report: per-document
    * nearest-neighbor Jaccard (from the capped LSH pair mining — never
    * all-pairs) banded into deciles, plus an `isolated` band (-1) for
    * documents with NO neighbor above the floor — the corpus-level
    * diversity health check (a high share in top bands = redundancy the
    * sampler should down-weight; a high isolated share = diverse corpus).
    * Cost is one nearDuplicates run at the floor threshold plus two
    * doc-keyed aggregations. Band index = ⌊round(nn_sim × 10, 6)⌋ — the
    * inner round kills the float ULP that would put 0.7 in band 6.
    */
  def selfSimilarityBands(docs: DataFrame, idCol: String, textCol: String,
                          minJaccard: Double = 0.5, n: Int = 3,
                          maxDocFrequency: Option[Double] = Some(0.1)): DataFrame = {
    val pairs = nearDuplicates(docs, idCol, textCol, minJaccard, n = n,
      maxDocFrequency = maxDocFrequency)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("__j"))
    val sides = pairs.select(col("doc_a").as(idCol), col("__j"))
      .unionByName(pairs.select(col("doc_b").as(idCol), col("__j")))
    val nn = sides.groupBy(col(idCol)).agg(max(col("__j")).as("nn_sim"))
    val total = docs.agg(count(lit(1)).as("__n"))
    docs.select(col(idCol))
      .join(nn, Seq(idCol), "left")
      .withColumn("band",
        when(col("nn_sim").isNull, lit(-1))
          .otherwise(floor(round(col("nn_sim") * 10, 6)).cast("int")))
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_docs"),
        round(max(col("nn_sim")), 6).as("max_sim"))
      .crossJoin(broadcast(total))
      .select(col("band"), col("n_docs"),
        round(col("n_docs").cast("double") / col("__n"), 6).as("share"),
        col("max_sim"))
  }

  /** Connected components over a near-duplicate pair graph → one cluster id
    * (the minimum member) per document — the final dedup step: keep one doc
    * per cluster.
    *
    * Iterative min-label propagation WITH POINTER DOUBLING: each round
    * every node adopts min(own label, neighborhood labels, its label's
    * label). The neighbor step moves information one hop; the jump step
    * (label(label(v)) — labels are always node ids, so the label table
    * self-joins) doubles how far a minimum has effectively traveled, so
    * convergence is O(log₂ diameter) rounds instead of O(diameter) — the
    * difference between 17 rounds and 80,000 on a chain-shaped component
    * (spec-measured on a 100k-edge graph). Labels only decrease and only
    * ever take values of connected nodes, so the fixed point is exactly
    * the per-component minimum. Each round is two joins + one
    * aggregation; lineage is truncated per round via localCheckpoint so
    * the loop doesn't accumulate a mega-plan.
    */
  def clusters(pairs: DataFrame, maxIterations: Int = 20,
               driverPairLimit: Long = 2000000L): DataFrame =
    clustersWithRounds(pairs, maxIterations, driverPairLimit)._1

  /** [[clusters]] plus the number of propagation rounds the distributed
    * path used (0 on the driver-local fast path) — the spec hook behind
    * the log-convergence claim.
    */
  private[graft] def clustersWithRounds(
      pairs: DataFrame, maxIterations: Int = 20,
      driverPairLimit: Long = 2000000L): (DataFrame, Int) = {
    val p = OpCaches.scoped(
      pairs.select(col("doc_a").cast("long"), col("doc_b").cast("long")))
    // Small-graph fast path: the near-dup pair graph is orders of magnitude
    // smaller than the corpus; below the limit a driver-side union-find
    // replaces an iterative job sequence. Above it, distributed min-label
    // propagation (the scale path) takes over. The probe counts AT MOST
    // limit+1 rows (limit short-circuits the scan) — a full count() here
    // would pay one extra whole-graph action per dedup call at scale.
    // A limit above Int.MaxValue cannot be probed with limit() (and could
    // not be collect()ed either) — fall back to the full count there
    // rather than saturating the probe and misclassifying a huge graph.
    val probed =
      if (driverPairLimit < Int.MaxValue.toLong)
        p.limit(driverPairLimit.toInt + 1).count()
      else p.count()
    if (probed <= driverPairLimit) return (clustersLocal(p), 0)
    val edges = p.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionByName(p.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .distinct()
    OpCaches.scoped(edges)
    var labels = edges.select(col("src").as("doc_id")).distinct()
      .withColumn("cluster_id", col("doc_id"))
    var converged = false
    var i = 0
    while (!converged && i < maxIterations) {
      val neighborMin = edges
        .join(labels.withColumnRenamed("doc_id", "dst"), Seq("dst"))
        .groupBy(col("src").as("doc_id"))
        .agg(min(col("cluster_id")).as("neighbor_min"))
      // Materialized before the self-join below reads it twice.
      val oneHop = labels.join(neighborMin, Seq("doc_id"), "left")
        .select(col("doc_id"),
          least(col("cluster_id"), coalesce(col("neighbor_min"), col("cluster_id")))
            .as("cluster_id"))
        .localCheckpoint()
      // Pointer jump: follow the label's own label (cluster ids ARE node
      // ids, so the table self-joins) — doubles the hop radius a minimum
      // covers per round; this is what makes long chains log-round.
      val updated = oneHop
        .join(oneHop.select(col("doc_id").as("cluster_id"),
          col("cluster_id").as("__parent")), Seq("cluster_id"), "left")
        .select(col("doc_id"),
          least(col("cluster_id"), coalesce(col("__parent"), col("cluster_id")))
            .as("cluster_id"))
        .localCheckpoint()
      val changed = updated.alias("u")
        .join(labels.alias("l"), Seq("doc_id"))
        .filter(col("u.cluster_id") =!= col("l.cluster_id"))
        .limit(1).count() > 0
      labels = updated
      converged = !changed
      i += 1
    }
    // Partially-converged labels would silently split long chains into
    // several cluster ids and keep duplicates downstream — fail loudly
    // instead (raise maxIterations: rounds needed ≈ log₂(diameter)).
    if (!converged) throw new IllegalStateException(
      s"label propagation did not converge in $maxIterations rounds; " +
        "the pair graph has a component with a far longer diameter — " +
        "raise maxIterations")
    (labels, i)
  }

  /** The final dedup step: one SURVIVOR per near-dup cluster, chosen by a
    * score (e.g. quality) with id tie-break — "keep the best copy", not
    * "keep the first". Documents absent from the pair graph are their own
    * survivors. NO forced broadcast on the cluster-map join: web-scale
    * corpora put 20–50% of documents inside near-dup clusters, making the
    * map O(corpus); AQE still broadcasts it when it measures small, and
    * the join key is even and unskewed so the shuffle fallback is safe.
    */
  def survivors(docs: DataFrame, clusterMap: DataFrame, idCol: String,
                scoreCol: String): DataFrame = {
    val assigned = docs
      .join(clusterMap.withColumnRenamed("doc_id", idCol), Seq(idCol), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col(idCol)))
    assigned.groupBy(col("cluster_id"))
      .agg(min_by(col(idCol), struct((-col(scoreCol)).as("s"), col(idCol)))
        .as("survivor_id"),
        count(lit(1)).as("cluster_size"),
        max(col(scoreCol)).as("best_score"))
  }

  /** Driver-side union-find over a collected pair list (path compression +
    * union by root order, so every root is its component's minimum id).
    */
  private def clustersLocal(pairs: DataFrame): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val edges = pairs.as[(Long, Long)].collect()
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x
      while (parent.getOrElse(c, c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    parent.keys.toSeq.sorted.map(id => (id, find(id))).toDF("doc_id", "cluster_id")
  }

  /** SimHash signature (default 16 bits from the top of each token's md5).
    * Bit b is set when sum over tokens of ±1 (per-token bit b) is ≥ 0.
    * Token multiplicity counts, matching the classic definition.
    */
  /** Edit-distance near-dup pairs with BLOCKING: candidates are limited to
    * rows sharing a cheap block key (first token, phonetic code, length
    * bucket, …) before the quadratic-per-pair Levenshtein runs — the
    * classic blocking+verify shape for title/name dedup; never all-pairs.
    *
    * A hot block is quadratic no matter how cheap the per-pair check is
    * (a 20%-identical block key at 1M titles is 2×10¹⁰ candidate pairs),
    * so blocks larger than `maxBlockSize` are DROPPED from candidate
    * generation by default — the same lossy-by-design shape as the
    * hot-shingle df cap in [[shingleSets]]: a block key shared by
    * thousands of rows carries no discriminating signal (think titles
    * whose second token is "the"). Pass None to disable; the hot-block
    * list is tiny by construction, so the exclusion is one broadcast
    * anti-join.
    */
  def editDistancePairs(docs: DataFrame, idCol: String, textCol: String,
                        blockExpr: org.apache.spark.sql.Column,
                        maxDist: Int,
                        maxBlockSize: Option[Long] = Some(1000L)): DataFrame = {
    val p0 = docs.select(col(idCol), col(textCol), blockExpr.as("__blk"))
    val p = maxBlockSize match {
      case None => p0
      case Some(cap) =>
        // Cached: feeds both the block-size aggregation and the anti-join.
        val pc = OpCaches.scoped(p0)
        val hot = pc.groupBy(col("__blk")).agg(count(lit(1)).as("__bn"))
          .filter(col("__bn") > cap).select(col("__blk"))
        pc.join(broadcast(hot), Seq("__blk"), "left_anti")
    }
    val a = p.select(col(idCol).as("id_a"), col(textCol).as("__ta"), col("__blk"))
    val b = p.select(col(idCol).as("id_b"), col(textCol).as("__tb"), col("__blk"))
    a.join(b, Seq("__blk"))
      .filter(col("id_a") < col("id_b"))
      // Lossless pigeonhole pre-filter: distance ≥ |len(a) − len(b)|, so
      // length-distant pairs skip the quadratic DP entirely; the bounded
      // 3-arg levenshtein then caps DP work at O(maxDist·n) per survivor
      // (returns −1 above the threshold).
      .filter(abs(length(col("__ta")) - length(col("__tb"))) <= maxDist)
      .withColumn("dist", levenshtein(col("__ta"), col("__tb"), maxDist))
      .filter(col("dist") >= 0 && col("dist") <= maxDist)
      .select(col("id_a"), col("id_b"), col("dist"))
  }

  /** Prefix-duplicate pairs: documents sharing their first `k` tokens —
    * the truncation-duplicate phenomenon (same article cut at different
    * lengths republishes with an identical head). Blocking key = hash of
    * the k-token prefix, so candidates come from an equi-join on a
    * discriminating key, never the pair space; `is_prefix` then reports
    * whether one text is literally a prefix of the other (the true
    * truncation case) vs merely sharing the head.
    *
    * Scale: same lossy-by-design hot-key cap as the shingle-df /
    * edit-block caps — prefix groups larger than `maxGroupSize` are
    * boilerplate heads (site templates), not duplicates, and are dropped
    * from candidate generation by default.
    */
  def prefixPairs(docs: DataFrame, idCol: String, textCol: String,
                  k: Int = 16,
                  maxGroupSize: Option[Int] = Some(10)): DataFrame = {
    require(k > 0, "prefix length must be positive")
    val pref = docs
      .select(col(idCol), col(textCol).as("__t"), words(col(textCol)).as("__ws"))
      .filter(size(col("__ws")) >= k)
      .withColumn("__ph", md5(concat_ws(" ", slice(col("__ws"), 1, k))))
      .select(col(idCol), col("__t"), col("__ph"))
    val blocked = maxGroupSize match {
      case Some(cap) =>
        val hot = pref.groupBy(col("__ph")).agg(count(lit(1)).as("__c"))
          .filter(col("__c") > cap).select(col("__ph"))
        pref.join(broadcast(hot), Seq("__ph"), "left_anti")
      case None => pref
    }
    val a = blocked.select(col("__ph"), col(idCol).as("id_a"), col("__t").as("__ta"))
    val b = blocked.select(col("__ph"), col(idCol).as("id_b"), col("__t").as("__tb"))
    a.join(b, Seq("__ph"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("is_prefix", // null texts can't reach here (words>=k filter)
        expr("substring(__ta, 1, length(__tb)) = __tb") ||
          expr("substring(__tb, 1, length(__ta)) = __ta"))
      .select(col("id_a"), col("id_b"), col("is_prefix"))
  }

  /** SimHash near-dup pairs with Hamming distance ≤ `maxHamming`, at scale
    * via pigeonhole banding: the b-bit signature splits into maxHamming+1
    * chunks — a pair within distance k can dirty at most k chunks, so it
    * must agree EXACTLY on at least one. Candidates therefore come from an
    * equi-join on (chunk index, chunk value) — never the O(N²) pair
    * space — and exact xor+bit_count verification filters them. The gate's
    * DuckDB oracle computes the brute-force all-pairs answer, so a green
    * gate also proves the banding is lossless (pigeonhole completeness).
    */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
                   bits: Int = 16, maxHamming: Int = 2): DataFrame = {
    val nChunks = maxHamming + 1
    val w = (bits + nChunks - 1) / nChunks // ceil; last chunk may be narrower
    val sig = OpCaches.scoped(simhash(docs, idCol, textCol, bits))
    val chunkArr = array((0 until nChunks).map { i =>
      val lo = i * w
      val width = math.min(w, bits - lo)
      struct(lit(i).as("ci"),
        shiftright(col("simhash"), lo).bitwiseAND(lit((1L << width) - 1)).as("cv"))
    }: _*)
    val chunks = sig.select(col(idCol), col("simhash"), explode(chunkArr).as("c"))
      .select(col(idCol), col("simhash"), col("c.ci").as("ci"), col("c.cv").as("cv"))
    val a = chunks.select(col(idCol).as("doc_a"), col("simhash").as("__sa"),
      col("ci"), col("cv"))
    val b = chunks.select(col(idCol).as("doc_b"), col("simhash").as("__sb"),
      col("ci"), col("cv"))
    a.join(b, Seq("ci", "cv"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("__sa").bitwiseXOR(col("__sb"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  def simhash(docs: DataFrame, idCol: String, textCol: String, bits: Int = 16): DataFrame =
    docs.select(col(idCol), explode(words(col(textCol))).as("w"))
      .select(col(idCol), wordCode16(col("w")).as("h"))
      .select(col(idCol), col("h"),
        explode(sequence(lit(0), lit(bits - 1))).as("b"))
      .withColumn("bit", expr("shiftright(h, CAST(b AS INT)) & 1"))
      .groupBy(col(idCol), col("b"))
      .agg(sum(col("bit") * 2 - 1).as("s"))
      .groupBy(col(idCol))
      .agg(sum(when(col("s") >= 0, expr("CAST(pow(2, b) AS BIGINT)")).otherwise(0L))
        .as("simhash"))

  /** Near-dup pairs by cosine over [[TextAnalysis.hashEmbeddingSparse]]
    * integer vectors: dot products and squared norms are exact integer
    * sums (portable to any engine), only the final division is floating —
    * which is what lets a hash-value oracle verify a *semantic* dedup op
    * end to end. This is the EXACT baseline: candidate pairs share at
    * least one hash bucket, and with dim ≈ 64 most doc pairs do, so the
    * bucket join degenerates toward all-pairs on a large corpus. At scale,
    * route [[TextAnalysis.hashEmbedding]]'s dense vectors through the ANN
    * stack (LSH buckets or IVF, `Similarity`) and keep this op for
    * verification cohorts and gate oracles.
    *
    * `maxBucketSize` is the same lossy-by-design occupancy cap as the
    * hot-shingle df cap and the edit-distance hot-block cap: buckets
    * holding more than `maxBucketSize` docs are dropped from CANDIDATE
    * GENERATION ONLY — a dimension most of the corpus collides in carries
    * no discriminating signal, and one hot bucket is quadratic no matter
    * how cheap the verify step is. Candidate volume is thereby bounded at
    * dim × cap² pairs REGARDLESS of corpus size. Crucially the cap never
    * touches the verify arithmetic: surviving pairs get their dot product
    * over ALL buckets (hot ones included), so every emitted cosine is
    * exact; the only loss is recall on pairs whose every shared bucket is
    * hot. Pass None for the historical fused all-bucket join (candidate
    * set identical when no bucket exceeds the cap).
    */
  def hashCosinePairs(sparse: DataFrame, idCol: String,
                      minCos: Double,
                      maxBucketSize: Option[Long] = Some(1000L)): DataFrame = {
    val sp = OpCaches.scoped(
      sparse.select(col(idCol), col("bucket"), col("weight")))
    val dot = maxBucketSize match {
      case None =>
        // Fused shape: the bucket join IS the dot product.
        val a = sp.select(col(idCol).as("doc_a"), col("bucket"),
          col("weight").as("__wa"))
        val b = sp.select(col(idCol).as("doc_b"), col("bucket"),
          col("weight").as("__wb"))
        a.join(b, Seq("bucket"))
          .filter(col("doc_a") < col("doc_b"))
          .groupBy(col("doc_a"), col("doc_b"))
          .agg(sum(col("__wa") * col("__wb")).as("dot"))
      case Some(cap) =>
        // Two-phase, with the cold side FUSED: the cold-bucket join yields
        // the candidate pairs AND their cold partial dot in one shuffle
        // (same volume as candidate generation alone — the naive shape,
        // re-joining candidates against the full exploded table, shipped
        // |pairs|×dim rows and measured ~2× the fused path's runtime).
        // Survivors then get a hot-bucket CORRECTION join restricted to
        // hot rows (per pair, only the few hot buckets its docs occupy),
        // so dot = Σ_cold + Σ_hot is exact over ALL buckets — the cap
        // bounds candidate work, never the arithmetic. Hot list ≤ dim
        // rows: broadcast.
        val hot = sp.groupBy(col("bucket")).agg(count(lit(1)).as("__bn"))
          .filter(col("__bn") > cap).select(col("bucket"))
        val cold = sp.join(broadcast(hot), Seq("bucket"), "left_anti")
        val hotRows = sp.join(broadcast(hot), Seq("bucket"), "left_semi")
        val coldDot = OpCaches.scoped(
          cold.select(col(idCol).as("doc_a"), col("bucket"),
            col("weight").as("__wa"))
            .join(cold.select(col(idCol).as("doc_b"), col("bucket"),
              col("weight").as("__wb")), Seq("bucket"))
            .filter(col("doc_a") < col("doc_b"))
            .groupBy(col("doc_a"), col("doc_b"))
            .agg(sum(col("__wa") * col("__wb")).as("__dcold")))
        val hotDot = coldDot.select(col("doc_a"), col("doc_b"))
          .join(hotRows.select(col(idCol).as("doc_a"), col("bucket"),
            col("weight").as("__wa")), Seq("doc_a"))
          .join(hotRows.select(col(idCol).as("doc_b"), col("bucket"),
            col("weight").as("__wb")), Seq("doc_b", "bucket"))
          .groupBy(col("doc_a"), col("doc_b"))
          .agg(sum(col("__wa") * col("__wb")).as("__dhot"))
        coldDot.join(hotDot, Seq("doc_a", "doc_b"), "left")
          .select(col("doc_a"), col("doc_b"),
            (col("__dcold") + coalesce(col("__dhot"), lit(0L))).as("dot"))
    }
    val norms = sp.groupBy(col(idCol))
      .agg(sum(col("weight") * col("weight")).as("__nsq"))
    dot
      .join(norms.select(col(idCol).as("doc_a"), col("__nsq").as("__na")),
        Seq("doc_a"))
      .join(norms.select(col(idCol).as("doc_b"), col("__nsq").as("__nb")),
        Seq("doc_b"))
      .withColumn("cos", round(col("dot").cast("double") /
        (sqrt(col("__na").cast("double")) * sqrt(col("__nb").cast("double"))), 6))
      .filter(col("cos") >= minCos)
      .select(col("doc_a"), col("doc_b"), col("dot"), col("cos"))
  }

  /** Corpus snapshot diff: classify every document across two corpus
    * versions as added / removed / changed / unchanged — the audit step
    * between ingest runs of a continuously-refreshed training corpus
    * (what did the crawler add, what churned, what silently mutated).
    *
    * Both sides reduce to (id, sha256(text)) MAP-SIDE before the join, so
    * the full-outer shuffle carries two narrow columns, never document
    * bodies — at 100 TB the exchanged bytes are ~1% of the corpus. The
    * id key is even and unskewed; AQE is free to broadcast a genuinely
    * small side (e.g. a daily delta against a full snapshot).
    */
  def snapshotDiff(oldSnap: DataFrame, newSnap: DataFrame,
                   idCol: String, textCol: String): DataFrame = {
    def fp(df: DataFrame, tag: String): DataFrame =
      df.select(col(idCol), sha2(col(textCol).cast("binary"), 256).as(tag))
    fp(oldSnap, "__old_fp")
      .join(fp(newSnap, "__new_fp"), Seq(idCol), "full_outer")
      .select(col(idCol),
        when(col("__old_fp").isNull, "added")
          .when(col("__new_fp").isNull, "removed")
          .when(col("__old_fp") === col("__new_fp"), "unchanged")
          .otherwise("changed").as("status"))
  }
}
