package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{EmbeddingEval, Similarity}
import graft.sources.Tables

/** Similarity-search queries over the `embeddings` table (64-dim float
  * vectors): exact brute-force cosine top-k as the baseline and
  * hyperplane-LSH-bucketed top-k as the scale path.
  *
  * Cross-engine determinism: all reductions are sequential left folds in
  * double precision; ranking uses cosine rounded to 6 decimals with id
  * tie-break (see VectorFunctions / Similarity scaladoc).
  */
object SimilarityQueries {

  type Q = (SparkSession, String) => DataFrame

  private val Planes = 4
  // AND-OR multi-table miner sizings: the test-scale config (occupancy
  // comfortable at sf0.01–0.1) and the production config SCALE.md derives
  // for sf1+ (P ≈ log₂(n/targetBucketSize) ≈ 10, T = 3 for the recall
  // target). Both gated; ann_recall_lsh_mt pins recall at the latter.
  private val MtPlanes = 6
  private val MtTables = 2
  private val MtProdPlanes = 10
  private val MtProdTables = 3
  private val QueryPred = "vec_id < 10"

  /** Fit-once artifact memo for [[defs]]' `ann_ivfpq_probe_only`:
    * (coarse IVF, PQ codebook, code-store path) per sf dir, so repeated
    * invocations (Bench warm-up then timed runs) pay the k-means fits and
    * the store write exactly once and the timed runs measure SERVING.
    */
  private val probeOnlyArtifacts = new java.util.concurrent.ConcurrentHashMap[
    String, (Similarity.IvfIndex, Similarity.PqIndex, String)]()

  // DuckDB: sequential-fold dot product of two list columns in double.
  private[queries] def dotSql(a: String, b: String): String =
    s"list_sum(list_transform(range(len($a)), i -> CAST($a[i+1] AS DOUBLE) * CAST($b[i+1] AS DOUBLE)))"

  // Shared IVF oracle CTE chain: centroids → query assignment to the
  // nprobe nearest centroids → candidate scoring within probed clusters.
  private def ivfCtes(nprobe: Int): String =
    s"""comp AS (SELECT label, generate_subscripts(embedding, 1) AS pos,
       |    unnest(embedding) AS v FROM embeddings),
       |cent AS (SELECT label, list(cr ORDER BY pos) AS centroid
       |  FROM (SELECT label, pos, round(avg(CAST(v AS DOUBLE)), 6) AS cr
       |        FROM comp GROUP BY 1, 2)
       |  GROUP BY label),
       |q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE $QueryPred),
       |qa AS (SELECT query_id, qv, label,
       |  round(${dotSql("qv", "centroid")} /
       |    (sqrt(${dotSql("qv", "qv")}) * sqrt(${dotSql("centroid", "centroid")})), 6) AS ccos
       |  FROM q, cent),
       |assigned AS (SELECT query_id, qv, label AS cluster FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY ccos DESC, label) AS rn FROM qa) WHERE rn <= $nprobe),
       |scored AS (SELECT query_id, cluster, e.vec_id AS cand_id,
       |  round(${dotSql("qv", "e.embedding")} /
       |    (sqrt(${dotSql("qv", "qv")}) * sqrt(${dotSql("e.embedding", "e.embedding")})), 6) AS cosine
       |  FROM assigned JOIN embeddings e
       |    ON e.label = assigned.cluster AND e.vec_id <> assigned.query_id)""".stripMargin

  // Spherical-k-means oracle pieces (mirror Similarity.kmeansFit):
  // top-`n` argmax-cosine assignment against a centroid table.
  private def kmAssignCte(name: String, centTable: String, n: Int = 1,
                          src: String = "embeddings") =
    s"""$name AS (SELECT vec_id, label FROM (
       |  SELECT e.vec_id, c.label, row_number() OVER (PARTITION BY e.vec_id
       |    ORDER BY round(${dotSql("e.embedding", "c.c")} /
       |      nullif(sqrt(${dotSql("e.embedding", "e.embedding")}) *
       |             sqrt(${dotSql("c.c", "c.c")}), 0), 6) DESC, c.label) AS rn
       |  FROM $src e, $centTable c) WHERE rn <= $n)""".stripMargin

  // CTE chain: smallest-md5 seeding (cent0) + `iters` unrolled Lloyd
  // rounds ending at cent$iters.
  private def kmeansCtes(k: Int, iters: Int,
                         src: String = "embeddings"): String = {
    def centCte(name: String, assignTable: String) =
      s"""$name AS MATERIALIZED (SELECT label, list(cr ORDER BY pos) AS c FROM (
         |  SELECT label, pos, round(avg(CAST(v AS DOUBLE)), 6) AS cr FROM (
         |    SELECT a.label, generate_subscripts(e.embedding, 1) AS pos,
         |      unnest(e.embedding) AS v
         |    FROM $src e JOIN $assignTable a USING (vec_id))
         |  GROUP BY 1, 2) GROUP BY label)""".stripMargin
    val chain = (1 to iters).map { i =>
      kmAssignCte(s"a$i", s"cent${i - 1}", src = src) + ",\n" +
        centCte(s"cent$i", s"a$i")
    }.mkString(",\n")
    s"""s0 AS (SELECT vec_id, embedding,
       |    ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT AS h
       |  FROM $src),
       |cent0 AS (SELECT CAST(rn - 1 AS INTEGER) AS label,
       |    list_transform(embedding, e -> round(CAST(e AS DOUBLE), 6)) AS c
       |  FROM (SELECT embedding, row_number() OVER (ORDER BY h, vec_id) AS rn
       |        FROM s0) WHERE rn <= $k),
       |$chain""".stripMargin
  }

  // Oracle for the deterministic spherical k-means fit + assignment.
  private def kmeansAssignSql(k: Int, iters: Int): String =
    s"""WITH ${kmeansCtes(k, iters)},
       |${kmAssignCte("afinal", s"cent$iters")}
       |SELECT vec_id, CAST(label AS INTEGER) AS cluster FROM afinal""".stripMargin

  // DuckDB: sequential-fold squared-L2 distance (mirrors VectorFunctions
  // .l2sqD's evaluation order exactly).
  private def l2Sql(a: String, b: String): String =
    s"""list_sum(list_transform(range(len($a)), i ->
       |  (CAST($a[i+1] AS DOUBLE) - CAST($b[i+1] AS DOUBLE)) *
       |  (CAST($a[i+1] AS DOUBLE) - CAST($b[i+1] AS DOUBLE))))""".stripMargin

  // Shared PQ oracle CTE chain mirroring Similarity.pqFit/pqEncode: per
  // subspace s — subvector slice, smallest-md5 seeding, `iters` unrolled
  // Euclidean Lloyd rounds (rounded-L2 argmin assignment with label
  // tie-break, 6-dp rounded per-(label,pos) mean update), then a final
  // assignment f{s} that keeps the chosen code AND its d2 (the
  // reconstruction contribution).
  private def pqCtes(m: Int, k: Int, iters: Int, dims: Int): String = {
    val subDim = dims / m
    def subChain(s: Int): String = {
      val lo = s * subDim + 1
      val hi = (s + 1) * subDim
      def assignCte(name: String, centTable: String, keepD2: Boolean) = {
        val d2Col = if (keepD2) ", d2" else ""
        s"""$name AS MATERIALIZED (SELECT vec_id, label$d2Col FROM (
           |  SELECT e.vec_id, c.label, round(${l2Sql("e.v", "c.c")}, 6) AS d2,
           |    row_number() OVER (PARTITION BY e.vec_id
           |      ORDER BY round(${l2Sql("e.v", "c.c")}, 6), c.label) AS rn
           |  FROM sub$s e, $centTable c) WHERE rn = 1)""".stripMargin
      }
      def centCte(name: String, assignTable: String) =
        s"""$name AS MATERIALIZED (SELECT label, list(cr ORDER BY pos) AS c FROM (
           |  SELECT label, pos, round(avg(vv), 6) AS cr FROM (
           |    SELECT a.label, generate_subscripts(e.v, 1) AS pos, unnest(e.v) AS vv
           |    FROM sub$s e JOIN $assignTable a USING (vec_id))
           |  GROUP BY 1, 2) GROUP BY label)""".stripMargin
      val iterChain = (1 to iters).map { i =>
        assignCte(s"a${s}_$i", s"cent${s}_${i - 1}", keepD2 = false) + ",\n" +
          centCte(s"cent${s}_$i", s"a${s}_$i")
      }.mkString(",\n")
      s"""sub$s AS MATERIALIZED (SELECT vec_id, h,
         |  list_transform(embedding[$lo:$hi], e -> CAST(e AS DOUBLE)) AS v FROM s0),
         |cent${s}_0 AS MATERIALIZED (SELECT CAST(rn - 1 AS INTEGER) AS label,
         |    list_transform(v, e -> round(e, 6)) AS c
         |  FROM (SELECT v, row_number() OVER (ORDER BY h, vec_id) AS rn FROM sub$s)
         |  WHERE rn <= $k),
         |$iterChain,
         |${assignCte(s"f$s", s"cent${s}_$iters", keepD2 = true)}""".stripMargin
    }
    s"""s0 AS MATERIALIZED (SELECT vec_id, embedding,
       |    ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT AS h
       |  FROM embeddings),
       |${(0 until m).map(subChain).mkString(",\n")}""".stripMargin
  }

  // Oracle for Similarity.pqAdcKnn at arbitrary m: per-subspace query
  // distance tables (qd{s}) joined to the stored codes (f{s}) by label —
  // relational form of the engine's dense element_at lookup.
  private def pqAdcSql(m: Int, k: Int, iters: Int, dims: Int,
                       knn: Int): String = {
    val subDim = dims / m
    val qctes = (0 until m).map { s =>
      val lo = s * subDim + 1; val hi = (s + 1) * subDim
      s"""q$s AS MATERIALIZED (SELECT vec_id AS query_id,
         |  list_transform(embedding[$lo:$hi], e -> CAST(e AS DOUBLE)) AS qv
         |  FROM embeddings WHERE $QueryPred),
         |qd$s AS MATERIALIZED (SELECT query_id, c.label, round(${l2Sql("qv", "c.c")}, 6) AS d2
         |  FROM q$s, cent${s}_$iters c)""".stripMargin
    }.mkString(",\n")
    val fJoins = (1 until m).map(s => s"JOIN f$s USING (vec_id)").mkString(" ")
    val qJoins = (0 until m).map {
      case 0 => "JOIN qd0 q0 ON q0.label = f0.label"
      case s => s"JOIN qd$s q$s ON q$s.label = f$s.label AND q$s.query_id = q0.query_id"
    }.mkString("\n  ")
    val dsum = (0 until m).map(s => s"q$s.d2").mkString(" + ")
    s"""WITH ${pqCtes(m, k, iters, dims)},
       |$qctes,
       |adc AS (SELECT q0.query_id, f0.vec_id AS cand_id,
       |    round($dsum, 6) AS adc_d2
       |  FROM f0 $fJoins
       |  $qJoins
       |  WHERE f0.vec_id <> q0.query_id)
       |SELECT query_id, cand_id, adc_d2, CAST(rn AS INTEGER) AS rn FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY adc_d2, cand_id) AS rn FROM adc)
       |WHERE rn <= $knn""".stripMargin
  }

  // Oracle for Similarity.ivfPqKnn at arbitrary m: coarse IVF probe
  // (ivfCtes' `assigned`) restricting the candidate set, then the same
  // label-join ADC scoring as pqAdcSql.
  private def ivfPqSql(m: Int, k: Int, iters: Int, dims: Int, knn: Int,
                       nprobe: Int): String = {
    val subDim = dims / m
    val qctes = (0 until m).map { s =>
      val lo = s * subDim + 1; val hi = (s + 1) * subDim
      s"""pq$s AS (SELECT vec_id AS query_id,
         |  list_transform(embedding[$lo:$hi], e -> CAST(e AS DOUBLE)) AS qv
         |  FROM embeddings WHERE $QueryPred),
         |pqd$s AS MATERIALIZED (SELECT query_id, c.label,
         |  round(${l2Sql("qv", "c.c")}, 6) AS d2
         |  FROM pq$s, cent${s}_$iters c)""".stripMargin
    }.mkString(",\n")
    val fJoins = (0 until m).map(s => s"JOIN f$s ON f$s.vec_id = e.vec_id")
      .mkString("\n  ")
    val qJoins = (0 until m).map(s =>
      s"JOIN pqd$s q$s ON q$s.query_id = a.query_id AND q$s.label = f$s.label")
      .mkString("\n  ")
    val dsum = (0 until m).map(s => s"q$s.d2").mkString(" + ")
    s"""WITH ${pqCtes(m, k, iters, dims)},
       |${ivfCtes(nprobe)},
       |$qctes,
       |adc AS (SELECT a.query_id, e.label AS cluster, e.vec_id AS cand_id,
       |    round($dsum, 6) AS adc_d2
       |  FROM assigned a
       |  JOIN embeddings e ON e.label = a.cluster AND e.vec_id <> a.query_id
       |  $fJoins
       |  $qJoins)
       |SELECT query_id, cluster, cand_id, adc_d2, CAST(rn AS INTEGER) AS rn
       |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY adc_d2, cand_id) AS rn FROM adc)
       |WHERE rn <= $knn""".stripMargin
  }

  private def lshBucketSql(v: String): String = lshBucketSqlAt(v, Planes, 0)

  // Bucket from the GLOBAL plane stream starting at `offset` (mirrors
  // VectorFunctions.lshBucketAt: table t of an AND-OR construction hashes
  // planes [t·P, (t+1)·P)).
  private def lshBucketSqlAt(v: String, planes: Int, offset: Int): String =
    s"""CAST(list_sum(list_transform(range($planes), p ->
       |  CASE WHEN list_sum(list_transform(range(len($v)), j ->
       |    (('0x' || substr(md5(CAST(p + $offset AS VARCHAR) || '_' || CAST(j AS VARCHAR)), 1, 4))::BIGINT
       |      - 32768) * CAST($v[j+1] AS DOUBLE))) >= 0
       |  THEN CAST(power(2, p) AS BIGINT) ELSE 0 END)) AS BIGINT)""".stripMargin

  // AND-OR multi-table LSH pair-mining CTE chain mirroring
  // Similarity.cosinePairsMultiTable — per-table signatures from the
  // global plane stream, DISTINCT bucket collisions, exact-cosine verify
  // with the engine's nullif zero-norm guard (a zero-norm embedding drops
  // the pair in both engines rather than comparing NaN ≥ threshold in
  // DuckDB only). One definition serves every gate that routes through
  // the miner, so engine and oracle defaults cannot drift (the r6
  // cap-parity lesson). Ends at CTE `mtpairs(id_a, id_b, cosine)`.
  private def mtPairsCtes(planes: Int, tables: Int,
                          threshold: Double): String = {
    val sigs = (0 until tables).map { t =>
      s"""SELECT vec_id, $t AS tbl,
         |  ${lshBucketSqlAt("embedding", planes, t * planes)} AS bucket
         |  FROM embeddings""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""msig AS ($sigs),
       |mcand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
       |  FROM msig a JOIN msig b ON a.tbl = b.tbl AND a.bucket = b.bucket
       |    AND a.vec_id < b.vec_id),
       |mtpairs AS (SELECT id_a, id_b, cosine FROM (
       |  SELECT id_a, id_b,
       |    round(${dotSql("ea.embedding", "eb.embedding")} /
       |      nullif(sqrt(${dotSql("ea.embedding", "ea.embedding")}) *
       |        sqrt(${dotSql("eb.embedding", "eb.embedding")}), 0), 6) AS cosine
       |  FROM mcand
       |  JOIN embeddings ea ON ea.vec_id = mcand.id_a
       |  JOIN embeddings eb ON eb.vec_id = mcand.id_b)
       |  WHERE cosine >= $threshold)""".stripMargin
  }

  def defs: Map[String, Q] = Map(
    "knn_cosine_bruteforce" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      Similarity.bruteForceKnn(emb, emb.filter(expr(QueryPred)), "vec_id", "embedding", k = 5)
    },

    "ann_lsh_bucketed" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      Similarity.lshKnn(emb, emb.filter(expr(QueryPred)), "vec_id", "embedding",
        k = 3, planes = Planes, dims = 64)
    },

    // Hybrid retrieval: reciprocal-rank fusion of a lexical BM25 top-50
    // and a semantic cosine top-50 for one probe — rank-space fusion
    // needs no score calibration between modalities. Both inputs are
    // top-N lists by construction, so the fused union is 100 rows here
    // and rankers × N × |queries| in general — never corpus-sized.
    "retrieval_rrf_hybrid" -> { (s, dir) =>
      val lex = graft.ops.TextAnalysis.bm25(Tables.documents(s, dir),
          "doc_id", "text", terms = Seq("spark", "join", "query"), k = 50)
        .withColumn("rank", row_number().over(org.apache.spark.sql
          .expressions.Window.orderBy(col("bm25").desc, col("doc_id"))))
        .select(col("doc_id"), col("rank"))
      val emb = Tables.embeddings(s, dir)
      val sem = Similarity.bruteForceKnn(emb, emb.filter(col("vec_id") === 0),
          "vec_id", "embedding", k = 50)
        .select(col("cand_id").as("doc_id"), col("rn").as("rank"))
      Similarity.rrfFuse(Seq("bm25" -> lex, "cosine" -> sem), "doc_id", k = 20)
    },

    // L274: truncated rank-biased overlap between the same two
    // rankings RRF fuses — SCORES the lexical↔semantic agreement
    // (p = 0.5 keeps the weight powers dyadic-exact on any engine).
    "retrieval_rbo" -> { (s, dir) =>
      val lex = graft.ops.TextAnalysis.bm25(Tables.documents(s, dir),
          "doc_id", "text", terms = Seq("spark", "join", "query"), k = 50)
        .withColumn("rank", row_number().over(org.apache.spark.sql
          .expressions.Window.orderBy(col("bm25").desc, col("doc_id"))))
        .select(col("doc_id"), col("rank"))
      val emb = Tables.embeddings(s, dir)
      val sem = Similarity.bruteForceKnn(emb, emb.filter(col("vec_id") === 0),
          "vec_id", "embedding", k = 50)
        .select(col("cand_id").as("doc_id"), col("rn").as("rank"))
      Similarity.rboOverlap(lex, sem, "doc_id", p = 0.5, k = 20)
    },

    // L275: diagonal whitening — gate compares the exploded
    // (vec_id, dim, w) cells so the oracle never hashes arrays.
    "embedding_whiten" -> { (s, dir) =>
      Similarity.whitenDiagonal(Tables.embeddings(s, dir), "vec_id",
          "embedding")
        .select(col("vec_id"), posexplode(col("whitened")).as(Seq("dim", "w")))
    },

    "embedding_norm_stats" -> { (s, dir) =>
      Similarity.normStats(Tables.embeddings(s, dir), "label", "embedding")
    },

    // Hybrid dedup: a pair mined by EITHER modality — lexical (capped-
    // shingle MinHash→verify) or semantic (LSH-bucketed embedding
    // cosine) — tagged by which caught it. The two pair miners share no
    // work but compose into one relational union; ids align across the
    // documents/embeddings tables by construction of the testdata.
    "dedup_hybrid_pairs" -> { (s, dir) =>
      val lex = graft.ops.Dedup.nearDuplicates(Tables.documents(s, dir),
          "doc_id", "text", minJaccard = 0.8)
        .select(col("doc_a"), col("doc_b"), lit(1).as("lex"), lit(0).as("sem"))
      // Semantic branch routes through the AND-OR multi-table miner — the
      // single-table miner's fixed 2^planes buckets measured 46× runtime
      // at 10× rows (SCALE.md); bounded occupancy is the composed-path
      // default, not an opt-in.
      val sem = Similarity.cosinePairsMultiTable(Tables.embeddings(s, dir),
          "vec_id", "embedding", threshold = 0.3, planes = MtPlanes,
          tables = MtTables, dims = 64)
        .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"),
          lit(0).as("lex"), lit(1).as("sem"))
      lex.unionByName(sem).groupBy(col("doc_a"), col("doc_b"))
        .agg(max(col("lex")).as("l"), max(col("sem")).as("s"))
        .select(col("doc_a"), col("doc_b"),
          when(col("l") === 1 && col("s") === 1, "both")
            .when(col("l") === 1, "lexical").otherwise("semantic").as("modality"))
    },

    // Text → ANN compose: hash-trick embedding (raw integer weights —
    // cosine is scale-invariant, and exact integer components keep the
    // whole downstream pipeline oracle-verifiable) → deterministic
    // spherical k-means → map-side IVF assignment. Proves the model-free
    // text→vector bridge (L130) feeds the ANN stack end to end.
    "ann_text_ivf" -> { (s, dir) =>
      // Cached: the derived embedding feeds each Lloyd-round action of the
      // fit plus the final assignment — uncached, the tokenize+hash chain
      // would re-execute per action (same lesson as the funnel report).
      val emb = graft.ops.OpCaches.scoped(graft.ops.TextAnalysis.hashEmbedding(
          Tables.documents(s, dir), "doc_id", "text", dim = 64,
          normalize = false)
        .withColumnRenamed("doc_id", "vec_id"))
      val idx = Similarity.kmeansFit(emb, "vec_id", "embedding", k = 5, iters = 2)
      Similarity.ivfAssign(emb, "vec_id", "embedding", idx)
    },

    // Per-source topic mix: k-means cluster shares of each document source
    // — the curation dashboard row that answers "what is source X actually
    // made of?". Assignment is map-side (broadcast centroids); the only
    // exchanges are the doc_id equi-join and the (source, cluster) agg.
    "corpus_topic_mix" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val idx = Similarity.kmeansFit(emb, "vec_id", "embedding", k = 5, iters = 2)
      val assign = Similarity.ivfAssign(emb, "vec_id", "embedding", idx)
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("source"))
      val mixed = docs.join(assign, docs("doc_id") === assign("vec_id"))
        .groupBy(col("source"), col("cluster"))
        .agg(count(lit(1)).as("n_docs"))
      val totals = mixed.groupBy(col("source")).agg(sum(col("n_docs")).as("__t"))
      mixed.join(broadcast(totals), Seq("source"))
        .select(col("source"), col("cluster"), col("n_docs"),
          round(col("n_docs") / col("__t"), 6).as("share"))
    },

    // Embedding-space drift monitor: per-label mean-vector cosine against
    // the global mean (the semantic counterpart of text_source_kl).
    "embedding_source_drift" -> { (s, dir) =>
      Similarity.sourceDrift(Tables.embeddings(s, dir), "label", "embedding")
    },

    // Per-dimension embedding QA: dead dims, scale drift, saturation —
    // the table-health check run before (re)building ANN indexes.
    "embedding_dim_stats" -> { (s, dir) =>
      Similarity.dimStats(Tables.embeddings(s, dir), "embedding")
    },

    // L240: top principal component via matrix-free power iteration —
    // nothing d×d materializes; per-round state is d quantized loadings.
    "ml_pca_top_component" -> { (s, dir) =>
      Similarity.pcaTopComponent(Tables.embeddings(s, dir), "vec_id",
        "embedding", iterations = 3)
    },

    // Deterministic spherical k-means (k=5, 2 Lloyd rounds) + map-side
    // assignment — IVF without a precomputed cluster column.
    "ivf_kmeans_assign" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val idx = Similarity.kmeansFit(emb, "vec_id", "embedding", k = 5, iters = 2)
      Similarity.ivfAssign(emb, "vec_id", "embedding", idx)
    },

    // Position-weighted ANN quality (MRR + NDCG@3) of IVF nprobe=1 vs
    // brute-force truth — the eval harness beyond recall.
    "ann_rank_metrics" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val queries = emb.filter(expr(QueryPred))
      val truth = Similarity.bruteForceKnn(emb, queries, "vec_id", "embedding", k = 3)
      val idx = Similarity.ivfFit(emb, "label", "embedding")
      val ann = Similarity.ivfKnn(emb, queries, "vec_id", "embedding",
        clusterCol = "label", k = 3, nprobe = 1, index = Some(idx))
      Similarity.rankingMetrics(ann, truth, k = 3)
    },

    // kNN over the QUANTIZED corpus (scales cancel in cosine, so the
    // score is integer-exact until one division) — the proof the int8
    // lever still searches.
    "ann_quantized_knn" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      Similarity.bruteForceKnnQuantized(emb, emb.filter(expr(QueryPred)),
        "vec_id", "embedding", k = 3)
    },

    // Per-vector int8 quantization (the 4× memory lever for a 100 TB
    // embedding store); q serialized as CSV so the compare is
    // list-representation-agnostic.
    "embedding_quantize" -> { (s, dir) =>
      Similarity.quantizeInt8(Tables.embeddings(s, dir), "vec_id", "embedding")
        .select(col("vec_id"), col("scale_e9"),
          concat_ws(",", transform(col("q"), _.cast("string"))).as("q_csv"),
          col("max_err_e6"))
    },

    // Product quantization (m=4 × k=4, 2 Lloyd rounds): per-vector codes +
    // reconstruction error — the m-bytes-per-vector memory lever past int8.
    "pq_encode" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val idx = Similarity.pqFit(emb, "vec_id", "embedding", m = 4, k = 4,
        iters = 2)
      Similarity.pqEncode(emb, "vec_id", "embedding", idx)
        .select(col("vec_id"),
          concat_ws(",", transform(col("codes"), _.cast("string")))
            .as("codes_csv"),
          col("recon_d2"))
    },

    // ADC kNN over the PQ codes: each candidate scores with m element_at
    // lookups into dense per-query distance tables instead of d float
    // ops. m=8 × k=256 is the PQ-STANDARD configuration (one byte per
    // subspace) — the dense-table scoring path is exercised at the real
    // codebook size, not a toy one.
    "ann_pq_adc" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val idx = Similarity.pqFit(emb, "vec_id", "embedding", m = 8, k = 256,
        iters = 2)
      Similarity.pqAdcKnn(emb, emb.filter(expr(QueryPred)), "vec_id",
        "embedding", k = 3, index = idx)
    },

    // Hard-negative mining: top-3 nearest below the near-dup band
    // (cosine < 0.9) — contrastive-training negatives with duplicates
    // excluded BEFORE ranking.
    "ann_hard_negatives" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      Similarity.hardNegatives(emb, emb.filter(expr(QueryPred)), "vec_id",
        "embedding", k = 3, dupThreshold = 0.9)
    },

    // SemDeDup-style semantic dedup: k-means co-membership candidates
    // (top-2 multi-assignment) + exact cosine verify — data-adaptive
    // partitions vs the fixed LSH buckets of cosinePairsMultiTable.
    "dedup_semantic" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val idx = Similarity.kmeansFit(emb, "vec_id", "embedding", k = 5,
        iters = 2)
      Similarity.semanticDedupPairs(emb, "vec_id", "embedding",
        threshold = 0.3, index = idx, nprobe = 2)
    },

    // IVF-PQ: coarse cluster prune (nprobe=2) + ADC over PQ codes within
    // probed clusters — the standard billion-scale index, composed, at
    // the PQ-standard m=8 × k=256 codebook size.
    "ann_ivfpq" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val coarse = Similarity.ivfFit(emb, "label", "embedding")
      val pq = Similarity.pqFit(emb, "vec_id", "embedding", m = 8, k = 256,
        iters = 2)
      Similarity.ivfPqKnn(emb, emb.filter(expr(QueryPred)), "vec_id",
        "embedding", clusterCol = "label", k = 3, nprobe = 2,
        coarse = coarse, pq = pq)
    },

    // IVF-PQ over the cluster-PARTITIONED code store: same answer as
    // ann_ivfpq (shared oracle), but the corpus side is the persisted
    // (id, codes) store laid out partitionBy(cluster) and the probe scans
    // ONLY the probed clusters' partitions (PartitionFilters,
    // plan-guarded) — the composed 100 TB serving path.
    "ann_ivfpq_pruned" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val coarse = Similarity.ivfFit(emb, "label", "embedding")
      val pq = Similarity.pqFit(emb, "vec_id", "embedding", m = 8, k = 256,
        iters = 2)
      // Per-process path: concurrent harnesses (a Verify and a Bench on
      // the same sf dir) must not overwrite each other's store mid-read.
      val storeDir = System.getProperty("java.io.tmpdir") +
        "/graft_pq_store_" + ProcessHandle.current().pid() + "_" +
        dir.replaceAll("[^A-Za-z0-9]", "_")
      Similarity.pqStoreWrite(emb, "vec_id", "embedding", "label", pq, storeDir)
      Similarity.ivfPqKnnStored(s.read.parquet(storeDir),
        emb.filter(expr(QueryPred)), "vec_id", "embedding", k = 3, nprobe = 2,
        coarse = coarse, pq = pq)
    },

    // IVF-PQ SERVE-ONLY: identical answer to ann_ivfpq/_pruned (shared
    // oracle), but the codebooks and the partitioned code store are
    // fit-once artifacts — fitted, SAVED, and re-LOADED on first call,
    // reused thereafter — so this entry times exactly what a 100 TB
    // deployment runs per query batch: load-from-artifact + probe.
    // (ann_ivfpq deliberately keeps timing fit+serve; the bench needs
    // both numbers to tell index-training regressions from serving
    // regressions.)
    "ann_ivfpq_probe_only" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val (coarse, pq, storeDir) = probeOnlyArtifacts.computeIfAbsent(dir,
        _ => {
          val c = Similarity.ivfFit(emb, "label", "embedding")
          val p = Similarity.pqFit(emb, "vec_id", "embedding", m = 8,
            k = 256, iters = 2)
          val base = System.getProperty("java.io.tmpdir") +
            "/graft_ann_probe_" + ProcessHandle.current().pid() + "_" +
            dir.replaceAll("[^A-Za-z0-9]", "_")
          Similarity.pqStoreWrite(emb, "vec_id", "embedding", "label", p,
            base + "/store")
          Similarity.ivfSave(s, c, base + "/ivf")
          Similarity.pqSave(s, p, base + "/pq")
          // Serve from the LOADED artifacts, exactly as a separate
          // serving process would.
          (Similarity.ivfLoad(s, base + "/ivf"),
            Similarity.pqLoad(s, base + "/pq"), base + "/store")
        })
      Similarity.ivfPqKnnStored(s.read.parquet(storeDir),
        emb.filter(expr(QueryPred)), "vec_id", "embedding", k = 3,
        nprobe = 2, coarse = coarse, pq = pq)
    },

    // Multi-probe LSH: home bucket + all Hamming-1 buckets.
    "ann_lsh_multiprobe" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      Similarity.lshKnnMultiProbe(emb, emb.filter(expr(QueryPred)), "vec_id",
        "embedding", k = 3, planes = Planes, dims = 64)
    },

    // Recall@3 of single-probe LSH vs brute-force ground truth.
    "ann_recall_lsh" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val queries = emb.filter(expr(QueryPred))
      val truth = Similarity.bruteForceKnn(emb, queries, "vec_id", "embedding", k = 3)
      val ann = Similarity.lshKnn(emb, queries, "vec_id", "embedding",
        k = 3, planes = Planes, dims = 64)
      Similarity.recallAtK(ann, truth, k = 3)
    },

    // IVF-style ANN: nearest-centroid cluster probe (nprobe=1). The index
    // is fitted once (one distributed agg + tiny collect) and passed in —
    // the production shape where the quantizer is a persisted artifact.
    "ann_ivf_cosine" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val idx = Similarity.ivfFit(emb, "label", "embedding")
      Similarity.ivfKnn(emb, emb.filter(expr(QueryPred)), "vec_id", "embedding",
        clusterCol = "label", k = 3, nprobe = 1, index = Some(idx))
    },

    // IVF multi-probe: the 2 nearest centroids' clusters per query.
    "ann_ivf_multiprobe" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val idx = Similarity.ivfFit(emb, "label", "embedding")
      Similarity.ivfKnn(emb, emb.filter(expr(QueryPred)), "vec_id", "embedding",
        clusterCol = "label", k = 3, nprobe = 2, index = Some(idx))
    },

    // Matryoshka truncation eval (L289): recall@3 of brute-force kNN over
    // the FIRST 16 of 64 dims vs full-dim truth — how much neighborhood
    // structure a prefix truncation keeps, i.e. the measured cost of the
    // 4× storage/serve saving matryoshka-style embeddings offer. Pure
    // composition: slice projection + bruteForceKnn + recallAtK.
    "ann_recall_truncated" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val queries = emb.filter(expr(QueryPred))
      def trunc(df: org.apache.spark.sql.DataFrame) = df.select(
        col("vec_id"), slice(col("embedding"), 1, 16).as("embedding"))
      val truth = Similarity.bruteForceKnn(emb, queries, "vec_id",
        "embedding", k = 3)
      val ann = Similarity.bruteForceKnn(trunc(emb), trunc(queries),
        "vec_id", "embedding", k = 3)
      Similarity.recallAtK(ann, truth, k = 3)
    },

    // Matryoshka TWO-STAGE serving (L290, round-12 verdict #5): 16-dim
    // prefix candidate generation (budget 12 per query) + full-dim exact
    // re-rank, evaluated as recall@3 vs full-dim truth. House shape:
    // coarse prune + exact re-rank (ann_ivfpq_pruned's pattern applied to
    // matryoshka truncation). Round13OpsSpec asserts this strictly beats
    // truncation-only recall (L289) at the same candidate budget.
    "ann_truncated_rerank" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val queries = emb.filter(expr(QueryPred))
      val truth = Similarity.bruteForceKnn(emb, queries, "vec_id",
        "embedding", k = 3)
      val ann = Similarity.truncatedRerankKnn(emb, queries, "vec_id",
        "embedding", k = 3, prefixDims = 16, candidates = 12)
      Similarity.recallAtK(ann, truth, k = 3)
    },

    // The FULL production serve stack (L295): IVF coarse pruning
    // (nprobe=2, full-dim probe) → 16-dim prefix scoring within probed
    // clusters (budget 12) → full-dim exact re-rank → recall@3 vs
    // unpruned full-dim truth. All three ANN cost levers composed; each
    // lever's isolated recall cost has its own gate.
    "ann_ivf_truncated_rerank" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val queries = emb.filter(expr(QueryPred))
      val truth = Similarity.bruteForceKnn(emb, queries, "vec_id",
        "embedding", k = 3)
      val idx = Similarity.ivfFit(emb, "label", "embedding")
      val ann = Similarity.ivfTruncatedRerankKnn(emb, queries, "vec_id",
        "embedding", clusterCol = "label", k = 3, nprobe = 2,
        prefixDims = 16, candidates = 12, index = Some(idx))
      Similarity.recallAtK(ann, truth, k = 3)
    },

    // Recall@3 of IVF (nprobe=2) vs brute-force ground truth — the recall
    // harness that was previously LSH-only.
    "ann_recall_ivf" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val queries = emb.filter(expr(QueryPred))
      val truth = Similarity.bruteForceKnn(emb, queries, "vec_id", "embedding", k = 3)
      val idx = Similarity.ivfFit(emb, "label", "embedding")
      val ann = Similarity.ivfKnn(emb, queries, "vec_id", "embedding",
        clusterCol = "label", k = 3, nprobe = 2, index = Some(idx))
      Similarity.recallAtK(ann, truth, k = 3)
    },

    // Embedding-cosine near-duplicate mining via the AND-OR multi-table
    // miner — the bounded-occupancy default (a fixed-bucket single table
    // measured 46× runtime at 10× rows, SCALE.md).
    // (This corpus has no planted vector dups, so the threshold is low
    // enough to yield pairs; SimilaritySpec covers the ≥0.95 dup case.)
    "dedup_embedding_cosine" -> { (s, dir) =>
      Similarity.cosinePairsMultiTable(Tables.embeddings(s, dir), "vec_id",
        "embedding", threshold = 0.3, planes = MtPlanes, tables = MtTables,
        dims = 64)
    },

    // The same miner at the PRODUCTION sizing SCALE.md derives for the
    // sf1-and-beyond corpus (P ≈ log₂(n/targetBucketSize) ≈ 10, T = 3
    // from the recall target) — proves the sizing rule runs, not just
    // derives; ann_recall_lsh_mt pins its recall against brute force.
    "dedup_embedding_cosine_mt" -> { (s, dir) =>
      Similarity.cosinePairsMultiTable(Tables.embeddings(s, dir), "vec_id",
        "embedding", threshold = 0.3, planes = MtProdPlanes,
        tables = MtProdTables, dims = 64)
    },

    // Semantic dedup end-to-end: multi-table cosine pair graph → connected
    // components → one cluster id per vector (keep-one-per-cluster
    // downstream).
    "dedup_embedding_clusters" -> { (s, dir) =>
      val pairs = Similarity.cosinePairsMultiTable(Tables.embeddings(s, dir),
          "vec_id", "embedding", threshold = 0.3, planes = MtPlanes,
          tables = MtTables, dims = 64)
        .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
      graft.ops.Dedup.clusters(pairs)
    },

    // Recall@3 of multi-table LSH kNN at the PRODUCTION AND-OR sizing
    // (planes=10, tables=3) vs brute-force ground truth — the
    // 1−(1−p^P)^T recall formula demonstrated on data, not just derived
    // in SCALE.md. DedupSimilaritySpec asserts the aggregate floor.
    "ann_recall_lsh_mt" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val queries = emb.filter(expr(QueryPred))
      val truth = Similarity.bruteForceKnn(emb, queries, "vec_id", "embedding", k = 3)
      val ann = Similarity.lshKnnMultiTable(emb, queries, "vec_id", "embedding",
        k = 3, planes = MtProdPlanes, tables = MtProdTables, dims = 64)
      Similarity.recallAtK(ann, truth, k = 3)
    },

    // L298: two-snapshot EMBEDDING-SPACE drift per label — the vector
    // member of the drift family: centroid cosine (direction) and mean-
    // norm ratio (scale) between the vec_id%3 snapshot halves. Catches
    // the encoder-regression / dtype-truncation class of failure that
    // leaves every scalar column stable.
    "dq_embedding_drift" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      EmbeddingEval.embeddingDriftByGroup(
        emb.filter(pmod(col("vec_id"), lit(3)) === 0),
        emb.filter(pmod(col("vec_id"), lit(3)) =!= 0),
        "embedding", "label")
    },

    // Leave-one-out 5-NN majority-vote accuracy per label on a bounded
    // evaluation sample — "do these embeddings separate these labels" as
    // a measured number before any model training. Queries broadcast
    // (bounded sample), candidates stream; the vote rank runs over ≤ k
    // rows per query.
    "knn_label_accuracy" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      EmbeddingEval.knnLabelAccuracy(emb, emb.filter(col("vec_id") < 100),
        "vec_id", "embedding", "label", k = 5)
    },

    // Per-label simplified silhouette (centroid-based, cosine distance):
    // the O(n²) pairwise silhouette replaced by the one-centroid-fit +
    // map-side-score shape that survives 100 TB.
    "ml_silhouette" -> { (s, dir) =>
      EmbeddingEval.silhouetteSimplified(Tables.embeddings(s, dir),
        "vec_id", "embedding", "label")
    },

    // Split-conformal per-label nonconformity thresholds at α = 10%:
    // exact integer-rank quantile over per-(label, score) counts — no
    // per-row window, driver state zero.
    "ml_conformal_threshold" -> { (s, dir) =>
      EmbeddingEval.conformalThresholds(Tables.embeddings(s, dir),
        "vec_id", "embedding", "label", alphaBp = 1000)
    },

    // MMR diversity re-ranking: top-10 relevance pool per query, 3 greedy
    // selections at λ = 0.7 — redundancy-penalized retrieval, unrolled
    // fixed rounds (the PageRank determinism discipline).
    "ann_mmr_rerank" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      EmbeddingEval.mmrRerank(emb, emb.filter(expr(QueryPred)),
        "vec_id", "embedding", poolK = 10, selectK = 3, lambdaBp = 7000)
    },

    // Cluster-balanced (semantic-diversity) sampling: 300 vectors split
    // equally across nearest-centroid clusters by largest remainder,
    // hash-ranked deterministic pick, rank window pre-thinned — the
    // anti-mode-collapse counterpart of uniform sampling.
    "sample_cluster_balanced" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val cent = Similarity.centroids(emb, "label", "embedding")
      EmbeddingEval.clusterBalancedSample(emb, "vec_id", "embedding",
        cent, "label", totalN = 300)
    }
  )

  def oracles: Map[String, String] = Map(
    "ivf_kmeans_assign" -> kmeansAssignSql(k = 5, iters = 2),

    // Mirrors rrfFuse over the same two rankers: BM25 CTEs are the
    // text_bm25_topk recipe (sorted-fold per-doc sums); cosine rounds to
    // 6 dp before ranking with id tie-break, exactly like bruteForceKnn.
    "retrieval_rrf_hybrid" ->
      s"""WITH ${TextQueries.wordsCte},
         |stats AS (SELECT CAST(count(*) AS DOUBLE) AS nd,
         |  avg(len(ws)) AS avgdl FROM words),
         |hits AS (SELECT doc_id, CAST(len(ws) AS DOUBLE) AS dl,
         |  unnest(list_filter(ws, x -> x IN ('spark','join','query'))) AS term
         |  FROM words),
         |tf AS (SELECT doc_id, dl, term, CAST(count(*) AS DOUBLE) AS tf
         |  FROM hits GROUP BY 1, 2, 3),
         |dfq AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY 1),
         |sb AS (SELECT tf.doc_id,
         |  ln(1.0 + (nd - df + 0.5) / (df + 0.5)) * tf * (1.2 + 1.0) /
         |    (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)) AS ts
         |  FROM tf JOIN dfq USING (term), stats),
         |bm AS (SELECT doc_id, round(list_sum(list_sort(list(ts))), 6) AS bm25
         |  FROM sb GROUP BY doc_id ORDER BY bm25 DESC, doc_id LIMIT 50),
         |bmr AS (SELECT doc_id,
         |  row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rnk FROM bm),
         |qv AS (SELECT embedding AS q FROM embeddings WHERE vec_id = 0),
         |sc AS (SELECT e.vec_id AS doc_id,
         |  round(${dotSql("q", "e.embedding")} /
         |    nullif(sqrt(${dotSql("q", "q")}) *
         |           sqrt(${dotSql("e.embedding", "e.embedding")}), 0), 6) AS cosine
         |  FROM embeddings e, qv WHERE e.vec_id <> 0
         |  ORDER BY cosine DESC, doc_id LIMIT 50),
         |scr AS (SELECT doc_id,
         |  row_number() OVER (ORDER BY cosine DESC, doc_id) AS rnk FROM sc),
         |u AS (SELECT doc_id, rnk FROM bmr
         |  UNION ALL SELECT doc_id, rnk FROM scr)
         |SELECT doc_id,
         |  round(list_sum(list_sort(list(1.0 / (60 + rnk)))), 6) AS rrf_score,
         |  count(*) AS n_rankers
         |FROM u GROUP BY 1 ORDER BY rrf_score DESC, doc_id LIMIT 20""".stripMargin,

    // Same bm25/cosine rank lists as the rrf oracle; RBO fold with
    // dyadic p = 0.5 (power() exact) and the value-sorted list_sum.
    "retrieval_rbo" ->
      s"""WITH ${TextQueries.wordsCte},
         |stats AS (SELECT CAST(count(*) AS DOUBLE) AS nd,
         |  avg(len(ws)) AS avgdl FROM words),
         |hits AS (SELECT doc_id, CAST(len(ws) AS DOUBLE) AS dl,
         |  unnest(list_filter(ws, x -> x IN ('spark','join','query'))) AS term
         |  FROM words),
         |tf AS (SELECT doc_id, dl, term, CAST(count(*) AS DOUBLE) AS tf
         |  FROM hits GROUP BY 1, 2, 3),
         |dfq AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY 1),
         |sb AS (SELECT tf.doc_id,
         |  ln(1.0 + (nd - df + 0.5) / (df + 0.5)) * tf * (1.2 + 1.0) /
         |    (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)) AS ts
         |  FROM tf JOIN dfq USING (term), stats),
         |bm AS (SELECT doc_id, round(list_sum(list_sort(list(ts))), 6) AS bm25
         |  FROM sb GROUP BY doc_id ORDER BY bm25 DESC, doc_id LIMIT 50),
         |bmr AS (SELECT doc_id,
         |  row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rnk FROM bm),
         |qv AS (SELECT embedding AS q FROM embeddings WHERE vec_id = 0),
         |sc AS (SELECT e.vec_id AS doc_id,
         |  round(${dotSql("q", "e.embedding")} /
         |    nullif(sqrt(${dotSql("q", "q")}) *
         |           sqrt(${dotSql("e.embedding", "e.embedding")}), 0), 6) AS cosine
         |  FROM embeddings e, qv WHERE e.vec_id <> 0
         |  ORDER BY cosine DESC, doc_id LIMIT 50),
         |scr AS (SELECT doc_id,
         |  row_number() OVER (ORDER BY cosine DESC, doc_id) AS rnk FROM sc),
         |cm AS (SELECT greatest(b.rnk, s.rnk) AS depth
         |  FROM bmr b JOIN scr s USING (doc_id)
         |  WHERE b.rnk <= 20 AND s.rnk <= 20),
         |bd AS (SELECT depth, count(*) AS c FROM cm GROUP BY 1),
         |spine AS (SELECT CAST(range + 1 AS INTEGER) AS d,
         |  power(0.5, range) AS w FROM range(20)),
         |xd AS (SELECT d, w, coalesce(sum(c), 0) AS x
         |  FROM spine LEFT JOIN bd ON bd.depth <= spine.d GROUP BY 1, 2)
         |SELECT CAST(20 AS INTEGER) AS k,
         |  CAST(max(CASE WHEN d = 20 THEN x END) AS BIGINT) AS overlap_at_k,
         |  round(0.5 * list_sum(list_sort(list(w * CAST(x AS DOUBLE) / d))), 4)
         |    AS rbo
         |FROM xd""".stripMargin,

    "embedding_whiten" ->
      """WITH pe AS (SELECT vec_id,
        |    CAST(generate_subscripts(embedding, 1) - 1 AS INTEGER) AS dim,
        |    CAST(unnest(embedding) AS DOUBLE) AS v FROM embeddings),
        |st AS (SELECT dim, avg(v) AS mu, stddev_samp(v) AS sd
        |  FROM pe GROUP BY 1)
        |SELECT vec_id, dim,
        |  CASE WHEN sd IS NULL OR sd < 1e-9 THEN 0.0
        |    ELSE round((v - mu) / sd, 6) END AS w
        |FROM pe JOIN st USING (dim)""".stripMargin,

    "corpus_topic_mix" ->
      s"""WITH ${kmeansCtes(5, 2)},
         |${kmAssignCte("afinal", "cent2")},
         |mixed AS (SELECT d.source, CAST(a.label AS INTEGER) AS cluster,
         |    count(*) AS n_docs
         |  FROM documents d JOIN afinal a ON d.doc_id = a.vec_id
         |  GROUP BY 1, 2),
         |tot AS (SELECT source, sum(n_docs) AS t FROM mixed GROUP BY 1)
         |SELECT m.source, m.cluster, m.n_docs,
         |  round(CAST(m.n_docs AS DOUBLE) / t.t, 6) AS share
         |FROM mixed m JOIN tot t USING (source)""".stripMargin,

    // Unrolled power iteration with the k-means-oracle discipline: each
    // round's loadings re-quantize to 6 dp (… + 0 normalizes DuckDB's
    // signed zero) before feeding the next round's dot products, so
    // float drift cannot compound. generate_subscripts is 1-based;
    // Spark posexplode is 0-based — hence the final pos − 1.
    "ml_pca_top_component" -> {
      val iters = 3
      val base =
        """WITH comp AS (SELECT vec_id,
          |    generate_subscripts(embedding, 1) AS pos,
          |    unnest(embedding) AS x FROM embeddings),
          |dim AS (SELECT len(embedding) AS d FROM embeddings LIMIT 1),
          |v00 AS (SELECT d,
          |    round(1.0 / sqrt(CAST(d AS DOUBLE)), 6) AS v0 FROM dim),
          |v0l AS (SELECT list_transform(range(d), i -> v0) AS vl
          |  FROM v00)"""
      val steps = (1 to iters).map { k =>
        s""",
           |d$k AS (SELECT e.vec_id,
           |    list_sum(list_transform(range(len(e.embedding)),
           |      i -> CAST(e.embedding[i+1] AS DOUBLE) * v.vl[i+1])) AS dot
           |  FROM embeddings e, v${k - 1}l v),
           |s$k AS (SELECT c.pos, sum(CAST(c.x AS DOUBLE) * d.dot) AS s
           |  FROM comp c JOIN d$k d USING (vec_id) GROUP BY 1),
           |n$k AS (SELECT sqrt(sum(s * s)) AS n FROM s$k),
           |v$k AS (SELECT pos,
           |    round(s / (SELECT n FROM n$k), 6) + 0 AS l FROM s$k),
           |v${k}l AS (SELECT list(l ORDER BY pos) AS vl FROM v$k)"""
      }.mkString
      (base + steps +
        s"""
           |SELECT CAST(pos - 1 AS INTEGER) AS pos, l AS loading,
           |  round((SELECT n FROM n$iters), 4) AS lambda
           |FROM v$iters""").stripMargin
    },

    "embedding_source_drift" ->
      """WITH pe AS (SELECT label, generate_subscripts(embedding, 1) AS pos,
        |    CAST(unnest(embedding) AS DOUBLE) AS v FROM embeddings),
        |pl AS (SELECT label, pos, round(avg(v), 6) AS m FROM pe GROUP BY 1, 2),
        |g AS (SELECT pos, round(avg(v), 6) AS gm FROM pe GROUP BY 1),
        |agg AS (SELECT label,
        |    list_sum(list_sort(list(pl.m * g.gm))) AS smg,
        |    list_sum(list_sort(list(pl.m * pl.m))) AS smm,
        |    list_sum(list_sort(list(g.gm * g.gm))) AS sgg
        |  FROM pl JOIN g USING (pos) GROUP BY 1),
        |n AS (SELECT label, count(*) AS n_vectors FROM embeddings GROUP BY 1)
        |SELECT n.label, n.n_vectors,
        |  round(smg / nullif(sqrt(smm) * sqrt(sgg), 0), 6) AS cos_to_global
        |FROM agg JOIN n USING (label)""".stripMargin,

    "embedding_dim_stats" ->
      """WITH pe AS (SELECT generate_subscripts(embedding, 1) - 1 AS dim,
        |    CAST(unnest(embedding) AS DOUBLE) AS v FROM embeddings)
        |SELECT dim, count(*) AS n, round(avg(v), 6) AS mean,
        |  round(stddev_samp(v), 6) AS std,
        |  round(min(v), 6) AS min_v, round(max(v), 6) AS max_v,
        |  round(stddev_samp(v), 6) < 1e-9 AS dead
        |FROM pe GROUP BY 1""".stripMargin,

    "ann_text_ivf" ->
      s"""WITH ${TextQueries.wordsCte},
         |tok AS (SELECT doc_id, unnest(ws) AS w FROM words),
         |hh AS (SELECT doc_id,
         |  ('0x' || substr(md5(w), 1, 6))::BIGINT % 64 AS bucket,
         |  1 - 2 * (('0x' || substr(md5(w), 7, 1))::BIGINT % 2) AS s FROM tok),
         |sp AS (SELECT doc_id, bucket, CAST(sum(s) AS BIGINT) AS weight
         |  FROM hh GROUP BY 1, 2 HAVING sum(s) <> 0),
         |mm AS (SELECT doc_id, map(list(bucket ORDER BY bucket),
         |    list(weight ORDER BY bucket)) AS m FROM sp GROUP BY 1),
         |temb AS (SELECT d.doc_id AS vec_id,
         |  list_transform(range(64), i ->
         |    CAST(coalesce(map_extract(mm.m, i)[1], 0) AS DOUBLE)) AS embedding
         |  FROM documents d LEFT JOIN mm ON d.doc_id = mm.doc_id),
         |${kmeansCtes(5, 2, src = "temb")},
         |${kmAssignCte("afinal", "cent2", src = "temb")}
         |SELECT vec_id, CAST(label AS INTEGER) AS cluster FROM afinal""".stripMargin,

    "pq_encode" ->
      s"""WITH ${pqCtes(m = 4, k = 4, iters = 2, dims = 64)}
         |SELECT f0.vec_id,
         |  CAST(f0.label AS VARCHAR) || ',' || CAST(f1.label AS VARCHAR) || ','
         |    || CAST(f2.label AS VARCHAR) || ',' || CAST(f3.label AS VARCHAR)
         |    AS codes_csv,
         |  round(f0.d2 + f1.d2 + f2.d2 + f3.d2, 6) AS recon_d2
         |FROM f0 JOIN f1 USING (vec_id) JOIN f2 USING (vec_id)
         |  JOIN f3 USING (vec_id)""".stripMargin,

    "dedup_semantic" ->
      s"""WITH ${kmeansCtes(k = 5, iters = 2)},
         |${kmAssignCte("probe2", "cent2", n = 2)},
         |pa AS (SELECT p.vec_id AS id_a, e.embedding AS va, p.label AS cluster
         |  FROM probe2 p JOIN embeddings e USING (vec_id)),
         |pb AS (SELECT p.vec_id AS id_b, e.embedding AS vb, p.label AS cluster
         |  FROM probe2 p JOIN embeddings e USING (vec_id))
         |SELECT DISTINCT id_a, id_b,
         |  round(${dotSql("va", "vb")} /
         |    nullif(sqrt(${dotSql("va", "va")}) * sqrt(${dotSql("vb", "vb")}), 0),
         |    6) AS cosine
         |FROM pa JOIN pb USING (cluster)
         |WHERE id_a < id_b
         |  AND round(${dotSql("va", "vb")} /
         |    nullif(sqrt(${dotSql("va", "va")}) * sqrt(${dotSql("vb", "vb")}), 0),
         |    6) >= 0.3""".stripMargin,

    "ann_ivfpq" -> ivfPqSql(m = 8, k = 256, iters = 2, dims = 64, knn = 3,
      nprobe = 2),

    // Same answer as ann_ivfpq by construction — the store is just a
    // partition-pruned layout of the same codes.
    "ann_ivfpq_pruned" -> ivfPqSql(m = 8, k = 256, iters = 2, dims = 64,
      knn = 3, nprobe = 2),

    // Serve-only path: same codebooks (deterministic fits), same store
    // layout, same answer — the entry exists to give serving its own
    // regression-tracked bench number.
    "ann_ivfpq_probe_only" -> ivfPqSql(m = 8, k = 256, iters = 2, dims = 64,
      knn = 3, nprobe = 2),

    "ann_pq_adc" -> pqAdcSql(m = 8, k = 256, iters = 2, dims = 64, knn = 3),

    "dedup_hybrid_pairs" ->
      s"""WITH ${TextQueries.wordsCte},
         |${TextQueries.shinglesCte},
         |${TextQueries.cappedCte},
         |${TextQueries.plannedCandCtes("shf", 0.8)},
         |${TextQueries.interCte("shf")},
         |lex AS (SELECT i.doc_a, i.doc_b FROM inter i
         |  JOIN sz x ON i.doc_a = x.doc_id JOIN sz y ON i.doc_b = y.doc_id
         |  JOIN cand c ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
         |  WHERE CAST(i.inter AS DOUBLE) / (x.sz + y.sz - i.inter) >= 0.8),
         |${mtPairsCtes(6, 2, 0.3)},
         |sem AS (SELECT id_a AS doc_a, id_b AS doc_b FROM mtpairs),
         |u AS (SELECT doc_a, doc_b, 1 AS l, 0 AS s FROM lex
         |  UNION ALL SELECT doc_a, doc_b, 0, 1 FROM sem)
         |SELECT doc_a, doc_b,
         |  CASE WHEN max(l) = 1 AND max(s) = 1 THEN 'both'
         |       WHEN max(l) = 1 THEN 'lexical' ELSE 'semantic' END AS modality
         |FROM u GROUP BY doc_a, doc_b""".stripMargin,

    "embedding_quantize" ->
      """WITH x AS (SELECT vec_id,
        |    list_transform(embedding, e -> CAST(e AS DOUBLE)) AS xs
        |  FROM embeddings),
        |s AS (SELECT vec_id, xs,
        |    list_max(list_transform(xs, e -> abs(e))) / 127.0 AS scale FROM x)
        |SELECT vec_id,
        |  CAST(floor(scale * 1000000000.0) AS BIGINT) AS scale_e9,
        |  array_to_string(list_transform(xs, e ->
        |    CASE WHEN scale = 0 THEN 0
        |         ELSE CAST(floor(e / scale + 0.5) AS BIGINT) END), ',') AS q_csv,
        |  CAST(floor(list_max(list_transform(xs, e -> abs(e -
        |    (CASE WHEN scale = 0 THEN 0.0
        |          ELSE floor(e / scale + 0.5) * scale END)))) * 1000000.0)
        |    AS BIGINT) AS max_err_e6
        |FROM s""".stripMargin,

    "ann_rank_metrics" ->
      s"""WITH ${ivfCtes(1)},
         |annr AS (SELECT query_id, cand_id, rn FROM (
         |  SELECT query_id, cand_id, row_number() OVER (PARTITION BY query_id
         |    ORDER BY cosine DESC, cand_id) AS rn FROM scored) WHERE rn <= 3),
         |bscored AS (SELECT qq.vec_id AS query_id, e.vec_id AS cand_id,
         |    round(${dotSql("qq.embedding", "e.embedding")} /
         |      (sqrt(${dotSql("qq.embedding", "qq.embedding")}) *
         |       sqrt(${dotSql("e.embedding", "e.embedding")})), 6) AS cosine
         |  FROM embeddings qq JOIN embeddings e ON e.vec_id <> qq.vec_id
         |  WHERE qq.$QueryPred),
         |truthk AS (SELECT query_id, cand_id FROM (
         |  SELECT query_id, cand_id, row_number() OVER (PARTITION BY query_id
         |    ORDER BY cosine DESC, cand_id) AS rn FROM bscored) WHERE rn <= 3),
         |hits AS (SELECT a.query_id, a.rn FROM annr a
         |  JOIN truthk t ON a.query_id = t.query_id AND a.cand_id = t.cand_id),
         |per AS (SELECT query_id, min(rn) AS first_hit,
         |  list_sort(list(rn)) AS rns FROM hits GROUP BY 1),
         |tk AS (SELECT query_id, count(*) AS truth_k FROM truthk GROUP BY 1)
         |SELECT tk.query_id,
         |  round(COALESCE(1.0 / per.first_hit, 0.0), 6) AS mrr,
         |  round(COALESCE(list_sum(list_transform(per.rns,
         |      r -> 1.0 / log2(r + 1))), 0.0) /
         |    list_sum(list_transform(range(least(tk.truth_k, 3)),
         |      i -> 1.0 / log2(i + 2))), 6) AS ndcg,
         |  CAST(COALESCE(len(per.rns), 0) AS BIGINT) AS n_hits,
         |  tk.truth_k
         |FROM tk LEFT JOIN per ON tk.query_id = per.query_id""".stripMargin,

    "ann_quantized_knn" ->
      s"""WITH x AS (SELECT vec_id,
         |    list_transform(embedding, e -> CAST(e AS DOUBLE)) AS xs
         |  FROM embeddings),
         |s AS (SELECT vec_id, xs,
         |    list_max(list_transform(xs, e -> abs(e))) / 127.0 AS scale FROM x),
         |qv AS (SELECT vec_id, list_transform(xs, e ->
         |    CASE WHEN scale = 0 THEN 0.0 ELSE floor(e / scale + 0.5) END) AS q
         |  FROM s),
         |qq AS (SELECT vec_id, q,
         |    sqrt(list_sum(list_transform(range(len(q)), i -> q[i+1] * q[i+1])))
         |      AS nq FROM qv),
         |sc AS (SELECT a.vec_id AS query_id, b.vec_id AS cand_id,
         |    round(list_sum(list_transform(range(len(a.q)), i ->
         |      a.q[i+1] * b.q[i+1])) / nullif(a.nq * b.nq, 0), 6) AS cosine
         |  FROM qq a JOIN qq b ON b.vec_id <> a.vec_id
         |  WHERE a.$QueryPred)
         |SELECT query_id, cand_id, cosine, CAST(rn AS INTEGER) AS rn FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY cosine DESC, cand_id) AS rn FROM sc)
         |WHERE rn <= 3""".stripMargin,

    "knn_cosine_bruteforce" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE $QueryPred),
         |c AS (SELECT vec_id AS cand_id, embedding AS cv FROM embeddings),
         |p AS (SELECT query_id, cand_id,
         |  round(${dotSql("qv", "cv")} /
         |    (sqrt(${dotSql("qv", "qv")}) * sqrt(${dotSql("cv", "cv")})), 6) AS cosine
         |  FROM q, c WHERE query_id <> cand_id),
         |r AS (SELECT query_id, cand_id, cosine,
         |  row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, cand_id) AS rn
         |  FROM p)
         |SELECT query_id, cand_id, cosine, CAST(rn AS INTEGER) AS rn FROM r WHERE rn <= 5""".stripMargin,

    "ann_hard_negatives" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE $QueryPred),
         |c AS (SELECT vec_id AS cand_id, embedding AS cv FROM embeddings),
         |p AS (SELECT query_id, cand_id,
         |  round(${dotSql("qv", "cv")} /
         |    (sqrt(${dotSql("qv", "qv")}) * sqrt(${dotSql("cv", "cv")})), 6) AS cosine
         |  FROM q, c WHERE query_id <> cand_id),
         |r AS (SELECT query_id, cand_id, cosine,
         |  row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, cand_id) AS rn
         |  FROM p WHERE cosine < 0.9)
         |SELECT query_id, cand_id, cosine, CAST(rn AS INTEGER) AS rn FROM r WHERE rn <= 3""".stripMargin,

    "ann_lsh_bucketed" ->
      s"""WITH sig AS (SELECT vec_id, embedding, ${lshBucketSql("embedding")} AS bucket
         |  FROM embeddings),
         |q AS (SELECT vec_id AS query_id, embedding AS qv, bucket FROM sig WHERE $QueryPred),
         |c AS (SELECT vec_id AS cand_id, embedding AS cv, bucket FROM sig),
         |p AS (SELECT query_id, c.bucket, cand_id,
         |  round(${dotSql("qv", "cv")} /
         |    (sqrt(${dotSql("qv", "qv")}) * sqrt(${dotSql("cv", "cv")})), 6) AS cosine
         |  FROM q JOIN c ON q.bucket = c.bucket AND query_id <> cand_id),
         |r AS (SELECT query_id, bucket, cand_id, cosine,
         |  row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, cand_id) AS rn
         |  FROM p)
         |SELECT query_id, bucket, cand_id, cosine, CAST(rn AS INTEGER) AS rn
         |FROM r WHERE rn <= 3""".stripMargin,

    "embedding_norm_stats" ->
      s"""WITH n AS (SELECT label, sqrt(${dotSql("embedding", "embedding")}) AS nrm
         |  FROM embeddings)
         |SELECT label, count(*) AS n_vectors, round(avg(nrm), 6) AS avg_norm,
         |  round(min(nrm), 6) AS min_norm, round(max(nrm), 6) AS max_norm
         |FROM n GROUP BY label""".stripMargin,

    "ann_lsh_multiprobe" ->
      s"""WITH sig AS (SELECT vec_id, embedding, ${lshBucketSql("embedding")} AS bucket
         |  FROM embeddings),
         |q AS (SELECT vec_id AS query_id, embedding AS qv,
         |    unnest([bucket, xor(bucket, 1), xor(bucket, 2), xor(bucket, 4),
         |            xor(bucket, 8)]) AS bucket
         |  FROM sig WHERE $QueryPred),
         |c AS (SELECT vec_id AS cand_id, embedding AS cv, bucket FROM sig),
         |p AS (SELECT DISTINCT query_id, cand_id,
         |  round(${dotSql("qv", "cv")} /
         |    (sqrt(${dotSql("qv", "qv")}) * sqrt(${dotSql("cv", "cv")})), 6) AS cosine
         |  FROM q JOIN c ON q.bucket = c.bucket AND query_id <> cand_id)
         |SELECT query_id, cand_id, cosine, CAST(rn AS INTEGER) AS rn FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY cosine DESC, cand_id) AS rn FROM p)
         |WHERE rn <= 3""".stripMargin,

    "ann_recall_lsh" ->
      s"""WITH sig AS (SELECT vec_id, embedding, ${lshBucketSql("embedding")} AS bucket
         |  FROM embeddings),
         |q AS (SELECT vec_id AS query_id, embedding AS qv, bucket FROM sig
         |  WHERE $QueryPred),
         |c AS (SELECT vec_id AS cand_id, embedding AS cv, bucket FROM sig),
         |truth AS (SELECT query_id, cand_id FROM (
         |  SELECT query_id, cand_id, row_number() OVER (PARTITION BY query_id
         |    ORDER BY round(${dotSql("qv", "cv")} /
         |      (sqrt(${dotSql("qv", "qv")}) * sqrt(${dotSql("cv", "cv")})), 6) DESC,
         |      cand_id) AS rn
         |  FROM q, c WHERE query_id <> cand_id) WHERE rn <= 3),
         |ann AS (SELECT query_id, cand_id FROM (
         |  SELECT query_id, cand_id, row_number() OVER (PARTITION BY query_id
         |    ORDER BY round(${dotSql("qv", "cv")} /
         |      (sqrt(${dotSql("qv", "qv")}) * sqrt(${dotSql("cv", "cv")})), 6) DESC,
         |      cand_id) AS rn
         |  FROM q JOIN c ON q.bucket = c.bucket AND query_id <> cand_id) WHERE rn <= 3),
         |hits AS (SELECT t.query_id, count(*) AS hits FROM truth t
         |  JOIN ann a ON t.query_id = a.query_id AND t.cand_id = a.cand_id
         |  GROUP BY 1),
         |tk AS (SELECT query_id, count(*) AS truth_k FROM truth GROUP BY 1)
         |SELECT tk.query_id, COALESCE(hits.hits, 0) AS hits, tk.truth_k,
         |  round(CAST(COALESCE(hits.hits, 0) AS DOUBLE) / tk.truth_k, 6) AS recall
         |FROM tk LEFT JOIN hits ON tk.query_id = hits.query_id""".stripMargin,

    "ann_ivf_cosine" ->
      s"""WITH ${ivfCtes(1)}
         |SELECT query_id, cluster, cand_id, cosine, CAST(rn AS INTEGER) AS rn FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY cosine DESC, cand_id) AS rn FROM scored)
         |WHERE rn <= 3""".stripMargin,

    "ann_ivf_multiprobe" ->
      s"""WITH ${ivfCtes(2)}
         |SELECT query_id, cluster, cand_id, cosine, CAST(rn AS INTEGER) AS rn FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY cosine DESC, cand_id) AS rn FROM scored)
         |WHERE rn <= 3""".stripMargin,

    "ann_recall_truncated" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv,
         |    embedding[1:16] AS qt FROM embeddings WHERE $QueryPred),
         |c AS (SELECT vec_id AS cand_id, embedding AS cv,
         |    embedding[1:16] AS ct FROM embeddings),
         |truth AS (SELECT query_id, cand_id FROM (
         |  SELECT query_id, cand_id, row_number() OVER (PARTITION BY query_id
         |    ORDER BY round(${dotSql("qv", "cv")} /
         |      (sqrt(${dotSql("qv", "qv")}) * sqrt(${dotSql("cv", "cv")})), 6) DESC,
         |      cand_id) AS rn
         |  FROM q, c WHERE query_id <> cand_id) WHERE rn <= 3),
         |ann AS (SELECT query_id, cand_id FROM (
         |  SELECT query_id, cand_id, row_number() OVER (PARTITION BY query_id
         |    ORDER BY round(${dotSql("qt", "ct")} /
         |      (sqrt(${dotSql("qt", "qt")}) * sqrt(${dotSql("ct", "ct")})), 6) DESC,
         |      cand_id) AS rn
         |  FROM q, c WHERE query_id <> cand_id) WHERE rn <= 3),
         |hits AS (SELECT t.query_id, count(*) AS hits FROM truth t
         |  JOIN ann a ON t.query_id = a.query_id AND t.cand_id = a.cand_id
         |  GROUP BY 1),
         |tk AS (SELECT query_id, count(*) AS truth_k FROM truth GROUP BY 1)
         |SELECT tk.query_id, COALESCE(hits.hits, 0) AS hits, tk.truth_k,
         |  round(CAST(COALESCE(hits.hits, 0) AS DOUBLE) / tk.truth_k, 6) AS recall
         |FROM tk LEFT JOIN hits ON tk.query_id = hits.query_id""".stripMargin,

    // Two-stage: truncated top-12 candidates per query (rounded-cosine,
    // cand_id tie-break -- the engine's ranking contract), full-dim exact
    // re-rank to top-3, recall vs full-dim truth.
    "ann_truncated_rerank" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv,
         |    embedding[1:16] AS qt FROM embeddings WHERE $QueryPred),
         |c AS (SELECT vec_id AS cand_id, embedding AS cv,
         |    embedding[1:16] AS ct FROM embeddings),
         |truth AS (SELECT query_id, cand_id FROM (
         |  SELECT query_id, cand_id, row_number() OVER (PARTITION BY query_id
         |    ORDER BY round(${dotSql("qv", "cv")} /
         |      (sqrt(${dotSql("qv", "qv")}) * sqrt(${dotSql("cv", "cv")})), 6) DESC,
         |      cand_id) AS rn
         |  FROM q, c WHERE query_id <> cand_id) WHERE rn <= 3),
         |cand AS (SELECT query_id, cand_id FROM (
         |  SELECT query_id, cand_id, row_number() OVER (PARTITION BY query_id
         |    ORDER BY round(${dotSql("qt", "ct")} /
         |      (sqrt(${dotSql("qt", "qt")}) * sqrt(${dotSql("ct", "ct")})), 6) DESC,
         |      cand_id) AS rn
         |  FROM q, c WHERE query_id <> cand_id) WHERE rn <= 12),
         |ann AS (SELECT query_id, cand_id FROM (
         |  SELECT k.query_id, k.cand_id,
         |    row_number() OVER (PARTITION BY k.query_id
         |    ORDER BY round(${dotSql("q.qv", "c.cv")} /
         |      (sqrt(${dotSql("q.qv", "q.qv")}) * sqrt(${dotSql("c.cv", "c.cv")})), 6) DESC,
         |      k.cand_id) AS rn
         |  FROM cand k JOIN q ON k.query_id = q.query_id
         |  JOIN c ON k.cand_id = c.cand_id) WHERE rn <= 3),
         |hits AS (SELECT t.query_id, count(*) AS hits FROM truth t
         |  JOIN ann a ON t.query_id = a.query_id AND t.cand_id = a.cand_id
         |  GROUP BY 1),
         |tk AS (SELECT query_id, count(*) AS truth_k FROM truth GROUP BY 1)
         |SELECT tk.query_id, COALESCE(hits.hits, 0) AS hits, tk.truth_k,
         |  round(CAST(COALESCE(hits.hits, 0) AS DOUBLE) / tk.truth_k, 6) AS recall
         |FROM tk LEFT JOIN hits ON tk.query_id = hits.query_id""".stripMargin,

    // IVF probe (full-dim, nprobe=2) -> prefix scoring within probed
    // clusters (top-12) -> full-dim re-rank (top-3) -> recall vs truth.
    "ann_ivf_truncated_rerank" ->
      s"""WITH comp AS (SELECT label, generate_subscripts(embedding, 1) AS pos,
         |    unnest(embedding) AS v FROM embeddings),
         |cent AS (SELECT label, list(cr ORDER BY pos) AS centroid
         |  FROM (SELECT label, pos, round(avg(CAST(v AS DOUBLE)), 6) AS cr
         |        FROM comp GROUP BY 1, 2)
         |  GROUP BY label),
         |q AS (SELECT vec_id AS query_id, embedding AS qv,
         |    embedding[1:16] AS qt FROM embeddings WHERE $QueryPred),
         |qa AS (SELECT query_id, qt, label,
         |  round(${dotSql("qv", "centroid")} /
         |    (sqrt(${dotSql("qv", "qv")}) * sqrt(${dotSql("centroid", "centroid")})), 6) AS ccos
         |  FROM q, cent),
         |assigned AS (SELECT query_id, qt, label AS cluster FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY ccos DESC, label) AS rn FROM qa) WHERE rn <= 2),
         |ce AS (SELECT vec_id AS cand_id, label, embedding AS cv,
         |    embedding[1:16] AS ct FROM embeddings),
         |pscored AS (SELECT query_id, cand_id,
         |  round(${dotSql("qt", "ct")} /
         |    (sqrt(${dotSql("qt", "qt")}) * sqrt(${dotSql("ct", "ct")})), 6) AS pcos
         |  FROM assigned JOIN ce
         |    ON ce.label = assigned.cluster AND ce.cand_id <> assigned.query_id),
         |cand AS (SELECT query_id, cand_id FROM (
         |  SELECT query_id, cand_id, row_number() OVER (PARTITION BY query_id
         |    ORDER BY pcos DESC, cand_id) AS rn FROM pscored) WHERE rn <= 12),
         |ann AS (SELECT query_id, cand_id FROM (
         |  SELECT k.query_id, k.cand_id,
         |    row_number() OVER (PARTITION BY k.query_id
         |    ORDER BY round(${dotSql("q.qv", "ce.cv")} /
         |      (sqrt(${dotSql("q.qv", "q.qv")}) * sqrt(${dotSql("ce.cv", "ce.cv")})), 6) DESC,
         |      k.cand_id) AS rn
         |  FROM cand k JOIN q ON k.query_id = q.query_id
         |  JOIN ce ON k.cand_id = ce.cand_id) WHERE rn <= 3),
         |truth AS (SELECT query_id, cand_id FROM (
         |  SELECT query_id, ce.cand_id, row_number() OVER (PARTITION BY query_id
         |    ORDER BY round(${dotSql("q.qv", "ce.cv")} /
         |      (sqrt(${dotSql("q.qv", "q.qv")}) * sqrt(${dotSql("ce.cv", "ce.cv")})), 6) DESC,
         |      ce.cand_id) AS rn
         |  FROM q, ce WHERE q.query_id <> ce.cand_id) WHERE rn <= 3),
         |hits AS (SELECT t.query_id, count(*) AS hits FROM truth t
         |  JOIN ann a ON t.query_id = a.query_id AND t.cand_id = a.cand_id
         |  GROUP BY 1),
         |tk AS (SELECT query_id, count(*) AS truth_k FROM truth GROUP BY 1)
         |SELECT tk.query_id, COALESCE(hits.hits, 0) AS hits, tk.truth_k,
         |  round(CAST(COALESCE(hits.hits, 0) AS DOUBLE) / tk.truth_k, 6) AS recall
         |FROM tk LEFT JOIN hits ON tk.query_id = hits.query_id""".stripMargin,

    "ann_recall_ivf" ->
      s"""WITH ${ivfCtes(2)},
         |ann AS (SELECT query_id, cand_id FROM (
         |  SELECT query_id, cand_id, row_number() OVER (PARTITION BY query_id
         |    ORDER BY cosine DESC, cand_id) AS rn FROM scored) WHERE rn <= 3),
         |c AS (SELECT vec_id AS cand_id, embedding AS cv FROM embeddings),
         |truth AS (SELECT query_id, cand_id FROM (
         |  SELECT query_id, cand_id, row_number() OVER (PARTITION BY query_id
         |    ORDER BY round(${dotSql("qv", "cv")} /
         |      (sqrt(${dotSql("qv", "qv")}) * sqrt(${dotSql("cv", "cv")})), 6) DESC,
         |      cand_id) AS rn
         |  FROM q, c WHERE query_id <> cand_id) WHERE rn <= 3),
         |hits AS (SELECT t.query_id, count(*) AS hits FROM truth t
         |  JOIN ann a ON t.query_id = a.query_id AND t.cand_id = a.cand_id
         |  GROUP BY 1),
         |tk AS (SELECT query_id, count(*) AS truth_k FROM truth GROUP BY 1)
         |SELECT tk.query_id, COALESCE(hits.hits, 0) AS hits, tk.truth_k,
         |  round(CAST(COALESCE(hits.hits, 0) AS DOUBLE) / tk.truth_k, 6) AS recall
         |FROM tk LEFT JOIN hits ON tk.query_id = hits.query_id""".stripMargin,

    "dedup_embedding_cosine" ->
      s"""WITH ${mtPairsCtes(6, 2, 0.3)}
         |SELECT id_a, id_b, cosine FROM mtpairs""".stripMargin,

    "dedup_embedding_cosine_mt" ->
      s"""WITH ${mtPairsCtes(10, 3, 0.3)}
         |SELECT id_a, id_b, cosine FROM mtpairs""".stripMargin,

    "dedup_embedding_clusters" ->
      s"""WITH RECURSIVE ${mtPairsCtes(6, 2, 0.3)},
         |edges AS (SELECT id_a AS src, id_b AS dst FROM mtpairs
         |  UNION SELECT id_b, id_a FROM mtpairs),
         |reach(src, dst) AS (
         |  SELECT src, dst FROM edges
         |  UNION
         |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src)
         |SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
         |FROM reach GROUP BY src""".stripMargin,

    "ann_recall_lsh_mt" ->
      s"""WITH msig AS (
         |  SELECT vec_id, embedding, 0 AS tbl,
         |    ${lshBucketSqlAt("embedding", 10, 0)} AS bucket FROM embeddings
         |  UNION ALL
         |  SELECT vec_id, embedding, 1 AS tbl,
         |    ${lshBucketSqlAt("embedding", 10, 10)} AS bucket FROM embeddings
         |  UNION ALL
         |  SELECT vec_id, embedding, 2 AS tbl,
         |    ${lshBucketSqlAt("embedding", 10, 20)} AS bucket FROM embeddings),
         |qb AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
         |  WHERE $QueryPred),
         |cb AS (SELECT vec_id AS cand_id, embedding AS cv FROM embeddings),
         |truth AS (SELECT query_id, cand_id FROM (
         |  SELECT query_id, cand_id, row_number() OVER (PARTITION BY query_id
         |    ORDER BY round(${dotSql("qv", "cv")} /
         |      nullif(sqrt(${dotSql("qv", "qv")}) * sqrt(${dotSql("cv", "cv")}), 0),
         |      6) DESC, cand_id) AS rn
         |  FROM qb, cb WHERE query_id <> cand_id) WHERE rn <= 3),
         |qs AS (SELECT vec_id AS query_id, embedding AS qv, tbl, bucket
         |  FROM msig WHERE $QueryPred),
         |cs AS (SELECT vec_id AS cand_id, embedding AS cv, tbl, bucket
         |  FROM msig),
         |annp AS (SELECT DISTINCT query_id, cand_id,
         |  round(${dotSql("qv", "cv")} /
         |    nullif(sqrt(${dotSql("qv", "qv")}) * sqrt(${dotSql("cv", "cv")}), 0),
         |    6) AS cosine
         |  FROM qs JOIN cs ON qs.tbl = cs.tbl AND qs.bucket = cs.bucket
         |    AND query_id <> cand_id),
         |ann AS (SELECT query_id, cand_id FROM (
         |  SELECT query_id, cand_id, row_number() OVER (PARTITION BY query_id
         |    ORDER BY cosine DESC, cand_id) AS rn FROM annp) WHERE rn <= 3),
         |hits AS (SELECT t.query_id, count(*) AS hits FROM truth t
         |  JOIN ann a ON t.query_id = a.query_id AND t.cand_id = a.cand_id
         |  GROUP BY 1),
         |tk AS (SELECT query_id, count(*) AS truth_k FROM truth GROUP BY 1)
         |SELECT tk.query_id, COALESCE(hits.hits, 0) AS hits, tk.truth_k,
         |  round(CAST(COALESCE(hits.hits, 0) AS DOUBLE) / tk.truth_k, 6) AS recall
         |FROM tk LEFT JOIN hits ON tk.query_id = hits.query_id""".stripMargin,

    // Centroids component-averaged and rounded to 6 dp per side (the
    // ivf oracle idiom), cosine over the rounded centroids, mean-norm
    // ratio over 6-dp-rounded means -- bit-portable given the rounding.
    "dq_embedding_drift" ->
      s"""WITH r AS (SELECT label, embedding FROM embeddings WHERE vec_id % 3 = 0),
         |c AS (SELECT label, embedding FROM embeddings WHERE vec_id % 3 <> 0),
         |rcomp AS (SELECT label, generate_subscripts(embedding, 1) AS pos,
         |    unnest(embedding) AS v FROM r),
         |rcent AS (SELECT label, list(cr ORDER BY pos) AS rcen FROM (
         |  SELECT label, pos, round(avg(CAST(v AS DOUBLE)), 6) AS cr
         |  FROM rcomp GROUP BY 1, 2) GROUP BY label),
         |ccomp AS (SELECT label, generate_subscripts(embedding, 1) AS pos,
         |    unnest(embedding) AS v FROM c),
         |ccent AS (SELECT label, list(cr ORDER BY pos) AS ccen FROM (
         |  SELECT label, pos, round(avg(CAST(v AS DOUBLE)), 6) AS cr
         |  FROM ccomp GROUP BY 1, 2) GROUP BY label),
         |rn AS (SELECT label, count(*) AS n_ref,
         |    round(avg(sqrt(${dotSql("embedding", "embedding")})), 6) AS rnorm
         |  FROM r GROUP BY 1),
         |cn AS (SELECT label, count(*) AS n_cur,
         |    round(avg(sqrt(${dotSql("embedding", "embedding")})), 6) AS cnorm
         |  FROM c GROUP BY 1),
         |side_r AS (SELECT label, n_ref, rnorm, rcen
         |  FROM rcent JOIN rn USING (label)),
         |side_c AS (SELECT label, n_cur, cnorm, ccen
         |  FROM ccent JOIN cn USING (label))
         |SELECT label, coalesce(n_ref, 0) AS n_ref, coalesce(n_cur, 0) AS n_cur,
         |  round(${dotSql("rcen", "ccen")} /
         |    nullif(sqrt(${dotSql("rcen", "rcen")}) *
         |           sqrt(${dotSql("ccen", "ccen")}), 0), 6) AS centroid_cosine,
         |  round(cnorm / nullif(rnorm, 0), 6) AS norm_ratio
         |FROM side_r FULL OUTER JOIN side_c USING (label)""".stripMargin,

    "knn_label_accuracy" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv, label AS tl
         |  FROM embeddings WHERE vec_id < 100),
         |c AS (SELECT vec_id AS cand_id, embedding AS cv, label AS cl
         |  FROM embeddings),
         |knn AS (SELECT query_id, tl, cl FROM (
         |  SELECT query_id, tl, cl, row_number() OVER (PARTITION BY query_id
         |    ORDER BY round(${dotSql("qv", "cv")} /
         |      (sqrt(${dotSql("qv", "qv")}) * sqrt(${dotSql("cv", "cv")})), 6)
         |      DESC, cand_id) AS rn
         |  FROM q, c WHERE query_id <> cand_id) WHERE rn <= 5),
         |votes AS (SELECT query_id, tl, cl, count(*) AS v
         |  FROM knn GROUP BY 1, 2, 3),
         |pred AS (SELECT tl, cl AS pl FROM (
         |  SELECT query_id, tl, cl, v, row_number() OVER (PARTITION BY query_id
         |    ORDER BY v DESC, cl) AS rn FROM votes) WHERE rn = 1)
         |SELECT tl AS label, CAST(count(*) AS BIGINT) AS n_queries,
         |  CAST(sum(CASE WHEN pl = tl THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
         |  round(CAST(sum(CASE WHEN pl = tl THEN 1 ELSE 0 END) AS DOUBLE) /
         |    count(*), 6) AS accuracy
         |FROM pred GROUP BY 1""".stripMargin,

    "ml_silhouette" ->
      s"""WITH comp AS (SELECT label, generate_subscripts(embedding, 1) AS pos,
         |    unnest(embedding) AS v FROM embeddings),
         |cent AS (SELECT label AS clab, list(cr ORDER BY pos) AS centroid
         |  FROM (SELECT label, pos, round(avg(CAST(v AS DOUBLE)), 6) AS cr
         |        FROM comp GROUP BY 1, 2)
         |  GROUP BY 1),
         |pts AS (SELECT vec_id, label AS plab, embedding AS pv FROM embeddings),
         |d AS (SELECT vec_id, plab, clab,
         |  1 - round(${dotSql("pv", "centroid")} /
         |    (sqrt(${dotSql("pv", "pv")}) *
         |     sqrt(${dotSql("centroid", "centroid")})), 6) AS dd
         |  FROM pts, cent),
         |ab AS (SELECT vec_id, plab,
         |  max(CASE WHEN plab = clab THEN dd END) AS a,
         |  min(CASE WHEN plab <> clab THEN dd END) AS b
         |  FROM d GROUP BY 1, 2),
         |s AS (SELECT plab, CASE WHEN greatest(a, b) = 0 THEN 0.0
         |    ELSE round((b - a) / greatest(a, b), 6) END AS sv FROM ab)
         |SELECT plab AS label, CAST(count(*) AS BIGINT) AS n,
         |  round(avg(sv), 6) AS mean_silhouette
         |FROM s GROUP BY 1""".stripMargin,

    "ml_conformal_threshold" ->
      s"""WITH comp AS (SELECT label, generate_subscripts(embedding, 1) AS pos,
         |    unnest(embedding) AS v FROM embeddings),
         |cent AS (SELECT label AS clab, list(cr ORDER BY pos) AS centroid
         |  FROM (SELECT label, pos, round(avg(CAST(v AS DOUBLE)), 6) AS cr
         |        FROM comp GROUP BY 1, 2)
         |  GROUP BY 1),
         |sc AS (SELECT e.label AS lab,
         |  round(1 - round(${dotSql("e.embedding", "centroid")} /
         |    (sqrt(${dotSql("e.embedding", "e.embedding")}) *
         |     sqrt(${dotSql("centroid", "centroid")})), 6), 6) AS s
         |  FROM embeddings e JOIN cent ON e.label = cent.clab),
         |rk AS (SELECT lab, s, row_number() OVER (PARTITION BY lab ORDER BY s)
         |    AS rn, count(*) OVER (PARTITION BY lab) AS n FROM sc),
         |qh AS (SELECT lab, n, s AS qhat FROM rk
         |  WHERE rn = least(n, ((n + 1) * 9000 + 9999) // 10000)),
         |cov AS (SELECT r.lab, count(*) AS covered
         |  FROM rk r JOIN qh ON r.lab = qh.lab WHERE r.s <= qh.qhat
         |  GROUP BY 1)
         |SELECT qh.lab AS label, CAST(qh.n AS BIGINT) AS n, qh.qhat,
         |  round(CAST(covered AS DOUBLE) / qh.n, 6) AS coverage
         |FROM qh JOIN cov ON qh.lab = cov.lab""".stripMargin,

    // Unrolled greedy MMR rounds; λ and (1 − λ) are computed as the same
    // IEEE expressions the engine plans (1.0 - 0.7 ≠ the literal 0.3);
    // penalties and scores re-quantize to 6 dp before every argmax.
    "ann_mmr_rerank" -> {
      val selectK = 3
      def cos(a: String, b: String) =
        s"round(${dotSql(a, b)} / (sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)})), 6)"
      val base =
        s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv
           |  FROM embeddings WHERE $QueryPred),
           |c AS (SELECT vec_id AS cand_id, embedding AS cv FROM embeddings),
           |sc AS (SELECT query_id, cand_id, ${cos("qv", "cv")} AS rel, cv
           |  FROM q, c WHERE query_id <> cand_id),
           |pool AS (SELECT query_id, cand_id, rel, cv FROM (
           |  SELECT *, row_number() OVER (PARTITION BY query_id
           |    ORDER BY rel DESC, cand_id) AS rn FROM sc) WHERE rn <= 10),
           |s0 AS (SELECT query_id, cand_id, rel, cv, 0 AS r
           |  FROM pool WHERE false)""".stripMargin
      val steps = (1 to selectK).map { k =>
        s""",
           |rem$k AS (SELECT p.* FROM pool p
           |  LEFT JOIN s${k - 1} s
           |    ON p.query_id = s.query_id AND p.cand_id = s.cand_id
           |  WHERE s.cand_id IS NULL),
           |pen$k AS (SELECT p.query_id, p.cand_id, p.rel, p.cv,
           |    round(0.7 * p.rel - (1.0 - 0.7) * coalesce(mx.pen, 0.0), 6)
           |      AS mmr
           |  FROM rem$k p LEFT JOIN (
           |    SELECT p2.query_id, p2.cand_id,
           |        max(${cos("p2.cv", "s.cv")}) AS pen
           |      FROM rem$k p2 JOIN s${k - 1} s ON p2.query_id = s.query_id
           |      GROUP BY 1, 2) mx
           |    ON p.query_id = mx.query_id AND p.cand_id = mx.cand_id),
           |pick$k AS (SELECT query_id, cand_id, rel, cv, $k AS r FROM (
           |    SELECT *, row_number() OVER (PARTITION BY query_id
           |      ORDER BY mmr DESC, cand_id) AS rn2 FROM pen$k)
           |  WHERE rn2 = 1),
           |s$k AS (SELECT * FROM s${k - 1} UNION ALL SELECT * FROM pick$k)""".stripMargin
      }.mkString
      base + steps +
        s"\nSELECT query_id, cand_id, rel AS relevance," +
        s" CAST(r AS INTEGER) AS mmr_rank FROM s$selectK"
    },

    // Assignment = argmax 6-dp cosine to the label-fitted centroids
    // (ties → smallest cluster); equal-share quotas complete by largest
    // remainder (+1 to the biggest clusters, ties → smallest id); the
    // pick is the md5-uniform rank — the engine's pre-thin keeps the
    // selected set identical, so the oracle omits it.
    "sample_cluster_balanced" ->
      s"""WITH comp AS (SELECT label, generate_subscripts(embedding, 1) AS pos,
         |    unnest(embedding) AS v FROM embeddings),
         |cent AS (SELECT label AS clab, list(cr ORDER BY pos) AS centroid
         |  FROM (SELECT label, pos, round(avg(CAST(v AS DOUBLE)), 6) AS cr
         |        FROM comp GROUP BY 1, 2)
         |  GROUP BY 1),
         |pts AS (SELECT vec_id, embedding AS pv FROM embeddings),
         |d AS (SELECT vec_id, CAST(clab AS BIGINT) AS clab,
         |  round(${dotSql("pv", "centroid")} /
         |    (sqrt(${dotSql("pv", "pv")}) *
         |     sqrt(${dotSql("centroid", "centroid")})), 6) AS cs
         |  FROM pts, cent),
         |asg AS (SELECT vec_id, clab AS cluster FROM (
         |  SELECT vec_id, clab, row_number() OVER (PARTITION BY vec_id
         |    ORDER BY cs DESC, clab) AS rn FROM d) WHERE rn = 1),
         |sz AS (SELECT cluster, count(*) AS n FROM asg GROUP BY 1),
         |kq AS (SELECT cluster, n, count(*) OVER () AS k,
         |    row_number() OVER (ORDER BY n DESC, cluster) AS rk FROM sz),
         |q AS (SELECT cluster, least(n, (300 // k) +
         |    CASE WHEN rk <= 300 - (300 // k) * k THEN 1 ELSE 0 END) AS quota
         |  FROM kq),
         |r AS (SELECT vec_id, cluster, row_number() OVER (
         |    PARTITION BY cluster
         |    ORDER BY ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))
         |        ::BIGINT / 4294967296.0, vec_id) AS rn
         |  FROM asg)
         |SELECT r.vec_id, r.cluster FROM r JOIN q USING (cluster)
         |WHERE r.rn <= q.quota""".stripMargin
  )
}
