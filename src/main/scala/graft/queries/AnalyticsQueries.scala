package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{Changelog, DataQuality, Stats, TsAnalytics}
import graft.sources.Tables

/** Warehouse-maintenance, time-series-diagnostic, and data-quality gates
  * (SURVEY §2.12 L182–L193): CDC apply, SCD2 history, pivot datacard,
  * time-weighted averages, rolling autocorrelation, CUSUM change points,
  * seasonal-naive eval, completeness, referential integrity, Benford,
  * Wilson intervals, and Markov transitions — each mirrored by an exact
  * DuckDB oracle.
  */
object AnalyticsQueries {

  type Q = (SparkSession, String) => DataFrame

  private val docSources: Seq[String] = (0 until 20).map(i => s"src$i")

  /** Shared DuckDB CTE chain replaying `Classify.logisticFit` over the
    * 32-dim hashed features: base (features, labels, N, zero weights)
    * plus one score → residual → gradient → update step per round.
    */
  // Shared STL-lite CTE chain (hourly integer-cent totals → floor-avg
  // trend → exact-ratio seasonal), reused by the decomposition and the
  // anomaly gates.
  private val stlCtes =
    """h AS (SELECT user_id,
      |    epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS hour_bucket,
      |    sum(CAST(round(value * 100) AS BIGINT)) AS vc
      |  FROM events GROUP BY 1, 2),
      |t AS (SELECT user_id, hour_bucket, vc,
      |    CAST(floor(CAST(sum(vc) OVER w AS DOUBLE)
      |      / (count(*) OVER w)) AS BIGINT) AS tc
      |  FROM h
      |  WINDOW w AS (PARTITION BY user_id ORDER BY hour_bucket
      |    ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)),
      |s AS (SELECT *,
      |    CAST(sum(vc - tc) OVER ws AS DOUBLE) / (count(*) OVER ws) AS sc
      |  FROM t
      |  WINDOW ws AS (PARTITION BY user_id, hour_bucket % 24))"""
      .stripMargin

  private def logregCtes(iters: Int): String = {
    val base =
      s"""WITH ${TextQueries.wordsCte},
         |tok AS (SELECT doc_id, unnest(ws) AS w FROM words),
         |h AS (SELECT doc_id,
         |  ('0x' || substr(md5(w), 1, 6))::BIGINT % 32 AS bucket,
         |  1 - 2 * (('0x' || substr(md5(w), 7, 1))::BIGINT % 2) AS s
         |  FROM tok),
         |feats AS (SELECT doc_id, bucket,
         |    CAST(sum(s) AS DOUBLE) AS x
         |  FROM h GROUP BY 1, 2 HAVING sum(s) <> 0),
         |lab AS (SELECT doc_id,
         |    CASE WHEN n_chars > 800 THEN 1.0 ELSE 0.0 END AS y
         |  FROM documents),
         |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
         |w0 AS (SELECT unnest(range(0, 32)) AS bucket, 0.0 AS wv)"""
        .stripMargin
    val steps = (1 to iters).map { k =>
      s""",
         |s$k AS (SELECT f.doc_id, sum(f.x * w.wv) AS score
         |  FROM feats f JOIN w${k - 1} w USING (bucket) GROUP BY 1),
         |r$k AS (SELECT l.doc_id,
         |    l.y - 1.0 / (1.0 + exp(-coalesce(s.score, 0.0))) AS resid
         |  FROM lab l LEFT JOIN s$k s USING (doc_id)),
         |g$k AS (SELECT f.bucket,
         |    sum(f.x * r.resid) / (SELECT n FROM nn) AS grad
         |  FROM feats f JOIN r$k r USING (doc_id) GROUP BY 1),
         |w$k AS (SELECT w.bucket,
         |    w.wv + 0.1 * coalesce(g.grad, 0.0) AS wv
         |  FROM w${k - 1} w LEFT JOIN g$k g USING (bucket))"""
        .stripMargin
    }.mkString
    base + steps
  }

  def defs: Map[String, Q] = Map(
    // L182: changelog compaction + latest-wins snapshot merge. The
    // changelog is derived from events (error ⇒ delete, else upsert of
    // `value`); the snapshot is customer acctbal keyed by custkey.
    "cdc_apply_changelog" -> { (s, dir) =>
      val snap = Tables.customer(s, dir)
        .select(col("c_custkey").as("user_id"), col("c_acctbal").as("value"))
      val changes = Tables.events(s, dir)
        .select(col("user_id"), unix_micros(col("ts")).as("seq_us"),
          col("event_id"),
          when(col("event_type") === "error", lit("D")).otherwise(lit("U"))
            .as("op"),
          col("value"))
      Changelog.cdcApply(snap, changes, "user_id", "seq_us", "event_id",
        "op", "value")
    },

    // L183: SCD type-2 validity intervals over the per-user event-type
    // attribute stream (consecutive duplicates collapse).
    "scd2_history_build" -> { (s, dir) =>
      val changes = Tables.events(s, dir)
        .select(col("user_id"), unix_micros(col("ts")).as("seq_us"),
          col("event_id"), col("event_type"))
      Changelog.scd2History(changes, "user_id", "seq_us", "event_id",
        "event_type")
        .select(col("user_id"), col("event_type"), col("from_us"),
          col("to_us"), col("is_current"))
    },

    // L184: pivoted lang × source datacard (explicit value list so the
    // output schema is static; absent cells read 0, not null).
    "a19_pivot_lang_source" -> { (s, dir) =>
      val piv = Tables.documents(s, dir)
        .groupBy(col("lang")).pivot("source", docSources)
        .agg(count(lit(1)))
      docSources.foldLeft(piv) { (df, c) =>
        df.withColumn(c, coalesce(col(c), lit(0L)))
      }
    },

    // L185: per-user time-weighted average over irregular samples.
    "a20_time_weighted_avg" -> { (s, dir) =>
      TsAnalytics.timeWeightedAvg(Tables.events(s, dir), "user_id", "ts",
        "value", "event_id")
    },

    // L186: rolling lag-1 autocorrelation, trailing 20-row frame.
    "w14_rolling_autocorr" -> { (s, dir) =>
      TsAnalytics.rollingAutocorr(Tables.events(s, dir), "user_id", "ts",
        "value", "event_id", frameRows = 20)
    },

    // L187: CUSUM change-point per user.
    "ts_cusum_changepoint" -> { (s, dir) =>
      TsAnalytics.cusumChangepoint(Tables.events(s, dir), "user_id", "ts",
        "value", "event_id")
    },

    // L188: seasonal-naive forecast eval (24-hour season) per user.
    "ts_seasonal_naive_eval" -> { (s, dir) =>
      TsAnalytics.seasonalNaiveEval(Tables.events(s, dir), "user_id", "ts",
        "value", "event_id", seasonHours = 24)
    },

    // L189: hourly sampling-completeness report per user.
    "a21_completeness_gaps" -> { (s, dir) =>
      TsAnalytics.completenessReport(Tables.events(s, dir), "user_id", "ts")
    },

    // L190: referential-integrity orphan audit over the star schema.
    "dq_referential_integrity" -> { (s, dir) =>
      DataQuality.referentialIntegrity(Seq(
        DataQuality.Relation("lineitem->orders", Tables.lineitem(s, dir),
          "l_orderkey", Tables.orders(s, dir), "o_orderkey"),
        DataQuality.Relation("lineitem->part", Tables.lineitem(s, dir),
          "l_partkey", Tables.part(s, dir), "p_partkey"),
        DataQuality.Relation("lineitem->supplier", Tables.lineitem(s, dir),
          "l_suppkey", Tables.supplier(s, dir), "s_suppkey"),
        DataQuality.Relation("orders->customer", Tables.orders(s, dir),
          "o_custkey", Tables.customer(s, dir), "c_custkey")))
    },

    // L191: Benford first-digit screen on extended price.
    "dq_benford_digits" -> { (s, dir) =>
      DataQuality.benfordDigits(Tables.lineitem(s, dir), "l_extendedprice")
    },

    // L192: Wilson 95% interval on the per-source long-document share.
    "dq_wilson_ci" -> { (s, dir) =>
      DataQuality.wilsonShare(Tables.documents(s, dir), "source",
        col("n_chars") > 800)
    },

    // L250: per-column null/distinct data-card profile of lineitem.
    "dq_null_profile" -> { (s, dir) =>
      DataQuality.nullProfile(Tables.lineitem(s, dir),
        Seq("l_orderkey", "l_partkey", "l_returnflag", "l_shipdate",
          "l_quantity"))
    },

    // L248: ingest-freshness report per event type (lag vs frontier).
    "dq_freshness" -> { (s, dir) =>
      DataQuality.freshnessReport(Tables.events(s, dir), "event_type",
        "ts", staleAfterHours = 24)
    },

    // L249: DAU + exact trailing 7-day WAU via the coverage explode.
    "a29_active_users" -> { (s, dir) =>
      TsAnalytics.activeUsers(Tables.events(s, dir), "user_id", "ts")
    },

    // Corpus version diff: the "new crawl" is derived deterministically
    // from documents (drop id%17, rewrite id%13, add shifted ids for
    // id%19) so every status bucket is populated; content hashes map-side
    // — text never crosses the full-outer id join.
    "dq_corpus_diff" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val newV = docs.filter(pmod(col("doc_id"), lit(17)) =!= 0)
        .select(col("doc_id"),
          when(pmod(col("doc_id"), lit(13)) === 0,
            concat(col("text"), lit(" revised"))).otherwise(col("text"))
            .as("text"),
          col("source"))
        .unionByName(docs.filter(pmod(col("doc_id"), lit(19)) === 0)
          .select((col("doc_id") + 100000L).as("doc_id"), col("text"),
            col("source")))
      DataQuality.corpusDiff(docs, newV, "doc_id", "text", "source")
    },

    // Welch's unequal-variance t between two event types' value
    // distributions — the A/B read-out (t + Welch–Satterthwaite dof;
    // p-values are libm-divergent cross-engine and stay out).
    "ab_test_welch_t" -> { (s, dir) =>
      Stats.welchTTest(Tables.events(s, dir), "event_type", "value",
        groupA = "click", groupB = "view")
    },

    // L269: Mann–Whitney U between the same two arms — the rank-based
    // companion read-out (heavy-tail-robust); exact-integer midranks,
    // tie-corrected z.
    "ab_test_mann_whitney" -> { (s, dir) =>
      Stats.mannWhitneyU(Tables.events(s, dir), "event_type", "value",
        groupA = "click", groupB = "view")
    },

    // L270: Kruskal–Wallis H across ALL event types (the "any arm
    // differs" omnibus, nonparametric).
    "ab_test_kruskal_wallis" -> { (s, dir) =>
      Stats.kruskalWallis(Tables.events(s, dir), "event_type", "value")
    },

    // L271: one-way ANOVA F over the same k arms — the parametric
    // omnibus from pure group moments.
    "ab_test_anova_f" -> { (s, dir) =>
      Stats.anovaF(Tables.events(s, dir), "event_type", "value")
    },

    // L272: lead–lag cross-correlation between the hourly click and
    // view mean-value series (does one metric anticipate the other) —
    // the lag join runs on the tiny bucketed frames, never on events.
    "ts_cross_correlation" -> { (s, dir) =>
      TsAnalytics.crossCorrelation(Tables.events(s, dir), "ts", "value",
        "event_type", seriesA = "click", seriesB = "view",
        bucket = "hour", maxLag = 6)
    },

    // L273: Goh–Barabási burstiness + CV of per-user inter-arrival
    // gaps — the traffic-shape fingerprint (scheduler vs human vs
    // retry storm).
    "ts_burstiness" -> { (s, dir) =>
      TsAnalytics.burstiness(Tables.events(s, dir), "user_id", "ts",
        tieCol = "event_id")
    },

    // L269: Spearman ρ between event value and event time — the
    // monotone-drift read-out (rank-exact under ties, integer-Long
    // moment sums).
    "ml_spearman_corr" -> { (s, dir) =>
      Stats.spearmanCorr(Tables.events(s, dir)
          .select(col("value"), unix_micros(col("ts")).as("ts_us")),
        "value", "ts_us")
    },

    // L270: Levene's variance-homogeneity W across all event-type
    // arms — the assumption check in front of ab_test_anova_f.
    "ab_test_levene" -> { (s, dir) =>
      Stats.leveneTest(Tables.events(s, dir), "event_type", "value")
    },

    // L271: Cohen's d + Hedges' g between the two A/B arms — effect
    // MAGNITUDE to pair with ab_test_welch_t's significance.
    "ab_test_effect_size" -> { (s, dir) =>
      Stats.cohensD(Tables.events(s, dir), "event_type", "value",
        groupA = "click", groupB = "view")
    },

    // L272: degree assortativity of the customer–supplier trade graph
    // (bipartite → expect ρ < 0: hubs attach to leaves).
    "graph_assortativity" -> { (s, dir) =>
      // r16 opt (guide §2.3 — narrower types through the shuffle): the
      // edge set is distinct'd on the INT key pair and only surviving
      // edges concat to node labels; the labeling is injective, so the
      // edge set is identical while the distinct shuffles int pairs
      // instead of ~12-char strings.
      val eDir = Tables.orders(s, dir)
        .join(Tables.lineitem(s, dir), col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey"), col("l_suppkey")).distinct()
        .select(concat(lit("c"), col("o_custkey")).as("src"),
          concat(lit("s"), col("l_suppkey")).as("dst"))
      graft.ops.Graph.assortativity(eDir, "src", "dst")
    },

    // L276: Cramér's V over the language × source contingency — is
    // language mix a property of the source?
    "ml_cramers_v" -> { (s, dir) =>
      Stats.cramersV(Tables.documents(s, dir), "lang", "source")
    },

    // L277: exact 5%-trimmed mean of event values (rank-exact, no
    // sketch) — the robust location summary.
    "a30_trimmed_mean" -> { (s, dir) =>
      Stats.trimmedMean(Tables.events(s, dir), "value", "event_id",
        trimBp = 500)
    },

    // L278: deterministic randomization test between the A/B arms —
    // 32 hash-relabeled replicas, report the extremeness RANK (no
    // libm tails).
    "ab_test_permutation" -> { (s, dir) =>
      Stats.permutationTest(Tables.events(s, dir), "event_id",
        "event_type", "value", groupA = "click", groupB = "view",
        replicas = 32)
    },

    // L279: cumulative lift / gains deciles of the n_chars "model"
    // against the src0 label — the aucRoc inputs, bucketized.
    "ml_lift_curve" -> { (s, dir) =>
      Stats.liftCurve(Tables.documents(s, dir),
        col("source") === "src0", "n_chars", "doc_id", buckets = 10)
    },

    // L282: Krippendorff's α over per-user event-type "judgments" —
    // variable raters per item, the multi-rater agreement companion to
    // ml_cohens_kappa.
    "ml_krippendorff_alpha" -> { (s, dir) =>
      Stats.krippendorffAlpha(Tables.events(s, dir), "user_id",
        "event_type")
    },

    // L283: local clustering coefficient on the co-purchase graph
    // (same relative-support edge floor as the triangles gate).
    "graph_clustering_coeff" -> { (s, dir) =>
      val items = Tables.lineitem(s, dir)
        .select(col("l_orderkey").as("b"), col("l_partkey").as("i"))
        .distinct()
      val minpc = items.agg(greatest(lit(2L),
        expr("(count(DISTINCT b) + 9999) div 10000")).as("minpc"))
      val edges = items.join(
          items.select(col("b"), col("i").as("j")), Seq("b"))
        .filter(col("i") < col("j"))
        .groupBy(col("i"), col("j")).agg(count(lit(1)).as("pc"))
        .crossJoin(broadcast(minpc))
        .filter(col("pc") >= col("minpc"))
        .select(col("i").as("src"), col("j").as("dst"))
      graft.ops.Graph.clusteringCoefficient(edges, "src", "dst")
    },

    // Bradley–Terry preference strengths (3 MM rounds) over per-user
    // "best vs worst event type" judgments — the RLHF preference-
    // aggregation primitive, with the PageRank unrolled-oracle
    // discipline. Winner/loser pick is the (value, event_id) struct
    // extremum, so ties never reach the type column.
    "pref_bradley_terry" -> { (s, dir) =>
      val ev = Tables.events(s, dir)
        .filter(col("value").isNotNull && col("event_type").isNotNull)
      val judged = ev.groupBy(col("user_id"))
        .agg(max(struct(col("value"), col("event_id"), col("event_type")))
            .as("__w"),
          min(struct(col("value"), col("event_id"), col("event_type")))
            .as("__l"))
        .select(col("__w.event_type").as("winner"),
          col("__l.event_type").as("loser"))
      graft.ops.Preference.bradleyTerry(judged, "winner", "loser", rounds = 3)
    },

    // L193: first-order event-type transition matrix.
    "events_transition_matrix" -> { (s, dir) =>
      DataQuality.transitionMatrix(Tables.events(s, dir), "user_id", "ts",
        "event_id", "event_type")
    },

    // L242: stationary distribution of that chain (3 power rounds,
    // per-round 6-dp re-quantization).
    "events_markov_stationary" -> { (s, dir) =>
      Stats.markovStationary(Tables.events(s, dir), "user_id", "ts",
        "event_id", "event_type", iterations = 3)
    },

    // L243: deterministic Poisson-bootstrap 95% CI for the global mean
    // event value (32 replicas at the gate — the fan-out scales the
    // bench linearly in B, and 32 already pins the whole machinery;
    // the op default stays 64).
    "stats_bootstrap_ci" -> { (s, dir) =>
      Stats.bootstrapMeanCi(Tables.events(s, dir), "event_id", "value",
        replicas = 32, alphaBp = 500)
    },

    // L194: per-user EWMA (α = 0.3) via sorted-list fold.
    "ts_ewma" -> { (s, dir) =>
      TsAnalytics.ewma(Tables.events(s, dir), "user_id", "ts", "value",
        "event_id", alpha = 0.3)
    },

    // L195: point-in-time SCD2 dimension lookup — each click reads the
    // user's state (last signup/purchase attribute) valid at click time.
    "scd2_asof_lookup" -> { (s, dir) =>
      val ev = Tables.events(s, dir)
      val changes = ev
        .filter(col("event_type").isin("signup", "purchase"))
        .select(col("user_id"), unix_micros(col("ts")).as("seq_us"),
          col("event_id"), col("event_type"))
      val hist = Changelog.scd2History(changes, "user_id", "seq_us",
        "event_id", "event_type")
      Changelog.dimensionLookup(ev.filter(col("event_type") === "click"),
        hist, "user_id", "ts", "event_id", "event_type")
    },

    // L196: position-based (40/20/40) multi-touch attribution.
    "attribution_position_based" -> { (s, dir) =>
      graft.ops.Funnel.positionBasedAttribution(Tables.events(s, dir),
        "user_id", "ts", "event_type", "event_id",
        conversionType = "purchase", touchTypes = Seq("view", "click"),
        windowSec = 86400L)
    },

    // L197: incremental join maintenance — the pre-cutoff fact⋈dim
    // result is treated as the stored base; only post-cutoff facts join.
    "a22_incremental_join" -> { (s, dir) =>
      val orders = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_custkey").as("c_custkey"),
          col("o_totalprice"), col("o_orderdate"))
      val dim = Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_mktsegment"))
      val cutoff = to_timestamp(lit("1998-01-01"))
      val base = orders.filter(col("o_orderdate") < cutoff)
        .join(dim, Seq("c_custkey"))
      val delta = orders.filter(col("o_orderdate") >= cutoff)
      Changelog.incrementalJoin(base, delta, dim, Seq("c_custkey"))
        .select(col("o_orderkey"), col("c_custkey"), col("c_mktsegment"),
          col("o_totalprice"))
    },

    // L198: blocked entity resolution customer ↔ supplier (block = the
    // 3-digit name suffix; best match per customer by edit distance).
    "er_blocked_match" -> { (s, dir) =>
      DataQuality.entityMatch(
        Tables.customer(s, dir), "c_custkey", "c_name",
        Tables.supplier(s, dir), "s_suppkey", "s_name",
        blockOf = n => substring(n, 16, 3), maxDist = 6)
    },

    // L199: two-proportion z-test — arm by user-id parity, conversion =
    // any high-value purchase (a plain "any purchase" converts EVERY
    // user at this event density: pooled variance 0, no test).
    "ab_test_ztest" -> { (s, dir) =>
      Stats.twoProportionZTest(Tables.events(s, dir), "user_id",
        armA = col("user_id") % 2 === 0,
        success = col("event_type") === "purchase" && col("value") > 150.0)
    },

    // L202: Kaplan–Meier survival — signup → first error, censored at
    // last activity.
    "survival_km_curve" -> { (s, dir) =>
      graft.ops.Survival.kaplanMeier(Tables.events(s, dir), "user_id",
        "ts", "event_type", startType = "signup", eventType = "error")
    },

    // L203: primary-key uniqueness audit; lineitem keyed by l_orderkey
    // is DELIBERATELY non-unique so the report exercises the dup path.
    "dq_key_uniqueness" -> { (s, dir) =>
      DataQuality.keyUniqueness(Seq(
        DataQuality.KeyedTable("customer", Tables.customer(s, dir), "c_custkey"),
        DataQuality.KeyedTable("orders", Tables.orders(s, dir), "o_orderkey"),
        DataQuality.KeyedTable("documents", Tables.documents(s, dir), "doc_id"),
        DataQuality.KeyedTable("lineitem_by_orderkey",
          Tables.lineitem(s, dir), "l_orderkey")))
    },

    // L204: Zipf rank-frequency slope over the top-100 vocabulary.
    "text_zipf_slope" -> { (s, dir) =>
      graft.ops.TextAnalysis.zipfSlope(Tables.documents(s, dir), "text",
        topV = 100)
    },

    // L206: PageRank centrality over the symmetrized customer–supplier
    // trade graph (orders ⋈ lineitem), 3 power iterations (the gate pins
    // the recurrence; production picks iterations by tolerance).
    "graph_pagerank" -> { (s, dir) =>
      // r16 opt (guide §2.3 — narrower types through the shuffle): the
      // edge set is distinct'd on the INT key pair and only surviving
      // edges concat to node labels; the labeling is injective, so the
      // edge set is identical while the distinct shuffles int pairs
      // instead of ~12-char strings.
      val eDir = Tables.orders(s, dir)
        .join(Tables.lineitem(s, dir), col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey"), col("l_suppkey")).distinct()
        .select(concat(lit("c"), col("o_custkey")).as("src"),
          concat(lit("s"), col("l_suppkey")).as("dst"))
      graft.ops.Graph.pagerank(eDir, "src", "dst", iterations = 3,
        symmetrize = true)
    },

    // L206b: PageRank on the raw DIRECTED customer→supplier graph —
    // suppliers are pure sinks (dangling) and customers pure sources
    // (isolates), so this gate exercises the dangling-mass
    // redistribution path end to end (Σrank stays 1; see GraphSpec).
    "graph_pagerank_dangling" -> { (s, dir) =>
      // r16 opt (guide §2.3 — narrower types through the shuffle): the
      // edge set is distinct'd on the INT key pair and only surviving
      // edges concat to node labels; the labeling is injective, so the
      // edge set is identical while the distinct shuffles int pairs
      // instead of ~12-char strings.
      val eDir = Tables.orders(s, dir)
        .join(Tables.lineitem(s, dir), col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey"), col("l_suppkey")).distinct()
        .select(concat(lit("c"), col("o_custkey")).as("src"),
          concat(lit("s"), col("l_suppkey")).as("dst"))
      graft.ops.Graph.pagerank(eDir, "src", "dst", iterations = 3,
        handleDangling = true)
    },

    // L223: personalized PageRank from the nation-1 customer seed set
    // over the symmetrized trade graph — sparse frontier, 3 rounds.
    "graph_ppr" -> { (s, dir) =>
      // r16 opt (guide §2.3 — narrower types through the shuffle): the
      // edge set is distinct'd on the INT key pair and only surviving
      // edges concat to node labels; the labeling is injective, so the
      // edge set is identical while the distinct shuffles int pairs
      // instead of ~12-char strings.
      val eDir = Tables.orders(s, dir)
        .join(Tables.lineitem(s, dir), col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey"), col("l_suppkey")).distinct()
        .select(concat(lit("c"), col("o_custkey")).as("src"),
          concat(lit("s"), col("l_suppkey")).as("dst"))
      // r16 opt: materialize the DIRECTED edge set once before the
      // symmetrizing union — uncheckpointed, the join+distinct derivation
      // executes twice (once per union branch) inside the op's own edge
      // materialization. Same rows, one derivation. LAZY (r16 advice):
      // eager=true ran a real job at query-CONSTRUCTION time, so
      // explain-only paths (ExplainDump) and any harness timing
      // construction executed a materialization the measurement never saw.
      val eDirC = eDir.localCheckpoint(false)
      val e = eDirC.unionByName(
        eDirC.select(col("dst").as("src"), col("src").as("dst")))
      val seeds = Tables.customer(s, dir)
        .filter(col("c_nationkey") === 1)
        .select(concat(lit("c"), col("c_custkey")).as("seed"))
      graft.ops.Graph.personalizedPagerank(e, "src", "dst", seeds, "seed",
        iterations = 3)
    },

    // L224: HITS hubs/authorities on the DIRECTED trade graph (customers
    // are pure hubs, suppliers pure authorities — the bipartite shape
    // makes the fixture self-checking), 2 rounds.
    "graph_hits" -> { (s, dir) =>
      // r16 opt (guide §2.3 — narrower types through the shuffle): the
      // edge set is distinct'd on the INT key pair and only surviving
      // edges concat to node labels; the labeling is injective, so the
      // edge set is identical while the distinct shuffles int pairs
      // instead of ~12-char strings.
      val eDir = Tables.orders(s, dir)
        .join(Tables.lineitem(s, dir), col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey"), col("l_suppkey")).distinct()
        .select(concat(lit("c"), col("o_custkey")).as("src"),
          concat(lit("s"), col("l_suppkey")).as("dst"))
      graft.ops.Graph.hits(eDir, "src", "dst", iterations = 2)
    },

    // L225: synchronous label propagation (2 rounds, mode label with
    // min tie-break) over the symmetrized trade graph.
    "graph_label_prop" -> { (s, dir) =>
      // r16 opt (guide §2.3 — narrower types through the shuffle): the
      // edge set is distinct'd on the INT key pair and only surviving
      // edges concat to node labels; the labeling is injective, so the
      // edge set is identical while the distinct shuffles int pairs
      // instead of ~12-char strings.
      val eDir = Tables.orders(s, dir)
        .join(Tables.lineitem(s, dir), col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey"), col("l_suppkey")).distinct()
        .select(concat(lit("c"), col("o_custkey")).as("src"),
          concat(lit("s"), col("l_suppkey")).as("dst"))
      graft.ops.Graph.labelPropagation(eDir, "src", "dst", iterations = 2)
    },

    // L226: mutual information between document language and source —
    // exact contingency counts, category-bounded cell sum.
    "ml_mutual_info" -> { (s, dir) =>
      Stats.mutualInfo(Tables.documents(s, dir), "lang", "source")
    },

    // L227: chi-square independence test on the same contingency, with
    // zero cells folded in algebraically (no marginal cross join).
    "dq_chi2_independence" -> { (s, dir) =>
      Stats.chiSquareIndependence(Tables.documents(s, dir), "lang", "source")
    },

    // L229: EXACT p50/p90/p99 via the range-partitioned rank — no
    // sketch error, no single-partition sort.
    "a26_exact_percentiles" -> { (s, dir) =>
      Stats.exactPercentiles(Tables.lineitem(s, dir), "l_extendedprice",
        Seq(0.5, 0.9, 0.99))
    },

    // L230: Holt double exponential smoothing per user (level + trend
    // + one-step forecast).
    "ts_holt_smoothing" -> { (s, dir) =>
      TsAnalytics.holtSmoothing(Tables.events(s, dir), "user_id", "ts",
        "value", "event_id", alpha = 0.3, beta = 0.2)
    },

    // L233: per-user interval-union coverage (5-minute activity
    // intervals; overlaps merge, integer micros end to end).
    "ts_interval_union" -> { (s, dir) =>
      val iv = Tables.events(s, dir).select(col("user_id"),
        unix_micros(col("ts")).as("start_us"),
        (unix_micros(col("ts")) + 300000000L).as("end_us"))
      TsAnalytics.intervalUnion(iv, "user_id", "start_us", "end_us")
    },

    // L237: exact ROC AUC (Mann–Whitney midranks over the range prefix
    // sum) of n_chars as a separator for source src0.
    "ml_auc_roc" -> { (s, dir) =>
      Stats.aucRoc(Tables.documents(s, dir), col("source") === "src0",
        "n_chars")
    },

    // L238: Neyman-allocation stratified sample — 200 docs split across
    // sources ∝ N_h·S_h of n_chars, hash-ranked deterministic pick.
    "sample_neyman" -> { (s, dir) =>
      graft.ops.Sampling.neymanSample(Tables.documents(s, dir), "doc_id",
        "source", "n_chars", totalN = 200)
    },

    // L239: STL-lite decomposition of each user's hourly series.
    "ts_stl_decompose" -> { (s, dir) =>
      TsAnalytics.stlDecompose(Tables.events(s, dir), "user_id", "ts",
        "value")
    },

    // L247: seasonally-adjusted anomalies (residual > 3 robust sigmas
    // of the user's own residual distribution).
    "ts_stl_anomalies" -> { (s, dir) =>
      TsAnalytics.stlAnomalies(Tables.events(s, dir), "user_id", "ts",
        "value", nSigma = 3.0)
    },

    // L246: bounded 3-core peel of the co-purchase graph (3 sweeps).
    "graph_kcore" -> { (s, dir) =>
      val items = Tables.lineitem(s, dir)
        .select(col("l_orderkey").as("b"), col("l_partkey").as("i"))
        .distinct()
      val minpc = items.agg(greatest(lit(2L),
        expr("(count(DISTINCT b) + 9999) div 10000")).as("minpc"))
      val edges = items.join(
          items.select(col("b"), col("i").as("j")), Seq("b"))
        .filter(col("i") < col("j"))
        .groupBy(col("i"), col("j")).agg(count(lit(1)).as("pc"))
        .crossJoin(broadcast(minpc))
        .filter(col("pc") >= col("minpc"))
        .select(col("i").as("src"), col("j").as("dst"))
      graft.ops.Graph.kcorePeel(edges, "src", "dst", k = 3, rounds = 3)
    },

    // L235: quantile normalization of n_chars across sources — every
    // source mapped onto the global marginal distribution.
    "ml_quantile_normalize" -> { (s, dir) =>
      Stats.quantileNormalize(Tables.documents(s, dir), "source",
        "n_chars", "doc_id")
    },

    // L236: per-source Kolmogorov–Smirnov drift of n_chars vs the rest
    // of the corpus (exact integer cross-multiplied ECDFs).
    "dq_ks_drift" -> { (s, dir) =>
      Stats.ksDrift(Tables.documents(s, dir), "source", "n_chars")
    },

    // L287: TWO-SNAPSHOT KS per source (ref = doc_id%3 crawl snapshot,
    // cur = the rest — the a18 yesterday/today split) — ksDrift re-aimed
    // at temporal drift, binning-free companion to psiByGroup; each side
    // is per-group sorted value cells, never a global cross join.
    "dq_ks_by_source" -> { (s, dir) =>
      val (ref, cur) = TextQueries.snapshotSplit(Tables.documents(s, dir))
      Stats.ksByGroup(ref, cur, "n_chars", "source")
    },

    // L296: per-source CATEGORICAL drift — Jensen–Shannon divergence of
    // each source's language mix between the two snapshot halves, the
    // category-column member of the drift family (PSI = binned numeric,
    // KS = continuous numeric, JS = categorical). Bounded by ln 2.
    "dq_js_by_source" -> { (s, dir) =>
      val (ref, cur) = TextQueries.snapshotSplit(Tables.documents(s, dir))
      Stats.jsByGroup(ref, cur, "lang", "source")
    },

    // L284 standalone: per-source PSI on the same snapshot split —
    // isolates psiByGroup for drift detection independent of the
    // admission composites that consume it.
    "dq_psi_by_source" -> { (s, dir) =>
      val (ref, cur) = TextQueries.snapshotSplit(Tables.documents(s, dir))
      Stats.psiByGroup(ref, cur, "n_chars", "source")
    },

    // L308: per-source PSI on EQUAL-MASS reference-quantile bins — the
    // heavy-tail-robust binning (fixed-width bins put ~all mass of a
    // skewed column in bin 0); exact order-statistic edges via the
    // range-partitioned rank recipe, applied map-side to both snapshots.
    "dq_psi_by_source_quantile" -> { (s, dir) =>
      val (ref, cur) = TextQueries.snapshotSplit(Tables.documents(s, dir))
      Stats.psiByGroupQuantile(ref, cur, "n_chars", "source")
    },

    // L300: UNIFIED DRIFT DATACARD — one row per source carrying the
    // whole drift family (psi binned / ks continuous / js categorical /
    // centroid-cosine + norm-ratio vector) from the same snapshot split,
    // over documents joined 1:1 to their embeddings. Each snapshot is
    // scanned once into a per-source profile that all four statistics read.
    "dq_drift_datacard" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
        .select(col("vec_id").as("doc_id"), col("embedding"))
      val j = Tables.documents(s, dir).join(emb, Seq("doc_id"))
      val (ref, cur) = TextQueries.snapshotSplit(j)
      DataQuality.driftDatacard(ref, cur, "source", "n_chars", "lang",
        "embedding")
    },

    // L231: rendezvous-hash shard assignment (8 shards) — map-side,
    // bit-stable across engines.
    "shard_rendezvous" -> { (s, dir) =>
      graft.ops.Routing.rendezvousAssign(
        Tables.customer(s, dir).select(col("c_custkey")), "c_custkey", 8)
    },

    // L232: reshard movement report 8 → 10 shards in one map-side pass.
    "shard_reshard_report" -> { (s, dir) =>
      graft.ops.Routing.reshardReport(
        Tables.customer(s, dir).select(col("c_custkey")), "c_custkey", 8, 10)
    },

    // L207: pairwise association rules over order baskets (min pair
    // count 2 = the Apriori support floor).
    "basket_association_rules" -> { (s, dir) =>
      graft.ops.Association.pairRules(Tables.lineitem(s, dir),
        "l_orderkey", "l_partkey", minPairCount = 2L)
    },

    // L208: per-node triangle participation on the co-purchase graph.
    // Edge floor is RELATIVE min-support — ceil(1e-4 × n_baskets), never
    // below 2 — in exact integer arithmetic ((n+9999) div 10000, no
    // float/decimal literal whose engine-specific type could flip the
    // ceil at a boundary). An absolute `pc >= 2` floor densifies the
    // graph as baskets grow over a fixed part universe (round-8 probe:
    // 4.8× super-linear at 10×); a share-of-baskets floor keeps edge
    // density scale-invariant. The 1-row threshold frame is broadcast —
    // structurally bounded, unlike a cluster map.
    "graph_triangles" -> { (s, dir) =>
      val items = Tables.lineitem(s, dir)
        .select(col("l_orderkey").as("b"), col("l_partkey").as("i"))
        .distinct()
      val minpc = items.agg(greatest(lit(2L),
        expr("(count(DISTINCT b) + 9999) div 10000")).as("minpc"))
      val edges = items.join(
          items.select(col("b"), col("i").as("j")), Seq("b"))
        .filter(col("i") < col("j"))
        .groupBy(col("i"), col("j")).agg(count(lit(1)).as("pc"))
        .crossJoin(broadcast(minpc))
        .filter(col("pc") >= col("minpc"))
        .select(col("i").as("src"), col("j").as("dst"))
      graft.ops.Graph.triangleCounts(edges, "src", "dst")
    },

    // L241: Adamic–Adar link prediction on the co-purchase graph (same
    // relative-support edge floor as the triangles gate).
    "graph_adamic_adar" -> { (s, dir) =>
      val items = Tables.lineitem(s, dir)
        .select(col("l_orderkey").as("b"), col("l_partkey").as("i"))
        .distinct()
      val minpc = items.agg(greatest(lit(2L),
        expr("(count(DISTINCT b) + 9999) div 10000")).as("minpc"))
      val edges = items.join(
          items.select(col("b"), col("i").as("j")), Seq("b"))
        .filter(col("i") < col("j"))
        .groupBy(col("i"), col("j")).agg(count(lit(1)).as("pc"))
        .crossJoin(broadcast(minpc))
        .filter(col("pc") >= col("minpc"))
        .select(col("i").as("src"), col("j").as("dst"))
      graft.ops.Graph.adamicAdar(edges, "src", "dst", minCommon = 2)
    },

    // L210: positional-index phrase search (exact 3-token sequence).
    "text_phrase_search" -> { (s, dir) =>
      graft.ops.TextAnalysis.phraseSearch(Tables.documents(s, dir),
        "doc_id", "text", Seq("part", "filter", "scan"))
    },

    // L211: top-10 frequent 3-step event paths.
    "events_top_paths" -> { (s, dir) =>
      graft.ops.Funnel.topPaths(Tables.events(s, dir), "user_id", "ts",
        "event_id", "event_type", k = 10)
    },

    // L221: robust MAD outlier report per event type.
    "dq_mad_outliers" -> { (s, dir) =>
      DataQuality.madOutliers(Tables.events(s, dir), "event_type", "value")
    },

    // L222: RFM quintile segmentation of customers over orders.
    "rfm_segments" -> { (s, dir) =>
      Stats.rfmQuintiles(Tables.orders(s, dir), "o_custkey",
        "o_orderdate", "o_totalprice")
    },

    // L217: year-over-year monthly revenue growth.
    "a23_yoy_monthly_growth" -> { (s, dir) =>
      Stats.periodGrowth(Tables.orders(s, dir), "o_orderdate",
        "o_totalprice", lagPeriods = 12)
    },

    // L218: Pareto revenue concentration by customer decile.
    "a24_pareto_share" -> { (s, dir) =>
      Stats.paretoDeciles(Tables.orders(s, dir), "o_custkey", "o_totalprice")
    },

    // L219: Gini coefficient of customer revenue concentration.
    "a25_gini_concentration" -> { (s, dir) =>
      Stats.gini(Tables.orders(s, dir), "o_custkey", "o_totalprice")
    },

    // L215: leave-one-out target encoding of event_type by value.
    "ml_target_encoding" -> { (s, dir) =>
      Stats.targetEncodeLoo(Tables.events(s, dir), "event_id",
        "event_type", "value")
    },

    // L216: calibration curve (reliability diagram) of the 3-round
    // logistic model: predicted-probability deciles vs observed rate.
    // Features feed BOTH the fit and the scoring pass — scoped-cache them
    // so the tokenize+hash explode runs once (10.9 s → fit-level at the
    // 10× probe without it).
    "ml_calibration_curve" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val feats = graft.ops.OpCaches.scoped(
        graft.ops.TextAnalysis.hashEmbeddingSparse(docs,
          "doc_id", "text", dim = 32))
      val labels = docs.select(col("doc_id"),
        when(col("n_chars") > 800, lit(1.0)).otherwise(lit(0.0)).as("y"))
      val w = graft.ops.Classify.logisticFit(feats, labels, "doc_id",
        "bucket", "weight", "y", dim = 32, iterations = 3, lr = 0.1)
      val preds = graft.ops.Classify.logisticPredict(feats, w,
        docs.select(col("doc_id")), "doc_id", "bucket", "weight")
      preds.join(labels, Seq("doc_id"))
        .select(least(floor(col("prob") * 10).cast("int"), lit(9))
          .as("bin"), col("prob"), col("y"))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n"),
          round(avg(col("prob")), 6).as("mean_predicted"),
          round(avg(col("y")), 6).as("observed_rate"))
    },

    // L214: logistic regression by 3 unrolled full-batch GD rounds over
    // hashed sparse features (label: long document).
    "text_logreg_weights" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val feats = graft.ops.TextAnalysis.hashEmbeddingSparse(docs,
        "doc_id", "text", dim = 32)
      val labels = docs.select(col("doc_id"),
        when(col("n_chars") > 800, lit(1.0)).otherwise(lit(0.0)).as("y"))
      graft.ops.Classify.logisticFit(feats, labels, "doc_id", "bucket",
          "weight", "y", dim = 32, iterations = 3, lr = 0.1)
        .select(col("bucket"), round(col("weight"), 5).as("weight"))
    },

    // L213: autocorrelation function, lags 1..5 per user.
    "ts_acf" -> { (s, dir) =>
      TsAnalytics.acf(Tables.events(s, dir), "user_id", "ts", "value",
        "event_id", maxLag = 5)
    },

    // L212: CUPED-adjusted A/B readout — post-period per-user value sum
    // adjusted by the pre-period covariate.
    "ab_test_cuped" -> { (s, dir) =>
      val cut = to_timestamp(lit("2024-01-16"))
      Stats.cupedAdjusted(Tables.events(s, dir), "user_id",
        armA = col("user_id") % 2 === 0,
        metric = when(col("ts") >= cut, col("value")).otherwise(lit(0.0)),
        covariate = when(col("ts") < cut, col("value")).otherwise(lit(0.0)))
    }
  )

  def oracles: Map[String, String] = Map(
    "cdc_apply_changelog" ->
      """WITH ch AS (SELECT user_id, value,
        |    CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(CAST(ts AS TIMESTAMP)) DESC,
        |               event_id DESC) AS rn
        |  FROM events),
        |latest AS (SELECT user_id, value, op FROM ch WHERE rn = 1),
        |snap AS (SELECT c_custkey AS user_id, c_acctbal AS value
        |  FROM customer)
        |SELECT coalesce(s.user_id, l.user_id) AS user_id,
        |  coalesce(l.value, s.value) AS value,
        |  CASE WHEN l.user_id IS NOT NULL THEN 'changelog'
        |    ELSE 'snapshot' END AS src
        |FROM snap s FULL OUTER JOIN latest l ON s.user_id = l.user_id
        |WHERE l.op IS NULL OR l.op <> 'D'""".stripMargin,

    // e1 keeps only the LAST change per (key, seq) — mirrors the op's
    // same-seq tie collapse (a zero-width interval never emits).
    "scd2_history_build" ->
      """WITH e0 AS (SELECT user_id, event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS seq_us, event_id
        |  FROM events),
        |e AS (SELECT user_id, event_type, seq_us, event_id FROM (
        |    SELECT *, lead(seq_us) OVER (PARTITION BY user_id
        |      ORDER BY seq_us, event_id) AS nseq FROM e0)
        |  WHERE nseq IS NULL OR nseq <> seq_us),
        |f AS (SELECT *, lag(event_type) OVER
        |    (PARTITION BY user_id ORDER BY seq_us, event_id) AS prev
        |  FROM e),
        |chg AS (SELECT user_id, event_type, seq_us, event_id FROM f
        |  WHERE prev IS NULL OR prev <> event_type)
        |SELECT user_id, event_type, seq_us AS from_us,
        |  lead(seq_us) OVER (PARTITION BY user_id
        |    ORDER BY seq_us, event_id) AS to_us,
        |  (lead(seq_us) OVER (PARTITION BY user_id
        |    ORDER BY seq_us, event_id)) IS NULL AS is_current
        |FROM chg""".stripMargin,

    "a19_pivot_lang_source" -> {
      val cells = docSources.map { s =>
        s"  CAST(sum(CASE WHEN source = '$s' THEN 1 ELSE 0 END) AS BIGINT) AS $s"
      }.mkString(",\n")
      s"SELECT lang,\n$cells\nFROM documents GROUP BY lang"
    },

    "a20_time_weighted_avg" ->
      """WITH g AS (SELECT user_id, value,
        |    CAST(lead(epoch_us(CAST(ts AS TIMESTAMP))) OVER
        |      (PARTITION BY user_id
        |       ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id)
        |      - epoch_us(CAST(ts AS TIMESTAMP)) AS DOUBLE) / 1e6 AS dt
        |  FROM events)
        |SELECT user_id,
        |  round(sum(value * dt) / sum(dt), 4) AS time_weighted_avg,
        |  round(sum(dt), 6) AS span_secs,
        |  count(*) AS n_intervals
        |FROM g WHERE dt IS NOT NULL GROUP BY user_id""".stripMargin,

    // The `+ 0` after round() normalizes IEEE signed zero: DuckDB's
    // round(x,4) of a tiny negative correlation returns -0.0 while Spark's
    // BigDecimal HALF_UP round returns +0.0 — numerically equal, but the
    // driver's hash encodes the sign bit (round-8 red on exactly 2 of
    // 7,000 cells). -0.0 + 0.0 = +0.0 by IEEE 754, so both engines agree.
    "w14_rolling_autocorr" ->
      """WITH b AS (SELECT user_id, event_id, value AS x,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
        |    lag(value) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS y
        |  FROM events),
        |f AS (SELECT user_id, ts_us, event_id,
        |    count(y) OVER w AS nf,
        |    CAST(count(y) OVER w AS DOUBLE) AS n,
        |    sum(CASE WHEN y IS NOT NULL THEN x END) OVER w AS sx,
        |    sum(y) OVER w AS sy,
        |    sum(CASE WHEN y IS NOT NULL THEN x * x END) OVER w AS sxx,
        |    sum(y * y) OVER w AS syy,
        |    sum(x * y) OVER w AS sxy
        |  FROM b
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id
        |    ROWS BETWEEN 19 PRECEDING AND CURRENT ROW))
        |SELECT user_id, ts_us, event_id,
        |  CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
        |    THEN round((n * sxy - sx * sy) /
        |      sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 4) + 0
        |    END AS autocorr
        |FROM f WHERE nf = 20""".stripMargin,

    "ts_cusum_changepoint" ->
      """WITH d AS (SELECT user_id, event_id, value,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
        |    value - avg(value) OVER (PARTITION BY user_id) AS dev,
        |    count(*) OVER (PARTITION BY user_id) AS n
        |  FROM events),
        |s AS (SELECT user_id, event_id, ts_us, n,
        |    sum(dev) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cs
        |  FROM d),
        |r AS (SELECT *, row_number() OVER (PARTITION BY user_id
        |    ORDER BY abs(cs) DESC, ts_us, event_id) AS rn FROM s)
        |SELECT user_id, n, ts_us AS changepoint_us,
        |  round(abs(cs), 4) AS max_abs_cusum
        |FROM r WHERE rn = 1""".stripMargin,

    // Mirror of TsAnalytics.seasonalNaiveEval: the MAE travels as exact
    // integer micro-units end to end (order-free sums, no fractional-dp
    // double round — those sit on engine-disagreeing half boundaries
    // with 2-dp inputs).
    "ts_seasonal_naive_eval" ->
      """WITH h AS (SELECT user_id,
        |    CAST(floor(epoch_us(CAST(ts AS TIMESTAMP)) / 3600000000)
        |      AS BIGINT) AS bucket,
        |    avg(value) AS y
        |  FROM events GROUP BY 1, 2),
        |j AS (SELECT a.user_id,
        |    CAST(round(abs(a.y - b.y) * 1e6) AS BIGINT) AS d_micro
        |  FROM h a JOIN h b
        |    ON a.user_id = b.user_id AND a.bucket = b.bucket + 24)
        |SELECT user_id, count(*) AS n_eval,
        |  CAST(round(CAST(sum(d_micro) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE)) AS BIGINT) AS mae_micro
        |FROM j GROUP BY user_id""".stripMargin,

    "a21_completeness_gaps" ->
      """WITH b AS (SELECT user_id,
        |    CAST(floor(epoch_us(CAST(ts AS TIMESTAMP)) / 3600000000)
        |      AS BIGINT) AS bucket, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |u AS (SELECT user_id,
        |    max(bucket) - min(bucket) + 1 AS expected_hours,
        |    count(*) AS present_hours, sum(n) AS n_events
        |  FROM b GROUP BY user_id)
        |SELECT user_id, expected_hours, present_hours,
        |  expected_hours - present_hours AS missing_hours,
        |  round(CAST(present_hours AS DOUBLE) /
        |    CAST(expected_hours AS DOUBLE), 6) AS coverage
        |FROM u""".stripMargin,

    "dq_referential_integrity" ->
      """WITH rel AS (
        |  SELECT 'lineitem->orders' AS relation, count(*) AS rows_total,
        |    CAST(sum(CASE WHEN o.k IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |      AS orphan_rows
        |  FROM lineitem l LEFT JOIN
        |    (SELECT DISTINCT o_orderkey AS k FROM orders) o
        |    ON l.l_orderkey = o.k
        |  UNION ALL
        |  SELECT 'lineitem->part', count(*),
        |    CAST(sum(CASE WHEN p.k IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM lineitem l LEFT JOIN
        |    (SELECT DISTINCT p_partkey AS k FROM part) p
        |    ON l.l_partkey = p.k
        |  UNION ALL
        |  SELECT 'lineitem->supplier', count(*),
        |    CAST(sum(CASE WHEN s.k IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM lineitem l LEFT JOIN
        |    (SELECT DISTINCT s_suppkey AS k FROM supplier) s
        |    ON l.l_suppkey = s.k
        |  UNION ALL
        |  SELECT 'orders->customer', count(*),
        |    CAST(sum(CASE WHEN c.k IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM orders o LEFT JOIN
        |    (SELECT DISTINCT c_custkey AS k FROM customer) c
        |    ON o.o_custkey = c.k)
        |SELECT relation, rows_total, orphan_rows,
        |  round(CAST(orphan_rows AS DOUBLE) /
        |    CAST(rows_total AS DOUBLE), 6) AS orphan_share
        |FROM rel""".stripMargin,

    // Mirrors the op's 1..9 digit spine: absent digits report n = 0.
    "dq_benford_digits" ->
      """WITH d AS (SELECT CAST(substr(CAST(
        |      CAST(round(l_extendedprice * 100) AS BIGINT) AS VARCHAR),
        |      1, 1) AS INT) AS digit
        |  FROM lineitem WHERE l_extendedprice > 0),
        |c0 AS (SELECT digit, count(*) AS n FROM d GROUP BY digit),
        |c AS (SELECT s.digit, CAST(coalesce(c0.n, 0) AS BIGINT) AS n
        |  FROM (SELECT CAST(unnest(range(1, 10)) AS INT) AS digit) s
        |  LEFT JOIN c0 ON s.digit = c0.digit),
        |t AS (SELECT sum(n) AS total FROM c)
        |SELECT digit, n,
        |  round(CAST(n AS DOUBLE) / CAST(total AS DOUBLE), 6) AS share,
        |  round(log10(1.0 + 1.0 / CAST(digit AS DOUBLE)), 6)
        |    AS benford_expected,
        |  round(pow(CAST(n AS DOUBLE) / CAST(total AS DOUBLE)
        |      - log10(1.0 + 1.0 / CAST(digit AS DOUBLE)), 2)
        |    / log10(1.0 + 1.0 / CAST(digit AS DOUBLE)), 6) AS chi2_term
        |FROM c, t""".stripMargin,

    "dq_wilson_ci" ->
      """WITH a AS (SELECT source, count(*) AS n,
        |    CAST(sum(CASE WHEN n_chars > 800 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS successes
        |  FROM documents GROUP BY source),
        |c AS (SELECT *, CAST(successes AS DOUBLE) / CAST(n AS DOUBLE) AS p,
        |    CAST(n AS DOUBLE) AS nd FROM a)
        |SELECT source, n, successes, round(p, 6) AS share,
        |  round((p + 3.8416 / (2.0 * nd)
        |    - 1.96 * sqrt(p * (1.0 - p) / nd + 3.8416 / (4.0 * nd * nd)))
        |    / (1.0 + 3.8416 / nd), 6) AS wilson_lo,
        |  round((p + 3.8416 / (2.0 * nd)
        |    + 1.96 * sqrt(p * (1.0 - p) / nd + 3.8416 / (4.0 * nd * nd)))
        |    / (1.0 + 3.8416 / nd), 6) AS wilson_hi
        |FROM c""".stripMargin,

    // list_reduce folds left seeding with the FIRST element — the same
    // convention as the Spark slice-and-seed fold; the (1.0 - 0.3)
    // complement is evaluated at runtime in both engines (a precomputed
    // 0.7 literal differs from 1-0.3 by one ulp).
    "ts_ewma" ->
      """WITH l AS (SELECT user_id, list(CAST(value AS DOUBLE)
        |    ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id) AS vs
        |  FROM events GROUP BY 1)
        |SELECT user_id, CAST(len(vs) AS BIGINT) AS n,
        |  round(list_reduce(vs, (acc, x) -> 0.3 * x + (1.0 - 0.3) * acc),
        |    4) AS ewma
        |FROM l""".stripMargin,

    "scd2_asof_lookup" ->
      """WITH e0 AS (SELECT user_id, event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS seq_us, event_id
        |  FROM events WHERE event_type IN ('signup', 'purchase')),
        |e AS (SELECT user_id, event_type, seq_us, event_id FROM (
        |    SELECT *, lead(seq_us) OVER (PARTITION BY user_id
        |      ORDER BY seq_us, event_id) AS nseq FROM e0)
        |  WHERE nseq IS NULL OR nseq <> seq_us),
        |f AS (SELECT *, lag(event_type) OVER
        |    (PARTITION BY user_id ORDER BY seq_us, event_id) AS prev
        |  FROM e),
        |chg AS (SELECT user_id, event_type, seq_us FROM f
        |  WHERE prev IS NULL OR prev <> event_type),
        |facts AS (SELECT event_id, user_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
        |  FROM events WHERE event_type = 'click')
        |SELECT fa.event_id, fa.user_id, fa.ts_us, h.event_type
        |FROM facts fa ASOF LEFT JOIN chg h
        |  ON fa.user_id = h.user_id AND fa.ts_us >= h.seq_us""".stripMargin,

    "attribution_position_based" ->
      """WITH conv AS (SELECT user_id, event_id AS conv_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS cus
        |  FROM events WHERE event_type = 'purchase'),
        |tch AS (SELECT user_id, event_id AS touch_id,
        |    event_type AS touch_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS tus
        |  FROM events WHERE event_type IN ('view', 'click')),
        |cand AS (SELECT c.conv_id, t.touch_id, t.touch_type, t.tus
        |  FROM conv c LEFT JOIN tch t ON c.user_id = t.user_id
        |    AND t.tus <= c.cus AND c.cus - t.tus <= 86400000000),
        |rk AS (SELECT *, row_number() OVER
        |    (PARTITION BY conv_id ORDER BY tus, touch_id) AS rn,
        |    count(touch_id) OVER (PARTITION BY conv_id) AS n
        |  FROM cand)
        |SELECT conv_id, touch_id,
        |  coalesce(touch_type, 'direct') AS touch_type,
        |  CAST(CASE WHEN touch_id IS NOT NULL THEN rn ELSE 0 END
        |    AS INTEGER) AS position,
        |  CAST(n AS BIGINT) AS n_touches,
        |  round(CASE WHEN touch_id IS NULL THEN 1.0
        |    WHEN n = 1 THEN 1.0
        |    WHEN n = 2 THEN 0.5
        |    WHEN rn = 1 THEN 0.4
        |    WHEN rn = n THEN 0.4
        |    ELSE (1.0 - 0.4 - 0.4) / CAST(n - 2 AS DOUBLE) END, 6)
        |    AS credit
        |FROM rk""".stripMargin,

    "a22_incremental_join" ->
      """SELECT o_orderkey, o_custkey AS c_custkey, c_mktsegment,
        |  o_totalprice
        |FROM orders JOIN customer ON o_custkey = c_custkey""".stripMargin,

    "er_blocked_match" ->
      """WITH pairs AS (SELECT c_custkey, c_name, s_suppkey, s_name,
        |    levenshtein(c_name, s_name) AS distance
        |  FROM customer JOIN supplier
        |    ON substring(c_name, 16, 3) = substring(s_name, 16, 3)
        |  WHERE levenshtein(c_name, s_name) <= 6),
        |rk AS (SELECT *, row_number() OVER (PARTITION BY c_custkey
        |    ORDER BY distance, s_suppkey) AS rn FROM pairs)
        |SELECT c_custkey, c_name, s_suppkey, s_name,
        |  CAST(distance AS INTEGER) AS distance
        |FROM rk WHERE rn = 1""".stripMargin,

    "ab_test_ztest" ->
      """WITH pu AS (SELECT user_id,
        |    CAST(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS BIGINT)
        |      AS a,
        |    CAST(max(CASE WHEN event_type = 'purchase' AND value > 150.0
        |      THEN 1 ELSE 0 END) AS BIGINT) AS s
        |  FROM events GROUP BY user_id),
        |c AS (SELECT CAST(sum(a) AS BIGINT) AS n_a,
        |    CAST(sum(1 - a) AS BIGINT) AS n_b,
        |    CAST(sum(a * s) AS BIGINT) AS conv_a,
        |    CAST(sum((1 - a) * s) AS BIGINT) AS conv_b
        |  FROM pu),
        |d AS (SELECT *, CAST(n_a AS DOUBLE) AS na, CAST(n_b AS DOUBLE) AS nb,
        |    CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS pa,
        |    CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS pb,
        |    CAST(conv_a + conv_b AS DOUBLE)
        |      / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)) AS pp
        |  FROM c),
        |e AS (SELECT *,
        |    sqrt(pp * (1.0 - pp) * (1.0 / na + 1.0 / nb)) AS se FROM d)
        |SELECT n_a, n_b, conv_a, conv_b,
        |  round(pa, 6) AS rate_a, round(pb, 6) AS rate_b,
        |  round(CASE WHEN se > 0 THEN (pa - pb) / se END, 6) AS z_stat,
        |  CASE WHEN se > 0 THEN abs((pa - pb) / se) > 1.96 END
        |    AS significant
        |FROM e""".stripMargin,

    "survival_km_curve" ->
      """WITH e AS (SELECT user_id, event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
        |ep0 AS (SELECT user_id,
        |    min(CASE WHEN event_type = 'signup' THEN us END) AS t0,
        |    max(us) AS last_us FROM e GROUP BY 1),
        |te AS (SELECT e.user_id, min(e.us) AS te FROM e
        |  JOIN ep0 p ON e.user_id = p.user_id
        |  WHERE e.event_type = 'error' AND e.us >= p.t0 GROUP BY 1),
        |ep AS (SELECT p.user_id,
        |    CAST(floor(CAST(coalesce(t.te, p.last_us) - p.t0 AS DOUBLE)
        |      / 86400000000) AS BIGINT) AS day,
        |    t.te IS NOT NULL AS observed
        |  FROM ep0 p LEFT JOIN te t ON p.user_id = t.user_id
        |  WHERE p.t0 IS NOT NULL),
        |g AS (SELECT day,
        |    CAST(sum(CASE WHEN observed THEN 1 ELSE 0 END) AS BIGINT)
        |      AS d_events,
        |    CAST(sum(CASE WHEN observed THEN 0 ELSE 1 END) AS BIGINT)
        |      AS c_censored
        |  FROM ep GROUP BY 1),
        |w AS (SELECT *,
        |    (SELECT CAST(sum(d_events + c_censored) AS BIGINT) FROM g)
        |      AS total,
        |    CAST(coalesce(sum(d_events + c_censored) OVER (ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS prior
        |  FROM g),
        |f AS (SELECT *, total - prior AS n_risk,
        |    1.0 - CAST(d_events AS DOUBLE) / CAST(total - prior AS DOUBLE)
        |      AS factor
        |  FROM w)
        |SELECT day, n_risk, d_events, c_censored,
        |  CASE WHEN max(CASE WHEN factor <= 0 THEN 1 ELSE 0 END)
        |      OVER (ORDER BY day
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) = 1
        |    THEN 0.0
        |    ELSE round(exp(sum(CASE WHEN factor > 0 THEN ln(factor) END)
        |      OVER (ORDER BY day
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), 6)
        |  END AS km
        |FROM f""".stripMargin,

    "dq_key_uniqueness" -> {
      def one(name: String, tbl: String, key: String) =
        s"""SELECT '$name' AS table_name,
           |  CAST(sum(n) AS BIGINT) AS rows_total,
           |  CAST(count(*) AS BIGINT) AS distinct_keys,
           |  CAST(sum(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT)
           |    AS dup_keys,
           |  CAST(max(n) AS BIGINT) AS max_multiplicity
           |FROM (SELECT count(*) AS n FROM $tbl GROUP BY $key)""".stripMargin
      Seq(one("customer", "customer", "c_custkey"),
        one("orders", "orders", "o_orderkey"),
        one("documents", "documents", "doc_id"),
        one("lineitem_by_orderkey", "lineitem", "l_orderkey"))
        .mkString("\nUNION ALL\n")
    },

    "text_zipf_slope" ->
      s"""WITH ${TextQueries.wordsCte},
         |tok AS (SELECT doc_id, unnest(ws) AS w FROM words),
         |v AS (SELECT w, count(*) AS cnt FROM tok GROUP BY 1),
         |top AS (SELECT w, cnt FROM v ORDER BY cnt DESC, w LIMIT 100),
         |r AS (SELECT cnt,
         |    row_number() OVER (ORDER BY cnt DESC, w) AS rk FROM top),
         |l AS (SELECT list(struct_pack(
         |    x := ln(CAST(rk AS DOUBLE)), y := ln(CAST(cnt AS DOUBLE)))
         |    ORDER BY rk) AS pts FROM r),
         |s AS (SELECT CAST(len(pts) AS BIGINT) AS v_terms,
         |    list_sum(list_transform(pts, e -> e.x)) AS sx,
         |    list_sum(list_transform(pts, e -> e.y)) AS sy,
         |    list_sum(list_transform(pts, e -> e.x * e.y)) AS sxy,
         |    list_sum(list_transform(pts, e -> e.x * e.x)) AS sxx FROM l)
         |SELECT v_terms,
         |  round((v_terms * sxy - sx * sy)
         |    / (v_terms * sxx - sx * sx), 4) AS zipf_slope,
         |  round((sy - ((v_terms * sxy - sx * sy)
         |    / (v_terms * sxx - sx * sx)) * sx) / v_terms, 4)
         |    AS zipf_intercept
         |FROM s""".stripMargin,

    // Unrolled power iteration (3 steps, one CTE per step, generated so
    // the oracle and the engine share iteration count and arithmetic:
    // (1−0.85)/n + 0.85·Σ rank/outdeg per step).
    "graph_pagerank" -> {
      val iters = 3
      val base =
        """WITH e0 AS (SELECT DISTINCT
          |    'c' || CAST(o_custkey AS VARCHAR) AS src,
          |    's' || CAST(l_suppkey AS VARCHAR) AS dst
          |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
          |e AS (SELECT src, dst FROM e0
          |  UNION ALL SELECT dst AS src, src AS dst FROM e0),
          |nodes AS (SELECT DISTINCT src AS node FROM e),
          |deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY 1),
          |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
          |p0 AS (SELECT node, 1.0 / nn.n AS rank FROM nodes, nn)""".stripMargin
      val steps = (1 to iters).map { k =>
        s""",
           |p$k AS (SELECT nd.node,
           |    (1.0 - 0.85) / (SELECT n FROM nn)
           |      + 0.85 * coalesce(i.inflow, 0.0) AS rank
           |  FROM nodes nd LEFT JOIN (
           |    SELECT e.dst AS node,
           |      sum(p.rank / CAST(deg.outdeg AS DOUBLE)) AS inflow
           |    FROM e JOIN p${k - 1} p ON e.src = p.node
           |      JOIN deg ON e.src = deg.src
           |    GROUP BY e.dst) i ON nd.node = i.node)""".stripMargin
      }.mkString
      base + steps +
        s"\nSELECT node, round(rank, 6) AS pagerank FROM p$iters"
    },

    // Same unrolled recurrence on the DIRECTED graph, with the
    // per-step dangling-mass CTE (dk = Σ rank over nodes with no
    // out-edge) folded in exactly as the engine computes it:
    // (1−d)/n + d·(inflow + dk/n), inflow spelled 0.0 for no-in-edge
    // nodes on both sides.
    "graph_pagerank_dangling" -> {
      val iters = 3
      val base =
        """WITH e AS (SELECT DISTINCT
          |    'c' || CAST(o_custkey AS VARCHAR) AS src,
          |    's' || CAST(l_suppkey AS VARCHAR) AS dst
          |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
          |nodes AS (SELECT DISTINCT node FROM (
          |  SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
          |deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY 1),
          |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
          |p0 AS (SELECT node, 1.0 / nn.n AS rank FROM nodes, nn)""".stripMargin
      val steps = (1 to iters).map { k =>
        s""",
           |d$k AS (SELECT coalesce(sum(p.rank), 0.0) AS dm FROM p${k - 1} p
           |  WHERE NOT EXISTS (SELECT 1 FROM deg WHERE deg.src = p.node)),
           |p$k AS (SELECT nd.node,
           |    (1.0 - 0.85) / (SELECT n FROM nn)
           |      + 0.85 * (coalesce(i.inflow, 0.0)
           |        + (SELECT dm FROM d$k) / (SELECT n FROM nn)) AS rank
           |  FROM nodes nd LEFT JOIN (
           |    SELECT e.dst AS node,
           |      sum(p.rank / CAST(deg.outdeg AS DOUBLE)) AS inflow
           |    FROM e JOIN p${k - 1} p ON e.src = p.node
           |      JOIN deg ON e.src = deg.src
           |    GROUP BY e.dst) i ON nd.node = i.node)""".stripMargin
      }.mkString
      base + steps +
        s"\nSELECT node, round(rank, 6) AS pagerank FROM p$iters"
    },

    // Dense replay of the sparse engine recurrence: unreached nodes
    // carry exact 0.0 (x + 0.0 = x bitwise), filtered at the end.
    "graph_ppr" -> {
      val iters = 3
      val base =
        """WITH e0 AS (SELECT DISTINCT
          |    'c' || CAST(o_custkey AS VARCHAR) AS src,
          |    's' || CAST(l_suppkey AS VARCHAR) AS dst
          |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
          |e AS (SELECT src, dst FROM e0
          |  UNION ALL SELECT dst AS src, src AS dst FROM e0),
          |nodes AS (SELECT DISTINCT src AS node FROM e),
          |deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY 1),
          |sg AS (SELECT DISTINCT 'c' || CAST(c_custkey AS VARCHAR) AS node
          |  FROM customer WHERE c_nationkey = 1
          |  AND 'c' || CAST(c_custkey AS VARCHAR) IN
          |    (SELECT node FROM nodes)),
          |ns AS (SELECT CAST(count(*) AS DOUBLE) AS ns FROM sg),
          |p0 AS (SELECT nd.node,
          |    CASE WHEN nd.node IN (SELECT node FROM sg)
          |      THEN 1.0 / (SELECT ns FROM ns) ELSE 0.0 END AS rank
          |  FROM nodes nd)""".stripMargin
      val steps = (1 to iters).map { k =>
        s""",
           |d$k AS (SELECT coalesce(sum(p.rank), 0.0) AS dm FROM p${k - 1} p
           |  WHERE NOT EXISTS (SELECT 1 FROM deg WHERE deg.src = p.node)),
           |p$k AS (SELECT nd.node,
           |    0.85 * coalesce(i.inflow, 0.0) +
           |    CASE WHEN nd.node IN (SELECT node FROM sg)
           |      THEN (1.0 - 0.85) / (SELECT ns FROM ns)
           |        + 0.85 * ((SELECT dm FROM d$k) / (SELECT ns FROM ns))
           |      ELSE 0.0 END AS rank
           |  FROM nodes nd LEFT JOIN (
           |    SELECT e.dst AS node,
           |      sum(p.rank / CAST(deg.outdeg AS DOUBLE)) AS inflow
           |    FROM e JOIN p${k - 1} p ON e.src = p.node
           |      JOIN deg ON e.src = deg.src
           |    GROUP BY e.dst) i ON nd.node = i.node)""".stripMargin
      }.mkString
      base + steps +
        s"\nSELECT node, round(rank, 6) AS ppr FROM p$iters WHERE rank > 0"
    },

    "graph_hits" -> {
      val iters = 2
      val base =
        """WITH e0 AS (SELECT DISTINCT
          |    'c' || CAST(o_custkey AS VARCHAR) AS src,
          |    's' || CAST(l_suppkey AS VARCHAR) AS dst
          |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
          |nodes AS (SELECT DISTINCT node FROM (
          |  SELECT src AS node FROM e0 UNION ALL SELECT dst FROM e0)),
          |h0 AS (SELECT node, 1.0 AS hub FROM nodes)""".stripMargin
      val steps = (1 to iters).map { k =>
        s""",
           |a${k}r AS (SELECT e0.dst AS node, sum(h.hub) AS a
           |  FROM e0 JOIN h${k - 1} h ON e0.src = h.node GROUP BY 1),
           |a$k AS (SELECT node,
           |    a / (SELECT sqrt(sum(a * a)) FROM a${k}r) AS authority
           |  FROM a${k}r),
           |h${k}r AS (SELECT e0.src AS node, sum(a.authority) AS hub
           |  FROM e0 JOIN a$k a ON e0.dst = a.node GROUP BY 1),
           |h$k AS (SELECT node,
           |    hub / (SELECT sqrt(sum(hub * hub)) FROM h${k}r) AS hub
           |  FROM h${k}r)""".stripMargin
      }.mkString
      base + steps +
        s"""
           |SELECT nd.node, round(coalesce(h.hub, 0.0), 6) AS hub,
           |  round(coalesce(a.authority, 0.0), 6) AS authority
           |FROM nodes nd LEFT JOIN h$iters h ON nd.node = h.node
           |LEFT JOIN a$iters a ON nd.node = a.node""".stripMargin
    },

    "graph_label_prop" -> {
      val iters = 2
      val base =
        """WITH e0 AS (SELECT DISTINCT
          |    'c' || CAST(o_custkey AS VARCHAR) AS src,
          |    's' || CAST(l_suppkey AS VARCHAR) AS dst
          |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
          |e AS (SELECT DISTINCT src, dst FROM (
          |  SELECT src, dst FROM e0
          |  UNION ALL SELECT dst AS src, src AS dst FROM e0)),
          |l0 AS (SELECT DISTINCT src AS node, src AS label FROM e)"""
          .stripMargin
      val steps = (1 to iters).map { k =>
        s""",
           |c$k AS (SELECT e.dst AS node, l.label, count(*) AS c
           |  FROM e JOIN l${k - 1} l ON e.src = l.node GROUP BY 1, 2),
           |l$k AS (SELECT node, label FROM (
           |    SELECT node, label, row_number() OVER (PARTITION BY node
           |      ORDER BY c DESC, label) AS rn FROM c$k)
           |  WHERE rn = 1)""".stripMargin
      }.mkString
      base + steps + s"\nSELECT node, label FROM l$iters"
    },

    "ml_mutual_info" ->
      """WITH b AS (SELECT lang, source FROM documents
        |  WHERE lang IS NOT NULL AND source IS NOT NULL),
        |c AS (SELECT lang, source, count(*) AS nxy FROM b GROUP BY 1, 2),
        |mx AS (SELECT lang, count(*) AS nx FROM b GROUP BY 1),
        |my AS (SELECT source, count(*) AS ny FROM b GROUP BY 1),
        |t AS (SELECT count(*) AS n FROM b)
        |SELECT CAST(count(*) AS BIGINT) AS n_cells,
        |  CAST((SELECT n FROM t) AS BIGINT) AS n_rows,
        |  round(sum((CAST(nxy AS DOUBLE) / CAST(t.n AS DOUBLE)) *
        |    ln(CAST(nxy AS DOUBLE) * CAST(t.n AS DOUBLE) /
        |      (CAST(nx AS DOUBLE) * CAST(ny AS DOUBLE)))), 6)
        |    AS mutual_info_nats
        |FROM c JOIN mx USING (lang) JOIN my USING (source), t"""
        .stripMargin,

    "dq_chi2_independence" ->
      """WITH b AS (SELECT lang, source FROM documents
        |  WHERE lang IS NOT NULL AND source IS NOT NULL),
        |c AS (SELECT lang, source, count(*) AS nxy FROM b GROUP BY 1, 2),
        |mx AS (SELECT lang, count(*) AS nx FROM b GROUP BY 1),
        |my AS (SELECT source, count(*) AS ny FROM b GROUP BY 1),
        |t AS (SELECT count(*) AS n FROM b),
        |j AS (SELECT CAST(nxy AS DOUBLE) AS nxy,
        |    CAST(nx AS DOUBLE) * CAST(ny AS DOUBLE) / CAST(t.n AS DOUBLE)
        |      AS e
        |  FROM c JOIN mx USING (lang) JOIN my USING (source), t)
        |SELECT
        |  round(sum((nxy - e) * (nxy - e) / e - e)
        |    + CAST((SELECT n FROM t) AS DOUBLE), 6) AS chi2,
        |  CAST(((SELECT count(DISTINCT lang) FROM b) - 1) *
        |    ((SELECT count(DISTINCT source) FROM b) - 1) AS BIGINT) AS dof
        |FROM j""".stripMargin,

    // Target rank in exact integer arithmetic ((bp·n + 9999) // 10⁴),
    // mirroring the engine's basis-point form — a float p·n can
    // straddle an integer boundary differently per engine.
    "a26_exact_percentiles" ->
      """WITH v AS (SELECT CAST(l_extendedprice AS DOUBLE) AS x
        |  FROM lineitem WHERE l_extendedprice IS NOT NULL),
        |t AS (SELECT count(*) AS n FROM v),
        |r AS (SELECT x, row_number() OVER (ORDER BY x) AS rk FROM v),
        |p AS (SELECT * FROM (VALUES (5000), (9000), (9900)) AS pt(bp))
        |SELECT CAST(p.bp AS DOUBLE) / 10000.0 AS percentile,
        |  r.x AS value, CAST(t.n AS BIGINT) AS n_rows
        |FROM p, t, r
        |WHERE r.rk = (p.bp * t.n + 9999) // 10000""".stripMargin,

    // Recursive-CTE replay of the Holt fold, step arithmetic spelled
    // exactly as the engine's lambda (l first, then b referencing l).
    "ts_holt_smoothing" ->
      """WITH RECURSIVE b AS (SELECT user_id, CAST(value AS DOUBLE) AS v,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id) AS i,
        |    count(*) OVER (PARTITION BY user_id) AS n
        |  FROM events),
        |base AS (SELECT b1.user_id, b1.n, 2 AS i, q.l,
        |    0.2 * (q.l - b1.v) + (1.0 - 0.2) * (b2.v - b1.v) AS tr
        |  FROM b b1 JOIN b b2
        |    ON b1.user_id = b2.user_id AND b1.i = 1 AND b2.i = 2,
        |  LATERAL (SELECT 0.3 * b2.v
        |    + (1.0 - 0.3) * (b1.v + (b2.v - b1.v)) AS l) q),
        |r AS (SELECT user_id, n, i, l, tr FROM base
        |  UNION ALL
        |  SELECT r.user_id, r.n, r.i + 1, q.l,
        |    0.2 * (q.l - r.l) + (1.0 - 0.2) * r.tr
        |  FROM r JOIN b v ON v.user_id = r.user_id AND v.i = r.i + 1,
        |  LATERAL (SELECT 0.3 * v.v + (1.0 - 0.3) * (r.l + r.tr) AS l) q)
        |SELECT user_id, CAST(n AS BIGINT) AS n, round(l, 4) + 0 AS level,
        |  round(tr, 4) + 0 AS trend, round(l + tr, 4) + 0 AS forecast_next
        |FROM r WHERE i = n""".stripMargin,

    // Mirrors the integer midrank algebra exactly: per distinct score,
    // 2·midrank = 2·cumBefore + cnt + 1; everything integer until the
    // final division.
    "ml_auc_roc" ->
      """WITH b AS (SELECT CAST(n_chars AS DOUBLE) AS s,
        |    CASE WHEN source = 'src0' THEN 1 ELSE 0 END AS y
        |  FROM documents WHERE n_chars IS NOT NULL),
        |cells AS (SELECT s, count(*) AS cnt,
        |    sum(y) AS pos FROM b GROUP BY 1),
        |c2 AS (SELECT s, cnt, pos,
        |    coalesce(sum(cnt) OVER (ORDER BY s
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
        |  FROM cells)
        |SELECT CAST(sum(pos) AS BIGINT) AS n_pos,
        |  CAST(sum(cnt - pos) AS BIGINT) AS n_neg,
        |  CASE WHEN sum(pos) > 0 AND sum(cnt - pos) > 0 THEN
        |    round(CAST(sum(pos * (2 * cb + cnt + 1))
        |        - sum(pos) * (sum(pos) + 1) AS DOUBLE)
        |      / (2.0 * CAST(sum(pos) AS DOUBLE)
        |        * CAST(sum(cnt - pos) AS DOUBLE)), 6) END AS auc
        |FROM c2""".stripMargin,

    // Weight total sums in SORTED order on both engines so the floor
    // in the allocation cannot straddle an integer differently.
    "sample_neyman" ->
      """WITH b AS (SELECT doc_id, source, CAST(n_chars AS BIGINT) AS x
        |  FROM documents WHERE source IS NOT NULL),
        |st AS (SELECT source, count(*) AS nh, sum(x) AS s1,
        |    sum(x * x) AS s2 FROM b GROUP BY 1),
        |w AS (SELECT source, nh,
        |    sqrt(CAST(nh * s2 - s1 * s1 AS DOUBLE)) AS wh FROM st),
        |tot AS (SELECT list_sum(list_sort(list(wh))) AS tw FROM w),
        |q0 AS (SELECT source, nh,
        |    floor(200 * wh / (SELECT tw FROM tot)) AS fl,
        |    200 * wh / (SELECT tw FROM tot)
        |      - floor(200 * wh / (SELECT tw FROM tot)) AS frac
        |  FROM w),
        |lo AS (SELECT 200 - CAST(sum(fl) AS BIGINT) AS leftover FROM q0),
        |qr AS (SELECT source, nh, fl,
        |    row_number() OVER (ORDER BY frac DESC, source) AS rk FROM q0),
        |q AS (SELECT source, CAST(least(CAST(nh AS DOUBLE),
        |    fl + CASE WHEN rk <= (SELECT leftover FROM lo)
        |      THEN 1 ELSE 0 END) AS BIGINT) AS quota
        |  FROM qr),
        |r AS (SELECT doc_id, source, row_number() OVER (
        |    PARTITION BY source
        |    ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
        |        ::BIGINT / 4294967296.0, doc_id) AS rn
        |  FROM b)
        |SELECT r.doc_id, r.source FROM r JOIN q USING (source)
        |WHERE r.rn <= q.quota""".stripMargin,

    // Integer-cent replay: frame sum/count exact integers, every output
    // double derived through the identical division sequence — shipped
    // UNROUNDED (decimal-parked averages make rounded outputs straddle
    // half-points differently per engine).
    "ts_stl_decompose" ->
      s"""WITH $stlCtes
        |SELECT user_id, CAST(hour_bucket AS BIGINT) AS hour_bucket,
        |  CAST(vc AS DOUBLE) / 100.0 AS value,
        |  CAST(tc AS DOUBLE) / 100.0 AS trend,
        |  sc / 100.0 AS seasonal,
        |  (CAST(vc - tc AS DOUBLE) - sc) / 100.0 AS residual
        |FROM s""".stripMargin,

    // Same decomposition feeding the seasonally-adjusted anomaly flags;
    // the threshold literal interpolates the engine's precomputed
    // double so the unrounded strict compare sits on identical values.
    "ts_stl_anomalies" ->
      s"""WITH $stlCtes,
        |dec AS (SELECT user_id, CAST(hour_bucket AS BIGINT) AS hour_bucket,
        |    CAST(vc AS DOUBLE) / 100.0 AS value,
        |    (CAST(vc - tc AS DOUBLE) - sc) / 100.0 AS residual
        |  FROM s),
        |md AS (SELECT user_id, list_sort(list(abs(residual))) AS a
        |  FROM dec GROUP BY 1),
        |m2 AS (SELECT user_id, a[(len(a) + 1) // 2] AS mad FROM md)
        |SELECT d.user_id, d.hour_bucket, d.value, d.residual
        |FROM dec d JOIN m2 USING (user_id)
        |WHERE m2.mad > 0.0
        |  AND abs(d.residual) > ${3.0 * 1.4826} * m2.mad""".stripMargin,

    "ts_interval_union" ->
      """WITH iv AS (SELECT user_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS s,
        |    epoch_us(CAST(ts AS TIMESTAMP)) + 300000000 AS e
        |  FROM events),
        |f AS (SELECT user_id, s, e,
        |    max(e) OVER (PARTITION BY user_id ORDER BY s, e
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS rm
        |  FROM iv),
        |g AS (SELECT user_id, s, e,
        |    sum(CASE WHEN rm IS NULL OR s > rm THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY s, e
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
        |  FROM f),
        |m AS (SELECT user_id, isl, min(s) AS ss, max(e) AS se
        |  FROM g GROUP BY 1, 2)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_spans,
        |  CAST(sum(se - ss) AS BIGINT) AS covered_us
        |FROM m GROUP BY 1""".stripMargin,

    // Integer quantile mapping replayed verbatim: global row_number over
    // (value, id), within-source rank, r → 1 + (r−1)(N−1) // (n_g−1).
    "ml_quantile_normalize" ->
      """WITH b AS (SELECT doc_id, source, CAST(n_chars AS DOUBLE) AS v
        |  FROM documents WHERE n_chars IS NOT NULL AND source IS NOT NULL),
        |g AS (SELECT doc_id, source, v,
        |    row_number() OVER (PARTITION BY source ORDER BY v, doc_id) AS r,
        |    count(*) OVER (PARTITION BY source) AS ng
        |  FROM b),
        |t AS (SELECT count(*) AS n0 FROM b),
        |gl AS (SELECT v AS nv,
        |    row_number() OVER (ORDER BY v, doc_id) AS gr FROM b)
        |SELECT g.doc_id, g.source, g.v AS value, round(gl.nv, 6) AS normalized
        |FROM g, t, gl
        |WHERE gl.gr = CASE WHEN g.ng > 1
        |  THEN 1 + ((g.r - 1) * (t.n0 - 1)) // (g.ng - 1)
        |  ELSE (t.n0 + 1) // 2 END""".stripMargin,

    "dq_ks_drift" ->
      """WITH b AS (SELECT source AS g, CAST(n_chars AS DOUBLE) AS v
        |  FROM documents WHERE n_chars IS NOT NULL AND source IS NOT NULL),
        |cells AS (SELECT g, v, count(*) AS c FROM b GROUP BY 1, 2),
        |grp AS (SELECT g, count(*) AS ng FROM b GROUP BY 1),
        |vals AS (SELECT v, count(*) AS cv FROM b GROUP BY 1),
        |t AS (SELECT count(*) AS n0 FROM b),
        |grid AS (SELECT grp.g, grp.ng, vals.v, vals.cv,
        |    coalesce(cells.c, 0) AS c
        |  FROM grp CROSS JOIN vals
        |  LEFT JOIN cells ON cells.g = grp.g AND cells.v = vals.v),
        |cum AS (SELECT g, ng, v,
        |    sum(c) OVER (PARTITION BY g ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumg,
        |    sum(cv) OVER (PARTITION BY g ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumall
        |  FROM grid)
        |SELECT g AS source, CAST(max(ng) AS BIGINT) AS n_group,
        |  CAST((SELECT n0 FROM t) - max(ng) AS BIGINT) AS n_rest,
        |  CASE WHEN (SELECT n0 FROM t) > max(ng) THEN
        |    round(CAST(max(abs(cumg * ((SELECT n0 FROM t) - ng)
        |        - (cumall - cumg) * ng)) AS DOUBLE)
        |      / (CAST(max(ng) AS DOUBLE) *
        |        CAST((SELECT n0 FROM t) - max(ng) AS DOUBLE)), 6)
        |  END AS ks
        |FROM cum GROUP BY g""".stripMargin,

    "dq_ks_by_source" ->
      """WITH r AS (SELECT source AS g, CAST(n_chars AS DOUBLE) AS v
        |  FROM documents WHERE doc_id % 3 = 0
        |    AND n_chars IS NOT NULL AND source IS NOT NULL),
        |c AS (SELECT source AS g, CAST(n_chars AS DOUBLE) AS v
        |  FROM documents WHERE doc_id % 3 <> 0
        |    AND n_chars IS NOT NULL AND source IS NOT NULL),
        |rc AS (SELECT g, v, count(*) AS cr FROM r GROUP BY 1, 2),
        |cc AS (SELECT g, v, count(*) AS ccur FROM c GROUP BY 1, 2),
        |grid AS (SELECT coalesce(rc.g, cc.g) AS g, coalesce(rc.v, cc.v) AS v,
        |    coalesce(rc.cr, 0) AS cr, coalesce(cc.ccur, 0) AS ccur
        |  FROM rc FULL OUTER JOIN cc ON rc.g = cc.g AND rc.v = cc.v),
        |cum AS (SELECT g, v,
        |    sum(cr) OVER (PARTITION BY g ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumr,
        |    sum(ccur) OVER (PARTITION BY g ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumc,
        |    sum(cr) OVER (PARTITION BY g) AS nr,
        |    sum(ccur) OVER (PARTITION BY g) AS nc
        |  FROM grid)
        |SELECT g AS source, CAST(max(nr) AS BIGINT) AS n_ref,
        |  CAST(max(nc) AS BIGINT) AS n_cur,
        |  CASE WHEN max(nr) > 0 AND max(nc) > 0 THEN
        |    round(CAST(max(abs(cumr * nc - cumc * nr)) AS DOUBLE)
        |      / CAST(max(nr) * max(nc) AS DOUBLE), 6)
        |  END AS ks
        |FROM cum GROUP BY g""".stripMargin,

    "dq_js_by_source" ->
      """WITH r AS (SELECT source AS g, CAST(lang AS VARCHAR) AS c
        |  FROM documents WHERE doc_id % 3 = 0
        |    AND lang IS NOT NULL AND source IS NOT NULL),
        |cu AS (SELECT source AS g, CAST(lang AS VARCHAR) AS c
        |  FROM documents WHERE doc_id % 3 <> 0
        |    AND lang IS NOT NULL AND source IS NOT NULL),
        |rc AS (SELECT g, c, count(*) AS cr FROM r GROUP BY 1, 2),
        |cc AS (SELECT g, c, count(*) AS ccur FROM cu GROUP BY 1, 2),
        |grid AS (SELECT coalesce(rc.g, cc.g) AS g, coalesce(rc.c, cc.c) AS c,
        |    coalesce(rc.cr, 0) AS cr, coalesce(cc.ccur, 0) AS ccur
        |  FROM rc FULL OUTER JOIN cc ON rc.g = cc.g AND rc.c = cc.c),
        |t AS (SELECT g, c, cr, ccur,
        |    sum(cr) OVER (PARTITION BY g) AS nr,
        |    sum(ccur) OVER (PARTITION BY g) AS nc
        |  FROM grid),
        |terms AS (SELECT g, nr, nc,
        |    CASE WHEN nr > 0 THEN CAST(cr AS DOUBLE) / nr ELSE 0.0 END AS p,
        |    CASE WHEN nc > 0 THEN CAST(ccur AS DOUBLE) / nc ELSE 0.0 END AS q
        |  FROM t),
        |tv AS (SELECT g, nr, nc,
        |    coalesce(CASE WHEN p > 0
        |      THEN 0.5 * p * ln(p / ((p + q) / 2.0)) END, 0.0) +
        |    coalesce(CASE WHEN q > 0
        |      THEN 0.5 * q * ln(q / ((p + q) / 2.0)) END, 0.0) AS term
        |  FROM terms)
        |SELECT g AS source, CAST(max(nr) AS BIGINT) AS n_ref,
        |  CAST(max(nc) AS BIGINT) AS n_cur,
        |  round(list_sum(list_sort(list(term))), 6) AS js
        |FROM tv GROUP BY g""".stripMargin,

    "dq_psi_by_source" ->
      """WITH refd AS (SELECT source, n_chars FROM documents WHERE doc_id % 3 = 0),
        |curd AS (SELECT source, n_chars FROM documents WHERE doc_id % 3 <> 0),
        |e AS (SELECT min(n_chars::DOUBLE) AS lo, max(n_chars::DOUBLE) AS hi
        |  FROM refd),
        |rb AS (SELECT source, CAST(least(9, greatest(0, CASE WHEN hi > lo
        |    THEN floor((n_chars::DOUBLE - lo)/((hi-lo)/10)) ELSE 0 END)) AS INT)
        |  AS bin, count(*) AS n FROM refd, e GROUP BY 1,2),
        |cb AS (SELECT source, CAST(least(9, greatest(0, CASE WHEN hi > lo
        |    THEN floor((n_chars::DOUBLE - lo)/((hi-lo)/10)) ELSE 0 END)) AS INT)
        |  AS bin, count(*) AS n FROM curd, e GROUP BY 1,2),
        |g AS (SELECT source FROM rb UNION SELECT source FROM cb),
        |grid AS (SELECT source, unnest(range(10))::INT AS bin FROM g),
        |rt AS (SELECT source, sum(n) AS t FROM rb GROUP BY 1),
        |ct AS (SELECT source, sum(n) AS t FROM cb GROUP BY 1),
        |rs AS (SELECT grid.source, grid.bin,
        |  (coalesce(rb.n,0)+0.5)/(coalesce(rt.t,0)+5.0) AS p
        |  FROM grid LEFT JOIN rb USING (source,bin)
        |  LEFT JOIN rt USING (source)),
        |cs AS (SELECT grid.source, grid.bin,
        |  (coalesce(cb.n,0)+0.5)/(coalesce(ct.t,0)+5.0) AS q
        |  FROM grid LEFT JOIN cb USING (source,bin)
        |  LEFT JOIN ct USING (source)),
        |tm AS (SELECT rs.source, round((p - q) * ln(p / q), 6) AS term
        |  FROM rs JOIN cs USING (source, bin))
        |SELECT source, round(sum(term), 6) AS psi FROM tm GROUP BY 1""".stripMargin,

    // Quantile-binned PSI: exact order-statistic edges from the reference
    // (rank = ceil(n*b/10)), bin = count of edge rows strictly below v,
    // same 0.5-Laplace smoothing and dense grid as dq_psi_by_source.
    "dq_psi_by_source_quantile" ->
      """WITH refd AS (SELECT source, n_chars FROM documents WHERE doc_id % 3 = 0),
        |curd AS (SELECT source, n_chars FROM documents WHERE doc_id % 3 <> 0),
        |qrv AS (SELECT CAST(n_chars AS DOUBLE) AS v FROM refd
        |  WHERE n_chars IS NOT NULL AND source IS NOT NULL),
        |qcnt AS (SELECT count(*) AS n FROM qrv),
        |qrk AS (SELECT v, row_number() OVER (ORDER BY v) AS r FROM qrv),
        |qer AS (SELECT DISTINCT CAST(ceil(CAST(n * b AS DOUBLE) / 10) AS BIGINT) AS r
        |  FROM (SELECT unnest(range(1, 10)) AS b), qcnt),
        |edges AS (SELECT v AS e FROM qrk JOIN qer USING (r)),
        |rvals AS (SELECT source, CAST(n_chars AS DOUBLE) AS v FROM refd
        |  WHERE n_chars IS NOT NULL AND source IS NOT NULL),
        |cvals AS (SELECT source, CAST(n_chars AS DOUBLE) AS v FROM curd
        |  WHERE n_chars IS NOT NULL AND source IS NOT NULL),
        |rb AS (SELECT source,
        |    CAST((SELECT count(*) FROM edges WHERE edges.e < t.v) AS INT) AS bin,
        |    count(*) AS n FROM rvals t GROUP BY 1, 2),
        |cb AS (SELECT source,
        |    CAST((SELECT count(*) FROM edges WHERE edges.e < t.v) AS INT) AS bin,
        |    count(*) AS n FROM cvals t GROUP BY 1, 2),
        |g AS (SELECT source FROM rb UNION SELECT source FROM cb),
        |grid AS (SELECT source, unnest(range(10))::INT AS bin FROM g),
        |rt AS (SELECT source, sum(n) AS t FROM rb GROUP BY 1),
        |ct AS (SELECT source, sum(n) AS t FROM cb GROUP BY 1),
        |rs AS (SELECT grid.source, grid.bin,
        |  (coalesce(rb.n,0)+0.5)/(coalesce(rt.t,0)+5.0) AS p
        |  FROM grid LEFT JOIN rb USING (source,bin)
        |  LEFT JOIN rt USING (source)),
        |cs AS (SELECT grid.source, grid.bin,
        |  (coalesce(cb.n,0)+0.5)/(coalesce(ct.t,0)+5.0) AS q
        |  FROM grid LEFT JOIN cb USING (source,bin)
        |  LEFT JOIN ct USING (source)),
        |tm AS (SELECT rs.source, round((p - q) * ln(p / q), 6) AS term
        |  FROM rs JOIN cs USING (source, bin))
        |SELECT source, round(sum(term), 6) AS psi FROM tm GROUP BY 1""".stripMargin,

    // Unified datacard: the four component chains (dq_ks_by_source /
    // dq_psi_by_source / dq_js_by_source / dq_embedding_drift idioms),
    // prefixed k/p/j/e, over the SAME documents⋈embeddings split, joined
    // full-outer on source.
    "dq_drift_datacard" ->
      s"""WITH j AS (SELECT d.doc_id, d.source, d.lang, d.n_chars, e.embedding
         |  FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id),
         |refd AS (SELECT * FROM j WHERE doc_id % 3 = 0),
         |curd AS (SELECT * FROM j WHERE doc_id % 3 <> 0),
         |kr AS (SELECT source AS g, CAST(n_chars AS DOUBLE) AS v FROM refd
         |  WHERE n_chars IS NOT NULL AND source IS NOT NULL),
         |kc AS (SELECT source AS g, CAST(n_chars AS DOUBLE) AS v FROM curd
         |  WHERE n_chars IS NOT NULL AND source IS NOT NULL),
         |krc AS (SELECT g, v, count(*) AS cr FROM kr GROUP BY 1, 2),
         |kcc AS (SELECT g, v, count(*) AS ccur FROM kc GROUP BY 1, 2),
         |kgrid AS (SELECT coalesce(krc.g, kcc.g) AS g,
         |    coalesce(krc.v, kcc.v) AS v,
         |    coalesce(krc.cr, 0) AS cr, coalesce(kcc.ccur, 0) AS ccur
         |  FROM krc FULL OUTER JOIN kcc ON krc.g = kcc.g AND krc.v = kcc.v),
         |kcum AS (SELECT g, v,
         |    sum(cr) OVER (PARTITION BY g ORDER BY v
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumr,
         |    sum(ccur) OVER (PARTITION BY g ORDER BY v
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumc,
         |    sum(cr) OVER (PARTITION BY g) AS nr,
         |    sum(ccur) OVER (PARTITION BY g) AS nc
         |  FROM kgrid),
         |kout AS (SELECT g AS source, CAST(max(nr) AS BIGINT) AS n_ref,
         |  CAST(max(nc) AS BIGINT) AS n_cur,
         |  CASE WHEN max(nr) > 0 AND max(nc) > 0 THEN
         |    round(CAST(max(abs(cumr * nc - cumc * nr)) AS DOUBLE)
         |      / CAST(max(nr) * max(nc) AS DOUBLE), 6)
         |  END AS ks
         |  FROM kcum GROUP BY g),
         |pe AS (SELECT min(n_chars::DOUBLE) AS lo, max(n_chars::DOUBLE) AS hi
         |  FROM refd),
         |prb AS (SELECT source, CAST(least(9, greatest(0, CASE WHEN hi > lo
         |    THEN floor((n_chars::DOUBLE - lo)/((hi-lo)/10)) ELSE 0 END)) AS INT)
         |  AS bin, count(*) AS n FROM refd, pe GROUP BY 1,2),
         |pcb AS (SELECT source, CAST(least(9, greatest(0, CASE WHEN hi > lo
         |    THEN floor((n_chars::DOUBLE - lo)/((hi-lo)/10)) ELSE 0 END)) AS INT)
         |  AS bin, count(*) AS n FROM curd, pe GROUP BY 1,2),
         |pg AS (SELECT source FROM prb UNION SELECT source FROM pcb),
         |pgrid AS (SELECT source, unnest(range(10))::INT AS bin FROM pg),
         |prt AS (SELECT source, sum(n) AS t FROM prb GROUP BY 1),
         |pct AS (SELECT source, sum(n) AS t FROM pcb GROUP BY 1),
         |prs AS (SELECT pgrid.source, pgrid.bin,
         |  (coalesce(prb.n,0)+0.5)/(coalesce(prt.t,0)+5.0) AS p
         |  FROM pgrid LEFT JOIN prb USING (source,bin)
         |  LEFT JOIN prt USING (source)),
         |pcs AS (SELECT pgrid.source, pgrid.bin,
         |  (coalesce(pcb.n,0)+0.5)/(coalesce(pct.t,0)+5.0) AS q
         |  FROM pgrid LEFT JOIN pcb USING (source,bin)
         |  LEFT JOIN pct USING (source)),
         |ptm AS (SELECT prs.source, round((p - q) * ln(p / q), 6) AS term
         |  FROM prs JOIN pcs USING (source, bin)),
         |pout AS (SELECT source, round(sum(term), 6) AS psi
         |  FROM ptm GROUP BY 1),
         |jr AS (SELECT source AS g, CAST(lang AS VARCHAR) AS c FROM refd
         |  WHERE lang IS NOT NULL AND source IS NOT NULL),
         |jc AS (SELECT source AS g, CAST(lang AS VARCHAR) AS c FROM curd
         |  WHERE lang IS NOT NULL AND source IS NOT NULL),
         |jrc AS (SELECT g, c, count(*) AS cr FROM jr GROUP BY 1, 2),
         |jcc AS (SELECT g, c, count(*) AS ccur FROM jc GROUP BY 1, 2),
         |jgrid AS (SELECT coalesce(jrc.g, jcc.g) AS g,
         |    coalesce(jrc.c, jcc.c) AS c,
         |    coalesce(jrc.cr, 0) AS cr, coalesce(jcc.ccur, 0) AS ccur
         |  FROM jrc FULL OUTER JOIN jcc ON jrc.g = jcc.g AND jrc.c = jcc.c),
         |jt AS (SELECT g, c, cr, ccur,
         |    sum(cr) OVER (PARTITION BY g) AS nr,
         |    sum(ccur) OVER (PARTITION BY g) AS nc
         |  FROM jgrid),
         |jterms AS (SELECT g, nr, nc,
         |    CASE WHEN nr > 0 THEN CAST(cr AS DOUBLE) / nr ELSE 0.0 END AS p,
         |    CASE WHEN nc > 0 THEN CAST(ccur AS DOUBLE) / nc ELSE 0.0 END AS q
         |  FROM jt),
         |jtv AS (SELECT g,
         |    coalesce(CASE WHEN p > 0
         |      THEN 0.5 * p * ln(p / ((p + q) / 2.0)) END, 0.0) +
         |    coalesce(CASE WHEN q > 0
         |      THEN 0.5 * q * ln(q / ((p + q) / 2.0)) END, 0.0) AS term
         |  FROM jterms),
         |jout AS (SELECT g AS source,
         |  round(list_sum(list_sort(list(term))), 6) AS js
         |  FROM jtv GROUP BY g),
         |jcnt AS (SELECT g AS source, CAST(max(nr) AS BIGINT) AS js_n_ref,
         |  CAST(max(nc) AS BIGINT) AS js_n_cur FROM jt GROUP BY g),
         |ercomp AS (SELECT source, generate_subscripts(embedding, 1) AS pos,
         |    unnest(embedding) AS v FROM refd),
         |ercent AS (SELECT source, list(cr ORDER BY pos) AS rcen FROM (
         |  SELECT source, pos, round(avg(CAST(v AS DOUBLE)), 6) AS cr
         |  FROM ercomp GROUP BY 1, 2) GROUP BY source),
         |eccomp AS (SELECT source, generate_subscripts(embedding, 1) AS pos,
         |    unnest(embedding) AS v FROM curd),
         |eccent AS (SELECT source, list(cr ORDER BY pos) AS ccen FROM (
         |  SELECT source, pos, round(avg(CAST(v AS DOUBLE)), 6) AS cr
         |  FROM eccomp GROUP BY 1, 2) GROUP BY source),
         |ern AS (SELECT source,
         |    round(avg(sqrt(${SimilarityQueries.dotSql("embedding", "embedding")})), 6) AS rnorm
         |  FROM refd WHERE embedding IS NOT NULL GROUP BY 1),
         |ecn AS (SELECT source,
         |    round(avg(sqrt(${SimilarityQueries.dotSql("embedding", "embedding")})), 6) AS cnorm
         |  FROM curd WHERE embedding IS NOT NULL GROUP BY 1),
         |eside_r AS (SELECT source, rnorm, rcen
         |  FROM ercent JOIN ern USING (source)),
         |eside_c AS (SELECT source, cnorm, ccen
         |  FROM eccent JOIN ecn USING (source)),
         |eout AS (SELECT source,
         |  round(${SimilarityQueries.dotSql("rcen", "ccen")} /
         |    nullif(sqrt(${SimilarityQueries.dotSql("rcen", "rcen")}) * sqrt(${SimilarityQueries.dotSql("ccen", "ccen")}), 0), 6) AS centroid_cosine,
         |  round(cnorm / nullif(rnorm, 0), 6) AS norm_ratio
         |  FROM eside_r FULL OUTER JOIN eside_c USING (source))
         |SELECT source, coalesce(n_ref, 0) AS n_ref,
         |  coalesce(n_cur, 0) AS n_cur,
         |  psi, ks,
         |  coalesce(js_n_ref, 0) AS js_n_ref,
         |  coalesce(js_n_cur, 0) AS js_n_cur,
         |  js, centroid_cosine, norm_ratio
         |FROM kout
         |FULL OUTER JOIN pout USING (source)
         |FULL OUTER JOIN jout USING (source)
         |FULL OUTER JOIN jcnt USING (source)
         |FULL OUTER JOIN eout USING (source)""".stripMargin,

    "shard_rendezvous" ->
      """SELECT c_custkey,
        |  (list_max(list_transform(range(0, 8), s -> struct_pack(
        |    h := md5(CAST(c_custkey AS VARCHAR) || ':'
        |      || CAST(s AS VARCHAR)),
        |    shard := CAST(s AS INTEGER))))).shard AS shard
        |FROM customer""".stripMargin,

    "shard_reshard_report" ->
      """WITH a AS (SELECT
        |  (list_max(list_transform(range(0, 8), s -> struct_pack(
        |    h := md5(CAST(c_custkey AS VARCHAR) || ':'
        |      || CAST(s AS VARCHAR)),
        |    shard := CAST(s AS INTEGER))))).shard AS shard_from,
        |  (list_max(list_transform(range(0, 10), s -> struct_pack(
        |    h := md5(CAST(c_custkey AS VARCHAR) || ':'
        |      || CAST(s AS VARCHAR)),
        |    shard := CAST(s AS INTEGER))))).shard AS shard_to
        |FROM customer)
        |SELECT shard_from, shard_to, count(*) AS n_keys
        |FROM a GROUP BY 1, 2""".stripMargin,

    "basket_association_rules" ->
      """WITH items AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i
        |  FROM lineitem),
        |n AS (SELECT CAST(count(DISTINCT b) AS DOUBLE) AS nb FROM items),
        |ic AS (SELECT i, count(*) AS c FROM items GROUP BY 1),
        |p AS (SELECT x.i AS a, y.i AS b2, count(*) AS pc
        |  FROM items x JOIN items y ON x.b = y.b AND x.i < y.i
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |d AS (SELECT a, b2, pc FROM p
        |  UNION ALL SELECT b2 AS a, a AS b2, pc FROM p)
        |SELECT d.a AS antecedent, d.b2 AS consequent,
        |  CAST(d.pc AS BIGINT) AS pair_count,
        |  round(CAST(d.pc AS DOUBLE) / nb, 6) AS support,
        |  round(CAST(d.pc AS DOUBLE) / CAST(ca.c AS DOUBLE), 6)
        |    AS confidence,
        |  round((CAST(d.pc AS DOUBLE) / CAST(ca.c AS DOUBLE))
        |    / (CAST(cb.c AS DOUBLE) / nb), 6) AS lift
        |FROM d JOIN ic ca ON d.a = ca.i JOIN ic cb ON d.b2 = cb.i, n"""
        .stripMargin,

    // Replays the Spark side exactly: integer-ceil relative support
    // floor ((n+9999)//10000, min 2), then the (degree, id) edge
    // orientation via a degree CTE — deterministic total order, so the
    // wedge-closure triangle count is engine-independent.
    "graph_triangles" ->
      """WITH items AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i
        |  FROM lineitem),
        |mp AS (SELECT greatest(2, (count(DISTINCT b) + 9999) // 10000)
        |  AS minpc FROM items),
        |e0 AS (SELECT x.i AS a, y.i AS b FROM items x
        |  JOIN items y ON x.b = y.b AND x.i < y.i
        |  GROUP BY 1, 2 HAVING count(*) >= (SELECT minpc FROM mp)),
        |deg AS (SELECT node, count(*) AS d FROM (
        |    SELECT a AS node FROM e0 UNION ALL SELECT b FROM e0)
        |  GROUP BY 1),
        |o AS (SELECT
        |    CASE WHEN da.d < db.d OR (da.d = db.d AND e0.a < e0.b)
        |      THEN e0.a ELSE e0.b END AS src,
        |    CASE WHEN da.d < db.d OR (da.d = db.d AND e0.a < e0.b)
        |      THEN e0.b ELSE e0.a END AS dst,
        |    CASE WHEN da.d < db.d OR (da.d = db.d AND e0.a < e0.b)
        |      THEN db.d ELSE da.d END AS dd
        |  FROM e0 JOIN deg da ON e0.a = da.node
        |    JOIN deg db ON e0.b = db.node),
        |w AS (SELECT o1.src, o1.dst AS v, o2.dst AS w
        |  FROM o o1 JOIN o o2 ON o1.src = o2.src
        |  WHERE o1.dd < o2.dd OR (o1.dd = o2.dd AND o1.dst < o2.dst)),
        |t AS (SELECT w.src, w.v, w.w FROM w
        |  WHERE EXISTS (SELECT 1 FROM o
        |    WHERE o.src = w.v AND o.dst = w.w)),
        |x AS (SELECT src AS node FROM t UNION ALL SELECT v FROM t
        |  UNION ALL SELECT w FROM t)
        |SELECT node, count(*) AS n_triangles FROM x GROUP BY node"""
        .stripMargin,

    "graph_kcore" -> {
      val rounds = 3
      val base =
        """WITH items AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i
          |  FROM lineitem),
          |mp AS (SELECT greatest(2, (count(DISTINCT b) + 9999) // 10000)
          |  AS minpc FROM items),
          |e00 AS (SELECT x.i AS a, y.i AS b FROM items x
          |  JOIN items y ON x.b = y.b AND x.i < y.i
          |  GROUP BY 1, 2 HAVING count(*) >= (SELECT minpc FROM mp)),
          |e0 AS (SELECT DISTINCT u, v FROM (
          |  SELECT a AS u, b AS v FROM e00
          |  UNION ALL SELECT b AS u, a AS v FROM e00))""".stripMargin
      val steps = (1 to rounds).map { r =>
        s""",
           |k$r AS (SELECT u FROM e${r - 1} GROUP BY u
           |  HAVING count(*) >= 3),
           |e$r AS (SELECT e.u, e.v FROM e${r - 1} e
           |  WHERE e.u IN (SELECT u FROM k$r)
           |    AND e.v IN (SELECT u FROM k$r))""".stripMargin
      }.mkString
      base + steps +
        s"""
           |SELECT u AS node, CAST(count(*) AS BIGINT) AS residual_degree
           |FROM e$rounds GROUP BY 1""".stripMargin
    },

    "graph_adamic_adar" ->
      """WITH items AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i
        |  FROM lineitem),
        |mp AS (SELECT greatest(2, (count(DISTINCT b) + 9999) // 10000)
        |  AS minpc FROM items),
        |e0 AS (SELECT x.i AS a, y.i AS b FROM items x
        |  JOIN items y ON x.b = y.b AND x.i < y.i
        |  GROUP BY 1, 2 HAVING count(*) >= (SELECT minpc FROM mp)),
        |deg AS (SELECT node, count(*) AS d FROM (
        |    SELECT a AS node FROM e0 UNION ALL SELECT b FROM e0)
        |  GROUP BY 1),
        |adj AS (SELECT x.u, x.n, deg.d FROM (
        |    SELECT a AS u, b AS n FROM e0
        |    UNION ALL SELECT b AS u, a AS n FROM e0) x
        |  JOIN deg ON x.u = deg.node WHERE deg.d <= 10000),
        |wd AS (SELECT a1.u, a1.d, a1.n AS v, a2.n AS w
        |  FROM adj a1 JOIN adj a2 ON a1.u = a2.u WHERE a1.n < a2.n)
        |SELECT v, w, CAST(count(*) AS BIGINT) AS n_common,
        |  round(sum(1.0 / ln(CAST(d AS DOUBLE))), 6) AS aa_score
        |FROM wd GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin,

    // Positional index mirror: 0-based positions from a range unnest
    // (DuckDB lacks WITH ORDINALITY), then one EXISTS per later term at
    // pos + i — the same adjacency intersection as the Spark semi joins.
    "text_phrase_search" ->
      s"""WITH ${TextQueries.wordsCte},
         |p AS (SELECT doc_id, unnest(list_transform(range(len(ws)),
         |    i -> struct_pack(pos := i, w := ws[i+1]))) AS e FROM words),
         |q AS (SELECT doc_id, e.pos AS pos, e.w AS w FROM p),
         |a AS (SELECT doc_id, pos FROM q WHERE w = 'part'),
         |m AS (SELECT a.doc_id, a.pos FROM a
         |  WHERE EXISTS (SELECT 1 FROM q
         |    WHERE q.doc_id = a.doc_id AND q.pos = a.pos + 1
         |      AND q.w = 'filter')
         |    AND EXISTS (SELECT 1 FROM q
         |    WHERE q.doc_id = a.doc_id AND q.pos = a.pos + 2
         |      AND q.w = 'scan'))
         |SELECT doc_id, count(*) AS n_matches FROM m GROUP BY 1"""
        .stripMargin,

    "events_top_paths" ->
      """WITH s AS (SELECT event_type AS step1,
        |    lead(event_type, 1) OVER w AS step2,
        |    lead(event_type, 2) OVER w AS step3
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT step1, step2, step3, count(*) AS n FROM s
        |WHERE step3 IS NOT NULL
        |GROUP BY 1, 2, 3
        |ORDER BY n DESC, step1, step2, step3 LIMIT 10""".stripMargin,

    // Unrolled GD mirror (3 rounds): each wK derives from w{K-1} through
    // the identical score → sigmoid residual → gradient → update chain.
    "text_logreg_weights" ->
      (logregCtes(3) +
        "\nSELECT bucket, round(wv, 5) AS weight FROM w3"),

    "dq_mad_outliers" ->
      """WITH med AS (SELECT event_type,
        |    quantile_cont(value, 0.5) AS med FROM events GROUP BY 1),
        |d AS (SELECT e.event_type, abs(e.value - m.med) AS dd, m.med
        |  FROM events e JOIN med m USING (event_type)),
        |ma AS (SELECT event_type, quantile_cont(dd, 0.5) AS mad
        |  FROM d GROUP BY 1)
        |SELECT d.event_type, count(*) AS n,
        |  round(min(d.med), 6) AS median,
        |  round(min(ma.mad), 6) AS mad,
        |  CAST(sum(CASE WHEN d.dd > 3.0 * 1.4826 * ma.mad
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
        |  round(CAST(sum(CASE WHEN d.dd > 3.0 * 1.4826 * ma.mad
        |    THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
        |    AS outlier_share
        |FROM d JOIN ma USING (event_type) GROUP BY 1""".stripMargin,

    "rfm_segments" ->
      """WITH per AS (SELECT o_custkey,
        |    max(epoch_us(CAST(o_orderdate AS TIMESTAMP))) AS lastus,
        |    count(*) AS frequency,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |      AS m
        |  FROM orders GROUP BY 1),
        |a AS (SELECT max(lastus) AS anchor FROM per),
        |b AS (SELECT o_custkey,
        |    CAST(floor(CAST(anchor - lastus AS DOUBLE) / 86400000000)
        |      AS BIGINT) AS recency_days,
        |    frequency, m FROM per, a)
        |SELECT o_custkey, recency_days,
        |  CAST(frequency AS BIGINT) AS frequency,
        |  round(CAST(m AS DOUBLE) / 100.0, 2) AS monetary,
        |  CAST(ntile(5) OVER (ORDER BY recency_days, o_custkey)
        |    AS INTEGER) AS r_quintile,
        |  CAST(ntile(5) OVER (ORDER BY frequency DESC, o_custkey)
        |    AS INTEGER) AS f_quintile,
        |  CAST(ntile(5) OVER (ORDER BY m DESC, o_custkey)
        |    AS INTEGER) AS m_quintile
        |FROM b""".stripMargin,

    "a23_yoy_monthly_growth" ->
      """WITH m AS (SELECT year(CAST(o_orderdate AS TIMESTAMP)) * 12
        |      + month(CAST(o_orderdate AS TIMESTAMP)) - 1 AS mi,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |      AS rc
        |  FROM orders GROUP BY 1),
        |g AS (SELECT a.mi, a.rc, b.rc AS prev
        |  FROM m a LEFT JOIN m b ON a.mi = b.mi + 12)
        |SELECT CAST((mi // 12) * 100 + (mi % 12) + 1 AS INTEGER) AS yyyymm,
        |  round(CAST(rc AS DOUBLE) / 100.0, 2) AS revenue,
        |  CASE WHEN prev IS NOT NULL AND prev <> 0
        |    THEN round(CAST(rc - prev AS DOUBLE) / CAST(prev AS DOUBLE), 6)
        |      + 0
        |  END AS growth
        |FROM g""".stripMargin,

    "a24_pareto_share" ->
      """WITH per AS (SELECT o_custkey,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |      AS v
        |  FROM orders GROUP BY 1),
        |b AS (SELECT o_custkey, v,
        |    ntile(10) OVER (ORDER BY v DESC, o_custkey) AS d FROM per),
        |g AS (SELECT d AS decile, count(*) AS n_entities,
        |    CAST(sum(v) AS BIGINT) AS s FROM b GROUP BY 1),
        |t AS (SELECT CAST(sum(s) AS BIGINT) AS tt FROM g)
        |SELECT CAST(decile AS INTEGER) AS decile, n_entities,
        |  round(CAST(s AS DOUBLE) / CAST(tt AS DOUBLE), 6) AS share,
        |  round(CAST(CAST(sum(s) OVER (ORDER BY decile
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS DOUBLE) / CAST(tt AS DOUBLE), 6) AS cum_share
        |FROM g, t""".stripMargin,

    "a25_gini_concentration" ->
      """WITH per AS (SELECT o_custkey,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |      AS v
        |  FROM orders GROUP BY 1),
        |r AS (SELECT v,
        |    row_number() OVER (ORDER BY v, o_custkey) AS i FROM per),
        |a AS (SELECT count(*) AS n,
        |    CAST(sum(i * v) AS BIGINT) AS iw,
        |    CAST(sum(v) AS BIGINT) AS s FROM r)
        |SELECT n, round(CAST(2 * iw - (n + 1) * s AS DOUBLE)
        |  / CAST(n * s AS DOUBLE), 6) AS gini
        |FROM a""".stripMargin,

    "ml_target_encoding" ->
      """WITH r AS (SELECT event_id, event_type,
        |    CAST(round(value * 100) AS BIGINT) AS c FROM events),
        |a AS (SELECT event_type, CAST(sum(c) AS BIGINT) AS s2,
        |    count(*) AS n FROM r GROUP BY 1)
        |SELECT r.event_id, r.event_type,
        |  CASE WHEN a.n > 1 THEN
        |    CAST((CASE WHEN a.s2 >= r.c THEN 1 ELSE -1 END) *
        |      ((2 * abs((a.s2 - r.c) * 100) + (a.n - 1))
        |        // (2 * (a.n - 1))) AS DOUBLE) / 10000.0
        |  END AS loo_mean
        |FROM r JOIN a USING (event_type)""".stripMargin,

    // Scoring + binning stacked on the SAME unrolled GD chain.
    "ml_calibration_curve" ->
      (logregCtes(3) +
        """,
          |ps AS (SELECT f.doc_id, sum(f.x * w.wv) AS score
          |  FROM feats f JOIN w3 w USING (bucket) GROUP BY 1),
          |pr AS (SELECT l.doc_id, l.y,
          |    1.0 / (1.0 + exp(-coalesce(p.score, 0.0))) AS prob
          |  FROM lab l LEFT JOIN ps p USING (doc_id)),
          |b AS (SELECT least(CAST(floor(prob * 10) AS INTEGER), 9) AS bin,
          |    prob, y FROM pr)
          |SELECT bin, count(*) AS n,
          |  round(avg(prob), 6) AS mean_predicted,
          |  round(avg(y), 6) AS observed_rate
          |FROM b GROUP BY bin""".stripMargin),

    "ts_acf" -> {
      val lags = (1 to 5).map(k => s"lag(value, $k) OVER w AS l$k")
        .mkString(",\n    ")
      val arms = (1 to 5).map(k =>
        s"SELECT user_id, $k AS lag, x, l$k AS y FROM b WHERE l$k IS NOT NULL")
        .mkString("\n  UNION ALL ")
      s"""WITH b AS (SELECT user_id, value AS x,
         |    $lags
         |  FROM events
         |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         |p AS (
         |  $arms),
         |a AS (SELECT user_id, lag, CAST(count(*) AS DOUBLE) AS n,
         |    count(*) AS np, sum(x) AS sx, sum(y) AS sy,
         |    sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
         |  FROM p GROUP BY 1, 2)
         |SELECT user_id, lag, CAST(np AS BIGINT) AS n_pairs,
         |  CASE WHEN sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)) > 0
         |    THEN round((n * sxy - sx * sy)
         |      / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 4) + 0
         |  END AS acf
         |FROM a""".stripMargin
    },

    "ab_test_cuped" ->
      """WITH u AS (SELECT user_id,
        |    CAST(max(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS a,
        |    sum(CASE WHEN CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-16'
        |      THEN value ELSE 0.0 END) AS y,
        |    sum(CASE WHEN CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-16'
        |      THEN value ELSE 0.0 END) AS x
        |  FROM events GROUP BY user_id),
        |m AS (SELECT CAST(count(*) AS DOUBLE) AS n,
        |    sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
        |    sum(x * x) AS sxx, sum(y * y) AS syy FROM u),
        |t AS (SELECT *,
        |    (sxy - sx * sy / n) / (sxx - sx * sx / n) AS theta,
        |    (syy - sy * sy / n) / n AS vy FROM m),
        |adj AS (SELECT u.user_id, u.a,
        |    u.y - t.theta * (u.x - t.sx / t.n) AS adj FROM u, t)
        |SELECT
        |  CAST(sum(CASE WHEN a = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |  CAST(sum(CASE WHEN a = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        |  round(sum(CASE WHEN a = 1 THEN adj END)
        |    / sum(CASE WHEN a = 1 THEN 1.0 END), 6) AS adj_mean_a,
        |  round(sum(CASE WHEN a = 0 THEN adj END)
        |    / sum(CASE WHEN a = 0 THEN 1.0 END), 6) AS adj_mean_b,
        |  round((SELECT theta FROM t), 6) AS theta,
        |  round(1.0 - ((sum(adj * adj) - sum(adj) * sum(adj)
        |      / CAST(count(*) AS DOUBLE)) / CAST(count(*) AS DOUBLE))
        |    / (SELECT vy FROM t), 6) AS var_reduction,
        |  round(round(sum(CASE WHEN a = 1 THEN adj END)
        |      / sum(CASE WHEN a = 1 THEN 1.0 END), 6)
        |    - round(sum(CASE WHEN a = 0 THEN adj END)
        |      / sum(CASE WHEN a = 0 THEN 1.0 END), 6), 6) AS adj_diff
        |FROM adj""".stripMargin,

    "dq_null_profile" -> {
      val cols = Seq("l_orderkey", "l_partkey", "l_returnflag",
        "l_shipdate", "l_quantity")
      cols.map { c =>
        s"""SELECT '$c' AS column, count(*) AS n_rows,
           |  CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_null,
           |  CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct
           |FROM lineitem""".stripMargin
      }.mkString("\nUNION ALL\n")
    },

    "ab_test_welch_t" ->
      """WITH g AS (SELECT event_type, count(*) AS n, avg(value) AS m,
        |    var_samp(value) AS v
        |  FROM events WHERE event_type IN ('click', 'view')
        |    AND value IS NOT NULL
        |  GROUP BY 1),
        |a AS (SELECT n AS n_a, m AS ma, v AS va FROM g
        |  WHERE event_type = 'click'),
        |b AS (SELECT n AS n_b, m AS mb, v AS vb FROM g
        |  WHERE event_type = 'view')
        |SELECT n_a, n_b, round(ma, 4) AS mean_a, round(mb, 4) AS mean_b,
        |  CASE WHEN n_a >= 2 AND n_b >= 2 AND (va / n_a + vb / n_b) > 0
        |    THEN round((ma - mb) / sqrt(va / n_a + vb / n_b), 4) END
        |    AS t_stat,
        |  CASE WHEN n_a >= 2 AND n_b >= 2 AND (va / n_a + vb / n_b) > 0
        |    THEN round(((va / n_a + vb / n_b) * (va / n_a + vb / n_b)) /
        |      ((va / n_a) * (va / n_a) / (n_a - 1) +
        |       (vb / n_b) * (vb / n_b) / (n_b - 1)), 2) END AS dof
        |FROM a, b""".stripMargin,

    // Midranks via the distinct-value exclusive prefix — the same
    // doubled-integer algebra as the Spark op, so U and z are
    // bit-comparable before their rounds.
    "ab_test_mann_whitney" ->
      """WITH base AS (SELECT value AS v,
        |    CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS ya
        |  FROM events
        |  WHERE event_type IN ('click', 'view') AND value IS NOT NULL),
        |cells AS (SELECT v, count(*) AS cnt, sum(ya) AS ca
        |  FROM base GROUP BY 1),
        |cum AS (SELECT cnt, ca,
        |    coalesce(sum(cnt) OVER (ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
        |  FROM cells),
        |s AS (SELECT CAST(sum(ca) AS BIGINT) AS na,
        |    CAST(sum(cnt - ca) AS BIGINT) AS nb,
        |    CAST(sum(ca * (2 * cb + cnt + 1)) AS BIGINT) AS r2a,
        |    CAST(sum(cnt * cnt * cnt - cnt) AS BIGINT) AS t3,
        |    CAST(sum(cnt) AS BIGINT) AS n
        |  FROM cum),
        |d AS (SELECT *, CAST(r2a - na * (na + 1) AS DOUBLE) AS u2,
        |    CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) / 12.0 *
        |      ((CAST(n AS DOUBLE) + 1.0) - CAST(t3 AS DOUBLE) /
        |        (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))) AS varu
        |  FROM s)
        |SELECT na AS n_a, nb AS n_b, u2 / 2.0 AS u_stat,
        |  CASE WHEN na > 0 AND nb > 0 AND n > 1 AND varu > 0
        |    THEN round((u2 / 2.0 - CAST(na AS DOUBLE) *
        |      CAST(nb AS DOUBLE) / 2.0) / sqrt(varu), 4) END AS z_stat
        |FROM d""".stripMargin,

    "ab_test_kruskal_wallis" ->
      """WITH base AS (SELECT CAST(event_type AS VARCHAR) AS g, value AS v
        |  FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL),
        |cells AS (SELECT v, count(*) AS cnt FROM base GROUP BY 1),
        |cum AS (SELECT v, cnt,
        |    coalesce(sum(cnt) OVER (ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
        |  FROM cells),
        |gc AS (SELECT g, v, count(*) AS gcnt FROM base GROUP BY 1, 2),
        |pg AS (SELECT g, CAST(sum(gcnt) AS BIGINT) AS ng,
        |    CAST(sum(gcnt * (2 * cb + cnt + 1)) AS BIGINT) AS r2g
        |  FROM gc JOIN cum USING (v) GROUP BY 1),
        |ties AS (SELECT CAST(sum(cnt * cnt * cnt - cnt) AS BIGINT) AS t3,
        |    CAST(sum(cnt) AS BIGINT) AS n FROM cum),
        |core AS (SELECT CAST(count(*) AS BIGINT) AS k,
        |    sum((CAST(r2g AS DOUBLE) / 2.0) * (CAST(r2g AS DOUBLE) / 2.0)
        |      / CAST(ng AS DOUBLE)) AS rss
        |  FROM pg),
        |d AS (SELECT k, n,
        |    12.0 / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0)) * rss
        |      - 3.0 * (CAST(n AS DOUBLE) + 1.0) AS h,
        |    1.0 - CAST(t3 AS DOUBLE) / (CAST(n AS DOUBLE) *
        |      CAST(n AS DOUBLE) * CAST(n AS DOUBLE) - CAST(n AS DOUBLE))
        |      AS tf
        |  FROM core, ties)
        |SELECT k, n, CASE WHEN n > 1 THEN round(h, 4) END AS h_stat,
        |  CASE WHEN n > 1 AND tf > 0 THEN round(h / tf, 4) END
        |    AS h_tie_corrected
        |FROM d""".stripMargin,

    "ab_test_anova_f" ->
      """WITH g AS (SELECT event_type, count(*) AS ng, sum(value) AS s,
        |    sum(value * value) AS ss
        |  FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL
        |  GROUP BY 1),
        |f AS (SELECT CAST(count(*) AS BIGINT) AS k,
        |    CAST(sum(ng) AS BIGINT) AS n, sum(s) AS ts, sum(ss) AS tss,
        |    sum(s * s / CAST(ng AS DOUBLE)) AS snm2
        |  FROM g),
        |d AS (SELECT *,
        |    (snm2 - ts * ts / CAST(n AS DOUBLE)) / (CAST(k AS DOUBLE) - 1.0)
        |      AS msb,
        |    (tss - snm2) / (CAST(n AS DOUBLE) - CAST(k AS DOUBLE)) AS msw
        |  FROM f)
        |SELECT k, n, CASE WHEN k > 1 THEN round(msb, 4) END AS ms_between,
        |  CASE WHEN n > k THEN round(msw, 4) END AS ms_within,
        |  CASE WHEN k > 1 AND n > k AND msw > 0 THEN round(msb / msw, 4) END
        |    AS f_stat
        |FROM d""".stripMargin,

    // Same per-bucket means, same broadcast lag spine, same
    // pairwise-complete moment fold — UTC session on both engines, so
    // epoch_us(date_trunc) keys are bit-identical.
    "ts_cross_correlation" ->
      """WITH a AS (SELECT epoch_us(date_trunc('hour', ts)) AS t,
        |    avg(value) AS va
        |  FROM events WHERE event_type = 'click' AND value IS NOT NULL
        |  GROUP BY 1),
        |b AS (SELECT epoch_us(date_trunc('hour', ts)) AS t, avg(value) AS vb
        |  FROM events WHERE event_type = 'view' AND value IS NOT NULL
        |  GROUP BY 1),
        |lags AS (SELECT CAST(range AS INT) AS lag FROM range(-6, 7)),
        |j AS (SELECT lags.lag, a.va, b.vb
        |  FROM a CROSS JOIN lags
        |  JOIN b ON b.t = a.t + CAST(lags.lag AS BIGINT) * 3600000000),
        |m AS (SELECT lag, CAST(count(*) AS BIGINT) AS n_buckets,
        |    sum(va) AS sa, sum(vb) AS sb, sum(va * va) AS saa,
        |    sum(vb * vb) AS sbb, sum(va * vb) AS sab
        |  FROM j GROUP BY 1)
        |SELECT lag, n_buckets,
        |  CASE WHEN n_buckets >= 3 THEN
        |    round((n_buckets * sab - sa * sb) /
        |      nullif(sqrt(n_buckets * saa - sa * sa) *
        |             sqrt(n_buckets * sbb - sb * sb), 0), 4) END AS xcorr
        |FROM m""".stripMargin,

    // Integer-micros gaps, the same (ts, event_id) tie order, sample σ.
    "ts_burstiness" ->
      """WITH g AS (SELECT user_id,
        |    (epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts), event_id)) / 1e6 AS gap
        |  FROM events),
        |m AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_gaps,
        |    avg(gap) AS mu, stddev_samp(gap) AS sd
        |  FROM g WHERE gap IS NOT NULL GROUP BY 1)
        |SELECT user_id, n_gaps, round(mu, 4) AS mean_gap_secs,
        |  CASE WHEN sd + mu > 0 THEN round((sd - mu) / (sd + mu), 4) END
        |    AS burstiness,
        |  CASE WHEN mu > 0 THEN round(sd / mu, 4) END AS cv
        |FROM m WHERE n_gaps >= 2""".stripMargin,

    // Doubled midranks from the distinct-value exclusive prefix (the
    // mann_whitney algebra on both axes); HUGEINT-exact sums cast to
    // double only inside the closed form — bit-comparable to Spark's
    // Long sums.
    "ml_spearman_corr" ->
      """WITH base AS (SELECT CAST(value AS DOUBLE) AS x,
        |    CAST(epoch_us(ts) AS DOUBLE) AS y
        |  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL),
        |cx AS (SELECT x, count(*) AS cnt FROM base GROUP BY 1),
        |rx AS (SELECT x, 2 * coalesce(sum(cnt) OVER (ORDER BY x
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    + cnt + 1 AS r FROM cx),
        |cy AS (SELECT y, count(*) AS cnt FROM base GROUP BY 1),
        |ry AS (SELECT y, 2 * coalesce(sum(cnt) OVER (ORDER BY y
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    + cnt + 1 AS r FROM cy),
        |j AS (SELECT rx.r AS a, ry.r AS b
        |  FROM base JOIN rx USING (x) JOIN ry USING (y)),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(a) AS DOUBLE) AS sa, CAST(sum(b) AS DOUBLE) AS sb,
        |    CAST(sum(a * a) AS DOUBLE) AS saa,
        |    CAST(sum(b * b) AS DOUBLE) AS sbb,
        |    CAST(sum(a * b) AS DOUBLE) AS sab
        |  FROM j)
        |SELECT n, CASE WHEN n >= 3 THEN
        |    round((n * sab - sa * sb) /
        |      nullif(sqrt(n * saa - sa * sa) * sqrt(n * sbb - sb * sb), 0), 4)
        |  END AS spearman_rho
        |FROM m""".stripMargin,

    // Group means join, |v − mean| transform, then the anova moment
    // fold on z — W is anova's F renamed.
    "ab_test_levene" ->
      """WITH base AS (SELECT event_type AS g, CAST(value AS DOUBLE) AS v
        |  FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL),
        |gm AS (SELECT g, avg(v) AS m FROM base GROUP BY 1),
        |z AS (SELECT base.g, abs(v - m) AS z FROM base JOIN gm USING (g)),
        |ga AS (SELECT g, count(*) AS ng, sum(z) AS s, sum(z * z) AS ss
        |  FROM z GROUP BY 1),
        |f AS (SELECT CAST(count(*) AS BIGINT) AS k,
        |    CAST(sum(ng) AS BIGINT) AS n, sum(s) AS ts, sum(ss) AS tss,
        |    sum(s * s / CAST(ng AS DOUBLE)) AS snm2
        |  FROM ga),
        |d AS (SELECT *,
        |    (snm2 - ts * ts / CAST(n AS DOUBLE)) / (CAST(k AS DOUBLE) - 1.0)
        |      AS msb,
        |    (tss - snm2) / (CAST(n AS DOUBLE) - CAST(k AS DOUBLE)) AS msw
        |  FROM f)
        |SELECT k, n, CASE WHEN k > 1 THEN round(msb, 4) END AS ms_between,
        |  CASE WHEN n > k THEN round(msw, 4) END AS ms_within,
        |  CASE WHEN k > 1 AND n > k AND msw > 0 THEN round(msb / msw, 4) END
        |    AS w_stat
        |FROM d""".stripMargin,

    "ab_test_effect_size" ->
      """WITH g AS (SELECT event_type, count(*) AS n, avg(value) AS m,
        |    var_samp(value) AS v
        |  FROM events WHERE event_type IN ('click', 'view')
        |    AND value IS NOT NULL
        |  GROUP BY 1),
        |a AS (SELECT n AS n_a, m AS ma, v AS va FROM g
        |  WHERE event_type = 'click'),
        |b AS (SELECT n AS n_b, m AS mb, v AS vb FROM g
        |  WHERE event_type = 'view'),
        |d AS (SELECT *,
        |    ((n_a - 1.0) * va + (n_b - 1.0) * vb) / (n_a + n_b - 2.0) AS sp2
        |  FROM a, b)
        |SELECT n_a, n_b, round(ma, 4) AS mean_a, round(mb, 4) AS mean_b,
        |  CASE WHEN n_a >= 2 AND n_b >= 2 AND sp2 > 0
        |    THEN round((ma - mb) / sqrt(sp2), 4) END AS cohens_d,
        |  CASE WHEN n_a >= 2 AND n_b >= 2 AND sp2 > 0
        |    THEN round((ma - mb) / sqrt(sp2) *
        |      (1.0 - 3.0 / (4.0 * (n_a + n_b) - 9.0)), 4) END AS hedges_g
        |FROM d""".stripMargin,

    // Integer degree sums (HUGEINT-exact, matching Spark's Longs);
    // double only inside the closed form.
    "graph_assortativity" ->
      """WITH e0 AS (SELECT DISTINCT
        |    'c' || CAST(o_custkey AS VARCHAR) AS src,
        |    's' || CAST(l_suppkey AS VARCHAR) AS dst
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |e AS (SELECT src, dst FROM e0
        |  UNION ALL SELECT dst AS src, src AS dst FROM e0),
        |deg AS (SELECT src AS node, count(*) AS d FROM e GROUP BY 1),
        |oe AS (SELECT dx.d AS x, dy.d AS y FROM e
        |  JOIN deg dx ON e.src = dx.node
        |  JOIN deg dy ON e.dst = dy.node),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
        |    CAST(sum(x * x) AS DOUBLE) AS sxx,
        |    CAST(sum(y * y) AS DOUBLE) AS syy,
        |    CAST(sum(x * y) AS DOUBLE) AS sxy
        |  FROM oe)
        |SELECT n AS n_edges, CASE WHEN n >= 2 THEN
        |    round((n * sxy - sx * sy) /
        |      nullif(sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy), 0), 4)
        |  END AS assortativity
        |FROM m""".stripMargin,

    // Zero cells folded algebraically, exactly as the chi2 oracle; V
    // from the UNROUNDED chi2.
    "ml_cramers_v" ->
      """WITH base AS (SELECT lang AS x, source AS y FROM documents
        |  WHERE lang IS NOT NULL AND source IS NOT NULL),
        |cells AS (SELECT x, y, count(*) AS nxy FROM base GROUP BY 1, 2),
        |mx AS (SELECT x, count(*) AS nx FROM base GROUP BY 1),
        |my AS (SELECT y, count(*) AS ny FROM base GROUP BY 1),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM base),
        |t AS (SELECT
        |    sum((nxy - CAST(nx AS DOUBLE) * ny / n) *
        |        (nxy - CAST(nx AS DOUBLE) * ny / n) /
        |        (CAST(nx AS DOUBLE) * ny / n) -
        |        CAST(nx AS DOUBLE) * ny / n) + CAST(max(n) AS DOUBLE)
        |      AS chi2raw,
        |    max(n) AS n_rows,
        |    CAST(count(DISTINCT x) AS BIGINT) AS r,
        |    CAST(count(DISTINCT y) AS BIGINT) AS c
        |  FROM cells JOIN mx USING (x) JOIN my USING (y), tot)
        |SELECT n_rows, r, c, round(chi2raw, 6) AS chi2,
        |  CASE WHEN least(r, c) > 1 THEN
        |    round(sqrt(chi2raw / (CAST(n_rows AS DOUBLE) *
        |      CAST(least(r, c) - 1 AS DOUBLE))), 6) END AS cramers_v
        |FROM t""".stripMargin,

    "a30_trimmed_mean" ->
      """WITH b AS (SELECT CAST(value AS DOUBLE) AS v, event_id AS t
        |  FROM events WHERE value IS NOT NULL),
        |r AS (SELECT v, row_number() OVER (ORDER BY v, t) AS rn,
        |    count(*) OVER () AS n FROM b),
        |f AS (SELECT v, n FROM r
        |  WHERE rn > (n * 500) // 10000 AND rn <= n - (n * 500) // 10000)
        |SELECT CAST(max(n) AS BIGINT) AS n_rows,
        |  CAST(count(*) AS BIGINT) AS n_kept,
        |  round(avg(v), 6) AS trimmed_mean
        |FROM f""".stripMargin,

    // The bootstrap oracle's md5-chunk uniforms drive the relabeling;
    // replica and observed diffs re-quantize at 6 dp before the
    // comparison.
    "ab_test_permutation" ->
      """WITH b AS (SELECT CAST(event_id AS VARCHAR) AS k,
        |    CAST(value AS DOUBLE) AS v, event_type = 'click' AS ya
        |  FROM events WHERE event_type IN ('click', 'view')
        |    AND value IS NOT NULL),
        |o AS (SELECT
        |    CAST(sum(CASE WHEN ya THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |    CAST(sum(CASE WHEN ya THEN 0 ELSE 1 END) AS BIGINT) AS n_b,
        |    round(avg(CASE WHEN ya THEN v END) -
        |      avg(CASE WHEN NOT ya THEN v END), 6) AS dobs
        |  FROM b),
        |u AS (SELECT v, rb,
        |    ('0x' || substr(md5(k || ':' || CAST(rb // 4 AS VARCHAR)),
        |      CAST(1 + (rb % 4) * 8 AS BIGINT), 8))
        |      ::BIGINT / 4294967296.0 AS uu
        |  FROM (SELECT k, v, unnest(range(0, 32)) AS rb FROM b)),
        |pr AS (SELECT rb,
        |    round(avg(CASE WHEN uu <
        |        (SELECT CAST(n_a AS DOUBLE) / CAST(n_a + n_b AS DOUBLE)
        |         FROM o) THEN v END) -
        |      avg(CASE WHEN uu >=
        |        (SELECT CAST(n_a AS DOUBLE) / CAST(n_a + n_b AS DOUBLE)
        |         FROM o) THEN v END), 6) AS db
        |  FROM u GROUP BY 1)
        |SELECT o.n_a, o.n_b, o.dobs AS diff_obs,
        |  CAST(count(*) AS BIGINT) AS n_replicas,
        |  CAST(sum(CASE WHEN db IS NOT NULL AND abs(db) >= abs(o.dobs)
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_as_extreme
        |FROM pr, o GROUP BY 1, 2, 3""".stripMargin,

    "ml_lift_curve" ->
      """WITH b AS (SELECT CAST(n_chars AS DOUBLE) AS s, doc_id AS t,
        |    CASE WHEN source = 'src0' THEN 1 ELSE 0 END AS y
        |  FROM documents WHERE n_chars IS NOT NULL),
        |r AS (SELECT s, t, y,
        |    row_number() OVER (ORDER BY s DESC, t) AS rn,
        |    count(*) OVER () AS n FROM b),
        |pb AS (SELECT ((rn - 1) * 10) // n + 1 AS bucket,
        |    count(*) AS nn, sum(y) AS pos, max(n) AS nt
        |  FROM r GROUP BY 1),
        |c AS (SELECT bucket, nn, pos, nt,
        |    sum(nn) OVER (ORDER BY bucket
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cn,
        |    sum(pos) OVER (ORDER BY bucket
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cp,
        |    sum(pos) OVER () AS pt
        |  FROM pb)
        |SELECT CAST(bucket AS INTEGER) AS bucket, CAST(nn AS BIGINT) AS n,
        |  CAST(pos AS BIGINT) AS positives,
        |  CAST(cp AS BIGINT) AS cum_positives,
        |  CASE WHEN pt > 0
        |    THEN round(CAST(cp AS DOUBLE) / pt, 6) END AS capture_rate,
        |  CASE WHEN pt > 0 THEN
        |    round((CAST(cp AS DOUBLE) / cn) / (CAST(pt AS DOUBLE) / nt), 6)
        |  END AS lift
        |FROM c""".stripMargin,

    // Exact integer coincidence counts; rational folds only at the end.
    "ml_krippendorff_alpha" ->
      """WITH nuc AS (SELECT user_id AS item, event_type AS cat,
        |    count(*) AS c
        |  FROM events WHERE user_id IS NOT NULL AND event_type IS NOT NULL
        |  GROUP BY 1, 2),
        |pi AS (SELECT item, CAST(sum(c) AS BIGINT) AS m,
        |    CAST(sum(c * c) AS BIGINT) AS s2
        |  FROM nuc GROUP BY 1 HAVING sum(c) >= 2),
        |d AS (SELECT CAST(count(*) AS BIGINT) AS n_items,
        |    CAST(sum(m) AS BIGINT) AS n_judgments,
        |    sum(CAST(m * m - s2 AS DOUBLE) / CAST(m - 1 AS DOUBLE)) AS dobs
        |  FROM pi),
        |mg AS (SELECT cat, CAST(sum(c) AS BIGINT) AS nc
        |  FROM nuc JOIN pi USING (item) GROUP BY 1),
        |de AS (SELECT CAST(sum(nc) AS BIGINT) AS n,
        |    CAST(sum(nc * nc) AS BIGINT) AS nc2 FROM mg)
        |SELECT n_items, n_judgments,
        |  CASE WHEN n > 1 AND n * n - nc2 > 0 THEN
        |    round(1.0 - dobs / (CAST(n * n - nc2 AS DOUBLE) /
        |      CAST(n - 1 AS DOUBLE)), 6) END AS alpha
        |FROM d, de""".stripMargin,

    // The triangles oracle's oriented wedge closure plus the degree
    // join and the C(v) ratio; triangle-less nodes report 0.
    "graph_clustering_coeff" ->
      """WITH items AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i
        |  FROM lineitem),
        |mp AS (SELECT greatest(2, (count(DISTINCT b) + 9999) // 10000)
        |  AS minpc FROM items),
        |e0 AS (SELECT x.i AS a, y.i AS b FROM items x
        |  JOIN items y ON x.b = y.b AND x.i < y.i
        |  GROUP BY 1, 2 HAVING count(*) >= (SELECT minpc FROM mp)),
        |deg AS (SELECT node, CAST(count(*) AS BIGINT) AS degree FROM (
        |    SELECT a AS node FROM e0 UNION ALL SELECT b FROM e0)
        |  GROUP BY 1),
        |o AS (SELECT
        |    CASE WHEN da.degree < db.degree
        |      OR (da.degree = db.degree AND e0.a < e0.b)
        |      THEN e0.a ELSE e0.b END AS src,
        |    CASE WHEN da.degree < db.degree
        |      OR (da.degree = db.degree AND e0.a < e0.b)
        |      THEN e0.b ELSE e0.a END AS dst,
        |    CASE WHEN da.degree < db.degree
        |      OR (da.degree = db.degree AND e0.a < e0.b)
        |      THEN db.degree ELSE da.degree END AS dd
        |  FROM e0 JOIN deg da ON e0.a = da.node
        |    JOIN deg db ON e0.b = db.node),
        |w AS (SELECT o1.src, o1.dst AS v, o2.dst AS w
        |  FROM o o1 JOIN o o2 ON o1.src = o2.src
        |  WHERE o1.dd < o2.dd OR (o1.dd = o2.dd AND o1.dst < o2.dst)),
        |t AS (SELECT w.src, w.v, w.w FROM w
        |  WHERE EXISTS (SELECT 1 FROM o
        |    WHERE o.src = w.v AND o.dst = w.w)),
        |x AS (SELECT src AS node FROM t UNION ALL SELECT v FROM t
        |  UNION ALL SELECT w FROM t),
        |tc AS (SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
        |  FROM x GROUP BY node)
        |SELECT deg.node, deg.degree,
        |  coalesce(tc.n_triangles, 0) AS n_triangles,
        |  CASE WHEN deg.degree >= 2 THEN
        |    round(2.0 * coalesce(tc.n_triangles, 0) /
        |      CAST(deg.degree * (deg.degree - 1) AS DOUBLE), 6)
        |  END AS clustering_coeff
        |FROM deg LEFT JOIN tc ON deg.node = tc.node""".stripMargin,

    // Unrolled MM rounds; denominators and the normalizing total fold
    // over value-sorted term lists (list_sort → list_sum ≡ Spark
    // array_sort → aggregate); strengths re-quantize to 6 dp per round.
    "pref_bradley_terry" -> {
      val rounds = 3
      val base =
        """WITH ev AS (SELECT user_id, event_id, event_type, value
          |  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL),
          |wz AS (SELECT user_id, event_type,
          |    row_number() OVER (PARTITION BY user_id
          |      ORDER BY value DESC, event_id DESC) AS rw,
          |    row_number() OVER (PARTITION BY user_id
          |      ORDER BY value ASC, event_id ASC) AS rl
          |  FROM ev),
          |judged AS (SELECT w.event_type AS wi, l.event_type AS lj
          |  FROM (SELECT user_id, event_type FROM wz WHERE rw = 1) w
          |  JOIN (SELECT user_id, event_type FROM wz WHERE rl = 1) l
          |    USING (user_id)
          |  WHERE w.event_type <> l.event_type),
          |wins AS (SELECT wi AS i, count(*) AS w FROM judged GROUP BY 1),
          |g AS (SELECT i, j, count(*) AS n FROM (
          |    SELECT wi AS i, lj AS j FROM judged
          |    UNION ALL SELECT lj, wi FROM judged)
          |  GROUP BY 1, 2),
          |items AS (SELECT DISTINCT i FROM g),
          |w0 AS (SELECT items.i, coalesce(wins.w, 0) AS wins, 1.0 AS s
          |  FROM items LEFT JOIN wins ON items.i = wins.i)""".stripMargin
      val steps = (1 to rounds).map { k =>
        s""",
           |d$k AS (SELECT g.i,
           |    list_sum(list_sort(list(CAST(g.n AS DOUBLE) / (si.s + sj.s))))
           |      AS d
           |  FROM g JOIN w${k - 1} si ON g.i = si.i
           |    JOIN w${k - 1} sj ON g.j = sj.i
           |  GROUP BY 1),
           |r$k AS (SELECT p.i, p.wins,
           |    round(CAST(p.wins AS DOUBLE) / d$k.d, 6) AS raw
           |  FROM w${k - 1} p JOIN d$k ON p.i = d$k.i),
           |t$k AS (SELECT list_sum(list_sort(list(raw))) AS t FROM r$k),
           |w$k AS (SELECT i, wins, round(raw / (SELECT t FROM t$k), 6) AS s
           |  FROM r$k)""".stripMargin
      }.mkString
      base + steps +
        s"\nSELECT i AS item, CAST(wins AS BIGINT) AS wins, s AS strength" +
        s"\nFROM w$rounds"
    },

    "dq_corpus_diff" ->
      """WITH oldv AS (SELECT doc_id, source, md5(text) AS h,
        |    CAST(length(text) AS BIGINT) AS len FROM documents),
        |newv AS (SELECT doc_id, source,
        |    md5(CASE WHEN doc_id % 13 = 0 THEN text || ' revised'
        |      ELSE text END) AS h,
        |    CAST(length(CASE WHEN doc_id % 13 = 0 THEN text || ' revised'
        |      ELSE text END) AS BIGINT) AS len
        |  FROM documents WHERE doc_id % 17 <> 0
        |  UNION ALL
        |  SELECT doc_id + 100000, source, md5(text),
        |    CAST(length(text) AS BIGINT)
        |  FROM documents WHERE doc_id % 19 = 0),
        |j AS (SELECT coalesce(n.source, o.source) AS source,
        |    CASE WHEN o.h IS NULL THEN 'added'
        |      WHEN n.h IS NULL THEN 'removed'
        |      WHEN o.h <> n.h THEN 'changed'
        |      ELSE 'unchanged' END AS status,
        |    coalesce(n.len, 0) - coalesce(o.len, 0) AS delta
        |  FROM oldv o FULL OUTER JOIN newv n USING (doc_id))
        |SELECT source, status, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(delta) AS BIGINT) AS char_delta
        |FROM j GROUP BY 1, 2""".stripMargin,

    "dq_freshness" ->
      """WITH per AS (SELECT event_type,
        |    max(epoch_us(CAST(ts AS TIMESTAMP))) AS last_event_us,
        |    count(*) AS n_rows
        |  FROM events GROUP BY 1),
        |f AS (SELECT max(last_event_us) AS front FROM per)
        |SELECT event_type, CAST(n_rows AS BIGINT) AS n_rows,
        |  last_event_us,
        |  (f.front - last_event_us) // 3600000000 AS lag_hours,
        |  (f.front - last_event_us) // 3600000000 >= 24 AS stale
        |FROM per, f""".stripMargin,

    "a29_active_users" ->
      """WITH ud AS (SELECT DISTINCT user_id AS u,
        |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS d
        |  FROM events),
        |dau AS (SELECT d AS day, count(*) AS dau FROM ud GROUP BY 1),
        |cov AS (SELECT u, d + x.x AS day FROM ud,
        |  (SELECT unnest(range(0, 7)) AS x) x),
        |wau AS (SELECT day, count(DISTINCT u) AS wau FROM cov GROUP BY 1)
        |SELECT CAST(dau.day AS BIGINT) AS day,
        |  CAST(dau.dau AS BIGINT) AS dau, CAST(wau.wau AS BIGINT) AS wau
        |FROM dau JOIN wau USING (day)""".stripMargin,

    "events_markov_stationary" -> {
      val iters = 3
      val base =
        """WITH p AS (SELECT event_type AS from_state,
          |    lead(event_type) OVER (PARTITION BY user_id
          |      ORDER BY ts, event_id) AS to_state
          |  FROM events),
          |c AS (SELECT from_state, to_state, count(*) AS n FROM p
          |  WHERE to_state IS NOT NULL GROUP BY 1, 2),
          |t AS (SELECT from_state, sum(n) AS row_total FROM c GROUP BY 1),
          |tm AS (SELECT c.from_state, c.to_state,
          |    round(CAST(c.n AS DOUBLE) / CAST(t.row_total AS DOUBLE), 6)
          |      AS prob
          |  FROM c JOIN t ON c.from_state = t.from_state),
          |st AS (SELECT DISTINCT from_state AS state FROM tm),
          |ns AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM st),
          |p0 AS (SELECT state, round(1.0 / (SELECT n FROM ns), 6) AS p
          |  FROM st)""".stripMargin
      val steps = (1 to iters).map { k =>
        s""",
           |p$k AS (SELECT tm.to_state AS state,
           |    round(sum(pp.p * tm.prob), 6) AS p
           |  FROM tm JOIN p${k - 1} pp ON tm.from_state = pp.state
           |  GROUP BY 1)""".stripMargin
      }.mkString
      base + steps + s"\nSELECT state, p AS stationary_p FROM p$iters"
    },

    // Ranks 1 and 32 are the basis-point nearest-rank quantiles the
    // engine derives: (250·32 + 9999)//10⁴ and (9750·32 + 9999)//10⁴.
    "stats_bootstrap_ci" ->
      """WITH b AS (SELECT CAST(event_id AS VARCHAR) AS k,
        |    CAST(value AS DOUBLE) AS v FROM events WHERE value IS NOT NULL),
        |u AS (SELECT v, rb,
        |    ('0x' || substr(md5(k || ':' || CAST(rb // 4 AS VARCHAR)),
        |      CAST(1 + (rb % 4) * 8 AS BIGINT), 8))
        |      ::BIGINT / 4294967296.0 AS uu
        |  FROM (SELECT k, v, unnest(range(0, 32)) AS rb FROM b)),
        |m AS (SELECT rb, v,
        |    CASE WHEN uu < 0.36787944117144233 THEN 0
        |         WHEN uu < 0.7357588823428847 THEN 1
        |         WHEN uu < 0.9196986029286058 THEN 2
        |         WHEN uu < 0.9810118431238463 THEN 3
        |         WHEN uu < 0.9963401531726563 THEN 4
        |         WHEN uu < 0.9994058151824183 THEN 5
        |         ELSE 6 END AS mm
        |  FROM u),
        |pm AS (SELECT rb,
        |    round(sum(CAST(mm AS DOUBLE) * v)
        |      / nullif(sum(CAST(mm AS DOUBLE)), 0.0), 6) AS mean
        |  FROM m GROUP BY 1),
        |rk AS (SELECT rb, mean,
        |    row_number() OVER (ORDER BY mean, rb) AS rn,
        |    count(*) OVER () AS cnt FROM pm
        |  WHERE mean IS NOT NULL),
        |ci AS (SELECT min(CASE WHEN rn = greatest(1,
        |      (500 * cnt + 19999) // 20000) THEN mean END) AS ci_lo,
        |    min(CASE WHEN rn = least(cnt,
        |      (19500 * cnt + 19999) // 20000) THEN mean END) AS ci_hi,
        |    CAST(count(*) AS BIGINT) AS n_replicas FROM rk),
        |o AS (SELECT count(*) AS n, round(avg(v), 6) AS mean FROM b)
        |SELECT o.n, o.mean, ci.ci_lo, ci.ci_hi, ci.n_replicas
        |FROM o, ci""".stripMargin,

    "events_transition_matrix" ->
      """WITH p AS (SELECT event_type AS from_state,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS to_state
        |  FROM events),
        |c AS (SELECT from_state, to_state, count(*) AS n FROM p
        |  WHERE to_state IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT from_state, sum(n) AS row_total FROM c GROUP BY 1)
        |SELECT c.from_state, c.to_state, c.n,
        |  round(CAST(c.n AS DOUBLE) / CAST(t.row_total AS DOUBLE), 6)
        |    AS prob
        |FROM c JOIN t ON c.from_state = t.from_state""".stripMargin
  )
}
