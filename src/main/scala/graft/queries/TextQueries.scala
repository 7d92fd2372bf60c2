package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{DataQuality, Dedup, OpCaches, Sampling, Stats, TextAnalysis}
import graft.sources.Tables

/** Training-data-pipeline text operators over the `documents` table:
  * token counting, quality scoring, language ID, fingerprinting, and the
  * dedup family (exact, MinHash+LSH, n-gram Jaccard, SimHash).
  *
  * Oracle portability: all hashes derive from md5 hex substrings
  * (Spark `conv(hex,16,10)` ≡ DuckDB `('0x'||hex)::BIGINT`).
  */
object TextQueries {

  type Q = (SparkSession, String) => DataFrame

  // Shared DuckDB CTE: whitespace tokenization + distinct 3-word shingles.
  private[queries] def wordsCteFor(tbl: String) =
    s"words AS (SELECT doc_id, string_split(trim(text), ' ') AS ws FROM $tbl)"
  private[queries] val wordsCte = wordsCteFor("documents")
  private[queries] val shinglesCte =
    """sh AS (SELECT DISTINCT doc_id, unnest(list_transform(range(greatest(len(ws)-2, 0)),
      |  i -> ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3])) AS shingle FROM words)""".stripMargin
  // Hot-shingle capping (mirrors Dedup.nearDuplicates' default
  // maxDocFrequency = 0.1): shingles in more than 10% of documents are
  // dropped before any join. On this testdata max df is < 2%, so capped
  // and uncapped results coincide — the spec plants a hot shingle to prove
  // the mechanism.
  private[queries] def cappedCteFor(tbl: String) =
    s"""shf AS (SELECT doc_id, shingle FROM sh
       |  WHERE shingle NOT IN (SELECT shingle FROM sh GROUP BY shingle
       |    HAVING count(*) > 0.1 * (SELECT count(DISTINCT doc_id) FROM $tbl)))""".stripMargin
  private[queries] val cappedCte = cappedCteFor("documents")

  // Zipf-skew stress corpus, derived deterministically from the documents
  // table: every doc_id divisible by 5 (20% of the corpus) gets the SAME
  // text — one giant near-dup cluster whose shingles all exceed the 10%
  // df cap. This is the adversarial input behind SURVEY §4's top scale
  // risk; the skew_stress_* gates prove the capped operators stay bounded
  // AND still match a cap-mirroring oracle on it.
  private[queries] val HotText =
    "the hot template sentence repeats verbatim across one fifth of this corpus"
  private[queries] val skewedDocsCte =
    s"""docs_skewed AS (SELECT doc_id,
       |  CASE WHEN doc_id % 5 = 0 THEN '$HotText' ELSE text END AS text
       |  FROM documents)""".stripMargin
  // Fixed-banding signature (single md5, 4 chunk permutations, r = 1):
  // the oracle for the dedup_minhash_lsh gate, which calls
  // Dedup.minhashSignatures directly.
  private[queries] def sigCte(src: String) =
    s"""sig AS (SELECT doc_id, b, min(substr(md5(shingle), 1 + 8*b, 8)) AS minhash
       |  FROM $src, (SELECT unnest(range(4)) AS b) bands GROUP BY doc_id, b)""".stripMargin
  // Planner-banded LSH candidates — the DEFAULT nearDuplicates path since
  // round 14 (round-13 verdict #2). The `plan` CTE re-derives bandsFor's
  // pick INDEPENDENTLY from the divisor grid (argmin |t½ − t|, t½ =
  // (1/b)^(b/nPerms), ties → more bands); permutation p's hash is hex
  // chunk (p mod 4) of md5((p div 4) ':' shingle) — four 32-bit
  // permutations per md5, mirroring minhashSignaturesPlanned — and a
  // band's bucket concatenates its rowsPerBand minima in perm order.
  // floor(), not a cast, for the band index (DuckDB CASTs round, Spark's
  // truncate — floor agrees everywhere).
  private[queries] def plannedCandCtes(src: String, t: Double,
                                       nPerms: Int = 16): String =
    s"""plan AS (SELECT CAST(b AS INTEGER) AS bands,
       |    CAST($nPerms / b AS INTEGER) AS rpb
       |  FROM (SELECT unnest(range(1, ${nPerms + 1})) AS b)
       |  WHERE $nPerms % b = 0
       |  ORDER BY abs(power(1.0 / b, CAST(b AS DOUBLE) / $nPerms) - $t),
       |    b DESC LIMIT 1),
       |mh AS (SELECT doc_id, perm,
       |    min(substr(md5(CAST(perm // 4 AS VARCHAR) || ':' || shingle),
       |      CAST(1 + 8 * (perm % 4) AS INTEGER), 8)) AS mh
       |  FROM $src, (SELECT unnest(range($nPerms)) AS perm) perms
       |  GROUP BY 1, 2),
       |sig AS (SELECT doc_id,
       |    CAST(floor(perm / (SELECT rpb FROM plan)) AS INTEGER) AS band,
       |    string_agg(mh, '' ORDER BY perm) AS bucket
       |  FROM mh GROUP BY 1, 2),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM sig a JOIN sig b ON a.band = b.band AND a.bucket = b.bucket
       |    AND a.doc_id < b.doc_id)""".stripMargin
  private[queries] def interCte(src: String) =
    s"""sz AS (SELECT doc_id, count(*) AS sz FROM $src GROUP BY 1),
       |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
       |  FROM $src a JOIN $src b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)""".stripMargin

  // Hash-cosine pair mining over the 20% cohort, parameterized by the
  // bucket-occupancy cap — ONE SQL definition for both the default-cap
  // gate and the skew-stress gate, mirroring Dedup.hashCosinePairs'
  // two-phase shape: candidates only from buckets at/below `cap`, exact
  // dot over ALL buckets for survivors.
  private def hashCosineOracleSql(cap: Long, minCos: Double): String =
    s"""WITH cohort AS (SELECT * FROM documents WHERE doc_id % 5 = 0),
       |${wordsCteFor("cohort")},
       |tok AS (SELECT doc_id, unnest(ws) AS w FROM words),
       |h AS (SELECT doc_id,
       |  ('0x' || substr(md5(w), 1, 6))::BIGINT % 64 AS bucket,
       |  1 - 2 * (('0x' || substr(md5(w), 7, 1))::BIGINT % 2) AS s FROM tok),
       |sp AS (SELECT doc_id, bucket, CAST(sum(s) AS BIGINT) AS weight
       |  FROM h GROUP BY 1, 2 HAVING sum(s) <> 0),
       |hot AS (SELECT bucket FROM sp GROUP BY bucket HAVING count(*) > $cap),
       |cold AS (SELECT doc_id, bucket FROM sp
       |  WHERE bucket NOT IN (SELECT bucket FROM hot)),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM cold a JOIN cold b ON a.bucket = b.bucket
       |    AND a.doc_id < b.doc_id),
       |nrm AS (SELECT doc_id, CAST(sum(weight * weight) AS BIGINT) AS nsq
       |  FROM sp GROUP BY 1),
       |d AS (SELECT c.doc_a, c.doc_b,
       |    CAST(sum(a.weight * b.weight) AS BIGINT) AS dot
       |  FROM cand c JOIN sp a ON a.doc_id = c.doc_a
       |       JOIN sp b ON b.doc_id = c.doc_b AND b.bucket = a.bucket
       |  GROUP BY 1, 2),
       |v AS (SELECT doc_a, doc_b, dot,
       |  round(CAST(dot AS DOUBLE) /
       |    (sqrt(CAST(na.nsq AS DOUBLE)) * sqrt(CAST(nb.nsq AS DOUBLE))), 6) AS cos
       |  FROM d JOIN nrm na ON d.doc_a = na.doc_id
       |         JOIN nrm nb ON d.doc_b = nb.doc_id)
       |SELECT doc_a, doc_b, dot, cos FROM v WHERE cos >= $minCos""".stripMargin

  // Shared dirty-corpus injection for the unicode-scrub and composite
  // gates: ONE definition on each side of the oracle boundary (the Scala
  // literal and its chr() SQL rendering must stay character-identical).
  private def dirtyInject(text: org.apache.spark.sql.Column) =
    concat(lit("\u0007bad "), text, lit(" \u200B \u200Dtail\uFEFF"))
  private val dirtyInjectSql =
    "chr(7) || 'bad ' || text || ' ' || chr(8203) || ' ' || chr(8205) || 'tail' || chr(65279)"

  // DuckDB length-difference character-class count (same formula the
  // engine uses; the \x{..} classes in TextAnalysis are RE2-compatible,
  // so the SAME constants serve both engines).
  private def classCountSql(src: String, cls: String): String =
    s"CAST(length($src) - length(regexp_replace($src, '$cls', '', 'g')) AS BIGINT)"

  // DSIR oracle CTE chain over a words table `(doc_id, source, ws)` —
  // shared by the standalone gate and the composite pipeline so the
  // smoothing/hashing/fold conventions have one SQL definition.
  private def dsirCtes(dim: Int, targetTag: String): String =
    s"""tok AS (SELECT doc_id, source, unnest(ws) AS w FROM words),
       |f AS (SELECT doc_id, source,
       |  ('0x' || substr(md5(w), 1, 6))::BIGINT % $dim AS bucket FROM tok),
       |ct AS (SELECT bucket, count(*) AS c FROM f WHERE source = '$targetTag' GROUP BY 1),
       |cs AS (SELECT bucket, count(*) AS c FROM f WHERE source <> '$targetTag' GROUP BY 1),
       |tt AS (SELECT count(*) AS n FROM f WHERE source = '$targetTag'),
       |tsx AS (SELECT count(*) AS n FROM f WHERE source <> '$targetTag'),
       |r AS (SELECT b.bucket,
       |  ln((coalesce(ct.c, 0) + 1.0) / (tt.n + $dim.0)) -
       |  ln((coalesce(cs.c, 0) + 1.0) / (tsx.n + $dim.0)) AS lr
       |  FROM (SELECT DISTINCT bucket FROM f) b
       |  LEFT JOIN ct USING (bucket) LEFT JOIN cs USING (bucket), tt, tsx),
       |db AS (SELECT doc_id, bucket, count(*) AS c FROM f
       |  WHERE source <> '$targetTag' GROUP BY 1, 2),
       |terms AS (SELECT doc_id, c * lr AS term FROM db JOIN r USING (bucket)),
       |lw AS (SELECT doc_id, round(list_sum(list_sort(list(term))), 6) AS logw
       |  FROM terms GROUP BY doc_id)""".stripMargin

  // Hashed-NB CTE chain over `src`(doc_id, lang, text): mirrors
  // Classify.naiveBayesFit/Predict (24-bit md5 bucket hash, dense
  // label×bucket grid with add-one smoothing, value-sorted per-class fold,
  // 6-decimal-rounded argmax with label-ascending ties). `nb`-prefixed CTE
  // names so compositions (curation v5) can stack it after other stages.
  private[queries] def nbLangidCtes(src: String, dim: Int = 256): String =
    s"""nbw AS (SELECT doc_id, lang, string_split(trim(text), ' ') AS ws
       |  FROM $src),
       |nbtok AS (SELECT doc_id, lang, unnest(ws) AS w FROM nbw),
       |nbf AS (SELECT doc_id, lang,
       |  ('0x' || substr(md5(w), 1, 6))::BIGINT % $dim AS bucket FROM nbtok),
       |nbcc AS (SELECT lang, bucket, count(*) AS c FROM nbf GROUP BY 1, 2),
       |nbct AS (SELECT lang, count(*) AS tot FROM nbf GROUP BY 1),
       |nbnd AS (SELECT lang, count(*) AS n FROM $src GROUP BY 1),
       |nbndt AS (SELECT count(*) AS n FROM $src),
       |nbgrid AS (SELECT l.lang, b.bucket
       |  FROM (SELECT DISTINCT lang FROM $src) l,
       |       (SELECT unnest(range(0, $dim)) AS bucket) b),
       |nbmodel AS (SELECT g.lang, g.bucket,
       |  ln((coalesce(nbcc.c, 0) + 1.0) / (nbct.tot + $dim.0)) AS loglik,
       |  ln(CAST(nbnd.n AS DOUBLE) / nbndt.n) AS logprior
       |  FROM nbgrid g
       |  JOIN nbct USING (lang) JOIN nbnd USING (lang)
       |  LEFT JOIN nbcc ON g.lang = nbcc.lang AND g.bucket = nbcc.bucket,
       |  nbndt),
       |nbdb AS (SELECT doc_id, bucket, count(*) AS c FROM nbf GROUP BY 1, 2),
       |nbsc AS (SELECT nbdb.doc_id, m.lang,
       |  round(max(m.logprior) +
       |    list_sum(list_sort(list(nbdb.c * m.loglik))), 6) AS score
       |  FROM nbdb JOIN nbmodel m USING (bucket) GROUP BY 1, 2),
       |nbp AS (SELECT doc_id, lang, score, row_number() OVER (
       |  PARTITION BY doc_id ORDER BY score DESC, lang) AS rn FROM nbsc)""".stripMargin

  // Fixed English merge list for the BPE-apply gate (priority-ordered;
  // real deployments feed a learned artifact).
  private[graft] val GateBpeMerges: Seq[(String, String)] = Seq(
    "t" -> "h", "th" -> "e", "i" -> "n", "a" -> "n", "e" -> "r", "o" -> "n",
    "r" -> "e", "a" -> "t", "e" -> "n", "o" -> "r", "an" -> "d", "in" -> "g",
    "o" -> "u", "s" -> "t", "e" -> "s", "a" -> "r", "o" -> "f", "i" -> "s",
    "i" -> "t", "a" -> "l", "e" -> "d", "er" -> "s", "c" -> "h", "l" -> "e",
    "r" -> "o", "m" -> "e", "b" -> "e", "w" -> "h", "n" -> "d", "u" -> "r")

  // The yesterday/today snapshot split of a frame keyed by doc_id, as
  // (ref, cur): doc_id % 3 = 0 stands in for the reference crawl.
  private[queries] def snapshotSplit(df: DataFrame): (DataFrame, DataFrame) =
    (df.filter(pmod(col("doc_id"), lit(3)) === 0),
      df.filter(pmod(col("doc_id"), lit(3)) =!= 0))

  // Curation stages shared by the pipeline bodies below.

  // Two synthetic versions of the corpus for the snapshot-diff gates, as
  // (old, new): drops on either side plus an in-place edit of the docs
  // with doc_id % 11 = 3.
  private def corpusVersions(docs: DataFrame): (DataFrame, DataFrame) =
    (docs.filter(col("doc_id") % 5 =!= 1),
      docs.filter(col("doc_id") % 7 =!= 2)
        .withColumn("text", when(col("doc_id") % 11 === 3,
          concat(col("text"), lit(" v2"))).otherwise(col("text"))))

  // The new version's added and changed docs, with their diff `status`.
  private def freshDocs(oldSnap: DataFrame, newSnap: DataFrame): DataFrame =
    newSnap.join(Dedup.snapshotDiff(oldSnap, newSnap, "doc_id", "text")
        .filter(col("status").isin("added", "changed"))
        .select(col("doc_id"), col("status")), Seq("doc_id"))

  // Rule gate: the docs passing every ruleFlags check, as a filter on
  // the row (TextAnalysis.rulePassCol), not a join of the flag frame.
  private def ruleGate(docs: DataFrame): DataFrame =
    docs.filter(TextAnalysis.rulePassCol(col("text")))

  // Near-dup victim removal: drops the doc_b side of every pair at
  // Jaccard >= 0.8 mined over `corpus`, by a left-anti join on doc_id.
  private def dropDupVictims(corpus: DataFrame): DataFrame => DataFrame = {
    val victims = Dedup.nearDuplicates(corpus, "doc_id", "text",
        minJaccard = 0.8)
      .select(col("doc_b").as("doc_id")).distinct()
    _.join(victims, Seq("doc_id"), "left_anti")
  }

  // Per-source admission: the Wilson 95% lower bound of the long-doc
  // share (n_chars > 300) over `docs`, joined to ONE n_chars drift arm of
  // `cur` against `ref` — "psi" (Stats.psiByGroup, 10 bins) or "ks"
  // (Stats.ksByGroup) — and the verdict wilson_lo >= 0.25 and
  // drift <= maxDrift as `admitted`. |sources|-bounded.
  private def admission(docs: DataFrame, ref: DataFrame, cur: DataFrame,
                        arm: String, maxDrift: Double): DataFrame = {
    val drift = arm match {
      case "psi" => Stats.psiByGroup(ref, cur, "n_chars", "source")
      case "ks" => Stats.ksByGroup(ref, cur, "n_chars", "source")
    }
    DataQuality.wilsonShare(docs, "source", col("n_chars") > 300)
      .select(col("source"), col("n").as("n_docs"), col("wilson_lo"))
      .join(drift.select(col("source"), col(arm)), Seq("source"))
      .withColumn("admitted", col("wilson_lo") >= 0.25 && col(arm) <= maxDrift)
  }

  // Curation v6/v7 body: the docs of the admitted sources through the
  // rule gate and a deterministic 50% hash sample.
  private def admittedCuration(arm: String, maxDrift: Double): Q = { (s, dir) =>
    val docs = Tables.documents(s, dir)
    val (ref, cur) = snapshotSplit(docs)
    val admitted = admission(docs, ref, cur, arm, maxDrift)
      .filter(col("admitted")).select(col("source"))
    ruleGate(docs).join(broadcast(admitted), Seq("source"))
      .transform(d => Sampling.bernoulli(d, "doc_id", 0.5))
      .select(col("doc_id"), col("source"), col("n_chars"))
  }

  // Corpus admission report body: one row per source with the Wilson
  // bound, the PSI drift score (and the verdict arm's own score when it
  // is not PSI) and the verdict as 0/1.
  private def admissionReport(arm: String, maxDrift: Double): Q = { (s, dir) =>
    val docs = Tables.documents(s, dir)
    val (ref, cur) = snapshotSplit(docs)
    val report = admission(docs, ref, cur, arm, maxDrift)
    val scores = if (arm == "psi") report
      else report.join(Stats.psiByGroup(ref, cur, "n_chars", "source")
        .select(col("source"), col("psi")), Seq("source"))
    scores.select(Seq("source", "n_docs", "wilson_lo", "psi", arm).distinct
      .map(col) :+ col("admitted").cast("int").as("admitted"): _*)
  }

  def defs: Map[String, Q] = Map(
    // BPE tokenizer application (merge list as plan-time artifact,
    // map-side only). Golden-file oracle: per-word sequential merging has
    // no DuckDB surface; GoldenSpec pins the golden against an
    // independent reimplementation.
    "text_bpe_tokens" -> { (s, dir) =>
      TextAnalysis.bpeTokens(Tables.documents(s, dir), "doc_id", "text",
        GateBpeMerges)
    },

    "text_token_count" -> { (s, dir) =>
      TextAnalysis.tokenCounts(Tables.documents(s, dir), "doc_id", "text")
    },

    // Corpus snapshot diff: two deterministic synthetic versions of the
    // corpus (drops on either side + an in-place mutation), classified
    // added/removed/changed/unchanged per doc via map-side content
    // hashes, reported per source. The between-ingest-runs audit step.
    "corpus_snapshot_diff" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val (oldSnap, newSnap) = corpusVersions(docs)
      graft.ops.Dedup.snapshotDiff(oldSnap, newSnap, "doc_id", "text")
        .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
        .groupBy(col("source"), col("status"))
        .agg(count(lit(1)).as("n_docs"))
    },

    // Tokenizer fertility per language: regex tokens per whitespace word
    // and characters per token — the multilingual tokenizer-efficiency
    // diagnostic that corrects token-denominated mixture budgets.
    "text_fertility" -> { (s, dir) =>
      TextAnalysis.tokenizerFertility(Tables.documents(s, dir),
        "doc_id", "text", "lang")
    },

    // L273: type–token ratio + hapax share per document — lexical
    // diversity, entirely map-side (sorted-array neighbor test).
    "text_ttr" -> { (s, dir) =>
      TextAnalysis.typeTokenRatio(Tables.documents(s, dir), "doc_id", "text")
    },

    // L280: pairwise top-200 vocabulary Jaccard between sources — the
    // set-overlap companion to text_source_js.
    "text_source_vocab_jaccard" -> { (s, dir) =>
      TextAnalysis.sourceVocabJaccard(Tables.documents(s, dir), "text",
        "source", v = 200)
    },

    // Corpus datacard: per-(source, lang) doc/char counts with ROLLUP
    // subtotals and a grand total — the one-query dataset report. Spark
    // plans the grouping sets through ONE Expand + hash aggregate (a
    // single corpus pass, NOT one scan per grouping level).
    "corpus_datacard" -> { (s, dir) =>
      Tables.documents(s, dir)
        .rollup(col("source"), col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"),
          round(avg(col("n_chars")), 4).as("avg_chars"))
    },

    // Mixture PLAN (DoReMi-style static step): per-source token targets,
    // sampling rates, and epoch splits from a recipe + the measured
    // availability. Shares 0.5/0.25/0.25 sum to exactly 1.0 in binary so
    // both engines normalize identically.
    "sample_mixture_plan" -> { (s, dir) =>
      graft.ops.Sampling.mixturePlan(Tables.documents(s, dir),
        "source", "n_chars",
        Map("src0" -> 0.5, "src1" -> 0.25, "src2" -> 0.25),
        totalBudget = 1000000L)
    },

    "text_quality_score" -> { (s, dir) =>
      TextAnalysis.quality(Tables.documents(s, dir), "doc_id", "text")
        .select(col("doc_id"), col("n_chars"), col("n_words"),
          round(col("avg_word_len"), 6).as("avg_word_len"),
          round(col("stopword_ratio"), 6).as("stopword_ratio"),
          round(col("quality_score"), 6).as("quality_score"))
    },

    "text_langid" -> { (s, dir) =>
      TextAnalysis.langId(Tables.documents(s, dir), "doc_id", "text")
    },

    "text_fingerprint" -> { (s, dir) =>
      TextAnalysis.fingerprint(Tables.documents(s, dir), "doc_id", "text")
    },

    // Per-doc character entropy (map-side array lambdas, no shuffle) —
    // the no-codec compressibility filter; summarized per source so the
    // gate exercises the signal as a corpus report.
    "text_char_entropy" -> { (s, dir) =>
      TextAnalysis.charEntropy(Tables.documents(s, dir), "doc_id", "text")
    },

    // Annotator-agreement QA: the declared `lang` label vs the marker
    // langId prediction, chance-corrected — the labeling-pipeline
    // acceptance metric.
    "ml_cohens_kappa" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val pred = TextAnalysis.langId(docs, "doc_id", "text")
        .select(col("doc_id"), col("predicted_lang"))
      graft.ops.Stats.cohensKappa(
        docs.select(col("doc_id"), col("lang")).join(pred, Seq("doc_id")),
        "lang", "predicted_lang")
    },

    // Exact dedup over a doubled corpus (simulated re-ingest): every text
    // collapses to one canonical row with n_copies = 2.
    "dedup_exact" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      Dedup.exact(docs.unionByName(docs), "doc_id", "text")
    },

    "dedup_minhash_lsh" -> { (s, dir) =>
      val sh = Dedup.shingleSets(Tables.documents(s, dir), "doc_id", "text")
      Dedup.lshCandidates(Dedup.minhashSignatures(sh, "doc_id"), "doc_id")
    },

    "dedup_near_duplicates" -> { (s, dir) =>
      Dedup.nearDuplicates(Tables.documents(s, dir), "doc_id", "text", minJaccard = 0.8)
        .select(col("doc_a"), col("doc_b"), col("inter"),
          round(col("jaccard"), 6).as("jaccard"), col("bands"),
          col("rows_per_band"))
    },

    // Skewed derived corpus for the stress gates (see skewedDocsCte).
    // Same operator calls as dedup_near_duplicates / dedup_containment —
    // the POINT is that the default df cap keeps the hot 20%-identical
    // cluster from exploding into C(0.2n, 2) candidate pairs.
    "skew_stress_near_dups" -> { (s, dir) =>
      val skewed = Tables.documents(s, dir).select(col("doc_id"),
        when(pmod(col("doc_id"), lit(5)) === 0, lit(HotText))
          .otherwise(col("text")).as("text"))
      Dedup.nearDuplicates(skewed, "doc_id", "text", minJaccard = 0.8)
        .select(col("doc_a"), col("doc_b"), col("inter"),
          round(col("jaccard"), 6).as("jaccard"), col("bands"),
          col("rows_per_band"))
    },

    "skew_stress_containment" -> { (s, dir) =>
      val skewed = Tables.documents(s, dir).select(col("doc_id"),
        when(pmod(col("doc_id"), lit(5)) === 0, lit(HotText))
          .otherwise(col("text")).as("text"))
      val sh = Dedup.shingleSets(skewed, "doc_id", "text")
      Dedup.containmentPairs(sh, "doc_id", minContainment = 0.8,
        docs = Some(skewed))
        .select(col("doc_a"), col("doc_b"), col("inter"),
          round(col("cont_a"), 6).as("cont_a"),
          round(col("cont_b"), 6).as("cont_b"))
    },

    "dedup_jaccard_exact" -> { (s, dir) =>
      val sh = Dedup.shingleSets(Tables.documents(s, dir), "doc_id", "text")
      Dedup.jaccardPairs(sh, "doc_id", minJaccard = 0.5)
        .select(col("doc_a"), col("doc_b"), col("inter"),
          round(col("jaccard"), 6).as("jaccard"))
    },

    // The SCALE path for exact text Jaccard: PPJoin-style prefix filtering
    // (df-asc token ordering, prefix length sz − ⌈t·sz⌉ + 1, min/max size
    // filter, exact verify) — LOSSLESS, so it shares dedup_jaccard_exact's
    // all-pairs oracle. Unlike the banded LSH path this trades zero recall
    // and still never touches the O(N²) pair space; unlike jaccardPairs a
    // corpus-wide hot shingle falls out of prefixes instead of routing
    // the corpus through one reducer.
    "dedup_jaccard_prefix" -> { (s, dir) =>
      val sh = Dedup.shingleSets(Tables.documents(s, dir), "doc_id", "text")
      Dedup.jaccardPairsPrefix(sh, "doc_id", minJaccard = 0.5)
        .select(col("doc_a"), col("doc_b"), col("inter"),
          round(col("jaccard"), 6).as("jaccard"))
    },

    // The CAPPED exact-Jaccard path — the production density valve a
    // 100 TB user would actually turn (round-11 sf1 probe: Σdf² ≈ 4.6e9
    // candidates on a 10×-density corpus without it). maxDf = 2 is small
    // enough to ENGAGE on this corpus (2,275 of 16,245 shingles at sf0.01
    // have df > 2, and the result provably differs from the uncapped
    // gate: 23 pairs vs 25); the DuckDB oracle applies the identical df
    // cut, so parity covers the lossy path itself, not just the exact one.
    "dedup_jaccard_prefix_capped" -> { (s, dir) =>
      val sh = Dedup.shingleSets(Tables.documents(s, dir), "doc_id", "text")
      Dedup.jaccardPairsPrefix(sh, "doc_id", minJaccard = 0.5,
          maxDf = Some(2L))
        .select(col("doc_a"), col("doc_b"), col("inter"),
          round(col("jaccard"), 6).as("jaccard"))
    },

    "dedup_simhash" -> { (s, dir) =>
      Dedup.simhash(Tables.documents(s, dir), "doc_id", "text")
    },

    // LSH banding planner: the (bands, rows) decision table for 128
    // permutations — collision probability at the thresholds of interest
    // and each split's S-curve midpoint. Touches no data (a planner), so
    // the gate pins the closed-form arithmetic across engines.
    "dedup_lsh_plan" -> { (s, _) =>
      Dedup.lshPlan(s, nPerms = 128, thresholds = Seq(0.5, 0.7, 0.8, 0.9))
    },

    // L288 CONSUMED (round-12 verdict #1): MinHash-LSH whose banding is
    // CHOSEN by the planner at the query's own threshold — bandsFor(16,
    // 0.7) picks 4 bands × 4 rows (t½ = 0.7071) — and verified pairs are
    // cut at the same threshold. The emitted bands/rows_per_band columns
    // are the EXECUTED pick; the oracle re-derives (b, r) independently
    // from the divisor grid (argmin |t½ − 0.7|, ties → more bands) and
    // bands its own md5-permutation signatures with it, so a planner/
    // execution divergence on either side hash-mismatches. Since round
    // 14 the planner IS nearDuplicates' default path (round-13 verdict
    // #2) — this gate pins it at a threshold the other dedup gates
    // don't use.
    "dedup_lsh_planned" -> { (s, dir) =>
      Dedup.nearDuplicates(Tables.documents(s, dir), "doc_id", "text",
          minJaccard = 0.7, nPerms = 16)
        .select(col("doc_a"), col("doc_b"), col("inter"),
          round(col("jaccard"), 6).as("jaccard"), col("bands"),
          col("rows_per_band"))
    },

    // L297 bench row (round-13 verdict #3): the PRODUCTION one-pass
    // Kirsch–Mitzenmacher path at the same (t, nPerms) as
    // dedup_lsh_planned, so the production path's cost is MEASURED
    // against the relational path's, not inferred. DuckDB cannot express
    // the wrapping 64-bit h1 + i·h2 arithmetic, so the gate is a
    // GOLDEN-FILE value oracle (round-14 verdict #1; see the oracle's
    // comment) — GoldenSpec independently re-derives the full path, and
    // Round13OpsSpec ties the two paths on planted duplicates.
    "dedup_lsh_planned_onepass" -> { (s, dir) =>
      Dedup.nearDuplicatesPlannedOnePass(Tables.documents(s, dir), "doc_id",
          "text", minJaccard = 0.7, nPerms = 16)
        .select(col("doc_a"), col("doc_b"), col("inter"),
          round(col("jaccard"), 6).as("jaccard"), col("bands"),
          col("rows_per_band"))
    },

    // Corpus frequency profile: top-20 word bigrams.
    "text_top_ngrams" -> { (s, dir) =>
      TextAnalysis.topNgrams(Tables.documents(s, dir), "text", n = 2, k = 20)
        .select(col("ngram"), col("freq"), col("rank"))
    },

    // Unigram-LM quality signal: per-doc mean negative log-probability.
    "text_unigram_logprob" -> { (s, dir) =>
      TextAnalysis.unigramLogProb(Tables.documents(s, dir), "doc_id", "text")
        .select(col("doc_id"), round(col("mean_nll"), 6).as("mean_nll"),
          col("n_tokens"))
    },

    // Bounded-vocab (top-50 + OOV floor) unigram LM — the broadcast-safe
    // variant for corpora whose full vocabulary cannot broadcast.
    "text_unigram_topv" -> { (s, dir) =>
      TextAnalysis.unigramLogProbTopV(Tables.documents(s, dir), "doc_id", "text",
          v = 50)
        .select(col("doc_id"), round(col("mean_nll"), 6).as("mean_nll"),
          col("n_tokens"))
    },

    // Deterministic stratified sampling (dataset mixing by source).
    "sample_stratified_mix" -> { (s, dir) =>
      graft.ops.Sampling.stratified(Tables.documents(s, dir), "doc_id", "source",
          rates = Map("src0" -> 0.8, "src1" -> 0.5, "src2" -> 0.2),
          defaultRate = 0.1)
        .select(col("doc_id"), col("source"), col("lang"))
    },

    // Corpus diversity report: nearest-neighbor similarity deciles with
    // an isolated band — redundancy vs diversity at a glance.
    "dedup_self_similarity" -> { (s, dir) =>
      Dedup.selfSimilarityBands(Tables.documents(s, dir), "doc_id", "text",
        minJaccard = 0.5)
    },

    // Near-dup clusters: pairs → connected components → cluster ids.
    "dedup_clusters" -> { (s, dir) =>
      val pairs = Dedup.nearDuplicates(Tables.documents(s, dir), "doc_id", "text",
        minJaccard = 0.8)
      Dedup.clusters(pairs)
    },

    // L299: leakage-safe eval split — near-dup clusters assigned to
    // train/eval WHOLESALE via the hash of the cluster id, so no eval
    // document has a near-dup in train. Same pair graph as
    // dedup_clusters; singletons are their own cluster.
    "sample_leakage_safe_split" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val pairs = Dedup.nearDuplicates(docs, "doc_id", "text", minJaccard = 0.8)
      Dedup.leakageSafeSplit(docs, pairs, "doc_id", evalFraction = 0.2)
    },

    // Soft dedup: keep every document but weight it 1/|near-dup cluster| —
    // the down-weight-instead-of-drop mixture practice. No forced broadcast:
    // at web scale 20–50% of documents sit in near-dup clusters, so the
    // cluster map is O(corpus); AQE still broadcasts it when it measures
    // small, and doc_id/cluster_id are even, unskewed shuffle keys. Docs
    // outside the graph are singleton clusters at weight 1. The weight
    // column composes with weightedTopN / tokenBudget for the sampling cut.
    "sample_soft_dedup" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val cl = Dedup.clusters(Dedup.nearDuplicates(docs, "doc_id", "text",
        minJaccard = 0.8))
      val sizes = cl.groupBy(col("cluster_id")).agg(count(lit(1)).as("__csz"))
      docs.select(col("doc_id"), col("source"))
        .join(cl, Seq("doc_id"), "left")
        .join(sizes, Seq("cluster_id"), "left")
        .select(col("doc_id"), col("source"),
          coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"),
          round(lit(1.0) / coalesce(col("__csz"), lit(1L)), 6).as("weight"))
    },

    // INCREMENTAL curation: the snapshot diff gates which docs re-enter
    // the pipeline — only added/changed docs are re-scored, the unchanged
    // corpus is never re-read. At 100 TB this is the difference between
    // scoring a daily delta and rescoring the world.
    "curation_incremental" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val (oldSnap, newSnap) = corpusVersions(docs)
      freshDocs(oldSnap, newSnap)
        .withColumn("quality_score",
          round(TextAnalysis.qualityScoreCol(col("text")), 6))
        .select(col("doc_id"), col("status"), col("source"),
          col("quality_score"), (col("quality_score") >= 0.5).as("admitted"))
    },

    // L309: the DAILY INCREMENTAL-CORPUS SESSION as one composed gate —
    // the loop a 100 TB operator actually runs per ingest: snapshot diff
    // (only added/changed docs re-enter), incremental LSH probe of the
    // fresh batch against the OLD snapshot's signature store (signatures
    // only cross the join — the history side never re-reads bodies),
    // per-source admission (Wilson quality ∧ PSI drift vs the old
    // snapshot as reference), and compaction flags. Every stage engages
    // at sf0.01: 118 fresh of 500, 11 near-dups, both admission arms cut
    // sources, 82 kept. A changed doc keeps its id, so the probe's
    // new_id ≠ corpus_id filter correctly treats it as an UPDATE (never
    // a dup of its own history), while added docs that duplicate other
    // corpus docs are flagged.
    "e2e_incremental_session" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val (oldSnap, newSnap) = corpusVersions(docs)
      // The BATCH-sized frame is scope-cached (four consumers: the probe
      // shingles, the Wilson arm, the PSI current side, and the final
      // select); the corpus-sized oldSnap deliberately is NOT — at 100 TB
      // the history side must never be pinned, which is the whole point
      // of the signature store.
      val fresh = OpCaches.scoped(freshDocs(oldSnap, newSnap))
      val store = Dedup.minhashStore(oldSnap, "doc_id", "text")
      val dups = Dedup.incrementalPairsSignatureStore(fresh, store,
          "doc_id", "text", minJaccardEst = 0.5)
        .select(col("new_id").as("doc_id")).distinct()
        .withColumn("__dup", lit(true))
      val adm = admission(fresh, oldSnap, fresh, "psi", maxDrift = 0.5)
        .select(col("source"), col("admitted"))
      fresh.join(broadcast(adm), Seq("source"))
        .join(dups, Seq("doc_id"), "left")
        .select(col("doc_id"), col("source"), col("status"), col("n_chars"),
          coalesce(col("__dup"), lit(false)).as("is_near_dup"),
          col("admitted").as("source_admitted"),
          (col("admitted") && !coalesce(col("__dup"), lit(false)))
            .as("kept"))
    },

    // The full curation pipeline as ONE lazy DataFrame graph — quality
    // scoring, language ID, near-dup victim removal, deterministic
    // sampling — the composition a training-data run executes, with
    // Catalyst seeing all of it at once.
    "curation_pipeline_e2e" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      docs
        .withColumn("quality_score", TextAnalysis.qualityScoreCol(col("text")))
        .filter(col("quality_score") >= 0.5 &&
          TextAnalysis.langIdCol(col("text")) === "en")
        .transform(dropDupVictims(docs))
        .transform(d => Sampling.bernoulli(d, "doc_id", 0.9))
        .select(col("doc_id"), col("source"),
          round(col("quality_score"), 6).as("quality_score"))
    },

    // Pipeline v2: the 100 TB-recommended composition — the LM quality
    // signal comes from the BOUNDED-vocab unigram model (top-V + OOV
    // floor, broadcast-safe at any corpus size), composed with quality
    // scoring, near-dup victim removal and deterministic sampling in one
    // Catalyst graph. Filters compare the ROUNDED nll so the cut is
    // engine-exact.
    "curation_pipeline_v2" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      // Quality is a PROJECTION (TextAnalysis.qualityScoreCol) — inlined
      // as a column rather than joined back as a 1:1 self-derived frame,
      // which paid a full-corpus shuffle for values the scan row already
      // holds. Only the LM signal (needs a corpus vocab aggregation +
      // per-doc re-agg) and the dup-victim set genuinely join.
      val lm = TextAnalysis.unigramLogProbTopV(docs, "doc_id", "text", v = 50)
        .select(col("doc_id"), round(col("mean_nll"), 6).as("mean_nll"))
      docs
        .withColumn("quality_score",
          round(TextAnalysis.qualityScoreCol(col("text")), 6))
        .join(lm, Seq("doc_id"))
        .filter(col("quality_score") >= 0.5 && col("mean_nll") <= 3.402)
        .transform(dropDupVictims(docs))
        .transform(d => Sampling.bernoulli(d, "doc_id", 0.9))
        .select(col("doc_id"), col("source"), col("quality_score"),
          col("mean_nll"))
    },

    // Dedup survivor selection: one KEPT doc per near-dup cluster, chosen
    // by quality (rounded score so cross-engine ordering is exact) — the
    // step that turns pair mining into an actual deduped corpus.
    "dedup_survivors" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val quality = TextAnalysis.quality(docs, "doc_id", "text")
        .select(col("doc_id"), round(col("quality_score"), 6).as("q"))
      val pairs = Dedup.nearDuplicates(docs, "doc_id", "text", minJaccard = 0.8)
      Dedup.survivors(quality, Dedup.clusters(pairs), "doc_id", "q")
    },

    // Global top-quality documents via distributed top-k (TakeOrdered, the
    // curation "best-of" selection; rank by rounded score + id tie-break).
    "quality_top_docs" -> { (s, dir) =>
      TextAnalysis.quality(Tables.documents(s, dir), "doc_id", "text")
        .select(col("doc_id"), round(col("quality_score"), 6).as("quality_score"))
        .orderBy(col("quality_score").desc, col("doc_id"))
        .limit(20)
    },

    // Asymmetric containment: subset duplication (quoting/embedding) that
    // symmetric Jaccard under-scores when document sizes differ.
    "dedup_containment" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val sh = Dedup.shingleSets(docs, "doc_id", "text")
      Dedup.containmentPairs(sh, "doc_id", minContainment = 0.8,
        docs = Some(docs))
        .select(col("doc_a"), col("doc_b"), col("inter"),
          round(col("cont_a"), 6).as("cont_a"),
          round(col("cont_b"), 6).as("cont_b"))
    },

    // Per-source dataset-card report: the corpus summary a curation run
    // publishes (volume, token mass, quality, language share).
    "corpus_report_by_source" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      // quality_score is rounded to 6 dp per doc and the average reported at
      // 4 dp (the house parity recipe for float aggregates). Note: the r3
      // hash mismatch on this gate was NOT float drift — the floats were
      // bit-identical; the oracle's bare sum(BIGINT) returned a DuckDB
      // HUGEINT (surfacing as float64) vs Spark's int64, so the oracle SQL
      // casts total_words to BIGINT explicitly like its siblings.
      val q = TextAnalysis.quality(docs, "doc_id", "text")
        .select(col("doc_id"), col("n_words"),
          round(col("quality_score"), 6).as("quality_score"))
      val l = TextAnalysis.langId(docs, "doc_id", "text")
        .select(col("doc_id"), col("predicted_lang"))
      docs.join(q, Seq("doc_id")).join(l, Seq("doc_id"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_words")).as("total_words"),
          round(avg(col("quality_score")), 4).as("avg_quality"),
          round(avg(when(col("predicted_lang") === "en", 1.0).otherwise(0.0)), 6)
            .as("pct_en"))
    },

    // SimHash pair mining: pigeonhole-banded candidates + exact Hamming
    // verify; the oracle brute-forces all pairs, so green = banding lossless.
    "dedup_simhash_pairs" -> { (s, dir) =>
      Dedup.simhashPairs(Tables.documents(s, dir), "doc_id", "text",
        bits = 16, maxHamming = 2)
    },

    // Per-doc top-3 TF-IDF keywords.
    "text_tfidf_top_terms" -> { (s, dir) =>
      TextAnalysis.tfidfTopTerms(Tables.documents(s, dir), "doc_id", "text", k = 3)
    },

    // Temperature-flattened mixture resample (α=0.5 up-weights the small
    // src2 stratum relative to the natural mix; target = half the corpus).
    "sample_temperature" -> { (s, dir) =>
      graft.ops.Sampling.temperature(Tables.documents(s, dir), "doc_id",
          "source", alpha = 0.5, targetFraction = 0.5)
        .select(col("doc_id"), col("source"))
    },

    // Blocked edit-distance title dedup: exact-duplicate names collapse
    // FIRST (min-id canonical per name — titles repeat heavily at scale,
    // so raw pairing is quadratic in group size for no information), then
    // bounded Levenshtein pairs between DISTINCT names sharing the head
    // noun — the standard entity-resolution shape (collapse, block,
    // verify). Stable non-empty result (~80 pairs) at every test scale.
    "dedup_title_edit" -> { (s, dir) =>
      val names = Tables.part(s, dir).groupBy(col("p_name"))
        .agg(min(col("p_partkey")).as("name_id"))
      Dedup.editDistancePairs(names, "name_id", "p_name",
        blockExpr = split_part(col("p_name"), lit(" "), lit(2)), maxDist = 3)
    },

    // Hot-block stress for the edit-distance blocker: 20% of names get a
    // shared second token, so without the block-size cap candidates are
    // C(0.2n, 2)-quadratic. Cap lowered to 300 so the drop actually
    // triggers at the sf0.01 gate scale (hot block = 400 rows there); the
    // DuckDB oracle encodes the same rule, proving cap parity exactly.
    "skew_stress_title_edit" -> { (s, dir) =>
      val names = Tables.part(s, dir).groupBy(col("p_name"))
        .agg(min(col("p_partkey")).as("name_id"))
      val skewed = names.select(col("name_id"),
        when(pmod(col("name_id"), lit(5)) === 0,
          concat(lit("zz hotblk "), col("p_name")))
          .otherwise(col("p_name")).as("p_name"))
      Dedup.editDistancePairs(skewed, "name_id", "p_name",
        blockExpr = split_part(col("p_name"), lit(" "), lit(2)), maxDist = 3,
        maxBlockSize = Some(300L))
    },

    // The block cap ENGAGED: the part corpus holds only 64 distinct names
    // (blocks ≤ 9 at sf0.01, ≤ 14 at sf0.1), so neither dedup_title_edit's
    // default 1000 cap nor skew_stress's 300 ever drops a block on
    // testdata — the capped code path ran but never engaged. Here a third
    // of the names get a shared second token ("capblk", 20-21 names) and
    // the cap is 10: the hot block is provably DROPPED (34 pairs vs 44
    // uncapped at sf0.01) while every natural block survives, and the
    // oracle encodes the same HAVING count(*) <= 10 rule.
    "dedup_title_edit_capped" -> { (s, dir) =>
      val names = Tables.part(s, dir).groupBy(col("p_name"))
        .agg(min(col("p_partkey")).as("name_id"))
      val skewed = names.select(col("name_id"),
        when(pmod(col("name_id"), lit(3)) === 0,
          concat(lit("zz capblk "), col("p_name")))
          .otherwise(col("p_name")).as("p_name"))
      Dedup.editDistancePairs(skewed, "name_id", "p_name",
        blockExpr = split_part(col("p_name"), lit(" "), lit(2)), maxDist = 3,
        maxBlockSize = Some(10L))
    },

    // Feature-hashed bag-of-words embedding (hashing trick), sparse
    // integer form — the model-free text→vector bridge into the ANN stack.
    // Integer ±1 weights keep the op exactly oracle-verifiable.
    "text_hash_embedding" -> { (s, dir) =>
      TextAnalysis.hashEmbeddingSparse(Tables.documents(s, dir),
        "doc_id", "text", dim = 64)
    },

    // Semantic near-dup pairs over the hashed embeddings: exact integer
    // dot/norms, one float division at the end — the SemDeDup shape
    // without a model. The op is the EXACT baseline (the dim-wide bucket
    // join is near-all-pairs by construction), so the gate runs it on a
    // 20% verification cohort — its documented scale contract; corpus
    // scale composes hashEmbedding with the ANN stack instead. The
    // default 1000-doc bucket-occupancy cap is in force (and encoded in
    // the oracle), though it never binds at gate scale — occupancy tops
    // out ~97 here; the skew gate below is where it bites.
    "dedup_semantic_text" -> { (s, dir) =>
      val cohort = Tables.documents(s, dir)
        .filter(pmod(col("doc_id"), lit(5)) === 0)
      Dedup.hashCosinePairs(
        TextAnalysis.hashEmbeddingSparse(cohort, "doc_id", "text", dim = 64),
        "doc_id", minCos = 0.8)
    },

    // Hot-bucket stress for the hash-cosine miner: on the same cohort the
    // hash dimensions' occupancy runs 6–97 docs, so an explicit cap of 50
    // bisects the bucket set — candidate pairs may only arise in the cold
    // dimensions, while each survivor's dot product still sums over ALL
    // 64 (survivor cosines near 0.87 are unreachable from cold buckets
    // alone). A cap-mirroring oracle proves the drop rule exactly: the
    // cap bounds candidate WORK (dim × cap² at any corpus size), never
    // the verify arithmetic.
    "skew_stress_semantic_hash" -> { (s, dir) =>
      val cohort = Tables.documents(s, dir)
        .filter(pmod(col("doc_id"), lit(5)) === 0)
      Dedup.hashCosinePairs(
        TextAnalysis.hashEmbeddingSparse(cohort, "doc_id", "text", dim = 64),
        "doc_id", minCos = 0.5, maxBucketSize = Some(50L))
    },

    // Unicode hygiene on a deterministically dirtied corpus (the synthetic
    // table is clean ASCII, so the injection is what makes the gate
    // meaningful): control chars + zero-width code points in, clean text
    // + audit counts out.
    "text_unicode_scrub" -> { (s, dir) =>
      val dirty = Tables.documents(s, dir).select(col("doc_id"),
        when(pmod(col("doc_id"), lit(7)) === 0, dirtyInject(col("text")))
          .otherwise(col("text")).as("text"))
      TextAnalysis.unicodeScrub(dirty, "doc_id", "text")
    },

    // Script profile on a deterministically multilingual-ized corpus:
    // char counts per script family + dominant-family routing label.
    "text_script_share" -> { (s, dir) =>
      val multi = Tables.documents(s, dir).select(col("doc_id"),
        when(pmod(col("doc_id"), lit(7)) === 0,
          concat(col("text"), lit(" Привет мир 42")))
          .when(pmod(col("doc_id"), lit(11)) === 0,
            concat(col("text"), lit(" 你好世界")))
          .otherwise(col("text")).as("text"))
      TextAnalysis.scriptShare(multi, "doc_id", "text")
    },

    // DSIR-style importance weights: target-vs-source hashed-LM log
    // ratio per source doc (src2 is the target domain, as in the
    // decontamination gates). Compose with weightedTopN/tokenBudget for
    // the resampling cut.
    "sample_importance_weights" -> { (s, dir) =>
      graft.ops.Sampling.importanceWeights(Tables.documents(s, dir),
        "doc_id", "text", tagCol = "source", targetTag = "src2", dim = 256)
    },

    // Hashed multinomial Naive Bayes, fit and applied on the documents
    // table with lang as the class — the fastText-style learned-classifier
    // counterpart to the rule-based text_langid gate. Model is
    // |labels|×256 rows (broadcast by construction); predict is map-side
    // plus one doc-keyed aggregation.
    "text_nb_langid" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val model = graft.ops.Classify.naiveBayesFit(docs, "lang", "text", dim = 256)
      graft.ops.Classify.naiveBayesPredict(docs, model, "doc_id", "text", dim = 256)
    },

    // Classifier eval harness: per-class accuracy of the NB langid
    // (the classification counterpart of dedup_modality_eval /
    // ann_rank_metrics — a model change that degrades a class flips the
    // hash, not just a scalar).
    "text_nb_eval" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val model = graft.ops.Classify.naiveBayesFit(docs, "lang", "text", dim = 256)
      val pred = graft.ops.Classify.naiveBayesPredict(docs, model, "doc_id",
        "text", dim = 256)
      docs.select(col("doc_id"), col("lang")).join(pred, Seq("doc_id"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("pred") === col("lang"), 1L).otherwise(0L)).as("n_correct"))
        .withColumn("accuracy",
          round(col("n_correct") / col("n_docs"), 6))
    },

    // Exact-count mixture quotas per source (rows, not rates).
    "sample_exact_quota" -> { (s, dir) =>
      graft.ops.Sampling.stratifiedExact(Tables.documents(s, dir), "doc_id",
          "source", counts = Map("src0" -> 40, "src1" -> 25, "src2" -> 10))
        .select(col("doc_id"), col("source"), col("lang"))
    },

    // Truncation-duplicate mining: shared-16-token-prefix pairs with the
    // literal-prefix verdict (hot-prefix groups capped like the other
    // blockers).
    "dedup_prefix" -> { (s, dir) =>
      graft.ops.Dedup.prefixPairs(Tables.documents(s, dir), "doc_id", "text",
        k = 16, maxGroupSize = Some(10))
    },

    // Signal-agreement matrix over per-doc quality signals (n_words,
    // avg word length, stopword ratio, 3-gram repetition): ONE corpus
    // scan into a 1-row moment aggregate, exploded to a row per pair —
    // the j8 shape over text signals. A signal that stops correlating
    // with the others after a pipeline change flips the hash.
    "quality_signal_corr" -> { (s, dir) =>
      import graft.functions.TextFunctions._
      // One projection computes all four signals off a shared token array
      // (joining quality() to repetitionRatio() would scan and tokenize
      // the corpus twice and shuffle on doc_id for nothing — measured
      // 6.3 s vs 0.4 s at sf0.1).
      val ws = words(col("text"))
      val sh = wordShingles(ws, 3)
      // Scoped-cache the signal projection: CollapseProject would otherwise
      // inline the token/shingle array expressions into EVERY one of the 36
      // moment aggregates (measured 9.9 s vs 0.2 s at sf0.1) — the cache is
      // a materialization barrier, and the cached frame is 4 doubles/row.
      val sig = graft.ops.OpCaches.scoped(Tables.documents(s, dir).select(
        size(ws).cast("long").as("n_words"),
        (wordCharSum(ws).cast("double") / size(ws)).as("avg_word_len"),
        (stopwordCount(ws).cast("double") / size(ws)).as("stopword_ratio"),
        when(size(sh) > 0,
          lit(1.0) - size(array_distinct(sh)).cast("double") / size(sh))
          .otherwise(lit(0.0)).as("rep_ratio")))
      graft.ops.Stats.pearsonMatrix(sig,
          Seq("n_words", "avg_word_len", "stopword_ratio", "rep_ratio"))
        .filter(col("n") >= 2)
        .select(col("feature_a"), col("feature_b"), col("n"),
          round(col("corr"), 6).as("corr"))
    },

    // Within-doc n-gram repetition ratio (templated/generated-text signal).
    "text_repetition_ratio" -> { (s, dir) =>
      TextAnalysis.repetitionRatio(Tables.documents(s, dir), "doc_id", "text")
        .select(col("doc_id"), col("n_shingles"), col("n_distinct"),
          round(col("rep_ratio"), 6).as("rep_ratio"))
    },

    // Benchmark decontamination: shingle overlap of training docs against
    // the held-out benchmark corpus (src2). Both sides live in the same
    // table, so the tagged variant shingles the corpus ONCE.
    "text_decontaminate" -> { (s, dir) =>
      TextAnalysis.contaminationTagged(Tables.documents(s, dir),
        "doc_id", "text", tagCol = "source", benchTag = "src2")
    },

    // Per-SOURCE contamination matrix: which training sources leak the
    // benchmark, at what rate — the triage view over the per-doc
    // decontamination probe (same one-scan tagged shingling; sources with
    // zero hits stay visible at 0, not dropped).
    "text_contamination_by_source" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val hits = TextAnalysis.contaminationTagged(docs, "doc_id", "text",
        tagCol = "source", benchTag = "src2")
      val bySource = hits
        .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("__nc"), sum(col("n_hits")).as("__th"))
      docs.filter(col("source") =!= "src2")
        .groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
        .join(bySource, Seq("source"), "left")
        .select(col("source"), col("n_docs"),
          coalesce(col("__nc"), lit(0L)).as("n_contaminated"),
          coalesce(col("__th"), lit(0L)).as("total_hits"),
          round(coalesce(col("__nc"), lit(0L)).cast("double") / col("n_docs"), 6)
            .as("contaminated_share"))
    },

    // Dedup funnel observability: ONE row tracing candidates → verified
    // pairs → clusters → survivors — the run report a curation job logs.
    "dedup_funnel_report" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      // ONE shingle derivation feeds candidates, sizes, and verification
      // (calling nearDuplicates separately would tokenize + LSH-join the
      // corpus a second time for the same numbers). The three stage frames
      // are cached: the report reads cand twice (its own count + the
      // verification join) and pairs three times (count, clusters' probe
      // action, clusters' propagation input) — uncached, each extra reader
      // re-executes the whole tokenize→MinHash→LSH-join chain (round-5
      // bench measured the funnel at >4 s vs 1.8 s for exactly this).
      val sh = OpCaches.scoped(
        Dedup.shingleSets(docs, "doc_id", "text", 3, Some(0.1)))
      // Planner-chosen banding at this funnel's own threshold — the same
      // default path nearDuplicates runs, so n_candidates reports what the
      // production pipeline actually generated.
      val cand = OpCaches.scoped(Dedup.lshCandidates(
        Dedup.minhashSignaturesPlanned(sh, "doc_id", Dedup.bandsFor(16, 0.8)),
        "doc_id"))
      val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
      val inter = cand
        .join(sh.select(col("doc_id").as("doc_a"), col("shingle")), Seq("doc_a"))
        .join(sh.select(col("doc_id").as("doc_b"), col("shingle")),
          Seq("doc_b", "shingle"))
        .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("inter"))
      val pairs = OpCaches.scoped(inter
        .join(sizes.select(col("doc_id").as("doc_a"), col("sz").as("sz_a")), Seq("doc_a"))
        .join(sizes.select(col("doc_id").as("doc_b"), col("sz").as("sz_b")), Seq("doc_b"))
        .filter(col("inter").cast("double") /
          (col("sz_a") + col("sz_b") - col("inter")) >= 0.8)
        .select(col("doc_a"), col("doc_b")))
      val cl = Dedup.clusters(pairs)
      docs.agg(count(lit(1)).as("n_docs"))
        .crossJoin(cand.agg(count(lit(1)).as("n_candidates")))
        .crossJoin(pairs.agg(count(lit(1)).as("n_verified")))
        .crossJoin(cl.agg(countDistinct(col("cluster_id")).as("n_clusters"),
          count(lit(1)).as("n_clustered_docs")))
        .withColumn("n_survivors",
          col("n_docs") - (col("n_clustered_docs") - col("n_clusters")))
    },

    // Overlapping 20-token windows, stride 10 (context chunking).
    "text_token_windows" -> { (s, dir) =>
      TextAnalysis.tokenWindows(
        Tables.documents(s, dir).filter(col("doc_id") < 100),
        "doc_id", "text", windowTokens = 20, strideTokens = 10)
    },

    // Snapshot diff: documents vs a deterministically perturbed "v2"
    // (every 17th removed, every 13th edited, every 11th re-added under a
    // new id) — added/removed/changed/unchanged per id by content hash.
    "dataset_diff" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val newV = docs.filter(pmod(col("doc_id"), lit(17)) =!= 0)
        .withColumn("text",
          when(pmod(col("doc_id"), lit(13)) === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")))
        .unionByName(docs.filter(pmod(col("doc_id"), lit(11)) === 0)
          .withColumn("doc_id", col("doc_id") + 100000L))
      Dedup.versionDiff(docs, newV, "doc_id", "text")
    },

    // Compressibility signal (rows-only gate: DuckDB has no deflate —
    // semantics covered by ArtifactSpec; the driver checks rows>0).
    "text_compression_ratio" -> { (s, dir) =>
      TextAnalysis.compressionRatio(Tables.documents(s, dir), "doc_id", "text")
    },

    // Quality-score decile histogram per source — the distribution-drift
    // monitor a dataset card charts (bucket on the ROUNDED score so both
    // engines bucket identical doubles).
    "quality_histogram" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val q = TextAnalysis.quality(docs, "doc_id", "text")
        .select(col("doc_id"), round(col("quality_score"), 6).as("q6"))
      docs.join(q, Seq("doc_id"))
        .groupBy(col("source"),
          least(floor(col("q6") * 10), lit(9L)).as("bucket"))
        .agg(count(lit(1)).as("n_docs"))
    },

    // Bigram LM with stupid backoff (min-count 2, α=0.4).
    "text_bigram_logprob" -> { (s, dir) =>
      TextAnalysis.bigramLogProb(Tables.documents(s, dir), "doc_id", "text")
        .select(col("doc_id"), round(col("mean_nll"), 6).as("mean_nll"),
          col("n_transitions"), col("n_backoff"))
    },

    // L228: PMI collocations — every adjacent pair above the count
    // floor (deterministic integer cut, never a float-ranked top-k).
    "text_pmi_collocations" -> { (s, dir) =>
      TextAnalysis.pmiCollocations(Tables.documents(s, dir), "doc_id",
        "text", minCount = 5)
    },

    // L244: RAKE keyphrases — stopword-free runs scored deg/freq.
    "text_rake_keyphrases" -> { (s, dir) =>
      TextAnalysis.rakeKeyphrases(Tables.documents(s, dir), "doc_id",
        "text", maxLen = 4, minPhraseCount = 3)
    },

    // Cross-corpus leak attribution: per benchmark doc (src2), THE nearest
    // training doc by capped-shingle Jaccard.
    "dedup_cross_corpus" -> { (s, dir) =>
      Dedup.crossCorpusNearest(Tables.documents(s, dir), "doc_id", "text",
        tagCol = "source", benchTag = "src2")
    },

    // Context-window truncation: cap docs at 50 whitespace tokens.
    "text_truncate" -> { (s, dir) =>
      TextAnalysis.truncateTokens(Tables.documents(s, dir), "doc_id", "text",
        maxTokens = 50)
    },

    // Quality-weighted sampling without replacement (Efraimidis–Spirakis):
    // the top-5 per source by ln(u)/quality — high-quality docs are
    // proportionally likelier, reproducibly, no duplicates.
    "sample_weighted" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val q = TextAnalysis.quality(docs, "doc_id", "text")
        .select(col("doc_id"), round(col("quality_score"), 6).as("qual"))
      graft.ops.Sampling.weightedTopN(docs.join(q, Seq("doc_id")),
          "doc_id", "source", "qual", n = 5)
        .select(col("doc_id"), col("source"), col("qual"))
    },

    // Mixture repetition: fractional epochs per source (src1 2.5× etc.) —
    // up-weighting beyond rate 1.0, deterministic extra-copy decision.
    "sample_epochs" -> { (s, dir) =>
      graft.ops.Sampling.withEpochs(Tables.documents(s, dir), "doc_id",
          "source", epochs = Map("src0" -> 0.5, "src1" -> 2.5, "src2" -> 3.0),
          defaultEpochs = 1.0)
        .select(col("doc_id"), col("source"), col("copy_idx"))
    },

    // Sequence packing: docs concatenated into 512-token training
    // sequences, 8 hash shards packed independently (no global sort).
    "pack_sequences" -> { (s, dir) =>
      val toks = TextAnalysis.tokenCounts(Tables.documents(s, dir), "doc_id", "text")
        .select(col("doc_id"), col("n_tokens_ws"))
      graft.ops.Packing.packSequences(toks, "doc_id", "n_tokens_ws",
          seqTokens = 512, nShards = 8)
        .select(col("doc_id"), col("shard"), col("offset"),
          col("seq_in_shard"), col("pos_in_seq"),
          col("straddles").cast("int").as("straddles"))
    },

    // Exact substring-span dedup: pairs sharing any identical 8-token
    // span — the long-exact-overlap modality similarity ratios dilute.
    "dedup_substring_spans" -> { (s, dir) =>
      Dedup.substringSpanPairs(Tables.documents(s, dir), "doc_id", "text",
        spanTokens = 8)
    },

    // n-gram novelty: share of a doc's 3-grams first seen in that doc.
    "text_novelty" -> { (s, dir) =>
      TextAnalysis.novelty(Tables.documents(s, dir), "doc_id", "text", n = 3)
    },

    // Support-threshold heavy hitters (>0.5% of all tokens) — the hot-key
    // measurement feeding the df caps and salting guards.
    "text_heavy_hitters" -> { (s, dir) =>
      TextAnalysis.heavyHitters(Tables.documents(s, dir), "text",
        minShare = 0.005)
    },

    // Pairwise Jensen–Shannon distance matrix between sources over the
    // corpus top-50 vocabulary — symmetric mixture-design distances.
    "text_source_js" -> { (s, dir) =>
      TextAnalysis.sourceJsDivergence(Tables.documents(s, dir), "text",
        "source", v = 50)
    },

    // Vocabulary coverage curve: corpus token mass covered by the top-V
    // vocabulary at several V (tokenizer budget analysis). The 1000 row
    // exercises the clamp-to-actual-vocabulary contract.
    "text_vocab_coverage" -> { (s, dir) =>
      TextAnalysis.vocabCoverage(Tables.documents(s, dir), "text",
        vocabSizes = Seq(5, 10, 1000))
    },

    // Per-source unigram KL drift vs the corpus top-50 vocabulary.
    "text_source_kl" -> { (s, dir) =>
      TextAnalysis.sourceDivergence(Tables.documents(s, dir), "text",
        "source", v = 50)
    },

    // BPE tokenizer-training statistics: top-20 adjacent char pairs — the
    // first merge a BPE trainer learns, distributed top-k shaped.
    "text_bpe_pairs" -> { (s, dir) =>
      TextAnalysis.bpePairCounts(Tables.documents(s, dir), "text", k = 20)
    },

    // Deterministic training-order manifest: (shard, pos) per doc with no
    // global sort (per-shard row_numbers over independent hash keys).
    "pack_shard_manifest" -> { (s, dir) =>
      graft.ops.Packing.shardManifest(Tables.documents(s, dir), "doc_id",
        nShards = 8)
    },

    // Padding-waste report: naive max-length batching vs 64-token length
    // buckets at a 512-token window.
    "pack_padding_report" -> { (s, dir) =>
      val toks = TextAnalysis.tokenCounts(Tables.documents(s, dir), "doc_id", "text")
      graft.ops.Packing.paddingReport(toks, "n_tokens_ws",
        maxLen = 512, bucket = 64)
    },

    // T5 span corruption: deterministic keyed-hash masking of 5-token
    // blocks at 25%, sentinel-numbered input/target pair assembly —
    // entirely map-side.
    "pack_span_corruption" -> { (s, dir) =>
      graft.ops.Packing.spanCorruption(Tables.documents(s, dir), "doc_id",
        "text", blockLen = 5, maskProb = 0.25)
    },

    // Leakage-safe splits: the split decision hashes the near-dup CLUSTER,
    // so a doc and its near-duplicates always share a split (no train/eval
    // contamination through duplicates).
    "split_leakage_safe" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val cl = Dedup.clusters(
        Dedup.nearDuplicates(docs, "doc_id", "text", minJaccard = 0.8))
      val assigned = docs.join(cl, Seq("doc_id"), "left")
        .withColumn("group_key", coalesce(col("cluster_id"), col("doc_id")))
      graft.ops.Sampling.splitByGroup(assigned, "group_key",
          Seq(("train", 0.8), ("val", 0.9), ("test", 1.0)))
        .select(col("doc_id"), col("group_key"), col("split"))
    },

    // PII scrub over text with deterministically injected e-mails (the raw
    // corpus has none — injection makes the gate compare real masking).
    "text_pii_scrub" -> { (s, dir) =>
      val withPii = Tables.documents(s, dir)
        .withColumn("text", concat(col("text"), lit(" contact u"),
          col("doc_id").cast("string"), lit("@mail.example.com")))
      TextAnalysis.scrubPii(withPii, "doc_id", "text")
    },

    // Gopher/C4-style rule gate: per-doc boolean flags with auditable
    // rejection reasons (the hard-cut complement to the soft quality score).
    "text_gopher_rules" -> { (s, dir) =>
      TextAnalysis.ruleFlags(Tables.documents(s, dir), "doc_id", "text")
    },

    // Curation v3 — the round-4 ops composed into ONE lazy graph: rule
    // gate (hard cuts with reasons) → boilerplate-share cut → near-dup
    // victim removal (broadcast anti-join) → per-source token budget
    // (pre-thinned hash-prefix window). Every stage is the plan shape its
    // standalone gate pins.
    "curation_pipeline_v3" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val boiler = TextAnalysis.boilerplateShare(docs, "doc_id", "text",
          n = 3, maxDocFrequency = 0.004)
        .filter(col("boiler_share") <= 0.2).select(col("doc_id"))
      // Scoped-cache the survivor set: tokenBudget's pre-thin consumes its
      // input twice (stratum sizes + the window), and this input is three
      // corpus passes — without the cache the whole upstream runs twice
      // (measured 9.2 s → ~4 s at sf0.1).
      val kept = OpCaches.scoped(ruleGate(docs)
        .join(boiler, Seq("doc_id"))
        .transform(dropDupVictims(docs)))
      Sampling.tokenBudget(kept, "doc_id", "source", "n_chars",
          budgets = Map("src0" -> 20000L, "src1" -> 10000L),
          defaultBudget = 5000L)
        .select(col("doc_id"), col("source"), col("n_chars"),
          size(graft.functions.TextFunctions.words(col("text"))).cast("long")
            .as("n_words"))
    },

    // Round-6 composite: unicode scrub → script routing (keep
    // latin-dominant) → DSIR importance weighting toward the src2 target
    // domain → keep the 50 most target-leaning docs. The corpus is
    // deterministically dirtied (control/zero-width chars on %7, a CJK
    // replacement on %13) so every stage actually transforms/filters.
    "curation_pipeline_v4" -> { (s, dir) =>
      val raw = Tables.documents(s, dir)
      val dirty = raw.select(col("doc_id"), col("source"),
        when(pmod(col("doc_id"), lit(13)) === 0,
          lit("你好世界 机器 学习 模型 训练 数据"))
          .when(pmod(col("doc_id"), lit(7)) === 0, dirtyInject(col("text")))
          .otherwise(col("text")).as("text"))
      // Scrub and script routing are both PROJECTIONS
      // (TextAnalysis.scrubbedTextCol / dominantScriptCol), so the whole
      // clean-and-route stage is ONE map-side select + filter — the
      // previous composition joined the scrubbed frame back for `source`
      // and the script frame back for the routing verdict, two
      // full-corpus self-join shuffles for per-row values.
      // Scoped-cache the survivor set (only the three columns downstream
      // consumers read): importanceWeights' feature projection reads it
      // once and the final source join-back reads it again — uncached,
      // the scrub+script upstream would run twice.
      val kept = OpCaches.scoped(dirty
        .select(col("doc_id"), col("source"),
          TextAnalysis.scrubbedTextCol(col("text")).as("text_clean"))
        .filter(TextAnalysis.dominantScriptCol(col("text_clean")) === "latin"))
      graft.ops.Sampling.importanceWeights(kept, "doc_id", "text_clean",
          "source", "src2")
        .join(kept.select(col("doc_id"), col("source")), Seq("doc_id"))
        .orderBy(col("logw").desc, col("doc_id"))
        .limit(50)
        .select(col("doc_id"), col("source"), col("logw"))
    },

    // Curation v5 — the learned classifier composed into the funnel: rule
    // gate (hard cuts) → hashed-NB langid FIT ON THE SURVIVORS + predicted
    // -language filter (the model-based counterpart of v4's script-share
    // routing) → exact-dedup survivor selection (min doc_id per content
    // hash). Model is |labels|×256 rows (broadcast); every stage is the
    // plan shape its standalone gate pins.
    "curation_pipeline_v5" -> { (s, dir) =>
      // Scoped-cache the survivors: NB fit reads them twice (class-bucket
      // counts + doc priors), predict once more, the hash dedup once.
      val kept = OpCaches.scoped(ruleGate(Tables.documents(s, dir))
        .select(col("doc_id"), col("source"), col("lang"), col("text")))
      val model = graft.ops.Classify.naiveBayesFit(kept, "lang", "text", dim = 256)
      val en = graft.ops.Classify
        .naiveBayesPredict(kept, model, "doc_id", "text", dim = 256)
        .filter(col("pred") === "en")
      val scored = kept.join(en, Seq("doc_id"))
        .withColumn("__h", md5(col("text")))
      val survivors = scored.groupBy(col("__h")).agg(min(col("doc_id")).as("doc_id"))
      scored.join(survivors, Seq("__h", "doc_id"))
        .select(col("doc_id"), col("source"), col("lang"), col("pred"),
          col("score"))
    },

    // Curation v6 — per-SOURCE ADMISSION CONTROL before any document-level
    // work (the round-11 stats composed into the curation surface): a
    // source is admitted only if (a) the Wilson 95% LOWER bound of its
    // long-doc share clears 0.25 (the dq_wilson_ci statistic — small noisy
    // sources can't sneak in on a lucky point estimate) and (b) its
    // n_chars distribution hasn't drifted vs the reference crawl snapshot
    // (psiByGroup ≤ 1.0; doc_id%3 split stands in for yesterday-vs-today,
    // as in a18). Admitted sources then flow through the rule gate and a
    // deterministic 50% hash sample. The admission frame is a
    // |sources|-bounded broadcast; drift for ALL sources costs two corpus
    // passes (psiByGroup), not |sources| psi calls. At sf0.01 both gates
    // provably ENGAGE: wilson drops {src4,src8,src10,src19}, drift drops
    // {src4,src5,src11,src14} — 13 of 20 sources survive.
    "curation_pipeline_v6" -> admittedCuration("psi", maxDrift = 1.0),

    // The REPORT form of v6's admission control (L286): one row per
    // source with the Wilson lower bound, the PSI drift score, and the
    // admission verdict — what a 100 TB curation run logs per ingest
    // batch before any document moves. |sources|-bounded output.
    "corpus_admission_report" -> admissionReport("psi", maxDrift = 1.0),

    // Curation v7 (round-12 verdict #7): the drift arm of the admission
    // gate swapped from binned PSI to the binning-free two-snapshot KS
    // statistic — admission = Wilson(quality share) ≥ 0.25 ∧ KS ≤ 0.35.
    // Both arms provably ENGAGE at sf0.01 and cut differently from v6:
    // wilson drops {src4,src8,src10,src19}, KS drops {src5,src8,src9,
    // src11,src14} — 12 of 20 sources survive (PSI's cut was a different
    // set). Same scale shape as v6: the admission frame is a
    // |sources|-bounded broadcast; ksByGroup's grid is per-group
    // distinct values, never a global cross join.
    "curation_pipeline_v7" -> admittedCuration("ks", maxDrift = 0.35),

    // The v7 report: BOTH drift statistics per source (binned PSI and
    // binning-free KS) next to the Wilson bound, with the v7 verdict —
    // what the ingest log shows when the two statistics disagree (KS
    // catches shape drift PSI's bins smooth over; PSI catches tail mass
    // KS's sup-norm underweights). Two extra corpus scans over caching
    // the full frames — the cheaper trade at corpus scale; every output
    // is |sources|-bounded.
    "corpus_admission_report_v7" -> admissionReport("ks", maxDrift = 0.35),

    // Curation v8 (round-13 verdict #6): the leakage-safe split COMPOSED
    // into the funnel — rules → near-dup pair mining (planner-banded
    // default path) → deterministic 70% sample → pair graph RESTRICTED
    // to the funnel's survivors (reuse, no re-mining) →
    // Dedup.leakageSafeSplit → per-doc audit. The `cross_split_dups`
    // column counts each doc's near-dup partners landing in the OTHER
    // split — 0 for every row BY CONSTRUCTION (clusters are assigned
    // wholesale via the hash of the cluster id), and the oracle
    // re-derives the count independently, so a regression that split a
    // cluster across train/eval would hash-mismatch, not just fail an
    // assertion. `weight` is the surviving-cluster soft-dedup weight
    // (1/|cluster among survivors|). Scale: one pair-mining pass over
    // the ruled corpus, one components pass over the dup-bounded
    // surviving pair graph, |pairs|-bounded audit joins.
    "curation_pipeline_v8" -> { (s, dir) =>
      val ruled = ruleGate(Tables.documents(s, dir))
      val pairs = Dedup.nearDuplicates(ruled, "doc_id", "text",
          minJaccard = 0.8)
        .select(col("doc_a"), col("doc_b"))
      val sampled = OpCaches.scoped(
        Sampling.bernoulli(ruled, "doc_id", 0.7)
          .select(col("doc_id"), col("source")))
      val survPairs = OpCaches.scoped(pairs
        .join(sampled.select(col("doc_id").as("doc_a")), Seq("doc_a"))
        .join(sampled.select(col("doc_id").as("doc_b")), Seq("doc_b")))
      val split = OpCaches.scoped(
        Dedup.leakageSafeSplit(sampled, survPairs, "doc_id",
          evalFraction = 0.2))
      val csz = split.groupBy(col("cluster_id"))
        .agg(count(lit(1)).as("__csz"))
      val sides = survPairs
        .select(col("doc_a").as("doc_id"), col("doc_b").as("other"))
        .unionByName(survPairs
          .select(col("doc_b").as("doc_id"), col("doc_a").as("other")))
      val leak = sides
        .join(split.select(col("doc_id"), col("split")), Seq("doc_id"))
        .join(split.select(col("doc_id").as("other"),
          col("split").as("__osplit")), Seq("other"))
        .filter(col("split") =!= col("__osplit"))
        .groupBy(col("doc_id")).agg(count(lit(1)).as("cross_split_dups"))
      split.join(sampled, Seq("doc_id"))
        .join(csz, Seq("cluster_id"))
        .join(leak, Seq("doc_id"), "left")
        .select(col("doc_id"), col("source"), col("cluster_id"),
          round(lit(1.0) / col("__csz"), 6).as("weight"), col("split"),
          coalesce(col("cross_split_dups"), lit(0L)).as("cross_split_dups"))
    },

    // BM25 keyword retrieval: top-20 docs for a bounded query-term set —
    // map-side term filter, broadcast df stats, TakeOrdered top-k.
    "text_bm25_topk" -> { (s, dir) =>
      TextAnalysis.bm25(Tables.documents(s, dir), "doc_id", "text",
        terms = Seq("spark", "join", "query"), k = 20)
    },

    // Per-doc boilerplate share vs corpus stop-shingles (df > 0.4% of
    // docs): the templated-page signal. The hot set is bounded by
    // construction and broadcast.
    "text_boilerplate_share" -> { (s, dir) =>
      TextAnalysis.boilerplateShare(Tables.documents(s, dir), "doc_id",
        "text", n = 3, maxDocFrequency = 0.004)
    },

    // Boilerplate STRIPPING: hot-shingle-covered tokens removed, document
    // reassembled — the destructive C4-style cleanup step.
    "text_boilerplate_strip" -> { (s, dir) =>
      TextAnalysis.boilerplateStrip(Tables.documents(s, dir), "doc_id",
        "text", n = 3, maxDocFrequency = 0.004)
    },

    // Within-source quality percentile — the normalization that makes
    // "top 10% of each source" a well-defined mixing recipe.
    "quality_percentile" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val q = TextAnalysis.quality(docs, "doc_id", "text")
        .select(col("doc_id"), round(col("quality_score"), 6).as("q"))
      graft.ops.Stats.percentileRank(
        docs.select(col("doc_id"), col("source")).join(q, Seq("doc_id")),
        "q", "source", "doc_id")
    },

    // Content-defined chunking (avgTokens=8 — the synthetic corpus has a
    // ~31-word vocabulary, so only a mod-8 cut set is non-empty; real
    // corpora use the default 16+).
    "text_cdc_chunks" -> { (s, dir) =>
      TextAnalysis.cdcChunks(Tables.documents(s, dir), "doc_id", "text",
        avgTokens = 8)
    },

    // Cross-document shared CDC chunks: shifted/partial duplication that
    // whole-doc hashing misses.
    "dedup_cdc_shared" -> { (s, dir) =>
      TextAnalysis.cdcSharedChunks(Tables.documents(s, dir), "doc_id",
        "text", avgTokens = 8)
    },

    // Dedup modality evaluation: precision/recall of each APPROXIMATE
    // pair miner against exact-Jaccard ground truth (τ=0.5) — recall is a
    // measured number per modality, not a hope. One row per modality.
    "dedup_modality_eval" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val sh = Dedup.shingleSets(docs, "doc_id", "text")
      val truth = graft.ops.OpCaches.scoped(
        Dedup.jaccardPairs(sh, "doc_id", minJaccard = 0.5)
          .select(col("doc_a"), col("doc_b")))
      val lsh = Dedup.nearDuplicates(docs, "doc_id", "text", minJaccard = 0.5)
        .select(col("doc_a"), col("doc_b"))
      val simhash = Dedup.simhashPairs(docs, "doc_id", "text",
        bits = 16, maxHamming = 2).select(col("doc_a"), col("doc_b"))
      val chunks = TextAnalysis.cdcChunks(docs, "doc_id", "text", avgTokens = 8)
        .select(col("doc_id"), col("chunk_hash")).distinct()
      val cdc = chunks.select(col("doc_id").as("doc_a"), col("chunk_hash"))
        .join(chunks.select(col("doc_id").as("doc_b"), col("chunk_hash")),
          Seq("chunk_hash"))
        .filter(col("doc_a") < col("doc_b"))
        .select(col("doc_a"), col("doc_b")).distinct()
      def evalRow(name: String, pred: DataFrame) = {
        val p = graft.ops.OpCaches.scoped(pred)
        p.agg(count(lit(1)).as("n_pred"))
          .crossJoin(truth.agg(count(lit(1)).as("n_truth")))
          .crossJoin(p.join(truth, Seq("doc_a", "doc_b"), "left_semi")
            .agg(count(lit(1)).as("n_hits")))
          .select(lit(name).as("modality"), col("n_pred"), col("n_truth"),
            col("n_hits"),
            coalesce(round(col("n_hits").cast("double") /
              nullif(col("n_pred").cast("double"), lit(0.0)), 6), lit(0.0))
              .as("precision"),
            coalesce(round(col("n_hits").cast("double") /
              nullif(col("n_truth").cast("double"), lit(0.0)), 6), lit(0.0))
              .as("recall"))
      }
      evalRow("lsh_jaccard", lsh)
        .unionByName(evalRow("simhash", simhash))
        .unionByName(evalRow("cdc_chunks", cdc))
    },

    // Incremental ingest dedup: the "new batch vs accumulated corpus"
    // production shape (ids >= 450 are the batch; < 450 the store).
    "dedup_incremental" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      Dedup.incrementalPairs(
        docs.filter(col("doc_id") >= 450),
        docs.filter(col("doc_id") < 450),
        "doc_id", "text", minJaccard = 0.5)
    },

    // L307: incremental near-dup probe against a SIGNATURE store — the
    // 100 TB incremental shape when history is petabytes: the store
    // holds (doc_id, perm, mh) rows (~200 bytes/doc regardless of doc
    // size), candidates come from planner-banded bucket equi-joins, and
    // similarity is the unbiased minhash ESTIMATE n_match/k cut at the
    // integer rank ⌈t·k⌉. No document bodies or shingles cross the join.
    "dedup_incremental_lsh" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val store = Dedup.minhashStore(docs.filter(col("doc_id") < 450),
        "doc_id", "text")
      Dedup.incrementalPairsSignatureStore(docs.filter(col("doc_id") >= 450),
        store, "doc_id", "text", minJaccardEst = 0.5)
    },

    // Token-budget mixture sampling: per-source char budgets consumed in
    // deterministic hash order (recipes in tokens, not doc counts).
    "sample_token_budget" -> { (s, dir) =>
      graft.ops.Sampling.tokenBudget(Tables.documents(s, dir), "doc_id",
          "source", "n_chars",
          budgets = Map("src0" -> 20000L, "src1" -> 10000L),
          defaultBudget = 5000L)
        .select(col("doc_id"), col("source"), col("n_chars"))
    }
  )

  def oracles: Map[String, String] = Map(
    // GOLDEN-FILE oracle: DuckDB has no deflate, so the expected output is
    // a committed once-computed parquet (tools/golden/, regenerate via
    // tools/make_golden.sh after any deliberate semantic change). The
    // path is ABSOLUTE on purpose: the driver's DuckDB gate runs with an
    // unspecified cwd (a relative path would break there; a worktree
    // clone re-running the gate reads the main checkout's goldens, which
    // for a value-pinning oracle is the intent). The
    // WHERE clause selects the golden matching the corpus the gate runs
    // against — total text length discriminates the three driver sfs
    // (row counts cannot: sf0.001 and sf0.01 both hold 500 docs) — so the
    // gate is a real value comparison at any driver sf instead of the
    // rows-only check it sat at for two rounds. GoldenSpec independently
    // re-derives a golden sample against java.util.zip ground truth.
    "text_compression_ratio" -> Seq(
      153156L -> "sf0_001", 149174L -> "sf0_01", 1485576L -> "sf0_1")
      .map { case (totalLen, tag) =>
        s"""SELECT g.doc_id, g.n_bytes, g.deflate_bytes, g.compress_ratio
           |FROM read_parquet('/root/repo/tools/golden/text_compression_ratio_$tag.parquet') g
           |WHERE (SELECT sum(length(text)) FROM documents) = $totalLen""".stripMargin
      }.mkString("\nUNION ALL\n"),

    "curation_incremental" ->
      """WITH osnap AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 1),
        |nsnap AS (SELECT doc_id, source,
        |    CASE WHEN doc_id % 11 = 3 THEN text || ' v2' ELSE text END AS text
        |  FROM documents WHERE doc_id % 7 <> 2),
        |d AS (SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
        |    CASE WHEN o.doc_id IS NULL THEN 'added'
        |         WHEN n.doc_id IS NULL THEN 'removed'
        |         WHEN o.text = n.text THEN 'unchanged'
        |         ELSE 'changed' END AS status
        |  FROM osnap o FULL OUTER JOIN nsnap n ON o.doc_id = n.doc_id),
        |fresh AS (SELECT n.doc_id, n.text, n.source, d.status
        |  FROM nsnap n JOIN d USING (doc_id)
        |  WHERE d.status IN ('added', 'changed')),
        |fw AS (SELECT doc_id, string_split(trim(text), ' ') AS ws FROM fresh),
        |q AS (SELECT doc_id, round(least(1.0, len(ws) / 50.0) *
        |    (1.0 - CAST(len(list_filter(ws,
        |      x -> x IN ('the','a','of','and','in','to','is'))) AS DOUBLE) / len(ws)),
        |    6) AS quality_score FROM fw)
        |SELECT f.doc_id, f.status, f.source, q.quality_score,
        |  q.quality_score >= 0.5 AS admitted
        |FROM fresh f JOIN q USING (doc_id)""".stripMargin,

    // Text equality in the oracle ≡ sha256 equality in the engine
    // (collision-free at any realistic corpus size).
    "corpus_snapshot_diff" ->
      """WITH osnap AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 1),
        |nsnap AS (SELECT doc_id,
        |    CASE WHEN doc_id % 11 = 3 THEN text || ' v2' ELSE text END AS text
        |  FROM documents WHERE doc_id % 7 <> 2),
        |d AS (SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
        |    CASE WHEN o.doc_id IS NULL THEN 'added'
        |         WHEN n.doc_id IS NULL THEN 'removed'
        |         WHEN o.text = n.text THEN 'unchanged'
        |         ELSE 'changed' END AS status
        |  FROM osnap o FULL OUTER JOIN nsnap n ON o.doc_id = n.doc_id)
        |SELECT s.source, d.status, count(*) AS n_docs
        |FROM d JOIN documents s USING (doc_id)
        |GROUP BY 1, 2""".stripMargin,

    // Same golden-file mechanism (and the same corpus-length
    // discriminator) as text_compression_ratio.
    "text_bpe_tokens" -> Seq(
      153156L -> "sf0_001", 149174L -> "sf0_01", 1485576L -> "sf0_1")
      .map { case (totalLen, tag) =>
        s"""SELECT g.doc_id, g.n_tokens, g.tokens_head
           |FROM read_parquet('/root/repo/tools/golden/text_bpe_tokens_$tag.parquet') g
           |WHERE (SELECT sum(length(text)) FROM documents) = $totalLen""".stripMargin
      }.mkString("\nUNION ALL\n"),

    // Composed incremental-corpus session: the snapshot-diff, the
    // signature-store probe (chunked md5 perms — same arithmetic as the
    // dedup_incremental_lsh oracle), the Wilson+PSI admission arms, and
    // the compaction flags, all re-derived independently.
    "e2e_incremental_session" ->
      """WITH osnap AS (SELECT * FROM documents WHERE doc_id % 5 <> 1),
        |nsnap AS (SELECT doc_id, source, n_chars,
        |    CASE WHEN doc_id % 11 = 3 THEN text || ' v2' ELSE text END AS text
        |  FROM documents WHERE doc_id % 7 <> 2),
        |d AS (SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
        |    CASE WHEN o.doc_id IS NULL THEN 'added'
        |         WHEN n.doc_id IS NULL THEN 'removed'
        |         WHEN o.text = n.text THEN 'unchanged'
        |         ELSE 'changed' END AS status
        |  FROM osnap o FULL OUTER JOIN nsnap n ON o.doc_id = n.doc_id),
        |fresh AS (SELECT n.doc_id, n.text, n.source, n.n_chars, d.status
        |  FROM nsnap n JOIN d USING (doc_id)
        |  WHERE d.status IN ('added', 'changed')),
        |owords AS (SELECT doc_id, string_split(trim(text), ' ') AS ws FROM osnap),
        |osh AS (SELECT DISTINCT doc_id,
        |    unnest(list_transform(range(greatest(len(ws)-2, 0)),
        |      i -> ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3])) AS shingle
        |  FROM owords),
        |fwords AS (SELECT doc_id, string_split(trim(text), ' ') AS ws FROM fresh),
        |fsh AS (SELECT DISTINCT doc_id,
        |    unnest(list_transform(range(greatest(len(ws)-2, 0)),
        |      i -> ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3])) AS shingle
        |  FROM fwords),
        |plan AS (SELECT CAST(b AS INTEGER) AS bands, CAST(16 / b AS INTEGER) AS rpb
        |  FROM (SELECT unnest(range(1, 17)) AS b) WHERE 16 % b = 0
        |  ORDER BY abs(power(1.0 / b, CAST(b AS DOUBLE) / 16) - 0.5), b DESC LIMIT 1),
        |cmh AS (SELECT doc_id, perm,
        |    min(substr(md5(CAST(perm // 4 AS VARCHAR) || ':' || shingle),
        |      CAST(1 + 8 * (perm % 4) AS INTEGER), 8)) AS mh
        |  FROM osh, (SELECT unnest(range(16)) AS perm) p GROUP BY 1, 2),
        |nmh AS (SELECT doc_id, perm,
        |    min(substr(md5(CAST(perm // 4 AS VARCHAR) || ':' || shingle),
        |      CAST(1 + 8 * (perm % 4) AS INTEGER), 8)) AS mh
        |  FROM fsh, (SELECT unnest(range(16)) AS perm) p GROUP BY 1, 2),
        |nsig AS (SELECT doc_id,
        |    CAST(floor(perm / (SELECT rpb FROM plan)) AS INTEGER) AS band,
        |    string_agg(mh, '' ORDER BY perm) AS bucket FROM nmh GROUP BY 1, 2),
        |csig AS (SELECT doc_id,
        |    CAST(floor(perm / (SELECT rpb FROM plan)) AS INTEGER) AS band,
        |    string_agg(mh, '' ORDER BY perm) AS bucket FROM cmh GROUP BY 1, 2),
        |cand AS (SELECT DISTINCT n.doc_id AS new_id, c.doc_id AS corpus_id
        |  FROM nsig n JOIN csig c ON n.band = c.band AND n.bucket = c.bucket
        |    AND n.doc_id <> c.doc_id),
        |agree AS (SELECT cand.new_id, cand.corpus_id,
        |    CAST(sum(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_match
        |  FROM cand JOIN nmh a ON a.doc_id = cand.new_id
        |  JOIN cmh b ON b.doc_id = cand.corpus_id AND b.perm = a.perm
        |  GROUP BY 1, 2),
        |dups AS (SELECT DISTINCT new_id AS doc_id FROM agree WHERE n_match >= 8),
        |wa AS (SELECT source, count(*) AS n,
        |    CAST(sum(CASE WHEN n_chars > 300 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS successes
        |  FROM fresh GROUP BY 1),
        |wc AS (SELECT *, CAST(successes AS DOUBLE) / CAST(n AS DOUBLE) AS p,
        |    CAST(n AS DOUBLE) AS nd FROM wa),
        |wil AS (SELECT source, round((p + 3.8416 / (2.0 * nd)
        |    - 1.96 * sqrt(p * (1.0 - p) / nd + 3.8416 / (4.0 * nd * nd)))
        |    / (1.0 + 3.8416 / nd), 6) AS wilson_lo FROM wc),
        |e AS (SELECT min(n_chars::DOUBLE) AS lo, max(n_chars::DOUBLE) AS hi
        |  FROM osnap),
        |rb AS (SELECT source, CAST(least(9, greatest(0, CASE WHEN hi > lo
        |    THEN floor((n_chars::DOUBLE - lo)/((hi-lo)/10)) ELSE 0 END)) AS INT)
        |  AS bin, count(*) AS n FROM osnap, e GROUP BY 1,2),
        |cb AS (SELECT source, CAST(least(9, greatest(0, CASE WHEN hi > lo
        |    THEN floor((n_chars::DOUBLE - lo)/((hi-lo)/10)) ELSE 0 END)) AS INT)
        |  AS bin, count(*) AS n FROM fresh, e GROUP BY 1,2),
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
        |  FROM rs JOIN cs USING (source, bin)),
        |dr AS (SELECT source, round(sum(term), 6) AS psi FROM tm GROUP BY 1),
        |adm AS (SELECT wil.source,
        |    (wil.wilson_lo >= 0.25 AND dr.psi <= 0.5) AS admitted
        |  FROM wil JOIN dr USING (source))
        |SELECT f.doc_id, f.source, f.status, f.n_chars,
        |  (dups.doc_id IS NOT NULL) AS is_near_dup,
        |  a.admitted AS source_admitted,
        |  (a.admitted AND dups.doc_id IS NULL) AS kept
        |FROM fresh f
        |JOIN adm a USING (source)
        |LEFT JOIN dups ON dups.doc_id = f.doc_id""".stripMargin,

    "text_token_count" ->
      """SELECT doc_id,
        |  CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS n_tokens_ws,
        |  CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS n_tokens_re
        |FROM documents""".stripMargin,

    "text_fertility" ->
      """WITH t AS (SELECT doc_id, lang,
        |    CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS ws,
        |    CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))
        |      AS BIGINT) AS re,
        |    CAST(len(text) AS BIGINT) AS ch
        |  FROM documents)
        |SELECT lang,
        |  round(avg(CASE WHEN ws > 0 THEN CAST(re AS DOUBLE) / ws END), 6)
        |    AS fertility,
        |  round(avg(CASE WHEN re > 0 THEN CAST(ch AS DOUBLE) / re END), 6)
        |    AS chars_per_token,
        |  count(*) AS n_docs
        |FROM t GROUP BY 1""".stripMargin,

    // DuckDB lambda index i is 1-based and s[i] 1-based too, so the
    // neighbor test reads (i = 1 OR s[i] <> s[i-1]) — same semantics
    // as Spark's 0-based filter lambda with 1-based element_at.
    "text_ttr" ->
      s"""WITH $wordsCte,
         |t AS (SELECT doc_id, ws, list_sort(ws) AS s,
         |    CAST(len(ws) AS BIGINT) AS n_tokens,
         |    CAST(len(list_distinct(ws)) AS BIGINT) AS n_types
         |  FROM words),
         |h AS (SELECT doc_id, n_tokens, n_types,
         |    CAST(len(list_filter(s, (x, i) ->
         |      (i = 1 OR x <> s[i - 1]) AND
         |      (i = len(s) OR x <> s[i + 1]))) AS BIGINT) AS hx
         |  FROM t)
         |SELECT doc_id, n_tokens, n_types,
         |  CASE WHEN n_tokens > 0
         |    THEN round(CAST(n_types AS DOUBLE) / n_tokens, 4) END AS ttr,
         |  CASE WHEN n_types > 0
         |    THEN round(CAST(hx AS DOUBLE) / n_types, 4) END AS hapax_share
         |FROM h""".stripMargin,

    "text_source_vocab_jaccard" ->
      """WITH tok AS (SELECT source, unnest(string_split(trim(text), ' '))
        |    AS w FROM documents WHERE source IS NOT NULL),
        |cnt AS (SELECT source, w, count(*) AS c FROM tok GROUP BY 1, 2),
        |tv AS (SELECT source, w FROM (
        |    SELECT source, w, row_number() OVER (PARTITION BY source
        |      ORDER BY c DESC, w) AS r FROM cnt) WHERE r <= 200),
        |sz AS (SELECT source, CAST(count(*) AS BIGINT) AS vsz
        |  FROM tv GROUP BY 1),
        |it AS (SELECT a.source AS source_a, b.source AS source_b,
        |    CAST(count(*) AS BIGINT) AS i
        |  FROM tv a JOIN tv b ON a.w = b.w AND a.source < b.source
        |  GROUP BY 1, 2),
        |sp AS (SELECT x.source AS source_a, y.source AS source_b
        |  FROM sz x, sz y WHERE x.source < y.source)
        |SELECT sp.source_a, sp.source_b, sa.vsz AS v_a, sb.vsz AS v_b,
        |  coalesce(i, 0) AS intersection,
        |  round(CAST(coalesce(i, 0) AS DOUBLE) /
        |    CAST(sa.vsz + sb.vsz - coalesce(i, 0) AS DOUBLE), 6) AS jaccard
        |FROM sp
        |LEFT JOIN it ON sp.source_a = it.source_a
        |  AND sp.source_b = it.source_b
        |JOIN sz sa ON sp.source_a = sa.source
        |JOIN sz sb ON sp.source_b = sb.source""".stripMargin,

    "corpus_datacard" ->
      """SELECT source, lang, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |  round(avg(n_chars), 4) AS avg_chars
        |FROM documents GROUP BY ROLLUP(source, lang)""".stripMargin,

    "sample_mixture_plan" ->
      """WITH avail AS (SELECT source,
        |    CAST(sum(n_chars) AS BIGINT) AS available_tokens
        |  FROM documents GROUP BY 1),
        |sh AS (SELECT source, available_tokens,
        |  round(CASE source WHEN 'src0' THEN 0.5 WHEN 'src1' THEN 0.25
        |    WHEN 'src2' THEN 0.25 ELSE 0.0 END, 6) AS share FROM avail),
        |tg AS (SELECT *, CAST(round(share * 1000000) AS BIGINT)
        |    AS target_tokens FROM sh),
        |rt AS (SELECT *, round(CAST(target_tokens AS DOUBLE) /
        |    nullif(available_tokens, 0), 6) AS rate FROM tg)
        |SELECT source, available_tokens, share, target_tokens, rate,
        |  CAST(floor(rate) AS BIGINT) AS epochs_full,
        |  round(rate - floor(rate), 6) AS epochs_frac
        |FROM rt""".stripMargin,

    "text_quality_score" ->
      s"""WITH $wordsCte,
         |m AS (SELECT d.doc_id, CAST(len(d.text) AS BIGINT) AS n_chars,
         |  CAST(len(ws) AS BIGINT) AS n_words,
         |  CAST(list_sum(list_transform(ws, x -> len(x))) AS DOUBLE) / len(ws) AS awl,
         |  CAST(len(list_filter(ws, x -> x IN ('the','a','of','and','in','to','is'))) AS DOUBLE)
         |    / len(ws) AS sr
         |  FROM documents d JOIN words USING (doc_id))
         |SELECT doc_id, n_chars, n_words, round(awl, 6) AS avg_word_len,
         |  round(sr, 6) AS stopword_ratio,
         |  round(least(1.0, n_words / 50.0) * (1.0 - sr), 6) AS quality_score
         |FROM m""".stripMargin,

    "text_langid" ->
      s"""WITH $wordsCte,
         |s AS (SELECT doc_id,
         |  CAST(len(list_filter(ws, x -> x IN ('the','a','of','and','is'))) AS BIGINT) AS score_en,
         |  CAST(len(list_filter(ws, x -> x IN ('el','la','de','que','y'))) AS BIGINT) AS score_es,
         |  CAST(len(list_filter(ws, x -> x IN ('le','les','de','et','un'))) AS BIGINT) AS score_fr,
         |  CAST(len(list_filter(ws, x -> x IN ('der','die','und','das','ist'))) AS BIGINT) AS score_de
         |  FROM words)
         |SELECT doc_id, score_en, score_es, score_fr, score_de,
         |  CASE WHEN score_en = g AND g > 0 THEN 'en'
         |       WHEN score_es = g AND g > 0 THEN 'es'
         |       WHEN score_fr = g AND g > 0 THEN 'fr'
         |       WHEN score_de = g AND g > 0 THEN 'de'
         |       ELSE 'und' END AS predicted_lang
         |FROM (SELECT *, greatest(score_en, score_es, score_fr, score_de) AS g FROM s)""".stripMargin,

    // H = ln(L) − (Σ n·ln n)/L, integer counts inside the logs, the Σ
    // folded over VALUE-SORTED terms (list_sort → list_sum ≡ Spark
    // array_sort → aggregate).
    "text_char_entropy" ->
      """WITH ch AS (SELECT doc_id, unnest(string_split(text, '')) AS c
        |  FROM documents WHERE length(text) > 0),
        |cnts AS (SELECT doc_id, c, CAST(count(*) AS DOUBLE) AS n
        |  FROM ch GROUP BY 1, 2),
        |s AS (SELECT doc_id,
        |    list_sum(list_sort(list(n * ln(n)))) AS sterm,
        |    CAST(count(*) AS BIGINT) AS nd
        |  FROM cnts GROUP BY 1)
        |SELECT d.doc_id, CAST(length(d.text) AS BIGINT) AS n_chars,
        |  s.nd AS n_distinct_chars,
        |  round(ln(CAST(length(d.text) AS DOUBLE)) -
        |    s.sterm / length(d.text), 6) AS char_entropy
        |FROM documents d JOIN s USING (doc_id)""".stripMargin,

    // κ from the ROUNDED p_o/p_e (the engine rounds both to 6 dp before
    // the final ratio, then rounds κ — replicated in that exact order).
    "ml_cohens_kappa" ->
      s"""WITH $wordsCte,
         |s AS (SELECT doc_id,
         |  CAST(len(list_filter(ws, x -> x IN ('the','a','of','and','is'))) AS BIGINT) AS score_en,
         |  CAST(len(list_filter(ws, x -> x IN ('el','la','de','que','y'))) AS BIGINT) AS score_es,
         |  CAST(len(list_filter(ws, x -> x IN ('le','les','de','et','un'))) AS BIGINT) AS score_fr,
         |  CAST(len(list_filter(ws, x -> x IN ('der','die','und','das','ist'))) AS BIGINT) AS score_de
         |  FROM words),
         |pred AS (SELECT doc_id,
         |  CASE WHEN score_en = g AND g > 0 THEN 'en'
         |       WHEN score_es = g AND g > 0 THEN 'es'
         |       WHEN score_fr = g AND g > 0 THEN 'fr'
         |       WHEN score_de = g AND g > 0 THEN 'de'
         |       ELSE 'und' END AS pl
         |  FROM (SELECT *, greatest(score_en, score_es, score_fr, score_de) AS g FROM s)),
         |pair AS (SELECT d.lang AS a, p.pl AS b
         |  FROM documents d JOIN pred p USING (doc_id)
         |  WHERE d.lang IS NOT NULL),
         |cells AS (SELECT a, b, count(*) AS n FROM pair GROUP BY 1, 2),
         |ma AS (SELECT a AS c, sum(n) AS na FROM cells GROUP BY 1),
         |mb AS (SELECT b AS c, sum(n) AS nb FROM cells GROUP BY 1),
         |pe AS (SELECT coalesce(sum(na * nb), 0) AS pe_num
         |  FROM ma JOIN mb USING (c)),
         |tot AS (SELECT CAST(sum(n) AS BIGINT) AS n_items,
         |    coalesce(sum(CASE WHEN a = b THEN n END), 0) AS agree
         |  FROM cells),
         |r AS (SELECT n_items,
         |    round(CAST(agree AS DOUBLE) / n_items, 6) AS p_observed,
         |    round(CAST(pe_num AS DOUBLE) / (CAST(n_items AS DOUBLE) * n_items), 6)
         |      AS p_expected
         |  FROM tot, pe)
         |SELECT n_items, p_observed, p_expected,
         |  CASE WHEN p_expected = 1.0 THEN NULL
         |    ELSE round((p_observed - p_expected) / (1.0 - p_expected), 6)
         |  END AS kappa
         |FROM r""".stripMargin,

    "text_fingerprint" ->
      s"""WITH $wordsCte
         |SELECT doc_id, CAST(list_sum(list_transform(range(len(ws)),
         |  i -> ('0x' || substr(md5(ws[i+1]), 1, 6))::BIGINT * ((i % 8) + 1))) AS BIGINT)
         |  AS fingerprint
         |FROM words""".stripMargin,

    "dedup_exact" ->
      """WITH doubled AS (SELECT * FROM documents UNION ALL SELECT * FROM documents)
        |SELECT md5(text) AS content_hash, min(doc_id) AS canonical_id,
        |  count(*) AS n_copies
        |FROM doubled GROUP BY 1""".stripMargin,

    "dedup_minhash_lsh" ->
      s"""WITH $wordsCte,
         |$shinglesCte,
         |${sigCte("sh")}
         |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |FROM sig a JOIN sig b ON a.b = b.b AND a.minhash = b.minhash
         |  AND a.doc_id < b.doc_id""".stripMargin,

    "dedup_near_duplicates" ->
      s"""WITH $wordsCte,
         |$shinglesCte,
         |$cappedCte,
         |${plannedCandCtes("shf", 0.8)},
         |${interCte("shf")}
         |SELECT i.doc_a, i.doc_b, i.inter,
         |  round(CAST(i.inter AS DOUBLE) / (x.sz + y.sz - i.inter), 6) AS jaccard,
         |  (SELECT bands FROM plan) AS bands,
         |  (SELECT rpb FROM plan) AS rows_per_band
         |FROM inter i
         |JOIN sz x ON i.doc_a = x.doc_id JOIN sz y ON i.doc_b = y.doc_id
         |JOIN cand c ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
         |WHERE CAST(i.inter AS DOUBLE) / (x.sz + y.sz - i.inter) >= 0.8""".stripMargin,

    "dedup_self_similarity" ->
      s"""WITH $wordsCte,
         |$shinglesCte,
         |$cappedCte,
         |${plannedCandCtes("shf", 0.5)},
         |${interCte("shf")},
         |pairs AS (SELECT i.doc_a, i.doc_b,
         |    round(CAST(i.inter AS DOUBLE) / (x.sz + y.sz - i.inter), 6) AS j
         |  FROM inter i
         |  JOIN sz x ON i.doc_a = x.doc_id JOIN sz y ON i.doc_b = y.doc_id
         |  JOIN cand c ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
         |  WHERE CAST(i.inter AS DOUBLE) / (x.sz + y.sz - i.inter) >= 0.5),
         |sides AS (SELECT doc_a AS doc_id, j FROM pairs
         |  UNION ALL SELECT doc_b AS doc_id, j FROM pairs),
         |nn AS (SELECT doc_id, max(j) AS nn_sim FROM sides GROUP BY 1),
         |tot AS (SELECT count(*) AS n FROM documents),
         |banded AS (SELECT d.doc_id,
         |    CASE WHEN nn.nn_sim IS NULL THEN -1
         |      ELSE CAST(floor(round(nn.nn_sim * 10, 6)) AS INTEGER) END AS band,
         |    nn.nn_sim
         |  FROM documents d LEFT JOIN nn USING (doc_id))
         |SELECT band, count(*) AS n_docs,
         |  round(CAST(count(*) AS DOUBLE) / max(tot.n), 6) AS share,
         |  round(max(nn_sim), 6) AS max_sim
         |FROM banded, tot GROUP BY 1""".stripMargin,

    "skew_stress_near_dups" ->
      s"""WITH $skewedDocsCte,
         |${wordsCteFor("docs_skewed")},
         |$shinglesCte,
         |${cappedCteFor("docs_skewed")},
         |${plannedCandCtes("shf", 0.8)},
         |${interCte("shf")}
         |SELECT i.doc_a, i.doc_b, i.inter,
         |  round(CAST(i.inter AS DOUBLE) / (x.sz + y.sz - i.inter), 6) AS jaccard,
         |  (SELECT bands FROM plan) AS bands,
         |  (SELECT rpb FROM plan) AS rows_per_band
         |FROM inter i
         |JOIN sz x ON i.doc_a = x.doc_id JOIN sz y ON i.doc_b = y.doc_id
         |JOIN cand c ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
         |WHERE CAST(i.inter AS DOUBLE) / (x.sz + y.sz - i.inter) >= 0.8""".stripMargin,

    "skew_stress_containment" ->
      s"""WITH $skewedDocsCte,
         |${wordsCteFor("docs_skewed")},
         |$shinglesCte,
         |${cappedCteFor("docs_skewed")},
         |sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
         |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
         |  FROM shf a JOIN shf b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT i.doc_a, i.doc_b, i.inter,
         |  round(CAST(i.inter AS DOUBLE) / x.sz, 6) AS cont_a,
         |  round(CAST(i.inter AS DOUBLE) / y.sz, 6) AS cont_b
         |FROM inter i
         |JOIN sz x ON i.doc_a = x.doc_id JOIN sz y ON i.doc_b = y.doc_id
         |WHERE greatest(CAST(i.inter AS DOUBLE) / x.sz,
         |               CAST(i.inter AS DOUBLE) / y.sz) >= 0.8""".stripMargin,

    "dedup_lsh_plan" ->
      """WITH d AS (SELECT CAST(b AS INTEGER) AS bands,
        |    CAST(128 / b AS INTEGER) AS rows_per_band
        |  FROM (SELECT unnest(range(1, 129)) AS b) WHERE 128 % b = 0),
        |t AS (SELECT unnest([0.5, 0.7, 0.8, 0.9]) AS t)
        |SELECT bands, rows_per_band, round(t, 6) AS t,
        |  round(1.0 - power(1.0 - power(t, rows_per_band), bands), 6)
        |    AS p_candidate,
        |  round(power(1.0 / bands, 1.0 / rows_per_band), 6) AS t_mid
        |FROM d, t""".stripMargin,

    // The oracle PICKS ITS OWN banding from the same closed form the
    // engine's bandsFor uses (divisor grid, argmin |t_mid − 0.7|, ties →
    // more bands) and bands chunked md5-permutation signatures with it —
    // the shared plannedCandCtes block (the same independent re-derivation
    // every planner-banded dedup gate now carries).
    "dedup_lsh_planned" ->
      s"""WITH $wordsCte,
         |$shinglesCte,
         |$cappedCte,
         |${plannedCandCtes("shf", 0.7)},
         |sz AS (SELECT doc_id, count(*) AS sz FROM shf GROUP BY 1),
         |inter AS (SELECT c.doc_a, c.doc_b, count(*) AS inter
         |  FROM cand c JOIN shf a ON a.doc_id = c.doc_a
         |  JOIN shf b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
         |  GROUP BY 1, 2)
         |SELECT i.doc_a, i.doc_b, i.inter,
         |  round(CAST(i.inter AS DOUBLE) / (x.sz + y.sz - i.inter), 6)
         |    AS jaccard,
         |  (SELECT bands FROM plan) AS bands,
         |  (SELECT rpb FROM plan) AS rows_per_band
         |FROM inter i
         |JOIN sz x ON i.doc_a = x.doc_id JOIN sz y ON i.doc_b = y.doc_id
         |WHERE CAST(i.inter AS DOUBLE) / (x.sz + y.sz - i.inter) >= 0.7""".stripMargin,

    // GOLDEN-FILE oracle for the ONE-PASS production LSH path (round-14
    // verdict #1): the wrapping 64-bit Kirsch–Mitzenmacher signature
    // arithmetic has no safe SQL form, so — exactly like the deflate and
    // BPE gates — the expected output is a committed once-computed
    // parquet under tools/golden/ (regenerate via tools/make_golden.sh
    // ONLY after a deliberate semantic change), selected by the same
    // corpus-length discriminator, making this a real VALUE comparison at
    // any driver sf. GoldenSpec pins the golden non-circularly: an
    // independent naive reimplementation of the full path (shingles →
    // hot-filter → KM signatures → planned banding → exact-Jaccard
    // verify) must produce the identical pair set.
    "dedup_lsh_planned_onepass" -> (Seq(
      153156L -> "sf0_001", 149174L -> "sf0_01", 1485576L -> "sf0_1")
      .map { case (totalLen, tag) =>
        s"""SELECT g.doc_a, g.doc_b, g.inter, g.jaccard, g.bands, g.rows_per_band
           |FROM read_parquet('/root/repo/tools/golden/dedup_lsh_planned_onepass_$tag.parquet') g
           |WHERE (SELECT sum(length(text)) FROM documents) = $totalLen""".stripMargin
      }.mkString("\nUNION ALL\n") +
      // POISON arm (r15 advice): at a corpus whose total text length
      // matches NO committed golden, every arm above is empty and an
      // empty engine output would pass vacuously — emit a sentinel row
      // instead, so an unknown sf hash-mismatches loudly and forces a
      // golden regeneration rather than a silent green.
      """
        |UNION ALL
        |SELECT CAST(-1 AS BIGINT) AS doc_a, CAST(-1 AS BIGINT) AS doc_b,
        |  CAST(-1 AS BIGINT) AS inter, CAST(-1.0 AS DOUBLE) AS jaccard,
        |  CAST(-1 AS INTEGER) AS bands, CAST(-1 AS INTEGER) AS rows_per_band
        |WHERE (SELECT sum(length(text)) FROM documents)
        |  NOT IN (153156, 149174, 1485576)""".stripMargin),

    "dedup_jaccard_exact" ->
      s"""WITH $wordsCte,
         |$shinglesCte,
         |${interCte("sh")}
         |SELECT i.doc_a, i.doc_b, i.inter,
         |  round(CAST(i.inter AS DOUBLE) / (x.sz + y.sz - i.inter), 6) AS jaccard
         |FROM inter i
         |JOIN sz x ON i.doc_a = x.doc_id JOIN sz y ON i.doc_b = y.doc_id
         |WHERE CAST(i.inter AS DOUBLE) / (x.sz + y.sz - i.inter) >= 0.5""".stripMargin,

    // Same answer as dedup_jaccard_exact by construction (prefix
    // filtering is lossless).
    "dedup_jaccard_prefix" ->
      s"""WITH $wordsCte,
         |$shinglesCte,
         |${interCte("sh")}
         |SELECT i.doc_a, i.doc_b, i.inter,
         |  round(CAST(i.inter AS DOUBLE) / (x.sz + y.sz - i.inter), 6) AS jaccard
         |FROM inter i
         |JOIN sz x ON i.doc_a = x.doc_id JOIN sz y ON i.doc_b = y.doc_id
         |WHERE CAST(i.inter AS DOUBLE) / (x.sz + y.sz - i.inter) >= 0.5""".stripMargin,

    // The df-capped path: shingles in more than 2 docs are dropped from
    // BOTH sets before anything joins (mirroring jaccardPairsPrefix's
    // maxDf filter-first semantics — sizes and intersections are computed
    // on the FILTERED sets).
    "dedup_jaccard_prefix_capped" ->
      s"""WITH $wordsCte,
         |$shinglesCte,
         |shc AS (SELECT doc_id, shingle FROM sh WHERE shingle IN
         |  (SELECT shingle FROM sh GROUP BY 1 HAVING count(*) <= 2)),
         |${interCte("shc")}
         |SELECT i.doc_a, i.doc_b, i.inter,
         |  round(CAST(i.inter AS DOUBLE) / (x.sz + y.sz - i.inter), 6) AS jaccard
         |FROM inter i
         |JOIN sz x ON i.doc_a = x.doc_id JOIN sz y ON i.doc_b = y.doc_id
         |WHERE CAST(i.inter AS DOUBLE) / (x.sz + y.sz - i.inter) >= 0.5""".stripMargin,

    "sample_stratified_mix" ->
      """SELECT doc_id, source, lang FROM documents
        |WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
        |      / 4294967296.0
        |  < CASE source WHEN 'src0' THEN 0.8 WHEN 'src1' THEN 0.5
        |    WHEN 'src2' THEN 0.2 ELSE 0.1 END""".stripMargin,

    "text_top_ngrams" ->
      s"""WITH $wordsCte,
         |ng AS (SELECT unnest(list_transform(range(greatest(len(ws)-1, 0)),
         |  i -> ws[i+1] || ' ' || ws[i+2])) AS ngram FROM words),
         |f AS (SELECT ngram, count(*) AS freq FROM ng GROUP BY 1)
         |SELECT ngram, freq, CAST(rank AS INTEGER) AS rank FROM (
         |  SELECT *, row_number() OVER (ORDER BY freq DESC, ngram) AS rank FROM f)
         |WHERE rank <= 20""".stripMargin,

    "text_unigram_logprob" ->
      s"""WITH $wordsCte,
         |tok AS (SELECT doc_id, unnest(ws) AS w FROM words),
         |vocab AS (SELECT w, count(*) AS cnt FROM tok GROUP BY 1),
         |tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS total FROM vocab)
         |SELECT doc_id, round(avg(-ln(cnt / total)), 6) AS mean_nll,
         |  count(*) AS n_tokens
         |FROM tok JOIN vocab USING (w), tot GROUP BY doc_id""".stripMargin,

    "text_unigram_topv" ->
      s"""WITH $wordsCte,
         |tok AS (SELECT doc_id, unnest(ws) AS w FROM words),
         |vall AS (SELECT w, count(*) AS cnt FROM tok GROUP BY 1),
         |vocab AS (SELECT w, cnt FROM vall ORDER BY cnt DESC, w LIMIT 50),
         |tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS total FROM vall)
         |SELECT doc_id, round(avg(-ln(COALESCE(v.cnt, 1) / total)), 6) AS mean_nll,
         |  count(*) AS n_tokens
         |FROM tok LEFT JOIN vocab v USING (w), tot GROUP BY doc_id""".stripMargin,

    "dedup_clusters" ->
      s"""WITH RECURSIVE $wordsCte,
         |$shinglesCte,
         |$cappedCte,
         |${plannedCandCtes("shf", 0.8)},
         |${interCte("shf")},
         |pairs AS (SELECT i.doc_a, i.doc_b FROM inter i
         |  JOIN sz x ON i.doc_a = x.doc_id JOIN sz y ON i.doc_b = y.doc_id
         |  JOIN cand c ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
         |  WHERE CAST(i.inter AS DOUBLE) / (x.sz + y.sz - i.inter) >= 0.8),
         |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
         |  UNION SELECT doc_b, doc_a FROM pairs),
         |reach(src, dst) AS (
         |  SELECT src, dst FROM edges
         |  UNION
         |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src)
         |SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
         |FROM reach GROUP BY src""".stripMargin,

    // Same recursive-CC chain as dedup_clusters, then: singletons become
    // their own cluster and the split is the md5 hash of the CLUSTER id
    // (mirroring Sampling.keyUniform) against 0.2.
    "sample_leakage_safe_split" ->
      s"""WITH RECURSIVE $wordsCte,
         |$shinglesCte,
         |$cappedCte,
         |${plannedCandCtes("shf", 0.8)},
         |${interCte("shf")},
         |pairs AS (SELECT i.doc_a, i.doc_b FROM inter i
         |  JOIN sz x ON i.doc_a = x.doc_id JOIN sz y ON i.doc_b = y.doc_id
         |  JOIN cand c ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
         |  WHERE CAST(i.inter AS DOUBLE) / (x.sz + y.sz - i.inter) >= 0.8),
         |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
         |  UNION SELECT doc_b, doc_a FROM pairs),
         |reach(src, dst) AS (
         |  SELECT src, dst FROM edges
         |  UNION
         |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
         |cl AS (SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
         |  FROM reach GROUP BY src),
         |allc AS (SELECT d.doc_id, coalesce(cl.cluster_id, d.doc_id) AS cluster_id
         |  FROM documents d LEFT JOIN cl USING (doc_id))
         |SELECT doc_id, cluster_id,
         |  CASE WHEN ('0x' || substr(md5(CAST(cluster_id AS VARCHAR)), 1, 8))::BIGINT
         |       / 4294967296.0 < 0.2 THEN 'eval' ELSE 'train' END AS split
         |FROM allc""".stripMargin,

    "sample_soft_dedup" ->
      s"""WITH RECURSIVE $wordsCte,
         |$shinglesCte,
         |$cappedCte,
         |${plannedCandCtes("shf", 0.8)},
         |${interCte("shf")},
         |pairs AS (SELECT i.doc_a, i.doc_b FROM inter i
         |  JOIN sz x ON i.doc_a = x.doc_id JOIN sz y ON i.doc_b = y.doc_id
         |  JOIN cand c ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
         |  WHERE CAST(i.inter AS DOUBLE) / (x.sz + y.sz - i.inter) >= 0.8),
         |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
         |  UNION SELECT doc_b, doc_a FROM pairs),
         |reach(src, dst) AS (
         |  SELECT src, dst FROM edges
         |  UNION
         |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
         |cl AS (SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
         |  FROM reach GROUP BY src),
         |csz AS (SELECT cluster_id, count(*) AS c FROM cl GROUP BY 1)
         |SELECT d.doc_id, d.source,
         |  coalesce(cl.cluster_id, d.doc_id) AS cluster_id,
         |  round(1.0 / coalesce(csz.c, 1), 6) AS weight
         |FROM documents d
         |LEFT JOIN cl USING (doc_id)
         |LEFT JOIN csz ON cl.cluster_id = csz.cluster_id""".stripMargin,

    "curation_pipeline_e2e" ->
      s"""WITH $wordsCte,
         |$shinglesCte,
         |$cappedCte,
         |${plannedCandCtes("shf", 0.8)},
         |${interCte("shf")},
         |victims AS (SELECT DISTINCT i.doc_b AS doc_id FROM inter i
         |  JOIN sz x ON i.doc_a = x.doc_id JOIN sz y ON i.doc_b = y.doc_id
         |  JOIN cand c ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
         |  WHERE CAST(i.inter AS DOUBLE) / (x.sz + y.sz - i.inter) >= 0.8),
         |q AS (SELECT doc_id, least(1.0, len(ws) / 50.0) *
         |    (1.0 - CAST(len(list_filter(ws,
         |      x -> x IN ('the','a','of','and','in','to','is'))) AS DOUBLE) / len(ws))
         |    AS quality_score FROM words),
         |l AS (SELECT doc_id,
         |  CASE WHEN score_en = g AND g > 0 THEN 'en'
         |       WHEN score_es = g AND g > 0 THEN 'es'
         |       WHEN score_fr = g AND g > 0 THEN 'fr'
         |       WHEN score_de = g AND g > 0 THEN 'de'
         |       ELSE 'und' END AS predicted_lang
         |  FROM (SELECT doc_id,
         |    CAST(len(list_filter(ws, x -> x IN ('the','a','of','and','is'))) AS BIGINT) AS score_en,
         |    CAST(len(list_filter(ws, x -> x IN ('el','la','de','que','y'))) AS BIGINT) AS score_es,
         |    CAST(len(list_filter(ws, x -> x IN ('le','les','de','et','un'))) AS BIGINT) AS score_fr,
         |    CAST(len(list_filter(ws, x -> x IN ('der','die','und','das','ist'))) AS BIGINT) AS score_de,
         |    greatest(
         |      len(list_filter(ws, x -> x IN ('the','a','of','and','is'))),
         |      len(list_filter(ws, x -> x IN ('el','la','de','que','y'))),
         |      len(list_filter(ws, x -> x IN ('le','les','de','et','un'))),
         |      len(list_filter(ws, x -> x IN ('der','die','und','das','ist')))) AS g
         |    FROM words))
         |SELECT d.doc_id, d.source, round(q.quality_score, 6) AS quality_score
         |FROM documents d JOIN q USING (doc_id) JOIN l USING (doc_id)
         |WHERE q.quality_score >= 0.5 AND l.predicted_lang = 'en'
         |  AND d.doc_id NOT IN (SELECT doc_id FROM victims)
         |  AND ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT
         |      / 4294967296.0 < 0.9""".stripMargin,

    "curation_pipeline_v2" ->
      s"""WITH $wordsCte,
         |$shinglesCte,
         |$cappedCte,
         |${plannedCandCtes("shf", 0.8)},
         |${interCte("shf")},
         |victims AS (SELECT DISTINCT i.doc_b AS doc_id FROM inter i
         |  JOIN sz x ON i.doc_a = x.doc_id JOIN sz y ON i.doc_b = y.doc_id
         |  JOIN cand c ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
         |  WHERE CAST(i.inter AS DOUBLE) / (x.sz + y.sz - i.inter) >= 0.8),
         |tok AS (SELECT doc_id, unnest(ws) AS w FROM words),
         |vall AS (SELECT w, count(*) AS cnt FROM tok GROUP BY 1),
         |vocab AS (SELECT w, cnt FROM vall ORDER BY cnt DESC, w LIMIT 50),
         |tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS total FROM vall),
         |nll AS (SELECT doc_id, round(avg(-ln(COALESCE(v.cnt, 1) / total)), 6)
         |    AS mean_nll
         |  FROM tok LEFT JOIN vocab v USING (w), tot GROUP BY doc_id),
         |q AS (SELECT doc_id, round(least(1.0, len(ws) / 50.0) *
         |  (1.0 - CAST(len(list_filter(ws,
         |    x -> x IN ('the','a','of','and','in','to','is'))) AS DOUBLE) / len(ws)),
         |  6) AS quality_score FROM words)
         |SELECT d.doc_id, d.source, q.quality_score, nll.mean_nll
         |FROM documents d JOIN q USING (doc_id) JOIN nll USING (doc_id)
         |WHERE q.quality_score >= 0.5 AND nll.mean_nll <= 3.402
         |  AND d.doc_id NOT IN (SELECT doc_id FROM victims)
         |  AND ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT
         |      / 4294967296.0 < 0.9""".stripMargin,

    "dedup_survivors" ->
      s"""WITH RECURSIVE $wordsCte,
         |$shinglesCte,
         |$cappedCte,
         |${plannedCandCtes("shf", 0.8)},
         |${interCte("shf")},
         |pairs AS (SELECT i.doc_a, i.doc_b FROM inter i
         |  JOIN sz x ON i.doc_a = x.doc_id JOIN sz y ON i.doc_b = y.doc_id
         |  JOIN cand c ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
         |  WHERE CAST(i.inter AS DOUBLE) / (x.sz + y.sz - i.inter) >= 0.8),
         |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
         |  UNION SELECT doc_b, doc_a FROM pairs),
         |reach(src, dst) AS (
         |  SELECT src, dst FROM edges
         |  UNION
         |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
         |cl AS (SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
         |  FROM reach GROUP BY src),
         |q AS (SELECT doc_id, round(least(1.0, len(ws) / 50.0) *
         |  (1.0 - CAST(len(list_filter(ws,
         |    x -> x IN ('the','a','of','and','in','to','is'))) AS DOUBLE) / len(ws)),
         |  6) AS q FROM words),
         |assigned AS (SELECT q.doc_id, COALESCE(cl.cluster_id, q.doc_id) AS cluster_id,
         |  q.q FROM q LEFT JOIN cl ON q.doc_id = cl.doc_id),
         |sel AS (SELECT cluster_id, doc_id AS survivor_id,
         |  row_number() OVER (PARTITION BY cluster_id ORDER BY q DESC, doc_id) AS rn
         |  FROM assigned),
         |agg AS (SELECT cluster_id, count(*) AS cluster_size, max(q) AS best_score
         |  FROM assigned GROUP BY 1)
         |SELECT a.cluster_id, s.survivor_id, a.cluster_size, a.best_score
         |FROM agg a JOIN sel s ON a.cluster_id = s.cluster_id AND s.rn = 1""".stripMargin,

    "quality_top_docs" ->
      s"""WITH $wordsCte,
         |q AS (SELECT doc_id, round(least(1.0, len(ws) / 50.0) *
         |  (1.0 - CAST(len(list_filter(ws,
         |    x -> x IN ('the','a','of','and','in','to','is'))) AS DOUBLE) / len(ws)),
         |  6) AS quality_score FROM words)
         |SELECT doc_id, quality_score FROM q
         |ORDER BY quality_score DESC, doc_id LIMIT 20""".stripMargin,

    // Sizes (containment denominators) from the UNCAPPED shingle set;
    // the self-join intersection from the hot-shingle-capped one —
    // mirroring containmentPairs' default maxDocFrequency = 0.1.
    "dedup_containment" ->
      s"""WITH $wordsCte,
         |$shinglesCte,
         |$cappedCte,
         |sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
         |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
         |  FROM shf a JOIN shf b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT i.doc_a, i.doc_b, i.inter,
         |  round(CAST(i.inter AS DOUBLE) / x.sz, 6) AS cont_a,
         |  round(CAST(i.inter AS DOUBLE) / y.sz, 6) AS cont_b
         |FROM inter i
         |JOIN sz x ON i.doc_a = x.doc_id JOIN sz y ON i.doc_b = y.doc_id
         |WHERE greatest(CAST(i.inter AS DOUBLE) / x.sz,
         |               CAST(i.inter AS DOUBLE) / y.sz) >= 0.8""".stripMargin,

    "corpus_report_by_source" ->
      s"""WITH $wordsCte,
         |q AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_words,
         |  round(least(1.0, len(ws) / 50.0) *
         |    (1.0 - CAST(len(list_filter(ws,
         |      x -> x IN ('the','a','of','and','in','to','is'))) AS DOUBLE) / len(ws)),
         |    6) AS quality_score FROM words),
         |l AS (SELECT doc_id,
         |  CASE WHEN score_en = g AND g > 0 THEN 'en'
         |       WHEN score_es = g AND g > 0 THEN 'es'
         |       WHEN score_fr = g AND g > 0 THEN 'fr'
         |       WHEN score_de = g AND g > 0 THEN 'de'
         |       ELSE 'und' END AS predicted_lang
         |  FROM (SELECT doc_id,
         |    CAST(len(list_filter(ws, x -> x IN ('the','a','of','and','is'))) AS BIGINT) AS score_en,
         |    CAST(len(list_filter(ws, x -> x IN ('el','la','de','que','y'))) AS BIGINT) AS score_es,
         |    CAST(len(list_filter(ws, x -> x IN ('le','les','de','et','un'))) AS BIGINT) AS score_fr,
         |    CAST(len(list_filter(ws, x -> x IN ('der','die','und','das','ist'))) AS BIGINT) AS score_de,
         |    greatest(
         |      len(list_filter(ws, x -> x IN ('the','a','of','and','is'))),
         |      len(list_filter(ws, x -> x IN ('el','la','de','que','y'))),
         |      len(list_filter(ws, x -> x IN ('le','les','de','et','un'))),
         |      len(list_filter(ws, x -> x IN ('der','die','und','das','ist')))) AS g
         |    FROM words))
         |SELECT d.source, count(*) AS n_docs,
         |  CAST(sum(q.n_words) AS BIGINT) AS total_words,
         |  round(avg(q.quality_score), 4) AS avg_quality,
         |  round(avg(CASE WHEN l.predicted_lang = 'en' THEN 1.0 ELSE 0.0 END), 6)
         |    AS pct_en
         |FROM documents d JOIN q USING (doc_id) JOIN l USING (doc_id)
         |GROUP BY d.source""".stripMargin,

    "dedup_simhash_pairs" ->
      s"""WITH $wordsCte,
         |tok AS (SELECT doc_id, unnest(ws) AS word FROM words),
         |h AS (SELECT doc_id, ('0x' || substr(md5(word), 1, 4))::BIGINT AS h16 FROM tok),
         |bits AS (SELECT doc_id, b, sum(((h16 >> CAST(b AS INTEGER)) & 1) * 2 - 1) AS s
         |  FROM h, (SELECT unnest(range(16)) AS b) bb GROUP BY doc_id, b),
         |sim AS (SELECT doc_id, CAST(sum(CASE WHEN s >= 0 THEN CAST(power(2, b) AS BIGINT)
         |  ELSE 0 END) AS BIGINT) AS simhash FROM bits GROUP BY doc_id)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
         |FROM sim a JOIN sim b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 2""".stripMargin,

    "text_tfidf_top_terms" ->
      s"""WITH $wordsCte,
         |tok AS (SELECT doc_id, unnest(ws) AS term FROM words),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
         |dfx AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
         |nd AS (SELECT count(DISTINCT doc_id) AS n FROM documents),
         |s AS (SELECT doc_id, term, tf,
         |  round(tf * ln(CAST(n AS DOUBLE) / df), 6) AS tfidf
         |  FROM tf JOIN dfx USING (term), nd)
         |SELECT doc_id, term, tf, CAST(rank AS INTEGER) AS rank, tfidf FROM (
         |  SELECT *, row_number() OVER (PARTITION BY doc_id
         |    ORDER BY tfidf DESC, term) AS rank FROM s)
         |WHERE rank <= 3""".stripMargin,

    "sample_temperature" ->
      """WITH c AS (SELECT source, count(*) AS n FROM documents GROUP BY 1),
        |t AS (SELECT sum(power(n, 0.5)) AS z, sum(n) AS total FROM c),
        |r AS (SELECT source,
        |  least(1.0, 0.5 * total * power(n, 0.5) / (z * n)) AS rate FROM c, t)
        |SELECT d.doc_id, d.source FROM documents d JOIN r USING (source)
        |WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
        |      / 4294967296.0 < rate""".stripMargin,

    "dedup_title_edit" ->
      // The ok-CTE mirrors the engine's DEFAULT hot-block cap
      // (maxBlockSize = 1000): at test scales no block comes close
      // (~22 rows/block at sf0.01), but the oracle must encode the cap so
      // parity holds at ANY sf — at sf1 the ~92 second-token blocks hold
      // >2000 names each and the capped engine would return zero pairs
      // against an uncapped oracle.
      """WITH names AS (SELECT p_name, min(p_partkey) AS name_id
        |  FROM part GROUP BY 1),
        |p AS (SELECT name_id, p_name, split_part(p_name, ' ', 2) AS blk
        |  FROM names),
        |ok AS (SELECT blk FROM p GROUP BY blk HAVING count(*) <= 1000),
        |pf AS (SELECT p.* FROM p JOIN ok USING (blk))
        |SELECT a.name_id AS id_a, b.name_id AS id_b,
        |  CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS dist
        |FROM pf a JOIN pf b ON a.blk = b.blk AND a.name_id < b.name_id
        |  AND abs(length(a.p_name) - length(b.p_name)) <= 3
        |WHERE levenshtein(a.p_name, b.p_name) <= 3""".stripMargin,

    "skew_stress_title_edit" ->
      """WITH names AS (SELECT p_name, min(p_partkey) AS name_id
        |  FROM part GROUP BY 1),
        |sk AS (SELECT name_id, CASE WHEN name_id % 5 = 0
        |    THEN 'zz hotblk ' || p_name ELSE p_name END AS p_name FROM names),
        |p AS (SELECT name_id, p_name, split_part(p_name, ' ', 2) AS blk
        |  FROM sk),
        |ok AS (SELECT blk FROM p GROUP BY blk HAVING count(*) <= 300),
        |pf AS (SELECT p.* FROM p JOIN ok USING (blk))
        |SELECT a.name_id AS id_a, b.name_id AS id_b,
        |  CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS dist
        |FROM pf a JOIN pf b ON a.blk = b.blk AND a.name_id < b.name_id
        |  AND abs(length(a.p_name) - length(b.p_name)) <= 3
        |WHERE levenshtein(a.p_name, b.p_name) <= 3""".stripMargin,

    "dedup_title_edit_capped" ->
      """WITH names AS (SELECT p_name, min(p_partkey) AS name_id
        |  FROM part GROUP BY 1),
        |sk AS (SELECT name_id, CASE WHEN name_id % 3 = 0
        |    THEN 'zz capblk ' || p_name ELSE p_name END AS p_name FROM names),
        |p AS (SELECT name_id, p_name, split_part(p_name, ' ', 2) AS blk
        |  FROM sk),
        |ok AS (SELECT blk FROM p GROUP BY blk HAVING count(*) <= 10),
        |pf AS (SELECT p.* FROM p JOIN ok USING (blk))
        |SELECT a.name_id AS id_a, b.name_id AS id_b,
        |  CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS dist
        |FROM pf a JOIN pf b ON a.blk = b.blk AND a.name_id < b.name_id
        |  AND abs(length(a.p_name) - length(b.p_name)) <= 3
        |WHERE levenshtein(a.p_name, b.p_name) <= 3""".stripMargin,

    "text_hash_embedding" ->
      s"""WITH $wordsCte,
         |tok AS (SELECT doc_id, unnest(ws) AS w FROM words),
         |h AS (SELECT doc_id,
         |  ('0x' || substr(md5(w), 1, 6))::BIGINT % 64 AS bucket,
         |  1 - 2 * (('0x' || substr(md5(w), 7, 1))::BIGINT % 2) AS s FROM tok)
         |SELECT doc_id, bucket, CAST(sum(s) AS BIGINT) AS weight
         |FROM h GROUP BY 1, 2 HAVING sum(s) <> 0""".stripMargin,

    // Both hash-cosine oracles mirror the engine's two-phase cap exactly:
    // candidates from buckets at/below the occupancy cap, dot over ALL
    // buckets for survivors (the fa730a2 cap-parity rule — a
    // behavior-changing default lives in every oracle that crosses it).
    "dedup_semantic_text" -> hashCosineOracleSql(cap = 1000L, minCos = 0.8),

    "skew_stress_semantic_hash" ->
      hashCosineOracleSql(cap = 50L, minCos = 0.5),

    "text_unicode_scrub" ->
      s"""WITH dirty AS (SELECT doc_id,
         |  CASE WHEN doc_id % 7 = 0 THEN $dirtyInjectSql
         |  ELSE text END AS text FROM documents),
         |s1 AS (SELECT doc_id, text,
         |  regexp_replace(text, '${TextAnalysis.CtrlClass}', '', 'g') AS t1
         |  FROM dirty),
         |s2 AS (SELECT doc_id, text, t1,
         |  regexp_replace(t1, '${TextAnalysis.ZeroWidthClass}', '', 'g') AS t2 FROM s1)
         |SELECT doc_id, trim(regexp_replace(t2, '  +', ' ', 'g')) AS text_clean,
         |  CAST(length(text) - length(t1) AS BIGINT) AS n_ctrl,
         |  CAST(length(t1) - length(t2) AS BIGINT) AS n_zero_width
         |FROM s2""".stripMargin,

    "text_script_share" ->
      s"""WITH multi AS (SELECT doc_id,
         |  CASE WHEN doc_id % 7 = 0 THEN text || ' Привет мир 42'
         |       WHEN doc_id % 11 = 0 THEN text || ' 你好世界'
         |  ELSE text END AS text FROM documents),
         |c AS (SELECT doc_id, CAST(length(text) AS BIGINT) AS n,
         |  ${classCountSql("text", TextAnalysis.LatinClass)} AS n_latin,
         |  ${classCountSql("text", TextAnalysis.CyrillicClass)} AS n_cyrillic,
         |  ${classCountSql("text", TextAnalysis.CjkClass)} AS n_cjk,
         |  ${classCountSql("text", TextAnalysis.DigitClass)} AS n_digit
         |  FROM multi),
         |o AS (SELECT doc_id, n_latin, n_cyrillic, n_cjk, n_digit,
         |  n - n_latin - n_cyrillic - n_cjk - n_digit AS n_other FROM c)
         |SELECT doc_id, n_latin, n_cyrillic, n_cjk, n_digit, n_other,
         |  CASE
         |    WHEN n_latin >= greatest(n_cyrillic, n_cjk, n_digit, n_other) THEN 'latin'
         |    WHEN n_cyrillic >= greatest(n_cjk, n_digit, n_other) THEN 'cyrillic'
         |    WHEN n_cjk >= greatest(n_digit, n_other) THEN 'cjk'
         |    WHEN n_digit >= n_other THEN 'digit'
         |    ELSE 'other' END AS dominant
         |FROM o""".stripMargin,

    "sample_importance_weights" ->
      s"""WITH words AS (SELECT doc_id, source, string_split(trim(text), ' ') AS ws
         |  FROM documents),
         |${dsirCtes(dim = 256, targetTag = "src2")}
         |SELECT doc_id, logw FROM lw""".stripMargin,

    "text_nb_langid" ->
      s"""WITH ${nbLangidCtes("documents")}
         |SELECT doc_id, lang AS pred, score FROM nbp WHERE rn = 1""".stripMargin,

    "text_nb_eval" ->
      s"""WITH ${nbLangidCtes("documents")},
         |pred AS (SELECT doc_id, lang AS pred FROM nbp WHERE rn = 1)
         |SELECT d.lang, count(*) AS n_docs,
         |  CAST(sum(CASE WHEN p.pred = d.lang THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
         |  round(CAST(sum(CASE WHEN p.pred = d.lang THEN 1 ELSE 0 END)
         |    AS DOUBLE) / count(*), 6) AS accuracy
         |FROM documents d JOIN pred p USING (doc_id)
         |GROUP BY d.lang""".stripMargin,

    "sample_exact_quota" ->
      """SELECT doc_id, source, lang FROM (
        |  SELECT doc_id, source, lang, row_number() OVER (PARTITION BY source
        |    ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT,
        |      doc_id) AS r
        |  FROM documents)
        |WHERE r <= CASE source WHEN 'src0' THEN 40 WHEN 'src1' THEN 25
        |  WHEN 'src2' THEN 10 ELSE 0 END""".stripMargin,

    "dedup_prefix" ->
      s"""WITH $wordsCte,
         |p AS (SELECT w.doc_id, d.text,
         |    md5(array_to_string(ws[1:16], ' ')) AS ph
         |  FROM words w JOIN documents d USING (doc_id) WHERE len(ws) >= 16),
         |ok AS (SELECT ph FROM p GROUP BY ph
         |  HAVING count(*) > 1 AND count(*) <= 10)
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  (substring(a.text, 1, length(b.text)) = b.text OR
         |   substring(b.text, 1, length(a.text)) = a.text) AS is_prefix
         |FROM p a JOIN p b ON a.ph = b.ph AND a.doc_id < b.doc_id
         |JOIN ok ON a.ph = ok.ph""".stripMargin,

    "quality_signal_corr" -> {
      val sigs = Seq("n_words", "avg_word_len", "stopword_ratio", "rep_ratio")
      val pairSelects = (for {
        i <- sigs.indices; j <- (i + 1) until sigs.size
      } yield {
        val (a, b) = (sigs(i), sigs(j))
        s"""SELECT '$a' AS feature_a, '$b' AS feature_b, count(*) AS n,
           |  round((count(*)*sum(fx*fy) - sum(fx)*sum(fy)) /
           |    nullif(sqrt(count(*)*sum(fx*fx) - sum(fx)*sum(fx)) *
           |           sqrt(count(*)*sum(fy*fy) - sum(fy)*sum(fy)), 0), 6) + 0
           |    AS corr
           |FROM (SELECT CAST($a AS DOUBLE) AS fx, CAST($b AS DOUBLE) AS fy
           |      FROM sig WHERE $a IS NOT NULL AND $b IS NOT NULL)""".stripMargin
      }).mkString("\nUNION ALL\n")
      s"""WITH $wordsCte,
         |sig AS (SELECT doc_id,
         |  CAST(len(ws) AS BIGINT) AS n_words,
         |  CAST(list_sum(list_transform(ws, x -> len(x))) AS DOUBLE)
         |    / len(ws) AS avg_word_len,
         |  CAST(len(list_filter(ws, x -> x IN ('the','a','of','and','in','to','is')))
         |    AS DOUBLE) / len(ws) AS stopword_ratio,
         |  CASE WHEN greatest(len(ws) - 2, 0) > 0
         |    THEN 1.0 - CAST(len(list_distinct(list_transform(
         |      range(greatest(len(ws) - 2, 0)),
         |      i -> ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3]))) AS DOUBLE)
         |      / greatest(len(ws) - 2, 0)
         |    ELSE 0.0 END AS rep_ratio
         |  FROM words)
         |SELECT * FROM ($pairSelects) WHERE n >= 2""".stripMargin
    },

    "text_repetition_ratio" ->
      s"""WITH $wordsCte,
         |s AS (SELECT doc_id, list_transform(range(greatest(len(ws)-2, 0)),
         |  i -> ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3]) AS sh FROM words)
         |SELECT doc_id, CAST(len(sh) AS BIGINT) AS n_shingles,
         |  CAST(len(list_distinct(sh)) AS BIGINT) AS n_distinct,
         |  round(CASE WHEN len(sh) > 0
         |    THEN 1.0 - CAST(len(list_distinct(sh)) AS DOUBLE) / len(sh)
         |    ELSE 0.0 END, 6) AS rep_ratio
         |FROM s""".stripMargin,

    "text_decontaminate" ->
      s"""WITH words AS (SELECT doc_id, source, string_split(trim(text), ' ') AS ws
         |  FROM documents),
         |sh AS (SELECT DISTINCT doc_id, source,
         |  unnest(list_transform(range(greatest(len(ws)-2, 0)),
         |    i -> ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3])) AS shingle FROM words),
         |bench AS (SELECT DISTINCT shingle FROM sh WHERE source = 'src2')
         |SELECT doc_id, count(*) AS n_hits
         |FROM sh JOIN bench USING (shingle)
         |WHERE source <> 'src2'
         |GROUP BY doc_id""".stripMargin,

    "text_contamination_by_source" ->
      s"""WITH words AS (SELECT doc_id, source, string_split(trim(text), ' ') AS ws
         |  FROM documents),
         |sh AS (SELECT DISTINCT doc_id, source,
         |  unnest(list_transform(range(greatest(len(ws)-2, 0)),
         |    i -> ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3])) AS shingle FROM words),
         |bench AS (SELECT DISTINCT shingle FROM sh WHERE source = 'src2'),
         |hits AS (SELECT doc_id, count(*) AS n_hits
         |  FROM sh JOIN bench USING (shingle)
         |  WHERE source <> 'src2' GROUP BY doc_id),
         |bysrc AS (SELECT d.source, count(*) AS nc,
         |    CAST(sum(h.n_hits) AS BIGINT) AS th
         |  FROM hits h JOIN documents d USING (doc_id) GROUP BY 1)
         |SELECT d.source, count(*) AS n_docs,
         |  coalesce(max(b.nc), 0) AS n_contaminated,
         |  coalesce(max(b.th), 0) AS total_hits,
         |  round(CAST(coalesce(max(b.nc), 0) AS DOUBLE) / count(*), 6)
         |    AS contaminated_share
         |FROM documents d LEFT JOIN bysrc b ON d.source = b.source
         |WHERE d.source <> 'src2'
         |GROUP BY 1""".stripMargin,

    "dedup_funnel_report" ->
      s"""WITH RECURSIVE $wordsCte,
         |$shinglesCte,
         |$cappedCte,
         |${plannedCandCtes("shf", 0.8)},
         |${interCte("shf")},
         |pairs AS (SELECT i.doc_a, i.doc_b FROM inter i
         |  JOIN sz x ON i.doc_a = x.doc_id JOIN sz y ON i.doc_b = y.doc_id
         |  JOIN cand c ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
         |  WHERE CAST(i.inter AS DOUBLE) / (x.sz + y.sz - i.inter) >= 0.8),
         |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
         |  UNION SELECT doc_b, doc_a FROM pairs),
         |reach(src, dst) AS (
         |  SELECT src, dst FROM edges
         |  UNION
         |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
         |cl AS (SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
         |  FROM reach GROUP BY src)
         |SELECT n_docs, n_candidates, n_verified, n_clusters, n_clustered_docs,
         |  n_docs - (n_clustered_docs - n_clusters) AS n_survivors
         |FROM (SELECT
         |  (SELECT count(*) FROM documents) AS n_docs,
         |  (SELECT count(*) FROM cand) AS n_candidates,
         |  (SELECT count(*) FROM pairs) AS n_verified,
         |  (SELECT count(DISTINCT cluster_id) FROM cl) AS n_clusters,
         |  (SELECT count(*) FROM cl) AS n_clustered_docs)""".stripMargin,

    "text_token_windows" ->
      s"""WITH $wordsCte,
         |w AS (SELECT doc_id, ws, len(ws) AS n FROM words WHERE doc_id < 100)
         |SELECT doc_id, CAST(s // 10 AS INTEGER) AS win_idx,
         |  CAST(s AS INTEGER) AS win_start,
         |  CAST(greatest(least(20, n - s), 0) AS INTEGER) AS win_tokens,
         |  array_to_string(ws[s+1 : s+20], ' ') AS win_text
         |FROM w, unnest(range(0, greatest(n, 1), 10)) AS t(s)""".stripMargin,

    "dataset_diff" ->
      """WITH newv AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 13 = 0 THEN text || ' v2' ELSE text END AS text
        |  FROM documents WHERE doc_id % 17 <> 0
        |  UNION ALL
        |  SELECT doc_id + 100000 AS doc_id, text FROM documents
        |  WHERE doc_id % 11 = 0),
        |o AS (SELECT doc_id, md5(text) AS ho FROM documents),
        |n AS (SELECT doc_id, md5(text) AS hn FROM newv)
        |SELECT doc_id,
        |  CASE WHEN ho IS NULL THEN 'added'
        |       WHEN hn IS NULL THEN 'removed'
        |       WHEN ho <> hn THEN 'changed' ELSE 'unchanged' END AS status
        |FROM o FULL OUTER JOIN n USING (doc_id)""".stripMargin,

    "quality_histogram" ->
      s"""WITH $wordsCte,
         |q AS (SELECT doc_id, round(least(1.0, len(ws) / 50.0) *
         |  (1.0 - CAST(len(list_filter(ws,
         |    x -> x IN ('the','a','of','and','in','to','is'))) AS DOUBLE) / len(ws)),
         |  6) AS q6 FROM words)
         |SELECT d.source, least(CAST(floor(q.q6 * 10) AS BIGINT), 9) AS bucket,
         |  count(*) AS n_docs
         |FROM documents d JOIN q USING (doc_id)
         |GROUP BY 1, 2""".stripMargin,

    "text_bigram_logprob" ->
      s"""WITH $wordsCte,
         |bg AS (SELECT doc_id, unnest(list_transform(range(greatest(len(ws)-1, 0)),
         |  i -> ws[i+1] || ' ' || ws[i+2])) AS b FROM words),
         |bc AS (SELECT b, count(*) AS cb FROM bg GROUP BY 1 HAVING count(*) >= 2),
         |tok AS (SELECT doc_id, unnest(ws) AS w FROM words),
         |uc AS (SELECT w, count(*) AS cu FROM tok GROUP BY 1),
         |tot AS (SELECT CAST(sum(cu) AS DOUBLE) AS total FROM uc),
         |tr AS (SELECT doc_id, b, string_split(b, ' ')[1] AS w1,
         |  string_split(b, ' ')[2] AS w2 FROM bg),
         |scored AS (SELECT doc_id,
         |  CASE WHEN bc.cb IS NOT NULL
         |    THEN -ln(CAST(bc.cb AS DOUBLE) / u1.cu)
         |    ELSE -ln(0.4 * CAST(u2.cu AS DOUBLE) / total) END AS nll,
         |  CASE WHEN bc.cb IS NULL THEN 1 ELSE 0 END AS bo
         |FROM tr LEFT JOIN bc ON tr.b = bc.b
         |JOIN uc u1 ON tr.w1 = u1.w JOIN uc u2 ON tr.w2 = u2.w, tot)
         |SELECT doc_id,
         |  round(list_sum(list_sort(list(nll))) / count(*), 6) AS mean_nll,
         |  count(*) AS n_transitions,
         |  CAST(sum(bo) AS BIGINT) AS n_backoff
         |FROM scored GROUP BY doc_id""".stripMargin,

    "text_pmi_collocations" ->
      s"""WITH $wordsCte,
         |bg AS (SELECT unnest(list_transform(range(greatest(len(ws)-1, 0)),
         |  i -> ws[i+1] || ' ' || ws[i+2])) AS b FROM words),
         |bc AS (SELECT b, count(*) AS n_pair FROM bg GROUP BY 1
         |  HAVING count(*) >= 5),
         |tok AS (SELECT unnest(ws) AS w FROM words),
         |uc AS (SELECT w, count(*) AS cu FROM tok GROUP BY 1),
         |tot AS (SELECT (SELECT count(*) FROM bg) AS nb,
         |  (SELECT count(*) FROM tok) AS nu)
         |SELECT string_split(bc.b, ' ')[1] AS w1,
         |  string_split(bc.b, ' ')[2] AS w2,
         |  CAST(bc.n_pair AS BIGINT) AS n_pair,
         |  round(ln(CAST(bc.n_pair AS DOUBLE) * CAST(tot.nu AS DOUBLE)
         |      * CAST(tot.nu AS DOUBLE) /
         |    (CAST(tot.nb AS DOUBLE) * CAST(u1.cu AS DOUBLE)
         |      * CAST(u2.cu AS DOUBLE))), 4) + 0 AS pmi
         |FROM bc
         |JOIN uc u1 ON string_split(bc.b, ' ')[1] = u1.w
         |JOIN uc u2 ON string_split(bc.b, ' ')[2] = u2.w, tot""".stripMargin,

    "text_rake_keyphrases" ->
      s"""WITH $wordsCte,
         |p AS (SELECT doc_id, unnest(list_transform(range(len(ws)),
         |    i -> struct_pack(pos := i, w := ws[i+1]))) AS e FROM words),
         |q AS (SELECT doc_id, e.pos AS pos, e.w AS w,
         |    e.w IN ('the', 'a', 'of', 'and', 'in', 'to', 'is') AS stop
         |  FROM p),
         |isl AS (SELECT *, sum(CASE WHEN stop THEN 1 ELSE 0 END)
         |    OVER (PARTITION BY doc_id ORDER BY pos
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS g
         |  FROM q),
         |cand AS (SELECT doc_id, g,
         |    string_agg(w, ' ' ORDER BY pos) AS phrase,
         |    count(*) AS len
         |  FROM isl WHERE NOT stop GROUP BY 1, 2
         |  HAVING count(*) <= 4),
         |pc AS (SELECT phrase, count(*) AS np FROM cand GROUP BY 1
         |  HAVING count(*) >= 3),
         |wt AS (SELECT unnest(string_split(phrase, ' ')) AS w, len
         |  FROM cand),
         |wsx AS (SELECT w, count(*) AS freq, sum(len) AS deg
         |  FROM wt GROUP BY 1),
         |ph AS (SELECT DISTINCT phrase FROM cand),
         |pt AS (SELECT phrase, unnest(string_split(phrase, ' ')) AS w
         |  FROM ph),
         |sc AS (SELECT pt.phrase,
         |    round(sum(CAST(wsx.deg AS DOUBLE) / CAST(wsx.freq AS DOUBLE)),
         |      4) AS score
         |  FROM pt JOIN wsx USING (w) GROUP BY 1)
         |SELECT pc.phrase, CAST(pc.np AS BIGINT) AS n_occurrences,
         |  sc.score
         |FROM pc JOIN sc USING (phrase)""".stripMargin,

    "dedup_cross_corpus" ->
      """WITH words AS (SELECT doc_id, source, string_split(trim(text), ' ') AS ws
        |  FROM documents),
        |sh AS (SELECT DISTINCT doc_id, source,
        |  unnest(list_transform(range(greatest(len(ws)-2, 0)),
        |    i -> ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3])) AS shingle FROM words),
        |shf AS (SELECT doc_id, source, shingle FROM sh
        |  WHERE shingle NOT IN (SELECT shingle FROM sh GROUP BY shingle
        |    HAVING count(*) > 0.1 * (SELECT count(DISTINCT doc_id) FROM documents))),
        |sz AS (SELECT doc_id, count(*) AS sz FROM shf GROUP BY 1),
        |inter AS (SELECT b.doc_id AS bench_id, t.doc_id AS train_id,
        |    count(*) AS inter
        |  FROM shf b JOIN shf t ON b.shingle = t.shingle
        |    AND b.source = 'src2' AND t.source <> 'src2'
        |  GROUP BY 1, 2),
        |scored AS (SELECT bench_id, train_id, inter,
        |    round(CAST(inter AS DOUBLE) / (x.sz + y.sz - inter), 6) AS jaccard
        |  FROM inter JOIN sz x ON bench_id = x.doc_id
        |    JOIN sz y ON train_id = y.doc_id)
        |SELECT bench_id, train_id, inter, jaccard FROM (
        |  SELECT *, row_number() OVER (PARTITION BY bench_id
        |    ORDER BY jaccard DESC, train_id) AS rn FROM scored)
        |WHERE rn = 1""".stripMargin,

    "text_truncate" ->
      s"""WITH $wordsCte
         |SELECT doc_id, array_to_string(ws[1:50], ' ') AS text_trunc,
         |  CAST(least(len(ws), 50) AS BIGINT) AS n_tokens_kept,
         |  CAST(len(ws) > 50 AS INTEGER) AS truncated
         |FROM words""".stripMargin,

    "sample_weighted" ->
      s"""WITH $wordsCte,
         |q AS (SELECT doc_id, round(least(1.0, len(ws) / 50.0) *
         |  (1.0 - CAST(len(list_filter(ws,
         |    x -> x IN ('the','a','of','and','in','to','is'))) AS DOUBLE) / len(ws)),
         |  6) AS qual FROM words),
         |s AS (SELECT d.doc_id, d.source, q.qual,
         |  round(ln(greatest(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT
         |      / 4294967296.0, 1.0 / 8589934592.0)) / q.qual, 6) AS es
         |  FROM documents d JOIN q USING (doc_id) WHERE q.qual > 0)
         |SELECT doc_id, source, qual FROM (
         |  SELECT *, row_number() OVER (PARTITION BY source
         |    ORDER BY es DESC, doc_id) AS rn FROM s)
         |WHERE rn <= 5""".stripMargin,

    "sample_epochs" ->
      """WITH e AS (SELECT doc_id, source,
        |    CASE source WHEN 'src0' THEN 0.5 WHEN 'src1' THEN 2.5
        |      WHEN 'src2' THEN 3.0 ELSE 1.0 END AS ep
        |  FROM documents),
        |c AS (SELECT doc_id, source, CAST(floor(ep) AS INTEGER) +
        |    CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
        |      / 4294967296.0 < ep - floor(ep) THEN 1 ELSE 0 END AS copies
        |  FROM e)
        |SELECT doc_id, source, CAST(ci AS INTEGER) AS copy_idx
        |FROM c, unnest(range(copies)) AS t(ci)""".stripMargin,

    "pack_sequences" ->
      s"""WITH $wordsCte,
         |t AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_tokens_ws FROM words),
         |k AS (SELECT doc_id, n_tokens_ws,
         |  CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 8
         |    AS INTEGER) AS shard,
         |  ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 9, 8))::BIGINT AS ord
         |  FROM t),
         |o AS (SELECT doc_id, n_tokens_ws, shard,
         |  COALESCE(CAST(sum(n_tokens_ws) OVER (PARTITION BY shard
         |    ORDER BY ord, doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0)
         |    AS off FROM k)
         |SELECT doc_id, shard, off AS "offset",
         |  off // 512 AS seq_in_shard, off % 512 AS pos_in_seq,
         |  CAST(off % 512 + n_tokens_ws > 512 AS INTEGER) AS straddles
         |FROM o""".stripMargin,

    // 8-token spans, hot-span cap mirroring substringSpanPairs' default
    // maxDocFrequency = 0.1 (no span is hot on this testdata; the spec
    // plants one to prove the mechanism).
    "dedup_substring_spans" ->
      s"""WITH $wordsCte,
         |sp AS (SELECT DISTINCT doc_id, unnest(list_transform(
         |    range(greatest(len(ws)-7, 0)),
         |    i -> ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4]
         |      || ' ' || ws[i+5] || ' ' || ws[i+6] || ' ' || ws[i+7] || ' ' || ws[i+8]))
         |    AS span FROM words),
         |spf AS (SELECT doc_id, span FROM sp
         |  WHERE span NOT IN (SELECT span FROM sp GROUP BY span
         |    HAVING count(*) > 0.1 * (SELECT count(DISTINCT doc_id) FROM documents)))
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  count(*) AS shared_spans, min(a.span) AS first_span
         |FROM spf a JOIN spf b ON a.span = b.span AND a.doc_id < b.doc_id
         |GROUP BY 1, 2""".stripMargin,

    "text_novelty" ->
      s"""WITH $wordsCte,
         |$shinglesCte,
         |f AS (SELECT shingle, min(doc_id) AS first_doc FROM sh GROUP BY 1)
         |SELECT s.doc_id, count(*) AS n_ngrams,
         |  CAST(sum(CASE WHEN s.doc_id = f.first_doc THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_novel,
         |  round(CAST(sum(CASE WHEN s.doc_id = f.first_doc THEN 1 ELSE 0 END)
         |    AS DOUBLE) / count(*), 6) AS novelty
         |FROM sh s JOIN f USING (shingle) GROUP BY 1""".stripMargin,

    "text_heavy_hitters" ->
      s"""WITH $wordsCte,
         |tok AS (SELECT unnest(ws) AS token FROM words),
         |c AS (SELECT token, count(*) AS freq FROM tok GROUP BY 1),
         |t AS (SELECT CAST(sum(freq) AS DOUBLE) AS total FROM c)
         |SELECT token, freq, round(CAST(freq AS DOUBLE) / total, 6) AS share
         |FROM c, t WHERE CAST(freq AS DOUBLE) / total > 0.005""".stripMargin,

    // Pair spine = groups² × top-V; absent terms contribute through the
    // present side only; sums fold value-sorted (list_sort → list_sum).
    "text_source_js" ->
      s"""WITH $wordsCte,
         |tok AS (SELECT d.source, unnest(w.ws) AS w
         |  FROM documents d JOIN words w ON d.doc_id = w.doc_id),
         |vocab AS (SELECT w FROM (SELECT w, count(*) AS cnt FROM tok
         |  GROUP BY 1 ORDER BY cnt DESC, w LIMIT 50)),
         |g AS (SELECT source, t.w, count(*) AS gcnt FROM tok t
         |  JOIN vocab USING (w) GROUP BY 1, 2),
         |gt AS (SELECT source, sum(gcnt) AS gtot FROM g GROUP BY 1),
         |dist AS (SELECT g.source, g.w,
         |    CAST(gcnt AS DOUBLE) / gtot AS p
         |  FROM g JOIN gt ON g.source = gt.source),
         |spine AS (SELECT a.source AS source_a, b.source AS source_b, v.w
         |  FROM gt a, gt b, vocab v WHERE a.source < b.source),
         |t AS (SELECT source_a, source_b,
         |    coalesce(pa.p, 0.0) AS pa, coalesce(pb.p, 0.0) AS pb
         |  FROM spine s
         |  LEFT JOIN dist pa ON pa.source = s.source_a AND pa.w = s.w
         |  LEFT JOIN dist pb ON pb.source = s.source_b AND pb.w = s.w
         |  WHERE coalesce(pa.p, 0.0) > 0 OR coalesce(pb.p, 0.0) > 0),
         |terms AS (SELECT source_a, source_b,
         |    coalesce(CASE WHEN pa > 0
         |      THEN 0.5 * pa * ln(pa / ((pa + pb) / 2.0)) END, 0.0) +
         |    coalesce(CASE WHEN pb > 0
         |      THEN 0.5 * pb * ln(pb / ((pa + pb) / 2.0)) END, 0.0) AS term
         |  FROM t)
         |SELECT source_a, source_b,
         |  round(list_sum(list_sort(list(term))), 6) AS js,
         |  CAST(count(*) AS BIGINT) AS n_terms
         |FROM terms GROUP BY 1, 2""".stripMargin,

    // Rank = (freq desc, token asc); inclusive cumulative mass at the
    // clamped rank; oversized V reports the full-vocabulary row.
    "text_vocab_coverage" ->
      s"""WITH $wordsCte,
         |tok AS (SELECT unnest(ws) AS w FROM words),
         |c AS (SELECT w, count(*) AS cnt FROM tok GROUP BY 1),
         |r AS (SELECT w, cnt,
         |    row_number() OVER (ORDER BY cnt DESC, w) AS rk,
         |    sum(cnt) OVER (ORDER BY cnt DESC, w
         |      ROWS UNBOUNDED PRECEDING) AS cum,
         |    count(*) OVER () AS nv FROM c),
         |t AS (SELECT CAST(sum(cnt) AS BIGINT) AS total_tokens FROM c),
         |v(vocab_size) AS (VALUES (5), (10), (1000))
         |SELECT v.vocab_size, CAST(r.rk AS BIGINT) AS n_terms,
         |  CAST(r.cum AS BIGINT) AS covered_tokens, t.total_tokens,
         |  round(CAST(r.cum AS DOUBLE) / t.total_tokens, 6) AS coverage
         |FROM v JOIN r ON r.rk = least(v.vocab_size, r.nv), t""".stripMargin,

    // KL folds over SORTED per-term contributions (list_sort → list_sum ≡
    // Spark array_sort → aggregate): order-identical double sums.
    "text_source_kl" ->
      s"""WITH $wordsCte,
         |tok AS (SELECT d.source, unnest(w.ws) AS w
         |  FROM documents d JOIN words w ON d.doc_id = w.doc_id),
         |allc AS (SELECT w, count(*) AS cnt FROM tok GROUP BY 1),
         |vocab AS (SELECT w, cnt FROM allc ORDER BY cnt DESC, w LIMIT 50),
         |ct AS (SELECT CAST(sum(cnt) AS DOUBLE) AS ctot FROM vocab),
         |g AS (SELECT source, w, count(*) AS gcnt FROM tok
         |  WHERE w IN (SELECT w FROM vocab) GROUP BY 1, 2),
         |gt AS (SELECT source, CAST(sum(gcnt) AS DOUBLE) AS gtot FROM g GROUP BY 1),
         |terms AS (SELECT g.source,
         |  (CAST(g.gcnt AS DOUBLE) / gt.gtot) *
         |    ln((CAST(g.gcnt AS DOUBLE) / gt.gtot) / (CAST(v.cnt AS DOUBLE) / ct.ctot))
         |    AS term
         |  FROM g JOIN vocab v USING (w) JOIN gt USING (source), ct)
         |SELECT source, round(list_sum(list_sort(list(term))), 6) AS kl,
         |  count(*) AS n_terms
         |FROM terms GROUP BY source""".stripMargin,

    "text_bpe_pairs" ->
      s"""WITH $wordsCte,
         |tok AS (SELECT unnest(ws) AS w FROM words),
         |p AS (SELECT unnest(list_transform(range(greatest(len(w)-1, 0)),
         |    i -> w[i+1:i+2])) AS pair FROM tok),
         |f AS (SELECT pair, count(*) AS freq FROM p GROUP BY 1
         |  ORDER BY freq DESC, pair LIMIT 20)
         |SELECT pair, freq, CAST(rank AS INTEGER) AS rank FROM (
         |  SELECT *, row_number() OVER (ORDER BY freq DESC, pair) AS rank FROM f)""".stripMargin,

    "pack_shard_manifest" ->
      """WITH k AS (SELECT doc_id,
        |  CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 8
        |    AS INTEGER) AS shard,
        |  ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 9, 8))::BIGINT AS ord
        |  FROM documents)
        |SELECT doc_id, shard,
        |  row_number() OVER (PARTITION BY shard ORDER BY ord, doc_id) - 1 AS pos
        |FROM k""".stripMargin,

    "pack_padding_report" ->
      s"""WITH $wordsCte,
         |t AS (SELECT doc_id, least(CAST(len(ws) AS BIGINT), 512) AS capped
         |  FROM words),
         |b AS (SELECT greatest(((capped + 63) // 64) * 64, 64) AS bucket_ub, capped
         |  FROM t),
         |a AS (SELECT bucket_ub, count(*) AS n_docs,
         |  CAST(sum(capped) AS BIGINT) AS sum_tokens FROM b GROUP BY 1)
         |SELECT bucket_ub, n_docs, sum_tokens,
         |  CAST(n_docs * bucket_ub AS BIGINT) AS padded_tokens,
         |  CAST(n_docs * 512 AS BIGINT) AS naive_tokens,
         |  round(1.0 - CAST(sum_tokens AS DOUBLE) / (n_docs * bucket_ub), 6) AS waste,
         |  round(1.0 - CAST(sum_tokens AS DOUBLE) / (n_docs * 512), 6) AS naive_waste
         |FROM a""".stripMargin,

    // Mask decision = md5-uniform of (doc_id:block) < 0.25, identical
    // hash idiom to the engine; sentinel k = masked blocks before b
    // (hash recomputed per predecessor, same as the engine's lambda).
    "pack_span_corruption" ->
      s"""WITH $wordsCte,
         |d AS (SELECT doc_id, ws,
         |    CAST(len(ws) AS INTEGER) AS l,
         |    CAST((len(ws) + 4) // 5 AS INTEGER) AS nb
         |  FROM words),
         |b AS (SELECT doc_id, ws, nb,
         |    CASE WHEN l > 0 THEN range(nb) ELSE [] END AS bs
         |  FROM d),
         |m AS (SELECT doc_id, nb, bs, ws,
         |    list_transform(bs, x ->
         |      ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' ||
         |        CAST(x AS VARCHAR)), 1, 8))::BIGINT / 4294967296.0 < 0.25)
         |      AS mk
         |  FROM b)
         |SELECT doc_id,
         |  CAST(CASE WHEN len(bs) > 0 THEN nb ELSE 0 END AS BIGINT)
         |    AS n_blocks,
         |  CAST(len(list_filter(bs, x -> mk[x + 1])) AS BIGINT) AS n_masked,
         |  coalesce(array_to_string(list_transform(bs, x ->
         |    CASE WHEN mk[x + 1] THEN '<extra_id_' ||
         |      CAST(len(list_filter(range(x), y -> mk[y + 1])) AS VARCHAR)
         |        || '>'
         |    ELSE array_to_string(ws[x * 5 + 1 : x * 5 + 5], ' ') END), ' '),
         |    '') AS input_text,
         |  coalesce(array_to_string(list_transform(list_filter(bs, x ->
         |      mk[x + 1]),
         |    x -> '<extra_id_' ||
         |      CAST(len(list_filter(range(x), y -> mk[y + 1])) AS VARCHAR)
         |      || '> ' || array_to_string(ws[x * 5 + 1 : x * 5 + 5], ' ')), ' '),
         |    '') AS target_text
         |FROM m""".stripMargin,

    "split_leakage_safe" ->
      s"""WITH RECURSIVE $wordsCte,
         |$shinglesCte,
         |$cappedCte,
         |${plannedCandCtes("shf", 0.8)},
         |${interCte("shf")},
         |pairs AS (SELECT i.doc_a, i.doc_b FROM inter i
         |  JOIN sz x ON i.doc_a = x.doc_id JOIN sz y ON i.doc_b = y.doc_id
         |  JOIN cand c ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
         |  WHERE CAST(i.inter AS DOUBLE) / (x.sz + y.sz - i.inter) >= 0.8),
         |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
         |  UNION SELECT doc_b, doc_a FROM pairs),
         |reach(src, dst) AS (
         |  SELECT src, dst FROM edges
         |  UNION
         |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
         |cl AS (SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
         |  FROM reach GROUP BY src),
         |g AS (SELECT d.doc_id, COALESCE(cl.cluster_id, d.doc_id) AS group_key
         |  FROM documents d LEFT JOIN cl USING (doc_id))
         |SELECT doc_id, group_key,
         |  CASE WHEN u < 0.8 THEN 'train' WHEN u < 0.9 THEN 'val'
         |       ELSE 'test' END AS split
         |FROM (SELECT doc_id, group_key,
         |  ('0x' || substr(md5(CAST(group_key AS VARCHAR)), 1, 8))::BIGINT
         |    / 4294967296.0 AS u FROM g)""".stripMargin,

    "text_pii_scrub" ->
      """WITH injected AS (SELECT doc_id,
        |  text || ' contact u' || CAST(doc_id AS VARCHAR) || '@mail.example.com' AS text
        |  FROM documents)
        |SELECT doc_id,
        |  regexp_replace(text, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g')
        |    AS text_clean,
        |  CAST(len(regexp_extract_all(text, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}'))
        |    AS BIGINT) AS n_masked
        |FROM injected""".stripMargin,

    "dedup_simhash" ->
      s"""WITH $wordsCte,
         |tok AS (SELECT doc_id, unnest(ws) AS word FROM words),
         |h AS (SELECT doc_id, ('0x' || substr(md5(word), 1, 4))::BIGINT AS h16 FROM tok),
         |bits AS (SELECT doc_id, b, sum(((h16 >> CAST(b AS INTEGER)) & 1) * 2 - 1) AS s
         |  FROM h, (SELECT unnest(range(16)) AS b) bb GROUP BY doc_id, b)
         |SELECT doc_id, CAST(sum(CASE WHEN s >= 0 THEN CAST(power(2, b) AS BIGINT)
         |  ELSE 0 END) AS BIGINT) AS simhash
         |FROM bits GROUP BY doc_id""".stripMargin,

    // Rule thresholds compare unrounded doubles derived from the same
    // integer counts in both engines, so the flags are engine-exact.
    "text_gopher_rules" ->
      s"""WITH $wordsCte,
         |m AS (SELECT d.doc_id,
         |  CAST(len(ws) AS BIGINT) AS n_words,
         |  CAST(list_sum(list_transform(ws, x -> len(x))) AS DOUBLE)
         |    / len(ws) AS awl,
         |  CAST(len(list_filter(ws, x -> x IN ('the','a','of','and','in','to','is')))
         |    AS BIGINT) AS stop_hits,
         |  CAST(len(d.text) - len(regexp_replace(d.text, '[^a-z0-9 ]', '', 'g'))
         |    AS DOUBLE) / greatest(len(d.text), 1) AS sym
         |  FROM documents d JOIN words USING (doc_id))
         |SELECT doc_id, n_words, round(awl, 6) AS avg_word_len,
         |  stop_hits AS stopword_hits, round(sym, 6) AS symbol_ratio,
         |  CAST(n_words >= 50 AND n_words <= 100000 AS INTEGER) AS flag_words,
         |  CAST(awl >= 3.0 AND awl <= 10.0 AS INTEGER) AS flag_word_len,
         |  CAST(stop_hits >= 2 AS INTEGER) AS flag_stopwords,
         |  CAST(sym <= 0.1 AS INTEGER) AS flag_symbols,
         |  CAST(n_words >= 50 AND n_words <= 100000 AND awl >= 3.0
         |    AND awl <= 10.0 AND stop_hits >= 2 AND sym <= 0.1 AS INTEGER)
         |    AS pass_all
         |FROM m""".stripMargin,

    // Per-doc BM25 folds SORTED per-term contributions (list_sort →
    // list_sum ≡ Spark array_sort → aggregate): order-identical sums.
    // All inputs to the float math are exact integer counts, so every
    // intermediate is bit-identical across engines.
    // v7: same rule gate and hash sample as v6, drift arm = KS <= 0.35
    // (binning-free), quality arm unchanged.
    "curation_pipeline_v7" ->
      s"""WITH $wordsCte,
         |rm AS (SELECT d.doc_id,
         |  CAST(len(ws) AS BIGINT) AS n_words,
         |  CAST(list_sum(list_transform(ws, x -> len(x))) AS DOUBLE)
         |    / len(ws) AS awl,
         |  CAST(len(list_filter(ws, x -> x IN ('the','a','of','and','in','to','is')))
         |    AS BIGINT) AS stop_hits,
         |  CAST(len(d.text) - len(regexp_replace(d.text, '[^a-z0-9 ]', '', 'g'))
         |    AS DOUBLE) / greatest(len(d.text), 1) AS sym
         |  FROM documents d JOIN words USING (doc_id)),
         |pass AS (SELECT doc_id FROM rm
         |  WHERE n_words >= 50 AND n_words <= 100000
         |    AND awl >= 3.0 AND awl <= 10.0
         |    AND stop_hits >= 2 AND sym <= 0.1),
         |wa AS (SELECT source, count(*) AS n,
         |    CAST(sum(CASE WHEN n_chars > 300 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS successes
         |  FROM documents GROUP BY 1),
         |wc AS (SELECT *, CAST(successes AS DOUBLE) / CAST(n AS DOUBLE) AS p,
         |    CAST(n AS DOUBLE) AS nd FROM wa),
         |wil AS (SELECT source, n AS n_docs,
         |  round((p + 3.8416 / (2.0 * nd)
         |    - 1.96 * sqrt(p * (1.0 - p) / nd + 3.8416 / (4.0 * nd * nd)))
         |    / (1.0 + 3.8416 / nd), 6) AS wilson_lo FROM wc),
         |admq AS (SELECT source FROM wil WHERE wilson_lo >= 0.25),
         |ksr AS (SELECT source AS g, CAST(n_chars AS DOUBLE) AS v
         |  FROM documents WHERE doc_id % 3 = 0
         |    AND n_chars IS NOT NULL AND source IS NOT NULL),
         |ksc AS (SELECT source AS g, CAST(n_chars AS DOUBLE) AS v
         |  FROM documents WHERE doc_id % 3 <> 0
         |    AND n_chars IS NOT NULL AND source IS NOT NULL),
         |ksrc AS (SELECT g, v, count(*) AS cr FROM ksr GROUP BY 1, 2),
         |kscc AS (SELECT g, v, count(*) AS ccur FROM ksc GROUP BY 1, 2),
         |ksgrid AS (SELECT coalesce(ksrc.g, kscc.g) AS g,
         |    coalesce(ksrc.v, kscc.v) AS v,
         |    coalesce(ksrc.cr, 0) AS cr, coalesce(kscc.ccur, 0) AS ccur
         |  FROM ksrc FULL OUTER JOIN kscc
         |    ON ksrc.g = kscc.g AND ksrc.v = kscc.v),
         |kscum AS (SELECT g, v,
         |    sum(cr) OVER (PARTITION BY g ORDER BY v
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumr,
         |    sum(ccur) OVER (PARTITION BY g ORDER BY v
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumc,
         |    sum(cr) OVER (PARTITION BY g) AS nr,
         |    sum(ccur) OVER (PARTITION BY g) AS nc
         |  FROM ksgrid),
         |ksstat AS (SELECT g AS source,
         |    CASE WHEN max(nr) > 0 AND max(nc) > 0 THEN
         |      round(CAST(max(abs(cumr * nc - cumc * nr)) AS DOUBLE)
         |        / CAST(max(nr) * max(nc) AS DOUBLE), 6)
         |    END AS ks
         |  FROM kscum GROUP BY g),
         |admd AS (SELECT source FROM ksstat WHERE ks <= 0.35)
         |SELECT d.doc_id, d.source, d.n_chars
         |FROM documents d JOIN pass USING (doc_id)
         |  JOIN admq USING (source) JOIN admd USING (source)
         |WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT
         |      / 4294967296.0 < 0.5""".stripMargin,

    // v8: rules → planner-banded pair mining on the ruled corpus →
    // deterministic 70% sample → pair graph restricted to survivors →
    // cluster-wholesale split (md5 of the CLUSTER id vs 0.2) → per-doc
    // cross-split audit, re-derived end to end.
    "curation_pipeline_v8" ->
      s"""WITH RECURSIVE $wordsCte,
         |rm AS (SELECT d.doc_id,
         |  CAST(len(ws) AS BIGINT) AS n_words,
         |  CAST(list_sum(list_transform(ws, x -> len(x))) AS DOUBLE)
         |    / len(ws) AS awl,
         |  CAST(len(list_filter(ws, x -> x IN ('the','a','of','and','in','to','is')))
         |    AS BIGINT) AS stop_hits,
         |  CAST(len(d.text) - len(regexp_replace(d.text, '[^a-z0-9 ]', '', 'g'))
         |    AS DOUBLE) / greatest(len(d.text), 1) AS sym
         |  FROM documents d JOIN words USING (doc_id)),
         |pass AS (SELECT doc_id FROM rm
         |  WHERE n_words >= 50 AND n_words <= 100000
         |    AND awl >= 3.0 AND awl <= 10.0
         |    AND stop_hits >= 2 AND sym <= 0.1),
         |rw AS (SELECT words.doc_id, ws FROM words JOIN pass USING (doc_id)),
         |sh AS (SELECT DISTINCT doc_id,
         |  unnest(list_transform(range(greatest(len(ws)-2, 0)),
         |    i -> ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3])) AS shingle
         |  FROM rw),
         |shf AS (SELECT doc_id, shingle FROM sh
         |  WHERE shingle NOT IN (SELECT shingle FROM sh GROUP BY shingle
         |    HAVING count(*) > 0.1 * (SELECT count(*) FROM pass))),
         |${plannedCandCtes("shf", 0.8)},
         |${interCte("shf")},
         |pairs AS (SELECT i.doc_a, i.doc_b FROM inter i
         |  JOIN sz x ON i.doc_a = x.doc_id JOIN sz y ON i.doc_b = y.doc_id
         |  JOIN cand c ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
         |  WHERE CAST(i.inter AS DOUBLE) / (x.sz + y.sz - i.inter) >= 0.8),
         |sampled AS (SELECT d.doc_id, d.source
         |  FROM documents d JOIN pass USING (doc_id)
         |  WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT
         |        / 4294967296.0 < 0.7),
         |sp AS (SELECT p.doc_a, p.doc_b FROM pairs p
         |  JOIN sampled a ON a.doc_id = p.doc_a
         |  JOIN sampled b ON b.doc_id = p.doc_b),
         |edges AS (SELECT doc_a AS src, doc_b AS dst FROM sp
         |  UNION SELECT doc_b, doc_a FROM sp),
         |reach(src, dst) AS (
         |  SELECT src, dst FROM edges
         |  UNION
         |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
         |cl AS (SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
         |  FROM reach GROUP BY src),
         |allc AS (SELECT s.doc_id, s.source,
         |    coalesce(cl.cluster_id, s.doc_id) AS cluster_id
         |  FROM sampled s LEFT JOIN cl USING (doc_id)),
         |spl AS (SELECT *, CASE WHEN
         |    ('0x' || substr(md5(CAST(cluster_id AS VARCHAR)), 1, 8))::BIGINT
         |      / 4294967296.0 < 0.2 THEN 'eval' ELSE 'train' END AS split
         |  FROM allc),
         |csz AS (SELECT cluster_id, count(*) AS csz FROM spl GROUP BY 1),
         |sides AS (SELECT doc_a AS doc_id, doc_b AS other FROM sp
         |  UNION ALL SELECT doc_b, doc_a FROM sp),
         |leak AS (SELECT s.doc_id, count(*) AS cross_split_dups FROM sides s
         |  JOIN spl me ON me.doc_id = s.doc_id
         |  JOIN spl o ON o.doc_id = s.other
         |  WHERE me.split <> o.split GROUP BY 1)
         |SELECT spl.doc_id, spl.source, spl.cluster_id,
         |  round(1.0 / csz.csz, 6) AS weight, spl.split,
         |  coalesce(leak.cross_split_dups, 0) AS cross_split_dups
         |FROM spl JOIN csz USING (cluster_id)
         |LEFT JOIN leak USING (doc_id)""".stripMargin,

    // v7 report: Wilson bound, BOTH drift statistics, v7 verdict.
    "corpus_admission_report_v7" ->
      s"""WITH wa AS (SELECT source, count(*) AS n,
         |    CAST(sum(CASE WHEN n_chars > 300 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS successes
         |  FROM documents GROUP BY 1),
         |wc AS (SELECT *, CAST(successes AS DOUBLE) / CAST(n AS DOUBLE) AS p,
         |    CAST(n AS DOUBLE) AS nd FROM wa),
         |wil AS (SELECT source, n AS n_docs,
         |  round((p + 3.8416 / (2.0 * nd)
         |    - 1.96 * sqrt(p * (1.0 - p) / nd + 3.8416 / (4.0 * nd * nd)))
         |    / (1.0 + 3.8416 / nd), 6) AS wilson_lo FROM wc),
         |refd AS (SELECT source, n_chars FROM documents WHERE doc_id % 3 = 0),
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
         |  FROM rs JOIN cs USING (source, bin)),
         |dr AS (SELECT source, round(sum(term), 6) AS psi FROM tm GROUP BY 1),
         |ksr AS (SELECT source AS g, CAST(n_chars AS DOUBLE) AS v
         |  FROM documents WHERE doc_id % 3 = 0
         |    AND n_chars IS NOT NULL AND source IS NOT NULL),
         |ksc AS (SELECT source AS g, CAST(n_chars AS DOUBLE) AS v
         |  FROM documents WHERE doc_id % 3 <> 0
         |    AND n_chars IS NOT NULL AND source IS NOT NULL),
         |ksrc AS (SELECT g, v, count(*) AS cr FROM ksr GROUP BY 1, 2),
         |kscc AS (SELECT g, v, count(*) AS ccur FROM ksc GROUP BY 1, 2),
         |ksgrid AS (SELECT coalesce(ksrc.g, kscc.g) AS g,
         |    coalesce(ksrc.v, kscc.v) AS v,
         |    coalesce(ksrc.cr, 0) AS cr, coalesce(kscc.ccur, 0) AS ccur
         |  FROM ksrc FULL OUTER JOIN kscc
         |    ON ksrc.g = kscc.g AND ksrc.v = kscc.v),
         |kscum AS (SELECT g, v,
         |    sum(cr) OVER (PARTITION BY g ORDER BY v
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumr,
         |    sum(ccur) OVER (PARTITION BY g ORDER BY v
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumc,
         |    sum(cr) OVER (PARTITION BY g) AS nr,
         |    sum(ccur) OVER (PARTITION BY g) AS nc
         |  FROM ksgrid),
         |ksstat AS (SELECT g AS source,
         |    CASE WHEN max(nr) > 0 AND max(nc) > 0 THEN
         |      round(CAST(max(abs(cumr * nc - cumc * nr)) AS DOUBLE)
         |        / CAST(max(nr) * max(nc) AS DOUBLE), 6)
         |    END AS ks
         |  FROM kscum GROUP BY g)
         |SELECT w.source, w.n_docs, w.wilson_lo, d.psi, k.ks,
         |  CAST(w.wilson_lo >= 0.25 AND k.ks <= 0.35 AS INTEGER) AS admitted
         |FROM wil w JOIN dr d ON w.source = d.source
         |JOIN ksstat k ON w.source = k.source""".stripMargin,

    "text_bm25_topk" ->
      s"""WITH $wordsCte,
         |stats AS (SELECT CAST(count(*) AS DOUBLE) AS nd,
         |  avg(len(ws)) AS avgdl FROM words),
         |hits AS (SELECT doc_id, CAST(len(ws) AS DOUBLE) AS dl,
         |  unnest(list_filter(ws, x -> x IN ('spark','join','query'))) AS term
         |  FROM words),
         |tf AS (SELECT doc_id, dl, term, CAST(count(*) AS DOUBLE) AS tf
         |  FROM hits GROUP BY 1, 2, 3),
         |dfq AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY 1),
         |s AS (SELECT tf.doc_id,
         |  ln(1.0 + (nd - df + 0.5) / (df + 0.5)) * tf * (1.2 + 1.0) /
         |    (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)) AS ts
         |  FROM tf JOIN dfq USING (term), stats)
         |SELECT doc_id, round(list_sum(list_sort(list(ts))), 6) AS bm25,
         |  count(*) AS n_terms_hit
         |FROM s GROUP BY doc_id
         |ORDER BY bm25 DESC, doc_id LIMIT 20""".stripMargin,

    // Token t is covered iff a hot-shingle start lies in [t-2, t]; kept
    // tokens reassemble in order.
    "text_boilerplate_strip" ->
      s"""WITH $wordsCte,
         |$shinglesCte,
         |hot AS (SELECT shingle FROM sh GROUP BY shingle
         |  HAVING count(*) > 0.004 * (SELECT count(DISTINCT doc_id) FROM documents)),
         |spos AS (SELECT doc_id, u.s AS start FROM (
         |  SELECT doc_id, unnest(list_transform(range(greatest(len(ws)-2, 0)),
         |    i -> struct_pack(s := i + 1,
         |      sh := ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3]))) AS u
         |  FROM words) WHERE u.sh IN (SELECT shingle FROM hot)),
         |starts AS (SELECT doc_id, list_sort(list(start)) AS starts
         |  FROM spos GROUP BY 1),
         |j AS (SELECT w.doc_id, w.ws, COALESCE(s.starts, []) AS starts
         |  FROM words w LEFT JOIN starts s USING (doc_id))
         |SELECT doc_id,
         |  -- COALESCE: DuckDB's array_to_string([]) is NULL; Spark's
         |  -- array_join of an empty array is '' (a fully-stripped doc).
         |  COALESCE(array_to_string(list_transform(list_filter(range(1, len(ws)+1),
         |    t -> len(list_filter(starts, s -> s >= t - 2 AND s <= t)) = 0),
         |    t -> ws[t]), ' '), '') AS text_clean,
         |  CAST(len(ws) AS BIGINT) AS n_tokens,
         |  CAST(len(list_filter(range(1, len(ws)+1),
         |    t -> len(list_filter(starts, s -> s >= t - 2 AND s <= t)) > 0))
         |    AS BIGINT) AS n_removed
         |FROM j""".stripMargin,

    // Hot set = shingles in > 0.4% of docs (distinct doc-shingle df);
    // the share counts ALL positions, not distinct shingles.
    "text_boilerplate_share" ->
      s"""WITH $wordsCte,
         |pos AS (SELECT doc_id, unnest(list_transform(range(greatest(len(ws)-2, 0)),
         |  i -> ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3])) AS shingle FROM words),
         |sh AS (SELECT DISTINCT doc_id, shingle FROM pos),
         |hot AS (SELECT shingle FROM sh GROUP BY shingle
         |  HAVING count(*) > 0.004 * (SELECT count(DISTINCT doc_id) FROM documents)),
         |b AS (SELECT doc_id, count(*) AS n_boiler FROM pos
         |  WHERE shingle IN (SELECT shingle FROM hot) GROUP BY 1),
         |n AS (SELECT doc_id, CAST(greatest(len(ws)-2, 0) AS BIGINT) AS n_shingles
         |  FROM words)
         |SELECT n.doc_id, n.n_shingles,
         |  CAST(COALESCE(b.n_boiler, 0) AS BIGINT) AS n_boiler,
         |  CASE WHEN n.n_shingles > 0
         |    THEN round(CAST(COALESCE(b.n_boiler, 0) AS DOUBLE) / n.n_shingles, 6)
         |    ELSE 0.0 END AS boiler_share
         |FROM n LEFT JOIN b USING (doc_id)""".stripMargin,

    // v3 composes the round-4 stage CTEs verbatim: the gopher rule cuts,
    // the boilerplate-share cut (sharing the distinct-shingle CTE with the
    // dedup chain), minhash near-dup victims, then the per-source
    // cumulative token budget over the SURVIVOR set.
    "curation_pipeline_v3" ->
      s"""WITH $wordsCte,
         |$shinglesCte,
         |$cappedCte,
         |${plannedCandCtes("shf", 0.8)},
         |${interCte("shf")},
         |victims AS (SELECT DISTINCT i.doc_b AS doc_id FROM inter i
         |  JOIN sz x ON i.doc_a = x.doc_id JOIN sz y ON i.doc_b = y.doc_id
         |  JOIN cand c ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
         |  WHERE CAST(i.inter AS DOUBLE) / (x.sz + y.sz - i.inter) >= 0.8),
         |m AS (SELECT d.doc_id,
         |  CAST(len(ws) AS BIGINT) AS n_words,
         |  CAST(list_sum(list_transform(ws, x -> len(x))) AS DOUBLE)
         |    / len(ws) AS awl,
         |  len(list_filter(ws, x -> x IN ('the','a','of','and','in','to','is')))
         |    AS stop_hits,
         |  CAST(len(d.text) - len(regexp_replace(d.text, '[^a-z0-9 ]', '', 'g'))
         |    AS DOUBLE) / greatest(len(d.text), 1) AS sym
         |  FROM documents d JOIN words USING (doc_id)),
         |rules AS (SELECT doc_id, n_words FROM m
         |  WHERE n_words >= 50 AND n_words <= 100000 AND awl >= 3.0
         |    AND awl <= 10.0 AND stop_hits >= 2 AND sym <= 0.1),
         |pos AS (SELECT doc_id, unnest(list_transform(range(greatest(len(ws)-2, 0)),
         |  i -> ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3])) AS shingle FROM words),
         |hot AS (SELECT shingle FROM sh GROUP BY shingle
         |  HAVING count(*) > 0.004 * (SELECT count(DISTINCT doc_id) FROM documents)),
         |nb AS (SELECT doc_id, count(*) AS n_boiler FROM pos
         |  WHERE shingle IN (SELECT shingle FROM hot) GROUP BY 1),
         |ns AS (SELECT doc_id, CAST(greatest(len(ws)-2, 0) AS BIGINT) AS n_shingles
         |  FROM words),
         |okboiler AS (SELECT ns.doc_id FROM ns LEFT JOIN nb USING (doc_id)
         |  WHERE ns.n_shingles = 0 OR
         |    round(CAST(COALESCE(nb.n_boiler, 0) AS DOUBLE) / ns.n_shingles, 6)
         |      <= 0.2),
         |kept AS (SELECT d.doc_id, d.source, d.n_chars, r.n_words,
         |  ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT
         |    / 4294967296.0 AS h
         |  FROM documents d JOIN rules r USING (doc_id)
         |  JOIN okboiler USING (doc_id)
         |  WHERE d.doc_id NOT IN (SELECT doc_id FROM victims)),
         |c AS (SELECT doc_id, source, n_chars, n_words,
         |  sum(n_chars) OVER (PARTITION BY source ORDER BY h, doc_id
         |    ROWS UNBOUNDED PRECEDING) AS cum FROM kept)
         |SELECT doc_id, source, n_chars, n_words FROM c
         |WHERE cum <= CASE source WHEN 'src0' THEN 20000
         |  WHEN 'src1' THEN 10000 ELSE 5000 END""".stripMargin,

    // Explicit (rank-1)/(n-1) over a unique ordering — engine-exact,
    // independent of percent_rank tie conventions.
    "quality_percentile" ->
      s"""WITH $wordsCte,
         |q AS (SELECT doc_id, round(least(1.0, len(ws) / 50.0) *
         |  (1.0 - CAST(len(list_filter(ws,
         |    x -> x IN ('the','a','of','and','in','to','is'))) AS DOUBLE) / len(ws)),
         |  6) AS q FROM words),
         |j AS (SELECT d.doc_id, d.source, q.q FROM documents d JOIN q USING (doc_id)),
         |r AS (SELECT doc_id, source, q,
         |  row_number() OVER (PARTITION BY source ORDER BY q, doc_id) AS rn,
         |  count(*) OVER (PARTITION BY source) AS n FROM j)
         |SELECT doc_id, source, q,
         |  CASE WHEN n > 1 THEN round(CAST(rn - 1 AS DOUBLE) / (n - 1), 6)
         |       ELSE 0.0 END AS pct_rank
         |FROM r""".stripMargin,

    "text_cdc_chunks" ->
      s"""WITH $wordsCte,
         |cut AS (SELECT doc_id, ws,
         |  list_sort(list_distinct(list_concat(list_concat([0],
         |    list_filter(range(1, len(ws)+1),
         |      i -> ('0x' || substr(md5(ws[i]), 1, 6))::BIGINT % 8 = 0)),
         |    [len(ws)]))) AS bounds
         |  FROM words)
         |SELECT doc_id, CAST(chunk_idx AS INTEGER) AS chunk_idx,
         |  CAST(len(string_split(chunk, ' ')) AS BIGINT) AS n_tokens,
         |  ('0x' || substr(md5(chunk), 1, 12))::BIGINT AS chunk_hash
         |FROM (SELECT doc_id,
         |  generate_subscripts(list_transform(range(1, len(bounds)),
         |    j -> array_to_string(ws[bounds[j]+1:bounds[j+1]], ' ')), 1) - 1
         |    AS chunk_idx,
         |  unnest(list_transform(range(1, len(bounds)),
         |    j -> array_to_string(ws[bounds[j]+1:bounds[j+1]], ' '))) AS chunk
         |  FROM cut)""".stripMargin,

    "dedup_cdc_shared" ->
      s"""WITH $wordsCte,
         |cut AS (SELECT doc_id, ws,
         |  list_sort(list_distinct(list_concat(list_concat([0],
         |    list_filter(range(1, len(ws)+1),
         |      i -> ('0x' || substr(md5(ws[i]), 1, 6))::BIGINT % 8 = 0)),
         |    [len(ws)]))) AS bounds
         |  FROM words),
         |ch AS (SELECT doc_id,
         |  unnest(list_transform(range(1, len(bounds)),
         |    j -> array_to_string(ws[bounds[j]+1:bounds[j+1]], ' '))) AS chunk
         |  FROM cut)
         |SELECT ('0x' || substr(md5(chunk), 1, 12))::BIGINT AS chunk_hash,
         |  count(DISTINCT doc_id) AS n_docs, count(*) AS n_occurrences,
         |  CAST(max(len(string_split(chunk, ' '))) AS BIGINT) AS n_tokens
         |FROM ch GROUP BY 1 HAVING count(DISTINCT doc_id) > 1""".stripMargin,

    // Bespoke CTE names (the shared interCte can only instantiate once):
    // truth = uncapped exact Jaccard; lsh mirrors nearDuplicates (capped
    // shingles, LSH candidates, capped sizes); simhash and CDC mirror
    // their standalone gates.
    "dedup_modality_eval" ->
      s"""WITH $wordsCte,
         |$shinglesCte,
         |$cappedCte,
         |${plannedCandCtes("shf", 0.5)},
         |tsz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
         |ti AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
         |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |truth AS MATERIALIZED (SELECT doc_a, doc_b FROM ti
         |  JOIN tsz x ON ti.doc_a = x.doc_id JOIN tsz y ON ti.doc_b = y.doc_id
         |  WHERE CAST(inter AS DOUBLE) / (x.sz + y.sz - inter) >= 0.5),
         |lsz AS (SELECT doc_id, count(*) AS sz FROM shf GROUP BY 1),
         |li AS (SELECT c.doc_a, c.doc_b, count(*) AS inter
         |  FROM cand c JOIN shf a ON a.doc_id = c.doc_a
         |  JOIN shf b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
         |  GROUP BY 1, 2),
         |lshp AS MATERIALIZED (SELECT l.doc_a, l.doc_b FROM li l
         |  JOIN lsz x ON l.doc_a = x.doc_id JOIN lsz y ON l.doc_b = y.doc_id
         |  WHERE CAST(inter AS DOUBLE) / (x.sz + y.sz - inter) >= 0.5),
         |tok AS (SELECT doc_id, unnest(ws) AS word FROM words),
         |hx AS (SELECT doc_id, ('0x' || substr(md5(word), 1, 4))::BIGINT AS h16 FROM tok),
         |bits AS (SELECT doc_id, b, sum(((h16 >> CAST(b AS INTEGER)) & 1) * 2 - 1) AS s
         |  FROM hx, (SELECT unnest(range(16)) AS b) bb GROUP BY doc_id, b),
         |simt AS (SELECT doc_id, CAST(sum(CASE WHEN s >= 0
         |  THEN CAST(power(2, b) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
         |  FROM bits GROUP BY doc_id),
         |simp AS MATERIALIZED (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM simt a JOIN simt b ON a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 2),
         |cut AS (SELECT doc_id, ws,
         |  list_sort(list_distinct(list_concat(list_concat([0],
         |    list_filter(range(1, len(ws)+1),
         |      i -> ('0x' || substr(md5(ws[i]), 1, 6))::BIGINT % 8 = 0)),
         |    [len(ws)]))) AS bounds
         |  FROM words),
         |chd AS (SELECT DISTINCT doc_id,
         |  ('0x' || substr(md5(chunk), 1, 12))::BIGINT AS h
         |  FROM (SELECT doc_id, unnest(list_transform(range(1, len(bounds)),
         |    j -> array_to_string(ws[bounds[j]+1:bounds[j+1]], ' '))) AS chunk
         |    FROM cut)),
         |cdcp AS MATERIALIZED (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM chd a JOIN chd b ON a.h = b.h AND a.doc_id < b.doc_id),
         |nt AS (SELECT count(*) AS n_truth FROM truth),
         |m AS (
         |  SELECT 'lsh_jaccard' AS modality,
         |    (SELECT count(*) FROM lshp) AS n_pred,
         |    (SELECT count(*) FROM lshp JOIN truth USING (doc_a, doc_b)) AS n_hits
         |  UNION ALL
         |  SELECT 'simhash',
         |    (SELECT count(*) FROM simp),
         |    (SELECT count(*) FROM simp JOIN truth USING (doc_a, doc_b))
         |  UNION ALL
         |  SELECT 'cdc_chunks',
         |    (SELECT count(*) FROM cdcp),
         |    (SELECT count(*) FROM cdcp JOIN truth USING (doc_a, doc_b)))
         |SELECT modality, n_pred, nt.n_truth, n_hits,
         |  COALESCE(round(CAST(n_hits AS DOUBLE) /
         |    nullif(CAST(n_pred AS DOUBLE), 0), 6), 0.0) AS precision,
         |  COALESCE(round(CAST(n_hits AS DOUBLE) /
         |    nullif(CAST(nt.n_truth AS DOUBLE), 0), 6), 0.0) AS recall
         |FROM m, nt""".stripMargin,

    // Corpus-side df cap (>10% of corpus docs), denominators from the
    // UNCAPPED shingle sets of both sides.
    "dedup_incremental" ->
      s"""WITH $wordsCte,
         |$shinglesCte,
         |szs AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
         |hotc AS (SELECT shingle FROM sh WHERE doc_id < 450 GROUP BY shingle
         |  HAVING count(*) > 0.1 *
         |    (SELECT count(DISTINCT doc_id) FROM documents WHERE doc_id < 450)),
         |i AS (SELECT a.doc_id AS new_id, b.doc_id AS corpus_id,
         |    count(*) AS inter
         |  FROM sh a JOIN sh b ON a.shingle = b.shingle
         |    AND a.doc_id >= 450 AND b.doc_id < 450
         |  WHERE a.shingle NOT IN (SELECT shingle FROM hotc)
         |  GROUP BY 1, 2)
         |SELECT new_id, corpus_id, inter,
         |  round(CAST(inter AS DOUBLE) / (x.sz + y.sz - inter), 6) AS jaccard
         |FROM i JOIN szs x ON i.new_id = x.doc_id
         |  JOIN szs y ON i.corpus_id = y.doc_id
         |WHERE CAST(inter AS DOUBLE) / (x.sz + y.sz - inter) >= 0.5""".stripMargin,

    // Signature-store incremental probe: per-perm chunked-md5 minima for
    // both halves, planner-banded (t=0.5 -> 8 bands x 2 rows) bucket
    // candidates, per-perm agreement count cut at >= 8 of 16.
    "dedup_incremental_lsh" ->
      s"""WITH $wordsCte,
         |$shinglesCte,
         |nsh AS (SELECT * FROM sh WHERE doc_id >= 450),
         |csh AS (SELECT * FROM sh WHERE doc_id < 450),
         |plan AS (SELECT CAST(b AS INTEGER) AS bands,
         |    CAST(16 / b AS INTEGER) AS rpb
         |  FROM (SELECT unnest(range(1, 17)) AS b) WHERE 16 % b = 0
         |  ORDER BY abs(power(1.0 / b, CAST(b AS DOUBLE) / 16) - 0.5),
         |    b DESC LIMIT 1),
         |nmh AS (SELECT doc_id, perm,
         |    min(substr(md5(CAST(perm // 4 AS VARCHAR) || ':' || shingle),
         |      CAST(1 + 8 * (perm % 4) AS INTEGER), 8)) AS mh
         |  FROM nsh, (SELECT unnest(range(16)) AS perm) p GROUP BY 1, 2),
         |cmh AS (SELECT doc_id, perm,
         |    min(substr(md5(CAST(perm // 4 AS VARCHAR) || ':' || shingle),
         |      CAST(1 + 8 * (perm % 4) AS INTEGER), 8)) AS mh
         |  FROM csh, (SELECT unnest(range(16)) AS perm) p GROUP BY 1, 2),
         |nsig AS (SELECT doc_id,
         |    CAST(floor(perm / (SELECT rpb FROM plan)) AS INTEGER) AS band,
         |    string_agg(mh, '' ORDER BY perm) AS bucket
         |  FROM nmh GROUP BY 1, 2),
         |csig AS (SELECT doc_id,
         |    CAST(floor(perm / (SELECT rpb FROM plan)) AS INTEGER) AS band,
         |    string_agg(mh, '' ORDER BY perm) AS bucket
         |  FROM cmh GROUP BY 1, 2),
         |cand AS (SELECT DISTINCT n.doc_id AS new_id, c.doc_id AS corpus_id
         |  FROM nsig n JOIN csig c ON n.band = c.band AND n.bucket = c.bucket
         |    AND n.doc_id <> c.doc_id),
         |agree AS (SELECT cand.new_id, cand.corpus_id,
         |    CAST(sum(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_match
         |  FROM cand JOIN nmh a ON a.doc_id = cand.new_id
         |  JOIN cmh b ON b.doc_id = cand.corpus_id AND b.perm = a.perm
         |  GROUP BY 1, 2)
         |SELECT new_id, corpus_id, n_match,
         |  round(CAST(n_match AS DOUBLE) / 16, 6) AS jaccard_est,
         |  (SELECT bands FROM plan) AS bands,
         |  (SELECT rpb FROM plan) AS rows_per_band
         |FROM agree WHERE n_match >= 8""".stripMargin,

    // Cumulative weight in deterministic hash order; the cum column only
    // gates the WHERE, so its engine-side type never reaches the compare.
    "curation_pipeline_v4" ->
      s"""WITH dirty AS (SELECT doc_id, source,
         |  CASE WHEN doc_id % 13 = 0 THEN '你好世界 机器 学习 模型 训练 数据'
         |       WHEN doc_id % 7 = 0 THEN $dirtyInjectSql
         |  ELSE text END AS text FROM documents),
         |s1 AS (SELECT doc_id, source,
         |  regexp_replace(text, '${TextAnalysis.CtrlClass}', '', 'g') AS t1
         |  FROM dirty),
         |cln AS (SELECT doc_id, source, trim(regexp_replace(
         |  regexp_replace(t1, '${TextAnalysis.ZeroWidthClass}', '', 'g'),
         |  '  +', ' ', 'g')) AS tc FROM s1),
         |sc AS (SELECT doc_id, CAST(length(tc) AS BIGINT) AS n,
         |  ${classCountSql("tc", TextAnalysis.LatinClass)} AS n_latin,
         |  ${classCountSql("tc", TextAnalysis.CyrillicClass)} AS n_cyrillic,
         |  ${classCountSql("tc", TextAnalysis.CjkClass)} AS n_cjk,
         |  ${classCountSql("tc", TextAnalysis.DigitClass)} AS n_digit
         |  FROM cln),
         |keep AS (SELECT cln.* FROM cln JOIN (
         |  SELECT doc_id FROM (SELECT doc_id, n_latin, n_cyrillic, n_cjk,
         |    n_digit, n - n_latin - n_cyrillic - n_cjk - n_digit AS n_other
         |    FROM sc)
         |  WHERE n_latin >= greatest(n_cyrillic, n_cjk, n_digit, n_other)) k
         |  USING (doc_id)),
         |words AS (SELECT doc_id, source, string_split(trim(tc), ' ') AS ws
         |  FROM keep),
         |${dsirCtes(dim = 256, targetTag = "src2")}
         |SELECT lw.doc_id, k.source, lw.logw
         |FROM lw JOIN keep k USING (doc_id)
         |ORDER BY lw.logw DESC, lw.doc_id LIMIT 50""".stripMargin,

    "curation_pipeline_v5" ->
      s"""WITH $wordsCte,
         |rm AS (SELECT d.doc_id,
         |  CAST(len(ws) AS BIGINT) AS n_words,
         |  CAST(list_sum(list_transform(ws, x -> len(x))) AS DOUBLE)
         |    / len(ws) AS awl,
         |  CAST(len(list_filter(ws, x -> x IN ('the','a','of','and','in','to','is')))
         |    AS BIGINT) AS stop_hits,
         |  CAST(len(d.text) - len(regexp_replace(d.text, '[^a-z0-9 ]', '', 'g'))
         |    AS DOUBLE) / greatest(len(d.text), 1) AS sym
         |  FROM documents d JOIN words USING (doc_id)),
         |keep AS (SELECT d.doc_id, d.source, d.lang, d.text
         |  FROM documents d JOIN rm USING (doc_id)
         |  WHERE rm.n_words >= 50 AND rm.n_words <= 100000
         |    AND rm.awl >= 3.0 AND rm.awl <= 10.0
         |    AND rm.stop_hits >= 2 AND rm.sym <= 0.1),
         |${nbLangidCtes("keep")},
         |en AS (SELECT doc_id, lang AS pred, score FROM nbp
         |  WHERE rn = 1 AND lang = 'en'),
         |scored AS (SELECT k.doc_id, k.source, k.lang, e.pred, e.score,
         |  md5(k.text) AS hh FROM keep k JOIN en e USING (doc_id)),
         |surv AS (SELECT hh, min(doc_id) AS doc_id FROM scored GROUP BY 1)
         |SELECT s.doc_id, s.source, s.lang, s.pred, s.score
         |FROM scored s JOIN surv USING (hh, doc_id)""".stripMargin,

    "curation_pipeline_v6" ->
      s"""WITH $wordsCte,
         |rm AS (SELECT d.doc_id,
         |  CAST(len(ws) AS BIGINT) AS n_words,
         |  CAST(list_sum(list_transform(ws, x -> len(x))) AS DOUBLE)
         |    / len(ws) AS awl,
         |  CAST(len(list_filter(ws, x -> x IN ('the','a','of','and','in','to','is')))
         |    AS BIGINT) AS stop_hits,
         |  CAST(len(d.text) - len(regexp_replace(d.text, '[^a-z0-9 ]', '', 'g'))
         |    AS DOUBLE) / greatest(len(d.text), 1) AS sym
         |  FROM documents d JOIN words USING (doc_id)),
         |pass AS (SELECT doc_id FROM rm
         |  WHERE n_words >= 50 AND n_words <= 100000
         |    AND awl >= 3.0 AND awl <= 10.0
         |    AND stop_hits >= 2 AND sym <= 0.1),
         |wa AS (SELECT source, count(*) AS n,
         |    CAST(sum(CASE WHEN n_chars > 300 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS successes
         |  FROM documents GROUP BY 1),
         |wc AS (SELECT *, CAST(successes AS DOUBLE) / CAST(n AS DOUBLE) AS p,
         |    CAST(n AS DOUBLE) AS nd FROM wa),
         |admq AS (SELECT source FROM wc WHERE
         |  round((p + 3.8416 / (2.0 * nd)
         |    - 1.96 * sqrt(p * (1.0 - p) / nd + 3.8416 / (4.0 * nd * nd)))
         |    / (1.0 + 3.8416 / nd), 6) >= 0.25),
         |refd AS (SELECT source, n_chars FROM documents WHERE doc_id % 3 = 0),
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
         |  FROM rs JOIN cs USING (source, bin)),
         |admd AS (SELECT source FROM tm GROUP BY 1
         |  HAVING round(sum(term), 6) <= 1.0)
         |SELECT d.doc_id, d.source, d.n_chars
         |FROM documents d JOIN pass USING (doc_id)
         |  JOIN admq USING (source) JOIN admd USING (source)
         |WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT
         |      / 4294967296.0 < 0.5""".stripMargin,

    "corpus_admission_report" ->
      """WITH wa AS (SELECT source, count(*) AS n,
        |    CAST(sum(CASE WHEN n_chars > 300 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS successes
        |  FROM documents GROUP BY 1),
        |wc AS (SELECT *, CAST(successes AS DOUBLE) / CAST(n AS DOUBLE) AS p,
        |    CAST(n AS DOUBLE) AS nd FROM wa),
        |wil AS (SELECT source, n AS n_docs,
        |  round((p + 3.8416 / (2.0 * nd)
        |    - 1.96 * sqrt(p * (1.0 - p) / nd + 3.8416 / (4.0 * nd * nd)))
        |    / (1.0 + 3.8416 / nd), 6) AS wilson_lo FROM wc),
        |refd AS (SELECT source, n_chars FROM documents WHERE doc_id % 3 = 0),
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
        |  FROM rs JOIN cs USING (source, bin)),
        |dr AS (SELECT source, round(sum(term), 6) AS psi FROM tm GROUP BY 1)
        |SELECT w.source, w.n_docs, w.wilson_lo, d.psi,
        |  CAST(w.wilson_lo >= 0.25 AND d.psi <= 1.0 AS INTEGER) AS admitted
        |FROM wil w JOIN dr d ON w.source = d.source""".stripMargin,

    "sample_token_budget" ->
      """WITH u AS (SELECT doc_id, source, n_chars,
        |  ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
        |    / 4294967296.0 AS h
        |  FROM documents),
        |c AS (SELECT doc_id, source, n_chars,
        |  sum(n_chars) OVER (PARTITION BY source ORDER BY h, doc_id
        |    ROWS UNBOUNDED PRECEDING) AS cum FROM u)
        |SELECT doc_id, source, n_chars FROM c
        |WHERE cum <= CASE source WHEN 'src0' THEN 20000
        |  WHEN 'src1' THEN 10000 ELSE 5000 END""".stripMargin
  )
}
