package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._

/** Text-analysis operators for training-data curation: token counting,
  * quality scoring, marker-based language ID, and document fingerprinting.
  * All single-pass, no joins; per-doc work is array-lambda expressions that
  * stay inside whole-stage codegen.
  */
object TextAnalysis {

  /** Whitespace token count plus a BPE-ish regex token count
    * (letter runs / digit runs / single punctuation marks).
    */
  def tokenCounts(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(
      col(idCol),
      size(words(col(textCol))).cast("long").as("n_tokens_ws"),
      regexp_count(col(textCol), lit("[a-z]+|[0-9]+|[^a-z0-9 ]")).cast("long")
        .as("n_tokens_re"))

  /** Tokenizer fertility per group: how many subword-ish tokens the
    * BPE-ish regex tokenizer spends per whitespace word (`fertility`) and
    * how many characters each token covers (`chars_per_token`) — the
    * standard multilingual-tokenizer-efficiency diagnostic (a language
    * with fertility ≫ 1 pays more sequence length per word, which skews
    * mixture budgets specified in tokens). One map-side projection + one
    * aggregation; per-doc ratios guard zero denominators explicitly
    * (token-less docs contribute nulls, which `avg` skips in any engine).
    */
  def tokenizerFertility(docs: DataFrame, idCol: String, textCol: String,
                         groupCol: String): DataFrame = {
    val tc = tokenCounts(docs, idCol, textCol)
      .join(docs.select(col(idCol), col(groupCol),
        length(col(textCol)).cast("long").as("__chars")), Seq(idCol))
    tc.select(col(groupCol),
        when(col("n_tokens_ws") > 0,
          col("n_tokens_re").cast("double") / col("n_tokens_ws")).as("__f"),
        when(col("n_tokens_re") > 0,
          col("__chars").cast("double") / col("n_tokens_re")).as("__cpt"))
      .groupBy(col(groupCol))
      .agg(round(avg(col("__f")), 6).as("fertility"),
        round(avg(col("__cpt")), 6).as("chars_per_token"),
        count(lit(1)).as("n_docs"))
  }

  /** Quality metrics: doc length, word count, mean word length, stopword
    * ratio, and a bounded composite score.
    */
  def quality(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val ws = words(col(textCol))
    docs.select(
      col(idCol),
      length(col(textCol)).cast("long").as("n_chars"),
      size(ws).cast("long").as("n_words"),
      (wordCharSum(ws).cast("double") / size(ws)).as("avg_word_len"),
      (stopwordCount(ws).cast("double") / size(ws)).as("stopword_ratio"))
      .withColumn("quality_score",
        least(lit(1.0), col("n_words") / lit(50.0)) * (lit(1.0) - col("stopword_ratio")))
  }

  /** [[quality]]'s composite score as a single COLUMN over the text —
    * for composites that consume the score as one more map-side signal:
    * a per-doc score is a projection, and joining a 1:1 self-derived
    * frame back onto the corpus pays a full-corpus shuffle for values
    * the scan row already holds (round-10 lesson: that join was the gap
    * between `curation_pipeline_v2` and the sum of its parts).
    * Expression-identical to `quality().quality_score`.
    */
  def qualityScoreCol(t: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val ws = words(t)
    least(lit(1.0), size(ws).cast("long") / lit(50.0)) *
      (lit(1.0) - stopwordCount(ws).cast("double") / size(ws))
  }

  /** Marker-word language ID with deterministic priority tie-breaking.
    * `markers` maps language → marker words; priority = insertion order.
    */
  val DefaultMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "is"),
    "es" -> Seq("el", "la", "de", "que", "y"),
    "fr" -> Seq("le", "les", "de", "et", "un"),
    "de" -> Seq("der", "die", "und", "das", "ist"))

  def langId(docs: DataFrame, idCol: String, textCol: String,
             markers: Seq[(String, Seq[String])] = DefaultMarkers): DataFrame = {
    val langs = markers.map(_._1)
    val scores = langs.map(l => col(s"score_$l"))
    docs.select(col(idCol), words(col(textCol)).as("__ws"))
      .select(col(idCol) +: langScores(col("__ws"), markers).zip(langs).map {
        case (c, l) => c.as(s"score_$l") }: _*)
      .select(col(idCol) +: scores :+
        predictedLang(scores, langs).as("predicted_lang"): _*)
  }

  /** [[langId]]'s `predicted_lang` as one column over the text — for
    * composites that only filter on the language: the row already holds
    * the text, where joining the langId frame back on the id re-read the
    * corpus and shuffled it for one value per row.
    */
  def langIdCol(t: Column,
                markers: Seq[(String, Seq[String])] = DefaultMarkers): Column =
    predictedLang(langScores(words(t), markers), markers.map(_._1))

  /** Per language, in `markers` order, the count of its marker words. */
  private def langScores(ws: Column,
                         markers: Seq[(String, Seq[String])]): Seq[Column] =
    markers.map { case (_, mks) =>
      size(filter(ws, w => w.isin(mks: _*))).cast("long") }

  /** The first language (in priority order) achieving the max score;
    * 'und' when no marker hit at all. */
  private def predictedLang(scores: Seq[Column], langs: Seq[String]): Column = {
    val best = scores.reduce((a, b) => greatest(a, b))
    scores.zip(langs).foldRight(lit("und")) { case ((s, l), rest) =>
      when(s === best && best > 0, lit(l)).otherwise(rest)
    }
  }

  /** Corpus-level top-k n-grams (frequency profile — the standard first
    * look at a training corpus). One explode + one hash-agg + distributed
    * top-k: `orderBy().limit(k)` plans as TakeOrderedAndProject (per-
    * partition heaps + merge), so billions of distinct n-grams never pass
    * through a single reducer. Only the k surviving rows see the rank
    * window — a k-row exchange, not a corpus-wide one.
    */
  def topNgrams(docs: DataFrame, textCol: String, n: Int, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val topK = Fan.out(docs)
      .select(explode(wordShingles(words(col(textCol)), n)).as("ngram"))
      .groupBy(col("ngram")).agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("ngram"))
      .limit(k)
    topK.withColumn("rank",
      row_number().over(Window.orderBy(col("freq").desc, col("ngram"))))
  }

  /** Unigram language-model scoring: p(w) from corpus counts; each doc gets
    * mean negative log-probability (lower = more typical). Two passes:
    * token explode → vocabulary counts → shuffle equi-join back on the
    * token. The vocab side is deliberately NOT hint-broadcast: at corpus
    * scale the vocabulary is 10⁸–10⁹ distinct tokens — an unbounded
    * broadcast would kill the driver. AQE broadcasts it at runtime when it
    * actually fits; the 1-row grand total IS broadcast. For a bounded
    * lookup side use [[unigramLogProbTopV]].
    */
  def unigramLogProb(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tokens = docs.select(col(idCol), explode(words(col(textCol))).as("w"))
    val vocab = tokens.groupBy(col("w")).agg(count(lit(1)).as("cnt"))
    val total = vocab.agg(sum(col("cnt")).as("total"))
    tokens
      .join(vocab, Seq("w"))
      .crossJoin(broadcast(total))
      .select(col(idCol),
        (-log(col("cnt").cast("double") / col("total"))).as("__nll"))
      .groupBy(col(idCol))
      .agg(avg(col("__nll")).as("mean_nll"), count(lit(1)).as("n_tokens"))
  }

  /** Bounded-vocabulary unigram LM: only the top-`v` tokens by corpus
    * frequency (ties broken lexicographically) carry their true counts;
    * every out-of-vocabulary token scores with pseudo-count 1 — the
    * standard OOV floor. The vocab side is now ≤ v rows BY CONSTRUCTION
    * (a distributed TakeOrderedAndProject picks it), so broadcasting it is
    * safe at any corpus size.
    */
  def unigramLogProbTopV(docs: DataFrame, idCol: String, textCol: String,
                         v: Int): DataFrame = {
    val tokens = docs.select(col(idCol), explode(words(col(textCol))).as("w"))
    val all = tokens.groupBy(col("w")).agg(count(lit(1)).as("cnt"))
    val vocab = all.orderBy(col("cnt").desc, col("w")).limit(v)
    val total = all.agg(sum(col("cnt")).as("total"))
    tokens
      .join(broadcast(vocab), Seq("w"), "left")
      .crossJoin(broadcast(total))
      .select(col(idCol),
        (-log(coalesce(col("cnt"), lit(1L)).cast("double") / col("total")))
          .as("__nll"))
      .groupBy(col(idCol))
      .agg(avg(col("__nll")).as("mean_nll"), count(lit(1)).as("n_tokens"))
  }

  /** Overlapping TOKEN windows per document — the context-chunking prep
    * for retrieval/embedding pipelines (fixed token budget per chunk,
    * `windowTokens − strideTokens` tokens of overlap preserve context
    * across cuts). Pure per-row array ops (split/slice/join under one
    * explode), no shuffle; empty docs yield one empty chunk so every doc
    * survives into the chunk table (same convention as
    * [[Multimodal.chunk]]).
    */
  def tokenWindows(docs: DataFrame, idCol: String, textCol: String,
                   windowTokens: Int, strideTokens: Int): DataFrame = {
    require(strideTokens > 0 && strideTokens <= windowTokens,
      "stride must be in (0, windowTokens]")
    val ws = words(col(textCol))
    docs
      .withColumn("__n", size(ws))
      .withColumn("win_start",
        explode(sequence(lit(0), greatest(col("__n") - 1, lit(0)),
          lit(strideTokens))))
      .withColumn("win_idx", (col("win_start") / strideTokens).cast("int"))
      .withColumn("win_text",
        array_join(slice(ws, col("win_start") + 1, lit(windowTokens)), " "))
      .withColumn("win_tokens",
        least(lit(windowTokens), col("__n") - col("win_start")))
      .select(col(idCol), col("win_idx"), col("win_start"),
        greatest(col("win_tokens"), lit(0)).as("win_tokens"), col("win_text"))
  }

  /** n-gram novelty: the fraction of a document's distinct n-grams whose
    * FIRST corpus occurrence (minimum doc id) is this document — high for
    * original content, near zero for documents assembled from text already
    * in the corpus. The "is this doc adding anything" curation signal that
    * pairwise dedup (which needs a concentrated counterpart doc) misses.
    *
    * Two exchanges, no pair joins: first-occurrence is one min-aggregation
    * keyed by n-gram, joined back on the n-gram (vocabulary-sized — NOT
    * broadcast, same reasoning as [[unigramLogProb]]). Documents with
    * fewer than `n` tokens have no n-grams and are absent from the output.
    */
  def novelty(docs: DataFrame, idCol: String, textCol: String,
              n: Int = 3): DataFrame = {
    val sh = OpCaches.scoped(Dedup.shingleSets(docs, idCol, textCol, n, None))
    val first = sh.groupBy(col("shingle")).agg(min(col(idCol)).as("__first"))
    sh.join(first, Seq("shingle"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_ngrams"),
        sum((col(idCol) === col("__first")).cast("long")).as("n_novel"))
      .withColumn("novelty",
        round(col("n_novel").cast("double") / col("n_ngrams"), 6))
  }

  /** Exact corpus heavy hitters: tokens whose frequency share exceeds
    * `minShare` — support-THRESHOLD semantics, complementing [[topNgrams]]'
    * top-k. This is the measurement feeding the engine's hot-key guards:
    * the df caps in [[Dedup.nearDuplicates]]/[[Dedup.containmentPairs]] and
    * the salting in [[Skew]] assume someone knows which keys are hot.
    * One count aggregation + a broadcast 1-row total; the filter keeps the
    * result bounded by 1/minShare rows regardless of corpus size.
    */
  def heavyHitters(docs: DataFrame, textCol: String,
                   minShare: Double): DataFrame = {
    val counts = docs.select(explode(words(col(textCol))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("freq"))
    val total = counts.agg(sum(col("freq")).as("__total"))
    counts.crossJoin(broadcast(total))
      .filter(col("freq").cast("double") / col("__total") > minShare)
      .select(col("token"), col("freq"),
        round(col("freq").cast("double") / col("__total"), 6).as("share"))
  }

  /** Per-document character-level Shannon entropy — the compressibility
    * quality signal (low entropy ⇒ repetitive/templated junk; the
    * cheap stand-in for the classic gzip-ratio filter, with no codec
    * dependency). Entirely MAP-SIDE: per-char counts come from array
    * lambdas over the row's own text, no explode, no shuffle.
    *
    * Numerics: H = ln(L) − (Σ n_c·ln n_c)/L with INTEGER counts inside
    * the logs, and the Σ folds over VALUE-SORTED terms (the house
    * cross-engine double-sum discipline); ties in term values are exact
    * duplicates, so the fold order is fully determined. Empty text ⇒
    * null (an entropy of nothing is undefined, and engines disagree on
    * splitting the empty string).
    */
  def charEntropy(docs: DataFrame, idCol: String,
                  textCol: String): DataFrame = {
    val chars = split(col(textCol), "")
    val counts = transform(array_sort(array_distinct(chars)),
      c => size(filter(chars, x => x === c)).cast("double"))
    val terms = array_sort(transform(counts, n => n * log(n)))
    val sterm = aggregate(terms, lit(0.0), (acc, t) => acc + t)
    val len = length(col(textCol)).cast("double")
    docs.select(col(idCol),
      length(col(textCol)).cast("long").as("n_chars"),
      when(length(col(textCol)) > 0, size(array_distinct(chars)).cast("long"))
        .as("n_distinct_chars"),
      when(length(col(textCol)) > 0,
        round(log(len) - sterm / len, 6)).as("char_entropy"))
  }

  /** Vocabulary coverage curve: for each requested vocabulary size V,
    * the fraction of ALL corpus token occurrences covered by the top-V
    * tokens (frequency desc, token asc ties) — the tokenizer-budget
    * analysis ("how big must the vocab be before OOV mass is
    * negligible"). Sizes clamp to the actual vocabulary (the
    * [[Stats.exactPercentiles]] clamp discipline), so an oversized V
    * reports the full-vocabulary row rather than vanishing.
    *
    * Scale shape: the curve is computed on the VOCABULARY frame (one
    * hash-agg of the exploded corpus), never per token occurrence; rank
    * and the inclusive cumulative mass ride TWO range-partitioned
    * prefix passes ([[Stats.withRangeRank]]/[[Stats.withRangeCumSum]] —
    * no single-partition sort, integer arithmetic end to end); the
    * requested sizes join the |sizes|-row target frame by rank.
    */
  def vocabCoverage(docs: DataFrame, textCol: String,
                    vocabSizes: Seq[Int]): DataFrame = {
    require(vocabSizes.nonEmpty && vocabSizes.forall(_ > 0),
      "vocabulary sizes must be positive")
    val counts = docs.select(explode(words(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("__cnt"))
    val order = Seq(col("__cnt").desc, col("w").asc)
    val ranked = Stats.withRangeCumSum(
      Stats.withRangeRank(counts, order, "__r"), order, col("__cnt"), "__cum0")
    val spark = docs.sparkSession
    import spark.implicits._
    val targets = vocabSizes.distinct.sorted.toDF("vocab_size")
    ranked
      .crossJoin(broadcast(targets))
      .filter(col("__r") === least(col("vocab_size").cast("long"), col("__n")))
      .select(col("vocab_size"),
        col("__r").as("n_terms"),
        (col("__cum0") + col("__cnt")).as("covered_tokens"))
      .transform { cov =>
        val total = counts.agg(sum(col("__cnt")).as("total_tokens"))
        cov.crossJoin(broadcast(total))
          .select(col("vocab_size"), col("n_terms"), col("covered_tokens"),
            col("total_tokens"),
            round(col("covered_tokens").cast("double") /
              col("total_tokens").cast("double"), 6).as("coverage"))
      }
  }

  /** Per-group unigram drift: KL(P_group ‖ P_corpus) over the corpus
    * top-`v` vocabulary — the dataset-mixture drift monitor ("has src2's
    * language shifted away from the corpus?"). Both distributions are
    * RESTRICTED to the top-V vocab (so the lookup side is bounded and
    * broadcastable by construction, like [[unigramLogProbTopV]]), and the
    * KL sum folds over the SORTED per-term contributions (collect_list →
    * array_sort → sequential aggregate) so the few-hundred-term double sum
    * is order-identical across engines.
    */
  def sourceDivergence(docs: DataFrame, textCol: String, groupCol: String,
                       v: Int): DataFrame = {
    val tokens = docs.select(col(groupCol), explode(words(col(textCol))).as("w"))
    val all = tokens.groupBy(col("w")).agg(count(lit(1)).as("cnt"))
    val vocab = all.orderBy(col("cnt").desc, col("w")).limit(v)
    val vocabTotal = vocab.agg(sum(col("cnt")).as("__ctot"))
    val g = tokens.join(broadcast(vocab.select(col("w"))), Seq("w"), "left_semi")
      .groupBy(col(groupCol), col("w")).agg(count(lit(1)).as("gcnt"))
    val gTotal = g.groupBy(col(groupCol)).agg(sum(col("gcnt")).as("__gtot"))
    val pg = col("gcnt").cast("double") / col("__gtot").cast("double")
    val pc = col("cnt").cast("double") / col("__ctot").cast("double")
    g.join(broadcast(vocab), Seq("w"))
      .join(gTotal, Seq(groupCol))
      .crossJoin(broadcast(vocabTotal))
      .select(col(groupCol), (pg * log(pg / pc)).as("__term"))
      .groupBy(col(groupCol))
      .agg(round(aggregate(array_sort(collect_list(col("__term"))),
          lit(0.0), (acc, x) => acc + x), 6).as("kl"),
        count(lit(1)).as("n_terms"))
  }

  /** Pairwise Jensen–Shannon divergence between the groups' unigram
    * distributions over the corpus top-`v` vocabulary — the symmetric,
    * bounded (≤ ln 2) mixture-design distance matrix ("which sources are
    * interchangeable, which add diversity"), where [[sourceDivergence]]'s
    * KL only measures each group against the corpus.
    *
    * Same bounded-vocab discipline: per-group distributions restrict to
    * the top-V terms; the (pair × term) spine is |groups|²·V rows — a
    * report dimension, never corpus-sized. Absent terms contribute only
    * through the present side (0·ln 0 ≡ 0); each pair's sum folds over
    * SORTED per-term contributions.
    */
  def sourceJsDivergence(docs: DataFrame, textCol: String, groupCol: String,
                         v: Int): DataFrame = {
    val tokens = docs.select(col(groupCol), explode(words(col(textCol))).as("w"))
    val vocab = tokens.groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("w")).limit(v).select(col("w"))
    val g = tokens.join(broadcast(vocab), Seq("w"), "left_semi")
      .groupBy(col(groupCol), col("w")).agg(count(lit(1)).as("__gcnt"))
    val gTotal = g.groupBy(col(groupCol)).agg(sum(col("__gcnt")).as("__gtot"))
    val dist = g.join(gTotal, Seq(groupCol))
      .select(col(groupCol),
        col("w"), (col("__gcnt").cast("double") / col("__gtot").cast("double"))
          .as("__p"))
    val groups = gTotal.select(col(groupCol))
    val spine = groups.select(col(groupCol).as("source_a"))
      .crossJoin(broadcast(groups.select(col(groupCol).as("source_b"))))
      .filter(col("source_a") < col("source_b"))
      .crossJoin(broadcast(vocab))
    val terms = spine
      .join(dist.select(col(groupCol).as("source_a"), col("w"),
        col("__p").as("__pa")), Seq("source_a", "w"), "left")
      .join(dist.select(col(groupCol).as("source_b"), col("w"),
        col("__p").as("__pb")), Seq("source_b", "w"), "left")
      .select(col("source_a"), col("source_b"),
        coalesce(col("__pa"), lit(0.0)).as("__pa"),
        coalesce(col("__pb"), lit(0.0)).as("__pb"))
      .filter(col("__pa") > 0.0 || col("__pb") > 0.0)
      .withColumn("__m", (col("__pa") + col("__pb")) / 2.0)
      .withColumn("__term",
        coalesce(when(col("__pa") > 0.0,
          lit(0.5) * col("__pa") * log(col("__pa") / col("__m"))), lit(0.0)) +
        coalesce(when(col("__pb") > 0.0,
          lit(0.5) * col("__pb") * log(col("__pb") / col("__m"))), lit(0.0)))
    terms.groupBy(col("source_a"), col("source_b"))
      .agg(round(aggregate(array_sort(collect_list(col("__term"))),
          lit(0.0), (acc, x) => acc + x), 6).as("js"),
        count(lit(1)).as("n_terms"))
  }

  /** BPE merge-pair mining — the first iteration of byte-pair-encoding
    * tokenizer training: corpus-wide counts of adjacent CHARACTER pairs
    * within words, ranked; the top pair is the first merge a BPE trainer
    * would learn. Token multiplicity counts (standard BPE statistics).
    * Same distributed-top-k shape as [[topNgrams]] (explode → hash-agg →
    * `TakeOrderedAndProject`), so the full pair distribution never flows
    * through one reducer. Subsequent merge iterations re-run this over a
    * re-segmented corpus; the per-iteration shape is identical.
    */
  def bpePairCounts(docs: DataFrame, textCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = col("w")
    // Adjacent char pairs per word; same descending-sequence guard as
    // wordShingles (Spark's sequence(1, 0) DESCENDS).
    val pairs = when(length(w) >= 2,
      transform(sequence(lit(1), length(w) - 1), i => w.substr(i, lit(2))))
      .otherwise(array().cast("array<string>"))
    val topK = docs.select(explode(words(col(textCol))).as("w"))
      .select(explode(pairs).as("pair"))
      .groupBy(col("pair")).agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("pair"))
      .limit(k)
    topK.withColumn("rank",
      row_number().over(Window.orderBy(col("freq").desc, col("pair"))))
  }

  /** Apply a learned BPE merge list to the corpus
    * ([[graft.functions.BpeFunctions.BpeEncode]]) — the inference half of
    * the tokenizer lifecycle whose training statistics come from
    * [[bpePairCounts]]. Map-side only (the merge table is a plan-time
    * artifact); reports the token count plus the first 32 tokens, the
    * audit slice a tokenization-health dashboard shows.
    */
  def bpeTokens(docs: DataFrame, idCol: String, textCol: String,
                merges: Seq[(String, String)]): DataFrame =
    docs.select(col(idCol),
        graft.functions.BpeFunctions.bpeEncode(col(textCol), merges).as("__t"))
      .select(col(idCol),
        size(col("__t")).cast("long").as("n_tokens"),
        concat_ws(" ", slice(col("__t"), 1, 32)).as("tokens_head"))

  /** Compression-ratio quality signal: deflate(text)/raw bytes — low
    * ratios flag repetitive/templated/generated text that token-level
    * heuristics miss (long-range repetition). Per-row projection via the
    * native [[graft.functions.CompressionFunctions.DeflateSize]]
    * expression; no shuffle. Rows-only gate (no DuckDB deflate surface);
    * semantics are spec-asserted.
    */
  def compressionRatio(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    import graft.functions.CompressionFunctions.deflateSize
    val raw = octet_length(col(textCol)).cast("long")
    docs.select(col(idCol), raw.as("n_bytes"),
      deflateSize(col(textCol)).cast("long").as("deflate_bytes"))
      .withColumn("compress_ratio",
        when(col("n_bytes") > 0,
          round(col("deflate_bytes").cast("double") / col("n_bytes"), 6))
          .otherwise(lit(1.0)))
  }

  /** Bigram LM score with STUPID BACKOFF — the next step up from the
    * unigram quality signal: each transition scores
    * −ln(c(w1,w2)/c(w1)) when the bigram clears `minCount`, else backs
    * off to −ln(α·c(w2)/total) (Brants et al.'s stupid backoff — no
    * discounting, the large-corpus standard). `n_backoff` counts
    * out-of-model transitions per doc (its own templated-text signal).
    *
    * Scale: bigram and unigram count sides are vocabulary-sized, so they
    * are NOT hint-broadcast (same reasoning as [[unigramLogProb]]) — three
    * token-keyed shuffle joins that AQE may broadcast when they fit; only
    * the 1-row total broadcasts unconditionally. Min-count pruning drops
    * the singleton-bigram long tail before the join.
    */
  def bigramLogProb(docs: DataFrame, idCol: String, textCol: String,
                    minCount: Long = 2, backoffAlpha: Double = 0.4): DataFrame = {
    // r16 opt: fan the single-file doc scan out before the two explodes
    // (Fan.out scaladoc); counts are integer and the per-doc mean folds a
    // SORTED list, so partial order is immaterial. The transitions frame
    // is scope-cached: it feeds the bigram counts AND the scoring join,
    // and uncached the tokenize+explode ran twice.
    val fanned = Fan.out(docs)
    val trans = OpCaches.scoped(fanned.select(col(idCol),
      explode(wordShingles(words(col(textCol)), 2)).as("bg")))
    val bCnt = trans.groupBy(col("bg")).agg(count(lit(1)).as("cb"))
      .filter(col("cb") >= minCount)
    val tokens = fanned.select(col(idCol), explode(words(col(textCol))).as("w"))
    val uCnt = tokens.groupBy(col("w")).agg(count(lit(1)).as("cu"))
    val total = uCnt.agg(sum(col("cu")).as("total"))
    trans
      .withColumn("w1", substring_index(col("bg"), " ", 1))
      .withColumn("w2", substring_index(col("bg"), " ", -1))
      .join(bCnt, Seq("bg"), "left")
      .join(uCnt.select(col("w").as("w1"), col("cu").as("cu1")), Seq("w1"))
      .join(uCnt.select(col("w").as("w2"), col("cu").as("cu2")), Seq("w2"))
      .crossJoin(broadcast(total))
      .select(col(idCol),
        when(col("cb").isNotNull,
          -log(col("cb").cast("double") / col("cu1")))
          .otherwise(
            -log(lit(backoffAlpha) * col("cu2").cast("double") / col("total")))
          .as("__nll"),
        col("cb").isNull.cast("int").as("__bo"))
      .groupBy(col(idCol))
      // Order-stable mean: fold the SORTED per-transition nll list, not a
      // float avg() whose partial-aggregation order differs from a
      // sequential oracle sum (the exact last-ulp-on-a-rounding-boundary
      // mode that broke corpus_report_by_source).
      .agg(sort_array(collect_list(col("__nll"))).as("__nlls"),
        sum(col("__bo")).cast("long").as("n_backoff"))
      .select(col(idCol),
        (aggregate(col("__nlls"), lit(0.0), (acc, e) => acc + e) /
          size(col("__nlls"))).as("mean_nll"),
        size(col("__nlls")).cast("long").as("n_transitions"),
        col("n_backoff"))
  }

  /** Token-budget truncation — cap every document at `maxTokens`
    * whitespace tokens (context-window prep). Pure per-row array ops
    * (split/slice/join), fully codegen'd, no shuffle; the `truncated` flag
    * feeds loss accounting downstream.
    */
  def truncateTokens(docs: DataFrame, idCol: String, textCol: String,
                     maxTokens: Int): DataFrame = {
    val ws = words(col(textCol))
    docs.select(col(idCol),
      array_join(slice(ws, 1, maxTokens), " ").as("text_trunc"),
      least(size(ws), lit(maxTokens)).cast("long").as("n_tokens_kept"),
      (size(ws) > maxTokens).cast("int").as("truncated"))
  }

  /** Within-document repetition ratio — the standard low-quality signal
    * for templated/generated text: 1 − distinct/total n-gram shingles.
    * Pure per-row array expressions; no shuffle at all.
    */
  def repetitionRatio(docs: DataFrame, idCol: String, textCol: String,
                      n: Int = 3): DataFrame = {
    val sh = wordShingles(words(col(textCol)), n)
    docs.select(col(idCol),
      size(sh).cast("long").as("n_shingles"),
      size(array_distinct(sh)).cast("long").as("n_distinct"))
      .withColumn("rep_ratio",
        when(col("n_shingles") > 0,
          lit(1.0) - col("n_distinct").cast("double") / col("n_shingles"))
          .otherwise(lit(0.0)))
  }

  /** Benchmark decontamination probe: for each training document, the
    * number of distinct n-gram shingles it shares with the benchmark
    * corpus. At 100 TB the training side streams while the benchmark
    * shingle set (small by definition — eval sets are thousands of docs)
    * broadcasts, so this is one map-side semi-join + partial-agg count;
    * filter `n_hits >= threshold` downstream to drop contaminated docs.
    */
  def contamination(train: DataFrame, bench: DataFrame, idCol: String,
                    textCol: String, n: Int = 3): DataFrame = {
    val trainSh = Dedup.shingleSets(train, idCol, textCol, n)
    val benchSh = Dedup.shingleSets(bench, idCol, textCol, n)
      .select(col("shingle")).distinct()
    trainSh.join(broadcast(benchSh), Seq("shingle"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_hits"))
  }

  /** [[contamination]] when train and benchmark live in ONE table split by
    * a tag column: the corpus is tokenized/shingled ONCE and split by tag,
    * instead of two full scans — the shape to prefer when the benchmark is
    * a partition of the same store.
    *
    * Scale shape: the benchmark shingle set is NOT broadcast to the exact
    * join. Instead a fixed-size Bloom filter (capped at 16 MiB regardless
    * of benchmark size) is fitted over it and applied as a MAP-SIDE
    * prefilter on the training side, so only probable hits reach the
    * equi-join; the join itself is left to AQE, which broadcasts the
    * benchmark side only when it actually fits. The filter has no false
    * negatives and the exact join removes false positives, so results are
    * identical to the direct join at any fpp.
    */
  def contaminationTagged(docs: DataFrame, idCol: String, textCol: String,
                          tagCol: String, benchTag: String,
                          n: Int = 3, bloomPrefilter: Boolean = true): DataFrame = {
    import graft.functions.TextFunctions._
    // r16 opt: fan the single-file doc scan out before the shingle
    // explode (Fan.out scaladoc) — this map stage ran as ONE 5.9 s task
    // at sf0.1; downstream is count aggregation, order-immaterial.
    val sh = Fan.out(docs).select(col(tagCol), col(idCol),
      explode(array_distinct(wordShingles(words(col(textCol)), n))).as("shingle"))
    // Cached: read by the Bloom fit (an action) and again by the exact join.
    val benchSh = OpCaches.scoped(sh.filter(col(tagCol) === benchTag)
      .select(col("shingle")).distinct())
    val train = sh.filter(col(tagCol) =!= benchTag)
    val probed =
      if (!bloomPrefilter) train
      else {
        // Size the filter from the actual distinct-shingle count (a cheap
        // action on the cached frame): ~16 bits/item ⇒ fpp ≈ 0.5%. An
        // oversized filter is NOT free — every partial aggregate allocates
        // and ships the full bitset, so a fixed "safe" 8 MiB filter costs
        // 32×8 MiB of merge traffic even for a 100k-shingle suite
        // (measured 2× slower than sizing from the count). Caps mirror
        // BloomFilterAggregate's checkInputDataTypes limits (numBits ≤
        // spark.sql.optimizer.runtime.bloomFilter.maxNumBits = 2^26,
        // items ≤ maxNumItems = 4M by default) — exceeding either is an
        // analysis-time IllegalArgumentException, not graceful
        // degradation. Past ~4M shingles fpp degrades instead — still a
        // prefilter, never a correctness input.
        val expected = math.min(math.max(benchSh.count(), 1L), 4000000L)
        val bits = math.min(math.max(expected * 16L, 1024L), 1L << 26)
        val bf = Sketches.bloomFit(benchSh, "shingle", expected, bits)
        train.filter(Sketches.mightContain(bf, col("shingle")))
      }
    probed.join(benchSh, Seq("shingle"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_hits"))
  }

  /** PII scrubbing: mask e-mail addresses (the pattern is RE2-safe, so the
    * same regex runs in any engine). Returns the cleaned text plus the
    * match count for audit aggregation. Single-pass, codegen'd.
    */
  val EmailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"

  def scrubPii(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol),
      regexp_replace(col(textCol), EmailRe, "<EMAIL>").as("text_clean"),
      regexp_count(col(textCol), lit(EmailRe)).cast("long").as("n_masked"))

  /** Per-document top-k terms by TF-IDF — the classic keyword profile.
    * The document-frequency side is vocabulary-sized, so it is NOT
    * hint-broadcast (same reasoning as [[unigramLogProb]]): a shuffle
    * equi-join on the token that AQE may broadcast when it actually fits.
    * Ranking uses the ROUNDED score with a term tie-break so top-k is
    * deterministic and portable.
    */
  def tfidfTopTerms(docs: DataFrame, idCol: String, textCol: String,
                    k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tokens = Fan.out(docs)
      .select(col(idCol), explode(words(col(textCol))).as("term"))
    val tf = tokens.groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val dfreq = tokens.distinct().groupBy(col("term")).agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(countDistinct(col(idCol)).as("__nd"))
    val scored = tf.join(dfreq, Seq("term"))
      .crossJoin(broadcast(nDocs))
      .withColumn("tfidf",
        round(col("tf") * log(col("__nd").cast("double") / col("df")), 6))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("tfidf").desc, col("term"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(idCol), col("term"), col("tf"), col("rank"), col("tfidf"))
  }

  /** Position-weighted rolling-hash fingerprint: sum over tokens of
    * hash24(token) · ((pos mod 8)+1). Order-sensitive (cyclic weights),
    * overflow-safe in 64 bits, and portable (md5-derived hash).
    */
  def fingerprint(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol), posexplode(words(col(textCol))))
      .select(col(idCol),
        (wordCode24(col("col")) * ((col("pos") % 8) + 1)).as("term"))
      .groupBy(col(idCol))
      .agg(sum(col("term")).as("fingerprint"))

  /** Content-defined chunking (CDC): split each document at tokens whose
    * hash ≡ 0 (mod `avgTokens`) — boundaries follow CONTENT, not position,
    * so an insertion near the head shifts no downstream chunk (the classic
    * failure of fixed-size chunking for dedup). Shared chunks across docs
    * then surface shifted/partial duplication that whole-doc hashing
    * misses. Entirely per-row array expressions (boundary scan, slice,
    * join, hash) — map-side, no shuffle until the caller aggregates chunk
    * hashes. Expected chunk length ≈ `avgTokens` tokens.
    */
  def cdcChunks(docs: DataFrame, idCol: String, textCol: String,
                avgTokens: Int = 16): DataFrame = {
    // Staged projections, not one nested expression: Catalyst does no CSE
    // inside lambda bodies, so an `element_at(bounds, j)` whose `bounds`
    // is the full cut-scan EXPRESSION re-runs n md5 hashes per lookup —
    // O(n²) per document (measured 22 s at sf0.1). Materializing __ws and
    // __bounds as columns makes each lookup a bound reference.
    val withWs = docs.select(col(idCol), words(col(textCol)).as("__ws"))
    val n = size(col("__ws"))
    // Cut AFTER token i when hash24(w_i) % avgTokens == 0; bounds are the
    // distinct sorted cut positions with 0 and n as sentinels.
    val cuts = filter(sequence(lit(1), n),
      i => wordCode24(element_at(col("__ws"), i)) % avgTokens === 0)
    val withBounds = withWs.withColumn("__bounds",
      array_distinct(concat(array(lit(0)), cuts, array(n))))
    val chunks = transform(sequence(lit(1), size(col("__bounds")) - 1), j =>
      array_join(slice(col("__ws"), element_at(col("__bounds"), j) + 1,
        element_at(col("__bounds"), j + 1) - element_at(col("__bounds"), j)),
        " "))
    withBounds.select(col(idCol), posexplode(chunks))
      .select(col(idCol), col("pos").as("chunk_idx"),
        size(split(col("col"), " ")).cast("long").as("n_tokens"),
        graft.functions.HashExpressions.md5HexLong(col("col"), 1, 12)
          .as("chunk_hash"))
  }

  /** Cross-document shared-chunk report over [[cdcChunks]]: chunk hashes
    * present in more than one document, with occurrence counts — the
    * shifted-duplication signal. One explode + one hash-agg.
    */
  def cdcSharedChunks(docs: DataFrame, idCol: String, textCol: String,
                      avgTokens: Int = 16): DataFrame =
    cdcChunks(docs, idCol, textCol, avgTokens)
      .groupBy(col("chunk_hash"))
      .agg(countDistinct(col(idCol)).as("n_docs"),
        count(lit(1)).as("n_occurrences"),
        max(col("n_tokens")).as("n_tokens"))
      .filter(col("n_docs") > 1)

  /** Boilerplate STRIPPING — the destructive sibling of
    * [[boilerplateShare]]: tokens covered by any hot-shingle occurrence
    * (df > `maxDocFrequency` of docs) are removed and the document
    * reassembled (the C4-style "drop boilerplate lines" step, at shingle
    * granularity). Same bounded hot set as the share op; the cover test
    * is per-row array logic over the doc's own hot-start list, so the
    * only joins are the bounded broadcast and a per-doc starts
    * aggregation. Docs with no hot positions pass through unchanged.
    */
  /** The ONE hot-shingle ("corpus stop-shingle") derivation shared by
    * [[boilerplateShare]] and [[boilerplateStrip]]: distinct doc-shingle
    * df strictly above `maxDocFrequency` × distinct docs. Bounded by
    * (avg shingles per doc)/maxDf rows — broadcastable by construction.
    */
  private def hotShingleSet(docs: DataFrame, idCol: String, textCol: String,
                            n: Int, maxDocFrequency: Double): DataFrame = {
    val nDocs = docs.agg(countDistinct(col(idCol)).cast("double").as("__nd"))
    Dedup.shingleSets(docs, idCol, textCol, n, None)
      .groupBy(col("shingle")).agg(count(lit(1)).as("__df"))
      .crossJoin(broadcast(nDocs))
      .filter(col("__df") > lit(maxDocFrequency) * col("__nd"))
      .select(col("shingle"))
  }

  def boilerplateStrip(docs: DataFrame, idCol: String, textCol: String,
                       n: Int = 3, maxDocFrequency: Double = 0.05): DataFrame = {
    val hot = hotShingleSet(docs, idCol, textCol, n, maxDocFrequency)
    // 1-based start positions of hot shingle occurrences, per doc.
    val starts = docs.select(col(idCol),
        posexplode(wordShingles(words(col(textCol)), n)))
      .withColumnRenamed("col", "shingle")
      .join(broadcast(hot), Seq("shingle"), "left_semi")
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(col("pos") + 1)).as("__starts"))
    // Token t (1-based) is covered iff some hot start s ∈ [t-n+1, t].
    val covered = (t: org.apache.spark.sql.Column) =>
      exists(col("__starts"), s => s >= t - (n - 1) && s <= t)
    docs.join(starts, Seq(idCol), "left")
      .select(col(idCol), words(col(textCol)).as("__ws"),
        coalesce(col("__starts"), array().cast("array<int>")).as("__starts"))
      .select(col(idCol),
        array_join(filter(col("__ws"),
          (w, i) => !covered(i + 1)), " ").as("text_clean"),
        size(col("__ws")).cast("long").as("n_tokens"),
        size(filter(sequence(lit(1), size(col("__ws"))),
          t => covered(t))).cast("long").as("n_removed"))
  }

  /** Rule-based quality gate (the Gopher/C4 recipe): per-document boolean
    * flags for word-count bounds (50–100000), mean word length (3–10),
    * stopword presence (≥ 2 hits), and symbol share (≤ 0.1), plus the
    * conjunctive `pass_all`. Unlike [[quality]]'s soft score, rules give
    * auditable REASONS a document was dropped — the per-flag columns
    * aggregate into the rejection report a curation run publishes. Pure
    * per-row expressions, fully codegen'd, no shuffle; thresholds compare
    * unrounded doubles that both engines derive from the same integer
    * counts, so the cut is engine-exact.
    */
  def ruleFlags(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val (nWords, awl, hits, sym) = ruleMeasures(col(textCol))
    val base = docs.select(col(idCol), nWords.as("n_words"), awl.as("__awl"),
      hits.as("stopword_hits"), sym.as("__sym"))
    val checks = ruleChecks(col("n_words"), col("__awl"), col("stopword_hits"),
      col("__sym"))
    base.select(Seq(col(idCol), col("n_words"),
        round(col("__awl"), 6).as("avg_word_len"), col("stopword_hits"),
        round(col("__sym"), 6).as("symbol_ratio")) ++
      checks.zip(Seq("flag_words", "flag_word_len", "flag_stopwords",
        "flag_symbols")).map { case (c, n) => c.cast("int").as(n) } :+
      checks.reduce(_ && _).cast("int").as("pass_all"): _*)
  }

  /** [[ruleFlags]]' `pass_all` as one boolean column over the text — for
    * composites that only keep the passing docs: a filter on the scan
    * row, where joining the flag frame back on the id paid a full-corpus
    * self-join for values the row already holds.
    */
  def rulePassCol(t: Column): Column =
    (ruleChecks _).tupled(ruleMeasures(t)).reduce(_ && _)

  /** [[ruleFlags]]' per-row measures, unrounded: word count, mean word
    * length, stopword hits, symbol share. */
  private def ruleMeasures(t: Column): (Column, Column, Column, Column) = {
    val ws = words(t)
    (size(ws).cast("long"), wordCharSum(ws).cast("double") / size(ws),
      stopwordCount(ws).cast("long"),
      regexp_count(t, lit("[^a-z0-9 ]")).cast("double") /
        greatest(length(t), lit(1)))
  }

  /** The four rule checks over [[ruleMeasures]], in flag order. */
  private def ruleChecks(nWords: Column, awl: Column, hits: Column,
                         sym: Column): Seq[Column] =
    Seq(nWords >= 50L && nWords <= 100000L, awl >= 3.0 && awl <= 10.0,
      hits >= 2L, sym <= 0.1)

  /** BM25 keyword retrieval over a BOUNDED query-term set: per-document
    * Okapi BM25 score for `terms`, distributed top-`k` result.
    *
    * Scale shape: the corpus explode is filtered to the query terms
    * MAP-SIDE (an `isin` over a literal set), so the aggregation keys are
    * ≤ |terms| × |docs-with-hits| — never vocabulary-sized; document
    * frequency per term is ≤ |terms| rows BY CONSTRUCTION and broadcast;
    * N/avgdl is a broadcast 1-row aggregate; the final top-k is
    * `orderBy().limit(k)` = TakeOrderedAndProject. Per-doc scores fold the
    * SORTED per-term contributions (the house order-stable double-sum
    * recipe), so ranking is engine-exact.
    */
  def bm25(docs: DataFrame, idCol: String, textCol: String,
           terms: Seq[String], k: Int,
           k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val ws = words(col(textCol))
    val stats = docs.agg(count(lit(1)).cast("double").as("__nd"),
      avg(size(ws)).as("__avgdl"))
    val hits = docs
      .select(col(idCol), size(ws).cast("double").as("__dl"),
        explode(filter(ws, w => w.isin(terms: _*))).as("term"))
      .groupBy(col(idCol), col("__dl"), col("term"))
      .agg(count(lit(1)).cast("double").as("__tf"))
    val dfreq = hits.groupBy(col("term")).agg(count(lit(1)).cast("double").as("__df"))
    val idf = log(lit(1.0) + (col("__nd") - col("__df") + 0.5) / (col("__df") + 0.5))
    val termScore = idf * col("__tf") * (lit(k1) + 1.0) /
      (col("__tf") + lit(k1) * (lit(1.0) - b + lit(b) * col("__dl") / col("__avgdl")))
    hits
      .join(broadcast(dfreq), Seq("term"))
      .crossJoin(broadcast(stats))
      .select(col(idCol), termScore.as("__s"))
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(col("__s"))).as("__ss"))
      .select(col(idCol),
        round(aggregate(col("__ss"), lit(0.0), (acc, x) => acc + x), 6)
          .as("bm25"),
        size(col("__ss")).cast("long").as("n_terms_hit"))
      .orderBy(col("bm25").desc, col(idCol))
      .limit(k)
  }

  /** Per-document boilerplate share: the fraction of a document's n-gram
    * POSITIONS covered by corpus "stop-shingles" — n-grams whose document
    * frequency exceeds `maxDocFrequency` of the corpus (nav menus, cookie
    * banners, licence footers). The per-doc companion to the corpus-level
    * df cap in [[graft.ops.Dedup.nearDuplicates]]: high shares flag
    * templated pages for dropping or span-stripping.
    *
    * Scale shape: the hot set is bounded by (avg shingles per doc) /
    * `maxDocFrequency` rows INDEPENDENT of corpus row count (each hot
    * shingle needs > maxDf·N supporting docs; total distinct doc-shingle
    * instances are ≤ N·avg), so it broadcasts; the position scan then
    * counts hits map-side — one explode + broadcast semi-join + hash-agg,
    * no vocabulary-sized shuffle. Keep maxDocFrequency ≥ ~0.001 or the
    * bound (and the broadcast) grows 1/maxDf.
    */
  def boilerplateShare(docs: DataFrame, idCol: String, textCol: String,
                       n: Int = 3, maxDocFrequency: Double = 0.05): DataFrame = {
    val hot = hotShingleSet(docs, idCol, textCol, n, maxDocFrequency)
    val positions = docs.select(col(idCol),
      explode(wordShingles(words(col(textCol)), n)).as("shingle"))
    val boiler = positions.join(broadcast(hot), Seq("shingle"), "left_semi")
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_boiler"))
    docs.select(col(idCol),
        size(wordShingles(words(col(textCol)), n)).cast("long").as("n_shingles"))
      .join(boiler, Seq(idCol), "left")
      .select(col(idCol), col("n_shingles"),
        coalesce(col("n_boiler"), lit(0L)).as("n_boiler"))
      .withColumn("boiler_share",
        when(col("n_shingles") > 0,
          round(col("n_boiler").cast("double") / col("n_shingles"), 6))
          .otherwise(lit(0.0)))
  }

  /** Feature-hashed bag-of-words embedding ("hashing trick"), SPARSE form:
    * bucket = md5-24(token) mod `dim`, sign = parity of the next md5 hex
    * digit, weight = Σ ±1 over token occurrences (multiplicity counts).
    * Integer weights are exactly portable across engines (no float
    * accumulation order), which is what makes the op oracle-verifiable;
    * zero-weight buckets are dropped. This is the model-free text→vector
    * bridge: [[hashEmbedding]] densifies + L2-normalizes the result into
    * the shape the ANN/clustering stack ([[Similarity]]) consumes, so a
    * corpus WITHOUT a precomputed embedding table still gets semantic
    * dedup/kNN. One explode + one aggregation; map-side partial combine
    * applies (bucket cardinality ≤ dim per doc).
    */
  def hashEmbeddingSparse(docs: DataFrame, idCol: String, textCol: String,
                          dim: Int = 64): DataFrame = {
    require(dim > 0, "dim must be positive")
    val tok = docs.select(col(idCol), explode(words(col(textCol))).as("w"))
    tok.select(col(idCol),
        pmod(wordCode24(col("w")), lit(dim.toLong)).as("bucket"),
        (lit(1L) - lit(2L) * pmod(
          graft.functions.HashExpressions.md5HexLong(col("w"), 7, 1),
          lit(2L))).as("s"))
      .groupBy(col(idCol), col("bucket")).agg(sum(col("s")).as("weight"))
      .filter(col("weight") =!= 0)
  }

  /** [[hashEmbeddingSparse]] densified to an L2-normalized `array<float>`
    * — drop-in for the `embeddings` table's vector column. All-zero
    * embeddings (empty/degenerate docs) keep a zero vector rather than
    * dividing by zero. `normalize = false` keeps the RAW integer-valued
    * weights (exact in float32): cosine-based consumers are
    * scale-invariant, and exact integer components are what lets a SQL
    * oracle reproduce a whole downstream pipeline (e.g. the text→IVF
    * compose gate) without float-construction divergence.
    */
  def hashEmbedding(docs: DataFrame, idCol: String, textCol: String,
                    dim: Int = 64, normalize: Boolean = true): DataFrame = {
    val dense = hashEmbeddingSparse(docs, idCol, textCol, dim)
      .groupBy(col(idCol))
      .agg(map_from_entries(collect_list(
        struct(col("bucket"), col("weight")))).as("__m"))
      .select(col(idCol), transform(sequence(lit(0L), lit(dim - 1L)),
        i => coalesce(element_at(col("__m"), i), lit(0L)).cast("double"))
        .as("__v"))
    // Docs whose every token hashed to weight 0 vanish from the sparse
    // frame — restore them with a zero vector so the embedding is total.
    val norm = sqrt(aggregate(col("__v"), lit(0.0), (acc, x) => acc + x * x))
    val scaled =
      if (normalize) transform(col("__v"), x =>
        (x / when(norm > 0, norm).otherwise(lit(1.0))).cast("float"))
      else transform(col("__v"), _.cast("float"))
    docs.select(col(idCol))
      .join(dense, Seq(idCol), "left")
      .select(col(idCol),
        when(col("__v").isNull, array_repeat(lit(0.0f), dim))
          .otherwise(scaled)
          .as("embedding"))
  }

  /** Unicode hygiene scrub: strip control characters (C0 minus \t\n\r,
    * DEL) and zero-width code points (ZWSP/ZWNJ/ZWJ/BOM), then collapse
    * runs of spaces introduced by the removal. Counts are reported for
    * audit aggregation (share of affected docs is a standard corpus-health
    * metric). Single-pass codegen'd regexps; the character classes are
    * spelled with explicit \x{...} ranges so the same pattern runs
    * verbatim under RE2-family engines.
    */
  val CtrlClass = "[\\x{00}-\\x{08}\\x{0B}\\x{0C}\\x{0E}-\\x{1F}\\x{7F}]"
  val ZeroWidthClass = "[\\x{200B}-\\x{200D}\\x{FEFF}]"

  /** [[unicodeScrub]]'s cleaned text as a single COLUMN — same
    * rationale as [[qualityScoreCol]]: scrubbing is a projection, so
    * composites inline it instead of joining the scrubbed frame back.
    */
  def scrubbedTextCol(t: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val stripped = regexp_replace(regexp_replace(t, CtrlClass, ""),
      ZeroWidthClass, "")
    trim(regexp_replace(stripped, "  +", " "))
  }

  def unicodeScrub(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    docs.select(col(idCol),
      scrubbedTextCol(t).as("text_clean"),
      // Counted as length deltas, not regexp_count: the subtraction form
      // is portable to engines without a count function.
      (length(t) - length(regexp_replace(t, CtrlClass, "")))
        .cast("long").as("n_ctrl"),
      (length(t) - length(regexp_replace(t, ZeroWidthClass, "")))
        .cast("long").as("n_zero_width"))
  }

  /** Per-document script profile: character counts per script family
    * (Latin letters, Cyrillic, CJK unified ideographs, digits) and the
    * dominant family — the multilingual-pipeline routing signal. Classes
    * are explicit code-point ranges (NOT \p{script=...}, whose names
    * differ between regex engines). Dominance ties break by the fixed
    * order latin > cyrillic > cjk > digit > other.
    */
  val LatinClass = "[A-Za-z]"
  val CyrillicClass = "[\\x{0400}-\\x{04FF}]"
  val CjkClass = "[\\x{4E00}-\\x{9FFF}]"
  val DigitClass = "[0-9]"

  def scriptShare(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    def cnt(cls: String) =
      (length(t) - length(regexp_replace(t, cls, ""))).cast("long")
    val latin = cnt(LatinClass)
    val cyr = cnt(CyrillicClass)
    val cjk = cnt(CjkClass)
    val digit = cnt(DigitClass)
    val other = (length(t).cast("long") - latin - cyr - cjk - digit)
    docs.select(col(idCol), latin.as("n_latin"), cyr.as("n_cyrillic"),
        cjk.as("n_cjk"), digit.as("n_digit"), other.as("n_other"))
      .withColumn("dominant",
        when(col("n_latin") >= greatest(col("n_cyrillic"), col("n_cjk"),
          col("n_digit"), col("n_other")), "latin")
          .when(col("n_cyrillic") >= greatest(col("n_cjk"), col("n_digit"),
            col("n_other")), "cyrillic")
          .when(col("n_cjk") >= greatest(col("n_digit"), col("n_other")), "cjk")
          .when(col("n_digit") >= col("n_other"), "digit")
          .otherwise("other"))
  }

  /** [[scriptShare]]'s `dominant` classification as a single COLUMN over
    * the text — the routing predicate for composites (same
    * joins-to-columns rationale as [[qualityScoreCol]]). Integer counts
    * and the identical fixed tie order, so the routing decision matches
    * the standalone op bit-for-bit.
    */
  def dominantScriptCol(t: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    def cnt(cls: String) =
      (length(t) - length(regexp_replace(t, cls, ""))).cast("long")
    val latin = cnt(LatinClass)
    val cyr = cnt(CyrillicClass)
    val cjk = cnt(CjkClass)
    val digit = cnt(DigitClass)
    val other = (length(t).cast("long") - latin - cyr - cjk - digit)
    when(latin >= greatest(cyr, cjk, digit, other), "latin")
      .when(cyr >= greatest(cjk, digit, other), "cyrillic")
      .when(cjk >= greatest(digit, other), "cjk")
      .when(digit >= other, "digit")
      .otherwise("other")
  }

  /** Zipf rank–frequency diagnostic: OLS slope of ln(freq) on ln(rank)
    * over the top-V vocabulary — natural corpora track slope ≈ −1
    * (Zipf's law), and a big departure flags synthetic/templated or
    * heavily-duplicated text. Top-V selection is `TakeOrdered` (never a
    * global sort); the regression folds a RANK-SORTED V-bounded array so
    * both engines accumulate the identical IEEE sequence (the
    * `Stats.trendSlope` discipline). Ties rank deterministically by
    * (count desc, term asc).
    */
  def zipfSlope(docs: DataFrame, textCol: String, topV: Int): DataFrame = {
    require(topV >= 3, "need at least 3 vocabulary terms")
    val top = docs
      .select(explode(graft.functions.TextFunctions.words(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("w")).limit(topV)
    val rank = row_number().over(org.apache.spark.sql.expressions.Window
      .orderBy(col("cnt").desc, col("w")))
    val pts = sort_array(collect_list(struct(col("__r").as("r"),
      log(col("__r").cast("double")).as("x"),
      log(col("cnt").cast("double")).as("y"))))
    def fsum(arr: org.apache.spark.sql.Column) =
      aggregate(arr, lit(0.0), (acc, e) => acc + e)
    top.withColumn("__r", rank)
      .agg(pts.as("__p"))
      .select(size(col("__p")).cast("long").as("v_terms"),
        fsum(transform(col("__p"), e => e.getField("x"))).as("__sx"),
        fsum(transform(col("__p"), e => e.getField("y"))).as("__sy"),
        fsum(transform(col("__p"), e => e.getField("x") * e.getField("y")))
          .as("__sxy"),
        fsum(transform(col("__p"), e => e.getField("x") * e.getField("x")))
          .as("__sxx"))
      .select(col("v_terms"),
        round((col("v_terms") * col("__sxy") - col("__sx") * col("__sy")) /
          (col("v_terms") * col("__sxx") - col("__sx") * col("__sx")), 4)
          .as("zipf_slope"),
        round((col("__sy") - ((col("v_terms") * col("__sxy") -
          col("__sx") * col("__sy")) /
          (col("v_terms") * col("__sxx") - col("__sx") * col("__sx"))) *
          col("__sx")) / col("v_terms"), 4).as("zipf_intercept"))
  }

  /** Positional-index phrase search: documents containing the exact
    * token sequence `phrase`, found by intersecting per-term posting
    * lists on `(doc, position)` adjacency — the inverted-index plan a
    * search engine runs, vs a full-corpus substring scan that can never
    * use term selectivity. The first (rarest-is-best, but first works)
    * term's postings anchor the join; each subsequent term joins on
    * `(doc_id, pos + i)` — equi keys, so candidate cardinality collapses
    * to the anchor term's document frequency after the first join, and
    * the whole match never rescans the text. Emits (doc_id, n_matches)
    * with one row per document containing the phrase at least once.
    *
    * The postings frame — tokenize + posexplode, already filtered to
    * JUST the phrase's terms, so its size is the terms' total document
    * frequency, not the corpus token count — is scope-cached: every
    * per-term branch (1 anchor + |phrase|−1 semi joins) reads the one
    * materialization instead of re-deriving the explode per term
    * (round-8 probe: the re-derive made the op 2.8× at 10×).
    */
  def phraseSearch(docs: DataFrame, idCol: String, textCol: String,
                   phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "phrase must have at least one term")
    val positions = OpCaches.scoped(docs.select(col(idCol),
        posexplode(graft.functions.TextFunctions.words(col(textCol)))
          .as(Seq("pos", "w")))
      .filter(col("w").isin(phrase.distinct: _*)))
    val anchor = positions.filter(col("w") === phrase.head)
      .select(col(idCol), col("pos"))
    val matched = phrase.zipWithIndex.tail.foldLeft(anchor) {
      case (acc, (term, i)) =>
        acc.join(
          positions.filter(col("w") === term)
            .select(col(idCol), (col("pos") - i).as("pos")),
          Seq(idCol, "pos"), "left_semi")
    }
    matched.groupBy(col(idCol)).agg(count(lit(1)).as("n_matches"))
  }

  /** RAKE keyphrase extraction (Rose et al. 2010): candidate phrases
    * are maximal stopword-free token runs (gaps-and-islands over token
    * positions — one doc-keyed window pass, the interval-union
    * machinery applied to text); each word scores deg(w)/freq(w) where
    * deg sums the lengths of the phrases containing it, and a phrase
    * scores the sum of its words' scores. Emitted phrases clear an
    * INTEGER occurrence floor (`minPhraseCount`) — the deterministic
    * cut, never a float-ranked top-k — and a `maxLen` cap drops
    * degenerate run-on candidates. All ratios are exact-integer
    * divisions; the per-phrase score sums ≤ maxLen of them (round(4)
    * with the usual margin).
    */
  def rakeKeyphrases(docs: DataFrame, idCol: String, textCol: String,
                     maxLen: Int = 4,
                     minPhraseCount: Long = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val stop = graft.functions.TextFunctions.Stopwords
    val toks = docs.select(col(idCol),
      posexplode(graft.functions.TextFunctions.words(col(textCol)))
        .as(Seq("pos", "w")))
    val wIsl = Window.partitionBy(col(idCol)).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cand = toks
      .withColumn("__stop", col("w").isin(stop: _*))
      .withColumn("__g",
        sum(when(col("__stop"), 1L).otherwise(0L)).over(wIsl))
      .filter(!col("__stop"))
      .groupBy(col(idCol), col("__g"))
      .agg(concat_ws(" ", transform(
          sort_array(collect_list(struct(col("pos"), col("w")))),
          e => e.getField("w"))).as("phrase"),
        count(lit(1)).as("__len"))
      .filter(col("__len") <= maxLen)
    val pCnt = cand.groupBy(col("phrase"))
      .agg(count(lit(1)).as("n_occurrences"))
      .filter(col("n_occurrences") >= minPhraseCount)
    val wordStats = cand
      .select(explode(split(col("phrase"), " ")).as("w"), col("__len"))
      .groupBy(col("w"))
      .agg(count(lit(1)).as("__freq"), sum(col("__len")).as("__deg"))
    val phraseScore = cand.select(col("phrase")).distinct()
      .select(col("phrase"), explode(split(col("phrase"), " ")).as("w"))
      .join(wordStats, Seq("w"))
      .groupBy(col("phrase"))
      .agg(round(sum(col("__deg").cast("double") /
        col("__freq").cast("double")), 4).as("score"))
    pCnt.join(phraseScore, Seq("phrase"))
  }

  /** Pointwise-mutual-information collocations: adjacent word pairs
    * whose co-occurrence beats the independence expectation —
    * PMI = ln(p(w1,w2)/(p(w1)p(w2))) with p(w1,w2) over the bigram
    * total and p(w) over the unigram total (Church & Hanks 1990). The
    * `minCount` floor does double duty: it is the standard guard
    * against the PMI low-frequency pathology (hapax pairs always score
    * highest) AND the cardinality cap that keeps the emitted set
    * df-bounded — the output is every collocation above the floor, a
    * deterministic integer-count cut, never a float-ranked top-k whose
    * boundary membership could wobble across engines. Shapes: bigram
    * and unigram counts are vocabulary-sized aggregations; the two
    * joins back are AQE-sized (unbounded vocab — never force-broadcast,
    * per the soft-dedup rule).
    */
  def pmiCollocations(docs: DataFrame, idCol: String, textCol: String,
                      minCount: Long = 5): DataFrame = {
    // The two explodes are the dominant cost and each feeds TWO
    // consumers (the floor-filtered counts AND the corpus totals), so
    // both count frames are scope-cached and the totals come from
    // summing the cached counts — one explode each, not two (the 10×
    // probe measured the re-derivation at 8.2×; totals-from-counts is
    // algebraically identical: Σ per-key counts = the raw row count).
    val bi = docs.select(
      explode(wordShingles(words(col(textCol)), 2)).as("bg"))
    val bCnt0 = graft.ops.OpCaches.scoped(
      bi.groupBy(col("bg")).agg(count(lit(1)).as("n_pair")))
    val bCnt = bCnt0.filter(col("n_pair") >= minCount)
    val tokens = docs.select(explode(words(col(textCol))).as("w"))
    val uCnt = graft.ops.OpCaches.scoped(
      tokens.groupBy(col("w")).agg(count(lit(1)).as("cu")))
    val totals = bCnt0.agg(sum(col("n_pair")).as("__nb"))
      .crossJoin(uCnt.agg(sum(col("cu")).as("__nu")))
    bCnt
      .withColumn("w1", substring_index(col("bg"), " ", 1))
      .withColumn("w2", substring_index(col("bg"), " ", -1))
      .join(uCnt.select(col("w").as("w1"), col("cu").as("cu1")), Seq("w1"))
      .join(uCnt.select(col("w").as("w2"), col("cu").as("cu2")), Seq("w2"))
      .crossJoin(broadcast(totals))
      .select(col("w1"), col("w2"), col("n_pair"),
        round(log(
          col("n_pair").cast("double") * col("__nu").cast("double") *
            col("__nu").cast("double") /
            (col("__nb").cast("double") * col("cu1").cast("double") *
              col("cu2").cast("double"))), 4).as("pmi"))
  }

  /** Pairwise top-V vocabulary Jaccard between sources — the set-based
    * companion to [[sourceJsDivergence]]'s distributional distance:
    * how much of two sources' CHARACTERISTIC vocabulary (per-source
    * top-V words by count, ties broken by word) actually overlaps.
    * Integer-exact end to end: |A∩B| from one word-keyed self-join of
    * the groups×V top lists, |A∪B| = V_a + V_b − |A∩B| algebraically —
    * no union materializes. The per-source top-V pick is a rank window
    * partitioned by source (scope = that source's vocabulary; at
    * extreme scale pre-thin with a global count floor first so the
    * window never sees singleton words). The pair spine is
    * groups²-bounded and disjoint pairs report 0, not absence.
    */
  def sourceVocabJaccard(docs: DataFrame, textCol: String,
                         groupCol: String, v: Int): DataFrame = {
    require(v >= 1 && v <= 100000, "v in 1..100000")
    val tokens = docs.filter(col(groupCol).isNotNull)
      .select(col(groupCol), explode(words(col(textCol))).as("w"))
    val counts = tokens.groupBy(col(groupCol), col("w"))
      .agg(count(lit(1)).as("__c"))
    val wnd = Window.partitionBy(col(groupCol))
      .orderBy(col("__c").desc, col("w"))
    val topv = counts.withColumn("__r", row_number().over(wnd))
      .filter(col("__r") <= v)
      .select(col(groupCol), col("w"))
    val sizes = topv.groupBy(col(groupCol)).agg(count(lit(1)).as("__sz"))
    val inter = topv.select(col(groupCol).as("source_a"), col("w"))
      .join(topv.select(col(groupCol).as("source_b"), col("w")), Seq("w"))
      .filter(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("__i"))
    val groups = sizes.select(col(groupCol))
    val spine = groups.select(col(groupCol).as("source_a"))
      .crossJoin(broadcast(groups.select(col(groupCol).as("source_b"))))
      .filter(col("source_a") < col("source_b"))
    spine
      .join(inter, Seq("source_a", "source_b"), "left")
      .join(sizes.select(col(groupCol).as("source_a"),
        col("__sz").as("v_a")), Seq("source_a"))
      .join(sizes.select(col(groupCol).as("source_b"),
        col("__sz").as("v_b")), Seq("source_b"))
      .select(col("source_a"), col("source_b"), col("v_a"), col("v_b"),
        coalesce(col("__i"), lit(0L)).as("intersection"),
        round(coalesce(col("__i"), lit(0L)).cast("double") /
          (col("v_a") + col("v_b") - coalesce(col("__i"), lit(0L)))
            .cast("double"), 6).as("jaccard"))
  }

  /** Lexical diversity per document: type–token ratio (distinct/total
    * words) and hapax share (fraction of types occurring exactly once
    * in the doc) — low TTR flags template/boilerplate text, high hapax
    * flags OCR noise and gibberish; both are standard corpus-quality
    * signals. Entirely MAP-SIDE array expressions over the shared
    * whitespace tokenization: hapaxes are counted on the SORTED token
    * array with an index-aware filter (a position is a hapax iff it
    * differs from both neighbors) — O(L log L) per doc, never a
    * per-type rescan of the token list, no shuffle at any corpus size.
    */
  def typeTokenRatio(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = graft.functions.TextFunctions.words(col(textCol))
    val s = array_sort(toks)
    val nTok = size(toks)
    // filter's lambda index i is 0-based; `get` is the 0-based
    // out-of-bounds-null accessor (ANSI-safe, unlike element_at which
    // throws), and `true OR null = true` covers the boundary
    // positions.
    val hapax = size(filter(s, (x, i) =>
      (i === 0 || x =!= get(s, i - 1)) &&
        (i === size(s) - 1 || x =!= get(s, i + 1))))
    docs.select(col(idCol),
        nTok.cast("long").as("n_tokens"),
        size(array_distinct(toks)).cast("long").as("n_types"),
        hapax.cast("long").as("__h"))
      .select(col(idCol), col("n_tokens"), col("n_types"),
        when(col("n_tokens") > 0,
          round(col("n_types").cast("double") /
            col("n_tokens").cast("double"), 4)).as("ttr"),
        when(col("n_types") > 0,
          round(col("__h").cast("double") /
            col("n_types").cast("double"), 4)).as("hapax_share"))
  }
}
