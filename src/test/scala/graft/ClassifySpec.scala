package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Classify

/** Hashed multinomial Naive Bayes (round-7): model shape, separable-corpus
  * accuracy, prior dominance for evidence-free overlap, tie determinism.
  */
class ClassifySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val corpus = Seq(
    (1L, "en", "the cat sat on the mat"),
    (2L, "en", "the dog ate the food"),
    (3L, "en", "a bird in the hand"),
    (4L, "fr", "le chat est sur le tapis"),
    (5L, "fr", "le chien mange le repas"),
    (6L, "fr", "un oiseau dans la main")
  ).toDF("doc_id", "lang", "text")

  test("fit produces a dense |labels| x dim model with finite log-probs") {
    val m = Classify.naiveBayesFit(corpus, "lang", "text", dim = 32)
    assert(m.count() === 2 * 32)
    // Canonical artifact schema: the label column is NAMED `label`
    // whatever the training frame called it (predict binds by name).
    assert(m.columns.toSeq === Seq("label", "bucket", "loglik", "logprior"))
    val bad = m.filter("loglik >= 0 OR loglik IS NULL OR isnan(loglik)" +
      " OR logprior >= 0 OR isnan(logprior)").count()
    assert(bad === 0)
  }

  test("predict recovers the training labels on a separable corpus") {
    val m = Classify.naiveBayesFit(corpus, "lang", "text", dim = 32)
    val got = Classify.naiveBayesPredict(corpus, m, "doc_id", "text", dim = 32)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got === Map(1L -> "en", 2L -> "en", 3L -> "en",
      4L -> "fr", 5L -> "fr", 6L -> "fr"))
  }

  test("unseen-word docs fall back to the prior (majority class wins)") {
    // 2 en docs vs 1 fr doc: a doc of tokens unseen in training gets only
    // smoothed-floor likelihoods, identical across classes at equal token
    // totals — but here totals differ, so the score is still dominated by
    // logprior + n*log(floor_c); check the output exists and is a label.
    val skew = corpus.filter("doc_id <= 3 OR doc_id = 4")
    val m = Classify.naiveBayesFit(skew, "lang", "text", dim = 32)
    val probe = Seq((99L, "zzz qqq xxx")).toDF("doc_id", "text")
    val out = Classify.naiveBayesPredict(probe, m, "doc_id", "text", dim = 32)
      .collect()
    assert(out.length === 1)
    assert(Set("en", "fr").contains(out(0).getString(1)))
  }

  test("tokenless docs produce no row (DSIR totality contract)") {
    val m = Classify.naiveBayesFit(corpus, "lang", "text", dim = 32)
    // words("") yields [""], which hashes and scores — the no-row contract
    // is for null text, where explode drops the doc.
    val probe = Seq((100L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val out = Classify.naiveBayesPredict(probe, m, "doc_id", "text", dim = 32)
    assert(out.count() === 0)
  }

  test("argmax tie-break is deterministic (label ascending)") {
    // Perfectly symmetric corpus: one doc per class, same token counts,
    // disjoint vocab; a probe with one token from EACH class ties exactly.
    val sym = Seq((1L, "aa", "foo foo"), (2L, "bb", "bar bar"))
      .toDF("doc_id", "lang", "text")
    val m = Classify.naiveBayesFit(sym, "lang", "text", dim = 32)
    val probe = Seq((7L, "foo bar")).toDF("doc_id", "text")
    val out = Classify.naiveBayesPredict(probe, m, "doc_id", "text", dim = 32)
      .collect()
    assert(out.length === 1)
    assert(out(0).getString(1) === "aa") // rounded tie → label asc
  }

  test("eval harness: per-class accuracy > 0.9 on a separable held-out split") {
    // The driver's text_nb_eval gate pins ENGINE AGREEMENT, but on the
    // current testdata the lang labels carry no textual signal, so that
    // gate pins a degenerate always-'en' model. THIS test is the real
    // model check: 3 classes × 30 docs with disjoint class vocabularies,
    // fit on doc_id % 3 != 0, evaluated per class on the held-out third —
    // a scoring regression (wrong fold, bad smoothing, mis-bound label
    // column) drops a class below 0.9 here even while the gate stays green.
    val vocab = Map(
      "en" -> Seq("the", "cat", "dog", "house", "water", "green", "run"),
      "fr" -> Seq("le", "chat", "chien", "maison", "eau", "vert", "courir"),
      "de" -> Seq("der", "katze", "hund", "haus", "wasser", "gruen", "laufen"))
    val langs = vocab.keys.toSeq.sorted
    val docs = (0 until 90).map { i =>
      val lang = langs(i % 3)
      val ws = vocab(lang)
      // Deterministic word salad: 12 tokens cycling from the class vocab
      // at a doc-dependent stride, so docs within a class differ.
      val text = (0 until 12).map(j => ws((i * 5 + j * (i % 4 + 1)) % ws.size))
        .mkString(" ")
      (i.toLong, lang, text)
    }.toDF("doc_id", "lang", "text")
    // Held-out split on id % 10 (class is id % 3, so % 10 stratifies —
    // a % 3 split would put exactly one class in the test set).
    val train = docs.filter("doc_id % 10 >= 3")
    val test0 = docs.filter("doc_id % 10 < 3")
    val m = Classify.naiveBayesFit(train, "lang", "text", dim = 64)
    val pred = Classify.naiveBayesPredict(test0, m, "doc_id", "text", dim = 64)
    val perClass = test0.join(pred, Seq("doc_id"))
      .groupBy("lang")
      .agg(org.apache.spark.sql.functions.avg(
        org.apache.spark.sql.functions.when(
          org.apache.spark.sql.functions.col("pred") ===
            org.apache.spark.sql.functions.col("lang"), 1.0).otherwise(0.0))
        .as("acc"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(perClass.keySet === langs.toSet)
    langs.foreach(l => assert(perClass(l) > 0.9,
      s"per-class accuracy for $l: ${perClass(l)} (all: $perClass)"))
  }

  test("logistic GD separates a linearly separable corpus; predict is total") {
    import org.apache.spark.sql.functions._
    // Positive docs repeat "alpha", negatives repeat "omega"; a couple of
    // shared neutral tokens keep the features non-trivial.
    val docs = (0 until 40).map { i =>
      val pos = i % 2 == 0
      val body = (if (pos) "alpha alpha alpha" else "omega omega omega") +
        " shared filler"
      (i.toLong, body, if (pos) 1.0 else 0.0)
    }
    val df = docs.toDF("doc_id", "text", "y")
    val feats = graft.ops.TextAnalysis.hashEmbeddingSparse(
      df.select("doc_id", "text"), "doc_id", "text", dim = 16)
    val w = graft.ops.Classify.logisticFit(feats,
      df.select("doc_id", "y"), "doc_id", "bucket", "weight", "y",
      dim = 16, iterations = 40, lr = 1.0)
    val preds = graft.ops.Classify.logisticPredict(feats, w,
        df.select("doc_id"), "doc_id", "bucket", "weight")
      .join(df.select("doc_id", "y"), Seq("doc_id"))
      .select(col("doc_id"), (col("prob") > 0.5).as("p"),
        (col("y") === 1.0).as("t"))
      .collect()
    assert(preds.length == 40, "predict must be total over the id frame")
    val acc = preds.count(r => r.getBoolean(1) == r.getBoolean(2)) / 40.0
    assert(acc == 1.0, s"separable corpus must fit exactly, got $acc")
  }
}
