package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Sampling, TextAnalysis}

/** Round-4 batch: Gopher-style rule flags, BM25 retrieval, boilerplate
  * share, and token-budget mixture sampling.
  */
class QualityRulesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def wordsOf(n: Int, w: String = "word") =
    Seq.fill(n)(w).mkString(" ")

  test("ruleFlags raises exactly the violated flag per document") {
    val good = ("the and " + wordsOf(58)).trim                // 60 words, 2 stopwords
    val short = "the and just a few words here"               // 7 words
    val longWords = ("the and " + wordsOf(58, "supercalifragilistic")).trim
    val noStop = wordsOf(60)                                  // 0 stopword hits
    val symbols = ("the and " + Seq.fill(58)("@#$%^&*!").mkString(" ")).trim
    val docs = Seq((1L, good), (2L, short), (3L, longWords), (4L, noStop),
      (5L, symbols)).toDF("doc_id", "text")
    val got = TextAnalysis.ruleFlags(docs, "doc_id", "text")
      .select("doc_id", "flag_words", "flag_word_len", "flag_stopwords",
        "flag_symbols", "pass_all")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2),
        r.getInt(3), r.getInt(4), r.getInt(5))).sortBy(_._1).toSeq
    assert(got == Seq(
      (1L, 1, 1, 1, 1, 1),
      (2L, 0, 1, 1, 1, 0),
      (3L, 1, 0, 1, 1, 0),
      (4L, 1, 1, 0, 1, 0),
      (5L, 1, 1, 1, 0, 0)), s"flag matrix: $got")  // 8-char symbol runs keep awl in range
  }

  test("bm25 ranks term-dense short docs first and skips term-free docs") {
    val docs = Seq(
      (1L, "spark spark spark " + wordsOf(5)),       // dense, short
      (2L, "spark " + wordsOf(50)),                  // one hit, long
      (3L, "join query " + wordsOf(8)),              // two distinct terms
      (4L, wordsOf(20))                              // no hits
    ).toDF("doc_id", "text")
    val got = TextAnalysis.bm25(docs, "doc_id", "text",
        terms = Seq("spark", "join", "query"), k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    assert(got.map(_._1).toSet == Set(1L, 2L, 3L), "doc 4 has no query terms")
    val byDoc = got.map(t => t._1 -> t).toMap
    assert(byDoc(3L)._3 == 2 && byDoc(1L)._3 == 1 && byDoc(2L)._3 == 1)
    assert(byDoc(1L)._2 > byDoc(2L)._2,
      "same term: higher tf on a shorter doc must outrank")
    assert(got.sortBy(t => (-t._2, t._1)).toSeq == got.toSeq,
      "output is ordered by (score desc, id)")
    assert(got.forall(_._2 > 0.0))
  }

  test("boilerplateShare charges exactly the hot-shingle positions") {
    // 8 of 10 docs carry the same 5-token boilerplate run (4 trigram
    // positions); every doc also has unique filler. maxDf=0.5 → hot.
    val boiler = "b1 b2 b3 b4 b5"
    val docs = ((1 to 8).map(i => (i.toLong, s"u${i}a u${i}b u${i}c $boiler")) ++
      Seq((9L, "x1 x2 x3 x4 x5 x6 x7"), (10L, "tiny doc"))) // 10: < 3 tokens
      .toDF("doc_id", "text")
    val got = TextAnalysis.boilerplateShare(docs, "doc_id", "text",
        n = 3, maxDocFrequency = 0.5)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getDouble(3)))).toMap
    // Doc 1: 8 tokens → 6 trigrams; hot trigrams are the 3 fully inside
    // the boilerplate run ("b1 b2 b3","b2 b3 b4","b3 b4 b5") — the
    // bridging ones contain unique filler tokens.
    assert(got(1L) == ((6L, 3L, 0.5)), s"planted doc: ${got(1L)}")
    assert(got(9L) == ((5L, 0L, 0.0)), s"clean doc: ${got(9L)}")
    assert(got(10L) == ((0L, 0L, 0.0)), s"sub-n doc present with zero: ${got(10L)}")
  }

  test("tokenBudget keeps the exact hash-order prefix within budget") {
    val docs = Seq(
      (1L, "s0", 40L), (2L, "s0", 40L), (3L, "s0", 40L), (4L, "s0", 40L),
      (5L, "s1", 100L), (6L, "s1", 100L)
    ).toDF("doc_id", "source", "w")
    val got = Sampling.tokenBudget(docs, "doc_id", "source", "w",
        budgets = Map("s0" -> 100L), defaultBudget = 150L)
      .select("doc_id").as[Long].collect().toSet
    // Expected: per stratum, sort by keyUniform(doc_id) and take while
    // cumsum <= budget — recompute the reference cut in-process.
    val hashed = docs.select(col("doc_id"), col("source"), col("w"),
        Sampling.keyUniform(col("doc_id")).as("h"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    val expect = hashed.groupBy(_._2).flatMap { case (src, rows) =>
      val budget = if (src == "s0") 100L else 150L
      var cum = 0L
      rows.sortBy(r => (r._4, r._1)).takeWhile { r =>
        cum += r._3; cum <= budget
      }.map(_._1).toSeq
    }.toSet
    assert(expect.nonEmpty && expect.size < 6, "cut must be a strict subset")
    assert(got == expect, s"got $got expected $expect")
  }

  test("tokenBudget drops invalid weights without corrupting the stratum cut") {
    // A net-negative stratum sum once made the pre-thin keep rate
    // negative and silently dropped the WHOLE stratum; invalid rows must
    // be excluded before any weight sum so valid rows still fill the
    // budget.
    val docs = Seq(
      (1L, "s0", java.lang.Long.valueOf(2L)),
      (2L, "s0", java.lang.Long.valueOf(-10L)), // invalid: negative
      (3L, "s0", java.lang.Long.valueOf(3L)),
      (4L, "s0", null.asInstanceOf[java.lang.Long]) // invalid: null
    ).toDF("doc_id", "source", "w")
    val got = Sampling.tokenBudget(docs, "doc_id", "source", "w",
        budgets = Map("s0" -> 100L))
      .select("doc_id").as[Long].collect().toSet
    assert(got == Set(1L, 3L),
      s"valid rows fit the budget; invalid ones drop: $got")
  }

  test("tokenBudget pre-thin genuinely drops rows yet preserves the answer") {
    // 3000 rows of weight 10 in one stratum, budget 200, safety 10 →
    // expectKeep = max(10*200, 1000*10) = 10000 < Σw = 30000, so the thin
    // rate is 1/3 and rows really are dropped before the window (the
    // vacuous-test trap the stratifiedExact spec fell into).
    val docs = (1 to 3000).map(i => (i.toLong, "s0", 10L))
      .toDF("doc_id", "source", "w")
    val rate = math.max(10.0 * 200, 1000.0 * 10) / (3000.0 * 10)
    assert(rate < 1.0, "test construction: thinning must engage")
    val thinned = Sampling.tokenBudget(docs, "doc_id", "source", "w",
      budgets = Map("s0" -> 200L), preThinSafety = Some(10.0))
    val exact = Sampling.tokenBudget(docs, "doc_id", "source", "w",
      budgets = Map("s0" -> 200L), preThinSafety = None)
    val a = thinned.select("doc_id").as[Long].collect().sorted.toSeq
    val b = exact.select("doc_id").as[Long].collect().sorted.toSeq
    assert(a == b, "pre-thinned answer must be identical")
    assert(a.size == 20, s"budget 200 / weight 10 → exactly 20 rows: ${a.size}")
  }

  test("tokenBudget keeps nothing for budget-0 strata and all under-budget rows") {
    val docs = Seq((1L, "a", 5L), (2L, "a", 5L), (3L, "b", 5L))
      .toDF("doc_id", "source", "w")
    val got = Sampling.tokenBudget(docs, "doc_id", "source", "w",
        budgets = Map("b" -> 1000L), defaultBudget = 0L)
      .select("doc_id").as[Long].collect().toSet
    assert(got == Set(3L), s"stratum a has budget 0: $got")
  }

  test("importance weights rank target-like source docs above unrelated ones") {
    val d = Seq(
      (1L, "machine learning models train on data", "tgt"),
      (2L, "machine learning models train on data", "tgt"),
      (10L, "machine learning models train on corpora", "src"), // target-like
      (11L, "cooking pasta requires boiling salted water", "src") // unrelated
    ).toDF("doc_id", "text", "dom")
    val w = Sampling.importanceWeights(d, "doc_id", "text", "dom", "tgt",
        dim = 64)
      .as[(Long, Double)].collect().toMap
    assert(w.keySet == Set(10L, 11L), s"only source docs are weighted: $w")
    assert(w(10L) > w(11L),
      s"target-vocabulary doc must out-weigh the unrelated one: $w")
  }
}
