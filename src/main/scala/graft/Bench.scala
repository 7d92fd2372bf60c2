package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main (driver contract): runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line with per-query seconds.
  * ADDITIVE since r17 (the contractual line is unchanged): the same JSON
  * is also written to bench_out.json, and a compact summary line prints
  * after it — the full line is ~15 KB and harnesses that capture a
  * bounded output tail were truncating it mid-JSON (r16 verdict #2).
  *
  * A warm-up pass (droppable JVM/codegen/parquet-footer costs) runs first so
  * the timings measure the queries, not first-touch initialization.
  *
  * Cache hygiene: op-internal caches (OpCaches) and any catalog-cached
  * frames are released between queries — otherwise a 90+-query session
  * accumulates cached shingle/signature frames across queries and timings
  * measure storage-eviction churn, not the query (round-2 lesson: 1.8×
  * session-wide slowdown from exactly this).
  *
  * Budgets are DERIVED, not hand-listed: budget(q) = max(4 s floor,
  * 2 × q's time in bench_history.json from the previous run). Every query
  * gets a budget by construction — new queries start at the floor, and a
  * query that doubles round-over-round flags itself. The history file is
  * rewritten after each run.
  */
object Bench {
  private val HistoryPath = java.nio.file.Paths.get(
    sys.env.getOrElse("SPARK_GRAFT_BENCH_HISTORY", "bench_history.json"))
  // Floors: a query WITH a history entry gets
  //   max(2 × prev, min(2 s, 2.5 × prev), 0.25 s)
  // — the old flat "max(2 s, 2×prev)" exempted every sub-2 s query from
  // relative regressions entirely (round-9 blind spot: w10_forward_fill
  // 0.066→0.133 s, w8_sessionize 0.219→0.455 s ran >2× history without
  // flagging). The 2.5× relative term surfaces those; the 0.25 s absolute
  // micro-floor keeps best-of-3 jitter on sub-0.1 s queries (a single GC
  // pause doubles them routinely) from false-tripping. A query WITHOUT
  // history (first round it exists) keeps the looser 4 s floor: there is
  // no baseline to regress from, and first measurements carry codegen/JIT
  // noise. Constants and all budget/host-factor arithmetic live in
  // [[BenchAdjudication]] (pure, spec-pinned).

  /** {"query":seconds,...} from the previous run AT THE SAME SCALE FACTOR
    * (empty otherwise — budgets derived from a different sf would flag or
    * exempt everything). The file's first entry is the "__sf" marker.
    * Fully defensive: a corrupt/unreadable history degrades to floor
    * budgets, never to a crash after the queries have already run.
    */
  private def loadHistory(sfDir: String): Map[String, Double] =
    try {
      if (!java.nio.file.Files.exists(HistoryPath)) Map.empty
      else {
        val txt = java.nio.file.Files.readString(HistoryPath)
        val sfOk = "\"__sf\"\\s*:\\s*\"([^\"]*)\"".r.findFirstMatchIn(txt)
          .exists(_.group(1) == sfDir)
        if (!sfOk) Map.empty
        else "\"([A-Za-z0-9_]+)\"\\s*:\\s*(-?[0-9]+(?:\\.[0-9]*)?(?:[eE][-+]?[0-9]+)?)".r
          .findAllMatchIn(txt)
          .flatMap(m => m.group(2).toDoubleOption.map(m.group(1) -> _))
          .toMap
      }
    } catch { case _: Throwable => Map.empty }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.configure(
      SparkSession.builder().master(s"local[$cpus]"),
      shufflePartitions = cpus.toInt
    ).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // Untimed-overhead ledger (stderr only): the r16 32-core session hit
    // the driver's wall timeout (rc=124) with per-query floors summing to
    // just ~149 s — the wall lives in the untimed hygiene and repeat runs,
    // so the session reports where its wall actually went.
    var releaseSec = 0.0
    var gcSec = 0.0
    var releaseN = 0
    // System.gc() cadence: a FULL STW collection on the 32 GiB bench heap
    // is the single most expensive line of the session when run after
    // every query (~2×N_queries invocations). The round-8 lesson it fixes
    // — ContextCleaner's weak refs lagging ~140 queries behind — only
    // needs the gc often enough to bound the lag to a handful of queries;
    // every 4th release keeps the bound at ≤4 queries for a quarter of
    // the cost. SPARK_GRAFT_GC_EVERY=1 restores the old every-query
    // behavior (cadence only — recorded seconds are untouched either way;
    // the between-runs caches, blocking unpersist and clearCache still
    // run every query).
    val gcEvery = sys.env.get("SPARK_GRAFT_GC_EVERY").flatMap(_.toIntOption)
      .filter(_ > 0).getOrElse(4)
    def release(): Unit = {
      val t0 = System.nanoTime()
      // BLOCKING unpersist: async removal let a heavy query start while the
      // previous query's cached partitions still held storage memory — in
      // the 272-query round-9 session that eviction churn pushed exactly
      // the cache-heavy dedup/curation composites over budget while the
      // no-cache sentinel basket stayed flat (none of the 8 reproduced in
      // an isolated run). The wait is untimed; paying it here keeps the
      // timed runs measuring the query.
      graft.ops.OpCaches.releaseAll(blocking = true)
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(rdd => try rdd.unpersist(blocking = true)
          catch { case _: Throwable => () })
      // Nudge the ContextCleaner: broadcast blocks / shuffle files are
      // reclaimed only when their weak refs get GC-enqueued — round-8
      // sentinel traces showed a reproducible 2.5× LATE-SESSION slowdown
      // (readings 0.33 → 0.91 s after ~140 queries) from exactly this
      // accumulation. Throttled to every `gcEvery`th release (see above).
      releaseN += 1
      if (releaseN % gcEvery == 0) {
        val g0 = System.nanoTime()
        System.gc()
        gcSec += (System.nanoTime() - g0) / 1e9
      }
      releaseSec += (System.nanoTime() - t0) / 1e9
    }

    // Warm-up pass: run every query once untimed so the timed pass measures
    // steady-state execution (codegen compilation and JIT dominate first
    // runs by 3-8×), then time each query.
    // SPARK_GRAFT_ONLY=q1,q2 restricts the run for targeted iteration on a
    // few queries (the driver's full run sets no filter). A typo'd name
    // would otherwise silently benchmark nothing and look green.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // The replay probe is a special branch below, not a SparkEntry query —
    // its name is still a valid ONLY target, so exclude it from the
    // unknown-name check (tools/bench_sf1.sh lists it).
    only.foreach(_.diff(SparkEntry.queries.keySet +
        "stream_replay_throughput" + "stream_admission_throughput")
      .foreach(n =>
        System.err.println(s"[bench] WARNING: unknown query name '$n'")))
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    val sessionT0 = System.nanoTime()
    def phaseSec = (System.nanoTime() - sessionT0) / 1e9
    ordered.foreach { case (_, fn) =>
      try { fn(spark, sfDir).count() } catch { case _: Throwable => () }
      release()
    }
    val warmupSec = phaseSec
    // Session-noise sentinel: a BASKET of cheap queries re-timed every 20
    // queries. Round 7 lost a verdict cycle to a driver session that ran
    // globally 1.6-1.7× slow (sustained machine load defeated even
    // best-of-3) and false-flagged 5 queries; with the sentinel, that
    // session would have self-reported. A basket (sum of best-of-2 per
    // query, ~0.3-0.5 s total) rather than one ~0.1 s query: single
    // sub-200 ms measurements carry 2× tail jitter that false-trips, while
    // sustained load inflates every basket member at once.
    val sentinelFns = Seq("a1_kpis", "a10_counts", "a5_column_bounds")
      .flatMap(SparkEntry.queries.get)
    // Mid-weight sentinel (~1 s, shuffle+agg heavy): discriminates "the
    // heavy queries slowed" from "the machine slowed". Round 9's cheap
    // basket stayed flat while 8 composites flagged — a cheap basket alone
    // cannot tell genuine composite regressions from load that only bites
    // memory/shuffle-heavy work.
    val sentinelMidFns = Seq("text_tfidf_top_terms")
      .flatMap(SparkEntry.queries.get)
    def timeBasket(fns: Seq[(SparkSession, String) => org.apache.spark.sql.DataFrame]): Double =
      if (fns.isEmpty) -1.0 else {
        release()
        fns.map { fn =>
          (1 to 2).map { _ =>
            val t0 = System.nanoTime()
            try { fn(spark, sfDir).count(); (System.nanoTime() - t0) / 1e9 }
            catch { case _: Throwable => Double.MaxValue }
          }.min
        }.sum
      }
    def timeSentinel(): Double = timeBasket(sentinelFns)
    timeSentinel() // warm (ONLY-filtered runs skip it in the warm-up pass)
    timeBasket(sentinelMidFns) // warm
    val sentinel0 = timeSentinel()
    val sentinelTimes = scala.collection.mutable.ArrayBuffer(sentinel0)
    val sentinelMidTimes = scala.collection.mutable.ArrayBuffer(timeBasket(sentinelMidFns))
    // Query-index position of each basket reading (0 = pre-session; the
    // end-of-session reading appends ordered.size below) — the local
    // host-factor adjudication brackets each query between the two
    // readings surrounding its run position.
    val sentinelPositions = scala.collection.mutable.ArrayBuffer(0)
    // Best of 3 timed runs per query (local timing noise is substantial —
    // a single whole-session GC pause has been observed to triple a
    // sub-2 s query across two consecutive runs, which would false-flag
    // the derived 2× budget). WALL TRIM (r16 verdict #2: the 32-core
    // session must clear the driver's timeout with 2.5×-noise-host
    // margin): a query whose first two runs already agree under 0.3 s
    // keeps best-of-2 — ~210 of the 337 rows are sub-0.3 s, their 2×
    // budgets carry a 0.25 s absolute micro-floor, and the third sample
    // only ever defended against a single GC pause, which the min of two
    // runs plus the second-chance re-measure already covers.
    // Caches are cleared BETWEEN queries (so query N+1 never pays or profits
    // from query N's caches) but not between the two runs of one query —
    // run 2 measures the op-cache-warm steady state, matching how a repeated
    // production query would behave.
    // A failing query records the sentinel -1, NOT its time-to-exception —
    // a broken query must never masquerade as a fast one.
    val results = ordered.zipWithIndex.map { case ((name, fn), idx) =>
      if (idx > 0 && idx % 20 == 0) {
        sentinelTimes += timeSentinel()
        sentinelMidTimes += timeBasket(sentinelMidFns)
        sentinelPositions += idx
      }
      release()
      def runOnce(): Double = {
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).count(); (System.nanoTime() - t0) / 1e9 }
        catch { case _: Throwable => -1.0 }
      }
      val t1 = runOnce()
      val t2 = runOnce()
      val best = if (t1 < 0 || t2 < 0) -1.0
        else if (math.max(t1, t2) < 0.3) math.min(t1, t2)
        else {
          val t3 = runOnce()
          if (t3 < 0) -1.0 else math.min(math.min(t1, t2), t3)
        }
      name -> best
    }
    val timedSec = phaseSec - warmupSec
    // Streaming replay throughput (r10 verdict #6): the DSv2 replay
    // source — paged cursor, admission control — previously regressed
    // invisibly because only specs exercised it. A fixed 16-trigger
    // replay of the events table makes a cursor or planning regression
    // show up in BENCH files. Prep (normalized parquet copy, span probe)
    // is untimed and happens once; each timed run gets a fresh checkpoint
    // so the source actually replays. A def (not an inline block) so the
    // end-of-session adjudication pass below can re-measure it.
    val replayName = "stream_replay_throughput"
    var replayPrep: Option[(String, Double)] = None
    var replayCkptN = 0
    def prepRaw(): (String, Double) = replayPrep.getOrElse {
      val work = java.nio.file.Files
        .createTempDirectory("graft_bench_replay").toString
      val ev = graft.sources.Tables.events(spark, sfDir)
      val rawP = s"$work/raw"
      ev.write.mode("overwrite").parquet(rawP)
      val span = ev.agg(org.apache.spark.sql.functions.min("ts"),
        org.apache.spark.sql.functions.max("ts")).head()
      val spanSec =
        (span.getTimestamp(1).getTime - span.getTimestamp(0).getTime) / 1000.0
      val p = (rawP, math.max(1.0, spanSec / 16.0))
      replayPrep = Some(p)
      p
    }
    def replayOnce(): (Double, Long) = {
      import org.apache.spark.sql.{Dataset, Row}
      val (raw, advanceSec) = prepRaw()
      release()
      replayCkptN += 1
      var rows = 0L
      val stream = spark.readStream
        .format(classOf[graft.streaming.ReplayStreamSource].getName)
        .option("path", raw).option("tsCol", "ts")
        .option("simAdvancePerTriggerSec", advanceSec.toString)
        .option("cursorPageSize", "4096")
        .load()
      val q = stream.writeStream
        .option("checkpointLocation",
          raw.stripSuffix("/raw") + s"/ckpt_$replayCkptN")
        .foreachBatch { (b: Dataset[Row], _: Long) =>
          rows += b.count(); ()
        }
        .start()
      val t0 = System.nanoTime()
      try q.processAllAvailable() finally q.stop()
      ((System.nanoTime() - t0) / 1e9, rows)
    }
    var replayEpsBest = -1.0
    val replayTime: Option[Double] =
      if (!only.forall(_.contains(replayName))) None
      else try {
        replayOnce() // untimed warm-up, matching the batch queries
        // ONE timed run (was two): each replay drains the full 16-trigger
        // session (~25 s at 32 cores), and the probe adjudicates on
        // events/s with a keep-max history and a second-chance re-measure
        // — a second back-to-back sample bought noise immunity the
        // re-measure already provides, at ~86 s of session wall across
        // the two probes (r16 verdict #2: the 32-core session timed out).
        // Throughput is computed PER RUN: pairing one run's max rows with
        // another run's min wall would overstate events/s if runs drained
        // different row counts (a partial cursor failure).
        val runs = Seq(replayOnce())
        replayEpsBest = runs.collect { case (sec, rows) if sec > 0 && rows > 0 =>
          rows / sec }.foldLeft(-1.0)(math.max)
        Some(runs.map(_._1).min)
      } catch { case _: Throwable => Some(-1.0) }
    // Streaming FOUR-ARM ADMISSION throughput (r14 verdict #5): the
    // admissionDatacard evaluated per micro-batch over the same
    // 16-trigger replay of the events table, against a static reference
    // derived once from the full table — the per-ingest log line's cost
    // MEASURED under volume, with the |sources|-bounded state claim
    // asserted per batch (the report may never exceed the source
    // count). Columns are derived map-side from events fields (8 hash
    // sources, value numeric, event_type categorical, a deterministic
    // 4-dim vector), so the row times the datacard, not a join.
    val admissionName = "stream_admission_throughput"
    var admissionCkptN = 0
    def admissionOnce(): (Double, Long) = {
      import org.apache.spark.sql.{DataFrame, Dataset, Row}
      import org.apache.spark.sql.functions._
      val (raw, advanceSec) = prepRaw()
      def derive(df: DataFrame): DataFrame = df.select(
        concat(lit("s"), pmod(col("user_id"), lit(8))).as("source"),
        col("value"), col("event_type"),
        array(col("value"),
          pmod(col("event_id"), lit(7)).cast("double"),
          pmod(col("event_id"), lit(11)).cast("double"),
          lit(1.0)).as("vec"))
      val reference = derive(spark.read.parquet(raw))
      release()
      admissionCkptN += 1
      var rows = 0L
      var maxReportRows = 0L
      val stream = spark.readStream
        .format(classOf[graft.streaming.ReplayStreamSource].getName)
        .option("path", raw).option("tsCol", "ts")
        .option("simAdvancePerTriggerSec", advanceSec.toString)
        .option("cursorPageSize", "4096")
        .load()
      val q = stream.writeStream
        .option("checkpointLocation",
          raw.stripSuffix("/raw") + s"/adm_ckpt_$admissionCkptN")
        .foreachBatch { (b: Dataset[Row], _: Long) =>
          val rep = graft.streaming.StreamAdmission.admissionDatacard(
            derive(b), reference, "source", "value", "event_type", "vec",
            col("value") > 5.0, minWilsonLo = 0.2, maxPsi = 1.0,
            maxKs = 0.5, maxJs = 0.4, minCentroidCos = 0.8,
            maxNormDelta = 0.3)
          maxReportRows = math.max(maxReportRows, rep.count())
          rows += b.count()
          // The REFERENCE is pinned across batches: its drift profile is
          // the only scoped cache, so batch 2+ reads it from cache and
          // runs the datacard plan kept from batch 1 over its own rows,
          // with no job before the action (the production pattern for a
          // stream-static reference). Both are released once after the
          // stream stops. Releasing per batch would re-scan the reference
          // and rebuild the datacard every batch, and time the cache
          // churn, not the op.
          ()
        }
        .start()
      val t0 = System.nanoTime()
      try q.processAllAvailable() finally {
        q.stop()
        graft.ops.OpCaches.releaseAll()
      }
      require(maxReportRows <= 8,
        s"admission datacard must stay |sources|-bounded, got $maxReportRows")
      ((System.nanoTime() - t0) / 1e9, rows)
    }
    var admissionEpsBest = -1.0
    val admissionTime: Option[Double] =
      if (!only.forall(_.contains(admissionName))) None
      else try {
        admissionOnce() // untimed warm-up
        val runs = Seq(admissionOnce()) // one timed run — see the replay note
        admissionEpsBest = runs.collect { case (sec, rows) if sec > 0 && rows > 0 =>
          rows / sec }.foldLeft(-1.0)(math.max)
        Some(runs.map(_._1).min)
      } catch { case _: Throwable => Some(-1.0) }
    sentinelTimes += timeSentinel() // end-of-session load check
    sentinelMidTimes += timeBasket(sentinelMidFns)
    sentinelPositions += ordered.size
    // Noise signature = SUSTAINED drift: two consecutive baskets >1.5× the
    // session's best basket (vs the best, not the first — a loaded start
    // would make everything after it look fine). A single elevated reading
    // is one GC pause / scheduler blip; round 7's false-flag session was
    // uniformly 1.6-1.7× slow for its whole duration and trips this rule
    // at every pair.
    def sustainedDrift(xs: Seq[Double]): Boolean = {
      val valid = xs.filter(t => t > 0 && t < Double.MaxValue)
      valid.size >= 2 && {
        val floor = valid.min * 1.5
        valid.sliding(2).exists(w => w.forall(_ > floor))
      }
    }
    val noiseSuspect =
      sustainedDrift(sentinelTimes.toSeq) || sustainedDrift(sentinelMidTimes.toSeq)
    val allResults = results ++ replayTime.map(replayName -> _).toSeq ++
      admissionTime.map(admissionName -> _).toSeq
    val failed = allResults.collect { case (n, t) if t < 0 => n }
    val history = loadHistory(sfDir)
    // HOST-STATE NORMALIZATION: keep-min baselines record the best host
    // state ever seen, but this box is a shared-metal VM (nonzero
    // /proc/stat steal; round-11 measured a session whose MEDIAN query
    // ran 1.6× its baseline while isolated re-runs matched it). The
    // sentinel queries ARE in the history file, so each basket reading's
    // ratio to the baselines' basket measures how much slower the host
    // was AT THAT POINT of the session — and since the baskets re-time
    // every 20 queries, each query adjudicates against the host factor
    // LOCAL to its run position (the two bracketing readings), not the
    // session median (r15 verdict #2: under bursty steal the median
    // normalizes sustained load but still lets a burst-window query
    // flag-then-retract; the local factor ends that churn, and a
    // genuine regression still flags because code slowdowns don't move
    // the sentinels). Both cost classes contribute — a query is only
    // exonerated by drift its own class shows; the larger ratio still
    // flags anything outgrowing both. Factors clamp to [1, 2.5] and the
    // keep-min ratchet is untouched, so a slow host never corrupts the
    // baselines. All arithmetic in [[BenchAdjudication]] (spec-pinned).
    val checkpoints = BenchAdjudication.Checkpoints(
      sentinelPositions.toVector, sentinelTimes.toVector,
      sentinelMidTimes.toVector)
    val histCheap: Double = {
      val basketNames = Seq("a1_kpis", "a10_counts", "a5_column_bounds")
      val histBasket = basketNames.flatMap(history.get)
      if (histBasket.size == basketNames.size && histBasket.sum > 0)
        histBasket.sum
      else -1.0
    }
    val histMid: Double =
      history.get("text_tfidf_top_terms").filter(_ > 0).getOrElse(-1.0)
    // Session-typical factor: reported, and the normalizer for the
    // session-spanning throughput rows below.
    val hostFactor: Double =
      BenchAdjudication.sessionFactor(checkpoints, histCheap, histMid)
    val queryIndex: Map[String, Int] =
      ordered.map(_._1).zipWithIndex.toMap
    def budget(q: String): Double =
      BenchAdjudication.budget(history, q,
        queryIndex.get(q)
          .map(i => BenchAdjudication.localFactor(checkpoints, i, histCheap,
            histMid))
          .getOrElse(hostFactor))
    // Re-measures run after the last timed query → they adjudicate at
    // the END-of-session factor, not their original position's.
    def reMeasureBudget(q: String): Double =
      BenchAdjudication.budget(history, q,
        BenchAdjudication.endFactor(checkpoints, histCheap, histMid))
    // The replay row is budgeted on THROUGHPUT (events/s — scale-invariant),
    // never on wall seconds: the harness drains a FIXED 16-trigger replay,
    // so at small sf the wall measures 16 trigger overheads and at large sf
    // it measures the source — a wall budget flagged the row in 3/3
    // round-11 sessions with zero code change. History keeps the best
    // events/s ever seen under "__replay_eps" (keep-max, bounded); this
    // session flags only if its eps falls below half that, relaxed by the
    // same host factor that scales the wall budgets.
    val replayEps = replayEpsBest
    val replayEpsBudget: Option[Double] =
      history.get("__replay_eps").filter(_ > 0).map(h => 0.5 * h / hostFactor)
    val replayFlagged = replayTime.isDefined &&
      (replayEps <= 0 || replayEpsBudget.exists(replayEps < _))
    // The admission row mirrors the replay row's throughput budget under
    // its own keep-max key.
    val admissionEps = admissionEpsBest
    val admissionEpsBudget: Option[Double] =
      history.get("__admission_eps").filter(_ > 0).map(h => 0.5 * h / hostFactor)
    val admissionFlagged = admissionTime.isDefined &&
      (admissionEps <= 0 || admissionEpsBudget.exists(admissionEps < _))
    val overInitial = results.collect { case (n, t) if t > budget(n) => n } ++
      (if (replayFlagged) Seq(replayName) else Nil) ++
      (if (admissionFlagged) Seq(admissionName) else Nil)
    // SECOND-CHANCE ADJUDICATION (round-11 verdict #1): this box shows
    // bursty CPU steal — three round-11 sessions self-flagged noise with
    // DISJOINT over-budget sets, and every hand-run isolated re-measure of
    // a flagged query matched its baseline. Automate exactly that: each
    // over-budget query is re-measured once more HERE, at the end of the
    // session (isolated position, after the last timed query). A query that
    // returns to ≤ budget is reported under "over_budget_retracted" — a
    // burst window swallowed its best-of-3 — and its clean re-measured time
    // participates in the ratchet; a query still over budget survives in
    // "over_budget" carrying its failed re-measure in "re_measure" (the
    // replay row's re_measure value is events/s, matching its budget).
    val reMeasure: Map[String, Double] = overInitial.map { n =>
      if (n == replayName) {
        val (sec, rows) =
          try replayOnce() catch { case _: Throwable => (-1.0, 0L) }
        n -> (if (sec > 0 && rows > 0) rows / sec else -1.0)
      } else if (n == admissionName) {
        val (sec, rows) =
          try admissionOnce() catch { case _: Throwable => (-1.0, 0L) }
        n -> (if (sec > 0 && rows > 0) rows / sec else -1.0)
      } else {
        val fn = SparkEntry.queries(n)
        release()
        val times = (1 to 3).map { _ =>
          val t0 = System.nanoTime()
          try { fn(spark, sfDir).count(); (System.nanoTime() - t0) / 1e9 }
          catch { case _: Throwable => -1.0 }
        }
        n -> (if (times.exists(_ < 0)) -1.0 else times.min)
      }
    }.toMap
    val retracted = overInitial.filter { n =>
      val r = reMeasure.getOrElse(n, -1.0)
      if (n == replayName) r > 0 && replayEpsBudget.forall(r >= _)
      else if (n == admissionName) r > 0 && admissionEpsBudget.forall(r >= _)
      else r >= 0 && r <= reMeasureBudget(n)
    }
    val overBudget = overInitial.filterNot(retracted.contains)
    // Ratchet input: a retracted query's best CLEAN measurement (the
    // re-measure, or the original if it was somehow faster).
    val adjudicated = allResults.map { case (n, t) =>
      if (n != replayName && n != admissionName && retracted.contains(n) &&
          reMeasure.getOrElse(n, -1.0) >= 0)
        n -> math.min(t, reMeasure(n))
      else n -> t
    }
    val bestEps = math.max(replayEps,
      if (overInitial.contains(replayName))
        reMeasure.getOrElse(replayName, -1.0)
      else -1.0)
    val bestAdmissionEps = math.max(admissionEps,
      if (overInitial.contains(admissionName))
        reMeasure.getOrElse(admissionName, -1.0)
      else -1.0)
    val qs = allResults.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    def arr(xs: Seq[String]) = xs.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = allResults.map(_._2).filter(_ >= 0).sum
    // JSON numbers via Locale.ROOT: the default-locale f-interpolator
    // emits a comma decimal separator under e.g. de_DE, producing
    // invalid JSON.
    def jnum(v: Double, digits: Int): String =
      String.format(java.util.Locale.ROOT, s"%.${digits}f", Double.box(v))
    def basketJson(xs: Seq[Double]) = xs.filter(_ != Double.MaxValue)
      .map(t => jnum(t, 4)).mkString("[", ",", "]")
    val sentinelJson = basketJson(sentinelTimes.toSeq)
    val sentinelMidJson = basketJson(sentinelMidTimes.toSeq)
    val reMeasureJson = reMeasure.toSeq.sortBy(_._1)
      .map { case (k, v) => s"\"$k\":${jnum(v, 4)}" }
      .mkString("{", ",", "}")
    val fullJson =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,""" +
      s""""failed":${arr(failed)},"over_budget":${arr(overBudget)},""" +
      s""""over_budget_retracted":${arr(retracted)},""" +
      s""""re_measure":$reMeasureJson,""" +
      s""""noise_suspect":$noiseSuspect,"sentinel_sec":$sentinelJson,""" +
      s""""sentinel_mid_sec":$sentinelMidJson,""" +
      s""""host_factor":${jnum(hostFactor, 3)},""" +
      s""""stream_replay_events_per_sec":${jnum(replayEps, 1)},""" +
      s""""stream_admission_events_per_sec":${jnum(admissionEps, 1)},""" +
      s""""sf":"$sfDir"}"""
    println(fullJson)
    // The contractual line above is ~15 KB (337 per-query entries) and the
    // driver captures only a bounded output TAIL — r13–r15 all ran green
    // yet parsed as null because the tail cut the line mid-JSON (r16
    // verdict #2). Two truncation-proof channels, ADDITIVE to the
    // contract: the full line is also written to bench_out.json, and a
    // compact self-contained summary line (fits any sane tail window)
    // prints LAST so a tail capture always ends with parseable JSON.
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")), fullJson)
    catch { case _: Throwable => () }
    System.out.flush()
    println(s"""{"metric":"summary","total_sec":${jnum(total, 2)},""" +
      s""""n":${allResults.size},"failed":${arr(failed)},""" +
      s""""over_budget":${arr(overBudget)},""" +
      s""""noise_suspect":$noiseSuspect,""" +
      s""""host_factor":${jnum(hostFactor, 3)},""" +
      s""""stream_replay_events_per_sec":${jnum(replayEps, 1)},""" +
      s""""stream_admission_events_per_sec":${jnum(admissionEps, 1)},""" +
      s""""full_json":"bench_out.json","sf":"$sfDir"}""")
    // Untimed-overhead ledger (stderr): where the session wall went.
    System.err.println(f"[bench] wall ledger: warmup=$warmupSec%.1f s " +
      f"timed=$timedSec%.1f s post=${phaseSec - warmupSec - timedSec}%.1f s " +
      f"release=$releaseSec%.1f s (of which gc=$gcSec%.1f s, " +
      f"n=$releaseN, every=$gcEvery) total=$phaseSec%.1f s")
    // Persist this run's timings as the next run's budget baseline,
    // KEEP-MIN per query: a session on a slower host (round-8 lesson:
    // a uniformly 1.5× session with a stable sentinel) must never relax
    // the budgets best-ever measurements established — only a genuinely
    // faster measurement ratchets. Failed queries keep their previous
    // entry (no -1 sentinel poisoning), and so do OVER-BUDGET queries —
    // otherwise a regression is flagged exactly once and then ratified
    // as the new baseline. A noise-suspect session never ratchets: its
    // timings measure the machine, not the queries.
    // The ratchet is BOUNDED per run (never below prev/2): one
    // anomalously fast fluke measurement — a timer hiccup, an
    // accidentally-warm cache — would otherwise tighten the 2× budget
    // forever with no recovery, flagging every later honest run. A real
    // speedup still converges: each clean run halves the floor until
    // the true time is reached. SPARK_GRAFT_BENCH_RESET=1 is the
    // explicit escape hatch — discard history, re-seed from this run.
    try {
      if (!noiseSuspect) {
        val over = overBudget.toSet
        val reset = sys.env.get("SPARK_GRAFT_BENCH_RESET").contains("1")
        // The replay row is budgeted solely on __replay_eps; a wall-seconds
        // baseline for it would be dead history data, so it is dropped from
        // the keep-min merge (and any stale entry from the base map).
        val base =
          (if (reset) Map.empty[String, Double] else history) -
            replayName - admissionName
        // A FIRST measurement (no history entry) seeds the baseline even
        // when it trips the 4 s floor: the floor flag means "no baseline
        // to compare against", and without seeding, a legitimately-heavy
        // new query would be flagged on every run forever and never
        // ratified (round-9 lesson: three new graph/bootstrap queries).
        val merged = base ++
          adjudicated.filter { case (n, t) =>
            n != replayName && n != admissionName && t >= 0 &&
              (!over.contains(n) || !base.contains(n)) }
            .map { case (n, t) =>
              n -> base.get(n).filter(_ > 0)
                .fold(t)(prev => math.min(prev, math.max(t, prev / 2.0))) }
            .toMap ++
          // Replay throughput baseline: keep-MAX (best events/s ever),
          // bounded per run (never above 2× prev) so one fluke-fast
          // measurement can't set an unreachable bar, mirroring the
          // keep-min ratchet's prev/2 bound.
          (if (bestEps > 0 && !overBudget.contains(replayName))
            Map("__replay_eps" -> base.get("__replay_eps").filter(_ > 0)
              .fold(bestEps)(p => math.max(p, math.min(bestEps, p * 2.0))))
          else Map.empty[String, Double]) ++
          (if (bestAdmissionEps > 0 && !overBudget.contains(admissionName))
            Map("__admission_eps" -> base.get("__admission_eps").filter(_ > 0)
              .fold(bestAdmissionEps)(p =>
                math.max(p, math.min(bestAdmissionEps, p * 2.0))))
          else Map.empty[String, Double])
        val body = merged.toSeq.sortBy(_._1)
          .map { case (k, v) => s"\"$k\":$v" }
          .mkString(s"""{"__sf":"$sfDir",""", ",", "}")
        java.nio.file.Files.writeString(HistoryPath, body)
      }
    } catch { case _: Throwable => () }
    spark.stop()
  }
}
