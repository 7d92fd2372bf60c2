package graft

import org.apache.spark.sql.functions.col
import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.Prop.{forAll, propBoolean}

import graft.ops.{CohortFilter, SafeBand, SeriesOps}

/** Property-based invariants (SURVEY.md §5 item 3), evaluated against an
  * in-memory re-implementation of the predicate semantics.
  */
object GraftProperties extends Properties("graft") {

  // Spark jobs per sample are ~100 ms; keep the sample count bounded.
  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(8)

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val genRow: Gen[(String, Option[Double], Option[String])] = for {
    id <- Gen.identifier.map(_.take(6))
    age <- Gen.option(Gen.choose(0.0, 100.0))
    state <- Gen.option(Gen.oneOf("CA", "NY", "TX"))
  } yield (id, age, state)

  property("filter builder equals row-wise predicate evaluation (P4/P5/P8)") =
    forAll(Gen.listOfN(40, genRow), Gen.choose(0.0, 50.0), Gen.choose(50.0, 100.0),
      Gen.someOf("CA", "NY")) { (rows, lo, hi, states) =>
      val df = rows.toDF("user_id", "age", "state")
      val filters = Seq(
        CohortFilter.NumericRange("age", lo, hi),
        CohortFilter.CategoricalIn("state", states.toSeq))
      val got = CohortFilter(df, filters).select("user_id").as[String]
        .collect().sorted.toSeq
      val expect = rows.filter { case (_, age, state) =>
        val p4 = age.forall(a => a >= lo && a <= hi) // null-tolerant
        val p5 = states.isEmpty || state.forall(states.contains)
        p4 && p5
      }.map(_._1).sorted
      got == expect
    }

  private val genSeries: Gen[List[(Long, Double)]] =
    Gen.listOfN(60, Gen.zip(Gen.choose(0L, versionedSpanUs), Gen.choose(0.0, 200.0)))
  private val versionedSpanUs = 40L * 86400L * 1000000L

  property("density buckets partition the series: sum(total)==n, unsafe<=total (A8)") =
    forAll(genSeries) { rows =>
      (rows.size > 1) ==> {
        val df = rows.map { case (us, v) => (new java.sql.Timestamp(us / 1000), v) }
          .toDF("ts", "value")
        val buckets = SafeBand.densityBuckets(df, "ts", "value", minBuckets = 10,
          minBucketSeconds = 60).collect()
        val totalOk = buckets.map(_.getAs[Long]("total_rows")).sum == rows.size
        val boundOk = buckets.forall(b =>
          b.getAs[Long]("unsafe_rows") <= b.getAs[Long]("total_rows"))
        Prop(totalOk && boundOk)
      }
    }

  private val genTod: Gen[String] = for {
    h <- Gen.choose(0, 23); m <- Gen.choose(0, 59); s <- Gen.choose(0, 59)
  } yield f"$h%02d:$m%02d:$s%02d"

  property("time-of-day wrap predicate equals direct comparison (P11)") =
    forAll(Gen.listOfN(30, Gen.choose(0L, 3L * 86400 - 1)), genTod, genTod) {
      (secs, start, end) =>
        val df = secs.map(s => new java.sql.Timestamp(s * 1000L)).toDF("ts")
        val got = SeriesOps.timeOfDayRange(df, "ts", start, end).count()
        val expect = secs.count { s =>
          val tod = f"${s / 3600 % 24}%02d:${s / 60 % 60}%02d:${s % 60}%02d"
          if (start <= end) tod >= start && tod <= end
          else tod >= start || tod <= end
        }
        got == expect.toLong
    }

  property("native dot product ≡ fold formulation on arbitrary vectors") =
    forAll(Gen.choose(1, 48).flatMap(n =>
      Gen.zip(Gen.listOfN(n, Gen.choose(-1e3, 1e3)),
        Gen.listOfN(n, Gen.choose(-1e3, 1e3))))) { case (xs, ys) =>
      import graft.functions.VectorFunctions
      val df = Seq((xs, ys)).toDF("a", "b")
      val r = df.select(
        VectorFunctions.dotD(org.apache.spark.sql.functions.col("a"),
          org.apache.spark.sql.functions.col("b")).as("fast"),
        VectorFunctions.dotFold(org.apache.spark.sql.functions.col("a"),
          org.apache.spark.sql.functions.col("b")).as("fold")).head()
      // Bit-identical, not approximately equal: same sequential left fold.
      Prop(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1)))
    }

  property("native l2sq table ≡ transform(round(l2sq_fold)) on arbitrary codebooks") =
    forAll(Gen.choose(1, 8).flatMap { d =>
      Gen.zip(
        Gen.listOfN(d, Gen.choose(-10.0, 10.0)),
        Gen.choose(1, 16).flatMap(k => Gen.listOfN(k,
          Gen.oneOf(
            Gen.listOfN(d, Gen.choose(-10.0, 10.0)),
            // gap slots in a dense PQ table are all-NaN centroids
            Gen.const(List.fill(d)(Double.NaN))))))
    }) { case (sv, mat) =>
      import org.apache.spark.sql.functions.{col => c, round, transform, typedlit}
      import org.apache.spark.sql.graft.CatalystBridge
      import graft.functions.{VectorExpressions, VectorFunctions}
      val df = Seq(Tuple1(sv)).toDF("sv")
      val native = CatalystBridge.column(VectorExpressions.L2SqTableD(
        CatalystBridge.expression(c("sv")),
        CatalystBridge.expression(typedlit(mat))))
      val reference = transform(typedlit(mat),
        x => round(VectorFunctions.l2sqFold(c("sv"), x), 6))
      val r = df.select(native.as("fast"), reference.as("ref")).head()
      val fast = r.getSeq[java.lang.Double](0)
      val ref = r.getSeq[java.lang.Double](1)
      Prop(fast.size == ref.size && fast.zip(ref).forall { case (a, b) =>
        (a == null && b == null) || (a != null && b != null &&
          java.lang.Double.doubleToLongBits(a) == java.lang.Double.doubleToLongBits(b))
      })
    }

  property("native cosine table ≡ transform(round(dot/nullif)) on arbitrary codebooks") =
    forAll(Gen.choose(1, 8).flatMap { d =>
      Gen.zip(
        // include the zero vector (zero norm) to hit the nullif path
        Gen.oneOf(Gen.listOfN(d, Gen.choose(-10.0, 10.0)),
          Gen.const(List.fill(d)(0.0))),
        Gen.choose(1, 12).flatMap(k => Gen.listOfN(k,
          Gen.oneOf(Gen.listOfN(d, Gen.choose(-10.0, 10.0)),
            Gen.const(List.fill(d)(0.0))))))
    }) { case (sv, cents) =>
      import org.apache.spark.sql.functions.{col => c, lit, nullif, round, transform, typedlit}
      import org.apache.spark.sql.graft.CatalystBridge
      import graft.functions.{VectorExpressions, VectorFunctions}
      def foldNorm(v: Seq[Double]) = math.sqrt(v.foldLeft(0.0)((a, x) => a + x * x))
      val mat = cents.map(v => (v, foldNorm(v)))
      val df = Seq((sv, foldNorm(sv))).toDF("sv", "n")
      val native = CatalystBridge.column(VectorExpressions.CosTableD(
        CatalystBridge.expression(c("sv")), CatalystBridge.expression(c("n")),
        CatalystBridge.expression(typedlit(mat))))
      val reference = transform(typedlit(mat), x =>
        round(VectorFunctions.dotD(c("sv"), x.getField("_1")) /
          nullif(c("n") * x.getField("_2"), lit(0.0)), 6))
      val r = df.select(native.as("fast"), reference.as("ref")).head()
      val fast = r.getSeq[java.lang.Double](0)
      val ref = r.getSeq[java.lang.Double](1)
      Prop(fast.size == ref.size && fast.zip(ref).forall { case (a, b) =>
        (a == null && b == null) || (a != null && b != null &&
          java.lang.Double.doubleToLongBits(a) == java.lang.Double.doubleToLongBits(b))
      })
    }

  property("sequence packing tiles each shard: contiguous offsets, bounded pos (L65)") =
    forAll(Gen.listOfN(40, Gen.choose(1, 400))) { tokenCounts =>
      (tokenCounts.nonEmpty) ==> {
        val df = tokenCounts.zipWithIndex.map { case (t, i) => (i.toLong, t.toLong) }
          .toDF("doc_id", "n_tokens")
        val out = graft.ops.Packing
          .packSequences(df, "doc_id", "n_tokens", seqTokens = 256, nShards = 4)
          .collect()
          .map(r => (r.getAs[Int]("shard"), r.getAs[Long]("doc_id"),
            r.getAs[Long]("offset"), r.getAs[Long]("seq_in_shard"),
            r.getAs[Long]("pos_in_seq")))
        val tokensById = tokenCounts.zipWithIndex
          .map { case (t, i) => i.toLong -> t.toLong }.toMap
        // Within a shard, offsets ordered by offset are exactly the running
        // sum of the previous docs' token counts (no gaps, no overlap), and
        // every pos_in_seq agrees with offset % seqTokens.
        val perShard = out.groupBy(_._1).values.forall { rows =>
          val sorted = rows.sortBy(_._3)
          val contiguous = sorted.zip(sorted.scanLeft(0L) {
            case (acc, (_, id, _, _, _)) => acc + tokensById(id)
          }).forall { case ((_, _, off, _, _), expect) => off == expect }
          contiguous && rows.forall { case (_, _, off, seq, pos) =>
            seq == off / 256 && pos == off % 256 && pos < 256
          }
        }
        Prop(perShard && out.length == tokenCounts.size)
      }
    }

  property("int8 quantization: |q| <= 127 and per-element error <= scale/2 (L67)") =
    forAll(Gen.choose(2, 24).flatMap(n =>
      Gen.listOfN(n, Gen.choose(-50.0, 50.0)))) { xs =>
      xs.exists(_ != 0.0) ==> {
        val df = Seq((1L, xs)).toDF("vec_id", "embedding")
        val r = graft.ops.Similarity.quantizeInt8(df, "vec_id", "embedding").head()
        val scale = r.getAs[Long]("scale_e9") / 1e9
        val q = r.getSeq[Long](r.fieldIndex("q"))
        val bounded = q.forall(v => math.abs(v) <= 127)
        // scale_e9 floors, so allow one representation ulp of slack.
        val errOk = r.getAs[Long]("max_err_e6") / 1e6 <= scale / 2 + 1e-6
        Prop(bounded && errOk)
      }
    }

  property("dedup keep-first: one row per key, minimal tiebreak (U4)") =
    // Seqs are distinct BY CONSTRUCTION (a shuffled prefix of 0..n-1 scaled by a
    // stride), never via a `==>` filter: the old all-distinct precondition
    // discarded ~71% of draws and made ScalaCheck intermittently give up.
    forAll(
      Gen.choose(1, 50).flatMap { n =>
        Gen.zip(Gen.listOfN(n, Gen.choose(0, 5)), Gen.choose(1L, 20L))
      }) { case (keys, stride) =>
      val rows = keys.zipWithIndex.map { case (k, i) => (k, i.toLong * stride) }
      val shuffled = rows.sortBy { case (k, s) => (s * 2654435761L) ^ k }
      val df = shuffled.map { case (k, tb) => (k.toString, tb, tb * 2.0) }
        .toDF("key", "seq", "value")
      val got = SeriesOps.dedupKeepFirst(df, Seq("key"), "seq")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val expect = rows.groupBy(_._1.toString).map { case (k, g) => k -> g.map(_._2).min }
      Prop(got == expect)
    }

  property("CDC chunks partition the document: reassembly is lossless (L113)") =
    forAll(Gen.choose(1, 80).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("aa", "bb", "cc", "dd", "ee", "ff", "gg", "hh")))) { toks =>
      val text = toks.mkString(" ")
      val df = Seq((1L, text)).toDF("doc_id", "text")
      val chunks = graft.ops.TextAnalysis.cdcChunks(df, "doc_id", "text",
          avgTokens = 4)
        .orderBy("chunk_idx").collect()
      // Reassembly needs the chunk TEXT — recompute it from the doc by
      // token counts (chunks are contiguous by construction).
      val lens = chunks.map(_.getAs[Long]("n_tokens").toInt)
      val ids = chunks.map(_.getAs[Int]("chunk_idx")).toSeq
      Prop(lens.sum == toks.size && ids == ids.indices)
    }

  property("tokenBudget equals the in-memory greedy hash-prefix cut (L101)") =
    forAll(Gen.listOfN(30, Gen.zip(Gen.choose(1L, 1000L), Gen.oneOf("a", "b"),
      Gen.choose(1L, 50L))), Gen.choose(20L, 300L)) { (rowsRaw, budget) =>
      val rows = rowsRaw.distinctBy(_._1)
      val df = rows.toDF("id", "src", "w")
      val got = graft.ops.Sampling.tokenBudget(df, "id", "src", "w",
          budgets = Map("a" -> budget, "b" -> budget))
        .select("id").as[Long].collect().toSet
      val hashed = df.select(col("id"), col("src"), col("w"),
          graft.ops.Sampling.keyUniform(col("id")).as("h"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      val expect = hashed.groupBy(_._2).flatMap { case (_, g) =>
        var cum = 0L
        g.sortBy(r => (r._4, r._1)).takeWhile { r =>
          cum += r._3; cum <= budget
        }.map(_._1).toSeq
      }.toSet
      Prop(got == expect)
    }

  // Disjoint-vocab templates: docs in the same group are near-dups (same
  // text ⇒ J=1; suffixed variant keeps J well above 0.5), cross-group J=0.
  private val softGroups = Vector(
    "alpha beta gamma delta epsilon zeta eta theta",
    "one two three four five six seven eight",
    "red orange yellow green blue indigo violet ultra",
    "north south east west up down left right")

  property("streaming soft-dedup weights equal batch recompute for ANY batch split (L154)") =
    forAll(
      Gen.listOfN(10, Gen.zip(Gen.choose(0, 3), Gen.oneOf(true, false))),
      Gen.choose(1, 4)
    ) { (specs, nBatches) =>
      (specs.nonEmpty) ==> {
        val docs = specs.zipWithIndex.map { case ((g, variant), i) =>
          val text = if (variant) softGroups(g) + s" extra" else softGroups(g)
          (i.toLong, text)
        }
        val mj = 0.5
        // Random-ish contiguous split into nBatches micro-batches.
        val per = math.max(1, docs.size / nBatches)
        val batches = docs.grouped(per).toSeq
        var store = Seq.empty[(Long, String)].toDF("doc_id", "text")
          .withColumn("cluster_id", col("doc_id"))
          .select(col("doc_id"), col("cluster_id"), col("text"))
        batches.foreach { b =>
          store = graft.streaming.StreamDedup.softDedupIngest(
            store, b.toDF("doc_id", "text"), "doc_id", "text",
            minJaccard = mj, maxDocFrequency = None,
            nPerms = 64).localCheckpoint()
        }
        val stream = graft.streaming.StreamDedup.softWeights(store, "doc_id")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
        val corpus = docs.toDF("doc_id", "text")
        val cl = graft.ops.Dedup.clusters(graft.ops.Dedup.nearDuplicates(
          corpus, "doc_id", "text", minJaccard = mj, maxDocFrequency = None,
          nPerms = 64))
        val sizes = cl.groupBy(col("cluster_id"))
          .agg(org.apache.spark.sql.functions.count(
            org.apache.spark.sql.functions.lit(1)).as("sz"))
        val batch = corpus.select(col("doc_id"))
          .join(cl, Seq("doc_id"), "left")
          .withColumn("cluster_id",
            org.apache.spark.sql.functions.coalesce(col("cluster_id"), col("doc_id")))
          .join(sizes, Seq("cluster_id"), "left")
          .select(col("doc_id"), col("cluster_id"),
            org.apache.spark.sql.functions.round(
              org.apache.spark.sql.functions.lit(1.0) /
                org.apache.spark.sql.functions.coalesce(col("sz"),
                  org.apache.spark.sql.functions.lit(1L)), 6).as("weight"))
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
        Prop(stream == batch) :| s"stream=$stream batch=$batch split=$nBatches"
      }
    }

  property("streaming funnel state equals batch funnel for ANY ordered contiguous split") =
    forAll(
      Gen.listOfN(12, Gen.zip(Gen.choose(1L, 3L), Gen.choose(0, 2), Gen.choose(0L, 120L))),
      Gen.choose(1, 5)
    ) { (evs, nBatches) =>
      evs.nonEmpty ==> {
        import graft.streaming.StreamFunnel
        import graft.streaming.StreamFunnel.{FunnelState, StageEvent}
        val stages = Seq("view", "click", "purchase")
        val winSec = 3600L // 60 min window over a 0–120 min corpus: cutoffs hit
        val batch = graft.ops.Funnel.windowedFunnel(
            evs.map { case (u, st, m) =>
              (u, stages(st), new java.sql.Timestamp(m * 60000L)) }
              .toDF("user_id", "event_type", "ts"),
            "user_id", "ts", "event_type", stages, winSec)
          .select("user_id", "funnel_level")
          .as[(Long, Int)].collect().toMap
        // Global event-time order, contiguous slices, per-user advance —
        // the exact state transition the streaming op runs per batch.
        val ordered = evs.map { case (u, st, m) =>
          StageEvent(u, m * 60000000L, st) }.sortBy(e => (e.tsUs, e.stage))
        val per = math.max(1, ordered.size / nBatches)
        val slices = ordered.grouped(per).toSeq
        val users = evs.map(_._1).distinct
        val stream = users.map { u =>
          val fin = slices.foldLeft(FunnelState(0L, 0L, 0)) { (st, slice) =>
            StreamFunnel.advance(st, slice.filter(_.userId == u),
              stages.size, winSec * 1000000L)
          }
          u -> fin.level
        }.toMap
        Prop(stream == batch) :| s"stream=$stream batch=$batch split=$nBatches"
      }
    }

  property("ooo funnel: watermark-bounded shuffle across batches equals the ordered fold") =
    forAll(
      Gen.listOfN(14, Gen.zip(Gen.choose(1L, 3L), Gen.choose(0, 2), Gen.choose(0L, 120L))),
      Gen.choose(1, 5), Gen.choose(0L, 30L), Gen.choose(1L, 997L)
    ) { (evs, nBatches, jitterMin, seed) =>
      evs.nonEmpty ==> {
        import graft.streaming.StreamFunnel
        import graft.streaming.StreamFunnel.{FunnelState, OooFunnelState, StageEvent}
        val winUs = 3600L * 1000000L
        val delayUs = jitterMin * 60000000L
        val events = evs.map { case (u, st, m) =>
          StageEvent(u, m * 60000000L, st) }
        // Arrival = event time + bounded pseudo-random jitter in
        // [0, delay]: by construction no event ever arrives with a
        // timestamp at or below (max prior event time − delay), i.e.
        // the stream honors the watermark contract the op requires.
        def jit(i: Int): Long = if (delayUs == 0) 0L
          else ((i * 2654435761L + seed) % (delayUs + 1) + delayUs + 1) %
            (delayUs + 1)
        val arrival = events.zipWithIndex
          .map { case (e, i) => (e, e.tsUs + jit(i), i) }
          .sortBy { case (_, ak, i) => (ak, i) }
        val per = math.max(1, arrival.size / nBatches)
        val batches = arrival.grouped(per).toSeq
        val users = events.map(_.userId).distinct
        // Fold the op's OWN per-trigger transition with the watermark
        // Spark would publish: max event time through the PREVIOUS
        // trigger minus the delay.
        var maxSeen = Long.MinValue
        var states = users.map(u =>
          u -> OooFunnelState(FunnelState(0L, 0L, 0), Nil, 0L)).toMap
        var lastSpec = Map.empty[Long, Int]
        batches.foreach { b =>
          val wm = if (maxSeen == Long.MinValue) Long.MinValue
            else maxSeen - delayUs
          users.foreach { u =>
            val inc = b.collect { case (e, _, _) if e.userId == u => e }
            val (ns, spec) = StreamFunnel.oooStep(states(u), inc, wm, 3, winUs)
            states += u -> ns
            lastSpec += u -> spec.level
          }
          maxSeen = math.max(maxSeen, b.map(_._1.tsUs).max)
        }
        val expect = users.map(u => u -> StreamFunnel.advance(
          FunnelState(0L, 0L, 0), events.filter(_.userId == u), 3, winUs)
          .level).toMap
        Prop(lastSpec == expect) :|
          s"got=$lastSpec expect=$expect jitter=${jitterMin}m n=$nBatches"
      }
    }

  property("range prefix sum equals the in-memory exclusive scan") =
    forAll(Gen.listOfN(40, Gen.choose(0L, 500L)), Gen.choose(1L, 999L)) {
      (weights, seed) =>
        weights.nonEmpty ==> {
          // Distinct order keys (the AUC contract: the caller aggregates
          // to distinct keys first), shuffled so the range partitioner
          // earns its keep.
          val rows = weights.zipWithIndex
            .map { case (m, i) => (i.toLong * seed % 100003L, m) }
            .distinctBy(_._1)
          val df = rows.toDF("k", "m")
          val got = graft.ops.Stats
            .withRangeCumSum(df, Seq(col("k")), col("m"), "cb")
            .select(col("k"), col("cb")).as[(Long, Long)]
            .collect().toMap
          val expect = rows.sortBy(_._1)
            .scanLeft((Long.MinValue, 0L, 0L)) { case ((_, acc, _), (k, m)) =>
              (k, acc + m, acc)
            }.drop(1).map { case (k, _, before) => k -> before }.toMap
          Prop(got == expect) :| s"got=$got expect=$expect"
        }
    }

  private val genChange: Gen[(Long, Long, Long, String, Double)] = for {
    k <- Gen.choose(1L, 5L)
    seq <- Gen.choose(1L, 50L)
    op <- Gen.frequency(3 -> Gen.const("U"), 1 -> Gen.const("D"))
    v <- Gen.choose(0, 99).map(_.toDouble)
  } yield (k, seq, 0L, op, v)

  /** Reference latest-wins semantics in plain Scala. */
  private def refApply(snapshot: Map[Long, Double],
                       changes: Seq[(Long, Long, Long, String, Double)])
      : Map[Long, Double] = {
    val latest = changes.zipWithIndex
      .groupBy(_._1._1)
      .map { case (k, cs) => k -> cs.maxBy(c => (c._1._2, c._2))._1 }
    val upserted = latest.collect { case (k, (_, _, _, "U", v)) => k -> v }
    val deleted = latest.collect { case (k, (_, _, _, "D", _)) => k }.toSet
    (snapshot -- deleted) ++ upserted
  }

  property("CDC apply: any contiguous ordered split folds to the one-shot result (L182/L200)") =
    forAll(Gen.listOfN(24, genChange), Gen.choose(1, 5)) { (raw, nBatches) =>
      raw.nonEmpty ==> {
        // Unique (seq, tie) so latest-wins is total-ordered: re-tie by index.
        val changes = raw.zipWithIndex.map { case ((k, s, _, o, v), i) =>
          (k, s, i.toLong, o, v) }
        val snapshot = Map(1L -> 100.0, 3L -> 300.0, 5L -> 500.0)
        val expect = refApply(snapshot, changes)
        val ordered = changes.sortBy(c => (c._2, c._3))
        val per = math.max(1, ordered.size / nBatches)
        var store = snapshot.toSeq.toDF("k", "v")
        ordered.grouped(per).foreach { b =>
          store = graft.streaming.StreamUpsert.upsertIngest(store,
            b.toDF("k", "seq", "tie", "op", "v"), "k", "seq", "tie", "op", "v")
            .localCheckpoint()
        }
        val folded = store.as[(Long, Double)].collect().toMap
        Prop(folded == expect) :| s"folded=$folded expect=$expect n=$nBatches"
      }
    }

  property("spearman rho is invariant under strictly monotone transforms (L269)") =
    forAll(Gen.listOfN(24, Gen.zip(Gen.choose(-50, 50), Gen.choose(-50, 50))),
      Gen.choose(1, 9)) { (pts, a) =>
      pts.size >= 3 ==> {
        val df = pts.map { case (x, y) => (x.toDouble, y.toDouble) }
          .toDF("x", "y")
        // x → a·x + 1 preserves ranks (a > 0) → identical ρ, including
        // the tie structure (equal xs stay equal).
        val tf = pts.map { case (x, y) => (a.toDouble * x + 1.0, y.toDouble) }
          .toDF("x", "y")
        val r1 = graft.ops.Stats.spearmanCorr(df, "x", "y").collect().head
        val r2 = graft.ops.Stats.spearmanCorr(tf, "x", "y").collect().head
        val same =
          if (r1.isNullAt(1)) r2.isNullAt(1)
          else !r2.isNullAt(1) && r1.getDouble(1) == r2.getDouble(1)
        Prop(same) :| s"rho(df)=$r1 rho(monotone df)=$r2"
      }
    }

  property("truncated RBO is symmetric and bounded by the withheld-tail cap (L274)") =
    forAll(Gen.choose(2, 12), Gen.choose(1L, 99L)) { (k, seed) =>
      // Two deterministic permutations of 1..k as rank lists.
      val ids = (1L to k.toLong).toSeq
      val pa = ids.sortBy(i => (i * 2654435761L + seed) % 101)
      val pb = ids.sortBy(i => (i * 40503L + seed * 7) % 103)
      val a = pa.zipWithIndex.map { case (id, i) => (id, i + 1) }.toDF("id", "rank")
      val b = pb.zipWithIndex.map { case (id, i) => (id, i + 1) }.toDF("id", "rank")
      val ab = graft.ops.Similarity.rboOverlap(a, b, "id", p = 0.5, k = k)
        .collect().head
      val ba = graft.ops.Similarity.rboOverlap(b, a, "id", p = 0.5, k = k)
        .collect().head
      // Cap = (1−p)·Σ_{d≤k} p^{d−1} = 1 − p^k (identical-list score).
      // The op ROUNDS its output to 4 dp, which can round UP past the
      // exact cap (k = 5: identical prefixes score exactly 0.96875 →
      // 0.9688) — allow the half-ULP of that rounding, not just float
      // slack (round-12 flake: falsified on exactly this boundary).
      val cap = 1.0 - math.pow(0.5, k)
      val rbo = ab.getDouble(2)
      Prop(ab == ba && rbo >= 0.0 && rbo <= cap + 5e-5 + 1e-9) :|
        s"ab=$ab ba=$ba cap=$cap"
    }

  property("TopKRerankAgg: arbitrary insert/merge/replay never dups ids, matches reference sort (L295)") =
    forAll(
      Gen.listOf(Gen.zip(Gen.choose(1L, 20L), Gen.choose(0, 100),
        Gen.choose(0, 100))),
      Gen.choose(1, 4), Gen.choose(0, 3)) { (rowsRaw, k, splitSeed) =>
      // Candidate rows may REPEAT ids (at-least-once replay); the last
      // word on an id's score is the max pcos seen (insert refreshes on
      // strictly-better). Scores are quantized ints/100 so reference
      // arithmetic is exact.
      val rows = rowsRaw.map { case (id, p, f) =>
        (id, p / 100.0, f / 100.0) }
      val candidates = k + 2
      val agg = graft.functions.TopKRerankAgg(k, candidates)
      // Split the stream into two partial buffers and merge — the
      // distributed shape (and the replay shape when both halves carry
      // the same id).
      val (r1, r2) = rows.splitAt(
        if (rows.isEmpty) 0 else splitSeed % (rows.size + 1))
      def reduceAll(rs: Seq[(Long, Double, Double)]) =
        rs.foldLeft(agg.zero) { (b, r) => agg.reduce(b, r) }
      val merged = agg.merge(reduceAll(r1), reduceAll(r2))
      val got = agg.finish(merged).toSeq
      // Reference: per id keep the entry with max (pcos, then the f that
      // arrived with it — the agg keeps the f paired with the winning p;
      // for equal p it keeps the FIRST seen, so dedupe stably), cut to
      // the top `candidates` by (pcos desc, id asc), then re-rank by
      // (fcos desc, id asc) and take k.
      val byId = rows.zipWithIndex.groupBy(_._1._1).map { case (id, g) =>
        val best = g.minBy { case ((_, p, _), idx) => (-p, idx) }._1
        (id, best._2, best._3)
      }.toSeq
      val pool = byId.sortBy { case (id, p, _) => (-p, id) }.take(candidates)
      val expected = pool.map { case (id, _, f) => (id, f) }
        .sortBy { case (id, f) => (-f, id) }.take(k)
      val noDups = got.map(_._1).distinct.size == got.size
      (Prop(noDups) :| s"dup ids in $got") &&
        (Prop(got == expected) :| s"got=$got expected=$expected rows=$rows")
    }
}
