package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative graph analytics on edge lists — PageRank centrality as the
  * canonical fixed-iteration power method (Page et al. 1999), the shape
  * every iterative DataFrame algorithm at scale takes: per iteration one
  * key-equi join (ranks onto edge sources) and one destination-keyed
  * aggregation, with `localCheckpoint` truncating the lineage every few
  * rounds so the plan does not grow exponentially with iterations (the
  * same discipline as `Dedup.clustersWithRounds`' pointer doubling).
  *
  * Scale: state is one rank row per node and the per-iteration shuffle
  * is edge-sized on even keys — the textbook Pregel-style cost. A FIXED
  * iteration count (power iteration converges geometrically at rate ≈
  * damping) keeps the plan deterministic and the oracle expressible as
  * unrolled SQL; production runs pick iterations ~ log(tolerance)/
  * log(damping).
  */
object Graph {

  /** Damped PageRank over a DIRECTED edge list, fixed iteration count.
    *
    * rank₀ = 1/N; rankₖ₊₁(v) = (1−d)/N + d·(Σ_{u→v} rankₖ(u)/outdeg(u)
    * + Dₖ/N), where Dₖ = Σ rankₖ over DANGLING nodes (no out-edge) when
    * `handleDangling` is set, else 0.
    *
    * With `handleDangling = false` every node must have at least one
    * out-edge or rank mass leaks (symmetrize the edge list for
    * undirected graphs and the contract holds by construction; the spec
    * pins Σrank = 1 there). With `handleDangling = true` the op is
    * total on arbitrary directed graphs: the dangling set is STATIC
    * (computed once, like the isolate set), and each round folds its
    * current rank mass into one 1-row aggregate that broadcasts onto
    * the rank update — one extra semi join + scalar agg per round, no
    * driver collect, and Σrank stays exactly 1 by construction:
    * (1−d) + d·((Σprev − D) + N·D/N) = 1. Self-loops and duplicate
    * edges are honored as given — `.distinct()` upstream if
    * multiplicity is not wanted.
    */
  def pagerank(edges: DataFrame, srcCol: String, dstCol: String,
               iterations: Int, damping: Double = 0.85,
               checkpointEvery: Int = 1,
               symmetrize: Boolean = false,
               handleDangling: Boolean = false): DataFrame = {
    require(iterations >= 1 && iterations <= 50, "1..50 iterations")
    require(damping > 0 && damping < 1, "damping in (0,1)")
    // The edge list joins into EVERY iteration; materialize it once —
    // callers typically pass a derived (joined/distinct) frame, and
    // without this the whole derivation re-executes per round (measured
    // 13.7 s → 2.9 s at sf0.1 for the trade-graph gate). With
    // `symmetrize`, the DIRECTED set is materialized before the reverse
    // union so the caller's derivation runs once, not once per side.
    val eIn = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .localCheckpoint()
    // r16 opt: the symmetrized union stays UNCHECKPOINTED — it is a
    // narrow double read of the checkpointed eIn, and every consumer
    // (the degree aggregation, the outdeg-attach join) re-derives it for
    // pennies, where the old second checkpoint paid a full edge-sized
    // materialization job up front. Values unchanged.
    val e0 = if (!symmetrize) eIn else
      eIn.unionByName(eIn.select(col("dst").as("src"), col("src").as("dst")))
    // Every node with its out- and in-degree, from one aggregation over
    // the edge list: the node set, the out-degrees and the static
    // isolate and dangling sets below all read it.
    val degrees = e0.select(col("src").as("node"), lit(1L).as("o"), lit(0L).as("i"))
      .unionByName(e0.select(col("dst").as("node"), lit(0L).as("o"), lit(1L).as("i")))
      .groupBy(col("node")).agg(sum(col("o")).as("outdeg"), sum(col("i")).as("indeg"))
      .localCheckpoint()
    // Out-degree rides ON the edge row: attaching it once removes a join
    // from every iteration (the division stays `rank / outdeg`, the same
    // IEEE op the unrolled oracle performs — never a precomputed
    // reciprocal, which rounds differently). Every iteration shuffles the
    // edge rows by `src`; rows clustered by `src` compress that shuffle
    // (sf0.01: 1.43 → 0.91 MB an iteration), and the small degree side
    // is broadcast, which keeps the edge list's own order.
    val e = e0.join(degrees.select(col("node").as("src"), col("outdeg")), Seq("src"))
      .sortWithinPartitions("src").localCheckpoint()
    // One bounded driver scalar OUTSIDE the loop (a node count); the
    // iterated plan itself never collects.
    val n = degrees.count().toDouble
    // Nodes with no in-edge take no inflow in any round — that set is
    // STATIC, so it is unioned in per round instead of left-joining the
    // full node set each iteration. (Without dangling mass their rank is
    // the constant teleport; with it, the teleport plus their d·D/N share.)
    val isolateNodes = degrees.filter(col("indeg") === 0).select(col("node"))
    // Dangling set (no out-edge): static too; only its MASS varies.
    val danglingNodes = degrees.filter(col("outdeg") === 0).select(col("node"))
    var ranks = degrees.select(col("node"), (lit(1.0) / lit(n)).as("rank"))
    for (i <- 1 to iterations) {
      val inflow = e
        .join(ranks.withColumnRenamed("node", "src"), Seq("src"))
        .select(col("dst").as("node"),
          (col("rank") / col("outdeg").cast("double")).as("__c"))
        .groupBy(col("node")).agg(sum(col("__c")).as("__inflow"))
      ranks = if (!handleDangling) {
        inflow.select(col("node"),
            (lit((1.0 - damping) / n) +
              lit(damping) * col("__inflow")).as("rank"))
          .unionByName(isolateNodes.select(col("node"),
            lit((1.0 - damping) / n).as("rank")))
      } else {
        // 1-row dangling-mass frame, broadcast onto both branches; the
        // isolate branch spells its inflow as literal 0.0 so both sides
        // perform the identical d·(inflow + D/N) float ops the unrolled
        // oracle replays.
        val dm = ranks.join(danglingNodes, Seq("node"), "left_semi")
          .agg(coalesce(sum(col("rank")), lit(0.0)).as("__dm"))
        def step(in: org.apache.spark.sql.Column) =
          lit((1.0 - damping) / n) +
            lit(damping) * (in + col("__dm") / lit(n))
        inflow.crossJoin(broadcast(dm))
          .select(col("node"), step(col("__inflow")).as("rank"))
          .unionByName(isolateNodes.crossJoin(broadcast(dm))
            .select(col("node"), step(lit(0.0)).as("rank")))
      }
      // Rank state is node-sized (tiny); an eager checkpoint per round
      // keeps every iteration's plan one-join deep — an uncheckpointed
      // chain re-executes earlier rounds inside later ones (the cost
      // grows quadratically in the iteration count).
      if (i % checkpointEvery == 0 && i < iterations)
        ranks = ranks.localCheckpoint()
    }
    ranks.select(col("node"), round(col("rank"), 6).as("pagerank"))
  }

  /** Personalized PageRank: the random walk teleports to a SEED SET
    * instead of everywhere — the classic related-entities /
    * recommendation score (Page et al. 1999 §6; Jeh & Widom 2002).
    * rank₀ = 1/|S| on seeds; rankₖ₊₁(v) = [v∈S]·((1−d)/|S| + d·Dₖ/|S|)
    * + d·Σ_{u→v} rankₖ(u)/outdeg(u), with dangling mass Dₖ returning
    * to the seeds.
    *
    * The rank frame stays SPARSE — only nodes with nonzero rank (the
    * k-hop neighborhood of the seeds) ever materialize, which is the
    * property that makes PPR tractable on a 100 TB graph where global
    * pagerank is not: per-round cost is frontier-edges, not all edges.
    * Zero-rank nodes are omitted from the output (their inflow terms
    * would contribute exact 0.0 — the oracle replays the same recurrence
    * densely and filters rank > 0, and IEEE identity x + 0.0 = x makes
    * the two algebraically AND bitwise equal). Each round is one equi
    * join + one key agg + a 1-row dangling broadcast; `localCheckpoint`
    * truncates lineage exactly as [[pagerank]] does.
    */
  def personalizedPagerank(edges: DataFrame, srcCol: String,
                           dstCol: String, seeds: DataFrame,
                           seedCol: String, iterations: Int,
                           damping: Double = 0.85): DataFrame = {
    require(iterations >= 1 && iterations <= 50, "1..50 iterations")
    require(damping > 0 && damping < 1, "damping in (0,1)")
    val eIn = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .localCheckpoint()
    val nodes = eIn.select(col("src").as("node"))
      .unionByName(eIn.select(col("dst").as("node"))).distinct()
      .localCheckpoint()
    val outDeg = eIn.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    val e = eIn.join(outDeg, Seq("src")).localCheckpoint()
    val seedSet = seeds.select(col(seedCol).as("node")).distinct()
      .join(nodes, Seq("node"), "left_semi").localCheckpoint()
    val nSeeds = seedSet.count().toDouble // bounded driver scalar
    require(nSeeds > 0, "no seed is a node of the graph")
    val dangling = nodes.join(e.select(col("src").as("node")).distinct(),
      Seq("node"), "left_anti").localCheckpoint()
    // Bounded emptiness probe (the Dedup limit-probe discipline): a
    // symmetrized graph has no dangling nodes, and then every round's
    // semi-join + scalar agg is three wasted jobs. With an empty set
    // the mass is literally 0.0 and d·(0.0/|S|) + teleport is the
    // identical IEEE value the agg path produces — the oracle replays
    // either path unchanged.
    val anyDangling = dangling.limit(1).count() > 0
    var ranks = seedSet.select(col("node"), lit(1.0 / nSeeds).as("rank"))
    for (i <- 1 to iterations) {
      val dm =
        if (!anyDangling)
          edges.sparkSession.range(1).select(lit(0.0).as("__dm"))
        else ranks.join(dangling, Seq("node"), "left_semi")
          .agg(coalesce(sum(col("rank")), lit(0.0)).as("__dm"))
      val inflow = e
        .join(ranks.withColumnRenamed("node", "src"), Seq("src"))
        .select(col("dst").as("node"),
          (col("rank") / col("outdeg").cast("double")).as("__c"))
        .groupBy(col("node")).agg(sum(col("__c")).as("__inflow"))
      // rank' per node = at most two addends (inflow part, seed part);
      // two-element FP sums are order-independent, so the sparse union
      // aggregation is deterministic and oracle-replayable.
      val seedPart = seedSet.crossJoin(broadcast(dm))
        .select(col("node"),
          (lit((1.0 - damping) / nSeeds) +
            lit(damping) * (col("__dm") / lit(nSeeds))).as("__c2"))
      ranks = inflow
        .select(col("node"), (lit(damping) * col("__inflow")).as("__c2"))
        .unionByName(seedPart)
        .groupBy(col("node")).agg(sum(col("__c2")).as("rank"))
      if (i < iterations) ranks = ranks.localCheckpoint()
    }
    ranks.select(col("node"), round(col("rank"), 6).as("ppr"))
  }

  /** HITS hubs and authorities (Kleinberg 1999), fixed iteration count:
    * authₖ(v) = Σ_{u→v} hubₖ₋₁(u), then L2-normalized; hubₖ(u) =
    * Σ_{u→v} authₖ(v), then L2-normalized; hub₀ ≡ 1. Each half-round
    * is one edge join + one key agg + a 1-row norm broadcast — the
    * pagerank shuffle discipline with two state frames instead of one.
    * Output covers every node (no out-edges ⇒ hub 0; no in-edges ⇒
    * authority 0).
    */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
           iterations: Int): DataFrame = {
    require(iterations >= 1 && iterations <= 20, "1..20 iterations")
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .localCheckpoint()
    val nodes = e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node"))).distinct()
      .localCheckpoint()
    def l2normalize(df: DataFrame, c: String): DataFrame = {
      val norm = df.agg(sqrt(sum(col(c) * col(c))).as("__nrm"))
      df.crossJoin(broadcast(norm))
        .select(col("node"), (col(c) / col("__nrm")).as(c))
        .localCheckpoint()
    }
    var hubs = nodes.select(col("node"), lit(1.0).as("hub"))
    var auths = nodes.select(col("node"), lit(0.0).as("authority"))
    for (_ <- 1 to iterations) {
      auths = l2normalize(
        e.join(hubs.withColumnRenamed("node", "src"), Seq("src"))
          .groupBy(col("dst").as("node"))
          .agg(sum(col("hub")).as("authority")), "authority")
      hubs = l2normalize(
        e.join(auths.withColumnRenamed("node", "dst"), Seq("dst"))
          .groupBy(col("src").as("node"))
          .agg(sum(col("authority")).as("hub")), "hub")
    }
    nodes
      .join(hubs, Seq("node"), "left")
      .join(auths, Seq("node"), "left")
      .select(col("node"),
        round(coalesce(col("hub"), lit(0.0)), 6).as("hub"),
        round(coalesce(col("authority"), lit(0.0)), 6).as("authority"))
  }

  /** Synchronous label propagation (Raghavan et al. 2007) over the
    * symmetrized edge list, fixed round count: every node adopts the
    * MOST FREQUENT label among its neighbors, ties broken by the
    * smallest label — fully deterministic (the async/random variants
    * trade determinism for convergence speed; a fixed-round sync sweep
    * is what an oracle can replay). Labels start as the node's own id.
    * Per round: one edge⋈labels join and two key-partitioned
    * aggregations ((node, label) counts, then the per-node argmax via a
    * struct min — no window, no sort). Integer/string arithmetic only —
    * no FP anywhere, so engine agreement is exact.
    */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
                       iterations: Int): DataFrame = {
    require(iterations >= 1 && iterations <= 20, "1..20 iterations")
    val eDir = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    val e = eDir
      .unionByName(eDir.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().localCheckpoint()
    val nodes = e.select(col("src").as("node")).distinct().localCheckpoint()
    var labels = nodes.select(col("node"), col("node").as("label"))
    for (i <- 1 to iterations) {
      labels = e
        .join(labels.withColumnRenamed("node", "src"), Seq("src"))
        .groupBy(col("dst").as("node"), col("label"))
        .agg(count(lit(1)).as("__c"))
        .groupBy(col("node"))
        .agg(min(struct((lit(0L) - col("__c")).as("negc"),
          col("label").as("l"))).as("__m"))
        .select(col("node"), col("__m").getField("l").as("label"))
      if (i < iterations) labels = labels.localCheckpoint()
    }
    labels
  }

  /** Bounded k-core peel: `rounds` synchronous sweeps of "drop every
    * node with degree < k" over the symmetrized simple graph, reporting
    * the survivors and their residual degrees. With enough rounds this
    * IS the k-core (each sweep only ever removes nodes outside it); a
    * FIXED round count keeps the plan deterministic and the oracle
    * unrollable — the pagerank discipline — and in practice the peel
    * converges in a few sweeps on bounded-degeneracy graphs. Each round
    * is one degree aggregation + two semi joins, all integer, with
    * per-round `localCheckpoint`.
    */
  def kcorePeel(edges: DataFrame, srcCol: String, dstCol: String,
                k: Int, rounds: Int): DataFrame = {
    require(k >= 1 && rounds >= 1 && rounds <= 20, "k ≥ 1, 1..20 rounds")
    val eDir = edges.select(col(srcCol).as("u"), col(dstCol).as("v"))
    var e = eDir
      .unionByName(eDir.select(col("v").as("u"), col("u").as("v")))
      .distinct().localCheckpoint()
    for (r <- 1 to rounds) {
      val keep = e.groupBy(col("u")).agg(count(lit(1)).as("__d"))
        .filter(col("__d") >= k).select(col("u").as("node"))
        .localCheckpoint()
      e = e
        .join(keep.select(col("node").as("u")), Seq("u"), "left_semi")
        .join(keep.select(col("node").as("v")), Seq("v"), "left_semi")
      if (r < rounds) e = e.localCheckpoint()
    }
    e.groupBy(col("u").as("node")).agg(count(lit(1)).as("residual_degree"))
  }

  /** Adamic–Adar link prediction over an UNDIRECTED simple graph: for
    * every 2-hop pair (v, w), score = Σ over common neighbors u of
    * 1/ln(deg(u)) (Adamic & Adar 2003) — the classic "people you may
    * know" signal, down-weighting hub-mediated paths.
    *
    * Unlike triangle counting (where every triangle has one minimum
    * corner), common-neighbor enumeration needs wedges at EVERY center,
    * so degree-orientation cannot bound it. The scale lever here is the
    * `maxCenterDegree` cap: centers above it are EXCLUDED as
    * connectors — principled, because a hub's per-pair contribution is
    * already ≤ 1/ln(cap) and its wedge fan-out is deg², exactly the
    * rows that blow up; with the cap the fan-out is ≤ cap·2m. The cap
    * and the `minCommon` floor are integer cuts, so the emitted pair
    * set is deterministic — no float-ranked boundary. Centers have
    * degree ≥ 2 by construction (a wedge needs two edges), so
    * ln(deg(u)) is never 0. Exact (cap-free semantics) whenever cap ≥
    * the true max degree.
    */
  def adamicAdar(edges: DataFrame, srcCol: String, dstCol: String,
                 minCommon: Long = 2,
                 maxCenterDegree: Long = 10000): DataFrame = {
    val e0 = edges.select(col(srcCol).as("a"), col(dstCol).as("b"))
      .filter(col("a") < col("b")).distinct()
    val deg = e0.select(col("a").as("node"))
      .unionAll(e0.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("d"))
    // Symmetric adjacency with the center's degree on the row, hub
    // centers pre-cut BEFORE the self-join fan-out.
    val adj = e0.select(col("a").as("u"), col("b").as("n"))
      .unionAll(e0.select(col("b").as("u"), col("a").as("n")))
      .join(deg.select(col("node").as("u"), col("d").as("du")), Seq("u"))
      .filter(col("du") <= maxCenterDegree)
      .localCheckpoint()
    adj.select(col("u"), col("du"), col("n").as("v"))
      .join(adj.select(col("u"), col("n").as("w")), Seq("u"))
      .filter(col("v") < col("w"))
      .groupBy(col("v"), col("w"))
      .agg(count(lit(1)).as("n_common"),
        round(sum(lit(1.0) / log(col("du").cast("double"))), 6)
          .as("aa_score"))
      .filter(col("n_common") >= minCommon)
  }

  /** Per-node triangle participation over an UNDIRECTED simple graph
    * given as unordered edges (each edge once, `a < b`, no self-loops
    * enforced here). The count uses the oriented wedge-closure method:
    * edges are oriented from the (degree, id)-smaller endpoint to the
    * larger (the standard compact-forward optimization, cf. Chiba &
    * Nishizeki / Schank & Wagner), wedges come from self-joining the
    * oriented edges on their source, and each wedge closes into a
    * triangle iff its (v, w) pair is itself an oriented edge — a semi
    * join, so the wedge set is never materialized past the closure
    * check. Each triangle credits all three corners via one explode.
    *
    * Why (degree, id) and not bare id: wedge count is Σ outdeg(v)².
    * Under id orientation a high-degree hub keeps all its edges
    * outgoing and the sum is unbounded by graph structure (round-8
    * probe: 4.8× at a 10× scale-up as the graph densified). Under
    * degree orientation outdeg(v) ≤ O(√m) on any graph (arboricity
    * bound), so wedges ≤ O(m^1.5) worst-case and far less on
    * power-law graphs. The tie-break on id makes the orientation a
    * total order — deterministic, hence replayable exactly by the
    * DuckDB oracle via a degree CTE.
    */
  def triangleCounts(edges: DataFrame, srcCol: String,
                     dstCol: String): DataFrame = {
    val e0 = edges.select(col(srcCol).as("a"), col(dstCol).as("b"))
      .filter(col("a") < col("b")).distinct()
    // Undirected degree per node; riding the edge row (one join per
    // endpoint) exactly like pagerank's out-degree — never collected.
    val deg = e0.select(col("a").as("node"))
      .unionAll(e0.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("d"))
    val aFirst = col("da") < col("db") ||
      (col("da") === col("db") && col("a") < col("b"))
    // Oriented edge (src → dst) carries dst's degree so the wedge
    // ordering below needs no third join.
    val o = e0
      .join(deg.select(col("node").as("a"), col("d").as("da")), Seq("a"))
      .join(deg.select(col("node").as("b"), col("d").as("db")), Seq("b"))
      .select(
        when(aFirst, col("a")).otherwise(col("b")).as("src"),
        when(aFirst, col("b")).otherwise(col("a")).as("dst"),
        when(aFirst, col("db")).otherwise(col("da")).as("dd"))
      .localCheckpoint()
    // Wedge (src; v, w) with (deg, id)-ordered out-neighbors v < w;
    // the closing edge, if the triangle exists, is oriented v → w by
    // transitivity of the total order, so one semi join suffices.
    val wedges = o.select(col("src"), col("dst").as("v"), col("dd").as("dv"))
      .join(o.select(col("src"), col("dst").as("w"), col("dd").as("dw")),
        Seq("src"))
      .filter(col("dv") < col("dw") ||
        (col("dv") === col("dw") && col("v") < col("w")))
    val tris = wedges.join(o.select(col("src").as("v"), col("dst").as("w")),
      Seq("v", "w"), "left_semi")
    tris.select(explode(array(col("src"), col("v"), col("w"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_triangles"))
  }

  /** Local clustering coefficient per node: C(v) = triangles(v) /
    * (deg(v) choose 2) — how close each node's neighborhood is to a
    * clique (community cohesion; near-0 on bipartite projections,
    * high inside tight co-purchase clusters). Triangle counts come
    * from [[triangleCounts]]'s degree-oriented wedge closure
    * (O(m^1.5) worst-case wedges, never all-pairs); degrees are one
    * more aggregation; nodes with no triangles report 0, and
    * degree-1 nodes report null C (undefined, not 0). All integers
    * until the final ratio at 6 dp.
    */
  def clusteringCoefficient(edges: DataFrame, srcCol: String,
                            dstCol: String): DataFrame = {
    val e0 = edges.select(col(srcCol).as("a"), col(dstCol).as("b"))
      .filter(col("a") < col("b")).distinct().localCheckpoint()
    val deg = e0.select(col("a").as("node"))
      .unionAll(e0.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("degree"))
    val tri = triangleCounts(e0, "a", "b")
    deg.join(tri, Seq("node"), "left")
      .select(col("node"), col("degree"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
        when(col("degree") >= 2,
          round(lit(2.0) * coalesce(col("n_triangles"), lit(0L))
              .cast("double") /
            (col("degree") * (col("degree") - 1)).cast("double"), 6))
          .as("clustering_coeff"))
  }

  /** Time-respecting reachability (contact tracing): nodes reachable
    * from the seed set within `hops` edges whose times NEVER DECREASE
    * along the path — an edge at time t transmits only to contacts at
    * t' ≥ t, which plain BFS over the flattened graph gets wrong (it
    * happily routes "infection" backwards in time). Edges are treated
    * as undirected contacts.
    *
    * Output: (node, hop, first_time) — the earliest hop at which each
    * node is reached, and its minimal arrival time over ALL
    * time-respecting paths of ≤ `hops` edges (seeds: hop 0, null).
    * A node's minimal arrival can IMPROVE at a later hop (a longer path
    * through earlier contacts), and that improvement can unlock onward
    * edges a greedy first-reach search would miss — so the frontier is
    * "nodes whose minimal arrival improved this round", not "nodes
    * newly reached".
    *
    * Fixed-hop frontier expansion (the PageRank determinism
    * discipline): each hop is one frontier⋈edges equi join + one
    * min-arrival aggregate + one improvement anti-check against the
    * bounded (node, arrival) state, `localCheckpoint` per hop.
    */
  def temporalReachability(edges: DataFrame, srcCol: String, dstCol: String,
                           timeCol: String, seeds: Seq[Long],
                           hops: Int): DataFrame = {
    require(hops >= 1 && hops <= 10, "hops must lie in [1, 10]")
    require(seeds.nonEmpty, "need at least one seed")
    val sym = edges.select(col(srcCol).cast("long").as("a"),
        col(dstCol).cast("long").as("b"), col(timeCol).cast("long").as("t"))
      .unionAll(edges.select(col(dstCol).cast("long").as("a"),
        col(srcCol).cast("long").as("b"), col(timeCol).cast("long").as("t")))
      .localCheckpoint()
    val spark = edges.sparkSession
    import spark.implicits._
    val seed0 = seeds.distinct.sorted
      .map(s => (s, 0, Long.MinValue)).toDF("node", "hop", "arr")
      .localCheckpoint()
    var best = seed0      // (node, first hop, minimal arrival so far)
    var frontier = seed0.select(col("node"), col("arr"))
    for (h <- 1 to hops) {
      val cand = frontier.join(sym, col("node") === col("a"))
        .filter(col("t") >= col("arr"))
        .groupBy(col("b"))
        .agg(min(col("t")).as("__cand"))
        .select(col("b").as("node"), col("__cand"))
      // Keep candidates that reach a NEW node or IMPROVE a known node's
      // minimal arrival; merged state keeps the earliest hop either way.
      val merged = cand.join(best, Seq("node"), "left")
        .select(col("node"), col("__cand"), col("hop"), col("arr"))
      val improved = merged
        .filter(col("arr").isNull || col("__cand") < col("arr"))
        .select(col("node"), col("__cand").as("arr"),
          coalesce(col("hop"), lit(h)).as("hop"))
        .localCheckpoint()
      best = best.join(improved.select(col("node"),
          col("arr").as("__na")), Seq("node"), "left")
        .select(col("node"), col("hop"),
          least(col("arr"), coalesce(col("__na"), col("arr"))).as("arr"))
        .unionByName(improved
          .join(best.select(col("node")), Seq("node"), "left_anti")
          .select(col("node"), col("hop"), col("arr")))
        .localCheckpoint()
      frontier = improved.select(col("node"), col("arr"))
    }
    best.select(col("node"), col("hop"),
      when(col("hop") > 0, col("arr")).as("first_time"))
  }

  /** Degree assortativity: the Pearson correlation of
    * (deg(src), deg(dst)) over the symmetrized edge list — do hubs
    * attach to hubs (ρ > 0, social graphs) or to leaves (ρ < 0,
    * bipartite/infrastructure graphs)? One degree aggregation, two
    * node-keyed equi-joins to put both endpoint degrees on the edge
    * row, one moment fold. Degrees are integers, so the five sums fold
    * as EXACT Longs (the spearmanCorr discipline — bit-identical to
    * the oracle's integer sums) and cast to double only inside the
    * closed form; ρ rounds at 4 dp. Headroom: Σd(u)·d(v) ≤ E·dmax² —
    * past ~1e6 edges with 1e3-degree hubs, cap or bucket degrees.
    * Self-loops and duplicate edges are honored as given.
    */
  def assortativity(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val eIn = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .localCheckpoint()
    val e = eIn.unionByName(
      eIn.select(col("dst").as("src"), col("src").as("dst")))
    val deg = e.groupBy(col("src").as("node")).agg(count(lit(1)).as("__d"))
    val onEdge = e
      .join(deg.select(col("node").as("src"), col("__d").as("__dx")), "src")
      .join(deg.select(col("node").as("dst"), col("__d").as("__dy")), "dst")
    val m = onEdge.agg(count(lit(1)).as("n_edges"),
      sum(col("__dx")).as("__sx"), sum(col("__dy")).as("__sy"),
      sum(col("__dx") * col("__dx")).as("__sxx"),
      sum(col("__dy") * col("__dy")).as("__syy"),
      sum(col("__dx") * col("__dy")).as("__sxy"))
    val nD = col("n_edges").cast("double")
    def d(c: String) = col(c).cast("double")
    m.select(col("n_edges"),
      when(col("n_edges") >= 2,
        round((nD * d("__sxy") - d("__sx") * d("__sy")) /
          nullif(sqrt(nD * d("__sxx") - d("__sx") * d("__sx")) *
            sqrt(nD * d("__syy") - d("__sy") * d("__sy")), lit(0.0)), 4))
        .as("assortativity"))
  }
}
