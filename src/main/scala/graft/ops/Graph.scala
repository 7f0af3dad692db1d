package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Link-analysis over an edge table — the graph companion to the
  * connected-components dedup path ([[Dedup.connectedComponents]]).
  *
  * PageRank here is EXACT-INTEGER fixed-point (rank mass scaled by
  * 10¹², damping 85/100, every step integral `DIV`): floating-point
  * power iteration is summation-order-dependent, so a distributed run
  * could never hash-match a single-node oracle. With e12 fixed-point
  * the per-iteration contributions are order-independent BIGINT sums —
  * bit-identical across partition counts AND reproducible in any other
  * engine, which is what makes the operator driver-checkable at all.
  *
  * Scale shape (the standard Spark PageRank loop, e.g. the Pregel
  * formulation in the GraphX paper, Gonzalez et al. OSDI'14): each
  * iteration is one equi-join of the rank table (|V| rows, 3 longs)
  * with the edge table (|E| rows, 2 longs) plus one hash aggregate on
  * dst — both shuffle-partitioned by the same key so AQE can reuse the
  * exchange. Edges and degrees are persisted once and reused every
  * round; per-round rank tables are pinned and the previous round's
  * released, so peak storage is |E| + 2|V| regardless of iteration
  * count. Overflow-safe: total rank mass is ≤ 10¹² + |V| (integer
  * truncation remainders), so `85 * Σ inflow` stays < 10¹⁵ ≪ 2⁶³.
  */
object Graph {

  // The loops broadcast their per-round NODE tables into the pinned
  // edge set when they fit ([[Hints]]), so the |E| cache is probed in
  // place instead of exchanged every round (r14, guide §3.1); over the
  // bound the shuffle join returns, with identical results.
  import Hints.maybeBroadcast

  /** Make a directed edge list symmetric (every node then has
    * out-degree ≥ 1, so there are no dangling nodes and no rank-mass
    * redistribution step). Duplicates are NOT removed here —
    * [[pageRankE12]] dedups once; a distinct on both sides would pay
    * the widest shuffle twice.
    */
  def symmetrize(edges: DataFrame): DataFrame = {
    val e = edges.select(col("src"), col("dst"))
    e.union(e.select(col("dst").as("src"), col("src").as("dst")))
  }

  /** Fixed-point PageRank: `iters` power iterations at damping 85/100
    * over a SYMMETRIC (src, dst) edge set. Returns (id, deg, rank_e12)
    * where rank_e12 is the rank scaled by 10¹² and truncated — the sum
    * over all nodes stays within |V| of 10¹².
    *
    * Unlike the convergence-probed CC loop (which needs a per-round
    * action), a fixed iteration count has no mid-loop action, so rank
    * tables are chained LAZILY — each ranks(i) appears exactly once in
    * ranks(i+1)'s plan, so the final job is one linear pass with a
    * single pair of exchanges per round and zero redundant
    * materialization. Only the edge and degree tables (read every
    * round) are pinned. `checkpointEvery` bounds lineage depth for
    * large `iters` (optimizer replanning is superlinear in tree size).
    */
  /** Set `assumeDistinct` when the caller guarantees the edge set has
    * no duplicates (e.g. it deduped the cheaper DIRECTED half before
    * symmetrizing two disjoint node-id spaces) — skips the interior
    * dedup, which is the widest shuffle in the build.
    */
  def pageRankE12(edges: DataFrame, iters: Int = 3,
                  checkpointEvery: Int = 5,
                  assumeDistinct: Boolean = false,
                  seedOpt: Option[DataFrame] = None): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val e0 = edges.select(col("src"), col("dst"))
    val e = (if (assumeDistinct) e0 else e0.distinct())
      .persist(StorageLevel.MEMORY_AND_DISK)
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .withColumnRenamed("src", "id")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val n = deg.count()
    require(n > 0, "pageRankE12 over an empty edge set")
    val reset = 150000000000L / n // 0.15 of the e12 rank mass per node
    // WARM START (`seedOpt`): resume the power iteration from a prior
    // run's (id, rank_e12) table — the graph-maintenance move: after
    // a delta edge batch, old ranks are near the new fixed point, so
    // far fewer iterations recover convergence than from uniform
    // (pagerank_delta measures the win exactly). Nodes absent from
    // the seed (newly arrived) start at the uniform share; departed
    // seed rows drop out through the join on the NEW degree table.
    var ranks = seedOpt match {
      case Some(seed) =>
        deg.join(seed.select(col("id"), col("rank_e12").as("__seed")),
            Seq("id"), "left")
          .select(col("id"), col("deg"),
            coalesce(col("__seed"), lit(1000000000000L / n)).as("rank_e12"))
      case None => deg
        .select(col("id"), col("deg"), lit(1000000000000L / n).as("rank_e12"))
    }
    for (i <- 1 to iters) {
      // disjoint column names on each side: ranks descends from e, so
      // unqualified src/dst references would be ambiguous self-joins.
      // Both per-round sides are derived through joins and bounded by
      // |V| (= n): broadcasting the messages scans the pinned |E| cache
      // in place, broadcasting the inflow makes the rank update
      // exchange-free — the only shuffle left is the ≤|V| aggregate.
      val inflow = maybeBroadcast(ranks
          .select(col("id").as("msg_id"), expr("rank_e12 DIV deg").as("c")), n)
        .join(e, col("msg_id") === col("src"))
        .groupBy(col("dst"))
        .agg(sum(col("c")).as("inflow"))
        .withColumnRenamed("dst", "id")
      ranks = deg.join(maybeBroadcast(inflow, n), Seq("id"), "left")
        .select(col("id"), col("deg"),
          (lit(reset) + expr("(85 * coalesce(inflow, 0L)) DIV 100"))
            .as("rank_e12"))
      if (i % checkpointEvery == 0 && i < iters)
        ranks = Dedup.materialize(ranks)
    }
    val out = Dedup.materialize(ranks)
    deg.unpersist()
    e.unpersist()
    out
  }

  /** HITS hubs & authorities (Kleinberg, JACM 1999) over a DIRECTED
    * edge set (src = hub side, dst = authority side), fixed
    * iterations, ALL-INTEGER: h₀ = 10⁶ per hub, then per iteration
    *
    *   a_raw(d) = Σ_{(s,d)∈E} h(s);  a = trunc(a_raw·10⁶ / max a_raw)
    *   h_raw(s) = Σ_{(s,d)∈E} a(d);  h = trunc(h_raw·10⁶ / max h_raw)
    *
    * Max-norm instead of the textbook L2 keeps every step integral
    * (the PCA power-step renormalization — `Pca.powerTrajectory`):
    * integer sums are shuffle-order-independent, so the scores are
    * bit-identical across partition counts and replayable in SQL.
    * Same per-iteration economics as [[pageRankE12]]: one equi-join
    * of the score table with the edges plus one hash aggregate, per
    * direction; the max is a 1-row aggregate broadcast back (never a
    * data shuffle). Overflow: scores ≤ 10⁶, raw sums ≤ degree·10⁶,
    * the ·10⁶ renormalization numerator ≤ degree·10¹² ≪ 2⁶³ for any
    * degree below 9·10⁶ — then the sums would need decimal(38,0),
    * loudly (ANSI).
    *
    * Returns (id, side ∈ {hub, auth}, score_e6) after `iters`
    * iterations. Unlike the PageRank loop (whose renormalization is a
    * per-node constant, so rank tables can chain LAZILY), the max-norm
    * needs a GLOBAL scalar mid-loop — left fully lazy, every
    * `broadcast(agg(max))` subtree would replay the whole upstream
    * join chain and the plan re-evaluates the base join 2^(2·iters)
    * times (measured: 16 s for 2 iterations at sf0.1 vs 1.4 s
    * synchronized). So each half-step materializes its raw sums ONCE
    * (one bounded action) and the max is OBSERVED during that same
    * checkpoint job ([[Dedup.materializeObserved]] — r15): the
    * normalization divisor is a driver literal by the time the next
    * half-step plans, so the renormalization is a pure projection —
    * no per-half-step max-aggregate stage, no broadcast build (the
    * r8 shape paid a driver `.head()` per half-step; the r14 shape a
    * broadcast 1-row cross join; this pays nothing beyond the
    * checkpoint the loop already needs). An all-zero score vector
    * fails an eager driver-side `require` — loud, like the r8 shape.
    */
  def hitsE6(edges: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val e = edges.select(col("src"), col("dst")).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    // the empty-edge-set guard rides the hub seed's checkpoint job as
    // an observed count (an empty e ⇒ zero hub seeds) instead of a
    // separate isEmpty action (r15, guide §1.2)
    val (seed, mSeed) = Dedup.materializeObserved(
      e.select(col("src").as("id")).distinct()
        .withColumn("s", lit(1000000L)),
      count(lit(1)).as("__n"))
    require(mSeed("__n").asInstanceOf[Long] > 0, "hitsE6 over an empty edge set")
    var h = seed
    var a: DataFrame = null
    def normalized(raw: DataFrame): DataFrame = {
      // the max-norm scalar is observed during the materialize action
      // (one job per half-step — r15, guide §1.2): the max used to
      // ride the NEXT half-step's plan as a broadcast 1-row cross
      // join, i.e. one aggregate stage + one broadcast build per
      // half-step; observed during the checkpoint it is a driver
      // literal over the SAME rows, so the normalization is a pure
      // projection and the scores are bit-identical
      val (m, obs) = Dedup.materializeObserved(raw, max(col("raw")).as("__mx"))
      // explicit all-zero-vector guard, driver-side and eager: louder
      // than an in-plan assert_true (which only fires when the
      // projection is executed) and immune to ansi.enabled=false. An
      // empty table observes a NULL max.
      val mx = Option(obs("__mx")).map(_.asInstanceOf[Long]).getOrElse(0L)
      require(mx > 0,
        "hitsE6: all-zero score vector — HITS undefined")
      m.select(col("id"), expr(s"(raw * 1000000) DIV ${mx}L").as("s"))
    }
    for (_ <- 1 to iters) {
      a = normalized(
        e.join(maybeBroadcast(h.select(col("id").as("mid"), col("s"))),
            col("src") === col("mid"))
          .groupBy(col("dst")).agg(sum(col("s")).as("raw"))
          .withColumnRenamed("dst", "id"))
      h = normalized(
        e.join(maybeBroadcast(a.select(col("id").as("mid"), col("s"))),
            col("dst") === col("mid"))
          .groupBy(col("src")).agg(sum(col("s")).as("raw"))
          .withColumnRenamed("src", "id"))
    }
    // the output union is a pure projection over the two CHECKPOINTED
    // score tables — independent of the unpersisted edge cache, so no
    // final materialize job is needed; consumers re-run only the |V|
    // projection (r15, guide §1.2)
    val out =
      h.select(col("id"), lit("hub").as("side"), col("s").as("score_e6"))
        .unionByName(a.select(col("id"), lit("auth").as("side"),
          col("s").as("score_e6")))
    e.unpersist()
    out
  }

  /** Triangle count over an UNDIRECTED edge set given as (id_a, id_b)
    * with `id_a < id_b`, id-oriented: wedges (a<b<c) built by one
    * self-equi-join, closed by a semi-join against the edge set. Every
    * triangle is counted exactly once (its id-ordered wedge). Wedge
    * fanout at a node is its id-oriented out-degree — fine when id
    * order is uncorrelated with degree, degenerate when low ids are
    * hubs (a hub's full neighborhood squares). Input must be
    * duplicate-free; one row, `n_triangles`.
    */
  def triangleCountIdOriented(edges: DataFrame): DataFrame = {
    // materialize once: the edge set is read three times (both wedge
    // sides + the closing semi-join), and the wedge table (the one
    // genuinely large intermediate) is then never exchanged
    val e = Dedup.materialize(edges.select(col("id_a"), col("id_b")))
    val wedges = e.select(col("id_a").as("a"), col("id_b").as("b"))
      .join(maybeBroadcast(
        e.select(col("id_a").as("b"), col("id_b").as("c"))), Seq("b"))
    wedges.join(
        maybeBroadcast(e.select(col("id_a").as("a"), col("id_b").as("c"))),
        Seq("a", "c"), "left_semi")
      .agg(count(lit(1)).as("n_triangles"))
  }

  /** k-core: the (unique) maximal subgraph in which every node has
    * degree ≥ k, by iterated peeling (Matula & Beck, JACM 1983;
    * distributed formulation as in Montresor et al., TPDS 2013):
    * drop all nodes of degree < k, restrict the edge set, recompute,
    * until a fixpoint. Input is a SYMMETRIC duplicate-free (src, dst)
    * edge set; output is (id, deg) — each surviving node with its
    * IN-CORE degree.
    *
    * Scale shape: each round is one count aggregate over the edge set
    * plus two semi-joins against the (much smaller) surviving-node
    * set, all hash-partitioned on node id — no all-pairs, no global
    * sort. The surviving sets are nested decreasing, so node-count
    * equality between consecutive rounds IS the fixpoint test (one
    * driver-read scalar per round, the CC-loop probe pattern). Round
    * count is bounded by the peeling depth (≤ |V| pathologically,
    * small on real graphs); a non-converged loop THROWS rather than
    * returning a superset — same contract as
    * [[Dedup.connectedComponents]].
    */
  def kCore(und: DataFrame, k: Int, maxRounds: Int = 30): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    var edges = und.select(col("src"), col("dst"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // the restricted edge set is NOT eagerly counted (r15): the next
    // round's degree aggregate is the job that fills its cache — an
    // explicit count() per round was a second action over the same
    // rows (guide §1.2: remove passes). The parent cache is released
    // only after that fill (one-generation deferral, `pinned` below),
    // so nothing recomputes from the raw input; peak pinned storage is
    // two edge generations, the same transient pair the eager shape
    // held during its count.
    var pinned: DataFrame = null // parent generation awaiting release
    var prev = -1L
    var rounds = 0
    def release(): Unit = {
      if (pinned != null) pinned.unpersist()
      edges.unpersist()
    }
    while (rounds < maxRounds) {
      val (keep, m) = Dedup.materializeObserved(
        edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
          .filter(col("deg") >= k)
          .select(col("src").as("id"), col("deg")),
        count(lit(1)).as("__n"))
      val n = m("__n").asInstanceOf[Long]
      // the degree job above just materialized `edges`' cache, so the
      // previous generation can go now
      if (pinned != null) { pinned.unpersist(); pinned = null }
      if (n == prev || n == 0) {
        release()
        return keep
      }
      prev = n
      val ids = keep.select(col("id"))
      // under the bound the round's only shuffle is the
      // map-side-combined degree aggregate
      val next = edges
        .join(maybeBroadcast(ids.select(col("id").as("src"))),
          Seq("src"), "left_semi")
        .join(maybeBroadcast(ids.select(col("id").as("dst"))),
          Seq("dst"), "left_semi")
        .persist(StorageLevel.MEMORY_AND_DISK)
      pinned = edges
      edges = next
      rounds += 1
    }
    release()
    throw new IllegalStateException(
      s"kCore(k=$k) did not reach fixpoint after $maxRounds peel " +
        "rounds; raise maxRounds — returning a partially peeled set " +
        "would be a superset of the true core")
  }

  /** Multi-source BFS to a BOUNDED depth: minimum hop count from any
    * seed node, for every node within `maxHops` hops, over a SYMMETRIC
    * duplicate-free (src, dst) edge set. Returns (id, hop) with
    * hop ∈ [0, maxHops]; unreachable-within-bound nodes are absent.
    *
    * Scale shape — the standard frontier-expansion loop (Pregel-style
    * BFS, one superstep per hop): each round is ONE equi-join of the
    * CURRENT FRONTIER (never the full visited set) against the edge
    * table, a distinct on the neighbor set, and a left-anti join
    * against the visited set — all hash-partitioned on node id. The
    * frontier is what bounds the work: rounds touch |frontier|·davg
    * edge rows, not |E|, so early rounds are cheap on huge graphs
    * when the seed set is small. Visited accumulates by disjoint
    * union (each node enters at its minimum hop by construction — a
    * node already visited is anti-joined away, so no min-aggregate is
    * ever needed). The depth bound makes the loop a fixed pipeline of
    * `maxHops` joins — no convergence probe; callers wanting full
    * reachability should use [[Dedup.connectedComponents]] instead.
    */
  def bfsHops(edges: DataFrame, seeds: DataFrame, maxHops: Int): DataFrame = {
    require(maxHops >= 0, s"maxHops must be >= 0, got $maxHops")
    val e = edges.select(col("src"), col("dst"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // pinned per hop: under the bound the |E| cache is probed in place
    // by the semi-join and the anti-join builds on the visited set
    var visited = Dedup.materialize(
      seeds.select(col("id")).distinct().withColumn("hop", lit(0)))
    var frontier = visited.select(col("id"))
    for (h <- 1 to maxHops) {
      val next = Dedup.materialize(
        e.join(maybeBroadcast(frontier.select(col("id").as("src"))),
            Seq("src"), "left_semi")
          .select(col("dst").as("id")).distinct()
          .join(maybeBroadcast(visited), Seq("id"), "left_anti")
          .withColumn("hop", lit(h)))
      // visited stays a LAZY union of the per-hop CHECKPOINTS (≤
      // maxHops+1 disjoint tables): every hop's rows are already
      // materialized once, so re-checkpointing the union was a second
      // copy of the same data every round — the anti-join/broadcast
      // build scans the same ≤|V| bytes either way (r15, guide §1.2)
      visited = visited.union(next)
      frontier = next.select(col("id"))
    }
    e.unpersist()
    visited
  }

  /** Bounded-hop WEIGHTED single-source-set shortest paths — the
    * distributed Bellman–Ford relaxation, the weighted completion of
    * [[bfsHops]]: after `rounds` rounds, dist(v) is the EXACT minimum
    * total weight over paths from any seed using ≤ `rounds` edges
    * (nodes unreachable within the bound are absent). Edge weights are
    * positive int64; seeds start at distance 0.
    *
    * Scale shape: each round is ONE equi-join of the current distance
    * table against the pinned edge table on src, then one
    * min-aggregate over (previous ∪ relaxed) — min is associative and
    * commutative, so map-side partial aggregation makes the shuffle
    * carry at most one (id, dist) pair per node per partition, and
    * the result is exact int64, independent of partitioning and
    * merge order (no float accumulation anywhere). The distance table
    * is MATERIALIZED each round (r14): the recurrence references
    * `dist` twice per round (once in the relax join, once in the
    * union), so lazy chaining — the pageRankE12 shape, which is linear
    * because ranks appears once per round — duplicates the whole
    * upstream subtree 2^rounds times (measured: sssp_weighted 5.64 s
    * lazy vs 2.63 s with per-round materialization + the broadcast
    * gate, sf0.1 best-of-2; the duplicated leaves were the seed
    * derivation's orders⋈lineitem aggregate). The
    * materialized table's stored size also gates a broadcast of the
    * distance side into the pinned edge cache,
    * so under the bound a round's only exchange is the ≤|reached|
    * min-aggregate output. Unlike bfsHops, the full distance table
    * joins each round rather than a shrinking frontier: a weighted
    * relaxed distance can improve on a PRIOR round's label, so settled
    * nodes can't be excluded without a priority queue — the classic
    * Bellman-Ford/Δ-stepping trade. The min-agg keeps each round's
    * output at |reached| rows, so rounds cost |reached ∪ frontier
    * incidence|, still never |V|·rounds.
    */
  def ssspBoundedHops(edges: DataFrame, seeds: DataFrame,
                      rounds: Int): DataFrame = {
    require(rounds >= 0, s"rounds must be >= 0, got $rounds")
    val e = edges.select(col("src"), col("dst"), col("w"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var dist = Dedup.materialize(
      seeds.select(col("id")).distinct().withColumn("dist", lit(0L)))
    for (_ <- 1 to rounds) {
      val relaxed = maybeBroadcast(dist
          .select(col("id").as("src"), col("dist").as("d0")))
        .join(e, Seq("src"))
        .select(col("dst").as("id"), (col("d0") + col("w")).as("dist"))
      dist = Dedup.materialize(dist.union(relaxed)
        .groupBy(col("id")).agg(min(col("dist")).as("dist")))
    }
    e.unpersist()
    dist
  }

  /** Synchronous label propagation (Raghavan et al., Phys. Rev. E
    * 2007) over a SYMMETRIC edge set, made fully deterministic: every
    * node starts labeled with its own id, and each round every node
    * simultaneously adopts the most frequent label among its
    * neighbors, ties broken by the SMALLEST label (the paper's
    * random tie-break is what makes vanilla LPA irreproducible; the
    * min tie-break restores a partition-count-independent fixpoint
    * trajectory, the same determinism discipline as the e12
    * PageRank). A FIXED round count keeps the loop lazily chained
    * (no mid-loop action — the pageRankE12 shape): each round is one
    * equi-join of the label table with the pinned edge table plus
    * two hash aggregates, all shuffle-partitioned on the node key.
    * Synchronous updates on bipartite regions can oscillate
    * (two-coloring flip) — with a fixed round count that is still a
    * deterministic, oracle-replayable answer; callers wanting a
    * fixpoint raise `rounds` and compare consecutive rounds.
    */
  def labelPropagation(edges: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val e = edges.select(col("src"), col("dst"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // |V|, observed once off the seed labels, bounds the label table
    // every round: the row bound of its per-round broadcast
    val (seedLabels, m) = Dedup.materializeObserved(
      e.select(col("src").as("id")).distinct()
        .select(col("id"), col("id").as("lab")),
      count(lit(1)).as("__n"))
    val nV = m("__n").asInstanceOf[Long]
    var labels = seedLabels
    for (_ <- 1 to rounds) {
      labels = e.join(maybeBroadcast(
          labels.withColumnRenamed("id", "nid"), nV),
          col("dst") === col("nid"))
        .groupBy(col("src"), col("lab")).agg(count(lit(1)).as("cnt"))
        // argmax by (count, then smallest label): labels are node ids
        // (non-negative by the caller's contract), so -lab orders the
        // tie-break inside one struct max
        .groupBy(col("src"))
        .agg(max(struct(col("cnt"), (-col("lab")).as("nl"))).as("m"))
        .select(col("src").as("id"), (-col("m.nl")).as("lab"))
    }
    val out = Dedup.materialize(labels)
    e.unpersist()
    out
  }

  /** Degree-oriented triangle count (Suri & Vassilvitskii, WWW'11 —
    * the MapReduce node-iterator++ orientation): same input contract
    * and same answer as [[triangleCountIdOriented]], but each edge is
    * oriented from its (degree, id)-smaller endpoint to the larger, so
    * oriented out-degree — and therefore wedge fanout — is O(√|E|)
    * for EVERY node regardless of raw degree. The orientation total
    * order is compared directly on (deg, id) pairs carried through
    * the join; no global rank assignment (which would itself be a
    * global sort). This is the variant to ship on power-law graphs.
    */
  def triangleCountDegreeOriented(edges: DataFrame): DataFrame = {
    val und = Dedup.materialize(edges.select(col("id_a"), col("id_b")))
    // the |V|-row degree table is pinned so it broadcasts into BOTH
    // orientation joins, which then probe the edge set in place
    val deg = Dedup.materialize(
      und.select(col("id_a").as("id"))
        .union(und.select(col("id_b").as("id")))
        .groupBy(col("id")).agg(count(lit(1)).as("deg")))
    val lowFirst = col("deg_a") < col("deg_b") ||
      (col("deg_a") === col("deg_b") && col("id_a") < col("id_b"))
    val oriented = Dedup.materialize(und
      .join(maybeBroadcast(
        deg.select(col("id").as("id_a"), col("deg").as("deg_a"))),
        Seq("id_a"))
      .join(maybeBroadcast(
        deg.select(col("id").as("id_b"), col("deg").as("deg_b"))),
        Seq("id_b"))
      .select(
        when(lowFirst, col("id_a")).otherwise(col("id_b")).as("src"),
        when(lowFirst, col("id_b")).otherwise(col("id_a")).as("dst"),
        when(lowFirst, col("deg_b")).otherwise(col("deg_a")).as("dst_deg")))
    // a triangle's nodes are totally ordered u < v < w by (deg, id);
    // it is counted exactly once as the wedge (u→v, u→w) closed by v→w
    val wedges = oriented
      .select(col("src").as("u"), col("dst").as("v"),
        col("dst_deg").as("v_deg"))
      .join(maybeBroadcast(
        oriented.select(col("src").as("u"), col("dst").as("w"),
          col("dst_deg").as("w_deg"))), Seq("u"))
      .filter(col("v_deg") < col("w_deg") ||
        (col("v_deg") === col("w_deg") && col("v") < col("w")))
    wedges.join(
        maybeBroadcast(
          oriented.select(col("src").as("v"), col("dst").as("w"))),
        Seq("v", "w"), "left_semi")
      .agg(count(lit(1)).as("n_triangles"))
  }
}
