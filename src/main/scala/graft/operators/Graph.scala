package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative graph analytics beyond the connected-components family in
  * [[Dedup]]: fixed-iteration PageRank in exact integer arithmetic.
  *
  * Every quantity is a long in "rank units" (10^12 total mass), every
  * division is truncating integer division — so the recurrence is a
  * deterministic function of the edge set that a SQL oracle replays
  * exactly, with no float-summation order sensitivity. That is the
  * same integral-domain discipline the rest of the engine uses for
  * money (cents), idf (micro-idf) and NLL (micronats).
  */
object Graph {

  /** Largest canonical edge set [[triangleCounts]] will build a
    * close-join bloom prefilter over (~9.6 MB serialized at 1% fpp —
    * the literal rides every task binary, so the ceiling is a
    * broadcast-budget call, same regime as Spark's own
    * autoBroadcastJoinThreshold).
    */
  private[graft] val DefaultCloseBloomMaxEdges = 8000000L

  /** Fixed-iteration PageRank over a directed edge list `(src, dst)`.
    *
    * Recurrence (all integer ops, values non-negative):
    * {{{
    *   R0(v)   = T div N                 T = 10^12, N = |nodes|
    *   base    = (dampNumComplement * (T div N)) div dampDen
    *   S_i(v)  = Σ_{u→v} ( R_{i-1}(u) div outdeg(u) )
    *   R_i(v)  = base + (dampNum * S_i(v)) div dampDen
    * }}}
    * with dampNumComplement = dampDen - dampNum (0.85 damping is
    * dampNum=85, dampDen=100). Dangling mass (nodes with no
    * out-edges) is deliberately NOT redistributed: the use-case is
    * RANKING, truncating division already leaks up to outdeg-1 units
    * per node per hop, and skipping the redistribution keeps each
    * iteration free of a global aggregate barrier. The recurrence is
    * stated in the oracle and replayed there, so the choice is part of
    * the verified contract, not an approximation.
    *
    * Plan shape per iteration: one equi-join of the rank relation to
    * the degree-annotated edge list on `src`, one hash aggregate on
    * `dst` (map-side partial sum), one left join back to the node set
    * — the canonical distributed PageRank step. The edge list joins
    * by `src` every iteration, so it is repartitioned by `src` ONCE
    * and persisted; ranks arrive already hashed on the same key, so
    * AQE plans the per-iteration join without re-shuffling the edges.
    * Iteration count is a fixed small constant (the caller's
    * convergence budget); each iteration's lineage is cut by an eager
    * localCheckpoint of the rank relation to keep plans constant-size.
    */
  def pageRank(edges: DataFrame, iters: Int,
               dampNum: Long = 85L, dampDen: Long = 100L,
               totalMass: Long = 1000000000000L): DataFrame = Lineage.scope {
    require(iters >= 1 && dampNum >= 0 && dampNum <= dampDen)
    val e = Lineage.shared(edges.select(col("src").cast("long"), col("dst").cast("long"))
      .distinct()
      .repartition(col("src")))
    val deg = e.groupBy("src").agg(count(lit(1)).as("outdeg"))
    val edgesDeg = Lineage.shared(e.join(deg, "src"))
    val nodes = Lineage.shared(e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id")))
      .distinct())
    val n = nodes.count()
    val r0 = totalMass / n
    val base = (dampDen - dampNum) * r0 / dampDen
    var ranks = nodes.withColumn("rank", lit(r0))
    val loop = new Lineage.Rounds
    for (_ <- 1 to iters) {
      // `div`, not `/`: Spark's `/` on longs is DOUBLE division, and a
      // quotient whose fraction is close enough to 1 rounds UP past the
      // integer the oracle's integer division produces. `div` is true
      // 64-bit integer division — bit-equal to DuckDB's `//` here
      // (all values non-negative).
      // shuffle_hash on the O(nodes) rank side: sort-merge would re-SORT
      // the O(edges) relation every round (its src partitioning is
      // checkpoint-preserved, so the exchange is already free — the
      // per-round sort was the remaining edge-sized cost; measured on
      // the g6 twin of this loop at 30x: 52s -> 15.6s, SCALING_r10.json)
      val contribs = edgesDeg
        .join(ranks.withColumnRenamed("id", "src").hint("shuffle_hash"),
          "src")
        .select(col("dst"), expr("rank div outdeg").as("c"))
        .groupBy("dst")
        .agg(sum(col("c")).as("s"))
      // cut per round (Lineage.Rounds): the checkpoint preserves
      // partitioning, so the next round's src-join still avoids
      // re-shuffling the edges
      ranks = loop.next(nodes
        .join(contribs.withColumnRenamed("dst", "id"), Seq("id"), "left")
        .select(col("id"),
          expr(s"${base}L + ($dampNum * coalesce(s, 0L)) div $dampDen")
            .cast("long").as("rank")))
    }
    ranks
  }

  /** [[pageRank]]'s mass-conserving twin: Σ_v rank_i(v) = totalMass
    * EXACTLY, every iteration, by construction — the variant any
    * downstream that SUMS rank (mass-weighted sampling, per-community
    * rank share) needs, where g1's documented dangling-mass leak is
    * wrong rather than merely unnormalized.
    *
    * Two additions to the g1 recurrence, both integer-exact and both
    * oracle-replayable:
    *
    *  1. dangling redistribution (textbook): D_i = Σ ranks of nodes
    *     with no out-edges joins the damped inflow uniformly as
    *     `D_i div N` per node;
    *  2. residual reallocation (largest-remainder apportionment): all
    *     truncation residue — init `T mod N`, per-edge split
    *     remainders, `D mod N`, per-node damping floors — is the
    *     exact scalar δ_i = T − Σ_v R'_i(v) ≥ 0, returned as
    *     `δ div N` to every node plus one extra unit to the first
    *     δ mod N nodes in position order. Node order position is
    *     computed ONCE via [[SequencePack.prefixSum]] (range exchange
    *     + O(partitions) offsets — never a global single-partition
    *     window) and reused every iteration as a plain comparison.
    *
    * Position order is (dangling first, id) — chosen so the round's
    * TWO scalars collapse into ONE driver action: with the dangling
    * census occupying positions 0..|D|−1, the dangling share of any
    * apportionment over the first m positions is just min(m, |D|),
    * so next round's dangling mass D = Σ_D R' + |D|·(δ div N) +
    * min(δ mod N, |D|) is derivable from (Σ_D R', Σ R') — one
    * two-column aggregate over the checkpointed rank relation per
    * iteration (1-row driver read, the IvfIndex bounded-metadata
    * pattern, not a data collect), instead of the two sequential
    * scalar jobs (dangling census, then Σ-rank) the round-9 shape
    * paid. Everything else is g1's plan shape: one src-join + one
    * map-side-combined dst aggregate + one node left join per
    * iteration, edges repartitioned by src once and persisted,
    * lineage cut per round.
    */
  def pageRankConserving(edges: DataFrame, iters: Int,
                         dampNum: Long = 85L, dampDen: Long = 100L,
                         totalMass: Long = 1000000000000L): DataFrame = Lineage.scope {
    require(iters >= 1 && dampNum >= 0 && dampNum <= dampDen)
    val e = Lineage.shared(edges.select(col("src").cast("long"), col("dst").cast("long"))
      .distinct()
      .repartition(col("src")))
    val deg = e.groupBy("src").agg(count(lit(1)).as("outdeg"))
    val edgesDeg = Lineage.shared(e.join(deg, "src"))
    val nodes = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id")))
      .distinct()
      // static dangling flag (no out-edges), part of the node relation
      // for the whole run: it decides position order AND rides the
      // per-round aggregate so the dangling census needs no extra job
      .join(deg.select(col("src").as("id"), lit(true).as("__hasout")),
        Seq("id"), "left")
      .select(col("id"), col("__hasout").isNull.as("dang"))
    // position order (dangling first, id): see the Scaladoc — makes
    // the dangling share of every apportionment min(m, |D|)
    val positioned = SequencePack.prefixSumBy(
      nodes.withColumn("__ord",
          struct(when(col("dang"), 0).otherwise(1).as("d"),
            col("id").as("i")))
        .withColumn("__w", lit(1L)), Seq("__ord"), "__w", outCol = "pos")
    val nodesPos = Lineage.shared(positioned
      .select(col("id"), col("pos"), col("dang")))
    val (n, nDang) = {
      val r = nodesPos.agg(count(lit(1)),
        sum(when(col("dang"), 1L).otherwise(0L))).head()
      (r.getLong(0), r.getLong(1))
    }
    val r0 = totalMass / n
    val base = (dampDen - dampNum) * r0 / dampDen
    // exact init: r0 everywhere + the T mod N remainder to the first
    // positions; its dangling share is analytic (positions 0..|D|-1
    // ARE the dangling nodes)
    var ranks: DataFrame = nodesPos.withColumn("rank",
      lit(r0) + when(col("pos") < lit(totalMass % n), 1L).otherwise(0L))
    var dangling = nDang * r0 + math.min(totalMass % n, nDang)
    val loop = new Lineage.Rounds
    for (_ <- 1 to iters) {
      val q = dangling / n
      // shuffle_hash on the rank side — the g1 rationale verbatim
      val contribs = edgesDeg
        .join(ranks.select(col("id").as("src"), col("rank"))
          .hint("shuffle_hash"), "src")
        .select(col("dst"), expr("rank div outdeg").as("c"))
        .groupBy("dst")
        .agg(sum(col("c")).as("s"))
      // cut per round: rPrime is consumed twice (the round scalar +
      // next round's plan), both reading the checkpoint
      val rPrime = loop.next(nodesPos
        .join(contribs.withColumnRenamed("dst", "id"), Seq("id"), "left")
        .select(col("id"), col("pos"), col("dang"),
          expr(s"${base}L + ($dampNum * (coalesce(s, 0L) + ${q}L)) " +
            s"div $dampDen").cast("long").as("rank")))
      // THE round's one driver action: Σ R' (→ δ, every truncation
      // only LOSES mass vs the real-arithmetic recurrence, so δ ≥ 0)
      // and Σ_D R' (→ next round's dangling mass, closed-form under
      // the dangling-first position order)
      val sums = rPrime.agg(sum(col("rank")),
        sum(when(col("dang"), col("rank")).otherwise(0L))).head()
      val delta = totalMass - sums.getLong(0)
      val sumDang = sums.getLong(1)
      dangling = sumDang + nDang * (delta / n) + math.min(delta % n, nDang)
      ranks = rPrime.select(col("id"), col("pos"), col("dang"),
        (col("rank") + lit(delta / n) +
          when(col("pos") < lit(delta % n), 1L).otherwise(0L)).as("rank"))
    }
    ranks.select(col("id"), col("rank"))
  }

  /** Minimum hop distance from a source node to every node reachable
    * within `iters` hops, over the UNDIRECTED view of an edge list:
    * `(id, dist)`, dist in 0..iters. Nodes not reached in `iters`
    * hops emit no row (the caller bounds the radius; an unreachable
    * marker would force materializing the full node set every call).
    *
    * This is frontier-based parallel BFS — the textbook distributed
    * form (Pregel's hello-world). The invariant that makes it scale:
    * each iteration joins ONLY the current frontier (nodes first
    * reached last hop) against the adjacency, never the whole visited
    * set, and membership is subtracted with a left-anti join before
    * the union — so per-iteration shuffle volume is O(frontier
    * out-degree), and on a 100 TB graph the cost tracks the expanding
    * wavefront, not hops × |V|. The adjacency is repartitioned on
    * `src` once and persisted; frontiers arrive hashed on the same
    * key, so the per-hop join re-shuffles only the (small) frontier,
    * and is unpersisted when the call returns. The visited set is
    * checkpointed each round through [[Lineage.Rounds]], which keeps
    * plans constant-size across iterations and frees the round each
    * new one replaces.
    */
  def bfsHops(edges: DataFrame, source: Long, iters: Int): DataFrame = Lineage.scope {
    require(iters >= 0)
    val spark = edges.sparkSession
    val adj = Lineage.shared(undirected(edges).repartition(col("src")))
    import spark.implicits._
    // per-round state is cut per round, not persisted: each round
    // references the previous relation TWICE (frontier join + visited
    // anti-join), so an uncut logical plan doubles per round and
    // canonicalization/optimization walk it as a tree — exponential
    // work that overflows the stack within a handful of hops
    val loop = new Lineage.Rounds
    var visited = loop.next(Seq((source, 0)).toDF("id", "dist")
      .select(col("id").cast("long"), col("dist").cast("int")))
    var frontier = visited.select(col("id"))
    for (k <- 1 to iters) {
      // neighbors of the frontier not yet assigned a (smaller) dist
      // shuffle_hash on the frontier: it is the SMALL side every round
      // (shrinking toward the BFS fringe), and sort-merge would re-sort
      // the O(edges) adjacency per round
      val reached = adj
        .join(frontier.withColumnRenamed("id", "src").hint("shuffle_hash"),
          "src")
        .select(col("dst").as("id"))
        .distinct()
        .join(visited.select(col("id")), Seq("id"), "left_anti")
        .withColumn("dist", lit(k).cast("int"))
      visited = loop.next(visited.unionAll(reached))
      // read the new frontier back OUT of the checkpointed relation —
      // deriving it from `reached` would re-run the whole round's
      // join/anti-join when the next round evaluates it
      frontier = visited.filter(col("dist") === k).select(col("id"))
    }
    visited
  }

  /** Single-source shortest path lengths under positive integer edge
    * weights, bounded to paths of at most `iters` edges:
    * `(id, d)` for every node with a finite ≤`iters`-hop distance.
    * Edges are DIRECTED as given (callers symmetrize for undirected
    * graphs); parallel edges collapse to their minimum weight.
    *
    * Distributed Bellman-Ford with the delta/changed-set refinement:
    * round k relaxes only edges leaving nodes whose distance IMPROVED
    * in round k−1 — a node whose estimate is unchanged re-offers
    * exactly the candidates it already offered, so skipping it is
    * lossless, by induction round k's estimates equal full
    * Bellman-Ford's d_k(v) = "shortest path using ≤ k edges" (the
    * recurrence the oracle replays with FULL relaxations). Weights
    * stay integral, so `min` is total and replayable with no float
    * anywhere.
    *
    * Shape at 100 TB: same wavefront discipline as [[bfsHops]] — the
    * adjacency repartitions on `src` once and persists; each round is
    * one frontier⋈adjacency equi-join, one map-side-combined min
    * aggregate, one full-outer merge against the estimate relation;
    * shuffle volume tracks the changed set, which collapses as
    * estimates converge, never hops × |E|. The adjacency is
    * unpersisted when the call returns.
    *
    * ADJACENCY BUILD IS ONE EXCHANGE. The normalization aggregate
    * (parallel-edge min) runs AFTER the `src` repartition: hash
    * distribution on `src` already clusters every `(src, dst)` group,
    * so Catalyst plans the aggregate exchange-free on top of the one
    * shuffle the round-joins need anyway — the naive
    * groupBy-then-repartition order pays a second full-edge-set
    * exchange for nothing (at 10⁹ edges that second shuffle IS the
    * build cost). Callers whose edge relation is canonical by
    * construction — no self-loops, `(src, dst)` unique (e.g. derived
    * from a distinct-aggregate like g4's weighted co-purchase pairs) —
    * pass `canonicalEdges = true` to skip the normalization aggregate
    * entirely: adj is then repartition + persist, nothing else.
    */
  /** [[bellmanFord]]'s adjacency relation, pre-persist — factored out
    * so the plan suite can assert the one-exchange shape directly
    * (the round loop checkpoints eagerly, so the build plan is gone
    * from the returned relation's lineage).
    */
  private[graft] def bellmanAdjacency(edges: DataFrame,
                                      canonicalEdges: Boolean): DataFrame = {
    val typed = edges
      .select(col("src").cast("long"), col("dst").cast("long"),
        col("w").cast("long"))
      .repartition(col("src"))
    if (canonicalEdges) typed
    else typed
      .filter(col("src") =!= col("dst"))
      .groupBy(col("src"), col("dst")).agg(min(col("w")).as("w"))
  }

  def bellmanFord(edges: DataFrame, source: Long, iters: Int,
                  canonicalEdges: Boolean = false): DataFrame = Lineage.scope {
    require(iters >= 0)
    val spark = edges.sparkSession
    val fin = Long.MaxValue
    val adj = Lineage.shared(bellmanAdjacency(edges, canonicalEdges))
    import spark.implicits._
    // cut per round — each round references the previous relation
    // twice (dist merge + frontier relax), so an uncut plan doubles per
    // round; see [[bfsHops]]
    val loop = new Lineage.Rounds
    val init = loop.next(Seq((source, 0L, true)).toDF("id", "d", "improved"))
    var dist = init.select(col("id"), col("d"))
    var frontier = dist
    for (_ <- 1 to iters) {
      val cand = adj
        .join(frontier.withColumnRenamed("id", "src"), "src")
        .select(col("dst").as("id"), (col("d") + col("w")).as("nd"))
        .groupBy("id").agg(min(col("nd")).as("nd"))
      val merged = loop.next(dist.withColumnRenamed("d", "od")
        .join(cand, Seq("id"), "full_outer")
        .select(col("id"),
          least(coalesce(col("od"), lit(fin)),
            coalesce(col("nd"), lit(fin))).as("d"),
          (col("nd").isNotNull &&
            (col("od").isNull || col("nd") < col("od"))).as("improved")))
      // both views read back out of the ONE checkpointed relation (the
      // bfsHops lineage rule)
      dist = merged.select(col("id"), col("d"))
      frontier = merged.filter(col("improved")).select(col("id"), col("d"))
    }
    dist
  }

  /** Per-node triangle participation counts over an undirected graph
    * given as a (possibly directed, possibly duplicated) edge list.
    *
    * The naive wedge join — every node joins its full neighbor list
    * against itself — explodes quadratically on hub nodes (a degree-d
    * hub emits C(d, 2) wedges; one celebrity node in a social graph is
    * the whole job). This is the DEGREE-ORDERED orientation instead
    * (the node-iterator++ / Cohen MR formulation, public literature):
    * orient every edge from its (degree, id)-smaller endpoint to the
    * larger, so each triangle has exactly ONE vertex with two
    * out-edges (its minimum) and is generated as exactly one wedge.
    * Out-degrees under this orientation are bounded by O(√m) on ANY
    * graph — a hub's wedges are generated by its low-degree
    * neighbors, not by the hub — so wedge volume is O(m^1.5) worst
    * case instead of Σd², and a 100 TB power-law graph keeps working.
    *
    * Plan: canonicalize + distinct (one shuffle), degree aggregate,
    * two equi-joins (wedge build on the common endpoint, wedge close
    * against the canonical edge set), explode each triangle to its 3
    * corners, count. No cartesian anywhere; the orientation join keys
    * are plain equality.
    *
    * `waves > 1` runs the wedge pipeline in `waves` sequential passes
    * over disjoint apex hash classes (a wedge's legs share its apex,
    * so each wedge — and so each triangle — lands in exactly one
    * wave), merging O(nodes)-sized per-wave corner counts at the end.
    * Identical answer, peak shuffle scratch divided by ~waves: the
    * knob for wedge volumes that out-size a node's spill disk. On a
    * cluster the same volume spreads across executors' local disks
    * and waves=1 is right until it isn't — the decision input is
    * wedge volume × ~24 B against aggregate scratch.
    *
    * The waved inputs are materialized ONCE as parquet tables BUCKETED
    * on their join keys (`oriented` on the apex `u`, the canonical
    * edge set on `(a, b)`): a bucketed scan already satisfies the
    * join's hash-distribution requirement, so the wedge self-join
    * runs with ZERO exchange every wave and the close join shuffles
    * only the wave's wedges — the two per-wave re-shuffles of fixed
    * O(edges) relations that made 2-wave runs cost 1.65–1.78× the
    * single-pass per-wedge rate (SCALING_r10 finding B) are paid once
    * at table-build time instead of once per wave. shuffle_hash on
    * the bucketed build sides keeps the multi-billion-row wedge
    * stream out of sort-merge sorts.
    *
    * CLOSE-JOIN BLOOM PREFILTER: most wedges do not close (the sf0.1
    * co-purchase graph closes ~1.9 M of 41 M wedges), yet every wedge
    * used to ride the close join's exchange. When the canonical edge
    * count fits [[DefaultCloseBloomMaxEdges]], a bloom over
    * `xxhash64(a, b)` of the edge set — built distributed, ~1.2 MB
    * per million edges at 1% fpp — rides the wedge stage as a codegen'd
    * literal probe, killing non-closing wedges BEFORE the exchange;
    * xxhash64 collisions and bloom false positives only pass extra rows
    * to the exact equi-join, never corrupt it. Above the ceiling the
    * plan falls back to the honest shuffle: at 10⁹⁺-edge scale a
    * driver-held bloom is the anti-plan (gigabytes in every task
    * binary), and the wedge exchange is the correct cost. Sizing the
    * bloom runs ONE eager job over the (persisted/bucketed) edge set at
    * call time — this operator is eager, like [[triangleCountsAuto]].
    */
  def triangleCounts(edges: DataFrame, waves: Int = 1): DataFrame = {
    require(waves >= 1, s"waves must be >= 1, got $waves")
    triangleCountsWith(edges, Some(waves))
  }

  /** Shared body of [[triangleCounts]] and [[triangleCountsAuto]], with
    * both size gates as parameters so specs can force either side at
    * test scale: `closeBloomMaxEdges` is the bloom ceiling (0 disables
    * the prefilter) and `scratchBudgetBytes` the per-wave budget the
    * auto path sizes waves against. `fixedWaves = None` is the auto
    * path: the wave count derives from the exact wedge volume,
    * counted with one O(nodes) aggregate over the SAME persisted
    * orientation the single-pass join consumes — the earlier
    * compose-from-public-parts auto (wedgeVolume(edges) then
    * triangleCounts(edges)) re-derived the caller's whole edge
    * pipeline and re-ran the orientation joins, measured +35% on g2's
    * bench wall (round 16, BENCH_NOTES_r16.md / OPTIMIZATION_r16.md).
    */
  private[graft] def triangleCountsWith(
      edges: DataFrame, fixedWaves: Option[Int],
      closeBloomMaxEdges: Long = DefaultCloseBloomMaxEdges,
      scratchBudgetBytes: Long = DefaultWaveScratchBytes): DataFrame = Lineage.scope {
    val undPlan = canonicalUnd(edges)
    // serialized bloom over the canonical edge fingerprints, or None
    // when the edge set out-sizes the broadcast-a-bloom regime (see
    // scaladoc) — sized by an exact count of the already-materialized
    // edge relation, built distributed by df.stat
    def closeBloom(und: DataFrame): Option[Array[Byte]] = {
      val m = if (closeBloomMaxEdges <= 0) Long.MaxValue else und.count()
      if (m > closeBloomMaxEdges) None
      else {
        val bloom = und.select(xxhash64(col("a"), col("b")).as("k"))
          .stat.bloomFilter("k", math.max(m, 1L), 0.01)
        val out = new java.io.ByteArrayOutputStream()
        bloom.writeTo(out)
        Some(out.toByteArray)
      }
    }
    // wedges at each triangle's (degree, id)-minimum vertex; the pair
    // (x, y) is kept in id order so closing it is one equi-join on
    // the canonical edge set. A wedge's BOTH legs share its apex u, so
    // restricting the apex to one hash class builds each wedge in
    // exactly one wave — the per-wave pipeline is the whole-graph
    // pipeline over 1/waves of the wedge volume, and the union of
    // waves is exactly the single-pass answer.
    def corners(oriented: DataFrame, und: DataFrame,
                bloom: Option[Array[Byte]],
                nWaves: Int, wv: Int, hints: Boolean): DataFrame = {
      val o = if (nWaves == 1) oriented
              else oriented.filter(pmod(hash(col("u")), lit(nWaves)) === wv)
      val ySide = o.select(col("u"), col("v").as("y"))
      val wedges = o.select(col("u"), col("v").as("x"))
        .join(if (hints) ySide.hint("shuffle_hash") else ySide, "u")
        .filter(col("x") < col("y"))
      val prefiltered = bloom.fold(wedges)(bytes =>
        wedges.filter(call_function("bloom_might_contain", lit(bytes),
          xxhash64(col("x"), col("y")))))
      prefiltered
        .join(if (hints) und.hint("shuffle_hash") else und,
          col("x") === col("a") && col("y") === col("b"))
        .select(col("u"), col("x"), col("y"))
        .select(explode(array(col("u"), col("x"), col("y"))).as("node"))
        .groupBy(col("node"))
        .agg(count(lit(1)).as("n_triangles"))
    }
    val und = Lineage.shared(undPlan)
    // orientation shared by the auto wedge pre-count and the
    // single-pass join; never materialized on the fixed-waves path
    // (which orients straight into the bucketed table write)
    lazy val orientedCached = Lineage.shared(orient(und))
    // auto: the exact wedge volume, one aggregate over the cached
    // orientation the join reuses
    val waves = fixedWaves.getOrElse(
      wavesFor(wedgesOf(orientedCached), scratchBudgetBytes))
    if (waves == 1) {
      // single-pass: persisted in-memory relations feed both join
      // sides; AQE sizes them at runtime (broadcast when small), so no
      // hints. The O(nodes) corner counts read both caches, so the
      // scope checkpoints them and frees the caches
      corners(orientedCached, und, closeBloom(und), 1, 0, hints = false)
    } else {
      // WAVED execution — the in-box/bounded-scratch path for wedge
      // volumes whose materialized join would exhaust shuffle spill
      // space run whole (4.1 B wedges ≈ >80 GB scratch on one box;
      // SCALING_r09). und and oriented are written ONCE as bucketed
      // tables so every wave's joins read a pre-partitioned scan
      // instead of re-shuffling the fixed relations; each wave's
      // O(nodes) corner-count partial is eagerly localCheckpoint'ed,
      // and dropping every reference to the wave's joins lets the
      // ContextCleaner retire its shuffle files before the next wave
      // writes, bounding peak scratch at ~1/waves of the whole-join
      // footprint (Lineage.unionWaves).
      val spark = undPlan.sparkSession
      val runId = java.util.UUID.randomUUID().toString.replace("-", "")
      val undTbl = s"graft_g2_und_$runId"
      val orTbl = s"graft_g2_or_$runId"
      val tmp = java.nio.file.Files.createTempDirectory("graft_g2_waves")
      val buckets = spark.conf.get("spark.sql.shuffle.partitions").toInt
      try {
        und.write.format("parquet")
          .bucketBy(buckets, "a", "b")
          .option("path", tmp.resolve("und").toString)
          .saveAsTable(undTbl)
        val undT = spark.table(undTbl)
        // auto reached here having already materialized the cached
        // orientation for its pre-count — write THAT, not a recompute;
        // fixed-waves orients straight off the bucketed scan as before
        (if (fixedWaves.isDefined) orient(undT) else orientedCached)
          .write.format("parquet")
          .bucketBy(buckets, "u")
          .option("path", tmp.resolve("or").toString)
          .saveAsTable(orTbl)
        val orientedT = spark.table(orTbl)
        // the waved pipeline reads only the bucketed tables from here —
        // free the cached copies before the wedge waves need scratch
        if (fixedWaves.isEmpty) Lineage.release(orientedCached)
        Lineage.release(und)
        val bloom = closeBloom(undT) // one bloom serves every wave
        // shuffle_hash hints: the build sides are bucketed scans the
        // wave reads exchange-free; unhinted, Catalyst would plan
        // sort-merge and SORT the wedge stream (the AQE-hint rule —
        // stats exist here, but the sort is the known loss)
        Lineage.unionWaves(waves)(wv =>
          corners(orientedT, undT, bloom, waves, wv, hints = true))
          .groupBy(col("node"))
          .agg(sum(col("n_triangles")).as("n_triangles"))
      } finally {
        // the partials are already materialized RDDs: the bucketed
        // inputs can be dropped before the merged frame is ever read
        spark.sql(s"DROP TABLE IF EXISTS `$undTbl`")
        spark.sql(s"DROP TABLE IF EXISTS `$orTbl`")
        graft.core.Scratch.delete(tmp.toFile)
      }
    }
  }

  /** Exact wedge volume of [[triangleCounts]]' degree-ordered
    * orientation: Σ over nodes of C(out-degree, 2). This is the join's
    * work AND scratch denominator (each wedge is one probe row of the
    * close join), and computing it costs one degree aggregate + two
    * O(edges) equi-joins + an O(nodes) sum — orders of magnitude less
    * than materializing the wedges themselves, so it is the right
    * pre-pass for sizing waved execution before committing to the
    * join.
    */
  def wedgeVolume(edges: DataFrame): Long =
    wedgesOf(orient(canonicalUnd(edges)))

  /** The canonical undirected edge set (a < b, loopless, distinct) —
    * the shared first stage of [[triangleCounts]], [[wedgeVolume]] and
    * [[triangleCountsAuto]] (which persists it so the pre-count and
    * the join pay the upstream derivation once).
    */
  private def canonicalUnd(edges: DataFrame): DataFrame =
    edges
      .select(least(col("src"), col("dst")).cast("long").as("a"),
        greatest(col("src"), col("dst")).cast("long").as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()

  /** The degree orientation over a canonical edge set: each edge
    * `(a, b)` becomes `(u, v)` pointing toward its (degree, id)-larger
    * endpoint, so every triangle has exactly one vertex (its minimum)
    * with two out-edges.
    */
  private def orient(und: DataFrame): DataFrame = {
    val deg = und.select(col("a").as("n"))
      .unionAll(und.select(col("b").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("d"))
    und
      .join(deg.select(col("n").as("a"), col("d").as("__da")), "a")
      .join(deg.select(col("n").as("b"), col("d").as("__db")), "b")
      .select(
        when(col("__da") < col("__db") ||
            (col("__da") === col("__db") && col("a") < col("b")),
          struct(col("a").as("u"), col("b").as("v")))
          .otherwise(struct(col("b").as("u"), col("a").as("v")))
          .as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
  }

  /** Exact wedge volume Σ_u C(out-degree(u), 2) of an oriented edge
    * set — one O(nodes) aggregate.
    */
  private def wedgesOf(oriented: DataFrame): Long =
    oriented.groupBy(col("u")).agg(count(lit(1)).as("od"))
      .agg(coalesce(sum(expr("od * (od - 1) div 2")), lit(0L)).as("w"))
      .head().getLong(0)

  /** Measured close-join scratch per wedge (shuffle write of the wedge
    * stream + its sort-free hash-join structures; SCALING_r09/r10:
    * ~600 M wedges per ~15-20 GB wave).
    */
  private val BytesPerWedge = 32L

  /** Per-wave shuffle scratch [[triangleCountsAuto]] sizes waves
    * against: 20 GB, the in-box per-wave ceiling the SCALING_r09/r10
    * studies ran at.
    */
  private[graft] val DefaultWaveScratchBytes: Long = 20L * 1000 * 1000 * 1000

  /** [[triangleCounts]] with the wave count DERIVED from the measured
    * wedge volume instead of guessed by the caller — the default entry
    * point at data scales where the wedge join's shuffle scratch may
    * out-size the node (the 100 TB posture: a graph too big to
    * eyeball is exactly a graph whose wedge volume nobody knows ahead
    * of time). waves = ceil(wedges × 32 B / budget), where the budget
    * is [[DefaultWaveScratchBytes]]. The pre-pass costs one O(edges)
    * aggregate pipeline ([[wedgeVolume]]); with bucketed fixed
    * relations a waved run costs no more per wedge than single-pass
    * (SCALING_r11: 2-wave 30x at 0.173 s/M wedges vs 0.451
    * single-pass, same JVM), so over-waving is cheap insurance while
    * under-waving is an out-of-disk abort — auto-sizing errs on the
    * waved side via ceil.
    */
  def triangleCountsAuto(edges: DataFrame): DataFrame =
    triangleCountsWith(edges, None)

  /** ceil(wedges × 32 B / budget), floored at one wave. */
  private[graft] def wavesFor(wedges: Long, budgetBytes: Long): Int =
    Lineage.waves(BigInt(wedges) * BytesPerWedge, budgetBytes)

  /** The undirected simple view of an edge list: both directions of
    * every edge, self-loops dropped, deduplicated.
    */
  private[graft] def undirected(edges: DataFrame): DataFrame = {
    val dir = edges.select(col("src").cast("long"), col("dst").cast("long"))
    dir.unionAll(dir.select(col("dst").as("src"), col("src").as("dst")))
      .filter(col("src") =!= col("dst"))
      .distinct()
  }

  /** Fixed-round k-core peel: `rounds` iterations of "delete every node
    * whose current degree is below k, and every edge touching one",
    * over the undirected simple graph induced by `edges` (directions
    * symmetrized, self-loops dropped, parallel edges collapsed).
    * Returns `(id, deg)` for nodes that still carry an edge after the
    * last round, with their residual degree. The CASCADE is the point:
    * a node can survive round 1 on its raw degree and die in round 2
    * because its neighbors died — reaching the true k-core at the
    * peeling fixpoint; a bounded `rounds` keeps the recurrence exactly
    * replayable (the g1/g3/g4 contract: the oracle unrolls the same
    * rounds, so results are bit-comparable with no convergence
    * tolerance).
    *
    * Shape at 100 TB: per round ONE degree aggregate (map-side
    * combined, O(nodes) through the shuffle) and TWO semi-join passes
    * of the edge relation against the O(nodes) survivor set — never a
    * per-node subgraph walk. The edge relation re-materializes each
    * round hashed on `src` (cut per round through [[Lineage.Rounds]]:
    * each round reads the previous relation three times, so an uncut
    * plan grows 3^rounds).
    */
  def kCorePeel(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(k >= 1 && rounds >= 0)
    val loop = new Lineage.Rounds
    var adj = loop.next(undirected(edges).repartition(col("src")))
    for (_ <- 1 to rounds) {
      val keep = adj.groupBy(col("src")).agg(count(lit(1)).as("__deg"))
        .filter(col("__deg") >= k)
        .select(col("src").as("__id"))
      // NO join hint here, deliberately (measured, SCALING_r10): `keep`
      // is the output of a materialized shuffle stage, so AQE sizes it
      // at runtime and converts both semi-joins to BROADCAST when it
      // fits — the edge relation is then never shuffled at all. Forcing
      // shuffle_hash (tried) disabled that and cost 3-6x at 30-100x.
      // Contrast the g1/g6 loops, whose build sides are checkpointed
      // LogicalRDDs with unknown stats that AQE cannot size — there the
      // explicit hint is what avoids a per-round edge sort.
      adj = loop.next(adj
        .join(keep.select(col("__id").as("src")), Seq("src"), "left_semi")
        .join(keep.select(col("__id").as("dst")), Seq("dst"), "left_semi")
        .select(col("src"), col("dst"))
        .repartition(col("src")))
    }
    adj.groupBy(col("src").as("id"))
      .agg(count(lit(1)).cast("long").as("deg"))
  }

  /** Fixed-round synchronous label propagation (community detection):
    * every node starts as its own label; each round every node adopts
    * the most frequent label among its NEIGHBORS' previous-round labels
    * (its own current label does not vote), ties broken toward the
    * smaller label — the deterministic variant of Raghavan et al.'s
    * LPA, exactly replayable with a bounded `rounds` (the g1/g3/g4/g5
    * contract: the oracle unrolls the identical recurrence, bit-exact,
    * no convergence tolerance).
    *
    * Per round: one join of the edge relation against the O(nodes)
    * label relation (hashed on the label side's id), then TWO cascaded
    * map-side-combined aggregates — (node, label) vote counts, then the
    * per-node argmax folded as `max(struct(cnt, −label))` so the
    * frequency-then-min-label pick is ONE HashAggregate, not a window
    * sort over the vote relation. Labels are cut each round through
    * [[Lineage.Rounds]]; the checkpointed adjacency is released when
    * the call returns. Nothing ever holds a node's neighborhood in
    * memory; state through every shuffle is O(edges) votes collapsing
    * to O(nodes).
    */
  def labelPropagation(edges: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 0)
    // adj is checkpointed once and read by every round; it is released
    // on return, when only the final label round is still referenced
    val fixed = new Lineage.Rounds
    val loop = new Lineage.Rounds
    val adj = fixed.next(undirected(edges).repartition(col("dst")))
    var labels = loop.next(adj.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("label")))
    try for (_ <- 1 to rounds) labels = loop.next(labelRound(adj, labels))
    finally fixed.release()
    labels.select(col("id"), col("label"))
  }

  /** One uncut [[labelPropagation]] round over a dst-partitioned
    * adjacency: every node adopts its neighbors' most frequent label.
    */
  private[graft] def labelRound(adj: DataFrame, labels: DataFrame): DataFrame =
    // shuffle_hash on the O(nodes) label side: a sort-merge join here
    // re-SORTS the O(edges) adjacency relation every round (adj's
    // checkpoint preserves its dst hash-partitioning, so the exchange
    // is already free — the per-round sort was the remaining
    // edge-relation-sized cost; measured at 30x, SCALING_r10.json). Hashing
    // the per-partition label slice is O(nodes/partitions) and the
    // edge side streams unsorted. Broadcast would be wrong here: the
    // label relation grows with the graph and re-collects per round.
    adj
      .join(labels.select(col("id").as("dst"), col("label"))
        .hint("shuffle_hash"), Seq("dst"))
      .groupBy(col("src"), col("label"))
      .agg(count(lit(1)).as("__cnt"))
      .groupBy(col("src").as("id"))
      .agg(max(struct(col("__cnt"), (-col("label")).as("__neg")))
        .as("__pick"))
      .select(col("id"), (-col("__pick.__neg")).as("label"))

  /** Newman modularity of a node partition, per community, in EXACT
    * scaled-integer form. With m undirected edges, e_c internal edges
    * of community c and d_c its degree sum, the community's modularity
    * contribution is e_c/m − (d_c/2m)²; scaling by the common
    * denominator 4m² gives the integer
    *
    *   q_num(c) = 4·m·e_c − d_c²        (Q = Σ_c q_num(c) / 4m²)
    *
    * — products computed in DECIMAL(38,0) (d_c² passes int64 once a
    * community holds ~3B degree at 100 TB), surfaced as BIGINT like
    * t16's tv_num. The caller sums q_num over communities and divides
    * by 4m² for the scalar Q; per-community rows are the useful grain
    * (they say WHICH communities are denser than chance: q_num > 0).
    *
    * Shape: the edge relation symmetrized once, then two equi-joins
    * against the O(nodes) label relation (internal-edge test), one
    * degree aggregate, and O(communities) bookkeeping; m rides a 1-row
    * broadcast (the t13/q9b sketch-scalar pattern) — no collect, no
    * cartesian, no window.
    */
  def modularity(edges: DataFrame, labels: DataFrame): DataFrame = Lineage.scope {
    // checkpointed, not shared: adj feeds three consumers (m, e_in,
    // d_sum) of a result that stays lazy, so it materializes once here
    // and the returned plan reads it
    val adj = Lineage.materialize(undirected(edges))
    val lab = labels.select(col("id"), col("label"))
    val dec = "decimal(38,0)"
    val mRel = adj.agg((count(lit(1)) / 2).cast("long").as("__m"))
    val nodes = lab.groupBy(col("label"))
      .agg(count(lit(1)).as("n_nodes"))
    // both-endpoints-internal rows appear twice in adj → count/2
    val ein = adj
      .join(lab.select(col("id").as("src"), col("label").as("__ls")), Seq("src"))
      .join(lab.select(col("id").as("dst"), col("label").as("__ld")), Seq("dst"))
      .filter(col("__ls") === col("__ld"))
      .groupBy(col("__ls").as("label"))
      .agg((count(lit(1)) / 2).cast("long").as("e_in"))
    val dsum = adj.groupBy(col("src").as("id"))
      .agg(count(lit(1)).as("__d"))
      .join(lab, Seq("id"))
      .groupBy(col("label"))
      .agg(sum(col("__d")).as("d_sum"))
    // dsum gets the same left-join + fill treatment as e_in: a
    // community whose members all have zero degree (caller-supplied
    // labels for ids absent from edges) must emit (n_nodes, 0, 0, 0),
    // not silently vanish from the result.
    nodes
      .join(ein, Seq("label"), "left")
      .na.fill(0L, Seq("e_in"))
      .join(dsum, Seq("label"), "left")
      .na.fill(0L, Seq("d_sum"))
      .crossJoin(broadcast(mRel))
      .select(col("label"), col("n_nodes"), col("e_in"), col("d_sum"),
        (lit(4).cast(dec) * col("__m").cast(dec) * col("e_in").cast(dec) -
          col("d_sum").cast(dec) * col("d_sum").cast(dec))
          .cast("long").as("q_num"))
  }
}
