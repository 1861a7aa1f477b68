package graft

import org.apache.spark.sql.functions._

import graft.operators.Graph

class GraphSpec extends SparkSpecBase {

  private def ranks(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
    val s = spark
    import s.implicits._
    Graph.pageRank(edges.toDF("src", "dst"), iters)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("pageRank on a 3-cycle reproduces the integer recurrence by hand") {
    // N=3: r0 = 333333333333, base = (15*r0)/100 = 49999999999,
    // each node has exactly one predecessor with outdeg 1, so
    // R1 = base + (85*r0)/100 = 49999999999 + 283333333333 = 333333333332
    val got = ranks(Seq((1L, 2L), (2L, 3L), (3L, 1L)), iters = 1)
    assert(got == Map(1L -> 333333333332L, 2L -> 333333333332L, 3L -> 333333333332L))
  }

  test("pageRank leaks dangling mass by contract (documented, oracle-replayed)") {
    // N=2, edge 1→2 only: r0 = 5e11, base = 7.5e10.
    // R1(1) = base (no in-edges); R1(2) = base + (85*5e11)/100 = 5e11.
    // R2(2) = base + (85*R1(1))/100 = 7.5e10 + 63750000000 = 138750000000
    // — node 2's dangling mass is gone, not redistributed.
    val one = ranks(Seq((1L, 2L)), iters = 1)
    assert(one == Map(1L -> 75000000000L, 2L -> 500000000000L))
    val two = ranks(Seq((1L, 2L)), iters = 2)
    assert(two == Map(1L -> 75000000000L, 2L -> 138750000000L))
  }

  test("pageRank splits contributions by out-degree with truncating division") {
    // 1 → {2, 3}: outdeg(1)=2, r0 = 10^12/3 = 333333333333 (odd), so
    // each successor gets (r0 div 2) = 166666666666 — the truncated
    // unit is LOST, which is exactly what the oracle replays.
    val got = ranks(Seq((1L, 2L), (1L, 3L)), iters = 1)
    val base = 49999999999L
    val expected = base + 85L * 166666666666L / 100L
    assert(got(2L) == expected && got(3L) == expected)
    assert(got(1L) == base)
  }

  test("pageRank ranks the hub above spokes on a star and conserves order") {
    // spokes 2..5 all point at 1, and 1 points at 2: the hub must
    // dominate after any number of iterations
    val edges = Seq((2L, 1L), (3L, 1L), (4L, 1L), (5L, 1L), (1L, 2L))
    val got = ranks(edges, iters = 3)
    assert(got(1L) > got(2L) && got(2L) > got(3L))
    assert(got(3L) == got(4L) && got(4L) == got(5L))
  }

  private def consRanks(edges: Seq[(Long, Long)],
                        iters: Int): Map[Long, Long] = {
    val s = spark
    import s.implicits._
    Graph.pageRankConserving(edges.toDF("src", "dst"), iters)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  /** In-memory replay of the conserving recurrence. */
  private def consRef(edges: Seq[(Long, Long)], iters: Int,
                      t: Long = 1000000000000L): Map[Long, Long] = {
    val e = edges.filter(x => true).distinct
    val nodes = e.flatMap(x => Seq(x._1, x._2)).distinct.sorted
    val n = nodes.size
    val outdeg = e.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
    // position order (dangling first, id) — the engine's contract that
    // makes the dangling share of each apportionment analytic
    val pos = nodes.sortBy(v => (outdeg.contains(v), v)).zipWithIndex.toMap
    val r0 = t / n
    val base = (100L - 85L) * r0 / 100L
    var r = nodes.map(v =>
      v -> (r0 + (if (pos(v) < t % n) 1L else 0L))).toMap
    for (_ <- 1 to iters) {
      val d = nodes.filterNot(outdeg.contains).map(r).sum
      val q = d / n
      val s = e.groupBy(_._2).map { case (v, in) =>
        v -> in.map(ed => r(ed._1) / outdeg(ed._1)).sum
      }
      val rp = nodes.map(v =>
        v -> (base + 85L * (s.getOrElse(v, 0L) + q) / 100L)).toMap
      val delta = t - rp.values.sum
      assert(delta >= 0)
      r = nodes.map(v =>
        v -> (rp(v) + delta / n +
          (if (pos(v) < delta % n) 1L else 0L))).toMap
    }
    r
  }

  test("pageRankConserving: a dangling fixture sums to exactly 10^12 " +
    "after EVERY iteration") {
    // node 2 and 4 are dangling; 10^12 is not divisible by N=4... it
    // is (25e10 each) — use N=3 fixture too so T mod N > 0 is covered
    val dangling = Seq((1L, 2L), (3L, 4L), (1L, 4L))
    for (it <- 1 to 3) {
      val got = consRanks(dangling, it)
      assert(got.values.sum == 1000000000000L, s"iters=$it")
      assert(got == consRef(dangling, it), s"iters=$it")
    }
    val n3 = Seq((1L, 2L), (3L, 2L)) // N=3, T mod 3 = 1, both 1,3 dangling-free
    for (it <- 1 to 3) {
      val got = consRanks(n3, it)
      assert(got.values.sum == 1000000000000L, s"n3 iters=$it")
      assert(got == consRef(n3, it), s"n3 iters=$it")
    }
  }

  test("pageRankConserving: differential vs the in-memory recurrence on " +
    "a seeded random graph with planted dangling nodes") {
    val rnd = new scala.util.Random(2041)
    val n = 25
    // dsts drawn from a wider range than srcs → guaranteed dangling ids
    val edges = (1 to 80).map(_ =>
      (rnd.nextInt(n).toLong, rnd.nextInt(2 * n).toLong))
      .filter(e => e._1 != e._2)
    for (it <- Seq(1, 3)) {
      val got = consRanks(edges, it)
      assert(got == consRef(edges, it), s"iters=$it")
      assert(got.values.sum == 1000000000000L)
    }
  }

  test("pageRankConserving: TWO driver actions per iteration — the " +
    "round's checkpoint materialization plus ONE fused scalar " +
    "aggregate (raw Spark-job counts are AQE-stage-dependent; actions " +
    "are the deterministic series the claim is about)") {
    val s = spark
    import s.implicits._
    val edges = Seq((1L, 2L), (3L, 4L), (1L, 4L), (2L, 5L))
    // per-round action count measured as a DIFFERENCE of two runs, so
    // the (constant) setup actions cancel
    def actionsFor(iters: Int): Int =
      executionsDuring(Graph.pageRankConserving(edges.toDF("src", "dst"), iters).count())
        .plans.size
    val a2 = actionsFor(2)
    val a5 = actionsFor(5)
    assert(a5 - a2 == 3 * 2,
      s"expected 2 driver actions per extra iteration, got a2=$a2 a5=$a5")
  }

  test("pageRankConserving: without dangling nodes or truncation it " +
    "agrees with pageRank up to the residual apportionment") {
    // 4-cycle: N=4 divides 10^12, every node outdeg 1 — the leak-free
    // case where conserving and leaking recurrences coincide except
    // for base/damping floor residue, which conserving returns
    val cyc = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L))
    val cons = consRanks(cyc, 2)
    assert(cons.values.sum == 1000000000000L)
    // symmetric graph → perfectly uniform conserved ranks
    assert(cons.values.toSet.size == 1)
  }

  private def tri(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val s = spark
    import s.implicits._
    Graph.triangleCounts(edges.toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  // per-node triangle counts by enumerating every vertex triple
  private def bruteTri(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val und = edges.collect { case (a, b) if a != b =>
      (math.min(a, b), math.max(a, b)) }.toSet
    (for {
      Seq(x, y, z) <- und.flatMap(e => Seq(e._1, e._2)).toSeq.distinct.sorted
        .combinations(3).toSeq
      if und((x, y)) && und((y, z)) && und((x, z))
      node <- Seq(x, y, z)
    } yield node).groupBy(identity).map { case (k, v) => k -> v.size.toLong }
  }

  test("triangles: hand graphs — triangle, square, K4, star, dup/reversed edges") {
    assert(tri(Seq((1L, 2L), (2L, 3L), (3L, 1L))) ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
    // 4-cycle has no triangles
    assert(tri(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L))) == Map.empty)
    // K4: 4 triangles, every node in 3
    val k4 = for (i <- 1L to 4L; j <- (i + 1) to 4L) yield (i, j)
    assert(tri(k4) == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    // star: no triangles regardless of hub degree
    assert(tri((2L to 8L).map(i => (1L, i))) == Map.empty)
    // duplicate, reversed and self-loop edges must not change counts
    assert(tri(Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 1L), (1L, 3L),
      (2L, 2L))) == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("triangles: differential vs brute force on a seeded random graph") {
    val rnd = new scala.util.Random(777)
    val n = 30
    val edges = (1 to 120).map(_ =>
      (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
    val expected = bruteTri(edges)
    assert(tri(edges) == expected)
  }

  test("triangles: waved execution (any wave count) equals the " +
    "single-pass answer — each wedge lands in exactly one apex wave") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(4321)
    val n = 40
    val edges = (1 to 300).map(_ =>
      (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
    val single = tri(edges)
    assert(single.nonEmpty, "fixture must contain triangles")
    for (waves <- Seq(2, 3, 7)) {
      val waved = Graph.triangleCounts(edges.toDF("src", "dst"), waves)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(waved == single, s"waves=$waves")
    }
  }

  test("triangles: wedgeVolume is exact and auto wave-sizing derives " +
    "waves from it") {
    val s = spark
    import s.implicits._
    // path a-b-c-d: orientation makes each 2-path one wedge candidate;
    // K4: each node's oriented out-degree is (3,2,1,0) -> C(3,2)+C(2,2)
    // = 3+1 = 4 wedges
    val k4 = for (i <- 1L to 4L; j <- (i + 1) to 4L) yield (i, j)
    assert(Graph.wedgeVolume(k4.toDF("src", "dst")) == 4L)
    // star: hub degree-ordered LAST, every leaf orients toward it with
    // out-degree 1 -> zero wedges regardless of hub fan-out
    assert(Graph.wedgeVolume((2L to 9L).map(i => (1L, i))
      .toDF("src", "dst")) == 0L)
    // the sizing arithmetic: ceil(wedges * 32 / budget), floor 1
    assert(Graph.wavesFor(0L, 1000L) == 1)
    assert(Graph.wavesFor(31L, 1000L) == 1)   // 992 B fits
    assert(Graph.wavesFor(32L, 1000L) == 2)   // 1024 B: 2 waves
    assert(Graph.wavesFor(625000000L, 20000000000L) == 1)
    assert(Graph.wavesFor(625000001L, 20000000000L) == 2)
    intercept[IllegalArgumentException](Graph.wavesFor(1L, 0L))
    // end-to-end: a scratch budget small enough to force multiple
    // waves must reproduce the single-pass answer bit-for-bit
    val rnd = new scala.util.Random(9181)
    val edges = (1 to 250).map(_ =>
      (rnd.nextInt(35).toLong, rnd.nextInt(35).toLong))
    val single = tri(edges)
    assert(single.nonEmpty)
    val df = edges.toDF("src", "dst")
    assert(Graph.wavesFor(Graph.wedgeVolume(df), 64L) > 1,
      "fixture must actually engage waved execution")
    val auto = Graph.triangleCountsWith(df, None, scratchBudgetBytes = 64L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(auto == single)
  }

  test("triangles: with the close-join bloom forced off (ceiling 0) the " +
    "answer equals the bloom-on answer and brute force, single-pass " +
    "and waved") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(2468)
    val n = 30
    val edges = (1 to 150).map(_ =>
      (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
    val expected = bruteTri(edges)
    assert(expected.nonEmpty, "fixture must contain triangles")
    val df = edges.toDF("src", "dst")
    def counts(waves: Int, ceiling: Long): Map[Long, Long] =
      Graph.triangleCountsWith(df, Some(waves), closeBloomMaxEdges = ceiling)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    for (waves <- Seq(1, 3)) {
      val bloomOn = counts(waves, Graph.DefaultCloseBloomMaxEdges)
      val bloomOff = counts(waves, 0L)
      assert(bloomOn == expected, s"bloom on, waves=$waves")
      assert(bloomOff == expected, s"bloom off, waves=$waves")
    }
  }

  private def bfs(edges: Seq[(Long, Long)], source: Long,
                  iters: Int): Map[Long, Int] = {
    val s = spark
    import s.implicits._
    Graph.bfsHops(edges.toDF("src", "dst"), source, iters)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
  }

  test("bfsHops: path graph distances, radius cut, undirected traversal") {
    // path 1-2-3-4-5, edges given in MIXED directions: traversal must
    // be undirected
    val path = Seq((1L, 2L), (3L, 2L), (3L, 4L), (5L, 4L))
    assert(bfs(path, source = 1L, iters = 4) ==
      Map(1L -> 0, 2L -> 1, 3L -> 2, 4L -> 3, 5L -> 4))
    // radius 2 stops the wavefront: nodes 4, 5 emit no row
    assert(bfs(path, source = 1L, iters = 2) ==
      Map(1L -> 0, 2L -> 1, 3L -> 2))
    // zero iterations = just the source
    assert(bfs(path, source = 3L, iters = 0) == Map(3L -> 0))
  }

  test("bfsHops: min distance wins on diamonds; disconnected unreached") {
    // diamond 1-2-4, 1-3-4 plus long way 4-5-6: dist(4)=2 via either
    // branch, never 3; 7-8 is a separate component and must not appear
    val g = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L), (4L, 5L),
      (5L, 6L), (7L, 8L))
    assert(bfs(g, source = 1L, iters = 10) ==
      Map(1L -> 0, 2L -> 1, 3L -> 1, 4L -> 2, 5L -> 3, 6L -> 4))
  }

  test("bfsHops: duplicate and self-loop edges are harmless") {
    val g = Seq((1L, 2L), (2L, 1L), (1L, 2L), (1L, 1L), (2L, 3L))
    assert(bfs(g, source = 1L, iters = 3) ==
      Map(1L -> 0, 2L -> 1, 3L -> 2))
  }

  private def sssp(edges: Seq[(Long, Long, Long)], source: Long,
                   iters: Int): Map[Long, Long] = {
    val s = spark
    import s.implicits._
    Graph.bellmanFord(edges.toDF("src", "dst", "w"), source, iters)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("bellmanFord: cheaper long path beats expensive direct edge") {
    // 1→3 direct costs 10; 1→2→3 costs 2+3=5 — but only once round 2
    // has run. Round 1 must report the 10 (≤1-edge contract).
    val g = Seq((1L, 3L, 10L), (1L, 2L, 2L), (2L, 3L, 3L))
    assert(sssp(g, 1L, iters = 1) == Map(1L -> 0L, 2L -> 2L, 3L -> 10L))
    assert(sssp(g, 1L, iters = 2) == Map(1L -> 0L, 2L -> 2L, 3L -> 5L))
  }

  test("bellmanFord: directed edges, parallel-edge min, radius bound") {
    // parallel 1→2 edges collapse to w=1; 3→1 is directed away so 3
    // is unreachable; 4 is beyond the 1-round radius
    val g = Seq((1L, 2L, 5L), (1L, 2L, 1L), (3L, 1L, 1L), (2L, 4L, 1L))
    assert(sssp(g, 1L, iters = 1) == Map(1L -> 0L, 2L -> 1L))
    assert(sssp(g, 1L, iters = 3) == Map(1L -> 0L, 2L -> 1L, 4L -> 2L))
  }

  test("bellmanFord: changed-set rounds equal full Bellman-Ford on a random graph") {
    val rnd = new scala.util.Random(2026)
    val n = 25
    val edges = (1 to 150).map(_ => (rnd.nextInt(n).toLong,
      rnd.nextInt(n).toLong, 1L + rnd.nextInt(9)))
    for (iters <- Seq(1, 3, 6)) {
      // full Bellman-Ford reference: d_k(v) = min cost over ≤k edges
      var d = Map(0L -> 0L)
      for (_ <- 1 to iters) {
        val relaxed = edges.flatMap { case (u, v, w) =>
          d.get(u).map(du => v -> (du + w)) }
        d = (d.toSeq ++ relaxed).groupBy(_._1)
          .map { case (k, vs) => k -> vs.map(_._2).min }
      }
      assert(sssp(edges, 0L, iters) == d, s"iters=$iters")
    }
  }

  test("bellmanFord: canonicalEdges fast path equals the normalizing " +
    "path on an already-canonical relation") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(16)
    // canonical by construction: unique (src, dst), no self-loops
    val canon = (1 to 120).map(_ => (rnd.nextInt(20).toLong,
        rnd.nextInt(20).toLong)).distinct
      .collect { case (a, b) if a != b => (a, b, 1L + rnd.nextInt(9)) }
    val df = canon.toDF("src", "dst", "w")
    for (iters <- Seq(1, 4)) {
      val fast = Graph.bellmanFord(df, 0L, iters, canonicalEdges = true)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val slow = Graph.bellmanFord(df, 0L, iters)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(fast == slow, s"iters=$iters")
    }
  }

  private def kcore(edges: Seq[(Long, Long)], k: Int,
                    rounds: Int): Map[Long, Long] = {
    val s = spark
    import s.implicits._
    Graph.kCorePeel(edges.toDF("src", "dst"), k, rounds)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  // in-memory peel reference: symmetrize, drop self-loops, dedup, then
  // `rounds` iterations of the degree sieve
  private def kcoreRef(edges: Seq[(Long, Long)], k: Int,
                       rounds: Int): Map[Long, Long] = {
    var e = edges.flatMap { case (a, b) => Seq((a, b), (b, a)) }
      .filter { case (a, b) => a != b }.distinct
    for (_ <- 1 to rounds) {
      val deg = e.groupBy(_._1).view.mapValues(_.size).toMap
      val keep = deg.filter(_._2 >= k).keySet
      e = e.filter { case (a, b) => keep(a) && keep(b) }
    }
    e.groupBy(_._1).map { case (id, es) => id -> es.size.toLong }
  }

  test("kCorePeel: path graph cascades — endpoints peel, then new endpoints") {
    // path 1-2-3-4-5, k=2: round 1 peels 1 and 5 (degree 1); the
    // SURVIVORS' degrees drop, so round 2 peels 2 and 4; round 3 empty
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    assert(kcore(path, k = 2, rounds = 1) ==
      Map(2L -> 1L, 3L -> 2L, 4L -> 1L))
    assert(kcore(path, k = 2, rounds = 2) == Map.empty)
    assert(kcore(path, k = 2, rounds = 3) == Map.empty)
  }

  test("kCorePeel: K4 core survives while a pendant chain peels off it") {
    // K4 on 1-4 plus chain 4-5-6: the 3-core is exactly the K4, and the
    // chain peels over two rounds without disturbing it
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    val g = k4 ++ Seq((4L, 5L), (5L, 6L))
    assert(kcore(g, k = 3, rounds = 2) ==
      Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    // k=1 keeps everything (every node has an edge)
    assert(kcore(g, k = 1, rounds = 3).keySet == Set(1L, 2L, 3L, 4L, 5L, 6L))
  }

  test("kCorePeel: duplicate, reversed, and self-loop edges collapse first") {
    val g = Seq((1L, 2L), (2L, 1L), (1L, 2L), (1L, 1L), (2L, 3L), (3L, 1L))
    // simple triangle on {1,2,3}: 2-core = all three at degree 2
    assert(kcore(g, k = 2, rounds = 2) == Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
  }

  test("kCorePeel: differential vs in-memory peel on a seeded random graph") {
    val rnd = new scala.util.Random(2027)
    val n = 30
    val edges = (1 to 140).map(_ =>
      (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
    for ((k, rounds) <- Seq((3, 1), (4, 2), (5, 3))) {
      val ref = kcoreRef(edges, k, rounds)
      assert(kcore(edges, k, rounds) == ref, s"k=$k rounds=$rounds")
      // the sieve must actually fire at least once in the sweep
      if (k == 5) assert(ref.size < n)
    }
  }

  private def lpa(edges: Seq[(Long, Long)], rounds: Int): Map[Long, Long] = {
    val s = spark
    import s.implicits._
    Graph.labelPropagation(edges.toDF("src", "dst"), rounds)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  // in-memory LPA reference: neighbors-only votes over previous-round
  // labels, most frequent wins, ties to the smaller label
  private def lpaRef(edges: Seq[(Long, Long)], rounds: Int): Map[Long, Long] = {
    val adj = edges.flatMap { case (a, b) => Seq((a, b), (b, a)) }
      .filter { case (a, b) => a != b }.distinct
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    var lab = adj.keys.map(k => k -> k).toMap
    for (_ <- 1 to rounds) {
      lab = adj.map { case (node, nbrs) =>
        val votes = nbrs.map(lab).groupBy(identity).view.mapValues(_.size)
        node -> votes.toSeq.maxBy { case (l, c) => (c, -l) }._1
      }
    }
    lab
  }

  test("labelPropagation: bridged triangles settle into two communities; " +
    "frequency beats the smaller label") {
    val tri = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (4L, 5L), (4L, 6L), (5L, 6L), (3L, 4L))
    // round 2, node 4: votes {1×1 (from 3), 4×2 (from 5 and 6)} — the
    // count-2 label 4 must beat the smaller count-1 label 1
    assert(lpa(tri, rounds = 2) ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 3L, 6L -> 3L))
    assert(lpa(tri, rounds = 3) ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 3L, 5L -> 3L, 6L -> 3L))
  }

  test("labelPropagation: all-tied votes go to the smallest label") {
    val star = Seq((10L, 1L), (10L, 2L), (10L, 3L))
    // center's neighbor labels {1, 2, 3} are all count-1: min wins;
    // each leaf's single neighbor is the center
    assert(lpa(star, rounds = 1) ==
      Map(10L -> 1L, 1L -> 10L, 2L -> 10L, 3L -> 10L))
  }

  private def modu(edges: Seq[(Long, Long)],
                   labels: Seq[(Long, Long)]): Map[Long, (Long, Long, Long, Long)] = {
    val s = spark
    import s.implicits._
    Graph.modularity(edges.toDF("src", "dst"), labels.toDF("id", "label"))
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toMap
  }

  test("modularity: bridged triangles under the true partition, and the " +
    "all-one-community zero") {
    val tri = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (4L, 5L), (4L, 6L), (5L, 6L), (3L, 4L))
    val part = Seq(1L -> 100L, 2L -> 100L, 3L -> 100L,
      4L -> 200L, 5L -> 200L, 6L -> 200L)
    // m=7; each community: e_in=3, d_sum=7 → q_num = 4·7·3 − 49 = 35
    assert(modu(tri, part) ==
      Map(100L -> (3L, 3L, 7L, 35L), 200L -> (3L, 3L, 7L, 35L)))
    // one community holding everything: e_in=m, d_sum=2m → q_num = 0,
    // the "no better than chance" fixed point of the formula
    val one = part.map { case (id, _) => id -> 1L }
    assert(modu(tri, one) == Map(1L -> (6L, 7L, 14L, 0L)))
  }

  test("modularity: a community of only zero-degree nodes (labels for ids " +
    "absent from edges) emits (n, 0, 0, 0) instead of vanishing") {
    val tri = Seq((1L, 2L), (1L, 3L), (2L, 3L))
    val part = Seq(1L -> 100L, 2L -> 100L, 3L -> 100L,
      // ids 7,8 appear in no edge: their community must still surface
      7L -> 900L, 8L -> 900L)
    // m=3; community 100: e_in=3, d_sum=6 → q_num = 4·3·3 − 36 = 0;
    // community 900: 2 nodes, no edges, no degree → q_num = 0
    assert(modu(tri, part) ==
      Map(100L -> (3L, 3L, 6L, 0L), 900L -> (2L, 0L, 0L, 0L)))
  }

  test("modularity: differential vs in-memory bookkeeping over LPA labels " +
    "on a seeded random graph") {
    val rnd = new scala.util.Random(2033)
    val n = 40
    val edges = (1 to 150).map(_ =>
      (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
    val labels = lpaRef(edges, 3).toSeq
    val und = edges.flatMap { case (a, b) => Seq((a, b), (b, a)) }
      .filter { case (a, b) => a != b }.distinct
    val m = und.size / 2
    val lab = labels.toMap
    val ref = labels.groupBy(_._2).map { case (c, members) =>
      val ids = members.map(_._1).toSet
      val eIn = und.count { case (a, b) => ids(a) && ids(b) } / 2
      val dSum = und.count { case (a, _) => ids(a) }
      c -> (ids.size.toLong, eIn.toLong, dSum.toLong,
        4L * m * eIn - dSum.toLong * dSum)
    }
    assert(modu(edges, labels) == ref)
    // the partition must be non-trivial or the differential is vacuous
    assert(ref.size > 1 && lab.nonEmpty)
  }

  test("labelPropagation: differential vs in-memory reference on a " +
    "seeded random graph") {
    val rnd = new scala.util.Random(2030)
    val n = 40
    val edges = (1 to 150).map(_ =>
      (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
    for (rounds <- Seq(1, 2, 3)) {
      val ref = lpaRef(edges, rounds)
      assert(lpa(edges, rounds) == ref, s"rounds=$rounds")
    }
    // labels actually moved, or the differential is vacuous
    assert(lpaRef(edges, 3).exists { case (id, l) => id != l })
  }

  test("pageRank loops release only their OWN snapshots: a " +
    "caller-checkpointed edge input survives and stays readable") {
    // Regression: round 1's release used to walk the rank relation's
    // plan, which embeds the caller's edges — collectFirst would
    // surface a caller LogicalRDD and unpersist it, destroying blocks
    // a truncated-lineage checkpoint cannot recompute.
    val s = spark
    import s.implicits._
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
      .localCheckpoint(true)
    assert(Graph.pageRank(e, iters = 2).count() == 3)
    assert(e.count() == 3) // caller's checkpoint blocks intact
    assert(Graph.pageRankConserving(e, iters = 2).count() == 3)
    assert(e.count() == 3)
  }
}
