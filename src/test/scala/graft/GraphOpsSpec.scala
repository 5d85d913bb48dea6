package graft

import org.apache.spark.sql.functions._
import graft.llm.GraphOps

class GraphOpsSpec extends SparkSpec {
  import spark.implicits._

  /** In-memory reference: the same integer iteration, computed naively. */
  private def reference(edges: Seq[(Long, Long)], iters: Int,
                        scale: Long = 1000000L): Map[Long, Long] = {
    val e = edges.distinct
    val deg = e.groupBy(_._1).map { case (s, es) => s -> es.size.toLong }
    val nodes = (e.map(_._1) ++ e.map(_._2)).distinct
    var rank = nodes.map(_ -> scale).toMap
    for (_ <- 1 to iters) {
      val in = e.groupBy(_._2).map { case (d, es) =>
        d -> es.map { case (s, _) => rank(s) / deg(s) }.sum
      }
      rank = nodes.map(n => n -> (scale * 15 / 100 + 85 * in.getOrElse(n, 0L) / 100)).toMap
    }
    rank
  }

  private val chain = Seq((1L, 2L), (2L, 3L), (3L, 1L), (2L, 1L), (4L, 1L))

  test("pageRankInt matches the naive integer reference on a hand graph") {
    val got = GraphOps.pageRankInt(chain.toDF("src", "dst"), "src", "dst", iters = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    got shouldBe reference(chain, 4)
  }

  test("dangling receivers keep teleport mass; a hub accumulates more") {
    // 4 -> 1 only: node 4 has no in-edges, so after round 1 its rank
    // is exactly the teleport floor; node 1 (three in-edges) dominates.
    val got = GraphOps.pageRankInt(chain.toDF("src", "dst"), "src", "dst", iters = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    got(4L) shouldBe 150000L
    got(1L) should be > got(2L)
    got(1L) should be > got(3L)
  }

  test("result is partitioning-invariant (integer sums are order-independent)") {
    val df = chain.toDF("src", "dst")
    val a = GraphOps.pageRankInt(df, "src", "dst", iters = 3)
      .orderBy("node").collect().toSeq
    val b = GraphOps.pageRankInt(df.repartition(7, col("dst")), "src", "dst", iters = 3)
      .orderBy("node").collect().toSeq
    a shouldBe b
  }

  test("pageRankWeightedInt: unit weights on a simple graph reduce to pageRankInt") {
    val df = chain.toDF("src", "dst") // no duplicate pairs
    val unweighted = GraphOps.pageRankInt(df, "src", "dst", iters = 4)
      .orderBy("node").collect().toSeq
    val weighted = GraphOps.pageRankWeightedInt(
        df.withColumn("w", org.apache.spark.sql.functions.lit(1L)),
        "src", "dst", "w", iters = 4)
      .orderBy("node").collect().toSeq
    weighted shouldBe unweighted
  }

  test("pageRankWeightedInt: weight shifts mass toward the heavier edge") {
    // node 1 splits between 2 and 3; tripling the 1->3 weight must
    // rank 3 above 2 (symmetric otherwise)
    val e = Seq((1L, 2L, 1L), (1L, 3L, 3L), (2L, 1L, 1L), (3L, 1L, 1L))
      .toDF("src", "dst", "w")
    val got = GraphOps.pageRankWeightedInt(e, "src", "dst", "w", iters = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    got(3L) should be > got(2L)
    // exact split in round 1: rank(1)=1e6, outw=4 → 2 gets 250000, 3 gets 750000
    val r1 = GraphOps.pageRankWeightedInt(e, "src", "dst", "w", iters = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    r1(2L) shouldBe 150000L + 85L * 250000L / 100L
    r1(3L) shouldBe 150000L + 85L * 750000L / 100L
  }

  test("pageRankWeightedInt: duplicate edges pre-aggregate into multiplicity") {
    val dup = Seq((1L, 2L, 1L), (1L, 2L, 1L), (1L, 2L, 1L), (1L, 3L, 1L),
      (2L, 1L, 1L), (3L, 1L, 1L)).toDF("src", "dst", "w")
    val merged = Seq((1L, 2L, 3L), (1L, 3L, 1L), (2L, 1L, 1L), (3L, 1L, 1L))
      .toDF("src", "dst", "w")
    GraphOps.pageRankWeightedInt(dup, "src", "dst", "w", iters = 3)
      .orderBy("node").collect().toSeq shouldBe
      GraphOps.pageRankWeightedInt(merged, "src", "dst", "w", iters = 3)
        .orderBy("node").collect().toSeq
  }

  test("zero iterations returns the uniform init") {
    val got = GraphOps.pageRankInt(chain.toDF("src", "dst"), "src", "dst", iters = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    got.values.toSet shouldBe Set(1000000L)
    got.keySet shouldBe Set(1L, 2L, 3L, 4L)
  }

  private def triRow(edges: Seq[(Long, Long)]) =
    GraphOps.triangleStats(edges.toDF("src", "dst"), "src", "dst").collect().head

  test("triangleStats: K4 has 4 triangles and gcc = 1") {
    val k4 = for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)
    val r = triRow(k4)
    (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) shouldBe ((4L, 6L, 12L, 4L))
    r.getLong(4) shouldBe 1000000L // 3*4*1e6 / 12 wedges
  }

  test("triangleStats: a star has wedges but zero triangles") {
    val star = (2L to 6L).map(i => (1L, i))
    val r = triRow(star)
    (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)) shouldBe ((5L, 10L, 0L, 0L))
  }

  test("triangleStats: duplicates, reversed edges and self-loops collapse") {
    val tri = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 1L), (1L, 3L), (2L, 2L), (2L, 3L))
    val r = triRow(tri)
    (r.getLong(0), r.getLong(1), r.getLong(3)) shouldBe ((3L, 3L, 1L))
  }

  test("triangleStats: each triangle counted exactly once despite a shared hub") {
    // two triangles glued at node 1: {1,2,3} and {1,4,5}
    val g = Seq((1L, 2L), (2L, 3L), (1L, 3L), (1L, 4L), (4L, 5L), (1L, 5L))
    triRow(g).getLong(3) shouldBe 2L
  }

  private def labels(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] =
    GraphOps.minLabelPropagate(edges.toDF("src", "dst"), "src", "dst", iters)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("minLabelPropagate: a k-hop chain needs k rounds to fully converge") {
    val chain5 = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    // after 1 round each node sees only direct neighbors
    labels(chain5, 1) shouldBe Map(1L -> 1L, 2L -> 1L, 3L -> 2L, 4L -> 3L, 5L -> 4L)
    // after 4 rounds (diameter) everyone carries the component min
    labels(chain5, 4) shouldBe Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L)
  }

  test("minLabelPropagate: disjoint components keep distinct minima") {
    val two = Seq((1L, 2L), (2L, 3L), (10L, 11L))
    labels(two, 3) shouldBe Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L)
  }

  test("minLabelPropagate: converged labels match clusterNearDups components") {
    val g = Seq((7L, 3L), (3L, 9L), (20L, 21L), (21L, 22L), (22L, 20L))
    val lpa = labels(g, 4)
    val cc = graft.llm.DedupOps.clusterNearDups(
        g.toDF("doc1", "doc2"), localEdgeThreshold = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    lpa shouldBe cc
  }

  test("kCoreProbe peels the pendant chain and keeps the triangle at k=2") {
    // triangle 1-2-3 plus chain 3-4-5: round 1 drops 5 (deg 1), round 2
    // drops 4 (its degree fell to 1), round 3 is the fixpoint triangle
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L))
      .toDF("src", "dst")
    val got = GraphOps.kCoreProbe(edges, "src", "dst", k = 2, rounds = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    got(1L) shouldBe ((4L, 8L, 10L)) // 1,2,3,4 survive; 4 sym. edges
    got(2L) shouldBe ((3L, 6L, 6L))  // triangle only
    got(3L) shouldBe ((3L, 6L, 6L))  // fixpoint reached
  }

  test("kCoreProbe: a graph below k empties, rows still report zeros") {
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst") // path: max deg 2
    val got = GraphOps.kCoreProbe(edges, "src", "dst", k = 3, rounds = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    got shouldBe Map(1L -> 0L, 2L -> 0L)
  }

  test("adamicAdar: triangle + pendant — only non-edges score, 1/ln(deg) quantized") {
    // edges: 1-2, 1-3, 2-3, 3-4. Non-edges: (1,4), (2,4) — both share
    // only neighbor 3 (deg 3): score = round(1e6/ln 3) = 910239.
    // (2,3)/(1,3)/(1,2) are edges → excluded despite shared neighbors.
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val got = GraphOps.adamicAdar(edges, "src", "dst", maxDeg = 64, topK = 10)
      .select("x", "y", "common_cnt", "score_q")
      .as[(Long, Long, Long, Long)].collect().toSeq
    got shouldBe Seq((1L, 4L, 1L, 910239L), (2L, 4L, 1L, 910239L))
  }

  test("adamicAdar: the hub cut drops pairings through high-degree neighbors") {
    // star: 0 connected to 1..9 (deg 9 hub) plus edge 1-2; with
    // maxDeg=5 the hub pairs nothing, so only wedge 1-2 via... none:
    // 1 and 2 have deg 2 each; their common neighbor is the hub only.
    val edges = ((1L to 9L).map(i => (0L, i)) :+ (1L, 2L)).toDF("src", "dst")
    GraphOps.adamicAdar(edges, "src", "dst", maxDeg = 5, topK = 10)
      .count() shouldBe 0L
    // raising the cap reinstates the hub's wedges: C(9,2) = 36 pairs
    // of its spokes, minus the existing edge 1-2
    GraphOps.adamicAdar(edges, "src", "dst", maxDeg = 16, topK = 100)
      .count() shouldBe 35L
  }

  test("hitsInt: hand-iterated bipartite fixture, exact integer scores") {
    // 1→10, 2→10, 2→11. Three max-normalized rounds by hand:
    // r1: auth 10=1e6, 11=5e5; hub 1=666666, 2=1e6
    // r2: auth 11=600000; hub 1=625000
    // r3: auth 11=615384; hub 1=floor(1e12/1615384)=619047
    val edges = Seq((1L, 10L), (2L, 10L), (2L, 11L)).toDF("src", "dst")
    val got = GraphOps.hitsInt(edges, "src", "dst", rounds = 3)
      .as[(Long, Long, Long)].collect().toSeq
    got shouldBe Seq(
      (1L, 619047L, 0L), (2L, 1000000L, 0L),
      (10L, 0L, 1000000L), (11L, 0L, 615384L))
  }

  test("hitsInt: symmetric graph converges to equal scores round 1") {
    // complete bipartite 2×2: every hub/auth identical
    val edges = Seq((1L, 10L), (1L, 11L), (2L, 10L), (2L, 11L))
      .toDF("src", "dst")
    val got = GraphOps.hitsInt(edges, "src", "dst", rounds = 2)
      .as[(Long, Long, Long)].collect().toSeq
    got shouldBe Seq(
      (1L, 1000000L, 0L), (2L, 1000000L, 0L),
      (10L, 0L, 1000000L), (11L, 0L, 1000000L))
  }

  /** In-memory reference HITS: the same integer half-steps, computed
    * naively — sums over distinct edges, each half-step max-normalized
    * as `s * scale div max(max s, 1)`. */
  private def hitsReference(edges: Seq[(Long, Long)], rounds: Int,
                            scale: Long = 1000000L): Seq[(Long, Long, Long)] = {
    val e = edges.distinct
    val nodes = (e.map(_._1) ++ e.map(_._2)).distinct.sorted
    def normalized(sums: Map[Long, Long]): Map[Long, Long] = {
      val mx = (sums.values.toSeq :+ 1L).max
      nodes.map(n => n -> sums.getOrElse(n, 0L) * scale / mx).toMap
    }
    var hub = nodes.map(_ -> scale).toMap
    var auth = nodes.map(_ -> 0L).toMap
    for (_ <- 1 to rounds) {
      auth = normalized(e.groupBy(_._2).map { case (d, es) => d -> es.map(x => hub(x._1)).sum })
      hub = normalized(e.groupBy(_._1).map { case (s, es) => s -> es.map(x => auth(x._2)).sum })
    }
    nodes.map(n => (n, hub(n), auth(n)))
  }

  test("hitsInt: bit-identical to the in-memory reference HITS over four rounds") {
    val edges = Seq((1L, 10L), (2L, 10L), (2L, 11L), (3L, 11L), (3L, 12L),
      (4L, 10L), (4L, 12L), (4L, 12L))
    val got = GraphOps.hitsInt(edges.toDF("src", "dst"), "src", "dst", rounds = 4)
      .as[(Long, Long, Long)].collect().toSeq
    got shouldBe hitsReference(edges, 4)
  }

  // The loops freeze their per-round table after round 8 (label
  // propagation: after rounds 5, 10, ...); the tests below run past
  // those rounds against in-memory references.

  test("pageRankInt: nine rounds, past the round-8 freeze, match the reference") {
    val edges = (1L to 40L).map(i => (i, i * 7 % 41 + 1)) ++ Seq((2L, 1L), (17L, 3L))
    val got = GraphOps.pageRankInt(edges.toDF("src", "dst"), "src", "dst", iters = 9)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    got shouldBe reference(edges, 9)
  }

  /** In-memory weighted reference: duplicate (src, dst) rows sum into
    * one edge; `c(u→v) = rank(u) * w div Σ_out w(u,·)`. */
  private def weightedReference(edges: Seq[(Long, Long, Long)], iters: Int,
                                scale: Long = 1000000L): Map[Long, Long] = {
    val e = edges.groupBy(x => (x._1, x._2)).map { case (k, ws) => k -> ws.map(_._3).sum }.toSeq
    val outw = e.groupBy(_._1._1).map { case (s, es) => s -> es.map(_._2).sum }
    val nodes = e.flatMap { case ((s, d), _) => Seq(s, d) }.distinct
    var rank = nodes.map(_ -> scale).toMap
    for (_ <- 1 to iters) {
      val in = e.groupBy(_._1._2).map { case (d, es) =>
        d -> es.map { case ((s, _), w) => rank(s) * w / outw(s) }.sum
      }
      rank = nodes.map(n => n -> (scale * 15 / 100 + 85 * in.getOrElse(n, 0L) / 100)).toMap
    }
    rank
  }

  test("pageRankWeightedInt: nine rounds match the in-memory weighted reference") {
    val edges = Seq((1L, 2L, 3L), (2L, 3L, 1L), (3L, 1L, 2L), (2L, 1L, 5L), (4L, 1L, 1L),
      (3L, 1L, 4L), (5L, 4L, 2L))
    val got = GraphOps.pageRankWeightedInt(edges.toDF("src", "dst", "w"), "src", "dst", "w",
        iters = 9)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    got shouldBe weightedReference(edges, 9)
  }

  /** In-memory label propagation: each round every node takes the
    * minimum label of its closed neighborhood on the symmetric graph. */
  private def labelReference(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
    val sym = (edges ++ edges.map(_.swap)).filter(e => e._1 != e._2).distinct
    val nbrs = sym.groupBy(_._1).map { case (a, es) => a -> es.map(_._2) }
    var lab = nbrs.keys.map(n => n -> n).toMap
    for (_ <- 1 to iters)
      lab = lab.map { case (n, l) => n -> (l +: nbrs(n).map(lab)).min }
    lab
  }

  test("minLabelPropagate: a 14-hop chain converges across the fixed freezes") {
    val chain = (20L until 34L).map(i => (i + 1, i)) // 15 nodes, minimum at one end
    val g = chain ++ Seq((3L, 2L), (2L, 1L))
    for (iters <- Seq(7, 14)) withClue(s"$iters rounds: ") {
      labels(g, iters) shouldBe labelReference(g, iters)
    }
    // 14 rounds reach the chain's diameter: every node carries its
    // component's minimum
    labels(g, 14) shouldBe
      ((1L to 3L).map(_ -> 1L) ++ (20L to 34L).map(_ -> 20L)).toMap
  }

  test("ssspInt: nine rounds, past the round-8 freeze, match an in-memory Bellman-Ford") {
    // a 12-edge chain of unit-cost edges plus costlier shortcuts: the
    // cheapest path to the far end needs every chain edge
    val wedges = (0L until 12L).map(i => (i, i + 1, 1L)) ++
      Seq((0L, 6L, 9L), (2L, 11L, 12L), (4L, 12L, 20L))
    def bellmanFord(rounds: Int): Map[Long, Long] = {
      var dist = Map(0L -> 0L)
      for (_ <- 1 to rounds) {
        val cand = wedges.collect { case (s, d, w) if dist.contains(s) => d -> (dist(s) + w) }
        dist = (dist.toSeq ++ cand).groupBy(_._1).map { case (n, ds) => n -> ds.map(_._2).min }
      }
      dist
    }
    for (rounds <- Seq(9, 12)) withClue(s"$rounds rounds: ") {
      GraphOps.ssspInt(wedges.toDF("src", "dst", "w"), "src", "dst", "w",
          Seq(0L).toDF("seed"), "seed", rounds)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap shouldBe bellmanFord(rounds)
    }
  }

  test("pageRankInt: 24 deep rounds stay correct and analysis-bounded under the default cadence") {
    val edges = (1L to 30L).map(i => (i, i % 30 + 1)) // ring: diameter-deep
    val got = GraphOps.pageRankInt(edges.toDF("src", "dst"), "src", "dst", iters = 24)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    got shouldBe reference(edges, 24)
  }

  private def bfs(edges: Seq[(Long, Long)], seeds: Seq[Long], maxHops: Int): Map[Long, Long] = {
    val out = edges.distinct.groupBy(_._1).map { case (s, es) => s -> es.map(_._2) }
    var dist = seeds.distinct.map(_ -> 0L).toMap
    var frontier = seeds.distinct
    for (k <- 1 to maxHops) {
      val nxt = frontier.flatMap(out.getOrElse(_, Nil)).distinct.filterNot(dist.contains)
      dist = dist ++ nxt.map(_ -> k.toLong)
      frontier = nxt
    }
    dist
  }

  private def runBfs(edges: Seq[(Long, Long)], seeds: Seq[Long], maxHops: Int): Map[Long, Long] =
    GraphOps.bfsHops(edges.toDF("src", "dst"), "src", "dst",
        seeds.toDF("seed"), "seed", maxHops)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("bfsHops: chain distances, capped at maxHops") {
    val chain5 = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    runBfs(chain5, Seq(1L), 3) shouldBe Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L)
    runBfs(chain5, Seq(1L), 0) shouldBe Map(1L -> 0L)
  }

  test("bfsHops: multi-source takes the minimum hop; directed edges don't go backwards") {
    val chain5 = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    // seeds at both ends of the DIRECTED chain: 5 never expands
    runBfs(chain5, Seq(1L, 5L), 2) shouldBe
      Map(1L -> 0L, 5L -> 0L, 2L -> 1L, 3L -> 2L)
    // symmetrized: node 3 is 2 hops from both ends, 4 is 1 from seed 5
    val sym = chain5 ++ chain5.map(_.swap)
    runBfs(sym, Seq(1L, 5L), 4) shouldBe
      Map(1L -> 0L, 5L -> 0L, 2L -> 1L, 4L -> 1L, 3L -> 2L)
  }

  test("bfsHops: seeds outside the graph report 0 and never expand; cycles don't loop") {
    val ring = Seq((1L, 2L), (2L, 3L), (3L, 1L))
    runBfs(ring, Seq(1L, 99L), 5) shouldBe
      Map(1L -> 0L, 99L -> 0L, 2L -> 1L, 3L -> 2L)
  }

  test("ssspInt: bounded-round Bellman-Ford on a hand graph; cheaper long path wins") {
    // 1 -> 2 costs 10 direct, but 1 -> 3 -> 4 -> 2 costs 1+1+1 = 3:
    // round 1 settles 2 at 10, round 3 improves it to 3
    val wedges = Seq((1L, 2L, 10L), (1L, 3L, 1L), (3L, 4L, 1L), (4L, 2L, 1L))
      .toDF("src", "dst", "w")
    val seeds = Seq(1L).toDF("seed")
    def run(rounds: Int) =
      GraphOps.ssspInt(wedges, "src", "dst", "w", seeds, "seed", rounds)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    run(1) shouldBe Map(1L -> 0L, 2L -> 10L, 3L -> 1L)
    run(2) shouldBe Map(1L -> 0L, 2L -> 10L, 3L -> 1L, 4L -> 2L)
    run(3) shouldBe Map(1L -> 0L, 2L -> 3L, 3L -> 1L, 4L -> 2L)
  }

  test("ssspInt: parallel edges collapse to min weight; unit weights reduce to BFS hops") {
    val dup = Seq((1L, 2L, 7L), (1L, 2L, 4L), (2L, 3L, 5L)).toDF("src", "dst", "w")
    GraphOps.ssspInt(dup, "src", "dst", "w", Seq(1L).toDF("seed"), "seed", 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap shouldBe
      Map(1L -> 0L, 2L -> 4L, 3L -> 9L)
    val rnd = new scala.util.Random(11)
    val edges = Seq.fill(200)((rnd.nextInt(25).toLong, rnd.nextInt(25).toLong))
      .filter(e => e._1 != e._2).distinct
    val unit = edges.map { case (a, b) => (a, b, 1L) }.toDF("src", "dst", "w")
    val viaSssp = GraphOps.ssspInt(unit, "src", "dst", "w", Seq(0L).toDF("seed"), "seed", 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    viaSssp shouldBe bfs(edges, Seq(0L), 4)
  }

  test("ssspInt rejects negative weights") {
    val neg = Seq((1L, 2L, -1L)).toDF("src", "dst", "w")
    val ex = intercept[Exception] {
      GraphOps.ssspInt(neg, "src", "dst", "w", Seq(1L).toDF("seed"), "seed", 1).collect()
    }
    ex.getMessage should include("negative edge weight")
  }

  test("bfsHops matches the in-memory reference on a dense random graph") {
    val rnd = new scala.util.Random(7)
    val edges = Seq.fill(300)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
      .filter(e => e._1 != e._2)
    val seeds = Seq(0L, 7L)
    runBfs(edges, seeds, 4) shouldBe bfs(edges, seeds, 4)
  }

  test("bfsHops: a 12-hop chain matches the reference past the hop-8 freeze") {
    val chain = (1L to 12L).map(i => (i - 1, i))
    val branches = Seq((3L, 100L), (100L, 101L), (9L, 102L), (102L, 103L), (11L, 2L))
    val edges = chain ++ branches
    for (maxHops <- Seq(9, 13)) withClue(s"maxHops=$maxHops: ") {
      runBfs(edges, Seq(0L), maxHops) shouldBe bfs(edges, Seq(0L), maxHops)
    }
  }
}
