package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.Materializer.freeze

/** Link-graph centrality — the page-importance signal web-scale
  * corpus curation weights documents by (CommonCrawl-style crawls
  * rank hosts/pages before content filters ever run).
  *
  * PageRank here is the classic bulk-synchronous iteration: one keyed
  * join (edges ⋈ ranks) + one hash aggregate per round — Spark's
  * canonical iterative-graph shape. Two deliberate design points:
  *
  *  - **Integer arithmetic end-to-end.** Ranks live in micro-units
  *    (`scale` per node at init); each round applies
  *    `floor(rank / outdeg)` per edge and damping as
  *    `(num * Σ) div den`. Integer sums are order-independent, so the
  *    result is BIT-IDENTICAL under any partitioning, shuffle order,
  *    or engine — the property that lets a DuckDB oracle replay the
  *    iteration exactly (floating-point PageRank differs in the last
  *    ulps between engines and even between runs). The floor loses
  *    ≤1 micro-unit per edge per round: deterministic, negligible at
  *    scale=1e6, and identical on both sides.
  *  - **Ranks stay a (node, rank) table.** Edges are the big side and
  *    are never re-shuffled between rounds once keyed; the rank table
  *    is |V| rows and every loop broadcasts it into the edge join
  *    unconditionally (plan-asserted) — GraphX's replicated vertex
  *    view — so a round costs one scan of the edge list + one
  *    aggregate. A state side past Spark's broadcast limit fails with
  *    Spark's own broadcast-size error.
  *
  * Every operator here freezes its static per-round intermediates
  * (edge list + degrees, node set) once through
  * [[graft.sources.Materializer.freeze]], and the loops freeze their
  * growing per-round table at a fixed cadence (every 8 rounds; every
  * 5 for label propagation) to cap plan depth.
  * Freezing only removes re-execution: values are bit-identical to
  * the unrolled plan.
  */
object GraphOps {

  /** Rounds between freezes of a loop's growing per-round table. */
  private val FreezeEvery = 8

  /** [[minLabelPropagate]] references its label table twice per round,
    * so its unfrozen plan doubles per round: freeze more often. */
  private val LabelFreezeEvery = 5

  /** Fixed-iteration integer PageRank.
    *
    * @param edges   directed edge list; dangling nodes (outdeg 0) get
    *                no out-contribution but still receive teleport mass
    * @param iters   bulk-synchronous rounds (each: join + aggregate)
    * @param dampNum / @param dampDen damping factor as a ratio (85/100)
    * @param scale   micro-unit scale; init rank per node, teleport =
    *                `scale * (dampDen - dampNum) div dampDen`
    * @return (node LONG, rank LONG) — total mass ≈ |V| * scale
    */
  def pageRankInt(edges: DataFrame, srcCol: String, dstCol: String,
                  iters: Int, dampNum: Long = 85L, dampDen: Long = 100L,
                  scale: Long = 1000000L): DataFrame = {
    require(iters >= 0 && dampNum >= 0 && dampNum <= dampDen)
    // Freeze the deduped edge list FIRST: three consumers follow (the
    // degree aggregate, the join probe side, and the node set), and
    // unfrozen each one re-derives the upstream plan — for an edge
    // list built from a join, that is three executions of the join +
    // distinct (measured 4.8 s → 3.1 s on g1_pagerank at sf0.1 from
    // this one change; guide §2.4 "remove shuffles outright").
    val e = freeze(
      edges.select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst")).distinct())
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    // Static across rounds: edge list with outdegree, and the node set.
    // Under one lazy plan each round would RE-DERIVE both from the raw
    // input (k rounds = k+1 scans of the upstream joins), so both are
    // frozen once. A checkpointed edge table has NO catalyst size stats
    // (Scan ExistingRDD), so the |V|-sized rank/summed sides carry an
    // explicit broadcast hint; without it Spark plans a sort-merge
    // join and re-shuffles the edge list every round.
    val ed = freeze(e.join(deg, "src"))
    val nodes = freeze(
      e.select(col("src").as("node"))
        .union(e.select(col("dst").as("node"))).distinct())
    val teleport = scale * (dampDen - dampNum) / dampDen

    var rank = nodes.select(col("node"), lit(scale).as("rank"))
    for (i <- 1 to iters) {
      val contrib = ed
        .join(broadcast(rank.withColumnRenamed("node", "src")), "src")
        .select(col("dst").as("node"),
          expr("rank div outdeg").as("c"))
      val summed = contrib.groupBy(col("node")).agg(sum(col("c")).as("s"))
      rank = nodes.join(broadcast(summed), Seq("node"), "left")
        .select(col("node"),
          (lit(teleport) + expr(s"($dampNum * coalesce(s, 0L)) div $dampDen"))
            .as("rank"))
      // rank lineage grows by one join+agg layer per round; at deep
      // iteration counts catalyst analysis dominates the round time.
      // Freezing the |V|-row rank table every FreezeEvery rounds caps
      // plan depth — bit-identical values (spec-pinned past a freeze)
      if (i % FreezeEvery == 0 && i < iters) rank = freeze(rank)
    }
    rank
  }

  /** [[pageRankInt]] over WEIGHTED edges: node `u`'s rank splits
    * proportionally to integer edge weights —
    * `contribution(u→v) = (rank(u) * w(u,v)) div Σ_out w(u,·)` —
    * the natural form when an edge carries multiplicity (purchase
    * counts, link counts, co-occurrence) instead of mere existence.
    * Duplicate (src, dst) rows pre-aggregate into one weighted edge.
    * Same integer-determinism and broadcast-rank properties; with all
    * weights 1 it reduces exactly to [[pageRankInt]] (spec-pinned).
    */
  def pageRankWeightedInt(edges: DataFrame, srcCol: String, dstCol: String,
                          weightCol: String, iters: Int,
                          dampNum: Long = 85L, dampDen: Long = 100L,
                          scale: Long = 1000000L): DataFrame = {
    require(iters >= 0 && dampNum >= 0 && dampNum <= dampDen)
    // freeze the aggregated edge list first — same three-consumer
    // re-derivation as pageRankInt (see the comment there)
    val e = freeze(
      edges.select(col(srcCol).cast("long").as("src"),
          col(dstCol).cast("long").as("dst"),
          col(weightCol).cast("long").as("w"))
        .groupBy(col("src"), col("dst")).agg(sum(col("w")).as("w")))
    val deg = e.groupBy(col("src")).agg(sum(col("w")).as("outw"))
    val ed = freeze(e.join(deg, "src"))
    val nodes = freeze(
      e.select(col("src").as("node"))
        .union(e.select(col("dst").as("node"))).distinct())
    val teleport = scale * (dampDen - dampNum) / dampDen

    var rank = nodes.select(col("node"), lit(scale).as("rank"))
    for (i <- 1 to iters) {
      val contrib = ed
        .join(broadcast(rank.withColumnRenamed("node", "src")), "src")
        .select(col("dst").as("node"),
          expr("(rank * w) div outw").as("c"))
      val summed = contrib.groupBy(col("node")).agg(sum(col("c")).as("s"))
      rank = nodes.join(broadcast(summed), Seq("node"), "left")
        .select(col("node"),
          (lit(teleport) + expr(s"($dampNum * coalesce(s, 0L)) div $dampDen"))
            .as("rank"))
      // same deep-iteration lineage cap as pageRankInt (bit-identical)
      if (i % FreezeEvery == 0 && i < iters) rank = freeze(rank)
    }
    rank
  }

  /** Synchronous min-label propagation — the label-propagation shape
    * of connected components (each round every node takes the minimum
    * label in its closed neighborhood; after diameter rounds labels
    * equal per-component minima). Exposed at a FIXED round count so
    * the result is a deterministic, oracle-replayable intermediate
    * state — the alternating large-star/small-star loop
    * ([[DedupOps.clusterNearDups]]) remains the production CC path
    * (O(log L) rounds vs diameter); this is the bounded-round probe
    * of convergence a pipeline runs to decide whether a graph is
    * "mostly one blob" before paying for the full loop.
    *
    * Integer labels + min-aggregation are order-independent, so the
    * result is bit-identical under any partitioning — same discipline
    * as [[pageRankInt]], same per-round cost shape (one join of the
    * static symmetric edge list against the |V|-row label table +
    * one min-aggregate; labels broadcast into the edge join).
    */
  def minLabelPropagate(edges: DataFrame, srcCol: String, dstCol: String,
                        iters: Int): DataFrame = {
    require(iters >= 0)
    val raw = edges.select(col(srcCol).cast("long").as("a"), col(dstCol).cast("long").as("b"))
      .filter(col("a") =!= col("b"))
    // symmetric edge set, frozen once — every round's neighbor-label
    // join probes it. union(raw, raw.swap) looks like it
    // derives `raw` twice, but ReuseExchange shares the upstream
    // join's shuffles between the branches and the two projections run
    // in parallel — measured FASTER than an explode-based single-scan
    // symmetrization at sf0.1 (g4_label_prop 2.83 s vs 3.16 s), so the
    // union form stays.
    val e = freeze(
      raw.union(raw.select(col("b").as("a"), col("a").as("b"))).distinct())
    val nodes = freeze(e.select(col("a").as("node")).distinct())
    var lab = nodes.select(col("node"), col("node").as("label"))
    for (i <- 1 to iters) {
      val neigh = e.join(broadcast(lab.withColumnRenamed("node", "b")
          .withColumnRenamed("label", "nl")), "b")
        .groupBy(col("a").as("node")).agg(min(col("nl")).as("nmin"))
      lab = lab.join(broadcast(neigh), Seq("node"), "left")
        .select(col("node"), least(col("label"), coalesce(col("nmin"), col("label"))).as("label"))
      // each round references `lab` TWICE (as the join's probe side and
      // inside `neigh`), so an unfrozen label table doubles the plan
      // per round — 2^iters subtree copies by the end, which stalls
      // catalyst long before data size matters (observed at iters=21
      // on a 60-node graph). Freezing the |V|-row label table every
      // LabelFreezeEvery rounds caps growth at 2^LabelFreezeEvery
      // between freezes; deep-diameter probes stay linear-time.
      if (i % LabelFreezeEvery == 0 && i < iters) lab = freeze(lab)
    }
    lab
  }

  /** Triangle census by degree-ordered edge orientation (the
    * MapReduce-clustering-coefficient classic — Suri & Vassilvitskii,
    * WWW'11). Input is an undirected edge list in either/both
    * directions; self-loops and duplicates are dropped.
    *
    * Why orientation matters at scale: counting wedges u—v—w from the
    * raw adjacency puts Σ deg(u)² pairs through the shuffle — a
    * single celebrity node with degree 10⁶ alone contributes 10¹²
    * wedges. Directing every edge from its lower-(degree, id) endpoint
    * to its higher one makes every out-degree ≤ O(√|E|) (a node of
    * degree d only keeps out-edges to neighbors of degree ≥ d), so the
    * wedge join is bounded by Σ outdeg(u)² ≤ |E|^{3/2} regardless of
    * skew — the optimal exponent for triangle enumeration. Each
    * triangle is then produced exactly once (its vertices appear in
    * strict rank order), so the count needs no /3 correction.
    *
    * Plan shape: two shuffles to build (edge ⋈ degree) on each
    * endpoint, one self-join on the shared low vertex (wedge
    * generation), one semi-ish inner join probing wedges against the
    * oriented edge set, one global count. All integer arithmetic —
    * bit-identical under any partitioning, so a SQL oracle can replay
    * it exactly.
    *
    * @return one row: n_nodes, n_edges (undirected, deduped),
    *         n_wedges (open two-paths Σ C(deg,2)), n_triangles,
    *         gcc_ppm = 3·triangles·10⁶ div wedges (global clustering
    *         coefficient in parts-per-million; 0 when wedge-free)
    */
  def triangleStats(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    // canonical undirected edge set: (lo, hi), no loops, no dups.
    // Five downstream branches (degree, orientation, wedge self-join
    // probe, and the four census aggregates) all consume `e`; under
    // one lazy plan each branch re-derives it from the raw input —
    // for a derived edge list (e.g. a co-occurrence self-join) that
    // multiplies the most expensive stage of the whole query. The
    // freeze caps it at one derivation.
    val e = freeze(
      edges.select(col(srcCol).cast("long").as("a"), col(dstCol).cast("long").as("b"))
        .filter(col("a") =!= col("b"))
        .select(least(col("a"), col("b")).as("u"), greatest(col("a"), col("b")).as("v"))
        .distinct())
    val deg = e.select(col("u").as("node")).union(e.select(col("v").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    // orient by (deg, node): strict total order, ties broken by id
    val withDeg = e
      .join(deg.withColumnRenamed("node", "u").withColumnRenamed("deg", "du"), "u")
      .join(deg.withColumnRenamed("node", "v").withColumnRenamed("deg", "dv"), "v")
    val oriented = withDeg.select(
      when(col("du") < col("dv") || (col("du") === col("dv") && col("u") < col("v")),
        struct(col("u").as("s"), col("v").as("t")))
        .otherwise(struct(col("v").as("s"), col("u").as("t"))).as("e"))
      .select(col("e.s").as("s"), col("e.t").as("t"))
    // wedges from the shared LOW-rank vertex, endpoint pair
    // canonicalized by id; the closing probe then goes against the
    // id-canonical undirected edge set `e` itself — a pure equi-join
    // on (wa, wb), hash-joinable (an OR over the two stored
    // orientations would force a nested-loop join)
    val o2 = oriented.select(col("s").as("s2"), col("t").as("t2"))
    val wedges = oriented.join(o2, col("s") === col("s2") && col("t") < col("t2"))
      .select(col("t").as("wa"), col("t2").as("wb"))
    val triangles = wedges.join(e, col("wa") === col("u") && col("wb") === col("v"))
    val nNodes = deg.agg(count(lit(1)).as("n")).select(col("n"))
    val nEdges = e.agg(count(lit(1)).as("n")).select(col("n"))
    val nWedges = deg.agg(sum(expr("deg * (deg - 1) div 2")).as("n")).select(col("n"))
    val nTri = triangles.agg(count(lit(1)).as("n")).select(col("n"))
    broadcast(nNodes.select(col("n").as("n_nodes")))
      .crossJoin(broadcast(nEdges.select(col("n").as("n_edges"))))
      .crossJoin(broadcast(nWedges.select(col("n").as("n_wedges"))))
      .crossJoin(broadcast(nTri.select(col("n").as("n_triangles"))))
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"), col("n_triangles"),
        when(col("n_wedges") === 0, lit(0L))
          .otherwise(expr("(3 * n_triangles * 1000000) div n_wedges")).as("gcc_ppm"))
  }

  /** Bounded-round k-core peeling probe: each round drops every node
    * of degree < k (with its edges) and reports the shrinking graph —
    * the density-core extraction that separates a link graph's
    * load-bearing web from its pendant fringe (spam/SEO link farms
    * peel off in early rounds; true k-core membership is the
    * fixpoint, which bounded rounds approach monotonically — same
    * bounded-probe contract as [[minLabelPropagate]]).
    *
    * Per round: one degree aggregate and two LEFT-SEMI joins against
    * the surviving-node set (never materializing a node×node
    * structure), with the edge set frozen per round so the next
    * round's two consumers re-read stored rows rather than re-deriving
    * the peel. All-integer output — replayable by an unrolled oracle.
    *
    * @param edges undirected edge list; both directions are derived
    *              internally, self-loops dropped
    * @return one row per round: `round, n_nodes, n_edges,
    *         node_checksum` (Σ surviving node ids) AFTER that round's
    *         peel, ordered by round
    */
  def kCoreProbe(edges: DataFrame, srcCol: String, dstCol: String,
                 k: Int, rounds: Int): DataFrame = {
    require(k >= 1 && rounds >= 1)
    val raw = edges.select(col(srcCol).cast("long").as("a"), col(dstCol).cast("long").as("b"))
      .filter(col("a") =!= col("b"))
    // union form kept deliberately — see [[minLabelPropagate]]'s
    // ReuseExchange note (explode-symmetrize measured slower)
    var e = freeze(
      raw.union(raw.select(col("b").as("a"), col("a").as("b"))).distinct())
    val perRound = (1 to rounds).map { r =>
      val deg = e.groupBy(col("a")).agg(count(lit(1)).as("__deg"))
      val keep = deg.filter(col("__deg") >= k).select(col("a").as("__n"))
      val e2 = e
        .join(keep.withColumnRenamed("__n", "a"), Seq("a"), "left_semi")
        .join(keep.withColumnRenamed("__n", "b"), Seq("b"), "left_semi")
      e = freeze(e2)
      e.agg(
          countDistinct(col("a")).as("n_nodes"),
          count(lit(1)).as("n_edges"),
          coalesce(sum_distinct(col("a")), lit(0L)).as("node_checksum"))
        .select(lit(r.toLong).as("round"), col("n_nodes"), col("n_edges"),
          col("node_checksum"))
    }
    perRound.reduce(_ unionByName _).orderBy(col("round"))
  }

  /** Integer HITS (Kleinberg 1999): hub and authority scores on a
    * DIRECTED graph — authorities are endorsed by good hubs, hubs
    * endorse good authorities. On a bipartite purchase graph
    * (customer → supplier) the two sides get separately meaningful
    * rankings, which PageRank's single score conflates.
    *
    * Bit-replayable like [[pageRankInt]]: scores live on the integer
    * `scale` grid; each half-step is Σ neighbor scores followed by
    * max-normalization `s·scale div max` — exact Long arithmetic, so
    * an unrolled SQL oracle reproduces every value. Standard update
    * order within a round: authorities from the PREVIOUS hubs, then
    * hubs from the NEW authorities. (Long bound: Σ in-scores ≤
    * deg·scale and the normalize multiply adds ×scale — exact to
    * deg ≈ 9×10⁶ at scale 10⁶; promote to decimal beyond.)
    *
    * Scale shape mirrors [[pageRankInt]]: the edge table freezes once
    * and the per-round score tables are broadcast into the edge joins.
    *
    * @return one row per node: `node, hub, auth` (both on the scale
    *         grid; a node with no out-edges has hub 0, no in-edges
    *         auth 0), ordered by node
    */
  def hitsInt(edges: DataFrame, srcCol: String, dstCol: String,
              rounds: Int, scale: Long = 1000000L): DataFrame = {
    require(rounds >= 1 && scale > 0)
    val e = freeze(
      edges.select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst")).distinct())
    val nodes = freeze(
      e.select(col("src").as("node"))
        .union(e.select(col("dst").as("node"))).distinct())

    def normalized(summed0: DataFrame, out: String): DataFrame = {
      // summed is consumed TWICE per half-step (the max aggregate and
      // the node join), and its plan contains the whole previous
      // half-step — unfrozen, the plan tree doubles per half-step
      // (2^(2·rounds) subtree copies; g7_hits' 8.7 s at sf0.1 was
      // catalyst + recompute cost, not data). Freezing the ≤|V|-row
      // sum table once per half-step makes every half-step's plan
      // constant-size. Values are untouched (spec-pinned).
      val summed = freeze(summed0)
      // max over ≤|V| rows — one-row broadcast; all-zero degenerates
      // to max 1 (scores stay 0)
      val mx = summed.agg(greatest(max(col("s")), lit(1L)).as("mx"))
      nodes.join(broadcast(summed), Seq("node"), "left")
        .crossJoin(broadcast(mx))
        .select(col("node"),
          expr(s"(coalesce(s, 0L) * $scale) div mx").as(out))
    }

    var hub = nodes.select(col("node"), lit(scale).as("hub"))
    var auth = nodes.select(col("node"), lit(0L).as("auth"))
    for (_ <- 1 to rounds) {
      val aSum = e.join(broadcast(hub.withColumnRenamed("node", "src")), "src")
        .groupBy(col("dst").as("node")).agg(sum(col("hub")).as("s"))
      auth = normalized(aSum, "auth")
      val hSum = e.join(broadcast(auth.withColumnRenamed("node", "dst")), "dst")
        .groupBy(col("src").as("node")).agg(sum(col("auth")).as("s"))
      hub = normalized(hSum, "hub")
    }
    hub.join(broadcast(auth), "node").select(col("node"), col("hub"), col("auth"))
      .orderBy(col("node"))
  }

  /** Adamic–Adar link prediction: score every non-adjacent node pair
    * by Σ over common neighbors w of 1/ln(deg(w)) — shared obscure
    * neighbors count more than shared hubs (Adamic & Adar 2003). The
    * top-k pairs are the missing-edge candidates (entity-resolution
    * hints on a co-occurrence graph, "you may also like" on an
    * interaction graph).
    *
    * Scale shape: wedges enumerate per common neighbor by pairing its
    * adjacency list — quadratic in degree, so neighbors above
    * `maxDeg` are excluded from PAIRING (the standard hub cut: a
    * 10⁶-degree hub contributes 1/ln(10⁶) ≈ 0.07 to a pair's score
    * but 10¹² wedges to the join; its score mass is noise, its wedge
    * mass is the job). Scores still use the TRUE degree. Per-wedge
    * contributions quantize to integer micro-units before the
    * order-free sum; existing edges drop via one left-anti join; the
    * global top-k is orderBy+limit — TakeOrderedAndProject.
    *
    * @param maxDeg pairing cap: common neighbors with more than this
    *               many neighbors generate no wedges
    * @return top-k rows: `x, y, common_cnt, score_q` (Σ
    *         round(1e6/ln(deg)), micro-units), ordered
    *         (score_q desc, x, y)
    */
  def adamicAdar(edges: DataFrame, srcCol: String, dstCol: String,
                 maxDeg: Int = 64, topK: Int = 50): DataFrame = {
    require(maxDeg >= 2 && topK >= 1)
    val e = freeze(
      edges.select(col(srcCol).cast("long").as("a"), col(dstCol).cast("long").as("b"))
        .filter(col("a") =!= col("b"))
        .select(least(col("a"), col("b")).as("u"), greatest(col("a"), col("b")).as("v"))
        .distinct())
    val adj = e.select(col("u").as("node"), col("v").as("nbr"))
      .union(e.select(col("v").as("node"), col("u").as("nbr")))
    val deg = adj.groupBy(col("node")).agg(count(lit(1)).as("deg"))
    // the wedge self-join consumes this table TWICE (both pairing
    // sides); unfrozen, the adjacency + degree join computes twice —
    // freeze the ≤2|E|-row scored adjacency once (values unchanged)
    val pairable = freeze(adj
      .join(deg.filter(col("deg") >= 2 && col("deg") <= maxDeg), Seq("node"))
      .withColumn("aa_q",
        round(lit(1e6) / log(col("deg").cast("double"))).cast("long")))
    val r = pairable.select(col("node").as("node2"), col("nbr").as("nbr2"))
    val scored = pairable
      .join(r, col("node") === col("node2") && col("nbr") < col("nbr2"))
      .groupBy(col("nbr").as("x"), col("nbr2").as("y"))
      .agg(count(lit(1)).as("common_cnt"), sum(col("aa_q")).as("score_q"))
    scored
      .join(e, col("x") === col("u") && col("y") === col("v"), "left_anti")
      .orderBy(col("score_q").desc, col("x"), col("y"))
      .limit(topK)
  }

  /** Multi-source BFS hop distance, frontier-propagating form: round
    * `k` expands only the nodes FIRST reached at round `k-1` (a
    * left-anti join against the seen set makes "first reached" exact —
    * BFS distance IS the first round a node appears). Integer
    * distances with set semantics are order-independent, so the result
    * is bit-identical under any partitioning — same oracle-replay
    * discipline as [[pageRankInt]].
    *
    * Cost shape per round: one join of the static edge list against
    * the CURRENT FRONTIER (not the full distance table) + one distinct
    * + one anti-join against the seen set — on a real graph the
    * frontier is a small fraction of |V|, so this beats the min-plus
    * formulation (which joins all of `dist` every round) by the
    * frontier/|V| ratio. The frontier freezes every round (it is
    * consumed twice: expansion join + seen-set union); the growing
    * seen set freezes every 8 rounds, as [[pageRankInt]]'s rank table
    * does, to cap lineage depth. Bounded `maxHops` keeps the loop free of
    * driver-side convergence counts (an empty frontier makes the
    * remaining rounds no-ops at one empty-join each).
    *
    * Seeds outside the graph still report distance 0 (they are
    * "reached" by definition and simply never expand).
    *
    * @return (node LONG, dist LONG) — one row per node within
    *         `maxHops` of any seed
    */
  def bfsHops(edges: DataFrame, srcCol: String, dstCol: String,
              seeds: DataFrame, seedCol: String, maxHops: Int): DataFrame = {
    require(maxHops >= 0)
    val e = freeze(
      edges.select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst")).distinct())
    var dist = seeds.select(col(seedCol).cast("long").as("node")).distinct()
      .select(col("node"), lit(0L).as("dist"))
    var frontier = dist.select(col("node"))
    for (k <- 1 to maxHops) {
      val nxt = freeze(
        e.join(broadcast(frontier.withColumnRenamed("node", "src")), "src")
          .select(col("dst").as("node")).distinct()
          .join(dist.select(col("node")), Seq("node"), "left_anti"))
      dist = dist.union(nxt.select(col("node"), lit(k.toLong).as("dist")))
      frontier = nxt
      if (k % FreezeEvery == 0 && k < maxHops) dist = freeze(dist)
    }
    dist
  }

  /** Bounded-round single/multi-source shortest path over INTEGER
    * edge weights — Bellman-Ford as min-plus iteration: after round
    * `k`, `dist(v)` is the exact cheapest cost among paths of ≤ k
    * edges (so `rounds` ≥ the hop diameter gives true shortest
    * paths; fewer gives the bounded-horizon cost a crawl scheduler
    * actually budgets). Unlike [[bfsHops]], a settled node can still
    * improve (a longer-hop path may be cheaper), so every round joins
    * the FULL distance table, not a frontier — min over integer sums
    * is order-independent, so the round-k state is bit-replayable
    * like [[pageRankInt]].
    *
    * Parallel (src, dst) edges pre-collapse to their minimum weight.
    * Per round: one keyed join (edges ⋈ dist) + one min-aggregate;
    * the distance table is broadcast into the join as in
    * [[pageRankInt]], and freezes every 8 rounds.
    * Negative weights are rejected — bounded-round Bellman-Ford would
    * be well-defined, but no corpus-curation cost is negative and
    * rejecting them keeps "dist never increases across rounds" as an
    * invariant callers may rely on.
    *
    * @return (node LONG, dist LONG) — one row per node reachable from
    *         any seed within `rounds` edges (seeds at 0)
    */
  def ssspInt(edges: DataFrame, srcCol: String, dstCol: String, wCol: String,
              seeds: DataFrame, seedCol: String, rounds: Int): DataFrame = {
    require(rounds >= 0)
    val e = freeze(
      edges.select(col(srcCol).cast("long").as("src"),
          col(dstCol).cast("long").as("dst"),
          when(col(wCol).cast("long") < 0,
            raise_error(lit("ssspInt: negative edge weight")))
            .otherwise(col(wCol).cast("long")).as("w"))
        .groupBy(col("src"), col("dst")).agg(min(col("w")).as("w")))
    var dist = seeds.select(col(seedCol).cast("long").as("node")).distinct()
      .select(col("node"), lit(0L).as("dist"))
    for (k <- 1 to rounds) {
      val cand = e
        .join(broadcast(dist.withColumnRenamed("node", "src")), "src")
        .select(col("dst").as("node"), (col("dist") + col("w")).as("dist"))
      dist = dist.union(cand).groupBy(col("node")).agg(min(col("dist")).as("dist"))
      if (k % FreezeEvery == 0 && k < rounds) dist = freeze(dist)
    }
    dist
  }
}
