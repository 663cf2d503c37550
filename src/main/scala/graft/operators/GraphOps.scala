package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Graph capability surface (reference: flink-libraries/flink-gelly/.../
  * Graph.java — degrees/reduceOnNeighbors, library/{PageRank,
  * ConnectedComponents}.java, pregel/VertexCentricIteration.java),
  * re-expressed as DataFrames + driver-side Pregel loops.
  *
  * A graph is two DataFrames: `edges(src, dst)` (directed) and implied
  * vertices. Iterative algorithms run the classic Spark pattern: join
  * messages → aggregate → update, with `cache` + `localCheckpoint` per
  * round to keep lineage flat (the in-cluster iteration the reference runs
  * natively becomes a driver loop of short jobs; each round is one shuffle
  * keyed on the node id, so rounds co-partition and AQE handles skew).
  *
  * PageRank uses scaled integer arithmetic (micro-ranks, integer division)
  * so results are exactly reproducible by any engine — no float summation
  * order dependence.
  */
object GraphOps {

  /** Undirected view: each edge in both directions, distinct. */
  def undirected(edges: DataFrame): DataFrame =
    edges.select(col("src").as("a"), col("dst").as("b"))
      .union(edges.select(col("dst"), col("src"))).distinct()

  /** All vertex ids. */
  def vertices(edges: DataFrame): DataFrame =
    edges.select(col("src").as("node")).union(edges.select(col("dst"))).distinct()

  /** In/out/total degrees (reference: Graph.java — inDegrees/outDegrees/
    * getDegrees). ONE pass: each edge explodes to its two endpoint
    * contributions, then a single aggregate shuffle keyed on the node —
    * the previous three-way (vertices ⋈ out ⋈ in) shape executed the
    * edge-derivation subtree three times (qa0 had 14 unreused exchanges,
    * counted by PlanAudit, a main deleted after 1ab3747; PlanDump writes
    * the plans now), a redundant fact-table join per branch at scale. */
  def degrees(edges: DataFrame): DataFrame =
    edges.select(explode(array(
        struct(col("src").as("node"), lit(0L).as("i"), lit(1L).as("o")),
        struct(col("dst").as("node"), lit(1L).as("i"), lit(0L).as("o")))).as("x"))
      .groupBy(col("x.node").as("node"))
      .agg(sum(col("x.i")).as("in_deg"), sum(col("x.o")).as("out_deg"))
      .select(col("node"), col("in_deg"), col("out_deg"),
        (col("in_deg") + col("out_deg")).as("deg"))

  /** Connected components by min-label propagation to fixpoint
    * (reference: flink-libraries/flink-gelly/.../library/
    * ConnectedComponents.java — scatter-gather min-id). Returns
    * (node, component) where component = min node id in the component. */
  def connectedComponents(edges: DataFrame, maxIter: Int = 50): DataFrame = {
    val ued0 = undirected(edges).cache()
    val n = ued0.count()
    // big regime: pre-partition on the per-round join key (see
    // Iterations.recacheForLoopJoin — one exchange replaces one per round)
    val ued = Iterations.recacheForLoopJoin(ued0, n, col("b"))
    val maybeB = Iterations.maybeBroadcast(n)
    Iterations.withLoopProfile(ued.sparkSession, n) {
      // vertices from the CACHED undirected view (it carries both
      // directions, so distinct `a` is every endpoint) — deriving them
      // from the raw `edges` frame would re-run the whole upstream
      // pipeline a second time (q8i's pair graph costs a full MinHash
      // dedup pass to build)
      val initial = ued.select(col("a").as("node")).distinct()
        .withColumn("lbl", col("node"))
      val labels = Iterations.iterateDelta(initial, maxIter) { cur =>
        val nbrMin = ued.join(maybeB(cur), ued("b") === cur("node"))
          .groupBy(col("a").as("node")).agg(min(col("lbl")).as("nbr_lbl"))
        cur.join(maybeB(nbrMin), Seq("node"), "left")
          .select(col("node"), least(col("lbl"), coalesce(col("nbr_lbl"), col("lbl"))).as("lbl"))
      } { (prev, next) =>
        next.join(maybeB(prev.withColumnRenamed("lbl", "old")), "node")
          .filter(col("lbl") =!= col("old")).limit(1).count() == 0
      }
      ued.unpersist()
      labels.select(col("node"), col("lbl").as("component"))
    }
  }

  /** PageRank, `iters` fixed rounds, damping 0.85, dangling mass dropped.
    * Ranks are integer micro-units: rank0 = 1e6; each round
    * rank' = 150000 + (85 * sum(rank(src) div outdeg(src))) div 100. */
  def pageRankScaled(edges: DataFrame, iters: Int): DataFrame = {
    // fuse cadence: how many rounds compile into one job between
    // localCheckpoints (A/B-able via -Dgraft.loop.fuse, default 2 —
    // see Iterations.iterate for the small-graph amortization account);
    // read before any job runs so a bad value fails fast
    val fuse = sys.props.get("graft.loop.fuse").fold(2) { v =>
      v.trim.toIntOption.filter(_ >= 1).getOrElse(throw new IllegalArgumentException(
        s"graft.loop.fuse must be a positive integer, got '$v'"))
    }
    val e = edges.select("src", "dst").distinct().cache()
    val n = e.count() // materializes the cache and sizes the loop profile
    val maybeB = Iterations.maybeBroadcast(n)
    Iterations.withLoopProfile(e.sparkSession, n) {
      // Loop-invariant hoist: (edge ⋈ out-degree) never changes across
      // rounds — pay its join once, not per iteration. At scale this is a
      // full shuffle of the edge set saved per round; the cached result is
      // already partitioned for the per-round rank join.
      val outdeg = e.groupBy(col("src")).agg(count(lit(1)).as("d"))
      val eWithDeg = e.join(outdeg, "src")
        .select(col("src").as("node"), col("dst"), col("d")).cache()
      val verts = vertices(e).cache()
      val ranks = Iterations.iterate(verts.withColumn("rank", lit(1000000L)), iters, fuse = fuse) { cur =>
        // `div` = exact integer division (Spark's `/` would be double division)
        val contribs = eWithDeg.join(maybeB(cur), "node")
          .select(col("dst").as("node"), expr("rank div d").as("c"))
          .groupBy("node").agg(sum(col("c")).as("contrib"))
        verts.join(maybeB(contribs), Seq("node"), "left")
          .select(col("node"),
            (lit(150000L) + expr("(85 * coalesce(contrib, 0L)) div 100")).as("rank"))
      }
      e.unpersist(); eWithDeg.unpersist(); verts.unpersist()
      ranks
    }
  }

  /** Aggregate a neighbor attribute onto each vertex (reference:
    * Graph.java — reduceOnNeighbors(SUM)): sum `attr` of `dst`-side
    * neighbors per `src` vertex, given a vertex-attribute table. */
  def sumOverOutNeighbors(edges: DataFrame, vertexAttrs: DataFrame,
                          attrCol: String): DataFrame =
    edges.join(vertexAttrs.withColumnRenamed("node", "dst"), "dst")
      .groupBy(col("src").as("node"))
      .agg(sum(col(attrCol)).as(s"sum_$attrCol"), count(lit(1)).as("n_nbrs"))

  /** Sentinel distance for not-yet-reached nodes in [[sssp]]; any real
    * shortest path stays far below it, so `dist < Unreached` is the
    * reachability test. */
  val Unreached: Long = 1000000000000000L

  /** Single-source shortest paths, `maxIter` synchronous Bellman-Ford
    * rounds (reference: flink-gelly/.../library/SingleSourceShortestPaths
    * .java — scatter-gather min-distance with a maxIterations bound).
    * `wedges` is a DIRECTED weighted edge list (a, b, wt) — pass both
    * directions for an undirected graph; `source` is a 1-row frame with
    * column `s` (kept as a frame so the source can itself be a query, e.g.
    * `agg(min(...))`, without a driver collect). After k rounds each dist
    * is the exact min-weight path using <= k edges, so a bounded
    * recursive-CTE oracle replays it bit-for-bit. Integer weights keep the
    * arithmetic engine-portable. Returns only reached nodes.
    *
    * Scale: one shuffle per round keyed on node id (the relax join + min
    * aggregate); the edge set is cached and re-partitioned once. */
  def sssp(wedges: DataFrame, source: DataFrame, maxIter: Int): DataFrame = {
    val e0 = wedges.select("a", "b", "wt").cache()
    val n = e0.count()
    // big regime: pre-partition on the relax join's key (see
    // Iterations.recacheForLoopJoin)
    val e = Iterations.recacheForLoopJoin(e0, n, col("a"))
    // In the small regime the per-round vertex frame fits a broadcast, but
    // a localCheckpoint carries no stats (and the loop profile turns AQE's
    // runtime conversion off) — hint it explicitly. One shuffle per round
    // (the message aggregate) remains; the cached edge frame never moves.
    val maybeB = Iterations.maybeBroadcast(n)
    Iterations.withLoopProfile(e.sparkSession, n) {
      val verts = e.select(col("a").as("node")).union(e.select(col("b"))).distinct()
      val init = verts.crossJoin(broadcast(source))
        .select(col("node"),
          when(col("node") === col("s"), lit(0L)).otherwise(lit(Unreached)).as("d"))
      val res = Iterations.iterate(init, maxIter, fuse = 2) { cur =>
        val relaxed = e.join(maybeB(cur.withColumnRenamed("node", "a")), "a")
          .select(col("b").as("node"), (col("d") + col("wt")).as("nd"))
          .groupBy("node").agg(min(col("nd")).as("md"))
        cur.join(maybeB(relaxed), Seq("node"), "left")
          .select(col("node"), least(col("d"), coalesce(col("md"), col("d"))).as("d"))
      }
      e.unpersist()
      res.filter(col("d") < Unreached).select(col("node"), col("d").as("dist"))
    }
  }

  /** Label propagation, `iters` fixed synchronous rounds (reference:
    * flink-gelly/.../library/LabelPropagation.java — each vertex adopts
    * the most frequent label among its neighbors per superstep). Tie-break
    * = smallest label, pinned so replay is deterministic (the fixed round
    * count also sidesteps LPA's oscillation on bipartite graphs — the
    * reference bounds by maxIterations for the same reason). Initial label
    * = own node id.
    *
    * Scale: two shuffles per round (neighbor-label count, then per-node
    * argmax) keyed on node id; no driver-side state. */
  def labelPropagation(edges: DataFrame, iters: Int): DataFrame = {
    val ued0 = undirected(edges).cache()
    val n = ued0.count()
    val ued = Iterations.recacheForLoopJoin(ued0, n, col("b"))
    val maybeB = Iterations.maybeBroadcast(n)
    Iterations.withLoopProfile(ued.sparkSession, n) {
      // endpoints of the cached undirected view, not the raw frame (see
      // connectedComponents — avoids re-running the edge derivation)
      val init = ued.select(col("a").as("node")).distinct()
        .withColumn("lbl", col("node"))
      val out = Iterations.iterate(init, iters, fuse = 2) { cur =>
        val counts = ued.join(maybeB(cur.withColumnRenamed("node", "b")), "b")
          .groupBy(col("a").as("node"), col("lbl")).agg(count(lit(1)).as("c"))
        // argmax by (count, -label): max count wins, ties take the smallest
        // label — a single struct max, no window shuffle
        counts.groupBy("node")
          .agg(max(struct(col("c"), (-col("lbl")).as("nl"))).as("m"))
          .select(col("node"), (-col("m.nl")).as("lbl"))
      }
      ued.unpersist()
      out.select(col("node"), col("lbl").as("label"))
    }
  }

  /** k-core decomposition by iterative peeling: repeatedly recompute
    * degrees over the subgraph induced by the survivors and drop vertices
    * with degree < k. The standard web-graph quality filter (spam and
    * scraped-page farms live in the low-core shell; densely linked
    * content survives) — a graph-side analogue of the corpus quality
    * rules, which is why it earns a gate here.
    *
    * Bounded-round contract like [[sssp]]: `maxIter` peel rounds, then a
    * final `>= k` filter; converged when every output degree is >= k
    * (peeling removes at least one vertex per non-converged round, so
    * diameter-many rounds always suffice). Returns (node, deg) — the
    * vertex's degree inside the final core subgraph.
    *
    * Scale: per round, two hash joins of the cached undirected edge frame
    * against the (shrinking, broadcast-hinted) survivor set plus one
    * degree aggregate keyed on node id — no driver collect, no
    * full-vertex window. The edge frame is cached once and never
    * reshuffles. */
  def kCore(edges: DataFrame, k: Int, maxIter: Int): DataFrame = {
    require(k >= 1 && maxIter >= 1)
    val ued0 = undirected(edges).cache()
    val n = ued0.count()
    val ued = Iterations.recacheForLoopJoin(ued0, n, col("a"))
    val maybeB = Iterations.maybeBroadcast(n)
    Iterations.withLoopProfile(ued.sparkSession, n) {
      val init = ued.groupBy(col("a").as("node")).agg(count(lit(1)).as("deg"))
      val res = Iterations.iterate(init, maxIter, fuse = 2) { cur =>
        val keep = cur.filter(col("deg") >= k).select(col("node"))
        ued.join(maybeB(keep.withColumnRenamed("node", "a")), "a")
          .join(maybeB(keep.withColumnRenamed("node", "b")), "b")
          .groupBy(col("a").as("node")).agg(count(lit(1)).as("deg"))
      }
      ued.unpersist()
      res.filter(col("deg") >= k)
    }
  }

  /** Triangle enumeration (reference: flink-gelly/.../library/
    * TriangleEnumerator.java — its open-wedge build + closing-edge join,
    * including the degree-based edge orientation that bounds wedge
    * fan-out). Input: undirected edge list (src, dst). Output: one row per
    * triangle, vertices sorted ascending.
    *
    * Each edge is oriented from its lower-(degree, id) endpoint to the
    * higher one; wedges are pairs of out-edges of one vertex, closed by an
    * oriented edge between the endpoints. Out-degree under this
    * orientation is O(sqrt(m)), so wedge count is O(m^1.5) — the bound
    * that keeps the join from exploding on high-degree hub vertices at
    * scale. */
  /** Canonical simple undirected edge list (x < y, no loops, distinct) —
    * the shared base of the triangle/clustering family. Callers cache it:
    * degrees read it twice (the union) and the orientation join twice
    * more, so an uncached canon re-runs the UPSTREAM edge derivation
    * ~5× (the co-buy projection behind qbo/qc2 is itself a join+agg —
    * qbo measured 10.3 s → 6.6 s at sf0.1, same protocol, from this cache
    * alone). */
  private def canonEdges(edges: DataFrame): DataFrame =
    edges.select(least(col("src"), col("dst")).as("x"),
        greatest(col("src"), col("dst")).as("y"))
      .filter(col("x") =!= col("y")).distinct()

  def triangles(edges: DataFrame): DataFrame = {
    // cache() is idempotent across the family: localClusteringCoefficient
    // builds the identical canon plan and Spark's CacheManager serves both
    // from one entry (plan-canonicalized matching)
    val canon = canonEdges(edges).cache()
    val deg = canon.select(col("x").as("n")).union(canon.select(col("y")))
      .groupBy("n").agg(count(lit(1)).as("d"))
    // orient each edge toward the higher (degree, id) endpoint
    val oriented = canon
      .join(deg.select(col("n").as("x"), col("d").as("dx")), "x")
      .join(deg.select(col("n").as("y"), col("d").as("dy")), "y")
      .select(
        when(struct(col("dx"), col("x")) < struct(col("dy"), col("y")), col("x"))
          .otherwise(col("y")).as("u"),
        when(struct(col("dx"), col("x")) < struct(col("dy"), col("y")), col("y"))
          .otherwise(col("x")).as("v"),
        when(struct(col("dx"), col("x")) < struct(col("dy"), col("y")),
          struct(col("dy").as("d"), col("y").as("n")))
          .otherwise(struct(col("dx").as("d"), col("x").as("n"))).as("vk"))
      .cache()
    val w1 = oriented.select(col("u"), col("v").as("v1"), col("vk").as("k1"))
    val w2 = oriented.select(col("u"), col("v").as("v2"), col("vk").as("k2"))
    val closing = oriented.select(col("u").as("v1"), col("v").as("v2"))
    val tris = w1.join(w2, Seq("u")).filter(col("k1") < col("k2"))
      .join(closing, Seq("v1", "v2"))
      .select(array_sort(array(col("u"), col("v1"), col("v2"))).as("t"))
      .select(col("t").getItem(0).as("v1"), col("t").getItem(1).as("v2"),
        col("t").getItem(2).as("v3"))
    tris
  }

  /** Local clustering coefficient (reference: flink-gelly/.../library/
    * clustering/directed+undirected/LocalClusteringCoefficient.java):
    * per vertex, the fraction of its neighbor pairs that are themselves
    * connected = tri(v) / C(deg(v), 2). Derived from [[triangles]] (the
    * degree-oriented O(m^1.5) enumeration) plus simple-graph degrees.
    * Reported in integer micro-units — lcc_micro = (tri · 1e6) div
    * wedges(v), wedges(v) = deg·(deg−1)/2 (exact: d(d−1) is always even)
    * — so the ratio replays bit-for-bit on any engine; vertices with
    * deg < 2 report 0 (no pairs), the reference's convention.
    *
    * Scale: the triangle join dominates (see [[triangles]]); the rest is
    * one explode + two aggregate shuffles keyed on the vertex. */
  def localClusteringCoefficient(edges: DataFrame): DataFrame = {
    val canon = canonEdges(edges).cache() // shares triangles' cache entry
    val deg = canon.select(col("x").as("node")).union(canon.select(col("y")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    val triPerV = triangles(edges)
      .select(explode(array(col("v1"), col("v2"), col("v3"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("tri_count"))
    deg.join(triPerV, Seq("node"), "left")
      .select(col("node"), coalesce(col("tri_count"), lit(0L)).as("tri_count"),
        col("deg"),
        when(col("deg") >= 2,
          expr("(coalesce(tri_count, 0L) * 1000000) div ((deg * (deg - 1)) div 2)"))
          .otherwise(lit(0L)).as("lcc_micro"))
  }

  /** Global clustering coefficient (reference: flink-gelly/.../library/
    * clustering/{directed,undirected}/GlobalClusteringCoefficient.java):
    * 3·triangles /
    * open-wedge count, the one-row graph-level transitivity summary.
    * gcc_micro = (3·T·1e6) div W with W = Σ_v deg(deg−1)/2 — exact
    * integers end to end. */
  def globalClusteringCoefficient(edges: DataFrame): DataFrame = {
    val canon = canonEdges(edges).cache() // shares triangles' cache entry
    val wedges = canon.select(col("x").as("node")).union(canon.select(col("y")))
      .groupBy("node").agg(count(lit(1)).as("d"))
      .agg(sum(expr("(d * (d - 1)) div 2")).as("n_wedges"))
    val tris = triangles(edges).agg(count(lit(1)).as("n_triangles"))
    tris.crossJoin(broadcast(wedges))
      .select(col("n_triangles"), col("n_wedges"),
        when(col("n_wedges") > 0, expr("(3 * n_triangles * 1000000) div n_wedges"))
          .otherwise(lit(0L)).as("gcc_micro"))
  }

  /** Average clustering coefficient (reference: flink-gelly/.../library/
    * clustering/{directed,undirected}/AverageClusteringCoefficient.java):
    * the mean of the per-vertex local coefficients over all vertices —
    * one row (n_vertices, avg_lcc_micro = Σ lcc_micro div n). Exact
    * integers end to end (each lcc_micro is already an integer ratio). */
  def averageClusteringCoefficient(edges: DataFrame): DataFrame =
    localClusteringCoefficient(edges)
      .agg(count(lit(1)).as("n_vertices"), sum(col("lcc_micro")).as("s"))
      .select(col("n_vertices"), expr("s div n_vertices").as("avg_lcc_micro"))

  /** Neighborhood Jaccard similarity (reference: flink-gelly/.../library/
    * similarity/JaccardIndex.java — neighbor-SET overlap per vertex pair;
    * the document-shingle Jaccard in Dedup is a different operator).
    * Output: (u, v, shared, union_n, jacc_micro) for u < v with ≥ 1
    * common neighbor, jacc_micro = (shared · 1e6) div (deg(u) + deg(v)
    * − shared) — integer division, engine-portable.
    *
    * Scale: the wedge self-join on the center vertex, the same O(Σ deg²)
    * regime as [[adamicAdar]]; `maxDegree` drops hub CENTERS (bounding
    * fan-out — the reference's groupSize batching solves the same blowup;
    * pair degrees in the denominator stay the full counts, so only
    * `shared` coverage, not the metric definition, is affected). */
  def jaccardIndex(edges: DataFrame, maxDegree: Option[Long] = None): DataFrame = {
    val ued = undirected(edges).cache()
    val deg = ued.groupBy(col("a").as("w")).agg(count(lit(1)).as("d"))
    val centers = maxDegree.fold(deg)(m => deg.filter(col("d") <= m))
    // cached: both sides of the wedge self-join read it
    val nbrs = ued.select(col("a").as("w"), col("b").as("n"))
      .join(centers.filter(col("d") >= 2).select("w"), "w").cache()
    val shared = nbrs.as("x").join(nbrs.as("y"),
        col("x.w") === col("y.w") && col("x.n") < col("y.n"))
      .groupBy(col("x.n").as("u"), col("y.n").as("v"))
      .agg(count(lit(1)).as("shared"))
    val out = shared
      .join(deg.select(col("w").as("u"), col("d").as("du")), "u")
      .join(deg.select(col("w").as("v"), col("d").as("dv")), "v")
      .select(col("u"), col("v"), col("shared"),
        (col("du") + col("dv") - col("shared")).as("union_n"),
        expr("(shared * 1000000) div (du + dv - shared)").as("jacc_micro"))
    out
  }

  /** Adamic-Adar similarity (reference: flink-gelly/.../library/similarity/
    * AdamicAdar.java — per-vertex neighbor-pair emission weighted by
    * 1/log(degree)). Output: (u, v, aa_micro) for u < v sharing >= 1
    * neighbor, where aa_micro = Σ_w floor(1e9 / ln(deg(w))) over common
    * neighbors w. Integer micro-contributions (same device as PageRank/
    * HITS) make the SUM exact and order-independent — a float Σ1/ln(d)
    * depends on summation order and would not replay across engines; each
    * per-degree contribution is a single division any engine rounds alike.
    *
    * Scale: wedge generation is the self-join on the center vertex — the
    * same O(Σ deg²) regime as the reference's; `maxDegree` drops hub
    * centers (their contribution ≈ 0 by construction: 1/ln(huge)), the
    * standard cutoff that bounds fan-out at corpus scale. */
  def adamicAdar(edges: DataFrame, maxDegree: Option[Long] = None): DataFrame = {
    val ued = undirected(edges)
    val deg0 = ued.groupBy(col("a").as("w")).agg(count(lit(1)).as("d"))
    val deg = maxDegree.fold(deg0)(m => deg0.filter(col("d") <= m))
    // cached: both sides of the wedge self-join read it — uncached, the
    // full undirected+degree lineage (and its shuffles) would run twice
    val nbrs = ued.select(col("a").as("w"), col("b").as("n"))
      .join(deg.filter(col("d") >= 2), "w") // a 1-degree center has no pairs
      .withColumn("c", floor(lit(1000000000.0) / log(col("d"))).cast("long"))
      .cache()
    nbrs.as("x").join(nbrs.as("y"),
        col("x.w") === col("y.w") && col("x.n") < col("y.n"))
      .groupBy(col("x.n").as("u"), col("y.n").as("v"))
      .agg(sum(col("x.c")).as("aa_micro"))
  }

  /** Community detection by label propagation with hop attenuation
    * (reference: flink-gelly/.../library/CommunityDetection.java — Leung
    * et al.'s scored LPA). Each vertex carries (label, score); per round a
    * vertex adopts the neighbor label with the highest score SUM (ties to
    * the smallest label, pinned for determinism), taking as its new score
    * the highest single incoming score of that label minus `deltaMicro`
    * (the hop attenuation). Scores are integer micro-units, initial 1e6 —
    * exact replayable arithmetic, no float argmax ambiguity.
    *
    * Scale: two aggregate shuffles per round keyed on node id (label-score
    * sum, then per-node argmax), same shape as [[labelPropagation]]. */
  def communityDetection(edges: DataFrame, iters: Int,
                         deltaMicro: Long = 500000L): DataFrame = {
    val ued0 = undirected(edges).cache()
    val n = ued0.count()
    val ued = Iterations.recacheForLoopJoin(ued0, n, col("b"))
    val maybeB = Iterations.maybeBroadcast(n)
    Iterations.withLoopProfile(ued.sparkSession, n) {
      // endpoints of the cached undirected view, not the raw frame (see
      // connectedComponents — avoids re-running the edge derivation)
      val init = ued.select(col("a").as("node")).distinct()
        .select(col("node"), col("node").as("lbl"), lit(1000000L).as("score"))
      val out = Iterations.iterate(init, iters, fuse = 2) { cur =>
        val msgs = ued.join(maybeB(cur.withColumnRenamed("node", "b")), "b")
          .select(col("a").as("node"), col("lbl"), col("score"))
        msgs.groupBy("node", "lbl")
          .agg(sum(col("score")).as("tot"), max(col("score")).as("mx"))
          // argmax by (sum, -label): one struct max, no window shuffle; mx
          // rides along (labels are unique per node group, so it never ties)
          .groupBy("node")
          .agg(max(struct(col("tot"), (-col("lbl")).as("nl"), col("mx"))).as("m"))
          .select(col("node"), (-col("m.nl")).as("lbl"),
            (col("m.mx") - deltaMicro).as("score"))
      }
      ued.unpersist()
      out.select(col("node"), col("lbl").as("community"), col("score"))
    }
  }

  /** Structural summarization (reference: flink-gelly/.../library/
    * Summarization.java): contract same-value vertices into one group
    * vertex; group parallel edges by (source group, target group, edge
    * value). Output: one row per summarized edge with its multiplicity and
    * the two group sizes — the compact topology-of-groups view. */
  def summarize(edges: DataFrame, vertexVals: DataFrame,
                edgeValCol: Option[String] = None): DataFrame = {
    val groupSizes = vertexVals.groupBy(col("value").as("g"))
      .agg(count(lit(1)).as("n"))
    val e = edges
      .join(vertexVals.select(col("node").as("src"), col("value").as("src_group")), "src")
      .join(vertexVals.select(col("node").as("dst"), col("value").as("dst_group")), "dst")
    val keys = Seq(col("src_group"), col("dst_group")) ++ edgeValCol.map(col)
    e.groupBy(keys: _*).agg(count(lit(1)).as("n_edges"))
      .join(broadcast(groupSizes.toDF("src_group", "src_group_size")), "src_group")
      .join(broadcast(groupSizes.toDF("dst_group", "dst_group_size")), "dst_group")
  }

  /** HITS hubs-and-authorities, `iters` fixed synchronous rounds
    * (reference: flink-gelly/.../library/HITS.java). Scores are integer
    * micro-units rescaled by the round's global max instead of the
    * reference's L2 norm — same fixpoint structure, but exact integer
    * arithmetic that any engine replays bit-for-bit AND bounded values
    * (raw unnormalized HITS grows geometrically and would overflow at
    * scale). hub' = sum of auth over out-neighbors; auth' = sum of hub
    * over in-neighbors; both then scaled to max 1e6.
    *
    * Scale: two aggregate shuffles per round keyed on node id, plus two
    * single-row maxes broadcast back — no driver collect. */
  def hitsScaled(edges: DataFrame, iters: Int): DataFrame = {
    val e = edges.select("src", "dst").distinct().cache()
    val n = e.count()
    val maybeB = Iterations.maybeBroadcast(n)
    Iterations.withLoopProfile(e.sparkSession, n) {
      val verts = vertices(e).cache()
      val init = verts.withColumn("hub", lit(1000000L)).withColumn("auth", lit(1000000L))
      // fuse=1: a HITS round is TWO aggregations plus two broadcast maxes —
      // fusing doubles an already-wide plan per job and measured slower;
      // the single-aggregate rounds (PageRank/SSSP/LPA/community) fuse well.
      val res = Iterations.iterate(init, iters) { cur =>
        val hubRaw = e.join(maybeB(cur.select(col("node").as("dst"), col("auth"))), "dst")
          .groupBy(col("src").as("node")).agg(sum(col("auth")).as("hr"))
        val authRaw = e.join(maybeB(cur.select(col("node").as("src"), col("hub"))), "src")
          .groupBy(col("dst").as("node")).agg(sum(col("hub")).as("ar"))
        val maxes = hubRaw.agg(max(col("hr")).as("mh"))
          .crossJoin(authRaw.agg(max(col("ar")).as("ma")))
        verts.join(maybeB(hubRaw), Seq("node"), "left")
          .join(maybeB(authRaw), Seq("node"), "left")
          .crossJoin(broadcast(maxes))
          .select(col("node"),
            expr("coalesce(hr, 0L) * 1000000 div mh").as("hub"),
            expr("coalesce(ar, 0L) * 1000000 div ma").as("auth"))
      }
      e.unpersist(); verts.unpersist()
      res
    }
  }
}
