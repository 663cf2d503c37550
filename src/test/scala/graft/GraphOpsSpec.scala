package graft

import graft.operators.GraphOps
import org.apache.spark.sql.functions._

class GraphOpsSpec extends SparkSpec {
  import spark.implicits._

  // two components: {1,2,3} (chain) and {10,11}; 20 isolated via self-ref? no — isolated nodes
  // only exist if they appear in an edge, so the smallest component is a pair.
  private val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("src", "dst")

  test("degrees count in/out per node") {
    val d = GraphOps.degrees(edges).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(d(1L) === ((0L, 1L, 1L)))
    assert(d(2L) === ((1L, 1L, 2L)))
    assert(d(3L) === ((1L, 0L, 1L)))
    assert(d(10L) === ((0L, 1L, 1L)))
  }

  test("connectedComponents labels by min id and converges") {
    val cc = GraphOps.connectedComponents(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("pageRankScaled: sink accumulates, chain is deterministic") {
    val pr = GraphOps.pageRankScaled(edges, iters = 10).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // source nodes settle at the teleport floor
    assert(pr(1L) === 150000L)
    assert(pr(10L) === 150000L)
    // independent hand computation of the integer recurrence for node 2:
    var r1 = 1000000L; var r2 = 1000000L
    for (_ <- 1 to 10) { val n2 = 150000L + (85L * r1) / 100L; r1 = 150000L; r2 = n2 }
    assert(pr(2L) === r2)
    assert(pr(3L) > pr(2L)) // 3 receives from 2 which receives from 1
  }

  test("graft.loop.fuse: a non-positive or non-numeric value fails fast, naming knob and value") {
    val prev = sys.props.get("graft.loop.fuse")
    for (bad <- Seq("0", "-3", "two")) {
      System.setProperty("graft.loop.fuse", bad)
      val err = try intercept[IllegalArgumentException] {
        GraphOps.pageRankScaled(edges, iters = 3)
      } finally prev match {
        case Some(v) => System.setProperty("graft.loop.fuse", v)
        case None => System.clearProperty("graft.loop.fuse")
      }
      assert(err.getMessage.contains("graft.loop.fuse") && err.getMessage.contains(s"'$bad'"),
        err.getMessage)
    }
    intercept[IllegalArgumentException] {
      graft.operators.Iterations.iterate(edges, 2, fuse = 0)(identity)
    }
  }

  test("graft.loop.bigRows: a negative or non-numeric value fails fast, naming knob and value") {
    val prev = sys.props.get("graft.loop.bigRows")
    def withBigRows[A](v: String)(f: => A): A = {
      System.setProperty("graft.loop.bigRows", v)
      try f finally prev match {
        case Some(p) => System.setProperty("graft.loop.bigRows", p)
        case None => System.clearProperty("graft.loop.bigRows")
      }
    }
    for (bad <- Seq("abc", "-5", "1e6")) {
      val err = intercept[IllegalArgumentException] {
        withBigRows(bad)(GraphOps.pageRankScaled(edges, iters = 3))
      }
      assert(err.getMessage.contains("graft.loop.bigRows") && err.getMessage.contains(s"'$bad'"),
        err.getMessage)
    }
    // 0 (small profile off) and a plain count are accepted
    for (ok <- Seq("0", "5000"))
      assert(withBigRows(ok)(GraphOps.pageRankScaled(edges, iters = 3).count()) > 0)
  }

  test("withLoopProfile restores session conf after a small-frame loop") {
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    GraphOps.pageRankScaled(edges, iters = 2).collect()
    assert(spark.conf.get(key) === before,
      "loop profile must restore shuffle partitions")
    assert(spark.conf.get("spark.sql.adaptive.enabled") === "true",
      "loop profile must restore AQE")
  }

  test("sumOverOutNeighbors aggregates neighbor attributes") {
    val attrs = Seq((2L, 100L), (3L, 7L), (11L, 5L)).toDF("node", "x")
    val out = GraphOps.sumOverOutNeighbors(edges, attrs, "x").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out(1L) === ((100L, 1L)))
    assert(out(2L) === ((7L, 1L)))
    assert(out(10L) === ((5L, 1L)))
  }

  test("sssp relaxes min-weight paths and excludes unreached nodes") {
    // 1-2-3 weighted chain plus a heavy shortcut 1->3; separate pair 10-11
    val w = Seq((1L, 2L, 1L), (2L, 1L, 1L), (2L, 3L, 2L), (3L, 2L, 2L),
      (1L, 3L, 10L), (3L, 1L, 10L), (10L, 11L, 4L), (11L, 10L, 4L))
      .toDF("a", "b", "wt")
    val src = spark.range(1).select(lit(1L).as("s"))
    val d = GraphOps.sssp(w, src, maxIter = 10).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the 1->2->3 path (3) beats the direct edge (10); 10/11 unreached
    assert(d === Map(1L -> 0L, 2L -> 1L, 3L -> 3L))
  }

  test("sssp with maxIter 1 only reaches one hop") {
    val w = Seq((1L, 2L, 1L), (2L, 3L, 1L)).toDF("a", "b", "wt")
    val src = spark.range(1).select(lit(1L).as("s"))
    val d = GraphOps.sssp(w, src, maxIter = 1).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(d === Map(1L -> 0L, 2L -> 1L))
  }

  test("labelPropagation adopts the most frequent neighbor label, ties to smallest") {
    // star: 1,2,3 all touch 9; after round 1 every leaf has label 9's
    // initial (9), 9 has min leaf label (1); round 2: leaves pick 9's
    // round-1 label (1), 9 picks majority leaf label (9)
    val star = Seq((1L, 9L), (2L, 9L), (3L, 9L)).toDF("src", "dst")
    val l1 = GraphOps.labelPropagation(star, iters = 1).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(l1 === Map(1L -> 9L, 2L -> 9L, 3L -> 9L, 9L -> 1L))
    val l2 = GraphOps.labelPropagation(star, iters = 2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(l2 === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 9L -> 9L))
  }

  test("triangles enumerates each triangle once, vertices sorted") {
    // K4 on {1,2,3,4} has 4 triangles; 5-6-7 path has none
    val k4 = for (i <- 1L to 4L; j <- (i + 1) to 4L) yield (i, j)
    val e = (k4 ++ Seq((5L, 6L), (6L, 7L))).toDF("src", "dst")
    val t = GraphOps.triangles(e).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(t === Set((1L, 2L, 3L), (1L, 2L, 4L), (1L, 3L, 4L), (2L, 3L, 4L)))
  }

  test("adamicAdar weights common neighbors by floor(1e9/ln(deg))") {
    // square 1-2-3-4-1: each pair of opposite corners (1,3) and (2,4)
    // shares its two degree-2 neighbors; adjacent pairs share none
    val sq = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("src", "dst")
    val aa = GraphOps.adamicAdar(sq).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val c2 = math.floor(1e9 / math.log(2.0)).toLong // degree-2 contribution
    assert(aa === Map((1L, 3L) -> 2 * c2, (2L, 4L) -> 2 * c2))
    // hub cutoff: center of a star exceeds maxDegree -> no pairs at all
    val star = Seq((9L, 1L), (9L, 2L), (9L, 3L)).toDF("src", "dst")
    assert(GraphOps.adamicAdar(star, maxDegree = Some(2L)).count() === 0)
    assert(GraphOps.adamicAdar(star).count() === 3) // all leaf pairs via 9
  }

  test("communityDetection: label flows from the heavier side, score attenuates") {
    // path 1-2: after round 1 each adopts the other's label (only message),
    // score 1e6 - 5e5; round 2 swaps back with score 5e5 - 5e5 = 0
    val pair = Seq((1L, 2L)).toDF("src", "dst")
    val r1 = GraphOps.communityDetection(pair, iters = 1).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(r1 === Map(1L -> ((2L, 500000L)), 2L -> ((1L, 500000L))))
    val r2 = GraphOps.communityDetection(pair, iters = 2).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(r2 === Map(1L -> ((1L, 0L)), 2L -> ((2L, 0L))))
    // triangle 1-2-3: node 1 hears labels {2,3}, sums tie at 1e6 each ->
    // smallest label wins: everyone converges toward label 1's community
    val tri = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val t2 = GraphOps.communityDetection(tri, iters = 2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(t2.values.toSet === Set(1L))
  }

  test("summarize contracts same-value vertices and counts parallel edges") {
    val e = Seq((1L, 10L, "x"), (2L, 10L, "x"), (2L, 11L, "y"), (3L, 11L, "x"))
      .toDF("src", "dst", "ev")
    val vv = Seq((1L, "A"), (2L, "A"), (3L, "B"), (10L, "C"), (11L, "C"))
      .toDF("node", "value")
    val out = GraphOps.summarize(e, vv, Some("ev")).collect()
      .map(r => (r.getAs[String]("src_group"), r.getAs[String]("dst_group"),
        r.getAs[String]("ev")) ->
        (r.getAs[Long]("n_edges"), r.getAs[Long]("src_group_size"),
          r.getAs[Long]("dst_group_size"))).toMap
    assert(out === Map(
      ("A", "C", "x") -> ((2L, 2L, 2L)),
      ("A", "C", "y") -> ((1L, 2L, 2L)),
      ("B", "C", "x") -> ((1L, 1L, 2L))))
  }

  test("hitsScaled: hubs feed authorities; scores rescale to max 1e6") {
    // 1 and 2 both point at 3 and 4: perfect hubs 1,2 / authorities 3,4
    val e = Seq((1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L)).toDF("src", "dst")
    val h = GraphOps.hitsScaled(e, iters = 3).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(h(1L) === ((1000000L, 0L)))
    assert(h(2L) === ((1000000L, 0L)))
    assert(h(3L) === ((0L, 1000000L)))
    assert(h(4L) === ((0L, 1000000L)))
  }

  test("kCore peels the pendant chain round by round, keeps the triangle") {
    // triangle {1,2,3} + pendant path 3-4-5-6: 2-core = the triangle, but
    // only after CASCADING peels (6 first, then 5, then 4)
    val e = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L), (5L, 6L))
      .toDF("src", "dst")
    val got = GraphOps.kCore(e, k = 2, maxIter = 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
    // one round fewer has NOT yet converged: node 4's edge still inflates
    // node 3's degree (3, not 2) in the round-2 induced subgraph
    val early = GraphOps.kCore(e, k = 2, maxIter = 2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(early === Map(1L -> 2L, 2L -> 2L, 3L -> 3L))
  }

  test("kCore with k above the max degree returns empty") {
    val e = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    assert(GraphOps.kCore(e, k = 3, maxIter = 2).count() === 0L)
  }
}
