package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Property-graph facade (reference: flink-libraries/flink-gelly/.../
  * Graph.java — the transformation/mutation surface: mapVertices/mapEdges/
  * subgraph/filterOnVertices/filterOnEdges/joinWithVertices/union/
  * difference/intersect/reverse/getUndirected/inDegrees/outDegrees/
  * getDegrees/reduceOnEdges/reduceOnNeighbors). The iterative library
  * algorithms live in [[GraphOps]]; this type carries vertex/edge VALUES
  * and the closed set of transformations over them.
  *
  * Representation: `vertices(node, value)` and `edges(src, dst, value)` —
  * two DataFrames, so every transformation is a declarative plan Catalyst
  * optimizes end-to-end (filters push into scans, join order is free).
  * Nothing is materialized until an action; chains of transformations
  * cost one optimized plan, not one pass each.
  *
  * Scale notes per method are inline; the only shuffling members are the
  * degree/neighborhood reductions (one aggregate keyed on the vertex id)
  * and validated subgraph edge filtering (two semi-joins on endpoint ids).
  */
final case class Graph(vertices: DataFrame, edges: DataFrame) {

  /** Transform vertex values (Graph.java mapVertices). `f` maps the value
    * column; narrow, no shuffle. */
  def mapVertices(f: Column => Column): Graph =
    copy(vertices = vertices.select(col("node"), f(col("value")).as("value")))

  /** Transform edge values (Graph.java mapEdges). Narrow, no shuffle. */
  def mapEdges(f: Column => Column): Graph =
    copy(edges = edges.select(col("src"), col("dst"), f(col("value")).as("value")))

  /** Keep vertices passing `vPred` and edges passing `ePred` whose BOTH
    * endpoints survive (Graph.java subgraph). The endpoint check is two
    * semi-joins keyed on the vertex id — broadcast when the surviving
    * vertex set is small, shuffle otherwise; Catalyst picks. */
  def subgraph(vPred: Column, ePred: Column): Graph = {
    val vs = vertices.filter(vPred)
    val keep = vs.select(col("node"))
    val es = edges.filter(ePred)
      .join(keep.withColumnRenamed("node", "src"), Seq("src"), "semi")
      .join(keep.withColumnRenamed("node", "dst"), Seq("dst"), "semi")
      .select(col("src"), col("dst"), col("value"))
    Graph(vs, es)
  }

  /** subgraph on the vertex predicate only (Graph.java filterOnVertices). */
  def filterOnVertices(vPred: Column): Graph = subgraph(vPred, lit(true))

  /** Keep edges passing `ePred`; vertices unchanged (Graph.java
    * filterOnEdges — Gelly does NOT drop now-isolated vertices here). */
  def filterOnEdges(ePred: Column): Graph = copy(edges = edges.filter(ePred))

  /** Join an input (node, x) onto vertex values, `f(value, x)` where
    * matched, value kept otherwise (Graph.java joinWithVertices). Gelly
    * applies exactly one input row per vertex; its "first match" is
    * nondeterministic in a distributed run, so this pins the MIN input
    * value per node — deterministic replay beats order dependence. A
    * match flag (not null-ness of x) decides whether `f` applies, so a
    * matched-but-null input value still goes through `f`. */
  def joinWithVertices(input: DataFrame, f: (Column, Column) => Column): Graph = {
    val in = input.toDF("node", "_x")
      .groupBy("node").agg(min(col("_x")).as("_x"))
      .withColumn("_m", lit(true))
    val vs = vertices.join(in, Seq("node"), "left")
      .select(col("node"),
        when(col("_m"), f(col("value"), col("_x")))
          .otherwise(col("value")).as("value"))
    copy(vertices = vs)
  }

  /** Graph union (Graph.java union): vertices deduplicated by id (this
    * side wins on value conflict, pinned for determinism — Gelly's union
    * keeps an arbitrary one); edges concatenated, duplicates KEPT (Gelly
    * semantics: union does not dedup edges). */
  def union(other: Graph): Graph = {
    val vs = vertices.select(col("node"), col("value"), lit(0).as("_p"))
      .unionByName(other.vertices.select(col("node"), col("value"), lit(1).as("_p")))
      .groupBy(col("node"))
      .agg(min(struct(col("_p"), col("value"))).as("m"))
      .select(col("node"), col("m.value").as("value"))
    Graph(vs, edges.unionByName(other.edges))
  }

  /** Remove `other`'s vertices and all edges touching them (Graph.java
    * difference = removeVertices(other.vertices)). Two anti-joins on the
    * endpoint ids. */
  def difference(other: Graph): Graph = {
    val rm = other.vertices.select(col("node"))
    val vs = vertices.join(rm, Seq("node"), "anti")
    val es = edges
      .join(rm.withColumnRenamed("node", "src"), Seq("src"), "anti")
      .join(rm.withColumnRenamed("node", "dst"), Seq("dst"), "anti")
      .select(col("src"), col("dst"), col("value"))
    Graph(vs, es)
  }

  /** Edges present in both graphs with equal (src, dst, value)
    * (Graph.java intersect with distinctEdges = true); vertices are the
    * endpoints of the surviving edges, valued from this graph. */
  def intersect(other: Graph): Graph = {
    val es = edges.intersect(other.edges)
    val keep = es.select(col("src").as("node"))
      .union(es.select(col("dst"))).distinct()
    Graph(vertices.join(keep, Seq("node"), "semi"), es)
  }

  /** Cache both frames. Call before fanning out to MULTIPLE consumers
    * (degrees + a neighborhood reduce, several algorithms): transformation
    * chains are lazy plans, so without it each consumer re-executes the
    * whole derivation — at scale that is a redundant scan+join of the
    * fact table per consumer (qbw went 12 unreused exchanges → reused,
    * counted by PlanAudit, a main deleted after 1ab3747; PlanDump writes
    * the plans now). */
  def cached: Graph = Graph(vertices.cache(), edges.cache())

  /** Flip edge direction (Graph.java reverse). Narrow, no shuffle. */
  def reverse: Graph =
    copy(edges = edges.select(col("dst").as("src"), col("src").as("dst"), col("value")))

  /** Each edge in both directions (Graph.java getUndirected). Duplicates
    * kept, like the reference (a directed pair yields a parallel pair). */
  def getUndirected: Graph =
    copy(edges = edges.unionByName(reverse.edges))

  def inDegrees: DataFrame =
    edges.groupBy(col("dst").as("node")).agg(count(lit(1)).as("deg"))
  def outDegrees: DataFrame =
    edges.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
  /** Total degree per vertex, isolated vertices at 0 (Graph.java
    * getDegrees). Endpoints come from ONE edge scan (explode, not a
    * two-branch union that would execute the edge derivation twice); the
    * vertices join stays — it is what gives isolated vertices their 0. */
  def getDegrees: DataFrame = {
    val ends = edges.select(explode(array(col("src"), col("dst"))).as("node"))
    vertices.select(col("node"))
      .join(ends.groupBy("node").agg(count(lit(1)).as("d")), Seq("node"), "left")
      .select(col("node"), coalesce(col("d"), lit(0L)).as("deg"))
  }

  /** Reduce edge VALUES per vertex over incident edges in `direction`
    * ("in" | "out" | "all") — Graph.java reduceOnEdges. One aggregate
    * shuffle keyed on the vertex id. */
  def reduceOnEdges(agg: Column => Column, direction: String): DataFrame = {
    val sides = incident(direction, col("value"))
    sides.groupBy("node").agg(agg(col("v")).as("reduced"))
  }

  /** Reduce NEIGHBOR VERTEX values per vertex in `direction` — Graph.java
    * reduceOnNeighbors. Join edge endpoints to vertex values (one shuffle
    * or broadcast, Catalyst's call), then one aggregate keyed on the
    * vertex id. */
  def reduceOnNeighbors(agg: Column => Column, direction: String): DataFrame = {
    val nbr = direction match {
      case "in"  => edges.select(col("dst").as("node"), col("src").as("nbr"))
      case "out" => edges.select(col("src").as("node"), col("dst").as("nbr"))
      case "all" => edges.select(col("dst").as("node"), col("src").as("nbr"))
        .unionByName(edges.select(col("src").as("node"), col("dst").as("nbr")))
      case d => throw new IllegalArgumentException(s"direction: $d")
    }
    nbr.join(vertices.select(col("node").as("nbr"), col("value")), "nbr")
      .groupBy("node").agg(agg(col("value")).as("reduced"))
  }

  private def incident(direction: String, v: Column): DataFrame = direction match {
    case "in"  => edges.select(col("dst").as("node"), v.as("v"))
    case "out" => edges.select(col("src").as("node"), v.as("v"))
    case "all" => edges.select(col("dst").as("node"), v.as("v"))
      .unionByName(edges.select(col("src").as("node"), v.as("v")))
    case d => throw new IllegalArgumentException(s"direction: $d")
  }
}

object Graph {
  /** Build from raw frames, normalizing column names to the graph schema;
    * edge value defaults to 1L when absent. */
  def apply(vertices: DataFrame, vId: String, vVal: String,
            edges: DataFrame, src: String, dst: String,
            eVal: Option[String]): Graph = Graph(
    vertices.select(col(vId).as("node"), col(vVal).as("value")),
    edges.select(col(src).as("src"), col(dst).as("dst"),
      eVal.map(col).getOrElse(lit(1L)).as("value")))
}
