package graft

import graft.functions.GramHashesExpr
import graft.queries.Registry
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{GenerateExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}

/** Pins the plan properties that matter at 100 TB: predicate pushdown and
  * column pruning must reach the parquet scan, dimension joins must
  * broadcast at small scale, and a plain group-by must be one shuffle with
  * map-side partial aggregation inside whole-stage codegen. A regression in
  * any of these is invisible to result-correctness checks but catastrophic
  * at scale. */
class PlanQualitySpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val sf = "/root/testdata/sf0.001"

  private def executedPlan(name: String): String = finalPlan(name).toString

  private def finalPlan(name: String): SparkPlan = {
    val df = Registry.queries(name)(spark, sf)
    df.collect() // force AQE to finalize adaptive plans
    df.queryExecution.executedPlan
  }

  test("q06 scan carries pushed filters and a pruned read schema") {
    val plan = executedPlan("q06_forecast_revenue")
    assert(plan.contains("PushedFilters: ["), s"no pushed filters:\n$plan")
    assert(plan.matches("(?s).*PushedFilters: \\[[^\\]].*"),
      s"pushed filter list is empty:\n$plan")
    // projection needs only 4 of lineitem's 11 columns
    val read = "ReadSchema: [^\n]*".r.findFirstIn(plan).getOrElse("")
    assert(read.contains("l_shipdate") && read.contains("l_quantity") &&
      !read.contains("l_orderkey"), s"read schema not pruned: $read")
  }

  test("q03 dimension join broadcasts at small scale") {
    val plan = executedPlan("q03_shipping_priority")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"dimension join did not broadcast:\n$plan")
  }

  test("q01 aggregation is one shuffle with map-side partial agg in codegen") {
    val plan = executedPlan("q01_pricing_summary")
    val exchanges = "(?<!Broadcast)Exchange ".r.findAllIn(plan).length
    assert(exchanges <= 2, s"expected <=2 exchanges (agg + result sort), got $exchanges:\n$plan")
    assert(plan.contains("partial_sum"), s"no map-side partial aggregation:\n$plan")
    // whole-stage-codegen stages render as "*(n) " prefixes in executedPlan
    assert(plan.contains("*(1) HashAggregate") || plan.contains("*(2) HashAggregate"),
      s"aggregation fell out of codegen:\n$plan")
  }

  test("q88 brute-force KNN broadcasts the query side, never the corpus") {
    val plan = executedPlan("q88_knn_brute")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"query side not broadcast:\n$plan")
  }

  test("qb2 binned range join plans hash joins only — never a nested loop") {
    val plan = executedPlan("qb2_range_join_binned")
    assert(!plan.contains("NestedLoop"),
      s"bin decomposition failed to manufacture an equi-key:\n$plan")
    assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"),
      s"expected an equi-join on the bin key:\n$plan")
  }

  test("qb4 deterministic split is map-side only: zero exchanges") {
    val plan = executedPlan("qb4_split")
    assert(!plan.contains("Exchange"),
      s"sampling/split must fuse into the scan with no shuffle:\n$plan")
  }

  test("qb0 as-of join is a window pass, not a join: no join operator, one shuffle") {
    // AQE's toString appends an "== Initial Plan ==" section that would
    // double-count operators — pin the final plan only
    val plan = executedPlan("qb0_asof_backward").split("== Initial Plan ==").head
    assert(!plan.contains("Join"), s"as-of must not plan a join:\n$plan")
    val exchanges = "(?<!Broadcast)Exchange ".r.findAllIn(plan).length
    assert(exchanges <= 1, s"expected one sort-shuffle, got $exchanges:\n$plan")
    // the two window passes share one sort: exactly one Sort operator
    assert("Sort \\[".r.findAllIn(plan).length === 1,
      s"the carried-ts window must reuse the payload window's sort:\n$plan")
  }

  test("qbh correlated scalar subquery decorrelates to one agg + join, no per-row subquery") {
    val plan = executedPlan("qbh_decorrelated_scalar").split("== Initial Plan ==").head
    // Catalyst's RewriteCorrelatedScalarSubquery must turn the correlated
    // subqueries into grouped aggregate(s) joined back to part — a physical
    // plan with a join and NO scalar-subquery execution node. Match the
    // specific per-row node forms ("Subquery subquery" / scalar-subquery
    // expressions / InSubquery), not the bare "Subquery" substring, so an
    // unrelated SubqueryBroadcast/ReusedSubquery from dynamic partition
    // pruning can't trip or mask the pin.
    val perRow = "(scalar-subquery#|InSubquery|Subquery subquery#)".r
    assert(perRow.findFirstIn(plan).isEmpty,
      s"per-row subquery node survived decorrelation:\n$plan")
    assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"),
      s"expected the decorrelated agg joined back to part:\n$plan")
    assert(plan.contains("partial_count") || plan.contains("partial_sum"),
      s"expected map-side partial agg for the per-type aggregate:\n$plan")
  }

  test("qbw graph facade chain: broadcast endpoint semi-joins, partial aggs, no UDF") {
    // full plan string, not the final-plan prefix: the facade caches its
    // frames before fanning out, so the semi-joins/aggs live inside the
    // InMemoryRelation's stored plan and across several adaptive sections
    val plan = executedPlan("qbw_graph_transform")
    // subgraph's two endpoint checks must plan as (broadcast, at this
    // scale) semi-joins — an inner join would duplicate rows per edge
    assert(plan.contains("LeftSemi"), s"endpoint check is not a semi-join:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"small vertex set did not broadcast:\n$plan")
    // degree + neighbor-sum aggregations keep map-side combine
    assert(plan.contains("partial_count") && plan.contains("partial_sum"),
      s"facade aggregations lost map-side partial agg:\n$plan")
    // the whole chain is built-in expressions — nothing falls out of codegen
    assert(!plan.contains("UDF"), s"facade chain must not plan a UDF:\n$plan")
  }

  test("qcg repetition signals fuse into the scan: zero exchanges, no UDF") {
    val plan = executedPlan("qcg_repetition_signals")
    assert(!plan.contains("Exchange"),
      s"per-row signals must not shuffle at any corpus size:\n$plan")
    assert(!plan.contains("UDF"), s"signals must stay native:\n$plan")
    assert(plan.contains("posshinglehashesexpr"),
      s"dup-fraction must count hashed windows via the native kernel:\n$plan")
    assert(plan.contains("ngramrepetitionexpr"),
      s"char-coverage signals must run on the native kernel:\n$plan")
    assert(!plan.contains("array_sort") && !plan.contains("aggregate(") &&
      !plan.contains("lambdafunction"),
      s"no interpreted array_sort/aggregate lambda may remain:\n$plan")
  }

  test("qcf shared spans: hashed-seed joins, no UDF, no string shuffle key") {
    val plan = executedPlan("qcf_shared_spans").split("== Initial Plan ==").head
    assert(!plan.contains("UDF"), s"seed pipeline must stay native:\n$plan")
    assert(plan.contains("posshinglehashesexpr"),
      s"seeds must come from the positional native kernel:\n$plan")
    // both the df-cutoff aggregate and the self-join key on the 8-byte
    // hash — the shingle STRING must never be a shuffle key
    assert(!plan.toLowerCase.contains("hashpartitioning(ng"),
      s"n-gram strings must not be shuffled as keys:\n$plan")
  }

  test("qdl BPE encode: vocab token-lengths broadcast back to word instances, no UDF") {
    val plan = executedPlan("qdl_bpe_encode")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"word->token-length map must broadcast (corpus never shuffles for the join):\n$plan")
    assert(!plan.contains("UDF"), s"encode folds must be native HOF exprs:\n$plan")
  }

  test("qdk RRF fusion: rankers broadcast into the fused top-k joins") {
    val plan = executedPlan("qdk_rrf_fusion")
    assert(plan.contains("BroadcastHashJoin"),
      s"bounded rank lists must broadcast-join, not shuffle:\n$plan")
  }

  test("indexed tokenizer kernels: the vocabulary ships as a plan " +
    "reference object — plan text is |V|-independent, no UDF") {
    import spark.implicits._
    import graft.operators.TextPipeline
    // a 2k-piece vocab with greppable markers: if ANY piece appears in
    // the executed plan text, the path regressed to the embedded literal
    // (|V|-proportional parse/codegen — the round-14/15 scale hazard)
    val pieces = (0 until 2000).map(i => s"zqx$i")
    val docs = Seq((1L, "zqx1 zqx1999 ab")).toDF("doc_id", "text")
    val plans = Seq(
      TextPipeline.nbestSegment(docs, "text",
        pieces.map(_ -> 7L) :+ ("a" -> 1L) :+ ("b" -> 1L) :+ ("z" -> 1L)
          :+ ("q" -> 1L) :+ ("x" -> 1L) :+ ("1" -> 1L) :+ ("9" -> 1L), n = 2),
      TextPipeline.minCostEncode(docs, "doc_id", "text",
        pieces.map(_ -> 7L) :+ ("a" -> 1L), unkCost = 9L),
      TextPipeline.unigramSampleEncode(docs, "doc_id", "text",
        (Seq("a", "b", "z", "q", "x", "1", "9").map(_ -> 1000000L)
          ++ pieces.map(_ -> 500000L))))
    plans.foreach { df =>
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("zqx157"),
        s"vocab piece leaked into the plan text (literal path?):\n${plan.take(2000)}")
      assert(!plan.contains("ScalaUDF") && !plan.contains("BatchEvalPython"),
        s"kernel path must stay a native expression:\n${plan.take(2000)}")
    }
  }

  test("qdw/qdx segmentation encoders: distinct-word lengths broadcast " +
    "back, no UDF, corpus never sort-merge-joins") {
    for (q <- Seq("qdw_wordpiece_encode", "qdx_min_token_encode")) {
      val plan = executedPlan(q)
      assert(plan.contains("BroadcastHashJoin"),
        s"$q: word->length lookup must broadcast:\n$plan")
      assert(!plan.contains("SortMergeJoin"),
        s"$q: corpus side must not sort-merge-join:\n$plan")
      assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"),
        s"$q: segmentation must stay a native HOF expression:\n$plan")
    }
  }

  test("qe2 classifier scoring: margin is a codegen projection over the " +
    "feature aggregate, no join back to raw text") {
    val plan = executedPlan("qe2_quality_classifier")
    assert(!plan.contains("ScalaUDF"),
      s"margin must be a literal-weight expression, not a UDF:\n$plan")
    assert(plan.contains("HashAggregate"),
      s"bucket features must hash-aggregate:\n$plan")
  }

  test("qeg all-SQL dedup pipeline: equi-joins only (no nested loop), " +
    "native expressions (no UDF)") {
    val plan = executedPlan("qeg_sql_dedup_pipeline")
    // the candidate join must key on (band, bucket) as a hash-joinable
    // equi-join; a planner regression to a nested loop is quadratic in
    // the banded table
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"SQL dedup pipeline must plan equi-joins only:\n$plan")
    // the SQL registry must resolve to the native codegen expressions,
    // not fall back to any UDF wrapper
    assert(!plan.contains("ScalaUDF"),
      s"SQL text must reach the native expressions:\n$plan")
  }

  test("qei DSIR selection: scoring is a map-literal HOF fold (no corpus " +
    "join-back), top-k is TakeOrdered, no UDF") {
    val plan = executedPlan("qei_dsir_select")
    // the ratio table ships as a literal — scoring must not join the
    // corpus against anything (the count aggregate is a separate tiny job
    // that already ran inside dsirIlrTable)
    assert(!plan.contains("Join"),
      s"scoring must be join-free (ilr table is a broadcast literal):\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k must be TakeOrdered, never a global sort:\n$plan")
    assert(!plan.contains("ScalaUDF"), s"scoring must stay native:\n$plan")
  }

  test("qen curation pipeline composes without plan rot: no cartesian, " +
    "no UDF in the visible tail; the selection runs behind the pack " +
    "barrier so composition cannot degrade its TakeOrdered") {
    val plan = executedPlan("qen_curation_pipeline")
    // the packer materializes its token frame once (the round-13 lineage
    // barrier — the naive composition re-ran the upstream clean 3-4×),
    // so filter -> dedup -> selection execute EAGERLY behind it: the
    // composition can no longer rot the selection's top-k by
    // construction, and the qei pin covers dsirSelect's TakeOrdered
    // shape standalone. What remains visible — and pinnable — is the
    // pack tail itself.
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"composition must plan equi-joins only:\n$plan")
    assert(!plan.contains("ScalaUDF"),
      s"all four stages must stay native:\n$plan")
  }

  test("qej repetition trim fuses into the scan: zero exchanges, no UDF, " +
    "native kernel") {
    val plan = executedPlan("qej_repeat_trim")
    assert(!plan.contains("Exchange"),
      s"per-row trim must not shuffle at any corpus size:\n$plan")
    assert(!plan.contains("ScalaUDF"), s"trim must stay native:\n$plan")
    assert(plan.toLowerCase.contains("periodictrimexpr"),
      s"trim must run the codegen byte-span kernel (the interpreted HOF " +
        s"formulation measured ~3.5 ms/doc):\n$plan")
  }

  test("qeu FIM transform fuses into the scan: zero exchanges, no UDF") {
    val plan = executedPlan("qeu_fim_transform")
    assert(!plan.contains("Exchange"),
      s"the FIM rewrite is a pure narrow map and must not shuffle:\n$plan")
    assert(!plan.contains("ScalaUDF"), s"FIM must stay native codegen:\n$plan")
  }

  test("qez span corruption fuses into the scan: zero exchanges, no UDF") {
    val plan = executedPlan("qez_span_corrupt")
    assert(!plan.contains("Exchange"),
      s"span corruption is a pure narrow map and must not shuffle:\n$plan")
    assert(!plan.contains("ScalaUDF"), s"must stay native HOFs:\n$plan")
  }

  test("qes stride interleave: group-keyed window + RANGE partition for " +
    "the global order — never a single-partition corpus window") {
    // pin the DataFrame half (strideOrder): the RDD zipWithIndex tail
    // renders as an opaque ExistingRDD scan and would hide the shape
    val df = graft.operators.Sampling.strideOrder(
      graft.Tables(spark, sf, "documents"), "doc_id", "lang", "stride")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("windowspecdefinition(lang"),
      s"within-group rank must partition by the group column:\n$plan")
    assert(plan.contains("rangepartitioning"),
      s"global order must come from a RANGE partition, not one task:\n$plan")
    assert(!plan.contains("SinglePartition"),
      s"no stage may collapse the corpus to one partition:\n$plan")
    assert(plan.contains("BroadcastExchange"),
      s"per-group weights must broadcast against the corpus:\n$plan")
  }

  test("qew length batching: exactly one shuffle (the bucket-keyed " +
    "window), no UDF") {
    // AQE renders materialized stages once in the final plan and again in
    // the initial-plan section — count only the final section
    val plan = executedPlan("qew_length_batches")
      .split("== Initial Plan ==").head
    val exchanges = "(?<!Broadcast)Exchange ".r.findAllIn(plan).length
    assert(exchanges <= 1,
      s"bucket assignment is one window shuffle, got $exchanges:\n$plan")
    assert(!plan.contains("ScalaUDF"), s"must stay native:\n$plan")
    assert(!plan.contains("SinglePartition"),
      s"the window must key on bucket, not collapse to one partition:\n$plan")
  }

  test("qf8 exact-substring dedup: one h-keyed pass hashes the corpus once, " +
    "confirms without a text-keyed shuffle, stays UDF-free, and prunes the scan") {
    val tree = finalPlan("qf8_exact_substr_dedup")
    val plan = tree.toString
    assertOneHashPass(tree)
    assert(!plan.contains("ScalaUDF"),
      s"rolling hash + rebuild must stay native expressions:\n$plan")
    val read = "ReadSchema: [^\n]*".r.findAllIn(plan).mkString(" ")
    assert(!read.contains("lang") && !read.contains("source"),
      s"documents scan not pruned to (doc_id, text): $read")
    assert(!plan.contains("CartesianProduct") && !plan.contains("NestedLoop"),
      s"no pairwise regime anywhere in ExactSubstr:\n$plan")
    assert(plan.contains("excisespansexpr"),
      s"span merge + rebuild must run on the native excise kernel:\n$plan")
    assert(!plan.contains("aggregate(") && !plan.contains("collect_list(struct"),
      s"no interpreted span fold or struct span list may remain:\n$plan")
    assertNativeGramHashes(plan)
  }

  /** The ExactSubstr family hashes its L-windows in the native window
    * kernel, never one interpreted lambda per character position. */
  private def assertNativeGramHashes(plan: String): Unit = {
    assert(plan.contains("gramhashesexpr"),
      s"window hashes must come from the native GramHashesExpr kernel:\n$plan")
    assert(!plan.contains("lambdafunction"),
      s"no interpreted per-position lambda may remain:\n$plan")
  }

  /** The ExactSubstr family's one h-keyed pass: the gram-hash kernel runs
    * once, no exchange keys on the gram text `g`, and no broadcast carries
    * the exploded position rows — each position row crosses one exchange,
    * keyed on its hash. */
  private def assertOneHashPass(plan: SparkPlan): Unit = {
    def isGramExplode(p: SparkPlan) = p match {
      case g: GenerateExec => g.generator.exists(_.isInstanceOf[GramHashesExpr])
      case _ => false
    }
    val kernels = collect(plan) { case g if isGramExplode(g) => g }
    assert(kernels.size === 1, s"the gram-hash kernel must run once:\n$plan")
    val textKeyed = collect(plan) {
      case e: ShuffleExchangeExec if (e.outputPartitioning match {
        case HashPartitioning(Seq(a: AttributeReference, _*), _) => a.name == "g"
        case _ => false
      }) => e
    }
    assert(textKeyed.isEmpty, s"the confirm must not shuffle on the gram text:\n$plan")
    // the exploded rows themselves: the broadcast's own stage reaches the
    // kernel without crossing a shuffle
    def carriesGramRows(p: SparkPlan): Boolean = p match {
      case _: ShuffleExchangeExec => false
      case _ => isGramExplode(p) || allChildren(p).exists(carriesGramRows)
    }
    val broadcastGrams = collect(plan) {
      case b: BroadcastExchangeExec if carriesGramRows(b.child) => b
    }
    assert(broadcastGrams.isEmpty, s"the position rows must not be broadcast:\n$plan")
  }

  test("qcj k-means: points assign through the native nearest-centroid " +
    "kernel — no pairwise join, no lambda distance") {
    val plan = executedPlan("qcj_kmeans")
    assert(plan.contains("nearestcentroidexpr"),
      s"assignment must run on the native nearest-centroid kernel:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("NestedLoop"),
      s"no (point, centroid) pairwise join may remain:\n$plan")
    assert(!plan.contains("lambdafunction"),
      s"no interpreted lambda may remain in the k-means plan:\n$plan")
  }

  test("qf9 IVF hard negatives: probes broadcast into the cell join; the " +
    "corpus is never broadcast or pairwise-joined against itself") {
    val plan = executedPlan("qf9_hard_negatives_ivf")
    assert(plan.contains("BroadcastHashJoin"),
      s"probe routing must be a broadcast hash join on cell_id:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"corpus-corpus cartesian crept in:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"nothing here should need a corpus-sized shuffle join at this SF:\n$plan")
  }

  test("qfk memorization report: same shape discipline as qf8 — one " +
    "h-keyed window count, UDF-free, pruned scan, no pairwise") {
    val tree = finalPlan("qfk_memorization_report")
    val plan = tree.toString
    assertOneHashPass(tree)
    assert(!plan.contains("ScalaUDF"), s"must stay native:\n$plan")
    val read = "ReadSchema: [^\n]*".r.findAllIn(plan).mkString(" ")
    assert(!read.contains("lang") && !read.contains("source"),
      s"documents scan not pruned to (doc_id, text): $read")
    assert(!plan.contains("CartesianProduct") && !plan.contains("NestedLoop"),
      s"no pairwise regime in the exposure report:\n$plan")
    assertNativeGramHashes(plan)
  }

  test("qfe suffix array: the final order comes off the two-phase scan's " +
    "RDD boundary, never a one-task window; the doubling rounds are " +
    "equi-joins") {
    // the two-phase zipWithIndex ends in an RDD boundary, so the final
    // plan must be a Scan ExistingRDD projection — a Window/Sort with
    // SinglePartition here would mean the scalable path was bypassed.
    // The per-round shapes are checkpoint-truncated out of this plan;
    // SuffixArraySpec pins their semantics differentially.
    val plan = executedPlan("qfe_suffix_array")
    assert(plan.contains("Scan ExistingRDD"),
      s"expected the two-phase scan's RDD boundary to feed the result:\n$plan")
    assert(!plan.contains("SinglePartition") && !plan.contains("Window"),
      s"a one-task global window crept into the SA build:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("NestedLoop"),
      s"the doubling rounds must stay equi-joins:\n$plan")
  }

  test("qg4 frequency span removal: native end to end, frequency join is " +
    "an equi-join on the span key — no pairwise regime anywhere") {
    val plan = executedPlan("qg4_freq_span_removal")
    assert(!plan.contains("ScalaUDF") && !plan.contains("BatchEvalPython"),
      s"span construction and counts must stay native:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("NestedLoop"),
      s"the count join-back must be an equi-join:\n$plan")
    assert(plan.contains("HashAggregate"),
      s"corpus span counts must hash-aggregate (map-side combine):\n$plan")
  }

  test("qg7 prototype pruning: the centroid frame BROADCASTS into the " +
    "assignment (the nCells-row side, never the corpus), the keep window " +
    "is cell-keyed") {
    val plan = executedPlan("qg7_prototype_prune")
    // crossJoin(broadcast(cents)) plans as a broadcast nested loop with
    // the 16-row centroid frame on the build side — deliberate: the
    // argmin needs every (vector, centroid) pair and nCells is tiny
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"centroids must broadcast into the assignment:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"no unbroadcast pairwise product:\n$plan")
    assert(!plan.matches("(?s).*Window.*SinglePartition.*"),
      s"the rank window must key on cell_id, never one task:\n$plan")
  }

  test("qg9 soft-dedup weights: fingerprint is the native expression, the " +
    "count join-back is an equi-join on the 8-byte fp") {
    val plan = executedPlan("qg9_dup_weights")
    assert(!plan.contains("ScalaUDF"),
      s"docFingerprint must stay the codegen expression:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("NestedLoop"),
      s"the weight join must be an equi-join:\n$plan")
  }

  test("qgb pareto quality select: scoring + verdict are a join-free " +
    "single scan (ilr table is a broadcast literal, the keep rule pure " +
    "decimal arithmetic), no UDF, zero exchanges") {
    val plan = executedPlan("qgb_pareto_quality")
    assert(!plan.contains("Join"),
      s"the verdict must be join-free (qei's discipline):\n$plan")
    assert(!plan.contains("Exchange"),
      s"score + quality + draw + verdict all fuse into the row pass:\n$plan")
    assert(!plan.contains("ScalaUDF"), s"the rule must stay native:\n$plan")
  }

  test("qgc exact-substring mask: qf8's shape — 8-byte gram shuffle, " +
    "equi-join confirm, doc-keyed merge windows, no UDF") {
    val tree = finalPlan("qgc_exact_substr_mask")
    val plan = tree.toString
    assertOneHashPass(tree)
    assert(!plan.contains("CartesianProduct") && !plan.contains("NestedLoop"),
      s"confirm join must be an equi-join:\n$plan")
    assert(!plan.contains("ScalaUDF"),
      s"rolling hash must stay the codegen expression:\n$plan")
    assert(!plan.matches("(?s).*Window.*SinglePartition.*"),
      s"merge windows must key on doc/gram, never one task:\n$plan")
    assertNativeGramHashes(plan)
  }

  test("qgd domain quota: the rank comes from the two-phase grouped scan " +
    "— no window operator, no single-partition stage in the plan") {
    val plan = executedPlan("qgd_domain_quota")
    assert(!plan.contains("windowspecdefinition"),
      s"the cap must not plan a domain-keyed window (a dominant domain " +
        s"would funnel one task):\n$plan")
    assert(!plan.contains("SinglePartition"),
      s"no stage may collapse the corpus to one partition:\n$plan")
  }

  test("qgg C4 line filter: pure per-row HOFs fused into the scan — zero " +
    "exchanges past the staging aggregate, no UDF, no window") {
    // pin the OPERATOR itself (the gate's multi-line staging legitimately
    // aggregates chunks; the filter must add nothing to it)
    val df = graft.operators.TextPipeline.c4LineFilter(
      graft.Tables(spark, sf, "documents"), "doc_id", "text")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"line rules are per-row and must not shuffle:\n$plan")
    assert(!plan.contains("ScalaUDF"), s"rules must stay native:\n$plan")
    assert(!plan.contains("windowspecdefinition"), s"no window:\n$plan")
  }

  test("qh2 tokenizer eval: the vocab frames (token counts, top-K) " +
    "BROADCAST onto occurrences; exactly ONE window and it ranks word " +
    "TYPES, never the corpus") {
    val plan = executedPlan("qh2_tokenizer_eval")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"the vocab-bounded frames must broadcast:\n$plan")
    // AQE's toString repeats nodes under "== Initial Plan ==" — count
    // window operators in the FINAL section only
    val finalPlan = plan.split("== Initial Plan ==")(0)
    assert("windowspecdefinition".r.findAllIn(finalPlan).length <= 1,
      s"only the word-TYPE top-K rank may window:\n$finalPlan")
    assert(!plan.contains("CartesianProduct"), s"equi-joins only:\n$plan")
  }

  test("hammingPairs (qh3's pair stage): banded equi self-join with the " +
    "Hamming confirm as a post-join filter — no cartesian, no nested " +
    "loop, no window") {
    import org.apache.spark.sql.functions._
    val df = spark.range(200)
      .select(col("id"), xxhash64(col("id")).as("sig")).repartition(4)
    val out = graft.operators.Dedup.hammingPairs(df, "id", "sig", maxDist = 3)
    out.collect()
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"the block join must stay an equi-join:\n$plan")
    assert(!plan.contains("windowspecdefinition"), s"no window:\n$plan")
  }

  test("qgh doremi resample: budgets and counts BROADCAST against the " +
    "ranked corpus; no window operator (groupedRank carries the rank)") {
    val plan = executedPlan("qgh_doremi_resample")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"the K-row budget/count frames must broadcast:\n$plan")
    assert(!plan.contains("windowspecdefinition"),
      s"the realization must not plan a domain-keyed window:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"equi-joins only:\n$plan")
  }

  test("qhd scoped minhash: banding + verification stay equi-joins with " +
    "the scope on the join key — no cartesian, no nested loop") {
    val plan = executedPlan("qhd_scoped_minhash_dedup")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"scope must ride the equi-join key:\n$plan")
  }

  test("qhe token shard assign: the cumulative count is the two-phase " +
    "prefix scan — no window operator anywhere in the plan") {
    val plan = executedPlan("qhe_token_shard_assign")
    assert(!plan.contains("windowspecdefinition"),
      s"the shard layout must never plan a one-task global window:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"equi-joins only:\n$plan")
  }

  test("qha cross-modal align: the CLIP-score is the NATIVE cosine " +
    "expression (no UDF boundary on the scored pass), equi-joins only") {
    val plan = executedPlan("qha_crossmodal_align")
    assert(plan.toLowerCase.contains("cosinesimilarity"),
      s"scoring must be the native cosine expression:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"candidate composition must stay equi-joins:\n$plan")
  }

  test("qhb caption dedup: the per-image selection windows IMAGE groups " +
    "(bounded-small caption sets), never the corpus; equi-joins only") {
    val plan = executedPlan("qhb_caption_dedup")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"equi-joins only:\n$plan")
    // every window in the final plan partitions by a column (img or
    // cluster key) — a partitionBy-less window would funnel one task
    val finalPlan = plan.split("== Initial Plan ==")(0)
    assert(!finalPlan.contains("windowspecdefinition()"),
      s"no global (partition-less) window:\n$finalPlan")
  }
}
