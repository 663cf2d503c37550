package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Batch iteration facade (reference: DataSet.iterate / iterateDelta —
  * flink-runtime/.../iterative/task/IterationHeadTask.java and the
  * solution-set delta iteration model): the reference runs loops inside
  * the cluster; Spark's equivalent is a driver loop of short jobs with
  * `localCheckpoint` per round to keep lineage flat (same asymptotics —
  * each round is one shuffle — minus the in-cluster loop scheduling).
  */
object Iterations {

  /** Bulk iteration: apply `step` `maxIter` times. `fuse` rounds compile
    * into one plan per localCheckpoint: each checkpoint is a full job with
    * fixed scheduling cost, so fusing halves (fuse=2) the job count while
    * keeping lineage bounded — the classic small-graph amortization; at
    * scale the per-round shuffles dominate and fusing is neutral. */
  def iterate(initial: DataFrame, maxIter: Int, fuse: Int = 1)(
      step: DataFrame => DataFrame): DataFrame = {
    require(fuse >= 1, s"iterate: fuse must be >= 1, got $fuse") // 0 never advances
    var cur = initial
    var i = 0
    while (i < maxIter) {
      val k = math.min(fuse, maxIter - i)
      for (_ <- 1 to k) cur = step(cur)
      cur = cur.localCheckpoint()
      i += k
    }
    cur
  }

  /** Run `body` (a driver loop) under an execution profile sized to the
    * iterated frame. Driver loops repeat many SMALL jobs: when the frame
    * is tiny, AQE's per-job re-optimization (~tens of ms × rounds ×
    * stages) and default-width shuffles cost more than they buy — measured
    * 2.4 s → 1.5 s on the 10-round PageRank gate at sf0.01 (IterBench).
    * When the frame is big (>= `bigRows`), the profile is a no-op: at
    * cluster scale the per-round shuffles dominate and AQE's skew/coalesce
    * handling is worth its planning cost — exactly the regime it was built
    * for. Session confs are restored on exit (loops run one at a time per
    * session; the driver executes queries serially). */
  /** Reentrancy depth for [[withLoopProfile]]: only the OUTERMOST call
    * sets and restores session confs, so a loop body that itself invokes a
    * loop-profiled operator cannot restore confs mid-flight. Session confs
    * are still session-global — running loop-profiled queries CONCURRENTLY
    * on one shared SparkSession remains unsupported (the gate driver and
    * Verify/Bench run queries serially; a parallel harness should give
    * each thread `spark.newSession()`). */
  private val profileDepth = new java.util.concurrent.atomic.AtomicInteger(0)

  def withLoopProfile[T](spark: SparkSession, rows: Long,
                         bigRows: Long = defaultBigRows)(body: => T): T = {
    if (rows >= bigRows) body
    else if (profileDepth.getAndIncrement() > 0) {
      try body finally { profileDepth.decrementAndGet(); () }
    } else {
      val parts = math.max(4L, math.min(rows / 50000L + 1L, 16L)).toString
      val keys = Seq("spark.sql.adaptive.enabled" -> "false",
        "spark.sql.shuffle.partitions" -> parts)
      val old = keys.map { case (k, _) => k -> spark.conf.getOption(k) }
      keys.foreach { case (k, v) => spark.conf.set(k, v) }
      try body finally {
        old.foreach {
          case (k, Some(v)) => spark.conf.set(k, v)
          case (k, None) => spark.conf.unset(k)
        }
        profileDepth.decrementAndGet()
      }
    }
  }

  /** Profile cutoff, overridable for experiments and deployments by the
    * system property `graft.loop.bigRows` (settable at runtime, used by
    * IterBench to A/B the profile); 0 disables the small profile. A value
    * that is not a non-negative integer fails, naming the knob. */
  def defaultBigRows: Long =
    sys.props.get("graft.loop.bigRows").fold(1000000L) { v =>
      v.trim.toLongOption.filter(_ >= 0).getOrElse(throw new IllegalArgumentException(
        s"graft.loop.bigRows must be a non-negative integer, got '$v'"))
    }

  /** Broadcast hint for the vertex-sized side of per-round loop joins,
    * gated on the EDGE-frame row count the callers already hold (the same
    * `rows` they size [[withLoopProfile]] with): checkpointed frames carry
    * no stats and the small profile turns AQE's runtime conversion off, so
    * without the hint the cached edge set would shuffle every round. Above
    * the cutoff: identity — cluster-scale vertex frames don't fit a
    * broadcast.
    *
    * The broadcast FRAME is the vertex/factor side, which can hold up to
    * ~2× the edge count's distinct endpoints, so the hint applies only
    * below bigRows/2 — with the profile's AQE-off there is no runtime
    * fallback if a hinted broadcast overflows memory, and a 2× frame just
    * under the raw cutoff would be exactly that case. */
  def maybeBroadcast(rows: Long): DataFrame => DataFrame =
    if (rows < defaultBigRows / 2) org.apache.spark.sql.functions.broadcast
    else identity

  /** Re-cache an already-cached loop-invariant frame PRE-PARTITIONED on
    * the per-round join's key, in the BIG regime only (round 20, guide
    * §2). Above the [[maybeBroadcast]] cutoff the per-round join cannot
    * broadcast the iterated side, so it re-exchanged the cached edge
    * frame every round — one cache-to-cache exchange at build replaces
    * `iters` of them (A/B at sf0.1: label-prop 5.4 → 4.5 s, community
    * 5.3 → 4.8 s, sssp 11.9 → 10.7 s warm, per-loop job count −5/−6).
    * Below the cutoff the broadcast join never moves the edge side, and
    * the build-time exchange only COSTS (A/B: the sparse-graph cc gate
    * regressed 2.4 → 2.9 s when partitioned unconditionally) — so the
    * small regime returns the frame untouched. Caller's frame must be
    * cached and materialized; the swap unpersists it. */
  def recacheForLoopJoin(df: DataFrame, rows: Long,
                         key: org.apache.spark.sql.Column): DataFrame =
    if (rows < defaultBigRows / 2) df
    else {
      val p = df.repartition(key).cache()
      p.count()
      df.unpersist()
      p
    }

  /** Delta iteration: iterate until `converged(prev, next)` or maxIter.
    * `converged` typically counts changed rows (the solution-set delta);
    * it runs one small job per round, like the reference's convergence
    * criterion on the workset. */
  def iterateDelta(initial: DataFrame, maxIter: Int)(step: DataFrame => DataFrame)(
      converged: (DataFrame, DataFrame) => Boolean): DataFrame = {
    var cur = initial.localCheckpoint()
    var done = false
    var i = 0
    while (!done && i < maxIter) {
      val next = step(cur).localCheckpoint()
      done = converged(cur, next)
      cur.unpersist()
      cur = next
      i += 1
    }
    cur
  }
}
