package graft.streaming

import graft.operators.Sampling
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** DoReMi domain reweighting over a document STREAM — the streaming
  * face of [[Sampling.doremiWeightsScaled]] (gate qga): the mixture is
  * continuously RE-ESTIMATED as deliveries arrive, the way a production
  * proxy run keeps refreshing its domain weights while the crawl lands.
  *
  * The whole trajectory is a pure function of the additive
  * per-(step, domain) statistics (Σ excess, count) — so the streaming
  * state is exactly those sums, and each delivery (a) merges its own
  * aggregate with the prior state, (b) replays the FULL T-step
  * trajectory through [[Sampling.doremiTrajectory]] (driver arithmetic
  * on steps×domains rows — model-scale, O(1) in corpus size), and
  * (c) publishes the refreshed mixture to
  * `outDir/weights/batch_id=<id>`. On a single-delivery stream the
  * published weights ARE the batch operator's (gate qgf on qga's
  * oracle); across deliveries the estimate converges to the batch
  * answer over the union, because the statistics are additive and the
  * trajectory is recomputed, never incrementally approximated.
  *
  * Replay discipline is the family's idempotent-state layout
  * ([[StreamingTopup]]): per-batch delta partitions with per-partition
  * OVERWRITE, self-excluding reads, the `_ledger` only prevents
  * re-work, committed deltas fold into watermarked generations
  * ([[DeltaState]]) so the per-commit state read is O(1) in stream age.
  * Two value columns (sum and count) ride DeltaState's single-value
  * contract as two sibling state dirs (`stateDir/s`, `stateDir/n`)
  * keyed by the composite "step<US>domain" (0x1f-separated) key
  * — step renders as
  * digits, so the first separator parses unambiguously for any domain
  * content. */
object StreamingMixture {

  private val Sep = "\u001f"

  def startDoremiIngest(docs: DataFrame, domainCol: String, excessCol: String,
                        stepCol: String, steps: Int, etaMilli: Long,
                        smoothMilli: Long, stateDir: String, outDir: String,
                        checkpoint: String,
                        rollEvery: Int = DeltaState.DefaultRollEvery)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    require(steps >= 1, s"steps must be >= 1, got $steps")
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], bid: Long) =>
        val spark = batch.sparkSession
        import spark.implicits._
        val ledger = s"$outDir/_ledger"
        IngestLedger.once(spark, ledger, bid) {
          // this delivery's additive statistics, keyed "step<US>domain"
          val own = batch.toDF().groupBy(
              concat(col(stepCol).cast("long").cast("string"), lit(Sep),
                col(domainCol).cast("string")).as("k"))
            .agg(sum(greatest(col(excessCol).cast("long"), lit(0L))).as("s"),
              count(lit(1)).as("n"))
            .as[(String, Long, Long)].collect()
          // prior deliveries' statistics, EXCLUDING this batch's own
          // partitions (a replayed batch must not merge its ghost)
          def prior(dir: String, valCol: String): Map[String, Long] =
            DeltaState.read(spark, s"$stateDir/$dir", bid, Seq("k", valCol))
              .map(_.groupBy(col("k")).agg(sum(col(valCol)).as(valCol))
                .as[(String, Long)].collect().toMap)
              .getOrElse(Map.empty)
          val ps = prior("s", "s")
          val pn = prior("n", "n")
          val ownMap = own.iterator.map(r => r._1 -> ((r._2, r._3))).toMap
          val merged = (ps.keySet ++ pn.keySet ++ ownMap.keySet).map { k =>
            val (os, on) = ownMap.getOrElse(k, (0L, 0L))
            val Array(t, g) = k.split(Sep, 2)
            (t.toLong, g) -> ((ps.getOrElse(k, 0L) + os, pn.getOrElse(k, 0L) + on))
          }.toMap
          // An empty delivery with no prior state (e.g. a zero-row batch 0)
          // has no domains to weight: skip publishing (the trajectory
          // requires >= 1 domain) but still mark the ledger so the batch
          // is never re-worked; the first non-empty delivery publishes.
          if (merged.nonEmpty) {
            val weights = Sampling.doremiTrajectory(merged, steps, etaMilli,
              smoothMilli)
            weights.toDF(domainCol, "avg_weight_nanos", "final_weight_nanos")
              .coalesce(1) // domain-cardinality-bounded
              .write.mode("overwrite").parquet(s"$outDir/weights/batch_id=$bid")
          }
          own.toSeq.map(r => (r._1, r._2)).toDF("k", "s")
            .write.mode("overwrite").parquet(s"$stateDir/s/delta/batch_id=$bid")
          own.toSeq.map(r => (r._1, r._3)).toDF("k", "n")
            .write.mode("overwrite").parquet(s"$stateDir/n/delta/batch_id=$bid")
        }
        DeltaState.maybeRollup(spark, s"$stateDir/s", "k", "s", rollEvery)
        DeltaState.maybeRollup(spark, s"$stateDir/n", "k", "n", rollEvery)
        ()
      }
      .start()
  }
}
