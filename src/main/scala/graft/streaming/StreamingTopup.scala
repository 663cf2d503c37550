package graft.streaming

import graft.operators.Sampling
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental mixture top-up over a document STREAM — the streaming
  * face of [[Sampling.topupAdmit]] (gate qf4): each arriving delivery
  * tops the mixture up toward the per-group target under its own total
  * budget, against the delivered-so-far counts of EVERY earlier
  * delivery. The allocator needs global counts twice over — the
  * mixture's current composition and the delivery's availability — so
  * the design NEXT.md sketched as "two phases" runs both inside ONE
  * foreachBatch: the batch frame IS the delivery (availability is a
  * plain aggregate over it), and the cross-delivery composition lives
  * in an on-storage state table.
  *
  * State layout makes replay IDEMPOTENT rather than merely absorbed:
  * each batch writes its admitted-per-group counts to
  * `stateDir/delta/batch_id=<id>` with per-partition OVERWRITE, and a
  * batch reads "current" as the sum over every partition EXCEPT ITS
  * OWN (a partition-pruned filter). A crash anywhere in the window —
  * after the output write, after the state write, before the ledger —
  * replays to byte-identical admitted rows and state: the replay never
  * sees its own half-written delta, and both writes overwrite their own
  * partitions. The `_ledger` then only prevents re-WORK, not
  * re-EFFECTS. Committed deltas fold into watermarked generations
  * ([[DeltaState]], round 15) so the per-commit state read is O(1) in
  * stream age instead of O(batches).
  *
  * Admitted rows land in `outDir/admitted/batch_id=<id>` as
  * (idCol, groupCol, rk) — [[Sampling.topupAdmit]]'s exact output, so
  * the one-delivery stream replays qf4's oracle verbatim and the
  * multi-delivery composition is pinned by spec against sequential
  * batch top-ups. */
object StreamingTopup {

  def startTopupIngest(docs: DataFrame, idCol: String, groupCol: String,
                       targetPerGroup: Long, totalBudget: Long,
                       stateDir: String, outDir: String, checkpoint: String,
                       salt: String = "topup",
                       rollEvery: Int = DeltaState.DefaultRollEvery)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], bid: Long) =>
        val spark = batch.sparkSession
        import spark.implicits._
        val ledger = s"$outDir/_ledger"
        IngestLedger.once(spark, ledger, bid) {
          val deltaDir = s"$stateDir/delta"
          // current composition = every delivery's admitted counts,
          // EXCLUDING this batch's own partition (a replayed batch must
          // not count its earlier half-written attempt); rolled
          // generation + unrolled deltas ([[DeltaState]])
          val current =
            DeltaState.read(spark, stateDir, bid, Seq(groupCol, "n"))
              .map(_.groupBy(col(groupCol)).agg(sum(col("n")).as("n")))
              .getOrElse(Seq.empty[(String, Long)].toDF(groupCol, "n"))
          val admitted = Sampling.topupAdmit(batch.toDF(), idCol, groupCol,
              current, targetPerGroup, totalBudget, salt)
            .localCheckpoint()
          admitted.write.mode("overwrite")
            .parquet(s"$outDir/admitted/batch_id=$bid")
          admitted.groupBy(col(groupCol)).agg(count(lit(1)).as("n"))
            .write.mode("overwrite")
            .parquet(s"$deltaDir/batch_id=$bid")
        }
        DeltaState.maybeRollup(spark, stateDir, groupCol, "n", rollEvery)
        ()
      }
      .start()
}
