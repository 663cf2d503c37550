package graft.streaming

import graft.operators.{Partitioning, Sampling}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Stride-scheduled curriculum ordering over a document STREAM — the
  * streaming face of [[Sampling.strideInterleave]] (gate qes), giving a
  * continuously-delivered corpus an ingest-time interleave order the
  * way [[StreamingTopup]] gives it an ingest-time mixture.
  *
  * The batch operator derives each group's stride weight from its FINAL
  * count (floor(sqrt(n)) — unknowable mid-stream), so the streaming
  * face takes the weights as an explicit contract: the caller declares
  * the mixture pacing up front (exactly how production curricula fix
  * sampling temperature before a run), and the operator assigns each
  * arriving document its virtual time
  *
  *   vt = ((2·rk − 1) · 1e6) DIV (2 · w_group)
  *
  * where rk is the document's CAUSAL per-group rank: documents of
  * earlier deliveries rank first, within a delivery by the same
  * (unitHash, id) shuffle order the batch operator uses. On a
  * single-delivery stream with the batch operator's own weights the
  * emitted (id, group, rk, vt) rows ARE the batch operator's
  * (spec- and gate-pinned); across deliveries the order is the causal
  * refinement (the past cannot re-rank). Consumers merge-read by
  * (vt, group, rk) — the batch operator's global sort key.
  *
  * Replay discipline is the family's idempotent-state layout
  * ([[StreamingTopup]], the round-13 checklist): per-group counters
  * live as per-batch delta partitions (`stateDir/delta/batch_id=<id>`,
  * per-partition OVERWRITE), a batch reads its rank base as the sum
  * over every delivery EXCEPT ITS OWN, ordered rows land in
  * `outDir/ordered/batch_id=<id>` with OVERWRITE, and the `_ledger`
  * only prevents re-work — a crash anywhere in the window replays to
  * byte-identical rows and state. Committed deltas fold into
  * watermarked generations ([[DeltaState]], round 15) so the
  * per-commit state read is O(1) in stream age.
  *
  * Documents of groups the caller did not declare are NOT ordered
  * (dropped, like admission denial in the mixture family) — a stream
  * curriculum cannot pace a group it has no stride for. */
object StreamingCurriculum {

  /** Competence-based curriculum over a document STREAM — the causal
    * face of [[Sampling.competenceCurriculum]] (gate qf6): each arriving
    * document gets the first training step at which the sqrt-competence
    * schedule admits it, ranked against the corpus DELIVERED SO FAR
    * (the past cannot be re-ranked; equal-difficulty ties break to
    * earlier deliveries, then by id within a delivery — on a
    * single-delivery stream this IS the batch operator's
    * (n_toks, id) order, gate-pinned).
    *
    * State is the running DIFFICULTY HISTOGRAM, (n_toks, cnt) per
    * delivery in the family's idempotent per-batch delta layout
    * (self-excluding reads, per-partition overwrite, ledger). The
    * histogram is driver-bounded by DISTINCT difficulty values (token
    * counts — hundreds, not corpus-sized; the same bounded-collect
    * contract as the mixture family's G-row maps), so an arriving
    * document's causal rank is its within-batch two-phase-scan rank
    * plus a literal-array fold over the histogram — no corpus-side
    * join, no rescan of earlier deliveries.
    *
    * Output rows land in `outDir/sched/batch_id=<id>` as
    * (idCol, n_toks, rank, first_step) with first_step =
    * ⌈T·(rank/N)²⌉ over the so-far corpus size N (integer-exact, the
    * batch operator's formula). */
  def startCompetenceIngest(docs: DataFrame, idCol: String, textCol: String,
                            totalSteps: Long, stateDir: String,
                            outDir: String, checkpoint: String,
                            rollEvery: Int = DeltaState.DefaultRollEvery)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    require(totalSteps > 0)
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], bid: Long) =>
        val spark = batch.sparkSession
        import spark.implicits._
        val ledger = s"$outDir/_ledger"
        IngestLedger.once(spark, ledger, bid) {
          val deltaDir = s"$stateDir/delta"
          // earlier deliveries' difficulty histogram, EXCLUDING this
          // batch's own partition (replay must not rank after its ghost);
          // read = newest rolled generation + unrolled deltas, O(1) in
          // stream age ([[DeltaState]])
          val hist: Seq[(Long, Long)] =
            DeltaState.read(spark, stateDir, bid, Seq("n_toks", "cnt"))
              .map(_.groupBy(col("n_toks")).agg(sum(col("cnt")).as("c"))
                .as[(Long, Long)].collect().toSeq.sortBy(_._1))
              .getOrElse(Seq.empty)
          val histTotal = hist.map(_._2).sum
          val base = batch.toDF().select(col(idCol),
            size(graft.functions.TextFunctions.tokens(col(textCol)))
              .cast("long").as("n_toks"))
          val batchN = base.count()
          val n = histTotal + batchN
          // an empty micro-batch (replays, edge triggers) is a NO-OP
          // delivery, not an error: the normal path below writes
          // schema-correct empty sched/delta partitions and ledgers the
          // batch, so a restart never re-hits it (ADVICE round 13 —
          // startStrideIngest always behaved this way). nEff only guards
          // the DIV-by-zero in the (then row-free) first_step expression.
          val nEff = math.max(n, 1L)
          // rank ≤ n, so rank²·T + n² − 1 is bounded by n²·(T + 1) − 1:
          // guard the Long headroom loudly instead of letting first_step
          // wrap negative (~3M docs at T=1e6 silently overflows)
          require(BigInt(n) * BigInt(n) * (BigInt(totalSteps) + 1) - 1 <= BigInt(Long.MaxValue),
            s"first_step = rank²·totalSteps overflows Long at n=$n docs, " +
              s"totalSteps=$totalSteps — rescale totalSteps or shard the corpus")
          // causal rank = earlier docs at or below this difficulty
          // (temporal tie-break) + within-batch (n_toks, id) rank via
          // the two-phase scan — the batch operator's device
          val histLE =
            if (hist.isEmpty) lit(0L)
            else {
              val arr = hist.map { case (nt, c) =>
                s"named_struct('nt', ${nt}L, 'c', ${c}L)"
              }.mkString("array(", ", ", ")")
              expr(s"""aggregate($arr, 0L, (acc, e) ->
                acc + CASE WHEN e.nt <= n_toks THEN e.c ELSE 0L END)""")
            }
          val p = spark.conf.get("spark.sql.shuffle.partitions").toInt
          val ordered = base
            .repartitionByRange(p, col("n_toks"), col(idCol))
            .sortWithinPartitions(col("n_toks"), col(idCol))
          val sched = Partitioning.zipWithIndex(ordered, "brk")
            .withColumn("rank", col("brk") + 1L + histLE)
            .withColumn("first_step", expr(
              s"(rank * rank * ${totalSteps}L + ${nEff}L * ${nEff}L - 1L) DIV (${nEff}L * ${nEff}L)"))
            .select(col(idCol), col("n_toks"), col("rank"), col("first_step"))
            .localCheckpoint()
          sched.write.mode("overwrite")
            .parquet(s"$outDir/sched/batch_id=$bid")
          base.groupBy(col("n_toks")).agg(count(lit(1)).as("cnt"))
            .write.mode("overwrite")
            .parquet(s"$deltaDir/batch_id=$bid")
        }
        // post-ledger: every live delta is a committed delivery — fold
        DeltaState.maybeRollup(spark, stateDir, "n_toks", "cnt", rollEvery)
        ()
      }
      .start()
  }

  def startStrideIngest(docs: DataFrame, idCol: String, groupCol: String,
                        weights: Map[String, Long], stateDir: String,
                        outDir: String, checkpoint: String,
                        salt: String = "stride",
                        rollEvery: Int = DeltaState.DefaultRollEvery)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    require(weights.nonEmpty && weights.values.forall(_ >= 1),
      "every declared group weight must be >= 1")
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], bid: Long) =>
        val spark = batch.sparkSession
        import spark.implicits._
        val ledger = s"$outDir/_ledger"
        IngestLedger.once(spark, ledger, bid) {
          val deltaDir = s"$stateDir/delta"
          // causal rank base = every delivery's per-group counts,
          // EXCLUDING this batch's own partition (a replayed batch must
          // not rank after its earlier half-written attempt); rolled
          // generation + unrolled deltas ([[DeltaState]])
          val base =
            DeltaState.read(spark, stateDir, bid, Seq(groupCol, "n"))
              .map(_.groupBy(col(groupCol)).agg(sum(col("n")).as("base")))
              .getOrElse(Seq.empty[(String, Long)].toDF(groupCol, "base"))
          val w = weights.toSeq.toDF(groupCol, "weight")
          val win = org.apache.spark.sql.expressions.Window
            .partitionBy(col(groupCol))
            .orderBy(Sampling.unitHash(col(idCol), salt), col(idCol))
          val ordered = batch.toDF()
            .withColumn("rkb", row_number().over(win).cast("long"))
            .join(broadcast(base), Seq(groupCol), "left")
            .join(broadcast(w), Seq(groupCol))
            .withColumn("rk", col("rkb") + coalesce(col("base"), lit(0L)))
            .withColumn("vt", expr("((2L * rk - 1L) * 1000000L) DIV (2L * weight)"))
            .select(col(idCol), col(groupCol), col("rk"), col("vt"))
            .localCheckpoint()
          ordered.write.mode("overwrite")
            .parquet(s"$outDir/ordered/batch_id=$bid")
          ordered.groupBy(col(groupCol)).agg(count(lit(1)).as("n"))
            .write.mode("overwrite")
            .parquet(s"$deltaDir/batch_id=$bid")
        }
        DeltaState.maybeRollup(spark, stateDir, groupCol, "n", rollEvery)
        ()
      }
      .start()
  }

  /** The mixture→curriculum COMPOSITION over a stream (gate qey's causal
    * face, the round-13 sketch): each delivery realizes its own UniMax
    * allocation ([[Sampling.unimaxSample]], `totalBudget` per delivery)
    * and the resulting copies are stride-interleaved into a per-delivery
    * EPOCH LAYOUT — both stages inside ONE foreachBatch, sharing one
    * state table, so the trainer-facing artifact ("decide the mixture,
    * then lay out the epoch") exists per delivery without a second pass.
    *
    * Causality: copy ranks continue across deliveries through the same
    * delta layout as [[startStrideIngest]] (the per-group COPY counts
    * delivered so far), and the stride weights are the batch operator's
    * τ=2 temperature weights over the CUMULATIVE copy counts
    * (w_g = floor(sqrt(delivered_g + this_delivery_g)) — the weight the
    * one-shot operator would have used had the stream ended here; the
    * past's vt values keep the weights of THEIR delivery, the causal
    * refinement this family always makes). `pos` restarts per delivery:
    * it is the delivery's epoch-layout position — concatenating the
    * per-delivery epochs replays the one-shot schedule's causal
    * refinement. On a single-delivery stream the emitted
    * (cid, group, rk, vt, pos) rows ARE batch
    * unimaxSample→strideInterleave verbatim (gate-pinned on qey's
    * oracle).
    *
    * Same replay discipline as the rest of the family: per-batch
    * overwrite, self-excluding state reads, ledger last, [[DeltaState]]
    * roll-up after the ledger. Epochs land in
    * `outDir/epoch/batch_id=<id>`.
    *
    * State size (round-15 VERDICT #6): what grows with realized copies
    * is the per-delivery EPOCH OUTPUT — the deliverable, written once
    * and never re-read by a later commit. The cross-delivery STATE is
    * only the per-group copy-count deltas, G rows per delivery, and its
    * reads ride [[DeltaState]] exactly like the siblings (`rollEvery`
    * parameter above; newest generation + ≤ rollEvery live deltas), so
    * the per-commit state read AND the completed-batch ledger
    * ([[IngestLedger]]) are both O(1) in stream age. */
  def startMixtureCurriculumIngest(docs: DataFrame, idCol: String,
                                   groupCol: String, totalBudget: Long,
                                   maxEpochs: Long, stateDir: String,
                                   outDir: String, checkpoint: String,
                                   mixSalt: String = "unimax",
                                   strideSalt: String = "stride",
                                   rollEvery: Int = DeltaState.DefaultRollEvery)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    require(totalBudget > 0 && maxEpochs > 0)
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], bid: Long) =>
        val spark = batch.sparkSession
        import spark.implicits._
        val ledger = s"$outDir/_ledger"
        IngestLedger.once(spark, ledger, bid) {
          val deltaDir = s"$stateDir/delta"
          // 1. mixture realization: this delivery's UniMax allocation,
          // exploded to copy ids (qey's copy-id device — repeats get
          // their own hash ranks so they spread across the schedule)
          val copies = Sampling.unimaxSample(batch.toDF(), idCol, groupCol,
              totalBudget, maxEpochs, mixSalt)
            .withColumn("copy", explode(sequence(lit(0L), col("n_copies") - 1)))
            .select(concat(col(idCol), lit("#"), col("copy")).as("cid"),
              col(groupCol))
            .localCheckpoint()
          // 2. causal stride state: copies delivered so far, excluding
          // this batch's own ghost (rolled generation + live deltas)
          val base = DeltaState.read(spark, stateDir, bid, Seq(groupCol, "n"))
            .map(_.groupBy(col(groupCol)).agg(sum(col("n")).as("base")))
            .getOrElse(Seq.empty[(String, Long)].toDF(groupCol, "base"))
          // 3. cumulative τ=2 weights — the one-shot operator's weights
          // had the stream ended at this delivery
          val w = copies.groupBy(col(groupCol)).agg(count(lit(1)).as("bn"))
            .join(base, Seq(groupCol), "left")
            .select(col(groupCol), floor(sqrt(
              (col("bn") + coalesce(col("base"), lit(0L))).cast("double")))
              .cast("long").as("weight"))
          val win = org.apache.spark.sql.expressions.Window
            .partitionBy(col(groupCol))
            .orderBy(Sampling.unitHash(col("cid"), strideSalt), col("cid"))
          val keyed = copies
            .withColumn("rkb", row_number().over(win).cast("long"))
            .join(broadcast(base), Seq(groupCol), "left")
            .join(broadcast(w), Seq(groupCol))
            .withColumn("rk", col("rkb") + coalesce(col("base"), lit(0L)))
            .withColumn("vt", expr("((2L * rk - 1L) * 1000000L) DIV (2L * weight)"))
            .select(col("cid"), col(groupCol), col("rk"), col("vt"))
          // 4. the delivery's epoch layout: global (vt, group, rk) order
          // via range partition + the two-phase scan (never a one-task
          // window), pos 0-based within the delivery
          val p = spark.conf.get("spark.sql.shuffle.partitions").toInt
          val ordered = Partitioning.zipWithIndex(
              keyed.repartitionByRange(p, col("vt"), col(groupCol), col("rk"))
                .sortWithinPartitions(col("vt"), col(groupCol), col("rk")),
              "pos")
            .localCheckpoint()
          ordered.write.mode("overwrite")
            .parquet(s"$outDir/epoch/batch_id=$bid")
          copies.groupBy(col(groupCol)).agg(count(lit(1)).as("n"))
            .write.mode("overwrite")
            .parquet(s"$deltaDir/batch_id=$bid")
        }
        DeltaState.maybeRollup(spark, stateDir, groupCol, "n", rollEvery)
        ()
      }
      .start()
  }
}
