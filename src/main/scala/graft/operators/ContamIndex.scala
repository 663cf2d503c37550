package graft.operators

import graft.functions.Hashes
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Cross-RUN persistent BENCHMARK-GRAM index — the streaming face of the
  * decontamination audit (qbf/qf5's n-gram-overlap rule; capability
  * analogue of the eval-set contamination checks published with GPT-3 /
  * PaLM / Llama training reports): benchmark DELTAS land as they are
  * released (a new eval set, a refreshed split), each delivery folds its
  * distinct n-gram hashes into one bucketed on-disk table, and training
  * docs are audited against the ACCUMULATED set at any point — the
  * verdict a release pipeline runs before every training dump ships.
  *
  * One catalog table persists the corpus artifact:
  *
  *  - `grams` (gram, snap, delivery), bucketed on `gram` — `snap` is the
  *    CONTENT-derived benchmark-snapshot id the delta belongs to (not
  *    the micro-batch id), so audits are invariant to how a stream
  *    carves deliveries: the per-gram `min(snap)` aggregate is the same
  *    whatever order deltas arrive in.
  *
  * [[audit]] is set-semantic over the accumulated grams (distinct +
  * min), so replayed or torn deliveries leave duplicate rows that are
  * INVISIBLE to every verdict — replay idempotence needs no delivery
  * self-exclusion here, just the ledger that [[startStreamingIngest]]
  * keeps to skip re-landing completed batches. Writers still take
  * [[IndexStore]]'s exclusive lease (concurrent appends to one bucketed
  * table race on file naming); the index has no compact, so nothing is
  * ever swapped. The table is EXTERNAL: [[attach]] re-registers it from
  * the directory alone.
  *
  * At 100 TB the asymmetry is the whole design: the benchmark side is
  * tiny (eval sets are thousands of docs) and pays one distinct per
  * delivery; the training corpus — the big side — NEVER lands in the
  * index and only streams through the probe join, grams pre-aggregated
  * bucket-locally on the index side. */
object ContamIndex {

  /** Names + bucket count of one persistent benchmark-gram index. */
  final case class Ref(tag: String, buckets: Int) {
    def gramsTable: String = s"graft_contamidx_grams_$tag"
  }

  private def store(ref: Ref) = IndexStore.Layout("ContamIndex", ref.tag,
    s"graft_contamidx_lease_${ref.tag}",
    Seq(IndexStore.Part(ref.gramsTable, Seq("gram"))), ref.buckets)

  /** Remove a crashed writer's lingering lease ([[IndexStore]]). */
  def breakLease(spark: SparkSession, ref: Ref): Unit =
    IndexStore.breakLease(spark, store(ref))

  /** Destroy the index: catalog entry AND files (lease included). */
  def drop(spark: SparkSession, ref: Ref): Unit = IndexStore.drop(spark, store(ref))

  /** Re-register an existing on-disk index in a fresh session/process. */
  def attach(spark: SparkSession, ref: Ref): Unit = IndexStore.attach(spark, store(ref))

  /** Ingest one benchmark delta: the delta's DISTINCT n-gram hashes land
    * as (gram, snap, delivery) rows, appended bucketed on `gram` — one
    * file per bucket per delivery, the corpus is never rewritten.
    * `snapCol` (long) is the content-derived snapshot id. Duplicate
    * grams across deliveries/snapshots are fine at rest: [[audit]]
    * aggregates them away bucket-locally. */
  def ingest(bench: DataFrame, textCol: String, snapCol: String, n: Int,
             ref: Ref, delivery: String): Unit = {
    val l = store(ref)
    IndexStore.withLease(bench.sparkSession, l, "ingest") {
      val grams = bench
        .select(col(snapCol).cast("long").as("snap"),
          explode(Hashes.shingleHashCol(col(textCol), n)).as("gram"))
        .groupBy(col("gram")).agg(min(col("snap")).as("snap"))
        .withColumn("delivery", lit(delivery))
      IndexStore.appendBucketed(grams, l, l.parts.head)
    }
  }

  /** Audit training docs against the ACCUMULATED benchmark grams: per
    * train doc, `n_shared` = how many of its distinct n-grams appear in
    * any ingested delta (qbf's verdict, now against the index),
    * `contaminated` = n_shared > 0, and `first_flagged_snap` = the
    * smallest benchmark-snapshot id among the shared grams (−1 when
    * clean) — the lineage column that says WHICH eval release first made
    * the doc unusable.
    *
    * Plan shape: the index side pre-aggregates per-gram min(snap)
    * BUCKET-LOCALLY (the table is bucketed on gram — no exchange), the
    * exploded train grams shuffle into that bucketing, and the per-doc
    * rollup shuffles only train-sized frames. The training corpus never
    * broadcasts and never lands in the index. */
  def audit(train: DataFrame, idCol: String, textCol: String, n: Int,
            ref: Ref): DataFrame = {
    val spark = train.sparkSession
    attach(spark, ref)
    val g = spark.table(ref.gramsTable)
      .groupBy(col("gram")).agg(min(col("snap")).as("msnap"))
    val trainSh = train.select(col(idCol).as("doc"),
      explode(Hashes.shingleHashCol(col(textCol), n)).as("gram"))
    val hits = trainSh.join(g, "gram")
      .groupBy(col("doc")).agg(count(lit(1)).as("n_shared"),
        min(col("msnap")).as("first_snap"))
    train.select(col(idCol).as("doc"))
      .join(hits, Seq("doc"), "left")
      .select(col("doc"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        (coalesce(col("n_shared"), lit(0L)) > 0).as("contaminated"),
        coalesce(col("first_snap"), lit(-1L)).as("first_flagged_snap"))
  }

  /** The stable delivery id a stream's micro-batch `bid` ingests under. */
  def streamDelivery(bid: Long): String = s"stream:$bid"

  /** Maintain the index from a benchmark-delta STREAM: [[ingest]] per
    * micro-batch in [[IndexStore]]'s ledgered loop; an unledgered replay
    * re-lands duplicate rows [[audit]] cannot see. Because `snap` is
    * content-derived, the accumulated verdict is invariant to how the
    * source carves micro-batches. */
  def startStreamingIngest(bench: DataFrame, textCol: String, snapCol: String,
                           n: Int, ref: Ref, outDir: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    IndexStore.streamIngest(bench, checkpoint) { (batch, bid) =>
      graft.streaming.IngestLedger.once(batch.sparkSession, s"$outDir/_ledger", bid) {
        ingest(batch, textCol, snapCol, n, ref, streamDelivery(bid))
      }
    }
}
