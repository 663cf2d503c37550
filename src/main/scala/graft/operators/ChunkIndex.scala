package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Cross-RUN persistent CDC chunk-claim index — the content-defined-chunk
  * member of the persistent-index family ([[GramIndex]] exact-substring,
  * [[LshIndex]] near-dup, [[IvfIndex]]/[[PqIndex]] ANN): the steady-state
  * shape of duplicated-CHUNK suppression over a corpus that arrives in
  * deliveries, where [[Dedup.dedupCdcKeepFirst]] is the one-shot batch
  * form and streaming/StreamingDedup.ChunkClaim the in-stream form
  * (reference anchor: the corpus-side role of SURVEY §2 LLM-pipeline
  * dedup).
  *
  * ONE catalog table persists the claims:
  *
  *  - `chunks` (h, h2, cnt, delivery), bucketed on h — one row per
  *    distinct batch chunk per ingest delivery, carrying the DOUBLE
  *    64-bit fingerprint (fnv1a64 + xxhash64 of the chunk text — the
  *    [[Dedup.charGramFingerprints]] currency; keep-first under a
  *    collided single hash would REMOVE a distinct chunk, so the claim
  *    rule is collision-exact at ~2^-128 per pair), its occurrence
  *    count in that delivery, and the delivery id that appended it.
  *
  * Ingest semantics are the CAUSAL cross-delivery form of CDC keep-first
  * dedup: a batch chunk is suppressed iff an EARLIER delivery claimed
  * its fingerprints (already-delivered documents cannot be retro-edited)
  * or an earlier (doc, position) occurrence WITHIN the batch did —
  * keep-first by lexicographic min, the batch operator's rule. On an
  * EMPTY index the first clause is vacuous, so `ingest` of a whole
  * corpus as one delivery IS [[Dedup.dedupCdcKeepFirst]] (spec-pinned);
  * ingesting doc-id-ordered deliveries reproduces the batch operator's
  * global keep-first exactly (gate qg0 pins it on qfy's oracle). The
  * index records content SEEN, not content kept: every distinct batch
  * chunk appends, so a chunk suppressed in delivery 3 still suppresses
  * delivery 4's copy without re-reading delivery 1.
  *
  * REPLAY CONTRACT: [[IndexStore]]'s delivery self-exclusion; a
  * replay's duplicate rows are invisible to the existence-only claim
  * rule and cancelled EXACTLY by [[compact]] (per-delivery max before
  * the cross-delivery sum).
  *
  * Cost per delivery: one codegen'd CDC pass over the batch
  * (CdcCutsExpr), one batch-sized shuffle on the 8-byte h, one bucketed
  * probe join reading the corpus pre-partitioned with h2 confirmed
  * post-join (a join on (h, h2) would not be satisfied by the
  * h-bucketing and would shuffle the corpus), one per-doc reassembly —
  * O(batch + matches), never O(corpus). Storage: ~28 bytes per distinct
  * (delivery, chunk); [[compact]] merges to one row per distinct corpus
  * chunk and one file per bucket.
  *
  * The table is EXTERNAL: [[attach]] re-registers the bucketing DDL over
  * the files in a fresh session/process. The single-writer lease, the
  * rename-aside swap with its recovery preamble, and the ledgered stream
  * replay are [[IndexStore]]'s. */
object ChunkIndex {

  /** Names + bucket count of one persistent index. `tag` must be unique
    * per (index, warehouse). */
  final case class Ref(tag: String, buckets: Int) {
    def chunksTable: String = s"graft_chunkidx_chunks_$tag"
  }

  /** Delivery tag [[compact]] rewrites merged rows under; user delivery
    * ids must not collide with it. */
  val CompactedDelivery = "_compacted"

  private def store(ref: Ref) = IndexStore.Layout("ChunkIndex", ref.tag,
    s"graft_chunkidx_lease_${ref.tag}",
    Seq(IndexStore.Part(ref.chunksTable, Seq("h"))), ref.buckets)

  /** Remove a crashed writer's lingering lease ([[IndexStore]]). */
  def breakLease(spark: SparkSession, ref: Ref): Unit =
    IndexStore.breakLease(spark, store(ref))

  /** Destroy the index: catalog entry AND files (lease included). */
  def drop(spark: SparkSession, ref: Ref): Unit = IndexStore.drop(spark, store(ref))

  /** Re-register the on-disk index in a session whose catalog lacks it. */
  def attach(spark: SparkSession, ref: Ref): Unit = IndexStore.attach(spark, store(ref))

  /** The batch's CDC chunks with both fingerprints. */
  private def fingerprinted(batch: DataFrame, idCol: String, textCol: String,
                            window: Int, divisor: Long,
                            remainder: Long): DataFrame =
    TextPipeline.cdcChunks(batch, idCol, textCol, window, divisor, remainder)
      .select(col(idCol).as("_d"), col("chunk_idx"), col("chunk_text"),
        graft.functions.Fnv1a64Expr(col("chunk_text")).as("h"),
        xxhash64(col("chunk_text")).as("h2"))

  /** The keep-first suppression against `corpusDup` (earlier-delivery
    * claims as (h, h2)): within-batch firsts by lexicographic min
    * (doc, idx), minus corpus-claimed fingerprints, reassembled per doc —
    * (idCol, n_chunks, n_kept, text_dedup), docs with no survivor drop.
    * Chunk identity is the (h, h2) PAIR everywhere (16-byte keys — the
    * batch operators' documented 100-TB shape, made physical). */
  private def keepFirst(chunks: DataFrame, corpusDup: DataFrame,
                        idCol: String): DataFrame = {
    val first = chunks.groupBy(col("h"), col("h2"))
      .agg(min(struct(col("_d"), col("chunk_idx"))).as("_m"))
    val perDoc = chunks.groupBy(col("_d"))
      .agg(count(lit(1)).as("n_chunks"))
    chunks.join(first, Seq("h", "h2"))
      .filter(col("_m._d") === col("_d") &&
        col("_m.chunk_idx") === col("chunk_idx"))
      .join(corpusDup, Seq("h", "h2"), "left_anti")
      .groupBy(col("_d"))
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(array_sort(collect_list(
          struct(col("chunk_idx"), col("chunk_text")))),
          x => x.getField("chunk_text")), "").as("text_dedup"))
      .join(perDoc, Seq("_d"))
      .select(col("_d").as(idCol), col("n_chunks"), col("n_kept"),
        col("text_dedup"))
  }

  /** [[ingest]] under a fresh delivery id: no crashed-retry idempotence
    * (a fresh-id retry over-suppresses — [[recoverDelivery]] first). */
  def ingest(batch: DataFrame, idCol: String, textCol: String, window: Int,
             divisor: Long, remainder: Long, ref: Ref): DataFrame =
    ingest(batch, idCol, textCol, window, divisor, remainder, ref,
      delivery = java.util.UUID.randomUUID().toString)

  /** Ingest one delivery: return the batch deduped under the causal
    * cross-delivery keep-first rule — (idCol, n_chunks, n_kept,
    * text_dedup), docs left with no surviving chunk drop (the batch
    * operator's contract) — then fold the batch's distinct chunk
    * fingerprints into the index tagged with `delivery`. Results
    * materialize BEFORE the append so the common path never reads the
    * index twice. */
  def ingest(batch: DataFrame, idCol: String, textCol: String, window: Int,
             divisor: Long, remainder: Long, ref: Ref,
             delivery: String): DataFrame = {
    IndexStore.requireDelivery(delivery, CompactedDelivery)
    val spark = batch.sparkSession
    val l = store(ref)
    IndexStore.withLease(spark, l, "ingest") {
      val hasCorpus = IndexStore.hasContent(spark, l)
      val chunks = fingerprinted(batch, idCol, textCol, window, divisor,
        remainder).cache()
      import spark.implicits._
      // exclude THIS delivery's own rows (a crashed earlier attempt of
      // this same batch, never corpus)
      val corpusDup =
        if (!hasCorpus) Seq.empty[(Long, Long)].toDF("h", "h2")
        else GramIndex.corpusHits(spark.table(ref.chunksTable)
          .filter(col("delivery") =!= lit(delivery)), chunks.select("h", "h2").distinct())
      val out = keepFirst(chunks, corpusDup, idCol).localCheckpoint()
      IndexStore.appendBucketed(
        chunks.groupBy(col("h"), col("h2")).agg(count(lit(1)).as("cnt"))
          .withColumn("delivery", lit(delivery)), l, l.parts.head)
      chunks.unpersist()
      out
    }
  }

  /** Read-only form — dedup `batch` against the index WITHOUT folding it
    * in (audits, what-if runs; no lease, the bucketed read is
    * snapshot-consistent per job). Within-batch keep-first still applies. */
  def dedupAgainst(batch: DataFrame, idCol: String, textCol: String,
                   window: Int, divisor: Long, remainder: Long,
                   ref: Ref): DataFrame = {
    val spark = batch.sparkSession
    attach(spark, ref)
    val chunks = fingerprinted(batch, idCol, textCol, window, divisor, remainder)
    val corpusDup = GramIndex.corpusHits(spark.table(ref.chunksTable),
      chunks.select("h", "h2").distinct())
    keepFirst(chunks, corpusDup, idCol)
  }

  /** Compact: merge to ONE row per distinct corpus chunk and one file
    * per bucket. A replayed delivery's duplicate rows carry identical
    * (h, h2, cnt, delivery) values, so the per-delivery `max` cancels
    * them EXACTLY before the cross-delivery sum. Merged rows re-tag
    * [[CompactedDelivery]], collapsing delivery lineage: do NOT compact
    * while a delivery is in doubt (a crashed, not-yet-retried ingest —
    * its retry could no longer self-exclude); retry or
    * [[recoverDelivery]] first. */
  def compact(spark: SparkSession, ref: Ref): Unit =
    IndexStore.withLease(spark, store(ref), "compact") {
      IndexStore.rewriteTables(spark, store(ref)) { t =>
        t.groupBy(col("h"), col("h2"), col("delivery"))
          .agg(max(col("cnt")).as("cnt"))
          .groupBy(col("h"), col("h2")).agg(sum(col("cnt")).as("cnt"))
          .withColumn("delivery", lit(CompactedDelivery))
      }
    }

  /** [[IndexStore.retractDelivery]]; a no-op for ids [[compact]] collapsed. */
  def recoverDelivery(spark: SparkSession, ref: Ref, delivery: String): Unit =
    IndexStore.retractDelivery(spark, store(ref), delivery, CompactedDelivery,
      "compaction collapsed lineage")

  /** The stable delivery id a stream's micro-batch `bid` ingests under. */
  def streamDelivery(bid: Long): String = s"stream:$bid"

  /** One ledgered micro-batch of [[startStreamingIngest]], exposed for
    * planted replay tests: [[ingest]] under the batch-derived delivery
    * id, output OVERWRITTEN per batch — a re-execution is byte-identical. */
  def ingestBatchOnce(batch: DataFrame, idCol: String, textCol: String,
                      window: Int, divisor: Long, remainder: Long, ref: Ref,
                      outDir: String, bid: Long): Unit =
    graft.streaming.IngestLedger.once(batch.sparkSession, s"$outDir/_ledger", bid) {
      ingest(batch, idCol, textCol, window, divisor, remainder, ref,
          delivery = streamDelivery(bid))
        .write.mode("overwrite")
        .parquet(s"$outDir/dedup/batch_id=$bid")
    }

  /** Maintain the index from a document STREAM ([[ingestBatchOnce]] per
    * micro-batch in [[IndexStore]]'s ledgered loop): a cross-RUN claim
    * store where StreamingDedup.ChunkClaim keeps claims in query state. */
  def startStreamingIngest(docs: DataFrame, idCol: String, textCol: String,
                           window: Int, divisor: Long, remainder: Long,
                           ref: Ref, outDir: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    IndexStore.streamIngest(docs, checkpoint)(
      ingestBatchOnce(_, idCol, textCol, window, divisor, remainder, ref, outDir, _))
}
