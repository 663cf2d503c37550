package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Hashes

/** Cross-RUN persistent SimHash near-duplicate index — the HAMMING-space
  * member of the persistent-index family ([[LshIndex]] Jaccard/minhash,
  * [[IvfIndex]]/[[PqIndex]] cosine, [[GramIndex]] exact substring,
  * [[ChunkIndex]] CDC chunks): the steady-state shape of Charikar-style
  * near-identical document detection (SimHash, STOC 2002; the Google
  * near-dup crawl dedup of Manku et al., WWW 2007) over a corpus that
  * arrives in deliveries, where [[Dedup.simhashPairs]] is the one-shot
  * batch form (reference anchor: the corpus-side role of SURVEY §2
  * LLM-pipeline dedup).
  *
  * ONE catalog table persists the signatures, pre-exploded into the
  * pigeonhole blocks they are probed by:
  *
  *  - `blocks` (blk, blkval, doc, simhash, delivery), bucketed on
  *    (blk, blkval) — `nBlocks` rows per ingested document: the 64-bit
  *    signature split into `nBlocks` contiguous bit blocks. Two
  *    signatures within Hamming distance d < nBlocks MUST agree on at
  *    least one whole block (pigeonhole), so block equality is an
  *    EXACT-recall candidate filter for every `maxDist < nBlocks`; the
  *    full signature rides along so candidates confirm the true Hamming
  *    distance without a second lookup.
  *
  * Signatures are computed over the fingerprint normalization (lowercase
  * alphanumeric tokens — [[Hashes.docFingerprint]]'s contract, the q86
  * gate's replayed-in-SQL form): FNV-1a per token, ±1 vote per bit,
  * sign → bit. One linear pass per document; the per-doc UDF boundary is
  * the same device the batch family uses and is linear in corpus size —
  * never pairwise.
  *
  * [[ingest]] returns every near-dup pair the batch introduces —
  * (old_id, new_id, hamming) with `old_id` already indexed, or the lower
  * id for a within-batch pair — then folds the batch's block rows into
  * the index tagged with `delivery`. Results materialize BEFORE the
  * append so a batch never pairs with itself through the index.
  *
  * REPLAY CONTRACT: [[IndexStore]]'s delivery self-exclusion; a
  * replay's duplicate rows are invisible to the `distinct()` pair set
  * and cancelled EXACTLY by [[compact]] (row-value distinct).
  *
  * Cost per delivery: one signature pass over the batch, one batch-sized
  * shuffle on the 12-byte (blk, blkval) key, one bucketed probe join
  * reading the corpus pre-partitioned (zero corpus-side exchange — the
  * Hamming confirm is an INEQUALITY on bit_count(xor), so unlike the
  * gram/chunk families' h2 equality there is no ExtractEquiJoinKeys
  * lift hazard to armor against), one distinct on the batch-sized pair
  * set — O(batch + matches), never O(corpus). Storage: ~45 bytes per
  * (document, block); [[compact]] merges replay residue and rewrites one
  * file per bucket.
  *
  * The table is EXTERNAL: [[attach]] re-registers the bucketing DDL over
  * the files in a fresh session/process. The single-writer lease, the
  * rename-aside swap with its recovery preamble, and the ledgered stream
  * replay are [[IndexStore]]'s. */
object SimHashIndex {

  /** Names + physical layout of one persistent index. `tag` must be
    * unique per (index, warehouse); `nBlocks` is a STRUCTURAL parameter
    * (block boundaries must agree across deliveries) — changing it means
    * a new index. */
  final case class Ref(tag: String, buckets: Int, nBlocks: Int = 4) {
    require(nBlocks >= 1 && nBlocks <= 64, s"nBlocks=$nBlocks out of range")
    def blocksTable: String = s"graft_shidx_blocks_$tag"
  }

  /** Delivery tag [[compact]] rewrites merged rows under; user delivery
    * ids must not collide with it. */
  val CompactedDelivery = "_compacted"

  private val BucketCols = Seq("blk", "blkval")

  private def store(ref: Ref) = IndexStore.Layout("SimHashIndex", ref.tag,
    s"graft_shidx_lease_${ref.tag}",
    Seq(IndexStore.Part(ref.blocksTable, BucketCols)), ref.buckets)

  /** Remove a crashed writer's lingering lease ([[IndexStore]]). */
  def breakLease(spark: SparkSession, ref: Ref): Unit =
    IndexStore.breakLease(spark, store(ref))

  /** Destroy the index: catalog entry AND files (lease included). */
  def drop(spark: SparkSession, ref: Ref): Unit = IndexStore.drop(spark, store(ref))

  /** Re-register the on-disk index in a session whose catalog lacks it. */
  def attach(spark: SparkSession, ref: Ref): Unit = IndexStore.attach(spark, store(ref))

  /** The batch's signatures over fingerprint-normalized tokens:
    * (_doc, simhash). Raw `split` feeds the kernel — SimHashExpr skips
    * empty tokens internally, so the whole pass stays in one codegen
    * span (a filter(...) wrapper is CodegenFallback and would evict
    * it). */
  private def signatures(batch: DataFrame, idCol: String,
                         textCol: String): DataFrame = {
    val norm = trim(regexp_replace(lower(col(textCol)), "[^a-z0-9]+", " "))
    batch.select(col(idCol).as("_doc"),
      Hashes.simhash(split(norm, " ")).as("simhash"))
  }

  /** Explode signatures into pigeonhole block rows:
    * (blk, blkval, _doc, simhash). Block `b` is bits [b·w, (b+1)·w) for
    * w = 64/nBlocks, the LAST block extending through bit 63 — the exact
    * layout of [[Dedup.simhashPairs]], so the two operators agree on
    * candidate recall. */
  private def blocked(sigs: DataFrame, nBlocks: Int): DataFrame = {
    val width = 64 / nBlocks
    val blockExprs = transform(sequence(lit(0), lit(nBlocks - 1)), b => {
      val shifted = call_function("shiftrightunsigned", col("simhash"), b * lit(width))
      val mask = when(b === nBlocks - 1, lit(-1L)).otherwise(lit((1L << width) - 1))
      shifted.bitwiseAND(mask)
    })
    sigs.select(col("_doc"), col("simhash"), posexplode(blockExprs))
      .toDF("_doc", "simhash", "blk", "blkval")
  }

  /** Confirmed pairs from a candidate frame carrying (old_id, new_id,
    * h1, h2): distinct FIRST (a pair can match in several blocks, and
    * set semantics on the batch-sized result is what cancels a crashed
    * earlier delivery's duplicate artifact rows), then the exact Hamming
    * confirm on the full signatures. */
  private def confirmed(cands: DataFrame, maxDist: Int): DataFrame =
    cands.distinct()
      .withColumn("hamming", Hashes.hamming(col("h1"), col("h2")).cast("long"))
      .filter(col("hamming") <= maxDist)
      .select(col("old_id"), col("new_id"), col("hamming"))

  /** [[ingest]] under a fresh delivery id: no crashed-retry idempotence
    * (a fresh-id retry pairs the batch with itself — [[recoverDelivery]]
    * first). */
  def ingest(batch: DataFrame, idCol: String, textCol: String,
             maxDist: Int, ref: Ref): DataFrame =
    ingest(batch, idCol, textCol, maxDist, ref,
      delivery = java.util.UUID.randomUUID().toString)

  /** Ingest one delivery: return every near-dup pair the batch
    * introduces — (old_id, new_id, hamming) with hamming <= maxDist,
    * `old_id` already indexed or the lower id within the batch — then
    * fold the batch's block rows into the index tagged with `delivery`.
    * Recall is EXACT (pigeonhole) because `maxDist < nBlocks` is
    * required; precision is exact because every candidate confirms the
    * true 64-bit Hamming distance. */
  def ingest(batch: DataFrame, idCol: String, textCol: String,
             maxDist: Int, ref: Ref, delivery: String): DataFrame =
    ingestSigFrame(batch.sparkSession,
      signatures(batch, idCol, textCol), maxDist, ref, delivery)

  /** [[ingest]] over a PRECOMPUTED 64-bit signature column — the index
    * is Hamming-space generic, so any 64-bit perceptual signature rides
    * the same pigeonhole blocks and replay contract: an image corpus
    * under [[graft.sources.Images.dHash64]], an audio corpus under
    * [[graft.sources.Audio.fingerprint64]] (width >= nBlocks·blockWidth
    * bits for the pigeonhole filter to discriminate — a 15-bit
    * fingerprint under 16-bit blocks leaves blocks 1..3 constant and
    * every pair a candidate; use nWindows=64 there). Same return shape:
    * (old_id, new_id, hamming <= maxDist), then the batch's blocks fold
    * in under `delivery`. */
  def ingestSignatures(batch: DataFrame, idCol: String, sigCol: String,
                       maxDist: Int, ref: Ref, delivery: String): DataFrame =
    ingestSigFrame(batch.sparkSession,
      batch.select(col(idCol).as("_doc"),
        col(sigCol).cast("long").as("simhash")), maxDist, ref, delivery)

  private def ingestSigFrame(spark: SparkSession, sigsIn: DataFrame,
                             maxDist: Int, ref: Ref,
                             delivery: String): DataFrame = {
    requirePigeonhole(maxDist, ref)
    IndexStore.requireDelivery(delivery, CompactedDelivery)
    val l = store(ref)
    IndexStore.withLease(spark, l, "ingest") {
      val sigs = sigsIn.cache()
      val blocks = blocked(sigs, ref.nBlocks)
      // exclude THIS delivery's own rows (a crashed earlier attempt of
      // this same batch, never corpus)
      val corpus = if (!IndexStore.hasContent(spark, l)) None
        else Some(spark.table(ref.blocksTable).filter(col("delivery") =!= lit(delivery)))
      val out = confirmed(candidates(blocks, corpus), maxDist).localCheckpoint()
      IndexStore.appendBucketed(blocks
        .select(col("blk"), col("blkval"), col("_doc").as("doc"), col("simhash"))
        .withColumn("delivery", lit(delivery)), l, l.parts.head)
      sigs.unpersist()
      out
    }
  }

  /** Read-only form — the batch's near-dup pairs against the index and
    * within itself WITHOUT folding the batch in (audits, what-if runs;
    * no lease, the bucketed read is snapshot-consistent per job). Same
    * pair set an [[ingest]] of the batch would return. */
  def matchesAgainst(batch: DataFrame, idCol: String, textCol: String,
                     maxDist: Int, ref: Ref): DataFrame =
    matchesSigFrame(batch.sparkSession,
      signatures(batch, idCol, textCol), maxDist, ref)

  /** [[matchesAgainst]] over a precomputed 64-bit signature column —
    * the read-only face of [[ingestSignatures]]. */
  def matchesAgainstSignatures(batch: DataFrame, idCol: String,
                               sigCol: String, maxDist: Int,
                               ref: Ref): DataFrame =
    matchesSigFrame(batch.sparkSession,
      batch.select(col(idCol).as("_doc"),
        col(sigCol).cast("long").as("simhash")), maxDist, ref)

  private def matchesSigFrame(spark: SparkSession, sigs: DataFrame,
                              maxDist: Int, ref: Ref): DataFrame = {
    requirePigeonhole(maxDist, ref)
    attach(spark, ref)
    confirmed(candidates(blocked(sigs, ref.nBlocks),
      Some(spark.table(ref.blocksTable))), maxDist)
  }

  private def requirePigeonhole(maxDist: Int, ref: Ref): Unit =
    require(maxDist >= 0 && maxDist < ref.nBlocks,
      s"maxDist=$maxDist needs nBlocks>$maxDist for exact pigeonhole recall " +
        s"(got nBlocks=${ref.nBlocks}) — raise nBlocks or lower maxDist")

  /** Candidate pairs (old_id, new_id, h1, h2): the batch's block
    * self-join (lower id is the "old" side) plus, given `corpus` block
    * rows, the probe on (blk, blkval) — the index side is a bucketed
    * scan on its join key, no exchange. */
  private def candidates(blocks: DataFrame, corpus: Option[DataFrame]): DataFrame = {
    val within = blocks.as("a").join(blocks.as("b"),
        col("a.blk") === col("b.blk") && col("a.blkval") === col("b.blkval") &&
          col("a._doc") < col("b._doc"))
      .select(col("a._doc").as("old_id"), col("b._doc").as("new_id"),
        col("a.simhash").as("h1"), col("b.simhash").as("h2"))
    corpus.fold(within)(c => within.unionByName(
      c.select(col("blk"), col("blkval"), col("doc").as("old_id"), col("simhash").as("h1"))
        .join(blocks.select(col("blk"), col("blkval"),
          col("_doc").as("new_id"), col("simhash").as("h2")), BucketCols)
        .select(col("old_id"), col("new_id"), col("h1"), col("h2"))))
  }

  /** Integrity check — the single-table analogue of [[LshIndex.fsck]]'s
    * cross-table consistency: every ingested document must carry exactly
    * `nBlocks` DISTINCT block rows per delivery (a torn multi-file
    * append can land a strict subset, silently shrinking that doc's
    * candidate recall below the pigeonhole guarantee). Returns the
    * DELTA, one row per torn (doc, delivery): (doc, delivery,
    * n_distinct_blocks) — empty result = consistent. Replay residue
    * (byte-duplicate rows) is NOT flagged: duplicates of complete rows
    * change no block SET.
    *
    * REPAIR PATH: [[recoverDelivery]] for each flagged delivery, then
    * re-[[ingest]] those batches under their SAME ids — their pairs
    * were never returned (the writer died mid-append), so the
    * id-uniqueness rule permits the re-use. */
  def fsck(spark: SparkSession, ref: Ref): DataFrame = {
    attach(spark, ref)
    spark.table(ref.blocksTable)
      .groupBy(col("doc"), col("delivery"))
      .agg(countDistinct(col("blk")).as("n_distinct_blocks"))
      .filter(col("n_distinct_blocks") =!= ref.nBlocks)
  }

  /** [[fsck]] as an assertion: throws naming (a sample of) the torn
    * (doc, delivery) rows. */
  def verifyConsistent(spark: SparkSession, ref: Ref): Unit = {
    val bad = fsck(spark, ref).limit(20).collect()
    if (bad.nonEmpty) {
      val detail = bad.map(r =>
        s"doc ${r.get(0)} delivery '${r.get(1)}' has ${r.get(2)}/" +
          s"${ref.nBlocks} blocks").mkString("; ")
      throw new IllegalStateException(
        s"index '${ref.tag}' has ${bad.length}+ torn block sets (a " +
          s"crashed ingest's partial append): $detail — recoverDelivery " +
          s"the flagged deliveries, then re-ingest under the same ids")
    }
  }

  /** Compact: merge replay residue to one row per distinct block row and
    * rewrite one file per bucket. A replayed delivery's duplicate rows
    * are byte-identical (blk, blkval, doc, simhash, delivery), so a
    * row-value distinct cancels them EXACTLY; merged rows re-tag
    * [[CompactedDelivery]], collapsing delivery lineage: do NOT compact
    * while a delivery is in doubt (a crashed, not-yet-retried ingest —
    * its retry could no longer self-exclude); retry or
    * [[recoverDelivery]] first. */
  def compact(spark: SparkSession, ref: Ref): Unit =
    IndexStore.withLease(spark, store(ref), "compact") {
      IndexStore.rewriteTables(spark, store(ref)) { t =>
        t.select(col("blk"), col("blkval"), col("doc"), col("simhash"))
          .distinct()
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
    * id, pairs OVERWRITTEN per batch — a re-execution is byte-identical. */
  def ingestBatchOnce(batch: DataFrame, idCol: String, textCol: String,
                      maxDist: Int, ref: Ref, outDir: String, bid: Long): Unit =
    graft.streaming.IngestLedger.once(batch.sparkSession, s"$outDir/_ledger", bid) {
      writePairs(ingest(batch, idCol, textCol, maxDist, ref,
        delivery = streamDelivery(bid)), outDir, bid)
    }

  private def writePairs(pairs: DataFrame, outDir: String, bid: Long): Unit =
    pairs.filter(col("old_id") =!= col("new_id")) // id-contract-violation guard
      .write.mode("overwrite")
      .parquet(s"$outDir/pairs/batch_id=$bid")

  /** [[ingestBatchOnce]] for a precomputed-signature batch. */
  def ingestSignaturesBatchOnce(batch: DataFrame, idCol: String,
                                sigCol: String, maxDist: Int, ref: Ref,
                                outDir: String, bid: Long): Unit =
    graft.streaming.IngestLedger.once(batch.sparkSession, s"$outDir/_ledger", bid) {
      writePairs(ingestSignatures(batch, idCol, sigCol, maxDist, ref,
        delivery = streamDelivery(bid)), outDir, bid)
    }

  /** Maintain the index from a document STREAM: [[ingestBatchOnce]] per
    * micro-batch in [[IndexStore]]'s ledgered loop, so the pairs come from
    * the ONE batch definition and the corpus survives restarts on disk. */
  def startStreamingIngest(docs: DataFrame, idCol: String, textCol: String,
                           maxDist: Int, ref: Ref, outDir: String,
                           checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    IndexStore.streamIngest(docs, checkpoint)(
      ingestBatchOnce(_, idCol, textCol, maxDist, ref, outDir, _))

  /** [[startStreamingIngest]] over a (id, 64-bit signature) STREAM —
    * the deployment shape of ingest-time PERCEPTUAL dedup: an upstream
    * map (e.g. `binaryFile` readStream →
    * [[graft.sources.Images.dHash64KernelBinary]]) turns media bytes
    * into signatures partition-locally, and each micro-batch folds into
    * the persistent Hamming index exactly like the text face. */
  def startStreamingSignatureIngest(sigs: DataFrame, idCol: String,
                                    sigCol: String, maxDist: Int, ref: Ref,
                                    outDir: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    IndexStore.streamIngest(sigs, checkpoint)(
      ingestSignaturesBatchOnce(_, idCol, sigCol, maxDist, ref, outDir, _))
}
