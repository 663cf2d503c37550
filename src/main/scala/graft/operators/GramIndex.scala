package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Cross-RUN persistent ExactSubstr dedup index — the exact-substring
  * member of the persistent-index family ([[LshIndex]] near-dup,
  * [[IvfIndex]]/[[PqIndex]] ANN): the steady-state shape of
  * duplicated-substring removal over a corpus that arrives in deliveries,
  * where [[Dedup.exactSubstrRemove]] is the one-shot batch form
  * (Lee et al. 2022 ExactSubstr mode, via the dup-L-gram-window
  * reduction documented there).
  *
  * ONE catalog table persists the corpus fingerprints:
  *
  *  - `grams` (h, h2, cnt, delivery), bucketed on h — one row per distinct
  *    L-gram per ingest delivery, carrying the double 64-bit fingerprint
  *    ([[Dedup.charGramFingerprints]]), its occurrence count, and the
  *    delivery id that appended it. An arriving batch probes it with a
  *    bucketed join on h (ZERO exchange on the corpus side) and confirms
  *    on h2.
  *
  * Ingest semantics are the only CAUSAL cross-delivery form of
  * ExactSubstr: a batch character is excised iff its window matches
  * content an EARLIER delivery holds (the corpus keeps its copy —
  * already-delivered documents cannot be retro-edited) or content
  * duplicated WITHIN the batch (remove-all, the batch form's rule).
  * On an EMPTY index the first clause is vacuous, so `ingest` of a whole
  * corpus as one batch IS `exactSubstrRemove` (spec-pinned), making the
  * index the incremental refinement of the batch operator, not a
  * different rule.
  *
  * The index records content SEEN, not content kept: each delivery appends
  * its ORIGINAL text's gram counts, so a third delivery of boilerplate
  * removed from the second still dedups, and ingest stays one pass over
  * the batch (no re-hash of the cleaned text).
  *
  * REPLAY CONTRACT: [[IndexStore]]'s delivery self-exclusion. A
  * replay's duplicate rows are invisible to the existence-only rule and
  * cancelled EXACTLY by [[compact]] (max-per-delivery before the
  * cross-delivery sum).
  *
  * Storage: ~32 bytes per distinct (delivery, gram) pair before
  * [[compact]], which merges to one row per distinct corpus gram —
  * O(corpus characters) worst case, the same order as the published
  * suffix-array pipeline's SA (8 bytes/char PLUS the corpus it indexes),
  * with heavy shrink on natural corpora where grams repeat. The trade for
  * that footprint: per-delivery cost is O(batch + matches), never
  * O(corpus) — the re-dedup a pipeline without an index re-pays per
  * delivery.
  *
  * The table is EXTERNAL — [[attach]] re-registers the bucketing DDL
  * over the files in a fresh session/process. The single-writer lease,
  * the rename-aside swap with its recovery preamble, and the ledgered
  * stream replay are [[IndexStore]]'s; an index written before delivery
  * lineage migrates on the first write, its rows tagged
  * [[CompactedDelivery]] (their lineage is unknowable — exactly
  * compact's collapsed state).
  */
object GramIndex {

  /** Names + bucket count of one persistent index. `tag` must be unique
    * per (index, warehouse). */
  final case class Ref(tag: String, buckets: Int) {
    def gramsTable: String = s"graft_gramidx_grams_$tag"
  }

  /** Delivery tag [[compact]] rewrites merged rows under; user delivery
    * ids must not collide with it. */
  val CompactedDelivery = "_compacted"

  private def store(ref: Ref) = IndexStore.Layout("GramIndex", ref.tag,
    s"graft_gramidx_lease_${ref.tag}",
    Seq(IndexStore.Part(ref.gramsTable, Seq("h"))), ref.buckets,
    legacyDelivery = Some(CompactedDelivery))

  /** Remove a crashed writer's lingering lease ([[IndexStore]]). */
  def breakLease(spark: SparkSession, ref: Ref): Unit =
    IndexStore.breakLease(spark, store(ref))

  /** Destroy the index: catalog entry AND files (lease included). */
  def drop(spark: SparkSession, ref: Ref): Unit = IndexStore.drop(spark, store(ref))

  /** Re-register the on-disk index in a session whose catalog lacks it. */
  def attach(spark: SparkSession, ref: Ref): Unit = IndexStore.attach(spark, store(ref))

  /** Append a delivery's counts with the write's partitioning aligned to
    * the bucket spec (both are murmur3-hash partitioning on h): each task
    * then holds exactly one bucket and the delivery lands as ONE file per
    * bucket — without this, every shuffle-partition task writes a file
    * per bucket it touches (shuffle.partitions × buckets tiny files per
    * delivery) and every later delivery's probe pays the open cost for
    * all of them. */
  private def appendBucketed(df: DataFrame, ref: Ref): Unit = {
    val l = store(ref)
    IndexStore.appendBucketed(df.repartition(ref.buckets, col("h")), l, l.parts.head)
  }

  /** The (h, h2) keys of `keys` that `corpus` holds: joined on h ALONE —
    * the bucket column, so the corpus side reads pre-partitioned with zero
    * exchange — and h2 confirmed post-join as a difference (an (h, h2)
    * equi-join is not satisfied by the h-bucketing and would shuffle the
    * corpus). */
  private[operators] def corpusHits(corpus: DataFrame, keys: DataFrame): DataFrame =
    corpus.select(col("h"), col("h2").as("_ih2"))
      .join(keys, Seq("h"))
      .filter(col("_ih2") - col("h2") === 0L)
      .select("h", "h2").distinct()

  /** The batch as (_d, _t, _len) — per-character hashing is a delivery's
    * compute wall, so a single-split batch scan must not serialize it on
    * one core. */
  private def docFrame(batch: DataFrame, idCol: String, textCol: String): DataFrame =
    Partitioning.fanOutForCompute(batch.select(col(idCol).as("_d"),
      col(textCol).as("_t"), length(col(textCol)).cast("long").as("_len")), col("_d"))

  /** [[ingest]] under a fresh delivery id: no crashed-retry idempotence
    * (a fresh-id retry over-excises — [[recoverDelivery]] first). */
  def ingest(batch: DataFrame, idCol: String, textCol: String,
             minLen: Int, ref: Ref): DataFrame =
    ingest(batch, idCol, textCol, minLen, ref,
      delivery = java.util.UUID.randomUUID().toString)

  /** Ingest one delivery: return the batch CLEANED under the causal
    * cross-delivery ExactSubstr rule — (idCol, clean_text, n_spans,
    * n_removed), every batch doc present — then fold the batch's gram
    * counts into the index tagged with `delivery` (REPLAY CONTRACT in
    * the object doc); the duplicated-window
    * positions (the only index-dependent state) materialize BEFORE the
    * append so the common path never reads the index twice.
    *
    * Cost per delivery: one compiled hash pass over the batch, one
    * batch-sized count shuffle on 8-byte keys, one bucketed probe join
    * that reads the corpus pre-partitioned (only matching-bucket rows),
    * and the doc-keyed excision — O(batch + matches), no corpus scan.
    *
    * `batch` must be DETERMINISTIC: the returned frame is lazy, and the
    * caller's action recomputes `batch`'s lineage AFTER the append to
    * rebuild the text against the checkpointed window skeleton. A batch
    * whose rows or ids change between evaluations (an unordered `limit`,
    * `rand`, a source that moves under it) gets positions from one
    * evaluation cut out of the text of another — materialize such a batch
    * (e.g. `localCheckpoint()`) before ingesting it. */
  def ingest(batch: DataFrame, idCol: String, textCol: String,
             minLen: Int, ref: Ref, delivery: String): DataFrame = {
    require(minLen >= 2, s"minLen must be >= 2, got $minLen")
    IndexStore.requireDelivery(delivery, CompactedDelivery)
    val spark = batch.sparkSession
    IndexStore.withLease(spark, store(ref), "ingest") {
      val hasCorpus = IndexStore.hasContent(spark, store(ref))
      val docs = docFrame(batch, idCol, textCol)
      val grams = Dedup.charGramFingerprints(docs, minLen)
      // ONE (h, h2) count aggregate feeds all three consumers that each
      // used to shuffle the full gram set separately: the within-batch
      // dup filter (cnt >= 2), the corpus probe's distinct key set, and
      // the index append (the same counts, tagged with the delivery) —
      // three batch-sized 16-byte-key shuffles collapse to one.
      // EAGERLY cached (cache + count, not a lazy .cache() and not a
      // localCheckpoint): the probe/union/append consumers below execute
      // as CONCURRENT broadcast jobs, and a lazy cache lets each of them
      // race to compute the full gram pass first (measured: 3-5 redundant
      // corpus hash passes per delivery plus block-lock contention); a
      // localCheckpoint would drop the size statistics and demote every
      // dup-set join below from broadcast to a full sort-merge shuffle of
      // the gram set. grams itself is deliberately NOT cached: it is
      // consumed exactly twice (here and the skeleton semi-join), and a
      // second compiled hash pass costs less than writing
      // O(batch-positions) rows into the block store — and holds no
      // executor memory, which is what matters at corpus scale.
      val cnts = grams.groupBy(col("h"), col("h2"))
        .agg(count(lit(1)).as("cnt")).cache()
      cnts.count()
      // within-batch duplicates: remove-all, same as the batch operator
      val withinDup = cnts.filter(col("cnt") >= 2).select("h", "h2")
      // vs corpus: rows tagged with THIS delivery id are excluded — they
      // can only be a crashed earlier attempt of this same batch, not
      // earlier corpus content
      import spark.implicits._
      val corpusDup =
        if (!hasCorpus) Seq.empty[(Long, Long)].toDF("h", "h2")
        else corpusHits(spark.table(ref.gramsTable)
          .filter(col("delivery") =!= lit(delivery)), cnts.select("h", "h2"))
      // The duplicated-KEY set, eagerly cached so its true size reaches
      // the join planner: a lazy post-aggregate estimate defaults high
      // and demotes the semi-join below to a sort-merge that shuffles and
      // sorts the whole gram set — with exact stats Spark broadcasts it
      // when (and only when) it is genuinely small, which stays safe for
      // a pathological all-duplicate delivery at scale.
      val dupKeys = withinDup.unionByName(corpusDup).distinct().cache()
      dupKeys.count()
      // Materialize the (doc, pos) duplicated-window SKELETON — not the
      // rebuilt text. This is the only state whose value depends on the
      // index's pre-append content (the probe above), so checkpointing it
      // BEFORE the append preserves causality and the replay contract,
      // while the O(batch-characters) excision/rebuild stays lazy: the
      // caller's action computes it from the raw batch + this skeleton,
      // and consecutive deliveries' rebuilds can overlap in one job
      // instead of each paying a full cleaned-corpus materialization.
      val dupPos = grams
        .join(dupKeys, Seq("h", "h2"), "left_semi")
        .select(col("_d"), col("pos"))
        .localCheckpoint()
      dupKeys.unpersist()
      appendBucketed(cnts.withColumn("delivery", lit(delivery)), ref)
      cnts.unpersist()
      Dedup.excise(docs, dupPos, minLen, idCol)
    }
  }

  /** Sequential multi-delivery [[ingest]] collapsed to ONE barrier chain
    * (round-20; byte-identical to calling [[ingest]] once per batch in
    * order — spec-pinned differentially). The per-slice sequential form
    * paid, per delivery: a dup-key count job, a skeleton checkpoint job,
    * and a bucketed APPEND whose read-back the next slice's probe
    * depended on — 3 deliveries ≈ 38 jobs, and the wall was their
    * summed driver latency, not compute (guide §1/§2). The collapse
    * rests on one identity: slice k's probe state = the PRE-ingest
    * corpus table ∪ slices 0..k−1 of this very call — the table
    * read-back returns exactly the counts this call just appended. So:
    *  - every delivery's gram counts: ONE corpus pass + ONE
    *    (slice, h, h2) shuffle (counts are index-independent);
    *  - a key (h, h2) in slice k is duplicated iff cnt ≥ 2 (within-batch
    *    remove-all) OR the pre-ingest corpus holds it (probed ONCE for
    *    all slices, bucket-join on h, h2 confirmed post-join) OR an
    *    earlier slice holds it (min(_slice) window — the read-back
    *    replaced by arithmetic);
    *  - ONE (slice, doc, pos) skeleton checkpoint, ONE bucketed append
    *    carrying every delivery id (fewer files per bucket, same rows;
    *    the probe's own-delivery exclusion filter is gone because the
    *    fresh per-call UUIDs can never pre-exist in the table).
    * Crash contract unchanged from the UUID [[ingest]] overload: a
    * crashed call's landed rows wear unknown ids and count as corpus on
    * retry — recoverDelivery first. Returns one cleaned frame per batch,
    * in order; like [[ingest]]'s, each is lazy and recomputes its batch's
    * lineage after the append, so every batch must be deterministic. */
  def ingestSlices(batches: Seq[DataFrame], idCol: String, textCol: String,
                   minLen: Int, ref: Ref): Seq[DataFrame] = {
    require(minLen >= 2, s"minLen must be >= 2, got $minLen")
    if (batches.isEmpty) return Seq.empty
    val spark = batches.head.sparkSession
    val l = store(ref)
    IndexStore.withLease(spark, l, "ingest") {
      val hasCorpus0 = IndexStore.hasContent(spark, l)
      val docsBySlice = batches.map(docFrame(_, idCol, textCol))
      val allDocs = docsBySlice.zipWithIndex.map { case (d, k) =>
        d.withColumn("_slice", lit(k)) }.reduce(_ unionByName _)
      // eagerly cached (see ingest's cnts comment: eager blocks the
      // concurrent-broadcast recompute race, cache keeps the size stats
      // the dup-set broadcast decisions depend on; A/B'd uncached in
      // round 20 — three consumers recomputing the gram pass cost more
      // than the one cache write)
      val cntsAll = Dedup.charGramFingerprints(allDocs, minLen,
          carryCols = Seq("_slice"))
        .groupBy(col("_slice"), col("h"), col("h2"))
        .agg(count(lit(1)).as("cnt")).cache()
      IndexStore.labeled(spark, l.label("ingest: all-slice gram counts")) {
        cntsAll.count()
      }
      // pre-ingest corpus probe, ONCE for every slice
      val withFirst = cntsAll.withColumn("_first", min(col("_slice")).over(
        org.apache.spark.sql.expressions.Window.partitionBy("h", "h2")))
      val dupSliced =
        if (!hasCorpus0)
          withFirst.filter(col("cnt") >= 2 || col("_slice") > col("_first"))
        else {
          val corpusKeys = corpusHits(spark.table(ref.gramsTable),
            cntsAll.select("h", "h2").distinct())
          withFirst
            .join(corpusKeys.withColumn("_chit", lit(1)), Seq("h", "h2"), "left")
            .filter(col("cnt") >= 2 || col("_slice") > col("_first") ||
              col("_chit").isNotNull)
        }
      // eager dup-key cache: same stats-for-the-planner move as ingest
      val dupKeysAll = dupSliced.select(col("_slice"), col("h"), col("h2")).cache()
      IndexStore.labeled(spark, l.label("ingest: dup keys (one probe, all slices)")) {
        dupKeysAll.count()
      }
      val dupPosAll = IndexStore.labeled(spark, l.label("ingest: dup-pos skeleton")) {
        Dedup.charGramFingerprints(allDocs, minLen, carryCols = Seq("_slice"))
          .join(dupKeysAll, Seq("_slice", "h", "h2"), "left_semi")
          .select(col("_slice"), col("_d"), col("pos"))
          .localCheckpoint()
      }
      dupKeysAll.unpersist()
      val deliveries = batches.map(_ => java.util.UUID.randomUUID().toString)
      IndexStore.labeled(spark, l.label("ingest: append (one write, all deliveries)")) {
        appendBucketed(cntsAll
          .withColumn("delivery", element_at(
            array(deliveries.map(lit): _*), col("_slice").cast("int") + 1))
          .select("h", "h2", "cnt", "delivery"), ref)
      }
      cntsAll.unpersist()
      docsBySlice.zipWithIndex.map { case (docs, k) =>
        Dedup.excise(docs,
          dupPosAll.filter(col("_slice") === k).select("_d", "pos"),
          minLen, idCol)
      }
    }
  }

  /** Read-only form of the dedup rule — clean `batch` against the index
    * WITHOUT folding it in (audits, what-if runs; no lease needed, the
    * bucketed read is snapshot-consistent per job). Within-batch
    * duplicates still apply: the rule is the same, only the append is
    * withheld. */
  def dedupAgainst(batch: DataFrame, idCol: String, textCol: String,
                   minLen: Int, ref: Ref): DataFrame = {
    val spark = batch.sparkSession
    attach(spark, ref)
    val docs = docFrame(batch, idCol, textCol)
    val grams = Dedup.charGramFingerprints(docs, minLen)
    val withinDup = grams.groupBy(col("h"), col("h2"))
      .agg(count(lit(1)).as("_c")).filter(col("_c") >= 2).select("h", "h2")
    val corpusDup = corpusHits(spark.table(ref.gramsTable),
      grams.select("h", "h2").distinct())
    val dupPos = grams
      .join(withinDup.unionByName(corpusDup).distinct(), Seq("h", "h2"), "left_semi")
      .select(col("_d"), col("pos"))
    Dedup.excise(docs, dupPos, minLen, idCol)
  }

  /** Compact: merge to ONE row per distinct corpus gram and one file per
    * bucket (every ingest appends a file per bucket; a long-lived index
    * accumulates deliveries × buckets files AND repeats gram rows across
    * deliveries). A replayed delivery's duplicate rows carry identical
    * (h, h2, cnt, delivery) values, so the per-delivery `max` cancels
    * them EXACTLY before the cross-delivery sum — compaction restores
    * exact occurrence counts after any number of replays. Merged rows are
    * re-tagged [[CompactedDelivery]], collapsing delivery lineage: do NOT
    * compact while a delivery is in doubt (a crashed, not-yet-retried
    * ingest — its retry could no longer self-exclude); retry or
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

  /** [[IndexStore.retractDelivery]]: after it, a fresh ingest of the
    * same content under ANY id behaves as if the crashed attempt never
    * ran. A no-op for ids [[compact]] collapsed (lineage is gone). */
  def recoverDelivery(spark: SparkSession, ref: Ref, delivery: String): Unit =
    IndexStore.retractDelivery(spark, store(ref), delivery, CompactedDelivery,
      "compaction collapsed lineage")

  /** One ledgered micro-batch of [[startStreamingIngest]], exposed for
    * planted replay tests: [[ingest]] under the batch-derived delivery
    * id, clean output OVERWRITTEN per batch — a re-execution is
    * byte-identical (an already-appended gram set self-excludes). */
  def ingestBatchOnce(batch: DataFrame, idCol: String, textCol: String,
                      minLen: Int, ref: Ref, outDir: String, bid: Long): Unit =
    graft.streaming.IngestLedger.once(batch.sparkSession, s"$outDir/_ledger", bid) {
      ingest(batch, idCol, textCol, minLen, ref, delivery = streamDelivery(bid))
        .write.mode("overwrite")
        .parquet(s"$outDir/clean/batch_id=$bid")
    }

  /** The stable delivery id a stream's micro-batch `bid` ingests under. */
  def streamDelivery(bid: Long): String = s"stream:$bid"

  /** Maintain the index from a document STREAM: [[ingestBatchOnce]] per
    * micro-batch in [[IndexStore]]'s ledgered loop, cleaned docs under
    * `outDir/clean/batch_id=<id>`. An unledgered replay leaves only
    * duplicate index rows for its delivery — invisible to the
    * existence-only rule and cancelled exactly by [[compact]]. */
  def startStreamingIngest(docs: DataFrame, idCol: String, textCol: String,
                           minLen: Int, ref: Ref, outDir: String,
                           checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    IndexStore.streamIngest(docs, checkpoint)(
      ingestBatchOnce(_, idCol, textCol, minLen, ref, outDir, _))
}
