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
  * REPLAY CONTRACT (the retry story for a crashed ingest): every append
  * is tagged with the delivery id, and the corpus probe EXCLUDES the
  * current delivery's own rows. A retried `ingest` with the SAME delivery
  * id therefore produces byte-identical output even when the first
  * attempt's append already landed (fully or torn) — the batch can never
  * see its own grams as corpus content. The only residue of a replay is a
  * duplicate set of rows for that delivery, which is invisible to the
  * dedup rule (existence-only) and cancelled EXACTLY by [[compact]]
  * (max-per-delivery before the cross-delivery sum) or retracted by
  * [[recoverDelivery]]. Delivery ids must be stable across retries and
  * unique across deliveries; re-using an OLD delivery's id for NEW
  * content would wrongly self-exclude that old content.
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
  * Single-writer, enforced on storage: ingest/compact take the same
  * atomic create-if-absent lease as the rest of the family (HDFS/local
  * semantics; see [[LshIndex]] for the object-store caveat). The table
  * is EXTERNAL — [[attach]] re-registers the bucketing DDL over the
  * files in a fresh session/process; ingest auto-attaches (and recovers a
  * crashed compact's rename-aside state) so an on-disk index is never
  * silently treated as empty.
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

  private def location(spark: SparkSession, table: String): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(spark.conf.get("spark.sql.warehouse.dir"), table)
  private def hfs(spark: SparkSession, p: org.apache.hadoop.fs.Path)
      : org.apache.hadoop.fs.FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)
  private def leaseLoc(spark: SparkSession, ref: Ref): org.apache.hadoop.fs.Path =
    location(spark, s"graft_gramidx_lease_${ref.tag}")

  /** Run `body` under a Spark job description (guide §1: label your jobs)
    * so UI/listener evidence attributes each ingest phase; restores the
    * caller's description after. */
  private def labeled[T](spark: SparkSession, desc: String)(body: => T): T = {
    val sc = spark.sparkContext
    val old = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(desc)
    try body finally sc.setJobDescription(old)
  }

  private def withLease[T](spark: SparkSession, ref: Ref, who: String)(body: => T): T = {
    val p = leaseLoc(spark, ref)
    val f = hfs(spark, p)
    val out = try f.create(p, false) catch {
      case _: java.io.IOException =>
        val holder = try {
          val in = f.open(p)
          try new String(org.apache.commons.io.IOUtils.toByteArray(in),
            java.nio.charset.StandardCharsets.UTF_8)
          finally in.close()
        } catch { case _: java.io.IOException => "<unreadable>" }
        throw new IllegalStateException(
          s"index '${ref.tag}' is write-leased by '$holder' — concurrent " +
            s"ingest/compact is a data-loss race; if the holder crashed, " +
            s"GramIndex.breakLease after confirming it is dead")
    }
    try {
      out.write(who.getBytes(java.nio.charset.StandardCharsets.UTF_8)); out.close()
      body
    } finally { f.delete(p, false); () }
  }

  /** Remove a crashed writer's lingering lease. ONLY safe once the
    * operator has confirmed no ingest/compact is live. */
  def breakLease(spark: SparkSession, ref: Ref): Unit = {
    val p = leaseLoc(spark, ref)
    hfs(spark, p).delete(p, false); ()
  }

  /** Destroy the index: catalog entry AND files (lease included). */
  def drop(spark: SparkSession, ref: Ref): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS ${ref.gramsTable}")
    val loc = location(spark, ref.gramsTable)
    hfs(spark, loc).delete(loc, true)
    breakLease(spark, ref)
  }

  private def register(spark: SparkSession, ref: Ref,
                       knownSchema: Option[String] = None): Unit = {
    val loc = location(spark, ref.gramsTable)
    require(hfs(spark, loc).exists(loc), s"no index files at $loc — nothing to attach")
    val schema = knownSchema.getOrElse(spark.read.parquet(loc.toString).schema.toDDL)
    spark.sql(s"""CREATE TABLE ${ref.gramsTable} ($schema) USING parquet
      CLUSTERED BY (h) SORTED BY (h) INTO ${ref.buckets} BUCKETS
      LOCATION '${loc.toString}'""")
  }

  /** Re-register an existing on-disk index in a session whose catalog
    * does not know it — the files alone carry the data. */
  def attach(spark: SparkSession, ref: Ref): Unit =
    if (!spark.catalog.tableExists(ref.gramsTable)) register(spark, ref)

  /** Writer-side preamble: finish a crashed [[compact]]'s rename-aside
    * swap if one is pending, then register an on-disk index the session
    * catalog does not know. Returns whether index content exists — false
    * only for a genuinely brand-new index. Without this, a fresh process
    * that forgot [[attach]] would silently dedup against an EMPTY corpus. */
  private def attachForWrite(spark: SparkSession, ref: Ref): Boolean = {
    val loc = location(spark, ref.gramsTable)
    val oldLoc = location(spark, s"${ref.gramsTable}_old")
    val f = hfs(spark, loc)
    if (!f.exists(loc) && f.exists(oldLoc)) LshIndex.mustRename(f, oldLoc, loc)
    val has =
      if (spark.catalog.tableExists(ref.gramsTable)) true
      else if (f.exists(loc)) { register(spark, ref); true }
      else false
    if (has && !spark.table(ref.gramsTable).columns.contains("delivery")) {
      // pre-delivery-lineage index (round-12 schema (h, h2, cnt)): without
      // this, the first ingest's `delivery` filter dies with an opaque
      // unresolved-column error and an append would schema-mismatch.
      // Migrate in place through the crash-durable rewrite, tagging legacy
      // rows [[CompactedDelivery]] — their delivery lineage is unknowable,
      // exactly compact's collapsed state (so recoverDelivery of a
      // pre-migration delivery is the documented no-op).
      rewriteTable(spark, ref)(_.withColumn("delivery", lit(CompactedDelivery)))
    }
    has
  }

  private def appendBucketed(df: DataFrame, ref: Ref): Unit = {
    val spark = df.sparkSession
    // align the write's partitioning with the bucket spec (both are
    // murmur3-hash partitioning on h): each task then holds exactly one
    // bucket and the delivery lands as ONE file per bucket — without
    // this, every shuffle-partition task writes a file per bucket it
    // touches (shuffle.partitions × buckets tiny files per delivery) and
    // every later delivery's probe pays the open cost for all of them
    val w = df.repartition(ref.buckets, col("h"))
      .write.mode("append").format("parquet")
      .bucketBy(ref.buckets, "h").sortBy("h")
    if (spark.catalog.tableExists(ref.gramsTable)) w.saveAsTable(ref.gramsTable)
    else w.option("path", location(spark, ref.gramsTable).toString)
      .saveAsTable(ref.gramsTable)
  }

  /** [[ingest]] with a generated unique-per-call delivery id — for
    * callers who do not need the crashed-retry idempotence (a retry MUST
    * re-use the first attempt's id to self-exclude; with a fresh id the
    * crashed attempt's grams look like an earlier delivery and the retry
    * over-excises — use [[recoverDelivery]] first in that case). */
  def ingest(batch: DataFrame, idCol: String, textCol: String,
             minLen: Int, ref: Ref): DataFrame =
    ingest(batch, idCol, textCol, minLen, ref,
      delivery = java.util.UUID.randomUUID().toString)

  /** Ingest one delivery: return the batch CLEANED under the causal
    * cross-delivery ExactSubstr rule — (idCol, clean_text, n_spans,
    * n_removed), every batch doc present — then fold the batch's gram
    * counts into the index tagged with `delivery`. The corpus probe
    * excludes `delivery`'s own rows, so a retried ingest with the same id
    * is byte-idempotent even if the first attempt's append landed (see
    * the REPLAY CONTRACT in the object doc); the duplicated-window
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
    require(delivery.nonEmpty && delivery != CompactedDelivery,
      s"delivery id must be non-empty and not '$CompactedDelivery'")
    val spark = batch.sparkSession
    withLease(spark, ref, "ingest") {
      val hasCorpus = attachForWrite(spark, ref)
      // per-character hashing below is the delivery's compute wall; a
      // single-split batch scan must not serialize it on one core
      val docs = Partitioning.fanOutForCompute(
        batch.select(col(idCol).as("_d"), col(textCol).as("_t"),
          length(col(textCol)).cast("long").as("_len")), col("_d"))
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
      // vs corpus: the probe joins on h ALONE — the bucket column, so the
      // corpus side reads pre-partitioned with zero exchange — and h2
      // confirms post-join (a join on (h, h2) would not be satisfied by
      // the h-bucketing and would shuffle the corpus). Rows tagged with
      // THIS delivery id are excluded: they can only be a crashed earlier
      // attempt of this same batch, not earlier corpus content.
      import spark.implicits._
      val corpusDup =
        if (!hasCorpus) Seq.empty[(Long, Long)].toDF("h", "h2")
        else spark.table(ref.gramsTable)
          .filter(col("delivery") =!= lit(delivery))
          .select(col("h"), col("h2").as("_ih2"))
          .join(cnts.select("h", "h2"), Seq("h"))
          .filter(col("_ih2") - col("h2") === 0L)
          .select("h", "h2").distinct()
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
    withLease(spark, ref, "ingest") {
      val hasCorpus0 = attachForWrite(spark, ref)
      val docsBySlice = batches.map { b =>
        Partitioning.fanOutForCompute(
          b.select(col(idCol).as("_d"), col(textCol).as("_t"),
            length(col(textCol)).cast("long").as("_len")), col("_d"))
      }
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
      labeled(spark, "gramidx: all-slice gram counts") { cntsAll.count() }
      // pre-ingest corpus probe, ONCE for every slice: join on h alone
      // (the bucket column — corpus side reads pre-partitioned, zero
      // exchange), h2 confirmed post-join
      val withFirst = cntsAll.withColumn("_first", min(col("_slice")).over(
        org.apache.spark.sql.expressions.Window.partitionBy("h", "h2")))
      val dupSliced =
        if (!hasCorpus0)
          withFirst.filter(col("cnt") >= 2 || col("_slice") > col("_first"))
        else {
          val corpusKeys = spark.table(ref.gramsTable)
            .select(col("h"), col("h2").as("_ih2"))
            .join(cntsAll.select("h", "h2").distinct(), Seq("h"))
            .filter(col("_ih2") - col("h2") === 0L)
            .select("h", "h2").distinct()
          withFirst
            .join(corpusKeys.withColumn("_chit", lit(1)), Seq("h", "h2"), "left")
            .filter(col("cnt") >= 2 || col("_slice") > col("_first") ||
              col("_chit").isNotNull)
        }
      // eager dup-key cache: same stats-for-the-planner move as ingest
      val dupKeysAll = dupSliced.select(col("_slice"), col("h"), col("h2")).cache()
      labeled(spark, "gramidx: dup keys (one probe, all slices)") {
        dupKeysAll.count()
      }
      val dupPosAll = labeled(spark, "gramidx: dup-pos skeleton (all slices)") {
        Dedup.charGramFingerprints(allDocs, minLen, carryCols = Seq("_slice"))
          .join(dupKeysAll, Seq("_slice", "h", "h2"), "left_semi")
          .select(col("_slice"), col("_d"), col("pos"))
          .localCheckpoint()
      }
      dupKeysAll.unpersist()
      val deliveries = batches.map(_ => java.util.UUID.randomUUID().toString)
      labeled(spark, "gramidx: append (one write, all deliveries)") {
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
    val docs = Partitioning.fanOutForCompute(
      batch.select(col(idCol).as("_d"), col(textCol).as("_t"),
        length(col(textCol)).cast("long").as("_len")), col("_d"))
    val grams = Dedup.charGramFingerprints(docs, minLen)
    val withinDup = grams.groupBy(col("h"), col("h2"))
      .agg(count(lit(1)).as("_c")).filter(col("_c") >= 2).select("h", "h2")
    val corpusDup = spark.table(ref.gramsTable)
      .select(col("h"), col("h2").as("_ih2"))
      .join(grams.select("h", "h2").distinct(), Seq("h"))
      .filter(col("_ih2") - col("h2") === 0L)
      .select("h", "h2").distinct()
    val dupPos = grams
      .join(withinDup.unionByName(corpusDup).distinct(), Seq("h", "h2"), "left_semi")
      .select(col("_d"), col("pos"))
    Dedup.excise(docs, dupPos, minLen, idCol)
  }

  /** Rewrite the live table through the family's crash-durable
    * rename-aside swap: the transformed copy lands as a `_compacting`
    * sibling before the live table is touched, live files rename ASIDE
    * (never deleted before the replacement is in), and a re-run performs
    * recovery in its preamble. */
  private def rewriteTable(spark: SparkSession, ref: Ref)
                          (transform: DataFrame => DataFrame): Unit = {
    val tbl = ref.gramsTable
    val tmp = s"${tbl}_compacting"
    val tmpLoc = location(spark, tmp)
    val loc = location(spark, tbl)
    val oldLoc = location(spark, s"${tbl}_old")
    val f = hfs(spark, tmpLoc)
    if (!f.exists(loc) && f.exists(oldLoc)) LshIndex.mustRename(f, oldLoc, loc)
    if (!spark.catalog.tableExists(tbl)) register(spark, ref)
    spark.sql(s"DROP TABLE IF EXISTS $tmp")
    f.delete(tmpLoc, true)
    // localCheckpoint breaks the scan's logical bucketing so the
    // repartition genuinely shuffles (see LshIndex.compactOne)
    val newRows = transform(spark.table(tbl).localCheckpoint(true))
      .repartition(ref.buckets, col("h"))
    // re-register under the TRANSFORMED schema — a schema-changing
    // transform (the legacy-index migration) must not re-attach the files
    // under the pre-transform DDL
    val schemaDdl = newRows.schema.toDDL
    val w = newRows.write.mode("append").format("parquet")
      .bucketBy(ref.buckets, "h").sortBy("h")
    w.option("path", tmpLoc.toString).saveAsTable(tmp)
    spark.sql(s"DROP TABLE $tbl")
    spark.sql(s"DROP TABLE $tmp") // catalog entry only; files stay
    f.delete(oldLoc, true)
    LshIndex.mustRename(f, loc, oldLoc)
    LshIndex.mustRename(f, tmpLoc, loc)
    register(spark, ref, Some(schemaDdl))
    f.delete(oldLoc, true); ()
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
    withLease(spark, ref, "compact") {
      require(attachForWrite(spark, ref), s"no index files for '${ref.tag}' — nothing to compact")
      rewriteTable(spark, ref) { t =>
        t.groupBy(col("h"), col("h2"), col("delivery"))
          .agg(max(col("cnt")).as("cnt"))
          .groupBy(col("h"), col("h2")).agg(sum(col("cnt")).as("cnt"))
          .withColumn("delivery", lit(CompactedDelivery))
      }
    }

  /** Retract one delivery's rows from the index — the mechanical recovery
    * for a crashed batch ingest whose retry cannot re-use the original
    * delivery id (or whose content should not land at all). After it, a
    * fresh ingest of the same content under ANY id behaves as if the
    * crashed attempt never ran. No-op for ids already collapsed by
    * [[compact]] (lineage is gone — see compact's contract). */
  def recoverDelivery(spark: SparkSession, ref: Ref, delivery: String): Unit =
    withLease(spark, ref, "recoverDelivery") {
      require(delivery != CompactedDelivery,
        s"cannot retract '$CompactedDelivery' — compaction collapsed lineage")
      if (attachForWrite(spark, ref))
        rewriteTable(spark, ref)(_.filter(col("delivery") =!= lit(delivery)))
    }

  /** One micro-batch of [[startStreamingIngest]], exposed for planted
    * replay tests: the idempotent unit a restarted stream re-executes.
    * Ledger check → [[ingest]] under the batch-derived delivery id →
    * per-batch clean-output OVERWRITE → ledger append. Crash anywhere
    * and the re-execution is byte-identical: an already-appended gram set
    * is self-excluded by the delivery id, the clean output overwrites,
    * and only then does the ledger mark the batch done. */
  def ingestBatchOnce(batch: DataFrame, idCol: String, textCol: String,
                      minLen: Int, ref: Ref, outDir: String, bid: Long): Unit = {
    val spark = batch.sparkSession
    val ledger = s"$outDir/_ledger"
    if (!graft.streaming.IngestLedger.isDone(spark, ledger, bid)) {
      ingest(batch, idCol, textCol, minLen, ref, delivery = streamDelivery(bid))
        .write.mode("overwrite")
        .parquet(s"$outDir/clean/batch_id=$bid")
      graft.streaming.IngestLedger.markDone(spark, ledger, bid)
    }
  }

  /** The stable delivery id a stream's micro-batch `bid` ingests under —
    * what makes a replayed batch self-exclude. Batch callers of [[ingest]]
    * sharing the index must avoid the `stream:` prefix. */
  def streamDelivery(bid: Long): String = s"stream:$bid"

  /** Maintain the index from a document STREAM: each micro-batch runs
    * [[ingestBatchOnce]] inside foreachBatch — cleaned docs land in
    * `outDir/clean/batch_id=<id>` with per-batch OVERWRITE and a
    * `_ledger` records completed batch ids
    * (watermark-compacted, [[graft.streaming.IngestLedger]] — O(1)
    * per-commit listing in stream age), so a replayed,
    * already-ledgered batch is skipped whole. An UNLEDGERED replay
    * (crash anywhere between the gram append and the ledger write)
    * re-ingests under the batch's stable delivery id: the probe
    * self-excludes the crashed attempt's rows, so the replayed cleaning
    * is byte-identical to an uncrashed run, the clean output overwrites,
    * and the only residue is duplicate index rows for that delivery —
    * invisible to the existence-only rule and cancelled exactly by
    * [[compact]]. */
  def startStreamingIngest(docs: DataFrame, idCol: String, textCol: String,
                           minLen: Int, ref: Ref, outDir: String,
                           checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], bid: Long) =>
        ingestBatchOnce(batch.toDF(), idCol, textCol, minLen, ref, outDir, bid)
      }
      .start()
}
