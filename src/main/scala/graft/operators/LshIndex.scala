package graft.operators

import graft.functions.Hashes
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Cross-RUN persistent MinHash/LSH near-duplicate index — the steady-state
  * shape of a dedup-at-ingest service over a growing 100-TB corpus
  * (reference: the corpus-side role of SURVEY §2 LLM-pipeline near-dedup;
  * the in-session twin is [[Dedup.minhashNewVsCorpus]], the in-stream twin
  * the keyed claim index in streaming/StreamingDedup.scala).
  *
  * Three catalog tables persist the corpus artifacts, each BUCKETED on its
  * join key so every ingest touches the corpus with ZERO exchange on the
  * corpus side:
  *
  *  - `banded`  (doc, band, bucket), bucketed (band, bucket) — candidate
  *    generation: the batch's band buckets shuffle into the index's
  *    bucketing; the index itself is read pre-partitioned.
  *  - `sigs`    (doc, sig), bucketed (doc) — signature-agreement pre-filter
  *    lookups for the corpus side of a candidate pair.
  *  - `sh`      (doc, shs), bucketed (doc) — exact-Jaccard verification
  *    lookups (the one verify formula, [[Dedup.verifyJaccard]]).
  *
  * Each [[ingest]] batch pays O(|batch| + collisions): within-batch pairs
  * via self-banding (batch-side lookups broadcast — a batch is small),
  * batch-vs-corpus pairs via the bucketed index join (only the candidate
  * set shuffles), then the batch's own artifacts are APPENDED into the
  * three tables — bucketed appends add one file per bucket, never rewrite
  * the corpus. Corpus hashing is paid exactly once, at the batch's own
  * ingest.
  *
  * The tables are EXTERNAL (explicit warehouse location): dropping the
  * catalog entry keeps the files, and [[attach]] re-registers them in a
  * fresh session/process from the directory alone — restarts and other
  * jobs (the streaming ingest wrapper, offline audits) see the same index.
  * The write lease, the rename-aside swap with its recovery, and the
  * ledgered stream replay are [[IndexStore]]'s; tables written before
  * delivery lineage migrate on the first write, their rows tagged
  * [[LegacyDelivery]].
  * Doc ids must be unique across the index's lifetime (re-ingesting an id
  * would propose self-pairs); dedup services key docs by content hash or a
  * monotonically assigned ingest id, both of which satisfy this.
  */
object LshIndex {

  /** Names + bucket count of one persistent index. `tag` must be unique
    * per (index, warehouse) — collide and [[drop]] destroys both. */
  final case class Ref(tag: String, buckets: Int) {
    def bandedTable: String = s"graft_lshidx_banded_$tag"
    def sigsTable: String = s"graft_lshidx_sigs_$tag"
    def shTable: String = s"graft_lshidx_sh_$tag"
    /** (table, bucket columns) triples — bucketing IS the contract. */
    def layout: Seq[(String, Seq[String])] = Seq(
      bandedTable -> Seq("band", "bucket"),
      sigsTable -> Seq("doc"),
      shTable -> Seq("doc"))
  }

  private def store(ref: Ref) = IndexStore.Layout("LshIndex", ref.tag,
    s"graft_lshidx_lease_${ref.tag}",
    ref.layout.map { case (t, cols) => IndexStore.Part(t, cols) }, ref.buckets,
    legacyDelivery = Some(LegacyDelivery))

  /** Remove a crashed writer's lingering lease ([[IndexStore]]). */
  def breakLease(spark: SparkSession, ref: Ref): Unit =
    IndexStore.breakLease(spark, store(ref))

  /** Destroy the index: catalog entries AND files (lease included). */
  def drop(spark: SparkSession, ref: Ref): Unit = IndexStore.drop(spark, store(ref))

  /** Re-assert the bucketing DDL over the on-disk files in a session
    * whose catalog lacks them, so bucketed reads survive restarts. */
  def attach(spark: SparkSession, ref: Ref): Unit = IndexStore.attach(spark, store(ref))

  /** Delivery tag the legacy-schema migration rewrites pre-round-13 rows
    * under; user delivery ids must not collide with it. */
  val LegacyDelivery = "_legacy"

  /** Integrity check for the one inconsistency [[ingest]]'s crash window
    * can leave: the three artifact appends are independent (concurrent)
    * jobs, so a writer that dies mid-batch can land a doc's rows in SOME
    * of banded/sigs/sh but not all — candidate generation then sees docs
    * whose signatures/shingles are missing (silently absent from
    * verification), or vice versa. Returns the DELTA, one row per
    * inconsistent doc: (doc, present) where `present` names the tables
    * (of "banded"/"sigs"/"sh") that hold it — empty result = consistent.
    *
    * Cost: one full scan + distinct per table (a maintenance-window op
    * like [[compact]], not an ingest-path one; sigs/sh distinct on doc is
    * bucket-local, banded's crosses buckets).
    *
    * REPAIR PATH: [[repairTorn]] — rewrites each table minus the
    * orphans (rows can't be deleted from parquet in place), after which
    * the orphaned docs re-[[ingest]] whole under their SAME ids (their
    * pairs were never returned, and the id-uniqueness rule forbids only
    * ids whose artifacts are fully live). */
  def fsck(spark: SparkSession, ref: Ref): DataFrame = {
    attach(spark, ref)
    Seq(ref.bandedTable -> "banded", ref.sigsTable -> "sigs",
        ref.shTable -> "sh")
      .map { case (tbl, tag) =>
        spark.table(tbl).select(col("doc")).distinct()
          .withColumn("tbl", lit(tag)) }
      .reduce(_ unionByName _)
      .groupBy("doc").agg(sort_array(collect_set(col("tbl"))).as("present"))
      .filter(size(col("present")) < 3)
  }

  /** The [[fsck]] repair path, executable: rewrites each table MINUS the
    * orphaned docs' partial artifacts (a compact-style bucketed rewrite
    * per table — same rename-aside swap, under the write lease), leaving
    * the doc sets equal again. Returns the purged orphan count. The
    * orphaned docs can then be re-[[ingest]]ed whole under their SAME
    * ids: their pairs were never returned (the batch died before its
    * ingest completed), and the id-uniqueness rule only forbids ids
    * whose artifacts are fully live. */
  def repairTorn(spark: SparkSession, ref: Ref): Long =
    IndexStore.withLease(spark, store(ref), "repair") {
      val orphans = fsck(spark, ref).select(col("doc")).localCheckpoint(true)
      val n = orphans.count()
      if (n > 0) IndexStore.rewriteTables(spark, store(ref))(
        _.join(broadcast(orphans), Seq("doc"), "left_anti"))
      n
    }

  /** [[fsck]] as an assertion: throws naming (a sample of) the
    * inconsistent docs and where each was found. */
  def verifyConsistent(spark: SparkSession, ref: Ref): Unit = {
    val bad = fsck(spark, ref).limit(20).collect()
    if (bad.nonEmpty) {
      val detail = bad.map(r => s"${r.get(0)} in " +
        r.getSeq[String](1).mkString("{", ",", "}")).mkString("; ")
      throw new IllegalStateException(
        s"index '${ref.tag}' has ${bad.length}+ docs with partial " +
          s"artifacts (a crashed ingest's torn append): $detail — see " +
          s"LshIndex.fsck for the repair path")
    }
  }

  /** [[ingest]] under a fresh delivery id: no crashed-retry idempotence
    * (a fresh-id retry reports every batch doc as a duplicate of itself
    * — [[recoverDelivery]] first). */
  def ingest(batch: DataFrame, idCol: String, textCol: String,
             n: Int, k: Int, bands: Int, threshold: Double, ref: Ref): DataFrame =
    ingest(batch, idCol, textCol, n, k, bands, threshold, ref,
      delivery = java.util.UUID.randomUUID().toString)

  /** Ingest one batch: return every confirmed near-dup pair the batch
    * introduces — (old_id, new_id, jaccard) with `old_id` already indexed,
    * or the lower id for a within-batch pair — then fold the batch into
    * the index tagged with `delivery`. Identical candidate recall and
    * verification (signature agreement pre-filter + exact hashed-shingle
    * Jaccard) to the batch family in [[Dedup]]; results are materialized
    * BEFORE the append so a batch never proposes pairs against itself
    * through the index.
    *
    * REPLAY CONTRACT: [[IndexStore]]'s delivery self-exclusion; a
    * replay's duplicate artifact rows are invisible to results (candidate
    * `distinct()` + per-doc verification are set-semantics). */
  def ingest(batch: DataFrame, idCol: String, textCol: String,
             n: Int, k: Int, bands: Int, threshold: Double, ref: Ref,
             delivery: String): DataFrame =
    ingestImpl(batch, idCol, textCol, None, n, k, bands, threshold, ref, delivery)

  /** [[ingestScoped]] with a generated unique-per-call delivery id (same
    * retry caveat as the unscoped convenience overload). */
  def ingestScoped(batch: DataFrame, idCol: String, textCol: String,
                   scopeCol: String, n: Int, k: Int, bands: Int,
                   threshold: Double, ref: Ref): DataFrame =
    ingestScoped(batch, idCol, textCol, scopeCol, n, k, bands, threshold, ref,
      delivery = java.util.UUID.randomUUID().toString)

  /** SCOPED [[ingest]] — the persistent-index face of the FineWeb
    * per-dump discipline ([[Dedup.minhashDupPairsScoped]]'s deployment
    * shape): pairs are reported only between docs whose `scopeCol`
    * values are EQUAL, so each scope (crawl snapshot, dump, tenant)
    * dedups against its own history and never against another's.
    *
    * The scope rides the banding the same way the batch operator's
    * does — folded into the 64-bit bucket HASH — so the three corpus
    * tables keep their exact (band, bucket) / (doc) bucketing and every
    * corpus probe stays exchange-free; the `scope` column itself is
    * carried through sigs/sh and enforced as an EQUALITY FILTER on the
    * candidate-sized frames after the per-doc signature lookups (a
    * cross-scope 64-bit bucket collision is killed there, and the
    * filter never widens a corpus join key). Within one index, every
    * ingest must be scoped (or every one unscoped) — mixing is refused
    * at attach time, because unscoped rows carry no scope to compare.
    *
    * Output: (old_id, new_id, scope, jaccard) — orientation and the
    * replay/lease/fsck contracts identical to [[ingest]]. */
  def ingestScoped(batch: DataFrame, idCol: String, textCol: String,
                   scopeCol: String, n: Int, k: Int, bands: Int,
                   threshold: Double, ref: Ref, delivery: String): DataFrame =
    ingestImpl(batch, idCol, textCol, Some(scopeCol), n, k, bands, threshold,
      ref, delivery)

  private def ingestImpl(batch: DataFrame, idCol: String, textCol: String,
                         scopeCol: Option[String], n: Int, k: Int, bands: Int,
                         threshold: Double, ref: Ref,
                         delivery: String): DataFrame = {
    require(k % bands == 0, s"k=$k must divide into bands=$bands")
    IndexStore.requireDelivery(delivery, LegacyDelivery)
    val r = k / bands
    val spark = batch.sparkSession
    val l = store(ref)
    IndexStore.withLease(spark, l, "ingest") {
    val exists = IndexStore.hasContent(spark, l)
    if (exists) {
      val hasScope = spark.table(ref.sigsTable).columns.contains("scope")
      require(hasScope == scopeCol.isDefined,
        s"index '${ref.tag}' was created ${if (hasScope) "SCOPED" else "UNSCOPED"} " +
          s"— every ingest must match (unscoped rows carry no scope to compare)")
    }
    def corpus(tbl: String): DataFrame =
      spark.table(tbl).filter(col("delivery") =!= lit(delivery))
    val scoped = scopeCol.isDefined
    val keyCols: Seq[Column] = col(idCol).as("doc") +:
      scopeCol.map(c => col(c).as("scope")).toSeq
    val sh = batch.select(keyCols :+
      Hashes.shingleHashCol(col(textCol), n).as("shs"): _*).cache()
    val carry: Seq[Column] = col("doc") +: (if (scoped) Seq(col("scope")) else Nil)
    val sigs = sh.select(carry :+
      Hashes.minhashFromHashes(col("shs"), k).as("sig"): _*).cache()
    // banding: scope (when present) is folded into the bucket hash — the
    // ONE banding definition of Dedup.bandedBuckets extended with the
    // same scope device as Dedup.minhashDupPairsScoped, so same-scope
    // docs collide as usual and cross-scope docs collide only on a
    // 64-bit hash accident (killed by the equality filter below)
    val banded =
      if (!scoped) Dedup.bandedBuckets(sigs, bands, r)
      else Dedup.scopedBandedBuckets(sigs, bands, r)

    // signature-agreement pre-filter + (scoped) the scope equality check,
    // both on the CANDIDATE-sized frame: the corpus-side lookup joins
    // stay keyed on doc alone (bucketed — zero corpus exchange), and the
    // scope filter never becomes a corpus join key
    def prefiltered(cands: DataFrame, oldSigs: DataFrame, bOld: Boolean): DataFrame =
      Dedup.sigPrefilter(cands.distinct(), oldSigs, sigs, "old_id", "new_id", threshold,
        broadcastLeft = bOld, broadcastRight = true, sameScope = scoped)
    // carry scope through the one shared verify formula by re-attaching
    // it afterwards from the CACHED batch sigs (new_id is always a batch
    // doc, and the scope filter above guarantees both ends agree) — never
    // by re-evaluating the candidate frame, whose cross form scans corpus
    def verified(cands: DataFrame, shOld: DataFrame, bOld: Boolean): DataFrame = {
      val v = Dedup.verifyJaccard(cands, shOld, sh,
        "old_id", "new_id", threshold, broadcastLeft = bOld, broadcastRight = true)
      if (!scoped) v
      else v.join(broadcast(sigs.select(col("doc").as("new_id"), col("scope"))),
        Seq("new_id"))
    }

    // within-batch: self-banding, all lookups broadcast (a batch is small)
    val within = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.doc") < col("b.doc"))
      .select(col("a.doc").as("old_id"), col("b.doc").as("new_id"))
    val withinV = verified(prefiltered(within, sigs, bOld = true),
      sh, bOld = true)

    // batch-vs-corpus: the index side of every join is a bucketed scan on
    // its join key — no exchange, no broadcast of corpus-sized tables
    val all = if (!exists) withinV else {
      val cross = corpus(ref.bandedTable).as("i").join(banded.as("b"),
          col("i.band") === col("b.band") && col("i.bucket") === col("b.bucket"))
        .select(col("i.doc").as("old_id"), col("b.doc").as("new_id"))
      val crossV = verified(
        prefiltered(cross, corpus(ref.sigsTable), bOld = false),
        corpus(ref.shTable), bOld = false)
      withinV.unionByName(crossV)
    }
    // distinct = set semantics on the RESULT (batch-sized, not corpus):
    // legitimate pairs are unique already (banded candidates dedup), so
    // this only cancels echoes of duplicate artifact rows a crashed+
    // retried EARLIER delivery left at rest — later ingests stay exact
    // without ever shuffling the corpus side
    val out = all.distinct().localCheckpoint() // materialize before the index grows
    // the three artifact appends are independent tables — submit them as
    // CONCURRENT Spark jobs (hashing is already computed and cached, so
    // the jobs are write-bound and overlap cleanly; measured: the
    // sequential form paid the three write latencies end to end)
    IndexStore.inParallel(l.parts.zip(Seq(banded, sigs, sh)).map { case (p, df) =>
      () => IndexStore.appendBucketed(df.withColumn("delivery", lit(delivery)), l, p)
    })
    sh.unpersist(); sigs.unpersist()
    out
    }
  }

  /** [[IndexStore.retractDelivery]] over all three tables: after it, a
    * fresh ingest of the same content under ANY id behaves as if the
    * crashed attempt never ran. */
  def recoverDelivery(spark: SparkSession, ref: Ref, delivery: String): Unit =
    IndexStore.retractDelivery(spark, store(ref), delivery, LegacyDelivery,
      "pre-migration lineage is collapsed")

  /** The stable delivery id a stream's micro-batch `bid` ingests under. */
  def streamDelivery(bid: Long): String = s"stream:$bid"

  /** Compact the index: every [[ingest]] appends one file per bucket, so
    * a long-lived index accumulates smallFiles × buckets — re-write each
    * table once, same bucketing, one file per bucket. Content-preserving
    * (spec-pinned) and bucket-local at scale: rows never cross buckets,
    * so a real deployment compacts buckets independently (concat-style)
    * — this whole-table rewrite is the simple form of that maintenance
    * window. The three tables rewrite as concurrent jobs. */
  def compact(spark: SparkSession, ref: Ref): Unit =
    IndexStore.withLease(spark, store(ref), "compact") {
      IndexStore.rewriteTables(spark, store(ref))(identity)
    }

  /** Maintain the index from a document STREAM — the cross-run flavor of
    * the in-state claim index (streaming/StreamingDedup.scala): each
    * micro-batch runs [[ingest]] in [[IndexStore]]'s ledgered loop, pairs
    * OVERWRITTEN per batch under `outDir/pairs/batch_id=<id>`. An
    * unledgered replay re-ingests under its stable delivery id
    * ([[streamDelivery]]), so its pair set is byte-identical; the only
    * residue is duplicate artifact rows ([[recoverDelivery]] retracts
    * them). The `old_id =!= new_id` guard stays as defense-in-depth for
    * callers who violate the id-uniqueness contract. */
  def startStreamingIngest(docs: DataFrame, idCol: String, textCol: String,
                           n: Int, k: Int, bands: Int, threshold: Double,
                           ref: Ref, outDir: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    IndexStore.streamIngest(docs, checkpoint) { (batch, bid) =>
      graft.streaming.IngestLedger.once(batch.sparkSession, s"$outDir/_ledger", bid) {
        ingest(batch, idCol, textCol, n, k, bands, threshold, ref,
            delivery = streamDelivery(bid))
          .filter(col("old_id") =!= col("new_id")) // id-contract-violation guard
          .write.mode("overwrite")
          .parquet(s"$outDir/pairs/batch_id=$bid")
      }
    }
}
