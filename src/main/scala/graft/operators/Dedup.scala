package graft.operators

import graft.functions.{Hashes, TextFunctions, VectorFunctions}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for document corpora, designed around shuffle
  * economics at large scale:
  *
  *  - exact: single hash-aggregate on the dedup key (one shuffle).
  *  - n-gram Jaccard: inverted shingle index + self-join — exact, with an
  *    optional frequent-shingle cutoff to bound the quadratic blowup of hot
  *    shingles (at 100 TB a shingle shared by 10^6 docs must not produce
  *    10^12 candidate pairs).
  *  - MinHash + LSH banding: candidate generation is linear in corpus size;
  *    candidates are exact-verified against true Jaccard so precision is 1
  *    and only recall depends on the (bands × rowsPerBand) S-curve.
  *  - SimHash: 64-bit signature bucketing for near-identical text.
  */
object Dedup {

  /** Exact duplicate groups over `keyCols`: representative = min(idCol). */
  def exactGroups(df: DataFrame, idCol: String, keyCols: Seq[String]): DataFrame =
    df.groupBy(keyCols.map(col): _*)
      .agg(min(col(idCol)).as("rep_id"), count(lit(1)).as("dup_count"))

  /** SOFT dedup — duplicate-count down-weighting instead of removal: every
    * copy stays in the corpus carrying training weight 1/n_copies, so each
    * distinct CONTENT contributes unit total weight regardless of how many
    * crawls mirrored it (the sampling-correction alternative to keep-first
    * removal — e.g. the duplicate down-weighting ablations in dedup
    * studies where hard removal is too lossy). Grouping is by the
    * normalized content fingerprint ([[graft.functions.Hashes
    * .docFingerprint]] — native codegen, case/punctuation-insensitive,
    * the q87 currency).
    *
    * Output: (idCol, fp, n_copies, weight = 1.0/n_copies), one row per
    * input doc.
    *
    * Scale: one fingerprint pass, one count aggregate keyed on the
    * 8-byte fp (map-side partial combine), one join back on the same key
    * — partitioning reuse, no second shuffle genre, no pairwise work. At
    * 64-bit fp a collision UNDER-weights two distinct docs (never drops
    * one) — carry (fp, fp2) like the chunk family if that matters for a
    * release. */
  def dupWeights(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val fps = df.select(col(idCol),
      graft.functions.Hashes.docFingerprint(col(textCol)).as("fp"))
    val counts = fps.groupBy(col("fp")).agg(count(lit(1)).as("n_copies"))
    fps.join(counts, Seq("fp"))
      .select(col(idCol), col("fp"), col("n_copies"),
        (lit(1.0) / col("n_copies")).as("weight"))
  }

  // Shingles are HASHED (ShingleHashesExpr), not strings: one compiled
  // tokenize+shingle+hash pass per doc, and downstream shuffles move 8-byte
  // longs instead of ~15-byte UTF-8 bigrams — identical Jaccard up to
  // 64-bit collisions (~1e-9 at corpus scale), the same equivalence the
  // MinHash verify step already relies on.

  /** Exact n-gram Jaccard similarity pairs with similarity >= threshold.
    * Output: (id1, id2, jaccard) with id1 < id2.
    *
    * Each side of the inverted-index self-join carries its doc's
    * (post-cutoff) shingle-set size inline, so the jaccard computation
    * after pair counting needs NO size-lookup joins — the sizes ride the
    * count aggregate as `first()`s. */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String, n: Int,
                   threshold: Double, maxDocFreq: Option[Long] = None): DataFrame = {
    val base = df.select(col(idCol).as("doc"),
      Hashes.shingleHashCol(col(textCol), n).as("shs"))
    val raw = base.select(col("doc"), size(col("shs")).cast("long").as("nsh"),
      explode(col("shs")).as("sh"))
    val idx = (maxDocFreq match {
      case None => raw
      case Some(m) =>
        val hot = raw.groupBy("sh").count().filter(col("count") > m).select("sh")
        // sizes must be recomputed over the SURVIVING shingles: they are
        // the jaccard denominator's universe after the cutoff
        raw.join(hot, Seq("sh"), "left_anti")
          .withColumn("nsh", count(lit(1)).over(
            org.apache.spark.sql.expressions.Window.partitionBy("doc")))
    }).cache()
    idx.as("a").join(idx.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc") < col("b.doc"))
      .groupBy(col("a.doc").as("id1"), col("b.doc").as("id2"))
      .agg(count(lit(1)).as("common"),
        // nsh is constant per doc: min == the value, with cheaper agg
        // state than first() (no valueSet flag column)
        min(col("a.nsh")).as("n1"), min(col("b.nsh")).as("n2"))
      .withColumn("jaccard", col("common").cast("double") /
        (col("n1") + col("n2") - col("common")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("id1", "id2", "jaccard")
  }

  /** Exact Jaccard pairs at HIGH thresholds via prefix filtering (the
    * AllPairs/PPJoin family — Bayardo et al., WWW'07): in a fixed global
    * rarity order, index only each doc's first `n - ⌈t·n⌉ + 1` shingles.
    * Completeness (pigeonhole): if J(a,b) ≥ t then |a∩b| ≥ t·|a|; were no
    * common shingle inside a's prefix, a would hold ≥ prefix-length
    * non-common shingles plus |a∩b| common ones — more than |a| — so the
    * globally smallest common shingle sits in BOTH prefixes, and the
    * prefix-prefix join finds every qualifying pair. Survivors are
    * exact-verified on the full shingle sets; precision is always 1.
    *
    * Candidates pass two further exact-complete cuts before verification
    * (both standard PPJoin-family filters):
    *  - LENGTH: J ≥ t forces t·|a| ≤ |b| ≤ |a|/t;
    *  - POSITIONAL: a collision at prefix positions (r1, r2) can witness at
    *    most `1 + min(|a|−r1, |b|−r2)` common shingles, which must reach
    *    the overlap bound ⌈t/(1+t)·(|a|+|b|)⌉.
    *
    * Versus [[jaccardPairs]]'s full inverted index, the candidate volume
    * collapses at production thresholds (t=0.8 indexes ~20% of each doc,
    * and only its RAREST shingles — hot shingles fall out of prefixes
    * instead of needing a maxDocFreq cutoff). Regime note: on a corpus
    * with a SMALL shared vocabulary (the synthetic fixtures), even
    * rarest-per-doc shingles are globally common and candidates stay
    * noisy — there MinHash banding (q85) is the faster sub-quadratic
    * path; on natural-vocabulary corpora prefix filtering is the
    * classical exact winner. Both paths return identical pairs. */
  def jaccardPairsPrefix(df: DataFrame, idCol: String, textCol: String,
                         n: Int, threshold: Double): DataFrame = {
    require(threshold > 0 && threshold <= 1)
    val sh = df.select(col(idCol).as("doc"),
      Hashes.shingleHashCol(col(textCol), n).as("shs")).cache()
    val idx = sh.select(col("doc"), size(col("shs")).as("nsh"),
      explode(col("shs")).as("h"))
    val freq = idx.groupBy("h").agg(count(lit(1)).as("df"))
    // rarity order (df, h): rarest first — minimal-candidate prefixes
    // cached: BOTH sides of the candidate self-join read it — uncached,
    // the doc-frequency aggregate and the rarity-window sort execute
    // twice (AllPairs implementations materialize the prefix index for
    // the same reason). Lifecycle: the returned frame is lazy, so the
    // cache cannot be dropped here; it is released by the caller's
    // post-action spark.catalog.clearCache() (Verify/Bench do this per
    // query) — long-lived sessions should do the same once the result
    // is materialized.
    val prefix = idx.join(freq, "h")
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("doc")
          .orderBy(col("df"), col("h"))))
      .filter(col("rn") <= col("nsh") - ceil(col("nsh") * threshold) + 1)
      .select("doc", "h", "rn", "nsh")
      .cache()
    val cands = prefix.as("a").join(prefix.as("b"),
        col("a.h") === col("b.h") && col("a.doc") < col("b.doc") &&
          // length filter
          col("b.nsh") >= col("a.nsh") * threshold &&
          col("a.nsh") >= col("b.nsh") * threshold &&
          // positional filter
          (lit(1) + least(col("a.nsh") - col("a.rn"), col("b.nsh") - col("b.rn"))) >=
            ceil((col("a.nsh") + col("b.nsh")) * (threshold / (1 + threshold))))
      .select(col("a.doc").as("id1"), col("b.doc").as("id2"))
      .distinct()
    verifyJaccard(cands, sh, sh, "id1", "id2", threshold, broadcastLookups = false)
  }

  /** MinHash signatures: (idCol, sig array<long>), single compiled pass. */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
                        n: Int, k: Int): DataFrame =
    df.select(col(idCol).as("doc"),
      Hashes.minhashFromText(col(textCol), n, k).as("sig"))

  /** (doc, band, bucket) rows from signatures — THE banding function; every
    * candidate path must use this one definition or cross-path lookups
    * silently probe different buckets. */
  private[operators] def bandedBuckets(sigs: DataFrame, bands: Int, rowsPerBand: Int): DataFrame =
    sigs.select(col("doc"),
      posexplode(array((0 until bands).map(b => xxhash64(lit("band"), lit(b),
        slice(col("sig"), b * rowsPerBand + 1, rowsPerBand))): _*)))
      .toDF("doc", "band", "bucket")

  /** The SCOPED banding definition — [[bandedBuckets]] with the scope
    * folded into the 64-bit bucket hash, over (doc, scope, sig) rows:
    * same-scope docs collide exactly as the unscoped form, cross-scope
    * docs only on a 64-bit hash accident (every scoped consumer kills
    * those with an explicit scope-equality check on the candidate
    * frame). One definition for [[minhashDupPairsScoped]], the
    * persistent [[LshIndex]] scoped ingest, and the specs. */
  private[graft] def scopedBandedBuckets(sigs: DataFrame, bands: Int,
                                         rowsPerBand: Int): DataFrame =
    sigs.select(col("doc"), col("scope"),
        posexplode(array((0 until bands).map(b => xxhash64(lit("band"), lit(b),
          col("scope"), slice(col("sig"), b * rowsPerBand + 1, rowsPerBand))): _*)))
      .toDF("doc", "scope", "band", "bucket")

  /** Exact-Jaccard verification of candidate (leftId, rightId) pairs
    * against per-doc hashed shingle sets — the one definition of the
    * verify formula. `broadcastLookups` = map-side joins when the per-doc
    * tables fit executor memory; false = plain (bucketed/shuffled) joins. */
  private[operators] def verifyJaccard(cands: DataFrame, shLeft: DataFrame, shRight: DataFrame,
                                       leftId: String, rightId: String, threshold: Double,
                                       broadcastLookups: Boolean): DataFrame =
    verifyJaccard(cands, shLeft, shRight, leftId, rightId, threshold,
      broadcastLeft = broadcastLookups, broadcastRight = broadcastLookups)

  /** Per-side broadcast control: an ingest batch's lookup table is tiny
    * (broadcast it) while a persistent corpus index is corpus-sized
    * (bucketed join — only the candidate set shuffles). */
  private[operators] def verifyJaccard(cands: DataFrame, shLeft: DataFrame, shRight: DataFrame,
                                       leftId: String, rightId: String, threshold: Double,
                                       broadcastLeft: Boolean, broadcastRight: Boolean): DataFrame = {
    def side(t: DataFrame, b: Boolean) = if (b) broadcast(t) else t
    cands
      .join(side(shLeft.select(col("doc").as(leftId), col("shs").as("sh1")), broadcastLeft), leftId)
      .join(side(shRight.select(col("doc").as(rightId), col("shs").as("sh2")), broadcastRight), rightId)
      .withColumn("inter", size(array_intersect(col("sh1"), col("sh2"))).cast("double"))
      .withColumn("jaccard", col("inter") /
        (size(col("sh1")) + size(col("sh2")) - col("inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col(leftId), col(rightId), col("jaccard"))
  }

  /** The per-corpus MinHash artifacts: hashed shingle sets, signatures,
    * banded buckets. Compute ONCE per corpus (and persist — bucketed on
    * `doc` in production) so incremental runs never re-pay corpus hashing. */
  final case class MinhashTables(sh: DataFrame, sigs: DataFrame, banded: DataFrame)

  /** Build [[MinhashTables]] for a corpus (one text pass; `cache` pins the
    * two lookup tables for multi-use within a session — for cross-session
    * reuse write them out bucketed on `doc` instead). */
  def prepMinhashTables(df: DataFrame, idCol: String, textCol: String,
                        n: Int, k: Int, bands: Int,
                        cache: Boolean = true): MinhashTables = {
    require(k % bands == 0, s"k=$k must divide into bands=$bands")
    val sh0 = Partitioning.fanOutForCompute(
        df.select(col(idCol).as("doc"), col(textCol).as("_t")), col("doc"))
      .select(col("doc"), Hashes.shingleHashCol(col("_t"), n).as("shs"))
    val sh = if (cache) sh0.cache() else sh0
    if (cache) sh.count() // eager: consumers race as concurrent broadcasts
    val sigs0 = sh.select(col("doc"), Hashes.minhashFromHashes(col("shs"), k).as("sig"))
    val sigs = if (cache) sigs0.cache() else sigs0
    if (cache) sigs.count()
    MinhashTables(sh, sigs, bandedBuckets(sigs, bands, k / bands))
  }

  /** LSH candidate pairs from banded MinHash signatures (id1 < id2). */
  def lshCandidates(sigs: DataFrame, bands: Int, rowsPerBand: Int): DataFrame = {
    val banded = bandedBuckets(sigs, bands, rowsPerBand)
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.doc") < col("b.doc"))
      .select(col("a.doc").as("id1"), col("b.doc").as("id2"))
      .distinct()
  }

  /** Fraction of equal signature positions — unbiased estimate of Jaccard. */
  private val sigAgreement = udf { (a: Array[Long], b: Array[Long]) =>
    var eq = 0; var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { if (a(i) == b(i)) eq += 1; i += 1 }
    eq.toDouble / math.max(n, 1)
  }

  /** The signature-agreement pre-filter — the one definition every MinHash
    * path runs before [[verifyJaccard]]: candidate (leftId, rightId) pairs
    * whose estimate is >= threshold - 0.25 (the 5σ bound in
    * [[minhashDupPairs]]). `sigLeft`/`sigRight` are (doc, sig) lookups,
    * each broadcast or a plain (bucketed/shuffled) join as its side's
    * size allows. `sameScope` also requires both docs' `scope` columns to
    * agree (a scoped index's candidates may collide across scopes on a
    * 64-bit hash accident); the scope is dropped, so scoped callers
    * re-attach it after the verify. Output: (leftId, rightId). */
  private[operators] def sigPrefilter(cands: DataFrame, sigLeft: DataFrame, sigRight: DataFrame,
                                      leftId: String, rightId: String, threshold: Double,
                                      broadcastLeft: Boolean, broadcastRight: Boolean,
                                      sameScope: Boolean = false): DataFrame = {
    def side(t: DataFrame, id: String, sig: String, scope: String, b: Boolean) = {
      val s = t.select(Seq(col("doc").as(id), col("sig").as(sig)) ++
        (if (sameScope) Seq(col("scope").as(scope)) else Nil): _*)
      if (b) broadcast(s) else s
    }
    val joined = cands
      .join(side(sigLeft, leftId, "sig1", "_scope1", broadcastLeft), leftId)
      .join(side(sigRight, rightId, "sig2", "_scope2", broadcastRight), rightId)
    val scopeOk = if (sameScope) joined.filter(col("_scope1") === col("_scope2")) else joined
    scopeOk.filter(sigAgreement(col("sig1"), col("sig2")) >= threshold - 0.25)
      .select(leftId, rightId)
  }

  /** MinHash/LSH near-dup pairs, exact-verified: banding proposes
    * candidates, a signature-agreement pre-filter discards the noise floor,
    * and true n-gram Jaccard is computed on the survivors only.
    *
    * The pre-filter keeps pairs with estimate >= threshold - 0.25: with
    * k=128 positions the estimate's σ is ≈0.044, so a true pair at the
    * threshold sits >5σ above the cutoff (miss ~1e-8) while corpora whose
    * baseline similarity is ≈0.1 (shared-vocabulary text) drop ~all of
    * their O(|docs|²)-ish candidate noise before the expensive exact
    * verification — the step that otherwise dominates at scale. Precision
    * is always 1 (survivors are exact-verified). */
  def minhashDupPairs(df: DataFrame, idCol: String, textCol: String, n: Int,
                      k: Int, bands: Int, threshold: Double): DataFrame = {
    require(k % bands == 0, s"k=$k must divide into bands=$bands")
    // broadcast the per-doc lookup sides: the candidate set is O(pairs) and
    // must not be shuffled once per lookup — per-doc signatures/shingles are
    // tiny relative to it (map-side hash joins at any corpus:pair ratio;
    // at true scale replace broadcast with a bucketed co-partitioned join)
    //
    // ONE tokenize+shingle+hash pass per doc: signatures derive from the
    // hashed shingle set (min is duplicate/order-invariant), which the
    // verification step reuses. Fanned out (a single-split scan must not
    // hash the corpus on one core) and cached EAGERLY — the four broadcast
    // lookup sides below build concurrently, and a lazy cache lets each
    // race to compute the shingle/signature pass first (round 20).
    val sh = Partitioning.fanOutForCompute(
        df.select(col(idCol).as("doc"), col(textCol).as("_t")), col("doc"))
      .select(col("doc"), Hashes.shingleHashCol(col("_t"), n).as("shs")).cache()
    sh.count()
    val sigs = sh.select(col("doc"), Hashes.minhashFromHashes(col("shs"), k).as("sig")).cache()
    sigs.count()
    val cands = sigPrefilter(lshCandidates(sigs, bands, k / bands), sigs, sigs,
      "id1", "id2", threshold, broadcastLeft = true, broadcastRight = true)
    // verify on hashed shingles: long-array intersection is ~an order of
    // magnitude cheaper than string arrays, equal up to 64-bit collisions
    verifyJaccard(cands, sh, sh, "id1", "id2", threshold, broadcastLookups = true)
  }

  /** SCOPED MinHash/LSH near-dup pairs — the FineWeb dedup discipline
    * (Penedo et al., NeurIPS 2024 D&B: per-dump MinHash — each crawl
    * snapshot deduped WITHIN itself, never across — produced better
    * models than global dedup, which over-removes the high-quality
    * pages that recur in every snapshot): [[minhashDupPairs]]'s exact
    * pipeline with candidate generation and verification restricted to
    * equal `scopeCol`. The scope rides both the bucket hash and the
    * band self-join key, so scopes dedup independently and the banding
    * shuffle's buckets shrink to the per-scope corpus share — the shape
    * that lets a new snapshot dedup against itself without touching
    * earlier ones. The per-doc lookup sides broadcast exactly as
    * [[minhashDupPairs]]'s do (and with the same caveat: at true scale
    * swap the broadcasts for the bucketed co-partitioned joins of
    * [[minhashDupPairsBucketed]] — the scope column composes with that
    * shape unchanged, it is just one more key column). Output:
    * (id1, id2, scope, jaccard), id1 < id2, same scope, exact-verified
    * at `threshold`. */
  def minhashDupPairsScoped(df: DataFrame, idCol: String, textCol: String,
                            scopeCol: String, n: Int, k: Int, bands: Int,
                            threshold: Double): DataFrame = {
    require(k % bands == 0, s"k=$k must divide into bands=$bands")
    val r = k / bands
    // fan-out + eager caches: same rationale as [[minhashDupPairs]]
    val sh = Partitioning.fanOutForCompute(
        df.select(col(idCol).as("doc"), col(scopeCol).as("scope"),
          col(textCol).as("_t")), col("doc"))
      .select(col("doc"), col("scope"),
        Hashes.shingleHashCol(col("_t"), n).as("shs")).cache()
    sh.count()
    val sigs = sh.select(col("doc"), col("scope"),
      Hashes.minhashFromHashes(col("shs"), k).as("sig")).cache()
    sigs.count()
    val banded = scopedBandedBuckets(sigs, bands, r)
    val cands = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.scope") === col("b.scope") && col("a.doc") < col("b.doc"))
      .select(col("a.doc").as("id1"), col("b.doc").as("id2"))
      .distinct()
    val v = verifyJaccard(
      sigPrefilter(cands, sigs, sigs, "id1", "id2", threshold,
        broadcastLeft = true, broadcastRight = true),
      sh, sh, "id1", "id2", threshold, broadcastLookups = true)
    // the band join keeps both ends in one scope: re-attach it from the
    // cached signatures, never by re-evaluating the candidate frame
    v.join(broadcast(sigs.select(col("doc").as("id1"), col("scope"))), "id1")
      .select("id1", "id2", "scope", "jaccard")
  }

  /** Band buckets straight from a (possibly STREAMED) document frame — the
    * public face of [[bandedBuckets]] for callers that generate candidates
    * outside the batch join (the streaming claim index,
    * streaming/StreamingDedup.scala). Pure expressions, so it runs
    * unchanged on a streaming DataFrame. */
  def bandBucketsFor(docs: DataFrame, idCol: String, textCol: String,
                     n: Int, k: Int, bands: Int): DataFrame = {
    require(k % bands == 0, s"k=$k must divide into bands=$bands")
    val sigs = docs.select(col(idCol).as("doc"),
      Hashes.minhashFromHashes(Hashes.shingleHashCol(col(textCol), n), k).as("sig"))
    bandedBuckets(sigs, bands, k / bands)
  }

  /** Verification stage for EXTERNALLY proposed candidate pairs (the
    * streaming claim index): identical pipeline to [[minhashDupPairs]]'s
    * back half — distinct, signature-agreement pre-filter (same 5σ bound),
    * exact hashed-shingle Jaccard — so stream-proposed and batch-proposed
    * candidates are judged by the ONE verify definition. `cands` needs
    * (id1, id2) with id1 ingested first. */
  def verifyProposedPairs(df: DataFrame, idCol: String, textCol: String,
                          cands0: DataFrame, n: Int, k: Int,
                          threshold: Double): DataFrame = {
    val sh = df.select(col(idCol).as("doc"),
      Hashes.shingleHashCol(col(textCol), n).as("shs")).cache()
    val sigs = sh.select(col("doc"), Hashes.minhashFromHashes(col("shs"), k).as("sig"))
    val cands = sigPrefilter(cands0.select("id1", "id2").distinct(), sigs, sigs,
      "id1", "id2", threshold, broadcastLeft = true, broadcastRight = true)
    verifyJaccard(cands, sh, sh, "id1", "id2", threshold, broadcastLookups = true)
  }

  /** [[minhashDupPairs]] for the >10M-doc regime: the per-doc signature and
    * shingle-hash lookup tables are persisted BUCKETED on doc id instead of
    * broadcast, so each lookup join shuffles only the candidate set — the
    * corpus-sized side is read pre-partitioned with zero Exchange (see
    * BucketedJoinSpec for the plan proof). Results are identical to the
    * broadcast path; only the join strategy changes. Use when signatures no
    * longer fit executor memory (~10M docs × 128 longs ≈ 10 GB). */
  def minhashDupPairsBucketed(df: DataFrame, idCol: String, textCol: String,
                              n: Int, k: Int, bands: Int, threshold: Double,
                              tableTag: String, buckets: Int): DataFrame = {
    require(k % bands == 0, s"k=$k must divide into bands=$bands")
    val spark = df.sparkSession
    val sigTbl = s"graft_mh_sigs_$tableTag"
    val shTbl = s"graft_mh_sh_$tableTag"
    val shSrc = df.select(col(idCol).as("doc"),
      Hashes.shingleHashCol(col(textCol), n).as("shs"))
    graft.sources.Sources.writeBucketed(shSrc, shTbl, buckets, Seq("doc"))
    val sh = spark.table(shTbl)
    // signatures derive from the persisted hashes: one text pass total
    graft.sources.Sources.writeBucketed(
      sh.select(col("doc"), Hashes.minhashFromHashes(col("shs"), k).as("sig")),
      sigTbl, buckets, Seq("doc"))
    val sigs = spark.table(sigTbl)
    val cands = sigPrefilter(lshCandidates(sigs, bands, k / bands), sigs, sigs,
      "id1", "id2", threshold, broadcastLeft = false, broadcastRight = false)
    verifyJaccard(cands, sh, sh, "id1", "id2", threshold, broadcastLookups = false)
  }

  /** Incremental near-dedup: MinHash/LSH candidates between an `incoming`
    * batch and the existing `corpus` ONLY — never corpus × corpus, whose
    * cost was already paid when the corpus was built. This is the steady-
    * state shape of a production dedup service: each ingest batch pays
    * O(|batch| + collisions), not O(|corpus|²).
    *
    * Same banding + signature-agreement pre-filter + exact-Jaccard
    * verification as [[minhashDupPairs]] (identical recall/precision
    * properties); only the candidate join is cross-sided. This overload
    * takes the corpus's PRECOMPUTED [[MinhashTables]] — build them once
    * with [[prepMinhashTables]] when the corpus is built (persist bucketed
    * on doc id at scale) so each batch pays only its own hashing. The
    * lookup joins here are NOT broadcast: the corpus tables are
    * corpus-sized. Output: (new_id, old_id, jaccard >= threshold). */
  def minhashNewVsCorpus(incoming: DataFrame, corpus: MinhashTables,
                         idCol: String, textCol: String, n: Int, k: Int,
                         bands: Int, threshold: Double): DataFrame = {
    val nw = prepMinhashTables(incoming, idCol, textCol, n, k, bands)
    val cands = nw.banded.as("a").join(corpus.banded.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket"))
      .select(col("a.doc").as("new_id"), col("b.doc").as("old_id"))
      .distinct()
    // batch-side lookups broadcast (a batch is small); corpus-side shuffle
    verifyJaccard(
      sigPrefilter(cands, nw.sigs, corpus.sigs, "new_id", "old_id", threshold,
        broadcastLeft = true, broadcastRight = false),
      nw.sh, corpus.sh, "new_id", "old_id", threshold,
      broadcastLeft = true, broadcastRight = false)
  }

  /** Convenience overload that preps the corpus tables in-line — for
    * one-shot use; a real ingest loop should prep once and reuse. */
  def minhashNewVsCorpus(incoming: DataFrame, corpus: DataFrame,
                         idCol: String, textCol: String, n: Int, k: Int,
                         bands: Int, threshold: Double): DataFrame =
    minhashNewVsCorpus(incoming,
      prepMinhashTables(corpus, idCol, textCol, n, k, bands),
      idCol, textCol, n, k, bands, threshold)

  /** Benchmark decontamination: per training doc, how many distinct
    * n-gram shingles it shares with the evaluation/benchmark corpus —
    * the standard train/test contamination check run before training.
    * Output: (doc, n_shared, contaminated) for EVERY training doc.
    *
    * The benchmark's distinct shingle-hash set is tiny next to the corpus
    * (benchmarks are small by construction) — broadcast it so the
    * training side never shuffles; the per-doc count is a map-side
    * semi-join + partial aggregation fused into the scan. */
  def contaminationCheck(train: DataFrame, benchmark: DataFrame,
                         idCol: String, textCol: String, n: Int): DataFrame = {
    val benchSh = benchmark
      .select(explode(Hashes.shingleHashCol(col(textCol), n)).as("h"))
      .distinct()
    val trainSh = train.select(col(idCol).as("doc"),
      explode(Hashes.shingleHashCol(col(textCol), n)).as("h"))
    val shared = trainSh.join(broadcast(benchSh), Seq("h"), "left_semi")
      .groupBy("doc").agg(count(lit(1)).as("n_shared"))
    train.select(col(idCol).as("doc"))
      .join(shared, Seq("doc"), "left")
      .select(col("doc"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        (coalesce(col("n_shared"), lit(0L)) > 0).as("contaminated"))
  }

  /** Close the near-dup loop: given verified duplicate PAIRS, pick one
    * representative per duplicate CLUSTER (connected components over the
    * pair graph, representative = min id — transitively-linked docs dedup
    * together even when the endpoints' direct similarity is below
    * threshold, the standard corpus-dedup semantics). Docs in no pair are
    * their own representative. Output: (id, rep_id, is_kept). */
  def keepRepresentatives(df: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    val edges = pairs.select(col("id1").as("src"), col("id2").as("dst"))
    val comp = GraphOps.connectedComponents(edges)
    df.select(col(idCol))
      .join(comp, df(idCol) === comp("node"), "left")
      .select(col(idCol),
        coalesce(col("component"), col(idCol)).as("rep_id"))
      .withColumn("is_kept", col(idCol) === col("rep_id"))
  }

  /** Quality-aware variant of [[keepRepresentatives]]: the representative
    * of each duplicate cluster is its BEST document by `score` (ties to
    * the smaller id), not its minimum id — what production dedup actually
    * keeps (longest / highest-quality copy survives, e.g. the fullest
    * crawl of a page rather than a truncated mirror). Cluster identity
    * stays the min-id component label so output clusters are comparable
    * with the min-id variant.
    *
    * Output: (id, cluster_id, score, is_kept). One window shuffle keyed on
    * the cluster label on top of the component computation; duplicate
    * clusters are small by construction (they group near-identical docs),
    * so the per-cluster window never sees skew at any corpus size. */
  def keepBestRepresentatives(df: DataFrame, idCol: String, pairs: DataFrame,
                              score: Column): DataFrame = {
    val edges = pairs.select(col("id1").as("src"), col("id2").as("dst"))
    val comp = GraphOps.connectedComponents(edges)
    // the ranking uses the score AS GIVEN — no numeric cast, so fractional
    // quality scores (model scores in [0,1]) order correctly instead of
    // truncating to a constant; the output column keeps the caller's type
    val clustered = df.select(col(idCol), score.as("score"))
      .join(comp, df(idCol) === comp("node"), "left")
      .select(col(idCol), coalesce(col("component"), col(idCol)).as("cluster_id"),
        col("score"))
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster_id"))
      .orderBy(col("score").desc, col(idCol))
    clustered.withColumn("is_kept", row_number().over(win) === 1)
  }

  /** SimHash values per document: (doc, simhash). */
  def simhashes(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("doc"),
      Hashes.simhash(TextFunctions.tokens(col(textCol))).as("simhash"))

  /** Near-identical pairs by SimHash hamming distance <= maxDist, candidate
    * generation by block banding (any identical block → candidate). By the
    * pigeonhole principle recall is exact iff `nBlocks > maxDist`: maxDist
    * differing bits cannot touch all blocks. Fewer blocks = bigger blocks =
    * fewer/bucket-cheaper candidates but only probabilistic recall; the
    * classic 4×16-bit split is exact for maxDist <= 3. */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String, maxDist: Int,
                   nBlocks: Int = 4): DataFrame =
    hammingPairsOf(simhashes(df, idCol, textCol), maxDist, nBlocks)

  /** [[simhashPairs]] over a PRECOMPUTED 64-bit signature column — the
    * one-shot batch sibling of [[SimHashIndex.ingestSignatures]]: any
    * perceptual 64-bit fingerprint (image dHash, audio energy-gradient)
    * rides the same pigeonhole banding and exact Hamming confirm. Feed
    * the result to [[keepRepresentatives]] for the selection half. */
  def hammingPairs(df: DataFrame, idCol: String, sigCol: String,
                   maxDist: Int, nBlocks: Int = 4): DataFrame =
    hammingPairsOf(df.select(col(idCol).as("doc"),
      col(sigCol).cast("long").as("simhash")), maxDist, nBlocks)

  private def hammingPairsOf(sh: DataFrame, maxDist: Int,
                             nBlocks: Int): DataFrame = {
    require(nBlocks >= 1 && nBlocks <= 64)
    val width = 64 / nBlocks // trailing bits join the last block
    val blockExprs = array((0 until nBlocks).map { b =>
      val mask = if (b == nBlocks - 1) -1L else (1L << width) - 1
      shiftrightunsigned(col("simhash"), b * width).bitwiseAND(lit(mask))
    }: _*)
    val blocks = sh.select(col("doc"), col("simhash"), posexplode(blockExprs))
      .toDF("doc", "simhash", "blk", "blkval")
    blocks.as("a").join(blocks.as("b"),
        col("a.blk") === col("b.blk") && col("a.blkval") === col("b.blkval") &&
          col("a.doc") < col("b.doc"))
      .select(col("a.doc").as("id1"), col("b.doc").as("id2"),
        col("a.simhash").as("h1"), col("b.simhash").as("h2"))
      .distinct()
      .withColumn("hamming", Hashes.hamming(col("h1"), col("h2")))
      .filter(col("hamming") <= maxDist)
      .select("id1", "id2", "hamming")
  }

  /** SemDeDup-style semantic near-dup pairs over an embedding column:
    * vectors are assigned to their nearest of `nCells` centroids
    * (deterministic lowest-id sample, squared-Euclidean, ties to the lower
    * cell — the same zero-refinement IVF partitioner Similarity.ivfTopK
    * starts from, so the whole operator replays in plain SQL), and the
    * O(n²) cosine comparison runs WITHIN cells only. Output:
    * (cell_id, id1, id2, cos) with id1 < id2 and cos >= threshold; feed to
    * [[keepRepresentatives]] to pick survivors.
    *
    * Scale: clustering is what makes semantic dedup tractable — the
    * quadratic term is bounded per cell ((n/c)² per cell vs n² global), so
    * nCells grows with the corpus to hold cell size constant. The
    * centroid frame is nCells rows and broadcasts; assignment is one
    * narrow pass; the pair join shuffles once on cell_id. A pathological
    * cell (all vectors in one cluster) re-creates the quadratic —
    * `refineIters > 0` runs [[ML.kMeansScaled]] Lloyd rounds to balance
    * cells, or raise nCells; same knob semantics as the reference-side
    * cluster-then-compare pipelines. */
  def semanticDupPairs(emb: DataFrame, idCol: String, vecCol: String,
                       nCells: Int, threshold: Double,
                       refineIters: Int = 0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val c = emb.select(col(idCol).as("_vid"), col(vecCol).as("_vec"))
    val assigned = if (refineIters > 0) {
      val km = ML.kMeansScaled(emb, idCol, vecCol, nCells, refineIters)
      c.join(km.assignments.select(col(idCol).as("_vid"), col("cell_id")), "_vid")
        .select(col("cell_id"), col("_vid"), col("_vec"))
    } else {
      val cents = c.orderBy(col("_vid")).limit(nCells)
        .select(col("_vid").as("cell_id"), col("_vec").as("centroid"))
      val aw = Window.partitionBy("_vid").orderBy(col("cdist").asc, col("cell_id"))
      c.crossJoin(broadcast(cents))
        .withColumn("cdist", VectorFunctions.squaredEuclidean(col("_vec"), col("centroid")))
        .withColumn("r", row_number().over(aw)).filter(col("r") === 1)
        .select(col("cell_id"), col("_vid"), col("_vec"))
    }
    val a = assigned.select(col("cell_id"), col("_vid").as("id1"), col("_vec").as("v1"))
    val b = assigned.select(col("cell_id"), col("_vid").as("id2"), col("_vec").as("v2"))
    a.join(b, Seq("cell_id")).filter(col("id1") < col("id2"))
      .withColumn("cos", VectorFunctions.cosineSimilarityFast(col("v1"), col("v2")))
      .filter(col("cos") >= threshold)
      .select(col("cell_id"), col("id1"), col("id2"), col("cos"))
  }

  /** The complete SemDeDup SELECTION (Abbas et al. 2023 §3, the keep
    * rule [[semanticDupPairs]] stops short of): duplicate groups are the
    * connected components of the within-cell cosine >= threshold graph,
    * and each group keeps exactly ONE member — the vector with the
    * LOWEST cosine similarity to its cluster centroid (the paper's rule:
    * the least prototypical member carries the most marginal
    * information; ties to the smaller id). Non-duplicated vectors keep
    * themselves.
    *
    * Uses the same deterministic zero-refinement IVF partitioner as
    * [[semanticDupPairs]] (`refineIters > 0` upgrades both the
    * assignment and the centroids to [[ML.kMeansScaled]] Lloyd rounds),
    * so the full pipeline — assignment, pairing, grouping, keep — replays
    * in plain SQL.
    *
    * Output: (idCol, cell_id, cluster_id, centroid_cos, is_kept), one
    * row per input vector; cluster_id is the min-id component label
    * (comparable with [[keepRepresentatives]]).
    *
    * Scale: inherits semanticDupPairs' bounded-quadratic shape (the
    * whole point of SemDeDup — nCells grows with the corpus to hold
    * cell size constant); components run on the near-dup pair graph
    * whose components are small by construction, and the keep window is
    * keyed on those same small clusters — no corpus-sized partition
    * anywhere. */
  def semDedupSelect(emb: DataFrame, idCol: String, vecCol: String,
                     nCells: Int, threshold: Double,
                     refineIters: Int = 0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val c = emb.select(col(idCol).as("_vid"), col(vecCol).as("_vec"))
    val assigned = if (refineIters > 0) {
      val km = ML.kMeansScaled(emb, idCol, vecCol, nCells, refineIters)
      // quantized Lloyd centroids score fine: cosine is scale-invariant,
      // so the micro-unit (long) centroid's direction is the centroid's
      c.join(km.assignments.select(col(idCol).as("_vid"), col("cell_id")), "_vid")
        .join(broadcast(km.centroids.select(col("cell_id"),
          transform(col("cvec"), x => x.cast("float")).as("centroid"))),
          Seq("cell_id"))
        .select(col("cell_id"), col("_vid"), col("_vec"), col("centroid"))
    } else {
      val cents = c.orderBy(col("_vid")).limit(nCells)
        .select(col("_vid").as("cell_id"), col("_vec").as("centroid"))
      val aw = Window.partitionBy("_vid").orderBy(col("cdist").asc, col("cell_id"))
      c.crossJoin(broadcast(cents))
        .withColumn("cdist", VectorFunctions.squaredEuclidean(col("_vec"), col("centroid")))
        .withColumn("r", row_number().over(aw)).filter(col("r") === 1)
        .select(col("cell_id"), col("_vid"), col("_vec"), col("centroid"))
    }
    val scored = assigned.withColumn("centroid_cos",
      VectorFunctions.cosineSimilarityFast(col("_vec"), col("centroid")))
    val a = assigned.select(col("cell_id"), col("_vid").as("id1"), col("_vec").as("v1"))
    val b = assigned.select(col("cell_id"), col("_vid").as("id2"), col("_vec").as("v2"))
    val pairs = a.join(b, Seq("cell_id")).filter(col("id1") < col("id2"))
      .filter(VectorFunctions.cosineSimilarityFast(col("v1"), col("v2")) >= threshold)
      .select(col("id1").as("src"), col("id2").as("dst"))
    val comp = GraphOps.connectedComponents(pairs)
    val win = Window.partitionBy(col("cluster_id"))
      .orderBy(col("centroid_cos").asc, col("_vid"))
    scored
      .join(comp, scored("_vid") === comp("node"), "left")
      .select(col("_vid"), col("cell_id"),
        coalesce(col("component"), col("_vid")).as("cluster_id"),
        col("centroid_cos"))
      .withColumn("is_kept", row_number().over(win) === 1)
      .select(col("_vid").as(idCol), col("cell_id"), col("cluster_id"),
        col("centroid_cos"), col("is_kept"))
  }

  /** Substring-level shared-span detection — seed-and-extend: every maximal
    * run of >= `minTokens` consecutive shared tokens between two documents
    * (the span-granular sibling of whole-doc MinHash dedup; capability
    * analogue of suffix-array substring dedup over training corpora, which
    * removes verbatim boilerplate that whole-doc similarity never sees).
    *
    * Algorithm, fully distributed:
    *  1. seeds: positional n-gram hashes per doc ([[graft.functions
    *     .PosShingleHashesExpr]] — one compiled pass; joins move an 8-byte
    *     hash + position, never the shingle string);
    *  2. frequency cutoff: n-grams in < 2 docs cannot seed and are dropped
    *     EARLY (the bulk of a natural corpus); n-grams in > `maxDf` docs
    *     are boilerplate whose posting lists would explode the self-join
    *     quadratically — the same hot-shingle bound jaccardPairs carries;
    *  3. self-join on the hash (id1 < id2): a shared substring of length
    *     L >= n contributes L-n+1 seed matches on ONE diagonal
    *     (p1 - p2 constant);
    *  4. gaps-and-islands per (id1, id2, diagonal): island = p1 -
    *     row_number() — consecutive seeds collapse to one maximal span,
    *     span_tokens = max(p1) - min(p1) + n.
    *
    * Output: (id1, id2, start1, start2, span_tokens), token-indexed from 0,
    * one row per maximal shared span with span_tokens >= minTokens.
    * Deterministic under any partitioning; exact up to 64-bit FNV
    * collisions (the equivalence every hashed-shingle operator here relies
    * on — and a collision only matters if it lands ADJACENT to a real run
    * on the same doc-pair diagonal). Internal periodicity (e.g. "a a a a"
    * shared) reports one maximal run per diagonal — the standard maximal-
    * exact-match semantics.
    *
    * Scale: the exploded seed frame is one row per token position (linear
    * in corpus); the df-cutoff aggregate and the self-join shuffle on the
    * same key (hash), and the islands window + final aggregate shuffle on
    * (id1, id2) pairs — fine-grained keys with no hot spot once maxDf caps
    * the posting lists. No driver state, no collect. */
  def sharedSpans(df: DataFrame, idCol: String, textCol: String,
                  n: Int, minTokens: Int, maxDf: Int = 64): DataFrame = {
    require(n >= 2, s"seed n-gram width must be >= 2, got $n")
    require(minTokens >= n, s"minTokens ($minTokens) must be >= n ($n)")
    import org.apache.spark.sql.expressions.Window
    val grams = df.select(col(idCol).as("_sid"),
        posexplode(graft.functions.PosShingleHashesExpr(col(textCol), n)))
      .toDF("_sid", "pos", "h")
    // n-grams that can seed a cross-doc pair: distinct-doc count in [2, maxDf]
    val seedKeys = grams.groupBy("h")
      .agg(countDistinct(col("_sid")).as("_df"))
      .filter(col("_df").between(2, maxDf)).select("h")
    val seeds = grams.join(seedKeys, "h")
    val left = seeds.select(col("h"), col("_sid").as("id1"), col("pos").as("p1"))
    val right = seeds.select(col("h"), col("_sid").as("id2"), col("pos").as("p2"))
    val pairs = left.join(right, Seq("h"))
      .filter(col("id1") < col("id2"))
      .withColumn("diag", col("p1") - col("p2"))
    val w = Window.partitionBy(col("id1"), col("id2"), col("diag")).orderBy(col("p1"))
    pairs.withColumn("_island", col("p1") - row_number().over(w))
      .groupBy(col("id1"), col("id2"), col("diag"), col("_island"))
      .agg(min(col("p1")).as("start1"), min(col("p2")).as("start2"),
        (max(col("p1")) - min(col("p1")) + lit(n)).as("span_tokens"))
      .filter(col("span_tokens") >= minTokens)
      .select(col("id1"), col("id2"), col("start1").cast("long"),
        col("start2").cast("long"), col("span_tokens").cast("long"))
      .toDF("id1", "id2", "start1", "start2", "span_tokens")
  }

  /** The removal half of substring dedup (the action [[sharedSpans]]
    * detects for): every LATER occurrence of a shared span — the id2 side,
    * so the lowest doc id keeps its copy, the keep-first policy
    * TextPipeline.dedupSpans uses at block granularity — is cut out, and
    * documents rebuild from the surviving tokens.
    *
    * Overlapping removal intervals within a doc union-merge first (one
    * gaps-and-islands window per doc: an interval starting past the
    * running max end opens a new island), so a token is removed once no
    * matter how many pairs cover it. Output: (idCol, clean_text,
    * n_removed) for EVERY input doc — untouched docs pass through with
    * n_removed = 0.
    *
    * Scale: inherits sharedSpans' linear seed economics; the merge window
    * keys on the removing doc (fine-grained), and the kill set explodes
    * only REMOVED positions — bounded by the duplicated fraction of the
    * corpus, not the corpus. Rebuild is one anti-join + one per-doc
    * aggregate. */
  def removeSharedSpans(df: DataFrame, idCol: String, textCol: String,
                        n: Int, minTokens: Int, maxDf: Int = 64): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spans = sharedSpans(df, idCol, textCol, n, minTokens, maxDf)
    val iv = spans.select(col("id2").as("_rid"), col("start2").as("s"),
      (col("start2") + col("span_tokens")).as("e")).distinct()
    val ord = Window.partitionBy("_rid").orderBy(col("s"), col("e"))
    val merged = iv
      .withColumn("brk", when(col("s") > coalesce(
        max(col("e")).over(ord.rowsBetween(Window.unboundedPreceding, -1)),
        lit(-1L)), 1).otherwise(0))
      .withColumn("grp", sum(col("brk")).over(ord))
      .groupBy(col("_rid"), col("grp"))
      .agg(min(col("s")).as("s"), max(col("e")).as("e"))
    val kill = merged.select(col("_rid"),
      explode(sequence(col("s"), col("e") - 1)).as("pos"))
    val toks = df.select(col(idCol).as("_rid"),
        posexplode(TextFunctions.tokens(col(textCol))))
      .toDF("_rid", "pos", "tok")
      .withColumn("pos", col("pos").cast("long"))
    val kept = toks.join(kill, Seq("_rid", "pos"), "left_anti")
      .groupBy(col("_rid"))
      .agg(array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("tok")))),
          x => x.getField("tok")), " ").as("clean_text"),
        count(lit(1)).as("n_kept"))
    df.select(col(idCol).as("_rid"),
        size(TextFunctions.tokens(col(textCol))).cast("long").as("n_total"))
      .join(kept, Seq("_rid"), "left")
      .select(col("_rid").as(idCol),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        (col("n_total") - coalesce(col("n_kept"), lit(0L))).as("n_removed"))
  }

  /** Character-level near-duplicate pairs, CONFIRMED by edit distance:
    * MinHash/LSH banding proposes candidates, exact n-gram Jaccard >=
    * `jaccardGate` bounds the candidate set (identical candidate semantics
    * to [[minhashDupPairs]], so recall follows the same S-curve argument),
    * and normalized Levenshtein similarity
    *
    *   edit_sim = 1 − lev(t1, t2) / max(len1, len2)   >= minSim
    *
    * confirms on the character level — the standard second-stage check
    * when shingle Jaccard alone over-merges (short docs, heavy shared
    * boilerplate) or when the dedup policy is defined on edit distance
    * (near-identical records, OCR/transcription variants).
    *
    * Cost control, in evaluation order:
    *  - the Jaccard gate bounds PAIR COUNT (high edit similarity implies
    *    high shingle Jaccard, never the reverse — every character edit
    *    touches at most n shingles, so edit_sim >= minSim pairs survive a
    *    gate set moderately below it);
    *  - a length prefilter (lev >= |len1 − len2| is a lower bound) drops
    *    pairs before any O(len²) work;
    *  - the Levenshtein itself runs BANDED with a per-pair threshold
    *    (`levenshtein(t1, t2, thr)` — Ukkonen's band), O(maxlen ·
    *    (1−minSim)·maxlen) instead of O(len1·len2); above-threshold pairs
    *    return −1 and are filtered without completing the matrix.
    *
    * Both the prefilter and the band carry +1 slack so the final filter on
    * the 6-decimal-ROUNDED similarity can never disagree with them (exact
    * for docs up to ~2M chars, where 5e-7·maxlen < 1).
    *
    * Engine note: Spark's levenshtein counts CHARACTER edits; DuckDB's
    * counts BYTE edits — equal on ASCII text, divergent on multi-byte
    * UTF-8, which is why the gate query runs on the (all-ASCII) fixture
    * unfiltered but a cross-engine oracle over non-ASCII text must
    * normalize first.
    *
    * Output: (id1, id2, lev, edit_sim) with id1 < id2. At the >10M-doc
    * scale swap the broadcast text lookups for bucketed joins exactly as
    * [[minhashDupPairsBucketed]] does for signatures. */
  def editDistancePairs(df: DataFrame, idCol: String, textCol: String,
                        n: Int, k: Int, bands: Int, jaccardGate: Double,
                        minSim: Double): DataFrame = {
    require(minSim > 0 && minSim <= 1, s"minSim must be in (0,1], got $minSim")
    val cands = minhashDupPairs(df, idCol, textCol, n, k, bands, jaccardGate)
      .select("id1", "id2")
    val txt = df.select(col(idCol).as("doc"), col(textCol).as("t"),
      length(col(textCol)).cast("long").as("len"))
    cands
      .join(broadcast(txt.select(col("doc").as("id1"), col("t").as("t1"),
        col("len").as("len1"))), "id1")
      .join(broadcast(txt.select(col("doc").as("id2"), col("t").as("t2"),
        col("len").as("len2"))), "id2")
      .withColumn("maxlen", greatest(col("len1"), col("len2"), lit(1L)))
      .filter(abs(col("len1") - col("len2")) <=
        (lit(1.0) - minSim) * col("maxlen") + 1)
      .withColumn("thr",
        (ceil((lit(1.0) - minSim) * col("maxlen")) + 1).cast("int"))
      .withColumn("lev", expr("levenshtein(t1, t2, thr)"))
      .filter(col("lev") >= 0)
      .withColumn("edit_sim", round(lit(1.0) -
        col("lev").cast("double") / col("maxlen").cast("double"), 6))
      .filter(col("edit_sim") >= minSim)
      .select(col("id1"), col("id2"), col("lev").cast("long").as("lev"),
        col("edit_sim"))
  }

  /** C4-style duplicated-CHUNK removal (the sub-document granularity the
    * C4 pipeline applied to three-sentence spans / lines): documents split
    * into deterministic `chunkTokens`-token chunks ([[TextPipeline.chunk]]
    * with zero overlap), every chunk text keeps only its FIRST occurrence
    * corpus-wide — first = lexicographic min (doc, position), so
    * within-doc repeats dedup too — and each doc reassembles from its
    * surviving chunks in position order. Docs left with no surviving
    * chunk (fully duplicated content, or empty) drop from the output,
    * exactly as C4 drops emptied pages.
    *
    * Where [[exactGroups]] removes whole duplicate documents and
    * [[removeSharedSpans]] cuts arbitrary-offset shared spans pairwise,
    * this is the corpus-global middle ground: one hash-aggregate on the
    * chunk text (ONE corpus-sized shuffle) + one per-doc reassembly —
    * no pairwise work at any scale. At 100 TB, group on the chunk's
    * (fnv1a64, xxhash64) DOUBLE fingerprint ([[charGramFingerprints]]'
    * currency) instead of the full text — 16 bytes of shuffle key,
    * identically shaped. Double, not single: keep-first under a
    * collided fingerprint does not merely hide a duplicate, it REMOVES
    * a distinct chunk from a document, and one 64-bit hash is even-odds
    * collided somewhere by ~4×10⁹ distinct chunks (birthday bound) —
    * far below 100 TB of chunks; two independent hashes push the
    * per-pair odds to ~2^-128 ([[GramIndex]]'s collision-exact
    * contract; the streaming face, StreamingDedup.ChunkClaim, claims on
    * exactly this pair). */
  def dedupChunksKeepFirst(df: DataFrame, idCol: String, textCol: String,
                           chunkTokens: Int): DataFrame = {
    val chunks = TextPipeline.chunk(df, idCol, textCol, chunkTokens, overlap = 0)
    val first = chunks.groupBy(col("chunk_text"))
      .agg(min(struct(col(idCol), col("chunk_idx"))).as("_m"))
    val perDoc = chunks.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_chunks"))
    chunks.join(first, Seq("chunk_text"))
      .filter(col("_m")(idCol) === col(idCol) &&
        col("_m")("chunk_idx") === col("chunk_idx"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(array_sort(collect_list(
          struct(col("chunk_idx"), col("chunk_text")))),
          x => x.getField("chunk_text")), " ").as("text_dedup"))
      .join(perDoc, Seq(idCol))
      .select(col(idCol), col("n_chunks"), col("n_kept"), col("text_dedup"))
  }

  /** [[dedupChunksKeepFirst]] over CONTENT-DEFINED chunks
    * ([[TextPipeline.cdcChunks]]) — the shift-robust form: because CDC
    * boundaries depend only on local content, a passage duplicated at an
    * ARBITRARY character offset produces byte-identical chunks in both
    * documents (after at most one boundary re-synchronization on each
    * side), so the same one-shuffle keep-first hash-aggregate that C4's
    * aligned chunking runs now catches unaligned duplication — the case
    * where aligned chunks all differ by the offset and nothing dedups
    * (spec-pinned with a planted shifted copy).
    *
    * Keep-first = lexicographic min (doc, chunk_idx) per chunk text;
    * docs reassemble from surviving chunks in position order, chunks
    * concatenated WITHOUT separator (CDC chunks tile the raw text).
    * Docs left with no surviving chunk drop. Same 100-TB shape note as
    * [[dedupChunksKeepFirst]]: group on the (fnv1a64, xxhash64) DOUBLE
    * fingerprint — keep-first corrupts on collision, so the chunk
    * family carries the collision-exact double-hash contract; the gate
    * groups on the text so the oracle is equality-exact. */
  def dedupCdcKeepFirst(df: DataFrame, idCol: String, textCol: String,
                        window: Int, divisor: Long,
                        remainder: Long): DataFrame = {
    val chunks = TextPipeline.cdcChunks(df, idCol, textCol, window,
      divisor, remainder)
    val first = chunks.groupBy(col("chunk_text"))
      .agg(min(struct(col(idCol), col("chunk_idx"))).as("_m"))
    val perDoc = chunks.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_chunks"))
    chunks.join(first, Seq("chunk_text"))
      .filter(col("_m")(idCol) === col(idCol) &&
        col("_m")("chunk_idx") === col("chunk_idx"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(array_sort(collect_list(
          struct(col("chunk_idx"), col("chunk_text")))),
          x => x.getField("chunk_text")), "").as("text_dedup"))
      .join(perDoc, Seq(idCol))
      .select(col(idCol), col("n_chunks"), col("n_kept"), col("text_dedup"))
  }

  /** EXACT duplicated-substring removal — the ExactSubstr mode of
    * suffix-array training-data dedup (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better"): every character that
    * lies inside ANY substring of length >= `minLen` occurring two or more
    * times ANYWHERE in the corpus (across docs, within a doc, boilerplate
    * included) is excised, and each document reassembles from the
    * surviving character ranges. This is the corpus-GLOBAL, any-offset,
    * character-level sibling of [[removeSharedSpans]] (pairwise, token-
    * level, df-capped — high-df boilerplate deliberately escapes it) and
    * [[dedupChunksKeepFirst]] (aligned chunks only).
    *
    * NO suffix array is needed for these semantics. The reduction: a
    * duplicated substring of length m >= L contains a duplicated L-gram at
    * every offset, and their L-char windows tile the whole occurrence; a
    * duplicated L-gram is itself a duplicated substring of length L. So
    *
    *   union of spans of duplicated substrings of length >= L
    *     == union of windows of duplicated L-grams
    *
    * exactly — the suffix-array pass of the published pipeline exists to
    * ENUMERATE maximal duplicates, not to define the removed set. The
    * L-gram form is one hash-aggregate instead of a global suffix sort.
    *
    * Algorithm, fully distributed, collision-exact:
    *  1. one pass of the native [[graft.functions.GramHashesExpr]]
    *     window kernel emits (doc, pos, fnv1a64(L-gram)) — an 8-byte
    *     hash per position off one walk of the doc's bytes, never the
    *     L-char string (no Lx shuffle amplification);
    *  2. the position rows cross ONE exchange, keyed on h, and a window
    *     count over h keeps the hashes with global count >= 2 as
    *     CANDIDATE duplicates — the kernel runs once, and no aggregate is
    *     joined back to a second pass over the corpus;
    *  3. candidates re-materialize their gram text (join back to the doc
    *     text, bounded by the duplicated fraction of the corpus) and
    *     confirm by exact text count >= 2 per (h, text) — a true
    *     duplicate's occurrences all share its hash, so that count equals
    *     the global text count, and the rows are already partitioned by h,
    *     so with the doc text broadcast it costs a sort and no shuffle;
    *     hash collisions surface here and drop;
    *  4. confirmed window starts collect per doc (one doc-keyed
    *     aggregate) and the native [[graft.functions.ExciseSpansExpr]]
    *     merges the [pos, pos+L) windows and rebuilds the doc in one pass
    *     over its bytes — no character explode, no per-span fold.
    *
    * Output: (idCol, clean_text, n_spans, n_removed) for EVERY input doc;
    * untouched and shorter-than-L docs pass through with n_spans =
    * n_removed = 0. Removal is position-blind (ALL occurrences go,
    * matching the released ExactSubstr tool's behavior — duplicated
    * content is low-value wherever it sits; compose with
    * [[dedupChunksKeepFirst]] when a keep-first policy is wanted).
    *
    * Scale: steps 1–2 shuffle each position row (doc, pos, h) once, on an
    * 8-byte key, with no map-side combine: a gram in k places costs k
    * rows in its h partition, and a hot gram's rows are buffered (and
    * spill) in the window operator. Step 3 brings the doc text to the
    * candidates only: broadcast, the confirm runs on the h partitioning
    * as it is; docs too large to broadcast join on the doc, and the
    * confirm then shuffles the candidate rows once more, on (h, g).
    * Step 4 keys on the doc. No pairwise join, no posting-list blowup
    * (k rows, not k²), no driver state. */
  def exactSubstrRemove(df: DataFrame, idCol: String, textCol: String,
                        minLen: Int): DataFrame = {
    require(minLen >= 2, s"minLen must be >= 2, got $minLen")
    val docs = exactSubstrDocs(df, idCol, textCol)
    excise(docs, dupWindowStarts(docs, minLen), minLen, idCol)
  }

  /** (_d, _t, _len) — the document frame every ExactSubstr operator
    * starts from. */
  private def exactSubstrDocs(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("_d"), col(textCol).as("_t"),
      length(col(textCol)).cast("long").as("_len"))

  /** (_d, pos, h): one 8-byte FNV hash per character position of `docs`
    * (_d, _t, _len), from the native [[graft.functions.GramHashesExpr]]
    * window kernel (h == fnv1a64(substr(_t, pos + 1, L)), no window
    * string built); docs shorter than L emit none. */
  private def rollingGramHashes(docs: DataFrame, L: Int): DataFrame =
    docs.select(col("_d"), posexplode(graft.functions.GramHashesExpr(col("_t"), L)))
      .toDF("_d", "pos", "h")
      .withColumn("pos", col("pos").cast("long"))

  /** (_d, pos, h, _hc): [[rollingGramHashes]] with `_hc`, the corpus-wide
    * count of each hash, as a window count over `h` — the kernel runs
    * once and its rows cross one h-keyed exchange, where a `groupBy(h)`
    * joined back to the grams would run the kernel a second time and
    * ship the rows again. */
  private def hashCounted(docs: DataFrame, L: Int): DataFrame =
    rollingGramHashes(docs, L).withColumn("_hc",
      count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy(col("h"))))

  /** (_d, pos) starts of the L-windows whose text occurs >= 2 times in
    * the corpus: hash-count candidates, then the collision-exact text
    * confirm over the very bytes the hash covered
    * ([[graft.functions.GramWindowExpr]]), counted per (h, g). Every
    * occurrence of one text shares its hash, so that count is the global
    * text count, and with the doc text broadcast the h-partitioned
    * candidates need no second exchange for it. */
  private def dupWindowStarts(docs: DataFrame, L: Int): DataFrame =
    hashCounted(docs, L).filter(col("_hc") >= 2)
      .join(docs.select(col("_d"), col("_t")), "_d")
      .select(col("_d"), col("pos"), col("h"),
        graft.functions.GramWindowExpr(col("_t"), col("pos"), L).as("g"))
      .withColumn("_n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("h"), col("g"))))
      .filter(col("_n") >= 2)
      .select(col("_d"), col("pos"))

  /** `docs` left-joined to its window starts from `pos` (_d, pos),
    * collected per doc as `_ps` (null for a doc with none): the one
    * doc-keyed aggregate in front of the span kernels. */
  private def withWindowStarts(docs: DataFrame, pos: DataFrame): DataFrame =
    docs.join(pos.groupBy(col("_d")).agg(collect_list(col("pos")).as("_ps")),
      Seq("_d"), "left")

  /** The removal half of the ExactSubstr family, shared by
    * [[exactSubstrRemove]] and [[GramIndex.ingest]]: given `docs`
    * (_d, _t, _len) and the duplicated window starts `dupPos` (_d, pos),
    * collect each doc's starts (one doc-keyed aggregate) and cut the
    * union-merged [pos, pos+L) windows out of its text with the native
    * [[graft.functions.ExciseSpansExpr]]. Output (idCol, clean_text,
    * n_spans, n_removed); untouched docs pass through with zero counts. */
  private[graft] def excise(docs: DataFrame, dupPos: DataFrame, L: Int,
                            idCol: String): DataFrame =
    withWindowStarts(docs, dupPos)
      .select(col("_d"),
        graft.functions.ExciseSpansExpr(col("_t"), col("_ps"), L).as("_x"))
      .select(col("_d").as(idCol), col("_x.clean_text").as("clean_text"),
        col("_x.n_spans").as("n_spans"), col("_x.n_removed").as("n_removed"))

  /** The LOSS-MASKING alternative to [[exactSubstrRemove]] (Lee et al.
    * 2022 §5 discuss masking the training loss on duplicated spans
    * instead of deleting them — text stays intact for context, the
    * model just never trains ON the duplicated characters): per doc,
    * the union-merged [pos, pos+L) character intervals covered by
    * L-char windows duplicated corpus-wide, emitted as an explicit span
    * list a training loader turns into a loss mask.
    *
    * Output: (idCol, mask_spans, n_mask_spans, n_masked_chars, len) —
    * mask_spans the canonical "s:e;s:e" rendering (half-open, ascending,
    * "" when nothing masks), len the doc's char length. Masking the
    * spans of [[exactSubstrRemove]]'s output and removing them agree by
    * construction: same windows, same merge.
    *
    * Same machinery and scale shape as qf8: one rolling-hash pass, one
    * h-keyed window count for candidates, the collision-exact (h, text)
    * confirm on the duplicated subset only, and the same per-doc span
    * merge ([[graft.functions.MergedSpansExpr]]). Linear end to end; only
    * candidate rows ever carry their text. */
  def exactSubstrMask(df: DataFrame, idCol: String, textCol: String,
                      minLen: Int): DataFrame = {
    require(minLen >= 2, s"minLen must be >= 2, got $minLen")
    val docs = exactSubstrDocs(df, idCol, textCol)
    withWindowStarts(docs, dupWindowStarts(docs, minLen))
      .select(col("_d"), col("_len"),
        graft.functions.MergedSpansExpr(col("_ps"), minLen).as("_m"))
      .select(col("_d").as(idCol), col("_m.spans").as("mask_spans"),
        col("_m.n_spans").as("n_mask_spans"), col("_m.n_chars").as("n_masked_chars"),
        col("_len").as("len"))
  }

  /** Memorization-risk report — the per-document EXPOSURE metric of the
    * memorization literature (content a model could only have learned
    * from this one document): for each doc, the merged character spans
    * covered by L-char windows that are UNIQUE corpus-wide (global
    * count == 1), as (idCol, n_unique_spans, n_unique_chars,
    * frac_unique_millis = floor(1000·chars/len)). The dual of
    * [[exactSubstrRemove]] — duplication's windows get removed, and
    * uniqueness's windows are what deduplication can never touch, so
    * this report is the release-time check that the SURVIVING corpus
    * still carries how much single-source content.
    *
    * Uniqueness (unlike duplication) does not reduce across lengths —
    * a rare long string can be tiled by common windows — so the metric
    * is defined AT the window length: a position is exposed iff some
    * unique L-window covers it. Same machinery as qf8: one rolling-hash
    * pass whose rows cross one h-keyed exchange into a window count, and
    * the per-doc span merge ([[graft.functions.MergedSpansExpr]]). No
    * text confirm is needed — every occurrence of one text
    * shares its hash, so hash-count == 1 IMPLIES text-count == 1 and a
    * unique verdict is exact; a cross-gram collision can only HIDE a
    * unique window (counts inflate), never invent one — the usual
    * 64-bit-equivalence understatement, ~2^-64 per pair. Linear end to
    * end, no pairwise term. */
  def memorizationReport(df: DataFrame, idCol: String, textCol: String,
                         windowLen: Int): DataFrame = {
    require(windowLen >= 2, s"windowLen must be >= 2, got $windowLen")
    val L = windowLen
    val docs = exactSubstrDocs(df, idCol, textCol)
    val uniquePos = hashCounted(docs, L).filter(col("_hc") === 1)
      .select(col("_d"), col("pos"))
    withWindowStarts(docs, uniquePos)
      .select(col("_d"), col("_len"),
        graft.functions.MergedSpansExpr(col("_ps"), L).as("_m"))
      .select(col("_d").as(idCol), col("_m.n_spans").as("n_unique_spans"),
        col("_m.n_chars").as("n_unique_chars"),
        when(col("_len") > 0, expr("(_m.n_chars * 1000L) DIV _len"))
          .otherwise(lit(0L)).as("frac_unique_millis"))
  }

  /** (_d, pos, h, h2) double-hash rolling L-gram fingerprints over
    * `docs` (_d, _t, _len) — the cross-run currency of [[GramIndex]]:
    * FNV-1a 64 + xxhash64 of the same window, 16 bytes per character
    * position, never the L-char string. Both hashes come off one walk of
    * each doc's bytes in the native [[graft.functions.GramHashesExpr]]
    * kernel (h == fnv1a64(substr(_t, pos + 1, L)), h2 == xxhash64 of the
    * same substr), and the explode carries only `carryCols` and `_d`,
    * never the text. Two independent 64-bit hashes agree on different
    * grams with probability ~2^-128 per comparison — the same
    * hash-equivalence contract the shingle family documents, squared. */
  private[graft] def charGramFingerprints(docs: DataFrame, L: Int,
                                          carryCols: Seq[String] = Nil): DataFrame =
    docs.select((carryCols.map(col) :+ col("_d")) :+
        posexplode(graft.functions.GramHashesExpr.withXxhash(col("_t"), L))
          .as(Seq("pos", "_g")): _*)
      .select((carryCols.map(col) :+ col("_d")) :+
        col("pos").cast("long").as("pos") :+
        col("_g.h").as("h") :+ col("_g.h2").as("h2"): _*)
}
