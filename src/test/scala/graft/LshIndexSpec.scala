package graft

import graft.operators.{Dedup, LshIndex}
import org.apache.spark.sql.functions._

/** Persistent bucketed LSH index (operators/LshIndex.scala): batch-split
  * invariance against the one-shot batch dedup, the zero-corpus-exchange
  * plan, and catalog-detach/attach survival (the cross-run story). */
class LshIndexSpec extends SparkSpec {
  import spark.implicits._

  private val ref = LshIndex.Ref("spec", buckets = 4)

  private def docs(rows: (Long, String)*) = rows.toDF("doc_id", "text")

  private val base = "the quick brown fox jumps over the lazy dog again and again"
  private val corpus = Seq[(Long, String)](
    1L -> base,
    2L -> "completely different words about entirely unrelated topics here now",
    3L -> base, // dup of 1 (same batch)
    11L -> (base + " tail"), // near-dup of 1/3 (later batch)
    12L -> "another disjoint document with its own private vocabulary set",
    21L -> base, // dup of 1/3/11 (third batch)
    22L -> "more singleton text that matches nothing else in the corpus")
  private val batches = Seq(
    corpus.filter(_._1 < 10), corpus.filter(r => r._1 >= 10 && r._1 < 20),
    corpus.filter(_._1 >= 20))

  private def ingestAll(): Seq[org.apache.spark.sql.DataFrame] =
    batches.map(b => LshIndex.ingest(docs(b: _*), "doc_id", "text",
      n = 2, k = 128, bands = 64, threshold = 0.5, ref))

  test("mustRename is loud on a failed rename (Hadoop reports false, " +
    "not an exception) — the compact swap cannot silently void durability") {
    // Hadoop's FileSystem contract lets rename report failure by
    // returning false (permissions, transient store errors) instead of
    // throwing — plant exactly that mode
    val f = new org.apache.hadoop.fs.RawLocalFileSystem() {
      override def rename(src: org.apache.hadoop.fs.Path,
                          dst: org.apache.hadoop.fs.Path): Boolean = false
    }
    f.initialize(java.net.URI.create("file:///"),
      spark.sparkContext.hadoopConfiguration)
    val dir = java.nio.file.Files.createTempDirectory("mustrename").toString
    val e = intercept[IllegalArgumentException] {
      graft.operators.IndexStore.mustRename(f, new org.apache.hadoop.fs.Path(dir, "a"),
        new org.apache.hadoop.fs.Path(dir, "b"))
    }
    assert(e.getMessage.contains("rename") && e.getMessage.contains("failed"))
  }

  test("batched ingest finds exactly the one-shot pair set, oriented by ingest order") {
    LshIndex.drop(spark, ref)
    val got = ingestAll().reduce(_ unionByName _)
      .select($"old_id", $"new_id").as[(Long, Long)].collect().toSet
    // batches are id-ordered, so ingest order == id order and the one-shot
    // (id1 < id2) orientation is directly comparable
    val expected = Dedup.minhashDupPairs(docs(corpus: _*), "doc_id", "text",
        n = 2, k = 128, bands = 64, threshold = 0.5)
      .select($"id1", $"id2").as[(Long, Long)].collect().toSet
    assert(got === expected)
    assert(got.contains((1L, 3L)) && got.contains((3L, 11L)) && got.contains((11L, 21L)))
  }

  test("the batch-vs-corpus candidate join shuffles only the batch side") {
    LshIndex.drop(spark, ref)
    ingestAll()
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val probe = Dedup.bandBucketsFor(docs(31L -> base), "doc_id", "text",
        n = 2, k = 128, bands = 64)
      val j = spark.table(ref.bandedTable).as("i").join(probe.as("b"),
        $"i.band" === $"b.band" && $"i.bucket" === $"b.bucket")
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("Bucketed: true"), s"index scan should be bucketed:\n$plan")
      val exchanges = "Exchange".r.findAllIn(plan).size
      assert(exchanges === 1, s"only the probe side may shuffle, plan:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("detach + attach: files alone restore the index, bucketing intact") {
    LshIndex.drop(spark, ref)
    ingestAll()
    val before = ref.layout.map { case (t, _) => spark.table(t).count() }
    // external tables: dropping the catalog entry must keep the files
    ref.layout.foreach { case (t, _) => spark.sql(s"DROP TABLE $t") }
    assert(!spark.catalog.tableExists(ref.bandedTable))
    LshIndex.attach(spark, ref)
    assert(ref.layout.map { case (t, _) => spark.table(t).count() } === before)
    // a bare scan reports "Bucketed: false (disabled by query planner)" —
    // bucketed reads only engage when a join/agg wants the distribution, so
    // assert on the join plan exactly like the ingest path drives it
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val probe = Dedup.bandBucketsFor(docs(31L -> base), "doc_id", "text",
        n = 2, k = 128, bands = 64)
      val plan = spark.table(ref.bandedTable).as("i").join(probe.as("b"),
          $"i.band" === $"b.band" && $"i.bucket" === $"b.bucket")
        .queryExecution.executedPlan.toString
      assert(plan.contains("Bucketed: true"), s"attached scan should stay bucketed:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    // and the restored index still serves cross-batch lookups
    val out = LshIndex.ingest(docs(41L -> base), "doc_id", "text",
      n = 2, k = 128, bands = 64, threshold = 0.5, ref)
    val olds = out.select($"old_id").as[Long].collect().toSet
    assert(olds === Set(1L, 3L, 11L, 21L))
    LshIndex.drop(spark, ref)
  }

  test("compact: one file per bucket, content and bucketed plan preserved") {
    LshIndex.drop(spark, ref)
    ingestAll() foreach (_ => ()) // 3 ingests => 3 files per bucket
    def files(t: String) = new java.io.File(spark.conf
      .get("spark.sql.warehouse.dir").stripPrefix("file:"), t)
      .listFiles().count(_.getName.endsWith(".parquet"))
    val before = ref.layout.map { case (t, _) =>
      (t, spark.table(t).collect().map(_.toString).sorted.toSeq, files(t))
    }
    assert(before.forall(_._3 > ref.buckets), s"expected multi-file tables: $before")
    LshIndex.compact(spark, ref)
    before.foreach { case (t, rows, _) =>
      assert(files(t) <= ref.buckets, s"$t not compacted: ${files(t)} files")
      assert(spark.table(t).collect().map(_.toString).sorted.toSeq === rows,
        s"$t content changed under compaction")
    }
    // bucketed join still engages after the rewrite
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val probe = Dedup.bandBucketsFor(docs(51L -> base), "doc_id", "text",
        n = 2, k = 128, bands = 64)
      val plan = spark.table(ref.bandedTable).as("i").join(probe.as("b"),
          $"i.band" === $"b.band" && $"i.bucket" === $"b.bucket")
        .queryExecution.executedPlan.toString
      assert(plan.contains("Bucketed: true"), s"compacted scan lost bucketing:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    LshIndex.drop(spark, ref)
  }

  test("planted crash: a crashed ingest's appends landed but its pairs " +
    "were lost — the retry under the SAME delivery id returns the " +
    "identical pair set, and later deliveries stay exact") {
    def ing(r: LshIndex.Ref, b: Seq[(Long, String)], d: String) =
      LshIndex.ingest(docs(b: _*), "doc_id", "text",
        n = 2, k = 128, bands = 64, threshold = 0.5, r, delivery = d)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select($"old_id", $"new_id", $"jaccard").as[(Long, Long, Double)]
        .collect().toSet
    // uncrashed twin
    val aref = LshIndex.Ref("crasha", buckets = 4)
    LshIndex.drop(spark, aref)
    ing(aref, batches(0), "d0").count()
    val expect1 = pairs(ing(aref, batches(1), "d1"))
    val expect2 = pairs(ing(aref, batches(2), "d2"))
    // crashed run: delivery d1's ingest runs to completion (all three
    // appends are in) but the caller loses the returned pairs — the
    // state a crash after the appends leaves behind
    val bref = LshIndex.Ref("crashb", buckets = 4)
    LshIndex.drop(spark, bref)
    ing(bref, batches(0), "d0").count()
    ing(bref, batches(1), "d1").count()
    // retry with the SAME id: self-exclusion keeps the batch from
    // pairing with its own crashed artifacts (no self-pairs, no doubled
    // within-batch pairs)
    assert(pairs(ing(bref, batches(1), "d1")) === expect1)
    // a LATER delivery sees duplicate d1 rows at rest — the result-side
    // set semantics keep its pair set exact anyway
    assert(pairs(ing(bref, batches(2), "d2")) === expect2)
    LshIndex.drop(spark, aref); LshIndex.drop(spark, bref)
  }

  test("recoverDelivery retracts a crashed delivery: a fresh ingest of the " +
    "same content under a NEW id behaves as if the crash never happened") {
    def ing(r: LshIndex.Ref, b: Seq[(Long, String)], d: String) =
      LshIndex.ingest(docs(b: _*), "doc_id", "text",
        n = 2, k = 128, bands = 64, threshold = 0.5, r, delivery = d)
    val rref = LshIndex.Ref("crashrec", buckets = 4)
    LshIndex.drop(spark, rref)
    ing(rref, batches(0), "d0").count()
    val expect = ing(rref, batches(1), "dX")
      .select($"old_id", $"new_id").as[(Long, Long)].collect().toSet
    LshIndex.recoverDelivery(spark, rref, "dX")
    assert(spark.table(rref.sigsTable).filter($"delivery" === "dX").count() === 0)
    // post-retraction the same content ingests under a NEW id cleanly
    val got = ing(rref, batches(1), "d9")
      .select($"old_id", $"new_id").as[(Long, Long)].collect().toSet
    assert(got === expect)
    LshIndex.drop(spark, rref)
  }

  test("compact recovers a swap crash: live files aside under _old, " +
    "catalog entry dropped") {
    LshIndex.drop(spark, ref)
    ingestAll()
    val before = ref.layout.map { case (t, _) =>
      spark.table(t).collect().map(_.toString).sorted.toSeq }
    // simulate a compact that died between its two swap renames: the
    // banded table's catalog entry is dropped and its directory sits
    // aside as _old (no live directory at all)
    val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    spark.sql(s"DROP TABLE ${ref.bandedTable}")
    val live = new java.io.File(wh, ref.bandedTable)
    val old = new java.io.File(wh, s"${ref.bandedTable}_old")
    assert(live.renameTo(old), "simulated crash rename failed")
    LshIndex.compact(spark, ref)
    assert(!old.exists, "_old must be cleaned up after recovery")
    assert(ref.layout.map { case (t, _) =>
      spark.table(t).collect().map(_.toString).sorted.toSeq } === before)
    LshIndex.drop(spark, ref)
  }

  test("fsck detects a torn ingest append and names the delta") {
    LshIndex.drop(spark, ref)
    ingestAll()
    assert(LshIndex.fsck(spark, ref).head(1).isEmpty, "clean index must pass")
    LshIndex.verifyConsistent(spark, ref) // must not throw
    // plant the torn append: one doc's rows land in banded ONLY (a crash
    // between the three concurrent artifact appends)
    spark.table(ref.bandedTable).limit(1)
      .select(lit(99L).as("doc"), col("band"), col("bucket"), col("delivery"))
      .write.mode("append").format("parquet")
      .bucketBy(ref.buckets, "band", "bucket").sortBy("band", "bucket")
      .saveAsTable(ref.bandedTable)
    val bad = LshIndex.fsck(spark, ref).collect()
    assert(bad.map(_.getLong(0)).toSeq === Seq(99L))
    assert(bad.head.getSeq[String](1) === Seq("banded"))
    val e = intercept[IllegalStateException] {
      LshIndex.verifyConsistent(spark, ref) }
    assert(e.getMessage.contains("99") && e.getMessage.contains("banded"))
    // the executable repair: purge the orphan's partial artifacts...
    assert(LshIndex.repairTorn(spark, ref) === 1L)
    LshIndex.verifyConsistent(spark, ref) // consistent again
    assert(spark.table(ref.bandedTable).filter(col("doc") === 99L).count() === 0)
    // ...then the orphan re-ingests whole under its SAME id and is fully
    // live: a fresh near-dup probe finds it through the index
    LshIndex.ingest(docs(99L -> base), "doc_id", "text",
      n = 2, k = 128, bands = 64, threshold = 0.5, ref)
    val probe = LshIndex.ingest(docs(101L -> base), "doc_id", "text",
      n = 2, k = 128, bands = 64, threshold = 0.5, ref)
    assert(probe.select($"old_id").as[Long].collect().toSet.contains(99L))
    LshIndex.drop(spark, ref)
  }

  test("write lease: a second writer fails fast with the holder's name; " +
    "breakLease restores write access") {
    LshIndex.drop(spark, ref)
    ingestAll()
    // a crashed writer's lingering lease — the on-storage artifact an
    // in-flight ingest/compact holds
    val lease = new java.io.File(spark.conf.get("spark.sql.warehouse.dir")
      .stripPrefix("file:"), s"graft_lshidx_lease_${ref.tag}")
    java.nio.file.Files.write(lease.toPath,
      "crashed-ingest".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val e1 = intercept[IllegalStateException] {
      LshIndex.ingest(docs(61L -> base), "doc_id", "text",
        n = 2, k = 128, bands = 64, threshold = 0.5, ref)
    }
    assert(e1.getMessage.contains("crashed-ingest"))
    val e2 = intercept[IllegalStateException] { LshIndex.compact(spark, ref) }
    assert(e2.getMessage.contains("crashed-ingest"))
    // index untouched by the refused writers
    val rows = spark.table(ref.bandedTable).count()
    LshIndex.breakLease(spark, ref)
    val out = LshIndex.ingest(docs(61L -> base), "doc_id", "text",
      n = 2, k = 128, bands = 64, threshold = 0.5, ref)
    assert(out.select($"old_id").as[Long].collect().toSet === Set(1L, 3L, 11L, 21L))
    assert(spark.table(ref.bandedTable).count() > rows)
    assert(!lease.exists(), "lease must release when the writer completes")
    LshIndex.drop(spark, ref)
  }

  test("streaming ingest: one file per micro-batch, restart is a ledgered no-op") {
    val sref = LshIndex.Ref("specstream", buckets = 4)
    LshIndex.drop(spark, sref)
    val base = java.nio.file.Files.createTempDirectory("lshidx_stream").toFile
    val src = new java.io.File(base, "src"); src.mkdirs()
    batches.zipWithIndex.foreach { case (b, i) =>
      docs(b: _*).coalesce(1).write.parquet(s"$src/slice$i")
      // distinct mtimes → deterministic file-source pickup order
      Thread.sleep(20)
    }
    val out = new java.io.File(base, "out").getAbsolutePath
    val ckpt = new java.io.File(base, "ckpt").getAbsolutePath
    val schema = docs(corpus: _*).schema
    def start() = LshIndex.startStreamingIngest(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
        .parquet(s"$src/slice*"),
      "doc_id", "text", n = 2, k = 128, bands = 64, threshold = 0.5,
      sref, out, ckpt)
    val q = start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.read.parquet(s"$out/pairs")
      .select($"old_id", $"new_id").as[(Long, Long)].collect().toSet
    val expected = Dedup.minhashDupPairs(docs(corpus: _*), "doc_id", "text",
        n = 2, k = 128, bands = 64, threshold = 0.5)
      .select($"id1", $"id2").as[(Long, Long)].collect().toSet
    assert(got === expected)
    assert(spark.read.parquet(s"$out/pairs").select($"batch_id").distinct().count() === 3L)
    val indexRows = spark.table(sref.bandedTable).count()
    // restart over the same source + checkpoint: nothing new to process,
    // the ledger guards the index against replays — no growth anywhere
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    assert(spark.table(sref.bandedTable).count() === indexRows)
    assert(spark.read.parquet(s"$out/pairs")
      .select($"old_id", $"new_id").as[(Long, Long)].collect().toSet === expected)
    LshIndex.drop(spark, sref)
    org.apache.commons.io.FileUtils.deleteQuietly(base)
  }

  // ---- SCOPED ingest (round 19): the FineWeb per-dump discipline at the
  // persistent-index level — family contract (restriction law, replay
  // idempotence, fsck, lease, scoped/unscoped guard) + the
  // zero-corpus-exchange plan under the scope-hashed banding ----

  private def sdocs(rows: (Long, String, String)*) =
    rows.toDF("doc_id", "scope", "text")

  private val scopedCorpus = Seq[(Long, String, String)](
    (1L, "cc-2023", base),
    (2L, "cc-2023", "completely different words about entirely unrelated topics here now"),
    (3L, "cc-2024", base), // same text as 1, OTHER scope: must never pair
    (4L, "cc-2023", base + " tail"), // near-dup of 1 within cc-2023
    (11L, "cc-2024", base), // dup of 3 within cc-2024 (later delivery)
    (12L, "cc-2023", base), // dup of 1/4 within cc-2023 (later delivery)
    (13L, "cc-2025", "a lone scope with one single document only"))
  private val scopedBatches = Seq(
    scopedCorpus.filter(_._1 < 10), scopedCorpus.filter(_._1 >= 10))
  private val sref = LshIndex.Ref("specscoped", buckets = 4)

  private def ingestScopedBatch(i: Int, delivery: String) =
    LshIndex.ingestScoped(sdocs(scopedBatches(i): _*), "doc_id", "text",
      "scope", n = 2, k = 128, bands = 64, threshold = 0.5, sref, delivery)

  test("scoped ingest: cross-delivery pairs stay scope-restricted and " +
    "equal the scoped one-shot batch operator") {
    LshIndex.drop(spark, sref)
    val got = Seq(ingestScopedBatch(0, "d0"), ingestScopedBatch(1, "d1"))
      .reduce(_ unionByName _)
      .select($"old_id", $"new_id", $"scope")
      .as[(Long, Long, String)].collect().toSet
    // batches are id-ordered, so ingest orientation == the one-shot id1<id2
    val oneShot = Dedup.minhashDupPairsScoped(sdocs(scopedCorpus: _*),
        "doc_id", "text", "scope", n = 2, k = 128, bands = 64, threshold = 0.5)
      .select($"id1", $"id2", $"scope").as[(Long, Long, String)].collect().toSet
    assert(got === oneShot)
    assert(got.contains((1L, 4L, "cc-2023")) && // within-delivery
      got.contains((3L, 11L, "cc-2024")) &&     // cross-delivery
      got.contains((1L, 12L, "cc-2023")))
    assert(!got.exists { case (a, b, _) => Set(a, b) == Set(1L, 3L) },
      "identical text in different scopes must never pair")
    LshIndex.drop(spark, sref)
  }

  test("scoped ingest family contract: delivery replay returns the identical " +
    "pair set, fsck stays clean through it, the write lease blocks a second " +
    "writer, and unscoped ingest into a scoped index is refused") {
    LshIndex.drop(spark, sref)
    ingestScopedBatch(0, "d0")
    val d1 = ingestScopedBatch(1, "d1")
      .select($"old_id", $"new_id", $"scope", $"jaccard")
      .as[(Long, Long, String, Double)].collect().toSet
    // REPLAY: the retried delivery self-excludes its landed artifacts and
    // returns the same pairs byte-for-byte
    val replay = ingestScopedBatch(1, "d1")
      .select($"old_id", $"new_id", $"scope", $"jaccard")
      .as[(Long, Long, String, Double)].collect().toSet
    assert(replay === d1)
    // the replay's duplicate artifact rows are set-semantics residue, not
    // a torn append: fsck sees consistent per-table doc sets
    assert(LshIndex.fsck(spark, sref).count() === 0L)
    LshIndex.verifyConsistent(spark, sref)
    // LEASE: a lingering writer lease fails the scoped ingest fast
    val lease = new java.io.File(spark.conf.get("spark.sql.warehouse.dir")
      .stripPrefix("file:"), s"graft_lshidx_lease_${sref.tag}")
    java.nio.file.Files.write(lease.toPath,
      "crashed-scoped".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val e1 = intercept[IllegalStateException] { ingestScopedBatch(0, "d2") }
    assert(e1.getMessage.contains("crashed-scoped"))
    LshIndex.breakLease(spark, sref)
    // GUARD: the index was created scoped; an unscoped ingest has no scope
    // to compare and must be refused before touching anything
    val e2 = intercept[IllegalArgumentException] {
      LshIndex.ingest(docs(99L -> base), "doc_id", "text",
        n = 2, k = 128, bands = 64, threshold = 0.5, sref)
    }
    assert(e2.getMessage.contains("SCOPED"))
    LshIndex.drop(spark, sref)
  }

  test("scoped corpus probes stay exchange-free: the scope-hashed banding " +
    "keeps (band, bucket) bucketing — only the probe side shuffles even " +
    "with the scope-equality filter above the join — and the sigs lookup " +
    "still joins by doc alone") {
    LshIndex.drop(spark, sref)
    ingestScopedBatch(0, "d0"); ingestScopedBatch(1, "d1")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val probeSigs = sdocs((31L, "cc-2023", base)).select($"doc_id".as("doc"),
        $"scope", graft.functions.Hashes.minhashFromText($"text", 2, 128).as("sig"))
      val probe = Dedup.scopedBandedBuckets(probeSigs, bands = 64, rowsPerBand = 2)
      // EXACTLY the production join: (band, bucket) equi-keys only — a
      // scope filter placed directly above this join would be pushed in
      // as a third equi-key and force a corpus-side Exchange (measured;
      // that is WHY ingest enforces scope equality later, on the
      // candidate frame after the per-doc sigs lookups)
      val j = spark.table(sref.bandedTable).as("i").join(probe.as("b"),
          $"i.band" === $"b.band" && $"i.bucket" === $"b.bucket")
        .select($"i.doc".as("old_id"), $"b.doc".as("new_id"))
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("Bucketed: true"),
        s"scoped index scan should stay bucketed:\n$plan")
      assert("Exchange".r.findAllIn(plan).size === 1,
        s"only the probe side may shuffle under the widened key:\n$plan")
      // per-doc signature lookup, production shape: candidates carry only
      // ids; scope is FETCHED by both lookups (corpus side on old_id —
      // bucketed; batch side broadcast on new_id) and compared above the
      // broadcast join, where the pushed-down equality lands in the
      // broadcast join's condition — never on the corpus join's key
      val cands = Seq((1L, 31L)).toDF("old_id", "new_id")
      val sj = cands
        .join(spark.table(sref.sigsTable).select($"doc".as("old_id"),
          $"sig".as("sig1"), $"scope".as("_scope1")), "old_id")
        .join(broadcast(probeSigs.select($"doc".as("new_id"),
          $"sig".as("sig2"), $"scope".as("scope"))), "new_id")
        .filter($"_scope1" === $"scope")
      val splan = sj.queryExecution.executedPlan.toString
      assert(splan.contains("Bucketed: true"),
        s"sigs lookup should ride the doc bucketing:\n$splan")
      assert("Exchange hashpartitioning".r.findAllIn(splan).size === 1,
        s"only the candidate side may shuffle on the sigs lookup:\n$splan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    LshIndex.drop(spark, sref)
  }

  test("legacy (pre-delivery-lineage) on-disk tables migrate on first write " +
    "instead of dying on the missing column") {
    val lref = LshIndex.Ref("speclegacy", buckets = 4)
    LshIndex.drop(spark, lref)
    LshIndex.ingest(docs(batches(0): _*), "doc_id", "text",
      n = 2, k = 128, bands = 64, threshold = 0.5, lref).count()
    // strip the delivery column on disk from all three tables — the
    // round-12 schema
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    lref.layout.foreach { case (tbl, cols) =>
      val loc = new org.apache.hadoop.fs.Path(wh, tbl)
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val legacy = spark.table(tbl).drop("delivery").localCheckpoint(true)
      spark.sql(s"DROP TABLE $tbl")
      fs.delete(loc, true)
      legacy.repartition(4, cols.map(col): _*).write.format("parquet")
        .bucketBy(4, cols.head, cols.tail: _*).sortBy(cols.head, cols.tail: _*)
        .option("path", loc.toString).saveAsTable(tbl)
      spark.sql(s"DROP TABLE $tbl") // files only, fresh catalog
    }
    // next delivery against the legacy files: must migrate, not die on an
    // unresolved column, and still find the cross-delivery near-dup
    val pairs = LshIndex.ingest(docs(batches(1): _*), "doc_id", "text",
        n = 2, k = 128, bands = 64, threshold = 0.5, lref)
      .select($"old_id", $"new_id").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 11L)) && pairs.contains((3L, 11L)),
      s"migrated legacy corpus must still pair later deliveries, got $pairs")
    val deliveries = spark.table(lref.bandedTable)
      .select("delivery").distinct().as[String].collect().toSet
    assert(deliveries.contains(LshIndex.LegacyDelivery))
    // the migrated tag is NOT a retractable delivery: its lineage is
    // collapsed, so recovering it would silently delete every
    // pre-migration row (GramIndex's symmetric guard)
    val ex = intercept[IllegalArgumentException] {
      LshIndex.recoverDelivery(spark, lref, LshIndex.LegacyDelivery)
    }
    assert(ex.getMessage.contains("pre-migration lineage"))
    val after = spark.table(lref.bandedTable)
      .select("delivery").distinct().as[String].collect().toSet
    assert(after === deliveries, "refused recovery must not touch the index")
    LshIndex.drop(spark, lref)
  }
}
