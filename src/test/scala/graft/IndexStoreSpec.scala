package graft

import graft.operators._
import graft.streaming.IngestLedger
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** The one storage protocol under the seven persistent indexes
  * (operators/IndexStore.scala), checked once per index kind: the write
  * lease blocks every writer and names its holder, a crash between the
  * swap's two renames is recovered by the next entry point, a stream
  * batch that appended but never ledgered replays to the same output,
  * and every lease-held job carries its `<Kind> <tag>: <op>` label. A
  * source lint keeps the protocol in IndexStore.scala. */
class IndexStoreSpec extends SparkSpec {
  import spark.implicits._

  private def wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")

  /** One index kind, every operation keyed by the index tag. */
  private case class Kind(
      name: String,
      lease: String => String,
      parts: String => Seq[String],
      drop: String => Unit,
      breakLease: String => Unit,
      seed: String => Unit,
      // the next delivery; the returned thunk reads what it produced
      ingest: String => (() => Seq[String]),
      compact: String => Unit,
      content: String => Seq[Seq[String]],
      writers: String => Seq[(String, () => Any)],
      // two stream slices arriving after the seed
      slices: Seq[DataFrame],
      stream: (String, DataFrame, String, String) => StreamingQuery,
      streamOut: (String, String) => Seq[String],
      ledger: (String, String) => String)

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq
  private def tables(names: Seq[String]): Seq[Seq[String]] = names.map(t => rows(spark.table(t)))

  private val base = "the quick brown fox jumps over the lazy dog again and again"
  private val batch0 = Seq(1L -> base,
    2L -> "completely different words about entirely unrelated topics here now",
    3L -> (base + " tail"))
  private val batch1 = Seq(11L -> base,
    12L -> "another disjoint document with its own private vocabulary set")
  private val batch2 = Seq(21L -> (base + " tail"),
    22L -> "more singleton text that matches nothing else in the corpus")
  private def docs(b: Seq[(Long, String)]) = b.toDF("doc_id", "text")
  private def bench(b: Seq[(Long, String)], snap: Long) =
    docs(b).withColumn("snap", lit(snap))
  private val train = docs(batch0 ++ batch1 ++ batch2)

  private def vecs(ids: Seq[Long]) = ids.map { i =>
    val b = if (i % 2 == 0) 1.0f else -1.0f
    (i, Array.tabulate(8)(d => b + ((i * 31 + d * 7) % 13).toFloat / 100f))
  }.toDF("vec_id", "embedding")
  private val queries = vecs(0L until 3L)

  private def lsh(t: String) = LshIndex.Ref(t, buckets = 4)
  private def lshIngest(t: String, b: Seq[(Long, String)], d: String) =
    LshIndex.ingest(docs(b), "doc_id", "text", n = 2, k = 128, bands = 64,
      threshold = 0.5, lsh(t), d)
  private def sh(t: String) = SimHashIndex.Ref(t, buckets = 4)
  private def shIngest(t: String, b: Seq[(Long, String)], d: String) =
    SimHashIndex.ingest(docs(b), "doc_id", "text", maxDist = 3, sh(t), d)
  private def gram(t: String) = GramIndex.Ref(t, buckets = 4)
  private def gramIngest(t: String, b: Seq[(Long, String)], d: String) =
    GramIndex.ingest(docs(b), "doc_id", "text", minLen = 10, gram(t), d)
  private def chunk(t: String) = ChunkIndex.Ref(t, buckets = 4)
  private def chunkIngest(t: String, b: Seq[(Long, String)], d: String) =
    ChunkIndex.ingest(docs(b), "doc_id", "text", 8, 4L, 1L, chunk(t), d)
  private def contam(t: String) = ContamIndex.Ref(t, buckets = 4)
  private def audit(t: String) =
    rows(ContamIndex.audit(train, "doc_id", "text", n = 3, contam(t)))
  private def ivf(t: String) = IvfIndex.Ref(t)
  private def ivfSearch(t: String) =
    rows(IvfIndex.search(queries, "vec_id", "embedding", ivf(t), k = 5, nProbe = 2)
      .select($"query_id", $"rank", $"nbr_id", round($"cos", 6)))
  private def pq(t: String) = PqIndex.Ref(t)
  private def pqBuild(t: String) = PqIndex.build(vecs(0L until 40L), "vec_id",
    "embedding", dim = 8, m = 4, k = 4, iters = 1, nCells = 4, cIters = 1, pq(t))
  private def pqSearch(t: String) = rows(PqIndex.search(queries, "vec_id",
    "embedding", dim = 8, m = 4, nProbe = 2, topK = 5, pq(t)))

  private val kinds = Seq(
    Kind("LshIndex", t => s"graft_lshidx_lease_$t", t => lsh(t).layout.map(_._1),
      t => LshIndex.drop(spark, lsh(t)), t => LshIndex.breakLease(spark, lsh(t)),
      t => lshIngest(t, batch0, "d0").count(),
      t => { val out = lshIngest(t, batch1, "d1"); () => rows(out) },
      t => LshIndex.compact(spark, lsh(t)),
      t => tables(lsh(t).layout.map(_._1)),
      t => Seq(
        "ingest" -> (() => lshIngest(t, batch1, "d1")),
        "ingestScoped" -> (() => LshIndex.ingestScoped(
          docs(batch1).withColumn("scope", lit("s")), "doc_id", "text", "scope",
          n = 2, k = 128, bands = 64, threshold = 0.5, lsh(t), "d1")),
        "compact" -> (() => LshIndex.compact(spark, lsh(t))),
        "recoverDelivery" -> (() => LshIndex.recoverDelivery(spark, lsh(t), "d0")),
        "repairTorn" -> (() => LshIndex.repairTorn(spark, lsh(t)))),
      Seq(docs(batch1), docs(batch2)),
      (t, src, out, ckpt) => LshIndex.startStreamingIngest(src, "doc_id", "text",
        n = 2, k = 128, bands = 64, threshold = 0.5, lsh(t), out, ckpt),
      (_, out) => rows(spark.read.parquet(s"$out/pairs")),
      (_, out) => s"$out/_ledger"),
    Kind("SimHashIndex", t => s"graft_shidx_lease_$t", t => Seq(sh(t).blocksTable),
      t => SimHashIndex.drop(spark, sh(t)), t => SimHashIndex.breakLease(spark, sh(t)),
      t => shIngest(t, batch0, "d0").count(),
      t => { val out = shIngest(t, batch1, "d1"); () => rows(out) },
      t => SimHashIndex.compact(spark, sh(t)),
      t => tables(Seq(sh(t).blocksTable)),
      t => Seq(
        "ingest" -> (() => shIngest(t, batch1, "d1")),
        "ingestSignatures" -> (() => SimHashIndex.ingestSignatures(
          docs(batch1).withColumn("sig", lit(7L)), "doc_id", "sig", 3, sh(t), "d1")),
        "compact" -> (() => SimHashIndex.compact(spark, sh(t))),
        "recoverDelivery" -> (() => SimHashIndex.recoverDelivery(spark, sh(t), "d0"))),
      Seq(docs(batch1), docs(batch2)),
      (t, src, out, ckpt) => SimHashIndex.startStreamingIngest(src, "doc_id", "text",
        maxDist = 3, sh(t), out, ckpt),
      (_, out) => rows(spark.read.parquet(s"$out/pairs")),
      (_, out) => s"$out/_ledger"),
    Kind("GramIndex", t => s"graft_gramidx_lease_$t", t => Seq(gram(t).gramsTable),
      t => GramIndex.drop(spark, gram(t)), t => GramIndex.breakLease(spark, gram(t)),
      t => gramIngest(t, batch0, "d0").count(),
      t => { val out = gramIngest(t, batch1, "d1"); () => rows(out) },
      t => GramIndex.compact(spark, gram(t)),
      t => tables(Seq(gram(t).gramsTable)),
      t => Seq(
        "ingest" -> (() => gramIngest(t, batch1, "d1")),
        "ingestSlices" -> (() => GramIndex.ingestSlices(Seq(docs(batch1)), "doc_id",
          "text", minLen = 10, gram(t))),
        "compact" -> (() => GramIndex.compact(spark, gram(t))),
        "recoverDelivery" -> (() => GramIndex.recoverDelivery(spark, gram(t), "d0"))),
      Seq(docs(batch1), docs(batch2)),
      (t, src, out, ckpt) => GramIndex.startStreamingIngest(src, "doc_id", "text",
        minLen = 10, gram(t), out, ckpt),
      (_, out) => rows(spark.read.parquet(s"$out/clean")),
      (_, out) => s"$out/_ledger"),
    Kind("ChunkIndex", t => s"graft_chunkidx_lease_$t", t => Seq(chunk(t).chunksTable),
      t => ChunkIndex.drop(spark, chunk(t)), t => ChunkIndex.breakLease(spark, chunk(t)),
      t => chunkIngest(t, batch0, "d0").count(),
      t => { val out = chunkIngest(t, batch1, "d1"); () => rows(out) },
      t => ChunkIndex.compact(spark, chunk(t)),
      t => tables(Seq(chunk(t).chunksTable)),
      t => Seq(
        "ingest" -> (() => chunkIngest(t, batch1, "d1")),
        "compact" -> (() => ChunkIndex.compact(spark, chunk(t))),
        "recoverDelivery" -> (() => ChunkIndex.recoverDelivery(spark, chunk(t), "d0"))),
      Seq(docs(batch1), docs(batch2)),
      (t, src, out, ckpt) => ChunkIndex.startStreamingIngest(src, "doc_id", "text",
        8, 4L, 1L, chunk(t), out, ckpt),
      (_, out) => rows(spark.read.parquet(s"$out/dedup")),
      (_, out) => s"$out/_ledger"),
    Kind("ContamIndex", t => s"graft_contamidx_lease_$t", t => Seq(contam(t).gramsTable),
      t => ContamIndex.drop(spark, contam(t)), t => ContamIndex.breakLease(spark, contam(t)),
      t => ContamIndex.ingest(bench(batch0, 0L), "text", "snap", 3, contam(t), "d0"),
      t => { ContamIndex.ingest(bench(batch1, 1L), "text", "snap", 3, contam(t), "d1")
             () => audit(t) },
      _ => (), // no compact: nothing is ever swapped
      t => tables(Seq(contam(t).gramsTable)),
      t => Seq("ingest" -> (() =>
        ContamIndex.ingest(bench(batch1, 1L), "text", "snap", 3, contam(t), "d1"))),
      Seq(bench(batch1, 1L), bench(batch2, 2L)),
      (t, src, out, ckpt) => ContamIndex.startStreamingIngest(src, "text", "snap", 3,
        contam(t), out, ckpt),
      (t, _) => audit(t),
      (_, out) => s"$out/_ledger"),
    Kind("PqIndex", t => s"${pq(t).dirName}_lease", t => Seq(s"${pq(t).dirName}/codes"),
      t => PqIndex.drop(spark, pq(t)), t => PqIndex.breakLease(spark, pq(t)),
      t => pqBuild(t),
      t => { PqIndex.ingest(vecs(40L until 60L), "vec_id", "embedding", 8, 4, pq(t))
             () => pqSearch(t) },
      t => PqIndex.compact(spark, pq(t)),
      t => Seq(pqSearch(t)),
      t => Seq(
        "ingest" -> (() => PqIndex.ingest(vecs(40L until 60L), "vec_id", "embedding",
          8, 4, pq(t))),
        "compact" -> (() => PqIndex.compact(spark, pq(t))),
        "build" -> (() => pqBuild(t)),
        "buildModels" -> (() => PqIndex.buildModels(vecs(0L until 40L), "vec_id",
          "embedding", 8, 4, 4, 1, 4, 1, pq(t)))),
      Seq(vecs(40L until 50L), vecs(50L until 60L)),
      (t, src, _, ckpt) => PqIndex.startStreamingIngest(src, "vec_id", "embedding",
        8, 4, pq(t), ckpt),
      (t, _) => pqSearch(t),
      (t, _) => new org.apache.hadoop.fs.Path(spark.conf.get("spark.sql.warehouse.dir"),
        s"${pq(t).dirName}/_ledger").toString),
    Kind("IvfIndex", t => s"${ivf(t).dirName}_lease", t => Seq(s"${ivf(t).dirName}/asg"),
      t => IvfIndex.drop(spark, ivf(t)), t => IvfIndex.breakLease(spark, ivf(t)),
      t => IvfIndex.build(vecs(0L until 40L), "vec_id", "embedding", nCells = 4, ivf(t)),
      t => { IvfIndex.ingest(vecs(40L until 60L), "vec_id", "embedding", ivf(t))
             () => ivfSearch(t) },
      t => IvfIndex.compact(spark, ivf(t)),
      t => Seq(ivfSearch(t)),
      t => Seq(
        "ingest" -> (() => IvfIndex.ingest(vecs(40L until 60L), "vec_id", "embedding",
          ivf(t))),
        "compact" -> (() => IvfIndex.compact(spark, ivf(t))),
        "build" -> (() => IvfIndex.build(vecs(0L until 40L), "vec_id", "embedding",
          nCells = 4, ivf(t)))),
      Seq(vecs(40L until 50L), vecs(50L until 60L)),
      (t, src, _, ckpt) => IvfIndex.startStreamingIngest(src, "vec_id", "embedding",
        ivf(t), ckpt),
      (t, _) => ivfSearch(t),
      (t, _) => new org.apache.hadoop.fs.Path(spark.conf.get("spark.sql.warehouse.dir"),
        s"${ivf(t).dirName}/_ledger").toString))

  for (k <- kinds) {
    val tag = k.name.toLowerCase.stripSuffix("index") + "store"

    test(s"${k.name}: a lingering lease blocks every writer, naming the holder, " +
      s"${k.name}.breakLease and the lease file; breakLease restores access") {
      k.drop(tag); k.seed(tag)
      val before = k.content(tag)
      val lease = new java.io.File(wh, k.lease(tag))
      java.nio.file.Files.write(lease.toPath,
        "crashed-writer".getBytes(java.nio.charset.StandardCharsets.UTF_8))
      k.writers(tag).foreach { case (op, write) =>
        val e = intercept[IllegalStateException](write())
        assert(e.getMessage.contains("'crashed-writer'") &&
          e.getMessage.contains(s"${k.name}.breakLease") &&
          e.getMessage.contains(k.lease(tag)), s"$op: ${e.getMessage}")
      }
      assert(k.content(tag) === before, "refused writers must not touch the index")
      k.breakLease(tag)
      k.ingest(tag)()
      assert(!lease.exists(), "the lease must release when the writer completes")
      k.drop(tag)
    }

    test(s"${k.name}: a crash between the swap's two renames is recovered by " +
      "the next entry point — nothing the aside copy holds is lost") {
      val (twin, crashed) = (s"${tag}_twin", s"${tag}_crash")
      Seq(twin, crashed).foreach { t => k.drop(t); k.seed(t) }
      // the crash: catalog entries dropped (table parts are plain table
      // names; Ivf/Pq parts are paths under the index directory), every
      // live part renamed aside
      k.parts(crashed).foreach { p =>
        if (!p.contains('/')) spark.sql(s"DROP TABLE IF EXISTS $p")
        assert(new java.io.File(wh, p).renameTo(new java.io.File(wh, s"${p}_old")),
          s"simulated crash rename of $p failed")
      }
      // the entry after the crash is an ingest: it must see the whole
      // aside corpus, and the compact after it must not delete it
      assert(k.ingest(crashed)() === k.ingest(twin)())
      k.compact(twin); k.compact(crashed)
      assert(k.content(crashed) === k.content(twin))
      assert(k.parts(crashed).forall(p => !new java.io.File(wh, s"${p}_old").exists))
      Seq(twin, crashed).foreach(k.drop)
    }

    test(s"${k.name}: a stream batch that appended but never ledgered replays " +
      "to the same output") {
      k.drop(tag); k.seed(tag)
      val dir = java.nio.file.Files.createTempDirectory("indexstore_stream").toFile
      val src = new java.io.File(dir, "src")
      k.slices.zipWithIndex.foreach { case (df, i) =>
        df.coalesce(1).write.parquet(s"$src/slice$i")
        Thread.sleep(20) // distinct mtimes: deterministic pickup order
      }
      val out = new java.io.File(dir, "out").getAbsolutePath
      val ckpt = new java.io.File(dir, "ckpt").getAbsolutePath
      def run(): Unit = {
        val q = k.stream(tag, spark.readStream.schema(k.slices.head.schema)
          .option("maxFilesPerTrigger", "1").parquet(s"$src/slice*"), out, ckpt)
        try q.processAllAvailable() finally q.stop()
      }
      run()
      val first = k.streamOut(tag, out)
      // the crash: the last batch's index append and output landed, but
      // neither its ledger entry nor the query's commit did
      val commits = new java.io.File(ckpt, "commits")
      val last = commits.list().flatMap(_.toLongOption).max
      Seq(s"$last", s".$last.crc").foreach(n => new java.io.File(commits, n).delete())
      val ledger = k.ledger(tag, out)
      val entry = new org.apache.hadoop.fs.Path(ledger, s"delta/batch_id=$last")
      entry.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(entry, true)
      assert(!IngestLedger.isDone(spark, ledger, last))
      run()
      assert(IngestLedger.isDone(spark, ledger, last), "the batch must replay and ledger")
      assert(k.streamOut(tag, out) === first)
      k.drop(tag)
      org.apache.commons.io.FileUtils.deleteQuietly(dir)
    }

    test(s"${k.name}: every job of an ingest plus a compact carries the " +
      s"'${k.name} <tag>: <op>' label") {
      k.drop(tag); k.seed(tag)
      val descs = SparkSpec.jobDescriptionsOf(spark) { k.ingest(tag); k.compact(tag) }
      assert(descs.nonEmpty && descs.forall(_.startsWith(s"${k.name} $tag: ")),
        descs.mkString("\n"))
      k.drop(tag)
    }
  }

  /** The storage-protocol forms only IndexStore.scala may contain. */
  private val protocolForms = Seq(
    "exclusive create" -> "create\\([^)]*,\\s*false\\s*\\)".r,
    "rename" -> "\\.rename\\(".r,
    "_compacting" -> "_compacting".r,
    "IngestLedger.isDone" -> "IngestLedger\\s*\\.\\s*isDone".r)

  test("the lease, swap and ledger check live only in IndexStore.scala") {
    val dir = new java.io.File("src/main/scala/graft/operators")
    require(dir.isDirectory, s"run from the repository root: no $dir")
    val bad = dir.listFiles().filter(f => f.getName.endsWith(".scala") &&
        f.getName != "IndexStore.scala").sortBy(_.getName).toSeq
      .flatMap { f =>
        val src = new String(java.nio.file.Files.readAllBytes(f.toPath),
          java.nio.charset.StandardCharsets.UTF_8)
        protocolForms.collect { case (what, re) if re.findFirstIn(src).isDefined =>
          s"${f.getName}: $what" }
      }
    assert(bad.isEmpty, s"\nstorage protocol outside IndexStore.scala:\n${bad.mkString("\n")}")
  }

  test("the lint catches each banned form") {
    val planted = Seq("f.create(p, false)", "f.rename(a, b)", "s\"${t}_compacting\"",
      "IngestLedger.isDone(spark, l, 1L)")
    planted.zip(protocolForms).foreach { case (src, (what, re)) =>
      assert(re.findFirstIn(src).isDefined, what) }
    // and the store's own calls match, so the lint is not vacuous
    val store = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
      "src/main/scala/graft/operators/IndexStore.scala")),
      java.nio.charset.StandardCharsets.UTF_8)
    protocolForms.take(3).foreach { case (what, re) =>
      assert(re.findFirstIn(store).isDefined, what) }
  }
}
