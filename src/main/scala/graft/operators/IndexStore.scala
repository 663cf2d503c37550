package graft.operators

import graft.streaming.IngestLedger
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.streaming.StreamingQuery

/** The one storage protocol under every persistent index ([[LshIndex]],
  * [[SimHashIndex]], [[GramIndex]], [[ChunkIndex]], [[ContamIndex]],
  * [[PqIndex]], [[IvfIndex]]) — as Flink keeps one snapshot-and-recovery
  * protocol under every stateful operator. Each index declares a
  * [[Layout]] and its own ingest/probe/compact math; the rest is here.
  *
  * LEASE. An index is SINGLE-WRITER: a compact racing an ingest loses the
  * ingest's appends, and two appends into one bucketed table race on file
  * naming. Writers run under [[withLease]], an exclusive lease taken by
  * atomic create-if-absent of the layout's lease file, which holds the
  * writer's op name. A second writer fails fast naming the holder, the
  * lease file and `<Kind>.breakLease`; after a CRASH the lease lingers
  * until [[breakLease]], once the operator confirms no writer is live.
  * Lease-held jobs carry the description `<Kind> <tag>: <op>`.
  *
  * STORAGE ASSUMPTION: `FileSystem.create(path, overwrite=false)` is an
  * atomic create-if-absent on HDFS and local filesystems but NOT on
  * object stores (s3a has no atomic exclusive create — two writers can
  * both "win"). There, mutual exclusion needs a store-side primitive (S3
  * conditional PUT / If-None-Match, or an external lock table).
  *
  * SWAP. Every rewrite of a part is RENAME-ASIDE ([[swap]]): the new copy
  * lands complete as a `<part>_compacting` sibling, live renames to
  * `<part>_old`, the copy renames in, `_old` deletes last — live data is
  * never deleted before its replacement is in place.
  *
  * RECOVERY. One preamble finishes a crashed swap (a missing live part
  * with an `_old` sibling renames back), registers on-disk tables the
  * catalog lacks, and migrates legacy tables. Every lease-held operation
  * runs it first; readers ([[attach]]) run it, under the lease, when a
  * swap is pending.
  *
  * DELIVERIES. The delivery-tagged indexes (Lsh, SimHash, Gram, Chunk)
  * tag every append with its delivery id, and every corpus probe
  * EXCLUDES the current delivery's rows: a retried ingest under the SAME
  * id is byte-identical even when the first attempt's append landed
  * (fully or torn). Its only residue is duplicate rows for that delivery,
  * invisible to results and removed by the index's compact or
  * [[retractDelivery]]. Ids must be stable across retries and unique
  * across deliveries; a fresh id on retry makes the crashed attempt's
  * rows look like earlier corpus — retract it first.
  *
  * REPLAY. Streams run per micro-batch in [[streamIngest]], each batch
  * ledgered by [[IngestLedger.once]]: a ledgered batch is skipped whole;
  * one that appended but crashed before its ledger entry re-runs under
  * the same batch id (and delivery id `stream:<bid>`, a prefix batch
  * callers must avoid), and each index's replay rule (delivery
  * self-exclusion, set-semantic reads, search-side de-dup) makes the
  * re-run's output identical. */
private[graft] object IndexStore {

  /** One swappable unit: the warehouse-relative directory `name` — with
    * bucket columns also an EXTERNAL catalog table of that name, bucketed
    * and sorted on them. */
  final case class Part(name: String, bucketCols: Seq[String] = Nil) {
    def isTable: Boolean = bucketCols.nonEmpty
  }

  /** One index's layout: `kind` names the owning object in errors and
    * job labels, `lease` is the warehouse-relative lease file, `buckets`
    * the table parts' bucket count; a defined `legacyDelivery` tags the
    * rows of tables written without a `delivery` column. */
  final case class Layout(kind: String, tag: String, lease: String,
                          parts: Seq[Part], buckets: Int = 0,
                          legacyDelivery: Option[String] = None) {
    def label(op: String): String = s"$kind $tag: $op"
  }

  /** Resolved against the warehouse URI through Hadoop FileSystem, so an
    * hdfs:// or s3a:// warehouse carries the index beside its catalog. */
  def location(spark: SparkSession, name: String): Path =
    new Path(spark.conf.get("spark.sql.warehouse.dir"), name)

  private def fs(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def exists(spark: SparkSession, name: String): Boolean = {
    val p = location(spark, name)
    fs(spark, p).exists(p)
  }

  /** Hadoop `FileSystem.rename` reports failure as `false`; a silently
    * failed swap step voids crash durability (renaming the copy in while
    * live still exists nests it INSIDE live on most implementations). */
  def mustRename(f: FileSystem, src: Path, dst: Path): Unit =
    require(f.rename(src, dst), s"rename $src -> $dst failed")

  /** Run `body` under a Spark job description so UI/listener evidence
    * attributes its jobs; restores the caller's description after. */
  def labeled[T](spark: SparkSession, desc: String)(body: => T): T = {
    val sc = spark.sparkContext
    val old = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(desc)
    try body finally sc.setJobDescription(old)
  }

  /** Run `body` as the single writer: lease, label, recover, release. */
  def withLease[T](spark: SparkSession, l: Layout, op: String)(body: => T): T = {
    val p = location(spark, l.lease)
    val f = fs(spark, p)
    val out = try f.create(p, false) catch {
      case _: java.io.IOException =>
        val holder = try {
          val in = f.open(p)
          try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
          finally in.close()
        } catch { case _: java.io.IOException => "<unreadable>" }
        throw new IllegalStateException(
          s"${l.kind} '${l.tag}' is write-leased by '$holder' (lease file $p) " +
            s"— concurrent writers are a data-loss race; if the holder " +
            s"crashed, ${l.kind}.breakLease after confirming it is dead")
    }
    try {
      try out.write(op.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
      labeled(spark, l.label(op)) { recover(spark, l); body }
    } finally { f.delete(p, false); () }
  }

  /** Remove a crashed writer's lingering lease — ONLY once no writer is live. */
  def breakLease(spark: SparkSession, l: Layout): Unit = {
    val p = location(spark, l.lease)
    fs(spark, p).delete(p, false); ()
  }

  /** Destroy the index: catalog entries, every part with its swap
    * siblings, the extra `dirs`, and the lease. */
  def drop(spark: SparkSession, l: Layout, dirs: String*): Unit = {
    l.parts.filter(_.isTable).foreach(p => spark.sql(s"DROP TABLE IF EXISTS ${p.name}"))
    (l.parts.flatMap(p => Seq(p.name, s"${p.name}_compacting", s"${p.name}_old")) ++ dirs)
      .foreach { d => val loc = location(spark, d); fs(spark, loc).delete(loc, true) }
    breakLease(spark, l)
  }

  private def swapPending(spark: SparkSession, p: Part): Boolean =
    !exists(spark, p.name) && exists(spark, s"${p.name}_old")

  /** Register table part `p`'s bucketing DDL over its files;
    * `knownSchema` skips the footer inference. */
  private def register(spark: SparkSession, l: Layout, p: Part,
                       knownSchema: Option[String] = None): Unit = {
    val loc = location(spark, p.name)
    val schema = knownSchema.getOrElse(spark.read.parquet(loc.toString).schema.toDDL)
    val cl = p.bucketCols.mkString(", ")
    spark.sql(s"""CREATE TABLE ${p.name} ($schema) USING parquet
      CLUSTERED BY ($cl) SORTED BY ($cl) INTO ${l.buckets} BUCKETS
      LOCATION '${loc.toString}'""")
  }

  private def registerIfPresent(spark: SparkSession, l: Layout, p: Part): Unit =
    if (p.isTable && !spark.catalog.tableExists(p.name) && exists(spark, p.name))
      register(spark, l, p)

  /** The recovery preamble (lease held). */
  private def recover(spark: SparkSession, l: Layout): Unit = l.parts.foreach { p =>
    if (swapPending(spark, p)) {
      val live = location(spark, p.name)
      mustRename(fs(spark, live), location(spark, s"${p.name}_old"), live)
    }
    registerIfPresent(spark, l, p)
    for (tag <- l.legacyDelivery)
      if (spark.catalog.tableExists(p.name) &&
          !spark.table(p.name).columns.contains("delivery"))
        // without this an ingest's `delivery` filter dies unresolved and
        // its append schema-mismatches
        rewriteTable(spark, l, p)(_.withColumn("delivery", lit(tag)))
  }

  /** Reader-side attach: register the on-disk tables the catalog lacks,
    * finishing a pending swap under the lease first. */
  def attach(spark: SparkSession, l: Layout): Unit =
    if (l.parts.exists(swapPending(spark, _))) withLease(spark, l, "recover")(())
    else l.parts.foreach(registerIfPresent(spark, l, _))

  /** Whether the first part exists — false only for a brand-new index. */
  def hasContent(spark: SparkSession, l: Layout): Boolean = exists(spark, l.parts.head.name)

  /** Append `df` into table part `p`, bucketed; the first append creates
    * the external table at its warehouse location. */
  def appendBucketed(df: DataFrame, l: Layout, p: Part): Unit = {
    val w = df.write.mode("append").format("parquet")
      .bucketBy(l.buckets, p.bucketCols.head, p.bucketCols.tail: _*)
      .sortBy(p.bucketCols.head, p.bucketCols.tail: _*)
    if (df.sparkSession.catalog.tableExists(p.name)) w.saveAsTable(p.name)
    else w.option("path", location(df.sparkSession, p.name).toString).saveAsTable(p.name)
  }

  /** The rename-aside swap of part `p` (lease held); `write` produces the
    * complete new copy at the given path. */
  def swap(spark: SparkSession, p: Part)(write: Path => Unit): Unit = {
    val live = location(spark, p.name)
    val tmp = location(spark, s"${p.name}_compacting")
    val old = location(spark, s"${p.name}_old")
    val f = fs(spark, live)
    f.delete(tmp, true)
    write(tmp)
    f.delete(old, true)
    mustRename(f, live, old)
    mustRename(f, tmp, live)
    f.delete(old, true); ()
  }

  /** Rewrite table part `p` as `transform` of its rows through [[swap]],
    * one file per bucket, re-registered under the TRANSFORMED schema. */
  def rewriteTable(spark: SparkSession, l: Layout, p: Part)
                  (transform: DataFrame => DataFrame): Unit = {
    require(spark.catalog.tableExists(p.name),
      s"no index files for ${l.kind} '${l.tag}' at ${location(spark, p.name)}")
    // the localCheckpoint breaks the scan's logical bucketing so the
    // repartition really shuffles: Catalyst otherwise elides it, then
    // plans an unbucketed scan whose file splits misalign with bucket ids
    val rows = transform(spark.table(p.name).localCheckpoint(true))
      .repartition(l.buckets, p.bucketCols.map(col): _*)
    val schemaDdl = rows.schema.toDDL
    val tmp = p.copy(name = s"${p.name}_compacting")
    spark.sql(s"DROP TABLE IF EXISTS ${tmp.name}")
    swap(spark, p) { _ =>
      appendBucketed(rows, l, tmp)
      // catalog entries only; the files stay for the renames
      spark.sql(s"DROP TABLE ${p.name}")
      spark.sql(s"DROP TABLE ${tmp.name}")
    }
    register(spark, l, p, Some(schemaDdl))
  }

  /** Fail fast on a delivery id that is empty or the `reserved` tag. */
  def requireDelivery(delivery: String, reserved: String): Unit =
    require(delivery.nonEmpty && delivery != reserved,
      s"delivery id must be non-empty and not '$reserved'")

  /** Retract one delivery's rows from every table part — the recovery for
    * a crashed ingest whose retry cannot re-use its delivery id. The
    * `collapsed` tag holds rows whose lineage is gone (`why`): refused. */
  def retractDelivery(spark: SparkSession, l: Layout, delivery: String,
                      collapsed: String, why: String): Unit =
    withLease(spark, l, "recoverDelivery") {
      require(delivery != collapsed, s"cannot retract '$collapsed' — $why")
      if (hasContent(spark, l))
        rewriteTables(spark, l)(_.filter(col("delivery") =!= lit(delivery)))
    }

  /** [[rewriteTable]] over every part, as concurrent jobs. */
  def rewriteTables(spark: SparkSession, l: Layout)
                   (transform: DataFrame => DataFrame): Unit =
    inParallel(l.parts.map(p => () => rewriteTable(spark, l, p)(transform)))

  /** Run `tasks` concurrently, each on a FRESH thread, which inherits the
    * caller's Spark local properties (a pooled thread keeps stale ones). */
  def inParallel(tasks: Seq[() => Unit]): Unit = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    implicit val ec: ExecutionContext =
      ExecutionContext.fromExecutor((r: Runnable) => new Thread(r).start())
    Await.result(Future.sequence(tasks.map(t => Future(t()))),
      scala.concurrent.duration.Duration.Inf); ()
  }

  /** The streaming ingest loop; `batchOnce` ledgers itself with
    * [[IngestLedger.once]]. */
  def streamIngest(input: DataFrame, checkpoint: String)
                  (batchOnce: (DataFrame, Long) => Unit): StreamingQuery =
    input.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[Row], bid: Long) => batchOnce(batch.toDF(), bid) }
      .start()
}
