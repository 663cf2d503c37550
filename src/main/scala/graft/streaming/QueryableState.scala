package graft.streaming

import graft.Tables
import graft.queries.Scratch
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Queryable state (reference: flink-runtime/.../query/QueryableStateClient
  * .java; `KeyedStream.asQueryableState` — SURVEY.md §2.10, previously a
  * documented non-goal): Flink exposes keyed operator state to out-of-band
  * point lookups while the job runs. The Spark-native shape is stronger on
  * one axis and weaker on another, and both are deliberate:
  *
  *  - The state ALREADY lives in a durable, versioned store (the streaming
  *    checkpoint). Spark 4's State Data Source (`format("statestore")`)
  *    reads it back as a DataFrame — so instead of a bespoke RPC client
  *    doing one-key lookups, the "query" side gets the full relational
  *    surface (filter/join/aggregate over every key's state, at any
  *    committed batch via `batchId`), runnable from ANY Spark session with
  *    access to the checkpoint path.
  *  - Reads see the last COMMITTED batch, not the mid-batch value — the
  *    same weak-consistency contract Flink documents for queryable state
  *    (values may be stale w.r.t. in-flight processing).
  *
  * The stateful operator here is a per-key running aggregate over the
  * events table built on `flatMapGroupsWithState` (the
  * `KeyValueGroupedDataset` GroupState API — the older sibling of the
  * `transformWithState` surface the rest of §2.10 uses, so this also pins
  * that API variant executably). State per key: (n, sumMillis).
  *
  * At 100 TB scale: the checkpoint is on shared storage (S3/HDFS), state is
  * partitioned by key hash across `spark.sql.shuffle.partitions` stores, and
  * the offline reader parallelizes per store partition — no single-node
  * state download, no driver collect. Reading N keys' state is a pruned
  * scan, not N RPCs.
  */
object QueryableState {

  /** Per-key state: event count + millis-quantized value sum. */
  case class AggState(n: Long, sumMillis: Long)

  /** Update-mode output row (also what the sink would see). */
  case class KeyAgg(key: Long, n: Long, sumMillis: Long)

  /** Bumped when the operator's state schema changes (AggState fields, key
    * type, RunningAgg's acc layout) — embedded in the checkpoint cache dir
    * so a newer build can never read a stale-layout checkpoint. */
  private val StateLayoutVersion = 1

  /** Checkpoint cache dir, keyed by source-dir hash + events mtime (a
    * regenerated fixture gets a fresh checkpoint, distinct dirs never
    * collide — the [[Scratch.derivedKey]] regime). */
  def checkpointDir(srcDir: String): java.io.File = new java.io.File(
    s"/tmp/graft_qstate_v${StateLayoutVersion}_${Scratch.derivedKey(srcDir, "events")}")

  /** Builds the checkpoint `ckpt` once (idempotent: a completed checkpoint
    * is reused; a partial one — crash mid-run — is discarded and rebuilt,
    * `_QS_DONE` being the only completeness signal). Returns its path. */
  private def once(ckpt: java.io.File)(build: => Unit): String = synchronized {
    val done = new java.io.File(ckpt, "_QS_DONE")
    if (!done.exists()) {
      if (ckpt.exists()) org.apache.commons.io.FileUtils.deleteDirectory(ckpt)
      build
      done.createNewFile()
    }
    ckpt.getPath
  }

  /** `(user_id, millis-quantized value)` rows of an events frame. */
  private def keyMillis(s: SparkSession, events: DataFrame): Dataset[(Long, Long)] = {
    import s.implicits._
    events.select(col("user_id").as("key"),
        round(col("value") * 1000).cast("long").as("valueMillis"))
      .as[(Long, Long)]
  }

  /** Drains the per-key running aggregate (`flatMapGroupsWithState`,
    * state [[AggState]]) over `rows` into the checkpoint `ckpt`. */
  private def runningAgg(s: SparkSession, rows: Dataset[(Long, Long)], ckpt: java.io.File): Unit = {
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import s.implicits._
    StreamPartitions.around(s) {
      val out = rows.groupByKey(_._1)
        .flatMapGroupsWithState[AggState, KeyAgg](
          OutputMode.Update, GroupStateTimeout.NoTimeout) {
          (key: Long, rs: Iterator[(Long, Long)], state: GroupState[AggState]) =>
            val prev = state.getOption.getOrElse(AggState(0L, 0L))
            var n = prev.n; var sm = prev.sumMillis
            rs.foreach { r => n += 1; sm += r._2 }
            state.update(AggState(n, sm))
            Iterator.single(KeyAgg(key, n, sm))
        }
      val q = out.writeStream.outputMode("update").format("noop")
        .option("checkpointLocation", ckpt.getPath).start()
      try q.processAllAvailable() finally q.stop()
    }
  }

  /** Run the stateful query to completion against a persistent checkpoint
    * (built [[once]]). Returns the checkpoint path. */
  def materialize(s: SparkSession, dir: String): String = {
    val ckpt = checkpointDir(dir)
    once(ckpt)(runningAgg(s, keyMillis(s, Tables.stream(s, dir, "events")), ckpt))
  }

  /** events split into 4 parquet files by EXPLICIT event-id quarter
    * thresholds (t_i = i·max_id/4, integer division; batch i = ids in
    * (t_i, t_{i+1}], last batch takes the remainder) with strictly
    * increasing mtimes — unlike the quantile-based multi-batch split, the
    * boundary formula is replayable in SQL, which the time-travel oracle
    * needs. Cached by source mtime; staged + atomic-renamed. */
  def ttSourceDir(s: SparkSession, dir: String): String =
    Scratch.derived(dir, "events", "tt_src") { staging =>
      val base = Tables.events(s, dir).select(col("event_id"),
        col("ts").cast("timestamp").as("ts"), col("user_id"), col("value"))
      val maxId = base.agg(max("event_id")).head().getLong(0)
      def t(i: Int) = i * maxId / 4
      Scratch.orderedBatches(staging, (0 until 4).map { i =>
        val hi = if (i == 3) Long.MaxValue else t(i + 1)
        // first batch is unbounded below: event ids may start at 0
        val lo = if (i == 0) Long.MinValue else t(i)
        base.filter(col("event_id") > lo && col("event_id") <= hi)
      })
    }

  /** The [[ttSourceDir]] batches as a stream, one file per trigger. */
  private def timelineRows(s: SparkSession, dir: String): Dataset[(Long, Long)] = {
    val src = ttSourceDir(s, dir)
    val schema = s.read.parquet(s"$src/batch_00.parquet").schema
    keyMillis(s, s.readStream.schema(schema).option("maxFilesPerTrigger", "1")
      .parquet(s"$src/batch_*.parquet"))
  }

  /** [[materialize]] against the 4-batch split with `maxFilesPerTrigger=1`:
    * four committed batches, each leaving the per-key running aggregate
    * over an id-prefix of the corpus — the substrate for TIME-TRAVEL state
    * reads. Returns the checkpoint path. */
  def materializeTimeline(s: SparkSession, dir: String): String = {
    val ckpt = new java.io.File(checkpointDir(dir).getPath + "_tt")
    once(ckpt)(runningAgg(s, timelineRows(s, dir), ckpt))
  }

  /** [[materializeTimeline]] with RocksDB CHANGELOG checkpointing — the
    * changelog is what the change-feed reader replays, so this variant
    * keeps its own checkpoint (the plain timeline measures the default
    * provider the bench A/B chose). */
  def materializeChangelog(s: SparkSession, dir: String): String = {
    val ckpt = new java.io.File(checkpointDir(dir).getPath + "_cdc")
    once(ckpt) {
      val rows = timelineRows(s, dir)
      s.conf.set("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
      try runningAgg(s, rows, ckpt) finally s.conf.set(
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "false")
    }
  }

  /** State CHANGE FEED: every state mutation between two committed batches
    * (inclusive), as (batch_id, change_type, user_id, n_events,
    * sum_millis) — the CDC view of operator state, replayed from the
    * RocksDB changelog without touching full snapshots. */
  def stateChangeFeed(s: SparkSession, dir: String,
                      startBatchId: Long, endBatchId: Long): DataFrame = {
    val ckpt = materializeChangelog(s, dir)
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    s.conf.set("spark.sql.streaming.stateStore.coordinatorReportSnapshotUploadLag", "false")
    s.read.format("statestore")
      .option("readChangeFeed", "true")
      .option("changeStartBatchId", startBatchId)
      .option("changeEndBatchId", endBatchId)
      .load(ckpt)
      .select(col("batch_id"), col("change_type"),
        col("key.value").as("user_id"),
        col("value.groupState.n").as("n_events"),
        col("value.groupState.sumMillis").as("sum_millis"))
  }

  /** TIME-TRAVEL state read: the keyed state as of committed batch
    * `batchId` (0-based) of the timeline checkpoint — Flink's
    * retained-savepoint inspection, addressed by version instead of by
    * savepoint path. State-store versioning (RocksDB retains
    * minBatchesToRetain versions) makes every recent batch addressable. */
  def stateAtBatch(s: SparkSession, dir: String, batchId: Long): DataFrame = {
    val ckpt = materializeTimeline(s, dir)
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    s.conf.set("spark.sql.streaming.stateStore.coordinatorReportSnapshotUploadLag", "false")
    s.read.format("statestore").option("batchId", batchId).load(ckpt)
      .select(col("key.value").as("user_id"),
        col("value.groupState.n").as("n_events"),
        col("value.groupState.sumMillis").as("sum_millis"))
  }

  /** transformWithState flavor of [[materialize]]: the same per-key running
    * aggregate, but held in a NAMED state variable (`acc`, a ValueState) of
    * a StatefulProcessor — the API surface the rest of §2.10 is built on.
    * The offline reader then addresses the variable by name
    * (`option("stateVarName", "acc")`), which is exactly Flink's
    * `asQueryableState("name")` addressing model. */
  def materializeTws(s: SparkSession, dir: String): String = {
    val ckpt = new java.io.File(checkpointDir(dir).getPath + "_tws")
    once(ckpt) {
      s.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      import s.implicits._
      val src = Tables.stream(s, dir, "events")
        .withWatermark("ts", "0 seconds")
        .select(col("user_id").as("key"), col("event_id").as("eventId"),
          org.apache.spark.sql.functions.unix_micros(col("ts")).as("tsUs"),
          col("event_type").as("eventType"),
          round(col("value") * 1000).cast("long").as("valueMillis"))
        .as[StatefulOps.KeyedEvent]
      StreamPartitions.around(s) {
        val out = StatefulOps.run(src, new StatefulOps.RunningAgg)
        val q = out.writeStream.outputMode("append").format("noop")
          .option("checkpointLocation", ckpt.getPath).start()
        try q.processAllAvailable() finally q.stop()
      }
    }
  }

  /** Named-state-variable read of the transformWithState checkpoint: the
    * `acc` ValueState per key, last committed batch. */
  def twsStateFrame(s: SparkSession, dir: String): DataFrame = {
    val ckpt = materializeTws(s, dir)
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    s.conf.set("spark.sql.streaming.stateStore.coordinatorReportSnapshotUploadLag", "false")
    s.read.format("statestore").option("stateVarName", "acc").load(ckpt)
      .select(col("key.value").as("user_id"),
        col("value._1").as("n_events"),
        col("value._2").as("sum_millis"))
  }

  /** The queryable-state read: keyed state from the last committed batch,
    * as `(user_id, n_events, sum_millis)` — one row per key with live
    * state. Runs from any session that can see the checkpoint. */
  def stateFrame(s: SparkSession, dir: String): DataFrame = {
    val ckpt = materialize(s, dir)
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    // The offline reader may run in a session where no streaming query ever
    // started, so the StateStoreCoordinator RPC endpoint doesn't exist;
    // snapshot-lag reporting would try to reach it from the provider's
    // load path and fail. Reporting is a streaming-job health metric —
    // meaningless for a read-only scan — so disable it for the read.
    s.conf.set("spark.sql.streaming.stateStore.coordinatorReportSnapshotUploadLag", "false")
    s.read.format("statestore").load(ckpt)
      .select(col("key.value").as("user_id"),
        // flatMapGroupsWithState state rows nest the user type under a
        // `groupState` wrapper struct (state-v2 format)
        col("value.groupState.n").as("n_events"),
        col("value.groupState.sumMillis").as("sum_millis"))
  }
}
