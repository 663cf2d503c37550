package graft.perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, StandardCopyOption}

import scala.collection.mutable.ArrayBuffer

import graft.streaming.StatefulOps
import graft.streaming.StatefulOps.{KeyedEvent, RunningAggOut}
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions.{col, round, timestamp_micros}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}
import org.apache.spark.sql.types._

/** An open loop: one generator thread replays the `events` fixture at a
  * fixed rate into a watched directory, one small CSV file per tick, each
  * file appearing atomically (written aside, then renamed in). Event time
  * is the file's due time; a seeded share of events is out of order within
  * the watermark delay, and a seeded share of the measured phase is sent
  * far beyond it. One long-running query — q95's operator,
  * `StatefulOps.run(…, new StatefulOps.RunningAgg)` on the RocksDB state
  * store — feeds a sink that stamps each result's emission time. A drain
  * phase then times the same query catching up on a pre-written backlog
  * under the same per-trigger cap, and a final far-future event flushes
  * every buffered result for the output check. */
final class Stream(spark: SparkSession, runDir: String, seed: Long,
                   seconds: Int, tracer: Option[Tracer], perturb: Boolean,
                   drainFiles: Int = Stream.DrainFiles) {
  import Stream._

  private val inDir = new File(runDir, "stream/in")
  private val stageDir = new File(runDir, "stream/staging")
  private val ckpt = new File(runDir, "stream/checkpoint")
  private val baseNano = System.nanoTime()
  private val baseUs = System.currentTimeMillis() * 1000L
  private def nowUs(): Long = baseUs + (System.nanoTime() - baseNano) / 1000L

  // fixture columns, replayed in event_id order
  private var users: Array[Long] = _
  private var types: Array[String] = _
  private var values: Array[Double] = _

  // what the generator wrote: one row per event, one row per file
  private val events = ArrayBuffer.empty[Array[Any]]
  private val files = ArrayBuffer.empty[Array[Any]]
  private var nextId = 0
  private var fileNo = 0
  private val rnd = new scala.util.Random(seed)

  // what the sink received: (key, event_id, ts_us, running_n, running_sum, emit_us)
  private val sunk = ArrayBuffer.empty[Array[Long]]
  // traced runs: (emit_us, collect_us) per sink call
  private val sinkCalls = ArrayBuffer.empty[Array[Long]]
  @volatile private var sunkRows = 0L

  /** One set-up repetition: load the fixture the generator replays from
    * `dir`; returns its seconds. */
  def setup(dir: String): Double = {
    val t0 = System.nanoTime()
    val rows = spark.read.parquet(s"$dir/events.parquet")
      .select("event_id", "user_id", "event_type", "value").collect()
      .sortBy(_.getLong(0))
    users = rows.map(_.getLong(1)); types = rows.map(_.getString(2))
    values = rows.map(_.getDouble(3))
    Seq(inDir, stageDir).foreach(_.mkdirs())
    (System.nanoTime() - t0) / 1e9
  }

  /** Write one file of `n` events; `ts(i, due)` gives (event time, flag). */
  private def writeFile(dueUs: Long, n: Int, phase: String,
                        ts: (Int, Long) => (Long, Int), publish: Boolean = true): File = {
    val sb = new StringBuilder
    val first = nextId
    (0 until n).foreach { i =>
      require(nextId < users.length, "stream fixture exhausted")
      val (t, flag) = ts(i, dueUs)
      sb ++= s"$nextId,$t,${users(nextId)},${types(nextId)},${values(nextId)}\n"
      events += Array(nextId.toLong, t, users(nextId), types(nextId), values(nextId),
        dueUs, flag, phase)
      nextId += 1
    }
    val name = f"events_$fileNo%06d.csv"
    fileNo += 1
    val staged = new File(stageDir, name)
    Files.write(staged.toPath, sb.toString.getBytes(UTF_8))
    val dst = new File(inDir, name)
    if (publish) Files.move(staged.toPath, dst.toPath, StandardCopyOption.ATOMIC_MOVE)
    files += Array(name, dueUs, nowUs(), first.toLong, n.toLong, phase)
    staged
  }

  private def sink(batch: Dataset[RunningAggOut], id: Long): Unit = {
    val c0 = System.nanoTime()
    val rows = batch.collect()
    val emit = nowUs()
    if (tracer.isDefined)
      sinkCalls.synchronized { sinkCalls += Array(emit, (System.nanoTime() - c0) / 1000L) }
    val out = rows.map(r => Array(r.key, r.eventId, r.tsUs, r.runningN, r.runningSumMillis, emit))
    if (perturb && sunk.isEmpty && out.nonEmpty) out(0)(3) += 1
    sunk.synchronized { sunk ++= out }
    sunkRows += out.length
  }

  private def progressOf(q: StreamingQuery): Array[StreamingQueryProgress] = q.recentProgress

  private def inputRows(q: StreamingQuery): Long = progressOf(q).map(_.numInputRows).sum

  private def batchEndUs(p: StreamingQueryProgress): Long =
    java.time.Instant.parse(p.timestamp).toEpochMilli * 1000L +
      Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L) * 1000L

  /** Poll `cond` until it holds or `timeoutS` passes; returns whether it held. */
  private def poll(timeoutS: Double)(cond: => Boolean): Boolean = {
    val deadline = System.nanoTime() + (timeoutS * 1e9).toLong
    while (!cond && System.nanoTime() < deadline) Thread.sleep(2)
    cond
  }

  private def await(what: String, timeoutS: Double)(cond: => Boolean): Unit =
    if (!poll(timeoutS)(cond)) throw new IllegalStateException(s"timed out waiting for $what")

  private def start(): StreamingQuery = {
    import spark.implicits._
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val schema = StructType(Seq(StructField("event_id", LongType),
      StructField("ts_us", LongType), StructField("user_id", LongType),
      StructField("event_type", StringType), StructField("value", DoubleType)))
    val keyed = spark.readStream.schema(schema).option("maxFilesPerTrigger", Cap)
      .csv(inDir.getPath)
      .withColumn("ts", timestamp_micros(col("ts_us")))
      .withWatermark("ts", s"$DelayMs milliseconds")
      // `ts` stays in the operator's input: the state operator filters and
      // counts rows behind the watermark only when it sees the
      // event-time column.
      .select(col("ts"), col("user_id").as("key"), col("event_id").as("eventId"),
        col("ts_us").as("tsUs"), col("event_type").as("eventType"),
        round(col("value") * 1000).cast("long").as("valueMillis"))
      .as[KeyedEvent]
    StatefulOps.run(keyed, new StatefulOps.RunningAgg).writeStream
      .queryName("perfbench_event_stream")
      .option("checkpointLocation", ckpt.getPath)
      .foreachBatch(sink _)
      .start()
  }

  def run(): Map[String, Any] = {
    tracer.foreach(_.attach())
    // Primer: one file well in the past plus an anchor event one delay
    // later, so the very first trigger already moves the watermark and the
    // next one emits — cold start is query start to first emission.
    val primerUs = nowUs() - 30000000L
    writeFile(primerUs, PerFile, "primer", (i, due) =>
      if (i == PerFile - 1) (due + DelayMs * 1000L + 1000L, Normal) else (due + i, Normal))
    val cg0 = tracer.map(_.codegen())
    val t0 = nowUs()
    val q = start()
    val buildS = (nowUs() - t0) / 1e6
    await("the first emission", 90)(sunkRows > 0)
    val coldS = (nowUs() - t0) / 1e6
    val cg1 = tracer.map(_.codegen())

    // Open loop: tick k is due at gen0 + k * TickMs whether or not the
    // query keeps up; events carry their due time as event time.
    val warmTicks = WarmS * 1000 / TickMs
    val ticks = warmTicks + seconds * 1000 / TickMs
    val gen0 = nowUs() + 50000L
    val generator = new Thread(() => {
      (0 until ticks).foreach { k =>
        val due = gen0 + k.toLong * TickMs * 1000L
        val waitUs = due - nowUs()
        if (waitUs > 0) Thread.sleep(waitUs / 1000L, ((waitUs % 1000L) * 1000L).toInt)
        val phase = if (k < warmTicks) "warm" else "measured"
        writeFile(due, PerFile, phase, (i, d) => {
          val u = rnd.nextDouble()
          if (phase == "measured" && u < LateShare) (d - (DelayMs + LateByMs) * 1000L, Late)
          else if (u < LateShare + OooShare)
            (d - 1000L - rnd.nextInt(DelayMs * 500).toLong, OutOfOrder)
          else (d + i, Normal)
        })
      }
    }, "perfbench-generator")
    generator.setDaemon(true)
    generator.start()
    generator.join()
    val openEndUs = nowUs()
    val cg2 = tracer.map(_.codegen())
    await("the open loop to commit", 60)(inputRows(q) >= nextId)

    // Drain: the same query catches up on a pre-written backlog of ten
    // triggers' worth of files, so the state store's every-tenth-batch
    // maintenance lands in every round alike. A traced run drains three
    // backlogs, untraced / traced / untraced, to measure its overhead.
    val plan = if (tracer.isDefined) Seq(false, true, false) else Seq(false)
    val drains = plan.zipWithIndex.map { case (traced, r) =>
      tracer.foreach(t => if (traced) t.attach() else t.detach())
      val due = nowUs()
      val staged = (0 until drainFiles).map { f =>
        writeFile(due + f * 1000L, PerFile, s"drain$r",
          (i, d) => (d + i, Normal), publish = false)
      }
      val target = nextId.toLong
      val pub = nowUs()
      staged.foreach(s => Files.move(s.toPath, new File(inDir, s.getName).toPath,
        StandardCopyOption.ATOMIC_MOVE))
      await(s"drain round $r", 60)(inputRows(q) >= target)
      var cum = 0L
      val last = progressOf(q).find { p => cum += p.numInputRows; cum >= target }.get
      Map("round" -> r, "traced" -> traced, "publish_us" -> pub,
        "end_us" -> batchEndUs(last), "events" -> drainFiles * PerFile)
    }
    tracer.foreach(_.attach())

    // Flush: one far-future event moves the watermark past every buffered
    // row; it stays buffered itself and is left out of the check.
    val lastTs = events.map(_(1).asInstanceOf[Long]).max
    writeFile(nowUs(), 1, "flush", (_, _) => (lastTs + DelayMs * 1000L + 1000000L, Sentinel))
    val expectedRows = events.count { e =>
      val f = e(6).asInstanceOf[Int]; f != Late && f != Sentinel }
    // Missing results are the check's to count, not a reason to fail the run.
    poll(20)(sunkRows >= expectedRows)
    Thread.sleep(200) // a duplicate emission would land here
    q.stop()
    q.awaitTermination()
    tracer.foreach(_.detach())

    val progress = progressOf(q).map(progressMap).toList
    def delta(a: Option[(Long, Long)], b: Option[(Long, Long)]) =
      a.zip(b).map { case (x, y) => Seq(y._1 - x._1, y._2 - x._2) }.getOrElse(Seq(0L, 0L))
    Map("cold_s" -> coldS, "build_s" -> buildS, "open_end_us" -> openEndUs,
      "codegen_cold" -> delta(cg0, cg1), "codegen_open" -> delta(cg1, cg2),
      "sink_calls" -> sinkCalls.synchronized(sinkCalls.toList),
      "config" -> Map("rate_eps" -> PerFile * 1000 / TickMs, "tick_ms" -> TickMs,
        "per_file" -> PerFile, "cap_files" -> Cap, "delay_ms" -> DelayMs,
        "warm_s" -> WarmS, "measured_s" -> seconds, "late_by_ms" -> LateByMs,
        "drain_files" -> drainFiles),
      "events" -> events.toList, "files" -> files.toList,
      "sink" -> sunk.synchronized(sunk.toList), "drains" -> drains.toList,
      "progress" -> progress,
      "traced_progress" -> tracer.map(_.progress.map(progressMap).toList).getOrElse(Nil))
  }
}

object Stream {
  val TickMs = 100
  val PerFile = 20 // 200 events/s
  val Cap = 40 // maxFilesPerTrigger, open loop and drain alike
  val DelayMs = 1000 // watermark delay
  val WarmS = 1
  val DrainFiles = 400
  val OooShare = 0.05
  val LateShare = 0.005 // of measured events, sent beyond the watermark
  val LateByMs = 20000
  val Normal = 0; val OutOfOrder = 1; val Late = 2; val Sentinel = 3

  def progressMap(p: StreamingQueryProgress): Map[String, Any] = {
    val st = p.stateOperators.headOption
    Map("batch" -> p.batchId, "timestamp" -> p.timestamp,
      "start_us" -> java.time.Instant.parse(p.timestamp).toEpochMilli * 1000L,
      "input_rows" -> p.numInputRows,
      "duration_ms" -> scala.jdk.CollectionConverters.MapHasAsScala(p.durationMs)
        .asScala.map { case (k, v) => k -> v.longValue }.toMap,
      "state_rows" -> st.map(_.numRowsTotal).getOrElse(0L),
      "state_memory_bytes" -> st.map(_.memoryUsedBytes).getOrElse(0L),
      "state_commit_ms" -> st.map(_.commitTimeMs).getOrElse(0L),
      "dropped_late_rows" -> st.map(_.numRowsDroppedByWatermark).getOrElse(0L))
  }
}
