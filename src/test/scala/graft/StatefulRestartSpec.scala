package graft

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import graft.streaming.StatefulOps
import graft.streaming.StatefulOps.{KeyedEvent, RunningAggOut}
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, timestamp_micros}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

/** A `StatefulOps` (transformWithState) query stopped after two files and
  * restarted from its checkpoint must sink exactly what one uninterrupted
  * run sinks: the restart restores the running sums, the buffered rows and
  * the watermark, so an out-of-order event in the third file still lands
  * in event-time order and an event late beyond the watermark is dropped
  * exactly once. The reference's exactly-once contract for keyed state
  * (Carbone et al., State Management in Apache Flink, VLDB 2017). Each
  * restart also switches the `file://` filesystem the checkpoint is read
  * and written with, between Hadoop's stock `LocalFs` and graft's. */
class StatefulRestartSpec extends SparkSpec {

  private val Stock = "org.apache.hadoop.fs.local.LocalFs"
  private val Graft = classOf[graft.io.LocalFs].getName

  private val schema = StructType(Seq(StructField("key", LongType),
    StructField("eventId", LongType), StructField("tsUs", LongType),
    StructField("eventType", StringType), StructField("valueMillis", LongType)))

  /** (key, eventId, event time in s, valueMillis); the watermark trails the
    * largest event time by 10 s. */
  private val files = Seq(
    Seq((1L, 1L, 100L, 10L), (2L, 2L, 105L, 20L), (1L, 3L, 110L, 30L)),
    Seq((2L, 4L, 120L, 40L), (1L, 5L, 130L, 50L), (2L, 6L, 125L, 60L)),
    // after two files the watermark is 120 s: event 7 is out of order but
    // on time, event 8 is 30 s behind the watermark, and event 9 moves the
    // watermark past every other event so they all emit
    Seq((1L, 7L, 127L, 70L), (2L, 8L, 90L, 80L), (3L, 9L, 1000L, 0L)))

  /** (key, eventId, runningN, runningSumMillis), sorted: key 1 sums in
    * event-time order, event 7 before event 5. Events 8 (late) and 9 (not
    * yet behind the watermark) emit nothing. */
  private val expected = Seq((1L, 1L, 1L, 10L), (1L, 3L, 2L, 40L), (1L, 5L, 4L, 160L),
    (1L, 7L, 3L, 110L), (2L, 2L, 1L, 20L), (2L, 4L, 2L, 60L), (2L, 6L, 3L, 120L))

  private val start0 = System.currentTimeMillis() - 600000L

  private def publish(in: File, i: Int): Unit = {
    val f = new File(in, s"events_$i.csv")
    val rows = files(i).map { case (k, id, s, vm) => s"$k,$id,${s * 1000000L},view,$vm\n" }
    Files.write(f.toPath, rows.mkString.getBytes(UTF_8))
    f.setLastModified(start0 + i * 1000L) // one file per trigger, in order
  }

  /** A session whose `file://` FileContexts use `fs`: graft's through the
    * bind every event-time operator makes, the stock one as a user's own
    * binding, which that bind leaves alone. */
  private def session(fs: String): SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", "2")
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    if (fs == Stock) s.conf.set(graft.io.LocalFs.Key, Stock)
    s
  }

  /** Runs the query over what `dir/in` holds until it is drained, stops it
    * and returns the rows it dropped behind the watermark. */
  private def runOnce(fs: String, dir: File): Long = {
    val s = session(fs)
    import s.implicits._
    val keyed = s.readStream.schema(schema).option("maxFilesPerTrigger", 1)
      .csv(new File(dir, "in").getPath)
      .withColumn("ts", timestamp_micros(col("tsUs")))
      .withWatermark("ts", "10 seconds")
      .as[KeyedEvent]
    val q: StreamingQuery = StatefulOps.run(keyed, new StatefulOps.RunningAgg).writeStream
      .format("parquet").outputMode("append")
      .option("checkpointLocation", new File(dir, "ckpt").getPath)
      .start(new File(dir, "out").getPath)
    assert(s.conf.get(graft.io.LocalFs.Key) === fs)
    try q.processAllAvailable() finally q.stop()
    q.recentProgress.flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum
  }

  private def sunk(dir: File): Seq[(Long, Long, Long, Long)] = {
    import spark.implicits._
    spark.read.parquet(new File(dir, "out").getPath).as[RunningAggOut].collect().toSeq
      .map(o => (o.key, o.eventId, o.runningN, o.runningSumMillis)).sorted
  }

  private def withDir[T](tag: String)(f: File => T): T = {
    val d = Files.createTempDirectory(s"graft_restart_$tag").toFile
    new File(d, "in").mkdirs()
    try f(d) finally FileUtils.deleteQuietly(d)
  }

  private lazy val uninterrupted: Seq[(Long, Long, Long, Long)] = withDir("once") { d =>
    files.indices.foreach(publish(new File(d, "in"), _))
    assert(runOnce(Graft, d) === 1L)
    sunk(d)
  }

  private def label(fs: String) = if (fs == Graft) "graft's LocalFs" else "the stock LocalFs"

  for ((first, second) <- Seq((Graft, Stock), (Stock, Graft)))
    test(s"RunningAgg restarted from its checkpoint sinks what an uninterrupted run " +
      s"sinks and drops the late event once: written by ${label(first)}, restarted " +
      s"under ${label(second)}") {
      assert(uninterrupted === expected)
      withDir("twice") { d =>
        val in = new File(d, "in")
        publish(in, 0)
        publish(in, 1)
        assert(runOnce(first, d) === 0L)
        val before = sunk(d)
        assert(before.nonEmpty && before.forall(expected.contains))
        publish(in, 2)
        assert(runOnce(second, d) === 1L)
        assert(sunk(d) === uninterrupted)
      }
    }
}
