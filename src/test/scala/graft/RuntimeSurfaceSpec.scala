package graft

import graft.operators.Partitioning
import graft.streaming.StatefulOps
import graft.streaming.StatefulOps.KeyedEvent
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Checkpoint restore, socket/rate sources, partitioning, spark.ml
  * passthrough — the runtime-surface pieces the oracle gate can't cover. */
class RuntimeSurfaceSpec extends SparkSpec {
  import spark.implicits._

  test("stateful query restores state from checkpoint across restarts") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft_ckpt_out").toString
    val mem = MemoryStream[KeyedEvent]
    def startQuery() = {
      val ds = mem.toDS().withColumn("ts", timestamp_micros(col("tsUs")))
        .withWatermark("ts", "0 seconds").drop("ts").as[KeyedEvent]
      StatefulOps.run(ds, new StatefulOps.RunningAgg)
        .toDF("key", "event_id", "ts_us", "running_n", "running_sum_millis")
        .writeStream.outputMode("append").format("parquet")
        .option("path", outDir).option("checkpointLocation", ckpt).start()
    }
    def ev(id: Long, tsSec: Long, vm: Long) = KeyedEvent(7L, id, tsSec * 1000000L, "x", vm)

    val q1 = startQuery()
    mem.addData(ev(1, 10, 100), ev(2, 20, 200))
    q1.processAllAvailable()
    mem.addData(ev(3, 30, 300)) // nudge watermark so 1,2 emit
    q1.processAllAvailable()
    q1.stop()
    // restart on the same checkpoint: running sum must continue, not reset
    val q2 = startQuery()
    mem.addData(ev(4, 40, 400))
    q2.processAllAvailable()
    mem.addData(ev(5, 50, 0))
    q2.processAllAvailable()
    q2.stop()
    val got = spark.read.parquet(outDir).select("event_id", "running_sum_millis")
      .as[(Long, Long)].collect().toMap
    assert(got(1L) === 100L)
    assert(got(2L) === 300L)
    assert(got(3L) === 600L)   // emitted after restart from restored state
    assert(got(4L) === 1000L)  // 600 carried over + 400
  }

  test("lateness-window state (open windows + clean watermark) survives a restart") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.streaming.WindowProcessor
    val ckpt = java.nio.file.Files.createTempDirectory("graft_lateckpt").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft_lateckpt_out").toString
    val mem = MemoryStream[KeyedEvent]
    def startQuery() = {
      val ds = mem.toDS().withColumn("ts", timestamp_micros(col("tsUs")))
        .withWatermark("ts", "0 seconds").drop("ts").as[KeyedEvent]
      StatefulOps.run(ds,
          new WindowProcessor.TumblingWithLateness(100000000L, 10000000L, 50000000L))
        .toDF("key", "win_start_us", "tag", "fire_seq", "trig_id", "n", "sum_millis")
        .writeStream.outputMode("append").format("parquet")
        .option("path", outDir).option("checkpointLocation", ckpt).start()
    }
    def ev(id: Long, tsSec: Long, vm: Long) = KeyedEvent(9L, id, tsSec * 1000000L, "x", vm)

    val q1 = startQuery()
    mem.addData(ev(1, 50, 10))               // w0 accumulates, stays open
    q1.processAllAvailable()
    q1.stop()
    val q2 = startQuery()                    // restart: w0 must still be open
    mem.addData(ev(2, 120, 20))              // clean wm 110 fires w0 with restored n=1
    q2.processAllAvailable()
    mem.addData(ev(3, 80, 30))               // late against restored clean wm: re-fire n=2
    q2.processAllAvailable()
    q2.stop()
    val got = spark.read.parquet(outDir)
      .select("win_start_us", "tag", "fire_seq", "trig_id", "n", "sum_millis")
      .as[(Long, String, Long, Long, Long, Long)].collect().toSet
    assert(got === Set(
      (0L, "fire", 0L, 2L, 1L, 10L),
      (0L, "fire", 1L, 3L, 2L, 40L)))
  }

  test("socket source streams lines from a TCP server") {
    val server = new java.net.ServerSocket(0)
    val port = server.getLocalPort
    val feeder = new Thread(() => {
      val sock = server.accept()
      val out = new java.io.PrintWriter(sock.getOutputStream, true)
      (1 to 5).foreach(i => out.println(s"line$i"))
      Thread.sleep(3000); sock.close()
    })
    feeder.setDaemon(true); feeder.start()
    val df = spark.readStream.format("socket")
      .option("host", "localhost").option("port", port).load()
    val q = df.writeStream.format("memory").queryName("sock_sink").start()
    try {
      var tries = 0
      while (spark.table("sock_sink").count() < 5 && tries < 100) { Thread.sleep(200); tries += 1 }
      assert(spark.table("sock_sink").as[String].collect().toSet ===
        (1 to 5).map(i => s"line$i").toSet)
    } finally { q.stop(); server.close() }
  }

  test("rate source produces monotonically increasing values") {
    val df = spark.readStream.format("rate").option("rowsPerSecond", "50").load()
    val q = df.writeStream.format("memory").queryName("rate_sink").start()
    try {
      var tries = 0
      while (spark.table("rate_sink").count() < 10 && tries < 100) { Thread.sleep(200); tries += 1 }
      val vals = spark.table("rate_sink").select("value").as[Long].collect().sorted
      assert(vals.length >= 10)
      assert(vals.toSet.size === vals.length) // distinct, no gaps guarantee needed
    } finally q.stop()
  }

  test("fanOutForCompute decides from the plan: composing over an upstream " +
    "exchange launches no job, a single-file parquet scan still fans out") {
    def jobsOf(f: => Unit): Int = SparkSpec.jobsOf(spark)(f)
    val sc = spark.sparkContext
    val dir = java.nio.file.Files.createTempDirectory("graft-fanout").toString + "/one"
    spark.range(0, 500, 1, 1).select(col("id"), (col("id") % 7).as("k"))
      .write.parquet(dir)
    val scan = spark.read.parquet(dir)
    val target = sc.defaultParallelism
    assert(scan.rdd.getNumPartitions === 1 && target > 1)
    val upstream = scan.groupBy(col("k")).agg(count(lit(1)).as("n"))
    var composed: org.apache.spark.sql.DataFrame = null
    assert(jobsOf { composed = Partitioning.fanOutForCompute(upstream, col("k")) } === 0,
      "composing over an upstream exchange must not run it")
    assert(composed.collect().map(_.getLong(1)).sum === 500L)
    var fanned: org.apache.spark.sql.DataFrame = null
    assert(jobsOf { fanned = Partitioning.fanOutForCompute(scan, col("id")) } === 0)
    assert(fanned.rdd.getNumPartitions === target,
      "a single-split scan must still fan out to the default parallelism")
    assert(fanned.count() === 500L)
  }

  test("partitioning facade: byKey co-locates, rebalance evens, global=1") {
    val df = (1 to 1000).map(i => (i % 10, i)).toDF("k", "v")
    val byKey = Partitioning.byKey(df, 4, col("k"))
    // co-location: every key appears in exactly one partition
    val locs = byKey.select(spark_partition_id().as("p"), col("k")).distinct()
      .groupBy("k").count().select("count").as[Long].collect()
    assert(locs.forall(_ === 1L))
    assert(Partitioning.rebalance(df, 8).rdd.getNumPartitions === 8)
    assert(Partitioning.global(df).rdd.getNumPartitions === 1)
    val ranged = Partitioning.byRange(df, 4, col("v"))
    // ranges are contiguous: per-partition max < next partition's min
    val bounds = ranged.select(spark_partition_id().as("p"), col("v"))
      .groupBy("p").agg(min("v").as("lo"), max("v").as("hi"))
      .orderBy("p").as[(Int, Int, Int)].collect()
    bounds.sliding(2).foreach {
      case Array((_, _, hi1), (_, lo2, _)) => assert(hi1 <= lo2)
      case _ =>
    }
  }

  test("spark.ml passthrough: LinearRegression recovers exact linear weights") {
    import org.apache.spark.ml.feature.VectorAssembler
    import org.apache.spark.ml.regression.LinearRegression
    val data = (1 to 100).map(i => (i.toDouble, (i % 7).toDouble, 3.0 * i + 2.0 * (i % 7) + 5.0))
      .toDF("x1", "x2", "y")
    val feats = new VectorAssembler().setInputCols(Array("x1", "x2")).setOutputCol("features")
      .transform(data)
    val model = new LinearRegression().setFeaturesCol("features").setLabelCol("y")
      .setRegParam(0.0).fit(feats)
    assert(math.abs(model.coefficients(0) - 3.0) < 1e-6)
    assert(math.abs(model.coefficients(1) - 2.0) < 1e-6)
    assert(math.abs(model.intercept - 5.0) < 1e-5)
  }
}
