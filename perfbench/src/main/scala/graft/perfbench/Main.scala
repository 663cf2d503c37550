package graft.perfbench

import java.nio.file.{Files, Paths}

import graft.queries.Registry
import org.apache.spark.sql.SparkSession

/** JVM side of the benchmark (driven by `run.py`, which computes every
  * metric from the raw result this writes).
  *
  *   Main oracles <out.json>
  *     writes the oracle SQL of every operation the workloads time.
  *   Main run <workload> <seed> <seconds> <trace 0|1> <run dir>
  *            <refs.json> <out.json> <perturb op or "-"> <data dir>
  *     runs one workload against the fixtures in the data dir; a traced
  *     run's probes read theirs from `<data dir>/probe`. */
object Main {
  val sqlBatch: Seq[String] = Seq("q01_pricing_summary", "q03_shipping_priority",
    "q10_returned_items", "q34_grouping_sets", "q41_topn_per_group", "q70_tumble_1h",
    "q72_session_2h", "qb0_asof_backward", "qb2_range_join_binned")
  val pipelineBatch: Seq[String] = Seq("qcg_repetition_signals", "qf8_exact_substr_dedup",
    "qcj_kmeans")
  /** The fixture tables each batch workload's operations read. */
  val fixtures: Map[String, Seq[String]] = Map(
    "sql_batch" -> Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings"),
    "pipeline_batch" -> Seq("documents", "embeddings"))
  val streamOracle = "q95_stream_over_running"
  /** Fixture loads per run; set-up time takes their median. */
  val SetupReps = 3

  /** Warm passes per run: as many ~7 s passes (the batch workloads' warm
    * passes took 5-8 s at the defining commit) as fit the run's measured
    * seconds. A count
    * fixed by the seconds keeps every run, before and after a change, doing
    * the same work. */
  def passes(seconds: Int): Int = math.max(1, math.round(seconds / 7.0).toInt)

  private def session(cores: Int, runDir: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$runDir/local")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def runProbes(spark: SparkSession, dir: String, t: Tracer): Map[String, Any] = {
    t.attach()
    try new Probes(spark, dir, t).run() finally t.detach()
  }

  private def vmHwmKb(): Long =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(0L)

  def main(args: Array[String]): Unit = args.toList match {
    case "oracles" :: out :: Nil =>
      val names = sqlBatch ++ pipelineBatch :+ streamOracle
      val missing = names.filterNot(Registry.oracles.contains)
      require(missing.isEmpty, s"operations without an oracle: ${missing.mkString(",")}")
      Files.writeString(Paths.get(out), Json.render(Map(
        "sql_batch" -> sqlBatch, "pipeline_batch" -> pipelineBatch, "stream" -> streamOracle,
        "sql" -> names.map(n => n -> Registry.oracles(n)).toMap)))
    case "run" :: workload :: seed :: seconds :: trace :: runDir :: refsPath :: out ::
        perturb :: dir :: Nil =>
      val cores = Runtime.getRuntime.availableProcessors() // sized by run.py
      val spark = session(cores, runDir)
      val sessionReadyMs = System.currentTimeMillis()
      val tracer = if (trace == "1") Some(new Tracer(spark)) else None
      val result: Map[String, Any] = workload match {
        case "sql_batch" | "pipeline_batch" =>
          val ops = if (workload == "sql_batch") sqlBatch else pipelineBatch
          val b = new Batch(spark, ops, fixtures(workload), dir,
            Json.readStringMap(refsPath), seed.toLong, passes(seconds.toInt),
            perturb, tracer)
          val setups = Seq.fill(SetupReps)(b.loadFixtures())
          val prepareS = b.prepare()
          val firstOpMs = System.currentTimeMillis()
          val body = b.run()
          // A traced run also measures the layers the workload bypasses:
          // the operator and kernel probes, and a short stream.
          val probes = tracer.map(t => Map(
            "probes" -> runProbes(spark, s"$dir/probe", t),
            "stream_probe" -> {
              val s = new Stream(spark, s"$runDir/probe", seed.toLong, 3, tracer,
                perturb = false, drainFiles = 40)
              s.setup(s"$dir/probe")
              s.run()
            })).getOrElse(Map.empty)
          body ++ probes ++ Map("setup_reps_s" -> setups, "prepare_s" -> prepareS,
            "first_op_ms" -> firstOpMs)
        case "event_stream" =>
          val s = new Stream(spark, runDir, seed.toLong, seconds.toInt, tracer,
            perturb != "-")
          val setups = Seq.fill(SetupReps)(s.setup(dir))
          val firstOpMs = System.currentTimeMillis()
          val body = s.run()
          body ++ tracer.map(t => Map("probes" -> runProbes(spark, s"$dir/probe", t)))
            .getOrElse(Map.empty) ++
            Map("setup_reps_s" -> setups, "prepare_s" -> 0.0, "first_op_ms" -> firstOpMs)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      val meta = Map("cores" -> cores, "session_ready_ms" -> sessionReadyMs,
        "spark_version" -> spark.version, "jdk" -> System.getProperty("java.version"),
        "peak_rss_kb" -> vmHwmKb(), "trace" -> tracer.map(_.dump()).getOrElse(Map.empty))
      Files.writeString(Paths.get(out), Json.render(result ++ meta))
      // Everything is recorded; end the JVM without Spark's shutdown work,
      // which only adds to every run's wall time.
      Runtime.getRuntime.halt(0)
    case _ =>
      System.err.println("usage: Main oracles <out> | Main run <workload> <seed> <seconds> " +
        "<trace> <runDir> <refs> <out> <perturb> <dataDir>")
      sys.exit(2)
  }
}
