package graft

import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Generic per-query stage profiler (round 20) — times registry queries
  * with job/stage accounting, the evidence tool behind the
  * OPTIMIZATION_r20.md "what dominates" claims. Usage:
  *   SPARK_GRAFT_SF_DIR=... sbt "runMain graft.QProfile q1,q2[,...]"
  * Each query runs `rounds` times (default 3) after one warmup (printed
  * as r0); stages with > 0.3 core-s of executor run time print with
  * run/cpu/gc split so contention (run >> cpu) is visible. Each round
  * line also reports the Janino compiles (`compiles=`) and their time
  * (`compile=`, ms) the round paid: a warm round with compiles > 0 is
  * codegen-cache eviction. */
object QProfile {
  def main(args: Array[String]): Unit = {
    val names = args.headOption.map(_.split(",").toSeq).getOrElse(Seq.empty)
    require(names.nonEmpty, "usage: QProfile q1,q2[,...]")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val rounds = Knobs.envPositiveInt("SPARK_GRAFT_QPROF_ROUNDS", 3)
    // ad-hoc conf overrides for A/B probes: SPARK_GRAFT_EXTRA_CONF=k=v;k=v
    val extra = sys.env.get("SPARK_GRAFT_EXTRA_CONF").toSeq.flatMap(_.split(";"))
      .filter(_.contains("=")).map { kv => val Array(k, v) = kv.split("=", 2); k -> v }
    val spark = GraftSession(GraftSession.cpus("32"), "ERROR", extra)

    val verbose = new java.util.concurrent.atomic.AtomicBoolean(false)
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val taskNanos = new java.util.concurrent.atomic.AtomicLong(0L)
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          jobs.incrementAndGet(); ()
        }
        override def onStageCompleted(
            s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          val si = s.stageInfo
          val rt = si.taskMetrics.executorRunTime / 1e3
          if (verbose.get() && rt > 0.3)
            println(f"[qprof]   stage ${si.stageId}%4d tasks=${si.numTasks}%3d " +
              f"run=$rt%6.2f cpu=${si.taskMetrics.executorCpuTime / 1e9}%6.2f " +
              f"gc=${si.taskMetrics.jvmGCTime / 1e3}%5.2f  ${si.name.take(70)}")
        }
        override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          if (t.taskMetrics != null)
            taskNanos.addAndGet(t.taskMetrics.executorRunTime * 1000000L)
      })

    val compiles = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      graft.queries.Registry.prepares.get(name).foreach(p => p(spark, sfDir))
      // r0 is the warmup: its compiles are the query's cold codegen-cache
      // entries
      for (r <- 0 to rounds) {
        verbose.set(r == rounds) // stage detail on the last (warmest) round
        val j0 = jobs.get(); val n0 = taskNanos.get()
        val c0 = compiles.getCount; val cn0 = CodeGenerator.compileTime
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        val wall = (System.nanoTime() - t0) / 1e9
        Thread.sleep(150)
        println(f"[qprof] $name%-28s r$r  $wall%6.2f s  " +
          f"(jobs=${jobs.get() - j0}%3d, core-s=${(taskNanos.get() - n0) / 1e9}%7.2f, " +
          f"compiles=${compiles.getCount - c0}%3d, " +
          f"compile=${(CodeGenerator.compileTime - cn0) / 1e6}%7.1f)")
        spark.catalog.clearCache()
      }
    }
    spark.stop()
  }
}
