package graft

/** Dump `.explain("formatted")` of registry queries to files — the
  * optimization-round evidence trail (plans/r20/<query>_{before,after}.txt).
  * Usage:
  *   sbt "runMain graft.PlanDump <sfDir> <outDir> <suffix> [q1,q2,...]"
  * Writes <outDir>/<query>_<suffix>.txt for each selected query.
  *
  * Three sections per file (round-20 rework; the round-19 form recorded
  * NEITHER of the last two):
  *  - the initial formatted plan (pre-execution, isFinalPlan=false);
  *  - the POST-AQE final plan: the tool executes the SAME QueryExecution
  *    (`df.queryExecution.toRdd.foreach`), so `executedPlan` shows the
  *    adaptively re-optimized shape that actually ran (isFinalPlan=true) —
  *    a fresh noop write would build a NEW QueryExecution and leave the
  *    dumped one at its initial plan;
  *  - every INNER execution observed while the query was built and run
  *    (QueryExecutionListener): operators that materialize mid-build
  *    (localCheckpoint ingest chains, eager index builds) hide their real
  *    work behind a `Scan ExistingRDD` in the outer plan — the listener
  *    records those plans so the evidence is not blind at RDD boundaries.
  *
  * Prepare failures are printed AND recorded in the artifact (a plan dumped
  * against unprepared state must be self-describing).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val suffix = args(2)
    val only = args.lift(3).map(_.split(",").toSet)
    val spark = GraftSession(GraftSession.cpus("32"), "ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))

    // Captures every Dataset action's executed plan (the listener bus is
    // async, so reads poll until quiescent before snapshotting).
    val inner = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             durationNs: Long): Unit =
        inner.add((funcName, qe.executedPlan.toString))
      override def onFailure(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    def drainInner(): Seq[(String, String)] = {
      var last = -1
      var stable = 0
      while (stable < 2) { // two consecutive quiet polls = bus drained
        Thread.sleep(100)
        val n = inner.size
        if (n == last) stable += 1 else { stable = 0; last = n }
      }
      val out = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
      var e = inner.poll()
      while (e != null) { out += e; e = inner.poll() }
      out.toSeq
    }

    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .foreach { case (name, fn) =>
        try {
          val prepErr = graft.queries.Registry.prepares.get(name).flatMap { p =>
            try { p(spark, sfDir); None } catch { case e: Throwable =>
              println(s"[plandump] $name prepare FAILED: " +
                s"${e.getClass.getSimpleName}: ${e.getMessage}")
              Some(s"${e.getClass.getSimpleName}: ${e.getMessage}")
            }
          }
          inner.clear()
          val df = fn(spark, sfDir)
          val initial = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          // Execute THIS QueryExecution so its adaptive plan finalizes.
          df.queryExecution.toRdd.foreach(_ => ())
          val executed = df.queryExecution.executedPlan.toString
          val innerPlans = drainInner()
          val innerTxt =
            if (innerPlans.isEmpty) ""
            else innerPlans.zipWithIndex.map { case ((f, p), i) =>
              s"== inner execution ${i + 1} ($f) ==\n$p\n"
            }.mkString
          val txt =
            prepErr.map(e => s"== PREPARE FAILED (plan reflects unprepared state) ==\n$e\n").getOrElse("") +
            s"== explain(formatted), initial plan ==\n$initial\n" +
            s"== executed plan (post-AQE) ==\n$executed\n" + innerTxt
          java.nio.file.Files.write(
            java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt"),
            txt.getBytes("UTF-8"))
          spark.catalog.clearCache()
          println(s"[plandump] wrote $name")
        } catch { case e: Throwable =>
          println(s"[plandump] $name ERROR ${e.getClass.getSimpleName}: ${e.getMessage}")
        }
      }
    spark.stop()
  }
}
