package graft.perfbench

import scala.util.control.NonFatal

import graft.queries.Registry
import org.apache.spark.sql.SparkSession

/** A closed loop with one client over a fixed list of registry queries.
  *
  * Set-up: read the fixture tables, then run the operations'
  * `Registry.prepares` hooks. Then one cold pass,
  * then `passes` warm passes, each in a seeded order. Every operation is
  * timed as build (the registry function, where eager ingest and driver
  * loops run) plus action (`collect`, which materialises every output
  * column); its fingerprint is compared with the DuckDB reference outside
  * the timed window. */
final class Batch(spark: SparkSession, ops: Seq[String], tables: Seq[String], dir: String,
                  refs: Map[String, String], seed: Long, passes: Int,
                  perturb: String, tracer: Option[Tracer]) {
  private val queries = Registry.queries
  private val prepares = Registry.prepares

  private def now(): Long = System.currentTimeMillis()

  /** One set-up repetition: read each fixture table the operations use
    * once; returns its seconds. */
  def loadFixtures(): Double = {
    val t0 = System.nanoTime()
    tables.foreach(t => spark.read.parquet(s"$dir/$t.parquet").count())
    (System.nanoTime() - t0) / 1e9
  }

  /** The operations' `Registry.prepares` hooks (index and model builds);
    * returns their seconds. */
  def prepare(): Double = {
    val t0 = System.nanoTime()
    ops.foreach(op => prepares.get(op).foreach(_(spark, dir)))
    (System.nanoTime() - t0) / 1e9
  }

  private def runOp(op: String, pass: Int, idx: Int): Map[String, Any] = {
    val id = s"p$pass.$idx.$op"
    // Collect the previous operation's garbage outside the timed window, so
    // an operation does not pay for whichever one the seeded order put
    // before it.
    System.gc()
    tracer.foreach(_.begin(id))
    val start = now()
    val t0 = System.nanoTime()
    var t1 = t0
    var t2 = t0
    var err = ""
    var fp = ""
    try {
      val df = queries(op)(spark, dir)
      t1 = System.nanoTime()
      val rows = df.collect()
      t2 = System.nanoTime()
      fp = Canon.fingerprint(df.columns.toSeq,
        if (op == perturb) Canon.perturb(rows) else rows)
    } catch {
      case NonFatal(e) =>
        if (t1 == t0) t1 = System.nanoTime()
        t2 = System.nanoTime()
        err = s"${e.getClass.getSimpleName}: " +
          String.valueOf(e.getMessage).linesIterator.take(1).mkString
    }
    val ok = err.isEmpty && refs.get(op).contains(fp)
    if (err.isEmpty && !ok)
      err = s"fingerprint $fp != reference ${refs.getOrElse(op, "(none)")}"
    tracer.foreach { t =>
      val mid = start + (t1 - t0) / 1000000L
      val stop = start + (t2 - t0) / 1000000L
      t.span(Map("id" -> id, "parent" -> s"p$pass", "kind" -> "op", "name" -> op,
        "start_ms" -> start, "end_ms" -> stop))
      t.span(Map("id" -> s"$id.build", "parent" -> id, "kind" -> "build", "name" -> op,
        "start_ms" -> start, "end_ms" -> mid))
      t.span(Map("id" -> s"$id.action", "parent" -> id, "kind" -> "action", "name" -> op,
        "start_ms" -> mid, "end_ms" -> stop))
      t.end()
    }
    spark.catalog.clearCache()
    if (err.nonEmpty) System.err.println(s"[perfbench] $op failed: $err")
    Map("op" -> op, "pass" -> pass, "idx" -> idx, "start_ms" -> start,
      "build_s" -> (t1 - t0) / 1e9, "action_s" -> (t2 - t1) / 1e9, "ok" -> ok,
      "err" -> err)
  }

  /** One pass over the operation list in the pass's seeded order. */
  def pass(pass: Int, traced: Boolean): Map[String, Any] = {
    tracer.foreach(t => if (traced) t.attach() else t.detach())
    val order = new scala.util.Random(seed * 1000003L + pass).shuffle(ops)
    val cg0 = tracer.map(_.codegen())
    val start = now()
    val recs = order.zipWithIndex.map { case (op, i) => runOp(op, pass, i) }
    val end = now()
    val cg1 = tracer.map(_.codegen())
    tracer.foreach(_.span(Map("id" -> s"p$pass", "parent" -> "", "kind" -> "pass",
      "name" -> s"pass $pass", "start_ms" -> start, "end_ms" -> end)))
    Map("pass" -> pass, "traced" -> traced, "start_ms" -> start, "end_ms" -> end,
      "ops" -> recs,
      "codegen_ns" -> cg0.zip(cg1).map { case (a, b) => b._1 - a._1 }.getOrElse(0L),
      "codegen_classes" -> cg0.zip(cg1).map { case (a, b) => b._2 - a._2 }.getOrElse(0L))
  }

  /** Cold pass, warm-up passes (checked, not timed: the JIT is still
    * compiling the operations' hot paths through the first passes after
    * the cold one), then the timed warm passes. A traced run times three
    * warm passes, untraced / traced / untraced, so tracing overhead is the
    * traced pass against the mean of the two around it. */
  def run(): Map[String, Any] = {
    val cold = pass(0, traced = tracer.isDefined)
    val warmup = (1 to Batch.WarmupPasses).map(i => pass(i, traced = false))
    val plan = if (tracer.isDefined) Seq(false, true, false) else Seq.fill(passes)(false)
    val warm = plan.zipWithIndex.map { case (t, i) =>
      pass(Batch.WarmupPasses + i + 1, traced = t) }
    tracer.foreach(_.detach())
    Map("cold" -> cold, "warmup" -> warmup.toList, "warm" -> warm.toList)
  }
}

object Batch {
  val WarmupPasses = 2
}
