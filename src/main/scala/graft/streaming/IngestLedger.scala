package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Watermarked COMPLETED-BATCH ledger for the persistent-index streaming
  * ingests ([[graft.operators.IndexStore.streamIngest]]) and the
  * curriculum/mixture/top-up streams —
  * reference anchor: the exactly-once sink-commit surface of SURVEY
  * §2.10, the ledger half of the delivery-id replay contract).
  *
  * The flat form — one appended parquet file per micro-batch — is
  * correct but accumulates one tiny file per batch FOREVER, so the
  * per-commit done-check lists (and reads) O(delivered batches) files
  * on a never-ending stream: the exact genre [[DeltaState]] closed for
  * the mixture/curriculum state. This is the ledger specialization of
  * that generation pattern, exploiting one structural fact:
  * foreachBatch commits batch ids SEQUENTIALLY, and every processed
  * batch ledgers (empty included), so any ledgered id > bid proves bid
  * completed earlier — the ledgered-id SET [0..W] compresses to the
  * WATERMARK W ([[IterateStream]] documents the same argument for its
  * in-memory cache).
  *
  * Layout under `<dir>`:
  *  - `delta/batch_id=<id>/` — one-row parquet, per-batch OVERWRITE
  *    (a replayed batch rewrites its own partition);
  *  - `rollup/w=<W>/` — one-row parquet whose `_SUCCESS` marks the
  *    generation complete; every id ≤ W is done.
  *
  * Invariants ([[DeltaState]]'s watermark-monotone discipline):
  * [[markDone]] writes the delta FIRST and only then folds, so a crash
  * anywhere leaves a readable ledger — before the new generation's
  * `_SUCCESS` lands, [[isDone]] still answers from the old W plus the
  * intact deltas; after it, the new W wins and stale deltas/generations
  * are ignorable garbage the next call's cleanup deletes (all
  * idempotent). Losing NO ledgered id is the safety direction that
  * matters: an id is only ever superseded by a W that covers it. The
  * per-commit cost is one directory listing of `rollup/` (≈1 entry) +
  * one `exists`, O(1) in stream age. */
private[graft] object IngestLedger {

  /** Fold when more than this many delta partitions are live. */
  val DefaultRollEvery = 16

  private def hfs(spark: SparkSession, p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def deltaDir(dir: String) = new Path(s"$dir/delta")
  private def rollDir(dir: String) = new Path(s"$dir/rollup")

  private def deltaIds(spark: SparkSession, dir: String): Seq[Long] = {
    val dp = deltaDir(dir)
    val fs = hfs(spark, dp)
    if (!fs.exists(dp)) Seq.empty
    else fs.listStatus(dp).toSeq.filter(_.isDirectory)
      .map(_.getPath.getName)
      .filter(_.startsWith("batch_id="))
      .flatMap(n => n.stripPrefix("batch_id=").toLongOption)
  }

  private def genIds(spark: SparkSession, dir: String): Seq[Long] = {
    val rp = rollDir(dir)
    val fs = hfs(spark, rp)
    if (!fs.exists(rp)) Seq.empty
    else fs.listStatus(rp).toSeq.filter(_.isDirectory)
      .map(_.getPath.getName)
      .filter(_.startsWith("w="))
      .flatMap(n => n.stripPrefix("w=").toLongOption)
  }

  private def isComplete(spark: SparkSession, dir: String, w: Long): Boolean =
    hfs(spark, rollDir(dir)).exists(new Path(rollDir(dir), s"w=$w/_SUCCESS"))

  /** The max complete generation's watermark, −1 if none. */
  private def maxW(spark: SparkSession, dir: String): Long = {
    val complete = genIds(spark, dir).filter(isComplete(spark, dir, _))
    if (complete.isEmpty) -1L else complete.max
  }

  /** Has batch `bid` completed? Covered by the watermark, or its own
    * still-unrolled delta partition exists. */
  def isDone(spark: SparkSession, dir: String, bid: Long): Boolean =
    bid <= maxW(spark, dir) ||
      hfs(spark, deltaDir(dir))
        .exists(new Path(deltaDir(dir), s"batch_id=$bid"))

  /** The highest completed batch id, Long.MinValue if none — for callers
    * keeping their own in-memory high-water mark ([[IterateStream]]'s
    * once-per-drive load; ids are sequential, so `bid <= maxDone` is the
    * complete replay test). */
  def maxDone(spark: SparkSession, dir: String): Long =
    (maxW(spark, dir) +: deltaIds(spark, dir)) match {
      case Seq(-1L) => Long.MinValue
      case ids => ids.max
    }

  /** Idempotent garbage sweep: drop superseded/incomplete generations
    * and every delta the watermark covers. Returns the watermark. */
  private def cleanup(spark: SparkSession, dir: String): Long = {
    val w = maxW(spark, dir)
    val rfs = hfs(spark, rollDir(dir))
    genIds(spark, dir).filter(g => g < w || !isComplete(spark, dir, g))
      .foreach(g => rfs.delete(new Path(rollDir(dir), s"w=$g"), true))
    val dfs = hfs(spark, deltaDir(dir))
    deltaIds(spark, dir).filter(_ <= w)
      .foreach(id => dfs.delete(new Path(deltaDir(dir), s"batch_id=$id"), true))
    w
  }

  /** The replay guard every ledgered micro-batch unit shares: run `body`
    * unless batch `bid` is already ledgered, then ledger it. A crash
    * inside `body` leaves the batch unledgered, so its replay re-runs. */
  def once(spark: SparkSession, dir: String, bid: Long)(body: => Unit): Unit =
    if (!isDone(spark, dir, bid)) {
      body
      markDone(spark, dir, bid)
    }

  /** Ledger batch `bid` as completed (call AFTER the batch's output
    * commit), folding live deltas into a new watermark generation once
    * more than `rollEvery` accumulate. */
  def markDone(spark: SparkSession, dir: String, bid: Long,
               rollEvery: Int = DefaultRollEvery): Unit = {
    import spark.implicits._
    Seq(bid).toDF("batch_id").write.mode("overwrite")
      .parquet(s"$dir/delta/batch_id=$bid")
    val w0 = cleanup(spark, dir)
    val live = deltaIds(spark, dir).filter(_ > w0)
    if (live.size > math.max(rollEvery, 1)) {
      val newW = live.max
      Seq(newW).toDF("w").write.mode("overwrite")
        .parquet(s"$dir/rollup/w=$newW")
      cleanup(spark, dir)
    }
  }
}
