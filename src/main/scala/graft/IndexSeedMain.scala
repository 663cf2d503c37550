package graft

import graft.operators.{IvfIndex, LshIndex, PqIndex}

/** Seeds a persistent index from a FRESH JVM — the other half of the
  * cross-PROCESS claim the persistent indexes make (LshIndex.attach /
  * IvfIndex "any later process" semantics). CrossJvmIndexSpec shells this
  * main with a private warehouse, then attaches/searches the resulting
  * files from the test JVM: build and consume genuinely never share a
  * process, a catalog, or a SparkSession.
  *
  * Kept in main (not test) sources so `java.class.path` of a forked test
  * JVM can launch it directly. Usage: IndexSeedMain <warehouseDir>
  * <lsh|ivf|pq|loopcrash> <tag> (for loopcrash, `tag` is the loop work
  * directory and the run CRASHES by design after three rounds — the
  * crashed-writer half of the streaming-loop resume contract). */
object IndexSeedMain {

  /** Fixed corpus shared with the spec (ids < 30 here; the spec probes
    * with ids >= 40, so ingest-order orientation is deterministic). */
  val lshCorpus: Seq[(Long, String)] = {
    val base = "the quick brown fox jumps over the lazy dog again and again"
    Seq(
      1L -> base,
      2L -> "completely different words about entirely unrelated topics here now",
      3L -> base,
      11L -> (base + " tail"),
      12L -> "another disjoint document with its own private vocabulary set",
      21L -> base,
      22L -> "more singleton text that matches nothing else in the corpus")
  }

  /** Deterministic two-cluster vectors, same formula as IvfIndexSpec. */
  def vecs(ids: Seq[Long]): Seq[(Long, Array[Float])] = ids.map { i =>
    val b = if (i % 2 == 0) 1.0f else -1.0f
    (i, Array.tabulate(8)(d => b + ((i * 31 + d * 7) % 13).toFloat / 100f))
  }

  def main(args: Array[String]): Unit = {
    val Array(warehouse, mode, tag) = args
    val spark = GraftSession("2", confs = Seq("spark.app.name" -> "graft-index-seed",
      "spark.sql.warehouse.dir" -> warehouse, "spark.sql.shuffle.partitions" -> "4"))
    import spark.implicits._
    mode match {
      case "lsh" =>
        LshIndex.ingest(lshCorpus.toDF("doc_id", "text"), "doc_id", "text",
          n = 2, k = 128, bands = 64, threshold = 0.5,
          LshIndex.Ref(tag, buckets = 4)).count()
      case "ivf" =>
        IvfIndex.build(vecs(0L until 60L).toDF("vec_id", "embedding"),
          "vec_id", "embedding", nCells = 4, IvfIndex.Ref(tag))
      case "pq" =>
        PqIndex.build(vecs(0L until 60L).toDF("vec_id", "embedding"),
          "vec_id", "embedding", dim = 8, m = 4, k = 4, iters = 1,
          nCells = 4, cIters = 1, PqIndex.Ref(tag))
      case "loopcrash" =>
        // Streaming-loop HALF-RUN for the cross-JVM resume claim: start
        // the [[graft.streaming.IterateStream.minFixpoint]] SSSP loop on
        // the chain graph (10 rounds to fixpoint) in THIS fresh JVM with
        // a crash injected after round 3 — checkpoint, feedback dir, and
        // partial round history land under `tag` (the work dir), exactly
        // what an executor/driver loss leaves behind. The spec JVM then
        // resumes from those files alone.
        val edges = (1L until 10L).map(i => (i, i + 1, 1L))
          .toDF("src", "dst", "wt")
        val seeds = Seq((1L, 0L)).toDF("node", "dist")
        val crashed = try {
          graft.streaming.IterateStream.minFixpointImpl(edges, seeds, tag,
            loopStatePartitions = 4, crashAfterRounds = 3).count()
          false
        } catch { case _: Throwable => true }
        require(crashed, "injected loop crash did not fire")
      case other => sys.error(s"unknown mode $other")
    }
    spark.stop()
  }
}
