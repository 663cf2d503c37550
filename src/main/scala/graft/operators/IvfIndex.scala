package graft.operators

import graft.functions.VectorFunctions
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Cross-RUN persistent IVF (inverted-file) ANN index — the embedding-side
  * sibling of [[LshIndex]], and the on-disk form of [[Similarity.ivfTopK]]:
  * the coarse model (centroids) and the cell-assigned corpus live as plain
  * parquet under the warehouse, so searches and ingests in any later
  * process pay neither re-fit nor re-assignment.
  *
  *  - `cents/`  (cell_id, centroid) — the frozen coarse quantizer, tiny,
  *    broadcast by every consumer.
  *  - `asg/`    (nbr_id, cvec) PARTITIONED BY cell_id — the corpus laid
  *    out cell-per-directory, so a search reading `nProbe` of `nCells`
  *    cells scans exactly that fraction of the FILES (partition pruning,
  *    plan-pinned in the spec) — the IVF promise made physical.
  *
  * [[build]] seeds centroids deterministically (lowest-id vectors — the
  * [[Similarity.ivfTopK]] zero-refinement device, so results replay in
  * SQL); [[ingest]] assigns new vectors to the FROZEN centroids and
  * appends their cells — the deployed-ANN maintenance shape (models
  * re-fit offline and rarely; the index grows continuously). Vector ids
  * must be unique across the index's lifetime. Writers hold
  * [[IndexStore]]'s lease; `asg/` is its swapped part, recovered by every
  * writer and by [[search]]. */
object IvfIndex {

  final case class Ref(tag: String) {
    def dirName: String = s"graft_ivfidx_$tag"
  }

  private def centsPath(spark: SparkSession, ref: Ref): String =
    IndexStore.location(spark, s"${ref.dirName}/cents").toString
  private def asgPath(spark: SparkSession, ref: Ref): String =
    IndexStore.location(spark, s"${ref.dirName}/asg").toString

  private def store(ref: Ref) = IndexStore.Layout("IvfIndex", ref.tag,
    s"${ref.dirName}_lease", Seq(IndexStore.Part(s"${ref.dirName}/asg")))

  /** Destroy the index files (lease included). */
  def drop(spark: SparkSession, ref: Ref): Unit =
    IndexStore.drop(spark, store(ref), ref.dirName)

  /** Remove a crashed writer's lingering lease ([[IndexStore]]). */
  def breakLease(spark: SparkSession, ref: Ref): Unit =
    IndexStore.breakLease(spark, store(ref))

  /** The frozen coarse quantizer. */
  def centroids(spark: SparkSession, ref: Ref): DataFrame =
    spark.read.parquet(centsPath(spark, ref))

  /** Fit-and-load: seed `nCells` centroids from the corpus's lowest-id
    * vectors, persist them, then [[ingest]] the corpus itself — one
    * writer, under the lease. */
  def build(corpus: DataFrame, idCol: String, vecCol: String, nCells: Int,
            ref: Ref): Unit = {
    require(nCells >= 1)
    val spark = corpus.sparkSession
    IndexStore.withLease(spark, store(ref), "build") {
      corpus.orderBy(col(idCol)).limit(nCells)
        .select(col(idCol).as("cell_id"), col(vecCol).as("centroid"))
        .write.mode("overwrite").parquet(centsPath(spark, ref))
      append(corpus, idCol, vecCol, ref)
    }
  }

  /** Assign a batch to the frozen centroids (argmin squared distance,
    * ties to the lower cell — [[Similarity.ivfTopK]] semantics, computed
    * as the map-side min(struct) aggregate) and append it cell-per-
    * directory. O(|batch| · nCells) work, no corpus contact at all.
    *
    * RETRY CONTRACT: a crashed ingest is safely re-run AS IS — the
    * frozen-model assignment is deterministic, so a replay appends
    * byte-identical rows whose duplicates are invisible to [[search]]
    * (per-query rank dedups them; spec-pinned) and removed at rest by
    * [[compact]]. No delivery bookkeeping is needed because ingest
    * returns nothing a replay could change. */
  def ingest(batch: DataFrame, idCol: String, vecCol: String, ref: Ref): Unit =
    IndexStore.withLease(batch.sparkSession, store(ref), "ingest")(
      append(batch, idCol, vecCol, ref))

  private def append(batch: DataFrame, idCol: String, vecCol: String,
                     ref: Ref): Unit = {
    val spark = batch.sparkSession
    batch.select(col(idCol).as("nbr_id"), col(vecCol).as("cvec"))
      .crossJoin(broadcast(centroids(spark, ref)))
      .withColumn("cdist",
        VectorFunctions.squaredEuclidean(col("cvec"), col("centroid")))
      .groupBy(col("nbr_id"))
      .agg(min(struct(col("cdist"), col("cell_id"), col("cvec"))).as("m"))
      .select(col("nbr_id"), col("m.cvec").as("cvec"),
        col("m.cell_id").as("cell_id"))
      .write.mode("append").partitionBy("cell_id")
      .parquet(asgPath(spark, ref))
  }

  /** Compact the cell directories: every [[ingest]] appends one file per
    * touched cell, so a long-lived index accumulates smallFiles × cells —
    * rewrite the corpus once, one task per cell hash (each cell's rows
    * land in one task, so the writer emits ONE file per cell), through
    * [[IndexStore]]'s rename-aside swap under the write lease.
    * Cell-local at scale (rows never change cells), so a real deployment
    * compacts cells independently. Also collapses any crash-window
    * duplicate rows ([[search]]'s de-dup, applied once at rest instead
    * of per query). */
  def compact(spark: SparkSession, ref: Ref): Unit =
    IndexStore.withLease(spark, store(ref), "compact") {
      val snapshot = spark.read.parquet(asgPath(spark, ref)).localCheckpoint(true)
      val nCells = centroids(spark, ref).count().toInt
      IndexStore.swap(spark, store(ref).parts.head) { tmp =>
        snapshot.dropDuplicates("cell_id", "nbr_id")
          .repartition(nCells, col("cell_id"))
          .write.partitionBy("cell_id").parquet(tmp.toString)
      }
    }

  /** Maintain the index from an embedding STREAM: each micro-batch runs
    * [[ingest]] against the frozen quantizer inside [[IndexStore]]'s
    * ledgered loop (ledger under the index directory). The
    * crash-between-append-and-ledger window duplicates index rows for
    * that batch — storage only: [[search]] de-dups (cell_id, nbr_id) on
    * the pruned scan, so results are unaffected. */
  def startStreamingIngest(vectors: DataFrame, idCol: String, vecCol: String,
                           ref: Ref, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    IndexStore.streamIngest(vectors, checkpoint) { (batch, bid) =>
      val spark = batch.sparkSession
      graft.streaming.IngestLedger.once(spark,
          IndexStore.location(spark, s"${ref.dirName}/_ledger").toString, bid) {
        ingest(batch, idCol, vecCol, ref)
      }
    }

  /** Probe the index: per query, rank the `nProbe` nearest cells against
    * the frozen centroids, then scan ONLY those cells' directories (the
    * probed-cell set is nQueries·nProbe-bounded, collected once and
    * pushed as a partition filter) and take the cosine top-k. Identical
    * result semantics to [[Similarity.ivfTopK]] over the same centroid
    * seeds. */
  def search(queries: DataFrame, qidCol: String, vecCol: String, ref: Ref,
             k: Int, nProbe: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = queries.sparkSession
    IndexStore.attach(spark, store(ref)) // finishes a crashed compact's swap
    val cents = broadcast(centroids(spark, ref))
    val probeW = Window.partitionBy("query_id")
      .orderBy(col("cdist").asc, col("cell_id"))
    val probes = queries
      .select(col(qidCol).as("query_id"), col(vecCol).as("qvec"))
      .crossJoin(cents)
      .withColumn("cdist",
        VectorFunctions.squaredEuclidean(col("qvec"), col("centroid")))
      .withColumn("r", row_number().over(probeW)).filter(col("r") <= nProbe)
      .select(col("query_id"), col("qvec"), col("cell_id"))
      .localCheckpoint(true) // consumed twice: cell collect + candidate join
    val probedCells = probes.select("cell_id").distinct()
      .collect().map(_.get(0)) // nQueries·nProbe-bounded; untyped — the
        // cell_id carries idCol's type, whatever that is
    val asg = spark.read.parquet(asgPath(spark, ref))
      .filter(col("cell_id").isin(probedCells: _*)) // partition pruning
      // crash-window duplicate guard: a batch replayed between append and
      // ledger write duplicates its rows — without this a duplicated
      // corpus row occupies two of the k ranks and evicts a real neighbor
      .dropDuplicates("cell_id", "nbr_id")
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("nbr_id"))
    asg.join(broadcast(probes), Seq("cell_id"))
      .filter(col("nbr_id") =!= col("query_id"))
      .withColumn("cos", VectorFunctions.cosineSimilarityFast(col("cvec"), col("qvec")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "nbr_id", "cos", "rank")
  }
}
