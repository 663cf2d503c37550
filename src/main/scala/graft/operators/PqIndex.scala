package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Cross-RUN persistent IVFADC index — the compressed-ANN completion of
  * the persistent-index family ([[LshIndex]] near-dup, [[IvfIndex]]
  * raw-vector ANN): the on-disk form of [[PQ.ivfAdcTopK]]'s IVF + product
  * -quantization search (Jégou, Douze & Schmid 2011, non-residual
  * variant), with every model artifact frozen on storage so searches and
  * ingests in any later process pay neither re-fit nor re-encode.
  *
  *  - `coarse/`    (cell_id, cvec) — the coarse quantizer's centroids
  *    (scaled-integer, [[ML.kMeansScaled]] output), broadcast-tiny.
  *  - `codebooks/` (m, cell_id, cvec) — the m per-subspace PQ codebooks
  *    ([[PQ.fit]] output), broadcast-tiny.
  *  - `codes/`     (id, m, cell_id) PARTITIONED BY ivf_cell — the corpus
  *    as PQ CODES laid out cell-per-directory: a search reading `nProbe`
  *    of `nCells` cells scans that fraction of the files (partition
  *    pruning, spec-pinned), and each vector is m small ints instead of
  *    the float vector — the IVF promise times the 64× PQ compression,
  *    which is what makes the scan side viable at 100 TB.
  *
  * [[build]] fits both quantizers deterministically over the build corpus
  * (the scaled-integer devices, so results replay in SQL) and persists
  * them; [[ingest]] assigns + encodes new vectors against the FROZEN
  * models — byte-identical to what the build-time encode would have
  * produced (the fit's final assignment step IS assignment against the
  * final centroids, spec-pinned) — and appends their cells. O(|batch| ·
  * (nCells + m·k)) work, zero corpus contact. Vector ids must be unique
  * across the index's lifetime. Writers hold [[IndexStore]]'s lease;
  * `codes/` is its swapped part, recovered by every writer and by
  * [[search]]. */
object PqIndex {

  final case class Ref(tag: String) {
    def dirName: String = s"graft_pqidx_$tag"
  }

  private def sub(spark: SparkSession, ref: Ref, name: String): String =
    IndexStore.location(spark, s"${ref.dirName}/$name").toString

  private def store(ref: Ref) = IndexStore.Layout("PqIndex", ref.tag,
    s"${ref.dirName}_lease", Seq(IndexStore.Part(s"${ref.dirName}/codes")))

  /** Destroy the index files (lease included). */
  def drop(spark: SparkSession, ref: Ref): Unit =
    IndexStore.drop(spark, store(ref), ref.dirName)

  /** Remove a crashed writer's lingering lease ([[IndexStore]]). */
  def breakLease(spark: SparkSession, ref: Ref): Unit =
    IndexStore.breakLease(spark, store(ref))

  def coarseCentroids(spark: SparkSession, ref: Ref): DataFrame =
    spark.read.parquet(sub(spark, ref, "coarse"))
  def codebooks(spark: SparkSession, ref: Ref): DataFrame =
    spark.read.parquet(sub(spark, ref, "codebooks"))

  private def scaled(vec: org.apache.spark.sql.Column, scale: Long) =
    transform(vec, x => floor(x.cast("double") * scale).cast("long"))

  private def l2(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0L), (acc, x) => acc + x)

  /** Fit-and-persist ONLY the model artifacts — deterministic coarse
    * k-means (`nCells`, `cIters` rounds) + per-subspace PQ codebooks
    * (`m` subspaces of `dim`, `k` cells, `iters` rounds) over `fitSet` —
    * WITHOUT ingesting: the deployment shape where quantizers are fit
    * once (often on a sample) and the corpus arrives later through
    * [[ingest]] / [[startStreamingIngest]] against the frozen models. */
  def buildModels(fitSet: DataFrame, idCol: String, vecCol: String, dim: Int,
                  m: Int, k: Int, iters: Int, nCells: Int, cIters: Int,
                  ref: Ref, scale: Long = 1000000L): Unit =
    IndexStore.withLease(fitSet.sparkSession, store(ref), "buildModels")(
      fit(fitSet, idCol, vecCol, dim, m, k, iters, nCells, cIters, ref, scale))

  private def fit(fitSet: DataFrame, idCol: String, vecCol: String, dim: Int,
                  m: Int, k: Int, iters: Int, nCells: Int, cIters: Int,
                  ref: Ref, scale: Long): Unit = {
    val spark = fitSet.sparkSession
    val coarse = ML.kMeansScaled(fitSet, idCol, vecCol, nCells, cIters, scale)
    coarse.centroids.write.mode("overwrite").parquet(sub(spark, ref, "coarse"))
    val pq = PQ.fit(fitSet, idCol, vecCol, dim, m, k, iters, scale)
    pq.centroids.write.mode("overwrite").parquet(sub(spark, ref, "codebooks"))
  }

  /** Fit-and-load: [[buildModels]] over the corpus, then the corpus
    * itself [[ingest]]ed against the frozen artifacts — one writer,
    * under the lease. */
  def build(corpus: DataFrame, idCol: String, vecCol: String, dim: Int, m: Int,
            k: Int, iters: Int, nCells: Int, cIters: Int, ref: Ref,
            scale: Long = 1000000L): Unit = {
    require(m >= 1 && dim % m == 0, s"dim $dim must split into m=$m subspaces")
    IndexStore.withLease(corpus.sparkSession, store(ref), "build") {
      fit(corpus, idCol, vecCol, dim, m, k, iters, nCells, cIters, ref, scale)
      append(corpus, idCol, vecCol, dim, m, ref, scale)
    }
  }

  /** Assign a batch to the frozen coarse centroids and encode it against
    * the frozen codebooks (both argmin integer L2, ties to the lower cell
    * — exactly [[ML.kMeansScaled]]'s assignment step, as the map-side
    * min(struct) aggregate), then append cell-per-directory.
    *
    * RETRY CONTRACT: a crashed ingest is safely re-run AS IS — the
    * frozen-model encoding is deterministic, so a replay appends
    * byte-identical rows whose duplicates are invisible to search
    * (per-query rank dedups them; spec-pinned) and removed at rest by
    * [[compact]]. No delivery bookkeeping is needed because ingest
    * returns nothing a replay could change. */
  def ingest(batch: DataFrame, idCol: String, vecCol: String, dim: Int, m: Int,
             ref: Ref, scale: Long = 1000000L): Unit = {
    require(m >= 1 && dim % m == 0, s"dim $dim must split into m=$m subspaces")
    IndexStore.withLease(batch.sparkSession, store(ref), "ingest")(
      append(batch, idCol, vecCol, dim, m, ref, scale))
  }

  private def append(batch: DataFrame, idCol: String, vecCol: String, dim: Int,
                     m: Int, ref: Ref, scale: Long): Unit = {
    val spark = batch.sparkSession
    val subLen = dim / m
    val q = batch.select(col(idCol).as("id"), scaled(col(vecCol), scale).as("qv"))
    val assigned = q.crossJoin(broadcast(coarseCentroids(spark, ref)))
      .withColumn("dist", l2(col("qv"), col("cvec")))
      .groupBy(col("id"))
      .agg(min(struct(col("dist"), col("cell_id"), col("qv"))).as("a"))
      .select(col("id"), col("a.qv").as("qv"), col("a.cell_id").as("ivf_cell"))
    assigned
      .select(col("id"), col("ivf_cell"),
        posexplode(array((0 until m).map(mi =>
          slice(col("qv"), mi * subLen + 1, subLen)): _*)).as(Seq("m", "pv")))
      .join(broadcast(codebooks(spark, ref)), Seq("m"))
      .withColumn("dist", l2(col("pv"), col("cvec")))
      .groupBy(col("id"), col("ivf_cell"), col("m"))
      .agg(min(struct(col("dist"), col("cell_id"))).as("c"))
      .select(col("id"), col("m"), col("c.cell_id").as("cell_id"), col("ivf_cell"))
      .write.mode("append").partitionBy("ivf_cell")
      .parquet(sub(spark, ref, "codes"))
  }

  /** Compact the code-cell directories — the [[IvfIndex.compact]]
    * maintenance for the coded corpus: one file per cell after, content
    * preserved minus crash-window duplicate rows (the (ivf_cell, id, m)
    * de-dup applied once at rest), through [[IndexStore]]'s
    * rename-aside swap under the write lease. */
  def compact(spark: SparkSession, ref: Ref): Unit =
    IndexStore.withLease(spark, store(ref), "compact") {
      val snapshot = spark.read.parquet(sub(spark, ref, "codes")).localCheckpoint(true)
      val nCells = coarseCentroids(spark, ref).count().toInt
      IndexStore.swap(spark, store(ref).parts.head) { tmp =>
        snapshot.dropDuplicates("ivf_cell", "id", "m")
          .repartition(nCells, col("ivf_cell"))
          .write.partitionBy("ivf_cell").parquet(tmp.toString)
      }
    }

  /** Maintain the index from an embedding STREAM: each micro-batch runs
    * [[ingest]] against the frozen coarse centroids + codebooks inside
    * [[IndexStore]]'s ledgered loop (ledger under the index directory);
    * the crash-between-append-and-ledger window duplicates one batch's
    * code rows — storage only, [[search]] de-dups (ivf_cell, id, m) on
    * the pruned scan. */
  def startStreamingIngest(vectors: DataFrame, idCol: String, vecCol: String,
                           dim: Int, m: Int, ref: Ref, checkpoint: String,
                           scale: Long = 1000000L)
      : org.apache.spark.sql.streaming.StreamingQuery =
    IndexStore.streamIngest(vectors, checkpoint) { (batch, bid) =>
      val spark = batch.sparkSession
      graft.streaming.IngestLedger.once(spark, sub(spark, ref, "_ledger"), bid) {
        ingest(batch, idCol, vecCol, dim, m, ref, scale)
      }
    }

  /** IVFADC search from the on-disk index: identical result semantics to
    * [[PQ.ivfAdcTopK]] over the same fits (spec-pinned byte-equal) —
    * coarse-rank `nProbe` cells per probe against the broadcast frozen
    * centroids, scan ONLY those cells' code directories (partition
    * pruning over the nQueries·nProbe-bounded probed-cell set), rank by
    * the broadcast ADC lookup table. De-dups (ivf_cell, id, m) on the
    * pruned scan so crash-window replayed ingest batches cannot distort
    * distances or ranks. Returns (q_id, rank, id, adc_dist). */
  def search(probes: DataFrame, idCol: String, vecCol: String, dim: Int, m: Int,
             nProbe: Int, topK: Int, ref: Ref,
             scale: Long = 1000000L): DataFrame = {
    require(m >= 1 && dim % m == 0, s"dim $dim must split into m=$m subspaces")
    require(nProbe >= 1, s"nProbe must be >= 1, got $nProbe")
    import org.apache.spark.sql.expressions.Window
    val spark = probes.sparkSession
    IndexStore.attach(spark, store(ref)) // finishes a crashed compact's swap
    val subLen = dim / m
    val qp = probes.select(col(idCol).as("q_id"), scaled(col(vecCol), scale).as("qv"))
      .localCheckpoint(true) // consumed by routing AND the LUT
    val pw = Window.partitionBy("q_id").orderBy(col("cdist").asc, col("cell_id"))
    val probeCells = qp.crossJoin(broadcast(coarseCentroids(spark, ref)))
      .withColumn("cdist", l2(col("qv"), col("cvec")))
      .withColumn("r", row_number().over(pw)).filter(col("r") <= nProbe)
      .select(col("q_id"), col("cell_id").as("ivf_cell"))
      .localCheckpoint(true) // consumed by the cell collect AND the route join
    val probed = probeCells.select("ivf_cell").distinct()
      .collect().map(_.get(0)) // nQueries·nProbe-bounded; untyped id domain
    val codes = spark.read.parquet(sub(spark, ref, "codes"))
      .filter(col("ivf_cell").isin(probed: _*)) // partition pruning
      .dropDuplicates("ivf_cell", "id", "m") // crash-window replay guard
    val lut = qp.select(col("q_id"),
        posexplode(array((0 until m).map(mi =>
          slice(col("qv"), mi * subLen + 1, subLen)): _*)).as(Seq("m", "pv")))
      .join(broadcast(codebooks(spark, ref)), Seq("m"))
      .select(col("q_id"), col("m"), col("cell_id"),
        l2(col("pv"), col("cvec")).as("pdist"))
    val routed = probeCells.join(broadcast(lut), Seq("q_id"))
    val adc = codes.join(broadcast(routed), Seq("ivf_cell", "m", "cell_id"))
      .groupBy(col("q_id"), col("id"))
      .agg(sum(col("pdist")).as("adc_dist"))
    val w = Window.partitionBy("q_id").orderBy(col("adc_dist").asc, col("id").asc)
    adc.withColumn("rank", row_number().over(w)).filter(col("rank") <= topK)
      .select(col("q_id"), col("rank"), col("id"), col("adc_dist"))
  }
}
