package graft.perfbench

import graft.functions.{MinHashSigExpr, ShingleHashesExpr, TextFunctions}
import graft.operators.{Dedup, GramIndex, IvfIndex, Partitioning}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Single-layer measurements for a traced run: each probe calls one graft
  * operator or Catalyst kernel directly and collects every output column. A
  * probe's jobs carry the operation id `probe.<name>.<rep>`, so the trace
  * also counts them. Each probe runs once to warm up, then three timed
  * times; the median is reported. */
final class Probes(spark: SparkSession, dir: String, tracer: Tracer) {
  private def docs: DataFrame = spark.read.parquet(s"$dir/documents.parquet")
  private def emb: DataFrame = spark.read.parquet(s"$dir/embeddings.parquet")

  private def timed(name: String)(body: => Unit): Double = {
    body
    val ts = (1 to 3).map { i =>
      tracer.begin(s"probe.$name.$i")
      val t0 = System.nanoTime()
      body
      val s = (System.nanoTime() - t0) / 1e9
      tracer.end()
      s
    }
    ts.sorted.apply(1)
  }

  def run(): Map[String, Any] = {
    // Kernel inputs: the documents replicated 20x and cached, so a kernel's
    // per-row cost is not hidden under the fixed cost of a Spark job.
    val corpus = docs.crossJoin(spark.range(20).toDF("rep"))
      .withColumn("doc_id", col("doc_id") * 20 + col("rep")).drop("rep").cache()
    val rows = corpus.count()
    val shingled = corpus.withColumn("sh", ShingleHashesExpr(col("text"), 5)).cache()
    shingled.count()
    def rate(name: String, df: => DataFrame): Double =
      rows / timed(name)(df.collect())
    val fns = Map(
      "dup_ngram_frac_rows_per_s" -> rate("dup_ngram_frac",
        corpus.select(col("*"), TextFunctions.dupNgramFrac(col("text"), 3).as("f"))),
      "shingle_hashes_rows_per_s" -> rate("shingle_hashes",
        corpus.select(col("*"), ShingleHashesExpr(col("text"), 5).as("f"))),
      "minhash_sig_rows_per_s" -> rate("minhash_sig",
        shingled.select(col("doc_id"), MinHashSigExpr(col("sh"), 128).as("f"))))
    corpus.unpersist(); shingled.unpersist()

    val gram = GramIndex.Ref("perfbench_probe", buckets = 8)
    val gramS = timed("gram_ingest") {
      GramIndex.drop(spark, gram)
      GramIndex.ingest(docs.filter(col("doc_id") % 3 === 0), "doc_id", "text",
        minLen = 40, gram).collect()
    }
    GramIndex.drop(spark, gram)
    val ivf = IvfIndex.Ref("perfbench_probe")
    IvfIndex.drop(spark, ivf)
    IvfIndex.build(emb, "vec_id", "embedding", nCells = 16, ivf)
    val ivfS = timed("ivf_search") {
      IvfIndex.search(emb.filter(col("vec_id") < 5), "vec_id", "embedding", ivf,
        k = 10, nProbe = 8).collect()
    }
    IvfIndex.drop(spark, ivf)
    val ops = Map(
      "gram_ingest_s" -> gramS,
      "ivf_search_s" -> ivfS,
      "minhash_pairs_s" -> timed("minhash_pairs") {
        Dedup.minhashDupPairs(docs, "doc_id", "text", n = 2, k = 128, bands = 64,
          threshold = 0.5).collect()
      },
      "prefix_sum_s" -> timed("prefix_sum") {
        Partitioning.prefixSum(docs, "doc_id", "n_chars", "offset").collect()
      },
      "zip_with_index_s" -> timed("zip_with_index") {
        Partitioning.zipWithIndex(docs.select(col("doc_id"), col("text")), "idx").collect()
      })
    Map("functions" -> fns, "operators" -> ops, "kernel_rows" -> rows)
  }
}
