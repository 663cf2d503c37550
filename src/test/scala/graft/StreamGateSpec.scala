package graft

import graft.queries.Registry
import org.apache.spark.sql.{DataFrame, Row}

/** The registry's stream gates that share an oracle with a batch twin: at
  * sf0.001 each gate's rows must equal its twin's, ignoring order, on the
  * gate's columns. And a gate's runs own their files: a second run of a
  * gate leaves the frame of the first readable. */
class StreamGateSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"
  private lazy val queries = Registry.queries

  private def rows(df: DataFrame, cols: Seq[String]): Seq[Row] =
    df.select(cols.map(df.col): _*).collect().toSeq.sortBy(_.toString)

  Seq(
    "qfc_stream_gram_index" -> "qf8_exact_substr_dedup",
    "qg1_stream_cdc_claim_index" -> "qfy_cdc_dedup",
    "qg6_stream_simhash_index" -> "qg2_simhash_index",
    "qfu_stream_mixture_curriculum" -> "qey_mixture_curriculum",
    "qgf_stream_doremi" -> "qga_doremi_weights",
    "qdv_stream_persistent_index" -> "q85_minhash_dedup"
  ).foreach { case (gate, twin) =>
    test(s"$gate equals its batch twin $twin") {
      val g = queries(gate)(spark, dir)
      val got = rows(g, g.columns.toSeq)
      assert(got.nonEmpty, s"$gate is empty at sf0.001: the comparison would be vacuous")
      assert(got == rows(queries(twin)(spark, dir), g.columns.toSeq))
    }
  }

  test("a second run of a gate leaves the first run's frame readable") {
    val gate = queries("qfc_stream_gram_index")
    val first = gate(spark, dir)
    val second = gate(spark, dir)
    assert(first.inputFiles.toSet.intersect(second.inputFiles.toSet).isEmpty)
    val cols = first.columns.toSeq
    val got = rows(first, cols)
    assert(got.nonEmpty)
    assert(got == rows(second, cols))
  }
}
