package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Stream/batch demultiplexing (reference: DataStream.split/SplitStream
  * .select and ProcessFunction side outputs via OutputTag — flink-streaming
  * -java/.../api/datastream/{SplitStream,SingleOutputStreamOperator}.java).
  *
  * Spark model: a sink per output re-executes the source, so a single-pass
  * demux materializes the tagged union once (`persist`) and filters per
  * tag — the documented equivalent of side outputs. A stream tags with
  * [[tagged]] and routes per tag inside its own `foreachBatch`.
  */
object SideOutputs {

  /** Tag each row with the FIRST matching condition (like an OutputTag
    * routing chain); unmatched rows get `defaultTag`. */
  def tagged(df: DataFrame, routes: Seq[(String, Column)],
             defaultTag: String = "default"): DataFrame = {
    val tag = routes.reverse.foldLeft(lit(defaultTag)) {
      case (els, (t, cond)) => when(cond, lit(t)).otherwise(els)
    }
    df.withColumn("_tag", tag)
  }

  /** Single-pass batch demux: materialize once, return one view per tag.
    * Views share the persisted parent, so the source is scanned once. */
  def demux(df: DataFrame, routes: Seq[(String, Column)],
            defaultTag: String = "default"): Map[String, DataFrame] = {
    val t = tagged(df, routes, defaultTag).persist()
    (routes.map(_._1) :+ defaultTag).distinct
      .map(tag => tag -> t.filter(col("_tag") === tag).drop("_tag")).toMap
  }
}
