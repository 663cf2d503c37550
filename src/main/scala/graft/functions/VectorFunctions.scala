package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector math over `ArrayType(FloatType/DoubleType)` columns, built from
  * codegen-friendly higher-order functions (no UDFs, no serialization).
  *
  * Capability parity: the reference ships distance metrics as FlinkML
  * classes (reference: flink-libraries/flink-ml/.../ml/metrics/distances/
  * {Euclidean,SquaredEuclidean,Cosine,Chebyshev,Manhattan,
  * Tanimoto}DistanceMetric.scala); here each is a `Column` expression so
  * Catalyst can fuse it into scans/joins and whole-stage codegen.
  *
  * Accumulation is a strict left-to-right fold in element order (`aggregate`),
  * which makes results deterministic and engine-portable.
  */
object VectorFunctions {

  private def d(c: Column): Column = c.cast("double")

  /** zip_with null-pads the shorter array, which would turn every pairwise
    * metric into null on a dimension mismatch; slicing both sides to the
    * common prefix instead matches cosineSimilarityFast / CosineSimilarityExpr
    * (truncate-to-min), keeping all three forms bit-identical on mixed-dim
    * rows. */
  private def zipMin(a: Column, b: Column, f: (Column, Column) => Column): Column = {
    val n = least(size(a), size(b))
    zip_with(slice(a, lit(1), n), slice(b, lit(1), n), f)
  }

  /** Elementwise-product sum; accumulates in double regardless of input width. */
  def dot(a: Column, b: Column): Column =
    aggregate(zipMin(a, b, (x, y) => d(x) * d(y)), lit(0.0), (acc, v) => acc + v)

  def normL2(a: Column): Column = sqrt(dot(a, a))

  def euclidean(a: Column, b: Column): Column =
    sqrt(squaredEuclidean(a, b))

  def squaredEuclidean(a: Column, b: Column): Column =
    aggregate(zipMin(a, b, (x, y) => (d(x) - d(y)) * (d(x) - d(y))),
      lit(0.0), (acc, v) => acc + v)

  def manhattan(a: Column, b: Column): Column =
    aggregate(zipMin(a, b, (x, y) => abs(d(x) - d(y))), lit(0.0), (acc, v) => acc + v)

  def chebyshev(a: Column, b: Column): Column =
    aggregate(zipMin(a, b, (x, y) => abs(d(x) - d(y))), lit(0.0),
      (acc, v) => greatest(acc, v))

  def cosineSimilarity(a: Column, b: Column): Column =
    dot(a, b) / (normL2(a) * normL2(b))

  /** Compiled cosine: same left-to-right double accumulation as the
    * expression form (bit-identical IEEE results), but a tight JIT'd loop
    * instead of per-element interpreted higher-order functions — the right
    * choice inside O(n²) similarity joins. */
  lazy val cosineSimilarityFast: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (x: Array[Float], y: Array[Float]) =>
      val n = math.min(x.length, y.length)
      var ab = 0.0; var aa = 0.0; var bb = 0.0
      var i = 0
      while (i < n) {
        val xi = x(i).toDouble; val yi = y(i).toDouble
        ab += xi * yi; i += 1
      }
      i = 0
      while (i < x.length) { val xi = x(i).toDouble; aa += xi * xi; i += 1 }
      i = 0
      while (i < y.length) { val yi = y(i).toDouble; bb += yi * yi; i += 1 }
      ab / (math.sqrt(aa) * math.sqrt(bb))
    }

  /** Tanimoto similarity: dot / (|a|^2 + |b|^2 - dot). */
  def tanimoto(a: Column, b: Column): Column = {
    val ab = dot(a, b)
    ab / (dot(a, a) + dot(b, b) - ab)
  }
}
