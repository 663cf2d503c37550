package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftExprBridge
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** A quantized k-means model: `k` cells, each a cell id (a Catalyst
  * internal value of the id column's type, ascending) and a `dim`-long
  * centroid in `scale` micro-units, stored row-major in `cents`.
  *
  * The model reaches generated code as a reference object, so the class
  * compiled for one model serves every Lloyd round and every call — the
  * centroid values never become literals in the generated source. */
final class CentroidModel(val cellIds: Array[Any], val cents: Array[Long],
                          val dim: Int, val scale: Double) extends Serializable {
  require(dim >= 0 && cents.length == cellIds.length * dim,
    s"centroid matrix has ${cents.length} values for ${cellIds.length} cells of dim $dim")

  def k: Int = cellIds.length

  /** Referenced from generated code: the id of the cell nearest to `v`
    * ([[nearestIndex]]). */
  def nearest(v: ArrayData): Any = cellIds(nearestIndex(quantized(v)))

  /** `v`'s coordinates quantized to micro-units; a vector of the wrong
    * length or with a null coordinate is rejected. */
  def quantized(v: ArrayData): Array[Long] = {
    if (v.numElements() != dim) throw new IllegalArgumentException(
      s"k-means vector has ${v.numElements()} coordinates, centroids have $dim")
    val q = new Array[Long](dim)
    var j = 0
    while (j < dim) {
      if (v.isNullAt(j)) throw new IllegalArgumentException(
        s"k-means vector has a null coordinate at position $j")
      q(j) = CentroidModel.quantize(v.getDouble(j), scale)
      j += 1
    }
    q
  }

  /** The index of the cell nearest to the quantized vector `q` by integer
    * squared L2, ties to the lower cell. Every step is `Math.*Exact`, so a
    * distance that overflows Long throws instead of wrapping. */
  def nearestIndex(q: Array[Long]): Int = {
    var best = -1
    var bestDist = 0L
    var c = 0
    while (c < cellIds.length) {
      val base = c * dim
      var d = 0L
      var j = 0
      while (j < dim) {
        val diff = Math.subtractExact(q(j), cents(base + j))
        d = Math.addExact(d, Math.multiplyExact(diff, diff))
        j += 1
      }
      if (best < 0 || d < bestDist) { // strict: the lower cell keeps a tie
        best = c
        bestDist = d
      }
      c += 1
    }
    best
  }

  override def toString: String = s"CentroidModel(k=$k, dim=$dim)"
}

object CentroidModel {
  /** floor(x · scale), saturating — Spark's `floor(double)` as a long. */
  def quantize(x: Double, scale: Double): Long = math.floor(x * scale).toLong
}

/** Nearest-centroid assignment as a native Catalyst expression — the
  * per-point map of [[graft.operators.ML.kMeansScaled]] (the shape of the
  * reference's `SelectNearestCenter` over a broadcast centroid set,
  * flink-examples-batch/.../clustering/KMeans.java). `child` is the
  * vector as `array<double>`; the result is the nearest cell's id, in the
  * id column's type (`idType`). Null vectors assign null. */
case class NearestCentroidExpr(child: Expression, model: CentroidModel, idType: DataType)
    extends UnaryExpression {
  require(model.k >= 1, "nearest-centroid needs at least one cell")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"nearest_centroid expects an array<double> input, got ${other.sql}")
  }

  override def dataType: DataType = idType

  override protected def nullSafeEval(input: Any): Any =
    model.nearest(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("kMeansModel", model, classOf[CentroidModel].getName)
    val boxed = CodeGenerator.boxedType(idType)
    defineCodeGen(ctx, ev, v => s"($boxed) $ref.nearest($v)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object NearestCentroidExpr {
  /** Column-level constructor: `vec` is cast to `array<double>`. */
  def apply(vec: Column, model: CentroidModel, idType: DataType): Column =
    GraftExprBridge.column(NearestCentroidExpr(
      GraftExprBridge.expression(vec.cast(ArrayType(DoubleType))), model, idType))
}
