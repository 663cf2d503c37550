package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftExprBridge
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** FNV-1a 64 over a string column's UTF-8 bytes as a native Catalyst
  * expression — the codegen'd form of [[Hashes.fnv1a64]] (same constants,
  * same result). Unlike the UDF it reads the UTF8String bytes directly: no
  * encoder round trip, no String copy, and it stays inside whole-stage
  * codegen, which matters when fingerprinting every document of a corpus
  * (capability analogue of the reference's code-generated scalar calls,
  * flink-libraries/flink-table/.../codegen/CodeGenerator.scala). */
case class Fnv1a64Expr(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"fnv1a64 expects a string input, got ${child.dataType.sql}")

  override def dataType: DataType = LongType

  override protected def nullSafeEval(input: Any): Any =
    Fnv1a64Expr.hash(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Fnv1a64Expr.hash($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object Fnv1a64Expr {
  /** Referenced from generated code — must stay public and static-shaped. */
  def hash(s: UTF8String): Long = {
    val bytes = s.getBytes
    hash(bytes, 0, bytes.length)
  }

  /** FNV-1a 64 of `bytes[from, until)`. */
  def hash(bytes: Array[Byte], from: Int, until: Int): Long = {
    var h = 0xcbf29ce484222325L
    var i = from
    while (i < until) {
      h ^= (bytes(i) & 0xffL)
      h *= 0x100000001b3L
      i += 1
    }
    h
  }

  def apply(c: Column): Column =
    GraftExprBridge.column(Fnv1a64Expr(GraftExprBridge.expression(c)))
}
