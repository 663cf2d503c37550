package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftExprBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** The one interval merge of the ExactSubstr family: the windows
  * [p, p + len) of a document's window starts, sorted and union-merged —
  * a window joins the current span while its start is <= the span's end,
  * so touching windows merge (the `s > max(prev e)` break rule of a
  * gaps-and-islands pass). Offsets are code points. */
object SpanMerge {
  /** Merged spans, ascending, flattened as (s0, e0, s1, e1, ...). */
  def merge(starts: ArrayData, len: Int): Array[Long] = {
    val ps = starts.toLongArray()
    java.util.Arrays.sort(ps)
    val out = new Array[Long](2 * ps.length)
    var n = 0
    var i = 0
    while (i < ps.length) {
      val s = ps(i)
      var e = s + len
      i += 1
      while (i < ps.length && ps(i) <= e) {
        e = math.max(e, ps(i) + len)
        i += 1
      }
      out(n) = s
      out(n + 1) = e
      n += 2
    }
    java.util.Arrays.copyOf(out, n)
  }

  private[functions] def typeCheck(name: String, starts: DataType): TypeCheckResult =
    starts match {
      case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$name expects array<bigint> window starts, got ${other.sql}")
    }
}

/** ExactSubstr removal as a native Catalyst expression — the rebuild of
  * [[graft.operators.Dedup.excise]] (qf8, qfm, and GramIndex's ingest):
  * `(text, starts, len)` → struct(clean_text, n_spans, n_removed). The
  * [[SpanMerge]] spans are cut out of the text in one pass over its UTF-8
  * bytes, stepping code points with Spark's own `substring` rule; n_spans
  * counts the merged spans and n_removed their code points. Null text and
  * docs with no starts (null or empty array) pass through with counts
  * 0, 0. */
case class ExciseSpansExpr(left: Expression, right: Expression, len: Int)
    extends BinaryExpression {
  require(len >= 1, s"window length must be >= 1, got $len")

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType != StringType) TypeCheckResult.TypeCheckFailure(
      s"excise_spans expects a string text, got ${left.dataType.sql}")
    else SpanMerge.typeCheck("excise_spans", right.dataType)

  override def dataType: DataType = ExciseSpansExpr.schema
  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any = ExciseSpansExpr.excise(
    left.eval(input).asInstanceOf[UTF8String], right.eval(input).asInstanceOf[ArrayData], len)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val t = left.genCode(ctx)
    val s = right.genCode(ctx)
    ev.copy(code = code"""
      ${t.code}
      ${s.code}
      ${CodeGenerator.javaType(dataType)} ${ev.value} = graft.functions.ExciseSpansExpr.excise(
        ${t.isNull} ? null : ${t.value}, ${s.isNull} ? null : ${s.value}, $len);
    """, isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object ExciseSpansExpr {
  val schema: StructType = StructType(Seq(
    StructField("clean_text", StringType),
    StructField("n_spans", LongType, nullable = false),
    StructField("n_removed", LongType, nullable = false)))

  /** Referenced from generated code — must stay public and static-shaped. */
  def excise(s: UTF8String, starts: ArrayData, len: Int): InternalRow = {
    if (s == null || starts == null || starts.numElements() == 0)
      return new GenericInternalRow(Array[Any](s, 0L, 0L))
    val spans = SpanMerge.merge(starts, len)
    val bytes = s.getBytes
    val n = bytes.length
    val out = new Array[Byte](n)
    var w = 0
    var b = 0 // byte offset of code point `c`
    var c = 0L
    var kept = 0 // byte offset where the current surviving run began
    var removed = 0L
    var i = 0
    while (i < spans.length) {
      while (b < n && c < spans(i)) { b += UTF8String.numBytesForFirstByte(bytes(b)); c += 1 }
      b = math.min(b, n)
      System.arraycopy(bytes, kept, out, w, b - kept)
      w += b - kept
      while (b < n && c < spans(i + 1)) { b += UTF8String.numBytesForFirstByte(bytes(b)); c += 1 }
      b = math.min(b, n)
      kept = b
      removed += spans(i + 1) - spans(i)
      i += 2
    }
    System.arraycopy(bytes, kept, out, w, n - kept)
    w += n - kept
    new GenericInternalRow(Array[Any](
      UTF8String.fromBytes(out, 0, w), (spans.length / 2).toLong, removed))
  }

  def apply(text: Column, starts: Column, len: Int): Column =
    GraftExprBridge.column(ExciseSpansExpr(
      GraftExprBridge.expression(text), GraftExprBridge.expression(starts), len))
}

/** The [[SpanMerge]] spans themselves as a native Catalyst expression —
  * `(starts, len)` → struct(spans, n_spans, n_chars) with `spans` the
  * canonical "s:e;s:e" rendering (half-open, ascending, "" when there are
  * none) and n_chars the covered code points. Serves the ExactSubstr
  * loss mask ([[graft.operators.Dedup.exactSubstrMask]]) and the
  * memorization report ([[graft.operators.Dedup.memorizationReport]]);
  * null or empty starts give ("", 0, 0). */
case class MergedSpansExpr(child: Expression, len: Int) extends UnaryExpression {
  require(len >= 1, s"window length must be >= 1, got $len")

  override def checkInputDataTypes(): TypeCheckResult =
    SpanMerge.typeCheck("merged_spans", child.dataType)

  override def dataType: DataType = MergedSpansExpr.schema
  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any =
    MergedSpansExpr.spans(child.eval(input).asInstanceOf[ArrayData], len)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val s = child.genCode(ctx)
    ev.copy(code = code"""
      ${s.code}
      ${CodeGenerator.javaType(dataType)} ${ev.value} = graft.functions.MergedSpansExpr.spans(
        ${s.isNull} ? null : ${s.value}, $len);
    """, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MergedSpansExpr {
  val schema: StructType = StructType(Seq(
    StructField("spans", StringType, nullable = false),
    StructField("n_spans", LongType, nullable = false),
    StructField("n_chars", LongType, nullable = false)))

  /** Referenced from generated code — must stay public and static-shaped. */
  def spans(starts: ArrayData, len: Int): InternalRow = {
    if (starts == null || starts.numElements() == 0)
      return new GenericInternalRow(Array[Any](UTF8String.EMPTY_UTF8, 0L, 0L))
    val sp = SpanMerge.merge(starts, len)
    val sb = new java.lang.StringBuilder
    var chars = 0L
    var i = 0
    while (i < sp.length) {
      if (i > 0) sb.append(';')
      sb.append(sp(i)).append(':').append(sp(i + 1))
      chars += sp(i + 1) - sp(i)
      i += 2
    }
    new GenericInternalRow(Array[Any](
      UTF8String.fromString(sb.toString), (sp.length / 2).toLong, chars))
  }

  def apply(starts: Column, len: Int): Column =
    GraftExprBridge.column(MergedSpansExpr(GraftExprBridge.expression(starts), len))
}
