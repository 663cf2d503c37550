package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftExprBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow, UnaryExpression, UnsafeArrayData, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** The L-character window hashes of the ExactSubstr family as a native
  * Catalyst expression: `(text, len)` → one hash per code-point position
  * i in [0, numChars - len], element i bit-identical to
  * `fnv1a64(substr(text, i + 1, len))` — the rolling-window pass of
  * [[graft.operators.Dedup]]'s ExactSubstr operators (qf8, qfm, qgc,
  * qfk).
  *
  * With `withXx` each element is instead struct(h, h2), h2 Spark's
  * `xxhash64` of the same window (seed 42): the (h, h2) double hash
  * [[graft.operators.GramIndex]] persists. Both hashes come off one walk
  * of the UTF-8 bytes that records each code point's byte offset by
  * Spark's own `substring` rule (`numBytesForFirstByte` steps), so no
  * window is ever copied out as a string. A last code point whose bytes
  * run past the end of the text is clamped to the end, as
  * [[ExciseSpansExpr]] does (Spark's `substring` would copy bytes past the
  * end of the buffer there).
  *
  * Null text and text shorter than `len` give an empty array. Capability
  * analogue of the reference's code-generated scalar calls
  * (flink-libraries/flink-table/.../codegen/CodeGenerator.scala). */
case class GramHashesExpr(child: Expression, len: Int, withXx: Boolean)
    extends UnaryExpression {
  require(len >= 1, s"window length must be >= 1, got $len")

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"gram_hashes expects a string input, got ${child.dataType.sql}")

  override def dataType: DataType =
    if (withXx) ArrayType(GramHashesExpr.pairSchema, containsNull = false)
    else ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any =
    GramHashesExpr.hashes(child.eval(input).asInstanceOf[UTF8String], len, withXx)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      ${CodeGenerator.javaType(dataType)} ${ev.value} = graft.functions.GramHashesExpr.hashes(
        ${c.isNull} ? null : ${c.value}, $len, $withXx);
    """, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object GramHashesExpr {
  val pairSchema: StructType = StructType(Seq(
    StructField("h", LongType, nullable = false),
    StructField("h2", LongType, nullable = false)))

  /** Spark's `xxhash64` seed. */
  private val XxSeed = 42L

  /** The byte offset of the code point after the one starting at byte `b`:
    * Spark's `substring` step (`numBytesForFirstByte`), clamped to the end
    * of `bytes`. The one walk [[hashes]] and [[window]] share, so a window
    * and its hash cover the same bytes. */
  private def nextCodePoint(bytes: Array[Byte], b: Int): Int =
    math.min(bytes.length, b + UTF8String.numBytesForFirstByte(bytes(b)))

  /** Referenced from generated code: the `len`-character window of `s`
    * at code point `pos`, cut short at the end of the text. Its bytes are
    * exactly those element `pos` of `hashes(s, len, _)` hashes. */
  def window(s: UTF8String, pos: Int, len: Int): UTF8String = {
    val bytes = s.getBytes
    var b = 0
    var c = 0
    while (c < pos && b < bytes.length) {
      b = nextCodePoint(bytes, b)
      c += 1
    }
    val from = b
    while (c < pos + len && b < bytes.length) {
      b = nextCodePoint(bytes, b)
      c += 1
    }
    UTF8String.fromBytes(java.util.Arrays.copyOfRange(bytes, from, b))
  }

  /** Referenced from generated code — must stay public and static-shaped. */
  def hashes(s: UTF8String, len: Int, withXx: Boolean): ArrayData = {
    val bytes = if (s == null) Array.emptyByteArray else s.getBytes
    val n = bytes.length
    // off(c) = byte offset of code point c; off(chars) = n
    val off = new Array[Int](n + 1)
    var chars = 0
    var b = 0
    while (b < n) {
      off(chars) = b
      b = nextCodePoint(bytes, b)
      chars += 1
    }
    off(chars) = n
    val windows = math.max(0, chars - len + 1)
    val h = new Array[Long](windows)
    val pairs = if (withXx) new Array[Any](windows) else null
    var i = 0
    while (i < windows) {
      val from = off(i)
      val until = off(i + len)
      h(i) = Fnv1a64Expr.hash(bytes, from, until)
      if (withXx) pairs(i) = new GenericInternalRow(Array[Any](h(i),
        XXH64.hashUnsafeBytes(bytes, Platform.BYTE_ARRAY_OFFSET + from, until - from, XxSeed)))
      i += 1
    }
    if (withXx) new GenericArrayData(pairs) else UnsafeArrayData.fromPrimitiveArray(h)
  }

  /** array<bigint>: the FNV-1a 64 hash of every `len`-character window. */
  def apply(text: Column, len: Int): Column =
    GraftExprBridge.column(GramHashesExpr(GraftExprBridge.expression(text), len, withXx = false))

  /** array<struct<h, h2>>: FNV-1a 64 and xxhash64 of every `len`-character
    * window. */
  def withXxhash(text: Column, len: Int): Column =
    GraftExprBridge.column(GramHashesExpr(GraftExprBridge.expression(text), len, withXx = true))
}

/** The confirm half of [[GramHashesExpr]]: `(text, pos)` → the
  * `len`-character window of `text` at code point `pos`
  * ([[GramHashesExpr.window]]), cut by the same clamped walk as the hash,
  * so a text whose last code point is cut short never yields bytes past
  * its end (Spark's `substring` copies them). Null in, null out. */
case class GramWindowExpr(left: Expression, right: Expression, len: Int)
    extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == StringType && right.dataType == IntegerType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"gram_window expects (string, int), got (${left.dataType.sql}, ${right.dataType.sql})")

  override def dataType: DataType = StringType

  override protected def nullSafeEval(text: Any, pos: Any): Any =
    GramHashesExpr.window(text.asInstanceOf[UTF8String], pos.asInstanceOf[Int], len)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (t, p) => s"graft.functions.GramHashesExpr.window($t, $p, $len)")

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object GramWindowExpr {
  /** string: the `len`-character window of `text` at 0-based code point
    * `pos` (cast to int). */
  def apply(text: Column, pos: Column, len: Int): Column =
    GraftExprBridge.column(GramWindowExpr(GraftExprBridge.expression(text),
      GraftExprBridge.expression(pos.cast(IntegerType)), len))
}
