package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftExprBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{DataType, DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The Gopher character-coverage repetition signals as a native Catalyst
  * expression — the kernel behind [[TextFunctions.topNgramCharFrac]]
  * (`dup = false`) and [[TextFunctions.dupNgramCharFrac]] (`dup = true`).
  *
  * Output is bit-identical to the higher-order-function chain it replaced
  * (split → filter → transform(slice + array_join) → array_sort →
  * aggregate), whose every stage is CodegenFallback, so each token window
  * was an interpreted, freshly allocated string. This kernel runs off the
  * UTF8String bytes inside whole-stage codegen: tokens are the shared
  * [[ShingleHashesExpr.tokenize]] byte spans, n-gram windows are token
  * indices sorted by the unsigned byte order of the window joined with
  * single 0x20 bytes (Spark's UTF8_BINARY `array_sort` order) without ever
  * joining them, and one scan over runs of equal windows yields the signal:
  *  - top: count × char length of the most frequent window over the text's
  *    char length; ties go to the lexicographically smallest window;
  *  - dup: sum over windows occurring ≥ 2 times of count × char length,
  *    over the text's char length.
  * The denominator is `greatest(length(text), 1)`; null text and documents
  * with fewer than n tokens give 0.0. Window char lengths count code
  * points of the token bytes plus the n − 1 joiners, exact for valid UTF-8
  * (every Spark string built from a Java string). Capability analogue of
  * the reference's code-generated scalar calls
  * (flink-libraries/flink-table/.../codegen/CodeGenerator.scala). */
case class NgramRepetitionExpr(child: Expression, n: Int, dup: Boolean) extends UnaryExpression {
  require(n >= 1, s"n-gram width must be >= 1, got $n")

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"ngram_repetition expects a string input, got ${child.dataType.sql}")

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) 0.0 else NgramRepetitionExpr.charFrac(v.asInstanceOf[UTF8String], n, dup)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      double ${ev.value} = ${c.isNull} ? 0.0
        : graft.functions.NgramRepetitionExpr.charFrac(${c.value}, $n, $dup);
    """, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object NgramRepetitionExpr {
  /** Referenced from generated code — must stay public and static-shaped. */
  def charFrac(s: UTF8String, n: Int, dup: Boolean): Double = {
    val t = ShingleHashesExpr.tokenize(s)
    if (t.count < n) return 0.0
    val denom = math.max(s.numChars(), 1).toDouble
    val m = t.count - n + 1
    val order = sortedWindows(t, n, m)
    var bestRun = 0
    var best = -1
    var dupChars = 0L
    var i = 0
    while (i < m) {
      var j = i + 1
      while (j < m && compare(t, n, order(i), order(j)) == 0) j += 1
      val run = j - i
      if (dup) {
        if (run >= 2) dupChars += run.toLong * charLen(t, n, order(i))
      } else if (run > bestRun) { // strict: the first (smallest) max run wins
        bestRun = run
        best = order(i)
      }
      i = j
    }
    if (dup) dupChars.toDouble / denom
    else bestRun.toDouble * charLen(t, n, best).toDouble / denom
  }

  /** Window start indices 0 until m, sorted by [[compare]] (bottom-up merge
    * sort over two int buffers; equal windows are identical, so stability
    * is irrelevant). */
  private def sortedWindows(t: TokenSpans, n: Int, m: Int): Array[Int] = {
    var src = Array.range(0, m)
    var dst = new Array[Int](m)
    var width = 1
    while (width < m) {
      var lo = 0
      while (lo < m) {
        val mid = math.min(lo + width, m)
        val hi = math.min(lo + 2 * width, m)
        var a = lo
        var b = mid
        var k = lo
        while (k < hi) {
          if (b >= hi || (a < mid && compare(t, n, src(a), src(b)) <= 0)) {
            dst(k) = src(a); a += 1
          } else {
            dst(k) = src(b); b += 1
          }
          k += 1
        }
        lo = hi
      }
      val tmp = src; src = dst; dst = tmp
      width *= 2
    }
    src
  }

  /** Unsigned byte order of the windows at tokens `a` and `b` joined with
    * single 0x20 bytes, without joining them. When one token is a proper
    * prefix of the other, the shorter window's next byte is the 0x20 joiner
    * (or its end, after the last token), against the longer token's next
    * byte — never whitespace, but possibly a control byte below 0x20. */
  private def compare(t: TokenSpans, n: Int, a: Int, b: Int): Int = {
    val bytes = t.bytes
    var j = 0
    while (j < n) {
      val sa = t.starts(a + j)
      val la = t.ends(a + j) - sa
      val sb = t.starts(b + j)
      val lb = t.ends(b + j) - sb
      val common = math.min(la, lb)
      var k = 0
      while (k < common) {
        val d = (bytes(sa + k) & 0xff) - (bytes(sb + k) & 0xff)
        if (d != 0) return d
        k += 1
      }
      if (la != lb) {
        if (j == n - 1) return la - lb
        return if (la < lb) 0x20 - (bytes(sb + la) & 0xff)
          else (bytes(sa + lb) & 0xff) - 0x20
      }
      j += 1
    }
    0
  }

  /** `length()` of the joined window: code points (non-continuation bytes)
    * of its tokens plus the n − 1 joiners. */
  private def charLen(t: TokenSpans, n: Int, w: Int): Int = {
    var chars = n - 1
    var j = w
    while (j < w + n) {
      var p = t.starts(j)
      while (p < t.ends(j)) {
        if ((t.bytes(p) & 0xc0) != 0x80) chars += 1
        p += 1
      }
      j += 1
    }
    chars
  }

  /** Column-level constructor. */
  def apply(c: Column, n: Int, dup: Boolean): Column =
    GraftExprBridge.column(NgramRepetitionExpr(GraftExprBridge.expression(c), n, dup))
}
