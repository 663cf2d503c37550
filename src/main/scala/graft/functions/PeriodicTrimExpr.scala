package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftExprBridge
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Period-`k` token-repetition trim as a native Catalyst expression — the
  * codegen'd kernel behind [[graft.operators.TextPipeline.trimPeriodicRepeats]]
  * (bit-identical output to the HOF formulation it replaced, which spent
  * ~3.5 ms/doc on interpreted lambda slices; this runs the same local rule
  * off the UTF8String bytes in one pass).
  *
  * Rule (shared with the DuckDB oracle of gate qej): token position `s`
  * starts a redundant gram iff the k-gram at `s` equals the k-gram at
  * `s − k`; every token covered by a redundant gram drops; kept tokens
  * re-join with single spaces. Trailing partial repeats survive.
  *
  * Tokens are whitespace-delimited byte spans from the shared
  * [[ShingleHashesExpr.tokenize]] scan (the `\s+` split). Gram equality
  * reduces to per-position span equality folded into run lengths, so the
  * whole kernel is O(tokens) compares + one output copy — no gram
  * materialization. Capability analogue of the reference's code-generated
  * scalar calls (flink-libraries/flink-table/.../codegen/CodeGenerator.scala). */
case class PeriodicTrimExpr(child: Expression, k: Int) extends UnaryExpression {
  require(k >= 1, s"period must be >= 1, got $k")

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"periodic_trim expects a string input, got ${child.dataType.sql}")

  override def dataType: DataType = StringType

  override protected def nullSafeEval(input: Any): Any =
    PeriodicTrimExpr.trim(input.asInstanceOf[UTF8String], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.PeriodicTrimExpr.trim($c, $k)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object PeriodicTrimExpr {
  /** Referenced from generated code — must stay public and static-shaped. */
  def trim(s: UTF8String, k: Int): UTF8String = {
    val TokenSpans(bytes, starts, ends, n) = ShingleHashesExpr.tokenize(s)
    if (n == 0) return UTF8String.EMPTY_UTF8

    def spanEq(a: Int, b: Int): Boolean = {
      val la = ends(a) - starts(a)
      if (la != ends(b) - starts(b)) return false
      var j = 0
      while (j < la) {
        if (bytes(starts(a) + j) != bytes(starts(b) + j)) return false
        j += 1
      }
      true
    }

    // run(j) = consecutive positions ending at j with token(j) == token(j-k);
    // marked(s) = k <= s <= n-k && run(s+k-1) >= k  (gram(s) == gram(s-k))
    val marked = new Array[Boolean](n)
    var run = 0
    var j = 0
    while (j < n) {
      run = if (j >= k && spanEq(j, j - k)) run + 1 else 0
      val sStart = j - k + 1 // gram whose last compare is position j
      if (sStart >= k && sStart <= n - k && run >= k) marked(sStart) = true
      j += 1
    }

    // dropped(p) = exists marked s in [p-k+1, p]; stream with the latest
    // marked start seen so far
    var total = 0
    var kept = 0
    var last = -k - 1
    val keep = new Array[Boolean](n)
    var p = 0
    while (p < n) {
      if (marked(p)) last = p
      if (last < p - k + 1) {
        keep(p) = true
        total += ends(p) - starts(p)
        kept += 1
      }
      p += 1
    }
    if (kept == n && starts(0) == 0 && ends(n - 1) == bytes.length && {
      var q = 1
      var canon = true
      while (canon && q < n) {
        canon = starts(q) == ends(q - 1) + 1 && bytes(ends(q - 1)) == 0x20
        q += 1
      }
      canon
    }) {
      // fast path: nothing dropped and the text was already exactly
      // single-SPACE joined with no outer whitespace — input == output
      return s
    }
    if (kept == 0) return UTF8String.EMPTY_UTF8
    val out = new Array[Byte](total + (kept - 1))
    var w = 0
    p = 0
    var first = true
    while (p < n) {
      if (keep(p)) {
        if (!first) { out(w) = 0x20; w += 1 }
        System.arraycopy(bytes, starts(p), out, w, ends(p) - starts(p))
        w += ends(p) - starts(p)
        first = false
      }
      p += 1
    }
    UTF8String.fromBytes(out)
  }

  def apply(c: Column, k: Int): Column =
    GraftExprBridge.column(PeriodicTrimExpr(GraftExprBridge.expression(c), k))
}
