package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftExprBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Sorted distinct FNV-1a hashes of word n-gram shingles as a native
  * Catalyst expression — the codegen'd form of [[Hashes.shingleHashes]]
  * (bit-identical output), sitting on the hottest text path in the library:
  * every dedup operator (exact Jaccard, MinHash, incremental,
  * decontamination) starts with exactly this pass over every document.
  *
  * Versus the UDF it replaces, the kernel runs off the UTF8String bytes in
  * ONE pass with zero String allocation: tokens are byte spans (whitespace
  * per `java.util.regex` \s — ASCII-only, and no multi-byte UTF-8 unit
  * contains an ASCII byte, so byte scanning equals the regex split), and
  * each shingle's hash folds the span bytes with 0x20 separators directly —
  * never materializing the ~15-byte shingle string the UDF builds per
  * window before hashing it, nor paying the encoder round trip at the UDF
  * boundary. Capability analogue of the reference's code-generated scalar
  * calls (flink-libraries/flink-table/.../codegen/CodeGenerator.scala).
  *
  * Null text hashes to an empty array (not null) — the UDF's behavior,
  * which downstream `explode`/`size` calls rely on. */
case class ShingleHashesExpr(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1, s"shingle width must be >= 1, got $n")

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"shingle_hashes expects a string input, got ${child.dataType.sql}")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) ShingleHashesExpr.empty()
    else ShingleHashesExpr.hashes(v.asInstanceOf[UTF8String], n)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val cls = "graft.functions.ShingleHashesExpr"
    val javaType = CodeGenerator.javaType(dataType)
    ev.copy(code = code"""
      ${c.code}
      $javaType ${ev.value} = ${c.isNull} ? $cls.empty()
        : $cls.hashes(${c.value}, $n);
    """, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object ShingleHashesExpr {
  /** Referenced from generated code — must stay public and static-shaped. */
  def empty(): ArrayData = UnsafeArrayData.fromPrimitiveArray(Array.emptyLongArray)

  /** Referenced from generated code — must stay public and static-shaped.
    * Bit-identical to `Hashes.shingleHashes(text, n)`: FNV-1a over each
    * n-token window's bytes joined by single spaces, deduped and sorted
    * (sort-then-unique == distinct-then-sort). */
  def hashes(s: UTF8String, n: Int): ArrayData = {
    val out = raw(s, n)
    if (out.isEmpty) return empty()
    val m = out.length
    java.util.Arrays.sort(out)
    var u = 1
    var k = 1
    while (k < m) {
      if (out(k) != out(u - 1)) { out(u) = out(k); u += 1 }
      k += 1
    }
    UnsafeArrayData.fromPrimitiveArray(
      if (u == m) out else java.util.Arrays.copyOf(out, u))
  }

  /** Referenced from generated code — must stay public and static-shaped.
    * POSITIONAL form: element i is the hash of the n-gram starting at token
    * i, in document order, duplicates kept — the seed stream for
    * substring-level span detection (Dedup.sharedSpans), where WHERE an
    * n-gram occurs matters as much as whether it does. */
  def posHashes(s: UTF8String, n: Int): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(raw(s, n))

  // java.util.regex \s without UNICODE_CHARACTER_CLASS: [ \t\n\x0B\f\r]
  private def isWs(b: Byte): Boolean =
    b == 0x20 || b == 0x09 || b == 0x0A || b == 0x0B || b == 0x0C || b == 0x0D

  /** The byte-span tokenizer every text kernel here shares: the `\s+`
    * split with empty tokens dropped, as whitespace-delimited spans of the
    * UTF8String bytes (no multi-byte UTF-8 unit contains an ASCII byte, so
    * byte scanning equals the regex split). */
  def tokenize(s: UTF8String): TokenSpans = {
    val bytes = s.getBytes
    val len = bytes.length
    var starts = new Array[Int](16)
    var ends = new Array[Int](16)
    var nt = 0
    var i = 0
    while (i < len) {
      while (i < len && isWs(bytes(i))) i += 1
      if (i < len) {
        val st = i
        while (i < len && !isWs(bytes(i))) i += 1
        if (nt == starts.length) {
          starts = java.util.Arrays.copyOf(starts, nt * 2)
          ends = java.util.Arrays.copyOf(ends, nt * 2)
        }
        starts(nt) = st
        ends(nt) = i
        nt += 1
      }
    }
    TokenSpans(bytes, starts, ends, nt)
  }

  /** One pass over the UTF8String bytes → window hashes in position order. */
  private def raw(s: UTF8String, n: Int): Array[Long] = {
    val TokenSpans(bytes, starts, ends, nt) = tokenize(s)
    if (nt < n) return Array.emptyLongArray
    val m = nt - n + 1
    val out = new Array[Long](m)
    var w = 0
    while (w < m) {
      var h = 0xcbf29ce484222325L
      var j = 0
      while (j < n) {
        if (j > 0) { h ^= 0x20L; h *= 0x100000001b3L } // the ' ' joiner
        var p = starts(w + j)
        val e = ends(w + j)
        while (p < e) {
          h ^= (bytes(p) & 0xffL)
          h *= 0x100000001b3L
          p += 1
        }
        j += 1
      }
      out(w) = h
      w += 1
    }
    out
  }

  /** Column-level constructor. */
  def apply(c: Column, n: Int): Column =
    GraftExprBridge.column(ShingleHashesExpr(GraftExprBridge.expression(c), n))
}

/** Positional word-n-gram FNV-1a hashes: element i = hash of the shingle
  * starting at token i, document order, duplicates kept (contrast
  * [[ShingleHashesExpr]], which returns the sorted distinct SET). This is
  * the seed stream for seed-and-extend substring dedup
  * (graft.operators.Dedup.sharedSpans): downstream joins carry an 8-byte
  * hash + 4-byte position per token window instead of the ~50-byte shingle
  * string. Same one-pass zero-allocation byte kernel; null → empty array. */
case class PosShingleHashesExpr(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1, s"shingle width must be >= 1, got $n")

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"pos_shingle_hashes expects a string input, got ${child.dataType.sql}")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) ShingleHashesExpr.empty()
    else ShingleHashesExpr.posHashes(v.asInstanceOf[UTF8String], n)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val cls = "graft.functions.ShingleHashesExpr"
    val javaType = CodeGenerator.javaType(dataType)
    ev.copy(code = code"""
      ${c.code}
      $javaType ${ev.value} = ${c.isNull} ? $cls.empty()
        : $cls.posHashes(${c.value}, $n);
    """, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object PosShingleHashesExpr {
  /** Column-level constructor. */
  def apply(c: Column, n: Int): Column =
    GraftExprBridge.column(PosShingleHashesExpr(GraftExprBridge.expression(c), n))
}

/** Token t of `bytes` is the span [starts(t), ends(t)), for t < count. */
final case class TokenSpans(bytes: Array[Byte], starts: Array[Int], ends: Array[Int], count: Int)
