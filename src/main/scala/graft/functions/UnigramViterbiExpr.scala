package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftExprBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Substring-indexed INTEGER-cost lattice kernel — the Viterbi/n-best
  * counterpart of [[UnigramLatticeKernel]] (which serves the soft-EM /
  * FFBS float lattices). Serves `TextPipeline.emCounts`'s hard-EM
  * min-cost DP + deterministic backtrack and `TextPipeline.nbestSegment`
  * (Kudo 2018 §3's n-best alternative; reference anchor: the
  * scalar-function codegen surface of SURVEY §2.9).
  *
  * Same promotion as the soft kernel: the inline-literal SQL folds the
  * FULL vocabulary at every char position — O(positions · |vocab|)
  * comparisons plus |vocab|-proportional parse/codegen of the embedded
  * literal — where this compiles the vocabulary ONCE on the driver into
  * a hash index and probes only the ≤ maxPieceLen substrings ending at
  * each position (IterBench `unigram` has the measured slopes for both
  * families).
  *
  * BIT-IDENTICAL to the literal folds by order-insensitivity (the sum
  * case's argument carries over to min and to total-order sorts):
  *
  *  - Viterbi DP: the literal folds `least` over the vocab in canonical
  *    order, skipping non-matching entries — min over a set of exact
  *    integers does not depend on enumeration order, so probing only
  *    the matching entries yields the identical dp array;
  *  - backtrack: the literal keeps the LONGEST matching piece attaining
  *    `dp(pos) == dp(pos − len) + cost` (its fold guard is
  *    `length(e.p) > best-so-far`); every entry matching a given
  *    (position, length) carries the SAME piece string — the ending
  *    substring is a single string — so "longest attaining" names a
  *    unique piece regardless of enumeration order (duplicate entries
  *    differ only in cost, and any attaining one names that piece);
  *  - n-best: the literal flattens all extensions and `array_sort`s by
  *    the (cost, seg) struct — a TOTAL order (integer cost, then binary
  *    UTF-8 string compare, Spark's StringType ordering), so sorting
  *    the same candidate multiset collected in any order produces the
  *    identical first-n slice (equal-key candidates are identical
  *    values: a (cost, rendered-seg) pair determines the struct).
  *
  * The specs pin all three claims by differential fuzz against the
  * literal path (`forceIndexed = Some(false)`). */
final class UnigramViterbiKernel(pieces: Array[String], costs: Array[Long],
                                 inf: Long) extends Serializable {
  require(pieces.length == costs.length && pieces.nonEmpty && inf > 0)

  /** Head rank per distinct piece plus a duplicate CHAIN in canonical
    * order: `nextDup(r)` is the next rank carrying the same piece string
    * (−1 at the tail). DUPLICATE vocab entries are legal input — the
    * retained literal folds iterate every ENTRY (WpVocab ships a real
    * '##s' duplicate; for n-best a duplicate entry contributes its own
    * candidate per cost, so collapsing to a per-key min would change
    * the first-n slice) — and the chain makes the kernel
    * entry-faithful: [[hitsEnding]] emits every rank of a matching
    * piece, so all three consumers see exactly the literal fold's
    * entry multiset (round-15 ADVICE: the old constructor `require`d
    * uniqueness and threw at ACTION time for public nbestSegment/
    * emCounts callers; MinCostEncodeKernel tolerates the same input
    * class). */
  private val (rankOf, nextDup) = {
    val m = new java.util.HashMap[String, Integer](pieces.length * 2)
    val tail = new java.util.HashMap[String, Integer](pieces.length * 2)
    val next = Array.fill(pieces.length)(-1)
    var i = 0
    while (i < pieces.length) {
      val prev = tail.put(pieces(i), i)
      if (prev == null) m.put(pieces(i), i)
      else next(prev.intValue()) = i
      i += 1
    }
    (m, next)
  }
  private val maxLen: Int = {
    var m = 1; var i = 0
    while (i < pieces.length) {
      val l = pieces(i).codePointCount(0, pieces(i).length)
      if (l > m) m = l
      i += 1
    }
    m
  }
  /** Worst-case matches at one position: one substring per length, each
    * fanning out to its duplicate chain. */
  private val maxHits: Int = {
    val chainLen = new java.util.HashMap[String, Integer](pieces.length * 2)
    var worst = 0
    var i = 0
    while (i < pieces.length) {
      val c = chainLen.merge(pieces(i), 1, (a, b) => a + b).intValue()
      if (c > worst) worst = c
      i += 1
    }
    math.max(1, worst) * maxLen
  }

  /** Matching ranks for pieces ENDING at 1-based position `i` — every
    * ENTRY, duplicate chains walked in canonical order; no sort: every
    * consumer below is order-insensitive (min / max-length /
    * sort-after-collect), unlike the soft kernel's canonical-order sums. */
  private def hitsEnding(cps: Array[Int], i: Int, ranks: Array[Int]): Int = {
    var n = 0
    var l = 1
    val lim = math.min(maxLen, i)
    while (l <= lim) {
      var r = rankOf.get(new String(cps, i - l, l))
      if (r != null) {
        var ri = r.intValue()
        while (ri >= 0) { ranks(n) = ri; n += 1; ri = nextDup(ri) }
      }
      l += 1
    }
    n
  }

  private def lenOf(rank: Int): Int = {
    val p = pieces(rank); p.codePointCount(0, p.length)
  }

  /** dp(i) = min cost of segmenting the first i code points (`inf` if
    * unreachable) — the literal dpSql's exact integer recurrence,
    * including its `least(inf, dp(i−l) + c)` clamp. */
  private def dpArr(cps: Array[Int]): Array[Long] = {
    val n = cps.length
    val dp = new Array[Long](n + 1)
    val ranks = new Array[Int](maxHits)
    var i = 1
    while (i <= n) {
      val k = hitsEnding(cps, i, ranks)
      var m = inf
      var h = 0
      while (h < k) {
        val c = dp(i - lenOf(ranks(h))) + costs(ranks(h))
        if (c < m) m = c
        h += 1
      }
      dp(i) = m
      i += 1
    }
    dp
  }

  /** Referenced from generated code. The argmin segmentation under the
    * deterministic longest-piece backtrack, in the literal btSql's
    * emission order (walking from the word END; callers that count
    * pieces are order-free anyway). A position with no attaining piece
    * (unreachable — an uncovered character) freezes the walk exactly
    * like the literal's no-op fold rounds: the pieces found so far are
    * returned and the walk stops. */
  def viterbiSeg(word: UTF8String): ArrayData = {
    val cps = word.toString.codePoints().toArray
    val dp = dpArr(cps)
    val ranks = new Array[Int](maxHits)
    val ps = new scala.collection.mutable.ArrayBuffer[Any](math.min(cps.length, 8))
    var pos = cps.length
    while (pos > 0) {
      val k = hitsEnding(cps, pos, ranks)
      var bl = 0
      var h = 0
      while (h < k) {
        val l = lenOf(ranks(h))
        if (l > bl && dp(pos) == dp(pos - l) + costs(ranks(h))) bl = l
        h += 1
      }
      if (bl == 0) pos = 0
      else {
        ps += UTF8String.fromString(new String(cps, pos - bl, bl))
        pos -= bl
      }
    }
    new GenericArrayData(ps.toArray)
  }

  /** Referenced from generated code. The n cheapest segmentations of
    * `word` as (cost, '/'-joined seg) structs — the literal nbSql's
    * DP: each position keeps its n best candidates under the total
    * (cost, binary-UTF-8 seg) order; a transition extends every
    * predecessor candidate by every piece ending here. */
  def nbest(word: UTF8String, n: Int): ArrayData = {
    val cps = word.toString.codePoints().toArray
    val len = cps.length
    val ranks = new Array[Int](maxHits)
    // candidates as (cost, seg) with seg compared by UTF-8 bytes — the
    // StringType order both the literal's array_sort and DuckDB share
    val ord = new Ordering[(Long, String)] {
      def compare(a: (Long, String), b: (Long, String)): Int = {
        val c = java.lang.Long.compare(a._1, b._1)
        if (c != 0) c
        else UTF8String.fromString(a._2).compareTo(UTF8String.fromString(b._2))
      }
    }
    val best = new Array[IndexedSeq[(Long, String)]](len + 1)
    best(0) = IndexedSeq((0L, ""))
    var i = 1
    while (i <= len) {
      val k = hitsEnding(cps, i, ranks)
      val cands = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
      var h = 0
      while (h < k) {
        val r = ranks(h)
        val l = lenOf(r)
        val p = pieces(r)
        val c = costs(r)
        best(i - l).foreach { case (bc, bs) =>
          cands += ((bc + c, if (bs.isEmpty) p else bs + "/" + p))
        }
        h += 1
      }
      best(i) = cands.sorted(ord).take(n).toIndexedSeq
      i += 1
    }
    new GenericArrayData(best(len).map { case (c, s) =>
      InternalRow(c, UTF8String.fromString(s))
    }.toArray[Any])
  }
}

/** The hard-EM argmin segmentation of one word — the indexed form of
  * `TextPipeline.emCounts`'s dpSql + btSql pair, one expression.
  * `vocab` carries (piece, integer cost); `inf` is the caller's
  * unreachable sentinel (emCounts' `max(1e9, (scale + 1)·65536)`). */
case class UnigramViterbiSegExpr(child: Expression, vocab: Seq[(String, Long)],
                                 inf: Long) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"unigram_viterbi_seg expects a string input, got ${child.dataType.sql}")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  @transient private lazy val kernel =
    new UnigramViterbiKernel(vocab.map(_._1).toArray, vocab.map(_._2).toArray, inf)

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) null else kernel.viterbiSeg(v.asInstanceOf[UTF8String])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("unigramViterbiKernel", kernel,
      classOf[UnigramViterbiKernel].getName)
    defineCodeGen(ctx, ev, c => s"$ref.viterbiSeg($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object UnigramViterbiSegExpr {
  def apply(word: Column, vocab: Seq[(String, Long)], inf: Long): Column =
    GraftExprBridge.column(
      UnigramViterbiSegExpr(GraftExprBridge.expression(word), vocab, inf))
}

/** One word's n cheapest segmentations — the indexed form of
  * `TextPipeline.nbestSegment`'s nbSql, one expression returning the
  * final position's (cost, seg) list. */
case class UnigramNbestExpr(child: Expression, vocab: Seq[(String, Long)],
                            n: Int) extends UnaryExpression {
  require(n >= 1)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"unigram_nbest expects a string input, got ${child.dataType.sql}")

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("c", LongType, nullable = false),
    StructField("s", StringType, nullable = false))), containsNull = false)

  @transient private lazy val kernel =
    new UnigramViterbiKernel(vocab.map(_._1).toArray, vocab.map(_._2).toArray,
      inf = Long.MaxValue / 4)

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) null
    else kernel.nbest(v.asInstanceOf[UTF8String], n)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("unigramViterbiKernel", kernel,
      classOf[UnigramViterbiKernel].getName)
    defineCodeGen(ctx, ev, c => s"$ref.nbest($c, $n)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object UnigramNbestExpr {
  def apply(word: Column, vocab: Seq[(String, Long)], n: Int): Column =
    GraftExprBridge.column(
      UnigramNbestExpr(GraftExprBridge.expression(word), vocab, n))
}
