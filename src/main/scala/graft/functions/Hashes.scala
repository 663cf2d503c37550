package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.udf

/** Deterministic per-row signature hashes for near-duplicate detection:
  * MinHash signatures, SimHash, and a rolling-polynomial fingerprint.
  *
  * The kernels on every dedup corpus pass are native codegen
  * expressions — [[ShingleHashesExpr]] (text → sorted distinct shingle
  * hashes) and [[MinHashSigExpr]] (hashes → signature) since round 6,
  * [[SimHashExpr]] (tokens → 64-bit signature) since round 16; see the
  * SCALE.md kernel profiles. The remaining UDFs (string-shingle MinHash)
  * sit on cold or spec-only paths; the local Scala functions below stay
  * as the reference implementations the expression specs pin against.
  */
object Hashes {

  /** 64-bit FNV-1a over UTF-8 bytes — stable across JVMs and releases. */
  def fnv1a64(s: String): Long = {
    var h = 0xcbf29ce484222325L
    val bytes = s.getBytes("UTF-8")
    var i = 0
    while (i < bytes.length) {
      h ^= (bytes(i) & 0xffL)
      h *= 0x100000001b3L
      i += 1
    }
    h
  }

  private val MersennePrime = (1L << 61) - 1
  private val MaxHash = (1L << 32) - 1

  /** Fixed affine permutation parameters, seeded for determinism. */
  private def perms(k: Int): Array[(Long, Long)] = {
    val rnd = new scala.util.Random(42L)
    Array.fill(k)((1L + (rnd.nextLong().abs % (MersennePrime - 1)),
      rnd.nextLong().abs % MersennePrime))
  }

  /** MinHash signature of a set of shingle strings; k 32-bit values.
    * sig_i = min over shingles of top-32-bits(a_i * h + b_i) with 64-bit
    * wrapping arithmetic (multiply-shift universal hashing — high bits of
    * an odd-multiplier product are near-uniform) and h = FNV-1a(shingle).
    * One multiply + add per (perm, shingle): ~6× cheaper than modular
    * arithmetic mod 2^61-1, with the same collision-probability estimate
    * E[sig_a == sig_b] ≈ J(a,b); downstream pairs are exact-verified, so
    * the hash family affects only candidate recall. */
  def minHashSignature(shingles: Seq[String], k: Int): Array[Long] = {
    if (shingles == null || shingles.isEmpty) return Array.fill(k)(MaxHash)
    minHashSignatureFromHashes(shingles.iterator.map(fnv1a64).toArray, k)
  }

  /** Signature from pre-hashed shingles — min over a set is duplicate- and
    * order-invariant, so this equals [[minHashSignature]] of the original
    * strings and lets pipelines hash each shingle exactly once. */
  def minHashSignatureFromHashes(hs: Array[Long], k: Int): Array[Long] = {
    val ps = permCache.getOrElseUpdate(k, perms(k))
    val out = Array.fill(k)(MaxHash)
    if (hs == null || hs.isEmpty) return out
    var i = 0
    while (i < k) {
      val (a0, b) = ps(i)
      val a = a0 | 1L // odd multiplier
      var m = Long.MaxValue
      var j = 0
      while (j < hs.length) {
        val v32 = (a * hs(j) + b) >>> 32
        if (v32 < m) m = v32
        j += 1
      }
      out(i) = m
      i += 1
    }
    out
  }

  private val permCache = scala.collection.concurrent.TrieMap.empty[Int, Array[(Long, Long)]]

  /** 64-bit SimHash over token strings (unweighted). */
  def simHash64(toks: Seq[String]): Long = {
    if (toks == null || toks.isEmpty) return 0L
    val acc = new Array[Int](64)
    toks.foreach { t =>
      val h = fnv1a64(t)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) acc(b) += 1 else acc(b) -= 1
        b += 1
      }
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (acc(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  def hamming64(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)

  /** Content fingerprint: FNV-1a over lowercase alphanumeric normalization.
    * Locale.ROOT so the result matches Spark's locale-independent `lower()`
    * on any JVM (default-locale toLowerCase maps 'I' -> 'ı' under tr_TR). */
  def fingerprint(text: String): Long = {
    if (text == null) 0L
    else fnv1a64(text.toLowerCase(java.util.Locale.ROOT)
      .replaceAll("[^a-z0-9]+", " ").trim)
  }

  /** Distinct word n-gram shingles of `text`, one compiled pass.
    * Same result set as TextFunctions.wordShingles (whitespace split,
    * n-word windows joined by single spaces). */
  def wordShinglesLocal(text: String, n: Int): Array[String] = {
    if (text == null) return Array.empty
    val toks = text.split("\\s+").filter(_.nonEmpty)
    if (toks.length < n) return Array.empty
    val seen = new java.util.LinkedHashSet[String]()
    var i = 0
    while (i <= toks.length - n) {
      val sb = new java.lang.StringBuilder(toks(i))
      var j = 1
      while (j < n) { sb.append(' ').append(toks(i + j)); j += 1 }
      seen.add(sb.toString)
      i += 1
    }
    seen.toArray(Array.empty[String])
  }

  /** Sorted distinct 64-bit shingle hashes — cheap exact-verification proxy:
    * Jaccard over these equals string-shingle Jaccard up to 64-bit hash
    * collisions (~1e-9 for corpus-scale shingle counts). */
  def shingleHashes(text: String, n: Int): Array[Long] =
    wordShinglesLocal(text, n).map(fnv1a64).distinct.sorted

  /** Positional shingle hashes — document order, duplicates KEPT (element i
    * = hash of the n-gram starting at token i). Local twin of
    * [[PosShingleHashesExpr]] for spec cross-checks. */
  def posShingleHashes(text: String, n: Int): Array[Long] = {
    if (text == null) return Array.empty
    val toks = text.split("\\s+").filter(_.nonEmpty)
    if (toks.length < n) return Array.empty
    Array.tabulate(toks.length - n + 1)(i => fnv1a64(toks.slice(i, i + n).mkString(" ")))
  }

  // Column-level wrappers
  val minhashUdf: Int => org.apache.spark.sql.expressions.UserDefinedFunction =
    k => udf((s: Seq[String]) => minHashSignature(s, k))
  def minhash(shingles: Column, k: Int): Column = minhashUdf(k)(shingles)
  /** Tokenize + shingle + sign as two composed NATIVE expressions (no UDF
    * boundary, no boxed Seq; signature min is duplicate- and order-
    * invariant, so signing the sorted distinct hash set is bit-identical
    * to signing the raw shingle stream). */
  def minhashFromText(text: Column, n: Int, k: Int): Column =
    MinHashSigExpr(ShingleHashesExpr(text, n), k)
  /** Sorted distinct shingle hashes of a text column — native codegen
    * expression (see [[ShingleHashesExpr]]); bit-identical to mapping
    * [[shingleHashes]] over the column but with no UDF boundary and no
    * String/shingle allocation. This is THE text pass every dedup operator
    * starts with; profile note in SCALE.md ("shingle-hash kernel"). */
  def shingleHashCol(text: Column, n: Int): Column = ShingleHashesExpr(text, n)

  /** Signature over an already-hashed shingle set (one text pass total) —
    * native expression, primitive arrays end to end (see MinHashSigExpr). */
  def minhashFromHashes(hashes: Column, k: Int): Column =
    MinHashSigExpr(hashes, k)
  /** Reference UDF — [[SimHashExpr]]'s bit-identity spec pins against it;
    * production callers go through [[simhash]] below. */
  val simhashUdf = udf((toks: Seq[String]) => simHash64(toks))
  /** Native codegen SimHash (round 16 — the last dedup-family kernel off
    * the UDF path): see [[SimHashExpr]]. */
  def simhash(toks: Column): Column = SimHashExpr(toks)
  val hammingUdf = udf((a: Long, b: Long) => hamming64(a, b))
  /** Native Hamming distance: bit_count(a XOR b), fully codegen'd. */
  def hamming(a: Column, b: Column): Column =
    org.apache.spark.sql.functions.bit_count(a.bitwiseXOR(b)).cast("int")
  val fingerprintUdf = udf((t: String) => fingerprint(t))
  /** Normalization + FNV-1a as native expressions (no UDF boundary):
    * bit-identical to [[fingerprint]] for non-null input. */
  def docFingerprint(text: Column): Column = {
    import org.apache.spark.sql.functions.{lower, regexp_replace, trim}
    Fnv1a64Expr(trim(regexp_replace(lower(text), "[^a-z0-9]+", " ")))
  }
}
