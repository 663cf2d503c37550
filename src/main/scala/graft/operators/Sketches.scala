package graft.operators

import graft.functions.Fnv1a64Expr
import org.apache.spark.sql.{DataFrame, GraftExprBridge}
import org.apache.spark.sql.catalyst.expressions.{BitwiseAnd, Concat, CreateArray, Expression, Literal}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed sketches with DETERMINISTIC, engine-replayable arithmetic.
  *
  * Spark's own approx_count_distinct is an HLL++ whose merge order and
  * internal hash are not replayable by an external oracle; this module
  * trades its bias corrections for bit-reproducibility: FNV-1a hashes,
  * trailing-zero register ranks (PCSA-style — same geometric tail as the
  * classic leading-zero form), and an EXACT integer register sum
  * (Σ 2^(64−M[j]) in decimal(38,0), order-independent), so the estimate is
  * one double expression over exact integers — any engine computes the
  * identical value, and the correctness gate hash-compares it.
  */
object Sketches {

  /** Raw HyperLogLog distinct-count estimate per group.
    *
    * One aggregation tree: (group, bucket) → max rank (2^p registers max),
    * then group → exact integer register sum → the harmonic-mean estimate
    * alpha·m²·2⁶⁴ / Σ 2^(64−M[j]) (absent registers contribute 2⁶⁴). Raw
    * estimator only — no small-range (linear-counting) switch, because ln
    * is not bit-portable across engines; `zero_registers` is emitted so a
    * caller can apply any correction. Relative error ≈ 1.04/√m.
    *
    * Scale: the shuffled register frame is at most groups × 2^p rows of
    * three numeric columns — corpus-size-independent — and the map-side
    * partial max compacts each partition to the same bound before the
    * exchange. This is THE sketch shape: one pass, tiny state, mergeable. */
  def hllDistinct(df: DataFrame, groupCols: Seq[String], valueCol: String,
                  p: Int = 10): DataFrame = hllEstimate(
    hllRegisters(df, groupCols, valueCol, p), groupCols, p)

  /** The HLL register frame: (group, _bucket, _m) with at most 2^p rows per
    * group. Exposed separately from the estimate because registers MERGE —
    * union two frames and re-max to sketch a set union without touching the
    * raw data again (the property that makes sketches the right shape at
    * corpus scale: per-source/per-day register frames are tiny, mergeable
    * roll-ups). */
  def hllRegisters(df: DataFrame, groupCols: Seq[String], valueCol: String,
                   p: Int): DataFrame = {
    require(p >= 4 && p <= 16, s"p must be in [4, 16], got $p")
    val g = groupCols.map(col)
    df.select((g :+ hllBucket(col(valueCol), p).as("_bucket")
        :+ hllRank(col(valueCol), p).as("_rank")): _*)
      .groupBy((g :+ col("_bucket")): _*)
      .agg(max(col("_rank")).as("_m"))
  }

  /** The raw-HLL estimate over a register frame (from [[hllRegisters]], or a
    * union of several re-maxed by the caller). */
  def hllEstimate(registers: DataFrame, groupCols: Seq[String], p: Int): DataFrame = {
    val m = 1 << p
    val g = groupCols.map(col)
    val two64 = lit(new java.math.BigDecimal("18446744073709551616"))
    registers
      .groupBy(g: _*)
      .agg(
        sum(pow(lit(2.0), lit(64) - col("_m")).cast("decimal(38,0)")).as("_present"),
        count(lit(1)).as("_nreg"))
      .select((g :+
        round(lit(alphaFor(p) * m.toDouble * m.toDouble) * lit(math.pow(2.0, 64)) /
          (col("_present") + (lit(m.toLong) - col("_nreg")).cast("decimal(38,0)") * two64)
            .cast("double"), 4).as("hll_estimate") :+
        (lit(m.toLong) - col("_nreg")).as("zero_registers")): _*)
  }

  /** Streaming windowed HLL: distinct-count estimate per event-time tumbling
    * window — the canonical "distinct users per window" job, as a sketch.
    * Two chained windowed aggregations (Spark's multiple-stateful-operator
    * form): window×bucket max-rank registers, then the register sum re-keyed
    * on the same window via window_time. State per window is 2^p registers
    * no matter how many events arrive — the unbounded-key danger of exact
    * windowed countDistinct is gone by construction. Works identically on a
    * batch frame (the window functions degrade to ordinary groupBys).
    * Append-mode: a window emits once its end passes the watermark. */
  def hllWindowedDistinct(events: DataFrame, tsCol: String, duration: String,
                          valueCol: String, p: Int, watermark: String): DataFrame = {
    require(p >= 4 && p <= 16, s"p must be in [4, 16], got $p")
    val m = 1 << p
    val regs = events
      .withWatermark(tsCol, watermark)
      .select(col(tsCol), hllBucket(col(valueCol), p).as("_bucket"),
        hllRank(col(valueCol), p).as("_rank"))
      .groupBy(window(col(tsCol), duration), col("_bucket"))
      .agg(max(col("_rank")).as("_m"))
    val two64 = lit(new java.math.BigDecimal("18446744073709551616"))
    regs
      .groupBy(window(window_time(col("window")), duration).as("window"))
      .agg(
        sum(pow(lit(2.0), lit(64) - col("_m")).cast("decimal(38,0)")).as("_present"),
        count(lit(1)).as("_nreg"))
      .select(col("window"),
        round(lit(alphaFor(p) * m.toDouble * m.toDouble) * lit(math.pow(2.0, 64)) /
          (col("_present") + (lit(m.toLong) - col("_nreg")).cast("decimal(38,0)") * two64)
            .cast("double"), 4).as("hll_estimate"),
        (lit(m.toLong) - col("_nreg")).as("zero_registers"))
  }

  /** Merge register frames (set UNION of the underlying sets): union the
    * rows, re-max per (group, bucket). Lossless — merge(sketch(A), sketch(B))
    * equals sketch(A ∪ B) register-for-register, so union cardinalities
    * across sources/partitions/days cost only sketch-sized frames. */
  def hllMerge(regs: Seq[DataFrame], groupCols: Seq[String]): DataFrame =
    regs.reduce(_ unionByName _)
      .groupBy((groupCols.map(col) :+ col("_bucket")): _*)
      .agg(max(col("_m")).as("_m"))

  /** Count-Min frequency sketch over a key column (Cormode & Muthukrishnan,
    * "An improved data stream summary: the count-min sketch", J.Alg 2005).
    *
    * d seeded FNV rows × w buckets (w a power of two so the bucket is a
    * signed-safe low-bit mask, identical in any engine). One explode +
    * one count aggregation: the shuffled frame is at most d·w counter rows
    * — corpus-size-independent — with map-side partial counts compacting
    * each partition to that bound first. Counters are plain sums, so
    * sketches merge by adding (streams, shards, days) and the classic
    * guarantee holds: estimate ≥ true, over by ≤ 2N/w with prob 1−2⁻ᵈ.
    *
    * Returns (cm_row, cm_bucket, cm_cnt). */
  def countMin(df: DataFrame, keyCol: String, w: Int, d: Int): DataFrame =
    df.select(posexplode(seededBuckets(col(keyCol), w, d)).as(Seq("cm_row", "cm_bucket")))
      .groupBy(col("cm_row"), col("cm_bucket"))
      .agg(count(lit(1)).as("cm_cnt"))

  /** Point-query a [[countMin]] sketch: min over the d seeded counters.
    * The sketch side is ≤ d·w rows and is broadcast, so probing N keys is
    * one broadcast join + one d-row min per key — probes never shuffle the
    * corpus. (w, d) are the sketch identity and must match the build. */
  def cmLookup(sketch: DataFrame, probes: DataFrame, keyCol: String,
               w: Int, d: Int): DataFrame =
    probes
      .select(col(keyCol), posexplode(seededBuckets(col(keyCol), w, d))
        .as(Seq("cm_row", "cm_bucket")))
      .join(broadcast(sketch), Seq("cm_row", "cm_bucket"), "left")
      .groupBy(col(keyCol))
      .agg(min(coalesce(col("cm_cnt"), lit(0L))).as("cm_est"))

  /** STREAMING windowed [[countMin]]: one sketch per event-time window —
    * the per-window frequency store of a production stream (top-k /
    * rate-limit / hot-key detectors query it after window close). State
    * per window is ≤ d·w counters REGARDLESS of arrivals (the same
    * bounded-state argument as [[hllWindowedDistinct]]); counters are
    * plain sums so shard/day sketches merge by addition. Append mode:
    * a window's counters emit once its end passes the watermark. */
  def cmWindowedCounters(events: DataFrame, tsCol: String, duration: String,
                         keyCol: String, w: Int, d: Int,
                         watermark: String): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .select(col(tsCol), posexplode(seededBuckets(col(keyCol), w, d))
        .as(Seq("cm_row", "cm_bucket")))
      .groupBy(window(col(tsCol), duration), col("cm_row"), col("cm_bucket"))
      .agg(count(lit(1)).as("cm_cnt"))

  /** STREAMING windowed heavy-hitter CANDIDATES: one mergeable
    * Misra-Gries summary per event-time window
    * (functions/Aggregators.MisraGries — at most `k` counters per partial
    * REGARDLESS of arrivals, the same bounded-state argument as
    * [[hllWindowedDistinct]]/[[cmWindowedCounters]]), emitted with the
    * window's exact arrival count when the watermark closes it. Any key
    * with true in-window count > n_events/(k+1) is GUARANTEED in
    * `candidates` (the MG bound survives partial-aggregate merging);
    * which OTHER keys appear depends on arrival/merge order, so consumers
    * must exact-verify: join candidates back to per-window true counts
    * and keep `cnt · (k+1) > n_events` — two bounded passes, the same
    * propose-then-verify regime as [[dyadicHeavyHitters]] and the
    * streaming LSH claim index. */
  def mgWindowedCandidates(events: DataFrame, tsCol: String, duration: String,
                           keyCol: String, k: Int,
                           watermark: String): DataFrame = {
    val mg = udaf(graft.functions.Aggregators.MisraGries(k),
      org.apache.spark.sql.Encoders.STRING)
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), duration))
      .agg(mg(col(keyCol).cast("string")).as("candidates"),
        count(lit(1)).as("n_events"))
  }

  /** [[cmLookup]] against per-group (e.g. per-window) counter frames:
    * probes × groups, min over the d seeded counters within each group,
    * absent counters = 0 (the classic CM zero floor). The counter side is
    * groups·d·w rows at most — broadcast-sized for any bounded group set.
    * `groups` is caller-supplied (NOT derived from `counters`: a memory-
    * sink counter frame self-joined against its own projection trips
    * analyzer attribute-conflict; and the group universe is a semantic
    * choice — closed windows, a date range — not a property of whichever
    * counters happen to exist). */
  def cmLookupPerGroup(counters: DataFrame, groups: DataFrame,
                       groupCols: Seq[String],
                       probes: DataFrame, keyCol: String,
                       w: Int, d: Int): DataFrame = {
    groups.select(groupCols.map(col): _*).distinct()
      .crossJoin(probes.select(col(keyCol)).distinct())
      .select((groupCols.map(col) :+ col(keyCol) :+
        posexplode(seededBuckets(col(keyCol), w, d)).as(Seq("cm_row", "cm_bucket"))): _*)
      .join(broadcast(counters), groupCols ++ Seq("cm_row", "cm_bucket"), "left")
      .groupBy((groupCols.map(col) :+ col(keyCol)): _*)
      .agg(min(coalesce(col("cm_cnt"), lit(0L))).as("cm_est"))
  }

  /** Register index: low p bits of the FNV hash. */
  private def hllBucket(value: org.apache.spark.sql.Column, p: Int) =
    Fnv1a64Expr(value.cast("string")).bitwiseAND(lit((1L << p) - 1))

  /** Trailing-zero rank + 1 of the remaining 64−p hash bits; an all-zero
    * rest caps at (64−p)+1. The lowbit isolate rest & -rest is an exact
    * power of two <= 2^(63−p), so log2 on it is exact in any engine. */
  private def hllRank(value: org.apache.spark.sql.Column, p: Int) = {
    val h = Fnv1a64Expr(value.cast("string"))
    // unsigned top bits: (h >> p) & ((1 << (64-p)) - 1) == h >>> p
    val rest = shiftright(h, p).bitwiseAND(lit((1L << (64 - p)) - 1))
    when(rest === 0L, lit(64 - p + 1))
      .otherwise(log2(rest.bitwiseAND(-rest).cast("double")).cast("int") + 1)
  }

  /** The standard HLL bias constant for register count m = 2^p. */
  private def alphaFor(p: Int): Double = p match {
    case 4 => 0.673
    case 5 => 0.697
    case 6 => 0.709
    case _ => { val m = 1 << p; 0.7213 / (1.0 + 1.079 / m) }
  }

  /** Row `i`'s bucket of a string key: FNV-1a over "i|key" masked to the
    * low log2(w) bits. Seeding by string prefix keeps the d hashes
    * independent while staying one primitive any engine can replay. The
    * one bucket definition: [[seededBuckets]] builds its column from it and
    * [[dyadicHeavyHitters]]' driver-side descent evaluates it on literal
    * keys. */
  private def seededBucket(i: Int, key: Expression, w: Int): Expression =
    BitwiseAnd(Fnv1a64Expr(Concat(Seq(Literal(s"$i|"), key))), Literal((w - 1).toLong))

  /** The d per-row [[seededBucket]]s of a key. */
  private def seededBuckets(key: org.apache.spark.sql.Column, w: Int, d: Int) = {
    require(w >= 2 && (w & (w - 1)) == 0, s"w must be a power of two, got $w")
    require(d >= 1 && d <= 8, s"d must be in [1, 8], got $d")
    val k = GraftExprBridge.expression(key.cast("string"))
    GraftExprBridge.column(CreateArray((0 until d).map(seededBucket(_, k, w))))
  }

  /** KMV (k-minimum-values / bottom-k) distinct sketch (Bar-Yossef et al.,
    * "Counting distinct elements in a data stream", RANDOM 2002; the theta-
    * sketch family): per group, the k smallest FNV-1a hash values in
    * UNSIGNED order. Unlike HLL it supports set INTERSECTION estimates —
    * the k smallest hashes of A ∪ B are a uniform sample of A ∪ B, so the
    * fraction also present in both input sketches estimates Jaccard
    * ([[kmvPairEstimate]]). Fully deterministic: the sketch is a set of
    * hash values, not a randomized structure, so an external engine
    * replays it row-for-row.
    *
    * Returns (group, _h) with at most k rows per group — a mergeable frame
    * like [[hllRegisters]]: bottom-k(sketch(A) ∪ sketch(B)) IS sketch(A∪B).
    *
    * The hash is FNV-1a applied TWICE (the second pass over the decimal
    * rendering of the first): single-pass FNV's high bits are visibly
    * biased on short keys — measured 4.6× cardinality error on 4-char
    * sequential strings — and bottom-k, unlike HLL's trailing-zero ranks,
    * keys on exactly those bits. The re-hash feeds FNV ~20 high-entropy
    * digit bytes, restoring uniform order statistics, and stays one
    * primitive (hash, int→string cast) any engine replays bit-for-bit. */
  def kmvSketch(df: DataFrame, groupCols: Seq[String], valueCol: String,
                k: Int): DataFrame = {
    val g = groupCols.map(col)
    val h = Fnv1a64Expr(Fnv1a64Expr(col(valueCol).cast("string")).cast("string"))
    kmvBottomK(df.select((g :+ h.as("_h")): _*), groupCols, k)
  }

  /** Bottom-k of a (group, _h) hash frame in unsigned order, as a two-level
    * tournament: first per (group, 6 low hash bits) — 64 narrow, parallel
    * sorts whose inputs partition the hash space evenly — then one final
    * pass per group over at most 64·k survivors. No group's full hash set
    * is ever sorted in one task, so a skewed group cannot straggle. */
  def kmvBottomK(hashes: DataFrame, groupCols: Seq[String], k: Int): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    val g = groupCols.map(col)
    val pre = Window.partitionBy((g :+ col("_h").bitwiseAND(lit(63L))): _*)
      .orderBy(unsignedOrd)
    val fin = Window.partitionBy(g: _*).orderBy(unsignedOrd)
    hashes.distinct()
      .withColumn("_rn", row_number().over(pre)).filter(col("_rn") <= k)
      .withColumn("_rn", row_number().over(fin)).filter(col("_rn") <= k)
      .drop("_rn")
  }

  /** Distinct-count estimate from a [[kmvSketch]] frame: (k−1)·2⁶⁴ / h₍ₖ₎
    * with h₍ₖ₎ the largest (= k-th smallest) unsigned hash; an under-full
    * sketch IS the exact distinct count. One double division over an exact
    * integer — engine-replayable like the HLL estimate. */
  def kmvEstimate(sketch: DataFrame, groupCols: Seq[String], k: Int): DataFrame = {
    val g = groupCols.map(col)
    sketch.groupBy(g: _*)
      .agg(count(lit(1)).as("sketch_size"),
        max(unsignedOrd).as("_kx"))
      .select((g :+ col("sketch_size") :+
        round(when(col("sketch_size") < k, col("sketch_size").cast("double"))
          .otherwise(lit(kmvC(k)) / unsignedDouble(col("_kx"))), 4)
          .as("kmv_estimate")): _*)
  }

  /** Union / Jaccard / intersection estimates for group-aligned sketches A
    * and B (both (group, _h) frames from [[kmvSketch]]): the union sketch
    * is bottom-k of the merged hashes; of its L rows, the m present in BOTH
    * inputs give ρ = m/L ≈ Jaccard and ρ·|A∪B|ₑₛₜ ≈ |A∩B|. All frames are
    * sketch-sized — pairwise similarity across segments never re-reads the
    * corpus, the reason to hold KMV sketches at 100 TB. */
  def kmvPairEstimate(skA: DataFrame, skB: DataFrame, groupCols: Seq[String],
                      k: Int): DataFrame = {
    val g = groupCols.map(col)
    val union = kmvBottomK(skA.unionByName(skB), groupCols, k)
    val joinKey = groupCols :+ "_h"
    val aggd = union
      .join(skA.withColumn("_ina", lit(1)), joinKey, "left")
      .join(skB.withColumn("_inb", lit(1)), joinKey, "left")
      .groupBy(g: _*)
      .agg(count(lit(1)).as("union_size"),
        sum(when(col("_ina") === 1 && col("_inb") === 1, 1L).otherwise(0L))
          .as("n_common"),
        max(unsignedOrd).as("_kx"))
    val rawUnion = when(col("union_size") < k, col("union_size").cast("double"))
      .otherwise(lit(kmvC(k)) / unsignedDouble(col("_kx")))
    val rho = col("n_common").cast("double") / col("union_size").cast("double")
    aggd.select((g :+ col("union_size") :+ col("n_common")
      :+ round(rawUnion, 4).as("kmv_union_est")
      :+ round(rho, 9).as("kmv_jaccard")
      :+ round(rho * rawUnion, 4).as("kmv_inter_est")): _*)
  }

  /** Dyadic Count-Min range sketch (the range-query construction of
    * Cormode & Muthukrishnan 2005 §4.2): one Count-Min over the composite
    * keys "level|v>>level" for every level in [0, bits). Any interval
    * [lo, hi] ⊆ [0, 2^bits) is the disjoint union of ≤ 2·bits dyadic
    * nodes, so a range count costs ≤ 2·bits point lookups against a
    * broadcast-sized sketch — range/rank queries over an unbounded stream
    * in bits·d·w counters, never re-scanning the data. Estimates inherit
    * the CM one-sided guarantee: each node over-counts, never under.
    *
    * Values must lie in [0, 2^bits); the caller clamps or buckets first. */
  def dyadicCountMin(df: DataFrame, valueCol: String, bits: Int,
                     w: Int, d: Int): DataFrame = {
    require(bits >= 1 && bits <= 62, s"bits must be in [1, 62], got $bits")
    val v = col(valueCol).cast("long")
    val keys = array((0 until bits).map { l =>
      concat(lit(s"$l|"), shiftright(v, l).cast("string"))
    }: _*)
    countMin(df.select(explode(keys).as("_dkey")), "_dkey", w, d)
  }

  /** Count estimates for literal ranges against a [[dyadicCountMin]]
    * sketch. The canonical decomposition is pure driver arithmetic on the
    * bounds (data-independent); the probe frame is ≤ ranges·2·bits rows
    * joined to the broadcast sketch. Returns (range_id, range_est). */
  def dyadicRangeCount(spark: org.apache.spark.sql.SparkSession,
                       sketch: DataFrame, ranges: Seq[(String, Long, Long)],
                       bits: Int, w: Int, d: Int): DataFrame = {
    import spark.implicits._
    val probes = ranges.flatMap { case (id, lo, hi) =>
      dyadicCover(lo, hi, bits).map { case (l, node) => (id, s"$l|$node") }
    }.toDF("range_id", "_dkey")
    val est = cmLookup(sketch, probes.select(col("_dkey")).distinct(), "_dkey", w, d)
    probes.join(est, Seq("_dkey"))
      .groupBy(col("range_id")).agg(sum(col("cm_est")).as("range_est"))
  }

  /** Canonical dyadic cover of [lo, hi]: greedily take the largest aligned
    * block starting at the cursor that fits; ≤ 2·bits disjoint (level,
    * node) blocks whose union is exactly the interval. */
  private[graft] def dyadicCover(lo: Long, hi: Long, bits: Int): Seq[(Int, Long)] = {
    require(0 <= lo && lo <= hi && hi < (1L << bits),
      s"range [$lo, $hi] outside [0, 2^$bits)")
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Long)]
    var a = lo
    while (a <= hi) {
      var l = 0
      while (l + 1 <= bits - 1 && (a & ((1L << (l + 1)) - 1)) == 0 &&
        a + (1L << (l + 1)) - 1 <= hi) l += 1
      out += ((l, a >> l))
      a += (1L << l)
    }
    out.toSeq
  }

  /** AMS / tug-of-war sketch of the second frequency moment F₂ = Σ c(x)²
    * (Alon, Matias & Szegedy, "The space complexity of approximating the
    * frequency moments", STOC 1996). F₂ IS the self-join size of the key
    * column — the number a planner needs to predict shuffle volume and
    * detect skew before paying for it (a key column whose F₂ ≫ N has heavy
    * hitters; see [[SkewJoin]]).
    *
    * d independent ±1 hash signs per key; Z_j = Σ rows s_j(key); each Z_j²
    * is an unbiased F₂ estimate and the mean of d of them is reported.
    * State is d counters per group, updates are additions — so Z frames
    * from shards/streams/days merge by plain per-(group, j) addition
    * ([[amsZ]] is exposed for exactly that) — and every step is exact
    * integer arithmetic, replayable by any engine. Error ~ F₂·√(2/d).
    *
    * Returns (group, f2_est). */
  def amsF2(df: DataFrame, groupCols: Seq[String], valueCol: String,
            d: Int): DataFrame = amsEstimate(amsZ(df, groupCols, valueCol, d), groupCols, d)

  /** The mergeable AMS state: (group, _j, _z) with d rows per group.
    * Z vectors of disjoint row sets ADD: amsZ(A ⊎ B) = amsZ(A) + amsZ(B)
    * per (group, _j) — union the frames and re-sum.
    *
    * Signs use the double-FNV device from [[kmvSketch]]: FNV-1a's low bit
    * is LINEAR (multiplying by an odd prime preserves bit 0, so it reduces
    * to byte-parity ⊕ basis — measured a 20× F₂ error on short keys), and
    * its high bits are key-correlated; re-hashing the decimal rendering of
    * the first hash yields an effectively independent ±1 family. */
  def amsZ(df: DataFrame, groupCols: Seq[String], valueCol: String,
           d: Int): DataFrame = {
    require(d >= 1 && d <= 64, s"d must be in [1, 64], got $d")
    val g = groupCols.map(col)
    val signs = array((0 until d).map { j =>
      val h1 = Fnv1a64Expr(concat(lit(s"$j|"), col(valueCol).cast("string")))
      lit(1L) - Fnv1a64Expr(h1.cast("string")).bitwiseAND(lit(1L)) * lit(2L)
    }: _*)
    df.select((g :+ posexplode(signs).as(Seq("_j", "_s"))): _*)
      .groupBy((g :+ col("_j")): _*)
      .agg(sum(col("_s")).as("_z"))
  }

  /** Mean-of-d F₂ estimate over an [[amsZ]] frame (one exact integer sum,
    * one double division — engine-identical). */
  def amsEstimate(z: DataFrame, groupCols: Seq[String], d: Int): DataFrame = {
    val g = groupCols.map(col)
    z.groupBy(g: _*)
      .agg(floor(sum(col("_z") * col("_z")).cast("double") / d).cast("long")
        .as("f2_est"))
  }

  /** Per-LEVEL dyadic Count-Min counters: (l, cm_row, cm_bucket, cnt) —
    * one independent d×w sketch per dyadic level, the layout of Cormode &
    * Muthukrishnan's hierarchical constructions (range sums share one
    * sketch fine, but tree DESCENTS compare node estimates against a
    * fixed threshold, and a shared sketch's collision load grows with
    * bits·N while a per-level sketch's stays N/w — the difference between
    * a descent that prunes and one that drowns). Counters are plain sums,
    * so per-shard/per-day frames merge by per-(l, row, bucket) addition. */
  def dyadicLevelCounters(df: DataFrame, valueCol: String, bits: Int,
                          w: Int, d: Int): DataFrame = {
    require(bits >= 1 && bits <= 62, s"bits must be in [1, 62], got $bits")
    val v = col(valueCol).cast("long")
    df.select(posexplode(array((0 until bits).map(l => shiftright(v, l)): _*))
        .as(Seq("l", "_node")))
      .select(col("l"), posexplode(seededBuckets(col("_node").cast("string"), w, d))
        .as(Seq("cm_row", "cm_bucket")))
      .groupBy(col("l"), col("cm_row"), col("cm_bucket"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** CM estimates for a (l, node) probe frame against [[dyadicLevelCounters]]
    * (broadcast): min over the d seeded counters, absent counters count 0.
    * Carries every other probe column through.
    *
    * Shaped as d broadcast joins + `least`, NOT explode + groupBy-min: the
    * tree descents call this once per level, and a groupBy would put a
    * shuffle BARRIER in every one of the bits sequential steps — on a real
    * cluster the descent's latency is those barriers, not the tiny data.
    * Broadcast joins keep the whole descent narrow (zero exchanges). */
  private def levelEst(counters: DataFrame, probes: DataFrame, w: Int,
                       d: Int, estCol: String): DataFrame = {
    val carry = probes.columns.toSeq
    var cur = probes.withColumn("_bks",
      seededBuckets(col("node").cast("string"), w, d))
    for (i <- 0 until d) {
      val ci = counters.filter(col("cm_row") === i)
        .select(col("l"), col("cm_bucket").as(s"_b$i"), col("cnt").as(s"_c$i"))
      cur = cur.withColumn(s"_b$i", element_at(col("_bks"), i + 1))
        .join(broadcast(ci), Seq("l", s"_b$i"), "left")
    }
    cur.withColumn(estCol,
        least((0 until d).map(i => coalesce(col(s"_c$i"), lit(0L))): _*))
      .select((carry :+ estCol).map(col): _*)
  }

  /** Hierarchical heavy hitters by dyadic-tree descent (Cormode &
    * Muthukrishnan 2005 §4.1): every key whose TRUE count ≥ `minCount`,
    * found WITHOUT ever materializing the distinct-key set — the property
    * that matters when the key universe itself is corpus-sized. Keys hash
    * into [0, 2^bits); the descent starts at the two top dyadic nodes and
    * expands only children whose CM estimate ≥ minCount. One-sided CM
    * error ⇒ an ancestor of a true heavy hitter always passes, so the
    * surviving leaves are a GUARANTEED SUPERSET of the true heavy hitters;
    * the final semi-join back to the data attaches exact counts so false
    * positives are visible (`is_heavy`). The only corpus-sized work is the
    * one-pass sketch build and the final count of the few candidate keys;
    * the descent itself touches ≤ 2·|candidates|·bits sketch probes.
    *
    * Hashing uses the double-FNV device ([[kmvSketch]]) so sibling counts
    * split evenly. Returns (key, hv, cm_est, true_cnt, is_heavy). */
  def dyadicHeavyHitters(df: DataFrame, keyCol: String, bits: Int, w: Int,
                         d: Int, minCount: Long): DataFrame = {
    require(bits >= 2 && bits <= 62, s"bits must be in [2, 62], got $bits")
    require(minCount >= 1, s"minCount must be >= 1, got $minCount")
    // the descent's counter key packs (l, cm_row, cm_bucket) as
    // l << 40 | row << 32 | bucket: l < 62, row < d, bucket < w
    require(d >= 1 && d <= 8,
      s"dyadicHeavyHitters packs cm_row into bits 32-39: d must be in [1, 8], got $d")
    require(w >= 2 && w <= (1 << 30),
      s"dyadicHeavyHitters packs cm_bucket below bit 32: w must be in [2, 2^30], got $w")
    def pack(l: Int, row: Int, bucket: Long): Long =
      (l.toLong << 40) | (row.toLong << 32) | bucket
    val hv = Fnv1a64Expr(Fnv1a64Expr(col(keyCol).cast("string")).cast("string"))
      .bitwiseAND(lit((1L << bits) - 1))
    // fan a single-split scan out BEFORE the sketch build: the per-row
    // work below is bits × d hash computations, the corpus-sized pass of
    // this operator, and must not serialize on one core (round 20)
    val hashed = Partitioning.fanOutForCompute(
      df.select(col(keyCol).as("key"), hv.as("hv")), col("key"))
    // The sketch is BOUNDED, configuration-sized state — at most
    // bits × d × w counters regardless of corpus size — so it is
    // collected once and the descent runs as plain driver arithmetic
    // (≤ 2·|candidates|·bits integer map probes). The round-19 shape ran
    // the descent as bits × d lazily stacked broadcast joins instead:
    // constant propagation specialized every build side, so one gate paid
    // ~50 sequential broadcast-build jobs and a 2,000-line plan for what
    // is microseconds of lookup work. The only corpus-sized jobs left are
    // the one-pass sketch build and the final exact-count join.
    val counters = dyadicLevelCounters(hashed, "hv", bits, w, d)
    val cmap = new java.util.HashMap[Long, Long]()
    counters.collect().foreach { r =>
      cmap.put(pack(r.getInt(0), r.getInt(1), r.getLong(2)), r.getLong(3))
    }
    def est(l: Int, node: Long): Long = {
      val key = Literal(node.toString)
      (0 until d).map { i =>
        val b = seededBucket(i, key, w).eval().asInstanceOf[Long]
        cmap.getOrDefault(pack(l, i, b), 0L)
      }.min
    }
    var frontier: Seq[Long] = Seq(0L, 1L)
    var frontierEst: Map[Long, Long] = Map.empty
    for (l <- (bits - 1) to 0 by -1) {
      val kept = frontier.map(n => n -> est(l, n)).filter(_._2 >= minCount)
      if (l == 0) { frontierEst = kept.toMap; frontier = kept.map(_._1) }
      else frontier = kept.flatMap { case (n, _) => Seq(n * 2, n * 2 + 1) }
    }
    import hashed.sparkSession.implicits._
    val leaves = frontierEst.toSeq.sorted.toDF("hv", "cm_est")
    hashed.join(broadcast(leaves), Seq("hv"))
      .groupBy(col("key"), col("hv"), col("cm_est"))
      .agg(count(lit(1)).as("true_cnt"))
      .select(col("key"), col("hv"), col("cm_est"), col("true_cnt"),
        (col("true_cnt") >= minCount).as("is_heavy"))
  }

  /** Quantiles by dyadic-tree descent over [[dyadicLevelCounters]] — the
    * inverse of [[dyadicRangeCount]]'s CDF direction: for each percentile
    * the smallest value v with estimated rank ≥ ⌈p·N/100⌉, found in `bits`
    * sketch probes per percentile (descend; go left iff the left child's
    * mass already covers the remaining target). Values must lie in
    * [0, 2^bits) — the NATURAL integer domain, not a hash (quantiles need
    * order). CM overcount is one-sided so the estimated quantile can sit
    * early, never late; `est_rank` (the estimated rank of the answer) is
    * emitted so the caller sees the bias. N is taken from the data in the
    * same plan — no driver action. Returns (pct, target, q_est, est_rank). */
  def dyadicQuantiles(df: DataFrame, valueCol: String, bits: Int, w: Int,
                      d: Int, pcts: Seq[Int]): DataFrame = {
    require(pcts.nonEmpty && pcts.forall(p => p >= 1 && p <= 100),
      s"pcts must be in [1, 100], got $pcts")
    val spark = df.sparkSession
    import spark.implicits._
    val counters = dyadicLevelCounters(df, valueCol, bits, w, d).localCheckpoint()
    val nF = df.agg(count(lit(1)).as("_n"))
    var state = pcts.toDF("pct").crossJoin(broadcast(nF))
      .select(col("pct"),
        ceil(col("pct") * col("_n") / lit(100.0)).cast("long").as("target"),
        lit(0L).as("node"), lit(0L).as("cum"))
    for (l <- (bits - 1) to 0 by -1) {
      val probed = levelEst(counters,
        state.select(col("pct"), col("target"), col("cum"), lit(l).as("l"),
          (col("node") * 2).as("node")), w, d, "_el")
      val goLeft = col("cum") + col("_el") >= col("target")
      state = probed.select(col("pct"), col("target"),
        when(goLeft, col("node")).otherwise(col("node") + 1).as("node"),
        when(goLeft, col("cum")).otherwise(col("cum") + col("_el")).as("cum"))
    }
    levelEst(counters,
      state.select(col("pct"), col("target"), col("cum"), lit(0).as("l"), col("node")),
      w, d, "_e0")
      .select(col("pct"), col("target"), col("node").as("q_est"),
        (col("cum") + col("_e0")).as("est_rank"))
  }

  /** Signed column whose order equals the UNSIGNED order of the hash. */
  private def unsignedOrd = col("_h").bitwiseXOR(lit(Long.MinValue))

  /** The unsigned 64-bit value of an [[unsignedOrd]]-mapped hash as a
    * double: exact integer x + 2⁶³ in decimal(20,0), one correctly-rounded
    * cast — identical in any IEEE engine. */
  private def unsignedDouble(x: org.apache.spark.sql.Column) =
    (x.cast("decimal(20,0)") +
      lit(new java.math.BigDecimal("9223372036854775808"))).cast("double")

  /** (k−1)·2⁶⁴ as an exact double (k−1 has few mantissa bits). */
  private def kmvC(k: Int): Double = (k - 1).toDouble * math.pow(2.0, 64)
}
