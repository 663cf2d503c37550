package graft.operators

import graft.functions.CentroidModel
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._

/** Native model-fitting surface (reference: flink-libraries/flink-ml/.../
  * recommendation/ALS.scala, classification/SVM.scala (CoCoA), and
  * optimization/GradientDescent.scala), re-expressed as DataFrame
  * aggregation loops instead of the reference's per-partition native
  * solvers.
  *
  * Shape at scale: every iteration is one join + one aggregate shuffle
  * keyed on the factor id (ALS) or one full-scan aggregate producing a
  * k-element gradient (SVM). Model state is either a factor DataFrame
  * (ALS — never collected) or a k-vector on the driver (SVM — k is the
  * feature count, bytes, the same driver-held model every distributed GD
  * implementation carries). Nothing driver-side grows with the data.
  *
  * Determinism: the gate-query paths ([[alsRank1Scaled]], [[svmScaled]])
  * use exact integer arithmetic (the same micro-unit device as
  * GraphOps.pageRankScaled) so any engine replays them bit-for-bit; the
  * general [[alsFit]] path is double-precision and verified by property
  * specs (exact low-rank recovery) rather than a hash oracle.
  */
object ML {

  // ---------------------------------------------------------------- ALS

  /** Alternating least squares, rank-1, scaled-integer arithmetic.
    *
    * Factors are longs in `scale` micro-units (f_real = f / scale). Each
    * half-step is the exact rank-1 normal equation
    * u = Σ r·v / Σ v² computed as (scale² · Σ r·V) div (Σ V²) — all
    * BIGINT, so the alternation is engine-portable (DuckDB `//` replays
    * Spark `div` exactly on the positive domain).
    *
    * `ratings` columns: (user, item, rating) with positive integral
    * ratings. One sweep = user half-step from item factors, then item
    * half-step from the new user factors. Returns
    * (side: "user"|"item", id, f) — both factor tables in one frame.
    *
    * Magnitude safety at sf1 (6M ratings, ~40 per user / ~30 per item):
    * Σ r·V ≤ 40·200·5e5 ≈ 4e9; ·scale² (1e8) ≈ 4e17 < 2^63. Ratings-per-
    * key is a data-density constant, not a corpus-size function, so the
    * bound holds at 100 TB the same way it holds at sf0.01. */
  def alsRank1Scaled(ratings: DataFrame, userCol: String, itemCol: String,
                     ratingCol: String, sweeps: Int,
                     scale: Long = 10000L): DataFrame = {
    require(sweeps >= 1, s"sweeps must be >= 1, got $sweeps")
    val r = ratings.select(col(userCol).as("u"), col(itemCol).as("i"),
      col(ratingCol).cast("long").as("v")).cache()
    val n = r.count()
    val maybeB = Iterations.maybeBroadcast(n)
    Iterations.withLoopProfile(r.sparkSession, n) {
      val sc2 = scale * scale
      def halfStep(from: DataFrame, joinKey: String, groupKey: String): DataFrame =
        r.join(maybeB(from.withColumnRenamed("id", joinKey)), joinKey)
          .groupBy(col(groupKey).as("id"))
          .agg(sum(col("v") * col("f")).as("srv"), sum(col("f") * col("f")).as("svv"))
          .select(col("id"), expr(s"($sc2 * srv) div svv").as("f"))
      var itemF = r.select(col("i").as("id")).distinct()
        .withColumn("f", lit(scale))
      var userF: DataFrame = null
      for (_ <- 1 to sweeps) {
        userF = halfStep(itemF, "i", "u").localCheckpoint()
        itemF = halfStep(userF, "u", "i").localCheckpoint()
      }
      r.unpersist()
      userF.select(lit("user").as("side"), col("id"), col("f"))
        .union(itemF.select(lit("item"), col("id"), col("f")))
    }
  }

  /** Alternating least squares, rank-2, engine-portable arithmetic — the
    * multi-component normal-equation path with a hash oracle (rank-k for
    * k > 2 stays double-precision, spec-verified via [[alsFit]]).
    *
    * Factors are PAIRS of longs in `scale` micro-units. Each half-step:
    * exact BIGINT Gram/rhs sums (s00, s01, s11, b0, b1) per entity, then
    * the closed-form 2×2 ridge solve in ONE fixed double-arithmetic
    * sequence from those exact integers (the linearFit device — no float
    * SUM ever crosses rows, so partial-agg order cannot perturb it), then
    * floor back to scaled longs. Any engine replays it bit-for-bit.
    *
    * Init breaks symmetry deterministically: f0 = scale,
    * f1 = ((id % 7) - 3) · scale/4 — expressible in plain SQL, full-rank
    * across any ≥ 2 items with different id mod 7.
    *
    * Ridge: λ·n̂ on the REAL-unit Gram diagonal (n̂ = the entity's rating
    * count, Zhou et al. weighted-λ) keeps the solve non-singular even if
    * factors drift toward collinearity mid-alternation.
    *
    * Scale shape: identical to [[alsRank1Scaled]] — one join + one
    * aggregate per half-step, factor frames never collected. */
  def alsRank2Scaled(ratings: DataFrame, userCol: String, itemCol: String,
                     ratingCol: String, sweeps: Int, scale: Long = 10000L,
                     lambdaMilli: Long = 10L): DataFrame = {
    require(sweeps >= 1, s"sweeps must be >= 1, got $sweeps")
    val r = ratings.select(col(userCol).as("u"), col(itemCol).as("i"),
      col(ratingCol).cast("long").as("v")).cache()
    val n = r.count()
    val maybeB = Iterations.maybeBroadcast(n)
    Iterations.withLoopProfile(r.sparkSession, n) {
      val sc = scale.toDouble
      val lam = lambdaMilli / 1000.0
      def halfStep(from: DataFrame, joinKey: String, groupKey: String): DataFrame = {
        val agged = r.join(maybeB(from.withColumnRenamed("id", joinKey)), joinKey)
          .groupBy(col(groupKey).as("id"))
          .agg(count(lit(1)).as("nn"),
            sum(col("f0") * col("f0")).as("s00"),
            sum(col("f0") * col("f1")).as("s01"),
            sum(col("f1") * col("f1")).as("s11"),
            sum(col("v") * col("f0")).as("b0"),
            sum(col("v") * col("f1")).as("b1"))
        // real-unit system: A = S/scale² + λ·n̂·I, b = B/scale; solved by
        // Cramer's rule. The expression tree below must match the oracle
        // SQL exactly (same association order) — IEEE doubles are then
        // bit-identical on any engine.
        val a00 = col("s00").cast("double") / (sc * sc) + col("nn") * lam
        val a01 = col("s01").cast("double") / (sc * sc)
        val a11 = col("s11").cast("double") / (sc * sc) + col("nn") * lam
        val c0 = col("b0").cast("double") / sc
        val c1 = col("b1").cast("double") / sc
        val det = a00 * a11 - a01 * a01
        agged.select(col("id"),
          floor(lit(sc) * ((c0 * a11 - c1 * a01) / det)).cast("long").as("f0"),
          floor(lit(sc) * ((c1 * a00 - c0 * a01) / det)).cast("long").as("f1"))
      }
      var itemF = r.select(col("i").as("id")).distinct()
        .select(col("id"), lit(scale).as("f0"),
          ((col("id") % 7 - 3) * (scale / 4)).cast("long").as("f1"))
      var userF: DataFrame = null
      for (_ <- 1 to sweeps) {
        userF = halfStep(itemF, "i", "u").localCheckpoint()
        itemF = halfStep(userF, "u", "i").localCheckpoint()
      }
      r.unpersist()
      userF.select(lit("user").as("side"), col("id"), col("f0"), col("f1"))
        .union(itemF.select(lit("item"), col("id"), col("f0"), col("f1")))
    }
  }

  /** Alternating least squares, general rank-k with weighted-λ
    * regularization (Zhou et al., the scheme the reference's
    * recommendation/ALS.scala implements): each half-step solves, per
    * entity, (Σ f fᵀ + λ·n·I) x = Σ r·f over its ratings.
    *
    * The normal-equation sums are native codegen aggregates — one column
    * per (a ≤ b) Gram entry and per rhs component, so the shuffle carries
    * k(k+3)/2 doubles per entity, not the rating rows. Only the k×k solve
    * (per entity, on the aggregated row) is a UDF — O(k³) on k ~ 10-100,
    * negligible next to the join.
    *
    * Factor init is a deterministic per-(id, component) hash in
    * [0.1, 1.1) — reproducible across runs, full-rank in expectation
    * (identical init vectors would make the Gram matrix singular).
    *
    * Returns (side, id, f: array<double>). */
  def alsFit(ratings: DataFrame, userCol: String, itemCol: String,
             ratingCol: String, rank: Int, sweeps: Int,
             lambda: Double = 0.1): DataFrame = {
    require(rank >= 1, s"rank must be >= 1, got $rank")
    require(sweeps >= 1, s"sweeps must be >= 1, got $sweeps")
    val r = ratings.select(col(userCol).as("u"), col(itemCol).as("i"),
      col(ratingCol).cast("double").as("v")).cache()

    def hashInit(idCol: Column): Column = array(
      (0 until rank).map(j =>
        pmod(xxhash64(concat(idCol.cast("string"), lit(s"#$j"))), lit(1000L))
          .cast("double") / 1000.0 + 0.1): _*)

    val solve = udf { (gram: Seq[Double], rhs: Seq[Double], n: Long) =>
      // dense A from the packed upper triangle, λ·n ridge on the diagonal
      val k = rhs.length
      val a = Array.ofDim[Double](k, k)
      var idx = 0
      for (p <- 0 until k; q <- p until k) {
        a(p)(q) = gram(idx); a(q)(p) = gram(idx); idx += 1
      }
      for (p <- 0 until k) a(p)(p) += lambda * n
      val b = rhs.toArray
      // Gaussian elimination with partial pivoting (k is small by contract)
      for (p <- 0 until k) {
        var best = p
        for (q <- p + 1 until k) if (math.abs(a(q)(p)) > math.abs(a(best)(p))) best = q
        val tmp = a(p); a(p) = a(best); a(best) = tmp
        val tb = b(p); b(p) = b(best); b(best) = tb
        for (q <- p + 1 until k) {
          val m = a(q)(p) / a(p)(p)
          for (c <- p until k) a(q)(c) -= m * a(p)(c)
          b(q) -= m * b(p)
        }
      }
      val x = new Array[Double](k)
      for (p <- (k - 1) to 0 by -1) {
        var s = b(p)
        for (c <- p + 1 until k) s -= a(p)(c) * x(c)
        x(p) = s / a(p)(p)
      }
      x.toSeq
    }

    val gramCols = for (p <- 0 until rank; q <- p until rank)
      yield sum(col("f")(p) * col("f")(q)).as(s"g_${p}_$q")
    val rhsCols = (0 until rank).map(p => sum(col("v") * col("f")(p)).as(s"b_$p"))
    val gramArr = array((for (p <- 0 until rank; q <- p until rank)
      yield col(s"g_${p}_$q")): _*)
    val rhsArr = array((0 until rank).map(p => col(s"b_$p")): _*)

    def halfStep(from: DataFrame, joinKey: String, groupKey: String): DataFrame =
      r.join(from.withColumnRenamed("id", joinKey), joinKey)
        .groupBy(col(groupKey).as("id"))
        .agg(count(lit(1)).as("n"), gramCols ++ rhsCols: _*)
        .select(col("id"), solve(gramArr, rhsArr, col("n")).as("f"))

    var itemF = r.select(col("i").as("id")).distinct()
      .select(col("id"), hashInit(col("id")).as("f"))
    var userF: DataFrame = null
    for (_ <- 1 to sweeps) {
      userF = halfStep(itemF, "i", "u").localCheckpoint()
      itemF = halfStep(userF, "u", "i").localCheckpoint()
    }
    r.unpersist()
    userF.select(lit("user").as("side"), col("id"), col("f"))
      .union(itemF.select(lit("item"), col("id"), col("f")))
  }

  /** Predicted rating for every (user, item) pair present in `pairs`,
    * from [[alsFit]]-shaped factors: the factor dot product. */
  def alsPredict(pairs: DataFrame, factors: DataFrame,
                 userCol: String, itemCol: String): DataFrame = {
    val uf = factors.filter(col("side") === "user").select(col("id"), col("f").as("uf"))
    val itf = factors.filter(col("side") === "item").select(col("id"), col("f").as("if_"))
    pairs.join(uf.withColumnRenamed("id", userCol), userCol)
      .join(itf.withColumnRenamed("id", itemCol), itemCol)
      .withColumn("prediction",
        aggregate(zip_with(col("uf"), col("if_"), (a, b) => a * b),
          lit(0.0), (acc, x) => acc + x))
      .drop("uf", "if_")
  }

  // --------------------------------------------------- linear regression

  /** Multi-feature least squares y = w0 + Σ wj·xj by normal equations in
    * ONE aggregation pass (reference: flink-ml/.../regression/
    * MultipleLinearRegression.scala — its SGD loop needs a full data pass
    * per step, the wrong shape at scale; the Gram matrix of k features is
    * k(k+3)/2 sums, one shuffle-free aggregate). The k×k solve runs on
    * the driver over that single aggregated row — O(k²) model state, the
    * same driver-held weight vector every distributed GD carries.
    *
    * Returns feature name → weight, with the intercept under
    * `_intercept`. Spec-verified (exact planted-relation recovery); the
    * two-feature hash-oracled sibling is
    * [[Preprocessing.multiLinearFit]]. */
  def linearRegressionFit(features: DataFrame, xCols: Seq[String],
                          yCol: String): Map[String, Double] = {
    require(xCols.nonEmpty, "linearRegressionFit needs at least one feature")
    val aug = lit(1.0) +: xCols.map(c => col(c).cast("double")) // intercept first
    val k = aug.length
    val gramCols = for (p <- 0 until k; q <- p until k)
      yield sum(aug(p) * aug(q)).as(s"g_${p}_$q")
    val rhsCols = (0 until k).map(p =>
      sum(aug(p) * col(yCol).cast("double")).as(s"b_$p"))
    val row = features.agg((gramCols ++ rhsCols).head,
      (gramCols ++ rhsCols).tail: _*).head()
    val a = Array.ofDim[Double](k, k)
    var idx = 0
    for (p <- 0 until k; q <- p until k) {
      a(p)(q) = row.getDouble(idx); a(q)(p) = row.getDouble(idx); idx += 1
    }
    val b = (0 until k).map(p => row.getDouble(idx + p)).toArray
    // Gaussian elimination with partial pivoting (k small by contract)
    for (p <- 0 until k) {
      var best = p
      for (q <- p + 1 until k) if (math.abs(a(q)(p)) > math.abs(a(best)(p))) best = q
      val tmp = a(p); a(p) = a(best); a(best) = tmp
      val tb = b(p); b(p) = b(best); b(best) = tb
      require(a(p)(p) != 0.0, "linearRegressionFit: singular normal equations " +
        "(collinear or constant features)")
      for (q <- p + 1 until k) {
        val m = a(q)(p) / a(p)(p)
        for (c <- p until k) a(q)(c) -= m * a(p)(c)
        b(q) -= m * b(p)
      }
    }
    val x = new Array[Double](k)
    for (p <- (k - 1) to 0 by -1) {
      var s = b(p)
      for (c <- p + 1 until k) s -= a(p)(c) * x(c)
      x(p) = s / a(p)(p)
    }
    (("_intercept" -> x(0)) +: xCols.zipWithIndex.map { case (c, j) => c -> x(j + 1) }).toMap
  }

  /** Prediction Column under [[linearRegressionFit]] weights. Terms add
    * in sorted-column-name order so the float sum is reproducible (Map
    * iteration order is not a stable contract). */
  def linearRegressionPredict(weights: Map[String, Double]): Column =
    weights.toSeq.filter(_._1 != "_intercept").sortBy(_._1)
      .map { case (c, w) => col(c).cast("double") * lit(w) }
      .foldLeft(lit(weights("_intercept")).cast("double"))(_ + _)

  // ---------------------------------------------------------------- SVM

  /** Linear SVM by full-batch Pegasos subgradient descent in scaled
    * integers (reference: flink-ml/.../classification/SVM.scala — CoCoA
    * reaches the same hinge-loss optimum; the full-batch subgradient
    * shape maps 1:1 onto a Spark aggregate per round).
    *
    * `features` columns: `labelCol` in {-1, +1} and integral feature
    * columns `xCols` (include a constant 1 column for a bias term).
    * Weights are longs in `scale` micro-units, λ = 1/`lambdaInv`,
    * η_t = 1/(λt):
    *
    *   violators_t = rows with y·⟨W, x⟩ < scale        (real y·⟨w,x⟩ < 1)
    *   G_j = Σ_violators y·x_j                         (exact BIGINT)
    *   W_j ← W_j − W_j div t + (scale·lambdaInv·G_j) div (t·n)
    *
    * Every round is ONE aggregate over the cached feature frame producing
    * k+1 longs; the weight vector lives on the driver (k bytes — the same
    * model state FlinkML's GradientDescent reduces to the job manager).
    * Pegasos bounds ‖w‖ ≤ 1/√λ, so W_j ≈ scale·O(1) and the margin sum
    * stays far from 2^63 regardless of row count. The driver-side update
    * term scale·lambdaInv·G_j DOES grow with the row count (G_j is a sum
    * over violators), so it runs in BigInt — the mirror of the oracle's
    * HUGEINT — and only the bounded result returns to Long.
    *
    * Returns one row per weight (k = column name, v = scaled weight) plus
    * a `_violations` row: the violator count under the FINAL weights. */
  def svmScaled(features: DataFrame, labelCol: String, xCols: Seq[String],
                iters: Int, scale: Long = 1000000L,
                lambdaInv: Long = 1L): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val spark = features.sparkSession
    val f = features.select(
      (col(labelCol).cast("long").as("y") +: xCols.map(c => col(c).cast("long").as(c))): _*)
      .cache()
    val n = f.count()
    require(n > 0, "svmScaled: empty feature frame")
    // Executor-side margin guard: the per-row test y·Σ x_j·W_j runs in
    // plain Long (the hot codegen path — decimal would de-optimize it).
    // Pegasos bounds ‖w‖ ≤ 1/√λ, i.e. |W_j| ≲ scale·√lambdaInv in scaled
    // units, so the margin magnitude is ≤ k·max|x|·scale·√lambdaInv.
    // Enforce that bound (one tiny aggregate over the cached frame) so a
    // large integral feature cannot silently wrap the margin and corrupt
    // the violator set — scale features down (or z-score via
    // Preprocessing) if this trips.
    val maxAbsRow = f.agg(max(abs(col(xCols.head))).as(xCols.head),
      xCols.tail.map(c => max(abs(col(c))).as(c)): _*).head()
    val maxX = math.max(1L, xCols.indices.map(maxAbsRow.getLong).max)
    val marginBound = xCols.length.toDouble * maxX.toDouble *
      scale.toDouble * math.sqrt(lambdaInv.toDouble)
    require(marginBound < math.pow(2, 62),
      f"svmScaled: margin bound k*max|x|*scale*sqrt(lambdaInv) = $marginBound%.3g " +
        "risks Long overflow; reduce feature magnitudes or scale/lambdaInv")
    var w = xCols.map(_ => 0L).toArray

    def marginCol(weights: Array[Long]): Column =
      col("y") * xCols.zip(weights).map { case (c, wj) => col(c) * lit(wj) }
        .reduce(_ + _)

    for (t <- 1 to iters) {
      val gCols = xCols.map(c =>
        sum(when(marginCol(w) < scale, col("y") * col(c)).otherwise(0L)).as(c))
      val g = f.agg(gCols.head, gCols.tail: _*).head()
      w = w.zipWithIndex.map { case (wj, j) =>
        // BigInt: G_j is O(n·max|x|), the product overflows Long in the
        // 10^8+-row regime; BigInt/HUGEINT division both truncate toward
        // zero, and the quotient is back in the Pegasos-bounded range
        (BigInt(wj) - wj / t +
          (BigInt(scale) * lambdaInv * g.getLong(j)) / (BigInt(t) * n)).toLong
      }
    }
    val finalViol = f.filter(marginCol(w) < scale).count()
    f.unpersist()
    import spark.implicits._
    (xCols.zip(w) :+ ("_violations" -> finalViol)).toDF("k", "v")
  }

  /** Margin-sign prediction Column under [[svmScaled]] weights: +1 / -1
    * per row of any frame carrying the feature columns. */
  def svmPredict(weights: Map[String, Long]): Column = {
    val m = weights.map { case (c, wj) => col(c) * lit(wj) }.reduce(_ + _)
    when(m >= 0, 1).otherwise(-1)
  }

  // --------------------------------------------- gradient descent (GD)

  /** Full-batch gradient descent over squared loss in scaled integers —
    * the generic optimizer (reference: flink-ml/.../optimization/
    * GradientDescent.scala with LossFunction = SquaredLoss and
    * RegularizationPenalty ∈ {NoRegularization, L2Regularization,
    * L1Regularization}; the reference folds per-partition gradient sums
    * to the job manager — here each round is ONE Spark aggregate
    * producing k exact sums, and the k-long weight vector lives on the
    * driver, the same O(features) model state).
    *
    * Weights are longs in `scale` micro-units, learning rate
    * η_t = 1/(etaInv·t) (harmonic decay — a rational schedule so any SQL
    * engine replays the trajectory; the reference's 1/√t default is
    * irrational and would not hash-oracle). Per round t:
    *
    *   r_i  = Σ_k x_ik·W_k − y_i·scale          (scaled residual, Long —
    *                                             the codegen'd hot path)
    *   G_j  = Σ_i x_ij·r_i                      (decimal(38,0): per-row
    *                                             products are Long-safe,
    *                                             the SUM is not at 10^11+
    *                                             rows)
    *   W_j ← W_j − penalty_j(t) − G_j div (etaInv·t·n)
    *     penalty: none → 0
    *              l2   → W_j div (lambdaInv·etaInv·t)        (λ = 1/λInv)
    *              l1   → sign(W_j)·(scale div (lambdaInv·etaInv·t))
    *
    * All divisions truncate toward zero (BigInt here, HUGEINT `//` in
    * the oracle). The executor-side residual is guarded like
    * [[svmScaled]]'s margin: k·max|x|·max|W| + max|y|·scale must stay
    * below 2^62, re-checked against the actual weights every round since
    * GD (unlike Pegasos) carries no intrinsic ‖w‖ bound.
    *
    * Returns one row per weight (k, v) plus `_resid_abs_div_n`: the
    * mean absolute scaled residual (div n) under the final weights —
    * the convergence witness the gate hashes. */
  def gradientDescentScaled(features: DataFrame, yCol: String, xCols: Seq[String],
                            iters: Int, scale: Long = 1000000L,
                            etaInv: Long = 10000L, penalty: String = "none",
                            lambdaInv: Long = 1L): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(Set("none", "l2", "l1").contains(penalty),
      s"penalty must be none|l2|l1, got '$penalty'")
    val spark = features.sparkSession
    val f = features.select(
      (col(yCol).cast("long").as("y") +: xCols.map(c => col(c).cast("long").as(c))): _*)
      .cache()
    val n = f.count()
    require(n > 0, "gradientDescentScaled: empty feature frame")
    val boundsRow = f.agg(max(abs(col("y"))).as("y"),
      xCols.map(c => max(abs(col(c))).as(c)): _*).head()
    val maxY = math.max(1L, boundsRow.getLong(0))
    val maxX = math.max(1L, (1 to xCols.length).map(boundsRow.getLong).max)
    var w = xCols.map(_ => 0L).toArray

    def residCol(weights: Array[Long]): Column =
      xCols.zip(weights).map { case (c, wj) => col(c) * lit(wj) }
        .reduce(_ + _) - col("y") * lit(scale)

    def guard(weights: Array[Long], t: Int): Unit = {
      val maxW = math.max(1L, weights.map(math.abs).max)
      val bound = xCols.length.toDouble * maxX.toDouble * maxW.toDouble +
        maxY.toDouble * scale.toDouble
      require(bound < math.pow(2, 62),
        f"gradientDescentScaled: residual bound $bound%.3g at round $t risks " +
          "Long overflow; scale features down or raise etaInv")
    }

    for (t <- 1 to iters) {
      guard(w, t)
      val r = residCol(w)
      val gCols = xCols.map(c =>
        sum(col(c) * r.cast("decimal(38,0)")).as(c))
      val g = f.agg(gCols.head, gCols.tail: _*).head()
      w = w.zipWithIndex.map { case (wj, j) =>
        val gj = BigInt(g.getDecimal(j).toBigInteger)
        val pen = penalty match {
          case "none" => BigInt(0)
          case "l2" => BigInt(wj) / (lambdaInv * etaInv * t)
          case "l1" => BigInt(wj).signum * (BigInt(scale) / (lambdaInv * etaInv * t))
        }
        (BigInt(wj) - pen - gj / (BigInt(etaInv) * t * n)).toLong
      }
    }
    guard(w, iters + 1)
    val residAbs = BigInt(f.agg(sum(abs(residCol(w)).cast("decimal(38,0)")))
      .head().getDecimal(0).toBigInteger)
    f.unpersist()
    import spark.implicits._
    (xCols.zip(w) :+ ("_resid_abs_div_n" -> (residAbs / n).toLong)).toDF("k", "v")
  }

  // ------------------------------------------------------------- k-means

  /** [[kMeansScaled]] output: per-vector cell assignment and the final
    * quantized centroids. */
  final case class KMeansResult(assignments: DataFrame, centroids: DataFrame)

  /** Deterministic distributed Lloyd's k-means over quantized integer
    * vectors — the trainer behind the IVF/SemDeDup cluster partitioners
    * (Similarity.ivfTopK seeds from exactly this zero-iteration state).
    *
    * Exactness device (same family as pageRankScaled/svmScaled): each
    * float coordinate quantizes once to floor(v·scale) micro-units; the
    * assignment metric is the INTEGER squared Euclidean distance (ties to
    * the lower cell id; a distance that overflows Long throws), and the
    * centroid update is the per-dimension floor(sum/count) — every round
    * is engine-portable, so the whole trajectory hash-oracles. Initial
    * centroids: the k lowest-id vectors; an id that repeats among them is
    * rejected. A cell that loses all members drops out (k shrinks,
    * deterministic). Null and empty vectors take no part in a round, so a
    * dim-0 model keeps no cell.
    *
    * Shape (the reference's flink-examples-batch/.../clustering/
    * KMeans.java: centroids as a broadcast set, a plain per-point
    * `SelectNearestCenter` map; its bulk iteration runs every superstep
    * in one job): the model lives on the DRIVER as k×dim longs
    * ([[graft.functions.CentroidModel]]). One collect of the k lowest-id
    * rows seeds it; each Lloyd round is then ONE Spark job over the
    * cached input's internal rows, planned once for all rounds: every
    * partition assigns its points with the model's nearest-cell loop and
    * sums k member counts and k×dim quantized coordinates (`addExact`, so
    * a sum that overflows Long throws), and a depth-2 `treeReduce` merges
    * the partials. The driver takes in about √P partials of k + k·dim
    * longs (P = input partitions) and computes the next model. The final
    * assignment is one narrow projection (the native
    * [[graft.functions.NearestCentroidExpr]]) and `centroids` is a local
    * frame (cell_id in the id column's type, cvec array<bigint>). Driver
    * state is bounded by k·dim values (8 bytes each: 6 MB at k = 1024,
    * dim = 768) times √P during a merge, independent of the row count;
    * the model ships to tasks inside the plan, so k·dim must stay
    * broadcast-sized. Magnitude: the update sums |q| ≤ scale·max|v| per
    * member, so the double-floored division stays exact while
    * cell_members · scale · max|v| < 2^53 — ~9e9 members per cell at
    * unit-norm embeddings and scale 1e6.
    *
    * Lifetime: the input is cached once, as its (id, vector) projection,
    * so every round and `assignments` read one materialization of the
    * caller's lineage. `assignments` is a lazy projection of that cache,
    * so it is not unpersisted here: it stays cached until the caller
    * clears the session's cache (`spark.catalog.clearCache()`). */
  def kMeansScaled(df: DataFrame, idCol: String, vecCol: String,
                   k: Int, iters: Int, scale: Long = 1000000L): KMeansResult = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(iters >= 0, s"iters must be >= 0, got $iters")
    import graft.functions.NearestCentroidExpr
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.catalyst.CatalystTypeConverters
    import org.apache.spark.sql.types.{ArrayType, LongType, StructField, StructType}
    val spark = df.sparkSession
    val v = df.select(col(idCol).as("_id"), col(vecCol).cast("array<double>").as("_v"))
      .cache()
    val idType = v.schema("_id").dataType
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(idType)
    val seed = v.orderBy(col("_id")).limit(k).collect()
    require(seed.forall(r => !r.isNullAt(0) && !r.isNullAt(1)),
      s"kMeansScaled: null $idCol or $vecCol among the k lowest ids")
    val dim = if (seed.isEmpty) 0 else seed.head.getSeq[Double](1).length
    var ids: Array[Any] = seed.map(_.get(0))
    val repeated = ids.zip(ids.drop(1)).collectFirst { case (a, b) if a == b => a }
    require(repeated.isEmpty,
      s"kMeansScaled: $idCol ${repeated.orNull} repeats among the k lowest ids")
    var cents: Array[Long] = seed.flatMap { r =>
      val xs = r.getSeq[Double](1)
      require(xs.length == dim, s"kMeansScaled: seed vector ${r.get(0)} has " +
        s"${xs.length} coordinates, expected $dim")
      xs.map(CentroidModel.quantize(_, scale.toDouble))
    }
    def model = new CentroidModel(ids.map(toCatalyst), cents, dim, scale.toDouble)
    val points = v.queryExecution.toRdd
    for (_ <- 1 to iters if ids.nonEmpty) {
      val m = model
      val acc = points.mapPartitions(rows => Iterator(lloydPartial(m, rows)))
        .treeReduce(addExactInto)
      val n = ids.length
      val kept = ids.indices.filter(c => acc(c) > 0).toArray // memberless cells drop out
      cents = kept.flatMap(c => Array.tabulate(dim)(j =>
        math.floor(acc(n + c * dim + j).toDouble / acc(c).toDouble).toLong))
      ids = kept.map(ids)
    }
    val assignments =
      if (ids.isEmpty) v.select(col("_id").as(idCol), lit(null).cast(idType).as("cell_id"))
      else v.select(col("_id").as(idCol),
        NearestCentroidExpr(col("_v"), model, idType).as("cell_id"))
    val rows = ids.indices.map(c => Row(ids(c), cents.slice(c * dim, (c + 1) * dim).toSeq))
    val schema = StructType(Seq(StructField("cell_id", idType),
      StructField("cvec", ArrayType(LongType, containsNull = false), nullable = false)))
    KMeansResult(assignments,
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema))
  }

  /** One partition's Lloyd partial under `model`, over (_id, _v) rows: k
    * member counts, then k×dim `Math.addExact` sums of the members'
    * quantized coordinates. Null and empty vectors are skipped. */
  private def lloydPartial(model: CentroidModel, rows: Iterator[InternalRow]): Array[Long] = {
    val k = model.k
    val dim = model.dim
    val acc = new Array[Long](k + k * dim)
    rows.foreach { r =>
      val vec = if (r.isNullAt(1)) null else r.getArray(1)
      if (vec != null && vec.numElements() > 0) {
        val q = model.quantized(vec)
        val c = model.nearestIndex(q)
        acc(c) += 1
        val base = k + c * dim
        var j = 0
        while (j < dim) {
          acc(base + j) = Math.addExact(acc(base + j), q(j))
          j += 1
        }
      }
    }
    acc
  }

  /** Adds `b` into `a` elementwise (`Math.addExact`); returns `a`. */
  private def addExactInto(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < a.length) {
      a(i) = Math.addExact(a(i), b(i))
      i += 1
    }
    a
  }
}
