package graft

import graft.operators.ML
import org.apache.spark.sql.functions._

/** Specs for the double-precision ML paths that have no SQL-expressible
  * oracle (the scaled-integer gate paths are hash-checked by qbu/qbv). */
class MLSpec extends SparkSpec {
  import spark.implicits._

  test("alsFit rank-2 recovers an exactly rank-2 rating matrix") {
    // ratings = U·Vᵀ for known rank-2 factors; a complete exact low-rank
    // matrix is recoverable, so predictions must converge to the data
    val users = (0 until 20).map(u => (u.toLong, 1.0 + (u % 5), 0.5 + (u % 3)))
    val items = (0 until 15).map(i => (i.toLong, 1.0 + (i % 4), 0.5 + (i % 2)))
    val ratings = for ((u, a, b) <- users; (i, c, d) <- items)
      yield (u, i, a * c + b * d)
    val df = ratings.toDF("u", "i", "r")
    val factors = ML.alsFit(df, "u", "i", "r", rank = 2, sweeps = 10, lambda = 1e-9)
    val rmse = ML.alsPredict(df, factors, "u", "i")
      .agg(sqrt(avg(pow(col("prediction") - col("r"), 2))))
      .head().getDouble(0)
    assert(rmse < 1e-3, s"rank-2 ALS should fit exact rank-2 data, rmse=$rmse")
  }

  test("alsFit higher rank also fits (regularized solve stays non-singular)") {
    val ratings = for (u <- 0 until 12; i <- 0 until 10)
      yield (u.toLong, i.toLong, (1.0 + u % 3) * (1.0 + i % 4))
    val df = ratings.toDF("u", "i", "r")
    val factors = ML.alsFit(df, "u", "i", "r", rank = 4, sweeps = 8, lambda = 1e-6)
    val rmse = ML.alsPredict(df, factors, "u", "i")
      .agg(sqrt(avg(pow(col("prediction") - col("r"), 2))))
      .head().getDouble(0)
    assert(rmse < 1e-2, s"rank-4 >= true rank, should still fit, rmse=$rmse")
  }

  test("alsRank1Scaled recovers rank-1 structure") {
    // exact rank-1 integer ratings: r = a_u * c_i
    val as = Map(1L -> 2L, 2L -> 3L, 3L -> 5L)
    val cs = Map(10L -> 4L, 11L -> 7L, 12L -> 2L)
    val df = (for ((u, a) <- as.toSeq; (i, c) <- cs.toSeq)
      yield (u, i, a * c)).toDF("u", "i", "r")
    val f = ML.alsRank1Scaled(df, "u", "i", "r", sweeps = 3)
    val uf = f.filter($"side" === "user").as[(String, Long, Long)].collect()
      .map(r => r._2 -> r._3).toMap
    val itf = f.filter($"side" === "item").as[(String, Long, Long)].collect()
      .map(r => r._2 -> r._3).toMap
    for ((u, a) <- as; (i, c) <- cs) {
      val pred = uf(u).toDouble * itf(i).toDouble / 1e8
      val err = math.abs(pred - a * c) / (a * c)
      assert(err < 0.01, s"u=$u i=$i pred=$pred want=${a * c}")
    }
  }

  test("alsRank2Scaled reconstructs an exactly rank-2 rating matrix") {
    // the qbx oracle proves engine replay; this proves the alternation
    // actually FITS: predictions from the scaled factors approach the
    // known rank-2 data
    val ratings = for (u <- 1L to 12L; i <- 1L to 10L)
      yield (u, i, (2 + u % 3) * (1 + i % 4) + (1 + u % 2) * (2 + i % 3))
    val df = ratings.toDF("u", "i", "r")
    val f = ML.alsRank2Scaled(df, "u", "i", "r", sweeps = 6)
    val uf = f.filter($"side" === "user").as[(String, Long, Long, Long)]
      .collect().map(r => r._2 -> (r._3, r._4)).toMap
    val itf = f.filter($"side" === "item").as[(String, Long, Long, Long)]
      .collect().map(r => r._2 -> (r._3, r._4)).toMap
    val errs = ratings.map { case (u, i, r) =>
      val pred = (uf(u)._1.toDouble * itf(i)._1 + uf(u)._2.toDouble * itf(i)._2) / 1e8
      math.abs(pred - r) / r
    }
    val meanErr = errs.sum / errs.size
    assert(meanErr < 0.05, s"rank-2 ALS should fit rank-2 data, mean rel err $meanErr")
  }

  test("svmScaled separates linearly separable data") {
    // y = sign(x - 5) with a margin gap: a correct (w_x, w_b) exists
    val rows = (0 to 10).filter(_ != 5)
      .map(x => (if (x >= 6) 1L else -1L, 1L, x.toLong))
    val df = rows.toDF("y", "b", "x")
    // λ = 1/100: small enough that the hinge term dominates and the
    // optimum actually separates (λ = 1 over-regularizes a unit-margin
    // boundary at |w| ~ 2)
    val w = ML.svmScaled(df, "y", Seq("b", "x"), iters = 50, lambdaInv = 100L)
      .as[(String, Long)].collect().toMap
    val weights = Map("b" -> w("b"), "x" -> w("x"))
    val acc = df.withColumn("p", ML.svmPredict(weights))
      .filter($"p" === $"y").count().toDouble / rows.size
    assert(acc == 1.0, s"separable data must classify perfectly, acc=$acc, w=$w")
  }

  test("svmScaled violation count decreases vs the all-violating start") {
    val rows = (0 to 10).filter(_ != 5)
      .map(x => (if (x >= 6) 1L else -1L, 1L, x.toLong))
    val df = rows.toDF("y", "b", "x")
    val viol = ML.svmScaled(df, "y", Seq("b", "x"), iters = 50, lambdaInv = 100L)
      .filter($"k" === "_violations").head().getLong(1)
    assert(viol < rows.size, "training must reduce hinge violations below n")
  }

  test("gradientDescentScaled matches an independent BigInt replay for every penalty") {
    val rows = Seq((1L, 2L, 7L), (1L, 5L, 16L), (1L, 9L, 28L), (1L, 3L, 10L))
    val df = rows.toDF("b", "x", "y")
    val scale = 1000000L; val etaInv = 10L; val lambdaInv = 2L; val iters = 5
    val n = rows.size
    for (penalty <- Seq("none", "l2", "l1")) {
      // straight-line BigInt reimplementation of the documented update
      var w = Array(BigInt(0), BigInt(0))
      for (t <- 1 to iters) {
        val g = Array(BigInt(0), BigInt(0))
        rows.foreach { case (b, x, y) =>
          val r = b * w(0) + x * w(1) - BigInt(y) * scale
          g(0) += b * r; g(1) += x * r
        }
        w = w.zipWithIndex.map { case (wj, j) =>
          val pen = penalty match {
            case "none" => BigInt(0)
            case "l2" => wj / (lambdaInv * etaInv * t)
            case "l1" => BigInt(wj.signum) * (BigInt(scale) / (lambdaInv * etaInv * t))
          }
          wj - pen - g(j) / (BigInt(etaInv) * t * n)
        }
      }
      val got = ML.gradientDescentScaled(df, "y", Seq("b", "x"), iters,
        scale, etaInv, penalty, lambdaInv)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got("b") === w(0).toLong && got("x") === w(1).toLong,
        s"penalty=$penalty diverged from the replay")
      // y ~= 3x + 1: the slope weight must head toward 3·scale
      assert(got("x") > 2 * scale && got("x") < 4 * scale, s"penalty=$penalty slope off")
    }
    // the three penalties produce distinct trajectories on this fixture
    val ws = Seq("none", "l2", "l1").map(p =>
      ML.gradientDescentScaled(df, "y", Seq("b", "x"), iters, scale, etaInv, p, lambdaInv)
        .filter($"k" === "x").head().getLong(1))
    assert(ws.distinct.size === 3)
  }

  test("gradientDescentScaled guards the residual bound against Long overflow") {
    val df = Seq((1L, 1L << 40, 5L)).toDF("b", "x", "y")
    val e = intercept[IllegalArgumentException](
      ML.gradientDescentScaled(df, "y", Seq("b", "x"), iters = 3, etaInv = 1L))
    assert(e.getMessage.contains("residual bound"))
  }

  test("kMeansScaled recovers planted clusters and tightens centroids over rounds") {
    // three tight planted clusters; the first three ids land in DIFFERENT
    // clusters so the lowest-id init starts with one seed per true cluster
    val centers = Seq(Seq(10f, 0f, 0f), Seq(0f, 10f, 0f), Seq(0f, 0f, 10f))
    val rnd = new scala.util.Random(7)
    val vecs = (0 until 30).map { i =>
      val c = centers(i % 3)
      (i.toLong, c.map(v => v + (rnd.nextFloat() - 0.5f) * 0.2f))
    }
    val df = vecs.toDF("vec_id", "embedding")
    val r = ML.kMeansScaled(df, "vec_id", "embedding", k = 3, iters = 2)
    val got = r.assignments.as[(Long, Long)].collect().toMap
    // every member of a planted cluster shares its seed's cell
    assert((0 until 30).forall(i => got(i.toLong) === got((i % 3).toLong)))
    assert(got.values.toSet.size === 3)
    // after two rounds each centroid sits within quantization noise of its
    // planted center (init was a single sample; the mean is much closer)
    val cents = r.centroids.as[(Long, Seq[Long])].collect().toMap
    centers.zipWithIndex.foreach { case (c, i) =>
      val cv = cents(got(i.toLong))
      c.zip(cv).foreach { case (exp, gotQ) =>
        assert(math.abs(gotQ / 1e6 - exp) < 0.1, s"centroid $i drifted: $cv")
      }
    }
    // a dead seed drops out: two identical far points + one lone seed that
    // captures everything leaves the dead cell without members
    val degen = Seq((0L, Seq(0f, 0f)), (1L, Seq(0.001f, 0f)), (2L, Seq(0.001f, 0.001f)))
      .toDF("vec_id", "embedding")
    val r2 = ML.kMeansScaled(degen, "vec_id", "embedding", k = 2, iters = 2)
    assert(r2.assignments.select("cell_id").as[Long].collect().toSet.size <= 2)
  }

  /** The DataFrame formulation kMeansScaled had before its native
    * nearest-centroid kernel — the reference the kernel path must equal
    * row for row: crossJoin against the broadcast centroids, an
    * aggregate(zip_with) squared distance, a min(struct) argmin (ties to
    * the lower cell id) and a (cell_id, pos) floor(sum/count) update. */
  private def kMeansReference(df: org.apache.spark.sql.DataFrame, idCol: String,
                              vecCol: String, k: Int, iters: Int,
                              scale: Long = 1000000L): ML.KMeansResult = {
    val q = df.select(col(idCol).as("_id"),
        transform(col(vecCol), x => floor(x.cast("double") * scale).cast("long")).as("qv"))
      .cache()
    var cents = q.orderBy(col("_id")).limit(k)
      .select(col("_id").as("cell_id"), col("qv").as("cvec"))
    def assign(cs: org.apache.spark.sql.DataFrame) =
      q.crossJoin(broadcast(cs))
        .withColumn("dist", aggregate(
          zip_with(col("qv"), col("cvec"), (a, b) => (a - b) * (a - b)),
          lit(0L), (acc, x) => acc + x))
        .groupBy(col("_id"))
        .agg(min(struct(col("dist"), col("cell_id"), col("qv"))).as("m"))
        .select(col("_id"), col("m.qv").as("qv"), col("m.cell_id").as("cell_id"))
    for (_ <- 1 to iters) {
      cents = assign(cents)
        .select(col("cell_id"), posexplode(col("qv")))
        .groupBy("cell_id", "pos")
        .agg(floor(sum(col("col")).cast("double") / count(lit(1))).cast("long").as("v"))
        .groupBy("cell_id")
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("v")))),
          x => x.getField("v")).as("cvec"))
        .localCheckpoint()
    }
    val fin = assign(cents)
    ML.KMeansResult(fin.select(col("_id").as(idCol), col("cell_id")), cents)
  }

  /** Rows as comparable lists (arrays as lists), sorted, plus the
    * column names and types (nullability aside). */
  private def canon(df: org.apache.spark.sql.DataFrame) = (
    df.schema.map(f => f.name -> f.dataType.simpleString),
    df.collect().toSeq.map(_.toSeq.map {
      case a: scala.collection.Seq[_] => a.toList
      case x => x
    }).sortBy(_.toString))

  private def assertSameKMeans(df: org.apache.spark.sql.DataFrame, k: Int,
                               iters: Int, clue: String): Unit = {
    val got = ML.kMeansScaled(df, "vec_id", "embedding", k, iters)
    val ref = kMeansReference(df, "vec_id", "embedding", k, iters)
    assert(canon(got.assignments) === canon(ref.assignments), s"$clue assignments")
    assert(canon(got.centroids) === canon(ref.centroids), s"$clue centroids")
  }

  test("kMeansScaled equals the crossJoin/argmin DataFrame formulation: " +
    "seeded fuzz over k, iters, ties, empty cells, negative coordinates " +
    "and int/long ids") {
    val rnd = new scala.util.Random(20261017)
    // coordinates on a coarse grid (many exact distance ties) and signed
    def vec(dim: Int) = Seq.fill(dim)((rnd.nextInt(9) - 4) * 0.25f)
    def rdd(rows: Seq[(Long, Seq[Float])]) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 3)).toDF("vec_id", "embedding")
    for (round <- 0 until 3; k <- Seq(1, 3, 16); iters <- Seq(0, 1, 3)) {
      val dim = 2 + round
      val rows = rnd.shuffle((0 until 40).map(i => (i.toLong * 3 - 7, vec(dim))))
      assertSameKMeans(rdd(rows), k, iters, s"fuzz round $round k=$k iters=$iters")
    }
    // k > rows: every row seeds its own cell
    assertSameKMeans(rdd((0 until 5).map(i => (i.toLong, vec(3)))), 16, 2, "k > rows")
    // duplicate seeds: cells 0 and 1 sit on the same point, so every
    // distance ties and cell 0 takes them all; cell 1 loses all members
    val dup = Seq(0L -> Seq(1f, 1f), 1L -> Seq(1f, 1f), 2L -> Seq(-3f, 2f)) ++
      (3 until 20).map(i => (i.toLong, vec(2)))
    assertSameKMeans(rdd(dup), 3, 2, "duplicate seeds")
    val dupFit = ML.kMeansScaled(rdd(dup), "vec_id", "embedding", 3, 1)
    assert(!dupFit.centroids.select("cell_id").as[Long].collect().contains(1L),
      "a cell with no members must drop out")
    // int ids: cell_id keeps the id column's type
    val ints = spark.createDataFrame(spark.sparkContext.parallelize(
      (0 until 30).map(i => (i * 2 + 1, vec(3))), 2)).toDF("vec_id", "embedding")
    for (iters <- Seq(0, 2)) assertSameKMeans(ints, 4, iters, s"int ids iters=$iters")
    assert(ML.kMeansScaled(ints, "vec_id", "embedding", 4, 1)
      .centroids.schema("cell_id").dataType === org.apache.spark.sql.types.IntegerType)
  }

  test("kMeansScaled differential: a dim-0 model keeps no cell after a " +
    "round; a seed id that repeats among the k lowest is rejected by name") {
    val dim0 = spark.createDataFrame(spark.sparkContext.parallelize(
      (0 until 6).map(i => (i.toLong, Seq.empty[Float])), 2)).toDF("vec_id", "embedding")
    assertSameKMeans(dim0, 2, 0, "dim 0, iters 0")
    val fit = ML.kMeansScaled(dim0, "vec_id", "embedding", 2, 1)
    val ref = kMeansReference(dim0, "vec_id", "embedding", 2, 1)
    assert(canon(fit.centroids) === canon(ref.centroids), "dim 0 centroids")
    assert(fit.centroids.count() === 0L)
    assert(fit.assignments.where(col("cell_id").isNotNull).count() === 0L)
    assert(fit.assignments.count() === 6L)
    // ids 4 and 9 repeat, but only 4 is among the 3 lowest
    val rows = Seq(4L -> Seq(1f, 0f), 4L -> Seq(0f, 1f), 2L -> Seq(1f, 1f),
      9L -> Seq(2f, 2f), 9L -> Seq(3f, 3f))
    val rep = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2))
      .toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException](
      ML.kMeansScaled(rep, "vec_id", "embedding", 3, 2))
    assert(e.getMessage.contains("vec_id 4 repeats"), e.getMessage)
    assert(ML.kMeansScaled(rep, "vec_id", "embedding", 2, 2).centroids.count() > 0)
  }

  test("kMeansScaled runs each Lloyd round as one job over one " +
    "materialization of its input") {
    val rnd = new scala.util.Random(11)
    val rows = (0 until 60).map(i => (i.toLong, Seq.fill(4)(rnd.nextInt(9) - 4f)))
    val evaluated = spark.sparkContext.longAccumulator("kmeans-input-rows")
    val counted = spark.sparkContext.parallelize(rows, 4).map { r => evaluated.add(1); r }
    val df = spark.createDataFrame(counted).toDF("vec_id", "embedding")
    var fit: ML.KMeansResult = null
    // one seed collect, then one job per round
    assert(SparkSpec.jobsOf(spark) { fit = ML.kMeansScaled(df, "vec_id", "embedding", 5, 3) } === 4)
    val got = (canon(fit.assignments), canon(fit.centroids))
    // the rounds and the assignment read the cached input's rows
    assert(evaluated.value === 60L)
    val ref = kMeansReference(df, "vec_id", "embedding", 5, 3)
    assert(got === ((canon(ref.assignments), canon(ref.centroids))))
  }

  test("kMeansScaled: a squared distance that overflows Long throws, " +
    "never wraps") {
    // 3e12 · 1e6 = 3e18 micro-units; the difference 6e18 squares past 2^63
    val df = Seq((0L, Seq(3e12)), (1L, Seq(-3e12)), (2L, Seq(0.0)))
      .toDF("vec_id", "embedding")
    def chain(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(_.toString).mkString(" <- ")
    val e1 = intercept[Exception](ML.kMeansScaled(df, "vec_id", "embedding", 1, 1))
    assert(chain(e1).contains("overflow"), chain(e1))
    val e2 = intercept[Exception](
      ML.kMeansScaled(df, "vec_id", "embedding", 1, 0).assignments.collect())
    assert(chain(e2).contains("overflow"), chain(e2))
    // two members at the seed itself (distance 0) whose quantized
    // coordinates saturate to Long.MaxValue: the update's sum overflows
    val sat = Seq((0L, Seq(1e13)), (1L, Seq(1e13))).toDF("vec_id", "embedding")
    val e3 = intercept[Exception](ML.kMeansScaled(sat, "vec_id", "embedding", 1, 1))
    assert(chain(e3).contains("overflow"), chain(e3))
  }

  test("NearestCentroidExpr: interpreted eval equals the kernel, ties go " +
    "to the lower cell, ragged vectors are rejected") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType}
    val model = new graft.functions.CentroidModel(Array[Any](5L, 9L, 11L),
      Array(0L, 0L, 2000000L, 0L, 1000000L, 0L), dim = 2, scale = 1e6)
    def at(xs: Double*) = graft.functions.NearestCentroidExpr(
      Literal.create(new GenericArrayData(xs.toArray[Any]), ArrayType(DoubleType)),
      model, LongType).eval()
    assert(at(0.1, 0.0) === 5L)
    assert(at(0.5, 0.0) === 5L) // equidistant from cells 5 and 11
    assert(at(1.5, 0.0) === 9L) // equidistant from cells 9 and 11
    assert(at(1.2, -4.0) === 11L)
    intercept[IllegalArgumentException](at(1.0))
  }
}
