package graft

import graft.operators.Sketches
import org.apache.spark.sql.functions._

class SketchesSpec extends SparkSpec {
  import spark.implicits._

  test("hllDistinct: ~3% error at p=10 on 20k distinct; duplicate- and layout-invariant") {
    val n = 20000
    val base = spark.range(n).select(
      lit("g").as("grp"), concat(lit("value-"), $"id").as("v"))
    val est = Sketches.hllDistinct(base, Seq("grp"), "v", p = 10)
      .select($"hll_estimate").as[Double].head()
    // raw HLL std error = 1.04/sqrt(1024) ≈ 3.3%; allow 3 sigma
    assert(math.abs(est - n) / n < 0.10, s"estimate $est too far from $n")
    // multiplicity must not move a distinct sketch: 3 copies, same estimate
    val dup = base.union(base).union(base)
    val estDup = Sketches.hllDistinct(dup, Seq("grp"), "v", p = 10)
      .select($"hll_estimate").as[Double].head()
    assert(estDup === est)
    // partitioning must not move it either (register max is commutative)
    val estShuffled = Sketches.hllDistinct(base.repartition(17, $"v"), Seq("grp"), "v", p = 10)
      .select($"hll_estimate").as[Double].head()
    assert(estShuffled === est)
  }

  test("hllDistinct groups independently and reports zero registers") {
    val df = spark.range(300).select(
      when($"id" < 100, "a").otherwise("b").as("grp"),
      concat(lit("x"), $"id").as("v"))
    val got = Sketches.hllDistinct(df, Seq("grp"), "v", p = 6)
      .select($"grp", $"hll_estimate", $"zero_registers")
      .as[(String, Double, Long)].collect().map(r => r._1 -> r).toMap
    // group a holds 100 distinct, b 200 — the sketches must reflect that
    assert(got("a")._2 < got("b")._2)
    assert(got("a")._3 > got("b")._3) // fewer values -> more empty registers
    assert(got("a")._2 > 50 && got("a")._2 < 200)
    assert(got("b")._2 > 120 && got("b")._2 < 400)
  }

  test("hllMerge is lossless: merge(sketch(A), sketch(B)) == sketch(A union B)") {
    val a = spark.range(500).select(lit("g").as("grp"), concat(lit("a"), $"id").as("v"))
    val b = spark.range(300).select(lit("g").as("grp"), concat(lit("b"), $"id" % 200).as("v"))
    val merged = Sketches.hllMerge(
      Seq(Sketches.hllRegisters(a, Seq("grp"), "v", p = 8),
        Sketches.hllRegisters(b, Seq("grp"), "v", p = 8)), Seq("grp"))
    val direct = Sketches.hllRegisters(a.union(b), Seq("grp"), "v", p = 8)
    // register-for-register equality, both directions
    assert(merged.exceptAll(direct).isEmpty && direct.exceptAll(merged).isEmpty)
    // and therefore the same estimate
    val em = Sketches.hllEstimate(merged, Seq("grp"), 8).select($"hll_estimate").as[Double].head()
    val ed = Sketches.hllDistinct(a.union(b), Seq("grp"), "v", p = 8).select($"hll_estimate").as[Double].head()
    assert(em === ed)
  }

  test("hllWindowedDistinct on a batch frame equals per-window hllDistinct") {
    val df = spark.range(1000).select(
      timestamp_micros(($"id" % 8) * 3600L * 1000000L).as("ts"),
      concat(lit("u"), $"id" % 97).as("v"))
    val win = Sketches.hllWindowedDistinct(df, "ts", "2 hours", "v",
        p = 6, watermark = "0 seconds")
      .select(unix_micros($"window.start").as("ws"), $"hll_estimate", $"zero_registers")
    val direct = Sketches.hllDistinct(
        df.withColumn("ws", unix_micros(window($"ts", "2 hours").getField("start"))),
        Seq("ws"), "v", p = 6)
      .select($"ws", $"hll_estimate", $"zero_registers")
    assert(win.count() === 4)
    assert(win.exceptAll(direct).isEmpty && direct.exceptAll(win).isEmpty)
  }

  test("countMin: estimate >= true count for every key; exact when w clears the key space") {
    // zipf-ish: key j appears ceil(600/j) times, j in 1..80
    val df = spark.range(1, 81).select(explode(sequence(lit(1), (lit(600) / $"id").cast("int"))).as("rep"), concat(lit("k"), $"id").as("k"))
      .select($"k")
    val truth = df.groupBy($"k").agg(count(lit(1)).as("n"))
    val w = 64 // 80 keys into 64 buckets: collisions certain
    val est = Sketches.cmLookup(Sketches.countMin(df, "k", w, 3), truth, "k", w, 3)
    val joined = truth.join(est, "k").select($"n", $"cm_est").as[(Long, Long)].collect()
    assert(joined.length === 80)
    joined.foreach { case (n, e) => assert(e >= n, s"CM under-estimated: $e < $n") }
    // wide sketch: 4096 buckets for 80 keys -> overwhelmingly no collisions
    val wide = Sketches.cmLookup(Sketches.countMin(df, "k", 4096, 3), truth, "k", 4096, 3)
    val exact = truth.join(wide, "k").filter($"cm_est" =!= $"n").count()
    assert(exact === 0L, "d=3 min over 4096-wide rows should be collision-free here")
  }

  test("kmvSketch: bounded size, layout-invariant, and bottom-k merge is lossless") {
    val a = spark.range(2000).select(lit("g").as("grp"), concat(lit("x"), $"id").as("v"))
    val b = spark.range(1000, 2500).select(lit("g").as("grp"), concat(lit("x"), $"id").as("v"))
    val sa = Sketches.kmvSketch(a, Seq("grp"), "v", 64)
    assert(sa.count() === 64)
    val shuffled = Sketches.kmvSketch(a.repartition(7), Seq("grp"), "v", 64)
    assert(sa.exceptAll(shuffled).isEmpty && shuffled.exceptAll(sa).isEmpty)
    // merge(sketch(A), sketch(B)) == sketch(A union B), hash-for-hash
    val sb = Sketches.kmvSketch(b, Seq("grp"), "v", 64)
    val merged = Sketches.kmvBottomK(sa.unionByName(sb), Seq("grp"), 64)
    val direct = Sketches.kmvSketch(a.unionByName(b), Seq("grp"), "v", 64)
    assert(merged.exceptAll(direct).isEmpty && direct.exceptAll(merged).isEmpty)
  }

  test("kmvEstimate: exact below k; within the k=64 error regime on 2500 distinct") {
    val small = spark.range(40).select(lit("g").as("grp"), concat(lit("s"), $"id").as("v"))
    val es = Sketches.kmvEstimate(Sketches.kmvSketch(small, Seq("grp"), "v", 64), Seq("grp"), 64)
    assert(es.select($"kmv_estimate").as[Double].head() === 40.0)
    val big = spark.range(2500).select(lit("g").as("grp"), concat(lit("x"), $"id").as("v"))
    val eb = Sketches.kmvEstimate(Sketches.kmvSketch(big, Seq("grp"), "v", 64), Seq("grp"), 64)
      .select($"kmv_estimate").as[Double].head()
    assert(eb > 1700 && eb < 3500, s"estimate $eb implausible for 2500 distinct")
  }

  test("kmvPairEstimate approximates Jaccard: A=0..1999, B=1000..2999 -> J=1/3") {
    val a = spark.range(2000).select(lit("g").as("grp"), concat(lit("x"), $"id").as("v"))
    val b = spark.range(1000, 3000).select(lit("g").as("grp"), concat(lit("x"), $"id").as("v"))
    val est = Sketches.kmvPairEstimate(
      Sketches.kmvSketch(a, Seq("grp"), "v", 128),
      Sketches.kmvSketch(b, Seq("grp"), "v", 128), Seq("grp"), 128)
    val row = est.select($"kmv_jaccard", $"kmv_union_est", $"kmv_inter_est").head()
    assert(row.getDouble(0) > 0.18 && row.getDouble(0) < 0.5,
      s"jaccard est ${row.getDouble(0)} vs truth 0.333")
    assert(row.getDouble(1) > 2100 && row.getDouble(1) < 4200,
      s"union est ${row.getDouble(1)} vs truth 3000")
    assert(row.getDouble(2) > 420 && row.getDouble(2) < 2100,
      s"inter est ${row.getDouble(2)} vs truth 1000")
  }

  test("dyadicCover tiles every range exactly with aligned disjoint blocks") {
    val rng = new scala.util.Random(42)
    val cases = Seq((0L, 0L), (0L, 1023L), (1L, 1022L), (511L, 512L), (0L, 65535L)) ++
      (1 to 40).map { _ =>
        val a = rng.nextInt(65536).toLong; val b = rng.nextInt(65536).toLong
        (math.min(a, b), math.max(a, b))
      }
    cases.foreach { case (lo, hi) =>
      val cover = Sketches.dyadicCover(lo, hi, 16)
      assert(cover.size <= 32, s"[$lo,$hi]: ${cover.size} blocks")
      val blocks = cover.map { case (l, node) =>
        (node << l, (node << l) + (1L << l) - 1) }
      // aligned, in-range, disjoint, and summing to the full width
      blocks.foreach { case (a, b) => assert(a >= lo && b <= hi) }
      assert(blocks.map { case (a, b) => b - a + 1 }.sum === hi - lo + 1)
      assert(blocks.sortBy(_._1).sliding(2).forall {
        case Seq((_, b1), (a2, _)) => a2 == b1 + 1
        case _ => true
      })
    }
  }

  test("dyadicRangeCount: exact on a wide sketch, one-sided on a narrow one") {
    val df = spark.range(3000).select(($"id" % 500).as("v"))
    val ranges = Seq(("a", 0L, 99L), ("b", 100L, 499L), ("c", 250L, 250L),
      ("d", 0L, 1023L), ("e", 600L, 1000L))
    val truth = Map("a" -> 600L, "b" -> 2400L, "c" -> 6L, "d" -> 3000L, "e" -> 0L)
    val wide = Sketches.dyadicRangeCount(spark,
      Sketches.dyadicCountMin(df, "v", 10, 8192, 3), ranges, 10, 8192, 3)
      .as[(String, Long)].collect().toMap
    assert(wide === truth)
    val narrow = Sketches.dyadicRangeCount(spark,
      Sketches.dyadicCountMin(df, "v", 10, 32, 2), ranges, 10, 32, 2)
      .as[(String, Long)].collect().toMap
    truth.foreach { case (id, n) =>
      assert(narrow(id) >= n, s"range $id under-counted: ${narrow(id)} < $n") }
  }

  test("amsF2: within the d=32 error regime on a skewed stream; Z state is additive") {
    // key j appears j times, j in 1..60 -> F2 = sum j^2 = 73810, N = 1830
    val df = spark.range(1, 61).select(
      explode(sequence(lit(1), $"id".cast("int"))).as("rep"),
      concat(lit("k"), $"id").as("k"))
      .select(lit("g").as("grp"), $"k")
    val f2 = 73810.0
    val est = Sketches.amsF2(df, Seq("grp"), "k", d = 32)
      .select($"f2_est").as[Long].head().toDouble
    assert(est > f2 / 2.5 && est < f2 * 2.5, s"F2 est $est vs true $f2")
    // Z frames of disjoint halves add to the whole
    val h = df.limit(900)
    val t2 = df.exceptAll(h)
    val summed = Sketches.amsZ(h, Seq("grp"), "k", 16)
      .unionByName(Sketches.amsZ(t2, Seq("grp"), "k", 16))
      .groupBy($"grp", $"_j").agg(sum($"_z").as("_z"))
    val whole = Sketches.amsZ(df, Seq("grp"), "k", 16)
    assert(summed.exceptAll(whole).isEmpty && whole.exceptAll(summed).isEmpty)
  }

  test("countMin sketch is bounded by d*w rows, layout-invariant, and additive-mergeable") {
    val df = spark.range(5000).select(concat(lit("t"), $"id" % 300).as("k"))
    val sk = Sketches.countMin(df, "k", 256, 4)
    assert(sk.count() <= 4L * 256)
    val skShuffled = Sketches.countMin(df.repartition(13, $"k"), "k", 256, 4)
    assert(sk.exceptAll(skShuffled).isEmpty && skShuffled.exceptAll(sk).isEmpty)
    // counters add: sketch(A) + sketch(B) == sketch(A union B)
    val h = df.limit(2500)
    val t2 = df.exceptAll(h)
    val summed = Sketches.countMin(h, "k", 256, 4)
      .unionByName(Sketches.countMin(t2, "k", 256, 4))
      .groupBy($"cm_row", $"cm_bucket").agg(sum($"cm_cnt").as("cm_cnt"))
    assert(summed.exceptAll(sk).isEmpty && sk.exceptAll(summed).isEmpty)
  }

  test("dyadicHeavyHitters: guaranteed superset of true heavy hitters, one-sided estimates") {
    // key "big-j" appears 40+10j times (j in 0..4), plus 400 singletons
    val heavy = spark.range(5).select(
      explode(sequence(lit(1), lit(40) + $"id" * 10)).as("rep"),
      concat(lit("big-"), $"id").as("k"))
    val noise = spark.range(400).select(lit(0).as("rep"), concat(lit("one-"), $"id").as("k"))
    val df = heavy.unionByName(noise).select($"k")
    val got = Sketches.dyadicHeavyHitters(df, "k", bits = 12, w = 1024, d = 3,
      minCount = 45L)
      .select($"key", $"cm_est", $"true_cnt", $"is_heavy")
      .as[(String, Long, Long, Boolean)].collect()
    val byKey = got.map(r => r._1 -> r).toMap
    // every key with true count >= 45 must be reported (big-1..big-4)
    (1 to 4).foreach { j =>
      val r = byKey.getOrElse(s"big-$j", fail(s"true heavy hitter big-$j missing"))
      assert(r._3 === 40L + 10 * j && r._4, s"big-$j wrong: $r")
    }
    // one-sided: every reported estimate >= the exact count
    got.foreach { r => assert(r._2 >= r._3, s"under-estimate: $r") }
    // is_heavy is exactly the true-count threshold
    got.foreach { r => assert(r._4 === (r._3 >= 45L), s"is_heavy wrong: $r") }
  }

  test("dyadicHeavyHitters rejects a w or d its packed counter key cannot " +
    "hold, naming the value") {
    val df = spark.range(50).select(($"id" % 5).cast("string").as("k"))
    val w31 = 1 << 31 // 2^31 as an Int
    val ew = intercept[IllegalArgumentException](
      Sketches.dyadicHeavyHitters(df, "k", bits = 8, w = w31, d = 2, minCount = 1L))
    assert(ew.getMessage.contains("w must be in [2, 2^30]") &&
      ew.getMessage.contains(s"got $w31"), ew.getMessage)
    val ed = intercept[IllegalArgumentException](
      Sketches.dyadicHeavyHitters(df, "k", bits = 8, w = 64, d = 9, minCount = 1L))
    assert(ed.getMessage.contains("got 9"), ed.getMessage)
    // the bound itself still packs
    val top = Sketches.dyadicHeavyHitters(df, "k", bits = 8, w = 1 << 30, d = 2,
      minCount = 10L).select($"true_cnt").as[Long].collect()
    assert(top.toSeq.sorted === Seq.fill(5)(10L))
  }

  test("dyadicHeavyHitters descent equals the all-ancestors-pass characterization") {
    val df = spark.range(2000).select(concat(lit("u"), $"id" % 37).as("k"))
    val bits = 8
    val (w, d, t0) = (64, 2, 50L) // narrow: collisions force nontrivial pruning
    val got = Sketches.dyadicHeavyHitters(df, "k", bits, w, d, t0)
      .select($"hv").distinct().as[Long].collect().toSet
    // brute reformulation: leaf survives iff est(l, hv >> l) >= t0 for ALL l
    val hv = graft.functions.Fnv1a64Expr(
      graft.functions.Fnv1a64Expr($"k".cast("string")).cast("string"))
      .bitwiseAND(lit((1L << bits) - 1))
    val hashed = df.select(hv.as("hv"))
    val cnts = Sketches.dyadicLevelCounters(hashed, "hv", bits, w, d).collect()
      .map(r => (r.getAs[Int]("l"), r.getAs[Int]("cm_row"),
        r.getAs[Long]("cm_bucket")) -> r.getAs[Long]("cnt")).toMap
    // brute re-derivation of the probe arithmetic, JVM-side
    val brute = hashed.distinct().as[Long].collect().filter { leaf =>
      (0 until bits).forall { l =>
        val node = leaf >> l
        (0 until d).map { i =>
          val h = graft.functions.Hashes.fnv1a64(s"$i|$node")
          cnts.getOrElse((l, i, h & (w - 1).toLong), 0L)
        }.min >= t0
      }
    }.toSet
    assert(got === brute)
  }

  test("descent plans are barrier-free: exchange count does not grow with tree depth") {
    val df = spark.range(500).select(($"id" % 97).as("v"))
    // broadcast exchanges may scale with d x levels (tiny, and runtime
    // exchange reuse dedupes the identical per-row counter frames); what
    // must NOT grow is shuffle barriers — each probe step stays narrow
    def shuffles(plan: org.apache.spark.sql.DataFrame) =
      plan.queryExecution.executedPlan.toString.linesIterator
        .count(l => l.contains("Exchange") && !l.contains("Broadcast"))
    val shallow = shuffles(Sketches.dyadicQuantiles(df, "v", bits = 4, w = 256, d = 3, Seq(50)))
    val deep = shuffles(Sketches.dyadicQuantiles(df, "v", bits = 12, w = 256, d = 3, Seq(50)))
    assert(deep === shallow, s"descent grew shuffles: bits=4 -> $shallow, bits=12 -> $deep")
  }

  test("dyadicQuantiles: exact nearest-rank on a collision-free sketch; never late under collisions") {
    val df = spark.range(1000).select($"id".as("v")) // v = 0..999, rank(v) = v+1
    val pcts = Seq(10, 25, 50, 75, 99)
    val wide = Sketches.dyadicQuantiles(df, "v", bits = 10, w = 4096, d = 3, pcts)
      .select($"pct", $"target", $"q_est", $"est_rank")
      .as[(Int, Long, Long, Long)].collect()
    wide.foreach { case (p, target, q, er) =>
      assert(target === math.ceil(p * 1000 / 100.0).toLong)
      assert(q === target - 1, s"p$p: q_est $q != exact ${target - 1}") // rank v+1 -> v = target-1
      assert(er === target, s"p$p: est_rank $er != $target on an exact sketch")
    }
    val narrow = Sketches.dyadicQuantiles(df, "v", bits = 10, w = 32, d = 2, pcts)
      .select($"pct", $"target", $"q_est").as[(Int, Long, Long)].collect()
    narrow.foreach { case (p, target, q) =>
      assert(q <= target - 1, s"p$p: overcounts must bias EARLY, got $q > ${target - 1}")
    }
  }

  test("MisraGries: bounded size, recall guarantee under any split/merge tree") {
    import graft.functions.Aggregators.MisraGries
    val mg = MisraGries(5)
    // deterministic skewed stream: 'hot' 40%, 'warm' 20%, 40-key tail
    val stream = (0 until 1000).map { i =>
      if (i % 5 < 2) "hot" else if (i % 5 == 2) "warm" else s"t${i % 40}"
    }
    // sequential reduce: size bound holds at EVERY step
    val seqSum = stream.foldLeft(mg.zero) { (b, x) =>
      val nb = mg.reduce(b, x)
      assert(nb.size <= 5, s"buffer grew past k: $nb")
      nb
    }
    val n = stream.size
    val heavy = stream.groupBy(identity).view.mapValues(_.size)
      .filter { case (_, c) => c * 6 > n }.keySet
    assert(heavy === Set("hot", "warm"))
    assert(heavy.subsetOf(seqSum.keySet), s"sequential MG lost a heavy key: $seqSum")
    // arbitrary split points + pairwise merges (the partial-agg shape)
    for (splits <- Seq(Seq(100, 400), Seq(1, 999), Seq(250, 500, 750))) {
      val parts = (Seq(0) ++ splits ++ Seq(n)).sliding(2).map { case Seq(a, b) =>
        stream.slice(a, b).foldLeft(mg.zero)(mg.reduce)
      }.toSeq
      val merged = parts.reduce(mg.merge)
      assert(merged.size <= 5)
      assert(heavy.subsetOf(merged.keySet),
        s"merge tree $splits lost a heavy key: $merged")
      // undercount bound: estimate >= true - N/(k+1)
      merged.foreach { case (key, est) =>
        val truth = stream.count(_ == key)
        assert(est <= truth && est >= truth - n / 6,
          s"$key est $est outside [truth - N/6, truth] (truth $truth)")
      }
    }
  }
}
