package graft

import graft.operators.{DataSelection, TextPipeline}
import org.apache.spark.sql.functions._

/** DSIR-style importance selection (operators/DataSelection.scala) and
  * the periodic-repetition trim (TextPipeline.trimPeriodicRepeats):
  * hand-computed ilr laws, ranking behavior, trim edge cases, and a
  * brute-force differential fuzz of the trim rule. */
class DataSelectionSpec extends SparkSpec {
  import spark.implicits._

  // ---- DSIR --------------------------------------------------------------

  test("dsirIlrTable: hand-computed add-one-smoothed scaled ratios") {
    // target doc: "aa aa bb"; raw doc: "bb bb cc" — B = 4 buckets
    val docs = Seq((1L, "aa aa bb", true), (2L, "bb bb cc", false))
      .toDF("id", "text", "is_t")
    val b = 4
    val table = DataSelection.dsirIlrTable(docs, "text", col("is_t"), b)
    assert(table.size === b)
    // recompute from first principles with the same hash
    def bucket(t: String): Int = {
      val h = graft.functions.Hashes.fnv1a64(t)
      (((h % b) + b) % b).toInt
    }
    val tCounts = Seq("aa", "aa", "bb").groupBy(bucket).map { case (k, v) => k -> v.size.toLong }
    val rCounts = Seq("bb", "bb", "cc").groupBy(bucket).map { case (k, v) => k -> v.size.toLong }
    val (totT, totR) = (3L + b, 3L + b)
    (0 until b).foreach { bk =>
      val want = (BigInt(tCounts.getOrElse(bk, 0L) + 1) * totR * 1000000L /
        (BigInt(rCounts.getOrElse(bk, 0L) + 1) * totT)).toLong
      assert(table(bk) === want, s"bucket $bk")
    }
  }

  test("dsirSelect ranks target-vocabulary raw docs first; zero-token docs excluded") {
    val target = (1L to 6L).map(i => (i, "alpha beta gamma delta", true))
    val raw = Seq(
      (101L, "alpha beta alpha gamma", false), // pure target vocab
      (102L, "zig zag zig zag", false),        // disjoint vocab
      (103L, "alpha zig beta zag", false),     // mixed
      (104L, "   ", false))                    // zero tokens
    val docs = (target ++ raw).toDF("id", "text", "is_t")
    val out = DataSelection.dsirSelect(docs, "id", "text", col("is_t"),
      buckets = 64, k = 10)
    val ids = out.orderBy(desc("avg_ilr"), col("id")).select("id").as[Long].collect().toSeq
    assert(ids === Seq(101L, 103L, 102L)) // target-like > mixed > disjoint
    assert(!ids.contains(104L))
    // target rows never appear in the selection
    assert(ids.forall(_ > 100L))
    // score is the sum of per-token ilr entries — replay one doc by hand
    val table = DataSelection.dsirIlrTable(docs, "text", col("is_t"), 64)
    def bucket(t: String): Int = {
      val h = graft.functions.Hashes.fnv1a64(t)
      (((h % 64) + 64) % 64).toInt
    }
    val want101 = Seq("alpha", "beta", "alpha", "gamma").map(t => table(bucket(t))).sum
    val got101 = out.filter($"id" === 101L).select("score").as[Long].head()
    assert(got101 === want101)
  }

  test("dsirSelect rejects non-power-of-two bucket counts") {
    val docs = Seq((1L, "a", true), (2L, "b", false)).toDF("id", "text", "is_t")
    intercept[IllegalArgumentException] {
      DataSelection.dsirSelect(docs, "id", "text", col("is_t"), buckets = 100)
    }
  }

  test("clusterBalancedSelect: per-cell quota, contiguous ranks, " +
    "consistent with the k-means assignment") {
    val rnd = new scala.util.Random(5)
    // 4 separated clusters, uneven sizes (30/20/10/4)
    val centers = Array(Array(10f, 0f), Array(0f, 10f), Array(-10f, 0f), Array(0f, -10f))
    val sizes = Seq(30, 20, 10, 4)
    // interleaved ids: the 4 lowest ids (j = 0) land one per cluster, so
    // the lowest-id k-means init seeds every cluster
    val vecs = sizes.zipWithIndex.flatMap { case (sz, c) =>
      (0 until sz).map { j =>
        val id = (j * 10 + c).toLong
        (id, centers(c).map(x => x + rnd.nextGaussian().toFloat * 0.2f).toSeq)
      }
    }
    val df = vecs.toDF("vec_id", "embedding")
    val out = graft.operators.DataSelection.clusterBalancedSelect(
      df, "vec_id", "embedding", k = 4, iters = 2, perCell = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val byCell = out.groupBy(_._2)
    // quota respected; ranks contiguous from 1; the 4-member cell yields 4
    byCell.values.foreach { rows =>
      assert(rows.length <= 6)
      assert(rows.map(_._3).sorted.toSeq === (1L to rows.length).toSeq)
    }
    assert(byCell.values.map(_.length).toSeq.sorted === Seq(4, 6, 6, 6))
    // membership agrees with the trainer's own assignment
    val asg = graft.operators.ML.kMeansScaled(df, "vec_id", "embedding",
      k = 4, iters = 2).assignments
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    out.foreach { case (id, cell, _) => assert(asg(id) === cell) }
  }

  // ---- prefix scan + sequence packing -------------------------------------

  test("prototypePrune drops the ceil-fraction most-prototypical per cell " +
    "(highest centroid cosine), keeps the tail; dropFrac bounds enforced") {
    // cell 0 centroid = vec 0: vecs 2,3,5 at increasing angle; dropFrac
    // 0.5 on the 4-member cell drops ceil(2) = the centroid itself and
    // the closest member
    val vecs = Seq(
      (0L, Seq(1f, 0f)), (1L, Seq(0f, 1f)),
      (2L, Seq(0.95f, 0.05f)), (3L, Seq(0.8f, 0.2f)), (5L, Seq(0.6f, 0.4f)),
      (4L, Seq(0.1f, 0.9f))).toDF("vec_id", "embedding")
    val got = DataSelection.prototypePrune(vecs, "vec_id", "embedding",
        nCells = 2, dropFrac = 0.5)
      .select("vec_id", "cell_id", "proto_rank", "is_kept")
      .as[(Long, Long, Long, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // cell 0 = {0, 2, 3, 5} ranked 0 > 2 > 3 > 5 by centroid cosine;
    // ceil(0.5·4) = 2 → 0 and 2 drop, 3 and 5 keep
    assert(got(0L) === ((0L, 1L, false)))
    assert(got(2L) === ((0L, 2L, false)))
    assert(got(3L) === ((0L, 3L, true)))
    assert(got(5L) === ((0L, 4L, true)))
    // cell 1 = {1, 4}: ceil(0.5·2) = 1 → the centroid drops, 4 keeps
    assert(got(1L) === ((1L, 1L, false)))
    assert(got(4L) === ((1L, 2L, true)))
    // dropFrac = 0 keeps everything; the Lloyd path agrees on shape
    val all = DataSelection.prototypePrune(vecs, "vec_id", "embedding",
        nCells = 2, dropFrac = 0.0, refineIters = 1)
      .select("is_kept").as[Boolean].collect()
    assert(all.forall(identity))
    intercept[IllegalArgumentException] {
      DataSelection.prototypePrune(vecs, "vec_id", "embedding", 2, 1.5)
    }
  }

  test("prefixSum equals the single-task window reference on randomized input") {
    val rnd = new scala.util.Random(17)
    val rows = (0 until 500).map(i => (i.toLong * 3 + 1, rnd.nextInt(40).toLong))
    val df = rnd.shuffle(rows).toDF("id", "v").repartition(7) // layout-scrambled
    // round 20: prefixSum carries ALL input columns + outCol (off is
    // appended last) — read by name, and the payload column rides along
    val got = graft.operators.Partitioning.prefixSum(df, "id", "v", "off")
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("off")).toMap
    var acc = 0L
    rows.sortBy(_._1).foreach { case (id, v) =>
      assert(got(id) === acc, s"id=$id"); acc += v
    }
    assert(got.size === rows.size)
  }

  test("prefixSum rejects an input column named like its internal or output column") {
    val df = Seq((1L, 2L, 5L), (2L, 3L, 6L)).toDF("id", "v", "w")
    for ((clashing, outCol) <- Seq("_psv" -> "off", "_PSV" -> "off", "off" -> "off")) {
      val err = intercept[IllegalArgumentException] {
        graft.operators.Partitioning.prefixSum(df.withColumnRenamed("w", clashing),
          "id", "v", outCol)
      }
      assert(err.getMessage.contains(s"'$clashing'"), err.getMessage)
    }
  }

  test("groupedRank equals the group-keyed window reference, including a " +
    "dominant group spanning partitions") {
    val rnd = new scala.util.Random(23)
    // group "big" holds 400 of 460 rows — the one-language shape the
    // two-phase scan exists for; ranks must still match the window form
    val rows = (0 until 460).map { i =>
      val g = if (i < 400) "big" else s"g${i % 7}"
      (i.toLong, g, rnd.nextInt(50))
    }
    val df = rnd.shuffle(rows).toDF("id", "grp", "score").repartition(9)
    val got = graft.operators.Partitioning
      .groupedRank(df, "grp", Seq(col("score").desc, col("id").asc), "rk", 5)
      .select("id", "rk").as[(Long, Long)].collect().toMap
    val want = rows.groupBy(_._2).flatMap { case (_, rs) =>
      rs.sortBy(r => (-r._3, r._1)).zipWithIndex.map {
        case ((id, _, _), i) => id -> (i + 1L)
      }
    }
    assert(got.size === rows.size)
    want.foreach { case (id, rk) => assert(got(id) === rk, s"id=$id") }
  }

  test("groupedRankAdaptive routes by group cardinality — window for many " +
    "small groups, two-phase scan for few, split for mixed — and every " +
    "route equals the window reference") {
    val rnd = new scala.util.Random(29)
    def reference(rows: Seq[(Long, String, Int)]): Map[Long, Long] =
      rows.groupBy(_._2).flatMap { case (_, rs) =>
        rs.sortBy(r => (-r._3, r._1)).zipWithIndex.map {
          case ((id, _, _), i) => id -> (i + 1L)
        }
      }
    def run(rows: Seq[(Long, String, Int)], maxG: Long) = {
      val df = rnd.shuffle(rows).toDF("id", "grp", "score").repartition(9)
      val out = graft.operators.Partitioning.groupedRankAdaptive(
        df, "grp", Seq(col("score").desc, col("id").asc), "rk",
        partitions = 5, maxDriverGroups = maxG)
      (out.select("id", "rk").as[(Long, Long)].collect().toMap,
        out.queryExecution.optimizedPlan.toString)
    }
    // MANY SMALL groups above the driver cap, none heavy: must take the
    // hash-partitioned window (zero driver state), never the rank scan
    val small = (0 until 460).map(i => (i.toLong, s"g${i % 46}", rnd.nextInt(50)))
    val (gotSmall, planSmall) = run(small, maxG = 8)
    assert(planSmall.contains("Window"),
      s"G=46 > maxDriverGroups=8 with no heavy group must route to the window:\n$planSmall")
    assert(gotSmall === reference(small))
    // FEW groups (under the cap), one dominant: the pure two-phase scan —
    // plan is the materialized RDD, no window anywhere
    val dom = (0 until 460).map { i =>
      (i.toLong, if (i < 400) "big" else s"g${i % 7}", rnd.nextInt(50))
    }
    val (gotDom, planDom) = run(dom, maxG = 1L << 17)
    assert(!planDom.contains("Window"),
      s"G=8 under the cap must take groupedRank verbatim:\n$planDom")
    assert(gotDom === reference(dom))
    // MIXED above the cap: the dominant group (400 of 460 rows >= n/p=92)
    // takes the scan, the 30 light groups take the window, unioned
    val mixed = (0 until 460).map { i =>
      (i.toLong, if (i < 400) "big" else s"g${i % 30}", rnd.nextInt(50))
    }
    val (gotMixed, planMixed) = run(mixed, maxG = 8)
    assert(planMixed.contains("Window") && planMixed.contains("Union"),
      s"mixed regime must union the heavy scan with the light window:\n$planMixed")
    assert(gotMixed === reference(mixed))
  }

  test("groupedRankAdaptive differential fuzz: random group structures × " +
    "random thresholds all equal the window reference") {
    val rnd = new scala.util.Random(41)
    (0 until 6).foreach { trial =>
      val nGroups = 1 + rnd.nextInt(40)
      val rows = (0 until 300).map { i =>
        // mix of skew shapes: zipf-ish for odd trials, uniform for even
        val g = if (trial % 2 == 1) s"g${(math.sqrt(rnd.nextInt(nGroups * nGroups))).toInt}"
          else s"g${rnd.nextInt(nGroups)}"
        (i.toLong, g, rnd.nextInt(25))
      }
      val maxG = rnd.nextInt(3) match {
        case 0 => 1L           // always above: window or split path
        case 1 => 8L           // sometimes above
        case _ => 1L << 17     // never above: pure groupedRank
      }
      val df = rnd.shuffle(rows).toDF("id", "grp", "score")
        .repartition(1 + rnd.nextInt(8))
      val got = graft.operators.Partitioning.groupedRankAdaptive(
          df, "grp", Seq(col("score").desc, col("id").asc), "rk",
          partitions = 1 + rnd.nextInt(6), maxDriverGroups = maxG)
        .select("id", "rk").as[(Long, Long)].collect().toMap
      val want = rows.groupBy(_._2).flatMap { case (_, rs) =>
        rs.sortBy(r => (-r._3, r._1)).zipWithIndex.map {
          case ((id, _, _), i) => id -> (i + 1L)
        }
      }
      assert(got.size === rows.size, s"trial=$trial maxG=$maxG")
      want.foreach { case (id, rk) =>
        assert(got(id) === rk, s"trial=$trial maxG=$maxG id=$id")
      }
    }
  }

  test("doremiWeightsScaled matches an independent BigInt replay and " +
    "tilts weight toward the high-excess domain") {
    // domain A carries 4x the excess loss of B; C sits between
    val rows = Seq(
      ("A", 800L, 0L), ("A", 400L, 0L), ("B", 100L, 0L), ("C", 300L, 0L),
      ("A", 600L, 1L), ("B", 200L, 1L), ("B", 0L, 1L), ("C", 250L, 1L),
      ("A", 900L, 2L), ("C", 350L, 2L))
    val df = rows.toDF("dom", "excess", "step")
    val got = graft.operators.Sampling
      .doremiWeightsScaled(df, "dom", "excess", "step", steps = 3,
        etaMilli = 500, smoothMilli = 100)
      .as[(String, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    // independent replay of the documented integer trajectory
    val doms = Seq("A", "B", "C")
    val S = BigInt(1000000000); val uniform = S / 3
    val lam = rows.groupBy(r => (r._3, r._1)).map { case (k, rs) =>
      k -> (rs.map(_._2).sum / rs.size).min(1000000L)
    }
    var w = doms.map(_ -> uniform).toMap
    val acc = scala.collection.mutable.Map(doms.map(_ -> BigInt(0)): _*)
    (0L until 3).foreach { t =>
      val wp = doms.map(g => g ->
        w(g) * (1000L + 500L * lam.getOrElse((t, g), 0L) / 1000L) / 1000)
      val tot = wp.map(_._2).sum
      w = wp.map { case (g, v) =>
        g -> (BigInt(900) * (v * S / tot) / 1000 + BigInt(100) * uniform / 1000)
      }.toMap
      doms.foreach(g => acc(g) += w(g))
    }
    doms.foreach { g =>
      assert(got(g) === (((acc(g) / 3).toLong, w(g).toLong)), s"domain $g")
    }
    // ordering by excess: A > C > B; the mixture must reflect it
    assert(got("A")._2 > got("C")._2 && got("C")._2 > got("B")._2)
    assert(got("A")._2 > 333333333L && got("B")._2 < 333333333L)
  }

  test("paretoQualitySelect: quality law, draw bits, and the exact " +
    "integer keep rule against a BigInt reference") {
    // target = the two "quality prose" docs; raw pool mixes lookalikes
    // and junk so avg_ilr actually spreads
    val prose = "the quick brown fox jumps over the lazy dog in the field"
    val docs = (Seq((1L, prose, true), (2L, s"$prose again and again", true)) ++
      (10L until 40L).map { i =>
        val txt = if (i % 3 == 0) prose
          else if (i % 3 == 1) s"fox dog field the quick"
          else "zz qq xx vv kk jj ww pp"
        (i, txt, false)
      }).toDF("doc_id", "text", "is_t")
    val got = DataSelection.paretoQualitySelect(docs, "doc_id", "text",
        isTarget = col("is_t"), buckets = 64, alpha = 9, salt = "pareto")
      .as[(Long, Long, Long, Long, Long, Boolean)].collect()
    assert(got.length === 30) // every raw doc has tokens
    val rhs = (BigInt(1) << 20) * BigInt(1000).pow(9)
    got.foreach { case (id, nFeat, avgIlr, qm, draw, kept) =>
      assert(nFeat > 0)
      assert(qm === 1000L * avgIlr / (1000000L + avgIlr), s"doc $id q law")
      assert(draw >= 0 && draw < (1L << 20), s"doc $id draw bits")
      assert(kept === (BigInt(draw) * BigInt(2000 - qm).pow(9) < rhs),
        s"doc $id keep rule")
    }
    // prose clones score at least as hot as junk, and the rule is
    // monotone: among equal draws, higher quality can only flip to kept
    val byId = got.map(g => g._1 -> g).toMap
    assert(byId(12L)._4 > byId(11L)._4, "prose clone must out-score junk")
  }

  test("doremiRealize: copy law against a hand replay — floor share per " +
    "doc, remainder to the lowest hash ranks, unweighted domains absent") {
    val docs = (0 until 30).map(i => (i.toLong, s"d${i % 3}"))
      .toDF("id", "dom")
    // d0 gets 60%, d1 gets 40%, d2 is never weighted
    val w = Seq(("d0", 600000000L), ("d1", 400000000L)).toDF("dom", "wn")
    val got = graft.operators.Sampling
      .doremiRealize(docs, "id", "dom", w, "wn", totalBudget = 25L)
      .as[(Long, String, Long)].collect()
    def uh(id: Long) = (graft.functions.Hashes.fnv1a64(s"$id:doremi") >>> 11)
      .toDouble / 9007199254740992.0
    // budgets: d0 -> 15 over 10 docs (1 each + 5 extras), d1 -> 10 (1 each)
    val want = (Seq("d0" -> 15L, "d1" -> 10L)).flatMap { case (dom, b) =>
      val members = (0 until 30).map(_.toLong).filter(i => s"d${i % 3}" == dom)
      val n = members.size
      members.sortBy(id => (uh(id), id)).zipWithIndex.map { case (id, i) =>
        (id, dom, b / n + (if (i + 1 <= b % n) 1L else 0L))
      }.filter(_._3 > 0)
    }.toSet
    assert(got.toSet === want)
    assert(!got.exists(_._2 == "d2"), "unweighted domain must realize zero")
    assert(got.map(_._3).sum === 25L, "realized copies must equal the budget")
  }

  test("domainQuotaCap keeps at most the quota per domain and matches " +
    "the window reference") {
    val rnd = new scala.util.Random(7)
    val rows = (0 until 300).map(i => (i.toLong, s"d${i % 5}"))
    val df = rnd.shuffle(rows).toDF("id", "dom").repartition(6)
    val got = graft.operators.Sampling
      .domainQuotaCap(df, "id", "dom", perDomain = 10, salt = "quota")
      .as[(Long, String, Long)].collect()
    assert(got.length === 50)
    assert(got.groupBy(_._2).forall(_._2.length == 10))
    def uh(id: Long) = (graft.functions.Hashes.fnv1a64(s"$id:quota") >>> 11)
      .toDouble / 9007199254740992.0
    val want = rows.groupBy(_._2).flatMap { case (dom, rs) =>
        rs.map(_._1).sortBy(id => (uh(id), id)).take(10).zipWithIndex
          .map { case (id, i) => (id, dom, i + 1L) }
      }.toSet
    assert(got.toSet === want)
  }

  test("packSequences: concat-and-chunk invariants (content, lengths, doc spans)") {
    val docs = Seq(
      (1L, "a b c d e"), (2L, "f g"), (3L, ""), (4L, "h i j k l m n"),
      (5L, "o"), (7L, "p q r s t u v w x y z")).toDF("doc_id", "text")
    val out = TextPipeline.packSequences(docs, "doc_id", "text", seqLen = 4)
      .orderBy("seq_id")
      .select("seq_id", "n_toks", "n_docs", "seq_text")
      .as[(Long, Long, Long, String)].collect()
    val stream = "a b c d e f g h i j k l m n o p q r s t u v w x y z".split(" ")
    // seq ids contiguous from 0; every sequence full except the last
    assert(out.map(_._1).toSeq === (0L until out.length).toSeq)
    out.init.foreach { case (_, n, _, _) => assert(n === 4L) }
    assert(out.last._2 === (stream.length % 4 match { case 0 => 4L; case r => r.toLong }))
    // concatenating the chunks reproduces the corpus token stream exactly
    assert(out.flatMap(_._4.split(" ")).toSeq === stream.toSeq)
    // seq 1 = tokens e f g h: spans docs 1, 2, 4 (doc 3 is empty)
    assert(out(1)._4 === "e f g h" && out(1)._3 === 3L)
  }

  // ---- periodic-repetition trim -------------------------------------------

  private def trim(texts: Seq[String], k: Int): Seq[String] = {
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    TextPipeline.trimPeriodicRepeats(df, "id", "text", k)
      .orderBy("id").select("text_trimmed").as[String].collect().toSeq
  }

  test("trimPeriodicRepeats hand cases") {
    assert(trim(Seq("a b a b a b c"), 2) === Seq("a b c"))
    assert(trim(Seq("x a b a b y"), 2) === Seq("x a b y"))
    assert(trim(Seq("a a a a"), 1) === Seq("a"))
    assert(trim(Seq("a a a a"), 2) === Seq("a a")) // overlapping pair repeats
    assert(trim(Seq("a b a"), 2) === Seq("a b a")) // partial tail kept
    assert(trim(Seq("a b c"), 2) === Seq("a b c")) // nothing periodic
    assert(trim(Seq(""), 2) === Seq(""))           // empty doc
    assert(trim(Seq("buy now buy now buy now buy now then stop"), 2) ===
      Seq("buy now then stop"))
    // irregular whitespace: tokenization is \s+, output re-joins with
    // single spaces (so the no-drop fast path must NOT echo the input)
    assert(trim(Seq("  a\tb   a b\na b  c "), 2) === Seq("a b c"))
    assert(trim(Seq("x\t\ty  z"), 2) === Seq("x y z"))
  }

  /** Brute-force reference: mark s iff gram(s) == gram(s-k); drop p iff
    * any covering gram start is marked. */
  private def bruteTrim(toks: Seq[String], k: Int): Seq[String] = {
    val n = toks.length
    val marked = (0 until n).map(s =>
      s >= k && s <= n - k && toks.slice(s - k, s) == toks.slice(s, s + k))
    toks.zipWithIndex.collect {
      case (t, p) if !(math.max(p - k + 1, 0) to p).exists(marked) => t
    }
  }

  test("trimPeriodicRepeats differential fuzz vs the brute-force rule") {
    val rnd = new scala.util.Random(42)
    val cases = (0 until 120).map { i =>
      val n = rnd.nextInt(13)
      val toks = Seq.fill(n)(Seq("a", "b", "c")(rnd.nextInt(3)))
      (i.toLong, toks.mkString(" "), 1 + rnd.nextInt(3))
    }
    cases.groupBy(_._3).foreach { case (k, group) =>
      val df = group.map(c => (c._1, c._2)).toDF("id", "text")
      val got = TextPipeline.trimPeriodicRepeats(df, "id", "text", k)
        .select("id", "text_trimmed", "n_dropped")
        .as[(Long, String, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
      group.foreach { case (id, text, _) =>
        val toks = text.split("\\s+").filter(_.nonEmpty).toSeq
        val kept = bruteTrim(toks, k)
        assert(got(id) === ((kept.mkString(" "), (toks.length - kept.length).toLong)),
          s"id=$id k=$k text='$text'")
      }
    }
  }

  // ---- UniMax capped waterfill ------------------------------------------

  import graft.operators.Sampling

  private def mixtureFixture = (1 to 60).map { i =>
    val g = if (i <= 6) "small" else if (i <= 20) "mid" else "big"
    (i.toLong, g)
  }.toDF("id", "g")

  test("unimaxBudgets: caps bind for small groups, the rest waterfills " +
    "to exactly the budget") {
    // caps at E=2: small 12, mid 28, big 80; B=70:
    // small: 70/3=23 -> capped 12; mid: 58/2=29 -> capped 28; big: 30/1=30
    val got = Sampling.unimaxBudgets(mixtureFixture, "g", totalBudget = 70L,
        maxEpochs = 2L)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got === Map(
      "small" -> ((6L, 12L, 12L)),
      "mid" -> ((14L, 28L, 28L)),
      "big" -> ((40L, 80L, 30L))))
  }

  test("unimaxBudgets: all-uncapped allocation sums to exactly the budget, " +
    "floor leftovers flow to larger groups") {
    val got = Sampling.unimaxBudgets(mixtureFixture, "g", totalBudget = 10L,
        maxEpochs = 100L)
      .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    // ascending caps: small, mid, big -> 10/3=3, 7/2=3, 4/1=4
    assert(got === Map("small" -> 3L, "mid" -> 3L, "big" -> 4L))
    assert(got.values.sum === 10L)
  }

  test("unimaxBudgets: budget above total capacity allocates every cap " +
    "and no more") {
    val got = Sampling.unimaxBudgets(mixtureFixture, "g", totalBudget = 10000L,
        maxEpochs = 2L)
      .collect().map(r => (r.getLong(2), r.getLong(3)))
    got.foreach { case (cap, alloc) => assert(alloc === cap) }
  }

  test("unimaxSample: per-group copies sum to the allocation and never " +
    "exceed the epoch cap") {
    val out = Sampling.unimaxSample(mixtureFixture, "id", "g",
      totalBudget = 70L, maxEpochs = 2L)
    val budgets = Sampling.unimaxBudgets(mixtureFixture, "g", 70L, 2L)
      .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    val perGroup = out.groupBy("g").agg(sum("n_copies").as("s"), max("n_copies").as("m"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    perGroup.foreach { case (g, (s, m)) =>
      assert(s === budgets(g), s"group $g copies must sum to its allocation")
      assert(m <= 2L, s"group $g must not exceed the epoch cap")
    }
    // capped groups (small, mid) repeat every doc exactly E times
    assert(out.filter(col("g") === "small").agg(min("n_copies")).head().getLong(0) === 2L)
  }

  // ---- competence-based curriculum ---------------------------------------

  test("competenceCurriculum: sqrt-competence availability law, steps " +
    "bounded by [1, T], monotone in rank, layout-independent") {
    val docs = (1L to 80L).map(i =>
      (i, (1 to (i % 13).toInt).map(j => s"w$j").mkString(" ")))
      .toDF("doc_id", "text")
    val T = 400L
    val out = Sampling.competenceCurriculum(docs, "doc_id", "text", T)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._3)
    assert(out.length === 80)
    assert(out.map(_._3).toSeq === (1L to 80L).toSeq)
    // ranks follow (n_toks, doc_id); steps monotone with rank, in [1, T]
    assert(out.sliding(2).forall { case Array(a, b) =>
      Ordering[(Long, Long)].lteq((a._2, a._1), (b._2, b._1)) && a._4 <= b._4 })
    assert(out.head._4 >= 1L && out.last._4 === T)
    // availability law: docs with first_step <= t number floor(N*sqrt(t/T))
    // (exact inverse of the integer ceil formula, within 1 for rounding)
    Seq(1L, 25L, 100L, 256L, 399L, 400L).foreach { t =>
      val avail = out.count(_._4 <= t)
      val fluid = 80.0 * math.sqrt(t.toDouble / T)
      assert(math.abs(avail - fluid) <= 1.0, s"t=$t avail=$avail vs $fluid")
    }
    val again = Sampling.competenceCurriculum(docs.repartition(7),
        "doc_id", "text", T)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._3).toSeq
    assert(again === out.toSeq)
  }

  test("competenceCurriculum: the BIGINT-headroom guard fails loudly at " +
    "totalSteps = Long.MaxValue instead of wrapping vacuously") {
    // n = 2 docs: n²·(T+1)−1 needs 66 bits — first_step WOULD wrap
    // negative; the guard must compute T+1 in BigInt, not Long (where
    // MaxValue + 1 wraps to MinValue and the check passes vacuously)
    val docs = Seq((1L, "a b"), (2L, "a b c")).toDF("doc_id", "text")
    val ex = intercept[IllegalArgumentException] {
      Sampling.competenceCurriculum(docs, "doc_id", "text", Long.MaxValue)
    }
    assert(ex.getMessage.contains("overflows Long"))
  }

  // ---- mixture top-up waterfill ------------------------------------------

  test("topupBudgets: caps = min(deficit, availability); surplus groups " +
    "get zero; budget waterfills the rest to exactly the budget") {
    val current = Seq(("a", 90L), ("b", 40L), ("c", 10L), ("d", 5L))
      .toDF("g", "n")
    val avail = Seq(("a", 50L), ("b", 20L), ("c", 100L), ("d", 3L))
      .toDF("g", "n")
    // target 60: deficits a=0 (surplus), b=20, c=50, d=55
    // caps: a=0, b=min(20,20)=20, c=min(50,100)=50, d=min(55,3)=3
    // waterfill B=60 ascending caps (a0, d3, b20, c50):
    //   a: share 15 -> 0 (rem 60); d: share 20 -> 3 (rem 57);
    //   b: share 28 -> 20 (rem 37); c: share 37 -> 37
    val got = Sampling.topupBudgets(current, avail, targetPerGroup = 60L,
        totalBudget = 60L)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got === Map(
      "a" -> ((90L, 50L, 0L, 0L)),
      "d" -> ((5L, 3L, 3L, 3L)),
      "b" -> ((40L, 20L, 20L, 20L)),
      "c" -> ((10L, 100L, 50L, 37L))))
    assert(got.values.map(_._4).sum === 60L)
  }

  test("topupBudgets: groups only in the delivery admit up to target; " +
    "budget above total capacity admits every cap and no more") {
    val current = Seq(("a", 10L)).toDF("g", "n")
    val avail = Seq(("a", 4L), ("new", 7L)).toDF("g", "n")
    val got = Sampling.topupBudgets(current, avail, targetPerGroup = 12L,
        totalBudget = 1000L)
      .collect().map(r => r.getString(0) -> ((r.getLong(3), r.getLong(4)))).toMap
    // a: deficit 2, avail 4 -> cap 2; new: deficit 12, avail 7 -> cap 7
    assert(got === Map("a" -> ((2L, 2L)), "new" -> ((7L, 7L))))
  }

  // ---- stride-scheduled domain interleave --------------------------------

  // weights floor(sqrt(n)): a=10 (n=100), b=5 (n=25), c=2 (n=4); W=17
  private def strideFixture = ((1 to 100).map(i => (i.toLong, "a")) ++
    (101 to 125).map(i => (i.toLong, "b")) ++
    (126 to 129).map(i => (i.toLong, "c"))).toDF("id", "g")

  test("strideInterleave: pos is a 0-based permutation and per-group " +
    "emission order follows the hash rank") {
    val out = Sampling.strideInterleave(strideFixture, "id", "g")
      .select("id", "g", "rk", "vt", "pos")
      .as[(Long, String, Long, Long, Long)].collect().sortBy(_._5)
    assert(out.length === 129)
    assert(out.map(_._5).toSeq === (0L until 129L).toSeq)
    // within each group, ascending pos must walk rk 1..n in order
    out.groupBy(_._2).foreach { case (g, rows) =>
      assert(rows.map(_._3).toSeq === (1L to rows.length).toSeq,
        s"group $g emission order must follow rk")
    }
  }

  test("strideInterleave: every prefix tracks the weight shares while all " +
    "groups are live (stride-scheduling law)") {
    val out = Sampling.strideInterleave(strideFixture, "id", "g")
      .select("g", "pos").as[(String, Long)].collect().sortBy(_._2).map(_._1)
    val weights = Map("a" -> 10.0, "b" -> 5.0, "c" -> 2.0)
    val wSum = 17.0
    // group c (rk=4, w=2) exhausts at vt = 7e6/4; all prefixes before that
    // see three live groups — shares must track within a constant
    val cEnd = out.lastIndexOf("c") + 1
    assert(cEnd > 20, "fixture must keep c alive deep enough to test")
    (1 to cEnd).foreach { l =>
      val counts = out.take(l).groupBy(identity).view.mapValues(_.size).toMap
      weights.foreach { case (g, w) =>
        val dev = math.abs(counts.getOrElse(g, 0) - l * w / wSum)
        assert(dev <= 2.0, s"prefix $l group $g deviates $dev from share")
      }
    }
  }

  test("tokenBudgetSelect: kept set is the exact maximal hash-order " +
    "prefix of whole docs, layout-independent, degenerate budgets work") {
    val docs = (1L to 60L).map(i =>
      (i, (1 to (i % 9).toInt + 1).map(j => s"w$j").mkString(" ")))
      .toDF("doc_id", "text")
    // brute-force reference in the same order (hash, then id)
    val ordered = (1L to 60L).map { i =>
      val h = graft.functions.Hashes.fnv1a64(s"$i:budget")
      (h, i, (i % 9).toInt + 1)
    }.sortBy(t => (t._1, t._2))
    val budget = 120L
    var cum = 0L
    val expect = ordered.flatMap { case (_, id, n) =>
      val keep = cum + n <= budget
      val row = if (keep) Some(id -> ((n.toLong, cum))) else None
      cum += n // cum counts every doc in order, kept or not
      row
    }.toMap
    val got = Sampling.tokenBudgetSelect(docs, "doc_id", "text", budget)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got === expect)
    assert(got.values.map(_._1).sum <= budget)
    val shuffled = Sampling.tokenBudgetSelect(docs.repartition(7),
        "doc_id", "text", budget)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(shuffled === got)
    // budget >= total keeps everything
    assert(Sampling.tokenBudgetSelect(docs, "doc_id", "text", 100000L)
      .count() === 60L)
  }

  test("tokenShardAssign: brute hash-order reference, straddle rule " +
    "(a boundary-crossing doc stays in its start shard), layout-" +
    "independent") {
    val docs = (1L to 60L).map(i =>
      (i, (1 to (i % 9).toInt + 1).map(j => s"w$j").mkString(" ")))
      .toDF("doc_id", "text")
    val target = 17L
    val ordered = (1L to 60L).map { i =>
      val h = graft.functions.Hashes.fnv1a64(s"$i:shard")
      (h, i, ((i % 9) + 1))
    }.sortBy(t => (t._1, t._2))
    var cum = 0L
    val expect = ordered.map { case (_, id, n) =>
      val row = id -> ((n, cum, cum / target))
      cum += n
      row
    }.toMap
    val got = Sampling.tokenShardAssign(docs, "doc_id", "text", target)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got === expect)
    // straddle rule visible: some shard's token sum exceeds target (a doc
    // that starts before the boundary carries the shard past it), yet
    // every shard's START offset is below (shard_id+1)*target
    val byShard = got.values.groupBy(_._3).view
      .mapValues(_.map(_._1).sum).toMap
    assert(byShard.values.exists(_ > target), "straddle must occur")
    got.values.foreach { case (_, cumBefore, sid) =>
      assert(cumBefore / target === sid)
    }
    // layout independence: same assignment from a different partitioning
    val shuffled = Sampling.tokenShardAssign(docs.repartition(7),
        "doc_id", "text", target)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(shuffled === got)
  }

  test("strideInterleave: differential fuzz vs a brute replica on random " +
    "group structures") {
    val rnd = new scala.util.Random(42)
    (1 to 3).foreach { trial =>
      var nextId = 0L
      val rows = (0 until 2 + rnd.nextInt(4)).flatMap { g =>
        (1 to 1 + rnd.nextInt(40)).map { _ =>
          nextId += 1; (nextId, s"g$g")
        }
      }
      val df = rows.toDF("id", "g")
      val got = Sampling.strideInterleave(df, "id", "g")
        .select("id", "pos").as[(Long, Long)].collect()
        .sortBy(_._2).map(_._1).toSeq
      // brute replica of the whole schedule
      def uh(id: Long) = (graft.functions.Hashes.fnv1a64(s"$id:stride") >>> 11)
        .toDouble / 9007199254740992.0
      val brute = rows.groupBy(_._2).toSeq.flatMap { case (g, rs) =>
        val w = math.sqrt(rs.length.toDouble).floor.toLong
        rs.map(_._1).sortBy(id => (uh(id), id)).zipWithIndex.map {
          case (id, i) =>
            val rk = i + 1L
            (((2 * rk - 1) * 1000000L) / (2 * w), g, rk, id)
        }
      }.sortBy(t => (t._1, t._2, t._3)).map(_._4)
      assert(got === brute, s"trial $trial")
    }
  }

  test("strideInterleave: layout-independent (repartitioned input yields " +
    "the identical global sequence)") {
    val base = Sampling.strideInterleave(strideFixture, "id", "g")
      .select("id", "pos").as[(Long, Long)].collect().sortBy(_._2).map(_._1).toSeq
    val shuf = Sampling.strideInterleave(strideFixture.repartition(7), "id", "g")
      .select("id", "pos").as[(Long, Long)].collect().sortBy(_._2).map(_._1).toSeq
    assert(base === shuf)
  }
}
