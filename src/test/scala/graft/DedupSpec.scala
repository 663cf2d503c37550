package graft

import graft.functions.Hashes
import graft.operators.{Dedup, Similarity}
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank"),
    (2L, "the quick brown fox jumps over the lazy dog near the river bend"), // near-dup of 1
    (3L, "completely different content about astronomy stars galaxies and planets"),
    (4L, "the quick brown fox jumps over the lazy dog near the river bank"), // exact dup of 1
    (5L, "astronomy stars galaxies planets and completely different content here")
  ).toDF("doc_id", "text")

  test("minhash: identical docs get identical signatures; estimate tracks jaccard") {
    val sigs = Dedup.minhashSignatures(docs, "doc_id", "text", n = 2, k = 128)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(sigs(1L) === sigs(4L))
    val est12 = sigs(1L).zip(sigs(2L)).count { case (a, b) => a == b } / 128.0
    val est13 = sigs(1L).zip(sigs(3L)).count { case (a, b) => a == b } / 128.0
    assert(est12 > 0.5, s"near-dup minhash estimate $est12 should be high")
    assert(est13 < 0.2, s"unrelated minhash estimate $est13 should be low")
  }

  test("minhashDupPairs finds the exact and near duplicates, and only those") {
    val pairs = Dedup.minhashDupPairs(docs, "doc_id", "text", n = 2, k = 128,
      bands = 64, threshold = 0.5)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 4L)))
    assert(pairs.contains((1L, 2L)))
    assert(pairs.contains((2L, 4L)))
    assert(!pairs.exists { case (a, b) => a == 3L || b == 3L })
  }

  test("minhashDupPairsScoped: exactly the global pairs whose endpoints " +
    "share the scope — cross-scope duplicates are invisible by design") {
    // docs 1/2/4 are mutual near-dups; scope A holds 1 and 2, scope B
    // holds 4 — the (1,4)/(2,4) duplications cross scopes and must not
    // be returned (the FineWeb per-dump semantics), (1,2) must be
    val scoped = docs.withColumn("snap",
      when(col("doc_id") === 4L, "B").otherwise("A"))
    val got = Dedup.minhashDupPairsScoped(scoped, "doc_id", "text", "snap",
        n = 2, k = 128, bands = 64, threshold = 0.5)
      .select("id1", "id2", "scope").as[(Long, Long, String)].collect().toSet
    assert(got === Set((1L, 2L, "A")))
    // differential law: scoped == global restricted to equal scope
    val globalSameScope = Dedup.minhashDupPairs(scoped, "doc_id", "text",
        n = 2, k = 128, bands = 64, threshold = 0.5)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
      .filter(p => (p._1 == 4L) == (p._2 == 4L))
    assert(got.map(p => (p._1, p._2)) === globalSameScope)
    // one shared scope reproduces the global pair set exactly
    val oneScope = Dedup.minhashDupPairsScoped(
        scoped.withColumn("snap", lit("all")), "doc_id", "text", "snap",
        n = 2, k = 128, bands = 64, threshold = 0.5)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(oneScope === Dedup.minhashDupPairs(scoped, "doc_id", "text",
      n = 2, k = 128, bands = 64, threshold = 0.5)
      .select("id1", "id2").as[(Long, Long)].collect().toSet)
  }

  test("all-SQL-text pipeline is row-identical to minhashDupPairs on " +
    "randomized near-dup corpora (differential fuzz)") {
    graft.functions.GraftExtensions.register(spark)
    val words = Vector("alpha", "bravo", "charlie", "delta", "echo",
      "foxtrot", "golf", "hotel", "india", "juliet")
    val rnd = new scala.util.Random(4242L)
    for (trial <- 1 to 3) {
      // 8 base docs; each of 32 docs perturbs a base in 0-3 positions, so
      // every trial has real near-dup clusters plus sub-threshold noise
      val bases = Vector.fill(8)(Vector.fill(14)(words(rnd.nextInt(words.size))))
      val corpus = (1L to 32L).map { id =>
        val b = bases(rnd.nextInt(bases.size))
        val perturbed = (0 until rnd.nextInt(4)).foldLeft(b) { (v, _) =>
          v.updated(rnd.nextInt(v.size), words(rnd.nextInt(words.size)))
        }
        (id, perturbed.mkString(" "))
      }
      val df = corpus.toDF("doc_id", "text")
      df.createOrReplaceTempView("documents")
      val sql = spark.sql(graft.queries.PipelineQueries.SqlDedupPipeline)
        .select($"id1", $"id2", round($"jaccard", 9).as("j"))
        .as[(Long, Long, Double)].collect().toSet
      val api = Dedup.minhashDupPairs(df, "doc_id", "text", n = 2, k = 128,
          bands = 64, threshold = 0.5)
        .select($"id1", $"id2", round($"jaccard", 9).as("j"))
        .as[(Long, Long, Double)].collect().toSet
      assert(sql === api, s"trial $trial diverged")
      assert(sql.nonEmpty, s"trial $trial degenerate (no pairs — fixture bug)")
    }
    spark.catalog.dropTempView("documents")
  }

  test("minhashDupPairsScoped differential fuzz: on random corpora with " +
    "random scopes, scoped == global restricted to equal scope") {
    val words = Vector("alpha", "bravo", "charlie", "delta", "echo",
      "foxtrot", "golf", "hotel", "india", "juliet")
    val rnd = new scala.util.Random(1818L)
    for (trial <- 1 to 3) {
      val bases = Vector.fill(8)(Vector.fill(14)(words(rnd.nextInt(words.size))))
      val corpus = (1L to 32L).map { id =>
        val b = bases(rnd.nextInt(bases.size))
        val perturbed = (0 until rnd.nextInt(4)).foldLeft(b) { (v, _) =>
          v.updated(rnd.nextInt(v.size), words(rnd.nextInt(words.size)))
        }
        (id, perturbed.mkString(" "), s"snap${rnd.nextInt(3)}")
      }
      val df = corpus.toDF("doc_id", "text", "snap")
      val scopeOf = corpus.map(c => c._1 -> c._3).toMap
      val scoped = Dedup.minhashDupPairsScoped(df, "doc_id", "text", "snap",
          n = 2, k = 128, bands = 64, threshold = 0.5)
        .select($"id1", $"id2", $"scope", round($"jaccard", 9).as("j"))
        .as[(Long, Long, String, Double)].collect().toSet
      scoped.foreach { case (a, b, sc, _) =>
        assert(scopeOf(a) === sc && scopeOf(b) === sc, s"trial $trial leak")
      }
      val globalSame = Dedup.minhashDupPairs(df, "doc_id", "text",
          n = 2, k = 128, bands = 64, threshold = 0.5)
        .select($"id1", $"id2", round($"jaccard", 9).as("j"))
        .as[(Long, Long, Double)].collect().toSet
        .filter(p => scopeOf(p._1) == scopeOf(p._2))
        .map(p => (p._1, p._2, scopeOf(p._1), p._3))
      assert(scoped === globalSame, s"trial $trial diverged")
      assert(scoped.nonEmpty, s"trial $trial degenerate (no same-scope pairs)")
    }
  }

  test("bucketed minhash path is result-identical to the broadcast path, shuffle-free lookups") {
    val bc = Dedup.minhashDupPairs(docs, "doc_id", "text", n = 2, k = 128,
      bands = 64, threshold = 0.5)
      .as[(Long, Long, Double)].collect().toSet
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val bkDf = Dedup.minhashDupPairsBucketed(docs, "doc_id", "text", n = 2, k = 128,
        bands = 64, threshold = 0.5, tableTag = "spec", buckets = 4)
      val bk = bkDf.as[(Long, Long, Double)].collect().toSet
      assert(bk === bc)
      // lookup side reads the bucketed table: the scan itself carries the
      // hash partitioning (Bucketed: true), no Exchange above it
      val plan = bkDf.queryExecution.executedPlan.toString
      assert(plan.contains("Bucketed: true"), s"lookup not bucketed:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("jaccardPairs exact: dup pair has jaccard 1.0") {
    val m = Dedup.jaccardPairs(docs, "doc_id", "text", n = 2, threshold = 0.05)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(m((1L, 4L)) === 1.0)
    assert(m((1L, 2L)) > 0.7 && m((1L, 2L)) < 1.0)
  }

  test("jaccardPairs maxDocFreq drops hot shingles but keeps exact dup pair") {
    val pairs = Dedup.jaccardPairs(docs, "doc_id", "text", n = 2, threshold = 0.9,
      maxDocFreq = Some(10L)).select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 4L)))
  }

  test("simhash: exact dups identical, near-dups close, unrelated far") {
    val sh = Dedup.simhashes(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sh(1L) === sh(4L))
    assert(Hashes.hamming64(sh(1L), sh(2L)) <= 12)
    assert(Hashes.hamming64(sh(1L), sh(3L)) > 12)
  }

  test("simhashPairs bands catch near-identical docs") {
    // default 4 blocks: exact only for hamming <= 3 — catches the exact dup
    val strict = Dedup.simhashPairs(docs, "doc_id", "text", maxDist = 3)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(strict.contains((1L, 4L)))
    // nBlocks > maxDist makes recall exact by pigeonhole: catches the near-dup
    val wide = Dedup.simhashPairs(docs, "doc_id", "text", maxDist = 12, nBlocks = 13)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(wide.contains((1L, 4L)))
    assert(wide.contains((1L, 2L)))
  }

  test("fingerprint normalizes case and punctuation") {
    assert(Hashes.fingerprint("Hello, World!") === Hashes.fingerprint("hello world"))
    assert(Hashes.fingerprint("a b") !== Hashes.fingerprint("a c"))
  }

  test("LSH KNN recall vs brute force on clustered vectors") {
    val rnd = new scala.util.Random(7)
    // 8 well-separated cluster centers, 25 points each
    val centers = Array.fill(8)(Array.fill(64)(rnd.nextGaussian() * 5))
    val vecs = (0 until 200).map { i =>
      val c = centers(i % 8)
      (i.toLong, c.map(x => (x + rnd.nextGaussian() * 0.3).toFloat).toSeq)
    }
    val df = vecs.toDF("vec_id", "embedding")
    val queries = df.filter($"vec_id" < 8)
    val brute = Similarity.bruteForceTopK(df, queries, "vec_id", "embedding", "vec_id", k = 5)
      .select("query_id", "nbr_id").as[(Long, Long)].collect().toSet
    val lsh = Similarity.lshTopK(df, queries, "vec_id", "embedding", "vec_id",
      k = 5, dim = 64, nBits = 8, nTables = 8)
      .select("query_id", "nbr_id").as[(Long, Long)].collect().toSet
    val recall = brute.intersect(lsh).size.toDouble / brute.size
    assert(recall >= 0.9, s"LSH recall $recall below 0.9")
  }

  test("IVF with k-means refinement matches brute-force on clustered data") {
    val rnd = new scala.util.Random(13)
    val centers = Array.fill(8)(Array.fill(32)(rnd.nextGaussian() * 5))
    val vecs = (0 until 160).map { i =>
      val c = centers(i % 8)
      (i.toLong, c.map(x => (x + rnd.nextGaussian() * 0.3).toFloat).toSeq)
    }
    val df = vecs.toDF("vec_id", "embedding")
    val queries = df.filter($"vec_id" < 8)
    val brute = Similarity.bruteForceTopK(df, queries, "vec_id", "embedding", "vec_id", k = 5)
      .select("query_id", "nbr_id").as[(Long, Long)].collect().toSet
    val ivf = Similarity.ivfTopK(df, queries, "vec_id", "embedding", "vec_id",
      k = 5, nCells = 8, nProbe = 2, refineIters = 3)
      .select("query_id", "nbr_id").as[(Long, Long)].collect().toSet
    val recall = brute.intersect(ivf).size.toDouble / brute.size
    assert(recall >= 0.9, s"refined IVF recall $recall below 0.9")
  }

  test("IVF KNN returns k sane neighbors per query") {
    val rnd = new scala.util.Random(11)
    val vecs = (0 until 100).map(i => (i.toLong, Seq.fill(16)(rnd.nextGaussian().toFloat)))
    val df = vecs.toDF("vec_id", "embedding")
    val queries = df.filter($"vec_id" < 3)
    val out = Similarity.ivfTopK(df, queries, "vec_id", "embedding", "vec_id",
      k = 4, nCells = 8, nProbe = 8)
    val byQ = out.select("query_id", "rank").as[(Long, Int)].collect().groupBy(_._1)
    assert(byQ.keySet === Set(0L, 1L, 2L))
    byQ.values.foreach(rs => assert(rs.map(_._2).sorted.toSeq === Seq(1, 2, 3, 4)))
  }

  test("graphTopK excludeSelf: shared-id-space default drops self; " +
    "external query-id spaces keep the colliding neighbor") {
    // 4 corpus nodes, fully connected graph; the query's id (2) collides
    // with a corpus node id but comes from an EXTERNAL id space — its
    // vector sits exactly on node 2
    val corpus = Seq(
      (0L, Seq(10f, 0f)), (1L, Seq(0f, 10f)),
      (2L, Seq(10f, 10f)), (3L, Seq(-10f, -10f))).toDF("vec_id", "embedding")
    val graph = (for { s <- 0L to 3L; d <- 0L to 3L if s != d } yield (s, d))
      .toDF("src", "dst")
    val queries = Seq((2L, Seq(10f, 10f))).toDF("vec_id", "embedding")
    def run(ex: Boolean) = Similarity.graphTopK(corpus, queries, "vec_id",
      "embedding", "vec_id", k = 2, graph, entryPoints = 4, beam = 4,
      rounds = 1, excludeSelf = ex)
      .orderBy("rank").select("nbr_id").as[Long].collect().toSeq
    // default (shared id space): node 2 is the trivial self hit — dropped
    assert(!run(ex = true).contains(2L))
    // external id space: node 2 is a legitimate nearest neighbor — kept
    assert(run(ex = false) === Seq(2L, 0L) || run(ex = false) === Seq(2L, 1L))
  }

  test("semanticDupPairs pairs within cells only; clones score cos 1") {
    // two tight clusters around orthogonal axes; ids 0 and 1 are the
    // deterministic centroids (lowest-id sample, nCells = 2)
    val vecs = Seq(
      (0L, Seq(1f, 0f, 0f, 0f)), (1L, Seq(0f, 1f, 0f, 0f)),
      (2L, Seq(0.9f, 0.1f, 0f, 0f)), (3L, Seq(0.9f, 0.1f, 0f, 0f)), // clones, cell 0
      (4L, Seq(0.1f, 0.9f, 0f, 0f))).toDF("vec_id", "embedding")
    val pairs = Dedup.semanticDupPairs(vecs, "vec_id", "embedding",
        nCells = 2, threshold = 0.999)
      .select("cell_id", "id1", "id2").as[(Long, Long, Long)].collect().toSet
    // only the clone pair survives the threshold, and it lives in cell 0
    assert(pairs === Set((0L, 2L, 3L)))
    // dropping the threshold exposes every within-cell pair but NEVER a
    // cross-cell one — the clustering bound is structural, not a filter
    val all = Dedup.semanticDupPairs(vecs, "vec_id", "embedding",
        nCells = 2, threshold = -1.0)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(all === Set((0L, 2L), (0L, 3L), (2L, 3L), (1L, 4L)))
    // Lloyd-refined assignment (kMeansScaled path) preserves the clean
    // clustering, so the clone pair survives identically
    val refined = Dedup.semanticDupPairs(vecs, "vec_id", "embedding",
        nCells = 2, threshold = 0.999, refineIters = 1)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(refined === Set((2L, 3L)))
  }

  test("dupWeights: every copy stays at weight 1/n_copies; grouping is the " +
    "case/punctuation-insensitive fingerprint") {
    val ws = Seq((1L, "Hello, World!"), (2L, "hello world"), (3L, "unique text"))
      .toDF("doc_id", "text")
    val got = Dedup.dupWeights(ws, "doc_id", "text")
      .select("doc_id", "n_copies", "weight")
      .as[(Long, Long, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(1L) === ((2L, 0.5)))
    assert(got(2L) === ((2L, 0.5)))
    assert(got(3L) === ((1L, 1.0)))
    // unit total weight per distinct content
    assert(got.values.map(_._2).sum === 2.0)
  }

  test("semDedupSelect keeps the LEAST prototypical member per duplicate " +
    "group (lowest centroid cosine beats min-id), singletons keep themselves") {
    // cell 0's centroid is vec 0 (lowest-id sample); vecs 2 and 3 are
    // near-dups of each other (cos ≈ 0.99945 ≥ 0.999) but 3 points
    // slightly FARTHER from the centroid (ccos 0.98973 < 0.99388) — the
    // paper's rule keeps 3, NOT the min-id 2
    val vecs = Seq(
      (0L, Seq(1f, 0f, 0f, 0f)), (1L, Seq(0f, 1f, 0f, 0f)),
      (2L, Seq(0.9f, 0.1f, 0f, 0f)), (3L, Seq(0.9f, 0.13f, 0f, 0f)),
      (4L, Seq(0.1f, 0.9f, 0f, 0f))).toDF("vec_id", "embedding")
    val got = Dedup.semDedupSelect(vecs, "vec_id", "embedding",
        nCells = 2, threshold = 0.999)
      .select("vec_id", "cluster_id", "is_kept")
      .as[(Long, Long, Boolean)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    // {2,3} form one component labeled by min id 2; the FARTHER member 3
    // survives, the more prototypical 2 drops
    assert(got(2L) === ((2L, false)))
    assert(got(3L) === ((2L, true)))
    // everything else is a singleton keeping itself (their cosines to
    // neighbors sit below the 0.999 threshold)
    Seq(0L, 1L, 4L).foreach(id => assert(got(id) === ((id, true))))
    // the refined (Lloyd) path agrees on this clean clustering
    val refined = Dedup.semDedupSelect(vecs, "vec_id", "embedding",
        nCells = 2, threshold = 0.999, refineIters = 1)
      .select("vec_id", "is_kept").as[(Long, Boolean)].collect().toMap
    assert(refined.count(!_._2) === 1, "exactly one clone echo drops")
  }

  private def spansOf(df: org.apache.spark.sql.DataFrame) =
    df.select("id1", "id2", "start1", "start2", "span_tokens")
      .as[(Long, Long, Long, Long, Long)].collect().toSet

  test("sharedSpans reports the one maximal planted run with exact bounds") {
    val run = (1 to 15).map(i => s"s$i").mkString(" ")
    val d = Seq(
      (1L, s"u1 u2 u3 u4 $run u5 u6 u7 u8"),
      (2L, s"v1 v2 v3 $run v4 v5")).toDF("doc_id", "text")
    // one row: A-start 4, B-start 3, 15 tokens — NOT one row per seed
    assert(spansOf(Dedup.sharedSpans(d, "doc_id", "text", n = 4, minTokens = 6))
      === Set((1L, 2L, 4L, 3L, 15L)))
    // below minTokens: silent
    assert(Dedup.sharedSpans(d, "doc_id", "text", n = 4, minTokens = 16).isEmpty)
  }

  test("sharedSpans separates two distinct runs between the same pair") {
    val s = (1 to 5).map(i => s"s$i").mkString(" ")
    val tt = (1 to 6).map(i => s"t$i").mkString(" ")
    val d = Seq(
      (1L, s"f1 f2 $s g1 g2 g3 g4 g5 $tt"),
      (2L, s"h1 $s h2 h3 h4 h5 h6 $tt h7")).toDF("doc_id", "text")
    val got = spansOf(Dedup.sharedSpans(d, "doc_id", "text", n = 4, minTokens = 5))
    assert(got === Set((1L, 2L, 2L, 1L, 5L), (1L, 2L, 12L, 11L, 6L)))
  }

  test("sharedSpans differential fuzz: matches a brute-force matcher on a random corpus") {
    // tiny vocab + short docs = dense accidental n-gram sharing — the
    // adversarial regime for the diagonal/island bookkeeping (repeats,
    // overlapping runs, internal periodicity)
    val rnd = new scala.util.Random(42)
    val vocab = Array("a", "b", "c", "d", "e", "f", "g", "h")
    val docs = (1L to 60L).map { id =>
      val len = 20 + rnd.nextInt(21)
      id -> Array.fill(len)(vocab(rnd.nextInt(vocab.length)))
    }
    val (n, minTokens) = (3, 5)
    def brute: Set[(Long, Long, Long, Long, Long)] = {
      val out = Set.newBuilder[(Long, Long, Long, Long, Long)]
      for {
        (id1, t1) <- docs; (id2, t2) <- docs if id1 < id2
        g1 = t1.sliding(n).map(_.mkString(" ")).toArray
        g2 = t2.sliding(n).map(_.mkString(" ")).toArray
        diag <- (1 - g2.length) until g1.length
      } {
        // walk the diagonal p1 = p2 + diag, collecting maximal match runs
        var p1 = math.max(0, diag)
        var runStart = -1
        def close(end: Int): Unit = if (runStart >= 0) {
          val span = end - runStart + n
          if (span >= minTokens)
            out += ((id1, id2, runStart.toLong, (runStart - diag).toLong, span.toLong))
          runStart = -1
        }
        while (p1 < g1.length && p1 - diag < g2.length) {
          if (p1 - diag >= 0 && g1(p1) == g2(p1 - diag)) {
            if (runStart < 0) runStart = p1
          } else close(p1 - 1)
          p1 += 1
        }
        close(p1 - 1)
      }
      out.result()
    }
    val df = docs.map { case (id, toks) => (id, toks.mkString(" ")) }.toDF("doc_id", "text")
    val got = spansOf(Dedup.sharedSpans(df, "doc_id", "text", n, minTokens,
      maxDf = Int.MaxValue))
    assert(got === brute)
  }

  test("removeSharedSpans keeps the lowest doc's copy, rebuilds the rest") {
    val run = (1 to 15).map(i => s"s$i").mkString(" ")
    val d = Seq(
      (1L, s"u1 u2 u3 u4 $run u5 u6 u7 u8"),
      (2L, s"v1 v2 v3 $run v4 v5"),
      (3L, "w1 w2 w3")).toDF("doc_id", "text")
    val got = Dedup.removeSharedSpans(d, "doc_id", "text", n = 4, minTokens = 6)
      .as[(Long, String, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(1L) === ((s"u1 u2 u3 u4 $run u5 u6 u7 u8", 0L))) // first copy kept
    assert(got(2L) === (("v1 v2 v3 v4 v5", 15L))) // span cut, seams closed
    assert(got(3L) === (("w1 w2 w3", 0L))) // untouched doc passes through
  }

  test("removeSharedSpans merges overlapping intervals (periodic text, full removal)") {
    // "c c c ..." matches on every diagonal: the removal intervals on the
    // higher doc overlap heavily and must union before cutting
    val d = Seq(
      (1L, "c c c c c"),
      (2L, "c c c c c c")).toDF("doc_id", "text")
    val got = Dedup.removeSharedSpans(d, "doc_id", "text", n = 3, minTokens = 4)
      .as[(Long, String, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(1L)._2 === 0L) // lower id keeps everything
    assert(got(2L)._1 === "" && got(2L)._2 === 6L) // fully covered → empty
  }

  test("sharedSpans maxDf drops boilerplate shared by too many docs") {
    val boiler = (1 to 10).map(i => s"b$i").mkString(" ")
    val d = (1L to 4L).map(k => (k, s"w${k}a w${k}b $boiler w${k}c")).toDF("doc_id", "text")
    assert(Dedup.sharedSpans(d, "doc_id", "text", n = 4, minTokens = 8, maxDf = 3).isEmpty)
    val kept = spansOf(Dedup.sharedSpans(d, "doc_id", "text", n = 4, minTokens = 8, maxDf = 4))
    assert(kept.size === 6 && kept.forall { case (_, _, s1, s2, len) =>
      s1 == 2L && s2 == 2L && len == 10L })
  }

  // ---- edit-distance near-dup ---------------------------------------------

  test("editDistancePairs: hand-computed levenshtein and normalized sim") {
    // docs 1/2 differ by the last word "bank" -> "bend": lev = 2 substitutions
    // (a->e, k->d wait: bank/bend = b a n k vs b e n d -> 2 subs), len 63 both
    val got = Dedup.editDistancePairs(docs, "doc_id", "text", n = 2, k = 128,
        bands = 64, jaccardGate = 0.5, minSim = 0.9)
      .as[(Long, Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    val t1 = "the quick brown fox jumps over the lazy dog near the river bank"
    assert(got((1L, 4L)) === ((0L, 1.0))) // exact dup
    val expSim = BigDecimal(1.0 - 2.0 / t1.length)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got((1L, 2L)) === ((2L, expSim)))
    assert(got((2L, 4L)) === ((2L, expSim)))
    assert(got.size === 3) // doc 3/5 never reach the levenshtein stage
  }

  test("editDistancePairs minSim gate drops jaccard-similar but edit-distant pairs") {
    // same bigram multiset reordered: jaccard high, edit distance large
    val d = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "eta theta alpha beta gamma delta epsilon zeta"), // rotated
      (3L, "alpha beta gamma delta epsilon zeta eta thetb")  // 1-char edit of 1
    ).toDF("doc_id", "text")
    val strict = Dedup.editDistancePairs(d, "doc_id", "text", n = 1, k = 128,
        bands = 64, jaccardGate = 0.5, minSim = 0.9)
      .as[(Long, Long, Long, Double)].collect().map(r => (r._1, r._2)).toSet
    assert(strict === Set((1L, 3L))) // rotation fails the edit gate
    val loose = Dedup.editDistancePairs(d, "doc_id", "text", n = 1, k = 128,
        bands = 64, jaccardGate = 0.5, minSim = 0.1)
      .as[(Long, Long, Long, Double)].collect().map(r => (r._1, r._2)).toSet
    assert(loose.contains((1L, 2L))) // at a loose gate the rotation passes
  }

  test("editDistancePairs banded threshold returns the same rows as unbanded") {
    // differential: recompute lev with the 2-arg (full-matrix) form on the
    // same Jaccard-gated candidates and compare pair-for-pair
    val banded = Dedup.editDistancePairs(docs, "doc_id", "text", n = 2, k = 128,
        bands = 64, jaccardGate = 0.3, minSim = 0.5)
      .as[(Long, Long, Long, Double)].collect().toSet
    val cands = Dedup.minhashDupPairs(docs, "doc_id", "text", n = 2, k = 128,
        bands = 64, threshold = 0.3).select("id1", "id2")
    val txt = docs.select(col("doc_id").as("doc"), col("text").as("t"))
    val full = cands
      .join(txt.select(col("doc").as("id1"), col("t").as("t1")), "id1")
      .join(txt.select(col("doc").as("id2"), col("t").as("t2")), "id2")
      .withColumn("maxlen", greatest(length(col("t1")), length(col("t2")), lit(1)))
      .withColumn("lev", levenshtein(col("t1"), col("t2")).cast("long"))
      .withColumn("edit_sim", round(lit(1.0) -
        col("lev").cast("double") / col("maxlen").cast("double"), 6))
      .filter(col("edit_sim") >= 0.5)
      .select("id1", "id2", "lev", "edit_sim")
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(banded === full)
  }

  test("dedupChunksKeepFirst: first occurrence wins across and within docs, " +
    "fully-duplicated docs drop, tails dedup by exact text") {
    // chunkTokens = 2: doc 1 = [a b][c d][a b] (within-doc repeat),
    // doc 2 = [a b][c d] (fully duplicated vs doc 1 -> drops),
    // doc 3 = [c d][x y][c] (tail chunk "c" is its own text, survives),
    // doc 4 = [c] (duplicate of doc 3's tail by exact text -> drops)
    val docs = Seq(
      (1L, "a b c d a b"), (2L, "a b c d"),
      (3L, "c d x y c"), (4L, "c")).toDF("doc_id", "text")
    val got = Dedup.dedupChunksKeepFirst(docs, "doc_id", "text", chunkTokens = 2)
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got === Map(
      1L -> ((3L, 2L, "a b c d")), // within-doc repeat of [a b] dropped
      3L -> ((3L, 2L, "x y c")))) // [c d] lost to doc 1; tail "c" is first
    // docs 2 and 4 emptied entirely -> absent
  }

  test("hardNegatives: results are bruteForceTopK minus the over-ceiling " +
    "neighbors, re-ranked; nothing at or above the ceiling survives") {
    // 3 clusters of near-parallel vectors: within-cluster cos ~1 (the
    // positives the ceiling must drop), cross-cluster lower
    val vecs = (0 until 30).map { i =>
      val base = Array.fill(8)(0.05f)
      base(i % 3) = 1f; base(3 + i % 3) = 0.8f
      base(6) = 0.01f * (i / 3) // slight spread inside a cluster
      (i.toLong, base)
    }.toDF("vec_id", "embedding")
    val queries = vecs.filter(col("vec_id") < 3)
    val got = Similarity.hardNegatives(vecs, queries, "vec_id", "embedding",
      "vec_id", k = 5, maxSim = 0.9)
      .as[(Long, Long, Double, Long)].collect()
    assert(got.nonEmpty)
    got.foreach { case (q, n, c, _) =>
      assert(BigDecimal(c).setScale(6, BigDecimal.RoundingMode.HALF_UP) < 0.9,
        s"query $q neighbor $n cos $c breaches the ceiling") }
    // differential: brute top-k over the manually-filtered candidate set
    val brute = Similarity.bruteForceTopK(vecs, queries, "vec_id",
        "embedding", "vec_id", k = 30)
      .as[(Long, Long, Double, Long)].collect()
      .filter { case (_, _, c, _) =>
        BigDecimal(c).setScale(6, BigDecimal.RoundingMode.HALF_UP) < 0.9 }
      .groupBy(_._1).toSeq.flatMap { case (_, rows) =>
        rows.sortBy(r => (-r._3, r._2)).take(5).zipWithIndex
          .map { case ((q, n, c, _), i) => (q, n, c, i + 1L) }.toSeq }.toSet
    assert(got.toSet === brute)
  }

  test("lshHardNegatives: ceiling respected, ranks contiguous per query, " +
    "and every result is a true (non-positive) pair from the brute set") {
    val vecs = (0 until 30).map { i =>
      val base = Array.fill(64)(0.05f)
      base(i % 3) = 1f; base(3 + i % 3) = 0.8f
      base(6) = 0.01f * (i / 3)
      (i.toLong, base)
    }.toDF("vec_id", "embedding")
    val queries = vecs.filter(col("vec_id") < 3)
    val got = Similarity.lshHardNegatives(vecs, queries, "vec_id",
      "embedding", "vec_id", k = 5, maxSim = 0.9, dim = 64, nBits = 4,
      nTables = 8).as[(Long, Long, Double, Long)].collect()
    assert(got.nonEmpty)
    got.foreach { case (q, n, c, _) =>
      assert(BigDecimal(c).setScale(6, BigDecimal.RoundingMode.HALF_UP) < 0.9,
        s"query $q neighbor $n cos $c breaches the ceiling") }
    got.groupBy(_._1).foreach { case (q, rows) =>
      assert(rows.map(_._4).sorted.toSeq === (1L to rows.length).toSeq,
        s"query $q ranks must be contiguous from 1") }
    // approximate results are drawn from the brute candidate universe
    val brute = Similarity.hardNegatives(vecs, queries, "vec_id",
      "embedding", "vec_id", k = 30, maxSim = 0.9)
      .as[(Long, Long, Double, Long)].collect()
      .map(r => (r._1, r._2, r._3)).toSet
    got.foreach { case (q, n, c, _) =>
      assert(brute.contains((q, n, c)), s"($q,$n) not in the brute set") }
  }

  test("ivfHardNegatives: probing every cell equals brute hardNegatives " +
    "exactly; a partial probe respects the ceiling and the brute universe") {
    val vecs = (0 until 30).map { i =>
      val base = Array.fill(8)(0.05f)
      base(i % 3) = 1f; base(3 + i % 3) = 0.8f
      base(6) = 0.01f * (i / 3)
      (i.toLong, base)
    }.toDF("vec_id", "embedding")
    val queries = vecs.filter(col("vec_id") < 3)
    val brute = Similarity.hardNegatives(vecs, queries, "vec_id",
      "embedding", "vec_id", k = 5, maxSim = 0.9)
      .as[(Long, Long, Double, Long)].collect().toSet
    // nProbe == nCells: every cell probed -> candidates are all pairs ->
    // identical to the brute scan, rank for rank
    val full = Similarity.ivfHardNegatives(vecs, queries, "vec_id",
      "embedding", "vec_id", k = 5, maxSim = 0.9, nCells = 6, nProbe = 6)
      .as[(Long, Long, Double, Long)].collect().toSet
    assert(full === brute)
    // 4 of 6 probes: the 6 lowest-id centroids split 2 per cluster, so a
    // 4-cell probe always reaches a foreign cluster (below-ceiling pairs)
    val part = Similarity.ivfHardNegatives(vecs, queries, "vec_id",
      "embedding", "vec_id", k = 5, maxSim = 0.9, nCells = 6, nProbe = 4)
      .as[(Long, Long, Double, Long)].collect()
    assert(part.nonEmpty)
    part.foreach { case (q, n, c, _) =>
      assert(BigDecimal(c).setScale(6, BigDecimal.RoundingMode.HALF_UP) < 0.9,
        s"query $q neighbor $n cos $c breaches the ceiling") }
    part.groupBy(_._1).foreach { case (q, rows) =>
      assert(rows.map(_._4).sorted.toSeq === (1L to rows.length).toSeq,
        s"query $q ranks must be contiguous from 1") }
    val universe = Similarity.hardNegatives(vecs, queries, "vec_id",
      "embedding", "vec_id", k = 30, maxSim = 0.9)
      .as[(Long, Long, Double, Long)].collect()
      .map(r => (r._1, r._2, r._3)).toSet
    part.foreach { case (q, n, c, _) =>
      assert(universe.contains((q, n, c)), s"($q,$n) not in the brute set") }
  }

  test("semanticDecontaminate: a planted paraphrase-neighbor drops, " +
    "orthogonal vectors keep, every train row is reported") {
    def v(hot: Int, mag: Float) = {
      val a = Array.fill(8)(0f); a(hot) = mag; a
    }
    val bench = Seq((1L, v(0, 1f)), (2L, v(1, 1f))).toDF("vec_id", "embedding")
    val train = Seq(
      (10L, v(0, 0.5f)),  // parallel to bench 1 -> cos 1.0, contaminated
      (11L, v(2, 1f)),    // orthogonal to both -> cos 0, keeps
      (12L, v(1, 2f)))    // parallel to bench 2 -> contaminated
      .toDF("vec_id", "embedding")
    val got = Similarity.semanticDecontaminate(train, bench, "vec_id",
        "embedding", threshold = 0.9)
      .as[(Long, Double, Boolean)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got === Map(10L -> ((1.0, false)), 11L -> ((0.0, true)),
      12L -> ((1.0, false))))
  }

  test("keepBestRepresentatives: argmax score per cluster, ties to the " +
    "smaller id, singletons keep themselves") {
    val d = Seq((1L, 5L), (2L, 9L), (3L, 9L), (4L, 1L), (5L, 7L), (6L, 7L))
      .toDF("doc_id", "score")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id1", "id2")
    val got = Dedup.keepBestRepresentatives(d, "doc_id", pairs, col("score"))
      .as[(Long, Long, Long, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._4))).toMap
    // cluster {1,2,3}: label 1 (min id), best = 2 (score 9, tie beats 3)
    assert(got(1L) === ((1L, false)) && got(2L) === ((1L, true)) &&
      got(3L) === ((1L, false)))
    // cluster {5,6}: best = 5 (tie, smaller id); singleton 4 keeps itself
    assert(got(5L) === ((5L, true)) && got(6L) === ((5L, false)))
    assert(got(4L) === ((4L, true)))
  }

  // Independent ExactSubstr replica: boolean mask per character (the
  // operators merge intervals instead), plain-Scala string ops. A char is
  // marked iff some l-window covering it has a corpus-wide text count
  // satisfying `keep`.
  private def windowMask(docs: Seq[(Long, String)], l: Int)(
      keep: Int => Boolean): Seq[(Long, String, Array[Boolean])] = {
    val occ = scala.collection.mutable.Map.empty[String, Int]
    for ((_, t) <- docs; i <- 0 to t.length - l)
      occ.updateWith(t.substring(i, i + l))(c => Some(c.getOrElse(0) + 1))
    docs.map { case (d, t) =>
      val mk = Array.fill(t.length)(false)
      for (i <- 0 to t.length - l; if keep(occ(t.substring(i, i + l)));
           j <- i until i + l) mk(j) = true
      (d, t, mk)
    }
  }

  /** The maximal [s, e) runs of marked chars, ascending. */
  private def maskRuns(mk: Array[Boolean]): Seq[(Int, Int)] =
    mk.indices.filter(j => mk(j) && (j == 0 || !mk(j - 1))).map { s =>
      (s, mk.indexWhere(!_, s) match { case -1 => mk.length; case e => e })
    }

  private def exactSubstrBrute(docs: Seq[(Long, String)],
                               l: Int): Map[Long, (String, Long, Long)] =
    windowMask(docs, l)(_ >= 2).map { case (d, t, rm) =>
      val clean = t.indices.collect { case j if !rm(j) => t(j) }.mkString
      d -> ((clean, maskRuns(rm).size.toLong, rm.count(identity).toLong))
    }.toMap

  /** qgc's (mask_spans, n_mask_spans, n_masked_chars, len) per doc. */
  private def exactSubstrMaskBrute(docs: Seq[(Long, String)],
                                   l: Int): Map[Long, (String, Long, Long, Long)] =
    windowMask(docs, l)(_ >= 2).map { case (d, t, mk) =>
      val runs = maskRuns(mk)
      d -> ((runs.map { case (s, e) => s"$s:$e" }.mkString(";"), runs.size.toLong,
        mk.count(identity).toLong, t.length.toLong))
    }.toMap

  /** qfk's (n_unique_spans, n_unique_chars, frac_unique_millis) per doc. */
  private def memorizationBrute(docs: Seq[(Long, String)],
                                l: Int): Map[Long, (Long, Long, Long)] =
    windowMask(docs, l)(_ == 1).map { case (d, t, mk) =>
      val chars = mk.count(identity).toLong
      d -> ((maskRuns(mk).size.toLong, chars,
        if (t.nonEmpty) chars * 1000L / t.length else 0L))
    }.toMap

  private def removeOf(docs: Seq[(Long, String)], l: Int) =
    Dedup.exactSubstrRemove(docs.toDF("doc_id", "text"), "doc_id", "text", minLen = l)
      .as[(Long, String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap

  private def maskOf(docs: Seq[(Long, String)], l: Int) =
    Dedup.exactSubstrMask(docs.toDF("doc_id", "text"), "doc_id", "text", minLen = l)
      .as[(Long, String, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap

  private def memorizationOf(docs: Seq[(Long, String)], l: Int) =
    Dedup.memorizationReport(docs.toDF("doc_id", "text"), "doc_id", "text", windowLen = l)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap

  /** Random docs over a 4-letter alphabet with planted duplicates: a slice
    * of another doc appended to every third doc, and a slice of the doc
    * itself appended to every fifth-plus-one. */
  private def plantedCorpus(rnd: scala.util.Random, n: Int, l: Int): Seq[(Long, String)] = {
    def rs(k: Int) = (0 until k).map(_ => ('a' + rnd.nextInt(4)).toChar).mkString
    val base = (0 until n).map(i => i.toLong -> rs(20 + rnd.nextInt(60)))
    base.map { case (id, t) =>
      if (id % 3 == 0 && t.length > l + 4) {
        val src = base((id.toInt + 7) % n)._2
        val s = rnd.nextInt(math.max(1, src.length - l - 2))
        id -> (t + src.substring(s, s + l + 2))
      } else if (id % 5 == 1 && t.length > l + 3) {
        val s = rnd.nextInt(t.length - l - 2)
        id -> (t + t.substring(s, s + l + 1))
      } else id -> t
    }
  }

  test("exactSubstrMask agrees with exactSubstrRemove: same chars, same " +
    "spans, and excising the mask spans reproduces clean_text") {
    val boiler = "ALL RIGHTS RESERVED COPYRIGHT NOTICE FOOTER TEXT!" // 49 chars
    val docs = Seq(
      (1L, s"unique alpha prose here. $boiler and a tail one."),
      (2L, s"different beta body text. $boiler with other end."),
      (3L, "short doc"),
      (4L, "this exact document appears twice in the corpus verbatim"),
      (5L, "this exact document appears twice in the corpus verbatim"),
      (6L, "wholly original content that shares nothing with anything else")
    ).toDF("doc_id", "text")
    val texts = docs.as[(Long, String)].collect().toMap
    val mask = Dedup.exactSubstrMask(docs, "doc_id", "text", minLen = 40)
      .as[(Long, String, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    val rem = Dedup.exactSubstrRemove(docs, "doc_id", "text", minLen = 40)
      .as[(Long, String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(mask.keySet === rem.keySet)
    mask.foreach { case (id, (spans, nSpans, nChars, len)) =>
      val (clean, nSpansRem, nCharsRem) = rem(id)
      assert(nSpans === nSpansRem, s"doc $id span count")
      assert(nChars === nCharsRem, s"doc $id masked chars")
      assert(len === texts(id).length.toLong, s"doc $id len")
      // applying the mask (deleting its spans) must reproduce clean_text
      val ivs = if (spans.isEmpty) Seq.empty
        else spans.split(";").toSeq.map { sp =>
          val Array(s, e) = sp.split(":"); (s.toLong, e.toLong)
        }
      assert(ivs === ivs.sortBy(identity), s"doc $id spans canonical order")
      val applied = ivs.foldLeft((0L, new StringBuilder)) {
        case ((p, sb), (s, e)) =>
          (e, sb.append(texts(id).substring(p.toInt, s.toInt)))
      } match { case (p, sb) => sb.append(texts(id).substring(p.toInt)).toString }
      assert(applied === clean, s"doc $id mask-apply != clean_text")
    }
    // the boilerplate carriers mask; the short doc and unique doc don't
    assert(mask(1L)._2 >= 1L && mask(2L)._2 >= 1L)
    assert(mask(3L) === (("", 0L, 0L, 9L)))
    assert(mask(6L)._3 === 0L)
  }

  test("exactSubstrRemove: planted cross-doc duplicate excised from BOTH " +
    "docs, short docs untouched, full duplicates emptied") {
    val boiler = "ALL RIGHTS RESERVED COPYRIGHT NOTICE FOOTER TEXT!" // 49 chars
    val d = Seq(
      (1L, s"unique alpha prose here. $boiler and a tail one."),
      (2L, s"different beta body text. $boiler with other end."),
      (3L, "short doc"), // < L, never touched
      (4L, "this exact document appears twice in the corpus verbatim"),
      (5L, "this exact document appears twice in the corpus verbatim"),
      (6L, "wholly original content that shares nothing with anything else")
    ).toDF("doc_id", "text")
    val got = Dedup.exactSubstrRemove(d, "doc_id", "text", minLen = 40)
      .as[(Long, String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    val brute = exactSubstrBrute(Seq(
      1L -> s"unique alpha prose here. $boiler and a tail one.",
      2L -> s"different beta body text. $boiler with other end.",
      3L -> "short doc",
      4L -> "this exact document appears twice in the corpus verbatim",
      5L -> "this exact document appears twice in the corpus verbatim",
      6L -> "wholly original content that shares nothing with anything else"),
      l = 40)
    assert(got === brute)
    assert(got(3L) === (("short doc", 0L, 0L)))
    assert(got(6L)._3 === 0L)
    // the planted boilerplate is gone from both carriers, prose survives
    assert(!got(1L)._1.contains("COPYRIGHT") && got(1L)._1.contains("unique"))
    assert(!got(2L)._1.contains("COPYRIGHT") && got(2L)._1.contains("beta"))
    // verbatim doc pair: both occurrences fully removed (len >= L)
    assert(got(4L) === (("", 1L, 56L)) && got(5L) === (("", 1L, 56L)))
  }

  test("memorizationReport: unique-window spans match a boolean-mask " +
    "replica; duplicated content is excluded; fraction is floor-exact") {
    val rnd = new scala.util.Random(5417)
    val base = (0 until 20).map(i =>
      i.toLong -> (0 until 15 + rnd.nextInt(50))
        .map(_ => ('a' + rnd.nextInt(4)).toChar).mkString)
    // plant a verbatim pair: its windows are NOT unique -> excluded
    val docs = base ++ Seq(100L -> base.head._2, 101L -> "xy")
    val got = memorizationOf(docs, 8)
    assert(got === memorizationBrute(docs, 8))
    // the duplicated doc pair carries zero single-source exposure
    assert(got(0L) === ((0L, 0L, 0L)) && got(100L) === ((0L, 0L, 0L)))
    // sub-window docs report zero (no windows at all)
    assert(got(101L) === ((0L, 0L, 0L)))
  }

  test("exactSubstrRemove differential fuzz: matches the boolean-mask " +
    "replica on random corpora with planted duplicates") {
    val rnd = new scala.util.Random(1912)
    for (round <- 0 until 4) {
      val l = 6 + round * 2 // 6, 8, 10, 12
      val planted = plantedCorpus(rnd, 24, l)
      assert(removeOf(planted, l) === exactSubstrBrute(planted, l), s"round $round (L=$l)")
    }
  }

  test("exactSubstrRemove runs fewer jobs on the sf0.01 documents: one " +
    "h-keyed pass, no broadcast of the exploded grams") {
    val docs = Tables(spark, "/root/testdata/sf0.01", "documents") // schema memoized here
    val jobs = SparkSpec.jobsOf(spark)(
      Dedup.exactSubstrRemove(docs, "doc_id", "text", minLen = 40).collect())
    assert(jobs === 6)
  }

  test("exactSubstrRemove with a hot gram: a 40-char window repeated in more " +
    "than 4,096 docs, past WindowExec's in-memory buffer, equals the " +
    "boolean-mask replica") {
    val boiler = "SUBSCRIBE TO OUR NEWSLETTER FOR MORE NEWS" // 41 chars
    val threshold = spark.conf.get("spark.sql.windowExec.buffer.in.memory.threshold").toInt
    val rnd = new scala.util.Random(4097)
    def rs(k: Int) = (0 until k).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    val docs = (0 until threshold + 700).map { i =>
      i.toLong -> (if (i % 10 == 0) rs(30)
        else rs(10 + rnd.nextInt(30)) + boiler + rs(rnd.nextInt(20)))
    }
    assert(docs.count(_._2.contains(boiler)) > threshold)
    assert(removeOf(docs, 40) === exactSubstrBrute(docs, 40))
  }

  test("the ExactSubstr family under a shuffled join (broadcast joins off) " +
    "equals the boolean-mask replicas: qf8, qgc and qfk") {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val rnd = new scala.util.Random(2718)
    val boiler = "ALL RIGHTS RESERVED COPYRIGHT NOTICE FOOTER TEXT!"
    val docs = plantedCorpus(rnd, 40, 8) ++ Seq(
      100L -> s"unique alpha prose here. $boiler and a tail one.",
      101L -> s"different beta body text. $boiler with other end.",
      102L -> "short", 103L -> "")
    val prior = spark.conf.getAll.get(key)
    spark.conf.set(key, "-1")
    try {
      for (l <- Seq(8, 40)) {
        assert(removeOf(docs, l) === exactSubstrBrute(docs, l), s"qf8 L=$l")
        assert(maskOf(docs, l) === exactSubstrMaskBrute(docs, l), s"qgc L=$l")
        assert(memorizationOf(docs, l) === memorizationBrute(docs, l), s"qfk L=$l")
      }
      val plan = Dedup.exactSubstrRemove(docs.toDF("doc_id", "text"), "doc_id", "text", 8)
      plan.collect()
      assert(!plan.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
        "the spec must exercise the shuffled-join shape")
    } finally prior match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** The window formulation Dedup.excise had before its native kernel —
    * the reference the kernel must equal: two-window gaps-and-islands
    * merge (break iff s > max(prev e)), a (doc, grp) aggregate, and an
    * `aggregate` fold of substr over the collect_list(struct) spans. */
  private def exciseReference(docs: org.apache.spark.sql.DataFrame,
                              dupPos: org.apache.spark.sql.DataFrame,
                              L: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ord = Window.partitionBy("_d").orderBy(col("s"), col("e"))
    val merged = dupPos
      .select(col("_d"), col("pos").as("s"), (col("pos") + L).as("e"))
      .withColumn("brk", when(col("s") > coalesce(
        max(col("e")).over(ord.rowsBetween(Window.unboundedPreceding, -1)),
        lit(-1L)), 1).otherwise(0))
      .withColumn("grp", sum(col("brk")).over(ord))
      .groupBy(col("_d"), col("grp"))
      .agg(min(col("s")).as("s"), max(col("e")).as("e"))
    val perDoc = merged.groupBy(col("_d"))
      .agg(count(lit(1)).cast("long").as("n_spans"),
        sum(col("e") - col("s")).cast("long").as("n_removed"),
        array_sort(collect_list(struct(col("s"), col("e")))).as("_ivs"))
    docs.join(perDoc, Seq("_d"), "left")
      .select(col("_d").as("doc_id"),
        when(col("_ivs").isNull, col("_t")).otherwise(
          aggregate(col("_ivs"),
            struct(lit(0L).as("p"), lit("").as("a")),
            (acc, iv) => struct(
              iv.getField("e").as("p"),
              concat(acc.getField("a"), col("_t").substr(
                (acc.getField("p") + 1).cast("int"),
                (iv.getField("s") - acc.getField("p")).cast("int"))).as("a")),
            acc => concat(acc.getField("a"), col("_t").substr(
              (acc.getField("p") + 1).cast("int"),
              (col("_len") - acc.getField("p")).cast("int")))))
          .as("clean_text"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"),
        concat_ws(";", transform(col("_ivs"),
          iv => concat(iv.getField("s"), lit(":"), iv.getField("e")))).as("spans"))
  }

  test("excise kernel equals the window formulation: touching, overlapping, " +
    "duplicate and end-of-text windows, multi-byte UTF-8, null text, no starts") {
    val L = 3
    // (doc, text, window starts) — starts are code-point offsets
    val cases: Seq[(Long, String, Seq[Long])] = Seq(
      (1L, "abcdefghij", Seq(0L, 3L)),          // touching: s == prev e
      (2L, "abcdefghij", Seq(0L, 2L, 7L)),      // overlapping, then a gap
      (3L, "abcdefghij", Seq(4L, 4L, 5L, 4L)),  // duplicate and nested starts
      (4L, "abcdefghij", Seq(7L)),              // ends at the end of the text
      (5L, "abcdefghij", Seq(0L, 1L, 2L, 3L, 4L, 5L, 6L, 7L)), // everything
      (6L, "h\u00e9llo w\u00f6rld \u00e7a", Seq(1L, 6L, 11L)), // 2-byte chars
      (7L, "a\ud83d\ude00b\ud83d\ude00c\ud83d\ude00d", Seq(1L, 4L)), // 4-byte
      (8L, "x\u4e2d\u6587\ud83d\ude00\u00e9yz", Seq(0L, 2L, 4L)), // mixed
      (9L, null, Seq.empty),                   // null text
      (10L, "no starts at all", Seq.empty),    // no starts
      (11L, "", Seq.empty))
    val rnd = new scala.util.Random(3071)
    val alphabet = Seq("a", "b", " ", "\u00e9", "\u4e2d", "\ud83d\ude00")
    val fuzz = (100L until 160L).map { d =>
      val t = Seq.fill(rnd.nextInt(30))(alphabet(rnd.nextInt(alphabet.size))).mkString
      val n = t.codePointCount(0, t.length)
      val starts = if (n < L) Seq.empty[Long]
        else Seq.fill(rnd.nextInt(6))(rnd.nextInt(n - L + 1).toLong)
      (d, t, starts)
    }
    val all = cases ++ fuzz
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val docs = spark.createDataFrame(spark.sparkContext.parallelize(
        all.map { case (d, t, _) => Row(d, t) }, 3),
        StructType(Seq(StructField("_d", LongType), StructField("_t", StringType))))
      .withColumn("_len", length(col("_t")).cast("long"))
    val dupPos = spark.createDataFrame(spark.sparkContext.parallelize(
        all.flatMap { case (d, _, ps) => ps.map(p => Row(d, p)) }, 3),
        StructType(Seq(StructField("_d", LongType), StructField("pos", LongType))))
    val got = Dedup.excise(docs, dupPos, L, "doc_id").as[(Long, String, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    val ref = exciseReference(docs, dupPos, L)
    val want = ref.select("doc_id", "clean_text", "n_spans", "n_removed").as[(Long, String, Long, Long)]
      .collect().map(r => r._1 -> r).toMap
    assert(got === want)
    assert(got(1L) === ((1L, "ghij", 1L, 6L)), "touching windows merge")
    assert(got(9L) === ((9L, null, 0L, 0L)) && got(10L)._3 === 0L)
    // the span list (the mask / memorization path) from the same merge
    val spans = ref.select("doc_id", "spans").as[(Long, String)].collect().toMap
    for ((d, _, ps) <- all) {
      val arr = org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(ps.toArray)
      val m = graft.functions.MergedSpansExpr.spans(arr, L)
      assert(m.getUTF8String(0).toString === Option(spans(d)).getOrElse(""), s"doc $d")
      assert((m.getLong(1), m.getLong(2)) === ((got(d)._3, got(d)._4)), s"doc $d")
    }
    // interpreted eval agrees with the generated-code path; null text with
    // starts still passes through with counts 0, 0
    import org.apache.spark.sql.catalyst.expressions.Literal
    for ((d, t, ps) <- all) {
      val row = graft.functions.ExciseSpansExpr(Literal.create(t, StringType),
        Literal.create(ps.toArray, ArrayType(LongType)), L).eval()
        .asInstanceOf[org.apache.spark.sql.catalyst.InternalRow]
      val ev = (d, Option(row.getUTF8String(0)).map(_.toString).orNull,
        row.getLong(1), row.getLong(2))
      if (t != null) assert(ev === got(d), s"doc $d interpreted")
      else assert(ev === ((d, null, 0L, 0L)))
    }
    assert(graft.functions.ExciseSpansExpr.excise(null,
      org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(Array(0L)), L)
      .getLong(1) === 0L)
  }

  /** The rolling-hash formulation Dedup.rollingGramHashes had before the
    * native window kernel — the reference the kernel must equal bit for
    * bit: one interpreted lambda per character position hashing
    * substr(_t, i + 1, L). */
  private def gramHashesReference(docs: org.apache.spark.sql.DataFrame,
                                  L: Int): org.apache.spark.sql.DataFrame =
    docs.select(col("_d"),
        posexplode(when(length(col("_t")) >= L,
          transform(sequence(lit(0L), length(col("_t")).cast("long") - L), i =>
            graft.functions.Fnv1a64Expr(col("_t").substr((i + 1).cast("int"), lit(L)))))
          .otherwise(array().cast("array<bigint>"))))
      .toDF("_d", "pos", "h")
      .withColumn("pos", col("pos").cast("long"))

  /** 400 seeded texts of 0-60 code points over 1-, 2-, 3- and 4-byte
    * UTF-8, tabs and NULs, plus null, empty, and texts around L. */
  private def gramHashTexts: Seq[(Long, String)] = {
    val rnd = new scala.util.Random(4057)
    val alphabet = Seq("a", "b", "c", " ", "\t", "\u0000", "\u00e9", "\u00df",
      "\u4e2d", "\u20ac", "\ud83d\ude00", "\ud834\udd1e")
    val fuzz = (0L until 400L).map { d =>
      d -> Seq.fill(rnd.nextInt(61))(alphabet(rnd.nextInt(alphabet.size))).mkString
    }
    fuzz ++ Seq(1000L -> null, 1001L -> "", 1002L -> "x", 1003L -> "xy",
      1004L -> "abcde", 1005L -> "\u00e9\u4e2d\ud83d\ude00\u00e9\u4e2d",
      1006L -> ("ab\u00e9" * 20), 1007L -> ("\ud83d\ude00" * 40))
  }

  test("GramHashesExpr equals the per-position lambda bit for bit, on the " +
    "generated-code and interpreted paths (fuzzed multi-byte UTF-8, null, " +
    "empty, len < L, len == L, L = 1)") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types._
    val texts = gramHashTexts
    val docs = spark.createDataFrame(spark.sparkContext.parallelize(
        texts.map { case (d, t) => Row(d, t) }, 3),
      StructType(Seq(StructField("_d", LongType), StructField("_t", StringType))))
    for (l <- Seq(1, 2, 5, 40)) {
      val want = gramHashesReference(docs, l).as[(Long, Long, Long)].collect()
      val got = docs.select(col("_d"), posexplode(graft.functions.GramHashesExpr(col("_t"), l)))
        .as[(Long, Int, Long)].collect().map { case (d, p, h) => (d, p.toLong, h) }
      assert(got.sorted.toSeq === want.sorted.toSeq, s"L=$l")
      assert(want.length > 500, s"L=$l: the fuzz must produce windows")
      val byDoc = want.groupBy(_._1).map { case (d, rs) => d -> rs.sortBy(_._2).map(_._3).toSeq }
      for ((d, t) <- texts) {
        val ev = graft.functions.GramHashesExpr(Literal.create(t, StringType), l, withXx = false)
          .eval().asInstanceOf[ArrayData].toLongArray().toSeq
        assert(ev === byDoc.getOrElse(d, Seq.empty), s"doc $d, L=$l interpreted")
      }
    }
    val one = docs.filter(col("_d") >= 1000L)
      .select(col("_d"), size(graft.functions.GramHashesExpr(col("_t"), 5)).as("n"))
      .as[(Long, Int)].collect().toMap
    assert(one === Map(1000L -> 0, 1001L -> 0, 1002L -> 0, 1003L -> 0, 1004L -> 1,
      1005L -> 1, 1006L -> 56, 1007L -> 36), "null, empty and len < L give none; len == L one")
  }

  test("GramHashesExpr h2 equals xxhash64(substr(...)): charGramFingerprints " +
    "keeps GramIndex's persisted (h, h2), carry columns included") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types._
    val texts = gramHashTexts
    val docs = spark.createDataFrame(spark.sparkContext.parallelize(
        texts.map { case (d, t) => Row(d, t, (d % 3).toInt) }, 3),
      StructType(Seq(StructField("_d", LongType), StructField("_t", StringType),
        StructField("_slice", IntegerType))))
      .withColumn("_len", length(col("_t")).cast("long"))
    for (l <- Seq(1, 5, 40)) {
      val g = col("_t").substr((col("pos") + 1).cast("int"), lit(l))
      val want = gramHashesReference(docs, l)
        .join(docs.select("_d", "_t", "_slice"), "_d")
        .select(col("_slice"), col("_d"), col("pos"),
          graft.functions.Fnv1a64Expr(g).as("h"), xxhash64(g).as("h2"))
        .as[(Int, Long, Long, Long, Long)].collect()
      val fp = Dedup.charGramFingerprints(docs, l, carryCols = Seq("_slice"))
      assert(fp.columns.toSeq === Seq("_slice", "_d", "pos", "h", "h2"))
      val got = fp.as[(Int, Long, Long, Long, Long)].collect()
      assert(got.sorted.toSeq === want.sorted.toSeq, s"L=$l")
      val byDoc = want.groupBy(_._2).map { case (d, rs) =>
        d -> rs.sortBy(_._3).map(r => (r._4, r._5)).toSeq }
      for ((d, t) <- texts) {
        val ev = graft.functions.GramHashesExpr(Literal.create(t, StringType), l, withXx = true)
          .eval().asInstanceOf[ArrayData]
        val pairs = (0 until ev.numElements()).map { i =>
          val r = ev.getStruct(i, 2); (r.getLong(0), r.getLong(1)) }
        assert(pairs === byDoc.getOrElse(d, Seq.empty), s"doc $d, L=$l interpreted")
      }
    }
  }

  test("GramHashesExpr clamps a last code point whose bytes run past the " +
    "end of the text") {
    import org.apache.spark.sql.catalyst.expressions.{Literal, XXH64}
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types._
    import org.apache.spark.unsafe.Platform
    import org.apache.spark.unsafe.types.UTF8String
    // "ab", U+00E9 (2 bytes), then the first byte of U+20AC (3 bytes) alone
    val bytes = Array[Byte](0x61, 0x62, 0xc3.toByte, 0xa9.toByte, 0xe2.toByte)
    // code-point byte offsets 0, 1, 2, 4; the last one is cut short at 5
    val cps = Seq(0, 1, 2, 4, 5)
    def fnv(from: Int, until: Int) = graft.functions.Fnv1a64Expr.hash(bytes, from, until)
    def xx(from: Int, until: Int) =
      XXH64.hashUnsafeBytes(bytes, Platform.BYTE_ARRAY_OFFSET + from, until - from, 42L)
    val text = UTF8String.fromBytes(bytes)
    assert(text.numChars() === 4)
    for (l <- 1 to 5) {
      val want = (0 to 4 - l).map(i => (fnv(cps(i), cps(i + l)), xx(cps(i), cps(i + l))))
      // generated-code path: a binary column cast to string keeps the bytes
      val coded = Seq(bytes).toDF("b").select(col("b").cast("string").as("_t"))
        .select(graft.functions.GramHashesExpr.withXxhash(col("_t"), l).as("g"))
        .select(col("g.h"), col("g.h2")).as[(Seq[Long], Seq[Long])].collect().head
      assert(coded._1.zip(coded._2) === want, s"L=$l generated code")
      val ev = graft.functions.GramHashesExpr(Literal.create(text, StringType), l, withXx = false)
        .eval().asInstanceOf[ArrayData].toLongArray().toSeq
      assert(ev === want.map(_._1), s"L=$l interpreted")
    }
  }

  test("GramWindowExpr, the ExactSubstr confirm window, reads exactly the " +
    "bytes its hash covered when the last code point is cut short and the " +
    "buffer runs on past the text") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types._
    import org.apache.spark.unsafe.types.UTF8String
    import graft.functions.{Fnv1a64Expr, GramHashesExpr, GramWindowExpr}
    // "ab", U+00E9, the first byte of U+20AC alone; then "zzz" past the end
    val bytes = Array[Byte](0x61, 0x62, 0xc3.toByte, 0xa9.toByte, 0xe2.toByte)
    val text = UTF8String.fromBytes(bytes ++ "zzz".getBytes("UTF-8"), 0, bytes.length)
    val cps = Seq(0, 1, 2, 4, 5)
    for (l <- 1 to 4; pos <- 0 to 4 - l) {
      val want = bytes.slice(cps(pos), cps(pos + l)).toSeq
      val hash = GramHashesExpr.hashes(text, l, withXx = false).getLong(pos)
      val ev = GramWindowExpr(Literal.create(text, StringType), Literal(pos), l).eval()
        .asInstanceOf[UTF8String].getBytes.toSeq
      assert(ev === want, s"L=$l pos=$pos interpreted")
      assert(Fnv1a64Expr.hash(ev.toArray, 0, ev.length) === hash, s"L=$l pos=$pos hash")
      val coded = Seq((bytes, pos.toLong)).toDF("b", "pos")
        .select(GramWindowExpr(col("b").cast("string"), col("pos"), l).cast("binary"))
        .as[Array[Byte]].collect().head.toSeq
      assert(coded === want, s"L=$l pos=$pos generated code")
    }
  }
}
