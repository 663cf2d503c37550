package graft

import graft.queries.Registry

/** Profiling main for the driver-loop iteration fixed costs. A/Bs the
  * small-loop execution profile (Iterations.withLoopProfile) via its
  * `graft.loop.bigRows` system property — external conf knobs would be
  * clobbered by the profile inside the loop, so on/off via the property
  * is the only honest comparison — and breaks the SSSP gate into build
  * cost vs per-round cost.
  *
  * Usage: SPARK_GRAFT_SF_DIR=... sbt "runMain graft.IterBench"
  * Section select: SPARK_GRAFT_ITERBENCH=loops|bpe|bpescale|bpedrop|tok|unigram|
  * wpencode|simhash|xmodal|scopedlsh|grank|grankmany|chunkclaim|shidx|lshidx|ivfidx|gramidx|exactsubstr|dsir|streampack|
  * streamsample|stream|streamamort|streamloop (default loops — the
  * bpe/bpescale sections run ~500-merge tokenizer trainings and are
  * minutes long by design; results are recorded in BASELINE.md).
  *
  * SPARK_GRAFT_MULT=k scales the lshidx/ivfidx corpus k× in-bench
  * (fixtures untouched): documents replicate with id offsets and a
  * per-replica letter-rotation `translate`, which preserves each
  * replica's internal near-dup structure (translate is a bijection
  * applied uniformly) while destroying cross-replica shingle overlap —
  * so dup density stays LINEAR in k, the way a real growing corpus
  * behaves, not quadratic the way naive replication would. Embeddings
  * replicate with vec_id offsets. The ingest/search batch stays FIXED
  * size as the corpus grows — measuring exactly the asymptotic claim
  * (ingest O(batch+collisions) vs re-dedup O(corpus); search
  * O(corpus·nProbe/nCells) vs refit O(corpus·nCells)).
  */
object IterBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val section = sys.env.getOrElse("SPARK_GRAFT_ITERBENCH", "loops")
    val mult = Knobs.envPositiveInt("SPARK_GRAFT_MULT", 1)
    val spark = GraftSession(GraftSession.cpus("32"))
    // warm-up: JVM + codegen + scan
    spark.read.parquet(s"$sfDir/lineitem.parquet")
      .groupBy("l_returnflag").count().collect()

    def timed(label: String)(body: => Long): Unit = {
      val t0 = System.nanoTime()
      val n = body
      println(f"[iterbench] $label%-40s ${(System.nanoTime() - t0) / 1e9}%6.2f s  (rows=$n)")
    }

    // BPE tokenizer training at vocab scale (round-9 VERDICT item #4): the
    // batched trainer's reason to exist is cutting driver round-trips from
    // nMerges to ~nMerges/batch; this measures exactly that amortization.
    // batch=1 IS the classic top-1 loop (contractually identical), so the
    // batch=1 row doubles as the bpeTrain baseline.
    if (section == "bpe") {
      val nMerges = Knobs.envPositiveInt("SPARK_GRAFT_BPE_MERGES", 512)
      import graft.operators.TextPipeline
      val docs = Tables(spark, sfDir, "documents").cache()
      docs.count()
      for (batch <- Seq(64, 16, 1)) {
        timed(f"bpeTrainBatched nMerges=$nMerges batch=$batch%-3d") {
          val merges = TextPipeline.bpeTrainBatched(docs, "text", nMerges, batch)
          val rounds = if (merges.isEmpty) 0 else merges.map(_._1).max
          println(s"[iterbench]   -> ${merges.size} merges in $rounds driver rounds")
          merges.size.toLong
        }
      }
      docs.unpersist()
      spark.stop()
      return
    }

    // SimHash signature pass: boxed-Seq UDF vs the SimHashExpr codegen
    // kernel (round 16 — the last dedup-family kernel off the UDF path).
    // Same tokens, same corpus, replicated SPARK_GRAFT_MULT× in-bench so
    // the per-row cost dominates scan fixed costs; two passes each so the
    // second row is the warm reading. Results in BASELINE.md round 16.
    if (section == "simhash") {
      import org.apache.spark.sql.functions._
      import graft.functions.{Hashes, SimHashExpr, TextFunctions}
      val docs = Tables(spark, sfDir, "documents")
        .select(col("doc_id"), col("text"),
          explode(sequence(lit(1), lit(mult))).as("rep"))
        .select(col("doc_id") * mult + col("rep"), col("text"))
        .toDF("doc_id", "text").cache()
      val n = docs.count()
      val toks = TextFunctions.tokens(col("text"))
      for (round <- 1 to 2) {
        // modular checksum — a raw sum of 64-bit signatures overflows ANSI
        timed(s"simhash UDF  mult=$mult round=$round") {
          docs.select(Hashes.simhashUdf(toks).as("h"))
            .agg(sum(pmod(col("h"), lit(1000000007L)))).head(); n
        }
        timed(s"simhash expr mult=$mult round=$round") {
          docs.select(SimHashExpr(toks).as("h"))
            .agg(sum(pmod(col("h"), lit(1000000007L)))).head(); n
        }
        // the production shape: raw split feeds the kernel (empty tokens
        // skip inside), no ArrayFilter HOF — one codegen span end to end
        timed(s"simhash expr+split mult=$mult round=$round") {
          docs.select(SimHashExpr(split(col("text"), "\\s+")).as("h"))
            .agg(sum(pmod(col("h"), lit(1000000007L)))).head(); n
        }
      }
      docs.unpersist()
      spark.stop()
      return
    }

    // Grouped rank at DOMINANT-GROUP scale (the round-16 groupedRank
    // promotion): a one-language corpus funnels a language-keyed
    // row_number window through ONE task regardless of cluster size;
    // groupedRank range-partitions the group across every core. 95% of
    // rows sit in one group, the rest across 50 small groups. mult
    // scales the row count.
    // Scoped vs global dedup at k snapshots (round-18
    // minhashDupPairsScoped — the FineWeb cost argument): the corpus
    // replicates VERBATIM k times (snapshots genuinely re-crawl the
    // same pages, unlike lshidx's translate device), so global dedup
    // must discover k·(k−1)/2 cross-snapshot duplications per page
    // while per-snapshot dedup does k independent 1×-sized jobs —
    // quadratic vs linear in snapshot count, the reason the recipe
    // scopes.
    if (section == "scopedlsh") {
      import org.apache.spark.sql.functions._
      import graft.operators.Dedup
      val docs = Tables(spark, sfDir, "documents")
        .select(col("doc_id"), col("text"),
          explode(sequence(lit(0), lit(mult - 1))).as("snap"))
        .select((col("doc_id") * mult + col("snap")).as("doc_id"),
          col("text"), col("snap").cast("string").as("snap")).cache()
      println(s"[iterbench] corpus: ${docs.count()} docs (mult=$mult snapshots)")
      for (round <- 1 to 2) {
        timed(s"scoped (per-snapshot) dedup mult=$mult round=$round") {
          Dedup.minhashDupPairsScoped(docs, "doc_id", "text", "snap",
            n = 2, k = 128, bands = 64, threshold = 0.5).count()
        }
        timed(s"global dedup            mult=$mult round=$round") {
          Dedup.minhashDupPairs(docs, "doc_id", "text",
            n = 2, k = 128, bands = 64, threshold = 0.5).count()
        }
      }
      docs.unpersist(); spark.stop(); return
    }

    // Cross-modal alignment scoring at k× candidates (round-18
    // CrossModal.alignPairs): the CLIP-filter pass is ONE codegen'd
    // scalar kernel over (img, cap) vector pairs — this rung pins the
    // linear slope of the scored pass (cap = reversed img vector, so
    // the full dot + norm arithmetic runs on varied values with zero
    // fixture synthesis cost).
    if (section == "xmodal") {
      import org.apache.spark.sql.functions._
      val pairs = Tables(spark, sfDir, "embeddings")
        .select(col("vec_id"), col("embedding"),
          explode(sequence(lit(1), lit(mult))).as("rep"))
        .select((col("vec_id") * mult + col("rep")).as("pair_id"),
          col("embedding").as("img_vec"),
          reverse(col("embedding")).as("cap_vec")).cache()
      val n = pairs.count()
      for (round <- 1 to 2) {
        timed(s"xmodal alignPairs mult=$mult n=$n round=$round") {
          graft.operators.CrossModal
            .alignPairs(pairs, "img_vec", "cap_vec", 0.8)
            .agg(sum(when(col("is_aligned"), 1L).otherwise(0L)),
              sum(pmod((col("cos_sim") * 1e6).cast("long"),
                lit(1000000007L)))).head(); n
        }
      }
      pairs.unpersist(); spark.stop(); return
    }

    if (section == "grank") {
      import org.apache.spark.sql.functions._
      val n = 2000000L * mult
      val df = spark.range(n).select(col("id"),
        when(pmod(col("id"), lit(20L)) =!= 0L, lit("dominant"))
          .otherwise(concat(lit("g"), pmod(col("id"), lit(50L)))).as("g"),
        pmod(xxhash64(col("id")), lit(1000000L)).as("score")).cache()
      df.count()
      for (round <- 1 to 2) {
        timed(s"window row_number  n=$n round=$round") {
          val w = org.apache.spark.sql.expressions.Window.partitionBy("g")
            .orderBy(col("score"), col("id"))
          df.withColumn("rk", row_number().over(w))
            .agg(sum(pmod(col("rk"), lit(1000000007L)))).head(); n
        }
        timed(s"groupedRank        n=$n round=$round") {
          operators.Partitioning.groupedRank(df, "g",
            Seq(col("score").asc, col("id").asc), "rk")
            .agg(sum(pmod(col("rk"), lit(1000000007L)))).head(); n
        }
        timed(s"groupedRankAdaptive n=$n round=$round") {
          operators.Partitioning.groupedRankAdaptive(df, "g",
            Seq(col("score").asc, col("id").asc), "rk")
            .agg(sum(pmod(col("rk"), lit(1000000007L)))).head(); n
        }
      }
      df.unpersist()
      spark.stop()
      return
    }

    // Grouped rank at MANY-SMALL-GROUPS scale (the round-16 verdict's
    // O(G) driver-state hazard): G = 1M distinct groups of ~2·mult rows
    // each — the registered-domain shape a per-domain quota cap sees at
    // web scale. Here the window hash-partitions G groups with zero
    // driver state while groupedRank's phase A collects ~G rows to the
    // driver; groupedRankAdaptive must route to the window. Measured
    // next to the `grank` section's dominant-group rung (where
    // groupedRank wins 8-11x), this pins BOTH sides of the route.
    if (section == "grankmany") {
      import org.apache.spark.sql.functions._
      val g = 1000000L
      val n = 2000000L * mult
      val df = spark.range(n).select(col("id"),
        concat(lit("d"), pmod(xxhash64(col("id")), lit(g))).as("g"),
        pmod(xxhash64(col("id"), lit(7)), lit(1000000L)).as("score")).cache()
      df.count()
      for (round <- 1 to 2) {
        timed(s"window row_number  n=$n G=$g round=$round") {
          val w = org.apache.spark.sql.expressions.Window.partitionBy("g")
            .orderBy(col("score"), col("id"))
          df.withColumn("rk", row_number().over(w))
            .agg(sum(pmod(col("rk"), lit(1000000007L)))).head(); n
        }
        timed(s"groupedRank        n=$n G=$g round=$round") {
          operators.Partitioning.groupedRank(df, "g",
            Seq(col("score").asc, col("id").asc), "rk")
            .agg(sum(pmod(col("rk"), lit(1000000007L)))).head(); n
        }
        timed(s"groupedRankAdaptive n=$n G=$g round=$round") {
          operators.Partitioning.groupedRankAdaptive(df, "g",
            Seq(col("score").asc, col("id").asc), "rk")
            .agg(sum(pmod(col("rk"), lit(1000000007L)))).head(); n
        }
      }
      df.unpersist()
      spark.stop()
      return
    }

    // Price the qer/qfz collision armor (round-16 VERDICT watch item):
    // the (h, h2) double-fingerprint chunk claim vs a single-fingerprint
    // twin — same ordered drain, same chunker, same sink; the deltas are
    // the xxhash64 column through shuffle+state and ListState-contains
    // vs a ValueState flag. Both drain the full documents table as one
    // file-stream replay through the RocksDB state store.
    if (section == "chunkclaim") {
      import org.apache.spark.sql.functions._
      import spark.implicits._
      import graft.streaming.{EventTimeOps, StreamingDedup}
      spark.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      def chunkStream = {
        graft.operators.TextPipeline.chunk(Tables.stream(spark, sfDir, "documents"),
          "doc_id", "text", chunkSize = 8, overlap = 0)
          .withColumn("ts", timestamp_micros(col("doc_id") * 1000000L))
          .withWatermark("ts", "0 seconds")
      }
      def drive(df: org.apache.spark.sql.DataFrame, name: String): Long = {
        val prev = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        try {
          val q = df.writeStream.outputMode("append").format("memory")
            .queryName(name).start()
          try q.processAllAvailable() finally q.stop()
        } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
        spark.table(name).count()
      }
      for (round <- 1 to 2) {
        timed(s"double (h,h2) claim round=$round") {
          val chunks = chunkStream.select(
            graft.functions.Fnv1a64Expr(col("chunk_text")).as("key"),
            xxhash64(col("chunk_text")).as("key2"),
            col("doc_id").as("docId"),
            col("chunk_idx").cast("long").as("chunkIdx"),
            col("chunk_text").as("chunkText"))
            .as[StreamingDedup.ChunkRow]
          drive(EventTimeOps.ordered(chunks,
            (r: StreamingDedup.ChunkRow) => r.key,
            new StreamingDedup.ChunkClaim).toDF(), s"ccd$round")
        }
        timed(s"single h claim      round=$round") {
          val chunks = chunkStream.select(
            graft.functions.Fnv1a64Expr(col("chunk_text")).as("key"),
            col("doc_id").as("docId"),
            col("chunk_idx").cast("long").as("chunkIdx"),
            col("chunk_text").as("chunkText"))
            .as[SingleChunkRow]
          drive(EventTimeOps.ordered(chunks, (r: SingleChunkRow) => r.key,
            new SingleClaim).toDF(), s"ccs$round")
        }
      }
      spark.stop()
      return
    }

    // Hash-derived pseudo-word corpus over the sf documents' doc_ids:
    // vocab-scale tokenizer benching — the natural fixture's 31-word
    // vocabulary exhausts BPE at ~110 merges, so merge/vocab-scale costs
    // are unmeasurable on it. Each doc becomes `wordsPerDoc` base-26
    // words derived from xxhash64(doc_id, i) (< 26^5, so 1-5 letters):
    // ~uniformly distinct words, which is exactly the hard regime for
    // the distinct-word vocabulary frame the whole tokenizer family
    // computes on. Fixtures untouched.
    def pseudoCorpus(wordsPerDoc: Int): org.apache.spark.sql.DataFrame = {
      import org.apache.spark.sql.functions._
      Tables(spark, sfDir, "documents").select(col("doc_id"),
        array_join(transform(sequence(lit(1), lit(wordsPerDoc)), i =>
          translate(
            conv(pmod(xxhash64(col("doc_id"), i), lit(11881376L)).cast("string"),
              10, 26),
            "0123456789ABCDEFGHIJKLMNOP", "abcdefghijklmnopqrstuvwxyz")),
          " ").as("text"))
    }

    // BPE training at MERGE + VOCAB scale (round-9 VERDICT item #4): the
    // pseudo-word corpus sustains 500+ merges, so the batched trainer's
    // driver-round amortization is finally measurable where it matters.
    if (section == "bpescale") {
      import graft.operators.TextPipeline
      val nMerges = Knobs.envPositiveInt("SPARK_GRAFT_BPE_MERGES", 512)
      val docs = pseudoCorpus(64).cache()
      docs.count()
      import org.apache.spark.sql.functions._
      val nWords = docs.select(explode(split(col("text"), " "))).distinct().count()
      println(s"[iterbench] pseudo-corpus: $nWords distinct words")
      val batches = sys.env.getOrElse("SPARK_GRAFT_BPE_BATCHES", "64,16,1")
        .split(",").toSeq.map(_.trim.toInt)
      for (batch <- batches) {
        timed(f"bpeTrainBatched(pseudo) nMerges=$nMerges batch=$batch%-3d") {
          val merges = TextPipeline.bpeTrainBatched(docs, "text", nMerges, batch)
          val rounds = if (merges.isEmpty) 0 else merges.map(_._1).max
          println(s"[iterbench]   -> ${merges.size} merges in $rounds driver rounds")
          merges.size.toLong
        }
      }
      docs.unpersist()
      spark.stop()
      return
    }

    // WordPiece ENCODE at vocabulary scale: inline-literal fold (cost
    // grows with |vocab| — six copies of the vocab array in the
    // expression) vs the trie expression (|vocab|-independent). The 30k
    // row is the BERT-scale regime only the trie can express.
    if (section == "wpencode") {
      import graft.operators.TextPipeline
      val docs = pseudoCorpus(64).cache()
      docs.count()
      def vocabOf(v: Int): Seq[String] = {
        val letters = ('a' to 'z').map(_.toString)
        val two = for (a <- letters; b <- letters) yield a + b
        val three = for (a <- letters; b <- letters; c <- letters) yield a + b + c
        (letters ++ letters.map("##" + _) ++ two ++ two.map("##" + _) ++
          three ++ three.map("##" + _)).take(v)
      }
      val inlineSizes = sys.env.get("SPARK_GRAFT_WPINLINE")
        .map(s => Seq(s.toInt)).getOrElse(Seq(100, 500, 1500))
      for (round <- 1 to 2) {
        for (v <- inlineSizes) {
          timed(s"wordpieceEncode inline, $v pieces, round $round") {
            try TextPipeline.wordpieceEncode(docs, "doc_id", "text",
              vocabOf(v)).count()
            catch { case e: Throwable =>
              println(s"[iterbench]   -> FAILED: ${e.getClass.getSimpleName}"); 0L
            }
          }
        }
        for (v <- Seq(100, 500, 1500, 30000)) {
          timed(s"wordpieceEncodeTrie, $v pieces, round $round") {
            TextPipeline.wordpieceEncodeTrie(docs, "doc_id", "text",
              vocabOf(v)).count()
          }
        }
        // round 15: the weighted-Viterbi DP got the same inline→indexed
        // promotion (MinCostEncodeKernel) — A/B at the same vocab ladder
        for (v <- inlineSizes) {
          timed(s"minCostEncode literal, $v pieces, round $round") {
            TextPipeline.minCostEncode(docs, "doc_id", "text",
              vocabOf(v).map(_ -> 1L), unkCost = 1L,
              forceIndexed = Some(false)).count()
          }
        }
        for (v <- Seq(100, 500, 1500, 30000)) {
          timed(s"minCostEncode indexed, $v pieces, round $round") {
            TextPipeline.minCostEncode(docs, "doc_id", "text",
              vocabOf(v).map(_ -> 1L), unkCost = 1L,
              forceIndexed = Some(true)).count()
          }
        }
      }
      docs.unpersist()
      spark.stop()
      return
    }

    // Persistent-index amortization A/B (the reason LshIndex exists): dedup
    // of ONE arriving batch (slice 9 of 10) against a 9/10-slice corpus —
    // (a) incremental ingest into the prebuilt bucketed index vs (b) the
    // full-corpus one-shot rebuild a pipeline without an index re-pays per
    // delivery. Index build time is reported separately: it is the one-off
    // cost the steady state amortizes away.
    // k×-replicated documents (id offsets + per-replica letter rotation —
    // see object doc): the fixed-size ingest batch and the re-dedup corpus
    // for the persistent-index asymptotics measurement
    def scaledDocs(): (org.apache.spark.sql.DataFrame, Long) = {
      import org.apache.spark.sql.functions._
      val docs = Tables(spark, sfDir, "documents")
      val span = docs.agg(max(col("doc_id"))).head().getLong(0) + 1L
      val alpha = "etaoinshrdlu"
      val scaled = (0 until mult).map { m =>
        val r = m % alpha.length
        val rot = alpha.drop(r) + alpha.take(r)
        docs.select((col("doc_id") + lit(m * span)).as("doc_id"),
          (if (m == 0) col("text")
           else translate(col("text"), alpha, rot)).as("text"))
      }.reduce(_ unionByName _)
      (scaled.cache(), span)
    }

    // Data-selection slopes: dsirSelect's only corpus-scale work is two
    // linear scans (bucket counts, then scoring) — the shuffle is ≤512
    // rows per partition regardless of corpus size and the top-k is
    // TakeOrdered — so time should grow linearly with mult, no worse.
    // trimPeriodicRepeats is a zero-shuffle narrow map: same expectation.
    if (section == "dsir") {
      import graft.operators.{DataSelection, TextPipeline}
      import org.apache.spark.sql.functions.{col, sum}
      val (docs, _) = scaledDocs()
      println(s"[iterbench] corpus: ${docs.count()} docs (mult=$mult)")
      val isTarget = col("doc_id") % 5 === 0
      for (round <- 1 to 2) {
        timed(s"dsir ilr table (two scans + <=512-row shuffle, mult=$mult), round $round") {
          DataSelection.dsirIlrTable(docs, "text", isTarget, buckets = 512).size.toLong
        }
        timed(s"dsir select top-100 end-to-end (mult=$mult), round $round") {
          DataSelection.dsirSelect(docs, "doc_id", "text", isTarget,
            buckets = 512, k = 100).count()
        }
        timed(s"periodic repeat trim, full corpus (mult=$mult), round $round") {
          TextPipeline.trimPeriodicRepeats(docs, "doc_id", "text", k = 2)
            .agg(sum(col("n_dropped"))).head().getLong(0)
        }
        timed(s"chunk dedup keep-first, full corpus (mult=$mult), round $round") {
          graft.operators.Dedup.dedupChunksKeepFirst(docs, "doc_id", "text",
            chunkTokens = 8).count()
        }
        // ordering/batching family (gates qes/qeu/qew): stride interleave
        // is a group-window + range sort + two-phase index scan (expect
        // n log n, sort-dominated); FIM is a pure narrow map (expect scan
        // speed, linear); length batching is one bucket-keyed window
        timed(s"stride interleave, full corpus (mult=$mult), round $round") {
          graft.operators.Sampling.strideInterleave(
            docs.withColumn("lang", (col("doc_id") % 5).cast("string")),
            "doc_id", "lang").count()
        }
        timed(s"FIM transform, full corpus (mult=$mult), round $round") {
          TextPipeline.fimTransform(docs, "doc_id", "text", rate = 0.5)
            .agg(sum(col("n_toks"))).head().getLong(0)
        }
        timed(s"T5 span corruption, full corpus (mult=$mult), round $round") {
          TextPipeline.spanCorrupt(docs, "doc_id", "text")
            .agg(sum(col("n_masked"))).head().getLong(0)
        }
        timed(s"length-bucket batches, full corpus (mult=$mult), round $round") {
          TextPipeline.lengthBucketBatches(docs, "doc_id", "text").count()
        }
      }
      docs.unpersist()
      spark.stop()
      return
    }

    // ExactSubstr dedup slopes (gate qf8): every stage is linear — gram
    // hashing is a narrow pass, the count aggregate shuffles 8-byte keys
    // with map-side partials, the text confirm moves only duplicated-gram
    // rows (linear dup density under the replication device), and the
    // interval merge + rebuild key on the doc. Expect wall ~linear in
    // mult with no pairwise knee. dedupChunksKeepFirst rides along as the
    // aligned-granularity twin for a same-corpus comparison.
    // Composed-chain slope (round-12 VERDICT next #5): qfm's curation_v2
    // chain END TO END — ExactSubstr clean (L=40) → ≥20-token viability
    // filter → boundary-preserving 64-token packing — at mult-scaled
    // corpora. Per-operator slopes are measured elsewhere; this measures
    // the composition, where cross-stage cache/spill pressure could make
    // the chain diverge from the per-stage sum. Per-stage rows isolate
    // where any divergence lands.
    if (section == "curation") {
      import org.apache.spark.sql.functions.{col, size, sum}
      val (docs, _) = scaledDocs()
      println(s"[iterbench] corpus: ${docs.count()} docs (mult=$mult)")
      for (round <- 1 to 2) {
        timed(s"chain clean->filter->pack end-to-end (mult=$mult), round $round") {
          val cleaned = graft.operators.Dedup.exactSubstrRemove(
              docs, "doc_id", "text", minLen = 40)
            .select(col("doc_id"), col("clean_text").as("text"))
          val kept = cleaned.filter(
            size(graft.functions.TextFunctions.tokens(col("text"))) >= 20)
          graft.operators.TextPipeline.packSequencesWithBoundaries(
            kept, "doc_id", "text", seqLen = 64).count()
        }
        timed(s"stage 1 alone: exactSubstrRemove L=40 (mult=$mult), round $round") {
          graft.operators.Dedup.exactSubstrRemove(docs, "doc_id", "text",
              minLen = 40)
            .agg(sum(col("n_removed"))).head().getLong(0)
        }
        val cleanedCk = graft.operators.Dedup.exactSubstrRemove(
            docs, "doc_id", "text", minLen = 40)
          .select(col("doc_id"), col("clean_text").as("text"))
          .localCheckpoint() // materialized OUTSIDE the timer
        timed(s"stages 2+3 alone on materialized clean (mult=$mult), round $round") {
          val kept = cleanedCk.filter(
            size(graft.functions.TextFunctions.tokens(col("text"))) >= 20)
          graft.operators.TextPipeline.packSequencesWithBoundaries(
            kept, "doc_id", "text", seqLen = 64).count()
        }
      }
      docs.unpersist()
      spark.stop()
      return
    }

    if (section == "exactsubstr") {
      import org.apache.spark.sql.functions.{col, sum}
      val (docs, _) = scaledDocs()
      println(s"[iterbench] corpus: ${docs.count()} docs (mult=$mult)")
      for (round <- 1 to 2) {
        timed(s"exactSubstrRemove L=40, full corpus (mult=$mult), round $round") {
          graft.operators.Dedup.exactSubstrRemove(docs, "doc_id", "text",
              minLen = 40)
            .agg(sum(col("n_removed"))).head().getLong(0)
        }
        timed(s"chunk dedup keep-first twin (mult=$mult), round $round") {
          graft.operators.Dedup.dedupChunksKeepFirst(docs, "doc_id", "text",
            chunkTokens = 8).count()
        }
      }
      docs.unpersist()
      spark.stop()
      return
    }

    // Streaming priority-sample slopes (gate qet): per-shard state is a
    // FIXED k-row list regardless of corpus size and emission is
    // entries-only (O(k log n) expected per shard), so a mult-scaled
    // corpus should cost linearly more scan time over an essentially
    // constant state/commit overhead — the candidate count should grow
    // only logarithmically.
    if (section == "streamsample") {
      import org.apache.spark.sql.functions._
      import spark.implicits._
      val (docs, span) = scaledDocs()
      val n = docs.count()
      println(s"[iterbench] corpus: $n docs (mult=$mult)")
      val maxId = span * mult
      val base = new java.io.File(System.getProperty("java.io.tmpdir"),
        s"graft_streamsample_${System.nanoTime()}")
      val dataDir = new java.io.File(base, "docs"); dataDir.mkdirs()
      (0 until 4).foreach { q =>
        val lo = maxId * q / 4; val hi = maxId * (q + 1) / 4
        val tmp = new java.io.File(base, s"stage_$q").getPath
        docs.filter(col("doc_id") >= lo && col("doc_id") < hi)
          .withColumn("n_chars", length(col("text")).cast("long"))
          .coalesce(1).write.mode("overwrite").parquet(tmp)
        val part = new java.io.File(tmp).listFiles()
          .find(_.getName.endsWith(".parquet")).get
        val dst = new java.io.File(dataDir, f"batch_$q%02d.parquet")
        java.nio.file.Files.move(part.toPath, dst.toPath)
        dst.setLastModified(1700000000000L + q * 60000L)
      }
      spark.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      for (round <- 1 to 2) {
        timed(s"streaming ShardTopK(100) 4-batch replay, 8 shards (mult=$mult), round $round") {
          val schema = spark.read.parquet(dataDir.getPath).schema
          val raw = spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1").parquet(s"${dataDir.getPath}/*.parquet")
          val u = graft.operators.Sampling.unitHash(col("doc_id"), "priority")
          val prio = col("n_chars").cast("double") /
            when(u === 0.0, lit(1.0) / lit(9007199254740992.0)).otherwise(u)
          val rows = raw.select(pmod(col("doc_id"), lit(8L)).as("shard"),
              col("doc_id").as("docId"), col("n_chars").as("weight"),
              prio.as("priority"))
            .as[graft.streaming.StreamingSample.PrioRow]
          val cands = rows.groupByKey(_.shard)
            .transformWithState(new graft.streaming.StreamingSample.ShardTopK(100),
              org.apache.spark.sql.streaming.TimeMode.None(),
              org.apache.spark.sql.streaming.OutputMode.Append())
          val name = s"streamsample_sink_${round}_$mult"
          val q = cands.toDF().writeStream.outputMode("append").format("memory")
            .queryName(name).start()
          try q.processAllAvailable() finally q.stop()
          val emitted = spark.table(name).count()
          println(s"[iterbench]   -> $emitted candidate emissions")
          emitted
        }
      }
      org.apache.commons.io.FileUtils.deleteQuietly(base)
      docs.unpersist()
      spark.stop()
      return
    }

    // Continuous-packing slopes (gate qem): the streaming SeqPacker's state
    // is O(shards·seqLen) regardless of corpus size, so a mult-scaled
    // corpus should cost linearly more wall time (per-doc work constant)
    // on top of the fixed 4-micro-batch commit floor; the batch twin is
    // the floor to beat only on a finite replay — the streaming shape
    // exists for corpora that never stop arriving.
    if (section == "streampack") {
      import org.apache.spark.sql.functions._
      import graft.operators.TextPipeline
      import spark.implicits._
      val (docs, span) = scaledDocs()
      val n = docs.count()
      println(s"[iterbench] corpus: $n docs (mult=$mult)")
      for (round <- 1 to 2) {
        timed(s"batch packSequences (mult=$mult), round $round") {
          TextPipeline.packSequences(docs, "doc_id", "text", 64).count()
        }
      }
      // 4 ordered micro-batches on disk (file source replays in mtime order)
      val maxId = span * mult
      val base = new java.io.File(System.getProperty("java.io.tmpdir"),
        s"graft_streampack_${System.nanoTime()}")
      val dataDir = new java.io.File(base, "docs"); dataDir.mkdirs()
      (0 until 4).foreach { q =>
        val lo = maxId * q / 4; val hi = maxId * (q + 1) / 4
        val tmp = new java.io.File(base, s"stage_$q").getPath
        docs.filter(col("doc_id") >= lo && col("doc_id") < hi)
          .coalesce(1).write.mode("overwrite").parquet(tmp)
        val part = new java.io.File(tmp).listFiles()
          .find(_.getName.endsWith(".parquet")).get
        val dst = new java.io.File(dataDir, f"batch_$q%02d.parquet")
        java.nio.file.Files.move(part.toPath, dst.toPath)
        dst.setLastModified(1700000000000L + q * 60000L)
      }
      spark.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      for (round <- 1 to 2) {
        timed(s"streaming SeqPacker 4-batch replay, 8 shards (mult=$mult), round $round") {
          val schema = spark.read.parquet(dataDir.getPath).schema
          val raw = spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1").parquet(s"${dataDir.getPath}/*.parquet")
          val ds = raw
            .withColumn("ts", timestamp_micros(col("doc_id") * 1000000L))
            .withWatermark("ts", "0 seconds")
            .select(pmod(col("doc_id"), lit(8)).cast("string").as("key"),
              col("doc_id").as("docId"),
              graft.functions.TextFunctions.tokens(col("text")).as("toks"))
            .as[graft.streaming.StreamingPack.DocToks]
          val packed = graft.streaming.EventTimeOps.ordered(ds,
            (d: graft.streaming.StreamingPack.DocToks) => d.key,
            new graft.streaming.StreamingPack.SeqPacker(64))
          val name = s"streampack_sink_${round}_$mult"
          val q = packed.writeStream.outputMode("append").format("memory")
            .queryName(name).start()
          try q.processAllAvailable() finally q.stop()
          spark.table(name).count()
        }
      }
      org.apache.commons.io.FileUtils.deleteQuietly(base)
      docs.unpersist()
      spark.stop()
      return
    }

    if (section == "lshidx") {
      import graft.operators.{Dedup, LshIndex}
      import org.apache.spark.sql.functions.col
      val (docs, span) = scaledDocs()
      println(s"[iterbench] corpus: ${docs.count()} docs (mult=$mult)")
      val ref = LshIndex.Ref("iterbench", buckets = 8)
      timed(s"lshidx build: slices 0-8 of 10 into the index (mult=$mult)") {
        LshIndex.drop(spark, ref)
        (0 until 9).map { s =>
          LshIndex.ingest(docs.filter(col("doc_id") % 10 === s), "doc_id",
            "text", n = 2, k = 128, bands = 64, threshold = 0.5, ref).count()
        }.sum
      }
      for (round <- 1 to 2) {
        timed(s"full-corpus re-dedup (no index, mult=$mult), round $round") {
          Dedup.minhashDupPairs(docs, "doc_id", "text",
            n = 2, k = 128, bands = 64, threshold = 0.5).count()
        }
      }
      // two FRESH disjoint arrival batches (halves of replica 0's slice 9):
      // ids must not repeat across ingests, and the batch stays FIXED size
      // as mult grows — the steady-state delivery a 100-TB service pays
      for ((slice, round) <- Seq(9, 19).zipWithIndex) {
        timed(s"incremental ingest of a fixed-size batch, round ${round + 1}") {
          LshIndex.ingest(
            docs.filter(col("doc_id") < span && col("doc_id") % 20 === slice),
            "doc_id", "text", n = 2, k = 128, bands = 64, threshold = 0.5,
            ref).count()
        }
      }
      LshIndex.drop(spark, ref)
      docs.unpersist()
      spark.stop()
      return
    }

    // Persistent SimHash-index amortization (SimHashIndex, gates
    // qg2/qg6): the family A/B — dedup ONE fixed-size arriving batch
    // against a 9/10-slice corpus via (a) incremental ingest into the
    // (blk, blkval)-bucketed index vs (b) the full-corpus simhashPairs
    // re-run a pipeline without an index re-pays per delivery. Ingest
    // should stay ~flat in mult (O(batch + matches), bucketed probe)
    // while the re-run grows with the corpus.
    if (section == "shidx") {
      import graft.operators.{Dedup, SimHashIndex}
      import org.apache.spark.sql.functions.col
      val (docs, span) = scaledDocs()
      println(s"[iterbench] corpus: ${docs.count()} docs (mult=$mult)")
      val ref = SimHashIndex.Ref("iterbench", buckets = 8)
      timed(s"shidx build: slices 0-8 of 10 into the index (mult=$mult)") {
        SimHashIndex.drop(spark, ref)
        (0 until 9).map { s =>
          SimHashIndex.ingest(docs.filter(col("doc_id") % 10 === s), "doc_id",
            "text", maxDist = 3, ref).count()
        }.sum
      }
      for (round <- 1 to 2) {
        timed(s"full-corpus simhashPairs re-dedup (no index, mult=$mult), round $round") {
          Dedup.simhashPairs(docs, "doc_id", "text", maxDist = 3).count()
        }
      }
      for ((slice, round) <- Seq(9, 19).zipWithIndex) {
        timed(s"incremental ingest of a fixed-size batch, round ${round + 1}") {
          SimHashIndex.ingest(
            docs.filter(col("doc_id") < span && col("doc_id") % 20 === slice),
            "doc_id", "text", maxDist = 3, ref).count()
        }
      }
      SimHashIndex.drop(spark, ref)
      docs.unpersist()
      spark.stop()
      return
    }

    // Persistent gram-index amortization (GramIndex, gates qfa/qfb): the
    // same A/B as lshidx — dedup ONE fixed-size arriving delivery against
    // a 9/10-slice corpus via (a) incremental ingest into the bucketed
    // index vs (b) the full-corpus ExactSubstr re-run a pipeline without
    // an index re-pays per delivery. Ingest should stay ~flat in mult
    // (O(batch + matches), bucketed probe) while the re-run grows with
    // the corpus.
    if (section == "gramidx") {
      import graft.operators.{Dedup, GramIndex}
      import org.apache.spark.sql.functions.{col, length, sum}
      val (docs, span) = scaledDocs()
      println(s"[iterbench] corpus: ${docs.count()} docs (mult=$mult)")
      val ref = GramIndex.Ref("iterbench", buckets = 8)
      timed(s"gramidx build: slices 0-8 of 10 into the index (mult=$mult)") {
        GramIndex.drop(spark, ref)
        (0 until 9).map { s =>
          GramIndex.ingest(docs.filter(col("doc_id") % 10 === s), "doc_id",
            "text", minLen = 40, ref).count()
        }.sum
      }
      for (round <- 1 to 2) {
        timed(s"full-corpus ExactSubstr re-run (no index, mult=$mult), round $round") {
          // agg over BOTH counters and the rebuilt text: a bare count()
          // lets Catalyst eliminate the final join and prune the rebuild
          Dedup.exactSubstrRemove(docs, "doc_id", "text", minLen = 40)
            .agg(sum(length(col("clean_text"))) + sum(col("n_removed")))
            .head().getLong(0)
        }
      }
      // two FRESH disjoint fixed-size deliveries (halves of replica 0's
      // slice 9): id-unique, batch size constant as the corpus grows
      for ((slice, round) <- Seq(9, 19).zipWithIndex) {
        timed(s"incremental ingest of a fixed-size delivery, round ${round + 1}") {
          GramIndex.ingest(
            docs.filter(col("doc_id") < span && col("doc_id") % 20 === slice),
            "doc_id", "text", minLen = 40, ref)
            .agg(sum(length(col("clean_text"))) + sum(col("n_removed")))
            .head().getLong(0)
        }
      }
      GramIndex.drop(spark, ref)
      docs.unpersist()
      spark.stop()
      return
    }

    // Suffix-array build slopes (gates qfe/qff): each doubling round is
    // corpus-linear with 8-byte keys, rounds are log2(depth/base), so
    // wall should grow ~linearly in corpus size with a rounds-sized
    // fixed cost; depth enters only logarithmically.
    if (section == "suffixarray") {
      import org.apache.spark.sql.functions.{col, max}
      val saBase = Knobs.envPositiveInt("SPARK_GRAFT_SA_BASE", 4)
      val (docs, _) = scaledDocs()
      println(s"[iterbench] corpus: ${docs.count()} docs (mult=$mult)")
      for (round <- 1 to 2; depth <- Seq(16, 64)) {
        timed(s"suffixArray depth=$depth base=$saBase (mult=$mult), round $round") {
          graft.operators.SuffixArray.suffixArray(docs, "doc_id", "text",
            depth = depth, base = saBase)
            .agg(max(col("rank"))).head().getLong(0)
        }
      }
      for (round <- 1 to 2) {
        timed(s"longestRepeats depth=64 base=$saBase top-50 (mult=$mult), round $round") {
          graft.operators.SuffixArray.longestRepeats(docs, "doc_id", "text",
            depth = 64, base = saBase, minLen = 12, k = 50).count()
        }
      }
      docs.unpersist()
      spark.stop()
      return
    }

    // Tokenizer ENCODE throughput: the three segmentation algorithms over
    // the same corpus + piece-vocabulary scale (all three run on the
    // distinct-word frame and broadcast lengths back, so this measures
    // the per-word kernel: merge folds vs greedy cursor vs cost DP).
    if (section == "tok") {
      import graft.operators.TextPipeline
      val docs = Tables(spark, sfDir, "documents").cache()
      docs.count()
      val merges = TextPipeline.bpeTrain(docs, "text", nMerges = 24)
      val vocab = ('a' to 'z').map(_.toString) ++
        ('a' to 'z').map(c => s"##$c") ++
        Seq("th", "the", "qu", "an", "re", "de",
          "##ing", "##er", "##ed", "##es", "##on", "##tion", "##s")
      for (round <- 1 to 2) {
        timed(s"bpeEncode 24 merges, round $round") {
          TextPipeline.bpeEncode(docs, "doc_id", "text",
            merges.map(m => (m._2, m._3))).count()
        }
        timed(s"wordpieceEncode greedy, ${vocab.size} pieces, round $round") {
          TextPipeline.wordpieceEncode(docs, "doc_id", "text", vocab).count()
        }
        timed(s"minCostEncode DP, ${vocab.size} pieces, round $round") {
          TextPipeline.minCostEncode(docs, "doc_id", "text",
            vocab.map(_ -> 1L), unkCost = 1L).count()
        }
      }
      docs.unpersist()
      spark.stop()
      return
    }

    // BPE-DROPOUT encode at MERGE scale (round-15 VERDICT #1): dropout is
    // per-OCCURRENCE by definition — no distinct-word frame bounds the
    // fold-chain row count — so this ladders the merge count 128/512/2048
    // across the three bit-identical paths: per-merge literal fold chain,
    // batched literal fold ([[TextPipeline.batchMerges]] grouping), and
    // the compiled BpeDropoutEncodeExpr kernel. The literal paths are
    // capped past their demonstrated cliffs (per-merge at
    // SPARK_GRAFT_BPEDROP_LITMAX, default 512; batched at 4×that) — past
    // the cap the row would time plan construction, not the operator.
    // Merge table: trained once on the same pseudo corpus (real symbol
    // chaining, so the batch-compression ratio is the honest one).
    if (section == "bpedrop") {
      import graft.operators.TextPipeline
      import org.apache.spark.sql.functions._
      val litMax = Knobs.envPositiveInt("SPARK_GRAFT_BPEDROP_LITMAX", 512)
      val nTrain = Knobs.envPositiveInt("SPARK_GRAFT_BPEDROP_MERGES", 2048)
      val wpd = 12 * mult
      val docs = pseudoCorpus(wpd).localCheckpoint(true)
      println(s"[iterbench] corpus: ${docs.count()} docs x $wpd pseudo-words")
      val t0 = System.nanoTime()
      val merges = TextPipeline.bpeTrainBatched(docs, "text", nTrain, batch = 64)
        .map { case (_, l, r, _) => (l, r) }
      println(f"[iterbench] trained ${merges.size} merges in " +
        f"${(System.nanoTime() - t0) / 1e9}%.1f s")
      for (round <- 1 to 2; nm <- Seq(128, 512, 2048).filter(_ <= merges.size)) {
        val ms = merges.take(nm)
        val groups = TextPipeline.batchMerges(ms)
        println(s"[iterbench] $nm merges -> ${groups.size} batches " +
          s"(largest ${groups.map(_.size).max})")
        timed(s"bpedrop kernel    $nm merges (mult=$mult) r$round") {
          TextPipeline.bpeEncodeDropout(docs, "doc_id", "text", ms, 300L)
            .agg(sum(col("n_tokens"))).head().getLong(0)
        }
        if (nm <= litMax * 4)
          timed(s"bpedrop batched   $nm merges (mult=$mult) r$round") {
            TextPipeline.bpeEncodeDropout(docs, "doc_id", "text", ms, 300L,
                forceLiteral = Some(true))
              .agg(sum(col("n_tokens"))).head().getLong(0)
          }
        if (nm <= litMax)
          timed(s"bpedrop per-merge $nm merges (mult=$mult) r$round") {
            TextPipeline.bpeEncodeDropout(docs, "doc_id", "text", ms, 300L,
                forceLiteral = Some(true), literalBatched = false)
              .agg(sum(col("n_tokens"))).head().getLong(0)
          }
      }
      spark.stop()
      return
    }

    // Soft-EM / FFBS unigram family at CORPUS and VOCAB scale (round-13
    // VERDICT item #1): the literal path embeds the vocabulary as a SQL
    // array literal and folds the FULL list per char position —
    // O(|V|·len) per word plus |V|-proportional parse/codegen of three
    // literal copies; the indexed kernel (UnigramLatticeKernel) looks up
    // ≤ maxPieceLen substrings per position, |V|-independent. This A/Bs
    // the two bit-identical paths across seed sizes (gate 24 → 1k → 5k
    // → 10k) and, via SPARK_GRAFT_MULT (words-per-doc multiplier),
    // corpus size. The literal path is capped at 1k pieces: past it the
    // embedded-literal parse alone is minutes (measured; the 5k/10k
    // rows would time the parser, not the operator).
    if (section == "unigram") {
      import graft.operators.TextPipeline
      import org.apache.spark.sql.functions._
      // SPARK_GRAFT_UNIGRAM_LITMAX raises the literal-path cap for
      // one-off parse-cost measurements
      val litMax = Knobs.envPositiveInt("SPARK_GRAFT_UNIGRAM_LITMAX", 1000)
      val wpd = 12 * mult
      val docs = pseudoCorpus(wpd).localCheckpoint(true)
      val words = docs
        .select(explode(graft.functions.TextFunctions.tokens(lower(col("text")))).as("word"))
        .groupBy("word").agg(count(lit(1)).cast("long").as("wcnt"))
        .cache()
      println(s"[iterbench] corpus: ${docs.count()} docs x $wpd pseudo-words, " +
        s"${words.count()} distinct")
      // one subs aggregate feeds every seed size — the trainers' own
      // (chars sorted, multis by weighted frequency) canonical order
      val scale = 1000000L
      val subs = words
        .select(col("word"), col("wcnt"),
          explode(sequence(lit(1), length(col("word")))).as("i"))
        .select(col("wcnt"), explode(transform(
          sequence(lit(1), lit(4)), l =>
            when(col("i") + l - 1 <= length(col("word")),
              col("word").substr(col("i"), l)))).as("p"))
        .filter(col("p").isNotNull)
        .groupBy("p").agg(sum(col("wcnt")).as("cnt"))
        .cache()
      import spark.implicits._
      val chars = subs.filter(length(col("p")) === 1)
        .as[(String, Long)].collect().sortBy(_._1)
      val multisAll = subs.filter(length(col("p")) >= 2)
        .orderBy(col("cnt").desc, col("p")).limit(10000)
        .as[(String, Long)].collect()
      subs.unpersist()
      // round 1 is codegen/plan warm-up; read round 2
      for (round <- 1 to 2; sm <- Seq(24, 1000, 5000, 10000)) {
        val vocab = (chars ++ multisAll.take(sm)).toSeq
          .map { case (p, c) => (p, c * scale) }
        timed(s"softEmCounts indexed  |V|=${vocab.size} (mult=$mult) r$round") {
          TextPipeline.softEmCounts(words, vocab, scale, Some(true)).size.toLong
        }
        if (sm <= litMax)
          timed(s"softEmCounts literal  |V|=${vocab.size} (mult=$mult) r$round") {
            TextPipeline.softEmCounts(words, vocab, scale, Some(false)).size.toLong
          }
      }
      // the sampler: per-OCCURRENCE walk over the same lattices
      for (round <- 1 to 2; sm <- Seq(24, 1000, 5000)) {
        val vocab = (chars ++ multisAll.take(sm)).toSeq
          .map { case (p, c) => (p, c * scale) }
        timed(s"sampleEncode indexed  |V|=${vocab.size} (mult=$mult) r$round") {
          TextPipeline.unigramSampleEncode(docs, "doc_id", "text", vocab,
            forceIndexed = Some(true)).count()
        }
        if (sm <= litMax)
          timed(s"sampleEncode literal  |V|=${vocab.size} (mult=$mult) r$round") {
            TextPipeline.unigramSampleEncode(docs, "doc_id", "text", vocab,
              forceIndexed = Some(false)).count()
          }
      }
      // hard-EM E-step (round 15): the Viterbi DP + backtrack A/B'd the
      // same way — the literal embeds the vocab TWICE (dp + backtrack)
      val scaleH = 1000000L
      for (round <- 1 to 2; sm <- Seq(24, 1000, 5000, 10000)) {
        val costs = (chars ++ multisAll.take(sm)).toSeq
          .map { case (p, c) => (p, scaleH / (1L + c)) }
        timed(s"emCounts(hard) indexed  |V|=${costs.size} (mult=$mult) r$round") {
          TextPipeline.emCounts(words, costs, scaleH, Some(true)).size.toLong
        }
        if (sm <= litMax)
          timed(s"emCounts(hard) literal  |V|=${costs.size} (mult=$mult) r$round") {
            TextPipeline.emCounts(words, costs, scaleH, Some(false)).size.toLong
          }
      }
      // n-best (round 15): 3-best per distinct word over the same vocabs
      for (round <- 1 to 2; sm <- Seq(24, 1000, 5000)) {
        val costs = (chars ++ multisAll.take(sm)).toSeq
          .map { case (p, c) => (p, scaleH / (1L + c)) }
        timed(s"nbestSegment n=3 indexed  |V|=${costs.size} (mult=$mult) r$round") {
          TextPipeline.nbestSegment(docs, "text", costs, n = 3,
            forceIndexed = Some(true)).count()
        }
        if (sm <= litMax)
          timed(s"nbestSegment n=3 literal  |V|=${costs.size} (mult=$mult) r$round") {
            TextPipeline.nbestSegment(docs, "text", costs, n = 3,
              forceIndexed = Some(false)).count()
          }
      }
      // end-to-end: the complete Kudo trainer at production-ish seeds.
      // Round 15 inverted the altCost prune score to hash-map probes
      // (O(|V|·maxPieceLen²) driver-side, was O(|V|²·maxPieceLen)), so
      // the seed is no longer capped at 1k — the 5k row is the evidence
      for (sm <- Seq(1000, 5000)) {
        timed(s"unigramTrainSoftPruned seed=$sm, 2 rounds (mult=$mult)") {
          TextPipeline.unigramTrainSoftPruned(docs, "text", maxPieceLen = 4,
            seedMulti = sm, rounds = 2, pruneCount = 50).size.toLong
        }
      }
      words.unpersist()
      spark.stop()
      return
    }

    // Persistent-IVF amortization A/B: a query batch served (a) from the
    // prebuilt on-disk index — frozen centroids + partition-pruned cell
    // scan — vs (b) by ivfTopK from scratch, which re-derives centroids
    // and re-assigns the whole corpus per call. Build cost reported
    // separately (one-off).
    if (section == "ivfidx") {
      import graft.operators.{IvfIndex, Similarity}
      import org.apache.spark.sql.functions._
      val raw = Tables(spark, sfDir, "embeddings")
      val span = raw.agg(max(col("vec_id"))).head().getLong(0) + 1L
      val emb = (0 until mult).map { m =>
        raw.select((col("vec_id") + lit(m * span)).as("vec_id"), col("embedding"))
      }.reduce(_ unionByName _).cache()
      println(s"[iterbench] corpus: ${emb.count()} vectors (mult=$mult)")
      val ref = IvfIndex.Ref("iterbench")
      val queries = emb.filter(col("vec_id") < 50) // fixed-size probe batch
      timed(s"ivfidx build (one-off, mult=$mult)") {
        IvfIndex.drop(spark, ref)
        IvfIndex.build(emb, "vec_id", "embedding", nCells = 16, ref); 1L
      }
      for (round <- 1 to 2) {
        timed(s"search from the on-disk index (mult=$mult), round $round") {
          IvfIndex.search(queries, "vec_id", "embedding", ref,
            k = 10, nProbe = 4).count()
        }
        timed(s"ivfTopK from scratch (mult=$mult), round $round") {
          Similarity.ivfTopK(emb, queries, "vec_id", "embedding", "vec_id",
            k = 10, nCells = 16, nProbe = 4).count()
        }
      }
      IvfIndex.drop(spark, ref)
      emb.unpersist()
      spark.stop()
      return
    }

    // Persistent-IVFADC amortization A/B: a probe batch served from the
    // on-disk PqIndex (frozen coarse + codebooks, cell-pruned CODE scan)
    // vs the full fit+encode+search a pipeline without the index re-pays
    // per batch (qcv's inline shape). Build cost reported separately.
    if (section == "pqidx") {
      import graft.operators.{ML, PQ, PqIndex}
      import org.apache.spark.sql.functions._
      val raw = Tables(spark, sfDir, "embeddings")
      val span = raw.agg(max(col("vec_id"))).head().getLong(0) + 1L
      val emb = (0 until mult).map { m =>
        raw.select((col("vec_id") + lit(m * span)).as("vec_id"), col("embedding"))
      }.reduce(_ unionByName _).cache()
      println(s"[iterbench] corpus: ${emb.count()} vectors (mult=$mult)")
      val ref = PqIndex.Ref("iterbench")
      val queries = emb.filter(col("vec_id") < 50)
      timed(s"pqidx build (one-off, mult=$mult)") {
        PqIndex.drop(spark, ref)
        PqIndex.build(emb, "vec_id", "embedding", dim = 64, m = 4, k = 8,
          iters = 1, nCells = 16, cIters = 1, ref); 1L
      }
      for (round <- 1 to 2) {
        timed(s"search from the on-disk index (mult=$mult), round $round") {
          PqIndex.search(queries, "vec_id", "embedding", dim = 64, m = 4,
            nProbe = 4, topK = 10, ref).count()
        }
        timed(s"fit + ivfAdcTopK from scratch (mult=$mult), round $round") {
          val coarse = ML.kMeansScaled(emb, "vec_id", "embedding",
            k = 16, iters = 1)
          val model = PQ.fit(emb, "vec_id", "embedding", dim = 64, m = 4,
            k = 8, iters = 1)
          PQ.ivfAdcTopK(coarse, model, queries, "vec_id", "embedding",
            dim = 64, m = 4, nProbe = 4, topK = 10).count()
        }
      }
      PqIndex.drop(spark, ref)
      emb.unpersist()
      spark.stop()
      return
    }

    // Micro-batch size amortization (round-9 VERDICT item #6): the
    // standing claim behind q94/q95/q97's sweep weight is that per-event
    // cost is dominated by per-micro-batch state-store commit machinery
    // and amortizes with batch size. Replay the SAME 100k-event corpus
    // through the same watermarked tumbling-window agg at 32/4/1
    // micro-batches (maxFilesPerTrigger over 32 equal slices) and report
    // per-batch and per-event cost.
    if (section == "streamamort") {
      import org.apache.spark.sql.functions._
      val slices = 32
      val base = java.nio.file.Files.createTempDirectory("streamamort").toFile
      val ev = Tables(spark, sfDir, "events")
        .select("event_id", "ts", "user_id", "event_type", "value")
      val src = new java.io.File(base, "src").getAbsolutePath
      ev.repartition(slices).write.parquet(src)
      val n = spark.read.parquet(src).count()
      val schema = spark.read.parquet(src).schema
      for (round <- 1 to 2; mft <- Seq(1, 8, 32)) {
        val batches = math.ceil(slices.toDouble / mft).toInt
        val ckpt = new java.io.File(base, s"ckpt_${round}_$mft").getAbsolutePath
        val t0 = System.nanoTime()
        val q = spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", mft).parquet(src)
          .withWatermark("ts", "1 minute")
          .groupBy(window(col("ts"), "1 minute"), col("event_type"))
          .agg(count(lit(1)).as("n"), sum("value").as("v"))
          .writeStream.outputMode("update").format("noop")
          .option("checkpointLocation", ckpt)
          .start()
        try q.processAllAvailable() finally q.stop()
        val dt = (System.nanoTime() - t0) / 1e9
        println(f"[iterbench] streamamort round $round: $batches%3d batches " +
          f"(mft=$mft%2d)  total $dt%6.2f s  ${dt / batches}%6.3f s/batch  " +
          f"${dt / n * 1e6}%8.1f us/event")
      }
      org.apache.commons.io.FileUtils.deleteQuietly(base)
      spark.stop()
      return
    }

    // Streaming-loop scale curve (round-10 VERDICT item #5): the claim
    // "loop rounds cost O(frontier)" made structural-only so far. The
    // qe8/qec fixtures replicate SPARK_GRAFT_MULT× with node-id offsets
    // (disjoint replicas: round COUNT is scale-invariant — each replica
    // has replica-0's structure — while the per-round frontier grows
    // linearly), so per-round cost at 1× vs 10× separates the fixed
    // micro-batch commit floor from the frontier-linear work, against the
    // batch driver-loop twins at identical round counts.
    if (section == "streamloop") {
      import org.apache.spark.sql.functions._
      import spark.implicits._
      import graft.operators.GraphOps
      import graft.streaming.IterateStream
      val o = Tables(spark, sfDir, "orders")
      val l = Tables(spark, sfDir, "lineitem")
      val dense = o.join(l, col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("src"), (lit(100000) + col("l_suppkey")).as("dst"))
        .distinct().localCheckpoint(true)
      val sparse = o.join(l, col("o_orderkey") === col("l_orderkey"))
        .filter(col("l_quantity") === 1 && col("o_totalprice") < 20000)
        .select(col("o_custkey").as("src"), (lit(100000) + col("l_suppkey")).as("dst"))
        .distinct().localCheckpoint(true)
      val span = 10000000L
      def repl(base: org.apache.spark.sql.DataFrame, k: Int) =
        (0 until k).map { r =>
          base.select((col("src") + lit(r * span)).as("src"),
            (col("dst") + lit(r * span)).as("dst"))
        }.reduce(_ unionByName _).localCheckpoint(true)
      def tmp(tag: String) = java.nio.file.Files
        .createTempDirectory(s"streamloop_$tag").toFile.getAbsolutePath
      // ALL micro-batches pay the commit floor, including empty drain /
      // non-improving rounds that write no rounds/ dir — count from the
      // ledger (one row per processed batch), not the non-empty outputs
      def rounds(work: String): Long =
        spark.read.parquet(s"$work/out/_ledger").count()
      def emptyRounds(work: String): Long = {
        val d = new java.io.File(work, "out/rounds")
        val nonEmpty = if (!d.isDirectory) 0L
          else d.listFiles().count(_.getName.startsWith("batch_id=")).toLong
        rounds(work) - nonEmpty
      }
      def perRound(label: String, dt: Double, r: Long): Unit =
        println(f"[iterbench]   -> $label rounds=$r  ${dt / math.max(r, 1)}%6.3f s/round")
      // two passes: pass 1 warms streaming machinery + JIT (k=1 would
      // otherwise be charged cold against a warm k=10); read pass 2.
      // SPARK_GRAFT_MULT raises the high point (default 10); the dense
      // SSSP fixture is capped at 10× (97M edges exceeds the local
      // profile) — the sparse PageRank fixture carries higher multiples.
      val hi = math.max(mult, 10)
      for (rep <- 1 to 2; k <- Seq(1, hi)) {
        println(s"--- streamloop pass $rep k=$k ---")
        // SSSP to fixpoint (qe8's dense weighted graph), one root per
        // replica so every replica floods — frontier ~k×
        if (k > 10)
          println(s"[iterbench] ssspStream/ssspBatch skipped at k=$k " +
            "(dense fixture too large for the local profile; PR below " +
            "carries this point)")
        else {
        val uedK = GraphOps.undirected(repl(dense, k)).localCheckpoint(true)
        val wK = uedK.select(col("a").as("src"), col("b").as("dst"),
          expr("(a + b) % 7 + 1").as("wt")).localCheckpoint(true)
        val root = uedK.filter(col("a") < span).agg(min(col("a"))).head().getLong(0)
        val seeds = (0 until k).map(r => (root + r * span, 0L))
          .toDF("node", "dist")
        val nE = wK.count()
        val sw = tmp(s"sssp$k")
        var t0 = System.nanoTime()
        val nStream = IterateStream.minFixpoint(wK, seeds, sw).count()
        var dt = (System.nanoTime() - t0) / 1e9
        val rTot = rounds(sw)
        val rS = rTot - emptyRounds(sw) // improvement rounds
        println(f"[iterbench] ssspStream  k=$k%-2d edges=$nE%7d $dt%7.2f s " +
          f"(rows=$nStream, batches=$rTot of which ${rTot - rS} empty)")
        perRound("ssspStream", dt, rTot)
        t0 = System.nanoTime()
        // multi-seed batch twin: GraphOps.sssp's relax loop (same join +
        // min-agg round shape) initialized from the k-seed frame, run the
        // stream loop's IMPROVEMENT-round count (a driver loop runs no
        // empty drain rounds, so that is its fair round budget)
        val nBatch = {
          val INF = Long.MaxValue / 4
          val verts = wK.select(col("src").as("node"))
            .union(wK.select(col("dst"))).distinct()
          val init = verts.join(seeds.withColumnRenamed("dist", "d0"),
              Seq("node"), "left")
            .select(col("node"), coalesce(col("d0"), lit(INF)).as("d"))
          val res = graft.operators.Iterations.iterate(init, rS.toInt, fuse = 2) { cur =>
            val relaxed = wK.join(cur.withColumnRenamed("node", "src"), "src")
              .select(col("dst").as("node"), (col("d") + col("wt")).as("nd"))
              .groupBy("node").agg(min(col("nd")).as("md"))
            cur.join(relaxed, Seq("node"), "left")
              .select(col("node"),
                least(col("d"), coalesce(col("md"), col("d"))).as("d"))
          }
          res.filter(col("d") < INF).count()
        }
        dt = (System.nanoTime() - t0) / 1e9
        println(f"[iterbench] ssspBatch   k=$k%-2d edges=$nE%7d $dt%7.2f s (rows=$nBatch) [same rounds=$rS]")
        perRound("ssspBatch", dt, rS)
        }
        // BSP PageRank (qec's sparse graph), 5 rounds both ways
        val prEdges = repl(sparse, k)
        val pw = tmp(s"pr$k")
        var t0 = System.nanoTime()
        val nPr = IterateStream.pageRankStream(prEdges, iters = 5, pw).count()
        var dt = (System.nanoTime() - t0) / 1e9
        val prTot = rounds(pw)
        println(f"[iterbench] prStream    k=$k%-2d $dt%7.2f s " +
          f"(rows=$nPr, batches=$prTot of which ${emptyRounds(pw)} empty)")
        perRound("prStream", dt, prTot)
        t0 = System.nanoTime()
        val nPrB = GraphOps.pageRankScaled(prEdges, iters = 5).count()
        dt = (System.nanoTime() - t0) / 1e9
        println(f"[iterbench] prBatch     k=$k%-2d $dt%7.2f s (rows=$nPrB)")
        perRound("prBatch", dt, 5L)
      }
      spark.stop()
      return
    }

    // State-store provider A/B for the default-provider streaming block
    // (round-9 VERDICT item #6): q90–q94 run HDFS-backed by default (the
    // transformWithState queries q95/q97 REQUIRE RocksDB and can't flip).
    // Measures RocksDB + changelog checkpointing vs the default for the
    // sweep's heaviest default-provider queries; adopt only if the total
    // drops (BASELINE.md records the decision either way).
    if (section == "stream") {
      val rocks =
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
      val hdfs =
        "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
      val qs = Seq("q94_stream_join", "q91_stream_tumble",
        "q92_stream_tumble_append", "q90_stream_unbounded_agg")
      for (round <- 1 to 2) {
        println(s"--- stream state-store round $round ---")
        for ((label, provider, changelog) <- Seq(
            ("hdfs-default", hdfs, "false"),
            ("rocksdb+changelog", rocks, "true"))) {
          spark.conf.set("spark.sql.streaming.stateStore.providerClass", provider)
          spark.conf.set(
            "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
            changelog)
          var total = 0.0
          qs.foreach { q =>
            val t0 = System.nanoTime()
            val n = Registry.queries(q)(spark, sfDir).count()
            val dt = (System.nanoTime() - t0) / 1e9
            total += dt
            println(f"[iterbench] $q%-28s [$label%-17s] $dt%6.2f s  (rows=$n)")
          }
          println(f"[iterbench] BLOCK TOTAL               [$label%-17s] $total%6.2f s")
        }
      }
      spark.stop()
      return
    }

    Registry.queries("qa2_graph_pagerank")(spark, sfDir).count()

    def withProfile(on: Boolean)(body: => Long): Long = {
      val old = sys.props.get("graft.loop.bigRows")
      sys.props("graft.loop.bigRows") = if (on) "1000000" else "0"
      try body finally old match {
        case Some(v) => sys.props("graft.loop.bigRows") = v
        case None => sys.props -= "graft.loop.bigRows"
      }
    }

    val run = () => Registry.queries("qa2_graph_pagerank")(spark, sfDir).count()

    for (round <- 1 to 2) {
      println(s"--- round $round ---")
      timed("pagerank, loop profile ON")(withProfile(on = true)(run()))
      timed("pagerank, loop profile OFF")(withProfile(on = false)(run()))
    }

    // qbm breakdown: wedge build vs per-round loop cost
    import graft.operators.GraphOps
    import org.apache.spark.sql.functions._
    def sspRun(iters: Int): Long = {
      val ued = GraphOps.undirected(
        Tables(spark, sfDir, "orders").join(Tables(spark, sfDir, "lineitem"),
            col("o_orderkey") === col("l_orderkey"))
          .select(col("o_custkey").as("src"), (lit(100000) + col("l_suppkey")).as("dst"))
          .distinct()).cache()
      val w = ued.withColumn("wt", expr("(a + b) % 7 + 1"))
      val out = GraphOps.sssp(w, ued.agg(min(col("a")).as("s")), maxIter = iters).count()
      ued.unpersist()
      out
    }
    for (round <- 1 to 2) {
      println(s"--- sssp breakdown round $round ---")
      timed("sssp maxIter=0 (build only)")(sspRun(0))
      timed("sssp maxIter=1")(sspRun(1))
      timed("sssp maxIter=5")(sspRun(5))
    }
    spark.stop()
  }
}

/** Measurement twin of StreamingDedup.ChunkClaim WITHOUT the 64-bit
  * collision armor (`chunkclaim` section only — production keeps the
  * armor; a single fingerprint makes a keep-first collision REMOVE a
  * distinct chunk, even-odds at ~4e9 distinct chunks): no key2 column,
  * claim state a bare flag. */
private case class SingleChunkRow(key: Long, docId: Long, chunkIdx: Long,
                                  chunkText: String)

private class SingleClaim extends graft.streaming.EventTimeOps.OrderedProcessor[
    Long, SingleChunkRow, graft.streaming.StreamingDedup.KeptChunk](
    r => (r.docId * 1000L, r.docId, r.chunkIdx),
    org.apache.spark.sql.Encoders.product[SingleChunkRow]) {
  @transient private var claimed: org.apache.spark.sql.streaming.ValueState[Boolean] = _
  override protected def openState(
      h: org.apache.spark.sql.streaming.StatefulProcessorHandle): Unit =
    claimed = h.getValueState[Boolean]("claimed",
      org.apache.spark.sql.Encoders.scalaBoolean,
      org.apache.spark.sql.streaming.TTLConfig.NONE)
  override protected def onOrdered(key: Long, r: SingleChunkRow)
      : Iterator[graft.streaming.StreamingDedup.KeptChunk] =
    if (claimed.exists()) Iterator.empty
    else {
      claimed.update(true)
      Iterator.single(graft.streaming.StreamingDedup.KeptChunk(
        r.docId, r.chunkIdx, r.chunkText))
    }
}
