package graft

/** Benchmark main: times the headline query set (BASELINE.md) on
  * SPARK_GRAFT_SF_DIR and prints one JSON line.
  *
  * The headline set spans the engine's pillars — batch relational (TPC-H
  * Q1/Q3/Q10), declarative windows, streaming (unbounded agg, windowed agg,
  * stream-stream join), stateful custom ops (OVER/CEP on
  * transformWithState), extensions (KNN, MinHash dedup, text stats), and
  * graph (PageRank). Set SPARK_GRAFT_BENCH_ALL=1 to time every registry
  * query instead.
  */
object Bench {
  val headline: Seq[String] = Seq(
    "q01_pricing_summary", "q03_shipping_priority", "q10_returned_items",
    "q34_grouping_sets", "q41_topn_per_group",
    "q70_tumble_1h", "q72_session_2h",
    "q90_stream_unbounded_agg", "q91_stream_tumble", "q94_stream_join",
    "q95_stream_over_running", "q97_stream_cep_seq",
    "q80_doc_stats", "q85_minhash_dedup", "q88_knn_brute", "q89_knn_lsh",
    "qa2_graph_pagerank",
    // round 3: temporal joins (no round-1 baseline entry; compare totals
    // with the round-3 figures in BASELINE.md)
    "qb0_asof_backward", "qb2_range_join_binned",
    // round 7: pipeline-surface flagships (no round-1 baseline entry;
    // subset totals for cross-round comparison as BASELINE.md describes)
    "qcf_shared_spans", "qcg_repetition_signals", "qcj_kmeans",
    // round 7, sketch batch: the corpus-scale estimation paths.
    // round 8: qcv (end-to-end fit+search, training noise dominated its
    // timing) replaced by qd5 — the same IVFADC search against a model
    // fitted UNTIMED via the entry's prepare hook, i.e. the deployed shape.
    "qcl_hll_distinct", "qct_heavy_hitters", "qd5_ivfpq_search")

  /** The PIPELINE headline (round 15, closing the twice-carried round-13
    * verdict item): a fixed 10-query set over the round-9..14 LLM-pipeline
    * families, so the per-round 2× regression gate covers what the engine
    * now is — ExactSubstr removal, the persistent gram/IVFADC indexes,
    * the suffix array, DSIR selection, sequence packing, streaming chunk
    * dedup, and the tokenizer-trainer family (soft-EM E-step, the full
    * Kudo trainer, corpus-scale FFBS sampling). Timed in the same run as
    * [[headline]]; BENCH_r*.json carries BOTH totals ("value" stays the
    * legacy headline for cross-round continuity, "pipeline_total" is this
    * set; BASELINE.md round-15 records the comparison base). */
  val pipelineHeadline: Seq[String] = Seq(
    "qf8_exact_substr_dedup", "qfa_exact_substr_index", "qfe_suffix_array",
    "qei_dsir_select", "qel_sequence_pack", "qer_stream_chunk_dedup",
    "qe9_ivfpq_persistent_index", "qfn_unigram_soft_em",
    "qfq_unigram_soft_prune", "qft_unigram_sample_scale")

  /** ADDITIVE timed set (round 20, closing the round-19 verdict's
    * "bench-cover the adaptive-rank family" item): timed and reported in
    * `queries` like every member, but counted in NEITHER total — `value`
    * stays the round-1-comparable legacy headline sum and
    * `pipeline_total` the round-15 set, so cross-round comparisons are
    * untouched. qg3 exercises Partitioning.groupedRankAdaptive's small-G
    * route (the round-19 probe optimization that shipped unmeasured). */
  val extraBench: Seq[String] = Seq("qg3_perplexity_buckets")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.cpus("32")
    val spark = GraftSession(cpus)
    // Warm up scan/agg/codegen paths so the first timed query isn't
    // charged for JVM + Spark session initialization. The LOAD CANARY
    // (round-16 postmortem: the driver benched one minute after a
    // 40-minute verification sweep, reading 2.3-4.6x over idle reality)
    // is the separate CPU probe below — see the SELF-ADJUDICATION block
    // before the JSON assembly and BASELINE.md round 18 for the
    // threshold derivation and the contaminated-vs-clean demonstration.
    def warmup(): Double = {
      val t0 = System.nanoTime()
      spark.read.parquet(s"$sfDir/lineitem.parquet")
        .groupBy("l_returnflag").count().collect()
      (System.nanoTime() - t0) / 1e9
    }
    // The CANARY PROBE: one codegen'd task per core, pure CPU — it
    // senses machine contention the way the wide benchmark members do.
    // The warm-up query is the wrong sensor: at sf0.1 it is a handful
    // of ~60 ms tasks, so 24 busy loops on 32 cores leave it in-band
    // (measured) while every 32-thread member contends; this probe's
    // fixed 32-way work slows with ANY lost core share.
    def cpuProbe(): Double = {
      val t0 = System.nanoTime()
      spark.range(0L, 3000000000L, 1L, cpus.toInt)
        .select(org.apache.spark.sql.functions
          .expr("bit_xor(xxhash64(id))")) // xor: no ANSI sum overflow
        .collect()
      (System.nanoTime() - t0) / 1e9
    }
    def loadavgVals: Seq[Double] =
      try java.nio.file.Files.readString(
          java.nio.file.Paths.get("/proc/loadavg"))
        .trim.split("\\s+").take(3).toSeq.map(_.toDouble)
      catch { case _: Throwable => Seq.empty }
    def loadavg: String = loadavgVals.mkString("[", ",", "]")
    val loadStartVals = loadavgVals
    val loadStart = loadStartVals.mkString("[", ",", "]")
    val warmSecs = warmup(); warmup() // second pass: scan cache warm
    // Probe reference: MIN of two passes measured seconds before the
    // sweep starts (same JVM, same machine). Min of two because the
    // first pass still pays JIT compilation, and an inflated reference
    // would loosen the canary limit past real contamination (the
    // round-17 driver sweep's warm recheck read 0.58 s vs a 0.26-0.36 s
    // healthy band).
    val probeRef = math.min(cpuProbe(), cpuProbe())
    // SPARK_GRAFT_BENCH_ONLY=q1,q2 filters for local iteration; the driver
    // sets neither env var and always times the headline set.
    val names = sys.env.get("SPARK_GRAFT_BENCH_ONLY") match {
      case Some(only) =>
        val asked = only.split(",").toSeq.map(_.trim).filter(_.nonEmpty)
        val unknown = asked.filterNot(SparkEntry.queries.contains)
        if (unknown.nonEmpty)
          System.err.println(s"[bench] unknown query names ignored: ${unknown.mkString(",")}")
        asked.filter(SparkEntry.queries.contains)
      case None if sys.env.contains("SPARK_GRAFT_BENCH_ALL") =>
        val all = SparkEntry.queries.keys.toSeq.sorted
        // q84 is the exact-pairwise VERIFICATION regime: on the synthetic
        // fixture 10.3M of 12.5M possible pairs share a shingle (931-bigram
        // vocabulary), so its count aggregate is inherently ~10^7 groups at
        // sf0.1 — ~20 s that measures the fixture, not the engine. The
        // production-regime siblings (q85 MinHash, qbe prefix-filter, q8b
        // bucketed) stay in the sweep; include q84 explicitly if wanted.
        if (sys.env.contains("SPARK_GRAFT_BENCH_QUADRATIC")) all
        else {
          System.err.println("[bench] sweep skips q84_jaccard_pairs " +
            "(verification-regime exact-pairwise; production siblings " +
            "q85/qbe/q8b are timed) — set SPARK_GRAFT_BENCH_QUADRATIC=1 to include")
          all.filterNot(_ == "q84_jaccard_pairs")
        }
      case None => (headline ++ pipelineHeadline ++ extraBench)
        .filter(SparkEntry.queries.contains)
    }
    val wall0 = System.nanoTime()
    // Interleaved canary probes: the CPU probe runs every
    // `recheckEvery` queries DURING the sweep (outside any query's
    // timing window), not only at the end — a load transient that dies
    // before the sweep ends contaminated members while an end-only
    // recheck read healthy (measured: 60 s of 24 busy loops injected
    // mid-sweep inflated the pipeline tail 14% and the final recheck
    // still passed). Sub-second each, a few seconds per sweep.
    val recheckEvery = 4
    val recheckBuf = scala.collection.mutable.ArrayBuffer.empty[(Int, Double)]
    // A query that throws is a DNF, never a fast success: its entry becomes
    // "err:<ExceptionClass>", it joins the "failed" list, and the process
    // exits nonzero — a broken query can no longer masquerade as a 0.1 s win
    // (round-7 postmortem: 6 streaming DNFs were recorded as wins).
    val results = names.zipWithIndex.map { case (name, qi) =>
      // untimed setup (model fits, index builds) — see Entry.prepare
      graft.queries.Registry.prepares.get(name).foreach { p =>
        try p(spark, sfDir)
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name prepare failed (query will pay " +
            s"setup inline): ${e.getClass.getSimpleName}") }
      }
      val t0 = System.nanoTime()
      val err = try { SparkEntry.queries(name)(spark, sfDir).count(); None }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getClass.getSimpleName}: " +
            String.valueOf(e.getMessage).linesIterator.take(1).mkString)
          Some(e.getClass.getSimpleName)
        }
      val elapsed = (System.nanoTime() - t0) / 1e9
      // drop this query's cache() entries AFTER its timing window: each
      // query pays for (and reuses) only its own caches, and a long sweep
      // cannot LRU-evict a later query's loop caches
      spark.catalog.clearCache()
      if ((qi + 1) % recheckEvery == 0 && qi + 1 < names.size)
        recheckBuf += ((qi + 1, cpuProbe()))
      (name, elapsed, err)
    }
    val qs = results.map {
      case (k, v, None) => s"\"" + k + "\":" + v
      case (k, _, Some(e)) => s"\"" + k + "\":\"err:" + e + "\""
    }.mkString("{", ",", "}")
    val failed = results.collect { case (k, _, Some(_)) => s"\"" + k + "\"" }
    // two totals: "value" remains the LEGACY headline sum (comparable to
    // BASELINE.md round-1 and every prior BENCH_r*.json), "pipeline_total"
    // sums the round-15 pipeline headline (base recorded in BASELINE.md
    // round-15) — each counts only its own members, so a custom
    // SPARK_GRAFT_BENCH_ONLY/ALL run still reports sane partial sums
    val defaultMode = !sys.env.contains("SPARK_GRAFT_BENCH_ONLY") &&
      !sys.env.contains("SPARK_GRAFT_BENCH_ALL")
    val legacySet = headline.toSet
    val pipeSet = pipelineHeadline.toSet
    val total = results.collect {
      case (k, v, None) if !defaultMode || legacySet(k) => v }.sum
    val pipeTotal = results.collect { case (k, v, None) if pipeSet(k) => v }.sum
    // load canary close-out: re-time the (cache-warm) warm-up query; a
    // healthy idle run re-reads it in a small fraction of the cold time,
    // and a busy machine shows BOTH an inflated recheck and a loadavg
    // far above the 32-core budget already in use by this process.
    //
    // SELF-ADJUDICATION (round-18): the canary is now a VERDICT, not
    // just data — two rounds running the driver's sweep was
    // machine-load-contaminated and a human had to read the recheck to
    // notice. `canary_ok` requires EVERY interleaved recheck (and this
    // final one) within the session's warm reference band (1.5x + a
    // 0.1 s jitter floor — threshold derivation recorded in BASELINE.md
    // round 18) AND a quiet 1-min loadavg at process start; when it
    // fails (or SPARK_GRAFT_CANARY_FORCE=1 exercises the
    // path), the K slowest members are re-timed ONCE and the JSON
    // carries both readings: `queries` stays the first sweep,
    // `retimed` holds the second pass, and `value_adjusted` /
    // `pipeline_total_adjusted` take the per-query min — so a
    // contaminated sweep self-corrects in the record instead of
    // misreading as a 12.8x regression.
    // Two triggers, because each misses the other's failure mode:
    //  - recheck vs the session's warm reference catches load that
    //    ARRIVES mid-sweep (both driver contaminations were this);
    //  - a 1-min loadavg at PROCESS START above cpus/8 catches load
    //    already running before the warm reference is measured (a
    //    steady whole-run load inflates reference and recheck alike,
    //    so the ratio alone stays blind to it — measured: 16 busy
    //    loops on 32 cpus, sweep +20%, recheck still in band).
    //    At start this JVM has run only sbt/JVM boot, so 1-min load
    //    mostly reflects OTHER work; clean sessions measured 1.5-2.7
    //    on 32 cpus, the steady-load session 7.9. A false trip only
    //    costs one bounded retime pass.
    val warmRecheck = warmup() // legacy cross-round field, kept as data
    recheckBuf += ((names.size, cpuProbe()))
    val canaryLimit = math.max(probeRef * 1.5, probeRef + 0.1)
    val loadLimit = cpus.toDouble / 8.0
    val startLoadOk = loadStartVals.headOption.forall(_ <= loadLimit)
    val canaryOk = recheckBuf.forall(_._2 <= canaryLimit) && startLoadOk
    // RETIME SELECTION (round 19; the round-18 rank rule left broad
    // contamination in place — retiming the fixed 8 slowest corrected
    // 58.8 s of a sweep whose clean reality was ~41 s). Candidates are
    // picked by THRESHOLD against the committed per-query reference
    // (bench_ref.json — the closing best-of-two readings of the round
    // that shipped this tree): every member whose first reading exceeds
    // max(1.5x ref, ref + 0.1 s) — the same band shape as the probe
    // limit — is suspect. Members ABSENT from the reference (gates newer
    // than the file) are suspect only if timed inside a CONTAMINATION
    // WINDOW: the span between the last healthy probe before a tripped
    // one and the next healthy probe (when the trip came from the
    // start-loadavg gate, every query is in the window). The pass is
    // capped to bound its cost; with no readable reference at all, it
    // falls back to the round-18 rank rule (8 slowest).
    val retimeCap = 15
    val retimeFailed = scala.collection.mutable.ArrayBuffer.empty[String]
    val benchRef: Map[String, Double] = {
      val p = sys.env.getOrElse("SPARK_GRAFT_BENCH_REF", "bench_ref.json")
      try {
        val s = new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(p)), "UTF-8")
        "\"([A-Za-z0-9_]+)\"\\s*:\\s*([0-9.eE+-]+)".r.findAllMatchIn(s)
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
      } catch { case _: Throwable => Map.empty }
    }
    def refLimit(r: Double): Double = math.max(r * 1.5, r + 0.1)
    // query positions inside contamination windows: probes partition the
    // sweep into spans; a tripped probe (or a tripped start loadavg, which
    // taints everything up to the first healthy probe... conservatively:
    // everything) marks the queries timed since the last healthy probe.
    val suspectPos: Set[Int] =
      if (!startLoadOk) names.indices.toSet
      else {
        val sorted = recheckBuf.sortBy(_._1)
        var prevHealthy = 0
        val acc = scala.collection.mutable.Set.empty[Int]
        sorted.foreach { case (idx, v) =>
          if (v > canaryLimit) acc ++= (prevHealthy until idx)
          else prevHealthy = idx
        }
        acc.toSet
      }
    val retimed: Seq[(String, Double)] =
      if (canaryOk && !sys.env.contains("SPARK_GRAFT_CANARY_FORCE")) Seq.empty
      else {
        val ok = results.zipWithIndex.collect {
          case ((k, v, None), i) => (k, v, i) }
        val candidates: Seq[(String, Double)] =
          if (benchRef.isEmpty) ok.map { case (k, v, _) => (k, v) }
            .sortBy(-_._2).take(8)
          else {
            // over-reference members first, worst excess ratio first;
            // then window-suspect members the reference does not know,
            // slowest first — one ordered list, capped as a whole
            val overRef = ok.flatMap { case (k, v, _) =>
              benchRef.get(k).collect {
                case r if v > refLimit(r) => (k, v, v / r) } }
              .sortBy(-_._3).map { case (k, v, _) => (k, v) }
            val windowed = ok.collect {
              case (k, v, i) if !benchRef.contains(k) && suspectPos(i) =>
                (k, v) }.sortBy(-_._2)
            (overRef ++ windowed).take(retimeCap)
          }
        candidates.flatMap { case (k, _) =>
          graft.queries.Registry.prepares.get(k).foreach { p =>
            try p(spark, sfDir) catch { case _: Throwable => () } }
          val t0 = System.nanoTime()
          val failed = try { SparkEntry.queries(k)(spark, sfDir).count(); false }
            catch { case _: Throwable => true }
          val e = (System.nanoTime() - t0) / 1e9
          spark.catalog.clearCache()
          // a retime that THROWS must not feed min(): a fast failure is a
          // DNF, not a fast win — drop the pair so the first reading stands
          if (failed) { retimeFailed += k; None } else Some((k, e))
        }
      }
    val retimedMap = retimed.toMap
    def adjusted(k: String, v: Double): Double =
      retimedMap.get(k).map(math.min(v, _)).getOrElse(v)
    val totalAdj = results.collect {
      case (k, v, None) if !defaultMode || legacySet(k) => adjusted(k, v) }.sum
    val pipeTotalAdj = results.collect {
      case (k, v, None) if pipeSet(k) => adjusted(k, v) }.sum
    // recheck AGAIN after the retime pass: records whether the retimed
    // readings themselves ran on a healthy machine
    val warmRecheck2 =
      if (retimed.isEmpty && retimeFailed.isEmpty) -1.0 else cpuProbe()
    val loadEnd = loadavg
    val retimedJson = retimed.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val json = s"""{"metric":"total","value":$total,"unit":"sec",""" +
      s""""pipeline_total":$pipeTotal,""" +
      s""""queries":$qs,"failed":${failed.mkString("[", ",", "]")},""" +
      s""""sf":"$sfDir","commit":"$commitSha",""" +
      s""""warmup_sec":$warmSecs,"warmup_recheck_sec":$warmRecheck,""" +
      s""""probe_ref_sec":$probeRef,""" +
      s""""probes":${recheckBuf.map { case (i, v) => s"[$i,$v]" }
        .mkString("[", ",", "]")},""" +
      s""""probe_limit_sec":$canaryLimit,"canary_load_limit":$loadLimit,""" +
      s""""canary_ok":$canaryOk,""" +
      (if (retimed.isEmpty && retimeFailed.isEmpty) ""
       else s""""retimed":$retimedJson,"value_adjusted":$totalAdj,""" +
         s""""pipeline_total_adjusted":$pipeTotalAdj,""" +
         s""""probe_after_retime_sec":$warmRecheck2,""" +
         s""""retime_ref_entries":${benchRef.size},""" +
         s""""retime_failed":${retimeFailed.map("\"" + _ + "\"")
           .mkString("[", ",", "]")},""") +
      s""""loadavg_start":$loadStart,"loadavg_end":$loadEnd,""" +
      s""""wall_sec":${(System.nanoTime() - wall0) / 1e9}}"""
    println(json)
    // Also land the line in a file: the sbt-wrapped stdout prefixes every
    // line with "[info] ", which has broken downstream JSON extraction
    // (BENCH_r*.json "parsed": null since round 1) — a bare-JSON file is
    // the machine-readable record. Overridable for concurrent runs.
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_LAST.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (json + "\n").getBytes("UTF-8"))
    catch { case e: Throwable => System.err.println(s"[bench] write $outPath: $e") }
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[bench] ${failed.size} quer(ies) failed: ${failed.mkString(",")}")
      sys.exit(2)
    }
  }

  /** Run provenance: the HEAD commit of the benched tree (best effort). */
  private def commitSha: String =
    try {
      val p = new ProcessBuilder("git", "rev-parse", "--short", "HEAD")
        .redirectErrorStream(true).start()
      val out = new String(p.getInputStream.readAllBytes(), "UTF-8").trim
      if (p.waitFor() == 0 && out.matches("[0-9a-f]{6,}")) out else "unknown"
    } catch { case _: Throwable => "unknown" }
}
