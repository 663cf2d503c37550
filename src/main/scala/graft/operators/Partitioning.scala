package graft.operators

import org.apache.spark.sql.{Column, DataFrame}

/** Physical distribution surface (reference: DataStream keyBy/rebalance/
  * shuffle/broadcast/global/partitionCustom — flink-streaming-java/.../
  * runtime/partitioner/ one class each; DataSet partitionByHash/partitionByRange/
  * rebalance — flink-runtime/.../shipping/OutputEmitter.java).
  *
  * Spark mapping, exposed as a thin facade so the capability is explicit:
  * keyBy = hash repartition on key columns; rebalance = round-robin
  * repartition(n); partitionByRange = repartitionByRange; global =
  * coalesce(1)/repartition(1); broadcast = join-side hint (not a stream
  * shape); forward/rescale = narrow dependencies, automatic within stages.
  */
object Partitioning {

  /** keyBy / partitionByHash: co-locate rows by key hash. */
  def byKey(df: DataFrame, n: Int, keys: Column*): DataFrame =
    df.repartition(n, keys: _*)

  /** rebalance: even round-robin redistribution. */
  def rebalance(df: DataFrame, n: Int): DataFrame = df.repartition(n)

  /** partitionByRange: contiguous sorted ranges (sampled bounds). */
  def byRange(df: DataFrame, n: Int, keys: Column*): DataFrame =
    df.repartitionByRange(n, keys: _*)

  /** global: everything to a single partition (parallelism-1 sink). */
  def global(df: DataFrame): DataFrame = df.coalesce(1)

  /** Scale-adaptive fan-out for COMPUTE-BOUND corpus passes (round 20;
    * guide §2.5 "input skew … repartition immediately after the read"):
    * hash-repartition to the session's default parallelism ONLY when the
    * plan currently has fewer partitions. A small-SF parquet fixture is a
    * single row group, so every pre-shuffle per-character pass (gram
    * fingerprints, minhash signatures, suffix prefixes, sketch hashing)
    * otherwise runs in ONE task while 31 cores idle — the measured cause
    * of the round-19 anti-scaling block (8 cores beating 32 on qfa/qfe).
    * At real scale the scan already splits past the core count and this
    * is a NO-OP — zero added exchange — so the exchange it inserts is
    * paid exactly when it buys parallel compute, never as a fixed cost.
    * An explicit partition count is used so AQE's advisory-size coalescing
    * does not re-merge the deliberately small compute partitions.
    *
    * `keys` should be a stable row identity (doc id): hash partitioning
    * on a deterministic key is retry-safe without round-robin's
    * sort-before-repartition pass.
    *
    * The decision reads [[plannedPartitions]], never `df.rdd`: under AQE
    * `Dataset.rdd` materializes every upstream query stage, so a probe
    * would run a caller's shuffles once at compose time and again at the
    * action. Composing this operator launches no job. */
  def fanOutForCompute(df: DataFrame, keys: Column*): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (plannedPartitions(df) >= target) df
    else if (keys.nonEmpty) df.repartition(target, keys: _*)
    else df.repartition(target)
  }

  /** The partition count `df` is planned to run with, read from its
    * physical plan without executing any of it: the output partitioning
    * when the plan states one (an exchange's planned count — AQE may
    * still coalesce it at run time), else the splits of the row-feeding
    * scans (file splits, an RDD's or a local relation's partitions, a
    * cached frame's plan; a union adds its children, any other node takes
    * its widest child — a broadcast side plans as one partition).
    * A leaf of any other kind counts as already wide. */
  private def plannedPartitions(df: DataFrame): Int = {
    import org.apache.spark.sql.execution._
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    def parts(p: SparkPlan): Long = p match {
      // the plan AQE starts from, exchanges in place; nothing has run
      case a: AdaptiveSparkPlanExec => parts(a.initialPlan)
      case _ if p.outputPartitioning.numPartitions > 0 => p.outputPartitioning.numPartitions
      case s: FileSourceScanExec => s.inputRDD.getNumPartitions
      case s: RDDScanExec => s.rdd.getNumPartitions
      case s: LocalTableScanExec => s.execute().getNumPartitions
      case m: columnar.InMemoryTableScanExec => parts(m.relation.cachedPlan)
      case u: UnionExec => u.children.map(parts).sum
      case l if l.children.isEmpty => Int.MaxValue
      case o => o.children.map(parts).max
    }
    math.min(parts(df.queryExecution.executedPlan), Int.MaxValue).toInt
  }

  /** sortPartition: per-partition local sort (no shuffle). */
  def sortWithin(df: DataFrame, keys: Column*): DataFrame =
    df.sortWithinPartitions(keys: _*)

  /** zipWithIndex (reference: flink-java/.../utils/DataSetUtils.java —
    * zipWithIndex's two-phase counts-then-offsets plan): globally
    * CONTIGUOUS 0-based indices without a single-partition sort —
    * `monotonically_increasing_id` is non-contiguous and a global
    * `row_number` window funnels everything through one task. Spark's RDD
    * `zipWithIndex` runs the same two jobs (per-partition counts, then
    * offset-mapped scan). Indices follow the DataFrame's partition order —
    * sort first for a deterministic assignment. */
  def zipWithIndex(df: DataFrame, indexCol: String): DataFrame = {
    val schema = df.schema.add(indexCol, org.apache.spark.sql.types.LongType,
      nullable = false)
    val rdd = df.rdd.zipWithIndex().map { case (r, i) =>
      org.apache.spark.sql.Row.fromSeq(r.toSeq :+ i)
    }
    df.sparkSession.createDataFrame(rdd, schema)
  }

  /** Exclusive ordered prefix sum of `valCol` over ascending `orderCol` —
    * the distributed scan primitive behind sequence packing (reference
    * analogue: the two-phase counts-then-offsets plan of DataSetUtils
    * zipWithIndex, generalized from count to sum). A global `sum() OVER
    * (ORDER BY ...)` window funnels the corpus through ONE task; this
    * runs the textbook two-phase scan instead: range-partition + local
    * sort, one pass for per-partition sums (P longs to the driver), one
    * offset-mapped pass — both corpus-linear, driver state O(P).
    *
    * `orderCol` must be unique (it defines the scan order); `valCol`
    * casts to long. Output: ALL input columns + outCol (round 20: the
    * scan CARRIES the caller's payload columns, so no caller pays a
    * join-back exchange to reattach offsets — the join was two more
    * shuffles of the corpus in every packer/budget path). Correct for any
    * sampled range boundaries: partitioning only moves where the
    * per-partition bases land, never the sums. */
  def prefixSum(df: DataFrame, orderCol: String, valCol: String,
                outCol: String, partitions: Int = 0): DataFrame = {
    import org.apache.spark.sql.functions.col
    val spark = df.sparkSession
    val p = if (partitions > 0) partitions
      else spark.conf.get("spark.sql.shuffle.partitions").toInt
    // withColumn would silently REPLACE a caller column named like the
    // internal value column or the output column
    val caseSensitive = spark.conf.get("spark.sql.caseSensitive").toBoolean
    val clash = df.columns.find(c => Seq("_psv", outCol).exists(x =>
      if (caseSensitive) c == x else c.equalsIgnoreCase(x)))
    require(clash.isEmpty, s"prefixSum: input column '${clash.getOrElse("")}' " +
      s"clashes with the internal '_psv' or the output '$outCol' column")
    val sorted = df.withColumn("_psv", col(valCol).cast("long"))
      .repartitionByRange(p, col(orderCol))
      .sortWithinPartitions(orderCol)
    val rdd = sorted.rdd
    rdd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val vi = sorted.schema.fieldIndex("_psv")
      val sums = rdd.mapPartitionsWithIndex { (i, it) =>
        var s = 0L; it.foreach(r => s += r.getLong(vi)); Iterator((i, s))
      }.collect().sortBy(_._1).map(_._2)
      val bases = sums.scanLeft(0L)(_ + _)
      val out = rdd.mapPartitionsWithIndex { (i, it) =>
        var acc = bases(i)
        it.map { r =>
          val row = org.apache.spark.sql.Row.fromSeq(r.toSeq.patch(vi, Nil, 1) :+ acc)
          acc += r.getLong(vi)
          row
        }
      }
      val schema = org.apache.spark.sql.types.StructType(
        sorted.schema.fields.patch(vi, Nil, 1) :+
          org.apache.spark.sql.types.StructField(outCol,
            org.apache.spark.sql.types.LongType, nullable = false))
      // materialize before unpersist so the cached scan feeds both passes
      spark.createDataFrame(out, schema).localCheckpoint(true)
    } finally rdd.unpersist()
  }

  /** Per-GROUP 1-based row number in `order` (the `row_number()`
    * contract, not `dense_rank` — ties get DISTINCT consecutive numbers,
    * assigned nondeterministically across reruns unless the total order
    * is unique) without a group-keyed
    * window — [[prefixSum]]'s two-phase scan generalized from a global
    * running sum to grouped row numbering. A `row_number() OVER
    * (PARTITION BY group ORDER BY ...)` funnels each group through ONE
    * task, which at 100 TB a dominant group (e.g. a one-language corpus
    * under a language key) turns into a single-executor sort of the
    * whole corpus. Here the corpus is RANGE-partitioned on
    * (group, order...) — so a huge group SPANS partitions — then ranked
    * in two corpus-linear passes: per-(partition, group) counts to the
    * driver, offset-mapped scan back out. Range partitioning keeps each
    * group's partitions contiguous, so the driver state is O(P + G)
    * rows (each partition adds at most one extra group boundary), never
    * O(P × G).
    *
    * `order` columns may carry explicit asc/desc (they feed
    * `repartitionByRange` + `sortWithinPartitions` verbatim); make the
    * total order unique (tie-break on a key column) for a deterministic
    * assignment. Output: the input columns + `outCol` (long, 1-based
    * within each group). */
  def groupedRank(df: DataFrame, groupCol: String, order: Seq[Column],
                  outCol: String, partitions: Int = 0): DataFrame = {
    val spark = df.sparkSession
    val p = if (partitions > 0) partitions
      else spark.conf.get("spark.sql.shuffle.partitions").toInt
    val gi = df.schema.fieldIndex(groupCol)
    val sortCols = df.col(groupCol) +: order
    val sorted = df.repartitionByRange(p, sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
    val rdd = sorted.rdd
    rdd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // phase A: per-(partition, group) counts, encounter order = sorted
      val counts = rdd.mapPartitionsWithIndex { (i, it) =>
        val buf = scala.collection.mutable.LinkedHashMap.empty[Any, Long]
        it.foreach { r => val g = r.get(gi); buf(g) = buf.getOrElse(g, 0L) + 1L }
        buf.iterator.map { case (g, c) => (i, g, c) }.toSeq.iterator
      }.collect()
      // driver: cumulative per-group bases across partitions in pid order
      val bases = scala.collection.mutable.HashMap.empty[(Int, Any), Long]
      counts.groupBy(_._2).foreach { case (g, arr) =>
        var acc = 0L
        arr.sortBy(_._1).foreach { case (pid, _, c) =>
          bases((pid, g)) = acc; acc += c
        }
      }
      val bBases = spark.sparkContext.broadcast(bases.toMap)
      val out = rdd.mapPartitionsWithIndex { (i, it) =>
        val running = scala.collection.mutable.HashMap.empty[Any, Long]
        it.map { r =>
          val g = r.get(gi)
          val rk = running.getOrElse(g, bBases.value.getOrElse((i, g), 0L)) + 1L
          running(g) = rk
          org.apache.spark.sql.Row.fromSeq(r.toSeq :+ rk)
        }
      }
      val schema = sorted.schema.add(outCol,
        org.apache.spark.sql.types.LongType, nullable = false)
      // materialize before unpersist so the cached scan feeds both passes
      spark.createDataFrame(out, schema).localCheckpoint(true)
    } finally rdd.unpersist()
  }

  /** Cardinality-adaptive per-group row number — routes between
    * [[groupedRank]] and a plain group-keyed `row_number()` window by
    * the shape of the GROUP KEY, because each form's pathology is the
    * other's sweet spot:
    *
    *   - [[groupedRank]] (two-phase range-partitioned scan) wins when a
    *     group DOMINATES the corpus (a one-language corpus under a
    *     language key: measured 8-11x over the window at 16M rows,
    *     IterBench `grank`), but its phase-A collect puts O(P + G) rows
    *     of (partition, group, count) state on the driver — multi-GB
    *     when G is web-scale domain cardinality (~1e8 registered
    *     domains).
    *   - the window form hash-partitions G groups across the cluster
    *     with ZERO driver state — exactly right for many small groups —
    *     but funnels each group through ONE task, so a dominant group
    *     becomes a single-executor sort of the whole corpus.
    *
    * Route: a CHEAP map-side shape probe first (one count +
    * approx_count_distinct aggregate, no shuffle over the key): when the
    * approximate cardinality is safely under `maxDriverGroups` — the
    * dominant small-G regime — the input takes [[groupedRank]] verbatim
    * with no further routing cost. Only past that margin do exact
    * per-group counts run (ONE distributed G-group aggregate — the same
    * shuffle the window form pays — computed once, persisted for the
    * duration of the routing, or taken from `groupCounts` when the
    * caller already holds them, as [[graft.operators.Sampling]]'s
    * doremiRealize does) to classify the input: exact G <=
    * `maxDriverGroups` still takes [[groupedRank]] (the probe's margin
    * is conservative). Larger G keeps ONLY the
    * groups holding at least a 1/P corpus share (at most P rows): if
    * none exist the whole input takes the window; otherwise the heavy
    * groups take [[groupedRank]] (driver state O(P + heavy), heavy <=
    * P) and the rest take the window, unioned. A group is wholly on one
    * path, so with a UNIQUE total order (tie-break on a key column,
    * same contract as [[groupedRank]]) the numbering is bit-identical
    * to either pure form. Driver state is thus bounded O(P) regardless
    * of G — never the O(G) the pure rank form risks.
    *
    * DETERMINISM CONTRACT (the same one [[groupedRank]]'s two passes
    * already impose): the routing and the final union branches evaluate
    * `df` in independent jobs, so `df` must be deterministic — a
    * nondeterministic input could classify a group heavy and then feed
    * the branch filters different rows, splitting one group across both
    * rank paths. Same rule as Spark's own rule-of-thumb for any plan
    * evaluated more than once.
    *
    * `groupCounts`, when given, must be the exact `(groupCol, count)`
    * frame of `df` (second column long) — the shape aggregate and heavy
    * classification then reuse it instead of re-scanning `df`. Output:
    * the input columns + `outCol` (long, 1-based per group), row order
    * unspecified. */
  def groupedRankAdaptive(df: DataFrame, groupCol: String,
                          order: Seq[Column], outCol: String,
                          partitions: Int = 0,
                          maxDriverGroups: Long = 1L << 17,
                          groupCounts: Option[DataFrame] = None): DataFrame = {
    import org.apache.spark.sql.functions._
    val spark = df.sparkSession
    val p = if (partitions > 0) partitions
      else spark.conf.get("spark.sql.shuffle.partitions").toInt
    // CHEAP SHAPE PROBE first (round-19, closing the round-18 advice):
    // the dominant small-G regime routes to [[groupedRank]] from ONE
    // map-side count + approx_count_distinct aggregate — no shuffle over
    // the group key. Only when the approximate cardinality (plus a 1.3
    // margin that covers HLL's ±3σ at the default 5% rsd, and nulls,
    // which approx_count_distinct skips) could exceed the driver budget
    // do we pay the exact per-group counts the heavy classification
    // needs. An HLL underestimate at the boundary merely lets
    // groupedRank hold ~1.3x the budgeted driver state once — a bounded
    // constant, not the O(G) regression the route exists to prevent.
    if (groupCounts.isEmpty) {
      val probe = df.agg(count(lit(1)).as("n"),
        approx_count_distinct(col(groupCol)).as("g")).head()
      if (probe.getLong(1) + (probe.getLong(1) * 3L) / 10L <= maxDriverGroups)
        return groupedRank(df, groupCol, order, outCol, p)
    }
    val counts = groupCounts match {
      case Some(c) => c.select(col(groupCol),
        col(c.columns(1)).cast("long").as("_c"))
      case None => df.groupBy(col(groupCol)).agg(count(lit(1)).as("_c"))
    }
    val ownCounts = groupCounts.isEmpty
    if (ownCounts) counts.persist() // G rows; reused by all routing actions
    try {
      val shape = counts.agg(coalesce(sum(col("_c")), lit(0L)).as("n"),
        count(lit(1)).as("g")).head()
      val n = shape.getLong(0)
      val g = shape.getLong(1)
      def windowed(part: DataFrame): DataFrame = {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col(groupCol)).orderBy(order: _*)
        part.withColumn(outCol, row_number().over(w).cast("long"))
      }
      if (g <= maxDriverGroups) groupedRank(df, groupCol, order, outCol, p)
      else {
        val heavyMin = math.max(n / p, 2L)
        val heavyRows = counts.filter(col("_c") >= heavyMin)
          .select(col(groupCol)).collect() // <= P rows by construction
        if (heavyRows.isEmpty) windowed(df)
        else {
          val heavyVals = heavyRows.map(_.get(0)).filter(_ != null).toSeq
          val hasNullHeavy = heavyRows.exists(_.isNullAt(0))
          val heavyCond = {
            val in = if (heavyVals.isEmpty) lit(false)
              else coalesce(col(groupCol).isin(heavyVals: _*), lit(false))
            if (hasNullHeavy) in || col(groupCol).isNull else in
          }
          groupedRank(df.filter(heavyCond), groupCol, order, outCol, p)
            .unionByName(windowed(df.filter(!heavyCond)))
        }
      }
      // safe to drop here: heavy groups were collected into literals and
      // groupedRank materializes eagerly — no returned plan reads counts
    } finally { if (ownCounts) counts.unpersist() }
  }

  /** Z-order (Morton) clustering for multi-dimensional data skipping.
    *
    * A table range-partitioned and sorted by ONE column prunes scans on
    * that column only; filters on a second column read every file. Z-order
    * interleaves the bits of several columns' rank positions, so rows close
    * in ANY clustered dimension land close in the layout — per-file min/max
    * stats then prune scans on every clustered column (the standard
    * Delta/Iceberg `OPTIMIZE ZORDER BY` layout trick, here as a plain
    * operator: repartitionByRange + sortWithinPartitions on the z-value).
    *
    * Each column is scaled to `bits` levels between its min and max (one
    * tiny stats agg, broadcast as literals), then bit-interleaved with pure
    * bitwise Column arithmetic — fully codegen'd, no UDF. Columns must be
    * numeric (cast dates/timestamps to epoch first). At 100 TB this is a
    * one-shuffle layout rewrite whose cost is repaid by every subsequent
    * selective scan. */
  def zorderBy(df: DataFrame, n: Int, cols: Seq[String], bits: Int = 16): DataFrame = {
    import org.apache.spark.sql.functions._
    require(cols.nonEmpty && cols.size * bits <= 63,
      s"${cols.size} cols x $bits bits must fit a signed long")
    val statExprs = cols.flatMap(c => Seq(min(col(c).cast("double")).as(s"_min_$c"),
      max(col(c).cast("double")).as(s"_max_$c")))
    val stats = df.agg(statExprs.head, statExprs.tail: _*).head()
    // empty input or an all-null column: min/max are null — every z-value
    // degenerates to one bin, which is harmless; never NPE on the driver
    def statOr0(i: Int): Double =
      if (stats.isNullAt(i)) 0.0 else stats.getDouble(i)
    val levels = (1L << bits) - 1
    val scaled = cols.zipWithIndex.map { case (c, i) =>
      val lo = statOr0(2 * i); val hi = statOr0(2 * i + 1)
      val span = if (hi > lo) hi - lo else 1.0
      least(greatest(
        round((col(c).cast("double") - lit(lo)) / lit(span) * levels).cast("long"),
        lit(0L)), lit(levels))
    }
    // interleave: output bit (b * #cols + j) = bit b of column j
    val z = (0 until bits).foldLeft(lit(0L)) { (acc, b) =>
      scaled.zipWithIndex.foldLeft(acc) { case (a, (s, j)) =>
        a.bitwiseOR(shiftleft(shiftrightunsigned(s, b).bitwiseAND(lit(1L)),
          b * cols.size + j))
      }
    }
    df.withColumn("_z", z)
      .repartitionByRange(n, col("_z"))
      .sortWithinPartitions(col("_z"))
      .drop("_z")
  }

  /** zipWithUniqueId (reference: DataSetUtils.zipWithUniqueId): unique but
    * non-contiguous ids in ONE pass (id = index-within-partition ×
    * #partitions + partitionId) — when contiguity isn't needed, skip
    * zipWithIndex's extra counting job. */
  def zipWithUniqueId(df: DataFrame, indexCol: String): DataFrame = {
    val schema = df.schema.add(indexCol, org.apache.spark.sql.types.LongType,
      nullable = false)
    val n = df.rdd.getNumPartitions.toLong
    val rdd = df.rdd.mapPartitionsWithIndex { (pid, rows) =>
      rows.zipWithIndex.map { case (r, i) =>
        org.apache.spark.sql.Row.fromSeq(r.toSeq :+ (i.toLong * n + pid))
      }
    }
    df.sparkSession.createDataFrame(rdd, schema)
  }
}
