package graft.queries

import graft.Tables
import graft.streaming.StreamPartitions
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Structured Streaming coverage (SURVEY.md §2.5, §2.10) executed inside the
  * correctness gate: each query replays the `events` parquet through a file
  * stream source, runs a real streaming query to completion (memory sink),
  * and returns the sink table — so watermark/window/output-mode semantics
  * are exercised for real, then hash-checked against a batch SQL oracle.
  */
object StreamQueries {

  private val HourUs = 3600000000L

  /** Run to completion; memory sink table named after the query. The
    * stream runs under [[StreamPartitions.around]], its state partitions
    * sized to the gate's data (a real deployment sizes them to key
    * cardinality and executor count; they are baked into the checkpoint
    * either way). */
  private[queries] def run(df: DataFrame, mode: String, name: String)(
      implicit s: SparkSession): DataFrame = {
    StreamPartitions.around(s) {
      val q = df.writeStream.outputMode(mode).format("memory").queryName(name).start()
      try q.processAllAvailable() finally q.stop()
    }
    s.table(name)
  }

  /** Per-user event count and millis sum: qdp, qdi and qdm. */
  private[queries] lazy val OUserEventAgg: String =
    """SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
          CAST(sum(CAST(round(value*1000) AS BIGINT)) AS BIGINT) AS sum_millis
        FROM events GROUP BY user_id ORDER BY user_id"""

  def entries: Seq[Entry] = Seq(

    // unbounded keyed aggregation (reference: DataStreamGroupAggregate /
    // GroupAggProcessFunction retract stream) — final state == batch agg
    Entry("q90_stream_unbounded_agg",
      (s, dir) => {
        implicit val sp: SparkSession = s
        val agg = Tables.stream(s, dir, "events")
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n"),
            (sum(round(col("value") * 1000).cast("long")) / 1000.0).as("sum_value"))
        run(agg, "complete", "q90_sink").orderBy(col("user_id"))
      },
      Some("""SELECT user_id, count(*) AS n,
        (CAST(sum(CAST(round(value*1000) AS BIGINT)) AS BIGINT)/1000.0) AS sum_value
        FROM events GROUP BY user_id""")),

    // Stream-static enrichment (the reference's stream ⋈ static lookup
    // pattern): the event stream joins a broadcast dimension table each
    // micro-batch — the dimension never shuffles, the stream stays keyed.
    Entry("q8m_stream_enrich",
      (s, dir) => {
        implicit val sp: SparkSession = s
        val dim = graft.Tables(s, dir, "customer")
          .select(col("c_custkey"), col("c_mktsegment"))
        val agg = Tables.stream(s, dir, "events")
          .join(broadcast(dim), col("user_id") === col("c_custkey"))
          .groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n"),
            sum(round(col("value") * 1000).cast("long")).as("sum_millis"))
        run(agg, "complete", "q8m_sink")
      },
      Some("""SELECT c_mktsegment, count(*) AS n,
          CAST(sum(CAST(round(value*1000) AS BIGINT)) AS BIGINT) AS sum_millis
        FROM events JOIN customer ON user_id = c_custkey
        GROUP BY c_mktsegment""")),

    // event-time tumbling window aggregation, complete mode
    Entry("q91_stream_tumble",
      (s, dir) => {
        implicit val sp: SparkSession = s
        val agg = Tables.stream(s, dir, "events")
          .groupBy(window(col("ts"), "1 hour"), col("event_type"))
          .agg(count(lit(1)).as("n"))
          .select(unix_micros(col("window.start")).as("win_start_us"),
            col("event_type"), col("n"))
        run(agg, "complete", "q91_sink")
      },
      Some(s"""SELECT (epoch_us(ts) // $HourUs) * $HourUs AS win_start_us,
        event_type, count(*) AS n FROM events GROUP BY 1, 2""")),

    // watermarked append mode: only windows whose end <= final watermark
    // (max event time - delay) are emitted — the oracle pins that semantics
    Entry("q92_stream_tumble_append",
      (s, dir) => {
        implicit val sp: SparkSession = s
        val agg = Tables.stream(s, dir, "events")
          .withWatermark("ts", "10 minutes")
          .groupBy(window(col("ts"), "1 hour"))
          .agg(count(lit(1)).as("n"),
            (sum(round(col("value") * 1000).cast("long")) / 1000.0).as("sum_value"))
          .select(unix_micros(col("window.start")).as("win_start_us"),
            col("n"), col("sum_value"))
        run(agg, "append", "q92_sink")
      },
      Some(s"""WITH wm AS (
          SELECT epoch_ms(max(ts)) - 600000 AS watermark_ms FROM events
        )
        SELECT (epoch_us(ts) // $HourUs) * $HourUs AS win_start_us,
          count(*) AS n,
          (CAST(sum(CAST(round(value*1000) AS BIGINT)) AS BIGINT)/1000.0) AS sum_value
        FROM events, wm
        GROUP BY 1, wm.watermark_ms
        HAVING ((win_start_us + $HourUs) / 1000) <= wm.watermark_ms""")),

    // Streaming windowed HLL (Sketches.hllWindowedDistinct): distinct users
    // per 6-hour window as a mergeable sketch — two CHAINED windowed
    // aggregations (window×bucket register max, then the register sum
    // re-keyed on the same window via window_time), Spark's multiple-
    // stateful-operator form. Per-window state is 2^p registers regardless
    // of event volume, the shape that survives unbounded keys where exact
    // windowed countDistinct cannot. Deterministic register arithmetic =
    // the oracle replays every register; append-mode emission follows the
    // q92 watermark rule.
    Entry("qco_stream_hll_window",
      (s, dir) => {
        implicit val sp: SparkSession = s
        val agg = graft.operators.Sketches.hllWindowedDistinct(
          Tables.stream(s, dir, "events"), "ts", "6 hours", "user_id",
          p = 4, watermark = "10 minutes")
          .select(unix_micros(col("window.start")).as("win_start_us"),
            col("hll_estimate"), col("zero_registers"))
        run(agg, "append", "qco_sink")
      },
      Some {
        val p = 4
        val m = 1 << p
        val c = 0.673 * m.toDouble * m.toDouble
        val cap = 64 - p + 1
        val rest = s"((h >> $p) & ${(1L << (64 - p)) - 1})"
        val winUs = 6 * HourUs
        s"""WITH wm AS (
          SELECT epoch_ms(max(ts)) - 600000 AS watermark_ms FROM events
        ),
        u AS (SELECT (epoch_us(ts) // $winUs) * $winUs AS win_start_us,
            CAST(user_id AS VARCHAR) AS us FROM events),
        h AS (SELECT win_start_us,
            ${QueryUtil.oSigned(QueryUtil.oFnv("us"))} AS h FROM u),
        r AS (SELECT win_start_us, h & ${m - 1} AS bucket,
            CASE WHEN $rest = 0 THEN $cap
              ELSE CAST(log2(CAST($rest & -$rest AS DOUBLE)) AS INT) + 1
            END AS rank
          FROM h),
        reg AS (SELECT win_start_us, bucket, max(rank) AS mx FROM r GROUP BY 1, 2),
        agg AS (SELECT win_start_us,
            sum(CAST(power(2.0, 64 - mx) AS HUGEINT)) AS present,
            count(*) AS nreg
          FROM reg GROUP BY 1)
        SELECT win_start_us,
          round($c * 1.8446744073709552E19 / CAST(present +
            ($m - nreg) * 18446744073709551616::HUGEINT AS DOUBLE), 4) AS hll_estimate,
          CAST($m - nreg AS BIGINT) AS zero_registers
        FROM agg, wm
        WHERE ((win_start_us + $winUs) / 1000) <= wm.watermark_ms"""
      }),

    // Processing-time tumbling window (reference:
    // TumblingProcessingTimeWindows + ProcessingTimeTrigger): windows are
    // assigned by the arrival clock, not the event's own timestamp. The
    // Spark mapping is ProcTime.tumble — an ingest-time clock column through
    // the ordinary window machinery (production clock: current_timestamp()).
    // The gate injects a deterministic clock — a steady 3 ms-per-event
    // source replay over the fixture's arrival sequence (event_id) — so the
    // wall-clock semantics, including the append-mode "window closes when
    // the clock passes its end" trigger, replay bit-for-bit in the oracle.
    Entry("qbq_proctime_tumble",
      (s, dir) => {
        implicit val sp: SparkSession = s
        val clock = timestamp_millis(lit(1000000000000L) + col("event_id") * 3)
        val (stamped, win) = graft.streaming.ProcTime.tumble(
          Tables.stream(s, dir, "events"), "1 second", clock)
        val agg = stamped
          .groupBy(win, col("event_type"))
          .agg(count(lit(1)).as("n"),
            sum(round(col("value") * 1000).cast("long")).as("sum_millis"))
          .select(unix_millis(col("window.start")).as("win_start_ms"),
            col("event_type"), col("n"), col("sum_millis"))
        run(agg, "append", "qbq_sink")
      },
      Some("""WITH e AS (
          SELECT event_type, value,
            1000000000000 + event_id * 3 AS proc_ms FROM events),
        wm AS (SELECT max(proc_ms) AS wm_ms FROM e)
        SELECT (proc_ms // 1000) * 1000 AS win_start_ms, event_type,
          count(*) AS n,
          CAST(sum(CAST(round(value*1000) AS BIGINT)) AS BIGINT) AS sum_millis
        FROM e, wm
        GROUP BY 1, 2, wm.wm_ms
        HAVING win_start_ms + 1000 <= wm.wm_ms""")),

    // streaming dedup (dropDuplicates) feeding an aggregation
    Entry("q93_stream_dedup",
      (s, dir) => {
        implicit val sp: SparkSession = s
        val agg = Tables.stream(s, dir, "events")
          .dropDuplicates("user_id", "event_type")
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("distinct_users"))
        run(agg, "complete", "q93_sink")
      },
      Some("""SELECT event_type, count(DISTINCT user_id) AS distinct_users
        FROM events GROUP BY event_type""")),

    // stream-stream inner join with event-time range condition
    // (reference: window join JoinedStreams.where/equalTo/window/apply)
    Entry("q94_stream_join",
      (s, dir) => {
        implicit val sp: SparkSession = s
        val ev = Tables.stream(s, dir, "events")
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
            col("ts").as("c_ts")).withWatermark("c_ts", "1 hour")
        val purchases = Tables.stream(s, dir, "events").filter(col("event_type") === "purchase")
          .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
            col("ts").as("p_ts")).withWatermark("p_ts", "1 hour")
        val joined = clicks.join(purchases,
          col("c_user") === col("p_user") &&
            col("p_ts") >= col("c_ts") &&
            col("p_ts") <= col("c_ts") + expr("INTERVAL 30 MINUTES"))
          .select(col("c_user").as("user_id"), col("click_id"), col("purchase_id"))
        run(joined, "append", "q94_sink")
      },
      Some("""SELECT c.user_id AS user_id, c.event_id AS click_id,
          p.event_id AS purchase_id
        FROM events c JOIN events p
          ON c.user_id = p.user_id AND c.event_type = 'click'
          AND p.event_type = 'purchase'
          AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE""")),

    // LEFT OUTER stream-stream join (exceeds the reference: Flink 1.3's
    // window join was inner-only): unmatched clicks emit with null purchase
    // once the watermark proves no match can arrive — on a finite replay,
    // exactly the clicks whose match horizon closed under the final
    // watermark, which the oracle reproduces.
    Entry("q8n_stream_join_outer",
      (s, dir) => {
        implicit val sp: SparkSession = s
        val clicks = Tables.stream(s, dir, "events").filter(col("event_type") === "click")
          .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
            col("ts").as("c_ts")).withWatermark("c_ts", "1 hour")
        val purchases = Tables.stream(s, dir, "events").filter(col("event_type") === "purchase")
          .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
            col("ts").as("p_ts")).withWatermark("p_ts", "1 hour")
        val joined = clicks.join(purchases,
          col("c_user") === col("p_user") &&
            col("p_ts") >= col("c_ts") &&
            col("p_ts") <= col("c_ts") + expr("INTERVAL 30 MINUTES"),
          "left_outer")
          .select(col("c_user").as("user_id"), col("click_id"), col("purchase_id"))
        run(joined, "append", "q8n_sink")
      },
      Some("""WITH c AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'click'),
        p AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase'),
        matched AS (
          SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id
          FROM c JOIN p ON c.user_id = p.user_id
            AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE),
        wm AS (
          -- global watermark = MIN of the two sides' own watermarks (each
          -- side's max event time, ms-truncated, minus its 1h delay)
          SELECT least((SELECT (epoch_us(max(ts)) // 1000) * 1000 FROM c),
                       (SELECT (epoch_us(max(ts)) // 1000) * 1000 FROM p))
                 - 3600000000 AS wm_us),
        unmatched AS (
          SELECT c.user_id, c.event_id AS click_id, CAST(NULL AS BIGINT) AS purchase_id
          FROM c, wm
          WHERE NOT EXISTS (SELECT 1 FROM p WHERE p.user_id = c.user_id
              AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE)
            AND epoch_us(c.ts) + 1800000000 < wm.wm_us)
        SELECT * FROM matched UNION ALL SELECT * FROM unmatched""")),

    // FULL OUTER stream-stream join: both sides emit null-padded rows once
    // their own match horizon closes under the watermark — the left side
    // when c.ts + 30min passes, the right side when p.ts itself passes
    // (a purchase stays matchable by clicks up to its own timestamp).
    Entry("q8o_stream_join_full",
      (s, dir) => {
        implicit val sp: SparkSession = s
        val clicks = Tables.stream(s, dir, "events").filter(col("event_type") === "click")
          .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
            col("ts").as("c_ts")).withWatermark("c_ts", "1 hour")
        val purchases = Tables.stream(s, dir, "events").filter(col("event_type") === "purchase")
          .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
            col("ts").as("p_ts")).withWatermark("p_ts", "1 hour")
        val joined = clicks.join(purchases,
          col("c_user") === col("p_user") &&
            col("p_ts") >= col("c_ts") &&
            col("p_ts") <= col("c_ts") + expr("INTERVAL 30 MINUTES"),
          "full_outer")
          .select(coalesce(col("c_user"), col("p_user")).as("user_id"),
            col("click_id"), col("purchase_id"))
        run(joined, "append", "q8o_sink")
      },
      Some("""WITH c AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'click'),
        p AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase'),
        wm AS (
          SELECT least((SELECT (epoch_us(max(ts)) // 1000) * 1000 FROM c),
                       (SELECT (epoch_us(max(ts)) // 1000) * 1000 FROM p))
                 - 3600000000 AS wm_us),
        matched AS (
          SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id
          FROM c JOIN p ON c.user_id = p.user_id
            AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE),
        un_left AS (
          SELECT c.user_id, c.event_id AS click_id, CAST(NULL AS BIGINT) AS purchase_id
          FROM c, wm
          WHERE NOT EXISTS (SELECT 1 FROM p WHERE p.user_id = c.user_id
              AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE)
            AND epoch_us(c.ts) + 1800000000 < wm.wm_us),
        un_right AS (
          SELECT p.user_id, CAST(NULL AS BIGINT) AS click_id, p.event_id AS purchase_id
          FROM p, wm
          WHERE NOT EXISTS (SELECT 1 FROM c WHERE c.user_id = p.user_id
              AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE)
            AND epoch_us(p.ts) < wm.wm_us)
        SELECT * FROM matched
        UNION ALL SELECT * FROM un_left
        UNION ALL SELECT * FROM un_right""")),

    // End-to-end Kafka-source pipeline through the correctness gate: the
    // events fixture is re-encoded as a Kafka-framed topic (key/value
    // bytes + topic/partition/offset/timestamp, partitioned by user,
    // per-partition-monotonic offsets, one file per broker fetch batch),
    // consumed via KafkaShaped.readStream (the exact format("kafka")
    // frame), value bytes JSON-decoded — the DeserializationSchema step —
    // then aggregated per event_type. The oracle computes the same
    // aggregate from the ORIGINAL parquet, so encode → partition →
    // stream → decode → aggregate must be lossless end to end. With the
    // real connector on the classpath only the source line changes.
    Entry("qd8_kafka_shaped_pipeline",
      (s, dir) => {
        implicit val sp: SparkSession = s
        import org.apache.spark.sql.types._
        val topicDir = kafkaTopicFromEvents(s, dir)
        val valueSchema = StructType(Seq(
          StructField("event_id", LongType), StructField("user_id", LongType),
          StructField("event_type", StringType),
          StructField("value_millis", LongType)))
        val decoded = graft.sources.KafkaShaped.readStream(s, topicDir, maxFilesPerTrigger = 1)
          .select(col("partition"), col("offset"),
            graft.sources.KafkaShaped.decodeJson(valueSchema).as("v"))
          .select(col("partition"), col("offset"), col("v.*"))
        val agg = decoded.groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), sum(col("value_millis")).as("sum_millis"),
            max(col("offset")).as("max_offset"))
        run(agg, "complete", "qd8_sink").orderBy(col("event_type"))
      },
      Some("""WITH e AS (SELECT *, row_number() OVER (
            PARTITION BY user_id % 2 ORDER BY ts, event_id) - 1 AS off
          FROM events)
        SELECT event_type, count(*) AS n,
          CAST(sum(CAST(round(value * 1000) AS BIGINT)) AS BIGINT) AS sum_millis,
          max(off) AS max_offset
        FROM e GROUP BY event_type ORDER BY event_type""")),

    // STREAMING windowed Count-Min (the frequency sibling of qco's HLL):
    // a real streaming query builds one CM sketch per 6h event-time
    // window (state ≤ d·w counters per window regardless of arrivals,
    // append-emitted on window close), then the closed windows' counter
    // store is point-queried for every event type — the per-window
    // hot-key/top-k detector shape. The oracle replays the seeded-FNV
    // counter arithmetic and the watermark close per window exactly.
    Entry("qdc_stream_cm_window",
      (s, dir) => {
        implicit val sp: SparkSession = s
        val (w, d) = (256, 3)
        val counters = graft.operators.Sketches.cmWindowedCounters(
          Tables.stream(s, dir, "events"), "ts", "6 hours", "event_type", w, d,
          watermark = "10 minutes")
          .select(unix_micros(col("window.start")).as("win_start_us"),
            col("cm_row"), col("cm_bucket"), col("cm_cnt"))
        val sunk = run(counters, "append", "qdc_sink")
        // group universe = closed windows, derived from the sink WITHOUT a
        // driver collect (round-9; replaces the round-8 bounded collect).
        // A memory-sink table exposes FIXED attribute ids (MemoryPlan
        // output), so both direct self-join and a second s.table() read
        // trip analyzer attribute-conflict (measured this round; the View/
        // MemoryPlan leaf is not rewritten by DeduplicateRelations). The
        // RDD boundary mints fresh ids while keeping the derivation in the
        // distributed API — and is memory-sink-only scaffolding: a real
        // sink (parquet/Kafka) re-scans with fresh ids and needs neither.
        val winsRows = sunk.select(col("win_start_us")).distinct()
        val wins = s.createDataFrame(winsRows.rdd, winsRows.schema)
        val probes = graft.Tables.events(s, dir).select(col("event_type"))
        graft.operators.Sketches.cmLookupPerGroup(sunk, wins, Seq("win_start_us"),
          probes, "event_type", w, d)
          .orderBy(col("win_start_us"), col("event_type"))
      },
      Some {
        val winUs = 6 * HourUs
        s"""WITH wm AS (
          SELECT epoch_ms(max(ts)) - 600000 AS watermark_ms FROM events
        ),
        u AS (SELECT (epoch_us(ts) // $winUs) * $winUs AS win_start_us,
            event_type FROM events),
        closed AS (SELECT DISTINCT win_start_us FROM u, wm
          WHERE ((win_start_us + $winUs) / 1000) <= wm.watermark_ms),
        seeded AS (SELECT win_start_us, ri,
            concat(CAST(ri AS VARCHAR), '|', event_type) AS s
          FROM u CROSS JOIN range(3) r(ri)),
        counters AS (SELECT win_start_us, ri,
            ${QueryUtil.oFnv("s")} % 256 AS bucket, count(*) AS cnt
          FROM seeded GROUP BY 1, 2, 3),
        pb AS (SELECT event_type, ri,
            ${QueryUtil.oFnv("s")} % 256 AS bucket
          FROM (SELECT event_type, ri,
              concat(CAST(ri AS VARCHAR), '|', event_type) AS s
            FROM (SELECT DISTINCT event_type FROM events)
            CROSS JOIN range(3) r(ri)))
        SELECT c.win_start_us, p.event_type,
          CAST(min(COALESCE(k.cnt, 0)) AS BIGINT) AS cm_est
        FROM closed c CROSS JOIN pb p
        LEFT JOIN counters k ON k.win_start_us = c.win_start_us
          AND k.ri = p.ri AND k.bucket = p.bucket
        GROUP BY 1, 2
        ORDER BY c.win_start_us, p.event_type"""
      }),
    // STREAMING windowed heavy hitters (the top-k sibling of qdc's CM
    // store): a mergeable Misra-Gries summary rides the windowed streaming
    // aggregate — ≤ k counters per partial, emitted with the window's
    // exact arrival count on watermark close — then candidates are
    // EXACT-VERIFIED against per-window true counts (the propose/verify
    // regime of qct and qdo). MG guarantees every key with
    // cnt·(k+1) > n_events survives any arrival/merge order, so the
    // verified output is deterministic and the oracle replays it with no
    // sketch at all: per closed window, exactly the keys above the bound.
    // The fixture's raw keys are near-uniform by construction (max
    // event_type share 24–33%, max user share < 8%), which would make any
    // threshold either empty or capacity > distinct keys (no eviction =
    // no sketch). The gate therefore derives a SKEWED session key — two
    // 40%-mass hot keys + a 64-key uniform tail — so capacity 8 over ~66
    // live keys does real MG eviction while the hot keys ride the bound.
    Entry("qdy_stream_heavy_hitters",
      (s, dir) => {
        implicit val sp: SparkSession = s
        val k = 8
        def hkey(c: org.apache.spark.sql.Column, u: org.apache.spark.sql.Column) =
          when(pmod(c, lit(5)) < 2, lit("hot_a"))
            .when(pmod(c, lit(5)) < 4, lit("hot_b"))
            .otherwise(concat(lit("u"), pmod(u, lit(64)).cast("string")))
        val keyed = Tables.stream(s, dir, "events")
          .withColumn("hkey", hkey(col("event_id"), col("user_id")))
        val cands = graft.operators.Sketches.mgWindowedCandidates(
          keyed, "ts", "6 hours", "hkey", k, watermark = "10 minutes")
          .select(unix_micros(col("window.start")).as("win_start_us"),
            map_keys(col("candidates")).as("cand_keys"), col("n_events"))
        val sunk = run(cands, "append", "qdy_sink")
        val winUs = 6 * HourUs
        val exact = graft.Tables.events(s, dir)
          .select((floor(unix_micros(col("ts")) / winUs) * winUs)
            .cast("long").as("win_start_us"),
            hkey(col("event_id"), col("user_id")).as("hkey"))
          .groupBy("win_start_us", "hkey").agg(count(lit(1)).as("cnt"))
        sunk.select(col("win_start_us"), col("n_events"),
            explode(col("cand_keys")).as("hkey"))
          .join(exact, Seq("win_start_us", "hkey"))
          .filter(col("cnt") * (k + 1) > col("n_events"))
          .select("win_start_us", "hkey", "cnt", "n_events")
          .orderBy("win_start_us", "hkey")
      },
      Some {
        val winUs = 6 * HourUs
        s"""WITH wm AS (
          SELECT epoch_ms(max(ts)) - 600000 AS watermark_ms FROM events
        ),
        u AS (SELECT (epoch_us(ts) // $winUs) * $winUs AS win_start_us,
            CASE WHEN event_id % 5 < 2 THEN 'hot_a'
                 WHEN event_id % 5 < 4 THEN 'hot_b'
                 ELSE 'u' || CAST(user_id % 64 AS VARCHAR) END AS hkey
          FROM events),
        n AS (SELECT win_start_us, count(*) AS n_events FROM u GROUP BY 1),
        closed AS (SELECT win_start_us, n_events FROM n, wm
          WHERE ((win_start_us + $winUs) / 1000) <= wm.watermark_ms),
        c AS (SELECT win_start_us, hkey, count(*) AS cnt
          FROM u GROUP BY 1, 2)
        SELECT c.win_start_us, c.hkey, CAST(c.cnt AS BIGINT) AS cnt,
          CAST(cl.n_events AS BIGINT) AS n_events
        FROM c JOIN closed cl USING (win_start_us)
        WHERE c.cnt * 9 > cl.n_events
        ORDER BY c.win_start_us, c.hkey"""
      }),

    // Kafka gate hardening (round-9 VERDICT item #7): APPEND-mode windowed
    // aggregation through the SAME framed topic as qd8 — watermark +
    // window-close semantics must survive the Kafka frame path (record
    // CreateTime `timestamp` as event time, the production pattern), with
    // the 2-file topic drained one fetch batch per micro-batch so the
    // watermark genuinely advances across batches. Only windows whose end
    // <= final watermark (max event time - 10 min) may appear; the oracle
    // pins exactly that set.
    Entry("qde_kafka_windowed",
      (s, dir) => {
        implicit val sp: SparkSession = s
        import org.apache.spark.sql.types._
        val topicDir = kafkaTopicFromEvents(s, dir)
        val valueSchema = StructType(Seq(
          StructField("event_type", StringType),
          StructField("value_millis", LongType)))
        val decoded = graft.sources.KafkaShaped.readStream(s, topicDir, maxFilesPerTrigger = 1)
          .select(col("timestamp"),
            graft.sources.KafkaShaped.decodeJson(valueSchema).as("v"))
          .select(col("timestamp"), col("v.event_type"), col("v.value_millis"))
        val agg = decoded
          .withWatermark("timestamp", "10 minutes")
          .groupBy(window(col("timestamp"), "1 hour"), col("event_type"))
          .agg(count(lit(1)).as("n"), sum(col("value_millis")).as("sum_millis"))
          .select(unix_micros(col("window.start")).as("win_start_us"),
            col("event_type"), col("n"), col("sum_millis"))
        run(agg, "append", "qde_sink")
          .orderBy(col("win_start_us"), col("event_type"))
      },
      Some(s"""WITH wm AS (
          SELECT epoch_ms(max(ts)) - 600000 AS watermark_ms FROM events
        )
        SELECT (epoch_us(ts) // $HourUs) * $HourUs AS win_start_us,
          event_type, count(*) AS n,
          CAST(sum(CAST(round(value * 1000) AS BIGINT)) AS BIGINT) AS sum_millis
        FROM events, wm
        GROUP BY 1, 2, wm.watermark_ms
        HAVING ((win_start_us + $HourUs) / 1000) <= wm.watermark_ms
        ORDER BY win_start_us, event_type""")),
  ) ++ Seq(avroGateEntry, jdbcGateEntry, jdbcExactlyOnceEntry) // connector gates

  // Avro scan through the gate: documents re-encoded as Avro container
  // files (Hadoop-compat write path), read back via AvroJdbc.avro, and
  // token-profiled — the oracle computes the same profile from the
  // ORIGINAL parquet, so schema mapping + both Avro directions must be
  // lossless. Cached per source mtime like the Kafka topic.
  private[queries] def avroGateEntry: Entry =
    Entry("qd9_avro_roundtrip",
      (s, dir) => {
        import org.apache.spark.sql.types._
        // preCreate = false: the Hadoop OutputFormat refuses an existing dir
        val avroDir = Scratch.derived(dir, "documents", "avro_docs", preCreate = false) { staging =>
          graft.sources.AvroJdbc.writeAvro(
            graft.Tables(s, dir, "documents")
              .select(col("doc_id"), col("text"), col("lang"), col("n_chars")),
            staging.getPath)
        }
        val schema = StructType(Seq(
          StructField("doc_id", LongType), StructField("text", StringType),
          StructField("lang", StringType), StructField("n_chars", LongType)))
        graft.sources.AvroJdbc.avro(s, s"$avroDir/part-*", schema)
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"),
            sum(graft.functions.TextFunctions.tokenCount(col("text")).cast("long"))
              .as("sum_tokens"))
          .orderBy(col("lang"))
      },
      Some(s"""SELECT lang, count(*) AS n_docs,
          CAST(sum(n_chars) AS BIGINT) AS sum_chars,
          CAST(sum(len(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')))
            AS BIGINT) AS sum_tokens
        FROM documents GROUP BY lang ORDER BY lang"""))

  // JDBC scan through the gate: supplier+nation written to embedded
  // Derby, read back as a PARTITIONED parallel scan (the reference's
  // NumericBetweenParametersProvider split model), joined and aggregated
  // — oracle computes the same from the original parquet. The Derby db
  // lives under /tmp keyed by source mtime; writes happen once.
  private[queries] def jdbcGateEntry: Entry =
    Entry("qda_jdbc_roundtrip",
      (s, dir) => {
        val key = Scratch.derivedKey(dir, "supplier")
        System.setProperty("derby.system.home", "/tmp/graft_derby_home")
        val url = s"jdbc:derby:/tmp/graft_derby_$key/db;create=true"
        val marker = new java.io.File(s"/tmp/graft_derby_$key/.loaded")
        if (!marker.exists()) {
          graft.sources.AvroJdbc.writeJdbc(
            graft.Tables(s, dir, "supplier").select(col("s_suppkey"),
              col("s_nationkey"), col("s_acctbal")), url, "supplier_t")
          graft.sources.AvroJdbc.writeJdbc(
            graft.Tables(s, dir, "nation").select(col("n_nationkey"), col("n_name")),
            url, "nation_t")
          marker.createNewFile()
        }
        val maxKey = graft.Tables(s, dir, "supplier")
          .agg(max(col("s_suppkey"))).head().getLong(0)
        val sup = graft.sources.AvroJdbc.jdbcPartitioned(s, url, "supplier_t",
          "s_suppkey", 0L, maxKey, numParts = 4)
        val nat = graft.sources.AvroJdbc.jdbc(s, url, "nation_t")
        sup.join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
          .groupBy(col("n_name"))
          .agg(count(lit(1)).as("n_suppliers"),
            sum(round(col("s_acctbal") * 100).cast("long")).as("sum_bal_cents"))
          .orderBy(col("n_name"))
      },
      Some("""SELECT n_name, count(*) AS n_suppliers,
          CAST(sum(CAST(round(s_acctbal * 100) AS BIGINT)) AS BIGINT) AS sum_bal_cents
        FROM supplier JOIN nation ON s_nationkey = n_nationkey
        GROUP BY n_name ORDER BY n_name"""))

  // Streaming → JDBC with EXACTLY-ONCE effect (the reference's
  // JDBCOutputFormat was at-least-once): an update-mode per-user aggregate
  // streams through foreachBatch into Derby via MERGE upserts + a batch
  // ledger (AvroJdbc.startUpsertSink). Replays are no-ops by construction
  // — the verdict is the FINAL TABLE STATE read back over JDBC, which must
  // equal the batch aggregate no matter how many times batches applied.
  // Fresh checkpoint per run: the merge layer alone makes re-runs land on
  // the identical end state (spec:AvroJdbcSpec pins both layers).
  private[queries] def jdbcExactlyOnceEntry: Entry =
    Entry("qdp_jdbc_exactly_once",
      (s, dir) => {
        implicit val sp: SparkSession = s
        val key = Scratch.derivedKey(dir, "events")
        System.setProperty("derby.system.home", "/tmp/graft_derby_home")
        val url = s"jdbc:derby:/tmp/graft_derby_eo_$key/db;create=true"
        val agg = Tables.stream(s, dir, "events")
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_events"),
            sum(round(col("value") * 1000).cast("long")).as("sum_millis"))
        StreamPartitions.around(s) {
          Scratch.drain("qdp")(r => graft.sources.AvroJdbc.startUpsertSink(agg, url,
            "user_agg_t", "user_id", Seq("n_events", "sum_millis"), r.ckpt))
        }
        graft.sources.AvroJdbc.jdbc(s, url, "\"user_agg_t\"")
          .select(col("user_id"), col("n_events"), col("sum_millis"))
          .orderBy(col("user_id"))
      },
      Some(OUserEventAgg))

  /** events.parquet → Kafka-framed topic directory (cached per source
    * mtime, multiBatchEvents' layout discipline): 2 files = 2 fetch
    * batches split by event-time half, partition = user_id % 2, offsets
    * per-partition monotonic in (ts, event_id) order. */
  private def kafkaTopicFromEvents(s: SparkSession, dir: String): String =
    Scratch.derived(dir, "events", "kafka_topic") { staging =>
      val e = graft.Tables.events(s, dir)
      val framed = e.select(
          col("user_id").cast("string").cast("binary").as("key"),
          to_json(struct(col("event_id"), col("user_id"), col("event_type"),
            round(col("value") * 1000).cast("long").as("value_millis")))
            .cast("binary").as("value"),
          lit("events").as("topic"),
          pmod(col("user_id"), lit(2)).cast("int").as("partition"),
          (row_number().over(org.apache.spark.sql.expressions.Window
            .partitionBy(pmod(col("user_id"), lit(2)))
            .orderBy(col("ts"), col("event_id"))) - 1).cast("long").as("offset"),
          col("ts").as("timestamp"), lit(0).as("timestampType"),
          unix_micros(col("ts")).as("_ts_us"))
      val midUs = e.agg(avg(unix_micros(col("ts")))).head().getDouble(0).toLong
      Scratch.orderedBatches(staging,
        Seq(col("_ts_us") <= midUs, col("_ts_us") > midUs).map(cond =>
          framed.filter(cond).drop("_ts_us")
            .select(graft.sources.KafkaShaped.schema.fieldNames.map(col).toIndexedSeq: _*)))
    }
}
