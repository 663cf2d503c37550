package graft.queries

import graft.Tables
import graft.streaming.StatefulOps
import graft.streaming.StatefulOps.KeyedEvent
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Custom stateful streaming operators (SURVEY.md §7 phase 3–5) run through
  * the same synchronous file-stream harness as StreamQueries: real
  * Structured Streaming queries on `transformWithState` with event-time
  * timers, drained by the watermark, then hash-checked against batch SQL.
  *
  * Watermark delay is 0s and event-time timers fire when watermark >= ts
  * (verified empirically), so on a finite replay every buffered row is
  * emitted and a batch oracle can reproduce the output exactly.
  */
object StatefulStreamQueries {

  /** events → watermarked Dataset[KeyedEvent] keyed by user_id.
    * `tsUsShift` (µs, subtracted from the carried event time) lets a query
    * derive a skewed event-time column while the stream's watermark stays on
    * the raw `ts` — the two-tier setup the lateness operator needs. */
  private def keyedEvents(s: SparkSession, dir: String,
                          tsUsShift: org.apache.spark.sql.Column = lit(0L)): Dataset[KeyedEvent] = {
    import s.implicits._
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    Tables.stream(s, dir, "events").withWatermark("ts", "0 seconds")
      .select(col("user_id").as("key"), col("event_id").as("eventId"),
        (unix_micros(col("ts").cast("timestamp")) - tsUsShift).as("tsUs"),
        col("event_type").as("eventType"),
        round(col("value") * 1000).cast("long").as("valueMillis"))
      .as[KeyedEvent]
  }

  /** events split into 4 event-time-quartile parquet files with strictly
    * increasing modification times, so `maxFilesPerTrigger=1` replays them
    * as 4 ordered micro-batches — cross-batch state carry-over and
    * watermark advancement run inside the correctness gate (single-file
    * replay exercises only one batch). */
  private def multiBatchEvents(s: SparkSession, dir: String): Dataset[KeyedEvent] = {
    import s.implicits._
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val base = graft.Tables.events(s, dir)
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
        col("user_id"), col("event_type"), col("value"))
    val mbDir = Scratch.derived(dir, "events", "mb") { staging =>
      val Array(q1, q2, q3) = base.stat.approxQuantile("event_id",
        Array(0.25, 0.5, 0.75), 0.0) // event_id is ts-ordered in the fixture
      Scratch.orderedBatches(staging, Seq(
        col("event_id") <= q1, col("event_id") > q1 && col("event_id") <= q2,
        col("event_id") > q2 && col("event_id") <= q3, col("event_id") > q3)
        .map(c => base.filter(c)))
    }
    val schema = base.schema
    s.readStream.schema(schema).option("maxFilesPerTrigger", "1")
      .parquet(s"$mbDir/batch_*.parquet")
      .withWatermark("ts", "0 seconds")
      .select(col("user_id").as("key"), col("event_id").as("eventId"),
        unix_micros(col("ts")).as("tsUs"), col("event_type").as("eventType"),
        round(col("value") * 1000).cast("long").as("valueMillis"))
      .as[KeyedEvent]
  }

  /** binaryFile's fixed source schema (a file stream requires it). */
  private val BinaryFileSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "path STRING, modificationTime TIMESTAMP, length BIGINT, content BINARY")

  /** A binaryFile stream over the `*.<ext>` files of `dir`. */
  private def binaryFileStream(s: SparkSession, dir: String, ext: String): DataFrame =
    s.readStream.format("binaryFile").schema(BinaryFileSchema)
      .option("pathGlobFilter", s"*.$ext").load(dir)

  // shares StreamQueries.run's scoped stream-partition sizing
  private def run(df: DataFrame, name: String)(implicit s: SparkSession): DataFrame =
    StreamQueries.run(df, "append", name)

  /** Shared oracle body for the two-tier lateness operators (q8e/q8f): the
    * classification / on-time-fire / late-refire / side-output replay is
    * identical — callers supply only the clean-watermark running aggregates
    * over `r` (inclusive and exclusive of the current row). */
  private def latenessOracleSql(cwmI: String, cwmE: String): String =
    s"""WITH r AS (
          SELECT user_id AS key, event_id AS aid, event_type,
            epoch_us(ts) - CASE WHEN event_id % 5 = 0 THEN ${8L * 3600000000L} ELSE 0 END AS ts2,
            CAST(round(value*1000) AS BIGINT) AS vm
          FROM events),
        c AS (
          SELECT key, aid, ts2, vm,
            (ts2 // ${6L * 3600000000L}) * ${6L * 3600000000L} AS w,
            $cwmI AS cwm_i,
            $cwmE AS cwm_e
          FROM r),
        cls AS (
          SELECT *, w + ${6L * 3600000000L} AS wend,
            CASE WHEN w + ${6L * 3600000000L} + ${4L * 3600000000L} <= cwm_e THEN 'side'
                 WHEN w + ${6L * 3600000000L} <= cwm_e THEN 'late'
                 ELSE 'norm' END AS cls
          FROM c),
        fires0 AS (
          SELECT win.key, win.w, min(c2.aid) AS fa
          FROM (SELECT DISTINCT key, w, wend FROM cls WHERE cls <> 'side') win
          JOIN c c2 ON c2.key = win.key AND c2.cwm_i >= win.wend
          GROUP BY 1, 2),
        ontime AS (
          SELECT f.key, f.w AS win_start_us, 'fire' AS tag, f.fa AS trig_id,
            count(*) AS n, CAST(sum(x.vm) AS BIGINT) AS sum_millis
          FROM fires0 f JOIN cls x ON x.key = f.key AND x.w = f.w
            AND x.cls <> 'side' AND x.aid <= f.fa
          GROUP BY 1, 2, 3, 4),
        latef AS (
          SELECT l.key, l.w AS win_start_us, 'fire' AS tag, l.aid AS trig_id,
            count(*) AS n, CAST(sum(x.vm) AS BIGINT) AS sum_millis
          FROM (SELECT * FROM cls WHERE cls = 'late') l
          JOIN cls x ON x.key = l.key AND x.w = l.w
            AND x.cls <> 'side' AND x.aid <= l.aid
          GROUP BY 1, 2, 3, 4),
        seqd AS (
          SELECT key, win_start_us, tag,
            row_number() OVER (PARTITION BY key, win_start_us ORDER BY trig_id) - 1 AS fire_seq,
            trig_id, n, sum_millis
          FROM (SELECT * FROM ontime UNION ALL SELECT * FROM latef))
        SELECT key, win_start_us, tag, fire_seq, trig_id, n, sum_millis FROM seqd
        UNION ALL
        SELECT key, w AS win_start_us, 'side' AS tag, CAST(-1 AS BIGINT) AS fire_seq,
          aid AS trig_id, CAST(1 AS BIGINT) AS n, vm AS sum_millis
        FROM cls WHERE cls = 'side'"""

  /** q95's oracle, shared by its multi-batch replay q8d. */
  private lazy val ORunningAgg: String =
    """SELECT user_id AS key, event_id, epoch_us(ts) AS ts_us,
          row_number() OVER w AS running_n,
          CAST(sum(CAST(round(value*1000) AS BIGINT)) OVER w AS BIGINT) AS running_sum_millis
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"""

  def entries: Seq[Entry] = Seq(

    // Streaming OVER: ROWS UNBOUNDED PRECEDING running aggregate per key,
    // one output row per input row, event-time order.
    Entry("q95_stream_over_running",
      (s, dir) => {
        implicit val sp: SparkSession = s
        import sp.implicits._
        val out = StatefulOps.run(keyedEvents(s, dir), new StatefulOps.RunningAgg)
          .toDF("key", "event_id", "ts_us", "running_n", "running_sum_millis")
        run(out, "q95_sink")
      },
      // sum(BIGINT) in DuckDB widens to HUGEINT, which pandas renders as
      // float64 ("123.0") while Spark's long prints "123" — the driver's
      // string-level hash then mismatches on equal values. Cast every
      // integer-sum output back to BIGINT (here and in all q9x oracles).
      Some(ORunningAgg)),

    // Tumbling count windows of 10 rows per key; only completed windows emit.
    Entry("q96_stream_count_window",
      (s, dir) => {
        implicit val sp: SparkSession = s
        import sp.implicits._
        val out = StatefulOps.run(keyedEvents(s, dir), new StatefulOps.CountWindow(10))
          .toDF("key", "win_seq", "n", "sum_millis", "first_ts_us", "last_ts_us")
        run(out, "q96_sink")
      },
      Some("""WITH o AS (
          SELECT user_id, event_id, ts, value,
            row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS rn
          FROM events)
        SELECT user_id AS key, rn // 10 AS win_seq, count(*) AS n,
          CAST(sum(CAST(round(value*1000) AS BIGINT)) AS BIGINT) AS sum_millis,
          epoch_us(min(ts)) AS first_ts_us, epoch_us(max(ts)) AS last_ts_us
        FROM o GROUP BY 1, 2 HAVING count(*) = 10""")),

    // CEP strict sequence view -> click -> purchase within 1 day per user.
    Entry("q97_stream_cep_seq",
      (s, dir) => {
        implicit val sp: SparkSession = s
        import sp.implicits._
        val out = StatefulOps.run(keyedEvents(s, dir),
            new StatefulOps.StrictSeq(Seq("view", "click", "purchase"), 86400000000L))
          .select(col("key"),
            element_at(col("ids"), 1).as("id_view"),
            element_at(col("ids"), 2).as("id_click"),
            element_at(col("ids"), 3).as("id_purchase"),
            col("startTsUs").as("start_ts_us"), col("endTsUs").as("end_ts_us"))
        run(out, "q97_sink")
      },
      Some("""WITH o AS (
          SELECT user_id, event_id, ts, event_type,
            lead(event_type, 1) OVER w AS t1, lead(event_id, 1) OVER w AS id1,
            lead(event_type, 2) OVER w AS t2, lead(event_id, 2) OVER w AS id2,
            lead(ts, 2) OVER w AS ts2
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        SELECT user_id AS key, event_id AS id_view, id1 AS id_click,
          id2 AS id_purchase, epoch_us(ts) AS start_ts_us, epoch_us(ts2) AS end_ts_us
        FROM o
        WHERE event_type = 'view' AND t1 = 'click' AND t2 = 'purchase'
          AND epoch_us(ts2) - epoch_us(ts) <= 86400000000""")),

    // Connected streams (CoProcessFunction): clicks and purchases share one
    // keyed operator; each purchase emits how many clicks preceded it.
    Entry("q98_stream_coprocess",
      (s, dir) => {
        implicit val sp: SparkSession = s
        import sp.implicits._
        import graft.streaming.CoProcess
        val ev = keyedEvents(s, dir)
        def side(typ: String, tag: Int) = ev.filter(_.eventType == typ)
          .map(e => CoProcess.Tagged(e.key, e.eventId, e.tsUs, tag, e.valueMillis))
        val out = CoProcess.connect(side("click", 0), side("purchase", 1),
            new CoProcess.LeftCountAtRight)
          .toDF("key", "purchase_id", "ts_us", "clicks_before")
        run(out, "q98_sink")
      },
      Some("""SELECT p.user_id AS key, p.event_id AS purchase_id,
          epoch_us(p.ts) AS ts_us,
          (SELECT count(*) FROM events c
           WHERE c.user_id = p.user_id AND c.event_type = 'click'
             AND (c.ts < p.ts OR (c.ts = p.ts AND c.event_id < p.event_id)))
            AS clicks_before
        FROM events p WHERE p.event_type = 'purchase'""")),

    // CEP followedBy (relaxed contiguity, greedy first binding): for each
    // view, the first click after it, then the first purchase after that
    // click, whole match within 2 days.
    Entry("q99_cep_followedby",
      (s, dir) => {
        implicit val sp: SparkSession = s
        import sp.implicits._
        import graft.streaming.{Cep, EventTimeOps}
        val pat = Cep.Pattern.begin("view").followedBy("click")
          .followedBy("purchase").within(2L * 86400000000L)
        val out = EventTimeOps.ordered(keyedEvents(s, dir),
            (e: StatefulOps.KeyedEvent) => e.key, new Cep.NfaProcessor(pat))
          .select(col("key"),
            element_at(col("ids"), 1).as("id_view"),
            element_at(col("ids"), 2).as("id_click"),
            element_at(col("ids"), 3).as("id_purchase"),
            col("startTsUs").as("start_ts_us"), col("endTsUs").as("end_ts_us"))
        run(out, "q99_sink")
      },
      Some("""WITH v AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'view'),
          fc AS (
            SELECT v.user_id, v.event_id AS id_view, v.ts AS vts,
              c.event_id AS id_click, c.ts AS cts
            FROM v JOIN LATERAL (
              SELECT event_id, ts FROM events c
              WHERE c.user_id = v.user_id AND c.event_type = 'click'
                AND (c.ts > v.ts OR (c.ts = v.ts AND c.event_id > v.event_id))
              ORDER BY c.ts, c.event_id LIMIT 1) c ON true),
          fp AS (
            SELECT fc.*, p.event_id AS id_purchase, p.ts AS pts
            FROM fc JOIN LATERAL (
              SELECT event_id, ts FROM events p
              WHERE p.user_id = fc.user_id AND p.event_type = 'purchase'
                AND (p.ts > fc.cts OR (p.ts = fc.cts AND p.event_id > fc.id_click))
              ORDER BY p.ts, p.event_id LIMIT 1) p ON true)
        SELECT user_id AS key, id_view, id_click, id_purchase,
          epoch_us(vts) AS start_ts_us, epoch_us(pts) AS end_ts_us
        FROM fp
        WHERE epoch_us(cts) - epoch_us(vts) <= 172800000000
          AND epoch_us(pts) - epoch_us(vts) <= 172800000000""")),

    // CEP quantifier times(2): two errors (relaxed) then a signup, within 1 day.
    Entry("q9a_cep_times",
      (s, dir) => {
        implicit val sp: SparkSession = s
        import sp.implicits._
        import graft.streaming.{Cep, EventTimeOps}
        val pat = Cep.Pattern.begin("error", times = 2)
          .followedBy("signup").within(86400000000L)
        val out = EventTimeOps.ordered(keyedEvents(s, dir),
            (e: StatefulOps.KeyedEvent) => e.key, new Cep.NfaProcessor(pat))
          .select(col("key"),
            element_at(col("ids"), 1).as("id_err1"),
            element_at(col("ids"), 2).as("id_err2"),
            element_at(col("ids"), 3).as("id_signup"),
            col("startTsUs").as("start_ts_us"), col("endTsUs").as("end_ts_us"))
        run(out, "q9a_sink")
      },
      Some("""WITH e1 AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'error'),
          e2 AS (
            SELECT e1.user_id, e1.event_id AS id_err1, e1.ts AS t1,
              n.event_id AS id_err2, n.ts AS t2
            FROM e1 JOIN LATERAL (
              SELECT event_id, ts FROM events n
              WHERE n.user_id = e1.user_id AND n.event_type = 'error'
                AND (n.ts > e1.ts OR (n.ts = e1.ts AND n.event_id > e1.event_id))
              ORDER BY n.ts, n.event_id LIMIT 1) n ON true),
          sg AS (
            SELECT e2.*, s.event_id AS id_signup, s.ts AS t3
            FROM e2 JOIN LATERAL (
              SELECT event_id, ts FROM events s
              WHERE s.user_id = e2.user_id AND s.event_type = 'signup'
                AND (s.ts > e2.t2 OR (s.ts = e2.t2 AND s.event_id > e2.id_err2))
              ORDER BY s.ts, s.event_id LIMIT 1) s ON true)
        SELECT user_id AS key, id_err1, id_err2, id_signup,
          epoch_us(t1) AS start_ts_us, epoch_us(t3) AS end_ts_us
        FROM sg
        WHERE epoch_us(t2) - epoch_us(t1) <= 86400000000
          AND epoch_us(t3) - epoch_us(t1) <= 86400000000""")),

    // CEP oneOrMore (greedy loop): one-or-more views then the first
    // purchase, within 1 day. Every view starts a partial, so overlapping
    // suffix runs all report (reference NO_SKIP behavior).
    Entry("q9k_cep_oneormore",
      (s, dir) => {
        implicit val sp: SparkSession = s
        import sp.implicits._
        import graft.streaming.{Cep, EventTimeOps}
        val pat = Cep.Pattern.begin("view").oneOrMore
          .followedBy("purchase").within(86400000000L)
        val out = EventTimeOps.ordered(keyedEvents(s, dir),
            (e: StatefulOps.KeyedEvent) => e.key, new Cep.NfaProcessor(pat))
          .select(col("key"),
            element_at(col("ids"), 1).as("id_first"),
            (size(col("ids")) - 1).cast("long").as("n_views"),
            element_at(col("ids"), -1).as("id_purchase"),
            col("startTsUs").as("start_ts_us"), col("endTsUs").as("end_ts_us"))
        run(out.toDF(), "q9k_sink")
      },
      Some("""WITH v AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'view'),
        fp AS (SELECT v.user_id, v.event_id AS id_first, v.ts AS vts,
            p.event_id AS id_purchase, p.ts AS pts
          FROM v JOIN LATERAL (
            SELECT event_id, ts FROM events p
            WHERE p.user_id = v.user_id AND p.event_type = 'purchase'
              AND (p.ts > v.ts OR (p.ts = v.ts AND p.event_id > v.event_id))
            ORDER BY p.ts, p.event_id LIMIT 1) p ON true
          WHERE epoch_us(p.ts) - epoch_us(v.ts) <= 86400000000)
        SELECT user_id AS key, id_first,
          (SELECT count(*) FROM events w
           WHERE w.user_id = fp.user_id AND w.event_type = 'view'
             AND (w.ts > vts OR (w.ts = vts AND w.event_id >= id_first))
             AND (w.ts < pts OR (w.ts = pts AND w.event_id < id_purchase))) AS n_views,
          id_purchase, epoch_us(vts) AS start_ts_us, epoch_us(pts) AS end_ts_us
        FROM fp""")),

    // CEP optional stage: view, optionally the first click, then the first
    // purchase — the click binds only when it precedes the first purchase.
    Entry("q9l_cep_optional",
      (s, dir) => {
        implicit val sp: SparkSession = s
        import sp.implicits._
        import graft.streaming.{Cep, EventTimeOps}
        val pat = Cep.Pattern.begin("view").followedBy("click").optional
          .followedBy("purchase").within(86400000000L)
        val out = EventTimeOps.ordered(keyedEvents(s, dir),
            (e: StatefulOps.KeyedEvent) => e.key, new Cep.NfaProcessor(pat))
          .select(col("key"),
            element_at(col("ids"), 1).as("id_view"),
            when(size(col("ids")) === 3, element_at(col("ids"), 2))
              .otherwise(lit(-1L)).as("id_click"),
            element_at(col("ids"), -1).as("id_purchase"),
            col("startTsUs").as("start_ts_us"), col("endTsUs").as("end_ts_us"))
        run(out.toDF(), "q9l_sink")
      },
      Some("""WITH v AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'view'),
        x AS (SELECT v.user_id, v.event_id AS id_view, v.ts AS vts,
            e.event_id AS xid, e.ts AS xts, e.event_type AS xtype
          FROM v JOIN LATERAL (
            SELECT event_id, ts, event_type FROM events e
            WHERE e.user_id = v.user_id AND e.event_type IN ('click', 'purchase')
              AND (e.ts > v.ts OR (e.ts = v.ts AND e.event_id > v.event_id))
            ORDER BY e.ts, e.event_id LIMIT 1) e ON true)
        SELECT user_id AS key, id_view, CAST(-1 AS BIGINT) AS id_click,
          xid AS id_purchase, epoch_us(vts) AS start_ts_us, epoch_us(xts) AS end_ts_us
        FROM x WHERE xtype = 'purchase' AND epoch_us(xts) - epoch_us(vts) <= 86400000000
        UNION ALL
        SELECT x.user_id AS key, x.id_view, x.xid AS id_click,
          p.event_id AS id_purchase, epoch_us(x.vts) AS start_ts_us,
          epoch_us(p.ts) AS end_ts_us
        FROM x JOIN LATERAL (
          SELECT event_id, ts FROM events p
          WHERE p.user_id = x.user_id AND p.event_type = 'purchase'
            AND (p.ts > x.xts OR (p.ts = x.xts AND p.event_id > x.xid))
          ORDER BY p.ts, p.event_id LIMIT 1) p ON true
        WHERE x.xtype = 'click'
          AND epoch_us(p.ts) - epoch_us(x.vts) <= 86400000000""")),

    // Streaming OVER ROWS BETWEEN 4 PRECEDING AND CURRENT ROW per key.
    Entry("q9b_over_rows_bounded",
      (s, dir) => {
        implicit val sp: SparkSession = s
        import sp.implicits._
        val out = StatefulOps.run(keyedEvents(s, dir), new StatefulOps.RowsBoundedAgg(5))
          .toDF("key", "event_id", "ts_us", "win_n", "win_sum_millis")
        run(out, "q9b_sink")
      },
      Some("""SELECT user_id AS key, event_id, epoch_us(ts) AS ts_us,
          count(*) OVER w AS win_n,
          CAST(sum(CAST(round(value*1000) AS BIGINT)) OVER w AS BIGINT) AS win_sum_millis
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
          ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)""")),

    // Streaming OVER RANGE BETWEEN INTERVAL 2 HOURS PRECEDING AND CURRENT ROW.
    Entry("q9c_over_range_bounded",
      (s, dir) => {
        implicit val sp: SparkSession = s
        import sp.implicits._
        val out = StatefulOps.run(keyedEvents(s, dir),
            new StatefulOps.RangeBoundedAgg(2L * 3600000000L))
          .toDF("key", "event_id", "ts_us", "win_n", "win_sum_millis")
        run(out, "q9c_sink")
      },
      Some("""SELECT user_id AS key, event_id, epoch_us(ts) AS ts_us,
          count(*) OVER w AS win_n,
          CAST(sum(CAST(round(value*1000) AS BIGINT)) OVER w AS BIGINT) AS win_sum_millis
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts
          RANGE BETWEEN INTERVAL 2 HOURS PRECEDING AND CURRENT ROW)""")),

    // EvictingWindowOperator with CountEvictor(5): 6h tumble per user, at
    // window end only the last 5 elements aggregate.
    Entry("q9d_window_count_evictor",
      (s, dir) => {
        implicit val sp: SparkSession = s
        import sp.implicits._
        import graft.streaming.WindowProcessor
        val out = StatefulOps.run(keyedEvents(s, dir),
            new WindowProcessor.Tumbling(6L * 3600000000L,
              WindowProcessor.OnWindowEnd, WindowProcessor.CountEvictor(5)))
          .toDF("key", "win_start_us", "fire_seq", "n", "sum_millis", "last_ts_us")
        run(out, "q9d_sink")
      },
      Some(s"""WITH r AS (
          SELECT user_id, epoch_us(ts) AS ts_us,
            CAST(round(value*1000) AS BIGINT) AS vm,
            (epoch_us(ts) // ${6L * 3600000000L}) AS win,
            row_number() OVER (PARTITION BY user_id, (epoch_us(ts) // ${6L * 3600000000L})
              ORDER BY ts DESC, event_id DESC) AS rdesc
          FROM events)
        SELECT user_id AS key, win * ${6L * 3600000000L} AS win_start_us,
          0 AS fire_seq, count(*) AS n, CAST(sum(vm) AS BIGINT) AS sum_millis,
          max(ts_us) AS last_ts_us
        FROM r WHERE rdesc <= 5 GROUP BY user_id, win
        HAVING (win + 1) * 21600000000 <= (SELECT (epoch_us(max(ts)) // 1000) * 1000 FROM events)""")),

    // TimeEvictor(30min): at window end, keep only elements within 30min of
    // the newest element in the window.
    Entry("q9e_window_time_evictor",
      (s, dir) => {
        implicit val sp: SparkSession = s
        import sp.implicits._
        import graft.streaming.WindowProcessor
        val out = StatefulOps.run(keyedEvents(s, dir),
            new WindowProcessor.Tumbling(6L * 3600000000L,
              WindowProcessor.OnWindowEnd, WindowProcessor.TimeEvictor(1800000000L)))
          .toDF("key", "win_start_us", "fire_seq", "n", "sum_millis", "last_ts_us")
        run(out, "q9e_sink")
      },
      Some(s"""WITH r AS (
          SELECT user_id, epoch_us(ts) AS ts_us,
            CAST(round(value*1000) AS BIGINT) AS vm,
            (epoch_us(ts) // ${6L * 3600000000L}) AS win,
            max(epoch_us(ts)) OVER (PARTITION BY user_id,
              (epoch_us(ts) // ${6L * 3600000000L})) AS hi
          FROM events)
        SELECT user_id AS key, win * ${6L * 3600000000L} AS win_start_us,
          0 AS fire_seq, count(*) AS n, CAST(sum(vm) AS BIGINT) AS sum_millis,
          max(ts_us) AS last_ts_us
        FROM r WHERE ts_us >= hi - 1800000000 GROUP BY user_id, win
        HAVING (win + 1) * 21600000000 <= (SELECT (epoch_us(max(ts)) // 1000) * 1000 FROM events)""")),

    // CountTrigger(25) purging inside a 1-day tumble: fires every 25
    // elements; the remainder fires at window end.
    Entry("q9f_window_count_trigger",
      (s, dir) => {
        implicit val sp: SparkSession = s
        import sp.implicits._
        import graft.streaming.WindowProcessor
        val out = StatefulOps.run(keyedEvents(s, dir),
            new WindowProcessor.Tumbling(86400000000L,
              WindowProcessor.CountTrigger(25), WindowProcessor.NoEvictor))
          .toDF("key", "win_start_us", "fire_seq", "n", "sum_millis", "last_ts_us")
        run(out, "q9f_sink")
      },
      Some(s"""WITH r AS (
          SELECT user_id, epoch_us(ts) AS ts_us,
            CAST(round(value*1000) AS BIGINT) AS vm,
            (epoch_us(ts) // 86400000000) AS win,
            row_number() OVER (PARTITION BY user_id, (epoch_us(ts) // 86400000000)
              ORDER BY ts, event_id) - 1 AS rn
          FROM events)
        SELECT user_id AS key, win * 86400000000 AS win_start_us,
          rn // 25 AS fire_seq, count(*) AS n, CAST(sum(vm) AS BIGINT) AS sum_millis,
          max(ts_us) AS last_ts_us
        FROM r GROUP BY user_id, win, rn // 25
        HAVING count(*) = 25 OR (win + 1) * 86400000000 <= (SELECT (epoch_us(max(ts)) // 1000) * 1000 FROM events)""")),

    // CEP negative pattern: view notFollowedBy error followedBy purchase —
    // the match dies if an error occurs before the purchase binds.
    Entry("q9g_cep_not_followed_by",
      (s, dir) => {
        implicit val sp: SparkSession = s
        import sp.implicits._
        import graft.streaming.{Cep, EventTimeOps}
        val pat = Cep.Pattern.begin("view").notFollowedBy("error")
          .followedBy("purchase").within(86400000000L)
        val out = EventTimeOps.ordered(keyedEvents(s, dir),
            (e: StatefulOps.KeyedEvent) => e.key, new Cep.NfaProcessor(pat))
          .select(col("key"),
            element_at(col("ids"), 1).as("id_view"),
            element_at(col("ids"), 2).as("id_purchase"),
            col("startTsUs").as("start_ts_us"), col("endTsUs").as("end_ts_us"))
        run(out, "q9g_sink")
      },
      Some("""WITH v AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'view'),
          fp AS (
            SELECT v.user_id, v.event_id AS id_view, v.ts AS vts,
              p.event_id AS id_purchase, p.ts AS pts
            FROM v JOIN LATERAL (
              SELECT event_id, ts FROM events p
              WHERE p.user_id = v.user_id AND p.event_type = 'purchase'
                AND (p.ts > v.ts OR (p.ts = v.ts AND p.event_id > v.event_id))
              ORDER BY p.ts, p.event_id LIMIT 1) p ON true)
        SELECT user_id AS key, id_view, id_purchase,
          epoch_us(vts) AS start_ts_us, epoch_us(pts) AS end_ts_us
        FROM fp
        WHERE epoch_us(pts) - epoch_us(vts) <= 86400000000
          AND NOT EXISTS (
            SELECT 1 FROM events e
            WHERE e.user_id = fp.user_id AND e.event_type = 'error'
              AND (e.ts > fp.vts OR (e.ts = fp.vts AND e.event_id > fp.id_view))
              AND (e.ts < fp.pts OR (e.ts = fp.pts AND e.event_id < fp.id_purchase)))""")),

    // Session windows (2h gap) with CountEvictor(5): per closed session,
    // aggregate only the last 5 elements.
    Entry("q9h_session_evictor",
      (s, dir) => {
        implicit val sp: SparkSession = s
        import sp.implicits._
        import graft.streaming.WindowProcessor
        val out = StatefulOps.run(keyedEvents(s, dir),
            new WindowProcessor.Session(2L * 3600000000L,
              WindowProcessor.OnWindowEnd, WindowProcessor.CountEvictor(5)))
          .toDF("key", "sess_start_us", "fire_seq", "n", "sum_millis", "last_ts_us")
        run(out, "q9h_sink")
      },
      Some("""WITH marked AS (
          SELECT user_id, ts, event_id, CAST(round(value*1000) AS BIGINT) AS vm,
            CASE WHEN lag(ts) OVER w IS NULL
                 OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 7200000000 THEN 1 ELSE 0 END AS brk
          FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), islands AS (
          SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS UNBOUNDED PRECEDING) AS sess
          FROM marked
        ), ranked AS (
          SELECT *, row_number() OVER (PARTITION BY user_id, sess
              ORDER BY ts DESC, event_id DESC) AS rdesc,
            max(epoch_us(ts)) OVER (PARTITION BY user_id, sess) AS sess_last
          FROM islands
        )
        SELECT user_id AS key, epoch_us(min(ts)) AS sess_start_us, 0 AS fire_seq,
          count(*) FILTER (rdesc <= 5) AS n,
          CAST(sum(vm) FILTER (rdesc <= 5) AS BIGINT) AS sum_millis,
          max(epoch_us(ts)) FILTER (rdesc <= 5) AS last_ts_us
        FROM ranked
        GROUP BY user_id, sess
        HAVING max(sess_last) + 7200000000 <=
          (SELECT (epoch_us(max(ts)) // 1000) * 1000 FROM events)""")),

    // Sliding windows (6h size / 2h slide) with CountEvictor(5): each
    // closed slide aggregates only its last 5 elements.
    Entry("q9j_sliding_evictor",
      (s, dir) => {
        implicit val sp: SparkSession = s
        import sp.implicits._
        import graft.streaming.WindowProcessor
        val out = StatefulOps.run(keyedEvents(s, dir),
            new WindowProcessor.Sliding(6L * 3600000000L, 2L * 3600000000L,
              WindowProcessor.CountEvictor(5)))
          .toDF("key", "win_start_us", "fire_seq", "n", "sum_millis", "last_ts_us")
        run(out, "q9j_sink")
      },
      Some(s"""WITH r AS (
          SELECT user_id, epoch_us(ts) AS ts_us,
            CAST(round(value*1000) AS BIGINT) AS vm
          FROM events),
        ex AS (
          SELECT user_id, ts_us, vm,
            (ts_us // ${2L * 3600000000L}) * ${2L * 3600000000L} - k.k * ${2L * 3600000000L} AS win_start
          FROM r CROSS JOIN UNNEST(generate_series(0, 2)) AS k(k)
          WHERE (ts_us // ${2L * 3600000000L}) * ${2L * 3600000000L} - k.k * ${2L * 3600000000L}
            > ts_us - ${6L * 3600000000L}
            AND (ts_us // ${2L * 3600000000L}) * ${2L * 3600000000L} - k.k * ${2L * 3600000000L} >= 0),
        ranked AS (
          SELECT *, row_number() OVER (PARTITION BY user_id, win_start
            ORDER BY ts_us DESC) AS rdesc
          FROM ex)
        SELECT user_id AS key, win_start AS win_start_us, 0 AS fire_seq,
          count(*) FILTER (rdesc <= 5) AS n,
          CAST(sum(vm) FILTER (rdesc <= 5) AS BIGINT) AS sum_millis,
          max(ts_us) FILTER (rdesc <= 5) AS last_ts_us
        FROM ranked
        GROUP BY user_id, win_start
        HAVING win_start + ${6L * 3600000000L} <=
          (SELECT (epoch_us(max(ts)) // 1000) * 1000 FROM events)""")),

    // ContinuousEventTimeTrigger: 6h tumble per user firing every 2h of
    // event time (non-purging) plus the window-end close fire.
    Entry("q9i_window_continuous_trigger",
      (s, dir) => {
        implicit val sp: SparkSession = s
        import sp.implicits._
        import graft.streaming.WindowProcessor
        val out = StatefulOps.run(keyedEvents(s, dir),
            new WindowProcessor.Tumbling(6L * 3600000000L,
              WindowProcessor.ContinuousTrigger(2L * 3600000000L),
              WindowProcessor.NoEvictor))
          .toDF("key", "win_start_us", "fire_seq", "n", "sum_millis", "last_ts_us")
        run(out, "q9i_sink")
      },
      Some(s"""WITH r AS (
          SELECT user_id, epoch_us(ts) AS ts_us,
            CAST(round(value*1000) AS BIGINT) AS vm,
            (epoch_us(ts) // ${6L * 3600000000L}) AS win
          FROM events),
        b AS (
          SELECT DISTINCT user_id, win, win * ${6L * 3600000000L} + k.k * ${2L * 3600000000L} AS bnd
          FROM r CROSS JOIN UNNEST(generate_series(1, 2)) AS k(k)),
        bf AS (
          SELECT b.user_id, b.win, b.bnd,
            count(*) FILTER (r.ts_us < b.bnd) AS n,
            CAST(sum(r.vm) FILTER (r.ts_us < b.bnd) AS BIGINT) AS sum_millis,
            max(r.ts_us) FILTER (r.ts_us < b.bnd) AS last_ts_us,
            count(*) FILTER (r.ts_us >= b.bnd) AS after_cnt
          FROM b JOIN r ON r.user_id = b.user_id AND r.win = b.win
          GROUP BY 1, 2, 3
          HAVING count(*) FILTER (r.ts_us < b.bnd) > 0
            AND count(*) FILTER (r.ts_us >= b.bnd) > 0),
        bseq AS (
          SELECT user_id, win, n, sum_millis, last_ts_us,
            row_number() OVER (PARTITION BY user_id, win ORDER BY bnd) - 1 AS fire_seq,
            count(*) OVER (PARTITION BY user_id, win) AS nb
          FROM bf),
        closes AS (
          SELECT user_id, win, count(*) AS n, CAST(sum(vm) AS BIGINT) AS sum_millis,
            max(ts_us) AS last_ts_us
          FROM r GROUP BY 1, 2
          HAVING (win + 1) * ${6L * 3600000000L} <=
            (SELECT (epoch_us(max(ts)) // 1000) * 1000 FROM events))
        SELECT user_id AS key, win * ${6L * 3600000000L} AS win_start_us,
          fire_seq, n, sum_millis, last_ts_us FROM bseq
        UNION ALL
        SELECT c.user_id AS key, c.win * ${6L * 3600000000L} AS win_start_us,
          COALESCE(s2.nb, 0) AS fire_seq, c.n, c.sum_millis, c.last_ts_us
        FROM closes c LEFT JOIN (SELECT DISTINCT user_id, win, nb FROM bseq) s2
          ON c.user_id = s2.user_id AND c.win = s2.win""")),

    // allowedLateness + late-data side output (two-tier lateness): every
    // 5th event's event-time is shifted 8h back, making it late against the
    // operator's clean watermark (max ts - 30min). Windows are 6h tumbles
    // with 4h allowed lateness: late-but-allowed rows re-fire their window
    // with refined contents; rows past the horizon land in the tagged side
    // output. The oracle replays the whole decision procedure over the
    // arrival order (event_id).
    Entry("q8e_allowed_lateness",
      (s, dir) => {
        implicit val sp: SparkSession = s
        import sp.implicits._
        import graft.streaming.WindowProcessor
        val shift = when(pmod(col("event_id"), lit(5)) === 0, lit(8L * 3600000000L))
          .otherwise(lit(0L))
        val out = StatefulOps.run(keyedEvents(s, dir, shift),
            new WindowProcessor.TumblingWithLateness(
              6L * 3600000000L, 1800000000L, 4L * 3600000000L))
          .toDF("key", "win_start_us", "tag", "fire_seq", "trig_id", "n", "sum_millis")
        run(out, "q8e_sink")
      },
      Some(latenessOracleSql(
        cwmI = "max(ts2) OVER (PARTITION BY key ORDER BY aid) - 1800000000",
        cwmE = """max(ts2) OVER (PARTITION BY key ORDER BY aid
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) - 1800000000"""))),

    // Punctuated watermarks: only 'purchase' events advance the operator's
    // clean watermark (to their own event time); everything else rides on
    // the last barrier. Same two-tier lateness classification as q8e, so
    // the oracle only swaps the clean-watermark running aggregate.
    Entry("q8f_punctuated_watermark",
      (s, dir) => {
        implicit val sp: SparkSession = s
        import sp.implicits._
        import graft.streaming.WindowProcessor
        val shift = when(pmod(col("event_id"), lit(5)) === 0, lit(8L * 3600000000L))
          .otherwise(lit(0L))
        val out = StatefulOps.run(keyedEvents(s, dir, shift),
            new WindowProcessor.TumblingWithLateness(
              6L * 3600000000L,
              WindowProcessor.Punctuated(e =>
                if (e.eventType == "purchase") e.tsUs else Long.MinValue),
              4L * 3600000000L))
          .toDF("key", "win_start_us", "tag", "fire_seq", "trig_id", "n", "sum_millis")
        run(out, "q8f_sink")
      },
      Some(latenessOracleSql(
        cwmI = """max(CASE WHEN event_type = 'purchase' THEN ts2 END)
              OVER (PARTITION BY key ORDER BY aid)""",
        cwmE = """max(CASE WHEN event_type = 'purchase' THEN ts2 END)
              OVER (PARTITION BY key ORDER BY aid
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)"""))),

    // Dynamic session gaps (per-element gap: purchases close fast, the rest
    // linger): each element extends the session end to max(end, ts + gap).
    Entry("q8g_dynamic_session",
      (s, dir) => {
        implicit val sp: SparkSession = s
        import sp.implicits._
        import graft.streaming.WindowProcessor
        val out = StatefulOps.run(keyedEvents(s, dir),
            new WindowProcessor.DynamicSession(e =>
              if (e.eventType == "purchase") 3600000000L else 3L * 3600000000L))
          .toDF("key", "win_start_us", "fire_seq", "n", "sum_millis", "last_ts_us")
        run(out, "q8g_sink")
      },
      Some("""WITH r AS (
          SELECT user_id AS key, event_id AS aid, epoch_us(ts) AS ts_us,
            CAST(round(value*1000) AS BIGINT) AS vm,
            epoch_us(ts) + CASE WHEN event_type = 'purchase'
              THEN 3600000000 ELSE 10800000000 END AS reach
          FROM events),
        m AS (SELECT *, max(reach) OVER (PARTITION BY key ORDER BY ts_us, aid
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
              FROM r),
        b AS (SELECT *, CASE WHEN prev_end IS NULL OR ts_us >= prev_end
                THEN 1 ELSE 0 END AS brk FROM m),
        i AS (SELECT *, sum(brk) OVER (PARTITION BY key ORDER BY ts_us, aid
                ROWS UNBOUNDED PRECEDING) AS sess FROM b),
        g AS (SELECT key, sess, min(ts_us) AS win_start_us, count(*) AS n,
                CAST(sum(vm) AS BIGINT) AS sum_millis,
                max(ts_us) AS last_ts_us, max(reach) AS sess_end
              FROM i GROUP BY 1, 2)
        SELECT key, win_start_us, CAST(0 AS BIGINT) AS fire_seq, n, sum_millis, last_ts_us
        FROM g WHERE sess_end <= (SELECT (epoch_us(max(ts)) // 1000) * 1000 FROM events)""")),

    // Multi-batch replay: the q95 running aggregate over FOUR ordered
    // micro-batches — state and watermark must carry across batches to
    // reproduce the same batch-SQL oracle.
    Entry("q8d_stream_multibatch",
      (s, dir) => {
        implicit val sp: SparkSession = s
        import sp.implicits._
        val out = StatefulOps.run(multiBatchEvents(s, dir), new StatefulOps.RunningAgg)
          .toDF("key", "event_id", "ts_us", "running_n", "running_sum_millis")
        run(out, "q8d_sink")
      },
      Some(ORunningAgg)),

    // Streaming temporal (as-of) join: each view enriched with the latest
    // purchase at-or-before it — the stream-native point-in-time feature
    // lookup; state per key is ONE version tuple. Exactly the batch
    // AsOfJoin.backward semantics (qb0 sans tolerance), which the window-
    // replay oracle pins.
    Entry("qbb_stream_asof",
      (s, dir) => {
        implicit val sp: SparkSession = s
        import sp.implicits._
        import graft.streaming.{CoProcess, TemporalJoin}
        val ev = keyedEvents(s, dir)
        def side(typ: String, tag: Int) = ev.filter(_.eventType == typ)
          .map(e => CoProcess.Tagged(e.key, e.eventId, e.tsUs, tag, e.valueMillis))
        val out = TemporalJoin.asof(side("purchase", 0), side("view", 1))
          .toDF("key", "view_id", "ts_us", "purchase_id", "purchase_ts_us",
            "purchase_value_millis")
        run(out, "qbb_sink")
      },
      Some("""WITH u AS (
          SELECT user_id, ts, 0 AS is_left, event_id,
            CAST(round(value*1000) AS BIGINT) AS vm
          FROM events WHERE event_type = 'purchase'
          UNION ALL
          SELECT user_id, ts, 1, event_id, NULL FROM events
          WHERE event_type = 'view'
        ), c AS (
          SELECT user_id, ts, is_left, event_id,
            last_value(CASE WHEN is_left = 0 THEN event_id END IGNORE NULLS) OVER w AS p_id,
            last_value(CASE WHEN is_left = 0 THEN epoch_us(ts) END IGNORE NULLS) OVER w AS p_ts_us,
            last_value(CASE WHEN is_left = 0 THEN vm END IGNORE NULLS) OVER w AS p_vm
          FROM u
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, is_left, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        )
        SELECT user_id AS key, event_id AS view_id, epoch_us(ts) AS ts_us,
          p_id AS purchase_id, p_ts_us AS purchase_ts_us, p_vm AS purchase_value_millis
        FROM c WHERE is_left = 1""")),

    // CEP followedByAny (skip-till-ANY-match): the partial FORKS per
    // qualifying event, so every view pairs with EVERY click after it
    // within 1 day — not just the first (contrast q99's greedy binding).
    Entry("qbi_cep_followed_by_any",
      (s, dir) => {
        implicit val sp: SparkSession = s
        import sp.implicits._
        import graft.streaming.{Cep, EventTimeOps}
        val pat = Cep.Pattern.begin("view").followedByAny("click").within(86400000000L)
        val out = EventTimeOps.ordered(keyedEvents(s, dir),
            (e: StatefulOps.KeyedEvent) => e.key, new Cep.NfaProcessor(pat))
          .select(col("key"),
            element_at(col("ids"), 1).as("id_view"),
            element_at(col("ids"), 2).as("id_click"),
            col("startTsUs").as("start_ts_us"), col("endTsUs").as("end_ts_us"))
        run(out, "qbi_sink")
      },
      Some("""SELECT v.user_id AS key, v.event_id AS id_view, c.event_id AS id_click,
          epoch_us(v.ts) AS start_ts_us, epoch_us(c.ts) AS end_ts_us
        FROM events v JOIN events c ON c.user_id = v.user_id
        WHERE v.event_type = 'view' AND c.event_type = 'click'
          AND (c.ts > v.ts OR (c.ts = v.ts AND c.event_id > v.event_id))
          AND epoch_us(c.ts) - epoch_us(v.ts) <= 86400000000""")),

    // CEP or-condition: one stage accepts click OR purchase; greedy first
    // binding picks whichever of the two types comes first after the view.
    Entry("qbj_cep_or",
      (s, dir) => {
        implicit val sp: SparkSession = s
        import sp.implicits._
        import graft.streaming.{Cep, EventTimeOps}
        val pat = Cep.Pattern.begin("view").followedBy("click").or("purchase")
          .within(86400000000L)
        val out = EventTimeOps.ordered(keyedEvents(s, dir),
            (e: StatefulOps.KeyedEvent) => e.key, new Cep.NfaProcessor(pat))
          .select(col("key"),
            element_at(col("ids"), 1).as("id_view"),
            element_at(col("ids"), 2).as("id_next"),
            col("startTsUs").as("start_ts_us"), col("endTsUs").as("end_ts_us"))
        run(out, "qbj_sink")
      },
      Some("""WITH v AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'view')
        SELECT v.user_id AS key, v.event_id AS id_view, x.event_id AS id_next,
          epoch_us(v.ts) AS start_ts_us, epoch_us(x.ts) AS end_ts_us
        FROM v JOIN LATERAL (
          SELECT event_id, ts FROM events e
          WHERE e.user_id = v.user_id AND e.event_type IN ('click', 'purchase')
            AND (e.ts > v.ts OR (e.ts = v.ts AND e.event_id > v.event_id))
          ORDER BY e.ts, e.event_id LIMIT 1) x ON true
        WHERE epoch_us(x.ts) - epoch_us(v.ts) <= 86400000000""")),

    // CEP until: views absorb into the oneOrMore loop only until the first
    // error after the partial's start closes it; the first purchase within
    // 1 day still completes the match. n_views therefore counts views
    // before min(first error, purchase) — the loop-stop semantics.
    Entry("qbk_cep_until",
      (s, dir) => {
        implicit val sp: SparkSession = s
        import sp.implicits._
        import graft.streaming.{Cep, EventTimeOps}
        val pat = Cep.Pattern.begin("view").oneOrMore.until("error")
          .followedBy("purchase").within(86400000000L)
        val out = EventTimeOps.ordered(keyedEvents(s, dir),
            (e: StatefulOps.KeyedEvent) => e.key, new Cep.NfaProcessor(pat))
          .select(col("key"),
            element_at(col("ids"), 1).as("id_first"),
            (size(col("ids")) - 1).cast("long").as("n_views"),
            element_at(col("ids"), -1).as("id_purchase"),
            col("startTsUs").as("start_ts_us"), col("endTsUs").as("end_ts_us"))
        run(out.toDF(), "qbk_sink")
      },
      Some("""WITH v AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'view'),
        fp AS (SELECT v.user_id, v.event_id AS id_first, v.ts AS vts,
            p.event_id AS id_purchase, p.ts AS pts
          FROM v JOIN LATERAL (
            SELECT event_id, ts FROM events p
            WHERE p.user_id = v.user_id AND p.event_type = 'purchase'
              AND (p.ts > v.ts OR (p.ts = v.ts AND p.event_id > v.event_id))
            ORDER BY p.ts, p.event_id LIMIT 1) p ON true
          WHERE epoch_us(p.ts) - epoch_us(v.ts) <= 86400000000),
        fe AS (SELECT fp.*, e.event_id AS eid, e.ts AS ets
          FROM fp LEFT JOIN LATERAL (
            SELECT event_id, ts FROM events e
            WHERE e.user_id = fp.user_id AND e.event_type = 'error'
              AND (e.ts > fp.vts OR (e.ts = fp.vts AND e.event_id > fp.id_first))
            ORDER BY e.ts, e.event_id LIMIT 1) e ON true)
        SELECT user_id AS key, id_first,
          CAST(1 + (SELECT count(*) FROM events w
            WHERE w.user_id = fe.user_id AND w.event_type = 'view'
              AND (w.ts > vts OR (w.ts = vts AND w.event_id > id_first))
              AND (w.ts < pts OR (w.ts = pts AND w.event_id < id_purchase))
              AND (ets IS NULL OR w.ts < ets OR (w.ts = ets AND w.event_id < eid)))
            AS BIGINT) AS n_views,
          id_purchase, epoch_us(vts) AS start_ts_us, epoch_us(pts) AS end_ts_us
        FROM fe""")),

    // CEP timeout select: views whose first purchase misses the 1-day bound
    // emit a timed_out row (id_purchase = -1, end = the deadline) when the
    // key's next event past the deadline prunes the partial — lazy,
    // data-driven detection, so a batch oracle reproduces it exactly.
    Entry("qbl_cep_timeout",
      (s, dir) => {
        implicit val sp: SparkSession = s
        import sp.implicits._
        import graft.streaming.{Cep, EventTimeOps}
        val pat = Cep.Pattern.begin("view").followedBy("purchase").within(86400000000L)
        val out = EventTimeOps.ordered(keyedEvents(s, dir),
            (e: StatefulOps.KeyedEvent) => e.key,
            new Cep.NfaProcessor(pat, emitTimeouts = true))
          .select(col("key"),
            element_at(col("ids"), 1).as("id_view"),
            when(size(col("ids")) === 2, element_at(col("ids"), 2))
              .otherwise(lit(-1L)).as("id_purchase"),
            col("startTsUs").as("start_ts_us"), col("endTsUs").as("end_ts_us"),
            col("timedOut").cast("int").as("timed_out"))
        run(out.toDF(), "qbl_sink")
      },
      Some("""WITH v AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'view'),
        fp AS (SELECT v.user_id, v.event_id, v.ts AS vts,
            p.event_id AS pid, p.ts AS pts
          FROM v LEFT JOIN LATERAL (
            SELECT event_id, ts FROM events p
            WHERE p.user_id = v.user_id AND p.event_type = 'purchase'
              AND (p.ts > v.ts OR (p.ts = v.ts AND p.event_id > v.event_id))
            ORDER BY p.ts, p.event_id LIMIT 1) p ON true)
        SELECT user_id AS key, event_id AS id_view, pid AS id_purchase,
          epoch_us(vts) AS start_ts_us, epoch_us(pts) AS end_ts_us,
          CAST(0 AS INTEGER) AS timed_out
        FROM fp
        WHERE pts IS NOT NULL AND epoch_us(pts) - epoch_us(vts) <= 86400000000
        UNION ALL
        SELECT user_id AS key, event_id AS id_view, CAST(-1 AS BIGINT) AS id_purchase,
          epoch_us(vts) AS start_ts_us, epoch_us(vts) + 86400000000 AS end_ts_us,
          CAST(1 AS INTEGER) AS timed_out
        FROM fp
        WHERE (pts IS NULL OR epoch_us(pts) - epoch_us(vts) > 86400000000)
          AND EXISTS (SELECT 1 FROM events e
            WHERE e.user_id = fp.user_id
              AND epoch_us(e.ts) - epoch_us(vts) > 86400000000)""")),

    // CEP where (SimpleCondition): the purchase stage predicates on the
    // event VALUE (> 50 currency units), not just its type — a
    // small/cheap purchase is a non-matching event the relaxed stage
    // skips over. Greedy first binding therefore picks the first
    // QUALIFYING purchase, which type-only matching cannot express
    // (contrast qbl's unconditioned purchase stage).
    Entry("qbz_cep_where",
      (s, dir) => {
        implicit val sp: SparkSession = s
        import sp.implicits._
        import graft.streaming.{Cep, EventTimeOps}
        val pat = Cep.Pattern.begin("view")
          .followedBy("purchase").where(_.valueMillis > 50000L)
          .within(86400000000L)
        val out = EventTimeOps.ordered(keyedEvents(s, dir),
            (e: StatefulOps.KeyedEvent) => e.key, new Cep.NfaProcessor(pat))
          .select(col("key"),
            element_at(col("ids"), 1).as("id_view"),
            element_at(col("ids"), 2).as("id_purchase"),
            col("startTsUs").as("start_ts_us"), col("endTsUs").as("end_ts_us"))
        run(out, "qbz_sink")
      },
      Some("""WITH v AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'view')
        SELECT v.user_id AS key, v.event_id AS id_view, p.event_id AS id_purchase,
          epoch_us(v.ts) AS start_ts_us, epoch_us(p.ts) AS end_ts_us
        FROM v JOIN LATERAL (
          SELECT event_id, ts FROM events p
          WHERE p.user_id = v.user_id AND p.event_type = 'purchase'
            AND CAST(round(p.value*1000) AS BIGINT) > 50000
            AND (p.ts > v.ts OR (p.ts = v.ts AND p.event_id > v.event_id))
          ORDER BY p.ts, p.event_id LIMIT 1) p ON true
        WHERE epoch_us(p.ts) - epoch_us(v.ts) <= 86400000000""")),

    // CEP iterative condition: the second stage's predicate READS the
    // bindings — a follow-up purchase more than double the FIRST bound
    // purchase's value (IterativeCondition parity; inexpressible with
    // type labels or a per-event where). Greedy first binding picks the
    // first purchase satisfying the binding-dependent test.
    Entry("qc0_cep_iterative_cond",
      (s, dir) => {
        implicit val sp: SparkSession = s
        import sp.implicits._
        import graft.streaming.{Cep, EventTimeOps}
        val pat = Cep.Pattern.begin("purchase")
          .followedBy("purchase").whereIter((e, vals) => e.valueMillis > vals.head * 2)
          .within(86400000000L)
        val out = EventTimeOps.ordered(keyedEvents(s, dir),
            (e: StatefulOps.KeyedEvent) => e.key, new Cep.NfaProcessor(pat))
          .select(col("key"),
            element_at(col("ids"), 1).as("id_first"),
            element_at(col("ids"), 2).as("id_big"),
            col("startTsUs").as("start_ts_us"), col("endTsUs").as("end_ts_us"))
        run(out, "qc0_sink")
      },
      Some("""WITH p AS (SELECT user_id, event_id, ts,
            CAST(round(value*1000) AS BIGINT) AS vm
          FROM events WHERE event_type = 'purchase')
        SELECT a.user_id AS key, a.event_id AS id_first, b.event_id AS id_big,
          epoch_us(a.ts) AS start_ts_us, epoch_us(b.ts) AS end_ts_us
        FROM p a JOIN LATERAL (
          SELECT event_id, ts FROM p b
          WHERE b.user_id = a.user_id AND b.vm > a.vm * 2
            AND (b.ts > a.ts OR (b.ts = a.ts AND b.event_id > a.event_id))
          ORDER BY b.ts, b.event_id LIMIT 1) b ON true
        WHERE epoch_us(b.ts) - epoch_us(a.ts) <= 86400000000""")),

    // CEP times(from, to) range repetition: the click stage binds the
    // FIRST 2 and 3 clicks after each view greedily, emitting a match at
    // every count in the range (final-stage per-count emission) — the
    // deterministic-subset semantics of the reference's times(from, to).
    Entry("qc8_cep_times_range",
      (s, dir) => {
        implicit val sp: SparkSession = s
        import sp.implicits._
        import graft.streaming.{Cep, EventTimeOps}
        val pat = Cep.Pattern.begin("view").followedBy("click").times(2, 3)
          .within(86400000000L)
        val out = EventTimeOps.ordered(keyedEvents(s, dir),
            (e: StatefulOps.KeyedEvent) => e.key, new Cep.NfaProcessor(pat))
          .select(col("key"),
            element_at(col("ids"), 1).as("id_view"),
            (size(col("ids")) - 1).cast("long").as("n_clicks"),
            element_at(col("ids"), -1).as("id_last"),
            col("startTsUs").as("start_ts_us"), col("endTsUs").as("end_ts_us"))
        run(out, "qc8_sink")
      },
      Some("""WITH v AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'view'),
        c AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'click'),
        r AS (SELECT v.user_id, v.event_id AS id_view, v.ts AS vts,
            c.event_id AS cid, c.ts AS cts,
            row_number() OVER (PARTITION BY v.user_id, v.event_id
                               ORDER BY c.ts, c.event_id) AS rk
          FROM v JOIN c ON c.user_id = v.user_id
            AND (c.ts > v.ts OR (c.ts = v.ts AND c.event_id > v.event_id)))
        SELECT user_id AS key, id_view, CAST(rk AS BIGINT) AS n_clicks,
          cid AS id_last, epoch_us(vts) AS start_ts_us, epoch_us(cts) AS end_ts_us
        FROM r WHERE rk IN (2, 3)
          AND epoch_us(cts) - epoch_us(vts) <= 86400000000""")),

    // CEP notNext (strict-contiguity negative pattern): a view whose
    // IMMEDIATE successor in the key's event-time order is an error never
    // matches; errors later in the gap are irrelevant (contrast q9a's
    // notFollowedBy whole-gap guard).
    Entry("qc9_cep_not_next",
      (s, dir) => {
        implicit val sp: SparkSession = s
        import sp.implicits._
        import graft.streaming.{Cep, EventTimeOps}
        val pat = Cep.Pattern.begin("view").notNext("error").followedBy("purchase")
          .within(86400000000L)
        val out = EventTimeOps.ordered(keyedEvents(s, dir),
            (e: StatefulOps.KeyedEvent) => e.key, new Cep.NfaProcessor(pat))
          .select(col("key"),
            element_at(col("ids"), 1).as("id_view"),
            element_at(col("ids"), 2).as("id_purchase"),
            col("startTsUs").as("start_ts_us"), col("endTsUs").as("end_ts_us"))
        run(out, "qc9_sink")
      },
      Some("""WITH o AS (SELECT user_id, event_id, ts, event_type,
            lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
          FROM events),
        v AS (SELECT user_id, event_id, ts FROM o
          WHERE event_type = 'view' AND (nxt IS NULL OR nxt <> 'error'))
        SELECT v.user_id AS key, v.event_id AS id_view, p.event_id AS id_purchase,
          epoch_us(v.ts) AS start_ts_us, epoch_us(p.ts) AS end_ts_us
        FROM v JOIN LATERAL (
          SELECT event_id, ts FROM events p
          WHERE p.user_id = v.user_id AND p.event_type = 'purchase'
            AND (p.ts > v.ts OR (p.ts = v.ts AND p.event_id > v.event_id))
          ORDER BY p.ts, p.event_id LIMIT 1) p ON true
        WHERE epoch_us(p.ts) - epoch_us(v.ts) <= 86400000000""")),

    // CEP consecutive (strict internal loop contiguity, reference
    // Quantifier.consecutive): each view starts a loop that absorbs only
    // the CONTIGUOUS run of views after it — the first non-view event
    // closes absorption — then the first purchase completes the match.
    // Contrast q9k, whose relaxed loop skips interleaved events.
    Entry("qca_cep_consecutive",
      (s, dir) => {
        implicit val sp: SparkSession = s
        import sp.implicits._
        import graft.streaming.{Cep, EventTimeOps}
        val pat = Cep.Pattern.begin("view").oneOrMore.consecutive
          .followedBy("purchase").within(86400000000L)
        val out = EventTimeOps.ordered(keyedEvents(s, dir),
            (e: StatefulOps.KeyedEvent) => e.key, new Cep.NfaProcessor(pat))
          .select(col("key"),
            element_at(col("ids"), 1).as("id_first"),
            (size(col("ids")) - 1).cast("long").as("n_views"),
            element_at(col("ids"), -1).as("id_purchase"),
            col("startTsUs").as("start_ts_us"), col("endTsUs").as("end_ts_us"))
        run(out.toDF(), "qca_sink")
      },
      Some("""WITH seq AS (SELECT user_id, event_id, ts, event_type,
            row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
          FROM events),
        v AS (SELECT * FROM seq WHERE event_type = 'view'),
        b AS (SELECT v.user_id, v.event_id AS id_first, v.ts AS vts, v.rn AS vrn,
            nv.rn AS brn
          FROM v JOIN LATERAL (
            SELECT rn FROM seq n
            WHERE n.user_id = v.user_id AND n.rn > v.rn AND n.event_type <> 'view'
            ORDER BY n.rn LIMIT 1) nv ON true),
        p AS (SELECT b.*, pu.event_id AS id_purchase, pu.ts AS pts
          FROM b JOIN LATERAL (
            SELECT event_id, ts FROM seq pu
            WHERE pu.user_id = b.user_id AND pu.rn >= b.brn
              AND pu.event_type = 'purchase'
            ORDER BY pu.rn LIMIT 1) pu ON true)
        SELECT user_id AS key, id_first, CAST(brn - vrn AS BIGINT) AS n_views,
          id_purchase, epoch_us(vts) AS start_ts_us, epoch_us(pts) AS end_ts_us
        FROM p WHERE epoch_us(pts) - epoch_us(vts) <= 86400000000""")),

    // CEP allowCombinations (skip-till-any BETWEEN repetitions, reference
    // Quantifier.allowCombinations): each error starts a loop whose later
    // repetitions fork per qualifying event, so every error subset
    // containing the first one reaches the signup — 2^k matches per
    // (first error, signup) pair with k middle errors (max k = 4 on this
    // fixture). The gate aggregates per start: the match count, total
    // bound repetitions, and the sum of last-bound error ids form an
    // exact signature of the explored subset lattice, replayed in SQL via
    // the closed forms 2^k, 2^k + k*2^(k-1), and sum(id_i * 2^(i-1)).
    Entry("qcb_cep_combinations",
      (s, dir) => {
        implicit val sp: SparkSession = s
        import sp.implicits._
        import graft.streaming.{Cep, EventTimeOps}
        val pat = Cep.Pattern.begin("error").oneOrMore.allowCombinations
          .followedBy("signup").within(86400000000L)
        val matches = EventTimeOps.ordered(keyedEvents(s, dir),
            (e: StatefulOps.KeyedEvent) => e.key, new Cep.NfaProcessor(pat))
        run(matches.toDF(), "qcb_sink")
          .groupBy(col("key"), element_at(col("ids"), 1).as("id_first"))
          .agg(count(lit(1)).as("n_matches"),
            sum(size(col("ids")) - 1).as("sum_reps"),
            sum(element_at(col("ids"), -2)).as("sum_last"),
            max(element_at(col("ids"), -1)).as("id_signup"),
            max(col("startTsUs")).as("start_ts_us"),
            max(col("endTsUs")).as("end_ts_us"))
      },
      Some("""WITH e AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'error'),
        fs AS (SELECT e.user_id, e.event_id AS id_first, e.ts AS ets,
            s.event_id AS id_signup, s.ts AS sts
          FROM e JOIN LATERAL (
            SELECT event_id, ts FROM events s
            WHERE s.user_id = e.user_id AND s.event_type = 'signup'
              AND (s.ts > e.ts OR (s.ts = e.ts AND s.event_id > e.event_id))
            ORDER BY s.ts, s.event_id LIMIT 1) s ON true
          WHERE epoch_us(s.ts) - epoch_us(e.ts) <= 86400000000),
        mid AS (SELECT fs.user_id, fs.id_first, m.event_id AS mid_id,
            row_number() OVER (PARTITION BY fs.user_id, fs.id_first
                               ORDER BY m.ts, m.event_id) AS i
          FROM fs JOIN events m ON m.user_id = fs.user_id
            AND m.event_type = 'error'
            AND (m.ts > fs.ets OR (m.ts = fs.ets AND m.event_id > fs.id_first))
            AND (m.ts < fs.sts OR (m.ts = fs.sts AND m.event_id < fs.id_signup))),
        kk AS (SELECT fs.user_id, fs.id_first, fs.id_signup, fs.ets, fs.sts,
            count(mid.mid_id) AS k,
            CAST(coalesce(sum(mid.mid_id * CAST(power(2, mid.i - 1) AS BIGINT)), 0)
              AS BIGINT) AS mid_last_sum
          FROM fs LEFT JOIN mid ON mid.user_id = fs.user_id
            AND mid.id_first = fs.id_first
          GROUP BY 1, 2, 3, 4, 5)
        SELECT user_id AS key, id_first,
          CAST(power(2, k) AS BIGINT) AS n_matches,
          CAST(power(2, k) + k * power(2, k - 1) AS BIGINT) AS sum_reps,
          id_first + mid_last_sum AS sum_last,
          id_signup, epoch_us(ets) AS start_ts_us, epoch_us(sts) AS end_ts_us
        FROM kk""")),

    // Queryable state (reference: QueryableStateClient.java /
    // KeyedStream.asQueryableState — SURVEY §2.10): run a keyed
    // flatMapGroupsWithState running aggregate against a PERSISTENT
    // checkpoint, then answer the "query" OUT-OF-BAND by reading the keyed
    // state store itself via Spark's State Data Source — the returned frame
    // comes from `format("statestore")`, not from the streaming sink. The
    // last committed batch's state per key must equal the batch aggregate.
    Entry("qdi_queryable_state",
      (s, dir) => graft.streaming.QueryableState.stateFrame(s, dir)
        .orderBy("user_id"),
      Some(StreamQueries.OUserEventAgg),
      prepare = Some((s, dir) => { graft.streaming.QueryableState.materialize(s, dir); () })),

    // Queryable state, transformWithState flavor: q95's RunningAgg holds a
    // NAMED ValueState ("acc") per key; after the watermark drains the
    // replay, the state variable is addressed BY NAME out-of-band
    // (statestore reader option stateVarName — Flink's
    // asQueryableState("name") addressing) and must equal the batch
    // aggregate. Same weak-consistency read point as qdi: last committed
    // batch.
    Entry("qdm_tws_state_read",
      (s, dir) => graft.streaming.QueryableState.twsStateFrame(s, dir)
        .orderBy("user_id"),
      Some(StreamQueries.OUserEventAgg),
      prepare = Some((s, dir) => { graft.streaming.QueryableState.materializeTws(s, dir); () })),

    // Ingest-time near-dup (the STREAMING face of q85): documents replayed
    // in arrival (doc-id) order through a keyed LSH claim index — per band
    // bucket, state holds the postings list and each arrival emits a
    // candidate pair per prior posting — then the ONE shared verify
    // definition (sig-agreement pre-filter + exact hashed-shingle Jaccard,
    // Dedup.verifyProposedPairs) confirms pairs batch-side. Output: each
    // near-duplicate doc with its EARLIEST confirmed predecessor. The
    // oracle replays exact Jaccard over all earlier docs (equal to the
    // claim-index result by the q85 recall argument: 64×2 banding misses a
    // J>=0.5 pair with p≈1e-8, and min-over-band-sharers = min-over-all-
    // sharers because a sharer's bucket claimer is itself a sharer).
    Entry("qdo_stream_lsh_neardup",
      (s, dir) => {
        implicit val sp: SparkSession = s
        import sp.implicits._
        s.conf.set("spark.sql.streaming.stateStore.providerClass",
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
        val raw = Tables.stream(s, dir, "documents")
        val banded = graft.operators.Dedup
          .bandBucketsFor(raw, "doc_id", "text", n = 2, k = 128, bands = 64)
          .withColumn("ts", timestamp_micros(col("doc") * 1000000L))
          .withWatermark("ts", "0 seconds")
          .select(col("bucket").as("key"), col("doc").as("docId"))
          .as[graft.streaming.StreamingDedup.BandRow]
        val pairs = graft.streaming.EventTimeOps.ordered(banded,
          (r: graft.streaming.StreamingDedup.BandRow) => r.key,
          new graft.streaming.StreamingDedup.BucketClaim)
        val cands = run(pairs.toDF(), "qdo_sink")
        graft.operators.Dedup.verifyProposedPairs(
            graft.Tables(s, dir, "documents"), "doc_id", "text",
            cands, n = 2, k = 128, threshold = 0.5)
          .groupBy(col("id2").as("doc_id"))
          .agg(min("id1").as("dup_of"), count(lit(1)).as("n_earlier_dups"))
      },
      Some("""WITH toks AS (
          SELECT doc_id, list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS w
          FROM documents
        ), sh AS (
          SELECT DISTINCT doc_id, (w[i] || ' ' || w[i+1]) AS sh
          FROM toks CROSS JOIN UNNEST(generate_series(1, len(w) - 1)) AS t(i)
        ), sizes AS (
          SELECT doc_id, count(*) AS nsh FROM sh GROUP BY doc_id
        ), common AS (
          SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS c
          FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
          GROUP BY 1, 2
        ), p AS (
          SELECT id1, id2, CAST(c AS DOUBLE) / (s1.nsh + s2.nsh - c) AS j
          FROM common
          JOIN sizes s1 ON id1 = s1.doc_id
          JOIN sizes s2 ON id2 = s2.doc_id
        )
        SELECT id2 AS doc_id, CAST(min(id1) AS BIGINT) AS dup_of,
          CAST(count(*) AS BIGINT) AS n_earlier_dups
        FROM p WHERE j >= 0.5 GROUP BY id2""")),

    // Streaming ingest against the PERSISTENT index (operators/
    // LshIndex.startStreamingIngest — the cross-run sibling of qdo's
    // in-state claim index): documents stream through foreachBatch, each
    // micro-batch dedups against the on-disk bucketed corpus tables and
    // folds itself in; confirmed pairs land partitioned by batch id. The
    // emitted set is batch-split invariant (within-batch + batch-vs-index
    // covers every ordered pair exactly once), so unordered (least,
    // greatest) orientation makes the gate independent of how the file
    // source carves micro-batches — and equal to q85's exact pair set.
    Entry("qdv_stream_persistent_index",
      (s, dir) => {
        val tag = Scratch.dirTag(dir) + "s"
        val ref = graft.operators.LshIndex.Ref(tag, buckets = 8)
        graft.operators.LshIndex.drop(s, ref) // idempotent re-runs
        val run = Scratch.drain("qdv")(r => graft.operators.LshIndex.startStreamingIngest(
          Tables.stream(s, dir, "documents"), "doc_id", "text", n = 2, k = 128,
          bands = 64, threshold = 0.5, ref, r.out, r.ckpt))
        s.read.parquet(s"${run.out}/pairs")
          .select(least(col("old_id"), col("new_id")).as("id1"),
            greatest(col("old_id"), col("new_id")).as("id2"),
            round(col("jaccard"), 9).as("jaccard"))
      },
      Some(ExtensionQueries.OMinhashPairs)),

    // Streaming ingest against the PERSISTENT gram index (operators/
    // GramIndex.startStreamingIngest — qdv's sibling for exact-substring
    // dedup): documents stream through foreachBatch, each micro-batch
    // cleans against the on-disk bucketed gram table and folds itself
    // in; cleaned docs land partitioned by batch id behind the ledger.
    // Unlike qdv's pair set, the causal rule is NOT batch-split
    // invariant — but the fixture is ONE parquet file and the source
    // runs without maxFilesPerTrigger, so the stream carves exactly one
    // micro-batch and ingest-on-empty equals the qf8 batch operator:
    // the oracle is qf8's verbatim. Multi-delivery causality is gated
    // by qfa and spec'd in GramIndexSpec's ledgered-stream case.
    Entry("qfc_stream_gram_index",
      (s, dir) => {
        val tag = Scratch.dirTag(dir) + "gs"
        val ref = graft.operators.GramIndex.Ref(tag, buckets = 8)
        graft.operators.GramIndex.drop(s, ref) // idempotent re-runs
        val run = Scratch.drain("qfc")(r => graft.operators.GramIndex.startStreamingIngest(
          Tables.stream(s, dir, "documents"), "doc_id", "text", minLen = 40, ref,
          r.out, r.ckpt))
        s.read.parquet(s"${run.out}/clean")
          .select("doc_id", "clean_text", "n_spans", "n_removed")
      },
      Some(PipelineQueries.OExactSubstrDedup)),

    // STREAMING benchmark decontamination (operators/ContamIndex.scala —
    // the streaming face of qbf/qf5's n-gram contamination rule):
    // benchmark DELTAS stream in three snapshot files (maxFilesPerTrigger
    // = 1, so the grams genuinely accumulate across micro-batches behind
    // the ledgered ingest), and the training corpus is audited against
    // the ACCUMULATED index after the stream drains. `snap` is CONTENT-
    // derived ((doc_id div 50) mod 3), so the verdict — qbf's n_shared/
    // contaminated per train doc, plus WHICH snapshot first flagged it —
    // is invariant to how the file source carves deliveries; the oracle
    // replays the 3-gram law, the per-gram min-snapshot fold, and the
    // per-doc rollup. Multi-delivery replay/ledger idempotence and the
    // audit plan shape are spec-pinned in ContamIndexSpec.
    Entry("qhj_stream_decontam_index",
      (s, dir) => {
        val tag = Scratch.dirTag(dir) + "ci"
        val ref = graft.operators.ContamIndex.Ref(tag, buckets = 8)
        graft.operators.ContamIndex.drop(s, ref) // idempotent re-runs
        // benchmark-delta fixture: three per-snapshot parquet dirs
        val fixPath = Scratch.derived(dir, "documents", "benchdelta",
            tagSuffix = "ci") { staging =>
          val bench = graft.Tables(s, dir, "documents")
            .filter(pmod(col("doc_id"), lit(50L)) === 0)
            .withColumn("snap", expr("(doc_id div 50) % 3").cast("long"))
            .select("doc_id", "snap", "text")
          (0 until 3).foreach { k =>
            bench.filter(col("snap") === k).coalesce(1)
              .write.parquet(new java.io.File(staging, s"snap$k").getPath)
            Thread.sleep(20) // distinct mtimes -> deterministic pickup order
          }
        }
        val schema = s.read.parquet(s"$fixPath/snap0").schema
        val raw = s.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(s"$fixPath/snap*")
        Scratch.drain("qhj")(r => graft.operators.ContamIndex.startStreamingIngest(
          raw, "text", "snap", n = 3, ref, r.out, r.ckpt))
        graft.operators.ContamIndex.audit(
          graft.Tables(s, dir, "documents")
            .filter(pmod(col("doc_id"), lit(50L)) =!= 0),
          "doc_id", "text", n = 3, ref)
      },
      Some("""WITH toks AS (
          SELECT doc_id, list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS w
          FROM documents
        ), sh AS (
          SELECT DISTINCT doc_id, (w[i] || ' ' || w[i+1] || ' ' || w[i+2]) AS sh
          FROM toks CROSS JOIN UNNEST(generate_series(1, len(w) - 2)) AS t(i)
        ), bench AS (
          SELECT sh, min((doc_id // 50) % 3) AS msnap
          FROM sh WHERE doc_id % 50 = 0 GROUP BY sh
        ), cnt AS (
          SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_shared,
            CAST(min(b.msnap) AS BIGINT) AS first_snap
          FROM sh s JOIN bench b USING (sh)
          WHERE s.doc_id % 50 <> 0 GROUP BY 1
        )
        SELECT d.doc_id AS doc, COALESCE(c.n_shared, 0) AS n_shared,
          COALESCE(c.n_shared, 0) > 0 AS contaminated,
          COALESCE(c.first_snap, -1) AS first_flagged_snap
        FROM (SELECT doc_id FROM documents WHERE doc_id % 50 <> 0) d
        LEFT JOIN cnt c ON d.doc_id = c.doc_id""")),

    // Streaming mixture top-up (streaming/StreamingTopup.scala — qf4's
    // streaming face): the delivered-so-far composition lives in an
    // on-storage delta table (replay-IDEMPOTENT: per-batch partition
    // overwrite + self-excluding reads); here it is SEEDED with the
    // doc_id % 3 != 0 composition and the % 3 == 0 slice streams through
    // as one delivery (one file, one micro-batch), so the admitted set
    // equals the batch operator and the oracle is qf4's verbatim.
    // Multi-delivery accumulation + the crash-window idempotence are
    // spec-pinned in StreamingSampleSpec.
    Entry("qfi_stream_mixture_topup",
      (s, dir) => {
        val run = Scratch.drain("qfi") { r =>
          graft.Tables(s, dir, "documents").filter(col("doc_id") % 3 =!= 0)
            .groupBy(col("lang")).agg(count(lit(1)).as("n"))
            .write.parquet(s"${r.state}/delta/batch_id=999999")
          graft.streaming.StreamingTopup.startTopupIngest(
            Tables.stream(s, dir, "documents").filter(col("doc_id") % 3 === 0),
            "doc_id", "lang", targetPerGroup = 600L, totalBudget = 400L,
            r.state, r.out, r.ckpt)
        }
        s.read.parquet(s"${run.out}/admitted").select("doc_id", "lang", "rk")
      },
      Some(PipelineQueries.OMixtureTopup)),

    // Streaming STRIDE CURRICULUM — the ordering family's ingest-time
    // face (qes's streaming sibling, the round-12 VERDICT stretch):
    // arriving documents get their virtual time vt = ((2·rk−1)·1e6) DIV
    // (2·w_lang) under caller-declared stride weights, with rk the
    // CAUSAL per-group rank continued across deliveries through the
    // idempotent per-batch state deltas (StreamingTopup's layout). Here
    // the stream delivers the corpus in one batch under the batch
    // operator's own sqrt weights, so the emitted rows must equal
    // qes's (doc_id, lang, rk, vt) verbatim — multi-delivery causality
    // and crash replay are pinned by StreamingCurriculumSpec.
    Entry("qfo_stream_stride",
      (s, dir) => {
        val weights = graft.Tables(s, dir, "documents")
          .groupBy(col("lang")).agg(count(lit(1)).as("n"))
          .select(col("lang"),
            floor(sqrt(col("n").cast("double"))).cast("long").as("w"))
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        val run = Scratch.drain("qfo")(r => graft.streaming.StreamingCurriculum
          .startStrideIngest(Tables.stream(s, dir, "documents"), "doc_id", "lang",
            weights, r.state, r.out, r.ckpt))
        s.read.parquet(s"${run.out}/ordered").select("doc_id", "lang", "rk", "vt")
      },
      Some(s"""WITH c AS (
          SELECT lang, count(*) AS n FROM documents GROUP BY 1
        ), w AS (
          SELECT lang, CAST(floor(sqrt(CAST(n AS DOUBLE))) AS BIGINT) AS weight
          FROM c
        ), r AS (
          SELECT doc_id, lang, CAST(row_number() OVER (
            PARTITION BY lang
            ORDER BY ${PipelineQueries.oUnitHash("doc_id", "stride")}, doc_id)
            AS BIGINT) AS rk
          FROM documents
        )
        SELECT doc_id, lang, rk,
          ((2 * rk - 1) * 1000000) // (2 * weight) AS vt
        FROM r JOIN w USING (lang)""")),

    // Streaming COMPETENCE CURRICULUM — qf6's causal face (the second
    // ordering-family streaming sibling after qfo): each arriving doc
    // gets the first step the sqrt-competence schedule admits it,
    // ranked against the running difficulty histogram (idempotent
    // per-batch deltas; the histogram is bounded by DISTINCT token
    // counts, never corpus-sized). One delivery ⇒ the batch operator's
    // (n_toks, id) ranks and steps verbatim; multi-delivery causality
    // and crash replay are pinned by StreamingCurriculumSpec.
    Entry("qfr_stream_competence",
      (s, dir) => {
        val run = Scratch.drain("qfr")(r => graft.streaming.StreamingCurriculum
          .startCompetenceIngest(Tables.stream(s, dir, "documents"), "doc_id", "text",
            totalSteps = 1000L, r.state, r.out, r.ckpt))
        s.read.parquet(s"${run.out}/sched")
          .select("doc_id", "n_toks", "rank", "first_step")
      },
      Some(PipelineQueries.OCompetenceCurriculum)),

    // Streaming MIXTURE→CURRICULUM composition — qey's causal face
    // (round 15, the round-13 sketch landed): each delivery realizes its
    // own UniMax allocation and stride-interleaves the copies into a
    // per-delivery epoch layout, both stages in ONE foreachBatch over
    // one state table. The stream delivers the corpus in one batch, so
    // the emitted (cid, lang, rk, vt, pos) rows must equal batch qey's
    // VERBATIM (shared oracle); multi-delivery causality and crash
    // replay are pinned by StreamingRollupSpec/StreamingCurriculumSpec.
    Entry("qfu_stream_mixture_curriculum",
      (s, dir) => {
        val run = Scratch.drain("qfu")(r => graft.streaming.StreamingCurriculum
          .startMixtureCurriculumIngest(Tables.stream(s, dir, "documents"), "doc_id",
            "lang", totalBudget = 900L, maxEpochs = 2L, r.state, r.out, r.ckpt))
        s.read.parquet(s"${run.out}/epoch")
          .select("cid", "lang", "rk", "vt", "pos")
      },
      Some(PipelineQueries.OMixtureCurriculum)),

    // State TIME TRAVEL: the keyed running aggregate read AS OF committed
    // batch 1 of a 4-batch replay (statestore reader `batchId` option —
    // Flink's retained-savepoint inspection addressed by version). The
    // batch split uses EXPLICIT id-quarter thresholds, so the oracle
    // replays the exact prefix: state@1 = aggregate over event_id <=
    // 2·max_id/4. Versioned state stores make every recent batch
    // addressable; nothing is recomputed to answer "what did the state say
    // two commits ago".
    Entry("qdq_state_time_travel",
      (s, dir) => graft.streaming.QueryableState.stateAtBatch(s, dir, batchId = 1)
        .orderBy("user_id"),
      Some("""WITH m AS (SELECT 2 * max(event_id) // 4 AS t FROM events)
        SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
          CAST(sum(CAST(round(value*1000) AS BIGINT)) AS BIGINT) AS sum_millis
        FROM events, m WHERE event_id <= m.t
        GROUP BY user_id ORDER BY user_id"""),
      prepare = Some((s, dir) => { graft.streaming.QueryableState.materializeTimeline(s, dir); () })),

    // State CHANGE FEED (CDC of operator state): every keyed-state
    // mutation across committed batches 1..3, replayed from the RocksDB
    // CHANGELOG (readChangeFeed) — no snapshot scans. One 'update' row per
    // (batch, touched key) carrying the post-image; the oracle recomputes
    // touched sets from the explicit id-quarter slices and post-images as
    // id-prefix aggregates.
    Entry("qdr_state_change_feed",
      (s, dir) => graft.streaming.QueryableState
        .stateChangeFeed(s, dir, startBatchId = 1, endBatchId = 3)
        .orderBy("batch_id", "user_id"),
      Some("""WITH m AS (SELECT max(event_id) AS mx FROM events),
        b AS (SELECT CAST(t.b AS BIGINT) AS batch_id,
            CASE WHEN t.b = 3 THEN NULL ELSE (t.b + 1) * mx // 4 END AS hi,
            t.b * mx // 4 AS lo
          FROM m CROSS JOIN UNNEST([1, 2, 3]) AS t(b)),
        touched AS (SELECT DISTINCT b.batch_id, e.user_id
          FROM events e JOIN b
            ON e.event_id > b.lo AND (b.hi IS NULL OR e.event_id <= b.hi)),
        pref AS (SELECT b.batch_id, e.user_id,
            CAST(count(*) AS BIGINT) AS n_events,
            CAST(sum(CAST(round(e.value*1000) AS BIGINT)) AS BIGINT) AS sum_millis
          FROM events e JOIN b ON (b.hi IS NULL OR e.event_id <= b.hi)
          GROUP BY 1, 2)
        SELECT t.batch_id, 'update' AS change_type, t.user_id,
          p.n_events, p.sum_millis
        FROM touched t
        JOIN pref p ON p.batch_id = t.batch_id AND p.user_id = t.user_id
        ORDER BY t.batch_id, t.user_id"""),
      prepare = Some((s, dir) => { graft.streaming.QueryableState.materializeChangelog(s, dir); () })),

    // Continuous sequence packing (the streaming face of qel): documents
    // stream in doc-id order, keyed by lang — one independent token stream
    // per shard — and per-shard state (remainder < seqLen tokens + two
    // longs, O(shards·seqLen) total regardless of corpus size) carries the
    // open sequence across micro-batches. Only CLOSED 64-token sequences
    // are emitted (each exactly once, in the batch whose doc closes it);
    // the trailing partial of each shard stays open awaiting more data, so
    // the oracle is the per-lang qel window restricted to complete
    // sequences. Sharding is the scale story: within a shard packing is
    // inherently sequential, across shards it parallelizes freely.
    Entry("qem_stream_pack",
      (s, dir) => {
        implicit val sp: SparkSession = s
        import sp.implicits._
        s.conf.set("spark.sql.streaming.stateStore.providerClass",
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
        val raw = Tables.stream(s, dir, "documents")
        val docs = raw
          .withColumn("ts", timestamp_micros(col("doc_id") * 1000000L))
          .withWatermark("ts", "0 seconds")
          .select(col("lang").as("key"), col("doc_id").as("docId"),
            graft.functions.TextFunctions.tokens(col("text")).as("toks"))
          .as[graft.streaming.StreamingPack.DocToks]
        val packed = graft.streaming.EventTimeOps.ordered(docs,
          (d: graft.streaming.StreamingPack.DocToks) => d.key,
          new graft.streaming.StreamingPack.SeqPacker(64))
        run(packed.toDF(), "qem_sink")
          .select("lang", "seq_id", "n_toks", "n_docs", "seq_text")
      },
      Some("""WITH toks AS (
          SELECT doc_id, lang,
            list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS w
          FROM documents
        ), off AS (
          SELECT doc_id, lang, w,
            coalesce(sum(len(w)) OVER (PARTITION BY lang ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS o
          FROM toks
        ), tok AS (
          SELECT lang, doc_id, o + i - 1 AS gpos, w[i] AS t
          FROM off CROSS JOIN UNNEST(generate_series(1, len(w))) AS u(i)
        ), seq AS (
          SELECT lang, CAST(gpos // 64 AS BIGINT) AS seq_id,
            CAST(gpos % 64 AS BIGINT) AS pos, t, doc_id
          FROM tok
        )
        SELECT lang, seq_id, CAST(count(*) AS BIGINT) AS n_toks,
          CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
          string_agg(t, ' ' ORDER BY pos) AS seq_text
        FROM seq GROUP BY 1, 2 HAVING count(*) = 64""")),

    // Ingest-time duplicated-chunk suppression (the STREAMING face of
    // qep, qdo's shape at chunk granularity): documents stream in doc-id
    // order, split into 8-token chunks, and each chunk's (FNV, xxhash64)
    // DOUBLE fingerprint is claimed by its FIRST arrival in (doc,
    // position) order — later occurrences, cross-doc or within-doc, are
    // suppressed at the edge with one long of state per distinct chunk
    // (FNV is the 8-byte state key, xxhash64 confirms in state: a
    // keep-first collision would REMOVE a distinct chunk, so the claim
    // path carries GramIndex's collision-exact contract). The
    // ordered drain makes arrival order deterministic, so the kept set
    // equals the batch keep-first rule and qep's oracle replays the
    // whole operator; survivors reassemble batch-side (same groupBy the
    // batch operator runs) against total chunk counts from the store.
    Entry("qer_stream_chunk_dedup",
      (s, dir) => {
        implicit val sp: SparkSession = s
        import sp.implicits._
        s.conf.set("spark.sql.streaming.stateStore.providerClass",
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
        val raw = Tables.stream(s, dir, "documents")
        val chunks = graft.operators.TextPipeline
          .chunk(raw, "doc_id", "text", chunkSize = 8, overlap = 0)
          .withColumn("ts", timestamp_micros(col("doc_id") * 1000000L))
          .withWatermark("ts", "0 seconds")
          .select(graft.functions.Fnv1a64Expr(col("chunk_text")).as("key"),
            xxhash64(col("chunk_text")).as("key2"),
            col("doc_id").as("docId"), col("chunk_idx").cast("long").as("chunkIdx"),
            col("chunk_text").as("chunkText"))
          .as[graft.streaming.StreamingDedup.ChunkRow]
        val kept = graft.streaming.EventTimeOps.ordered(chunks,
          (r: graft.streaming.StreamingDedup.ChunkRow) => r.key,
          new graft.streaming.StreamingDedup.ChunkClaim)
        val survivors = run(kept.toDF(), "qer_sink")
        val totals = graft.operators.TextPipeline
          .chunk(graft.Tables(s, dir, "documents"), "doc_id", "text", 8, 0)
          .groupBy(col("doc_id")).agg(count(lit(1)).as("n_chunks"))
        survivors.groupBy(col("docId").as("doc_id"))
          .agg(count(lit(1)).as("n_kept"),
            array_join(transform(array_sort(collect_list(
              struct(col("chunkIdx"), col("chunkText")))),
              x => x.getField("chunkText")), " ").as("text_dedup"))
          .join(totals, Seq("doc_id"))
          .select(col("doc_id"), col("n_chunks"), col("n_kept"), col("text_dedup"))
      },
      Some(PipelineQueries.OChunkDedup)),

    // Ingest-time CDC-chunk dedup — qfy's streaming face (and qer's CDC
    // sibling): content-defined chunks stream keyed by fingerprint, the
    // first arrival in (doc, position) order claims each distinct chunk,
    // later occurrences — cross-doc at ANY character offset — suppress at
    // the edge. The ChunkClaim machinery is chunker-agnostic, so the only
    // deltas vs qer are the chunker and the separator-free reassembly
    // (CDC chunks tile raw text); the batch qfy oracle replays verbatim.
    Entry("qfz_stream_cdc_dedup",
      (s, dir) => {
        implicit val sp: SparkSession = s
        import sp.implicits._
        s.conf.set("spark.sql.streaming.stateStore.providerClass",
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
        val raw = Tables.stream(s, dir, "documents")
        val chunks = graft.operators.TextPipeline
          .cdcChunks(raw, "doc_id", "text",
            window = 16, divisor = 64L, remainder = 0L)
          .withColumn("ts", timestamp_micros(col("doc_id") * 1000000L))
          .withWatermark("ts", "0 seconds")
          .select(graft.functions.Fnv1a64Expr(col("chunk_text")).as("key"),
            xxhash64(col("chunk_text")).as("key2"),
            col("doc_id").as("docId"), col("chunk_idx").as("chunkIdx"),
            col("chunk_text").as("chunkText"))
          .as[graft.streaming.StreamingDedup.ChunkRow]
        val kept = graft.streaming.EventTimeOps.ordered(chunks,
          (r: graft.streaming.StreamingDedup.ChunkRow) => r.key,
          new graft.streaming.StreamingDedup.ChunkClaim)
        val survivors = run(kept.toDF(), "qfz_sink")
        val totals = graft.operators.TextPipeline
          .cdcChunks(graft.Tables(s, dir, "documents"), "doc_id", "text",
            window = 16, divisor = 64L, remainder = 0L)
          .groupBy(col("doc_id")).agg(count(lit(1)).as("n_chunks"))
        survivors.groupBy(col("docId").as("doc_id"))
          .agg(count(lit(1)).as("n_kept"),
            array_join(transform(array_sort(collect_list(
              struct(col("chunkIdx"), col("chunkText")))),
              x => x.getField("chunkText")), "").as("text_dedup"))
          .join(totals, Seq("doc_id"))
          .select(col("doc_id"), col("n_chunks"), col("n_kept"), col("text_dedup"))
      },
      Some(PipelineQueries.OCdcDedup)),

    // Streaming ingest against the PERSISTENT CDC chunk-claim index
    // (operators/ChunkIndex.startStreamingIngest — qfc's sibling at
    // chunk granularity, and qfz's cross-RUN form: claims live in an
    // external bucketed table instead of the query's state store, so a
    // fresh process resumes dedup where this one stopped). The fixture
    // is ONE parquet file and the source runs without
    // maxFilesPerTrigger, so the stream carves exactly one micro-batch
    // and ingest-on-empty equals the batch operator: qfy's oracle is
    // verbatim. Multi-delivery causality is gated by qg0 and spec'd in
    // ChunkIndexSpec's ledgered-stream case.
    Entry("qg1_stream_cdc_claim_index",
      (s, dir) => {
        val tag = Scratch.dirTag(dir) + "cs"
        val ref = graft.operators.ChunkIndex.Ref(tag, buckets = 8)
        graft.operators.ChunkIndex.drop(s, ref) // idempotent re-runs
        val run = Scratch.drain("qg1")(r => graft.operators.ChunkIndex.startStreamingIngest(
          Tables.stream(s, dir, "documents"), "doc_id", "text", window = 16,
          divisor = 64L, remainder = 0L, ref, r.out, r.ckpt))
        s.read.parquet(s"${run.out}/dedup")
          .select("doc_id", "n_chunks", "n_kept", "text_dedup")
      },
      Some(PipelineQueries.OCdcDedup)),

    // Streaming ingest against the PERSISTENT SimHash near-dup index
    // (operators/SimHashIndex.startStreamingIngest — the Hamming-space
    // sibling of qg1's chunk-claim stream, completing the index family's
    // streaming symmetry). Same one-micro-batch construction: ingest on
    // an empty index emits the batch's within-batch pairs, which for the
    // whole corpus in one delivery IS the global banded pair set — qg2's
    // oracle verbatim. Multi-delivery causality is gated by qg2 and
    // spec'd in SimHashIndexSpec's ledgered-stream case.
    Entry("qg6_stream_simhash_index",
      (s, dir) => {
        val tag = Scratch.dirTag(dir) + "ss"
        val ref = graft.operators.SimHashIndex.Ref(tag, buckets = 8)
        graft.operators.SimHashIndex.drop(s, ref) // idempotent re-runs
        val run = Scratch.drain("qg6")(r => graft.operators.SimHashIndex.startStreamingIngest(
          Tables.stream(s, dir, "documents"), "doc_id", "text", maxDist = 3, ref,
          r.out, r.ckpt))
        s.read.parquet(s"${run.out}/pairs")
          .select("old_id", "new_id", "hamming")
      },
      Some(ExtensionQueries.OSimhashIndexPairs)),

    // STREAMING perceptual image near-dup ingest — the deployment shape
    // of qh0 (media bytes stream in, the Hamming index answers forever):
    // binaryFile readStream over the planted PNG corpus →
    // dHash64KernelBinary (partition-local ImageIO decode+hash, the
    // streaming-capable kernel: format("image") has no stream source) →
    // startStreamingSignatureIngest. One trigger = one delivery, so the
    // within-batch pairs ARE the global banded set and the planted
    // single-delivery oracle replays verbatim; multi-delivery causality
    // is qh0's gate, ledger replay the family spec.
    Entry("qh4_stream_image_neardup",
      (s, dir) => {
        val imgDir = MiscQueries.plantedPngDir(s, dir)
        val tag = Scratch.dirTag(dir) + "isn"
        val ref = graft.operators.SimHashIndex.Ref(tag, buckets = 8)
        graft.operators.SimHashIndex.drop(s, ref) // idempotent re-runs
        val sigs = graft.sources.Images.dHash64KernelBinary(binaryFileStream(s, imgDir, "png"))
          .select(regexp_extract(col("path"), "doc_(\\d+)\\.png$", 1)
              .cast("long").as("doc_id"),
            col("dhash"))
        val run = Scratch.drain("qh4")(r => graft.operators.SimHashIndex
          .startStreamingSignatureIngest(sigs, "doc_id", "dhash", maxDist = 3, ref,
            r.out, r.ckpt))
        s.read.parquet(s"${run.out}/pairs")
          .select("old_id", "new_id", "hamming")
      },
      Some(MiscQueries.plantedSingleDeliveryOracle(nbits = 64))),

    // Audio sibling of qh4 — WAV bytes stream through binaryFile,
    // fingerprint64's partition-local AudioSystem decode (mapPartitions
    // runs unchanged on a streaming frame), into the same persistent
    // signature index; 63-bit law, single-delivery oracle.
    Entry("qh6_stream_audio_neardup",
      (s, dir) => {
        val wavDir = MiscQueries.plantedWavDir(s, dir)
        val tag = Scratch.dirTag(dir) + "asn"
        val ref = graft.operators.SimHashIndex.Ref(tag, buckets = 8)
        graft.operators.SimHashIndex.drop(s, ref) // idempotent re-runs
        val sigs = graft.sources.Audio.fingerprint64(
            binaryFileStream(s, wavDir, "wav"), nWindows = 64)
          .select(regexp_extract(col("path"), "doc_(\\d+)\\.wav$", 1)
              .cast("long").as("doc_id"),
            col("fingerprint"))
        val run = Scratch.drain("qh6")(r => graft.operators.SimHashIndex
          .startStreamingSignatureIngest(sigs, "doc_id", "fingerprint", maxDist = 3,
            ref, r.out, r.ckpt))
        s.read.parquet(s"${run.out}/pairs")
          .select("old_id", "new_id", "hamming")
      },
      Some(MiscQueries.plantedSingleDeliveryOracle(nbits = 63))),

    // Video sibling of qh4/qh6, closing the streaming modality symmetry:
    // MP4 bytes stream through binaryFile, sizeFingerprint64's
    // partition-local stbl walk (mapPartitions runs unchanged on a
    // streaming frame — no codec, the container-level size-gradient
    // device), into the same persistent Hamming index; 63-bit law,
    // single-delivery oracle.
    Entry("qh9_stream_video_neardup",
      (s, dir) => {
        val mp4Dir = MiscQueries.plantedMp4Dir(s, dir)
        val tag = Scratch.dirTag(dir) + "vsn"
        val ref = graft.operators.SimHashIndex.Ref(tag, buckets = 8)
        graft.operators.SimHashIndex.drop(s, ref) // idempotent re-runs
        val sigs = graft.sources.Video.sizeFingerprint64(
            binaryFileStream(s, mp4Dir, "mp4"), nSamples = 64)
          .select(regexp_extract(col("path"), "doc_(\\d+)\\.mp4$", 1)
              .cast("long").as("doc_id"),
            col("fingerprint"))
        val run = Scratch.drain("qh9")(r => graft.operators.SimHashIndex
          .startStreamingSignatureIngest(sigs, "doc_id", "fingerprint", maxDist = 3,
            ref, r.out, r.ckpt))
        s.read.parquet(s"${run.out}/pairs")
          .select("old_id", "new_id", "hamming")
      },
      Some(MiscQueries.plantedSingleDeliveryOracle(nbits = 63))),

    // STREAMING cross-modal curation — qha's deployment face: candidate
    // (image, caption) pairs arrive as data (a parquet stream here; in
    // production the crawler's output), CrossModal.alignPairs scores
    // each micro-batch STATELESSLY (the native cosine expression runs
    // unchanged on a streaming frame — no state, no watermark), and
    // only aligned pairs append to the sink. Stateless append is
    // batching-invariant, so the batch oracle replays verbatim under
    // any trigger split; the stateful best-caption half stays batch
    // (qhb) by design — LAION-style curation dedups per crawl snapshot,
    // not over an unbounded stream.
    Entry("qhc_stream_crossmodal_align",
      (s, dir) => {
        val pairsDir = MiscQueries.crossModalPairsDir(s, dir)
        val schema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("pair_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("img_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("img_vec",
            org.apache.spark.sql.types.ArrayType(
              org.apache.spark.sql.types.FloatType)),
          org.apache.spark.sql.types.StructField("cap_vec",
            org.apache.spark.sql.types.ArrayType(
              org.apache.spark.sql.types.FloatType))))
        val scored = graft.operators.CrossModal.alignPairs(
            s.readStream.schema(schema).parquet(pairsDir),
            "img_vec", "cap_vec", threshold = 0.8)
          .filter(col("is_aligned"))
          .select(col("pair_id"), col("img_id"), col("cos_sim"))
        val run = Scratch.drain("qhc")(r => scored.writeStream.format("parquet")
          .option("path", r.out).option("checkpointLocation", r.ckpt)
          .outputMode("append").start())
        s.read.parquet(run.out)
      },
      Some(s"""${MiscQueries.crossModalScoredCtes}
        SELECT pair_id, img_id, cos_sim FROM scored WHERE cos_sim >= 0.8""")),

    // STREAMING DoReMi re-estimation (the streaming face of qga): the
    // mixture is recomputed from additive per-(step, domain) statistics
    // as deliveries land — state is just those sums (DeltaState'd,
    // replay-idempotent), the T-step trajectory replays in full per
    // commit. One parquet fixture file without maxFilesPerTrigger = ONE
    // micro-batch, so the last published weights ARE the batch
    // operator's and qga's oracle replays verbatim; multi-delivery
    // convergence + planted-crash replay are spec'd in
    // StreamingRollupSpec's doremi cases.
    Entry("qgf_stream_doremi",
      (s, dir) => {
        val raw = Tables.stream(s, dir, "documents")
          .select(col("source"),
            pmod(col("n_chars"), lit(997L)).as("excess"),
            pmod(col("doc_id"), lit(4L)).as("step"))
        val run = Scratch.drain("qgf")(r => graft.streaming.StreamingMixture
          .startDoremiIngest(raw, "source", "excess", "step", steps = 4,
            etaMilli = 500, smoothMilli = 100, r.state, r.out, r.ckpt))
        s.read.parquet(s"${run.out}/weights/batch_id=0")
          .select("source", "avg_weight_nanos", "final_weight_nanos")
      },
      Some(PipelineQueries.ODoremi4)),

    // Ingest-time weighted priority sampling (the STREAMING face of qd0's
    // Duffield-Lund-Thorup top-k): documents stream through 8 shards,
    // each shard's keyed state keeps its running top-100 by
    // priority = n_chars / unitHash and emits only ENTRIES (threshold
    // monotone, so every final member entered on arrival — the candidate
    // stream provably contains the answer); one batch-side TakeOrdered
    // over the O(shards·k) candidates is the global top-k, bit-identical
    // to the batch operator, so qd0's oracle replays verbatim.
    Entry("qet_stream_priority_sample",
      (s, dir) => {
        implicit val sp: SparkSession = s
        import sp.implicits._
        s.conf.set("spark.sql.streaming.stateStore.providerClass",
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
        val raw = Tables.stream(s, dir, "documents")
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
        run(cands.toDF(), "qet_sink")
          .orderBy(col("priority").desc, col("docId"))
          .limit(100)
          .select(col("docId").as("doc_id"), col("weight").as("n_chars"),
            col("priority"))
      },
      Some(PipelineQueries.OPrioritySample)),

    // Ingest-time token-budget gating (the STREAMING face of qex's
    // cutoff, sharded): the 10k budget splits into 8 per-shard budgets of
    // 1250 and each shard admits documents in drain-ordered doc-id order
    // while they fit entirely — one long of state per shard, admission a
    // contiguous per-shard prefix, so a per-shard SQL window replays the
    // whole operator. Sharding is what scales the gate (a global counter
    // would funnel the stream through one state partition), at the usual
    // quantization cost of ≤1 doc per shard.
    Entry("qf0_stream_token_budget",
      (s, dir) => {
        implicit val sp: SparkSession = s
        import sp.implicits._
        s.conf.set("spark.sql.streaming.stateStore.providerClass",
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
        val raw = Tables.stream(s, dir, "documents")
        val rows = raw
          .withColumn("ts", timestamp_micros(col("doc_id") * 1000000L))
          .withWatermark("ts", "0 seconds")
          .select(pmod(col("doc_id"), lit(8L)).as("shard"),
            col("doc_id").as("docId"),
            size(graft.functions.TextFunctions.tokens(col("text")))
              .cast("long").as("nToks"))
          .as[graft.streaming.StreamingSample.BudgetRow]
        val kept = graft.streaming.EventTimeOps.ordered(rows,
          (r: graft.streaming.StreamingSample.BudgetRow) => r.shard,
          new graft.streaming.StreamingSample.BudgetGate(1250L))
        run(kept.toDF(), "qf0_sink")
          .select(col("docId").as("doc_id"), col("shard"),
            col("nToks").as("n_toks"), col("cumBefore").as("cum_before"))
      },
      Some(s"""WITH nn AS (
          SELECT doc_id, doc_id % 8 AS shard,
            CAST(len(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS BIGINT) AS n_toks
          FROM documents
        ), c AS (
          SELECT doc_id, shard, n_toks,
            CAST(coalesce(sum(n_toks) OVER (PARTITION BY shard
              ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
              AS cum_before
          FROM nn
        )
        SELECT doc_id, shard, n_toks, cum_before FROM c
        WHERE cum_before + n_toks <= 1250""")),
  )
}
