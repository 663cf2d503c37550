package graft.queries

import graft.Tables
import graft.functions.Aggregators
import graft.operators.Multimodal
import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.functions._

/** UDAGG surface, lateral table-function analogue, and multimodal binary
  * plumbing (SURVEY.md §2.4 UDAGG, §2.9 TableFunction, extensions). */
object MiscQueries {

  private def t(s: SparkSession, dir: String, n: String) = Tables(s, dir, n)

  private val twoLongs = Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)

  /** SQL-text entry point (reference: TableEnvironment.sql — §3.3): the
    * same ANSI string runs through spark.sql over registered fixture views
    * AND through the DuckDB oracle verbatim. */
  private def sqlBoth(name: String, sql: String): Entry =
    Entry(name,
      (s, dir) => { graft.Tables.registerAll(s, dir); s.sql(sql) },
      Some(sql))

  /** qe5's oracle, shared by the resize kernel's gate qe7. */
  private lazy val OImageResize: String =
    """WITH d AS (
          SELECT doc_id, 4 + doc_id % 5 AS w, 3 + doc_id % 4 AS h FROM documents
        ), px AS (
          SELECT doc_id,
            ((ty.y * 4 + tx.x) * 3 + tc.c) AS dpos,
            (doc_id + 3 * ((tx.x * w) // 4) + 5 * ((ty.y * h) // 3)
              + 11 * (2 - tc.c)) % 256 AS v
          FROM d
          CROSS JOIN UNNEST(generate_series(0, 3)) AS tx(x)
          CROSS JOIN UNNEST(generate_series(0, 2)) AS ty(y)
          CROSS JOIN UNNEST(generate_series(0, 2)) AS tc(c)
        )
        SELECT doc_id, CAST(sum(v) AS BIGINT) AS r_sum,
          CAST(sum(v * (dpos + 1)) AS BIGINT) AS r_chk
        FROM px GROUP BY doc_id"""

  /** qh5's oracle, shared by the video sibling qh7. */
  private lazy val OMediaNearDupSelect: String =
    s"""${plantedPairCtes(nbits = 63)},
        pr AS (
          SELECT c.old_id AS id1, c.new_id AS id2
          FROM cand c JOIN hsh h1 ON h1.doc_id = c.old_id
            JOIN hsh h2 ON h2.doc_id = c.new_id
          WHERE bit_count(xor(h1.h, h2.h)) <= 3
        )
        SELECT d.doc_id,
          CAST(coalesce(min(p.id1), d.doc_id) AS BIGINT) AS rep_id,
          (coalesce(min(p.id1), d.doc_id) = d.doc_id) AS is_kept
        FROM documents d LEFT JOIN pr p ON p.id2 = d.doc_id
        GROUP BY d.doc_id"""

  def entries: Seq[Entry] = Seq(

    // Skew-salted join in the gate: orders (skewed toward repeat customers)
    // x customer, salted 8 ways - result must equal the plain join.
    Entry("q28_salted_join",
      (s, dir) => {
        val o = t(s, dir, "orders").select(
          col("o_custkey").as("k"), col("o_orderkey"),
          round(col("o_totalprice") * 100).cast("long").as("price_c"))
        val c = t(s, dir, "customer").select(
          col("c_custkey").as("k"), col("c_mktsegment"))
        graft.operators.SkewJoin.saltedInner(o, c, "k", buckets = 8)
          .groupBy("c_mktsegment")
          .agg(count(lit(1)).as("n"), sum(col("price_c")).as("sum_price_c"))
      },
      Some("""SELECT c_mktsegment, count(*) AS n,
          CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_price_c
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_mktsegment""")),

    sqlBoth("q57_sql_text_agg",
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_price_c,
        min(l_orderkey) AS min_ok, max(l_orderkey) AS max_ok
        FROM lineitem GROUP BY l_returnflag, l_linestatus"""),

    sqlBoth("q58_sql_text_window",
      """SELECT * FROM (
        SELECT o_orderkey, o_orderstatus,
          CAST(round(o_totalprice * 100) AS BIGINT) AS price_c,
          row_number() OVER (PARTITION BY o_orderstatus
            ORDER BY CAST(round(o_totalprice * 100) AS BIGINT) DESC, o_orderkey) AS rn
        FROM orders) t
        WHERE rn <= 10"""),

    // UDAGG (AggregateFunction parity): weighted average as typed Aggregator,
    // map-side partial agg via udaf registration.
    Entry("q36_udagg_weighted_avg",
      (s, dir) => {
        val wavg = udaf(Aggregators.WeightedAvgCents, twoLongs)
        t(s, dir, "lineitem")
          .select(col("l_returnflag"),
            round(col("l_extendedprice") * 100).cast("long").as("cents"),
            col("l_quantity").cast("long").as("qty"))
          .groupBy("l_returnflag")
          .agg(wavg(col("cents"), col("qty")).as("wavg_cents"))
      },
      Some("""SELECT l_returnflag,
          CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) * CAST(l_quantity AS BIGINT))
            // sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS wavg_cents
        FROM lineitem GROUP BY l_returnflag""")),

    // The same Aggregator as an incremental window aggregate
    // (reference: AggregateFunction under WindowedStream.aggregate).
    Entry("q74_window_udagg",
      (s, dir) => {
        val wavg = udaf(Aggregators.WeightedAvgCents, twoLongs)
        t(s, dir, "events")
          .select(col("ts"),
            round(col("value") * 1000).cast("long").as("vm"),
            (pmod(col("user_id"), lit(5)) + 1).cast("long").as("w"))
          .groupBy(window(col("ts"), "6 hours"))
          .agg(wavg(col("vm"), col("w")).as("wavg_millis"))
          .select(unix_micros(col("window.start")).as("win_start_us"), col("wavg_millis"))
      },
      Some(s"""SELECT (epoch_us(ts) // ${6L * 3600000000L}) * ${6L * 3600000000L} AS win_start_us,
          CAST(sum(CAST(round(value * 1000) AS BIGINT) * (user_id % 5 + 1))
            // sum(user_id % 5 + 1) AS BIGINT) AS wavg_millis
        FROM events GROUP BY 1""")),

    // TableFunction / LATERAL analogue (reference: functions/TableFunction
    // .scala via DataSetCorrelate): one row per part-name word.
    Entry("q45_lateral_explode",
      (s, dir) =>
        t(s, dir, "part")
          .select(explode(split(col("p_name"), " ")).as("word"))
          .groupBy("word").agg(count(lit(1)).as("n")),
      Some("""SELECT w.word, count(*) AS n
        FROM part, UNNEST(string_split(p_name, ' ')) AS w(word)
        GROUP BY w.word""")),

    // Multimodal: binary payload column + partition-local stubbed decode —
    // metadata is a pure function of the payload bytes, so the oracle
    // reproduces it from the source text.
    Entry("qa4_multimodal_meta",
      (s, dir) => {
        val media = Multimodal.mediaFromDocuments(t(s, dir, "documents"), "doc_id", "text")
        Multimodal.decodeMeta(media)
      },
      Some("""SELECT doc_id,
          ['image','audio','video'][(doc_id % 3) + 1] AS media_type,
          CAST(octet_length(encode(text)) AS INT) AS n_bytes,
          CAST(CASE WHEN doc_id % 3 = 0 THEN 64 + octet_length(encode(text)) % 192
               WHEN doc_id % 3 = 1 THEN 8000 + (octet_length(encode(text)) % 5) * 8000
               ELSE 64 + octet_length(encode(text)) % 192 END AS INT) AS dim1,
          CAST(CASE WHEN doc_id % 3 = 1 THEN 0
               ELSE 64 + ascii(substr(text, 1, 1)) % 192 END AS INT) AS dim2,
          CAST(CASE WHEN doc_id % 3 = 0 THEN 1
               WHEN doc_id % 3 = 1 THEN 1 + octet_length(encode(text)) % 30
               ELSE 1 + octet_length(encode(text)) % 24 END AS INT) AS n_frames
        FROM documents""")),

    // Frame sampling: per-video stride-4 frame indexes as rows.
    Entry("qa5_frame_sample",
      (s, dir) => {
        val media = Multimodal.mediaFromDocuments(t(s, dir, "documents"), "doc_id", "text")
        Multimodal.sampleFrames(Multimodal.decodeMeta(media), stride = 4)
      },
      Some("""SELECT doc_id, CAST(f.g AS INT) AS frame_idx
        FROM documents
        CROSS JOIN UNNEST(generate_series(0, octet_length(encode(text)) % 24, 4)) AS f(g)
        WHERE doc_id % 3 = 2""")),

    // FlinkML StandardScaler parity: z-scores from exact integer moments.
    Entry("qa6_standard_scale",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_linenumber"),
            round(col("l_extendedprice") * 100).cast("long").as("price_c"),
            col("l_quantity").cast("long").as("qty"))
        graft.operators.Preprocessing.standardScale(li, Seq("price_c", "qty"),
          keep = Seq("l_orderkey", "l_linenumber"))
      },
      Some("""WITH st AS (
          SELECT count(*) AS n,
            sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS ps,
            sum(CAST(round(l_extendedprice*100) AS BIGINT)
              * CAST(round(l_extendedprice*100) AS BIGINT)) AS pq,
            sum(CAST(l_quantity AS BIGINT)) AS qs,
            sum(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS qq
          FROM lineitem)
        SELECT l_orderkey, l_linenumber,
          round((CAST(round(l_extendedprice*100) AS BIGINT) - CAST(ps AS DOUBLE)/n)
            / sqrt(CAST(pq AS DOUBLE)/n - (CAST(ps AS DOUBLE)/n)*(CAST(ps AS DOUBLE)/n)), 9)
            AS price_c_z,
          round((CAST(l_quantity AS BIGINT) - CAST(qs AS DOUBLE)/n)
            / sqrt(CAST(qq AS DOUBLE)/n - (CAST(qs AS DOUBLE)/n)*(CAST(qs AS DOUBLE)/n)), 9)
            AS qty_z
        FROM lineitem, st""")),

    // FlinkML MinMaxScaler parity.
    Entry("qa7_minmax_scale",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_linenumber"),
            round(col("l_extendedprice") * 100).cast("long").as("price_c"))
        graft.operators.Preprocessing.minMaxScale(li, Seq("price_c"),
          keep = Seq("l_orderkey", "l_linenumber"))
      },
      Some("""WITH st AS (
          SELECT min(CAST(round(l_extendedprice*100) AS BIGINT)) AS lo,
            max(CAST(round(l_extendedprice*100) AS BIGINT)) AS hi
          FROM lineitem)
        SELECT l_orderkey, l_linenumber,
          round(CAST(CAST(round(l_extendedprice*100) AS BIGINT) - lo AS DOUBLE)
            / CAST(hi - lo AS DOUBLE), 9) AS price_c_mm
        FROM lineitem, st""")),

    // FlinkML PolynomialFeatures parity: exact integer powers of quantity.
    Entry("qa8_poly_features",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_linenumber"),
            col("l_quantity").cast("long").as("qty"))
        graft.operators.Preprocessing.polynomialFeatures(li, "qty", 3)
      },
      Some("""SELECT l_orderkey, l_linenumber, CAST(l_quantity AS BIGINT) AS qty,
          CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT) AS qty_p2,
          CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)
            * CAST(l_quantity AS BIGINT) AS qty_p3
        FROM lineitem""")),

    // Source/sink round trips: parquet -> csv/json/orc -> read back -> agg.
    // Integer/string/date columns only, so the round trip is exact; the
    // oracle aggregates the original parquet directly.
    Entry("q37_csv_roundtrip",
      (s, dir) => {
        import graft.sources.Sources
        val li = t(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_returnflag"),
            col("l_quantity").cast("long").as("qty"), col("l_shipdate"))
        val tmp = s"/tmp/graft_rt_csv_${dir.replaceAll("[^0-9.]", "")}"
        Sources.writeCsv(li, tmp)
        Sources.csv(s, tmp, li.schema)
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n"), sum(col("qty")).as("sum_qty"),
            min(col("l_shipdate")).as("min_ship"), max(col("l_orderkey")).as("max_ok"))
      },
      Some("""SELECT l_returnflag, count(*) AS n,
          CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
          min(l_shipdate) AS min_ship, max(l_orderkey) AS max_ok
        FROM lineitem GROUP BY l_returnflag""")),

    Entry("q38_json_roundtrip",
      (s, dir) => {
        import graft.sources.Sources
        val o = t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderstatus"),
            round(col("o_totalprice") * 100).cast("long").as("price_c"))
        val tmp = s"/tmp/graft_rt_json_${dir.replaceAll("[^0-9.]", "")}"
        Sources.writeJson(o, tmp)
        Sources.json(s, tmp, o.schema)
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"), sum(col("price_c")).as("sum_price_c"))
      },
      Some("""SELECT o_orderstatus, count(*) AS n,
          CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_price_c
        FROM orders GROUP BY o_orderstatus""")),

    Entry("q39_orc_roundtrip",
      (s, dir) => {
        import graft.sources.Sources
        val c = t(s, dir, "customer")
          .select(col("c_custkey"), col("c_mktsegment"),
            round(col("c_acctbal") * 100).cast("long").as("bal_c"))
        val tmp = s"/tmp/graft_rt_orc_${dir.replaceAll("[^0-9.]", "")}"
        Sources.writeOrc(c, tmp)
        Sources.orc(s, tmp)
          .groupBy("c_mktsegment")
          .agg(count(lit(1)).as("n"), sum(col("bal_c")).as("sum_bal_c"))
      },
      Some("""SELECT c_mktsegment, count(*) AS n,
          CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS sum_bal_c
        FROM customer GROUP BY c_mktsegment""")),

    // groupReduce with sorted groups (reference: DataSet.reduceGroup +
    // SortedGrouping secondary sort): full-group iterator UDF over rows in
    // (orderkey, linenumber, qty) total order — counts ascending-quantity steps.
    Entry("q27_group_reduce_sorted",
      (s, dir) => {
        import s.implicits._
        val li = t(s, dir, "lineitem")
          .select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"),
            col("l_quantity").cast("long").as("qty"))
          .as[(String, Long, Int, Long)]
        li.groupByKey(_._1)
          .flatMapSortedGroups($"l_orderkey", $"l_linenumber", $"qty") { (flag, rows) =>
            var n = 0L; var up = 0L; var prev = Long.MinValue
            rows.foreach { r => n += 1; if (prev != Long.MinValue && r._4 > prev) up += 1; prev = r._4 }
            Iterator((flag, n, up))
          }
          .toDF("l_returnflag", "n", "asc_steps")
      },
      Some("""WITH o AS (
          SELECT l_returnflag,
            CAST(l_quantity AS BIGINT) AS qty,
            lag(CAST(l_quantity AS BIGINT)) OVER (PARTITION BY l_returnflag
              ORDER BY l_orderkey, l_linenumber, CAST(l_quantity AS BIGINT)) AS pq
          FROM lineitem)
        SELECT l_returnflag, count(*) AS n,
          count(*) FILTER (pq IS NOT NULL AND qty > pq) AS asc_steps
        FROM o GROUP BY l_returnflag""")),

    // Correlated scalar subquery (the TPC-H Q2/Q20 shape on this fixture's
    // schema): parts priced above their type's average retail price.
    // Catalyst decorrelates both subqueries (RewriteCorrelatedScalarSubquery)
    // into grouped aggregate(s) joined back to part — one join per subquery
    // unless MergeScalarSubqueries fuses them; either way NOT a per-row
    // re-scan; PlanQualitySpec pins the decorrelated plan shape. Cross-
    // multiplication (price*cnt > sum) keeps the comparison in exact long
    // arithmetic so the oracle matches bit-for-bit with no avg() float.
    sqlBoth("qbh_decorrelated_scalar",
      """SELECT p.p_partkey, p.p_name,
          CAST(round(p.p_retailprice * 100) AS BIGINT) AS price_c
        FROM part p
        WHERE CAST(round(p.p_retailprice * 100) AS BIGINT) *
            (SELECT count(*) FROM part p2 WHERE p2.p_type = p.p_type)
          > (SELECT CAST(sum(CAST(round(p2.p_retailprice * 100) AS BIGINT)) AS BIGINT)
             FROM part p2 WHERE p2.p_type = p.p_type)"""),

    // REAL image decode through the gate (round-9; upgrades the §2.12
    // multimodal row from stub to real): a deterministic PNG per document
    // (dims + every pixel component are pure functions of doc_id,
    // Images.componentOf), scanned with Spark's ACTUAL image data source
    // (mllib + JDK ImageIO — both on this classpath), metadata and the
    // unsigned pixel-byte sum extracted with builtins only. The oracle
    // recomputes all of it from the formulas, so PNG encode → container →
    // ImageIO decode → image frame is verified bit-level end to end.
    // BGR byte ORDER (which the order-independent sum can't see) is
    // pinned by ImageSourceSpec.
    Entry("qdf_image_decode",
      (s, dir) => {
        val imgDir = pngDirFromDocuments(s, dir)
        graft.sources.Images.read(s, imgDir).select(
          regexp_extract(col("image.origin"), "doc_(\\d+)\\.png$", 1)
            .cast("long").as("doc_id"),
          col("image.height").as("height"), col("image.width").as("width"),
          col("image.nChannels").as("n_channels"), col("image.mode").as("mode"),
          graft.sources.Images.byteSum(col("image.data")).as("byte_sum"))
      },
      Some("""WITH d AS (
          SELECT doc_id, 4 + doc_id % 5 AS w, 3 + doc_id % 4 AS h FROM documents
        ), px AS (
          SELECT doc_id, w, h, (doc_id + 3 * tx.x + 5 * ty.y + 11 * tc.c) % 256 AS v
          FROM d
          CROSS JOIN UNNEST(generate_series(0, w - 1)) AS tx(x)
          CROSS JOIN UNNEST(generate_series(0, h - 1)) AS ty(y)
          CROSS JOIN UNNEST(generate_series(0, 2)) AS tc(c)
        )
        SELECT doc_id, CAST(max(h) AS INT) AS height, CAST(max(w) AS INT) AS width,
          CAST(3 AS INT) AS n_channels, CAST(16 AS INT) AS mode,
          CAST(sum(v) AS BIGINT) AS byte_sum
        FROM px GROUP BY doc_id""")),

    // Image RESIZE through the gate (the preprocessing step after qdf's
    // decode): every document's PNG nearest-neighbor-resized to 4×3 in
    // builtin expressions over the decoded BGR bytes (no UDF; src pixel
    // = floor-mapped dst coordinate). The position-weighted checksum
    // makes the BGR channel order and the exact index mapping
    // gate-visible (a plain sum lets transposition errors cancel); the
    // oracle replays the mapping against the generator formulas with the
    // BGR inversion (data channel c holds color component 2-c).
    Entry("qe5_image_resize",
      (s, dir) => {
        val imgDir = pngDirFromDocuments(s, dir)
        val r = graft.sources.Images.resizeNearestSums(col("image"), 4, 3)
        graft.sources.Images.read(s, imgDir).select(
          regexp_extract(col("image.origin"), "doc_(\\d+)\\.png$", 1)
            .cast("long").as("doc_id"),
          r.getField("sum").as("r_sum"), r.getField("chk").as("r_chk"))
      },
      Some(OImageResize)),

    // The PRODUCTION resize kernel through the same gate: resizeNearest
    // (partition-local byte-array kernel, the one a 100-TB pipeline runs)
    // materializes the 4×3 BGR bytes, and the summarization over its
    // OUTPUT — an identity-dims resizeNearestSums, i.e. plain byte sum +
    // position-weighted checksum — must replay the qe5 oracle exactly.
    // qe5 pins the builtin mapping; this pins the kernel's actual bytes.
    Entry("qe7_image_resize_kernel",
      (s, dir) => {
        val imgDir = pngDirFromDocuments(s, dir)
        val resized = graft.sources.Images.resizeNearest(
          graft.sources.Images.read(s, imgDir), 4, 3)
        val r = graft.sources.Images.resizeNearestSums(col("image"), 4, 3)
        resized.select(
          regexp_extract(col("image.origin"), "doc_(\\d+)\\.png$", 1)
            .cast("long").as("doc_id"),
          r.getField("sum").as("r_sum"), r.getField("chk").as("r_chk"))
      },
      Some(OImageResize)),

    // Image FEATURE-EXTRACT through the gate: per-CHANNEL byte sums and
    // maxima over the decoded BGR planes (the statistics a
    // normalize/whiten stage consumes) — channel-separated, which qdf's
    // order-independent total sum cannot see, so this pins the plane
    // decomposition itself. The oracle replays per-channel sums/maxima
    // from the generator formulas with the BGR inversion (data channel c
    // holds color component 2−c).
    Entry("qee_image_channel_stats",
      (s, dir) => {
        val imgDir = pngDirFromDocuments(s, dir)
        graft.sources.Images.channelStats(
          graft.sources.Images.read(s, imgDir))
          .select(regexp_extract(col("origin"), "doc_(\\d+)\\.png$", 1)
              .cast("long").as("doc_id"),
            col("b_sum"), col("g_sum"), col("r_sum"),
            col("b_max"), col("g_max"), col("r_max"))
      },
      Some("""WITH d AS (
          SELECT doc_id, 4 + doc_id % 5 AS w, 3 + doc_id % 4 AS h FROM documents
        ), px AS (
          SELECT doc_id, tc.c,
            (doc_id + 3 * tx.x + 5 * ty.y + 11 * (2 - tc.c)) % 256 AS v
          FROM d
          CROSS JOIN UNNEST(generate_series(0, w - 1)) AS tx(x)
          CROSS JOIN UNNEST(generate_series(0, h - 1)) AS ty(y)
          CROSS JOIN UNNEST(generate_series(0, 2)) AS tc(c)
        )
        SELECT doc_id,
          CAST(sum(CASE WHEN c = 0 THEN v END) AS BIGINT) AS b_sum,
          CAST(sum(CASE WHEN c = 1 THEN v END) AS BIGINT) AS g_sum,
          CAST(sum(CASE WHEN c = 2 THEN v END) AS BIGINT) AS r_sum,
          CAST(max(CASE WHEN c = 0 THEN v END) AS INT) AS b_max,
          CAST(max(CASE WHEN c = 1 THEN v END) AS INT) AS g_max,
          CAST(max(CASE WHEN c = 2 THEN v END) AS INT) AS r_max
        FROM px GROUP BY doc_id""")),

    // Perceptual IMAGE DEDUP through the gate: the LAION-scale curation
    // recipe (exact perceptual-hash match) over the decoded PNG corpus —
    // each image's 64-bit dHash (9×8 nearest-resized channel-mean
    // grayscale, horizontal gradient bits) computed in builtin
    // expressions over the REAL decode, then keep-first per hash value
    // (min doc_id). The oracle replays hash, grouping, and keeper from
    // the generator formulas — resize mapping, gray law, bit packing
    // (bit 63 via the signed-MIN device), and the dedup verdict are all
    // gate-visible. The channel-mean gray is BGR/RGB-order-proof by
    // construction, so this composes with qdf/qe5's layout pins rather
    // than repeating them.
    Entry("qgi_image_dhash_dedup",
      (s, dir) => {
        val imgDir = pngDirFromDocuments(s, dir)
        val hashed = graft.sources.Images.read(s, imgDir).select(
          regexp_extract(col("image.origin"), "doc_(\\d+)\\.png$", 1)
            .cast("long").as("doc_id"),
          graft.sources.Images.dHash64(col("image")).as("dhash"))
        val keepers = hashed.groupBy(col("dhash"))
          .agg(min(col("doc_id")).as("_keeper"))
        hashed.join(keepers, Seq("dhash"))
          .select(col("doc_id"), col("dhash"),
            (col("doc_id") === col("_keeper")).as("is_kept"))
      },
      Some("""WITH d AS (
          SELECT doc_id, 4 + doc_id % 5 AS w, 3 + doc_id % 4 AS h FROM documents
        ), gr AS (
          SELECT doc_id, tx.x AS x, ty.y AS y,
            ((doc_id + 3 * ((tx.x * w) // 9) + 5 * ((ty.y * h) // 8)) % 256
             + (doc_id + 3 * ((tx.x * w) // 9) + 5 * ((ty.y * h) // 8) + 11) % 256
             + (doc_id + 3 * ((tx.x * w) // 9) + 5 * ((ty.y * h) // 8) + 22) % 256)
              // 3 AS gray
          FROM d
          CROSS JOIN UNNEST(generate_series(0, 8)) AS tx(x)
          CROSS JOIN UNNEST(generate_series(0, 7)) AS ty(y)
        ), bits AS (
          SELECT a.doc_id, (a.y * 8 + a.x) AS i
          FROM gr a JOIN gr b ON a.doc_id = b.doc_id AND b.y = a.y
            AND b.x = a.x + 1
          WHERE a.x < 8 AND a.gray > b.gray
        ), hsh AS (
          SELECT d.doc_id, CAST(coalesce(sum(
            CASE WHEN i = 63 THEN -9223372036854775808
                 ELSE (CAST(1 AS BIGINT) << i) END), 0) AS BIGINT) AS dhash
          FROM d LEFT JOIN bits USING (doc_id) GROUP BY d.doc_id
        ), mn AS (
          SELECT dhash, min(doc_id) AS keeper FROM hsh GROUP BY 1
        )
        SELECT h.doc_id, h.dhash, (h.doc_id = m.keeper) AS is_kept
        FROM hsh h JOIN mn m USING (dhash)""")),

    // Perceptual AUDIO dedup through the gate — the Haitsma–Kalker
    // energy-gradient fingerprint (qgi's audio sibling): 16 equal
    // windows over the decoded PCM, E(w) = Σ v², bit w iff
    // E(w+1) > E(w), keep-first per exact fingerprint (15-bit space, so
    // the dedup genuinely fires as the corpus grows). The oracle
    // replays energies, bits, and the keeper from the WAV generator
    // formulas — decode, windowing, gradient packing, and the verdict
    // are all gate-visible.
    Entry("qgj_audio_fingerprint_dedup",
      (s, dir) => {
        val wavDir = wavDirFromDocuments(s, dir)
        val fp = graft.sources.Audio.fingerprint64(
          graft.sources.Audio.readBinary(s, wavDir), nWindows = 16)
          .select(regexp_extract(col("path"), "doc_(\\d+)\\.wav$", 1)
              .cast("long").as("doc_id"),
            col("n_windows"), col("fingerprint"))
        val keepers = fp.groupBy(col("fingerprint"))
          .agg(min(col("doc_id")).as("_k"))
        fp.join(keepers, Seq("fingerprint"))
          .select(col("doc_id"), col("n_windows"), col("fingerprint"),
            (col("doc_id") === col("_k")).as("is_kept"))
      },
      Some("""WITH d AS (
          SELECT doc_id, 50 + doc_id % 20 AS nf FROM documents
        ), s AS (
          SELECT doc_id, t.i, t.i // (nf // 16) AS w,
            ((31 * doc_id + 7 * t.i) % 65536) - 32768 AS v
          FROM d CROSS JOIN UNNEST(generate_series(0, (nf // 16) * 16 - 1)) AS t(i)
        ), e AS (
          SELECT doc_id, w, sum(v * v) AS e FROM s GROUP BY 1, 2
        ), bits AS (
          SELECT lo.doc_id, lo.w AS b
          FROM e lo JOIN e hi ON lo.doc_id = hi.doc_id AND hi.w = lo.w + 1
          WHERE hi.e > lo.e
        ), fp AS (
          SELECT d.doc_id,
            CAST(coalesce(sum(CAST(1 AS BIGINT) << b), 0) AS BIGINT)
              AS fingerprint
          FROM d LEFT JOIN bits USING (doc_id) GROUP BY d.doc_id
        ), mn AS (
          SELECT fingerprint, min(doc_id) AS keeper FROM fp GROUP BY 1
        )
        SELECT f.doc_id, CAST(16 AS BIGINT) AS n_windows, f.fingerprint,
          (f.doc_id = m.keeper) AS is_kept
        FROM fp f JOIN mn m USING (fingerprint)""")),

    // Perceptual IMAGE NEAR-dup through the persistent index — the
    // Hamming form qgi's exact-match recipe deliberately deferred: each
    // PNG in the PLANTED fixture (graft.sources.Planted — nonlinear
    // signature law, near-dups planted as <= 3 bit flips of a base doc,
    // zero chance pairs within distance 3 at sf0.1) is REALLY decoded,
    // dHash64-hashed, and fed through SimHashIndex.ingestSignatures in
    // two deliveries, so within-batch, batch-vs-corpus, and the exact
    // pigeonhole recall at maxDist=3 are all gate-visible. The oracle
    // replays signature law, block layout, and Hamming confirm in plain
    // integer SQL.
    Entry("qh0_image_neardup_index",
      (s, dir) => {
        val imgDir = plantedPngDir(s, dir)
        val tag = Scratch.dirTag(dir) + "ind"
        val ref = graft.operators.SimHashIndex.Ref(tag, buckets = 8)
        graft.operators.SimHashIndex.drop(s, ref) // idempotent re-runs
        // the PRODUCTION kernel (dHash64Kernel ≡ the builtin device,
        // spec-pinned); cached so the two deliveries decode once
        val hashed = graft.sources.Images.dHash64Kernel(
            graft.sources.Images.read(s, imgDir))
          .select(regexp_extract(col("origin"), "doc_(\\d+)\\.png$", 1)
              .cast("long").as("doc_id"),
            col("dhash")).cache()
        def ingest(pred: org.apache.spark.sql.Column) =
          graft.operators.SimHashIndex.ingestSignatures(hashed.filter(pred),
            "doc_id", "dhash", maxDist = 3, ref,
            delivery = java.util.UUID.randomUUID().toString)
        ingest(col("doc_id") % 2 === 0).localCheckpoint()
          .unionByName(ingest(col("doc_id") % 2 =!= 0))
      },
      Some(plantedNearDupOracle(nbits = 64))),

    // Perceptual AUDIO NEAR-dup through the persistent index — qh0's
    // audio sibling over the planted WAV fixture: real AudioSystem
    // decode, the 64-window Haitsma-Kalker energy-gradient fingerprint
    // (63 bits — wide enough that every 16-bit pigeonhole block
    // discriminates; the 15-bit qgj form would leave blocks 1..3
    // constant and every pair a candidate), same two-delivery index
    // path and maxDist=3 Hamming verdicts.
    Entry("qh1_audio_neardup_index",
      (s, dir) => {
        val wavDir = plantedWavDir(s, dir)
        val tag = Scratch.dirTag(dir) + "and"
        val ref = graft.operators.SimHashIndex.Ref(tag, buckets = 8)
        graft.operators.SimHashIndex.drop(s, ref) // idempotent re-runs
        val fp = graft.sources.Audio.fingerprint64(
          graft.sources.Audio.readBinary(s, wavDir), nWindows = 64)
          .select(regexp_extract(col("path"), "doc_(\\d+)\\.wav$", 1)
              .cast("long").as("doc_id"),
            col("fingerprint")).cache() // decode once across the actions
        def ingest(pred: org.apache.spark.sql.Column) =
          graft.operators.SimHashIndex.ingestSignatures(fp.filter(pred),
            "doc_id", "fingerprint", maxDist = 3, ref,
            delivery = java.util.UUID.randomUUID().toString)
        ingest(col("doc_id") % 2 === 0).localCheckpoint()
          .unionByName(ingest(col("doc_id") % 2 =!= 0))
      },
      Some(plantedNearDupOracle(nbits = 63))),

    // Perceptual VIDEO NEAR-dup through the persistent index — qh0/qh1's
    // video sibling, closing the modality symmetry (selection qh7 landed
    // first): the real ISO 14496-12 stbl walk extracts per-sample byte
    // sizes, the size-GRADIENT fingerprint (the container-level
    // Haitsma-Kalker device — no codec needed) feeds
    // SimHashIndex.ingestSignatures in two deliveries, maxDist=3 Hamming
    // verdicts, 63-bit planted law.
    Entry("qh8_video_neardup_index",
      (s, dir) => {
        val mp4Dir = plantedMp4Dir(s, dir)
        val tag = Scratch.dirTag(dir) + "vnd"
        val ref = graft.operators.SimHashIndex.Ref(tag, buckets = 8)
        graft.operators.SimHashIndex.drop(s, ref) // idempotent re-runs
        val fp = graft.sources.Video.sizeFingerprint64(
          graft.sources.Video.readBinary(s, mp4Dir), nSamples = 64)
          .select(regexp_extract(col("path"), "doc_(\\d+)\\.mp4$", 1)
              .cast("long").as("doc_id"),
            col("fingerprint")).cache() // decode once across the actions
        def ingest(pred: org.apache.spark.sql.Column) =
          graft.operators.SimHashIndex.ingestSignatures(fp.filter(pred),
            "doc_id", "fingerprint", maxDist = 3, ref,
            delivery = java.util.UUID.randomUUID().toString)
        ingest(col("doc_id") % 2 === 0).localCheckpoint()
          .unionByName(ingest(col("doc_id") % 2 =!= 0))
      },
      Some(plantedNearDupOracle(nbits = 63))),

    // MEDIA decontamination — the read-only face of the perceptual
    // index (the published eval-contamination audit: probe benchmark
    // images against the training corpus's perceptual index WITHOUT
    // folding them in, so repeated audits never pollute the index):
    // train = even planted PNGs ingested, eval = odd PNGs through
    // SimHashIndex.matchesAgainstSignatures; a cross pair at Hamming
    // <= 3 marks the eval image contaminated. Verdict per eval doc;
    // within-eval pairs are diagnostics the audit ignores (filtered to
    // the train side). The oracle replays law + blocks + Hamming with
    // the even/odd split.
    Entry("qhf_media_decontam",
      (s, dir) => {
        val imgDir = plantedPngDir(s, dir)
        val tag = Scratch.dirTag(dir) + "dcn"
        val ref = graft.operators.SimHashIndex.Ref(tag, buckets = 8)
        graft.operators.SimHashIndex.drop(s, ref) // idempotent re-runs
        val hashed = graft.sources.Images.dHash64Kernel(
            graft.sources.Images.read(s, imgDir))
          .select(regexp_extract(col("origin"), "doc_(\\d+)\\.png$", 1)
              .cast("long").as("doc_id"),
            col("dhash")).cache()
        graft.operators.SimHashIndex.ingestSignatures(
          hashed.filter(col("doc_id") % 2 === 0), "doc_id", "dhash",
          maxDist = 3, ref, delivery = "train").count()
        val evalSide = hashed.filter(col("doc_id") % 2 =!= 0)
        val hits = graft.operators.SimHashIndex.matchesAgainstSignatures(
            evalSide, "doc_id", "dhash", maxDist = 3, ref)
          .filter(col("old_id") % 2 === 0) // train-side matches only
          .groupBy(col("new_id").as("doc_id"))
          .agg(count(lit(1)).as("n_train_matches"),
            min(col("hamming")).as("min_hamming"))
        evalSide.select(col("doc_id")).join(hits, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("n_train_matches"), lit(0L)).as("n_train_matches"),
            col("min_hamming"),
            (coalesce(col("n_train_matches"), lit(0L)) > 0).as("contaminated"))
      },
      Some(s"""${plantedPairCtes(nbits = 64)},
        cpairs AS (
          SELECT c.old_id, c.new_id,
            CAST(bit_count(xor(h1.h, h2.h)) AS BIGINT) AS hamming
          FROM cand c JOIN hsh h1 ON h1.doc_id = c.old_id
            JOIN hsh h2 ON h2.doc_id = c.new_id
          WHERE bit_count(xor(h1.h, h2.h)) <= 3
        ), per AS (
          -- cand has old_id < new_id; orient to (train even, eval odd)
          SELECT CASE WHEN old_id % 2 = 1 THEN old_id ELSE new_id END AS e,
            hamming
          FROM cpairs
          WHERE (old_id % 2 = 0) <> (new_id % 2 = 0)
        ), agg AS (
          SELECT e AS doc_id, count(*) AS n_train_matches,
            min(hamming) AS min_hamming
          FROM per GROUP BY 1
        )
        SELECT d.doc_id,
          CAST(coalesce(a.n_train_matches, 0) AS BIGINT) AS n_train_matches,
          a.min_hamming,
          coalesce(a.n_train_matches, 0) > 0 AS contaminated
        FROM documents d LEFT JOIN agg a USING (doc_id)
        WHERE d.doc_id % 2 = 1""")),

    // CROSS-MODAL pair curation, alignment half (the LAION/DataComp
    // CLIP-filter): candidate (image, caption) pairs scored by embedding
    // cosine, keep/drop verdict at threshold 0.8. The fixture composes
    // candidates from the embeddings table under a PLANTED alignment law
    // (3 caption slots per image; aligned slots mix 0.92 image + 0.08
    // partner, misaligned 0.15/0.85 — measured margins: aligned cosine
    // >= 0.996, misaligned <= 0.548 at both SFs, so the 0.8 cut is
    // decisive at double precision). Caption vectors are float-rounded
    // element-wise on BOTH sides, so the oracle replays the mix, the
    // cast, and the cosine exactly; the scoring itself is the native
    // codegen CosineSimilarityExpr.
    Entry("qha_crossmodal_align",
      (s, dir) => graft.operators.CrossModal.alignPairs(
          crossModalCandidates(s, dir), "img_vec", "cap_vec", threshold = 0.8)
        .select(col("pair_id"), col("img_id"), col("cos_sim"), col("is_aligned")),
      Some(s"""$crossModalScoredCtes
        SELECT pair_id, img_id, cos_sim, cos_sim >= 0.8 AS is_aligned
        FROM scored""")),

    // Cross-modal curation, dedup half: among ALIGNED candidates, keep
    // the best-aligned caption per image (LAION keeps one text per
    // image) — CrossModal.keepBestAlignedPerImage rides
    // Dedup.keepBestRepresentatives with rank-chained same-image edges;
    // cluster id = min candidate id per image, keeper = highest rounded
    // cosine with id tie-break. The planted law gives every image 1 or 2
    // aligned captions, so the best-of selection genuinely fires.
    Entry("qhb_caption_dedup",
      (s, dir) => {
        val aligned = graft.operators.CrossModal.alignPairs(
            crossModalCandidates(s, dir), "img_vec", "cap_vec", threshold = 0.8)
          .filter(col("is_aligned"))
        graft.operators.CrossModal.keepBestAlignedPerImage(
            aligned, "pair_id", "img_id", col("cos_sim"))
          .select(col("pair_id"), col("cluster_id"),
            col("score").as("cos_sim"), col("is_kept"))
      },
      Some(s"""$crossModalScoredCtes,
        al AS (SELECT pair_id, img_id, cos_sim FROM scored WHERE cos_sim >= 0.8),
        cl AS (SELECT img_id, min(pair_id) AS cluster_id FROM al GROUP BY 1),
        rk AS (
          SELECT a.pair_id, c.cluster_id, a.cos_sim,
            row_number() OVER (PARTITION BY a.img_id
              ORDER BY a.cos_sim DESC, a.pair_id) AS r
          FROM al a JOIN cl c USING (img_id))
        SELECT pair_id, cluster_id, cos_sim, r = 1 AS is_kept FROM rk""")),

    // Perceptual image near-dup SELECTION — the product half qh0's pair
    // diagnostics feed (the LAION recipe keeps ONE copy per near-dup
    // cluster): real decode → dHash64 → one-shot banded Hamming pairs
    // (Dedup.hammingPairs, the batch sibling of the index probe) →
    // keepRepresentatives (min-id connected component). The oracle
    // replays pairs from the planted law; on this fixture components
    // are singletons and (base, base+3) pairs — measured: chance pairs
    // within distance 3 are zero and each doc pairs at most once — so
    // min-neighbor labeling IS the component.
    Entry("qh3_image_neardup_select",
      (s, dir) => {
        val imgDir = plantedPngDir(s, dir)
        val hashed = graft.sources.Images.dHash64Kernel(
            graft.sources.Images.read(s, imgDir))
          .select(regexp_extract(col("origin"), "doc_(\\d+)\\.png$", 1)
              .cast("long").as("doc_id"),
            col("dhash")).cache()
        val pairs = graft.operators.Dedup.hammingPairs(
          hashed, "doc_id", "dhash", maxDist = 3)
        graft.operators.Dedup.keepRepresentatives(hashed, "doc_id", pairs)
      },
      Some(s"""${plantedPairCtes(nbits = 64)},
        pr AS (
          SELECT c.old_id AS id1, c.new_id AS id2
          FROM cand c JOIN hsh h1 ON h1.doc_id = c.old_id
            JOIN hsh h2 ON h2.doc_id = c.new_id
          WHERE bit_count(xor(h1.h, h2.h)) <= 3
        )
        SELECT d.doc_id,
          CAST(coalesce(min(p.id1), d.doc_id) AS BIGINT) AS rep_id,
          (coalesce(min(p.id1), d.doc_id) = d.doc_id) AS is_kept
        FROM documents d LEFT JOIN pr p ON p.id2 = d.doc_id
        GROUP BY d.doc_id""")),

    // VIDEO near-dup selection — the third modality (image qh3 / audio
    // qh5 / video here): the real ISO 14496-12 stbl walk extracts the
    // per-sample byte sizes, the size-GRADIENT sequence fingerprints the
    // encoded stream without any codec (frame sizes track content
    // complexity — the container-level Haitsma-Kalker device; pixel
    // decode stays out of scope per the environment contract), then the
    // same banded Hamming pairs + min-id keep-first. Planted 63-bit law
    // over a 64-sample fixture.
    Entry("qh7_video_neardup_select",
      (s, dir) => {
        val mp4Dir = plantedMp4Dir(s, dir)
        val fp = graft.sources.Video.sizeFingerprint64(
          graft.sources.Video.readBinary(s, mp4Dir), nSamples = 64)
          .select(regexp_extract(col("path"), "doc_(\\d+)\\.mp4$", 1)
              .cast("long").as("doc_id"),
            col("fingerprint")).cache() // decode once across the actions
        val pairs = graft.operators.Dedup.hammingPairs(
          fp, "doc_id", "fingerprint", maxDist = 3)
        graft.operators.Dedup.keepRepresentatives(fp, "doc_id", pairs)
      },
      Some(OMediaNearDupSelect)),

    // Audio sibling of qh3: decode → 64-window energy-gradient
    // fingerprint → banded Hamming pairs → min-id keep-first. Same
    // planted structure argument (63-bit law).
    Entry("qh5_audio_neardup_select",
      (s, dir) => {
        val wavDir = plantedWavDir(s, dir)
        val fp = graft.sources.Audio.fingerprint64(
          graft.sources.Audio.readBinary(s, wavDir), nWindows = 64)
          .select(regexp_extract(col("path"), "doc_(\\d+)\\.wav$", 1)
              .cast("long").as("doc_id"),
            col("fingerprint")).cache() // decode once across the actions
        val pairs = graft.operators.Dedup.hammingPairs(
          fp, "doc_id", "fingerprint", maxDist = 3)
        graft.operators.Dedup.keepRepresentatives(fp, "doc_id", pairs)
      },
      Some(OMediaNearDupSelect)),

    // REAL audio decode through the gate — the WAV sibling of qdf: a
    // deterministic mono 16-bit PCM WAV per document, scanned with Spark's
    // built-in binaryFile source, parsed partition-local with the ACTUAL
    // JDK javax.sound.sampled decoder (header + every sample), and the
    // oracle replays rate/frames/signed-sample-sum from the formulas —
    // WAV encode → container → AudioSystem decode verified bit-level.
    Entry("qdg_audio_decode",
      (s, dir) => {
        val wavDir = wavDirFromDocuments(s, dir)
        graft.sources.Audio.decodeMeta(
          graft.sources.Audio.readBinary(s, wavDir))
          .select(regexp_extract(col("path"), "doc_(\\d+)\\.wav$", 1)
              .cast("long").as("doc_id"),
            col("sample_rate"), col("n_channels"), col("n_frames"),
            col("sample_sum"))
      },
      Some("""WITH d AS (
          SELECT doc_id, 8000 + (doc_id % 3) * 4000 AS rate,
            50 + doc_id % 20 AS nf
          FROM documents
        ), s AS (
          SELECT doc_id, rate, nf,
            ((31 * doc_id + 7 * t.i) % 65536) - 32768 AS v
          FROM d CROSS JOIN UNNEST(generate_series(0, nf - 1)) AS t(i)
        )
        SELECT doc_id, CAST(max(rate) AS INT) AS sample_rate,
          CAST(1 AS INT) AS n_channels, CAST(max(nf) AS BIGINT) AS n_frames,
          CAST(sum(v) AS BIGINT) AS sample_sum
        FROM s GROUP BY doc_id""")),

    // Audio RESAMPLE through the gate (the preprocessing step after qdg's
    // decode, the audio sibling of qe5/qe7's image resize): every
    // document's WAV nearest-neighbor-resampled to 16 kHz inside the
    // partition-local kernel (fixture rates are 8/12/16 kHz → 2×, 4/3×,
    // and identity conversions all exercised). n_out = ⌊n·16000/rate⌋,
    // output sample j reads input ⌊j·rate/16000⌋; the position-weighted
    // checksum makes the index mapping gate-visible. The oracle replays
    // the mapping directly from the generator formulas.
    Entry("qea_audio_resample",
      (s, dir) => {
        val wavDir = wavDirFromDocuments(s, dir)
        graft.sources.Audio.resampleNearestSums(
          graft.sources.Audio.readBinary(s, wavDir), dstRate = 16000)
          .select(regexp_extract(col("path"), "doc_(\\d+)\\.wav$", 1)
              .cast("long").as("doc_id"),
            col("src_rate"), col("n_out"), col("r_sum"), col("r_chk"))
      },
      Some("""WITH d AS (
          SELECT doc_id, 8000 + (doc_id % 3) * 4000 AS rate,
            50 + doc_id % 20 AS nf
          FROM documents
        ), o AS (
          SELECT doc_id, rate, (nf * 16000) // rate AS n_out FROM d
        ), s AS (
          SELECT doc_id, rate, n_out, t.j,
            ((31 * doc_id + 7 * ((t.j * rate) // 16000)) % 65536) - 32768 AS v
          FROM o CROSS JOIN UNNEST(generate_series(0, n_out - 1)) AS t(j)
        )
        SELECT doc_id, CAST(max(rate) AS INT) AS src_rate,
          CAST(max(n_out) AS BIGINT) AS n_out,
          CAST(sum(v) AS BIGINT) AS r_sum,
          CAST(sum(v * (j + 1)) AS BIGINT) AS r_chk
        FROM s GROUP BY doc_id""")),

    // Audio FEATURE-EXTRACT through the gate (the stage after qea's
    // resample in a multimodal pipeline): 16-sample non-overlapping
    // windows over every WAV's PCM, per-window short-time energy Σv² and
    // zero-crossing count ((v[i−1]<0) ≠ (v[i]<0), in-window positions
    // only), summarized per clip as the shapes a VAD/silence/quality
    // filter consumes. Integer-exact; the oracle replays windows,
    // energies, and the lag-based crossing test from the generator
    // formulas (the boundary guard i%16>0 keeps crossings in-window).
    Entry("qed_audio_frame_features",
      (s, dir) => {
        val wavDir = wavDirFromDocuments(s, dir)
        graft.sources.Audio.frameFeatures(
          graft.sources.Audio.readBinary(s, wavDir), window = 16)
          .select(regexp_extract(col("path"), "doc_(\\d+)\\.wav$", 1)
              .cast("long").as("doc_id"),
            col("n_windows"), col("zc_total"), col("energy_sum"),
            col("energy_max"))
      },
      Some("""WITH d AS (
          SELECT doc_id, 50 + doc_id % 20 AS nf FROM documents
        ), s AS (
          SELECT doc_id, t.i, t.i // 16 AS w,
            ((31 * doc_id + 7 * t.i) % 65536) - 32768 AS v
          FROM d CROSS JOIN UNNEST(generate_series(0, (nf // 16) * 16 - 1)) AS t(i)
        ), sz AS (
          SELECT doc_id, w, v,
            CASE WHEN i % 16 > 0 AND
              (lag(v) OVER (PARTITION BY doc_id ORDER BY i) < 0) <> (v < 0)
            THEN 1 ELSE 0 END AS zc
          FROM s
        ), pw AS (
          SELECT doc_id, w, sum(v * v) AS e, sum(zc) AS z
          FROM sz GROUP BY doc_id, w
        )
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_windows,
          CAST(sum(z) AS BIGINT) AS zc_total,
          CAST(sum(e) AS BIGINT) AS energy_sum,
          CAST(max(e) AS BIGINT) AS energy_max
        FROM pw GROUP BY doc_id""")),

    // REAL video-container metadata through the gate — the third modality:
    // a minimal-but-valid ISO BMFF (MP4) box tree per document (ftyp +
    // moov(mvhd, trak(tkhd)), written byte-level big-endian), scanned via
    // binaryFile and parsed with a real atom-walker (u32 size + fourcc,
    // container descent, version-aware offsets — the walk every MP4 probe
    // performs; no codec, which the metadata stage doesn't need). Oracle
    // replays all fields incl. the integer duration_ms division.
    Entry("qdh_video_meta",
      (s, dir) => {
        val mp4Dir = mp4DirFromDocuments(s, dir)
        graft.sources.Video.decodeMeta(
          graft.sources.Video.readBinary(s, mp4Dir))
          .select(regexp_extract(col("path"), "doc_(\\d+)\\.mp4$", 1)
              .cast("long").as("doc_id"),
            col("timescale"), col("duration_ticks"), col("duration_ms"),
            col("width"), col("height"))
      },
      Some("""SELECT doc_id,
          CAST(600 + (doc_id % 5) * 300 AS INT) AS timescale,
          CAST(1200 + doc_id % 800 AS INT) AS duration_ticks,
          CAST((1200 + doc_id % 800) * 1000 // (600 + (doc_id % 5) * 300)
            AS BIGINT) AS duration_ms,
          CAST(160 + (doc_id % 8) * 40 AS INT) AS width,
          CAST(120 + (doc_id % 6) * 40 AS INT) AS height
        FROM documents""")),

    // MP4 sample tables (stbl — ISO 14496-12 §8.5–§8.7), the structures a
    // demuxer walks to SEEK: stts run-length time-to-sample decode (two
    // runs per fixture, so the run-length path is really exercised), stsz
    // per-sample sizes, stss sync samples, stco chunk offsets. The oracle
    // replays the whole decode — run expansion, per-sample size formula,
    // ceil-division keyframe count — from the id-derived fixture formulas.
    Entry("qdj_video_sample_table",
      (s, dir) => {
        val mp4Dir = mp4DirFromDocuments(s, dir)
        graft.sources.Video.decodeSamples(
          graft.sources.Video.readBinary(s, mp4Dir))
          .select(regexp_extract(col("path"), "doc_(\\d+)\\.mp4$", 1)
              .cast("long").as("doc_id"),
            col("n_samples"), col("duration_ticks"), col("total_bytes"),
            col("max_sample_size"), col("n_keyframes"), col("chunk_offset"))
      },
      Some("""WITH d AS (
          SELECT doc_id, 8 + doc_id % 17 AS n, 100 + doc_id % 50 AS d1,
            200 + doc_id % 30 AS d2, 2 + doc_id % 3 AS k
          FROM documents
        ), sz AS (
          SELECT doc_id, 500 + (doc_id * 31 + t.i * 7) % 997 AS v
          FROM d CROSS JOIN UNNEST(generate_series(1, n)) AS t(i)
        ), agg AS (
          SELECT doc_id, CAST(sum(v) AS BIGINT) AS total_bytes,
            CAST(max(v) AS INT) AS max_sample_size
          FROM sz GROUP BY doc_id
        )
        SELECT d.doc_id, CAST(n AS INT) AS n_samples,
          CAST(((n + 1) // 2) * d1 + (n - (n + 1) // 2) * d2 AS BIGINT)
            AS duration_ticks,
          agg.total_bytes, agg.max_sample_size,
          CAST((n + k - 1) // k AS INT) AS n_keyframes,
          CAST(4096 + doc_id % 512 AS BIGINT) AS chunk_offset
        FROM d JOIN agg USING (doc_id)""")),
  )

  /** documents → deterministic MP4 directory (same discipline as
    * [[pngDirFromDocuments]]). The fixture layout version rides the name:
    * a writeMp4 change (e.g. the v2 stbl sample tables) must invalidate
    * fixtures cached by older builds. */
  private def mp4DirFromDocuments(s: SparkSession, dir: String): String =
    Scratch.derived(dir, "documents",
        s"mp4v${graft.sources.Video.FixtureVersion}_docs") { staging =>
      graft.sources.Video.mp4sFromDocIds(
        t(s, dir, "documents"), "doc_id", staging.getPath)
    }

  /** Materialize-once planted fixture dirs (same staging/atomic-move
    * discipline as [[pngDirFromDocuments]]). */
  private def plantedDir(s: SparkSession, dir: String, kind: String)
                        (gen: (org.apache.spark.sql.DataFrame, String) => Unit): String =
    Scratch.derived(dir, "documents", s"${kind}_planted")(staging =>
      gen(t(s, dir, "documents"), staging.getPath))

  /** Candidate (image, caption) pairs for the cross-modal gates
    * (qha/qhb), composed from the embeddings fixture under a planted
    * alignment law: image i gets caption slots m in 0..2 with unique
    * pair_id = i*3 + m; slot partner k = (i + 1 + (i*31 + m*17) mod
    * (N-1)) mod N (never i itself); slots with pair_id mod 4 < 2 are
    * ALIGNED (caption = 0.92*v_i + 0.08*v_k, float-rounded per element),
    * the rest misaligned (0.15/0.85). Each image ends with 1 or 2
    * aligned captions. Explicit paired constants (0.92/0.08, 0.15/0.85)
    * rather than 1-a: both engines must evaluate bit-identical doubles,
    * and 1.0 - 0.92 is NOT the double 0.08. The zip_with mix is fixture
    * synthesis, not the scored operator path. */
  private[queries] def crossModalCandidates(s: SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    val e = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    val n = e.count()
    val cand = e.select(col("vec_id").as("img_id"), col("embedding").as("img_vec"))
      .withColumn("m", explode(array(lit(0L), lit(1L), lit(2L))))
      .withColumn("pair_id", col("img_id") * 3 + col("m"))
      .withColumn("_k",
        (col("img_id") + 1 + (col("img_id") * 31 + col("m") * 17) % lit(n - 1)) % lit(n))
      .withColumn("_a", when(col("pair_id") % 4 < 2, lit(0.92)).otherwise(lit(0.15)))
      .withColumn("_b", when(col("pair_id") % 4 < 2, lit(0.08)).otherwise(lit(0.85)))
    cand.join(e.select(col("vec_id").as("_k"), col("embedding").as("_pv")), Seq("_k"))
      .withColumn("cap_vec", zip_with(col("img_vec"), col("_pv"),
        (x, y) => (col("_a") * x + col("_b") * y).cast("float")))
      .select(col("pair_id"), col("img_id"), col("img_vec"), col("cap_vec"))
  }

  /** [[crossModalCandidates]] materialized once as a parquet directory
    * (embeddings-mtime-keyed, atomic publish) — the streaming gate's
    * source: candidate pairs ARRIVE as data in deployment, so the
    * streaming face reads them from storage instead of re-deriving the
    * planted law per micro-batch. */
  /** Bump with ANY change to [[crossModalCandidates]]'s planted law
    * (slot/partner formula, mix constants) — the version rides the cache
    * directory key below, so a law tweak can never silently replay a
    * stale materialized fixture against a new oracle (the trap
    * Video.FixtureVersion closes for the MP4 fixture). */
  private[queries] val XModalFixtureVersion = 1
  private[queries] def crossModalPairsDir(s: SparkSession, dir: String): String =
    Scratch.derived(dir, "embeddings", s"xmodal_pairs_v$XModalFixtureVersion",
        preCreate = false)(staging =>
      crossModalCandidates(s, dir).write.parquet(staging.getPath))

  /** DuckDB replay of [[crossModalCandidates]] + the rounded cosine —
    * shared CTE prefix of the qha/qhb oracles. Literal casts mirror the
    * Spark arithmetic exactly: double mix of exactly-widened floats,
    * float-rounded per element, cosine over doubles, round 6. */
  private[queries] def crossModalScoredCtes: String =
    """WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
      ), nn AS (SELECT count(*) AS n FROM e),
      cand AS (
        SELECT i.vec_id AS img_id, m.m, i.vec_id * 3 + m.m AS pair_id,
          (i.vec_id + 1 + (i.vec_id * 31 + m.m * 17) % (nn.n - 1)) % nn.n AS k,
          (i.vec_id * 3 + m.m) % 4 < 2 AS al
        FROM e i CROSS JOIN (SELECT UNNEST([0, 1, 2]) AS m) m CROSS JOIN nn
      ), mixed AS (
        SELECT c.pair_id, c.img_id, i.v AS iv,
          list_transform(range(1, len(i.v) + 1), x ->
            CAST(CASE WHEN c.al
              THEN 0.92::DOUBLE * i.v[x] + 0.08::DOUBLE * p.v[x]
              ELSE 0.15::DOUBLE * i.v[x] + 0.85::DOUBLE * p.v[x] END
            AS REAL)) AS cap
        FROM cand c JOIN e i ON i.vec_id = c.img_id JOIN e p ON p.vec_id = c.k
      ), scored AS (
        SELECT pair_id, img_id,
          round(list_cosine_similarity(iv, CAST(cap AS DOUBLE[])), 6) AS cos_sim
        FROM mixed
      )"""

  private[queries] def plantedPngDir(s: SparkSession, dir: String): String =
    plantedDir(s, dir, "png")(
      graft.sources.Images.pngsPlantedNearDup(_, "doc_id", _))

  private[queries] def plantedMp4Dir(s: SparkSession, dir: String): String =
    plantedDir(s, dir, "mp4")(
      graft.sources.Video.mp4sPlantedNearDup(_, "doc_id", _))

  private[queries] def plantedWavDir(s: SparkSession, dir: String): String =
    plantedDir(s, dir, "wav")(
      graft.sources.Audio.wavsPlantedNearDup(_, "doc_id", _))

  /** DuckDB replay of the planted near-dup verdicts (qh0/qh1): the
    * Planted signature law (three quadratic rounds mod 2^31−1, flips at
    * (d·11 + m·17) mod nbits), SimHashIndex's 16-bit pigeonhole block
    * layout (bit 63 via the signed-MIN device when nbits = 64), and the
    * exact Hamming confirm at maxDist = 3 — all in plain integer SQL. */
  /** Shared CTE prefix: signature law → per-doc hash → pigeonhole blocks
    * → distinct banded candidates with old_id < new_id. */
  private def plantedPairCtes(nbits: Int): String = {
    val hi = nbits - 1
    val signBit63 =
      if (nbits == 64)
        "CASE WHEN i = 63 THEN -9223372036854775808 ELSE (CAST(1 AS BIGINT) << i) END"
      else "(CAST(1 AS BIGINT) << i)"
    s"""WITH par AS (
        SELECT doc_id,
          CASE WHEN doc_id % 7 = 3 THEN doc_id - 3 ELSE doc_id END AS src,
          CASE WHEN doc_id % 7 = 3 THEN doc_id % 4 ELSE 0 END AS k
        FROM documents
      ), b0 AS (
        SELECT doc_id, k, t.i, (src * 64 + t.i + 1) % 2147483647 AS x0
        FROM par CROSS JOIN UNNEST(generate_series(0, $hi)) AS t(i)
      ), b1 AS (SELECT doc_id, k, i, (x0*x0 + 12345) % 2147483647 AS x1 FROM b0
      ), b2 AS (SELECT doc_id, k, i, (x1*x1 + 12345) % 2147483647 AS x2 FROM b1
      ), b3 AS (SELECT doc_id, k, i,
          ((x2*x2 + 12345) % 2147483647) % 2 AS bb FROM b2
      ), bits AS MATERIALIZED (
        SELECT doc_id, i,
          CASE WHEN (k > 0 AND i = (doc_id*11) % $nbits)
                 OR (k > 1 AND i = (doc_id*11 + 17) % $nbits)
                 OR (k > 2 AND i = (doc_id*11 + 34) % $nbits)
            THEN 1 - bb ELSE bb END AS bit
        FROM b3
      ), hsh AS (
        SELECT doc_id, CAST(coalesce(
            sum($signBit63) FILTER (bit = 1), 0) AS BIGINT) AS h
        FROM bits GROUP BY doc_id
      ), blk AS (
        SELECT doc_id, i // 16 AS blk, CAST(coalesce(
            sum(CAST(1 AS BIGINT) << (i % 16)) FILTER (bit = 1), 0)
          AS BIGINT) AS blkval
        FROM bits GROUP BY 1, 2
      ), cand AS (
        SELECT DISTINCT a.doc_id AS old_id, b.doc_id AS new_id
        FROM blk a JOIN blk b ON a.blk = b.blk AND a.blkval = b.blkval
          AND a.doc_id < b.doc_id
      )"""
  }

  /** Single-delivery replay (whole corpus in one micro-batch): pairs
    * keep the plain old_id < new_id orientation. */
  private[queries] def plantedSingleDeliveryOracle(nbits: Int): String =
    s"""${plantedPairCtes(nbits)}
      SELECT c.old_id, c.new_id,
        CAST(bit_count(xor(h1.h, h2.h)) AS BIGINT) AS hamming
      FROM cand c JOIN hsh h1 ON h1.doc_id = c.old_id
        JOIN hsh h2 ON h2.doc_id = c.new_id
      WHERE bit_count(xor(h1.h, h2.h)) <= 3"""

  private def plantedNearDupOracle(nbits: Int): String =
    s"""${plantedPairCtes(nbits)}
      -- cand has old_id < new_id; the gate ingests even doc_ids as
      -- delivery 1, odd as delivery 2, and the index contract sets
      -- old_id = the ALREADY-INDEXED side for cross-delivery pairs
      -- (lower id only within one delivery) — flip exactly when the
      -- lower id is odd and the higher even
      SELECT
        CASE WHEN c.old_id % 2 = 1 AND c.new_id % 2 = 0
          THEN c.new_id ELSE c.old_id END AS old_id,
        CASE WHEN c.old_id % 2 = 1 AND c.new_id % 2 = 0
          THEN c.old_id ELSE c.new_id END AS new_id,
        CAST(bit_count(xor(h1.h, h2.h)) AS BIGINT) AS hamming
      FROM cand c JOIN hsh h1 ON h1.doc_id = c.old_id
        JOIN hsh h2 ON h2.doc_id = c.new_id
      WHERE bit_count(xor(h1.h, h2.h)) <= 3"""

  /** documents → deterministic WAV directory (same discipline as
    * [[pngDirFromDocuments]]). */
  private def wavDirFromDocuments(s: SparkSession, dir: String): String =
    Scratch.derived(dir, "documents", "wav_docs") { staging =>
      graft.sources.Audio.wavsFromDocIds(
        t(s, dir, "documents"), "doc_id", staging.getPath)
    }

  /** documents → deterministic PNG directory (cached per source mtime,
    * the kafkaTopicFromEvents discipline): one doc_<id>.png per document,
    * generated partition-local via ImageIO, atomic-move publish. */
  private def pngDirFromDocuments(s: SparkSession, dir: String): String =
    Scratch.derived(dir, "documents", "png_docs") { staging =>
      graft.sources.Images.pngsFromDocIds(
        t(s, dir, "documents"), "doc_id", staging.getPath)
    }
}
