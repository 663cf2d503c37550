package graft.queries

import graft.Tables
import graft.operators.ML
import graft.queries.QueryUtil.Q
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Native model-fitting gate queries (SURVEY.md §2.12 FlinkML analogue:
  * recommendation/ALS.scala, classification/SVM.scala,
  * optimization/GradientDescent.scala). Both use exact scaled-integer
  * arithmetic (the qa2 PageRank device) so DuckDB replays every iteration
  * bit-for-bit — no float summation-order dependence.
  */
object MLQueries {

  private def t(s: SparkSession, dir: String, n: String) = Tables(s, dir, n)

  /** (user, item, rating) = (o_custkey, l_partkey, Σ l_quantity). */
  private def ratings(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders"); val l = t(s, dir, "lineitem")
    o.join(l, col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_custkey").as("u"), col("l_partkey").as("i"))
      .agg(sum(col("l_quantity").cast("long")).as("r"))
  }

  private val ORatings =
    """SELECT o_custkey AS u, l_partkey AS i,
         CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS v
       FROM orders JOIN lineitem ON o_orderkey = l_orderkey GROUP BY 1, 2"""

  /** One rank-1 ALS half-step in DuckDB: factors for `gk` from factors
    * `from` (sum casts pin DuckDB's HUGEINT sums back to the BIGINT
    * domain Spark computes in; bounds reasoned in ML.alsRank1Scaled). */
  private def oHalf(name: String, from: String, jk: String, gk: String): String =
    s"""$name AS (
       SELECT r.$gk AS id,
         (100000000 * CAST(sum(r.v * f.f) AS BIGINT))
           // CAST(sum(f.f * f.f) AS BIGINT) AS f
       FROM r JOIN $from f ON r.$jk = f.id GROUP BY r.$gk)"""

  def entries: Seq[Entry] = Seq(

    // Alternating least squares, rank-1, 2 sweeps, factors in 1e4
    // micro-units. The oracle unrolls the 4 half-steps as plain grouped
    // aggregates — every step is exact BIGINT math, so the alternation
    // replays bit-for-bit.
    Entry("qbu_als_rank1",
      (s, dir) => ML.alsRank1Scaled(ratings(s, dir), "u", "i", "r", sweeps = 2),
      Some(s"""WITH r AS ($ORatings),
        i0 AS (SELECT DISTINCT i AS id, CAST(10000 AS BIGINT) AS f FROM r),
        ${oHalf("u1", "i0", "i", "u")},
        ${oHalf("i1", "u1", "u", "i")},
        ${oHalf("u2", "i1", "i", "u")},
        ${oHalf("i2", "u2", "u", "i")}
        SELECT 'user' AS side, id, f FROM u2
        UNION ALL SELECT 'item' AS side, id, f FROM i2""")),

    // Rank-2 ALS, 2 sweeps: exact BIGINT Gram/rhs sums per half-step,
    // closed-form 2x2 ridge solve in one fixed double-arithmetic sequence
    // from those integers (the qbd/linearFit device), floored back to
    // scaled longs. The oracle repeats the identical formula tree, so the
    // doubles agree bitwise and the floor pins them back to integers.
    Entry("qbx_als_rank2",
      (s, dir) => ML.alsRank2Scaled(ratings(s, dir), "u", "i", "r", sweeps = 2),
      Some {
        def half(name: String, from: String, jk: String, gk: String) =
          s"""$name AS (
             SELECT id,
               CAST(floor(10000.0 * ((c0 * a11 - c1 * a01) / (a00 * a11 - a01 * a01))) AS BIGINT) AS f0,
               CAST(floor(10000.0 * ((c1 * a00 - c0 * a01) / (a00 * a11 - a01 * a01))) AS BIGINT) AS f1
             FROM (
               SELECT id,
                 CAST(s00 AS DOUBLE) / 100000000.0 + nn * 0.01 AS a00,
                 CAST(s01 AS DOUBLE) / 100000000.0 AS a01,
                 CAST(s11 AS DOUBLE) / 100000000.0 + nn * 0.01 AS a11,
                 CAST(b0 AS DOUBLE) / 10000.0 AS c0,
                 CAST(b1 AS DOUBLE) / 10000.0 AS c1
               FROM (
                 SELECT r.$gk AS id, count(*) AS nn,
                   CAST(sum(f.f0 * f.f0) AS BIGINT) AS s00,
                   CAST(sum(f.f0 * f.f1) AS BIGINT) AS s01,
                   CAST(sum(f.f1 * f.f1) AS BIGINT) AS s11,
                   CAST(sum(r.v * f.f0) AS BIGINT) AS b0,
                   CAST(sum(r.v * f.f1) AS BIGINT) AS b1
                 FROM r JOIN $from f ON r.$jk = f.id GROUP BY r.$gk)))"""
        s"""WITH r AS ($ORatings),
          i0 AS (SELECT DISTINCT i AS id, CAST(10000 AS BIGINT) AS f0,
                 CAST((i % 7 - 3) * 2500 AS BIGINT) AS f1 FROM r),
          ${half("u1", "i0", "i", "u")},
          ${half("i1", "u1", "u", "i")},
          ${half("u2", "i1", "i", "u")},
          ${half("i2", "u2", "u", "i")}
          SELECT 'user' AS side, id, f0, f1 FROM u2
          UNION ALL SELECT 'item' AS side, id, f0, f1 FROM i2"""
      }),

    // Linear SVM: 4 full-batch Pegasos rounds over lineitem features
    // (label: was the line returned), weights in 1e6 micro-units. The
    // oracle unrolls each round: gradient aggregate -> integer weight
    // update -> next round's margin test. The update term runs in
    // HUGEINT, mirroring the Scala side's BigInt (the gradient sum is
    // O(n·max|x|), so scale·G overflows BIGINT in the 10^8+-row regime);
    // both divisions truncate toward zero, and the bounded weight casts
    // back to BIGINT exactly.
    Entry("qbv_svm_pegasos",
      (s, dir) => {
        val f = t(s, dir, "lineitem").select(
          when(col("l_returnflag") === "R", 1L).otherwise(-1L).as("y"),
          lit(1L).as("b"),
          col("l_quantity").cast("long").as("qty"),
          expr("CAST(round(l_extendedprice*100) AS BIGINT) div 10000").as("price_h"),
          expr("CAST(round(l_discount*100) AS BIGINT)").as("disc"))
        ML.svmScaled(f, "y", Seq("b", "qty", "price_h", "disc"), iters = 4)
      },
      Some {
        val S = "1000000::HUGEINT"
        def g(i: Int, cond: String) =
          s"""g$i AS (SELECT
             sum(CASE WHEN $cond THEN y*b ELSE 0 END) AS gb,
             sum(CASE WHEN $cond THEN y*qty ELSE 0 END) AS gq,
             sum(CASE WHEN $cond THEN y*price_h ELSE 0 END) AS gp,
             sum(CASE WHEN $cond THEN y*disc ELSE 0 END) AS gd
             FROM f${if (i > 1) s", w${i - 1}" else ""})"""
        def upd(t: Int, prev: String) = Seq("b" -> "gb", "qty" -> "gq",
          "price_h" -> "gp", "disc" -> "gd").map { case (c, gc) =>
          val w = s"w_$c"
          if (t == 1) s"CAST(($S * $gc) // ($t * n.n) AS BIGINT) AS $w"
          else s"CAST($prev.$w - $prev.$w // $t + ($S * $gc) // ($t * n.n) AS BIGINT) AS $w"
        }.mkString(", ")
        val margin = (i: Int) =>
          s"y*(w$i.w_b*b + w$i.w_qty*qty + w$i.w_price_h*price_h + w$i.w_disc*disc) < $S"
        s"""WITH f AS (SELECT
            CASE WHEN l_returnflag = 'R' THEN 1 ELSE -1 END AS y,
            1 AS b, CAST(l_quantity AS BIGINT) AS qty,
            CAST(round(l_extendedprice*100) AS BIGINT) // 10000 AS price_h,
            CAST(round(l_discount*100) AS BIGINT) AS disc FROM lineitem),
          n AS (SELECT count(*) AS n FROM f),
          ${g(1, s"0 < $S")},
          w1 AS (SELECT ${upd(1, "")} FROM g1, n),
          ${g(2, margin(1))},
          w2 AS (SELECT ${upd(2, "w1")} FROM g2, w1, n),
          ${g(3, margin(2))},
          w3 AS (SELECT ${upd(3, "w2")} FROM g3, w2, n),
          ${g(4, margin(3))},
          w4 AS (SELECT ${upd(4, "w3")} FROM g4, w3, n),
          viol AS (SELECT CAST(count(*) AS BIGINT) AS c FROM f, w4 WHERE ${margin(4)})
          SELECT 'b' AS k, w_b AS v FROM w4
          UNION ALL SELECT 'qty', w_qty FROM w4
          UNION ALL SELECT 'price_h', w_price_h FROM w4
          UNION ALL SELECT 'disc', w_disc FROM w4
          UNION ALL SELECT '_violations', c FROM viol"""
      }),

    // The generic optimizer (reference: flink-ml optimization/
    // GradientDescent.scala, SquaredLoss + L2Regularization): 4 rounds of
    // full-batch GD in scaled integers with harmonic step decay, fitting
    // y = 3*qty + disc over (bias, qty, disc). One aggregate per round
    // producing 3 exact gradient sums; the oracle unrolls the identical
    // rounds in HUGEINT (DuckDB `//` truncates toward zero like BigInt).
    Entry("qce_gradient_descent",
      (s, dir) => {
        val f = t(s, dir, "lineitem").select(
          lit(1L).as("b"),
          col("l_quantity").cast("long").as("qty"),
          expr("CAST(round(l_discount*100) AS BIGINT)").as("disc"),
          (col("l_quantity").cast("long") * 3 +
            expr("CAST(round(l_discount*100) AS BIGINT)")).as("y"))
        ML.gradientDescentScaled(f, "y", Seq("b", "qty", "disc"), iters = 4,
          etaInv = 20000L, penalty = "l2", lambdaInv = 2L)
      },
      Some {
        val S = 1000000L
        val etaInv = 20000L
        val lamEta = 2L * etaInv // lambdaInv * etaInv
        def resid(w: String) =
          s"(b*$w.w_b + qty*$w.w_qty + disc*$w.w_disc - y*$S)"
        def g(i: Int, r: String, from: String) =
          s"""g$i AS (SELECT sum(b::HUGEINT * $r) AS gb,
             sum(qty::HUGEINT * $r) AS gq, sum(disc::HUGEINT * $r) AS gd
             FROM $from)"""
        def upd(t: Int, prev: String) = Seq("w_b" -> "gb", "w_qty" -> "gq",
          "w_disc" -> "gd").map { case (wc, gc) =>
          if (t == 1) s"CAST(0 - $gc // (${etaInv * t}::HUGEINT * n.n) AS BIGINT) AS $wc"
          else s"CAST($prev.$wc - $prev.$wc // ${lamEta * t} " +
            s"- $gc // (${etaInv * t}::HUGEINT * n.n) AS BIGINT) AS $wc"
        }.mkString(", ")
        s"""WITH f AS (SELECT 1::BIGINT AS b, CAST(l_quantity AS BIGINT) AS qty,
            CAST(round(l_discount*100) AS BIGINT) AS disc,
            CAST(l_quantity AS BIGINT)*3 + CAST(round(l_discount*100) AS BIGINT) AS y
          FROM lineitem),
          n AS (SELECT count(*) AS n FROM f),
          ${g(1, s"(0 - y*$S)::HUGEINT", "f")},
          w1 AS (SELECT ${upd(1, "")} FROM g1, n),
          ${g(2, s"${resid("w1")}::HUGEINT", "f, w1")},
          w2 AS (SELECT ${upd(2, "w1")} FROM g2, w1, n),
          ${g(3, s"${resid("w2")}::HUGEINT", "f, w2")},
          w3 AS (SELECT ${upd(3, "w2")} FROM g3, w2, n),
          ${g(4, s"${resid("w3")}::HUGEINT", "f, w3")},
          w4 AS (SELECT ${upd(4, "w3")} FROM g4, w3, n),
          ra AS (SELECT CAST(sum(abs(${resid("w4")}::HUGEINT)) // n.n AS BIGINT) AS v
                 FROM f, w4, n GROUP BY n.n)
          SELECT 'b' AS k, w_b AS v FROM w4
          UNION ALL SELECT 'qty', w_qty FROM w4
          UNION ALL SELECT 'disc', w_disc FROM w4
          UNION ALL SELECT '_resid_abs_div_n', v FROM ra"""
      }),

    // Lloyd's k-means on quantized integers (k=4, two update rounds + the
    // final assignment): the oracle unrolls all three assignment passes
    // and both centroid updates — integer distances, floor-division
    // updates, ties to the lower cell — and compares per-cell membership
    // (count, id-sum) plus the final centroid coordinate sums.
    Entry("qcj_kmeans",
      kMeansQuery(k = 4, iters = 2),
      Some(kMeansOracle(k = 4, iters = 2))),

    // The same trainer at a deployed-ANN codebook width: k=16 cells, two
    // update rounds. qcj proves the recurrence at toy width; this gate
    // proves the unrolled oracle and the Scala trajectory stay bit-exact
    // when cells outnumber the tie/drop edge cases (16 initial centroids
    // drawn from the 16 lowest ids, cells free to lose all members). The
    // per-round plan is identical — ONE broadcast of k centroids + a
    // narrow argmin pass + one (cell,dim) aggregate — so k only widens
    // the broadcast row count, never the shuffle.
    Entry("qds_kmeans_k16",
      kMeansQuery(k = 16, iters = 2),
      Some(kMeansOracle(k = 16, iters = 2))),

    // Cluster-balanced (semantic-diversity) selection: the qcj/qds k-means
    // assignment feeds an equal per-cell quota ranked by the salted
    // content hash — the diversity counterweight to qei's importance
    // selection. The oracle reuses the unrolled k-means CTEs verbatim and
    // replays the quota window (unitHash = (fnv >>> 11) / 2^53, ties to
    // the lower id), so assignment AND selection are both bit-exact.
    Entry("qek_cluster_balanced",
      (s, dir) => graft.operators.DataSelection.clusterBalancedSelect(
        t(s, dir, "embeddings"), "vec_id", "embedding",
        k = 8, iters = 1, perCell = 10),
      Some {
        val uh = s"""(CAST(${QueryUtil.oFnv("(CAST(id AS VARCHAR) || ':diverse')")}
           // 2048::HUGEINT AS DOUBLE) / 9007199254740992.0)"""
        s"""WITH ${kMeansCtes(k = 8, iters = 1)},
        u AS (SELECT id, cell_id, $uh AS uhash FROM a2),
        sel AS (SELECT id, cell_id, row_number() OVER (
            PARTITION BY cell_id ORDER BY uhash, id) AS rk FROM u)
        SELECT id AS vec_id, cell_id, CAST(rk AS BIGINT) AS rk
        FROM sel WHERE rk <= 10"""
      }),
  )

  /** Shared Spark side of the qcj/qds k-means gates: train, then emit the
    * engine-portable per-cell summary (membership count, member-id sum,
    * centroid coordinate sum). */
  private def kMeansQuery(k: Int, iters: Int): Q = (s, dir) => {
    val emb = t(s, dir, "embeddings")
    val r = ML.kMeansScaled(emb, "vec_id", "embedding", k = k, iters = iters)
    val a = r.assignments.groupBy("cell_id")
      .agg(count(lit(1)).as("n_members"), sum(col("vec_id")).as("id_sum"))
    val c = r.centroids.select(col("cell_id"),
      aggregate(col("cvec"), lit(0L), (acc, x) => acc + x).as("centroid_sum"))
    a.join(c, Seq("cell_id"))
      .select("cell_id", "n_members", "id_sum", "centroid_sum")
  }

  /** CTE prefix replaying [[ML.kMeansScaled]] for any (k, iters): unrolls
    * every assignment pass (integer squared distance, ties to the lower
    * cell id) and every floor-division centroid update. Exposes the final
    * assignment as `a{iters+1}` and the final centroids as `c{iters}` for
    * the gate's own SELECT — shared by qcj/qds (per-cell summaries) and
    * qek (cluster-balanced quota selection). */
  private def kMeansCtes(k: Int, iters: Int): String = {
    def assign(name: String, cents: String) =
      s"""$name AS (SELECT q.id, q.qv, s.cell_id FROM q JOIN LATERAL (
         SELECT t.cell_id FROM $cents t
         ORDER BY list_aggregate(list_transform(range(1, len(q.qv) + 1),
           i -> (q.qv[i] - t.cvec[i]) * (q.qv[i] - t.cvec[i])), 'sum'),
           t.cell_id
         LIMIT 1) s ON true)"""
    def update(name: String, from: String) =
      s"""$name AS (SELECT cell_id, list(v ORDER BY pos) AS cvec FROM (
         SELECT cell_id, pos,
           CAST(floor(CAST(sum(qv[pos]) AS DOUBLE) / count(*)) AS BIGINT) AS v
         FROM $from CROSS JOIN UNNEST(generate_series(1, len(qv))) AS t(pos)
         GROUP BY cell_id, pos) GROUP BY cell_id)"""
    val rounds = (1 to iters).map { i =>
      s"${assign(s"a$i", s"c${i - 1}")}, ${update(s"c$i", s"a$i")}"
    }.mkString(",\n        ")
    val sep = if (iters > 0) "," else ""
    s"""q AS (SELECT vec_id AS id,
        list_transform(embedding,
          x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qv
      FROM embeddings),
    c0 AS (SELECT id AS cell_id, qv AS cvec FROM q ORDER BY id LIMIT $k)$sep
    $rounds,
    ${assign(s"a${iters + 1}", s"c$iters")}"""
  }

  /** DuckDB replay of the qcj/qds gates over [[kMeansCtes]]: the same
    * per-cell summary as [[kMeansQuery]]. */
  private def kMeansOracle(k: Int, iters: Int): String =
    s"""WITH ${kMeansCtes(k, iters)},
    agg AS (SELECT cell_id, CAST(count(*) AS BIGINT) AS n_members,
        CAST(sum(id) AS BIGINT) AS id_sum FROM a${iters + 1} GROUP BY 1),
    csum AS (SELECT cell_id,
        CAST(list_aggregate(cvec, 'sum') AS BIGINT) AS centroid_sum FROM c$iters)
    SELECT agg.cell_id, n_members, id_sum, centroid_sum
    FROM agg JOIN csum USING (cell_id)"""
}
