package graft.queries

import graft.Tables
import graft.functions.TextFunctions
import graft.queries.QueryUtil.{OTOKS, oFnv, oSigned}
import graft.operators.{AsOfJoin, BloomPrune, DataSelection, Dedup, ML, Partitioning, RangeJoin, Sampling, TextPipeline}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-3 additions: temporal joins (as-of, binned range), bloom-pruned
  * joins, deterministic sampling/splits, and document→training-example
  * transforms (chunking, packing, PII scrubbing, unigram LM scoring,
  * incremental dedup).
  */
object PipelineQueries {

  private def t(s: SparkSession, dir: String, n: String) = Tables(s, dir, n)

  /** DuckDB replay of 3 rounds of classic top-1 BPE training (argmax +
    * greedy-leftmost recursive fold per round) — shared by qd4 (bpeTrain)
    * and qd6 (bpeTrainBatched at batch = 1, contractually identical). */
  private lazy val OBpeTrain3: String = {
        // pair-stat + argmax over vocabulary frame v<i>, emitting m<i+1>
        def argmax(i: Int) = s"""p${i + 1} AS (
            SELECT syms[i] AS lhs, syms[i + 1] AS rhs, sum(cnt) AS pc
            FROM v$i CROSS JOIN UNNEST(generate_series(1, len(syms) - 1)) AS t(i)
            GROUP BY 1, 2
          ), m${i + 1} AS (
            SELECT lhs, rhs, pc FROM p${i + 1}
            ORDER BY pc DESC, lhs, rhs LIMIT 1
          )"""
        // greedy-leftmost fold applying m<i+1> to v<i>, emitting v<i+1>
        def fold(i: Int) = s"""r${i + 1} AS (
            SELECT syms, cnt, 1 AS i, []::varchar[] AS out, '' AS pending
            FROM v$i
            UNION ALL
            SELECT r.syms, r.cnt, r.i + 1,
              CASE WHEN r.pending = '' THEN r.out
                   WHEN r.pending = m.lhs AND r.syms[r.i] = m.rhs
                     THEN list_append(r.out, m.lhs || m.rhs)
                   ELSE list_append(r.out, r.pending) END,
              CASE WHEN r.pending <> '' AND r.pending = m.lhs
                        AND r.syms[r.i] = m.rhs
                   THEN '' ELSE r.syms[r.i] END
            FROM r${i + 1} r, m${i + 1} m WHERE r.i <= len(r.syms)
          ), v${i + 1} AS (
            SELECT CASE WHEN pending = '' THEN out
                        ELSE list_append(out, pending) END AS syms, cnt
            FROM r${i + 1} WHERE i = len(syms) + 1
          )"""
        s"""WITH RECURSIVE words AS (
            SELECT w AS word, count(*) AS cnt FROM (
              SELECT unnest(list_filter(
                string_split_regex(lower(text), '\\s+'), x -> x <> '')) AS w
              FROM documents)
            GROUP BY 1
          ), v0 AS MATERIALIZED (
            SELECT list_append(
                list_transform(range(1, length(word) + 1), i -> word[i]),
                '</w>') AS syms,
              cnt
            FROM words
          ), ${argmax(0)}, ${fold(0)}, ${argmax(1)}, ${fold(1)}, ${argmax(2)}
          SELECT * FROM (
            SELECT CAST(1 AS INTEGER) AS rnd, lhs, rhs,
              CAST(pc AS BIGINT) AS pair_count FROM m1
            UNION ALL SELECT CAST(2 AS INTEGER), lhs, rhs,
              CAST(pc AS BIGINT) FROM m2
            UNION ALL SELECT CAST(3 AS INTEGER), lhs, rhs,
              CAST(pc AS BIGINT) FROM m3)
          ORDER BY rnd"""
  }

  /** DuckDB replay of 3 rounds of WordPiece training (the qdu gate):
    * [[OBpeTrain3]]'s vocabulary frames and recursive fold, with the
    * argmax swapped for the likelihood score — per round a symbol-count
    * CTE over the CURRENT segmentation (single-symbol words included),
    * then rank floor(pc·scale/(cl·cr)) DESC, pc DESC, (lhs, rhs). The
    * division runs in DuckDB's HUGEINT and lands back in the BIGINT
    * domain TextPipeline.wordpieceTrain computes in. */
  private lazy val OWordpieceTrain3: String = {
    def argmax(i: Int) = s"""sc${i + 1} AS (
        SELECT s AS sym, sum(cnt) AS c
        FROM v$i CROSS JOIN UNNEST(syms) AS t(s) GROUP BY 1
      ), p${i + 1} AS (
        SELECT syms[i] AS lhs, syms[i + 1] AS rhs, sum(cnt) AS pc
        FROM v$i CROSS JOIN UNNEST(generate_series(1, len(syms) - 1)) AS t(i)
        GROUP BY 1, 2
      ), m${i + 1} AS (
        SELECT lhs, rhs, pc,
          (pc * 1000000000) // (cl.c * cr.c) AS score
        FROM p${i + 1}
        JOIN sc${i + 1} cl ON lhs = cl.sym
        JOIN sc${i + 1} cr ON rhs = cr.sym
        ORDER BY score DESC, pc DESC, lhs, rhs LIMIT 1
      )"""
    def fold(i: Int) = s"""r${i + 1} AS (
        SELECT syms, cnt, 1 AS i, []::varchar[] AS out, '' AS pending
        FROM v$i
        UNION ALL
        SELECT r.syms, r.cnt, r.i + 1,
          CASE WHEN r.pending = '' THEN r.out
               WHEN r.pending = m.lhs AND r.syms[r.i] = m.rhs
                 THEN list_append(r.out, m.lhs || m.rhs)
               ELSE list_append(r.out, r.pending) END,
          CASE WHEN r.pending <> '' AND r.pending = m.lhs
                    AND r.syms[r.i] = m.rhs
               THEN '' ELSE r.syms[r.i] END
        FROM r${i + 1} r, m${i + 1} m WHERE r.i <= len(r.syms)
      ), v${i + 1} AS (
        SELECT CASE WHEN pending = '' THEN out
                    ELSE list_append(out, pending) END AS syms, cnt
        FROM r${i + 1} WHERE i = len(syms) + 1
      )"""
    s"""WITH RECURSIVE words AS (
        SELECT w AS word, count(*) AS cnt FROM (
          SELECT unnest(list_filter(
            string_split_regex(lower(text), '\\s+'), x -> x <> '')) AS w
          FROM documents)
        GROUP BY 1
      ), v0 AS MATERIALIZED (
        SELECT list_append(
            list_transform(range(1, length(word) + 1), i -> word[i]),
            '</w>') AS syms,
          cnt
        FROM words
      ), ${argmax(0)}, ${fold(0)}, ${argmax(1)}, ${fold(1)}, ${argmax(2)}
      SELECT * FROM (
        SELECT CAST(1 AS INTEGER) AS rnd, lhs, rhs,
          CAST(pc AS BIGINT) AS pair_count, CAST(score AS BIGINT) AS score FROM m1
        UNION ALL SELECT CAST(2 AS INTEGER), lhs, rhs,
          CAST(pc AS BIGINT), CAST(score AS BIGINT) FROM m2
        UNION ALL SELECT CAST(3 AS INTEGER), lhs, rhs,
          CAST(pc AS BIGINT), CAST(score AS BIGINT) FROM m3)
      ORDER BY rnd"""
  }

  /** The qdw gate's piece vocabulary: all single letters (initial and
    * continuation) + multi-char pieces that overlap them, so the greedy
    * longest-match has real choices; nothing matches digits/punctuation,
    * so such words exercise the UNK path. */
  private lazy val WpVocab: Seq[String] =
    ('a' to 'z').map(_.toString) ++ ('a' to 'z').map(c => s"##$c") ++
      Seq("th", "the", "qu", "an", "re", "de",
        "##ing", "##er", "##ed", "##es", "##on", "##tion", "##s")

  /** DuckDB replay of [[TextPipeline.wordpieceEncode]] with [[WpVocab]]:
    * a recursive CTE advancing the greedy cursor per distinct word —
    * best match = list_max over the matching pieces' lengths (NULL = UNK
    * stop) — then the same instance-join per-doc aggregate. */
  private lazy val OWordpieceEncode: String = {
    def lst(ps: Seq[String]) =
      ps.map(p => s"'${p.replace("'", "''")}'").mkString("[", ", ", "]")
    val init = lst(WpVocab.filterNot(_.startsWith("##")))
    val cont = lst(WpVocab.filter(_.startsWith("##")).map(_.stripPrefix("##")))
    s"""WITH RECURSIVE docw AS (
        SELECT doc_id, unnest(list_filter(
          string_split_regex(lower(text), '\\s+'), x -> x <> '')) AS word
        FROM documents
      ), dw AS (
        SELECT DISTINCT word FROM docw
      ), seg AS (
        SELECT word, 1 AS pos, 0 AS n, true AS ok FROM dw
        UNION ALL
        SELECT word,
          CASE WHEN bl IS NULL THEN pos ELSE pos + bl END,
          CASE WHEN bl IS NULL THEN n ELSE n + 1 END,
          bl IS NOT NULL
        FROM (
          SELECT word, pos, n,
            list_max(list_transform(list_filter(
              CASE WHEN pos = 1 THEN $init ELSE $cont END,
              p -> p = substr(word, pos, length(p))), p -> length(p))) AS bl
          FROM seg WHERE ok AND pos <= length(word))
      ), wl AS (
        SELECT word, CASE WHEN ok THEN n ELSE 1 END AS w_toks, NOT ok AS unk
        FROM seg WHERE (NOT ok) OR pos > length(word)
      )
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
        CAST(sum(w_toks) AS BIGINT) AS n_tokens,
        CAST(sum(CASE WHEN unk THEN 1 ELSE 0 END) AS BIGINT) AS n_unk_words
      FROM docw JOIN wl USING (word)
      GROUP BY doc_id"""
  }

  /** [[WpVocab]] with the qe0 cost formula: 4000 // (1 + length of the
    * matchable text, continuation prefix stripped). */
  private lazy val WpVocabCosts: Seq[(String, Long)] =
    WpVocab.map(p => p -> (4000L / (1 + p.stripPrefix("##").length)))

  /** DuckDB replay of [[TextPipeline.minCostEncode]] with
    * [[WpVocabCosts]]: the qdx recursive cost-list DP, each relaxation
    * adding the piece's cost instead of 1; unsegmentable words cost a
    * flat 4000. */
  private lazy val OWeightedSegment: String = {
    def lst(ps: Seq[(String, Long)]) =
      ps.map { case (p, c) => s"{'p': '${p.replace("'", "''")}', 'c': $c}" }
        .mkString("[", ", ", "]")
    val init = lst(WpVocabCosts.filterNot(_._1.startsWith("##")))
    val cont = lst(WpVocabCosts.collect { case (p, c) if p.startsWith("##") =>
      (p.stripPrefix("##"), c)
    })
    s"""WITH RECURSIVE docw AS (
        SELECT doc_id, unnest(list_filter(
          string_split_regex(lower(text), '\\s+'), x -> x <> '')) AS word
        FROM documents
      ), dw AS (
        SELECT DISTINCT word FROM docw
      ), dp AS (
        SELECT word, 0 AS i, [0] AS costs FROM dw
        UNION ALL
        SELECT word, i + 1, list_append(costs, least(
            coalesce(list_min(list_transform(list_filter($init,
                e -> e.p = substr(word, 1, i + 1)), e -> e.c)), 1000000000),
            coalesce(list_min(list_transform(list_filter($cont,
                e -> length(e.p) < i + 1
                  AND e.p = substr(word, i + 1 - length(e.p) + 1, length(e.p))),
              e -> costs[i + 1 - length(e.p) + 1] + e.c)), 1000000000)))
        FROM dp WHERE i < length(word)
      ), wl AS (
        SELECT word,
          CASE WHEN costs[length(word) + 1] >= 1000000000
               THEN 4000 ELSE costs[length(word) + 1] END AS w_cost,
          costs[length(word) + 1] >= 1000000000 AS unk
        FROM dp WHERE i = length(word)
      )
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
        CAST(sum(w_cost) AS BIGINT) AS total_cost,
        CAST(sum(CASE WHEN unk THEN 1 ELSE 0 END) AS BIGINT) AS n_unk_words
      FROM docw JOIN wl USING (word)
      GROUP BY doc_id"""
  }

  /** DuckDB replay of the qe2 classifier pipeline: hashed-bucket features
    * via [[QueryUtil.oFnv]] (unsigned mod 8 == the Spark side's
    * signed pmod — 8 divides 2^64), then the qbv Pegasos machinery
    * widened to 9 features and 3 rounds, then per-doc margins. */
  private lazy val OQualityClassifier: String = {
    val S = "1000000::HUGEINT"
    val fcols = "b" +: (0 until 8).map(j => s"f$j")
    def g(i: Int, cond: String) = {
      val sums = fcols.map(c => s"sum(CASE WHEN $cond THEN y*$c ELSE 0 END) AS g_$c")
        .mkString(", ")
      // MATERIALIZED: inlined, each g/w pair would nest the whole prior
      // chain and the plan grows 2^iters (the qcu descent device)
      s"g$i AS MATERIALIZED (SELECT $sums FROM f${if (i > 1) s", w${i - 1}" else ""})"
    }
    def upd(t: Int, prev: String) = fcols.map { c =>
      if (t == 1) s"CAST(($S * g_$c) // ($t * n.n) AS BIGINT) AS w_$c"
      else s"CAST($prev.w_$c - $prev.w_$c // $t + ($S * g_$c) // ($t * n.n) AS BIGINT) AS w_$c"
    }.mkString(", ")
    def margin(i: Int) =
      s"y*(${fcols.map(c => s"w$i.w_$c*$c").mkString(" + ")}) < $S"
    val iters = 16
    val rounds = (1 to iters).map { i =>
      val cond = if (i == 1) s"0 < $S" else margin(i - 1)
      s"${g(i, cond)},\n      w$i AS MATERIALIZED (SELECT ${upd(i, if (i == 1) "" else s"w${i - 1}")} " +
        s"FROM g$i${if (i == 1) "" else s", w${i - 1}"}, n)"
    }.mkString(",\n      ")
    val bucketCounts = (0 until 8).map(j =>
      s"coalesce(sum(CASE WHEN bkt = $j THEN 1 ELSE 0 END), 0) AS f$j")
      .mkString(", ")
    s"""WITH toks AS (
        SELECT doc_id, unnest(list_filter(
          string_split_regex(lower(text), '\\s+'), x -> x <> '')) AS tok
        FROM documents
      ), bk AS (
        SELECT doc_id, CAST(${QueryUtil.oFnv("tok")} % 8 AS BIGINT) AS bkt
        FROM toks
      ), fb AS (
        SELECT doc_id, $bucketCounts FROM bk GROUP BY doc_id
      ), f AS MATERIALIZED (
        SELECT d.doc_id, CASE WHEN d.n_chars >= 300 THEN 1 ELSE -1 END AS y,
          32 AS b, ${(0 until 8).map(j => s"coalesce(fb.f$j, 0) AS f$j").mkString(", ")}
        FROM documents d LEFT JOIN fb ON d.doc_id = fb.doc_id
      ), n AS (SELECT count(*) AS n FROM f),
      ${rounds},
      mfin AS (SELECT doc_id, y,
        ${fcols.map(c => s"w$iters.w_$c*$c").mkString(" + ")} AS margin
        FROM f, w$iters)
      SELECT doc_id, CAST(margin AS BIGINT) AS margin,
        margin >= 0 AS keep, CAST(y AS BIGINT) AS y
      FROM mfin"""
  }

  /** DuckDB replay of the qe1 learned-cost pipeline: piece dfs over
    * distinct words (containment), inverse-frequency costs packed into
    * one-row struct lists, then the weighted recursive DP relaxing from
    * those lists. */
  private lazy val ORarityCostSegment: String = {
    def lst(ps: Seq[String]) =
      ps.map(p => s"'${p.replace("'", "''")}'").mkString("[", ", ", "]")
    val matchTexts = lst(WpVocab.map(_.stripPrefix("##")).distinct)
    val init = lst(WpVocab.filterNot(_.startsWith("##")))
    val cont = lst(WpVocab.filter(_.startsWith("##")).map(_.stripPrefix("##")))
    s"""WITH RECURSIVE docw AS (
        SELECT doc_id, unnest(list_filter(
          string_split_regex(lower(text), '\\s+'), x -> x <> '')) AS word
        FROM documents
      ), dw AS (
        SELECT DISTINCT word FROM docw
      ), dfs AS (
        SELECT m, CAST(count(*) AS BIGINT) AS df
        FROM (SELECT unnest($matchTexts) AS m) mt, dw
        WHERE contains(word, m) GROUP BY m
      ), ip AS (
        SELECT list(struct_pack(p := v.p,
            c := CAST(1000000 // (1 + coalesce(d.df, 0)) AS BIGINT))) AS ps
        FROM (SELECT unnest($init) AS p) v LEFT JOIN dfs d ON d.m = v.p
      ), cp AS (
        SELECT list(struct_pack(p := v.p,
            c := CAST(1000000 // (1 + coalesce(d.df, 0)) AS BIGINT))) AS ps
        FROM (SELECT unnest($cont) AS p) v LEFT JOIN dfs d ON d.m = v.p
      ), dp AS (
        SELECT word, 0 AS i, [0] AS costs FROM dw
        UNION ALL
        SELECT word, i + 1, list_append(costs, least(
            coalesce(list_min(list_transform(list_filter(ip.ps,
                e -> e.p = substr(word, 1, i + 1)), e -> e.c)), 1000000000),
            coalesce(list_min(list_transform(list_filter(cp.ps,
                e -> length(e.p) < i + 1
                  AND e.p = substr(word, i + 1 - length(e.p) + 1, length(e.p))),
              e -> costs[i + 1 - length(e.p) + 1] + e.c)), 1000000000)))
        FROM dp, ip, cp WHERE i < length(word)
      ), wl AS (
        SELECT word,
          CASE WHEN costs[length(word) + 1] >= 1000000000
               THEN 1000000 ELSE costs[length(word) + 1] END AS w_cost,
          costs[length(word) + 1] >= 1000000000 AS unk
        FROM dp WHERE i = length(word)
      )
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
        CAST(sum(w_cost) AS BIGINT) AS total_cost,
        CAST(sum(CASE WHEN unk THEN 1 ELSE 0 END) AS BIGINT) AS n_unk_words
      FROM docw JOIN wl USING (word)
      GROUP BY doc_id"""
  }

  /** DuckDB replay of [[TextPipeline.minTokenEncode]] with [[WpVocab]]:
    * recursive CTE building each word's DP cost list position by
    * position — initial piece = the whole prefix, continuation pieces
    * relax from their start position's cost; INF (1e9) marks
    * unreachable, final cost >= INF = the 1-token UNK contract. */
  /** DuckDB replay of 2 rounds of hard-EM unigram-LM training (the qfd
    * gate): seed = all single chars + top-24 weighted substrings of
    * length 2..4 (count DESC, piece tie-break); each round derives
    * integer rarity costs 1e6 // (1 + cnt), runs the recursive min-cost
    * DP per distinct word, walks the argmin path back with the
    * longest-piece-attaining-the-optimum rule (a second recursive CTE),
    * and re-counts corpus-weighted piece usage. */
  /** One hard-EM round as DuckDB CTEs (cost list from v{k-1}, recursive
    * DP + backtrack over the distinct words, usage counts into v$k) —
    * shared by [[OUnigramTrain]] and [[OUnigramEncode]]. */
  private def oUnigramEmRound(k: Int): String = s"""c$k AS (
        SELECT list(struct_pack(p := p,
          c := CAST(1000000 // (1 + cnt) AS BIGINT))) AS ps FROM v${k - 1}
      ), dp$k AS (
        SELECT word, wcnt, 0 AS i, [CAST(0 AS BIGINT)] AS costs FROM words
        UNION ALL
        SELECT word, wcnt, i + 1, list_append(costs,
          coalesce(list_min(list_transform(list_filter(c$k.ps,
              e -> length(e.p) <= i + 1
                AND e.p = substr(word, i + 1 - length(e.p) + 1, length(e.p))),
            e -> costs[i + 1 - length(e.p) + 1] + e.c)), 1000000000))
        FROM dp$k, c$k WHERE i < length(word)
      ), dw$k AS (
        SELECT word, wcnt, costs FROM dp$k WHERE i = length(word)
      ), bt$k AS (
        SELECT word, wcnt, costs, length(word) AS pos, []::varchar[] AS ps
        FROM dw$k
        UNION ALL
        SELECT word, wcnt, costs, pos - bl,
          list_append(ps, substr(word, pos - bl + 1, bl))
        FROM (
          SELECT b.word, b.wcnt, b.costs, b.pos, b.ps,
            coalesce(list_max(list_transform(list_filter(c$k.ps,
                e -> length(e.p) <= b.pos
                  AND e.p = substr(b.word, b.pos - length(e.p) + 1, length(e.p))
                  AND b.costs[b.pos + 1]
                    = b.costs[b.pos - length(e.p) + 1] + e.c),
              e -> length(e.p))), 0) AS bl
          FROM bt$k b, c$k WHERE b.pos > 0)
      ), u$k AS (
        SELECT unnest(ps) AS p, wcnt FROM bt$k WHERE pos = 0
      ), n$k AS (
        SELECT p, CAST(sum(wcnt) AS BIGINT) AS cnt FROM u$k GROUP BY 1
      ), v$k AS (
        SELECT v.p, coalesce(n.cnt, 0) AS cnt
        FROM v${k - 1} v LEFT JOIN n$k n ON v.p = n.p
      )"""

  /** The corpus-substring seed CTEs shared by the unigram oracles:
    * docw/words + all-substrings counts + v0 (chars + top-24 multis). */
  // s-interpolated so escape processing renders \\s+ as \s+ exactly like
  // every other oracle literal (a plain val keeps both backslashes and
  // the word splitter silently stops splitting)
  private def oUnigramSeed(where: String): String = s"""docw AS (
        SELECT unnest(list_filter(
          string_split_regex(lower(text), '\\s+'), x -> x <> '')) AS word
        FROM documents $where
      ), words AS (
        SELECT word, CAST(count(*) AS BIGINT) AS wcnt FROM docw GROUP BY 1
      ), subs AS (
        SELECT substr(word, i, l) AS p, CAST(sum(wcnt) AS BIGINT) AS cnt
        FROM words
        CROSS JOIN UNNEST(generate_series(1, length(word))) t(i)
        CROSS JOIN UNNEST(generate_series(1, 4)) q(l)
        WHERE i + l - 1 <= length(word)
        GROUP BY 1
      ), v0 AS MATERIALIZED (
        SELECT p, cnt FROM subs WHERE length(p) = 1
        UNION ALL
        SELECT p, cnt FROM (
          SELECT p, cnt FROM subs WHERE length(p) >= 2
          ORDER BY cnt DESC, p LIMIT 24)
      )"""

  private val OUnigramSeed: String = oUnigramSeed("")

  /** Law-based oracle for the corpus-scale FFBS gate (qft): word count,
    * tiling count (== word count when every sampled segmentation
    * re-concatenates to its word), and the [words, chars] piece bound —
    * all derivable from the RAW text without replaying any draw. */
  private lazy val OUnigramSampleScale: String =
    s"""SELECT doc_id,
         CAST(len(ws) AS BIGINT) AS n_words,
         CAST(len(ws) AS BIGINT) AS n_tiled,
         TRUE AS bounded
       FROM (SELECT doc_id, list_filter(
           string_split_regex(lower(text), '\\s+'), x -> x <> '') AS ws
         FROM documents)"""

  private lazy val OUnigramTrain: String =
    s"""WITH RECURSIVE ${OUnigramSeed},
      ${oUnigramEmRound(1)},
      ${oUnigramEmRound(2)}
      SELECT 0 AS iter, p AS piece,
        CAST(1000000 // (1 + cnt) AS BIGINT) AS cost, cnt FROM v0
      UNION ALL
      SELECT 1, v0.p, CAST(1000000 // (1 + v0.cnt) AS BIGINT), v1.cnt
      FROM v0 JOIN v1 ON v0.p = v1.p
      UNION ALL
      SELECT 2, v1.p, CAST(1000000 // (1 + v1.cnt) AS BIGINT), v2.cnt
      FROM v1 JOIN v2 ON v1.p = v2.p"""

  /** DuckDB replay of ENCODING with the 2-round-trained unigram vocab
    * (the qfj gate): OUnigramTrain's seed + EM chain to v2, a cost list
    * from v2's counts, then the POSITION-FREE weighted DP per distinct
    * word and the per-doc roll-up (qe0's tail shape). */
  private lazy val OUnigramEncode: String =
    s"""WITH RECURSIVE ${OUnigramSeed},
      ${oUnigramEmRound(1)},
      ${oUnigramEmRound(2)},
      c3 AS (
        SELECT list(struct_pack(p := p,
          c := CAST(1000000 // (1 + cnt) AS BIGINT))) AS ps FROM v2
      ), edp AS (
        SELECT word, 0 AS i, [CAST(0 AS BIGINT)] AS costs FROM words
        UNION ALL
        SELECT word, i + 1, list_append(costs,
          coalesce(list_min(list_transform(list_filter(c3.ps,
              e -> length(e.p) <= i + 1
                AND e.p = substr(word, i + 1 - length(e.p) + 1, length(e.p))),
            e -> costs[i + 1 - length(e.p) + 1] + e.c)), 1000000000))
        FROM edp, c3 WHERE i < length(word)
      ), wl AS (
        SELECT word,
          CASE WHEN costs[length(word) + 1] >= 1000000000
               THEN 1000000 ELSE costs[length(word) + 1] END AS w_cost,
          costs[length(word) + 1] >= 1000000000 AS unk
        FROM edp WHERE i = length(word)
      ), dw AS (
        SELECT doc_id, unnest(list_filter(
          string_split_regex(lower(text), '\\s+'), x -> x <> '')) AS word
        FROM documents
      )
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
        CAST(sum(w_cost) AS BIGINT) AS total_cost,
        CAST(sum(CASE WHEN unk THEN 1 ELSE 0 END) AS BIGINT) AS n_unk_words
      FROM dw JOIN wl USING (word)
      GROUP BY doc_id"""

  /** DuckDB replay of 2 rounds of SOFT-EM unigram-LM training (the qfn
    * gate) — the expected-count forward-backward. Bit-replayability of
    * the doubles is by matched IEEE op ORDER, not by avoiding floats:
    * the vocab list is ordered exactly like the operator's literal
    * (chars by piece, then multis by seed count desc/piece — the
    * `grp, ord` sort key), `list_sum` is DuckDB's naive left fold over
    * the filtered matches (probed: [1e16, 1, -1e16] sums to 0.0, not
    * Kahan's 1.0), weights derive in-engine from the same exact < 2^53
    * integers, the posterior multiplication order ((α·w)·β)/Z·scale+0.5
    * matches the operator's, and every posterior fixed-points to BIGINT
    * before the only cross-row sums (integer, order-free). */
  private def oUnigramSoftRound(k: Int): String =
    oUnigramSoftRound(k, s"v${k - 1}s")

  /** One soft-EM round reading its vocabulary from `src` (a (p, c, ord,
    * grp) CTE) — the prune chain feeds the PRUNED survivors of round
    * k−1 instead of the plain v(k−1)s. */
  private def oUnigramSoftRound(k: Int, src: String): String = s"""t$k AS MATERIALIZED (
        SELECT CAST(sum(c + 1000000) AS BIGINT) AS tot FROM $src
      ), c$k AS MATERIALIZED (
        SELECT list(struct_pack(p := p, c := c) ORDER BY grp, ord) AS ps
        FROM $src
      ), al$k AS (
        SELECT word, wcnt, 0 AS i, [CAST(1.0 AS DOUBLE)] AS al FROM words
        UNION ALL
        SELECT word, wcnt, i + 1, list_append(al,
          coalesce(list_sum(list_transform(list_filter(c$k.ps,
              e -> length(e.p) <= i + 1
                AND e.p = substr(word, i + 1 - length(e.p) + 1, length(e.p))),
            e -> al[i + 1 - length(e.p) + 1]
              * (CAST(e.c + 1000000 AS DOUBLE) / CAST(t$k.tot AS DOUBLE)))),
            CAST(0.0 AS DOUBLE)))
        FROM al$k, c$k, t$k WHERE i < length(word)
      ), alw$k AS MATERIALIZED (
        SELECT word, wcnt, al FROM al$k WHERE i = length(word)
      ), be$k AS (
        SELECT word, 0 AS j, [CAST(1.0 AS DOUBLE)] AS be FROM words
        UNION ALL
        SELECT word, j + 1, list_append(be,
          coalesce(list_sum(list_transform(list_filter(c$k.ps,
              e -> length(e.p) <= j + 1
                AND e.p = substr(word, length(word) - j, length(e.p))),
            e -> be[j + 1 - length(e.p) + 1]
              * (CAST(e.c + 1000000 AS DOUBLE) / CAST(t$k.tot AS DOUBLE)))),
            CAST(0.0 AS DOUBLE)))
        FROM be$k, c$k, t$k WHERE j < length(word)
      ), bew$k AS MATERIALIZED (
        SELECT word, be FROM be$k WHERE j = length(word)
      ), po$k AS (
        SELECT u.e.p AS p, a.wcnt * CAST(floor(
            a.al[s.i - length(u.e.p) + 1]
            * (CAST(u.e.c + 1000000 AS DOUBLE) / CAST(t$k.tot AS DOUBLE))
            * b.be[length(a.word) - s.i + 1]
            / a.al[length(a.word) + 1]
            * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT) AS f
        FROM alw$k a JOIN bew$k b USING (word)
        CROSS JOIN t$k
        CROSS JOIN UNNEST(generate_series(1, length(a.word))) s(i)
        CROSS JOIN (SELECT unnest(ps) AS e FROM c$k) u
        WHERE length(u.e.p) <= s.i
          AND u.e.p = substr(a.word, s.i - length(u.e.p) + 1, length(u.e.p))
      ), n$k AS (
        SELECT p, CAST(sum(f) AS BIGINT) AS e FROM po$k GROUP BY p
      ), v${k}s AS MATERIALIZED (
        SELECT v.p, coalesce(n.e, 0) AS c, v.ord, v.grp
        FROM $src v LEFT JOIN n$k n ON v.p = n.p
      )"""

  private lazy val OUnigramSoft: String =
    s"""WITH RECURSIVE ${OUnigramSeed},
      v0s AS (
        SELECT p, cnt * 1000000 AS c,
          row_number() OVER (ORDER BY p) AS ord, 0 AS grp
        FROM subs WHERE length(p) = 1
        UNION ALL
        SELECT p, cnt * 1000000,
          row_number() OVER (ORDER BY cnt DESC, p), 1
        FROM (SELECT p, cnt FROM subs WHERE length(p) >= 2
              ORDER BY cnt DESC, p LIMIT 24)
      ),
      ${oUnigramSoftRound(1)},
      ${oUnigramSoftRound(2)}
      SELECT 0 AS iter, p AS piece, c AS ecnt FROM v0s
      UNION ALL
      SELECT 1, p, c FROM v1s
      UNION ALL
      SELECT 2, p, c FROM v2s"""

  /** DuckDB replay of N-BEST segmentation (the qfs gate): the hard-EM
    * chain to v2's counts, integer rarity costs, then the n-best DP as
    * a recursive CTE — per position the 3 cheapest (cost, seg) pairs,
    * sorted by the (c, s) struct order both engines share (binary
    * string comparison; integer costs — nothing floating anywhere).
    * c3 is MATERIALIZED: the recursion references it every iteration
    * and an inlined CTE would re-run the whole EM chain each time. */
  private lazy val ONbestSegment: String =
    s"""WITH RECURSIVE ${OUnigramSeed},
      ${oUnigramEmRound(1)},
      ${oUnigramEmRound(2)},
      c3 AS MATERIALIZED (
        SELECT list(struct_pack(p := p,
          c := CAST(1000000 // (1 + cnt) AS BIGINT))) AS ps FROM v2
      ), nb AS (
        SELECT word, 0 AS i,
          [[struct_pack(c := CAST(0 AS BIGINT), s := '')]] AS best
        FROM words
        UNION ALL
        SELECT word, i + 1, list_append(best,
          list_sort(flatten(list_transform(list_filter(c3.ps,
              e -> length(e.p) <= i + 1
                AND e.p = substr(word, i + 1 - length(e.p) + 1, length(e.p))),
            e -> list_transform(best[i + 1 - length(e.p) + 1],
              b -> struct_pack(c := b.c + e.c,
                s := CASE WHEN b.s = '' THEN e.p
                     ELSE b.s || '/' || e.p END)))))[1:3])
        FROM nb, c3 WHERE i < length(word)
      ), fin AS (
        SELECT word, best[length(word) + 1] AS bl
        FROM nb WHERE i = length(word)
      )
      SELECT word, CAST(j AS BIGINT) AS rank,
        bl[j].c AS cost, bl[j].s AS seg
      FROM fin CROSS JOIN UNNEST(generate_series(1, len(bl))) t(j)"""

  /** One prune round of the COMPLETE Kudo trainer (the qfq gate): costs
    * from `src`'s (previous) counts, alt-cost DP over each multi-char
    * piece's own text minus self (the [[OUnigramPrune]] device at the
    * scaled-units cost scale² DIV (scale + c)), loss = (e DIV scale) ·
    * (alt − cost) on round k's SOFT counts v$ks, smallest-`prune`
    * multi-char pieces drop (eligibility by LENGTH — soft losses can
    * be negative), survivors carry to w$k. */
  private def oSoftPruneRound(k: Int, src: String, prune: Int): String =
    s"""cp$k AS MATERIALIZED (
        SELECT list(struct_pack(p := p,
          c := CAST(1000000000000 // (1000000 + c) AS BIGINT))) AS ps
        FROM $src
      ), pd$k AS (
        SELECT p AS pword, 0 AS i, [CAST(0 AS BIGINT)] AS costs
        FROM $src WHERE length(p) >= 2
        UNION ALL
        SELECT pword, i + 1, list_append(costs,
          coalesce(list_min(list_transform(list_filter(cp$k.ps,
              e -> e.p <> pword AND length(e.p) <= i + 1
                AND e.p = substr(pword, i + 1 - length(e.p) + 1, length(e.p))),
            e -> costs[i + 1 - length(e.p) + 1] + e.c)), 1000000000))
        FROM pd$k, cp$k WHERE i < length(pword)
      ), alt$k AS MATERIALIZED (
        SELECT pword AS p, costs[length(pword) + 1] AS alt
        FROM pd$k WHERE i = length(pword)
      ), loss$k AS MATERIALIZED (
        SELECT s.p, s.ord, s.grp,
          CAST(1000000000000 // (1000000 + s.c) AS BIGINT) AS cost,
          n.c AS ecnt,
          CASE WHEN length(s.p) = 1 THEN CAST(-1 AS BIGINT)
               ELSE CAST((n.c // 1000000)
                 * (a.alt - 1000000000000 // (1000000 + s.c)) AS BIGINT)
          END AS loss
        FROM $src s
        JOIN v${k}s n ON s.p = n.p
        LEFT JOIN alt$k a ON s.p = a.p
      ), pr$k AS MATERIALIZED (
        SELECT p FROM loss$k WHERE length(p) >= 2
        ORDER BY loss, p LIMIT $prune
      ), w$k AS MATERIALIZED (
        SELECT l.p, l.ecnt AS c, l.ord, l.grp FROM loss$k l
        LEFT JOIN pr$k ON l.p = pr$k.p WHERE pr$k.p IS NULL
      )"""

  /** DuckDB replay of the complete Kudo trainer (soft EM + prune
    * schedule, the qfq gate): the soft rounds are [[oUnigramSoftRound]]
    * verbatim (round 2 reading the PRUNED survivors w1), the prune
    * rounds [[oSoftPruneRound]]. */
  private lazy val OUnigramSoftPrune: String = {
    def rows(k: Int) = s"""SELECT $k AS round, l.p AS piece, l.cost,
        l.ecnt, l.loss, (pr$k.p IS NOT NULL) AS pruned
      FROM loss$k l LEFT JOIN pr$k ON l.p = pr$k.p"""
    s"""WITH RECURSIVE ${OUnigramSeed},
      v0s AS (
        SELECT p, cnt * 1000000 AS c,
          row_number() OVER (ORDER BY p) AS ord, 0 AS grp
        FROM subs WHERE length(p) = 1
        UNION ALL
        SELECT p, cnt * 1000000,
          row_number() OVER (ORDER BY cnt DESC, p), 1
        FROM (SELECT p, cnt FROM subs WHERE length(p) >= 2
              ORDER BY cnt DESC, p LIMIT 24)
      ),
      ${oUnigramSoftRound(1, "v0s")},
      ${oSoftPruneRound(1, "v0s", 8)},
      ${oUnigramSoftRound(2, "w1")},
      ${oSoftPruneRound(2, "w1", 8)}
      ${rows(1)}
      UNION ALL
      ${rows(2)}"""
  }

  /** DuckDB replay of subword-regularization SAMPLING (the qfp gate):
    * OUnigramSoft's chain to the round-2 expected counts, then the
    * forward-filtering backward-sampling walk per word occurrence. The
    * per-step uniform is [[oUnitHash]] keyed (doc:widx:pos); the
    * cumulative-mass choice folds the SAME canonically-ordered vocab
    * list with the SAME IEEE op order as the operator's walk
    * (list_reduce left fold, probed; non-matching entries contribute
    * exactly 0.0), so every draw decision lands on identical doubles
    * and the sampled pieces replay bit-for-bit. */
  private lazy val OUnigramSample: String = {
    val key = "(CAST(k.doc_id AS VARCHAR) || ':' || CAST(k.widx AS VARCHAR)" +
      " || ':' || CAST(k.pos AS VARCHAR))"
    def wgt(c: String) =
      s"(CAST($c + 1000000 AS DOUBLE) / CAST(t3.tot AS DOUBLE))"
    s"""WITH RECURSIVE ${oUnigramSeed("WHERE doc_id < 100")},
      v0s AS (
        SELECT p, cnt * 1000000 AS c,
          row_number() OVER (ORDER BY p) AS ord, 0 AS grp
        FROM subs WHERE length(p) = 1
        UNION ALL
        SELECT p, cnt * 1000000,
          row_number() OVER (ORDER BY cnt DESC, p), 1
        FROM (SELECT p, cnt FROM subs WHERE length(p) >= 2
              ORDER BY cnt DESC, p LIMIT 24)
      ),
      ${oUnigramSoftRound(1)},
      ${oUnigramSoftRound(2)},
      t3 AS MATERIALIZED (
        SELECT CAST(sum(c + 1000000) AS BIGINT) AS tot FROM v2s
      ), c3 AS MATERIALIZED (
        SELECT list(struct_pack(p := p, c := c) ORDER BY grp, ord) AS ps
        FROM v2s
      ), al3 AS (
        SELECT word, 0 AS i, [CAST(1.0 AS DOUBLE)] AS al FROM words
        UNION ALL
        SELECT word, i + 1, list_append(al,
          coalesce(list_sum(list_transform(list_filter(c3.ps,
              e -> length(e.p) <= i + 1
                AND e.p = substr(word, i + 1 - length(e.p) + 1, length(e.p))),
            e -> al[i + 1 - length(e.p) + 1] * ${wgt("e.c")})),
            CAST(0.0 AS DOUBLE)))
        FROM al3, c3, t3 WHERE i < length(word)
      ), alw3 AS MATERIALIZED (
        SELECT word, al FROM al3 WHERE i = length(word)
      ), tkd AS (
        SELECT doc_id, list_filter(
          string_split_regex(lower(text), '\\s+'), x -> x <> '') AS w
        FROM documents WHERE doc_id < 100
      ), wd AS (
        SELECT doc_id, CAST(i AS BIGINT) AS widx, w[i] AS word
        FROM tkd CROSS JOIN UNNEST(generate_series(1, len(w))) t(i)
      ), uu AS MATERIALIZED (
        -- the draw THRESHOLD t = unitHash(doc:widx:pos)·α(pos), hoisted:
        -- one fnv per (occurrence, position) instead of one per vocab
        -- entry inside the walk's choice fold (same doubles either way)
        SELECT k.doc_id, k.widx, CAST(p.i AS INTEGER) AS pos,
          ${oUnitHash(key.replace("k.pos", "p.i"), "sseg")} * a.al[p.i + 1] AS t
        FROM wd k JOIN alw3 a USING (word)
        CROSS JOIN UNNEST(generate_series(1, length(k.word))) p(i)
      ), cand AS MATERIALIZED (
        -- per (distinct word, position): the matching pieces in canonical
        -- vocab order with their CUMULATIVE masses — exactly the partial
        -- sums Spark's full-vocab fold sees at the matching entries (the
        -- interleaved non-matches add exactly 0.0, an identity), each
        -- prefix re-summed left-to-right over ≤ maxPieceLen entries
        SELECT word, pos,
          list_transform(range(1, len(cs) + 1), j -> struct_pack(
            l := length(cs[j].p),
            ca := list_sum(list_transform(cs[1:j], e ->
              al[pos - length(e.p) + 1]
                * (CAST(e.c + 1000000 AS DOUBLE) / CAST(tot AS DOUBLE)))))) AS cands
        FROM (
          SELECT w.word, CAST(p.i AS INTEGER) AS pos, a.al, t3.tot,
            list_filter(c3.ps, e -> length(e.p) <= p.i
              AND e.p = substr(w.word, p.i - length(e.p) + 1, length(e.p))) AS cs
          FROM (SELECT word FROM words) w
          JOIN alw3 a USING (word)
          CROSS JOIN UNNEST(generate_series(1, length(w.word))) p(i), c3, t3
        ) q
      ), walk AS (
        SELECT doc_id, widx, word, length(word) AS pos,
          []::VARCHAR[] AS ps
        FROM wd
        UNION ALL
        SELECT doc_id, widx, word, pos - ch.l,
          list_append(ps, substr(word, pos - ch.l + 1, ch.l))
        FROM (
          SELECT k.doc_id, k.widx, k.word, k.pos, k.ps,
            -- first candidate whose cumulative mass crosses the threshold
            list_reduce(list_prepend(
              struct_pack(l := CAST(0 AS BIGINT), ca := CAST(0.0 AS DOUBLE)),
              c.cands),
              (acc, e) -> CASE WHEN acc.l > 0 THEN acc
                WHEN e.ca > u.t THEN e
                ELSE struct_pack(l := CAST(0 AS BIGINT), ca := e.ca) END) AS ch
          FROM walk k
          JOIN uu u ON u.doc_id = k.doc_id AND u.widx = k.widx
            AND u.pos = k.pos
          JOIN cand c ON c.word = k.word AND c.pos = k.pos
          WHERE k.pos > 0) s
      )
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
        CAST(sum(len(ps)) AS BIGINT) AS n_pieces,
        string_agg(array_to_string(list_reverse(ps), chr(31)), ' '
          ORDER BY widx) AS seg_text
      FROM walk WHERE pos = 0
      GROUP BY doc_id"""
  }

  /** DuckDB replay of the PRUNED hard-EM unigram trainer (the qfg
    * gate): OUnigramTrain's per-round machinery plus, per round, the
    * first-order loss — alt-cost DP over each multi-char piece's OWN
    * text with the piece excluded (a second recursive CTE whose "words"
    * are the pieces), loss = newcnt · (alt − cost), smallest-8 prune
    * (ties by piece), single chars sentinel −1 and never pruned. */
  private lazy val OUnigramPrune: String = {
    def round(k: Int) = s"""c$k AS (
        SELECT list(struct_pack(p := p,
          c := CAST(1000000 // (1 + cnt) AS BIGINT))) AS ps FROM v${k - 1}
      ), dp$k AS (
        SELECT word, wcnt, 0 AS i, [CAST(0 AS BIGINT)] AS costs FROM words
        UNION ALL
        SELECT word, wcnt, i + 1, list_append(costs,
          coalesce(list_min(list_transform(list_filter(c$k.ps,
              e -> length(e.p) <= i + 1
                AND e.p = substr(word, i + 1 - length(e.p) + 1, length(e.p))),
            e -> costs[i + 1 - length(e.p) + 1] + e.c)), 1000000000))
        FROM dp$k, c$k WHERE i < length(word)
      ), dw$k AS (
        SELECT word, wcnt, costs FROM dp$k WHERE i = length(word)
      ), bt$k AS (
        SELECT word, wcnt, costs, length(word) AS pos, []::varchar[] AS ps
        FROM dw$k
        UNION ALL
        SELECT word, wcnt, costs, pos - bl,
          list_append(ps, substr(word, pos - bl + 1, bl))
        FROM (
          SELECT b.word, b.wcnt, b.costs, b.pos, b.ps,
            coalesce(list_max(list_transform(list_filter(c$k.ps,
                e -> length(e.p) <= b.pos
                  AND e.p = substr(b.word, b.pos - length(e.p) + 1, length(e.p))
                  AND b.costs[b.pos + 1]
                    = b.costs[b.pos - length(e.p) + 1] + e.c),
              e -> length(e.p))), 0) AS bl
          FROM bt$k b, c$k WHERE b.pos > 0)
      ), u$k AS (
        SELECT unnest(ps) AS p, wcnt FROM bt$k WHERE pos = 0
      ), n$k AS (
        SELECT p, CAST(sum(wcnt) AS BIGINT) AS cnt FROM u$k GROUP BY 1
      ), pd$k AS (
        SELECT p AS pword, 0 AS i, [CAST(0 AS BIGINT)] AS costs
        FROM v${k - 1} WHERE length(p) >= 2
        UNION ALL
        SELECT pword, i + 1, list_append(costs,
          coalesce(list_min(list_transform(list_filter(c$k.ps,
              e -> e.p <> pword AND length(e.p) <= i + 1
                AND e.p = substr(pword, i + 1 - length(e.p) + 1, length(e.p))),
            e -> costs[i + 1 - length(e.p) + 1] + e.c)), 1000000000))
        FROM pd$k, c$k WHERE i < length(pword)
      ), alt$k AS (
        SELECT pword AS p, costs[length(pword) + 1] AS alt
        FROM pd$k WHERE i = length(pword)
      ), loss$k AS (
        SELECT v.p,
          CAST(1000000 // (1 + v.cnt) AS BIGINT) AS cost,
          coalesce(n.cnt, 0) AS newcnt,
          CASE WHEN length(v.p) = 1 THEN CAST(-1 AS BIGINT)
               ELSE CAST(coalesce(n.cnt, 0)
                 * (a.alt - 1000000 // (1 + v.cnt)) AS BIGINT) END AS loss
        FROM v${k - 1} v
        LEFT JOIN n$k n ON v.p = n.p
        LEFT JOIN alt$k a ON v.p = a.p
      ), pr$k AS (
        SELECT p FROM loss$k WHERE loss >= 0 ORDER BY loss, p LIMIT 8
      ), v$k AS (
        SELECT l.p, l.newcnt AS cnt FROM loss$k l
        LEFT JOIN pr$k ON l.p = pr$k.p WHERE pr$k.p IS NULL
      )"""
    def rows(k: Int) = s"""SELECT $k AS round, l.p AS piece, l.cost,
        l.newcnt AS cnt, l.loss, (pr$k.p IS NOT NULL) AS pruned
      FROM loss$k l LEFT JOIN pr$k ON l.p = pr$k.p"""
    s"""WITH RECURSIVE docw AS (
        SELECT unnest(list_filter(
          string_split_regex(lower(text), '\\s+'), x -> x <> '')) AS word
        FROM documents
      ), words AS (
        SELECT word, CAST(count(*) AS BIGINT) AS wcnt FROM docw GROUP BY 1
      ), subs AS (
        SELECT substr(word, i, l) AS p, CAST(sum(wcnt) AS BIGINT) AS cnt
        FROM words
        CROSS JOIN UNNEST(generate_series(1, length(word))) t(i)
        CROSS JOIN UNNEST(generate_series(1, 4)) q(l)
        WHERE i + l - 1 <= length(word)
        GROUP BY 1
      ), v0 AS MATERIALIZED (
        SELECT p, cnt FROM subs WHERE length(p) = 1
        UNION ALL
        SELECT p, cnt FROM (
          SELECT p, cnt FROM subs WHERE length(p) >= 2
          ORDER BY cnt DESC, p LIMIT 24)
      ),
      ${round(1)},
      ${round(2)}
      ${rows(1)}
      UNION ALL
      ${rows(2)}"""
  }

  /** Oracle fragment: the CDC cut list — `cuts(doc_id, text, cuts)` over
    * non-empty documents, cuts = [0] ++ boundary positions ++ [len],
    * boundary after i ⇔ (fnv(text[i−15..i]) >>> 11) % 64 == 0, i < len
    * (window 16, divisor 64, remainder 0 — the qfx/qfy parameters). */
  private lazy val OCdcCuts: String = {
    // the outer lambda variable MUST NOT be `i`: oFnv's byte fold binds
    // its own `i`, and DuckDB resolves the inner binding — a shadowed
    // window position hashes the wrong text (caught by the qfx row gate)
    val h = oFnv("substr(text, CAST(p - 15 AS INT), 16)")
    s"""d AS (
        SELECT doc_id, text, CAST(length(text) AS BIGINT) AS n
        FROM documents WHERE length(text) > 0
      ), cuts AS (
        SELECT doc_id, text, list_concat(list_concat(
          [CAST(0 AS BIGINT)],
          CASE WHEN n >= 16 THEN
            list_filter(generate_series(CAST(16 AS BIGINT), n),
              p -> p < n AND
                (($h // 2048::HUGEINT) % 64::HUGEINT) = 0::HUGEINT)
          ELSE [] END),
          [n]) AS cs
        FROM d
      )"""
  }

  /** DuckDB replay of [[TextPipeline.cdcChunks]] (the qfx gate). */
  private lazy val OCdcChunks: String =
    s"""WITH ${OCdcCuts}
      SELECT doc_id, CAST(j - 1 AS BIGINT) AS chunk_idx,
        cs[j] + 1 AS start,
        substr(text, CAST(cs[j] + 1 AS INT), CAST(cs[j + 1] - cs[j] AS INT))
          AS chunk_text
      FROM cuts CROSS JOIN UNNEST(generate_series(1, len(cs) - 1)) AS t(j)"""

  /** DuckDB replay of [[graft.operators.Dedup.dedupCdcKeepFirst]] (the
    * qfy gate): qep's keep-first machinery over the CDC chunk stream. */
  private[queries] lazy val OCdcDedup: String =
    s"""WITH ${OCdcCuts}, ch AS (
        SELECT doc_id, CAST(j - 1 AS BIGINT) AS ci,
          substr(text, CAST(cs[j] + 1 AS INT), CAST(cs[j + 1] - cs[j] AS INT))
            AS ct
        FROM cuts CROSS JOIN UNNEST(generate_series(1, len(cs) - 1)) AS t(j)
      ), r AS (
        SELECT doc_id, ci, ct,
          row_number() OVER (PARTITION BY ct ORDER BY doc_id, ci) AS rn
        FROM ch
      ), nch AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks FROM ch GROUP BY 1
      )
      SELECT r.doc_id, nch.n_chunks, CAST(count(*) AS BIGINT) AS n_kept,
        string_agg(ct, '' ORDER BY ci) AS text_dedup
      FROM r JOIN nch USING (doc_id) WHERE rn = 1
      GROUP BY 1, 2"""

  /** The qfv/qfw fixed merge table — (t,h), (th,e), (e,</w>), chosen so
    * every rank fires on the fixture ("the"/"hash" chains, trailing-e
    * words). Fixed rather than trained: qdd/qdl already pin training
    * provenance; these gates isolate the DROPOUT draws. */
  private val BpeDropMerges = Seq(("t", "h"), ("th", "e"), ("e", "</w>"))

  /** Oracle fragment: one greedy-leftmost BPE merge fold over
    * per-OCCURRENCE symbol lists as a recursive CTE — consumes `v${k-1}`
    * (doc_id, widx, syms), emits `v$k`. `drop` is a SQL boolean over
    * (doc_id, widx, j) replaying the Spark side's integer draw
    * (fnv >>> 11 mod 1000 < dropMille); pass "FALSE" for no dropout. */
  private def oBpeDropFold(k: Int, l: String, r: String,
                           drop: (Int, String) => String): String = {
    val d = drop(k, "r.j")
    s"""r$k AS (
        SELECT doc_id, widx, syms, 1 AS j, []::varchar[] AS out, '' AS pending
        FROM v${k - 1}
        UNION ALL
        SELECT r.doc_id, r.widx, r.syms, r.j + 1,
          CASE WHEN r.pending = '' THEN r.out
               WHEN r.pending = '$l' AND r.syms[r.j] = '$r' AND NOT ($d)
                 THEN list_append(r.out, '$l$r')
               ELSE list_append(r.out, r.pending) END,
          CASE WHEN r.pending = '' THEN r.syms[r.j]
               WHEN r.pending = '$l' AND r.syms[r.j] = '$r' AND NOT ($d)
                 THEN ''
               ELSE r.syms[r.j] END
        FROM r$k r WHERE r.j <= len(r.syms)
      ), v$k AS (
        SELECT doc_id, widx,
          CASE WHEN pending = '' THEN out
               ELSE list_append(out, pending) END AS syms
        FROM r$k WHERE j = len(syms) + 1
      )"""
  }

  /** DuckDB replay of BPE-DROPOUT encoding (the qfv gate): the fixed
    * 3-merge table applied per word OCCURRENCE with every fuse gated by
    * the replayed integer draw — every dropout decision is pinned by the
    * rendered enc_text. 100-doc slice (the qfp device: the
    * per-occurrence recursion is fold-heavy; corpus-scale evidence is
    * qfw's p=0 degenerate gate over the FULL sf). */
  private lazy val OBpeDropout: String = {
    // the draw key length-prefixes the doc id (an id containing ':'
    // cannot alias another (doc, widx, rank, step) tuple) — must stay in
    // lockstep with bpeEncodeDropout's dropSql rendering
    def drop(k: Int, j: String): String = {
      val key = s"""(CAST(length(CAST(doc_id AS VARCHAR)) AS VARCHAR) || ':'
        || CAST(doc_id AS VARCHAR) || ':' || CAST(widx AS VARCHAR)
        || ':$k:' || CAST($j AS VARCHAR) || ':bpedrop')"""
      s"""((${oFnv(key)} // 2048::HUGEINT) % 1000::HUGEINT < 300::HUGEINT)"""
    }
    val folds = BpeDropMerges.zipWithIndex
      .map { case ((l, r), i) => oBpeDropFold(i + 1, l, r, drop) }
      .mkString(",\n      ")
    s"""WITH RECURSIVE docw AS (
        SELECT doc_id, CAST(i AS BIGINT) AS widx, w[i] AS word
        FROM (SELECT doc_id, list_filter(
            string_split_regex(lower(text), '\\s+'), x -> x <> '') AS w
          FROM documents WHERE doc_id < 100)
        CROSS JOIN UNNEST(generate_series(1, len(w))) AS t(i)
      ), v0 AS MATERIALIZED (
        SELECT doc_id, widx, list_append(
          list_transform(range(1, length(word) + 1), i -> word[i]), '</w>') AS syms
        FROM docw
      ),
      $folds
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
        CAST(sum(len(syms)) AS BIGINT) AS n_tokens,
        string_agg(array_to_string(syms, chr(31)), ' ' ORDER BY widx) AS enc_text
      FROM v${BpeDropMerges.length}
      GROUP BY doc_id"""
  }

  /** DuckDB replay of the qfw gate — BPE-dropout at dropMille = 0 over
    * the FULL sf corpus: with no draws the fold is occurrence-invariant,
    * so the oracle folds each DISTINCT word once and joins back to the
    * instance stream (the occurrence-level Spark machinery must still
    * agree — that is what the gate pins at corpus scale). */
  private lazy val OBpeDropoutScale: String = {
    val folds = BpeDropMerges.zipWithIndex
      .map { case ((l, r), i) => oBpeDropFold(i + 1, l, r, (_, _) => "FALSE") }
      .mkString(",\n      ")
    s"""WITH RECURSIVE docw AS (
        SELECT doc_id, CAST(i AS BIGINT) AS widx, w[i] AS word
        FROM (SELECT doc_id, list_filter(
            string_split_regex(lower(text), '\\s+'), x -> x <> '') AS w
          FROM documents)
        CROSS JOIN UNNEST(generate_series(1, len(w))) AS t(i)
      ), dw AS (
        SELECT DISTINCT word FROM docw
      ), v0 AS MATERIALIZED (
        SELECT word AS doc_id, CAST(0 AS BIGINT) AS widx, list_append(
          list_transform(range(1, length(word) + 1), i -> word[i]), '</w>') AS syms
        FROM dw
      ),
      $folds
      SELECT d.doc_id, CAST(count(*) AS BIGINT) AS n_words,
        CAST(sum(len(v.syms)) AS BIGINT) AS n_tokens,
        string_agg(array_to_string(v.syms, chr(31)), ' ' ORDER BY d.widx) AS enc_text
      FROM docw d JOIN v${BpeDropMerges.length} v ON v.doc_id = d.word
      GROUP BY d.doc_id"""
  }

  private lazy val OMinTokenEncode: String = {
    def lst(ps: Seq[String]) =
      ps.map(p => s"'${p.replace("'", "''")}'").mkString("[", ", ", "]")
    val init = lst(WpVocab.filterNot(_.startsWith("##")))
    val cont = lst(WpVocab.filter(_.startsWith("##")).map(_.stripPrefix("##")))
    s"""WITH RECURSIVE docw AS (
        SELECT doc_id, unnest(list_filter(
          string_split_regex(lower(text), '\\s+'), x -> x <> '')) AS word
        FROM documents
      ), dw AS (
        SELECT DISTINCT word FROM docw
      ), dp AS (
        SELECT word, 0 AS i, [0] AS costs FROM dw
        UNION ALL
        SELECT word, i + 1, list_append(costs, least(
            CASE WHEN list_contains($init, substr(word, 1, i + 1))
                 THEN 1 ELSE 1000000000 END,
            coalesce(list_min(list_transform(list_filter($cont,
                p -> length(p) < i + 1
                  AND p = substr(word, i + 1 - length(p) + 1, length(p))),
              p -> costs[i + 1 - length(p) + 1] + 1)), 1000000000)))
        FROM dp WHERE i < length(word)
      ), wl AS (
        SELECT word,
          CASE WHEN costs[length(word) + 1] >= 1000000000
               THEN 1 ELSE costs[length(word) + 1] END AS w_toks,
          costs[length(word) + 1] >= 1000000000 AS unk
        FROM dp WHERE i = length(word)
      )
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
        CAST(sum(w_toks) AS BIGINT) AS n_tokens,
        CAST(sum(CASE WHEN unk THEN 1 ELSE 0 END) AS BIGINT) AS n_unk_words
      FROM docw JOIN wl USING (word)
      GROUP BY doc_id"""
  }

  /** DuckDB replay of BATCHED BPE training (2 rounds × batch 4 = the qdd
    * gate): per round, pair stats over the current vocabulary are ranked
    * (count DESC, (lhs, rhs) tie-break), the top 4×4 candidates feed a
    * GREEDY non-overlap selection — a recursive single-row carry walking
    * rank order, rejecting any candidate whose lhs, rhs, or fused output
    * lhs||rhs collides with an already-selected pair's inputs/output, and
    * stopping at 4 — then ALL selected pairs are applied in ONE
    * greedy-leftmost fold pass (the fuse test is membership of
    * (pending, next) in the selected set; non-overlap guarantees at most
    * one member matches). This replays the batch>1 logic qd6 (batch=1)
    * cannot see: over-fetch, rank-order greedy used-set selection, and
    * the multi-branch simultaneous rewrite. */
  /** DuckDB replay of ENCODING with the 3 trained merges (the qdl gate):
    * identical argmax + greedy-leftmost fold machinery as [[OBpeTrain3]],
    * but each vocabulary frame carries the source `word` through the
    * folds, so the final frame maps word → encoded token length and the
    * per-document counts come from re-joining the word-instance stream. */
  /** Shared CTE builders for the word-carrying BPE encode replay
    * ([[OBpeEncode3]] and the byte-level [[OByteBpeEncode3]]): argmax =
    * highest-count adjacent pair over vocabulary frame v<i>; fold = one
    * greedy-leftmost merge pass v<i> → v<i+1>. */
  private def oBpeArgmax(i: Int) = s"""p${i + 1} AS MATERIALIZED (
        SELECT syms[i] AS lhs, syms[i + 1] AS rhs, sum(cnt) AS pc
        FROM v$i CROSS JOIN UNNEST(generate_series(1, len(syms) - 1)) AS t(i)
        GROUP BY 1, 2
      ), m${i + 1} AS MATERIALIZED (
        SELECT lhs, rhs, pc FROM p${i + 1}
        ORDER BY pc DESC, lhs, rhs LIMIT 1
      )"""
  // m/p/v are MATERIALIZED (the round-13 CTE-inlining lesson): the
  // recursive fold references m<i> at EVERY recursion step, and an
  // inlined m re-runs its whole argmax subtree per step — the qge
  // byte-level oracle ground ~40 min at sf0.1 before this
  private def oBpeFold(i: Int) = s"""r${i + 1} AS (
        SELECT word, syms, cnt, 1 AS i, []::varchar[] AS out, '' AS pending
        FROM v$i
        UNION ALL
        SELECT r.word, r.syms, r.cnt, r.i + 1,
          CASE WHEN r.pending = '' THEN r.out
               WHEN r.pending = m.lhs AND r.syms[r.i] = m.rhs
                 THEN list_append(r.out, m.lhs || m.rhs)
               ELSE list_append(r.out, r.pending) END,
          CASE WHEN r.pending <> '' AND r.pending = m.lhs
                    AND r.syms[r.i] = m.rhs
               THEN '' ELSE r.syms[r.i] END
        FROM r${i + 1} r, m${i + 1} m WHERE r.i <= len(r.syms)
      ), v${i + 1} AS MATERIALIZED (
        SELECT word, CASE WHEN pending = '' THEN out
                          ELSE list_append(out, pending) END AS syms, cnt
        FROM r${i + 1} WHERE i = len(syms) + 1
      )"""

  private lazy val OBpeEncode3: String = {
    def argmax(i: Int) = oBpeArgmax(i)
    def fold(i: Int) = oBpeFold(i)
    s"""WITH RECURSIVE words AS (
        SELECT w AS word, count(*) AS cnt FROM (
          SELECT unnest(list_filter(
            string_split_regex(lower(text), '\\s+'), x -> x <> '')) AS w
          FROM documents)
        GROUP BY 1
      ), v0 AS MATERIALIZED (
        SELECT word, list_append(
            list_transform(range(1, length(word) + 1), i -> word[i]),
            '</w>') AS syms,
          cnt
        FROM words
      ), ${argmax(0)}, ${fold(0)}, ${argmax(1)}, ${fold(1)}, ${argmax(2)}, ${fold(2)},
      wl AS (
        SELECT word, len(syms) AS w_toks FROM v3
      ), docw AS (
        SELECT doc_id, unnest(list_filter(
          string_split_regex(lower(text), '\\s+'), x -> x <> '')) AS word
        FROM documents
      )
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
        CAST(sum(w_toks) AS BIGINT) AS n_tokens
      FROM docw JOIN wl USING (word)
      GROUP BY doc_id"""
  }

  /** DuckDB replay of BYTE-LEVEL BPE encoding (the qge gate): the same
    * 3-merge word-carrying machinery as [[OBpeEncode3]], but the word
    * alphabet is the byte→unit bijection — each word's code points are
    * expanded to UTF-8 bytes BY ARITHMETIC (cp < 0x80/0x800/0x10000
    * branches) and every byte b renders as chr(10240 + b), replaying
    * graft.functions.ByteUnitsExpr exactly. The staged corpus plants
    * 2-byte (é, à, ï) and 4-byte (U+1F600) code points via chr() so the
    * multi-byte paths are genuinely exercised, not just ASCII. */
  private lazy val OByteBpeEncode3: String = {
    def utf8units(cp: String) = s"""CASE
        WHEN $cp < 128 THEN [chr(10240 + $cp)]
        WHEN $cp < 2048 THEN
          [chr(10240 + 192 + $cp // 64), chr(10240 + 128 + $cp % 64)]
        WHEN $cp < 65536 THEN
          [chr(10240 + 224 + $cp // 4096),
           chr(10240 + 128 + ($cp // 64) % 64),
           chr(10240 + 128 + $cp % 64)]
        ELSE
          [chr(10240 + 240 + $cp // 262144),
           chr(10240 + 128 + ($cp // 4096) % 64),
           chr(10240 + 128 + ($cp // 64) % 64),
           chr(10240 + 128 + $cp % 64)] END"""
    s"""WITH RECURSIVE staged AS (
        SELECT doc_id, CASE
            WHEN doc_id % 5 = 0 THEN text || ' caf' || chr(233) || ' d'
              || chr(233) || 'j' || chr(224) || ' vu'
            WHEN doc_id % 7 = 3 THEN text || ' ' || chr(128512) || ' na'
              || chr(239) || 've'
            ELSE text END AS text
        FROM documents
      ), docw0 AS (
        SELECT doc_id, unnest(list_filter(
          string_split_regex(lower(text), '\\s+'), x -> x <> '')) AS rw
        FROM staged
      ), docw AS (
        SELECT doc_id, array_to_string(flatten(
          list_transform(range(1, length(rw) + 1), i ->
            ${utf8units("unicode(rw[i])")})), '') AS word
        FROM docw0
      ), words AS (
        SELECT word, count(*) AS cnt FROM docw GROUP BY 1
      ), v0 AS MATERIALIZED (
        SELECT word, list_append(
            list_transform(range(1, length(word) + 1), i -> word[i]),
            '</w>') AS syms,
          cnt
        FROM words
      ), ${oBpeArgmax(0)}, ${oBpeFold(0)}, ${oBpeArgmax(1)}, ${oBpeFold(1)},
      ${oBpeArgmax(2)}, ${oBpeFold(2)},
      wl AS (
        SELECT word, len(syms) AS w_toks FROM v3
      )
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
        CAST(sum(w_toks) AS BIGINT) AS n_tokens
      FROM docw JOIN wl USING (word)
      GROUP BY doc_id"""
  }

  /** DuckDB replay of the 4-step DoReMi trajectory over the staged
    * documents corpus (excess = n_chars % 997, step = doc_id % 4, η =
    * 500 milli, smoothing = 100 milli) — shared verbatim by the batch
    * gate (qga) and the one-delivery streaming gate (qgf): the whole
    * multiplicative-weights loop unrolled in HUGEINT, bit-for-bit
    * against Sampling.doremiTrajectory's BigInt arithmetic. */
  /** The WITH-chain of [[ODoremi4]] without the final SELECT, so
    * composition gates (qgh) can extend it with further CTEs. */
  private lazy val ODoremi4Ctes: String = {
    val steps = (0 until 4).map { t =>
      s"""p$t AS (
        SELECT w.domain, (w.w * (1000 + (500 * coalesce(l.lam, 0)) // 1000))
          // 1000 AS wp
        FROM w$t w LEFT JOIN (SELECT domain, lam FROM lam WHERE t = $t) l
          USING (domain)
      ), s$t AS (SELECT sum(wp) AS tot FROM p$t),
      w${t + 1} AS (
        SELECT p.domain,
          CAST((900 * ((p.wp * 1000000000::HUGEINT) // s.tot)) // 1000
            + (100 * (1000000000 // kc.c)) // 1000 AS HUGEINT) AS w
        FROM p$t p, s$t s, kc
      )"""
    }.mkString(",\n")
    s"""WITH doms AS MATERIALIZED (
        SELECT DISTINCT source AS domain FROM documents
      ), kc AS MATERIALIZED (
        SELECT CAST(count(*) AS BIGINT) AS c FROM doms
      ), lam AS MATERIALIZED (
        SELECT doc_id % 4 AS t, source AS domain,
          least(sum(greatest(n_chars % 997, 0)) // count(*), 1000000) AS lam
        FROM documents GROUP BY 1, 2
      ), w0 AS (
        SELECT domain, CAST(1000000000 // kc.c AS HUGEINT) AS w FROM doms, kc
      ),
      $steps"""
  }

  private[queries] lazy val ODoremi4: String =
    s"""$ODoremi4Ctes
      SELECT w1.domain AS source,
        CAST((w1.w + w2.w + w3.w + w4.w) // 4 AS BIGINT) AS avg_weight_nanos,
        CAST(w4.w AS BIGINT) AS final_weight_nanos
      FROM w1 JOIN w2 USING (domain) JOIN w3 USING (domain)
        JOIN w4 USING (domain)"""

  private lazy val OBpeTrainBatched2x4: String = {
    val selTy = "STRUCT(lhs VARCHAR, rhs VARCHAR, pc BIGINT)"
    // candidate ranking + greedy selection over vocabulary frame v<i>
    def select(i: Int) = s"""pb$i AS (
        SELECT syms[i] AS lhs, syms[i + 1] AS rhs, sum(cnt) AS pc
        FROM v$i CROSS JOIN UNNEST(generate_series(1, len(syms) - 1)) AS t(i)
        GROUP BY 1, 2
      ), cb$i AS (
        SELECT lhs, rhs, CAST(pc AS BIGINT) AS pc,
          row_number() OVER (ORDER BY pc DESC, lhs, rhs) AS rnk
        FROM pb$i QUALIFY rnk <= 16
      ), gb$i AS (
        SELECT 0 AS rnk, []::VARCHAR[] AS used, []::$selTy[] AS sel
        UNION ALL
        SELECT c.rnk,
          CASE WHEN len(g.sel) < 4 AND NOT (list_contains(g.used, c.lhs)
                 OR list_contains(g.used, c.rhs)
                 OR list_contains(g.used, c.lhs || c.rhs))
            THEN list_concat(g.used, [c.lhs, c.rhs, c.lhs || c.rhs])
            ELSE g.used END,
          CASE WHEN len(g.sel) < 4 AND NOT (list_contains(g.used, c.lhs)
                 OR list_contains(g.used, c.rhs)
                 OR list_contains(g.used, c.lhs || c.rhs))
            THEN list_append(g.sel, {'lhs': c.lhs, 'rhs': c.rhs, 'pc': c.pc})
            ELSE g.sel END
        FROM gb$i g JOIN cb$i c ON c.rnk = g.rnk + 1
      ), sb$i AS (
        SELECT sel FROM gb$i ORDER BY rnk DESC LIMIT 1
      )"""
    // one fold pass applying EVERY pair in sb<i>.sel to v<i> → v<i+1>
    def fold(i: Int) = s"""rb$i AS (
        SELECT syms, cnt, 1 AS i, []::VARCHAR[] AS out, '' AS pending
        FROM v$i
        UNION ALL
        SELECT r.syms, r.cnt, r.i + 1,
          CASE WHEN r.pending = '' THEN r.out
               WHEN len(list_filter(m.sel,
                   p -> p.lhs = r.pending AND p.rhs = r.syms[r.i])) > 0
                 THEN list_append(r.out, r.pending || r.syms[r.i])
               ELSE list_append(r.out, r.pending) END,
          CASE WHEN r.pending <> '' AND len(list_filter(m.sel,
                   p -> p.lhs = r.pending AND p.rhs = r.syms[r.i])) > 0
               THEN '' ELSE r.syms[r.i] END
        FROM rb$i r, sb$i m WHERE r.i <= len(r.syms)
      ), v${i + 1} AS (
        SELECT CASE WHEN pending = '' THEN out
                    ELSE list_append(out, pending) END AS syms, cnt
        FROM rb$i WHERE i = len(syms) + 1
      )"""
    s"""WITH RECURSIVE words AS (
        SELECT w AS word, count(*) AS cnt FROM (
          SELECT unnest(list_filter(
            string_split_regex(lower(text), '\\s+'), x -> x <> '')) AS w
          FROM documents)
        GROUP BY 1
      ), v0 AS MATERIALIZED (
        SELECT list_append(
            list_transform(range(1, length(word) + 1), i -> word[i]),
            '</w>') AS syms,
          cnt
        FROM words
      ), ${select(0)}, ${fold(0)}, ${select(1)}
      SELECT * FROM (
        SELECT CAST(1 AS INTEGER) AS rnd, u.lhs, u.rhs,
          CAST(u.pc AS BIGINT) AS pair_count
        FROM (SELECT unnest(sel) AS u FROM sb0)
        UNION ALL
        SELECT CAST(2 AS INTEGER), u.lhs, u.rhs, CAST(u.pc AS BIGINT)
        FROM (SELECT unnest(sel) AS u FROM sb1))
      ORDER BY rnd, lhs, rhs"""
  }

  /** Oracle fragment: whitespace tokens of `text` as a DuckDB list. */

  /** DuckDB replay of the mixture→curriculum COMPOSITION (gates qey and
    * qfu — the batch pipeline and its single-delivery streaming face
    * share this oracle verbatim): UniMax waterfill → copy realization →
    * sqrt-weight stride interleave → global (vt, lang, rk) positions. */
  private[queries] lazy val OMixtureCurriculum: String =
    s"""WITH RECURSIVE c AS (
          SELECT lang, CAST(count(*) AS BIGINT) AS n,
            CAST(count(*) * 2 AS BIGINT) AS cap,
            CAST(row_number() OVER (ORDER BY count(*) * 2, lang) AS BIGINT) AS rn,
            CAST(count(*) OVER () AS BIGINT) AS gcnt
          FROM documents GROUP BY lang
        ), wf AS (
          SELECT CAST(0 AS BIGINT) AS i, CAST(900 AS BIGINT) AS rem,
            CAST(NULL AS VARCHAR) AS lang, CAST(NULL AS BIGINT) AS alloc
          UNION ALL
          SELECT c.rn, wf.rem - least(c.cap, wf.rem // (c.gcnt - wf.i)),
            c.lang, least(c.cap, wf.rem // (c.gcnt - wf.i))
          FROM wf JOIN c ON c.rn = wf.i + 1
        ), a AS (
          SELECT lang, alloc FROM wf WHERE lang IS NOT NULL
        ), r0 AS (
          SELECT doc_id, lang, row_number() OVER (PARTITION BY lang
            ORDER BY ${oUnitHash("doc_id", "unimax")}, doc_id) AS rk
          FROM documents
        ), real AS (
          SELECT r0.doc_id, r0.lang,
            (a.alloc // c.n) + CASE WHEN r0.rk <= (a.alloc % c.n)
              THEN 1 ELSE 0 END AS n_copies
          FROM r0 JOIN a USING (lang) JOIN c USING (lang)
        ), cp AS (
          SELECT CAST(doc_id AS VARCHAR) || '#' || CAST(unnest(range(n_copies)) AS VARCHAR) AS cid,
            lang
          FROM real WHERE n_copies > 0
        ), cnt AS (
          SELECT lang, count(*) AS n FROM cp GROUP BY 1
        ), w AS (
          SELECT lang, CAST(floor(sqrt(CAST(n AS DOUBLE))) AS BIGINT) AS weight
          FROM cnt
        ), rr AS (
          SELECT cid, lang, CAST(row_number() OVER (
            PARTITION BY lang
            ORDER BY ${oUnitHash("cid", "stride")}, cid) AS BIGINT) AS rk
          FROM cp
        ), v AS (
          SELECT cid, lang, rk,
            ((2 * rk - 1) * 1000000) // (2 * weight) AS vt
          FROM rr JOIN w USING (lang)
        )
        SELECT cid, lang, rk, vt,
          CAST(row_number() OVER (ORDER BY vt, lang, rk) - 1 AS BIGINT) AS pos
        FROM v"""

  /** qeg's Spark-side SQL, exposed so DedupSpec can differential-fuzz it
    * against the Column-API pipeline over a `documents` temp view. Reads
    * table `documents(doc_id, text)`; parameters match
    * Dedup.minhashDupPairs(n=2, k=128, bands=64, threshold=0.5). */
  private[graft] val SqlDedupPipeline: String = """WITH sh AS (
            SELECT doc_id AS doc, shingle_hashes(text, 2) AS shs FROM documents
          ), sigs AS (
            SELECT doc, minhash_sig(shs, 128) AS sig FROM sh
          ), banded AS (
            SELECT doc, t.band, t.bucket FROM sigs
            LATERAL VIEW posexplode(transform(sequence(0, 63),
              i -> xxhash64('band', i, slice(sig, i * 2 + 1, 2)))) t AS band, bucket
          ), cands AS (
            SELECT DISTINCT a.doc AS id1, b.doc AS id2
            FROM banded a JOIN banded b
              ON a.band = b.band AND a.bucket = b.bucket AND a.doc < b.doc
          ), agreed AS (
            SELECT id1, id2 FROM cands
            JOIN sigs s1 ON cands.id1 = s1.doc
            JOIN sigs s2 ON cands.id2 = s2.doc
            WHERE size(filter(zip_with(s1.sig, s2.sig, (x, y) -> x = y), v -> v))
                  / CAST(size(s1.sig) AS DOUBLE) >= 0.25
          ), verified AS (
            SELECT id1, id2,
              CAST(size(array_intersect(x.shs, y.shs)) AS DOUBLE)
                / (size(x.shs) + size(y.shs)
                   - size(array_intersect(x.shs, y.shs))) AS jaccard
            FROM agreed JOIN sh x ON id1 = x.doc JOIN sh y ON id2 = y.doc
          )
          SELECT id1, id2, round(jaccard, 9) AS jaccard
          FROM verified WHERE jaccard >= 0.5"""

  /** Oracle fragment: the shared-span CTE chain (Dedup.sharedSpans with
    * n=8, minTokens=12, maxDf=64 on `documents`) — replayed on n-gram
    * STRINGS where Spark joins hashes; exposes `toks(doc_id, w)` and
    * `spans(id1, id2, start1, start2, span_tokens)` for qcf/qck. */
  private val OSpanCtes = s"""toks AS (
      SELECT doc_id, $OTOKS AS w FROM documents
    ), g AS (
      SELECT doc_id, i - 1 AS pos, array_to_string(w[i : i + 7], ' ') AS ng
      FROM toks CROSS JOIN UNNEST(generate_series(1, len(w) - 7)) AS t(i)
      WHERE len(w) >= 8
    ), keys AS (
      SELECT ng FROM g GROUP BY ng
      HAVING count(DISTINCT doc_id) BETWEEN 2 AND 64
    ), sd AS (
      SELECT g.* FROM g JOIN keys USING (ng)
    ), p AS (
      SELECT a.doc_id AS id1, b.doc_id AS id2, a.pos AS p1, b.pos AS p2,
        a.pos - b.pos AS diag
      FROM sd a JOIN sd b ON a.ng = b.ng AND a.doc_id < b.doc_id
    ), r AS (
      SELECT *, p1 - row_number() OVER (
        PARTITION BY id1, id2, diag ORDER BY p1) AS island FROM p
    ), spans AS (
      SELECT id1, id2, min(p1) AS start1, min(p2) AS start2,
        max(p1) - min(p1) + 8 AS span_tokens
      FROM r GROUP BY id1, id2, diag, island
      HAVING max(p1) - min(p1) + 8 >= 12
    )"""

  /** Oracle fragment: Sampling.unitHash replayed — (fnv >>> 11) / 2^53. */
  private[queries] def oUnitHash(idExpr: String, salt: String): String =
    s"""(CAST(${oFnv(s"(CAST($idExpr AS VARCHAR) || ':$salt')")} // 2048::HUGEINT AS DOUBLE)
        / 9007199254740992.0)"""

  private val DayUs = 86400000000L
  private val FiveMinUs = 300000000L

  /** qf8's oracle, shared by its stream face qfc (perfbench fingerprints
    * this text: keep it byte-identical). */
  private[queries] lazy val OExactSubstrDedup: String =
    """WITH g AS (
          SELECT doc_id, i - 1 AS pos, substring(text, i, 40) AS gram
          FROM documents
          CROSS JOIN UNNEST(generate_series(1, len(text) - 39)) AS u(i)
          WHERE len(text) >= 40
        ), dup AS (
          SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2
        ), iv AS (
          SELECT doc_id, pos AS s, pos + 40 AS e FROM g
          WHERE gram IN (SELECT gram FROM dup)
        ), brk AS (
          SELECT doc_id, s, e,
            CASE WHEN s > coalesce(max(e) OVER (PARTITION BY doc_id
              ORDER BY s, e ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
              -1) THEN 1 ELSE 0 END AS b
          FROM iv
        ), grps AS (
          SELECT doc_id, s, e,
            sum(b) OVER (PARTITION BY doc_id ORDER BY s, e) AS grp
          FROM brk
        ), mi AS (
          SELECT doc_id, grp, min(s) AS s, max(e) AS e FROM grps GROUP BY 1, 2
        ), seg AS (
          SELECT doc_id,
            coalesce(lag(e) OVER (PARTITION BY doc_id ORDER BY s), 0) AS gs,
            s AS ge
          FROM mi
          UNION ALL
          SELECT doc_id, max(e) AS gs, NULL AS ge FROM mi GROUP BY doc_id
        ), rec AS (
          SELECT d.doc_id,
            string_agg(substring(d.text, seg.gs + 1,
              coalesce(seg.ge, len(d.text)) - seg.gs), '' ORDER BY seg.gs)
              AS ct
          FROM documents d JOIN seg ON d.doc_id = seg.doc_id
          GROUP BY d.doc_id
        ), agg AS (
          SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
            CAST(sum(e - s) AS BIGINT) AS n_removed
          FROM mi GROUP BY 1
        )
        SELECT d.doc_id, coalesce(rec.ct, d.text) AS clean_text,
          coalesce(agg.n_spans, CAST(0 AS BIGINT)) AS n_spans,
          coalesce(agg.n_removed, CAST(0 AS BIGINT)) AS n_removed
        FROM documents d
        LEFT JOIN rec USING (doc_id)
        LEFT JOIN agg USING (doc_id)"""

  /** qf6's oracle, shared by its stream face qfr. */
  private[queries] lazy val OCompetenceCurriculum: String =
    s"""WITH nn AS (
          SELECT doc_id, CAST(len($OTOKS) AS BIGINT) AS n_toks FROM documents
        ), r AS (
          SELECT doc_id, n_toks,
            CAST(row_number() OVER (ORDER BY n_toks, doc_id) AS BIGINT) AS rank,
            CAST(count(*) OVER () AS BIGINT) AS n
          FROM nn
        )
        SELECT doc_id, n_toks, rank,
          (rank * rank * 1000 + n * n - 1) // (n * n) AS first_step
        FROM r"""

  /** qep's oracle, shared by its stream face qer. */
  private[queries] lazy val OChunkDedup: String =
    s"""WITH toks AS (
          SELECT doc_id, $OTOKS AS w FROM documents
        ), n AS (
          SELECT doc_id, w, len(w) AS n FROM toks
        ), c AS (
          SELECT doc_id, w, unnest(range(CAST(CASE WHEN n > 0
            THEN ceil(n / 8.0) ELSE 0 END AS BIGINT))) AS ci
          FROM n
        ), ch AS (
          SELECT doc_id, ci, array_to_string(w[ci*8 + 1 : ci*8 + 8], ' ') AS ct
          FROM c
        ), r AS (
          SELECT doc_id, ci, ct,
            row_number() OVER (PARTITION BY ct ORDER BY doc_id, ci) AS rn
          FROM ch
        ), nch AS (
          SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks FROM ch GROUP BY 1
        )
        SELECT r.doc_id, nch.n_chunks, CAST(count(*) AS BIGINT) AS n_kept,
          string_agg(ct, ' ' ORDER BY ci) AS text_dedup
        FROM r JOIN nch USING (doc_id) WHERE rn = 1
        GROUP BY 1, 2"""

  /** qf4's oracle, shared by its stream face qfi. */
  private[queries] lazy val OMixtureTopup: String =
    s"""WITH RECURSIVE base AS (
          SELECT lang,
            count(*) FILTER (WHERE doc_id % 3 != 0) AS cur,
            count(*) FILTER (WHERE doc_id % 3 = 0) AS n_avail
          FROM documents GROUP BY 1
        ), caps AS (
          SELECT lang,
            CAST(least(greatest(600 - cur, 0), n_avail) AS BIGINT) AS cap,
            CAST(row_number() OVER (ORDER BY
              least(greatest(600 - cur, 0), n_avail), lang) AS BIGINT) AS rn,
            CAST(count(*) OVER () AS BIGINT) AS gcnt
          FROM base
        ), wf AS (
          SELECT CAST(0 AS BIGINT) AS i, CAST(400 AS BIGINT) AS rem,
            CAST(NULL AS VARCHAR) AS lang, CAST(NULL AS BIGINT) AS admit
          UNION ALL
          SELECT c.rn, wf.rem - least(c.cap, wf.rem // (c.gcnt - wf.i)),
            c.lang, least(c.cap, wf.rem // (c.gcnt - wf.i))
          FROM wf JOIN caps c ON c.rn = wf.i + 1
        ), a AS (
          SELECT lang, admit FROM wf WHERE lang IS NOT NULL
        ), r AS (
          SELECT doc_id, lang, CAST(row_number() OVER (PARTITION BY lang
            ORDER BY ${oUnitHash("doc_id", "topup")}, doc_id) AS BIGINT) AS rk
          FROM documents WHERE doc_id % 3 = 0
        )
        SELECT doc_id, lang, rk FROM r JOIN a USING (lang)
        WHERE rk <= admit"""

  /** qd0's oracle, shared by its stream face qet. */
  private[queries] lazy val OPrioritySample: String =
    s"""WITH u AS (
          SELECT doc_id, n_chars,
            ${oUnitHash("doc_id", "priority")} AS u FROM documents
        )
        SELECT doc_id, n_chars,
          CAST(n_chars AS DOUBLE) /
            (CASE WHEN u = 0.0 THEN 1.0 / 9007199254740992.0 ELSE u END)
            AS priority
        FROM u ORDER BY priority DESC, doc_id LIMIT 100"""

  def entries: Seq[Entry] = Seq(

    // ---- as-of (point-in-time) joins --------------------------------------

    Entry("qb0_asof_backward",
      (s, dir) => {
        val ev = t(s, dir, "events")
        val views = ev.filter(col("event_type") === "view")
          .select(col("event_id"), col("user_id"), col("ts"))
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts"), col("event_id"), col("value"))
        AsOfJoin.backward(views, purchases, key = "user_id",
          leftTs = "ts", rightTs = "ts", tiebreak = "event_id",
          toleranceUs = DayUs, rightPrefix = "p_")
          .select(col("event_id").as("view_id"), col("user_id"),
            unix_micros(col("ts")).as("view_ts_us"),
            col("p_event_id").as("purchase_id"),
            unix_micros(col("p_ts")).as("purchase_ts_us"),
            col("p_value").as("purchase_value"))
      },
      Some(s"""WITH u AS (
          SELECT user_id, ts, 0 AS is_left, event_id, value FROM events
          WHERE event_type = 'purchase'
          UNION ALL
          SELECT user_id, ts, 1, event_id, NULL FROM events
          WHERE event_type = 'view'
        ), c AS (
          SELECT user_id, ts, is_left, event_id,
            last_value(CASE WHEN is_left = 0 THEN event_id END IGNORE NULLS) OVER w AS p_id,
            last_value(CASE WHEN is_left = 0 THEN epoch_us(ts) END IGNORE NULLS) OVER w AS p_ts_us,
            last_value(CASE WHEN is_left = 0 THEN value END IGNORE NULLS) OVER w AS p_value
          FROM u
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, is_left, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        )
        SELECT event_id AS view_id, user_id, epoch_us(ts) AS view_ts_us,
          CASE WHEN epoch_us(ts) - p_ts_us <= $DayUs THEN p_id END AS purchase_id,
          CASE WHEN epoch_us(ts) - p_ts_us <= $DayUs THEN p_ts_us END AS purchase_ts_us,
          CASE WHEN epoch_us(ts) - p_ts_us <= $DayUs THEN p_value END AS purchase_value
        FROM c WHERE is_left = 1""")),

    Entry("qb1_asof_forward",
      (s, dir) => {
        val ev = t(s, dir, "events")
        val signups = ev.filter(col("event_type") === "signup")
          .select(col("event_id"), col("user_id"), col("ts"))
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts"), col("event_id"), col("value"))
        AsOfJoin.forward(signups, purchases, key = "user_id",
          leftTs = "ts", rightTs = "ts", tiebreak = "event_id",
          rightPrefix = "p_")
          .select(col("event_id").as("signup_id"), col("user_id"),
            unix_micros(col("ts")).as("signup_ts_us"),
            col("p_event_id").as("purchase_id"),
            unix_micros(col("p_ts")).as("purchase_ts_us"))
      },
      Some("""WITH u AS (
          SELECT user_id, ts, 0 AS is_left, event_id FROM events
          WHERE event_type = 'purchase'
          UNION ALL
          SELECT user_id, ts, 1, event_id FROM events
          WHERE event_type = 'signup'
        ), c AS (
          SELECT user_id, ts, is_left, event_id,
            last_value(CASE WHEN is_left = 0 THEN event_id END IGNORE NULLS) OVER w AS p_id,
            last_value(CASE WHEN is_left = 0 THEN epoch_us(ts) END IGNORE NULLS) OVER w AS p_ts_us
          FROM u
          WINDOW w AS (PARTITION BY user_id ORDER BY ts DESC, is_left, event_id DESC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        )
        SELECT event_id AS signup_id, user_id, epoch_us(ts) AS signup_ts_us,
          p_id AS purchase_id, p_ts_us AS purchase_ts_us
        FROM c WHERE is_left = 1""")),

    // ---- binned non-equi range join ---------------------------------------

    Entry("qb2_range_join_binned",
      (s, dir) => {
        val ev = t(s, dir, "events")
        val points = ev.filter(col("event_type") === "view")
          .select(col("event_id").as("view_id"), unix_micros(col("ts")).as("pt_us"))
        val intervals = ev.filter(col("event_type") === "error")
          .select(col("event_id").as("error_id"),
            unix_micros(col("ts")).as("lo_us"),
            (unix_micros(col("ts")) + FiveMinUs).as("hi_us"))
        RangeJoin.pointInInterval(points, "pt_us", intervals, "lo_us", "hi_us",
          binWidthUs = FiveMinUs)
          .select("view_id", "error_id", "pt_us", "lo_us")
      },
      Some(s"""SELECT v.event_id AS view_id, e.event_id AS error_id,
          epoch_us(v.ts) AS pt_us, epoch_us(e.ts) AS lo_us
        FROM events v JOIN events e
          ON v.event_type = 'view' AND e.event_type = 'error'
          AND epoch_us(v.ts) >= epoch_us(e.ts)
          AND epoch_us(v.ts) < epoch_us(e.ts) + $FiveMinUs""")),

    // ---- bloom-pruned semi join -------------------------------------------

    Entry("qb3_bloom_semi",
      (s, dir) => {
        val bigOrders = t(s, dir, "orders")
          .filter(col("o_totalprice") > 400000.0)
          .select(col("o_custkey").as("c_custkey"))
        BloomPrune.semiJoin(t(s, dir, "customer"), bigOrders, "c_custkey",
          expectedItems = 100000L)
          .select("c_custkey", "c_name")
      },
      Some("""SELECT c_custkey, c_name FROM customer
        WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 400000.0)""")),

    // ---- deterministic sampling / splits ----------------------------------

    Entry("qb4_split",
      (s, dir) => Sampling.split(t(s, dir, "documents"), "doc_id",
          weights = Seq(0.8, 0.1, 0.1), names = Seq("train", "val", "test"))
        .select("doc_id", "split"),
      Some(s"""SELECT doc_id,
          CASE WHEN ${oUnitHash("doc_id", "split")} < 0.8 THEN 'train'
               WHEN ${oUnitHash("doc_id", "split")} < 0.9 THEN 'val'
               ELSE 'test' END AS split
        FROM documents""")),

    // k-fold CV assignment (FlinkML Splitter.kFoldSplit analogue):
    // content-hash folds, stable and SQL-replayable; floor(u*k) uses the
    // same double on both engines so the fold id matches bit-for-bit.
    Entry("qby_kfold",
      (s, dir) => Sampling.kFold(t(s, dir, "documents"), "doc_id", k = 5)
        .select("doc_id", "fold"),
      Some(s"""SELECT doc_id,
          CAST(floor(${oUnitHash("doc_id", "kfold")} * 5) AS INTEGER) AS fold
        FROM documents""")),

    Entry("qb5_stratified_sample",
      (s, dir) => Sampling.stratified(t(s, dir, "documents"), "doc_id", "lang",
          fractions = Map("en" -> 0.5, "de" -> 0.25, "fr" -> 0.1))
        .select("doc_id", "lang"),
      Some(s"""SELECT doc_id, lang FROM documents
        WHERE ${oUnitHash("doc_id", "strat")} <
          CASE lang WHEN 'en' THEN 0.5 WHEN 'de' THEN 0.25 WHEN 'fr' THEN 0.1
               ELSE 0.0 END""")),

    // ---- document -> training-example transforms --------------------------

    Entry("qb6_chunk",
      (s, dir) => TextPipeline.chunk(t(s, dir, "documents"), "doc_id", "text",
        chunkSize = 64, overlap = 16),
      Some(s"""WITH toks AS (
          SELECT doc_id, $OTOKS AS w FROM documents
        ), n AS (
          SELECT doc_id, w, len(w) AS n FROM toks
        ), c AS (
          SELECT doc_id, w, n,
            unnest(range(CAST(CASE WHEN n > 0
              THEN greatest(ceil((n - 16) / 48.0), 1) ELSE 0 END AS BIGINT))) AS ci
          FROM n
        )
        SELECT doc_id, ci AS chunk_idx,
          array_to_string(w[ci*48 + 1 : ci*48 + 64], ' ') AS chunk_text,
          least(n - ci*48, 64) AS n_tokens
        FROM c""")),

    Entry("qb7_pack_budget",
      (s, dir) => {
        val d = t(s, dir, "documents")
          .select(col("doc_id"), col("lang"),
            TextFunctions.tokenCount(col("text")).as("n_toks"))
        TextPipeline.packBudget(d, orderCol = "doc_id", tokenCol = "n_toks",
          budget = 500L, partCol = col("lang"))
      },
      Some(s"""SELECT doc_id, lang, len($OTOKS) AS n_toks,
          CAST(floor((sum(least(len($OTOKS), 500)) OVER
            (PARTITION BY lang ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1) / 500)
            AS BIGINT) AS bin
        FROM documents""")),

    Entry("qb8_pii_scrub",
      (s, dir) => {
        // fixture text carries no PII, so plant a deterministic specimen per
        // doc — the scrub pipeline and its oracle replay the same planting
        val d = t(s, dir, "documents").select(col("doc_id"),
          concat(col("text"), lit(" contact user"), col("doc_id"),
            lit("@example.com via 10.0.0."), pmod(col("doc_id"), lit(256)),
            lit(" or 555-123-4567")).as("text"))
        TextPipeline.scrubPii(d, "text")
          .select("doc_id", "n_emails", "n_ips", "n_numbers", "clean_text")
      },
      Some {
        val t0 = """(text || ' contact user' || CAST(doc_id AS VARCHAR) ||
          '@example.com via 10.0.0.' || CAST(doc_id % 256 AS VARCHAR) ||
          ' or 555-123-4567')"""
        val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
        val ip = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
        val num = "\\b[0-9][0-9 -]{6,}[0-9]\\b"
        s"""WITH staged AS (
          SELECT doc_id, $t0 AS t0,
            regexp_replace($t0, '$email', '<EMAIL>', 'g') AS t1
          FROM documents
        ), staged2 AS (
          SELECT doc_id, t0, t1,
            regexp_replace(t1, '$ip', '<IP>', 'g') AS t2
          FROM staged
        )
        SELECT doc_id,
          len(regexp_extract_all(t0, '$email')) AS n_emails,
          len(regexp_extract_all(t1, '$ip')) AS n_ips,
          len(regexp_extract_all(t2, '$num')) AS n_numbers,
          regexp_replace(t2, '$num', '<NUMBER>', 'g') AS clean_text
        FROM staged2"""
      }),

    Entry("qb9_unigram_logprob",
      (s, dir) => TextPipeline.unigramLogProb(t(s, dir, "documents"),
          "doc_id", "text")
        .select(col("doc_id"), round(col("logprob"), 6).as("logprob"),
          col("n_toks")),
      Some("""WITH toks AS (
          SELECT doc_id,
            unnest(list_filter(string_split_regex(lower(text), '\s+'),
              x -> x <> '')) AS tok
          FROM documents
        ), counts AS (
          SELECT tok, count(*) AS cnt FROM toks GROUP BY tok
        ), tot AS (
          SELECT sum(cnt) AS total, count(*) AS vocab FROM counts
        ), probs AS (
          SELECT tok, ln((cnt + 1) / (total + vocab)) AS logp
          FROM counts, tot
        )
        SELECT doc_id, round(avg(logp), 6) AS logprob,
          CAST(count(*) AS BIGINT) AS n_toks
        FROM toks JOIN probs USING (tok)
        GROUP BY doc_id""")),

    // Bigram-LM scoring (CCNet-class perplexity filter, one order above
    // qb9): P(b|a) = (C(a,b)+1)/(C(a)+V) over the corpus, doc score =
    // avg ln P over its bigrams; 6-decimal rounding absorbs ln ulp drift
    // (the qb9 device). Bigrams come from an in-row transform over the
    // token array — no positional self-join, no extra shuffle.
    Entry("qdb_bigram_logprob",
      (s, dir) => TextPipeline.bigramLogProb(t(s, dir, "documents"),
          "doc_id", "text")
        .select(col("doc_id"), round(col("logprob"), 6).as("logprob"),
          col("n_bigrams")),
      Some("""WITH toks AS (
          SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
            x -> x <> '') AS t
          FROM documents
        ), bigrams AS (
          SELECT doc_id, t[i] AS a, t[i + 1] AS b
          FROM toks CROSS JOIN UNNEST(generate_series(1, len(t) - 1)) AS u(i)
          WHERE len(t) > 1
        ), bg AS (
          SELECT a, b, count(*) AS cab FROM bigrams GROUP BY a, b
        ), uni AS (
          SELECT tok, count(*) AS ca FROM (
            SELECT unnest(t) AS tok FROM toks) GROUP BY tok
        ), voc AS (SELECT count(*) AS v FROM uni
        ), probs AS (
          SELECT bg.a, bg.b, ln((bg.cab + 1) / (uni.ca + voc.v)) AS logp
          FROM bg JOIN uni ON uni.tok = bg.a, voc
        ), scored AS (
          SELECT doc_id, round(avg(logp), 6) AS logprob,
            CAST(count(*) AS BIGINT) AS n_bigrams
          FROM bigrams JOIN probs USING (a, b)
          GROUP BY doc_id
        )
        SELECT d.doc_id, s.logprob,
          COALESCE(s.n_bigrams, 0) AS n_bigrams
        FROM (SELECT DISTINCT doc_id FROM documents) d
        LEFT JOIN scored s USING (doc_id)""")),

    // Interpolated Kneser-Ney bigram scoring (qdb's model with the
    // smoothing real n-gram LMs use): D = 3/4 as a rational keeps the
    // probability an exact BIGINT ratio both engines build identically —
    // only the final ln floats, absorbed by round-6 (the qb9 device).
    Entry("qdz_kneser_ney_logprob",
      (s, dir) => TextPipeline.kneserNeyBigramLogProb(t(s, dir, "documents"),
          "doc_id", "text")
        .select(col("doc_id"), round(col("logprob"), 6).as("logprob"),
          col("n_bigrams")),
      Some("""WITH toks AS (
          SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
            x -> x <> '') AS t
          FROM documents
        ), bigrams AS (
          SELECT doc_id, t[i] AS a, t[i + 1] AS b
          FROM toks CROSS JOIN UNNEST(generate_series(1, len(t) - 1)) AS u(i)
          WHERE len(t) > 1
        ), bg AS (
          SELECT a, b, CAST(count(*) AS BIGINT) AS cab FROM bigrams GROUP BY a, b
        ), lft AS (
          SELECT a, CAST(sum(cab) AS BIGINT) AS ca,
            CAST(count(*) AS BIGINT) AS n1a FROM bg GROUP BY a
        ), rgt AS (
          SELECT b, CAST(count(*) AS BIGINT) AS n1b FROM bg GROUP BY b
        ), typ AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM bg
        ), probs AS (
          SELECT bg.a, bg.b,
            ln(CAST(greatest(4 * bg.cab - 3, 0) * typ.nn
                + 3 * lft.n1a * rgt.n1b AS DOUBLE)
              / CAST(4 * lft.ca * typ.nn AS DOUBLE)) AS logp
          FROM bg JOIN lft USING (a) JOIN rgt USING (b), typ
        ), scored AS (
          SELECT doc_id, round(avg(logp), 6) AS logprob,
            CAST(count(*) AS BIGINT) AS n_bigrams
          FROM bigrams JOIN probs USING (a, b)
          GROUP BY doc_id
        )
        SELECT d.doc_id, s.logprob,
          COALESCE(s.n_bigrams, 0) AS n_bigrams
        FROM (SELECT DISTINCT doc_id FROM documents) d
        LEFT JOIN scored s USING (doc_id)""")),

    // CCNet perplexity bucketing (Wenzek et al. 2020 §4.4 — qdz's
    // Kneser-Ney scores split into per-language head/middle/tail thirds,
    // the split CCNet uses to keep/caution/drop crawl text). The engine
    // derives the bucket from the two-phase grouped rank + exact ntile
    // arithmetic (a one-language corpus must not funnel through one
    // window task); the oracle keeps SQL ntile(3) (larger buckets
    // first) — same function by construction. Ordering is on the
    // 6-decimal-rounded score (the qb9 device) with doc-id tie-breaks
    // and a sentinel for bigram-less docs, so the bucket boundary
    // replays exactly.
    Entry("qg3_perplexity_buckets",
      (s, dir) => TextPipeline.perplexityBuckets(t(s, dir, "documents"),
          "doc_id", "text", "lang")
        .select(col("doc_id"), col("lang"),
          round(col("logprob"), 6).as("logprob"), col("n_bigrams"),
          col("ppl_bucket")),
      Some("""WITH toks AS (
          SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
            x -> x <> '') AS t
          FROM documents
        ), bigrams AS (
          SELECT doc_id, t[i] AS a, t[i + 1] AS b
          FROM toks CROSS JOIN UNNEST(generate_series(1, len(t) - 1)) AS u(i)
          WHERE len(t) > 1
        ), bg AS (
          SELECT a, b, CAST(count(*) AS BIGINT) AS cab FROM bigrams GROUP BY a, b
        ), lft AS (
          SELECT a, CAST(sum(cab) AS BIGINT) AS ca,
            CAST(count(*) AS BIGINT) AS n1a FROM bg GROUP BY a
        ), rgt AS (
          SELECT b, CAST(count(*) AS BIGINT) AS n1b FROM bg GROUP BY b
        ), typ AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM bg
        ), probs AS (
          SELECT bg.a, bg.b,
            ln(CAST(greatest(4 * bg.cab - 3, 0) * typ.nn
                + 3 * lft.n1a * rgt.n1b AS DOUBLE)
              / CAST(4 * lft.ca * typ.nn AS DOUBLE)) AS logp
          FROM bg JOIN lft USING (a) JOIN rgt USING (b), typ
        ), scored AS (
          SELECT doc_id, round(avg(logp), 6) AS logprob,
            CAST(count(*) AS BIGINT) AS n_bigrams
          FROM bigrams JOIN probs USING (a, b)
          GROUP BY doc_id
        ), alldocs AS (
          SELECT d.doc_id, d.lang, s.logprob,
            COALESCE(s.n_bigrams, 0) AS n_bigrams
          FROM documents d LEFT JOIN scored s USING (doc_id)
        ), nt AS (
          SELECT *, ntile(3) OVER (PARTITION BY lang
            ORDER BY coalesce(logprob, -1e18) DESC, doc_id) AS nb
          FROM alldocs
        )
        SELECT doc_id, lang, logprob, n_bigrams,
          CASE WHEN nb = 1 THEN 'head' WHEN nb = 2 THEN 'middle'
            ELSE 'tail' END AS ppl_bucket
        FROM nt""")),

    // RefinedWeb frequency span removal (Penedo et al. 2023 §G.2 line
    // dedup + the doc-removal correction; qep's span construction with
    // the OPPOSITE rule — a span seen more than once corpus-wide is
    // removed EVERYWHERE, first copy included, and docs losing >50% of
    // their spans are flagged dropped). One count aggregate + one join
    // back on the same key + per-doc reassembly; the oracle replays
    // spans, counts, and the drop arithmetic exactly.
    Entry("qg4_freq_span_removal",
      (s, dir) => TextPipeline.dropFrequentSpans(t(s, dir, "documents"),
        "doc_id", "text", spanTokens = 8, maxOcc = 1, maxRemovedFrac = 0.5),
      Some(s"""WITH toks AS (
          SELECT doc_id, $OTOKS AS w FROM documents
        ), n AS (
          SELECT doc_id, w, len(w) AS n FROM toks
        ), c AS (
          SELECT doc_id, w, unnest(range(CAST(CASE WHEN n > 0
            THEN ceil(n / 8.0) ELSE 0 END AS BIGINT))) AS ci
          FROM n
        ), ch AS (
          SELECT doc_id, ci, array_to_string(w[ci*8 + 1 : ci*8 + 8], ' ') AS ct
          FROM c
        ), f AS (
          SELECT ct, count(*) AS cf FROM ch GROUP BY 1
        ), j AS (
          SELECT ch.doc_id, ch.ci, ch.ct, f.cf FROM ch JOIN f USING (ct)
        )
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
          CAST(sum(CASE WHEN cf > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
          coalesce(string_agg(CASE WHEN cf <= 1 THEN ct END, ' ' ORDER BY ci), '')
            AS text_clean,
          (CAST(sum(CASE WHEN cf > 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*))
            > 0.5 AS doc_dropped
        FROM j GROUP BY doc_id""")),

    // END-TO-END curation v3 (the round-16 composition, qen/qfm's
    // discipline over the NEW stages): CCNet perplexity thirds keep
    // head+middle per language (qg3) → RefinedWeb frequency-span removal
    // with span counts over the SURVIVING subcorpus (qg4's rule —
    // order matters and is pinned: boilerplate frequencies are measured
    // on what the quality gate admitted) → docs past the 50% removal
    // correction emit with both stages' evidence. ONE chained oracle so
    // the composition, not just each stage, is bit-exact.
    Entry("qg8_curation_v3",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val kept = TextPipeline.perplexityBuckets(docs, "doc_id", "text", "lang")
          .filter(col("ppl_bucket") =!= "tail")
          .select(col("doc_id"), col("lang"), col("ppl_bucket"))
        val surviving = docs.join(kept, Seq("doc_id"))
        TextPipeline.dropFrequentSpans(surviving, "doc_id", "text",
            spanTokens = 8, maxOcc = 1, maxRemovedFrac = 0.5)
          .filter(!col("doc_dropped"))
          .join(kept, Seq("doc_id"))
          .select(col("doc_id"), col("lang"), col("ppl_bucket"),
            col("n_spans"), col("n_removed"), col("text_clean"))
      },
      Some(s"""WITH ktoks AS (
          SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'),
            x -> x <> '') AS t
          FROM documents
        ), bigrams AS (
          SELECT doc_id, t[i] AS a, t[i + 1] AS b
          FROM ktoks CROSS JOIN UNNEST(generate_series(1, len(t) - 1)) AS u(i)
          WHERE len(t) > 1
        ), bg AS (
          SELECT a, b, CAST(count(*) AS BIGINT) AS cab FROM bigrams GROUP BY a, b
        ), lft AS (
          SELECT a, CAST(sum(cab) AS BIGINT) AS ca,
            CAST(count(*) AS BIGINT) AS n1a FROM bg GROUP BY a
        ), rgt AS (
          SELECT b, CAST(count(*) AS BIGINT) AS n1b FROM bg GROUP BY b
        ), typ AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM bg
        ), probs AS (
          SELECT bg.a, bg.b,
            ln(CAST(greatest(4 * bg.cab - 3, 0) * typ.nn
                + 3 * lft.n1a * rgt.n1b AS DOUBLE)
              / CAST(4 * lft.ca * typ.nn AS DOUBLE)) AS logp
          FROM bg JOIN lft USING (a) JOIN rgt USING (b), typ
        ), scored AS (
          SELECT doc_id, round(avg(logp), 6) AS logprob
          FROM bigrams JOIN probs USING (a, b)
          GROUP BY doc_id
        ), nt AS (
          SELECT d.doc_id, d.lang, d.text,
            ntile(3) OVER (PARTITION BY d.lang
              ORDER BY coalesce(s.logprob, -1e18) DESC, d.doc_id) AS nb
          FROM documents d LEFT JOIN scored s USING (doc_id)
        ), kept AS (
          SELECT doc_id, lang, text,
            CASE WHEN nb = 1 THEN 'head' ELSE 'middle' END AS ppl_bucket
          FROM nt WHERE nb <> 3
        ), toks AS (
          SELECT doc_id, $OTOKS AS w FROM kept
        ), n AS (
          SELECT doc_id, w, len(w) AS n FROM toks
        ), c AS (
          SELECT doc_id, w, unnest(range(CAST(CASE WHEN n > 0
            THEN ceil(n / 8.0) ELSE 0 END AS BIGINT))) AS ci
          FROM n
        ), ch AS (
          SELECT doc_id, ci, array_to_string(w[ci*8 + 1 : ci*8 + 8], ' ') AS ct
          FROM c
        ), f AS (
          SELECT ct, count(*) AS cf FROM ch GROUP BY 1
        ), j AS (
          SELECT ch.doc_id, ch.ci, ch.ct, f.cf FROM ch JOIN f USING (ct)
        ), spans AS (
          SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
            CAST(sum(CASE WHEN cf > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
            coalesce(string_agg(CASE WHEN cf <= 1 THEN ct END, ' ' ORDER BY ci), '')
              AS text_clean
          FROM j GROUP BY doc_id
        )
        SELECT sp.doc_id, k.lang, k.ppl_bucket, sp.n_spans, sp.n_removed,
          sp.text_clean
        FROM spans sp JOIN kept k USING (doc_id)
        WHERE (CAST(sp.n_removed AS DOUBLE) / sp.n_spans) <= 0.5""")),

    Entry("qba_incremental_dedup",
      (s, dir) => {
        val d = t(s, dir, "documents")
        val incoming = d.filter(pmod(col("doc_id"), lit(4)) === 0)
        val corpus = d.filter(pmod(col("doc_id"), lit(4)) =!= 0)
        Dedup.minhashNewVsCorpus(incoming, corpus, "doc_id", "text",
          n = 2, k = 128, bands = 64, threshold = 0.5)
          .select(col("new_id"), col("old_id"), round(col("jaccard"), 9).as("jaccard"))
      },
      Some(s"""WITH toks AS (
          SELECT doc_id, $OTOKS AS w FROM documents
        ), sh AS (
          SELECT DISTINCT doc_id, (w[i] || ' ' || w[i+1]) AS sh
          FROM toks CROSS JOIN UNNEST(generate_series(1, len(w) - 1)) AS t(i)
        ), sizes AS (
          SELECT doc_id, count(*) AS nsh FROM sh GROUP BY doc_id
        ), common AS (
          SELECT a.doc_id AS new_id, b.doc_id AS old_id, count(*) AS c
          FROM sh a JOIN sh b ON a.sh = b.sh
          WHERE a.doc_id % 4 = 0 AND b.doc_id % 4 <> 0
          GROUP BY 1, 2
        )
        SELECT new_id, old_id,
          round(CAST(c AS DOUBLE) / (s1.nsh + s2.nsh - c), 9) AS jaccard
        FROM common
        JOIN sizes s1 ON new_id = s1.doc_id
        JOIN sizes s2 ON old_id = s2.doc_id
        WHERE CAST(c AS DOUBLE) / (s1.nsh + s2.nsh - c) >= 0.5""")),

    // Benchmark decontamination: flag training docs sharing any 3-gram
    // with the (small) benchmark slice — the pre-training contamination
    // audit; benchmark shingle set broadcasts, the corpus never shuffles.
    Entry("qbf_decontaminate",
      (s, dir) => {
        val d = t(s, dir, "documents")
        val bench = d.filter(pmod(col("doc_id"), lit(50)) === 0)
        val train = d.filter(pmod(col("doc_id"), lit(50)) =!= 0)
        Dedup.contaminationCheck(train, bench, "doc_id", "text", n = 3)
      },
      Some(s"""WITH toks AS (
          SELECT doc_id, $OTOKS AS w FROM documents
        ), sh AS (
          SELECT DISTINCT doc_id, (w[i] || ' ' || w[i+1] || ' ' || w[i+2]) AS sh
          FROM toks CROSS JOIN UNNEST(generate_series(1, len(w) - 2)) AS t(i)
        ), bench AS (
          SELECT DISTINCT sh FROM sh WHERE doc_id % 50 = 0
        ), cnt AS (
          SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shared
          FROM sh JOIN bench USING (sh) WHERE doc_id % 50 <> 0 GROUP BY doc_id
        )
        SELECT d.doc_id AS doc, COALESCE(c.n_shared, 0) AS n_shared,
          COALESCE(c.n_shared, 0) > 0 AS contaminated
        FROM (SELECT doc_id FROM documents WHERE doc_id % 50 <> 0) d
        LEFT JOIN cnt c ON d.doc_id = c.doc_id""")),

    // Corpus-wide span dedup (C4 duplicate-line removal at 10-token-span
    // granularity): each distinct span survives only at its first corpus
    // occurrence; docs rebuild from surviving spans.
    Entry("qbg_span_dedup",
      (s, dir) => TextPipeline.dedupSpans(t(s, dir, "documents"),
        "doc_id", "text", spanTokens = 10),
      Some(s"""WITH toks AS (
          SELECT doc_id, $OTOKS AS w FROM documents
        ), spans AS (
          SELECT doc_id, i AS span_idx,
            array_to_string(w[i*10 + 1 : i*10 + 10], ' ') AS span
          FROM toks CROSS JOIN UNNEST(range(CAST(ceil(len(w) / 10.0) AS BIGINT))) AS t(i)
        ), nz AS (
          SELECT * FROM spans WHERE span <> ''
        ), m AS (
          SELECT *, row_number() OVER (PARTITION BY span ORDER BY doc_id, span_idx) AS rn
          FROM nz
        )
        SELECT doc_id,
          COALESCE(string_agg(CASE WHEN rn = 1 THEN span END, ' ' ORDER BY span_idx), '')
            AS clean_text,
          CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
          CAST(sum(CASE WHEN rn <> 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
        FROM m GROUP BY doc_id""")),

    // Substring-level shared spans (seed-and-extend): every maximal run of
    // >= 12 consecutive shared tokens between any doc pair. Spark seeds on
    // positional n-gram HASHES (PosShingleHashesExpr); the oracle replays
    // with the n-gram STRINGS — identical output up to 64-bit FNV
    // collisions, the equivalence the whole hashed-shingle family relies
    // on (a collision would fail this gate loudly).
    Entry("qcf_shared_spans",
      (s, dir) => Dedup.sharedSpans(t(s, dir, "documents"),
        "doc_id", "text", n = 8, minTokens = 12, maxDf = 64),
      Some(s"""WITH $OSpanCtes
        SELECT id1, id2, start1, start2, span_tokens FROM spans""")),

    // The removal half of substring dedup: later occurrences (the id2
    // side, keep-lowest-doc-first) of every shared span are interval-
    // merged per doc and cut out; docs rebuild from the surviving tokens.
    Entry("qck_substring_dedup",
      (s, dir) => Dedup.removeSharedSpans(t(s, dir, "documents"),
        "doc_id", "text", n = 8, minTokens = 12, maxDf = 64),
      Some(s"""WITH $OSpanCtes,
        iv AS (SELECT DISTINCT id2 AS doc, start2 AS s,
            start2 + span_tokens AS e FROM spans),
        mrk AS (SELECT *, CASE WHEN s > coalesce(max(e) OVER (
            PARTITION BY doc ORDER BY s, e
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
          THEN 1 ELSE 0 END AS brk FROM iv),
        grpd AS (SELECT *, sum(brk) OVER (
            PARTITION BY doc ORDER BY s, e) AS grp FROM mrk),
        mi AS (SELECT doc, min(s) AS s, max(e) AS e FROM grpd GROUP BY doc, grp),
        kill AS (SELECT doc, UNNEST(generate_series(s, e - 1)) AS pos FROM mi),
        toks2 AS (SELECT doc_id, i - 1 AS pos, w[i] AS tok
          FROM toks CROSS JOIN UNNEST(generate_series(1, len(w))) AS t(i)),
        kept AS (SELECT t2.* FROM toks2 t2 LEFT JOIN kill k
          ON t2.doc_id = k.doc AND t2.pos = k.pos WHERE k.pos IS NULL),
        agg AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean_text,
            count(*) AS n_kept FROM kept GROUP BY doc_id),
        tot AS (SELECT doc_id, len(w) AS n_total FROM toks)
        SELECT tot.doc_id, coalesce(clean_text, '') AS clean_text,
          CAST(tot.n_total - coalesce(n_kept, 0) AS BIGINT) AS n_removed
        FROM tot LEFT JOIN agg USING (doc_id)""")),

    // Prefix-filtered EXACT Jaccard at a dedup-grade threshold (AllPairs):
    // candidates only where rarity-ordered prefixes collide — complete by
    // pigeonhole, so the oracle is the plain all-pairs SQL. Same result
    // set as q85's MinHash path at the same threshold, by a second,
    // independent algorithm.
    Entry("qbe_jaccard_prefix",
      (s, dir) => {
        val pairs = Dedup.jaccardPairsPrefix(t(s, dir, "documents"),
          "doc_id", "text", n = 2, threshold = 0.8)
        pairs.select(col("id1"), col("id2"), round(col("jaccard"), 9).as("jaccard"))
      },
      Some(s"""WITH toks AS (
          SELECT doc_id, $OTOKS AS w FROM documents
        ), sh AS (
          SELECT DISTINCT doc_id, (w[i] || ' ' || w[i+1]) AS sh
          FROM toks CROSS JOIN UNNEST(generate_series(1, len(w) - 1)) AS t(i)
        ), sizes AS (
          SELECT doc_id, count(*) AS nsh FROM sh GROUP BY doc_id
        ), common AS (
          SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS c
          FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
          GROUP BY 1, 2
        )
        SELECT id1, id2,
          round(CAST(c AS DOUBLE) / (s1.nsh + s2.nsh - c), 9) AS jaccard
        FROM common
        JOIN sizes s1 ON id1 = s1.doc_id
        JOIN sizes s2 ON id2 = s2.doc_id
        WHERE CAST(c AS DOUBLE) / (s1.nsh + s2.nsh - c) >= 0.8""")),

    // Closed-form least squares via one aggregation pass (the scalable
    // low-dimensional regression; FlinkML's SGD loop is the wrong shape at
    // scale). Exact integer moments -> deterministic doubles.
    Entry("qbd_linreg",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
          .select(col("l_returnflag"), col("l_quantity").as("x"),
            QueryUtil.cents(col("l_extendedprice")).as("y"))
        graft.operators.Preprocessing.linearFit(li, Seq("l_returnflag"), "x", "y")
          .select(col("l_returnflag"), col("n"),
            round(col("slope"), 6).as("slope"),
            round(col("intercept"), 6).as("intercept"))
      },
      Some("""WITH m AS (
          SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
            CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sx,
            CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS sy,
            CAST(sum(CAST(l_quantity AS BIGINT) *
              CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS sxy,
            CAST(sum(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS BIGINT) AS sxx
          FROM lineitem GROUP BY l_returnflag
        ), fit AS (
          SELECT l_returnflag, n,
            (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy) /
              (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) AS slope
          FROM m
        )
        SELECT f.l_returnflag, f.n, round(f.slope, 6) AS slope,
          round((m.sy - f.slope * m.sx) / CAST(m.n AS DOUBLE), 6) AS intercept
        FROM fit f JOIN m ON f.l_returnflag = m.l_returnflag""")),

    // Multi-feature (k=2) least squares via the closed-form 3×3 Cramer
    // solve over exact integer moments — MultipleLinearRegression parity
    // with a hash oracle (general k is ML.linearRegressionFit, spec-
    // verified). Same one-aggregation-pass shape as qbd.
    Entry("qc1_multilinreg",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
          .select(col("l_returnflag"), col("l_quantity").as("x1"),
            round(col("l_discount") * 100).cast("long").as("x2"),
            QueryUtil.cents(col("l_extendedprice")).as("y"))
        graft.operators.Preprocessing.multiLinearFit(
            li, Seq("l_returnflag"), "x1", "x2", "y")
          .select(col("l_returnflag"), col("n"),
            round(col("intercept"), 6).as("intercept"),
            round(col("b1"), 6).as("b1"), round(col("b2"), 6).as("b2"))
      },
      Some("""WITH m AS (
          SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
            CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS s1,
            CAST(sum(CAST(round(l_discount*100) AS BIGINT)) AS BIGINT) AS s2,
            CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS sy,
            CAST(sum(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS BIGINT) AS s11,
            CAST(sum(CAST(l_quantity AS BIGINT) * CAST(round(l_discount*100) AS BIGINT)) AS BIGINT) AS s12,
            CAST(sum(CAST(round(l_discount*100) AS BIGINT) * CAST(round(l_discount*100) AS BIGINT)) AS BIGINT) AS s22,
            CAST(sum(CAST(l_quantity AS BIGINT) * CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS s1y,
            CAST(sum(CAST(round(l_discount*100) AS BIGINT) * CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS s2y
          FROM lineitem GROUP BY l_returnflag
        ), c AS (
          SELECT l_returnflag, n,
            CAST(n AS DOUBLE) * (CAST(s11 AS DOUBLE) * CAST(s22 AS DOUBLE) - CAST(s12 AS DOUBLE) * CAST(s12 AS DOUBLE)) -
              CAST(s1 AS DOUBLE) * (CAST(s1 AS DOUBLE) * CAST(s22 AS DOUBLE) - CAST(s12 AS DOUBLE) * CAST(s2 AS DOUBLE)) +
              CAST(s2 AS DOUBLE) * (CAST(s1 AS DOUBLE) * CAST(s12 AS DOUBLE) - CAST(s11 AS DOUBLE) * CAST(s2 AS DOUBLE)) AS det,
            CAST(sy AS DOUBLE) * (CAST(s11 AS DOUBLE) * CAST(s22 AS DOUBLE) - CAST(s12 AS DOUBLE) * CAST(s12 AS DOUBLE)) -
              CAST(s1 AS DOUBLE) * (CAST(s1y AS DOUBLE) * CAST(s22 AS DOUBLE) - CAST(s12 AS DOUBLE) * CAST(s2y AS DOUBLE)) +
              CAST(s2 AS DOUBLE) * (CAST(s1y AS DOUBLE) * CAST(s12 AS DOUBLE) - CAST(s11 AS DOUBLE) * CAST(s2y AS DOUBLE)) AS det0,
            CAST(n AS DOUBLE) * (CAST(s1y AS DOUBLE) * CAST(s22 AS DOUBLE) - CAST(s12 AS DOUBLE) * CAST(s2y AS DOUBLE)) -
              CAST(sy AS DOUBLE) * (CAST(s1 AS DOUBLE) * CAST(s22 AS DOUBLE) - CAST(s12 AS DOUBLE) * CAST(s2 AS DOUBLE)) +
              CAST(s2 AS DOUBLE) * (CAST(s1 AS DOUBLE) * CAST(s2y AS DOUBLE) - CAST(s1y AS DOUBLE) * CAST(s2 AS DOUBLE)) AS det1,
            CAST(n AS DOUBLE) * (CAST(s11 AS DOUBLE) * CAST(s2y AS DOUBLE) - CAST(s1y AS DOUBLE) * CAST(s12 AS DOUBLE)) -
              CAST(s1 AS DOUBLE) * (CAST(s1 AS DOUBLE) * CAST(s2y AS DOUBLE) - CAST(s1y AS DOUBLE) * CAST(s2 AS DOUBLE)) +
              CAST(sy AS DOUBLE) * (CAST(s1 AS DOUBLE) * CAST(s12 AS DOUBLE) - CAST(s11 AS DOUBLE) * CAST(s2 AS DOUBLE)) AS det2
          FROM m)
        SELECT l_returnflag, n,
          round(CASE WHEN det <> 0 THEN det0 / det END, 6) AS intercept,
          round(CASE WHEN det <> 0 THEN det1 / det END, 6) AS b1,
          round(CASE WHEN det <> 0 THEN det2 / det END, 6) AS b2
        FROM c""")),

    // Per-doc top-3 terms by smoothed TF-IDF (tf · (ln((N+1)/(df+1)) + 1)),
    // ranked on the 6-decimal-rounded score with a term tie-break so the
    // ordering is engine-portable.
    Entry("qcw_tfidf_top_terms",
      (s, dir) => TextPipeline.tfidfTopTerms(t(s, dir, "documents"),
        "doc_id", "text", k = 3),
      Some("""WITH toks AS (
          SELECT doc_id,
            unnest(list_filter(string_split_regex(lower(text), '\s+'),
              x -> x <> '')) AS term
          FROM documents
        ), tf AS (
          SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2
        ), dfc AS (
          SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1
        ), nd AS (
          SELECT count(DISTINCT doc_id) AS n_docs FROM documents
        ), scored AS (
          SELECT doc_id, term, tf, df,
            round(tf * (ln((n_docs + 1) / (df + 1.0)) + 1), 6) AS tfidf
          FROM tf JOIN dfc USING (term) CROSS JOIN nd
        )
        SELECT doc_id, rnk, term, tf, df, tfidf
        FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
            ORDER BY tfidf DESC, term) AS rnk
          FROM scored)
        WHERE rnk <= 3""")),

    // Okapi BM25 scoring of the whole corpus against a fixed 3-term query
    // (k1=1.2, b=0.75) — per-doc score summed over matched terms, every
    // floating input an exact integer (tf/df/N/dl), ln under round(.,6).
    Entry("qcx_bm25_rank",
      (s, dir) => TextPipeline.bm25Rank(t(s, dir, "documents"),
        "doc_id", "text", Seq("hash", "join", "vector")),
      Some("""WITH toks AS (
          SELECT doc_id,
            unnest(list_filter(string_split_regex(lower(text), '\s+'),
              x -> x <> '')) AS term
          FROM documents
        ), dl AS (
          SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1
        ), stats AS (
          SELECT count(*) AS n_docs, sum(dl) AS total_toks FROM dl
        ), qtf AS (
          SELECT doc_id, term, count(*) AS tf FROM toks
          WHERE term IN ('hash', 'join', 'vector') GROUP BY 1, 2
        ), qdf AS (
          SELECT term, count(*) AS df FROM qtf GROUP BY 1
        ), idf AS (
          SELECT term, ln(1 + (n_docs - df + 0.5) / (df + 0.5)) AS idf
          FROM qdf CROSS JOIN stats
        )
        SELECT doc_id,
          round(sum(idf * tf * (1.2 + 1) /
            (tf + 1.2 * (1 - 0.75 + 0.75 * dl /
              (CAST(total_toks AS DOUBLE) / n_docs)))), 6) AS bm25,
          CAST(count(*) AS BIGINT) AS n_matched
        FROM qtf
          JOIN dl USING (doc_id)
          CROSS JOIN stats
          JOIN idf USING (term)
        GROUP BY doc_id""")),

    // Edit-distance near-dup: LSH-proposed, Jaccard-gated (>= 0.5, the q85
    // candidate set with recall ~1-1e-8), CONFIRMED by banded Levenshtein
    // similarity >= 0.97 on the raw text. The oracle replays the exact
    // Jaccard pair set and DuckDB's levenshtein (byte == char on the
    // all-ASCII fixture; see Dedup.editDistancePairs engine note).
    Entry("qcy_editdist_neardup",
      (s, dir) => Dedup.editDistancePairs(t(s, dir, "documents"),
        "doc_id", "text", n = 2, k = 128, bands = 64,
        jaccardGate = 0.5, minSim = 0.97),
      Some(s"""WITH toks AS (
          SELECT doc_id, $OTOKS AS w FROM documents
        ), sh AS (
          SELECT DISTINCT doc_id, (w[i] || ' ' || w[i+1]) AS sh
          FROM toks CROSS JOIN UNNEST(generate_series(1, len(w) - 1)) AS t(i)
        ), sizes AS (
          SELECT doc_id, count(*) AS nsh FROM sh GROUP BY doc_id
        ), common AS (
          SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS c
          FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
          GROUP BY 1, 2
        ), pairs AS (
          SELECT id1, id2 FROM common
          JOIN sizes s1 ON id1 = s1.doc_id
          JOIN sizes s2 ON id2 = s2.doc_id
          WHERE CAST(c AS DOUBLE) / (s1.nsh + s2.nsh - c) >= 0.5
        ), lv AS (
          SELECT id1, id2,
            CAST(levenshtein(d1.text, d2.text) AS BIGINT) AS lev,
            round(1 - CAST(levenshtein(d1.text, d2.text) AS DOUBLE)
              / greatest(length(d1.text), length(d2.text), 1), 6) AS edit_sim
          FROM pairs
          JOIN documents d1 ON id1 = d1.doc_id
          JOIN documents d2 ON id2 = d2.doc_id
        )
        SELECT id1, id2, lev, edit_sim FROM lv WHERE edit_sim >= 0.97""")),

    // Temperature-scaled domain mixture (multilingual-training sampling
    // rule, alpha = 0.5): per-lang budgets ∝ sqrt(n), then exactly budget_g
    // docs per lang ranked by content hash. Budget arithmetic is integer
    // division; rank ties break on doc_id — bit-replayable end to end.
    Entry("qcz_domain_mixture",
      (s, dir) => Sampling.mixtureSample(t(s, dir, "documents"),
          "doc_id", "lang", totalBudget = 200L)
        .select("doc_id", "lang"),
      Some(s"""WITH c AS (
          SELECT lang, count(*) AS n FROM documents GROUP BY 1
        ), w AS (
          SELECT lang, CAST(floor(sqrt(CAST(n AS DOUBLE))) AS BIGINT) AS weight
          FROM c
        ), b AS (
          SELECT lang, (200 * weight) // sum(weight) OVER () AS budget FROM w
        ), r AS (
          SELECT doc_id, lang, row_number() OVER (
            PARTITION BY lang
            ORDER BY ${oUnitHash("doc_id", "mixture")}, doc_id) AS rk
          FROM documents
        )
        SELECT doc_id, lang FROM r JOIN b USING (lang) WHERE rk <= budget""")),

    // Weighted priority sampling (Duffield-Lund-Thorup): priority =
    // weight/u, global top-k — longer docs proportionally likelier, one
    // pass, no corpus shuffle (TakeOrdered). Deterministic via content
    // hash, so the top-k set and the priorities replay exactly.
    Entry("qd0_priority_sample",
      (s, dir) => Sampling.prioritySample(t(s, dir, "documents"),
          "doc_id", "n_chars", k = 100)
        .select("doc_id", "n_chars", "priority"),
      Some(OPrioritySample)),

    // Corpus-frequency boilerplate removal (CCNet frequent-paragraph rule
    // at 8-token spans): spans in > 10 distinct docs vanish EVERYWHERE.
    // A banner is planted on every doc_id % 3 == 0 (high-df, removed) and
    // a rarer one on doc_id % 250 == 1 (df tracks SF; the rule, not the
    // fixture, decides). Short partial tail spans that recur across the
    // small-vocabulary fixture get caught too — same rule both engines.
    Entry("qd1_boilerplate",
      (s, dir) => {
        val banner = "subscribe to our newsletter follow us on twitter"
        val rare = "this content is licensed under creative commons zero"
        val staged = t(s, dir, "documents").select(col("doc_id"),
          when(pmod(col("doc_id"), lit(3)) === 0, concat(lit(banner + " "), col("text")))
            .when(pmod(col("doc_id"), lit(250)) === 1, concat(lit(rare + " "), col("text")))
            .otherwise(col("text")).as("text"))
        TextPipeline.removeBoilerplate(staged, "doc_id", "text",
          spanTokens = 8, maxDf = 10)
      },
      Some(s"""WITH staged AS (
          SELECT doc_id,
            CASE WHEN doc_id % 3 = 0
                   THEN 'subscribe to our newsletter follow us on twitter ' || text
                 WHEN doc_id % 250 = 1
                   THEN 'this content is licensed under creative commons zero ' || text
                 ELSE text END AS text
          FROM documents
        ), toks AS (
          SELECT doc_id, $OTOKS AS w FROM staged
        ), seg AS (
          SELECT doc_id, i AS si, array_to_string(w[i*8 + 1 : i*8 + 8], ' ') AS span
          FROM toks CROSS JOIN UNNEST(generate_series(0,
            CAST(ceil(len(w) / 8.0) AS BIGINT) - 1)) AS t(i)
          WHERE len(w) > 0
        ), hot AS (
          SELECT span FROM seg GROUP BY span
          HAVING count(DISTINCT doc_id) > 10
        ), m AS (
          SELECT s.doc_id, s.si, s.span, h.span IS NOT NULL AS is_hot
          FROM seg s LEFT JOIN hot h ON s.span = h.span
        )
        SELECT doc_id,
          coalesce(string_agg(CASE WHEN NOT is_hot THEN span END, ' ' ORDER BY si), '')
            AS clean_text,
          CAST(count(*) AS BIGINT) AS n_spans,
          CAST(sum(CASE WHEN is_hot THEN 1 ELSE 0 END) AS BIGINT) AS n_removed
        FROM m GROUP BY doc_id""")),

    // BPE tokenizer-training pair statistics: top-20 adjacent symbol pairs
    // over (char-split word + '</w>') weighted by corpus word counts —
    // the argmax stream BPE merges from. Multi-round bpeTrain (merge
    // application via a higher-order fold) is gated as qd4_bpe_train;
    // round 1 is the SQL-expressible single-pass surface.
    Entry("qd2_bpe_pairs",
      (s, dir) => TextPipeline.bpePairStats(t(s, dir, "documents"), "text", k = 20),
      Some(s"""WITH words AS (
          SELECT w AS word, count(*) AS cnt FROM (
            SELECT unnest(list_filter(
              string_split_regex(lower(text), '\\s+'), x -> x <> '')) AS w
            FROM documents)
          GROUP BY 1
        ), syms AS (
          SELECT cnt, list_append(
            list_transform(range(1, length(word) + 1), i -> word[i]), '</w>') AS s
          FROM words
        ), p AS (
          SELECT s[i] AS lhs, s[i + 1] AS rhs, cnt
          FROM syms CROSS JOIN UNNEST(generate_series(1, len(s) - 1)) AS t(i)
        ), agg AS (
          SELECT lhs, rhs, CAST(sum(cnt) AS BIGINT) AS pair_count
          FROM p GROUP BY 1, 2
        )
        SELECT CAST(row_number() OVER (ORDER BY pair_count DESC, lhs, rhs)
            AS INTEGER) AS rnk,
          lhs, rhs, pair_count
        FROM agg ORDER BY pair_count DESC, lhs, rhs LIMIT 20""")),

    // Full BPE merge-table training, 3 rounds: each round is argmax over
    // the CURRENT vocabulary's pair stats, then greedy-leftmost fusion of
    // the winning pair in every word (so round-2 pairs can contain the
    // round-1 merged symbol — the part qd2 can't see). The oracle mirrors
    // the driver loop exactly: three argmax CTEs, each followed by a
    // RECURSIVE positional fold that replays TextPipeline.bpeTrain's
    // higher-order `aggregate` (carry = rebuilt-prefix + pending symbol)
    // over the vocabulary — recursion depth = longest word, rows = vocab,
    // never the corpus.
    Entry("qd4_bpe_train",
      (s, dir) => {
        import s.implicits._
        TextPipeline.bpeTrain(t(s, dir, "documents"), "text", nMerges = 3)
          .toDF("rnd", "lhs", "rhs", "pair_count")
      },
      Some(OBpeTrain3)),

    // Batched BPE trainer through the SAME gate oracle: with batch = 1 the
    // batched trainer is contractually identical to the classic top-1 loop
    // (spec-pinned law), so qd6 hash-checks the batched implementation's
    // candidate over-fetch, greedy non-overlap selection, SQL escaping,
    // and multi-branch fold against the DuckDB replay. batch > 1 changes
    // the merge table by design (later batch members keep pre-batch
    // counts) and is covered by PipelineOpsSpec laws, not a SQL oracle.
    Entry("qd6_bpe_train_batched",
      (s, dir) => {
        import s.implicits._
        TextPipeline.bpeTrainBatched(t(s, dir, "documents"), "text",
          nMerges = 3, batch = 1)
          .toDF("rnd", "lhs", "rhs", "pair_count")
      },
      Some(OBpeTrain3)),

    // Batched BPE at batch > 1 (round-9 VERDICT item #3): 8 merges in two
    // rounds of 4 — the oracle replays the batched path's DISTINGUISHING
    // logic (candidate over-fetch, greedy rank-order non-overlap selection
    // incl. the fused-output rule, one multi-pair rewrite pass per round)
    // which qd6's batch=1 gate is contractually blind to.
    Entry("qdd_bpe_train_batch4",
      (s, dir) => {
        import s.implicits._
        TextPipeline.bpeTrainBatched(t(s, dir, "documents"), "text",
          nMerges = 8, batch = 4)
          .toDF("rnd", "lhs", "rhs", "pair_count")
      },
      Some(OBpeTrainBatched2x4)),

    // WordPiece merge-table training, 3 rounds: same driver loop and
    // greedy-leftmost fold as qd4, but the argmax is the LIKELIHOOD score
    // floor(pc·1e9 / (count(l)·count(r))) — the Schuster-Nakajima
    // criterion in the house scaled-integer device, so the trajectory
    // replays exactly. The oracle adds a per-round symbol-count CTE over
    // the current segmentation and ranks (score, pc, lhs, rhs); everything
    // downstream of the argmax is OBpeTrain3's machinery.
    Entry("qdu_wordpiece_train",
      (s, dir) => {
        import s.implicits._
        TextPipeline.wordpieceTrain(t(s, dir, "documents"), "text", nMerges = 3)
          .toDF("rnd", "lhs", "rhs", "pair_count", "score")
      },
      Some(OWordpieceTrain3)),

    // WordPiece ENCODING (BERT greedy longest-match-first, ## continuation
    // pieces, whole-word UNK): per-doc token counts under a fixed piece
    // vocabulary — single letters guarantee alphabetic words segment, the
    // multi-char pieces force real longest-match decisions, and tokens
    // containing digits/punctuation hit the UNK path (no such pieces).
    // One Scala list feeds BOTH the Spark expression literal and the
    // oracle's DuckDB lists; the oracle walks the same greedy cursor as a
    // recursive CTE over the distinct-word vocabulary.
    Entry("qdw_wordpiece_encode",
      (s, dir) => TextPipeline.wordpieceEncode(t(s, dir, "documents"), "doc_id",
        "text", WpVocab),
      Some(OWordpieceEncode)),

    // The PRODUCTION-vocabulary-scale form of qdw: identical greedy
    // longest-match semantics, vocabulary compiled to a code-point trie
    // shipped with the plan (WordpieceEncodeExpr) instead of an inline
    // expression literal — |vocab|-independent per-position cost
    // (measured flat 100→30k pieces where the inline fold pays ~6 s
    // plan/codegen + ~2.5× warm runtime at 30k). Same oracle as qdw
    // (the trie is an execution strategy, not a semantics change —
    // law-spec'd equal in PipelineOpsSpec).
    Entry("qe6_wordpiece_trie_encode",
      (s, dir) => TextPipeline.wordpieceEncodeTrie(t(s, dir, "documents"),
        "doc_id", "text", WpVocab),
      Some(OWordpieceEncode)),

    // OPTIMAL (minimal-token) segmentation over the SAME vocabulary as
    // qdw — shortest-path tokenization (uniform-score unigram-LM /
    // SentencePiece Viterbi). The greedy/optimal pair is the standard
    // tokenizer diagnostic: optimal never emits more tokens, and words
    // greedy dead-ends into UNK may segment. The oracle replays the DP
    // as a recursive CTE carrying the cost list per word.
    Entry("qdx_min_token_encode",
      (s, dir) => TextPipeline.minTokenEncode(t(s, dir, "documents"), "doc_id",
        "text", WpVocab),
      Some(OMinTokenEncode)),

    // WEIGHTED Viterbi segmentation over the same vocabulary: piece cost
    // 4000 // (1 + match-length) makes long pieces cheap (a stand-in for
    // quantized -log p; SentencePiece's decode step), UNK words cost a
    // flat 4000. Minimum total cost is unique even when paths tie, so no
    // tie-break protocol is needed for engine portability. Oracle = the
    // qdx recursive DP with per-piece costs from the same formula.
    Entry("qe0_weighted_segment",
      (s, dir) => TextPipeline.minCostEncode(t(s, dir, "documents"), "doc_id",
        "text", WpVocabCosts, unkCost = 4000L),
      Some(OWeightedSegment)),

    // Segmentation with corpus-LEARNED costs — the full unigram-LM-style
    // pipeline: piece document frequency over the DISTINCT-word frame
    // (substring containment, |vocab|-bounded expansion), inverse-
    // frequency cost 1e6 // (1 + df) (a rarity proxy in exact integers —
    // a -log would float), then the qe0 weighted DP. The 65-entry cost
    // table is driver-held like a BPE merge list. The oracle rebuilds
    // the SAME dfs/costs in CTEs, packs them into one-row struct LISTS,
    // and cross-joins those into the recursive DP (a literal can't carry
    // corpus-derived costs).
    Entry("qe1_rarity_cost_segment",
      (s, dir) => {
        val matchTexts = WpVocab.map(_.stripPrefix("##")).distinct
        val words = t(s, dir, "documents")
          .select(explode(graft.functions.TextFunctions.tokens(
            lower(col("text")))).as("word")).distinct()
        val dfs = words
          .select(col("word"), explode(array(matchTexts.map(lit): _*)).as("m"))
          .filter(col("word").contains(col("m")))
          .groupBy("m").agg(count(lit(1)).as("df"))
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        val costs = WpVocab.map { p =>
          p -> (1000000L / (1L + dfs.getOrElse(p.stripPrefix("##"), 0L)))
        }
        TextPipeline.minCostEncode(t(s, dir, "documents"), "doc_id", "text",
          costs, unkCost = 1000000L)
      },
      Some(ORarityCostSegment)),

    // Model-based quality filtering — the fastText-style classifier stage
    // of a training-data pipeline, trained IN the engine: 8 hashed
    // token-count buckets (FNV mod 8) + a bias feature as inputs, 16
    // full-batch Pegasos rounds (ML.svmScaled — every step exact
    // scaled-integer), then each doc scored by its margin and filtered
    // by sign. Label: the Gopher-style length criterion (n_chars >= 300,
    // ~50/50 here) — the one supervised signal this fixture's
    // shared-vocab word soup makes LEARNABLE from bag-of-token features
    // (lang labels separate only on char-n-gram profiles; measured:
    // stopword and bucket distributions are lang-identical). The bias
    // FEATURE is the constant 32, not 1: Pegasos weight steps are
    // quantized at the count features' gradient scale, and a unit bias
    // can never reach the ~55-token boundary's intercept within harmonic
    // decay (measured: unit bias pins keep-rate to 0; bias 32 reaches
    // 95% label agreement with balanced keeps at sf0.1). The oracle
    // replays feature hashing (oFnv) and all 16 gradient/update rounds
    // (the qbv machinery widened to 9 features), then the margins.
    Entry("qe2_quality_classifier",
      (s, dir) => {
        val d = t(s, dir, "documents")
        val fcols = (0 until 8).map(j => s"f$j")
        val toks = d.select(col("doc_id"),
          explode(graft.functions.TextFunctions.tokens(lower(col("text")))).as("tok"))
        val feats = toks
          .withColumn("bkt", pmod(graft.functions.Fnv1a64Expr(col("tok")), lit(8)))
          .groupBy("doc_id")
          .agg(sum(when(col("bkt") === 0, 1L).otherwise(0L)).as("f0"),
            (1 until 8).map(j =>
              sum(when(col("bkt") === j, 1L).otherwise(0L)).as(s"f$j")): _*)
        val labeled = d.select(col("doc_id"),
            when(col("n_chars") >= 300, 1L).otherwise(-1L).as("y"))
          .join(feats, Seq("doc_id"), "left")
          .na.fill(0L, fcols)
          .withColumn("b", lit(32L))
        val xCols = "b" +: fcols
        val w = ML.svmScaled(labeled, "y", xCols, iters = 16)
          .filter(col("k") =!= "_violations")
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        val margin = xCols.map(c => col(c) * lit(w(c))).reduce(_ + _)
        labeled.select(col("doc_id"), margin.as("margin"),
          (margin >= 0).as("keep"), col("y"))
      },
      Some(OQualityClassifier)),

    // SparkSessionExtensions surface: the native codegen expressions called
    // from SQL TEXT via the injected function registry — same rows as the
    // Column API, same DuckDB-replayed FNV oracle as q87.
    Entry("qbc_sql_native_fn",
      (s, dir) => {
        graft.functions.GraftExtensions.register(s)
        graft.Tables.registerAll(s, dir)
        s.sql("""SELECT doc_id,
            fnv1a64(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' '))) AS fp
          FROM documents""")
      },
      Some(s"""WITH norm AS (
          SELECT doc_id,
            trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS s
          FROM documents)
        SELECT doc_id, ${oSigned(oFnv("s"))} AS fp FROM norm""")),

    // The full MinHash/LSH dedup pipeline in pure SQL TEXT through the
    // injected registry: shingle_hashes + minhash_sig (native codegen
    // expressions, SQL-registered) feed candidate banding (xxhash64 over
    // signature slices — Dedup.bandedBuckets' exact device), the
    // signature-agreement prefilter, and exact-Jaccard verification, all
    // as SQL. Same recall argument as q85 (64 bands × 2 rows at
    // threshold 0.5 → miss ~1e-8) and survivors exact-verified, so the
    // oracle is q85's exact pair set verbatim — what a SQL-text user of
    // the library runs without touching the Column API.
    Entry("qeg_sql_dedup_pipeline",
      (s, dir) => {
        graft.functions.GraftExtensions.register(s)
        graft.Tables.registerAll(s, dir)
        s.sql(SqlDedupPipeline)
      },
      Some(ExtensionQueries.OMinhashPairs)),

    // Hybrid retrieval via reciprocal-rank fusion (Cormack & Clarke
    // SIGIR'09): fuse a lexical BM25 top-100 (qcx's ranker, ranked on the
    // 6-decimal-rounded score) with a semantic cosine top-100 (q88's brute
    // ranker, probe = vec_id 0) — rrf = Σ 1/(60+rank). Integer ranks in,
    // so the fused scores and the final top-20 replay exactly; r_lex/r_sem
    // stay NULL for single-ranker docs (n_rankers tells which).
    Entry("qdk_rrf_fusion",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val lex = TextPipeline.bm25Rank(t(s, dir, "documents"),
            "doc_id", "text", Seq("hash", "join", "vector"))
          .withColumn("r", row_number().over(
            Window.orderBy(col("bm25").desc, col("doc_id"))))
          .filter(col("r") <= 100)
          .select(col("doc_id").as("id"), col("r").cast("long").as("r"))
        val emb = t(s, dir, "embeddings")
        val sem = graft.operators.Similarity.bruteForceTopK(
            emb, emb.filter(col("vec_id") === 0),
            "vec_id", "embedding", "vec_id", k = 100)
          .select(col("nbr_id").as("id"), col("rank").cast("long").as("r"))
        graft.operators.Similarity.rrfFuse(Seq(lex, sem), "id", "r")
          .withColumn("fused_rank", row_number().over(
            Window.orderBy(col("rrf_score").desc, col("id"))).cast("long"))
          .filter(col("fused_rank") <= 20)
          .join(lex.withColumnRenamed("r", "r_lex"), Seq("id"), "left")
          .join(sem.withColumnRenamed("r", "r_sem"), Seq("id"), "left")
          .select("fused_rank", "id", "rrf_score", "n_rankers", "r_lex", "r_sem")
      },
      Some("""WITH toks AS (
          SELECT doc_id,
            unnest(list_filter(string_split_regex(lower(text), '\s+'),
              x -> x <> '')) AS term
          FROM documents
        ), dl AS (
          SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1
        ), stats AS (
          SELECT count(*) AS n_docs, sum(dl) AS total_toks FROM dl
        ), qtf AS (
          SELECT doc_id, term, count(*) AS tf FROM toks
          WHERE term IN ('hash', 'join', 'vector') GROUP BY 1, 2
        ), qdf AS (
          SELECT term, count(*) AS df FROM qtf GROUP BY 1
        ), idf AS (
          SELECT term, ln(1 + (n_docs - df + 0.5) / (df + 0.5)) AS idf
          FROM qdf CROSS JOIN stats
        ), bm AS (
          SELECT doc_id,
            round(sum(idf * tf * (1.2 + 1) /
              (tf + 1.2 * (1 - 0.75 + 0.75 * dl /
                (CAST(total_toks AS DOUBLE) / n_docs)))), 6) AS bm25
          FROM qtf JOIN dl USING (doc_id) CROSS JOIN stats JOIN idf USING (term)
          GROUP BY doc_id
        ), lex AS (
          SELECT doc_id AS id, CAST(row_number()
            OVER (ORDER BY bm25 DESC, doc_id) AS BIGINT) AS r
          FROM bm QUALIFY r <= 100
        ), sem AS (
          SELECT c.vec_id AS id, CAST(row_number()
            OVER (ORDER BY list_cosine_similarity(
                CAST(c.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])) DESC,
              c.vec_id) AS BIGINT) AS r
          FROM embeddings c CROSS JOIN embeddings q
          WHERE q.vec_id = 0 AND c.vec_id <> 0 QUALIFY r <= 100
        ), u AS (
          SELECT id, r FROM lex UNION ALL SELECT id, r FROM sem
        ), sc AS (
          SELECT id, round(sum(1.0 / (60 + r)), 6) AS rrf_score,
            CAST(count(*) AS BIGINT) AS n_rankers
          FROM u GROUP BY id
        ), top AS (
          SELECT id, rrf_score, n_rankers, CAST(row_number()
            OVER (ORDER BY rrf_score DESC, id) AS BIGINT) AS fused_rank
          FROM sc QUALIFY fused_rank <= 20
        )
        SELECT fused_rank, id, rrf_score, n_rankers,
          lex.r AS r_lex, sem.r AS r_sem
        FROM top LEFT JOIN lex USING (id) LEFT JOIN sem USING (id)""")),

    // BPE ENCODING — the apply half of the tokenizer (qd4 trains; this
    // tokenizes the corpus with the trained merges, in rank order,
    // greedy-leftmost per word). Output = per-doc token count under the
    // learned vocabulary, the number a packing/budget stage consumes. The
    // oracle re-learns the same 3 merges and replays the encode through
    // the word-carrying fold, then re-joins the word-instance stream.
    Entry("qdl_bpe_encode",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val merges = TextPipeline.bpeTrain(docs, "text", nMerges = 3)
          .map { case (_, l, r, _) => (l, r) }
        TextPipeline.bpeEncode(docs, "doc_id", "text", merges)
      },
      Some(OBpeEncode3)),

    // DSIR-style importance data selection (Xie et al. 2023) in the
    // house integer-exact device: hashed-unigram buckets (fnv1a64 mod
    // 512 — a power of two, so the oracle's unsigned HUGEINT mod equals
    // Spark's signed pmod), add-one-smoothed frequency RATIOS floor-
    // scaled to longs instead of libm log-ratios, per-doc score = sum of
    // per-token ilr, selection = top-100 raw-pool docs by per-token mean.
    // Target corpus = the 'en' documents; raw pool = the rest. The
    // oracle replays the fnv byte fold per token (fixture is pure ASCII,
    // so ascii() == UTF-8 byte), rebuilds the 512-row ratio table on a
    // range() spine, and re-ranks — the full selection, bit-for-bit.
    Entry("qei_dsir_select",
      (s, dir) => DataSelection.dsirSelect(t(s, dir, "documents"),
        "doc_id", "text", isTarget = col("lang") === "en",
        buckets = 512, k = 100),
      Some(s"""WITH tok AS (
          SELECT doc_id, lang, unnest($OTOKS) AS t FROM documents
        ), b AS (
          SELECT doc_id, lang, CAST(${oFnv("t")} % 512 AS BIGINT) AS bk
          FROM tok
        ), agg AS (
          SELECT bk,
            CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS nt,
            CAST(sum(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END) AS BIGINT) AS nr
          FROM b GROUP BY 1
        ), tot AS (
          SELECT CAST(coalesce(sum(nt), 0) + 512 AS BIGINT) AS totT,
                 CAST(coalesce(sum(nr), 0) + 512 AS BIGINT) AS totR
          FROM agg
        ), ilr AS (
          SELECT s.bk,
            ((coalesce(a.nt, 0) + 1) * t.totR * 1000000)
              // ((coalesce(a.nr, 0) + 1) * t.totT) AS r
          FROM (SELECT unnest(range(512)) AS bk) s
          LEFT JOIN agg a USING (bk) CROSS JOIN tot t
        ), sc AS (
          SELECT b.doc_id, CAST(count(*) AS BIGINT) AS n_feat,
            CAST(sum(i.r) AS BIGINT) AS score
          FROM b JOIN ilr i USING (bk) WHERE b.lang <> 'en' GROUP BY 1
        )
        SELECT doc_id, n_feat, score, score // n_feat AS avg_ilr
        FROM sc ORDER BY avg_ilr DESC, doc_id LIMIT 100""")),

    // Within-document periodic-repetition TRIM — the removal counterpart
    // of qcg's Gopher repetition signals: a k-gram starting one period
    // after an identical k-gram is redundant and its tokens drop. Repeats
    // are PLANTED (a 2-token phrase ×4 prepended on doc_id%3=0, an
    // "a a a a" run appended on doc_id%7=2) and the small-vocabulary
    // word salad also repeats naturally — the rule, not the fixture,
    // decides, identically in both engines. The oracle replays the local
    // mark-and-filter exactly with list lambdas (same clamped slice
    // windows as the Column HOFs).
    Entry("qej_repeat_trim",
      (s, dir) => {
        val staged = t(s, dir, "documents").select(col("doc_id"),
          when(pmod(col("doc_id"), lit(3)) === 0,
            concat(lit("buy now buy now buy now buy now "), col("text")))
            .when(pmod(col("doc_id"), lit(7)) === 2,
              concat(col("text"), lit(" a a a a")))
            .otherwise(col("text")).as("text"))
        TextPipeline.trimPeriodicRepeats(staged, "doc_id", "text", k = 2)
      },
      Some(s"""WITH staged AS (
          SELECT doc_id,
            CASE WHEN doc_id % 3 = 0
                   THEN 'buy now buy now buy now buy now ' || text
                 WHEN doc_id % 7 = 2 THEN text || ' a a a a'
                 ELSE text END AS text
          FROM documents
        ), toks AS (
          SELECT doc_id, $OTOKS AS w FROM staged
        ), m AS (
          SELECT doc_id, w, len(w) AS n,
            list_transform(range(0, greatest(len(w), 1)), s ->
              s >= 2 AND s <= len(w) - 2 AND w[s - 1 : s] = w[s + 1 : s + 2]
            ) AS mk
          FROM toks
        ), kept AS (
          SELECT doc_id, w, n,
            list_filter(range(0, n), p -> NOT list_contains(
              mk[greatest(p - 1, 0) + 1 : p + 1], true)) AS ks
          FROM m
        )
        SELECT doc_id,
          array_to_string(list_transform(ks, p -> w[p + 1]), ' ')
            AS text_trimmed,
          CAST(n - len(ks) AS BIGINT) AS n_dropped
        FROM kept""")),

    // Fixed-length sequence packing (concat-and-chunk): the corpus token
    // stream in doc_id order splits at exact multiples of 64 — sequences
    // span document boundaries (n_docs > 1 for most rows at this fixture's
    // ~25-70 tokens/doc). The Spark side derives global token offsets via
    // the two-phase distributed prefix scan (Partitioning.prefixSum — a
    // one-task `sum() OVER (ORDER BY)` window is the shape that dies at
    // 100 TB); the oracle IS that window, which a single-node engine may
    // run. Every sequence's content, length, and doc-span replay exactly.
    Entry("qel_sequence_pack",
      (s, dir) => TextPipeline.packSequences(t(s, dir, "documents"),
        "doc_id", "text", seqLen = 64),
      Some(s"""WITH toks AS (
          SELECT doc_id, $OTOKS AS w FROM documents
        ), off AS (
          SELECT doc_id, w,
            coalesce(sum(len(w)) OVER (ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS o
          FROM toks
        ), tok AS (
          SELECT doc_id, o + i - 1 AS gpos, w[i] AS t
          FROM off CROSS JOIN UNNEST(generate_series(1, len(w))) AS u(i)
        ), seq AS (
          SELECT CAST(gpos // 64 AS BIGINT) AS seq_id,
            CAST(gpos % 64 AS BIGINT) AS pos, t, doc_id
          FROM tok
        )
        SELECT seq_id, CAST(count(*) AS BIGINT) AS n_toks,
          CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
          string_agg(t, ' ' ORDER BY pos) AS seq_text
        FROM seq GROUP BY 1""")),

    // END-TO-END CURATION: the four pipeline stages a training-data run
    // chains — rule filter (q8h's Gopher conjunction) → exact-text dedup
    // to representatives (min doc_id per text; at 100 TB the same shape
    // runs over the q87 fingerprint to keep the shuffle key 8 bytes) →
    // DSIR importance selection of the top-100 non-target docs against
    // the en target (qei's integer-exact machinery, ilr table REBUILT on
    // the deduped kept pool, which is the honest order: selection scores
    // must not be polluted by mass the earlier stages removed) → packed
    // 64-token training sequences (qel's concat-and-chunk over the
    // selected docs in doc-id order). One oracle chains all four stages'
    // CTEs, so the composition — not just each stage — is bit-exact.
    Entry("qen_curation_pipeline",
      (s, dir) => {
        import graft.functions.TextFunctions.Rules
        val d = t(s, dir, "documents")
        val kept = d.filter(Rules.gopherKeep(col("text")))
        val reps = kept.groupBy(col("text"))
          .agg(min(col("doc_id")).as("doc_id"),
            min_by(col("lang"), col("doc_id")).as("lang"))
        val sel = DataSelection.dsirSelect(reps, "doc_id", "text",
          isTarget = col("lang") === "en", buckets = 512, k = 100)
        val docsSel = reps.join(sel.select("doc_id"), Seq("doc_id"))
          .select(col("doc_id"), col("text"))
        TextPipeline.packSequences(docsSel, "doc_id", "text", seqLen = 64)
      },
      Some(s"""WITH rul AS (SELECT doc_id, lang, text,
          (len($OTOKS) BETWEEN 50 AND 100000) AS r_len,
          ((COALESCE(CAST(list_aggregate(list_transform($OTOKS, x -> length(x)), 'sum') AS BIGINT), 0)
            / CAST(greatest(len($OTOKS), 1) AS DOUBLE)) BETWEEN 3.0 AND 10.0) AS r_meanlen,
          ((CAST(len(list_filter($OTOKS, x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE)
            / greatest(len($OTOKS), 1)) > 0.8) AS r_alpha,
          ((CAST((length(text) - length(replace(text, '#', '')))
              + (length(text) - length(replace(text, '...', ''))) // 3 AS DOUBLE)
            / greatest(len($OTOKS), 1)) < 0.1) AS r_symbol,
          (len(list_distinct(list_transform(list_filter($OTOKS, x -> list_contains(
            ['the','a','an','and','or','of','to','in','is','it','that','for','on','with','as','at','by','this','be','are'],
            lower(x))), x -> lower(x)))) >= 2) AS r_stopword,
          ((CAST(len(list_distinct($OTOKS)) AS DOUBLE) / greatest(len($OTOKS), 1)) > 0.2) AS r_repetition
          FROM documents
        ), reps AS (
          SELECT min(doc_id) AS doc_id, arg_min(lang, doc_id) AS lang, text
          FROM rul
          WHERE r_len AND r_meanlen AND r_alpha AND r_symbol AND r_stopword AND r_repetition
          GROUP BY text
        ), tok AS (
          SELECT doc_id, lang, unnest($OTOKS) AS t FROM reps
        ), b AS (
          SELECT doc_id, lang, CAST(${oFnv("t")} % 512 AS BIGINT) AS bk
          FROM tok
        ), agg AS (
          SELECT bk,
            CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS nt,
            CAST(sum(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END) AS BIGINT) AS nr
          FROM b GROUP BY 1
        ), tot AS (
          SELECT CAST(coalesce(sum(nt), 0) + 512 AS BIGINT) AS totT,
                 CAST(coalesce(sum(nr), 0) + 512 AS BIGINT) AS totR
          FROM agg
        ), ilr AS (
          SELECT s.bk,
            ((coalesce(a.nt, 0) + 1) * t.totR * 1000000)
              // ((coalesce(a.nr, 0) + 1) * t.totT) AS r
          FROM (SELECT unnest(range(512)) AS bk) s
          LEFT JOIN agg a USING (bk) CROSS JOIN tot t
        ), sc AS (
          SELECT b.doc_id, CAST(count(*) AS BIGINT) AS n_feat,
            CAST(sum(i.r) AS BIGINT) AS score
          FROM b JOIN ilr i USING (bk) WHERE b.lang <> 'en' GROUP BY 1
        ), sel AS (
          SELECT doc_id FROM sc ORDER BY score // n_feat DESC, doc_id LIMIT 100
        ), toksel AS (
          SELECT p.doc_id, $OTOKS AS w
          FROM reps p JOIN sel USING (doc_id)
        ), off AS (
          SELECT doc_id, w,
            coalesce(sum(len(w)) OVER (ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS o
          FROM toksel
        ), tokn AS (
          SELECT doc_id, o + i - 1 AS gpos, w[i] AS t
          FROM off CROSS JOIN UNNEST(generate_series(1, len(w))) AS u(i)
        ), seq AS (
          SELECT CAST(gpos // 64 AS BIGINT) AS seq_id,
            CAST(gpos % 64 AS BIGINT) AS pos, t, doc_id
          FROM tokn
        )
        SELECT seq_id, CAST(count(*) AS BIGINT) AS n_toks,
          CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
          string_agg(t, ' ' ORDER BY pos) AS seq_text
        FROM seq GROUP BY 1""")),

    // UniMax capped-waterfill mixture (Chung et al. 2023 — the published
    // successor to temperature sampling): budget 900 examples, epoch cap
    // 2. At sf0.01 the cap BINDS for all four non-en langs (each gets
    // 2 full epochs; en waterfills the remaining 336 = 1 epoch + 118-doc
    // partial); at sf0.1 nothing is capped and all five langs get the
    // equal 180 share — the two branches of the allocator, one per SF.
    // The integer floor-division waterfill recurrence replays exactly as
    // a recursive CTE; the partial epoch is the hash-rank prefix (same
    // deterministic rank device as qcz).
    Entry("qeo_unimax_mixture",
      (s, dir) => Sampling.unimaxSample(t(s, dir, "documents"),
        "doc_id", "lang", totalBudget = 900L, maxEpochs = 2L),
      Some(s"""WITH RECURSIVE c AS (
          SELECT lang, CAST(count(*) AS BIGINT) AS n,
            CAST(count(*) * 2 AS BIGINT) AS cap,
            CAST(row_number() OVER (ORDER BY count(*) * 2, lang) AS BIGINT) AS rn,
            CAST(count(*) OVER () AS BIGINT) AS gcnt
          FROM documents GROUP BY lang
        ), wf AS (
          SELECT CAST(0 AS BIGINT) AS i, CAST(900 AS BIGINT) AS rem,
            CAST(NULL AS VARCHAR) AS lang, CAST(NULL AS BIGINT) AS alloc
          UNION ALL
          SELECT c.rn, wf.rem - least(c.cap, wf.rem // (c.gcnt - wf.i)),
            c.lang, least(c.cap, wf.rem // (c.gcnt - wf.i))
          FROM wf JOIN c ON c.rn = wf.i + 1
        ), a AS (
          SELECT lang, alloc FROM wf WHERE lang IS NOT NULL
        ), r AS (
          SELECT doc_id, lang, row_number() OVER (PARTITION BY lang
            ORDER BY ${oUnitHash("doc_id", "unimax")}, doc_id) AS rk
          FROM documents
        )
        SELECT r.doc_id, r.lang,
          (a.alloc // c.n) + CASE WHEN r.rk <= (a.alloc % c.n)
            THEN 1 ELSE 0 END AS n_copies
        FROM r JOIN a USING (lang) JOIN c USING (lang)
        WHERE (a.alloc // c.n) + CASE WHEN r.rk <= (a.alloc % c.n)
          THEN 1 ELSE 0 END > 0""")),

    // C4-style duplicated-chunk removal at sub-document granularity: every
    // 8-token aligned chunk keeps only its corpus-wide FIRST occurrence
    // (lexicographic min (doc, position) — within-doc repeats dedup too)
    // and docs reassemble from their survivors. 153 chunk texts recur
    // across docs at sf0.01, so the operator genuinely fires. One
    // hash-aggregate on the chunk text + per-doc reassembly — no pairwise
    // work at any corpus size (the whole-doc q83 / shared-span qcf/qck
    // middle ground).
    Entry("qep_chunk_dedup",
      (s, dir) => Dedup.dedupChunksKeepFirst(t(s, dir, "documents"),
        "doc_id", "text", chunkTokens = 8),
      Some(OChunkDedup)),

    // CONTENT-DEFINED chunking (Rabin-style CDC, LBFS SOSP 2001): a
    // boundary after char i wherever fnv(window ending at i) >>> 11
    // mod 64 == 0 — boundaries depend only on local content, so chunk
    // identity survives arbitrary offsets (the shift-robustness aligned
    // chunking lacks). Pure hash-gated form, char-level, chunks tile the
    // raw text; the oracle replays every boundary draw.
    Entry("qfx_cdc_chunks",
      (s, dir) => TextPipeline.cdcChunks(t(s, dir, "documents"),
        "doc_id", "text", window = 16, divisor = 64L, remainder = 0L),
      Some(OCdcChunks)),

    // CDC-chunk dedup — qep's keep-first hash-aggregate over the
    // content-defined chunks: unaligned duplicated passages now produce
    // byte-identical chunks in both docs (after one boundary re-sync per
    // side), so the same one-shuffle aggregate catches what aligned
    // chunking misses. Keep-first = min (doc, idx) per chunk text; docs
    // reassemble separator-free (CDC chunks tile raw text).
    Entry("qfy_cdc_dedup",
      (s, dir) => Dedup.dedupCdcKeepFirst(t(s, dir, "documents"),
        "doc_id", "text", window = 16, divisor = 64L, remainder = 0L),
      Some(OCdcDedup)),

    // Persistent CDC chunk-claim index (the content-defined-chunk member
    // of the persistent-index family — qfy's fit-once/ingest-forever
    // deployment shape, qfz's cross-RUN claim store): three doc-id-RANGE
    // deliveries ingest in range order under the causal claim rule, with
    // a COMPACTION between deliveries 2 and 3 (merged claims preserve
    // existence). Because delivery order equals doc-id order, the
    // cross-delivery claims compose with within-delivery keep-first to
    // exactly the batch operator's global lexicographic-min rule, so
    // qfy's oracle replays the whole lifecycle verbatim.
    Entry("qg0_cdc_claim_index",
      (s, dir) => {
        val tag = Scratch.dirTag(dir) + "cc"
        val ref = graft.operators.ChunkIndex.Ref(tag, buckets = 8)
        graft.operators.ChunkIndex.drop(s, ref) // idempotent re-runs
        val docs = t(s, dir, "documents")
        def ingest(pred: org.apache.spark.sql.Column) =
          graft.operators.ChunkIndex.ingest(docs.filter(pred), "doc_id",
            "text", window = 16, divisor = 64L, remainder = 0L, ref)
        val out01 = ingest(col("doc_id") < 100)
          .unionByName(ingest(col("doc_id") >= 100 && col("doc_id") < 300))
          .localCheckpoint() // materialize before compact rewrites files
        graft.operators.ChunkIndex.compact(s, ref)
        out01.unionByName(ingest(col("doc_id") >= 300))
      },
      Some(OCdcDedup)),

    // Stride-scheduled domain interleave (the "blendable dataset"
    // curriculum ordering): one global sequence over the whole corpus in
    // which every prefix carries each lang at its τ=2 temperature share
    // (w = floor(sqrt n)), scheduled by integer virtual time
    // ((2·rk−1)·10^6) DIV (2w) like an OS stride scheduler. The oracle
    // replays vt exactly and assigns pos with the single-node global
    // window; the plan's pos is the range-partition + two-phase
    // zipWithIndex scan — same total order, no one-task sort.
    Entry("qes_stride_interleave",
      (s, dir) => Sampling.strideInterleave(t(s, dir, "documents"),
        "doc_id", "lang"),
      Some(s"""WITH c AS (
          SELECT lang, count(*) AS n FROM documents GROUP BY 1
        ), w AS (
          SELECT lang, CAST(floor(sqrt(CAST(n AS DOUBLE))) AS BIGINT) AS weight
          FROM c
        ), r AS (
          SELECT doc_id, lang, CAST(row_number() OVER (
            PARTITION BY lang
            ORDER BY ${oUnitHash("doc_id", "stride")}, doc_id) AS BIGINT) AS rk
          FROM documents
        ), v AS (
          SELECT doc_id, lang, rk,
            ((2 * rk - 1) * 1000000) // (2 * weight) AS vt
          FROM r JOIN w USING (lang)
        )
        SELECT doc_id, lang, rk, vt,
          CAST(row_number() OVER (ORDER BY vt, lang, rk) - 1 AS BIGINT) AS pos
        FROM v""")),

    // Fill-in-the-middle transform (Bavarian et al. 2022): half the docs
    // (unitHash Bernoulli gate) rewrite to the PSM layout
    // `<PRE> p <SUF> s <MID> m` with token-boundary cuts drawn from two
    // salted hashes mod (n+1) — pure narrow map, codegen builtins only,
    // runs at scan speed. The oracle replays hash, pmod, slices, and
    // string assembly exactly.
    Entry("qeu_fim_transform",
      (s, dir) => TextPipeline.fimTransform(t(s, dir, "documents"),
        "doc_id", "text", rate = 0.5),
      Some(s"""WITH tk AS (
          SELECT doc_id, $OTOKS AS w FROM documents
        ), n AS (
          SELECT doc_id, w, CAST(len(w) AS BIGINT) AS n_toks,
            CAST(len(w) + 1 AS BIGINT) AS m FROM tk
        ), h AS (
          SELECT doc_id, w, n_toks, m,
            ((${oSigned(oFnv("(CAST(doc_id AS VARCHAR) || ':fima')"))} % m) + m) % m AS h1,
            ((${oSigned(oFnv("(CAST(doc_id AS VARCHAR) || ':fimb')"))} % m) + m) % m AS h2,
            ${oUnitHash("doc_id", "fim")} < 0.5 AS fim_applied
          FROM n
        ), c AS (
          SELECT doc_id, w, n_toks, fim_applied,
            least(h1, h2) AS cut_lo, greatest(h1, h2) AS cut_hi
          FROM h
        )
        SELECT doc_id, fim_applied, n_toks, cut_lo, cut_hi,
          CASE WHEN fim_applied THEN
            '<PRE> ' || coalesce(array_to_string(w[1 : CAST(cut_lo AS INT)], ' '), '') ||
            ' <SUF> ' || coalesce(array_to_string(w[CAST(cut_hi + 1 AS INT) : CAST(n_toks AS INT)], ' '), '') ||
            ' <MID> ' || coalesce(array_to_string(w[CAST(cut_lo + 1 AS INT) : CAST(cut_hi AS INT)], ' '), '')
          ELSE coalesce(array_to_string(w, ' '), '') END AS text_fim
        FROM c""")),

    // Length-bucketed batch assignment (padding-minimizing finetuning
    // batcher): docs bucket by n_toks DIV 16, each bucket's hash-ordered
    // runs of 8 form batches — members differ by <16 tokens so padding
    // waste is bounded by construction. Integer division end to end; the
    // oracle replays bucket, rank, and batch arithmetic exactly.
    Entry("qew_length_batches",
      (s, dir) => TextPipeline.lengthBucketBatches(t(s, dir, "documents"),
        "doc_id", "text", bucketWidth = 16, batchSize = 8),
      Some(s"""WITH nn AS (
          SELECT doc_id, CAST(len($OTOKS) AS BIGINT) AS n_toks FROM documents
        ), b AS (
          SELECT doc_id, n_toks, n_toks // 16 AS bucket FROM nn
        ), r AS (
          SELECT doc_id, n_toks, bucket,
            CAST(row_number() OVER (PARTITION BY bucket
              ORDER BY ${oUnitHash("doc_id", "lenbatch")}, doc_id) AS BIGINT) AS rk
          FROM b
        )
        SELECT doc_id, n_toks, bucket, (rk - 1) // 8 AS batch_id,
          (rk - 1) % 8 AS pos_in_batch
        FROM r""")),

    // Token-budget cutoff: keep documents in salted-hash order until a
    // 10k-TOKEN budget fills (whole docs only — the "first N tokens of
    // the shuffled corpus" sizing rule). The plan's cumulative count is
    // the two-phase prefix scan (qel's device); the oracle IS the
    // one-task window the plan must never run.
    Entry("qex_token_budget",
      (s, dir) => Sampling.tokenBudgetSelect(t(s, dir, "documents"),
        "doc_id", "text", budget = 10000L),
      Some(s"""WITH nn AS (
          SELECT doc_id, CAST(len($OTOKS) AS BIGINT) AS n_toks,
            ${oSigned(oFnv("(CAST(doc_id AS VARCHAR) || ':budget')"))} AS ord
          FROM documents
        ), c AS (
          SELECT doc_id, n_toks,
            CAST(coalesce(sum(n_toks) OVER (ORDER BY ord, doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
              AS cum_before
          FROM nn
        )
        SELECT doc_id, n_toks, cum_before FROM c
        WHERE cum_before + n_toks <= 10000""")),

    // Token-budgeted SHARD layout (WebDataset/streaming-dataset packing):
    // the whole corpus in salted-hash order, cut into ~4096-token shards
    // by shard_id = cum_before DIV target — a straddling doc belongs to
    // the shard where it starts (whole docs, < one doc overshoot). Same
    // two-phase prefix-scan device as qex; the oracle is the one-task
    // window the plan must never run.
    Entry("qhe_token_shard_assign",
      (s, dir) => Sampling.tokenShardAssign(t(s, dir, "documents"),
        "doc_id", "text", targetTokens = 4096L),
      Some(s"""WITH nn AS (
          SELECT doc_id, CAST(len($OTOKS) AS BIGINT) AS n_toks,
            ${oSigned(oFnv("(CAST(doc_id AS VARCHAR) || ':shard')"))} AS ord
          FROM documents
        ), c AS (
          SELECT doc_id, n_toks,
            CAST(coalesce(sum(n_toks) OVER (ORDER BY ord, doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
              AS cum_before
          FROM nn
        )
        SELECT doc_id, n_toks, cum_before, cum_before // 4096 AS shard_id
        FROM c""")),

    // Mixture → curriculum COMPOSITION: the qeo UniMax allocation realizes
    // into physical copies (doc#epoch ids) and the copy stream orders by
    // the qes stride scheduler — the full "decide the mixture, then lay
    // out the epoch" path a trainer consumes, under ONE chained oracle so
    // the composition (not just each stage) is bit-exact. Copy ids get
    // their own hash ranks, so a doc's repeats spread across the schedule
    // instead of clumping — the reason to interleave AFTER realization.
    Entry("qey_mixture_curriculum",
      (s, dir) => {
        val mix = Sampling.unimaxSample(t(s, dir, "documents"),
          "doc_id", "lang", totalBudget = 900L, maxEpochs = 2L)
        val copies = mix
          .withColumn("copy", explode(sequence(lit(0L), col("n_copies") - 1)))
          .select(concat(col("doc_id"), lit("#"), col("copy")).as("cid"),
            col("lang"))
        Sampling.strideInterleave(copies, "cid", "lang")
      },
      Some(OMixtureCurriculum)),

    // T5 span corruption (Raffel et al. 2020): 4-token blocks mask where
    // fnv(doc:span·b) ≡ 0 (mod 4); inputs collapse masked blocks to
    // numbered sentinels, targets carry sentinel-prefixed masked content
    // plus the closing sentinel. Pure narrow codegen-HOF map; the oracle
    // replays hash draw, block slicing, sentinel numbering, and both
    // string assemblies exactly (mod 4 is a power of two, so unsigned
    // HUGEINT and two's-complement pmod agree bit-for-bit).
    Entry("qez_span_corrupt",
      (s, dir) => TextPipeline.spanCorrupt(t(s, dir, "documents"),
        "doc_id", "text", blockLen = 4, modDenom = 4),
      Some(s"""WITH tk AS (
          SELECT doc_id, $OTOKS AS w FROM documents
        ), n AS (
          SELECT doc_id, w, CAST(len(w) AS BIGINT) AS n_toks FROM tk
        ), bl AS (
          SELECT doc_id, w, n_toks,
            range(CAST((n_toks + 3) // 4 AS BIGINT)) AS blocks
          FROM n
        ), mk AS (
          SELECT doc_id, w, n_toks, blocks,
            list_transform(blocks, b ->
              ${oFnv("(CAST(doc_id AS VARCHAR) || ':span' || CAST(b AS VARCHAR))")}
                % 4 = 0) AS m
          FROM bl
        ), mb AS (
          SELECT doc_id, w, n_toks, blocks, m,
            list_filter(blocks, b -> m[CAST(b + 1 AS INT)]) AS mbl
          FROM mk
        )
        SELECT doc_id, n_toks,
          CAST(len(mbl) AS BIGINT) AS n_masked,
          coalesce(array_to_string(list_transform(blocks, b ->
            CASE WHEN m[CAST(b + 1 AS INT)]
              THEN '<extra_id_' || CAST(len(list_filter(blocks,
                x -> x < b AND m[CAST(x + 1 AS INT)])) AS VARCHAR) || '>'
              ELSE coalesce(array_to_string(
                w[CAST(b * 4 + 1 AS INT) : CAST(b * 4 + 4 AS INT)], ' '), '')
            END), ' '), '') AS input_text,
          CASE WHEN len(mbl) = 0 THEN '<extra_id_0>'
            ELSE coalesce(array_to_string(list_transform(mbl, b ->
              '<extra_id_' || CAST(len(list_filter(blocks,
                x -> x < b AND m[CAST(x + 1 AS INT)])) AS VARCHAR) || '> ' ||
              coalesce(array_to_string(
                w[CAST(b * 4 + 1 AS INT) : CAST(b * 4 + 4 AS INT)], ' '), '')),
              ' '), '') || ' <extra_id_' || CAST(len(mbl) AS VARCHAR) || '>'
          END AS target_text
        FROM mb""")),

    // Incremental mixture TOP-UP: the existing corpus (doc_id % 3 != 0)
    // is already skewed, a delivery (doc_id % 3 = 0) arrives, and 400
    // admissions waterfill over each lang's remaining DEFICIT toward a
    // 600-per-lang target, capped by what the delivery contains — the
    // steady-state admission rule that keeps a pipeline's mixture on
    // target under skewed deliveries. At sf0.01 every cap binds (the
    // whole delivery admits); at sf0.1 en's deficit is zero and the rest
    // split the budget — both allocator branches, one per SF, exactly
    // like qeo. Realization is the hash-rank prefix per lang.
    Entry("qf4_mixture_topup",
      (s, dir) => {
        val d = t(s, dir, "documents")
        val current = d.filter(col("doc_id") % 3 =!= 0)
          .groupBy(col("lang")).agg(count(lit(1)).as("n"))
        val delivery = d.filter(col("doc_id") % 3 === 0)
        Sampling.topupAdmit(delivery, "doc_id", "lang", current,
          targetPerGroup = 600L, totalBudget = 400L)
      },
      Some(OMixtureTopup)),

    // Competence-based curriculum (Platanios et al. 2019): docs ranked by
    // token-count difficulty; under the sqrt competence schedule a doc at
    // difficulty quantile q first becomes available at step ceil(T·q²),
    // T=1000. Integer-exact formula, global rank from the range-partition
    // + two-phase index scan; the oracle IS the one-task window + the
    // same arithmetic.
    Entry("qf6_competence_curriculum",
      (s, dir) => Sampling.competenceCurriculum(t(s, dir, "documents"),
        "doc_id", "text", totalSteps = 1000L),
      Some(OCompetenceCurriculum)),

    // Sequence packing WITH doc-boundary metadata: qel's layout plus the
    // sorted pos:doc list of where each document begins inside the
    // sequence — what attention-separator masks and per-doc loss masking
    // consume (packing without boundaries lets docs attend across the
    // concat seam). One extra aggregate over already seq-keyed rows.
    Entry("qf7_pack_boundaries",
      (s, dir) => TextPipeline.packSequencesWithBoundaries(
        t(s, dir, "documents"), "doc_id", "text", seqLen = 64),
      Some(s"""WITH toks AS (
          SELECT doc_id, $OTOKS AS w FROM documents
        ), off AS (
          SELECT doc_id, w,
            coalesce(sum(len(w)) OVER (ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS o
          FROM toks
        ), tok AS (
          SELECT doc_id, o + i - 1 AS gpos, w[i] AS t
          FROM off CROSS JOIN UNNEST(generate_series(1, len(w))) AS u(i)
        ), seq AS (
          SELECT CAST(gpos // 64 AS BIGINT) AS seq_id,
            CAST(gpos % 64 AS BIGINT) AS pos, t, doc_id
          FROM tok
        ), s1 AS (
          SELECT seq_id, CAST(count(*) AS BIGINT) AS n_toks,
            CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
            string_agg(t, ' ' ORDER BY pos) AS seq_text
          FROM seq GROUP BY 1
        ), b0 AS (
          SELECT seq_id, doc_id, min(pos) AS p FROM seq GROUP BY 1, 2
        ), b AS (
          SELECT seq_id,
            string_agg(CAST(p AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR),
              ' ' ORDER BY p) AS boundaries
          FROM b0 GROUP BY 1
        )
        SELECT s1.seq_id, s1.n_toks, s1.n_docs, s1.seq_text, b.boundaries
        FROM s1 JOIN b USING (seq_id)""")),
    // ExactSubstr dedup (Lee et al. 2022 exact mode): every character
    // inside any substring of length >= 40 occurring >= 2 times anywhere
    // in the corpus is excised. The oracle replays the L-gram reduction
    // (dup-substring spans == dup-L-gram windows, exactly) with plain
    // substring grouping; the Spark side hashes first and text-confirms
    // candidates, so both are collision-exact.
    Entry("qf8_exact_substr_dedup",
      (s, dir) => Dedup.exactSubstrRemove(
        t(s, dir, "documents"), "doc_id", "text", minLen = 40),
      Some(OExactSubstrDedup)),

    // Unigram-LM tokenizer training by hard EM (Kudo 2018's Viterbi
    // variant) — the THIRD published trainer beside BPE (qd4/qdd) and
    // WordPiece (qdu), completing the family: corpus-substring seed, two
    // rounds of integer-rarity costs -> min-cost DP -> deterministic
    // longest-piece backtrack -> corpus-weighted usage re-count. The
    // whole (iter, piece, cost, cnt) trajectory is the gate row set.
    Entry("qfd_unigram_train",
      (s, dir) => {
        import s.implicits._
        TextPipeline.unigramTrain(t(s, dir, "documents"), "text",
          maxPieceLen = 4, seedMulti = 24, iters = 2)
          .toDF("iter", "piece", "cost", "cnt")
      },
      Some(OUnigramTrain)),

    // Unigram-LM training by SOFT EM — Kudo 2018's published E-step
    // (expected counts by forward-backward over each word's segmentation
    // lattice), where qfd is the hard/Viterbi approximation. The gate is
    // the full (iter, piece, ecnt) trajectory in 1e6-fixed-point count
    // units; engine-exact replay holds through the doubles by matched
    // IEEE op order (vocab-order folds both sides, in-engine weight
    // division from identical < 2^53 integers, per-occurrence posteriors
    // fixed-pointed before any cross-row sum).
    Entry("qfn_unigram_soft_em",
      (s, dir) => {
        import s.implicits._
        TextPipeline.unigramTrainSoft(t(s, dir, "documents"), "text",
          maxPieceLen = 4, seedMulti = 24, iters = 2)
          .toDF("iter", "piece", "ecnt")
      },
      Some(OUnigramSoft)),

    // Subword-regularization SAMPLING (Kudo 2018 §3) — each word
    // occurrence's segmentation drawn from the soft-EM lattice posterior
    // by forward-filtering backward-sampling, with unitHash draws keyed
    // (doc, word index, position): deterministic regularization — two
    // occurrences of one word segment independently, reruns replay
    // byte-identically, and the oracle replays every draw decision on
    // bit-identical doubles (same fold order + in-engine weights as qfn).
    Entry("qfp_unigram_sample",
      (s, dir) => {
        // fixed 100-doc slice: the per-occurrence FFBS walk's DuckDB
        // replay is lattice-heavy, so the gate size is sf-independent.
        // Corpus-scale evidence lives elsewhere, MEASURED: IterBench's
        // `unigram` section times the sampler at k× corpus and k× vocab
        // (BASELINE.md round-14 — corpus-linear, vocab-flat on the
        // indexed kernel), and qft runs the sampler over the FULL sf
        // corpus under a law-based oracle
        val d = t(s, dir, "documents").filter(col("doc_id") < 100)
        val trained = TextPipeline.unigramTrainSoft(d, "text",
          maxPieceLen = 4, seedMulti = 24, iters = 2)
        val vocab = trained.filter(_._1 == 2).map { case (_, p, e) => (p, e) }
        TextPipeline.unigramSampleEncode(d, "doc_id", "text", vocab)
      },
      Some(OUnigramSample)),

    // N-BEST segmentation (Kudo 2018 §3's deterministic alternative to
    // qfp's sampling): per distinct word the 3 cheapest segmentations
    // under the hard-EM-trained rarity costs, ties broken by the
    // rendered piece string — a total, engine-replayable order with
    // integer costs and binary string comparison only.
    Entry("qfs_nbest_segment",
      (s, dir) => {
        val d = t(s, dir, "documents")
        val trained = TextPipeline.unigramTrain(d, "text",
          maxPieceLen = 4, seedMulti = 24, iters = 2)
        val costs = trained.filter(_._1 == 2)
          .map { case (_, p, _, cnt) => (p, 1000000L / (1L + cnt)) }
        TextPipeline.nbestSegment(d, "text", costs, n = 3)
      },
      Some(ONbestSegment)),

    // FFBS sampling at CORPUS scale — the sf-scaled companion qfp's
    // 100-doc cap cannot provide (round-13 VERDICT item #6): the full
    // per-draw DuckDB replay is lattice-heavy, so this gate pins the
    // sampler's LAWS over the WHOLE sf corpus instead — per doc the
    // word count matches the raw text's, every word's sampled pieces
    // tile it back exactly (n_tiled == n_words), and the piece count
    // sits in [n_words, n_chars]. The oracle derives all three columns
    // from the raw parquet alone; per-draw bit-exactness is qfp's job,
    // and the indexed/literal kernel equivalence is spec-pinned.
    Entry("qft_unigram_sample_scale",
      (s, dir) => {
        val d = t(s, dir, "documents")
        val trained = TextPipeline.unigramTrainSoft(d, "text",
          maxPieceLen = 4, seedMulti = 24, iters = 1)
        val vocab = trained.filter(_._1 == 1).map { case (_, p, e) => (p, e) }
        val out = TextPipeline.unigramSampleEncode(d, "doc_id", "text", vocab)
        val src = d.select(col("doc_id"),
          TextFunctions.tokens(lower(col("text"))).as("ws"))
        out.join(src, Seq("doc_id"))
          .select(col("doc_id"), col("n_words"),
            expr("""aggregate(zip_with(split(seg_text, ' '), ws,
                (a, b) -> CASE WHEN replace(a, chr(31), '') = b
                          THEN 1L ELSE 0L END),
              0L, (acc, x) -> acc + x)""").as("n_tiled"),
            (col("n_pieces") >= col("n_words") && col("n_pieces") <=
              expr("aggregate(ws, 0L, (a, w) -> a + length(w))")).as("bounded"))
      },
      Some(OUnigramSampleScale)),

    // BPE-DROPOUT encoding (Provilkov et al. 2020) — the BPE family's
    // subword regularization, qfp's counterpart: each merge opportunity
    // drops with p = 0.3 under the integer draw
    // (fnv(doc:widx:rank:step:salt) >>> 11 mod 1000), so occurrences of
    // one word segment differently while reruns replay byte-identically.
    // Fixed 3-merge table (training provenance is qdd/qdl's job — this
    // gate isolates the dropout draws); 100-doc slice, the qfp device:
    // the oracle replays EVERY draw inside the per-occurrence fold.
    Entry("qfv_bpe_dropout",
      (s, dir) => TextPipeline.bpeEncodeDropout(
        t(s, dir, "documents").filter(col("doc_id") < 100),
        "doc_id", "text", BpeDropMerges, dropMille = 300),
      Some(OBpeDropout)),

    // BPE-dropout at CORPUS scale, p = 0 (the qft device for this
    // family): over the FULL sf corpus the dropout machinery's
    // per-OCCURRENCE fold chain must degenerate to plain bpeEncode —
    // the oracle folds each distinct word once and joins back, so any
    // occurrence-dependence the machinery wrongly introduced at scale
    // (key leakage into the p=0 path, fold-order drift) hash-fails.
    // Per-draw bit-exactness at p > 0 is qfv's job.
    Entry("qfw_bpe_dropout_scale",
      (s, dir) => TextPipeline.bpeEncodeDropout(t(s, dir, "documents"),
        "doc_id", "text", BpeDropMerges, dropMille = 0),
      Some(OBpeDropoutScale)),

    // The COMPLETE Kudo trainer: soft-EM expected counts driving BOTH
    // the re-estimation and the prune scores (qfn + qfg's halves
    // composed — the published algorithm's actual structure). Loss =
    // (e DIV scale)·(altCost − cost) with costs from the previous
    // round's counts; the smallest-8 multi-char pieces prune per round
    // (by LENGTH eligibility — soft losses can be negative and prune
    // first); the full per-round trajectory is the gate row set.
    Entry("qfq_unigram_soft_prune",
      (s, dir) => {
        import s.implicits._
        TextPipeline.unigramTrainSoftPruned(t(s, dir, "documents"), "text",
          maxPieceLen = 4, seedMulti = 24, rounds = 2, pruneCount = 8)
          .toDF("round", "piece", "cost", "ecnt", "loss", "pruned")
      },
      Some(OUnigramSoftPrune)),

    // Unigram-LM training WITH Kudo's pruning schedule — the
    // vocabulary-size control qfd's re-estimation lacks: per round,
    // every multi-char piece scores the first-order loss
    // cnt · (altCost − cost) (altCost = its own text segmented from
    // the REST of the vocabulary — the independent-replacement
    // assumption Kudo's prune makes), and the smallest-8 drop; single
    // chars are the segmentability floor and never prune. The gate
    // row set is the full per-round trajectory incl. losses and
    // prune verdicts.
    Entry("qfg_unigram_prune",
      (s, dir) => {
        import s.implicits._
        TextPipeline.unigramTrainPruned(t(s, dir, "documents"), "text",
          maxPieceLen = 4, seedMulti = 24, rounds = 2, pruneCount = 8)
          .toDF("round", "piece", "cost", "cnt", "loss", "pruned")
      },
      Some(OUnigramPrune)),

    // ENCODE with the trained unigram vocabulary — the apply half qfd's
    // trainer feeds (the qdl/qdw counterpart for the unigram family):
    // 2 EM rounds train the piece counts, costs derive as 1e6//(1+cnt),
    // and the corpus encodes under the position-free weighted DP. The
    // position-free semantics ride minCostEncode by registering every
    // piece BOTH bare (word-initial) and ##-prefixed (continuation) —
    // the standard adapter from SentencePiece's position-free pieces to
    // a WordPiece-shaped matcher, cost-identical by construction.
    Entry("qfj_unigram_encode",
      (s, dir) => {
        val d = t(s, dir, "documents")
        val trained = TextPipeline.unigramTrain(d, "text",
          maxPieceLen = 4, seedMulti = 24, iters = 2)
        val costs = trained.filter(_._1 == 2)
          .map { case (_, p, _, cnt) => (p, 1000000L / (1L + cnt)) }
        val vocab = costs.flatMap { case (p, c) =>
          Seq((p, c), ("##" + p, c)) }
        TextPipeline.minCostEncode(d, "doc_id", "text", vocab,
          unkCost = 1000000L)
      },
      Some(OUnigramEncode)),

    // END-TO-END curation v2 — the round-12 operators composed under ONE
    // oracle (qen's counterpart from this round's pieces): ExactSubstr-
    // clean the corpus (qf8, L=40), keep docs still carrying >= 20
    // tokens (post-clean viability), pack survivors into 64-token
    // sequences WITH doc-boundary metadata (qf7). The chained oracle
    // covers cleaning, the filter, and the packing layout together, so
    // the COMPOSITION is bit-exact, not just each stage.
    Entry("qfm_curation_v2",
      (s, dir) => {
        val cleaned = Dedup.exactSubstrRemove(
            t(s, dir, "documents"), "doc_id", "text", minLen = 40)
          .select(col("doc_id"), col("clean_text").as("text"))
        val kept = cleaned.filter(
          size(TextFunctions.tokens(col("text"))) >= 20)
        TextPipeline.packSequencesWithBoundaries(kept, "doc_id", "text",
          seqLen = 64)
      },
      Some(s"""WITH g AS (
          SELECT doc_id, i - 1 AS pos, substring(text, i, 40) AS gram
          FROM documents
          CROSS JOIN UNNEST(generate_series(1, len(text) - 39)) AS u(i)
          WHERE len(text) >= 40
        ), dup AS (
          SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2
        ), iv AS (
          SELECT doc_id, pos AS st, pos + 40 AS e FROM g
          WHERE gram IN (SELECT gram FROM dup)
        ), brk AS (
          SELECT doc_id, st, e,
            CASE WHEN st > coalesce(max(e) OVER (PARTITION BY doc_id
              ORDER BY st, e ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
              -1) THEN 1 ELSE 0 END AS b
          FROM iv
        ), grps AS (
          SELECT doc_id, st, e,
            sum(b) OVER (PARTITION BY doc_id ORDER BY st, e) AS grp
          FROM brk
        ), mi AS (
          SELECT doc_id, grp, min(st) AS st, max(e) AS e
          FROM grps GROUP BY 1, 2
        ), seg AS (
          SELECT doc_id,
            coalesce(lag(e) OVER (PARTITION BY doc_id ORDER BY st), 0) AS gs,
            st AS ge
          FROM mi
          UNION ALL
          SELECT doc_id, max(e) AS gs, NULL AS ge FROM mi GROUP BY doc_id
        ), rec AS (
          SELECT d.doc_id,
            string_agg(substring(d.text, seg.gs + 1,
              coalesce(seg.ge, len(d.text)) - seg.gs), '' ORDER BY seg.gs)
              AS ct
          FROM documents d JOIN seg ON d.doc_id = seg.doc_id
          GROUP BY d.doc_id
        ), cleaned AS (
          SELECT d.doc_id, coalesce(rec.ct, d.text) AS text
          FROM documents d LEFT JOIN rec USING (doc_id)
        ), ktoks AS (
          SELECT doc_id,
            list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS w
          FROM cleaned
        ), keep AS (
          SELECT doc_id, w FROM ktoks WHERE len(w) >= 20
        ), off AS (
          SELECT doc_id, w,
            coalesce(sum(len(w)) OVER (ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS o
          FROM keep
        ), tok AS (
          SELECT doc_id, o + i - 1 AS gpos, w[i] AS t
          FROM off CROSS JOIN UNNEST(generate_series(1, len(w))) AS uu(i)
        ), sq AS (
          SELECT CAST(gpos // 64 AS BIGINT) AS seq_id,
            CAST(gpos % 64 AS BIGINT) AS pos, t, doc_id
          FROM tok
        ), s1 AS (
          SELECT seq_id, CAST(count(*) AS BIGINT) AS n_toks,
            CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
            string_agg(t, ' ' ORDER BY pos) AS seq_text
          FROM sq GROUP BY 1
        ), b0 AS (
          SELECT seq_id, doc_id, min(pos) AS p FROM sq GROUP BY 1, 2
        ), bb AS (
          SELECT seq_id,
            string_agg(CAST(p AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR),
              ' ' ORDER BY p) AS boundaries
          FROM b0 GROUP BY 1
        )
        SELECT s1.seq_id, s1.n_toks, s1.n_docs, s1.seq_text, bb.boundaries
        FROM s1 JOIN bb USING (seq_id)""")),

    // Memorization-risk report (the exposure metric of the memorization
    // literature): per doc, the merged spans covered by 40-char windows
    // UNIQUE corpus-wide — the single-source content deduplication can
    // never touch. qf8's machinery with the count filter flipped to
    // == 1 and a stats tail instead of excision.
    Entry("qfk_memorization_report",
      (s, dir) => Dedup.memorizationReport(
        t(s, dir, "documents"), "doc_id", "text", windowLen = 40),
      Some("""WITH g AS (
          SELECT doc_id, i - 1 AS pos, substring(text, i, 40) AS gram
          FROM documents
          CROSS JOIN UNNEST(generate_series(1, len(text) - 39)) AS u(i)
          WHERE len(text) >= 40
        ), uq AS (
          SELECT gram FROM g GROUP BY gram HAVING count(*) = 1
        ), iv AS (
          SELECT doc_id, pos AS s, pos + 40 AS e FROM g
          WHERE gram IN (SELECT gram FROM uq)
        ), brk AS (
          SELECT doc_id, s, e,
            CASE WHEN s > coalesce(max(e) OVER (PARTITION BY doc_id
              ORDER BY s, e ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
              -1) THEN 1 ELSE 0 END AS b
          FROM iv
        ), grps AS (
          SELECT doc_id, s, e,
            sum(b) OVER (PARTITION BY doc_id ORDER BY s, e) AS grp
          FROM brk
        ), mi AS (
          SELECT doc_id, grp, min(s) AS s, max(e) AS e FROM grps GROUP BY 1, 2
        ), agg AS (
          SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
            CAST(sum(e - s) AS BIGINT) AS n_chars
          FROM mi GROUP BY 1
        )
        SELECT d.doc_id,
          coalesce(agg.n_spans, CAST(0 AS BIGINT)) AS n_unique_spans,
          coalesce(agg.n_chars, CAST(0 AS BIGINT)) AS n_unique_chars,
          CASE WHEN len(d.text) > 0
            THEN CAST(coalesce(agg.n_chars, 0) * 1000 // len(d.text) AS BIGINT)
            ELSE CAST(0 AS BIGINT) END AS frac_unique_millis
        FROM documents d LEFT JOIN agg USING (doc_id)""")),

    // Release AUDIT CARD — the per-source report a dataset release ships
    // with, composed from the engine's own operators under ONE oracle:
    // doc/token/char counts, duplicated-content incidence (docs carrying
    // any 8-token chunk that occurs >= 2 times corpus-wide — qep's chunk
    // device; whole-doc exact dups are zero in this fixture so the
    // chunk granularity is what a release would actually report),
    // benchmark contamination incidence (qbf's 3-gram rule against the
    // doc_id % 50 == 0 bench slice; bench docs themselves count 0), and
    // language spread. All measures integer-exact. At 100 TB the chunk
    // join keys on the q87 fingerprint — identical shape, 8-byte keys.
    Entry("qfh_release_audit",
      (s, dir) => {
        val d = t(s, dir, "documents")
        val bench = d.filter(pmod(col("doc_id"), lit(50)) === 0)
        val train = d.filter(pmod(col("doc_id"), lit(50)) =!= 0)
        val contam = Dedup.contaminationCheck(train, bench, "doc_id",
            "text", n = 3)
          .select(col("doc").as("doc_id"), col("contaminated"))
        val chunks = TextPipeline.chunk(d, "doc_id", "text",
          chunkSize = 8, overlap = 0)
        val dupChunks = chunks.groupBy(col("chunk_text"))
          .agg(count(lit(1)).as("_cc")).filter(col("_cc") >= 2)
          .select("chunk_text")
        val dupDocs = chunks.join(dupChunks, Seq("chunk_text"), "left_semi")
          .select("doc_id").distinct().withColumn("_dup", lit(true))
        d.join(contam, Seq("doc_id"), "left")
          .join(dupDocs, Seq("doc_id"), "left")
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(size(TextFunctions.tokens(col("text"))).cast("long"))
              .as("n_tokens"),
            sum(col("n_chars")).as("n_chars"),
            sum(when(col("_dup"), 1L).otherwise(0L)).as("n_dup_docs"),
            sum(when(col("contaminated"), 1L).otherwise(0L))
              .as("n_contaminated"),
            countDistinct(col("lang")).as("n_langs"))
      },
      Some(s"""WITH toks AS (
          SELECT doc_id, $OTOKS AS w FROM documents
        ), sh AS (
          SELECT DISTINCT doc_id, (w[i] || ' ' || w[i+1] || ' ' || w[i+2]) AS sh
          FROM toks CROSS JOIN UNNEST(generate_series(1, len(w) - 2)) AS t(i)
        ), bench AS (
          SELECT DISTINCT sh FROM sh WHERE doc_id % 50 = 0
        ), ctm AS (
          SELECT DISTINCT doc_id FROM sh JOIN bench USING (sh)
          WHERE doc_id % 50 <> 0
        ), cn AS (
          SELECT doc_id, w, len(w) AS n FROM toks
        ), c AS (
          SELECT doc_id, w, unnest(range(CAST(CASE WHEN n > 0
            THEN ceil(n / 8.0) ELSE 0 END AS BIGINT))) AS ci
          FROM cn
        ), ch AS (
          SELECT doc_id, array_to_string(w[ci*8 + 1 : ci*8 + 8], ' ') AS ct
          FROM c
        ), dupc AS (
          SELECT ct FROM ch GROUP BY ct HAVING count(*) >= 2
        ), dd AS (
          SELECT DISTINCT doc_id FROM ch WHERE ct IN (SELECT ct FROM dupc)
        )
        SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
          CAST(sum(len(t.w)) AS BIGINT) AS n_tokens,
          CAST(sum(d.n_chars) AS BIGINT) AS n_chars,
          CAST(sum(CASE WHEN d.doc_id IN (SELECT doc_id FROM dd)
            THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs,
          CAST(sum(CASE WHEN d.doc_id IN (SELECT doc_id FROM ctm)
            THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
          CAST(count(DISTINCT d.lang) AS BIGINT) AS n_langs
        FROM documents d JOIN toks t USING (doc_id)
        GROUP BY d.source""")),

    // DoReMi domain reweighting (Xie et al. 2023) — the Group-DRO proxy
    // loop as exact integer arithmetic: per-(step, domain) mean excess
    // loss (here a deterministic n_chars-derived stand-in; production
    // feeds real proxy-minus-reference losses), 4 multiplicative-weights
    // steps with DoReMi's smoothed renormalization, output = across-step
    // average + final mixture in nano-units. ONE corpus aggregate feeds
    // the whole trajectory; the oracle unrolls all 4 steps in HUGEINT —
    // bit-for-bit against the driver's BigInt loop.
    Entry("qga_doremi_weights",
      (s, dir) => Sampling.doremiWeightsScaled(
        t(s, dir, "documents").select(col("source"),
          pmod(col("n_chars"), lit(997L)).as("excess"),
          pmod(col("doc_id"), lit(4L)).as("step")),
        "source", "excess", "step", steps = 4, etaMilli = 500,
        smoothMilli = 100),
      Some(ODoremi4)),

    // Tokenizer FERTILITY report (Rust et al. 2021, "How Good is Your
    // Tokenizer?" — subwords per word, the standard multilingual
    // tokenizer-eval metric): train the BPE (qd4's 3 merges), encode
    // the corpus (qdl), aggregate tokens/words per language, fertility
    // in exact integer millis. The oracle replays train + encode
    // through the shared word-carrying fold CTEs and re-aggregates by
    // language.
    Entry("qgk_tokenizer_fertility",
      (s, dir) => {
        val d = t(s, dir, "documents")
        val merges = TextPipeline.bpeTrain(d, "text", nMerges = 3)
          .map { case (_, l, r, _) => (l, r) }
        TextPipeline.bpeEncode(d, "doc_id", "text", merges)
          .join(d.select(col("doc_id"), col("lang")), Seq("doc_id"))
          .groupBy(col("lang"))
          .agg(sum("n_words").as("n_words"), sum("n_tokens").as("n_tokens"))
          .withColumn("fertility_milli", expr("(1000L * n_tokens) DIV n_words"))
      },
      Some(s"""WITH RECURSIVE words AS (
          SELECT w AS word, count(*) AS cnt FROM (
            SELECT unnest(list_filter(
              string_split_regex(lower(text), '\\s+'), x -> x <> '')) AS w
            FROM documents)
          GROUP BY 1
        ), v0 AS MATERIALIZED (
          SELECT word, list_append(
              list_transform(range(1, length(word) + 1), i -> word[i]),
              '</w>') AS syms,
            cnt
          FROM words
        ), ${oBpeArgmax(0)}, ${oBpeFold(0)}, ${oBpeArgmax(1)}, ${oBpeFold(1)},
        ${oBpeArgmax(2)}, ${oBpeFold(2)},
        wl AS (
          SELECT word, len(syms) AS w_toks FROM v3
        ), docw AS (
          SELECT doc_id, unnest(list_filter(
            string_split_regex(lower(text), '\\s+'), x -> x <> '')) AS word
          FROM documents
        ), agg AS (
          SELECT d.lang, CAST(count(*) AS BIGINT) AS n_words,
            CAST(sum(wl.w_toks) AS BIGINT) AS n_tokens
          FROM docw JOIN wl USING (word)
          JOIN documents d USING (doc_id)
          GROUP BY d.lang
        )
        SELECT lang, n_words, n_tokens,
          CAST((1000 * n_tokens) // n_words AS BIGINT) AS fertility_milli
        FROM agg""")),

    // Tokenizer EVAL rounding-out (qgk's fertility + the other standard
    // metrics): per-language COMPRESSION RATE (bytes per token, milli —
    // the byte-premium lens of Rust et al. 2021), CONTINUED-WORD share
    // (words split into >= 2 subwords — their "proportion of continued
    // words"), and closed-vocab OOV (occurrences outside the top-10
    // word types by global frequency, ties broken lexicographically —
    // the classic word-level-LM coverage metric; the corpus' shared
    // cross-language alphabet makes char-level OOV vacuous, a frequency
    // cut is not). Word-type stats ride the vocab-bounded
    // bpeWordTokenCounts frame broadcast onto occurrences; the only
    // non-vocab work is one occurrence-level aggregate.
    Entry("qh2_tokenizer_eval",
      (s, dir) => {
        val d = t(s, dir, "documents")
        val merges = TextPipeline.bpeTrain(d, "text", nMerges = 3)
          .map { case (_, l, r, _) => (l, r) }
        val wlen = TextPipeline.bpeWordTokenCounts(d, "text", merges)
        val words = d.select(col("doc_id"), col("lang"),
          explode(TextFunctions.tokens(lower(col("text")))).as("word"))
        // vocab-scale frame: a window over word TYPES, never the corpus
        val topk = words.groupBy(col("word")).agg(count(lit(1)).as("_c"))
          .withColumn("_r", row_number().over(
            org.apache.spark.sql.expressions.Window
              .orderBy(col("_c").desc, col("word").asc)))
          .filter(col("_r") <= 10)
          .select(col("word"), lit(1L).as("_iv"))
        words.join(broadcast(wlen), Seq("word"))
          .join(broadcast(topk), Seq("word"), "left")
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_words"),
            sum(col("w_toks")).as("n_tokens"),
            sum(octet_length(col("word")).cast("long")).as("n_bytes"),
            sum(when(col("w_toks") >= 2, 1L).otherwise(0L)).as("n_continued"),
            sum(when(col("_iv").isNull, 1L).otherwise(0L)).as("n_oov"))
          .withColumn("fertility_milli", expr("(1000L * n_tokens) DIV n_words"))
          .withColumn("compression_milli", expr("(1000L * n_bytes) DIV n_tokens"))
          .withColumn("continued_milli", expr("(1000L * n_continued) DIV n_words"))
          .withColumn("oov_milli", expr("(1000L * n_oov) DIV n_words"))
      },
      Some(s"""WITH RECURSIVE words AS (
          SELECT w AS word, count(*) AS cnt FROM (
            SELECT unnest(list_filter(
              string_split_regex(lower(text), '\\s+'), x -> x <> '')) AS w
            FROM documents)
          GROUP BY 1
        ), v0 AS MATERIALIZED (
          SELECT word, list_append(
              list_transform(range(1, length(word) + 1), i -> word[i]),
              '</w>') AS syms,
            cnt
          FROM words
        ), ${oBpeArgmax(0)}, ${oBpeFold(0)}, ${oBpeArgmax(1)}, ${oBpeFold(1)},
        ${oBpeArgmax(2)}, ${oBpeFold(2)},
        wl AS (
          SELECT word, len(syms) AS w_toks FROM v3
        ), topk AS (
          SELECT word FROM words ORDER BY cnt DESC, word ASC LIMIT 10
        ), docw AS (
          SELECT doc_id, unnest(list_filter(
            string_split_regex(lower(text), '\\s+'), x -> x <> '')) AS word
          FROM documents
        ), agg AS (
          SELECT d.lang, CAST(count(*) AS BIGINT) AS n_words,
            CAST(sum(wl.w_toks) AS BIGINT) AS n_tokens,
            CAST(sum(strlen(docw.word)) AS BIGINT) AS n_bytes,
            CAST(sum(CASE WHEN wl.w_toks >= 2 THEN 1 ELSE 0 END) AS BIGINT)
              AS n_continued,
            CAST(sum(CASE WHEN docw.word IN (SELECT word FROM topk)
              THEN 0 ELSE 1 END) AS BIGINT) AS n_oov
          FROM docw JOIN wl USING (word)
          JOIN documents d USING (doc_id)
          GROUP BY d.lang
        )
        SELECT lang, n_words, n_tokens, n_bytes, n_continued, n_oov,
          CAST((1000 * n_tokens) // n_words AS BIGINT) AS fertility_milli,
          CAST((1000 * n_bytes) // n_tokens AS BIGINT) AS compression_milli,
          CAST((1000 * n_continued) // n_words AS BIGINT) AS continued_milli,
          CAST((1000 * n_oov) // n_words AS BIGINT) AS oov_milli
        FROM agg""")),

    // DoReMi END-TO-END: learn the mixture (qga's trajectory), then
    // RESAMPLE the corpus to it — the paper's consumption step: each
    // domain receives floor(2000 · avg_weight/1e9) slots realized as
    // per-document copy counts by salted-hash rank (the unimax copy
    // law). ONE chained oracle: the full HUGEINT trajectory feeds the
    // budget, rank, and copy arithmetic — the composition, not just
    // each stage, is bit-exact.
    Entry("qgh_doremi_resample",
      (s, dir) => {
        val staged = t(s, dir, "documents").select(col("doc_id"), col("source"),
          pmod(col("n_chars"), lit(997L)).as("excess"),
          pmod(col("doc_id"), lit(4L)).as("step"))
        val w = Sampling.doremiWeightsScaled(staged, "source", "excess",
          "step", steps = 4, etaMilli = 500, smoothMilli = 100)
        Sampling.doremiRealize(t(s, dir, "documents"), "doc_id", "source",
          w, "avg_weight_nanos", totalBudget = 2000L)
      },
      Some(s"""$ODoremi4Ctes,
        wts AS (
          SELECT w1.domain AS source,
            CAST((w1.w + w2.w + w3.w + w4.w) // 4 AS BIGINT) AS wn
          FROM w1 JOIN w2 USING (domain) JOIN w3 USING (domain)
            JOIN w4 USING (domain)
        ), bud AS (
          SELECT source, (2000 * wn) // 1000000000 AS b FROM wts
        ), cnts AS (
          SELECT source, CAST(count(*) AS BIGINT) AS n
          FROM documents GROUP BY 1
        ), r0 AS (
          SELECT doc_id, source,
            CAST(row_number() OVER (PARTITION BY source
              ORDER BY ${oUnitHash("doc_id", "doremi")}, doc_id) AS BIGINT) AS rk
          FROM documents
        ), outr AS (
          SELECT r0.doc_id, r0.source,
            (b.b // c.n) + CASE WHEN r0.rk <= (b.b % c.n) THEN 1 ELSE 0 END
              AS n_copies
          FROM r0 JOIN bud b USING (source) JOIN cnts c USING (source)
        )
        SELECT doc_id, source, CAST(n_copies AS BIGINT) AS n_copies
        FROM outr WHERE n_copies > 0""")),

    // GPT-3-style stochastic quality filtering (Brown et al. 2020 App. A:
    // keep iff classifier score > 1 − pareto(9) draw) — qei's integer-
    // exact hashed-unigram classifier mapped to a milli-quality posterior,
    // the Pareto draw from the top 20 bits of the salted id hash, and the
    // keep rule closed into ONE exact integer comparison
    // (draw_bits · (2000 − q_milli)^9 < 2^20 · 1000^9 — Spark decimal(38)
    // vs DuckDB HUGEINT, same integers). No libm anywhere in the verdict.
    Entry("qgb_pareto_quality",
      (s, dir) => DataSelection.paretoQualitySelect(t(s, dir, "documents"),
        "doc_id", "text", isTarget = col("lang") === "en",
        buckets = 512, alpha = 9),
      Some {
        val p9 = Seq.fill(9)("CAST(2000 - q_milli AS HUGEINT)").mkString(" * ")
        s"""WITH tok AS (
          SELECT doc_id, lang, unnest($OTOKS) AS t FROM documents
        ), b AS (
          SELECT doc_id, lang, CAST(${oFnv("t")} % 512 AS BIGINT) AS bk
          FROM tok
        ), agg AS (
          SELECT bk,
            CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS nt,
            CAST(sum(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END) AS BIGINT) AS nr
          FROM b GROUP BY 1
        ), tot AS (
          SELECT CAST(coalesce(sum(nt), 0) + 512 AS BIGINT) AS totT,
                 CAST(coalesce(sum(nr), 0) + 512 AS BIGINT) AS totR
          FROM agg
        ), ilr AS (
          SELECT s.bk,
            ((coalesce(a.nt, 0) + 1) * t.totR * 1000000)
              // ((coalesce(a.nr, 0) + 1) * t.totT) AS r
          FROM (SELECT unnest(range(512)) AS bk) s
          LEFT JOIN agg a USING (bk) CROSS JOIN tot t
        ), sc AS (
          SELECT b.doc_id, CAST(count(*) AS BIGINT) AS n_feat,
            CAST(sum(i.r) AS BIGINT) AS score
          FROM b JOIN ilr i USING (bk) WHERE b.lang <> 'en' GROUP BY 1
        ), qn AS (
          SELECT doc_id, n_feat, score // n_feat AS avg_ilr FROM sc
        ), qd AS (
          SELECT doc_id, n_feat, avg_ilr,
            (1000 * avg_ilr) // (1000000 + avg_ilr) AS q_milli,
            CAST(${oFnv("(CAST(doc_id AS VARCHAR) || ':pareto')")}
              // 17592186044416::HUGEINT AS BIGINT) AS draw_bits
          FROM qn
        )
        SELECT doc_id, n_feat, avg_ilr, q_milli, draw_bits,
          (CAST(draw_bits AS HUGEINT) * $p9)
            < 1048576000000000000000000000000000::HUGEINT AS is_kept
        FROM qd"""
      }),

    // ExactSubstr LOSS MASKING (Lee et al. 2022 §5's alternative to
    // removal: keep the text, mask the training loss on duplicated
    // spans) — qf8's duplicated-window machinery emitting the merged
    // [s, e) span list as an explicit "s:e;s:e" mask instead of excising
    // it. Masking's spans and qf8's removals agree by construction
    // (same windows, same merge); the oracle replays spans, counts, and
    // the canonical rendering.
    Entry("qgc_exact_substr_mask",
      (s, dir) => Dedup.exactSubstrMask(t(s, dir, "documents"),
        "doc_id", "text", minLen = 40),
      Some("""WITH g AS (
          SELECT doc_id, i - 1 AS pos, substring(text, i, 40) AS gram
          FROM documents
          CROSS JOIN UNNEST(generate_series(1, len(text) - 39)) AS u(i)
          WHERE len(text) >= 40
        ), dup AS (
          SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2
        ), iv AS (
          SELECT doc_id, pos AS s, pos + 40 AS e FROM g
          WHERE gram IN (SELECT gram FROM dup)
        ), brk AS (
          SELECT doc_id, s, e,
            CASE WHEN s > coalesce(max(e) OVER (PARTITION BY doc_id
              ORDER BY s, e ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
              -1) THEN 1 ELSE 0 END AS b
          FROM iv
        ), grps AS (
          SELECT doc_id, s, e,
            sum(b) OVER (PARTITION BY doc_id ORDER BY s, e) AS grp
          FROM brk
        ), mi AS (
          SELECT doc_id, grp, min(s) AS s, max(e) AS e FROM grps GROUP BY 1, 2
        ), agg AS (
          SELECT doc_id, CAST(count(*) AS BIGINT) AS n_mask_spans,
            CAST(sum(e - s) AS BIGINT) AS n_masked_chars,
            string_agg(s || ':' || e, ';' ORDER BY s) AS mask_spans
          FROM mi GROUP BY 1
        )
        SELECT d.doc_id, coalesce(agg.mask_spans, '') AS mask_spans,
          coalesce(agg.n_mask_spans, CAST(0 AS BIGINT)) AS n_mask_spans,
          coalesce(agg.n_masked_chars, CAST(0 AS BIGINT)) AS n_masked_chars,
          CAST(len(d.text) AS BIGINT) AS len
        FROM documents d LEFT JOIN agg USING (doc_id)""")),

    // BYTE-LEVEL BPE (Radford et al. 2019 — the GPT-2/RoBERTa/GPT-3
    // tokenizer family: BPE over UTF-8 bytes remapped to printable
    // units, zero unknowns by construction): the corpus is staged with
    // planted 2-byte and 4-byte code points, lowered + pretokenized +
    // remapped through the caseless byte→unit bijection
    // (ByteUnitsExpr, U+2800+b), then the EXISTING trainer/encoder run
    // unchanged over byte units — 3 merges learned on bytes, per-doc
    // token counts under the byte vocabulary. The oracle re-derives
    // UTF-8 bytes from code points by arithmetic and replays train +
    // encode through the word-carrying folds.
    Entry("qge_byte_bpe",
      (s, dir) => {
        val staged = t(s, dir, "documents").select(col("doc_id"),
          when(pmod(col("doc_id"), lit(5)) === 0,
            concat(col("text"), lit(" caf\u00e9 d\u00e9j\u00e0 vu")))
            .when(pmod(col("doc_id"), lit(7)) === 3,
              concat(col("text"), lit(" \ud83d\ude00 na\u00efve")))
            .otherwise(col("text")).as("text"))
        val bl = staged.select(col("doc_id"),
          TextPipeline.byteLevelText(col("text")).as("text"))
        val merges = TextPipeline.bpeTrain(bl, "text", nMerges = 3)
          .map { case (_, l, r, _) => (l, r) }
        TextPipeline.bpeEncode(bl, "doc_id", "text", merges)
      },
      Some(OByteBpeEncode3)),

    // C4 line-level cleaning (Raffel et al. 2020 §2.2): the fixture is
    // single-line, so the gate stages multi-line pages first — 8-token
    // lines (qg4's chunk device), a period on lines where
    // (doc_id + line) % 3 != 0, then planted bad lines (a javascript
    // mention, a lorem-ipsum page marker, a short unpunctuated line).
    // The rules then decide identically in both engines: keep lines
    // ending in terminal punctuation with >= 5 words and no
    // "javascript"; drop pages with lorem ipsum, braces, or < 3
    // surviving sentences.
    Entry("qgg_c4_line_filter",
      (s, dir) => {
        val d = t(s, dir, "documents")
        val toks = graft.functions.TextFunctions.tokens(col("text"))
        val nToks = size(toks)
        val lined = d.select(col("doc_id"),
          when(nToks > 0, array_join(
            transform(
              sequence(lit(0L), ceil(nToks / lit(8.0)).cast("long") - 1),
              ci => concat(
                array_join(slice(toks, (ci * 8 + 1).cast("int"), lit(8)), " "),
                when(pmod(col("doc_id") + ci, lit(3)) =!= 0, ".")
                  .otherwise("")))
            , "\n")).otherwise(lit("")).as("text"))
        val staged = lined.select(col("doc_id"),
          when(pmod(col("doc_id"), lit(4)) === 0,
            concat(col("text"),
              lit("\nclick here to enable javascript support today.")))
            .when(pmod(col("doc_id"), lit(6)) === 1,
              concat(col("text"),
                lit("\nlorem ipsum dolor sit amet consectetur.")))
            .when(pmod(col("doc_id"), lit(9)) === 2,
              concat(col("text"), lit("\nshort line")))
            .otherwise(col("text")).as("text"))
        TextPipeline.c4LineFilter(staged, "doc_id", "text", minLineWords = 5)
      },
      Some(s"""WITH toks AS (
          SELECT doc_id, $OTOKS AS w FROM documents
        ), nn AS (
          SELECT doc_id, w, len(w) AS n FROM toks
        ), c AS (
          SELECT doc_id, w, unnest(range(CAST(CASE WHEN n > 0
            THEN ceil(n / 8.0) ELSE 0 END AS BIGINT))) AS ci
          FROM nn
        ), ch AS (
          SELECT doc_id, ci, array_to_string(w[ci*8 + 1 : ci*8 + 8], ' ')
            || CASE WHEN (doc_id + ci) % 3 <> 0 THEN '.' ELSE '' END AS line
          FROM c
        ), st0 AS (
          SELECT doc_id, string_agg(line, chr(10) ORDER BY ci) AS text
          FROM ch GROUP BY doc_id
        ), base AS (
          SELECT d.doc_id, coalesce(st0.text, '') AS text
          FROM documents d LEFT JOIN st0 USING (doc_id)
        ), staged AS (
          SELECT doc_id, CASE
            WHEN doc_id % 4 = 0 THEN text || chr(10)
              || 'click here to enable javascript support today.'
            WHEN doc_id % 6 = 1 THEN text || chr(10)
              || 'lorem ipsum dolor sit amet consectetur.'
            WHEN doc_id % 9 = 2 THEN text || chr(10) || 'short line'
            ELSE text END AS text
          FROM base
        ), r AS (
          SELECT doc_id, text, string_split(text, chr(10)) AS ls FROM staged
        ), k AS (
          SELECT doc_id, text, ls, list_filter(ls, l ->
            regexp_matches(l, '[.!?"]$$')
            AND len(list_filter(string_split_regex(l, '\\s+'), x -> x <> '')) >= 5
            AND NOT contains(lower(l), 'javascript')) AS ks
          FROM r
        ), f AS (
          -- DuckDB array_to_string([]) is NULL, not '' (unlike Spark's
          -- array_join) — coalesce or every all-lines-dropped page nulls
          SELECT doc_id, text,
            coalesce(array_to_string(ks, chr(10)), '') AS text_clean,
            CAST(len(ls) AS BIGINT) AS n_lines,
            CAST(len(ks) AS BIGINT) AS n_kept_lines
          FROM k
        ), g AS (
          SELECT doc_id, text, text_clean, n_lines, n_kept_lines,
            CAST(length(text_clean) - length(regexp_replace(text_clean,
              '[.!?]', '', 'g')) AS BIGINT) AS n_sentences
          FROM f
        )
        SELECT doc_id, text_clean, n_lines, n_kept_lines, n_sentences,
          (contains(lower(text), 'lorem ipsum') OR contains(text, '{')
            OR n_sentences < 3) AS doc_dropped
        FROM g""")),

    // Per-domain quota cap (MassiveWeb/Gopher §A.1.2's per-domain
    // document cap): keep <= 20 docs per source, chosen by salted
    // content hash with id tie-breaks. The engine ranks with the
    // two-phase grouped scan (Partitioning.groupedRank — a dominant
    // domain must not funnel a window through one task); the oracle IS
    // the single-node window, which DuckDB may run.
    Entry("qgd_domain_quota",
      (s, dir) => Sampling.domainQuotaCap(t(s, dir, "documents"),
        "doc_id", "source", perDomain = 20),
      Some(s"""WITH u AS (
          SELECT doc_id, source, ${oUnitHash("doc_id", "quota")} AS u
          FROM documents
        ), r AS (
          SELECT doc_id, source,
            CAST(row_number() OVER (PARTITION BY source ORDER BY u, doc_id)
              AS BIGINT) AS rk
          FROM u
        )
        SELECT doc_id, source, rk FROM r WHERE rk <= 20""")),
  )
}
