package graft.queries

import graft.Tables
import graft.functions.{Hashes, TextFunctions}
import graft.queries.QueryUtil.{OTOKS, oFnv, oSigned}
import graft.operators.{Dedup, Similarity}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Training-data-pipeline operators over `documents` / `embeddings`:
  * text statistics, quality scoring, language ID, exact & near dedup
  * (n-gram Jaccard, MinHash+LSH, SimHash), fingerprinting, ANN search.
  */
object ExtensionQueries {

  private def t(s: SparkSession, dir: String, n: String) = Tables(s, dir, n)

  /** Oracle fragment: whitespace tokens of `text` as a DuckDB list. */

  /** Shared input of the SCOPED dedup gates (qhd batch, qhg persistent
    * index): `documents` densified with one planted same-source clone per
    * doc_id % 97 == 0 — clone id = orig + 10,000,000 (collision-free
    * beyond real ids), text = orig plus ONE appended token, so the pair
    * is a genuine near-dup at jaccard = s/(s+1), not an exact copy. The
    * natural fixture carries only one same-source pair at sf0.01; the
    * plant gives the small-SF gate rows a multi-pair result while the
    * law stays fully oracle-replayable ([[OAug]] is the same plant in
    * SQL). */
  private def densifiedDocs(s: SparkSession, dir: String) = {
    val d = t(s, dir, "documents")
    val planted = d.filter(pmod(col("doc_id"), lit(97L)) === 0)
      .select((col("doc_id") + lit(10000000L)).as("doc_id"),
        col("source"), concat(col("text"), lit(" zq17")).as("text"))
    d.select(col("doc_id"), col("source"), col("text")).unionByName(planted)
  }

  /** [[densifiedDocs]] as a DuckDB CTE (name: `aug`). */
  private val OAug = """aug AS (
          SELECT doc_id, source, text FROM documents
          UNION ALL
          SELECT doc_id + 10000000, source, text || ' zq17'
          FROM documents WHERE doc_id % 97 = 0
        )"""

  /** Oracle fragment: lowercase alphanumeric normalization of `text` —
    * mirrors Hashes.fingerprint's pre-hash normalization, and guarantees a
    * pure-ASCII string so code points == UTF-8 bytes for [[oFnv]]. */
  private val ONORM = "trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))"

  /** The global SimHash near-dup pair set over `documents` — q86's exact
    * 64-bit signatures, the 4×16-bit pigeonhole blocks (arithmetic >>
    * then & 65535 ≡ Spark's unsigned shift for every block), and the
    * bit_count(xor) Hamming confirm at maxDist=3 < nBlocks=4 (exact
    * recall on BOTH engines). Shared by the batch-delivery (qg2) and
    * streaming (qg6) SimHashIndex gates. */
  private[queries] val OSimhashIndexPairs: String =
    s"""WITH norm AS (SELECT doc_id, $ONORM AS s FROM documents),
        tok AS (SELECT doc_id, unnest(list_filter(string_split(s, ' '), x -> x <> '')) AS w
          FROM norm),
        th AS (SELECT doc_id, ${oSigned(oFnv("w"))} AS hs FROM tok),
        bits AS (SELECT doc_id, b,
            sum(CASE WHEN ((hs >> b) & 1) = 1 THEN 1 ELSE -1 END) AS acc
          FROM th CROSS JOIN (SELECT unnest(range(0, 64)) AS b) GROUP BY doc_id, b),
        sh AS (SELECT doc_id, CAST(sum(CASE WHEN acc > 0 THEN
            CASE WHEN b = 63 THEN -9223372036854775808 ELSE (CAST(1 AS BIGINT) << b) END
            ELSE 0 END) AS BIGINT) AS simhash
          FROM bits GROUP BY doc_id),
        shc AS (SELECT d.doc_id, COALESCE(sh.simhash, 0) AS simhash
          FROM documents d LEFT JOIN sh ON d.doc_id = sh.doc_id),
        blks AS (SELECT doc_id, simhash, b AS blk,
            ((simhash >> (b * 16)) & 65535) AS blkval
          FROM shc CROSS JOIN (SELECT unnest(range(0, 4)) AS b)),
        cand AS (SELECT DISTINCT a.doc_id AS old_id, b.doc_id AS new_id,
            a.simhash AS h1, b.simhash AS h2
          FROM blks a JOIN blks b
          ON a.blk = b.blk AND a.blkval = b.blkval AND a.doc_id < b.doc_id)
        SELECT old_id, new_id, CAST(bit_count(xor(h1, h2)) AS BIGINT) AS hamming
        FROM cand WHERE bit_count(xor(h1, h2)) <= 3"""

  /** The exact shingle-Jaccard pair law at 0.5: q85, q8b, qeg and qdv. */
  private[queries] lazy val OMinhashPairs: String =
    s"""WITH toks AS (
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
        WHERE CAST(c AS DOUBLE) / (s1.nsh + s2.nsh - c) >= 0.5"""

  /** qdt's oracle, shared by the compacted-index variant qe4. */
  private lazy val OLshIndexSlices: String =
    s"""WITH toks AS (
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
        ), p AS (
          SELECT id1, id2,
            round(CAST(c AS DOUBLE) / (s1.nsh + s2.nsh - c), 9) AS jaccard
          FROM common
          JOIN sizes s1 ON id1 = s1.doc_id
          JOIN sizes s2 ON id2 = s2.doc_id
          WHERE CAST(c AS DOUBLE) / (s1.nsh + s2.nsh - c) >= 0.5
        )
        SELECT CASE WHEN id1 % 3 <= id2 % 3 THEN id1 ELSE id2 END AS old_id,
          CASE WHEN id1 % 3 <= id2 % 3 THEN id2 ELSE id1 END AS new_id,
          jaccard
        FROM p"""

  /** q88's oracle, shared by the native-expression variant qab. */
  private lazy val OKnnBrute: String =
    """SELECT query_id, rank, nbr_id, cos_sim FROM (
          SELECT q.vec_id AS query_id, c.vec_id AS nbr_id,
            round(list_cosine_similarity(CAST(c.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])), 6) AS cos_sim,
            row_number() OVER (PARTITION BY q.vec_id
              ORDER BY list_cosine_similarity(CAST(c.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])) DESC,
                       c.vec_id) AS rank
          FROM embeddings c CROSS JOIN embeddings q
          WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id)
        WHERE rank <= 10"""

  def entries: Seq[Entry] = Seq(

    Entry("q80_doc_stats",
      (s, dir) => {
        val d = t(s, dir, "documents")
        d.select(
          col("doc_id"),
          length(col("text")).as("n_chars_calc"),
          TextFunctions.tokenCount(col("text")).as("n_tokens"),
          TextFunctions.tokenCountBpe(col("text")).as("n_tokens_bpe"),
          TextFunctions.meanTokenLen(col("text")).as("mean_tok_len"),
          TextFunctions.typeTokenRatio(col("text")).as("ttr"),
          TextFunctions.alphaRatio(col("text")).as("alpha_ratio"),
          TextFunctions.stopwordRatio(col("text"), "en").as("stopword_ratio"))
      },
      Some(s"""SELECT doc_id,
        length(text) AS n_chars_calc,
        len($OTOKS) AS n_tokens,
        len(regexp_extract_all(text, '\\w+|[^\\w\\s]')) AS n_tokens_bpe,
        (CAST(list_aggregate(list_transform($OTOKS, x -> length(x)), 'sum') AS BIGINT)
          / CAST(greatest(len($OTOKS), 1) AS DOUBLE)) AS mean_tok_len,
        (CAST(len(list_distinct($OTOKS)) AS DOUBLE)
          / greatest(len($OTOKS), 1)) AS ttr,
        (CAST(length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')) AS DOUBLE)
          / greatest(length(text), 1)) AS alpha_ratio,
        (CAST(len(list_filter($OTOKS, x -> list_contains(
            ['the','a','an','and','or','of','to','in','is','it','that','for','on','with','as','at','by','this','be','are'],
            lower(x)))) AS DOUBLE) / greatest(len($OTOKS), 1)) AS stopword_ratio
        FROM documents""")),

    Entry("q81_doc_quality",
      (s, dir) => {
        val d = t(s, dir, "documents")
        d.select(col("doc_id"),
          TextFunctions.qualityScore(col("text"), "en").as("quality"))
      },
      Some(s"""SELECT doc_id,
        ((CASE WHEN length(text) BETWEEN 50 AND 5000 THEN 1.0 ELSE 0.0 END
          + (CAST(length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')) AS DOUBLE)
             / greatest(length(text), 1))
          + least((CAST(len(list_filter($OTOKS, x -> list_contains(
              ['the','a','an','and','or','of','to','in','is','it','that','for','on','with','as','at','by','this','be','are'],
              lower(x)))) AS DOUBLE) / greatest(len($OTOKS), 1)) * 4.0, 1.0)
          + (CAST(len(list_distinct($OTOKS)) AS DOUBLE) / greatest(len($OTOKS), 1))
        ) / 4.0) AS quality
        FROM documents""")),

    // Language-ID heuristic: CJK codepoint check, then argmax of per-language
    // stopword ratios (threshold 0.02, ties to the lexicographically last
    // language). The whole decision procedure is plain arithmetic over token
    // lists, so the oracle replays it term by term.
    Entry("q82_lang_id",
      (s, dir) => {
        val d = t(s, dir, "documents")
        d.select(TextFunctions.langId(col("text")).as("lang_pred"))
          .groupBy(col("lang_pred")).agg(count(lit(1)).as("n"))
      },
      Some {
        def ratio(words: Seq[String]) =
          s"""(CAST(len(list_filter($OTOKS, x -> list_contains(
             [${words.map("'" + _ + "'").mkString(",")}], lower(x)))) AS DOUBLE)
             / greatest(len($OTOKS), 1))"""
        val rde = ratio(Seq("der","die","das","ein","eine","und","oder","von","in",
          "ist","dass","fur","mit","als","bei","zu","sich","nicht","auf","es"))
        val ren = ratio(Seq("the","a","an","and","or","of","to","in","is","it",
          "that","for","on","with","as","at","by","this","be","are"))
        val res = ratio(Seq("el","la","los","las","un","una","y","o","de","en",
          "es","que","por","con","para","del","se","no","su","al"))
        val rfr = ratio(Seq("le","la","les","un","une","et","ou","de","en","est",
          "que","pour","avec","par","ce","se","ne","pas","au","du"))
        s"""WITH sc AS (SELECT
            regexp_matches(text, '[\\x{4E00}-\\x{9FFF}]') AS cjk,
            $rde AS rde, $ren AS ren, $res AS res, $rfr AS rfr
          FROM documents),
        lp AS (SELECT CASE
            WHEN cjk THEN 'zh'
            WHEN greatest(rde, ren, res, rfr) <= 0.02 THEN 'und'
            WHEN rfr = greatest(rde, ren, res, rfr) THEN 'fr'
            WHEN res = greatest(rde, ren, res, rfr) THEN 'es'
            WHEN ren = greatest(rde, ren, res, rfr) THEN 'en'
            ELSE 'de' END AS lang_pred
          FROM sc)
        SELECT lang_pred, count(*) AS n FROM lp GROUP BY lang_pred"""
      }),

    Entry("q83_dedup_exact",
      (s, dir) =>
        Dedup.exactGroups(t(s, dir, "documents"), "doc_id", Seq("lang", "source"))
          .select(col("lang"), col("source"), col("rep_id"), col("dup_count")),
      Some("""SELECT lang, source, min(doc_id) AS rep_id, count(*) AS dup_count
        FROM documents GROUP BY lang, source""")),

    Entry("q84_jaccard_pairs",
      (s, dir) => {
        val pairs = Dedup.jaccardPairs(t(s, dir, "documents"), "doc_id", "text",
          n = 2, threshold = 0.05)
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
        WHERE CAST(c AS DOUBLE) / (s1.nsh + s2.nsh - c) >= 0.05""")),

    // MinHash+LSH: candidates exact-verified at threshold 0.5, where the
    // 64-band × 2-row S-curve gives recall ≈ 1-1e-8 → matches the exact oracle.
    Entry("q85_minhash_dedup",
      (s, dir) => {
        val pairs = Dedup.minhashDupPairs(t(s, dir, "documents"), "doc_id", "text",
          n = 2, k = 128, bands = 64, threshold = 0.5)
        pairs.select(col("id1"), col("id2"), round(col("jaccard"), 9).as("jaccard"))
      },
      Some(OMinhashPairs)),

    // SCOPED near-dup — the FineWeb per-dump discipline (Penedo et al.
    // 2024: dedup WITHIN each crawl snapshot, never across; global dedup
    // over-removes pages that recur in every snapshot): q85's pipeline
    // with candidates and verification restricted to equal `source`,
    // over [[densifiedDocs]].
    // The scoping genuinely bites on this fixture — at sf0.1 only 7 of
    // q85's 256 pairs are same-source, so the gate verifies the scope
    // restriction, not a re-run of q85. The input is DENSIFIED with a
    // planted same-source clone per doc_id % 97 == 0 (one appended
    // token, so jaccard = s/(s+1) — a genuine near-dup, not an exact
    // copy), giving the sf0.01 row a multi-pair result (the natural
    // fixture carries only ONE same-source pair there); the oracle
    // replays the plant in the same UNION ALL.
    Entry("qhd_scoped_minhash_dedup",
      (s, dir) => {
        val pairs = Dedup.minhashDupPairsScoped(densifiedDocs(s, dir),
          "doc_id", "text", "source", n = 2, k = 128, bands = 64,
          threshold = 0.5)
        pairs.select(col("id1"), col("id2"), col("scope"),
          round(col("jaccard"), 9).as("jaccard"))
      },
      Some(s"""WITH $OAug, toks AS (
          SELECT doc_id, source, $OTOKS AS w FROM aug
        ), sh AS (
          SELECT DISTINCT doc_id, source, (w[i] || ' ' || w[i+1]) AS sh
          FROM toks CROSS JOIN UNNEST(generate_series(1, len(w) - 1)) AS t(i)
        ), sizes AS (
          SELECT doc_id, count(*) AS nsh FROM sh GROUP BY doc_id
        ), common AS (
          SELECT a.doc_id AS id1, b.doc_id AS id2, a.source AS scope, count(*) AS c
          FROM sh a JOIN sh b
            ON a.sh = b.sh AND a.source = b.source AND a.doc_id < b.doc_id
          GROUP BY 1, 2, 3
        )
        SELECT id1, id2, scope,
          round(CAST(c AS DOUBLE) / (s1.nsh + s2.nsh - c), 9) AS jaccard
        FROM common
        JOIN sizes s1 ON id1 = s1.doc_id
        JOIN sizes s2 ON id2 = s2.doc_id
        WHERE CAST(c AS DOUBLE) / (s1.nsh + s2.nsh - c) >= 0.5""")),

    // Gopher/C4-style rule filters: each published heuristic as a boolean
    // column plus the conjunction keep flag — the rule-based stage of a
    // training-data pipeline, fused into the scan.
    Entry("q8h_gopher_rules",
      (s, dir) => {
        import graft.functions.TextFunctions.Rules
        val d = t(s, dir, "documents")
        val txt = col("text")
        d.select(col("doc_id"),
          Rules.tokenCountOk(txt).as("r_len"),
          Rules.meanTokenLenOk(txt).as("r_meanlen"),
          Rules.alphaTokenRatioOk(txt).as("r_alpha"),
          Rules.symbolRatioOk(txt).as("r_symbol"),
          Rules.stopwordCountOk(txt).as("r_stopword"),
          Rules.repetitionOk(txt).as("r_repetition"),
          Rules.gopherKeep(txt).as("keep"))
      },
      Some(s"""WITH r AS (SELECT doc_id,
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
        FROM documents)
        SELECT doc_id, r_len, r_meanlen, r_alpha, r_symbol, r_stopword, r_repetition,
          (r_len AND r_meanlen AND r_alpha AND r_symbol AND r_stopword AND r_repetition) AS keep
        FROM r""")),

    // The published Gopher REPETITION signals proper (q8h's rule set only
    // carries the type-token-ratio proxy): duplicate n-gram fraction for
    // n=2..4, top-bigram character coverage, duplicated-5-gram character
    // coverage. Entirely per-row native kernels fused into the scan —
    // zero shuffle at any corpus size. Spark counts hashed windows where
    // only multiplicity matters (dup2..4); the oracle replays on strings.
    Entry("qcg_repetition_signals",
      (s, dir) => {
        import graft.functions.TextFunctions
        val d = t(s, dir, "documents")
        val txt = col("text")
        d.select(col("doc_id"),
          round(TextFunctions.dupNgramFrac(txt, 2), 9).as("dup2"),
          round(TextFunctions.dupNgramFrac(txt, 3), 9).as("dup3"),
          round(TextFunctions.dupNgramFrac(txt, 4), 9).as("dup4"),
          round(TextFunctions.topNgramCharFrac(txt, 2), 9).as("top2_char"),
          round(TextFunctions.dupNgramCharFrac(txt, 5), 9).as("dup5_char"))
      },
      Some(s"""WITH toks AS (SELECT doc_id, text, $OTOKS AS w FROM documents),
        b AS (SELECT doc_id, text,
          list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1]) AS g2,
          list_transform(range(1, len(w) - 1), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) AS g3,
          list_transform(range(1, len(w) - 2), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]) AS g4,
          list_transform(range(1, len(w) - 3), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4]) AS g5
          FROM toks),
        t2 AS (SELECT doc_id, ng, count(*) AS c FROM b, UNNEST(g2) AS u(ng) GROUP BY 1, 2),
        top2 AS (SELECT doc_id, c * length(ng) AS chars FROM (
          SELECT doc_id, ng, c, row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, ng) AS rn
          FROM t2) WHERE rn = 1),
        d5 AS (SELECT doc_id, sum(CASE WHEN c >= 2 THEN c * length(ng) ELSE 0 END) AS chars
          FROM (SELECT doc_id, ng, count(*) AS c FROM b, UNNEST(g5) AS u(ng) GROUP BY 1, 2)
          GROUP BY 1)
        SELECT b.doc_id,
          round(CASE WHEN len(g2) = 0 THEN 0 ELSE CAST(len(g2) - len(list_distinct(g2)) AS DOUBLE) / len(g2) END, 9) AS dup2,
          round(CASE WHEN len(g3) = 0 THEN 0 ELSE CAST(len(g3) - len(list_distinct(g3)) AS DOUBLE) / len(g3) END, 9) AS dup3,
          round(CASE WHEN len(g4) = 0 THEN 0 ELSE CAST(len(g4) - len(list_distinct(g4)) AS DOUBLE) / len(g4) END, 9) AS dup4,
          round(CAST(COALESCE(top2.chars, 0) AS DOUBLE) / greatest(length(b.text), 1), 9) AS top2_char,
          round(CAST(COALESCE(d5.chars, 0) AS DOUBLE) / greatest(length(b.text), 1), 9) AS dup5_char
        FROM b LEFT JOIN top2 USING (doc_id) LEFT JOIN d5 USING (doc_id)""")),

    // The >10M-doc scale path of q85: identical MinHash/LSH pipeline but the
    // per-doc lookup tables are bucketed co-partitioned joins instead of
    // broadcasts. Shares q85's exact oracle — the point IS that the scale
    // path is result-identical.
    Entry("q8b_minhash_bucketed",
      (s, dir) => {
        // Full-path hash, not digit extraction: two fixture dirs with the
        // same digits must not collide on the same catalog table names
        // (writeBucketed DROPs the colliding table mid-flight).
        val tag = Scratch.dirTag(dir)
        val pairs = Dedup.minhashDupPairsBucketed(t(s, dir, "documents"),
          "doc_id", "text", n = 2, k = 128, bands = 64, threshold = 0.5,
          tableTag = tag, buckets = 8)
        pairs.select(col("id1"), col("id2"), round(col("jaccard"), 9).as("jaccard"))
      },
      Some(OMinhashPairs)),

    // The cross-RUN face of the q85 family: a PERSISTENT bucketed LSH index
    // (operators/LshIndex.scala) ingests the corpus in three disjoint
    // batches (doc_id mod 3, in order); each ingest reports the pairs it
    // introduces — within-batch via self-banding, batch-vs-index via the
    // bucketed corpus join — then folds its artifacts into the index.
    // Batching must not change WHAT is found, only when: the union over
    // batches equals q85's full-corpus exact pair set (same 64×2 recall
    // argument), oriented (old, new) by ingest order = (mod 3, doc_id).
    Entry("qdt_lsh_persistent_index",
      (s, dir) => {
        val tag = Scratch.dirTag(dir) + "p"
        val ref = graft.operators.LshIndex.Ref(tag, buckets = 8)
        graft.operators.LshIndex.drop(s, ref) // idempotent re-runs
        val docs = t(s, dir, "documents")
        (0 until 3).map { slice =>
          graft.operators.LshIndex.ingest(
            docs.filter(col("doc_id") % 3 === slice), "doc_id", "text",
            n = 2, k = 128, bands = 64, threshold = 0.5, ref)
        }.reduce(_ unionByName _)
          .select(col("old_id"), col("new_id"), round(col("jaccard"), 9).as("jaccard"))
      },
      Some(OLshIndexSlices),
    ),

    // Index lifecycle under the gate: same three-slice ingest as qdt with
    // a COMPACTION between slice 1 and slice 2 — the maintenance a
    // long-lived index runs between deliveries. Compaction must be
    // invisible to results (one file per bucket, same rows, bucketing
    // intact), so the pair set still equals q85's exact set and the
    // oracle is qdt's verbatim.
    Entry("qe4_lsh_compacted_index",
      (s, dir) => {
        val tag = Scratch.dirTag(dir) + "c"
        val ref = graft.operators.LshIndex.Ref(tag, buckets = 8)
        graft.operators.LshIndex.drop(s, ref) // idempotent re-runs
        val docs = t(s, dir, "documents")
        def ingest(slice: Int) = graft.operators.LshIndex.ingest(
          docs.filter(col("doc_id") % 3 === slice), "doc_id", "text",
          n = 2, k = 128, bands = 64, threshold = 0.5, ref)
        val out01 = ingest(0).unionByName(ingest(1))
        graft.operators.LshIndex.compact(s, ref)
        out01.unionByName(ingest(2))
          .select(col("old_id"), col("new_id"), round(col("jaccard"), 9).as("jaccard"))
      },
      Some(OLshIndexSlices),
    ),

    // SCOPED dedup at the PERSISTENT-index level — qhd's FineWeb
    // discipline in qdt's deployment shape (LshIndex.ingestScoped): two
    // deliveries (doc_id parity) over the densified corpus, each
    // reporting only SAME-SOURCE pairs; the scope rides the bucket hash
    // (bucketing unchanged — corpus probes stay exchange-free, pinned in
    // PlanQualitySpec) and is enforced as a candidate-frame equality
    // filter. The union over deliveries must equal qhd's scoped exact
    // pair law oriented by ingest order — batching changes WHEN a pair
    // is found, never WHAT.
    Entry("qhg_scoped_lsh_index",
      (s, dir) => {
        val tag = Scratch.dirTag(dir) + "sc"
        val ref = graft.operators.LshIndex.Ref(tag, buckets = 8)
        graft.operators.LshIndex.drop(s, ref) // idempotent re-runs
        val docs = densifiedDocs(s, dir)
        (0 until 2).map { slice =>
          graft.operators.LshIndex.ingestScoped(
            docs.filter(col("doc_id") % 2 === slice), "doc_id", "text",
            "source", n = 2, k = 128, bands = 64, threshold = 0.5, ref)
        }.reduce(_ unionByName _)
          .select(col("old_id"), col("new_id"), col("scope"),
            round(col("jaccard"), 9).as("jaccard"))
      },
      Some(s"""WITH $OAug, toks AS (
          SELECT doc_id, source, $OTOKS AS w FROM aug
        ), sh AS (
          SELECT DISTINCT doc_id, source, (w[i] || ' ' || w[i+1]) AS sh
          FROM toks CROSS JOIN UNNEST(generate_series(1, len(w) - 1)) AS t(i)
        ), sizes AS (
          SELECT doc_id, count(*) AS nsh FROM sh GROUP BY doc_id
        ), common AS (
          SELECT a.doc_id AS id1, b.doc_id AS id2, a.source AS scope, count(*) AS c
          FROM sh a JOIN sh b
            ON a.sh = b.sh AND a.source = b.source AND a.doc_id < b.doc_id
          GROUP BY 1, 2, 3
        ), p AS (
          SELECT id1, id2, scope,
            round(CAST(c AS DOUBLE) / (s1.nsh + s2.nsh - c), 9) AS jaccard
          FROM common
          JOIN sizes s1 ON id1 = s1.doc_id
          JOIN sizes s2 ON id2 = s2.doc_id
          WHERE CAST(c AS DOUBLE) / (s1.nsh + s2.nsh - c) >= 0.5
        )
        SELECT CASE WHEN id1 % 2 <= id2 % 2 THEN id1 ELSE id2 END AS old_id,
          CASE WHEN id1 % 2 <= id2 % 2 THEN id2 ELSE id1 END AS new_id,
          scope, jaccard
        FROM p"""),
    ),

    // Cross-snapshot NOVELTY-RATE report (the FineWeb companion metric to
    // per-dump dedup — Penedo et al. 2024 report, per snapshot, what
    // fraction of its pages is new vs everything crawled before): three
    // deliveries in doc_id-mod order ride the SAME persistent-index
    // ingests as qdt, and a snapshot's duplicates are exactly the docs
    // its ingest pairs against an EARLIER delivery (old_id from another
    // slice) — within-snapshot dups do not count against novelty. The
    // per-delivery counts are scalars (one number per snapshot), so the
    // driver-side loop is over deliveries, never docs; the oracle
    // replays the exact pair law, splits it by delivery, and rebuilds
    // the same counts.
    Entry("qhh_snapshot_novelty",
      (s, dir) => {
        import s.implicits._
        val tag = Scratch.dirTag(dir) + "nv"
        val ref = graft.operators.LshIndex.Ref(tag, buckets = 8)
        graft.operators.LshIndex.drop(s, ref) // idempotent re-runs
        val docs = t(s, dir, "documents")
        val perSnap = (0 until 3).map { slice =>
          val batch = docs.filter(col("doc_id") % 3 === slice)
          val pairs = graft.operators.LshIndex.ingest(batch, "doc_id", "text",
            n = 2, k = 128, bands = 64, threshold = 0.5, ref)
          val nDup = pairs.filter(col("old_id") % 3 =!= slice)
            .select(col("new_id")).distinct().count()
          (slice.toLong, batch.count(), nDup)
        }
        perSnap.toDF("snapshot", "n_docs", "n_dup")
          .withColumn("n_new", col("n_docs") - col("n_dup"))
          .withColumn("novelty_rate",
            round(col("n_new").cast("double") / col("n_docs"), 9))
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
        ), p AS (
          SELECT id1, id2 FROM common
          JOIN sizes s1 ON id1 = s1.doc_id
          JOIN sizes s2 ON id2 = s2.doc_id
          WHERE CAST(c AS DOUBLE) / (s1.nsh + s2.nsh - c) >= 0.5
        ), dup AS (
          SELECT DISTINCT CASE WHEN id1 % 3 < id2 % 3 THEN id2 ELSE id1 END AS doc
          FROM p WHERE id1 % 3 <> id2 % 3
        ), snap AS (
          SELECT doc_id % 3 AS snapshot, CAST(count(*) AS BIGINT) AS n_docs
          FROM documents GROUP BY 1
        ), dc AS (
          SELECT doc % 3 AS snapshot, CAST(count(*) AS BIGINT) AS n_dup
          FROM dup GROUP BY 1
        )
        SELECT s.snapshot, s.n_docs, COALESCE(dc.n_dup, 0) AS n_dup,
          s.n_docs - COALESCE(dc.n_dup, 0) AS n_new,
          round(CAST(s.n_docs - COALESCE(dc.n_dup, 0) AS DOUBLE) / s.n_docs, 9)
            AS novelty_rate
        FROM snap s LEFT JOIN dc USING (snapshot)"""),
    ),

    // Contiguous global indexing (DataSetUtils.zipWithIndex analogue): on a
    // sorted input the two-phase counts+offsets assignment equals the global
    // rank regardless of partition boundaries, which is what the oracle pins.
    Entry("q8l_zip_with_index",
      (s, dir) => {
        val d = t(s, dir, "documents").select(col("doc_id")).orderBy(col("doc_id"))
        graft.operators.Partitioning.zipWithIndex(d, "idx")
      },
      Some("""SELECT doc_id, row_number() OVER (ORDER BY doc_id) - 1 AS idx
        FROM documents""")),

    // Collocation mining: top-25 word bigrams by document frequency with a
    // deterministic tiebreak — the phrase-statistics pass of a corpus
    // analysis (explode + two-level agg + global top-k).
    Entry("q8k_top_bigrams",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val d = t(s, dir, "documents")
        val grams = d.select(col("doc_id"),
            explode(TextFunctions.wordShingles(col("text"), 2)).as("bigram"))
          .groupBy(col("bigram"))
          .agg(countDistinct(col("doc_id")).as("doc_freq"))
        // top-k via orderBy+limit (TakeOrderedAndProject — per-partition
        // heaps, no global sort); rank assigned over the 25 survivors only
        grams.orderBy(col("doc_freq").desc, col("bigram")).limit(25)
          .withColumn("rnk",
            row_number().over(Window.orderBy(col("doc_freq").desc, col("bigram"))))
          .select(col("rnk"), col("bigram"), col("doc_freq"))
      },
      Some(s"""WITH toks AS (SELECT doc_id, $OTOKS AS w FROM documents),
        grams AS (
          SELECT DISTINCT doc_id, (w[i] || ' ' || w[i+1]) AS bigram
          FROM toks CROSS JOIN UNNEST(generate_series(1, len(w) - 1)) AS t(i)),
        df AS (SELECT bigram, count(*) AS doc_freq FROM grams GROUP BY bigram)
        SELECT rnk, bigram, doc_freq FROM (
          SELECT *, row_number() OVER (ORDER BY doc_freq DESC, bigram) AS rnk
          FROM df) WHERE rnk <= 25""")),

    // Corpus token accounting per (lang, source): the budgeting numbers a
    // training-data pipeline reports — doc counts, total/mean tokens, and
    // exact interpolated length percentiles.
    // Deterministic HyperLogLog (Sketches.hllDistinct): FNV registers,
    // trailing-zero ranks, EXACT integer register sums — the oracle
    // replays every register and lands on the identical double estimate.
    // p=4 here because the fixture's per-lang cardinalities (~70–220) sit
    // in the RAW estimator's regime at m=16 (the raw form has no
    // linear-counting switch — ln is not bit-portable); the operator
    // default p=10 regime is accuracy-tested in SketchesSpec at 20k
    // distinct. n_exact rides along so the error is visible.
    Entry("qcl_hll_distinct",
      (s, dir) => {
        val d = t(s, dir, "documents")
        val sk = graft.operators.Sketches.hllDistinct(d, Seq("lang"), "text", p = 4)
        val exact = d.groupBy(col("lang")).agg(countDistinct(col("text")).as("n_exact"))
        sk.join(exact, Seq("lang"))
          .select("lang", "n_exact", "hll_estimate", "zero_registers")
      },
      Some {
        val p = 4
        val m = 1 << p
        val c = 0.673 * m.toDouble * m.toDouble
        val cap = 64 - p + 1
        val rest = s"((h >> $p) & ${(1L << (64 - p)) - 1})"
        s"""WITH h AS (SELECT lang, ${oSigned(oFnv("text"))} AS h FROM documents),
        r AS (SELECT lang, h & ${m - 1} AS bucket,
            CASE WHEN $rest = 0 THEN $cap
              ELSE CAST(log2(CAST($rest & -$rest AS DOUBLE)) AS INT) + 1
            END AS rank
          FROM h),
        reg AS (SELECT lang, bucket, max(rank) AS mx FROM r GROUP BY 1, 2),
        agg AS (SELECT lang,
            sum(CAST(power(2.0, 64 - mx) AS HUGEINT)) AS present,
            count(*) AS nreg
          FROM reg GROUP BY 1),
        ex AS (SELECT lang, count(DISTINCT text) AS n_exact FROM documents GROUP BY 1)
        SELECT agg.lang, CAST(n_exact AS BIGINT) AS n_exact,
          round($c * 1.8446744073709552E19 / CAST(present +
            ($m - nreg) * 18446744073709551616::HUGEINT AS DOUBLE), 4) AS hll_estimate,
          CAST($m - nreg AS BIGINT) AS zero_registers
        FROM agg JOIN ex USING (lang)"""
      }),

    // Count-Min heavy-hitter accounting (Sketches.countMin/cmLookup): the
    // exact top tokens — the candidate set a heavy-hitter pass would carry —
    // probed against a w=1024, d=3 Count-Min sketch of the whole token
    // stream. Seeded FNV buckets + integer counters are fully deterministic,
    // so the oracle rebuilds every counter and lands on identical estimates;
    // `overcount` (always >= 0) is the CM over-estimate guarantee made
    // visible and gate-checked.
    Entry("qcm_countmin_tokens",
      (s, dir) => {
        val w = 1024
        val depth = 3
        val toks = t(s, dir, "documents")
          .select(explode(split(col("text"), "\\s+")).as("tok"))
          .filter(length(col("tok")) > 0)
        val top = toks.groupBy(col("tok")).agg(count(lit(1)).as("true_cnt"))
          .orderBy(col("true_cnt").desc, col("tok").asc).limit(12)
        val sk = graft.operators.Sketches.countMin(toks, "tok", w, depth)
        graft.operators.Sketches.cmLookup(sk, top, "tok", w, depth)
          .join(top, Seq("tok"))
          .select(col("tok"), col("true_cnt"), col("cm_est"),
            (col("cm_est") - col("true_cnt")).as("overcount"))
      },
      Some {
        val w = 1024
        s"""WITH toks AS (SELECT unnest($OTOKS) AS tok FROM documents),
        cnts AS (SELECT tok, count(*) AS true_cnt FROM toks GROUP BY 1),
        top AS (SELECT * FROM cnts ORDER BY true_cnt DESC, tok LIMIT 12),
        seeded AS (SELECT ri, concat(CAST(ri AS VARCHAR), '|', tok) AS s
          FROM toks CROSS JOIN range(3) r(ri)),
        counters AS (SELECT ri, ${oFnv("s")} % $w AS bucket, count(*) AS cnt
          FROM seeded GROUP BY 1, 2),
        pseed AS (SELECT tok, true_cnt, ri,
            concat(CAST(ri AS VARCHAR), '|', tok) AS s
          FROM top CROSS JOIN range(3) r(ri)),
        pb AS (SELECT tok, true_cnt, ri, ${oFnv("s")} % $w AS bucket FROM pseed)
        SELECT tok, CAST(true_cnt AS BIGINT) AS true_cnt,
          CAST(min(cnt) AS BIGINT) AS cm_est,
          CAST(min(cnt) - true_cnt AS BIGINT) AS overcount
        FROM pb JOIN counters USING (ri, bucket) GROUP BY tok, true_cnt"""
      }),

    // Sketch MERGE as a query: pairwise |A ∪ B| distinct-text estimates
    // across language segments from per-language register frames alone —
    // the roll-up shape that makes sketches pay at corpus scale (per-
    // segment registers are tiny; unions never re-read the data). hllMerge
    // is lossless (register max commutes with set union), so the oracle,
    // which sketches each pair's union directly, lands on identical
    // registers and the identical estimate. n_exact rides along.
    Entry("qcn_hll_union",
      (s, dir) => {
        val d = t(s, dir, "documents")
        val regs = graft.operators.Sketches.hllRegisters(d, Seq("lang"), "text", p = 4)
        val langs = d.select(col("lang")).distinct()
        val pairs = langs.select(col("lang").as("lang_a"))
          .crossJoin(langs.select(col("lang").as("lang_b")))
          .filter(col("lang_a") < col("lang_b"))
        val sideA = pairs.join(regs.withColumnRenamed("lang", "lang_a"), Seq("lang_a"))
          .select("lang_a", "lang_b", "_bucket", "_m")
        val sideB = pairs.join(regs.withColumnRenamed("lang", "lang_b"), Seq("lang_b"))
          .select("lang_a", "lang_b", "_bucket", "_m")
        val est = graft.operators.Sketches.hllEstimate(
          graft.operators.Sketches.hllMerge(Seq(sideA, sideB), Seq("lang_a", "lang_b")),
          Seq("lang_a", "lang_b"), p = 4)
        val exact = pairs
          .join(d, col("lang") === col("lang_a") || col("lang") === col("lang_b"))
          .groupBy(col("lang_a"), col("lang_b"))
          .agg(countDistinct(col("text")).as("n_exact"))
        est.join(exact, Seq("lang_a", "lang_b"))
          .select("lang_a", "lang_b", "n_exact", "hll_estimate", "zero_registers")
      },
      Some {
        val p = 4
        val m = 1 << p
        val c = 0.673 * m.toDouble * m.toDouble
        val cap = 64 - p + 1
        val rest = s"((h >> $p) & ${(1L << (64 - p)) - 1})"
        s"""WITH h AS (SELECT lang, ${oSigned(oFnv("text"))} AS h FROM documents),
        r AS (SELECT lang, h & ${m - 1} AS bucket,
            CASE WHEN $rest = 0 THEN $cap
              ELSE CAST(log2(CAST($rest & -$rest AS DOUBLE)) AS INT) + 1
            END AS rank
          FROM h),
        reg AS (SELECT lang, bucket, max(rank) AS mx FROM r GROUP BY 1, 2),
        langs AS (SELECT DISTINCT lang FROM documents),
        pairs AS (SELECT a.lang AS lang_a, b.lang AS lang_b
          FROM langs a CROSS JOIN langs b WHERE a.lang < b.lang),
        preg AS (SELECT lang_a, lang_b, bucket, max(mx) AS mx
          FROM pairs JOIN reg ON reg.lang = lang_a OR reg.lang = lang_b
          GROUP BY 1, 2, 3),
        agg AS (SELECT lang_a, lang_b,
            sum(CAST(power(2.0, 64 - mx) AS HUGEINT)) AS present,
            count(*) AS nreg
          FROM preg GROUP BY 1, 2),
        ex AS (SELECT lang_a, lang_b, count(DISTINCT text) AS n_exact
          FROM pairs JOIN documents ON lang = lang_a OR lang = lang_b
          GROUP BY 1, 2)
        SELECT agg.lang_a, agg.lang_b, CAST(n_exact AS BIGINT) AS n_exact,
          round($c * 1.8446744073709552E19 / CAST(present +
            ($m - nreg) * 18446744073709551616::HUGEINT AS DOUBLE), 4) AS hll_estimate,
          CAST($m - nreg AS BIGINT) AS zero_registers
        FROM agg JOIN ex USING (lang_a, lang_b)"""
      }),

    // KMV set-similarity (Sketches.kmvSketch/kmvPairEstimate): pairwise
    // token-VOCABULARY Jaccard between languages estimated from k=32
    // bottom-k sketches alone — the sketch family that, unlike HLL,
    // supports intersections. The union sketch is a uniform hash-sample of
    // A ∪ B; the fraction present in both input sketches estimates J. All
    // sketch frames are ≤ k rows per pair, so cross-segment similarity
    // matrices never re-read the corpus at scale; exact vocabulary Jaccard
    // rides along as the accuracy column. Deterministic bottom-k = the
    // oracle replays hash-for-hash.
    Entry("qcp_kmv_jaccard",
      (s, dir) => {
        val k = 32
        val d = t(s, dir, "documents")
        val toks = d.select(col("lang"),
            explode(split(col("text"), "\\s+")).as("tok"))
          .filter(length(col("tok")) > 0)
        val sk = graft.operators.Sketches.kmvSketch(toks, Seq("lang"), "tok", k)
        val langs = d.select(col("lang")).distinct()
        val pairs = langs.select(col("lang").as("lang_a"))
          .crossJoin(langs.select(col("lang").as("lang_b")))
          .filter(col("lang_a") < col("lang_b"))
        val skA = pairs.join(sk.withColumnRenamed("lang", "lang_a"), Seq("lang_a"))
          .select("lang_a", "lang_b", "_h")
        val skB = pairs.join(sk.withColumnRenamed("lang", "lang_b"), Seq("lang_b"))
          .select("lang_a", "lang_b", "_h")
        val est = graft.operators.Sketches.kmvPairEstimate(
          skA, skB, Seq("lang_a", "lang_b"), k)
        val vocab = toks.distinct()
        val sizes = vocab.groupBy(col("lang")).agg(count(lit(1)).as("nv"))
        val inter = pairs
          .join(vocab.withColumnRenamed("lang", "lang_a"), Seq("lang_a"))
          .join(vocab.withColumnRenamed("lang", "lang_b"), Seq("lang_b", "tok"))
          .groupBy(col("lang_a"), col("lang_b")).agg(count(lit(1)).as("ni"))
        val exact = pairs
          .join(sizes.select(col("lang").as("lang_a"), col("nv").as("nva")), Seq("lang_a"))
          .join(sizes.select(col("lang").as("lang_b"), col("nv").as("nvb")), Seq("lang_b"))
          .join(inter, Seq("lang_a", "lang_b"), "left")
          .select(col("lang_a"), col("lang_b"),
            (col("nva") + col("nvb") - coalesce(col("ni"), lit(0L))).as("n_union_exact"),
            coalesce(col("ni"), lit(0L)).as("_ni"))
        est.join(exact, Seq("lang_a", "lang_b"))
          .select(col("lang_a"), col("lang_b"), col("union_size"), col("n_common"),
            col("kmv_union_est"), col("kmv_jaccard"), col("kmv_inter_est"),
            col("n_union_exact"),
            round(col("_ni").cast("double") / col("n_union_exact").cast("double"), 9)
              .as("jaccard_exact"))
      },
      Some {
        val k = 32
        val c = (k - 1).toDouble * math.pow(2.0, 64)
        val rawU = s"CASE WHEN L < $k THEN CAST(L AS DOUBLE) " +
          s"ELSE $c / CAST(kth AS DOUBLE) END"
        s"""WITH toks AS (SELECT DISTINCT lang, unnest($OTOKS) AS tok FROM documents),
        h0 AS (SELECT DISTINCT lang,
            CAST(${oSigned(oFnv("tok"))} AS VARCHAR) AS hs FROM toks),
        h AS (SELECT DISTINCT lang, ${oFnv("hs")} AS u FROM h0),
        sk AS (SELECT lang, u FROM (SELECT lang, u,
            row_number() OVER (PARTITION BY lang ORDER BY u) AS rn FROM h)
          WHERE rn <= $k),
        langs AS (SELECT DISTINCT lang FROM documents),
        pairs AS (SELECT a.lang AS lang_a, b.lang AS lang_b
          FROM langs a CROSS JOIN langs b WHERE a.lang < b.lang),
        pu AS (SELECT lang_a, lang_b, u FROM pairs JOIN sk ON sk.lang = lang_a
          UNION SELECT lang_a, lang_b, u FROM pairs JOIN sk ON sk.lang = lang_b),
        un AS (SELECT lang_a, lang_b, u FROM (SELECT lang_a, lang_b, u,
            row_number() OVER (PARTITION BY lang_a, lang_b ORDER BY u) AS rn FROM pu)
          WHERE rn <= $k),
        fl AS (SELECT un.lang_a, un.lang_b, un.u,
            CASE WHEN a.u IS NOT NULL AND b.u IS NOT NULL THEN 1 ELSE 0 END AS inboth
          FROM un LEFT JOIN sk a ON a.lang = un.lang_a AND a.u = un.u
            LEFT JOIN sk b ON b.lang = un.lang_b AND b.u = un.u),
        agg AS (SELECT lang_a, lang_b, count(*) AS L, sum(inboth) AS m,
            max(u) AS kth FROM fl GROUP BY 1, 2),
        vs AS (SELECT lang, count(*) AS nv FROM toks GROUP BY 1),
        iv AS (SELECT p.lang_a, p.lang_b, count(*) AS ni
          FROM pairs p JOIN toks x ON x.lang = p.lang_a
            JOIN toks y ON y.lang = p.lang_b AND y.tok = x.tok
          GROUP BY 1, 2),
        ex AS (SELECT p.lang_a, p.lang_b,
            va.nv + vb.nv - coalesce(iv.ni, 0) AS n_union_exact,
            coalesce(iv.ni, 0) AS ni
          FROM pairs p JOIN vs va ON va.lang = p.lang_a
            JOIN vs vb ON vb.lang = p.lang_b
            LEFT JOIN iv ON iv.lang_a = p.lang_a AND iv.lang_b = p.lang_b)
        SELECT agg.lang_a, agg.lang_b,
          CAST(L AS BIGINT) AS union_size, CAST(m AS BIGINT) AS n_common,
          round($rawU, 4) AS kmv_union_est,
          round(CAST(m AS DOUBLE) / CAST(L AS DOUBLE), 9) AS kmv_jaccard,
          round((CAST(m AS DOUBLE) / CAST(L AS DOUBLE)) * ($rawU), 4) AS kmv_inter_est,
          CAST(n_union_exact AS BIGINT) AS n_union_exact,
          round(CAST(ni AS DOUBLE) / CAST(n_union_exact AS DOUBLE), 9) AS jaccard_exact
        FROM agg JOIN ex USING (lang_a, lang_b)"""
      }),

    // Product-quantization ANN (PQ.fit/adcTopK — Jégou et al. TPAMI 2011):
    // 4 subspace codebooks (k=8, one Lloyd round of the deterministic
    // scaled-integer k-means), corpus scanned as 4 codes per vector, probe
    // distances via a broadcast 4×8 ADC lookup table. The oracle re-trains
    // every codebook (unrolled per subspace, qcj's device), re-encodes,
    // and replays the ADC sums bit-for-bit; in_exact_topk/recall_at_5
    // compare against the exact quantized-L2 top-5 inline (q89's recall
    // pattern), so the approximate operator is still hash-gated.
    Entry("qcr_pq_ann",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val dim = 64
        val m = 4
        val topK = 5
        val emb = t(s, dir, "embeddings")
        val model = graft.operators.PQ.fit(emb, "vec_id", "embedding", dim, m,
          k = 8, iters = 1)
        val probes = emb.filter(col("vec_id") < 5)
        val top = graft.operators.PQ.adcTopK(model, probes, "vec_id",
          "embedding", dim, m, topK)
        val qf = emb.select(col("vec_id"),
          transform(col("embedding"),
            x => floor(x.cast("double") * 1000000L).cast("long")).as("qv"))
        val pf = qf.filter(col("vec_id") < 5)
          .select(col("vec_id").as("p_id"), col("qv").as("pv"))
        val bw = Window.partitionBy("p_id").orderBy(col("d").asc, col("vec_id").asc)
        val brute = pf.crossJoin(qf)
          .withColumn("d", aggregate(
            zip_with(col("pv"), col("qv"), (a, b) => (a - b) * (a - b)),
            lit(0L), (acc, x) => acc + x))
          .withColumn("rk", row_number().over(bw)).filter(col("rk") <= topK)
          .select(col("p_id"), col("vec_id").as("b_id"), lit(1L).as("hit"))
        top.join(brute,
            col("q_id") === col("p_id") && col("id") === col("b_id"), "left")
          .withColumn("in_exact_topk", coalesce(col("hit"), lit(0L)))
          .withColumn("recall_at_5",
            sum(col("in_exact_topk")).over(Window.partitionBy("q_id")))
          .select(col("q_id"), col("rank"), col("id").as("nbr_id"),
            col("adc_dist"), col("in_exact_topk"), col("recall_at_5"))
      },
      Some {
        val sub = 16
        val k = 8
        def qcte(mi: Int) = {
          val a = mi * sub + 1
          val b = (mi + 1) * sub
          s"""q$mi AS (SELECT vec_id AS id, list_transform(embedding[$a:$b],
             x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qv
             FROM embeddings)"""
        }
        def assign(name: String, qn: String, cents: String) =
          s"""$name AS (SELECT q.id, q.qv, s.cell_id FROM $qn q JOIN LATERAL (
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
        val perSub = (0 until 4).map { mi =>
          s"""${qcte(mi)},
          c${mi}0 AS (SELECT id AS cell_id, qv AS cvec FROM q$mi ORDER BY id LIMIT $k),
          ${assign(s"a${mi}1", s"q$mi", s"c${mi}0")},
          ${update(s"c${mi}1", s"a${mi}1")},
          ${assign(s"a${mi}2", s"q$mi", s"c${mi}1")},
          lut$mi AS (SELECT p.id AS q_id, t.cell_id,
              list_aggregate(list_transform(range(1, len(p.qv) + 1),
                i -> (p.qv[i] - t.cvec[i]) * (p.qv[i] - t.cvec[i])), 'sum') AS pdist
            FROM q$mi p CROSS JOIN c${mi}1 t WHERE p.id < 5),
          adc$mi AS (SELECT l.q_id, a.id AS nbr_id, l.pdist
            FROM a${mi}2 a JOIN lut$mi l USING (cell_id))"""
        }.mkString(",\n")
        s"""WITH $perSub,
        adc AS (SELECT q_id, nbr_id, sum(pdist) AS adc_dist FROM (
            SELECT * FROM adc0 UNION ALL SELECT * FROM adc1
            UNION ALL SELECT * FROM adc2 UNION ALL SELECT * FROM adc3)
          GROUP BY 1, 2),
        tops AS (SELECT q_id, nbr_id, adc_dist, rank FROM (
            SELECT q_id, nbr_id, adc_dist,
              row_number() OVER (PARTITION BY q_id ORDER BY adc_dist, nbr_id) AS rank
            FROM adc) WHERE rank <= 5),
        qf AS (SELECT vec_id AS id, list_transform(embedding,
            x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qv
          FROM embeddings),
        bd AS (SELECT p.id AS q_id, c.id AS nbr_id,
            list_aggregate(list_transform(range(1, len(p.qv) + 1),
              i -> (p.qv[i] - c.qv[i]) * (p.qv[i] - c.qv[i])), 'sum') AS d
          FROM qf p CROSS JOIN qf c WHERE p.id < 5),
        bt AS (SELECT q_id, nbr_id FROM (SELECT q_id, nbr_id,
            row_number() OVER (PARTITION BY q_id ORDER BY d, nbr_id) AS rk FROM bd)
          WHERE rk <= 5),
        fl AS (SELECT t.q_id, t.rank, t.nbr_id, t.adc_dist,
            CASE WHEN b.nbr_id IS NOT NULL THEN 1 ELSE 0 END AS in_exact_topk
          FROM tops t LEFT JOIN bt b ON b.q_id = t.q_id AND b.nbr_id = t.nbr_id)
        SELECT q_id, rank, nbr_id, CAST(adc_dist AS BIGINT) AS adc_dist,
          CAST(in_exact_topk AS BIGINT) AS in_exact_topk,
          CAST(sum(in_exact_topk) OVER (PARTITION BY q_id) AS BIGINT) AS recall_at_5
        FROM fl"""
      }),

    // Dyadic Count-Min range counts (Sketches.dyadicCountMin /
    // dyadicRangeCount — the CM range-query construction): "how many
    // documents have a token count in [lo, hi]" answered from a
    // bits·d·w-counter sketch via ≤ 2·bits point lookups per range, the
    // shape that answers arbitrary interval/rank queries over an unbounded
    // stream without re-scanning it. The canonical decomposition is pure
    // driver arithmetic, so the oracle carries it as a literal probe list
    // and rebuilds every counter; `overcount` pins the one-sided guarantee.
    Entry("qcq_cm_range",
      (s, dir) => {
        val bits = 16
        val w = 512
        val depth = 3
        val ranges = Seq(
          ("r_under_100", 0L, 99L), ("r_100_199", 100L, 199L),
          ("r_200_399", 200L, 399L), ("r_400_799", 400L, 799L),
          ("r_800_up", 800L, 65535L), ("r_all", 0L, 65535L),
          ("r_127_513", 127L, 513L))
        val v = t(s, dir, "documents")
          .select(TextFunctions.tokenCount(col("text")).as("v"))
        val sk = graft.operators.Sketches.dyadicCountMin(v, "v", bits, w, depth)
        val est = graft.operators.Sketches.dyadicRangeCount(s, sk, ranges, bits, w, depth)
        import s.implicits._
        val rdf = ranges.toDF("range_id", "lo", "hi")
        val tru = broadcast(rdf)
          .join(v, col("v").between(col("lo"), col("hi")), "left")
          .groupBy(col("range_id")).agg(count(col("v")).as("true_cnt"))
        est.join(tru, Seq("range_id"))
          .select(col("range_id"), col("range_est"), col("true_cnt"),
            (col("range_est") - col("true_cnt")).as("overcount"))
      },
      Some {
        val bits = 16
        val w = 512
        val ranges = Seq(
          ("r_under_100", 0L, 99L), ("r_100_199", 100L, 199L),
          ("r_200_399", 200L, 399L), ("r_400_799", 400L, 799L),
          ("r_800_up", 800L, 65535L), ("r_all", 0L, 65535L),
          ("r_127_513", 127L, 513L))
        val probeRows = ranges.flatMap { case (id, lo, hi) =>
          graft.operators.Sketches.dyadicCover(lo, hi, bits).map {
            case (l, node) => s"('$id', '$l|$node')"
          }
        }.mkString(", ")
        val rngRows = ranges.map { case (id, lo, hi) => s"('$id', $lo, $hi)" }
          .mkString(", ")
        s"""WITH v AS (SELECT len($OTOKS) AS v FROM documents),
        dk AS (SELECT concat(CAST(l AS VARCHAR), '|', CAST(v >> l AS VARCHAR)) AS dkey
          FROM v CROSS JOIN range($bits) r(l)),
        seeded AS (SELECT ri, concat(CAST(ri AS VARCHAR), '|', dkey) AS s
          FROM dk CROSS JOIN range(3) q(ri)),
        counters AS (SELECT ri, ${oFnv("s")} % $w AS bucket, count(*) AS cnt
          FROM seeded GROUP BY 1, 2),
        probes(range_id, dkey) AS (VALUES $probeRows),
        pseed AS (SELECT range_id, dkey, ri,
            concat(CAST(ri AS VARCHAR), '|', dkey) AS s
          FROM probes CROSS JOIN range(3) q(ri)),
        pb AS (SELECT range_id, dkey, ri, ${oFnv("s")} % $w AS bucket FROM pseed),
        node_est AS (SELECT range_id, dkey, min(coalesce(cnt, 0)) AS est
          FROM pb LEFT JOIN counters USING (ri, bucket) GROUP BY 1, 2),
        est AS (SELECT range_id, sum(est) AS range_est FROM node_est GROUP BY 1),
        rng(range_id, lo, hi) AS (VALUES $rngRows),
        tru AS (SELECT range_id, count(v.v) AS true_cnt
          FROM rng LEFT JOIN v ON v.v BETWEEN lo AND hi GROUP BY 1)
        SELECT range_id, CAST(range_est AS BIGINT) AS range_est,
          CAST(true_cnt AS BIGINT) AS true_cnt,
          CAST(range_est - true_cnt AS BIGINT) AS overcount
        FROM est JOIN tru USING (range_id)"""
      }),

    // AMS second-moment sketch (Sketches.amsF2): per-language self-join
    // size of the token column — F2 = sum of squared frequencies, the
    // number that predicts shuffle volume and flags heavy-hitter skew —
    // estimated from 8 integer counters per language. Signs, sums and the
    // mean are exact integer/double arithmetic, so the oracle replays the
    // estimate to the bit; exact F2 and the token count ride along to show
    // the estimate against its target.
    Entry("qcs_ams_f2",
      (s, dir) => {
        val toks = t(s, dir, "documents")
          .select(col("lang"), explode(split(col("text"), "\\s+")).as("tok"))
          .filter(length(col("tok")) > 0)
        val est = graft.operators.Sketches.amsF2(toks, Seq("lang"), "tok", d = 8)
        val exact = toks.groupBy(col("lang"), col("tok")).agg(count(lit(1)).as("c"))
          .groupBy(col("lang")).agg(sum(col("c") * col("c")).as("f2_exact"),
            sum(col("c")).as("n_tokens"))
        est.join(exact, Seq("lang"))
          .select(col("lang"), col("f2_est"), col("f2_exact"), col("n_tokens"))
      },
      Some {
        s"""WITH toks AS (SELECT lang, unnest($OTOKS) AS tok FROM documents),
        h0 AS (SELECT lang, j,
            CAST(${oSigned(oFnv("concat(CAST(j AS VARCHAR), '|', tok)"))} AS VARCHAR) AS hs
          FROM toks CROSS JOIN range(8) r(j)),
        sgn AS (SELECT lang, j,
            CASE WHEN ${oFnv("hs")} % 2 = 1 THEN -1 ELSE 1 END AS s
          FROM h0),
        z AS (SELECT lang, j, sum(s) AS z FROM sgn GROUP BY 1, 2),
        est AS (SELECT lang,
            CAST(floor(CAST(sum(z*z) AS DOUBLE) / 8) AS BIGINT) AS f2_est
          FROM z GROUP BY 1),
        cnts AS (SELECT lang, tok, count(*) AS c FROM toks GROUP BY 1, 2),
        ex AS (SELECT lang, CAST(sum(c*c) AS BIGINT) AS f2_exact,
            CAST(sum(c) AS BIGINT) AS n_tokens FROM cnts GROUP BY 1)
        SELECT lang, f2_est, f2_exact, n_tokens FROM est JOIN ex USING (lang)"""
      }),

    // Hierarchical heavy hitters (Sketches.dyadicHeavyHitters — Cormode &
    // Muthukrishnan's dyadic-tree descent): every user with >= 80 events,
    // found WITHOUT materializing the distinct-key set — the descent
    // expands only dyadic nodes whose per-level CM estimate clears the
    // threshold, so at corpus scale the only full-data work is the one-pass
    // sketch and the exact count of the few surviving candidates. One-sided
    // CM error makes the survivors a guaranteed SUPERSET of the true heavy
    // hitters; exact counts ride along (is_heavy) so false positives are
    // visible. The oracle replays the descent via its all-ancestors
    // characterization: a leaf survives iff every ancestor's estimate
    // clears the threshold.
    Entry("qct_heavy_hitters",
      (s, dir) => {
        val hh = graft.operators.Sketches.dyadicHeavyHitters(
          t(s, dir, "events").select(col("user_id")), "user_id",
          bits = 16, w = 8192, d = 3, minCount = 80L)
        hh.select(col("key").as("user_id"), col("hv"), col("cm_est"),
          col("true_cnt"),
          when(col("is_heavy"), 1L).otherwise(0L).as("is_heavy"))
      },
      Some {
        val bits = 16
        val w = 8192
        val t0 = 80
        s"""WITH u AS (SELECT user_id, CAST(count(*) AS BIGINT) AS c
          FROM events GROUP BY 1),
        h0 AS (SELECT user_id, c,
            CAST(${oSigned(oFnv("CAST(user_id AS VARCHAR)"))} AS VARCHAR) AS hs
          FROM u),
        hv AS (SELECT user_id, c,
            CAST(${oFnv("hs")} % ${1L << bits} AS BIGINT) AS hv FROM h0),
        nw AS (SELECT l, hv >> l AS node, CAST(sum(c) AS BIGINT) AS wgt
          FROM hv CROSS JOIN range($bits) r(l) GROUP BY 1, 2),
        nb AS (SELECT l, node, wgt, ri,
            CAST(${oFnv("concat(CAST(ri AS VARCHAR), '|', CAST(node AS VARCHAR))")}
              % $w AS BIGINT) AS bucket
          FROM nw CROSS JOIN range(3) q(ri)),
        counters AS (SELECT l, ri, bucket, CAST(sum(wgt) AS BIGINT) AS cnt
          FROM nb GROUP BY 1, 2, 3),
        ne AS (SELECT nb.l, nb.node, min(c2.cnt) AS est
          FROM nb JOIN counters c2 USING (l, ri, bucket) GROUP BY 1, 2),
        chk AS (SELECT x.hv,
            sum(CASE WHEN ne.est >= $t0 THEN 0 ELSE 1 END) AS bad
          FROM (SELECT DISTINCT hv FROM hv) x
          CROSS JOIN range($bits) r(l)
          JOIN ne ON ne.l = r.l AND ne.node = x.hv >> r.l
          GROUP BY 1),
        surv AS (SELECT chk.hv, ne.est AS cm_est FROM chk
          JOIN ne ON ne.l = 0 AND ne.node = chk.hv WHERE chk.bad = 0)
        SELECT h.user_id, h.hv, CAST(s.cm_est AS BIGINT) AS cm_est,
          h.c AS true_cnt,
          CAST(CASE WHEN h.c >= $t0 THEN 1 ELSE 0 END AS BIGINT) AS is_heavy
        FROM hv h JOIN surv s USING (hv)"""
      }),

    // Quantiles by dyadic-CM descent (Sketches.dyadicQuantiles — the
    // inverse of qcq's CDF direction): per-language-agnostic document
    // token-count percentiles answered in bits probes each against the
    // per-level sketch, the shape that serves rank/quantile queries over
    // an unbounded stream without re-scanning it. One-sided CM error means
    // the estimate can only sit EARLY (<= the exact nearest-rank value,
    // which rides along from qci's explicit-rank device). The oracle
    // replays the 16-level descent unrolled, probing the same counters.
    Entry("qcu_cm_quantiles",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val pcts = Seq(25, 50, 75, 90, 99)
        val v = t(s, dir, "documents")
          .select(TextFunctions.tokenCount(col("text")).as("v"))
        val est = graft.operators.Sketches.dyadicQuantiles(
          v, "v", bits = 16, w = 1024, d = 3, pcts)
        // Exact nearest-rank verification column: a single-partition sort,
        // fine for the accuracy column (production answers come from the
        // sketch; this is the q89-recall pattern).
        val ranked = v.withColumn("rn", row_number().over(Window.orderBy(col("v"))))
        est.join(ranked, col("rn") === col("target"))
          .select(col("pct"), col("target"), col("q_est"), col("est_rank"),
            col("v").as("q_exact"))
      },
      Some {
        val bits = 16
        val w = 1024
        def fnvBucket(nodeExpr: String) =
          s"""CAST(${oFnv(s"concat(CAST(ri AS VARCHAR), '|', CAST($nodeExpr AS VARCHAR))")}
             % $w AS BIGINT)"""
        // Every step CTE is MATERIALIZED: DuckDB inlines plain CTEs, and
        // each step references its predecessor twice — unmaterialized, the
        // 16-step chain expands 2^16-fold.
        val steps = ((bits - 1) to 0 by -1).map { l =>
          s"""pb$l AS (SELECT s.pct, s.target, s.node, s.cum, q.ri,
              ${fnvBucket("s.node * 2")} AS bucket
            FROM s${l + 1} s CROSS JOIN range(3) q(ri)),
          e$l AS (SELECT pct, min(coalesce(c.cnt, 0)) AS est
            FROM pb$l LEFT JOIN counters c
              ON c.l = $l AND c.ri = pb$l.ri AND c.bucket = pb$l.bucket
            GROUP BY 1),
          s$l AS MATERIALIZED (SELECT s.pct, s.target,
              CASE WHEN s.cum + e.est >= s.target
                THEN s.node * 2 ELSE s.node * 2 + 1 END AS node,
              CASE WHEN s.cum + e.est >= s.target
                THEN s.cum ELSE s.cum + e.est END AS cum
            FROM s${l + 1} s JOIN e$l e USING (pct))"""
        }.mkString(",\n")
        s"""WITH v AS MATERIALIZED (SELECT len($OTOKS) AS v FROM documents),
        n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM v),
        p(pct) AS (VALUES (25), (50), (75), (90), (99)),
        t AS MATERIALIZED (SELECT pct, CAST(ceil(pct * n / 100.0) AS BIGINT) AS target
          FROM p CROSS JOIN n),
        nw AS (SELECT l, v >> l AS node, CAST(count(*) AS BIGINT) AS wgt
          FROM v CROSS JOIN range($bits) r(l) GROUP BY 1, 2),
        nb AS (SELECT l, node, wgt, ri,
            ${fnvBucket("node")} AS bucket
          FROM nw CROSS JOIN range(3) q(ri)),
        counters AS MATERIALIZED (SELECT l, ri, bucket, CAST(sum(wgt) AS BIGINT) AS cnt
          FROM nb GROUP BY 1, 2, 3),
        s$bits AS (SELECT pct, target, CAST(0 AS BIGINT) AS node,
          CAST(0 AS BIGINT) AS cum FROM t),
        $steps,
        pbf AS (SELECT s.pct, s.target, s.node, s.cum, q.ri,
            ${fnvBucket("s.node")} AS bucket
          FROM s0 s CROSS JOIN range(3) q(ri)),
        ef AS (SELECT pct, min(coalesce(c.cnt, 0)) AS est
          FROM pbf LEFT JOIN counters c
            ON c.l = 0 AND c.ri = pbf.ri AND c.bucket = pbf.bucket
          GROUP BY 1),
        fin AS (SELECT s.pct, s.target, s.node AS q_est,
            s.cum + e.est AS est_rank
          FROM s0 s JOIN ef e USING (pct)),
        rk AS (SELECT v, row_number() OVER (ORDER BY v) AS rn FROM v),
        ex AS (SELECT t.pct, rk.v AS q_exact FROM t JOIN rk ON rk.rn = t.target)
        SELECT f.pct, f.target, CAST(f.q_est AS BIGINT) AS q_est,
          CAST(f.est_rank AS BIGINT) AS est_rank,
          CAST(ex.q_exact AS BIGINT) AS q_exact
        FROM fin f JOIN ex ON ex.pct = f.pct"""
      }),

    // IVF + PQ composed ANN (PQ.ivfAdcTopK — the IVFADC layout of Jégou
    // et al. 2011, non-residual variant): an 8-cell coarse quantizer
    // prunes the corpus, a 4-subspace/8-cell PQ ranks only the codes in
    // each probe's 2 nearest cells via the broadcast ADC table. This is
    // the ANN production shape at corpus scale: the scan side touches
    // nProbe/nCells of the code frame and never shuffles. The oracle
    // replays both quantizers (qcj's k-means unroll for the coarse,
    // qcr's per-subspace device for the PQ), routes probes, restricts the
    // ADC join to routed cells, and ranks; recall columns against the
    // exact quantized-L2 top-5 ride along (q89's pattern).
    Entry("qcv_ivfpq_ann",
      (s, dir) => {
        // END-TO-END entry: trains both quantizers inline, then searches —
        // the correctness evidence that fit+search compose. Its bench time
        // includes (bounded, but noisy) training; the production-shaped
        // bench twin is qd5_ivfpq_search, which searches against a
        // pre-fitted model the way a deployed ANN service does.
        val dim = 64
        val emb = t(s, dir, "embeddings")
        val coarse = graft.operators.ML.kMeansScaled(emb, "vec_id", "embedding",
          k = 8, iters = 1)
        val model = graft.operators.PQ.fit(emb, "vec_id", "embedding", dim, m = 4,
          k = 8, iters = 1)
        ivfpqSearch(s, dir, coarse, model)
      },
      Some(ivfpqOracle)),

    // IVFADC search benched in ISOLATION: `prepare` fits the coarse
    // quantizer + PQ codebooks once per (process, sfDir) and pins the tiny
    // model frames with eager localCheckpoint (centroids 8+32 rows, codes
    // 4/vec, assignments 1/vec — lineage truncated, so the timed query
    // replays no training). This is the deployment shape: models are fit
    // when the corpus is built and amortized over every query after; the
    // per-query cost is routing + the pruned ADC scan only. Same
    // deterministic fit → byte-identical results and oracle as qcv.
    Entry("qd5_ivfpq_search",
      (s, dir) => {
        val (coarse, model) = ivfpqModels(s, dir)
        ivfpqSearch(s, dir, coarse, model)
      },
      Some(ivfpqOracle),
      prepare = Some((s, dir) => ivfpqModels(s, dir))),

    // The PERSISTENT form of qd5: the same IVFADC search served from the
    // on-disk PqIndex — coarse centroids, PQ codebooks, and the corpus as
    // codes partitioned cell-per-directory, built once by `prepare` and
    // reusable by any later process (the compressed-ANN completion of the
    // persistent-index family: LshIndex near-dup, IvfIndex raw-vector,
    // PqIndex coded). Identical deterministic fits and ranking semantics
    // to qcv/qd5 (spec-pinned byte-equal in PqIndexSpec), so all three
    // share one oracle; the probed-cell partition pruning and the
    // crash-window (ivf_cell, id, m) de-dup are what the index adds.
    Entry("qe9_ivfpq_persistent_index",
      (s, dir) => {
        val ref = pqIndexFor(s, dir)
        val probes = t(s, dir, "embeddings").filter(col("vec_id") < 5)
        ivfpqRecall(s, dir, graft.operators.PqIndex.search(probes, "vec_id",
          "embedding", dim = 64, m = 4, nProbe = 2, topK = 5, ref))
      },
      Some(ivfpqOracle),
      prepare = Some((s, dir) => { pqIndexFor(s, dir); t(s, dir, "embeddings") })),

    // PqIndex LIFECYCLE under the gate — the qe4 shape for the CODED
    // corpus: models fit once over the full corpus ([[PqIndex.buildModels]],
    // so the deterministic fits — and therefore the oracle — are qe9's
    // verbatim), the corpus then ingested in three disjoint slices with a
    // COMPACTION between slice 2 and slice 3 (the maintenance a long-lived
    // index runs between deliveries). Frozen-model encode is
    // batch-split-invariant and compaction content-preserving, so the
    // search must be byte-identical to qe9's single-build index.
    Entry("qef_pq_compacted_index",
      (s, dir) => {
        val tag = Scratch.dirTag(dir) + "f"
        val ref = graft.operators.PqIndex.Ref(tag)
        graft.operators.PqIndex.drop(s, ref) // idempotent re-runs
        val emb = t(s, dir, "embeddings")
        graft.operators.PqIndex.buildModels(emb, "vec_id", "embedding",
          dim = 64, m = 4, k = 8, iters = 1, nCells = 8, cIters = 1, ref)
        def ingest(slice: Int): Unit = graft.operators.PqIndex.ingest(
          emb.filter(col("vec_id") % 3 === slice), "vec_id", "embedding",
          dim = 64, m = 4, ref)
        ingest(0); ingest(1)
        graft.operators.PqIndex.compact(s, ref)
        ingest(2)
        val probes = emb.filter(col("vec_id") < 5)
        ivfpqRecall(s, dir, graft.operators.PqIndex.search(probes, "vec_id",
          "embedding", dim = 64, m = 4, nProbe = 2, topK = 5, ref))
      },
      Some(ivfpqOracle)),

    // Corpus length-distribution profile: EXACT per-language token-count
    // quantiles by explicit nearest-rank arithmetic (rank == ceil(p * n),
    // a total order with doc_id tie-break) so both engines compute the
    // identical element — no reliance on either engine's quantile
    // interpolation flavor. Exact quantiles cost one sort per group (the
    // window); at 100 TB the same profile runs on approx_percentile
    // (t-digest) with this query as its verification twin at sampled SF.
    Entry("qci_length_quantiles",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val d = t(s, dir, "documents").select(col("lang"),
          TextFunctions.tokenCount(col("text")).cast("long").as("len"), col("doc_id"))
        val wg = Window.partitionBy("lang")
        val ranked = d
          .withColumn("r", row_number().over(wg.orderBy(col("len"), col("doc_id"))))
          .withColumn("n", count(lit(1)).over(wg))
        def at(p: Double) = max(when(
          col("r") === greatest(lit(1L), ceil(col("n") * lit(p)).cast("long")),
          col("len")))
        ranked.groupBy(col("lang")).agg(
          max(col("n")).as("n_docs"),
          at(0.5).as("p50_tokens"), at(0.9).as("p90_tokens"),
          at(0.99).as("p99_tokens"))
      },
      Some(s"""WITH d AS (SELECT lang, CAST(len($OTOKS) AS BIGINT) AS l, doc_id
          FROM documents),
        r AS (SELECT lang, l,
            row_number() OVER (PARTITION BY lang ORDER BY l, doc_id) AS r,
            count(*) OVER (PARTITION BY lang) AS n
          FROM d)
        SELECT lang, max(n) AS n_docs,
          max(CASE WHEN r = greatest(1, CAST(ceil(n * 0.5) AS BIGINT)) THEN l END) AS p50_tokens,
          max(CASE WHEN r = greatest(1, CAST(ceil(n * 0.9) AS BIGINT)) THEN l END) AS p90_tokens,
          max(CASE WHEN r = greatest(1, CAST(ceil(n * 0.99) AS BIGINT)) THEN l END) AS p99_tokens
        FROM r GROUP BY lang""")),

    Entry("q8j_corpus_stats",
      (s, dir) => {
        val d = t(s, dir, "documents")
          .select(col("lang"), col("source"),
            TextFunctions.tokenCount(col("text")).cast("long").as("ntok"))
        d.groupBy(col("lang"), col("source"))
          .agg(count(lit(1)).as("docs"),
            sum(col("ntok")).as("total_tokens"),
            round(expr("percentile(ntok, 0.5)"), 6).as("p50_tokens"),
            round(expr("percentile(ntok, 0.95)"), 6).as("p95_tokens"))
      },
      Some(s"""SELECT lang, source, count(*) AS docs,
          CAST(sum(len($OTOKS)) AS BIGINT) AS total_tokens,
          round(quantile_cont(len($OTOKS), 0.5), 6) AS p50_tokens,
          round(quantile_cont(len($OTOKS), 0.95), 6) AS p95_tokens
        FROM documents GROUP BY lang, source""")),

    // End-to-end dedup: MinHash/LSH pairs -> connected components over the
    // pair graph -> one representative (min id) per duplicate cluster.
    // Composes the dedup and graph stacks; the oracle chains the q85 pair
    // SQL into a recursive-CTE component computation.
    Entry("q8i_dedup_representatives",
      (s, dir) => {
        val d = t(s, dir, "documents")
        val pairs = Dedup.minhashDupPairs(d, "doc_id", "text",
          n = 2, k = 128, bands = 64, threshold = 0.5)
        Dedup.keepRepresentatives(d, "doc_id", pairs)
      },
      Some(s"""WITH RECURSIVE toks AS (
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
        ), uedges AS (
          SELECT id1 AS a, id2 AS b FROM pairs
          UNION SELECT id2, id1 FROM pairs
        ), nodes AS (SELECT DISTINCT a AS node FROM uedges),
        reach(node, lbl) AS (
          SELECT node, node FROM nodes
          UNION
          SELECT e.b, r.lbl FROM reach r JOIN uedges e ON e.a = r.node
        ), comp AS (SELECT node, min(lbl) AS component FROM reach GROUP BY node)
        SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS rep_id,
          (d.doc_id = COALESCE(c.component, d.doc_id)) AS is_kept
        FROM documents d LEFT JOIN comp c ON d.doc_id = c.node""")),

    // Quality-aware representative selection: same MinHash/LSH pair graph
    // and components as q8i, but each duplicate cluster keeps its BEST
    // copy — here the longest by token count, ties to the smaller id —
    // instead of the min id (what production dedup keeps: the fullest
    // crawl of a page survives, truncated mirrors drop). The oracle
    // chains q8i's recursive-CTE components into a per-cluster argmax.
    Entry("qev_dedup_keep_best",
      (s, dir) => {
        val d = t(s, dir, "documents")
        val pairs = Dedup.minhashDupPairs(d, "doc_id", "text",
          n = 2, k = 128, bands = 64, threshold = 0.5)
        Dedup.keepBestRepresentatives(d, "doc_id", pairs,
          size(TextFunctions.tokens(col("text"))).cast("long"))
      },
      Some(s"""WITH RECURSIVE toks AS (
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
        ), uedges AS (
          SELECT id1 AS a, id2 AS b FROM pairs
          UNION SELECT id2, id1 FROM pairs
        ), nodes AS (SELECT DISTINCT a AS node FROM uedges),
        reach(node, lbl) AS (
          SELECT node, node FROM nodes
          UNION
          SELECT e.b, r.lbl FROM reach r JOIN uedges e ON e.a = r.node
        ), comp AS (SELECT node, min(lbl) AS component FROM reach GROUP BY node),
        cl AS (
          SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS cluster_id,
            CAST(len(t.w) AS BIGINT) AS score
          FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
          JOIN toks t ON t.doc_id = d.doc_id
        ), rk AS (
          SELECT *, row_number() OVER (PARTITION BY cluster_id
            ORDER BY score DESC, doc_id) AS rn FROM cl
        )
        SELECT doc_id, cluster_id, score, (rn = 1) AS is_kept FROM rk""")),

    // SimHash over ASCII-normalized tokens (lowercase alphanumeric — the
    // same normalization the fingerprint uses, a strictly better dedup
    // signal than case/punctuation-sensitive tokens). FNV-1a per token,
    // ±1 vote per bit, sign → bit: all integer arithmetic, so the oracle
    // reproduces the exact 64-bit signatures. Dedup.simhashes (raw-token
    // variant + Hamming bucketing) keeps its ScalaTest coverage.
    Entry("q86_simhash",
      (s, dir) => {
        val d = t(s, dir, "documents")
        val norm = trim(regexp_replace(lower(col("text")), "[^a-z0-9]+", " "))
        val toks = filter(split(norm, " "), x => x =!= lit(""))
        d.select(col("doc_id"), Hashes.simhash(toks).as("simhash"))
      },
      Some(s"""WITH norm AS (SELECT doc_id, $ONORM AS s FROM documents),
        tok AS (SELECT doc_id, unnest(list_filter(string_split(s, ' '), x -> x <> '')) AS w
          FROM norm),
        th AS (SELECT doc_id, ${oSigned(oFnv("w"))} AS hs FROM tok),
        bits AS (SELECT doc_id, b,
            sum(CASE WHEN ((hs >> b) & 1) = 1 THEN 1 ELSE -1 END) AS acc
          FROM th CROSS JOIN (SELECT unnest(range(0, 64)) AS b) GROUP BY doc_id, b),
        sh AS (SELECT doc_id, CAST(sum(CASE WHEN acc > 0 THEN
            CASE WHEN b = 63 THEN -9223372036854775808 ELSE (CAST(1 AS BIGINT) << b) END
            ELSE 0 END) AS BIGINT) AS simhash
          FROM bits GROUP BY doc_id)
        SELECT d.doc_id, COALESCE(sh.simhash, 0) AS simhash
        FROM documents d LEFT JOIN sh ON d.doc_id = sh.doc_id""")),

    // Content fingerprint: FNV-1a over the normalized text — exact 64-bit
    // oracle via HUGEINT wraparound arithmetic.
    Entry("q87_fingerprint",
      (s, dir) => {
        val d = t(s, dir, "documents")
        d.select(col("doc_id"), Hashes.docFingerprint(col("text")).as("fp"))
          .groupBy(col("fp")).agg(min(col("doc_id")).as("rep_id"), count(lit(1)).as("n"))
      },
      Some(s"""WITH norm AS (SELECT doc_id, $ONORM AS s FROM documents),
        fp AS (SELECT doc_id, ${oSigned(oFnv("s"))} AS fp FROM norm)
        SELECT fp, min(doc_id) AS rep_id, count(*) AS n FROM fp GROUP BY fp""")),

    // Persistent SimHash near-dup index (the HAMMING-space member of the
    // persistent-index family — q86's signatures given LshIndex's
    // fit-once/ingest-forever deployment shape): three doc-id-RANGE
    // deliveries ingest in range order, with a COMPACTION between
    // deliveries 2 and 3 (merged block rows preserve pair recall).
    // Because delivery order equals doc-id order, every pair surfaces in
    // exactly one ingest (the LATER doc's) with old_id < new_id, so the
    // union of the three outputs is the GLOBAL banded pair set — which
    // the oracle replays: q86's exact 64-bit signatures, the 4×16-bit
    // pigeonhole blocks (arithmetic >> then & 65535 ≡ Spark's unsigned
    // shift for every block), and the bit_count(xor) Hamming confirm —
    // exact recall at maxDist=3 < nBlocks=4 on BOTH engines.
    Entry("qg2_simhash_index",
      (s, dir) => {
        val tag = Scratch.dirTag(dir) + "sh"
        val ref = graft.operators.SimHashIndex.Ref(tag, buckets = 8)
        graft.operators.SimHashIndex.drop(s, ref) // idempotent re-runs
        val docs = t(s, dir, "documents")
        def ingest(pred: org.apache.spark.sql.Column) =
          graft.operators.SimHashIndex.ingest(docs.filter(pred), "doc_id",
            "text", maxDist = 3, ref)
        val out01 = ingest(col("doc_id") < 100)
          .unionByName(ingest(col("doc_id") >= 100 && col("doc_id") < 300))
          .localCheckpoint() // materialize before compact rewrites files
        graft.operators.SimHashIndex.compact(s, ref)
        out01.unionByName(ingest(col("doc_id") >= 300))
      },
      Some(OSimhashIndexPairs)),

    Entry("q88_knn_brute",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val queries = emb.filter(col("vec_id") < 5)
        Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", "vec_id", k = 10)
          .select(col("query_id"), col("rank"), col("nbr_id"),
            round(col("cos"), 6).as("cos_sim"))
      },
      Some(OKnnBrute)),

    // Hard-negative mining (contrastive-training negative selection):
    // top-10 by cosine per query among corpus vectors BELOW the 0.45
    // near-positive ceiling — the fixture's hottest pairs (cos 0.45-0.52)
    // genuinely fall to the ceiling for the affected queries, so the
    // operator (not just the top-k) is exercised. Ceiling on the rounded
    // cosine replays exactly; ranking on the raw cosine like q88.
    Entry("qf1_hard_negatives",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val queries = emb.filter(col("vec_id") < 50)
        Similarity.hardNegatives(emb, queries, "vec_id", "embedding",
          "vec_id", k = 10, maxSim = 0.45)
          .select(col("query_id"), col("rank"), col("nbr_id"),
            round(col("cos"), 6).as("cos_sim"))
      },
      Some("""SELECT query_id, rank, nbr_id, cos_sim FROM (
          SELECT q.vec_id AS query_id, c.vec_id AS nbr_id,
            round(list_cosine_similarity(CAST(c.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])), 6) AS cos_sim,
            row_number() OVER (PARTITION BY q.vec_id
              ORDER BY list_cosine_similarity(CAST(c.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])) DESC,
                       c.vec_id) AS rank
          FROM embeddings c CROSS JOIN embeddings q
          WHERE q.vec_id < 50 AND c.vec_id <> q.vec_id
            AND round(list_cosine_similarity(CAST(c.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])), 6) < 0.45)
        WHERE rank <= 10""")),

    // Hard negatives fed by the LSH ladder — the at-scale shape qf1's
    // scaladoc prescribes, gated: candidates from the exact-integer
    // Rademacher bucket join (q89's replayable generation), the same
    // rounded-cosine ceiling, re-rank to the 10 hardest. Full oracle
    // coverage for the approximate path: the oracle is q89's candidate
    // CTEs with the ceiling added.
    Entry("qf2_hard_negatives_lsh",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val queries = emb.filter(col("vec_id") < 50)
        Similarity.lshHardNegatives(emb, queries, "vec_id", "embedding",
          "vec_id", k = 10, maxSim = 0.45, dim = 64, nBits = 8, nTables = 8)
          .select(col("query_id"), col("rank"), col("nbr_id"),
            round(col("cos"), 6).as("cos_sim"))
      },
      Some("""WITH signs AS (
          SELECT t, b, i,
            CASE WHEN (((((t*8+b)*64 + i + 1) * 48271) % 2147483647) * 48271
                       % 2147483647) % 2 = 1 THEN 1 ELSE -1 END AS s
          FROM range(8) r1(t), range(8) r2(b), range(64) r3(i)),
        qv AS (SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]),
                 x -> CAST(floor(x * 1000000) AS BIGINT)) AS w
               FROM embeddings),
        dots AS (SELECT v.vec_id, s.t, s.b, sum(s.s * v.w[s.i + 1]) AS d
                 FROM qv v CROSS JOIN signs s GROUP BY 1, 2, 3),
        bkts AS (SELECT vec_id, t,
                   sum(CASE WHEN d >= 0 THEN 1 << b ELSE 0 END) AS bkt
                 FROM dots GROUP BY 1, 2),
        cand AS (SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS nbr_id
                 FROM bkts q JOIN bkts c ON c.t = q.t AND c.bkt = q.bkt
                 WHERE q.vec_id < 50 AND c.vec_id <> q.vec_id)
        SELECT query_id, rank, nbr_id, cos_sim FROM (
            SELECT cand.query_id, cand.nbr_id,
              round(list_cosine_similarity(CAST(ce.embedding AS DOUBLE[]),
                                           CAST(qe.embedding AS DOUBLE[])), 6) AS cos_sim,
              row_number() OVER (PARTITION BY cand.query_id
                ORDER BY list_cosine_similarity(CAST(ce.embedding AS DOUBLE[]),
                                                CAST(qe.embedding AS DOUBLE[])) DESC,
                         cand.nbr_id) AS rank
            FROM cand JOIN embeddings ce ON ce.vec_id = cand.nbr_id
                      JOIN embeddings qe ON qe.vec_id = cand.query_id
            WHERE round(list_cosine_similarity(CAST(ce.embedding AS DOUBLE[]),
                                               CAST(qe.embedding AS DOUBLE[])), 6) < 0.45)
        WHERE rank <= 10""")),

    // Hard negatives fed by the IVF ladder — the SECOND at-scale candidate
    // source (cell routing instead of bucket collisions; clustered-corpus
    // geometry where qf2's projections suit scattered ones): qa9's
    // deterministic candidate CTEs (lowest-id centroids, (distance,
    // cell_id)-ordered assignment and probing) with qf1's rounded-cosine
    // ceiling and re-rank added. Full oracle on the approximate path.
    Entry("qf9_hard_negatives_ivf",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val queries = emb.filter(col("vec_id") < 50)
        Similarity.ivfHardNegatives(emb, queries, "vec_id", "embedding",
          "vec_id", k = 10, maxSim = 0.45, nCells = 16, nProbe = 8)
          .select(col("query_id"), col("rank"), col("nbr_id"),
            round(col("cos"), 6).as("cos_sim"))
      },
      Some("""WITH cents AS (SELECT vec_id AS cell_id, embedding AS centroid
               FROM embeddings ORDER BY vec_id LIMIT 16),
        assigned AS (SELECT c.vec_id AS nbr_id, a.cell_id
          FROM embeddings c JOIN LATERAL (
            SELECT t.cell_id FROM cents t
            ORDER BY list_distance(CAST(c.embedding AS DOUBLE[]),
                                   CAST(t.centroid AS DOUBLE[])), t.cell_id
            LIMIT 1) a ON true),
        probes AS (SELECT q.vec_id AS query_id, p.cell_id
          FROM embeddings q JOIN LATERAL (
            SELECT t.cell_id FROM cents t
            ORDER BY list_distance(CAST(q.embedding AS DOUBLE[]),
                                   CAST(t.centroid AS DOUBLE[])), t.cell_id
            LIMIT 8) p ON true
          WHERE q.vec_id < 50),
        cand AS (SELECT p.query_id, a.nbr_id
          FROM probes p JOIN assigned a ON a.cell_id = p.cell_id
          WHERE a.nbr_id <> p.query_id)
        SELECT query_id, rank, nbr_id, cos_sim FROM (
            SELECT cand.query_id, cand.nbr_id,
              round(list_cosine_similarity(CAST(ce.embedding AS DOUBLE[]),
                                           CAST(qe.embedding AS DOUBLE[])), 6) AS cos_sim,
              row_number() OVER (PARTITION BY cand.query_id
                ORDER BY list_cosine_similarity(CAST(ce.embedding AS DOUBLE[]),
                                                CAST(qe.embedding AS DOUBLE[])) DESC,
                         cand.nbr_id) AS rank
            FROM cand JOIN embeddings ce ON ce.vec_id = cand.nbr_id
                      JOIN embeddings qe ON qe.vec_id = cand.query_id
            WHERE round(list_cosine_similarity(CAST(ce.embedding AS DOUBLE[]),
                                               CAST(qe.embedding AS DOUBLE[])), 6) < 0.45)
        WHERE rank <= 10""")),

    // Persistent ExactSubstr gram index (the exact-substring member of
    // the persistent-index family): three deliveries (doc_id % 3) ingest
    // in slice order under the CAUSAL cross-delivery rule — a window is
    // excised iff an EARLIER delivery holds its content (the corpus
    // keeps its copy) or it repeats within the delivery (remove-all,
    // the qf8 batch rule). The oracle replays the rule with per-slice
    // gram counts + first-occurrence slice, then qf8's interval-merge
    // and rebuild CTEs.
    Entry("qfa_exact_substr_index",
      (s, dir) => {
        val tag = Scratch.dirTag(dir) + "g"
        val ref = graft.operators.GramIndex.Ref(tag, buckets = 8)
        graft.operators.GramIndex.drop(s, ref) // idempotent re-runs
        val docs = t(s, dir, "documents")
        // round 20: the three deliveries ingest through ingestSlices —
        // byte-identical to three sequential ingest calls (spec-pinned),
        // with the index-independent gram-count pass hoisted to ONE
        // corpus pass + shuffle; probes/appends stay sequential
        graft.operators.GramIndex.ingestSlices(
          (0 until 3).map(slice => docs.filter(col("doc_id") % 3 === slice)),
          "doc_id", "text", minLen = 40, ref).reduce(_ unionByName _)
      },
      Some(GramIndexOracle)),

    // Index lifecycle under the gate: qfa's three-slice ingest with a
    // COMPACTION between slice 1 and slice 2 (sum-merge to one row per
    // distinct gram, one file per bucket). Compaction preserves gram
    // existence, so the cleaned output is unchanged and the oracle is
    // qfa's verbatim.
    Entry("qfb_gram_compacted_index",
      (s, dir) => {
        val tag = Scratch.dirTag(dir) + "gc"
        val ref = graft.operators.GramIndex.Ref(tag, buckets = 8)
        graft.operators.GramIndex.drop(s, ref) // idempotent re-runs
        val docs = t(s, dir, "documents")
        def ingest(slice: Int) = graft.operators.GramIndex.ingest(
          docs.filter(col("doc_id") % 3 === slice), "doc_id", "text",
          minLen = 40, ref)
        val out01 = ingest(0).unionByName(ingest(1))
          .localCheckpoint() // materialize before compact rewrites files
        graft.operators.GramIndex.compact(s, ref)
        out01.unionByName(ingest(2))
      },
      Some(GramIndexOracle)),

    // Bounded-depth distributed SUFFIX ARRAY (prefix doubling, the
    // published dedup pipeline's core structure — enumeration where qf8
    // is removal): every per-doc suffix of a corpus slice ranked by its
    // first 64 characters, ties by (doc, pos). The Spark side builds it
    // in log2(64/4) = 4 sort+rank doubling rounds with two-phase global
    // indexing (never a one-task window); the oracle IS that one-task
    // window — the bounded relation is plain ORDER BY.
    Entry("qfe_suffix_array",
      (s, dir) => graft.operators.SuffixArray.suffixArray(
        t(s, dir, "documents").filter(col("doc_id") % 5 === 0),
        "doc_id", "text", depth = 64, base = 4),
      Some("""WITH d AS (
          SELECT doc_id, text FROM documents
          WHERE doc_id % 5 = 0 AND len(text) > 0
        ), s AS (
          SELECT doc_id, i - 1 AS pos, substring(text, i, 64) AS p
          FROM d CROSS JOIN UNNEST(generate_series(1, len(text))) u(i)
        )
        SELECT doc_id, CAST(pos AS BIGINT) AS pos,
          CAST(row_number() OVER (ORDER BY p, doc_id, pos) AS BIGINT)
            AS rank
        FROM s""")),

    // The LCP array to qfe's SA — one row per suffix with its bounded
    // common-prefix length against the rank-predecessor; (SA, LCP) is
    // the complete enumeration structure. Same slice and oracle order
    // as qfe, plus the lag + guarded-lcp tail.
    Entry("qfl_lcp_array",
      (s, dir) => graft.operators.SuffixArray.lcpArray(
        t(s, dir, "documents").filter(col("doc_id") % 5 === 0),
        "doc_id", "text", depth = 64, base = 4),
      Some("""WITH d AS (
          SELECT doc_id, text FROM documents
          WHERE doc_id % 5 = 0 AND len(text) > 0
        ), s AS (
          SELECT doc_id, i - 1 AS pos, substring(text, i, 64) AS p
          FROM d CROSS JOIN UNNEST(generate_series(1, len(text))) u(i)
        ), o AS (
          SELECT doc_id, pos, p,
            row_number() OVER (ORDER BY p, doc_id, pos) AS rank,
            lag(p) OVER (ORDER BY p, doc_id, pos) AS p2
          FROM s
        )
        SELECT doc_id, CAST(pos AS BIGINT) AS pos,
          CAST(rank AS BIGINT) AS rank,
          CAST(coalesce(list_max(list_filter(range(1, 65),
            j -> j <= len(p) AND j <= len(p2)
              AND substring(p, 1, j) = substring(p2, 1, j))), 0) AS BIGINT)
            AS lcp
        FROM o""")),

    // The enumeration query the SA exists for: top-50 longest repeated
    // substrings (bounded at 64) from adjacent-suffix LCPs — the
    // classic reduction (every repeat is witnessed by an SA-adjacent
    // pair). The oracle replays the SA order with a lag window and the
    // contiguous-prefix max for the lcp.
    Entry("qff_longest_repeats",
      (s, dir) => graft.operators.SuffixArray.longestRepeats(
        t(s, dir, "documents"), "doc_id", "text",
        depth = 64, base = 4, minLen = 12, k = 50),
      Some("""WITH s AS (
          SELECT doc_id, i - 1 AS pos, substring(text, i, 64) AS p
          FROM documents
          CROSS JOIN UNNEST(generate_series(1, len(text))) u(i)
          WHERE len(text) > 0
        ), o AS (
          SELECT lag(doc_id) OVER w AS id1, lag(pos) OVER w AS pos1,
            lag(p) OVER w AS p1, doc_id AS id2, pos AS pos2, p AS p2
          FROM s WINDOW w AS (ORDER BY p, doc_id, pos)
        ), l AS (
          -- length guards matter: two suffixes both exactly 'a' satisfy
          -- substring-equality at EVERY j (substring truncates), but
          -- their true common prefix is 1 char
          SELECT id1, pos1, id2, pos2, p1,
            coalesce(list_max(list_filter(range(1, 65),
              j -> j <= len(p1) AND j <= len(p2)
                AND substring(p1, 1, j) = substring(p2, 1, j))), 0) AS lcp
          FROM o WHERE id1 IS NOT NULL
        )
        SELECT CAST(lcp AS BIGINT) AS lcp,
          substring(p1, 1, lcp) AS rep_text,
          id1, CAST(pos1 AS BIGINT) AS pos1,
          id2, CAST(pos2 AS BIGINT) AS pos2
        FROM l WHERE lcp >= 12
        ORDER BY lcp DESC, rep_text, id1, pos1
        LIMIT 50""")),

    // Embedding-space decontamination (semantic counterpart of qbf's
    // shingle-overlap rule): train vectors whose rounded cosine against
    // ANY benchmark vector reaches 0.4 drop; every train row reports its
    // benchmark max-cos and verdict (the audit artifact). The fixture's
    // hottest cross-set pairs (cos 0.46-0.49) fall to the rule.
    Entry("qf3_semantic_decontam",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        Similarity.semanticDecontaminate(
          emb.filter(col("vec_id") >= 50), emb.filter(col("vec_id") < 50),
          "vec_id", "embedding", threshold = 0.4)
      },
      Some("""SELECT t.vec_id AS train_id,
          max(round(list_cosine_similarity(CAST(t.embedding AS DOUBLE[]),
                                           CAST(b.embedding AS DOUBLE[])), 6)) AS max_cos,
          max(round(list_cosine_similarity(CAST(t.embedding AS DOUBLE[]),
                                           CAST(b.embedding AS DOUBLE[])), 6)) < 0.4 AS is_kept
        FROM embeddings t CROSS JOIN embeddings b
        WHERE t.vec_id >= 50 AND b.vec_id < 50
        GROUP BY 1""")),

    // The COMBINED contamination audit a release actually runs: per train
    // doc, the token-overlap verdict (qbf's 3-gram rule) AND the
    // embedding-space verdict (qf3's cosine rule, catching paraphrases
    // token overlap misses) side by side, keep = clean on BOTH. One
    // chained oracle covers the text CTEs, the semantic aggregate, and
    // the join; both rules genuinely fire at both SFs.
    Entry("qf5_contamination_audit",
      (s, dir) => {
        val d = t(s, dir, "documents")
        val emb = t(s, dir, "embeddings")
        val text = Dedup.contaminationCheck(
          d.filter(pmod(col("doc_id"), lit(50)) =!= 0),
          d.filter(pmod(col("doc_id"), lit(50)) === 0), "doc_id", "text", n = 3)
        val sem = Similarity.semanticDecontaminate(
          emb.filter(pmod(col("vec_id"), lit(50)) =!= 0),
          emb.filter(pmod(col("vec_id"), lit(50)) === 0),
          "vec_id", "embedding", threshold = 0.4)
        text.join(sem, text("doc") === sem("train_id"))
          .select(col("doc").as("doc_id"), col("n_shared"),
            col("contaminated").as("text_contaminated"), col("max_cos"),
            (!col("is_kept")).as("sem_contaminated"))
          .withColumn("is_kept",
            !col("text_contaminated") && !col("sem_contaminated"))
      },
      Some(s"""WITH toks AS (
          SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS w
          FROM documents
        ), sh AS (
          SELECT DISTINCT doc_id, (w[i] || ' ' || w[i+1] || ' ' || w[i+2]) AS sh
          FROM toks CROSS JOIN UNNEST(generate_series(1, len(w) - 2)) AS t(i)
        ), bench AS (
          SELECT DISTINCT sh FROM sh WHERE doc_id % 50 = 0
        ), cnt AS (
          SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shared
          FROM sh JOIN bench USING (sh) WHERE doc_id % 50 <> 0 GROUP BY doc_id
        ), txt AS (
          SELECT d.doc_id, COALESCE(c.n_shared, 0) AS n_shared,
            COALESCE(c.n_shared, 0) > 0 AS text_contaminated
          FROM (SELECT doc_id FROM documents WHERE doc_id % 50 <> 0) d
          LEFT JOIN cnt c ON d.doc_id = c.doc_id
        ), sem AS (
          SELECT t.vec_id AS doc_id,
            max(round(list_cosine_similarity(CAST(t.embedding AS DOUBLE[]),
                                             CAST(b.embedding AS DOUBLE[])), 6)) AS max_cos
          FROM embeddings t CROSS JOIN embeddings b
          WHERE t.vec_id % 50 <> 0 AND b.vec_id % 50 = 0
          GROUP BY 1
        )
        SELECT txt.doc_id, txt.n_shared, txt.text_contaminated,
          sem.max_cos, sem.max_cos >= 0.4 AS sem_contaminated,
          (NOT txt.text_contaminated) AND sem.max_cos < 0.4 AS is_kept
        FROM txt JOIN sem ON txt.doc_id = sem.doc_id""")),

    // LSH ANN with recall-vs-brute columns. The bucket computation is
    // exact integer arithmetic (Rademacher planes over micro-quantized
    // vectors — Similarity.bucketsUdf), so the oracle replays candidate
    // generation, scoring AND the recall join bit-for-bit: full oracle
    // coverage for an approximate operator.
    Entry("q89_knn_lsh",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val emb = t(s, dir, "embeddings")
        val queries = emb.filter(col("vec_id") < 5)
        val approx = Similarity.lshTopK(emb, queries, "vec_id", "embedding", "vec_id",
          k = 10, dim = 64, nBits = 8, nTables = 8)
        val exact = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding",
          "vec_id", k = 10).select(col("query_id"), col("nbr_id"), lit(1L).as("hit"))
        approx.join(exact, Seq("query_id", "nbr_id"), "left")
          .withColumn("in_exact_topk", coalesce(col("hit"), lit(0L)))
          .withColumn("hits_at_10",
            sum(col("in_exact_topk")).over(Window.partitionBy("query_id")))
          .select(col("query_id"), col("rank"), col("nbr_id"),
            round(col("cos"), 6).as("cos_sim"), col("in_exact_topk"), col("hits_at_10"))
      },
      Some("""WITH signs AS (
          SELECT t, b, i,
            CASE WHEN (((((t*8+b)*64 + i + 1) * 48271) % 2147483647) * 48271
                       % 2147483647) % 2 = 1 THEN 1 ELSE -1 END AS s
          FROM range(8) r1(t), range(8) r2(b), range(64) r3(i)),
        qv AS (SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]),
                 x -> CAST(floor(x * 1000000) AS BIGINT)) AS w
               FROM embeddings),
        dots AS (SELECT v.vec_id, s.t, s.b, sum(s.s * v.w[s.i + 1]) AS d
                 FROM qv v CROSS JOIN signs s GROUP BY 1, 2, 3),
        bkts AS (SELECT vec_id, t,
                   sum(CASE WHEN d >= 0 THEN 1 << b ELSE 0 END) AS bkt
                 FROM dots GROUP BY 1, 2),
        cand AS (SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS nbr_id
                 FROM bkts q JOIN bkts c ON c.t = q.t AND c.bkt = q.bkt
                 WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id),
        approx AS (SELECT query_id, rank, nbr_id, round(cos, 6) AS cos_sim FROM (
            SELECT cand.query_id, cand.nbr_id,
              list_cosine_similarity(CAST(ce.embedding AS DOUBLE[]),
                                     CAST(qe.embedding AS DOUBLE[])) AS cos,
              row_number() OVER (PARTITION BY cand.query_id
                ORDER BY list_cosine_similarity(CAST(ce.embedding AS DOUBLE[]),
                                                CAST(qe.embedding AS DOUBLE[])) DESC,
                         cand.nbr_id) AS rank
            FROM cand JOIN embeddings ce ON ce.vec_id = cand.nbr_id
                      JOIN embeddings qe ON qe.vec_id = cand.query_id)
          WHERE rank <= 10),
        exact AS (SELECT query_id, nbr_id FROM (
            SELECT q.vec_id AS query_id, c.vec_id AS nbr_id,
              row_number() OVER (PARTITION BY q.vec_id
                ORDER BY list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
                                                CAST(q.embedding AS DOUBLE[])) DESC,
                         c.vec_id) AS rank
            FROM embeddings c CROSS JOIN embeddings q
            WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id)
          WHERE rank <= 10)
        SELECT a.query_id, a.rank, a.nbr_id, a.cos_sim,
          CAST(CASE WHEN e.nbr_id IS NULL THEN 0 ELSE 1 END AS BIGINT) AS in_exact_topk,
          CAST(sum(CASE WHEN e.nbr_id IS NULL THEN 0 ELSE 1 END)
               OVER (PARTITION BY a.query_id) AS BIGINT) AS hits_at_10
        FROM approx a LEFT JOIN exact e
          ON e.query_id = a.query_id AND e.nbr_id = a.nbr_id""")),

    // Retrieval-quality metrics (recall@10 / MRR / nDCG@10, binary gains)
    // of the q89 LSH ranking against the exact top-10 — the index
    // evaluation stage a deployment runs before trusting ANN results. The
    // oracle replays q89's full candidate generation (exact-integer
    // Rademacher buckets) and appends the metric math; ranks are integers
    // so only the final <=10-term log-sums are float, under round(.,6).
    Entry("qdn_rank_metrics",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val queries = emb.filter(col("vec_id") < 5)
        val approx = Similarity.lshTopK(emb, queries, "vec_id", "embedding",
          "vec_id", k = 10, dim = 64, nBits = 8, nTables = 8)
        val exact = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding",
          "vec_id", k = 10).select("query_id", "nbr_id")
        Similarity.rankingMetrics(
          approx.select("query_id", "rank", "nbr_id"), exact, k = 10)
      },
      Some("""WITH signs AS (
          SELECT t, b, i,
            CASE WHEN (((((t*8+b)*64 + i + 1) * 48271) % 2147483647) * 48271
                       % 2147483647) % 2 = 1 THEN 1 ELSE -1 END AS s
          FROM range(8) r1(t), range(8) r2(b), range(64) r3(i)),
        qv AS (SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]),
                 x -> CAST(floor(x * 1000000) AS BIGINT)) AS w
               FROM embeddings),
        dots AS (SELECT v.vec_id, s.t, s.b, sum(s.s * v.w[s.i + 1]) AS d
                 FROM qv v CROSS JOIN signs s GROUP BY 1, 2, 3),
        bkts AS (SELECT vec_id, t,
                   sum(CASE WHEN d >= 0 THEN 1 << b ELSE 0 END) AS bkt
                 FROM dots GROUP BY 1, 2),
        cand AS (SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS nbr_id
                 FROM bkts q JOIN bkts c ON c.t = q.t AND c.bkt = q.bkt
                 WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id),
        approx AS (SELECT query_id, rank, nbr_id FROM (
            SELECT cand.query_id, cand.nbr_id,
              row_number() OVER (PARTITION BY cand.query_id
                ORDER BY list_cosine_similarity(CAST(ce.embedding AS DOUBLE[]),
                                                CAST(qe.embedding AS DOUBLE[])) DESC,
                         cand.nbr_id) AS rank
            FROM cand JOIN embeddings ce ON ce.vec_id = cand.nbr_id
                      JOIN embeddings qe ON qe.vec_id = cand.query_id)
          WHERE rank <= 10),
        exact AS (SELECT query_id, nbr_id FROM (
            SELECT q.vec_id AS query_id, c.vec_id AS nbr_id,
              row_number() OVER (PARTITION BY q.vec_id
                ORDER BY list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
                                                CAST(q.embedding AS DOUBLE[])) DESC,
                         c.vec_id) AS rank
            FROM embeddings c CROSS JOIN embeddings q
            WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id)
          WHERE rank <= 10),
        lab AS (SELECT a.query_id, a.rank,
            CASE WHEN e.nbr_id IS NULL THEN 0 ELSE 1 END AS hit
          FROM approx a LEFT JOIN exact e
            ON e.query_id = a.query_id AND e.nbr_id = a.nbr_id),
        agg AS (SELECT query_id, sum(hit) AS h,
            sum(CASE WHEN hit = 1 THEN 1.0/log2(rank + 1) ELSE 0 END) AS dcg,
            min(CASE WHEN hit = 1 THEN rank END) AS minr
          FROM lab GROUP BY 1)
        SELECT query_id,
          round(CAST(h AS DOUBLE) / 10, 6) AS recall_at_k,
          round(coalesce(1.0 / minr, 0), 6) AS mrr_at_k,
          round(CASE WHEN h = 0 THEN 0 ELSE dcg /
            list_aggregate(list_transform(generate_series(1, CAST(h AS INT)),
              i -> 1.0/log2(i + 1)), 'sum') END, 6) AS ndcg_at_k
        FROM agg""")),

    // Quality-threshold corpus filtering (the canonical training-data
    // pipeline stage): keep documents at/above the exact corpus median
    // quality. Median via exact percentile; threshold broadcast back.
    Entry("q8c_quality_filter",
      (s, dir) => {
        val d = t(s, dir, "documents")
          .select(col("doc_id"), TextFunctions.qualityScore(col("text"), "en").as("quality"))
        val med = d.agg(expr("percentile(quality, 0.5)").as("med"))
        d.crossJoin(broadcast(med))
          .filter(col("quality") >= col("med"))
          .select(col("doc_id"), round(col("quality"), 9).as("quality"))
      },
      Some(s"""WITH q AS (SELECT doc_id,
          ((CASE WHEN length(text) BETWEEN 50 AND 5000 THEN 1.0 ELSE 0.0 END
            + (CAST(length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')) AS DOUBLE)
               / greatest(length(text), 1))
            + least((CAST(len(list_filter($OTOKS, x -> list_contains(
                ['the','a','an','and','or','of','to','in','is','it','that','for','on','with','as','at','by','this','be','are'],
                lower(x)))) AS DOUBLE) / greatest(len($OTOKS), 1)) * 4.0, 1.0)
            + (CAST(len(list_distinct($OTOKS)) AS DOUBLE) / greatest(len($OTOKS), 1))
          ) / 4.0) AS quality
          FROM documents),
        m AS (SELECT quantile_cont(quality, 0.5) AS med FROM q)
        SELECT doc_id, round(quality, 9) AS quality
        FROM q, m WHERE quality >= med""")),

    // IVF coarse-quantized ANN with recall-vs-brute columns. Centroids are
    // the lowest-id rows (deterministic) and assignment/probing order by
    // (distance, cell_id), so the oracle replays cell assignment, probing,
    // scoring AND the recall join — full oracle coverage.
    Entry("qa9_knn_ivf",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val emb = t(s, dir, "embeddings")
        val queries = emb.filter(col("vec_id") < 5)
        val approx = Similarity.ivfTopK(emb, queries, "vec_id", "embedding", "vec_id",
          k = 10, nCells = 16, nProbe = 8)
        val exact = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding",
          "vec_id", k = 10).select(col("query_id"), col("nbr_id"), lit(1L).as("hit"))
        approx.join(exact, Seq("query_id", "nbr_id"), "left")
          .withColumn("in_exact_topk", coalesce(col("hit"), lit(0L)))
          .withColumn("hits_at_10",
            sum(col("in_exact_topk")).over(Window.partitionBy("query_id")))
          .select(col("query_id"), col("rank"), col("nbr_id"),
            round(col("cos"), 6).as("cos_sim"), col("in_exact_topk"), col("hits_at_10"))
      },
      Some("""WITH cents AS (SELECT vec_id AS cell_id, embedding AS centroid
               FROM embeddings ORDER BY vec_id LIMIT 16),
        assigned AS (SELECT c.vec_id AS nbr_id, a.cell_id
          FROM embeddings c JOIN LATERAL (
            SELECT t.cell_id FROM cents t
            ORDER BY list_distance(CAST(c.embedding AS DOUBLE[]),
                                   CAST(t.centroid AS DOUBLE[])), t.cell_id
            LIMIT 1) a ON true),
        probes AS (SELECT q.vec_id AS query_id, p.cell_id
          FROM embeddings q JOIN LATERAL (
            SELECT t.cell_id FROM cents t
            ORDER BY list_distance(CAST(q.embedding AS DOUBLE[]),
                                   CAST(t.centroid AS DOUBLE[])), t.cell_id
            LIMIT 8) p ON true
          WHERE q.vec_id < 5),
        cand AS (SELECT p.query_id, a.nbr_id
          FROM probes p JOIN assigned a ON a.cell_id = p.cell_id
          WHERE a.nbr_id <> p.query_id),
        approx AS (SELECT query_id, rank, nbr_id, round(cos, 6) AS cos_sim FROM (
            SELECT cand.query_id, cand.nbr_id,
              list_cosine_similarity(CAST(ce.embedding AS DOUBLE[]),
                                     CAST(qe.embedding AS DOUBLE[])) AS cos,
              row_number() OVER (PARTITION BY cand.query_id
                ORDER BY list_cosine_similarity(CAST(ce.embedding AS DOUBLE[]),
                                                CAST(qe.embedding AS DOUBLE[])) DESC,
                         cand.nbr_id) AS rank
            FROM cand JOIN embeddings ce ON ce.vec_id = cand.nbr_id
                      JOIN embeddings qe ON qe.vec_id = cand.query_id)
          WHERE rank <= 10),
        exact AS (SELECT query_id, nbr_id FROM (
            SELECT q.vec_id AS query_id, c.vec_id AS nbr_id,
              row_number() OVER (PARTITION BY q.vec_id
                ORDER BY list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
                                                CAST(q.embedding AS DOUBLE[])) DESC,
                         c.vec_id) AS rank
            FROM embeddings c CROSS JOIN embeddings q
            WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id)
          WHERE rank <= 10)
        SELECT a.query_id, a.rank, a.nbr_id, a.cos_sim,
          CAST(CASE WHEN e.nbr_id IS NULL THEN 0 ELSE 1 END AS BIGINT) AS in_exact_topk,
          CAST(sum(CASE WHEN e.nbr_id IS NULL THEN 0 ELSE 1 END)
               OVER (PARTITION BY a.query_id) AS BIGINT) AS hits_at_10
        FROM approx a LEFT JOIN exact e
          ON e.query_id = a.query_id AND e.nbr_id = a.nbr_id""")),

    // PERSISTENT IVF index (operators/IvfIndex.scala — the embedding-side
    // sibling of qdt's LSH index): centroids frozen from the 75% build
    // slice, the 25% arrival slice ingested against them with NO corpus
    // contact, corpus laid out cell-per-directory so the probe scan reads
    // nProbe/nCells of the FILES (partition pruning, spec-pinned). Search
    // + recall columns mirror qa9; the oracle is qa9's replay with the
    // centroid seed drawn from the build slice only — everything after
    // the seed (assignment, probing, ranking) is the same frozen-model
    // math whether a vector arrived at build or ingest time, which is
    // exactly the invariant the gate proves.
    Entry("qe3_ivf_persistent_index",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val tag = Scratch.dirTag(dir) + "v"
        val ref = graft.operators.IvfIndex.Ref(tag)
        graft.operators.IvfIndex.drop(s, ref) // idempotent re-runs
        val emb = t(s, dir, "embeddings")
        graft.operators.IvfIndex.build(emb.filter(col("vec_id") % 4 =!= 3),
          "vec_id", "embedding", nCells = 16, ref)
        graft.operators.IvfIndex.ingest(emb.filter(col("vec_id") % 4 === 3),
          "vec_id", "embedding", ref)
        val approx = graft.operators.IvfIndex.search(emb.filter(col("vec_id") < 5),
          "vec_id", "embedding", ref, k = 10, nProbe = 8)
        val exact = Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 5),
          "vec_id", "embedding", "vec_id", k = 10)
          .select(col("query_id"), col("nbr_id"), lit(1L).as("hit"))
        approx.join(exact, Seq("query_id", "nbr_id"), "left")
          .withColumn("in_exact_topk", coalesce(col("hit"), lit(0L)))
          .withColumn("hits_at_10",
            sum(col("in_exact_topk")).over(Window.partitionBy("query_id")))
          .select(col("query_id"), col("rank"), col("nbr_id"),
            round(col("cos"), 6).as("cos_sim"), col("in_exact_topk"), col("hits_at_10"))
      },
      Some("""WITH cents AS (SELECT vec_id AS cell_id, embedding AS centroid
               FROM embeddings WHERE vec_id % 4 <> 3 ORDER BY vec_id LIMIT 16),
        assigned AS (SELECT c.vec_id AS nbr_id, a.cell_id
          FROM embeddings c JOIN LATERAL (
            SELECT t.cell_id FROM cents t
            ORDER BY list_distance(CAST(c.embedding AS DOUBLE[]),
                                   CAST(t.centroid AS DOUBLE[])), t.cell_id
            LIMIT 1) a ON true),
        probes AS (SELECT q.vec_id AS query_id, p.cell_id
          FROM embeddings q JOIN LATERAL (
            SELECT t.cell_id FROM cents t
            ORDER BY list_distance(CAST(q.embedding AS DOUBLE[]),
                                   CAST(t.centroid AS DOUBLE[])), t.cell_id
            LIMIT 8) p ON true
          WHERE q.vec_id < 5),
        cand AS (SELECT p.query_id, a.nbr_id
          FROM probes p JOIN assigned a ON a.cell_id = p.cell_id
          WHERE a.nbr_id <> p.query_id),
        approx AS (SELECT query_id, rank, nbr_id, round(cos, 6) AS cos_sim FROM (
            SELECT cand.query_id, cand.nbr_id,
              list_cosine_similarity(CAST(ce.embedding AS DOUBLE[]),
                                     CAST(qe.embedding AS DOUBLE[])) AS cos,
              row_number() OVER (PARTITION BY cand.query_id
                ORDER BY list_cosine_similarity(CAST(ce.embedding AS DOUBLE[]),
                                                CAST(qe.embedding AS DOUBLE[])) DESC,
                         cand.nbr_id) AS rank
            FROM cand JOIN embeddings ce ON ce.vec_id = cand.nbr_id
                      JOIN embeddings qe ON qe.vec_id = cand.query_id)
          WHERE rank <= 10),
        exact AS (SELECT query_id, nbr_id FROM (
            SELECT q.vec_id AS query_id, c.vec_id AS nbr_id,
              row_number() OVER (PARTITION BY q.vec_id
                ORDER BY list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
                                                CAST(q.embedding AS DOUBLE[])) DESC,
                         c.vec_id) AS rank
            FROM embeddings c CROSS JOIN embeddings q
            WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id)
          WHERE rank <= 10)
        SELECT a.query_id, a.rank, a.nbr_id, a.cos_sim,
          CAST(CASE WHEN e.nbr_id IS NULL THEN 0 ELSE 1 END AS BIGINT) AS in_exact_topk,
          CAST(sum(CASE WHEN e.nbr_id IS NULL THEN 0 ELSE 1 END)
               OVER (PARTITION BY a.query_id) AS BIGINT) AS hits_at_10
        FROM approx a LEFT JOIN exact e
          ON e.query_id = a.query_id AND e.nbr_id = a.nbr_id""")),

    // Same exact-KNN as q88 but scored by the native codegen Catalyst
    // expression (CosineSimilarityExpr) instead of a UDF — shares q88's
    // oracle because the accumulation order is bit-identical.
    // SemDeDup: cluster embeddings (deterministic zero-refinement IVF
    // partitioner), then within-cluster pairwise cosine >= threshold. The
    // clustering bounds the quadratic term — the whole point of semantic
    // dedup at corpus scale; the oracle replays assignment and pairing.
    Entry("qch_semantic_dedup",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        Dedup.semanticDupPairs(emb, "vec_id", "embedding",
            nCells = 16, threshold = 0.35)
          .select(col("cell_id"), col("id1"), col("id2"),
            round(col("cos"), 6).as("cos_sim"))
      },
      Some("""WITH cents AS (SELECT vec_id AS cell_id, embedding AS centroid
               FROM embeddings ORDER BY vec_id LIMIT 16),
        assigned AS (SELECT c.vec_id, c.embedding, a.cell_id
          FROM embeddings c JOIN LATERAL (
            SELECT t.cell_id FROM cents t
            ORDER BY list_distance(CAST(c.embedding AS DOUBLE[]),
                                   CAST(t.centroid AS DOUBLE[])), t.cell_id
            LIMIT 1) a ON true)
        SELECT a.cell_id, a.vec_id AS id1, b.vec_id AS id2,
          round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                       CAST(b.embedding AS DOUBLE[])), 6) AS cos_sim
        FROM assigned a JOIN assigned b
          ON a.cell_id = b.cell_id AND a.vec_id < b.vec_id
        WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                     CAST(b.embedding AS DOUBLE[])) >= 0.35""")),

    // The complete SemDeDup SELECTION (Abbas et al. 2023 — qch's pairs
    // carried through the paper's keep rule): duplicate groups are the
    // connected components of the cosine graph, each keeping its LEAST
    // prototypical member (lowest cosine to the cluster centroid, ties
    // to the smaller id). Ranking on the RAW cosine is engine-portable
    // (cosineSimilarityFast ≡ list_cosine_similarity bit-for-bit — the
    // q88/qch device); the oracle replays assignment, pairing, the
    // min-label component fold, and the keep window.
    Entry("qg5_semdedup_select",
      (s, dir) => Dedup.semDedupSelect(t(s, dir, "embeddings"),
          "vec_id", "embedding", nCells = 16, threshold = 0.35)
        .select(col("vec_id"), col("cell_id"), col("cluster_id"),
          round(col("centroid_cos"), 6).as("centroid_cos"), col("is_kept")),
      Some("""WITH RECURSIVE cents AS (SELECT vec_id AS cell_id, embedding AS centroid
               FROM embeddings ORDER BY vec_id LIMIT 16),
        assigned AS (SELECT c.vec_id, c.embedding, a.cell_id
          FROM embeddings c JOIN LATERAL (
            SELECT t.cell_id FROM cents t
            ORDER BY list_distance(CAST(c.embedding AS DOUBLE[]),
                                   CAST(t.centroid AS DOUBLE[])), t.cell_id
            LIMIT 1) a ON true),
        ccos AS (SELECT a.vec_id, a.cell_id,
            list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                   CAST(t.centroid AS DOUBLE[])) AS ccos
          FROM assigned a JOIN cents t ON t.cell_id = a.cell_id),
        pairs AS (SELECT a.vec_id AS id1, b.vec_id AS id2
          FROM assigned a JOIN assigned b
            ON a.cell_id = b.cell_id AND a.vec_id < b.vec_id
          WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                       CAST(b.embedding AS DOUBLE[])) >= 0.35),
        uedges AS (SELECT id1 AS a, id2 AS b FROM pairs
          UNION SELECT id2, id1 FROM pairs),
        nodes AS (SELECT DISTINCT a AS node FROM uedges),
        reach(node, lbl) AS (
          SELECT node, node FROM nodes
          UNION
          SELECT e.b, r.lbl FROM reach r JOIN uedges e ON e.a = r.node),
        comp AS (SELECT node, min(lbl) AS component FROM reach GROUP BY node),
        cl AS (SELECT x.vec_id, x.cell_id,
            COALESCE(c.component, x.vec_id) AS cluster_id, x.ccos
          FROM ccos x LEFT JOIN comp c ON x.vec_id = c.node),
        rk AS (SELECT *, row_number() OVER (PARTITION BY cluster_id
            ORDER BY ccos ASC, vec_id) AS rn FROM cl)
        SELECT vec_id, cell_id, cluster_id, round(ccos, 6) AS centroid_cos,
          (rn = 1) AS is_kept FROM rk""")),

    // SSL-prototype pruning (Sorscher et al. 2022; D4's prototypicality
    // stage): per cluster, DROP the ceil(25%) most-prototypical vectors
    // (highest raw cosine to centroid — the same engine-portable ranking
    // as qg5), keep the informative tail. dropFrac=0.25 is an exact
    // binary fraction so the cutoff arithmetic replays bit-for-bit.
    Entry("qg7_prototype_prune",
      (s, dir) => graft.operators.DataSelection.prototypePrune(
          t(s, dir, "embeddings"), "vec_id", "embedding",
          nCells = 16, dropFrac = 0.25)
        .select(col("vec_id"), col("cell_id"),
          round(col("centroid_cos"), 6).as("centroid_cos"),
          col("proto_rank"), col("is_kept")),
      Some("""WITH cents AS (SELECT vec_id AS cell_id, embedding AS centroid
               FROM embeddings ORDER BY vec_id LIMIT 16),
        assigned AS (SELECT c.vec_id, c.embedding, a.cell_id
          FROM embeddings c JOIN LATERAL (
            SELECT t.cell_id FROM cents t
            ORDER BY list_distance(CAST(c.embedding AS DOUBLE[]),
                                   CAST(t.centroid AS DOUBLE[])), t.cell_id
            LIMIT 1) a ON true),
        ccos AS (SELECT a.vec_id, a.cell_id,
            list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                   CAST(t.centroid AS DOUBLE[])) AS ccos
          FROM assigned a JOIN cents t ON t.cell_id = a.cell_id),
        rk AS (SELECT vec_id, cell_id, ccos,
            CAST(row_number() OVER (PARTITION BY cell_id
              ORDER BY ccos DESC, vec_id) AS BIGINT) AS proto_rank,
            count(*) OVER (PARTITION BY cell_id) AS n
          FROM ccos)
        SELECT vec_id, cell_id, round(ccos, 6) AS centroid_cos, proto_rank,
          (proto_rank > CAST(ceil(0.25 * n) AS BIGINT)) AS is_kept
        FROM rk""")),

    // The D4 COMPOSITION (Tirumala et al. 2023: SemDeDup first, THEN
    // SSL-prototype pruning over the deduped survivors): qg5's keep set
    // feeds qg7's prune under ONE oracle. The chaining is load-bearing,
    // not a formality — stage 2 re-derives its 16 deterministic
    // centroids from the FIRST 16 SURVIVING ids, and stage 1 drops 13
    // (sf0.01) / 16 (sf0.1) of the first 16 global ids, so the pruned
    // cells differ from qg7's unless both stages genuinely composed.
    // Output: one row per stage-1 survivor with its stage-1 cluster,
    // stage-2 cell/prototypicality, and the final D4 keep verdict.
    Entry("qhi_d4_compose",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val kept = Dedup.semDedupSelect(emb, "vec_id", "embedding",
            nCells = 16, threshold = 0.35)
          .filter(col("is_kept"))
          .select(col("vec_id"), col("cluster_id")).cache()
        val survivors = emb.join(kept.select("vec_id"), "vec_id")
        graft.operators.DataSelection.prototypePrune(survivors, "vec_id",
            "embedding", nCells = 16, dropFrac = 0.25)
          .join(kept, "vec_id")
          .select(col("vec_id"), col("cluster_id"), col("cell_id"),
            round(col("centroid_cos"), 6).as("centroid_cos"),
            col("proto_rank"), col("is_kept"))
      },
      Some("""WITH RECURSIVE cents AS (SELECT vec_id AS cell_id, embedding AS centroid
               FROM embeddings ORDER BY vec_id LIMIT 16),
        assigned AS (SELECT c.vec_id, c.embedding, a.cell_id
          FROM embeddings c JOIN LATERAL (
            SELECT t.cell_id FROM cents t
            ORDER BY list_distance(CAST(c.embedding AS DOUBLE[]),
                                   CAST(t.centroid AS DOUBLE[])), t.cell_id
            LIMIT 1) a ON true),
        ccos AS (SELECT a.vec_id, a.cell_id,
            list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                   CAST(t.centroid AS DOUBLE[])) AS ccos
          FROM assigned a JOIN cents t ON t.cell_id = a.cell_id),
        pairs AS (SELECT a.vec_id AS id1, b.vec_id AS id2
          FROM assigned a JOIN assigned b
            ON a.cell_id = b.cell_id AND a.vec_id < b.vec_id
          WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                       CAST(b.embedding AS DOUBLE[])) >= 0.35),
        uedges AS (SELECT id1 AS a, id2 AS b FROM pairs
          UNION SELECT id2, id1 FROM pairs),
        nodes AS (SELECT DISTINCT a AS node FROM uedges),
        reach(node, lbl) AS (
          SELECT node, node FROM nodes
          UNION
          SELECT e.b, r.lbl FROM reach r JOIN uedges e ON e.a = r.node),
        comp AS (SELECT node, min(lbl) AS component FROM reach GROUP BY node),
        cl AS (SELECT x.vec_id, x.cell_id,
            COALESCE(c.component, x.vec_id) AS cluster_id, x.ccos
          FROM ccos x LEFT JOIN comp c ON x.vec_id = c.node),
        rk AS (SELECT *, row_number() OVER (PARTITION BY cluster_id
            ORDER BY ccos ASC, vec_id) AS rn FROM cl),
        kept AS MATERIALIZED (SELECT vec_id, cluster_id FROM rk WHERE rn = 1),
        cents2 AS (SELECT e.vec_id AS cell_id, e.embedding AS centroid
          FROM embeddings e JOIN kept k ON e.vec_id = k.vec_id
          ORDER BY e.vec_id LIMIT 16),
        a2 AS (SELECT c.vec_id, c.embedding, a.cell_id
          FROM embeddings c JOIN kept kk ON kk.vec_id = c.vec_id
          JOIN LATERAL (
            SELECT t.cell_id FROM cents2 t
            ORDER BY list_distance(CAST(c.embedding AS DOUBLE[]),
                                   CAST(t.centroid AS DOUBLE[])), t.cell_id
            LIMIT 1) a ON true),
        cc2 AS (SELECT a.vec_id, a.cell_id,
            list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                   CAST(t.centroid AS DOUBLE[])) AS ccos
          FROM a2 a JOIN cents2 t ON t.cell_id = a.cell_id),
        rk2 AS (SELECT vec_id, cell_id, ccos,
            CAST(row_number() OVER (PARTITION BY cell_id
              ORDER BY ccos DESC, vec_id) AS BIGINT) AS proto_rank,
            count(*) OVER (PARTITION BY cell_id) AS n
          FROM cc2)
        SELECT r.vec_id, k.cluster_id, r.cell_id,
          round(r.ccos, 6) AS centroid_cos, r.proto_rank,
          (r.proto_rank > CAST(ceil(0.25 * r.n) AS BIGINT)) AS is_kept
        FROM rk2 r JOIN kept k ON k.vec_id = r.vec_id""")),

    // SOFT dedup (q87's fingerprint groups as a sampling correction):
    // every copy stays, weighted 1/n_copies, so distinct content carries
    // unit total weight — the down-weighting alternative to keep-first
    // removal. 1/n is IEEE-exact on both engines (one division).
    Entry("qg9_dup_weights",
      (s, dir) => Dedup.dupWeights(t(s, dir, "documents"), "doc_id", "text"),
      Some(s"""WITH norm AS (SELECT doc_id, $ONORM AS s FROM documents),
        fpt AS (SELECT doc_id, ${oSigned(oFnv("s"))} AS fp FROM norm),
        c AS (SELECT fp, CAST(count(*) AS BIGINT) AS n_copies
          FROM fpt GROUP BY fp)
        SELECT f.doc_id, f.fp, c.n_copies, 1.0 / c.n_copies AS weight
        FROM fpt f JOIN c USING (fp)""")),

    Entry("qab_knn_native_expr",
      (s, dir) => {
        import graft.functions.CosineSimilarityExpr
        import org.apache.spark.sql.expressions.Window
        val emb = t(s, dir, "embeddings")
        val c = emb.select(col("vec_id").as("nbr_id"), col("embedding").as("cvec"))
        val q = emb.filter(col("vec_id") < 5)
          .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
        val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("nbr_id"))
        c.crossJoin(broadcast(q))
          .filter(col("nbr_id") =!= col("query_id"))
          .withColumn("cos", CosineSimilarityExpr(col("cvec"), col("qvec")))
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 10)
          .select(col("query_id"), col("rank"), col("nbr_id"),
            round(col("cos"), 6).as("cos_sim"))
      },
      Some(OKnnBrute)),

    // WARNING — all-pairs O(n²) theta join (BroadcastNestedLoopJoin): this
    // is the exact VERIFICATION regime, kept because its oracle is the
    // ground truth the scalable siblings are judged against. It does not
    // survive a 100× scale-up and is excluded from bench sweeps. Production
    // paths for the same semantics: qch_semantic_dedup (IVF-celled SemDeDup)
    // and q89_knn_lsh / qa9_knn_ivf (bucketed / cell-pruned ANN).
    Entry("q8a_embed_neardup",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val a = emb.select(col("vec_id").as("id1"), col("embedding").as("v1"))
        val b = emb.select(col("vec_id").as("id2"), col("embedding").as("v2"))
        a.join(b, col("id1") < col("id2"))
          .withColumn("cos", graft.functions.VectorFunctions.cosineSimilarityFast(col("v1"), col("v2")))
          .filter(col("cos") >= 0.35)
          .select(col("id1"), col("id2"), round(col("cos"), 6).as("cos_sim"))
      },
      Some("""SELECT a.vec_id AS id1, b.vec_id AS id2,
          round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 6) AS cos_sim
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) >= 0.35""")),

    // Graph-based ANN — the fourth leg of the ANN ladder (bucket probing /
    // cell probing / code scanning / neighborhood walking). The kNN graph
    // is bootstrapped from the SAME integer-exact LSH buckets q89 replays,
    // edges pruned to the 8 nearest bucket-mates by exact quantized-L2,
    // refined by one NN-descent round (neighbors ∪ reverse neighbors ∪
    // neighbors-of-neighbors, re-pruned), and the GNNS greedy expansion
    // (4 entry nodes, beam 6, 3 rounds) is a deterministic function of
    // that graph — so the oracle replays graph construction, refinement,
    // AND every traversal hop, then the recall join vs the exact
    // quantized-L2 top-10: full oracle coverage for a graph index.
    Entry("qeh_knn_graph",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val emb = t(s, dir, "embeddings")
        val g0 = Similarity.knnGraphLsh(emb, "vec_id", "embedding",
          dim = 64, degree = 8, nBits = 6, nTables = 8)
        val graph = Similarity.nnDescentRound(emb, "vec_id", "embedding",
          g0, degree = 8).localCheckpoint()
        val queries = emb.filter(col("vec_id") < 5)
        val approx = Similarity.graphTopK(emb, queries, "vec_id", "embedding",
          "vec_id", k = 10, graph, entryPoints = 4, beam = 6, rounds = 3)
        val qf = emb.select(col("vec_id"), transform(col("embedding"),
          x => floor(x.cast("double") * 1000000L).cast("long")).as("w"))
        val pf = qf.filter(col("vec_id") < 5)
          .select(col("vec_id").as("p_id"), col("w").as("pw"))
        val bw = Window.partitionBy("p_id").orderBy(col("bd").asc, col("vec_id").asc)
        val brute = pf.crossJoin(qf).filter(col("vec_id") =!= col("p_id"))
          .withColumn("bd", aggregate(
            zip_with(col("pw"), col("w"), (a, b) => (a - b) * (a - b)),
            lit(0L), (acc, x) => acc + x))
          .withColumn("rk", row_number().over(bw)).filter(col("rk") <= 10)
          .select(col("p_id"), col("vec_id").as("b_id"), lit(1L).as("hit"))
        approx.join(brute,
            col("query_id") === col("p_id") && col("nbr_id") === col("b_id"), "left")
          .withColumn("in_exact_topk", coalesce(col("hit"), lit(0L)))
          .withColumn("hits_at_10",
            sum(col("in_exact_topk")).over(Window.partitionBy("query_id")))
          .select(col("query_id"), col("rank"), col("nbr_id"), col("dist"),
            col("in_exact_topk"), col("hits_at_10"))
      },
      Some(oKnnGraph)),

    // Margin-based bitext mining (Artetxe & Schwenk 2019): en docs vs the
    // rest, each en doc's best counterpart by the k=4 margin criterion —
    // similarity normalized by both endpoints' mean top-k cross-side
    // similarity, which suppresses hub vectors plain cosine mis-mines.
    // Integer-exact: floor(x*1000) quantized dots, floor-divided 1e6-scaled
    // margin, negative-dot pairs excluded (keeps floor semantics
    // engine-identical). All-pairs is the q8a-style exact verification
    // regime; at scale the ANN ladder feeds the candidates.
    Entry("qeq_bitext_margin",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val docs = t(s, dir, "documents").select(col("doc_id"), col("lang"))
        val joined = emb.join(docs, col("vec_id") === col("doc_id"))
        Similarity.bitextMarginMine(joined, "vec_id", "embedding",
          isSideA = col("lang") === "en", k = 4, minMarginScaled = 1050000L)
      },
      Some("""WITH q AS (
          SELECT e.vec_id AS id, d.lang = 'en' AS isa,
            list_transform(e.embedding,
              x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS w
          FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id
        ), p AS (
          SELECT a.id AS a_id, b.id AS b_id,
            CAST(list_sum(list_transform(range(1, len(a.w) + 1),
              i -> a.w[i] * b.w[i])) AS BIGINT) AS dot
          FROM q a JOIN q b ON a.isa AND NOT b.isa
        ), sa AS (
          SELECT a_id, CAST(sum(dot) AS BIGINT) AS s_a FROM (
            SELECT a_id, dot, row_number() OVER (PARTITION BY a_id
              ORDER BY dot DESC, b_id) AS rk FROM p)
          WHERE rk <= 4 GROUP BY a_id
        ), sb AS (
          SELECT b_id, CAST(sum(dot) AS BIGINT) AS s_b FROM (
            SELECT b_id, dot, row_number() OVER (PARTITION BY b_id
              ORDER BY dot DESC, a_id) AS rk FROM p)
          WHERE rk <= 4 GROUP BY b_id
        ), m AS (
          SELECT p.a_id, p.b_id, p.dot,
            (8 * p.dot * 1000000) // (s_a + s_b) AS margin_scaled
          FROM p JOIN sa USING (a_id) JOIN sb USING (b_id)
          WHERE s_a + s_b > 0 AND p.dot >= 0
        ), best AS (
          SELECT a_id, b_id, dot, margin_scaled, row_number() OVER (
            PARTITION BY a_id ORDER BY margin_scaled DESC, b_id) AS rk
          FROM m
        )
        SELECT a_id, b_id, dot, CAST(margin_scaled AS BIGINT) AS margin_scaled
        FROM best WHERE rk = 1 AND margin_scaled >= 1050000""")),
  )

  /** DuckDB replay of the full graph-ANN pipeline (qeh): q89's bucket CTEs
    * at nBits=6/nTables=8 → LSH-candidate kNN graph pruned per src by
    * exact quantized-L2 → the GNNS expansion unrolled round by round
    * (beam top-6 → neighbor hop → score → union-dedup) → final top-10 +
    * recall join vs the exact quantized-L2 top-10. Every comparison is
    * integer, so traversal decisions match the Spark plan bit-for-bit. */
  /** DuckDB replay of the causal cross-delivery ExactSubstr rule shared
    * by qfa and qfb (compaction is invisible to results by contract):
    * deliveries are doc_id % 3 in slice order; a 40-char window is
    * duplicated iff its gram repeats within its own slice (remove-all)
    * or first occurred in an earlier slice (the corpus keeps its copy).
    * Interval merge + rebuild are qf8's CTEs verbatim. */
  private lazy val GramIndexOracle: String = """WITH g AS (
      SELECT doc_id, doc_id % 3 AS slice, i - 1 AS pos,
        substring(text, i, 40) AS gram
      FROM documents
      CROSS JOIN UNNEST(generate_series(1, len(text) - 39)) AS u(i)
      WHERE len(text) >= 40
    ), st AS (
      SELECT gram, slice, count(*) AS c FROM g GROUP BY 1, 2
    ), fs AS (
      SELECT gram, min(slice) AS first_slice FROM st GROUP BY 1
    ), iv AS (
      SELECT g.doc_id, g.pos AS s, g.pos + 40 AS e
      FROM g JOIN st ON st.gram = g.gram AND st.slice = g.slice
             JOIN fs ON fs.gram = g.gram
      WHERE st.c >= 2 OR fs.first_slice < g.slice
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
          coalesce(seg.ge, len(d.text)) - seg.gs), '' ORDER BY seg.gs) AS ct
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

  private lazy val oKnnGraph: String = {
    val dim = 64; val nBits = 6; val nTables = 8; val degree = 8
    val entryN = 4; val beam = 6; val rounds = 3; val k = 10
    def d(a: String, b: String) =
      s"""CAST(list_aggregate(list_transform(range(1, $dim + 1),
         i -> ($a[i] - $b[i]) * ($a[i] - $b[i])), 'sum') AS BIGINT)"""
    val roundCtes = (1 to rounds).map { r =>
      s"""b${r - 1} AS (SELECT query_id, node FROM (
           SELECT query_id, node, row_number() OVER (
             PARTITION BY query_id ORDER BY d, node) AS rk
           FROM s${r - 1}) WHERE rk <= $beam),
         x$r AS (SELECT DISTINCT b.query_id, g.dst AS node
           FROM b${r - 1} b JOIN graph g ON g.src = b.node),
         n$r AS (SELECT x.query_id, x.node, ${d("q.qw", "n.w")} AS d
           FROM x$r x JOIN qv n ON n.vec_id = x.node
           JOIN q ON q.query_id = x.query_id),
         s$r AS (SELECT * FROM s${r - 1} UNION SELECT * FROM n$r)"""
    }.mkString(",\n")
    s"""WITH signs AS (
        SELECT t, b, i,
          CASE WHEN (((((t*$nBits+b)*$dim + i + 1) * 48271) % 2147483647) * 48271
                     % 2147483647) % 2 = 1 THEN 1 ELSE -1 END AS s
        FROM range($nTables) r1(t), range($nBits) r2(b), range($dim) r3(i)),
      qv AS (SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]),
               x -> CAST(floor(x * 1000000) AS BIGINT)) AS w
             FROM embeddings),
      dots AS (SELECT v.vec_id, s.t, s.b, sum(s.s * v.w[s.i + 1]) AS dp
               FROM qv v CROSS JOIN signs s GROUP BY 1, 2, 3),
      bkts AS (SELECT vec_id, t,
                 sum(CASE WHEN dp >= 0 THEN 1 << b ELSE 0 END) AS bkt
               FROM dots GROUP BY 1, 2),
      gc AS (SELECT DISTINCT a.vec_id AS src, c.vec_id AS dst
             FROM bkts a JOIN bkts c ON c.t = a.t AND c.bkt = a.bkt
             WHERE c.vec_id <> a.vec_id),
      gs AS (SELECT gc.src, gc.dst, ${d("sw.w", "dw.w")} AS d
             FROM gc JOIN qv sw ON sw.vec_id = gc.src
                     JOIN qv dw ON dw.vec_id = gc.dst),
      graph0 AS (SELECT src, dst FROM (
          SELECT src, dst, row_number() OVER (
            PARTITION BY src ORDER BY d, dst) AS rk
          FROM gs) WHERE rk <= $degree),
      hop AS (SELECT g1.src, g2.dst FROM graph0 g1
              JOIN graph0 g2 ON g2.src = g1.dst),
      cnd AS (SELECT DISTINCT src, dst FROM (
          SELECT src, dst FROM graph0
          UNION ALL SELECT src, dst FROM hop
          UNION ALL SELECT dst AS src, src AS dst FROM graph0)
        WHERE src <> dst),
      gs2 AS (SELECT cnd.src, cnd.dst, ${d("sw.w", "dw.w")} AS d
              FROM cnd JOIN qv sw ON sw.vec_id = cnd.src
                       JOIN qv dw ON dw.vec_id = cnd.dst),
      graph AS (SELECT src, dst FROM (
          SELECT src, dst, row_number() OVER (
            PARTITION BY src ORDER BY d, dst) AS rk
          FROM gs2) WHERE rk <= $degree),
      ent AS (SELECT vec_id AS node FROM embeddings ORDER BY vec_id LIMIT $entryN),
      q AS (SELECT vec_id AS query_id, w AS qw FROM qv WHERE vec_id < 5),
      s0 AS (SELECT q.query_id, e.node, ${d("q.qw", "n.w")} AS d
             FROM q CROSS JOIN ent e JOIN qv n ON n.vec_id = e.node),
      $roundCtes,
      fin AS (SELECT query_id, node AS nbr_id, d,
                row_number() OVER (PARTITION BY query_id ORDER BY d, node) AS rank
              FROM s$rounds WHERE node <> query_id),
      topk AS (SELECT * FROM fin WHERE rank <= $k),
      brute AS (SELECT query_id, b_id FROM (
          SELECT p.query_id, c.vec_id AS b_id, row_number() OVER (
            PARTITION BY p.query_id ORDER BY ${d("p.qw", "c.w")}, c.vec_id) AS rk
          FROM q p CROSS JOIN qv c WHERE c.vec_id <> p.query_id) WHERE rk <= $k)
      SELECT t.query_id, t.rank, t.nbr_id, t.d AS dist,
        CASE WHEN b.b_id IS NULL THEN 0 ELSE 1 END AS in_exact_topk,
        CAST(sum(CASE WHEN b.b_id IS NULL THEN 0 ELSE 1 END)
          OVER (PARTITION BY t.query_id) AS BIGINT) AS hits_at_10
      FROM topk t LEFT JOIN brute b
        ON b.query_id = t.query_id AND b.b_id = t.nbr_id"""
  }

  /** On-disk PqIndex for qe9, built once per (warehouse, fixture mtime):
    * the files themselves are the cache (cross-PROCESS, unlike
    * ivfpqModels' in-memory pins), and the mtime-stamped tag makes a
    * regenerated fixture rebuild rather than serve stale cells. */
  private[queries] def pqIndexFor(s: SparkSession, dir: String): graft.operators.PqIndex.Ref = {
    val mt = new java.io.File(graft.Tables.path(dir, "embeddings")).lastModified()
    val tag = Scratch.dirTag(s"$dir:$mt") + "q"
    val ref = graft.operators.PqIndex.Ref(tag)
    val codes = new java.io.File(s.conf.get("spark.sql.warehouse.dir")
      .stripPrefix("file:"), s"${ref.dirName}/codes")
    if (!codes.isDirectory) {
      graft.operators.PqIndex.drop(s, ref)
      graft.operators.PqIndex.build(t(s, dir, "embeddings"), "vec_id",
        "embedding", dim = 64, m = 4, k = 8, iters = 1, nCells = 8,
        cIters = 1, ref)
    }
    ref
  }

  /** Per-(process, sfDir) fitted IVFADC models — the amortized "index build"
    * a deployed ANN service pays once per corpus. Frames are pinned with
    * eager localCheckpoint: lineage is truncated, so consumers replay no
    * training work, and RDD-level persistence survives
    * `spark.catalog.clearCache()` (which only drops SQL-cache entries). */
  private val ivfpqCache =
    scala.collection.concurrent.TrieMap.empty[(String, Long), (graft.operators.ML.KMeansResult, graft.operators.PQ.PQModel)]

  private[queries] def ivfpqModels(s: SparkSession, dir: String): (graft.operators.ML.KMeansResult, graft.operators.PQ.PQModel) = {
    // mtime in the key: a regenerated embeddings fixture must refit
    val key = (dir, new java.io.File(graft.Tables.path(dir, "embeddings")).lastModified())
    // liveness guard: models pinned under a since-stopped SparkSession
    // (harness restart in the same JVM) must be refitted, not served
    ivfpqCache.get(key)
      .filterNot(_._1.assignments.sparkSession.sparkContext.isStopped)
      .getOrElse {
        val emb = t(s, dir, "embeddings")
        val coarse = graft.operators.ML.kMeansScaled(emb, "vec_id", "embedding",
          k = 8, iters = 1)
        val model = graft.operators.PQ.fit(emb, "vec_id", "embedding", dim = 64,
          m = 4, k = 8, iters = 1)
        val fitted = (graft.operators.ML.KMeansResult(
          coarse.assignments.localCheckpoint(true),
          coarse.centroids.localCheckpoint(true)),
          graft.operators.PQ.PQModel(
            model.centroids.localCheckpoint(true),
            model.codes.localCheckpoint(true)))
        ivfpqCache.put(key, fitted)
        fitted
      }
  }

  /** IVFADC search + recall-vs-exact columns over `embeddings` — shared by
    * qcv (inline fit) and qd5 (pre-fitted models). */
  private def ivfpqSearch(s: SparkSession, dir: String,
                          coarse: graft.operators.ML.KMeansResult,
                          model: graft.operators.PQ.PQModel): org.apache.spark.sql.DataFrame = {
    val emb = t(s, dir, "embeddings")
    val probes = emb.filter(col("vec_id") < 5)
    ivfpqRecall(s, dir, graft.operators.PQ.ivfAdcTopK(coarse, model, probes,
      "vec_id", "embedding", dim = 64, m = 4, nProbe = 2, topK = 5))
  }

  /** Recall-vs-exact wrapper shared by every IVFADC gate (qcv/qd5/qe9):
    * joins a (q_id, rank, id, adc_dist) top-k against the exact
    * quantized-L2 top-5 (q89's pattern) regardless of which engine —
    * in-memory models or the persistent on-disk index — produced it. */
  private def ivfpqRecall(s: SparkSession, dir: String,
                          top: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val topK = 5
    val emb = t(s, dir, "embeddings")
    val qf = emb.select(col("vec_id"),
      transform(col("embedding"),
        x => floor(x.cast("double") * 1000000L).cast("long")).as("qv"))
    val pf = qf.filter(col("vec_id") < 5)
      .select(col("vec_id").as("p_id"), col("qv").as("pv"))
    val bw = Window.partitionBy("p_id").orderBy(col("d").asc, col("vec_id").asc)
    val brute = pf.crossJoin(qf)
      .withColumn("d", aggregate(
        zip_with(col("pv"), col("qv"), (a, b) => (a - b) * (a - b)),
        lit(0L), (acc, x) => acc + x))
      .withColumn("rk", row_number().over(bw)).filter(col("rk") <= topK)
      .select(col("p_id"), col("vec_id").as("b_id"), lit(1L).as("hit"))
    top.join(brute,
        col("q_id") === col("p_id") && col("id") === col("b_id"), "left")
      .withColumn("in_exact_topk", coalesce(col("hit"), lit(0L)))
      .withColumn("recall_at_5",
        sum(col("in_exact_topk")).over(Window.partitionBy("q_id")))
      .select(col("q_id"), col("rank"), col("id").as("nbr_id"),
        col("adc_dist"), col("in_exact_topk"), col("recall_at_5"))
  }

  /** DuckDB replay of the full IVFADC pipeline (coarse k-means unroll →
    * probe routing → per-subspace PQ training → cell-restricted ADC →
    * rank + recall-vs-exact) — shared verbatim by qcv and qd5, whose
    * deterministic fits make their results byte-identical. */
  private lazy val ivfpqOracle: String = {
    val sub = 16
    val k = 8
    def assign(name: String, qn: String, cents: String) =
      s"""$name AS (SELECT q.id, q.qv, s.cell_id FROM $qn q JOIN LATERAL (
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
    def qcte(mi: Int) = {
      val a = mi * sub + 1
      val b = (mi + 1) * sub
      s"""q$mi AS (SELECT vec_id AS id, list_transform(embedding[$a:$b],
         x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qv
         FROM embeddings)"""
    }
    val perSub = (0 until 4).map { mi =>
      s"""${qcte(mi)},
      c${mi}0 AS (SELECT id AS cell_id, qv AS cvec FROM q$mi ORDER BY id LIMIT $k),
      ${assign(s"a${mi}1", s"q$mi", s"c${mi}0")},
      ${update(s"c${mi}1", s"a${mi}1")},
      ${assign(s"a${mi}2", s"q$mi", s"c${mi}1")},
      lut$mi AS (SELECT p.id AS q_id, t.cell_id,
          list_aggregate(list_transform(range(1, len(p.qv) + 1),
            i -> (p.qv[i] - t.cvec[i]) * (p.qv[i] - t.cvec[i])), 'sum') AS pdist
        FROM q$mi p CROSS JOIN c${mi}1 t WHERE p.id < 5),
      adc$mi AS (SELECT l.q_id, a.id AS nbr_id, l.pdist
        FROM a${mi}2 a JOIN lut$mi l USING (cell_id))"""
    }.mkString(",\n")
    s"""WITH qf AS (SELECT vec_id AS id, list_transform(embedding,
        x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qv
      FROM embeddings),
    cc0 AS (SELECT id AS cell_id, qv AS cvec FROM qf ORDER BY id LIMIT $k),
    ${assign("ca1", "qf", "cc0")},
    ${update("cc1", "ca1")},
    ${assign("ca2", "qf", "cc1")},
    pc AS (SELECT id AS q_id, cell_id FROM (
        SELECT p.id, t.cell_id,
          row_number() OVER (PARTITION BY p.id ORDER BY
            list_aggregate(list_transform(range(1, len(p.qv) + 1),
              i -> (p.qv[i] - t.cvec[i]) * (p.qv[i] - t.cvec[i])), 'sum'),
            t.cell_id) AS r
        FROM qf p CROSS JOIN cc1 t WHERE p.id < 5)
      WHERE r <= 2),
    cand AS (SELECT pc.q_id, ca2.id AS nbr_id
      FROM pc JOIN ca2 ON ca2.cell_id = pc.cell_id),
    $perSub,
    adc AS (SELECT q_id, nbr_id, sum(pdist) AS adc_dist FROM (
        SELECT * FROM adc0 UNION ALL SELECT * FROM adc1
        UNION ALL SELECT * FROM adc2 UNION ALL SELECT * FROM adc3)
      GROUP BY 1, 2),
    fadc AS (SELECT adc.q_id, adc.nbr_id, adc.adc_dist
      FROM adc JOIN cand USING (q_id, nbr_id)),
    tops AS (SELECT q_id, nbr_id, adc_dist, rank FROM (
        SELECT q_id, nbr_id, adc_dist,
          row_number() OVER (PARTITION BY q_id ORDER BY adc_dist, nbr_id) AS rank
        FROM fadc) WHERE rank <= 5),
    bd AS (SELECT p.id AS q_id, c.id AS nbr_id,
        list_aggregate(list_transform(range(1, len(p.qv) + 1),
          i -> (p.qv[i] - c.qv[i]) * (p.qv[i] - c.qv[i])), 'sum') AS d
      FROM qf p CROSS JOIN qf c WHERE p.id < 5),
    bt AS (SELECT q_id, nbr_id FROM (SELECT q_id, nbr_id,
        row_number() OVER (PARTITION BY q_id ORDER BY d, nbr_id) AS rk FROM bd)
      WHERE rk <= 5),
    fl AS (SELECT t.q_id, t.rank, t.nbr_id, t.adc_dist,
        CASE WHEN b.nbr_id IS NOT NULL THEN 1 ELSE 0 END AS in_exact_topk
      FROM tops t LEFT JOIN bt b ON b.q_id = t.q_id AND b.nbr_id = t.nbr_id)
    SELECT q_id, rank, nbr_id, CAST(adc_dist AS BIGINT) AS adc_dist,
      CAST(in_exact_topk AS BIGINT) AS in_exact_topk,
      CAST(sum(in_exact_topk) OVER (PARTITION BY q_id) AS BIGINT) AS recall_at_5
    FROM fl"""
  }
}
