package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis primitives for large-scale document pipelines: tokenization,
  * shingling, language-ID heuristics, quality scoring, fingerprinting.
  *
  * Everything here is a `Column` expression over built-in functions (no UDF)
  * unless a genuine per-row imperative loop is required (MinHash/SimHash
  * signatures — see [[Hashes]] — and the sorted n-gram run scans of the
  * repetition signals — see [[NgramRepetitionExpr]]), which run as native
  * codegen'd Catalyst expressions; expressions keep the hot path inside
  * Catalyst and make the math replicable by an external SQL oracle.
  */
object TextFunctions {

  /** Whitespace tokenizer (eager `\s+` split; drops empty leading token). */
  def tokens(text: Column): Column =
    filter(split(text, "\\s+"), t => t =!= lit(""))

  /** Token count on a BPE-ish pre-tokenizer: words OR single punctuation. */
  def tokenCountBpe(text: Column): Column =
    size(regexp_extract_all(text, lit("\\w+|[^\\w\\s]"), lit(0)))

  def tokenCount(text: Column): Column = size(tokens(text))

  /** Word n-gram shingles as re-joined strings, distinct. */
  def wordShingles(text: Column, n: Int): Column = {
    val toks = tokens(text)
    val idx = sequence(lit(0), size(toks) - n) // empty when size < n
    array_distinct(transform(idx, i => array_join(slice(toks, i + 1, lit(n)), " ")))
  }

  private val stopwordLists: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
      "that", "for", "on", "with", "as", "at", "by", "this", "be", "are"),
    "es" -> Seq("el", "la", "los", "las", "un", "una", "y", "o", "de", "en",
      "es", "que", "por", "con", "para", "del", "se", "no", "su", "al"),
    "fr" -> Seq("le", "la", "les", "un", "une", "et", "ou", "de", "en", "est",
      "que", "pour", "avec", "par", "ce", "se", "ne", "pas", "au", "du"),
    "de" -> Seq("der", "die", "das", "ein", "eine", "und", "oder", "von", "in",
      "ist", "dass", "fur", "mit", "als", "bei", "zu", "sich", "nicht", "auf", "es"),
  )

  /** Fraction of tokens found in `lang`'s stopword list. */
  def stopwordRatio(text: Column, lang: String): Column = {
    val sw = lit(stopwordLists(lang).toArray)
    val toks = tokens(text)
    size(filter(toks, t => array_contains(sw, lower(t)))).cast("double") /
      greatest(size(toks), lit(1)).cast("double")
  }

  /** Heuristic language-ID: argmax of per-language stopword ratios, with a
    * CJK-codepoint check first; "und" when nothing scores.
    * (Capability analogue of an n-gram LID model; deliberately simple.)
    *
    * One compiled pass per row: the pure-expression form retokenized the
    * text once per language per ratio (8 regex splits/row) and was ~20ms/row;
    * the UDF tokenizes once and scores all languages together. */
  def langId(text: Column): Column = langIdUdf(text)

  private lazy val langIdUdf = {
    val langs = stopwordLists.keys.toArray.sorted
    val sets = langs.map(l => stopwordLists(l).toSet)
    udf { (text: String) =>
      if (text == null) "und"
      else if (text.exists(c => c >= '一' && c <= '鿿')) "zh"
      else {
        val toks = text.split("\\s+").filter(_.nonEmpty)
        val n = math.max(toks.length, 1)
        var bestScore = 0.0
        var bestLang = "und"
        // ties resolve to the lexicographically LAST language, matching
        // greatest(struct(score, lang)) semantics of the expression form
        var i = 0
        while (i < langs.length) {
          val set = sets(i)
          var hits = 0
          toks.foreach(t => if (set.contains(t.toLowerCase)) hits += 1)
          val score = hits.toDouble / n
          if (score >= bestScore && score > 0.02) { bestScore = score; bestLang = langs(i) }
          i += 1
        }
        bestLang
      }
    }
  }

  /** Fraction of characters that are ASCII alphanumeric or space. */
  def alphaRatio(text: Column): Column =
    length(regexp_replace(text, "[^A-Za-z0-9 ]", "")).cast("double") /
      greatest(length(text), lit(1)).cast("double")

  /** Mean token length. */
  def meanTokenLen(text: Column): Column = {
    val toks = tokens(text)
    aggregate(toks, lit(0L), (acc, t) => acc + length(t)).cast("double") /
      greatest(size(toks), lit(1)).cast("double")
  }

  /** Gopher repetition signal: fraction of n-gram OCCURRENCES that are
    * duplicates of an earlier occurrence — (total - distinct) / total, 0
    * for docs shorter than n tokens. Counted over hashed windows
    * ([[PosShingleHashesExpr]], one compiled pass) — exact up to 64-bit
    * collisions, like every hashed-shingle operator here. Per-row
    * expression: the whole signal fuses into the scan, no shuffle. */
  def dupNgramFrac(text: Column, n: Int): Column = {
    val h = PosShingleHashesExpr(text, n)
    val m = size(h)
    when(m === 0, lit(0.0))
      .otherwise((m - size(array_distinct(h))).cast("double") / m.cast("double"))
  }

  /** Gopher repetition signal: fraction of the document's characters
    * covered by occurrences of its MOST FREQUENT n-gram (count × n-gram
    * char length / text char length). Tie-break: lexicographically
    * smallest among the most frequent — a total order, so deterministic.
    * Native kernel [[NgramRepetitionExpr]]: one sort of the token windows
    * by byte order and one run scan, inside whole-stage codegen. */
  def topNgramCharFrac(text: Column, n: Int): Column =
    NgramRepetitionExpr(text, n, dup = false)

  /** Gopher repetition signal (the 5..10-gram family): fraction of the
    * document's characters inside DUPLICATED n-grams — sum over n-grams
    * occurring >= 2 times of count × char length, over text char length.
    * Same native kernel [[NgramRepetitionExpr]], accumulating the runs of
    * length >= 2. */
  def dupNgramCharFrac(text: Column, n: Int): Column =
    NgramRepetitionExpr(text, n, dup = true)

  /** Type-token ratio (lexical diversity). */
  def typeTokenRatio(text: Column): Column =
    size(array_distinct(tokens(text))).cast("double") /
      greatest(size(tokens(text)), lit(1)).cast("double")

  /** Composite document-quality score in [0,1]: length band + alpha ratio +
    * stopword signal + lexical diversity. The exact formula is arbitrary but
    * fixed; an oracle can replicate it term by term. */
  def qualityScore(text: Column, lang: String = "en"): Column = {
    val lenOk = when(length(text).between(50, 5000), lit(1.0)).otherwise(lit(0.0))
    val alpha = alphaRatio(text)
    val sw = least(stopwordRatio(text, lang) * 4.0, lit(1.0))
    val ttr = typeTokenRatio(text)
    (lenOk + alpha + sw + ttr) / 4.0
  }

  /** Gopher/C4-style rule-based document filters (the deterministic subset
    * of the published heuristics that is meaningful on plain text): each
    * rule is a boolean Column, `gopherKeep` is their conjunction. All are
    * built from native functions, so a SQL oracle replays them exactly and
    * the filter fuses into the scan at corpus scale. */
  object Rules {
    /** 50 <= token count <= 100000 (Gopher word-count band). */
    def tokenCountOk(text: Column): Column = tokenCount(text).between(50, 100000)
    /** Mean token length in [3, 10] characters. */
    def meanTokenLenOk(text: Column): Column = meanTokenLen(text).between(3.0, 10.0)
    /** At least 80% of tokens contain an alphabetic character. */
    def alphaTokenRatioOk(text: Column): Column = {
      val toks = tokens(text)
      (size(filter(toks, t => t.rlike("[A-Za-z]"))).cast("double") /
        greatest(size(toks), lit(1)).cast("double")) > 0.8
    }
    /** Symbol-to-token ratio (# and ellipsis marks) below 0.1. */
    def symbolRatioOk(text: Column): Column = {
      val symbols = size(split(text, "#", -1)) - 1 +
        size(split(text, "\\.\\.\\.", -1)) - 1
      (symbols.cast("double") /
        greatest(tokenCount(text), lit(1)).cast("double")) < 0.1
    }
    /** At least two distinct English stopwords appear (Gopher's
      * "stop word" requirement — filters keyword-stuffing lists).
      * Distinct is taken AFTER lowercasing, so "The the" is one stopword. */
    def stopwordCountOk(text: Column): Column = {
      val sw = lit(stopwordLists("en").toArray)
      size(array_distinct(transform(
        filter(tokens(text), t => array_contains(sw, lower(t))),
        t => lower(t)))) >= 2
    }
    /** Repetition: type-token ratio above 0.2 (degenerate repeated-token
      * documents fall far below). */
    def repetitionOk(text: Column): Column = typeTokenRatio(text) > 0.2

    def gopherKeep(text: Column): Column =
      tokenCountOk(text) && meanTokenLenOk(text) && alphaTokenRatioOk(text) &&
        symbolRatioOk(text) && stopwordCountOk(text) && repetitionOk(text)
  }
}
