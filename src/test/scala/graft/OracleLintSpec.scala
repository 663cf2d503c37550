package graft

import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** Oracle-typing lint (round-9 VERDICT item #2).
  *
  * The bug class: DuckDB widens `sum(<integral>)` to HUGEINT, which the
  * driver's comparison frame renders as float64 (`376931.0`), while Spark
  * emits int64 (`376931`) — so a value-identical result hash-mismatches.
  * It bit q95 first (fixed with an outer `CAST(... AS BIGINT)` and a
  * comment mandating the pattern, StatefulStreamQueries.scala), then
  * recurred verbatim in the three round-8 connector oracles (qd8/qd9/qda,
  * hash-red in CORRECTNESS_r08). This spec makes the class unshippable:
  * it fails on any oracle whose OUTERMOST select list emits a bare
  * integral-looking `sum(...) AS col` without an outer CAST.
  *
  * Heuristic (tuned against all 207 round-8 oracles — zero false
  * positives, catches all three pre-fix forms):
  *   - only the final depth-0 SELECT's select list is examined (sums in
  *     CTEs/subqueries are fine — their type never reaches the driver);
  *   - a sum is "integral-looking" when its argument contains a cast to
  *     an integer type, a len/length/count/row_number/rank call, or is a
  *     bare column reference (conservative: bare doubles must either
  *     carry an explicit outer CAST too, or be allowlisted below).
  *
  * Two source lints ride along: `src/main` builds SparkSessions only in
  * GraftSession.scala, so every main shares one set of session settings;
  * and the registry's queries and QueryableState hash dir tags, place
  * scratch files under `java.io.tmpdir` and publish derived fixtures only
  * through `graft.queries.Scratch`.
  */
class OracleLintSpec extends AnyFunSuite {

  /** Oracles allowed to emit a bare top-level integral sum — none today.
    * Add an entry ONLY with a comment proving the DuckDB output type is
    * int64/float64-stable (e.g. sum of DOUBLE). */
  private val allowlist: Set[String] = Set.empty

  private val intCast =
    "(?i)as\\s+(bigint|u?integer|int|smallint|tinyint|hugeint|ubigint)\\b".r
  private val intFun =
    "(?i)(?<![a-z0-9_])(len|length|strlen|count|row_number|rank)\\s*\\(".r
  private val bareRef = "(?i)^\\s*[a-z_][a-z0-9_.]*\\s*$".r
  private val castPrefix = "(?i)cast\\s*\\(\\s*$".r
  private val aliasedNext = "(?i)^\\s*as\\s+[a-z_][a-z0-9_]*\\s*(,|$)".r
  private val sumOpen = "(?i)(?<![a-z0-9_])sum\\s*\\(".r

  private def stripComments(sql: String): String =
    sql.replaceAll("--[^\\n]*", "")

  /** Select-list text of the outermost (final) SELECT: the last SELECT at
    * paren-depth 0 (i.e. after any WITH block), up to its depth-0 FROM. */
  private[graft] def topSelectList(sqlRaw: String): Option[String] = {
    val s = stripComments(sqlRaw)
    val tok = "(?i)(?<![a-z0-9_])select\\b|(?<![a-z0-9_])from\\b|[()]".r
    var depth = 0
    var lastSel = -1
    var fromAfter = -1
    tok.findAllMatchIn(s).foreach { m =>
      m.group(0) match {
        case "(" => depth += 1
        case ")" => depth -= 1
        case t if t.equalsIgnoreCase("select") =>
          if (depth == 0) { lastSel = m.end; fromAfter = -1 }
        case t if t.equalsIgnoreCase("from") =>
          if (depth == 0 && lastSel >= 0 && fromAfter < 0) fromAfter = m.start
        case _ =>
      }
    }
    if (lastSel < 0) None
    else Some(s.substring(lastSel, if (fromAfter >= 0) fromAfter else s.length))
  }

  /** Bare integral-looking `sum(...) AS name` columns in a select list. */
  private[graft] def bareIntSums(sel: String): Seq[String] =
    sumOpen.findAllMatchIn(sel).toSeq.flatMap { m =>
      if (castPrefix.findFirstIn(sel.substring(0, m.start)).isDefined) None
      else {
        var depth = 1
        var i = m.end
        while (i < sel.length && depth > 0) {
          sel.charAt(i) match {
            case '(' => depth += 1
            case ')' => depth -= 1
            case _   =>
          }
          i += 1
        }
        val inner = sel.substring(m.end, math.max(m.end, i - 1))
        val post = sel.substring(math.min(i, sel.length))
        val isOutput = aliasedNext.findFirstIn(post).isDefined
        val integral = intCast.findFirstIn(inner).isDefined ||
          intFun.findFirstIn(inner).isDefined ||
          bareRef.findFirstIn(inner).isDefined
        if (isOutput && integral) Some(inner.trim.take(60)) else None
      }
    }

  test("no oracle emits a bare integral sum as a top-level output column") {
    val bad = SparkEntry.oracleSql.toSeq.sortBy(_._1).flatMap {
      case (name, sql) if !allowlist(name) =>
        topSelectList(sql).toSeq.flatMap(bareIntSums).map(i => s"$name: sum($i)")
      case _ => Nil
    }
    assert(bad.isEmpty,
      s"\nUnwrapped integral sum(...) output columns (DuckDB widens to " +
        s"HUGEINT -> float64 render -> hash mismatch; wrap in " +
        s"CAST(sum(...) AS BIGINT) like the q95 oracle):\n${bad.mkString("\n")}")
  }

  test("the lint catches the exact pre-fix qd8/qd9/qda forms") {
    val preFixQd9 =
      """SELECT lang, count(*) AS n_docs,
          sum(n_chars) AS sum_chars,
          sum(len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')))
            AS sum_tokens
        FROM documents GROUP BY lang ORDER BY lang"""
    val preFixQd8 =
      """WITH e AS (SELECT * FROM events)
        SELECT event_type, count(*) AS n,
          sum(CAST(round(value * 1000) AS BIGINT)) AS sum_millis,
          max(off) AS max_offset
        FROM e GROUP BY event_type ORDER BY event_type"""
    assert(topSelectList(preFixQd9).toSeq.flatMap(bareIntSums).size == 2)
    assert(topSelectList(preFixQd8).toSeq.flatMap(bareIntSums).size == 1)
    // ...and passes the fixed forms
    val fixed =
      """SELECT lang, CAST(sum(n_chars) AS BIGINT) AS sum_chars
        FROM documents GROUP BY lang"""
    assert(topSelectList(fixed).toSeq.flatMap(bareIntSums).isEmpty)
    // ...and ignores CTE-internal sums (type never reaches the driver)
    val cteOnly =
      """WITH t AS (SELECT k, sum(v) AS s FROM x GROUP BY k)
        SELECT k, CAST(s AS BIGINT) AS s FROM t"""
    assert(topSelectList(cteOnly).toSeq.flatMap(bareIntSums).isEmpty)
  }

  private val sessionBuilder = "SparkSession\\s*\\.\\s*builder".r

  private val root = java.nio.file.Paths.get("src/main/scala")

  private def read(f: java.nio.file.Path): String =
    new String(java.nio.file.Files.readAllBytes(f), java.nio.charset.StandardCharsets.UTF_8)

  /** Every .scala file under `dir`, relative to [[root]], with its text. */
  private def sources(dir: java.nio.file.Path): Seq[(String, String)] = {
    require(java.nio.file.Files.isDirectory(dir), s"run from the repository root: no $dir")
    val files = java.nio.file.Files.walk(dir)
    try files.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
      .map(f => root.relativize(f).toString -> read(f))
    finally files.close()
  }

  test("src/main builds a SparkSession only in GraftSession.scala") {
    val bad = sources(root).collect {
      case (f, src) if !f.endsWith("/GraftSession.scala") &&
        sessionBuilder.findFirstIn(src).isDefined => f
    }.sorted
    assert(bad.isEmpty, s"\nSparkSession.builder outside GraftSession.scala:\n${bad.mkString("\n")}")
    // not vacuous: the one builder matches, and so does a split call
    assert(sessionBuilder.findFirstIn(read(root.resolve("graft/GraftSession.scala"))).isDefined)
    assert(sessionBuilder.findFirstIn("SparkSession\n      .builder()").isDefined)
  }

  private val scratchDecision =
    ("MurmurHash3\\s*\\.\\s*stringHash\\s*\\(" +
      "|System\\s*\\.\\s*getProperty\\s*\\(\\s*\"java\\.io\\.tmpdir\"\\s*\\)" +
      "|AtomicPublish\\s*\\.\\s*once\\s*\\(").r

  test("dir tags, java.io.tmpdir and derived-fixture publishing live only in Scratch.scala") {
    val scoped = sources(root.resolve("graft/queries")) ++
      sources(root.resolve("graft/streaming")).filter(_._1.endsWith("/QueryableState.scala"))
    val bad = scoped.collect {
      case (f, src) if !f.endsWith("/Scratch.scala") =>
        scratchDecision.findAllIn(src).toSeq.distinct.map(m => s"$f: $m")
    }.flatten.sorted
    assert(bad.isEmpty, s"\nuse graft.queries.Scratch instead:\n${bad.mkString("\n")}")
    // not vacuous: QueryableState is in scope, Scratch itself holds all
    // three, and a planted copy split over lines is caught
    assert(scoped.exists(_._1.endsWith("/QueryableState.scala")))
    assert(scratchDecision.findAllIn(read(root.resolve("graft/queries/Scratch.scala")))
      .map(_.takeWhile(_ != '.')).toSet == Set("MurmurHash3", "System", "AtomicPublish"))
    val planted = """val tag = java.lang.Long.toHexString(
      scala.util.hashing.MurmurHash3.stringHash(dir).toLong & 0xffffffffL)
    val base = new java.io.File(
      System.getProperty( "java.io.tmpdir"), s"graft_qfc_$tag")
    graft.sources.AtomicPublish
      .once(fix) { staging => () }"""
    assert(scratchDecision.findAllIn(planted).size == 3)
  }
}
