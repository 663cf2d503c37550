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
  * One source lint rides along: `src/main` builds SparkSessions only in
  * GraftSession.scala, so every main shares one set of session settings.
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

  test("src/main builds a SparkSession only in GraftSession.scala") {
    val root = java.nio.file.Paths.get("src/main/scala")
    require(java.nio.file.Files.isDirectory(root), s"run from the repository root: no $root")
    val files = java.nio.file.Files.walk(root)
    val bad = try files.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
      .filter { f =>
        val src = new String(java.nio.file.Files.readAllBytes(f),
          java.nio.charset.StandardCharsets.UTF_8)
        f.getFileName.toString != "GraftSession.scala" &&
          sessionBuilder.findFirstIn(src).isDefined
      }.map(root.relativize(_).toString).sorted
    finally files.close()
    assert(bad.isEmpty, s"\nSparkSession.builder outside GraftSession.scala:\n${bad.mkString("\n")}")
    // not vacuous: the one builder matches, and so does a split call
    val one = new String(java.nio.file.Files.readAllBytes(
      root.resolve("graft/GraftSession.scala")), java.nio.charset.StandardCharsets.UTF_8)
    assert(sessionBuilder.findFirstIn(one).isDefined)
    assert(sessionBuilder.findFirstIn("SparkSession\n      .builder()").isDefined)
  }
}
