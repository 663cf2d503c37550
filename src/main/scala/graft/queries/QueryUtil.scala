package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

object QueryUtil {
  /** A driver-contract query: (session, sfDir) => result. */
  type Q = (SparkSession, String) => DataFrame

  /** Money column → exact integer cents. Summing exact longs is
    * order-independent, so Spark results hash-match any external SQL oracle
    * bit-for-bit — unlike double sums, whose value depends on partial-agg
    * order. Divide once at the end to present currency again. */
  def cents(c: Column): Column = round(c * 100).cast("long")

  /** Exact long-cents sum presented as currency (one exact double division). */
  def moneySum(c: Column): Column = (sum(cents(c)) / 100.0)

  /** SQL fragment mirroring [[cents]] for the DuckDB oracle. */
  def centsSql(col: String): String = s"CAST(round($col*100) AS BIGINT)"

  def moneySumSql(col: String): String = s"(CAST(sum(${centsSql(col)}) AS BIGINT)/100.0)"

  /** Oracle fragment: `text`'s whitespace tokens, as TextFunctions.tokens
    * splits them. */
  private[queries] val OTOKS = "list_filter(string_split_regex(text, '\\s+'), x -> x <> '')"

  /** Oracle fragment: FNV-1a 64 over the ASCII string column `in`, as an
    * unsigned HUGEINT in [0, 2^64). 64-bit wraparound is emulated with
    * HUGEINT mod-2^64 arithmetic; the XOR only ever touches the low byte, so
    * it runs on BIGINT and is re-added. Mirrors Hashes.fnv1a64 bit-for-bit
    * (verified: both produce 4258664394790625059 for 'hello world 42'). */
  private[queries] def oFnv(in: String): String =
    s"""list_reduce(list_prepend(14695981039346656037::HUGEINT,
       list_transform(range(1, length($in) + 1), i -> CAST(ascii($in[i]) AS HUGEINT))),
       (acc, b) -> (((acc - (acc % 256)) +
         CAST(xor(CAST(acc % 256 AS BIGINT), CAST(b AS BIGINT)) AS HUGEINT))
         * 1099511628211::HUGEINT) % 18446744073709551616::HUGEINT)"""

  /** Oracle fragment: reinterpret unsigned-64 HUGEINT `h` as signed BIGINT
    * (two's complement), matching a JVM Long. */
  private[queries] def oSigned(h: String): String =
    s"""CAST(CASE WHEN $h >= 9223372036854775808::HUGEINT
       THEN $h - 18446744073709551616::HUGEINT ELSE $h END AS BIGINT)"""
}
