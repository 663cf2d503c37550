package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.Row

/** Order-insensitive fingerprint of a collected result, byte-compatible
  * with `check.py`: one token per column (columns in name order), MD5 of the
  * row's tokens joined by '|', first 8 bytes summed modulo 2^64. Numbers
  * compare by value (an integral double equals the same long); other
  * doubles by their IEEE-754 bits. */
object Canon {
  private def bytes(s: String): Array[Byte] = s.getBytes(UTF_8)

  private def double(v: Double): String =
    if (v.isNaN) "nan"
    else if (v.isInfinite) { if (v > 0) "inf" else "-inf" }
    else if (v == math.floor(v) && math.abs(v) < 9.2e18) "i" + v.toLong
    else "d%016x".format(java.lang.Double.doubleToLongBits(v))

  private def micros(i: java.time.Instant): Long =
    Math.addExact(Math.multiplyExact(i.getEpochSecond, 1000000L), i.getNano / 1000L)

  def token(v: Any, out: java.io.ByteArrayOutputStream): Unit = {
    def str(s: String): Unit = out.write(bytes(s))
    v match {
      case null => str("N")
      case b: Boolean => str(if (b) "b1" else "b0")
      case x: Byte => str("i" + x)
      case x: Short => str("i" + x)
      case x: Int => str("i" + x)
      case x: Long => str("i" + x)
      case x: Float => str(double(x.toDouble))
      case x: Double => str(double(x))
      case x: java.math.BigDecimal =>
        val s = x.stripTrailingZeros
        str(if (s.scale <= 0) "i" + s.toBigIntegerExact else double(x.doubleValue))
      case x: scala.math.BigDecimal => token(x.bigDecimal, out)
      case x: java.math.BigInteger => str("i" + x)
      case s: String =>
        val b = bytes(s); str(s"s${b.length}:"); out.write(b)
      case b: Array[Byte] => str("x" + b.map("%02x".format(_)).mkString)
      case t: java.sql.Timestamp => str("t" + micros(t.toInstant))
      case t: java.time.Instant => str("t" + micros(t))
      case t: java.time.LocalDateTime =>
        str("t" + micros(t.toInstant(java.time.ZoneOffset.UTC)))
      case d: java.sql.Date => str("D" + d.toLocalDate.toEpochDay)
      case d: java.time.LocalDate => str("D" + d.toEpochDay)
      case s: scala.collection.Seq[_] =>
        str(s"a${s.length}[")
        s.iterator.zipWithIndex.foreach { case (x, i) =>
          if (i > 0) str(","); token(x, out) }
        str("]")
      case r: Row =>
        str(s"r${r.length}(")
        (0 until r.length).foreach { i => if (i > 0) str(","); token(r.get(i), out) }
        str(")")
      case other =>
        throw new IllegalArgumentException(
          s"no canonical form for ${other.getClass.getName}: $other")
    }
  }

  def rowHash(r: Row, order: Array[Int], md: MessageDigest): Long = {
    val out = new java.io.ByteArrayOutputStream(128)
    order.iterator.zipWithIndex.foreach { case (c, i) =>
      if (i > 0) out.write('|'); token(r.get(c), out) }
    val d = md.digest(out.toByteArray)
    java.nio.ByteBuffer.wrap(d, 0, 8).getLong
  }

  /** `cols|count|sum` over `rows` whose columns are named `columns`. */
  def fingerprint(columns: Seq[String], rows: Array[Row]): String = {
    val order = columns.indices.sortBy(columns(_)).toArray
    val md = MessageDigest.getInstance("MD5")
    var sum = 0L
    rows.foreach(r => sum += rowHash(r, order, md))
    s"${order.map(columns(_)).mkString(",")}|${rows.length}|${"%016x".format(sum)}"
  }

  /** A copy of `rows` with one value changed (or a row dropped when no
    * value can be changed): the deliberate error the check must catch. */
  def perturb(rows: Array[Row]): Array[Row] = {
    if (rows.isEmpty) return rows
    val cells = rows(0).toSeq.toArray
    val i = cells.indexWhere {
      case _: Long | _: Int | _: Double | _: String => true
      case _ => false
    }
    if (i < 0) return rows.drop(1)
    cells(i) = cells(i) match {
      case x: Long => x + 1
      case x: Int => x + 1
      case x: Double => x + 1.0
      case x: String => x + "~"
    }
    Row.fromSeq(cells.toSeq) +: rows.drop(1)
  }
}
