package graft.perfbench

import java.security.MessageDigest
import org.apache.spark.sql.Row

/** Order-independent digest of a query result, byte-compatible with the
  * Python side (`perfbench/oracle.py`), so a Spark result can be checked
  * against the digest of its DuckDB twin without shipping rows.
  *
  * Columns are taken in name order; each cell is tagged by type class
  * (`i:` integer, `f:` IEEE-754 bits of the double, `d:` plain decimal,
  * `s:` string, `t:` epoch micros, `D:` epoch day, `b:` boolean, `N` null,
  * arrays and structs recursively). Each row is hashed; the digest is the
  * sha256 of the sorted row hashes, prefixed by the sorted column names. */
object Canon {

  final case class Digest(rows: Long, hex: String)

  private def sha(s: String): String = {
    val md = MessageDigest.getInstance("SHA-256")
    md.digest(s.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString
  }

  def cell(v: Any): String = v match {
    case null => "N"
    case b: Boolean => "b:" + b
    case x: Byte => "i:" + x
    case x: Short => "i:" + x
    case x: Int => "i:" + x
    case x: Long => "i:" + x
    case x: Float => double(x.toDouble)
    case x: Double => double(x)
    case x: java.math.BigDecimal => "d:" + plain(x)
    case x: scala.math.BigDecimal => "d:" + plain(x.bigDecimal)
    case s: String => "s:" + s
    case t: java.sql.Timestamp =>
      "t:" + (Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000)
    case t: java.time.Instant =>
      "t:" + (t.getEpochSecond * 1000000L + t.getNano / 1000)
    case t: java.time.LocalDateTime =>
      cell(t.toInstant(java.time.ZoneOffset.UTC))
    case d: java.sql.Date => "D:" + d.toLocalDate.toEpochDay
    case d: java.time.LocalDate => "D:" + d.toEpochDay
    case a: Array[Byte] => "x:" + a.map(b => f"${b & 0xff}%02x").mkString
    case r: Row => r.toSeq.map(cell).mkString("r:(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => cell(k) + "=" + cell(x) }.sorted.mkString("m:{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(cell).mkString("a:[", ",", "]")
    case other => "?:" + other
  }

  private def double(x: Double): String =
    if (x.isNaN) "f:nan"
    else "f:" + f"${java.lang.Double.doubleToRawLongBits(x)}%016x"

  private def plain(x: java.math.BigDecimal): String =
    if (x.signum == 0) "0" else x.stripTrailingZeros.toPlainString

  def digest(columns: Seq[String], rows: Array[Row]): Digest = {
    val order = columns.zipWithIndex.sortBy(_._1).map(_._2)
    val hashes = rows.map(r => sha(order.map(i => cell(r.get(i))).mkString("\u001f"))).sorted
    Digest(rows.length,
      sha(order.map(columns).mkString("\u001f") + "\n" + hashes.mkString("\n")))
  }
}
