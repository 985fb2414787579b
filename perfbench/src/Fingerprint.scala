package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Row}

/** Order-insensitive fingerprint of a result: its row count and the
  * sum (mod 2^64) of a per-row SHA-256 prefix over a canonical cell
  * encoding. `perfbench/fingerprint.py` implements the same encoding
  * for the DuckDB oracle; keep the two in step.
  *
  * Columns are taken in name order. Cells: null `N`; boolean `b0`/`b1`;
  * any integer `i<decimal>`; float, double and decimal `f<16 hex digits
  * of the IEEE-754 double>` (with -0.0 as 0.0); string `s<text>`; date
  * `D<epoch day>`; timestamp `T<epoch micros>`; binary `x<hex>`; arrays
  * `[a,b]`; structs `{a,b}`. Cells are joined by U+001F.
  */
object Fingerprint {
  final case class Print(rows: Long, hash: String)

  def of(df: DataFrame, columns: Seq[String]): Print = {
    val cols = columns.sorted
    ofRows(df.select(cols.map(org.apache.spark.sql.functions.col): _*).collect().iterator)
  }

  /** Rows must already carry their columns in name order. */
  def ofRows(rows: Iterator[Row]): Print = {
    val md = MessageDigest.getInstance("SHA-256")
    var n = 0L
    var sum = 0L
    rows.foreach { r =>
      val d = md.digest((0 until r.length).map(i => cell(r.get(i))).mkString("\u001f").getBytes(UTF_8))
      sum += java.nio.ByteBuffer.wrap(d, 0, 8).getLong
      n += 1
    }
    Print(n, f"$sum%016x")
  }

  /** Reorders a collected result's cells into column-name order. */
  def sortedRows(rows: Seq[Row], columns: Seq[String]): Iterator[Row] = {
    val order = columns.zipWithIndex.sortBy(_._1).map(_._2)
    rows.iterator.map(r => Row.fromSeq(order.map(r.get)))
  }

  private def dbl(d: Double): String = {
    val v = if (d == 0.0) 0.0 else d
    f"f${java.lang.Double.doubleToLongBits(v)}%016x"
  }

  def cell(v: Any): String = v match {
    case null => "N"
    case b: Boolean => if (b) "b1" else "b0"
    case n: Byte => s"i$n"
    case n: Short => s"i$n"
    case n: Int => s"i$n"
    case n: Long => s"i$n"
    case f: Float => dbl(f.toDouble)
    case d: Double => dbl(d)
    case d: java.math.BigDecimal => dbl(d.doubleValue)
    case s: String => "s" + s
    case d: java.sql.Date => "D" + d.toLocalDate.toEpochDay
    case d: java.time.LocalDate => "D" + d.toEpochDay
    case t: java.sql.Timestamp => "T" + (Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000)
    case t: java.time.Instant => "T" + (t.getEpochSecond * 1000000L + t.getNano / 1000)
    case t: java.time.LocalDateTime =>
      "T" + (t.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + t.getNano / 1000)
    case b: Array[Byte] => "x" + b.map(x => f"$x%02x").mkString
    case r: Row => (0 until r.length).map(i => cell(r.get(i))).mkString("{", ",", "}")
    case xs: scala.collection.Seq[_] => xs.map(cell).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => cell(k) + ":" + cell(x) }.sorted.mkString("<", ",", ">")
    case other => throw new IllegalArgumentException(s"no canonical encoding for ${other.getClass}")
  }
}
