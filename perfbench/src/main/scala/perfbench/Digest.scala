package perfbench

import java.math.{BigDecimal => JBigDecimal, RoundingMode}
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Row}

/** Order-independent digest of a query result: its row count and the
  * sum (mod 2^64) of one 64-bit hash per row.
  *
  * Each row is canonicalized with its columns in name order, as
  * `scripts/check.py` compares them; numbers are rounded to 9 decimal
  * places from their exact binary value (half-even), so an integer and
  * a float of the same value agree and the last-ulp noise of a float
  * aggregate does not. `crosscheck.py` computes the same digest from
  * DuckDB results.
  */
object Digest {

  def canon(v: Any): String = v match {
    case null => "N"
    case b: Boolean => if (b) "T" else "F"
    case x: Byte => num(new JBigDecimal(x.toInt))
    case x: Short => num(new JBigDecimal(x.toInt))
    case x: Int => num(new JBigDecimal(x))
    case x: Long => num(new JBigDecimal(x))
    case x: Float => dbl(x.toDouble)
    case x: Double => dbl(x)
    case x: JBigDecimal => num(x)
    case x: scala.math.BigDecimal => num(x.bigDecimal)
    case s: String => s"S${s.length}:$s"
    case d: java.sql.Date => s"D${d.toLocalDate}"
    case d: java.time.LocalDate => s"D$d"
    case t: java.sql.Timestamp => s"U${micros(t.toInstant)}"
    case t: java.time.Instant => s"U${micros(t)}"
    case t: java.time.LocalDateTime =>
      s"U${micros(t.toInstant(java.time.ZoneOffset.UTC))}"
    case b: Array[Byte] => "B" + b.map(x => f"${x & 0xff}%02x").mkString
    case r: Row => r.toSeq.map(canon).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "=" + canon(x) }.sorted
        .mkString("M{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case other => s"?$other"
  }

  private def micros(i: java.time.Instant): Long =
    i.getEpochSecond * 1000000L + i.getNano / 1000L

  private def dbl(d: Double): String =
    if (d.isNaN) "NaN"
    else if (d.isInfinite) (if (d > 0) "Inf" else "-Inf")
    else num(new JBigDecimal(d))

  private def num(x: JBigDecimal): String = {
    val r = x.setScale(9, RoundingMode.HALF_EVEN).stripTrailingZeros
    if (r.signum == 0) "0" else r.toPlainString
  }

  def rowHash(canonical: String): Long = {
    val h = MessageDigest.getInstance("MD5")
      .digest(canonical.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.nio.ByteBuffer.wrap(h, 0, 8).getLong
  }

  /** `rows:hash` of a collected result with the given column names. */
  def of(columns: Seq[String], rows: Iterable[Row]): String = {
    val order = columns.zipWithIndex.sortBy(_._1).map(_._2)
    var sum = 0L
    var n = 0L
    rows.foreach { r =>
      sum += rowHash(order.map(i => canon(r.get(i))).mkString("|"))
      n += 1
    }
    f"$n:$sum%016x"
  }

  def of(df: DataFrame): String = of(df.columns.toSeq, df.collect().toSeq)
}
