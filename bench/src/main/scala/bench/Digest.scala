package bench

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** Order- and type-insensitive digest of a collected result, so a Spark
  * result and its DuckDB oracle twin (read back from parquet) compare equal
  * when they hold the same values.
  *
  * The canonical form follows `scripts/check_oracle.py`: columns sorted by
  * name, rows sorted, floats rounded to 9 decimals with -0 folded into 0.
  * All numbers (integral, floating, decimal) share one rendering, because
  * the two engines do not always agree on a column's numeric type (a DuckDB
  * `SUM` of integers is a HUGEINT, Spark's is a BIGINT). Timestamps render
  * as epoch microseconds, dates as epoch days.
  */
object Digest {

  def of(schema: StructType, rows: Array[Row]): String = {
    val order = schema.fieldNames.zipWithIndex.sortBy(_._1)
    val lines = rows.map(r => order.map { case (_, i) => canon(r.get(i)) }
      .mkString("\u0001")).sorted
    val md = MessageDigest.getInstance("SHA-256")
    md.update(order.map(_._1).mkString(",").getBytes(StandardCharsets.UTF_8))
    lines.foreach { l =>
      md.update('\n'.toByte)
      md.update(l.getBytes(StandardCharsets.UTF_8))
    }
    md.digest().map(b => f"${b & 0xff}%02x").mkString.take(16) +
      s"/${rows.length}"
  }

  private def num(x: java.math.BigDecimal): String = {
    val r = x.setScale(9, java.math.RoundingMode.HALF_EVEN)
    if (r.signum == 0) "0" else r.stripTrailingZeros.toPlainString
  }

  private def dbl(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else num(new java.math.BigDecimal(java.lang.Double.toString(d)))

  def canon(v: Any): String = v match {
    case null => "∅"
    case d: Double => dbl(d)
    case f: Float => dbl(f.toDouble)
    case b: java.math.BigDecimal => num(b)
    case n @ (_: Int | _: Long | _: Short | _: Byte) => n.toString
    case s: String => s
    case b: Boolean => b.toString
    case t: java.sql.Timestamp => canon(t.toInstant)
    case t: java.time.Instant =>
      (t.getEpochSecond * 1000000 + t.getNano / 1000).toString
    case t: java.time.LocalDateTime =>
      canon(t.toInstant(java.time.ZoneOffset.UTC))
    case d: java.sql.Date => d.toLocalDate.toEpochDay.toString
    case d: java.time.LocalDate => d.toEpochDay.toString
    case a: Array[Byte] => a.map(b => f"${b & 0xff}%02x").mkString
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + ":" + canon(x) }.sorted
        .mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case other => other.toString
  }
}
