package perfbench

import java.math.{BigDecimal => JBigDecimal, BigInteger, RoundingMode}
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import java.time.{LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** Order-independent digest of a query result, computed the same way by
  * `oracle.py` over the DuckDB answer: columns in name order, each value
  * rendered canonically (fractions exact to 6 places, half-even), one
  * string per row, and the digest is the row count plus the sum mod 2^64
  * of the rows' SHA-256 prefixes.
  */
object Digest {
  final case class Result(cols: String, rows: Long, sum: String)

  private val Ts = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")

  private def dec(b: JBigDecimal): String = {
    val s = b.setScale(6, RoundingMode.HALF_EVEN).toPlainString
    if (s == "-0.000000") "0.000000" else s
  }

  def norm(v: Any): String = v match {
    case null => "NULL"
    case d: Double => if (d.isNaN || d.isInfinite) d.toString else dec(new JBigDecimal(d))
    case f: Float => norm(f.toDouble)
    case b: JBigDecimal => dec(b)
    case b: scala.math.BigDecimal => dec(b.bigDecimal)
    case t: java.sql.Timestamp => Ts.format(t.toInstant.atOffset(ZoneOffset.UTC))
    case t: java.time.Instant => Ts.format(t.atOffset(ZoneOffset.UTC))
    case t: LocalDateTime => Ts.format(t)
    case d: java.sql.Date => d.toLocalDate.toString
    case r: Row => r.toSeq.map(norm).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => norm(k) + ":" + norm(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(norm).mkString("[", ",", "]")
    case a: Array[Byte] => a.map(b => f"$b%02x").mkString
    case other => other.toString
  }

  def of(schema: StructType, rows: Array[Row]): Result = {
    val order = schema.fieldNames.zipWithIndex.sortBy(_._1)
    val md = MessageDigest.getInstance("SHA-256")
    var sum = 0L
    rows.foreach { r =>
      val line = order.map { case (_, i) => norm(r.get(i)) }.mkString("\u0001")
      sum += java.nio.ByteBuffer.wrap(md.digest(line.getBytes(UTF_8))).getLong
    }
    Result(order.map(_._1).mkString(","), rows.length.toLong,
      new BigInteger(java.lang.Long.toUnsignedString(sum)).toString)
  }
}
