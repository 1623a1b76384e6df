package graftbench

import java.security.MessageDigest

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** Canonical, order-insensitive digest of a query result.
  *
  * Mirrors `canon` in the oracle crosscheck: columns are taken in name
  * order, floating-point values are rounded to 6 decimals (half-even, as
  * numpy rounds), timestamps are rendered to the microsecond, and rows are
  * sorted before hashing. Row order and partition count therefore never
  * change the digest; a changed value, column name or row count does.
  */
object Digest {
  final case class Result(sha256: String, rows: Long)

  def of(schema: StructType, rows: Seq[Row]): Result = {
    val order = schema.fieldNames.zipWithIndex.sortBy(_._1)
    val lines = rows.map { r =>
      order.map { case (_, i) => value(r.get(i)) }.mkString("\u0001")
    }.sorted
    val md = MessageDigest.getInstance("SHA-256")
    md.update(order.map(_._1).mkString("\u0001").getBytes("UTF-8"))
    lines.foreach { l => md.update('\n'.toByte); md.update(l.getBytes("UTF-8")) }
    Result(md.digest().map("%02x".format(_)).mkString, rows.length.toLong)
  }

  /** Floats rounded like `DataFrame.round(6)`; -0 and 0 are one value. */
  def roundFloat(d: Double): String =
    if (d.isNaN) "nan"
    else if (d.isInfinite) (if (d > 0) "inf" else "-inf")
    else {
      val r = BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_EVEN)
      if (r.signum == 0) "0" else r.bigDecimal.stripTrailingZeros.toPlainString
    }

  private def value(v: Any): String = v match {
    case null => "∅"
    case d: Double => roundFloat(d)
    case f: Float => roundFloat(f.toDouble)
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case t: java.sql.Timestamp => t.toInstant.toString
    case t: java.time.Instant => t.toString
    case t: java.time.LocalDateTime => t.toString
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case r: Row => r.toSeq.map(value).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => value(k) + "=" + value(x) }.sorted
        .mkString("{", ",", "}")
    case xs: scala.collection.Seq[_] => xs.map(value).mkString("[", ",", "]")
    case other => other.toString
  }
}
