package perfbench

import java.io.{ByteArrayOutputStream, DataOutputStream}
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Row}

/** Canonical hash of a query result, in row order, with columns sorted by
  * name (the order the oracle check compares in). Doubles hash by their
  * IEEE bits, dates as epoch days, timestamps as epoch microseconds, so
  * the same values hash the same whichever engine wrote them. */
object ResultHash {
  final case class Digest(rows: Long, hash: String)

  def of(df: DataFrame): Digest = {
    val cols = df.columns.sorted
    val rows = df.select(cols.map(df.col).toIndexedSeq: _*).collect()
    val md = MessageDigest.getInstance("SHA-256")
    val buf = new ByteArrayOutputStream()
    val out = new DataOutputStream(buf)
    rows.foreach { r =>
      buf.reset()
      value(out, r)
      out.flush()
      md.update(buf.toByteArray)
    }
    Digest(rows.length.toLong, md.digest().take(12).map("%02x".format(_)).mkString)
  }

  private def value(out: DataOutputStream, v: Any): Unit = v match {
    case null => out.writeByte('N')
    case b: Boolean => out.writeByte('B'); out.writeBoolean(b)
    case n: Byte => long(out, n.toLong)
    case n: Short => long(out, n.toLong)
    case n: Int => long(out, n.toLong)
    case n: Long => long(out, n)
    case d: Float => double(out, d.toDouble)
    case d: Double => double(out, d)
    case s: String => out.writeByte('S'); out.writeUTF(s)
    case d: java.sql.Date => out.writeByte('D'); out.writeLong(d.toLocalDate.toEpochDay)
    case d: java.time.LocalDate => out.writeByte('D'); out.writeLong(d.toEpochDay)
    case t: java.sql.Timestamp => micros(out, t.toInstant)
    case t: java.time.Instant => micros(out, t)
    case t: java.time.LocalDateTime => micros(out, t.toInstant(java.time.ZoneOffset.UTC))
    case d: java.math.BigDecimal => out.writeByte('M'); out.writeUTF(d.stripTrailingZeros.toPlainString)
    case d: BigDecimal => value(out, d.bigDecimal)
    case b: Array[Byte] => out.writeByte('Y'); out.writeInt(b.length); out.write(b)
    case r: Row =>
      out.writeByte('R'); out.writeInt(r.length)
      (0 until r.length).foreach(i => value(out, r.get(i)))
    case m: scala.collection.Map[_, _] =>
      out.writeByte('P'); out.writeInt(m.size)
      m.toSeq.map { case (k, x) => (String.valueOf(k), k, x) }.sortBy(_._1)
        .foreach { case (_, k, x) => value(out, k); value(out, x) }
    case xs: scala.collection.Seq[_] =>
      out.writeByte('A'); out.writeInt(xs.length); xs.foreach(value(out, _))
    case other => out.writeByte('O'); out.writeUTF(other.toString)
  }

  private def long(out: DataOutputStream, n: Long): Unit = {
    out.writeByte('L'); out.writeLong(n)
  }

  private def double(out: DataOutputStream, d: Double): Unit = {
    out.writeByte('F')
    // one NaN and one zero: engines differ in NaN payloads and -0.0
    out.writeLong(java.lang.Double.doubleToLongBits(if (d == 0.0) 0.0 else d))
  }

  private def micros(out: DataOutputStream, t: java.time.Instant): Unit = {
    out.writeByte('T')
    out.writeLong(t.getEpochSecond * 1000000L + t.getNano / 1000)
  }
}
