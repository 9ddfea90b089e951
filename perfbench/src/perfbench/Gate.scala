package perfbench

import org.apache.spark.sql.{DataFrame, Row}

/** An order-insensitive fingerprint of a result: its row count, the
  * wrapping sum of a hash per row over every non-floating value, and the
  * plain and absolute sums of its floating values (compared with a
  * relative tolerance, since float sums may differ in the last bits when
  * partial aggregates merge in another order).
  */
final case class Fingerprint(rows: Long, hash: Long, fsum: Double, fabs: Double) {
  def matches(o: Fingerprint): Boolean =
    rows == o.rows && hash == o.hash &&
      math.abs(fsum - o.fsum) <= 1e-6 * math.max(1.0, math.max(fabs, o.fabs))

  def toJson: String =
    s"""{"rows":$rows,"hash":$hash,"fsum":${Json.num(fsum)},"fabs":${Json.num(fabs)}}"""
}

object Gate {
  def fingerprint(df: DataFrame): Fingerprint = {
    var hash = 0L
    var fsum = 0.0
    var fabs = 0.0
    var n = 0L
    def canon(v: Any, sb: java.lang.StringBuilder): Unit = v match {
      case null => sb.append('~')
      case d: Double => addFloat(d, sb)
      case f: Float => addFloat(f.toDouble, sb)
      case r: Row => sb.append('('); r.toSeq.foreach { x => canon(x, sb); sb.append(',') }; sb.append(')')
      case m: scala.collection.Map[_, _] =>
        val parts = m.toSeq.map { case (k, x) =>
          val b = new java.lang.StringBuilder; canon(k, b); b.append("->"); canon(x, b); b.toString
        }
        sb.append('{'); parts.sorted.foreach(p => sb.append(p).append(',')); sb.append('}')
      case s: scala.collection.Seq[_] => sb.append('['); s.foreach { x => canon(x, sb); sb.append(',') }; sb.append(']')
      case a: Array[Byte] => a.foreach(b => sb.append(f"$b%02x"))
      case b: java.math.BigDecimal => sb.append(b.stripTrailingZeros.toPlainString)
      case x => sb.append(x.toString)
    }
    def addFloat(d: Double, sb: java.lang.StringBuilder): Unit =
      if (d.isNaN || d.isInfinite) sb.append(d.toString)
      else { fsum += d; fabs += math.abs(d); sb.append('d') }
    df.collect().foreach { r =>
      val sb = new java.lang.StringBuilder
      canon(r, sb)
      hash += scala.util.hashing.MurmurHash3.stringHash(sb.toString).toLong
      n += 1
    }
    Fingerprint(n, hash, fsum, fabs)
  }

  /** `{"name": {"rows":..,"hash":..,"fsum":..,"fabs":..}, ...}` */
  def parseTable(json: String): Map[String, Fingerprint] = {
    val entry = """"([^"]+)"\s*:\s*\{"rows":(-?\d+),"hash":(-?\d+),"fsum":([^,]+),"fabs":([^}]+)\}""".r
    entry.findAllMatchIn(json).map { m =>
      m.group(1) -> Fingerprint(m.group(2).toLong, m.group(3).toLong,
        m.group(4).toDouble, m.group(5).toDouble)
    }.toMap
  }
}
