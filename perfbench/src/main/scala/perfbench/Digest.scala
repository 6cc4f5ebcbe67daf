package perfbench

import org.apache.spark.sql.{DataFrame, Row}

import scala.util.hashing.MurmurHash3

/** Order-insensitive digest of a query's output: the row count and a
  * wrapping sum of per-row 64-bit hashes over a canonical rendering of each
  * row, seeded with the column names and types. Doubles render with 9
  * significant digits and floats with 6, so the last-bit differences of a
  * changed summation order do not change the digest.
  */
object Digest {

  def of(df: DataFrame): (Long, String) = {
    val schema = df.schema.fields.map(f => s"${f.name}:${f.dataType.simpleString}").mkString(",")
    val (n, sum) = df.rdd.mapPartitions { rows =>
      var n = 0L
      var h = 0L
      rows.foreach { r => n += 1; h += hash64(canon(r)) }
      Iterator.single((n, h))
    }.fold((0L, 0L)) { case ((n1, h1), (n2, h2)) => (n1 + n2, h1 + h2) }
    (n, f"${hash64(schema)}%016x${sum}%016x")
  }

  private def hash64(s: String): Long =
    (MurmurHash3.stringHash(s, 0x5eed).toLong << 32) | (MurmurHash3.stringHash(s, 0x0b5e) & 0xffffffffL)

  private def canon(v: Any): String = v match {
    case null => "~"
    case d: Double => real(d, 9)
    case f: Float => real(f.toDouble, 6)
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case t: java.sql.Timestamp => s"ts${t.getTime / 1000}.${t.getNanos}"
    case d: java.sql.Date => s"d${d.toLocalDate}"
    case i: java.time.Instant => s"ts${i.getEpochSecond}.${i.getNano}"
    case bytes: Array[Byte] => bytes.map("%02x".format(_)).mkString("b", "", "")
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "=" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case other => other.toString
  }

  private def real(d: Double, digits: Int): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else new java.math.BigDecimal(d).round(new java.math.MathContext(digits))
      .stripTrailingZeros.toPlainString
}
