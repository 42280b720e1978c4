package perfbench

import java.security.MessageDigest

import org.apache.spark.sql.Row

/** Engine-neutral result fingerprint, computed the same way here and in
  * `perfbench/oracle.py` over DuckDB's result, so a Spark result can be
  * checked against a recorded oracle hash without re-running DuckDB.
  *
  *   - columns in name order; the sorted names are part of the hash;
  *   - every number (integer, decimal, float, double) as the bits of the
  *     nearest double, with -0.0 folded into 0.0 and one NaN;
  *   - timestamps as UTC epoch micros, dates as epoch days;
  *   - each row hashed alone and the sorted row digests hashed together,
  *     so row order does not matter.
  */
object CanonHash {

  private def num(d: Double): String = {
    val x = if (d == 0.0) 0.0 else d
    val bits =
      if (java.lang.Double.isNaN(x)) 0x7ff8000000000000L
      else java.lang.Double.doubleToLongBits(x)
    "D" + f"$bits%016x"
  }

  def token(v: Any): String = v match {
    case null => "N"
    case b: Boolean => if (b) "B1" else "B0"
    case x: Byte => num(x.toDouble)
    case x: Short => num(x.toDouble)
    case x: Int => num(x.toDouble)
    case x: Long => num(x.toDouble)
    case x: Float => num(x.toDouble)
    case x: Double => num(x)
    case x: java.math.BigDecimal => num(x.doubleValue)
    case x: scala.math.BigDecimal => num(x.toDouble)
    case s: String => s"S${s.getBytes("UTF-8").length}:$s"
    case t: java.sql.Timestamp =>
      "T" + (Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000)
    case t: java.time.Instant =>
      "T" + (t.getEpochSecond * 1000000L + t.getNano / 1000)
    case t: java.time.LocalDateTime =>
      token(t.toInstant(java.time.ZoneOffset.UTC))
    case d: java.sql.Date => "E" + d.toLocalDate.toEpochDay
    case d: java.time.LocalDate => "E" + d.toEpochDay
    case b: Array[Byte] => "X" + b.map(x => f"$x%02x").mkString
    case r: Row => r.toSeq.map(token).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => token(k) + ":" + token(x) }.sorted
        .mkString("M{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(token).mkString("[", ",", "]")
    case other => throw new IllegalArgumentException(
      s"no canonical form for ${other.getClass.getName}")
  }

  private def sha(s: String): String =
    MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString

  /** (row count, hash) of a collected result with column names `cols`. */
  def apply(cols: Seq[String], rows: Array[Row]): (Long, String) = {
    val order = cols.indices.sortBy(cols)
    val digests = rows.map(r => sha(order.map(i => token(r.get(i)))
      .mkString("|"))).sorted
    (rows.length.toLong,
      sha(order.map(cols).mkString(",") + "\n" + digests.mkString("\n")))
  }
}
