package graft.perfbench

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.execution.QueryExecution

/** Order-insensitive digest of a query result, computed on the executors
  * as the query's action (every column of every row is consumed, so no
  * projection can be pruned away). `perfbench/oracle.py` computes the same
  * digest over the DuckDB oracle's rows; the canonical cell rendering is
  * specified there and must stay identical on both sides. */
object Digest {

  /** The digest, and the query execution that computed it. */
  def withPlan(df: DataFrame): (String, QueryExecution) = {
    val names = df.schema.fieldNames
    val order = names.indices.sortBy(i => names(i).toLowerCase).toArray
    val ds = df.mapPartitions { rows =>
      val md5 = MessageDigest.getInstance("MD5")
      var n = 0L
      var sum = 0L
      rows.foreach { r =>
        val line = order.map(i => cell(r.get(i))).mkString("\u0001")
        sum += java.nio.ByteBuffer.wrap(
          md5.digest(line.getBytes(StandardCharsets.UTF_8))).getLong
        n += 1
      }
      Iterator((n, sum))
    }(Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong))
    val parts = ds.collect()
    val cols = order.map(i => names(i).toLowerCase).mkString(",")
    (s"${parts.map(_._1).sum}/${java.lang.Long.toUnsignedString(parts.map(_._2).sum, 16)}/$cols",
      ds.queryExecution)
  }

  private def num(d: Double): String =
    if (d.isNaN) "nan"
    else if (d.isInfinite) { if (d > 0) "inf" else "-inf" }
    else if (d == math.floor(d) && math.abs(d) < 9.007199254740992e15) d.toLong.toString
    else "d" + java.lang.Long.toHexString(java.lang.Double.doubleToLongBits(d))

  private def micros(seconds: Long, nanos: Int): String =
    (seconds * 1000000L + nanos / 1000).toString

  def cell(v: Any): String = v match {
    case null => "\u0000"
    case b: Boolean => if (b) "true" else "false"
    case x: Byte => x.toString
    case x: Short => x.toString
    case x: Int => x.toString
    case x: Long => x.toString
    case x: Float => num(x.toDouble)
    case x: Double => num(x)
    case s: String => s
    case d: java.math.BigDecimal =>
      if (d.signum == 0 || d.stripTrailingZeros.scale <= 0) d.toBigInteger.toString
      else num(d.doubleValue)
    case d: java.sql.Date => d.toLocalDate.toString
    case d: java.time.LocalDate => d.toString
    case t: java.sql.Timestamp =>
      micros(Math.floorDiv(t.getTime, 1000L), t.getNanos)
    case t: java.time.Instant => micros(t.getEpochSecond, t.getNano)
    case t: java.time.LocalDateTime =>
      micros(t.toEpochSecond(java.time.ZoneOffset.UTC), t.getNano)
    case r: Row => r.toSeq.map(cell).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => (cell(k), cell(x)) }.sortBy(_._1)
        .map { case (k, x) => k + ":" + x }.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
    case a: Array[Byte] => a.map(b => f"${b & 0xff}%02x").mkString
    case other => other.toString
  }
}
