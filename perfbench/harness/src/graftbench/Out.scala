package graftbench

import org.apache.spark.sql.Row

/** The benchmark's clock: seconds since the harness started, with the
  * epoch offset needed to place Spark's millisecond event times on it. */
final class Clock {
  private val originNs = System.nanoTime()
  private val originEpochS = {
    val i = java.time.Instant.now()
    i.getEpochSecond + i.getNano / 1e9
  }
  def now: Double = (System.nanoTime() - originNs) / 1e9
  def epoch(t: Double): Double = originEpochS + t
  def fromEpochMs(ms: Long): Double = ms / 1e3 - originEpochS
}

/** Minimal JSON rendering for the harness's result file. */
object Out {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) str(d.toString) else d.toString

  /** A result cell, rendered the way the query server renders it. */
  def value(v: Any): String = v match {
    case null => "null"
    case b: Boolean => b.toString
    case n @ (_: Int | _: Long | _: Short | _: Byte) => n.toString
    case d: Double => num(d)
    case f: Float => if (f.isNaN || f.isInfinite) str(f.toString) else f.toString
    case d: java.math.BigDecimal => d.toPlainString
    case d: scala.math.BigDecimal => d.bigDecimal.toPlainString
    case r: Row => r.toSeq.map(value).mkString("[", ",", "]")
    case s: collection.Seq[_] => s.map(value).mkString("[", ",", "]")
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => str(String.valueOf(k)) + ":" + value(x) }.mkString("{", ",", "}")
    case b: Array[Byte] => str(java.util.Base64.getEncoder.encodeToString(b))
    case other => str(other.toString)
  }

  def rows(rs: Array[Row]): String = rs.map(value).mkString("[", ",", "]")

  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
