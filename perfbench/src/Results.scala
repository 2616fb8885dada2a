package perfbench

import scala.collection.mutable

/** What one JVM run hands back to `run.py`: raw samples, scalar values and
  * string facts, written as one JSON document. All derived statistics
  * (medians, tail percentiles, spreads) are computed on the Python side so
  * the arithmetic lives in one tested place. */
final class Results {
  private val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private val values = mutable.LinkedHashMap.empty[String, Double]
  private val facts = mutable.LinkedHashMap.empty[String, String]

  def add(name: String, v: Double): Unit = synchronized {
    samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v
  }
  def addAll(name: String, vs: Iterable[Double]): Unit = synchronized {
    samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) ++= vs
  }
  def first(name: String): Option[Double] = synchronized(samples.get(name).flatMap(_.headOption))
  def set(name: String, v: Double): Unit = synchronized { values(name) = v }
  def fact(name: String, v: String): Unit = synchronized { facts(name) = v }

  def toJson: String = synchronized {
    def num(d: Double): String =
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    val s = samples.map { case (k, vs) => Json.str(k) + ":" + vs.map(num).mkString("[", ",", "]") }
    val v = values.map { case (k, d) => Json.str(k) + ":" + num(d) }
    val f = facts.map { case (k, x) => Json.str(k) + ":" + Json.str(x) }
    s"""{"samples":{${s.mkString(",")}},"values":{${v.mkString(",")}},"facts":{${f.mkString(",")}}}"""
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
