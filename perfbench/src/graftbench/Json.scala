package graftbench

import scala.collection.immutable.ListMap

/** Minimal JSON encoder for the benchmark's own records. Objects are
  * `Map`s; build them with [[obj]] to keep field order.
  */
object Json {
  def obj(fields: (String, Any)*): ListMap[String, Any] = ListMap(fields: _*)

  def enc(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => enc(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null"
      else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
      else java.lang.Double.toString(d)
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + enc(x) }.mkString("{", ",", "}")
    case a: Array[_] => enc(a.toSeq)
    case xs: Iterable[_] => xs.map(enc).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  private def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append("\\u%04x".format(c.toInt))
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
}
