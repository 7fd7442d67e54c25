package graftbench

import scala.collection.mutable

/** Minimal JSON writer for the raw-sample file. */
object Json {
  type Obj = mutable.LinkedHashMap[String, Any]
  def obj(): Obj = mutable.LinkedHashMap.empty[String, Any]

  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case s: String => quote(s)
    case m: mutable.LinkedHashMap[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case m: Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
