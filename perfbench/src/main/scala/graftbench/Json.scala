package graftbench

import scala.collection.mutable

/** Insertion-ordered JSON object the harness fills in as it runs. */
final class JObj {
  val fields: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap.empty
  def update(k: String, v: Any): Unit = fields(k) = v
}

/** Minimal JSON rendering for the harness's raw record. */
object Json {
  def obj(kv: (String, Any)*): JObj = { val o = new JObj; kv.foreach { case (k, v) => o(k) = v }; o }

  private def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"
    case '\t' => "\\t"; case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""

  def render(v: Any): String = v match {
    case o: JObj => o.fields.map { case (k, x) => str(k) + ":" + render(x) }.mkString("{", ",", "}")
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case x => sys.error(s"no JSON form for ${x.getClass.getName}")
  }
}
