package olapbench

/** A small JSON writer for the harness's result file. */
final class Json {
  private val sb = new StringBuilder("{")
  private var first = true

  private def key(k: String): Unit = {
    if (!first) sb.append(',')
    first = false
    if (k != null) sb.append(Json.quote(k)).append(':')
  }

  def str(k: String, v: String): Unit = { key(k); sb.append(Json.quote(v)) }
  def num(k: String, v: Double): Unit = { key(k); sb.append(Json.number(v)) }
  def bool(k: String, v: Boolean): Unit = { key(k); sb.append(v) }
  def obj(k: String)(f: Json => Unit): Unit = { key(k); sb.append(Json.of(f)) }
  def arr(k: String)(f: Json.Arr => Unit): Unit = {
    key(k)
    val a = new Json.Arr
    f(a)
    sb.append(a.items.mkString("[", ",", "]"))
  }
  def render: String = sb.toString + "}"
}

object Json {
  final class Arr {
    val items = scala.collection.mutable.ArrayBuffer.empty[String]
    def obj(f: Json => Unit): Unit = items += Json.of(f)
  }

  def of(f: Json => Unit): String = { val j = new Json; f(j); j.render }

  def number(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString

  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
