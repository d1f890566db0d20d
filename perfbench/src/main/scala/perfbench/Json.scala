package perfbench

/** Minimal JSON values for the harness's output lines. Numbers render with
  * every digit they carry; non-finite numbers render as null. */
sealed trait Json {
  def render: String = Json.render(this)
}

object Json {
  final case class Obj(fields: Seq[(String, Json)]) extends Json {
    def ++(more: Seq[(String, Json)]): Obj = Obj(fields ++ more)
  }
  final case class Arr(items: Seq[Json]) extends Json
  final case class Num(v: Double) extends Json
  final case class Str(v: String) extends Json
  final case class Bool(v: Boolean) extends Json

  def obj(fields: (String, Json)*): Obj = Obj(fields)
  implicit def fromDouble(v: Double): Json = Num(v)
  implicit def fromLong(v: Long): Json = Num(v.toDouble)
  implicit def fromInt(v: Int): Json = Num(v.toDouble)
  implicit def fromString(v: String): Json = Str(v)
  implicit def fromBoolean(v: Boolean): Json = Bool(v)

  /** A metric as the result line carries it: value and unit. */
  def metric(value: Double, unit: String): Obj =
    obj("value" -> Num(value), "unit" -> Str(unit))

  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def render(j: Json): String = j match {
    case Obj(fs) => fs.map { case (k, v) => quote(k) + ":" + render(v) }
      .mkString("{", ",", "}")
    case Arr(xs) => xs.map(render).mkString("[", ",", "]")
    case Num(v) if v.isNaN || v.isInfinite => "null"
    case Num(v) if v == math.rint(v) && math.abs(v) < 1e15 => v.toLong.toString
    case Num(v) => v.toString
    case Str(s) => quote(s)
    case Bool(b) => b.toString
  }
}
