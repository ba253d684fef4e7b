package perfbench

/** Minimal JSON values for the benchmark's result file. */
object Json {
  sealed trait Value { def render: String }
  case object Null extends Value { def render = "null" }
  final case class Bool(b: Boolean) extends Value { def render = b.toString }
  final case class Num(d: Double) extends Value {
    def render: String =
      if (d.isNaN || d.isInfinite) "null"
      else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
      else d.toString
  }
  final case class Str(s: String) extends Value {
    def render: String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  }
  final case class Arr(items: Value*) extends Value {
    def render: String = items.map(_.render).mkString("[", ",", "]")
  }
  final case class Obj(fields: (String, Value)*) extends Value {
    def +(kv: (String, Value)): Obj = Obj(fields :+ kv: _*)
    def render: String =
      fields.map { case (k, v) => Str(k).render + ":" + v.render }.mkString("{", ",", "}")
  }
}
