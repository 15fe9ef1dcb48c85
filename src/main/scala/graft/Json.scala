package graft

/** The harness mains' JSON writer: strings, objects and arrays over
  * values that are already rendered (a number's `toString`, or the
  * output of [[str]], [[obj]] or [[arr]]). Fields keep the order given.
  */
object Json {

  /** A JSON string literal. Quote, backslash and every control character
    * below 0x20 are escaped: a tab or CR in builder-authored SQL must not
    * make a reader's `json.load` fail.
    */
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def obj(fields: Iterable[(String, String)]): String =
    fields.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")

  def arr(values: Iterable[String]): String = values.mkString("[", ",", "]")
}
