package graft

/** Minimal strict JSON parser — objects (`Map[String, Any]`), arrays
  * (`List[Any]`), strings with escapes, numbers (`Long` when
  * integral, `Double` otherwise), `true`/`false`/`null`. For the
  * machine-generated metadata this library itself writes or consumes
  * (Avro writer schemas, TxTable manifests): a real recursive-descent
  * walk, so nesting, whitespace, and field order never break it the
  * way extraction regexes can. Malformed input throws
  * [[Json.JsonException]] with the offset.
  */
object Json {

  final class JsonException(msg: String) extends RuntimeException(msg)

  private def bad(msg: String): Nothing = throw new JsonException(msg)

  def parse(s: String): Any = {
    val p = new P(s)
    val v = p.value()
    p.ws()
    if (p.i != s.length) bad(s"trailing JSON at ${p.i}")
    v
  }

  /** `s` as a JSON string literal: quote and backslash escaped, every
    * control char (< 0x20) as `\u00XX`. The one encoder of the JSON
    * this library writes (TxTable manifests, column-mapping sidecars,
    * Verify's and Bench's outputs); manifest bodies depend on it
    * staying byte-for-byte the same. */
  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** `parse` + top-level object cast, the common shape. */
  def parseObject(s: String): Map[String, Any] = parse(s) match {
    case o: Map[_, _] => o.asInstanceOf[Map[String, Any]]
    case other => bad(s"expected a JSON object, got ${other.getClass}")
  }

  private final class P(s: String) {
    var i = 0
    def ws(): Unit = while (i < s.length && s.charAt(i).isWhitespace) i += 1
    private def ch(): Char = {
      if (i >= s.length) bad("unexpected end of JSON")
      s.charAt(i)
    }
    def value(): Any = {
      ws()
      ch() match {
        case '{' => obj()
        case '[' => arr()
        case '"' => str()
        case 't' => lit("true", true)
        case 'f' => lit("false", false)
        case 'n' => lit("null", null)
        case _ => num()
      }
    }
    private def lit(word: String, v: Any): Any = {
      if (!s.startsWith(word, i)) bad(s"bad JSON literal at $i")
      i += word.length; v
    }
    private def obj(): Map[String, Any] = {
      i += 1; ws()
      val b = Map.newBuilder[String, Any]
      if (ch() == '}') { i += 1; return b.result() }
      var done = false
      while (!done) {
        ws()
        val k = str(); ws()
        if (ch() != ':') bad(s"expected ':' at $i")
        i += 1
        b += (k -> value()); ws()
        ch() match {
          case ',' => i += 1
          case '}' => i += 1; done = true
          case c => bad(s"expected ',' or '}' at $i, got '$c'")
        }
      }
      b.result()
    }
    private def arr(): List[Any] = {
      i += 1; ws()
      val b = List.newBuilder[Any]
      if (ch() == ']') { i += 1; return b.result() }
      var done = false
      while (!done) {
        b += value(); ws()
        ch() match {
          case ',' => i += 1
          case ']' => i += 1; done = true
          case c => bad(s"expected ',' or ']' at $i, got '$c'")
        }
      }
      b.result()
    }
    private def str(): String = {
      if (ch() != '"') bad(s"expected string at $i")
      i += 1
      val sb = new StringBuilder
      while (ch() != '"') {
        val c = s.charAt(i)
        if (c == '\\') {
          i += 1
          ch() match {
            case '"' => sb += '"'; case '\\' => sb += '\\'
            case '/' => sb += '/'; case 'b' => sb += '\b'
            case 'f' => sb += '\f'; case 'n' => sb += '\n'
            case 'r' => sb += '\r'; case 't' => sb += '\t'
            case 'u' =>
              if (i + 4 >= s.length) bad("truncated \\u escape")
              sb += Integer.parseInt(s.substring(i + 1, i + 5), 16).toChar
              i += 4
            case c2 => bad(s"bad escape '\\$c2'")
          }
          i += 1
        } else { sb += c; i += 1 }
      }
      i += 1
      sb.toString
    }
    private def num(): Any = {
      val start = i
      while (i < s.length && "+-0123456789.eE".indexOf(s.charAt(i)) >= 0)
        i += 1
      if (i == start) bad(s"bad JSON value at $i")
      val t = s.substring(start, i)
      if (t.exists(c => c == '.' || c == 'e' || c == 'E')) t.toDouble
      else t.toLong
    }
  }
}
