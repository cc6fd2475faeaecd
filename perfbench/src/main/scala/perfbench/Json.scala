package perfbench

/** Just enough JSON for the REST replies the benchmark reads: objects
  * become `Map[String, Any]`, arrays `Vector[Any]`, numbers `BigDecimal`.
  */
object Json {
  def parse(s: String): Any = {
    val p = new Parser(s)
    val v = p.value()
    p.ws()
    require(p.i == s.length, s"trailing text at ${p.i} in: ${s.take(120)}")
    v
  }

  private final class Parser(s: String) {
    var i = 0
    def ws(): Unit = while (i < s.length && s.charAt(i).isWhitespace) i += 1
    def value(): Any = {
      ws()
      s.charAt(i) match {
        case '{' =>
          i += 1; ws()
          val b = Map.newBuilder[String, Any]
          if (s.charAt(i) == '}') i += 1
          else {
            var more = true
            while (more) {
              ws(); val k = str(); ws(); expect(':'); b += k -> value(); ws()
              if (s.charAt(i) == ',') i += 1 else { expect('}'); more = false }
            }
          }
          b.result()
        case '[' =>
          i += 1; ws()
          val b = Vector.newBuilder[Any]
          if (s.charAt(i) == ']') i += 1
          else {
            var more = true
            while (more) {
              b += value(); ws()
              if (s.charAt(i) == ',') i += 1 else { expect(']'); more = false }
            }
          }
          b.result()
        case '"' => str()
        case 't' => lit("true", true)
        case 'f' => lit("false", false)
        case 'n' => lit("null", null)
        case _ =>
          val j = i
          while (i < s.length && "+-0123456789.eE".indexOf(s.charAt(i).toInt) >= 0) i += 1
          BigDecimal(s.substring(j, i))
      }
    }
    private def expect(c: Char): Unit = {
      require(s.charAt(i) == c, s"expected '$c' at $i in: ${s.take(120)}")
      i += 1
    }
    private def lit(word: String, v: Any): Any = {
      require(s.startsWith(word, i), s"bad literal at $i"); i += word.length; v
    }
    private def str(): String = {
      expect('"')
      val sb = new StringBuilder
      while (s.charAt(i) != '"') {
        if (s.charAt(i) == '\\') {
          s.charAt(i + 1) match {
            case 'n' => sb.append('\n'); i += 2
            case 't' => sb.append('\t'); i += 2
            case 'r' => sb.append('\r'); i += 2
            case 'b' => sb.append('\b'); i += 2
            case 'f' => sb.append('\f'); i += 2
            case 'u' =>
              sb.append(Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar); i += 6
            case c => sb.append(c); i += 2
          }
        } else { sb.append(s.charAt(i)); i += 1 }
      }
      i += 1
      sb.result()
    }
  }

  def quote(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")

  /** A number with all its digits (no rounding to a display precision). */
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
}
