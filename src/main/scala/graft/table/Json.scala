package graft.table

/** Minimal JSON for the machine-written files: snapshot manifests
  * ([[SnapshotTable]]) and the golden `.jsonl` corpora (FixtureCheck).
  * The grammar is what those writers emit: objects, arrays, strings,
  * numbers, true/false/null.
  */
object Json {
  def parse(s: String): Any = new P(s).value()

  /** `v` as a JSON string literal: quote, backslash, \n \r \t and the other
    * control chars below U+0020 are escaped, everything else is kept as is
    * — a quote or control char in a path or url must not break the file.
    */
  def quote(v: String): String = {
    val sb = new java.lang.StringBuilder(v.length + 8)
    sb.append('"')
    v.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"')
    sb.toString
  }

  private final class P(s: String) {
    private var i = 0
    private def ws(): Unit = while (i < s.length && s.charAt(i).isWhitespace) i += 1
    def value(): Any = {
      ws()
      s.charAt(i) match {
        case '{' => obj()
        case '[' => arr()
        case '"' => str()
        case 't' => i += 4; true
        case 'f' => i += 5; false
        case 'n' => i += 4; null
        case _ => num()
      }
    }
    private def obj(): Map[String, Any] = {
      i += 1
      val m = scala.collection.mutable.LinkedHashMap.empty[String, Any]
      ws()
      if (s.charAt(i) == '}') { i += 1; return m.toMap }
      while (true) {
        ws()
        val k = str()
        ws(); require(s.charAt(i) == ':'); i += 1
        m(k) = value()
        ws()
        if (s.charAt(i) == ',') i += 1
        else { require(s.charAt(i) == '}'); i += 1; return m.toMap }
      }
      m.toMap
    }
    private def arr(): Vector[Any] = {
      i += 1
      val b = Vector.newBuilder[Any]
      ws()
      if (s.charAt(i) == ']') { i += 1; return b.result() }
      while (true) {
        b += value()
        ws()
        if (s.charAt(i) == ',') i += 1
        else { require(s.charAt(i) == ']'); i += 1; return b.result() }
      }
      b.result()
    }
    private def str(): String = {
      require(s.charAt(i) == '"'); i += 1
      val sb = new java.lang.StringBuilder
      while (s.charAt(i) != '"') {
        val c = s.charAt(i)
        if (c == '\\') {
          i += 1
          s.charAt(i) match {
            case '"' => sb.append('"')
            case '\\' => sb.append('\\')
            case '/' => sb.append('/')
            case 'n' => sb.append('\n')
            case 'r' => sb.append('\r')
            case 't' => sb.append('\t')
            case 'b' => sb.append('\b')
            case 'f' => sb.append('\f')
            case 'u' =>
              sb.append(Integer.parseInt(s.substring(i + 1, i + 5), 16).toChar); i += 4
            case o => sb.append(o)
          }
        } else sb.append(c)
        i += 1
      }
      i += 1
      sb.toString
    }
    private def num(): Any = {
      val start = i
      while (i < s.length && (s.charAt(i).isDigit || "+-.eE".contains(s.charAt(i)))) i += 1
      val t = s.substring(start, i)
      if (t.exists(c => c == '.' || c == 'e' || c == 'E')) t.toDouble else t.toLong
    }
  }
}
