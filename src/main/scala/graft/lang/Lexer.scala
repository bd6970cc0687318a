package graft.lang

/** Hand-rolled lexer for the Zed language subset (reference:
  * compiler/parser/parser.peg lexical rules). Produces a flat token list;
  * keywords are plain IDENT tokens classified contextually by the parser
  * (zed lets most keywords double as field names).
  */
object Lexer {

  sealed trait Kind
  case object ID extends Kind
  case object INT extends Kind
  case object FLOAT extends Kind
  case object STR extends Kind
  case object FSTR extends Kind // f-string: raw body, braces unparsed
  case object REGEX extends Kind // /re/ literal, delimiters stripped
  case object TIME extends Kind
  case object DUR extends Kind
  case object PUNCT extends Kind
  case object EOF extends Kind

  /** `end` is the SOURCE end offset — for escaped bare words (`A\=`) the
    * token text is shorter than its source span, and search-glob
    * adjacency must follow the source.
    */
  final case class Token(kind: Kind, text: String, pos: Int, endOpt: Int = -1) {
    def end: Int = if (endOpt >= 0) endOpt else pos + text.length
  }

  // longest-match-first punctuation/operators
  private val puncts = Seq(
    "...", ":=", "==", "!=", "<=", ">=", "=>", "=~", "&&", "||",
    "|[", "]|", "|{", "}|",
    "|", "(", ")", "[", "]", "{", "}", ",", ".", ":", ";",
    "<", ">", "=", "+", "-", "*", "/", "%", "!", "?", "@", "~")

  private val timeRe =
    """\d{4}-\d{2}-\d{2}(T\d{2}:\d{2}:\d{2}(\.\d+)?Z?)?""".r
  // IPv4 address / CIDR literals (zed ip/net primitives travel as strings)
  private val ipRe = """\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}(/\d{1,2})?""".r
  private val durRe = """((\d+)(ns|us|ms|s|m|h|d|w|y))+(?![A-Za-z0-9_.])""".r
  // a trailing dot makes a float ("1." — zson.md implied float64) unless
  // it starts a field access / another dot
  private val numRe = """\d+(\.\d*)?([eE][+-]?\d+)?""".r

  /** A '/' can start a regex literal only where a value may begin. */
  private def regexCanStart(sofar: Vector[Token]): Boolean =
    sofar.lastOption match {
      case None => true
      case Some(t) if t.kind == PUNCT =>
        // ':' or '/' directly before '/' is a URL (http://host/path),
        // never a regex
        !Set(")", "]", "}", "]|", "}|", ":", "/").contains(t.text)
      case Some(t) if t.kind == ID =>
        // keywords that precede a value-position regex
        Set("not", "and", "or", "where", "case", "yield", "search",
          // `from /re/` selects pools by pattern (from-pattern ztest)
          "from", "pool")(t.text)
      case _ => false
    }

  /** Longest prefix of `input` from `i` that is an IPv6 address/CIDR
    * literal (must contain `::` — full 8-group forms are left to the type
    * parser; the `::` requirement keeps `{a:1}` record syntax unambiguous).
    */
  private def ip6Prefix(input: String, i: Int): Option[String] = {
    var j = i
    val n = input.length
    while (j < n && (input.charAt(j).isDigit || input.charAt(j) == ':' ||
      "abcdefABCDEF".indexOf(input.charAt(j)) >= 0)) j += 1
    var cand = input.substring(i, j)
    if (!cand.contains("::") || cand.contains(":::") ||
        cand.indexOf("::") != cand.lastIndexOf("::")) return None
    if (!cand.split(":", -1).forall(g => g.length <= 4 &&
        g.forall(ch => ch.isDigit || "abcdefABCDEF".indexOf(ch) >= 0))) return None
    // optional /prefix for net literals
    if (j < n && input.charAt(j) == '/' && j + 1 < n && input.charAt(j + 1).isDigit) {
      var k = j + 1
      while (k < n && input.charAt(k).isDigit) k += 1
      cand = input.substring(i, k)
    }
    Some(cand)
  }

  /** True when position `i` (at a `//`) sits inside a URL-like bare
    * word: either directly after the scheme colon, or anywhere in a word
    * that already contains `scheme://` since the last whitespace.
    */
  private def insideUrlWord(input: String, i: Int): Boolean = {
    if (i > 0 && input.charAt(i - 1) == ':') return true
    var j = i - 1
    while (j >= 0 && !input.charAt(j).isWhitespace) j -= 1
    input.substring(j + 1, i).contains("://")
  }

  def lex(input: String): Vector[Token] = {
    val out = Vector.newBuilder[Token]
    var i = 0
    val n = input.length
    while (i < n) {
      val c = input.charAt(i)
      val ip6 = if (c == ':' || c.isDigit || "abcdefABCDEF".indexOf(c) >= 0)
                  ip6Prefix(input, i) else None
      if (ip6.isDefined) {
        out += Token(STR, ip6.get, i); i += ip6.get.length
      }
      else if (c == ' ' || c == '\t' || c == '\n' || c == '\r') { i += 1 }
      else if (c == '/' && i + 1 < n && input.charAt(i + 1) == '/' &&
          !insideUrlWord(input, i)) {
        // `//` is a comment EXCEPT inside a URL-like bare word — not just
        // directly after the scheme colon but anywhere past `scheme://`
        // (http://host/a//b must survive intact)
        while (i < n && input.charAt(i) != '\n') i += 1
      } else if (c == '"' || c == '\'') {
        val quote = c
        val sb = new StringBuilder
        var j = i + 1
        var closed = false
        while (j < n && !closed) {
          val d = input.charAt(j)
          if (d == '\\' && j + 1 < n) {
            input.charAt(j + 1) match {
              case 'n' => sb.append('\n'); case 't' => sb.append('\t')
              case 'r' => sb.append('\r'); case '\\' => sb.append('\\')
              case q if q == quote => sb.append(q)
              case other => sb.append('\\').append(other)
            }
            j += 2
          } else if (d == quote) { closed = true; j += 1 }
          else { sb.append(d); j += 1 }
        }
        if (!closed) throw new IllegalArgumentException(s"unterminated string at $i")
        out += Token(STR, sb.toString, i, j)
        i = j
      } else if (c.isDigit) {
        val rest = input.substring(i)
        ipRe.findPrefixOf(rest) match {
          case Some(ip) =>
            out += Token(STR, ip, i); i += ip.length
          case None =>
        timeRe.findPrefixOf(rest) match {
          case Some(t) if t.length >= 10 =>
            out += Token(TIME, t, i); i += t.length
          case _ =>
            durRe.findPrefixMatchOf(rest) match {
              case Some(m) =>
                out += Token(DUR, m.matched, i); i += m.matched.length
              case None =>
                var num = numRe.findPrefixOf(rest).get
                if (num.endsWith(".") && num.length < rest.length && {
                      val c2 = rest.charAt(num.length)
                      c2.isLetter || c2 == '_' || c2 == '.'
                    }) num = num.dropRight(1)
                val kind = if (num.exists(ch => ch == '.' || ch == 'e' || ch == 'E')) FLOAT else INT
                out += Token(kind, num, i); i += num.length
            }
        }
        }
      } else if (c == 'f' && i + 1 < n &&
                 (input.charAt(i + 1) == '"' || input.charAt(i + 1) == '\'')) {
        // f-string: capture the raw body; replacement fields parse later
        val quote = input.charAt(i + 1)
        val sb = new StringBuilder
        var j = i + 2
        var closed = false
        var depth = 0 // replacement-field nesting: quotes INSIDE {…} are
                      // their own strings (nested f-strings, upper(f"…"))
        while (j < n && !closed) {
          val d = input.charAt(j)
          if (d == '\\' && j + 1 < n) { sb.append(d).append(input.charAt(j + 1)); j += 2 }
          else if (d == quote && depth == 0) { closed = true; j += 1 }
          else if (d == '{') { depth += 1; sb.append(d); j += 1 }
          else if (d == '}' && depth > 0) { depth -= 1; sb.append(d); j += 1 }
          else { sb.append(d); j += 1 }
        }
        if (!closed) throw new IllegalArgumentException(s"unterminated f-string at $i")
        out += Token(FSTR, sb.toString, i)
        i = j
      } else if (c.isLetter || c == '_' || c == '\\') {
        // bare words may escape characters (search terms: A\=B → "A=B",
        // \"foo → "\"foo" — docs/language/search-expressions.md)
        val start = i
        val sb = new StringBuilder
        var go = true
        while (go && i < n) {
          val d = input.charAt(i)
          if (d == '\\' && i + 1 < n) { sb.append(input.charAt(i + 1)); i += 2 }
          else if (d.isLetterOrDigit || d == '_') { sb.append(d); i += 1 }
          else go = false
        }
        out += Token(ID, sb.toString, start, i)
      } else if (c == '/' && regexCanStart(out.result())) {
        // JS-style contextual regex literal: '/' starts a regex only where
        // a VALUE may begin (start, after an operator/open-paren/pipe)
        val sb = new StringBuilder
        var j = i + 1
        var closed = false
        while (j < n && !closed) {
          val d = input.charAt(j)
          if (d == '\\' && j + 1 < n) { sb.append(d).append(input.charAt(j + 1)); j += 2 }
          else if (d == '/') { closed = true; j += 1 }
          else if (d == '\n') j = n // not a regex after all
          else { sb.append(d); j += 1 }
        }
        if (!closed) throw new IllegalArgumentException(s"unterminated /regex/ at $i")
        out += Token(REGEX, sb.toString, i)
        i = j
      } else {
        puncts.find(p => input.startsWith(p, i)) match {
          case Some(p) => out += Token(PUNCT, p, i); i += p.length
          case None =>
            throw new IllegalArgumentException(s"unexpected character '$c' at $i")
        }
      }
    }
    out += Token(EOF, "", n)
    out.result()
  }
}
