package graft.config

import scala.collection.mutable

/** Minimal TOML parser — just enough of the language for the reference's
  * config files, so a reference user can run their existing `.toml`
  * unconverted (the reference's query language IS TOML; reference parser
  * surface: src/config/sequence_config.rs:179-276 via the `toml` crate).
  *
  * Supported (the subset those configs use):
  *  - `[table.path]` and `[[array.of.tables]]` headers, dotted + quoted keys
  *  - `key = value` with bare or `"quoted"` keys
  *  - values: basic strings (`"..."` with \n \t \" \\ \uXXXX escapes),
  *    literal strings (`'...'`), integers, floats, booleans,
  *    arrays (incl. multiline), inline tables `{ k = v, ... }`
  *  - `#` comments, blank lines
  *
  * Not supported (not used by the reference configs): datetimes,
  * multiline strings, integer underscores/hex/oct/bin. Duplicate keys
  * are lenient (last write wins) rather than a hard error.
  *
  * Output shape: `Map[String, Any]` with Any ∈ String | Long | Double |
  * Boolean | Vector[Any] | Map[String, Any] — the same value universe
  * `Json.toScala` yields for a JSON config, which `TableDecoder` reads
  * for both front-ends.
  */
object Toml {

  final case class TomlParseException(msg: String, line: Int)
      extends RuntimeException(s"TOML parse error at line $line: $msg")

  /** Mutable table node while building; frozen to immutable Maps at the end. */
  private type MTable = mutable.LinkedHashMap[String, Any]

  def parse(text: String): Map[String, Any] = {
    val p = new P(text)
    val root: MTable = mutable.LinkedHashMap.empty
    // current table the next key-vals land in
    var current: MTable = root
    p.skipTrivia()
    while (!p.eof) {
      if (p.peek == '[') {
        val isArray = p.lookahead("[[")
        p.expect(if (isArray) "[[" else "[")
        val path = p.keyPath()
        p.expect(if (isArray) "]]" else "]")
        current =
          if (isArray) appendArrayTable(root, path, p)
          else navigate(root, path, p)
      } else {
        val path = p.keyPath()
        p.skipInline()
        p.expect("=")
        val v = p.value()
        val target = navigate(current, path.dropRight(1), p)
        target(path.last) = v
      }
      p.endOfLine()
      p.skipTrivia()
    }
    freeze(root).asInstanceOf[Map[String, Any]]
  }

  /** Descend (creating as needed) through table path; an array-of-tables
    * element on the way descends into its LAST entry (TOML semantics). */
  private def navigate(from: MTable, path: Seq[String], p: P): MTable =
    path.foldLeft(from) { (t, k) =>
      t.getOrElseUpdate(k, mutable.LinkedHashMap.empty[String, Any]) match {
        case m: MTable @unchecked => m
        case a: mutable.ArrayBuffer[_] if a.nonEmpty =>
          a.last match {
            case m: MTable @unchecked => m
            case _ => throw TomlParseException(s"'$k' is not a table", p.line)
          }
        case _ => throw TomlParseException(s"'$k' is not a table", p.line)
      }
    }

  private def appendArrayTable(root: MTable, path: Seq[String], p: P): MTable = {
    val parent = navigate(root, path.dropRight(1), p)
    val arr = parent.getOrElseUpdate(path.last, mutable.ArrayBuffer.empty[Any]) match {
      case a: mutable.ArrayBuffer[Any] @unchecked => a
      case _ => throw TomlParseException(s"'${path.last}' is not an array of tables", p.line)
    }
    val t: MTable = mutable.LinkedHashMap.empty
    arr += t
    t
  }

  private def freeze(v: Any): Any = v match {
    case m: MTable @unchecked => m.view.mapValues(freeze).toMap
    case a: mutable.ArrayBuffer[_] => a.map(freeze).toVector
    case other => other
  }

  /** Char-stream scanner. */
  private final class P(s: String) {
    var i = 0
    var line = 1
    def eof: Boolean = i >= s.length
    def peek: Char = s.charAt(i)
    def lookahead(lit: String): Boolean = s.startsWith(lit, i)
    private def bump(): Char = { val c = s.charAt(i); if (c == '\n') line += 1; i += 1; c }

    /** Spaces/tabs only — within a line. */
    def skipInline(): Unit =
      while (!eof && (peek == ' ' || peek == '\t')) { i += 1 }

    /** Whitespace, newlines and comments — between statements. */
    def skipTrivia(): Unit = {
      var go = true
      while (go && !eof) {
        peek match {
          case ' ' | '\t' | '\r' | '\n' => bump()
          case '#' => while (!eof && peek != '\n') bump()
          case _ => go = false
        }
      }
    }

    def expect(lit: String): Unit = {
      skipInline()
      if (!lookahead(lit)) throw TomlParseException(s"expected '$lit'", line)
      (0 until lit.length).foreach(_ => bump())
    }

    /** After a statement: only trivia may remain on the line. */
    def endOfLine(): Unit = {
      skipInline()
      if (!eof && peek == '#') while (!eof && peek != '\n') bump()
      if (!eof && peek != '\n' && peek != '\r')
        throw TomlParseException(s"unexpected trailing content '${peek}'", line)
    }

    private def bareKey(): String = {
      val start = i
      while (!eof && (peek.isLetterOrDigit || peek == '_' || peek == '-')) bump()
      if (i == start) throw TomlParseException("expected key", line)
      s.substring(start, i)
    }

    def key(): String = {
      skipInline()
      if (eof) throw TomlParseException("expected key", line)
      peek match {
        case '"' => basicString()
        case '\'' => literalString()
        case _ => bareKey()
      }
    }

    /** `a.b."c d"` — dotted key/table path. */
    def keyPath(): Vector[String] = {
      val parts = Vector.newBuilder[String]
      parts += key()
      skipInline()
      while (!eof && peek == '.') { bump(); parts += key(); skipInline() }
      parts.result()
    }

    private def basicString(): String = {
      expect("\"")
      val sb = new StringBuilder
      var done = false
      while (!done) {
        if (eof) throw TomlParseException("unterminated string", line)
        bump() match {
          case '"' => done = true
          case '\\' =>
            if (eof) throw TomlParseException("unterminated escape", line)
            bump() match {
              case 'n' => sb += '\n'
              case 't' => sb += '\t'
              case 'r' => sb += '\r'
              case '"' => sb += '"'
              case '\\' => sb += '\\'
              case 'u' =>
                if (i + 4 > s.length) throw TomlParseException("bad \\u escape", line)
                sb += Integer.parseInt(s.substring(i, i + 4), 16).toChar
                i += 4
              case other => throw TomlParseException(s"unsupported escape \\$other", line)
            }
          case '\n' => throw TomlParseException("newline in single-line string", line)
          case c => sb += c
        }
      }
      sb.toString
    }

    private def literalString(): String = {
      expect("'")
      val start = i
      while (!eof && peek != '\'' && peek != '\n') bump()
      if (eof || peek != '\'') throw TomlParseException("unterminated literal string", line)
      val out = s.substring(start, i)
      bump()
      out
    }

    def value(): Any = {
      skipInline()
      if (eof) throw TomlParseException("expected value", line)
      peek match {
        case '"' => basicString()
        case '\'' => literalString()
        case '[' => array()
        case '{' => inlineTable()
        case 't' if lookahead("true") => i += 4; true
        case 'f' if lookahead("false") => i += 5; false
        case c if c == '-' || c == '+' || c.isDigit => number()
        case c => throw TomlParseException(s"unexpected value start '$c'", line)
      }
    }

    private def number(): Any = {
      val start = i
      if (peek == '-' || peek == '+') bump()
      var isFloat = false
      while (!eof && (peek.isDigit || peek == '.' || peek == 'e' || peek == 'E' ||
        ((peek == '-' || peek == '+') && (s.charAt(i - 1) == 'e' || s.charAt(i - 1) == 'E')))) {
        if (peek == '.' || peek == 'e' || peek == 'E') isFloat = true
        bump()
      }
      val tok = s.substring(start, i)
      if (isFloat) tok.toDouble else tok.toLong
    }

    /** Arrays may span lines and carry a trailing comma. */
    private def array(): Vector[Any] = {
      expect("[")
      val out = Vector.newBuilder[Any]
      skipTrivia()
      while (!eof && peek != ']') {
        out += value()
        skipTrivia()
        if (!eof && peek == ',') { bump(); skipTrivia() }
      }
      expect("]")
      out.result()
    }

    /** Inline tables are single-line in TOML; lenient here (trivia ok). */
    private def inlineTable(): Map[String, Any] = {
      expect("{")
      val out = mutable.LinkedHashMap.empty[String, Any]
      skipTrivia()
      while (!eof && peek != '}') {
        val path = keyPath()
        expect("=")
        val v = value()
        if (path.size == 1) out(path.head) = v
        else {
          // dotted key inside an inline table: build nested maps
          val leafParent = path.dropRight(1).foldLeft(out) { (t, k) =>
            t.getOrElseUpdate(k, mutable.LinkedHashMap.empty[String, Any])
              .asInstanceOf[mutable.LinkedHashMap[String, Any]]
          }
          leafParent(path.last) = v
        }
        skipTrivia()
        if (!eof && peek == ',') { bump(); skipTrivia() }
      }
      expect("}")
      freeze(out).asInstanceOf[Map[String, Any]]
    }
  }
}
