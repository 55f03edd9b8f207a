package graft.sqlrewrite

/** The one MySQL lexer: splits SQL text into code, string, identifier and
  * comment runs by MySQL's own rules (the reference's `maskStringLiterals`,
  * sync_viewddl.go:1087-1135, extended with comments):
  *
  *  - `'…'` and `"…"` are strings; a doubled quote or a backslash escapes;
  *  - `` `…` `` is an identifier; only a doubled backtick escapes;
  *  - `--` followed by whitespace and `#` run to the end of the line (the
  *    newline stays code); `/*…*/` is a block comment;
  *  - a version comment `/*!NNNNN …*/` is code: its marker and its closer
  *    are [[Marker]] runs and the text between them lexes as usual.
  *
  * Every view of SQL text that must not look inside quotes or comments —
  * the rewriter's token mask, the DDL parser's same-length blank mask,
  * identifier requoting, paren matching, comma splitting — reads these
  * runs instead of scanning for quotes itself.
  */
object MySqlLexer {

  sealed trait Kind
  case object Code extends Kind
  case object Str extends Kind
  case object Ident extends Kind
  case object Comment extends Kind
  case object Marker extends Kind

  /** `s.substring(start, end)` is one run of `kind`. `closed` is false for
    * a string or identifier that runs off the end of the text. */
  final case class Run(kind: Kind, start: Int, end: Int, closed: Boolean = true)

  /** The runs of `s` from `from` on, in order; together they cover the
    * text exactly. `from` must not sit inside a quote or comment. */
  private def runs(s: String, from: Int = 0): Iterator[Run] = new Iterator[Run] {
    private var i = from
    private var inVersion = false
    def hasNext: Boolean = i < s.length

    private def opensRun(j: Int): Boolean = s.charAt(j) match {
      case '\'' | '"' | '`' | '#' => true
      case '-' => s.startsWith("--", j) && j + 2 < s.length && s.charAt(j + 2) <= ' '
      case '/' => s.startsWith("/*", j)
      case '*' => inVersion && s.startsWith("*/", j)
      case _ => false
    }

    private def versionMarker(j: Int): Boolean =
      s.startsWith("/*!", j) && j + 8 <= s.length &&
        (j + 3 until j + 8).forall(k => s.charAt(k) >= '0' && s.charAt(k) <= '9')

    def next(): Run = {
      val start = i
      s.charAt(start) match {
        case q @ ('\'' | '"' | '`') =>
          i += 1
          var closed = false
          while (i < s.length && !closed) {
            val c = s.charAt(i)
            if (c == '\\' && q != '`' && i + 1 < s.length) i += 2
            else if (c == q && i + 1 < s.length && s.charAt(i + 1) == q) i += 2
            else { i += 1; closed = c == q }
          }
          Run(if (q == '`') Ident else Str, start, i, closed)
        case '#' | '-' if opensRun(start) =>
          val nl = s.indexOf('\n', start)
          i = if (nl < 0) s.length else nl
          Run(Comment, start, i)
        case '/' if versionMarker(start) =>
          inVersion = true; i += 8
          Run(Marker, start, i)
        case '/' if opensRun(start) =>
          val close = s.indexOf("*/", start + 2)
          i = if (close < 0) s.length else close + 2
          Run(Comment, start, i)
        case '*' if opensRun(start) =>
          inVersion = false; i += 2
          Run(Marker, start, i)
        case _ =>
          i += 1
          while (i < s.length && !opensRun(i)) i += 1
          Run(Code, start, i)
      }
    }
  }

  /** Indexes of every code character of `s` from `from` on. */
  def codeIndexes(s: String, from: Int = 0): Iterator[Int] =
    runs(s, from).filter(_.kind == Code).flatMap(r => r.start until r.end)

  /** Concatenation of `f(run, run text)` over every run of `s`. */
  def render(s: String)(f: (Run, String) => String): String = {
    val out = new StringBuilder(s.length)
    runs(s).foreach(r => out.append(f(r, s.substring(r.start, r.end))))
    out.toString
  }

  /** Same-length copy of `s` in which string and identifier contents,
    * comments and version markers are spaces; code and the quotes that
    * delimit strings and identifiers stay at their index. Keyword, paren
    * and comma positions found on it are valid indexes into `s`. */
  def blank(s: String): String = {
    val out = s.toCharArray
    runs(s).foreach {
      case Run(Str | Ident, start, end, closed) =>
        java.util.Arrays.fill(out, start + 1, if (closed) end - 1 else end, ' ')
      case Run(Comment | Marker, start, end, _) => java.util.Arrays.fill(out, start, end, ' ')
      case _ =>
    }
    new String(out)
  }

  private val Escapes = Map("n" -> "\n", "t" -> "\t", "r" -> "\r", "b" -> "\b",
    "0" -> "\u0000", "Z" -> "\u001a", "%" -> "\\%", "_" -> "\\_")

  /** The value of one MySQL string literal, quotes included: its doubled
    * quote and backslash escapes decoded (`\%`, `\_` keep the backslash). */
  def stringValue(literal: String): String = {
    val q = java.util.regex.Pattern.quote(literal.take(1) * 2)
    s"(?s)\\\\(.)|$q".r.replaceAllIn(literal.substring(1, literal.length - 1), m =>
      java.util.regex.Matcher.quoteReplacement(
        Option(m.group(1)).fold(literal.take(1))(e => Escapes.getOrElse(e, e))))
  }

  /** `s` with every comment dropped and every version comment unwrapped:
    * its marker goes, its closer becomes a space, its content stays. */
  def stripComments(s: String): String = render(s) { (r, text) =>
    r.kind match {
      case Comment => if (text.startsWith("/*")) " " else ""
      case Marker => if (text.startsWith("*/")) " " else ""
      case _ => text
    }
  }
}
