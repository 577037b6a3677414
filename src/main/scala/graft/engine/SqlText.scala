package graft.engine

/** Quote/paren-aware SQL text scanning shared by GraftSession, the wire
  * server and the shell — a ';' or ',' or keyword inside a string
  * literal or a comment is content, not syntax. Every scanner reads the
  * same single pass (`scan`): quotes are `'`, `"`, `` ` ``; a backslash
  * inside a `'`/`"` literal escapes the next character (Spark/MySQL
  * string semantics); comments are dash-dash, hash and block comments.
  * `SqlReader` reads statement arguments in tokens over the same mask.
  */
object SqlText {

  /** Executable comments `/*!NNNNN … */` run when NNNNN is at most this:
    * graft's `version`, 8.0.26.
    */
  private val ExecutableCommentMax = 80026

  /** The statement as the engine reads it: line comments (dash-dash,
    * hash) and block comments become spaces, optimizer hints are kept
    * (Spark reads them), and an executable comment whose version is at
    * most ExecutableCommentMax is unwrapped to its body (newer ones stay
    * comments, as in MySQL). Every removed character becomes a space, so
    * positions in the result are positions in `s`.
    */
  def normalize(s: String): String = scan(s, maskLiterals = false)

  /** `normalize` with executable comments blanked like any other: the
    * text Spark's parser gets for a relational statement. A MySQL-only
    * modifier wrapped in one (mysqldump's `SELECT /*!40001 SQL_NO_CACHE */`)
    * is there for MySQL alone, and Spark's lexer skips it as a comment.
    */
  def stripComments(s: String): String = scan(s, maskLiterals = false, unwrap = false)

  /** `normalize`, plus the bodies of '…'/"…" string literals (backslash
    * escapes honored) and `…` identifiers become 'x' (delimiters kept, so
    * a backticked table reference still matches as one token).
    * Pre-rewrites that must never fire on data — VERSION/TIMESTAMP AS
    * OF — match against this mask and splice replacements into the
    * original by position.
    */
  def maskNonSyntax(s: String): String = scan(s, maskLiterals = true)

  private def scan(s: String, maskLiterals: Boolean, unwrap: Boolean = true): String = {
    val b = new StringBuilder(s)
    def blank(from: Int, until: Int): Unit =
      (from until until).foreach(b.setCharAt(_, ' '))
    def orEnd(i: Int): Int = if (i < 0) s.length else i
    def closeOf(open: Int): Int = orEnd(s.indexOf("*/", open + 2))
    def versionEnd(open: Int): Int = orEnd(s.indexWhere(!_.isDigit, open + 3))
    var i = 0
    var inExecutable = false // inside an unwrapped /*! … */ body
    while (i < s.length) {
      s.charAt(i) match {
        case q @ ('\'' | '"' | '`') =>
          i += 1
          while (i < s.length && s.charAt(i) != q) {
            if (maskLiterals) b.setCharAt(i, 'x')
            if (q != '`' && s.charAt(i) == '\\' && i + 1 < s.length) {
              if (maskLiterals) b.setCharAt(i + 1, 'x')
              i += 1
            }
            i += 1
          }
          i += 1
        case c if c == '#' || s.startsWith("--", i) =>
          val end = orEnd(s.indexOf('\n', i)); blank(i, end); i = end
        case '*' if inExecutable && s.startsWith("*/", i) =>
          blank(i, i + 2); i += 2; inExecutable = false
        case '/' if s.startsWith("/*+", i) => i = closeOf(i) + 2
        case '/' if unwrap && s.startsWith("/*!", i) && s.substring(i + 3, versionEnd(i))
            .toLongOption.forall(_ <= ExecutableCommentMax) =>
          blank(i, versionEnd(i)); i = versionEnd(i); inExecutable = true
        case '/' if s.startsWith("/*", i) =>
          val end = (closeOf(i) + 2) min s.length; blank(i, end); i = end
        case _ => i += 1
      }
    }
    b.toString
  }

  /** Split on a separator, ignoring separators nested in parens, quotes
    * or comments.
    */
  def splitTopLevel(s: String, sep: Char): Seq[String] = {
    val m = maskNonSyntax(s)
    val out = Seq.newBuilder[String]
    var depth = 0; var start = 0
    for (i <- m.indices) m.charAt(i) match {
      case '('                         => depth += 1
      case ')'                         => depth -= 1
      case c if c == sep && depth == 0 => out += s.substring(start, i); start = i + 1
      case _                           =>
    }
    if (start < s.length) out += s.substring(start)
    out.result()
  }

  /** True when the text's last syntax character is a ';' outside any
    * string literal or comment (i.e. the statement is complete).
    */
  def endsStatement(s: String): Boolean = maskNonSyntax(s).trim.endsWith(";")

  /** Count '?' parameter markers outside string literals and comments. */
  def countPlaceholders(s: String): Int = maskNonSyntax(s).count(_ == '?')

  /** Replace '?' markers outside string literals and comments with
    * `args` in order.
    */
  def bindPlaceholders(s: String, args: Seq[String]): String = {
    val m = maskNonSyntax(s)
    val next = args.iterator
    val out = new StringBuilder
    for (i <- s.indices) if (m.charAt(i) == '?') out ++= next.next() else out += s.charAt(i)
    out.toString
  }
}
