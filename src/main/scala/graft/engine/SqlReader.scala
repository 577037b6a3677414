package graft.engine

/** The one argument reader for the MySQL-only statement forms (DDL, SHOW,
  * SET, LOAD DATA, …) that Spark's parser does not read. It walks the
  * statement in tokens over the mask of `SqlText`'s single scan: a token
  * is a word (letters, digits, '_'), a whole quoted literal or backticked
  * name, or one other character; whitespace separates tokens. Every
  * failure is a SqlError with this reader's `code` (1064 unless a
  * statement's clauses answer another) naming the text at the failing
  * position, so no handler keeps a grammar or a syntax error of its own.
  *
  * Names follow one rule: a table or database name is one identifier
  * (bare, or backticked with any characters), and it must be a name Spark
  * can store — letters, digits and '_' — or the reader answers MySQL's
  * 1103 (table) or 1102 (database).
  */
final class SqlReader(text: String, code: Int = 1064) {
  private val mask = SqlText.maskNonSyntax(text)
  private var pos = 0

  private def isWord(c: Char): Boolean = Character.isLetterOrDigit(c) || c == '_'

  /** End of the token starting at `i` (an unterminated literal runs to
    * the end of the text, as the scan reads it).
    */
  private def tokenEnd(i: Int): Int =
    if (i >= mask.length) i
    else mask.charAt(i) match {
      case c if isWord(c) =>
        val j = mask.indexWhere(!isWord(_), i)
        if (j < 0) mask.length else j
      case q @ ('\'' | '"' | '`') =>
        // a doubled quote inside the literal is part of it
        var j = mask.indexOf(q, i + 1)
        while (j >= 0 && j + 1 < mask.length && mask.charAt(j + 1) == q)
          j = mask.indexOf(q, j + 2)
        if (j < 0) mask.length else j + 1
      case _ => i + 1
    }

  /** The position of the next token, for a later `fail` there. */
  def mark: Int = {
    while (pos < text.length && text.charAt(pos).isWhitespace) pos += 1
    pos
  }

  /** Consume the next token and return it as written; "" at the end. */
  private def next(): String = { val t = text.substring(mark, tokenEnd(mark)); pos += t.length; t }

  private def lower(t: String): String = if (t.nonEmpty && isWord(t.head)) t.toLowerCase else t

  /** The next token (a word lower-cased) without consuming it. */
  def peek: String = lower(text.substring(mark, tokenEnd(mark)))

  /** Consume and return the next token (a word lower-cased). */
  def token(): String = lower(next())

  /** Fail at `at` (the next token by default). */
  def fail(at: Int = mark): Nothing = throw SqlError.syntax(text.substring(at).trim, code)

  /** Consume the next token as `read` takes it, failing there when it
    * does not.
    */
  private def take[A](read: String => Option[A]): A = { val at = mark; read(next()).getOrElse(fail(at)) }

  /** Consume `words` if they all come next — each string may hold
    * several space-separated words or punctuation tokens — and say
    * whether they did; otherwise nothing is consumed.
    */
  def optional(words: String*): Boolean = {
    val start = pos
    val ok = words.flatMap(_.split(' ')).forall(token() == _)
    if (!ok) pos = start
    ok
  }

  /** `optional`, failing at the first token when the words are absent. */
  def keyword(words: String*): Unit = { val at = mark; if (!optional(words: _*)) fail(at) }

  /** The first of `choices` that comes next, consumed. */
  def oneOf(choices: String*): Option[String] = choices.find(optional(_))

  /** Consume the longest of a verb's keywords that starts the text, and
    * return it.
    */
  def verb(v: Verb): String = v.keywords.sortBy(-_.length).find(optional(_)).getOrElse(fail())

  /** One identifier: a bare word, or a backticked name (a doubled
    * backtick inside stands for one).
    */
  def ident(): String = take { t =>
    if (t.length >= 2 && t.head == '`' && t.last == '`')
      Some(t.substring(1, t.length - 1).replace("``", "`"))
    else Option.when(t.nonEmpty && isWord(t.head))(t)
  }

  /** A table name of one or two parts, `t` or `db.t`, each part an
    * identifier Spark can store.
    */
  def table(): (Option[String], String) = {
    val first = ident()
    SqlReader.name(if (optional(".")) Seq(first, ident()) else Seq(first))
  }

  /** A database name: one identifier Spark can store. */
  def schema(): String = SqlReader.checked(ident(), 1102)

  /** A column type: a word, then the balanced `(…)` or `<…>` group that
    * follows it, if any, with the group's spaces dropped —
    * `decimal(10, 2)` reads as `decimal(10,2)`.
    */
  def columnType(): String = {
    val out = new StringBuilder(take(t => Option.when(t.nonEmpty && isWord(t.head))(t)))
    var depth = 0
    var open = peek == "(" || peek == "<"
    while (open) {
      val t = next()
      if (t.isEmpty) fail()
      depth += (if (t == "(" || t == "<") 1 else if (t == ")" || t == ">") -1 else 0)
      out ++= t
      open = depth > 0
    }
    out.toString
  }

  /** A '…' or "…" literal's body as written (escapes kept). */
  def string(): String = take { t =>
    Option.when(t.length >= 2 && (t.head == '\'' || t.head == '"') && t.last == t.head)(
      t.substring(1, t.length - 1))
  }

  /** A non-negative integer. */
  def number(): Long = take(_.toLongOption.filter(_ >= 0))

  /** `item`, then `item` again after each ','. */
  def items[A](item: => A): Seq[A] = { val a = item; a +: (if (optional(",")) items(item) else Nil) }

  /** A parenthesised comma list, `item` read for each element. */
  def list[A](item: => A): Seq[A] = { keyword("("); val out = items(item); keyword(")"); out }

  /** The raw text up to the next ',' or ')' outside parens and literals,
    * or to the end; trimmed. Empty when nothing is there.
    */
  def raw(): String = {
    val start = mark
    var depth = 0
    while (!atEnd && (depth > 0 || (peek != "," && peek != ")")))
      depth += (token() match { case "(" => 1; case ")" => -1; case _ => 0 })
    text.substring(start, pos).trim
  }

  /** Everything from the position to the end, trimmed (failing when
    * `nonEmpty` and nothing is there); the reader is then at its end.
    */
  def rest(nonEmpty: Boolean = false): String = {
    val at = mark
    pos = text.length
    if (nonEmpty && at == pos) fail(at)
    text.substring(at).trim
  }

  /** Skip tokens up to the first place where `words` come next, and
    * consume them; the start of that place, or None (the reader is then
    * at its end).
    */
  def seek(words: String*): Option[Int] = {
    while (!atEnd) { val at = pos; if (optional(words: _*)) return Some(at); token() }
    None
  }

  def atEnd: Boolean = mark >= text.length

  /** The statement must end here. */
  def end(): Unit = if (!atEnd) fail()
}

object SqlReader {
  /** A name Spark's catalog can store (its INVALID_SCHEMA_OR_RELATION_NAME
    * rule); anything else is MySQL's 1102 (database) or 1103 (table).
    */
  private def checked(name: String, code: Int): String =
    if (name.nonEmpty && name.forall(c => c < 128 && (c.isLetterOrDigit || c == '_'))) name
    else throw new SqlError(code, "42000",
      s"Incorrect ${if (code == 1102) "database" else "table"} name '$name'")

  /** A table name's parts, `t` or `db`, `t`, each checked. */
  private[engine] def name(parts: Seq[String]): (Option[String], String) =
    (parts.init.headOption.map(checked(_, 1102)), checked(parts.last, 1103))

  /** The tokens of `s`, words lower-cased. */
  def words(s: String): Seq[String] = {
    val r = new SqlReader(s)
    Iterator.continually(r.token()).takeWhile(_.nonEmpty).toSeq
  }
}
