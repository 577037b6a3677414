package graft.engine

/** What the MySQL front end does with a statement. Each kind lists the
  * leading keywords that select it; `Statement.classify` takes the
  * longest listed prefix of the statement's comment-free tokens
  * (`SqlReader`'s, so `use`db`` and `set@a=1` start with their verb).
  * `Query` text goes to Spark's parser with every comment but hints
  * blanked, executable ones too (`SqlText.stripComments`); every other
  * kind has a graft handler, and a kind with no keywords (`Unknown`) is
  * a syntax error.
  */
sealed abstract class Verb(val keywords: String*)

object Verb {
  // relational: Catalyst plans these, and refuses a write hidden inside
  case object Query extends Verb("select", "with", "values", "table", "explain", "from", "(")
  case object ExplainAnalyze extends Verb("explain analyze")
  case object Insert extends Verb("insert", "replace")
  case object LoadData extends Verb("load data")
  case object LoadDataLocal extends Verb("load data local")
  case object Update extends Verb("update")
  case object Delete extends Verb("delete")
  case object Truncate extends Verb("truncate")
  case object CreateSchema extends Verb("create schema", "create database")
  case object DropSchema extends Verb("drop schema", "drop database")
  case object CreateTable extends Verb("create table")
  case object CreateView extends Verb("create view", "create or replace view")
  case object DropView extends Verb("drop view")
  case object DropTable extends Verb("drop table")
  case object AlterTable extends Verb("alter table")
  case object RenameTable extends Verb("rename table")
  case object Optimize extends Verb("optimize")
  case object Analyze extends Verb("analyze table")
  case object Use extends Verb("use")
  case object SetVariable extends Verb("set")
  case object Prepare extends Verb("prepare")
  case object Execute extends Verb("execute")
  case object Deallocate extends Verb("deallocate")
  case object Rollback extends Verb("rollback")
  /** Ends the write window a later ROLLBACK warns about. */
  case object Transaction extends Verb("begin", "start transaction", "commit")
  /** Connector and mysqldump chatter, answered OK. */
  case object Noop extends Verb("lock tables", "unlock tables", "set names",
    "set character set", "set charset", "set session transaction", "set transaction")
  case object ShowDatabases extends Verb("show databases")
  case object ShowTables extends Verb("show tables")
  case object ShowFullTables extends Verb("show full tables")
  case object ShowColumns extends Verb("show columns", "show full columns",
    "describe", "desc")
  case object ShowCommits extends Verb("show commits")
  case object ShowCreateTable extends Verb("show create table")
  case object ShowCreateView extends Verb("show create view")
  case object ShowVariables extends Verb("show variables", "show global variables",
    "show session variables")
  case object ShowEngines extends Verb("show engines")
  case object ShowIndex extends Verb("show index", "show indexes", "show keys")
  case object ShowCharset extends Verb("show charset", "show character set")
  case object ShowCollation extends Verb("show collation")
  case object ShowGrants extends Verb("show grants")
  case object ShowPrivileges extends Verb("show privileges")
  case object ShowTableStatus extends Verb("show table status")
  case object ShowWarnings extends Verb("show warnings")
  case object ShowErrors extends Verb("show errors")
  // server scope: the wire server answers these from its connection registry
  case object Kill extends Verb("kill")
  case object ShowProcessList extends Verb("show processlist")
  case object Unknown extends Verb()

  // every kind but Unknown; StatementClassifierSpec checks this list
  // against the declared objects
  private[graft] val all = Seq(Query, ExplainAnalyze, Insert, LoadData, LoadDataLocal,
    Update, Delete, Truncate, CreateSchema, DropSchema, CreateTable, CreateView,
    DropView, DropTable, AlterTable, RenameTable, Optimize, Analyze, Use,
    SetVariable, Prepare, Execute, Deallocate, Rollback, Transaction, Noop,
    ShowDatabases, ShowTables, ShowFullTables, ShowColumns, ShowCommits,
    ShowCreateTable, ShowCreateView, ShowVariables, ShowEngines, ShowIndex,
    ShowCharset, ShowCollation, ShowGrants, ShowPrivileges, ShowTableStatus,
    ShowWarnings, ShowErrors, Kill, ShowProcessList)

  private[engine] val byKeywords: Map[String, Verb] =
    all.flatMap(v => v.keywords.map(_ -> v)).toMap
}

/** One statement, classified once: its kind and its comment-free text
  * (`SqlText.normalize`, or `SqlText.stripComments` for the relational
  * text Spark parses), with no trailing ';'. Every handler reads its
  * arguments from `text` with one `SqlReader`, past the verb's keywords;
  * UPDATE and DELETE text goes to Spark's own parser instead, whose plan
  * gives the target, assignments and condition (`GraftSession.dmlPlan`).
  */
final case class Statement(verb: Verb, text: String)

object Statement {
  def classify(sql: String): Statement = {
    val text = clean(SqlText.normalize(sql))
    val r = new SqlReader(text)
    val words = Seq.fill(4)(r.token())
    val verb = (4 to 1 by -1).iterator
      .flatMap(n => Verb.byKeywords.get(words.take(n).mkString(" ")))
      .nextOption().getOrElse(Verb.Unknown)
    val relational = verb == Verb.Query || verb == Verb.ExplainAnalyze
    Statement(verb, if (relational) clean(SqlText.stripComments(sql)) else text)
  }

  /** A COM_QUERY payload's statements: split at top-level ';' outside
    * literals and comments (one scan of the payload), then each piece
    * classified.
    */
  def split(sql: String): Seq[Statement] =
    SqlText.splitTopLevel(sql, ';').map(classify).filter(_.text.nonEmpty)

  private def clean(s: String): String = s.trim.stripSuffix(";").trim
}
