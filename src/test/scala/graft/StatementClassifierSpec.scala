package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{GraftSession, SqlError, SqlReader, SqlText, Statement, Verb}
import graft.engine.Verb._

/** The front end's one classifier and one argument reader, without
  * Spark: which kind each statement is, read from its comment-free
  * leading words, what text the handler then sees, and how the reader
  * takes that text apart.
  */
class StatementClassifierSpec extends AnyFunSuite {

  private val kinds: Seq[(String, Verb)] = Seq(
    "select 1" -> Query,
    "  (select 1) union (select 2)" -> Query,
    "with s as (select 1) select * from s" -> Query,
    "with s as (select 1) insert into u select * from s" -> Query,
    "from (select 1 as id) s insert into u select *" -> Query,
    "values (1), (2)" -> Query,
    "table t" -> Query,
    "explain select 1" -> Query,
    "select*from t" -> Query,
    "explain analyze select 1" -> ExplainAnalyze,
    "EXPLAIN ANALYZE VERBOSE select 1" -> ExplainAnalyze,
    "/* c */ insert into t values (1)" -> Insert,
    "-- c\nreplace into t values (1)" -> Insert,
    "# c\nINSERT IGNORE INTO t VALUES (1)" -> Insert,
    "insert overwrite table t select 1" -> Insert,
    "load data infile 'f' into table t" -> LoadData,
    "-- c\nload data local infile 'f' into table t" -> LoadDataLocal,
    "update t set a = 1" -> Update,
    "DELETE FROM t" -> Delete,
    "truncate t" -> Truncate,
    "create schema s" -> CreateSchema,
    "CREATE DATABASE s" -> CreateSchema,
    "drop database s" -> DropSchema,
    "create table t (a int)" -> CreateTable,
    "create view v as select 1" -> CreateView,
    "create or replace view v as select 1" -> CreateView,
    "drop view v" -> DropView,
    "drop table if exists t" -> DropTable,
    "alter table t add c int" -> AlterTable,
    "rename table a to b" -> RenameTable,
    "optimize table t" -> Optimize,
    "analyze table t" -> Analyze,
    "use db" -> Use,
    "use`db`" -> Use,
    "set @a = 1" -> SetVariable,
    "set@a=1" -> SetVariable,
    "set session wait_timeout = 5" -> SetVariable,
    "set names utf8" -> Noop,
    "/*!40101 SET NAMES utf8 */" -> Noop,
    "/*!40101 SET @OLD_SQL_MODE=@@SQL_MODE */" -> SetVariable,
    "set session transaction isolation level read committed" -> Noop,
    "lock tables t read" -> Noop,
    "unlock tables" -> Noop,
    "begin" -> Transaction,
    "start transaction" -> Transaction,
    "commit" -> Transaction,
    "rollback" -> Rollback,
    "prepare s from 'select 1'" -> Prepare,
    "execute s using @a" -> Execute,
    "deallocate prepare s" -> Deallocate,
    "describe t" -> ShowColumns,
    "desc t" -> ShowColumns,
    "show full columns from t" -> ShowColumns,
    "show databases" -> ShowDatabases,
    "show tables" -> ShowTables,
    "/* c */ show tables" -> ShowTables,
    "show full tables" -> ShowFullTables,
    "show commits for t" -> ShowCommits,
    "show create table t" -> ShowCreateTable,
    "show create view v" -> ShowCreateView,
    "show global variables like 'x'" -> ShowVariables,
    "show engines" -> ShowEngines,
    "show keys from t" -> ShowIndex,
    "show character set" -> ShowCharset,
    "show collation" -> ShowCollation,
    "show grants" -> ShowGrants,
    "show privileges" -> ShowPrivileges,
    "show table status" -> ShowTableStatus,
    "show warnings limit 1" -> ShowWarnings,
    "/* c */ show warnings" -> ShowWarnings,
    "show errors" -> ShowErrors,
    "show processlist" -> ShowProcessList,
    "/* c */ show processlist" -> ShowProcessList,
    "kill 3" -> Kill,
    "/* c */ kill query 3" -> Kill,
    // nothing outside the table reaches Spark
    "create temporary view pw using csv options (path '/etc/hostname')" -> Unknown,
    "cache table t" -> Unknown,
    "create function f as 'x'" -> Unknown,
    "msck repair table t" -> Unknown,
    "show nonsense" -> Unknown,
    "selectx 1" -> Unknown,
    "" -> Unknown,
    "/* only a comment */" -> Unknown,
    // an executable comment newer than 8.0.26 stays a comment
    "/*!99999 insert into t values (1) */ select 1" -> Query)

  test("each statement maps to its kind on its comment-free leading words") {
    val wrong = kinds.filter { case (sql, v) => Statement.classify(sql).verb != v }
      .map { case (sql, v) => s"$sql -> ${Statement.classify(sql).verb}, want $v" }
    assert(wrong.isEmpty, wrong.mkString("\n"))
  }

  test("every declared kind is in the verb table, and each of its keywords selects it") {
    // enumerate the ADT itself, so a kind left out of Verb.all (which
    // would classify as Unknown) fails here
    val declared = classOf[Verb].getDeclaredClasses.toSeq
      .filter(classOf[Verb].isAssignableFrom(_))
      .map(_.getField("MODULE$").get(null).asInstanceOf[Verb]).toSet
    assert(declared.size > 40 && declared.contains(Unknown))
    assert(Verb.all.toSet == declared - Unknown)
    for (v <- Verb.all) {
      assert(v.keywords.nonEmpty, v)
      for (k <- v.keywords)
        assert(Statement.classify(s"$k x").verb == v, s"'$k' does not select $v")
    }
  }

  test("handlers see normalized text: comments out, hints and literals kept, no ';'") {
    assert(Statement.classify("  /* c */ insert /* c */ into t values (1);  ").text ==
      "insert         into t values (1)")
    assert(Statement.classify("/*!40101 SET NAMES utf8 */").text == "SET NAMES utf8")
    assert(Statement.classify("select /*+ BROADCAST(t) */ a from t -- tail").text ==
      "select /*+ BROADCAST(t) */ a from t")
    val lit = "select '/* a */ -- b # c', `x#y` from t"
    assert(Statement.classify(lit).text == lit)
    // relational text goes to Spark with executable comments blanked:
    // mysqldump's per-table read, and EXPLAIN ANALYZE's child
    for (q <- Seq("SELECT /*!40001 SQL_NO_CACHE */ * FROM `t`",
                  "explain analyze SELECT /*!40001 SQL_NO_CACHE */ * FROM `t`")) {
      val st = Statement.classify(q)
      assert(st.text.split("\\s+").toSeq.takeRight(4) == Seq("SELECT", "*", "FROM", "`t`"), st)
    }
  }

  test("normalize keeps positions; the mask blanks literal bodies too") {
    val s = "select 'a;b' /* x; */ from t # z"
    assert(SqlText.normalize(s).length == s.length)
    assert(SqlText.normalize(s) == "select 'a;b'          from t    ")
    assert(SqlText.maskNonSyntax(s) == "select 'xxx'          from t    ")
  }

  test("multi-statement split ignores ';' in literals and comments") {
    val ss = Statement.split("select 'a;b'; /* ; */ show tables; -- ; \n")
    assert(ss.map(_.verb) == Seq(Query, ShowTables))
    assert(ss.head.text == "select 'a;b'")
    assert(Statement.split(" ; ").isEmpty)
    assert(Statement.split("/*!40101 SET NAMES utf8 */; select /*!40001 SQL_NO_CACHE */ 1")
      .map(st => (st.verb, st.text.split("\\s+").toSeq)) ==
      Seq((Noop, Seq("SET", "NAMES", "utf8")), (Query, Seq("select", "1"))))
  }

  test("placeholders in literals and comments are not parameter markers") {
    val s = "select ?, '?' /* ? */ from t where a = ? -- ?"
    assert(SqlText.countPlaceholders(s) == 2)
    assert(SqlText.bindPlaceholders(s, Seq("1", "'x'")) ==
      "select 1, '?' /* ? */ from t where a = 'x' -- ?")
    assert(SqlText.endsStatement("select 1; -- done"))
    assert(!SqlText.endsStatement("select ';"))
  }

  /** A reader past the statement's verb keywords, as a handler gets it. */
  private def after(sql: String): SqlReader = {
    val st = Statement.classify(sql)
    val r = new SqlReader(st.text)
    r.verb(st.verb)
    r
  }

  // one statement per verb, read into its parts the way its handler reads it
  private val parts: Seq[(String, SqlReader => Seq[Any], Seq[Any])] = Seq(
    ("create schema if not exists `s`", r => Seq(r.optional("if not exists"), r.schema()),
      Seq(true, "s")),
    ("drop database s", r => Seq(r.optional("if exists"), r.schema()), Seq(false, "s")),
    ("use`db`", r => Seq(r.schema()), Seq("db")),
    ("create table if not exists `db`.t (a decimal(10, 2) not null, `b c` array<bigint> " +
      "comment 'x, y', primary key (a)) engine=sled partition by (`b c`)",
      r => Seq(r.optional("if not exists"), r.table(), r.list {
        if (r.optional("primary key")) r.list(r.ident())
        else Seq(r.ident(), r.columnType(), r.raw())
      }, r.optional("engine", "="), r.ident(), r.optional("partition by"), r.list(r.ident())),
      Seq(true, (Some("db"), "t"), Seq(Seq("a", "decimal(10,2)", "not null"),
        Seq("b c", "array<bigint>", "comment 'x, y'"), Seq("a")), true, "sled", true,
        Seq("b c"))),
    ("create table t as select 1", r => Seq(r.table(), r.optional("as"), r.rest()),
      Seq((None, "t"), true, "select 1")),
    ("create or replace view db.v as select 1", r => Seq(r.table(), r.optional("as"), r.rest()),
      Seq((Some("db"), "v"), true, "select 1")),
    ("drop view if exists v", r => Seq(r.optional("if exists"), r.table()), Seq(true, (None, "v"))),
    ("drop table `select`", r => Seq(r.optional("if exists"), r.table()),
      Seq(false, (None, "select"))),
    ("alter table t add constraint c unique key u (a, B)",
      r => Seq(r.table(), r.optional("add", "constraint"), r.ident(), r.optional("unique"),
        r.oneOf("key", "index"), r.ident(), r.list(r.ident())),
      Seq((None, "t"), true, "c", true, Some("key"), "u", Seq("a", "B"))),
    ("alter table t add column d decimal (10, 2) unique comment 'no, really'",
      r => Seq(r.table(), r.optional("add"), r.optional("column"), r.ident(), r.columnType(),
        SqlReader.words(r.raw())),
      Seq((None, "t"), true, true, "d", "decimal(10,2)", Seq("unique", "comment", "'no, really'"))),
    ("insert ignore into t (a, `B`) values (1, ')')",
      r => Seq(r.optional("ignore"), r.optional("into"), r.table(), r.list(r.ident()), r.rest()),
      Seq(true, true, (None, "t"), Seq("a", "B"), "values (1, ')')")),
    ("truncate table db.t", r => Seq(r.optional("table"), r.table()), Seq(true, (Some("db"), "t"))),
    ("rename table a to db.b", r => Seq(r.table(), r.optional("to"), r.table()),
      Seq((None, "a"), true, (Some("db"), "b"))),
    ("optimize table t zorder by (x, y)",
      r => Seq(r.optional("table"), r.table(), r.oneOf("sort", "zorder"), r.optional("by"),
        r.list(r.ident())),
      Seq(true, (None, "t"), Some("zorder"), true, Seq("x", "y"))),
    ("analyze table t compute statistics", r => Seq(r.table(), r.rest()),
      Seq((None, "t"), "compute statistics")),
    ("set global max_connections = 5",
      r => Seq(r.oneOf("global", "session"), r.ident(), r.optional("="), r.rest()),
      Seq(Some("global"), "max_connections", true, "5")),
    ("set @a := 'x'", r => Seq(r.optional("@"), r.ident(), r.optional(":", "="), r.rest()),
      Seq(true, "a", true, "'x'")),
    ("prepare p from 'select ?'", r => Seq(r.ident(), r.optional("from"), r.string()),
      Seq("p", true, "select ?")),
    ("execute p using @a, 'x,y'", r => Seq(r.ident(), r.optional("using"), r.items(r.raw())),
      Seq("p", true, Seq("@a", "'x,y'"))),
    ("deallocate prepare p", r => Seq(r.optional("prepare"), r.ident()), Seq(true, "p")),
    ("show full columns from t in db like 'a%'",
      r => Seq(r.oneOf("from", "in"), r.table(), r.oneOf("from", "in"), r.schema(),
        r.optional("like"), r.string()),
      Seq(Some("from"), (None, "t"), Some("in"), "db", true, "a%")),
    ("show warnings limit 2, 3",
      r => Seq(r.optional("limit"), r.number(), r.optional(","), r.number()),
      Seq(true, 2L, true, 3L)),
    ("explain analyze verbose select 1", r => Seq(r.oneOf("formatted", "verbose"), r.rest()),
      Seq(Some("verbose"), "select 1")),
    ("select a from t where s = 'into outfile' into outfile '/tmp/x' fields terminated by ','",
      r => Seq(r.seek("into outfile"), r.string(), r.optional("fields terminated by"), r.string()),
      Seq(Some(41), "/tmp/x", true, ",")))

  test("the reader reads one statement per verb into its parts") {
    for ((sql, read, want) <- parts) {
      val r = if (Statement.classify(sql).verb == Query) new SqlReader(sql) else after(sql)
      assert(read(r) == want, sql)
      assert(r.atEnd, sql)
    }
    assert(GraftSession.parseLoad("load data local infile 'f.tsv' replace into table db.t " +
      "character set utf8mb4 fields terminated by ',' optionally enclosed by '\"' " +
      "lines terminated by '\\r\\n' ignore 1 rows (a, `B`) set c = a + 1, d = concat(a, ',')") ==
      GraftSession.Load("f.tsv", GraftSession.OnDuplicate.Replace, (Some("db"), "t"), ",", "\"", "\\", 1, Some(Seq("a", "B")),
        Seq("c" -> "a + 1", "d" -> "concat(a, ',')")))
    assert(GraftSession.parseLoad("load data infile 'f' into table t") ==
      GraftSession.Load("f", GraftSession.OnDuplicate.Error, (None, "t"), "\t", "\"", "\\", 0, None, Nil))
  }

  test("a malformed statement fails at its position: 1064, LOAD DATA clauses 1149, names 1103/1102") {
    def error(f: => Any): SqlError = intercept[SqlError](f)
    def near(e: SqlError): String = e.getMessage.substring(e.getMessage.indexOf("near '"))
    val tail = error { val r = after("drop table t, u"); r.table(); r.end() }
    assert(tail.code == 1064 && near(tail) == "near ', u'", tail.getMessage)
    val load = error(GraftSession.parseLoad(
      "load data infile 'f' into table t fields terminated by ',' frobnicate (a)"))
    assert(load.code == 1149 && near(load) == "near 'frobnicate (a)'", load.getMessage)
    val charset = error(GraftSession.parseLoad("load data infile 'f' into table t character set latin1"))
    assert(charset.code == 1149 && near(charset) == "near 'latin1'", charset.getMessage)
    val capture = error(GraftSession.parseLoad("load data infile 'f' into table t (a, @x)"))
    assert(capture.code == 1149 && near(capture) == "near '@x)'", capture.getMessage)
    val head = error(GraftSession.parseLoad("load data infile into table t"))
    assert(head.code == 1064 && near(head) == "near 'into table t'", head.getMessage)
    for (bad <- Seq("`a b`", "`a.b`", "`t`.`a b`", "`ü`"))
      assert(error(after(s"drop table $bad").table()).code == 1103, bad)
    assert(error(after("drop table `a b`.t").table()).code == 1102)
    assert(error(after("use `a.b`").schema()).code == 1102)
  }

  test("the front end holds no per-verb grammar: its only regexes are the query rewrites and KILL") {
    val allowed = Set("VarRef", "ConnectionInfoR", "InformationSchemaR", "GlobalVariablesR",
      "SelectVarsR", "AsOfProbeR", "TimeTravelR", "KillR")
    val owners = for {
      f <- Seq("src/main/scala/graft/engine/GraftSession.scala",
               "src/main/scala/graft/server/MysqlServer.scala")
      src = new String(Files.readAllBytes(Paths.get(f)), "UTF-8")
      // each regex literal ("…".r or (…).r), named by the val it defines
      m <- """(?:"|\))\.r\b""".r.findAllMatchIn(src)
      v = src.lastIndexOf("val ", m.start)
    } yield src.substring(v + 4).takeWhile(c => c.isLetterOrDigit || c == '_')
    assert(owners.toSet == allowed && owners.size == allowed.size, owners)
  }
}
