package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{SqlText, Statement, Verb}
import graft.engine.Verb._

/** The front end's one classifier, without Spark: which kind each
  * statement is, read from its comment-free leading words, and what text
  * the handler then sees.
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
}
