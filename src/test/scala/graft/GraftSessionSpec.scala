package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import graft.engine.GraftSession

/** MySQL-surface engine spec — follows the reference's own test suite
  * (/root/reference/src/test/base_sql.rs: show databases, create schema,
  * create table, insert, select *, delete + count(*), show create table)
  * and then the rest of SURVEY.md §2.B.
  */
class GraftSessionSpec extends AnyFunSuite {
  import SparkFixture._

  private lazy val g = {
    val wh = Files.createTempDirectory("graft-wh").toString
    new GraftSession(spark, wh)
  }

  private def rows(sql: String): Seq[Seq[Any]] =
    g.sql(sql).collect().toSeq.map(_.toSeq)

  test("B1 show databases lists seeded mysql + performance_schema") {
    val dbs = rows("show databases").map(_.head)
    assert(dbs.contains("mysql") && dbs.contains("performance_schema"))
  }

  test("B1 create schema / use / drop schema") {
    g.sql("create schema test")
    assert(rows("show databases").map(_.head).contains("test"))
    g.sql("use test")
    g.sql("create schema scratch")
    g.sql("drop schema scratch")
    assert(!rows("show databases").map(_.head).contains("scratch"))
  }

  test("B2 create table / show tables / show create table / drop table") {
    g.sql("use test")
    g.sql("create table user (id int, name char, PRIMARY KEY(id, name))")
    g.sql("create table user1 (id int, name char, PRIMARY KEY(id, name))")
    assert(rows("show tables").map(_.head) == Seq("user", "user1"))
    val ddl = rows("show create table user").head(1).toString
    assert(ddl.contains("`id` int") && ddl.contains("PRIMARY KEY (`id`, `name`)"))
    g.sql("drop table user1")
    assert(rows("show tables").map(_.head) == Seq("user"))
  }

  test("B4 insert values / select star") {
    g.sql("use test")
    g.sql("create table t4 (id int, name char)")
    val n = rows("insert into t4 values (1,'a'), (2,'b'), (3,'c')").head.head
    assert(n == 3L)
    assert(rows("select * from t4 order by id") ==
      Seq(Seq(1, "a"), Seq(2, "b"), Seq(3, "c")))
  }

  test("B4 insert with column list fills missing with null, insert-select") {
    g.sql("use test")
    g.sql("create table t4b (id int, name char, score double)")
    g.sql("insert into t4b (id, name) values (1,'x')")
    assert(rows("select * from t4b") == Seq(Seq(1, "x", null)))
    g.sql("insert into t4b select id + 10, name, 1.5 from t4b")
    assert(rows("select count(*) c from t4b").head.head == 2L)
  }

  test("B4+ duplicate-entry 1062 on PK insert; REPLACE INTO upserts (insert.rs:203 parity)") {
    g.sql("use test")
    g.sql("create table up (id int, v char, primary key(id))")
    assert(rows("insert into up values (1,'a'), (2,'b')").head.head == 2L)
    // key already in the table: 1062, nothing written
    val e = intercept[graft.engine.SqlError](g.sql("insert into up values (2,'x')"))
    assert(e.code == 1062 && e.sqlState == "23000")
    assert(e.getMessage.contains("Duplicate entry '2'"))
    assert(rows("select * from up order by id") == Seq(Seq(1, "a"), Seq(2, "b")))
    // key duplicated inside the batch: 1062, nothing written
    val e2 = intercept[graft.engine.SqlError](g.sql("insert into up values (5,'p'), (5,'q')"))
    assert(e2.code == 1062)
    assert(rows("select count(*) from up").head.head == 2L)
    // REPLACE: fresh key counts 1, colliding key counts 2 and updates
    assert(rows("replace into up values (3,'c')").head.head == 1L)
    assert(rows("replace into up values (2,'B')").head.head == 2L)
    assert(rows("select v from up where id = 2").head.head == "B")
    // batch-internal duplicate: LAST row wins, the displaced insert
    // counts a delete (MySQL: 3 affected on a fresh key)
    assert(rows("replace into up values (9,'x'), (9,'y')").head.head == 3L)
    assert(rows("select v from up where id = 9").head.head == "y")
    assert(rows("select count(*) from up").head.head == 4L)
    // INSERT IGNORE: conflicting rows skip silently, first-in-batch wins
    assert(rows("insert ignore into up values (2,'nope'), (7,'h'), (8,'i'), (8,'j')")
      .head.head == 2L)
    assert(rows("select v from up where id = 2").head.head == "B")
    assert(rows("select v from up where id = 8").head.head == "i")
    // keyless table: REPLACE degrades to INSERT, duplicates allowed
    g.sql("create table up_nopk (id int, v char)")
    g.sql("insert into up_nopk values (1,'a')")
    assert(rows("replace into up_nopk values (1,'zzz')").head.head == 1L)
    assert(rows("select count(*) from up_nopk").head.head == 2L)
  }

  test("B5 update with and without where") {
    g.sql("use test")
    g.sql("create table t5 (id int, v int)")
    g.sql("insert into t5 values (1,10),(2,20),(3,30)")
    assert(rows("update t5 set v = v + 1 where id >= 2").head.head == 2L)
    assert(rows("select v from t5 order by id") == Seq(Seq(10), Seq(21), Seq(31)))
    g.sql("update t5 set v = 0")
    assert(rows("select sum(v) s from t5").head.head == 0L)
  }

  test("B6 delete + count(*) (reference base_sql.rs delete test)") {
    g.sql("use test")
    g.sql("create table t6 (id int)")
    g.sql("insert into t6 values (1),(2),(3),(4)")
    assert(rows("delete from t6 where id > 2").head.head == 2L)
    assert(rows("select count(*) c from t6").head.head == 2L)
  }

  test("B3 alter table add / drop column") {
    g.sql("use test")
    g.sql("create table t3 (id int)")
    g.sql("insert into t3 values (7)")
    g.sql("alter table t3 add column tag varchar(10)")
    assert(rows("select * from t3") == Seq(Seq(7, null)))
    g.sql("update t3 set tag = 'x' where id = 7")
    g.sql("alter table t3 drop column id")
    assert(rows("select * from t3") == Seq(Seq("x")))
    val fields = rows("show columns from t3").map(_.head)
    assert(fields == Seq("tag"))
  }

  test("B7 select joins graft tables with testdata temp views") {
    Tables.registerAll(spark, sfDir)
    g.sql("use test")
    g.sql("create table rnames (r_regionkey int, alias char)")
    g.sql("insert into rnames select r_regionkey, r_name from region")
    val joined = rows(
      "select count(*) c from region join test.rnames using (r_regionkey)")
    assert(joined.head.head == 5L)
  }

  test("B8 show columns / variables / engines / charset / collation / grants / privileges / table status") {
    g.sql("use test")
    val cols = rows("show columns from user")
    assert(cols.map(_.head) == Seq("id", "name"))
    assert(cols.head(3) == "PRI")
    assert(rows("show variables like 'version'") ==
      Seq(Seq("version", "8.0.26-graft")))
    assert(rows("show variables like 'max_%'").nonEmpty)
    assert(rows("show engines").map(_.head).contains("PARQUET"))
    assert(rows("show charset").map(_.head).contains("utf8mb4"))
    assert(rows("show collation").map(_.head).contains("utf8mb4_0900_ai_ci"))
    assert(rows("show grants").head.head.toString.startsWith("GRANT"))
    assert(rows("show privileges").map(_.head).contains("Select"))
    assert(rows("show table status like 'user'").head.head == "user")
  }

  test("B9 set variable and select @@variable") {
    assert(rows("select @@version").head.head == "8.0.26-graft")
    g.sql("set max_connections = 500")
    assert(rows("select @@max_connections").head.head == "500")
    g.sql("set global wait_timeout = 100")
    assert(rows("show variables like 'wait_timeout'") ==
      Seq(Seq("wait_timeout", "100")))
    // variable reference embedded in a bigger query is substituted
    assert(rows("select concat('v=', @@protocol_version) x").head.head == "v=10")
  }

  test("B10 information_schema.tables / columns") {
    g.sql("use test")
    val ts = rows(
      "select table_name from information_schema.tables where table_schema = 'test' order by table_name")
    assert(ts.map(_.head).contains("user"))
    val cs = rows(
      "select column_name, column_key from information_schema.columns " +
        "where table_schema = 'test' and table_name = 'user' order by ordinal_position")
    assert(cs == Seq(Seq("id", "PRI"), Seq("name", "PRI")))
  }

  test("B11/B12 sled-style PK table: sorted write + pushed-down point lookup") {
    g.sql("use test")
    g.sql("create table kv (k bigint, v char, PRIMARY KEY(k)) engine=sled")
    g.sql("insert into kv select id * 7 % 1000, cast(id as string) from range(1000)")
    assert(rows("show create table kv").head(1).toString.contains("ENGINE=SLED"))
    val lookup = g.sql("select * from kv where k = 421")
    val plan = lookup.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("EqualTo(k,421)"),
      s"point lookup must push the PK predicate to parquet:\n$plan")
    assert(lookup.collect().nonEmpty)
  }

  test("B11 csv engine stores csv, supports insert/select/update") {
    g.sql("use test")
    g.sql("create table clog (id int, msg char) engine=csv")
    g.sql("insert into clog values (1,'a'),(2,'b')")
    assert(rows("select * from clog order by id") == Seq(Seq(1, "a"), Seq(2, "b")))
    g.sql("update clog set msg = 'z' where id = 2")
    assert(rows("select msg from clog order by id") == Seq(Seq("a"), Seq("z")))
    val dataDir = new java.io.File(g.catalog.dataPath("test", "clog"))
    assert(dataDir.listFiles().exists(_.getName.endsWith(".csv")),
      s"csv engine must store csv files: ${dataDir.listFiles().map(_.getName).toSeq}")
    assert(rows("show engines").exists(r => r.head == "CSV"))
  }

  test("B11 memory engine caches the table; show index lists the PK") {
    g.sql("use test")
    g.sql("create table hotdim (id int, nm char, PRIMARY KEY(id)) engine=memory")
    g.sql("insert into hotdim values (1,'a'),(2,'b')")
    assert(rows("select * from hotdim order by id") == Seq(Seq(1, "a"), Seq(2, "b")))
    assert(spark.catalog.isCached("test.hotdim"), "memory engine must cache")
    val idx = rows("show index from hotdim")
    assert(idx == Seq(Seq("hotdim", "0", "PRIMARY", "1", "id", "BTREE")))
    assert(rows("show engines").exists(_.head == "MEMORY"))
  }

  test("B13 prepare / execute with ? params / deallocate (com_stmt_prepare parity)") {
    g.sql("use test")
    g.sql("create table prep (id int, name char)")
    g.sql("insert into prep values (1,'a'),(2,'b'),(3,'c')")
    val nParams = g.sql("prepare p1 from 'select * from prep where id > ? and name <> ? order by id'")
      .collect()(0).getLong(0)
    assert(nParams == 2L)
    assert(rows("execute p1 using 1, 'zz'") == Seq(Seq(2, "b"), Seq(3, "c")))
    // user-variable arguments (reference variable/user_defined.rs)
    g.sql("set @lo = 2")
    assert(rows("execute p1 using @lo, 'b'") == Seq(Seq(3, "c")))
    g.sql("deallocate prepare p1")
    assertThrows[Exception](g.sql("execute p1 using 1, 'x'"))
  }

  test("B13 user variables substitute into queries") {
    g.sql("set @x = 40")
    assert(rows("select @x + 2 as v").head.head == 42)
    // quoted '@' untouched
    assert(rows("select 'a@x.com' as e").head.head == "a@x.com")
  }

  test("B13 com_field_list surface matches show columns") {
    g.sql("use test")
    assert(g.fieldList("user").collect().map(_.getString(0)).toSeq == Seq("id", "name"))
  }

  test("B14 describe / truncate / rename / CTAS / connection-info functions") {
    g.sql("use test")
    g.sql("create table src14 (id int, v double)")
    g.sql("insert into src14 values (1, 1.5), (2, 2.5), (3, 3.5)")
    // DESCRIBE == SHOW COLUMNS
    assert(rows("describe src14").map(_.head) == Seq("id", "v"))
    // CTAS infers schema from the select
    g.sql("create table agg14 as select id, v * 2 as dbl from src14 where id < 3")
    assert(rows("select * from agg14 order by id") ==
      Seq(Seq(1, 3.0), Seq(2, 5.0)))
    assert(rows("show columns from agg14").map(r => (r.head, r(1))) ==
      Seq(("id", "int"), ("dbl", "double")))
    // RENAME moves data without rewrite
    g.sql("rename table agg14 to agg14b")
    assert(rows("select count(*) c from agg14b").head.head == 2L)
    assert(!rows("show tables").map(_.head).contains("agg14"))
    // TRUNCATE reports removed rows and empties the table
    assert(rows("truncate table src14").head.head == 3L)
    assert(rows("select count(*) c from src14").head.head == 0L)
    // connection-info functions
    assert(rows("select database() as d").head.head == "test")
    assert(rows("select version() as v").head.head == "8.0.26-graft")
    assert(rows("select current_user() as u").head.head == "root@%")
    // ANALYZE passes through to Spark (stats for CBO/broadcast decisions)
    g.sql("analyze table test.src14 compute statistics")
  }

  test("warehouse reopen: a fresh session over an existing warehouse sees all schemas/tables") {
    g.sql("use test")  // ensure state from earlier tests exists
    val g2 = new GraftSession(spark, g.catalog.warehouse)
    g2.sql("use test")
    assert(g2.sql("show tables").collect().map(_.getString(0)).contains("user"))
    assert(g2.sql("select count(*) c from user").collect()(0).getLong(0) >= 0)
  }

  test("streaming ingest appends micro-batches into a catalog table") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    g.sql("use test")
    g.sql("create table live (id bigint, v double)")
    val input = MemoryStream[(Long, Double)](spark)
    val q = g.ingest(input.toDF().toDF("id", "v"), "live",
      Files.createTempDirectory("graft-ingest-chk").toString)
    input.addData((1L, 1.5), (2L, 2.5))
    q.processAllAvailable()
    assert(rows("select count(*) c from live").head.head == 2L)
    input.addData((3L, 3.5))
    q.processAllAvailable(); q.stop()
    assert(rows("select sum(id) s from live").head.head == 6L)
  }

  test("LOAD DATA INFILE bulk-loads csv with key semantics") {
    g.sql("use test")
    g.sql("create table ld (id int, name char, score double, primary key(id))")
    val f = Files.createTempFile("graft-load", ".csv")
    Files.writeString(f, "id,name,score\n1,ada,9.5\n2,bob,7.25\n3,cyd,8.0\n")
    val n = rows(s"load data infile '$f' into table ld " +
      "fields terminated by ',' ignore 1 lines").head.head
    assert(n == 3L)
    assert(rows("select name from ld order by id") ==
      Seq(Seq("ada"), Seq("bob"), Seq("cyd")))
    // strict mode: a second load of the same file is a duplicate-entry
    val e = intercept[graft.engine.SqlError](
      g.sql(s"load data infile '$f' into table ld " +
        "fields terminated by ',' ignore 1 lines"))
    assert(e.code == 1062)
    // REPLACE mode upserts, IGNORE mode skips
    val f2 = Files.createTempFile("graft-load2", ".csv")
    Files.writeString(f2, "2\tbobby\t7.5\n4\tdee\t6.0\n") // MySQL default tab sep
    assert(rows(s"load data infile '$f2' replace into table ld").head.head == 3L)
    assert(rows("select name from ld where id = 2").head.head == "bobby")
    assert(rows(s"load data infile '$f2' ignore into table ld").head.head == 0L)
    assert(rows("select count(*) from ld").head.head == 4L)
  }

  test("SELECT INTO OUTFILE exports csv that LOAD DATA round-trips") {
    g.sql("use test")
    g.sql("create table exp (id int, name char, primary key(id))")
    g.sql("insert into exp values (1,'ada'), (2,'bob')")
    val out = Files.createTempDirectory("graft-out").resolve("exp.csv")
    val n = rows(s"select id, name from exp order by id into outfile '$out' " +
      "fields terminated by ','").head.head
    assert(n == 2L)
    assert(Files.readString(out) == "1,ada\n2,bob\n")
    // MySQL 1086 semantics: refuse to clobber an existing file
    intercept[Exception](
      g.sql(s"select id from exp into outfile '$out'"))
    // and the export round-trips through LOAD DATA
    g.sql("create table exp2 (id int, name char, primary key(id))")
    assert(rows(s"load data infile '$out' into table exp2 " +
      "fields terminated by ','").head.head == 2L)
    assert(rows("select name from exp2 order by id") == Seq(Seq("ada"), Seq("bob")))
  }

  test("client-compat chatter: txn verbs, SET NAMES, SHOW WARNINGS are accepted") {
    g.sql("use test")
    // the statements every connector/mysqldump sends around real work
    for (s <- Seq("BEGIN", "START TRANSACTION", "SET NAMES utf8mb4",
        "SET CHARACTER SET utf8",
        "SET SESSION TRANSACTION ISOLATION LEVEL REPEATABLE READ",
        "LOCK TABLES t4 READ", "UNLOCK TABLES", "COMMIT", "ROLLBACK"))
      assert(g.sql(s).collect().nonEmpty, s"'$s' must answer an OK frame")
    val w = g.sql("SHOW WARNINGS")
    assert(w.columns.toSeq == Seq("Level", "Code", "Message") && w.isEmpty)
    // the session still works mid-"transaction" chatter
    g.sql("BEGIN")
    assert(rows("select count(*) c from t4").head.head == 3L)
    g.sql("COMMIT")
  }

  test("streaming upsert: each micro-batch REPLACEs by pk, latest orderCol wins") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    g.sql("use test")
    g.sql("create table live_up (id bigint, v double, primary key(id))")
    val input = MemoryStream[(Long, Double, Long)](spark)
    val q = g.ingestUpsert(input.toDF().toDF("id", "v", "ts"), "live_up",
      Files.createTempDirectory("graft-upsert-chk").toString, orderCol = "ts")
    input.addData((1L, 1.0, 10L), (2L, 2.0, 10L))
    q.processAllAvailable()
    assert(rows("select id, v from live_up order by id") ==
      Seq(Seq(1L, 1.0), Seq(2L, 2.0)))
    // batch 2: update key 1 (two versions in ONE batch — highest ts
    // wins), insert key 3
    input.addData((1L, 9.9, 21L), (1L, 5.0, 20L), (3L, 3.0, 20L))
    q.processAllAvailable(); q.stop()
    assert(rows("select id, v from live_up order by id") ==
      Seq(Seq(1L, 9.9), Seq(2L, 2.0), Seq(3L, 3.0)))
    // and the table is still DML-able on top of the stream's commits
    assert(rows("delete from live_up where id = 2").head.head == 1L)
    assert(rows("select count(*) c from live_up").head.head == 2L)
  }

  test("regression: multi-column UPDATE evaluates WHERE once against original rows") {
    g.sql("use test")
    g.sql("create table upd2 (a int, b int)")
    g.sql("insert into upd2 values (0, 0), (5, 5)")
    // the first assignment changes `a`; the second must still fire
    assert(rows("update upd2 set a = 1, b = 2 where a = 0").head.head == 1L)
    assert(rows("select a, b from upd2 order by a") ==
      Seq(Seq(1, 2), Seq(5, 5)))
  }

  test("regression: quoted 'where'/';'/'$' don't break parsing or substitution") {
    g.sql("use test")
    g.sql("create table strq (id int, msg char)")
    g.sql("insert into strq values (1, 'x')")
    g.sql("update strq set msg = 'a where b' where id = 1")
    assert(rows("select msg from strq").head.head == "a where b")
    g.sql("set session my_marker = 'A$B'")
    assert(rows("select @@my_marker as m").head.head == "A$B")
    assert(rows("select concat('v=', @@my_marker) as m").head.head == "v=A$B")
  }

  test("cross-session visibility: commits from one connection are read-committed in another") {
    // two connections = two spark.newSession()s = two relation caches
    // over ONE shared external catalog. Without commit-counter
    // freshening, conn B's cached FileIndex serves the old listing
    // forever after conn A's INSERT/UPDATE/DELETE.
    val wh = Files.createTempDirectory("graft-xsess-wh").toString
    val a = new GraftSession(spark.newSession(), wh)
    val b = new GraftSession(spark.newSession(), wh)
    a.sql("create schema xs"); a.sql("use xs"); b.sql("use xs")
    a.sql("create table ev (id int, v varchar(10))")
    def bRows() = b.sql("select id, v from ev order by id").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSeq
    a.sql("insert into ev values (1,'x')")
    assert(bRows() == Seq((1, "x")), "INSERT invisible to the other connection")
    b.sql("insert into ev values (2,'y')") // prime b's cache via its own write
    a.sql("update ev set v = 'z' where id = 1")
    assert(bRows() == Seq((1, "z"), (2, "y")), "UPDATE invisible to the other connection")
    a.sql("delete from ev where id = 2")
    assert(bRows() == Seq((1, "z")), "DELETE invisible to the other connection")
  }

  test("regression: @@variable values containing quotes/backslashes inline safely") {
    // value holds an apostrophe and a backslash; inlining it into SQL
    // unescaped would be malformed at best, injected SQL at worst
    g.sql("""set session my_quoted = "o'clock \ x"""")
    assert(rows("select @@my_quoted as m, 1 as one").head.head == "o'clock \\ x")
    // an attempted literal-breakout stays one literal after escaping
    g.sql("""set session my_evil = "a', (select 'pwn"""")
    assert(rows("select @@my_evil as m, 2 as two").head ==
      Seq("a', (select 'pwn", 2))
  }

  test("regression: ALTER TABLE ADD COLUMN with decimal(p,s)") {
    g.sql("use test")
    for ((t, ty) <- Seq("decc" -> "decimal(10,2)", "decc_sp" -> "decimal(10, 2)")) {
      g.sql(s"create table $t (id int)")
      g.sql(s"insert into $t values (1)")
      g.sql(s"alter table $t add column amt $ty")
      g.sql(s"update $t set amt = 12.34 where id = 1")
      assert(rows(s"select amt from $t").head.head.toString == "12.34")
      val cols = rows(s"show columns from $t").map(r => (r.head, r(1)))
      assert(cols == Seq(("id", "int"), ("amt", "decimal(10,2)")))
    }
    // the spaced form in CREATE TABLE as well
    g.sql("create table decc_ct (id int, amt decimal(10, 2))")
    g.sql("insert into decc_ct values (1, 12.34)")
    assert(rows("select amt from decc_ct").head.head.toString == "12.34")
    assert(rows("show columns from decc_ct").map(_(1)) == Seq("int", "decimal(10,2)"))
  }

  test("regression: underscore identifiers containing keywords parse correctly") {
    g.sql("use test")
    g.sql("create table wcol (where_ts int, val int)")
    g.sql("insert into wcol values (1, 10), (2, 20)")
    // 'where_ts' must not be read as the WHERE keyword
    assert(rows("update wcol set where_ts = 5").head.head == 2L)
    assert(rows("update wcol set val = where_ts + 1 where where_ts = 5").head.head == 2L)
    assert(rows("select val from wcol order by val") == Seq(Seq(6), Seq(6)))
  }

  test("regression: backslash-escaped quotes in literals") {
    g.sql("use test")
    g.sql("create table esc (id int, s char)")
    assert(rows("insert into esc values (1, 'don\\'t')").head.head == 1L)
    g.sql("update esc set s = 'won\\'t go' where id = 1")
    assert(rows("select s from esc").head.head == "won't go")
  }

  test("regression: tables NAMED engine/partition parse (keywords only cut after the column list)") {
    g.sql("use test")
    g.sql("create table engine (a int)")
    g.sql("insert into engine values (1)")
    assert(rows("select a from engine") == Seq(Seq(1)))
    g.sql("create table partition (b int) engine=csv")
    g.sql("insert into partition values (2)")
    assert(rows("select b from partition") == Seq(Seq(2)))
    g.sql("drop table engine")
    g.sql("drop table partition")
  }

  test("regression: quoted parens and casing in SQL text scanning") {
    // a ')' inside a string literal must not close the column list
    g.sql("use test")
    for ((ddl, cols) <- Seq(
           "create table qparen (a int, b char) engine=csv" -> Seq("a", "b"),
           "create table qparen (a varchar(5) default ')') engine=csv" -> Seq("a"))) {
      g.sql(ddl)
      assert(rows("show columns from qparen").map(_.head) == cols, ddl)
      assert(rows("show create table qparen").head(1).toString.endsWith("ENGINE=CSV"), ddl)
      g.sql("drop table qparen")
    }
    // no column list at all
    assert(intercept[graft.engine.SqlError](g.sql("create table qparen")).code == 1064)
    // uppercase scope prefixes resolve their scope (net_buffer_length
    // is untouched by other tests in this shared-session suite)
    g.sql("set session net_buffer_length = 42")
    assert(rows("select @@GLOBAL.net_buffer_length").head.head == "16384")
    assert(rows("select @@SESSION.net_buffer_length").head.head == "42")
  }

  test("cross-schema: qualified CTAS, rename across schemas, qualified DML") {
    g.sql("create schema xs1")
    g.sql("create schema xs2")
    g.sql("create table xs1.src (id int)")
    g.sql("insert into xs1.src values (1),(2),(3)")
    // CTAS into a different schema than current
    g.sql("create table xs2.copy as select id * 10 as id10 from xs1.src where id < 3")
    assert(rows("select * from xs2.copy order by id10") == Seq(Seq(10), Seq(20)))
    // rename across schemas moves data without rewrite
    g.sql("rename table xs2.copy to xs1.copied")
    assert(rows("select count(*) c from xs1.copied").head.head == 2L)
    // qualified UPDATE/DELETE from an unrelated current schema
    g.sql("use xs2")
    g.sql("update xs1.src set id = id + 100 where id = 3")
    assert(rows("delete from xs1.src where id > 100").head.head == 1L)
    assert(rows("select count(*) c from xs1.src").head.head == 2L)
    g.sql("use test")
  }

  test("error paths report clearly instead of corrupting state") {
    g.sql("use test")
    g.sql("create table errt (id int)")
    // duplicate create without IF NOT EXISTS
    assertThrows[Exception](g.sql("create table errt (id int)"))
    g.sql("create table if not exists errt (id int)") // no-op, no error
    // column count mismatch
    assertThrows[Exception](g.sql("insert into errt values (1, 2)"))
    // unknown column / table / database
    assertThrows[Exception](g.sql("update errt set nope = 1"))
    assertThrows[Exception](g.sql("drop table no_such_table"))
    assertThrows[Exception](g.sql("use no_such_db"))
    // state intact after the failures
    g.sql("insert into errt values (7)")
    assert(rows("select * from errt").head.head == 7)
  }

  test("A17 explain select surfaces a plan") {
    g.sql("use test")
    val out = rows("explain select count(*) from user")
    assert(out.head.head.toString.contains("Aggregate"))
  }

  test("A17 EXPLAIN ANALYZE executes and returns the plan with metrics") {
    // reference explain.rs:44: the ANALYZE flag runs the statement and
    // answers an executed-plan-with-metrics result set
    g.sql("use test")
    val out = rows("explain analyze select count(*) from user")
    assert(out.size == 1)
    val Seq(planType, plan) = out.head.map(_.toString)
    assert(planType == "Plan with Metrics")
    // the plan ran: the aggregate's numOutputRows metric is populated
    assert(plan.contains("HashAggregate") || plan.contains("Aggregate"))
    assert(plan.contains("numOutputRows=1"))
    // child statements still go through the session's MySQL rewrites
    val v = rows("explain analyze select @@version_comment as c")
    assert(v.head.head.toString == "Plan with Metrics")
  }

  test("A17 EXPLAIN ANALYZE VERBOSE renders per-operator wall times") {
    g.sql("use test")
    // a scan + aggregate carries timing SQLMetrics (scan time, agg build
    // time); VERBOSE renders them with units instead of raw accumulators
    val out = rows("explain analyze verbose select count(*) from user")
    assert(out.size == 1)
    val plan = out.head(1).toString
    assert(plan.contains(" ms"), s"no timing metric rendered in:\n$plan")
    // sizes are humanized too (bytes suffix somewhere in the scan node)
    assert(plan.contains("B") || plan.contains("KiB"))
  }

  test("A17 EXPLAIN ANALYZE FORMATTED prepends the formatted final plan") {
    g.sql("use test")
    val out = rows("explain analyze formatted select count(*) from user")
    assert(out.map(_.head.toString) ==
      Seq("Formatted Plan", "Plan with Metrics"))
    val formatted = out.head(1).toString
    // Spark's formatted explain: numbered operators + a details section
    assert(formatted.contains("(1)"))
    assert(out(1)(1).toString.contains(" ms") ||
      out(1)(1).toString.contains("numOutputRows"))
  }

  test("A17 EXPLAIN ANALYZE refuses DML/DDL children (MySQL 1235)") {
    g.sql("use test")
    g.sql("create table ea_guard (id int, primary key(id))")
    g.sql("insert into ea_guard values (1)")
    // a DML child would execute OUTSIDE graft's dispatch — no commit
    // protocol, no seq stamping — so it must be refused, not half-run
    val e = intercept[graft.engine.SqlError](
      g.sql("explain analyze insert into ea_guard values (2)"))
    assert(e.code == 1235)
    val e2 = intercept[graft.engine.SqlError](
      g.sql("explain analyze use test"))
    assert(e2.code == 1235)
    // and crucially: nothing was written
    assert(rows("select count(*) c from ea_guard").head.head == 1L)
    g.sql("drop table ea_guard")
  }

  test("B23 CREATE VIEW: logical, listed, redefinable, durable across reopen") {
    g.sql("use test")
    g.sql("create table vbase (id int, name char, primary key(id))")
    g.sql("insert into vbase values (1,'a'), (2,'b'), (3,'c')")
    g.sql("create view v_big as select id, name from vbase where id > 1")
    assert(rows("select id from v_big order by id") == Seq(Seq(2), Seq(3)))
    // SHOW TABLES lists it; SHOW FULL TABLES types it
    assert(rows("show tables").map(_.head).contains("v_big"))
    assert(rows("show full tables").collect {
      case Seq("v_big", ty) => ty } == Seq("VIEW"))
    val ddl = rows("show create view v_big").head
    assert(ddl.head == "v_big" &&
      ddl(1).toString.toLowerCase.contains("select"))
    // SHOW CREATE TABLE on a view answers the view shape (MySQL does)
    assert(rows("show create table v_big").head.head == "v_big")
    // information_schema.TABLES types it; VIEWS carries the definition
    assert(rows("select table_type from information_schema.tables " +
      "where table_name = 'v_big'").head.head == "VIEW")
    assert(rows("select view_definition from information_schema.views " +
      "where table_name = 'v_big'").head.head.toString.contains("vbase"))
    // logical, not materialized: tracks base-table DML
    g.sql("insert into vbase values (4,'d')")
    assert(rows("select id from v_big order by id") ==
      Seq(Seq(2), Seq(3), Seq(4)))
    // plain CREATE on an existing name errors; OR REPLACE redefines
    assertThrows[Exception](g.sql("create view v_big as select id from vbase"))
    g.sql("create or replace view v_big as select id from vbase where id > 2")
    assert(rows("select id from v_big order by id") == Seq(Seq(3), Seq(4)))
    // a view over a view, and name collisions with tables are refused
    g.sql("create view v_bigger as select id from v_big where id > 3")
    assert(rows("select id from v_bigger") == Seq(Seq(4)))
    assertThrows[Exception](g.sql("create table v_big (id int)"))
    assertThrows[Exception](g.sql("create view vbase as select 1 as x"))
    // CREATE VIEW validates its SELECT: bad references never land
    assertThrows[Exception](
      g.sql("create view v_bad as select nope from vbase"))
    assert(!rows("show tables").map(_.head).contains("v_bad"))
    // durable: a FRESH session over the same warehouse re-registers both
    // (the view-on-view needs the multi-pass init)
    val g2 = new GraftSession(spark.newSession(), g.catalog.warehouse)
    g2.sql("use test")
    assert(g2.sql("select id from v_bigger").collect().map(_.get(0)).toSeq ==
      Seq(4))
    assert(g2.sql("show create view v_big").collect().head.getString(0) ==
      "v_big")
    // DROP VIEW (and its error paths)
    g.sql("drop view v_bigger")
    assert(!rows("show tables").map(_.head).contains("v_bigger"))
    assertThrows[Exception](g.sql("drop view v_bigger"))
    g.sql("drop view if exists v_bigger") // no-op, no error
    assertThrows[Exception](g.sql("drop table v_big")) // a view is not a table
    g.sql("drop view v_big")
  }

  test("LOAD DATA: IGNORE n LINES (n>1), column list, SET expr tail") {
    g.sql("use test")
    g.sql("create table ld2 (id int, name char, score double, src char, " +
      "primary key(id))")
    val f = Files.createTempFile("graft-load3", ".csv")
    Files.writeString(f, "# preamble 1\n# preamble 2\nid,name\n1,ada\n2,bob\n")
    // three junk lines skipped, two real columns read, two computed
    val n = rows(s"load data infile '$f' into table ld2 " +
      "fields terminated by ',' ignore 3 lines (id, name) " +
      "set score = id * 2.5, src = upper(name)").head.head
    assert(n == 2L)
    assert(rows("select id, name, score, src from ld2 order by id") ==
      Seq(Seq(1, "ada", 2.5, "ADA"), Seq(2, "bob", 5.0, "BOB")))
    // a column neither listed nor SET loads as NULL
    g.sql("create table ld2b (id int, name char, score double)")
    val f2 = Files.createTempFile("graft-load3b", ".csv")
    Files.writeString(f2, "7,zed\n")
    assert(rows(s"load data infile '$f2' into table ld2b " +
      "fields terminated by ',' (id, name)").head.head == 1L)
    assert(rows("select score from ld2b").head.head == null)
  }

  test("LOAD DATA: IGNORE n LINES keeps quoted fields with embedded newlines") {
    g.sql("use test")
    g.sql("create table ldm (id int, body char, primary key(id))")
    val f = Files.createTempFile("graft-loadml", ".csv")
    // header + two records whose quoted bodies contain raw newlines —
    // the skip path must count parsed records, not raw text lines
    Files.writeString(f,
      "id,body\n1,\"line one\nline two\"\n2,\"a\nb\nc\"\n")
    val n = rows(s"load data infile '$f' into table ldm " +
      "fields terminated by ',' enclosed by '\"' ignore 1 lines").head.head
    assert(n == 2L)
    assert(rows("select id, body from ldm order by id") ==
      Seq(Seq(1, "line one\nline two"), Seq(2, "a\nb\nc")))
  }

  test("SHOW WARNINGS LIMIT n (connector form) applies the limit") {
    g.sql("use test")
    g.sql("create table swl (id int, primary key(id))")
    g.sql("begin"); g.sql("insert into swl values (1)"); g.sql("rollback")
    assert(rows("show warnings").size == 1)
    // LIMIT does not clear and does not error
    assert(rows("show warnings limit 5").size == 1)
    assert(rows("show warnings limit 0").isEmpty)
    assert(rows("show warnings limit 1, 10").isEmpty) // offset past end
    assert(rows("show warnings limit 0, 1").size == 1)
    // the diagnostics area survived all those reads
    assert(rows("show warnings").size == 1)
    g.sql("drop table swl")
  }

  test("secure_file_priv: a symlink inside the sandbox cannot escape it") {
    val root = Files.createTempDirectory("graft-priv-sym")
    val outside = Files.createTempDirectory("graft-priv-out")
    val gs = new GraftSession(spark.newSession(), g.catalog.warehouse,
      secureFilePriv = root.toString)
    gs.sql("use test")
    gs.sql("create table sfps (id int, primary key(id))")
    gs.sql("insert into sfps values (1)")
    // symlinked dir: root/link -> outside; writes through it must be 1290
    val link = root.resolve("link")
    Files.createSymbolicLink(link, outside)
    val e = intercept[graft.engine.SqlError](gs.sql(
      s"select id from sfps into outfile '$link/escape.csv'"))
    assert(e.code == 1290)
    // symlinked file: root/data.csv -> outside/secret.csv; reads too
    val secret = outside.resolve("secret.csv")
    Files.writeString(secret, "9\n")
    val flink = root.resolve("data.csv")
    Files.createSymbolicLink(flink, secret)
    val e2 = intercept[graft.engine.SqlError](gs.sql(
      s"load data infile '$flink' into table sfps"))
    assert(e2.code == 1290)
    // an honest file inside the sandbox still works both ways
    val ok = root.resolve("ok.csv")
    gs.sql(s"select id from sfps into outfile '$ok'")
    assert(gs.sql(s"load data infile '$ok' replace into table sfps")
      .collect().head.getLong(0) >= 1L)
    gs.sql("drop table sfps")
  }

  test("LOAD DATA: unrecognized clauses are 1149 errors, never silent no-ops") {
    g.sql("use test")
    g.sql("create table ld3 (id int, name char, primary key(id))")
    val f = Files.createTempFile("graft-load4", ".csv")
    Files.writeString(f, "1,a\n")
    // junk tail
    val e = intercept[graft.engine.SqlError](g.sql(
      s"load data infile '$f' into table ld3 fields terminated by ',' frobnicate"))
    assert(e.code == 1149)
    // @variable capture in the column list
    val e2 = intercept[graft.engine.SqlError](g.sql(
      s"load data infile '$f' into table ld3 fields terminated by ',' (id, @x)"))
    assert(e2.code == 1149)
    // LINES STARTING BY and exotic terminators are refused
    val e3 = intercept[graft.engine.SqlError](g.sql(
      s"load data infile '$f' into table ld3 fields terminated by ',' " +
        "lines starting by 'xx'"))
    assert(e3.code == 1149)
    // nothing landed through any of the failures...
    assert(rows("select count(*) from ld3").head.head == 0L)
    // ...and the accepted spellings work: LINES TERMINATED BY '\n',
    // CHARACTER SET utf8mb4
    assert(rows(s"load data infile '$f' into table ld3 " +
      "character set utf8mb4 fields terminated by ',' " +
      "lines terminated by '\\n'").head.head == 1L)
  }

  test("secure_file_priv sandboxes LOAD DATA and INTO OUTFILE (error 1290)") {
    val root = Files.createTempDirectory("graft-priv")
    val gs = new GraftSession(spark.newSession(), g.catalog.warehouse,
      secureFilePriv = root.toString)
    gs.sql("use test")
    gs.sql("create table sfp (id int, primary key(id))")
    gs.sql("insert into sfp values (1)")
    // inside the sandbox both directions work
    val okOut = root.resolve("ok.csv")
    gs.sql(s"select id from sfp into outfile '$okOut'")
    assert(Files.exists(okOut))
    assert(gs.sql(s"load data infile '$okOut' replace into table sfp")
      .collect().head.getLong(0) >= 1L)
    // outside: MySQL error 1290 for read AND write
    val e = intercept[graft.engine.SqlError](gs.sql(
      "select id from sfp into outfile '/tmp/graft-escape.csv'"))
    assert(e.code == 1290)
    val e2 = intercept[graft.engine.SqlError](
      gs.sql("load data infile '/etc/passwd' into table sfp"))
    assert(e2.code == 1290)
    // ../ traversal out of the sandbox is normalized away
    val e3 = intercept[graft.engine.SqlError](gs.sql(
      s"select id from sfp into outfile '$root/../escape.csv'"))
    assert(e3.code == 1290)
    // the gate is not loosenable over SQL (read-only variable, 1238)
    val e4 = intercept[graft.engine.SqlError](
      gs.sql("set secure_file_priv = ''"))
    assert(e4.code == 1238)
    // but it IS visible
    assert(gs.sql("show variables like 'secure_file_priv'")
      .collect().head.getString(1) == root.toString)
    gs.sql("drop table sfp")
  }

  test("no-op ROLLBACK after writes queues warning 1196 (SHOW WARNINGS)") {
    g.sql("use test")
    g.sql("create table rb (id int, primary key(id))")
    g.sql("begin")
    g.sql("insert into rb values (1)")
    g.sql("rollback")
    assert(rows("show warnings") == Seq(Seq("Warning", "1196",
      "Some non-transactional changed tables couldn't be rolled back")))
    // reading the diagnostics area does not clear it
    assert(rows("show warnings").nonEmpty)
    // the partial write really is still there (what the warning is about)
    assert(rows("select count(*) from rb").head.head == 1L)
    // ...and that statement cleared the diagnostics area
    assert(rows("show warnings").isEmpty)
    // a write-free transaction rolls back silently
    g.sql("begin"); g.sql("rollback")
    assert(rows("show warnings").isEmpty)
    // a failed INSERT leaves txDirty unset: rollback after it is silent
    g.sql("begin")
    assertThrows[Exception](g.sql("insert into rb values (1)")) // dup 1062
    g.sql("rollback")
    assert(rows("show warnings").isEmpty)
  }

  test("comment-prefixed DELETE, SHOW TABLES and connector preambles take graft's paths") {
    g.sql("use test")
    g.sql("create table cdel (id int, v text, primary key(id))")
    g.sql("insert into cdel values (1, 'a'), (2, 'b')")
    // graft's merge-on-read DELETE answers its affected-rows frame
    val del = g.sql("/* c */ delete from cdel where id = 1")
    assert(del.schema.head.metadata.contains(GraftSession.DmlCountTag))
    assert(del.collect().head.getLong(0) == 1L)
    assert(rows("select id from cdel") == Seq(Seq(2)))
    // graft's listing: MySQL's column name, no storage-internal tables
    val tabs = g.sql("/* c */ show tables")
    assert(tabs.columns.toSeq == Seq("Tables_in_test"))
    val names = tabs.collect().map(_.getString(0)).toSeq
    assert(names.contains("cdel") && !names.exists(_.contains("__graft_")), names)
    // mysqldump / connector preamble: an executable comment runs
    assert(rows("/*!40101 SET NAMES utf8 */") == Seq(Seq(0L)))
    assert(rows("/*!40101 SET @old_mode = 'x' */") == Seq(Seq(0L)))
    assert(rows("select @old_mode") == Seq(Seq("x")))
    g.sql("drop table cdel")
  }

  test("a comment-prefixed SHOW WARNINGS reads without clearing the diagnostics area") {
    g.sql("use test")
    g.sql("create table cw (id int, primary key(id))")
    g.sql("begin"); g.sql("insert into cw values (1)"); g.sql("rollback")
    assert(rows("/* c */ show warnings").size == 1)
    assert(rows("-- c\nshow warnings").size == 1)
    g.sql("drop table cw")
  }

  test("malformed statements of a known verb answer 1064; unknown verbs never reach Spark") {
    g.sql("use test")
    g.sql("create table mf (id int, primary key(id))")
    for (bad <- Seq("insert overwrite table mf select 1", "insert into mf",
                    "update mf set", "update mf set id", "delete mf", "drop table",
                    "create table", "create schema", "create view v", "drop view",
                    "show columns", "show create table", "show commits", "describe",
                    "optimize", "truncate", "rename table mf", "analyze table",
                    "load data infile", "prepare p", "execute", "deallocate prepare",
                    "set", "explain analyze", "show nonsense", "selectx 1",
                    "cache table mf", "create temporary view tv as select 1",
                    "create function f as 'x'", "/* only a comment */")) {
      val e = intercept[graft.engine.SqlError](g.sql(bad))
      assert(e.code == 1064 && e.sqlState == "42000", s"$bad: ${e.getMessage}")
    }
    // server-scope verbs need a connection registry
    assert(intercept[graft.engine.SqlError](g.sql("/* c */ kill 1")).code == 1235)
    // a comment inside a known verb is whitespace, not a syntax error
    assert(rows("insert /* c */ into mf values (2)") == Seq(Seq(1L)))
    // a relational form hiding a write is refused before it runs
    for (hidden <- Seq("with s as (select 3 as id) insert into mf select * from s",
                       "from (select 4 as id) s insert into mf select *"))
      assert(intercept[graft.engine.SqlError](g.sql(hidden)).code == 1064, hidden)
    assert(rows("select id from mf") == Seq(Seq(2)))
    // INSERT OVERWRITE DIRECTORY parses to a plan that only becomes a
    // command during analysis; the guard reads the analyzed plan
    val dir = java.nio.file.Files.createTempDirectory("graft-guard")
    java.nio.file.Files.writeString(dir.resolve("keep.txt"), "keep")
    for (hidden <- Seq(
           s"with s as (select 1 as a) insert overwrite local directory '$dir' using csv select * from s",
           s"from (select 1 as a) s insert overwrite local directory '$dir' using csv select *",
           s"/* c */ with s as (select 1 as a) insert overwrite directory '$dir' using csv select * from s"))
      assert(intercept[graft.engine.SqlError](g.sql(hidden)).code == 1064, hidden)
    assert(dir.toFile.list().toSeq == Seq("keep.txt"))
    // EXPLAIN stays relational: it describes, it does not execute
    assert(rows("explain insert into mf values (5)").nonEmpty)
    assert(rows("select count(*) from mf") == Seq(Seq(1L)))
    g.sql("drop table mf")
  }

  test("executable comments inside a SELECT are comments to Spark (mysqldump's SQL_NO_CACHE)") {
    g.sql("use test")
    g.sql("create table nc (id int)")
    g.sql("insert into nc values (1)")
    assert(rows("SELECT /*!40001 SQL_NO_CACHE */ * FROM `nc`") == Seq(Seq(1)))
    assert(rows("select /*!99999 nonsense */ id from nc") == Seq(Seq(1)))
    assert(rows("explain analyze select /*!40001 SQL_NO_CACHE */ * from nc").nonEmpty)
    g.sql("drop table nc")
  }

  test("a mysqldump-shaped script replays: DISABLE/ENABLE KEYS answer OK") {
    g.sql("use test")
    g.sql("create table dumped (id int, v text, primary key(id))")
    val script =
      """/*!40101 SET NAMES utf8 */;
        |/*!40000 ALTER TABLE `dumped` DISABLE KEYS */;
        |INSERT INTO `dumped` VALUES (1,'a'),(2,'b'),(3,'c');
        |/*!40000 ALTER TABLE `dumped` ENABLE KEYS */;
        |""".stripMargin
    for (stmt <- graft.engine.SqlText.splitTopLevel(script, ';').map(_.trim)
         if stmt.nonEmpty)
      g.sql(stmt)
    assert(rows("select id, v from dumped order by id") ==
      Seq(Seq(1, "a"), Seq(2, "b"), Seq(3, "c")))
    // the no-op still names a missing table
    val e = intercept[graft.engine.SqlError](
      g.sql("/*!40000 ALTER TABLE `no_such` DISABLE KEYS */"))
    assert(e.code == 1146 && e.sqlState == "42S02", e.getMessage)
    g.sql("drop table dumped")
  }

  test("regression: DELETE keeps rows whose predicate is NULL on every engine and layout") {
    val gs = new GraftSession(spark.newSession(),
      Files.createTempDirectory("graft-wh-dnull").toString)
    gs.sql("create schema dnull")
    gs.sql("use dnull")
    def rs(sql: String) = gs.sql(sql).collect().toSeq.map(_.toSeq)
    val layouts =
      (for (engine <- Seq("sled", "parquet", "csv", "memory");
            (kind, cols) <- Seq("pk" -> "id int primary key, v int",
                                "nokey" -> "id int, v int"))
       yield s"${engine}_$kind" -> s"($cols) engine=$engine") :+
        ("partitioned" -> "(id int, v int, site varchar(4)) partition by (site)")
    for ((name, ddl) <- layouts) {
      gs.sql(s"create table $name $ddl")
      val values =
        if (name == "partitioned") "(1,5,'a'),(2,NULL,'a'),(3,7,'b')"
        else "(1,5),(2,NULL),(3,7)"
      gs.sql(s"insert into $name values $values")
      assert(rs(s"delete from $name where v = 5") == Seq(Seq(1L)), name)
      assert(rs(s"select id from $name order by id") == Seq(Seq(2), Seq(3)), name)
      assert(rs(s"delete from $name where v > 100") == Seq(Seq(0L)), name)
      assert(rs(s"select count(*) from $name") == Seq(Seq(2L)), name)
    }
    // a NULL in a UNIQUE column is not a match either
    gs.sql("create table uq (id int primary key, u varchar(4), unique key (u)) engine=sled")
    gs.sql("insert into uq values (1,'e'),(2,NULL),(3,'f')")
    assert(rs("delete from uq where u = 'e'") == Seq(Seq(1L)))
    assert(rs("select id from uq order by id") == Seq(Seq(2), Seq(3)))
  }

  test("regression: REPLACE on a csv table whose key is not its first column keeps its columns") {
    val gs = new GraftSession(spark.newSession(),
      Files.createTempDirectory("graft-wh-csvkey").toString)
    gs.sql("create schema ck")
    gs.sql("use ck")
    def rs(sql: String) = gs.sql(sql).collect().toSeq.map(_.toSeq)
    for (key <- Seq("primary key (id)", "unique key (id)")) {
      gs.sql("drop table if exists kv")
      gs.sql(s"create table kv (v varchar(4), id int, $key) engine=csv")
      gs.sql("insert into kv values ('a', 1), ('b', 2)")
      assert(rs("replace into kv values ('z', 1)") == Seq(Seq(2L)), key)
      assert(rs("select v, id from kv order by id") == Seq(Seq("z", 1), Seq("b", 2)), key)
    }
  }

  test("a non-deterministic WHERE reports exactly the rows UPDATE and DELETE changed") {
    val gs = new GraftSession(spark.newSession(),
      Files.createTempDirectory("graft-wh-rand").toString)
    gs.sql("create schema rnd")
    gs.sql("use rnd")
    def rs(sql: String) = gs.sql(sql).collect().toSeq.map(_.toSeq)
    val values = (1 to 20).map(i => s"($i, 0)").mkString(", ")
    for ((name, ddl) <- Seq(
           "k_parquet" -> "(id int primary key, v int) engine=parquet",
           "k_sled" -> "(id int primary key, v int) engine=sled",
           "nokey" -> "(id int, v int)")) {
      gs.sql(s"create table $name $ddl")
      gs.sql(s"insert into $name values $values")
      val n = rs(s"update $name set v = 1 where rand() < 0.5").head.head
      assert(rs(s"select count(*), sum(v) from $name") == Seq(Seq(20L, n)), name)
      val d = rs(s"delete from $name where rand() < 0.5").head.head.asInstanceOf[Long]
      assert(rs(s"select count(*) from $name") == Seq(Seq(20L - d)), name)
    }
    assert(rs("update nokey set v = 7 where id <= 5").head.head ==
      rs("select count(*) from nokey where id <= 5").head.head)
  }

  test("UPDATE on a keyless table loses no row a concurrent INSERT lands") {
    val wh = Files.createTempDirectory("graft-wh-updrace").toString
    val gs = new GraftSession(spark.newSession(), wh)
    gs.sql("create schema race")
    gs.sql("use race")
    gs.sql("create table nokey (id int, a int, b int) engine=sled")
    gs.sql("insert into nokey values " + (1 to 10).map(i => s"($i, 0, 0)").mkString(", "))
    val writer = new GraftSession(spark.newSession(), wh)
    writer.sql("use race")
    val inserts = new Thread(() =>
      (100 until 124).foreach(i => writer.sql(s"insert into nokey values ($i, 0, 0)")))
    inserts.start()
    val updates = (1 to 4).map(_ => gs.sql("update nokey set a = a + 1, b = b + 1")
      .collect().head.getLong(0))
    inserts.join()
    val rows = gs.sql("select id, a, b from nokey").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2))).toSeq
    // every acknowledged insert is there exactly once, no row is half
    // updated, and the rows present from the start saw every UPDATE
    assert(rows.map(_._1).sorted == ((1 to 10) ++ (100 until 124)), rows)
    assert(rows.forall { case (_, a, b) => a == b }, rows)
    assert(rows.filter(_._1 <= 10).forall(_._2 == 4), rows)
    // each UPDATE reported the rows it changed
    assert(updates.sum == rows.map(_._2.toLong).sum, (updates, rows))
  }

  test("SHOW honours FROM|IN db; an unknown database is 1049") {
    g.sql("create schema sha")
    g.sql("create schema shb")
    g.sql("create table sha.ta (id int, v int, primary key (id))")
    g.sql("create table shb.ta (id int, w int, u int, unique key uq (u))")
    g.sql("create table shb.tb (x int)")
    g.sql("use sha")
    assert(rows("show tables from shb") == Seq(Seq("ta"), Seq("tb")))
    val full = g.sql("show full tables in shb")
    assert(full.columns.head == "Tables_in_shb")
    assert(full.collect().map(_.toSeq).toSeq ==
      Seq(Seq("ta", "BASE TABLE"), Seq("tb", "BASE TABLE")))
    assert(rows("show table status from shb like 't%'").map(_.head) == Seq("ta", "tb"))
    // `ta` exists in both schemas: the named one answers
    assert(rows("show columns from ta from shb").map(_.head) == Seq("id", "w", "u"))
    assert(rows("show full columns in ta in shb").map(_.head) == Seq("id", "w", "u"))
    assert(rows("show index from ta in shb") == Seq(Seq("ta", "0", "uq", "1", "u", "BTREE")))
    assert(rows("show keys from ta") == Seq(Seq("ta", "0", "PRIMARY", "1", "id", "BTREE")))
    assert(rows("show tables") == Seq(Seq("ta")))
    // WHERE filters over the answer's columns (a connector's form)
    assert(rows("show tables in shb where Tables_in_shb <> 'ta'") == Seq(Seq("tb")))
    assert(rows("show variables where Variable_name = 'version'").map(_.head) == Seq("version"))
    for (bad <- Seq("show tables from nodb", "show full tables in nodb",
                    "show table status from nodb", "show columns from ta from nodb",
                    "show index from ta in nodb")) {
      val e = intercept[graft.engine.SqlError](g.sql(bad))
      assert(e.code == 1049 && e.getMessage == "Unknown database 'nodb'", bad)
    }
  }

  test("column names resolve case-insensitively in INSERT, UPDATE and LOAD DATA; an unknown one is 1054") {
    g.sql("use test")
    g.sql("create table cit (id int, v int, primary key (id))")
    assert(rows("insert into cit (ID, V) values (1, 2)") == Seq(Seq(1L)))
    assert(rows("update cit set V = 3") == Seq(Seq(1L)))
    assert(rows("select id, v from cit") == Seq(Seq(1, 3)))
    // the write lands under the stored spelling, so the key still holds
    assert(intercept[graft.engine.SqlError](
      g.sql("insert into cit (Id, v) values (1, 9)")).code == 1062)
    assert(rows("update cit set ID = 7, V = 1") == Seq(Seq(1L)))
    val f = Files.createTempFile("graft-cit", ".csv")
    Files.writeString(f, "2,20\n")
    assert(rows(s"load data infile '$f' into table cit fields terminated by ',' (Id, V) " +
      "set V = V * 2") == Seq(Seq(1L)))
    assert(rows("select id, v from cit order by id") == Seq(Seq(2, 40), Seq(7, 1)))
    for (bad <- Seq("insert into cit (id, Nope) values (1, 2)", "update cit set Nope = 1",
                    s"load data infile '$f' into table cit fields terminated by ',' (id, Nope)",
                    s"load data infile '$f' into table cit fields terminated by ',' set Nope = 1")) {
      val e = intercept[graft.engine.SqlError](g.sql(bad))
      assert(e.code == 1054 && e.sqlState == "42S22" &&
        e.getMessage == "Unknown column 'Nope' in 'field list'", s"$bad: ${e.getMessage}")
    }
  }

  test("identifier forms × verb: each form answers as the bare name; unstorable names are 1103") {
    g.sql("create schema idf")
    g.sql("use idf")
    val f = Files.createTempFile("graft-idf", ".tsv")
    Files.writeString(f, "5\t50\n6\t60\n")
    // %t / %t2: the table reference in the form under test; {c}: a column
    val script = Seq(
      "create table %t (id int, v int, w int, primary key (id))",
      "insert into %t ({id}, {v}) values (1, 10), (2, 20)",
      "insert into %t ({id}, {v}) values (1, 99)",
      "insert into %t ({id}, nope) values (9, 9)",
      "replace into %t ({id}, {v}, {w}) values (2, 21, 0), (3, 30, 0)",
      "update %t set {v} = {v} + 1 where {id} = 1",
      "delete from %t where {id} = 3",
      s"load data infile '$f' into table %t ({id}, {v})",
      "alter table %t add column x int",
      "alter table %t add unique key uq ({v})",
      "alter table %t drop column {w}",
      "show columns from %t",
      "show index from %t",
      "show create table %t",
      "select * from %t order by id",
      "optimize table %t",
      "analyze table %t",
      "truncate table %t",
      "select count(*) from %t",
      "rename table %t to %t2",
      "drop table %t2")
    def run(name: String, ref: String => String, cols: String => String): Seq[Any] =
      script.map { s =>
        val sql = Seq("id", "v", "w").foldLeft(
          s.replace("%t2", ref(name + "2")).replace("%t", ref(name)))((q, c) =>
          q.replace(s"{$c}", cols(c)))
        try g.sql(sql).collect().toSeq.map(_.toSeq.map {
          case `name` => "T"
          case v: String => v.replace(s"idf.$name", "idf.T").replace(s"`$name`", "`T`")
          case v => v
        })
        catch {
          case e: graft.engine.SqlError => s"error ${e.code}"
          case e: Exception => s"error ${e.getClass.getSimpleName}"
        }
      }
    val bare = run("idt", identity, identity)
    val forms: Seq[(String, String, String => String, String => String)] = Seq(
      ("backticked", "idt", n => s"`$n`", identity),
      ("db.t", "idt", n => s"idf.$n", identity),
      ("`db`.`t`", "idt", n => s"`idf`.`$n`", identity),
      ("`db`.t", "idt", n => s"`idf`.$n", identity),
      ("reserved word", "select", n => s"`$n`", identity),
      ("mixed-case columns", "idt", identity, _.toUpperCase))
    for ((form, name, ref, cols) <- forms)
      assert(run(name, ref, cols) == bare, form)
    for (bad <- Seq("`a b`", "`a.b`"); s <- script if !s.startsWith("select")) {
      val sql = s.replace("%t2", bad).replace("%t", bad).replaceAll("\\{(\\w+)\\}", "$1")
      val e = intercept[graft.engine.SqlError](g.sql(sql))
      assert(e.code == 1103, s"$sql: ${e.getMessage}")
    }
    assert(bare(2) == "error 1062" && bare(3) == "error 1054", bare)
    assert(bare(14) == Seq(Seq(1, 11, null), Seq(2, 21, null), Seq(5, 50, null),
      Seq(6, 60, null)), bare)
  }

  test("ANALYZE TABLE on a merge-on-read table answers MySQL's result set for every name form") {
    g.sql("create schema idfa")
    g.sql("use idfa")
    for (name <- Seq("ida", "select")) {
      g.sql(s"create table `$name` (id int, v int, primary key (id))")
      g.sql(s"insert into `$name` values (1, 10), (2, 20), (3, 20)")
      assert(g.catalog.meta("idfa", name).mergeOnRead)
    }
    for (ref <- Seq("ida", "`ida`", "idfa.ida", "`idfa`.`ida`", "`idfa`.ida",
                    "`select`", "idfa.`select`")) {
      val name = if (ref.contains("select")) "select" else "ida"
      assert(rows(s"analyze table $ref") ==
        Seq(Seq(s"idfa.$name", "analyze", "status", "OK")), ref)
    }
    // graft's ndv refresh ran: the relation under the merge view carries
    // the distinct count Spark's own command would have refused to take
    val st = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier("ida__graft_base", Some("idfa"))).stats
    assert(st.flatMap(_.colStats.get("v")).flatMap(_.distinctCount).contains(BigInt(2)), st)
  }
}
