package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{GraftSession, SqlError}

/** UNIQUE (non-PK) constraint enforcement — the reference's level-2
  * index (meta_util.rs get_table_index_list catalogs
  * TableConstraint::Unique; insert.rs:197-217 answers 1062 on any
  * level-1/level-2 hit). graft enforces declaratively per landing batch:
  * no physical index, one duplicate probe per key set on every write
  * path (INSERT / INSERT IGNORE / REPLACE / LOAD DATA / UPDATE), NULLs
  * exempt (MySQL permits any number of NULLs in a unique index).
  */
class UniqueConstraintSpec extends AnyFunSuite {
  import SparkFixture._

  private def freshSession(): GraftSession = {
    val wh = Files.createTempDirectory("graft-uq-wh").toString
    val g = new GraftSession(spark.newSession(), wh)
    g.sql("create schema uq")
    g.sql("use uq")
    g
  }

  private def rows(g: GraftSession, sql: String): Seq[Seq[String]] =
    g.sql(sql).collect().toSeq.map(r =>
      (0 until r.length).map(i => String.valueOf(r.get(i))))

  private def dup1062(body: => Any): SqlError = {
    val e = intercept[SqlError](body)
    assert(e.code == 1062 && e.sqlState == "23000", e.getMessage)
    e
  }

  test("INSERT duplicate on a declared UNIQUE column answers 1062 with the key name") {
    val g = freshSession()
    g.sql("create table u1 (id int primary key, email text, unique key uq_email (email))")
    g.sql("insert into u1 values (1, 'a@x'), (2, 'b@x')")
    // collision with the table
    val e1 = dup1062(g.sql("insert into u1 values (3, 'a@x')"))
    assert(e1.getMessage.contains("u1.uq_email"), e1.getMessage)
    // collision within one batch
    val e2 = dup1062(g.sql("insert into u1 values (4, 'c@x'), (5, 'c@x')"))
    assert(e2.getMessage.contains("u1.uq_email"))
    // pk collisions still answer with PRIMARY
    val e3 = dup1062(g.sql("insert into u1 values (1, 'z@x')"))
    assert(e3.getMessage.contains("u1.PRIMARY"))
    // nothing landed from the failed batches
    assert(rows(g, "select count(*) from u1") == Seq(Seq("2")))
  }

  test("inline column UNIQUE and composite CONSTRAINT ... UNIQUE forms") {
    val g = freshSession()
    g.sql("create table u2 (id int primary key, sku text unique, a int, b int, " +
      "constraint uq_ab unique (a, b))")
    g.sql("insert into u2 values (1, 's1', 10, 20)")
    val e1 = dup1062(g.sql("insert into u2 values (2, 's1', 11, 21)"))
    assert(e1.getMessage.contains("u2.sku")) // MySQL default name = column
    val e2 = dup1062(g.sql("insert into u2 values (2, 's2', 10, 20)"))
    assert(e2.getMessage.contains("u2.uq_ab"))
    // same a, different b is fine
    g.sql("insert into u2 values (2, 's2', 10, 21)")
    assert(rows(g, "select count(*) from u2") == Seq(Seq("2")))
  }

  test("NULLs never collide on a UNIQUE set (MySQL semantics)") {
    val g = freshSession()
    g.sql("create table u3 (id int primary key, email text, unique (email))")
    g.sql("insert into u3 values (1, null), (2, null)")
    g.sql("insert into u3 values (3, null)")
    assert(rows(g, "select count(*) from u3") == Seq(Seq("3")))
    // composite: ANY null column exempts the row
    g.sql("create table u4 (id int primary key, a int, b int, unique key uq (a, b))")
    g.sql("insert into u4 values (1, 1, null), (2, 1, null), (3, null, 2), (4, null, 2)")
    assert(rows(g, "select count(*) from u4") == Seq(Seq("4")))
    dup1062(g.sql("insert into u4 values (5, 7, 8), (6, 7, 8)"))
  }

  test("UNIQUE without a PRIMARY KEY is still enforced") {
    val g = freshSession()
    g.sql("create table u5 (name text, unique key uq_name (name))")
    g.sql("insert into u5 values ('x'), ('y')")
    dup1062(g.sql("insert into u5 values ('x')"))
    assert(rows(g, "select count(*) from u5 where name = 'x'") == Seq(Seq("1")))
  }

  test("INSERT IGNORE skips unique conflicts, first batch row wins") {
    val g = freshSession()
    g.sql("create table u6 (id int primary key, email text, unique key uq_email (email))")
    g.sql("insert into u6 values (1, 'a@x')")
    // row 2 conflicts with the table on email; row 3 lands; rows 4/5
    // collide within the batch — the first (id 4) wins
    g.sql("insert ignore into u6 values (2, 'a@x'), (3, 'b@x'), (4, 'c@x'), (5, 'c@x')")
    assert(rows(g, "select id, email from u6 order by id") ==
      Seq(Seq("1", "a@x"), Seq("3", "b@x"), Seq("4", "c@x")))
    // null-keyed rows always pass through IGNORE
    g.sql("insert ignore into u6 values (6, null), (7, null)")
    assert(rows(g, "select count(*) from u6") == Seq(Seq("5")))
  }

  test("REPLACE displaces the existing row on a unique-key collision (CoW and MoR)") {
    // MoR shape: pk + unique on a pure-parquet table
    val g = freshSession()
    g.sql("create table u7 (id int primary key, email text, n int, unique key uq_email (email))")
    g.sql("insert into u7 values (1, 'a@x', 10), (2, 'b@x', 20)")
    // new pk 3 collides with pk-1's email: row 1 must be displaced
    g.sql("replace into u7 values (3, 'a@x', 30)")
    assert(rows(g, "select id, email, n from u7 order by id") ==
      Seq(Seq("2", "b@x", "20"), Seq("3", "a@x", "30")))
    // colliding on BOTH keys displaces both victims
    g.sql("replace into u7 values (2, 'a@x', 40)")
    assert(rows(g, "select id, email, n from u7 order by id") ==
      Seq(Seq("2", "a@x", "40")))
    // batch keep-last per key
    g.sql("replace into u7 values (5, 'e@x', 1), (5, 'f@x', 2)")
    assert(rows(g, "select email, n from u7 where id = 5") == Seq(Seq("f@x", "2")))

    // CoW shape: unique key, no pk
    g.sql("create table u8 (email text, n int, unique key uq (email))")
    g.sql("insert into u8 values ('a@x', 1), ('b@x', 2)")
    g.sql("replace into u8 values ('a@x', 9)")
    assert(rows(g, "select email, n from u8 order by email") ==
      Seq(Seq("a@x", "9"), Seq("b@x", "2")))
  }

  test("UPDATE into a unique collision answers 1062 and leaves the table untouched") {
    val g = freshSession()
    // copy-on-write shape (no pk)
    g.sql("create table u9 (id int, email text, unique key uq_email (email))")
    g.sql("insert into u9 values (1, 'a@x'), (2, 'b@x')")
    dup1062(g.sql("update u9 set email = 'a@x' where id = 2"))
    assert(rows(g, "select email from u9 order by email") ==
      Seq(Seq("a@x"), Seq("b@x")))
    // merge-on-read shape (pk + unique)
    g.sql("create table u10 (id int primary key, email text, unique key uq_email (email))")
    g.sql("insert into u10 values (1, 'a@x'), (2, 'b@x')")
    dup1062(g.sql("update u10 set email = 'a@x' where id = 2"))
    assert(rows(g, "select id, email from u10 order by id") ==
      Seq(Seq("1", "a@x"), Seq("2", "b@x")))
    // a non-colliding key update works, and updates NOT touching the
    // key skip the probe entirely
    g.sql("update u10 set email = 'c@x' where id = 2")
    g.sql("update u10 set email = email where id = 1")
    assert(rows(g, "select email from u10 where id = 2") == Seq(Seq("c@x")))
  }

  test("LOAD DATA honors unique keys in all three modes") {
    val g = freshSession()
    g.sql("create table u11 (id int primary key, email text, unique key uq_email (email))")
    g.sql("insert into u11 values (1, 'a@x')")
    val f = Files.createTempFile("graft-uq", ".csv")
    Files.write(f, "9\ta@x\n3\tb@x\n".getBytes("UTF-8"))
    dup1062(g.sql(s"load data infile '${f.toString}' into table u11"))
    g.sql(s"load data infile '${f.toString}' ignore into table u11")
    assert(rows(g, "select id, email from u11 order by id") ==
      Seq(Seq("1", "a@x"), Seq("3", "b@x")))
    g.sql(s"load data infile '${f.toString}' replace into table u11")
    assert(rows(g, "select id, email from u11 order by id") ==
      Seq(Seq("3", "b@x"), Seq("9", "a@x")))
  }

  test("SHOW CREATE TABLE / SHOW INDEX / information_schema surface the unique keys") {
    val g = freshSession()
    g.sql("create table u12 (id int primary key, a int, b int, email text, " +
      "unique key uq_email (email), constraint uq_ab unique (a, b))")
    val ddl = rows(g, "show create table u12").head(1)
    assert(ddl.contains("UNIQUE KEY `uq_email` (`email`)"), ddl)
    assert(ddl.contains("UNIQUE KEY `uq_ab` (`a`, `b`)"), ddl)
    val idx = rows(g, "show index from u12")
    assert(idx.exists(r => r(2) == "uq_email" && r(4) == "email" && r(1) == "0"))
    assert(idx.exists(r => r(2) == "uq_ab" && r(4) == "b" && r(3) == "2"))
    val tc = rows(g,
      "select constraint_name, constraint_type from information_schema.table_constraints " +
        "where table_name = 'u12' order by constraint_name")
    assert(tc == Seq(Seq("PRIMARY", "PRIMARY KEY"), Seq("uq_ab", "UNIQUE"),
      Seq("uq_email", "UNIQUE")))
    val st = rows(g,
      "select index_name, column_name from information_schema.statistics " +
        "where table_name = 'u12' and index_name = 'uq_ab' order by seq_in_index")
    assert(st == Seq(Seq("uq_ab", "a"), Seq("uq_ab", "b")))
    // meta round-trips through a fresh catalog (persisted, not in-memory)
    val g2 = new GraftSession(spark.newSession(), g.catalog.warehouse)
    g2.sql("use uq")
    val ddl2 = rows(g2, "show create table u12").head(1)
    assert(ddl2.contains("UNIQUE KEY `uq_ab` (`a`, `b`)"))
  }

  test("default key names disambiguate; unknown unique column errors at CREATE") {
    val g = freshSession()
    // two unnamed single-column uniques on the same first column name
    // cannot happen, but an unnamed composite defaults to its first column
    g.sql("create table u13 (a int, b int, c int, unique (a), unique (a, b))")
    val ddl = rows(g, "show create table u13").head(1)
    assert(ddl.contains("UNIQUE KEY `a` (`a`)"), ddl)
    assert(ddl.contains("UNIQUE KEY `a_2` (`a`, `b`)"), ddl)
    val e = intercept[Exception](
      g.sql("create table u14 (a int, unique key uq (nope))"))
    assert(e.getMessage.contains("nope"))
    // EXPLICIT duplicate key names in CREATE answer 1061 (same rule as
    // the ALTER arm), never a silent _2 rename
    val e1061 = intercept[SqlError](g.sql(
      "create table u14b (a int, b int, unique key uq (a), unique key uq (b))"))
    assert(e1061.code == 1061, e1061.getMessage)
    // the word 'unique'/'primary key' inside a quoted COMMENT is data:
    // no phantom index, no phantom pk promotion
    g.sql("create table u14c (id int primary key, " +
      "note varchar(60) comment 'unique note for the primary key')")
    val ddl14c = rows(g, "show create table u14c").head(1)
    assert(!ddl14c.contains("`note`)"), ddl14c)
    g.sql("insert into u14c values (1, 'same'), (2, 'same')")
    assert(rows(g, "select count(*) from u14c") == Seq(Seq("2")))
  }

  test("ALTER column-name hygiene: duplicate ADD answers 1060, unknown DROP 1091") {
    val g = freshSession()
    g.sql("create table u22 (id int primary key, v varchar(20))")
    g.sql("insert into u22 values (1, 'keep')")
    // pre-fix this silently NULLed v's data via withColumn replacement
    val e = intercept[SqlError](g.sql("alter table u22 add column v int"))
    assert(e.code == 1060, e.getMessage)
    // CASE-INSENSITIVE like MySQL identifiers (and Spark's withColumn,
    // which really would clobber v with a column named V)
    val eCi = intercept[SqlError](g.sql("alter table u22 add column V int"))
    assert(eCi.code == 1060, eCi.getMessage)
    assert(rows(g, "select v from u22") == Seq(Seq("keep")))
    val e2 = intercept[SqlError](g.sql("alter table u22 drop column nope"))
    assert(e2.code == 1091, e2.getMessage)
    // DROP resolves case-insensitively to the stored spelling
    g.sql("alter table u22 add column extra int")
    g.sql("alter table u22 drop column EXTRA")
    assert(!rows(g, "show create table u22").head(1).contains("extra"))
    // the last column cannot be dropped (MySQL 1090)
    g.sql("create table u23 (only_col int)")
    val e3 = intercept[SqlError](g.sql("alter table u23 drop column only_col"))
    assert(e3.code == 1090, e3.getMessage)
    // CREATE-side parity: duplicate column 1060 (naming the SECOND
    // occurrence), unknown pk column 1072, multi-pk 1068, in-key dup 1060
    val e4 = intercept[SqlError](g.sql("create table u24 (a int, A varchar(5))"))
    assert(e4.code == 1060 && e4.getMessage.contains("'A'"), e4.getMessage)
    val e5 = intercept[SqlError](
      g.sql("create table u25 (a int, primary key (nope))"))
    assert(e5.code == 1072, e5.getMessage)
    val e6 = intercept[SqlError](
      g.sql("create table u26 (a int primary key, b int, primary key (b))"))
    assert(e6.code == 1068, e6.getMessage)
    val e7 = intercept[SqlError](
      g.sql("create table u27 (a int, b int, unique key uq (a, a))"))
    assert(e7.code == 1060, e7.getMessage)
    // CONSTRAINT [name] PRIMARY KEY catalogs the pk (it is not a
    // discarded constraint kind) and counts toward 1068
    g.sql("create table u30 (a int, b int, constraint cpk primary key (a))")
    g.sql("insert into u30 values (1, 1)")
    dup1062(g.sql("insert into u30 values (1, 2)"))
    val e8 = intercept[SqlError](g.sql(
      "create table u31 (a int primary key, b int, constraint x primary key (b))"))
    assert(e8.code == 1068, e8.getMessage)
    // an inline column declared BOTH primary key and unique catalogs both
    g.sql("create table u32 (a int primary key unique, b int)")
    val ddl32 = rows(g, "show create table u32").head(1)
    assert(ddl32.contains("PRIMARY KEY (`a`)") &&
      ddl32.contains("UNIQUE KEY `a` (`a`)"), ddl32)
    // key columns resolve case-insensitively to the stored spelling
    g.sql("create table u28 (a int, primary key (A), unique key uq (A))")
    g.sql("insert into u28 values (1)")
    dup1062(g.sql("insert into u28 values (1)"))
    g.sql("create table u29 (em text)")
    g.sql("alter table u29 add unique key uq_em (EM)")
    g.sql("insert into u29 values ('x')")
    dup1062(g.sql("insert into u29 values ('x')"))
  }

  test("ALTER TABLE DROP COLUMN removes the column from unique keys") {
    val g = freshSession()
    g.sql("create table u15 (id int primary key, a int, b int, " +
      "unique key uq_ab (a, b), unique key uq_b (b))")
    g.sql("alter table u15 drop column b")
    val ddl = rows(g, "show create table u15").head(1)
    assert(ddl.contains("UNIQUE KEY `uq_ab` (`a`)"), ddl)
    assert(!ddl.contains("uq_b"), ddl)
    g.sql("insert into u15 values (1, 5)")
    dup1062(g.sql("insert into u15 values (2, 5)"))
  }

  test("DROP COLUMN that narrows a unique key over duplicated data fails the ALTER with 1062") {
    val g = freshSession()
    g.sql("create table u17 (id int primary key, a int, b int, " +
      "unique key uq_ab (a, b))")
    // (1,1) and (1,2) are unique on (a,b) but collide on the narrowed (a)
    g.sql("insert into u17 values (1, 1, 1), (2, 1, 2)")
    val e = dup1062(g.sql("alter table u17 drop column b"))
    assert(e.getMessage.contains("u17.uq_ab"), e.getMessage)
    // nothing changed: column still there, constraint still enforced
    val ddl = rows(g, "show create table u17").head(1)
    assert(ddl.contains("UNIQUE KEY `uq_ab` (`a`, `b`)"), ddl)
    assert(rows(g, "select count(*) from u17") == Seq(Seq("2")))
    dup1062(g.sql("insert into u17 values (3, 1, 1)"))
    // disambiguate the data, and the same ALTER succeeds
    g.sql("update u17 set a = 9 where id = 2")
    g.sql("alter table u17 drop column b")
    assert(rows(g, "show create table u17").head(1)
      .contains("UNIQUE KEY `uq_ab` (`a`)"))
  }

  test("ALTER TABLE ADD UNIQUE validates existing data; DROP INDEX removes enforcement") {
    val g = freshSession()
    g.sql("create table u19 (id int primary key, email text, a int, b int)")
    g.sql("insert into u19 values (1, 'a@x', 1, 1), (2, 'b@x', 1, 2)")
    // adding over duplicated data fails the ALTER with 1062 (MySQL)
    g.sql("insert into u19 values (3, 'a@x', 2, 1)")
    val e = dup1062(g.sql("alter table u19 add unique key uq_email (email)"))
    assert(e.getMessage.contains("u19.uq_email"), e.getMessage)
    assert(rows(g, "show create table u19").head(1).contains("UNIQUE") == false)
    // disambiguate, add, and it enforces
    g.sql("delete from u19 where id = 3")
    g.sql("alter table u19 add unique key uq_email (email)")
    assert(rows(g, "show create table u19").head(1)
      .contains("UNIQUE KEY `uq_email` (`email`)"))
    dup1062(g.sql("insert into u19 values (4, 'a@x', 9, 9)"))
    // CONSTRAINT form + default naming (first column) + composite
    g.sql("alter table u19 add constraint unique (a, b)")
    val ddl = rows(g, "show create table u19").head(1)
    assert(ddl.contains("UNIQUE KEY `a` (`a`, `b`)"), ddl)
    dup1062(g.sql("insert into u19 values (5, 'e@x', 1, 2)"))
    // the new key survives a fresh catalog (persisted meta)
    val g2 = new GraftSession(spark.newSession(), g.catalog.warehouse)
    g2.sql("use uq")
    assert(rows(g2, "show create table u19").head(1)
      .contains("UNIQUE KEY `uq_email` (`email`)"))
    // a REPEATED explicitly-named ALTER fails with 1061 (a re-applied
    // migration must not silently stack a renamed redundant index)
    val e1061 = intercept[SqlError](
      g.sql("alter table u19 add unique key uq_email (email)"))
    assert(e1061.code == 1061, e1061.getMessage)
    // DROP INDEX removes enforcement (names are case-insensitive, like
    // MySQL identifiers); unknown name answers 1091
    g.sql("alter table u19 drop index UQ_EMAIL")
    g.sql("insert into u19 values (6, 'a@x', 7, 7)")
    assert(rows(g, "select count(*) from u19 where email = 'a@x'")
      == Seq(Seq("2")))
    val e2 = intercept[SqlError](g.sql("alter table u19 drop key nope"))
    assert(e2.code == 1091, e2.getMessage)
    // no-space spellings parse like CREATE's (name defaults to the
    // column, never to the KEY keyword)
    g.sql("create table u20 (id int primary key, e text, f text)")
    g.sql("alter table u20 add unique key(e)")
    g.sql("alter table u20 add unique(f)")
    val ddl20 = rows(g, "show create table u20").head(1)
    assert(ddl20.contains("UNIQUE KEY `e` (`e`)") &&
      ddl20.contains("UNIQUE KEY `f` (`f`)"), ddl20)
    // index_name wins over the CONSTRAINT symbol (MySQL naming), in
    // both ALTER and CREATE
    g.sql("alter table u20 add constraint csym unique key idx_ef (e, f)")
    assert(rows(g, "show create table u20").head(1)
      .contains("UNIQUE KEY `idx_ef` (`e`, `f`)"))
    g.sql("create table u21 (a int, constraint csym unique key named_a (a))")
    assert(rows(g, "show create table u21").head(1)
      .contains("UNIQUE KEY `named_a` (`a`)"))
    // an unsupported ALTER form answers 1064, never a MatchError
    val e3 = intercept[SqlError](
      g.sql("alter table u20 convert to character set utf8mb4"))
    assert(e3.code == 1064, e3.getMessage)
    // ADD COLUMN with the inline UNIQUE attribute catalogs the index
    // (all-NULL at birth — vacuously valid) and enforces on first data
    g.sql("alter table u20 add column nick varchar(20) unique")
    assert(rows(g, "show create table u20").head(1)
      .contains("UNIQUE KEY `nick` (`nick`)"))
    g.sql("insert into u20 values (1, 'e1', 'f1', 'n1')")
    dup1062(g.sql("insert into u20 values (2, 'e2', 'f2', 'n1')"))
    // ...and a plain ADD COLUMN does NOT grow an index — nor does the
    // word 'unique' inside a quoted COMMENT (masked attribute sniff)
    g.sql("alter table u20 add column plain varchar(20)")
    assert(!rows(g, "show create table u20").head(1).contains("`plain`)"))
    g.sql("alter table u20 add column note varchar(50) comment 'unique note id'")
    assert(!rows(g, "show create table u20").head(1).contains("`note`)"))
    g.sql("insert into u20 values (2, 'e9', 'f9', 'n9', 'p', 'same')")
    g.sql("insert into u20 values (3, 'e8', 'f8', 'n8', 'p', 'same')")
    // a multi-action ALTER refuses loudly instead of silently dropping
    // the later actions
    val eMulti = intercept[SqlError](g.sql(
      "alter table u20 add column c2 int, add unique key uq_c2 (c2)"))
    assert(eMulti.code == 1064, eMulti.getMessage)
  }

  test("a unique key over a column literally named 'count' probes cleanly") {
    // groupBy().count() emits a column named `count`; with a key column
    // of the same name the probe's filter would be AMBIGUOUS_REFERENCE —
    // the shared firstDupKey aliases its aggregate to dodge it
    val g = freshSession()
    g.sql("create table u18 (id int primary key, `count` int, " +
      "unique key uq_count (`count`))")
    g.sql("insert into u18 values (1, 10), (2, 20)")
    dup1062(g.sql("insert into u18 values (3, 10)"))
    dup1062(g.sql("update u18 set `count` = 10 where id = 2"))
    assert(rows(g, "select `count` from u18 order by id") ==
      Seq(Seq("10"), Seq("20")))
  }

  test("racing inserts on one unique value serialize: exactly one wins") {
    val g = freshSession()
    g.sql("create table u16 (id int primary key, email text, unique key uq_email (email))")
    import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
    val pool = Executors.newFixedThreadPool(4)
    val start = new CountDownLatch(1)
    val results = (1 to 4).map { i =>
      pool.submit(new java.util.concurrent.Callable[Boolean] {
        def call(): Boolean = {
          start.await()
          try { g.sql(s"insert into u16 values ($i, 'race@x')"); true }
          catch { case e: SqlError if e.code == 1062 => false }
        }
      })
    }
    start.countDown()
    val wins = results.map(_.get(120, TimeUnit.SECONDS)).count(identity)
    pool.shutdown()
    assert(wins == 1, s"expected exactly one winner, got $wins")
    assert(rows(g, "select count(*) from u16") == Seq(Seq("1")))
  }

  test("batch-key broadcast hint is gated: past the key limit the probe " +
    "falls back to an unhinted shuffle join, semantics unchanged") {
    // A fact-sized INSERT/REPLACE … SELECT source must not be forced
    // through a driver-side broadcast build: the hint is applied only
    // when the staged batch is wire-sized (graft.dml.broadcast.keys /
    // GRAFT_DML_BROADCAST_KEYS, default 1e6 keys). Forcing the limit to
    // 0 pins the fallback plan: with auto-broadcast disabled on the
    // session, NO probe plan may contain a BroadcastExchange — if the
    // hint were still applied, Spark would obey it regardless of conf.
    val sp = spark.newSession()
    sp.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    sp.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    val captured = new scala.collection.mutable.ArrayBuffer[String]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit =
        captured.synchronized { captured += qe.executedPlan.toString }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    sp.listenerManager.register(listener)
    val wh = Files.createTempDirectory("graft-uq-wh").toString
    val g = new GraftSession(sp, wh)
    g.sql("create schema uqg"); g.sql("use uqg")
    // composite unique key ⇒ the probe always takes the join branch
    // (the ≤256-literal point-probe only serves single-column keys)
    g.sql("create table gb (id int primary key, a int, b int, " +
      "constraint uq_ab unique (a, b))")
    g.sql("insert into gb values (1, 10, 20), (2, 11, 21)")
    def drainPlans(): Seq[String] = {
      // QueryExecutionListener delivery is async on the listener bus
      val deadline = System.nanoTime() + 10e9.toLong
      var out = Seq.empty[String]
      while (out.isEmpty && System.nanoTime() < deadline) {
        Thread.sleep(50)
        out = captured.synchronized { val s = captured.toSeq; captured.clear(); s }
          .filter(_.contains("LeftSemi"))
      }
      out
    }
    sys.props("graft.dml.broadcast.keys") = "0"
    try {
      captured.synchronized(captured.clear())
      // strict INSERT: fallback probe, still 1062 on a table collision
      dup1062(g.sql("insert into gb values (3, 10, 20)"))
      val strictPlans = drainPlans()
      assert(strictPlans.nonEmpty, "no probe plan captured")
      for (p <- strictPlans)
        assert(!p.contains("BroadcastExchange"),
          s"fallback probe still broadcasts:\n$p")
      // clean insert still lands through the fallback probe
      g.sql("insert into gb values (3, 12, 22)")
      // INSERT IGNORE: conflicts skip, fresh rows land
      g.sql("insert ignore into gb values (4, 10, 20), (5, 13, 23)")
      assert(rows(g, "select count(*) from gb") == Seq(Seq("4")))
      // REPLACE displaces the unique-key collision
      captured.synchronized(captured.clear())
      g.sql("replace into gb values (6, 10, 20)")
      val replacePlans = drainPlans()
      assert(replacePlans.nonEmpty, "no REPLACE probe plan captured")
      for (p <- replacePlans)
        assert(!p.contains("BroadcastExchange"),
          s"fallback REPLACE probe still broadcasts:\n$p")
      assert(rows(g, "select id from gb where a = 10 and b = 20") ==
        Seq(Seq("6")))
      assert(rows(g, "select count(*) from gb") == Seq(Seq("4")))
    } finally {
      sys.props.remove("graft.dml.broadcast.keys")
      sp.listenerManager.unregister(listener)
    }
    // and with the default (wire-sized) limit the hint IS applied: the
    // same probe broadcasts even though session auto-broadcast is off
    sp.listenerManager.register(listener)
    try {
      captured.synchronized(captured.clear())
      dup1062(g.sql("insert into gb values (7, 12, 22)"))
      val plans = drainPlans()
      assert(plans.nonEmpty, "no probe plan captured")
      assert(plans.exists(_.contains("BroadcastExchange")),
        s"wire-sized probe lost its broadcast:\n${plans.mkString("\n---\n")}")
    } finally sp.listenerManager.unregister(listener)
  }

  test("no statement form lands a duplicate past UNIQUE: comments, WITH and FROM inserts") {
    val g = freshSession()
    g.sql("create table u (id int, email text, unique key uq_email (email))")
    g.sql("insert into u values (1, 'a@x')")
    val forms = Seq(
      "/* c */ insert into u values (2, 'a@x')",
      "-- c\ninsert into u values (3, 'a@x')",
      "with s as (select 4 as id, 'a@x' as email) insert into u select * from s",
      "from (select 5 as id, 'a@x' as email) s insert into u select *")
    for (f <- forms) {
      val e = intercept[SqlError](g.sql(f))
      assert(e.code == 1062 || e.code == 1064, s"$f: ${e.code} ${e.getMessage}")
    }
    assert(rows(g, "select count(*), count(distinct email) from u") == Seq(Seq("1", "1")))
  }

  /** One write verb per case, each with a known outcome against the
    * seeded table `kv` (PRIMARY KEY id, UNIQUE email): its statement,
    * with keywords in upper case so a variant can re-case them without
    * touching identifiers or literals.
    */
  private lazy val writeVerbs: Seq[String] = {
    val f = Files.createTempFile("graft-uq-load", ".tsv")
    Files.writeString(f, "3\ta@x\n")
    Seq(
      "INSERT INTO kv VALUES (3, 'a@x')",
      "INSERT IGNORE INTO kv VALUES (3, 'a@x'), (4, 'd@x')",
      "REPLACE INTO kv VALUES (1, 'r@x')",
      "UPDATE kv SET email = 'a@x' WHERE id = 2",
      "DELETE FROM kv WHERE id = 2",
      s"LOAD DATA INFILE '$f' INTO TABLE kv",
      "TRUNCATE TABLE kv",
      "ALTER TABLE kv ADD COLUMN note TEXT",
      "CREATE TABLE kv2 (id INT PRIMARY KEY)",
      "DROP TABLE kv")
  }

  test("property: comment, executable-comment, whitespace and case variants of every write verb " +
       "give the bare statement's outcome and never break a key") {
    import org.scalacheck.{Gen, Prop}
    val g = freshSession()
    // (affected rows or MySQL code, tables, kv's rows) after `stmt` runs
    // on a freshly seeded kv; any exception but SqlError fails the test
    def outcome(stmt: String): (Either[Int, Long], Seq[Seq[String]], Seq[Seq[String]]) = {
      Seq("drop table if exists kv", "drop table if exists kv2",
        "create table kv (id int primary key, email text, unique key uq (email))",
        "insert into kv values (1, 'a@x'), (2, 'b@x')").foreach(g.sql)
      val res =
        try Right(g.sql(stmt).collect().head.getLong(0))
        catch { case e: SqlError => Left(e.code) }
      val tables = rows(g, "show tables")
      val kv =
        if (!tables.contains(Seq("kv"))) Nil
        else rows(g, "select id, email from kv order by id")
      for (col <- Seq(0, 1)) {
        val keys = kv.map(_(col))
        assert(keys.distinct.size == keys.size, s"$stmt broke a key: $kv")
      }
      (res, tables, kv)
    }
    val bare = writeVerbs.map(v => v -> outcome(v)).toMap
    // random case on the upper-case keywords only
    def recase(s: String, seed: Long): String = {
      val r = new scala.util.Random(seed)
      "[A-Z]{2,}".r.replaceAllIn(s, m =>
        m.matched.map(c => if (r.nextBoolean()) c.toLower else c))
    }
    val variants: Seq[(String, String => String)] = Seq(
      "block comment" -> (s => s"/* c */ $s"),
      "line comment" -> (s => s"-- c\n$s"),
      "hash comment" -> (s => s"# c\n$s"),
      "executable comment" -> (s => s"/*!40101 $s */"),
      "inner comment" -> (s => s.replaceFirst(" ", " /* c */ ")),
      "whitespace" -> (s => s" \n\t $s ;"))
    val gen = for {
      verb <- Gen.oneOf(writeVerbs)
      (name, variant) <- Gen.oneOf(variants)
      seed <- Gen.long
    } yield (verb, name, recase(variant(verb), seed))
    val res = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(24),
      Prop.forAll(gen) { case (verb, name, stmt) =>
        val got = outcome(stmt)
        assert(got == bare(verb), s"$name: $stmt\n got $got\n want ${bare(verb)}")
        true
      })
    assert(res.passed, res.status.toString)
  }
}
