package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.engine.GraftSession

/** Merge-on-read DML on PK'd parquet tables: UPDATE/DELETE write pk
  * tombstones (equality deletes, the Iceberg/Hudi shape) instead of
  * rewriting the table; reads resolve the registered view that anti-joins
  * the tombstones with a strictly-older-sequence guard; OPTIMIZE TABLE
  * folds tombstones back into a fresh data version. This re-expresses the
  * reference's sled point-writes (update.rs / delete.rs mutate per-key)
  * in a columnar layout: an UPDATE of k rows writes O(k) bytes, not
  * O(table).
  */
class MergeOnReadSpec extends AnyFunSuite {
  import SparkFixture._

  private def freshSession(): (GraftSession, String) = {
    val wh = Files.createTempDirectory("graft-mor-wh").toString
    val g = new GraftSession(spark.newSession(), wh)
    g.sql("create schema mor")
    g.sql("use mor")
    (g, wh)
  }

  private def rows(g: GraftSession, sql: String): Seq[Seq[String]] =
    g.sql(sql).collect().toSeq.map(r =>
      (0 until r.length).map(i => String.valueOf(r.get(i))))

  /** Log lines trimmed to (version, action) — commit instants (third
    * column since round 16) are nondeterministic.
    */
  private def logLines(wh: String, t: String): Seq[String] =
    Files.readAllLines(Paths.get(wh, "mor", t, "_graft_log")).asScala.toSeq
      .map(_.split('\t').take(2).mkString("\t"))

  private def tombstoneFiles(wh: String, t: String): Seq[String] = {
    val d = Paths.get(wh, "mor", t, "deletes")
    if (!Files.isDirectory(d)) Seq.empty
    else Files.list(d).iterator.asScala.map(_.getFileName.toString)
      .filter(_.endsWith(".parquet")).toSeq
  }

  /** Tombstone files still in force: on disk and not in the retirement
    * manifest (retired files are semantic no-ops kept for in-flight
    * readers and, round 15, for retained time-travel generations).
    * Manifest lines are `generation\tname` (legacy bare names accepted).
    */
  private def activeTombstones(wh: String, t: String): Seq[String] = {
    val manifest = Paths.get(wh, "mor", t, "_retired_dels")
    val retired =
      if (Files.exists(manifest))
        Files.readAllLines(manifest).asScala
          .map(l => l.split('\t').last).toSet
      else Set.empty[String]
    tombstoneFiles(wh, t).filterNot(retired.contains)
  }

  test("UPDATE/DELETE write tombstones, not data versions; results match MySQL semantics") {
    val (g, wh) = freshSession()
    g.sql("create table kv (id int, v varchar(20), primary key(id))")
    g.sql("insert into kv values (1,'a'), (2,'b'), (3,'c')")
    assert(g.sql("update kv set v = 'z' where id = 2").collect()(0).getLong(0) == 1L)
    assert(g.sql("delete from kv where id = 1").collect()(0).getLong(0) == 1L)
    assert(rows(g, "select id, v from kv order by id")
      == Seq(Seq("2", "z"), Seq("3", "c")))
    // the POINT of merge-on-read: no rewrite commits — still on v1
    assert(logLines(wh, "kv") == Seq("v1\tcreate"))
    assert(tombstoneFiles(wh, "kv").nonEmpty)
  }

  test("re-INSERT of a deleted pk is visible; a second identical DELETE affects 0 rows") {
    val (g, _) = freshSession()
    g.sql("create table r (id int, v varchar(10), primary key(id))")
    g.sql("insert into r values (1,'x'), (2,'y')")
    assert(g.sql("delete from r where id = 1").collect()(0).getLong(0) == 1L)
    assert(g.sql("delete from r where id = 1").collect()(0).getLong(0) == 0L)
    g.sql("insert into r values (1,'x2')")
    assert(rows(g, "select id, v from r order by id")
      == Seq(Seq("1", "x2"), Seq("2", "y")))
  }

  test("chained updates of one row keep exactly the latest version") {
    val (g, _) = freshSession()
    g.sql("create table c (id int, n int, primary key(id))")
    g.sql("insert into c values (7, 0)")
    (1 to 5).foreach(i => g.sql(s"update c set n = $i where id = 7"))
    assert(rows(g, "select id, n from c") == Seq(Seq("7", "5")))
    assert(rows(g, "select count(*) as n from c") == Seq(Seq("1")))
  }

  test("footer-based row count stays exact under tombstones (SHOW TABLE STATUS path)") {
    val (g, _) = freshSession()
    g.sql("create table s (id int, v int, primary key(id))")
    g.sql("insert into s values (1,1),(2,2),(3,3),(4,4)")
    g.sql("update s set v = 0 where id <= 2") // +2 rows, +2 tombstones
    g.sql("delete from s where id = 3")       // +1 tombstone
    val status = g.sql("show table status").collect()
      .find(_.getString(0) == "s").get
    assert(status.getString(4) == "3", s"rows column: $status")
  }

  test("row count after a REPLACE that tombstones an absent key equals count(*)") {
    val (g, _) = freshSession()
    val meter = new LocalSpark.Meter(g.spark)
    g.sql("create table rp (id int, v int, primary key(id))")
    g.sql("insert into rp values (1, 10), (2, 2)")
    // no tombstones yet: the footer sum, no job
    val (n0, _, c0) = meter.measure(g.catalog.rowCount("mor", "rp"))
    assert(n0 == 2L && c0.jobs == 0L, c0)
    // the batch tombstones keys 2 and 3; only key 2 had a row
    g.sql("replace into rp values (2, 20), (3, 30)")
    assert(g.catalog.rowCount("mor", "rp") == 3L)
    assert(rows(g, "select count(*) from rp") == Seq(Seq("3")))
    val status = g.sql("show table status").collect().find(_.getString(0) == "rp").get
    assert(status.getString(4) == "3", s"rows column: $status")
  }

  test("OPTIMIZE TABLE folds tombstones into a fresh version; non-MoR tables decline") {
    val (g, wh) = freshSession()
    g.sql("create table o (id int, v varchar(10), primary key(id))")
    g.sql("insert into o values (1,'a'), (2,'b'), (3,'c')")
    g.sql("update o set v = 'bb' where id = 2")
    g.sql("delete from o where id = 3")
    assert(tombstoneFiles(wh, "o").nonEmpty)

    val opt = g.sql("optimize table o").collect()(0)
    assert(opt.getString(3) == "OK")
    assert(activeTombstones(wh, "o").isEmpty, "tombstones retired by compaction")
    // retired files stay on disk ONE commit for in-flight readers, then GC
    assert(tombstoneFiles(wh, "o").nonEmpty)
    g.sql("optimize table o")
    assert(tombstoneFiles(wh, "o").isEmpty, "one-commit grace then deleted")
    assert(logLines(wh, "o") == Seq("v1\tcreate", "v2\trewrite", "v3\trewrite"))
    assert(rows(g, "select id, v from o order by id")
      == Seq(Seq("1", "a"), Seq("2", "bb")))
    // compaction is idempotent and DML keeps working afterwards
    g.sql("delete from o where id = 1")
    assert(rows(g, "select id from o") == Seq(Seq("2")))

    g.sql("create table plain (id int, v int)")
    val declined = g.sql("optimize table plain").collect()(0)
    assert(declined.getString(3).contains("does not support"))
  }

  test("a DELETE landing inside a compaction's materialization window still masks its row") {
    val (g, wh) = freshSession()
    g.sql("create table w (id int, v int, primary key(id))")
    g.sql("insert into w values (1,1), (2,2), (3,3)")
    g.sql("update w set v = 20 where id = 2") // something to compact
    val cat = g.catalog
    cat.onRewriteBeforeCommit = () => g.sql("delete from w where id = 3")
    try g.sql("optimize table w")
    finally cat.onRewriteBeforeCommit = () => ()
    // the window-DELETE's tombstone has a higher sequence than every
    // compacted row (sequences are preserved through compaction), so the
    // row stays masked and the tombstone file survived the fold
    assert(rows(g, "select id, v from w order by id")
      == Seq(Seq("1", "1"), Seq("2", "20")))
    assert(activeTombstones(wh, "w").nonEmpty)
    // a second compaction retires it (file lingers one commit as a no-op)
    g.sql("optimize table w")
    assert(activeTombstones(wh, "w").isEmpty)
    assert(rows(g, "select id, v from w order by id")
      == Seq(Seq("1", "1"), Seq("2", "20")))
  }

  test("auto-compaction triggers on the tombstone threshold, not before") {
    val (g, wh) = freshSession()
    g.sql("create table ac (id int, v int, primary key(id))")
    g.sql("insert into ac values (1,1),(2,2),(3,3),(4,4),(5,5)")
    // default policy: small tables never auto-compact
    g.sql("delete from ac where id = 1")
    assert(tombstoneFiles(wh, "ac").nonEmpty)
    assert(logLines(wh, "ac") == Seq("v1\tcreate"))
    // tighten the policy over SQL: >= 2 tombstones and >= 20% of data
    // rows (session scope — SET GLOBAL would make it warehouse-durable)
    g.sql("set graft_auto_compact_min_tombstones = 2")
    g.sql("set graft_auto_compact_ratio = 0.2")
    g.sql("delete from ac where id = 2") // 2 tombstones / 5 rows = 40%
    assert(activeTombstones(wh, "ac").isEmpty, "policy breach compacts inline")
    assert(logLines(wh, "ac") == Seq("v1\tcreate", "v2\trewrite"))
    assert(rows(g, "select id from ac order by id")
      == Seq(Seq("3"), Seq("4"), Seq("5")))
    // an UPDATE's tombstone rides the same trigger
    g.sql("update ac set v = 0 where id >= 3") // 3 tombstones / 3+3 rows
    assert(activeTombstones(wh, "ac").isEmpty)
    assert(rows(g, "select id, v from ac order by id")
      == Seq(Seq("3", "0"), Seq("4", "0"), Seq("5", "0")))
  }

  test("DELETE storm auto-compacts; the merged view stays exchange-free after") {
    val (g, wh) = freshSession()
    g.sql("create table st (id int, v int, primary key(id))")
    g.sql("insert into st values " +
      (1 to 40).map(i => s"($i,$i)").mkString(","))
    g.sql("set graft_auto_compact_min_tombstones = 8")
    g.sql("set graft_auto_compact_ratio = 0.2")
    // a storm of single-row DELETEs: tombstones accumulate below the
    // floor, then the 8th (8/40 = 20%) folds the whole storm inline
    (1 to 7).foreach(i => g.sql(s"delete from st where id = $i"))
    assert(activeTombstones(wh, "st").nonEmpty, "below the floor: no churn")
    g.sql("delete from st where id = 8")
    assert(activeTombstones(wh, "st").isEmpty, "storm folded inline")
    assert(rows(g, "select count(*) as n from st") == Seq(Seq("32")))
    // the auto-compaction used the bucketed layout: pk joins and pk
    // aggregations over the merged view run with no data-side Exchange
    assert(g.catalog.bucketCount("mor", "st") > 0, "compacted layout not bucketed")
    val plan = g.sql(
      "select a.id from st a join st b on a.id = b.id where b.v > 0")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning") &&
      !plan.contains("Exchange rangepartitioning"),
      s"pk join over compacted view shuffled:\n$plan")
  }

  test("regression: rows with a NULL pk component are still maskable (null-safe merge)") {
    val (g, _) = freshSession()
    g.sql("create table np (id int, v int, primary key(id))")
    g.sql("insert into np (v) values (5)") // unlisted pk column -> NULL id
    g.sql("insert into np values (1, 9)")
    assert(g.sql("delete from np where v = 5").collect()(0).getLong(0) == 1L)
    assert(rows(g, "select id, v from np") == Seq(Seq("1", "9")))
    val status = g.sql("show table status").collect()
      .find(_.getString(0) == "np").get
    assert(status.getString(4) == "1", s"rows column: $status")
    // UPDATE of a NULL-pk row must not leave old+new both visible
    g.sql("insert into np (v) values (7)")
    assert(g.sql("update np set v = 8 where v = 7").collect()(0).getLong(0) == 1L)
    assert(rows(g, "select v from np order by v") == Seq(Seq("8"), Seq("9")))
  }

  test("regression: ALTER TABLE DROP COLUMN of a pk column demotes to copy-on-write") {
    val (g, wh) = freshSession()
    g.sql("create table dp (id int, v int, primary key(id))")
    g.sql("insert into dp values (1, 10), (2, 20)")
    g.sql("alter table dp drop column id") // pk emptied -> plain table
    assert(rows(g, "select v from dp order by v")
      == Seq(Seq("10"), Seq("20")))
    // DML still works, now via rewrite commits
    assert(g.sql("delete from dp where v = 10").collect()(0).getLong(0) == 1L)
    assert(rows(g, "select v from dp") == Seq(Seq("20")))
    assert(logLines(wh, "dp").count(_.endsWith("rewrite")) >= 2)
    // a fresh session over the same warehouse re-registers cleanly
    val g2 = new GraftSession(SparkFixture.spark.newSession(), wh)
    g2.sql("use mor")
    assert(rows(g2, "select v from dp") == Seq(Seq("20")))
  }

  test("regression: a user column named _graft_seq is rejected at CREATE (reserved)") {
    // Round-15 tightening: this table used to be ACCEPTED and silently
    // demoted to copy-on-write (the hidden-seq collision made
    // merge-on-read impossible). The ADVICE audit showed the same
    // reserved-name class lets OPTIMIZE ZORDER's transient _graft_z
    // column silently destroy user data, so all _graft_* names are now
    // refused at the door — the CoW fallback for this name is
    // unreachable by construction.
    val (g, _) = freshSession()
    val e = intercept[Exception](
      g.sql("create table sq (id int, _graft_seq bigint, primary key(id))"))
    assert(e.getMessage.toLowerCase.contains("reserved"), e.getMessage)
    assert(g.sql("show tables").collect().forall(_.getString(0) != "sq"))
  }

  test("a hammering reader never sees a pk twice during UPDATE waves") {
    // Each wave rewrites every row's v to the wave number via
    // merge-on-read UPDATE (tombstones + new versions). The DML is
    // tombstones-first, so a concurrent reader may catch rows BRIEFLY
    // DELETED (documented, like a MySQL row lock window) — but a pk must
    // NEVER be visible twice (old + new version together), which is what
    // a stale tombstone listing would produce.
    val (g, _) = freshSession()
    val n = 8
    g.sql("create table hm (id int, v int, primary key(id))")
    g.sql("insert into hm values " +
      (1 to n).map(i => s"($i, 0)").mkString(", "))
    val bad = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val reader = new Thread(() => {
      while (!stop.get()) {
        try {
          val r = g.sql(
            "select count(*) as c, count(distinct id) as d from hm")
            .collect()(0)
          if (r.getLong(0) != r.getLong(1))
            bad.add(s"duplicated pks: count=${r.getLong(0)} distinct=${r.getLong(1)}")
        } catch {
          // file-listing races with retirement GC surface as missing
          // files (the documented one-commit-grace contract), never as
          // duplicated row sets
          case e: Exception
            if e.getMessage != null && (e.getMessage.contains("FileNotFound")
              || e.getMessage.contains("does not exist")) =>
          case e: Exception => bad.add(s"reader error: $e")
        }
      }
    })
    reader.start()
    try (1 to 4).foreach(w => g.sql(s"update hm set v = $w where id >= 1"))
    finally { stop.set(true); reader.join() }
    assert(bad.isEmpty, s"torn merge-on-read states: ${bad.toArray.toSeq}")
    // and the end state is the last wave, exactly once per pk
    assert(rows(g, "select count(*) as c, min(v) as mn, max(v) as mx from hm")
      == Seq(Seq(n.toString, "4", "4")))
  }

  test("the merge view's tombstone anti-join broadcasts (no shuffle on the data side)") {
    val (g, _) = freshSession()
    g.sql("create table p (id int, v int, primary key(id))")
    g.sql("insert into p values (1,1),(2,2)")
    g.sql("delete from p where id = 1")
    val plan = g.sql("select id, v from p").queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      s"expected broadcast anti-join, got:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"unexpected shuffle join:\n$plan")
  }

  test("ALTER TABLE and TRUNCATE rewrite through; the view tracks the new schema") {
    val (g, wh) = freshSession()
    g.sql("create table a (id int, v varchar(10), primary key(id))")
    g.sql("insert into a values (1,'x'), (2,'y')")
    g.sql("delete from a where id = 2")
    g.sql("alter table a add column extra int")
    // the ALTER's rewrite folded the tombstone and the view has 3 cols
    assert(activeTombstones(wh, "a").isEmpty)
    assert(rows(g, "select id, v, extra from a order by id")
      == Seq(Seq("1", "x", "null")))
    g.sql("update a set extra = 9 where id = 1")
    assert(rows(g, "select extra from a") == Seq(Seq("9")))
    g.sql("truncate table a")
    assert(rows(g, "select count(*) as n from a") == Seq(Seq("0")))
  }

  test("concurrent UPDATEs on the same row serialize: neither assignment is lost") {
    val (g, wh) = freshSession()
    g.sql("create table acct (id int, a int, b int, primary key(id))")
    g.sql("insert into acct values (1, 0, 0)")
    // two sessions, each updating a DIFFERENT column of the same row, in
    // parallel, repeatedly. Without a statement-scope DML lock both stage
    // from the pre-update snapshot and the earlier writer's column
    // silently reverts (lost update). MySQL serializes row updates.
    val g2 = new GraftSession(spark.newSession(), wh)
    g2.sql("use mor")
    val rounds = 5
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val ts = Seq(
      new Thread(() =>
        try (1 to rounds).foreach(_ => g.sql("update acct set a = a + 1 where id = 1"))
        catch { case e: Throwable => errs.add(e) }),
      new Thread(() =>
        try (1 to rounds).foreach(_ => g2.sql("update acct set b = b + 1 where id = 1"))
        catch { case e: Throwable => errs.add(e) }))
    ts.foreach(_.start()); ts.foreach(_.join())
    assert(errs.isEmpty, s"concurrent UPDATE threw: ${errs.asScala.toSeq}")
    assert(rows(g, "select a, b from acct") == Seq(Seq(s"$rounds", s"$rounds")),
      "a lost update reverted a concurrent writer's column")
  }

  test("racing INSERTs of one key: exactly one commits, the other gets 1062") {
    val (g, wh) = freshSession()
    g.sql("create table race (id int, v int, primary key(id))")
    val g2 = new GraftSession(spark.newSession(), wh)
    g2.sql("use mor")
    val results = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val ts = Seq((g, 1), (g2, 2)).map { case (s, n) =>
      new Thread(() =>
        try { s.sql(s"insert into race values (7, $n)"); results.add("ok") }
        catch {
          case e: graft.engine.SqlError if e.code == 1062 => results.add("dup")
          case e: Throwable => results.add(s"unexpected: $e")
        })
    }
    ts.foreach(_.start()); ts.foreach(_.join())
    assert(results.asScala.toSeq.sorted == Seq("dup", "ok"),
      s"dup check must serialize with the commit: $results")
    assert(rows(g, "select count(*) from race where id = 7").head.head == "1")
  }

  test("concurrent REPLACE INTO waves on one key leave exactly one row") {
    val (g, wh) = freshSession()
    g.sql("create table rw (id int, v int, primary key(id))")
    val g2 = new GraftSession(spark.newSession(), wh)
    g2.sql("use mor")
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val ts = Seq(g, g2).zipWithIndex.map { case (s, i) =>
      new Thread(() =>
        try (1 to 4).foreach(r => s.sql(s"replace into rw values (1, ${i * 10 + r})"))
        catch { case e: Throwable => errs.add(e) })
    }
    ts.foreach(_.start()); ts.foreach(_.join())
    assert(errs.isEmpty, s"concurrent REPLACE threw: ${errs.asScala.toSeq}")
    val vs = rows(g, "select v from rw where id = 1")
    assert(vs.length == 1, s"upsert waves must never leave duplicates: $vs")
    assert(Set("4", "14")(vs.head.head), "the surviving row is some thread's final version")
  }

  test("REPLACE INTO on merge-on-read: tombstone + append, never a rewrite") {
    val (g, wh) = freshSession()
    g.sql("create table rep (id int, v varchar(10), primary key(id))")
    g.sql("insert into rep values (1,'a'), (2,'b'), (3,'c')")
    // keys {2,4}: one collision (delete+insert = 2) + one fresh insert
    assert(rows(g, "replace into rep values (2,'B'), (4,'d')").head.head == "3")
    assert(rows(g, "select v from rep order by id").map(_.head) ==
      Seq("a", "B", "c", "d"))
    // upsert must be O(batch): tombstones appended, data version untouched
    assert(logLines(wh, "rep") == Seq("v1\tcreate"))
    assert(tombstoneFiles(wh, "rep").nonEmpty)
    // duplicate-entry enforcement sees through the tombstones: id=2's
    // live row still blocks, a DELETEd id no longer does
    intercept[graft.engine.SqlError](g.sql("insert into rep values (2,'x')"))
    g.sql("delete from rep where id = 3")
    assert(rows(g, "insert into rep values (3,'c2')").head.head == "1")
    assert(rows(g, "select v from rep where id = 3").map(_.head) == Seq("c2"))
  }

  test("OPTIMIZE lays the base out bucketed by pk: pk agg/join skip the Exchange") {
    val (g, wh) = freshSession()
    g.sql("create table bk (id int, v char, primary key(id))")
    g.sql("insert into bk values " +
      (1 to 200).map(i => s"($i,'v$i')").mkString(", "))
    g.sql("update bk set v = 'x' where id <= 50")
    // dels broadcast always; "shuffled" here means a hash/range
    // repartition Exchange, not the BroadcastExchange
    def shuffles(plan: String): Boolean =
      plan.contains("Exchange hashpartitioning") ||
        plan.contains("Exchange rangepartitioning") ||
        plan.contains("Exchange SinglePartition")
    // pre-compaction: a pk aggregation over the merged view shuffles
    val pre = g.spark.sql("select id, count(*) c from mor.bk group by id")
      .queryExecution.executedPlan.toString
    assert(shuffles(pre), s"expected a shuffle before OPTIMIZE:\n$pre")
    g.sql("optimize table bk")
    // compacted layout is bucketed: the base table carries the bucket
    // spec and the same aggregation plans with NO Exchange anywhere
    val post = g.spark.sql("select id, count(*) c from mor.bk group by id")
      .queryExecution.executedPlan.toString
    assert(!shuffles(post),
      s"pk groupBy over the compacted view must be exchange-free:\n$post")
    // correctness unchanged through the layout change
    assert(rows(g, "select count(*) c from bk").head.head == "200")
    assert(rows(g, "select v from bk where id = 7").head.head == "x")
    assert(rows(g, "select v from bk where id = 51").head.head == "v51")
    // a pk self-join: the bucketed data side needs no shuffle (the plan
    // may still exchange a non-bucketed side; assert on total count)
    val selfJoin = g.spark.sql(
      "select count(*) c from mor.bk a join mor.bk b on a.id = b.id")
    val sj = selfJoin.queryExecution.executedPlan.toString
    // the global count's own 1-row Exchange SinglePartition is fine;
    // the JOIN must add no repartitioning
    assert(!sj.contains("Exchange hashpartitioning") &&
      !sj.contains("Exchange rangepartitioning"),
      s"bucketed pk self-join must not repartition:\n$sj")
    assert(selfJoin.collect().head.getLong(0) == 200L)
    // round 13: an append is written BUCKET-ALIGNED (same count, same
    // keys, bucket ids in the file names), so the spec KEEPS — pk plans
    // stay exchange-free under sustained ingest, and rows stay correct
    g.sql("insert into bk values (201, 'v201')")
    assert(g.catalog.bucketCount("mor", "bk") > 0,
      "bucket-aligned append must keep the version's bucket marker")
    val after = g.spark.sql("select id, count(*) c from mor.bk group by id")
      .queryExecution.executedPlan.toString
    assert(!shuffles(after),
      s"pk groupBy must stay exchange-free after a bucket-aligned append:\n$after")
    assert(rows(g, "select count(*) c from bk").head.head == "201")
    assert(rows(g, "select v from bk where id = 201").head.head == "v201")
    // an UPDATE of an appended row still masks exactly that row (the
    // upsert machinery over the mixed compacted+appended bucket files)
    g.sql("update bk set v = 'y' where id = 201")
    assert(rows(g, "select v from bk where id = 201").head.head == "y")
    assert(rows(g, "select count(*) c from bk").head.head == "201")
    // ...and the next OPTIMIZE re-folds everything into one clean layout
    g.sql("delete from bk where id = 201")
    g.sql("optimize table bk")
    val again = g.spark.sql("select id, count(*) c from mor.bk group by id")
      .queryExecution.executedPlan.toString
    assert(!shuffles(again), "re-OPTIMIZE must restore bucketing")
    assert(rows(g, "select count(*) c from bk").head.head == "200")
  }
}
