package graft.engine

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.Comparator
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, count, filter, lit, shiftleft, shiftright, size, sum, when}
import org.apache.spark.sql.types.{ByteType, DateType, DoubleType, FloatType, IntegerType, LongType, ShortType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

object Catalog {
  /** Hidden per-row commit-sequence column of merge-on-read tables: data
    * rows carry the sequence they were written at, tombstones the
    * sequence they were committed at; a tombstone masks exactly the
    * matching-pk rows with a strictly older sequence, so an UPDATE's new
    * row versions (same sequence) and any later re-INSERT survive.
    */
  val SeqCol = "_graft_seq"
  /** Transient clustering key for ZORDER rewrites (never written). */
  val ZCol = "_graft_z"

  /** JVM-GLOBAL write locks, keyed by (normalized warehouse, table).
    * Every connection gets its own Catalog instance over the shared
    * warehouse (MysqlServer: one GraftSession per connection), so
    * per-instance locks would not serialize writers at all — the
    * single-writer commit protocol holds across every Catalog in the
    * process or it holds nowhere.
    */
  private val writeLocks =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.locks.ReentrantLock]
  private[engine] def lockFor(key: String): java.util.concurrent.locks.ReentrantLock =
    writeLocks.computeIfAbsent(key, _ => new java.util.concurrent.locks.ReentrantLock)

  /** JVM-GLOBAL retention depth per normalized warehouse (same sharing
    * argument as writeLocks: every connection holds its own Catalog
    * over the shared warehouse, and GC runs in WHICHEVER connection
    * commits next — a per-instance setting would let connection B's
    * default-retention rewrite reap the history connection A paid to
    * keep). Keyed by warehouse: retention is a warehouse policy, like
    * the SET GLOBAL variables it is set alongside.
    */
  private[engine] val retention =
    new java.util.concurrent.ConcurrentHashMap[String, Integer]

  /** JVM-GLOBAL ANALYZE-computed ndv per (warehouse, db, table): any
    * connection's post-commit stats refresh re-registers column stats,
    * and with per-instance ndv a refresh from another connection would
    * silently drop distinctCount — undoing ANALYZE without any
    * statement asking for it.
    */
  private[engine] val ndvStore =
    new java.util.concurrent.ConcurrentHashMap[String, Map[String, BigInt]]

  /** JVM-GLOBAL per-table commit counters, keyed like writeLocks. A
    * commit refreshes only the WRITING session's relation cache — every
    * other connection's SessionCatalog keeps serving its cached
    * FileIndex, so cross-connection reads would be stale forever (a
    * classic: conn A INSERTs, conn B SELECTs the old rows). Readers
    * compare these counters against what they last saw and refresh
    * lazily (`freshenStale`) — read-committed visibility at statement
    * granularity, no cross-session broadcast needed.
    */
  private[engine] val commitVersions =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicLong]
  private[engine] def commitVersionFor(key: String): java.util.concurrent.atomic.AtomicLong =
    commitVersions.computeIfAbsent(key, _ => new java.util.concurrent.atomic.AtomicLong(0L))

  /** Rows a row-level write retires (`commitRows`). */
  sealed trait Retire
  object Retire {
    /** Current rows `p` holds TRUE for; FALSE and NULL keep a row. */
    final case class Where(p: Column) extends Retire
    /** Current rows whose tuple on the key set `cols` equals a row of
      * `keys`, null-safe as the merge-on-read mask compares pks.
      */
    final case class Keys(cols: Seq[String], keys: DataFrame) extends Retire
  }

  /** What `commitRows` did: its merge-on-read commit sequence (0 on a
    * copy-on-write table) and how many current rows it retired — None
    * when a merge-on-read table tombstoned keys on its pk as given,
    * without looking them up.
    */
  final case class Committed(seq: Long, retired: Option[Long])
}

/** Warehouse-backed catalog: schema = directory, table = directory with a
  * line-based meta file plus a `data/` parquet dir.
  *
  * Mirrors the reference's meta store (/root/reference/src/meta/meta_def.rs:1,
  * initial.rs seeds `mysql` + `performance_schema`), re-expressed as plain
  * dirs + parquet so a 1000-executor cluster reads table data directly —
  * no driver-side row shipping. Every table is ALSO registered in the
  * Spark session catalog as an external parquet table, so `spark.sql`
  * resolves qualified names (`db.tbl`), joins across graft tables, and
  * gets pushdown/pruning on the scans for free.
  *
  * Meta file format (tab-separated lines, no JSON dependency):
  * {{{
  *   engine\tparquet
  *   pk\tid,name
  *   col\t<name>\t<mysqlType>\t<sparkDdl>
  * }}}
  */
class Catalog(spark: SparkSession, val warehouse: String) {

  case class Col(name: String, mysqlType: String, sparkDdl: String)

  /** A declared UNIQUE (non-PK) constraint — the reference's level-2
    * index (meta_util.rs TableConstraint::Unique, is_primary=false),
    * enforced with 1062 on every write path (insert.rs:197-217). graft
    * keeps no physical index structure for it: parquet min/max stats
    * serve the read side; the WRITE side is a declarative duplicate
    * check per landing batch.
    */
  case class UniqueKey(name: String, cols: Seq[String])

  case class TableMeta(db: String, table: String, cols: Seq[Col],
                       pk: Seq[String], engine: String,
                       partitionCols: Seq[String] = Seq.empty,
                       uniques: Seq[UniqueKey] = Seq.empty) {
    def schema: StructType =
      StructType.fromDDL(cols.map(c => s"`${c.name}` ${c.sparkDdl}").mkString(", "))

    /** Storage format: the CSV engine stores rows as headerless CSV
      * (schema comes from the catalog); every other engine — parquet and
      * the sled-semantics KV engine — stores columnar parquet.
      */
    def format: String = if (engine == "csv") "csv" else "parquet"

    /** Merge-on-read DML eligibility: PK'd pure-parquet tables. UPDATE/
      * DELETE on these write pk tombstones (equality deletes) instead of
      * rewriting the table; reads merge through the registered view.
      * CSV/MEMORY engines and partitioned tables keep copy-on-write, as
      * does a table whose user columns collide with the hidden seq name.
      */
    def mergeOnRead: Boolean =
      pk.nonEmpty && engine == "parquet" && partitionCols.isEmpty &&
        !cols.exists(_.name == Catalog.SeqCol)

    /** Physical parquet schema of a merge-on-read base table: the logical
      * columns plus the hidden per-row commit sequence.
      */
    def baseSchema: StructType =
      StructType(schema.fields :+ StructField(Catalog.SeqCol, LongType))

    /** Tombstone-file schema: the pk columns plus the delete's commit
      * sequence — Iceberg's "equality delete" file shape.
      */
    def delsSchema: StructType =
      StructType(pk.map(k => schema(k)) :+ StructField(Catalog.SeqCol, LongType))
  }

  Files.createDirectories(Paths.get(warehouse))
  // File-level data skipping (E9): scans of managed tables prune whole
  // files against the commit protocol's _graft_stats sidecars before
  // any task is scheduled. Idempotent per session.
  org.apache.spark.sql.graft.Skipping.install(spark)
  // Seed the reference's initial databases (meta/initial.rs parity).
  Seq("mysql", "performance_schema").foreach(db => createSchema(db, ifNotExists = true))
  // Re-sync the (session-scoped) Spark catalog from the warehouse: a fresh
  // session over an existing warehouse must see every schema and table.
  listSchemas().foreach { db =>
    spark.sql(s"CREATE DATABASE IF NOT EXISTS `$db`")
    listTables(db).foreach(t => register(meta(db, t)))
  }
  // Views re-register after every table exists (CREATE VIEW validates its
  // SELECT at definition time). A view referencing another view may need
  // a later pass — iterate until a pass makes no progress (bounded by
  // #views), then surface nothing: a view whose base table was dropped
  // out from under it stays durable on disk but unregistered, the same
  // "invalid view" limbo MySQL keeps.
  locally {
    var pending = for { db <- listSchemas(); v <- listViews(db) } yield (db, v)
    var progress = true
    while (pending.nonEmpty && progress) {
      val failed = pending.filter { case (db, v) =>
        try { registerView(db, v, viewSql(db, v)); false }
        catch { case scala.util.control.NonFatal(_) => true }
      }
      progress = failed.size < pending.size
      pending = failed
    }
  }

  private def dbPath(db: String): Path = Paths.get(warehouse, db)
  private def tablePath(db: String, t: String): Path = Paths.get(warehouse, db, t)
  def dataPath(db: String, t: String): String =
    tablePath(db, t).resolve("data").toString
  def deletesPath(db: String, t: String): String =
    tablePath(db, t).resolve("deletes").toString
  private def baseName(t: String): String = t + "__graft_base"
  private def delsName(t: String): String = t + "__graft_dels"

  // ---- schemas -----------------------------------------------------------

  def schemaExists(db: String): Boolean = Files.isDirectory(dbPath(db))

  def createSchema(db: String, ifNotExists: Boolean = false): Unit = {
    if (schemaExists(db)) {
      if (!ifNotExists) sys.error(s"Can't create database '$db'; database exists")
    } else {
      Files.createDirectories(dbPath(db))
      spark.sql(s"CREATE DATABASE IF NOT EXISTS `$db`")
    }
  }

  def dropSchema(db: String, ifExists: Boolean = false): Unit = {
    if (!schemaExists(db)) {
      if (!ifExists) sys.error(s"Can't drop database '$db'; database doesn't exist")
    } else {
      spark.sql(s"DROP DATABASE IF EXISTS `$db` CASCADE")
      deleteRecursively(dbPath(db))
    }
  }

  def listSchemas(): Seq[String] =
    Files.list(Paths.get(warehouse)).iterator.asScala
      .filter(Files.isDirectory(_)).map(_.getFileName.toString)
      .filterNot(_.startsWith(".")) // dot-dirs (e.g. the wire server's
      .toSeq.sorted                 // .mysql-files sandbox) are not schemas

  // ---- tables ------------------------------------------------------------

  def tableExists(db: String, t: String): Boolean =
    Files.exists(tablePath(db, t).resolve("_graft_meta"))

  def listTables(db: String): Seq[String] = {
    val p = dbPath(db)
    if (!Files.isDirectory(p)) Seq.empty
    else Files.list(p).iterator.asScala
      .filter(d => Files.exists(d.resolve("_graft_meta")))
      .map(_.getFileName.toString).toSeq.sorted
  }

  // ---- views -------------------------------------------------------------
  // Durable CREATE VIEW: the SQL text is the stored artifact (a
  // `_graft_view` file beside the tables), expanded into the Spark
  // session catalog at registration — the textbook logical-view design
  // (MySQL stores the definition in the data dictionary the same way).
  // A view directory carries no `_graft_meta`, so listTables never
  // mistakes it for a table.

  def viewExists(db: String, v: String): Boolean =
    Files.exists(tablePath(db, v).resolve("_graft_view"))

  def listViews(db: String): Seq[String] = {
    val p = dbPath(db)
    if (!Files.isDirectory(p)) Seq.empty
    else Files.list(p).iterator.asScala
      .filter(d => Files.exists(d.resolve("_graft_view")))
      .map(_.getFileName.toString).toSeq.sorted
  }

  def viewSql(db: String, v: String): String = {
    require(viewExists(db, v), s"Unknown view '$db.$v'")
    new String(Files.readAllBytes(tablePath(db, v).resolve("_graft_view")),
      java.nio.charset.StandardCharsets.UTF_8)
  }

  def createView(db: String, v: String, select: String,
                 orReplace: Boolean = false): Unit = {
    require(schemaExists(db), s"Unknown database '$db'")
    if (tableExists(db, v)) sys.error(s"Table '$v' already exists")
    if (viewExists(db, v) && !orReplace) sys.error(s"Table '$v' already exists")
    // register FIRST: CREATE VIEW must validate the SELECT (unknown
    // columns/tables fail here) before anything durable lands
    registerView(db, v, select)
    Files.createDirectories(tablePath(db, v))
    Files.write(tablePath(db, v).resolve("_graft_view"),
      select.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  def dropView(db: String, v: String, ifExists: Boolean = false): Unit = {
    if (!viewExists(db, v)) {
      if (!ifExists) sys.error(s"Unknown view '$db.$v'")
    } else {
      spark.sql(s"DROP VIEW IF EXISTS `$db`.`$v`")
      deleteRecursively(tablePath(db, v))
    }
  }

  private def registerView(db: String, v: String, select: String): Unit = {
    // unqualified table names in the definition resolve against the
    // view's OWN database (MySQL semantics): pin the session db for the
    // create, then restore
    val sc = spark.sessionState.catalog
    val prev = sc.getCurrentDatabase
    sc.setCurrentDatabase(db)
    try spark.sql(s"CREATE OR REPLACE VIEW `$db`.`$v` AS $select")
    finally sc.setCurrentDatabase(prev)
  }

  def createTable(m: TableMeta, ifNotExists: Boolean = false): Unit = {
    require(schemaExists(m.db), s"Unknown database '${m.db}'")
    // `_graft_*` names are internal machinery (_graft_seq hidden MoR
    // sequence, _graft_z transient ZORDER key): a user column with one
    // of these names would be silently overwritten by the staging
    // withColumn and dropped on write. Reject at the door.
    m.cols.find(_.name.toLowerCase.startsWith("_graft_")).foreach { c =>
      sys.error(s"Column name '${c.name}' is reserved " +
        "(names beginning with _graft_ are internal)")
    }
    if (viewExists(m.db, m.table))
      sys.error(s"Table '${m.table}' already exists")
    if (tableExists(m.db, m.table)) {
      if (!ifNotExists) sys.error(s"Table '${m.table}' already exists")
      return
    }
    // versioned from birth: v1 is the (empty) initial commit
    Files.createDirectories(tablePath(m.db, m.table).resolve("versions").resolve("v1"))
    swapPointer(m.db, m.table, "versions/v1")
    logCommit(m.db, m.table, 1, "create")
    writeMeta(m)
    register(m)
  }

  def dropTable(db: String, t: String, ifExists: Boolean = false): Unit = {
    if (!tableExists(db, t)) {
      if (!ifExists) sys.error(s"Unknown table '$db.$t'")
    } else {
      deregister(db, t)
      deleteRecursively(tablePath(db, t))
      Catalog.ndvStore.remove(ndvKey(db, t)) // a re-created table starts fresh
    }
  }

  def meta(db: String, t: String): TableMeta = {
    require(tableExists(db, t), s"Unknown table '$db.$t'")
    var engine = "parquet"; var pk = Seq.empty[String]
    var part = Seq.empty[String]
    val cols = Seq.newBuilder[Col]
    val uniqs = Seq.newBuilder[UniqueKey]
    Files.readAllLines(tablePath(db, t).resolve("_graft_meta")).asScala.foreach {
      line => line.split('\t') match {
        case Array("engine", e)       => engine = e
        case Array("pk", ks)          => pk = ks.split(',').toSeq
        case Array("part", ks)        => part = ks.split(',').toSeq
        case Array("col", n, mt, ddl) => cols += Col(n, mt, ddl)
        case Array("uniq", n, ks)     => uniqs += UniqueKey(n, ks.split(',').toSeq)
        case _                        =>
      }
    }
    TableMeta(db, t, cols.result(), pk, engine, part, uniqs.result())
  }

  /** RENAME TABLE: move the table directory and re-register under the new
    * name (metadata-only — no data rewrite).
    */
  def rename(db1: String, t1: String, db2: String, t2: String): Unit = {
    require(tableExists(db1, t1), s"Unknown table '$db1.$t1'")
    require(!tableExists(db2, t2), s"Table '$db2.$t2' already exists")
    require(schemaExists(db2), s"Unknown database '$db2'")
    val m = meta(db1, t1)
    deregister(db1, t1)
    Files.move(tablePath(db1, t1), tablePath(db2, t2),
      StandardCopyOption.ATOMIC_MOVE)
    register(m.copy(db = db2, table = t2))
  }

  /** Replace a table's columns (ALTER ADD/DROP COLUMN): rewrite meta and
    * re-register the Spark catalog entry under the new schema.
    */
  def replaceMeta(m: TableMeta): Unit = {
    writeMeta(m)
    deregister(m.db, m.table)
    register(m)
  }

  def read(db: String, t: String): DataFrame =
    spark.table(s"`$db`.`$t`")

  /** Row count with NO Spark job for parquet tables: summed straight from
    * the parquet footers of the current committed version — the columnar
    * equivalent of the reference reading sled's row counter for SHOW
    * TABLE STATUS. CSV, and a merge-on-read table with active
    * tombstones, fall back to one count job over the table as read: a
    * tombstone does not always mask a live row (a pk REPLACE tombstones
    * every key of its batch, also keys that had no row), so footers
    * minus tombstones can undercount.
    */
  def rowCount(db: String, t: String): Long = {
    val m = meta(db, t)
    if (m.format != "parquet" || (m.mergeOnRead && activeTombstoneRows(db, t) > 0))
      read(db, t).count()
    else footerRowCount(currentVersionDir(db, t))
  }

  private def activeTombstoneRows(db: String, t: String): Long = {
    val retired = retiredDels(db, t)
    footerRowCount(Paths.get(deletesPath(db, t)),
      skip = retired.map(n => Paths.get(deletesPath(db, t)).resolve(n)))
  }

  /** Parquet row count summed straight from the file footers — no job. */
  private def footerRowCount(dir: Path,
                             skip: Set[Path] = Set.empty): Long =
    if (!Files.isDirectory(dir)) 0L
    else {
      val conf = spark.sessionState.newHadoopConf()
      Files.walk(dir).iterator.asScala
        .filter(p => Files.isRegularFile(p) && !skip.contains(p) &&
          p.getFileName.toString.endsWith(".parquet"))
        .map { p =>
          val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(p.toUri), conf)
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
          try r.getRecordCount finally r.close()
        }.sum
    }

  /** Snapshot read pinned to the table's CURRENT committed version: the
    * `data` pointer is resolved once, so the frame keeps reading a
    * complete, immutable version directory even while later commits swap
    * the pointer (the previous version is retained one commit as a grace
    * period — see the GC note on `rewrite`). This is the manifest-read
    * half of the commit protocol; `read` (the registered catalog table)
    * resolves through the live pointer and gets refresh-on-commit
    * semantics instead.
    */
  def readSnapshot(db: String, t: String): DataFrame = {
    val m = meta(db, t)
    val real = currentVersionDir(db, t)
    if (!m.mergeOnRead)
      spark.read.schema(m.schema).format(m.format).load(real.toString)
    else
      mergedFrom(m, real).select(m.cols.map(c => col(s"`${c.name}`")): _*)
  }

  /** How many REPLACED versions rewrite GC retains behind the current
    * one. 1 = the standing one-commit grace (in-flight `readSnapshot`
    * frames stay readable); raising it turns the commit log into
    * user-addressable history for `SELECT … FROM t VERSION AS OF n`.
    * Settable via SET graft_retain_versions — WAREHOUSE-scOPED and
    * JVM-shared (Catalog.retention): GC runs in whichever connection
    * commits next, so a per-connection depth would let another
    * session's default reap retained history.
    */
  def retainVersions: Int =
    Option(Catalog.retention.get(lockRoot)).map(_.intValue).getOrElse {
      // first touch in this JVM: load the persisted warehouse policy —
      // a server restart must not silently revert retention to 1 and
      // let the next rewrite's GC reap history the user explicitly kept
      val f = Paths.get(warehouse, "_graft_retention")
      val v =
        if (Files.isRegularFile(f))
          scala.util.Try(Files.readString(f).trim.toInt)
            .getOrElse(1).max(1)
        else 1
      Catalog.retention.putIfAbsent(lockRoot, v)
      Catalog.retention.get(lockRoot).intValue
    }
  def retainVersions_=(v: Int): Unit = {
    val depth = math.max(1, v)
    Catalog.retention.put(lockRoot, depth)
    // durable: the warehouse carries its own retention policy
    Files.writeString(Paths.get(warehouse, "_graft_retention"),
      depth.toString)
  }

  /** Time travel: the table's data as of rewrite generation `v`
    * (SURVEY §2.B17 made user-addressable, round 15). A version is a
    * REWRITE generation: appends and merge-on-read tombstones land
    * inside the current generation (the commit model — ingest does not
    * bump versions), so v's contents are "the table as the v→v+1
    * rewrite snapshotted it". Old versions read with the CURRENT
    * logical schema (a column added since reads null, a dropped one is
    * ignored — parquet schema-on-read).
    *
    * Merge-on-read generations reconstruct EXACTLY: v's base files plus
    * the tombstones the v→v+1 rewrite folded (recorded per version in
    * `_folded_dels`; the retention-aware tombstone GC keeps those files
    * alive precisely as long as v itself). Already-retired files mask
    * nothing in v's base (the previous fold removed their rows), so the
    * folded list alone is the complete delete-set. History written
    * before this machinery existed (no `_folded_dels` marker) is
    * refused with the old reason.
    */
  def readVersion(db: String, t: String, v: Int): DataFrame = {
    val m = meta(db, t)
    val cur = versionNumber(currentVersionDir(db, t))
    val dir = tablePath(db, t).resolve("versions").resolve(s"v$v")
    if (v > cur || !Files.isDirectory(dir))
      throw new SqlError(1146, "42S02",
        if (v > cur) s"Unknown version $v of '$db.$t' (current is v$cur)"
        else s"Version $v of '$db.$t' was reaped by retention GC " +
          s"(current is v$cur, retention keeps $retainVersions replaced " +
          "version(s); raise graft_retain_versions BEFORE the commits " +
          "you want addressable)")
    if (!m.mergeOnRead)
      spark.read.schema(m.schema).format(m.format).load(dir.toString)
    else if (v == cur)
      readSnapshot(db, t) // the live merged view IS the current version
    else {
      val marker = tablePath(db, t).resolve("versions").resolve(s"v${v + 1}")
        .resolve("_folded_dels")
      if (!Files.isRegularFile(marker))
        throw new SqlError(1235, "42000",
          s"Version $v of '$db.$t' predates retention-aware tombstone " +
            "GC; its folded delete-set was not recorded and cannot be " +
            "reconstructed")
      val names = Files.readAllLines(marker).asScala.toSeq.filter(_.nonEmpty)
      val base = spark.read.schema(m.baseSchema).parquet(dir.toString)
      val delsP = Paths.get(deletesPath(db, t))
      val delFrames = names.map(n => delsP.resolve(n).toString)
      val dels =
        if (delFrames.isEmpty)
          spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            m.delsSchema)
        else spark.read.schema(m.delsSchema).parquet(delFrames: _*)
      mergedWith(m, base, dels)
        .select(m.cols.map(c => col(s"`${c.name}`")): _*)
    }
  }

  /** Commit history of a table: (version, action) in commit order — the
    * `_graft_log`, exposed for SHOW COMMITS discoverability.
    */
  def commitLog(db: String, t: String): Seq[(Int, String, Option[java.time.Instant])] = {
    require(tableExists(db, t), s"Unknown table '$db.$t'")
    val f = tablePath(db, t).resolve("_graft_log")
    if (!Files.isRegularFile(f)) Seq.empty
    else Files.readAllLines(f).asScala.iterator
      .map(_.split("\t", -1)).collect {
        // commit times landed in round 16; older logs have 2-col lines
        case Array(v, action) if v.startsWith("v") =>
          (v.drop(1).toInt, action, None)
        case Array(v, action, ts) if v.startsWith("v") =>
          (v.drop(1).toInt, action,
            scala.util.Try(java.time.Instant.parse(ts)).toOption)
      }.toSeq
  }

  /** Timestamp → rewrite-generation resolution for `TIMESTAMP AS OF`:
    * the version live AT `ts` is the last one committed at-or-before it
    * (a generation spans from its commit to the next rewrite's; appends
    * land inside the current generation, same granularity as
    * `VERSION AS OF`). Accepts MySQL-style `yyyy-MM-dd[ HH:mm:ss[.f]]`
    * in the session zone and full ISO-8601 with offset.
    */
  def versionAt(db: String, t: String, ts: String): Int = {
    val instant = parseTsLiteral(ts).getOrElse(throw new SqlError(1525,
      "HY000", s"Incorrect TIMESTAMP value: '$ts'"))
    val timed = commitLog(db, t).collect { case (v, _, Some(at)) => (v, at) }
    if (timed.isEmpty)
      throw new SqlError(1235, "42000",
        s"'$db.$t' has no timestamped commits (history predates commit " +
          "times); use VERSION AS OF")
    timed.filter(!_._2.isAfter(instant)).map(_._1).maxOption.getOrElse {
      throw new SqlError(1146, "42S02",
        s"'$db.$t' has no commit at or before '$ts' (first commit " +
          s"v${timed.head._1} at ${timed.head._2}); reaped history is " +
          "governed by graft_retain_versions")
    }
  }

  private def parseTsLiteral(ts: String): Option[java.time.Instant] = {
    val zone = java.time.ZoneId.of(
      spark.sessionState.conf.getConfString("spark.sql.session.timeZone"))
    val s = ts.trim
    def attempt[A](f: => java.time.Instant): Option[java.time.Instant] =
      scala.util.Try(f).toOption
    attempt(java.time.OffsetDateTime.parse(s).toInstant)
      .orElse(attempt(java.time.Instant.parse(s)))
      .orElse(attempt(java.time.LocalDateTime
        .parse(s.replace(' ', 'T')).atZone(zone).toInstant))
      .orElse(attempt(java.time.LocalDate.parse(s)
        .atStartOfDay(zone).toInstant))
  }

  /** Base rows under `dataDir` with the table's tombstones applied: a
    * LEFT ANTI join on pk equality plus the strictly-older-sequence
    * condition. The tombstone side is small between compactions, so
    * Catalyst broadcasts it — the merge adds no shuffle on the data side
    * (the 100 TB-safe merge-on-read shape). Keeps the hidden seq column;
    * callers project it away.
    */
  private def mergedFrom(m: TableMeta, dataDir: Path): DataFrame =
    mergedWith(m,
      spark.read.schema(m.baseSchema).parquet(dataDir.toString),
      spark.read.schema(m.delsSchema).parquet(deletesPath(m.db, m.table)))

  /** The one copy of the merge anti-join semantics (mergedFrom for the
    * live deletes dir; readVersion for a recorded folded delete-set).
    * Null-safe pk equality: a NULL pk component (MySQL would reject it,
    * but INSERT column lists can produce one) must still be maskable —
    * plain === makes its tombstone a silent no-op.
    */
  private def mergedWith(m: TableMeta, base: DataFrame,
                         dels: DataFrame): DataFrame = {
    val cond: Column = m.pk.map(k => base(s"`$k`") <=> dels(s"`$k`"))
      .reduce(_ && _) &&
      dels(s"`${Catalog.SeqCol}`") >
        coalesce(base(s"`${Catalog.SeqCol}`"), lit(0L))
    base.join(dels, cond, "left_anti")
  }

  // ---- commit protocol: versioned dirs + atomic pointer swap -------------
  //
  // Table layout after the first commit:
  //   <table>/versions/v<N>/   complete immutable data directories
  //   <table>/data             SYMLINK to versions/v<N> — the manifest
  //                            pointer; replaced by an atomic rename, so
  //                            every reader resolves a complete version
  //   <table>/_graft_log       one line per commit (version, action)
  //
  // The symlink swap is the single-filesystem equivalent of a Delta/
  // Iceberg manifest-pointer commit: on an object store the same design
  // writes a manifest listing v<N>'s files and CASes the pointer object.
  // The old two-rename scheme had a window where the data path did not
  // exist; the pointer swap has none.
  //
  // Writers (append / rewrite-commit) serialize on a per-table in-process
  // lock — the reference's single-writer session model (sled holds the
  // process lock; SURVEY §2.B11). Rewrites materialize OUTSIDE the lock
  // and only link + swap inside it, so a long UPDATE does not block
  // streaming ingest; appends that land between a rewrite's snapshot and
  // its commit are hard-linked into the new version before the swap
  // (ingest-vs-DML consistency).

  private val lockRoot =
    Paths.get(warehouse).toAbsolutePath.normalize().toString
  /** Short commit-section lock: guards pointer swaps, appends, version
    * resolution. Shared JVM-wide per (warehouse, table).
    */
  private def lockFor(db: String, t: String) =
    Catalog.lockFor(s"$lockRoot|$db.$t")
  /** Long rewrite lock: serializes whole rewrites (materialize + commit)
    * against each other, so two rewrites can never materialize into the
    * same version number or clobber each other's commit. Appends only
    * take the short lock and stay concurrent with a materializing
    * rewrite (the window hard-link merge covers them).
    */
  private def rewriteLockFor(db: String, t: String) =
    Catalog.lockFor(s"$lockRoot|rw|$db.$t")

  /** What THIS session saw of each table's global commit counter. */
  private val seenCommits =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]

  /** Record a committed write: bump the JVM-global counter and mark it
    * seen here (the writing session just refreshed its own cache).
    */
  private def bumpCommit(db: String, t: String): Unit =
    seenCommits.put(s"$db.$t",
      Catalog.commitVersionFor(s"$lockRoot|$db.$t").incrementAndGet())

  /** Refresh this session's cached relations for every table some OTHER
    * session has committed to since we last looked. No-op (two volatile
    * reads per ever-written table) when nothing changed — called once
    * per statement, and again under the DML lock by multi-step DML.
    */
  def freshenStale(): Unit = {
    val prefix = s"$lockRoot|"
    Catalog.commitVersions.forEach { (k, v) =>
      if (k.startsWith(prefix)) {
        val dbt = k.substring(prefix.length)
        val cur = v.get()
        if (seenCommits.get(dbt) != cur) {
          val i = dbt.indexOf('.')
          val (db, t) = (dbt.substring(0, i), dbt.substring(i + 1))
          // the table may have been dropped since the commit — then
          // there is nothing cached worth refreshing
          try refreshRegistered(db, t, meta(db, t))
          catch { case scala.util.control.NonFatal(_) => () }
          seenCommits.put(dbt, cur)
        }
      }
    }
  }

  /** Serialize a whole multi-step DML statement (match, key checks and
    * `commitRows`) against rewrites and other DML on the same table.
    * Without it two UPDATEs can both stage from the pre-update snapshot
    * and the earlier writer's assignment is silently lost (MySQL
    * serializes row updates). Reuses the long rewrite lock — reentrant,
    * so the nested commit, rewrite and auto-compaction inside the
    * statement still work — while plain ingest appends (short lock only)
    * stay concurrent.
    */
  def withDmlLock[T](db: String, t: String)(f: => T): T = {
    val l = rewriteLockFor(db, t)
    l.lock()
    try f finally l.unlock()
  }

  /** Test seam: invoked by `rewrite` after the new version is fully
    * materialized but before the commit critical section — the window a
    * concurrent append can land in.
    */
  private[graft] var onRewriteBeforeCommit: () => Unit = () => ()

  /** Test seam: invoked by `rewrite` right after the snapshot + frame
    * file-index pinning, before materialization — an append landing here
    * must carry over via the commit merge without duplicating rows the
    * frame read.
    */
  private[graft] var onRewriteAfterSnapshot: () => Unit = () => ()

  private def dataLink(db: String, t: String): Path =
    tablePath(db, t).resolve("data")

  /** The real directory behind the `data` pointer (handles both the
    * symlink layout and a legacy plain directory).
    */
  def currentVersionDir(db: String, t: String): Path = {
    val link = dataLink(db, t)
    if (Files.isSymbolicLink(link))
      link.getParent.resolve(Files.readSymbolicLink(link)).normalize()
    else link
  }

  private def versionNumber(dir: Path): Int = {
    val name = dir.getFileName.toString
    if (name.startsWith("v")) name.drop(1).toInt else 0
  }

  /** Migrate a legacy plain `data` directory to versions/v1 + pointer.
    * One-time, under the table lock; new tables are created versioned.
    */
  private def ensureVersioned(db: String, t: String): Unit = {
    val link = dataLink(db, t)
    if (!Files.isSymbolicLink(link)) {
      val versions = tablePath(db, t).resolve("versions")
      Files.createDirectories(versions)
      Files.move(link, versions.resolve("v1"), StandardCopyOption.ATOMIC_MOVE)
      swapPointer(db, t, "versions/v1")
      logCommit(db, t, 1, "migrate")
    }
  }

  /** Atomically repoint `data` at a (relative) version dir: symlinks
    * rename over each other in one POSIX rename.
    */
  private def swapPointer(db: String, t: String, target: String): Unit = {
    val tmp = tablePath(db, t).resolve(s".data_ptr_${System.nanoTime()}")
    Files.createSymbolicLink(tmp, Paths.get(target))
    Files.move(tmp, dataLink(db, t), StandardCopyOption.ATOMIC_MOVE)
  }

  private def logCommit(db: String, t: String, v: Int, action: String): Unit =
    Files.writeString(tablePath(db, t).resolve("_graft_log"),
      s"v$v\t$action\t${java.time.Instant.now()}\n",
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.APPEND)

  /** Data files under a version dir as dir-relative paths (recursive:
    * partitioned tables nest files in partition directories).
    */
  private def listFiles(dir: Path): Set[String] =
    if (!Files.isDirectory(dir)) Set.empty
    else Files.walk(dir).iterator.asScala
      .filter(Files.isRegularFile(_))
      .map(p => dir.relativize(p).toString).toSet

  // ---- merge-on-read sequences and tombstones -----------------------------

  private def seqFile(db: String, t: String): Path =
    tablePath(db, t).resolve("_graft_seqno")

  private def retiredFile(db: String, t: String): Path =
    tablePath(db, t).resolve("_retired_dels")

  /** Retired (folded) tombstone entries with the GENERATION that folded
    * them: line format `g\tname` (round 15 — a file folded at rewrite
    * generation g is needed by `readVersion(v)` for every retained
    * v < g, so GC is retention-aware). Legacy single-name lines parse
    * as generation 0 — always eligible at the next GC, the old
    * one-commit-grace behavior.
    */
  private def retiredEntries(db: String, t: String): Seq[(Int, String)] =
    if (!Files.exists(retiredFile(db, t))) Seq.empty
    else Files.readAllLines(retiredFile(db, t)).asScala.toSeq
      .filter(_.nonEmpty).map { l =>
        l.split('\t') match {
          case Array(g, n) if g.nonEmpty && g.forall(_.isDigit) => (g.toInt, n)
          case _ => (0, l)
        }
      }

  /** Tombstone files already folded into the current data version:
    * semantic no-ops kept on disk one commit for in-flight readers.
    */
  private def retiredDels(db: String, t: String): Set[String] =
    retiredEntries(db, t).map(_._2).toSet

  private def nextSeqLocked(db: String, t: String): Long = {
    val f = seqFile(db, t)
    val cur = if (Files.exists(f)) Files.readString(f).trim.toLong else 0L
    Files.writeString(f, (cur + 1).toString)
    cur + 1
  }

  /** Allocate the next commit sequence for a table (monotonic, persisted
    * alongside the commit log; single-writer like every other commit).
    */
  private def nextSeq(db: String, t: String): Long = {
    val lock = lockFor(db, t)
    lock.lock()
    try nextSeqLocked(db, t) finally lock.unlock()
  }

  /** Current commit sequence WITHOUT allocating — the snapshot point a
    * codebook refresh records before retraining, so "upserted since the
    * retrain" is answerable from per-row sequences afterwards.
    */
  def currentSeq(db: String, t: String): Long = {
    val lock = lockFor(db, t)
    lock.lock()
    try {
      val f = seqFile(db, t)
      if (Files.exists(f)) Files.readString(f).trim.toLong else 0L
    } finally lock.unlock()
  }

  /** Live (tombstone-merged) rows of a merge-on-read table WITH the
    * hidden per-row commit sequence — the stale-window probe
    * `GraftSession.refreshIndex` runs between catch-up passes. A fresh
    * read (new relation, new file listing) every call, deliberately
    * bypassing the registered view (which strips the sequence).
    */
  def mergedWithSeq(db: String, t: String): DataFrame = {
    val m = meta(db, t)
    require(m.mergeOnRead, s"'$db.$t' is not a merge-on-read table")
    mergedFrom(m, currentVersionDir(db, t))
  }

  /** Commit equality-delete tombstones: `pks` must hold exactly the pk
    * columns of rows visible at `seq` allocation time. Masks take effect
    * on the next read through the view — no data file is touched
    * (the merge-on-read half of `commitRows`).
    */
  private def appendDeletes(db: String, t: String, pks: DataFrame, seq: Long): Unit = {
    val out = pks.withColumn(Catalog.SeqCol, lit(seq))
    val lock = lockFor(db, t)
    lock.lock()
    try out.write.mode("append").parquet(deletesPath(db, t))
    finally lock.unlock()
    // refresh immediately: the tombstones must become visible no later
    // than the data files a caller appends next (Spark auto-refreshes
    // the base path on that write) — callers needing a pre-tombstone
    // snapshot must pin it (localCheckpoint), not rely on stale caches
    refreshMergeOnRead(db, t)
    bumpCommit(db, t)
  }

  /** Invalidate cached plans and file listings of the merge-on-read trio. */
  def refreshMergeOnRead(db: String, t: String): Unit = {
    spark.catalog.refreshTable(s"`$db`.`${delsName(t)}`")
    spark.catalog.refreshTable(s"`$db`.`${baseName(t)}`")
    spark.catalog.refreshTable(s"`$db`.`$t`")
  }

  /** Compaction: fold the accumulated tombstones into a fresh data
    * version (OPTIMIZE TABLE). Per-row sequences are PRESERVED through
    * the rewrite, so tombstones committed while the compaction
    * materializes still mask exactly their rows in the compacted files.
    */
  def compact(db: String, t: String): Unit = {
    val m = meta(db, t)
    require(m.mergeOnRead, s"'$db.$t' is not a merge-on-read table")
    // compactions lay the new version out BUCKETED by pk: every later
    // pk join / pk aggregation over the merged view is exchange-free on
    // the data side (the one-time layout cost sled pays by keeping rows
    // pk-clustered, store/engine/sled.rs). Plain appends after the
    // compaction drop the guarantee (see append) until the next OPTIMIZE.
    rewrite(db, t, mergedFrom(m, currentVersionDir(db, t)), bucketBy = m.pk)
  }

  /** OPTIMIZE ... SORT BY: rewrite the table range-clustered on `cols`
    * (`repartitionByRange` + in-partition sort), so every output file
    * covers a DISJOINT range and the E9 sidecar's min/max actually bite
    * — a range predicate then prunes to O(1) files instead of all of
    * them (the Delta OPTIMIZE ZORDER role, one-dimensional). The
    * explicit trade vs plain OPTIMIZE: clustering serves scan pruning on
    * `cols`, the pk-bucket layout serves exchange-free pk joins — a
    * table gets whichever the operator chose last. Merge-on-read tables
    * still fold their tombstones here (it is a rewrite like any other).
    */
  /** SORT BY rewrites target this output file size (the Delta OPTIMIZE
    * sizing model: one file ≈ one scan split, so the range count comes
    * from data volume, not the session's shuffle width — AQE would
    * otherwise coalesce a small table to one file and a huge one would
    * write under-split giants).
    */
  var sortTargetFileBytes: Long = 128L * 1024 * 1024

  def compactSorted(db: String, t: String, cols: Seq[String]): Unit = {
    val m = meta(db, t)
    require(cols.nonEmpty, "SORT BY needs at least one column")
    cols.foreach(c => require(m.cols.exists(_.name == c),
      s"unknown SORT BY column '$c'"))
    val cur = currentVersionDir(db, t)
    val src =
      if (m.mergeOnRead) mergedFrom(m, cur)
      else readSnapshot(db, t)
    // partitioned tables range-cluster WITHIN each partition dir (round
    // 16, the shard-aware layout): the partition columns LEAD the range
    // keys, so an output task's rows land in one (or few) partition dirs
    // and each dir's files stay range-disjoint and target-sized. Sort
    // keys alone would split every global range slice across every dir —
    // ranges × dirs small files, and the per-dir shard sidecars would
    // carry overlapping bounds.
    // partition cols ALWAYS lead, wherever the user listed them — a
    // trailing partition col in the SORT BY list must not demote the
    // per-dir clustering back to global slices
    val keys = (m.partitionCols ++ cols.filterNot(m.partitionCols.contains))
      .map(c => col(s"`$c`"))
    rewrite(db, t, src.repartitionByRange(targetParts(cur), keys: _*)
      .sortWithinPartitions(keys: _*))
  }

  private def targetParts(cur: Path): Int = {
    val bytes = listFiles(cur).filter(_.endsWith(".parquet"))
      .map(f => Files.size(cur.resolve(f))).sum
    math.max(1L,
      (bytes + sortTargetFileBytes - 1) / sortTargetFileBytes).toInt
  }

  /** OPTIMIZE ... ZORDER BY: multi-dimensional clustering. A
    * lexicographic SORT BY gives the E9 sidecar tight bounds only on
    * the LEADING column — a predicate on the second column still scans
    * every file. Z-ordering interleaves per-column QUANTILE bucket ids
    * (256 buckets per column via approxQuantile — rank-based, so skew
    * cannot collapse the curve; nulls land in bucket 0, constant
    * columns degrade to a no-op dimension) bit by bit into one space-
    * filling key, so every output file covers a bounded RECTANGLE in
    * every z-dimension and min/max skipping prunes predicates on ANY
    * of them (~F^((k-1)/k) of F files for a point probe on one of k
    * columns). Pure column arithmetic end to end — quantile probe,
    * HOF bucket assignment, shift/or interleave — no UDF, no driver
    * rows beyond the 255-cut boundary arrays.
    */
  def compactZOrdered(db: String, t: String, cols: Seq[String]): Unit = {
    val m = meta(db, t)
    require(cols.size >= 2 && cols.size <= 4,
      "ZORDER BY takes 2-4 columns (1 column is plain SORT BY)")
    cols.foreach(c => require(m.cols.exists(_.name == c),
      s"unknown ZORDER BY column '$c'"))
    val cur = currentVersionDir(db, t)
    val src =
      if (m.mergeOnRead) mergedFrom(m, cur)
      else readSnapshot(db, t)
    // orderable domains only; date/timestamp go through their epoch
    // integers (CAST(date AS DOUBLE) is not a thing)
    def asD(c: String): Column = {
      import org.apache.spark.sql.types._
      m.schema(c).dataType match {
        case DateType => org.apache.spark.sql.functions.unix_date(
          col(s"`$c`")).cast("double")
        case TimestampType | TimestampNTZType =>
          org.apache.spark.sql.functions.unix_micros(
            col(s"`$c`").cast("timestamp")).cast("double")
        case _: NumericType | BooleanType => col(s"`$c`").cast("double")
        case other => throw new SqlError(1235, "42000",
          s"ZORDER BY supports numeric/date/timestamp columns; '$c' is $other")
      }
    }
    val probs = (1 to 255).map(_ / 256.0).toArray
    val asDouble = src.select(cols.map(c => asD(c).as(c)): _*)
    val bounds: Map[String, Array[Double]] = cols.map { c =>
      c -> asDouble.stat.approxQuantile(c, probs, 0.01)
    }.toMap
    val k = cols.size
    // bucket id = #boundaries <= value (0..255); bit j of column i
    // lands at z-bit j*k + i
    val z = cols.zipWithIndex.map { case (c, i) =>
      val v = asD(c)
      val b = size(filter(lit(bounds(c)), bd => v >= bd)).cast("long")
      (0 until 8).map { j =>
        shiftleft(shiftright(b, j).bitwiseAND(lit(1L)), j * k + i)
      }.reduce((a, x) => a.bitwiseOR(x))
    }.reduce((a, x) => a.bitwiseOR(x))
    val withZ = src.withColumn(Catalog.ZCol, z)
    // partition columns lead the range keys on partitioned tables —
    // same shard-aware layout rationale as compactSorted
    val zKeys = m.partitionCols.map(c => col(s"`$c`")) :+ col(Catalog.ZCol)
    rewrite(db, t, withZ
      .repartitionByRange(targetParts(cur), zKeys: _*)
      .sortWithinPartitions(zKeys: _*)
      .drop(Catalog.ZCol))
  }

  /** Backfill the current version's E9 sidecar for files it does not
    * cover (a warehouse written before data skipping existed, or files
    * landed by an external writer). Wired to ANALYZE TABLE — the same
    * statement that refreshes CBO stats refreshes skipping stats.
    */
  def backfillStats(db: String, t: String): Long = {
    val m = meta(db, t)
    if (m.format != "parquet") return 0L
    withDmlLock(db, t) {
      val cur = currentVersionDir(db, t)
      // one directory walk and one sidecar parse serve both layers —
      // this all runs inside the DML lock, so redundant I/O here extends
      // the window every writer blocks on
      val parquetFiles = listFiles(cur).filter(_.endsWith(".parquet"))
      val covered = graft.sources.FileSkipStats.readAll(cur).keySet
      val missing = parquetFiles.filter(f =>
        !covered.contains(graft.sources.FileSkipStats.relKey(f)))
      // externally landed files may come from NaN-excluding writers —
      // collect with the untrusted (float-max-dropping) handling
      val physSchema = if (m.mergeOnRead) m.baseSchema else m.schema
      graft.sources.FileSkipStats.record(
        spark.sessionState.newHadoopConf(), cur, missing, physSchema,
        trusted = false)
      // an explicit ANALYZE covers every uncovered file with blooms,
      // minRows gate included (the user asked for stats)
      val fresh = graft.sources.FileSkipStats.readAll(cur)
      val bloomCovered = graft.sources.BloomSidecar.readAll(cur).keySet
      val bloomMissing = parquetFiles.filter(f =>
        !bloomCovered.contains(graft.sources.FileSkipStats.relKey(f)))
      graft.sources.BloomSidecar.record(
        spark, cur, bloomMissing, dataOnly(physSchema, m), minRows = 1L,
        statsOpt = Some(fresh))
      missing.size.toLong
    }
  }

  /** Bucket count for compacted merge-on-read layouts. Sized to the
    * shuffle parallelism at test scale; at 100 TB size it so one bucket
    * is one executor-core's worth (O(10^4)).
    */
  var compactionBuckets: Int = 32

  /** Smallest per-file row count that earns a `_graft_bloom` entry at
    * commit time (ANALYZE TABLE ignores it): min/max already covers tiny
    * files, and the per-commit bloom job must not tax every small VALUES
    * insert.
    */
  var bloomMinRows: Long = 1024L

  /** Schema restricted to columns physically present in data files:
    * partition values live in directory names and would bloom as
    * all-null garbage.
    */
  private def dataOnly(schema: StructType, m: TableMeta): StructType =
    if (m.partitionCols.isEmpty) schema
    else StructType(schema.filterNot(f => m.partitionCols.contains(f.name)))

  /** A version dir whose files were written by the bucketed writer
    * carries this marker (with the bucket count). The marker is removed
    * the moment any non-bucketed file lands in the version (append,
    * carry-over merge), so the registered bucket spec never lies.
    */
  private def bucketMarker(dir: Path): Path = dir.resolve("_graft_buckets")

  /** Current bucket count of a merge-on-read table's data (0 = not
    * bucketed).
    */
  def bucketCount(db: String, t: String): Int = {
    val mk = bucketMarker(currentVersionDir(db, t))
    if (Files.exists(mk))
      new String(Files.readAllBytes(mk)).trim.toInt
    else 0
  }

  /** Re-register the merge-on-read trio when the physical layout's
    * bucketed-ness no longer matches the registered bucket spec.
    */
  private def syncBucketRegistration(m: TableMeta): Unit = if (m.mergeOnRead) {
    val sc = spark.sessionState.catalog
    val ident = org.apache.spark.sql.catalyst.TableIdentifier(
      baseName(m.table), Some(m.db))
    val want = bucketCount(m.db, m.table)
    val have =
      if (sc.tableExists(ident))
        sc.getTableMetadata(ident).bucketSpec.map(_.numBuckets).getOrElse(0)
      else -1
    if (have != want) { deregister(m.db, m.table); register(m) }
  }

  /** Auto-compaction policy: fold tombstones once they exceed BOTH an
    * absolute floor (don't churn small tables) and a fraction of the
    * data rows (the merge anti-join's broadcast side must stay small —
    * this bound is what keeps the read path shuffle-free at any scale).
    * Checked from parquet footers only — no Spark job.
    */
  var autoCompactMinTombstones: Long = 10000L
  var autoCompactRatio: Double = 0.2

  /** Run by `commitRows` after every merge-on-read commit; compacts when
    * the policy triggers. Never invoked from `rewrite` itself, so
    * compaction cannot re-enter.
    */
  private def maybeAutoCompact(db: String, t: String, minTombstones: Long,
                               ratio: Double): Unit = {
    val dels = activeTombstoneRows(db, t)
    if (dels >= minTombstones &&
        dels >= ratio * footerRowCount(currentVersionDir(db, t)))
      compact(db, t)
  }

  /** The one row-level commit (UPDATE, DELETE, REPLACE and the index
    * maintainers): retire the current rows `retire` names (any of its
    * parts matching retires a row) and add `added`, as one write under
    * the DML lock. With `set` (UPDATE; `retire` is then one `Where`) each
    * retired row is also added back as its image under `set`, assigned
    * left to right as MySQL does, and `check` sees those images before
    * anything is written (the caller's 1062 checks). The victims are
    * found once, and `retired` counts exactly the rows the write retired.
    * The storage strategy is chosen here and nowhere else:
    *  - merge-on-read tables tombstone the victims' pks and append the
    *    images and `added` at ONE sequence (the tombstones mask only
    *    strictly older rows, so the added rows survive them), then run
    *    the auto-compaction check. Keys on the pk are tombstoned as
    *    given — O(batch), no table read; any other `retire` finds its
    *    victims in the current rows and pins them once, so the count,
    *    the tombstones and the images all read one snapshot;
    *  - every other table first probes for a victim (a scan that stops
    *    at the first one) and, with none, just appends `added`.
    *    Otherwise it rewrites the table in ONE pass that drops the rows
    *    no key matches and no predicate holds TRUE for
    *    (`!coalesce(p, false)`: a NULL keeps its row) — or, with `set`,
    *    maps the matched rows in place — plus `added`. The count is
    *    observed on that same pass, so a non-deterministic predicate
    *    reports exactly the rows it changed, and a row a concurrent
    *    append lands after the rewrite's snapshot is carried over as is.
    * `minTombstones`/`ratio` are the auto-compaction policy
    * (GraftSession passes the session's graft_auto_compact_* variables).
    */
  def commitRows(db: String, t: String, retire: Seq[Catalog.Retire],
                 added: Option[DataFrame], minTombstones: Long, ratio: Double,
                 set: Seq[(String, Column)] = Nil,
                 check: DataFrame => Unit = _ => ()): Catalog.Committed =
    withDmlLock(db, t) {
      import Catalog.{Committed, Retire}
      require(set.isEmpty || (retire match { case Seq(_: Retire.Where) => true; case _ => false }),
        "an in-place assignment retires by one predicate")
      freshenStale()
      val m = meta(db, t)
      // the key side is renamed apart, so a key frame derived from the
      // table itself never makes an ambiguous self-join
      def matching(df: DataFrame, k: Retire.Keys, how: String): DataFrame = {
        val ks = k.cols.indices.map(i => s"_graft_key$i")
        val keys = k.keys.select(k.cols.zip(ks).map { case (c, r) => col(s"`$c`").as(r) }: _*)
        df.join(keys, k.cols.zip(ks).map { case (c, r) => col(s"`$c`") <=> col(r) }
          .reduce(_ && _), how)
      }
      def assign(df: DataFrame, hit: Column): DataFrame = set.foldLeft(df) {
        case (d, (c, e)) => d.withColumn(c, when(hit, e).otherwise(col(s"`$c`")))
      }
      if (m.mergeOnRead) {
        val pk = m.pk.map(k => col(s"`$k`"))
        val seq = nextSeq(db, t)
        def land(victims: Option[DataFrame], more: Option[DataFrame]): Unit =
          if (victims.nonEmpty || more.nonEmpty) {
            victims.foreach(appendDeletes(db, t, _, seq))
            more.foreach(appendRows(db, t, _, Some(seq)))
            maybeAutoCompact(db, t, minTombstones, ratio)
          }
        retire match {
          case Seq(k: Retire.Keys) if k.cols.toSet == m.pk.toSet =>
            land(Some(k.keys.select(pk: _*)), added)
            Committed(seq, None)
          case Seq() =>
            land(None, added)
            Committed(seq, Some(0L))
          case parts =>
            val found = parts.map {
              case Retire.Where(p) => read(db, t).filter(p)
              case k: Retire.Keys => matching(read(db, t), k, "left_semi")
            }.map(f => if (set.isEmpty) f.select(pk: _*) else f)
            val union =
              if (found.size == 1) found.head else found.reduce(_ unionByName _).distinct()
            // UPDATE's images append after the tombstone commit has
            // refreshed the dels table, which would recompute a persisted
            // plan against the tombstoned view: its victims are staged to
            // a temp parquet dir; pk-only victims are all read before
            // that refresh, and a persist pins them
            val stage = if (set.isEmpty) None else Some(Files.createTempDirectory("graft-dml-stage"))
            val victims = stage.fold(union.persist(StorageLevel.MEMORY_AND_DISK)) { dir =>
              union.write.mode("overwrite").parquet(dir.toString)
              spark.read.parquet(dir.toString)
            }
            try {
              val n = victims.count()
              val images = if (set.nonEmpty && n > 0) Some(assign(victims, lit(true))) else None
              images.foreach(check)
              land(if (n > 0) Some(victims.select(pk: _*)) else None,
                (images ++ added).reduceOption(_ unionByName _))
              Committed(seq, Some(n))
            } finally { victims.unpersist(); stage.foreach(deleteRecursively) }
        }
      } else {
        // a filter drops NULL as it drops FALSE, so the probe and the
        // check filter by the bare predicate (which the scan can push
        // down); only the rewrite's marker needs the coalesce
        val where = retire.collect { case Retire.Where(p) => p }.reduceOption(_ || _)
        val keys = retire.collect { case k: Retire.Keys => k }
        val hitP = where.fold(lit(false))(coalesce(_, lit(false)))
        val any = where.exists(p => !read(db, t).filter(p).isEmpty) ||
          keys.exists(k => !matching(read(db, t), k, "left_semi").isEmpty)
        if (!any) {
          added.foreach(append(db, t, _))
          Committed(0L, Some(0L))
        } else {
          for (p <- where if set.nonEmpty) check(assign(read(db, t).filter(p), lit(true)))
          var hit = "_graft_hit"
          while (m.cols.exists(_.name == hit)) hit += "_"
          val before = org.apache.spark.sql.Observation()
          val after = org.apache.spark.sql.Observation()
          rewrite(db, t, {
            // the predicate lands in its own column, evaluated once per
            // row against the original values: an assignment never sees
            // it re-resolved over a column an earlier one changed
            val marked = read(db, t).withColumn(hit, hitP).observe(before,
              count(lit(1)).as("rows"), sum(col(hit).cast("long")).as("hits"))
            val changed =
              if (set.isEmpty) marked.filter(!col(hit)) else assign(marked, col(hit))
            val kept = keys.foldLeft(changed.drop(hit))(matching(_, _, "left_anti"))
              .observe(after, count(lit(1)).as("rows"))
            added.fold(kept)(kept.unionByName(_))
          })
          def observed(o: org.apache.spark.sql.Observation): Row =
            scala.concurrent.Await.result(o.future, scala.concurrent.duration.Duration(10, "min"))
          val (in, out) = (observed(before), observed(after))
          val mapped = if (set.isEmpty || in.isNullAt(1)) 0L else in.getLong(1)
          Committed(0L, Some(in.getLong(0) - out.getLong(0) + mapped))
        }
      }
    }

  /** Copy-on-write rewrite of a table's data (ALTER / TRUNCATE /
    * compaction; also `commitRows` on copy-on-write tables):
    * materialize the new contents as version N+1 (no lock held), then —
    * inside the commit critical section — hard-link any files a
    * concurrent append added to version N since the snapshot, swap the
    * pointer, and GC versions older than N (N itself is retained one
    * commit so in-flight `readSnapshot` frames stay readable).
    *
    * `df` is by-name and evaluated INSIDE the same locked section as the
    * file snapshot, with its file-index resolution forced (`inputFiles`)
    * before the lock is released. That pins both directions of the
    * append race: an eager-listing frame constructed before the snapshot
    * cannot miss an append (evaluation happens at snapshot time), and a
    * lazily-listing frame (a registered-table read whose index resolves
    * at save planning) cannot list LATER than the snapshot — which would
    * read an interleaved append's rows into the new version AND
    * hard-link its file at commit, duplicating them.
    *
    * Merge-on-read bookkeeping: a rewrite folds every tombstone that
    * existed when materialization started into the new data version.
    * Folded tombstone files get the SAME one-commit grace as replaced
    * versions: their names are recorded in `_retired_dels` and the
    * files are physically deleted at the NEXT rewrite commit, so
    * in-flight merge reads that listed them keep resolving. Leaving
    * them temporarily in place is semantically a no-op — every row that
    * survives the fold has a sequence ≥ any folded tombstone's (it
    * survived that mask), so re-applying them masks nothing. If the
    * frame carries no seq column (session frames read the merged view),
    * all rows are stamped with a sequence allocated BEFORE
    * materialization — any tombstone committed during the window gets a
    * higher sequence and still masks its rows in the rewritten files.
    */
  def rewrite(db: String, t: String, df: => DataFrame,
              bucketBy: Seq[String] = Nil): Unit = {
    val rwLock = rewriteLockFor(db, t)
    rwLock.lock()
    try rewriteLocked(db, t, df, bucketBy)
    finally rwLock.unlock()
  }

  private def rewriteLocked(db: String, t: String, df: => DataFrame,
                            bucketBy: Seq[String] = Nil): Unit = {
    val lock = lockFor(db, t)
    lock.lock()
    val (cur, snapshot, delSnapshot, seq, m, frame0) =
      try {
        ensureVersioned(db, t)
        val c = currentVersionDir(db, t)
        val mm = meta(db, t)
        // Invalidate the catalog's cached relation first (an append that
        // committed just before we took the lock may not have refreshed
        // yet — a stale index would make the frame MISS its rows), then
        // force file-index resolution while appends are locked out: a
        // by-name frame then reads exactly this snapshot, and the
        // commit-time merge below carries over precisely the appends the
        // frame never saw — no loss, no dup.
        refreshRegistered(db, t, mm)
        // freeze = re-list every file source NOW (under the lock) and pin
        // the listing: a concurrent append's refreshTable mutates shared
        // InMemoryFileIndex instances IN PLACE, so an unpinned frame
        // could silently re-list mid-rewrite — reading a file the commit
        // merge also hard-links (duplication) or missing one it skips
        val f = org.apache.spark.sql.graft.Bridge.freezeFileIndexes(df)
        (c, listFiles(c), listFiles(Paths.get(deletesPath(db, t))),
          nextSeqLocked(db, t), mm, f)
      } finally lock.unlock()
    // The carry-over baseline is the set of THIS table's files the frame
    // actually reads (resolved above; a FileIndex is immutable once
    // listed). A caller may have built the frame BEFORE calling rewrite —
    // an append landing between the frame's resolution and our snapshot
    // is then in the snapshot but invisible to the frame, and a
    // snapshot-based merge would drop its rows. Replacement frames that
    // read none of the table's files (TRUNCATE's limit(0) still lists —
    // this is fresh-content rewrites like `rows.toDF`) fall back to the
    // snapshot: for them "not read" is intent, not staleness.
    // registered tables resolve through the `data` symlink, direct reads
    // (compact) through the real versions/vN dir — relativize from either
    val link = dataLink(db, t)
    val delsDir = Paths.get(deletesPath(db, t))
    val inputs = frame0.inputFiles.map(s =>
      Paths.get(new org.apache.hadoop.fs.Path(s).toUri.getPath))
    val readSet: Set[String] = inputs.iterator.flatMap { p =>
      if (p.startsWith(cur)) Some(cur.relativize(p).toString)
      else if (p.startsWith(link)) Some(link.relativize(p).toString)
      else None
    }.toSet
    val carried = if (readSet.isEmpty) snapshot else readSet
    // Only tombstones the frame actually FOLDED may be retired: a
    // tombstone committed after the frame's dels resolution was not
    // applied, and retiring it would un-mask the rows it deletes. Unread
    // tombstones stay active (harmless against the new version: every
    // surviving row's sequence is >= any folded tombstone's, and
    // restamped rows carry a newer sequence than any pre-snapshot one).
    val foldedDels: Set[String] = inputs.iterator.flatMap { p =>
      if (p.startsWith(delsDir)) Some(delsDir.relativize(p).toString) else None
    }.toSet
    // NEWLY-retired files only: the merge frame reads the WHOLE deletes
    // dir, so foldedDels includes files a previous rewrite already
    // retired — re-retiring them would duplicate manifest entries under
    // a newer generation tag and list them in the new version's
    // _folded_dels while the GC (keyed on the OLDER tag) deletes the
    // file, crashing VERSION AS OF on a retained generation. Already-
    // retired files mask nothing in the replaced version's base, so
    // excluding them keeps both records exact. (Rewrites serialize on
    // the rewrite lock, so the retired set cannot change underneath.)
    val retiredNow = delSnapshot.intersect(
      if (m.mergeOnRead && foldedDels.isEmpty && readSet.isEmpty) delSnapshot
      else foldedDels) -- retiredDels(db, t)
    onRewriteAfterSnapshot()
    val frame =
      if (m.mergeOnRead && !frame0.columns.contains(Catalog.SeqCol))
        frame0.withColumn(Catalog.SeqCol, lit(seq))
      else frame0
    val versions = tablePath(db, t).resolve("versions")
    val nextV = versionNumber(cur) + 1
    val next = versions.resolve(s"v$nextV")
    if (bucketBy.nonEmpty) {
      // bucketed layout: Spark's bucketed writer only targets catalog
      // tables, so materialize through a throwaway EXTERNAL table at the
      // new version's path (files stay when it is dropped), then mark
      // the version. Bucket-id-carrying file names are what the bucketed
      // scan keys on, so the files must come from this writer.
      val tmp = "graft_tmp_bucketed_" +
        java.util.UUID.randomUUID.toString.replace("-", "")
      try {
        frame.write.format(m.format)
          .bucketBy(compactionBuckets, bucketBy.head, bucketBy.tail: _*)
          .sortBy(bucketBy.head, bucketBy.tail: _*)
          .option("path", next.toString)
          .mode("overwrite")
          .saveAsTable(tmp)
      } finally spark.sql(s"DROP TABLE IF EXISTS `$tmp`")
      Files.write(bucketMarker(next),
        compactionBuckets.toString.getBytes(
          java.nio.charset.StandardCharsets.UTF_8))
    } else writer(frame, m).mode("overwrite").save(next.toString)

    // time travel (round 15): record WHICH tombstone files this rewrite
    // folded into the new version — `readVersion(v)` for the REPLACED
    // version v applies exactly this list to v's base files ("the table
    // as this rewrite's snapshot saw it"). Written before the swap like
    // every other version-dir artifact.
    if (m.mergeOnRead)
      Files.write(next.resolve("_folded_dels"),
        retiredNow.toSeq.sorted.asJava)

    // data skipping (E9): the new version's files get fresh footer
    // stats (and point-predicate blooms) before the version becomes
    // reachable
    if (m.format == "parquet") {
      val fresh = listFiles(next).filter(_.endsWith(".parquet"))
      graft.sources.FileSkipStats.record(
        spark.sessionState.newHadoopConf(), next, fresh, frame.schema)
      graft.sources.BloomSidecar.record(
        spark, next, fresh, dataOnly(frame.schema, m), bloomMinRows)
    }

    onRewriteBeforeCommit()

    lock.lock()
    try {
      // merge files the rewrite never read — concurrent appends since
      // the frame's resolution — into the new version: their rows carry
      // over untouched. _SUCCESS/.crc markers are not data (and never in
      // a read set): skip them or they collide with the new version's own
      val carriedIn = (listFiles(cur) -- carried)
        .filterNot { name =>
          val base = Paths.get(name).getFileName.toString
          base.startsWith("_") || base.startsWith(".")
        }
      carriedIn.foreach { name =>
        val target = next.resolve(name)
        Files.createDirectories(target.getParent)
        Files.createLink(target, cur.resolve(name))
      }
      // their skipping stats carry over from the replaced version's
      // sidecar (re-read from footers only if it never covered them);
      // bloom entries copy over too (never rebuilt here — absent is
      // sound, and the commit critical section must stay job-free)
      if (m.format == "parquet") {
        val carriedParquet = carriedIn.filter(_.endsWith(".parquet"))
        graft.sources.FileSkipStats.carryOver(
          spark.sessionState.newHadoopConf(), cur, next,
          carriedParquet, frame.schema)
        graft.sources.BloomSidecar.carryOver(cur, next, carriedParquet)
      }
      // Carried-over appends keep the bucket layout only if they were
      // written bucket-aligned (post-OPTIMIZE appends are): the replaced
      // version carried the same bucket count this rewrite used AND every
      // carried file name parses a valid bucket id under it. Anything
      // else — plain appends, a bucket-count change mid-flight — forfeits
      // the guarantee, so the marker drops and the spec never lies.
      val prevBuckets =
        if (Files.exists(bucketMarker(cur)))
          new String(Files.readAllBytes(bucketMarker(cur))).trim.toInt
        else 0
      val carriedAligned = prevBuckets == compactionBuckets &&
        carriedIn.forall { name =>
          org.apache.spark.sql.graft.Bridge
            .bucketIdOf(Paths.get(name).getFileName.toString)
            .exists(id => id >= 0 && id < compactionBuckets)
        }
      if (carriedIn.nonEmpty && !carriedAligned)
        Files.deleteIfExists(bucketMarker(next))
      // retention-aware tombstone GC (round 15): a file folded at
      // generation g is the delete-set piece `readVersion(v)` needs for
      // every retained v < g, so it dies exactly when those versions
      // do (g <= keepFrom). At retention 1 this reduces to the old
      // one-commit grace. Retained-but-folded files are no-ops on the
      // LIVE view (their masked rows are already gone from the folded
      // base; masks are strictly-older-seq so re-inserts never match) —
      // the cost of deep retention is scanning them in the merge view's
      // broadcast side, the documented retention trade.
      val keepFrom = versionNumber(cur) - (math.max(1, retainVersions) - 1)
      val dels = Paths.get(deletesPath(db, t))
      val surviving = retiredEntries(db, t).filter { case (g, n) =>
        if (g <= keepFrom) { Files.deleteIfExists(dels.resolve(n)); false }
        else true
      }
      Files.write(retiredFile(db, t),
        (surviving ++ retiredNow.toSeq.sorted.map(n => (nextV, n)))
          .map { case (g, n) => s"$g\t$n" }.asJava)
      swapPointer(db, t, s"versions/v$nextV")
      logCommit(db, t, nextV, "rewrite")
      // retention GC: keep the last `retainVersions` replaced versions —
      // the floor (1) is the grace in-flight snapshot readers need;
      // anything deeper is user history for VERSION AS OF
      Files.list(versions).iterator.asScala
        .filter(d => Files.isDirectory(d) && versionNumber(d) < keepFrom)
        .toSeq.foreach(deleteRecursively)
    } finally lock.unlock()
    if (m.partitionCols.nonEmpty) repairPartitions(db, t)
    syncBucketRegistration(m)
    refreshRegistered(db, t, m)
    bumpCommit(db, t)
  }

  /** Append rows (INSERT, LOAD DATA, ingest). Merge-on-read tables stamp
    * the hidden seq column with a freshly allocated sequence.
    */
  def append(db: String, t: String, df: DataFrame): Unit =
    appendRows(db, t, df, None)

  /** `append` at a given merge-on-read sequence (`commitRows` passes its
    * own, so the added rows survive the tombstones of the same commit).
    */
  private def appendRows(db: String, t: String, df: DataFrame,
                         seqOpt: Option[Long]): Unit = {
    val m = meta(db, t)
    val lock = lockFor(db, t)
    lock.lock()
    try {
      ensureVersioned(db, t)
      val out =
        if (m.mergeOnRead && !df.columns.contains(Catalog.SeqCol))
          df.withColumn(Catalog.SeqCol,
            lit(seqOpt.getOrElse(nextSeqLocked(db, t))))
        else df
      val cur = currentVersionDir(db, t)
      val preexisting = if (m.format == "parquet") listFiles(cur) else Set.empty[String]
      val bkt = if (m.mergeOnRead && m.partitionCols.isEmpty) bucketCount(db, t)
                else 0
      if (bkt > 0 && m.pk.nonEmpty) {
        // Bucket-ALIGNED append (round 13): the compacted layout's
        // exchange-free pk joins used to die at the first post-OPTIMIZE
        // append (plain files can't honor the bucket spec, so the marker
        // had to drop). Writing the batch through the same bucketed
        // writer — same count, same keys, bucket ids in the file names —
        // keeps every file in the version honest to the spec, so the
        // marker stays TRUE under sustained ingest. Spark groups a
        // bucket's several files into one scan partition (only the
        // sortedness shortcut needs one file per bucket; the planner
        // adds its own Sort then), so reads stay exchange-free. Cost:
        // one tiny per-batch hash shuffle into ≤ bkt files — exactly
        // what the ingest would otherwise repay on every later pk join.
        // Stage under the TABLE'S OWN path, never java.io.tmpdir: /tmp is
        // routinely a different filesystem (tmpfs), where Files.move
        // degrades to a non-atomic copy+delete and a lock-free concurrent
        // reader can list a partially-copied parquet file (torn footer).
        // A dot-prefixed dir beside versions/ is on the warehouse
        // filesystem (every publish below is an atomic rename — enforced
        // with ATOMIC_MOVE so a mount surprise fails loudly instead of
        // tearing) and invisible to listFiles/GC, which only walk
        // version dirs.
        val tmpDir = Files.createDirectories(
          tablePath(db, t).resolve(".staging").resolve(
            "bktapp_" + java.util.UUID.randomUUID.toString.replace("-", "")))
        val tmp = "graft_tmp_bktapp_" +
          java.util.UUID.randomUUID.toString.replace("-", "")
        try {
          out.write.format(m.format)
            .bucketBy(bkt, m.pk.head, m.pk.tail: _*)
            .sortBy(m.pk.head, m.pk.tail: _*)
            .option("path", tmpDir.toString)
            .mode("overwrite")
            .saveAsTable(tmp)
          scala.util.Using.resource(Files.list(tmpDir)) { s =>
            s.iterator.asScala.toList
          }.foreach { f =>
            val name = f.getFileName.toString
            // task-attempt UUIDs in the names make collisions impossible
            if (!name.startsWith("_") && !name.startsWith("."))
              Files.move(f, cur.resolve(name),
                java.nio.file.StandardCopyOption.ATOMIC_MOVE)
          }
        } finally {
          // a throw above (or between saveAsTable and the moves) must not
          // leak the scratch table into SHOW TABLES or the staging dir
          // onto disk — drop + delete unconditionally
          spark.sql(s"DROP TABLE IF EXISTS `$tmp`")
          deleteRecursively(tmpDir)
        }
      } else {
        writer(out, m).mode("append").save(cur.toString)
        // appended files are unbucketed: a bucketed-marked version loses
        // its layout guarantee the moment they land
        if (m.mergeOnRead) Files.deleteIfExists(bucketMarker(cur))
      }
      // data skipping (E9): fold the batch's footer min/max into the
      // version's sidecar — cost O(batch), never O(table)
      if (m.format == "parquet") {
        val batch =
          (listFiles(cur) -- preexisting).filter(_.endsWith(".parquet"))
        val physSchema = if (m.mergeOnRead) m.baseSchema else m.schema
        graft.sources.FileSkipStats.record(
          spark.sessionState.newHadoopConf(), cur, batch, physSchema)
        // point-predicate blooms for the batch's big files (one job,
        // O(batch)); tiny VALUES inserts stay bloom-free by minRows.
        // Partition columns live in directory names, not file bytes —
        // never bloomed (their predicates are partition filters anyway)
        graft.sources.BloomSidecar.record(
          spark, cur, batch, dataOnly(physSchema, m), bloomMinRows)
      }
    } finally lock.unlock()
    if (m.partitionCols.nonEmpty) repairPartitions(db, t)
    syncBucketRegistration(m)
    refreshRegistered(db, t, m)
    bumpCommit(db, t)
  }

  private def refreshRegistered(db: String, t: String, m: TableMeta): Unit = {
    val name = s"`$db`.`$t`"
    if (m.mergeOnRead) refreshMergeOnRead(db, t)
    else if (m.engine == "memory") {
      // refreshTable would re-cache the cached plan itself, whose file
      // index the session's relation cache stops handing out (and so
      // stops refreshing) once any refresh invalidated it — after a
      // rewrite that plan still lists the replaced version's files.
      // Re-cache over a fresh relation instead (lazily, as before).
      spark.catalog.uncacheTable(name)
      spark.catalog.refreshTable(name)
      spark.catalog.cacheTable(name)
    } else spark.catalog.refreshTable(name)
    refreshCatalogStats(db, t, m)
  }

  /** Post-commit catalog statistics: every commit leaves the registered
    * relation (the base table for merge-on-read) carrying fresh
    * rowCount + sizeInBytes, read straight from the version's parquet
    * footers/file sizes — no Spark job, O(files) like the SHOW TABLE
    * STATUS path. With CBO on (`spark.sql.cbo.enabled`) join reorder
    * and broadcast estimation then see managed-table cardinalities
    * without anyone remembering to ANALYZE; with CBO off this is inert
    * (file-size `sizeInBytes` drives broadcasts either way).
    */
  private def refreshCatalogStats(db: String, t: String, m: TableMeta): Unit =
    if (m.format == "parquet") try {
      val cur = currentVersionDir(db, t)
      val bytes = listFiles(cur).filter(_.endsWith(".parquet"))
        .map(f => Files.size(cur.resolve(f))).sum
      val rows = footerRowCount(cur)
      val ident = org.apache.spark.sql.catalyst.TableIdentifier(
        if (m.mergeOnRead) baseName(m.table) else m.table, Some(db))
      val sc = spark.sessionState.catalog
      if (sc.tableExists(ident))
        sc.alterTableStats(ident, Some(
          org.apache.spark.sql.catalyst.catalog.CatalogStatistics(
            BigInt(bytes), Some(BigInt(rows)),
            cboColStats(cur, m, rows))))
    } catch { case scala.util.control.NonFatal(_) => () } // stats are advisory

  /** Per-column CBO stats folded from the E9 skipping sidecar — ZERO new
    * I/O (the footer min/max/null-counts are already collected per
    * commit): min of file mins, max of file maxes, summed null counts,
    * registered as Spark catalog column stats so a CBO-enabled session
    * (`spark.sql.cbo.enabled`) estimates filter selectivity on managed
    * tables and unlocks broadcast/join-order choices plain sizeInBytes
    * misses. Only domains whose sidecar rendering converts losslessly to
    * the catalog's external string form participate (integral,
    * float/double, date — strings/timestamps are skipped rather than
    * risk a format mismatch silently corrupting estimates); a file with
    * unknown bounds or nulls degrades that column to "no stat", never a
    * wrong one. A single-column PRIMARY KEY is unique by construction:
    * distinctCount = rowCount, the join-cardinality anchor.
    */
  private def cboEligible(dt: org.apache.spark.sql.types.DataType): Boolean =
    dt match {
      case ByteType | ShortType | IntegerType | LongType | FloatType |
           DoubleType | DateType => true
      case _ => false
    }

  /** ANALYZE-time ndv key (JVM-shared store — see Catalog.ndvStore):
    * FilterEstimation refuses to act on a range predicate without a
    * distinct count, so min/max alone never move an estimate. Refreshed
    * by `refreshNdv`, preserved across per-commit stat refreshes FROM
    * ANY connection, stale until the next ANALYZE — the standard
    * contract.
    */
  private def ndvKey(db: String, t: String): String = s"$lockRoot|$db.$t"

  /** One distributed approx_count_distinct pass over the CBO-eligible
    * columns (wired to ANALYZE TABLE — an explicit stats request, so the
    * table-scan cost is asked for), merged into the registered column
    * stats alongside the sidecar-fed min/max/nullCount.
    */
  def refreshNdv(db: String, t: String): Unit = {
    val m = meta(db, t)
    if (m.format != "parquet") return
    val cols = m.schema.fields.toSeq.filter(f => cboEligible(f.dataType))
    if (cols.isEmpty) return
    val aggs = cols.map(f =>
      org.apache.spark.sql.functions
        .approx_count_distinct(col(s"`${f.name}`")).as(f.name))
    val row = read(db, t).agg(aggs.head, aggs.tail: _*).collect()(0)
    Catalog.ndvStore.put(ndvKey(db, t), cols.indices
      .map(i => cols(i).name -> BigInt(row.getLong(i))).toMap)
    refreshCatalogStats(db, t, m)
  }

  private def cboColStats(cur: Path, m: TableMeta, rows: Long)
      : Map[String, org.apache.spark.sql.catalyst.catalog.CatalogColumnStat] = {
    import org.apache.spark.sql.catalyst.catalog.CatalogColumnStat
    val side = graft.sources.FileSkipStats.readAll(cur)
    if (side.isEmpty) return Map.empty
    m.schema.fields.toSeq.flatMap { f =>
      val dt = f.dataType
      val isD = dt == FloatType || dt == DoubleType
      val ok = cboEligible(dt)
      val perFile = side.valuesIterator.map(_.get(f.name)).toSeq
      if (!ok || perFile.isEmpty || perFile.exists(_.isEmpty)) None
      else {
        val stats = perFile.flatten
        val nulls =
          if (stats.exists(_.nullCount < 0)) None
          else Some(BigInt(stats.map(_.nullCount).sum))
        def allNull(s: graft.sources.FileSkipStats.ColStat) =
          s.nullCount >= 0 && s.valueCount > 0 && s.nullCount == s.valueCount
        val bounded = stats.filterNot(allNull)
        val ord = Ordering.fromLessThan[String]((a, b) =>
          if (isD) a.toDouble < b.toDouble else a.toLong < b.toLong)
        val (mn, mx) =
          if (bounded.isEmpty ||
              bounded.exists(s => s.min.isEmpty || s.max.isEmpty))
            (None, None)
          else (Some(bounded.map(_.min.get).min(ord)),
                Some(bounded.map(_.max.get).max(ord)))
        def ext(v: String): String = dt match {
          case DateType => java.time.LocalDate.ofEpochDay(v.toLong).toString
          case _ => v
        }
        if (mn.isEmpty && nulls.isEmpty) None
        else Some(f.name -> CatalogColumnStat(
          // "pk is unique" holds for the MERGED view; a merge-on-read
          // BASE relation (what CBO sees) carries stale row versions,
          // so the rowCount claim is only made for copy-on-write tables
          distinctCount =
            if (m.pk == Seq(f.name) && !m.mergeOnRead) Some(BigInt(rows))
            else Option(Catalog.ndvStore.get(ndvKey(m.db, m.table)))
              .flatMap(_.get(f.name)),
          min = mn.map(ext), max = mx.map(ext), nullCount = nulls,
          avgLen = None, maxLen = None))
      }
    }.toMap
  }

  private def writer(df: DataFrame, m: TableMeta) = {
    val w = df.write.format(m.format)
    if (m.partitionCols.nonEmpty) w.partitionBy(m.partitionCols: _*) else w
  }

  // ---- internals ---------------------------------------------------------

  private def writeMeta(m: TableMeta): Unit = {
    val lines =
      Seq(s"engine\t${m.engine}") ++
        (if (m.pk.nonEmpty) Seq(s"pk\t${m.pk.mkString(",")}") else Nil) ++
        (if (m.partitionCols.nonEmpty)
          Seq(s"part\t${m.partitionCols.mkString(",")}") else Nil) ++
        m.uniques.map(u => s"uniq\t${u.name}\t${u.cols.mkString(",")}") ++
        m.cols.map(c => s"col\t${c.name}\t${c.mysqlType}\t${c.sparkDdl}")
    Files.write(tablePath(m.db, m.table).resolve("_graft_meta"),
      lines.asJava)
  }

  /** Drop every session-catalog entry of a logical table — the plain
    * table OR the merge-on-read trio (view + base + dels). Handles both
    * shapes blindly so re-registration and engine changes stay simple.
    */
  private def deregister(db: String, t: String): Unit = {
    val regLock = Catalog.lockFor(s"reg|$db.$t")
    regLock.lock()
    try deregisterLocked(db, t) finally regLock.unlock()
  }

  private def deregisterLocked(db: String, t: String): Unit = {
    val sc = spark.sessionState.catalog
    val ident = org.apache.spark.sql.catalyst.TableIdentifier(t, Some(db))
    if (sc.tableExists(ident)) {
      val isView = sc.getTableMetadata(ident).tableType ==
        org.apache.spark.sql.catalyst.catalog.CatalogTableType.VIEW
      spark.sql(
        if (isView) s"DROP VIEW IF EXISTS `$db`.`$t`"
        else s"DROP TABLE IF EXISTS `$db`.`$t`")
    }
    spark.sql(s"DROP TABLE IF EXISTS `$db`.`${baseName(t)}`")
    spark.sql(s"DROP TABLE IF EXISTS `$db`.`${delsName(t)}`")
  }

  /** Location a registered entry must sit at to belong to THIS warehouse
    * (the Spark external catalog is shared across sessions in one JVM: a
    * same-named table registered by a DIFFERENT warehouse must be
    * re-pointed).
    */
  private def belongsHere(db: String, t: String, registered: String): Boolean = {
    val sc = spark.sessionState.catalog
    val ident = org.apache.spark.sql.catalyst.TableIdentifier(registered, Some(db))
    val ct = sc.getTableMetadata(ident)
    ct.tableType != org.apache.spark.sql.catalyst.catalog.CatalogTableType.VIEW &&
      Paths.get(ct.location).normalize() ==
        Paths.get(dataPath(db, t)).toAbsolutePath.normalize()
  }

  private def register(m: TableMeta): Unit = {
    // the Spark external catalog is ONE namespace for the whole JVM:
    // concurrent Catalog constructions (one per connection) re-register
    // the same tables, and both passing the exists-check would race the
    // create — serialize on the table NAME, across warehouses
    val regLock = Catalog.lockFor(s"reg|${m.db}.${m.table}")
    regLock.lock()
    try registerLocked(m) finally regLock.unlock()
  }

  private def registerLocked(m: TableMeta): Unit = {
    spark.sql(s"CREATE DATABASE IF NOT EXISTS `${m.db}`")
    val sc = spark.sessionState.catalog
    if (m.mergeOnRead) {
      registerMergeOnRead(m, sc)
      return
    }
    val ident = org.apache.spark.sql.catalyst.TableIdentifier(m.table, Some(m.db))
    if (sc.tableExists(ident) && !belongsHere(m.db, m.table, m.table))
      deregister(m.db, m.table)
    if (!spark.catalog.tableExists(s"`${m.db}`.`${m.table}`")) {
      if (m.partitionCols.nonEmpty) {
        // Hive-style directory partitioning (the reference's sled
        // key-prefix scoping, store/reader/sled.rs:1, re-expressed as the
        // Spark-native layout): registered PARTITIONED BY so a
        // partition-key predicate prunes directories before the scan —
        // PartitionFilters in the plan, zero I/O for pruned partitions.
        require(m.format == "parquet",
          s"partitioned tables require the parquet engine, got ${m.engine}")
        val colDefs = m.cols.map(c => s"`${c.name}` ${c.sparkDdl}").mkString(", ")
        val partCols = m.partitionCols.map(c => s"`$c`").mkString(", ")
        spark.sql(
          s"""CREATE TABLE `${m.db}`.`${m.table}` ($colDefs)
             |USING parquet PARTITIONED BY ($partCols)
             |LOCATION '${dataPath(m.db, m.table)}'""".stripMargin)
        repairPartitions(m.db, m.table)
      } else {
        spark.catalog.createTable(s"`${m.db}`.`${m.table}`", m.format,
          m.schema, Map("path" -> dataPath(m.db, m.table)))
      }
      // MEMORY engine (reference show_engines.rs MEMORY row): Spark's
      // native in-memory columnar cache over the durable files — reads
      // hit InMemoryRelation, writes persist then refresh the cache.
      if (m.engine == "memory")
        spark.catalog.cacheTable(s"`${m.db}`.`${m.table}`")
    }
  }

  /** Merge-on-read registration: the physical base (data files + hidden
    * seq) and tombstone (equality deletes) external tables under internal
    * names, and the LOGICAL name as a view merging them. Every reader —
    * `spark.table`, qualified SQL, joins — resolves the view and gets
    * delete-aware rows; the anti-join's tombstone side stays
    * broadcast-small between compactions.
    */
  private def registerMergeOnRead(
      m: TableMeta,
      sc: org.apache.spark.sql.catalyst.catalog.SessionCatalog): Unit = {
    val base = baseName(m.table)
    val dels = delsName(m.table)
    val baseIdent =
      org.apache.spark.sql.catalyst.TableIdentifier(base, Some(m.db))
    val tIdent =
      org.apache.spark.sql.catalyst.TableIdentifier(m.table, Some(m.db))
    if ((sc.tableExists(baseIdent) && !belongsHere(m.db, m.table, base)) ||
        (!sc.tableExists(baseIdent) && sc.tableExists(tIdent)))
      deregister(m.db, m.table)
    Files.createDirectories(Paths.get(deletesPath(m.db, m.table)))
    if (!sc.tableExists(baseIdent)) {
      val nBuckets = bucketCount(m.db, m.table)
      if (nBuckets > 0) {
        // compacted layout: register the base WITH its bucket spec so
        // pk joins/aggs over the merged view skip the Exchange
        val colDefs = m.baseSchema.fields
          .map(f => s"`${f.name}` ${f.dataType.sql}").mkString(", ")
        val pkCols = m.pk.map(k => s"`$k`").mkString(", ")
        spark.sql(
          s"""CREATE TABLE `${m.db}`.`$base` ($colDefs)
             |USING parquet
             |CLUSTERED BY ($pkCols) SORTED BY ($pkCols)
             |INTO $nBuckets BUCKETS
             |LOCATION '${dataPath(m.db, m.table)}'""".stripMargin)
      } else
        spark.catalog.createTable(s"`${m.db}`.`$base`", "parquet",
          m.baseSchema, Map("path" -> dataPath(m.db, m.table)))
      spark.catalog.createTable(s"`${m.db}`.`$dels`", "parquet",
        m.delsSchema, Map("path" -> deletesPath(m.db, m.table)))
    }
    // aliases must not collide with user column names (`b.x` would parse
    // as field extraction from a column literally named "b")
    val outCols = m.cols.map(c => s"`__gb`.`${c.name}`").mkString(", ")
    val pkEq = m.pk.map(k => s"`__gd`.`$k` <=> `__gb`.`$k`").mkString(" AND ")
    spark.sql(
      s"""CREATE OR REPLACE VIEW `${m.db}`.`${m.table}` AS
         |SELECT $outCols FROM `${m.db}`.`$base` `__gb`
         |WHERE NOT EXISTS (
         |  SELECT 1 FROM `${m.db}`.`$dels` `__gd`
         |  WHERE $pkEq AND `__gd`.`${Catalog.SeqCol}` >
         |    coalesce(`__gb`.`${Catalog.SeqCol}`, CAST(0 AS BIGINT)))""".stripMargin)
  }

  /** Sync the session catalog's partition list with the directories on
    * disk (after appends that may create partitions and rewrites that may
    * drop them).
    */
  private def repairPartitions(db: String, t: String): Unit =
    spark.sql(s"MSCK REPAIR TABLE `$db`.`$t` SYNC PARTITIONS")

  private def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      Files.walk(p).sorted(Comparator.reverseOrder[Path]())
        .iterator.asScala.foreach(Files.delete)
    }

  // Seed the privilege table (meta/initial.rs seeds mysql.user with the
  // superuser row): SHOW GRANTS derives its GRANT strings from here, and
  // it is an ordinary table — GRANT-less privilege edits are plain DML.
  // Placed LAST in the class body: seeding appends rows, which needs the
  // commit-protocol state (tableLocks) already constructed.
  val privCols: Seq[String] = Seq("Select_priv", "Insert_priv", "Update_priv",
    "Delete_priv", "Create_priv", "Drop_priv", "Grant_priv", "Super_priv")
  // seeding is check-then-act over shared files: two connections
  // constructing Catalogs over a fresh warehouse must not both seed
  locally {
    val seedLock = Catalog.lockFor(s"$lockRoot|seed|mysql.user")
    seedLock.lock()
    try if (!tableExists("mysql", "user")) {
      createTable(TableMeta("mysql", "user",
        Seq(Col("Host", "varchar(255)", "STRING"), Col("User", "varchar(32)", "STRING")) ++
          privCols.map(c => Col(c, "char(1)", "STRING")) :+
          // mysql_native_password hash ('*' + hex SHA1(SHA1(pwd))); empty
          // = passwordless account. The wire server's handshake verifies
          // against this (MysqlServer.authenticate).
          Col("authentication_string", "text", "STRING"),
        pk = Seq("Host", "User"), engine = "parquet"), ifNotExists = true)
      val row = org.apache.spark.sql.Row.fromSeq(
        Seq("%", "root") ++ privCols.map(_ => "Y") :+ "")
      append("mysql", "user",
        spark.createDataFrame(java.util.List.of(row), meta("mysql", "user").schema))
    } finally seedLock.unlock()
  }
}
