package graft.engine

import java.util.regex.Pattern

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedRelation}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.parser.ParseException
import org.apache.spark.sql.catalyst.plans.logical.{Assignment, Command, DeleteFromTable, InsertIntoDir, InsertIntoStatement, LogicalPlan, UpdateTable}
import org.apache.spark.sql.execution.command.ExplainCommand
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.functions.{array, array_join, coalesce, col, concat, explode, expr, filter, lit, max_by, min_by, monotonically_increasing_id, struct, when}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import Catalog.Retire
import SqlText.{bindPlaceholders, countPlaceholders}

/** MySQL-surface SQL session: every command of the reference's
  * `execute_impl` dispatcher (/root/reference/src/execute_impl/mod.rs:1)
  * re-expressed over Spark.
  *
  * Split of responsibilities, Spark-first:
  *  - Anything relational (SELECT / EXPLAIN / INSERT-source subqueries /
  *    UPDATE-SET expressions / DELETE predicates) is handed to Spark SQL —
  *    Catalyst plans it, so graft-managed tables get pushdown, pruning,
  *    broadcast and AQE identically to any other Spark table.
  *  - Only the MySQL-isms Spark cannot parse are handled here: the DDL /
  *    SHOW / USE / SET command surface, `@@variable` references, MySQL
  *    column types, and `information_schema` virtual tables.
  *
  * Statefulness is driver-side and O(#tables) only (catalog entries);
  * table DATA never passes through the driver — inserts/updates run as
  * distributed Spark jobs writing parquet, so the same code path holds on
  * a 1000-executor cluster.
  */
class GraftSession(val spark: SparkSession, warehouse: String,
                   secureFilePriv: String = "") {

  val catalog = new Catalog(spark, warehouse)
  val variables = new Variables(Some(java.nio.file.Paths.get(
    warehouse, "performance_schema", "global_variables.tsv")))
  @volatile private var currentSchema: String = "mysql"
  /** The current schema (USE / COM_INIT_DB), as PROCESSLIST shows it. */
  def database: String = currentSchema
  spark.catalog.setCurrentDatabase("mysql")
  if (secureFilePriv.nonEmpty) {
    variables.set("secure_file_priv", secureFilePriv)
    // the same sandbox covers SQL on files (`select * from csv.`/path``):
    // Spark would read such a path without passing checkFileAccess
    spark.conf.set("spark.sql.runSQLOnFiles", "false")
  }

  /** LOAD DATA INFILE / SELECT INTO OUTFILE path gate — MySQL's
    * secure_file_priv. Empty (the embedded-library default) means
    * unrestricted, as in mysqld started with --secure-file-priv="";
    * the wire server constructs its sessions with a restricted root so a
    * network client never gets arbitrary filesystem read/write.
    */
  private def checkFileAccess(path: String): Unit = {
    val root = variables.get("secure_file_priv").getOrElse("")
    if (root.nonEmpty) {
      import java.nio.file.{Files, Path, Paths}
      // Resolve symlinks, not just lexically: a link planted inside the
      // sandbox root must not escape it. The target may not exist yet
      // (INTO OUTFILE), so realpath the deepest existing ancestor and
      // re-append the remainder.
      def realify(q: Path): Path = {
        var existing: Path = q
        var tail = List.empty[String]
        while (existing != null && !Files.exists(existing)) {
          tail = existing.getFileName.toString :: tail
          existing = existing.getParent
        }
        val base = if (existing == null) q.getRoot else existing.toRealPath()
        tail.foldLeft(base)(_.resolve(_)).normalize
      }
      val p = realify(Paths.get(path).toAbsolutePath.normalize)
      val r = realify(Paths.get(root).toAbsolutePath.normalize)
      if (!p.startsWith(r))
        throw new SqlError(1290, "HY000",
          "The MySQL server is running with the --secure-file-priv option " +
            "so it cannot execute this statement")
    }
  }

  // MySQL diagnostics area: warnings survive until the next
  // warning-generating statement; SHOW WARNINGS/ERRORS reads without
  // clearing. txDirty tracks writes since the last transaction verb so a
  // no-opped ROLLBACK can warn that nothing was actually rolled back.
  private val pendingWarnings =
    scala.collection.mutable.ArrayBuffer.empty[(String, Int, String)]
  private var txDirty = false

  /** Execute one statement. Result-set commands return their rows; DDL/DML
    * return a single-row `affected_rows` frame (the reference's FinalCount,
    * /root/reference/src/core/output.rs:1).
    */
  def sql(statement: String): DataFrame = sql(Statement.classify(statement))

  /** Dispatch on the statement's kind (Statement.classify). Each handler
    * reads its arguments from the comment-free text with one `SqlReader`,
    * which answers 1064 at the position of a shape it does not accept.
    * UPDATE and DELETE are read by Spark's own parser instead (`dmlPlan`:
    * the plan's target, assignments and condition, never executed), and
    * `Query` text is planned by Spark through the write guard in
    * `relational`.
    */
  def sql(st: Statement): DataFrame = {
    import Verb._
    val stmt = st.text
    // MySQL diagnostics area: any statement except SHOW WARNINGS/ERRORS
    // resets it (the read itself must not clear)
    if (st.verb != ShowWarnings && st.verb != ShowErrors) pendingWarnings.clear()
    // read-committed across connections: pick up any other session's
    // commits before resolving this statement (no-op when none landed)
    catalog.freshenStale()
    // the reader past the verb's keywords, for the MySQL-only forms
    lazy val (r, kw) = { val r = new SqlReader(stmt); (r, r.verb(st.verb)) }
    st.verb match {
      case CreateSchema  => createSchema(r)
      case DropSchema    => dropSchema(r)
      case CreateTable   => createTable(r)
      case CreateView    => createView(r, orReplace = kw.contains("replace"))
      case DropView      => dropView(r)
      case DropTable     => dropTable(r)
      case AlterTable    => alterTable(r)
      case RenameTable   => renameTable(r)
      case Insert        => dirty(insert(r, kw))
      case LoadData | LoadDataLocal => dirty(loadData(GraftSession.parseLoad(stmt)))
      case Update        => dirty(update(stmt))
      case Delete        => dirty(delete(stmt))
      case Truncate      => dirty(truncate(r))
      case Optimize      => optimizeTable(r)
      case Analyze       => analyzeTable(r, stmt)
      case Use           => use(r)
      case SetVariable   => setVariable(r)
      case Prepare       => prepare(r)
      case Execute       => executePrepared(r)
      case Deallocate    => deallocate(r)
      // autocommit engine: ROLLBACK answers OK but cannot undo anything —
      // if writes landed since the last transaction verb, surface MySQL's
      // nontransactional-table warning 1196 instead of silently lying
      case Rollback =>
        if (txDirty) pendingWarnings += (("Warning", 1196,
          "Some non-transactional changed tables couldn't be rolled back"))
        txDirty = false
        count(0)
      // client-compat no-ops: graft autocommits every statement through
      // the commit protocol, so transaction verbs and table locks are
      // accepted and do nothing (the connector/mysqldump handshake
      // chatter — MySQL answers OK to all of these on MyISAM too)
      case Transaction   => txDirty = false; count(0)
      case Noop          => count(0)
      case Query         => query(stmt)
      case ExplainAnalyze => explainAnalyze(r)
      case Kill | ShowProcessList => throw new SqlError(1235, "42000",
        s"'$stmt' acts on server connections; send it over the wire server")
      case Unknown       => throw SqlError.syntax(stmt)
      case _             => show(st.verb, r, kw)
    }
  }

  /** ANALYZE TABLE passes through to Spark (CBO/broadcast statistics)
    * and then backfills the E9 data-skipping sidecar for any current-
    * version files it does not cover — pre-E9 warehouses and externally
    * landed files get file pruning from the same statement that has
    * always refreshed stats. A merge-on-read table is registered as a
    * view, which Spark's command refuses; graft's backfill and ndv
    * refresh are its whole statistics. The answer is MySQL's ANALYZE
    * result set (Table/Op/Msg_type/Msg_text).
    */
  private def analyzeTable(r: SqlReader, stmt: String): DataFrame = {
    val (db, t) = table(r)
    if (!(catalog.tableExists(db, t) && catalog.meta(db, t).mergeOnRead))
      // MySQL's bare `ANALYZE TABLE t` — Spark's parser wants the COMPUTE
      // STATISTICS clause; supply it when nothing follows the name
      spark.sql(if (r.atEnd) s"$stmt COMPUTE STATISTICS" else stmt)
    try {
      catalog.backfillStats(db, t)
      catalog.refreshNdv(db, t) // arms CBO range estimation (ndv)
    }
    catch { case scala.util.control.NonFatal(_) => () } // temp views etc.
    frame(Seq("Table", "Op", "Msg_type", "Msg_text"),
      Seq(Seq(s"$db.$t", "analyze", "status", "OK")))
  }

  /** Mark the session write-dirty AFTER a DML statement succeeds (a
    * failed INSERT leaves nothing for ROLLBACK to warn about).
    */
  private def dirty(df: DataFrame): DataFrame = { txDirty = true; df }

  /** OPTIMIZE TABLE: compact a merge-on-read table — fold accumulated
    * tombstones into a fresh data version (MySQL's OPTIMIZE TABLE
    * result-set shape: Table/Op/Msg_type/Msg_text). The SORT BY (cols)
    * variant rewrites ANY parquet table range-clustered on the named
    * columns, so the E9 data-skipping sidecar prunes range scans on the
    * leading column to O(1) files; ZORDER BY (cols) clusters on the
    * space-filling interleave so EVERY listed column prunes
    * (Catalog.compactSorted/compactZOrdered scaladoc has the layout
    * trades vs pk buckets).
    */
  private def optimizeTable(r: SqlReader): DataFrame = {
    r.optional("table")
    val (db, t) = table(r)
    val kind = r.oneOf("sort", "zorder")
    val cols = kind.map { _ => r.keyword("by"); r.list(r.ident()) }
    r.end()
    val msg = (kind, cols) match {
      case (Some("zorder"), Some(cs)) => catalog.compactZOrdered(db, t, cs); "OK"
      case (Some(_), Some(cs))        => catalog.compactSorted(db, t, cs); "OK"
      case _ if catalog.meta(db, t).mergeOnRead => catalog.compact(db, t); "OK"
      case _ => "Table does not support optimize, doing nothing"
    }
    frame(Seq("Table", "Op", "Msg_type", "Msg_text"),
      Seq(Seq(s"$db.$t", "optimize", "status", msg)))
  }

  private def truncate(r: SqlReader): DataFrame = {
    r.optional("table")
    val (db, t) = table(r)
    r.end()
    emptyTable(db, t)
  }

  /** TRUNCATE and an unconditional DELETE: one rewrite to an empty
    * version, which also retires any accumulated tombstones.
    */
  private def emptyTable(db: String, t: String): DataFrame = {
    val df = catalog.read(db, t)
    val n = df.count()
    catalog.rewrite(db, t, df.limit(0))
    count(n)
  }

  private def renameTable(r: SqlReader): DataFrame = {
    val (db1, t1) = table(r)
    r.keyword("to")
    val (db2, t2) = table(r)
    r.end()
    catalog.rename(db1, t1, db2, t2); count(0)
  }

  // ---- prepared statements (com_stmt_prepare.rs) -------------------------

  private val preparedStmts = scala.collection.mutable.Map.empty[String, String]

  private def prepare(r: SqlReader): DataFrame = {
    val name = r.ident()
    r.keyword("from")
    val sqlText = unquote(r.rest(nonEmpty = true))
    preparedStmts(name.toLowerCase) = sqlText
    // reference counts the ? parameter markers at prepare time
    count(countPlaceholders(sqlText))
  }

  private def executePrepared(r: SqlReader): DataFrame = {
    val name = r.ident()
    val args: Seq[String] =
      if (!r.optional("using")) Seq.empty
      else r.items(r.raw()).map { a =>
        if (a.startsWith("@") && !a.startsWith("@@"))
          userVars.getOrElse(a.drop(1).toLowerCase,
            sys.error(s"Undefined user variable $a"))
        else a
      }
    r.end()
    val template = preparedStmts.getOrElse(name.toLowerCase,
      sys.error(s"Unknown prepared statement handler ($name) given to EXECUTE"))
    require(args.length == countPlaceholders(template),
      s"Incorrect arguments to EXECUTE: expected ${countPlaceholders(template)}, got ${args.length}")
    sql(bindPlaceholders(template, args))
  }

  private def deallocate(r: SqlReader): DataFrame = {
    r.keyword("prepare")
    val name = r.ident()
    r.end()
    preparedStmts.remove(name.toLowerCase); count(0)
  }

  /** COM_FIELD_LIST parity (com_field_list.rs): the table's column
    * definitions, same shape as SHOW COLUMNS.
    */
  def fieldList(table: String): DataFrame =
    show(Verb.ShowColumns, new SqlReader(s"from $table"), "show columns")

  /** Continuous ingestion: append a stream into a catalog table's storage
    * (checkpointed parquet sink writing straight into the table's data
    * dir; the catalog entry is refreshed after each micro-batch so SQL
    * reads see new rows). The streaming half of INSERT INTO.
    *
    * Single-writer contract (same as the reference's session model): a
    * table being ingested into must not concurrently receive UPDATE /
    * DELETE / TRUNCATE / ALTER — those rewrite the data directory from a
    * snapshot and would race the appends. Stop the ingest query first.
    */
  def ingest(stream: DataFrame, table: String,
             checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery = {
    val (db, t) = tableOf(table)
    val m = catalog.meta(db, t)
    require(m.format == "parquet", s"ingest requires a parquet-backed table, got ${m.engine}")
    val aligned = stream.select(m.cols.map(c =>
      col(s"`${c.name}`").cast(c.sparkDdl).as(c.name)): _*)
    aligned.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Row], _: Long) =>
        catalog.append(db, t, batch.toDF())
      }
      .start()
  }

  /** CDC-shaped streaming upsert into a merge-on-read table: each
    * micro-batch REPLACEs by primary key — within the batch the row with
    * the highest `orderCol` wins, older table rows under the batch's
    * keys are tombstoned, and the batch appends at one commit sequence.
    * The write cost per batch is O(batch), never O(table) (the streaming
    * face of REPLACE INTO / sled's put-overwrite, the way a Hudi/Delta
    * streaming MERGE lands). Exactly-once comes from the checkpoint: a
    * replayed batch re-tombstones and re-appends the same keys at a new
    * sequence, which is idempotent for the merged view.
    */
  def ingestUpsert(stream: DataFrame, table: String, checkpoint: String,
                   orderCol: String): org.apache.spark.sql.streaming.StreamingQuery = {
    val (db, t) = tableOf(table)
    val m = catalog.meta(db, t)
    require(m.mergeOnRead,
      s"ingestUpsert requires a merge-on-read (PK'd parquet) table; '$table' is not")
    val aligned = stream.select(
      m.cols.map(c => col(s"`${c.name}`").cast(c.sparkDdl).as(c.name)) :+
        col(s"`$orderCol`").as("_graft_ord"): _*)
    aligned.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Row], _: Long) =>
        if (!batch.isEmpty)
          replaceBatch(db, t, m, keepOne(batch.toDF(), "PRIMARY", m.pk,
            col("_graft_ord"), last = true).drop("_graft_ord"))
        ()
      }
      .start()
  }

  /** One REPLACE-by-pk commit (the ingestUpsert / REPLACE INTO write
    * shape): tombstone the batch's keys, append the batch's rows at the
    * SAME sequence — O(batch) writes, the appended rows survive their
    * own tombstones (masks are strictly-older-only). `rows` must hold
    * exactly the table's columns, one row per pk, and must be PINNED or
    * deterministic: it is evaluated twice (keys, then data), so a frame
    * whose input can move between the two jobs would tombstone one key
    * set and append another. Returns the commit sequence.
    */
  private def replaceBatch(db: String, t: String, m: Catalog#TableMeta,
                           rows: DataFrame): Long = {
    val pkCols = m.pk.map(k => col(s"`$k`"))
    commit(db, t, Seq(Retire.Keys(m.pk, rows.select(pkCols: _*))),
      Some(rows.sortWithinPartitions(pkCols: _*))).seq
  }

  /** C19/C21 codebook refresh as a ROUTINE (round 14 — the last
    * contract-only piece of the live-index family made code): residual
    * PQ codes and cluster labels are only comparable under ONE
    * quantizer, so growing the corpus eventually demands a retrain —
    * and a retrain demands an OPTIMIZE-style full re-encode plus a
    * catch-up for whatever ingest landed mid-refresh. Doing that by
    * hand gets the race wrong (the r13 verdict's point); this routine
    * owns it:
    *
    *  1. snapshot both tables' commit-sequence counters — every write
    *     after this instant is, by definition, in the refresh window;
    *  2. `train(snapshot corpus)` builds the NEW frozen encoder (the
    *     corpus frame's file listings are pinned, so the retrain and
    *     the re-encode see exactly one corpus; persist the new codebook
    *     tables inside `train` — it is the only holder);
    *  3. full re-encode of the snapshot through the same REPLACE-by-pk
    *     machinery the ingest stream uses, then a sweep tombstoning
    *     PRE-REFRESH index keys the snapshot corpus lacks (a rebuild
    *     would not contain them — this is also where corpus DELETEs
    *     propagate to the index);
    *  4. catch-up passes: each pass re-reads both tables' live rows
    *     WITH their hidden per-row sequences and re-encodes every key
    *     whose corpus or index row committed inside the previous
    *     window (skipping this refresh's own commits) — old state is
    *     never rescanned, each pass costs O(window). The loop ends
    *     when a window is empty: immediately under quiesced ingest,
    *     after a few passes when a pass outruns the ingest rate, and
    *     after `maxPasses` otherwise — returning the residual stale
    *     count (0 = converged; non-zero is the caller's signal to
    *     quiesce and call again).
    *
    * `corpusTable` is the source of truth: a merge-on-read table, same
    * pk as `indexTable`, carrying the encoder's input columns. The
    * encoder maps corpus rows to index rows one-per-key — exactly the
    * `EventStreams.embeddingIndexStream(_, ix)` / `clusterAssignStream
    * (_, cb)` shapes the ingest edge runs, so refresh == rebuild is
    * structural. Single-writer contract unchanged: nothing but the
    * ingest stream and this routine may write `indexTable` during a
    * refresh. At 100 TB the re-encode is one scan-local projection
    * over the corpus (a scheduled OPTIMIZE-grade job, not a stream);
    * the stale-window probes are pk+sequence column scans.
    */
  def refreshIndex(indexTable: String, corpusTable: String,
                   train: DataFrame => (DataFrame => DataFrame),
                   maxPasses: Int = 8): Long = {
    val (dbI, tI) = tableOf(indexTable)
    val (dbC, tC) = tableOf(corpusTable)
    val mI = catalog.meta(dbI, tI)
    val mC = catalog.meta(dbC, tC)
    require(mI.mergeOnRead,
      s"refreshIndex requires a merge-on-read index table; '$indexTable' is not")
    require(mC.mergeOnRead,
      s"refreshIndex requires a merge-on-read corpus table; '$corpusTable' is not")
    require(mI.pk == mC.pk,
      s"index pk ${mI.pk.mkString(",")} must equal corpus pk ${mC.pk.mkString(",")}")
    val pk = mI.pk
    val pkCols = pk.map(k => col(s"`$k`"))
    val seqCol = col(s"`${Catalog.SeqCol}`")
    def align(rows: DataFrame): DataFrame = rows.select(
      mI.cols.map(c => col(s"`${c.name}`").cast(c.sparkDdl).as(c.name)): _*)
    // the window floors: sequences at the snapshot instant
    var idxFloor = catalog.currentSeq(dbI, tI)
    var corpFloor = catalog.currentSeq(dbC, tC)
    catalog.freshenStale()
    // pin the snapshot corpus: retrain and re-encode read ONE file set.
    // mergedWithSeq's join-shaped merge (NOT the registered view, whose
    // NOT-EXISTS tombstone relation hides inside a subquery expression
    // where the freeze transform cannot reach it) makes BOTH the base
    // and dels listings pinnable plan nodes.
    val snap = Bridge.freezeFileIndexes(
      catalog.mergedWithSeq(dbC, tC).drop(Catalog.SeqCol))
    val encoder = train(snap)
    var own = Set(replaceBatch(dbI, tI, mI,
      Bridge.freezeFileIndexes(align(encoder(snap)))))
    // orphan sweep: pre-refresh index keys absent from the snapshot
    // corpus — a rebuild would not contain them. Restricted to rows the
    // refresh saw start (seq <= idxFloor) so a key racing in through
    // BOTH tables is never swept; pinned before the dels file mutates.
    catalog.withDmlLock(dbI, tI) {
      val orphans = catalog.mergedWithSeq(dbI, tI)
        .filter(seqCol <= idxFloor)
        .select(pkCols: _*)
        .join(snap.select(pkCols: _*), pk, "left_anti")
        .localCheckpoint()
      if (!orphans.isEmpty) own += commit(dbI, tI, Seq(Retire.Keys(pk, orphans))).seq
    }
    // catch-up: drain the stale window until a pass finds it empty
    var pass = 0
    while (true) {
      // floors and live rows must be read atomically per table (under
      // its DML lock): an in-flight two-step REPLACE could otherwise
      // allocate below the new floor yet commit after our read — aged
      // out of every future window, stale forever
      val (nextIdx, staleIdx) = catalog.withDmlLock(dbI, tI) {
        (catalog.currentSeq(dbI, tI),
          catalog.mergedWithSeq(dbI, tI)
            .filter(seqCol > idxFloor && !seqCol.isin(own.toSeq: _*))
            .select(pkCols: _*).localCheckpoint())
      }
      val (nextCorp, staleCorp) = catalog.withDmlLock(dbC, tC) {
        (catalog.currentSeq(dbC, tC),
          catalog.mergedWithSeq(dbC, tC)
            .filter(seqCol > corpFloor)
            .select(pkCols: _*).localCheckpoint())
      }
      val stale = staleIdx.union(staleCorp).distinct().localCheckpoint()
      val residual = stale.count()
      if (residual == 0L) {
        // Exit audit: a corpus DELETE mid-refresh leaves NO live row in
        // any window (the live view just stops showing the key), so the
        // window scans above cannot see it — and its tombstone file can
        // be folded away by a racing auto-compaction before a tombstone
        // probe would. One pk-only anti-join under BOTH DML locks (the
        // only two-lock site; everything else locks one table) decides
        // orphanhood exactly at this instant. Sweep tombstones mask only
        // strictly-older sequences, so an ingest re-insert committing
        // after the sweep is never masked.
        val orphans = catalog.withDmlLock(dbI, tI) {
          catalog.withDmlLock(dbC, tC) {
            orphanKeysLocked(dbI, tI, dbC, tC, pk)
          }
        }
        if (orphans.isEmpty) return 0L
        if (pass >= maxPasses) return orphans.count()
        own += commit(dbI, tI, Seq(Retire.Keys(pk, orphans))).seq
        // loop: the next pass re-runs the window scans AND this audit
      }
      else if (pass >= maxPasses) return residual
      // only corpus-backed keys are re-encodable (source of truth);
      // an index-only stale key ages out of the window — by the sweep's
      // logic a rebuild would not contain it either
      val caught = Bridge.freezeFileIndexes(align(encoder(
        catalog.mergedWithSeq(dbC, tC).drop(Catalog.SeqCol)
          .join(stale, pk, "left_semi"))))
      if (!caught.isEmpty) own += replaceBatch(dbI, tI, mI, caught)
      idxFloor = nextIdx; corpFloor = nextCorp
      pass += 1
    }
    0L // unreachable
  }

  /** Index keys a rebuild would not contain — live index pks absent
    * from the live corpus — pinned as a localCheckpoint. MUST be called
    * with BOTH tables' DML locks held (the shared exit-audit primitive:
    * orphanhood is only meaningful read at one instant; a corpus DELETE
    * leaves no live row for any seq-window scan to see, so this
    * anti-join is the one place deletes propagate to an index).
    */
  private def orphanKeysLocked(dbI: String, tI: String, dbC: String,
                               tC: String, pk: Seq[String]): DataFrame = {
    val pkCols = pk.map(k => col(s"`$k`"))
    catalog.mergedWithSeq(dbI, tI).select(pkCols: _*)
      .join(catalog.mergedWithSeq(dbC, tC).select(pkCols: _*),
        pk, "left_anti")
      .localCheckpoint()
  }

  /** Stale-index audit for pk-aligned live indexes (C17's MinHash band
    * table, C19's encoded table, C21's cluster table — any index whose
    * pk equals the corpus pk, round 15): corpus DELETEs never flow
    * through the maintenance streams (they only see new documents), so
    * a deleted doc's index row lives forever — the exact bug class the
    * r14 refreshIndex race test caught, without requiring a full
    * codebook refresh to fix. This routine audits and sweeps in ONE
    * two-lock critical section: orphan computation and the sweep
    * tombstones commit atomically with respect to every other writer
    * (ingest's REPLACE takes the same index DML lock), so the
    * audit-then-sweep interleaving hazard cannot occur. Sweep masks are
    * strictly-older-only, so a re-insert committing after the audit is
    * never masked. Returns the number of orphans swept (live == rebuild
    * on the pk set afterward, by construction). Cost: one pk anti-join;
    * ingest blocks for its duration — an OPTIMIZE-grade maintenance
    * call, not a per-batch step.
    */
  def auditIndexOrphans(indexTable: String, corpusTable: String): Long = {
    val (dbI, tI) = tableOf(indexTable)
    val (dbC, tC) = tableOf(corpusTable)
    val mI = catalog.meta(dbI, tI)
    val mC = catalog.meta(dbC, tC)
    require(mI.mergeOnRead && mC.mergeOnRead,
      "auditIndexOrphans requires merge-on-read index and corpus tables")
    require(mI.pk == mC.pk,
      s"index pk ${mI.pk.mkString(",")} must equal corpus pk ${mC.pk.mkString(",")}")
    catalog.withDmlLock(dbI, tI) {
      catalog.withDmlLock(dbC, tC) {
        val orphans = orphanKeysLocked(dbI, tI, dbC, tC, mI.pk)
        val n = orphans.count()
        if (n > 0) commit(dbI, tI, Seq(Retire.Keys(mI.pk, orphans)))
        n
      }
    }
  }

  /** Stale-index audit for the containment index pair (C18, round 15):
    * verify live == rebuild and repair. The df/posting tables are keyed
    * by shingle hash, not by doc pk, so a corpus DELETE is not a key
    * sweep: the dead doc's postings must retire, every shingle it
    * carried needs its df DECREMENTED, and a bucket the doc had pushed
    * past the dfCap may drop back under — its other docs' postings must
    * REAPPEAR. The only state that answers all three is a reference
    * rebuild from the live corpus (O(corpus) — the same cost class as
    * the C19 refreshIndex re-encode; an OPTIMIZE-grade routine), then a
    * keyed diff applied through the same REPLACE/tombstone machinery
    * the maintenance stream uses.
    *
    * SINGLE-WRITER CONTRACT (as maintainContainmentIndex): the caller
    * owns both index tables for the duration — pause the maintenance
    * stream around the audit. Returns (dfRepairs, postingRepairs) =
    * rows retired+replaced per table; (0, 0) means the live index
    * already equalled the rebuild.
    */
  def auditContainmentIndex(dfTable: String, postingTable: String,
                            corpusTable: String, idCol: String = "doc_id",
                            textCol: String = "text", shingleK: Int = 5,
                            dfCap: Int = 32): (Long, Long) = {
    val (dbD, tD) = tableOf(dfTable)
    val (dbP, tP) = tableOf(postingTable)
    val (dbC, tC) = tableOf(corpusTable)
    val mD = catalog.meta(dbD, tD)
    val mP = catalog.meta(dbP, tP)
    require(mD.mergeOnRead && mP.mergeOnRead,
      "auditContainmentIndex requires merge-on-read df and posting tables")
    // reference rebuild from the PINNED live corpus (retire/repair
    // decisions must all read one file set)
    val snap = Bridge.freezeFileIndexes(
      catalog.mergedWithSeq(dbC, tC).drop(Catalog.SeqCol))
    // ONE staged table carries both reference faces (round 18, the q92
    // shape): the count-over-window form attaches the df count in the
    // same h-keyed pass that builds the shingle table, so the df face
    // is a dedup-by-h projection and the posting face a filter — three
    // checkpoints and their derivation exchanges become one.
    val shdC = graft.operators.Containment
      .shinglesWithDf(snap, idCol, textCol, shingleK)
      .localCheckpoint(true,
        org.apache.spark.storage.StorageLevel.DISK_ONLY)
    val dfRef = shdC.select(col("h"), col("c")).dropDuplicates("h")
    val postRef = shdC.filter(col("c") <= dfCap)
      .select(col("h"), col("doc_id").as("doc_b"))
    // df table: retire hashes the rebuild lacks, REPLACE disagreeing
    // counts (covers both the decrement and the missing-hash case)
    val liveDf = catalog.read(dbD, tD)
    val dfExtra = liveDf.select(col("h"))
      .join(dfRef.select(col("h")), Seq("h"), "left_anti").localCheckpoint()
    val dfWrong = dfRef.as("r")
      .join(liveDf.as("l"), Seq("h"), "left")
      .filter(col("l.c").isNull || col("l.c") =!= col("r.c"))
      .select(col("h"), col("r.c").as("c")).localCheckpoint()
    // posting table: retire rows the rebuild lacks (dead docs, buckets
    // past the cap), insert rows it has that the live table lacks
    // (buckets a delete brought back under the cap)
    val livePost = catalog.read(dbP, tP)
    val pKeys = Seq("h", "doc_b")
    val postExtra = livePost.select(col("h"), col("doc_b"))
      .join(postRef, pKeys, "left_anti").localCheckpoint()
    val postMissing = postRef
      .join(livePost.select(col("h"), col("doc_b")), pKeys, "left_anti")
      .localCheckpoint()
    (applyKeyedDiff(dbD, tD, mD, dfExtra, dfWrong),
      applyKeyedDiff(dbP, tP, mP, postExtra, postMissing))
  }

  /** Apply an index audit's keyed diff in one commit: retire the live
    * rows the rebuild lacks (`extra`, pk columns) and replace the rows it
    * disagrees with or misses (`fix`, full rows). Returns the number of
    * rows retired plus replaced (0: the live index equalled the rebuild).
    */
  private def applyKeyedDiff(db: String, t: String, m: Catalog#TableMeta,
                             extra: DataFrame, fix: DataFrame): Long = {
    val pkCols = m.pk.map(k => col(s"`$k`"))
    val (nExtra, nFix) = (extra.count(), fix.count())
    if (nExtra + nFix > 0)
      commit(db, t,
        Seq(Retire.Keys(m.pk, extra.select(pkCols: _*)
          .unionByName(fix.select(pkCols: _*)))),
        if (nFix > 0) Some(fix.sortWithinPartitions(pkCols: _*)) else None)
    nExtra + nFix
  }

  /** LIVE maintenance of the containment dedup index (round 10 — the
    * gap between "a suite of operators" and "a pipeline that runs
    * continuously"): each micro-batch of new documents updates the
    * df-count table and the df-capped posting index that C15's ingest
    * probe reads, through the same merge-on-read commit machinery as
    * every other DML. `dfTable` must be a PK'd parquet table
    * (h BIGINT PRIMARY KEY, c BIGINT); `postingTable`
    * (h BIGINT, doc_b BIGINT, PRIMARY KEY (h, doc_b)).
    *
    * Per batch (Containment.postingDelta carries the delta contract):
    * the old state is read ONLY through keyed joins on the batch's hash
    * set, deltas are O(batch · bucket occupancy) and localCheckpointed
    * BEFORE either table mutates (the compute-then-commit discipline —
    * lazy plans must not observe their own writes), then df counts
    * upsert by pk and the posting table applies its insert/retire rows,
    * each under its table's DML lock. The df-cap is enforced
    * incrementally: a bucket the batch pushes past the cap is retired
    * with equality-delete tombstones, exactly matching a full rebuild
    * (spec-pinned; the q92 batch face is oracled on the same identity).
    *
    * Restart semantics (round 11 — the joint two-table commit): a
    * batch-id marker under the checkpoint makes replays of
    * FULLY-applied batches no-ops, and every NOT-fully-applied batch
    * recovers through a WRITE-AHEAD staged-delta record: the three
    * deltas are written durably under the checkpoint (with the batch
    * id) BEFORE either table mutates, and both table applications are
    * idempotent REPLACES of the staged keys (delete-keys ∪ insert-keys
    * tombstoned, then the staged rows appended, per table, each
    * per-table atomic under B17). A replayed batch therefore reapplies
    * the SAME staged deltas — never recomputing them from
    * already-updated state, which is what used to double-count — so a
    * crash at ANY point (mid-staging, between the two commits, after
    * both commits but before the marker) converges to exactly the
    * incremental == rebuild state on restart. LiveIndexSpec pins the
    * kill-between-commits and kill-before-marker replays.
    *
    * CONCURRENCY CONTRACT (single writer): like `ingest`, the deltas
    * are computed from a snapshot of the df/posting tables before
    * their DML locks are taken — no other writer may run DML on
    * `dfTable` or `postingTable` while this maintenance stream is
    * active, or the read-state is stale (lost update). The two tables
    * belong to the index; the maintenance stream IS their writer.
    */
  def maintainContainmentIndex(stream: DataFrame, dfTable: String,
                               postingTable: String, checkpoint: String,
                               idCol: String = "doc_id",
                               textCol: String = "text",
                               shingleK: Int = 5, dfCap: Int = 32)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val (dbD, tD) = tableOf(dfTable)
    val (dbP, tP) = tableOf(postingTable)
    require(catalog.meta(dbD, tD).mergeOnRead,
      s"maintainContainmentIndex requires a merge-on-read df table; '$dfTable' is not")
    require(catalog.meta(dbP, tP).mergeOnRead,
      s"maintainContainmentIndex requires a merge-on-read posting table; '$postingTable' is not")
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Row], batchId: Long) =>
        if (batchId > lastAppliedBatch(checkpoint) && !batch.isEmpty)
          applyContainmentBatch(batch.toDF(), batchId, dbD, tD, dbP, tP,
            checkpoint, idCol, textCol, shingleK, dfCap)
        ()
      }
      .start()
  }

  private[graft] def lastAppliedBatch(checkpoint: String): Long = {
    val marker = java.nio.file.Paths.get(checkpoint, "_graft_applied_batch")
    if (java.nio.file.Files.exists(marker))
      // a torn/empty marker (crash mid-write on a non-atomic filesystem)
      // reads as "nothing recorded": the staged-delta protocol is
      // idempotent per batch, so replaying from -1 converges rather than
      // wedging the stream on a parse error
      scala.util.Try(java.nio.file.Files.readString(marker).trim.toLong)
        .getOrElse(-1L)
    else -1L
  }

  /** Marker commit point: stage to a temp file, force it to stable
    * storage, and ATOMIC_MOVE into place. The fsync closes the
    * power-loss window where a rename survives with empty/stale
    * content; even if the filesystem still tears the marker (no
    * directory fsync — rename durability is fs-dependent), correctness
    * holds: a torn marker reads as -1 and the kept staged deltas make
    * the redelivery a replace, never a double-apply. */
  private[graft] def commitAppliedBatch(checkpoint: String, batchId: Long): Unit = {
    val marker = java.nio.file.Paths.get(checkpoint, "_graft_applied_batch")
    val tmp = marker.resolveSibling("_graft_applied_batch.tmp")
    val ch = java.nio.channels.FileChannel.open(tmp,
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.WRITE,
      java.nio.file.StandardOpenOption.TRUNCATE_EXISTING)
    try {
      ch.write(java.nio.ByteBuffer.wrap(
        batchId.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
      ch.force(true)
    } finally ch.close()
    java.nio.file.Files.move(tmp, marker,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** Txn-dir janitor: dirs STRICTLY below `before` are reaped; the
    * latest applied batch's staged deltas are deliberately KEPT as the
    * idempotence record — if the marker is ever lost/torn (filesystem
    * corruption; ATOMIC_MOVE excludes the mid-write window) a
    * redelivery finds the _STAGED flag and replays as a replace instead
    * of re-staging against the already-mutated tables (which would
    * double-count). At most two staged dirs exist at any moment.
    */
  private[graft] def reapAppliedTxnDirs(checkpoint: String, before: Long): Unit = {
    val root = java.nio.file.Paths.get(checkpoint, "_graft_txn")
    if (java.nio.file.Files.isDirectory(root)) {
      import scala.jdk.CollectionConverters._
      // Files.list holds a directory fd until closed — a long-running
      // stream calls this once per micro-batch, so rely on close, not GC
      scala.util.Using.resource(java.nio.file.Files.list(root)) { s =>
        s.iterator.asScala.toList
      }.foreach { d =>
        val id = scala.util.Try(d.getFileName.toString.toLong).getOrElse(Long.MaxValue)
        if (id < before) deleteDirTree(d)
      }
    }
  }

  private def deleteDirTree(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      scala.util.Using.resource(java.nio.file.Files.walk(p)) { s =>
        s.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
          .iterator.asScala.toList
      }.foreach(java.nio.file.Files.delete)
    }

  /** One joint index-maintenance transaction (see
    * maintainContainmentIndex scaladoc). Package-private with crash
    * hooks so LiveIndexSpec can kill the protocol between the two
    * table commits / before the marker and pin that replay converges.
    */
  private[graft] def applyContainmentBatch(
      batch: DataFrame, batchId: Long,
      dbD: String, tD: String, dbP: String, tP: String,
      checkpoint: String, idCol: String, textCol: String,
      shingleK: Int, dfCap: Int,
      afterDfCommit: () => Unit = () => (),
      afterPostingCommit: () => Unit = () => ()): Unit = {
    val txnDir = java.nio.file.Paths.get(checkpoint, "_graft_txn",
      batchId.toString)
    val stagedFlag = txnDir.resolve("_STAGED")
    val dfDir = txnDir.resolve("df_up").toString
    val insDir = txnDir.resolve("post_ins").toString
    val delDir = txnDir.resolve("post_del").toString
    if (!java.nio.file.Files.exists(stagedFlag)) {
      // fresh batch (or crash mid-staging: neither table has mutated, so
      // recomputing from the current tables is still correct — discard
      // any partial stage and start over)
      deleteDirTree(txnDir)
      // read the CURRENT index state through the session the catalog
      // refreshes (the micro-batch's cloned session carries its own
      // stale relation cache — the cross-session lesson), after a
      // commit-counter freshen
      catalog.freshenStale()
      val (dfUp, postIns, postDel) = graft.operators.Containment
        .postingDelta(
          spark.table(s"`$dbD`.`$tD`").select(col("h"), col("c")),
          spark.table(s"`$dbP`.`$tP`").select(col("h"), col("doc_b")),
          batch, idCol, textCol, shingleK, dfCap)
      // the write-ahead record: all three deltas land durably BEFORE
      // either table mutates (this is also the compute-then-commit
      // materialization — lazy plans must not observe their own writes)
      dfUp.write.parquet(dfDir)
      postIns.write.parquet(insDir)
      postDel.write.parquet(delDir)
      java.nio.file.Files.createFile(stagedFlag)
    }
    val dfUpM = spark.read.parquet(dfDir)
    val insM = spark.read.parquet(insDir)
    val delM = spark.read.parquet(delDir)
    // df application is a REPLACE of the staged hashes with their staged
    // new totals — replaying it lands the identical state
    commit(dbD, tD, Seq(Retire.Keys(Seq("h"), dfUpM.select(col("h")))),
      Some(dfUpM))
    afterDfCommit()
    // posting application tombstones retire-keys AND insert-keys (the
    // latter are no-ops on first application, and make the replay a
    // replace instead of a duplicate-insert), then appends the inserts
    val delKeys = delM.select(col("h"), col("doc_b"))
      .unionAll(insM.select(col("h"), col("doc_b")))
    commit(dbP, tP, Seq(Retire.Keys(Seq("h", "doc_b"), delKeys)), Some(insM))
    afterPostingCommit()
    commitAppliedBatch(checkpoint, batchId)
    // keep THIS batch's staged record (torn-marker redelivery insurance);
    // reap everything older, including orphans from earlier crashes
    reapAppliedTxnDirs(checkpoint, batchId)
  }

  /** LIVE maintenance of the D38 ExactSubstr window-fingerprint index
    * (round 16 — the C18 discipline applied to C22's probe side, which
    * until now read a STATIC batch-rebuilt `fingerprintIndex`): each
    * micro-batch of documents folds its window-fingerprint occurrence
    * counts into a merge-on-read `(w BINARY PRIMARY KEY, c BIGINT)`
    * table, so the span stream's corpus index grows under sustained
    * ingest. COUNTS, not bare presence: presence alone could never be
    * repaired after a corpus DELETE/revision; with counts the orphan
    * audit (`auditFingerprintIndex`) reconciles exactly. The probe face
    * is `ExactSubstr.fingerprintIndexFromLive` (SELECT w).
    *
    * Same WAL protocol as the containment index: the batch's absolute
    * new counts are staged durably under the checkpoint BEFORE the
    * table mutates, application is a REPLACE of the staged keys, and
    * the batch-id marker makes fully-applied replays no-ops — a replay
    * reapplies the SAME staged totals, never recomputes against the
    * already-updated table. Single-writer contract as everywhere: this
    * stream IS the fp table's writer.
    */
  def maintainFingerprintIndex(stream: DataFrame, fpTable: String,
                               checkpoint: String, textCol: String = "text",
                               minTokens: Int = 15)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val (db, t) = tableOf(fpTable)
    require(catalog.meta(db, t).mergeOnRead,
      s"maintainFingerprintIndex requires a merge-on-read fp table; '$fpTable' is not")
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Row], batchId: Long) =>
        if (batchId > lastAppliedBatch(checkpoint) && !batch.isEmpty)
          applyFingerprintBatch(batch.toDF(), batchId, db, t, checkpoint,
            textCol, minTokens)
        ()
      }
      .start()
  }

  /** One fingerprint-index maintenance transaction (see
    * maintainFingerprintIndex). Package-private with a crash hook so
    * LiveIndexSpec can kill the protocol after staging / before the
    * marker and pin that replay converges.
    */
  private[graft] def applyFingerprintBatch(
      batch: DataFrame, batchId: Long, db: String, t: String,
      checkpoint: String, textCol: String, minTokens: Int,
      afterCommit: () => Unit = () => ()): Unit = {
    val txnDir = java.nio.file.Paths.get(checkpoint, "_graft_txn",
      batchId.toString)
    val stagedFlag = txnDir.resolve("_STAGED")
    val upDir = txnDir.resolve("fp_up").toString
    if (!java.nio.file.Files.exists(stagedFlag)) {
      // fresh batch (or crash mid-staging: the table has not mutated, so
      // recomputing from its current state is still correct)
      deleteDirTree(txnDir)
      catalog.freshenStale()
      val dc = batch
        .select(explode(graft.functions.GraftFunctions
          .windowMd5s(col(s"`$textCol`"), minTokens)).as("w"))
        .groupBy(col("w"))
        .agg(org.apache.spark.sql.functions.count(lit(1)).as("dc"))
      // old counts read ONLY through a keyed join on the batch's w set —
      // O(batch · occupancy), never O(index)
      val live = spark.table(s"`$db`.`$t`")
        .select(col("w"), col("c"))
      val up = dc.join(live, Seq("w"), "left")
        .select(col("w"),
          (coalesce(col("c"), lit(0L)) + col("dc")).as("c"))
      up.write.parquet(upDir)
      java.nio.file.Files.createFile(stagedFlag)
    }
    val upM = spark.read.parquet(upDir)
    // application is a REPLACE of the staged fingerprints with their
    // staged ABSOLUTE totals — replaying lands the identical state
    commit(db, t, Seq(Retire.Keys(Seq("w"), upM.select(col("w")))), Some(upM))
    afterCommit()
    commitAppliedBatch(checkpoint, batchId)
    reapAppliedTxnDirs(checkpoint, batchId)
  }

  /** Reconcile the live fingerprint index against a rebuild from the
    * PINNED current corpus — the C17/C18 orphan-audit discipline for
    * D38: corpus DELETEs and doc revisions strand counts the ingest
    * edge cannot see (fingerprints are keyed by window content, not
    * doc), so the audit retires fingerprints the rebuild lacks and
    * REPLACEs disagreeing counts. Returns rows retired+replaced;
    * 0 means the live index already equalled the rebuild.
    *
    * SINGLE-WRITER CONTRACT (same as auditContainmentIndex): PAUSE the
    * maintenance stream around the audit — the retire/repair sets are
    * materialized from a snapshot taken before the table's DML lock, so
    * a micro-batch committing mid-audit would be overwritten with stale
    * rebuild counts.
    */
  def auditFingerprintIndex(fpTable: String, corpusTable: String,
                            textCol: String = "text",
                            minTokens: Int = 15): Long = {
    val (db, t) = tableOf(fpTable)
    val (dbC, tC) = tableOf(corpusTable)
    val m = catalog.meta(db, t)
    require(m.mergeOnRead,
      "auditFingerprintIndex requires a merge-on-read fp table")
    val snap = Bridge.freezeFileIndexes(
      catalog.mergedWithSeq(dbC, tC).drop(Catalog.SeqCol))
    val ref = snap
      .select(explode(graft.functions.GraftFunctions
        .windowMd5s(col(s"`$textCol`"), minTokens)).as("w"))
      .groupBy(col("w"))
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("c"))
      .localCheckpoint()
    val live = catalog.read(db, t)
    val extra = live.select(col("w"))
      .join(ref.select(col("w")), Seq("w"), "left_anti").localCheckpoint()
    val wrong = ref.as("r")
      .join(live.as("l"), Seq("w"), "left")
      .filter(col("l.c").isNull || col("l.c") =!= col("r.c"))
      .select(col("w"), col("r.c").as("c")).localCheckpoint()
    applyKeyedDiff(db, t, m, extra, wrong)
  }

  // ---- schemas (create_db.rs / drop_schema.rs / set_default_schema.rs) ---

  private def createSchema(r: SqlReader): DataFrame = {
    val ine = r.optional("if not exists")
    val db = schemaName(r.schema())
    r.end()
    catalog.createSchema(db, ifNotExists = ine); count(1)
  }

  private def dropSchema(r: SqlReader): DataFrame = {
    val ie = r.optional("if exists")
    val db = schemaName(r.schema())
    r.end()
    catalog.dropSchema(db, ifExists = ie); count(1)
  }

  private def use(r: SqlReader): DataFrame = {
    val db = existingSchema(r.schema())
    r.end()
    currentSchema = db
    spark.catalog.setCurrentDatabase(db)
    count(1)
  }

  // ---- tables (create_table.rs / drop_table.rs / add|drop_column.rs) -----

  /** CREATE TABLE … AS SELECT: schema inferred from the (Spark-planned)
    * query, data written distributed — the select never lands on the
    * driver.
    * IF NOT EXISTS on an existing table inserts nothing (MySQL 5.5.6 and
    * later) and leaves Note 1050.
    */
  private def createTableAs(ine: Boolean, db: String, t: String,
                            select: String): DataFrame = {
    val src = query(select)
    val cols = src.schema.fields.map(f =>
      catalog.Col(f.name, mysqlTypeOf(f.dataType.sql), f.dataType.sql)).toSeq
    if (created(catalog.TableMeta(db, t, cols, Seq.empty, "parquet"), ine))
      writeRows(db, t, src, GraftSession.OnDuplicate.Error)
    else count(0)
  }

  /** `Catalog.createTable`, plus MySQL's Note 1050 when IF NOT EXISTS
    * found the table and nothing was created.
    */
  private def created(m: catalog.TableMeta, ifNotExists: Boolean): Boolean = {
    val made = catalog.createTable(m, ifNotExists)
    if (!made) pendingWarnings += (("Note", 1050, s"Table '${m.table}' already exists"))
    made
  }

  /** Spark DDL type → MySQL-surface type name (CTAS, SHOW COLUMNS). */
  private def mysqlTypeOf(sparkDdl: String): String =
    sparkDdl.toUpperCase.takeWhile(_ != '(') match {
      case "INT"       => "int"
      case "BIGINT"    => "bigint"
      case "SMALLINT"  => "smallint"
      case "TINYINT"   => "tinyint"
      case "FLOAT"     => "float"
      case "DOUBLE"    => "double"
      case "DECIMAL"   => sparkDdl.toLowerCase
      case "STRING"    => "text"
      case "DATE"      => "date"
      case "TIMESTAMP" => "timestamp"
      case "BOOLEAN"   => "boolean"
      case "BINARY"    => "blob"
      case other       => other.toLowerCase
    }

  /** CREATE TABLE [IF NOT EXISTS] t (…) [options] or CREATE TABLE t AS
    * SELECT|WITH …. The element list holds column definitions and
    * PRIMARY KEY, UNIQUE, CONSTRAINT, KEY/INDEX declarations; after it
    * come ENGINE=e, PARTITION[ED] BY (cols) and other MySQL table options,
    * which are read and ignored.
    */
  private def createTable(r: SqlReader): DataFrame = {
    val ine = r.optional("if not exists")
    val (db, t) = table(r)
    if (r.optional("as")) {
      if (r.peek != "select" && r.peek != "with") r.fail()
      return createTableAs(ine, db, t, r.rest())
    }
    var pk = Seq.empty[String]
    var pkDecls = 0
    def primaryKey(): Unit = { pk = r.list(r.ident()); pkDecls += 1; r.raw() }
    val cols = Seq.newBuilder[catalog.Col]
    // (explicit name option, columns): explicitness decides 1061 vs
    // the _2-style auto-disambiguation below
    val uniqs = Seq.newBuilder[(Option[String], Seq[String])]
    r.list {
      if (r.optional("primary key")) primaryKey()
      // UNIQUE [KEY|INDEX] [name] (cols) — the reference's level-2 index
      // (meta_util.rs), enforced on write with 1062
      else if (r.optional("unique")) uniqs += uniqueKey(r, None)
      else if (r.optional("constraint")) {
        // CONSTRAINT [symbol] UNIQUE … / PRIMARY KEY …; other kinds
        // (FOREIGN KEY, CHECK) are read and ignored (the reference
        // catalogs only keys)
        val sym = if (Set("unique", "primary", "foreign", "check")(r.peek)) None
                  else Some(r.ident())
        if (r.optional("unique")) uniqs += uniqueKey(r, sym)
        else if (r.optional("primary key")) primaryKey()
        else r.raw()
      }
      // plain secondary indexes: parquet min-max stats make these
      // implicit on the read side, and they constrain nothing
      else if (r.oneOf("key", "index").isDefined) r.raw()
      else {
        val cname = r.ident()
        val mysqlType = if (r.peek == "," || r.peek == ")") "text" else r.columnType()
        // attribute words come from tokens, so the words inside a quoted
        // COMMENT/DEFAULT are data, not column attributes; independent
        // sniffs: `a int primary key unique` catalogs BOTH (MySQL keeps
        // the pk AND a unique key named after the column)
        val attrs = SqlReader.words(r.raw())
        if (attrs.containsSlice(Seq("primary", "key"))) { pk = pk :+ cname; pkDecls += 1 }
        if (attrs.contains("unique")) uniqs += ((None, Seq(cname)))
        cols += catalog.Col(cname, mysqlType, sparkDdl(mysqlType))
      }
    }
    var engine = "parquet"
    // PARTITION BY (sled key-prefix scoping parity): Hive-style
    // directory partitioning through the catalog — predicates on the
    // partition key prune directories before the scan
    var partCols = Seq.empty[String]
    while (!r.atEnd) {
      if (r.optional("engine", "=")) engine = r.ident().toLowerCase
      else if (r.optional("partition by") || r.optional("partitioned by"))
        partCols = r.list(r.ident())
      else r.token()
    }
    // MySQL key naming: explicit duplicates are 1061 (same as the
    // ALTER arm — a re-applied migration must fail, not stack a
    // renamed index); DEFAULTED names disambiguate col, col_2, …
    val allCols = cols.result()
    // MySQL 1060: duplicate column declarations (CI identifiers) —
    // a two-same-name meta would misalign positional INSERTs and
    // throw ambiguous-reference errors far from the cause. MySQL
    // names the SECOND occurrence.
    locally {
      val seen = scala.collection.mutable.Set[String]()
      for (cc <- allCols)
        if (!seen.add(cc.name.toLowerCase))
          throw new SqlError(1060, "42S21",
            s"Duplicate column name '${cc.name}'")
    }
    // MySQL 1068: at most one PRIMARY KEY declaration (inline column
    // attributes count — composite pks must use the table-level form)
    if (pkDecls > 1)
      throw new SqlError(1068, "42000", "Multiple primary key defined")
    // Key-column canonicalization at CREATE time — failing on first
    // INSERT deep in the sorted write path is the wrong place to
    // learn the CREATE was bad (canonKeyCols: CI stored spellings,
    // 1072 unknowns, 1060 in-key duplicates)
    pk = canonKeyCols(pk, allCols)
    val seenNames = scala.collection.mutable.Buffer[String]()
    val uniques = uniqs.result().map { case (explicitOpt, ucols0) =>
      val ucols = canonKeyCols(ucols0, allCols)
      val n = explicitOpt match {
        case Some(e) =>
          if (e.equalsIgnoreCase("primary") ||
              seenNames.exists(_.equalsIgnoreCase(e)))
            throw new SqlError(1061, "42000", s"Duplicate key name '$e'")
          e
        case None => uniqueIndexName(ucols.head, seenNames)
      }
      seenNames += n
      catalog.UniqueKey(n, ucols)
    }
    created(catalog.TableMeta(db, t, allCols, pk, engine,
      partitionCols = partCols, uniques = uniques), ine)
    count(1)
  }

  /** The rest of a UNIQUE declaration after the UNIQUE keyword:
    * `[KEY|INDEX] [name] (c1, c2, …)` and any index options. Returns the
    * index name — the explicit one, else the CONSTRAINT symbol `sym`
    * (MySQL names the index after index_name when given) — and the
    * columns; shared by CREATE TABLE and ALTER ADD UNIQUE.
    */
  private def uniqueKey(r: SqlReader, sym: Option[String]): (Option[String], Seq[String]) = {
    r.oneOf("key", "index")
    val name = if (r.peek == "(") None else Some(r.ident())
    val cols = r.list(r.ident())
    r.raw()
    (name.orElse(sym), cols)
  }

  /** Resolve a listed key-column set to its STORED spellings
    * (case-insensitive like every MySQL identifier — downstream meta
    * filters and delsSchema lookups need the canonical names),
    * answering 1072 for unknown columns and 1060 for a duplicate WITHIN
    * the key list. Shared by CREATE TABLE and ALTER ADD UNIQUE.
    */
  private def canonKeyCols(listed: Seq[String],
                           cols: Seq[Catalog#Col]): Seq[String] = {
    val stored = listed.map(k => column(cols, k, new SqlError(1072, "42000",
      s"Key column '$k' doesn't exist in table")).name)
    val seen = scala.collection.mutable.Set[String]()
    for (k <- stored)
      if (!seen.add(k.toLowerCase))
        throw new SqlError(1060, "42S21", s"Duplicate column name '$k'")
    stored
  }

  /** A named column as the table stores it. MySQL column names are
    * case-insensitive, and every handler resolves them through here;
    * `missing` is the error for a name the table lacks.
    */
  private def column(cols: Seq[Catalog#Col], name: String,
                     missing: => SqlError): Catalog#Col =
    cols.find(_.name.equalsIgnoreCase(name)).getOrElse(throw missing)

  /** `column` for a statement's field list: MySQL's 1054. */
  private def fieldColumn(cols: Seq[Catalog#Col], name: String): Catalog#Col =
    column(cols, name, new SqlError(1054, "42S22", s"Unknown column '$name' in 'field list'"))

  /** MySQL index auto-naming: `base`, then base_2, base_3, … skipping
    * PRIMARY and `existing` CASE-INSENSITIVELY (index identifiers are
    * CI — a name differing only by case would later be dropped together
    * with its sibling by the CI DROP INDEX).
    */
  private def uniqueIndexName(base: String,
                              existing: Iterable[String]): String = {
    val taken = existing.map(_.toLowerCase).toSet + "primary"
    var n = base; var i = 1
    while (taken.contains(n.toLowerCase)) { i += 1; n = s"${base}_$i" }
    n
  }

  // ---- CREATE VIEW / DROP VIEW (durable SQL-text views, B-surface §8) ----
  private def createView(r: SqlReader, orReplace: Boolean): DataFrame = {
    val (db, v) = table(r)
    r.keyword("as")
    catalog.createView(db, v, r.rest(nonEmpty = true), orReplace = orReplace)
    count(0)
  }

  private def dropView(r: SqlReader): DataFrame = {
    val ie = r.optional("if exists")
    val (db, v) = table(r)
    r.end()
    catalog.dropView(db, v, ifExists = ie)
    count(0)
  }

  private def dropTable(r: SqlReader): DataFrame = {
    val ie = r.optional("if exists")
    val (db, t) = table(r)
    r.end()
    catalog.dropTable(db, t, ifExists = ie); count(1)
  }

  /** ALTER TABLE t with one action: ADD [CONSTRAINT [sym]] UNIQUE …, ADD
    * [COLUMN] c type …, DROP INDEX|KEY name, DROP [COLUMN] c, or
    * DISABLE|ENABLE KEYS. The statement must end after the action, so a
    * multi-action ALTER is refused (1064) instead of silently applying
    * only its first action.
    */
  private def alterTable(r: SqlReader): DataFrame = {
    val (db, t) = table(r)
    // UNIQUE forms come before ADD COLUMN: `add unique key uq (a)` must
    // not read as a column named `unique`
    val constraint = r.optional("add", "constraint")
    if (constraint || r.optional("add", "unique")) {
      val sym = if (constraint && r.peek != "unique") Some(r.ident()) else None
      if (constraint) r.keyword("unique")
      val (name, cols) = uniqueKey(r, sym)
      r.end(); addUnique(db, t, name, cols)
    } else if (r.optional("add")) {
      r.optional("column")
      val c = r.ident()
      val ctype = r.columnType()
      // inline UNIQUE column attribute (MySQL creates a unique index
      // named after the column), read from tokens — a COMMENT 'unique
      // note id' must not grow a phantom index
      val unique = SqlReader.words(r.raw()).contains("unique")
      r.end(); addColumn(db, t, c, ctype, unique)
    } else if (r.oneOf("drop index", "drop key").isDefined) {
      val n = r.ident()
      r.end(); dropIndex(db, t, n)
    } else if (r.optional("drop")) {
      r.optional("column")
      val c = r.ident()
      r.end(); dropColumn(db, t, c)
    } else {
      // mysqldump brackets each table's INSERTs with these; MySQL answers
      // OK without effect for an engine that lacks the option, as here
      if (r.oneOf("disable keys", "enable keys").isEmpty) r.fail()
      r.end()
      if (!catalog.tableExists(db, t))
        throw new SqlError(1146, "42S02", s"Table '$db.$t' doesn't exist")
      count(0)
    }
  }

  private def addUnique(db: String, t: String, explicit: Option[String],
                        ucols: Seq[String]): DataFrame = {
    // meta is (re)read INSIDE the lock: two concurrent ADD UNIQUEs
    // must not lose each other's key (pure lost-update on a
    // meta-only mutation), and the 1062 data check must see every
    // commit that preceded the lock
    catalog.withDmlLock(db, t) {
      catalog.freshenStale()
      val m = catalog.meta(db, t)
      val stored = canonKeyCols(ucols, m.cols)
      val uname = explicit match {
        case Some(n) =>
          // an explicitly named duplicate is MySQL's 1061, not a
          // silent rename (a re-applied migration must fail, not
          // stack a redundant index)
          if (n.equalsIgnoreCase("primary") ||
              m.uniques.exists(_.name.equalsIgnoreCase(n)))
            throw new SqlError(1061, "42000", s"Duplicate key name '$n'")
          n
        case None => uniqueIndexName(stored.head, m.uniques.map(_.name))
      }
      for (row <- firstDupKey(catalog.read(db, t), uname, stored))
        throwDup(t, uname, stored, row)
      catalog.replaceMeta(m.copy(
        uniques = m.uniques :+ catalog.UniqueKey(uname, stored)))
    }
    count(0)
  }

  private def dropIndex(db: String, t: String, n: String): DataFrame = {
    if (n.equalsIgnoreCase("PRIMARY"))
      sys.error("Cannot DROP 'PRIMARY'; use a table rebuild to change the primary key")
    catalog.withDmlLock(db, t) {
      // fresh meta inside the lock — a concurrently added key must
      // survive this drop, and MySQL index names are case-insensitive
      val m = catalog.meta(db, t)
      if (!m.uniques.exists(_.name.equalsIgnoreCase(n)))
        throw new SqlError(1091, "42000",
          s"Can't DROP '$n'; check that column/key exists")
      catalog.replaceMeta(m.copy(
        uniques = m.uniques.filterNot(_.name.equalsIgnoreCase(n))))
    }
    count(0)
  }

  /** ADD COLUMN: the new column is all-NULL, so an inline UNIQUE holds
    * vacuously at birth: cataloged, no data check.
    */
  private def addColumn(db: String, t: String, c: String, ctype: String,
                        wantUnique: Boolean): DataFrame = {
    if (c.toLowerCase.startsWith("_graft_"))
      sys.error(s"Column name '$c' is reserved " +
        "(names beginning with _graft_ are internal)")
    val ddl = sparkDdl(ctype)
    // an existing column name is MySQL's 1060 — Spark's withColumn
    // would otherwise silently REPLACE the column (nulling its data)
    // and the meta would grow a duplicate entry. CASE-INSENSITIVE
    // like MySQL column identifiers (and like Spark's own default
    // withColumn resolution, so 'V' really would clobber 'v').
    def dup1060(m: Catalog#TableMeta): Unit =
      if (m.cols.exists(_.name.equalsIgnoreCase(c)))
        throw new SqlError(1060, "42S21", s"Duplicate column name '$c'")
    dup1060(catalog.meta(db, t)) // fast fail before taking the lock
    // the whole check → rewrite → meta swap runs under the (reentrant)
    // DML lock, like DROP COLUMN: the losing racer of two same-name
    // ADDs must fail the re-check BEFORE its withColumn-replacement
    // rewrite nulls the winner's just-added column data, and a
    // concurrent ADD UNIQUE landing first must survive the meta swap
    catalog.withDmlLock(db, t) {
      catalog.freshenStale()
      val fresh = catalog.meta(db, t)
      dup1060(fresh)
      catalog.rewrite(db, t,
        catalog.read(db, t).withColumn(c, lit(null).cast(ddl)))
      val uniq =
        if (wantUnique)
          Seq(catalog.UniqueKey(
            uniqueIndexName(c, fresh.uniques.map(_.name)), Seq(c)))
        else Nil
      catalog.replaceMeta(fresh.copy(
        cols = fresh.cols :+ catalog.Col(c, ctype, ddl),
        uniques = fresh.uniques ++ uniq))
    }
    count(0)
  }

  private def dropColumn(db: String, t: String, c: String): DataFrame = {
    // the (reentrant) DML lock spans meta read → check → rewrite →
    // meta swap: a concurrent INSERT validating against the
    // still-wider key must not land between the narrowed-key check
    // and the narrowed meta, and a concurrent DDL's meta commit must
    // not be clobbered by a stale pre-lock snapshot
    catalog.withDmlLock(db, t) {
      catalog.freshenStale()
      val m = catalog.meta(db, t)
      require(!m.partitionCols.exists(_.equalsIgnoreCase(c)),
        s"Cannot drop partition column '$c'")
      // resolve the STORED name case-insensitively (MySQL column
      // identifiers are CI; Spark's drop() resolves CI too, so every
      // meta filter below must use the canonical spelling)
      val stored = column(m.cols, c, new SqlError(1091, "42000",
        s"Can't DROP '$c'; check that column/key exists")).name
      if (m.cols.lengthCompare(1) == 0)
        throw new SqlError(1090, "42000",
          "You can't delete all columns with ALTER TABLE; use DROP TABLE instead")
      val dropped = catalog.read(db, t).drop(stored)
      // the column leaves the PRIMARY KEY and every UNIQUE index too
      // (MySQL drops it from each index; an index emptied this way is
      // dropped) — but a NARROWED surviving index must still hold
      // unique data, or MySQL fails the ALTER with 1062; checked
      // against the would-be table BEFORE anything rewrites
      val narrowedSets =
        (if (m.pk.contains(stored) && m.pk.exists(_ != stored))
          Seq("PRIMARY" -> m.pk.filterNot(_ == stored)) else Nil) ++
        m.uniques.filter(u => u.cols.contains(stored) && u.cols.exists(_ != stored))
          .map(u => u.name -> u.cols.filterNot(_ == stored))
      for ((kname, kcols) <- narrowedSets;
           row <- firstDupKey(dropped, kname, kcols))
        throwDup(t, kname, kcols, row)
      catalog.rewrite(db, t, dropped)
      // a pk emptied this way turns the table copy-on-write
      catalog.replaceMeta(m.copy(cols = m.cols.filterNot(_.name == stored),
        pk = m.pk.filterNot(_ == stored),
        uniques = m.uniques.map(u => u.copy(cols = u.cols.filterNot(_ == stored)))
          .filter(_.cols.nonEmpty)))
    }
    count(0)
  }

  // ---- DML (insert.rs / update.rs / delete.rs) ---------------------------

  /** INSERT … VALUES / INSERT … SELECT / REPLACE INTO. The source rows
    * are parsed and planned by Spark (`VALUES` is an inline table; a
    * SELECT source runs through the full query path), then aligned
    * positionally to the target schema and cast. Tables with a PRIMARY
    * KEY are written sorted by the key within each output file, so
    * parquet row-group min/max statistics give sled-style point-lookup
    * pruning (store/engine/sled.rs:1 semantics) without any KV store.
    *
    * Keyed tables meet their keys in `writeRows` (insert.rs:203 checks
    * every index key before writing): INSERT of a key that exists — in
    * the table or twice in the batch — answers error 1062 and writes
    * nothing, INSERT IGNORE skips it, and REPLACE INTO (sqlparser's
    * Insert{overwrite} — sled's put overwrites per key) displaces the
    * rows holding it. The check and the write run under the DML lock:
    * two racing INSERTs must not both pass the check and commit the
    * same key.
    */
  private def insert(r: SqlReader, kw: String): DataFrame = {
    import GraftSession.OnDuplicate._
    val onDup = if (kw == "replace") Replace else if (r.optional("ignore")) Ignore else Error
    r.keyword("into")
    val (db, t) = table(r)
    val listed = if (r.peek == "(") Some(r.list(r.ident())) else None
    if (!Set("values", "select", "with")(r.peek)) r.fail()
    val source = r.rest()
    val m = catalog.meta(db, t)
    val src =
      if (source.toLowerCase.startsWith("values"))
        relational(s"SELECT * FROM ${source}")
      else query(source)
    val targetCols = listed.fold(m.cols.map(_.name))(_.map(fieldColumn(m.cols, _).name))
    require(src.columns.length == targetCols.length,
      s"Column count doesn't match value count (${src.columns.length} vs ${targetCols.length})")
    val positioned = src.toDF(targetCols: _*)
    val aligned = positioned.select(m.cols.map { c =>
      (if (targetCols.contains(c.name)) col(s"`${c.name}`")
       else lit(null)).cast(c.sparkDdl).as(c.name)
    }: _*)
    writeRows(db, t, aligned, onDup)
  }

  /** Land a batch of aligned rows under the table's keys (INSERT,
    * INSERT IGNORE, REPLACE, LOAD DATA and CREATE TABLE … AS SELECT):
    * one conflict step per enforced key set, PRIMARY first, then one
    * `commit`. The batch is staged once, so the count and the write read
    * one materialization (an INSERT … SELECT over a big source scans it
    * once, and a non-deterministic source reports what it wrote). The
    * key sets come from the meta read under the DML lock: a key that a
    * concurrent ALTER … ADD UNIQUE committed first is enforced, and a
    * concurrent DROP fails the statement.
    *
    * Per key set, in the batch's row order: `Error` answers 1062 for a
    * key twice in the batch or already in the table and writes nothing;
    * `Ignore` keeps the first batch row per key and drops the rows whose
    * key the table holds; `Replace` keeps the last and retires the table
    * rows that hold a kept key. Each set resolves on its own, which
    * matches MySQL's row-at-a-time loop on every batch in which no row's
    * fate on one set frees or takes another set's key for a later row
    * (KeyedWriteSpec's model states the filter). MySQL's affected rows:
    * the rows landed, and for REPLACE also one per displaced row — each
    * batch row a later one displaced and each table row retired.
    *
    * Row order is the order of a VALUES list (it stages single-partition,
    * so monotonically_increasing_id is that order), and partition order
    * for an unordered multi-partition SELECT — as undefined as MySQL's
    * own order for one (its docs say to ORDER BY when the winner
    * matters). The batch is not coalesced to one partition to force an
    * order: that would funnel a big INSERT … SELECT through one task.
    * The rows land sorted within each file by the PRIMARY key, else the
    * first UNIQUE key, so parquet min/max statistics prune point lookups
    * (store/engine/sled.rs:1 semantics without a KV store).
    */
  private def writeRows(db: String, t: String, aligned: DataFrame,
                        onDup: GraftSession.OnDuplicate): DataFrame = {
    import GraftSession.OnDuplicate._
    val staged = aligned.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val rows = staged.count()
      catalog.withDmlLock(db, t) {
        catalog.freshenStale()
        val m = catalog.meta(db, t)
        val sets = if (rows == 0) Nil else keySets(m)
        val existing = catalog.read(db, t)
        val kept =
          if (onDup == Error) { checkKeys(t, sets, staged, Some(rows), existing); staged }
          else if (sets.isEmpty) staged
          else sets.foldLeft(staged.withColumn("_graft_ord", monotonically_increasing_id())) {
            case (df, (kname, kcols)) =>
              val one = keepOne(df, kname, kcols, col("_graft_ord"), last = onDup == Replace)
              if (onDup == Replace) one
              else one.join(keyedRows(existing, kname, kcols).select(keyCols(kcols): _*).distinct(),
                kcols, "left_anti")
          }.drop("_graft_ord").persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          val landed = if (kept eq staged) rows else kept.count()
          val retire = if (onDup != Replace) Nil else sets.map { case (kname, kcols) =>
            Retire.Keys(kcols, hintBatchKeys(
              keyedRows(kept, kname, kcols).select(keyCols(kcols): _*), landed))
          }
          // the lone primary key of a merge-on-read table is tombstoned
          // as given, without counting the rows it displaces: count them
          // here, and retire nothing when there are none
          val counted =
            if (m.uniques.isEmpty && retire.nonEmpty)
              Some(existing.join(retire.head.keys, m.pk, "left_semi").count())
            else None
          val sorted = kept.sortWithinPartitions(sets.take(1).flatMap(s => keyCols(s._2)): _*)
          val done = commit(db, t, if (counted.contains(0L)) Nil else retire,
            Some(sorted).filter(_ => landed > 0))
          count(if (onDup == Replace) rows + (rows - landed) + counted.orElse(done.retired).get
                else landed)
        } finally if (!(kept eq staged)) kept.unpersist()
      }
    } finally staged.unpersist()
  }

  /** Broadcast the batch-key side of a duplicate/REPLACE probe only when
    * the staged batch is wire-sized: Spark obeys an explicit broadcast
    * hint regardless of estimated size, so `INSERT/REPLACE INTO … SELECT`
    * from a fact-sized source would otherwise force an arbitrarily large
    * driver-side broadcast build (the 100× driver-memory hazard). Past
    * the threshold the hint is dropped and the probe runs as the
    * planner's own shuffle semi/anti join — identical semantics. 10⁶
    * keys ≈ tens of MB framed, safely inside the broadcast budget;
    * GRAFT_DML_BROADCAST_KEYS overrides for constrained drivers.
    */
  private def dmlBroadcastKeyLimit: Long =
    sys.props.get("graft.dml.broadcast.keys")
      .orElse(sys.env.get("GRAFT_DML_BROADCAST_KEYS"))
      .map(_.toLong).getOrElse(1000000L)
  private def hintBatchKeys(keys: DataFrame, batchRows: Long): DataFrame =
    if (batchRows <= dmlBroadcastKeyLimit) keys.hint("broadcast") else keys

  /** The table's enforced key sets, PRIMARY first — the reference's
    * level-1/level-2 index list (meta_util.rs get_table_index_list).
    */
  private def keySets(m: catalog.TableMeta): Seq[(String, Seq[String])] =
    (if (m.pk.nonEmpty) Seq("PRIMARY" -> m.pk) else Nil) ++
      m.uniques.map(u => u.name -> u.cols)

  private def keyCols(kcols: Seq[String]): Seq[Column] = kcols.map(k => col(s"`$k`"))

  /** Rows of a batch that participate in a key set's uniqueness check:
    * everything for PRIMARY; for a UNIQUE (non-PK) set, rows with any
    * NULL key column are exempt (MySQL permits any number of NULLs in a
    * unique index).
    */
  private def keyedRows(df: DataFrame, kname: String,
                        kcols: Seq[String]): DataFrame =
    if (kname == "PRIMARY") df else df.filter(noNullKey(kcols))

  private def noNullKey(kcols: Seq[String]): Column =
    keyCols(kcols).map(_.isNotNull).reduce(_ && _)

  /** One row of `df` per key of a key set: the one with the least `ord`
    * (`last` false) or the greatest, exactly one even when `ord` ties.
    * The rows a UNIQUE set exempts (keyedRows) all stay.
    */
  private def keepOne(df: DataFrame, kname: String, kcols: Seq[String],
                      ord: Column, last: Boolean): DataFrame = {
    val row = struct(df.columns.map(c => col(s"`$c`")).toIndexedSeq: _*)
    val one = keyedRows(df, kname, kcols).groupBy(keyCols(kcols): _*)
      .agg((if (last) max_by(row, ord) else min_by(row, ord)).as("_graft_row"))
      .select("_graft_row.*")
    if (kname == "PRIMARY") one
    else one.unionByName(df.filter(!noNullKey(kcols)))
  }

  /** First duplicated key tuple of `df` on one key set (NULL-keyed rows
    * exempt for UNIQUE sets via keyedRows), or None. The ONE keyed-count
    * probe every 1062 path shares; the aggregate alias dodges a user
    * column literally named `count` (AMBIGUOUS_REFERENCE on the default
    * groupBy().count() output).
    */
  private def firstDupKey(df: DataFrame, kname: String,
                          kcols: Seq[String]): Option[Row] = {
    val kc = keyCols(kcols)
    keyedRows(df, kname, kcols).groupBy(kc: _*)
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("_graft_cnt"))
      .filter(col("_graft_cnt") > 1)
      .select(kc: _*).head(1).headOption
  }

  private def throwDup(t: String, kname: String, kcols: Seq[String],
                       row: Row): Nothing =
    throw SqlError.duplicateEntry(
      kcols.indices.map(row.get(_)).mkString("-"), t, kname)

  /** MySQL's 1062 (insert.rs:197-217) unless, on every key set of
    * `sets`, the keys of `batch` are distinct and no row of `against`
    * holds one: strict INSERT's batch against the table, UPDATE's images
    * against the rows it leaves alone. A single-column batch of at most
    * 256 rows (`batchRows`) pushes its literal keys into the scan (min/
    * max- and bloom-pruned); a bigger one semi-joins, broadcasting the
    * batch keys as `hintBatchKeys` allows, so the table never shuffles.
    * UPDATE does not know its batch size (None) and leaves the join to
    * the planner.
    */
  private def checkKeys(t: String, sets: Seq[(String, Seq[String])], batch: DataFrame,
                        batchRows: Option[Long], against: DataFrame): Unit =
    for ((kname, kcols) <- sets) {
      val kc = keyCols(kcols)
      val keys = keyedRows(batch, kname, kcols).select(kc: _*)
      val taken = firstDupKey(batch, kname, kcols).orElse {
        val hits = batchRows match {
          case Some(n) if n <= 256 && kcols.lengthCompare(1) == 0 =>
            val ks = keys.distinct().collect().map(_.get(0)).filter(_ != null)
            if (ks.isEmpty) against.limit(0)
            else against.filter(kc.head.isin(ks.toIndexedSeq: _*))
          case _ => keyedRows(against, kname, kcols)
            .join(batchRows.fold(keys)(hintBatchKeys(keys, _)), kcols, "left_semi")
        }
        hits.select(kc: _*).head(1).headOption
      }
      for (row <- taken) throwDup(t, kname, kcols, row)
    }

  /** LOAD DATA [LOCAL] INFILE — the MySQL bulk-ingest surface, mapped
    * onto a distributed CSV scan (the file is read by executors with the
    * target schema, never row-by-row through the driver the way
    * mysqld's parser does). `GraftSession.parseLoad` reads the
    * statement; column names resolve case-insensitively (1054 for an
    * unknown one), and the load keeps the REPLACE/IGNORE duplicate-key
    * modes of INSERT (strict 1062 otherwise).
    */
  private def loadData(load: GraftSession.Load,
                       spool: Option[java.nio.file.Path] = None): DataFrame = {
    // LOCAL INFILE content arrives from the wire client as a spool
    // file: secure_file_priv gates SERVER filesystem access and does
    // not apply (MySQL semantics — the client read its own file)
    val path = spool.map(_.toString).getOrElse(load.file)
    if (spool.isEmpty) checkFileAccess(path)
    val (db, t) = inSchema(load.table)
    val m = catalog.meta(db, t)
    val readCols = load.cols.fold[Seq[Catalog#Col]](m.cols)(_.map(fieldColumn(m.cols, _)))
    val setMap = load.sets.map { case (c, e) => fieldColumn(m.cols, c).name -> e }.toMap

    // Distributed read: executors parse the file with the listed
    // columns' types; only clause parsing happens on the driver.
    // IGNORE n LINES drops the first n records the CSV parser actually
    // produced — re-splitting the raw text ourselves would tear quoted
    // (ENCLOSED BY) fields that contain embedded newlines. Record order
    // within one file is split byte order, so the global zipWithIndex
    // index IS the record number (costs one extra pass; only on skip>0).
    val reader = spark.read
      .option("sep", load.sep).option("quote", load.quote)
      .option("escape", load.escape)
      .option("multiLine", load.skip > 0)
      .schema(readCols.map(c => s"`${c.name}` ${c.sparkDdl}").mkString(", "))
    val parsed = reader.csv(path)
    val src =
      if (load.skip == 0) parsed
      else spark.createDataFrame(
        parsed.rdd.zipWithIndex().filter(_._2 >= load.skip).map(_._1),
        parsed.schema)
    val aligned = src.select(m.cols.map { c =>
      (setMap.get(c.name) match {
        case Some(e)                          => expr(e) // may read input cols
        case None if readCols.exists(_.name == c.name) => col(s"`${c.name}`")
        case None                             => lit(null)
      }).cast(c.sparkDdl).as(c.name)
    }: _*)
    writeRows(db, t, aligned, load.onDup)
  }

  /** LOAD DATA LOCAL INFILE with the file content delivered by the wire
    * client (the 0xFB request/stream exchange — MysqlServer drives the
    * packets from the same `parseLoad`, this executes the load). The
    * content is spooled to a server temp file so the SAME distributed
    * CSV reader applies; the append is eager, so the spool is deleted
    * before returning.
    */
  def loadDataLocal(load: GraftSession.Load, content: Array[Byte]): DataFrame = {
    val tmp = java.nio.file.Files.createTempFile("graft-local-infile", ".dat")
    try {
      java.nio.file.Files.write(tmp, content)
      dirty(loadData(load, spool = Some(tmp)))
    } finally java.nio.file.Files.deleteIfExists(tmp)
  }

  /** UPDATE and DELETE as Spark's own parser reads them: the target
    * table, the SET assignments (column, value) and the WHERE condition
    * (None without one), as Columns. The plan is only read, never run.
    * A target with an alias, or any form Spark parses but MySQL's
    * single-table UPDATE/DELETE lacks, is a 1064.
    */
  private def dmlPlan(stmt: String): ((String, String), Seq[(String, Column)], Option[Column]) = {
    val plan = try spark.sessionState.sqlParser.parsePlan(stmt) catch {
      case e: ParseException =>
        // Spark reports the failing line and column; 1064 names the text there
        val at = stmt.split('\n').take(e.start.line.getOrElse(1) - 1).map(_.length + 1).sum +
          e.start.startPosition.getOrElse(0)
        throw SqlError.syntax(stmt.substring(at min stmt.length))
    }
    def target(p: LogicalPlan): (String, String) = p match {
      case UnresolvedRelation(parts, _, _) if parts.length <= 2 => inSchema(SqlReader.name(parts))
      case _ => throw SqlError.syntax(stmt)
    }
    plan match {
      case UpdateTable(rel, assignments, cond) =>
        (target(rel), assignments.map {
          case Assignment(a: UnresolvedAttribute, e) => a.name -> Bridge.column(e)
          case _ => throw SqlError.syntax(stmt)
        }, cond.map(Bridge.column))
      // no WHERE parses to a TRUE condition: every row goes
      case DeleteFromTable(rel, cond) =>
        (target(rel), Nil, if (cond == Literal.TrueLiteral) None else Some(Bridge.column(cond)))
      case _ => throw SqlError.syntax(stmt)
    }
  }

  /** UPDATE: one `commitRows` that retires the rows WHERE holds TRUE for
    * and adds each back as its image under the assignments — O(matched)
    * tombstones on merge-on-read tables (update.rs rewrites per key in
    * sled; this is the columnar equivalent of that point-write shape),
    * one in-place rewrite otherwise. Key-column assignments are checked
    * for 1062 before anything commits.
    */
  private def update(stmt: String): DataFrame = {
    val ((db, t), sets, where) = dmlPlan(stmt)
    val m = catalog.meta(db, t)
    val cond = where.getOrElse(lit(true))
    // an unknown column fails before anything is read; each assignment
    // commits under the column's stored spelling
    val assignments = sets.map { case (c, e) =>
      val stored = fieldColumn(m.cols, c)
      stored.name -> e.cast(stored.sparkDdl)
    }
    val touched = assignments.map(_._1).toSet
    // key-column updates must not create duplicates — within the
    // updated rows or against the UNMATCHED remainder of the table.
    // The check runs inside the commit's DML lock, so a concurrent
    // INSERT cannot land a key this UPDATE is about to occupy between
    // the check and the write, and it reads the key sets there
    def checkImages(images: DataFrame): Unit = {
      val sets = keySets(catalog.meta(db, t)).filter(_._2.exists(touched))
      if (sets.nonEmpty)
        checkKeys(t, sets, images, None, catalog.read(db, t).filter(!coalesce(cond, lit(false))))
    }
    // WHERE is evaluated against the ORIGINAL rows (MySQL semantics: a
    // later assignment never re-resolves the condition)
    count(commit(db, t, Seq(Retire.Where(cond)), set = assignments,
      check = checkImages).retired.get)
  }

  private def delete(stmt: String): DataFrame = {
    val ((db, t), _, where) = dmlPlan(stmt)
    // full-table delete: the rewrite is cheaper than tombstoning every row
    if (where.isEmpty) emptyTable(db, t)
    else {
      // delete.rs point-deletes sled keys; here the matched rows retire
      // in one commit (pk tombstones, O(matched), or one rewrite),
      // which finds and counts them once
      count(commit(db, t, Seq(Retire.Where(where.get))).retired.get)
    }
  }

  // ---- variables (set_variable.rs / variable/system.rs + user_defined.rs)

  /** User-defined session variables (`SET @a = …`); values kept as raw
    * SQL text and substituted into later statements, so `SELECT @a + 1`
    * works for any literal type.
    */
  private val userVars = scala.collection.mutable.Map.empty[String, String]

  /** `Catalog.commitRows` under this session's auto-compaction policy,
    * read from the graft_auto_compact_* system variables (SET for this
    * session, SET GLOBAL durably for the warehouse; `setVariable` admits
    * only numbers) — SURVEY §5's tombstone-bytes-vs-reread knob,
    * production default ON.
    */
  private def commit(db: String, t: String, retire: Seq[Catalog.Retire],
                     added: Option[DataFrame] = None,
                     set: Seq[(String, Column)] = Nil,
                     check: DataFrame => Unit = _ => ()): Catalog.Committed =
    catalog.commitRows(db, t, retire, added,
      variables.get("graft_auto_compact_min_tombstones").get.toLong,
      variables.get("graft_auto_compact_ratio").get.toDouble,
      set, check)

  /** SET @user [:]= value, or SET [GLOBAL|SESSION] [@@]name = value
    * (the name may carry a `global.`/`session.` prefix). The value is the
    * raw rest of the statement.
    */
  private def setVariable(r: SqlReader): DataFrame = {
    val scope = r.oneOf("global", "session")
    if (scope.isEmpty && r.optional("@") && !r.optional("@")) {
      val name = r.ident()
      if (!r.optional(":", "=")) r.keyword("=")
      userVars(name.toLowerCase) = r.rest(nonEmpty = true); return count(0)
    }
    if (scope.nonEmpty) { r.optional("@"); r.optional("@") }
    var lower = r.ident().toLowerCase
    while (r.optional(".")) lower += "." + r.ident().toLowerCase
    r.keyword("=")
    val value = r.rest(nonEmpty = true)
    // both spellings reach GLOBAL scope: SET GLOBAL x and SET @@global.x
    val global = scope.contains("global") || lower.startsWith("global.")
    val n = lower.stripPrefix("global.").stripPrefix("session.")
    // the file-access gate must not be loosenable over SQL (MySQL
    // makes it settable only at server start)
    if (n == "secure_file_priv")
      throw new SqlError(1238, "HY000",
        "Variable 'secure_file_priv' is a read only variable")
    // graft's numeric knobs take a number (1232) no less than their
    // least value (1231)
    for ((parse, least, why) <- GraftSession.NumericVariables.get(n)) {
      val v = parse(unquote(value)).filterNot(_.isNaN).getOrElse(
        throw new SqlError(1232, "42000", s"Incorrect argument type to variable '$n'"))
      if (v < least) throw new SqlError(1231, "42000", s"$n must be >= ${least.toLong}$why")
    }
    // retention knob for VERSION AS OF time travel: applied to the
    // catalog immediately (rewrite GC reads it at commit time)
    if (n == "graft_retain_versions") catalog.retainVersions = unquote(value).toInt
    variables.set(n, unquote(value), global = global)
    count(0)
  }

  /** `@name` → its value outside literals and comments (single @, not
    * @@), over the mask of SqlText's scan.
    */
  private def substituteUserVars(s: String): String = {
    if (userVars.isEmpty || !s.contains("@")) return s
    val m = SqlText.maskNonSyntax(s)
    val out = new StringBuilder
    var i = 0
    while (i < s.length) {
      var end = i + 1
      if (m(i) == '@' && !m.startsWith("@@", i) && (i == 0 || m(i - 1) != '@')) {
        while (end < s.length && (s(end).isLetterOrDigit || s(end) == '_')) end += 1
        out ++= userVars.getOrElse(s.substring(i + 1, end).toLowerCase, s.substring(i, end))
      } else out += s(i)
      i = end
    }
    out.toString
  }

  /** `q` with every match of `r` replaced by `f`'s text. `r` runs over
    * `SqlText.maskNonSyntax(q)`, so nothing inside a string literal, a
    * backticked name or a comment ever matches; `f` reads group i of the
    * match from the original text (null for a group that took no part).
    * `query` applies each of its MySQL rewrites through here.
    */
  private def rewriteSyntax(q: String, r: scala.util.matching.Regex)(
      f: (Int => String) => String): String = {
    val out = new StringBuilder
    var pos = 0
    for (m <- r.findAllMatchIn(SqlText.maskNonSyntax(q))) {
      out ++= q.substring(pos, m.start)
      out ++= f(i => if (m.start(i) < 0) null else q.substring(m.start(i), m.end(i)))
      pos = m.end
    }
    (out ++= q.substring(pos)).toString
  }

  // ---- SHOW surface (show_*.rs) ------------------------------------------

  /** SHOW … and DESCRIBE, read past their keywords `kw`: the table a form
    * names (SHOW COLUMNS|INDEX FROM t [FROM|IN db], DESCRIBE t, SHOW
    * CREATE TABLE|VIEW t, SHOW COMMITS FOR t) or the database it lists
    * (SHOW [FULL] TABLES and SHOW TABLE STATUS [FROM|IN db]; an unknown
    * one is 1049), then LIKE 'pattern' or WHERE expr (LIMIT [offset,] n
    * for WARNINGS and ERRORS).
    */
  private def show(verb: Verb, r: SqlReader, kw: String): DataFrame = {
    import Verb._
    def in(): Option[String] =
      if (r.oneOf("from", "in").isDefined) Some(existingSchema(r.schema())) else None
    val (db, t) = verb match {
      case ShowColumns | ShowIndex =>
        if (!kw.startsWith("desc") && r.oneOf("from", "in").isEmpty) r.fail()
        val (named, t) = r.table()
        inSchema((in().orElse(named), t))
      case ShowCommits => r.keyword("for"); table(r)
      case ShowCreateTable | ShowCreateView => table(r)
      case ShowTables | ShowFullTables | ShowTableStatus =>
        (in().getOrElse(currentSchema), "")
      case _ => (currentSchema, "")
    }
    val diagnostics = verb == ShowWarnings || verb == ShowErrors
    val limit = if (!diagnostics || !r.optional("limit")) None else {
      val n = r.number().toInt
      Some(if (r.optional(",")) (n, r.number().toInt) else (0, n))
    }
    val like = if (!diagnostics && r.optional("like")) Some(r.string()) else None
    // WHERE filters the answer's rows: a Spark predicate over its columns
    val where = if (diagnostics || like.nonEmpty || !r.optional("where")) None
      else Some(r.rest(nonEmpty = true))
    // SHOW GRANTS FOR user: the answer lists every seeded account anyway
    if (verb == ShowGrants && r.optional("for")) r.rest()
    r.end()
    def likeFilter(s: String): Boolean = like.forall { p =>
      Pattern.compile("(?i)^" + Pattern.quote(p).replace("%", "\\E.*\\Q")
        .replace("_", "\\E.\\Q") + "$").matcher(s).matches()
    }

    val out = verb match {
      case ShowDatabases =>
        frame(Seq("Database"), catalog.listSchemas().filter(likeFilter).map(Seq(_)))
      case ShowTables | ShowFullTables =>
        // views list alongside tables, as in MySQL; SHOW FULL TABLES
        // tells them apart by Table_type
        val full = verb == ShowFullTables
        frame(s"Tables_in_$db" +: (if (full) Seq("Table_type") else Nil),
          (catalog.listTables(db).map(Seq(_, "BASE TABLE")) ++
            catalog.listViews(db).map(Seq(_, "VIEW")))
            .filter(x => likeFilter(x.head)).sortBy(_.head).map(_.take(if (full) 2 else 1)))
      case ShowColumns =>
        val m = catalog.meta(db, t)
        frame(Seq("Field", "Type", "Null", "Key", "Default", "Extra"),
          m.cols.map(c => Seq(c.name, c.mysqlType.toLowerCase,
            if (m.pk.contains(c.name)) "NO" else "YES",
            if (m.pk.contains(c.name)) "PRI" else "", "NULL", "")))
      case ShowCommits =>
        // commit-log discoverability for VERSION AS OF: one row per commit
        // with whether that generation is still retained (addressable)
        val versionsDir = java.nio.file.Paths.get(
          catalog.dataPath(db, t)).getParent.resolve("versions")
        frame(Seq("version", "action", "retained", "committed_at"),
          catalog.commitLog(db, t).map { case (v, action, at) =>
            Seq(s"v$v", action,
              if (java.nio.file.Files.isDirectory(versionsDir.resolve(s"v$v")))
                "YES" else "reaped",
              at.map(_.toString).orNull)
          })
      // MySQL answers SHOW CREATE TABLE on a view with the view shape
      case ShowCreateView | ShowCreateTable
          if verb == ShowCreateView || catalog.viewExists(db, t) =>
        frame(Seq("View", "Create View", "character_set_client",
          "collation_connection"),
          Seq(Seq(t, s"CREATE VIEW `$t` AS ${catalog.viewSql(db, t)}",
            "utf8mb4", "utf8mb4_0900_ai_ci")))
      case ShowCreateTable =>
        val m = catalog.meta(db, t)
        val colDefs = m.cols.map(c => s"  `${c.name}` ${c.mysqlType.toLowerCase}")
        val pkDef = if (m.pk.nonEmpty)
          Seq(s"  PRIMARY KEY (${m.pk.map(k => s"`$k`").mkString(", ")})") else Nil
        val uqDefs = m.uniques.map(u =>
          s"  UNIQUE KEY `${u.name}` (${u.cols.map(c => s"`$c`").mkString(", ")})")
        val ddl = s"CREATE TABLE `$t` (\n" +
          (colDefs ++ pkDef ++ uqDefs).mkString(",\n") +
          s"\n) ENGINE=${m.engine.toUpperCase}"
        frame(Seq("Table", "Create Table"), Seq(Seq(t, ddl)))
      case ShowVariables =>
        frame(Seq("Variable_name", "Value"),
          variables.all.filter(v => likeFilter(v._1)).map(v => Seq(v._1, v._2)))
      case ShowEngines =>
        // reference lists MEMORY/CSV/Rocksdb (show_engines.rs:44); graft's
        // engines are its storage modes on Spark.
        frame(Seq("Engine", "Support", "Comment", "Transactions", "XA", "Savepoints"),
          Seq(
            Seq("PARQUET", "DEFAULT", "Columnar parquet storage, min-max pruned, distributed scan", "NO", "NO", "NO"),
            Seq("SLED", "YES", "Key-value semantics: PK-sorted parquet with row-group point-lookup pruning", "NO", "NO", "NO"),
            Seq("CSV", "YES", "CSV storage engine", "NO", "NO", "NO"),
            Seq("MEMORY", "YES", "In-memory columnar cache over durable files, useful for hot dimension tables", "NO", "NO", "NO")))
      case ShowIndex =>
        val m = catalog.meta(db, t)
        frame(Seq("Table", "Non_unique", "Key_name", "Seq_in_index",
          "Column_name", "Index_type"),
          m.pk.zipWithIndex.map { case (c, i) =>
            Seq(t, "0", "PRIMARY", (i + 1).toString, c, "BTREE")
          } ++ m.uniques.flatMap(u => u.cols.zipWithIndex.map { case (c, i) =>
            Seq(t, "0", u.name, (i + 1).toString, c, "BTREE")
          }))
      case ShowCharset =>
        frame(Seq("Charset", "Description", "Default collation", "Maxlen"),
          Seq(Seq("utf8mb4", "UTF-8 Unicode", "utf8mb4_0900_ai_ci", "4"),
              Seq("binary", "Binary pseudo charset", "binary", "1")))
      case ShowCollation =>
        frame(Seq("Collation", "Charset", "Id", "Default", "Compiled", "Sortlen"),
          Seq(Seq("utf8mb4_0900_ai_ci", "utf8mb4", "255", "Yes", "Yes", "0"),
              Seq("utf8mb4_general_ci", "utf8mb4", "45", "", "Yes", "1"),
              Seq("binary", "binary", "63", "Yes", "Yes", "1")))
      case ShowGrants =>
        // derived from the seeded mysql.user privilege table (initial.rs
        // parity) — declaratively, so privilege edits via plain DML show up
        val privNames = Seq("Select" -> "Select_priv", "Insert" -> "Insert_priv",
          "Update" -> "Update_priv", "Delete" -> "Delete_priv",
          "Create" -> "Create_priv", "Drop" -> "Drop_priv")
        val allY = (privNames.map(_._2) :+ "Super_priv")
          .map(c => col(c) === "Y").reduce(_ && _)
        val privList = array_join(filter(
          array(privNames.map { case (n, c) => when(col(c) === "Y", lit(n)) }: _*),
          x => x.isNotNull), ", ")
        catalog.read("mysql", "user")
          .orderBy(col("User"), col("Host"))
          .select(concat(
            lit("GRANT "),
            when(allY, lit("ALL PRIVILEGES")).otherwise(privList),
            lit(" ON *.* TO '"), col("User"), lit("'@'"), col("Host"), lit("'"),
            when(col("Grant_priv") === "Y", lit(" WITH GRANT OPTION"))
              .otherwise(lit(""))).as("Grants for root@%"))
      case ShowPrivileges =>
        frame(Seq("Privilege", "Context", "Comment"),
          Seq(Seq("Alter", "Tables", "To alter the table"),
              Seq("Create", "Databases,Tables,Indexes", "To create new databases and tables"),
              Seq("Delete", "Tables", "To delete existing rows"),
              Seq("Drop", "Databases,Tables", "To drop databases, tables, and views"),
              Seq("Insert", "Tables", "To insert data into tables"),
              Seq("Select", "Tables", "To retrieve rows from table"),
              Seq("Update", "Tables", "To update existing rows")))
      case ShowTableStatus =>
        // row counts come from parquet footers (Catalog.rowCount) — zero
        // Spark jobs for the common case, not O(#tables) count() scans
        frame(Seq("Name", "Engine", "Version", "Row_format", "Rows", "Comment"),
          catalog.listTables(db).filter(likeFilter).map { t =>
            Seq(t, catalog.meta(db, t).engine.toUpperCase, "10",
              "Dynamic", catalog.rowCount(db, t).toString, "")
          })
      case ShowWarnings =>
        // connectors emit SHOW WARNINGS LIMIT [offset,] count — honor it
        val rows = limit.fold(pendingWarnings.toSeq) { case (off, n) =>
          pendingWarnings.toSeq.slice(off, off + n)
        }
        frame(Seq("Level", "Code", "Message"),
          rows.map { case (l, c, m) => Seq(l, c.toString, m) })
      // SHOW ERRORS: an error is answered to its statement, not kept
      case _ => frame(Seq("Level", "Code", "Message"), Seq.empty)
    }
    where.fold(out)(out.where)
  }

  // ---- query path (select.rs / explain.rs; B7/B10/B12) -------------------

  private val VarRef = "(?i)@@(?:(global|session)\\.)?(\\w+)".r
  private val ConnectionInfoR = "(?i)\\b(database|version|current_user|user)\\(\\)".r
  private val InformationSchemaR =
    "(?i)information_schema\\.(tables|columns|schemata|statistics|table_constraints|key_column_usage|views)".r
  private val GlobalVariablesR = "(?i)performance_schema\\.global_variables".r
  private val SelectVarsR = "(?is)select\\s+(@@[\\w.]+(?:\\s*,\\s*@@[\\w.]+)*)\\s*".r

  /** Resolve a @@var reference honoring its scope prefix: `@@global.x`
    * reads GLOBAL scope only (a session override must not answer it,
    * MySQL semantics); `@@x` and `@@session.x` read the merged view
    * (session values initialize from globals on connect).
    */
  private def varRefValue(scope: String, name: String): Option[String] =
    if (scope != null && scope.equalsIgnoreCase("global")) variables.getGlobal(name)
    else variables.get(name)

  /** Inline a runtime string as a valid SQL literal: \ and ' escaped
    * (Spark's default string-literal mode interprets backslash escapes),
    * so a value containing an apostrophe can neither break the statement
    * nor inject SQL past the closing quote.
    */
  private def sqlQuote(v: String): String =
    "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"

  private def explainAnalyze(r: SqlReader): DataFrame = {
    val mode = r.oneOf("formatted", "verbose")
    val inner = r.rest(nonEmpty = true)
    // reference explain.rs:44 (wired at core/execution.rs:1042):
    // EXPLAIN ANALYZE <stmt> EXECUTES the statement and returns the
    // plan annotated with runtime metrics (DataFusion's "Plan with
    // Metrics" result shape). Spark SQL doesn't parse the ANALYZE
    // flag, so route the child through this session's own query path,
    // execute it distributed (rows discarded at the executors — never
    // collected to the driver), and render the FINAL adaptive physical
    // plan with each node's SQLMetrics values. VERBOSE renders each
    // metric with its unit (timing → ms, size → bytes humanized), so
    // scan/exchange wall times are readable; FORMATTED additionally
    // prepends Spark's formatted explain of the final adaptive plan.
    // Only a relational child may run: DML/DDL would write OUTSIDE
    // graft's dispatch — no seq stamping, no commit protocol, no
    // catalog lock — so it is refused (MySQL 1235), never half-executed
    val childStmt = Statement.classify(inner)
    if (childStmt.verb != Verb.Query)
      throw new SqlError(1235, "42000",
        "EXPLAIN ANALYZE only supports relational statements " +
          "(SELECT/WITH/VALUES/TABLE/EXPLAIN/FROM); DML and DDL would " +
          "execute outside the catalog's commit protocol")
    val child = query(childStmt.text)
    child.queryExecution.toRdd.foreach(_ => ())
    val tree = GraftSession.metricsTree(
      child.queryExecution.executedPlan, verbose = mode.isDefined)
    val formatted = mode.filter(_ == "formatted").map(_ =>
      Seq("Formatted Plan", child.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)))
    frame(Seq("plan_type", "plan"),
      formatted.toSeq :+ Seq("Plan with Metrics", tree))
  }

  /** SELECT / EXPLAIN / WITH / VALUES / TABLE / FROM — Spark SQL with two
    * MySQL-isms rewritten first: `@@variable` references and
    * `information_schema` virtual tables (meta/initial.rs parity, computed
    * on demand from the catalog — O(#tables) driver work, no data scan).
    */
  def query(stmt: String): DataFrame = stmt match {
    case SelectVarsR(vars) =>
      // pure variable select keeps MySQL column naming: `@@version` etc.
      val names = vars.split(',').map(_.trim)
      val row = Row(names.map(n =>
        VarRef.findFirstMatchIn(n).flatMap(m => varRefValue(m.group(1), m.group(2))).orNull): _*)
      spark.createDataFrame(java.util.List.of(row),
        StructType(names.map(n => StructField(n, StringType))))
    case _ =>
      // Every rewrite below matches syntax only (rewriteSyntax), so the
      // same words inside data, a quoted name or a comment are left as
      // written. Time travel (B17 made user-addressable): `FROM t VERSION
      // AS OF n` / `FROM t TIMESTAMP AS OF '<ts>'` resolve the retained
      // rewrite generation through a statement-scoped temp view — Spark
      // SQL has no syntax slot for it. Resolution errors (unknown/reaped
      // version, pre-manifest merge-on-read history) surface here, before
      // any execution; each view gets a session-unique counter name and
      // is dropped after the statement resolves.
      val ttViews = scala.collection.mutable.Buffer[String]()
      try {
      var q = stmt
      if (GraftSession.AsOfProbeR.findFirstIn(q).isDefined)
        q = rewriteSyntax(q, GraftSession.TimeTravelR) { g =>
          val (db, t) = tableOf(g(1))
          val spec = g(3)
          val v =
            if (g(2).equalsIgnoreCase("version")) {
              if (!spec.forall(_.isDigit)) throw new SqlError(1064,
                "42000", s"VERSION AS OF expects a version number, got $spec")
              spec.toInt
            } else {
              if (!(spec.startsWith("'") || spec.startsWith("\""))) throw new SqlError(1064,
                "42000", s"TIMESTAMP AS OF expects a quoted timestamp, got $spec")
              catalog.versionAt(db, t, unquote(spec))
            }
          val view = s"graft_tt_${GraftSession.ttViewCounter.incrementAndGet()}"
          catalog.readVersion(db, t, v).createOrReplaceTempView(view)
          ttViews += view
          s"`$view`"
        }
      var infoSchema = false
      q = rewriteSyntax(q, InformationSchemaR) { g =>
        infoSchema = true
        s"information_schema_${g(1)}"
      }
      if (infoSchema) registerInformationSchema()
      q = rewriteSyntax(q, GlobalVariablesR) { _ =>
        // globalsOnly: a SESSION override must not surface here (MySQL
        // reports the global value regardless of session scope)
        frame(Seq("variable_name", "variable_value"),
          variables.globalsOnly.map(v => Seq(v._1, v._2)))
          .createOrReplaceTempView("performance_schema_global_variables")
        "performance_schema_global_variables"
      }
      // sqlQuote: a SET value containing ' or \ must inline as a valid
      // string literal, not malformed SQL (or worse, injected SQL into
      // the rest of the statement) — same escaping as the wire server's
      // binary-parameter quote()
      q = rewriteSyntax(q, VarRef)(g => sqlQuote(varRefValue(g(1), g(2)).getOrElse("")))
      // MySQL connection-info functions (clients issue these on connect)
      q = rewriteSyntax(q, ConnectionInfoR)(g => g(1).toLowerCase match {
        case "database" => sqlQuote(currentSchema)
        case "version" => sqlQuote(variables.get("version").getOrElse(""))
        case _ => "'root@%'"
      })
      q = substituteUserVars(q)
      // SELECT … INTO OUTFILE 'path' [FIELDS TERMINATED BY 'x'] — the
      // export twin of LOAD DATA INFILE: strip the clause, run the
      // query, write one csv file distributed (coalesce(1) matches
      // MySQL's single-file contract; drop it for sharded exports)
      val r = new SqlReader(q)
      r.seek("into outfile") match {
        case Some(at) =>
          val path = r.string()
          val sep = if (r.optional("fields terminated by")) r.string() else "\t"
          r.end()
          val body = q.substring(0, at)
          checkFileAccess(path) // secure_file_priv gate (error 1290)
          require(!java.nio.file.Files.exists(java.nio.file.Paths.get(path)),
            s"File '$path' already exists") // MySQL error 1086 semantics
          // one execution: count and write read the same materialization
          val df = relational(body)
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          try {
            val n = df.count()
            val tmp = java.nio.file.Files.createTempDirectory("graft-outfile")
            df.coalesce(1).write.mode("overwrite")
              .option("sep", sep)
              .csv(tmp.toString)
            import scala.jdk.CollectionConverters._
            val part = java.nio.file.Files.list(tmp).iterator.asScala
              .find(_.getFileName.toString.startsWith("part-"))
              .getOrElse(sys.error("export produced no data file"))
            java.nio.file.Files.move(part, java.nio.file.Paths.get(path))
            deleteDirTree(tmp)
            count(n)
          } finally df.unpersist()
        case None => relational(q)
      }
      } finally
        // the plan was analyzed (resolved) eagerly above, so the
        // statement's time-travel views are no longer needed; dropping
        // them here keeps the session catalog from accumulating one
        // view per time-travel query. The try also spans RESOLUTION —
        // a statement whose second AS OF reference fails must still
        // drop the first reference's already-registered view
        ttViews.foreach(v => spark.catalog.dropTempView(v))
  }

  /** Spark's parser on relational text, once, under the planning tracker
    * (Bridge.parsedSql). A parsed or analyzed plan that would write — an
    * INSERT or INSERT OVERWRITE DIRECTORY hidden in a WITH or FROM form —
    * or run any command but EXPLAIN is refused before it can execute:
    * writes go through graft's handlers and the commit protocol, never
    * straight to Spark.
    */
  private def relational(text: String): DataFrame =
    Bridge.parsedSql(spark, text) { plan =>
      if (plan.exists {
            case _: ExplainCommand => false
            case _: Command | _: InsertIntoStatement | _: InsertIntoDir => true
            case _ => false
          }) throw SqlError.syntax(text)
    }

  private def registerInformationSchema(): Unit = {
    val tables = (for {
      db <- catalog.listSchemas(); t <- catalog.listTables(db)
    } yield Seq(db, t, "BASE TABLE", catalog.meta(db, t).engine.toUpperCase)) ++
      (for { db <- catalog.listSchemas(); v <- catalog.listViews(db) }
        yield Seq(db, v, "VIEW", null))
    frame(Seq("table_schema", "table_name", "table_type", "engine"), tables)
      .createOrReplaceTempView("information_schema_tables")
    frame(Seq("table_schema", "table_name", "view_definition"),
      for { db <- catalog.listSchemas(); v <- catalog.listViews(db) }
        yield Seq(db, v, catalog.viewSql(db, v)))
      .createOrReplaceTempView("information_schema_views")
    val cols = for {
      db <- catalog.listSchemas(); t <- catalog.listTables(db)
      m = catalog.meta(db, t)
      (c, i) <- m.cols.zipWithIndex
    } yield Seq(db, t, c.name, (i + 1).toString, c.mysqlType.toLowerCase,
      if (m.pk.contains(c.name)) "PRI" else "")
    frame(Seq("table_schema", "table_name", "column_name", "ordinal_position",
      "data_type", "column_key"), cols)
      .createOrReplaceTempView("information_schema_columns")
    // initial.rs parity beyond TABLES/COLUMNS: SCHEMATA, STATISTICS,
    // TABLE_CONSTRAINTS, KEY_COLUMN_USAGE — all computed from the live
    // catalog (PRIMARY keys are the only constraints/indexes graft has)
    frame(Seq("catalog_name", "schema_name", "default_character_set_name",
      "default_collation_name"),
      catalog.listSchemas().map(db =>
        Seq("def", db, "utf8mb4", "utf8mb4_0900_ai_ci")))
      .createOrReplaceTempView("information_schema_schemata")
    val keyedTables = for {
      db <- catalog.listSchemas(); t <- catalog.listTables(db)
      m = catalog.meta(db, t) if m.pk.nonEmpty || m.uniques.nonEmpty
    } yield (db, t, m)
    frame(Seq("constraint_catalog", "constraint_schema", "constraint_name",
      "table_schema", "table_name", "constraint_type"),
      keyedTables.flatMap { case (db, t, m) =>
        (if (m.pk.nonEmpty)
          Seq(Seq("def", db, "PRIMARY", db, t, "PRIMARY KEY")) else Nil) ++
          m.uniques.map(u => Seq("def", db, u.name, db, t, "UNIQUE"))
      })
      .createOrReplaceTempView("information_schema_table_constraints")
    val keyCols = for {
      (db, t, m) <- keyedTables
      (kname, kcols) <- ("PRIMARY" -> m.pk) +: m.uniques.map(u => u.name -> u.cols)
      if kcols.nonEmpty
      (c, i) <- kcols.zipWithIndex
    } yield Seq("def", db, kname, db, t, c, (i + 1).toString)
    frame(Seq("constraint_catalog", "constraint_schema", "constraint_name",
      "table_schema", "table_name", "column_name", "ordinal_position"), keyCols)
      .createOrReplaceTempView("information_schema_key_column_usage")
    frame(Seq("table_schema", "table_name", "non_unique", "index_name",
      "seq_in_index", "column_name"),
      keyCols.map(k => Seq(k(3), k(4), "0", k(2), k(6), k(5))))
      .createOrReplaceTempView("information_schema_statistics")
  }

  // ---- helpers -----------------------------------------------------------

  private def unquote(s: String): String =
    if ((s.startsWith("'") && s.endsWith("'")) ||
        (s.startsWith("\"") && s.endsWith("\""))) s.substring(1, s.length - 1)
    else s

  /** A table name, in the current schema when it names none, as the
    * warehouse spells it (`Catalog.spelled`).
    */
  private def inSchema(name: (Option[String], String)): (String, String) =
    catalog.spelled(name._1.getOrElse(currentSchema), name._2)

  /** The table name the reader reads next, `inSchema`. */
  private def table(r: SqlReader): (String, String) = inSchema(r.table())

  /** `table` over a whole string (the Scala API's table arguments). */
  private def tableOf(name: String): (String, String) = {
    val r = new SqlReader(name)
    val n = table(r)
    r.end()
    n
  }

  /** A database name as the warehouse spells it (`Catalog.spelled`). */
  private def schemaName(db: String): String = catalog.spelled(db, "")._1

  /** A database the statement names, which must exist (MySQL's 1049). */
  private def existingSchema(db: String): String = {
    val stored = schemaName(db)
    if (catalog.schemaExists(stored)) stored
    else throw new SqlError(1049, "42000", s"Unknown database '$db'")
  }

  /** MySQL column type → Spark DDL type. `ARRAY<elem>` is a graft
    * extension past the MySQL surface (MySQL has no array columns): the
    * live dedup-index tables (C17's per-doc shingle/band arrays) are
    * catalog tables like any other, and flattening them to one row per
    * element would break the upsert-replaces-the-whole-doc semantics
    * their maintenance relies on.
    */
  private def sparkDdl(mysqlType: String): String = {
    val t = mysqlType.toLowerCase
    if (t.startsWith("array<") && t.endsWith(">"))
      return s"ARRAY<${sparkDdl(t.stripPrefix("array<").stripSuffix(">"))}>"
    val base = t.takeWhile(c => c != '(')
    base match {
      case "int" | "integer" | "mediumint" => "INT"
      case "bigint"                        => "BIGINT"
      case "smallint"                      => "SMALLINT"
      case "tinyint"                       => "TINYINT"
      case "float"                         => "FLOAT"
      case "double" | "real"               => "DOUBLE"
      case "decimal" | "numeric"           =>
        if (t.contains('(')) "DECIMAL" + t.dropWhile(_ != '(') else "DECIMAL(10,0)"
      case "char" | "varchar" | "text" | "tinytext" | "mediumtext" |
           "longtext" | "string"           => "STRING"
      case "date"                          => "DATE"
      case "datetime" | "timestamp"        => "TIMESTAMP"
      case "boolean" | "bool"              => "BOOLEAN"
      case "blob" | "binary" | "varbinary" | "longblob" => "BINARY"
      case other => sys.error(s"Unsupported column type '$other'")
    }
  }

  /** The DML/DDL FinalCount frame. The column carries metadata marking
    * it as a graft-issued count, so protocol front-ends can distinguish
    * it from a user SELECT that merely aliases a column
    * `affected_rows` (shape alone is not a safe signal).
    */
  private def count(n: Long): DataFrame =
    spark.createDataFrame(java.util.List.of(Row(n)),
      StructType(Seq(StructField("affected_rows", LongType,
        nullable = true, new org.apache.spark.sql.types.MetadataBuilder()
          .putBoolean(GraftSession.DmlCountTag, true).build()))))

  private def frame(names: Seq[String], rows: Seq[Seq[Any]]): DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(
      rows.map(r => Row(r: _*)).asJava,
      StructType(names.map(n => StructField(n, StringType))))
  }
}

object GraftSession {
  /** Column-metadata key marking a frame as a graft DML/DDL FinalCount. */
  val DmlCountTag = "graft_dml_count"

  /** graft's numeric system variables: how each parses, its least
    * value, and why that is the least.
    */
  private val NumericVariables: Map[String, (String => Option[Double], Double, String)] = Map(
    "graft_retain_versions" ->
      (((s: String) => s.toIntOption.map(_.toDouble), 1.0, " (the in-flight snapshot grace)")),
    "graft_auto_compact_min_tombstones" ->
      (((s: String) => s.toLongOption.map(_.toDouble), 0.0, "")),
    "graft_auto_compact_ratio" -> (((s: String) => s.toDoubleOption, 0.0, "")))

  /** What a keyed write does with a row whose key is already taken, by
    * the table or by an earlier row of its batch: INSERT answers 1062
    * (`Error`), INSERT IGNORE skips the row (`Ignore`) and REPLACE
    * displaces the rows holding the key (`Replace`). LOAD DATA takes the
    * same three.
    */
  sealed trait OnDuplicate
  object OnDuplicate {
    case object Error extends OnDuplicate
    case object Ignore extends OnDuplicate
    case object Replace extends OnDuplicate
  }

  /** One LOAD DATA statement, read: the file, the duplicate-key mode,
    * the table (database when named), the CSV options, the lines to
    * skip, the listed columns (None: all, in table order) and the SET
    * assignments (column, expression text).
    */
  final case class Load(file: String, onDup: OnDuplicate, table: (Option[String], String),
                        sep: String, quote: String, escape: String, skip: Long,
                        cols: Option[Seq[String]], sets: Seq[(String, String)])

  /** Read LOAD DATA [LOCAL] INFILE 'file' [REPLACE|IGNORE] INTO TABLE t,
    * then its clauses in MySQL's order: CHARACTER SET (utf8 family),
    * FIELDS|COLUMNS [TERMINATED BY] [[OPTIONALLY] ENCLOSED BY] [ESCAPED
    * BY], LINES [STARTING BY ''] [TERMINATED BY '\n'|'\r\n'], IGNORE n
    * LINES|ROWS, a column list, SET col = expr, …. A clause the
    * distributed reader cannot honour, and anything unrecognized, is
    * 1149 — a column list or SET clause must never silently no-op into a
    * misload. The wire server reads the file name of LOCAL INFILE here
    * before it asks the client for the content.
    */
  def parseLoad(text: String): Load = {
    val r = new SqlReader(text)
    if (!r.optional("load data local infile")) r.keyword("load data infile")
    val file = r.string()
    val onDup = r.oneOf("replace", "ignore").fold[OnDuplicate](OnDuplicate.Error) {
      case "replace" => OnDuplicate.Replace
      case _ => OnDuplicate.Ignore
    }
    r.keyword("into table")
    val table = r.table()
    val c = new SqlReader(r.rest(), 1149)
    // MySQL string-literal escapes inside TERMINATED/ENCLOSED BY
    def str(): String = {
      val b = new StringBuilder
      val it = c.string().iterator
      for (ch <- it) b += (if (ch != '\\' || !it.hasNext) ch else it.next() match {
        case 't' => '\t'; case 'n' => '\n'; case 'r' => '\r'; case o => o })
      b.toString
    }
    // a value the distributed reader cannot honour fails where it starts
    def honoured[A](read: => A)(ok: A => Boolean): Unit = {
      val at = c.mark
      if (!ok(read)) c.fail(at)
    }
    // the distributed reader is UTF-8; other charsets would misread
    if (c.optional("character set"))
      honoured(c.token())(Set("utf8", "utf8mb4", "binary"))
    var sep = "\t"; var quote = "\""; var escape = "\\" // MySQL defaults
    if (c.oneOf("fields", "columns").isDefined) {
      if (c.optional("terminated by")) sep = str()
      c.optional("optionally")
      if (c.optional("enclosed by")) quote = str()
      if (c.optional("escaped by")) escape = str()
    }
    if (c.optional("lines")) {
      if (c.optional("starting by")) honoured(str())(_.isEmpty)
      if (c.optional("terminated by")) honoured(str())(Set("\n", "\r\n"))
    }
    val skip = if (!c.optional("ignore")) 0L else {
      val n = c.number()
      if (c.oneOf("lines", "rows").isEmpty) c.fail()
      n
    }
    val cols = if (c.peek == "(") Some(c.list(c.ident())) else None
    val sets = if (!c.optional("set")) Nil
      else c.items { val col = c.ident(); c.keyword("="); col -> c.raw() }
    c.end()
    Load(file, onDup, table, sep, quote, escape, skip, cols, sets)
  }

  /** Cheap pre-probe before the masking pass runs at all. */
  private[engine] val AsOfProbeR = "(?i)(version|timestamp)\\s+as\\s+of".r

  /** `<table> (VERSION|TIMESTAMP) AS OF <n | 'ts'>` — the time-travel
    * table reference, matched against the MASKED statement (so group 3's
    * quoted timestamp body appears as mask chars; callers read the real
    * text from the original string via the match positions).
    */
  private[engine] val TimeTravelR =
    ("(?i)([`\\w.]+)\\s+(version|timestamp)\\s+as\\s+of\\s+" +
      "(\\d+|'[^']*'|\"[^\"]*\")").r

  /** Statement-scoped time-travel view names: a session-wide counter
    * makes every registration unique — no separator-ambiguity collisions
    * between (db, table) pairs and no clash with user temp views.
    */
  private[engine] val ttViewCounter = new java.util.concurrent.atomic.AtomicLong

  /** Executed-plan tree with per-node SQLMetrics values — the EXPLAIN
    * ANALYZE rendering. Adaptive wrappers are unwrapped to the plan
    * that actually ran (the caller executes before rendering, so the
    * adaptive plan is final and every metric is populated).
    */
  private[graft] def metricsTree(
      p: org.apache.spark.sql.execution.SparkPlan, depth: Int = 0,
      verbose: Boolean = false): String = {
    val inner = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        Some(a.executedPlan)
      case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        Some(s.plan)
      case _ => None
    }
    // E9 visibility: a scan planned through a SkippingFileIndex reports
    // how many files the sidecars pruned before tasks existed — numFiles
    // alone only shows the post-prune count, which reads as "small
    // table" rather than "skipping worked"
    val extra = p match {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.relation.location match {
          case s: org.apache.spark.sql.graft.SkippingFileIndex =>
            Seq(s"filesPrunedBySkipping=${s.lastPruned}")
          case _ => Nil
        }
      case _ => Nil
    }
    val ms = (p.metrics.toSeq.sortBy(_._1)
      .map { case (k, m) =>
        if (verbose) s"$k=${renderMetric(m.metricType, m.value)}"
        else s"$k=${m.value}"
      } ++ extra).mkString(", ")
    val line = ("  " * depth) + p.nodeName + (if (ms.isEmpty) "" else s" [$ms]")
    val kids = inner.map(Seq(_)).getOrElse(p.children)
    (line +: kids.map(c => metricsTree(c, depth + 1, verbose))).mkString("\n")
  }

  /** One SQLMetric value with its unit — how the UI reads it, not the
    * raw accumulator: Spark stores `timing` in milliseconds, `nsTiming`
    * in nanoseconds, `size` in bytes. This is what makes scan/exchange
    * wall times legible in EXPLAIN ANALYZE VERBOSE/FORMATTED output.
    */
  private[graft] def renderMetric(metricType: String, v: Long): String =
    metricType match {
      case "timing" => s"$v ms"
      case "nsTiming" => f"${v / 1e6}%.1f ms"
      case "size" =>
        if (v >= (1L << 30)) f"${v / 1073741824d}%.1f GiB"
        else if (v >= (1L << 20)) f"${v / 1048576d}%.1f MiB"
        else if (v >= (1L << 10)) f"${v / 1024d}%.1f KiB"
        else s"$v B"
      case _ => v.toString
    }
}
