package graft.server

import java.io.{BufferedOutputStream, DataInputStream}
import java.net.{ServerSocket, Socket, SocketException}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.StructType

import graft.engine.{GraftSession, SqlError, SqlText, Statement, Verb}

/** MySQL wire-protocol front-end over GraftSession — the reference
  * server's client surface (/root/reference/src/mysql/handle.rs:1,
  * main.rs:36), re-expressed as a thread-per-connection blocking server:
  * a real `mysql -h host -P port` style client can handshake, switch
  * schemas, run queries, list fields, and use binary prepared
  * statements.
  *
  * Concurrency model: each connection gets its own `spark.newSession()`
  * (isolated current-database / temp-view state, shared external catalog
  * and cache — Spark's intended multi-session pattern) wrapped in its
  * own GraftSession. The accept loop and handlers are plain threads: the
  * protocol front-end is control-plane work; all data-plane computation
  * stays inside Spark jobs.
  *
  * Result streaming: every answer the server reads from Spark — result
  * sets, FinalCount frames, COM_FIELD_LIST, the LOAD DATA LOCAL count
  * and the mysql.user lookup — comes through one drain, `Bridge.rows`.
  * It runs one Spark job per result partition, in partition order, as
  * the socket asks for rows, so the server holds one partition at a
  * time and never a whole result set. Each job's task function is a
  * named class and each row is converted by one interpreted converter
  * built per statement, so a point lookup pays no closure cleaning and
  * no generated row decoder; an answer Spark already holds in memory (a
  * count frame, a SHOW) is sent without a job. (A wire server is the one
  * legitimate place rows must cross the driver: the socket is here. At
  * cluster scale you'd bound result sizes with LIMIT, as every MySQL
  * front-end to an OLAP engine does.)
  *
  * Protocol notes vs the reference: framing honors the 3-byte length
  * header (handle.rs assumes one read == one packet); COM_STMT_EXECUTE
  * answers with BINARY result-set rows as the protocol requires — the
  * reference sends text rows for every result set (handle.rs
  * send_message uses row_message — a known simplification that breaks
  * real binary-protocol clients; we exceed it); COM_PING is answered OK
  * (the reference drops the connection); COM_CHANGE_USER resets the
  * connection's session state and re-answers the auth switch.
  */
final class MysqlServer(spark: SparkSession, warehouse: String,
                        port: Int = 0, idleTimeoutMs: Int = 0,
                        secureFilePriv: Option[String] = None,
                        bindHost: Option[String] = None) {

  // bind_host parity (reference config.toml server.bind_host): a
  // concrete host binds that interface only; "0.0.0.0"/absent binds all
  private val listener = bindHost match {
    case Some(h) if h.nonEmpty && h != "0.0.0.0" =>
      new ServerSocket(port, 50, java.net.InetAddress.getByName(h))
    case _ => new ServerSocket(port)
  }
  // LOAD DATA INFILE / SELECT INTO OUTFILE sandbox for network clients
  // (MySQL --secure-file-priv): defaults to a dir inside the warehouse;
  // pass Some("") to explicitly disable the gate.
  private val filePrivRoot: String = secureFilePriv.getOrElse {
    val d = java.nio.file.Paths.get(warehouse, ".mysql-files")
    java.nio.file.Files.createDirectories(d)
    d.toString
  }
  private val running = new AtomicBoolean(false)
  private val connIds = new AtomicInteger(0)
  @volatile private var acceptThread: Thread = _

  /** Live connections (id → socket + state): the process list, and the
    * KILL target registry (reference: ebike keeps no registry — KILL and
    * PROCESSLIST are part of the real server surface it lacks).
    */
  private case class Conn(socket: Socket, startedAt: Long,
                          @volatile var session: GraftSession)
  private val conns =
    new java.util.concurrent.ConcurrentHashMap[Int, Conn]

  /** The bound port (useful when constructed with port 0 for tests). */
  def boundPort: Int = listener.getLocalPort

  def start(): MysqlServer = {
    running.set(true)
    acceptThread = new Thread(() => {
      while (running.get()) {
        try {
          val socket = listener.accept()
          val id = connIds.incrementAndGet()
          val t = new Thread(() => handle(socket, id), s"graft-mysql-conn-$id")
          t.setDaemon(true)
          t.start()
        } catch {
          case _: SocketException => // listener closed
          case NonFatal(e) => if (running.get())
            System.err.println(s"[graft-mysql] accept error: ${e.getMessage}")
        }
      }
    }, "graft-mysql-accept")
    acceptThread.setDaemon(true)
    acceptThread.start()
    this
  }

  def stop(): Unit = {
    running.set(false)
    listener.close()
  }

  // ---- per-connection protocol loop ---------------------------------------

  private def handle(socket: Socket, connId: Int): Unit = {
    // wait_timeout semantics: a connection idle past the limit is closed
    // (the blocking read throws SocketTimeoutException)
    if (idleTimeoutMs > 0) socket.setSoTimeout(idleTimeoutMs)
    val io = new PacketIO(
      new DataInputStream(socket.getInputStream),
      new BufferedOutputStream(socket.getOutputStream, 1 << 16))
    val conn = Conn(socket, System.currentTimeMillis(),
      new GraftSession(spark.newSession(), warehouse, filePrivRoot))
    conns.put(connId, conn)
    def session = conn.session
    // prepared statements of THIS connection (statement.rs StmtContext)
    val stmts = mutable.Map.empty[Int, String]
    val stmtIds = new AtomicInteger(0)
    // COM_STMT_SEND_LONG_DATA accumulators: (stmtId, paramIdx) → chunks
    val longData =
      mutable.Map.empty[(Int, Int), java.io.ByteArrayOutputStream]
    // param types from the statement's FIRST execute: real clients send
    // new-params-bound=0 with NO type block on every later execute
    val stmtTypes = mutable.Map.empty[Int, Array[Int]]
    try {
      // handshake → client response → auth switch → auth data → OK/ERR.
      // The auth-switch salt supersedes the handshake's, so the scramble
      // check runs against Messages.authSwitchSalt (the reference's
      // handle.rs accepts any credentials; verifying the native-password
      // scramble against the seeded mysql.user exceeds it honestly).
      io.write(Messages.handshake(connId))
      val login = io.read()
      if (login == null) return
      val user = loginUser(login)
      // the negotiated capability set is the client's response flags —
      // CLIENT_DEPRECATE_EOF (1<<24, round 14) switches every result-set
      // terminator from bare EOF to the OK-with-EOF-header form modern
      // drivers expect; legacy clients that leave the bit clear keep the
      // pre-5.7 framing. Per-connection, decided once at handshake.
      val deprecateEof = login.length >= 4 && (leU32(login, 0) & (1L << 24)) != 0
      io.write(Messages.authSwitch())
      val authData = io.read()
      if (authData == null) return
      if (!authenticate(session, user, authData)) {
        io.write(Messages.err(1045, "28000",
          s"Access denied for user '$user'@'${socket.getInetAddress
            .getHostAddress}' (using password: ${
            if (authData.nonEmpty && !(authData.length == 1 && authData(0) == 0))
              "YES" else "NO"})"))
        return
      }
      io.write(Messages.ok(0, 0, "success"))

      var open = true
      while (open) {
        io.resetSeq()
        val packet = io.read()
        if (packet == null || packet.isEmpty) open = false
        else packet(0) & 0xff match {
          case 0x01 => open = false // COM_QUIT
          case 0x0e => io.write(Messages.ok(0)) // COM_PING
          case 0x02 => // COM_INIT_DB
            val db = new String(packet, 1, packet.length - 1, "UTF-8").trim
            run(io, session, Statement.classify(s"use $db"),
              deprecateEof = deprecateEof)
          case 0x0c => // COM_PROCESS_KILL
            if (packet.length >= 5) kill(io, leU32(packet, 1).toInt)
            else io.write(Messages.err(1064, "42000", "malformed KILL"))
          case 0x03 => // COM_QUERY — KILL and SHOW PROCESSLIST are
            // server-scope (they act on the connection registry), so they
            // are answered here, not by the per-connection session.
            // CLIENT_MULTI_STATEMENTS: the payload may hold several
            // ';'-separated statements (quote- and comment-aware split) —
            // each result but the last carries SERVER_MORE_RESULTS_EXISTS,
            // and an error aborts the remainder (MySQL multi-statement rules).
            val sql = new String(packet, 1, packet.length - 1, "UTF-8")
            val statements = Statement.split(sql) match {
              case Seq() => Seq(Statement.classify(sql)) // empty-query ERR
              case ss    => ss
            }
            var i = 0
            var aborted = false
            while (i < statements.length && !aborted) {
              val st = statements(i)
              val more = i < statements.length - 1
              aborted = !(st.verb match {
                case Verb.Kill => st.text match {
                  // ids past Int range can't name a live connection; a
                  // parse overflow must answer ERR, not unwind the CALLER
                  case KillR(id) => kill(io, id.toLongOption
                    .filter(_.isValidInt).map(_.toInt).getOrElse(-1), more)
                  case _ => writeError(io, SqlError.syntax(st.text)); false
                }
                case Verb.ShowProcessList =>
                  writeProcessList(io, connId, more, deprecateEof); true
                case Verb.LoadDataLocal => runLocalInfile(io, session, st, more)
                case _ => run(io, session, st, more = more,
                  deprecateEof = deprecateEof)
              })
              i += 1
            }
          case 0x04 => // COM_FIELD_LIST
            val table = new String(packet, 1, packet.length - 1, "UTF-8")
              .takeWhile(_ != '\u0000').trim
            try {
              Bridge.rows(session.fieldList(table)).forEachRemaining { row =>
                io.write(Messages.columnDef("", table,
                  row.getString(0), fieldType(row.getString(1)),
                  nullable = true))
              }
              io.write(if (deprecateEof) Messages.okEof()
                       else Messages.eof())
            } catch { case NonFatal(e) => writeError(io, e) }
          case 0x16 => // COM_STMT_PREPARE
            val sql = new String(packet, 1, packet.length - 1, "UTF-8")
            val id = stmtIds.incrementAndGet()
            stmts(id) = sql
            val nParams = SqlText.countPlaceholders(sql)
            io.write(Messages.stmtPrepareOk(id, 0, nParams))
            if (nParams > 0) {
              (1 to nParams).foreach { i =>
                io.write(Messages.columnDef("", "", s"?$i",
                  org.apache.spark.sql.types.StringType, nullable = true))
              }
              // DEPRECATE_EOF: no terminator after the parameter defs
              if (!deprecateEof) io.write(Messages.eof())
            }
          case 0x18 => // COM_STMT_SEND_LONG_DATA — no response by protocol
            if (packet.length >= 7) {
              val key = (leU32(packet, 1).toInt, leU16(packet, 5))
              longData.getOrElseUpdate(key,
                new java.io.ByteArrayOutputStream())
                .write(packet, 7, packet.length - 7)
            }
          case 0x17 => // COM_STMT_EXECUTE
            try {
              val (stmtId, args) = decodeStmtExecute(packet,
                id => SqlText.countPlaceholders(stmts.getOrElse(id,
                  sys.error(s"Unknown prepared statement id $id"))),
                (id, p) => longData.get((id, p)).map(_.toByteArray),
                stmtTypes.get, (id, ts) => stmtTypes(id) = ts)
              val template = stmts(stmtId)
              run(io, session,
                Statement.classify(SqlText.bindPlaceholders(template, args)),
                binary = true, deprecateEof = deprecateEof)
            } catch { case NonFatal(e) => writeError(io, e) }
          case 0x19 => // COM_STMT_CLOSE — no response by protocol
            if (packet.length >= 5) {
              val id = leU32(packet, 1).toInt
              stmts.remove(id)
              stmtTypes.remove(id)
              longData.filterInPlace { case ((sid, _), _) => sid != id }
            }
          case 0x1a => // COM_STMT_RESET — discards accumulated long data
            if (packet.length >= 5) {
              val id = leU32(packet, 1).toInt
              longData.filterInPlace { case ((sid, _), _) => sid != id }
            }
            io.write(Messages.ok(0))
          case 0x11 => // COM_CHANGE_USER: re-authenticate (auth switch +
            // scramble check, same as the connection handshake), then
            // fresh session state on the same connection
            val cuEnd0 = {
              var j = 1
              while (j < packet.length && packet(j) != 0) j += 1
              j
            }
            val cuUser =
              new String(packet, 1, cuEnd0 - 1, "UTF-8").trim
            io.write(Messages.authSwitch())
            val cuAuth = io.read()
            if (cuAuth == null) open = false
            else if (!authenticate(session, cuUser, cuAuth))
              io.write(Messages.err(1045, "28000",
                s"Access denied for user '$cuUser'@'${socket.getInetAddress
                  .getHostAddress}' (using password: ${
                  if (cuAuth.nonEmpty && !(cuAuth.length == 1 && cuAuth(0) == 0))
                    "YES" else "NO"})"))
            else {
              stmts.clear()
              stmtTypes.clear()
              longData.clear()
              conn.session =
                new GraftSession(spark.newSession(), warehouse, filePrivRoot)
              io.write(Messages.ok(0))
            }
          case other =>
            io.write(Messages.err(1047, "08S01",
              s"Unknown command: 0x${other.toHexString}"))
        }
      }
    } catch {
      case _: SocketException => // client went away (or was KILLed)
      case _: java.net.SocketTimeoutException => // idle past wait_timeout
      case NonFatal(e) =>
        System.err.println(s"[graft-mysql] conn $connId: ${e.getMessage}")
    } finally {
      conns.remove(connId)
      socket.close()
    }
  }

  private val KillR = "(?is)kill\\s+(?:query\\s+|connection\\s+)?(\\d+)".r

  /** KILL <id>: close the target's socket — its blocking read fails and
    * the handler unwinds (MySQL CONNECTION-kill semantics; a QUERY kill
    * maps to the same thing since results stream incrementally).
    */
  private def kill(io: PacketIO, targetId: Int, more: Boolean = false): Boolean =
    Option(conns.get(targetId)) match {
      case Some(c) =>
        try c.socket.close() catch { case NonFatal(_) => }
        io.write(Messages.ok(0, moreResults = more))
        true
      case None =>
        io.write(Messages.err(1094, "HY000", s"Unknown thread id: $targetId"))
        false
    }

  /** SHOW PROCESSLIST from the live registry (MySQL's column set). */
  private def writeProcessList(io: PacketIO, selfId: Int,
                               more: Boolean = false,
                               deprecateEof: Boolean = false): Unit = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("Id", LongType, nullable = false),
      StructField("User", StringType), StructField("Host", StringType),
      StructField("db", StringType), StructField("Command", StringType),
      StructField("Time", LongType, nullable = false),
      StructField("State", StringType), StructField("Info", StringType)))
    val now = System.currentTimeMillis()
    import scala.jdk.CollectionConverters._
    val rows = conns.entrySet().iterator().asScala.map { e =>
      val c = e.getValue
      Row(e.getKey.toLong, "root",
        s"${c.socket.getInetAddress.getHostAddress}:${c.socket.getPort}",
        c.session.database, if (e.getKey == selfId) "Query" else "Sleep",
        (now - c.startedAt) / 1000, "", null)
    }
    writeResultSet(io, schema, rows.asJava, more = more, deprecateEof = deprecateEof)
  }

  /** LOAD DATA LOCAL INFILE wire exchange: answer the statement with a
    * 0xFB request carrying the filename, read the client's content
    * packets until the empty terminator, execute the load over the
    * received bytes, and reply OK with the affected-rows count. The
    * content is ALWAYS drained fully before executing (or failing), so
    * the connection stays framed even when the load errors; a client
    * that cannot open its file sends the empty packet immediately and
    * gets an OK for the 0-row load. A connection lost mid-stream (null
    * read before the terminator) aborts WITHOUT executing — a truncated
    * prefix must never commit. The statement is read once, by
    * `GraftSession.parseLoad`, before the request: a malformed one is
    * answered with its error and no file is asked for.
    */
  private def runLocalInfile(io: PacketIO, session: GraftSession,
                             st: Statement, more: Boolean): Boolean = {
    val load =
      try GraftSession.parseLoad(st.text)
      catch { case NonFatal(e) => writeError(io, e); return false }
    io.write(Messages.localInfileRequest(load.file))
    val content = new java.io.ByteArrayOutputStream()
    var p = io.read()
    while (p != null && p.nonEmpty) { content.write(p); p = io.read() }
    // connection lost BEFORE the empty terminator: abort — a truncated
    // stream (torn final line included) must never commit as a load
    if (p == null) return false
    try {
      io.write(Messages.ok(affected(session.loadDataLocal(load, content.toByteArray)),
        moreResults = more))
      true
    } catch { case NonFatal(e) => writeError(io, e); false }
  }

  /** Execute one statement and answer with an OK (DDL/DML FinalCount
    * shape: a single `affected_rows` column) or a text result set.
    * Returns false when the statement errored (the ERR packet is
    * written here; a multi-statement batch must then abort).
    */
  private def run(io: PacketIO, session: GraftSession, st: Statement,
                  binary: Boolean = false, more: Boolean = false,
                  deprecateEof: Boolean = false): Boolean =
    try {
      val df = session.sql(st)
      if (isFinalCount(df)) io.write(Messages.ok(affected(df), moreResults = more))
      else writeResultSet(io, df.schema, Bridge.rows(df), binary, more, deprecateEof)
      true
    } catch { case NonFatal(e) => writeError(io, e); false }

  /** The affected-rows count a FinalCount frame carries (0 when empty). */
  private def affected(df: DataFrame): Long = {
    val n = Bridge.rows(df)
    if (n.hasNext) n.next().getLong(0) else 0L
  }

  /** DDL/DML statements come back as the reference's FinalCount frame,
    * identified by GraftSession's column-metadata tag — NOT by shape, so
    * a user SELECT aliased `affected_rows` still gets its result set.
    */
  private def isFinalCount(df: DataFrame): Boolean = {
    val f = df.schema.fields
    f.length == 1 && f(0).metadata.contains(GraftSession.DmlCountTag)
  }

  private def writeResultSet(io: PacketIO, schema: StructType,
                             rows: java.util.Iterator[Row],
                             binary: Boolean = false,
                             more: Boolean = false,
                             deprecateEof: Boolean = false): Unit = {
    io.write(Messages.columnCount(schema.length))
    schema.fields.foreach { f =>
      io.write(Messages.columnDef("", "", f.name, f.dataType, f.nullable))
    }
    // DEPRECATE_EOF framing: no separator after column definitions, rows
    // terminated by an OK with the EOF header; legacy framing otherwise
    if (!deprecateEof) io.write(Messages.eof())
    rows.forEachRemaining(row =>
      io.write(if (binary) Messages.binaryRow(row, schema)
               else Messages.textRow(row)))
    // only the TERMINATING packet advertises more results
    io.write(if (deprecateEof) Messages.okEof(moreResults = more)
             else Messages.eof(moreResults = more))
  }

  private def writeError(io: PacketIO, e: Throwable): Unit = {
    val msg = Option(e.getMessage).getOrElse(e.toString)
      .linesIterator.toSeq.headOption.getOrElse("unknown error")
    e match {
      // typed SQL errors carry their MySQL code/SQLSTATE to the wire
      // (duplicate-entry 1062/23000 etc. — insert.rs:203 parity)
      case se: SqlError =>
        io.write(Messages.err(se.code, se.sqlState, msg))
      case _ => io.write(Messages.err(1105, "HY000", msg))
    }
  }

  // ---- mysql_native_password authentication -------------------------------

  /** Username from a HandshakeResponse41: capabilities(4) + max-packet(4)
    * + charset(1) + 23 reserved bytes, then the NUL-terminated user. A
    * packet too short to carry one yields "" (unknown → access denied).
    */
  private def loginUser(packet: Array[Byte]): String = {
    if (packet.length <= 32) return ""
    var end = 32
    while (end < packet.length && packet(end) != 0) end += 1
    new String(packet, 32, end - 32, "UTF-8")
  }

  /** Verify the auth-switch scramble response against the seeded
    * mysql.user privilege table (Catalog seeds root@'%' passwordless).
    * authentication_string holds '*' + hex SHA1(SHA1(password)) — the
    * mysql_native_password storage format; empty/NULL means a
    * passwordless account, which accepts only an EMPTY response (a
    * client that sent a scramble typed a password the account lacks).
    * The lookup is a bounded privilege-table read on the control plane
    * (rows = number of accounts), not a data-plane scan.
    */
  private def authenticate(session: GraftSession, user: String,
                           response: Array[Byte]): Boolean = {
    val stored: Option[String] =
      try {
        val users = session.catalog.read("mysql", "user")
        val hasCol = users.schema.fieldNames.contains("authentication_string")
        val found = Bridge.rows(
          users.filter(org.apache.spark.sql.functions.col("User") === user))
        Option.when(found.hasNext)(found.next()).map { r =>
            if (!hasCol) "" // warehouse seeded before the column existed
            else {
              val i = r.fieldIndex("authentication_string")
              if (r.isNullAt(i)) "" else r.getString(i)
            }
          }
      } catch { case NonFatal(_) => None }
    val noPassword =
      response.isEmpty || (response.length == 1 && response(0) == 0)
    stored match {
      case None       => false // unknown user
      case Some("")   => noPassword
      case Some(hash) => nativePasswordOk(hash, response)
    }
  }

  /** mysql_native_password check: the client sends
    * SHA1(pwd) XOR SHA1(salt + SHA1(SHA1(pwd))); we store
    * SHA1(SHA1(pwd)), so XOR-ing the mask back out recovers SHA1(pwd)
    * and one more SHA1 must reproduce the stored digest exactly.
    */
  private def nativePasswordOk(storedHex: String,
                               response: Array[Byte]): Boolean = {
    val hex = storedHex.stripPrefix("*")
    if (response.length != 20 || hex.length != 40) return false
    val stored =
      try hex.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
      catch { case _: NumberFormatException => return false }
    val md = java.security.MessageDigest.getInstance("SHA-1")
    md.update(Messages.authSwitchSalt)
    md.update(stored)
    val mask = md.digest()
    val sha1Pwd = new Array[Byte](20)
    var i = 0
    while (i < 20) { sha1Pwd(i) = (response(i) ^ mask(i)).toByte; i += 1 }
    java.security.MessageDigest.isEqual(
      java.security.MessageDigest.getInstance("SHA-1").digest(sha1Pwd),
      stored)
  }

  /** SHOW COLUMNS `Type` strings → wire type code input. */
  private def fieldType(mysqlType: String): org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    mysqlType.toLowerCase.takeWhile(_ != '(') match {
      case "tinyint"            => ByteType
      case "smallint"           => ShortType
      case "int" | "integer"    => IntegerType
      case "bigint"             => LongType
      case "float"              => FloatType
      case "double"             => DoubleType
      case "decimal"            => DecimalType(18, 4)
      case "date"               => DateType
      case "datetime" | "timestamp" => TimestampType
      case _                    => StringType
    }
  }

  // ---- COM_STMT_EXECUTE binary decoding -----------------------------------

  private def leU16(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8)

  private def leU32(b: Array[Byte], off: Int): Long =
    (b(off) & 0xffL) | ((b(off + 1) & 0xffL) << 8) |
      ((b(off + 2) & 0xffL) << 16) | ((b(off + 3) & 0xffL) << 24)

  private def leU64(b: Array[Byte], off: Int): Long = {
    var v = 0L; var i = 0
    while (i < 8) { v |= (b(off + i) & 0xffL) << (8 * i); i += 1 }
    v
  }

  /** Decode a COM_STMT_EXECUTE packet (execution.rs com_stmt_execute):
    * stmt id, flags, iteration count, null bitmap, parameter types,
    * binary values — returned as SQL literal text for placeholder
    * binding. A parameter that received COM_STMT_SEND_LONG_DATA chunks
    * (`longOf`) carries NO inline value; its accumulated bytes bind as
    * a string literal.
    */
  private def decodeStmtExecute(packet: Array[Byte],
                                nParamsOf: Int => Int,
                                longOf: (Int, Int) => Option[Array[Byte]] =
                                  (_, _) => None,
                                typesOf: Int => Option[Array[Int]] =
                                  _ => None,
                                rememberTypes: (Int, Array[Int]) => Unit =
                                  (_, _) => ()): (Int, Seq[String]) = {
    var pos = 1
    val stmtId = leU32(packet, pos).toInt; pos += 4
    pos += 1 // cursor flags
    pos += 4 // iteration count, always 1
    val nParams = nParamsOf(stmtId)
    if (nParams == 0) return (stmtId, Seq.empty)

    val nullBitmap = new Array[Byte]((nParams + 7) / 8)
    System.arraycopy(packet, pos, nullBitmap, 0, nullBitmap.length)
    pos += nullBitmap.length
    val newParamsBound = packet(pos); pos += 1
    // new-params-bound == 0: no type block in this packet; the types
    // from the statement's first execute apply (libmysqlclient and
    // Connector/J both re-execute this way)
    val types =
      if (newParamsBound == 0x01) {
        val ts = new Array[Int](nParams)
        (0 until nParams).foreach { i => ts(i) = leU16(packet, pos); pos += 2 }
        rememberTypes(stmtId, ts)
        ts
      } else typesOf(stmtId).getOrElse(sys.error(
        s"COM_STMT_EXECUTE without types for statement $stmtId that never sent them"))

    // valid UTF-8 binds as a string literal; anything else as a hex
    // literal X'..' — new String(bytes,"UTF-8") would silently replace
    // invalid sequences with U+FFFD, corrupting blob parameters
    def quote(bytes: Array[Byte]): String =
      try {
        val s = java.nio.charset.StandardCharsets.UTF_8.newDecoder()
          .decode(java.nio.ByteBuffer.wrap(bytes)).toString
        "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"
      } catch {
        case _: java.nio.charset.CharacterCodingException =>
          bytes.map(b => f"${b & 0xff}%02X").mkString("X'", "", "'")
      }
    val args = (0 until nParams).map { i =>
      if ((nullBitmap(i / 8) & (1 << (i % 8))) != 0) "NULL"
      else longOf(stmtId, i) match {
        case Some(bytes) => quote(bytes)
        case None =>
        val t = types(i) & 0xff
        t match {
          case 0x01 => val v = packet(pos).toLong; pos += 1; v.toString
          case 0x02 => val v = leU16(packet, pos).toShort.toLong; pos += 2; v.toString
          case 0x03 => val v = leU32(packet, pos).toInt.toLong; pos += 4; v.toString
          case 0x08 => val v = leU64(packet, pos); pos += 8; v.toString
          case 0x04 =>
            val v = java.lang.Float.intBitsToFloat(leU32(packet, pos).toInt)
            pos += 4; v.toString
          case 0x05 =>
            val v = java.lang.Double.longBitsToDouble(leU64(packet, pos))
            pos += 8; v.toString
          case 0x06 => "NULL"
          case _ => // VARCHAR/VAR_STRING/STRING/BLOB/DECIMAL: lenc bytes
            val (len, lenSize) = readLencInt(packet, pos)
            pos += lenSize
            val bytes = new Array[Byte](len.toInt)
            System.arraycopy(packet, pos, bytes, 0, len.toInt)
            pos += len.toInt
            quote(bytes)
        }
      }
    }
    (stmtId, args)
  }

  private def readLencInt(b: Array[Byte], off: Int): (Long, Int) =
    (b(off) & 0xff) match {
      case 0xfc => (leU16(b, off + 1).toLong, 3)
      case 0xfd => ((b(off + 1) & 0xffL) | ((b(off + 2) & 0xffL) << 8) |
        ((b(off + 3) & 0xffL) << 16), 4)
      case 0xfe => (leU64(b, off + 1), 9)
      case n    => (n.toLong, 1)
    }
}

/** Server boot configuration — the reference's config.toml surface
  * (config/def.rs:4): [server] bind_host/engines/log_file, [schema]
  * engine, [engine.<name>] data_path. Parsed with a TOML-lite reader
  * covering exactly the subset the reference file uses (sections,
  * string values, string arrays) — anything else is a boot error, never
  * a silent misread. Engine names map across the re-expression: the
  * reference's `sled` IS graft's PK-sorted merge-on-read parquet
  * warehouse, so `engine.sled.data_path` (or `engine.parquet.data_path`)
  * names the warehouse directory.
  */
final case class ServerConfig(bindHost: String, port: Int,
                              engines: Seq[String], schemaEngine: String,
                              dataPath: Option[String], logFile: Option[String])

object ServerConfig {
  val default: ServerConfig =
    ServerConfig("0.0.0.0", 3307, Seq("sled"), "sled", None, None)

  /** sled IS the merge-on-read parquet warehouse in the re-expression
    * (SURVEY §2.B11), so the two names resolve to the same engine.
    */
  private def aliases(engine: String): Set[String] =
    if (engine == "sled" || engine == "parquet") Set("sled", "parquet")
    else Set(engine)

  def parse(text: String): ServerConfig = {
    var section = ""
    var cfg = default
    // data_path is recorded PER ENGINE SECTION and resolved against the
    // schema engine at the end (engines/schema may be declared after the
    // engine sections) — a section for an undeclared engine, a duplicate
    // path, or two distinct paths for the schema engine's aliases are
    // boot errors, never a silent last-wins
    var enginePaths = scala.collection.immutable.ListMap.empty[String, String]
    text.linesIterator.map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#")).foreach {
        case l if l.startsWith("[") && l.endsWith("]") =>
          section = l.substring(1, l.length - 1).trim
        case l =>
          val eq = l.indexOf('=')
          require(eq > 0, s"unparseable config line: '$l'")
          val key = l.substring(0, eq).trim
          val raw = l.substring(eq + 1).trim
          def str(v: String): String = {
            require(v.length >= 2 && v.head == '"' && v.last == '"',
              s"expected a quoted string for '$key', got: $raw")
            v.substring(1, v.length - 1)
          }
          (section, key) match {
            case ("server", "bind_host") =>
              val hp = str(raw)
              val i = hp.lastIndexOf(':')
              require(i > 0, s"bind_host must be host:port, got: $hp")
              cfg = cfg.copy(bindHost = hp.substring(0, i),
                port = hp.substring(i + 1).toInt)
            case ("server", "engines") =>
              require(raw.startsWith("[") && raw.endsWith("]"),
                s"expected an array for 'engines', got: $raw")
              // quoted elements joined by single commas: a comma inside
              // quotes is part of the name, and missing ([..."a" "b"...])
              // or extra ([,,"a"]) separators can't parse silently
              val inner = raw.substring(1, raw.length - 1).trim
              val elems = if (inner.isEmpty) Nil else SqlText.splitTopLevel(inner, ',').map(_.trim)
              require(!inner.endsWith(",") && elems.forall(e => e.length >= 2 &&
                  e.head == '"' && e.last == '"' && !e.init.tail.contains('"')),
                s"malformed 'engines' array: $raw")
              cfg = cfg.copy(engines = elems.map(e => e.substring(1, e.length - 1)))
            case ("server", "log_file") =>
              cfg = cfg.copy(logFile = Some(str(raw)))
            case ("schema", "engine") =>
              cfg = cfg.copy(schemaEngine = str(raw))
            case (s, "data_path") if s.startsWith("engine.") =>
              val name = s.substring("engine.".length).trim
              require(!enginePaths.contains(name),
                s"duplicate data_path for engine '$name'")
              enginePaths += name -> str(raw)
            case other =>
              sys.error(s"unknown config key: [$section] $key")
          }
      }
    val declared = cfg.engines.toSet.flatMap(aliases) ++
      aliases(cfg.schemaEngine)
    enginePaths.keys.foreach(n => require(declared.contains(n),
      s"data_path for unknown engine '$n' " +
        s"(declared: ${declared.mkString(", ")})"))
    val schemaPaths =
      aliases(cfg.schemaEngine).toSeq.flatMap(enginePaths.get).distinct
    require(schemaPaths.size <= 1,
      s"conflicting data_path values for schema engine " +
        s"'${cfg.schemaEngine}': ${schemaPaths.mkString(", ")}")
    cfg.copy(dataPath = schemaPaths.headOption)
  }

  def load(path: String): ServerConfig =
    parse(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path))))
}

/** Standalone entry point: serve the warehouse over the MySQL protocol
  * (reference main.rs:36). Two boot forms:
  *   `sbt "runMain graft.server.MysqlServerMain [port] [warehouseDir]"`
  *   `sbt "runMain graft.server.MysqlServerMain --config config.toml"`
  * — the latter reads the reference's config.toml shape (bind host +
  * port, engine data_path as the warehouse).
  */
object MysqlServerMain {
  def main(args: Array[String]): Unit = {
    val cfg: Option[ServerConfig] =
      if (args.length >= 2 && args(0) == "--config")
        Some(ServerConfig.load(args(1)))
      else if (args.length == 1 && args(0).endsWith(".toml"))
        Some(ServerConfig.load(args(0)))
      else None
    val port = cfg.map(_.port)
      .getOrElse(if (args.length > 0) args(0).toInt else 3307)
    val warehouse = cfg.flatMap(_.dataPath)
      .getOrElse(if (args.length > 1) args(1) else "/tmp/graft-warehouse")
    val spark = graft.LocalSpark.session(graft.LocalSpark.nproc)
    val server = new MysqlServer(spark, warehouse, port,
      bindHost = cfg.map(_.bindHost)).start()
    println(s"graft mysql server listening on port ${server.boundPort}")
    Thread.currentThread().join()
  }
}
