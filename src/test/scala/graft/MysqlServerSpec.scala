package graft

import java.io.{BufferedOutputStream, ByteArrayOutputStream, DataInputStream}
import java.net.Socket
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.graft.Bridge
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.GraftSession
import graft.server.{Messages, MysqlServer}

/** Drives graft's MySQL wire-protocol server through a REAL socket with a
  * minimal protocol client: handshake → auth switch → commands —
  * mirroring the reference server's client surface
  * (/root/reference/src/mysql/handle.rs:1) over the base_sql.rs
  * scenarios (create schema/table, insert, select, update, delete, show)
  * plus the binary prepared-statement path (COM_STMT_PREPARE/EXECUTE).
  */
class MysqlServerSpec extends AnyFunSuite {
  import SparkFixture._

  private lazy val warehouse =
    java.nio.file.Files.createTempDirectory("graft-wire-wh").toString
  private lazy val server = new MysqlServer(spark, warehouse, port = 0).start()

  // ---- minimal wire client ------------------------------------------------

  sealed trait Response
  case class Ok(affected: Long) extends Response
  case class Err(code: Int, message: String) extends Response
  case class ResultSet(columns: Seq[String],
                       rows: Seq[Seq[Option[String]]]) extends Response

  final class Client(port: Int = server.boundPort, user: String = "root",
                     password: String = "", mustAuth: Boolean = true,
                     deprecateEof: Boolean = false) {
    private val socket = new Socket("127.0.0.1", port)
    private val in = new DataInputStream(socket.getInputStream)
    private val out = new BufferedOutputStream(socket.getOutputStream)
    private var seq = 0
    var connId: Int = -1
    /** ERR from the handshake when authentication was rejected. */
    var authErr: Option[Err] = None

    // server handshake → HandshakeResponse41 → auth switch → scramble →
    // OK (or ERR 1045 when the credentials don't verify)
    locally {
      val hs = read()
      assert((hs(0) & 0xff) == 10, "protocol version 10")
      // version string is null-terminated; the 4-byte LE connection id
      // follows — KILL and PROCESSLIST tests address connections by it
      val vEnd = hs.indexOf(0.toByte, 1)
      connId = (hs(vEnd + 1) & 0xff) | ((hs(vEnd + 2) & 0xff) << 8) |
        ((hs(vEnd + 3) & 0xff) << 16) | ((hs(vEnd + 4) & 0xff) << 24)
      write(loginPacket(user))
      val switch = read()
      assert((switch(0) & 0xff) == 0xfe, "auth switch request")
      write(scramble(password, switch))
      val reply = read()
      if ((reply(0) & 0xff) == 0xff) authErr = Some(parseErr(reply))
      if (mustAuth)
        assert(authErr.isEmpty && (reply(0) & 0xff) == 0x00,
          s"post-auth OK, got $authErr")
    }

    /** HandshakeResponse41: capabilities, max packet, charset, 23 zeros,
      * NUL-terminated user, empty lenc auth response (the server re-asks
      * through the auth switch).
      */
    private def loginPacket(u: String): Array[Byte] = {
      val b = new ByteArrayOutputStream()
      // 4th capability byte carries CLIENT_DEPRECATE_EOF (1<<24): the
      // matrix tests drive the server under both negotiated framings
      b.write(0x0d); b.write(0xa6); b.write(0x3f)
      b.write(if (deprecateEof) 0x01 else 0x00)
      (0 until 4).foreach(_ => b.write(0))
      b.write(46)
      (0 until 23).foreach(_ => b.write(0))
      b.write(u.getBytes("UTF-8")); b.write(0)
      b.write(0)
      b.toByteArray
    }

    /** mysql_native_password scramble: SHA1(pwd) XOR
      * SHA1(salt + SHA1(SHA1(pwd))) against the salt in the auth-switch
      * packet (after the NUL-terminated plugin name). Empty password =
      * empty response.
      */
    private def scramble(pwd: String, switchPkt: Array[Byte]): Array[Byte] =
      if (pwd.isEmpty) Array.empty
      else {
        val nul = switchPkt.indexOf(0.toByte, 1)
        val salt = java.util.Arrays.copyOfRange(switchPkt, nul + 1, nul + 21)
        def sha1(bs: Array[Byte]*) = {
          val md = java.security.MessageDigest.getInstance("SHA-1")
          bs.foreach(md.update)
          md.digest()
        }
        val h1 = sha1(pwd.getBytes("UTF-8"))
        val mask = sha1(salt, sha1(h1))
        h1.zip(mask).map { case (a, b) => (a ^ b).toByte }
      }

    private def read(): Array[Byte] = {
      val header = new Array[Byte](4)
      in.readFully(header)
      val len = (header(0) & 0xff) | ((header(1) & 0xff) << 8) |
        ((header(2) & 0xff) << 16)
      seq = (header(3) & 0xff) + 1
      val payload = new Array[Byte](len)
      in.readFully(payload)
      payload
    }

    private def write(payload: Array[Byte]): Unit = {
      out.write(payload.length & 0xff)
      out.write((payload.length >> 8) & 0xff)
      out.write((payload.length >> 16) & 0xff)
      out.write(seq & 0xff)
      seq += 1
      out.write(payload)
      out.flush()
    }

    private def command(cmd: Int, body: Array[Byte]): Unit = {
      seq = 0
      val b = new ByteArrayOutputStream()
      b.write(cmd)
      b.write(body, 0, body.length)
      write(b.toByteArray)
    }

    private def lencInt(b: Array[Byte], off: Int): (Long, Int) =
      (b(off) & 0xff) match {
        case 0xfc => ((b(off + 1) & 0xffL) | ((b(off + 2) & 0xffL) << 8), 3)
        case 0xfd => ((b(off + 1) & 0xffL) | ((b(off + 2) & 0xffL) << 8) |
          ((b(off + 3) & 0xffL) << 16), 4)
        case 0xfe =>
          var v = 0L; var i = 0
          while (i < 8) { v |= (b(off + 1 + i) & 0xffL) << (8 * i); i += 1 }
          (v, 9)
        case n => (n.toLong, 1)
      }

    private def isEof(p: Array[Byte]) = (p(0) & 0xff) == 0xfe && p.length < 9

    private def parseErr(p: Array[Byte]): Err = {
      val code = (p(1) & 0xff) | ((p(2) & 0xff) << 8)
      Err(code, new String(p, 9, p.length - 9, "UTF-8"))
    }

    /** Column (name, wireTypeCode) from a ColumnDefinition41 payload:
      * name is the 5th lenc string; the type byte sits in the fixed
      * block after the 6th string, past the 0x0c length marker,
      * charset u16 and display-length u32.
      */
    private def colDef(p: Array[Byte]): (String, Int) = {
      var off = 0
      var skip = 0
      var name = ""
      while (skip < 6) {
        val (len, ls) = lencInt(p, off)
        off += ls
        if (skip == 4) name = new String(p, off, len.toInt, "UTF-8")
        off += len.toInt
        skip += 1
      }
      (name, p(off + 1 + 2 + 4) & 0xff)
    }
    private def colName(p: Array[Byte]): String = colDef(p)._1

    private def readResultSet(first: Array[Byte]): ResultSet = {
      val (nCols, _) = lencInt(first, 0)
      val columns = (0 until nCols.toInt).map(_ => colName(read()))
      // DEPRECATE_EOF: rows follow the defs directly, no separator
      if (!deprecateEof) assert(isEof(read()), "EOF after column definitions")
      val rows = Seq.newBuilder[Seq[Option[String]]]
      val raw = Vector.newBuilder[Array[Byte]]
      var p = read()
      while (!isEof(p)) {
        if ((p(0) & 0xff) == 0xff && p.length >= 9)
          fail(s"error mid-result: ${parseErr(p)}")
        raw += p
        val cells = Seq.newBuilder[Option[String]]
        var off = 0
        (0 until nCols.toInt).foreach { _ =>
          if ((p(off) & 0xff) == 0xfb) { cells += None; off += 1 }
          else {
            val (len, ls) = lencInt(p, off)
            off += ls
            cells += Some(new String(p, off, len.toInt, "UTF-8"))
            off += len.toInt
          }
        }
        rows += cells.result()
        p = read()
      }
      lastStatus =
        if (p.length >= 5) (p(3) & 0xff) | ((p(4) & 0xff) << 8) else 0
      lastTermOkEof = p.length >= 7 // OK-with-EOF-header vs 5-byte EOF
      lastRawRows = raw.result()
      ResultSet(columns, rows.result())
    }

    /** Binary-protocol result set: rows are 0x00 + NULL bitmap (2-bit
      * offset) + per-column values typed by the column definitions.
      * Values are rendered to strings so scenarios compare uniformly
      * with the text path.
      */
    private def readBinaryResultSet(first: Array[Byte]): ResultSet = {
      val (nCols, _) = lencInt(first, 0)
      val n = nCols.toInt
      val defs = (0 until n).map(_ => colDef(read()))
      if (!deprecateEof) assert(isEof(read()), "EOF after column definitions")
      val rows = Seq.newBuilder[Seq[Option[String]]]
      val raw = Vector.newBuilder[Array[Byte]]
      var p = read()
      while (!isEof(p)) {
        if ((p(0) & 0xff) == 0xff && p.length >= 9)
          fail(s"error mid-result: ${parseErr(p)}")
        raw += p
        assert((p(0) & 0xff) == 0x00, "binary row header")
        val bitmapLen = (n + 7 + 2) / 8
        val bitmap = p.slice(1, 1 + bitmapLen)
        var off = 1 + bitmapLen
        def leN(k: Int): Long = {
          var v = 0L; var i = 0
          while (i < k) { v |= (p(off + i) & 0xffL) << (8 * i); i += 1 }
          off += k; v
        }
        val cells = defs.zipWithIndex.map { case ((_, t), i) =>
          val bit = i + 2
          if ((bitmap(bit / 8) & (1 << (bit % 8))) != 0) None
          else Some(t match {
            case 0x01 => leN(1).toByte.toString
            case 0x02 => leN(2).toShort.toString
            case 0x03 => leN(4).toInt.toString
            case 0x08 => leN(8).toString
            case 0x04 => java.lang.Float.intBitsToFloat(leN(4).toInt).toString
            case 0x05 => java.lang.Double.longBitsToDouble(leN(8)).toString
            case 0x0a => // packed DATE
              val len = leN(1).toInt
              val (y, m, d) = (leN(2).toInt, leN(1).toInt, leN(1).toInt)
              assert(len == 4)
              f"$y%04d-$m%02d-$d%02d"
            case 0x0c => // packed DATETIME
              val len = leN(1).toInt
              val (y, mo, d) = (leN(2).toInt, leN(1).toInt, leN(1).toInt)
              val (h, mi, s) = (leN(1).toInt, leN(1).toInt, leN(1).toInt)
              val us = if (len == 11) leN(4) else 0L
              f"$y%04d-$mo%02d-$d%02d $h%02d:$mi%02d:$s%02d.$us%06d"
            case _ => // lenc bytes (strings, decimals, blobs)
              val (len, ls) = lencInt(p, off)
              off += ls
              val s = new String(p, off, len.toInt, "UTF-8")
              off += len.toInt
              s
          })
        }
        rows += cells
        p = read()
      }
      lastStatus =
        if (p.length >= 5) (p(3) & 0xff) | ((p(4) & 0xff) << 8) else 0
      lastTermOkEof = p.length >= 7
      lastRawRows = raw.result()
      ResultSet(defs.map(_._1), rows.result())
    }

    /** Status flags of the last OK / terminating EOF — bit 0x0008 is
      * SERVER_MORE_RESULTS_EXISTS (multi-statement chaining).
      */
    var lastStatus: Int = 0

    /** The row packets of the last result set, as they came off the wire. */
    var lastRawRows: Vector[Array[Byte]] = Vector.empty

    /** Whether the last result-set terminator was the OK-with-EOF-header
      * form (CLIENT_DEPRECATE_EOF) rather than a bare 5-byte EOF.
      */
    var lastTermOkEof: Boolean = false

    private def response(binary: Boolean = false): Response = {
      val p = read()
      (p(0) & 0xff) match {
        case 0x00 =>
          val (aff, l1) = lencInt(p, 1)
          val (_, l2) = lencInt(p, 1 + l1)
          val so = 1 + l1 + l2
          lastStatus =
            if (p.length >= so + 2) (p(so) & 0xff) | ((p(so + 1) & 0xff) << 8)
            else 0
          Ok(aff)
        case 0xff => lastStatus = 0; parseErr(p)
        case _    => if (binary) readBinaryResultSet(p) else readResultSet(p)
      }
    }

    def query(sql: String): Response = {
      command(0x03, sql.getBytes("UTF-8"))
      response()
    }

    /** Multi-statement COM_QUERY: keep reading result sets while the
      * server advertises SERVER_MORE_RESULTS_EXISTS; an ERR ends the
      * sequence (MySQL aborts the remaining statements).
      */
    def queryMulti(sql: String): Seq[Response] = {
      command(0x03, sql.getBytes("UTF-8"))
      val out = Seq.newBuilder[Response]
      var more = true
      while (more) {
        val r = response()
        out += r
        more = r match {
          case _: Err => false
          case _      => (lastStatus & 0x0008) != 0
        }
      }
      out.result()
    }

    /** LOAD DATA LOCAL INFILE exchange: send the statement, expect the
      * server's 0xFB filename request, stream `content` in chunked
      * packets + the empty terminator, return (requested filename,
      * final response).
      */
    def queryLocalInfile(sql: String, content: Array[Byte],
                         chunk: Int = 1000): (String, Response) = {
      command(0x03, sql.getBytes("UTF-8"))
      val req = read()
      assert((req(0) & 0xff) == 0xfb, "expected LOCAL INFILE request")
      val fname = new String(req, 1, req.length - 1, "UTF-8")
      var off = 0
      while (off < content.length) {
        val n = math.min(chunk, content.length - off)
        write(java.util.Arrays.copyOfRange(content, off, off + n))
        off += n
      }
      write(Array.emptyByteArray) // empty packet = end of file
      (fname, response())
    }

    def initDb(db: String): Response = {
      command(0x02, db.getBytes("UTF-8"))
      response()
    }

    def ping(): Response = { command(0x0e, Array.empty); response() }

    def fieldList(table: String): Seq[String] = {
      command(0x04, (table + "\u0000").getBytes("UTF-8"))
      val names = Seq.newBuilder[String]
      var p = read()
      while (!isEof(p)) {
        if ((p(0) & 0xff) == 0xff && p.length >= 9)
          fail(s"field list error: ${parseErr(p)}")
        names += colName(p)
        p = read()
      }
      names.result()
    }

    def prepare(sql: String): (Int, Int) = {
      command(0x16, sql.getBytes("UTF-8"))
      val p = read()
      if ((p(0) & 0xff) != 0x00) fail(s"prepare failed: ${parseErr(p)}")
      val stmtId = ((p(1) & 0xff) | ((p(2) & 0xff) << 8) |
        ((p(3) & 0xff) << 16) | ((p(4) & 0xff) << 24))
      val nCols = (p(5) & 0xff) | ((p(6) & 0xff) << 8)
      val nParams = (p(7) & 0xff) | ((p(8) & 0xff) << 8)
      (0 until nParams).foreach(_ => read()) // param definitions
      // DEPRECATE_EOF: no terminator after the parameter definitions
      if (nParams > 0 && !deprecateEof)
        assert(isEof(read()), "EOF after param definitions")
      assert(nCols == 0)
      (stmtId, nParams)
    }

    /** Binary-protocol execute: params as (mysqlTypeCode, valueBytes);
      * a null param has type 0x06 and no bytes.
      */
    def execute(stmtId: Int, params: Seq[(Int, Array[Byte])]): Response = {
      val b = new ByteArrayOutputStream()
      def u32(n: Long): Unit =
        (0 until 4).foreach(i => b.write(((n >> (8 * i)) & 0xff).toInt))
      u32(stmtId.toLong)
      b.write(0x00) // cursor flags
      u32(1L)       // iteration count
      if (params.nonEmpty) {
        val bitmap = new Array[Byte]((params.length + 7) / 8)
        params.zipWithIndex.foreach { case ((t, _), i) =>
          if (t == 0x06) bitmap(i / 8) = (bitmap(i / 8) | (1 << (i % 8))).toByte
        }
        b.write(bitmap, 0, bitmap.length)
        b.write(0x01) // new params bound
        params.foreach { case (t, _) => b.write(t & 0xff); b.write(0x00) }
        params.foreach { case (t, v) => if (t != 0x06) b.write(v, 0, v.length) }
      }
      command(0x17, b.toByteArray)
      response(binary = true)
    }

    /** Re-execute the way libmysqlclient/Connector/J do after the first
      * execute: new-params-bound = 0x00 and NO type block — the server
      * must reuse the types it saw on the first execute.
      */
    def executeReuseTypes(stmtId: Int, values: Seq[Array[Byte]]): Response = {
      val b = new ByteArrayOutputStream()
      def u32(n: Long): Unit =
        (0 until 4).foreach(i => b.write(((n >> (8 * i)) & 0xff).toInt))
      u32(stmtId.toLong)
      b.write(0x00); u32(1L)
      if (values.nonEmpty) {
        val bitmap = new Array[Byte]((values.length + 7) / 8)
        b.write(bitmap, 0, bitmap.length)
        b.write(0x00) // new params NOT bound: no type block follows
        values.foreach(v => b.write(v, 0, v.length))
      }
      command(0x17, b.toByteArray)
      response(binary = true)
    }

    /** COM_STMT_SEND_LONG_DATA: stream one chunk (no server response). */
    def sendLongData(stmtId: Int, paramId: Int, chunk: Array[Byte]): Unit = {
      val b = new ByteArrayOutputStream()
      (0 until 4).foreach(i => b.write((stmtId >> (8 * i)) & 0xff))
      b.write(paramId & 0xff); b.write((paramId >> 8) & 0xff)
      b.write(chunk, 0, chunk.length)
      command(0x18, b.toByteArray)
    }

    def resetStmt(stmtId: Int): Response = {
      val b = new ByteArrayOutputStream()
      (0 until 4).foreach(i => b.write((stmtId >> (8 * i)) & 0xff))
      command(0x1a, b.toByteArray)
      response()
    }

    def changeUser(u: String = "root", pwd: String = ""): Response = {
      val b = new ByteArrayOutputStream()
      b.write(u.getBytes("UTF-8")); b.write(0)
      command(0x11, b.toByteArray)
      val switch = read()
      assert((switch(0) & 0xff) == 0xfe, "change-user auth switch")
      write(scramble(pwd, switch))
      response()
    }

    def closeStmt(stmtId: Int): Unit = {
      val b = new ByteArrayOutputStream()
      (0 until 4).foreach(i => b.write((stmtId >> (8 * i)) & 0xff))
      command(0x19, b.toByteArray)
    }

    def quit(): Unit = {
      command(0x01, Array.empty)
      socket.close()
    }
  }

  private def lencBytes(s: String): Array[Byte] = {
    val bytes = s.getBytes("UTF-8")
    require(bytes.length <= 250)
    Array(bytes.length.toByte) ++ bytes
  }

  private def leInt(n: Int): Array[Byte] =
    Array.tabulate(4)(i => ((n >> (8 * i)) & 0xff).toByte)

  // ---- scenarios ----------------------------------------------------------

  test("handshake, ping, and a bare SELECT over the socket") {
    val c = new Client
    assert(c.ping() == Ok(0))
    val rs = c.query("select 1 as one").asInstanceOf[ResultSet]
    assert(rs.columns == Seq("one"))
    assert(rs.rows == Seq(Seq(Some("1"))))
    c.quit()
  }

  test("EXPLAIN ANALYZE answers an executed-plan result set on the wire") {
    val c = new Client
    val rs = c.query("explain analyze select 1 + 1 as two")
      .asInstanceOf[ResultSet]
    assert(rs.columns == Seq("plan_type", "plan"))
    assert(rs.rows.size == 1)
    assert(rs.rows.head.head == Some("Plan with Metrics"))
    assert(rs.rows.head(1).get.contains("numOutputRows=1"))
    // VERBOSE surfaces unit-rendered metrics (wall times in ms) — the
    // timing-bearing row a client sees for scan/exchange costing
    val vs = c.query("explain analyze verbose select count(*) from (" +
      "select 1 as x union all select 2) t").asInstanceOf[ResultSet]
    assert(vs.rows.head(1).get.contains(" ms"))
    // a DML child is refused with a typed ERR, never half-executed
    assert(c.query("explain analyze set @x = 1").isInstanceOf[Err])
    c.quit()
  }

  test("CLIENT_DEPRECATE_EOF matrix: per-connection framing, text + binary + multi-statement (r14)") {
    // modern framing: no separator after column definitions, result sets
    // terminated by an OK with the EOF header — what connector-j-class
    // drivers negotiate against the advertised 1<<24 capability
    val m = new Client(deprecateEof = true)
    val rs = m.query("select 1 as one union all select 2 order by 1")
      .asInstanceOf[ResultSet]
    assert(rs.columns == Seq("one"))
    assert(rs.rows.flatMap(_.flatten) == Seq("1", "2"))
    assert(m.lastTermOkEof, "terminator must be the OK-with-EOF-header form")
    // binary prepared statements share the framing (incl. the missing
    // EOF after the prepare response's parameter definitions)
    val (sid, _) = m.prepare("select ? as v")
    val brs = m.execute(sid, Seq((0xfd, lencBytes("7")))).asInstanceOf[ResultSet]
    assert(brs.rows == Seq(Seq(Some("7"))) && m.lastTermOkEof)
    // multi-statement chaining: MORE_RESULTS still rides the terminator
    val multi = m.queryMulti("select 1 as a; select 2 as b")
    assert(multi.size == 2 && m.lastTermOkEof)
    // SHOW PROCESSLIST goes through the server-scope writer — same framing
    assert(m.query("show processlist").isInstanceOf[ResultSet] &&
      m.lastTermOkEof)
    m.quit()
    // a LEGACY client on the SAME server keeps pre-5.7 EOF framing: the
    // negotiation is per connection, not global
    val l = new Client()
    assert(l.query("select 1 as one").isInstanceOf[ResultSet])
    assert(!l.lastTermOkEof, "legacy client must see bare EOF terminators")
    l.quit()
  }

  test("base_sql scenario: schema DDL, table DDL, DML, and SELECT round-trip") {
    val c = new Client
    assert(c.query("create schema wiredb").isInstanceOf[Ok])
    assert(c.initDb("wiredb").isInstanceOf[Ok])
    assert(c.query(
      "create table user (id int, name varchar(50), primary key(id))")
      .isInstanceOf[Ok])
    assert(c.query("insert into user values (1, 'alice'), (2, 'bob')")
      == Ok(2))
    val rs = c.query("select id, name from user order by id")
      .asInstanceOf[ResultSet]
    assert(rs.columns == Seq("id", "name"))
    assert(rs.rows == Seq(Seq(Some("1"), Some("alice")),
      Seq(Some("2"), Some("bob"))))

    assert(c.query("update user set name = 'carol' where id = 2") == Ok(1))
    val rs2 = c.query("select name from user where id = 2")
      .asInstanceOf[ResultSet]
    assert(rs2.rows == Seq(Seq(Some("carol"))))

    assert(c.query("delete from user where id = 1") == Ok(1))
    val rs3 = c.query("select count(*) as n from user").asInstanceOf[ResultSet]
    assert(rs3.rows == Seq(Seq(Some("1"))))

    // show commands come back as result sets
    val dbs = c.query("show databases").asInstanceOf[ResultSet]
    assert(dbs.rows.flatten.flatten.contains("wiredb"))
    val tables = c.query("show tables").asInstanceOf[ResultSet]
    assert(tables.rows.flatten.flatten.contains("user"))
    c.quit()
  }

  test("COM_FIELD_LIST returns the table's column definitions") {
    val c = new Client
    assert(c.query("create schema if not exists wirefl").isInstanceOf[Ok])
    assert(c.initDb("wirefl").isInstanceOf[Ok])
    assert(c.query("create table t (a int, b varchar(10))").isInstanceOf[Ok])
    assert(c.fieldList("t") == Seq("a", "b"))
    c.quit()
  }

  test("NULL cells use the 0xfb marker, not a string") {
    val c = new Client
    val rs = c.query("select cast(null as int) as n, 'x' as s")
      .asInstanceOf[ResultSet]
    assert(rs.rows == Seq(Seq(None, Some("x"))))
    c.quit()
  }

  test("errors come back as ERR packets and the connection stays usable") {
    val c = new Client
    val e = c.query("select * from no_such_table_xyz")
    assert(e.isInstanceOf[Err])
    // connection still works after an error
    val rs = c.query("select 2 as two").asInstanceOf[ResultSet]
    assert(rs.rows == Seq(Seq(Some("2"))))
    c.quit()
  }

  test("duplicate-entry INSERT answers code 1062 on the wire; REPLACE upserts") {
    val c = new Client
    c.query("create schema if not exists wires")
    c.query("use wires")
    c.query("create table dup (id int, v char, primary key(id))")
    c.query("insert into dup values (1,'a')")
    val e = c.query("insert into dup values (1,'b')").asInstanceOf[Err]
    assert(e.code == 1062, s"expected MySQL 1062, got $e")
    assert(e.message.contains("Duplicate entry '1'"))
    val ok = c.query("replace into dup values (1,'b')")
    assert(!ok.isInstanceOf[Err])
    val rs = c.query("select v from dup where id = 1").asInstanceOf[ResultSet]
    assert(rs.rows == Seq(Seq(Some("b"))))
    c.query("drop table dup")
    // a declared UNIQUE (non-PK) key answers the same 1062 ERR packet,
    // named after the unique index (insert.rs:208 parity)
    c.query("create table dupu (id int primary key, email varchar(40), " +
      "unique key uq_email (email))")
    c.query("insert into dupu values (1,'a@x')")
    val eu = c.query("insert into dupu values (2,'a@x')").asInstanceOf[Err]
    assert(eu.code == 1062, s"expected MySQL 1062, got $eu")
    assert(eu.message.contains("dupu.uq_email"), eu.message)
    val oku = c.query("replace into dupu values (2,'a@x')")
    assert(!oku.isInstanceOf[Err])
    val rsu = c.query("select id from dupu").asInstanceOf[ResultSet]
    assert(rsu.rows == Seq(Seq(Some("2"))))
    c.query("drop table dupu")
    c.quit()
  }

  test("binary prepared statements: COM_STMT_PREPARE/EXECUTE/CLOSE") {
    val c = new Client
    assert(c.query("create schema if not exists wireps").isInstanceOf[Ok])
    assert(c.initDb("wireps").isInstanceOf[Ok])
    assert(c.query("create table kv (id int, v varchar(20))").isInstanceOf[Ok])
    assert(c.query("insert into kv values (1,'one'), (2,'two'), (3,'three')")
      == Ok(3))

    val (sid, nParams) = c.prepare("select v from kv where id = ? order by v")
    assert(nParams == 1)
    val rs = c.execute(sid, Seq((0x03, leInt(2)))).asInstanceOf[ResultSet]
    assert(rs.rows == Seq(Seq(Some("two"))))

    // string param + re-execute with different binding
    val (sid2, n2) = c.prepare("select id from kv where v = ?")
    assert(n2 == 1)
    val rs2 = c.execute(sid2, Seq((0xfd, lencBytes("three"))))
      .asInstanceOf[ResultSet]
    assert(rs2.rows == Seq(Seq(Some("3"))))
    val rs3 = c.execute(sid2, Seq((0xfd, lencBytes("one"))))
      .asInstanceOf[ResultSet]
    assert(rs3.rows == Seq(Seq(Some("1"))))

    // null param binds as SQL NULL (matches nothing here)
    val rs4 = c.execute(sid2, Seq((0x06, Array.empty[Byte])))
      .asInstanceOf[ResultSet]
    assert(rs4.rows.isEmpty)

    c.closeStmt(sid)
    // statement closed: executing it again errors but keeps the connection
    val e = c.execute(sid, Seq((0x03, leInt(1))))
    assert(e.isInstanceOf[Err])
    assert(c.query("select 5 as five").asInstanceOf[ResultSet]
      .rows == Seq(Seq(Some("5"))))
    c.quit()
  }

  test("binary result rows: every wire type decodes from COM_STMT_EXECUTE") {
    val c = new Client
    val (sid, n) = c.prepare(
      """select cast(1 as tinyint) as i8, cast(300 as smallint) as i16,
        |  cast(-70000 as int) as i32, cast(5000000000 as bigint) as i64,
        |  cast(1.5 as float) as f32, cast(2.25 as double) as f64,
        |  cast(12.3400 as decimal(10,4)) as dec,
        |  'héllo' as s, cast(null as int) as nl,
        |  cast('2024-03-15' as date) as d,
        |  cast('2024-03-15 10:20:30.5' as timestamp) as ts""".stripMargin)
    assert(n == 0)
    val rs = c.execute(sid, Seq.empty).asInstanceOf[ResultSet]
    assert(rs.columns == Seq("i8", "i16", "i32", "i64", "f32", "f64",
      "dec", "s", "nl", "d", "ts"))
    assert(rs.rows == Seq(Seq(Some("1"), Some("300"), Some("-70000"),
      Some("5000000000"), Some("1.5"), Some("2.25"), Some("12.3400"),
      Some("héllo"), None, Some("2024-03-15"),
      Some("2024-03-15 10:20:30.500000"))))
    c.closeStmt(sid)
    c.quit()
  }

  test("COM_STMT_RESET answers OK; COM_CHANGE_USER resets session state") {
    val c = new Client
    assert(c.query("create schema if not exists wirecu").isInstanceOf[Ok])
    assert(c.initDb("wirecu").isInstanceOf[Ok])
    val (sid, _) = c.prepare("select 1 as one")
    assert(c.resetStmt(sid).isInstanceOf[Ok])
    // statement still usable after reset
    assert(c.execute(sid, Seq.empty).asInstanceOf[ResultSet]
      .rows == Seq(Seq(Some("1"))))

    assert(c.query("create table cu_t (x int)").isInstanceOf[Ok])

    assert(c.changeUser().isInstanceOf[Ok])
    // prepared statements are gone and current db is back to the default
    // ("mysql", like the reference's fresh connection)
    assert(c.execute(sid, Seq.empty).isInstanceOf[Err])
    val tabs = c.query("show tables").asInstanceOf[ResultSet]
    assert(tabs.columns == Seq("Tables_in_mysql"))
    assert(!tabs.rows.flatten.flatten.contains("cu_t"))
    assert(c.initDb("wirecu").isInstanceOf[Ok]) // connection still usable
    c.quit()
  }

  test("mysql_native_password: good password in, bad password 1045 out") {
    // provision an account WITH a password through the wire itself:
    // authentication_string = '*' + hex SHA1(SHA1(pwd)), MySQL's storage
    // format. mysql.user is an ordinary table, so plain DML provisions.
    def sha1(bs: Array[Byte]) =
      java.security.MessageDigest.getInstance("SHA-1").digest(bs)
    val hash = "*" + sha1(sha1("s3cret".getBytes("UTF-8")))
      .map("%02X".format(_)).mkString
    val admin = new Client()
    assert(admin.query("insert into mysql.user values ('%','alice'," +
      s"'Y','Y','Y','Y','Y','Y','N','N','$hash')") == Ok(1))

    // right password: session opens and runs queries
    val alice = new Client(user = "alice", password = "s3cret")
    assert(alice.authErr.isEmpty)
    assert(alice.query("select 1 as one").asInstanceOf[ResultSet]
      .rows == Seq(Seq(Some("1"))))
    alice.quit()

    // wrong password / no password / unknown user: ER_ACCESS_DENIED 1045
    val wrong = new Client(user = "alice", password = "nope", mustAuth = false)
    assert(wrong.authErr.exists(e => e.code == 1045 &&
      e.message.contains("using password: YES")), s"got ${wrong.authErr}")
    val none = new Client(user = "alice", password = "", mustAuth = false)
    assert(none.authErr.exists(e => e.code == 1045 &&
      e.message.contains("using password: NO")), s"got ${none.authErr}")
    val ghost = new Client(user = "nobody", password = "x", mustAuth = false)
    assert(ghost.authErr.exists(_.code == 1045), s"got ${ghost.authErr}")
    // root's scramble against its (empty) password is ALSO denied — a
    // password was typed for a passwordless account
    val rootPwd = new Client(user = "root", password = "guess",
      mustAuth = false)
    assert(rootPwd.authErr.exists(_.code == 1045), s"got ${rootPwd.authErr}")

    // COM_CHANGE_USER re-authenticates: alice's password on the same
    // connection works; a wrong one is denied and the connection lives
    val cu = new Client()
    assert(cu.changeUser("alice", "s3cret").isInstanceOf[Ok])
    cu.changeUser("alice", "wrong") match {
      case Err(code, _) => assert(code == 1045)
      case other        => fail(s"expected 1045, got $other")
    }
    assert(cu.query("select 1 as one").isInstanceOf[ResultSet])
    cu.quit()
    admin.quit()
  }

  test("re-execute with new-params-bound=0 reuses the first execute's types") {
    val c = new Client
    assert(c.query("create schema if not exists wirere").isInstanceOf[Ok])
    assert(c.initDb("wirere").isInstanceOf[Ok])
    assert(c.query("create table re (id int, v varchar(10))").isInstanceOf[Ok])
    assert(c.query("insert into re values (1,'a'), (2,'b'), (3,'c')") == Ok(3))
    val (sid, _) = c.prepare("select v from re where id = ?")
    // first execute sends types (0x01); later ones send only values
    assert(c.execute(sid, Seq((0x03, leInt(1)))).asInstanceOf[ResultSet]
      .rows == Seq(Seq(Some("a"))))
    assert(c.executeReuseTypes(sid, Seq(leInt(2))).asInstanceOf[ResultSet]
      .rows == Seq(Seq(Some("b"))))
    assert(c.executeReuseTypes(sid, Seq(leInt(3))).asInstanceOf[ResultSet]
      .rows == Seq(Seq(Some("c"))))
    c.closeStmt(sid)
    c.quit()
  }

  test("a SELECT aliased affected_rows is a result set, not an OK packet") {
    val c = new Client
    val rs = c.query("select 41 + 1 as affected_rows")
    assert(rs.isInstanceOf[ResultSet], s"got $rs")
    assert(rs.asInstanceOf[ResultSet].rows == Seq(Seq(Some("42"))))
    c.quit()
  }

  test("COM_STMT_SEND_LONG_DATA chunks bind as one string param; RESET discards them") {
    val c = new Client
    assert(c.query("create schema if not exists wireld").isInstanceOf[Ok])
    assert(c.initDb("wireld").isInstanceOf[Ok])
    assert(c.query("create table ld (id int, v varchar(50))").isInstanceOf[Ok])
    assert(c.query("insert into ld values (1,'one'), (3,'three')") == Ok(2))

    val (sid, n) = c.prepare("select id from ld where v = ?")
    assert(n == 1)
    // the param value arrives in two chunks and is OMITTED from execute
    c.sendLongData(sid, 0, "th".getBytes("UTF-8"))
    c.sendLongData(sid, 0, "ree".getBytes("UTF-8"))
    val rs = c.execute(sid, Seq((0xfb, Array.empty[Byte])))
      .asInstanceOf[ResultSet]
    assert(rs.rows == Seq(Seq(Some("3"))))

    // RESET discards accumulated chunks: the same execute now binds the
    // (empty) inline value instead and matches nothing
    assert(c.resetStmt(sid).isInstanceOf[Ok])
    val rs2 = c.execute(sid, Seq((0xfd, lencBytes("one"))))
      .asInstanceOf[ResultSet]
    assert(rs2.rows == Seq(Seq(Some("1"))))
    c.closeStmt(sid)
    c.quit()
  }

  test("non-UTF-8 long-data binds as a hex literal; blob round-trips unmangled") {
    val c = new Client
    assert(c.query("create schema if not exists wirebl").isInstanceOf[Ok])
    assert(c.initDb("wirebl").isInstanceOf[Ok])
    assert(c.query("create table bl (id int, v blob)").isInstanceOf[Ok])
    val (sid, n) = c.prepare("insert into bl values (1, ?)")
    assert(n == 1)
    // 0xFF 0x00 0xFE is invalid UTF-8: a text decode would mangle it
    c.sendLongData(sid, 0, Array(0xff.toByte, 0x00.toByte))
    c.sendLongData(sid, 0, Array(0xfe.toByte, 0x41.toByte))
    assert(c.execute(sid, Seq((0xfb, Array.empty[Byte]))) == Ok(1))
    val rs = c.query("select hex(v) as h from bl").asInstanceOf[ResultSet]
    assert(rs.rows == Seq(Seq(Some("FF00FE41"))))
    c.closeStmt(sid)
    c.quit()
  }

  test("SHOW PROCESSLIST lists live connections; KILL closes the target only") {
    val c1 = new Client
    val c2 = new Client
    assert(c1.connId > 0 && c2.connId > 0 && c1.connId != c2.connId)
    val pl = c1.query("show processlist").asInstanceOf[ResultSet]
    assert(pl.columns.take(2) == Seq("Id", "User"))
    val ids = pl.rows.map(_.head.get.toLong).toSet
    assert(ids.contains(c1.connId.toLong) && ids.contains(c2.connId.toLong))

    assert(c1.query(s"kill ${c2.connId}") == Ok(0))
    // the killed connection is gone: its next read hits a closed socket
    intercept[Exception] { c2.query("select 1 as one") }
    // the killer is untouched and the registry no longer lists the
    // victim — registry removal happens when the victim's connection
    // loop exits, which is asynchronous to the kill: poll briefly
    def victimListed(): Boolean =
      c1.query("show processlist").asInstanceOf[ResultSet]
        .rows.map(_.head.get.toLong).contains(c2.connId.toLong)
    var waited = 0
    while (victimListed() && waited < 5000) { Thread.sleep(50); waited += 50 }
    assert(!victimListed(), "killed connection must leave the registry")
    val e = c1.query("kill 999999")
    assert(e.isInstanceOf[Err] &&
      e.asInstanceOf[Err].message.contains("Unknown thread id"))
    // an id past Int range answers ERR too — it must not unwind the
    // caller's own connection
    assert(c1.query("kill 99999999999999").isInstanceOf[Err])
    assert(c1.query("select 3 as three").isInstanceOf[ResultSet])
    c1.quit()
  }

  test("idle connections past wait_timeout are closed; active ones are not") {
    val to = new MysqlServer(spark, warehouse, port = 0,
      idleTimeoutMs = 400).start()
    try {
      val active = new Client(to.boundPort)
      (1 to 3).foreach { _ =>
        Thread.sleep(200) // stays under the limit between commands
        assert(active.query("select 1 as one").isInstanceOf[ResultSet])
      }
      active.quit()
      val idle = new Client(to.boundPort)
      Thread.sleep(800) // past wait_timeout: server closes the socket
      intercept[Exception] { idle.query("select 1 as one") }
    } finally to.stop()
  }

  test("concurrent connections have isolated current-database state") {
    val c1 = new Client
    val c2 = new Client
    assert(c1.query("create schema if not exists wirec1").isInstanceOf[Ok])
    assert(c2.query("create schema if not exists wirec2").isInstanceOf[Ok])
    assert(c1.initDb("wirec1").isInstanceOf[Ok])
    assert(c2.initDb("wirec2").isInstanceOf[Ok])
    assert(c1.query("create table only1 (x int)").isInstanceOf[Ok])
    // c2's schema must not contain c1's table; list per-connection
    val t2 = c2.query("show tables").asInstanceOf[ResultSet]
    assert(!t2.rows.flatten.flatten.contains("only1"))
    val t1 = c1.query("show tables").asInstanceOf[ResultSet]
    assert(t1.rows.flatten.flatten.contains("only1"))
    c1.quit(); c2.quit()
  }

  test("multi-statement COM_QUERY chains results; an error aborts the remainder") {
    val c = new Client
    assert(c.query("create schema wirems").isInstanceOf[Ok])
    assert(c.initDb("wirems").isInstanceOf[Ok])
    val rs = c.queryMulti(
      "create table t (id int, v varchar(10)); " +
        "insert into t values (1,'a'), (2,'b'); " +
        "select id, v from t order by id")
    assert(rs.length == 3, s"expected 3 chained results, got: $rs")
    assert(rs(0).isInstanceOf[Ok])
    assert(rs(1) == Ok(2))
    assert(rs(2) == ResultSet(Seq("id", "v"),
      Seq(Seq(Some("1"), Some("a")), Seq(Some("2"), Some("b")))))

    // a quoted ';' is content, not a statement separator
    val rs2 = c.queryMulti(
      "insert into t values (3, 'a;b'); select v from t where id = 3")
    assert(rs2.length == 2)
    assert(rs2(1) == ResultSet(Seq("v"), Seq(Seq(Some("a;b")))))

    // MySQL rule: an error aborts the rest of the batch — the trailing
    // INSERT must not run
    val rs3 = c.queryMulti(
      "select count(*) as n from t; select * from missing_tbl; " +
        "insert into t values (9,'z')")
    assert(rs3.length == 2, s"error must end the sequence, got: $rs3")
    assert(rs3(0) == ResultSet(Seq("n"), Seq(Seq(Some("3")))))
    assert(rs3(1).isInstanceOf[Err])
    assert(c.query("select count(*) as n from t")
      == ResultSet(Seq("n"), Seq(Seq(Some("3")))),
      "statement after the error must not have executed")
    c.quit()
  }

  test("wire views: CREATE VIEW / SHOW CREATE VIEW; file access is sandboxed") {
    val c = new Client
    assert(c.query("create schema wirev").isInstanceOf[Ok])
    assert(c.initDb("wirev").isInstanceOf[Ok])
    assert(c.query("create table vt (id int, primary key(id))").isInstanceOf[Ok])
    assert(c.query("insert into vt values (1), (2), (3)") == Ok(3))
    assert(c.query("create view v2 as select id from vt where id > 1")
      .isInstanceOf[Ok])
    val rs = c.query("select id from v2 order by id").asInstanceOf[ResultSet]
    assert(rs.rows == Seq(Seq(Some("2")), Seq(Some("3"))))
    val ddl = c.query("show create view v2").asInstanceOf[ResultSet]
    assert(ddl.columns.take(2) == Seq("View", "Create View"))
    assert(ddl.rows.head.head == Some("v2"))
    assert(ddl.rows.head(1).get.toLowerCase.contains("select"))
    // network clients get the secure_file_priv sandbox by default:
    // arbitrary filesystem read/write answers ERR 1290
    val e1 = c.query("select id from vt into outfile '/tmp/wire-escape.csv'")
    assert(e1.asInstanceOf[Err].code == 1290)
    val e2 = c.query("load data infile '/etc/passwd' into table vt")
    assert(e2.asInstanceOf[Err].code == 1290)
    // ...and cannot lift the gate over SQL
    val e3 = c.query("set global secure_file_priv = ''")
    assert(e3.asInstanceOf[Err].code == 1238)
    // inside the sandbox root the same statements succeed
    val root = java.nio.file.Paths.get(warehouse, ".mysql-files")
    val okPath = root.resolve("wire-ok.csv")
    assert(c.query(s"select id from vt into outfile '$okPath'") == Ok(3))
    assert(java.nio.file.Files.exists(okPath))
    c.quit()
  }

  test("config-file boot: the reference config.toml shape parses and binds") {
    // the reference's own config.toml, with graft's warehouse as the
    // engine data_path (sled IS the merge-on-read parquet warehouse in
    // the re-expression — SURVEY §2.B11)
    val cfg = graft.server.ServerConfig.parse(
      s"""# boot config
         |[server]
         |log_file = "./log4rs.yaml"
         |bind_host = "127.0.0.1:0"
         |engines = ["sled"]
         |
         |[schema]
         |engine = "sled"
         |
         |[engine.sled]
         |data_path = "$warehouse"
         |""".stripMargin)
    assert(cfg.bindHost == "127.0.0.1" && cfg.port == 0)
    assert(cfg.engines == Seq("sled") && cfg.schemaEngine == "sled")
    assert(cfg.dataPath.contains(warehouse))
    assert(cfg.logFile.contains("./log4rs.yaml"))
    // a server booted from the parsed config serves the warehouse on
    // the configured interface
    val s2 = new MysqlServer(spark, cfg.dataPath.get, cfg.port,
      bindHost = Some(cfg.bindHost)).start()
    try {
      val c = new Client(s2.boundPort)
      val rs = c.query("select 1 as one").asInstanceOf[ResultSet]
      assert(rs.rows == Seq(Seq(Some("1"))))
      c.quit()
    } finally s2.stop()
    // unknown keys are a boot error, never a silent misread
    intercept[RuntimeException] {
      graft.server.ServerConfig.parse("[server]\nbind_hots = \"x:1\"")
    }
    // round 11: data_path resolves PER ENGINE via the schema engine —
    // a section for an undeclared engine is a boot error
    intercept[RuntimeException] {
      graft.server.ServerConfig.parse(
        "[server]\nengines = [\"sled\"]\n[schema]\nengine = \"sled\"\n" +
          "[engine.rocks]\ndata_path = \"/x\"")
    }
    // ...two engine sections no longer silently last-win: the schema
    // engine's (aliased sled==parquet) path wins; a non-schema engine's
    // path never leaks into dataPath
    val multi = graft.server.ServerConfig.parse(
      "[server]\nengines = [\"sled\", \"csv\"]\n[schema]\nengine = \"sled\"\n" +
        "[engine.csv]\ndata_path = \"/csvdir\"\n" +
        "[engine.parquet]\ndata_path = \"/wh\"")
    assert(multi.dataPath.contains("/wh"))
    // conflicting paths for the schema engine's aliases are a boot error
    intercept[RuntimeException] {
      graft.server.ServerConfig.parse(
        "[server]\nengines = [\"sled\"]\n[schema]\nengine = \"sled\"\n" +
          "[engine.sled]\ndata_path = \"/a\"\n" +
          "[engine.parquet]\ndata_path = \"/b\"")
    }
    // a comma INSIDE a quoted engine name is part of the name; a quote
    // that doesn't wrap a whole element is a boot error
    assert(graft.server.ServerConfig.parse(
      "[server]\nengines = [\"a,b\", \"c\"]").engines == Seq("a,b", "c"))
    intercept[RuntimeException] {
      graft.server.ServerConfig.parse("[server]\nengines = [\"a, b\"x]")
    }
  }

  test("LOAD DATA LOCAL INFILE: 0xFB request, client stream, OK; sandbox does not gate client files") {
    val c = new Client
    assert(c.query("create database if not exists lidb").isInstanceOf[Ok])
    assert(c.query("use lidb").isInstanceOf[Ok])
    assert(c.query("create table lt (id int, name char)").isInstanceOf[Ok])
    // the filename in the request is the CLIENT's path, echoed verbatim;
    // it lies far outside secure_file_priv — LOCAL content is the
    // client's own file, the server sandbox does not apply
    val csv = "1\talpha\n2\tbeta\n3\tgamma\n"
    val (fname, r) = c.queryLocalInfile(
      "load data local infile '/client/side/path.tsv' into table lt",
      csv.getBytes("UTF-8"), chunk = 7) // several content packets
    assert(fname == "/client/side/path.tsv")
    assert(r == Ok(3))
    val rs = c.query("select id, name from lt order by id")
      .asInstanceOf[ResultSet]
    assert(rs.rows == Seq(Seq(Some("1"), Some("alpha")),
      Seq(Some("2"), Some("beta")), Seq(Some("3"), Some("gamma"))))
    // a client that cannot open its file sends the empty terminator
    // immediately: 0-row load, connection stays framed
    val (_, r2) = c.queryLocalInfile(
      "load data local infile 'nope.tsv' into table lt",
      Array.emptyByteArray)
    assert(r2 == Ok(0))
    // ...and the SERVER-side variant of the same path is still gated
    val e = c.query(
      "load data infile '/client/side/path.tsv' into table lt")
    assert(e.asInstanceOf[Err].code == 1290)
    // clause tail (column list) flows through the same parser
    assert(c.query("create table lt2 (id int, name char, score double)")
      .isInstanceOf[Ok])
    val (_, r3) = c.queryLocalInfile(
      "load data local infile 'x' into table lt2 (id, name)",
      "7\tzeta\n".getBytes("UTF-8"))
    assert(r3 == Ok(1))
    val rs2 = c.query("select id, name, score from lt2")
      .asInstanceOf[ResultSet]
    assert(rs2.rows == Seq(Seq(Some("7"), Some("zeta"), None)))
    c.quit()
  }

  test("secure_file_priv covers SQL on files: no temp view or csv.`path` read past the sandbox") {
    val c = new Client
    val secret = java.nio.file.Files.createTempFile("graft-secret", ".csv")
    java.nio.file.Files.writeString(secret, "top-secret-line\n")
    assert(c.query("create schema if not exists wiresf").isInstanceOf[Ok])
    assert(c.initDb("wiresf").isInstanceOf[Ok])
    val view = c.query(s"create temporary view pw using csv options (path '$secret')")
    assert(view.isInstanceOf[Err], view)
    assert(c.query("select * from pw").isInstanceOf[Err])
    val direct = c.query(s"select * from csv.`$secret`")
    assert(direct.isInstanceOf[Err], direct)
    assert(c.query("create table sf (line text)").isInstanceOf[Ok])
    assert(c.query(s"insert into sf select * from csv.`$secret`").isInstanceOf[Err])
    assert(c.query(s"load data infile '$secret' into table sf")
      .asInstanceOf[Err].code == 1290)
    assert(c.query("select count(*) as n from sf") ==
      ResultSet(Seq("n"), Seq(Seq(Some("0")))))
    // no relational form writes a directory either
    val dir = java.nio.file.Files.createTempDirectory("graft-sandbox")
    java.nio.file.Files.writeString(dir.resolve("keep.txt"), "keep")
    for (hidden <- Seq(
           s"with s as (select 1 as a) insert overwrite local directory '$dir' using csv select * from s",
           s"from (select 1 as a) s insert overwrite local directory '$dir' using csv select *")) {
      val r = c.query(hidden)
      assert(r.isInstanceOf[Err], s"$hidden: $r")
    }
    assert(dir.toFile.list().toSeq == Seq("keep.txt"))
    c.quit()
  }

  test("server-scope statements behind comments: KILL, PROCESSLIST, LOCAL INFILE, USE") {
    val c1 = new Client
    val c2 = new Client
    val pl = c1.query("/* c */ show processlist").asInstanceOf[ResultSet]
    assert(pl.rows.map(_.head.get.toLong).contains(c2.connId.toLong))
    assert(c1.query(s"/* c */ kill ${c2.connId}") == Ok(0))
    intercept[Exception] { c2.query("select 1 as one") }
    // PROCESSLIST's db column is the session's schema, however USE was spelled
    def db(): Option[String] = c1.query("show processlist").asInstanceOf[ResultSet]
      .rows.find(_.head.contains(c1.connId.toString)).flatMap(_(3))
    assert(c1.query("create schema if not exists wirecm").isInstanceOf[Ok])
    assert(c1.query("/* c */ use wirecm").isInstanceOf[Ok])
    assert(db() == Some("wirecm"))
    assert(c1.query("use mysql").isInstanceOf[Ok] && db() == Some("mysql"))
    assert(c1.query("use `wirecm`").isInstanceOf[Ok])
    assert(db() == Some("wirecm"))
    // LOAD DATA LOCAL behind a line comment still runs the 0xFB exchange
    assert(c1.query("create table lc (id int, name char)").isInstanceOf[Ok])
    val (fname, r) = c1.queryLocalInfile(
      "-- c\nload data local infile 'lc.tsv' into table lc", "1\ta\n".getBytes("UTF-8"))
    assert(fname == "lc.tsv" && r == Ok(1))
    // a ';' inside a comment does not split a multi-statement payload
    val rs = c1.queryMulti("select 1 as a; /* ; */ select 2 as b")
    assert(rs == Seq(ResultSet(Seq("a"), Seq(Seq(Some("1")))),
      ResultSet(Seq("b"), Seq(Seq(Some("2"))))))
    c1.quit()
  }

  // ---- the result drain ---------------------------------------------------

  private lazy val meter = new LocalSpark.Meter(spark)

  /** A session of its own over the server's warehouse: it reads what
    * the wire clients wrote, and drains in-process.
    */
  private def inProcess(db: String): GraftSession = {
    val g = new GraftSession(spark.newSession(), warehouse)
    g.sql(s"use $db")
    g
  }

  /** 60 fixed-seed rows over every scalar type the wire encodes, with the
    * float edge values (NaN, ±inf, −0.0) and a NULL in every column,
    * as an inline VALUES table with its column list.
    */
  private def parityValues: String = {
    val rnd = new scala.util.Random(20261019)
    val words = Seq("héllo", "日本語", "Ελληνικά", "straße", "emoji 🚀", "plain")
    val floats = Seq("NaN", "Infinity", "-Infinity", "-0.0")
    def digits(n: Int) = (1 to n).map(_ => rnd.nextInt(10)).mkString
    def hex(n: Int) = (1 to n).map(_ => f"${rnd.nextInt(256)}%02X").mkString
    val rows = (0 until 60).map { i =>
      val cells = Seq(
        s"${rnd.nextInt()}",
        s"${rnd.nextLong()}L",
        s"cast(${rnd.nextInt(65536) - 32768} as smallint)",
        s"cast(${rnd.nextInt(256) - 128} as tinyint)",
        s"cast('${if (i < 4) floats(i) else rnd.nextFloat() * 1e6f - 5e5f}' as float)",
        s"cast('${if (i < 4) floats(3 - i) else rnd.nextDouble() * 1e12 - 5e11}' as double)",
        s"cast('-${digits(9)}.${digits(2)}' as decimal(15,2))",
        s"cast('${digits(20)}.${digits(18)}' as decimal(38,18))",
        s"'${words(rnd.nextInt(words.size))} $i'",
        s"${rnd.nextBoolean()}",
        s"date'${java.time.LocalDate.ofEpochDay(rnd.nextInt(40000) - 10000)}'",
        s"timestamp'${java.time.LocalDateTime.ofEpochSecond(rnd.nextInt(2000000000).toLong,
          rnd.nextInt(1000000) * 1000, java.time.ZoneOffset.UTC)
          .format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS"))}'",
        s"X'${hex(1 + rnd.nextInt(8))}'")
      // column c is NULL on row i when (i + c) % 7 == 0
      val withNulls = cells.zipWithIndex.map { case (v, c) => if ((i + c) % 7 == 0) "null" else v }
      (s"$i" +: withNulls).mkString("(", ", ", ")")
    }
    rows.mkString(", ") +
      " as v(id, i32, i64, i16, i8, f32, f64, dec15, dec38, s, b, d, ts, bin)"
  }

  test("result rows on the wire are byte-equal to Spark's own decoder's, text and binary, every type") {
    val c = new Client
    assert(c.query("create schema if not exists wparity").isInstanceOf[Ok])
    assert(c.initDb("wparity").isInstanceOf[Ok])
    assert(c.query(s"create table t as select * from values $parityValues").isInstanceOf[Ok])
    val g = inProcess("wparity")
    for (sql <- Seq("select * from t order by id",
                    "select id, array(i32, i16) as arr, map(id, s) as m, " +
                      "named_struct('f', f64, 'd', d, 'x', dec38) as st from t order by id")) {
      val df = g.sql(sql)
      val expected = df.toLocalIterator().asScala.toVector
      assert(expected.size == 60)
      val text = c.query(sql).asInstanceOf[ResultSet]
      assert(text.rows.size == 60)
      assert(c.lastRawRows.map(_.toSeq) == expected.map(r => Messages.textRow(r).toSeq), sql)
      val (sid, _) = c.prepare(sql)
      assert(c.execute(sid, Seq.empty).asInstanceOf[ResultSet].rows.size == 60)
      assert(c.lastRawRows.map(_.toSeq) ==
        expected.map(r => Messages.binaryRow(r, df.schema).toSeq), sql)
      c.closeStmt(sid)
    }
    c.quit()
  }

  test("results stream every row in partition order; an empty multi-partition result is an empty set") {
    val c = new Client
    val desc = c.query("select id from range(0, 200000, 1, 8) order by id desc")
      .asInstanceOf[ResultSet]
    assert(desc.rows.size == 200000)
    assert(desc.rows.iterator.map(_.head.get.toLong).sameElements(199999L to 0L by -1))
    // no exchange: eight scan partitions, one job each, rows in index order
    val (asc, _, census) = meter.measure(c.query("select id from range(0, 80000, 1, 8)"))
    assert(census.jobs == 8, census)
    assert(asc.asInstanceOf[ResultSet].rows.iterator.map(_.head.get.toLong)
      .sameElements(0L until 80000L))
    val (empty, _, emptyCensus) =
      meter.measure(c.query("select id from range(0, 100, 1, 8) where id < 0"))
    assert(empty == ResultSet(Seq("id"), Seq.empty) && emptyCensus.jobs == 8, emptyCensus)
    val (sid, _) = c.prepare("select id from range(0, 100, 1, 8) where id < 0")
    assert(c.execute(sid, Seq.empty) == ResultSet(Seq("id"), Seq.empty))
    c.quit()
  }

  test("a PK lookup drains in 1/1/1 jobs/stages/tasks and a month aggregate in 2/2/5, as Spark's drain does") {
    val c = new Client
    assert(c.query("create schema if not exists wcensus").isInstanceOf[Ok])
    assert(c.initDb("wcensus").isInstanceOf[Ok])
    assert(c.query("create table orders (o_orderkey bigint, o_totalprice decimal(15,2), " +
      "o_orderdate date, o_comment varchar(79), PRIMARY KEY(o_orderkey)) engine=sled").isInstanceOf[Ok])
    assert(c.query("insert into orders select id, cast(id % 100000 as decimal(15,2)) / 100, " +
      "date_add(date'1992-01-01', cast(id * 7919 % 2405 as int)), concat('c', id) " +
      "from range(0, 40000, 1, 4)") == Ok(40000))
    val g = inProcess("wcensus")
    def census(r: => Any) = { val c = meter.measure(r)._3; (c.jobs, c.stages, c.tasks) }
    for ((sql, want) <- Seq(
           "select * from orders where o_orderkey = 7919" -> (1L, 1L, 1L),
           ("select count(*), sum(o_totalprice) from orders where o_orderdate >= date'1995-03-01' " +
             "and o_orderdate < date'1995-04-01'") -> (2L, 2L, 5L))) {
      c.query(sql) // first run: the shape's generated code compiles
      val wire = census(c.query(sql).asInstanceOf[ResultSet])
      val spark = census(g.sql(sql).toLocalIterator().asScala.toList)
      assert(wire == want && spark == want, s"$sql: wire $wire, toLocalIterator $spark")
    }
    val lookup = c.query("select o_orderkey, o_totalprice from orders where o_orderkey = 7919")
    assert(lookup == ResultSet(Seq("o_orderkey", "o_totalprice"), Seq(Seq(Some("7919"), Some("79.19")))))
    c.quit()
  }

  test("an answer Spark holds in memory drains with no job: a count frame, a SHOW, an EXPLAIN") {
    val g = new GraftSession(spark.newSession(), warehouse)
    g.sql("create schema if not exists wlocal")
    g.sql("use wlocal")
    g.sql("create table t (a int)")
    // (statement, its first cell, the jobs Spark's own drain runs for it)
    for ((df, first, sparkJobs) <- Seq[(org.apache.spark.sql.DataFrame, Any => Boolean, Long)](
           (g.sql("insert into t values (1), (2)"), _ == 2L, 1L),
           (g.sql("show tables"), _ == "t", 1L),
           (g.sql("explain select a from t"), _.toString.contains("Physical Plan"), 0L))) {
      val (rows, _, c) = meter.measure(Bridge.rows(df).asScala.toList)
      assert(rows.size == 1 && first(rows.head.get(0)) && c.jobs == 0, (rows, c))
      val (sparkRows, _, sc) = meter.measure(df.toLocalIterator().asScala.toList)
      assert(sparkRows == rows && sc.jobs == sparkJobs, sc)
    }
  }

  test("the wire server reads Spark through the one drain: no other drain under graft/server") {
    val dir = Paths.get("src/main/scala/graft/server")
    val hits = for {
      f <- scala.util.Using.resource(Files.list(dir))(_.iterator.asScala.toList)
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if line.contains("toLocalIterator") || line.contains(".collect()")
    } yield s"${f.getFileName}:${i + 1}: ${line.trim}"
    assert(hits.isEmpty, hits)
  }
}
