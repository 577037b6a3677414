package graftbench

import java.io.{BufferedOutputStream, ByteArrayOutputStream, DataInputStream}
import java.net.{InetSocketAddress, Socket}

/** A minimal MySQL text-protocol client: handshake, COM_QUERY, OK / ERR
  * / result-set parsing. It counts the bytes and packets the server sends,
  * which is the benchmark's outside view of the protocol layer.
  */
final class WireClient(port: Int, timeoutMs: Int = 60000) extends AutoCloseable {
  import WireClient._

  private val socket = new Socket()
  socket.connect(new InetSocketAddress("127.0.0.1", port), timeoutMs)
  socket.setSoTimeout(timeoutMs)
  socket.setTcpNoDelay(true)
  private val in = new DataInputStream(socket.getInputStream)
  private val out = new BufferedOutputStream(socket.getOutputStream)
  private var seq = 0
  var bytesIn = 0L
  var packetsIn = 0L

  locally {
    val hs = read()
    require((hs(0) & 0xff) == 10, "protocol version 10")
    write(login)
    val switch = read()
    // an auth switch request asks for the (empty) password scramble
    val reply = if ((switch(0) & 0xff) == 0xfe) { write(Array.emptyByteArray); read() } else switch
    if ((reply(0) & 0xff) != 0x00) throw new IllegalStateException(s"login failed: ${parse(reply)}")
  }

  def query(sql: String): Response = {
    seq = 0
    val body = sql.getBytes("UTF-8")
    val b = new Array[Byte](body.length + 1)
    b(0) = 0x03 // COM_QUERY
    System.arraycopy(body, 0, b, 1, body.length)
    write(b)
    val first = read()
    (first(0) & 0xff) match {
      case 0x00 => Ok(lencInt(first, 1)._1)
      case 0xff => parse(first)
      case _ => readResultSet(first)
    }
  }

  override def close(): Unit =
    try { seq = 0; write(Array[Byte](0x01)) } // COM_QUIT
    catch { case _: Throwable => () }
    finally socket.close()

  private def login: Array[Byte] = {
    val b = new ByteArrayOutputStream()
    // CLIENT_PROTOCOL_41 | SECURE_CONNECTION | PLUGIN_AUTH and friends
    b.write(0x0d); b.write(0xa6); b.write(0x3f); b.write(0x00)
    (0 until 4).foreach(_ => b.write(0))
    b.write(46)
    (0 until 23).foreach(_ => b.write(0))
    b.write("root".getBytes("UTF-8")); b.write(0)
    b.write(0)
    b.toByteArray
  }

  private def read(): Array[Byte] = {
    val header = new Array[Byte](4)
    in.readFully(header)
    val len = (header(0) & 0xff) | ((header(1) & 0xff) << 8) | ((header(2) & 0xff) << 16)
    seq = (header(3) & 0xff) + 1
    val payload = new Array[Byte](len)
    in.readFully(payload)
    bytesIn += 4 + len
    packetsIn += 1
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

  private def isEof(p: Array[Byte]) = (p(0) & 0xff) == 0xfe && p.length < 9

  private def readResultSet(first: Array[Byte]): Response = {
    val nCols = lencInt(first, 0)._1.toInt
    (0 until nCols).foreach(_ => read())
    if (!isEof(read())) throw new IllegalStateException("no EOF after column definitions")
    val rows = Vector.newBuilder[Vector[String]]
    var p = read()
    while (!isEof(p)) {
      if ((p(0) & 0xff) == 0xff) return parse(p)
      val cells = Vector.newBuilder[String]
      var off = 0
      var c = 0
      while (c < nCols) {
        if ((p(off) & 0xff) == 0xfb) { cells += null; off += 1 }
        else {
          val (len, ls) = lencInt(p, off)
          off += ls
          cells += new String(p, off, len.toInt, "UTF-8")
          off += len.toInt
        }
        c += 1
      }
      rows += cells.result()
      p = read()
    }
    Rows(rows.result())
  }
}

object WireClient {
  sealed trait Response
  final case class Ok(affected: Long) extends Response
  final case class Err(code: Int, message: String) extends Response
  final case class Rows(rows: Vector[Vector[String]]) extends Response

  private def parse(p: Array[Byte]): Err =
    Err((p(1) & 0xff) | ((p(2) & 0xff) << 8),
      if (p.length > 9) new String(p, 9, p.length - 9, "UTF-8") else "")

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
}
