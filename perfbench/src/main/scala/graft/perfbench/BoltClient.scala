package graft.perfbench

import graft.server.PackStream
import graft.server.PackStream.Struct

import java.io.{BufferedInputStream, BufferedOutputStream, ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import java.net.Socket

/** A minimal Bolt 5.0 client over a loopback socket: handshake, HELLO,
  * then auto-commit RUN + PULL(-1) per statement. Wire format is the
  * engine's own [[PackStream]] codec, chunked as the Bolt spec frames
  * messages. */
final class BoltClient(port: Int) extends AutoCloseable {
  import BoltClient._

  private val sock = new Socket("127.0.0.1", port)
  sock.setTcpNoDelay(true)
  private val in = new DataInputStream(new BufferedInputStream(sock.getInputStream))
  private val out = new DataOutputStream(new BufferedOutputStream(sock.getOutputStream))

  out.write(Array[Byte](0x60, 0x60, 0xB0.toByte, 0x17))
  Seq(0x00000005, 0, 0, 0).foreach(out.writeInt) // propose Bolt 5.0 only
  out.flush()
  require(in.readInt() != 0, "Bolt handshake rejected")
  send(0x01, Map("user_agent" -> "graft-perfbench/1.0"))
  require(tagOf(recv()) == Success, "HELLO refused")

  private def send(tag: Int, fields: Any*): Unit = {
    val body = new ByteArrayOutputStream()
    PackStream.write(new DataOutputStream(body), Struct(tag.toByte, fields))
    val bytes = body.toByteArray
    var off = 0
    while (off < bytes.length) {
      val n = math.min(65535, bytes.length - off)
      out.writeShort(n); out.write(bytes, off, n); off += n
    }
    out.writeShort(0)
    out.flush()
  }

  private def recv(): Struct = {
    val buf = new ByteArrayOutputStream()
    var done = false
    while (!done) {
      val size = in.readUnsignedShort()
      if (size == 0 && buf.size() > 0) done = true
      else if (size > 0) {
        val chunk = new Array[Byte](size); in.readFully(chunk); buf.write(chunk)
      }
    }
    PackStream.read(new DataInputStream(new ByteArrayInputStream(buf.toByteArray)))
      .asInstanceOf[Struct]
  }

  /** Runs one auto-commit statement and pulls every record. A FAILURE is
    * answered with RESET so the connection stays usable, and surfaces as
    * a [[Result]] with `error` set. */
  def run(query: String, params: Map[String, Any]): Result = {
    send(0x10, query, params, Map.empty[String, Any])
    val head = recv()
    if (tagOf(head) != Success) return failed(head)
    send(0x3F, Map("n" -> -1L))
    val rows = Vector.newBuilder[Seq[Any]]
    var summary: Struct = null
    while (summary == null) {
      val m = recv()
      if (tagOf(m) == Record) rows += m.fields.head.asInstanceOf[Seq[Any]]
      else summary = m
    }
    if (tagOf(summary) != Success) return failed(summary)
    Result(rows.result(), meta(summary), None)
  }

  private def failed(m: Struct): Result = {
    val msg = meta(m).getOrElse("message", s"bolt message 0x${tagOf(m).toHexString}")
    // the server IGNOREs everything until RESET after a FAILURE
    send(0x0F)
    recv()
    Result(Vector.empty, Map.empty, Some(String.valueOf(msg)))
  }

  def close(): Unit = {
    try { send(0x02); sock.close() } catch { case _: java.io.IOException => () }
  }
}

object BoltClient {
  private val Success = 0x70
  private val Record = 0x71

  private def tagOf(s: Struct): Int = s.tag & 0xFF
  private def meta(s: Struct): Map[String, Any] = s.fields.headOption match {
    case Some(m: Map[_, _]) => m.asInstanceOf[Map[String, Any]]
    case _ => Map.empty
  }

  /** Rows as Bolt values, the summary metadata, and the failure message. */
  final case class Result(rows: Vector[Seq[Any]], summary: Map[String, Any],
      error: Option[String]) {
    def stat(name: String): Long = summary.get("stats") match {
      case Some(m: Map[_, _]) => m.asInstanceOf[Map[String, Any]].get(name) match {
        case Some(l: Long) => l
        case _ => 0L
      }
      case _ => 0L
    }
  }
}
