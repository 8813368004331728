package graft

import java.io.{InputStream, OutputStream}
import java.net.{ServerSocket, Socket}
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import java.util.Base64

/** Minimal in-process RFC 6455 WebSocket server speaking the Ethereum
  * `eth_subscribe("newHeads")` pub/sub protocol — just enough wire to
  * drill [[graft.sources.WsHeadFeed]] offline: HTTP upgrade handshake,
  * masked client frames, unmasked server frames, optional fragmentation,
  * scripted per-connection head announcements, scripted disconnects.
  *
  * Connection k serves `sessions(k)`: handshake → read the client's
  * subscribe text frame (must be `eth_subscribe`) → ack → one newHeads
  * notification per head → disconnect (clean Close frame on even k,
  * abrupt TCP close on odd k — exercising both listener end paths).
  * After the last scripted session the listening socket closes, so
  * further connects fail at TCP level (drilling the connect-retry burst).
  */
final class MiniWsServer(sessions: Seq[Seq[Long]],
    fragmentEvery: Int = Int.MaxValue,
    rejectSubscribes: Int = 0) extends AutoCloseable {
  private val server = new ServerSocket(0)
  val port: Int = server.getLocalPort
  val uri: java.net.URI = java.net.URI.create(s"ws://127.0.0.1:$port/")
  @volatile private[graft] var subscribesSeen = 0

  private val acceptor = new Thread(() => {
    try {
      var k = 0
      while (k < sessions.size) {
        val sock = server.accept()
        try serve(sock, sessions(k), cleanClose = k % 2 == 0)
        catch { case scala.util.control.NonFatal(_) => }
        finally { try sock.close() catch { case _: Exception => } }
        k += 1
      }
    } catch { case _: Exception => } // server socket closed
    finally { try server.close() catch { case _: Exception => } }
  }, "mini-ws-server")
  acceptor.setDaemon(true)
  acceptor.start()

  private def serve(sock: Socket, heads: Seq[Long], cleanClose: Boolean): Unit = {
    val in = sock.getInputStream
    val out = sock.getOutputStream
    handshake(in, out)
    val (op, payload) = readFrame(in)
    require(op == 1, s"expected text frame, got opcode $op")
    require(new String(payload, UTF_8).contains("eth_subscribe"),
      "first client frame must be eth_subscribe")
    subscribesSeen += 1
    if (subscribesSeen <= rejectSubscribes) {
      // endpoint without pub/sub support: JSON-RPC error, socket left open
      writeText(out, """{"jsonrpc":"2.0","id":1,"error":""" +
        """{"code":-32601,"message":"notifications not supported"}}""",
        fragment = false)
      try readFrame(in) catch { case _: Exception => } // wait for client close
      return
    }
    writeText(out, """{"jsonrpc":"2.0","id":1,"result":"0xcafe01"}""",
      fragment = false)
    var i = 0
    heads.foreach { h =>
      val msg = s"""{"jsonrpc":"2.0","method":"eth_subscription","params":""" +
        s"""{"subscription":"0xcafe01","result":{"number":"0x${h.toHexString}"}}}"""
      i += 1
      writeText(out, msg, fragment = i % fragmentEvery == 0)
    }
    out.flush()
    if (cleanClose) { // Close frame: opcode 8, 2-byte status 1000
      out.write(Array[Byte](0x88.toByte, 2, 0x03, 0xe8.toByte)); out.flush()
      try readFrame(in) catch { case _: Exception => } // client's close echo
    } else {
      // abrupt TCP close in the caller's finally, but only after the
      // client has taken every head: it answers a Ping queued behind them
      // only once they are delivered, so the drop cannot race the last
      // notifications (the client may process EOF before frames it has
      // read but not yet delivered)
      writeRaw(out, fin = true, opcode = 9, Array.emptyByteArray)
      sock.setSoTimeout(10000)
      while (readFrame(in)._1 != 10) {} // until the Pong
    }
  }

  private def handshake(in: InputStream, out: OutputStream): Unit = {
    val req = new StringBuilder
    while (!req.endsWith("\r\n\r\n")) {
      val b = in.read()
      require(b >= 0, "EOF during handshake")
      req.append(b.toChar)
    }
    val key = req.toString.linesIterator
      .find(_.toLowerCase.startsWith("sec-websocket-key:"))
      .map(_.split(":", 2)(1).trim)
      .getOrElse(sys.error("no Sec-WebSocket-Key"))
    val accept = Base64.getEncoder.encodeToString(
      MessageDigest.getInstance("SHA-1").digest(
        (key + "258EAFA5-E914-47DA-95CA-C5AB0DC85B11").getBytes(UTF_8)))
    out.write(("HTTP/1.1 101 Switching Protocols\r\n" +
      "Upgrade: websocket\r\nConnection: Upgrade\r\n" +
      s"Sec-WebSocket-Accept: $accept\r\n\r\n").getBytes(UTF_8))
    out.flush()
  }

  /** One client→server frame: (opcode, unmasked payload). Pings are
    * answered inline and skipped.
    */
  private def readFrame(in: InputStream): (Int, Array[Byte]) = {
    def u8(): Int = { val b = in.read(); require(b >= 0, "EOF"); b }
    val b0 = u8(); val op = b0 & 0x0f
    val b1 = u8(); val masked = (b1 & 0x80) != 0
    var len: Long = b1 & 0x7f
    if (len == 126) len = (u8() << 8) | u8()
    else if (len == 127) { len = 0; (0 until 8).foreach(_ => len = (len << 8) | u8()) }
    val mask = if (masked) Array.fill(4)(u8().toByte) else Array.emptyByteArray
    val payload = new Array[Byte](len.toInt)
    var off = 0
    while (off < payload.length) {
      val n = in.read(payload, off, payload.length - off)
      require(n >= 0, "EOF in payload"); off += n
    }
    if (masked) payload.indices.foreach(i => payload(i) = (payload(i) ^ mask(i % 4)).toByte)
    op match {
      case 9 => (op, payload) // ping: caller ignores; JDK client sends none
      case _ => (op, payload)
    }
  }

  private def writeText(out: OutputStream, msg: String, fragment: Boolean): Unit = {
    val bytes = msg.getBytes(UTF_8)
    if (!fragment) writeRaw(out, fin = true, opcode = 1, bytes)
    else { // split: text frame without FIN + FIN continuation
      val half = bytes.length / 2
      writeRaw(out, fin = false, opcode = 1, bytes.take(half))
      writeRaw(out, fin = true, opcode = 0, bytes.drop(half))
    }
  }

  private def writeRaw(out: OutputStream, fin: Boolean, opcode: Int,
      payload: Array[Byte]): Unit = {
    out.write(((if (fin) 0x80 else 0x00) | opcode).toByte.toInt)
    val n = payload.length
    if (n <= 125) out.write(n)
    else if (n <= 0xffff) { out.write(126); out.write(n >> 8); out.write(n & 0xff) }
    else sys.error("test frames stay under 64 KiB")
    out.write(payload)
    out.flush()
  }

  override def close(): Unit = { try server.close() catch { case _: Exception => } }
}
