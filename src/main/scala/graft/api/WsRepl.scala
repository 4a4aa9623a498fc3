package graft.api

import java.io.{DataInputStream, DataOutputStream}
import java.net.{ServerSocket, Socket, SocketTimeoutException}
import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import java.util.Base64
import scala.util.control.NonFatal

/** WebSocket REPL `GET /api/repl` — parity with the reference's WS
  * endpoint (api/server.rs:179-230): banner text frame on connect,
  * line-per-query text frames in, pretty-JSON outcome frames out,
  * `error: <msg>` on engine error, `timeout` after 60 s, ping→pong,
  * close honored; optional `X-API-Key` checked at the HTTP upgrade.
  *
  * RFC 6455 over a plain ServerSocket — text/ping/close frames need no
  * external dependency; the outcome JSON is [[Dto.outcomeJsonPretty]],
  * written with Spark's Jackson. Queries execute on
  * the shared [[EngineBroker]] engine thread, serialized with HTTP
  * traffic exactly like the reference's broker (api/mod.rs:8-32).
  */
class WsRepl(broker: EngineBroker, port: Int = 0,
    apiKey: Option[String] = None, timeoutSec: Long = 60,
    bindAddr: String = "127.0.0.1") {

  val banner = "graft REPL ready. Send queries as text.\n"
  private val wsGuid = "258EAFA5-E914-47DA-95CA-C5AB0DC85B11"
  // bind the CONFIGURED address (settings.rs api_bind_addr, default
  // loopback — server.rs:233-259 binds api_bind_addr:api_port); the
  // previous wildcard bind exposed a mutation-capable endpoint on all
  // interfaces
  private val server = new ServerSocket(port, 50,
    java.net.InetAddress.getByName(bindAddr))
  @volatile private var running = false

  private val acceptThread = new Thread(() => {
    while (running) {
      try {
        val sock = server.accept()
        val t = new Thread(() => handleConn(sock), "graft-ws-conn")
        t.setDaemon(true)
        t.start()
      } catch { case NonFatal(_) => () /* socket closed on stop */ }
    }
  }, "graft-ws-accept")
  acceptThread.setDaemon(true)

  def start(): Int = {
    running = true
    broker.start()
    acceptThread.start()
    server.getLocalPort
  }

  def stop(): Unit = {
    running = false
    try server.close() catch { case NonFatal(_) => }
  }

  // ------------------------------------------------------------ handshake

  private def handleConn(sock: Socket): Unit = {
    try {
      sock.setSoTimeout(0)
      val in = new DataInputStream(sock.getInputStream)
      val out = new DataOutputStream(sock.getOutputStream)
      readHandshake(in) match {
        case None =>
          writeHttp(out, "400 Bad Request", "malformed upgrade request")
        case Some((path, headers)) =>
          if (!path.startsWith("/api/repl")) {
            writeHttp(out, "404 Not Found", "unknown path")
          } else if (apiKey.exists(k => !headers.get("x-api-key").contains(k))) {
            writeHttp(out, "401 Unauthorized", "unauthorized")
          } else headers.get("sec-websocket-key") match {
            case None => writeHttp(out, "400 Bad Request", "missing Sec-WebSocket-Key")
            case Some(key) =>
              val accept = Base64.getEncoder.encodeToString(
                MessageDigest.getInstance("SHA-1")
                  .digest((key + wsGuid).getBytes(StandardCharsets.UTF_8)))
              out.write(("HTTP/1.1 101 Switching Protocols\r\n" +
                "Upgrade: websocket\r\nConnection: Upgrade\r\n" +
                s"Sec-WebSocket-Accept: $accept\r\n\r\n").getBytes(StandardCharsets.UTF_8))
              out.flush()
              broker.apiLog.foreach(_.append("WS connected"))
              WsFrames.writeText(out, banner)
              frameLoop(in, out)
          }
      }
    } catch { case NonFatal(_) => () }
    finally { try sock.close() catch { case NonFatal(_) => } }
  }

  /** Read the HTTP request line + headers of the upgrade request. */
  private def readHandshake(in: DataInputStream): Option[(String, Map[String, String])] = {
    val sb = new StringBuilder
    var prev4 = ""
    while (!prev4.endsWith("\r\n\r\n")) {
      val b = in.read()
      if (b < 0 || sb.length > 16384) return None
      sb.append(b.toChar)
      prev4 = if (sb.length <= 4) sb.toString else sb.substring(sb.length - 4)
    }
    val lines = sb.toString.split("\r\n").toSeq
    val reqLine = lines.head.split(" ")
    if (reqLine.length < 2 || reqLine(0) != "GET") return None
    val headers = lines.tail.flatMap { l =>
      l.indexOf(':') match {
        case -1 => None
        case i => Some(l.substring(0, i).trim.toLowerCase -> l.substring(i + 1).trim)
      }
    }.toMap
    Some((reqLine(1), headers))
  }

  private def writeHttp(out: DataOutputStream, status: String, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    out.write((s"HTTP/1.1 $status\r\nContent-Type: text/plain\r\n" +
      s"Content-Length: ${bytes.length}\r\nConnection: close\r\n\r\n")
      .getBytes(StandardCharsets.UTF_8))
    out.write(bytes)
    out.flush()
  }

  // ----------------------------------------------------------- frame loop

  private def frameLoop(in: DataInputStream, out: DataOutputStream): Unit = {
    var open = true
    while (open) {
      WsFrames.readFrame(in) match {
        case None => open = false
        case Some((WsFrames.OpText, payload)) =>
          val query = new String(payload, StandardCharsets.UTF_8).trim
          if (query.nonEmpty) {
            val rid = broker.nextRid()
            broker.apiLog.foreach(_.append(s"rid=$rid WS query qlen=${query.length}"))
            val t0 = System.nanoTime()
            // the reference WS REPL builds its ApiRequest with
            // params: None (server.rs:205) — always the no-params path
            val reply = broker.execute(query, None, timeoutSec) match {
              case Some(Right(outcome)) => Dto.outcomeJsonPretty(outcome)
              case Some(Left(err)) => s"error: $err"
              case None => "timeout"
            }
            broker.apiLog.foreach(_.logApi(rid, (System.nanoTime() - t0) / 1000000,
              if (reply.startsWith("{")) 200 else 400))
            WsFrames.writeText(out, reply)
          }
        case Some((WsFrames.OpPing, payload)) =>
          WsFrames.writeFrame(out, WsFrames.OpPong, payload)
        case Some((WsFrames.OpClose, _)) =>
          WsFrames.writeFrame(out, WsFrames.OpClose, Array.emptyByteArray)
          broker.apiLog.foreach(_.append("WS closed"))
          open = false
        case Some(_) => () // binary/continuation: ignored (text-only REPL)
      }
    }
  }
}

/** RFC 6455 frame codec shared by [[WsRepl]] (server side, unmasked
  * writes) and [[WsClient]] (client side, masked writes). Single-frame
  * messages only — ample for a line-per-query REPL. */
object WsFrames {
  val OpText = 1
  val OpClose = 8
  val OpPing = 9
  val OpPong = 10

  /** Read one frame; None on EOF/oversize/fragmentation (FIN=0 or a
    * continuation opcode closes the connection rather than silently
    * treating the first fragment as a whole message). Unmasks if
    * masked. */
  def readFrame(in: DataInputStream): Option[(Int, Array[Byte])] = {
    val b0 = in.read()
    if (b0 < 0) return None
    val fin = (b0 & 0x80) != 0
    val opcode = b0 & 0x0f
    if (!fin || opcode == 0) return None // single-frame messages only
    val b1 = in.read()
    if (b1 < 0) return None
    val masked = (b1 & 0x80) != 0
    var len: Long = (b1 & 0x7f).toLong
    if (len == 126) {
      val hi = in.read(); val lo = in.read()
      if (hi < 0 || lo < 0) return None // truncated extended length
      len = ((hi & 0xff) << 8 | (lo & 0xff)).toLong
    } else if (len == 127) {
      // same truncation handling as the 16-bit path: a header cut off
      // mid-length is a malformed frame (None → clean close), not an
      // EOFException that aborts the connection loop
      len = try in.readLong() catch { case _: java.io.EOFException => return None }
    }
    if (len < 0 || len > 64L * 1024 * 1024) return None
    val mask = if (masked) { val m = new Array[Byte](4); in.readFully(m); m } else null
    val payload = new Array[Byte](len.toInt)
    in.readFully(payload)
    if (masked) payload.indices.foreach { i =>
      payload(i) = (payload(i) ^ mask(i % 4)).toByte
    }
    Some((opcode, payload))
  }

  def writeFrame(out: DataOutputStream, opcode: Int, payload: Array[Byte],
      maskKey: Option[Array[Byte]] = None): Unit = out.synchronized {
    out.write(0x80 | opcode) // FIN + opcode
    val maskBit = if (maskKey.isDefined) 0x80 else 0
    val len = payload.length
    if (len < 126) out.write(maskBit | len)
    else if (len < 65536) { out.write(maskBit | 126); out.write(len >> 8); out.write(len & 0xff) }
    else { out.write(maskBit | 127); out.writeLong(len.toLong) }
    maskKey match {
      case Some(mk) =>
        out.write(mk)
        val masked = payload.indices.map(i => (payload(i) ^ mk(i % 4)).toByte).toArray
        out.write(masked)
      case None => out.write(payload)
    }
    out.flush()
  }

  def writeText(out: DataOutputStream, s: String,
      maskKey: Option[Array[Byte]] = None): Unit =
    writeFrame(out, OpText, s.getBytes(StandardCharsets.UTF_8), maskKey)
}

/** Minimal WebSocket client for the REPL — the transport `glsh`
  * (src/bin/glsh.rs:57-230) uses: handshake, masked text frames, banner
  * consumption left to the caller. Used by `graft.Shell --ws` and the
  * WsRepl spec. */
class WsClient(host: String, port: Int, path: String = "/api/repl",
    apiKey: Option[String] = None) {
  private val sock = new Socket(host, port)
  private val in = new DataInputStream(sock.getInputStream)
  private val out = new DataOutputStream(sock.getOutputStream)
  private val rnd = new scala.util.Random(42)

  {
    val key = Base64.getEncoder.encodeToString(Array.fill[Byte](16)(rnd.nextInt().toByte))
    val hdrs = new StringBuilder
    hdrs.append(s"GET $path HTTP/1.1\r\nHost: $host:$port\r\n")
    hdrs.append("Upgrade: websocket\r\nConnection: Upgrade\r\n")
    hdrs.append(s"Sec-WebSocket-Key: $key\r\nSec-WebSocket-Version: 13\r\n")
    apiKey.foreach(k => hdrs.append(s"X-API-Key: $k\r\n"))
    hdrs.append("\r\n")
    out.write(hdrs.toString.getBytes(StandardCharsets.UTF_8))
    out.flush()
    // read the 101 response headers
    val sb = new StringBuilder
    while (!sb.endsWith("\r\n\r\n")) {
      val b = in.read()
      if (b < 0) throw new java.io.IOException("connection closed during handshake")
      sb.append(b.toChar)
      if (sb.length > 16384) throw new java.io.IOException("oversized handshake response")
    }
    if (!sb.toString.startsWith("HTTP/1.1 101"))
      throw new java.io.IOException("handshake rejected: " + sb.toString.linesIterator.next())
  }

  def sendText(s: String): Unit =
    WsFrames.writeText(out, s, Some(Array.fill[Byte](4)(rnd.nextInt().toByte)))

  /** Next text frame (pongs skipped); None on close/EOF. */
  def recvText(timeoutMs: Int = 120000): Option[String] = {
    sock.setSoTimeout(timeoutMs)
    try {
      var r: Option[String] = None
      var done = false
      while (!done) {
        WsFrames.readFrame(in) match {
          case Some((WsFrames.OpText, p)) =>
            r = Some(new String(p, StandardCharsets.UTF_8)); done = true
          case Some((WsFrames.OpClose, _)) | None => done = true
          case Some(_) => () // pong etc.
        }
      }
      r
    } catch { case _: SocketTimeoutException => None }
  }

  def close(): Unit = {
    try WsFrames.writeFrame(out, WsFrames.OpClose, Array.emptyByteArray,
      Some(Array.fill[Byte](4)(rnd.nextInt().toByte)))
    catch { case NonFatal(_) => }
    try sock.close() catch { case NonFatal(_) => }
  }
}
