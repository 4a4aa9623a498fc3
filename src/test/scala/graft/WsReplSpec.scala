package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

import graft.api.{ApiServer, EngineBroker, WsClient}
import graft.engine.GraphSession
import graft.io.GraphStore

/** WebSocket REPL (API2, server.rs:179-230) + headless daemon with
  * dirty-flag autosave (API5/API6, main.rs:214-289). */
class WsReplSpec extends AnyFunSuite {

  lazy val spark = SparkTestSession.spark

  private def awaitTrue(timeoutMs: Long)(cond: => Boolean): Boolean = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (System.currentTimeMillis() < deadline) {
      if (cond) return true
      Thread.sleep(100)
    }
    cond
  }

  /** A standards-formed upgrade request for raw-socket clients. */
  private val wsUpgrade = ("GET /api/repl HTTP/1.1\r\nHost: x\r\n" +
    "Upgrade: websocket\r\nConnection: Upgrade\r\n" +
    "Sec-WebSocket-Key: ZHVtbXlrZXlkdW1teWtleQ==\r\n" +
    "Sec-WebSocket-Version: 13\r\n\r\n").getBytes

  test("ws_repl_banner_roundtrip_and_error") {
    val broker = new EngineBroker(new GraphSession(spark))
    val ws = new ApiServer(broker)
    val port = ws.start()
    try {
      val c = new WsClient("127.0.0.1", port)
      assert(c.recvText(5000).exists(_.contains("REPL ready")), "banner expected")
      c.sendText("CREATE (:Person {name: 'Ada'})")
      val created = c.recvText().get
      assert(created.contains("\"mutated\": true"))
      c.sendText("MATCH (p:Person) RETURN p")
      val matched = c.recvText().get
      assert(matched.contains("\"kind\": \"node\"") && matched.contains("Ada"))
      c.sendText("COMPLETELY INVALID SYNTAX ???")
      val err = c.recvText().get
      assert(err.startsWith("error: "), s"expected error reply, got: $err")
      c.close()
    } finally { ws.stop(); broker.stop() }
  }

  test("ws_repl_api_key_checked_at_upgrade") {
    val broker = new EngineBroker(new GraphSession(spark))
    val ws = new ApiServer(broker, apiKey = Some("sekrit"))
    val port = ws.start()
    try {
      intercept[java.io.IOException] { new WsClient("127.0.0.1", port) }
      val ok = new WsClient("127.0.0.1", port, apiKey = Some("sekrit"))
      assert(ok.recvText(5000).exists(_.contains("REPL ready")))
      ok.close()
    } finally { ws.stop(); broker.stop() }
  }

  test("ws_server_survives_abusive_clients") {
    // the server must shrug off every abuse shape a public socket sees — garbage instead of HTTP, a
    // handshake cut mid-header, an upgraded client sending raw noise,
    // an over-cap declared frame length — and still serve the next
    // healthy client
    val broker = new EngineBroker(new GraphSession(spark))
    val ws = new ApiServer(broker)
    val port = ws.start()
    // sends `bytes`, then returns what the server wrote until it closed
    // (or went quiet for 2 s)
    def raw(bytes: Array[Byte]): String = {
      val s = new java.net.Socket("127.0.0.1", port)
      val got = new java.io.ByteArrayOutputStream()
      try {
        s.getOutputStream.write(bytes); s.getOutputStream.flush()
        s.setSoTimeout(2000)
        try {
          var b = s.getInputStream.read()
          while (b >= 0) { got.write(b); b = s.getInputStream.read() }
        } catch { case _: java.io.IOException => () }
      } finally s.close()
      got.toString("ISO-8859-1")
    }
    try {
      raw(Array[Byte](0, 1, 2, 3, -1, -2))                  // not HTTP at all
      raw("POST /api/repl HTTP/1.1\r\n\r\n".getBytes)       // wrong method
      raw("GET /api/repl HTTP/1.1\r\nHost: x".getBytes)     // cut mid-header
      raw(("GET /api/repl HTTP/1.1\r\nx: " + "a" * 20000).getBytes) // over 16k cap
      raw("GET /nope HTTP/1.1\r\nSec-WebSocket-Key: aaaa\r\n\r\n".getBytes)
      // a bare upgrade (no Upgrade/Connection/version headers, so it is
      // refused before any frame is read), then frame-layer abuse
      val handshake = ("GET /api/repl HTTP/1.1\r\n" +
        "Sec-WebSocket-Key: ZHVtbXlrZXlkdW1teWtleQ==\r\n\r\n").getBytes
      val frameAbuse = Seq(
        Array[Byte](-1, -1, -1, -1),                        // junk frame header
        Array[Byte](0x81.toByte, 0xff.toByte,
          0x7f, 0x7f, 0x7f, 0x7f, 0x7f, 0x7f, 0x7f, 0x7f),  // 64-bit len >> cap
        Array[Byte](0x81.toByte, 0x7e.toByte, 0x7f))        // truncated len16
      frameAbuse.foreach(f => raw(handshake ++ f))
      // the same frames after a standards-formed upgrade, which the
      // server accepts (101), so they reach the frame decoder
      for (f <- frameAbuse) {
        val reply = raw(wsUpgrade ++ f)
        assert(reply.startsWith("HTTP/1.1 101"), reply.take(80))
      }
      // the server is still healthy for a real client
      val c = new WsClient("127.0.0.1", port)
      assert(c.recvText(5000).exists(_.contains("REPL ready")))
      c.sendText("CREATE (n:Ping {k:'alive'}) RETURN n")
      assert(c.recvText(5000).exists(_.contains("alive")))
      c.close()
    } finally { ws.stop(); broker.stop() }
  }

  test("ws_frame_sizes_over_the_wire") {
    // payloads on each side of the 7-bit / 16-bit / 64-bit length
    // encodings, through the server, both ways. An unrecognized
    // statement comes back as `error: unrecognized statement: <stmt>`,
    // so a statement of n bytes is a client payload of exactly n bytes,
    // and one of n - 31 bytes draws a reply frame of exactly n bytes.
    // The server never sends an empty text frame, so 0 runs client to
    // server only: a blank line draws no reply.
    val broker = new EngineBroker(new GraphSession(spark))
    val ws = new ApiServer(broker)
    val port = ws.start()
    val prefix = "error: unrecognized statement: "
    def stmt(n: Int) = Seq.tabulate(n)(i => ('A' + i % 26).toChar).mkString
    try {
      // the JDK client, which sends a message over 16 KiB as 16 KiB
      // fragments that the server reassembles
      val c = new WsClient("127.0.0.1", port)
      assert(c.recvText(5000).exists(_.contains("REPL ready")))
      for (n <- Seq(0, 125, 126, 65535, 65536, 70000)) {
        c.sendText(stmt(n))
        if (n > 0) assert(c.recvText(30000).contains(prefix + stmt(n)), s"client payload of $n")
        if (n > prefix.length) {
          c.sendText(stmt(n - prefix.length))
          val reply = c.recvText(30000).get
          assert(reply.getBytes("UTF-8").length == n && reply == prefix + stmt(n - prefix.length),
            s"server frame of $n")
        }
      }
      c.sendText("PROBE")
      assert(c.recvText(30000).contains(prefix + "PROBE"))
      c.close()

      // a raw socket sends each size as ONE masked frame, so the
      // server decodes the 16-bit and 64-bit client lengths too
      val s = new java.net.Socket("127.0.0.1", port)
      try {
        s.setSoTimeout(30000)
        val out = new java.io.DataOutputStream(s.getOutputStream)
        val in = new java.io.DataInputStream(s.getInputStream)
        out.write(wsUpgrade)
        var head = ""
        while (!head.endsWith("\r\n\r\n")) head += in.read().toChar
        assert(head.startsWith("HTTP/1.1 101"), head)
        def readText(): String = {
          assert(in.read() == 0x81) // FIN + text
          val len = in.read() match {
            case 126 => in.readUnsignedShort().toLong
            case 127 => in.readLong()
            case n => n.toLong
          }
          val p = new Array[Byte](len.toInt)
          in.readFully(p)
          new String(p, "UTF-8")
        }
        assert(readText().contains("REPL ready"))
        for (n <- Seq(0, 125, 126, 65535, 65536, 70000)) {
          out.write(0x81)
          if (n < 126) out.write(0x80 | n)
          else if (n < 65536) { out.write(0x80 | 126); out.writeShort(n) }
          else { out.write(0x80 | 127); out.writeLong(n.toLong) }
          out.writeInt(0) // all-zero mask key: the payload goes as is
          out.write(stmt(n).getBytes)
          out.flush()
          if (n > 0) assert(readText() == prefix + stmt(n), s"single client frame of $n")
        }
      } finally s.close()
    } finally { ws.stop(); broker.stop() }
  }

  test("one_port_serves_http_and_repl_in_order") {
    import java.net.URI
    import java.net.http.{HttpClient, HttpRequest, HttpResponse}
    val broker = new EngineBroker(new GraphSession(spark))
    val api = new ApiServer(broker)
    val port = api.start()
    def send(path: String, body: Option[String]): HttpResponse[String] = {
      val b = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
      body.foreach(x => b.POST(HttpRequest.BodyPublishers.ofString(x)))
      HttpClient.newHttpClient().send(b.build(), HttpResponse.BodyHandlers.ofString())
    }
    try {
      val created = send("/api/query", Some("""{"query": "CREATE (:Seq {k: 'a'})"}"""))
      assert(created.statusCode() == 200 && created.body().contains(""""mutated":true"""))
      assert(send("/nope", None).statusCode() == 404)
      assert(send("/api/query/x", Some("{}")).statusCode() == 404)
      assert(send("/api/query", None).statusCode() == 405)
      val c = new WsClient("127.0.0.1", port)
      assert(c.recvText(5000).exists(_.contains("REPL ready")))
      // a Spark-backed read, then an instant parse error, back to back:
      // the replies come back in send order
      c.sendText("MATCH (s:Seq) RETURN s.k")
      c.sendText("SECOND")
      val first = c.recvText(30000).get
      assert(first.startsWith("{") && first.contains("\"a\""), first)
      assert(c.recvText(30000).contains("error: unrecognized statement: SECOND"))
      c.close()
    } finally { api.stop(); broker.stop() }
  }

  test("daemon_autosave_within_window_and_reload") {
    val dir = Files.createTempDirectory("graft_daemon").toString
    val session = new GraphSession(spark)
    val daemon = new Serve.Daemon(session, dir, autosaveSecs = 1)
    val (port, _) = daemon.start()
    try {
      val c = new WsClient("127.0.0.1", port)
      c.recvText(5000) // banner
      c.sendText("CREATE (:Person {name: 'Ada'})")
      assert(c.recvText().exists(_.contains("\"mutated\": true")))
      // the dirty flag must trigger a snapshot within the autosave window
      assert(awaitTrue(15000)(GraphStore.listVersions(dir).nonEmpty),
        "autosave did not produce a snapshot")
      c.close()
    } finally daemon.stop()
    // a fresh daemon on the same data dir reloads the active snapshot —
    // the durable-commit path a cluster deployment relies on after
    // losing localCheckpoint storage
    val s2 = new GraphSession(spark)
    new Serve.Daemon(s2, dir)
    assert(s2.nodeCount == 1)
    assert(s2.execute("MATCH (p:Person) RETURN p").rows
      .exists(_.properties.get("name").contains("Ada")))
  }

  test("ws_request_past_its_timeout_logs_504") {
    // the REPL hands each line to the broker with its 60 s timeout and
    // the name WS; the broker alone decides the logged status, so a
    // WS request given a 1 s timeout shows what a REPL timeout logs
    val release = new java.util.concurrent.CountDownLatch(1)
    val session = new GraphSession(spark) {
      override def execute(query: String): graft.engine.QueryOutcome = {
        if (query == "block") release.await(60, java.util.concurrent.TimeUnit.SECONDS)
        graft.engine.QueryOutcome(Nil, 0L, 0L, mutated = false)
      }
    }
    val logDir = Files.createTempDirectory("graft_ws_timeout")
    val broker = new EngineBroker(session, Some(logDir.toString))
    broker.start()
    try {
      assert(broker.submit("block", None, 1, "WS").join() == graft.api.Reply.TimedOut)
      val Seq((rid, "WS", 5)) = ApiLog.queries(logDir)
      assert(ApiLog.statuses(logDir) == Seq(rid -> 504))
    } finally { release.countDown(); broker.stop() }
  }
}
