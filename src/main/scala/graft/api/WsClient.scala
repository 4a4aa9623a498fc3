package graft.api

import java.io.IOException
import java.net.URI
import java.net.http.{HttpClient, WebSocket}
import java.util.concurrent.{CompletableFuture, CompletionStage, ExecutionException,
  LinkedBlockingQueue, TimeUnit}
import scala.util.control.NonFatal

/** Minimal WebSocket client for the REPL — the transport `glsh`
  * (src/bin/glsh.rs:57-230) uses: text messages in and out, banner
  * consumption left to the caller. Built on the JDK's
  * `java.net.http.WebSocket`; a rejected handshake throws IOException.
  * Used by `graft.Shell --ws` and the REPL specs. */
class WsClient(host: String, port: Int, path: String = "/api/repl",
    apiKey: Option[String] = None) {

  // whole messages in arrival order; None marks the end of the stream
  private val inbox = new LinkedBlockingQueue[Option[String]]()
  private val closed = new CompletableFuture[Unit]()

  private val listener = new WebSocket.Listener {
    private val parts = new StringBuilder

    override def onText(ws: WebSocket, data: CharSequence, last: Boolean): CompletionStage[_] = {
      parts.append(data)
      if (last) { inbox.put(Some(parts.toString)); parts.clear() }
      ws.request(1)
      null
    }

    override def onClose(ws: WebSocket, code: Int, reason: String): CompletionStage[_] = {
      inbox.put(None); closed.complete(()); null
    }

    override def onError(ws: WebSocket, e: Throwable): Unit = {
      inbox.put(None); closed.complete(())
    }
  }

  private val ws: WebSocket = {
    val b = HttpClient.newHttpClient().newWebSocketBuilder()
    apiKey.foreach(k => b.header("X-API-Key", k))
    await(b.buildAsync(URI.create(s"ws://$host:$port$path"), listener))
  }

  private def await[T](f: CompletableFuture[T]): T =
    try f.get()
    catch {
      case e: ExecutionException => e.getCause match {
        case io: IOException => throw io // incl. WebSocketHandshakeException
        case c => throw new IOException(c)
      }
    }

  def sendText(s: String): Unit = await(ws.sendText(s, true))

  /** Next text message (pongs skipped); None on close/EOF or after
    * `timeoutMs`. */
  def recvText(timeoutMs: Int = 120000): Option[String] =
    inbox.poll(timeoutMs, TimeUnit.MILLISECONDS) match {
      case null => None
      case None => inbox.put(None); None // later calls see the close too
      case msg => msg
    }

  /** Sends a close frame, waits briefly for the server's, then drops the
    * connection. */
  def close(): Unit = {
    try {
      ws.sendClose(WebSocket.NORMAL_CLOSURE, "").get(5, TimeUnit.SECONDS)
      closed.get(5, TimeUnit.SECONDS)
    } catch { case NonFatal(_) => }
    ws.abort()
  }
}
