package graft.api

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.{CompletableFuture, TimeUnit}
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.core.JsonProcessingException
import io.netty.bootstrap.ServerBootstrap
import io.netty.buffer.Unpooled
import io.netty.channel._
import io.netty.channel.nio.NioIoHandler
import io.netty.channel.socket.SocketChannel
import io.netty.channel.socket.nio.NioServerSocketChannel
import io.netty.handler.codec.http._
import io.netty.handler.codec.http.websocketx._
import io.netty.util.concurrent.DefaultThreadFactory

import graft.Json

/** The reference's API server (api/server.rs:60-259): `POST /api/query`
  * and the `/api/repl` WebSocket REPL on one port, like its single actix
  * server on `api_port`. One Netty pipeline per connection:
  * `HttpServerCodec` → keep-alive → body cap → [[Router]] → the
  * WebSocket handshake and frame cap → fragment reassembly → [[Repl]].
  *
  *  - `POST /api/query`: JSON `{query, params?, log?}` in, DTO rows +
  *    counters out ([[Dto.outcomeJson]]); 400 with the raw error string,
  *    504 after 30 s, 401 on a wrong `X-API-Key`, 405, 413 past 8 MB.
  *  - `/api/repl`: banner on connect, one text frame per query, a
  *    pretty-JSON reply ([[Dto.outcomeJsonPretty]]), `error: <msg>`,
  *    `timeout` after 60 s, ping→pong, close honored; `X-API-Key`
  *    checked at the upgrade; frames and messages capped at 64 MB.
  *    Fragmented messages are reassembled: the JDK client splits
  *    anything over 16 KiB into 16 KiB frames.
  *
  * Transport only: queries run on the shared [[EngineBroker]] engine
  * thread, serialized with every other transport (SURVEY §3/API4). The
  * broker mints each request's id and writes its api-log lines (`HTTP`
  * or `WS`); this server writes only the REPL's `WS connected` and
  * `WS closed` lines. No thread waits for a query: each reply is
  * written from the broker's future on the connection's event loop.
  * The caller owns the broker.
  */
class ApiServer(broker: EngineBroker, port: Int = 0,
    apiKey: Option[String] = None, bindAddr: String = "127.0.0.1") {
  import ApiServer._

  private val group = new MultiThreadIoEventLoopGroup(2,
    new DefaultThreadFactory("graft-api", true), NioIoHandler.newFactory())
  private var channel: Channel = _

  private val wsConfig = WebSocketServerProtocolConfig.newBuilder()
    .websocketPath(ReplPath).checkStartsWith(true)
    .handleCloseFrames(false) // Repl answers them and writes "WS closed"
    .decoderConfig(WebSocketDecoderConfig.newBuilder()
      .maxFramePayloadLength(MaxFrameBytes).build())
    .build()

  /** Binds the configured address only (settings.rs api_bind_addr,
    * default loopback; server.rs:233-259) and returns the bound port. */
  def start(): Int = {
    broker.start()
    channel = new ServerBootstrap().group(group)
      .channel(classOf[NioServerSocketChannel])
      .childHandler(new ChannelInitializer[SocketChannel] {
        override def initChannel(ch: SocketChannel): Unit = ch.pipeline().addLast(
          new HttpServerCodec(), new HttpServerKeepAliveHandler, new BodyCap, new Router,
          new WebSocketServerProtocolHandler(wsConfig),
          new WebSocketFrameAggregator(MaxFrameBytes), new Repl)
      })
      .bind(bindAddr, port).sync().channel()
    channel.localAddress.asInstanceOf[InetSocketAddress].getPort
  }

  def stop(): Unit = {
    if (channel != null) channel.close().syncUninterruptibly()
    group.shutdownGracefully(0, 2, TimeUnit.SECONDS).syncUninterruptibly()
  }

  /** Aggregates each request body up to the cap; a larger one is
    * answered 413 instead of buffered (one oversized POST must not OOM
    * the driver JVM that also hosts the graph). */
  private final class BodyCap extends HttpObjectAggregator(MaxBodyBytes) {
    override protected def handleOversizedMessage(ctx: ChannelHandlerContext,
        oversized: HttpMessage): Unit =
      respond(ctx, 413, "request body too large")
  }

  /** `POST /api/query` is answered here; the `/api/repl` upgrade, once
    * its key checks out, and the frames after it pass on. */
  private final class Router extends ChannelInboundHandlerAdapter {
    private val lane = new Lane

    override def channelRead(ctx: ChannelHandlerContext, msg: AnyRef): Unit = msg match {
      case req: FullHttpRequest if req.decoderResult.isSuccess &&
          path(req) == ReplPath && keyOk(req) =>
        ctx.fireChannelRead(req)
      case req: FullHttpRequest =>
        try route(ctx, req) finally req.release()
      case frame => ctx.fireChannelRead(frame)
    }

    private def path(req: FullHttpRequest): String = new QueryStringDecoder(req.uri).path

    private def keyOk(req: FullHttpRequest): Boolean =
      apiKey.forall(_ == req.headers.get("X-API-Key"))

    private def route(ctx: ChannelHandlerContext, req: FullHttpRequest): Unit =
      if (req.decoderResult.isFailure) respond(ctx, 400, "bad request")
      else if (path(req) == ReplPath) respond(ctx, 401, "unauthorized")
      else if (path(req) != QueryPath) respond(ctx, 404, "unknown path")
      else if (req.method != HttpMethod.POST) respond(ctx, 405, "method not allowed")
      else if (!keyOk(req)) respond(ctx, 401, "unauthorized")
      else parseBody(req.content.toString(StandardCharsets.UTF_8)) match {
        case None => respond(ctx, 400, "malformed request body")
        case Some((query, params)) => lane.add(ctx)(() => answer(ctx, query, params))
      }

    private def answer(ctx: ChannelHandlerContext, query: String,
        params: Option[Map[String, String]]): CompletableFuture[Unit] =
      broker.submit(query, params, HttpTimeoutSec, "HTTP").thenApplyAsync[Unit](
        (reply: Reply) => reply match {
          case Reply.Answered(out) => respond(ctx, 200, Dto.outcomeJson(out), "application/json")
          case Reply.EngineError(msg) => respond(ctx, 400, msg)
          case Reply.TimedOut => respond(ctx, 504, "query timeout")
          case Reply.Failed(e) => respond(ctx, 500, Option(e.getMessage).getOrElse("error"))
        },
        ctx.executor())
  }

  /** The REPL side of an upgraded connection. Ping→pong is answered by
    * the protocol handler before frames get here. */
  private final class Repl extends SimpleChannelInboundHandler[WebSocketFrame] {
    private val lane = new Lane

    override def userEventTriggered(ctx: ChannelHandlerContext, evt: AnyRef): Unit = evt match {
      case _: WebSocketServerProtocolHandler.HandshakeComplete =>
        broker.apiLog.foreach(_.append("WS connected"))
        ctx.writeAndFlush(new TextWebSocketFrame(Banner))
      case _ => ctx.fireUserEventTriggered(evt)
    }

    override def channelRead0(ctx: ChannelHandlerContext, frame: WebSocketFrame): Unit =
      frame match {
        case t: TextWebSocketFrame =>
          val query = t.text.trim
          if (query.nonEmpty) lane.add(ctx)(() => answer(ctx, query))
        case _: CloseWebSocketFrame =>
          broker.apiLog.foreach(_.append("WS closed"))
          ctx.writeAndFlush(new CloseWebSocketFrame()).addListener(ChannelFutureListener.CLOSE)
        case _ => () // binary: ignored (text-only REPL)
      }

    // the reference WS REPL builds its ApiRequest with params: None
    // (server.rs:205) — always the no-params path
    private def answer(ctx: ChannelHandlerContext, query: String): CompletableFuture[Unit] =
      broker.submit(query, None, ReplTimeoutSec, "WS").thenApplyAsync[Unit](
        (reply: Reply) => {
          ctx.writeAndFlush(new TextWebSocketFrame(reply match {
            case Reply.Answered(out) => Dto.outcomeJsonPretty(out)
            case Reply.EngineError(msg) => s"error: $msg"
            case Reply.TimedOut => "timeout"
            case Reply.Failed(e) => s"error: ${e.getMessage}"
          }))
          ()
        },
        ctx.executor())

    override def exceptionCaught(ctx: ChannelHandlerContext, cause: Throwable): Unit =
      ctx.close()
  }

  /** `{"query": "...", "params": {...}, "log": bool}`: the top level
    * must be an object whose `query` is a string. `params` is optional
    * (None keeps the reference's no-params router split,
    * server.rs:64,149); its non-string values are dropped. */
  private def parseBody(body: String): Option[(String, Option[Map[String, String]])] = {
    val root =
      try Json.mapper.readTree(body)
      catch { case _: JsonProcessingException => return None }
    val query = root.path("query")
    val params = root.path("params")
    if (!root.isObject || !query.isTextual) None
    else if (params.isMissingNode || params.isNull) Some((query.textValue, None))
    else if (params.isObject) Some((query.textValue, Some(params.properties.asScala
      .collect { case e if e.getValue.isTextual => e.getKey -> e.getValue.textValue }.toMap)))
    else None
  }

  /** Writes one response; the keep-alive handler closes the
    * connection after it when the request asked for that. */
  private def respond(ctx: ChannelHandlerContext, code: Int, body: String,
      contentType: String = "text/plain; charset=utf-8"): Unit = {
    val res = new DefaultFullHttpResponse(HttpVersion.HTTP_1_1,
      HttpResponseStatus.valueOf(code), Unpooled.copiedBuffer(body, StandardCharsets.UTF_8))
    res.headers.set(HttpHeaderNames.CONTENT_TYPE, contentType)
    HttpUtil.setContentLength(res, res.content.readableBytes)
    ctx.writeAndFlush(res)
  }
}

object ApiServer {
  private val Banner = "graft REPL ready. Send queries as text.\n"
  private val QueryPath = "/api/query"
  private val ReplPath = "/api/repl"
  private val MaxBodyBytes = 8 * 1024 * 1024
  private val MaxFrameBytes = 64 * 1024 * 1024
  private val HttpTimeoutSec = 30L
  private val ReplTimeoutSec = 60L

  /** One connection's broker requests, run one at a time in arrival
    * order, so replies leave in request order: the REPL's one reply per
    * line, and HTTP/1.1 pipelining. Reading pauses while a request is
    * outstanding. Used on the connection's event loop only. */
  private final class Lane {
    private val pending = new java.util.ArrayDeque[() => CompletableFuture[Unit]]()
    private var busy = false

    def add(ctx: ChannelHandlerContext)(job: () => CompletableFuture[Unit]): Unit = {
      pending.add(job)
      if (!busy) next(ctx)
    }

    private def next(ctx: ChannelHandlerContext): Unit = {
      if (!ctx.channel.isActive) pending.clear() // the client left: run no more
      val job = pending.poll()
      busy = job != null
      ctx.channel.config.setAutoRead(!busy)
      if (busy) job().whenCompleteAsync((_: Unit, _: Throwable) => next(ctx), ctx.executor())
    }
  }
}
