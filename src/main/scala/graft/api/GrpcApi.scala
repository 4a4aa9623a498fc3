package graft.api

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, InputStream}
import java.net.InetSocketAddress
import java.util.concurrent.{TimeUnit, TimeoutException}
import scala.collection.mutable

import org.sparkproject.connect.grpc.{CallOptions, Channel, ClientCall, ClientInterceptor, ForwardingClientCall, Metadata, MethodDescriptor, Server, ServerCall, ServerCallHandler, ServerInterceptor, ServerInterceptors, ServerServiceDefinition, Status}
import org.sparkproject.connect.grpc.netty.{NettyChannelBuilder, NettyServerBuilder}
import org.sparkproject.connect.grpc.stub.{ClientCalls, ServerCalls, StreamObserver}
import org.sparkproject.connect.protobuf.{CodedInputStream, CodedOutputStream}

import graft.engine.{QueryOutcome, ResultRow}

/** gRPC `graph_loom.GraphQuery/Execute` — parity with the reference's
  * tonic service (src/api/grpc.rs:20-98, proto/graph_loom.proto:1-43):
  * unary Execute, `x-api-key` checked in request metadata
  * (UNAUTHENTICATED on mismatch), engine errors returned IN-BAND via
  * the response's `error` field, DEADLINE_EXCEEDED after the 30 s
  * broker timeout. Execution shares the single-engine-thread
  * [[EngineBroker]] with HTTP and the WS REPL.
  *
  * No grpc-java artifact resolves in the offline sandbox, but Spark
  * Connect ships a complete shaded gRPC+protobuf runtime
  * (`org.sparkproject.connect.{grpc,protobuf}`) on the provided Spark
  * classpath — public Spark distribution content. The three proto
  * messages are tiny, so their proto3 wire format is hand-rolled with
  * CodedInput/OutputStream ([[GraphLoomProto]]) instead of generating
  * stubs with protoc (also unavailable offline). Wire-compatible with
  * any stock protobuf client generated from graph_loom.proto.
  */
object GraphLoomProto {

  final case class PbNode(id: String, label: String,
      metadata: Seq[(String, String)])
  final case class PbRel(id: String, fromId: String, toId: String,
      label: String, metadata: Seq[(String, String)])
  sealed trait PbItem
  final case class ItemNode(n: PbNode) extends PbItem
  final case class ItemRel(r: PbRel) extends PbItem
  final case class ItemInfo(s: String) extends PbItem
  final case class PbRequest(query: String = "",
      params: Map[String, String] = Map.empty, log: Boolean = false)
  final case class PbResponse(rows: Seq[PbItem] = Nil,
      affectedNodes: Long = 0L, affectedRels: Long = 0L,
      mutated: Boolean = false, error: String = "")

  // ---------------------------------------------------------------- encode

  private def msgBytes(f: CodedOutputStream => Unit): Array[Byte] = {
    val baos = new ByteArrayOutputStream()
    val cos = CodedOutputStream.newInstance(baos)
    f(cos)
    cos.flush()
    baos.toByteArray
  }

  /** proto3 map<string,string> entry: key=1, value=2. Canonical
    * implementations (protobuf-java MapEntry, C++, prost) serialize
    * BOTH fields unconditionally, even at default values — matching
    * that keeps these frames byte-identical to generated-stub output
    * (pinned against the stock runtime in GrpcWireCompatSpec). */
  private def writeMapEntries(out: CodedOutputStream, field: Int,
      entries: Seq[(String, String)]): Unit =
    entries.foreach { case (k, v) =>
      out.writeByteArray(field, msgBytes { e =>
        e.writeString(1, k)
        e.writeString(2, v)
      })
    }

  private def nodeBytes(n: PbNode): Array[Byte] = msgBytes { out =>
    if (n.id.nonEmpty) out.writeString(1, n.id)
    if (n.label.nonEmpty) out.writeString(2, n.label)
    writeMapEntries(out, 3, n.metadata)
  }

  private def relBytes(r: PbRel): Array[Byte] = msgBytes { out =>
    if (r.id.nonEmpty) out.writeString(1, r.id)
    if (r.fromId.nonEmpty) out.writeString(2, r.fromId)
    if (r.toId.nonEmpty) out.writeString(3, r.toId)
    if (r.label.nonEmpty) out.writeString(4, r.label)
    writeMapEntries(out, 5, r.metadata)
  }

  private def rowBytes(item: PbItem): Array[Byte] = msgBytes { out =>
    item match {
      // oneof fields are written even at default values (presence!)
      case ItemNode(n) => out.writeByteArray(1, nodeBytes(n))
      case ItemRel(r)  => out.writeByteArray(2, relBytes(r))
      case ItemInfo(s) => out.writeString(3, s)
    }
  }

  def requestBytes(r: PbRequest): Array[Byte] = msgBytes { out =>
    if (r.query.nonEmpty) out.writeString(1, r.query)
    writeMapEntries(out, 2, r.params.toSeq)
    if (r.log) out.writeBool(3, true)
  }

  def responseBytes(r: PbResponse): Array[Byte] = msgBytes { out =>
    r.rows.foreach(item => out.writeByteArray(1, rowBytes(item)))
    if (r.affectedNodes != 0L) out.writeUInt64(2, r.affectedNodes)
    if (r.affectedRels != 0L) out.writeUInt64(3, r.affectedRels)
    if (r.mutated) out.writeBool(4, true)
    if (r.error.nonEmpty) out.writeString(5, r.error)
  }

  // ---------------------------------------------------------------- decode

  private def tagOf(field: Int, wire: Int): Int = (field << 3) | wire

  private def parseMapEntry(in: CodedInputStream): (String, String) = {
    var k = ""; var v = ""
    var done = false
    while (!done) in.readTag() match {
      case 0 => done = true
      case t if t == tagOf(1, 2) => k = in.readString()
      case t if t == tagOf(2, 2) => v = in.readString()
      case t => in.skipField(t)
    }
    (k, v)
  }

  private def parseDelimited[T](in: CodedInputStream)(f: CodedInputStream => T): T = {
    val len = in.readRawVarint32()
    val limit = in.pushLimit(len)
    val r = f(in)
    in.popLimit(limit)
    r
  }

  def parseRequest(in: CodedInputStream): PbRequest = {
    var query = ""; var log = false
    val params = mutable.LinkedHashMap.empty[String, String]
    var done = false
    while (!done) in.readTag() match {
      case 0 => done = true
      case t if t == tagOf(1, 2) => query = in.readString()
      case t if t == tagOf(2, 2) => params += parseDelimited(in)(parseMapEntry)
      case t if t == tagOf(3, 0) => log = in.readBool()
      case t => in.skipField(t)
    }
    PbRequest(query, params.toMap, log)
  }

  private def parseNode(in: CodedInputStream): PbNode = {
    var id = ""; var label = ""
    val md = mutable.ArrayBuffer.empty[(String, String)]
    var done = false
    while (!done) in.readTag() match {
      case 0 => done = true
      case t if t == tagOf(1, 2) => id = in.readString()
      case t if t == tagOf(2, 2) => label = in.readString()
      case t if t == tagOf(3, 2) => md += parseDelimited(in)(parseMapEntry)
      case t => in.skipField(t)
    }
    PbNode(id, label, md.toSeq)
  }

  private def parseRel(in: CodedInputStream): PbRel = {
    var id = ""; var from = ""; var to = ""; var label = ""
    val md = mutable.ArrayBuffer.empty[(String, String)]
    var done = false
    while (!done) in.readTag() match {
      case 0 => done = true
      case t if t == tagOf(1, 2) => id = in.readString()
      case t if t == tagOf(2, 2) => from = in.readString()
      case t if t == tagOf(3, 2) => to = in.readString()
      case t if t == tagOf(4, 2) => label = in.readString()
      case t if t == tagOf(5, 2) => md += parseDelimited(in)(parseMapEntry)
      case t => in.skipField(t)
    }
    PbRel(id, from, to, label, md.toSeq)
  }

  private def parseRow(in: CodedInputStream): PbItem = {
    var item: PbItem = ItemInfo("")
    var done = false
    while (!done) in.readTag() match {
      case 0 => done = true
      case t if t == tagOf(1, 2) => item = ItemNode(parseDelimited(in)(parseNode))
      case t if t == tagOf(2, 2) => item = ItemRel(parseDelimited(in)(parseRel))
      case t if t == tagOf(3, 2) => item = ItemInfo(in.readString())
      case t => in.skipField(t)
    }
    item
  }

  def parseResponse(in: CodedInputStream): PbResponse = {
    val rows = mutable.ArrayBuffer.empty[PbItem]
    var an = 0L; var ar = 0L; var mutated = false; var error = ""
    var done = false
    while (!done) in.readTag() match {
      case 0 => done = true
      case t if t == tagOf(1, 2) => rows += parseDelimited(in)(parseRow)
      case t if t == tagOf(2, 0) => an = in.readUInt64()
      case t if t == tagOf(3, 0) => ar = in.readUInt64()
      case t if t == tagOf(4, 0) => mutated = in.readBool()
      case t if t == tagOf(5, 2) => error = in.readString()
      case t => in.skipField(t)
    }
    PbResponse(rows.toSeq, an, ar, mutated, error)
  }

  // ------------------------------------------------------------ marshallers

  private def marshaller[T](enc: T => Array[Byte],
      dec: CodedInputStream => T): MethodDescriptor.Marshaller[T] =
    new MethodDescriptor.Marshaller[T] {
      override def stream(value: T): InputStream =
        new ByteArrayInputStream(enc(value))
      override def parse(stream: InputStream): T =
        dec(CodedInputStream.newInstance(stream))
    }

  /** `graph_loom.GraphQuery/Execute` — full method name matches what
    * any stub generated from graph_loom.proto dials. */
  val executeMethod: MethodDescriptor[PbRequest, PbResponse] =
    MethodDescriptor.newBuilder(
        marshaller[PbRequest](requestBytes, parseRequest),
        marshaller[PbResponse](responseBytes, parseResponse))
      .setType(MethodDescriptor.MethodType.UNARY)
      .setFullMethodName(
        MethodDescriptor.generateFullMethodName("graph_loom.GraphQuery", "Execute"))
      .build()

  val apiKeyHeader: Metadata.Key[String] =
    Metadata.Key.of("x-api-key", Metadata.ASCII_STRING_MARSHALLER)
}

/** The server: [[GraphLoomProto.executeMethod]] over the shared broker. */
class GrpcApi(broker: EngineBroker, port: Int = 0,
    apiKey: Option[String] = None, bindAddr: String = "127.0.0.1",
    timeoutSec: Long = 30) {
  import GraphLoomProto._

  private def toItem(r: ResultRow): PbItem = r.kind match {
    case "node" => ItemNode(PbNode(r.id, r.label, r.properties.toSeq.sortBy(_._1)))
    case "relationship" =>
      ItemRel(PbRel(r.id, r.src, r.dst, r.label, r.properties.toSeq.sortBy(_._1)))
    case _ => ItemInfo(r.info)
  }

  private val handler = ServerCalls.asyncUnaryCall(
    new ServerCalls.UnaryMethod[PbRequest, PbResponse] {
      override def invoke(req: PbRequest, obs: StreamObserver[PbResponse]): Unit = {
        val rid = broker.nextRid()
        broker.apiLog.foreach(_.append(s"rid=$rid gRPC query qlen=${req.query.length}"))
        val t0 = System.nanoTime()
        def log(status: Int): Unit =
          broker.apiLog.foreach(_.logApi(rid, (System.nanoTime() - t0) / 1000000, status))
        // the reference gRPC bridge wraps the proto map in Some(...)
        // unconditionally (grpc.rs:44) — ALWAYS the with-params path,
        // even when the map is empty. The reply is finished from the
        // broker's future: no gRPC thread waits on the engine thread.
        broker.submit(req.query, Some(req.params))
          .orTimeout(timeoutSec, TimeUnit.SECONDS)
          .handleAsync[Unit]((result: Either[String, QueryOutcome], err: Throwable) =>
            (result, err) match {
              case (Right(out), _) =>
                log(200)
                obs.onNext(PbResponse(out.rows.map(toItem), out.affectedNodes,
                  out.affectedRels, out.mutated))
                obs.onCompleted()
              case (Left(msg), _) => // engine errors travel IN-BAND (grpc.rs:90-96)
                log(400)
                obs.onNext(PbResponse(error = msg))
                obs.onCompleted()
              case (_, _: TimeoutException) =>
                log(504)
                obs.onError(Status.DEADLINE_EXCEEDED
                  .withDescription("query timeout").asRuntimeException())
              case (_, e) =>
                log(500)
                obs.onError(Status.INTERNAL.withCause(e)
                  .withDescription(String.valueOf(e.getMessage)).asRuntimeException())
            })
      }
    })

  // x-api-key gate (grpc.rs:26-33): UNAUTHENTICATED unless the metadata
  // key matches the configured one
  private val auth = new ServerInterceptor {
    override def interceptCall[A, B](call: ServerCall[A, B], headers: Metadata,
        next: ServerCallHandler[A, B]): ServerCall.Listener[A] = {
      val ok = apiKey.forall(k => Option(headers.get(apiKeyHeader)).contains(k))
      if (ok) next.startCall(call, headers)
      else {
        call.close(Status.UNAUTHENTICATED
          .withDescription("invalid or missing api key"), new Metadata())
        new ServerCall.Listener[A] {}
      }
    }
  }

  private val service: ServerServiceDefinition = ServerInterceptors.intercept(
    ServerServiceDefinition.builder("graph_loom.GraphQuery")
      .addMethod(executeMethod, handler).build(),
    auth)

  private var server: Server = _

  def start(): Int = synchronized {
    broker.start()
    server = NettyServerBuilder
      .forAddress(new InetSocketAddress(bindAddr, port))
      .addService(service)
      .build()
      .start()
    server.getPort
  }

  def stop(): Unit = synchronized {
    if (server != null) { server.shutdownNow(); server = null }
  }
}

/** Minimal blocking client — the counterpart of the reference's
  * examples/python_client/client.py, used by the spec and `graft.Shell
  * --grpc`-style tooling. */
class GrpcClient(host: String, port: Int, apiKey: Option[String] = None) {
  import GraphLoomProto._

  private val channel = {
    val b = NettyChannelBuilder.forAddress(host, port).usePlaintext()
    b.build()
  }

  private def callOptionsChannel: Channel = apiKey match {
    case None => channel
    case Some(k) =>
      org.sparkproject.connect.grpc.ClientInterceptors.intercept(channel,
        new ClientInterceptor {
          override def interceptCall[A, B](m: MethodDescriptor[A, B],
              o: CallOptions, ch: Channel): ClientCall[A, B] =
            new ForwardingClientCall.SimpleForwardingClientCall[A, B](
              ch.newCall(m, o)) {
              override def start(l: ClientCall.Listener[B], h: Metadata): Unit = {
                h.put(apiKeyHeader, k)
                super.start(l, h)
              }
            }
        })
  }

  def execute(query: String, params: Map[String, String] = Map.empty,
      log: Boolean = false): PbResponse =
    ClientCalls.blockingUnaryCall(callOptionsChannel, executeMethod,
      CallOptions.DEFAULT, PbRequest(query, params, log))

  def close(): Unit = channel.shutdownNow()
}
