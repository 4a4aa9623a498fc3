package graft.api

import java.io.{ByteArrayInputStream, InputStream}
import java.net.InetSocketAddress
import scala.jdk.CollectionConverters._

import org.sparkproject.connect.grpc.{Metadata, MethodDescriptor, Server, ServerCall, ServerCallHandler, ServerInterceptor, ServerInterceptors, ServerServiceDefinition, Status}
import org.sparkproject.connect.grpc.netty.NettyServerBuilder
import org.sparkproject.connect.grpc.protobuf.ProtoUtils
import org.sparkproject.connect.grpc.stub.{ServerCalls, StreamObserver}
import org.sparkproject.connect.protobuf.DescriptorProtos._
import org.sparkproject.connect.protobuf.DescriptorProtos.FieldDescriptorProto.Label.{LABEL_OPTIONAL, LABEL_REPEATED}
import org.sparkproject.connect.protobuf.DescriptorProtos.FieldDescriptorProto.Type.{TYPE_BOOL, TYPE_MESSAGE, TYPE_STRING, TYPE_UINT64}
import org.sparkproject.connect.protobuf.Descriptors.{Descriptor, FileDescriptor}
import org.sparkproject.connect.protobuf.{DynamicMessage, InvalidProtocolBufferException}

import graft.engine.{QueryOutcome, ResultRow}

/** gRPC `graph_loom.GraphQuery/Execute` — parity with the reference's
  * tonic service (src/api/grpc.rs:20-98, proto/graph_loom.proto:1-43):
  * unary Execute, `x-api-key` checked in request metadata
  * (UNAUTHENTICATED on mismatch), engine errors returned IN-BAND via
  * the response's `error` field, DEADLINE_EXCEEDED after the 30 s
  * broker timeout, INTERNAL for a request that does not decode (as
  * tonic answers one). Execution shares the single-engine-thread
  * [[EngineBroker]] with HTTP and the WS REPL; the broker mints each
  * call's request id and writes its `gRPC` api-log lines.
  *
  * No grpc-java artifact resolves offline and protoc is unavailable, but
  * Spark Connect ships the stock gRPC and protobuf-java runtimes, shaded
  * as `org.sparkproject.connect.{grpc,protobuf}`, on the Spark classpath.
  * [[GraphLoomProto]] holds graph_loom.proto as descriptors — what
  * protoc would embed in generated stubs — and the stock `DynamicMessage`
  * encodes and parses every message, so the wire format is the one any
  * stub generated from graph_loom.proto speaks.
  */
object GraphLoomProto {

  private def field(name: String, n: Int, t: FieldDescriptorProto.Type,
      typeName: String = "", repeated: Boolean = false,
      oneof: Boolean = false): FieldDescriptorProto = {
    val b = FieldDescriptorProto.newBuilder().setName(name).setNumber(n).setType(t)
      .setLabel(if (repeated) LABEL_REPEATED else LABEL_OPTIONAL)
    if (typeName.nonEmpty) b.setTypeName(s".graph_loom.$typeName")
    if (oneof) b.setOneofIndex(0)
    b.build()
  }

  private def str(name: String, n: Int) = field(name, n, TYPE_STRING)

  private def message(name: String, fields: FieldDescriptorProto*): DescriptorProto.Builder =
    DescriptorProto.newBuilder().setName(name).addAllField(fields.asJava)

  /** Adds `map<string, string> name = n;` to `m`: a repeated field of
    * its nested `<Name>Entry` type, as protoc declares a map. */
  private def withMap(m: DescriptorProto.Builder, name: String, n: Int) = {
    val entry = s"${name.capitalize}Entry"
    m.addField(field(name, n, TYPE_MESSAGE, s"${m.getName}.$entry", repeated = true))
      .addNestedType(message(entry, str("key", 1), str("value", 2))
        .setOptions(MessageOptions.newBuilder().setMapEntry(true)))
  }

  private val file: FileDescriptor = FileDescriptor.buildFrom(
    FileDescriptorProto.newBuilder()
      .setName("graph_loom.proto").setPackage("graph_loom").setSyntax("proto3")
      .addMessageType(withMap(message("QueryRequest", str("query", 1),
        field("log", 3, TYPE_BOOL)), "params", 2))
      .addMessageType(message("QueryResponse",
        field("rows", 1, TYPE_MESSAGE, "QueryRow", repeated = true),
        field("affected_nodes", 2, TYPE_UINT64),
        field("affected_relationships", 3, TYPE_UINT64),
        field("mutated", 4, TYPE_BOOL), str("error", 5)))
      .addMessageType(message("QueryRow",
          field("node", 1, TYPE_MESSAGE, "Node", oneof = true),
          field("relationship", 2, TYPE_MESSAGE, "Relationship", oneof = true),
          field("info", 3, TYPE_STRING, oneof = true))
        .addOneofDecl(OneofDescriptorProto.newBuilder().setName("item")))
      .addMessageType(withMap(message("Node", str("id", 1), str("label", 2)),
        "metadata", 3))
      .addMessageType(withMap(message("Relationship", str("id", 1), str("from_id", 2),
        str("to_id", 3), str("label", 4)), "metadata", 5))
      .build(),
    Array.empty[FileDescriptor])

  val QueryRequest: Descriptor = file.findMessageTypeByName("QueryRequest")
  val QueryResponse: Descriptor = file.findMessageTypeByName("QueryResponse")
  val QueryRow: Descriptor = file.findMessageTypeByName("QueryRow")
  val Node: Descriptor = file.findMessageTypeByName("Node")
  val Relationship: Descriptor = file.findMessageTypeByName("Relationship")

  /** A `d` message from (field name, value) pairs; a Seq fills a
    * repeated field and a null is left unset. Setting a proto3 scalar to
    * its default leaves it unset too (the runtime clears it), so only
    * oneof members and map entries carry default values on the wire —
    * as every generated proto3 serializer writes them. */
  private def msg(d: Descriptor, fields: (String, Any)*): DynamicMessage = {
    val b = DynamicMessage.newBuilder(d)
    for ((name, v) <- fields if v != null; f = d.findFieldByName(name)) v match {
      case vs: Seq[_] => vs.foreach(x => b.addRepeatedField(f, x.asInstanceOf[AnyRef]))
      case _ => b.setField(f, v.asInstanceOf[AnyRef])
    }
    b.build()
  }

  /** Metadata entries in key order, so a reply's bytes are deterministic. */
  private def entries(owner: Descriptor, kv: Map[String, String]): Seq[DynamicMessage] = {
    val d = owner.findFieldByName("metadata").getMessageType
    kv.toSeq.sortBy(_._1).map { case (k, v) => msg(d, "key" -> k, "value" -> v) }
  }

  private def row(r: ResultRow): DynamicMessage = msg(QueryRow, r.kind match {
    case "node" => "node" -> msg(Node, "id" -> r.id, "label" -> r.label,
      "metadata" -> entries(Node, r.properties))
    case "relationship" => "relationship" -> msg(Relationship, "id" -> r.id,
      "from_id" -> r.src, "to_id" -> r.dst, "label" -> r.label,
      "metadata" -> entries(Relationship, r.properties))
    case _ => "info" -> r.info
  })

  /** The QueryResponse for an outcome, or for an engine error, which
    * fills only `error` (grpc.rs:90-96). */
  def response(result: Either[String, QueryOutcome]): DynamicMessage = result match {
    case Right(out) => msg(QueryResponse, "rows" -> out.rows.map(row),
      "affected_nodes" -> out.affectedNodes,
      "affected_relationships" -> out.affectedRels, "mutated" -> out.mutated)
    case Left(error) => msg(QueryResponse, "error" -> error)
  }

  private def valueOf(m: DynamicMessage, name: String): AnyRef =
    m.getField(m.getDescriptorForType.findFieldByName(name))

  def query(req: DynamicMessage): String = valueOf(req, "query").toString

  /** The request's `params` map; a repeated key keeps its last value, as
    * proto3 map parsing specifies. */
  def params(req: DynamicMessage): Map[String, String] =
    valueOf(req, "params").asInstanceOf[java.util.List[DynamicMessage]].asScala
      .map(e => valueOf(e, "key").toString -> valueOf(e, "value").toString).toMap

  /** `graph_loom.GraphQuery/Execute` — full method name matches what
    * any stub generated from graph_loom.proto dials. */
  val executeMethod: MethodDescriptor[DynamicMessage, DynamicMessage] =
    MethodDescriptor.newBuilder(
        ProtoUtils.marshaller(DynamicMessage.getDefaultInstance(QueryRequest)),
        ProtoUtils.marshaller(DynamicMessage.getDefaultInstance(QueryResponse)))
      .setType(MethodDescriptor.MethodType.UNARY)
      .setFullMethodName(
        MethodDescriptor.generateFullMethodName("graph_loom.GraphQuery", "Execute"))
      .build()

  val apiKeyHeader: Metadata.Key[String] =
    Metadata.Key.of("x-api-key", Metadata.ASCII_STRING_MARSHALLER)
}

/** The server: [[GraphLoomProto.executeMethod]] over the shared broker.
  * It takes the request as raw bytes and parses them itself, so a
  * message that does not decode is answered INTERNAL and never reaches
  * the engine. */
class GrpcApi(broker: EngineBroker, port: Int = 0,
    apiKey: Option[String] = None, bindAddr: String = "127.0.0.1",
    timeoutSec: Long = 30) {
  import GraphLoomProto._

  private val rawBytes = new MethodDescriptor.Marshaller[Array[Byte]] {
    override def stream(b: Array[Byte]): InputStream = new ByteArrayInputStream(b)
    override def parse(in: InputStream): Array[Byte] = in.readAllBytes()
  }

  private def reply(obs: StreamObserver[DynamicMessage], r: Reply): Unit = r match {
    // engine errors travel IN-BAND (grpc.rs:90-96)
    case Reply.Answered(out) => obs.onNext(response(Right(out))); obs.onCompleted()
    case Reply.EngineError(msg) => obs.onNext(response(Left(msg))); obs.onCompleted()
    case Reply.TimedOut =>
      obs.onError(Status.DEADLINE_EXCEEDED.withDescription("query timeout").asRuntimeException())
    case Reply.Failed(e) => obs.onError(Status.INTERNAL.withCause(e)
      .withDescription(String.valueOf(e.getMessage)).asRuntimeException())
  }

  private val handler = ServerCalls.asyncUnaryCall(
    new ServerCalls.UnaryMethod[Array[Byte], DynamicMessage] {
      override def invoke(bytes: Array[Byte], obs: StreamObserver[DynamicMessage]): Unit =
        try {
          val req = DynamicMessage.parseFrom(QueryRequest, bytes)
          // the reference gRPC bridge wraps the proto map in Some(...)
          // unconditionally (grpc.rs:44) — ALWAYS the with-params path,
          // even when the map is empty. The reply is finished from the
          // broker's future: no gRPC thread waits on the engine thread.
          broker.submit(query(req), Some(params(req)), timeoutSec, "gRPC")
            .thenAcceptAsync(reply(obs, _))
        } catch {
          case e: InvalidProtocolBufferException => obs.onError(Status.INTERNAL
            .withDescription(s"failed to decode QueryRequest: ${e.getMessage}")
            .asRuntimeException())
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
      .addMethod(executeMethod.toBuilder(rawBytes, executeMethod.getResponseMarshaller)
        .build(), handler).build(),
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
