package graft

import java.io.ByteArrayInputStream
import java.util.HexFormat

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import org.sparkproject.connect.grpc.{CallOptions, Channel, ClientCall, ClientInterceptor, ClientInterceptors, ForwardingClientCall, ManagedChannel, Metadata, MethodDescriptor, StatusRuntimeException}
import org.sparkproject.connect.grpc.netty.NettyChannelBuilder
import org.sparkproject.connect.grpc.stub.ClientCalls
import org.sparkproject.connect.protobuf.DynamicMessage

import graft.api.{EngineBroker, GraphLoomProto, GrpcApi}
import graft.engine.{GraphSession, QueryOutcome, ResultRow}

/** The gRPC specs' one client: what a protoc-generated stub degrades to
  * with the codegen stripped away. It builds requests and reads replies
  * by field name from graph_loom.proto's descriptors and dials
  * [[GraphLoomProto.executeMethod]]. */
object GraphQueryClient {
  import GraphLoomProto._

  def channel(port: Int): ManagedChannel =
    NettyChannelBuilder.forAddress("127.0.0.1", port).usePlaintext().build()

  /** A field's value by name, as a generated getter returns it. */
  def get[T](m: DynamicMessage, name: String): T =
    m.getField(m.getDescriptorForType.findFieldByName(name)).asInstanceOf[T]

  def list(m: DynamicMessage, name: String): Seq[DynamicMessage] =
    get[java.util.List[DynamicMessage]](m, name).asScala.toSeq

  /** A map field's entries in wire order. */
  def entries(m: DynamicMessage, name: String): Seq[(String, String)] =
    list(m, name).map(e => get[String](e, "key") -> get[String](e, "value"))

  /** The member a QueryRow's `item` oneof holds: its name and value. */
  def item(row: DynamicMessage): (String, AnyRef) = {
    val f = row.getOneofFieldDescriptor(QueryRow.getOneofs.get(0))
    (f.getName, row.getField(f))
  }

  /** QueryRequest(query, params, log); params go on the wire in order. */
  def request(query: String, params: Seq[(String, String)] = Nil,
      log: Boolean = false): DynamicMessage = {
    val paramsF = QueryRequest.findFieldByName("params")
    val entryD = paramsF.getMessageType
    val b = DynamicMessage.newBuilder(QueryRequest)
      .setField(QueryRequest.findFieldByName("query"), query)
      .setField(QueryRequest.findFieldByName("log"), java.lang.Boolean.valueOf(log))
    params.foreach { case (k, v) =>
      b.addRepeatedField(paramsF, DynamicMessage.newBuilder(entryD)
        .setField(entryD.findFieldByName("key"), k)
        .setField(entryD.findFieldByName("value"), v).build())
    }
    b.build()
  }

  /** The client.py call path: QueryRequest(query, params, log) → Execute. */
  def executeQuery(ch: Channel, query: String, params: Map[String, String] = Map.empty,
      log: Boolean = false): DynamicMessage =
    ClientCalls.blockingUnaryCall(ch, executeMethod, CallOptions.DEFAULT,
      request(query, params.toSeq, log))

  def withApiKey(ch: Channel, key: String): Channel =
    ClientInterceptors.intercept(ch, new ClientInterceptor {
      override def interceptCall[A, B](m: MethodDescriptor[A, B],
          o: CallOptions, c: Channel): ClientCall[A, B] =
        new ForwardingClientCall.SimpleForwardingClientCall[A, B](c.newCall(m, o)) {
          override def start(l: ClientCall.Listener[B], h: Metadata): Unit = {
            h.put(apiKeyHeader, key) // client.py: metadata = [('x-api-key', ...)]
            super.start(l, h)
          }
        }
    })
}

/** Pins the wire contract of `graph_loom.GraphQuery/Execute`:
  *
  *   1. golden bytes: the exact frames of the fixtures below as the
  *      earlier hand-rolled proto3 codec wrote them — byte-identical to
  *      what the stock runtime (and so any generated stub) writes. The
  *      server's response mapping and a DynamicMessage request must
  *      encode to them, and parsing them must give the fields back;
  *   2. a port of the reference's `examples/python_client/client.py`
  *      flow (CREATE + log, $params, in-band error, x-api-key metadata)
  *      against the live server.
  */
class GrpcWireCompatSpec extends AnyFunSuite {
  import GraphLoomProto._
  import GraphQueryClient._

  lazy val spark = SparkTestSession.spark

  private val hex = HexFormat.of()

  // the fixtures cover every field, a oneof member at its default value
  // and an empty map value
  private val reqFixture = request("MATCH (p:Person {name: $who}) RETURN p",
    Seq("who" -> "Bob", "blank" -> ""), log = true)
  private val reqGolden =
    "0a264d415443482028703a506572736f6e207b6e616d653a202477686f7d2920524554" +
    "55524e2070120a0a0377686f1203426f6212090a05626c616e6b12001801"
  private val outcomeFixture = QueryOutcome(Seq(
      ResultRow.node("n1", "Person", Map("note" -> "", "name" -> "Ada")),
      ResultRow.rel("r1", "n1", "n2", "KNOWS", Map("w" -> "2")),
      ResultRow.info("count: 2"),
      ResultRow.info("")), // a oneof member at its default stays on the wire
    affectedNodes = 3, affectedRels = 1, mutated = true)
  // rows, counters and mutated, then error = "boom"
  private val respGolden =
    "0a250a230a026e311206506572736f6e1a0b0a046e616d6512034164611a080a046e6f" +
    "746512000a1d121b0a02723112026e311a026e3222054b4e4f57532a060a0177120132" +
    "0a0a1a08636f756e743a20320a021a00100318012001" + "2a04626f6f6d"

  test("encodes_to_the_golden_bytes") {
    assert(hex.formatHex(reqFixture.toByteArray) == reqGolden)
    assert(request("").toByteArray.isEmpty)
    // an engine error fills `error` alone, so the fixture's rows-and-error
    // frame is the outcome's frame followed by the error's (proto3
    // concatenation is a merge)
    assert(hex.formatHex(response(Right(outcomeFixture)).toByteArray ++
      response(Left("boom")).toByteArray) == respGolden)
    assert(response(Right(QueryOutcome(Nil, 0L, 0L, mutated = false))).toByteArray.isEmpty)
  }

  test("golden_bytes_parse_back_to_the_same_fields") {
    // through the server's own marshallers
    val req = executeMethod.parseRequest(new ByteArrayInputStream(hex.parseHex(reqGolden)))
    assert(query(req) == "MATCH (p:Person {name: $who}) RETURN p")
    assert(params(req) == Map("who" -> "Bob", "blank" -> ""))
    assert(get[Boolean](req, "log"))
    assert(executeMethod.parseRequest(new ByteArrayInputStream(Array.empty)) ==
      request(""))

    val resp = executeMethod.parseResponse(new ByteArrayInputStream(hex.parseHex(respGolden)))
    assert(resp == response(Right(outcomeFixture)).toBuilder
      .mergeFrom(response(Left("boom"))).build())
    val Seq(node, rel, info, blank) = list(resp, "rows").map(item)
    assert(node._1 == "node" && rel._1 == "relationship")
    val n = node._2.asInstanceOf[DynamicMessage]
    assert(get[String](n, "id") == "n1" && get[String](n, "label") == "Person")
    assert(entries(n, "metadata") == Seq("name" -> "Ada", "note" -> ""))
    val r = rel._2.asInstanceOf[DynamicMessage]
    assert(Seq("id", "from_id", "to_id", "label").map(get[String](r, _)) ==
      Seq("r1", "n1", "n2", "KNOWS"))
    assert(entries(r, "metadata") == Seq("w" -> "2"))
    assert(info == ("info" -> "count: 2") && blank == ("info" -> ""))
    assert(get[Long](resp, "affected_nodes") == 3L)
    assert(get[Long](resp, "affected_relationships") == 1L)
    assert(get[Boolean](resp, "mutated") && get[String](resp, "error") == "boom")
  }

  test("python_client_flow_over_live_socket_with_dynamic_stub") {
    val broker = new EngineBroker(new GraphSession(spark))
    val api = new GrpcApi(broker, apiKey = Some("sekret"))
    val port = api.start()
    val channel = GraphQueryClient.channel(port)
    try {
      val rowsF = QueryResponse.findFieldByName("rows")
      val itemOneof = QueryRow.getOneofs.asScala.head

      // no metadata -> UNAUTHENTICATED, as client.py's comment documents
      val denied = intercept[StatusRuntimeException](
        executeQuery(channel, "MATCH NODE Person;"))
      assert(denied.getStatus.getCode.toString == "UNAUTHENTICATED")

      val ch = withApiKey(channel, "sekret")
      // client.py's query, verbatim
      val created = executeQuery(ch,
        "CREATE (TEST:Note:URL {name: 'github'});", log = true)
      assert(created.getField(QueryResponse.findFieldByName("error")) == "")
      // the reference's Cypher path reports (rows, 0, 0, mutated) —
      // affected counters stay 0 for parenthesized CREATE
      // (query_interface.rs:185: `Ok((rows, 0, 0, mutated))`); client.py
      // prints "Affected Nodes: 0" against the real server too
      assert(created.getField(QueryResponse.findFieldByName("affected_nodes")) == 0L)
      assert(created.getField(QueryResponse.findFieldByName("mutated")) == true)
      val createdRows = created.getField(rowsF)
        .asInstanceOf[java.util.List[DynamicMessage]].asScala
      assert(createdRows.exists { row =>
        row.getOneofFieldDescriptor(itemOneof).getName == "node" && {
          val n = row.getField(QueryRow.findFieldByName("node")).asInstanceOf[DynamicMessage]
          n.getField(Node.findFieldByName("label")).toString.contains("Note")
        }
      })

      // $params travel through the stock-encoded map field
      // the engine mirrors the reference's label semantics: (:Note:URL)
      // stores the literal label "Note:URL" (first-':'-split only)
      val byParam = executeQuery(ch, "MATCH (p:Note:URL {name: $who}) RETURN p",
        params = Map("who" -> "github"))
      assert(byParam.getField(rowsF)
        .asInstanceOf[java.util.List[DynamicMessage]].size == 1)

      // engine errors arrive IN-BAND (grpc.rs:90-96), not as a status
      val bad = executeQuery(ch, "UPDATE NODE x SET y=1")
      assert(bad.getField(QueryResponse.findFieldByName("error")).toString
        .contains("unrecognized statement"))
    } finally { channel.shutdownNow(); api.stop() }
  }
}
