package graft

import java.io.{ByteArrayInputStream, InputStream}

import org.scalatest.funsuite.AnyFunSuite

import org.sparkproject.connect.grpc.{CallOptions, MethodDescriptor, Status, StatusRuntimeException}
import org.sparkproject.connect.grpc.stub.ClientCalls
import org.sparkproject.connect.protobuf.DynamicMessage

import graft.api.{EngineBroker, GrpcApi, GraphLoomProto}
import graft.engine.{GraphSession, QueryOutcome, ResultRow}

/** Drives the reference's gRPC GraphQuery/Execute contract
  * (src/api/grpc.rs:20-98, proto/graph_loom.proto) over a real socket:
  * node/relationship/info rows + counters, in-band error field, and the
  * x-api-key metadata gate. */
class GrpcApiSpec extends AnyFunSuite {
  import GraphLoomProto._
  import GraphQueryClient._

  lazy val spark = SparkTestSession.spark

  test("grpc_execute_roundtrip_rows_counters_and_inband_error") {
    val broker = new EngineBroker(new GraphSession(spark))
    val api = new GrpcApi(broker)
    val port = api.start()
    val ch = channel(port)
    try {
      val created = executeQuery(ch, "CREATE NODE Person {name:\"Ada\"};")
      assert(get[String](created, "error").isEmpty)
      assert(get[Long](created, "affected_nodes") == 1 && get[Boolean](created, "mutated"))
      assert(list(created, "rows").map(item).exists {
        case ("node", n: DynamicMessage) =>
          get[String](n, "label") == "Person" && entries(n, "metadata").contains("name" -> "Ada")
        case _ => false
      })

      executeQuery(ch, "CREATE NODE Person {name:\"Bob\"};")
      executeQuery(ch,
        "MATCH (a:Person {name: \"Ada\"}), (b:Person {name: \"Bob\"}) CREATE (a)-[:KNOWS]->(b);")
      val rels = executeQuery(ch, "MATCH (a)-[r:KNOWS]->(b) RETURN r")
      assert(get[String](rels, "error").isEmpty)
      assert(list(rels, "rows").map(item).exists {
        case ("relationship", r: DynamicMessage) => get[String](r, "label") == "KNOWS" &&
          get[String](r, "from_id").nonEmpty && get[String](r, "to_id").nonEmpty
        case _ => false
      })

      // $params travel as a proto map
      val withParams = executeQuery(ch, "MATCH (p:Person {name: $who}) RETURN p",
        params = Map("who" -> "Bob"))
      assert(list(withParams, "rows").size == 1)

      // engine errors come back IN-BAND, not as a gRPC status (grpc.rs:90-96)
      val bad = executeQuery(ch, "UPDATE NODE x SET y=1")
      assert(get[String](bad, "error").contains("unrecognized statement"))
      assert(list(bad, "rows").isEmpty && !get[Boolean](bad, "mutated"))
    } finally { ch.shutdownNow(); api.stop(); broker.stop() }
  }

  test("grpc_server_survives_raw_garbage_bytes") {
    // not-HTTP/2 bytes, a TLS-looking hello, and an abrupt hangup on
    // the gRPC port: the runtime must drop each connection without
    // taking the server down, and a real client must still round-trip
    val broker = new EngineBroker(new GraphSession(spark))
    val api = new GrpcApi(broker)
    val port = api.start()
    val ch = channel(port)
    def alive(): Unit = assert(get[String](
      executeQuery(ch, "CREATE (n:Ping {k:'alive'}) RETURN n"), "error").isEmpty)
    try {
      for (payload <- Seq(
          Array[Byte](0, 1, 2, 3, -1, -2, -3),
          "GET / HTTP/1.1\r\n\r\n".getBytes,
          Array[Byte](0x16, 0x03, 0x01, 0x00, 0x00),
          Array.empty[Byte])) {
        val s = new java.net.Socket("127.0.0.1", port)
        try {
          if (payload.nonEmpty) { s.getOutputStream.write(payload); s.getOutputStream.flush() }
          s.setSoTimeout(2000)
          try { while (s.getInputStream.read() >= 0) () }
          catch { case _: java.io.IOException => () }
        } finally s.close()
      }
      alive()

      // well-framed gRPC calls whose message bytes are bad, sent raw on
      // the same method name
      val raw = new MethodDescriptor.Marshaller[Array[Byte]] {
        override def stream(b: Array[Byte]): InputStream = new ByteArrayInputStream(b)
        override def parse(s: InputStream): Array[Byte] = s.readAllBytes()
      }
      val rawMethod = executeMethod.toBuilder(raw, raw).build()
      for ((message, expected) <- Seq(
          // past the runtime's default 4 MiB inbound cap (tonic's is 4 MB)
          request("x" * (4 << 20)).toByteArray -> Status.Code.RESOURCE_EXHAUSTED,
          // `query` claims 16 bytes and carries 1; a message the server
          // cannot parse closes the call as UNKNOWN
          Array[Byte](0x0a, 0x10, 'M') -> Status.Code.UNKNOWN,
          // `query` is not UTF-8: a proto3 parser rejects the string
          // field, as prost does in the reference
          Array[Byte](0x0a, 0x02, 0xc3.toByte, 0x28) -> Status.Code.UNKNOWN)) {
        val e = intercept[StatusRuntimeException](ClientCalls.blockingUnaryCall(
          ch, rawMethod, CallOptions.DEFAULT, message))
        assert(e.getStatus.getCode == expected, e.getStatus)
        alive()
      }
    } finally { ch.shutdownNow(); api.stop(); broker.stop() }
  }

  test("grpc_api_key_enforced_via_metadata") {
    val broker = new EngineBroker(new GraphSession(spark))
    val api = new GrpcApi(broker, apiKey = Some("sekret"))
    val port = api.start()
    val noKey = channel(port)
    val wrongKey = withApiKey(noKey, "nope")
    val goodKey = withApiKey(noKey, "sekret")
    try {
      val e1 = intercept[Exception](executeQuery(noKey, "MATCH NODE Person;"))
      assert(e1.getMessage.contains("UNAUTHENTICATED"))
      val e2 = intercept[Exception](executeQuery(wrongKey, "MATCH NODE Person;"))
      assert(e2.getMessage.contains("UNAUTHENTICATED"))
      assert(get[String](executeQuery(goodKey, "MATCH NODE Person;"), "error").isEmpty)
    } finally { noKey.shutdownNow(); api.stop(); broker.stop() }
  }

  test("grpc_timeout_is_deadline_exceeded_and_the_next_call_succeeds") {
    // a stub session whose "block" query holds the engine thread until
    // released; every other query answers at once
    val release = new java.util.concurrent.CountDownLatch(1)
    val session = new GraphSession(spark) {
      override def executeWithParams(query: String,
          params: Map[String, String]): QueryOutcome = {
        if (query == "block") release.await(60, java.util.concurrent.TimeUnit.SECONDS)
        QueryOutcome(Nil, 0L, 0L, mutated = false)
      }
    }
    val logDir = java.nio.file.Files.createTempDirectory("graft_grpc_logs")
    val broker = new EngineBroker(session, logDir = Some(logDir.toString))
    val api = new GrpcApi(broker, timeoutSec = 1)
    val port = api.start()
    val ch = channel(port)
    try {
      val e = intercept[Exception](executeQuery(ch, "block"))
      assert(e.getMessage.contains("DEADLINE_EXCEEDED"), e.getMessage)
      release.countDown()
      val next = executeQuery(ch, "ok")
      assert(get[String](next, "error").isEmpty && list(next, "rows").isEmpty)
      val apiLines = java.nio.file.Files.list(logDir).toArray.toSeq
        .map(_.asInstanceOf[java.nio.file.Path])
        .filter(_.getFileName.toString.startsWith("api_"))
        .flatMap(p => java.nio.file.Files.readAllLines(p).toArray.toSeq.map(_.toString))
      assert(apiLines.exists(_.endsWith("status=504")), apiLines.mkString("\n"))
      assert(apiLines.exists(_.endsWith("status=200")), apiLines.mkString("\n"))
    } finally { release.countDown(); ch.shutdownNow(); api.stop(); broker.stop() }
  }

  test("grpc_marshallers_roundtrip_and_params_keep_the_last_key") {
    def viaWire(m: DynamicMessage): DynamicMessage =
      executeMethod.parseResponse(executeMethod.streamResponse(m))
    val resp = response(Right(QueryOutcome(Seq(
        ResultRow.node("n1", "Person", Map("k" -> "v")),
        ResultRow.rel("r1", "n1", "n2", "KNOWS", Map.empty),
        ResultRow.info("count: 2"), ResultRow.info("")),
      affectedNodes = 3, affectedRels = 1, mutated = true)))
    assert(viaWire(resp) == resp)
    assert(list(viaWire(resp), "rows").map(item(_)._1) ==
      Seq("node", "relationship", "info", "info"))
    assert(viaWire(response(Left("boom"))) == response(Left("boom")))
    // empty/default messages survive too
    val empty = response(Right(QueryOutcome(Nil, 0L, 0L, mutated = false)))
    assert(viaWire(empty) == empty)
    // a repeated map key keeps its last value
    val req = executeMethod.parseRequest(executeMethod.streamRequest(
      request("MATCH (n) RETURN n", Seq("a" -> "1", "b" -> "", "a" -> "2"), log = true)))
    assert(query(req) == "MATCH (n) RETURN n")
    assert(params(req) == Map("a" -> "2", "b" -> ""))
  }
}
