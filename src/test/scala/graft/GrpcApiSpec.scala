package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.api.{EngineBroker, GrpcApi, GrpcClient, GraphLoomProto}
import graft.engine.{GraphSession, QueryOutcome}

/** Drives the reference's gRPC GraphQuery/Execute contract
  * (src/api/grpc.rs:20-98, proto/graph_loom.proto) over a real socket:
  * node/relationship/info rows + counters, in-band error field, and the
  * x-api-key metadata gate. */
class GrpcApiSpec extends AnyFunSuite {
  import GraphLoomProto._

  lazy val spark = SparkTestSession.spark

  test("grpc_execute_roundtrip_rows_counters_and_inband_error") {
    val broker = new EngineBroker(new GraphSession(spark))
    val api = new GrpcApi(broker)
    val port = api.start()
    val client = new GrpcClient("127.0.0.1", port)
    try {
      val created = client.execute("CREATE NODE Person {name:\"Ada\"};")
      assert(created.error.isEmpty)
      assert(created.affectedNodes == 1 && created.mutated)
      assert(created.rows.exists {
        case ItemNode(n) => n.label == "Person" && n.metadata.contains("name" -> "Ada")
        case _ => false
      })

      client.execute("CREATE NODE Person {name:\"Bob\"};")
      client.execute(
        "MATCH (a:Person {name: \"Ada\"}), (b:Person {name: \"Bob\"}) CREATE (a)-[:KNOWS]->(b);")
      val rels = client.execute("MATCH (a)-[r:KNOWS]->(b) RETURN r")
      assert(rels.error.isEmpty)
      assert(rels.rows.exists {
        case ItemRel(r) => r.label == "KNOWS" && r.fromId.nonEmpty && r.toId.nonEmpty
        case _ => false
      })

      // $params travel as a proto map
      val withParams = client.execute("MATCH (p:Person {name: $who}) RETURN p",
        params = Map("who" -> "Bob"))
      assert(withParams.rows.size == 1)

      // engine errors come back IN-BAND, not as a gRPC status (grpc.rs:90-96)
      val bad = client.execute("UPDATE NODE x SET y=1")
      assert(bad.error.contains("unrecognized statement"))
      assert(bad.rows.isEmpty && !bad.mutated)
    } finally { client.close(); api.stop() }
  }

  test("grpc_server_survives_raw_garbage_bytes") {
    // not-HTTP/2 bytes, a TLS-looking hello, and an abrupt hangup on
    // the gRPC port: the runtime must drop each connection without
    // taking the server down, and a real client must still round-trip
    val broker = new EngineBroker(new GraphSession(spark))
    val api = new GrpcApi(broker)
    val port = api.start()
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
      val client = new GrpcClient("127.0.0.1", port)
      try assert(client.execute("CREATE (n:Ping {k:'alive'}) RETURN n").error.isEmpty)
      finally client.close()
    } finally { api.stop(); broker.stop() }
  }

  test("grpc_api_key_enforced_via_metadata") {
    val broker = new EngineBroker(new GraphSession(spark))
    val api = new GrpcApi(broker, apiKey = Some("sekret"))
    val port = api.start()
    val noKey = new GrpcClient("127.0.0.1", port)
    val wrongKey = new GrpcClient("127.0.0.1", port, apiKey = Some("nope"))
    val goodKey = new GrpcClient("127.0.0.1", port, apiKey = Some("sekret"))
    try {
      val e1 = intercept[Exception](noKey.execute("MATCH NODE Person;"))
      assert(e1.getMessage.contains("UNAUTHENTICATED"))
      val e2 = intercept[Exception](wrongKey.execute("MATCH NODE Person;"))
      assert(e2.getMessage.contains("UNAUTHENTICATED"))
      assert(goodKey.execute("MATCH NODE Person;").error.isEmpty)
    } finally { noKey.close(); wrongKey.close(); goodKey.close(); api.stop() }
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
    val client = new GrpcClient("127.0.0.1", port)
    try {
      val e = intercept[Exception](client.execute("block"))
      assert(e.getMessage.contains("DEADLINE_EXCEEDED"), e.getMessage)
      release.countDown()
      val next = client.execute("ok")
      assert(next.error.isEmpty && next.rows.isEmpty)
      val apiLines = java.nio.file.Files.list(logDir).toArray.toSeq
        .map(_.asInstanceOf[java.nio.file.Path])
        .filter(_.getFileName.toString.startsWith("api_"))
        .flatMap(p => java.nio.file.Files.readAllLines(p).toArray.toSeq.map(_.toString))
      assert(apiLines.exists(_.endsWith("status=504")), apiLines.mkString("\n"))
      assert(apiLines.exists(_.endsWith("status=200")), apiLines.mkString("\n"))
    } finally { release.countDown(); client.close(); api.stop(); broker.stop() }
  }

  test("grpc_proto_codec_roundtrips") {
    import org.sparkproject.connect.protobuf.CodedInputStream
    val req = PbRequest("MATCH (n) RETURN n", Map("a" -> "1", "b" -> ""), log = true)
    assert(GraphLoomProto.parseRequest(
      CodedInputStream.newInstance(GraphLoomProto.requestBytes(req))) == req)
    val resp = PbResponse(
      rows = Seq(
        ItemNode(PbNode("n1", "Person", Seq("k" -> "v"))),
        ItemRel(PbRel("r1", "n1", "n2", "KNOWS", Nil)),
        ItemInfo("count: 2"), ItemInfo("")),
      affectedNodes = 3, affectedRels = 1, mutated = true, error = "boom")
    assert(GraphLoomProto.parseResponse(
      CodedInputStream.newInstance(GraphLoomProto.responseBytes(resp))) == resp)
    // empty/default messages survive too
    assert(GraphLoomProto.parseResponse(CodedInputStream.newInstance(
      GraphLoomProto.responseBytes(PbResponse()))) == PbResponse())
  }
}
