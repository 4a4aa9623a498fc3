package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import org.scalatest.funsuite.AnyFunSuite

import graft.api.{ApiServer, EngineBroker, GrpcApi, WsClient}
import graft.engine.{GraphSession, QueryOutcome}

/** The broker's api log, parsed: its `qlen` lines as (rid, transport,
  * qlen) and its status lines as (rid, status). */
object ApiLog {
  private val Query = raw".*\] rid=(\S+) (\S+) query qlen=(\d+)".r
  private val Status = raw".*\] rid=(\S+) dt_ms=\d+ status=(\d+)".r

  def lines(dir: java.nio.file.Path): Seq[String] =
    java.nio.file.Files.list(dir).toArray.toSeq.map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.getFileName.toString.startsWith("api_"))
      .flatMap(p => java.nio.file.Files.readAllLines(p).toArray.toSeq.map(_.toString))

  def queries(dir: java.nio.file.Path): Seq[(String, String, Int)] =
    lines(dir).collect { case Query(rid, t, n) => (rid, t, n.toInt) }

  def statuses(dir: java.nio.file.Path): Seq[(String, Int)] =
    lines(dir).collect { case Status(rid, s) => (rid, s.toInt) }
}

/** Drives the reference's POST /api/query contract over a real socket
  * (api/server.rs:60-177 shapes). */
class HttpApiSpec extends AnyFunSuite {

  lazy val spark = SparkTestSession.spark

  def post(port: Int, body: String, key: Option[String] = None): HttpResponse[String] = {
    val b = HttpRequest.newBuilder(URI.create(s"http://localhost:$port/api/query"))
      .POST(HttpRequest.BodyPublishers.ofString(body))
    key.foreach(k => b.header("X-API-Key", k))
    HttpClient.newHttpClient().send(b.build(), HttpResponse.BodyHandlers.ofString())
  }

  test("http_query_roundtrip_and_errors") {
    val logDir = java.nio.file.Files.createTempDirectory("graft_api_logs").toString
    val broker = new EngineBroker(new GraphSession(spark), Some(logDir))
    val api = new ApiServer(broker)
    val port = api.start()
    try {
      val c1 = post(port, """{"query": "CREATE NODE Person {name:\"Ada\"};"}""")
      assert(c1.statusCode() == 200)
      assert(c1.body().contains(""""kind":"node""""))
      assert(c1.body().contains(""""affected_nodes":1"""))
      assert(c1.body().contains(""""mutated":true"""))

      val m = post(port, """{"query": "MATCH (p:Person {name: $who}) RETURN p", "params": {"who": "Ada"}}""")
      assert(m.statusCode() == 200)
      assert(m.body().contains(""""name":"Ada""""))

      val bad = post(port, """{"query": "UPDATE NODE x SET y=1"}""")
      assert(bad.statusCode() == 400)
      assert(bad.body().contains("unrecognized statement"))

      val malformed = post(port, """{"nope": true}""")
      assert(malformed.statusCode() == 400)

      // logs written (S11/S12 parity)
      val logs = new java.io.File(logDir).listFiles().map(_.getName).toSeq
      assert(logs.exists(_.startsWith("api_")))
      assert(logs.exists(_.startsWith("queries_")))
    } finally { api.stop(); broker.stop() }
  }

  test("http_transport_survives_fuzzed_bodies") {
    // every body — valid, mutated, truncated, raw garbage — must get
    // AN HTTP STATUS back (Jackson's body parse and the engine both
    // fail typed), and the server must still answer a healthy request
    // afterwards. A hang or connection reset here is a parser hole a
    // public endpoint would be hammered with.
    val broker = new EngineBroker(new GraphSession(spark))
    val api = new ApiServer(broker)
    val port = api.start()
    try {
      val rnd = new scala.util.Random(7L)
      val seeds = Seq(
        """{"query": "MATCH (a) RETURN a"}""",
        """{"query": "CREATE (a:P {x: 'y'})", "params": {"k": "v"}}""",
        """{"params": {"query": "nested shadow"}, "query": "RETURN 'x'"}""",
        """{"query": "RETURN $p", "params": {"p": "1"}}""")
      val bodies =
        Seq("", "{", "}", "null", "[]", "{}", "\"query\"",
          """{"query": 42}""", """{"query": }""", """{"query": "\"""",
          "{" + "\"a\":" * 50 + "1" + "}" * 50,
          """{"query": "RETURN 'x'", "params": {"a": {"b": "c"}}}""") ++
        (0 until 150).map { _ =>
          val base = seeds(rnd.nextInt(seeds.length))
          rnd.nextInt(3) match {
            case 0 => val i = rnd.nextInt(base.length); base.take(i) + base.drop(i + 1)
            case 1 => base.take(rnd.nextInt(base.length + 1))
            case _ =>
              val i = rnd.nextInt(base.length + 1)
              base.take(i) + "\\\"{}[]:,".charAt(rnd.nextInt(8)) + base.drop(i)
          }
        }
      for (b <- bodies) {
        val r = post(port, b)
        assert(Set(200, 400, 504).contains(r.statusCode()),
          s"unexpected status ${r.statusCode()} for body [${b.take(60)}]")
      }
      // liveness probe must be a statement the grammar accepts: a
      // leading RETURN is a parse error like the reference
      assert(post(port, """{"query": "CREATE (n:Ping {k:'alive'}) RETURN n"}""").statusCode() == 200)
    } finally { api.stop(); broker.stop() }
  }

  // the body is read as a JSON tree: a "query" key nested inside
  // params must not shadow the real statement (JSON key order is
  // client-controlled), and escaped quotes/backslashes in param values
  // must survive into the parameter map instead of being dropped
  test("http_body_parse_is_top_level_and_escape_aware") {
    val session = new GraphSession(spark)
    val broker = new EngineBroker(session)
    val api = new ApiServer(broker)
    val port = api.start()
    try {
      session.execute("""CREATE (:Person {name: 'O"Brien'})""")
      // params object FIRST, containing a decoy "query" member
      val r = post(port,
        """{"params": {"query": "decoy", "who": "O\"Brien"},""" +
          """ "query": "MATCH (p:Person {name: $who}) RETURN p"}""")
      assert(r.statusCode() == 200)
      assert(r.body().contains("Brien"), "escaped param value must resolve")
      // a number-valued param is dropped; the string one beside it resolves
      val num = post(port,
        """{"query": "MATCH (p:Person {name: $who}) RETURN p",""" +
          """ "params": {"n": 5, "who": "O\"Brien"}}""")
      assert(num.statusCode() == 200 && num.body().contains("Brien"))
      // a unicode escape in a param value decodes to its character
      session.execute("CREATE (:Person {name: 'Jos\u00e9'})")
      val uni = post(port,
        """{"query": "MATCH (p:Person {name: $who}) RETURN p",""" +
          """ "params": {"who": "Jos""" + "\\u00e9\"}}")
      assert(uni.statusCode() == 200 && uni.body().contains("Jos\u00e9"))
      // truncated or trailed bodies are malformed, not answered best-effort
      for (b <- Seq("""{"query": "MATCH (p:Person) RETURN p"""",
          """{"query": "MATCH (p:Person) RETURN p"} x""")) {
        val cut = post(port, b)
        assert(cut.statusCode() == 400 && cut.body() == "malformed request body", b)
      }
      // broker restart: stop() then start() must serve again (a
      // terminated Thread can't be start()ed twice)
      broker.stop()
      broker.start()
      val r2 = post(port, """{"query": "MATCH (p:Person) RETURN p"}""")
      assert(r2.statusCode() == 200)
      // oversized body rejected instead of buffered
      val big = "x" * (9 * 1024 * 1024)
      val r3 = post(port, s"""{"query": "$big"}""")
      assert(r3.statusCode() == 413)
    } finally { api.stop(); broker.stop() }
  }

  test("http_api_key_enforced") {
    val broker = new EngineBroker(new GraphSession(spark))
    val api = new ApiServer(broker, apiKey = Some("sekret"))
    val port = api.start()
    try {
      assert(post(port, """{"query": "MATCH NODE Person;"}""").statusCode() == 401)
      assert(post(port, """{"query": "MATCH NODE Person;"}""",
        key = Some("sekret")).statusCode() == 200)
    } finally { api.stop(); broker.stop() }
  }

  test("api_log_one_rid_per_request_across_transports") {
    // one broker behind all three transports: each request writes one
    // qlen line and one status line, both under the rid the broker
    // minted, whatever transport carried it
    val session = new GraphSession(spark) {
      override def execute(query: String): QueryOutcome =
        executeWithParams(query, Map.empty)
      override def executeWithParams(query: String,
          params: Map[String, String]): QueryOutcome =
        if (query.startsWith("bad")) throw new IllegalArgumentException("bad query")
        else QueryOutcome(Nil, 0L, 0L, mutated = false)
    }
    val logDir = java.nio.file.Files.createTempDirectory("graft_api_rid")
    val broker = new EngineBroker(session, Some(logDir.toString))
    val api = new ApiServer(broker)
    val grpc = new GrpcApi(broker)
    val port = api.start()
    val ch = GraphQueryClient.channel(grpc.start())
    try {
      assert(post(port, """{"query": "ok http"}""").statusCode() == 200)
      assert(post(port, """{"query": "bad http!"}""").statusCode() == 400)
      val ws = new WsClient("127.0.0.1", port)
      assert(ws.recvText(5000).exists(_.contains("REPL ready")))
      ws.sendText("ok repl")
      assert(ws.recvText(30000).exists(_.startsWith("{")))
      ws.sendText("bad repl!")
      assert(ws.recvText(30000).contains("error: bad query"))
      ws.close()
      assert(GraphQueryClient.get[String](
        GraphQueryClient.executeQuery(ch, "ok grpc"), "error").isEmpty)
      assert(GraphQueryClient.get[String](
        GraphQueryClient.executeQuery(ch, "bad grpc!"), "error") == "bad query")

      val queries = ApiLog.queries(logDir)
      val statuses = ApiLog.statuses(logDir)
      assert(queries.map(q => (q._2, q._3)).toSet == Set(
        "HTTP" -> 7, "HTTP" -> 9, "WS" -> 7, "WS" -> 9, "gRPC" -> 7, "gRPC" -> 9),
        ApiLog.lines(logDir).mkString("\n"))
      assert(queries.map(_._1).distinct.size == 6 && statuses.size == 6)
      val statusOf = statuses.toMap
      assert(statusOf.keySet == queries.map(_._1).toSet)
      for ((rid, _, qlen) <- queries)
        assert(statusOf(rid) == (if (qlen == 7) 200 else 400), rid)
    } finally { ch.shutdownNow(); grpc.stop(); api.stop(); broker.stop() }
  }

  test("http_stopped_broker_answers_500_and_logs_it") {
    val logDir = java.nio.file.Files.createTempDirectory("graft_api_stopped")
    val broker = new EngineBroker(new GraphSession(spark), Some(logDir.toString))
    val api = new ApiServer(broker)
    val port = api.start()
    try {
      broker.stop()
      val r = post(port, """{"query": "MATCH (n) RETURN n"}""")
      assert(r.statusCode() == 500 && r.body() == "the engine broker is stopped", r.body())
      val Seq((rid, transport, qlen)) = ApiLog.queries(logDir)
      assert(transport == "HTTP" && qlen == "MATCH (n) RETURN n".length)
      assert(ApiLog.statuses(logDir) == Seq(rid -> 500))
    } finally { api.stop(); broker.stop() }
  }
}
