package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import org.scalatest.funsuite.AnyFunSuite

import graft.api.{ApiServer, EngineBroker}
import graft.engine.GraphSession

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
}
