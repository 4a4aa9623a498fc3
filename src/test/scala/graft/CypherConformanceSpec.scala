package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.engine.{GraphSession, ResultRow}
import graft.cypher.Parser.ParseException

/** Port of the reference's full conformance suite
  * (/root/reference/tests/unittests.rs, 23 tests) against the Spark
  * engine. Test names match the reference test functions 1:1.
  */
class CypherConformanceSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkTestSession.spark

  def newSession(): GraphSession = new GraphSession(spark)

  def idsFromRows(rows: Seq[ResultRow]): Seq[String] =
    rows.filter(r => r.kind == "node" || r.kind == "relationship").map(_.id)

  // beyond-reference lexer contract: openCypher escapes are
  // interpreted ('\n' is a newline — the old lexer corrupted it to the
  // letter 'n'), unknown escapes keep BOTH characters (the reference
  // never unescapes, cypher_spec.rs:85), and '-' adjacent to a digit
  // is a negative literal, not a relationship dash (the reference
  // accepts '-1' as a bareword value)
  test("cypher_string_escapes_and_negative_literals") {
    val s = newSession()
    s.execute("CREATE (:Esc {text: 'a\\nb', raw: 'x\\dy', quote: 'O\\'Brien', score: -3})")
    val n = s.execute("MATCH (n:Esc) RETURN n").rows.head
    assert(n.properties("text") == "a\nb", "\\n must decode to a newline")
    assert(n.properties("raw") == "x\\dy", "unknown escapes keep the backslash")
    assert(n.properties("quote") == "O'Brien")
    assert(n.properties("score") == "-3")
    assert(s.execute("MATCH (n:Esc) WHERE n.score = -3 RETURN n").rows.length == 1)
    assert(s.execute("MATCH (n:Esc) WHERE n.score > -5 RETURN n").rows.length == 1)
    assert(s.execute("MATCH (n:Esc) WHERE n.score > -1 RETURN n").rows.isEmpty)
  }

  // ---- unittests.rs:23-59 ----
  test("cypher_params_in_pattern_and_where") {
    val s = newSession()
    s.execute("CREATE (:Person {name: 'Neo'});")
    s.execute("CREATE (:Movie {title: 'The Matrix', released: 1999});")
    s.execute("CREATE (:Movie {title: 'The Matrix Reloaded', released: 2003});")

    val rows = s.executeWithParams("MATCH (p:Person {name: $name}) RETURN p",
      Map("name" -> "Neo"))
    assert(rows.rows.length == 1)
    val n = rows.rows.head
    assert(n.kind == "node" && n.label == "Person" && n.properties("name") == "Neo")

    val out = s.executeWithParams(
      """
        MATCH (m:Movie)
        WHERE m.released > $year AND m.title CONTAINS $substr
        RETURN m.title
      """, Map("year" -> "2000", "substr" -> "Matrix"))
    assert(out.rows.length == 1)
    assert(out.rows.head.kind == "info" && out.rows.head.info == "The Matrix Reloaded")
  }

  // ---- unittests.rs:61-78 ----
  test("cypher_match_dot_label_and_where_property") {
    val s = newSession()
    s.execute("CREATE (:Keyword {keyword: 'theory'})")
    s.execute("CREATE (:Keyword {keyword: 'practice'})")
    val out = s.execute(
      """
        MATCH (n.Keyword)
        WHERE n.keyword = "theory"
        RETURN n
      """)
    assert(idsFromRows(out.rows).length == 1)
  }

  // ---- unittests.rs:80-93 (storage API → legacy dialect rendering) ----
  test("graphdb_add_node_relationship_and_cascade_delete") {
    val s = newSession()
    val a = s.execute("CREATE NODE Person;").rows.head.id
    val b = s.execute("CREATE NODE Company;").rows.head.id
    val rid = s.execute(s"CREATE REL from=$a to=$b label=WORKS_AT;").rows.head.id
    assert(s.execute("MATCH REL WORKS_AT;").rows.exists(_.id == rid))
    val d = s.execute(s"DELETE NODE $a;")
    assert(d.affectedNodes == 1)
    assert(s.execute("MATCH REL WORKS_AT;").rows.isEmpty) // cascade
  }

  // ---- unittests.rs:95-105 (metadata upsert/remove via SET/REMOVE) ----
  test("graphdb_metadata_upsert_and_remove") {
    val s = newSession()
    s.execute("CREATE NODE Person;")
    s.execute("MATCH (n:Person) SET n.name = 'Ada', n.role = 'Engineer'")
    val r1 = s.execute("MATCH NODE Person;").rows.head
    assert(r1.properties == Map("name" -> "Ada", "role" -> "Engineer"))
    s.execute("MATCH (n:Person) REMOVE n.role")
    val r2 = s.execute("MATCH NODE Person;").rows.head
    assert(r2.properties == Map("name" -> "Ada"))
    // removing a non-existent key is a no-op
    s.execute("MATCH (n:Person) REMOVE n.role")
    assert(s.execute("MATCH NODE Person;").rows.head.properties == Map("name" -> "Ada"))
  }

  // ---- unittests.rs:107-115 ----
  test("graphdb_add_relationship_missing_endpoints_fails") {
    val s = newSession()
    val u1 = graft.core.IdGen.next()
    val u2 = graft.core.IdGen.next()
    intercept[ParseException] {
      s.execute(s"CREATE REL from=$u1 to=$u2 label=KNOWS;")
    }
  }

  // ---- unittests.rs:117-160 ----
  test("gql_create_match_where_delete_node_flow") {
    val s = newSession()
    val out = s.execute(
      """
        CREATE NODE Person {name:"Ada", role:"Engineer"};
        CREATE NODE Person {name:"Bob", role:"Designer"};
      """)
    assert(out.mutated)
    assert(out.affectedNodes == 2)
    val adaId = out.rows(0).id
    val bobId = out.rows(1).id

    assert(s.execute("MATCH NODE Person;").rows.length == 2)
    assert(s.execute("MATCH NODE Person {role:\"Engineer\"};").rows.length == 1)

    val m3 = s.execute(
      s"""MATCH NODE Person WHERE id=$adaId AND HAS(name) AND name="Ada" AND role!="Manager";""")
    assert(m3.rows.length == 1)

    val d = s.execute(s"DELETE NODE $bobId;")
    assert(d.affectedNodes == 1)
    assert(s.execute("MATCH NODE Person;").rows.length == 1)
  }

  // ---- unittests.rs:162-208 ----
  test("gql_create_rel_match_where_delete_flow") {
    val s = newSession()
    val out = s.execute(
      """
        CREATE NODE Person {name:"Ada"};
        CREATE NODE Company {name:"Acme"};
      """)
    val nodeIds = idsFromRows(out.rows)
    assert(nodeIds.length == 2)
    val ada = nodeIds(0)
    val acme = nodeIds(1)

    val c = s.execute(s"""CREATE REL from=$ada to=$acme label=WORKS_AT {since:"2021"};""")
    assert(c.affectedRels == 1)

    val mr = s.execute("MATCH REL WORKS_AT;")
    assert(mr.rows.length == 1)

    val w = s.execute(s"MATCH REL WORKS_AT WHERE from=$ada AND to=$acme;")
    assert(w.rows.length == 1)

    val relId = mr.rows.head.id
    val dr = s.execute(s"DELETE REL $relId;")
    assert(dr.affectedRels == 1)
  }

  // ---- unittests.rs:210-227 ----
  test("gql_errors_and_edge_cases") {
    val s = newSession()
    intercept[Exception] { s.execute("UPDATE NODE Person SET name=\"X\";") }
    intercept[Exception] { s.execute("MATCH NODE Person WHERE id=not-a-uuid;") }
    val u1 = graft.core.IdGen.next()
    val u2 = graft.core.IdGen.next()
    intercept[Exception] { s.execute(s"CREATE REL from=$u1 to=$u2 label=LIKES;") }
  }

  // ---- unittests.rs:229-246 ----
  test("gql_multi_statement_execution_aggregates_counts") {
    val s = newSession()
    val out = s.execute(
      """
        CREATE NODE A {k:"v"};
        CREATE NODE B {x:"y"};
        CREATE NODE B {x:"z"};
      """)
    assert(out.mutated)
    assert(out.affectedNodes == 3)
    assert(s.execute("MATCH NODE B {x:\"y\"};").rows.length == 1)
  }

  // ---- unittests.rs:248-274 ----
  test("cypher_match_merge_pairwise_creation") {
    val s = newSession()
    s.execute(
      """
        CREATE NODE asdf {name:"n1"};
        CREATE NODE asdf {name:"n2"};
        CREATE NODE asdf {name:"n3"};
      """)
    assert(s.nodeCount == 3)
    val q = "MATCH (a:asdf), (b:asdf) WHERE id(a) < id(b) MERGE (a)-[:RELATED_TO]->(b);"
    val r1 = s.execute(q)
    assert(r1.affectedRels == 3)
    assert(s.relationshipCount == 3)
    val r2 = s.execute(q)
    assert(r2.affectedRels == 0)
    assert(s.relationshipCount == 3)
  }

  // ---- unittests.rs:276-304 ----
  test("cypher_delete_relationships_by_label") {
    val s = newSession()
    s.execute(
      """
        CREATE NODE asdf {name:"n1"};
        CREATE NODE asdf {name:"n2"};
        CREATE NODE asdf {name:"n3"};
      """)
    s.execute("MATCH (a:asdf), (b:asdf) WHERE id(a) < id(b) MERGE (a)-[:RELATED_TO]->(b);")
    assert(s.relationshipCount == 3)
    val del = "MATCH (a:asdf)-[r:RELATED_TO]-(b:asdf) DELETE r;"
    s.execute(del)
    assert(s.relationshipCount == 0)
    s.execute(del)
    assert(s.relationshipCount == 0)
  }

  // ---- unittests.rs:306-320 ----
  test("cypher_match_node_with_props_and_return") {
    val s = newSession()
    s.execute("CREATE (:Person {name: 'Keanu Reeves'});")
    val rows = s.execute("MATCH (p:Person {name: 'Keanu Reeves'}) RETURN p;")
    assert(rows.rows.length == 1)
    val n = rows.rows.head
    assert(n.kind == "node" && n.label == "Person" && n.properties("name") == "Keanu Reeves")
  }

  // ---- unittests.rs:322-340 ----
  test("cypher_match_rel_with_props_and_return_property") {
    val s = newSession()
    s.execute("CREATE (:Person {name: 'Tom Hanks'});")
    s.execute("CREATE (:Movie {title: 'Forrest Gump'});")
    s.execute(
      """
        MATCH (p:Person {name: 'Tom Hanks'}), (m:Movie {title: 'Forrest Gump'})
        CREATE (p)-[:ACTED_IN {role: 'Forrest Gump'}]->(m);
      """)
    val rows = s.execute(
      """
        MATCH (:Person {name: 'Tom Hanks'})-[r:ACTED_IN {role: 'Forrest Gump'}]->(m:Movie)
        RETURN m.title
      """)
    assert(rows.rows.length == 1)
    assert(rows.rows.head.info == "Forrest Gump")
  }

  // ---- unittests.rs:342-359 ----
  test("cypher_where_contains_and_numeric_compare") {
    val s = newSession()
    s.execute("CREATE (:Movie {title: 'The Matrix', released: 1999});")
    s.execute("CREATE (:Movie {title: 'The Matrix Reloaded', released: 2003});")
    s.execute("CREATE (:Movie {title: 'John Wick', released: 2014});")
    val rows = s.execute(
      """
        MATCH (m:Movie)
        WHERE m.released > 2000 AND m.title CONTAINS 'Matrix'
        RETURN m.title
      """)
    assert(rows.rows.length == 1)
    assert(rows.rows.head.info == "The Matrix Reloaded")
  }

  // ---- unittests.rs:361-382 ----
  test("cypher_where_multiple_equals_clauses") {
    val s = newSession()
    s.execute("CREATE (:Person {name: 'Tom Hanks', born: 1956});")
    s.execute("CREATE (:Person {name: 'Tom Hardy', born: 1977});")
    val rows = s.execute(
      """
        MATCH (p:Person)
        WHERE p.name = 'Tom Hanks' AND p.born = 1956
        RETURN p
      """)
    assert(rows.rows.length == 1)
    val n = rows.rows.head
    assert(n.label == "Person")
    assert(n.properties("name") == "Tom Hanks")
    // numeric literal stored as STRING (graph.rs:8 value model)
    assert(n.properties("born") == "1956")
  }

  // ---- unittests.rs:384-425 ----
  test("cypher_variable_length_path_basic") {
    val s = newSession()
    s.execute(
      """
        CREATE (:X {name:'X1'});
        CREATE (:X {name:'X2'});
        CREATE (:X {name:'X3'});
      """)
    val all = s.execute("MATCH (n:X) RETURN n;")
    val ids = idsFromRows(all.rows)
    assert(ids.length == 3)
    val sorted = ids.sorted
    val (a, b, c) = (sorted(0), sorted(1), sorted(2))
    s.execute(s"CREATE REL from=$a to=$b label=R;")
    s.execute(s"CREATE REL from=$b to=$c label=R;")
    val out = s.execute(
      """
        MATCH (s:X)-[:R*2]->(t:X)
        RETURN t
      """)
    assert(out.rows.length == 1)
    assert(out.rows.head.kind == "node")
    assert(out.rows.head.label == "X")
    assert(out.rows.head.id == c)
  }

  // ---- unittests.rs:427-451 ----
  test("cypher_return_distinct_and_order_limit") {
    val s = newSession()
    s.execute("CREATE (:Movie {title: 'The Matrix'});")
    s.execute("CREATE (:Movie {title: 'The Matrix'});")
    s.execute("CREATE (:Movie {title: 'John Wick'});")
    s.execute("CREATE (:Movie {title: 'Speed'});")
    val rows = s.execute(
      """
        MATCH (m:Movie)
        RETURN DISTINCT m.title ORDER BY m.title ASC LIMIT 2
      """)
    assert(rows.rows.length == 2)
    assert(rows.rows(0).info == "John Wick")
    assert(rows.rows(1).info == "Speed")
  }

  // ---- unittests.rs:453-494 ----
  test("cypher_set_remove_properties_and_labels") {
    val s = newSession()
    s.execute("CREATE (:Person {name: 'Neo'});")
    val rows = s.execute(
      """
        MATCH (p:Person {name:'Neo'})
        SET p.role = 'The One', p:Hero
        RETURN p
      """)
    assert(rows.rows.length == 1)
    val n = rows.rows.head
    // SET :Label REPLACES the single label (M5)
    assert(n.label == "Hero")
    assert(n.properties("name") == "Neo")
    assert(n.properties("role") == "The One")
    val nid = n.id

    val rows2 = s.execute(
      """
        MATCH (p:Hero)
        WHERE id(p) = id(p)
        REMOVE p.role
        RETURN p
      """)
    assert(rows2.rows.length == 1)
    val n2 = rows2.rows.head
    assert(n2.id == nid)
    assert(n2.label == "Hero")
    assert(!n2.properties.contains("role"))
  }

  // ---- unittests.rs:496-520 ----
  test("cypher_multiline_match_delete") {
    val s = newSession()
    s.execute(
      """
        CREATE NODE asdf {name:"n1"};
        CREATE NODE asdf {name:"n2"};
      """)
    s.execute("MATCH (a:asdf), (b:asdf) WHERE id(a) < id(b) MERGE (a)-[:RELATED_TO]->(b);")
    assert(s.relationshipCount == 1)
    s.execute(
      """
        MATCH (a:asdf)-[r:RELATED_TO]-(b:asdf)
        DELETE r;
      """)
    assert(s.relationshipCount == 0)
  }

  // ---- unittests.rs:522-546 ----
  test("cypher_multiline_match_where_merge") {
    val s = newSession()
    s.execute(
      """
        CREATE NODE asdf {name:"n1"};
        CREATE NODE asdf {name:"n2"};
        CREATE NODE asdf {name:"n3"};
      """)
    assert(s.nodeCount == 3)
    val r = s.execute(
      """
        MATCH (a:asdf), (b:asdf)
        WHERE id(a) < id(b)
        MERGE (a)-[:RELATED_TO]->(b);
      """)
    assert(r.mutated)
    assert(s.relationshipCount == 3)
  }

  // ---- unittests.rs:548-572 ----
  test("cypher_match_where_create_relationships") {
    val s = newSession()
    s.execute(
      """
        CREATE NODE Text {name:"t1"};
        CREATE NODE Text {name:"t2"};
        CREATE NODE Text {name:"t3"};
      """)
    assert(s.nodeCount == 3)
    s.execute(
      """
        MATCH (a:Text), (b:Text)
        WHERE id(a) < id(b)
        CREATE (a)-[:IS_IN]->(b);
      """)
    assert(s.relationshipCount == 3)
  }

  // ---- unittests.rs:574-604 ----
  test("cypher_multiline_match_detach_delete_nodes") {
    val s = newSession()
    s.execute(
      """
        CREATE NODE Person {name:"Ada"};
        CREATE NODE Person {name:"Bob"};
      """)
    s.execute(
      """
        MATCH (a:Person), (b:Person)
        WHERE id(a) < id(b)
        MERGE (a)-[:RELATED_TO]->(b);
      """)
    assert(s.nodeCount == 2)
    assert(s.relationshipCount == 1)
    s.execute(
      """
        MATCH (n:Person)
        DETACH DELETE n
      """)
    assert(s.nodeCount == 0)
    assert(s.relationshipCount == 0)
  }

  // ---- unittests.rs:606-633 ----
  test("cypher_multiline_create_comma_delimited") {
    val s = newSession()
    val out = s.execute(
      """
    CREATE
      (t1:T1 {name:'T1'}),
      (t2:T2 {name:'T2'}),
      (t3:T3 {name:'T3'}),
      (t4:T4 {name:'T4'}),
      (t5:T5 {name:'T5'}),
      (t6:T6 {name:'T6'}),
      (t7:T7 {name:'T7'}),
      (t8:T8 {name:'T8'}),
      (t9:T9 {name:'T9'}),
      (t10:T10 {name:'T10'}),
      """)
    assert(out.mutated)
    assert(s.nodeCount == 10)
    // NOTE: label-less `MATCH NODE` is NOT legacy syntax — the router
    // needs the "MATCH NODE " prefix on the TRIMMED statement and the
    // parser requires a label, so bare "MATCH NODE" is "unrecognized
    // statement" (adjudicated); verify labels via a Cypher scan instead
    val labels = s.execute("MATCH (n) RETURN n").rows.map(_.label)
    assert(labels.contains("T1"))
    assert(labels.contains("T10"))
    val e = intercept[ParseException] { s.execute("MATCH NODE;") }
    assert(e.getMessage.contains("unrecognized statement"))
  }

  // plain DELETE on a connected node must error (M7 constraint)
  test("cypher_plain_delete_with_relationships_errors") {
    val s = newSession()
    s.execute("CREATE NODE Person {name:\"Ada\"};")
    s.execute("CREATE NODE Person {name:\"Bob\"};")
    s.execute("MATCH (a:Person), (b:Person) WHERE id(a) < id(b) MERGE (a)-[:KNOWS]->(b);")
    intercept[Exception] {
      s.execute("MATCH (n:Person) DELETE n")
    }
    assert(s.nodeCount == 2)
  }

  // shared unbound variable on both endpoints matches self-loops only
  // (reference inserts the left binding then checks the right endpoint)
  test("cypher_shared_var_pattern_matches_self_loops_only") {
    val s = newSession()
    s.execute("CREATE (:N {name:'loop'})")
    s.execute("CREATE (:N {name:'plain'})")
    s.execute("MATCH (a:N {name:'loop'}) CREATE (a)-[:L]->(a)")
    s.execute("MATCH (a:N {name:'loop'}), (b:N {name:'plain'}) CREATE (a)-[:L]->(b)")
    val out = s.execute("MATCH (x)-[r:L]->(x) RETURN x")
    assert(out.rows.length == 1)
    assert(out.rows.head.properties("name") == "loop")
    // var-length flavor is DIFFERENT: the reference inserts the right
    // endpoint without a consistency check (cypher_spec.rs:846-848), so
    // a shared var REBINDS to the BFS target instead of filtering to
    // self-cycles — x becomes 'plain', reached from 'loop' at depth 1
    // (adjudicated against the reference executor itself)
    val vl = s.execute("MATCH (x:N)-[:L*1..1]->(x) RETURN x")
    assert(vl.rows.map(_.properties("name")) == Seq("plain"))
    // *0..: depth-0 (self) pairs AND depth-1 targets all emit, one row
    // per (source, target) pair — 'plain' is reached from both sources,
    // so it appears twice
    val vl0 = s.execute("MATCH (x:N)-[:L*0..1]->(x) RETURN x")
    assert(vl0.rows.map(_.properties("name")).sorted == Seq("loop", "plain", "plain"))
  }

  // *0..n matches the source node itself at depth 0 (cypher_spec.rs
  // seeds the BFS with (source, 0) and emits when d >= min_hops)
  test("cypher_varlength_zero_hop") {
    val s = newSession()
    s.execute("CREATE (:Z {name:'src'})")
    s.execute("CREATE (:Z {name:'dst'})")
    s.execute("MATCH (a:Z {name:'src'}), (b:Z {name:'dst'}) CREATE (a)-[:R]->(b)")
    val out = s.execute("MATCH (a:Z {name:'src'})-[:R*0..1]->(b) RETURN b.name")
    val names = out.rows.map(_.info).sorted
    assert(names == Seq("dst", "src"))
  }

  // a bound left endpoint is re-filtered by the var-length pattern's
  // label (reference applies node_ok over left_ids before the BFS).
  // NOTE the same-clause comma form: a SECOND `MATCH` keyword inside
  // one statement is not a clause boundary in the reference's parser —
  // the text folds into the first pattern and produces a label that
  // matches nothing. Our parser accepts multi-MATCH statements as a
  // deliberate beyond-reference extension; reference-expressible
  // queries use comma patterns, which both engines treat identically
  // (adjudicated against the reference executor).
  test("cypher_varlength_bound_left_refiltered") {
    val s = newSession()
    s.execute("CREATE (:Good {name:'g'})")
    s.execute("CREATE (:Bad {name:'b'})")
    s.execute("CREATE (:Tgt {name:'t'})")
    s.execute("MATCH (a:Good), (t:Tgt) CREATE (a)-[:E]->(t)")
    s.execute("MATCH (a:Bad), (t:Tgt) CREATE (a)-[:E]->(t)")
    // pattern 1 binds a to every node; the var-length step keeps only
    // rows whose bound a satisfies (:Good)
    val out = s.execute("MATCH (a), (a:Good)-[:E*1..1]->(b) RETURN a")
    assert(out.rows.length == 1 && out.rows.head.label == "Good")
    val tgt = s.execute("MATCH (a), (a:Good)-[:E*1..1]->(b) RETURN b")
    assert(tgt.rows.length == 1 && tgt.rows.head.label == "Tgt")
  }

  // the right endpoint of a var-length step OVERWRITES a pre-bound
  // variable instead of consistency-checking it (cypher_spec.rs:846-848
  // inserts unconditionally; adjudicated against the reference
  // executor): b pre-bound to b2 still rebinds to every BFS target
  test("cypher_varlength_right_endpoint_overwrites_binding") {
    val s = newSession()
    s.execute("CREATE (:VA {name:'a1'})")
    s.execute("CREATE (:VB {name:'b1'})")
    s.execute("CREATE (:VB {name:'b2'})")
    s.execute("MATCH (a:VA), (b:VB {name:'b1'}) CREATE (a)-[:T]->(b)")
    s.execute("MATCH (x:VB {name:'b1'}), (y:VB {name:'b2'}) CREATE (x)-[:T]->(y)")
    val two = s.execute("MATCH (b:VB {name:'b2'}), (a:VA)-[:T*1..2]->(b) RETURN b")
    assert(two.rows.map(_.properties("name")).sorted == Seq("b1", "b2"))
    val one = s.execute("MATCH (r:VB {name:'b2'}), (a:VA)-[:T*1..1]->(r) RETURN r")
    assert(one.rows.map(_.properties("name")) == Seq("b1"))
  }

  // missing-$param errors are LAZY: resolve_param runs per candidate
  // inside the scan/row loops (cypher_spec.rs:774-776 node props,
  // 1089-1123 WHERE RHS, 1339 CREATE rel props), so when nothing
  // reaches the check the statement succeeds with zero rows
  // (adjudicated against the reference executor)
  test("cypher_missing_param_errors_are_lazy") {
    val s = newSession()
    s.execute("CREATE (:Lz8 {g:'g1'})")
    // a node reaches the pattern-prop check → error
    val e1 = intercept[ParseException] { s.execute("MATCH (n {g:$missing}) RETURN n") }
    assert(e1.getMessage.contains("Missing parameter"))
    // label filters out every candidate → success, zero rows
    assert(s.execute("MATCH (n:NoSuch8 {g:$missing}) RETURN n").rows.isEmpty)
    // WHERE: a surviving row reaches the RHS → error
    val e2 = intercept[ParseException] {
      s.execute("MATCH (n:Lz8) WHERE n.x = $missing RETURN n")
    }
    assert(e2.getMessage.contains("Missing parameter"))
    // empty binding, or an earlier condition dropping every row → ok
    assert(s.execute("MATCH (n:NoSuch8) WHERE n.x = $missing RETURN n").rows.isEmpty)
    assert(s.execute(
      "MATCH (n:Lz8) WHERE n.g = 'nomatch' AND n.x = $missing RETURN n").rows.isEmpty)
    // CREATE rel props resolve per row: zero rows create nothing and
    // succeed; a non-empty binding errors
    assert(!s.execute(
      "MATCH (a:NoSuch8), (b:NoSuch8) CREATE (a)-[:R {p:$missing}]->(b)").rows.nonEmpty)
    val e3 = intercept[ParseException] {
      s.execute("MATCH (a:Lz8), (b:Lz8) CREATE (a)-[:R {p:$missing}]->(b)")
    }
    assert(e3.getMessage.contains("Missing parameter"))
    assert(s.relationshipCount == 0)
  }

  // the reference has TWO dialect routers picked by whether the request
  // carried a params field (frontend.rs:1208-1209): the with-params
  // variant (query_interface.rs:153-210) has no SET/REMOVE route —
  // those statements become "unrecognized statement" — and its CREATE
  // check requires a space before the paren; the no-params variant
  // (query_interface.rs:89-133) routes both and accepts "CREATE(".
  // Adjudicated against the reference executor.
  test("router_variants_differ_on_set_and_create_prefix") {
    val s = newSession()
    // SET-leading statement: executes without params, errors with them
    val ok = s.execute("SET n.x = '1'")
    assert(ok.rows.isEmpty && ok.mutated)
    val e1 = intercept[ParseException] {
      s.executeWithParams("SET n.x = '1'", Map("a" -> "b"))
    }
    assert(e1.getMessage.contains("unrecognized statement"))
    // CREATE without a space: Cypher without params, unrecognized with
    val c = s.execute("CREATE(:NoSpace8 {k:'v'})")
    assert(c.mutated)
    assert(s.execute("MATCH (n:NoSpace8) RETURN n").rows.length == 1)
    val e2 = intercept[ParseException] {
      s.executeWithParams("CREATE(:NoSpace8 {k:'w'})", Map("a" -> "b"))
    }
    assert(e2.getMessage.contains("unrecognized statement"))
    // spaced CREATE works on both paths
    assert(s.executeWithParams("CREATE (:Sp8 {k:'w'})", Map("a" -> "b")).mutated)
  }

  // the mutated flag of every statement the Cypher route takes, under
  // both router variants: each prefix the reference marks mutated is
  // exactly one the route does not read with (MATCH, OPTIONAL MATCH,
  // RETURN); SET/REMOVE and the unspaced CREATE are not routed with
  // params. None = the statement is rejected.
  test("router_variants_mutated_flag_per_cypher_prefix") {
    val s = newSession()
    s.execute("CREATE (:Mf {k:'a'})")
    val cases = Seq(
      ("MATCH (n:Mf) RETURN n", Some(false), Some(false)),
      ("match (n:Mf) return n", Some(false), Some(false)),
      ("MATCH (n:Mf) SET n.x = '1'", Some(false), Some(false)),
      ("MATCH (n:Nope) DELETE n", Some(false), Some(false)),
      ("OPTIONAL MATCH (n:Mf) RETURN n", Some(false), Some(false)),
      ("RETURN 1", None, None),
      ("MERGE (a)-[:Mr]->(b)", Some(true), Some(true)),
      ("merge (a)-[:Mr]->(b)", Some(true), Some(true)),
      ("CREATE (:Mf {k:'c'})", Some(true), Some(true)),
      ("CREATE(:Mf {k:'c'})", Some(true), None),
      ("SET n.x = '1'", Some(true), None),
      ("REMOVE n.x", Some(true), None),
      ("DELETE n", Some(true), Some(true)),
      ("DETACH DELETE n", Some(true), Some(true)))
    def flag(run: => graft.engine.QueryOutcome): Option[Boolean] =
      try Some(run.mutated) catch { case _: ParseException => None }
    for ((stmt, noParams, withParams) <- cases) {
      assert(flag(s.execute(stmt)) == noParams, s"no params: $stmt")
      assert(flag(s.executeWithParams(stmt, Map("p" -> "v"))) == withParams,
        s"with params: $stmt")
    }
  }

  // legacy WHERE condition parsing dispatches on the TRIMMED key after
  // splitting at the comparator (query_interface.rs:269-352): HAS keys
  // are quote-stripped, spaced `label = L` still hits the label branch,
  // and `!=` on id/label/from/to is an explicit error (adjudicated
  // against the reference executor)
  test("legacy_where_quoted_has_and_spaced_keys") {
    val s = newSession()
    s.execute("""CREATE NODE LW {name:"x", opt:"1"};""")
    s.execute("""CREATE NODE LW {name:"y"};""")
    assert(s.execute("""MATCH NODE LW WHERE HAS("opt")""").rows.length == 1)
    assert(s.execute("""MATCH NODE LW WHERE HAS(opt)""").rows.length == 1)
    assert(s.execute("""MATCH NODE LW WHERE name != "y"""").rows.length == 1)
    assert(s.execute(
      """MATCH NODE LW WHERE label = "LW" AND HAS("opt")""").rows.length == 1)
    val e = intercept[ParseException] {
      s.execute("""MATCH NODE LW WHERE label != "LW"""")
    }
    assert(e.getMessage.contains("metadata keys"))
  }

  // a leading '<' on a relationship is dropped by the reference's
  // parser and direction comes ONLY from a trailing "]->"
  // (cypher_spec.rs:253-256): `<-[...]-` is UNDIRECTED — it matches the
  // edge in both orientations — and `<-[...]->` is directed out
  // (adjudicated against the reference executor)
  test("cypher_reversed_arrow_is_undirected") {
    val s = newSession()
    s.execute("CREATE (:Src9 {name:'s'})")
    s.execute("CREATE (:Dst9 {name:'d'})")
    s.execute("MATCH (a:Src9), (b:Dst9) CREATE (a)-[:T]->(b)")
    // under honored-in semantics this would be empty: s has no incoming
    val rev = s.execute("MATCH (x:Src9)<-[r:T]-(y:Dst9) RETURN x")
    assert(rev.rows.length == 1 && rev.rows.head.properties("name") == "s")
    // both-arrows form is directed out, '<' ignored
    val both = s.execute("MATCH (x:Dst9)<-[r:T]->(y:Src9) RETURN x")
    assert(both.rows.isEmpty)
    val bothOk = s.execute("MATCH (x:Src9)<-[r:T]->(y:Dst9) RETURN x")
    assert(bothOk.rows.length == 1 && bothOk.rows.head.properties("name") == "s")
    // var-length flavor: reversed arrow traverses undirected adjacency
    val vl = s.execute("MATCH (x:Src9)<-[:T*1..1]-(y) RETURN y")
    assert(vl.rows.length == 1 && vl.rows.head.properties("name") == "d")
  }

  // pattern-prop VALUES are quote-stripped at parse, so any stored
  // value starting with '$' is a parameter reference even when written
  // as a quoted literal, and non-param values get a whitespace trim
  // plus one more quote-trim (resolve_param, cypher_spec.rs:738-746 on
  // parse_props output, cypher_spec.rs:94-104; adjudicated against the
  // reference executor). WHERE RHS is different: quoted text stays
  // literal there.
  test("cypher_pattern_prop_dollar_values_are_params") {
    val s = newSession()
    // unresolvable quoted-$ prop value errors like the reference
    val e = intercept[ParseException] { s.execute("CREATE (:C8 {tag: '$t'})") }
    assert(e.getMessage.contains("Missing parameter"))
    // with the param defined, the quoted-$ value resolves — in CREATE
    // and in node-only MATCH props alike
    s.executeWithParams("CREATE (:C8 {tag: '$t'})", Map("t" -> "hello"))
    val m = s.executeWithParams("MATCH (c:C8 {tag: '$t'}) RETURN c", Map("t" -> "hello"))
    assert(m.rows.length == 1 && m.rows.head.properties("tag") == "hello")
    // whitespace trim and second quote-trim on non-param values
    s.execute("CREATE (:D8 {v: ' padded ', q: \"'x'\"})")
    val d = s.execute("MATCH (d:D8) RETURN d").rows.head
    assert(d.properties("v") == "padded")
    assert(d.properties("q") == "x")
    // WHERE RHS keeps quoted text literal — '$t' is NOT a param there
    // (SET stores its value raw, so n.w holds the text "$t")
    s.execute("CREATE (:E8 {w: 'x'})")
    s.execute("MATCH (n:E8) SET n.w = '$t'")
    val w = s.execute("MATCH (n:E8) WHERE n.w = '$t' RETURN n")
    assert(w.rows.length == 1, "quoted WHERE RHS must stay literal")
  }

  // PARITY pin (adjudicated against the reference executor): a SECOND
  // CREATE clause inside one statement is silently lost. At top level
  // the pattern splitter keeps only the first pattern segment; in a
  // MATCH..CREATE tail the defensive truncation (cypher_spec.rs:228-238)
  // cuts the segment at the first ')' — so `CREATE (a)-[:X]->(b)
  // CREATE ...` degrades to the bare node pattern `(a)`, which CREATEs
  // a fresh label-less node and REBINDS a, creating no edges at all.
  test("cypher_trailing_create_clauses_fold_like_reference") {
    val s = newSession()
    s.execute("CREATE (:A {name:'a1'}) CREATE (:A {name:'a2'})")
    assert(s.execute("MATCH (n:A) RETURN n").rows.map(_.properties("name")) == Seq("a1"))
    s.execute("CREATE (:B {name:'b1'})")
    val out = s.execute("MATCH (a:A), (b:B) CREATE (a)-[:X]->(b) CREATE (a)-[:Y]->(b)")
    // implicit return: a is REBOUND to the fresh '_' node, b unchanged
    assert(out.rows.exists(r => r.kind == "node" && r.label == "_"))
    assert(s.execute("MATCH (x)-[r]->(y) RETURN r").rows.isEmpty, "no edges created")
    assert(s.execute("MATCH (n) RETURN n").rows.count(_.label == "_") == 1)
  }

  // driver-result guard: unbounded RETURN past the cap errors clearly
  test("cypher_result_cap_guard") {
    val s = newSession()
    (1 to 8).foreach(i => s.execute(s"CREATE (:Cap {i:'$i'})"))
    spark.conf.set("spark.graft.maxResultRows", "5")
    try {
      val e = intercept[Exception] { s.execute("MATCH (n:Cap) RETURN n") }
      assert(e.getMessage.contains("maxResultRows"))
    } finally spark.conf.unset("spark.graft.maxResultRows")
    assert(s.execute("MATCH (n:Cap) RETURN n").rows.length == 8)
  }

  // same guard on the legacy dialect's result echo: a past-cap legacy
  // MATCH errors instead of collecting unbounded, and a read-only MATCH
  // leaves the affected counters at zero
  test("legacy_result_cap_guard") {
    val s = newSession()
    (1 to 8).foreach(i => s.execute(s"""CREATE NODE LCap {name:"$i"};"""))
    spark.conf.set("spark.graft.maxResultRows", "5")
    try {
      val e = intercept[Exception] { s.execute("MATCH NODE LCap;") }
      assert(e.getMessage.contains("maxResultRows"))
    } finally spark.conf.unset("spark.graft.maxResultRows")
    val out = s.execute("MATCH NODE LCap;")
    assert(out.rows.length == 8)
    assert(out.affectedNodes == 0 && out.affectedRels == 0 && !out.mutated)
  }

  // the cap also guards the pairwise-MERGE echo, and it must abort the
  // merge BEFORE the graph commits: a refused result may not leave the
  // mutation half-reported behind it
  test("legacy_pairwise_merge_cap_aborts_before_commit") {
    val s = newSession()
    (1 to 4).foreach(i => s.execute(s"""CREATE NODE MCap {name:"$i"};"""))
    val relsBefore = s.relationshipCount
    spark.conf.set("spark.graft.maxResultRows", "3")
    try {
      // 4×3/2 = 6 created edges > cap of 3
      val e = intercept[Exception] {
        s.execute("MATCH (a:MCap), (b:MCap) WHERE id(a) < id(b) MERGE (a)-[:LINKED]->(b);")
      }
      assert(e.getMessage.contains("maxResultRows"))
      assert(s.relationshipCount == relsBefore) // nothing committed
    } finally spark.conf.unset("spark.graft.maxResultRows")
    // without the cap the same merge commits all 6 and echoes them
    val ok = s.execute("MATCH (a:MCap), (b:MCap) WHERE id(a) < id(b) MERGE (a)-[:LINKED]->(b);")
    assert(ok.affectedRels == 6 && ok.rows.length == 6)
  }

  // $params resolve in node-ONLY pattern props (cypher_spec.rs:775) but
  // NOT in the endpoint props of a relationship step — the reference's
  // triple-enumeration endpoint check compares the raw "$name" text
  // (cypher_spec.rs:903-905), the same rule as var-length endpoints
  test("cypher_rel_step_endpoint_params_match_raw_text") {
    val s = newSession()
    // a node whose name is the literal text "$who": CREATE would treat
    // the $-leading prop value as a param, so store it via SET (raw)
    s.execute("CREATE (:PEnd {name:'x'}); CREATE (:PEnd {name:'tmp'})")
    s.execute("MATCH (n:PEnd {name:'tmp'}) SET n.name = '$who'")
    s.execute("MATCH (a:PEnd), (b:PEnd) CREATE (a)-[:L]->(b)")
    // node-only pattern: $who resolves to 'x' → 1 node
    val nodeOnly = s.executeWithParams(
      "MATCH (n:PEnd {name:$who}) RETURN n", Map("who" -> "x"))
    assert(nodeOnly.rows.length == 1 && nodeOnly.rows.head.properties("name") == "x")
    // rel-step endpoint: $who stays raw text → matches the '$who' node
    // (4 edges exist: 2 nodes fully connected incl. self-loops)
    val ep = s.executeWithParams(
      "MATCH (a:PEnd {name:$who})-[r:L]->(b) RETURN a", Map("who" -> "x"))
    assert(ep.rows.length == 2 && ep.rows.forall(_.properties("name") == "$who"),
      s"endpoint params must stay raw: ${ep.rows.map(_.properties("name"))}")
    // an UNDEFINED param in an endpoint is not an error either — raw match
    val undef = s.execute("MATCH (a:PEnd {name:$nope})-[r:L]->(b) RETURN a")
    assert(undef.rows.isEmpty)
  }

  // id() comparisons pass only when BOTH operands are bound NODE vars —
  // the reference pattern-matches (Val::NodeId, Val::NodeId) and silently
  // drops the row otherwise (cypher_spec.rs:1075-1081): a rel var or an
  // unknown var in id() filters everything and never errors
  test("cypher_id_compare_is_node_vars_only_and_fail_closed") {
    val s = newSession()
    s.execute("CREATE (:IdC {n:'1'}); CREATE (:IdC {n:'2'})")
    s.execute("MATCH (a:IdC), (b:IdC) CREATE (a)-[:E]->(b)")
    // sanity: the node-var form matches the upper triangle
    assert(s.execute(
      "MATCH (a:IdC), (b:IdC) WHERE id(a) < id(b) RETURN a").rows.length == 1)
    // rel vars: 4 edges → 16 (r,q) pairs exist, every row dropped
    assert(s.execute(
      "MATCH (x)-[r]->(y), (w)-[q]->(z) WHERE id(r) < id(q) RETURN r").rows.isEmpty)
    // one rel operand is enough to drop the row
    assert(s.execute(
      "MATCH (x)-[r]->(y) WHERE id(r) = id(x) RETURN x").rows.isEmpty)
    assert(s.execute(
      "MATCH (x)-[r]->(y) WHERE id(x) <> id(r) RETURN x").rows.isEmpty)
    // unknown variable: rows dropped, NOT a parse/runtime error
    assert(s.execute(
      "MATCH (a:IdC) WHERE id(a) < id(zz) RETURN a").rows.isEmpty)
    // fail-closed is per-row, statement still succeeds and mutates later
    val out = s.execute(
      "MATCH (a:IdC) WHERE id(zz) = id(zz) RETURN a")
    assert(out.rows.isEmpty && !out.mutated)
  }

  // the legacy pairwise merge raises its unknown-WHERE-vars error INSIDE
  // the pair loop (query_interface.rs:502-510): with zero candidate
  // pairs the comparator is never evaluated and the statement succeeds
  test("legacy_pairwise_unknown_where_vars_error_is_pair_lazy") {
    val s = newSession()
    // no :Ghost nodes exist → zero pairs → no error, nothing created
    val ok = s.execute(
      "MATCH (a:Ghost), (b:Ghost) WHERE id(a) < id(zz) MERGE (a)-[:G]->(b);")
    assert(ok.rows.isEmpty && ok.affectedRels == 0 && !ok.mutated)
    // with candidates present the same WHERE errors like the reference
    s.execute("""CREATE NODE Pz {name:"p1"};""")
    s.execute("""CREATE NODE Pz {name:"p2"};""")
    val e = intercept[ParseException] {
      s.execute("MATCH (a:Pz), (b:Pz) WHERE id(a) < id(zz) MERGE (a)-[:G]->(b);")
    }
    assert(e.getMessage.contains("unknown variables"))
    assert(s.relationshipCount == 0)
  }

  // the reference's clause splitter is a string slicer with a fixed
  // keyword-priority chain (RETURN > WHERE > MERGE > CREATE > WITH >
  // SET > REMOVE > DETACH DELETE > DELETE, cypher_spec.rs:333-465);
  // each behavior below was probed against the reference executor in
  // round 8 and is continuously re-checked by the three-way fuzzer
  test("cypher_clause_slicing_artifacts") {
    val s = newSession()
    s.execute("CREATE (:Sl {k:'s1', u:'10', g:'g1'})")
    s.execute("CREATE (:Sl {k:'s2', u:'11', g:'g2'})")

    // WHERE..SET without RETURN: the WHERE text becomes SET items and
    // the filter is LOST — n.u is overwritten on every matched node
    s.execute("MATCH (n:Sl {k:'s1'}) WHERE n.u = '99' SET n.mark = 'z'")
    val n1 = s.execute("MATCH (n:Sl {k:'s1'}) RETURN n").rows.head
    assert(n1.properties("u") == "99" && n1.properties("mark") == "z")

    // WITH swallows a following DELETE into junk items: zero rows, no
    // deletion; a SET before WITH is dropped by the defensive cut
    assert(s.execute("MATCH (n:Sl) WITH n DELETE n").rows.isEmpty)
    assert(s.execute("MATCH (n:Sl) RETURN n").rows.length == 2)
    s.execute("MATCH (n:Sl) SET n.sd = '1' WITH n")
    assert(s.execute("MATCH (n:Sl) RETURN n").rows.forall(!_.properties.contains("sd")))

    // a CREATE between MATCH and RETURN is silently dropped
    s.execute("MATCH (a:Sl {k:'s1'}) CREATE (b:SlX {k:'sx'}) RETURN a")
    assert(s.execute("MATCH (n:SlX) RETURN n").rows.isEmpty)

    // RETURN bodies swallow the tail: a trailing DELETE folds into a
    // junk item (zero rows, nothing deleted)
    assert(s.execute("MATCH (n:Sl) RETURN n.k DELETE n").rows.isEmpty)
    assert(s.execute("MATCH (n:Sl) RETURN n").rows.length == 2)

    // SKIP/LIMIT peel from the END; the LEFTMOST repeat wins (s1's u
    // is 99 after the filter-loss SET above, so ascending starts at 11)
    assert(s.execute("MATCH (n:Sl) RETURN n.u ORDER BY n.u LIMIT 1 LIMIT 2")
      .rows.map(_.info) == Seq("11"))
    // ...and the same leftmost-repeat rule for SKIP (probed r10, 3×
    // deterministic: the peel rfinds right-to-left so the LAST parse —
    // the textually FIRST repeat — wins), including interleaved repeats
    assert(s.execute("MATCH (n:Sl) RETURN n.u ORDER BY n.u SKIP 1 SKIP 0")
      .rows.map(_.info) == Seq("99"))
    assert(s.execute("MATCH (n:Sl) RETURN n.u ORDER BY n.u SKIP 0 SKIP 1")
      .rows.map(_.info) == Seq("11", "99"))
    assert(s.execute(
        "MATCH (n:Sl) RETURN n.u ORDER BY n.u SKIP 1 LIMIT 1 SKIP 0 LIMIT 2")
      .rows.map(_.info) == Seq("99"))
    // a paginated ORDER BY over an UNBOUND variable ties every key at ""
    // (cypher_spec.rs:1437-1446 pushes "" for unbound vars): the
    // reference then pages in per-process-random HashMap order (probed
    // r10: 8 fresh processes returned all 4 possible windows —
    // MutFuzz.allTiesSkipWindow suppresses the class); the ENGINE's
    // window is deterministic and must stay a proper sub-multiset with
    // the exact count = total − skip
    val full = s.execute("MATCH (n:Sl) RETURN n.u").rows.map(_.info)
    val win = s.execute("MATCH (n:Sl) RETURN n.u ORDER BY nu. SKIP 1")
      .rows.map(_.info)
    assert(win.length == full.length - 1 && win.diff(full).isEmpty)
    // an ORDER BY after an unpeeled count garbles the items to zero rows
    assert(s.execute("MATCH (n:Sl) RETURN n.u SKIP 1 ORDER BY n.u").rows.isEmpty)
    // junk kills only ITS comma-segment in multi-item mode
    assert(s.execute("MATCH (n:Sl {k:'s1'}) RETURN n.k, n.u junk")
      .rows.map(_.info) == Seq("s1"))

    // keyword finds are case-insensitive but the WHERE strip is
    // case-sensitive: a lowercase `where` folds into the condition
    assert(s.execute("MATCH (n:Sl) where n.g = 'g1' RETURN n.k").rows.isEmpty)

    // WITH..RETURN cannot be expressed: the WITH text lands in the
    // patterns region and fails as an invalid node pattern
    val e2 = intercept[ParseException] {
      s.execute("MATCH (n:Sl) WITH n RETURN n")
    }
    assert(e2.getMessage.contains("invalid node pattern"))

    // the raw-WHERE fallback re-splits at the first raw "WHERE"
    // occurrence when no tail clause was found: a lowercase `where`
    // WITHOUT a RETURN gets its keyword stripped (the filter works,
    // unlike the with-RETURN path above), and an identifier containing
    // "where" poisons the whole statement (both probed)
    val lw = s.execute("MATCH (n:Sl) where n.g = 'g2'").rows
    assert(lw.map(_.properties("k")) == Seq("s2"))
    val e3 = intercept[ParseException] { s.execute("MATCH (somewhere)") }
    assert(e3.getMessage.contains("invalid node pattern: (some"))
    val e4 = intercept[ParseException] {
      s.execute("MATCH (nowhere) WHERE nowhere.g = 'g1'")
    }
    assert(e4.getMessage.contains("invalid node pattern: (no"))
  }

  // Legacy WHERE mirrors parse_where_conds' byte scan and Rust's
  // trim_matches (all probed on the vendored executor): quote strips
  // are per-end runs (asymmetric `"Ada` and doubled `""Ada""` both
  // strip), AND boundaries are whitespace-or-')' before and
  // whitespace-or-'(' after (so `,AND,` does NOT split — the regex \b
  // split used before this pin split there and then errored on the
  // fragment), split_where falls back to an unspaced ` WHERE`, a bare
  // trailing WHERE means no conditions, HAS() without a key errors,
  // and the byte windows panic on ANY multi-byte char — the legacy
  // scan has no quote exemption, unlike the Cypher one.
  test("legacy_where_and_scan_and_trim_matches_mirror_reference") {
    val s = newSession()
    s.execute("CREATE NODE Person {name:\"Ada\"};")
    assert(s.execute("MATCH NODE Person WHERE name=\"Ada;").rows.length == 1)
    assert(s.execute("MATCH NODE Person WHERE name=\"\"Ada\"\";").rows.length == 1)
    assert(s.execute("MATCH NODE Person WHERE name=\"x,AND,y\";").rows.isEmpty)
    assert(s.execute(
      "MATCH NODE Person WHERE label=Person AND(name=\"Ada\");").rows.isEmpty)
    assert(s.execute("MATCH NODE Person WHEREname=\"Ada\";").rows.length == 1)
    assert(s.execute("MATCH NODE Person WHERE;").rows.length == 1)
    val e1 = intercept[ParseException] {
      s.execute("MATCH NODE Person WHERE HAS();")
    }
    assert(e1.getMessage.contains("has() requires a key"))
    val e2 = intercept[ParseException] {
      s.execute("MATCH NODE Person WHERE name=\"café\";")
    }
    assert(e2.getMessage.contains("invalid WHERE conditions"))
  }

  // The reference's split_where_and iterates WHERE text byte-wise and
  // slices `&s[i..i+3]` at every unquoted position to look for AND —
  // so any 3-byte window whose endpoint lands inside a multi-byte
  // UTF-8 char PANICS there (probed against the vendored executor:
  // `CONTAINS 'é'` dies because the é sits only 2 bytes after the
  // opening quote, still reachable by a window that starts before the
  // quote; `= 'café'` survives because every window touching the é
  // starts inside the quotes and is skipped). Our contract maps the
  // panic to the typed parse error; the survivor must filter normally.
  test("cypher_where_nonascii_byte_windows_match_reference_panics") {
    val s = newSession()
    s.execute("CREATE (:Wu {name:'café'}); CREATE (:Wu {name:'tea'})")
    // survivor: é is 5 bytes past the opening quote
    assert(s.execute("MATCH (a:Wu) WHERE a.name = 'café' RETURN a.name")
      .rows.map(_.info) == Seq("café"))
    // panic mirror: é within 2 bytes of its opening quote
    val e1 = intercept[ParseException] {
      s.execute("MATCH (a:Wu) WHERE a.name CONTAINS 'é' RETURN a.name")
    }
    assert(e1.getMessage.contains("invalid WHERE expression"))
    // panic mirror: any multi-byte char outside quotes (U+00A0 here)
    val e2 = intercept[ParseException] {
      s.execute("MATCH (a:Wu), (b:Wu) WHERE id(a)\u00a0<\u00a0id(b) RETURN a.name")
    }
    assert(e2.getMessage.contains("invalid WHERE expression"))
  }

  // ENGINE-EXTENSION pin: chained hops in ONE path. The reference's
  // parse_pattern mangles `(a)-[]->(b)-[]->(c)` into a garbage right
  // variable that never binds (everything after the first right-paren
  // becomes the node "name"), so no reference query can rely on the
  // shape; our token grammar parses it as a real two-hop path. The
  // reference-expressible equivalent — comma patterns with a shared
  // variable — must agree with the chained form.
  test("cypher_chained_hops_are_an_engine_extension") {
    val s = newSession()
    s.execute("CREATE (:Ch {k:'c1'}); CREATE (:Ch {k:'c2'}); CREATE (:Ch {k:'c3'})")
    s.execute("MATCH (a {k:'c1'}), (b {k:'c2'}) CREATE (a)-[:CE]->(b)")
    s.execute("MATCH (a {k:'c2'}), (b {k:'c3'}) CREATE (a)-[:CE]->(b)")
    val chained = s.execute(
      "MATCH (a)-[r1:CE]->(b)-[r2:CE]->(c) RETURN c").rows
    assert(chained.map(_.properties("k")) == Seq("c3"))
    val comma = s.execute(
      "MATCH (a)-[r1:CE]->(b), (b)-[r2:CE]->(c) RETURN c").rows
    assert(comma.map(_.properties("k")) == chained.map(_.properties("k")))
  }

  // the reference accepts ANY character run as a pattern variable —
  // `.a`, `a.`, `.`, `x.y` all parse and bind (probed statement-by-
  // statement against the vendored executor, round 9); Spark's
  // attribute grammar treats unquoted dots as struct access, so every
  // var-name column reference is backtick-quoted (Executor.vcol).
  // Found by FuzzProbe as an AnalysisException escape.
  test("cypher_dotted_variable_names_bind_like_reference") {
    val s = newSession()
    // CREATE with a dot-leading var succeeds and implicit-returns it
    val c = s.execute("CREATE (.a:Pd {k:\"1\"})")
    assert(c.mutated && c.rows.map(_.label) == Seq("Pd"))
    for (q <- Seq("CREATE (a.:Pd2 {k:\"2\"})", "CREATE (.:Pd3 {k:\"3\"})"))
      assert(s.execute(q).mutated)
    // `.a` in a RETURN item is prop-access shaped, never a bound var →
    // rows drop (reference: empty result, not an error)
    assert(s.execute("MATCH (.a) RETURN .a").rows.isEmpty)
    assert(s.execute(
      "MATCH (.a:Pd) WHERE .a.k = \"1\" RETURN .a.k").rows.isEmpty)
    assert(s.execute("MATCH (x.y:Pd) RETURN x.y").rows.isEmpty)
    // dotted vars still join/filter correctly as binding columns:
    // `.a.k` splits at the FIRST dot (var "" → item yields nothing)
    // while `id(.a)` binds the dotted var and emits its id (probed)
    val m = s.execute("MATCH (.a:Pd) RETURN .a.k, id(.a)")
    assert(m.rows.map(_.kind) == Seq("info") && m.rows.head.info.nonEmpty)
    // path CREATE with unbound endpoints: nothing created, mutated
    // still true (reference per-row loop skips, flag already set)
    val pc = s.execute("CREATE (q1:Pd4 {k:\"4\"})-[:R]->(.b:Pd5 {k:\"5\"})")
    assert(pc.mutated)
    val all = s.execute("MATCH (n) RETURN n").rows.map(_.label).sorted
    assert(all == Seq("Pd", "Pd2", "Pd3"))
    // SET .a.k first-dot splits to var "" → silent no-op, k unchanged,
    // and the bound dotted var still implicit-returns (probed)
    val set = s.execute("MATCH (.a:Pd) SET .a.k = \"9\"")
    assert(!set.mutated && set.rows.map(_.properties("k")) == Seq("1"))
    // id() binds dotted vars: self-compare fail-closed, cross-pair works
    assert(s.execute(
      "MATCH (.a:Pd) WHERE id(.a) < id(.a) RETURN .a").rows.isEmpty)
    // legacy pairwise MATCH..MERGE validates its endpoint vars against
    // the MATCH vars and errors on a dotted mismatch with the
    // reference's exact text (query_interface.rs:475)
    val me = intercept[ParseException] { s.execute(
      "MATCH (.a {k:\"1\"}), (.b {k:\"2\"}) MERGE (.a)-[:RR]->(.b)") }
    assert(me.getMessage == "MERGE references unknown variable: .a")
    // DETACH DELETE on a dotted var deletes its bindings; both engine
    // and reference report mutated=false here (flag heuristic, probed)
    assert(!s.execute("MATCH (.a:Pd) DETACH DELETE .a").mutated)
    assert(s.execute("MATCH (m:Pd) RETURN m").rows.isEmpty)
  }

  // the reference's rel slice must START with the bytes "-[" and END
  // with "]-" / "]->" / "-]" (parse_rel_pattern, cypher_spec.rs:143):
  // bracketless dashes fold into a garbage single-node pattern (var
  // "a)--(b" that binds every node but is never referenced) and a
  // whitespace-broken closing arrow is the "invalid rel pattern"
  // error. Probed against the vendored executor; found by the
  // cross-dialect MutFuzz sweep (seed 18).
  test("cypher_rel_arrow_must_be_byte_exact") {
    val s = newSession()
    s.execute("CREATE (:Ae1 {k:\"1\"}); CREATE (:Ae2 {k:\"2\"})")
    s.execute("MATCH (a {k:\"1\"}), (b {k:\"2\"}) CREATE (a)-[:AE]->(b)")
    // bracketless: garbage node pattern, RETURN var unknown → empty
    for (q <- Seq("MATCH (a)--(b) RETURN a", "MATCH (a)-->(b) RETURN a",
                  "MATCH (a)- ->(b) RETURN a"))
      assert(s.execute(q).rows.isEmpty, q)
    // ...but the garbage var IS bound (to every node): implicit return
    val imp = s.execute("MATCH (a)--(b)")
    assert(imp.rows.length == 2)
    // whitespace inside the closing arrow: reference error text
    for (bad <- Seq("MATCH (a)-[r:AE]- >(b) RETURN a",
                    "MATCH (a)-[r:AE]>(b) RETURN a")) {
      val e = intercept[ParseException] { s.execute(bad) }
      assert(e.getMessage.startsWith("invalid rel pattern:"), bad)
    }
    // adjacent arrows and spaced leading '<' still parse (probed: the
    // '<' sits outside the reference's slices and is ignored)
    assert(s.execute("MATCH (a)<-[r:AE]-(b) RETURN b.k").rows.map(_.info).sorted
      == Seq("1", "2"))
    assert(s.execute("MATCH (a)< -[r:AE]-(b) RETURN b.k").rows.length == 2)
    assert(s.execute("MATCH (a)-[r:AE]->(b) RETURN b.k").rows.map(_.info) == Seq("2"))
  }

  test("cypher_rel_slice_tail_must_abut_right_node") {
    // the reference's rel slice runs from `-[` to the first '(' after
    // its first ']' and must END with the bytes "]-"/"]->"/"-]"
    // (parse_pattern + parse_rel_pattern, cypher_spec.rs:239-268+143):
    // whitespace or junk between the tail and the right '(' errors even
    // though a tokenizer would skip it (probed r10, MutFuzz seed 28)
    val s = newSession()
    s.execute("CREATE (:At1 {k:\"1\"}); CREATE (:At2 {k:\"2\"})")
    s.execute("MATCH (a {k:\"1\"}), (b {k:\"2\"}) CREATE (a)-[:AT]->(b)")
    for (bad <- Seq("MATCH (a)-[r:AT]- (b) RETURN a",
                    "MATCH (a)-[r:AT]-> (b) RETURN a",
                    "MATCH (a)-[r:AT]->x(b) RETURN a",
                    "MATCH (a)-[r:AT] ->(b) RETURN a")) {
      val e = intercept[ParseException] { s.execute(bad) }
      assert(e.getMessage.startsWith("invalid rel pattern:"), bad)
    }
    // leading whitespace before `-[` is OUTSIDE the slice and fine
    assert(s.execute("MATCH (a) -[r:AT]->(b) RETURN b.k").rows.map(_.info)
      == Seq("2"))
    // `-]` is a valid slice tail there (undirected), probed vs the
    // reference: `-[r:AT-]` parses with type AT
    assert(s.execute("MATCH (a)-[r:AT-](b) RETURN b.k").rows.map(_.info).sorted
      == Seq("1", "2"))
    // a `-[` inside a left prop value derails the reference's slicing
    // before any ')' exists: "bad path left" (probed r10)
    val e2 = intercept[ParseException] {
      s.execute("MATCH (a {k:'-['}) RETURN a")
    }
    assert(e2.getMessage == "bad path left")
    // 0x1C-0x1F are NOT Rust whitespace: a trailing file separator
    // makes the node pattern invalid (probed r10, MutFuzz seed 27 —
    // Java's whitespace class silently swallowed it)
    val e3 = intercept[ParseException] {
      s.execute("MATCH (a:At1 {k:'1'})\u001c RETURN a")
    }
    assert(e3.getMessage == "invalid node pattern: (a:At1 {k:'1'})\u001c")
  }

  test("cypher_quoted_structural_bytes_follow_reference_slicing") {
    // ADVICE r10 -> probed r11 (probes/slice.ql): the reference's
    // pattern slicing is quote-BLIND, so structural bytes inside quoted
    // prop values misalign its scan even where a tokenizer succeeds.
    // refSliceAudit now routes any `-[`-bearing segment with a quoted
    // ()[] byte to the string mirror, which reproduces each reference
    // error byte-exactly.
    val s = newSession()
    s.execute("CREATE (:Qs1 {k:\"1\"}); CREATE (:Qs2 {k:\"2\"})")
    s.execute("MATCH (a {k:\"1\"}), (b {k:\"2\"}) CREATE (a)-[:QS]->(b)")
    // quoted ')' before a quoted '-[' with no ']' after: the raw scan
    // finds a left node but no closing bracket
    val e1 = intercept[ParseException] {
      s.execute("MATCH (b {j:')', k:'-['}) RETURN b")
    }
    assert(e1.getMessage == "bad relationship pattern (no closing ]): (b {j:')', k:'-['})")
    // ...with a quoted ']' present but no '(' after it
    val e2 = intercept[ParseException] {
      s.execute("MATCH (b {j:')', k:'-[]'}) RETURN b")
    }
    assert(e2.getMessage == "bad path right (no right node)")
    // quoted ')' inside the LEFT node cuts the raw left slice mid-map
    // even though a real rel follows (probed: "unclosed properties")
    val e3 = intercept[ParseException] {
      s.execute("MATCH (a {p:')-['})-[r:QS]->(b) RETURN a")
    }
    assert(e3.getMessage == "unclosed properties")
    // a quoted '-[' in the RIGHT node after a real hop: the reference
    // accepts (its single scan already consumed the rel) -- the mirror
    // must too, binding zero rows for the absent prop
    assert(s.execute("MATCH (a)-[r:QS]->(b {p:'-['}) RETURN a").rows.isEmpty)
    // a quoted ']' before a real rel leaves the raw scan aligned
    assert(s.execute("MATCH (a {k:'1'})-[r:QS]->(b) RETURN b.k").rows.map(_.info)
      == Seq("2"))
  }

  test("cypher_prop_map_trailing_comma_is_invalid_property") {
    // parse_props splits the props block on ',' and errors on the empty
    // part (cypher_spec.rs:94-104): `{g:'g3',}` is "invalid property: "
    // there, for MATCH and CREATE alike (probed r11; found by MutFuzz
    // seed 54 after the token grammar tolerated the trailing comma)
    val s = newSession()
    for (bad <- Seq("MATCH (n:La {g:'g3',}) RETURN n", "CREATE (:Zz {a:'1',})")) {
      val e = intercept[ParseException] { s.execute(bad) }
      assert(e.getMessage == "invalid property: ", bad)
    }
  }

  test("cypher_pattern_prop_values_retrim_with_rust_whitespace") {
    // resolve_param re-trims the already-DEQUOTED stored value with
    // str::trim = Unicode White_Space (cypher_spec.rs:94-104 parse_props
    // dequotes, :738-746 resolve_param trims again) -- so a quoted
    // trailing U+2029/U+00A0 strips (probed r11, probes/trim.ql; found
    // by MutFuzz seed 38) while 0x1C, Java-trimmed but NOT Rust
    // whitespace, survives and defeats the match.
    val s = newSession()
    s.execute("CREATE (:Tw {g:'g2'})")
    assert(s.execute("MATCH (n:Tw {g:'g2\u2029'}) RETURN n").rows.length == 1)
    assert(s.execute("MATCH (n:Tw {g:'g2\u00a0'}) RETURN n").rows.length == 1)
    assert(s.execute("MATCH (n:Tw {g:'g2\u001c'}) RETURN n").rows.isEmpty)
    // CREATE stores the re-trimmed value too
    s.execute("CREATE (:Tw2 {g:'x\u00a0'})")
    assert(s.execute("MATCH (n:Tw2 {g:'x'}) RETURN n").rows.length == 1)
  }

  test("cypher_spaced_rel_lead_is_a_node_pattern") {
    // `- [` defeats the reference's raw "-[" byte scan (parse_pattern,
    // cypher_spec.rs:239-268): the segment is a NODE pattern there —
    // label "U", props kept, NO relationship (probed r11, found by
    // MutFuzz seed 27). The tokenizer's whitespace-skip must not
    // resurrect the relationship: refSliceAudit requires the raw "-["
    // count to equal the token-parsed hop count.
    val s = newSession()
    s.execute("CREATE (x:Lb {k:'1'}), (y:Lb {k:'2'}), (x)- [:U {ek:'e9'}]->(y)")
    assert(s.execute("MATCH ()-[r]->() RETURN r").rows.isEmpty)
    val n = s.execute("MATCH (n:U) RETURN n").rows
    assert(n.length == 1 && n.head.label == "U")
    assert(n.head.properties == Map("ek" -> "e9"))
    assert(s.execute("MATCH (n) RETURN n").rows.length == 3)
  }

  test("cypher_variable_names_are_case_sensitive") {
    // Rust HashMap binding keys: `a` and `A` are DISTINCT variables
    // (probed r11, probes/case.ql). Spark's default case-insensitive
    // attribute resolution collided their binding columns into
    // AMBIGUOUS_REFERENCE (found by MutFuzz seed 21) — the engine now
    // analyzes all graph/binding frames on a case-sensitive session
    // (PropertyGraph.engineSession).
    val s = newSession()
    s.execute("CREATE (:Cx {k:\"1\"}); CREATE (:Cy {k:\"2\"})")
    s.execute("MATCH (a {k:\"1\"}), (b {k:\"2\"}) CREATE (a)-[:CU {ek:\"e1\"}]->(b)")
    // rel var `A` coexists with node var `a`
    assert(s.execute("MATCH (a)-[A:CU]->(b) RETURN b.k").rows.map(_.info) == Seq("2"))
    // node vars `a` and `A` bind independently
    assert(s.execute("MATCH (a {k:\"1\"}), (A {k:\"2\"}) RETURN A.k").rows.map(_.info)
      == Seq("2"))
    // rel-var prop in RETURN drops the row (P10), unchanged by case
    assert(s.execute("MATCH (a)-[A:CU]->(b) RETURN A.ek").rows.isEmpty)
    // the seed-21 shape: junk DELETE items on a case-colliding pattern
    // must not blow up analysis; the reference succeeds with 0 affected
    val d = s.execute("MATCH (a)-[A:CU]->(b) DELETE r, LIMIT  a")
    assert(d.affectedNodes == 0 && d.affectedRels == 0)
  }

  test("legacy_uuid_forms_follow_uuid_crate_try_parse") {
    // ADVICE r10 #3: the uuid crate's parser.rs matches the urn prefix
    // as literal lowercase bytes and try_parse never trims (only
    // parse_uuid_from, query_interface.rs:662, trims at the call site).
    // All probed against the refharness oracle r11 (probes/uuid.ql).
    val s = newSession()
    s.execute("CREATE NODE Ux")
    val hyph = {
      val id = s.execute("MATCH NODE Ux").rows.head.id
      val h = id.replace("-", "").toLowerCase
      s"${h.substring(0, 8)}-${h.substring(8, 12)}-${h.substring(12, 16)}-" +
        s"${h.substring(16, 20)}-${h.substring(20)}"
    }
    val simple = hyph.replace("-", "")
    def hits(form: String): Int =
      s.execute(s"""MATCH NODE Ux WHERE id="$form"""").rows.length
    assert(hits(hyph) == 1)
    assert(hits(simple) == 1)
    assert(hits(s"{$hyph}") == 1)
    assert(hits(s"urn:uuid:$hyph") == 1)
    assert(hits(hyph.toUpperCase) == 1) // hex digits ARE case-insensitive
    // uppercase URN prefix: rejected (lowercase byte-literal match)
    val e1 = intercept[Exception] { hits(s"URN:UUID:$hyph") }
    assert(e1.getMessage.startsWith("invalid uuid"))
    // padding INSIDE the quotes reaches try_parse untrimmed: rejected
    val e2 = intercept[Exception] { hits(s" $hyph ") }
    assert(e2.getMessage.startsWith("invalid uuid"))
    // braced form requires the hyphenated inner shape
    val e3 = intercept[Exception] { hits(s"{$simple}") }
    assert(e3.getMessage.startsWith("invalid uuid"))
    // DELETE NODE mirrors parse_uuid_from: padding IS trimmed there
    val del = s.execute(s"DELETE NODE   $hyph ")
    assert(del.affectedNodes == 1)
  }

  test("cypher_where_numeric_compare_follows_rust_f64_and_ieee_nan") {
    // The P5 dual compare routes numeric iff BOTH sides parse per Rust
    // f64::from_str (cypher_spec.rs:1129-1132 `s.parse::<f64>`): no
    // trimming, "inf"/"infinity"/"nan" case-insensitive, ASCII digits
    // only, no Java d/f suffixes or hex floats; overflow parses to inf.
    // NaN comparisons are all false except `<>` (Rust `a != b`); -0.0
    // == 0.0. Direct pin of the r11 rustF64/rustF64Col rewrite (VERDICT
    // r11 #1), probed against the refharness oracle r12
    // (probes/nan.ql). WHERE RHS literals keep whitespace INSIDE the
    // quotes (trim_quotes trims only outside); CREATE prop-map values
    // re-trim at resolution but SET values do not (cypher_spec.rs
    // Clause::Set literal handling), so the ws-adjacent rows are
    // stored via SET.
    val s = newSession()
    val inline = Seq(
      "nanlc" -> "nan", "nanmc" -> "NaN", "pinf" -> "inf",
      "ninf" -> "-infinity", "five" -> "5", "ofive" -> "05",
      "tendot" -> "10.", "negz" -> "-0", "zero" -> "0.0",
      "hex" -> "0x10", "j5d" -> "5d", "arab" -> "\u0661")
    inline.foreach { case (k, v) => s.execute(s"CREATE (:Nv {k:'$k', v:'$v'})") }
    s.execute("CREATE (:Nv {k:'sp5'}); CREATE (:Nv {k:'tab5'})")
    s.execute("MATCH (n:Nv {k:'sp5'}) SET n.v = ' 5'")
    s.execute("MATCH (n:Nv {k:'tab5'}) SET n.v = '5\t'")
    // SET stored the values untrimmed
    assert(s.execute("MATCH (n:Nv {k:'sp5'}) RETURN n").rows.head
      .properties("v") == " 5")
    assert(s.execute("MATCH (n:Nv {k:'tab5'}) RETURN n").rows.head
      .properties("v") == "5\t")
    def hits(op: String, rhs: String): Set[String] =
      s.execute(s"MATCH (n:Nv) WHERE n.v $op '$rhs' RETURN n.k").rows
        .map(_.info).toSet
    val all = (inline.map(_._1) ++ Seq("sp5", "tab5")).toSet
    // NaN RHS: numeric path for every Rust-parsing lhs (all false
    // except <>); byte-order strings for the rest
    assert(hits("=", "nan") == Set.empty)
    assert(hits("=", "NaN") == Set.empty) // v='NaN' does NOT match: NaN != NaN
    assert(hits("<>", "nan") == all)
    assert(hits("<", "nan") == Set("hex", "j5d", "sp5", "tab5"))
    assert(hits(">=", "nan") == Set("arab")) // U+0661 sorts above 'n'
    // inf RHS
    assert(hits("<", "inf") == Set("ninf", "five", "ofive", "tendot",
      "negz", "zero", "hex", "j5d", "sp5", "tab5"))
    assert(hits(">=", "-infinity") == all -- Set("nanlc", "nanmc", "sp5"))
    assert(hits("=", "+Infinity") == Set("pinf")) // spelling-insensitive both sides
    // finite numeric RHS: "05" numeric-equals "5"; -0.0 == 0.0
    assert(hits("=", "5") == Set("five", "ofive"))
    assert(hits("<>", "5") == all -- Set("five", "ofive"))
    assert(hits("=", "-0") == Set("negz", "zero"))
    assert(hits("<", "10.") == Set("ninf", "five", "ofive", "negz",
      "zero", "hex", "sp5"))
    // overflow RHS parses to +inf, not an error
    assert(hits(">=", "1e99999") == Set("pinf", "j5d", "arab", "tab5"))
    // non-numeric RHS forces the string path even for numeric lhs
    assert(hits(">", "5d") == Set("nanlc", "nanmc", "pinf", "arab"))
    // untrimmed RHS: ' 5' stays non-numeric, so EVERY value string-sorts
    // >= it (a trimming implementation would drop ninf here)
    assert(hits(">=", " 5") == all)
  }

  test("cypher_prop_keys_may_contain_equals") {
    // Both prop splits keep '='-bearing keys whole: parse_props
    // (cypher_spec.rs:94-104) and legacy parse_keyvals
    // (query_interface.rs:354-366) split key from value with
    // splitn(2, ':') — `{k=:"v"}` is key "k=", value "v" (VERDICT r11
    // Next #3: reachable on the oracle wire since the \u001f pair
    // encoding; probed r12, probes/nan.ql tail).
    val s = newSession()
    s.execute("CREATE (:Ke {k=:'v', =:'w'})")
    val n = s.execute("MATCH (n:Ke) RETURN n").rows.head
    assert(n.properties == Map("k=" -> "v", "=" -> "w"))
    assert(s.execute("MATCH (n:Ke {k=:'v'}) RETURN n").rows.length == 1)
    assert(s.execute("MATCH (n:Ke {k=:'x'}) RETURN n").rows.isEmpty)
    s.execute("""CREATE NODE Ke2 {q=:"w2"}""")
    assert(s.execute("MATCH NODE Ke2").rows.head.properties == Map("q=" -> "w2"))
  }

  test("cypher_escaped_quote_wrapping_structural_bytes") {
    // quotedStructural's backslash arm (Parser.scala:300-303): a
    // \'-escaped quote wrapping ')' / '-[' payloads must neither
    // terminate the quote scan early nor resurrect a relationship the
    // reference's raw byte scan wouldn't see (VERDICT r11 Next #4).
    // Escape PROCESSING is a documented engine EXTENSION (the
    // reference stores the backslash raw, cypher_spec.rs:85), so this
    // seam is pinned engine-only — it was tried three-way r12 and
    // diverged exactly on the stored value, as the DiffFuzz header
    // predicts (see the fixed-block note there).
    val s = newSession()
    s.execute("CREATE (:Qe {k:'q1', p:'a\\')b'})")
    val n = s.execute("MATCH (n:Qe) RETURN n").rows.head
    assert(n.properties == Map("k" -> "q1", "p" -> "a')b"))
    assert(s.execute("MATCH (n:Qe {p:'a\\')b'}) RETURN n.k").rows.map(_.info)
      == Seq("q1"))
    // a quoted '-[' with no ')' before it still routes to the string
    // mirror's exact reference errors — the escaped quote must not
    // swallow them
    val e1 = intercept[Exception] {
      s.execute("MATCH (b {j:'\\'-['}) RETURN b") }
    assert(e1.getMessage == "bad path left")
    val e2 = intercept[Exception] {
      s.execute("MATCH (a {p:'\\')-['})-[r:T]->(b) RETURN a") }
    assert(e2.getMessage == "unclosed properties")
    // a REAL relationship whose quoted props embed ')-[': the raw "-["
    // count (2) exceeds the token hop count (1), so refSliceAudit
    // routes to the string mirror — which still creates the edge
    s.execute("CREATE (x:Qf {k:'x1'}), (y:Qf {k:'y1'}), " +
      "(x)-[:QT {ek:'eq', note:'\\')-['}]->(y)")
    assert(s.execute("MATCH (a)-[r:QT]->(b) RETURN b.k").rows.map(_.info)
      == Seq("y1"))
  }

  test("cypher_quoted_comma_in_props_resplits_like_parse_props") {
    // parse_props splits the props BLOCK on ALL commas BEFORE any quote
    // handling (cypher_spec.rs:98): a quoted value containing ',' never
    // survives as one value. The re-split part either lacks ':' and
    // errors with the reference's exact text, or re-parses as a
    // DIFFERENT prop. Found by MutFuzz seed 166 (the token grammar
    // accepted {ek:'e,7'} silently); probed r12, probes/comma.ql, all
    // 12 statements agreeing.
    val s = newSession()
    for ((bad, err) <- Seq(
        "MATCH (n:Ca {g:'g,1'}) RETURN n" -> "invalid property: 1'",
        "MATCH (a)-[r:T {ek:'e,7'}]-(b {g:'g1'}) RETURN b" -> "invalid property: 7'",
        "CREATE (:Cb {k:'c,2', g:'g1'})" -> "invalid property: 2'",
        "MATCH (a)-[r:T {ek:'e7,'}]-(b) RETURN b" -> "invalid property: '")) {
      val e = intercept[Exception] { s.execute(bad) }
      assert(e.getMessage == err, bad)
    }
    // WHERE literals are untouched — no comma split there
    assert(s.execute("MATCH (n) WHERE n.g = 'g,1' RETURN n.k").rows.isEmpty)
    // the ACCEPTING re-split: {k:'a,b:c'} is TWO props — k with the
    // dangling open quote kept, b with the dangling close quote kept
    s.execute("CREATE (:Cd {k:'a,b:c'})")
    val n = s.execute("MATCH (n:Cd) RETURN n").rows.head
    assert(n.properties == Map("k" -> "'a", "b" -> "c'"))
    assert(s.execute("""MATCH (n:Cd {b:"c'"}) RETURN n""").rows.length == 1)
  }

  // ADVICE r12 / r13 fix: the quoted-comma degrade keys on the RAW
  // source slice, not the unescaped token value. An escape-minted comma
  // (backslash-u002c) has no ',' byte for parse_props to re-split on
  // (cypher_spec.rs:98 splits source bytes), so the reference keeps the
  // raw text verbatim — and the engine's escape-processing EXTENSION
  // stays live for it (engine-only pin; the reference never unescapes,
  // cypher_spec.rs:85). A raw or backslash-escaped ',' BYTE still
  // degrades: the reference's quote-blind split re-splits either.
  test("cypher_escaped_comma_keeps_escape_extension_alive") {
    val s = newSession()
    s.execute("CREATE (:Ec {k:'a\\u002cb', g:'g1'})")
    val n = s.execute("MATCH (n:Ec) RETURN n").rows.head
    assert(n.properties("k") == "a,b", "escape-minted comma is one value")
    assert(n.properties("g") == "g1")
    assert(s.execute("MATCH (n:Ec {k:'a\\u002cb'}) RETURN n").rows.length == 1)
    val e = intercept[Exception] { s.execute("MATCH (n:Ec {k:'a,b'}) RETURN n") }
    assert(e.getMessage == "invalid property: b'")
    val e2 = intercept[Exception] { s.execute("CREATE (:Ec2 {k:'a\\,b'})") }
    assert(e2.getMessage == "invalid property: b'")
  }

  // VERDICT r12 #2: the quoted-comma degrade narrows the CHAINED-HOP
  // extension region. A raw ',' byte in any quoted prop value routes
  // the whole comma-segment to the string mirror, which parses only
  // reference-shaped single-hop paths — so a multi-hop pattern that
  // would match without the comma now surfaces parse_props's re-split
  // error (or, when the re-split is ACCEPTING, the mirror's garbage
  // right-variable fold: zero rows, silently). Deliberate trade:
  // single-hop fidelity is byte-exact and the extension never promised
  // reference-impossible inputs.
  test("cypher_chained_hop_quoted_comma_carveout") {
    val s = newSession()
    s.execute("CREATE (:Hh {k:'c1'}); CREATE (:Hh {k:'c2'}); CREATE (:Hh {k:'c3'})")
    s.execute("MATCH (a {k:'c1'}), (b {k:'c2'}) CREATE (a)-[:CE {e:'x'}]->(b)")
    s.execute("MATCH (a {k:'c2'}), (b {k:'c3'}) CREATE (a)-[:CE {e:'y'}]->(b)")
    // extension baseline: the comma-free multi-hop matches
    assert(s.execute("MATCH (a)-[r1:CE {e:'x'}]->(b)-[r2:CE]->(c) RETURN c")
      .rows.map(_.properties("k")) == Seq("c3"))
    // erroring re-split: comma in a rel prop / mid-node prop
    for ((bad, err) <- Seq(
        "MATCH (a)-[r1:CE {e:'x,y'}]->(b)-[r2:CE]->(c) RETURN c"
          -> "invalid property: y'",
        "MATCH (a)-[r1:CE]->(b {k:'c2,z'})-[r2:CE]->(c) RETURN c"
          -> "invalid property: z'")) {
      val e = intercept[Exception] { s.execute(bad) }
      assert(e.getMessage == err, bad)
    }
    // accepting re-split ({e:'x,f:y'} -> two props): the mirror folds
    // everything after the first right-paren into a garbage variable
    // that never binds — zero rows, no error
    assert(s.execute(
      "MATCH (a)-[r1:CE {e:'x,f:y'}]->(b)-[r2:CE]->(c) RETURN c").rows.isEmpty)
  }

  // Reads project node properties from the rows their MATCH scanned;
  // every mutation clause drops those carried columns, so a read after
  // a write in the same statement sees the CURRENT graph (T6).
  test("cypher_read_after_mutation_sees_current_graph") {
    val s = newSession()
    s.execute("CREATE (:Rw {p: 'old', q: 'keep'}), (:Rw {p: 'old', q: 'keep'})")
    assert(s.execute("MATCH (n:Rw) SET n.p = 'x' RETURN n.p").rows.map(_.info) == Seq("x", "x"))
    val set2 = s.execute("MATCH (n:Rw) SET n.p = 'y' RETURN n").rows
    assert(set2.map(_.properties) == Seq.fill(2)(Map("p" -> "y", "q" -> "keep")))
    // implicit return after REMOVE
    val removed = s.execute("MATCH (n:Rw) REMOVE n.q").rows
    assert(removed.map(_.properties) == Seq.fill(2)(Map("p" -> "y")))
    assert(s.execute("MATCH (n:Rw) SET n:Rx RETURN n").rows.map(_.label) == Seq("Rx", "Rx"))
    assert(s.execute("MATCH (n:Rx) WHERE n.p = 'y' SET n.p = 'z' RETURN n.p")
      .rows.map(_.info) == Seq("z", "z"))
    // implicit return after DETACH DELETE: the deleted nodes are gone
    assert(s.execute("MATCH (n:Rx) DETACH DELETE n").rows.isEmpty)
    assert(s.execute("MATCH (n:Rx) RETURN n").rows.isEmpty)
  }

  // The clause slicer cannot express WITH..RETURN or DELETE..RETURN
  // (see cypher_clause_slicing_artifacts), so these run parsed-AST
  // statements on the executor directly.
  test("cypher_ast_with_and_delete_then_return") {
    import graft.cypher.Ast._
    import graft.engine.CypherExecutor
    val s = newSession()
    s.execute("CREATE (:Wk {p: 'a', q: '1'}), (:Wk {p: 'b', q: '2'})")
    def run(clauses: Clause*): Seq[ResultRow] = {
      val (rows, g) = new CypherExecutor(spark, Map.empty).run(s.graph, Statement(clauses))
      s.graph = g
      rows
    }
    val n = NodePattern(Some("n"), Some("Wk"), Map.empty)
    val matchN = Clause.Match(Seq(PathPattern(Seq(n), Nil)), optional = false)
    def ret(e: Expr, order: Seq[OrderKey] = Nil) =
      Clause.Return(Seq(e), distinct = false, order, None, None)
    val byP = Seq(OrderKey(Expr.Prop("n", "p"), ascending = true))
    assert(run(matchN, Clause.With(Seq(Expr.Var("n")), false, Nil, None, None),
      ret(Expr.Prop("n", "p"), byP)).map(_.info) == Seq("a", "b"))
    assert(run(matchN, Clause.With(Seq(Expr.Var("n")), false,
        Seq(OrderKey(Expr.Prop("n", "q"), ascending = false)), None, Some(1)),
      ret(Expr.Var("n"))).map(_.properties("p")) == Seq("b"))
    assert(run(matchN, Clause.With(Seq(Expr.Var("n")), false, Nil, None, None),
      Clause.Where(Seq(Cond.PropCmp("n", "q", "=", PropValue.Lit("2")))),
      ret(Expr.Prop("n", "p"))).map(_.info) == Seq("b"))
    // a variable WITH drops is no longer readable
    val m = NodePattern(Some("m"), Some("Wk"), Map("p" -> PropValue.Lit("b")))
    assert(run(Clause.Match(Seq(PathPattern(Seq(n), Nil), PathPattern(Seq(m), Nil)), false),
      Clause.With(Seq(Expr.Var("n")), false, Nil, None, None),
      ret(Expr.Prop("m", "p"))).isEmpty)
    // RETURN after DELETE looks the deleted nodes up and finds nothing
    assert(run(matchN, Clause.SetProp("n", "p", PropValue.Lit("z")),
      ret(Expr.Prop("n", "p"))).map(_.info) == Seq("z", "z"))
    assert(run(matchN, Clause.Delete(Seq("n"), detach = true), ret(Expr.Var("n"))).isEmpty)
    assert(run(matchN, ret(Expr.Var("n"))).isEmpty)
  }

  // an unconstrained endpoint binds from the edge alone, so an edge
  // whose endpoint node is gone binds an id that names no node: the
  // endpoint yields nothing, the rest of the row still returns
  test("cypher_dangling_edge_endpoint_yields_no_node") {
    import graft.core.{IdGen, PropertyGraph}
    val s = newSession()
    s.execute("CREATE (:Dg {k: 'a'})")
    val a = s.execute("MATCH (n:Dg) RETURN n").rows.head.id
    val rid = IdGen.next()
    s.graph = PropertyGraph(s.graph.nodes, s.graph.edges.unionByName(
      PropertyGraph.edgesDf(spark, Seq((rid, a, IdGen.next(), "DG", Map.empty[String, String])))))
    val ab = s.execute("MATCH (a:Dg)-[r:DG]->(b) RETURN a, b").rows
    assert(ab.map(r => (r.kind, r.id)) == Seq(("node", a)))
    assert(s.execute("MATCH (a:Dg)-[r:DG]->(b) RETURN b").rows.isEmpty)
    assert(s.execute("MATCH (a:Dg)-[r:DG]->(b) RETURN b.k").rows.isEmpty)
    assert(s.execute("MATCH (a:Dg)-[r:DG]->(b) RETURN id(b)").rows.size == 1)
    assert(s.execute("MATCH (a:Dg)-[r:DG]->(b)").rows.map(r => (r.kind, r.id)).sorted ==
      Seq(("node", a), ("relationship", rid)))
    // `<-` parses as undirected: each orientation yields the one real node
    assert(s.execute("MATCH (b)<-[r:DG]-(a) RETURN a, b").rows.map(_.id) == Seq(a, a))
    assert(s.execute("MATCH (a:Dg)-[r:DG]->(b:Dg) RETURN a, b").rows.isEmpty)
  }
}

/** One shared local SparkSession for the whole test run. */
object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      // 8 local slots: GoldenReplaySpec overlaps 4 independent seed
      // replays (guide §2.6), each submitting 4-task micro-jobs —
      // local[4] would serialize the overlapped jobs' stages
      .master("local[8]")
      .appName("graft-test")
      .withExtensions(new graft.GraftExtensions)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
