package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.engine.GraphSession

/** Property tests the reference lacks (SURVEY §5 strategy): MERGE
  * idempotency, cascade-delete integrity, and var-length min-depth
  * semantics over randomized inputs. Iteration counts are small — each
  * case is a full Spark mutation pipeline.
  */
class EnginePropertySpec extends AnyFunSuite {

  lazy val spark = SparkTestSession.spark

  /** scalatestplus is not in the offline cache; sample Gen directly
    * with fixed seeds — deterministic, 3 cases per property. */
  def forAll[A](gen: Gen[A])(body: A => Unit): Unit =
    (0 until 3).foreach { i =>
      gen.apply(Gen.Parameters.default, Seed(42L + i)).foreach(body)
    }

  test("merge_pairwise_idempotent_for_any_node_count") {
    forAll(Gen.choose(2, 5)) { n =>
      val s = new GraphSession(spark)
      (1 to n).foreach(i => s.execute(s"""CREATE NODE T {name:"n$i"};"""))
      val q = "MATCH (a:T), (b:T) WHERE id(a) < id(b) MERGE (a)-[:REL]->(b);"
      val r1 = s.execute(q)
      assert(r1.affectedRels == n.toLong * (n - 1) / 2)
      val r2 = s.execute(q)
      assert(r2.affectedRels == 0)
      assert(s.relationshipCount == n.toLong * (n - 1) / 2)
    }
  }

  test("detach_delete_leaves_no_dangling_edges") {
    forAll(Gen.choose(2, 4)) { n =>
      val s = new GraphSession(spark)
      (1 to n).foreach(i => s.execute(s"""CREATE NODE A {name:"a$i"};"""))
      (1 to n).foreach(i => s.execute(s"""CREATE NODE B {name:"b$i"};"""))
      s.execute("MATCH (a:A), (b:B) CREATE (a)-[:LINK]->(b);")
      assert(s.relationshipCount == n.toLong * n)
      s.execute("MATCH (x:A) DETACH DELETE x")
      assert(s.graph.danglingEdges.limit(1).count() == 0)
      assert(s.relationshipCount == 0)
      assert(s.nodeCount == n.toLong)
    }
  }

  test("varlength_exact_hop_returns_min_depth_nodes_only") {
    forAll(Gen.choose(2, 4)) { len =>
      val s = new GraphSession(spark)
      (0 to len).foreach(i => s.execute(s"""CREATE NODE C {pos:"$i"};"""))
      val all = s.execute("MATCH (n:C) RETURN n;").rows
      val byPos = all.map(r => r.properties("pos").toInt -> r.id).toMap
      (0 until len).foreach { i =>
        s.execute(s"CREATE REL from=${byPos(i)} to=${byPos(i + 1)} label=NEXT;")
      }
      // exact-k hops from the head reaches exactly one node: position k.
      // NOTE: $params in var-length endpoint props are intentionally NOT
      // resolved (reference cypher_spec.rs:806-810) — literal only here.
      (1 to len).foreach { k =>
        val out = s.execute(
          s"MATCH (s:C {pos: '0'})-[:NEXT*$k]->(t:C) RETURN t")
        assert(out.rows.length == 1, s"k=$k len=$len got ${out.rows.length}")
        assert(out.rows.head.properties("pos").toInt == k)
      }
    }
  }

  test("set_label_replaces_and_remove_prop_is_idempotent") {
    forAll(Gen.alphaLowerStr.suchThat(s => s.nonEmpty && s.length <= 8)) { lbl =>
      val s = new GraphSession(spark)
      s.execute("CREATE (:Thing {keep: 'x', drop: 'y'});")
      s.execute(s"MATCH (t:Thing) SET t:$lbl")
      val rows = s.execute(s"MATCH (t:$lbl) RETURN t").rows
      assert(rows.length == 1 && rows.head.label == lbl)
      s.execute(s"MATCH (t:$lbl) REMOVE t.drop")
      s.execute(s"MATCH (t:$lbl) REMOVE t.drop")
      val r2 = s.execute(s"MATCH (t:$lbl) RETURN t").rows.head
      assert(r2.properties == Map("keep" -> "x"))
    }
  }

  // every relationship created across an n-statement, m-pair fan-out
  // gets a distinct id (the reference allocates Uuid::now_v7 per rel;
  // distributedExpr must not reuse (timestamp, partition-offset) pairs
  // across batches). Statements are ';'-separated: a SECOND CREATE
  // clause inside one statement is dropped by the reference's defensive
  // pattern truncation (pinned in CypherConformanceSpec).
  test("edge_ids_unique_across_multi_batch_creates") {
    forAll(Gen.choose(2, 4)) { n =>
      val s = new GraphSession(spark)
      (1 to n).foreach(i => s.execute(s"CREATE (:L {i:'$i'}); CREATE (:R {i:'$i'})"))
      // three edge-creating statements in ONE request → three batches
      s.execute("MATCH (a:L), (b:R) CREATE (a)-[:E1]->(b); " +
        "MATCH (a:L), (b:R) CREATE (a)-[:E2]->(b); " +
        "MATCH (a:L), (b:R) CREATE (a)-[:E3]->(b)")
      val ids = s.execute("MATCH (x)-[r]->(y) RETURN r").rows
        .filter(_.kind == "relationship").map(_.id)
      assert(ids.length == 3 * n * n)
      assert(ids.distinct.length == ids.length, "duplicate edge ids")
    }
  }
}
