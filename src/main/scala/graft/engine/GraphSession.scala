package graft.engine

import graft.core.Materialize.GraftMaterializeOps

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable

import graft.core.{IdGen, PropertyGraph}
import graft.cypher.{Ast, LegacyParser, Parser}
import graft.cypher.Ast.{LegacyCmd, LegacyCond}
import graft.cypher.Parser.ParseException

/** Session facade: holds the current graph snapshot and executes
  * multi-statement queries with the reference's dialect routing
  * (query_interface.rs:77-143). Statements run sequentially; rows are
  * concatenated, counters summed, mutated flags OR'd (T1).
  *
  * The driver is the single writer (mirrors the reference's engine
  * thread, SURVEY §3): each mutation commits a new immutable
  * [[PropertyGraph]]; reads inside queries always join against the
  * session-current snapshot.
  */
class GraphSession(val spark: SparkSession) {

  /** The committed snapshot. Volatile: the daemon's autosave thread
    * reads it while the engine thread replaces it. */
  @volatile var graph: PropertyGraph = PropertyGraph.empty(spark)

  def nodeCount: Long = graph.nodeCount
  def relationshipCount: Long = graph.relationshipCount

  /** The reference exposes TWO router variants and picks by whether the
    * request carried a params field at all (frontend.rs:1208-1209,
    * main.rs:270-273): `execute_query` (no params) routes SET/REMOVE to
    * the Cypher engine and counts them mutated, while
    * `execute_query_with_params` (query_interface.rs:153-210) has NO
    * SET/REMOVE route (they fall through to "unrecognized statement"),
    * requires a space in its `CREATE (` check, and omits SET/REMOVE
    * from the mutated heuristic. [[execute]] is the former,
    * [[executeWithParams]] the latter — callers choose by request
    * shape, like the reference APIs. */
  def execute(query: String): QueryOutcome =
    executeRouted(query, Map.empty, hasParams = false)

  def executeWithParams(query: String, params: Map[String, String]): QueryOutcome =
    executeRouted(query, params, hasParams = true)

  private def executeRouted(query: String, params: Map[String, String],
      hasParams: Boolean): QueryOutcome = {
    val trimmed = Parser.rustTrim(query)
    if (trimmed.isEmpty) throw ParseException("empty query")
    var rows = Seq.empty[ResultRow]
    var nCnt = 0L
    var rCnt = 0L
    var anyMut = false
    // raw split on ';' with NO quote awareness — reference parity with
    // query_interface.rs:86 (`trimmed.split(';')`): a semicolon inside
    // a quoted property value breaks the statement there too. A
    // quote-aware splitter would silently diverge on inputs the
    // reference rejects.
    trimmed.split(";").map(Parser.rustTrim).filter(_.nonEmpty).foreach { stmt =>
      val (r, n, rc, m) = executeStatement(stmt, params, hasParams)
      rows ++= r; nCnt += n; rCnt += rc; anyMut ||= m
    }
    QueryOutcome(rows, nCnt, rCnt, anyMut)
  }

  /** Dialect router — faithful to query_interface.rs:89-133 (no-params)
    * and query_interface.rs:153-210 (with-params). */
  private def executeStatement(stmt: String, params: Map[String, String],
      hasParams: Boolean): (Seq[ResultRow], Long, Long, Boolean) = {
    val upper = stmt.toUpperCase
    // the reference's `stmt[6..].trim_start()` is RUST whitespace:
    // U+00A0/U+202F strip (Java isWhitespace keeps them), control
    // 0x1C-0x1F stay (Java strips) — `MATCH  (n) ...` routes to
    // the Cypher engine there, and must here (found by MutFuzz r9)
    def restStartsWithParen(prefixLen: Int): Boolean =
      stmt.length > prefixLen &&
        stmt.substring(prefixLen).dropWhile(Parser.rustWs).startsWith("(")

    if (upper.startsWith("MATCH (") && upper.contains(" MERGE ")) {
      execPairwiseMerge(LegacyParser.parsePairwiseMerge(stmt))
    } else if ((upper.startsWith("MATCH ") && restStartsWithParen(6)) ||
        (upper.startsWith("OPTIONAL MATCH ") && restStartsWithParen(15)) ||
        upper.startsWith("MERGE ") ||
        upper.startsWith("RETURN ") ||
        (!hasParams && (upper.startsWith("SET ") || upper.startsWith("REMOVE "))) ||
        (upper.startsWith("DELETE ") && !upper.startsWith("DELETE NODE ") &&
          !upper.startsWith("DELETE REL ")) ||
        upper.startsWith("DETACH DELETE ") ||
        (if (hasParams) upper.startsWith("CREATE ") && restStartsWithParen(7)
         else upper.startsWith("CREATE") && restStartsWithParen(6))) {
      val parsed = Parser.parse(stmt)
      val exec = new CypherExecutor(spark, params)
      val (rows, g2) = exec.run(graph, parsed)
      graph = g2
      // mutated flag is a prefix heuristic, not observed change (T8):
      // the reference's two prefix lists mark every statement this
      // branch routes as mutated except the reading ones, under both
      // router variants
      val mutated = !Seq("MATCH ", "OPTIONAL MATCH ", "RETURN ").exists(upper.startsWith)
      (rows, 0L, 0L, mutated)
    } else if (upper.startsWith("CREATE NODE ")) {
      execCreateNode(LegacyParser.parse(stmt).asInstanceOf[LegacyCmd.CreateNode])
    } else if (upper.startsWith("CREATE REL ")) {
      execCreateRel(LegacyParser.parse(stmt).asInstanceOf[LegacyCmd.CreateRel])
    } else if (upper.startsWith("MATCH NODE ")) {
      execMatchNode(LegacyParser.parse(stmt).asInstanceOf[LegacyCmd.MatchNode])
    } else if (upper.startsWith("MATCH REL ")) {
      execMatchRel(LegacyParser.parse(stmt).asInstanceOf[LegacyCmd.MatchRel])
    } else if (upper.startsWith("DELETE NODE ")) {
      execDeleteNode(LegacyParser.parse(stmt).asInstanceOf[LegacyCmd.DeleteNode])
    } else if (upper.startsWith("DELETE REL ")) {
      execDeleteRel(LegacyParser.parse(stmt).asInstanceOf[LegacyCmd.DeleteRel])
    } else {
      throw ParseException(s"unrecognized statement: $stmt")
    }
  }

  // -------------------------------------------------------- legacy ops

  // Legacy-dialect result echo rides the same driver-memory guard as
  // the Cypher RETURN path (spark.graft.maxResultRows): a legacy
  // `MATCH NODE label=...` over a 100×-scale graph must error at the
  // cap, not OOM the driver.
  private def collectNodes(df: DataFrame): Seq[ResultRow] =
    CypherExecutor.collectCapped(spark, df).toSeq.map { r =>
      ResultRow.node(r.getAs[String]("id"), r.getAs[String]("label"),
        Option(r.getAs[Map[String, String]]("properties")).getOrElse(Map.empty))
    }

  private def collectRels(df: DataFrame): Seq[ResultRow] =
    CypherExecutor.collectCapped(spark, df).toSeq.map { r =>
      ResultRow.rel(r.getAs[String]("id"), r.getAs[String]("src"),
        r.getAs[String]("dst"), r.getAs[String]("label"),
        Option(r.getAs[Map[String, String]]("properties")).getOrElse(Map.empty))
    }

  private def execCreateNode(c: LegacyCmd.CreateNode): (Seq[ResultRow], Long, Long, Boolean) = {
    val id = IdGen.next()
    val df = PropertyGraph.nodesDf(spark, Seq((id, c.label, c.props)))
    graph = graph.commitNodes(graph.nodes.unionByName(df))
    (Seq(ResultRow.node(id, c.label, c.props)), 1L, 0L, true)
  }

  private def execCreateRel(c: LegacyCmd.CreateRel): (Seq[ResultRow], Long, Long, Boolean) = {
    // FK constraint (graph.rs:58-65): both endpoints must exist
    val found = graph.nodes.filter(col("id").isin(c.from, c.to))
      .select("id").distinct().count()
    if (found != 2 && c.from != c.to || (c.from == c.to && found != 1))
      // exact reference error text (query_interface.rs exec_create_rel)
      throw ParseException("invalid endpoint(s) for relationship")
    val id = IdGen.next()
    val df = PropertyGraph.edgesDf(spark, Seq((id, c.from, c.to, c.label, c.props)))
    graph = graph.commitEdges(graph.edges.unionByName(df))
    (Seq(ResultRow.rel(id, c.from, c.to, c.label, c.props)), 0L, 1L, true)
  }

  private def legacyNodeFilter(df: DataFrame, label: Option[String],
      props: Map[String, String], where: Seq[LegacyCond]): DataFrame = {
    var d = label.map(l => df.filter(col("label") === l)).getOrElse(df)
    props.foreach { case (k, v) => d = d.filter(col("properties")(k) === v) }
    where.foreach {
      case LegacyCond.IdEq(id) => d = d.filter(col("id") === id)
      case LegacyCond.LabelEq(l) => d = d.filter(col("label") === l)
      case LegacyCond.HasKey(k) => d = d.filter(map_contains_key(col("properties"), k))
      case LegacyCond.KeyEq(k, v) => d = d.filter(coalesce(col("properties")(k) === v, lit(false)))
      case LegacyCond.KeyNe(k, v) => d = d.filter(coalesce(col("properties")(k) =!= v, lit(true)))
      case LegacyCond.FromEq(_) | LegacyCond.ToEq(_) =>
        // relationship-only conds on a node match drop every row, they
        // do NOT error (query_interface.rs:597 returns false per node)
        d = d.filter(lit(false))
    }
    d
  }

  private def execMatchNode(c: LegacyCmd.MatchNode): (Seq[ResultRow], Long, Long, Boolean) = {
    val d = legacyNodeFilter(graph.nodes, c.label, c.props, c.where)
    (collectNodes(d), 0L, 0L, false)
  }

  private def execMatchRel(c: LegacyCmd.MatchRel): (Seq[ResultRow], Long, Long, Boolean) = {
    var d = c.label.map(l => graph.edges.filter(col("label") === l)).getOrElse(graph.edges)
    c.props.foreach { case (k, v) => d = d.filter(col("properties")(k) === v) }
    c.where.foreach {
      case LegacyCond.IdEq(id) => d = d.filter(col("id") === id)
      case LegacyCond.LabelEq(l) => d = d.filter(col("label") === l)
      case LegacyCond.FromEq(id) => d = d.filter(col("src") === id)
      case LegacyCond.ToEq(id) => d = d.filter(col("dst") === id)
      case LegacyCond.HasKey(k) => d = d.filter(map_contains_key(col("properties"), k))
      case LegacyCond.KeyEq(k, v) => d = d.filter(coalesce(col("properties")(k) === v, lit(false)))
      case LegacyCond.KeyNe(k, v) => d = d.filter(coalesce(col("properties")(k) =!= v, lit(true)))
    }
    (collectRels(d), 0L, 0L, false)
  }

  private def execDeleteNode(c: LegacyCmd.DeleteNode): (Seq[ResultRow], Long, Long, Boolean) = {
    val existed = graph.nodes.filter(col("id") === c.id).limit(1).count()
    if (existed > 0) {
      // cascade: incident relationships removed too (graph.rs:145-162)
      val edges = graph.edges.filter(col("src") =!= c.id && col("dst") =!= c.id)
      val nodes = graph.nodes.filter(col("id") =!= c.id)
      graph = PropertyGraph(nodes, edges).materialized
    }
    (Seq.empty, existed, 0L, true)
  }

  private def execDeleteRel(c: LegacyCmd.DeleteRel): (Seq[ResultRow], Long, Long, Boolean) = {
    val existed = graph.edges.filter(col("id") === c.id).limit(1).count()
    if (existed > 0) {
      graph = graph.commitEdges(graph.edges.filter(col("id") =!= c.id))
    }
    (Seq.empty, 0L, existed, true)
  }

  /** Legacy pairwise MATCH..MERGE (query_interface.rs:372-528):
    * label-scan cross product → id-comparator filter → anti-join against
    * existing (src,dst,label) → append. The reference's O(|A|·|B|)
    * nested loop becomes an equi-join-free cross product that Catalyst
    * executes as BroadcastNestedLoopJoin; the id-comparator prunes to
    * the upper triangle before the anti-join. */
  private def execPairwiseMerge(c: LegacyCmd.PairwiseMerge): (Seq[ResultRow], Long, Long, Boolean) = {
    val a = graph.nodes.filter(col("label") === c.aLabel).select(col("id").as("__a"))
    val b = graph.nodes.filter(col("label") === c.bLabel).select(col("id").as("__b"))
    var pairs = a.crossJoin(b)
    // same-variable self pairs skipped (query_interface.rs:493)
    if (c.aVar == c.bVar) pairs = pairs.filter(col("__a") =!= col("__b"))
    c.idCmp.foreach { case (l, op, r) =>
      val mapped: Option[(Column, Column)] =
        if (l == c.aVar && r == c.bVar) Some((col("__a"), col("__b")))
        else if (l == c.bVar && r == c.aVar) Some((col("__b"), col("__a")))
        else None
      mapped match {
        case Some((lc, rc)) =>
          val cond = op match {
            case "<" => lc < rc; case "<=" => lc <= rc; case ">" => lc > rc
            case ">=" => lc >= rc; case "=" => lc === rc; case "<>" => lc =!= rc
          }
          pairs = pairs.filter(cond)
        case None =>
          // the reference raises this error INSIDE the pair loop
          // (query_interface.rs:502-510): with zero candidate pairs the
          // comparator is never evaluated and the statement succeeds
          // with nothing created
          if (pairs.limit(1).count() > 0)
            throw ParseException("WHERE references unknown variables")
          pairs = pairs.limit(0)
      }
    }
    // MERGE direction: leftVar -> rightVar
    val oriented =
      if (c.leftVar == c.aVar) pairs.select(col("__a").as("src"), col("__b").as("dst"))
      else pairs.select(col("__b").as("src"), col("__a").as("dst"))
    val existing = graph.edges.filter(col("label") === c.relType).select("src", "dst").distinct()
    val toCreate = oriented.distinct()
      .join(existing, Seq("src", "dst"), "left_anti")
      .withColumn("id", IdGen.distributedExpr(System.currentTimeMillis()))
      .select(col("id"), col("src"), col("dst"), lit(c.relType).as("label"),
        typedLit(Map.empty[String, String]).as("properties"))
      .graftCheckpoint()
    // collect the echo BEFORE committing: the driver-memory cap
    // (Executor.collectCapped) may refuse a past-cap result, and that
    // refusal must abort the merge, not report a committed mutation as
    // a failure after the fact. The collect doubles as the count — one
    // Spark action over the checkpointed frame, not two
    val echo = collectRels(toCreate)
    val created = echo.size.toLong
    if (created > 0)
      graph = graph.commitEdges(graph.edges.unionByName(toCreate))
    (echo, 0L, created, created > 0)
  }
}
