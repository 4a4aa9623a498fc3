package graft.engine

import graft.core.Materialize.GraftMaterializeOps

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable

import graft.core.{IdGen, PropertyGraph}
import graft.cypher.Ast._
import graft.cypher.Parser
import graft.cypher.Parser.ParseException

/** Result-row union schema mirroring the reference DTO
  * (api/server.rs:70-78, proto/graph_loom.proto:22-28). */
case class ResultRow(kind: String, id: String, label: String,
    src: String, dst: String, properties: Map[String, String], info: String)

object ResultRow {
  def node(id: String, label: String, props: Map[String, String]): ResultRow =
    ResultRow("node", id, label, null, null, props, null)
  def rel(id: String, src: String, dst: String, label: String,
      props: Map[String, String]): ResultRow =
    ResultRow("relationship", id, label, src, dst, props, null)
  def info(s: String): ResultRow = ResultRow("info", null, null, null, null, null, s)
}

/** rows + counters + mutated flag (query_interface.rs:20-26). */
case class QueryOutcome(rows: Seq[ResultRow], affectedNodes: Long,
    affectedRels: Long, mutated: Boolean)

/** Executes one parsed Cypher [[Statement]] against a [[PropertyGraph]].
  *
  * The binding table (reference: `Vec<HashMap<String,Val>>`,
  * cypher_spec.rs:751-753) is a DataFrame with one STRING id column per
  * bound variable. A node variable bound by a node scan also carries
  * that row's label and properties (`<v>__label`, `<v>__props`), so
  * reads project from the rows their MATCH scanned instead of joining
  * the node table again; relationship steps join the bound frontier to
  * the edges before they filter the far endpoint. Variable kinds (node
  * vs relationship) are tracked driver-side since they are static per
  * statement. MATCH = joins, WHERE = filters, mutations = anti-join/
  * union set operations — every step distributed; the driver only
  * sequences clauses (mirroring the reference's single engine thread,
  * §3 of SURVEY.md).
  */
class CypherExecutor(spark: SparkSession, params: Map[String, String]) {

  sealed trait Kind
  case object NodeKind extends Kind
  case object RelKind extends Kind

  private val kinds = mutable.Map.empty[String, Kind]
  private val hidden = mutable.Set.empty[String]
  private var anonCounter = 0
  private def freshAnon(): String = { anonCounter += 1; s"__anon$anonCounter" }

  /** WHERE-RHS resolution: `$param` tokens resolve; a QUOTED literal
    * stays literal even when it starts with '$' (the reference's WHERE
    * branches only call resolve_param on unquoted RHS text,
    * cypher_spec.rs:1089/1101/1112/1123). */
  private def resolve(v: PropValue): String = v match {
    case PropValue.Lit(s) => s
    case PropValue.Param(name) =>
      params.getOrElse(name, throw ParseException(s"Missing parameter: $$$name"))
  }

  /** A pattern value as written: `$name` for a parameter. */
  private def rawText(v: PropValue): String = v match {
    case PropValue.Lit(s) => s
    case PropValue.Param(name) => "$" + name
  }

  /** Pattern / CREATE / MERGE prop-value resolution — the reference's
    * resolve_param (cypher_spec.rs:738-746) applied to parse_props
    * output (cypher_spec.rs:94-104): quotes are stripped at parse, so
    * ANY stored value starting with '$' — even one written as a quoted
    * literal — is a parameter reference (missing ⇒ error), and
    * non-param values are whitespace-trimmed and quote-trimmed once
    * more. */
  private def resolvePropValue(v: PropValue): String = {
    // RUST trim, not Java's: resolve_param re-trims the already-
    // dequoted stored value with str::trim (Unicode White_Space), so a
    // quoted value's trailing U+2029/U+00A0 strips there while
    // 0x1C-0x1F (Java-trimmed, not Rust-ws) survive — probed r11,
    // found by MutFuzz seed 38: {g:'g2\u2029'} matches g=g2.
    val t = Parser.rustTrim(rawText(v))
    if (t.startsWith("$")) {
      val key = t.substring(1)
      params.getOrElse(key, throw ParseException(s"Missing parameter: $$$key"))
    } else if (t.length >= 2 &&
        ((t.head == '"' && t.last == '"') || (t.head == '\'' && t.last == '\'')))
      t.substring(1, t.length - 1)
    else t
  }

  private def propsLit(props: Map[String, PropValue]): Column = {
    val resolved = props.map { case (k, v) => k -> resolvePropValue(v) }
    if (resolved.isEmpty) typedLit(Map.empty[String, String])
    else map(resolved.flatMap { case (k, v) => Seq(lit(k), lit(v)) }.toSeq: _*)
  }

  /** True when resolving `v` would raise Missing parameter. */
  private def isMissingParam(v: PropValue): Boolean = {
    val t = Parser.rustTrim(rawText(v))
    t.startsWith("$") && !params.contains(t.substring(1))
  }

  private def missingParamError(v: PropValue): Nothing = {
    val t = Parser.rustTrim(rawText(v))
    throw ParseException(s"Missing parameter: $$${t.substring(1)}")
  }

  /** Label (or type) and property test of a pattern over a row's
    * label and properties columns, one conjunction; None when the
    * pattern constrains nothing. `value` renders a pattern value. */
  private def patternTest(label: Option[String], props: Map[String, PropValue],
      labelC: Column, propsC: Column, value: PropValue => String): Option[Column] =
    (label.map(labelC === _).toSeq ++
      props.map { case (k, v) => propsC(k) === value(v) }).reduceOption(_ && _)

  /** Missing-param errors are LAZY in the reference: resolve_param runs
    * per candidate inside the scan loop (cypher_spec.rs:774-776 nodes,
    * 890-892 rel props), so when nothing reaches the check the
    * statement succeeds with zero rows. Emulated by testing the
    * resolvable-prop candidate set for emptiness before raising. */
  private def lazyParamFilter(base: DataFrame, label: Option[String],
      props: Map[String, PropValue]): DataFrame = {
    def filtered(ps: Map[String, PropValue]): DataFrame =
      patternTest(label, ps, col("label"), col("properties"), resolvePropValue)
        .fold(base)(base.filter)
    props.collectFirst { case (_, v) if isMissingParam(v) => v } match {
      case Some(bad) =>
        if (filtered(props.filterNot(p => isMissingParam(p._2))).limit(1).count() > 0)
          missingParamError(bad)
        base.limit(0)
      case None => filtered(props)
    }
  }

  private def filterNodes(nodes: DataFrame, label: Option[String],
      props: Map[String, PropValue]): DataFrame = lazyParamFilter(nodes, label, props)

  private def filterEdges(edges: DataFrame, typ: Option[String],
      props: Map[String, PropValue]): DataFrame = lazyParamFilter(edges, typ, props)

  /** Endpoint-node test for relationship steps over a label and a
    * properties column: `$param` props are NOT resolved — the
    * reference's triple-enumeration endpoint check compares the raw
    * pattern text (cypher_spec.rs:903-905), exactly like var-length
    * endpoints (cypher_spec.rs:806-810). Only node-ONLY patterns
    * resolve params (cypher_spec.rs:775). */
  private def endpointTest(np: NodePattern, label: Column, props: Column): Option[Column] =
    patternTest(np.label, np.props, label, props, rawText)

  private def constrained(np: NodePattern): Boolean =
    np.label.nonEmpty || np.props.nonEmpty

  private def filterNodesRawParams(nodes: DataFrame, np: NodePattern): DataFrame =
    endpointTest(np, col("label"), col("properties")).fold(nodes)(nodes.filter)

  // ------------------------------------------------------ carried columns
  //
  // A node variable bound by a node scan carries that row's label and
  // properties as `<v>__label` / `<v>__props` beside its id column, so
  // WHERE, ORDER BY and RETURN read them without a lookup join. A
  // variable bound without a scan (an unconstrained endpoint, a CREATE)
  // gets them from a left join against the current graph on first use
  // ([[withNode]]); a dangling id then carries nulls, which every reader
  // treats as "no such node". Mutations drop every carried column, so a
  // read after a write looks the CURRENT graph up again (T6).

  private def labelCol(v: String): String = s"${v}__label"
  private def propsCol(v: String): String = s"${v}__props"

  private def carries(b: DataFrame, v: String): Boolean = b.columns.contains(propsCol(v))

  /** Node-table projection binding `v` to `idAs` with its carried
    * columns (none for a hidden variable, which nothing reads). */
  private def nodeCols(v: String, idAs: String): Seq[Column] =
    if (hidden.contains(v)) Seq(col("id").as(idAs))
    else Seq(col("id").as(idAs), col("label").as(labelCol(v)),
      col("properties").as(propsCol(v)))

  private def withNode(g: PropertyGraph, b: DataFrame, v: String): DataFrame =
    if (carries(b, v)) b
    else b.join(g.nodes.select(col("id").as(s"${v}__pid"), col("label").as(labelCol(v)),
      col("properties").as(propsCol(v))), vcol(v) === vcol(s"${v}__pid"), "left")
      .drop(vcol(s"${v}__pid"))

  private def dropCarried(b: DataFrame): DataFrame = {
    val carried = b.columns.filter(c => c.endsWith("__label") || c.endsWith("__props"))
    if (carried.isEmpty) b else b.drop(carried.toSeq: _*)
  }

  /** A statement starts from the unit binding (one row, no variables),
    * held as null until a clause needs it as a frame: the first scan
    * replaces it instead of cross-joining it. */
  private def crossBinding(b: DataFrame, rows: DataFrame): DataFrame =
    if (b == null) rows else b.crossJoin(rows)

  // ---------------------------------------------------------------- MATCH

  /** Expand the binding table over one path pattern. */
  private def matchPath(g: PropertyGraph, binding: DataFrame, p: PathPattern): DataFrame = {
    if (p.rels.isEmpty) matchNodeOnly(g, binding, p.nodes.head)
    else {
      var b = binding
      for (i <- p.rels.indices) {
        b = matchRelStep(g, b, p.nodes(i), p.rels(i), p.nodes(i + 1))
      }
      b
    }
  }

  private def matchNodeOnly(g: PropertyGraph, binding: DataFrame, np: NodePattern): DataFrame = {
    np.variable match {
      case Some(v) if kinds.contains(v) =>
        // variable-binding consistency (J3): re-filter existing binding
        if (carries(binding, v) && !np.props.values.exists(isMissingParam))
          binding.filter(vcol(labelCol(v)).isNotNull && patternTest(np.label, np.props,
            vcol(labelCol(v)), vcol(propsCol(v)), resolvePropValue).getOrElse(lit(true)))
        else joinBound(binding, v, filterNodes(g.nodes, np.label, np.props))
      case other =>
        val v = other.getOrElse { val a = freshAnon(); hidden += a; a }
        kinds(v) = NodeKind
        crossBinding(binding, filterNodes(g.nodes, np.label, np.props).select(nodeCols(v, v): _*))
    }
  }

  /** One relationship hop: (npL)-[rp]->(npR) in either/both directions. */
  private def matchRelStep(g: PropertyGraph, binding: DataFrame,
      npL: NodePattern, rp: RelPattern, npR: NodePattern): DataFrame = {
    rp.varLength match {
      case Some((mn, mx)) => return matchVarLength(g, binding, npL, rp, npR, mn, mx)
      case None =>
    }
    val lv = npL.variable.getOrElse { val a = freshAnon(); hidden += a; a }
    val rv = npR.variable.getOrElse { val a = freshAnon(); hidden += a; a }
    val relv = rp.variable.getOrElse { val a = freshAnon(); hidden += a; a }

    // The binding drives the edge join (Pregelix's rule for a sparse
    // frontier): a constrained, unbound left endpoint is bound from a
    // node scan first, and endpoint filters on bound variables run on
    // the binding side before the join. Raw-param endpoint matching
    // per cypher_spec.rs:903-905.
    var b = binding
    if (constrained(npL)) {
      if (!kinds.contains(lv)) {
        b = crossBinding(b, filterNodesRawParams(g.nodes, npL).select(nodeCols(lv, lv): _*))
        kinds(lv) = NodeKind
      } else b = constrainBound(g, b, lv, npL)
    }
    if (constrained(npR) && kinds.contains(rv)) b = constrainBound(g, b, rv, npR)

    val e0 = filterEdges(g.edges, rp.relType, rp.props)
    // orientations: (leftEndpointCol, rightEndpointCol)
    val orients: Seq[DataFrame] = rp.direction match {
      case Direction.Out  => Seq(e0.select(col("id").as("__rid"), col("src").as("__l"), col("dst").as("__r")))
      case Direction.Both => Seq(
        e0.select(col("id").as("__rid"), col("src").as("__l"), col("dst").as("__r")),
        e0.select(col("id").as("__rid"), col("dst").as("__l"), col("src").as("__r")))
    }

    def expand(eo0: DataFrame): DataFrame = {
      var eo = eo0
      // shared-variable collisions WITHIN the pattern (the reference
      // inserts the left binding, then checks the right endpoint
      // against it, cypher_spec.rs:925-936): the same unbound variable
      // on both endpoints matches self-loops only; a node-var/rel-var
      // name collision can never match (node and rel ids are disjoint
      // namespaces, so the consistency check always fails)
      if (lv == rv && !kinds.contains(lv)) eo = eo.filter(col("__l") === col("__r"))
      if (relv == lv && !kinds.contains(relv)) eo = eo.filter(col("__rid") === col("__l"))
      if (relv == rv && !kinds.contains(relv)) eo = eo.filter(col("__rid") === col("__r"))
      // an unbound right endpoint binds from the node scan it is
      // checked against, after the frontier join
      val nr =
        if (constrained(npR) && !kinds.contains(rv))
          Some(filterNodesRawParams(g.nodes, npR).select(nodeCols(rv, "__nr"): _*))
        else None
      val conds = mutable.Buffer.empty[Column]
      if (kinds.contains(lv)) conds += vcol(lv) === col("__l")
      if (kinds.contains(rv)) conds += vcol(rv) === col("__r")
      if (kinds.contains(relv)) conds += vcol(relv) === col("__rid")
      val out =
        if (conds.isEmpty) {
          // nothing bound: filter the edges before crossing them in
          crossBinding(b, nr.fold(eo)(n => eo.join(n, col("__r") === col("__nr"))))
        } else {
          val joined = b.join(eo, conds.reduce(_ && _))
          nr.fold(joined)(n => joined.join(n, col("__r") === col("__nr")))
        }
      val bound = mutable.Buffer.empty[Column]
      if (!kinds.contains(lv)) bound += col("__l").as(lv)
      if (!kinds.contains(rv) && rv != lv) bound += col("__r").as(rv)
      if (!kinds.contains(relv) && relv != lv && relv != rv) bound += col("__rid").as(relv)
      val scratch = Set("__rid", "__l", "__r", "__nr")
      out.select(out.columns.filterNot(scratch).map(vcol).toSeq ++ bound: _*)
    }

    val parts = orients.map(expand)
    val res = parts.reduce(_ unionByName _)
    if (!kinds.contains(lv)) kinds(lv) = NodeKind
    if (!kinds.contains(rv)) kinds(rv) = NodeKind
    if (!kinds.contains(relv)) kinds(relv) = RelKind
    res
  }

  /** Keeps the rows whose bound variable `v` passes endpoint pattern
    * `np`: on its carried columns when it has them, else by a join
    * against the node table. */
  private def constrainBound(g: PropertyGraph, b: DataFrame, v: String,
      np: NodePattern): DataFrame =
    if (carries(b, v)) b.filter(endpointTest(np, vcol(labelCol(v)), vcol(propsCol(v))).get)
    else joinBound(b, v, filterNodesRawParams(g.nodes, np))

  /** Keeps the rows whose bound variable `v` names a row of `cand`, a
    * filtered node table; a node variable without carried columns takes
    * them from the join. A relationship variable never passes (node and
    * rel ids are disjoint namespaces). */
  private def joinBound(b: DataFrame, v: String, cand: DataFrame): DataFrame = {
    val cols =
      if (kinds(v) == NodeKind && !carries(b, v)) nodeCols(v, "__cid") else Seq(col("id").as("__cid"))
    b.join(cand.select(cols: _*), vcol(v) === col("__cid")).drop("__cid")
  }

  /** Variable-length path (J5): BFS with min-depth-only semantics
    * (cypher_spec.rs:790-883) — a target is matched at its minimum
    * reachable depth only; hop cap 8; rel properties rejected; the rel
    * variable is never bound. Iterative join loop with per-iteration
    * localCheckpoint to cut lineage (SURVEY §4.3). */
  private def matchVarLength(g: PropertyGraph, binding: DataFrame,
      npL: NodePattern, rp: RelPattern, npR: NodePattern,
      mn0: Int, mx0: Int): DataFrame = {
    if (rp.props.nonEmpty)
      throw ParseException("variable-length relationships with properties not supported yet")
    val cap = 8
    // *0..n is honored: min_hops=0 matches the source node itself at
    // depth 0 (cypher_spec.rs:833-838 seeds the BFS result set with the
    // source when min==0)
    val mn = math.max(mn0, 0)
    val mx = math.min(mx0, cap)
    val lv = npL.variable.getOrElse { val a = freshAnon(); hidden += a; a }
    val rv = npR.variable.getOrElse { val a = freshAnon(); hidden += a; a }

    val e0 = filterEdges(g.edges, rp.relType, Map.empty)
      .select(col("src").as("__es"), col("dst").as("__ed"))
    val eAll = rp.direction match {
      case Direction.Out  => e0
      case Direction.Both => e0.unionByName(
        e0.select(col("__ed").as("__es"), col("__es").as("__ed")))
    }

    // param props in var-length endpoints are NOT resolved (reference
    // falls back to exact-string matching of the raw "$name" text,
    // cypher_spec.rs:806-810) — same rule as single-hop endpoints.
    // Bound left endpoints are still re-filtered by the left node
    // pattern (the reference applies node_ok over left_ids before the
    // BFS, cypher_spec.rs:818-831): rows whose bound node fails the
    // pattern are dropped by the final inner join on the pairs
    val sources: DataFrame =
      (if (kinds.contains(lv)) {
        val b0 = if (constrained(npL)) constrainBound(g, binding, lv, npL) else binding
        b0.select(vcol(lv).as("__s")).distinct()
      } else filterNodesRawParams(g.nodes, npL).select(col("id").as("__s")))
        .graftCheckpoint()

    var frontier = sources.select(col("__s"), col("__s").as("__c"))
    var visited = frontier
    // depth-0 (source, source) pairs when zero hops are allowed
    var results: DataFrame = if (mn == 0) frontier else null
    var depth = 0
    while (depth < mx) {
      depth += 1
      frontier = frontier.join(eAll, col("__c") === col("__es"))
        .select(col("__s"), col("__ed").as("__c"))
        .distinct()
        .join(visited, Seq("__s", "__c"), "left_anti")
        .graftCheckpoint()
      // the last level is never read back, so it is not added
      if (depth < mx) visited = visited.unionByName(frontier).graftCheckpoint()
      if (depth >= mn) {
        results = if (results == null) frontier else results.unionByName(frontier)
      }
    }
    if (results == null) results = frontier.limit(0)
    // right endpoint constraints; a constrained target carries the
    // node row it was checked against
    var pairs = results.select(col("__s").as("__l"), col("__c").as("__r")).distinct()
    if (constrained(npR))
      pairs = pairs.join(filterNodesRawParams(g.nodes, npR).select(nodeCols(rv, "__nr"): _*),
        col("__r") === col("__nr")).drop("__nr")
    // UNLIKE single-hop steps, the right endpoint var is never
    // consistency-checked: the reference inserts it unconditionally
    // into the row, overwriting any earlier binding
    // (cypher_spec.rs:846-848) — so a pre-bound right var rebinds to
    // every BFS target, and a shared left/right var binds to the
    // TARGET (left insert, then right insert wins), it does NOT filter
    // to self-cycles. Only the left var is checked (pre-BFS,
    // cypher_spec.rs:835).
    val conds = mutable.Buffer.empty[Column]
    // (for a shared bound var this checks the OLD value; the overwrite
    // below then rebinds it to the target)
    if (kinds.contains(lv)) conds += vcol(lv) === col("__l")
    // the rebound right variable's old carried columns go with its old id
    val base =
      if (binding != null && carries(binding, rv)) binding.drop(labelCol(rv), propsCol(rv))
      else binding
    val joined =
      if (conds.isEmpty) crossBinding(base, pairs)
      else base.join(pairs, conds.reduce(_ && _))
    var out = joined
    if (!kinds.contains(lv) && lv != rv) out = out.withColumn(lv, col("__l"))
    out = out.withColumn(rv, col("__r"))
    out = out.drop("__l", "__r")
    if (!kinds.contains(lv)) kinds(lv) = NodeKind
    kinds(rv) = NodeKind
    out
  }

  // ---------------------------------------------------------------- WHERE

  /** Column reference for a USER-supplied variable name (or a name
    * derived from one). The reference accepts any character run as a
    * pattern variable — `.a`, `a.`, `.` all bind fine (probed against
    * the vendored executor) — while Spark's attribute grammar treats
    * unquoted dots as struct-field access, so a raw `col(v)` throws
    * INVALID_ATTRIBUTE_NAME_SYNTAX. Backtick-quote every such
    * reference; `withColumn`/`as` targets take names literally and
    * need no quoting. */
  private def vcol(name: String): Column =
    col("`" + name.replace("`", "``") + "`")

  private def collectCapped(b: DataFrame): Array[org.apache.spark.sql.Row] =
    CypherExecutor.collectCapped(spark, b)

  /** SKIP/LIMIT application under Spark's limit+offset <= MaxInt
    * analyzer rule: the collect cap adds limit(cap+1) on top, so a
    * saturated usize SKIP (huge but valid in the reference) must not
    * reach offset() — any query that could produce enough rows for
    * such a skip to matter errors at the result cap first, so an empty
    * frame IS the observable reference behavior. */
  private def applyPage(df: DataFrame, skip: Option[Int], limit: Option[Int]): DataFrame = {
    val cap = CypherExecutor.resultCap(spark)
    var b = df
    skip.foreach { n =>
      if (n.toLong > Int.MaxValue.toLong - cap - 2L) b = b.limit(0)
      else if (n > 0) b = b.offset(n)
    }
    limit.foreach(n => b = b.limit(n))
    b
  }

  private def strCmp(l: Column, r: Column, op: String): Column = op match {
    case "<" => l < r; case "<=" => l <= r; case ">" => l > r
    case ">=" => l >= r; case "=" => l === r; case "<>" => l =!= r
  }

  // ------------------------------------------------------------- execute

  /** Run the statement; returns (result rows, updated graph). */
  def run(g0: PropertyGraph, stmt0: Statement): (Seq[ResultRow], PropertyGraph) = {
    // case-sensitive variable names → case-insensitive-safe column
    // space, once, at the boundary (see CypherExecutor.nm)
    val stmt = CypherExecutor.mangleVars(stmt0)
    var g = g0
    var binding: DataFrame = null
    val statementMs = System.currentTimeMillis()

    def visibleVars: Seq[String] = kinds.keys.filterNot(hidden.contains).toSeq.sorted

    for (clause <- stmt.clauses) {
      if (binding == null && !clause.isInstanceOf[Clause.Match])
        binding = spark.range(1).select(lit(0).as("__seed"))
      clause match {
        case Clause.Match(paths, _optional) =>
          // OPTIONAL MATCH is parsed but behaves as MATCH (T7,
          // cypher_spec.rs:338-339 — the optional flag is never read)
          paths.foreach { p => binding = matchPath(g, binding, p) }

        case Clause.Where(conds) =>
          binding = applyWhere(g, binding, conds)

        case Clause.With(items, _distinct, orderBy, skip, limit) =>
          // projects to the listed *variables* only; prop/id items dropped
          // (O4, cypher_spec.rs:1181-1186); WITH DISTINCT parsed+ignored.
          // Kept variables keep their carried columns.
          val keep = items.collect { case Expr.Var(v) if kinds.contains(v) => v }
          val sorted = applyOrder(g, binding, orderBy)
          val carried = keep.distinct.filter(carries(sorted, _))
            .flatMap(v => Seq(vcol(labelCol(v)), vcol(propsCol(v))))
          val b = applyPage(
            sorted.select(keep.map(vcol) ++ carried :+ lit(0).as("__seed"): _*), skip, limit)
          val keepSet = keep.toSet
          kinds.keys.toSeq.foreach { v => if (!keepSet.contains(v)) kinds.remove(v) }
          binding = b

        case Clause.Create(paths) =>
          val (b2, g2) = execCreate(g, dropCarried(binding), paths, statementMs)
          binding = b2; g = g2

        case Clause.Merge(path) =>
          val (b2, g2) = execMerge(g, dropCarried(binding), path, statementMs)
          binding = b2; g = g2

        case Clause.SetProp(v, key, value) =>
          // SET values are stored as written — the reference's Set
          // executor never calls resolve_param (cypher_spec.rs:1283-1292),
          // so `SET n.p = $x` stores the literal text "$x"
          binding = dropCarried(binding)
          val text = rawText(value)
          g = rewriteBound(g, binding, v, "properties")(p =>
            map_concat(map_filter(p, (k, _) => k =!= key), map(lit(key), lit(text))))

        case Clause.SetLabel(v, label) =>
          // SET n:Label REPLACES the label (M5, cypher_spec.rs:1262-1274)
          binding = dropCarried(binding)
          g = rewriteBound(g, binding, v, "label")(_ => lit(label))

        case Clause.RemoveProp(v, key) =>
          binding = dropCarried(binding)
          g = rewriteBound(g, binding, v, "properties")(p =>
            map_filter(p, (k, _) => k =!= key))

        case Clause.Delete(vars, detach) =>
          binding = dropCarried(binding)
          g = execDelete(g, binding, vars, detach)

        case Clause.Return(items, distinct, orderBy, skip, limit) =>
          return (execReturn(g, binding, items, distinct, orderBy, skip, limit), g)
      }
    }

    // implicit return: all bound visible vars of every row (T6,
    // cypher_spec.rs:1520-1531), looked up against the CURRENT graph
    val rows = mutable.Buffer.empty[ResultRow]
    val vars = visibleVars
    if (vars.nonEmpty) {
      val prefixes = vars.indices.map(i => s"__v$i")
      val b = vars.zip(prefixes).foldLeft(binding) { case (d, (v, p)) => lookup(g, d, v, p) }
      collectCapped(b.select(vars.zip(prefixes).flatMap { case (v, p) => entityCols(v, p) }: _*))
        .foreach { row =>
          vars.zip(prefixes).foreach { case (v, p) => rows ++= entityRow(row, kinds(v), p) }
        }
    }
    (rows.toSeq, g)
  }

  /** Joins what reading bound variable `v` needs: the node table for a
    * node variable without carried columns ([[withNode]]), the edge
    * table (as `<p>_*` columns) for a relationship variable. */
  private def lookup(g: PropertyGraph, b: DataFrame, v: String, p: String): DataFrame =
    kinds(v) match {
      case NodeKind => withNode(g, b, v)
      case RelKind =>
        b.join(g.edges.select(col("id").as(s"${p}_id"), col("src").as(s"${p}_src"),
          col("dst").as(s"${p}_dst"), col("label").as(s"${p}_label"),
          col("properties").as(s"${p}_props")), vcol(v) === col(s"${p}_id"), "left")
    }

  /** The `<p>_id`, `<p>_label`, `<p>_props` (plus `<p>_src`, `<p>_dst`
    * for a relationship) columns describing `v` after [[lookup]];
    * `<p>_id` is null when `v` names no entity of the current graph. */
  private def entityCols(v: String, p: String): Seq[Column] = kinds(v) match {
    case NodeKind => Seq(when(vcol(labelCol(v)).isNotNull, vcol(v)).as(s"${p}_id"),
      vcol(labelCol(v)).as(s"${p}_label"), vcol(propsCol(v)).as(s"${p}_props"))
    case RelKind => Seq("id", "src", "dst", "label", "props").map(c => col(s"${p}_$c"))
  }

  private def entityRow(row: Row, kind: Kind, p: String): Option[ResultRow] =
    Option(row.getAs[String](s"${p}_id")).map { id =>
      val props = Option(row.getAs[Map[String, String]](s"${p}_props")).getOrElse(Map.empty)
      if (kind == NodeKind) ResultRow.node(id, row.getAs[String](s"${p}_label"), props)
      else ResultRow.rel(id, row.getAs[String](s"${p}_src"), row.getAs[String](s"${p}_dst"),
        row.getAs[String](s"${p}_label"), props)
    }

  /** WHERE: AND-conjunction filter over the binding table.
    * Fidelity notes: rel-var property predicates drop the row (P10),
    * missing props compare as "" (P11), unknown conditions are fail-open
    * no-ops (P9), id() comparisons are string comparisons on canonical
    * UUIDv7 ids == u128 order (P4). */
  private def applyWhere(g: PropertyGraph, binding: DataFrame, conds: Seq[Cond]): DataFrame = {
    var b = binding
    var filter: Column = lit(true)

    def nodePropLhs(v: String, key: String): Option[Column] = {
      if (kinds.get(v).contains(RelKind) || !kinds.contains(v)) None
      else {
        b = withNode(g, b, v)
        Some(coalesce(vcol(propsCol(v))(key), lit("")))
      }
    }

    // missing-param WHERE errors are lazy like pattern props: the
    // reference resolves the RHS per ROW reaching the condition
    // (cypher_spec.rs:1089/1101/1112/1123 inside 'rowloop), so the
    // error fires only when a row survives the EARLIER conditions;
    // otherwise everything is already dropped and the query succeeds
    def lazyWhereParam(value: PropValue): Boolean = value match {
      case PropValue.Param(n) if !params.contains(n) =>
        if (b.filter(filter).limit(1).count() > 0)
          throw ParseException(s"Missing parameter: $$$n")
        filter = lit(false)
        true
      case _ => false
    }

    conds.foreach {
      case Cond.IdCmp(l, op, r) =>
        // the row passes only when BOTH operands are bound NODE vars —
        // the reference pattern-matches (Val::NodeId, Val::NodeId) and
        // silently drops the row otherwise (cypher_spec.rs:1075-1081),
        // so a rel var or unknown var in id() filters everything, it
        // never errors
        if (kinds.get(l).contains(NodeKind) && kinds.get(r).contains(NodeKind))
          filter = filter && strCmp(vcol(l), vcol(r), op)
        else filter = filter && lit(false)
      case Cond.PropCmp(v, key, op, value) =>
        // the reference resolves the RHS BEFORE the var check, so the
        // lazy missing-param error fires even for unknown/rel vars
        if (!lazyWhereParam(value)) nodePropLhs(v, key) match {
          case None => filter = filter && lit(false)
          case Some(lhs) =>
            val rhs = resolve(value)
            // numeric iff BOTH sides parse per Rust f64::from_str
            // (cypher_spec.rs:1129 `parse::<f64>` — untrimmed, "inf"
            // spelling, no Java d/f suffixes or hex floats; the old
            // `rhs.toDouble` + bare try_cast accepted Java's grammar).
            // Rust NaN comparisons are all false except `!=` — Spark
            // would instead sort NaN greatest and equate NaN = NaN,
            // so the NaN case is forced scalar-side/isnan. r11.
            CypherExecutor.rustF64(rhs) match {
              case Some(n) =>
                val ln = CypherExecutor.rustF64Col(lhs)
                val numC =
                  if (n.isNaN) lit(op == "<>")
                  else when(isnan(ln), lit(op == "<>")).otherwise(strCmp(ln, lit(n), op))
                filter = filter && when(ln.isNotNull, numC).otherwise(strCmp(lhs, lit(rhs), op))
              case None => filter = filter && strCmp(lhs, lit(rhs), op)
            }
        }
      case Cond.Contains(v, key, value) =>
        if (!lazyWhereParam(value))
          filter = filter && nodePropLhs(v, key).map(_.contains(resolve(value))).getOrElse(lit(false))
      case Cond.StartsWith(v, key, value) =>
        if (!lazyWhereParam(value))
          filter = filter && nodePropLhs(v, key).map(_.startsWith(resolve(value))).getOrElse(lit(false))
      case Cond.EndsWith(v, key, value) =>
        if (!lazyWhereParam(value))
          filter = filter && nodePropLhs(v, key).map(_.endsWith(resolve(value))).getOrElse(lit(false))
      case Cond.Unknown(_) => ()
    }
    b.filter(filter)
  }

  // ------------------------------------------------------------ mutations

  private def execCreate(g0: PropertyGraph, binding0: DataFrame,
      paths: Seq[PathPattern], statementMs: Long): (DataFrame, PropertyGraph) = {
    var g = g0
    var binding = binding0
    // consecutive node-only patterns commit as ONE batch append (a
    // comma-delimited CREATE of n nodes is one union + one
    // materialization instead of n) — safe because each pattern creates
    // exactly one driver-id'd node, and batching only CONSECUTIVE runs
    // preserves the reference's textual-order binding visibility for
    // any interleaved relationship path
    val grouped = mutable.Buffer.empty[Either[Seq[PathPattern], PathPattern]]
    paths.foreach { p =>
      if (p.rels.isEmpty) grouped.lastOption match {
        case Some(Left(_)) =>
          grouped(grouped.size - 1) =
            Left(grouped.last.left.toOption.get :+ p)
        case _ => grouped += Left(Seq(p))
      }
      else grouped += Right(p)
    }
    grouped.foreach {
      case Left(nodePaths) =>
        // node patterns: ONE new node each per statement evaluation,
        // bound into all current rows (M1, cypher_spec.rs:1320-1330)
        val rows = nodePaths.map { p =>
          val np = p.nodes.head
          val id = IdGen.next()
          (np, id, np.label.getOrElse("_"),
            np.props.map { case (k, v) => k -> resolvePropValue(v) })
        }
        val newNodes = PropertyGraph.nodesDf(spark,
          rows.map { case (_, id, label, props) => (id, label, props) })
        g = g.commitNodes(g.nodes.unionByName(newNodes))
        rows.foreach { case (np, id, _, _) =>
          np.variable.foreach { v =>
            binding = binding.withColumn(v, lit(id))
            kinds(v) = NodeKind
          }
        }
      case Right(p) => {
        // path pattern: one edge per binding row; endpoints must be
        // bound node vars, else rows are skipped (M2, cypher_spec.rs:1331-1348)
        p.rels.indices.foreach { i =>
          val (l, rel, r) = (p.nodes(i), p.rels(i), p.nodes(i + 1))
          // endpoints must be NODE-bound vars: the reference's per-row
          // loop matches Some(Val::NodeId(id)) and `continue`s on
          // anything else (cypher_spec.rs:1335-1336) — a rel-bound var
          // skips the row BEFORE prop/param resolution, so no edge is
          // created and a missing $param never errors
          val lOk = l.variable.exists(v => kinds.get(v).contains(NodeKind))
          val rOk = r.variable.exists(v => kinds.get(v).contains(NodeKind))
          // rel-prop params resolve per ROW in the reference
          // (cypher_spec.rs:1339): with zero binding rows a missing
          // param is never reached, nothing is created, and the
          // statement succeeds with the binding kept
          val missingProp =
            rel.props.collectFirst { case (_, v) if isMissingParam(v) => v }
          if (lOk && rOk && missingProp.isDefined) {
            if (binding.limit(1).count() > 0) missingParamError(missingProp.get)
          } else if (lOk && rOk) {
            val lv = l.variable.get
            val rv = r.variable.get
            val typ = rel.relType.getOrElse("_")
            val b2 = binding.withColumn("__newrel", IdGen.distributedExpr(statementMs))
              .graftCheckpoint()
            val newEdges = b2.select(col("__newrel").as("id"), vcol(lv).as("src"),
              vcol(rv).as("dst"), lit(typ).as("label"),
              propsLit(rel.props).as("properties"))
            g = g.commitEdges(g.edges.unionByName(newEdges))
            binding = rel.variable match {
              case Some(rvn) =>
                kinds(rvn) = RelKind
                b2.withColumnRenamed("__newrel", rvn)
              case None => b2.drop("__newrel")
            }
          }
          // else: rows unchanged (reference keeps rows when new_rows empty)
        }
      }
    }
    (binding, g)
  }

  private def execMerge(g0: PropertyGraph, binding: DataFrame,
      path: PathPattern, statementMs: Long): (DataFrame, PropertyGraph) = {
    if (path.rels.size != 1)
      throw ParseException("MERGE currently supports only single relationship patterns")
    val (l, rel, r) = (path.nodes.head, path.rels.head, path.nodes(1))
    // NODE-bound endpoints only: the reference matches
    // Some(Val::NodeId(id)) per row and `continue`s otherwise
    // (cypher_spec.rs:1356-1357), dropping the row BEFORE any prop
    // resolution — so rel-bound vars never create and never raise
    val lOk = l.variable.exists(v => kinds.get(v).contains(NodeKind))
    val rOk = r.variable.exists(v => kinds.get(v).contains(NodeKind))
    if (!lOk || !rOk) {
      // reference: rows without both endpoints bound are dropped and
      // rows := new_rows unconditionally (cypher_spec.rs:1384)
      return (binding.limit(0), g0)
    }
    // props resolve per ROW in the reference (cypher_spec.rs:1366,1372):
    // a missing $param only errors if at least one row survives the
    // endpoint filter; with zero rows MERGE succeeds with empty rows
    rel.props.collectFirst { case (_, v) if isMissingParam(v) => v }.foreach { bad =>
      if (binding.limit(1).count() > 0) missingParamError(bad)
      else return (binding.limit(0), g0)
    }
    val lv = l.variable.get
    val rv = r.variable.get
    val typ = rel.relType.getOrElse("_")
    val mergeProps = rel.props.map { case (k, v) => k -> resolvePropValue(v) }

    // existing candidates: same (src,dst,label) and all MERGE props match
    var cand = g0.edges.filter(col("label") === typ)
    mergeProps.foreach { case (k, v) => cand = cand.filter(col("properties")(k) === v) }
    val candDedup = cand.groupBy(col("src").as("__msrc"), col("dst").as("__mdst"))
      .agg(min(col("id")).as("__mrid"))

    val joined = binding.join(candDedup,
      vcol(lv) === col("__msrc") && vcol(rv) === col("__mdst"), "left")
      .drop("__msrc", "__mdst")
      .withColumn("__newrid", IdGen.distributedExpr(statementMs))
      .graftCheckpoint()

    val toCreate = joined.filter(col("__mrid").isNull)
      .select(vcol(lv).as("src"), vcol(rv).as("dst"), col("__newrid"))
      // duplicate (src,dst) rows merge to ONE created edge (the
      // reference's per-row loop sees its own earlier insertions)
      .groupBy("src", "dst").agg(min(col("__newrid")).as("id"))
      .select(col("id"), col("src"), col("dst"), lit(typ).as("label"),
        propsLit(rel.props).as("properties"))

    val g = g0.commitEdges(g0.edges.unionByName(toCreate))

    // bind rel var: existing rid or the created edge's id
    val created = toCreate.select(col("src").as("__csrc"), col("dst").as("__cdst"),
      col("id").as("__crid"))
    var b2 = joined.join(created,
      vcol(lv) === col("__csrc") && vcol(rv) === col("__cdst"), "left")
      .withColumn("__rid", coalesce(col("__mrid"), col("__crid")))
      .drop("__mrid", "__crid", "__csrc", "__cdst", "__newrid")
    b2 = rel.variable match {
      case Some(rvn) => kinds(rvn) = RelKind; b2.withColumnRenamed("__rid", rvn)
      case None => b2.drop("__rid")
    }
    (b2.graftCheckpoint(), g)
  }

  private def boundIds(binding: DataFrame, v: String): DataFrame =
    binding.select(vcol(v).as("__tid")).distinct()

  /** SET / REMOVE: rewrite column `c` of the rows bound to `v` with
    * `update`, keep it on every other row, and commit only the table
    * `v` lives in. An unbound variable leaves the graph as it is. */
  private def rewriteBound(g: PropertyGraph, binding: DataFrame, v: String,
      c: String)(update: Column => Column): PropertyGraph = {
    if (!kinds.contains(v)) return g
    val ids = boundIds(binding, v)
    def upd(df: DataFrame): DataFrame =
      df.join(ids, col("id") === col("__tid"), "left")
        .withColumn(c, when(col("__tid").isNotNull, update(col(c))).otherwise(col(c)))
        .drop("__tid")
    kinds(v) match {
      case NodeKind => g.commitNodes(upd(g.nodes))
      case RelKind  => g.commitEdges(upd(g.edges))
    }
  }

  private def execDelete(g: PropertyGraph, binding: DataFrame, vars: Seq[String],
      detach: Boolean): PropertyGraph = {
    val relVars = vars.filter(v => kinds.get(v).contains(RelKind))
    val nodeVars = vars.filter(v => kinds.get(v).contains(NodeKind))
    val relIds =
      if (relVars.isEmpty) null
      else relVars.map(boundIds(binding, _)).reduce(_ unionByName _).distinct()
        .graftCheckpoint()
    val nodeIds =
      if (nodeVars.isEmpty) null
      else nodeVars.map(boundIds(binding, _)).reduce(_ unionByName _).distinct()
        .graftCheckpoint()

    if (!detach && nodeIds != null) {
      // constraint check against the PRE-delete edge set
      // (cypher_spec.rs:1234-1240)
      g.edges.join(nodeIds,
          col("src") === col("__tid") || col("dst") === col("__tid"))
        .select("__tid").take(1).foreach { r =>
          throw ParseException(s"Cannot DELETE node ${r.getString(0)} " +
            "with existing relationships; use DETACH DELETE")
        }
    }

    var edges = g.edges
    if (relIds != null)
      edges = edges.join(relIds, col("id") === col("__tid"), "left_anti")
    if (nodeIds != null && detach) {
      edges = edges.join(nodeIds, col("src") === col("__tid"), "left_anti")
      edges = edges.join(nodeIds, col("dst") === col("__tid"), "left_anti")
    }
    val nodes =
      if (nodeIds == null) g.nodes
      else g.nodes.join(nodeIds, col("id") === col("__tid"), "left_anti")
    // commit only the tables that changed
    (nodeIds != null, relIds != null || (nodeIds != null && detach)) match {
      case (true, true) => PropertyGraph(nodes, edges).materialized
      case (true, false) => g.commitNodes(nodes)
      case (false, true) => g.commitEdges(edges)
      case (false, false) => g
    }
  }

  // -------------------------------------------------------------- RETURN

  /** The string sort key column `__ok<i>` of each ORDER BY item, and
    * the binding with the node lookups those keys read. */
  private def orderKeys(g: PropertyGraph, binding0: DataFrame,
      orderBy: Seq[OrderKey]): (DataFrame, Seq[Column]) = {
    var b = binding0
    val keys = orderBy.zipWithIndex.map { case (OrderKey(e, _), i) =>
      val k = e match {
        case Expr.Var(v) if kinds.contains(v) => coalesce(vcol(v), lit(""))
        case Expr.Id(v) if kinds.contains(v) => coalesce(vcol(v), lit(""))
        case Expr.Prop(v, key) if kinds.get(v).contains(NodeKind) =>
          b = withNode(g, b, v)
          coalesce(vcol(propsCol(v))(key), lit(""))
        case Expr.StrLit(s) => lit(s)
        case _ => lit("")
      }
      k.as(s"__ok$i")
    }
    (b, keys)
  }

  // numeric-when-both-parse else string, per PAIR (O1, cypher_spec.rs
  // :1191-1209 / :1478-1497). A pairwise comparator is not a Spark sort
  // key in general: a digit-initial non-numeric key ("1001?") string-
  // interleaves BETWEEN numerics, and a sign/dot-initial numeric
  // ("-5") string-compares below digit strings. But when neither shape
  // is present — the overwhelmingly common case: keys are plain digit
  // strings, "" (the missing-prop default), or non-digit-initial
  // strings — the reference's order is exactly the three-bucket total
  // order of [[bucketedSort]]: strings below "0" (incl. "" — string
  // compare puts them FIRST ascending), then numerics by value, then
  // strings above. [[cycleFlag]] decides which path a key set takes:
  // keys with either shape fall back to [[exactSort]], a driver-side
  // sort with the literal pairwise comparator, bounded by the same
  // result cap that guards every ORDER BY surface (the reference
  // materializes all rows too). Numeric detection mirrors Rust
  // f64::from_str (no whitespace trim, which Spark's cast would
  // otherwise do; inf/nan handled only on the exact path — the flag
  // routes them there). The predicate, the bucketed sort keys, and the
  // scalar pairwise compare live on [[CypherExecutor]] so
  // OrderPathEquivalenceSpec can property-pin the two paths against
  // each other.

  /** True on a row whose sort keys make the bucketed order inexact. */
  private def cycleFlag(n: Int): Column =
    (0 until n).map(i => CypherExecutor.cycleCapable(col(s"__ok$i"))).reduce(_ || _)

  private def bucketedSort(b: DataFrame, orderBy: Seq[OrderKey]): DataFrame =
    b.orderBy(orderBy.zipWithIndex.flatMap { case (OrderKey(_, asc), i) =>
      CypherExecutor.bucketSortExprs(col(s"__ok$i"), asc)
    }: _*)

  /** Exact pairwise mirror, driver-side under the result cap. When the
    * comparator is a strict total order on the key set, any correct
    * sort yields the reference's unique order; when it has ties or
    * cycles the reference's own output tracks its per-process HashMap
    * iteration order and is irreproducible in principle. */
  private def exactSort(b: DataFrame, orderBy: Seq[OrderKey]): DataFrame = {
    val collected = collectCapped(b)
    val keyIdx = orderBy.indices.map(i => b.schema.fieldIndex(s"__ok$i")).toArray
    val ascs = orderBy.map(_.ascending).toArray
    val cmp: (Row, Row) => Int = { (x, y) =>
      var ord = 0
      var i = 0
      while (ord == 0 && i < keyIdx.length) {
        val a = Option(x.getString(keyIdx(i))).getOrElse("")
        val c = Option(y.getString(keyIdx(i))).getOrElse("")
        val o0 = CypherExecutor.dualCompare(a, c)
        ord = if (ascs(i)) o0 else -o0
        i += 1
      }
      ord
    }
    val sorted = CypherExecutor.stableMergeSort(collected, cmp)
    spark.createDataFrame(java.util.Arrays.asList(sorted: _*), b.schema)
  }

  /** WITH's ORDER BY: the binding stays a frame, so one probe job over
    * the keys picks the path up front. */
  private def applyOrder(g: PropertyGraph, binding0: DataFrame,
      orderBy: Seq[OrderKey]): DataFrame = {
    if (orderBy.isEmpty) return binding0
    val (b0, keys) = orderKeys(g, binding0, orderBy)
    val b = b0.select(col("*") +: keys: _*)
    if (b.filter(cycleFlag(keys.size)).limit(1).count() == 0) bucketedSort(b, orderBy)
    else exactSort(b, orderBy)
  }

  private def execReturn(g: PropertyGraph, binding0: DataFrame, items: Seq[Expr],
      distinct: Boolean, orderBy: Seq[OrderKey], skip: Option[Int],
      limit: Option[Int]): Seq[ResultRow] = {
    val nodeVar = (v: String) => kinds.get(v).contains(NodeKind)
    // lookups first (uncarried node vars, rel vars), then one projection
    // of per-item columns: `__it<i>_*` entity columns for a bound
    // variable, else `__it<i>_info` (null = the item yields nothing)
    var b = items.zipWithIndex.foldLeft(binding0) {
      case (d, (Expr.Var(v), i)) if kinds.contains(v) => lookup(g, d, v, s"__it$i")
      case (d, (Expr.Prop(v, _), _)) if nodeVar(v) => withNode(g, d, v)
      case (d, _) => d
    }
    val itemCols = items.zipWithIndex.flatMap {
      case (Expr.Var(v), i) if kinds.contains(v) => entityCols(v, s"__it$i")
      // node vars only; missing property → row dropped for this item
      // (P2, cypher_spec.rs:1409-1419)
      case (Expr.Prop(v, key), i) if nodeVar(v) => Seq(vcol(propsCol(v))(key).as(s"__it${i}_info"))
      case (Expr.Id(v), i) if kinds.contains(v) => Seq(vcol(v).as(s"__it${i}_info"))
      case (Expr.StrLit(s), i) => Seq(lit(s).as(s"__it${i}_info"))
      case (_, i) => Seq(lit(null).cast("string").as(s"__it${i}_info"))
    }

    val collected =
      if (items.size != 1) collectCapped(b.select(itemCols: _*))
      else {
        // the single projected value drives DISTINCT / ORDER / SKIP / LIMIT
        val value = items.head match {
          case Expr.Var(v) if kinds.contains(v) => "__it0_id"
          case _ => "__it0_info"
        }
        val (b1, keys) = orderKeys(g, b, orderBy)
        b = b1.select(itemCols ++ keys: _*).filter(col(value).isNotNull)
        if (distinct) b = b.dropDuplicates(value)
        if (orderBy.isEmpty) collectCapped(applyPage(b, skip, limit))
        else {
          // the bucketed collect observes the cycle flag over every row
          // below its sort; an inexact key set reruns on the exact path
          val observed = b.observe("__cycle", max(cycleFlag(keys.size).cast("int")))
          val page = CypherExecutor.capped(spark,
            applyPage(bucketedSort(observed, orderBy), skip, limit))
          val rows = CypherExecutor.collectRows(spark, page)
          val cycle = page.queryExecution.observedMetrics.get("__cycle")
            .exists(r => !r.isNullAt(0) && r.getInt(0) == 1)
          if (cycle) collectCapped(applyPage(exactSort(b, orderBy), skip, limit))
          else rows
        }
      }

    val rows = mutable.Buffer.empty[ResultRow]
    collected.foreach { row =>
      items.zipWithIndex.foreach {
        case (Expr.Var(v), i) if kinds.contains(v) => rows ++= entityRow(row, kinds(v), s"__it$i")
        case (_, i) => Option(row.getAs[String](s"__it${i}_info")).foreach(rows += ResultRow.info(_))
      }
    }
    rows.toSeq
  }
}

object CypherExecutor {
  /** Driver-result guard: the reference materializes every result row
    * in memory (its OLTP-sized contract); at Spark scale an unbounded
    * `MATCH (n) RETURN n` is a driver OOM. Results are fetched through
    * a configurable cap (`spark.graft.maxResultRows`, default 1M) with
    * a clear error past it — bounded driver memory, single job. Shared
    * by the Cypher RETURN path and the legacy-dialect result echo so
    * no result surface can collect unbounded.
    */
  /** The driver result cap (spark.graft.maxResultRows, default 1M).
    * Parsed as Long and clamped: a value past Int.MaxValue must mean
    * "huge cap", not a NumberFormatException on every query. */
  private[graft] def resultCap(spark: SparkSession): Int =
    spark.conf.getOption("spark.graft.maxResultRows")
      .map(v => math.min(v.toLong, Int.MaxValue - 1L).toInt)
      .getOrElse(1000000)

  private[graft] def collectCapped(
      spark: SparkSession, b: DataFrame): Array[org.apache.spark.sql.Row] =
    collectRows(spark, capped(spark, b))

  /** The frame [[collectCapped]] collects: at most one row past the cap. */
  private[graft] def capped(spark: SparkSession, b: DataFrame): DataFrame =
    b.limit(resultCap(spark) + 1)

  /** Collects a [[capped]] frame, refusing a result past the cap. */
  private[graft] def collectRows(
      spark: SparkSession, c: DataFrame): Array[org.apache.spark.sql.Row] = {
    val cap = resultCap(spark)
    val rows = c.collect()
    if (rows.length > cap)
      throw ParseException(
        s"Result exceeds spark.graft.maxResultRows=$cap rows; add LIMIT or raise the cap")
    rows
  }

  // ------------------------------------------------ ORDER BY dual paths
  //
  // The reference's ORDER BY comparator (cypher_spec.rs:1478-1497) is a
  // PAIRWISE dual compare: numeric when both sides Rust-f64-parse, else
  // byte-order string compare. applyOrder runs it two ways — a
  // distributed three-bucket sort when a probe proves the key set free
  // of cycle-capable shapes, or a capped driver-side exact sort — and
  // OrderPathEquivalenceSpec property-pins the two against each other
  // through the three helpers below.

  /** SQL-side Rust `f64::from_str` shape (finite forms; inf/nan have
    * their own clause in [[cycleCapable]]). `\A`/`\z` anchors, NOT
    * `^`/`$`: Spark's rlike is a regex *find* and `$` also matches
    * before a trailing newline, so `"5\n"` would pass `^...$` while
    * Rust's `from_str` (and [[rustF64]]) reject it — the routing
    * predicate and the scalar comparator must agree on every string. */
  private[graft] val rustNumRe =
    "\\A[+-]?([0-9]+\\.?[0-9]*|\\.[0-9]+)([eE][+-]?[0-9]+)?\\z"

  /** Injective, case-insensitive-safe COLUMN name for a user pattern
    * variable. Reference variables are case-SENSITIVE Rust HashMap keys
    * (`a` and `A` are distinct bindings — probed r11, probes/case.ql),
    * but Spark's default attribute resolution compares column names
    * with equalsIgnoreCase, which collided them into
    * AMBIGUOUS_REFERENCE (found by MutFuzz r11 seed 21:
    * `MATCH (a)-[A:U]->(b) DELETE r, LIMIT  a`). Plain lowercase names
    * stay readable in plans; anything carrying case (or case-foldable
    * Unicode — 'ſ' equalsIgnoreCase 's'), the mangle prefix itself, or
    * a "__" run (reserved for `<var>__id/__props/...` helper columns
    * and `__`-internal scratch — closes the latent `a__props`-as-a-
    * variable collision too) is hex-encoded per char. Applied ONCE, at
    * the AST boundary in [[mangleVars]]; everything inside the executor
    * then lives in mangled column space. */
  private[graft] def nm(v: String): String = {
    val plain = v.nonEmpty &&
      v.forall(c => (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9') ||
        c == '_' || c == '.') &&
      !v.startsWith("x_") && !v.contains("__")
    if (plain) v else "x_" + v.map(c => f"${c.toInt}%04x").mkString
  }

  /** Rewrites every variable name in a parsed statement through [[nm]]
    * — names are internal binding labels (they never appear in result
    * rows or error texts), so this is invisible outside the executor. */
  private[graft] def mangleVars(stmt: Statement): Statement = {
    def ex(e: Expr): Expr = e match {
      case Expr.Var(v) => Expr.Var(nm(v))
      case Expr.Prop(v, k) => Expr.Prop(nm(v), k)
      case Expr.Id(v) => Expr.Id(nm(v))
      case s: Expr.StrLit => s
    }
    def np(p: NodePattern): NodePattern = p.copy(variable = p.variable.map(nm))
    def rp(r: RelPattern): RelPattern = r.copy(variable = r.variable.map(nm))
    def path(p: PathPattern): PathPattern =
      PathPattern(p.nodes.map(np), p.rels.map(rp))
    def cond(c: Cond): Cond = c match {
      case Cond.IdCmp(l, op, r) => Cond.IdCmp(nm(l), op, nm(r))
      case Cond.PropCmp(v, k, op, value) => Cond.PropCmp(nm(v), k, op, value)
      case Cond.Contains(v, k, value) => Cond.Contains(nm(v), k, value)
      case Cond.StartsWith(v, k, value) => Cond.StartsWith(nm(v), k, value)
      case Cond.EndsWith(v, k, value) => Cond.EndsWith(nm(v), k, value)
      case u: Cond.Unknown => u
    }
    def ok(o: OrderKey): OrderKey = o.copy(expr = ex(o.expr))
    Statement(stmt.clauses.map {
      case Clause.Match(paths, opt) => Clause.Match(paths.map(path), opt)
      case Clause.Where(conds) => Clause.Where(conds.map(cond))
      case Clause.With(items, d, ob, s, l) =>
        Clause.With(items.map(ex), d, ob.map(ok), s, l)
      case Clause.Create(paths) => Clause.Create(paths.map(path))
      case Clause.Merge(p) => Clause.Merge(path(p))
      case Clause.SetProp(v, k, value) => Clause.SetProp(nm(v), k, value)
      case Clause.SetLabel(v, l) => Clause.SetLabel(nm(v), l)
      case Clause.RemoveProp(v, k) => Clause.RemoveProp(nm(v), k)
      case Clause.Delete(vs, detach) => Clause.Delete(vs.map(nm), detach)
      case Clause.Return(items, d, ob, s, l) =>
        Clause.Return(items.map(ex), d, ob.map(ok), s, l)
    })
  }

  /** Column mirror of [[rustF64]]: the value's f64 when it
    * Rust-parses, else NULL. Spark's bare string→double cast would
    * TRIM whitespace and spell infinity Java-style ("Infinity" yes,
    * "inf" no) — both wrong here — so finite forms are regex-guarded
    * before try_cast and the inf/nan words are mapped explicitly.
    * All codegen'd built-ins; no UDF. r11. */
  private[graft] def rustF64Col(str: Column): Column = {
    val w = lower(str)
    val sign = when(w.startsWith("-"), lit(-1.0d)).otherwise(lit(1.0d))
    val core = regexp_replace(w, "\\A[+-]", "")
    when(str.rlike(rustNumRe), str.try_cast("double"))
      .when(w.rlike("\\A[+-]?(inf(inity)?|nan)\\z"),
        when(core.startsWith("inf"), lit(Double.PositiveInfinity) * sign)
          .otherwise(lit(Double.NaN)))
  }

  /** True iff this key value can make the pairwise dual compare
    * non-transitive against some other value: a numeric that does not
    * lead with a digit ("-5", ".5", "+3", inf/nan forms) numeric-sorts
    * where the bucketed sort string-sorts, and a digit-leading
    * non-numeric ("1001?", "5\n") string-interleaves between numerics.
    * Scala model (shared with MutFuzz's window adjudicator):
    * `(isNum && !digitLead) || (!isNum && digitLead)` with isNum =
    * [[rustF64]]`.isDefined`. */
  private[graft] def cycleCapable(str: Column): Column = {
    val isNum = str.rlike(rustNumRe)
    val digitLead = substring(str, 1, 1).between("0", "9")
    (isNum && !digitLead) || (!isNum && str =!= lit("") && digitLead) ||
      str.rlike("(?i)\\A[+-]?(inf(inity)?|nan)\\z")
  }

  /** The distributed mirror of the pairwise compare, valid exactly when
    * no key value is [[cycleCapable]]: strings below "0" (incl. "",
    * the missing-prop default), then numerics by value, then strings
    * above "9"-leading... i.e. above digit-lead. Three sort keys per
    * ORDER BY item, all codegen'd — no UDF in the sort. */
  private[graft] def bucketSortExprs(str: Column, asc: Boolean): Seq[Column] = {
    val isNum = str.rlike(rustNumRe)
    val num = when(isNum, str.try_cast("double"))
    val bucket = when(isNum, lit(1))
      .when(str === lit("") || substring(str, 1, 1) < lit("0"), lit(0))
      .otherwise(lit(2))
    if (asc) Seq(bucket.asc, num.asc_nulls_first, str.asc)
    else Seq(bucket.desc, num.desc_nulls_last, str.desc)
  }

  /** The literal scalar pairwise compare (exact-path comparator):
    * numeric when BOTH sides parse (NaN compares Equal, mirroring
    * `partial_cmp(..).unwrap_or(Equal)`), else UTF-8-byte string
    * order. */
  private[graft] def dualCompare(a: String, c: String): Int =
    (rustF64(a), rustF64(c)) match {
      case (Some(na), Some(nc)) =>
        if (na.isNaN || nc.isNaN) 0 else java.lang.Double.compare(na, nc)
      case _ => rustStrCmp(a, c)
    }

  /** Rust `f64::from_str` mirror for the ORDER BY dual compare: no
    * whitespace trimming (unlike Spark's cast), accepts `inf`/
    * `infinity`/`nan` case-insensitively and `3.` / `.5` forms. */
  private val RustF64Re =
    "(?i)^[+-]?(inf(inity)?|nan|([0-9]+\\.?[0-9]*|\\.[0-9]+)(e[+-]?[0-9]+)?)$".r
  private[graft] def rustF64(s: String): Option[Double] = s match {
    case RustF64Re(_*) =>
      val neg = s.startsWith("-")
      val body = s.stripPrefix("+").stripPrefix("-").toLowerCase
      val v =
        if (body.startsWith("inf")) Double.PositiveInfinity
        else if (body == "nan") Double.NaN
        else body.toDouble
      Some(if (neg) -v else v)
    case _ => None
  }

  /** Rust `String` cmp is UTF-8 byte order == code point order; Java's
    * compareTo is UTF-16 unit order, which disagrees above U+FFFF. */
  private[graft] def rustStrCmp(x: String, y: String): Int = {
    val n = math.min(x.length, y.length)
    var i = 0
    while (i < n) {
      val cx = x.codePointAt(i)
      val cy = y.codePointAt(i)
      if (cx != cy) return Integer.compare(cx, cy)
      i += Character.charCount(cx)
    }
    Integer.compare(x.length, y.length)
  }

  /** Bottom-up stable merge sort that — unlike java.util TimSort —
    * never throws on a comparator that violates transitivity: the
    * reference's pairwise dual compare can cycle on adversarial keys,
    * where its own Rust sort output is merge-order-dependent anyway. */
  private[graft] def stableMergeSort(
      arr: Array[Row], cmp: (Row, Row) => Int): Array[Row] = {
    var src = arr.clone()
    var dst = new Array[Row](arr.length)
    var width = 1
    while (width < src.length) {
      var i = 0
      while (i < src.length) {
        val mid = math.min(i + width, src.length)
        val hi = math.min(i + 2 * width, src.length)
        var l = i; var r = mid; var k = i
        while (l < mid && r < hi) {
          if (cmp(src(r), src(l)) < 0) { dst(k) = src(r); r += 1 }
          else { dst(k) = src(l); l += 1 }
          k += 1
        }
        while (l < mid) { dst(k) = src(l); l += 1; k += 1 }
        while (r < hi) { dst(k) = src(r); r += 1; k += 1 }
        i += 2 * width
      }
      val t = src; src = dst; dst = t
      width *= 2
    }
    src
  }
}
