package graft.cypher

/** AST for the Cypher subset the reference actually uses (SURVEY.md §2.B,
  * Q1-Q13) — MATCH/MERGE/SET/WITH/RETURN/WHERE/ORDER BY/LIMIT, node and
  * one-hop relationship patterns, property maps, named parameters, the
  * `datetime()` scalar — plus the depth a Neo4j user types next: WITH
  * aggregation pipelines (`MATCH…WITH…MATCH`), boolean WHERE trees
  * (AND/OR/NOT, parentheses), and the aggregate family
  * count/sum/avg/min/max/collect with DISTINCT.
  */
object CypherAst {

  sealed trait Value
  final case class Param(name: String) extends Value
  final case class StrLit(v: String) extends Value
  case object NullLit extends Value
  final case class NumLit(v: Double, isInt: Boolean) extends Value
  final case class FnCall(name: String) extends Value // datetime()
  /** property reference on the comparison RHS, e.g. `a.link < b.link`. */
  final case class RefValue(ref: PropRef) extends Value
  /** literal list, e.g. `['en', 'de']` (UNWIND / IN-style sources). */
  final case class ListLit(items: Seq[Value]) extends Value
  /** bare alias on the RHS, e.g. `WHERE a.lang = lang_code` after UNWIND. */
  final case class AliasValue(name: String) extends Value

  final case class NodePat(variable: Option[String], label: Option[String],
    props: Map[String, Value])
  /** leftToRight: (a)-[:T]->(b) vs (a)<-[:T]-(b); `undirected` for
    * (a)-[:T]-(b) — matches the edge in either orientation (one row per
    * matching direction, like Neo4j). Variable-length patterns `-[:T*m..n]->`
    * carry (minHops, maxHops); fixed single hop is (1, 1). Bare `*` defaults
    * to 1..5 (an unbounded expansion has no place in a distributed plan —
    * the bound is the blast-radius control). */
  final case class EdgePat(variable: Option[String], relType: Option[String],
    leftToRight: Boolean, minHops: Int = 1, maxHops: Int = 1,
    props: Map[String, Value] = Map.empty, undirected: Boolean = false)
  /** `pathVar`: the binding in `MATCH p = (a)-[…]->(b)` — queryable via
    * `length(p)` (hop count, per matched walk). `shortest`: the pattern was
    * wrapped in `shortestPath(…)` — one row per endpoint pair, minimum hop
    * count (ties collapse, as Neo4j returns a single shortest path).
    * `allShortest`: `allShortestPaths(…)` — every tying minimum-hop walk
    * survives, one row each, with relationship/node lists intact. */
  final case class PathPat(nodes: Seq[NodePat], edges: Seq[EdgePat],
    pathVar: Option[String] = None, shortest: Boolean = false,
    allShortest: Boolean = false)

  final case class PropRef(variable: String, prop: String)
  /** Comparison over full scalar expressions on both sides: `a.score * 10
    * >= b.score + 1`, `a.title STARTS WITH 'Spark'`. `op` ∈ the six
    * comparisons, CONTAINS, STARTS WITH, ENDS WITH, IS [NOT] NULL (rhs
    * ignored for the null tests). */
  final case class Predicate(lhs: ReturnExpr, op: String, rhs: ReturnExpr)

  /** Any expression node: a value ([[ReturnExpr]]) or a predicate
    * ([[BoolExpr]]). Analyses walk both through [[children]]. */
  sealed trait Expr

  /** WHERE expression tree; AND binds tighter than OR, NOT tightest. */
  sealed trait BoolExpr extends Expr
  final case class Cmp(pred: Predicate) extends BoolExpr
  final case class AndE(l: BoolExpr, r: BoolExpr) extends BoolExpr
  final case class OrE(l: BoolExpr, r: BoolExpr) extends BoolExpr
  final case class NotE(e: BoolExpr) extends BoolExpr
  /** `EXISTS { (n)-[:R]->(:L) [WHERE …] }` pattern predicate — lowers to a
    * LEFT SEMI join of the bound rows against the subquery pattern
    * (NOT EXISTS → LEFT ANTI). Only valid as a top-level WHERE conjunct,
    * optionally under one NOT — a semi-join is a plan shape, not a column. */
  final case class ExistsPat(path: PathPat,
    where: Option[BoolExpr] = None) extends BoolExpr
  /** List predicate `any/all/none/single(x IN <list> WHERE <pred>)` —
    * Cypher's quantifiers over a list expression. Compiles to Spark's
    * higher-order `exists`/`forall` (codegen lambdas, no UDF); `single`
    * counts the filtered survivors. */
  final case class ListPred(fn: String, variable: String, src: ReturnExpr,
    where: BoolExpr) extends BoolExpr

  sealed trait ReturnExpr extends Expr
  final case class RetVar(variable: String) extends ReturnExpr
  final case class RetProp(ref: PropRef) extends ReturnExpr
  /** Scalar function over nested expressions (composable): toLower,
    * toUpper, trim, size, coalesce, toInteger, toFloat, abs, round,
    * length (strings and path variables), id, labels, type. */
  final case class RetFn(fn: String, args: Seq[ReturnExpr]) extends ReturnExpr
  /** Literal / parameter leaf inside a scalar expression (`a.score + 1`,
    * `CASE … ELSE 'other' END`). */
  final case class RetLit(value: Value) extends ReturnExpr
  /** Binary arithmetic: `+ - * / %`. `+` over a string operand
    * concatenates (Cypher overload); numeric arithmetic reads string
    * property-bag values through DOUBLE (same policy as sum/avg). */
  final case class RetBin(op: String, l: ReturnExpr, r: ReturnExpr)
    extends ReturnExpr
  /** Searched CASE: `CASE WHEN <pred> THEN <expr> … [ELSE <expr>] END`
    * (no ELSE → NULL, as in Cypher/SQL). */
  final case class RetCase(whens: Seq[(BoolExpr, ReturnExpr)],
    default: Option[ReturnExpr]) extends ReturnExpr
  /** Aggregate call: fn ∈ count|sum|avg|min|max|collect. `arg` is None for
    * `count(*)`, a bare variable/alias, or a property ref; Cypher groups
    * implicitly by every non-aggregate return item. Aggregates may sit
    * inside arithmetic (`count(a) * 2`) — classification walks the tree
    * ([[containsAgg]]). */
  final case class RetAgg(fn: String, arg: Option[Either[String, PropRef]],
    distinct: Boolean = false) extends ReturnExpr
  /** Aggregate over a full scalar expression (`min(head(ws))`,
    * `sum(size(a.title))`) — the general form [[RetAgg]]'s simple-argument
    * fast path doesn't cover. `pct` carries the percentile for
    * percentileCont/percentileDisc (Neo4j's two-argument aggregates). */
  final case class RetAggExpr(fn: String, arg: ReturnExpr,
    distinct: Boolean = false, pct: Option[Double] = None) extends ReturnExpr
  /** `COUNT { (n)-[:R]->(m) [WHERE …] }` subquery expression — the match
    * count of the subquery pattern per outer row. NOT an aggregate over the
    * current rows: it pre-materializes as a grouped count left-joined back
    * on the shared variables' ids (0 when nothing matches). */
  final case class RetCountSub(path: PathPat,
    where: Option[BoolExpr] = None) extends ReturnExpr
  /** `EXISTS { pattern [WHERE …] }` in EXPRESSION position (Neo4j 5's
    * boolean subquery form, e.g. `RETURN EXISTS { (n)--() } AS has`) —
    * rides the COUNT { } pre-materialization: the attached per-row count
    * compared to zero. */
  final case class RetExistsSub(sub: RetCountSub) extends ReturnExpr
  /** Pattern comprehension `[(n)-[:R]->(m) WHERE pred | proj]` — the list
    * of `proj` over the subpattern's matches, per outer row. Same
    * pre-materialization shape as [[RetCountSub]], aggregating
    * `collect_list` instead of `count`; rows with no matches read `[]`.
    * Neo4j leaves the list order unspecified — a set-oriented engine pins
    * it (sorted by projection value) for reproducibility, the same policy
    * as keys(). */
  final case class RetPatternComp(path: PathPat, where: Option[BoolExpr],
    proj: ReturnExpr) extends ReturnExpr

  /** List literal in expression position: `[e1, e2, …]` — unlike
    * [[ListLit]] (the Value-grammar leaf used by IN / parameters), elements
    * are full scalar expressions. */
  final case class RetListLit(items: Seq[ReturnExpr]) extends ReturnExpr
  /** Map literal in expression position: `{k1: e1, k2: e2}` — Neo4j's
    * map value, e.g. `collect({node: node, score: score})` in
    * Neo4jVector's hybrid retrieval template. Values are heterogeneous
    * full expressions, so it compiles to a STRUCT column (field access
    * via `m.k` reads the field). */
  final case class RetMapLit(pairs: Seq[(String, ReturnExpr)]) extends ReturnExpr
  /** List comprehension `[x IN src WHERE pred | proj]` — both the filter
    * and the projection are optional (`[x IN src]` copies). Compiles to
    * Spark's higher-order `filter`/`transform` — native per-row lambda
    * expressions, never a UDF or serialization boundary. */
  final case class RetListComp(variable: String, src: ReturnExpr,
    where: Option[BoolExpr], proj: Option[ReturnExpr]) extends ReturnExpr
  /** `reduce(acc = init, x IN src | expr)` — Cypher's list fold. Compiles
    * to Spark's higher-order `aggregate`. */
  final case class RetReduce(acc: String, init: ReturnExpr,
    variable: String, src: ReturnExpr, body: ReturnExpr) extends ReturnExpr
  /** Map projection `n {.p1, .p2}` / `n {.*}` — a MAP column of the
    * selected properties (all=true takes the whole bag, merge key folded
    * in). `overrides` are literal-value entries (`n {.*, embedding: Null,
    * id: Null}` — Neo4jVector's DEFAULT retrieval template nulls the
    * payload columns out of the returned metadata this way); an override
    * REPLACES the selected property of the same name, Neo4j's semantics. */
  final case class RetMapProj(variable: String, props: Seq[String],
    all: Boolean = false,
    overrides: Seq[(String, ReturnExpr)] = Nil) extends ReturnExpr
  /** Temporal constructor with a map argument —
    * `datetime({epochMillis: e})`, `date({epochSeconds: e})`,
    * `duration({days: 1, hours: 6})` (Neo4j's map-form temporal ctors,
    * the next thing the browser workflow reaches for after `datetime()`;
    * /root/reference/cypher.txt:1-8). Keys are matched case-insensitively. */
  final case class RetTemporalCtor(fn: String,
    pairs: Seq[(String, ReturnExpr)]) extends ReturnExpr
  /** List index `xs[i]` — 0-based; negative indexes from the end, out of
    * range is NULL (Cypher semantics). */
  final case class RetIndex(src: ReturnExpr, idx: ReturnExpr) extends ReturnExpr
  /** List slice `xs[a..b]` — 0-based, end-exclusive; either bound may be
    * omitted (`xs[..2]`, `xs[2..]`). */
  final case class RetSlice(src: ReturnExpr, lo: Option[ReturnExpr],
    hi: Option[ReturnExpr]) extends ReturnExpr

  /** The immediate sub-expressions of `e`, left to right in source order.
    * This is the one structural descent over expressions outside the
    * compilers (`itemCol`, `compileBool`) and the printer
    * (`ReturnItem.exprName`): every analysis is a [[collect]] or
    * [[exists]] over it. The match names every node kind and has no
    * wildcard arm, so a node kind added to the AST without a case here is
    * a compile error (`match may not be exhaustive`), never a subtree an
    * analysis silently skips. Subquery patterns (`COUNT { }`, `EXISTS
    * { }`, pattern comprehensions) contribute their WHERE and projection;
    * their path property values are [[Value]]s, not expressions. */
  def children(e: Expr): Seq[Expr] = e match {
    case Cmp(Predicate(l, _, r)) => Seq(l, r)
    case AndE(l, r) => Seq(l, r)
    case OrE(l, r) => Seq(l, r)
    case NotE(x) => Seq(x)
    case ExistsPat(_, where) => where.toSeq
    case ListPred(_, _, src, where) => Seq(src, where)
    case _: RetVar | _: RetProp | _: RetLit | _: RetAgg => Nil
    case RetFn(_, args) => args
    case RetBin(_, l, r) => Seq(l, r)
    case RetCase(whens, default) =>
      whens.flatMap { case (c, v) => Seq(c, v) } ++ default
    case RetAggExpr(_, arg, _, _) => Seq(arg)
    case RetCountSub(_, where) => where.toSeq
    case RetExistsSub(sub) => Seq(sub)
    case RetPatternComp(_, where, proj) => where.toSeq :+ proj
    case RetListLit(items) => items
    case RetMapLit(pairs) => pairs.map(_._2)
    case RetListComp(_, src, where, proj) => src +: (where.toSeq ++ proj)
    case RetReduce(_, init, _, src, body) => Seq(init, src, body)
    case RetMapProj(_, _, _, overrides) => overrides.map(_._2)
    case RetTemporalCtor(_, pairs) => pairs.map(_._2)
    case RetIndex(src, idx) => Seq(src, idx)
    case RetSlice(src, lo, hi) => src +: (lo.toSeq ++ hi)
  }

  /** Pre-order, left-to-right: `pf`'s value for every node it is defined
    * at; a matching node stops the descent below it. */
  def collect[A](e: Expr)(pf: PartialFunction[Expr, A]): Seq[A] =
    pf.andThen(Seq(_)).applyOrElse(e, (x: Expr) => children(x).flatMap(collect(_)(pf)))

  /** [[collect]]'s short-circuiting test: true when `p` answers true at
    * some node it is defined at; a matching node stops the descent. */
  def exists(e: Expr)(p: PartialFunction[Expr, Boolean]): Boolean =
    p.applyOrElse(e, (x: Expr) => children(x).exists(exists(_)(p)))

  /** True when the expression tree contains an aggregate call — such an
    * item is an aggregation output, everything else is an implicit
    * grouping key. Lambda bodies (comprehension/reduce/list predicate)
    * cannot aggregate; their *source* lists can (`reduce(… IN collect(x)
    * | …)`). A subquery's expressions belong to the subquery's scope. */
  def containsAgg(e: Expr): Boolean = exists(e) {
    case _: RetAgg | _: RetAggExpr => true
    case RetListComp(_, src, _, _) => containsAgg(src)
    case RetReduce(_, init, _, src, _) => containsAgg(init) || containsAgg(src)
    case ListPred(_, _, src, _) => containsAgg(src)
    case _: RetCountSub | _: RetPatternComp | _: ExistsPat => false
  }

  final case class ReturnItem(expr: ReturnExpr, alias: Option[String]) {
    private def exprName(e: ReturnExpr): String = e match {
      case RetVar(v) => v
      case RetProp(PropRef(v, p)) => s"$v.$p"
      case RetFn(fn, as) => s"$fn(${as.map(exprName).mkString(", ")})"
      case RetLit(StrLit(s)) => s"'$s'"
      case RetLit(NumLit(d, isInt)) => if (isInt) d.toLong.toString else d.toString
      case RetLit(_) => "expr"
      case RetBin(op, l, r) => s"${exprName(l)} $op ${exprName(r)}"
      case _: RetCase => "case"
      case RetAgg(fn, None, _) => s"$fn(*)"
      case RetAgg(fn, Some(Left(v)), d) => s"$fn(${if (d) "DISTINCT " else ""}$v)"
      case RetAgg(fn, Some(Right(PropRef(v, p))), d) =>
        s"$fn(${if (d) "DISTINCT " else ""}$v.$p)"
      case RetAggExpr(fn, a, d, _) =>
        s"$fn(${if (d) "DISTINCT " else ""}${exprName(a)})"
      case _: RetCountSub => "count_sub"
      case _: RetExistsSub => "exists_sub"
      case _: RetPatternComp => "pattern_comp"
      case RetListLit(items) => s"[${items.map(exprName).mkString(", ")}]"
      case _: RetMapLit => "map"
      case _: RetListComp => "list_comp"
      case _: RetReduce => "reduce"
      case _: RetMapProj => "map_proj"
      case RetIndex(s, i) => s"${exprName(s)}[${exprName(i)}]"
      case _: RetSlice => "slice"
      case RetTemporalCtor(fn, _) => s"$fn({...})"
    }
    def name: String = alias.getOrElse(exprName(expr))
  }
  /** ORDER BY key: a bare alias, a property ref, or (when `expr` is set) a
    * full scalar expression (`ORDER BY count(*) DESC`, `ORDER BY
    * size(ws)`); expression keys matching a projected item sort its output
    * column, others are computed as hidden sort columns and dropped. */
  final case class OrderItem(key: Either[String, PropRef], ascending: Boolean,
    expr: Option[ReturnExpr] = None)

  sealed trait Statement

  /** One `WITH` horizon: projected/aggregated items, optional ORDER BY /
    * SKIP / LIMIT pagination of the projected rows (Cypher's pipeline
    * top-k), then an optional WHERE (Cypher's HAVING — applied after the
    * pagination, as Neo4j does). */
  final case class WithClause(items: Seq[ReturnItem], where: Option[BoolExpr],
    orderBy: Seq[OrderItem] = Nil, skip: Option[Int] = None,
    limit: Option[Int] = None, distinct: Boolean = false)

  /** `UNWIND <list> AS <alias>` — one output row per list element. The
    * source is a full scalar expression (list literal, `$param`, `range()`,
    * a comprehension, `split(…)` …). */
  final case class Unwind(expr: ReturnExpr, alias: String)

  /** `LOAD CSV [WITH HEADERS] FROM '<url>' AS row [FIELDTERMINATOR ';']` —
    * Neo4j's bulk-import clause. With headers the row binds as a STRUCT
    * (`row.col`); without, as a LIST (`row[0]`). All fields read as
    * strings, as in Neo4j — `toInteger()`/`toFloat()` convert. */
  final case class LoadCsv(url: String, withHeaders: Boolean,
    sep: String, alias: String)

  /** `CALL { [WITH v1, v2] <read pipeline> RETURN items }` — a scoped
    * subquery. With an importing WITH it executes logically per outer row
    * (compiled set-oriented: the inner pipeline runs once over the DISTINCT
    * imported bindings and joins back — including per-outer-row top-k via a
    * window when the inner has ORDER BY/LIMIT). Without imports it runs
    * once and its rows join each outer row (Neo4j's uncorrelated CALL).
    * `inner` is a [[MatchStatement]] or — uncorrelated only — a
    * [[UnionStatement]] (Neo4jVector's hybrid retrieval template is a
    * CALL{} around the UNION of the vector and fulltext arms). */
  final case class CallSub(imports: Seq[String], inner: Statement) {
    /** Column names the subquery binds into the outer pipeline. */
    def retNames: Seq[String] = inner match {
      case m: MatchStatement => m.ret.map(_.name)
      case u: UnionStatement => u.parts.head.ret.map(_.name)
      case other => throw new IllegalArgumentException(
        s"CALL {{ }} cannot contain ${other.getClass.getSimpleName}")
    }
  }

  /** A bound-variable positional argument to a procedure call — the node
    * slot of `db.create.setNodeVectorProperty(n, key, $vector)`. Resolved
    * against the pipeline's bindings at execution. NOT a [[Value]]: it
    * exists only inside ProcCall.args (Seq[Any]) and must never reach the
    * expression compilers. */
  final case class ProcVarArg(name: String)
  /** A row-bound property expression as a positional procedure argument —
    * the `row.embedding` slot of LangChain's BATCHED add_embeddings
    * statement (`UNWIND $data AS row … CALL db.create.
    * setNodeVectorProperty(c, 'embedding', row.embedding)`). Resolved per
    * driving row at execution, so the whole batch writes through ONE
    * set-oriented join instead of one statement per record (VERDICT r11
    * #1). Same containment rule as [[ProcVarArg]]: lives only inside
    * ProcCall.args. */
  final case class ProcPropArg(variable: String, prop: String)
  /** A map-literal positional argument — the `{id: row.id}` identity and
    * `{}` property slots of LangChain's add_graph_documents statements
    * (`CALL apoc.merge.node([row.type], {id: row.id}, row.properties,
    * {})`). Values are literals, $parameters, bound variables or
    * row-bound `var.prop` expressions. For a procedure whose
    * [[Procedure.takesConfig]] holds, a trailing all-literal map is the
    * CONFIG; everywhere else maps are ordinary positional arguments.
    * Same containment rule as [[ProcVarArg]]. */
  final case class ProcMapArg(entries: Seq[(String, Any)])

  /** `CALL db.labels() [YIELD col [AS alias], …]` — a built-in procedure
    * invocation (vs [[CallSub]]'s `CALL { }` subquery form). Each name is
    * a [[Procedures]] entry and yields that entry's fixed row schema
    * (validated at parse time). An empty `yields` binds every column
    * under its default name (Neo4j's bare-CALL rule for a standalone
    * call). */
  final case class ProcCall(name: String, yields: Seq[(String, String)],
      config: Map[String, Any] = Map.empty, args: Seq[Any] = Nil) {
    /** Column names this call binds into the pipeline. */
    def boundNames: Seq[String] =
      if (yields.nonEmpty) yields.map(_._2) else Procedures.bound(name).yields
    /** A PRESENT but mistyped key raises instead of silently using the
      * default (ADVICE r8 #5 — {topK: 1.5} used to fall through). */
    def confLong(key: String, default: Long): Long =
      config.collectFirst { case (k, v) if k.equalsIgnoreCase(key) => v } match {
        case None => default
        case Some(v: Long) => v
        // a $param-supplied value from a JVM-built params map is often Int
        case Some(v: Int) => v.toLong
        case Some(other) => throw new IllegalArgumentException(
          s"procedure config '$key' must be an integer, got $other")
      }
    /** Double-valued config; integer literals coerce (GDS accepts both). */
    def confDouble(key: String, default: Double): Double =
      config.collectFirst { case (k, v) if k.equalsIgnoreCase(key) => v } match {
        case None => default
        case Some(v: Double) => v
        case Some(v: Long) => v.toDouble
        case Some(other) => throw new IllegalArgumentException(
          s"procedure config '$key' must be a number, got $other")
      }
    /** String-valued config (writeProperty, sourceNode, …); a present but
      * mistyped key raises, same posture as [[confLong]]. */
    def confString(key: String): Option[String] =
      config.collectFirst { case (k, v) if k.equalsIgnoreCase(key) => v } match {
        case None => None
        case Some(s: String) => Some(s)
        case Some(other) => throw new IllegalArgumentException(
          s"procedure config '$key' must be a string, got $other")
      }
    def has(key: String): Boolean = config.keys.exists(_.equalsIgnoreCase(key))
  }

  /** How a procedure takes its arguments. The parser reads it to decide
    * whether a trailing all-literal map is the CONFIG; the session checks
    * it before the body runs. */
  object ProcArgs extends Enumeration {
    val NoArgs = Value // no positional argument, no config map
    // an optional projected-graph name, then an optional config map
    val GraphConfig = Value
    // positional arguments the body checks itself, then an optional config
    val PositionalConfig = Value
    // positional arguments the body checks itself; maps are ordinary ones
    val Positional = Value
  }

  /** One built-in procedure: the columns it yields (in order), the one-line
    * description SHOW PROCEDURES carries, whether it writes (the store or
    * a session catalog) and its argument shape. A WRITE call takes the
    * session write lock, and EXPLAIN/PROFILE reject it — the engine runs
    * procedure calls eagerly at compile time, so "compile without
    * executing" cannot hold for them. */
  final case class Procedure(yields: Seq[String], description: String,
      write: Boolean = false, args: ProcArgs.Value = ProcArgs.NoArgs) {
    def mode: String = if (write) "WRITE" else "READ"
    def takesConfig: Boolean =
      args == ProcArgs.GraphConfig || args == ProcArgs.PositionalConfig
  }

  /** Built-in procedure table: name → [[Procedure]]. SHOW PROCEDURES, the
    * EXPLAIN/PROFILE rejection, the write lock, the parser's config rule
    * and the session's argument check all read it; CypherSpec derives its
    * SHOW PROCEDURES expectations from it. */
  object Procedures {
    import ProcArgs._
    /** A gds algorithm's stream form. */
    private def gds(yields: String*)(description: String) =
      Procedure(yields, description, args = GraphConfig)
    /** A gds algorithm's write form: it yields the written-node count, the
      * `counters` (distinct written values) and the property name. */
    private def gdsWrite(counters: String*)(description: String) =
      Procedure(("nodePropertiesWritten" +: counters) :+ "writeProperty",
        description, write = true, args = GraphConfig)
    val all: Map[String, Procedure] = Map(
      "db.labels" -> Procedure(Seq("label"),
        "List all node labels in the store."),
      "db.relationshipTypes" -> Procedure(Seq("relationshipType"),
        "List all relationship types in the store."),
      "db.propertyKeys" -> Procedure(Seq("propertyKey"),
        "List all property keys in use."),
      "dbms.components" -> Procedure(Seq("name", "versions", "edition"),
        "List DBMS components and their versions."),
      // data-modeling introspection (flattened: nodes carry exactly one
      // label, properties are string-valued in the store)
      "db.schema.nodeTypeProperties" -> Procedure(
        Seq("nodeType", "nodeLabels", "propertyName", "propertyTypes",
          "mandatory"),
        "Node property schema: per-label property inventory with types and a data-derived mandatory flag."),
      "db.schema.relTypeProperties" -> Procedure(
        Seq("relType", "propertyName", "propertyTypes", "mandatory"),
        "Relationship property schema: per-type property inventory with types and a data-derived mandatory flag."),
      // APOC's schema census — the procedure LangChain's Neo4jGraph
      // refuses to initialize without (its refresh_schema derives the
      // whole prompt-visible schema from these rows; reference stack:
      // /root/reference/requirements.txt:3 langchain-neo4j). Three row
      // shapes, exactly the triples LangChain's three statements filter
      // on: node properties (elementType='node', type='STRING'),
      // relationship topology (elementType='node', type='RELATIONSHIP',
      // property=relType, other=[end labels]), and relationship
      // properties (elementType='relationship', type='STRING').
      "apoc.meta.data" -> Procedure(
        Seq("label", "property", "count", "type", "elementType", "other"),
        "APOC schema census: node properties, relationship topology (start label, type, end labels) and relationship properties."),
      // graph-catalog management (named projections — the first line of
      // every GDS tutorial: project once, stream many times)
      "gds.graph.project" -> Procedure(
        Seq("graphName", "nodeCount", "relationshipCount"),
        "Project a named label/relType-filtered snapshot of the store into the GDS graph catalog.",
        write = true, args = PositionalConfig),
      "gds.graph.list" -> Procedure(
        Seq("graphName", "nodeCount", "relationshipCount"),
        "List the named projections in the GDS graph catalog.",
        args = PositionalConfig),
      "gds.graph.drop" -> Procedure(Seq("graphName"),
        "Drop a named projection from the GDS graph catalog.",
        write = true, args = PositionalConfig),
      // graph-algorithm procedures (the GDS `.stream` surface): results
      // identify nodes by KEY (engine-independent), never internal ids
      "gds.pageRank.stream" -> gds("key", "score")(
        "PageRank (10 supersteps, 6-dp scores) streamed per node key."),
      "gds.wcc.stream" -> gds("key", "componentKey")(
        "Weakly connected components (min-member-key identity); {relationshipWeightProperty, threshold} filters edges."),
      "gds.scc.stream" -> gds("key", "componentKey")(
        "Strongly connected components over the directed edge set (min-member-key identity)."),
      "gds.degree.stream" -> gds("key", "degree")(
        "Undirected degree per node key."),
      "gds.nodeSimilarity.stream" -> gds("key1", "key2", "similarity")(
        "Jaccard similarity over out-neighbor sets; {topK, degreeCutoff, similarityCutoff} bound the pair stream."),
      "gds.labelPropagation.stream" -> gds("key", "communityKey")(
        "Deterministic synchronous label propagation (min-key ties); {maxIterations} bounds rounds."),
      "gds.fastRP.stream" -> gds("key", "e0", "e1", "e2", "e3")(
        "FastRP node embeddings (portable md5 init); {embeddingDimension} is mandatory."),
      "gds.hits.stream" -> gds("key", "authority", "hub")(
        "HITS authority/hub scores (exact-integer rounds); {hitsIterations} is mandatory."),
      // write-mode procedures: run the matching `.stream`, write its value
      // column back into the STORE by node, yield summary counters — the
      // other half of the GDS lifecycle (stream reads, write persists)
      "gds.degree.write" -> gdsWrite()(
        "Persist degree per node as {writeProperty}."),
      "gds.pageRank.write" -> gdsWrite()(
        "Persist PageRank scores as {writeProperty}."),
      "gds.wcc.write" -> gdsWrite("componentCount")(
        "Persist WCC component keys as {writeProperty}."),
      "gds.louvain.write" -> gdsWrite("communityCount")(
        "Persist Louvain community keys as {writeProperty}."),
      "gds.labelPropagation.write" -> gdsWrite("communityCount")(
        "Persist label-propagation community keys as {writeProperty}."),
      "gds.scc.write" -> gdsWrite("componentCount")(
        "Persist SCC component keys as {writeProperty}."),
      "gds.kcore.write" -> gdsWrite()(
        "Persist coreness values as {writeProperty}."),
      "gds.betweenness.write" -> gdsWrite()(
        "Persist (sampled-Brandes) betweenness scores as {writeProperty}."),
      // source→target form of the dijkstra surface (GDS's
      // gds.shortestPath.dijkstra): same engine, result filtered to the
      // one target row
      "gds.shortestPath.dijkstra.stream" ->
        gds("sourceKey", "targetKey", "totalCost")(
        "Shortest path cost from {sourceNode} to {targetNode} (non-negative integer weights)."),
      // single-source shortest paths, GDS's dijkstra surface: node identity
      // by key, integer weights from a relationship property
      "gds.allShortestPaths.dijkstra.stream" ->
        gds("sourceKey", "targetKey", "totalCost")(
        "Single-source shortest path costs from {sourceNode} (non-negative integer weights)."),
      // triangle census family (undirected simple view of the edge list)
      "gds.triangleCount.stream" -> gds("key", "triangleCount")(
        "Triangles per node over the undirected simple view."),
      "gds.localClusteringCoefficient.stream" ->
        gds("key", "localClusteringCoefficient")(
        "Local clustering coefficient per node over the undirected simple view."),
      // centrality family beyond pageRank/degree/hits: sampled Brandes
      // betweenness, closeness + its harmonic variant, and the full k-core
      // decomposition (coreness per node) — GDS's column names
      "gds.betweenness.stream" -> gds("key", "score")(
        "Brandes betweenness; {samplingSize} picks deterministic sources and rescales by |V|/K."),
      "gds.closeness.stream" -> gds("key", "score")(
        "Closeness centrality (reachable-set form, defined on disconnected graphs)."),
      "gds.closeness.harmonic.stream" -> gds("key", "centrality")(
        "Harmonic closeness centrality."),
      "gds.kcore.stream" -> gds("key", "coreValue")(
        "Full k-core decomposition (coreness per node)."),
      // modularity-optimizing community detection (deterministic
      // single-level synchronous local moving; see louvainLocalMoving)
      "gds.louvain.stream" -> gds("key", "communityKey")(
        "Deterministic single-level Louvain local moving; {maxIterations} bounds rounds."),
      // index query procedures (the GraphRAG statements — LangChain's
      // Neo4jVector issues vector.queryNodes, its hybrid mode adds
      // fulltext.queryNodes): `node` is the whole node as a property map
      // (key folded in), `score` the similarity/relevance
      "db.index.vector.queryNodes" -> Procedure(Seq("node", "score"),
        "Query a vector index: top-k nodes by cosine similarity to the query embedding (sign-LSH candidates, exact re-scoring).",
        args = PositionalConfig),
      "db.index.fulltext.queryNodes" -> Procedure(Seq("node", "score"),
        "Query a fulltext index: nodes matching the query (terms, AND/OR/NOT, parentheses, quoted phrases) with a deterministic BM25-family score.",
        args = PositionalConfig),
      // the RELATIONSHIP-index twins (Neo4j 5 indexes relationship
      // properties too): `relationship` is the edge's property bag
      "db.index.vector.queryRelationships" -> Procedure(
        Seq("relationship", "score"),
        "Query a relationship vector index: top-k relationships by similarity to the query embedding.",
        args = PositionalConfig),
      "db.index.fulltext.queryRelationships" -> Procedure(
        Seq("relationship", "score"),
        "Query a relationship fulltext index: relationships matching the query with a deterministic BM25-family score.",
        args = PositionalConfig),
      // APOC's data-driven merges — the procedures LangChain's
      // Neo4jGraph.add_graph_documents issues to import LLM-extracted
      // knowledge graphs (labels and relationship types arrive WITH the
      // data): set-oriented over the whole driving batch, never per row
      "apoc.merge.node" -> Procedure(Seq("node"),
        "MERGE a node with data-driven label, identity and properties (one set-oriented merge per statement over the driving batch).",
        write = true, args = Positional),
      "apoc.merge.relationship" -> Procedure(Seq("rel"),
        "MERGE a relationship between two bound nodes with a data-driven type and properties (set-oriented over the driving batch).",
        write = true, args = Positional),
      // the PROCEDURE form of vector-index creation (pre-5.15 Neo4j — the
      // statement LangChain/Neo4jVector issued for years and still emits
      // on installed versions). Pure alias onto the CREATE VECTOR INDEX
      // machinery: same validation, same SHOW INDEXES row. Neo4j's form
      // returns void; this engine yields the DDL's (name, added) row —
      // an additive divergence a void-expecting caller ignores.
      "db.index.vector.createNodeIndex" -> Procedure(Seq("name", "added"),
        "Create a vector index (procedure form of CREATE VECTOR INDEX; the pre-5.15 statement LangChain issues).",
        write = true, args = PositionalConfig),
      // the embedding SETTER LangChain's Neo4jVector.add_embeddings
      // issues (Neo4j 5.13+). Neo4j's form returns void; this engine
      // yields the write counter, the gds.*.write convention — an
      // additive divergence a void-expecting caller simply ignores
      "db.create.setNodeVectorProperty" -> Procedure(
        Seq("nodePropertiesWritten"),
        "Set a vector-valued property on the bound nodes (one set-oriented join; the embedding setter LangChain issues).",
        write = true, args = Positional))

    /** Pseudo-procedures the PARSER binds into a pipeline but which are
      * not user-callable names (no SHOW PROCEDURES row, CALL rejects
      * them): `SHOW INDEXES YIELD …` compiles to a first-stage binding of
      * `internal.show.indexes` — Neo4j 5's FULL SHOW INDEXES column set
      * (list-typed labelsOrTypes / properties and the options map), the
      * shape Neo4jVector's retrieve_existing_index statement filters on;
      * the bare `SHOW INDEXES` keeps its stable flat columns (c63's hashed
      * subset). `SHOW PROCEDURES YIELD …` binds `internal.show.procedures`,
      * the bare statement's rows (Neo4j Browser issues the YIELD form on
      * connect). */
    val internal: Map[String, Procedure] = Map(
      "internal.show.indexes" -> Procedure(Seq("name", "state",
        "populationPercent", "type", "entityType", "labelsOrTypes",
        "properties", "indexProvider", "owningConstraint", "options"), ""),
      "internal.show.procedures" -> Procedure(
        Seq("name", "signature", "mode", "description"), ""))

    /** A user-callable procedure: the name a CALL may use. */
    def apply(name: String): Procedure =
      all.getOrElse(name, throw new IllegalArgumentException(
        s"unknown procedure '$name' — supported: ${all.keys.toSeq.sorted.mkString(", ")}"))

    /** Any procedure a parsed pipeline binds: a callable one or one of the
      * parser's [[internal]] pseudo-procedures. */
    def bound(name: String): Procedure = internal.getOrElse(name, apply(name))
  }

  /** The scalar/temporal/aggregate FUNCTION surface the expression compiler
    * lowers — the registry behind `SHOW FUNCTIONS` (Browser issues it on
    * connect alongside SHOW PROCEDURES). One row per name: (category,
    * signature, description). CypherSpec derives its expectations from
    * this map AND evaluates a sample invocation per scalar entry, so a
    * registry row without compiler support fails loudly. */
  object Functions {
    val all: Seq[(String, String, String, String)] = Seq(
      // (name, category, signature, description)
      ("toLower", "String", "toLower(input :: STRING) :: STRING", "Lowercase a string."),
      ("toUpper", "String", "toUpper(input :: STRING) :: STRING", "Uppercase a string."),
      ("trim", "String", "trim(input :: STRING) :: STRING", "Strip leading/trailing whitespace."),
      ("substring", "String", "substring(original :: STRING, start :: INTEGER [, length :: INTEGER]) :: STRING", "Substring from 0-based start."),
      ("split", "String", "split(original :: STRING, delimiter :: STRING) :: LIST<STRING>", "Split a string around a delimiter."),
      ("replace", "String", "replace(original :: STRING, search :: STRING, replace :: STRING) :: STRING", "Replace every occurrence of a substring."),
      ("left", "String", "left(original :: STRING, n :: INTEGER) :: STRING", "Leftmost n characters."),
      ("right", "String", "right(original :: STRING, n :: INTEGER) :: STRING", "Rightmost n characters."),
      ("reverse", "String", "reverse(input :: STRING|LIST) :: STRING|LIST", "Reverse a string or list."),
      ("toString", "Scalar", "toString(input :: ANY) :: STRING", "Render a value as a string."),
      ("toInteger", "Scalar", "toInteger(input :: ANY) :: INTEGER", "Convert to an integer."),
      ("toFloat", "Scalar", "toFloat(input :: ANY) :: FLOAT", "Convert to a float."),
      ("toBoolean", "Scalar", "toBoolean(input :: ANY) :: BOOLEAN", "Convert to a boolean."),
      ("coalesce", "Scalar", "coalesce(input :: ANY*) :: ANY", "First non-null argument."),
      ("size", "Scalar", "size(input :: STRING|LIST) :: INTEGER", "Length of a string or list."),
      ("length", "Scalar", "length(path :: PATH|STRING) :: INTEGER", "Path length (relationship count) or string length."),
      ("id", "Scalar", "id(entity :: NODE|RELATIONSHIP) :: INTEGER", "Internal id of a bound entity."),
      ("elementId", "Scalar", "elementId(entity :: NODE|RELATIONSHIP) :: STRING", "Element id of a bound entity."),
      ("labels", "Scalar", "labels(node :: NODE) :: LIST<STRING>", "Labels of a node (this store: exactly one)."),
      ("type", "Scalar", "type(relationship :: RELATIONSHIP) :: STRING", "Type of a relationship."),
      ("properties", "Scalar", "properties(entity :: NODE|RELATIONSHIP) :: MAP", "Property map of a bound entity."),
      ("keys", "Scalar", "keys(entity :: NODE|RELATIONSHIP|MAP) :: LIST<STRING>", "Property keys of an entity or map."),
      ("head", "Scalar", "head(list :: LIST) :: ANY", "First element of a list."),
      ("last", "Scalar", "last(list :: LIST) :: ANY", "Last element of a list."),
      ("tail", "Scalar", "tail(list :: LIST) :: LIST", "All but the first element."),
      ("isEmpty", "Scalar", "isEmpty(input :: STRING|LIST|MAP) :: BOOLEAN", "True when the value has no elements."),
      ("range", "List", "range(start :: INTEGER, end :: INTEGER [, step :: INTEGER]) :: LIST<INTEGER>", "Inclusive integer range."),
      ("nodes", "List", "nodes(path :: PATH) :: LIST<NODE>", "Nodes of a path."),
      ("relationships", "List", "relationships(path :: PATH) :: LIST<RELATIONSHIP>", "Relationships of a path."),
      ("abs", "Numeric", "abs(input :: NUMBER) :: NUMBER", "Absolute value."),
      ("round", "Numeric", "round(input :: FLOAT [, precision :: INTEGER]) :: FLOAT", "Round half away from zero."),
      ("sqrt", "Numeric", "sqrt(input :: FLOAT) :: FLOAT", "Square root."),
      ("sign", "Numeric", "sign(input :: NUMBER) :: INTEGER", "Signum."),
      ("ceil", "Numeric", "ceil(input :: FLOAT) :: FLOAT", "Smallest integer >= input."),
      ("floor", "Numeric", "floor(input :: FLOAT) :: FLOAT", "Largest integer <= input."),
      ("exp", "Numeric", "exp(input :: FLOAT) :: FLOAT", "e^input."),
      ("log", "Numeric", "log(input :: FLOAT) :: FLOAT", "Natural logarithm."),
      ("log10", "Numeric", "log10(input :: FLOAT) :: FLOAT", "Base-10 logarithm."),
      ("datetime", "Temporal", "datetime([input :: STRING|MAP]) :: DATETIME", "Parse/construct a datetime (no argument: transaction clock)."),
      ("date", "Temporal", "date(input :: STRING|DATETIME) :: DATE", "Parse or truncate to a date."),
      ("datetime.truncate", "Temporal", "datetime.truncate(unit :: STRING, input :: DATETIME) :: DATETIME", "Truncate a datetime to a unit boundary."),
      ("date.truncate", "Temporal", "date.truncate(unit :: STRING, input :: DATETIME) :: DATE", "Truncate to a date unit boundary."),
      ("duration", "Temporal", "duration(map :: MAP) :: DURATION", "Construct a duration from components."),
      ("duration.between", "Temporal", "duration.between(from :: DATETIME, to :: DATETIME) :: DURATION", "Duration between two instants."),
      ("vector.similarity.cosine", "Vector", "vector.similarity.cosine(a :: LIST<FLOAT>, b :: LIST<FLOAT>) :: FLOAT", "Cosine similarity normalized to [0,1] — (1+cos)/2, the vector index's score; accepts list values and the store's rendered embedding strings."),
      ("vector.similarity.euclidean", "Vector", "vector.similarity.euclidean(a :: LIST<FLOAT>, b :: LIST<FLOAT>) :: FLOAT", "Euclidean similarity 1/(1+squaredDistance), the vector index's euclidean score."),
      ("point", "Spatial", "point(map :: MAP) :: POINT", "Construct a cartesian or geographic point."),
      ("point.distance", "Spatial", "point.distance(a :: POINT, b :: POINT) :: FLOAT", "Distance between two points (haversine for geographic)."),
      ("any", "Predicate", "any(variable IN list WHERE predicate) :: BOOLEAN", "True if any element satisfies the predicate."),
      ("all", "Predicate", "all(variable IN list WHERE predicate) :: BOOLEAN", "True if every element satisfies the predicate."),
      ("none", "Predicate", "none(variable IN list WHERE predicate) :: BOOLEAN", "True if no element satisfies the predicate."),
      ("single", "Predicate", "single(variable IN list WHERE predicate) :: BOOLEAN", "True if exactly one element satisfies the predicate."),
      ("count", "Aggregating", "count(input :: ANY | *) :: INTEGER", "Row/value count (DISTINCT supported)."),
      ("sum", "Aggregating", "sum(input :: NUMBER) :: NUMBER", "Sum over a group."),
      ("avg", "Aggregating", "avg(input :: NUMBER) :: FLOAT", "Average over a group."),
      ("min", "Aggregating", "min(input :: ANY) :: ANY", "Minimum over a group."),
      ("max", "Aggregating", "max(input :: ANY) :: ANY", "Maximum over a group."),
      ("stDev", "Aggregating", "stDev(input :: NUMBER) :: FLOAT", "Sample standard deviation."),
      ("stDevP", "Aggregating", "stDevP(input :: NUMBER) :: FLOAT", "Population standard deviation."),
      ("percentileCont", "Aggregating", "percentileCont(input :: NUMBER, percentile :: FLOAT) :: FLOAT", "Interpolated percentile."),
      ("percentileDisc", "Aggregating", "percentileDisc(input :: NUMBER, percentile :: FLOAT) :: NUMBER", "Nearest-value percentile."),
      ("collect", "Aggregating", "collect(input :: ANY) :: LIST", "Collect group values into a list (DISTINCT supported)."))
  }

  /** One pipeline stage: `UNWIND`s, `CALL { }` subqueries, `MATCH`es
    * (+ OPTIONAL MATCHes), an optional WHERE, and an optional WITH
    * hand-off to the next stage. */
  final case class MatchStage(paths: Seq[PathPat], optPaths: Seq[PathPat],
    where: Option[BoolExpr], withClause: Option[WithClause],
    unwinds: Seq[Unwind] = Nil, calls: Seq[CallSub] = Nil,
    loads: Seq[LoadCsv] = Nil, procs: Seq[ProcCall] = Nil)

  final case class MatchStatement(stages: Seq[MatchStage],
    ret: Seq[ReturnItem], orderBy: Seq[OrderItem], limit: Option[Int],
    distinct: Boolean = false, skip: Option[Int] = None) extends Statement

  /** An ORDER BY key as an expression: a property key reads as `v.p`; a
    * bare alias names a projected column and is no expression. */
  def orderExpr(o: OrderItem): Option[ReturnExpr] =
    o.expr.orElse(o.key.toOption.map(RetProp))

  /** The expression positions of one stage, in compile order: WHERE, the
    * WITH items, the WITH WHERE, the WITH ORDER BY keys, then the UNWIND
    * sources. A WITH item passing a binding through under its own name
    * (`WITH a`) reads nothing and is left out. */
  def stageExprs(st: MatchStage): Seq[Expr] =
    st.where.toSeq ++ st.withClause.toSeq.flatMap { w =>
      w.items.filter {
        case ReturnItem(RetVar(v), alias) => !alias.forall(_ == v)
        case _ => true
      }.map(_.expr) ++ w.where ++ w.orderBy.flatMap(orderExpr)
    } ++ st.unwinds.map(_.expr)

  /** A statement's own expression positions after its stages': the
    * RETURN items, then the ORDER BY keys (the expression keys among them
    * compile as hidden RETURN items). */
  def returnExprs(m: MatchStatement): Seq[Expr] =
    m.ret.map(_.expr) ++ m.orderBy.flatMap(orderExpr)

  /** Every expression position of a statement (not its CALL subqueries). */
  def statementExprs(m: MatchStatement): Seq[Expr] =
    m.stages.flatMap(stageExprs) ++ returnExprs(m)

  /** `<query> UNION [ALL] <query> …` — parts must project the same column
    * names (Neo4j's rule). A trailing ORDER BY / SKIP / LIMIT parsed with
    * the last part applies to the combined result. */
  final case class UnionStatement(parts: Seq[MatchStatement],
    all: Boolean) extends Statement

  /** MATCH-driven write: `MATCH … SET/REMOVE …` property rewrites,
    * `MATCH … [DETACH] DELETE var` removals, `MATCH … MERGE (a)-[:T]->(b)`
    * relationship upserts and `MATCH … CREATE (a)-[:T]->(b)` append-only
    * relationship creation between bound endpoints — all applied to the
    * pre-statement graph state. SET values are full scalar EXPRESSIONS
    * over the bound pattern (`SET n.views = toInteger(n.views) + 1`),
    * computed per matched row by the same compiler as RETURN items. */
  final case class UpdateStatement(stages: Seq[MatchStage],
    sets: Seq[(PropRef, ReturnExpr)], removes: Seq[PropRef],
    deletes: Seq[String], detach: Boolean,
    merges: Seq[PathPat] = Nil, creates: Seq[PathPat] = Nil,
    /** variables from `SET n = {map}` — the replace form clears the
      * property bag before the map's entries (desugared into [[sets]])
      * apply; `SET n += {map}` desugars to sets alone. */
    replaceVars: Seq[String] = Nil) extends Statement

  sealed trait MutClause
  /** Node MERGE with optional path-dependent SET handlers
    * (`ON CREATE SET …` / `ON MATCH SET …`). */
  final case class MergeNode(pat: NodePat,
    onCreate: Seq[(PropRef, Value)] = Nil,
    onMatch: Seq[(PropRef, Value)] = Nil) extends MutClause
  final case class MergeEdge(srcVar: String, relType: String, dstVar: String,
    props: Map[String, Value] = Map.empty) extends MutClause
  /** Plain `CREATE (n:L {…})` — append-only: always creates a new node,
    * even when an identical (label,key) exists (run twice ⇒ two nodes,
    * unlike MERGE). */
  final case class CreateNode(pat: NodePat) extends MutClause
  /** `CREATE (a)-[:T]->(b)` between variables bound by MERGE/CREATE
    * clauses of the same statement — appends without a match probe. */
  final case class CreateEdge(srcVar: String, relType: String, dstVar: String,
    props: Map[String, Value] = Map.empty) extends MutClause
  final case class SetItems(items: Seq[(PropRef, Value)]) extends MutClause
  final case class WithVars(vars: Seq[String]) extends MutClause
  final case class ReturnVars(items: Seq[ReturnItem]) extends MutClause
  /** A procedure call inside a write statement — the
    * `CALL db.create.setNodeVectorProperty(c, 'embedding', row.embedding)`
    * clause of LangChain's batched add_embeddings import loop (it appears
    * between MERGE and SET inside `UNWIND $data AS row …` /
    * `CALL { } IN TRANSACTIONS`). Execution is SET-ORIENTED over the whole
    * driving batch: one property-write join + one store pin + one
    * vector-index delta patch per statement, not per row. */
  final case class CallProcClause(proc: ProcCall) extends MutClause

  /** `loads` carries a leading `LOAD CSV … AS row` prefix and `unwinds` a
    * leading `UNWIND $batch AS row` prefix (Neo4j's two import loops): the
    * mutation executes set-oriented over the prefix rows as its parameter
    * batch, `row.field` references resolving per row. */
  final case class MutateStatement(clauses: Seq[MutClause],
    loads: Seq[LoadCsv] = Nil, unwinds: Seq[Unwind] = Nil) extends Statement

  /** `LOAD CSV … / UNWIND $batch AS row CALL { WITH row <write> } IN
    * TRANSACTIONS [OF n ROWS]` — Neo4j's bulk-import idiom: the driving
    * rows split into `batchRows`-sized batches and the inner write applies
    * per batch, in order (write counters accumulate per batch — a key
    * re-MERGEd in a LATER batch counts matched, where a single-batch
    * set-oriented MERGE would have deduped it). */
  final case class CallInTransactions(loads: Seq[LoadCsv],
    unwinds: Seq[Unwind], imports: Seq[String], inner: MutateStatement,
    batchRows: Long) extends Statement

  /** Schema DDL — the uniqueness-constraint surface every Neo4j import
    * script opens with (`CREATE CONSTRAINT … FOR (n:L) REQUIRE n.p IS
    * UNIQUE`). Single-label store model: a constraint on the label's KEY
    * property is satisfied by construction (MERGE identity); on any other
    * property the live data is VALIDATED at creation. Either way the
    * constraint is ENFORCED against later `CREATE` statements, which are
    * the only write path that can mint duplicates. */
  final case class CreateConstraint(name: Option[String],
    ifNotExists: Boolean, varName: String, label: String,
    prop: String) extends Statement
  final case class DropConstraint(name: String,
    ifExists: Boolean) extends Statement
  case object ShowConstraints extends Statement
  /** `SHOW INDEXES` — the node-label LOOKUP row (whose role the store's
    * label partitioning plays) plus one RANGE backing-index row per
    * uniqueness constraint, as Neo4j lists them. */
  case object ShowIndexes extends Statement

  /** `SHOW DATABASES` — the single-database engine lists its one store
    * plus the nominal `system` database, the first query Neo4j Browser
    * and ops tooling issue on connect. */
  case object ShowDatabases extends Statement
  /** `SHOW PROCEDURES` / `SHOW FUNCTIONS` — projections of the
    * [[Procedures]] / [[Functions]] registries (Browser and cypher-shell
    * issue both on connect). */
  case object ShowProcedures extends Statement
  case object ShowFunctions extends Statement

  /** `CREATE VECTOR INDEX [name] [IF NOT EXISTS] FOR (v:Label) ON v.prop
    * OPTIONS {indexConfig: {`vector.dimensions`: n,
    * `vector.similarity_function`: 'cosine'}}` — the Neo4j 5 vector index
    * DDL (the statement LangChain's Neo4jVector issues on first use). */
  final case class CreateVectorIndex(name: Option[String], ifNotExists: Boolean,
    label: String, prop: String, dimensions: Int,
    similarityFunction: String, isRel: Boolean = false) extends Statement
  /** `CREATE FULLTEXT INDEX [name] [IF NOT EXISTS] FOR (n:Label) ON EACH
    * [n.p1, n.p2]` — the hybrid-search sibling of the vector index. Both
    * index DDLs also take the RELATIONSHIP pattern `FOR ()-[r:TYPE]-()`
    * (isRel=true; `label` then holds the relationship type) — Neo4j 5
    * supports relationship-property indexes of both kinds, served by
    * db.index.*.queryRelationships. */
  final case class CreateFulltextIndex(name: Option[String],
    ifNotExists: Boolean, label: String, props: Seq[String],
    isRel: Boolean = false) extends Statement
  /** Plain `CREATE [RANGE] INDEX [name] [IF NOT EXISTS] FOR (n:L) ON
    * (n.p)` — Neo4j's range index DDL, the statement every data-loading
    * tutorial (and LangChain's Neo4jGraph schema setup) opens with. In
    * this engine it is an ADVISORY catalog row: the store's label
    * partitioning + merge-key identity already play the physical role
    * (label scans partition-prune to their label's files; key lookups ARE
    * the MERGE identity), so creation validates + registers, SHOW INDEXES
    * lists a RANGE row, DROP INDEX removes it — and a tutorial script
    * runs unmodified instead of failing at its first statement. */
  final case class CreateRangeIndex(name: Option[String],
    ifNotExists: Boolean, label: String, prop: String) extends Statement
  /** `DROP INDEX name [IF EXISTS]` — drops a range, vector or fulltext
    * index. */
  final case class DropIndexStmt(name: String, ifExists: Boolean) extends Statement
  case object ShowVectorIndexes extends Statement
  case object ShowFulltextIndexes extends Statement
}
