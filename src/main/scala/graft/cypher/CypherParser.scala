package graft.cypher

import CypherAst._
import scala.collection.mutable.ArrayBuffer

/** Hand-rolled tokenizer + recursive-descent parser for the reference's
  * Cypher subset (/root/reference/src/crwling.py:47-56,
  * /root/reference/src/ingest.py:4-8, /root/reference/main.py:17,
  * /root/reference/cypher.txt:4-8). Front-end only: execution lowers to
  * DataFrame plans in [[CypherSession]].
  */
object CypherParser {

  private val keywords = Set("MATCH", "MERGE", "WHERE", "RETURN", "ORDER", "BY",
    "LIMIT", "SET", "WITH", "AS", "AND", "OR", "NOT", "ASC", "DESC", "CONTAINS",
    "OPTIONAL", "DISTINCT", "ON", "CREATE", "UNWIND", "SKIP", "DELETE",
    "DETACH", "REMOVE", "IS", "NULL", "STARTS", "ENDS", "CASE", "WHEN",
    "THEN", "ELSE", "END", "IN", "UNION", "ALL", "EXISTS", "CALL", "FOREACH")

  private val aggFns = Set("count", "sum", "avg", "min", "max", "collect",
    "stdev", "stdevp", "percentilecont", "percentiledisc")
  private val scalarFns = Set("tolower", "toupper", "trim", "size", "coalesce",
    "tointeger", "tofloat", "abs", "round", "length", "id", "elementid",
    "labels", "type",
    "substring", "split", "replace", "left", "right", "tostring",
    "relationships", "nodes", "properties", "keys", "range", "head", "last",
    "sqrt", "sign", "ceil", "floor", "exp", "log", "log10", "toboolean",
    "isempty", "reverse", "tail") // pi()/e() are zero-arg FnCall leaves

  /** the four list quantifiers (`all` lexes as the UNION ALL keyword). */
  private val listPredFns = Set("any", "none", "single")

  sealed trait Tok
  final case class Kw(s: String) extends Tok
  final case class Ident(s: String) extends Tok
  final case class ParamTok(s: String) extends Tok
  final case class Str(s: String) extends Tok
  final case class Num(s: String) extends Tok
  final case class Sym(s: String) extends Tok

  private def takeIdent(q: String, start: Int): Int = {
    var j = start
    while (j < q.length && (q(j).isLetterOrDigit || q(j) == '_')) j += 1
    j
  }

  def tokenize(q: String): Vector[Tok] = {
    val out = ArrayBuffer.empty[Tok]
    var i = 0
    val n = q.length
    def peek(k: Int) = if (i + k < n) q(i + k) else '\u0000'
    while (i < n) {
      val c = q(i)
      if (c.isWhitespace) i += 1
      else if (c == '$') {
        val j = takeIdent(q, i + 1)
        out += ParamTok(q.substring(i + 1, j)); i = j
      } else if (c.isLetter || c == '_') {
        val j = takeIdent(q, i)
        val s = q.substring(i, j)
        if (keywords.contains(s.toUpperCase)) out += Kw(s.toUpperCase) else out += Ident(s)
        i = j
      } else if (c == '`') { // backtick-quoted identifier (`vector.dimensions`)
        val sb = new StringBuilder; i += 1
        while (i < n && q(i) != '`') { sb += q(i); i += 1 }
        // ADVICE r11 #4: a missing closing backtick used to swallow the
        // rest of the query silently and die with a confusing downstream
        // parse error — fail typed, mirroring the string-literal path
        if (i >= n) throw new IllegalArgumentException(
          s"unterminated backtick-quoted identifier starting at `${sb.toString.take(40)}")
        i += 1 // closing backtick
        out += Ident(sb.toString)
      } else if (c == '\'' || c == '"') { // Cypher strings: either quote char
        val quote = c
        val sb = new StringBuilder; i += 1
        while (i < n && q(i) != quote) {
          if (q(i) == '\\' && i + 1 < n) {
            // Cypher escape sequences (Neo4jVector's from_existing_graph
            // template concatenates '\n' literals); unknown escapes keep
            // the escaped character (covers \\ \' \" \`)
            sb += (q(i + 1) match {
              case 'n' => '\n'; case 't' => '\t'; case 'r' => '\r'
              case 'b' => '\b'; case 'f' => '\f'; case other => other
            })
            i += 2
          } else { sb += q(i); i += 1 }
        }
        i += 1 // closing quote
        out += Str(sb.toString)
      } else if (c.isDigit) {
        // a '.' joins the number only when followed by a digit — so the
        // range symbol in `*1..3` lexes as two Sym(".") tokens, not "1..3"
        var j = i
        while (j < n && (q(j).isDigit ||
          (q(j) == '.' && j + 1 < n && q(j + 1).isDigit && q(j + 1) != '.'))) j += 1
        // exponent suffix: 1e3 / 2.5E-7 is ONE numeral (ADVICE r8 #5 — it
        // used to lex as Num("1") + Ident("e3") and die downstream); the
        // 'e' joins only when a (signed) digit follows, so identifiers
        // like `e3` elsewhere are untouched
        if (j < n && (q(j) == 'e' || q(j) == 'E')) {
          val k = if (j + 1 < n && (q(j + 1) == '+' || q(j + 1) == '-')) j + 2 else j + 1
          if (k < n && q(k).isDigit) {
            j = k
            while (j < n && q(j).isDigit) j += 1
          }
        }
        out += Num(q.substring(i, j)); i = j
      } else if (c == '<' && peek(1) == '-') { out += Sym("<-"); i += 2 }
      else if (c == '-' && peek(1) == '>') { out += Sym("->"); i += 2 }
      else if (c == '<' && peek(1) == '>') { out += Sym("<>"); i += 2 }
      else if (c == '<' && peek(1) == '=') { out += Sym("<="); i += 2 }
      else if (c == '>' && peek(1) == '=') { out += Sym(">="); i += 2 }
      else if (c == '=' && peek(1) == '~') { out += Sym("=~"); i += 2 }
      else { out += Sym(c.toString); i += 1 }
    }
    out.toVector
  }

  def parse(q: String): Statement = {
    val p = new P(tokenize(q))
    val s = p.statement()
    // trailing tokens are an ERROR, not ignorable: silently dropping
    // `RETURN e.ts.fortnight AS x`'s tail would return e.ts under the
    // wrong name — the same silent-wrong-results class as ADVICE r9's
    // exponent finding
    p.expectEof()
    s
  }

  private final class P(ts: Vector[Tok]) {
    private var pos = 0
    private[CypherParser] def expectEof(): Unit =
      if (pos < ts.length)
        fail(s"unexpected trailing input after a complete statement, " +
          s"starting at ${ts(pos)}")
    private def peek: Option[Tok] = if (pos < ts.length) Some(ts(pos)) else None
    private def next(): Tok = { val t = ts(pos); pos += 1; t }
    private def expectSym(s: String): Unit = next() match {
      case Sym(`s`) =>
      case t => fail(s"expected '$s', got $t")
    }
    private def expectKw(s: String): Unit = next() match {
      case Kw(`s`) =>
      case t => fail(s"expected $s, got $t")
    }
    private def ident(): String = next() match {
      case Ident(s) => s
      case t => fail(s"expected identifier, got $t")
    }
    private def fail(msg: String): Nothing =
      throw new IllegalArgumentException(s"cypher parse error at token $pos: $msg")

    /** Inline node-pattern predicates `(n:L WHERE <pred>)` (modern Cypher)
      * are collected here during path() parsing and DESUGARED: the
      * enclosing filter-bearing context (MATCH stage, EXISTS/COUNT
      * subquery, bare pattern predicate) drains its slice and ANDs it
      * into its own WHERE. Write-clause patterns reject them. */
    private val nodeWheres = ArrayBuffer.empty[BoolExpr]
    /** Pseudo-procedure(s) a SHOW … YIELD statement seeds into the next
      * pipeline's first stage (consumed by matchStatement). */
    private var pendingProcs: Seq[ProcCall] = Nil
    private def drainNodeWheres(base: Int): Option[BoolExpr] = {
      val drained = nodeWheres.drop(base).toSeq
      nodeWheres.dropRightInPlace(nodeWheres.length - base)
      drained.reduceOption(AndE.apply)
    }
    private def andOpt(a: Option[BoolExpr], b: Option[BoolExpr]): Option[BoolExpr] =
      (a, b) match {
        case (Some(x), Some(y)) => Some(AndE(x, y))
        case _ => a.orElse(b)
      }

    def statement(): Statement = peek match {
      case Some(Kw("UNWIND")) =>
        // `UNWIND $batch AS row MERGE/CREATE …` is the parameter-batch
        // import loop — a set-oriented mutation over the list elements;
        // any other continuation is an ordinary read pipeline.
        val save = pos
        val unwinds = ArrayBuffer.empty[Unwind]
        while (peek.contains(Kw("UNWIND"))) {
          next()
          val e = addExpr()
          expectKw("AS")
          unwinds += Unwind(e, ident())
        }
        peek match {
          case Some(Kw("MERGE")) | Some(Kw("CREATE")) =>
            mutateStatement().copy(unwinds = unwinds.toSeq)
          case _ =>
            pos = save
            statementFromPipeline()
        }
      // a bare `RETURN <expr>` query (Neo4j's calculator form)
      case Some(Kw("MATCH")) | Some(Kw("OPTIONAL")) |
           Some(Kw("RETURN")) | Some(Kw("CALL")) => statementFromPipeline()
      case Some(Ident(i)) if i.equalsIgnoreCase("load") =>
        // `LOAD CSV … MERGE/CREATE …` is Neo4j's import loop — a mutation
        // executed set-oriented over the csv rows; anything else after the
        // LOAD prefix is an ordinary read pipeline (backtrack and re-parse
        // with the loads as stage clauses).
        val save = pos
        val loads = parseLoads()
        peek match {
          case Some(Kw("MERGE")) | Some(Kw("CREATE")) =>
            mutateStatement().copy(loads = loads)
          case _ =>
            pos = save
            statementFromPipeline()
        }
      case Some(Kw("CREATE")) =>
        // `CREATE CONSTRAINT …` is schema DDL, not a node pattern
        val save = pos
        next()
        peek match {
          case Some(Ident(c)) if c.equalsIgnoreCase("constraint") =>
            next(); createConstraintStatement()
          case Some(Ident(c)) if c.equalsIgnoreCase("vector") =>
            next(); expectSoft("index"); createVectorIndexStatement()
          case Some(Ident(c)) if c.equalsIgnoreCase("fulltext") =>
            next(); expectSoft("index"); createFulltextIndexStatement()
          case Some(Ident(c)) if c.equalsIgnoreCase("range") =>
            next(); expectSoft("index"); createRangeIndexStatement()
          case Some(Ident(c)) if c.equalsIgnoreCase("index") =>
            next(); createRangeIndexStatement()
          case _ => pos = save; mutateStatement()
        }
      case Some(Kw("MERGE")) => mutateStatement()
      case Some(Ident(s)) if s.equalsIgnoreCase("show") =>
        next()
        peek match {
          case Some(Ident(c)) if c.equalsIgnoreCase("constraints") =>
            next(); ShowConstraints
          case Some(Ident(c)) if c.equalsIgnoreCase("indexes") =>
            next()
            if (peekSoft("YIELD")) showYield("INDEXES", "internal.show.indexes")
            else ShowIndexes
          case Some(Ident(c)) if c.equalsIgnoreCase("databases") =>
            next(); ShowDatabases
          case Some(Ident(c)) if c.equalsIgnoreCase("procedures") =>
            next()
            if (peekSoft("YIELD"))
              showYield("PROCEDURES", "internal.show.procedures")
            else ShowProcedures
          case Some(Ident(c)) if c.equalsIgnoreCase("functions") =>
            next(); ShowFunctions
          case Some(Ident(c)) if c.equalsIgnoreCase("vector") =>
            next(); expectSoft("indexes"); ShowVectorIndexes
          case Some(Ident(c)) if c.equalsIgnoreCase("fulltext") =>
            next(); expectSoft("indexes"); ShowFulltextIndexes
          case t => fail(s"SHOW supports CONSTRAINTS, [VECTOR|FULLTEXT] " +
            s"INDEXES, DATABASES, PROCEDURES and FUNCTIONS, got $t")
        }
      case Some(Ident(d)) if d.equalsIgnoreCase("drop") =>
        next()
        peek match {
          case Some(Ident(c)) if c.equalsIgnoreCase("constraint") =>
            next()
            val nm = ident()
            val ifExists = peek match {
              case Some(Ident(i2)) if i2.equalsIgnoreCase("if") =>
                next(); expectKw("EXISTS"); true
              case _ => false
            }
            DropConstraint(nm, ifExists)
          case Some(Ident(c)) if c.equalsIgnoreCase("index") =>
            next()
            val nm = ident()
            val ifExists = peek match {
              case Some(Ident(i2)) if i2.equalsIgnoreCase("if") =>
                next(); expectKw("EXISTS"); true
              case _ => false
            }
            DropIndexStmt(nm, ifExists)
          case t => fail(s"DROP supports CONSTRAINT <name> [IF EXISTS] and " +
            s"INDEX <name> [IF EXISTS], got $t")
        }
      case t => fail(s"statement must start with MATCH, UNWIND, LOAD CSV, " +
        s"MERGE, CREATE, SHOW, DROP or RETURN, got $t")
    }

    /** `CREATE CONSTRAINT [name] [IF NOT EXISTS] FOR (n:Label) REQUIRE
      * n.prop IS UNIQUE` — the only constraint type this engine supports
      * (uniqueness is what the single-label key model can enforce); other
      * REQUIRE forms fail typed. */
    private def createConstraintStatement(): Statement = {
      var name: Option[String] = None
      var ifNotExists = false
      peek match {
        case Some(Ident(n)) if !n.equalsIgnoreCase("for") &&
            !n.equalsIgnoreCase("if") =>
          next(); name = Some(n)
        case _ =>
      }
      peek match {
        case Some(Ident(n)) if n.equalsIgnoreCase("if") =>
          next(); expectKw("NOT"); expectKw("EXISTS"); ifNotExists = true
        case _ =>
      }
      peek match {
        case Some(Ident(f)) if f.equalsIgnoreCase("for") => next()
        case t => fail(s"expected FOR in CREATE CONSTRAINT, got $t")
      }
      expectSym("(")
      val v = ident(); expectSym(":"); val label = ident()
      expectSym(")")
      peek match {
        case Some(Ident(r)) if r.equalsIgnoreCase("require") => next()
        case t => fail(s"expected REQUIRE in CREATE CONSTRAINT, got $t")
      }
      val v2 = ident()
      if (v2 != v) fail(s"REQUIRE must target the constrained variable " +
        s"'$v', got '$v2'")
      expectSym(".")
      val prop = ident()
      expectKw("IS")
      peek match {
        case Some(Ident(u)) if u.equalsIgnoreCase("unique") => next()
        case t => fail("only `IS UNIQUE` constraints are supported (the " +
          "single-label key model enforces uniqueness; existence/type " +
          s"constraints are not implemented), got $t")
      }
      CreateConstraint(name, ifNotExists, v, label, prop)
    }

    /** Shared `[name] [IF NOT EXISTS] FOR (v:Label)` prefix of the index
      * DDL statements. Returns (name, ifNotExists, patternVar, label). */
    private def indexDdlPrefix(kind: String): (Option[String], Boolean, String, String, Boolean) = {
      var name: Option[String] = None
      var ifNotExists = false
      peek match {
        case Some(Ident(n)) if !n.equalsIgnoreCase("for") &&
            !n.equalsIgnoreCase("if") =>
          next(); name = Some(n)
        case _ =>
      }
      peek match {
        case Some(Ident(n)) if n.equalsIgnoreCase("if") =>
          next(); expectKw("NOT"); expectKw("EXISTS"); ifNotExists = true
        case _ =>
      }
      peek match {
        case Some(Ident(f)) if f.equalsIgnoreCase("for") => next()
        case t => fail(s"expected FOR in CREATE $kind INDEX, got $t")
      }
      expectSym("(")
      // relationship pattern `FOR ()-[r:TYPE]-()` (Neo4j 5 indexes
      // relationship properties too; the closing dash may carry a
      // direction arrow, which is IGNORED as Neo4j ignores it for
      // index definitions)
      if (peek.contains(Sym(")"))) {
        next()
        expectSym("-"); expectSym("[")
        val v = ident(); expectSym(":"); val relType = ident()
        peek match {
          case Some(Sym("|")) => fail(s"a $kind index targets ONE " +
            "relationship type — multi-type index patterns are not supported")
          case _ =>
        }
        expectSym("]"); expectSym("-")
        if (peek.contains(Sym(">"))) next()
        expectSym("("); expectSym(")")
        return (name, ifNotExists, v, relType, true)
      }
      val v = ident(); expectSym(":"); val label = ident()
      peek match {
        case Some(Sym("|")) => fail(s"a $kind index targets ONE label — " +
          "this store's nodes carry exactly one label, so multi-label " +
          "index patterns are not supported")
        case _ =>
      }
      expectSym(")")
      (name, ifNotExists, v, label, false)
    }

    /** `CREATE VECTOR INDEX [name] [IF NOT EXISTS] FOR (v:Label) ON v.prop
      * OPTIONS {indexConfig: {`vector.dimensions`: n,
      * `vector.similarity_function`: 'cosine'}}`. Dimensions are REQUIRED
      * (the index geometry is part of the definition); the similarity
      * function defaults to cosine. */
    private def createVectorIndexStatement(): Statement = {
      val (name, ifNotExists, v, label, isRel) = indexDdlPrefix("VECTOR")
      expectKw("ON")
      val v2 = ident()
      if (v2 != v) fail(s"ON must target the indexed variable '$v', got '$v2'")
      expectSym(".")
      val prop = ident()
      peek match {
        case Some(Ident(o)) if o.equalsIgnoreCase("options") => next()
        case t => fail("CREATE VECTOR INDEX requires OPTIONS {indexConfig: " +
          s"{`vector.dimensions`: n, `vector.similarity_function`: 'cosine'}}" +
          s" — the index geometry is part of its definition, got $t")
      }
      val opts = literalMap()
      val cfg = opts.get("indexConfig") match {
        case Some(m: Map[_, _]) => m.asInstanceOf[Map[String, Any]]
        case _ => fail("OPTIONS must carry an indexConfig map")
      }
      val dim = cfg.get("vector.dimensions") match {
        case Some(n: Long) if n > 0 && n <= 4096 => n.toInt
        case Some(other) => fail(s"`vector.dimensions` must be a positive " +
          s"integer (<= 4096), got $other")
        case None => fail("indexConfig requires `vector.dimensions`")
      }
      val simFn = cfg.get("vector.similarity_function") match {
        case Some(s: String) => s.toLowerCase
        case Some(other) => fail(s"`vector.similarity_function` must be a " +
          s"string, got $other")
        case None => "cosine"
      }
      CreateVectorIndex(name, ifNotExists, label, prop, dim, simFn, isRel)
    }

    /** `CREATE [RANGE] INDEX [name] [IF NOT EXISTS] FOR (n:Label) ON
      * (n.prop)` — Neo4j 5's plain range index DDL (the parenthesized ON
      * list; the bare `ON n.prop` pre-5 form is accepted too). Composite
      * indexes fail typed: this store's physical layout keys on (label,
      * single property). */
    private def createRangeIndexStatement(): Statement = {
      val (name, ifNotExists, v, label, isRel) = indexDdlPrefix("RANGE")
      if (isRel) fail("a RANGE index targets a node label in this engine " +
        "— relationship range indexes are not supported")
      expectKw("ON")
      val paren = peek.contains(Sym("("))
      if (paren) next()
      val v2 = ident()
      if (v2 != v) fail(s"ON must target the indexed variable '$v', got '$v2'")
      expectSym(".")
      val prop = ident()
      if (paren) {
        if (peek.contains(Sym(",")))
          fail("composite range indexes are not supported — this store " +
            "keys on (label, one property); create one index per property")
        expectSym(")")
      }
      CreateRangeIndex(name, ifNotExists, label, prop)
    }

    /** `CREATE FULLTEXT INDEX [name] [IF NOT EXISTS] FOR (n:Label) ON EACH
      * [n.p1, n.p2]`. */
    private def createFulltextIndexStatement(): Statement = {
      val (name, ifNotExists, v, label, isRel) = indexDdlPrefix("FULLTEXT")
      expectKw("ON")
      peek match {
        case Some(Ident(e)) if e.equalsIgnoreCase("each") => next()
        case t => fail(s"expected EACH in CREATE FULLTEXT INDEX, got $t")
      }
      expectSym("[")
      val props = ArrayBuffer.empty[String]
      def propRef(): Unit = {
        val pv = ident()
        if (pv != v) fail(s"ON EACH must target the indexed variable '$v', got '$pv'")
        expectSym(".")
        props += ident()
      }
      propRef()
      while (peek.contains(Sym(","))) { next(); propRef() }
      expectSym("]")
      CreateFulltextIndex(name, ifNotExists, label, props.toSeq, isRel)
    }

    /** A literal map value `{k: v, …}` with nested maps/lists — the OPTIONS
      * payload of the index DDL. Keys are identifiers (backtick-quoted for
      * dotted names) or strings; values are literals. */
    private def literalMap(): Map[String, Any] = {
      expectSym("{")
      val out = scala.collection.mutable.LinkedHashMap.empty[String, Any]
      def literal(): Any = next() match {
        case Str(s) => s
        case Num(s) if s.matches("[0-9]+") => s.toLong
        case Num(s) => s.toDouble
        case Sym("-") => literal() match {
          case l: Long => -l
          case d: Double => -d
          case other => fail(s"'-' must precede a number, got $other")
        }
        case Ident(b) if b.equalsIgnoreCase("true") => true
        case Ident(b) if b.equalsIgnoreCase("false") => false
        case Sym("{") => pos -= 1; literalMap()
        case Sym("[") =>
          val items = ArrayBuffer.empty[Any]
          if (!peek.contains(Sym("]"))) {
            items += literal()
            while (peek.contains(Sym(","))) { next(); items += literal() }
          }
          expectSym("]")
          items.toSeq
        case t => fail(s"expected a literal OPTIONS value, got $t")
      }
      def pair(): Unit = {
        val k = next() match {
          case Ident(s) => s
          case Str(s) => s
          case Kw(s) => s.toLowerCase
          case t => fail(s"expected an OPTIONS map key, got $t")
        }
        expectSym(":")
        out += k -> literal()
      }
      if (!peek.contains(Sym("}"))) {
        pair()
        while (peek.contains(Sym(","))) { next(); pair() }
      }
      expectSym("}")
      out.toMap
    }

    /** `SHOW INDEXES|PROCEDURES YIELD … [WHERE …] [RETURN …]` (at the
      * YIELD): the YIELD binds the pseudo-procedure `proc`'s columns into
      * an ordinary pipeline and everything after composes like any CALL —
      * seed the pipeline's first stage with it and parse the rest
      * normally. `SHOW INDEXES YIELD` is the index-existence statement
      * Neo4jVector issues before creating an index (Neo4j's FULL column
      * set: arrays + options map); `SHOW PROCEDURES YIELD` is what Neo4j
      * Browser issues on connect. */
    private def showYield(what: String, proc: String): Statement = {
      next()
      val cols = Procedures.internal(proc).yields
      val yields = ArrayBuffer.empty[(String, String)]
      if (peek.contains(Sym("*"))) {
        next(); cols.foreach(c0 => yields += ((c0, c0)))
      } else {
        def yieldItem(): Unit = {
          val c0 = ident()
          if (!cols.contains(c0))
            fail(s"SHOW $what does not yield '$c0' " +
              s"(yields: ${cols.mkString(", ")})")
          val a = if (peek.contains(Kw("AS"))) { next(); ident() } else c0
          yields += ((c0, a))
        }
        yieldItem()
        while (peek.contains(Sym(","))) { next(); yieldItem() }
      }
      pendingProcs = Seq(ProcCall(proc, yields.toSeq, Map.empty, Nil))
      statementFromPipeline()
    }

    private def statementFromPipeline(): Statement = {
        val first = matchStatement()
        if (!peek.contains(Kw("UNION"))) first
        else first match {
          case m: MatchStatement =>
            val parts = ArrayBuffer(m)
            var all = false
            var first = true
            while (peek.contains(Kw("UNION"))) {
              next()
              val thisAll = peek.contains(Kw("ALL"))
              if (thisAll) next()
              if (first) { all = thisAll; first = false }
              else if (all != thisAll)
                fail("cannot mix UNION and UNION ALL in one query")
              matchStatement() match {
                case p: MatchStatement => parts += p
                case _ => fail("UNION parts must be read queries")
              }
            }
            UnionStatement(parts.toSeq, all)
          case _ => fail("UNION parts must be read queries")
        }
    }

    /** Clauses that end the MATCH/UNWIND/WITH pipeline. */
    private def pipelineEnd(t: Option[Tok]): Boolean = t match {
      case Some(Kw(k)) =>
        Set("RETURN", "SET", "REMOVE", "DELETE", "DETACH", "MERGE", "CREATE",
          "FOREACH")(k)
      case _ => false
    }

    /** Soft keyword (LOAD/CSV/HEADERS/FROM/FIELDTERMINATOR lex as idents —
      * they are not reserved, matching Neo4j). */
    private def peekSoft(s: String): Boolean = peek match {
      case Some(Ident(i)) => i.equalsIgnoreCase(s)
      case _ => false
    }
    private def expectSoft(s: String): Unit = next() match {
      case Ident(i) if i.equalsIgnoreCase(s) =>
      case t => fail(s"expected $s, got $t")
    }

    private def parseLoads(): Seq[LoadCsv] = {
      val loads = ArrayBuffer.empty[LoadCsv]
      while (peekSoft("LOAD")) {
        next(); expectSoft("CSV")
        val hdr =
          if (peek.contains(Kw("WITH"))) { next(); expectSoft("HEADERS"); true }
          else false
        expectSoft("FROM")
        val url = next() match {
          case Str(s) => s
          case t => fail(s"LOAD CSV needs a string-literal URL, got $t")
        }
        expectKw("AS")
        val alias = ident()
        val sep =
          if (peekSoft("FIELDTERMINATOR")) {
            next()
            next() match {
              case Str(s) => s
              case t => fail(s"FIELDTERMINATOR needs a string literal, got $t")
            }
          } else ","
        loads += LoadCsv(url, hdr, sep, alias)
      }
      loads.toSeq
    }

    private def matchStatement(): Statement = {
      val stages = ArrayBuffer.empty[MatchStage]
      // EOF after a procedure-call stage is a complete statement
      // (standalone `CALL db.labels()` — implicit RETURN synthesized below);
      // a SHOW … YIELD's pending pseudo-procedure is a stage even when
      // RETURN follows the YIELD at once
      while (pendingProcs.nonEmpty || (!pipelineEnd(peek) &&
          !(peek.isEmpty && stages.lastOption.exists(_.procs.nonEmpty)))) {
        val loads = parseLoads()
        val unwinds = ArrayBuffer.empty[Unwind]
        while (peek.contains(Kw("UNWIND"))) {
          next()
          val e = addExpr()
          expectKw("AS")
          unwinds += Unwind(e, ident())
        }
        val calls = ArrayBuffer.empty[CallSub]
        val procs = ArrayBuffer.empty[ProcCall]
        // a SHOW … YIELD statement seeds its pseudo-procedure into the
        // pipeline's first stage; the rest of the statement parses as any
        // CALL-opened pipeline
        if (pendingProcs.nonEmpty) { procs ++= pendingProcs; pendingProcs = Nil }
        while (peek.contains(Kw("CALL"))) {
          next()
          if (peek.contains(Sym("{"))) {
            expectSym("{")
            // importing WITH: bare variable names only (Neo4j's rule)
            val imports =
              if (peek.contains(Kw("WITH"))) {
                next()
                val vs = ArrayBuffer(ident())
                while (peek.contains(Sym(","))) { next(); vs += ident() }
                vs.toSeq
              } else Nil
            statement() match {
              case inner: MatchStatement => calls += CallSub(imports, inner)
              case u: UnionStatement =>
                // Neo4jVector's hybrid template: CALL { <arm> UNION <arm> }
                if (imports.nonEmpty)
                  fail("a correlated CALL { WITH … } subquery cannot be a UNION")
                calls += CallSub(Nil, u)
              case mut: MutateStatement =>
                // `CALL { WITH row <write> } IN TRANSACTIONS [OF n ROWS]`
                // — the bulk-import idiom. Only valid as the statement's
                // single stage over a LOAD CSV / UNWIND driving prefix,
                // and it must end the statement (Neo4j's rule that a
                // data-modifying CALL IN TRANSACTIONS cannot be followed
                // by further reading clauses is adopted wholesale).
                expectSym("}")
                if (!peek.contains(Kw("IN")))
                  fail("CALL { <write> } must be followed by IN TRANSACTIONS")
                next()
                next() match {
                  case Ident(t) if t.equalsIgnoreCase("TRANSACTIONS") => ()
                  case t => fail(s"expected TRANSACTIONS after IN, got $t")
                }
                var rows = 1000L // Neo4j's default batch size
                if (peek.exists {
                    case Ident(i) => i.equalsIgnoreCase("OF"); case _ => false }) {
                  next()
                  rows = next() match {
                    case Num(s) if s.matches("[0-9]+") => s.toLong
                    case t => fail(s"OF needs an integer row count, got $t")
                  }
                  require(rows > 0, "IN TRANSACTIONS OF n ROWS needs n > 0")
                  next() match {
                    case Ident(r) if r.equalsIgnoreCase("ROWS") |
                      r.equalsIgnoreCase("ROW") => ()
                    case t => fail(s"expected ROWS after the batch size, got $t")
                  }
                }
                if (peek.nonEmpty)
                  fail("CALL { } IN TRANSACTIONS must end the statement")
                if (stages.nonEmpty || calls.nonEmpty || procs.nonEmpty)
                  fail("CALL { } IN TRANSACTIONS drives off a LOAD CSV / " +
                    "UNWIND prefix only (no earlier pipeline stages)")
                return CallInTransactions(loads, unwinds.toSeq, imports,
                  mut, rows)
              case _ => fail("CALL { } must contain a read pipeline")
            }
            expectSym("}")
          } else procs += parseProcCall()
        }
        val paths = ArrayBuffer.empty[PathPat]
        val wBase = nodeWheres.length
        if (peek.contains(Kw("MATCH"))) {
          next()
          paths += path()
          while (peek.contains(Sym(","))) { next(); paths += path() }
        } else if (unwinds.isEmpty && calls.isEmpty && loads.isEmpty &&
            procs.isEmpty &&
            !peek.contains(Kw("OPTIONAL")) && !peek.contains(Kw("WITH")))
          // a bare WITH is a legal stage: consecutive projection horizons
          // (`WITH … WITH …`) re-shape without a fresh MATCH
          fail(s"expected UNWIND, CALL, MATCH, OPTIONAL MATCH, WITH or RETURN, got $peek")
        val inlineW = drainNodeWheres(wBase)
        val optPaths = ArrayBuffer.empty[PathPat]
        while (peek.contains(Kw("OPTIONAL"))) {
          next(); expectKw("MATCH")
          optPaths += path()
          while (peek.contains(Sym(","))) { next(); optPaths += path() }
        }
        if (nodeWheres.length > wBase)
          fail("inline WHERE is not supported in OPTIONAL MATCH patterns " +
            "(its null-extension scope is ambiguous) — use a post-pattern WHERE")
        val where = andOpt(inlineW,
          if (peek.contains(Kw("WHERE"))) { next(); Some(boolExpr()) } else None)
        val withClause =
          if (peek.contains(Kw("WITH"))) {
            next()
            val wDistinct = peek.contains(Kw("DISTINCT"))
            if (wDistinct) next()
            val items = ArrayBuffer(returnItem())
            while (peek.contains(Sym(","))) { next(); items += returnItem() }
            // Neo4j clause order: ORDER BY / SKIP / LIMIT paginate the
            // projection, a trailing WHERE filters afterwards
            val order = ArrayBuffer.empty[OrderItem]
            if (peek.contains(Kw("ORDER"))) {
              next(); expectKw("BY")
              order += orderItem()
              while (peek.contains(Sym(","))) { next(); order += orderItem() }
            }
            val skip = if (peek.contains(Kw("SKIP"))) {
              next()
              next() match {
                case Num(s) => Some(s.toInt)
                case t => fail(s"expected int, got $t")
              }
            } else None
            val limit = if (peek.contains(Kw("LIMIT"))) {
              next()
              next() match {
                case Num(s) => Some(s.toInt)
                case t => fail(s"expected int, got $t")
              }
            } else None
            val having =
              if (peek.contains(Kw("WHERE"))) { next(); Some(boolExpr()) } else None
            Some(WithClause(items.toSeq, having, order.toSeq, skip, limit,
              wDistinct))
          } else None
        stages += MatchStage(paths.toSeq, optPaths.toSeq, where, withClause,
          unwinds.toSeq, calls.toSeq, loads, procs.toSeq)
        if (withClause.isEmpty && !pipelineEnd(peek) &&
            !peek.contains(Kw("MATCH")) && !peek.contains(Kw("UNWIND")) &&
            !peek.contains(Kw("OPTIONAL")) && !peek.contains(Kw("CALL")) &&
            !peekSoft("LOAD") && !peek.contains(Sym("}")) &&
            !(procs.nonEmpty && peek.isEmpty))
          fail(s"expected WITH, MATCH, UNWIND, CALL, RETURN or a write clause, got $peek")
      }
      if (!peek.contains(Kw("RETURN"))) {
        // standalone `CALL db.labels()`: Neo4j returns the yielded columns
        // without an explicit RETURN — synthesize one
        val ss = stages.toSeq
        val procOnly = ss.nonEmpty && ss.forall(st =>
          st.paths.isEmpty && st.optPaths.isEmpty && st.unwinds.isEmpty &&
            st.calls.isEmpty && st.loads.isEmpty && st.withClause.isEmpty) &&
          ss.exists(_.procs.nonEmpty)
        if (procOnly && peek.isEmpty)
          return MatchStatement(ss,
            ss.flatMap(_.procs).flatMap(_.boundNames)
              .map(c => ReturnItem(RetVar(c), None)),
            Nil, None)
        return updateTail(ss)
      }
      expectKw("RETURN")
      val distinct = peek.contains(Kw("DISTINCT"))
      if (distinct) next()
      val items = ArrayBuffer(returnItem())
      while (peek.contains(Sym(","))) { next(); items += returnItem() }
      val order = ArrayBuffer.empty[OrderItem]
      if (peek.contains(Kw("ORDER"))) {
        next(); expectKw("BY")
        order += orderItem()
        while (peek.contains(Sym(","))) { next(); order += orderItem() }
      }
      val skip = if (peek.contains(Kw("SKIP"))) {
        next()
        next() match { case Num(s) => Some(s.toInt); case t => fail(s"expected int, got $t") }
      } else None
      val limit = if (peek.contains(Kw("LIMIT"))) {
        next()
        next() match { case Num(s) => Some(s.toInt); case t => fail(s"expected int, got $t") }
      } else None
      MatchStatement(stages.toSeq, items.toSeq, order.toSeq, limit, distinct, skip)
    }

    /** `MATCH … SET/REMOVE/[DETACH] DELETE/MERGE` write tail. */
    private def updateTail(stages0: Seq[MatchStage]): UpdateStatement = {
      var stages = stages0
      val sets = ArrayBuffer.empty[(PropRef, ReturnExpr)]
      val replaces = ArrayBuffer.empty[String]
      /** one SET item: `n.p = expr`, `n += {map}` (merge the map's keys
        * into the bag) or `n = {map}` (replace — clear the bag first).
        * Both map forms desugar to per-key expression items. */
      def setItemOrMap(): Unit = peek match {
        case Some(Ident(v)) if pos + 1 < ts.length && ts(pos + 1) != Sym(".") =>
          next()
          next() match {
            case Sym("=") => replaces += v
            case Sym("+") => expectSym("=")
            // label mutation (VERDICT r9 #4): same single-label stance as
            // the pattern grammar, rejected typed
            case Sym(":") => fail(s"SET $v:Label is not supported — this " +
              "engine's nodes carry exactly one immutable label (the " +
              "label is the store's partition key; SURVEY §1.4). Model " +
              "secondary labels as a property: SET " + v + ".tag = '…'")
            case t => fail(s"expected = or += after SET $v, got $t")
          }
          expectSym("{")
          var first = true
          while (!peek.contains(Sym("}"))) {
            if (!first) expectSym(",")
            first = false
            val k = ident(); expectSym(":")
            sets += ((PropRef(v, k), addExpr()))
          }
          expectSym("}")
        case _ => sets += setItem()
      }
      val removes = ArrayBuffer.empty[PropRef]
      val deletes = ArrayBuffer.empty[String]
      val merges = ArrayBuffer.empty[PathPat]
      val creates = ArrayBuffer.empty[PathPat]
      var detach = false
      var done = false
      def relBetweenBoundVars(clause: String): PathPat = {
        val base = nodeWheres.length
        val p = path()
        if (nodeWheres.length > base)
          fail(s"inline WHERE is not allowed in $clause patterns")
        if (p.edges.length != 1)
          fail(s"MATCH … $clause expects a single relationship pattern")
        if (p.edges.head.undirected)
          fail(s"$clause relationships must be directed")
        if (p.nodes.exists(n => n.variable.isEmpty || n.label.isDefined ||
            n.props.nonEmpty))
          fail(s"MATCH … $clause endpoints must be bare bound variables")
        p
      }
      while (!done) peek match {
        case Some(Kw("MERGE")) =>
          // MATCH-driven relationship MERGE between bound endpoints
          next()
          merges += relBetweenBoundVars("MERGE")
        case Some(Kw("CREATE")) =>
          // MATCH-driven relationship CREATE: appends one relationship per
          // matched row, no match probe (Neo4j's non-idempotent twin).
          // Comma-separated patterns append per matched row in order —
          // one statement, one MATCH, several edges.
          next()
          creates += relBetweenBoundVars("CREATE")
          while (peek.contains(Sym(","))) {
            next(); creates += relBetweenBoundVars("CREATE")
          }
        case Some(Kw("SET")) =>
          next()
          setItemOrMap()
          while (peek.contains(Sym(","))) { next(); setItemOrMap() }
        case Some(Kw("FOREACH")) =>
          // FOREACH (x IN <list> | SET …) desugars to an UNWIND stage plus
          // the SET items: per matched row, per list element, assign —
          // rows whose list is empty are skipped, which is exactly Neo4j's
          // `FOREACH (_ IN CASE WHEN cond THEN [1] ELSE [] END | SET …)`
          // conditional-write idiom. Only SET bodies are supported.
          next(); expectSym("(")
          val v = ident(); expectKw("IN")
          val listE = addExpr(); expectSym("|")
          expectKw("SET")
          sets += setItem()
          while (peek.contains(Sym(","))) { next(); sets += setItem() }
          expectSym(")")
          stages = stages :+ MatchStage(Nil, Nil, None, None,
            unwinds = Seq(Unwind(listE, v)))
        case Some(Kw("REMOVE")) =>
          next()
          removes += propRef()
          while (peek.contains(Sym(","))) { next(); removes += propRef() }
        case Some(Kw("DETACH")) =>
          next(); expectKw("DELETE"); detach = true
          deletes += ident()
          while (peek.contains(Sym(","))) { next(); deletes += ident() }
        case Some(Kw("DELETE")) =>
          next()
          deletes += ident()
          while (peek.contains(Sym(","))) { next(); deletes += ident() }
        case None => done = true
        case t => fail(s"unexpected token in write clause: $t")
      }
      UpdateStatement(stages, sets.toSeq, removes.toSeq, deletes.toSeq, detach,
        merges.toSeq, creates.toSeq, replaces.toSeq)
    }

    // OR < AND < NOT < comparison; parentheses group
    private def boolExpr(): BoolExpr = {
      var e = andExpr()
      while (peek.contains(Kw("OR"))) { next(); e = OrE(e, andExpr()) }
      e
    }
    private def andExpr(): BoolExpr = {
      var e = notExpr()
      while (peek.contains(Kw("AND"))) { next(); e = AndE(e, notExpr()) }
      e
    }
    /** `fn(x IN <list> WHERE <pred>)` body, after the name was consumed. */
    private def listPred(fn: String): BoolExpr = {
      expectSym("(")
      val v = ident()
      expectKw("IN")
      val src = addExpr()
      expectKw("WHERE") // Neo4j requires the predicate in all four quantifiers
      val w = boolExpr()
      expectSym(")")
      ListPred(fn, v, src, w)
    }

    private def notExpr(): BoolExpr = peek match {
      case Some(Kw("NOT")) => next(); NotE(notExpr())
      case Some(Ident(f)) if listPredFns.contains(f.toLowerCase) &&
          ts.lift(pos + 1).contains(Sym("(")) =>
        next(); listPred(f.toLowerCase)
      case Some(Kw("ALL")) if ts.lift(pos + 1).contains(Sym("(")) =>
        next(); listPred("all")
      case Some(Kw("EXISTS")) =>
        next()
        peek match {
          case Some(Sym("{")) =>
            // EXISTS { <pattern> [WHERE …] } — pattern-predicate subquery
            next()
            val base = nodeWheres.length
            val p = path()
            val w = if (peek.contains(Kw("WHERE"))) { next(); Some(boolExpr()) }
              else None
            expectSym("}")
            ExistsPat(p, andOpt(drainNodeWheres(base), w))
          case Some(Sym("(")) =>
            // legacy exists(n.prop) — property-presence test
            next()
            val e = addExpr()
            expectSym(")")
            Cmp(Predicate(e, "IS NOT NULL", RetLit(NumLit(0, isInt = true))))
          case t => fail(s"expected {{ or ( after EXISTS, got $t")
        }
      case Some(Sym("(")) =>
        // '(' is ambiguous: a grouped boolean (`(a.x > 1) OR …`), a bare
        // pattern predicate (`WHERE (a)-[:R]->(b)` — Neo4j's shorthand for
        // EXISTS), or a parenthesized arithmetic operand (`(a.x + 1) > 2`).
        // Try the boolean reading; then the pattern (it must have at least
        // one relationship); finally a comparison.
        val save = pos
        val saveW = nodeWheres.length
        def restoreW(): Unit =
          nodeWheres.dropRightInPlace(nodeWheres.length - saveW)
        try { next(); val e = boolExpr(); expectSym(")"); e }
        catch {
          case _: IllegalArgumentException =>
            pos = save; restoreW()
            try {
              val p = path()
              if (p.edges.isEmpty) fail("a pattern predicate needs a relationship")
              ExistsPat(p, drainNodeWheres(saveW))
            } catch {
              case _: IllegalArgumentException =>
                pos = save; restoreW(); Cmp(predicate())
            }
        }
      case _ => Cmp(predicate())
    }

    /** `CALL proc.name(args) [YIELD col [AS alias], …]` — built-in
      * procedure invocation, shared by the read pipeline and (for the
      * embedding setter) the write statement (VERDICT r11 #1).
      */
    private def parseProcCall(): ProcCall = {
            // `CALL db.labels() [YIELD col [AS alias], …]` — built-in
            // procedure; name validated against the registry at parse
            // time. A name SEGMENT may collide with a reserved keyword
            // (db.CREATE.setNodeVectorProperty's middle) — accept the
            // keyword token lowercased there; Cypher keywords are
            // case-insensitive so the canonical registry form is safe.
            def nameSegment(): String = next() match {
              case Ident(s) => s
              case Kw(s) => s.toLowerCase
              case t => fail(s"expected a procedure name segment, got $t")
            }
            val parts = ArrayBuffer(nameSegment())
            while (peek.contains(Sym("."))) { next(); parts += nameSegment() }
            val name = parts.mkString(".")
            val proc = Procedures(name)
            val cols = proc.yields
            expectSym("(")
            // Arguments: positional LITERALS (a graph name string, a
            // label/relType spec string or string list — the GDS
            // gds.graph.project / graph-name-first-argument surface),
            // then an optional GDS-style config map which must come LAST:
            // CALL gds.x.stream('g', {topK: 1}). Values are literals —
            // config tunes the algorithm, it is not a per-row expression
            // surface.
            val config = scala.collection.mutable.Map.empty[String, Any]
            val posArgs = ArrayBuffer.empty[Any]
            var sawConfig = false
            // numeral handling (ADVICE r8 #5): integers → Long, any
            // '.'/exponent form → Double (1e3 has no '.' but is NOT a
            // Long literal), leading '-' lexes as Sym("-")+Num and
            // negates; malformed numerals fail with the parser's own
            // message, never a raw NumberFormatException
            def mapVal(k: String): Any = next() match {
              case Sym("-") => mapVal(k) match {
                case l: Long => -l
                case d: Double => -d
                case other => fail(s"'-' in config value for '$k' must " +
                  s"precede a number, got $other")
              }
              case Num(s) if s.matches("[0-9]+") =>
                try s.toLong catch { case _: NumberFormatException =>
                  fail(s"config value for '$k' overflows a 64-bit integer: $s") }
              case Num(s) =>
                try s.toDouble catch { case _: NumberFormatException =>
                  fail(s"malformed numeric config value for '$k': $s") }
              case Str(s) => s
              case Ident(b) if b.equalsIgnoreCase("true") => true
              case Ident(b) if b.equalsIgnoreCase("false") => false
              case Kw(b) if b.equalsIgnoreCase("true") => true
              case Kw(b) if b.equalsIgnoreCase("false") => false
              // a $parameter value ({limit: $k} in Neo4jVector's hybrid
              // template) — resolved against the statement's params at
              // execution, same as positional Param args
              case ParamTok(p0) => Param(p0)
              // a bound variable or `row.prop` expression value — the
              // `{id: row.id}` identity slot of LangChain's
              // add_graph_documents apoc.merge.node statement. Only
              // batch-oriented procedures accept these; config-consuming
              // procedures reject them after the parse (below).
              case Ident(v) if !v.equalsIgnoreCase("null") =>
                if (peek.contains(Sym("."))) { next(); ProcPropArg(v, ident()) }
                else ProcVarArg(v)
              case other => fail(s"procedure config value for '$k' must " +
                s"be a literal or a $$parameter, got $other")
            }
            def parseMapArg(): Unit = {
              next() // consume '{'
              val entries = ArrayBuffer.empty[(String, Any)]
              def pair(): Unit = {
                // a map KEY may collide with a reserved keyword —
                // {limit: $k} in Neo4jVector's hybrid template lexes
                // LIMIT as a keyword; accept it lowercased
                val k = next() match {
                  case Ident(s) => s
                  case Kw(s) => s.toLowerCase
                  case Str(s) => s
                  case t => fail(s"expected a config map key, got $t")
                }
                expectSym(":")
                entries += k -> mapVal(k)
              }
              if (!peek.contains(Sym("}"))) {
                pair()
                while (peek.contains(Sym(","))) { next(); pair() }
              }
              expectSym("}")
              posArgs += ProcMapArg(entries.toSeq)
              sawConfig = true
            }
            def parseArg(): Unit = peek match {
              case Some(Sym("{")) => parseMapArg()
              case Some(Sym("[")) =>
                // a list argument: string literals (the GDS projection
                // lists) or bound/row expressions (`[row.type]` in
                // apoc.merge.node)
                next()
                val items = ArrayBuffer.empty[Any]
                if (!peek.contains(Sym("]"))) {
                  def item(): Unit = next() match {
                    case Str(s) => items += s
                    case Ident(v) =>
                      if (peek.contains(Sym("."))) {
                        next(); items += ProcPropArg(v, ident())
                      } else items += ProcVarArg(v)
                    case t => fail("a projection list takes string " +
                      s"literals, got $t")
                  }
                  item()
                  while (peek.contains(Sym(","))) { next(); item() }
                }
                expectSym("]")
                posArgs += items.toSeq
              case Some(Str(s)) => next(); posArgs += s
              case Some(Num(s)) if s.matches("[0-9]+") =>
                next(); posArgs += s.toLong
              case Some(ParamTok(p0)) =>
                // a $parameter argument (db.index.vector.queryNodes takes
                // the query embedding this way) — resolved against the
                // statement's params at execution
                next(); posArgs += Param(p0)
              case Some(Ident(v)) if !v.equalsIgnoreCase("true") &&
                  !v.equalsIgnoreCase("false") =>
                // a bound-variable argument (the node slot of
                // db.create.setNodeVectorProperty) — resolved against the
                // pipeline's bindings at execution. `var.prop` is a
                // row-bound property expression (the `row.embedding` slot
                // of LangChain's batched add_embeddings statement,
                // VERDICT r11 #1) — resolved per driving row.
                next()
                if (peek.contains(Sym("."))) {
                  next(); posArgs += ProcPropArg(v, ident())
                } else posArgs += ProcVarArg(v)
              case t => fail("a procedure argument must be a string " +
                "literal, an integer, a $parameter, a string list, a " +
                "bound variable, a var.prop row expression or a " +
                s"config map, got $t")
            }
            // a config-taking procedure (gds.*, db.index.*) takes one
            // all-literal map, LAST — it becomes the CONFIG. The others
            // (apoc.merge.*) take maps as ordinary positional arguments,
            // anywhere, any number.
            if (!peek.contains(Sym(")"))) {
              parseArg()
              while (peek.contains(Sym(","))) {
                next()
                if (sawConfig && proc.takesConfig)
                  fail("the config map must be the LAST procedure argument")
                parseArg()
              }
            }
            expectSym(")")
            if (proc.takesConfig) posArgs.lastOption match {
              case Some(ProcMapArg(entries)) =>
                entries.foreach {
                  case (k, (_: ProcVarArg | _: ProcPropArg)) =>
                    fail(s"procedure config value for '$k' must be a " +
                      "literal or a $parameter, got a row expression")
                  case _ => ()
                }
                config ++= entries
                posArgs.remove(posArgs.length - 1)
              case _ => ()
            }
            val yields = ArrayBuffer.empty[(String, String)]
            if (peekSoft("YIELD")) {
              next()
              def yieldItem(): Unit = {
                val c = ident()
                if (!cols.contains(c))
                  fail(s"procedure $name does not yield '$c' (yields: ${cols.mkString(", ")})")
                val a = if (peek.contains(Kw("AS"))) { next(); ident() } else c
                yields += ((c, a))
              }
              yieldItem()
              while (peek.contains(Sym(","))) { next(); yieldItem() }
            }
            ProcCall(name, yields.toSeq, config.toMap, posArgs.toSeq)
    }

    private def mutateStatement(): MutateStatement = {
      val clauses = ArrayBuffer.empty[MutClause]
      var done = false
      var anonCreate = 0
      // CREATE pattern: every labeled node pattern creates a node; every
      // relationship appends between the path's (or earlier clauses')
      // bound variables. Comma-separated patterns share one statement.
      def createPath(): Unit = {
        val base = nodeWheres.length
        val p = path()
        if (nodeWheres.length > base)
          fail("inline WHERE is not allowed in CREATE patterns")
        if (p.edges.exists(e => e.minHops != 1 || e.maxHops != 1))
          fail("CREATE does not accept variable-length relationships")
        if (p.edges.exists(_.undirected))
          fail("CREATE relationships must be directed")
        val vs = p.nodes.map { n =>
          if (n.label.isDefined) {
            val v = n.variable.getOrElse { anonCreate += 1; s"__create$anonCreate" }
            clauses += CreateNode(n.copy(variable = Some(v)))
            v
          } else {
            if (n.props.nonEmpty)
              fail("CREATE endpoints without a label must be bare bound variables")
            n.variable.getOrElse(fail("CREATE endpoint needs a variable or label"))
          }
        }
        p.edges.zipWithIndex.foreach { case (e, i) =>
          val (src, dst) =
            if (e.leftToRight) (vs(i), vs(i + 1)) else (vs(i + 1), vs(i))
          clauses += CreateEdge(src,
            e.relType.getOrElse(fail("CREATE relationship needs a type")),
            dst, e.props)
        }
      }
      while (!done) peek match {
        case Some(Kw("CREATE")) =>
          next()
          createPath()
          while (peek.contains(Sym(","))) { next(); createPath() }
        case Some(Kw("MERGE")) =>
          next()
          val mergeBase = nodeWheres.length
          val p = path()
          if (nodeWheres.length > mergeBase)
            fail("inline WHERE is not allowed in MERGE patterns")
          // trailing path-dependent handlers: ON CREATE SET … / ON MATCH SET …
          var onCreate = Seq.empty[(PropRef, Value)]
          var onMatch = Seq.empty[(PropRef, Value)]
          def handlerItems(): Seq[(PropRef, Value)] = {
            expectKw("SET")
            val items = ArrayBuffer(setItemValue())
            while (peek.contains(Sym(","))) { next(); items += setItemValue() }
            items.toSeq
          }
          while (peek.contains(Kw("ON"))) {
            next()
            next() match {
              case Kw("CREATE") => onCreate = onCreate ++ handlerItems()
              case Kw("MATCH") => onMatch = onMatch ++ handlerItems()
              case t => fail(s"expected CREATE or MATCH after ON, got $t")
            }
          }
          if (p.edges.isEmpty) clauses += MergeNode(p.nodes.head, onCreate, onMatch)
          else {
            if (p.edges.head.undirected)
              fail("MERGE relationships must be directed")
            if (onCreate.nonEmpty || onMatch.nonEmpty)
              fail("ON CREATE/ON MATCH handlers are supported on node MERGE only")
            // MERGE (a)-[:T]->(b): endpoints may be bare bound vars or full
            // patterns (then they imply node merges too)
            p.nodes.foreach { npat => if (npat.label.isDefined) clauses += MergeNode(npat) }
            val e = p.edges.head
            val (src, dst) =
              if (e.leftToRight) (p.nodes(0), p.nodes(1)) else (p.nodes(1), p.nodes(0))
            clauses += MergeEdge(
              src.variable.getOrElse(fail("edge endpoint needs a variable")),
              e.relType.getOrElse(fail("MERGE edge needs a type")),
              dst.variable.getOrElse(fail("edge endpoint needs a variable")),
              e.props)
          }
        case Some(Kw("SET")) =>
          next()
          val items = ArrayBuffer(setItemValue())
          while (peek.contains(Sym(","))) { next(); items += setItemValue() }
          clauses += SetItems(items.toSeq)
        case Some(Kw("WITH")) =>
          next()
          val vars = ArrayBuffer(ident())
          while (peek.contains(Sym(","))) { next(); vars += ident() }
          clauses += WithVars(vars.toSeq)
        case Some(Kw("CALL")) =>
          // a procedure call inside the write statement — LangChain's
          // batched add_embeddings puts `CALL db.create.
          // setNodeVectorProperty(c, 'embedding', row.embedding)` between
          // MERGE and SET (VERDICT r11 #1). Which procedures may mutate
          // from here is the session's decision (typed error there).
          next()
          if (peek.contains(Sym("{")))
            fail("CALL { } inside a write statement is only valid as the " +
              "CALL { <write> } IN TRANSACTIONS import loop")
          clauses += CallProcClause(parseProcCall())
        case Some(Kw("RETURN")) =>
          next()
          val items = ArrayBuffer(returnItem())
          while (peek.contains(Sym(","))) { next(); items += returnItem() }
          clauses += ReturnVars(items.toSeq)
        case None => done = true
        // a `}` closes the enclosing CALL { <write> } subquery — terminate
        // without consuming it (the CALL parser expects it)
        case Some(Sym("}")) => done = true
        case t => fail(s"unexpected token in MERGE statement: $t")
      }
      MutateStatement(clauses.toSeq)
    }

    private def path(): PathPat = {
      // `p = (a)-[…]->(b)` binds the whole path; length(p) reads hop count
      val pathVar = peek match {
        case Some(Ident(v)) if pos + 1 < ts.length && ts(pos + 1) == Sym("=") =>
          next(); next(); Some(v)
        case _ => None
      }
      // shortestPath((a)-[…]-(b)) / allShortestPaths(…) wrap the pattern
      val (shortest, allShortest) = peek match {
        case Some(Ident(f)) if f.equalsIgnoreCase("shortestPath") &&
            pos + 1 < ts.length && ts(pos + 1) == Sym("(") =>
          next(); next(); (true, false)
        case Some(Ident(f)) if f.equalsIgnoreCase("allShortestPaths") &&
            pos + 1 < ts.length && ts(pos + 1) == Sym("(") =>
          next(); next(); (false, true)
        case _ => (false, false)
      }
      val nodes = ArrayBuffer(nodePat())
      val edges = ArrayBuffer.empty[EdgePat]
      var more = true
      while (more) peek match {
        case Some(Sym("-")) =>
          next()
          val e = edgeBody()
          next() match {
            case Sym("->") => edges += e.copy(leftToRight = true)
            case Sym("-") => edges += e.copy(leftToRight = true, undirected = true)
            case t => fail(s"expected -> or - after relationship, got $t")
          }
          nodes += nodePat()
        case Some(Sym("<-")) =>
          next()
          val e = edgeBody()
          expectSym("-")
          edges += e.copy(leftToRight = false)
          nodes += nodePat()
        case _ => more = false
      }
      if (shortest || allShortest) expectSym(")")
      PathPat(nodes.toSeq, edges.toSeq, pathVar, shortest, allShortest)
    }

    // after the leading '-' or '<-':
    // '[' var? (':' TYPE)? ('*' (m ('..' n)?)?)? ('{' props '}')? ']'
    private def edgeBody(): EdgePat = {
      expectSym("[")
      var v: Option[String] = None
      var t: Option[String] = None
      var props = Map.empty[String, Value]
      var hops = (1, 1)
      peek match {
        case Some(Ident(s)) => next(); v = Some(s)
        case _ =>
      }
      if (peek.contains(Sym(":"))) { next(); t = Some(ident()) }
      if (peek.contains(Sym("*"))) {
        next()
        hops = peek match {
          case Some(Num(m)) =>
            next()
            if (peek.contains(Sym("."))) {
              expectSym("."); expectSym(".")
              next() match {
                case Num(x) => (m.toInt, x.toInt)
                case tk => fail(s"expected upper hop bound, got $tk")
              }
            } else (m.toInt, m.toInt)
          case _ => (1, 5) // bare '*': bounded default — see CypherAst scaladoc
        }
      }
      if (peek.contains(Sym("{"))) {
        next()
        def kv(): (String, Value) = { val k = ident(); expectSym(":"); (k, value()) }
        props += kv()
        while (peek.contains(Sym(","))) { next(); props += kv() }
        expectSym("}")
      }
      expectSym("]")
      EdgePat(v, t, leftToRight = true, minHops = hops._1, maxHops = hops._2,
        props = props)
    }

    private def nodePat(): NodePat = {
      expectSym("(")
      var v: Option[String] = None
      var l: Option[String] = None
      var props = Map.empty[String, Value]
      peek match {
        case Some(Ident(s)) => next(); v = Some(s)
        case _ =>
      }
      if (peek.contains(Sym(":"))) { next(); l = Some(ident()) }
      // multi-label stance (VERDICT r9 #4): nodes carry exactly ONE label
      // in this engine — the label IS the store partition (SURVEY §1.4),
      // which is what makes label scans partition-pruned file reads at
      // 100 TB. A second `:Label` is rejected TYPED here rather than
      // falling into a generic parse failure.
      if (peek.contains(Sym(":")))
        fail(s"multi-label patterns (:${l.get}:…) are not supported — " +
          "this engine's nodes carry exactly one label (the label is the " +
          "store's partition key; SURVEY §1.4). Model secondary labels " +
          "as a property and filter on it instead")
      if (peek.contains(Sym("{"))) {
        next()
        def kv(): (String, Value) = {
          val k = ident(); expectSym(":"); (k, value())
        }
        props += kv()
        while (peek.contains(Sym(","))) { next(); props += kv() }
        expectSym("}")
      }
      if (peek.contains(Kw("WHERE"))) { // inline predicate (modern Cypher)
        if (v.isEmpty) fail("an inline WHERE needs a named node variable")
        next()
        nodeWheres += boolExpr()
      }
      expectSym(")")
      NodePat(v, l, props)
    }

    private def value(): Value = next() match {
      case ParamTok(s) => Param(s)
      case Str(s) => StrLit(s)
      // digits-only ⇒ integer; a '.' OR an exponent suffix makes it a
      // Double (1e-3 has no '.' but must not truncate to 0)
      case Num(s) => NumLit(s.toDouble, s.matches("[0-9]+"))
      case Sym("[") =>
        val items = ArrayBuffer.empty[Value]
        if (!peek.contains(Sym("]"))) {
          items += value()
          while (peek.contains(Sym(","))) { next(); items += value() }
        }
        expectSym("]")
        ListLit(items.toSeq)
      case Ident(fn) if peek.contains(Sym("(")) =>
        next(); expectSym(")"); FnCall(fn.toLowerCase)
      case Ident(v) if peek.contains(Sym(".")) =>
        next(); RefValue(PropRef(v, ident()))
      case Ident(v) => AliasValue(v)
      case t => fail(s"expected value, got $t")
    }

    private def propRef(): PropRef = {
      val v = ident(); expectSym("."); PropRef(v, ident())
    }

    private def predicate(): Predicate = {
      val dummy = RetLit(NumLit(0, isInt = true))
      val lhs = addExpr()
      val op = next() match {
        case Sym(s @ ("=" | "<>" | "<" | "<=" | ">" | ">=" | "=~")) => s
        case Kw("CONTAINS") => "CONTAINS"
        case Kw("STARTS") => expectKw("WITH"); "STARTS WITH"
        case Kw("ENDS") => expectKw("WITH"); "ENDS WITH"
        case Kw("IN") =>
          // list literal or $param — value() handles both
          return Predicate(lhs, "IN", RetLit(value()))
        case Kw("IS") => next() match {
          case Kw("NULL") => return Predicate(lhs, "IS NULL", dummy)
          case Kw("NOT") => expectKw("NULL")
            return Predicate(lhs, "IS NOT NULL", dummy)
          case t => fail(s"expected NULL or NOT NULL after IS, got $t")
        }
        case t => fail(s"expected comparison operator, got $t")
      }
      Predicate(lhs, op, addExpr())
    }

    private def returnItem(): ReturnItem = {
      val expr = addExpr()
      val alias = if (peek.contains(Kw("AS"))) { next(); Some(ident()) } else None
      ReturnItem(expr, alias)
    }

    // scalar expression grammar, standard precedence:
    //   addExpr := mulExpr (('+'|'-') mulExpr)*
    //   mulExpr := factor (('*'|'/'|'%') factor)*
    //   factor  := '-' factor | '(' addExpr ')' | CASE … END | literal
    //            | param | agg(…) | scalarFn(expr) | var '.' prop | var
    private def addExpr(): ReturnExpr = {
      var e = mulExpr()
      var more = true
      while (more) peek match {
        case Some(Sym(op @ ("+" | "-"))) => next(); e = RetBin(op, e, mulExpr())
        case _ => more = false
      }
      e
    }
    private def mulExpr(): ReturnExpr = {
      var e = factor()
      var more = true
      while (more) peek match {
        case Some(Sym(op @ ("*" | "/" | "%"))) => next(); e = RetBin(op, e, factor())
        case _ => more = false
      }
      e
    }
    /** postfix `[i]` index / `[a..b]` slice chain after any factor. */
    private def factor(): ReturnExpr = {
      var e = factorBase()
      while (peek.contains(Sym("["))) {
        next()
        // `[..hi]`, `[lo..]`, `[lo..hi]`, or `[idx]` — `..` lexes as two
        // Sym(".") tokens
        def dots(): Boolean =
          if (peek.contains(Sym(".")) && pos + 1 < ts.length &&
              ts(pos + 1) == Sym(".")) { next(); next(); true }
          else false
        if (dots()) { // [..hi]
          val hi = if (peek.contains(Sym("]"))) None else Some(addExpr())
          expectSym("]")
          e = RetSlice(e, None, hi)
        } else {
          val first = addExpr()
          if (dots()) {
            val hi = if (peek.contains(Sym("]"))) None else Some(addExpr())
            expectSym("]")
            e = RetSlice(e, Some(first), hi)
          } else {
            expectSym("]")
            e = RetIndex(e, first)
          }
        }
      }
      e
    }

    private def factorBase(): ReturnExpr = next() match {
      case Sym("-") => RetBin("-", RetLit(NumLit(0, isInt = true)), factor())
      case Sym("(") => val e = addExpr(); expectSym(")"); e
      case Kw("CASE") => caseExpr()
      case Sym("{") =>
        // map literal `{k: expr, …}` (Neo4jVector's hybrid template wraps
        // yielded rows as `collect({node: node, score: score})`)
        val pairs = ArrayBuffer.empty[(String, ReturnExpr)]
        def pair(): Unit = {
          val k = next() match {
            case Ident(s) => s
            case Str(s) => s
            case Kw(s) => s.toLowerCase
            case t => fail(s"expected a map key, got $t")
          }
          expectSym(":")
          pairs += ((k, addExpr()))
        }
        if (!peek.contains(Sym("}"))) {
          pair()
          while (peek.contains(Sym(","))) { next(); pair() }
        }
        expectSym("}")
        RetMapLit(pairs.toSeq)
      case Sym("[") =>
        // `[x IN src …]` (comprehension) vs `[e1, e2, …]` (literal):
        // decided by one token of lookahead after the opening bracket
        val isComp = peek.exists(_.isInstanceOf[Ident]) &&
          pos + 1 < ts.length && ts(pos + 1) == Kw("IN")
        def listLit(): ReturnExpr = {
          val items = ArrayBuffer.empty[ReturnExpr]
          if (!peek.contains(Sym("]"))) {
            items += addExpr()
            while (peek.contains(Sym(","))) { next(); items += addExpr() }
          }
          expectSym("]")
          RetListLit(items.toSeq)
        }
        if (isComp) {
          val v = ident(); expectKw("IN")
          val src = addExpr()
          val where = if (peek.contains(Kw("WHERE"))) { next(); Some(boolExpr()) }
            else None
          val proj = if (peek.contains(Sym("|"))) { next(); Some(addExpr()) }
            else None
          expectSym("]")
          RetListComp(v, src, where, proj)
        } else if (peek.contains(Sym("("))) {
          // `[(a)-[:R]->(b) … | proj]` (pattern comprehension) vs a list
          // literal whose head is parenthesized (`[(1+2), 3]`): try the
          // pattern, backtrack to the literal on failure — the same
          // save/restore discipline as bare pattern predicates.
          val save = pos; val saveW = nodeWheres.length
          try {
            val p = path()
            if (p.edges.isEmpty) fail("a pattern comprehension needs a relationship")
            val w = if (peek.contains(Kw("WHERE"))) { next(); Some(boolExpr()) }
              else None
            expectSym("|")
            val proj = addExpr()
            expectSym("]")
            RetPatternComp(p, andOpt(drainNodeWheres(saveW), w), proj)
          } catch {
            case _: IllegalArgumentException =>
              pos = save
              nodeWheres.dropRightInPlace(nodeWheres.length - saveW)
              listLit()
          }
        } else listLit()
      case Ident(fn) if fn.equalsIgnoreCase("reduce") && peek.contains(Sym("(")) =>
        // reduce(acc = init, x IN list | expr)
        next()
        val acc = ident(); expectSym("=")
        val init = addExpr(); expectSym(",")
        val v = ident(); expectKw("IN")
        val src = addExpr(); expectSym("|")
        val body = addExpr(); expectSym(")")
        RetReduce(acc, init, v, src, body)
      case ParamTok(s) => RetLit(Param(s))
      case Str(s) => RetLit(StrLit(s))
      case Num(s) => RetLit(NumLit(s.toDouble, s.matches("[0-9]+")))
      case Kw("NULL") => RetLit(NullLit)
      case Ident(fn) if fn.equalsIgnoreCase("count") && peek.contains(Sym("{")) =>
        // COUNT { <pattern> [WHERE …] } — subquery match count per outer row
        next()
        val base = nodeWheres.length
        val p = path()
        val w = if (peek.contains(Kw("WHERE"))) { next(); Some(boolExpr()) }
          else None
        expectSym("}")
        RetCountSub(p, andOpt(drainNodeWheres(base), w))
      case Kw("EXISTS") if peek.contains(Sym("{")) =>
        // EXISTS { } as a boolean EXPRESSION (Neo4j 5) — same subquery
        // machinery as COUNT { }, compared to zero at read time
        next()
        val base = nodeWheres.length
        val p = path()
        val w = if (peek.contains(Kw("WHERE"))) { next(); Some(boolExpr()) }
          else None
        expectSym("}")
        RetExistsSub(RetCountSub(p, andOpt(drainNodeWheres(base), w)))
      case Ident(fn) if aggFns.contains(fn.toLowerCase) && peek.contains(Sym("(")) =>
        next()
        val distinct = peek.contains(Kw("DISTINCT"))
        if (distinct) next()
        if (peek.contains(Sym("*")) && fn.equalsIgnoreCase("count")) {
          next(); expectSym(")")
          RetAgg(fn.toLowerCase, None, distinct)
        } else {
          // full expression argument; re-derive the simple forms so the
          // rest of the pipeline keeps its fast paths
          val e = addExpr()
          val lf = fn.toLowerCase
          if (lf == "percentilecont" || lf == "percentiledisc") {
            // Neo4j's two-argument aggregates: the percentile must be a
            // numeric literal (it parameterizes the aggregate, it is not
            // itself aggregated)
            expectSym(",")
            val p = addExpr() match {
              case RetLit(NumLit(d, _)) => d
              case other => fail(s"$fn() needs a numeric percentile literal, got $other")
            }
            expectSym(")")
            RetAggExpr(lf, e, distinct, Some(p))
          } else {
            expectSym(")")
            e match {
              case RetVar(v) => RetAgg(lf, Some(Left(v)), distinct)
              case RetProp(pr) => RetAgg(lf, Some(Right(pr)), distinct)
              case other => RetAggExpr(lf, other, distinct)
            }
          }
        }
      // temporal surface: duration.between(a, b); date/datetime/duration
      // with a map argument ({epochMillis: e} / {days: 1, hours: 6}) or a
      // single parse-string argument. Zero-arg date()/datetime() stay on
      // the FnCall-leaf path below.
      case Ident(fn0) if fn0.equalsIgnoreCase("duration") &&
          peek.contains(Sym(".")) && pos + 1 < ts.length &&
          (ts(pos + 1) match {
            case Ident(x) => x.equalsIgnoreCase("between")
            case _ => false
          }) =>
        next(); next() // . between
        expectSym("(")
        val a = addExpr(); expectSym(","); val b = addExpr()
        expectSym(")")
        RetFn("duration.between", Seq(a, b))
      // datetime.truncate('month', d) / date.truncate('week', d) — unit
      // must be a string LITERAL (it selects the truncation, it is not a
      // per-row value); the unit set is validated at compile time
      case Ident(fn0) if Set("datetime", "date")(fn0.toLowerCase) &&
          peek.contains(Sym(".")) && pos + 1 < ts.length &&
          (ts(pos + 1) match {
            case Ident(x) => x.equalsIgnoreCase("truncate")
            case _ => false
          }) =>
        next(); next() // . truncate
        expectSym("(")
        val unit = next() match {
          case Str(s) => s.toLowerCase
          case t => fail(s"${fn0.toLowerCase}.truncate's unit must be a " +
            s"string literal ('year'/'month'/…), got $t")
        }
        expectSym(",")
        val d = addExpr()
        expectSym(")")
        RetFn(fn0.toLowerCase + ".truncate", Seq(RetLit(StrLit(unit)), d))
      // vector surface: vector.similarity.cosine(a, b) /
      // vector.similarity.euclidean(a, b) — Neo4j 5's similarity
      // functions, the NON-indexed retrieval idiom (`WITH
      // vector.similarity.cosine(n.embedding, $q) AS score … LIMIT k`).
      // Scores match the vector index's normalizations exactly.
      case Ident(fn0) if fn0.equalsIgnoreCase("vector") &&
          peek.contains(Sym(".")) && pos + 3 < ts.length &&
          (ts(pos + 1) match {
            case Ident(x) => x.equalsIgnoreCase("similarity")
            case _ => false
          }) && ts(pos + 2) == Sym(".") &&
          (ts(pos + 3) match {
            case Ident(x) => x.equalsIgnoreCase("cosine") ||
              x.equalsIgnoreCase("euclidean")
            case _ => false
          }) =>
        next(); next(); next() // . similarity .
        val which = ident().toLowerCase
        expectSym("(")
        val a = addExpr(); expectSym(","); val b = addExpr()
        expectSym(")")
        RetFn(s"vector.similarity.$which", Seq(a, b))
      // spatial surface: point({x: …, y: …}) via the map-ctor rule below;
      // point.distance(a, b) is the Neo4j-5 namespaced distance
      case Ident(fn0) if fn0.equalsIgnoreCase("point") &&
          peek.contains(Sym(".")) && pos + 1 < ts.length &&
          (ts(pos + 1) match {
            case Ident(x) => x.equalsIgnoreCase("distance")
            case _ => false
          }) =>
        next(); next() // . distance
        expectSym("(")
        val a = addExpr(); expectSym(","); val b = addExpr()
        expectSym(")")
        RetFn("point.distance", Seq(a, b))
      case Ident(fn0) if Set("date", "datetime", "duration", "point")(fn0.toLowerCase) &&
          peek.contains(Sym("(")) && pos + 1 < ts.length &&
          ts(pos + 1) != Sym(")") =>
        val f = fn0.toLowerCase
        next() // (
        if (peek.contains(Sym("{"))) {
          next() // {
          val pairs = ArrayBuffer.empty[(String, ReturnExpr)]
          def pair(): Unit = { val k = ident(); expectSym(":"); pairs += k -> addExpr() }
          pair()
          while (peek.contains(Sym(","))) { next(); pair() }
          expectSym("}"); expectSym(")")
          RetTemporalCtor(f, pairs.toSeq)
        } else {
          val arg = addExpr()
          expectSym(")")
          RetFn(f, Seq(arg))
        }
      case Ident(fn) if scalarFns.contains(fn.toLowerCase) && peek.contains(Sym("(")) =>
        next()
        val fnArgs = ArrayBuffer(addExpr()) // composable: size(trim(u.name))
        while (peek.contains(Sym(","))) { next(); fnArgs += addExpr() }
        expectSym(")")
        RetFn(fn.toLowerCase, fnArgs.toSeq)
      case Ident(fn) if peek.contains(Sym("(")) &&
          pos + 1 < ts.length && ts(pos + 1) == Sym(")") =>
        // zero-arg function call (datetime()) — a Value-grammar leaf
        next(); next(); RetLit(FnCall(fn.toLowerCase))
      case Ident(v) if peek.contains(Sym("{")) &&
          pos + 1 < ts.length && ts(pos + 1) == Sym(".") =>
        // map projection: v {.p1, .p2} or v {.*}, optionally with
        // literal-entry overrides `key: expr` (Neo4jVector's default
        // retrieval template: `node {.*, text: Null, embedding: Null,
        // id: Null}` — the payload columns nulled out of the metadata)
        next() // {
        var all = false
        val props = ArrayBuffer.empty[String]
        val overrides = ArrayBuffer.empty[(String, ReturnExpr)]
        def item(): Unit =
          if (peek.contains(Sym("."))) {
            next()
            if (peek.contains(Sym("*"))) { next(); all = true }
            else props += ident()
          } else {
            // `key: expr` — the key may be backticked or collide with a
            // keyword (`end`, `contains`); accept both lowered forms
            val k = next() match {
              case Ident(s) => s
              case Kw(s) => s.toLowerCase
              case t => fail(s"expected a map-projection entry, got $t")
            }
            expectSym(":")
            overrides += k -> addExpr()
          }
        item()
        while (peek.contains(Sym(","))) { next(); item() }
        expectSym("}")
        RetMapProj(v, props.toSeq, all, overrides.toSeq)
      case Ident(v) if peek.contains(Sym(".")) =>
        next()
        val p1 = ident()
        // temporal COMPONENT access (`a.ts.year`, `e.ts.epochMillis`) —
        // the first thing a Neo4j user writes after constructing a
        // datetime. Only the fixed component-name set chains; any other
        // third identifier keeps failing as before (properties are flat).
        if (peek.contains(Sym(".")) && pos + 1 < ts.length &&
            (ts(pos + 1) match {
              case Ident(cn) => temporalComponents.contains(cn.toLowerCase)
              case _ => false
            })) {
          next() // .
          val cn = ident().toLowerCase
          RetFn("__temporal." + cn, Seq(RetProp(PropRef(v, p1))))
        } else RetProp(PropRef(v, p1))
      case Ident(v) => RetVar(v)
      case t => fail(s"expected expression, got $t")
    }

    /** Neo4j's temporal instant components, lowercased. */
    private val temporalComponents = Set(
      "year", "quarter", "month", "week", "day", "dayofweek",
      "hour", "minute", "second", "epochmillis", "epochseconds")

    /** CASE (the `CASE` keyword is already consumed). Searched form
      * `CASE WHEN <bool> THEN <expr> … [ELSE] END`, or the simple form
      * `CASE <subject> WHEN <value> THEN <expr> … [ELSE] END` — desugared
      * to the searched form with `<subject> = <value>` conditions. */
    private def caseExpr(): RetCase = {
      val subject: Option[ReturnExpr] =
        if (peek.contains(Kw("WHEN"))) None else Some(addExpr())
      val whens = ArrayBuffer.empty[(BoolExpr, ReturnExpr)]
      if (!peek.contains(Kw("WHEN")))
        fail("CASE needs at least one WHEN")
      while (peek.contains(Kw("WHEN"))) {
        next()
        val cond = subject match {
          case Some(subj) => Cmp(Predicate(subj, "=", addExpr()))
          case None => boolExpr()
        }
        expectKw("THEN")
        whens += ((cond, addExpr()))
      }
      val default =
        if (peek.contains(Kw("ELSE"))) { next(); Some(addExpr()) } else None
      expectKw("END")
      RetCase(whens.toSeq, default)
    }

    private def orderItem(): OrderItem = {
      val e = addExpr()
      val asc = peek match {
        case Some(Kw("DESC")) => next(); false
        case Some(Kw("ASC")) => next(); true
        case _ => true
      }
      e match {
        case RetVar(v) => OrderItem(Left(v), asc)
        case RetProp(pr) => OrderItem(Right(pr), asc)
        case other => OrderItem(Left("__ord_expr"), asc, Some(other))
      }
    }

    /** `n.prop = <scalar expression>` — MATCH-driven SET takes the full
      * expression grammar; MERGE handler contexts narrow it back to a
      * Value via [[exprValue]] (set-oriented parameter batches). */
    private def setItem(): (PropRef, ReturnExpr) = {
      val ref = propRef(); expectSym("="); (ref, addExpr())
    }

    private def exprValue(e: ReturnExpr): Value = e match {
      case RetLit(v) => v
      case RetProp(r) => RefValue(r)
      case RetVar(n) => AliasValue(n)
      case other => fail(s"MERGE SET values must be literals or parameters, got $other")
    }
    private def setItemValue(): (PropRef, Value) = {
      val (ref, e) = setItem(); (ref, exprValue(e))
    }
  }
}
