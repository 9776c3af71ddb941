package graft.cypher

import graft.SparkTestBase
import graft.graph.PropertyGraph
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property-based check of the Cypher scalar-expression compiler: random
  * arithmetic/CASE trees over an integer property are rendered to query
  * text, parsed, compiled and executed — and must agree with a direct
  * reference interpreter evaluating the same tree in Scala (all property
  * values route through DOUBLE, matching the engine's read policy).
  * Fixed seeds — the scalatest-scalacheck bridge isn't on the offline
  * classpath.
  */
class CypherExpressionProperties extends SparkTestBase {

  /** tiny expression AST rendered both to Cypher text and to a Scala fn. */
  sealed trait E
  case class Lit(v: Long) extends E
  case object Prop extends E // u.score
  case class Bin(op: Char, l: E, r: E) extends E
  case class Case(threshold: Long, ifGe: E, ifLt: E) extends E

  private def render(e: E): String = e match {
    case Lit(v) => v.toString
    case Prop => "u.score"
    case Bin(op, l, r) => s"(${render(l)} $op ${render(r)})"
    case Case(t, a, b) =>
      s"(CASE WHEN u.score >= $t THEN ${render(a)} ELSE ${render(b)} END)"
  }
  private def eval(e: E, score: Double): Double = e match {
    case Lit(v) => v.toDouble
    case Prop => score
    case Bin('+', l, r) => eval(l, score) + eval(r, score)
    case Bin('-', l, r) => eval(l, score) - eval(r, score)
    case Bin('*', l, r) => eval(l, score) * eval(r, score)
    case Bin(_, l, r) => eval(l, score) / eval(r, score)
    case Case(t, a, b) => if (score >= t) eval(a, score) else eval(b, score)
  }

  private def exprGen(depth: Int): Gen[E] =
    if (depth == 0) Gen.oneOf(Gen.choose(1L, 9L).map(Lit.apply), Gen.const(Prop))
    else Gen.frequency(
      2 -> Gen.choose(1L, 9L).map(Lit.apply),
      2 -> Gen.const(Prop),
      5 -> (for {
        op <- Gen.oneOf('+', '-', '*', '/')
        l <- exprGen(depth - 1)
        // divisor: nonzero literal only (an expression subtree can fold to
        // zero, and ANSI-mode division by zero is an error, not NULL)
        r <- if (op == '/') Gen.choose(1L, 9L).map(Lit.apply)
             else exprGen(depth - 1)
      } yield Bin(op, l, r)),
      2 -> (for {
        t <- Gen.choose(1L, 9L)
        a <- exprGen(depth - 1)
        b <- exprGen(depth - 1)
      } yield Case(t, a, b)))

  private def sample[T](g: Gen[T], seed: Long): T =
    g.pureApply(Gen.Parameters.default, Seed(seed))

  test("random arithmetic/CASE trees compile to the reference semantics") {
    val scores = Seq(1L, 3L, 5L, 8L)
    val sess = new CypherSession(PropertyGraph.empty(spark))
    scores.foreach { sc =>
      sess.run("MERGE (u:User {name: $n}) SET u.score = $s",
        Map("n" -> s"u$sc", "s" -> sc.toString))
    }
    (1L to 12L).foreach { seed =>
      val e = sample(exprGen(3), seed)
      val rows = sess.run(
        s"""MATCH (u:User)
           |RETURN u.name AS name, ${render(e)} AS v
           |ORDER BY name""".stripMargin)
        .asInstanceOf[CypherRows].df.collect()
      rows.foreach { r =>
        val score = r.getString(0).drop(1).toDouble
        // literal-only trees stay integer-typed; prop-bearing ones are double
        val got = r.get(1) match {
          case d: java.lang.Double => d.doubleValue()
          case l: java.lang.Long => l.doubleValue()
          case i: java.lang.Integer => i.doubleValue()
          case other => fail(s"unexpected value type $other")
        }
        val want = eval(e, score)
        assert((got.isNaN && want.isNaN) || got === want,
          s"seed=$seed expr=${render(e)} score=$score got=$got want=$want")
      }
    }
  }

  /** An expression context the parser accepts around a value: its text
    * with `X` for the hole, and the value the wrapped expression has. */
  case class Wrap(text: String, eval: Long => Long)
  private val wraps = Seq(
    Wrap("[X][0]", identity),
    Wrap("[x IN [1] | X][0]", identity),
    Wrap("reduce(acc = 0, x IN [1] | acc + X)", identity),
    Wrap("CASE WHEN 1 = 1 THEN X ELSE 0 END", identity),
    Wrap("CASE WHEN X > 1 THEN 1 ELSE 0 END", v => if (v > 1) 1 else 0),
    Wrap("coalesce(X, 0)", identity))
  private def wrapsGen(depth: Int): Gen[Seq[Wrap]] =
    Gen.choose(1, depth).flatMap(Gen.listOfN(_, Gen.oneOf(wraps)))

  test("COUNT { }, pattern comprehensions and path lists read the same in any wrapping context") {
    val sess = new CypherSession(PropertyGraph.empty(spark))
    sess.run("""MERGE (a:Tech {name: 'a'}) MERGE (b:Tech {name: 'b'})
               |MERGE (c:Tech {name: 'c'})
               |MERGE (a)-[:NEXT]->(b) MERGE (b)-[:NEXT]->(c)
               |MERGE (a)-[:NEXT]->(c)""".stripMargin)
    val probes = Seq("COUNT { (n)-[:NEXT]->() }",
      "size([(n)-[:NEXT]->(m) | m.name])", "size(relationships(p))")
    val matchText = "MATCH p = (n:Tech)-[:NEXT*1..2]->(t:Tech) "
    def rows(q: String): Seq[(String, Long)] =
      sess.run(q).asInstanceOf[CypherRows].df.collect().toSeq
        .map(r => (r.getString(0), r.getAs[Number](1).longValue))
    // one row per walk, keyed by the walk's node names
    val walk = "n.name + '>' + t.name + ':' + toString(size(relationships(p)))"
    val plain = probes.map(pr =>
      pr -> rows(matchText + s"RETURN $walk AS w, $pr AS v ORDER BY w"))
    assert(plain.forall(_._2.size == 4))
    assert(plain.head._2.map(_._2) === Seq(2L, 2L, 2L, 1L)) // a, a, a, b
    (1L to 10L).foreach { seed =>
      val stack = sample(wrapsGen(3), seed)
      plain.foreach { case (pr, want) =>
        val text = stack.foldLeft(pr)((e, w) => w.text.replace("X", e))
        val expect = want.map { case (w, v) => (w, stack.foldLeft(v)((x, wr) => wr.eval(x))) }
        // the wrapped value, and the same expression as an ORDER BY key
        val got = rows(matchText + s"RETURN $walk AS w, $text AS v ORDER BY $text DESC, w")
        assert(got === expect.sortBy { case (w, v) => (-v, w) }, s"seed=$seed expr=$text")
      }
    }
  }
}
