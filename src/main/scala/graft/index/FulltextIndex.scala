package graft.index

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.graph.PropertyGraph
import graft.analytics.IterCheckpoint.IterCheckpointOps

/** A fulltext index's documents: (key, node map, dl) pinned, their count
  * and mean length — BM25's statistics. */
final case class FtDocs(docs: DataFrame, n: Long, avgDl: Double)

object FtDocs {
  /** avgDl is an exact long-sum / count division. */
  def of(docs: DataFrame): FtDocs = {
    val n = docs.count()
    FtDocs(docs, n,
      if (n == 0L) 1.0 else docs.agg(sum(col("dl"))).head.getLong(0).toDouble / n)
  }
}

/** A fulltext index: rows are postings (key, fprop, pos, term), identity
  * `key` (a relationship's is 'srcKey->dstKey'); the documents ride as
  * the serving state's [[FtDocs]]. Persisted, postings cluster by a
  * portable md5 term bucket `tb`: a query term's probe prunes to its
  * bucket's directory and the pushed term equality finishes the cut —
  * postings IO per query is the query's own terms' lists. The docs stay
  * pinned in memory; a query streams them once through a hash join built
  * on its candidate docs, never broadcasting them. */
final class FulltextIndex(name: String, label: String, val props: Seq[String],
    isRel: Boolean, ctx: IndexCatalog)
    extends LiveIndex[FtDocs](name, label, isRel, ctx) {
  import FulltextIndex._

  protected def counters: IndexCounters = ctx.fulltextCounters
  protected def keyCol = "key"
  protected def partCol = "tb"
  protected def sortCol = "term"
  protected def partDirs: Int = TermDirs
  protected def scratchKind = "ft"
  /** Postings rows are fixed-width: the raw row bound. */
  protected def threshold: Long = ctx.memThreshold
  protected def overlayLoad(st: ServingState[FtDocs]): DataFrame = st.overlay
  protected def layoutRows(rows: DataFrame): DataFrame =
    rows.select(col("key"), col("fprop"), col("pos"), col("term"))
  protected def partition: Column =
    conv(substring(md5(col("term")), 1, 4), 16, 10).cast("int") % lit(TermDirs)

  /** One tokenize pass per indexed property, pinned. */
  private def postings(base: DataFrame): DataFrame = props.map { p =>
    base.select(col("key"), lit(p).as("fprop"),
      posexplode(filter(split(lower(element_at(col("props"), p)), TokenRegex),
        x => x =!= "")).as(Seq("pos", "term")))
      .filter(col("term").isNotNull)
  }.reduce(_ unionByName _).iterCheckpoint()

  private def docs(base: DataFrame, postings: DataFrame): DataFrame =
    base.select(col("key"), entityMap.as("node"))
      .join(postings.groupBy("key").agg(count(lit(1)).as("dl")), Seq("key"))

  protected def build(cur: PropertyGraph): (DataFrame, Long, FtDocs) = {
    val base = population(cur)
    val ps = postings(base)
    val d = FtDocs.of(docs(base, ps).iterCheckpoint())
    (ps, ps.count(), d)
  }

  /** Re-tokenizes only the delta's documents; pinned first, so postings
    * and docs both derive from one pass over the post-write store. */
  protected def fresh(st: ServingState[FtDocs], cur: PropertyGraph,
      delta: DataFrame, keys: DataFrame, validate: Boolean): (DataFrame, FtDocs) = {
    val base = population(cur, delta).select(col("key"), col("props"))
      .iterCheckpoint()
    val ps = postings(base)
    (ps, FtDocs.of(st.attach.docs.join(keys, Seq("key"), "left_anti")
      .unionByName(docs(base, ps)).iterCheckpoint()))
  }

  /** (node|relationship, score) rows for every document matching `q`.
    *
    * One plan for both serving layouts: the query's postings are read
    * ONCE (over its whole term set) and grouped per document, so each doc
    * carries only its own (term, fprop, pos) list. Every clause's tf is a
    * higher-order function over that list; a phrase occurs at each
    * posting of its first token whose later tokens sit at the following
    * positions of the same property. Docs with no clause present drop
    * out. The candidates join the docs (streamed through a hash built on
    * the candidates) and are pinned; the clause dfs are observed on the
    * pin's own action.
    *
    * Matching: a doc matches when SOME OR-group has every clause present
    * (NOT = absence). Docs containing NO query clause can never match
    * ([[parse]] rejects trees that would accept them), so the candidates
    * are complete.
    *
    * Scoring: the log-free BM25 (t21's bit-determinism posture) —
    * idf = (N − df + 0.5)/(df + 0.5), tf normalized by the Lucene-default
    * k1/b length correction, the dfs as literals — summed over the doc's
    * positive clauses in CLAUSE ORDER from 0.0, so the double additions
    * associate identically in Spark and the DuckDB oracle. */
  def query(q: String, wantRel: Boolean): DataFrame = {
    if (isRel != wantRel) throw new IllegalArgumentException(
      s"fulltext index '$name' indexes " +
        (if (isRel) "RELATIONSHIP properties — query it with " +
          "db.index.fulltext.queryRelationships"
         else "NODE properties — query it with db.index.fulltext.queryNodes"))
    // ONE state captured: docs and postings come from the same struct
    val st = serve()
    val FtDocs(docsFrame, nDocs, avgDl) = st.attach
    val (ftRoot, clauses) = parse(q)
    // clause polarity: a cid contributes to the SCORE only where it
    // appears under an even number of NOTs (Lucene: prohibited clauses
    // filter, never score). A clause may appear both ways.
    val positiveCids = {
      val out = scala.collection.mutable.Set.empty[Int]
      def walk(n: FtNode, neg: Boolean): Unit = n match {
        case FtLeaf(c) => if (!neg) out += c
        case FtAnd(l, r) => walk(l, neg); walk(r, neg)
        case FtOr(l, r) => walk(l, neg); walk(r, neg)
        case FtNot(e) => walk(e, !neg)
      }
      walk(ftRoot, neg = false)
      out.toSeq.sorted
    }
    val ts = clauses.flatten.distinct
    val termPostings = probeRows(st, col("term").isin(ts: _*),
      _.filter(col("tb").isin(ts.map(termBucket): _*) && col("term").isin(ts: _*)),
      Seq("key", "fprop", "pos", "term"))
    val ps = col("__ps")
    def tf(toks: Seq[String]): Column = size(filter(ps, p =>
      toks.zipWithIndex.map {
        case (t, 0) => p.getField("term") === t
        case (t, off) => exists(ps, o => o.getField("term") === t &&
          o.getField("fprop") === p.getField("fprop") &&
          o.getField("pos") === p.getField("pos") + off)
      }.reduce(_ && _)))
    val tfs = clauses.indices.map(c => s"__tf$c")
    val present = tfs.map(c => col(c) > 0)
    val (cands, m) = broadcast(termPostings
      .groupBy(col("key"))
      .agg(collect_list(struct(col("term"), col("fprop"), col("pos"))).as("__ps"))
      .select(col("key") +: clauses.zip(tfs).map { case (toks, c) => tf(toks).as(c) }: _*)
      .filter(present.reduce(_ || _)))
      .join(docsFrame, Seq("key"))
      .iterCheckpointObserve(
        tfs.zip(present).map { case (c, p) => count(when(p, 1)).as(c) }: _*)
    def evalFt(n: FtNode): Column = n match {
      case FtLeaf(c) => present(c)
      case FtAnd(l, r) => evalFt(l) && evalFt(r)
      case FtOr(l, r) => evalFt(l) || evalFt(r)
      case FtNot(e) => !evalFt(e)
    }
    // BM25-family contribution per clause; constants written as the same
    // arithmetic the oracle SQL uses so both engines fold the identical
    // doubles. An absent clause adds +0.0, which leaves a score exact.
    def contrib(c: Int): Column = {
      val tfD = col(tfs(c)).cast("double")
      val df = lit(m(tfs(c)).asInstanceOf[Long].toDouble)
      when(present(c),
        tfD * lit(Bm25K1 + 1.0) / (tfD + lit(Bm25K1) *
          (lit(1.0 - Bm25B) + lit(Bm25B) * col("dl").cast("double") /
            lit(avgDl))) *
          ((lit(nDocs.toDouble) - df + lit(0.5)) / (df + lit(0.5))))
        .otherwise(lit(0.0))
    }
    val hits = cands.filter(evalFt(ftRoot))
      .select(col("node"),
        positiveCids.foldLeft(lit(0.0))((acc, c) => acc + contrib(c))
          .as("score"), col("key"))
    // the hits go to one consumer: sorting them in one task skips the
    // range-partitioning sample and shuffle of a distributed sort
    hits.coalesce(1)
      // same (length, lex) tie collation as the vector query
      .orderBy(col("score").desc, length(col("key")), col("key"))
      .select(col("node").as(if (wantRel) "relationship" else "node"),
        col("score"))
  }
}

object FulltextIndex {
  val TermDirs = 256

  /** The fulltext analyzer: lowercase, split on non-alphanumeric runs,
    * drop empties — the standard-analyzer shape, chosen because BOTH
    * engines express it identically (Spark `split(lower(x), regex)` /
    * DuckDB `regexp_split_to_array(lower(x), regex)`), which is what
    * makes fulltext scores oracle-hashable. */
  val TokenRegex = "[^a-z0-9]+"
  /** BM25 constants (the Lucene defaults). The idf is the LOG-FREE BM25
    * smoothing (N − df + 0.5)/(df + 0.5) — t21's bit-determinism posture:
    * libm `ln` may differ by an ulp across engines and flip a rank tie;
    * dropping the monotone log changes scores but not order. */
  val Bm25K1 = 1.2
  val Bm25B = 0.75

  /** Driver-side term bucket, EXACTLY the layout's partition column
    * (`conv(substr(md5(term),1,4),16,10) % TermDirs`) — a probe computes
    * its literal partition keys with this. */
  def termBucket(term: String): Int = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(term.getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString.substring(0, 4)
    Integer.parseInt(hex, 16) % TermDirs
  }

  /** The analyzer applied to query text — identical to the indexed
    * side's tokenization by construction. */
  private def tokenize(s: String): Seq[String] =
    s.toLowerCase.split(TokenRegex).filter(_.nonEmpty).toSeq

  /** Boolean tree of a parsed fulltext query: leaves are clause ids
    * (terms / phrases in first-appearance order), NOT is a match filter
    * (negated clauses never contribute to the score — Lucene's prohibit
    * semantics). */
  sealed trait FtNode
  final case class FtLeaf(cid: Int) extends FtNode
  final case class FtAnd(l: FtNode, r: FtNode) extends FtNode
  final case class FtOr(l: FtNode, r: FtNode) extends FtNode
  final case class FtNot(e: FtNode) extends FtNode

  /** Parse a fulltext query into a boolean tree over clauses (a clause =
    * one term or a quoted phrase's token sequence). Lucene's default
    * operator: juxtaposition is OR; an explicit AND binds tighter than
    * OR; `NOT <unit>` / `-term` negates (a filter — negated clauses never
    * score); parentheses group. Leniency: a leading/dangling AND degrades
    * to its operand, never a crash; malformed input (unterminated
    * quote/parenthesis, operand-less NOT, no searchable terms, a branch
    * that would match every document) fails typed. */
  def parse(q: String): (FtNode, Seq[Seq[String]]) = {
    sealed trait T
    case class Cl(toks: Seq[String]) extends T
    case object AndT extends T
    case object OrT extends T
    case object NotT extends T
    case object OpenT extends T
    case object CloseT extends T
    val ts = scala.collection.mutable.ArrayBuffer.empty[T]
    var i = 0
    while (i < q.length) {
      val ch = q(i)
      if (ch.isWhitespace) i += 1
      else if (ch == '(') { ts += OpenT; i += 1 }
      else if (ch == ')') { ts += CloseT; i += 1 }
      else if (ch == '"') {
        val j = q.indexOf('"', i + 1)
        require(j >= 0, s"unterminated phrase quote in fulltext query: $q")
        val toks = tokenize(q.substring(i + 1, j))
        require(toks.nonEmpty, "empty phrase in fulltext query")
        ts += Cl(toks)
        i = j + 1
      } else if (ch == '-' && i + 1 < q.length && q(i + 1).isLetterOrDigit) {
        // Lucene's prohibit prefix: -term ≡ NOT term
        ts += NotT; i += 1
      } else {
        var j = i
        while (j < q.length && !q(j).isWhitespace && q(j) != '"' &&
          q(j) != '(' && q(j) != ')') j += 1
        val w = q.substring(i, j)
        if (w.equalsIgnoreCase("AND")) ts += AndT
        else if (w.equalsIgnoreCase("OR")) ts += OrT
        else if (w.equalsIgnoreCase("NOT")) ts += NotT
        else tokenize(w).foreach(t => ts += Cl(Seq(t)))
        i = j
      }
    }
    val clauses = scala.collection.mutable.ArrayBuffer.empty[Seq[String]]
    val cidOf = scala.collection.mutable.Map.empty[Seq[String], Int]
    var pos = 0
    def peek: Option[T] = if (pos < ts.length) Some(ts(pos)) else None
    def unit(): Option[FtNode] = peek match {
      case Some(NotT) =>
        pos += 1
        Some(FtNot(unit().getOrElse(throw new IllegalArgumentException(
          s"NOT needs a term, phrase or group to negate in fulltext query: $q"))))
      case Some(OpenT) =>
        pos += 1
        val e = expr()
        require(peek.contains(CloseT),
          s"unbalanced parenthesis in fulltext query: $q")
        pos += 1
        Some(e.getOrElse(throw new IllegalArgumentException(
          s"empty group '()' in fulltext query: $q")))
      case Some(Cl(toks)) =>
        pos += 1
        val cid = cidOf.getOrElseUpdate(toks,
          { clauses += toks; clauses.size - 1 })
        Some(FtLeaf(cid))
      case _ => None
    }
    def conj(): Option[FtNode] = {
      while (peek.contains(AndT)) pos += 1 // a leading AND degrades
      var acc = unit()
      var more = true
      while (more) peek match {
        case Some(AndT) =>
          pos += 1
          unit() match {
            case Some(u) => acc = acc.map(FtAnd(_, u)).orElse(Some(u))
            case None => more = false // dangling AND degrades
          }
        case _ => more = false
      }
      acc
    }
    def expr(): Option[FtNode] = {
      var acc = conj()
      var more = true
      while (more) peek match {
        case Some(CloseT) | None => more = false
        case Some(OrT) =>
          pos += 1
          conj() match {
            case Some(c) => acc = acc.map(FtOr(_, c)).orElse(Some(c))
            case None => more = false // dangling OR degrades
          }
        case _ => // juxtaposition is OR
          val before = pos
          conj() match {
            case Some(c) => acc = acc.map(FtOr(_, c)).orElse(Some(c))
            case None => more = false
          }
          if (pos == before) more = false // safety: no progress, stop
      }
      acc
    }
    val root = expr().getOrElse(throw new IllegalArgumentException(
      s"fulltext query '$q' contains no searchable terms"))
    require(pos >= ts.length,
      s"unbalanced parenthesis in fulltext query: $q")
    // a branch that matches a document containing NO query term would
    // match the whole corpus (Lucene returns nothing for pure-negative
    // queries) — reject loudly instead of silently scanning everything
    def matchesAbsent(n: FtNode): Boolean = n match {
      case FtLeaf(_) => false
      case FtAnd(l, r) => matchesAbsent(l) && matchesAbsent(r)
      case FtOr(l, r) => matchesAbsent(l) || matchesAbsent(r)
      case FtNot(e) => !matchesAbsent(e)
    }
    require(!matchesAbsent(root),
      s"fulltext query '$q' would match every document that contains " +
        "none of its terms (pure-negative branch) — add a non-negated " +
        "term or phrase")
    (root, clauses.toSeq)
  }
}
