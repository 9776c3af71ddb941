package graft.perfbench

import graft.Serve
import graft.cypher.{CypherMutation, CypherParser, CypherRows, CypherSession}
import graft.graph.{GraphStore, PropertyGraph}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import scala.collection.mutable
import scala.util.Random

/** `serve_read`: closed-loop Bolt reader clients over one generated news
  * store, uniform over five statement classes. The traced run adds a
  * one-client replay of every class, the reference crawler's upsert
  * among them, and the flush-on-stop. Every result is checked against
  * the generated corpus. */
object ServeBench {

  val ReadClasses: Seq[String] = Seq("readback", "lookup", "onehop", "vector", "fulltext")

  private val Stride = 1000000L
  private val Replicas = 8
  private val LinkPrefix = "https://news.example/a/"
  private val VectorIndex = "article_embedding"
  private val FulltextIndex = "article_title"
  /** Seconds of unmeasured load before the measured phase: per-class
    * latencies fall steeply over the first seconds of load, as the JIT
    * and Spark's code caches fill. */
  private val WarmupSeconds = 5

  // the reference's statements: the crawler's upsert, the read-back check
  val Upsert: String =
    """MERGE (a:Article {link: $link})
      |SET a.title = $title, a.content = $content, a.published_at = datetime()
      |WITH a
      |MERGE (p:Publisher {name: $publisher})
      |MERGE (a)-[:WRITTEN_BY]->(p)
      |RETURN a""".stripMargin
  val Readback = "MATCH (a:Article) RETURN a.title AS title LIMIT 5"
  val Lookup = "MATCH (a:Article {link: $l}) RETURN a.title AS title"
  val OneHop: String =
    "MATCH (a:Article {link: $l})-[r:WRITTEN_BY]->(p:Publisher) " +
      "RETURN a.title AS title, p.name AS publisher"
  val VectorQuery: String =
    s"CALL db.index.vector.queryNodes('$VectorIndex', 10, $$v) " +
      "YIELD node, score RETURN node.link AS link, score"
  val FulltextQuery: String =
    s"CALL db.index.fulltext.queryNodes('$FulltextIndex', $$q) " +
      "YIELD node, score RETURN node.title AS title, score LIMIT 10"

  final case class Article(link: String, title: String, publisher: String,
      embedding: Option[Vector[Double]])

  /** The store's contents, kept in the JVM as the checks' ground truth. */
  final class Corpus(val articles: Vector[Article]) {
    val embedded: Vector[Article] = articles.filter(_.embedding.isDefined)
    val publishers: Vector[String] = articles.map(_.publisher).distinct.sorted
    val vocabulary: Vector[String] = articles.take(5000)
      .flatMap(a => tokens(a.title)).distinct.sorted
  }

  def tokens(s: String): Seq[String] =
    s.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty).toSeq

  /** One generated statement with the check of its result. */
  final case class Stmt(cls: String, query: String, params: Map[String, Any],
      check: BoltClient.Result => Option[String])

  // ------------------------------------------------------------- store --

  /** Builds the store from the `documents`/`embeddings` fixture:
    * documents replicated ×8 with doc_ids striped by 1e6 (each replica's
    * words suffixed `_rK`, as the scale rehearsal derives them), one
    * Article per document, its Publisher, WRITTEN_BY, two CITES lattice
    * edges (+1/+3 within the stripe), and the 64-dim embedding on the
    * base-stripe articles that have one. Returns the graph, checkpointed. */
  def ingest(spark: SparkSession, dataDir: String): PropertyGraph = {
    val docs = graft.ops.Tables(spark, dataDir, "documents")
    val perStripe = docs.count()
    val rep = (0 until Replicas).map { k =>
      if (k == 0) docs.select("doc_id", "text", "lang", "source")
      else docs.select((col("doc_id") + lit(k * Stride)).as("doc_id"),
        regexp_replace(col("text"), "(\\S+)", s"$$1_r$k").as("text"),
        col("lang"), col("source"))
    }.reduce(_ unionByName _)
    val emb = graft.ops.Tables(spark, dataDir, "embeddings").select(
      col("vec_id").as("doc_id"),
      concat_ws(",", transform(col("embedding"),
        x => x.cast("double").cast("string"))).as("emb"))
    val link = concat(lit(LinkPrefix), col("doc_id").cast("string"))
    val arts = rep.join(emb, Seq("doc_id"), "left").select(
      col("doc_id"), link.as("link"), col("source"),
      map_filter(map(
        lit("title"), array_join(slice(split(col("text"), " "), 1, 5), " "),
        lit("lang"), col("lang"),
        lit("embedding"), col("emb")), (_, v) => v.isNotNull).as("props"))
    val nodes = arts.select(lit("Article").as("label"), col("link").as("key"), col("props"))
      .unionByName(docs.select(col("source")).distinct().select(lit("Publisher").as("label"),
        col("source").as("key"), typedlit(Map.empty[String, String]).as("props")))
    val noProps = typedlit(Map.empty[String, String])
    val written = arts.select(lit("Article").as("srcLabel"), col("link").as("srcKey"),
      lit("WRITTEN_BY").as("relType"), lit("Publisher").as("dstLabel"),
      col("source").as("dstKey"), noProps.as("props"))
    val cites = Seq(1L, 3L).map { d =>
      val base = col("doc_id") - pmod(col("doc_id"), lit(Stride))
      val dst = base + pmod(pmod(col("doc_id"), lit(Stride)) + d, lit(perStripe))
      arts.select(lit("Article").as("srcLabel"), col("link").as("srcKey"),
        lit("CITES").as("relType"), lit("Article").as("dstLabel"),
        concat(lit(LinkPrefix), dst.cast("string")).as("dstKey"), noProps.as("props"))
    }.reduce(_ unionByName _)
    val g = PropertyGraph.empty(spark).mergeNodes(nodes)
      .mergeEdgesByKey(written.unionByName(cites))
    PropertyGraph(g.nodes.localCheckpoint(true), g.edges.localCheckpoint(true))
  }

  /** The Article rows of a graph, with their publisher, as the corpus. */
  def corpusOf(g: PropertyGraph): Corpus = {
    val arts = g.nodes.filter(col("label") === "Article").select(col("id"), col("key"), col("props"))
    val pubs = g.nodes.filter(col("label") === "Publisher").select(col("id").as("dstId"), col("key").as("pub"))
    val rows = arts.join(g.edges.filter(col("relType") === "WRITTEN_BY")
        .select(col("srcId").as("id"), col("dstId")), "id")
      .join(pubs, "dstId")
      .select(col("key"), col("props")("title"), col("pub"), col("props")("embedding"))
      .collect()
    new Corpus(rows.toVector.map { r =>
      Article(r.getString(0), r.getString(1), r.getString(2),
        Option(r.getString(3)).map(_.split(',').toVector.map(_.toDouble)))
    }.sortBy(_.link))
  }

  private def dirBytes(path: String): Long = {
    val f = new java.io.File(path)
    if (f.isFile) f.length()
    else Option(f.listFiles()).toSeq.flatten.map(c => dirBytes(c.getPath)).sum
  }

  /** A booted server over a freshly written store, indexes built.
    * `groundTruthS` is the time set-up spent collecting the corpus for
    * the checks, work the program itself never does. */
  final class Deployment(val booted: Serve.Booted, val corpus: Corpus,
      val groundTruthS: Double) {
    def session: CypherSession = booted.session
    def port: Int = booted.boltPort
  }

  /** Ingest, store write, boot, index builds and warm-up; one set-up.
    * Layer times go into `times` by name. */
  def setUp(spark: SparkSession, dataDir: String, storeDir: String,
      times: mutable.Map[String, Double], seed: Long): Deployment = {
    def timed[T](name: String)(body: => T): T = {
      val t0 = System.nanoTime()
      val r = body
      times(name) = (System.nanoTime() - t0) / 1e9
      Probe.log(f"$name ${times(name)}%.2f")
      r
    }
    val g = timed("graph.ingest_s")(ingest(spark, dataDir))
    timed("graph.store_write_s")(GraphStore.write(g, storeDir))
    val inBytes = Seq("documents", "embeddings")
      .map(t => dirBytes(s"$dataDir/$t.parquet")).sum
    times("graph.store_bytes_per_input_byte") = dirBytes(storeDir).toDouble / inBytes
    val c0 = System.nanoTime()
    val corpus = corpusOf(g)
    val groundTruthS = (System.nanoTime() - c0) / 1e9
    val booted = timed("graph.boot_s")(Serve.boot(Map(
      "GRAFT_STORE_DIR" -> storeDir, "GRAFT_BOLT_PORT" -> "0",
      "GRAFT_HTTP_PORT" -> "0"), spark))
    val dep = new Deployment(booted, corpus, groundTruthS)
    try {
      timed("graph.index_build_s") {
        dep.session.run(s"CREATE FULLTEXT INDEX $FulltextIndex FOR (a:Article) ON EACH [a.title]")
        dep.session.run(s"CREATE VECTOR INDEX $VectorIndex FOR (a:Article) ON a.embedding " +
          "OPTIONS {indexConfig: {`vector.dimensions`: 64, " +
          "`vector.similarity_function`: 'cosine'}}")
        // snapshots build lazily on the first probe
        val rnd = new Random(seed)
        val c = new BoltClient(dep.port)
        try Seq("vector", "fulltext").foreach { cls =>
          val s = readStmt(cls, corpus, rnd); c.run(s.query, s.params)
        } finally c.close()
      }
      Probe.log("corpus and indexes ready")
      // warm-up: every class once over Bolt (JIT, codegen), unchecked
      val c = new BoltClient(dep.port)
      val rnd = new Random(seed + 1)
      try ReadClasses.foreach { cls => val s = readStmt(cls, corpus, rnd); c.run(s.query, s.params) }
      finally c.close()
      dep
    } catch { case t: Throwable => booted.stop(persist = false); throw t }
  }

  // -------------------------------------------------------- statements --

  /** A statement of class `cls` with its check. `ftKind` fixes the
    * fulltext query kind (0 term, 1 AND, 2 phrase) instead of drawing it. */
  def readStmt(cls: String, corpus: Corpus, rnd: Random, ftKind: Option[Int] = None): Stmt = {
    def pick[T](xs: Vector[T]): T = xs(rnd.nextInt(xs.size))
    cls match {
      case "readback" => Stmt(cls, Readback, Map.empty, r =>
        if (r.rows.size != 5 || r.rows.exists(row => row.head == null))
          Some(s"readback: want 5 non-null titles, got ${r.rows.map(_.head)}")
        else None)
      case "lookup" =>
        val a = pick(corpus.articles)
        Stmt(cls, Lookup, Map("l" -> a.link), r =>
          if (r.rows.map(_.head) == Vector(a.title)) None
          else Some(s"lookup ${a.link}: want ${a.title}, got ${r.rows}"))
      case "onehop" =>
        val a = pick(corpus.articles)
        Stmt(cls, OneHop, Map("l" -> a.link), r =>
          if (r.rows == Vector(Seq(a.title, a.publisher))) None
          else Some(s"onehop ${a.link}: want (${a.title}, ${a.publisher}), got ${r.rows}"))
      case "vector" =>
        val a = pick(corpus.embedded)
        Stmt(cls, VectorQuery, Map("v" -> a.embedding.get), r => {
          val top = r.rows.headOption
          // rank 1 is the query's own vector; an exact duplicate may tie it
          val ownScore = r.rows.collectFirst { case Seq(l, s: Double) if l == a.link => s }
          if (r.rows.isEmpty || r.rows.size > 10) Some(s"vector ${a.link}: ${r.rows.size} rows")
          else if (top.exists(_.head == a.link)) None
          else if (ownScore.isDefined && top.exists(_(1) == ownScore.get)) None
          else Some(s"vector ${a.link}: rank 1 is ${top.map(_.head)}")
        })
      case "fulltext" =>
        val toks = tokens(pick(corpus.articles).title).toVector
        val i = if (ftKind.contains(2)) rnd.nextInt(toks.size - 1) else rnd.nextInt(toks.size)
        val (q, ok): (String, Seq[String] => Boolean) = ftKind.getOrElse(rnd.nextInt(3)) match {
          case 0 => (toks(i), _.contains(toks(i)))
          case 1 =>
            val o = toks(rnd.nextInt(toks.size))
            (s"${toks(i)} AND $o", t => t.contains(toks(i)) && t.contains(o))
          case _ if i + 1 < toks.size =>
            val ph = Seq(toks(i), toks(i + 1))
            ("\"" + ph.mkString(" ") + "\"", _.sliding(2).contains(ph))
          case _ => (toks(i), _.contains(toks(i)))
        }
        Stmt(cls, FulltextQuery, Map("q" -> q), r => {
          val bad = r.rows.map(_.head.asInstanceOf[String]).filterNot(t => ok(tokens(t)))
          if (r.rows.isEmpty) Some(s"fulltext '$q': no hits")
          else if (r.rows.size > 10) Some(s"fulltext '$q': ${r.rows.size} rows over LIMIT 10")
          else if (bad.nonEmpty) Some(s"fulltext '$q': hits not matching: $bad")
          else None
        })
    }
  }

  /** The crawler's upserts: a new link, or a re-crawl of a link it already
    * wrote. `acked` holds every acknowledged link's latest title. */
  final class Crawler(seed: Long, corpus: Corpus) {
    private val rnd = new Random(seed * 7919 + 17)
    private var n = 0
    val acked: mutable.LinkedHashMap[String, (String, String)] = mutable.LinkedHashMap.empty

    /** The next upsert, and what to record once it is acknowledged. */
    def next(recrawl: Boolean): (Stmt, () => Unit) = {
      require(!recrawl || acked.nonEmpty, "a re-crawl needs an acknowledged link")
      n += 1
      val (link, publisher) =
        if (recrawl) { val l = acked.keys.toVector(rnd.nextInt(acked.size)); (l, acked(l)._2) }
        else (s"https://news.example/crawl/$seed/$n",
          corpus.publishers(rnd.nextInt(corpus.publishers.size)))
      val title = (Seq.fill(4)(corpus.vocabulary(rnd.nextInt(corpus.vocabulary.size))) :+ s"v$n")
        .mkString(" ")
      val params = Map[String, Any]("link" -> link, "title" -> title,
        "content" -> s"$title. crawled body $n", "publisher" -> publisher)
      val wantCreated = if (recrawl) 0L else 1L
      val stmt = Stmt(if (recrawl) "upsert_recrawl" else "upsert_new", Upsert, params, r =>
        if (r.stat("nodes-created") == wantCreated) None
        else Some(s"upsert $link: nodes-created ${r.stat("nodes-created")}, want $wantCreated"))
      (stmt, () => acked(link) = (title, publisher))
    }
  }

  // -------------------------------------------------------------- load --

  /** One completed statement: class, start offset into the phase, latency. */
  final case class Sample(cls: String, atS: Double, ms: Double)

  /** Closed loop until `deadlineNs`: each client sends its next statement
    * only after the previous one returned. Returns every completed
    * statement's latency and the phase's wall nanoseconds. */
  def load(dep: Deployment, readers: Int, seed: Long, deadlineNs: Long,
      report: Report, spans: Option[Probe.Spans]): (Vector[Sample], Long) = {
    val samples = mutable.ArrayBuffer.empty[Sample]
    val t0 = System.nanoTime()
    def client(id: Int)(gen: () => Stmt): Thread = new Thread(() => {
      val c = new BoltClient(dep.port)
      try while (System.nanoTime() < deadlineNs) {
        val s = gen()
        val a = System.nanoTime()
        val r = spans match {
          case Some(sp) => sp.span(sp.newTrace(), 0, s"bolt.${s.cls}")(_ => c.run(s.query, s.params))._1
          case None => c.run(s.query, s.params)
        }
        val ms = (System.nanoTime() - a) / 1e6
        report.check(r.error.map(e => s"${s.cls}: $e").orElse(s.check(r)))
        samples.synchronized(samples += Sample(s.cls, (a - t0) / 1e9, ms))
      } catch {
        // a broken connection ends this client and counts as one failure
        case scala.util.control.NonFatal(e) => report.check(Some(s"client $id: $e"))
      } finally c.close()
    }, s"perfbench-client-$id")
    val threads = (0 until readers).map { i =>
      val rnd = new Random(seed * 1000003L + i)
      // every block of five statements holds each class once, in a
      // seed-shuffled order, and fulltext statements cycle through the
      // three query kinds: the mix does not vary between runs
      val order = mutable.Queue.empty[String]
      var fulltexts = 0
      client(i) { () =>
        if (order.isEmpty) order ++= rnd.shuffle(ReadClasses)
        val cls = order.dequeue()
        val kind = if (cls == "fulltext") { fulltexts += 1; Some((i + fulltexts) % 3) } else None
        readStmt(cls, dep.corpus, rnd, kind)
      }
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    (samples.toVector, System.nanoTime() - t0)
  }

  // ---------------------------------------------------------- counters --

  final case class IndexCounters(vFull: Long, vInc: Long, fFull: Long, fInc: Long, compactions: Long) {
    def -(o: IndexCounters): IndexCounters = IndexCounters(vFull - o.vFull,
      vInc - o.vInc, fFull - o.fFull, fInc - o.fInc, compactions - o.compactions)
  }

  private def putIndex(report: Report, prefix: String, d: IndexCounters): Unit = {
    report.put(s"$prefix.vector.full_builds", d.vFull.toDouble, "count", 1)
    report.put(s"$prefix.vector.incremental", d.vInc.toDouble, "count", 1)
    report.put(s"$prefix.fulltext.full_builds", d.fFull.toDouble, "count", 1)
    report.put(s"$prefix.fulltext.incremental", d.fInc.toDouble, "count", 1)
    report.put(s"$prefix.compactions", d.compactions.toDouble, "count", 1)
    val builds = d.vFull + d.vInc + d.fFull + d.fInc
    report.put(s"$prefix.incremental_ratio",
      if (builds == 0) 0.0 else (d.vInc + d.fInc).toDouble / builds, "ratio", builds)
  }

  def indexCounters(s: CypherSession): IndexCounters = IndexCounters(
    s.vectorIndexFullBuilds.get, s.vectorIndexIncrementalUpdates.get,
    s.fulltextIndexFullBuilds.get, s.fulltextIndexIncrementalUpdates.get,
    s.vectorIndexCompactions.get + s.fulltextIndexCompactions.get)

  // ------------------------------------------------------------ replay --

  /** Per class, one client replays statements in process (parse, run,
    * drain) and then over Bolt, with the job listener counting. The write
    * classes `upsert_new` and `upsert_recrawl` run the crawler's upsert of
    * one kind on both paths. */
  def replay(spark: SparkSession, dep: Deployment, classes: Seq[String],
      crawler: Crawler, seed: Long, listener: JobListener, spans: Probe.Spans,
      report: Report, reps: Int): Unit = {
    val rnd = new Random(seed + 99)
    val c = new BoltClient(dep.port)
    try classes.foreach { cls =>
      val write = cls.startsWith("upsert_")
      val parse, compile, exec, bolt, gap = mutable.ArrayBuffer.empty[Double]
      val cnt = mutable.ArrayBuffer.empty[Counts]
      (0 until reps).foreach { rep =>
        // each fulltext query kind once, so the per-class medians compare
        // like with like across runs
        def gen(): (Stmt, () => Unit) = cls match {
          case "upsert_new" => crawler.next(recrawl = false)
          case "upsert_recrawl" => crawler.next(recrawl = true)
          case _ => (readStmt(cls, dep.corpus, rnd, Some(rep % 3).filter(_ => cls == "fulltext")), () => ())
        }
        def checked(what: String, s: Stmt, ack: () => Unit, r: BoltClient.Result): Unit = {
          val problem = r.error.map(e => s"$what: $e").orElse(s.check(r))
          report.check(problem)
          if (problem.isEmpty) ack()
        }
        // in process: parse, run (compile; writes execute here), drain. A
        // read runs once unmeasured first, so the in-process and the Bolt
        // execution that follow both find it warm.
        val (s1, ack1) = gen()
        if (!write) dep.session.run(s1.query, s1.params) match {
          case CypherRows(df) => df.collect()
          case _ => ()
        }
        val tr = spans.newTrace()
        spans.span(tr, 0, s"inproc.$cls") { id =>
          parse += spans.span(tr, id, "CypherParser.parse")(_ => CypherParser.parse(s1.query))._2 / 1e6
          val (res, runNs) = spans.span(tr, id, "CypherSession.run")(_ => dep.session.run(s1.query, s1.params))
          compile += runNs / 1e6
          // the in-process result, shaped as the Bolt client's, is checked too
          val asBolt = res match {
            case CypherRows(df) =>
              val (rows, ns) = spans.span(tr, id, "drain")(_ => df.collect())
              exec += ns / 1e6
              BoltClient.Result(rows.toVector.map(_.toSeq), Map.empty, None)
            case m: CypherMutation =>
              exec += 0.0
              BoltClient.Result(Vector.empty, Map("stats" -> Map("nodes-created" -> m.nodesCreated)), None)
            case other =>
              BoltClient.Result(Vector.empty, Map.empty, Some(s"unexpected ${other.getClass.getSimpleName}"))
          }
          checked(s"$cls in process", s1, ack1, asBolt)
        }
        // over Bolt, counted by the listener: a read replays the same
        // statement, a write the next upsert of the same kind
        val (s2, ack2) = if (write) gen() else (s1, ack1)
        Probe.settle(spark)
        val before = listener.counts
        val w0 = System.currentTimeMillis()
        val (r, ns) = spans.span(spans.newTrace(), 0, s"bolt.$cls")(_ => c.run(s2.query, s2.params))
        val w1 = System.currentTimeMillis()
        Probe.settle(spark)
        cnt += listener.counts - before
        gap += math.max(0L, (w1 - w0) - listener.jobCoveredMs(w0, w1)).toDouble
        bolt += ns / 1e6
        checked(cls, s2, ack2, r)
      }
      val n = reps.toLong
      // a read reports its median; a write its mean, the amortized cost:
      // the store compacts its merge lineage every few writes, so single
      // writes alternate between cheap ones and ones that pay for it
      def med(xs: Seq[Double]) = if (write) xs.sum / xs.size else Probe.median(xs)
      report.put(s"cypher.parse_ms.$cls", med(parse.toSeq), "ms", n)
      if (write) report.put(s"cypher.upsert_ms.${cls.stripPrefix("upsert_")}", med(compile.toSeq), "ms", n)
      else {
        report.put(s"cypher.compile_ms.$cls", med(compile.toSeq), "ms", n)
        report.put(s"cypher.exec_ms.$cls", med(exec.toSeq), "ms", n)
      }
      report.put(s"server.overhead_ms.$cls",
        med(bolt.toSeq) - med(compile.toSeq) - med(exec.toSeq), "ms", n)
      report.put(s"spark.jobs.$cls", med(cnt.map(_.jobs.toDouble).toSeq), "count", n)
      report.put(s"spark.stages.$cls", med(cnt.map(_.stages.toDouble).toSeq), "count", n)
      report.put(s"spark.tasks.$cls", med(cnt.map(_.tasks.toDouble).toSeq), "count", n)
      report.put(s"spark.shuffle_bytes.$cls", med(cnt.map(_.shuffleBytes.toDouble).toSeq), "bytes", n)
      report.put(s"spark.driver_gap_ms.$cls", med(gap.toSeq), "ms", n)
    } finally c.close()
  }

  // ---------------------------------------------------------- workload --

  def run(spark: SparkSession, dataDir: String, workDir: String, seed: Long,
      seconds: Int, trace: Boolean, report: Report, spans: Probe.Spans): Unit = {
    val cpus = Runtime.getRuntime.availableProcessors
    val clients = math.max(2, math.min(4, cpus))
    val times = mutable.LinkedHashMap.empty[String, Double]
    val t0 = System.nanoTime()
    val dep = setUp(spark, dataDir, s"$workDir/store", times, seed)
    report.put("setup_s", (System.nanoTime() - t0) / 1e9 - dep.groundTruthS, "s", 1)
    Probe.log("set-up done")
    val listener = new JobListener
    val stopped = new java.util.concurrent.atomic.AtomicBoolean(false)
    try {
      // warm-up: the same closed loop on another statement stream, results
      // checked, outside both set-up and the measured phase
      load(dep, clients, seed + 7777, System.nanoTime() + WarmupSeconds * 1000000000L, report, None)
      Probe.log("warm-up load done")
      val idx0 = indexCounters(dep.session)
      val gc0 = Probe.gcMs
      // the traced run measures the same phase with the listener counting
      // and every Bolt round trip recorded as a span
      if (trace) spark.sparkContext.addSparkListener(listener)
      val (c0, cb0, bk0) = (listener.counts, listener.callbackNanos, spans.bookkeepingNanos)
      val start = System.nanoTime()
      val (samples, wallNs) = load(dep, clients, seed, start + seconds * 1000000000L, report,
        if (trace) Some(spans) else None)
      report.put("throughput_ops_s", samples.size / (wallNs / 1e9), "1/s", samples.size)
      if (trace) {
        Probe.settle(spark)
        report.put("spark.executor_busy",
          (listener.counts - c0).executorRunMs / (wallNs / 1e6 * cpus), "ratio", 1)
        report.put("trace.overhead_pct", Probe.traceOverheadPct(listener.callbackNanos - cb0,
          spans.bookkeepingNanos - bk0, 0L, wallNs), "%", samples.size)
      }
      java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$workDir/statements.csv"),
        samples.sortBy(_.atS).map(x => f"${x.atS}%.3f,${x.cls},${x.ms}%.1f")
          .mkString("start_s,class,ms\n", "\n", "\n"))
      report.put("jvm.gc_ms", (Probe.gcMs - gc0).toDouble, "ms", 1)
      putIndex(report, "index", indexCounters(dep.session) - idx0)
      val reads = samples.map(_.ms)
      // the typical statement: the geometric mean of the class medians.
      // The pooled median falls between the fast and the slow classes,
      // where a few statements more of one class move it far; the
      // geometric mean weighs a change in each class alike.
      val byClass = samples.groupBy(_.cls).values.map(xs => Probe.median(xs.map(_.ms)))
      report.put("latency_ms", math.exp(byClass.map(math.log).sum / byClass.size), "ms", samples.size)
      report.put("serve.read_p50_ms", Probe.median(reads), "ms", reads.size)
      report.put("serve.read_p90_ms", Probe.quantile(reads, 0.9), "ms", reads.size)
      val writer = new Crawler(seed, dep.corpus)
      if (trace) {
        replay(spark, dep, ReadClasses, writer, seed, listener, spans, report, reps = 3)
        // the write path, then one probe per index: what the next reader
        // pays to bring each index up to date. Four reps of each kind span
        // whole lineage compaction cycles (one per two reps at the store's
        // merge depth of 8).
        val w0 = indexCounters(dep.session)
        replay(spark, dep, Seq("upsert_new", "upsert_recrawl"), writer, seed, listener, spans,
          report, reps = 4)
        val rnd = new Random(seed + 7)
        val c = new BoltClient(dep.port)
        try Seq("vector", "fulltext").foreach { cls =>
          val st = readStmt(cls, dep.corpus, rnd)
          val r = spans.span(spans.newTrace(), 0, s"bolt.$cls.after_writes")(_ => c.run(st.query, st.params))._1
          report.check(r.error.map(e => s"$cls after writes: $e").orElse(st.check(r)))
        } finally c.close()
        putIndex(report, "index.after_writes", indexCounters(dep.session) - w0)
        Probe.log("replay done")
      }
      // flush-on-stop, the durable write a serving process ends with,
      // whenever the run wrote
      val persist = writer.acked.nonEmpty
      val f0 = System.nanoTime()
      stopped.set(true)
      dep.booted.stop(persist)
      if (persist) report.put("graph.flush_s", (System.nanoTime() - f0) / 1e9, "s", 1)
      report.put("jvm.heap_retained_mb", Probe.heapRetainedMb, "MiB", 1)
      times.foreach { case (k, v) => report.put(k, v, if (k.endsWith("_s")) "s" else "ratio", 1) }
      // read the store back: every acknowledged upsert must be there, and
      // the generated articles must all survive
      val readStart = System.nanoTime()
      val stored = GraphStore.read(spark, dep.booted.storeDir).nodes
        .filter(col("label") === "Article")
        .select(col("key"), col("props")("title")).collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      report.put("graph.store_read_s", (System.nanoTime() - readStart) / 1e9, "s", 1)
      Probe.log("flush and read-back done")
      val acked = writer.acked.toMap
      report.check(
        if (stored.size == dep.corpus.articles.size + acked.size) None
        else Some(s"durability: ${stored.size} articles stored, want " +
          s"${dep.corpus.articles.size} generated + ${acked.size} upserted"))
      acked.foreach { case (link, (title, _)) =>
        report.check(
          if (stored.get(link).contains(title)) None
          else Some(s"durability: $link reads back ${stored.get(link)}, want $title"))
      }
    } finally {
      if (!stopped.get) dep.booted.stop(persist = false)
      spark.sparkContext.removeSparkListener(listener)
    }
  }
}
