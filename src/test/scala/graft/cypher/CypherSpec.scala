package graft.cypher

import graft.SparkTestBase
import graft.graph.PropertyGraph
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** The reference's complete query surface, run verbatim through the Cypher
  * front end (queries from /root/reference/main.py:17,
  * /root/reference/src/ingest.py:4-8, /root/reference/src/crwling.py:47-56,
  * /root/reference/cypher.txt:4-8).
  */
class CypherSpec extends SparkTestBase {
  import spark.implicits._

  private def freshSession = new CypherSession(
    PropertyGraph.empty(spark),
    clock = () => lit("2026-01-01 00:00:00")) // deterministic datetime()

  test("ingest.py seed upsert: 3-way MERGE with kwargs params, idempotent") {
    val sess = freshSession
    val q = """MERGE (u:User {name: $user_name})
              |MERGE (t:Tech {name: $tech_name})
              |MERGE (u)-[:INTERESTED_IN]->(t)""".stripMargin
    val r1 = sess.run(q, Map("user_name" -> "Beomzh", "tech_name" -> "GraphRAG"))
      .asInstanceOf[CypherMutation]
    assert(r1.nodesCreated === 2 && r1.nodesMatched === 0)
    val r2 = sess.run(q, Map("user_name" -> "Beomzh", "tech_name" -> "GraphRAG"))
      .asInstanceOf[CypherMutation]
    assert(r2.nodesCreated === 0 && r2.nodesMatched === 2)
    assert(sess.graph.nodes.count() === 2)
    assert(sess.graph.edges.count() === 1)
  }

  test("CALL db.* procedures: standalone, YIELD AS, WHERE, pipeline composition") {
    val sess = freshSession
    sess.run("""MERGE (u:User {name: 'alice'}) MERGE (t:Tech {name: 'spark'})
               |MERGE (u)-[:INTERESTED_IN]->(t)""".stripMargin)
    sess.run("MATCH (u:User {name: 'alice'}) SET u.role = 'admin'")
    // standalone CALL — implicit RETURN of the yielded column
    val labels = sess.run("CALL db.labels()")
      .asInstanceOf[CypherRows].df.as[String].collect().toSeq
    assert(labels === Seq("Tech", "User"))
    // YIELD with alias + WHERE filters like any bound scalar
    val rts = sess.run(
      """CALL db.relationshipTypes() YIELD relationshipType AS rt
        |WHERE rt STARTS WITH 'INTERESTED'
        |RETURN rt""".stripMargin)
      .asInstanceOf[CypherRows].df.as[String].collect().toSeq
    assert(rts === Seq("INTERESTED_IN"))
    // propertyKeys unions node + edge prop-map keys
    val keys = sess.run("CALL db.propertyKeys() YIELD propertyKey RETURN propertyKey")
      .asInstanceOf[CypherRows].df.as[String].collect().toSeq
    assert(keys.contains("name") && keys.contains("role"))
    // dbms.components answers the browser's connect handshake
    val comp = sess.run("CALL dbms.components() YIELD name, edition RETURN name, edition")
      .asInstanceOf[CypherRows].df.collect()
    assert(comp.length === 1 && comp.head.getString(1) === "community")
    // unknown procedure fails at parse with the supported list
    val err = intercept[IllegalArgumentException](sess.run("CALL db.bogus()"))
    assert(err.getMessage.contains("unknown procedure"))
  }

  test("CALL gds.* algorithm procedures: degree, wcc, pageRank over the session graph") {
    val sess = freshSession
    // star: alice→{spark, flink}, bob→{spark}; carol isolated
    sess.run("""MERGE (u:User {name: 'alice'}) MERGE (t:Tech {name: 'spark'})
               |MERGE (u)-[:INTERESTED_IN]->(t)""".stripMargin)
    sess.run("""MERGE (u:User {name: 'alice'}) MERGE (t:Tech {name: 'flink'})
               |MERGE (u)-[:INTERESTED_IN]->(t)""".stripMargin)
    sess.run("""MERGE (u:User {name: 'bob'}) MERGE (t:Tech {name: 'spark'})
               |MERGE (u)-[:INTERESTED_IN]->(t)""".stripMargin)
    sess.run("MERGE (u:User {name: 'carol'})")
    // undirected degree, 0 for the isolated node, composes with WHERE
    val deg = sess.run(
      """CALL gds.degree.stream() YIELD key, degree
        |RETURN key, degree ORDER BY key""".stripMargin)
      .asInstanceOf[CypherRows].df.as[(String, Long)].collect().toMap
    assert(deg === Map("alice" -> 2L, "bob" -> 1L, "carol" -> 0L,
      "spark" -> 2L, "flink" -> 1L))
    // wcc: one component {alice,bob,spark,flink} keyed by min key,
    // carol her own singleton
    val wcc = sess.run(
      """CALL gds.wcc.stream() YIELD key, componentKey
        |RETURN key, componentKey ORDER BY key""".stripMargin)
      .asInstanceOf[CypherRows].df.as[(String, String)].collect().toMap
    assert(wcc("alice") === "alice" && wcc("spark") === "alice" &&
      wcc("flink") === "alice" && wcc("bob") === "alice" &&
      wcc("carol") === "carol")
    // pageRank: the shared sink 'spark' outranks the single-source 'flink'
    val pr = sess.run(
      """CALL gds.pageRank.stream() YIELD key, score
        |RETURN key, score ORDER BY score DESC, key""".stripMargin)
      .asInstanceOf[CypherRows].df.as[(String, Double)].collect()
    assert(pr.head._1 === "spark")
    val byKey = pr.toMap
    assert(byKey("spark") > byKey("flink"))
  }

  test("CALL gds.* round-8 quartet: nodeSimilarity, labelPropagation, fastRP, hits") {
    val sess = freshSession
    // alice→{spark, flink}, bob→{spark, flink}, dave→{spark}
    for ((u, t) <- Seq("alice" -> "spark", "alice" -> "flink",
        "bob" -> "spark", "bob" -> "flink", "dave" -> "spark"))
      sess.run(s"""MERGE (u:User {name: '$u'}) MERGE (t:Tech {name: '$t'})
                  |MERGE (u)-[:INTERESTED_IN]->(t)""".stripMargin)
    // nodeSimilarity: alice/bob share both out-neighbors → 1.0;
    // alice/dave and bob/dave share spark only → 1/2. The full canonical
    // pair stream is the EXPLICIT {topK: 0} extension (r9: the
    // unconfigured call applies GDS's topK=10 default instead)
    val sim = sess.run(
      """CALL gds.nodeSimilarity.stream({topK: 0}) YIELD key1, key2, similarity
        |RETURN key1, key2, similarity ORDER BY key1, key2""".stripMargin)
      .asInstanceOf[CypherRows].df.as[(String, String, Double)].collect().toSeq
    assert(sim === Seq(("alice", "bob", 1.0), ("alice", "dave", 0.5),
      ("bob", "dave", 0.5)))
    // unconfigured = GDS defaults: per-node topK=10 stream, symmetric —
    // on 3 users that is every ordered pair once
    val simDefault = sess.run(
      """CALL gds.nodeSimilarity.stream() YIELD key1, key2, similarity
        |RETURN key1, key2, similarity ORDER BY key1, key2""".stripMargin)
      .asInstanceOf[CypherRows].df.as[(String, String, Double)].collect().toSeq
    assert(simDefault === Seq(("alice", "bob", 1.0), ("alice", "dave", 0.5),
      ("bob", "alice", 1.0), ("bob", "dave", 0.5),
      ("dave", "alice", 0.5), ("dave", "bob", 0.5)))
    // degreeCutoff excludes low-out-degree nodes from the comparison
    // (dave has out-degree 1): only the alice/bob pair survives
    val simCut = sess.run(
      """CALL gds.nodeSimilarity.stream({topK: 0, degreeCutoff: 2})
        |YIELD key1, key2, similarity
        |RETURN key1, key2, similarity ORDER BY key1, key2""".stripMargin)
      .asInstanceOf[CypherRows].df.as[(String, String, Double)].collect().toSeq
    assert(simCut === Seq(("alice", "bob", 1.0)))
    // similarityCutoff drops sub-threshold pairs before topK
    val simThr = sess.run(
      """CALL gds.nodeSimilarity.stream({topK: 0, similarityCutoff: 0.75})
        |YIELD key1, key2, similarity
        |RETURN key1, key2, similarity ORDER BY key1, key2""".stripMargin)
      .asInstanceOf[CypherRows].df.as[(String, String, Double)].collect().toSeq
    assert(simThr === Seq(("alice", "bob", 1.0)))
    // labelPropagation composes through a WITH aggregation horizon:
    // one connected component, 2 deterministic rounds
    val lp = sess.run(
      """CALL gds.labelPropagation.stream() YIELD communityKey
        |WITH communityKey, count(*) AS size
        |RETURN communityKey, size ORDER BY size DESC, communityKey""".stripMargin)
      .asInstanceOf[CypherRows].df.as[(String, Long)].collect().toSeq
    assert(lp.map(_._2).sum === 5L, lp.toString)
    // fastRP: exact integers, deterministic across runs, all nodes.
    // embeddingDimension is mandatory (as in GDS) — r9 rejects the
    // unconfigured form instead of silently running a tiny geometry
    val rp1 = sess.run(
      """CALL gds.fastRP.stream({embeddingDimension: 4}) YIELD key, e0, e1, e2, e3
        |RETURN key, e0, e1, e2, e3 ORDER BY key""".stripMargin)
      .asInstanceOf[CypherRows].df.collect().toSeq
    val rp2 = sess.run(
      """CALL gds.fastRP.stream({embeddingDimension: 4}) YIELD key, e0, e1, e2, e3
        |RETURN key, e0, e1, e2, e3 ORDER BY key""".stripMargin)
      .asInstanceOf[CypherRows].df.collect().toSeq
    assert(rp1 === rp2 && rp1.length === 5)
    val rpErr = intercept[IllegalArgumentException](sess.run(
      "CALL gds.fastRP.stream() YIELD key, e0 RETURN key, e0"))
    assert(rpErr.getMessage.contains("embeddingDimension"))
    // config map: {topK: 1} keeps each node's single most similar
    // neighbor (both directions, ties to smallest key)
    val top1 = sess.run(
      """CALL gds.nodeSimilarity.stream({topK: 1}) YIELD key1, key2, similarity
        |RETURN key1, key2, similarity ORDER BY key1""".stripMargin)
      .asInstanceOf[CypherRows].df.as[(String, String, Double)].collect().toSeq
    assert(top1 === Seq(("alice", "bob", 1.0), ("bob", "alice", 1.0),
      ("dave", "alice", 0.5)))
    // {maxIterations: 1} stops LPA after its round-1 min step — every
    // node adopts its minimum neighbor key, so 'alice' (the smallest
    // user) labels both her techs while she adopts 'flink'
    val lp1 = sess.run(
      """CALL gds.labelPropagation.stream({maxIterations: 1}) YIELD key, communityKey
        |RETURN key, communityKey ORDER BY key""".stripMargin)
      .asInstanceOf[CypherRows].df.as[(String, String)].collect().toMap
    assert(lp1("spark") === "alice" && lp1("flink") === "alice" &&
      lp1("alice") === "flink")
    // a non-literal config value is rejected at parse time
    val cfgErr = intercept[IllegalArgumentException](sess.run(
      "CALL gds.nodeSimilarity.stream({topK: x}) YIELD key1 RETURN key1"))
    assert(cfgErr.getMessage.contains("literal"))
    // ADVICE r8 #5: config numeral robustness — an exponent numeral is a
    // Double, and a present-but-mistyped key RAISES instead of silently
    // falling back to the default
    for (bad <- Seq("1e3", "1.5")) {
      val typeErr = intercept[IllegalArgumentException](sess.run(
        s"CALL gds.nodeSimilarity.stream({topK: $bad}) YIELD key1 RETURN key1"))
      assert(typeErr.getMessage.contains("must be an integer"), bad)
    }
    // negative literals lex as Sym(-)+Num and negate; a negative topK is
    // rejected by the procedure, not a raw parse crash
    val negErr = intercept[IllegalArgumentException](sess.run(
      "CALL gds.nodeSimilarity.stream({topK: -1}) YIELD key1 RETURN key1"))
    assert(negErr.getMessage.contains("topK must be >= 0"))
    // similarityCutoff accepts exponent-form doubles ({…: 1e-1})
    val simExp = sess.run(
      """CALL gds.nodeSimilarity.stream({topK: 0, similarityCutoff: 1e-1})
        |YIELD key1 RETURN count(*) AS n""".stripMargin)
      .asInstanceOf[CypherRows].df.as[Long].collect().head
    assert(simExp === 3L)
    // hits on the directed user→tech graph: after 2 rounds the shared
    // sink 'spark' is the top authority; users split hub mass by reach.
    // hitsIterations is mandatory (r9): the exact-integer design cannot
    // replay GDS's default 20 rounds, so the budget must be explicit
    val hitsErr = intercept[IllegalArgumentException](sess.run(
      "CALL gds.hits.stream() YIELD key RETURN key"))
    assert(hitsErr.getMessage.contains("hitsIterations"))
    val hits = sess.run(
      """CALL gds.hits.stream({hitsIterations: 2}) YIELD key, authority, hub
        |RETURN key, authority, hub
        |ORDER BY authority DESC, hub DESC, key""".stripMargin)
      .asInstanceOf[CypherRows].df.as[(String, Double, Double)].collect()
    assert(hits.head._1 === "spark" && hits.head._2 === 1.0)
    val hubs = hits.map(r => r._1 -> r._3).toMap
    assert(hubs("alice") === 1.0 && hubs("bob") === 1.0 &&
      hubs("dave") < 1.0 && hubs("spark") === 0.0)
  }

  test("GDS named graph projections: project/list/drop lifecycle, filtered streams, snapshot isolation") {
    val sess = freshSession
    // two relationship types over three labels: User-INTERESTED_IN->Tech
    // and User-KNOWS->User
    sess.runScript(
      """MERGE (a:User {name: 'alice'}) MERGE (t:Tech {name: 'spark'})
        |MERGE (a)-[:INTERESTED_IN]->(t);
        |MERGE (b:User {name: 'bob'}) MERGE (t:Tech {name: 'spark'})
        |MERGE (b)-[:INTERESTED_IN]->(t);
        |MERGE (b2:User {name: 'bob'}) MERGE (t2:Tech {name: 'flink'})
        |MERGE (b2)-[:INTERESTED_IN]->(t2);
        |MERGE (a2:User {name: 'alice'}) MERGE (b3:User {name: 'bob'})
        |MERGE (a2)-[:KNOWS]->(b3)""".stripMargin)
    // project the social (User/KNOWS) subgraph
    val proj = sess.run(
      """CALL gds.graph.project('social', 'User', 'KNOWS')
        |YIELD graphName, nodeCount, relationshipCount
        |RETURN graphName, nodeCount, relationshipCount""".stripMargin)
      .asInstanceOf[CypherRows].df.as[(String, Long, Long)].collect().head
    assert(proj === ("social", 2L, 1L))
    // degree over the projection sees ONLY the KNOWS edge — on the whole
    // store alice has degree 2 (INTERESTED_IN + KNOWS)
    val deg = sess.run(
      """CALL gds.degree.stream('social') YIELD key, degree
        |RETURN key, degree ORDER BY key""".stripMargin)
      .asInstanceOf[CypherRows].df.as[(String, Long)].collect().toSeq
    assert(deg === Seq(("alice", 1L), ("bob", 1L)))
    // label-list projection: whole bipartite interest graph
    sess.run("CALL gds.graph.project('interest', ['User', 'Tech'], 'INTERESTED_IN')")
    val wcc = sess.run(
      """CALL gds.wcc.stream('interest') YIELD key, componentKey
        |RETURN componentKey, count(*) AS size ORDER BY componentKey""".stripMargin)
      .asInstanceOf[CypherRows].df.as[(String, Long)].collect().toSeq
    assert(wcc === Seq(("alice", 4L))) // one component: alice,bob,spark,flink
    // '*' specs project the whole store
    val all = sess.run("CALL gds.graph.project('everything', '*', '*')")
      .asInstanceOf[CypherRows].df.as[(String, Long, Long)].collect().head
    assert(all === ("everything", 4L, 4L))
    // list is sorted by name and reflects project-time counts
    val listed = sess.run(
      "CALL gds.graph.list() YIELD graphName RETURN graphName")
      .asInstanceOf[CypherRows].df.as[String].collect().toSeq
    assert(listed === Seq("everything", "interest", "social"))
    // SNAPSHOT isolation: a later write does not leak into the projection
    sess.run("""MERGE (c:User {name: 'carol'}) MERGE (b:User {name: 'bob'})
               |MERGE (c)-[:KNOWS]->(b)""".stripMargin)
    val deg2 = sess.run(
      """CALL gds.degree.stream('social') YIELD key RETURN count(*) AS n""")
      .asInstanceOf[CypherRows].df.as[Long].collect().head
    assert(deg2 === 2L) // still the 2-node snapshot, not 3
    // drop removes; dropped and unknown names fail typed
    val dropped = sess.run("CALL gds.graph.drop('social')")
      .asInstanceOf[CypherRows].df.as[String].collect().head
    assert(dropped === "social")
    val gone = intercept[IllegalArgumentException](
      sess.run("CALL gds.pageRank.stream('social') YIELD key RETURN key"))
    assert(gone.getMessage.contains("does not exist"))
    val dupErr = intercept[IllegalArgumentException](
      sess.run("CALL gds.graph.project('interest', '*', '*')"))
    assert(dupErr.getMessage.contains("already exists"))
    // typos in the projection specs fail typed, not as empty projections
    val badLabel = intercept[IllegalArgumentException](
      sess.run("CALL gds.graph.project('x', 'Userz', '*')"))
    assert(badLabel.getMessage.contains("unknown label"))
    val badRel = intercept[IllegalArgumentException](
      sess.run("CALL gds.graph.project('x', '*', 'KNOWZ')"))
    assert(badRel.getMessage.contains("unknown type"))
    // a non-graph-management procedure takes no positional arguments
    val noArgs = intercept[IllegalArgumentException](
      sess.run("CALL db.labels('social') YIELD label RETURN label"))
    assert(noArgs.getMessage.contains("no positional arguments"))
  }

  test("gds.graph.project from two threads on one session: exactly one registers the name") {
    val sess = freshSession
    sess.run("""MERGE (a:N {name: 'a'}) MERGE (b:N {name: 'b'})
               |MERGE (a)-[:L]->(b)""".stripMargin)
    // the catalog check and insert have two count jobs between them; the
    // session write lock serializes the calls so the second sees the first
    val start = new java.util.concurrent.CountDownLatch(1)
    val outcomes = new java.util.concurrent.ConcurrentLinkedQueue[scala.util.Try[_]]()
    val threads = (1 to 2).map { _ =>
      val t = new Thread(() => {
        start.await()
        outcomes.add(scala.util.Try(
          sess.run("CALL gds.graph.project('g', '*', '*')")))
      })
      t.start(); t
    }
    start.countDown()
    threads.foreach(_.join(300000))
    import scala.jdk.CollectionConverters._
    val done = outcomes.asScala.toSeq
    assert(done.size === 2)
    assert(done.count(_.isSuccess) === 1, done)
    val err = done.flatMap(_.failed.toOption).head
    assert(err.getMessage.contains("already exists"), err.getMessage)
  }

  test("multi-label patterns and SET n:Label reject typed, citing the single-label model") {
    val sess = freshSession
    sess.run("MERGE (u:User {name: 'alice'})")
    // MATCH (n:A:B) — typed rejection, not a generic parse failure
    val m = intercept[IllegalArgumentException](
      sess.run("MATCH (n:User:Admin) RETURN n"))
    assert(m.getMessage.contains("multi-label") &&
      m.getMessage.contains("exactly one label"), m.getMessage)
    // MERGE/CREATE patterns route through the same node-pattern grammar
    val c = intercept[IllegalArgumentException](
      sess.run("CREATE (n:User:Admin {name: 'bob'})"))
    assert(c.getMessage.contains("multi-label"), c.getMessage)
    // SET n:Extra — label mutation rejected with the property guidance
    val s2 = intercept[IllegalArgumentException](
      sess.run("MATCH (n:User) SET n:Admin"))
    assert(s2.getMessage.contains("exactly one immutable label"),
      s2.getMessage)
    // the store is untouched by the rejected statements
    assert(sess.graph.nodes.count() === 1)
  }

  test("round-10: gds.*.write persists node properties readable by MATCH") {
    val sess = freshSession
    sess.run("""MERGE (u:User {name: 'alice'}) MERGE (t:Tech {name: 'spark'})
               |MERGE (u)-[:INTERESTED_IN]->(t)""".stripMargin)
    sess.run("""MERGE (u:User {name: 'bob'}) MERGE (t:Tech {name: 'spark'})
               |MERGE (u)-[:INTERESTED_IN]->(t)""".stripMargin)
    sess.run("MERGE (u:User {name: 'carol'})")
    // degree.write: summary counters, then the property is an ordinary
    // property to any later MATCH
    val dw = sess.run("CALL gds.degree.write({writeProperty: 'deg'})")
      .asInstanceOf[CypherRows].df.collect().head
    assert(dw.getLong(0) === 4L && dw.getString(1) === "deg")
    val degs = sess.run(
      """MATCH (n:User) RETURN n.name AS name, toInteger(n.deg) AS d
        |ORDER BY name""".stripMargin)
      .asInstanceOf[CypherRows].df.as[(String, Long)].collect().toSeq
    assert(degs === Seq(("alice", 1L), ("bob", 1L), ("carol", 0L)))
    // wcc.write: componentCount counter + min-member-key identity
    val cw = sess.run("CALL gds.wcc.write({writeProperty: 'comp'})")
      .asInstanceOf[CypherRows].df.collect().head
    assert(cw.getLong(0) === 4L && cw.getLong(1) === 2L &&
      cw.getString(2) === "comp")
    val comps = sess.run(
      "MATCH (n) RETURN n.name AS name, n.comp AS c ORDER BY name")
      .asInstanceOf[CypherRows].df.as[(String, String)].collect().toMap
    assert(comps("alice") === "alice" && comps("spark") === "alice" &&
      comps("bob") === "alice" && comps("carol") === "carol")
    // overwriting the SAME property re-writes cleanly (the map rewrite
    // drops the old key before concat — no duplicate-map-key failure)
    sess.run("""MERGE (u:User {name: 'carol'}) MERGE (t:Tech {name: 'flink'})
               |MERGE (u)-[:INTERESTED_IN]->(t)""".stripMargin)
    sess.run("CALL gds.degree.write({writeProperty: 'deg'})")
    val carol = sess.run(
      "MATCH (n:User {name: 'carol'}) RETURN toInteger(n.deg) AS d")
      .asInstanceOf[CypherRows].df.as[Long].collect().head
    assert(carol === 1L)
    // write over a NAMED projection touches only the projected node set
    sess.run("CALL gds.graph.project('users', 'User', '*')")
    val pw = sess.run("CALL gds.degree.write('users', {writeProperty: 'udeg'})")
      .asInstanceOf[CypherRows].df.collect().head
    assert(pw.getLong(0) === 3L) // alice, bob, carol — never the Tech nodes
    val untouched = sess.run(
      "MATCH (t:Tech) WHERE t.udeg IS NULL RETURN count(*) AS n")
      .asInstanceOf[CypherRows].df.as[Long].collect().head
    assert(untouched === 2L)
    // pageRank.write rides the same machinery with stream's 6-dp contract:
    // write-then-MATCH reads exactly what gds.pageRank.stream yields
    sess.run("CALL gds.pageRank.write({writeProperty: 'pr'})")
    val written = sess.run(
      "MATCH (n) RETURN n.name AS name, n.pr AS pr ORDER BY name")
      .asInstanceOf[CypherRows].df.as[(String, String)].collect().toMap
    val streamed = sess.run(
      "CALL gds.pageRank.stream() YIELD key, score RETURN key, score")
      .asInstanceOf[CypherRows].df.as[(String, Double)].collect().toMap
    assert(streamed.forall { case (k, v) => written(k).toDouble == v },
      s"written=$written streamed=$streamed")
    // typed reject: a write procedure without its writeProperty
    val noWp = intercept[IllegalArgumentException](
      sess.run("CALL gds.wcc.write()"))
    assert(noWp.getMessage.contains("writeProperty"), noWp.getMessage)
  }

  test("round-10: gds dijkstra — converged fixpoint, bounded form, typed rejects") {
    // weighted diamond: the 2-hop a→b→c (cost 2) beats the direct a→c
    // (cost 5); d hangs off c. Edge weights ride in props.w.
    val nodes = Seq("a", "b", "c", "d").toDF("key")
      .select(lit("N").as("label"), col("key"),
        typedlit(Map.empty[String, String]).as("props"))
    val edges = Seq(("a", "b", "1"), ("b", "c", "1"), ("a", "c", "5"),
        ("c", "d", "7")).toDF("srcKey", "dstKey", "w")
      .select(lit("N").as("srcLabel"), col("srcKey"),
        lit("R").as("relType"), lit("N").as("dstLabel"), col("dstKey"),
        map(lit("w"), col("w")).as("props"))
    val g = PropertyGraph.empty(spark).mergeNodes(nodes).mergeEdgesByKey(edges)
    val sess = new CypherSession(g, keyProps = Map("N" -> "name"))
    // unconfigured = frontier rounds to the fixpoint (the dijkstra answer)
    val exact = sess.run(
      """CALL gds.allShortestPaths.dijkstra.stream(
        |  {sourceNode: 'a', relationshipWeightProperty: 'w'})
        |YIELD targetKey, totalCost
        |RETURN targetKey, totalCost ORDER BY targetKey""".stripMargin)
      .asInstanceOf[CypherRows].df.as[(String, Long)].collect().toMap
    assert(exact === Map("a" -> 0L, "b" -> 1L, "c" -> 2L, "d" -> 9L))
    // {maxIterations: 1} = bounded ≤1-edge-path semantics (x07's form):
    // c costs 5 via the direct edge, d is not reached at all
    val bounded = sess.run(
      """CALL gds.allShortestPaths.dijkstra.stream(
        |  {sourceNode: 'a', relationshipWeightProperty: 'w',
        |   maxIterations: 1})
        |YIELD targetKey, totalCost
        |RETURN targetKey, totalCost ORDER BY targetKey""".stripMargin)
      .asInstanceOf[CypherRows].df.as[(String, Long)].collect().toMap
    assert(bounded === Map("a" -> 0L, "b" -> 1L, "c" -> 5L))
    // no relationshipWeightProperty → every edge costs 1 (hop counts)
    val hops = sess.run(
      """CALL gds.allShortestPaths.dijkstra.stream({sourceNode: 'a'})
        |YIELD targetKey, totalCost
        |RETURN targetKey, totalCost ORDER BY targetKey""".stripMargin)
      .asInstanceOf[CypherRows].df.as[(String, Long)].collect().toMap
    assert(hops === Map("a" -> 0L, "b" -> 1L, "c" -> 1L, "d" -> 2L))
    // source→target form: exactly the one row; unreachable = empty stream
    val one = sess.run(
      """CALL gds.shortestPath.dijkstra.stream(
        |  {sourceNode: 'a', targetNode: 'd',
        |   relationshipWeightProperty: 'w'})
        |YIELD sourceKey, targetKey, totalCost
        |RETURN sourceKey, targetKey, totalCost""".stripMargin)
      .asInstanceOf[CypherRows].df.as[(String, String, Long)].collect().toSeq
    assert(one === Seq(("a", "d", 9L)))
    val unreachable = sess.run(
      """CALL gds.shortestPath.dijkstra.stream(
        |  {sourceNode: 'd', targetNode: 'a'})
        |YIELD targetKey RETURN targetKey""".stripMargin)
      .asInstanceOf[CypherRows].df.count()
    assert(unreachable === 0L)
    val noTarget = intercept[IllegalArgumentException](sess.run(
      "CALL gds.shortestPath.dijkstra.stream({sourceNode: 'a'})"))
    assert(noTarget.getMessage.contains("targetNode"), noTarget.getMessage)
    // typed rejects: missing sourceNode; a key that matches no node
    val noSrc = intercept[IllegalArgumentException](
      sess.run("CALL gds.allShortestPaths.dijkstra.stream()"))
    assert(noSrc.getMessage.contains("sourceNode"), noSrc.getMessage)
    val ghost = intercept[IllegalArgumentException](sess.run(
      "CALL gds.allShortestPaths.dijkstra.stream({sourceNode: 'zz'})"))
    assert(ghost.getMessage.contains("matches 0 node"), ghost.getMessage)
  }

  test("round-10: gds triangle census — counts, coefficients, undirected simple view") {
    val sess = freshSession
    // triangle {a,b,c} + pendant d off c; the reversed duplicate b→a must
    // NOT change anything (undirected simple view: direction and parallel
    // edges ignored)
    Seq(("a", "b"), ("b", "c"), ("a", "c"), ("c", "d"), ("b", "a"))
      .foreach { case (s1, d1) =>
        sess.run(s"""MERGE (x:N {name: '$s1'}) MERGE (y:N {name: '$d1'})
                    |MERGE (x)-[:L]->(y)""".stripMargin)
      }
    val tc = sess.run(
      """CALL gds.triangleCount.stream() YIELD key, triangleCount
        |RETURN key, triangleCount ORDER BY key""".stripMargin)
      .asInstanceOf[CypherRows].df.as[(String, Long)].collect().toMap
    assert(tc === Map("a" -> 1L, "b" -> 1L, "c" -> 1L, "d" -> 0L))
    val lcc = sess.run(
      """CALL gds.localClusteringCoefficient.stream()
        |YIELD key, localClusteringCoefficient AS c
        |RETURN key, c ORDER BY key""".stripMargin)
      .asInstanceOf[CypherRows].df.as[(String, Double)].collect().toMap
    assert(lcc("a") === 1.0 && lcc("b") === 1.0)
    assert(math.abs(lcc("c") - 2.0 / 6.0) < 1e-15)
    assert(lcc("d") === 0.0)
  }

  test("round-10: gds.scc.stream — directed cycles merge, one-way edges do not") {
    val sess = freshSession
    // directed 3-cycle a→b→c→a plus a one-way spur a→d: SCC {a,b,c}
    // keyed by min member, d a singleton — where WCC would merge all four
    Seq(("a", "b"), ("b", "c"), ("c", "a"), ("a", "d")).foreach {
      case (s1, d1) =>
        sess.run(s"""MERGE (x:N {name: '$s1'}) MERGE (y:N {name: '$d1'})
                    |MERGE (x)-[:L]->(y)""".stripMargin)
    }
    val scc = sess.run(
      """CALL gds.scc.stream() YIELD key, componentKey
        |RETURN key, componentKey ORDER BY key""".stripMargin)
      .asInstanceOf[CypherRows].df.as[(String, String)].collect().toMap
    assert(scc === Map("a" -> "a", "b" -> "a", "c" -> "a", "d" -> "d"))
    val wcc = sess.run(
      "CALL gds.wcc.stream() YIELD componentKey RETURN DISTINCT componentKey")
      .asInstanceOf[CypherRows].df.count()
    assert(wcc === 1L) // the undirected view IS one component
  }

  test("round-10: uniqueness constraints — create/validate/enforce/show/drop") {
    val sess = freshSession
    sess.run("MERGE (u:User {name: 'alice'})")
    sess.run("MATCH (u:User {name: 'alice'}) SET u.mail = 'a@x.io'")
    sess.run("MERGE (u:User {name: 'bob'})")
    sess.run("MATCH (u:User {name: 'bob'}) SET u.mail = 'b@x.io'")
    // on the KEY property: satisfied by construction (no data scan needed)
    val r1 = sess.run("CREATE CONSTRAINT FOR (u:User) REQUIRE u.name IS UNIQUE")
      .asInstanceOf[CypherRows].df.as[(String, Boolean)].collect().head
    assert(r1 === (("uniq_User_name", true)))
    // named + non-key property: validated against the live data
    sess.run("CREATE CONSTRAINT user_mail FOR (u:User) REQUIRE u.mail IS UNIQUE")
    val shown = sess.run("SHOW CONSTRAINTS").asInstanceOf[CypherRows]
      .df.as[(String, String, String, String, String)].collect().toSeq
    assert(shown === Seq(
      ("uniq_User_name", "UNIQUENESS", "NODE", "User", "name"),
      ("user_mail", "UNIQUENESS", "NODE", "User", "mail")))
    // duplicate creation fails typed; IF NOT EXISTS is a no-op
    val dup = intercept[IllegalArgumentException](
      sess.run("CREATE CONSTRAINT FOR (u:User) REQUIRE u.name IS UNIQUE"))
    assert(dup.getMessage.contains("already exists"), dup.getMessage)
    val noop = sess.run(
      "CREATE CONSTRAINT IF NOT EXISTS FOR (u:User) REQUIRE u.name IS UNIQUE")
      .asInstanceOf[CypherRows].df.as[(String, Boolean)].collect().head
    assert(noop._2 === false)
    // CREATE of a duplicate key now fails loudly — without the constraint
    // the append-only path would sequence-salt a second instance
    val viol = intercept[IllegalStateException](
      sess.run("CREATE (u:User {name: 'alice'})"))
    assert(viol.getMessage.contains("uniq_User_name") &&
      viol.getMessage.contains("alice"), viol.getMessage)
    // MERGE is untouched — it matches, never duplicates
    sess.run("MERGE (u:User {name: 'alice'})")
    assert(sess.graph.nodes.filter($"label" === "User").count() === 2)
    // validation rejects a live non-unique property
    sess.run("MATCH (u:User) SET u.lang = 'en'")
    val bad = intercept[IllegalStateException](
      sess.run("CREATE CONSTRAINT FOR (u:User) REQUIRE u.lang IS UNIQUE"))
    assert(bad.getMessage.contains("not unique"), bad.getMessage)
    // SET that duplicates a constrained non-key value fails at commit and
    // the store is UNTOUCHED (Neo4j's rolled-back-transaction behavior)
    val setViol = intercept[IllegalStateException](
      sess.run("MATCH (u:User {name: 'bob'}) SET u.mail = 'a@x.io'"))
    assert(setViol.getMessage.contains("user_mail"), setViol.getMessage)
    val bobMail = sess.run(
      "MATCH (u:User {name: 'bob'}) RETURN u.mail AS m")
      .asInstanceOf[CypherRows].df.as[String].collect().head
    assert(bobMail === "b@x.io")
    // DROP removes enforcement; unknown name fails typed unless IF EXISTS
    sess.run("DROP CONSTRAINT uniq_User_name")
    sess.run("CREATE (u:User {name: 'alice'})")
    assert(sess.graph.nodes.filter($"label" === "User").count() === 3)
    val ghost = intercept[IllegalArgumentException](
      sess.run("DROP CONSTRAINT nope"))
    assert(ghost.getMessage.contains("no such constraint"), ghost.getMessage)
    sess.run("DROP CONSTRAINT nope IF EXISTS")
    // only IS UNIQUE is supported — other REQUIRE forms reject typed
    val notnull = intercept[IllegalArgumentException](sess.run(
      "CREATE CONSTRAINT FOR (u:User) REQUIRE u.name IS NOT NULL"))
    assert(notnull.getMessage.contains("IS UNIQUE"), notnull.getMessage)
  }

  test("round-10: schema introspection — node/rel type properties, SHOW INDEXES, elementId") {
    val sess = freshSession
    sess.run("""MERGE (u:User {name: 'alice'}) MERGE (t:Tech {name: 'spark'})
               |MERGE (u)-[:INTERESTED_IN]->(t)""".stripMargin)
    sess.run("MATCH (u:User {name: 'alice'}) SET u.role = 'admin'")
    sess.run("MERGE (u:User {name: 'bob'})")
    // node inventory: key props mandatory; role exists on 1 of 2 users
    val ntp = sess.run("CALL db.schema.nodeTypeProperties()")
      .asInstanceOf[CypherRows].df
      .as[(String, String, String, String, Boolean)].collect().toSeq
    assert(ntp === Seq(
      (":`Tech`", "Tech", "name", "String", true),
      (":`User`", "User", "name", "String", true),
      (":`User`", "User", "role", "String", false)))
    // rel inventory: a property-carrying type + a bare type's null row
    sess.run("""MERGE (u:User {name: 'alice'}) MERGE (t:Tech {name: 'spark'})
               |MERGE (u)-[:KNOWS {since: '2020'}]->(t)""".stripMargin)
    val rtp = sess.run("CALL db.schema.relTypeProperties()")
      .asInstanceOf[CypherRows].df.collect().toSeq
      .map(r => (r.getString(0), Option(r.getString(1)),
        Option(r.getString(2))))
    assert(rtp === Seq(
      (":`INTERESTED_IN`", None, None),
      (":`KNOWS`", Some("since"), Some("String"))))
    // SHOW INDEXES: the label-LOOKUP row always; a RANGE backing row
    // appears with its owning constraint
    val idx0 = sess.run("SHOW INDEXES").asInstanceOf[CypherRows].df
      .select("name", "type").as[(String, String)].collect().toSeq
    assert(idx0 === Seq(("node_label_lookup", "LOOKUP")))
    sess.run("CREATE CONSTRAINT FOR (u:User) REQUIRE u.name IS UNIQUE")
    val idx1 = sess.run("SHOW INDEXES").asInstanceOf[CypherRows].df
      .select("name", "type", "labelOrType", "owningConstraint")
      .collect().map(r => (r.getString(0), r.getString(1),
        Option(r.getString(2)), Option(r.getString(3)))).toSeq
    assert(idx1 === Seq(
      ("node_label_lookup", "LOOKUP", None, None),
      ("uniq_User_name", "RANGE", Some("User"), Some("uniq_User_name"))))
    // elementId(): string-typed, equals the stable internal id's rendering
    val eid = sess.run(
      "MATCH (u:User {name: 'alice'}) RETURN elementId(u) AS e, id(u) AS i")
      .asInstanceOf[CypherRows].df.as[(String, Long)].collect().head
    assert(eid._1 === eid._2.toString)
  }

  test("RETURN DISTINCT dedups projected rows") {
    val sess = freshSession
    Seq("u1", "u2", "u3").foreach { u =>
      sess.run("""MERGE (u:User {name: $u}) MERGE (t:Tech {name: $t})
                 |MERGE (u)-[:INTERESTED_IN]->(t)""".stripMargin,
        Map("u" -> u, "t" -> "spark"))
    }
    val distinct = sess.run(
      """MATCH (u:User)-[:INTERESTED_IN]->(t:Tech)
        |RETURN DISTINCT t.name AS tech""".stripMargin)
      .asInstanceOf[CypherRows].df.as[String].collect().toSeq
    assert(distinct === Seq("spark"))
    val all = sess.run(
      """MATCH (u:User)-[:INTERESTED_IN]->(t:Tech)
        |RETURN t.name AS tech""".stripMargin)
      .asInstanceOf[CypherRows].df.count()
    assert(all === 3)
  }

  test("OPTIONAL MATCH keeps unmatched left rows with null bindings") {
    val sess = freshSession
    sess.run("""MERGE (u:User {name: $u}) MERGE (t:Tech {name: $t})
               |MERGE (u)-[:INTERESTED_IN]->(t)""".stripMargin,
      Map("u" -> "alice", "t" -> "spark"))
    sess.run("MERGE (u:User {name: $u})", Map("u" -> "bob")) // no interests
    val rows = sess.run(
      """MATCH (u:User) OPTIONAL MATCH (u)-[:INTERESTED_IN]->(t:Tech)
        |RETURN u.name AS user, t.name AS tech ORDER BY user""".stripMargin)
      .asInstanceOf[CypherRows].df
      .as[(String, Option[String])].collect().toSeq
    assert(rows === Seq(("alice", Some("spark")), ("bob", None)))
    // count over the optional binding: unmatched contributes 0
    val counts = sess.run(
      """MATCH (u:User) OPTIONAL MATCH (u)-[:INTERESTED_IN]->(t:Tech)
        |RETURN u.name AS user, count(t) AS n ORDER BY user""".stripMargin)
      .asInstanceOf[CypherRows].df.as[(String, Long)].collect().toSeq
    assert(counts === Seq(("alice", 1L), ("bob", 0L)))
  }

  test("WITH aggregation pipeline: implicit grouping + alias HAVING + OR") {
    val sess = freshSession
    Seq(("u1", "spark"), ("u2", "spark"), ("u3", "flink"), ("u1", "flink"),
      ("u4", "duck")).foreach { case (u, t) =>
      sess.run("""MERGE (u:User {name: $u}) MERGE (t:Tech {name: $t})
                 |MERGE (u)-[:INTERESTED_IN]->(t)""".stripMargin,
        Map("u" -> u, "t" -> t))
    }
    val rows = sess.run(
      """MATCH (u:User)-[:INTERESTED_IN]->(t:Tech)
        |WITH t.name AS tech, count(u) AS n
        |WHERE n >= 2 OR tech = 'duck'
        |RETURN tech, n ORDER BY n DESC, tech""".stripMargin)
      .asInstanceOf[CypherRows].df.as[(String, Long)].collect().toSeq
    assert(rows === Seq(("flink", 2L), ("spark", 2L), ("duck", 1L)))
  }

  test("MATCH...WITH...MATCH: node bindings carry across the horizon") {
    val sess = freshSession
    Seq(("u1", "spark"), ("u1", "flink"), ("u2", "spark"), ("u3", "flink"))
      .foreach { case (u, t) =>
        sess.run("""MERGE (u:User {name: $u}) MERGE (t:Tech {name: $t})
                   |MERGE (u)-[:INTERESTED_IN]->(t)""".stripMargin,
          Map("u" -> u, "t" -> t))
      }
    // users interested in spark → ALL their interests (second MATCH extends
    // from the carried binding; collect is canonical-sorted)
    val rows = sess.run(
      """MATCH (u:User)-[:INTERESTED_IN]->(t:Tech)
        |WHERE t.name = 'spark'
        |WITH u
        |MATCH (u)-[:INTERESTED_IN]->(t2:Tech)
        |RETURN u.name AS user, collect(t2.name) AS techs ORDER BY user""".stripMargin)
      .asInstanceOf[CypherRows].df.as[(String, Seq[String])].collect().toSeq
    assert(rows === Seq(("u1", Seq("flink", "spark")), ("u2", Seq("spark"))))
  }

  test("MERGE ON CREATE SET / ON MATCH SET fire on the right path") {
    val sess = freshSession
    val q = """MERGE (u:User {name: $u})
              |ON CREATE SET u.status = 'new', u.first_seen = $at
              |ON MATCH SET u.status = 'seen'
              |SET u.touched = $at""".stripMargin
    sess.run(q, Map("u" -> "alice", "at" -> "t1"))
    val after1 = sess.run("MATCH (u:User) RETURN u.status AS s, u.first_seen AS f, u.touched AS t")
      .asInstanceOf[CypherRows].df.as[(String, String, String)].collect().toSeq
    assert(after1 === Seq(("new", "t1", "t1")))
    sess.run(q, Map("u" -> "alice", "at" -> "t2"))
    val after2 = sess.run("MATCH (u:User) RETURN u.status AS s, u.first_seen AS f, u.touched AS t")
      .asInstanceOf[CypherRows].df.as[(String, String, String)].collect().toSeq
    // ON MATCH overwrote status, ON CREATE did not re-fire (first_seen stays
    // t1), the unconditional SET runs on both paths
    assert(after2 === Seq(("seen", "t1", "t2")))
  }

  test("UNWIND drives a per-element pipeline; SKIP paginates after ORDER BY") {
    val sess = freshSession
    Seq("spark", "flink", "duck", "ray").foreach(t =>
      sess.run("MERGE (t:Tech {name: $t})", Map("t" -> t)))
    // literal-list UNWIND joined against the store by alias equality
    val unwound = sess.run(
      """UNWIND ['spark', 'flink', 'absent'] AS wanted
        |MATCH (t:Tech) WHERE t.name = wanted
        |RETURN wanted, count(t) AS n ORDER BY wanted""".stripMargin)
      .asInstanceOf[CypherRows].df.as[(String, Long)].collect().toSeq
    assert(unwound === Seq(("flink", 1L), ("spark", 1L))) // 'absent' matches nothing
    // standalone UNWIND without MATCH
    val standalone = sess.run(
      "UNWIND [3, 1, 2, 3] AS n RETURN count(DISTINCT n) AS c")
      .asInstanceOf[CypherRows].df.as[Long].head()
    assert(standalone === 3L)
    // parameterized list UNWIND
    val viaParam = sess.run(
      "UNWIND $xs AS x RETURN collect(x) AS xs",
      Map("xs" -> Seq("b", "a")))
      .asInstanceOf[CypherRows].df.as[Seq[String]].head()
    assert(viaParam === Seq("a", "b")) // canonical-sorted collect
    // SKIP between ORDER BY and LIMIT
    val page = sess.run(
      "MATCH (t:Tech) RETURN t.name AS tech ORDER BY tech SKIP 1 LIMIT 2")
      .asInstanceOf[CypherRows].df.as[String].collect().toSeq
    assert(page === Seq("flink", "ray")) // duck | flink ray | spark
  }

  test("MATCH SET / REMOVE / DELETE / DETACH DELETE rewrite the store") {
    val sess = freshSession
    Seq(("alice", "spark"), ("bob", "flink"), ("carol", "spark")).foreach { case (u, t) =>
      sess.run("""MERGE (u:User {name: $u}) SET u.age = '30'
                 |MERGE (t:Tech {name: $t})
                 |MERGE (u)-[:INTERESTED_IN]->(t)""".stripMargin,
        Map("u" -> u, "t" -> t))
    }
    // property rewrite on the matched subset only
    val w1 = sess.run(
      "MATCH (u:User) WHERE u.name = 'alice' SET u.tier = 'gold' REMOVE u.age")
      .asInstanceOf[CypherWrite]
    assert(w1.propertiesSet === 1L && w1.propertiesRemoved === 1L)
    val alice = sess.run(
      "MATCH (u:User) WHERE u.name = 'alice' RETURN u.tier AS tier, u.age AS age")
      .asInstanceOf[CypherRows].df.as[(String, Option[String])].head()
    assert(alice === (("gold", None)))
    val bob = sess.run(
      "MATCH (u:User) WHERE u.name = 'bob' RETURN u.tier AS tier, u.age AS age")
      .asInstanceOf[CypherRows].df.as[(Option[String], Option[String])].head()
    assert(bob === ((None, Some("30")))) // untouched
    // plain DELETE refuses while relationships exist
    intercept[IllegalArgumentException] {
      sess.run("MATCH (u:User) WHERE u.name = 'bob' DELETE u")
        .asInstanceOf[CypherWrite].graph.nodes.count()
    }
    // DETACH DELETE removes node + its edges
    val w2 = sess.run("MATCH (u:User) WHERE u.name = 'bob' DETACH DELETE u")
      .asInstanceOf[CypherWrite]
    assert(w2.nodesDeleted === 1L && w2.relationshipsDeleted === 1L)
    assert(sess.graph.matchLabel("User").count() === 2)
    assert(sess.graph.edges.count() === 2)
  }

  test("relationship properties: MERGE pattern props, MATCH filters, SET semantics") {
    val sess = freshSession
    val q = """MERGE (u:User {name: $u}) MERGE (t:Tech {name: $t})
              |MERGE (u)-[:INTERESTED_IN {level: $lvl}]->(t)""".stripMargin
    sess.run(q, Map("u" -> "alice", "t" -> "spark", "lvl" -> "expert"))
    sess.run(q, Map("u" -> "bob", "t" -> "spark", "lvl" -> "casual"))
    // pattern-prop filter on the relationship
    val experts = sess.run(
      """MATCH (u:User)-[r:INTERESTED_IN {level: 'expert'}]->(t:Tech)
        |RETURN u.name AS user""".stripMargin)
      .asInstanceOf[CypherRows].df.as[String].collect().toSeq
    assert(experts === Seq("alice"))
    // WHERE on a relationship property
    val casual = sess.run(
      """MATCH (u:User)-[r:INTERESTED_IN]->(t:Tech)
        |WHERE r.level = 'casual' RETURN u.name AS user""".stripMargin)
      .asInstanceOf[CypherRows].df.as[String].collect().toSeq
    assert(casual === Seq("bob"))
    // RETURN r carries the property bag
    val rel = sess.run(
      """MATCH (u:User)-[r:INTERESTED_IN]->(t:Tech)
        |WHERE u.name = 'alice' RETURN r""".stripMargin)
      .asInstanceOf[CypherRows].df.collect().head.getAs[Row]("r")
    assert(rel.getAs[Map[String, String]]("props")("level") === "expert")
    // edge re-MERGE matches (no duplicate) and overwrites the listed prop
    sess.run(q, Map("u" -> "alice", "t" -> "spark", "lvl" -> "master"))
    assert(sess.graph.edges.count() === 2)
    val after = sess.run(
      """MATCH (u:User)-[r:INTERESTED_IN]->(t:Tech)
        |WHERE u.name = 'alice' RETURN r.level AS level""".stripMargin)
      .asInstanceOf[CypherRows].df.as[String].collect().toSeq
    assert(after === Seq("master"))
  }

  test("IS NULL / IS NOT NULL with OPTIONAL MATCH (anti-join idiom)") {
    val sess = freshSession
    sess.run("""MERGE (u:User {name: $u}) MERGE (t:Tech {name: $t})
               |MERGE (u)-[:INTERESTED_IN]->(t)""".stripMargin,
      Map("u" -> "alice", "t" -> "spark"))
    sess.run("MERGE (u:User {name: $u})", Map("u" -> "bob")) // no interests
    val without = sess.run(
      """MATCH (u:User) OPTIONAL MATCH (u)-[:INTERESTED_IN]->(t:Tech)
        |WHERE t.name IS NULL
        |RETURN u.name AS user ORDER BY user""".stripMargin)
      .asInstanceOf[CypherRows].df.as[String].collect().toSeq
    assert(without === Seq("bob"))
    val withSome = sess.run(
      """MATCH (u:User) OPTIONAL MATCH (u)-[:INTERESTED_IN]->(t:Tech)
        |WHERE t.name IS NOT NULL
        |RETURN u.name AS user ORDER BY user""".stripMargin)
      .asInstanceOf[CypherRows].df.as[String].collect().toSeq
    assert(withSome === Seq("alice"))
  }

  test("undirected relationship patterns match both orientations") {
    val sess = freshSession
    sess.run("""MERGE (a:User {name: 'a'}) MERGE (b:User {name: 'b'})
               |MERGE (a)-[:FOLLOWS]->(b)""".stripMargin)
    // one edge, undirected pattern → one row per direction
    val rows = sess.run(
      """MATCH (x:User)-[:FOLLOWS]-(y:User)
        |RETURN x.name AS src, y.name AS dst ORDER BY src""".stripMargin)
      .asInstanceOf[CypherRows].df.as[(String, String)].collect().toSeq
    assert(rows === Seq(("a", "b"), ("b", "a")))
    // undirected MERGE is rejected, like Neo4j
    intercept[IllegalArgumentException] {
      sess.run("MERGE (a:User {name: 'a'})-[:FOLLOWS]-(b:User {name: 'b'})")
    }
  }

  test("scalar functions in projections: toUpper/toLower/trim/size") {
    val sess = freshSession
    sess.run("MERGE (u:User {name: $u})", Map("u" -> "  Alice  "))
    val row = sess.run(
      """MATCH (u:User)
        |RETURN toUpper(u.name) AS uc, toLower(u.name) AS lc,
        |       size(trim(u.name)) AS n""".stripMargin)
      .asInstanceOf[CypherRows].df.collect().head
    assert(row.getString(0) === "  ALICE  ")
    assert(row.getString(1) === "  alice  ")
    assert(row.getInt(2) === 5)
  }

  test("runScript executes a semicolon-separated statement sequence") {
    val sess = freshSession
    val results = sess.runScript(
      """MERGE (u:User {name: $u}) MERGE (t:Tech {name: $t})
        |MERGE (u)-[:INTERESTED_IN]->(t);
        |MATCH (u:User)-[r:INTERESTED_IN]->(t:Tech) RETURN u, r, t;
        |MATCH (n) RETURN n LIMIT 25""".stripMargin,
      Map("u" -> "Beomzh", "t" -> "GraphRAG"))
    assert(results.length === 3)
    assert(results.head.isInstanceOf[CypherMutation])
    assert(results(1).asInstanceOf[CypherRows].df.count() === 1)
    assert(results(2).asInstanceOf[CypherRows].df.count() === 2)
  }

  test("arithmetic in RETURN and WHERE with standard precedence") {
    val sess = freshSession
    Seq(("a", "2"), ("b", "5"), ("c", "8")).foreach { case (n, s) =>
      sess.run("MERGE (u:User {name: $n}) SET u.score = $s",
        Map("n" -> n, "s" -> s))
    }
    val rows = sess.run(
      """MATCH (u:User)
        |WHERE u.score * 2 + 1 >= 11
        |RETURN u.name AS name, u.score * 10 - 1 AS scaled, -u.score AS neg
        |ORDER BY name""".stripMargin)
      .asInstanceOf[CypherRows].df.collect()
    assert(rows.map(_.getString(0)).toSeq === Seq("b", "c"))
    assert(rows.map(_.getDouble(1)).toSeq === Seq(49.0, 79.0))
    assert(rows.map(_.getDouble(2)).toSeq === Seq(-5.0, -8.0))
    // parenthesized arithmetic inside a boolean tree
    val n = sess.run(
      """MATCH (u:User)
        |WHERE (u.score + 1) / 3 >= 2 AND NOT u.name = 'c'
        |RETURN u.name AS name""".stripMargin)
      .asInstanceOf[CypherRows].df.count()
    assert(n === 1) // only b: (5+1)/3 = 2
  }

  test("exponent literals are Doubles everywhere, not truncated integers (ADVICE r9 high)") {
    val sess = freshSession
    Seq(("tiny", "0.0005"), ("mid", "0.05"), ("big", "2")).foreach {
      case (n, s) => sess.run("MERGE (u:User {name: $n}) SET u.score = $s",
        Map("n" -> n, "s" -> s))
    }
    // WHERE u.score > 1e-3: before the fix this compiled to > 0 and kept
    // 'tiny' (0.0005 > 0); the exponent literal must stay 0.001
    val gt = sess.run(
      """MATCH (u:User) WHERE u.score > 1e-3
        |RETURN u.name AS name ORDER BY name""".stripMargin)
      .asInstanceOf[CypherRows].df.as[String].collect().toSeq
    assert(gt === Seq("big", "mid"))
    // property-map literal {p: 5e-2} must store 0.05, not 0
    sess.run("MERGE (t:Tech {name: 'spark'}) SET t.w = 5e-2")
    val w = sess.run("MATCH (t:Tech) RETURN t.w AS w")
      .asInstanceOf[CypherRows].df.as[String].collect().head
    assert(w.toDouble === 0.05)
    // RETURN-position exponent arithmetic: 2.5E-1 * 4 = 1.0
    val r = sess.run("MATCH (u:User {name: 'big'}) RETURN 2.5E-1 * 4 AS x")
      .asInstanceOf[CypherRows].df.as[Double].collect().head
    assert(r === 1.0)
    // plain digits stay integer-typed (LIMIT/SKIP-style int contexts)
    val lim = sess.run(
      "MATCH (u:User) RETURN u.name AS name ORDER BY name LIMIT 2")
      .asInstanceOf[CypherRows].df.count()
    assert(lim === 2)
  }

  test("temporal component access (a.ts.year …) and datetime/date.truncate") {
    val sess = freshSession
    // 2024-03-05 is a Tuesday (ISO dayOfWeek 2), Q1, week 10
    sess.run("MERGE (e:Event {name: 'e1'}) SET e.ts = '2024-03-05 14:30:45'")
    sess.run("MERGE (e:Event {name: 'e2'}) SET e.ts = '2023-12-31 23:59:59'")
    val r = sess.run(
      """MATCH (e:Event {name: 'e1'})
        |RETURN e.ts.year AS y, e.ts.quarter AS q, e.ts.month AS mo,
        |       e.ts.week AS w, e.ts.day AS d, e.ts.dayOfWeek AS dow,
        |       e.ts.hour AS h, e.ts.minute AS mi, e.ts.second AS sec,
        |       e.ts.epochSeconds AS es""".stripMargin)
      .asInstanceOf[CypherRows].df.collect().head
    assert(r.getLong(0) === 2024 && r.getLong(1) === 1 && r.getLong(2) === 3)
    assert(r.getLong(3) === 10 && r.getLong(4) === 5 && r.getLong(5) === 2)
    assert(r.getLong(6) === 14 && r.getLong(7) === 30 && r.getLong(8) === 45)
    assert(r.getLong(9) === 1709649045L) // 2024-03-05T14:30:45Z
    // epochMillis = epochSeconds * 1000 on whole-second instants
    val ms = sess.run(
      "MATCH (e:Event {name: 'e1'}) RETURN e.ts.epochMillis AS ms")
      .asInstanceOf[CypherRows].df.as[Long].collect().head
    assert(ms === 1709649045000L)
    // components filter in WHERE (the 2023 row is excluded)
    val names = sess.run(
      """MATCH (e:Event) WHERE e.ts.year = 2024
        |RETURN e.name AS name""".stripMargin)
      .asInstanceOf[CypherRows].df.as[String].collect().toSeq
    assert(names === Seq("e1"))
    // truncation renders the period start; date.truncate yields a date
    val tr = sess.run(
      """MATCH (e:Event {name: 'e1'})
        |RETURN toString(datetime.truncate('month', e.ts)) AS m,
        |       toString(date.truncate('week', e.ts)) AS wk""".stripMargin)
      .asInstanceOf[CypherRows].df.as[(String, String)].collect().head
    assert(tr === (("2024-03-01 00:00:00", "2024-03-04"))) // Monday
    // an unknown third identifier is NOT a component: still a parse error
    intercept[Exception](sess.run(
      "MATCH (e:Event) RETURN e.ts.fortnight AS x"))
    // a non-literal truncate unit is rejected at parse time
    val unitErr = intercept[Exception](sess.run(
      "MATCH (e:Event) RETURN datetime.truncate(e.name, e.ts) AS x"))
    assert(unitErr.getMessage.contains("string literal"))
    // an unsupported unit fails typed at compile time
    val badUnit = intercept[IllegalArgumentException](sess.run(
      "MATCH (e:Event) RETURN datetime.truncate('fortnight', e.ts) AS x"))
    assert(badUnit.getMessage.contains("unit must be one of"))
  }

  test("searched CASE in RETURN, as grouping key, and arithmetic over aggregates") {
    val sess = freshSession
    Seq(("d1", "en"), ("d2", "en"), ("d3", "de"), ("d4", "zh")).foreach {
      case (l, lang) =>
        sess.run("MERGE (a:Article {link: $l}) SET a.lang = $lang",
          Map("l" -> l, "lang" -> lang))
    }
    val rows = sess.run(
      """MATCH (a:Article)
        |RETURN CASE WHEN a.lang = 'en' THEN 'core'
        |            WHEN a.lang = 'de' THEN 'eu'
        |            ELSE 'other' END AS bucket,
        |       count(a) AS n, count(a) * 2 AS n2
        |ORDER BY bucket""".stripMargin)
      .asInstanceOf[CypherRows].df.collect()
    assert(rows.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq ===
      Seq(("core", 2L, 4L), ("eu", 1L, 2L), ("other", 1L, 2L)))
    // no ELSE → NULL bucket
    val withNull = sess.run(
      """MATCH (a:Article)
        |RETURN a.link AS link,
        |       CASE WHEN a.lang = 'en' THEN 1 END AS flag
        |ORDER BY link""".stripMargin)
      .asInstanceOf[CypherRows].df.collect()
    assert(withNull.count(_.isNullAt(1)) === 2)
  }

  test("STARTS WITH / ENDS WITH predicates and + concatenation") {
    val sess = freshSession
    Seq("spark sql", "spark streaming", "flink sql").foreach { t =>
      sess.run("MERGE (a:Article {link: $t})", Map("t" -> t))
    }
    val starts = sess.run(
      """MATCH (a:Article) WHERE a.link STARTS WITH 'spark'
        |RETURN a.link AS link ORDER BY link""".stripMargin)
      .asInstanceOf[CypherRows].df.as[String].collect().toSeq
    assert(starts === Seq("spark sql", "spark streaming"))
    val ends = sess.run(
      """MATCH (a:Article) WHERE a.link ENDS WITH 'sql'
        |RETURN 'doc:' + a.link AS tagged ORDER BY tagged""".stripMargin)
      .asInstanceOf[CypherRows].df.as[String].collect().toSeq
    assert(ends === Seq("doc:flink sql", "doc:spark sql"))
  }

  test("IN list predicate, exists(), and coalesce/toInteger/abs/round") {
    val sess = freshSession
    Seq(("d1", "en", "3"), ("d2", "de", "-7"), ("d3", "zh", null), ("d4", "fr", "2"))
      .foreach { case (l, lang, sc) =>
        sess.run("MERGE (a:Article {link: $l}) SET a.lang = $lang",
          Map("l" -> l, "lang" -> lang))
        if (sc != null)
          sess.run("MERGE (a:Article {link: $l}) ON MATCH SET a.score = $s",
            Map("l" -> l, "s" -> sc))
      }
    val inList = sess.run(
      """MATCH (a:Article) WHERE a.lang IN ['en', 'de']
        |RETURN a.link AS link ORDER BY link""".stripMargin)
      .asInstanceOf[CypherRows].df.as[String].collect().toSeq
    assert(inList === Seq("d1", "d2"))
    val inParam = sess.run(
      "MATCH (a:Article) WHERE a.lang IN $langs RETURN count(a) AS n",
      Map("langs" -> Seq("zh", "fr")))
      .asInstanceOf[CypherRows].df.as[Long].head()
    assert(inParam === 2L)
    val scored = sess.run(
      """MATCH (a:Article) WHERE exists(a.score)
        |RETURN a.link AS link, abs(a.score) AS mag,
        |       toInteger(coalesce(a.score, '0')) + 1 AS bumped
        |ORDER BY link""".stripMargin)
      .asInstanceOf[CypherRows].df.collect()
    assert(scored.map(_.getString(0)).toSeq === Seq("d1", "d2", "d4"))
    assert(scored.map(_.getDouble(1)).toSeq === Seq(3.0, 7.0, 2.0))
    assert(scored.map(_.getLong(2)).toSeq === Seq(4L, -6L, 3L))
  }

  test("id()/labels()/type() graph introspection functions") {
    val sess = freshSession
    sess.run("""MERGE (u:User {name: 'alice'}) MERGE (t:Tech {name: 'spark'})
               |MERGE (u)-[:INTERESTED_IN]->(t)""".stripMargin)
    val row = sess.run(
      """MATCH (u:User)-[r:INTERESTED_IN]->(t:Tech)
        |RETURN id(u) AS uid, labels(u) AS ul, type(r) AS rt""".stripMargin)
      .asInstanceOf[CypherRows].df.collect().head
    assert(row.getLong(0) != 0L)
    assert(row.getSeq[String](1) === Seq("User"))
    assert(row.getString(2) === "INTERESTED_IN")
  }

  test("path variables: length(p) counts hops, including variable-length walks") {
    val sess = freshSession
    // chain a -> b -> c
    sess.run("""MERGE (a:Tech {name: 'a'}) MERGE (b:Tech {name: 'b'})
               |MERGE (a)-[:NEXT]->(b)""".stripMargin)
    sess.run("""MERGE (b:Tech {name: 'b'}) MERGE (c:Tech {name: 'c'})
               |MERGE (b)-[:NEXT]->(c)""".stripMargin)
    val fixed = sess.run(
      """MATCH p = (a:Tech {name: 'a'})-[:NEXT]->(b)-[:NEXT]->(c)
        |RETURN length(p) AS hops""".stripMargin)
      .asInstanceOf[CypherRows].df.as[Int].collect().toSeq
    assert(fixed === Seq(2))
    val varlen = sess.run(
      """MATCH p = (a:Tech {name: 'a'})-[:NEXT*1..2]->(x)
        |RETURN length(p) AS hops ORDER BY hops""".stripMargin)
      .asInstanceOf[CypherRows].df.as[Int].collect().toSeq
    assert(varlen === Seq(1, 2)) // a->b (1 hop), a->b->c (2 hops)
  }

  test("WITH ORDER BY / SKIP / LIMIT paginates the pipeline") {
    val sess = freshSession
    Seq(("d1", "en"), ("d2", "en"), ("d3", "de"), ("d4", "zh")).foreach {
      case (l, lang) =>
        sess.run("MERGE (a:Article {link: $l}) SET a.lang = $lang",
          Map("l" -> l, "lang" -> lang))
    }
    // aggregated WITH + top-k, then a trailing WHERE over the page
    val top = sess.run(
      """MATCH (a:Article)
        |WITH a.lang AS lang, count(a) AS n ORDER BY n DESC, lang LIMIT 2
        |RETURN lang, n""".stripMargin)
      .asInstanceOf[CypherRows].df.collect()
    assert(top.map(r => (r.getString(0), r.getLong(1))).toSet ===
      Set(("en", 2L), ("de", 1L)))
    // node binding carried through an ordered LIMIT into a following MATCH
    sess.run("""MERGE (u:User {name: 'alice'}) MERGE (t:Tech {name: 'spark'})
               |MERGE (u)-[:INTERESTED_IN]->(t)""".stripMargin)
    sess.run("""MERGE (u:User {name: 'bob'}) MERGE (t:Tech {name: 'flink'})
               |MERGE (u)-[:INTERESTED_IN]->(t)""".stripMargin)
    val first = sess.run(
      """MATCH (u:User)
        |WITH u ORDER BY u.name LIMIT 1
        |MATCH (u)-[:INTERESTED_IN]->(t:Tech)
        |RETURN t.name AS tech""".stripMargin)
      .asInstanceOf[CypherRows].df.as[String].collect().toSeq
    assert(first === Seq("spark"))
    // SKIP pages past the first row
    val second = sess.run(
      """MATCH (u:User)
        |WITH u.name AS name ORDER BY name SKIP 1 LIMIT 1
        |RETURN name""".stripMargin)
      .asInstanceOf[CypherRows].df.as[String].collect().toSeq
    assert(second === Seq("bob"))
  }

  test("shortestPath collapses walk multiplicity to one row per endpoint pair") {
    val sess = freshSession
    // diamond: a->b->d and a->c->d — two 2-hop walks from a to d
    for ((s, d) <- Seq(("a", "b"), ("a", "c"), ("b", "d"), ("c", "d")))
      sess.run(s"""MERGE (x:Tech {name: '$s'}) MERGE (y:Tech {name: '$d'})
                  |MERGE (x)-[:NEXT]->(y)""".stripMargin)
    val walks = sess.run(
      """MATCH p = (a:Tech {name: 'a'})-[:NEXT*1..3]->(x)
        |RETURN x.name AS dest, length(p) AS hops""".stripMargin)
      .asInstanceOf[CypherRows].df.collect()
      .map(r => (r.getString(0), r.getInt(1))).toSeq
    assert(walks.count(_ == ("d", 2)) === 2) // both diamond arms
    val shortest = sess.run(
      """MATCH p = shortestPath((a:Tech {name: 'a'})-[:NEXT*1..3]->(x))
        |RETURN x.name AS dest, length(p) AS hops
        |ORDER BY dest""".stripMargin)
      .asInstanceOf[CypherRows].df.collect()
      .map(r => (r.getString(0), r.getInt(1))).toSeq
    assert(shortest === Seq(("b", 1), ("c", 1), ("d", 2))) // one row per dest
  }

  test("UNION dedups, UNION ALL keeps duplicates, trailing ORDER BY spans the union") {
    val sess = freshSession
    sess.run("""MERGE (u:User {name: 'spark'}) MERGE (t:Tech {name: 'spark'})
               |MERGE (u)-[:INTERESTED_IN]->(t)""".stripMargin)
    sess.run("MERGE (t:Tech {name: 'flink'})")
    val all = sess.run(
      """MATCH (t:Tech) RETURN t.name AS name
        |UNION ALL
        |MATCH (u:User) RETURN u.name AS name
        |ORDER BY name""".stripMargin)
      .asInstanceOf[CypherRows].df.as[String].collect().toSeq
    assert(all === Seq("flink", "spark", "spark"))
    val dedup = sess.run(
      """MATCH (t:Tech) RETURN t.name AS name
        |UNION
        |MATCH (u:User) RETURN u.name AS name
        |ORDER BY name""".stripMargin)
      .asInstanceOf[CypherRows].df.as[String].collect().toSeq
    assert(dedup === Seq("flink", "spark"))
    intercept[IllegalArgumentException] {
      sess.run("""MATCH (t:Tech) RETURN t.name AS name
                 |UNION
                 |MATCH (u:User) RETURN u.name AS name
                 |UNION ALL
                 |MATCH (u:User) RETURN u.name AS name""".stripMargin)
    }
  }

  test("MATCH ... MERGE creates relationships between matched endpoints, idempotently") {
    val sess = freshSession
    sess.run("MERGE (u:User {name: 'alice'})")
    sess.run("MERGE (u:User {name: 'bob'})")
    sess.run("MERGE (t:Tech {name: 'spark'})")
    val q = """MATCH (u:User), (t:Tech)
              |WHERE u.name <> 'bob'
              |MERGE (u)-[:INTERESTED_IN {since: '2026'}]->(t)""".stripMargin
    val w = sess.run(q).asInstanceOf[CypherWrite]
    assert(w.relationshipsCreated === 1)
    val w2 = sess.run(q).asInstanceOf[CypherWrite]
    assert(w2.relationshipsCreated === 0) // MERGE semantics: no duplicate edge
    val rows = sess.run(
      """MATCH (u:User)-[r:INTERESTED_IN]->(t:Tech)
        |RETURN u.name AS name, r.since AS since""".stripMargin)
      .asInstanceOf[CypherRows].df.collect()
    assert(rows.map(r => (r.getString(0), r.getString(1))).toSeq ===
      Seq(("alice", "2026")))
  }

  test("WITH DISTINCT dedups the projection mid-pipeline") {
    val sess = freshSession
    Seq(("d1", "en"), ("d2", "en"), ("d3", "de")).foreach { case (l, lang) =>
      sess.run("MERGE (a:Article {link: $l}) SET a.lang = $lang",
        Map("l" -> l, "lang" -> lang))
    }
    val langs = sess.run(
      """MATCH (a:Article)
        |WITH DISTINCT a.lang AS lang
        |RETURN count(lang) AS n""".stripMargin)
      .asInstanceOf[CypherRows].df.as[Long].head()
    assert(langs === 2L)
  }

  test("runScript keeps semicolons inside string literals intact") {
    val sess = freshSession
    val results = sess.runScript(
      """MERGE (a:Article {link: 'x'}) SET a.title = 'Graphs; a love story';
        |MERGE (a:Article {link: 'y'}) SET a.title = "semi;colons; everywhere";
        |MATCH (a:Article) RETURN a.title AS title""".stripMargin)
    assert(results.length === 3)
    val titles = results(2).asInstanceOf[CypherRows].df
      .collect().map(_.getString(0)).sorted
    assert(titles === Array("Graphs; a love story", "semi;colons; everywhere"))
  }

  test("statement splitter handles escapes and unterminated gracefully") {
    import CypherSession.splitStatements
    assert(splitStatements("A;B ; ;C") === Seq("A", "B", "C"))
    assert(splitStatements("SET x = 'a;b';RETURN 1") ===
      Seq("SET x = 'a;b'", "RETURN 1"))
    assert(splitStatements("SET x = 'a\\';b';RETURN 1") ===
      Seq("SET x = 'a\\';b'", "RETURN 1"))
    // unterminated literal: rest of script is one statement, nothing lost
    assert(splitStatements("SET x = 'a;b") === Seq("SET x = 'a;b"))
  }

  test("NOT and parenthesized OR predicates") {
    val sess = freshSession
    Seq("spark", "flink", "duck").foreach(t =>
      sess.run("MERGE (t:Tech {name: $t})", Map("t" -> t)))
    val rows = sess.run(
      """MATCH (t:Tech)
        |WHERE NOT (t.name = 'spark' OR t.name = 'duck')
        |RETURN t.name AS tech ORDER BY tech""".stripMargin)
      .asInstanceOf[CypherRows].df.as[String].collect().toSeq
    assert(rows === Seq("flink"))
  }

  test("sum/avg/min/max/collect DISTINCT aggregates") {
    val sess = freshSession
    Seq(("u1", "10"), ("u2", "20"), ("u3", "30")).foreach { case (u, age) =>
      sess.run(s"MERGE (u:User {name: $$u}) SET u.age = $$age",
        Map("u" -> u, "age" -> age))
    }
    val row = sess.run(
      """MATCH (u:User)
        |RETURN sum(u.age) AS total, avg(u.age) AS mean,
        |       min(u.name) AS first_name, max(u.name) AS last_name,
        |       count(DISTINCT u) AS n""".stripMargin)
      .asInstanceOf[CypherRows].df.collect().head
    assert(row.getDouble(0) === 60.0 && row.getDouble(1) === 20.0)
    assert(row.getString(2) === "u1" && row.getString(3) === "u3")
    assert(row.getLong(4) === 3L)
  }

  test("variable-length paths on a NON-bipartite graph: non-empty 2-hop term") {
    val sess = freshSession
    // follows chain a→b→c→d: same label on both sides, so 2-hop walks exist
    Seq(("a", "b"), ("b", "c"), ("c", "d")).foreach { case (x, y) =>
      sess.run("""MERGE (x:User {name: $x}) MERGE (y:User {name: $y})
                 |MERGE (x)-[:FOLLOWS]->(y)""".stripMargin,
        Map("x" -> x, "y" -> y))
    }
    val rows = sess.run(
      """MATCH (x:User)-[:FOLLOWS*1..2]->(y)
        |RETURN x.name AS src, y.name AS dst ORDER BY src, dst""".stripMargin)
      .asInstanceOf[CypherRows].df.as[(String, String)].collect().toSeq
    assert(rows === Seq( // 1-hop: ab bc cd; 2-hop: ac bd — both terms non-empty
      ("a", "b"), ("a", "c"), ("b", "c"), ("b", "d"), ("c", "d")))
  }

  test("count() aggregation with Cypher's implicit grouping") {
    val sess = freshSession
    Seq(("u1", "spark"), ("u2", "spark"), ("u3", "flink")).foreach { case (u, t) =>
      sess.run("""MERGE (u:User {name: $u}) MERGE (t:Tech {name: $t})
                 |MERGE (u)-[:INTERESTED_IN]->(t)""".stripMargin,
        Map("u" -> u, "t" -> t))
    }
    val perTech = sess.run(
      """MATCH (u:User)-[:INTERESTED_IN]->(t:Tech)
        |RETURN t.name AS tech, count(u) AS n
        |ORDER BY n DESC, tech""".stripMargin)
      .asInstanceOf[CypherRows].df.as[(String, Long)].collect().toSeq
    assert(perTech === Seq(("spark", 2L), ("flink", 1L)))
    val total = sess.run("MATCH (u:User) RETURN count(*) AS n")
      .asInstanceOf[CypherRows].df.as[Long].head()
    assert(total === 3L)
  }

  test("variable-length paths: -[:NEXT*1..3]-> expands hop unions on a chain") {
    val sess = freshSession
    // chain c1 -> c2 -> c3 -> c4
    (1 to 3).foreach { i =>
      sess.run("""MERGE (a:Tech {name: $a}) MERGE (b:Tech {name: $b})
                 |MERGE (a)-[:NEXT]->(b)""".stripMargin,
        Map("a" -> s"c$i", "b" -> s"c${i + 1}"))
    }
    def reach(q: String): Set[(String, String)] =
      sess.run(q).asInstanceOf[CypherRows].df
        .as[(String, String)].collect().toSet

    val upTo3 = reach("""MATCH (a:Tech)-[:NEXT*1..3]->(b:Tech)
                        |RETURN a.name AS src, b.name AS dst""".stripMargin)
    assert(upTo3 === Set(
      ("c1", "c2"), ("c2", "c3"), ("c3", "c4"),           // 1 hop
      ("c1", "c3"), ("c2", "c4"),                         // 2 hops
      ("c1", "c4")))                                      // 3 hops
    val exactly2 = reach("""MATCH (a:Tech)-[:NEXT*2]->(b:Tech)
                           |RETURN a.name AS src, b.name AS dst""".stripMargin)
    assert(exactly2 === Set(("c1", "c3"), ("c2", "c4")))
    val bareStar = reach("""MATCH (a:Tech)-[:NEXT*]->(b:Tech)
                           |RETURN a.name AS src, b.name AS dst""".stripMargin)
    assert(bareStar === upTo3) // chain of diameter 3: *1..5 == *1..3
  }

  test("cypher.txt one-hop pattern: MATCH (u:User)-[r:INTERESTED_IN]->(t:Tech) RETURN u, r, t") {
    val sess = freshSession
    sess.run("""MERGE (u:User {name: $u}) MERGE (t:Tech {name: $t})
               |MERGE (u)-[:INTERESTED_IN]->(t)""".stripMargin,
      Map("u" -> "Beomzh", "t" -> "GraphRAG"))
    val rows = sess.run(
      "MATCH (u:User)-[r:INTERESTED_IN]->(t:Tech) RETURN u, r, t")
      .asInstanceOf[CypherRows].df.collect()
    assert(rows.length === 1)
    val u = rows(0).getAs[Row]("u")
    val t = rows(0).getAs[Row]("t")
    val r = rows(0).getAs[Row]("r")
    assert(u.getAs[String]("key") === "Beomzh")
    assert(t.getAs[String]("key") === "GraphRAG")
    assert(r.getAs[String]("relType") === "INTERESTED_IN")
  }

  test("crwling.py article upsert: MERGE + SET + WITH + edge MERGE + RETURN") {
    val sess = freshSession
    val q = """MERGE (a:Article {link: $link})
              |SET a.title = $title, a.content = $content, a.published_at = datetime()
              |WITH a
              |MERGE (p:Publisher {name: $publisher})
              |MERGE (a)-[:WRITTEN_BY]->(p)
              |RETURN a""".stripMargin
    val r1 = sess.run(q, Map("link" -> "http://x/1", "title" -> "T1",
      "content" -> "C1", "publisher" -> "Daily")).asInstanceOf[CypherMutation]
    assert(r1.nodesCreated === 2)
    // re-crawl same link with new title: updates, no duplicate (counters
    // branch at /root/reference/src/crwling.py:61-64)
    val r2 = sess.run(q, Map("link" -> "http://x/1", "title" -> "T1v2",
      "content" -> "C1", "publisher" -> "Daily")).asInstanceOf[CypherMutation]
    assert(r2.nodesCreated === 0 && r2.nodesMatched === 2)
    val props = sess.graph.matchLabel("Article")
      .select("props").as[Map[String, String]].head()
    assert(props("title") === "T1v2")
    assert(props("published_at") === "2026-01-01 00:00:00")
  }

  test("main.py verification read: MATCH (a:Article) RETURN a.title AS title LIMIT 5") {
    val sess = freshSession
    (1 to 8).foreach { i =>
      sess.run("MERGE (a:Article {link: $link}) SET a.title = $title",
        Map("link" -> s"http://x/$i", "title" -> s"Title $i"))
    }
    val titles = sess.run("MATCH (a:Article) RETURN a.title AS title LIMIT 5")
      .asInstanceOf[CypherRows].df.as[String].collect()
    assert(titles.length === 5)
    assert(titles.forall(_.startsWith("Title ")))
  }

  test("cypher.txt full scan: MATCH (n) RETURN n LIMIT 25") {
    val sess = freshSession
    sess.run("MERGE (u:User {name: 'A'})")
    sess.run("MERGE (t:Tech {name: 'B'})")
    val rows = sess.run("MATCH (n) RETURN n LIMIT 25")
      .asInstanceOf[CypherRows].df.collect()
    assert(rows.length === 2)
  }

  test("WHERE predicates and ORDER BY on properties") {
    val sess = freshSession
    (1 to 5).foreach { i =>
      sess.run("MERGE (a:Article {link: $link}) SET a.title = $title",
        Map("link" -> s"http://x/$i", "title" -> s"Title $i"))
    }
    val out = sess.run(
      """MATCH (a:Article) WHERE a.title <> 'Title 3' AND a.link CONTAINS 'http'
        |RETURN a.link AS link, a.title AS title ORDER BY a.link DESC LIMIT 2""".stripMargin)
      .asInstanceOf[CypherRows].df.as[(String, String)].collect().toSeq
    assert(out === Seq(("http://x/5", "Title 5"), ("http://x/4", "Title 4")))
  }

  test("set-oriented runBatch: whole DataFrame of params in one MERGE") {
    val sess = freshSession
    val batch = (1 to 100).map(i =>
      (s"http://x/$i", s"T$i", s"C$i", s"Pub${i % 3}"))
      .toDF("link", "title", "content", "publisher")
    val q = """MERGE (a:Article {link: $link})
              |SET a.title = $title, a.content = $content
              |MERGE (p:Publisher {name: $publisher})
              |MERGE (a)-[:WRITTEN_BY]->(p)""".stripMargin
    val r = sess.runBatch(q, batch).asInstanceOf[CypherMutation]
    assert(r.nodesCreated === 103) // 100 articles + 3 publishers
    assert(sess.graph.edges.count() === 100)
    // idempotent re-run of the same batch
    val r2 = sess.runBatch(q, batch).asInstanceOf[CypherMutation]
    assert(r2.nodesCreated === 0 && r2.nodesMatched === 103)
  }

  test("2-hop chain pattern compiles to two edge joins") {
    val sess = freshSession
    sess.run("""MERGE (a:Article {link: 'l1'}) MERGE (p:Publisher {name: 'P'})
               |MERGE (a)-[:WRITTEN_BY]->(p)""".stripMargin)
    sess.run("""MERGE (b:Article {link: 'l2'}) MERGE (p:Publisher {name: 'P'})
               |MERGE (b)-[:WRITTEN_BY]->(p)""".stripMargin)
    val rows = sess.run(
      """MATCH (a:Article)-[:WRITTEN_BY]->(p:Publisher)<-[:WRITTEN_BY]-(b:Article)
        |WHERE a.link < b.link
        |RETURN a.link AS a_link, b.link AS b_link""".stripMargin)
      .asInstanceOf[CypherRows].df.as[(String, String)].collect().toSeq
    assert(rows === Seq(("l1", "l2")))
  }

  test("CREATE is append-only: run twice creates two nodes, unlike MERGE") {
    val sess = freshSession
    val r1 = sess.run("CREATE (t:Tech {name: 'spark'})").asInstanceOf[CypherMutation]
    assert(r1.nodesCreated === 1 && r1.nodesMatched === 0)
    val r2 = sess.run("CREATE (t:Tech {name: 'spark'})").asInstanceOf[CypherMutation]
    assert(r2.nodesCreated === 1 && r2.nodesMatched === 0)
    val techs = sess.graph.matchLabel("Tech")
    assert(techs.count() === 2)
    assert(techs.select("id").distinct().count() === 2) // distinct identities
    // MERGE on the same key is still the idempotent path
    val r3 = sess.run("MERGE (t:Tech {name: 'flink'})").asInstanceOf[CypherMutation]
    val r4 = sess.run("MERGE (t:Tech {name: 'flink'})").asInstanceOf[CypherMutation]
    assert(r3.nodesCreated === 1 && r4.nodesCreated === 0 && r4.nodesMatched === 1)
  }

  test("CREATE node-relationship pattern, and CREATE appends parallel rels") {
    val sess = freshSession
    val r = sess.run(
      "CREATE (u:User {name: 'kim'})-[:LIKES {since: '2026'}]->(t:Tech {name: 'flink'})")
      .asInstanceOf[CypherMutation]
    assert(r.nodesCreated === 2)
    val rows = sess.run(
      """MATCH (u:User)-[r:LIKES]->(t:Tech)
        |RETURN u.name AS u, r.since AS since, t.name AS t""".stripMargin)
      .asInstanceOf[CypherRows].df.collect()
    assert(rows.map(x => (x.getString(0), x.getString(1), x.getString(2))).toSeq ===
      Seq(("kim", "2026", "flink")))
    // CREATE between MERGE-bound vars appends a parallel rel on every run
    val q = """MERGE (u:User {name: 'kim'}) MERGE (t:Tech {name: 'flink'})
              |CREATE (u)-[:LIKES]->(t)""".stripMargin
    sess.run(q); sess.run(q)
    assert(sess.graph.edges.filter(col("relType") === "LIKES").count() === 3)
  }

  test("duplicate CREATE attaches edges to the exact instance it created") {
    val sess = freshSession
    val q = "CREATE (u:User {name: 'dup'})-[:OWNS]->(t:Tech {name: 'x'})"
    sess.run(q); sess.run(q)
    val users = sess.graph.matchLabel("User")
    assert(users.count() === 2 && users.select("id").distinct().count() === 2)
    // each duplicate instance owns exactly ONE edge — the one its own
    // CREATE statement made
    val perSrc = sess.graph.edges.filter(col("relType") === "OWNS")
      .groupBy("srcId").count().as[(Long, Long)].collect().toMap
    assert(perSrc.size === 2 && perSrc.values.forall(_ == 1L))
  }

  test("MATCH ... CREATE appends one relationship per matched row, never dedups") {
    val sess = freshSession
    sess.run("MERGE (u:User {name: 'a1'})")
    sess.run("MERGE (u:User {name: 'a2'})")
    sess.run("MERGE (t:Tech {name: 'spark'})")
    val q = "MATCH (u:User), (t:Tech) CREATE (u)-[:USES]->(t)"
    val w = sess.run(q).asInstanceOf[CypherWrite]
    assert(w.relationshipsCreated === 2)
    val w2 = sess.run(q).asInstanceOf[CypherWrite]
    assert(w2.relationshipsCreated === 2) // CREATE never dedups
    assert(sess.graph.edges.count() === 4)
  }

  test("free-standing OPTIONAL MATCH null-extends; opening OPTIONAL MATCH seeds one row") {
    val sess = freshSession
    sess.run("MERGE (u:User {name: 'alice'})")
    sess.run("MERGE (u:User {name: 'bob'})")
    // empty pattern: every user row survives with a null ghost
    val rows = sess.run(
      """MATCH (u:User) OPTIONAL MATCH (g:Ghost)
        |RETURN u.name AS user, g.name AS ghost ORDER BY user""".stripMargin)
      .asInstanceOf[CypherRows].df.as[(String, Option[String])].collect().toSeq
    assert(rows === Seq(("alice", None), ("bob", None)))
    // a query OPENING with OPTIONAL MATCH yields one null-extended row
    val opening = sess.run("OPTIONAL MATCH (g:Ghost) RETURN count(g) AS n")
      .asInstanceOf[CypherRows].df.as[Long].collect().toSeq
    assert(opening === Seq(0L))
    // non-empty free-standing pattern cross-products the matches
    sess.run("MERGE (t:Tech {name: 'spark'})")
    val cross = sess.run(
      """MATCH (u:User) OPTIONAL MATCH (t:Tech)
        |RETURN u.name AS user, t.name AS tech ORDER BY user""".stripMargin)
      .asInstanceOf[CypherRows].df.as[(String, Option[String])].collect().toSeq
    assert(cross === Seq(("alice", Some("spark")), ("bob", Some("spark"))))
  }

  test("variable-length relationship binding: r is the list; relationships(p)/nodes(p)") {
    val sess = freshSession
    // chain a -> b -> c
    sess.run("""MERGE (a:Tech {name: 'a'}) MERGE (b:Tech {name: 'b'})
               |MERGE (a)-[:NEXT]->(b)""".stripMargin)
    sess.run("""MERGE (b:Tech {name: 'b'}) MERGE (c:Tech {name: 'c'})
               |MERGE (b)-[:NEXT]->(c)""".stripMargin)
    val rows = sess.run(
      """MATCH p = (a:Tech {name: 'a'})-[r:NEXT*1..2]->(x)
        |RETURN x.name AS dest, length(p) AS hops, size(r) AS n_rels,
        |       size(relationships(p)) AS n_rels2, size(nodes(p)) AS n_nodes
        |ORDER BY hops""".stripMargin)
      .asInstanceOf[CypherRows].df.collect()
      .map(r => (r.getString(0), r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4)))
    // the relationship list length always equals length(p); nodes = hops+1
    assert(rows.toSeq === Seq(("b", 1, 1, 1, 2), ("c", 2, 2, 2, 3)))
    // reversed pattern: arrays flip into pattern order — nodes(p) starts
    // at the pattern-left endpoint
    val rev = sess.run(
      """MATCH p = (c:Tech {name: 'c'})<-[r:NEXT*2..2]-(a)
        |RETURN a.name AS src, size(r) AS n_rels, nodes(p) AS ns, id(c) AS cid""".stripMargin)
      .asInstanceOf[CypherRows].df.collect()
    assert(rev.length === 1)
    assert(rev.head.getString(0) === "a")
    assert(rev.head.getInt(1) === 2)
    assert(rev.head.getSeq[Long](2).length === 3)
    assert(rev.head.getSeq[Long](2).head === rev.head.getLong(3))
  }

  test("anchored shortestPath seeds the BFS and matches unanchored semantics") {
    val sess = freshSession
    // diamond + tail: a->b->d, a->c->d, d->e
    for ((s, d) <- Seq(("a", "b"), ("a", "c"), ("b", "d"), ("c", "d"), ("d", "e")))
      sess.run(s"""MERGE (x:Tech {name: '$s'}) MERGE (y:Tech {name: '$d'})
                  |MERGE (x)-[:NEXT]->(y)""".stripMargin)
    val anchored = sess.run(
      """MATCH p = shortestPath((a:Tech {name: 'a'})-[:NEXT*1..3]->(x))
        |RETURN x.name AS dest, length(p) AS hops ORDER BY dest""".stripMargin)
      .asInstanceOf[CypherRows].df.collect()
      .map(r => (r.getString(0), r.getInt(1))).toSeq
    assert(anchored === Seq(("b", 1), ("c", 1), ("d", 2), ("e", 3)))
    // right-side anchor: BFS runs over the flipped edges from the target set
    val revAnchored = sess.run(
      """MATCH p = shortestPath((s)-[:NEXT*1..3]->(x:Tech {name: 'e'}))
        |RETURN s.name AS src, length(p) AS hops ORDER BY src""".stripMargin)
      .asInstanceOf[CypherRows].df.collect()
      .map(r => (r.getString(0), r.getInt(1))).toSeq
    assert(revAnchored === Seq(("a", 3), ("b", 2), ("c", 2), ("d", 1)))
  }

  test("inline-prop anchored shortestPath equals the WHERE-filtered form") {
    val sess = freshSession
    // two stars sharing no nodes; only hub 'h1' carries kind='x'
    for ((h, kind, leaves) <- Seq(("h1", "x", Seq("l1", "l2")),
        ("h2", "y", Seq("l3", "l4"))))
      leaves.foreach { l =>
        sess.run(s"""MERGE (a:Tech {name: '$h'}) SET a.kind = '$kind'
                    |MERGE (b:Tech {name: '$l'})
                    |MERGE (a)-[:NEXT]->(b)""".stripMargin)
      }
    // the inline form seeds the BFS from the filtered set (the fast path);
    // the WHERE form filters after the match — results must be identical
    def run(q: String) = sess.run(q).asInstanceOf[CypherRows].df.collect()
      .map(r => (r.getString(0), r.getInt(1))).toSet
    val inline = run(
      """MATCH p = shortestPath((a:Tech {kind: 'x'})-[:NEXT*1..2]->(x))
        |RETURN x.name AS dest, length(p) AS hops""".stripMargin)
    val whereForm = run(
      """MATCH p = shortestPath((a:Tech)-[:NEXT*1..2]->(x))
        |WHERE a.kind = 'x'
        |RETURN x.name AS dest, length(p) AS hops""".stripMargin)
    assert(inline === Set(("l1", 1), ("l2", 1)))
    assert(inline === whereForm)
  }

  test("SET with expressions: computed per matched row, merged by id") {
    val sess = freshSession
    Seq(("d1", "en", "1"), ("d2", "de", "2")).foreach { case (l, lang, v) =>
      sess.run("MERGE (a:Article {link: $l}) SET a.lang = $lang, a.views = $v",
        Map("l" -> l, "lang" -> lang, "v" -> v))
    }
    val w = sess.run(
      "MATCH (a:Article) SET a.caps = toUpper(a.lang), a.views = toInteger(a.views) + 10")
      .asInstanceOf[CypherWrite]
    assert(w.propertiesSet === 4) // 2 nodes x 2 items
    val rows = sess.run(
      """MATCH (a:Article)
        |RETURN a.link AS link, a.caps AS caps, a.views AS views
        |ORDER BY link""".stripMargin)
      .asInstanceOf[CypherRows].df.as[(String, String, String)].collect().toSeq
    assert(rows === Seq(("d1", "EN", "11"), ("d2", "DE", "12")))
    // CASE in SET, gated by WHERE — untouched rows keep their bag
    sess.run("""MATCH (a:Article) WHERE a.lang = 'en'
               |SET a.tier = CASE WHEN toInteger(a.views) > 11 THEN 'hot' ELSE 'warm' END""".stripMargin)
    val tiers = sess.run(
      """MATCH (a:Article) RETURN a.link AS link, a.tier AS tier ORDER BY link""")
      .asInstanceOf[CypherRows].df.as[(String, Option[String])].collect().toSeq
    assert(tiers === Seq(("d1", Some("warm")), ("d2", None)))
  }

  test("string toolkit: substring/split/replace/left/right/toString") {
    val sess = freshSession
    sess.run("MERGE (a:Article {link: 'd1'}) SET a.title = 'hello spark world'")
    val r = sess.run(
      """MATCH (a:Article)
        |RETURN substring(a.title, 0, 5) AS sub, left(a.title, 2) AS l,
        |       right(a.title, 5) AS r, replace(a.title, 'spark', 'flink') AS rep,
        |       size(split(a.title, ' ')) AS n_tokens,
        |       toString(size(a.title)) AS len_str""".stripMargin)
      .asInstanceOf[CypherRows].df.collect().head
    assert(r.getString(0) === "hello")
    assert(r.getString(1) === "he")
    assert(r.getString(2) === "world")
    assert(r.getString(3) === "hello flink world")
    assert(r.getInt(4) === 3)
    assert(r.getString(5) === "17")
  }

  test("EXISTS { } / NOT EXISTS { } pattern predicates lower to semi/anti joins") {
    val sess = freshSession
    Seq(("alice", "spark"), ("alice", "flink"), ("bob", "duck")).foreach {
      case (u, t) =>
        sess.run("""MERGE (u:User {name: $u}) MERGE (t:Tech {name: $t})
                   |MERGE (u)-[:INTERESTED_IN]->(t)""".stripMargin,
          Map("u" -> u, "t" -> t))
    }
    sess.run("MERGE (u:User {name: 'carol'})") // no interests at all
    val withSpark = sess.run(
      """MATCH (u:User)
        |WHERE EXISTS { (u)-[:INTERESTED_IN]->(t:Tech) WHERE t.name = 'spark' }
        |RETURN u.name AS name ORDER BY name""".stripMargin)
      .asInstanceOf[CypherRows].df.as[String].collect().toSeq
    assert(withSpark === Seq("alice"))
    val withoutSpark = sess.run(
      """MATCH (u:User)
        |WHERE NOT EXISTS { (u)-[:INTERESTED_IN]->(t:Tech) WHERE t.name = 'spark' }
        |RETURN u.name AS name ORDER BY name""".stripMargin)
      .asInstanceOf[CypherRows].df.as[String].collect().toSeq
    assert(withoutSpark === Seq("bob", "carol"))
    // mixes with plain conjuncts; anti path composes with other predicates
    val mixed = sess.run(
      """MATCH (u:User)
        |WHERE EXISTS { (u)-[:INTERESTED_IN]->(t:Tech) } AND u.name <> 'alice'
        |RETURN u.name AS name""".stripMargin)
      .asInstanceOf[CypherRows].df.as[String].collect().toSeq
    assert(mixed === Seq("bob"))
    // under OR it is not a column — the compiler says so, not a MatchError
    val err = intercept[IllegalArgumentException] {
      sess.run("""MATCH (u:User)
                 |WHERE EXISTS { (u)-[:INTERESTED_IN]->(t:Tech) } OR u.name = 'x'
                 |RETURN u.name AS name""".stripMargin)
        .asInstanceOf[CypherRows].df.collect()
    }
    assert(err.getMessage.contains("top-level WHERE conjunct"))
  }

  test("COUNT { } subquery: per-row match count, 0 when nothing matches") {
    val sess = freshSession
    Seq(("alice", "spark"), ("alice", "flink"), ("bob", "duck")).foreach {
      case (u, t) =>
        sess.run("""MERGE (u:User {name: $u}) MERGE (t:Tech {name: $t})
                   |MERGE (u)-[:INTERESTED_IN]->(t)""".stripMargin,
          Map("u" -> u, "t" -> t))
    }
    sess.run("MERGE (u:User {name: 'carol'})")
    val counts = sess.run(
      """MATCH (u:User)
        |RETURN u.name AS name, COUNT { (u)-[:INTERESTED_IN]->(t:Tech) } AS n
        |ORDER BY name""".stripMargin)
      .asInstanceOf[CypherRows].df.as[(String, Long)].collect().toSeq
    assert(counts === Seq(("alice", 2L), ("bob", 1L), ("carol", 0L)))
    // with an inner WHERE, and usable inside arithmetic + outer WHERE
    val filtered = sess.run(
      """MATCH (u:User)
        |WHERE COUNT { (u)-[:INTERESTED_IN]->(t:Tech) WHERE t.name <> 'duck' } + 1 > 1
        |RETURN u.name AS name ORDER BY name""".stripMargin)
      .asInstanceOf[CypherRows].df.as[String].collect().toSeq
    assert(filtered === Seq("alice"))
  }

  test("COUNT { } sibling pattern collapses to degree math ≡ enumeration") {
    // (a:Article)-[:W]->(p)<-[:W]-(c:Article) correlated only on p is
    // count-only: the rewrite answers it from the degree distribution
    // (VERDICT r8 #1). Every supported WHERE mode must match the
    // enumeration fallback exactly — including non-unique prop values,
    // where C(deg,2) would be wrong and the per-value multiplicity math
    // (T²−ΣM_v²) is what holds.
    val rnd = new scala.util.Random(11)
    val langs = Seq("en", "de", "fr")
    val arts = (1 to 30).map(i =>
      ("Article", f"l$i%02d", Map("lang" -> langs(rnd.nextInt(3)))))
    val pubs = (1 to 4).map(i => ("Publisher", s"p$i", Map.empty[String, String]))
    val eds = (1 to 30).map(i =>
      ("Article", f"l$i%02d", "WRITTEN_BY", "Publisher", s"p${1 + rnd.nextInt(4)}"))
    val g = PropertyGraph.empty(spark)
      .mergeNodes((arts ++ pubs).toDF("label", "key", "props"))
      .mergeEdgesByKey(eds.toDF("srcLabel", "srcKey", "relType", "dstLabel", "dstKey"))
    val sess = new CypherSession(g)
    def q(where: String) =
      s"""MATCH (p:Publisher)
         |RETURN p.name AS name,
         |  COUNT { (a:Article)-[:WRITTEN_BY]->(p)<-[:WRITTEN_BY]-(c:Article)$where } AS n
         |ORDER BY name""".stripMargin
    // (rewritten WHERE, semantically-identical fallback WHERE that defeats
    // the shape detection — an AND conjunct / self-comparison)
    val cases = Seq(
      ("" -> " WHERE a.link = a.link"),
      (" WHERE a.link < c.link" -> " WHERE a.link < c.link AND a.link < c.link"),
      (" WHERE a.lang < c.lang" -> " WHERE a.lang < c.lang AND a.lang < c.lang"),
      (" WHERE c.lang > a.lang" -> " WHERE c.lang > a.lang AND c.lang > a.lang"),
      (" WHERE a.lang <> c.lang" -> " WHERE a.lang <> c.lang AND a.lang <> c.lang"))
    cases.foreach { case (fastW, slowW) =>
      val before = CypherSession.siblingRewrites.get()
      val fast = sess.run(q(fastW)).asInstanceOf[CypherRows]
        .df.as[(String, Long)].collect().toSeq
      assert(CypherSession.siblingRewrites.get() === before + 1,
        s"rewrite did not engage for '$fastW'")
      val slow = sess.run(q(slowW)).asInstanceOf[CypherRows]
        .df.as[(String, Long)].collect().toSeq
      assert(CypherSession.siblingRewrites.get() === before + 1,
        s"fallback unexpectedly rewrote '$slowW'")
      assert(fast === slow, s"mismatch for '$fastW'")
      assert(fast.map(_._2).sum > 0, s"degenerate fixture for '$fastW'")
    }
    // out-of-b orientation: (x)<-[:R]-(m)-[:R]->(y) with only m correlated
    val g2 = PropertyGraph.empty(spark)
      .mergeNodes((Seq(("User", "u1", Map.empty[String, String])) ++
        (1 to 5).map(i => ("Tech", s"t$i", Map.empty[String, String])))
        .toDF("label", "key", "props"))
      .mergeEdgesByKey((1 to 5).map(i =>
        ("User", "u1", "INTERESTED_IN", "Tech", s"t$i"))
        .toDF("srcLabel", "srcKey", "relType", "dstLabel", "dstKey"))
    val sess2 = new CypherSession(g2)
    val before2 = CypherSession.siblingRewrites.get()
    val out = sess2.run(
      """MATCH (u:User)
        |RETURN u.name AS name,
        |  COUNT { (x:Tech)<-[:INTERESTED_IN]-(u)-[:INTERESTED_IN]->(y:Tech)
        |          WHERE x.name < y.name } AS n""".stripMargin)
      .asInstanceOf[CypherRows].df.as[(String, Long)].collect().toSeq
    assert(CypherSession.siblingRewrites.get() === before2 + 1)
    assert(out === Seq(("u1", 10L))) // C(5,2)
  }

  test("simple-form CASE desugars to searched CASE") {
    val sess = freshSession
    Seq("spark", "flink", "duck").foreach { t =>
      sess.run("MERGE (t:Tech {name: $t})", Map("t" -> t))
    }
    val rows = sess.run(
      """MATCH (t:Tech)
        |RETURN t.name AS name,
        |  CASE t.name WHEN 'spark' THEN 'jvm' WHEN 'flink' THEN 'jvm'
        |    ELSE 'native' END AS runtime
        |ORDER BY name""".stripMargin)
      .asInstanceOf[CypherRows].df.as[(String, String)].collect().toSeq
    assert(rows === Seq(("duck", "native"), ("flink", "jvm"), ("spark", "jvm")))
    // no ELSE → NULL (same as the searched form)
    val noElse = sess.run(
      """MATCH (t:Tech)
        |RETURN t.name AS name, CASE t.name WHEN 'spark' THEN 1 END AS flag
        |ORDER BY name""".stripMargin)
      .asInstanceOf[CypherRows].df.as[(String, Option[Long])].collect().toSeq
    assert(noElse === Seq(("duck", None), ("flink", None), ("spark", Some(1L))))
  }

  test("properties() folds the merge key into the bag; keys() is its sorted key list") {
    val sess = freshSession
    sess.run("MERGE (a:Article {link: 'd1'}) SET a.title = 'T', a.lang = 'en'")
    val r = sess.run(
      """MATCH (a:Article)
        |RETURN properties(a) AS props, keys(a) AS ks, size(keys(a)) AS n""".stripMargin)
      .asInstanceOf[CypherRows].df.collect().head
    assert(r.getMap[String, String](0).toMap ===
      Map("link" -> "d1", "title" -> "T", "lang" -> "en"))
    assert(r.getSeq[String](1) === Seq("lang", "link", "title"))
    assert(r.getInt(2) === 3)
    // relationship bags pass through as-is
    sess.run("""MERGE (u:User {name: 'u1'}) MERGE (t:Tech {name: 's'})
               |MERGE (u)-[:INTERESTED_IN {level: 'high'}]->(t)""".stripMargin)
    val er = sess.run(
      """MATCH (u:User)-[r:INTERESTED_IN]->(t:Tech)
        |RETURN keys(r) AS ks""".stripMargin)
      .asInstanceOf[CypherRows].df.collect().head
    assert(er.getSeq[String](0) === Seq("level"))
  }

  test("UNWIND range() explodes a closed interval; general expressions unwind") {
    val sess = freshSession
    val r = sess.run("UNWIND range(1, 5) AS n RETURN n AS n, n * n AS sq ORDER BY n")
      .asInstanceOf[CypherRows].df.collect()
    assert(r.map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L, 4L, 5L))
    assert(r.map(_.getLong(1)).toSeq === Seq(1L, 4L, 9L, 16L, 25L))
    // step variant, and range() inside size()
    val s = sess.run("UNWIND range(0, 10, 2) AS n RETURN count(*) AS c, size(range(1, 3)) AS k")
      .asInstanceOf[CypherRows].df.collect().head
    assert(s.getLong(0) === 6L && s.getInt(1) === 3)
    // splitting a property unwinds its words
    sess.run("MERGE (a:Article {link: 'd1'}) SET a.title = 'alpha beta gamma'")
    val words = sess.run(
      """MATCH (a:Article) UNWIND split(a.title, ' ') AS w
        |RETURN w ORDER BY w""".stripMargin)
      .asInstanceOf[CypherRows].df.as[String].collect().toSeq
    assert(words === Seq("alpha", "beta", "gamma"))
  }

  test("list comprehension: filter and projection lambdas compile to HOFs") {
    val sess = freshSession
    val r = sess.run(
      """UNWIND [x IN range(1, 10) WHERE x % 2 = 0 | x * 10] AS v
        |RETURN v ORDER BY v""".stripMargin)
      .asInstanceOf[CypherRows].df.as[Long].collect().toSeq
    assert(r === Seq(20L, 40L, 60L, 80L, 100L))
    // filter-only and projection-only forms; literal list source
    val row = sess.run(
      """RETURN size([x IN [1, 2, 3, 4] WHERE x > 2]) AS nf,
        |  [x IN [1, 2, 3] | x + 1] AS mapped""".stripMargin)
      .asInstanceOf[CypherRows].df.collect().head
    assert(row.getInt(0) === 2)
    assert(row.getSeq[Any](1).map(_.toString.toDouble) === Seq(2.0, 3.0, 4.0))
    // the lambda variable shadows an outer binding of the same name
    val shadow = sess.run(
      """UNWIND [9] AS x
        |RETURN [x IN [1, 2] | x * 2] AS doubled, x AS outer_x""".stripMargin)
      .asInstanceOf[CypherRows].df.collect().head
    assert(shadow.getSeq[Any](0).map(_.toString.toDouble) === Seq(2.0, 4.0))
    assert(shadow.getLong(1) === 9L)
  }

  test("reduce() folds a list; head()/last() pick its ends") {
    val sess = freshSession
    val r = sess.run(
      """RETURN reduce(acc = 0, x IN range(1, 10) | acc + x) AS tri,
        |  head(range(3, 7)) AS h, last(range(3, 7)) AS l""".stripMargin)
      .asInstanceOf[CypherRows].df.collect().head
    assert(r.getLong(0) === 55L && r.getLong(1) === 3L && r.getLong(2) === 7L)
    // fold over a comprehension of split() words — string lengths
    sess.run("MERGE (a:Article {link: 'd1'}) SET a.title = 'ab cde f ghij'")
    val n = sess.run(
      """MATCH (a:Article)
        |RETURN reduce(acc = 0, w IN [w IN split(a.title, ' ')
        |  WHERE size(w) > 1 | w] | acc + size(w)) AS chars""".stripMargin)
      .asInstanceOf[CypherRows].df.collect().head.getLong(0)
    assert(n === 9L) // ab + cde + ghij
  }

  test("EXISTS { } as an expression returns per-row booleans") {
    val sess = freshSession
    sess.run("""MERGE (u:User {name: 'alice'}) MERGE (t:Tech {name: 'spark'})
               |MERGE (u)-[:INTERESTED_IN]->(t)""".stripMargin)
    sess.run("MERGE (u:User {name: 'bob'})") // no interests
    val rows = sess.run(
      """MATCH (u:User)
        |RETURN u.name AS name,
        |  EXISTS { (u)-[:INTERESTED_IN]->(t:Tech) } AS has
        |ORDER BY name""".stripMargin)
      .asInstanceOf[CypherRows].df.as[(String, Boolean)].collect().toSeq
    assert(rows === Seq(("alice", true), ("bob", false)))
    // the subquery's own WHERE narrows the probe
    val narrowed = sess.run(
      """MATCH (u:User)
        |RETURN u.name AS name,
        |  EXISTS { (u)-[:INTERESTED_IN]->(t:Tech)
        |           WHERE t.name = 'flink' } AS has_flink
        |ORDER BY name""".stripMargin)
      .asInstanceOf[CypherRows].df.as[(String, Boolean)].collect().toSeq
    assert(narrowed === Seq(("alice", false), ("bob", false)))
  }

  test("MATCH ... CREATE accepts comma-separated relationship patterns") {
    val sess = freshSession
    sess.run("MERGE (a:N {name: 'a'}) MERGE (b:N {name: 'b'}) MERGE (c:N {name: 'c'})")
    sess.run("""MATCH (a:N {name: 'a'}), (b:N {name: 'b'}), (c:N {name: 'c'})
               |CREATE (a)-[:HOP]->(b), (b)-[:HOP]->(c)""".stripMargin)
    assert(sess.graph.edges.count() === 2)
    val chain = sess.run(
      """MATCH (a:N {name: 'a'})-[:HOP]->(b)-[:HOP]->(c)
        |RETURN c.name AS dst""".stripMargin)
      .asInstanceOf[CypherRows].df.as[String].collect().toSeq
    assert(chain === Seq("c"))
    // CREATE (not MERGE): re-running appends duplicate edges
    sess.run("""MATCH (a:N {name: 'a'}), (b:N {name: 'b'}), (c:N {name: 'c'})
               |CREATE (a)-[:HOP]->(b), (b)-[:HOP]->(c)""".stripMargin)
    assert(sess.graph.edges.count() === 4)
  }

  test("inline pattern WHERE desugars into the stage filter") {
    val sess = freshSession
    Seq(("alice", "spark"), ("bob", "spark"), ("alice", "flink")).foreach {
      case (u, t) =>
        sess.run("""MERGE (u:User {name: $u}) MERGE (t:Tech {name: $t})
                   |MERGE (u)-[:INTERESTED_IN]->(t)""".stripMargin,
          Map("u" -> u, "t" -> t))
    }
    val rows = sess.run(
      """MATCH (u:User WHERE u.name STARTS WITH 'a')
        |      -[:INTERESTED_IN]->(t:Tech WHERE t.name = 'spark')
        |RETURN u.name AS name, t.name AS tech""".stripMargin)
      .asInstanceOf[CypherRows].df.as[(String, String)].collect().toSeq
    assert(rows === Seq(("alice", "spark")))
    // combines (ANDs) with an explicit post-pattern WHERE
    val both = sess.run(
      """MATCH (u:User WHERE u.name CONTAINS 'o')-[:INTERESTED_IN]->(t)
        |WHERE t.name = 'spark'
        |RETURN u.name AS name""".stripMargin)
      .asInstanceOf[CypherRows].df.as[String].collect().toSeq
    assert(both === Seq("bob"))
    // inside EXISTS { } subpatterns the predicate scopes to the subquery
    val ex = sess.run(
      """MATCH (u:User)
        |WHERE EXISTS { (u)-[:INTERESTED_IN]->(x:Tech WHERE x.name = 'flink') }
        |RETURN u.name AS name""".stripMargin)
      .asInstanceOf[CypherRows].df.as[String].collect().toSeq
    assert(ex === Seq("alice"))
    // write-clause patterns reject it; anonymous nodes need a variable
    intercept[IllegalArgumentException] {
      sess.run("MERGE (x:Tech {name: 'y'} WHERE x.name = 'y')")
    }
    intercept[IllegalArgumentException] {
      sess.run("MATCH (:User WHERE name = 'alice') RETURN 1")
    }
  }

  test("list quantifiers any/all/none/single lower to HOF lambdas") {
    val sess = freshSession
    val rows = sess.run(
      """UNWIND [1, 4, 7] AS n
        |WITH n, range(1, n) AS xs
        |RETURN n,
        |  CASE WHEN any(x IN xs WHERE x > 3) THEN 1 ELSE 0 END AS has_gt3,
        |  CASE WHEN all(x IN xs WHERE x < 5) THEN 1 ELSE 0 END AS all_lt5,
        |  CASE WHEN none(x IN xs WHERE x = 2) THEN 1 ELSE 0 END AS no_two,
        |  CASE WHEN single(x IN xs WHERE x % 3 = 0) THEN 1 ELSE 0 END AS one_m3
        |ORDER BY n""".stripMargin)
      .asInstanceOf[CypherRows].df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4))).toSeq
    assert(rows === Seq(
      (1L, 0L, 1L, 1L, 0L),   // [1]: no >3; all <5; no 2; zero mult-of-3
      (4L, 1L, 1L, 0L, 1L),   // [1..4]: 4>3; all <5; has 2; exactly {3}
      (7L, 1L, 0L, 0L, 0L)))  // [1..7]: 7>3; 5,6,7 ≥5; has 2; {3,6} is two
    // quantifiers in WHERE position (top-level and under NOT)
    val n = sess.run(
      """UNWIND range(1, 9) AS n
        |WITH n WHERE any(x IN range(1, n) WHERE x * x = 9) AND
        |  NOT all(x IN range(1, n) WHERE x < 9)
        |RETURN count(*) AS c""".stripMargin)
      .asInstanceOf[CypherRows].df.collect().head.getLong(0)
    assert(n === 1L) // only n=9 reaches x=3 (square 9) AND x=9 (not <9)
  }

  test("math scalar family, constants, toBoolean, reverse/tail/isEmpty") {
    val sess = freshSession
    val r = sess.run(
      """RETURN sqrt(16) AS sq, sign(-3) AS sg, ceil(2.1) AS ce,
        |  floor(2.9) AS fl, round(exp(1), 6) AS ex, round(log(e()), 6) AS ln1,
        |  round(log10(1000), 6) AS lg, round(pi(), 4) AS p4,
        |  toBoolean('true') AS tb, reverse('abc') AS rev,
        |  reverse([1, 2]) AS revl, tail(range(1, 4)) AS tl,
        |  head(tail(range(5, 9))) AS h2, isEmpty(tail([1])) AS emp,
        |  isEmpty(trim(' ')) AS emps, isEmpty('x') AS nonemp""".stripMargin)
      .asInstanceOf[CypherRows].df.collect().head
    assert(r.getDouble(0) === 4.0 && r.getLong(1) === -1L)
    assert(r.getDouble(2) === 3.0 && r.getDouble(3) === 2.0) // DOUBLE, not LONG
    assert(r.getDouble(4) === 2.718282 && r.getDouble(5) === 1.0)
    assert(r.getDouble(6) === 3.0 && r.getDouble(7) === 3.1416)
    assert(r.getBoolean(8))
    assert(r.getString(9) === "cba")
    assert(r.getSeq[Long](10) === Seq(2L, 1L))
    assert(r.getSeq[Long](11) === Seq(2L, 3L, 4L))
    assert(r.getLong(12) === 6L)
    assert(r.getBoolean(13) && r.getBoolean(14) && !r.getBoolean(15))
  }

  test("=~ regex matches the WHOLE string, as in Neo4j") {
    val sess = freshSession
    Seq("spark rocks", "sparkly", "SPARK").foreach { t =>
      sess.run("MERGE (a:Article {link: $l}) SET a.title = $l", Map("l" -> t))
    }
    val full = sess.run(
      """MATCH (a:Article) WHERE a.title =~ 'spark.*'
        |RETURN a.title AS t ORDER BY t""".stripMargin)
      .asInstanceOf[CypherRows].df.as[String].collect().toSeq
    assert(full === Seq("spark rocks", "sparkly")) // case-sensitive, anchored
    // partial patterns do NOT match unless they span the whole string
    val none = sess.run(
      """MATCH (a:Article) WHERE a.title =~ 'spark'
        |RETURN count(*) AS c""".stripMargin)
      .asInstanceOf[CypherRows].df.collect().head.getLong(0)
    assert(none === 0L)
    // case-insensitive flag syntax passes through to the Java regex engine
    val ci = sess.run(
      """MATCH (a:Article) WHERE a.title =~ '(?i)spark.*'
        |RETURN count(*) AS c""".stripMargin)
      .asInstanceOf[CypherRows].df.collect().head.getLong(0)
    assert(ci === 3L)
  }

  test("ORDER BY expressions: aggregates, scalars, hidden sort columns dropped") {
    val sess = freshSession
    Seq(("alice", 3), ("bo", 1), ("carolina", 2)).foreach { case (u, n) =>
      (1 to n).foreach { i =>
        sess.run("""MERGE (u:User {name: $u}) MERGE (t:Tech {name: $t})
                   |MERGE (u)-[:INTERESTED_IN]->(t)""".stripMargin,
          Map("u" -> u, "t" -> s"t$i"))
      }
    }
    // ORDER BY an aggregate that IS projected — sorts its output column
    val byCount = sess.run(
      """MATCH (u:User)-[:INTERESTED_IN]->(t)
        |RETURN u.name AS name, count(t) AS n ORDER BY count(t) DESC""".stripMargin)
      .asInstanceOf[CypherRows].df.collect().map(_.getString(0)).toSeq
    assert(byCount === Seq("alice", "carolina", "bo"))
    // ORDER BY a scalar expression NOT projected — hidden column, dropped
    val r = sess.run(
      """MATCH (u:User)
        |RETURN u.name AS name ORDER BY size(u.name) DESC""".stripMargin)
      .asInstanceOf[CypherRows].df
    assert(r.columns.toSeq === Seq("name"))
    assert(r.collect().map(_.getString(0)).toSeq === Seq("carolina", "alice", "bo"))
    // ORDER BY an aggregate NOT projected
    val r2 = sess.run(
      """MATCH (u:User)-[:INTERESTED_IN]->(t)
        |RETURN u.name AS name ORDER BY count(t) ASC""".stripMargin)
      .asInstanceOf[CypherRows].df
    assert(r2.columns.toSeq === Seq("name"))
    assert(r2.collect().map(_.getString(0)).toSeq === Seq("bo", "carolina", "alice"))
  }

  test("list indexing and slicing: xs[i], xs[-1], xs[a..b], open bounds") {
    val sess = freshSession
    val r = sess.run(
      """RETURN range(10, 50, 10)[0] AS first, range(10, 50, 10)[-1] AS last_,
        |  range(10, 50, 10)[9] AS oob,
        |  range(0, 9)[2..5] AS mid, range(0, 9)[..2] AS lo_,
        |  range(0, 9)[7..] AS hi_, size(range(0, 9)[2..5]) AS n""".stripMargin)
      .asInstanceOf[CypherRows].df.collect().head
    assert(r.getLong(0) === 10L && r.getLong(1) === 50L)
    assert(r.isNullAt(2)) // out of range → NULL
    assert(r.getSeq[Long](3) === Seq(2L, 3L, 4L))
    assert(r.getSeq[Long](4) === Seq(0L, 1L))
    assert(r.getSeq[Long](5) === Seq(7L, 8L, 9L))
    assert(r.getInt(6) === 3)
    // indexing a split() property and a collect() aggregate
    sess.run("MERGE (a:Article {link: 'd1'}) SET a.title = 'alpha beta gamma'")
    val w = sess.run(
      """MATCH (a:Article)
        |RETURN split(a.title, ' ')[1] AS second,
        |  collect(a.link)[0] AS first_link""".stripMargin)
      .asInstanceOf[CypherRows].df.collect().head
    assert(w.getString(0) === "beta" && w.getString(1) === "d1")
  }

  test("SET n += {map} merges keys; SET n = {map} replaces the bag") {
    val sess = freshSession
    sess.run("MERGE (a:Article {link: 'd1'}) SET a.title = 'old', a.views = '3'")
    // += overwrites listed keys, keeps the rest; values are full expressions
    sess.run("""MATCH (a:Article {link: 'd1'})
               |SET a += {title: 'new', lang: 'en', views: toInteger(a.views) + 1}""".stripMargin)
    val r = sess.run(
      """MATCH (a:Article {link: 'd1'})
        |RETURN a.title AS t, a.views AS v, a.lang AS l""".stripMargin)
      .asInstanceOf[CypherRows].df.collect().head
    assert(r.getString(0) === "new" && r.getString(1) === "4" && r.getString(2) === "en")
    // = clears the bag first: views/lang vanish, the merge key survives
    sess.run("MATCH (a:Article {link: 'd1'}) SET a = {title: 'solo'}")
    val r2 = sess.run(
      """MATCH (a:Article {link: 'd1'})
        |RETURN a.title AS t, a.views AS v, a.link AS k""".stripMargin)
      .asInstanceOf[CypherRows].df.collect().head
    assert(r2.getString(0) === "solo" && r2.isNullAt(1) && r2.getString(2) === "d1")
  }

  test("allShortestPaths: every tying minimum-hop walk survives, with rel lists") {
    val sess = freshSession
    // diamond a→{b1,b2}→c plus a 3-hop decoy a→x→y→c
    sess.runScript(
      """MERGE (a:Article {link: 'a'}); MERGE (b1:Article {link: 'b1'});
        |MERGE (b2:Article {link: 'b2'}); MERGE (c:Article {link: 'c'});
        |MERGE (x:Article {link: 'x'}); MERGE (y:Article {link: 'y'});""".stripMargin)
    Seq("a" -> "b1", "a" -> "b2", "b1" -> "c", "b2" -> "c",
        "a" -> "x", "x" -> "y", "y" -> "c").foreach { case (s, d) =>
      sess.run(s"MATCH (s:Article {link: '$s'}), (d:Article {link: '$d'}) " +
        "MERGE (s)-[:LINK]->(d)")
    }
    val all = sess.run(
      """MATCH p = allShortestPaths((s:Article {link: 'a'})-[:LINK*1..4]->(t:Article {link: 'c'}))
        |RETURN length(p) AS len, size(relationships(p)) AS nrels""".stripMargin)
      .asInstanceOf[CypherRows].df.collect()
    assert(all.length === 2) // both 2-hop walks tie; the 3-hop decoy is out
    assert(all.forall(r => r.getInt(0) === 2 && r.getInt(1) === 2))
    // shortestPath collapses the same pair to ONE row
    val one = sess.run(
      """MATCH p = shortestPath((s:Article {link: 'a'})-[:LINK*1..4]->(t:Article {link: 'c'}))
        |RETURN length(p) AS len""".stripMargin)
      .asInstanceOf[CypherRows].df.collect()
    assert(one.length === 1 && one.head.getInt(0) === 2)
  }

  test("statistical aggregates: stDev/stDevP, percentileCont/percentileDisc") {
    val sess = freshSession
    // scores 2,4,4,4,5,5,7,9 — textbook population sd = 2, sample sd ≈ 2.138
    Seq(2, 4, 4, 4, 5, 5, 7, 9).zipWithIndex.foreach { case (v, i) =>
      sess.run(s"CREATE (a:Article {link: 'd$i'}) SET a.score = '$v'")
    }
    val r = sess.run(
      """MATCH (a:Article)
        |RETURN round(stDevP(a.score), 6) AS sdp,
        |  round(stDev(a.score), 3) AS sd,
        |  percentileCont(a.score, 0.5) AS p50,
        |  percentileDisc(a.score, 0.5) AS p50d,
        |  percentileDisc(a.score, 1.0) AS pmax""".stripMargin)
      .asInstanceOf[CypherRows].df.collect().head
    assert(r.getDouble(0) === 2.0)
    assert(r.getDouble(1) === 2.138)
    assert(r.getDouble(2) === 4.5) // interpolated between 4 and 5
    assert(r.getDouble(3) === 4.0) // nearest-rank: ceil(0.5*8) = 4th = 4
    assert(r.getDouble(4) === 9.0)
    // grouped form with a WITH horizon feeding the aggregate
    val g = sess.run(
      """MATCH (a:Article)
        |WITH a.score AS s
        |RETURN percentileDisc(s, 0.25) AS q1""".stripMargin)
      .asInstanceOf[CypherRows].df.collect().head
    assert(g.getDouble(0) === 4.0) // ceil(0.25*8) = 2nd = 4
  }

  test("FOREACH (x IN list | SET …): per-element writes and the conditional-write idiom") {
    val sess = freshSession
    sess.run("MERGE (a:Article {link: 'd1'}) SET a.score = '5'")
    sess.run("MERGE (a:Article {link: 'd2'}) SET a.score = '1'")
    // the classic conditional write: empty list = skip the row
    sess.run(
      """MATCH (a:Article)
        |FOREACH (x IN CASE WHEN toInteger(a.score) > 3 THEN [1] ELSE [] END |
        |  SET a.tier = 'high')""".stripMargin)
    val tiers = sess.run(
      """MATCH (a:Article)
        |RETURN a.link AS link, coalesce(a.tier, 'none') AS tier
        |ORDER BY link""".stripMargin)
      .asInstanceOf[CypherRows].df.collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    assert(tiers === Seq(("d1", "high"), ("d2", "none")))
    // element-referencing body: the unwound variable feeds the SET value
    sess.run(
      """MATCH (a:Article {link: 'd2'})
        |FOREACH (x IN [10] | SET a.score = toString(x))""".stripMargin)
    val s2 = sess.run("MATCH (a:Article {link: 'd2'}) RETURN a.score AS s")
      .asInstanceOf[CypherRows].df.collect().head.getString(0)
    assert(s2 === "10")
  }

  test("bare pattern predicates: WHERE (a)-[:R]->(b) is EXISTS shorthand") {
    val sess = freshSession
    Seq(("alice", "spark"), ("bob", "flink")).foreach { case (u, t) =>
      sess.run("""MERGE (u:User {name: $u}) MERGE (t:Tech {name: $t})
                 |MERGE (u)-[:INTERESTED_IN]->(t)""".stripMargin,
        Map("u" -> u, "t" -> t))
    }
    sess.run("MERGE (u:User {name: 'carol'})")
    val has = sess.run(
      """MATCH (u:User) WHERE (u)-[:INTERESTED_IN]->(:Tech)
        |RETURN u.name AS name ORDER BY name""".stripMargin)
      .asInstanceOf[CypherRows].df.as[String].collect().toSeq
    assert(has === Seq("alice", "bob"))
    val hasNot = sess.run(
      """MATCH (u:User) WHERE NOT (u)-[:INTERESTED_IN]->(:Tech)
        |RETURN u.name AS name""".stripMargin)
      .asInstanceOf[CypherRows].df.as[String].collect().toSeq
    assert(hasNot === Seq("carol"))
    // combined with a plain conjunct
    val both = sess.run(
      """MATCH (u:User) WHERE (u)-[:INTERESTED_IN]->(:Tech) AND u.name STARTS WITH 'a'
        |RETURN u.name AS name""".stripMargin)
      .asInstanceOf[CypherRows].df.as[String].collect().toSeq
    assert(both === Seq("alice"))
  }

  test("map projections: n {.p1, .p2} and n {.*}") {
    val sess = freshSession
    sess.run("MERGE (a:Article {link: 'd1'}) SET a.title = 'T', a.lang = 'en'")
    val r = sess.run(
      """MATCH (a:Article)
        |RETURN a {.title, .lang} AS slim, a {.*} AS full""".stripMargin)
      .asInstanceOf[CypherRows].df.collect().head
    assert(r.getMap[String, String](0).toMap === Map("title" -> "T", "lang" -> "en"))
    assert(r.getMap[String, String](1).toMap ===
      Map("link" -> "d1", "title" -> "T", "lang" -> "en"))
  }

  test("CALL { WITH … }: correlated aggregate, empty groups keep the row with count 0") {
    val sess = freshSession
    Seq(("alice", "spark"), ("alice", "flink"), ("bob", "spark")).foreach { case (u, t) =>
      sess.run("""MERGE (u:User {name: $u}) MERGE (t:Tech {name: $t})
                 |MERGE (u)-[:INTERESTED_IN]->(t)""".stripMargin,
        Map("u" -> u, "t" -> t))
    }
    sess.run("MERGE (u:User {name: 'carol'})") // no interests
    val rows = sess.run(
      """MATCH (u:User)
        |CALL { WITH u MATCH (u)-[:INTERESTED_IN]->(t:Tech) RETURN count(t) AS n }
        |RETURN u.name AS name, n ORDER BY name""".stripMargin)
      .asInstanceOf[CypherRows].df.collect()
    assert(rows.map(r => (r.getString(0), r.getLong(1))).toSeq ===
      Seq(("alice", 2L), ("bob", 1L), ("carol", 0L)))
  }

  test("CALL { WITH … } with ORDER BY/LIMIT: per-outer-row top-k via a window") {
    val sess = freshSession
    Seq("alice" -> Seq("c", "a", "b"), "bob" -> Seq("z", "y")).foreach { case (u, ts) =>
      ts.foreach { t =>
        sess.run("""MERGE (u:User {name: $u}) MERGE (t:Tech {name: $t})
                   |MERGE (u)-[:INTERESTED_IN]->(t)""".stripMargin,
          Map("u" -> u, "t" -> t))
      }
    }
    val rows = sess.run(
      """MATCH (u:User)
        |CALL { WITH u MATCH (u)-[:INTERESTED_IN]->(t:Tech)
        |       RETURN t.name AS tech ORDER BY tech LIMIT 2 }
        |RETURN u.name AS name, tech ORDER BY name, tech""".stripMargin)
      .asInstanceOf[CypherRows].df.collect()
    assert(rows.map(r => (r.getString(0), r.getString(1))).toSeq ===
      Seq(("alice", "a"), ("alice", "b"), ("bob", "y"), ("bob", "z")))
    // row-returning CALL eliminates outer rows with no inner rows
    sess.run("MERGE (u:User {name: 'carol'})")
    val n = sess.run(
      """MATCH (u:User)
        |CALL { WITH u MATCH (u)-[:INTERESTED_IN]->(t:Tech)
        |       RETURN t.name AS tech ORDER BY tech LIMIT 1 }
        |RETURN u.name AS name""".stripMargin)
      .asInstanceOf[CypherRows].df.count()
    assert(n === 2) // carol dropped, alice+bob keep 1 row each
  }

  test("uncorrelated CALL { } runs once and joins every outer row") {
    val sess = freshSession
    Seq("a", "b", "c").foreach { u =>
      sess.run("MERGE (u:User {name: $u})", Map("u" -> u))
    }
    val rows = sess.run(
      """MATCH (u:User)
        |CALL { MATCH (x:User) RETURN count(x) AS total }
        |RETURN u.name AS name, total ORDER BY name""".stripMargin)
      .asInstanceOf[CypherRows].df.collect()
    assert(rows.length === 3)
    assert(rows.forall(_.getLong(1) === 3L))
  }

  test("aggregates over general expressions; consecutive WITH horizons") {
    val sess = freshSession
    Seq("alpha beta", "gamma d").foreach { t =>
      sess.run("MERGE (a:Article {link: $l}) SET a.title = $l", Map("l" -> t))
    }
    val r = sess.run(
      """MATCH (a:Article)
        |WITH split(a.title, ' ') AS ws
        |WITH ws, size(ws) AS n
        |RETURN sum(n) AS words, min(head(ws)) AS first_w,
        |  max(size(last(ws))) AS max_last_len""".stripMargin)
      .asInstanceOf[CypherRows].df.collect().head
    assert(r.getDouble(0) === 4.0)
    assert(r.getString(1) === "alpha")
    assert(r.getInt(2) === 4) // 'beta'
  }

  test("temporal breadth: map ctors, date(), duration arithmetic, between") {
    val sess = freshSession
    val df = sess.run(
      """UNWIND range(0, 2) AS i
        |WITH i, datetime({epochMillis: 1700000000000 + i * 3600000}) AS t
        |RETURN i, t AS ts, date(t) AS d,
        |  t + duration({days: 1, hours: 6}) AS shifted,
        |  t - duration({minutes: 90}) AS back,
        |  CASE WHEN duration.between(t, datetime({epochMillis: 1700003600000}))
        |            > duration({minutes: 30}) THEN 1 ELSE 0 END AS gap
        |ORDER BY i""".stripMargin).asInstanceOf[CypherRows].df
    val rows = df.collect()
    assert(rows.length === 3)
    // 1700000000000 ms = 2023-11-14T22:13:20Z (session TZ pinned UTC)
    val ts0 = rows(0).getAs[java.sql.Timestamp]("ts")
    assert(ts0.getTime === 1700000000000L)
    assert(rows(1).getAs[java.sql.Timestamp]("ts").getTime === 1700003600000L)
    assert(rows(0).getAs[java.sql.Date]("d").toString === "2023-11-14")
    assert(rows(0).getAs[java.sql.Timestamp]("shifted").getTime ===
      1700000000000L + (30L * 3600 * 1000)) // +1 day 6 hours
    assert(rows(0).getAs[java.sql.Timestamp]("back").getTime ===
      1700000000000L - (90L * 60 * 1000))
    // gap to epoch 1700003600000: i=0 -> 60 min (>30), i=1 -> 0, i=2 -> -60
    assert(rows.map(_.getAs[Long]("gap")).toSeq === Seq(1L, 0L, 0L))
  }

  test("temporal: zero-arg date() rides the injected clock like datetime()") {
    val sess = freshSession
    val df = sess.run("RETURN date() AS today")
      .asInstanceOf[CypherRows].df
    assert(df.as[java.sql.Date].head().toString === "2026-01-01")
  }

  test("temporal: datetime(string) parse form and epochSeconds ctor") {
    val sess = freshSession
    val df = sess.run(
      """RETURN datetime('2024-06-01 12:30:00') AS t1,
        |  datetime({epochSeconds: 1717245000}) AS t2""".stripMargin)
      .asInstanceOf[CypherRows].df
    val r = df.collect()(0)
    assert(r.getAs[java.sql.Timestamp]("t1").toString === "2024-06-01 12:30:00.0")
    assert(r.getAs[java.sql.Timestamp]("t2").getTime === 1717245000000L)
  }

  test("temporal: calendar units in duration({...}) are rejected with a clear error") {
    val sess = freshSession
    val e = intercept[IllegalArgumentException] {
      sess.run("RETURN datetime({epochMillis: 0}) + duration({months: 1}) AS x")
        .asInstanceOf[CypherRows].df.collect()
    }
    assert(e.getMessage.contains("day-time"))
  }

  test("UNWIND $batch AS row MERGE runs the import loop set-oriented, idempotent") {
    val sess = freshSession
    val batch = Seq(
      Map("name" -> "alice", "tech" -> "spark"),
      Map("name" -> "bob", "tech" -> "flink"),
      Map("name" -> "carol", "tech" -> "spark"))
    val q = """UNWIND $batch AS row
              |MERGE (u:User {name: row.name})
              |MERGE (t:Tech {name: row.tech})
              |MERGE (u)-[:INTERESTED_IN]->(t)""".stripMargin
    val r1 = sess.run(q, Map("batch" -> batch)).asInstanceOf[CypherMutation]
    assert(r1.nodesCreated === 5) // 3 users + 2 techs
    assert(sess.graph.edges.count() === 3)
    val r2 = sess.run(q, Map("batch" -> batch)).asInstanceOf[CypherMutation]
    assert(r2.nodesCreated === 0 && r2.nodesMatched === 5)
    // scalar batch: elements bind as a plain column under the alias
    val r3 = sess.run("UNWIND $names AS n MERGE (u:User {name: n})",
      Map("names" -> Seq("dave", "erin"))).asInstanceOf[CypherMutation]
    assert(r3.nodesCreated === 2)
    assert(sess.graph.nodes.filter($"label" === "User").count() === 5)
  }

  test("CALL { } IN TRANSACTIONS batches the import loop; counters observe per-batch commits") {
    val sess = freshSession
    // duplicate keys land in DIFFERENT batches (of 3): batch 1 creates
    // a,b,c; batch 2 re-MERGEs a (matched) + creates d,e; batch 3 creates
    // f and re-MERGEs a again — per-batch commits are observable in the
    // counters, exactly as Neo4j's transactional batches see each other
    val ids = Seq("a", "b", "c", "a", "d", "e", "f", "a")
    val r = sess.run(
      """UNWIND $ids AS id
        |CALL { WITH id MERGE (n:Item {name: id}) } IN TRANSACTIONS OF 3 ROWS""".stripMargin,
      Map("ids" -> ids)).asInstanceOf[CypherMutation]
    assert(r.nodesCreated === 6 && r.nodesMatched === 2)
    assert(sess.graph.nodes.filter($"label" === "Item").count() === 6)
    // default batch size (1000): whole list is one batch — set-oriented
    // dedup inside it, so the idempotent re-run matches each key once
    val r2 = sess.run(
      """UNWIND $ids AS id
        |CALL { WITH id MERGE (n:Item {name: id}) } IN TRANSACTIONS""".stripMargin,
      Map("ids" -> ids)).asInstanceOf[CypherMutation]
    assert(r2.nodesCreated === 0 && r2.nodesMatched === 6)
    // a write subquery without the suffix is a typed parse error
    val e = intercept[Exception](sess.run(
      "UNWIND $ids AS id CALL { WITH id MERGE (n:Item {name: id}) } RETURN id",
      Map("ids" -> ids)))
    assert(e.getMessage.contains("IN TRANSACTIONS"))
  }

  test("EXPLAIN returns the formatted plan; PROFILE adds executed metrics") {
    val sess = freshSession
    sess.run("""MERGE (u:User {name: 'alice'}) MERGE (t:Tech {name: 'spark'})
               |MERGE (u)-[:INTERESTED_IN]->(t)""".stripMargin)
    val plan = sess.run(
      "EXPLAIN MATCH (u:User)-[:INTERESTED_IN]->(t:Tech) RETURN u.name AS n")
      .asInstanceOf[CypherRows].df.as[String].collect().mkString("\n")
    assert(plan.contains("Physical Plan"), plan)
    assert(plan.contains("Scan"), plan) // reaches the store scan
    val prof = sess.run("PROFILE MATCH (u:User) RETURN u.name AS n")
      .asInstanceOf[CypherRows].df.as[String].collect().mkString("\n")
    assert(prof.contains("PROFILE: per-operator metrics"), prof)
    assert(prof.contains("rows="), prof) // executed metrics populated
    // write statements refuse the verb with a typed error, not a MatchError
    val e = intercept[IllegalArgumentException] {
      sess.run("EXPLAIN MERGE (u:User {name: 'x'})")
    }
    assert(e.getMessage.contains("read queries"))
  }

  test("LOAD CSV: headers bind row.field, no-headers binds row[i], MERGE ingests") {
    val dir = java.nio.file.Files.createTempDirectory("graft_loadcsv").toFile
    val f = new java.io.File(dir, "people.csv")
    java.nio.file.Files.writeString(f.toPath,
      "name,tech,score\nalice,spark,9\nbob,flink,7\ncarol,spark,8\n")
    val sess = freshSession
    // read form with headers + toInteger conversion + aggregation
    val agg = sess.run(
      s"""LOAD CSV WITH HEADERS FROM 'file://${f.getAbsolutePath}' AS row
         |RETURN row.tech AS tech, count(*) AS n,
         |  sum(toInteger(row.score)) AS total
         |ORDER BY tech""".stripMargin)
      .asInstanceOf[CypherRows].df.as[(String, Long, Double)].collect().toSeq
    assert(agg === Seq(("flink", 1L, 7.0), ("spark", 2L, 17.0)))
    // no headers: positional access, FIELDTERMINATOR
    val g = new java.io.File(dir, "semi.csv")
    java.nio.file.Files.writeString(g.toPath, "x;1\ny;2\n")
    val pos = sess.run(
      s"""LOAD CSV FROM 'file://${g.getAbsolutePath}' AS row FIELDTERMINATOR ';'
         |RETURN row[0] AS k, toInteger(row[1]) AS v ORDER BY k""".stripMargin)
      .asInstanceOf[CypherRows].df.as[(String, Long)].collect().toSeq
    assert(pos === Seq(("x", 1L), ("y", 2L)))
    // the import loop Neo4j docs lead with: LOAD CSV + MERGE
    sess.run(
      s"""LOAD CSV WITH HEADERS FROM 'file://${f.getAbsolutePath}' AS row
         |MERGE (u:User {name: row.name})
         |MERGE (t:Tech {name: row.tech})
         |MERGE (u)-[:INTERESTED_IN]->(t)""".stripMargin)
    assert(sess.graph.nodes.filter($"label" === "User").count() === 3)
    assert(sess.graph.nodes.filter($"label" === "Tech").count() === 2)
    assert(sess.graph.edges.count() === 3)
  }

  test("pattern comprehension: sorted projection list, [] when nothing matches") {
    val sess = freshSession
    Seq(("alice", "spark"), ("alice", "flink"), ("bob", "duck")).foreach {
      case (u, t) =>
        sess.run("""MERGE (u:User {name: $u}) MERGE (t:Tech {name: $t})
                   |MERGE (u)-[:INTERESTED_IN]->(t)""".stripMargin,
          Map("u" -> u, "t" -> t))
    }
    sess.run("MERGE (u:User {name: 'carol'})") // no interests
    val rows = sess.run(
      """MATCH (u:User)
        |RETURN u.name AS name,
        |  [(u)-[:INTERESTED_IN]->(t:Tech) | t.name] AS techs,
        |  size([(u)-[:INTERESTED_IN]->(t:Tech) WHERE t.name STARTS WITH 's'
        |    | t.name]) AS n_s
        |ORDER BY name""".stripMargin)
      .asInstanceOf[CypherRows].df
      .as[(String, Seq[String], Int)].collect().toSeq
    assert(rows === Seq(
      ("alice", Seq("flink", "spark"), 1), // sorted, not insertion order
      ("bob", Seq("duck"), 0),
      ("carol", Seq(), 0)))                // left-join miss reads as []
  }

  test("pattern comprehension backtracks to a list literal with parenthesized head") {
    val sess = freshSession
    val r = sess.run("RETURN [(1 + 2), 3] AS xs, size([(1 + 2) * 2]) AS n")
      .asInstanceOf[CypherRows].df.collect()(0)
    assert(r.getSeq[Long](0) === Seq(3L, 3L))
    assert(r.getInt(1) === 1)
  }

  test("round-10: gds.betweenness.stream — exact on a path, typed sampling reject") {
    val sess = freshSession
    // path a-b-c-d: over all ordered source pairs, b lies on (a,c),(c,a),
    // (a,d),(d,a) = 4 shortest paths; c symmetric; endpoints 0
    Seq(("a", "b"), ("b", "c"), ("c", "d")).foreach { case (s1, d1) =>
      sess.run(s"""MERGE (x:N {name: '$s1'}) MERGE (y:N {name: '$d1'})
                  |MERGE (x)-[:L]->(y)""".stripMargin)
    }
    val bc = sess.run(
      """CALL gds.betweenness.stream() YIELD key, score
        |RETURN key, score ORDER BY key""".stripMargin)
      .asInstanceOf[CypherRows].df.as[(String, Double)].collect().toMap
    assert(bc === Map("a" -> 0.0, "b" -> 4.0, "c" -> 4.0, "d" -> 0.0))
    val neg = intercept[IllegalArgumentException](sess.run(
      "CALL gds.betweenness.stream({samplingSize: -1})"))
    assert(neg.getMessage.contains("samplingSize"), neg.getMessage)
    // samplingSize >= |V| degenerates to the exact form (scale 1)
    val full = sess.run(
      """CALL gds.betweenness.stream({samplingSize: 99}) YIELD key, score
        |RETURN key, score ORDER BY key""".stripMargin)
      .asInstanceOf[CypherRows].df.as[(String, Double)].collect().toMap
    assert(full === bc)
  }

  test("round-10: gds.closeness.stream + harmonic — path fixture, isolated node") {
    val sess = freshSession
    Seq(("a", "b"), ("b", "c")).foreach { case (s1, d1) =>
      sess.run(s"""MERGE (x:N {name: '$s1'}) MERGE (y:N {name: '$d1'})
                  |MERGE (x)-[:L]->(y)""".stripMargin)
    }
    sess.run("MERGE (e:N {name: 'e'})") // isolated: both scores 0
    val cl = sess.run(
      """CALL gds.closeness.stream() YIELD key, score
        |RETURN key, score ORDER BY key""".stripMargin)
      .asInstanceOf[CypherRows].df.as[(String, Double)].collect().toMap
    // closeness = r/Σd: a: 2/3; b: 2/2; e: 0 (no reachable set)
    assert(math.abs(cl("a") - 0.666667) < 1e-9)
    assert(cl("b") === 1.0 && cl("e") === 0.0)
    assert(cl("a") === cl("c"))
    val hm = sess.run(
      """CALL gds.closeness.harmonic.stream() YIELD key, centrality
        |RETURN key, centrality ORDER BY key""".stripMargin)
      .asInstanceOf[CypherRows].df.as[(String, Double)].collect().toMap
    // harmonic = Σ(1/d)/(|V|-1), |V|=4: a: 1.5/3; b: 2/3; e: 0
    assert(hm("a") === 0.5 && hm("e") === 0.0)
    assert(math.abs(hm("b") - 0.666667) < 1e-9)
  }

  test("round-10: weighted wcc threshold drops weak edges; SHOW DATABASES lists the pair") {
    val sess = freshSession
    sess.run("""MERGE (a:N {name: 'a'}) MERGE (b:N {name: 'b'})
               |MERGE (a)-[:L {w: '0.9'}]->(b)""".stripMargin)
    sess.run("""MERGE (b:N {name: 'b'}) MERGE (c:N {name: 'c'})
               |MERGE (b)-[:L {w: '0.2'}]->(c)""".stripMargin)
    val comps = sess.run(
      """CALL gds.wcc.stream({relationshipWeightProperty: 'w', threshold: 0.5})
        |YIELD key, componentKey RETURN key, componentKey ORDER BY key""".stripMargin)
      .asInstanceOf[CypherRows].df.as[(String, String)].collect().toMap
    assert(comps === Map("a" -> "a", "b" -> "a", "c" -> "c"))
    // without the threshold the weight property alone changes nothing
    val all = sess.run(
      """CALL gds.wcc.stream({relationshipWeightProperty: 'w'})
        |YIELD componentKey RETURN DISTINCT componentKey""".stripMargin)
      .asInstanceOf[CypherRows].df.as[String].collect().toSet
    assert(all === Set("a"))
    val e = intercept[IllegalArgumentException](
      sess.run("CALL gds.wcc.stream({threshold: 0.5})"))
    assert(e.getMessage.contains("relationshipWeightProperty"), e.getMessage)
    val dbs = sess.run("SHOW DATABASES").asInstanceOf[CypherRows].df
      .as[(String, String, String, String, Boolean, Boolean)].collect().toSeq
    assert(dbs.map(_._1) === Seq("neo4j", "system"))
    assert(dbs.head._5 && dbs.head._6) // neo4j is default + home
  }

  test("round-10: gds.louvain.stream — modularity communities, min-key identity") {
    val sess = freshSession
    // two triangles joined by one bridge; communities must be the
    // triangles (keyed by min member), never the merged pair
    Seq(("a", "b"), ("b", "c"), ("a", "c"),
      ("d", "e"), ("e", "f"), ("d", "f"), ("c", "d")).foreach {
      case (s1, d1) =>
        sess.run(s"""MERGE (x:N {name: '$s1'}) MERGE (y:N {name: '$d1'})
                    |MERGE (x)-[:L]->(y)""".stripMargin)
    }
    sess.run("MERGE (z:N {name: 'z'})")
    val lv = sess.run(
      """CALL gds.louvain.stream() YIELD key, communityKey
        |RETURN key, communityKey ORDER BY key""".stripMargin)
      .asInstanceOf[CypherRows].df.as[(String, String)].collect().toMap
    assert(lv === Map("a" -> "a", "b" -> "a", "c" -> "a",
      "d" -> "d", "e" -> "d", "f" -> "d", "z" -> "z"))
    // the round budget composes: 0 rounds = every node its own community
    val frozen = sess.run(
      """CALL gds.louvain.stream({maxIterations: 0}) YIELD key, communityKey
        |WHERE key = communityKey
        |RETURN count(*) AS n""".stripMargin)
    val nFrozen = frozen.asInstanceOf[CypherRows].df.as[Long].collect().head
    assert(nFrozen === 7L)
    // write mode persists exactly what stream yields, with counters
    val w = sess.run(
      """CALL gds.louvain.write({writeProperty: 'cid'})
        |YIELD nodePropertiesWritten, communityCount, writeProperty
        |RETURN nodePropertiesWritten, communityCount, writeProperty""".stripMargin)
      .asInstanceOf[CypherRows].df.as[(Long, Long, String)].collect().head
    assert(w === ((7L, 3L, "cid")))
    val readBack = sess.run(
      "MATCH (n:N) RETURN n.name AS key, n.cid AS cid ORDER BY key")
      .asInstanceOf[CypherRows].df.as[(String, String)].collect().toMap
    assert(readBack === lv)
  }

  test("round-10: write-mode parity — kcore/labelPropagation/scc/betweenness persist") {
    val sess = freshSession
    // triangle + pendant + isolated (the kcore fixture) under every new
    // write mode: written property == what the stream yields, counters real
    Seq(("a", "b"), ("b", "c"), ("a", "c"), ("c", "d")).foreach {
      case (s1, d1) =>
        sess.run(s"""MERGE (x:N {name: '$s1'}) MERGE (y:N {name: '$d1'})
                    |MERGE (x)-[:L]->(y)""".stripMargin)
    }
    sess.run("MERGE (e:N {name: 'e'})")
    def rows(q: String) = sess.run(q).asInstanceOf[CypherRows].df
    val kc = rows("""CALL gds.kcore.write({writeProperty: 'core'})
                    |YIELD nodePropertiesWritten RETURN nodePropertiesWritten""".stripMargin)
      .as[Long].collect().head
    assert(kc === 5L)
    val core = rows("MATCH (n:N) RETURN n.name AS k, n.core AS c ORDER BY k")
      .as[(String, String)].collect().toMap
    assert(core === Map("a" -> "2", "b" -> "2", "c" -> "2", "d" -> "1", "e" -> "0"))
    val lp = rows("""CALL gds.labelPropagation.write({writeProperty: 'lp'})
                    |YIELD nodePropertiesWritten, communityCount
                    |RETURN nodePropertiesWritten, communityCount""".stripMargin)
      .as[(Long, Long)].collect().head
    assert(lp._1 === 5L && lp._2 >= 2L) // isolated e is its own community
    val scc = rows("""CALL gds.scc.write({writeProperty: 'scc'})
                     |YIELD componentCount RETURN componentCount""".stripMargin)
      .as[Long].collect().head
    assert(scc === 5L) // no directed cycles: every node its own SCC
    val bw = rows("""CALL gds.betweenness.write({writeProperty: 'bc'})
                    |YIELD nodePropertiesWritten RETURN nodePropertiesWritten""".stripMargin)
      .as[Long].collect().head
    assert(bw === 5L)
    val bc = rows("MATCH (n:N) WHERE n.name = 'c' RETURN n.bc AS b")
      .as[String].collect().head
    // c lies on (a,d),(d,a),(b,d),(d,b) shortest paths = 4.0, exact mode
    assert(bc === "4.0")
    val noWp = intercept[IllegalArgumentException](
      sess.run("CALL gds.kcore.write()"))
    assert(noWp.getMessage.contains("writeProperty"), noWp.getMessage)
    // every (stream, write) pair: the read-back property is the stream
    // value cast to string for every key; a component/community counter
    // is the distinct count of that value
    Seq("degree" -> "degree", "pageRank" -> "score", "wcc" -> "componentKey",
        "scc" -> "componentKey", "louvain" -> "communityKey",
        "labelPropagation" -> "communityKey", "kcore" -> "coreValue",
        "betweenness" -> "score").foreach { case (alg, v) =>
      val streamed = rows(s"CALL gds.$alg.stream() YIELD key, $v RETURN key, $v")
        .select(col("key"), col(v).cast("string"))
        .as[(String, String)].collect().toMap
      val w = rows(s"CALL gds.$alg.write({writeProperty: 'p_$alg'})")
      val counters = w.columns.zip(w.collect().head.toSeq).toMap
      assert(counters("nodePropertiesWritten") === 5L, alg)
      assert(counters("writeProperty") === s"p_$alg", alg)
      counters.keys.filter(_.endsWith("Count")).foreach { c =>
        assert(counters(c) === streamed.values.toSet.size.toLong, s"$alg $c")
      }
      val readBack = rows(s"MATCH (n:N) RETURN n.name AS k, n.p_$alg AS v")
        .as[(String, String)].collect().toMap
      assert(readBack === streamed, alg)
    }
    // wcc.write honours the stream's {relationshipWeightProperty,
    // threshold}: the weak b–c edge is dropped on both sides
    val ws = freshSession
    ws.run("""MERGE (a:N {name: 'a'}) MERGE (b:N {name: 'b'})
             |MERGE (a)-[:L {w: '0.9'}]->(b)""".stripMargin)
    ws.run("""MERGE (b:N {name: 'b'}) MERGE (c:N {name: 'c'})
             |MERGE (b)-[:L {w: '0.2'}]->(c)""".stripMargin)
    val thr = "relationshipWeightProperty: 'w', threshold: 0.5"
    val thrStream = ws.run(
      s"CALL gds.wcc.stream({$thr}) YIELD key, componentKey RETURN key, componentKey")
      .asInstanceOf[CypherRows].df.as[(String, String)].collect().toMap
    val thrCount = ws.run(
      s"CALL gds.wcc.write({writeProperty: 'wc', $thr}) YIELD componentCount RETURN componentCount")
      .asInstanceOf[CypherRows].df.as[Long].collect().head
    val thrWritten = ws.run("MATCH (n:N) RETURN n.name AS k, n.wc AS c")
      .asInstanceOf[CypherRows].df.as[(String, String)].collect().toMap
    assert(thrStream === Map("a" -> "a", "b" -> "a", "c" -> "c"))
    assert(thrWritten === thrStream)
    assert(thrCount === 2L)
  }

  test("round-10: gds.kcore.stream — coreness per node, not just fixed-k membership") {
    val sess = freshSession
    // triangle {a,b,c} (coreness 2) + pendant d off c (1) + isolated e (0)
    Seq(("a", "b"), ("b", "c"), ("a", "c"), ("c", "d")).foreach {
      case (s1, d1) =>
        sess.run(s"""MERGE (x:N {name: '$s1'}) MERGE (y:N {name: '$d1'})
                    |MERGE (x)-[:L]->(y)""".stripMargin)
    }
    sess.run("MERGE (e:N {name: 'e'})")
    val core = sess.run(
      """CALL gds.kcore.stream() YIELD key, coreValue
        |RETURN key, coreValue ORDER BY key""".stripMargin)
      .asInstanceOf[CypherRows].df.as[(String, Long)].collect().toMap
    assert(core === Map("a" -> 2L, "b" -> 2L, "c" -> 2L, "d" -> 1L, "e" -> 0L))
  }

  test("round-11: SHOW PROCEDURES / SHOW FUNCTIONS project the registries; every function row evaluates") {
    import graft.cypher.CypherAst.{Procedures, Functions}
    val sess = freshSession
    sess.run("""MERGE (a:User {name: 'x'}) MERGE (b:Tech {name: 'y'})
               |MERGE (a)-[:R]->(b)""".stripMargin)
    // SHOW PROCEDURES: rows derived from the registry — count, names,
    // signatures, and the EXPLAIN-trusted mode classifier, never hardcoded
    val procs = sess.run("SHOW PROCEDURES").asInstanceOf[CypherRows].df
      .as[(String, String, String, String)].collect().toSeq
    assert(procs.size === Procedures.all.size)
    assert(procs.map(_._1) === Procedures.all.keys.toSeq.sorted)
    procs.foreach { case (name, sig, mode, desc) =>
      assert(sig === s"$name() :: (${Procedures.all(name).yields.mkString(", ")})")
      assert(mode === Procedures.all(name).mode, name)
      assert(desc === Procedures.all(name).description, name)
      assert(desc.nonEmpty, name)
    }
    // the WRITE set (session write lock, EXPLAIN/PROFILE rejection) pinned
    assert(procs.filter(_._3 == "WRITE").map(_._1).toSet === Set(
      "gds.degree.write", "gds.pageRank.write", "gds.wcc.write",
      "gds.scc.write", "gds.louvain.write", "gds.labelPropagation.write",
      "gds.kcore.write", "gds.betweenness.write",
      "gds.graph.project", "gds.graph.drop",
      "db.create.setNodeVectorProperty", "db.index.vector.createNodeIndex",
      "apoc.merge.node", "apoc.merge.relationship"))
    // …and EVERY listed procedure reaches its body: called with no
    // arguments it runs or fails on its own terms, never as unknown
    procs.foreach { case (name, _, _, _) =>
      scala.util.Try(sess.run(s"CALL $name()").asInstanceOf[CypherRows]
          .df.collect()).failed.foreach { e =>
        assert(!String.valueOf(e.getMessage).contains("unknown procedure"),
          s"$name: ${e.getMessage}")
      }
    }
    // SHOW FUNCTIONS: rows match the registry…
    val fns = sess.run("SHOW FUNCTIONS").asInstanceOf[CypherRows].df
      .as[(String, String, String, String)].collect().toSeq
    assert(fns.map(_._1) === Functions.all.map(_._1).sorted)
    assert(fns.map(f => (f._1, f._2)).toSet ===
      Functions.all.map(f => (f._1, f._2)).toSet)
    // …and EVERY row must actually evaluate — a registered name without
    // compiler support fails here, not silently in the listing
    val samples: Map[String, String] = Map(
      "toLower" -> "RETURN toLower('A') AS v",
      "toUpper" -> "RETURN toUpper('a') AS v",
      "trim" -> "RETURN trim(' a ') AS v",
      "substring" -> "RETURN substring('abcd', 1, 2) AS v",
      "split" -> "RETURN split('a,b', ',') AS v",
      "replace" -> "RETURN replace('aba', 'a', 'c') AS v",
      "left" -> "RETURN left('abcd', 2) AS v",
      "right" -> "RETURN right('abcd', 2) AS v",
      "reverse" -> "RETURN reverse('ab') AS v",
      "toString" -> "RETURN toString(1) AS v",
      "toInteger" -> "RETURN toInteger('2') AS v",
      "toFloat" -> "RETURN toFloat('2.5') AS v",
      "toBoolean" -> "RETURN toBoolean('true') AS v",
      "coalesce" -> "RETURN coalesce(null, 3) AS v",
      "size" -> "RETURN size([1, 2]) AS v",
      "length" -> "MATCH p = (a:User)-[:R]->(b:Tech) RETURN length(p) AS v",
      "id" -> "MATCH (n:User) RETURN id(n) AS v",
      "elementId" -> "MATCH (n:User) RETURN elementId(n) AS v",
      "labels" -> "MATCH (n:User) RETURN labels(n) AS v",
      "type" -> "MATCH (a:User)-[r:R]->(b:Tech) RETURN type(r) AS v",
      "properties" -> "MATCH (n:User) RETURN properties(n) AS v",
      "keys" -> "MATCH (n:User) RETURN keys(n) AS v",
      "head" -> "RETURN head([1, 2]) AS v",
      "last" -> "RETURN last([1, 2]) AS v",
      "tail" -> "RETURN tail([1, 2]) AS v",
      "isEmpty" -> "RETURN isEmpty([]) AS v",
      "range" -> "RETURN range(1, 3) AS v",
      "nodes" -> "MATCH p = (a:User)-[:R]->(b:Tech) RETURN size(nodes(p)) AS v",
      "relationships" ->
        "MATCH p = (a:User)-[:R]->(b:Tech) RETURN size(relationships(p)) AS v",
      "abs" -> "RETURN abs(-2) AS v",
      "round" -> "RETURN round(2.5) AS v",
      "sqrt" -> "RETURN sqrt(4.0) AS v",
      "sign" -> "RETURN sign(-3) AS v",
      "ceil" -> "RETURN ceil(1.1) AS v",
      "floor" -> "RETURN floor(1.9) AS v",
      "exp" -> "RETURN exp(0.0) AS v",
      "log" -> "RETURN log(1.0) AS v",
      "log10" -> "RETURN log10(10.0) AS v",
      "datetime" -> "RETURN datetime('2024-01-01 00:00:00') AS v",
      "date" -> "RETURN date('2024-01-01') AS v",
      "datetime.truncate" ->
        "RETURN datetime.truncate('month', datetime('2024-02-15 10:00:00')) AS v",
      "date.truncate" ->
        "RETURN date.truncate('month', datetime('2024-02-15 10:00:00')) AS v",
      "duration" -> "RETURN duration({days: 1}) AS v",
      "duration.between" ->
        "RETURN duration.between(datetime('2024-01-01 00:00:00'), datetime('2024-01-02 00:00:00')) AS v",
      "point" -> "RETURN point({x: 1.0, y: 2.0}) AS v",
      "point.distance" ->
        "RETURN point.distance(point({x: 0.0, y: 0.0}), point({x: 3.0, y: 4.0})) AS v",
      "vector.similarity.cosine" ->
        "RETURN vector.similarity.cosine([1.0, 0.0], [1.0, 0.0]) AS v",
      "vector.similarity.euclidean" ->
        "RETURN vector.similarity.euclidean([0.0, 0.0], [1.0, 0.0]) AS v",
      // list predicates parse in WHERE position (their boolean-expression
      // home); the always-true forms keep the row
      "any" -> "MATCH (n:User) WHERE any(x IN [1, 2] WHERE x > 1) RETURN n.name AS v",
      "all" -> "MATCH (n:User) WHERE all(x IN [1, 2] WHERE x > 0) RETURN n.name AS v",
      "none" -> "MATCH (n:User) WHERE none(x IN [1, 2] WHERE x > 2) RETURN n.name AS v",
      "single" -> "MATCH (n:User) WHERE single(x IN [1, 2] WHERE x = 1) RETURN n.name AS v",
      "count" -> "MATCH (n:User) RETURN count(n.name) AS v",
      "sum" -> "MATCH (n:User) RETURN sum(size(n.name)) AS v",
      "avg" -> "MATCH (n:User) RETURN avg(size(n.name)) AS v",
      "min" -> "MATCH (n:User) RETURN min(n.name) AS v",
      "max" -> "MATCH (n:User) RETURN max(n.name) AS v",
      "stDev" -> "MATCH (n:User) RETURN stDev(size(n.name)) AS v",
      "stDevP" -> "MATCH (n:User) RETURN stDevP(size(n.name)) AS v",
      "percentileCont" ->
        "MATCH (n:User) RETURN percentileCont(size(n.name), 0.5) AS v",
      "percentileDisc" ->
        "MATCH (n:User) RETURN percentileDisc(size(n.name), 0.5) AS v",
      "collect" -> "MATCH (n:User) RETURN collect(n.name) AS v")
    val missing = Functions.all.map(_._1).filterNot(samples.contains)
    assert(missing.isEmpty, s"registry rows without a sample: $missing")
    samples.foreach { case (name, q) =>
      val rows = sess.run(q).asInstanceOf[CypherRows].df.collect()
      assert(rows.length === 1, s"$name sample returned ${rows.length} rows")
    }
  }

  test("round-11: vector index lifecycle — DDL, SHOW, queryNodes top-k, typed errors, live rebuild") {
    val sess = freshSession
    def setEmb(nm: String, v: String): Unit =
      sess.run(s"MERGE (d:Doc {name: '$nm'}) SET d.embedding = '$v'")
    setEmb("a", "1.0,0.0,0.0,0.0")
    setEmb("b", "0.9,0.1,0.0,0.0")
    setEmb("c", "0.0,1.0,0.0,0.0")
    setEmb("d", "-1.0,0.0,0.0,0.0")
    val created = sess.run(
      """CREATE VECTOR INDEX docEmb FOR (d:Doc) ON d.embedding
        |OPTIONS {indexConfig: {`vector.dimensions`: 4,
        |  `vector.similarity_function`: 'cosine'}}""".stripMargin)
      .asInstanceOf[CypherRows].df.as[(String, Boolean)].collect().head
    assert(created === ("docEmb", true))
    // SHOW VECTOR INDEXES lists it; SHOW INDEXES folds it in
    val shown = sess.run("SHOW VECTOR INDEXES").asInstanceOf[CypherRows].df
      .select("name", "type", "labelOrType", "property")
      .as[(String, String, String, String)].collect().toSeq
    assert(shown === Seq(("docEmb", "VECTOR", "Doc", "embedding")))
    assert(sess.run("SHOW INDEXES").asInstanceOf[CypherRows].df
      .filter($"name" === "docEmb").count() === 1)
    // query: exact match first at score 1.0; every returned score is the
    // exact (1+cos)/2 of that node — the LSH stage only prunes, the
    // rescoring is exact
    val rows = sess.run(
      """CALL db.index.vector.queryNodes('docEmb', 3, $q)
        |YIELD node, score RETURN node.name AS nm, score""".stripMargin,
      Map("q" -> Seq(1.0, 0.0, 0.0, 0.0)))
      .asInstanceOf[CypherRows].df.as[(String, Double)].collect().toSeq
    assert(rows.nonEmpty && rows.head === (("a", 1.0)), rows)
    val exact = Map(
      "a" -> 1.0,
      "b" -> (1.0 + 0.9 / math.sqrt(0.9 * 0.9 + 0.1 * 0.1)) / 2.0,
      "c" -> 0.5, "d" -> 0.0)
    rows.foreach { case (nm, sc) => assert(sc === exact(nm), nm) }
    assert(rows.map(_._2) === rows.map(_._2).sorted.reverse, "not desc")
    // k=1 returns exactly the best
    assert(sess.run(
      "CALL db.index.vector.queryNodes('docEmb', 1, $q) YIELD node, score " +
        "RETURN node.name AS nm", Map("q" -> Seq(1.0, 0.0, 0.0, 0.0)))
      .asInstanceOf[CypherRows].df.as[String].collect().toSeq === Seq("a"))
    // typed errors: unknown index, dimension mismatch, duplicate, bad simFn
    val e1 = intercept[IllegalArgumentException](sess.run(
      "CALL db.index.vector.queryNodes('nope', 1, $q) YIELD node, score " +
        "RETURN score", Map("q" -> Seq(1.0, 0.0, 0.0, 0.0))))
    assert(e1.getMessage.contains("does not exist"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException](sess.run(
      "CALL db.index.vector.queryNodes('docEmb', 1, $q) YIELD node, score " +
        "RETURN score", Map("q" -> Seq(1.0, 0.0))))
    assert(e2.getMessage.contains("dimensions"), e2.getMessage)
    val e3 = intercept[IllegalArgumentException](sess.run(
      """CREATE VECTOR INDEX other FOR (d:Doc) ON d.embedding
        |OPTIONS {indexConfig: {`vector.dimensions`: 4}}""".stripMargin))
    assert(e3.getMessage.contains("equivalent"), e3.getMessage)
    assert(sess.run(
      """CREATE VECTOR INDEX docEmb IF NOT EXISTS FOR (d:Doc) ON d.embedding
        |OPTIONS {indexConfig: {`vector.dimensions`: 4}}""".stripMargin)
      .asInstanceOf[CypherRows].df.as[(String, Boolean)].collect().head ===
      (("docEmb", false)))
    // 'euclidean' is legal since c76; an UNKNOWN similarity function
    // still rejects typed (validated before the equivalent-index check)
    val e4 = intercept[IllegalArgumentException](sess.run(
      """CREATE VECTOR INDEX euc FOR (d:Doc) ON d.embedding
        |OPTIONS {indexConfig: {`vector.dimensions`: 4,
        |  `vector.similarity_function`: 'manhattan'}}""".stripMargin))
    assert(e4.getMessage.contains("cosine"), e4.getMessage)
    // live rebuild: a node written AFTER index creation is queryable
    setEmb("e", "1.0,0.0,0.0,0.0")
    val after = sess.run(
      "CALL db.index.vector.queryNodes('docEmb', 2, $q) YIELD node, score " +
        "RETURN node.name AS nm ORDER BY nm",
      Map("q" -> Seq(1.0, 0.0, 0.0, 0.0)))
      .asInstanceOf[CypherRows].df.as[String].collect().toSeq
    assert(after === Seq("a", "e"), after)
    // malformed embedding fails CREATE loudly and leaves no index
    sess.run("MERGE (x:Bad {name: 'x'}) SET x.embedding = '1.0,oops,0.0,0.0'")
    val e5 = intercept[IllegalStateException](sess.run(
      """CREATE VECTOR INDEX badIdx FOR (b:Bad) ON b.embedding
        |OPTIONS {indexConfig: {`vector.dimensions`: 4}}""".stripMargin))
    assert(e5.getMessage.contains("malformed"), e5.getMessage)
    assert(sess.run("SHOW VECTOR INDEXES").asInstanceOf[CypherRows].df
      .filter($"name" === "badIdx").count() === 0)
    // DROP INDEX removes it; IF EXISTS makes the re-drop a no-op
    assert(sess.run("DROP INDEX docEmb").asInstanceOf[CypherRows].df
      .as[(String, Boolean)].collect().head === (("docEmb", true)))
    val e6 = intercept[IllegalArgumentException](sess.run("DROP INDEX docEmb"))
    assert(e6.getMessage.contains("no such index"), e6.getMessage)
    assert(sess.run("DROP INDEX docEmb IF EXISTS").asInstanceOf[CypherRows].df
      .as[(String, Boolean)].collect().head === (("docEmb", false)))
  }

  test("round-11: db.create.setNodeVectorProperty — the LangChain embedding setter, end to end") {
    val sess = freshSession
    Seq("c1", "c2", "c3").foreach(id => sess.run(s"MERGE (c:Chunk {name: '$id'})"))
    // per-chunk setter (the reference's per-record write style)
    val vecs = Map(
      "c1" -> Seq(1.0, 0.0, 0.0, 0.0),
      "c2" -> Seq(0.0, 1.0, 0.0, 0.0),
      "c3" -> Seq(0.8, 0.6, 0.0, 0.0))
    vecs.foreach { case (id, v) =>
      val n = sess.run(
        s"""MATCH (c:Chunk {name: '$id'})
           |CALL db.create.setNodeVectorProperty(c, 'embedding', $$v)
           |YIELD nodePropertiesWritten RETURN nodePropertiesWritten""".stripMargin,
        Map("v" -> v)).asInstanceOf[CypherRows].df.as[Long].collect().head
      assert(n === 1L, id)
    }
    // the written value is an ordinary property to a later MATCH
    val read = sess.run(
      "MATCH (c:Chunk {name: 'c1'}) RETURN c.embedding AS e")
      .asInstanceOf[CypherRows].df.as[String].collect().head
    assert(read === "1.0,0.0,0.0,0.0")
    // and the vector index builds over it — the full LangChain lifecycle
    sess.run(
      """CREATE VECTOR INDEX chunkEmb FOR (c:Chunk) ON c.embedding
        |OPTIONS {indexConfig: {`vector.dimensions`: 4}}""".stripMargin)
    val top = sess.run(
      "CALL db.index.vector.queryNodes('chunkEmb', 1, $q) " +
        "YIELD node, score RETURN node.name AS nm, score",
      Map("q" -> Seq(1.0, 0.0, 0.0, 0.0)))
      .asInstanceOf[CypherRows].df.as[(String, Double)].collect().head
    assert(top === (("c1", 1.0)))
    // a broadcast set (no key filter) writes every matched node at once
    val all = sess.run(
      """MATCH (c:Chunk)
        |CALL db.create.setNodeVectorProperty(c, 'embedding2', $v)
        |YIELD nodePropertiesWritten RETURN nodePropertiesWritten""".stripMargin,
      Map("v" -> Seq(9.0, 9.0, 9.0, 9.0))).asInstanceOf[CypherRows]
      .df.as[Long].collect().head
    assert(all === 3L)
    // typed errors: unbound variable; EXPLAIN refuses the side effect
    val e1 = intercept[Exception](sess.run(
      "MATCH (c:Chunk {name: 'c1'}) " +
        "CALL db.create.setNodeVectorProperty(zz, 'k', $v) " +
        "YIELD nodePropertiesWritten RETURN nodePropertiesWritten",
      Map("v" -> Seq(1.0))))
    assert(e1.getMessage.contains("unbound"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException](sess.run(
      "EXPLAIN MATCH (c:Chunk) " +
        "CALL db.create.setNodeVectorProperty(c, 'k', $v) " +
        "YIELD nodePropertiesWritten RETURN nodePropertiesWritten",
      Map("v" -> Seq(1.0))))
    assert(e2.getMessage.contains("db.create.setNodeVectorProperty"),
      e2.getMessage)
  }

  test("round-11: vector-index maintenance — the setter patches a LIVE index incrementally; generic writes patch too (r13)") {
    val sess = freshSession
    Seq("c1" -> Seq(1.0, 0.0, 0.0, 0.0), "c2" -> Seq(0.0, 1.0, 0.0, 0.0),
      "c3" -> Seq(0.0, 0.0, 1.0, 0.0)).foreach { case (id, v) =>
      sess.run(s"MERGE (c:Chunk {name: '$id'})")
      sess.run(s"MATCH (c:Chunk {name: '$id'}) " +
        "CALL db.create.setNodeVectorProperty(c, 'embedding', $v) " +
        "YIELD nodePropertiesWritten RETURN nodePropertiesWritten",
        Map("v" -> v))
    }
    sess.run("""CREATE VECTOR INDEX ce FOR (c:Chunk) ON c.embedding
               |OPTIONS {indexConfig: {`vector.dimensions`: 4}}""".stripMargin)
    def q(v: Seq[Double], k: Int): Seq[(String, Double)] = sess.run(
      s"CALL db.index.vector.queryNodes('ce', $k, $$q) YIELD node, score " +
        "RETURN node.name AS nm, score", Map("q" -> v))
      .asInstanceOf[CypherRows].df.as[(String, Double)].collect().toSeq
    val full0 = sess.vectorIndexFullBuilds.get
    val inc0 = sess.vectorIndexIncrementalUpdates.get
    // warm query: snapshot current, no build of any kind
    assert(q(Seq(1.0, 0.0, 0.0, 0.0), 1) === Seq(("c1", 1.0)))
    assert(sess.vectorIndexFullBuilds.get === full0)
    // the setter on a LIVE index patches incrementally — no full rebuild,
    // and the next query answers from the patched snapshot
    sess.run("MATCH (c:Chunk {name: 'c2'}) " +
      "CALL db.create.setNodeVectorProperty(c, 'embedding', $v) " +
      "YIELD nodePropertiesWritten RETURN nodePropertiesWritten",
      Map("v" -> Seq(0.0, 0.0, 0.0, 1.0)))
    assert(sess.vectorIndexIncrementalUpdates.get === inc0 + 1)
    assert(sess.vectorIndexFullBuilds.get === full0)
    assert(q(Seq(0.0, 0.0, 0.0, 1.0), 1) === Seq(("c2", 1.0)))
    assert(sess.vectorIndexFullBuilds.get === full0,
      "query after an incremental patch paid a full rebuild")
    // a GENERIC same-label write used to invalidate the snapshot and the
    // next query re-paid the full build; since round 13 the lineage
    // carries the statement's exact node ids, so the query PATCHES the
    // snapshot past both steps (the MERGE and the setter) instead
    sess.run("MERGE (c:Chunk {name: 'c9'})")
    sess.run("MATCH (c:Chunk {name: 'c9'}) " +
      "CALL db.create.setNodeVectorProperty(c, 'embedding', $v) " +
      "YIELD nodePropertiesWritten RETURN nodePropertiesWritten",
      Map("v" -> Seq(0.9, 0.0, 0.0, 0.0)))
    // (the MERGE above moved the graph past the snapshot, so the setter
    // itself could NOT patch — its pre-write snapshot was already stale;
    // the query below patches through the recorded id delta instead)
    assert(sess.vectorIndexIncrementalUpdates.get === inc0 + 1)
    val got = q(Seq(0.9, 0.0, 0.0, 0.0), 2).map(_._1)
    assert(got === Seq("c1", "c9") || got === Seq("c9", "c1"), got)
    assert(sess.vectorIndexFullBuilds.get === full0,
      "a same-label write with a recorded id delta must patch, not rebuild")
    assert(sess.vectorIndexIncrementalUpdates.get === inc0 + 2)
    // a setter whose value violates the index geometry fails LOUDLY
    // naming the index BEFORE mutating (ADVICE r11 #2 — the old shape
    // wrote the property first, leaving the store mutated with a
    // permanently broken index; Neo4j rejects atomically)
    sess.run("MERGE (c:Chunk {name: 'c4'})") // fresh snapshot via patch
    q(Seq(1.0, 0.0, 0.0, 0.0), 1)
    val fullV = sess.vectorIndexFullBuilds.get
    val e = intercept[IllegalArgumentException](sess.run(
      "MATCH (c:Chunk {name: 'c4'}) " +
        "CALL db.create.setNodeVectorProperty(c, 'embedding', $v) " +
        "YIELD nodePropertiesWritten RETURN nodePropertiesWritten",
      Map("v" -> Seq(1.0, 2.0))))
    assert(e.getMessage.contains("'ce'"), e.getMessage)
    assert(e.getMessage.contains("store unchanged"), e.getMessage)
    // the store is untouched (c4 still carries no embedding) and the
    // snapshot stayed live — the next query neither rebuilds nor throws
    val bag = sess.run("MATCH (c:Chunk {name: 'c4'}) RETURN c.embedding AS e")
      .asInstanceOf[CypherRows].df.collect().head
    assert(bag.isNullAt(0), bag)
    assert(q(Seq(1.0, 0.0, 0.0, 0.0), 1).map(_._1) === Seq("c1"))
    assert(sess.vectorIndexFullBuilds.get === fullV,
      "a rejected setter must not invalidate the snapshot")
  }

  test("round-13: incremental same-label vector-index maintenance — MERGE/SET/DELETE/apoc patch, never rebuild (VERDICT r12 #1)") {
    val sess = freshSession
    Seq("c1" -> "1.0,0.0,0.0,0.0", "c2" -> "0.0,1.0,0.0,0.0").foreach {
      case (id, v) =>
        sess.run(s"MERGE (c:Chunk {name: '$id'}) SET c.embedding = '$v'")
    }
    sess.run("""CREATE VECTOR INDEX ce FOR (c:Chunk) ON c.embedding
               |OPTIONS {indexConfig: {`vector.dimensions`: 4}}""".stripMargin)
    def q(v: Seq[Double], k: Int): Seq[String] = sess.run(
      s"CALL db.index.vector.queryNodes('ce', $k, $$q) YIELD node, score " +
        "RETURN node.name AS nm, score", Map("q" -> v))
      .asInstanceOf[CypherRows].df.as[(String, Double)].collect()
      .toSeq.map(_._1)
    assert(q(Seq(1.0, 0.0, 0.0, 0.0), 1) === Seq("c1")) // first build
    val full0 = sess.vectorIndexFullBuilds.get
    val inc0 = sess.vectorIndexIncrementalUpdates.get
    // 1) a same-label BATCH MERGE (the import-loop path — the reference
    // crawler's per-article write shape): the next query PATCHES
    sess.run(
      """UNWIND $data AS row
        |MERGE (c:Chunk {name: row.nm}) SET c.embedding = row.emb""".stripMargin,
      Map("data" -> Seq(
        Map("nm" -> "c3", "emb" -> "0.0,0.0,1.0,0.0"),
        Map("nm" -> "c4", "emb" -> "0.0,0.0,0.0,1.0"))))
    assert(q(Seq(0.0, 0.0, 1.0, 0.0), 1) === Seq("c3"))
    assert(sess.vectorIndexFullBuilds.get === full0,
      "a same-label batch MERGE must patch the live index, not rebuild it")
    assert(sess.vectorIndexIncrementalUpdates.get === inc0 + 1)
    // 2) a generic MATCH … SET of the indexed property: patched value wins
    sess.run("MATCH (c:Chunk {name: 'c1'}) SET c.embedding = '0.0,1.0,1.0,0.0'")
    assert(q(Seq(0.0, 1.0, 1.0, 0.0), 1) === Seq("c1"))
    assert(sess.vectorIndexFullBuilds.get === full0)
    assert(sess.vectorIndexIncrementalUpdates.get === inc0 + 2)
    // 3) DETACH DELETE drops the node out of the index via the patch
    sess.run("MATCH (c:Chunk {name: 'c2'}) DETACH DELETE c")
    assert(!q(Seq(0.0, 1.0, 0.0, 0.0), 4).contains("c2"))
    assert(sess.vectorIndexFullBuilds.get === full0)
    assert(sess.vectorIndexIncrementalUpdates.get === inc0 + 3)
    // 4) REMOVE of the indexed property likewise drops the node
    sess.run("MATCH (c:Chunk {name: 'c4'}) REMOVE c.embedding")
    assert(!q(Seq(0.0, 0.0, 0.0, 1.0), 4).contains("c4"))
    assert(sess.vectorIndexFullBuilds.get === full0)
    // 5) a malformed value written by a GENERIC write (no setter
    // pre-validation) fails the QUERY with the rebuild's exact error —
    // and the serving state survives: fixing the value patches through
    sess.run("MATCH (c:Chunk {name: 'c3'}) SET c.embedding = '1.0,2.0'")
    val e = intercept[IllegalStateException](q(Seq(1.0, 0.0, 0.0, 0.0), 1))
    assert(e.getMessage.contains("'ce'") &&
      e.getMessage.contains("malformed"), e.getMessage)
    sess.run("MATCH (c:Chunk {name: 'c3'}) SET c.embedding = '0.0,0.0,1.0,0.0'")
    assert(q(Seq(0.0, 0.0, 1.0, 0.0), 1) === Seq("c3"))
    assert(sess.vectorIndexFullBuilds.get === full0,
      "recovering from a malformed delta must patch, not rebuild")
    // 6) the apoc.merge.node import path (LangChain add_graph_documents)
    // records its exact ids too
    sess.run(
      """UNWIND $data AS row
        |CALL apoc.merge.node([row.type], {name: row.nm},
        |  {embedding: row.emb}, {}) YIELD node RETURN count(node) AS n""".stripMargin,
      Map("data" -> Seq(
        Map("type" -> "Chunk", "nm" -> "c7", "emb" -> "0.5,0.5,0.0,0.0"))))
    assert(q(Seq(0.5, 0.5, 0.0, 0.0), 1) === Seq("c7"))
    assert(sess.vectorIndexFullBuilds.get === full0,
      "apoc.merge.node on the indexed label must patch, not rebuild")
    // 7) foreign-label writes still ADOPT (no patch, no rebuild)
    val incA = sess.vectorIndexIncrementalUpdates.get
    sess.run("MERGE (p:Publisher {name: 'px'})")
    assert(q(Seq(0.0, 0.0, 1.0, 0.0), 1) === Seq("c3"))
    assert(sess.vectorIndexFullBuilds.get === full0)
    assert(sess.vectorIndexIncrementalUpdates.get === incA,
      "a foreign-label write must adopt the instance, not patch")
  }

  test("round-17: a long micro-batch stream of snapshot patches keeps " +
      "probes exact at every step (overwrite masking included)") {
    // Pins the in-memory (sub-threshold) snapshot path under s13's write
    // pattern: many sequential patch batches with a probe between every
    // pair of writes, plus an overwrite that must mask its stale row.
    // NEGATIVE RESULT recorded round 17: making these patches LAZY
    // (depth-bounded (snapshot ∖ ids) ∪ delta layers, compacted every K
    // batches — the store's compactReadDepth design) regressed s13 1.65×
    // in a same-hour A/B (10.29 vs 6.22 s, d12 drift indicator flat):
    // s13 probes EVERY batch, and each between-pin probe pays one
    // broadcast anti-join job per lazy layer, which costs more than the
    // O(N∪δ) re-pin it saves at any N below the in-memory threshold. The
    // eager per-patch pin stays; this test pins its exactness either way.
    val sess = freshSession
    sess.run("MERGE (c:Chunk {name: 'seed'}) SET c.embedding = '1.0,0.0,0.0,0.0'")
    sess.run("""CREATE VECTOR INDEX ce FOR (c:Chunk) ON c.embedding
               |OPTIONS {indexConfig: {`vector.dimensions`: 4}}""".stripMargin)
    def q(v: Seq[Double], k: Int): Seq[String] = sess.run(
      s"CALL db.index.vector.queryNodes('ce', $k, $$q) YIELD node, score " +
        "RETURN node.name AS nm, score", Map("q" -> v))
      .asInstanceOf[CypherRows].df.as[(String, Double)].collect()
      .toSeq.map(_._1)
    assert(q(Seq(1.0, 0.0, 0.0, 0.0), 1) === Seq("seed")) // first build
    val full0 = sess.vectorIndexFullBuilds.get
    val inc0 = sess.vectorIndexIncrementalUpdates.get
    // 9 micro-batches: distinct directions (1, i, 0, 0); self-query top-1
    // must return the batch's own node at every intermediate depth
    (1 to 9).foreach { i =>
      sess.run(
        """UNWIND $data AS row
          |MERGE (c:Chunk {name: row.nm}) SET c.embedding = row.emb""".stripMargin,
        Map("data" -> Seq(Map("nm" -> s"n$i", "emb" -> s"1.0,$i.0,0.0,0.0"))))
      assert(q(Seq(1.0, i.toDouble, 0.0, 0.0), 1) === Seq(s"n$i"),
        s"probe after batch $i is wrong")
    }
    assert(sess.vectorIndexFullBuilds.get === full0,
      "micro-batches must patch the live snapshot, never rebuild")
    assert(sess.vectorIndexIncrementalUpdates.get === inc0 + 9)
    // an OVERWRITE through a lazy layer masks the stale row: n1's old
    // vector (1,1,0,0) must no longer surface n1 at cosine 1.0 — a ghost
    // row would be the exact-score top-1 for its own old direction
    // (candidate sets are LSH-bounded, so "returns all nodes" is not the
    // contract; "the stale row is gone" is)
    sess.run("MATCH (c:Chunk {name: 'n1'}) SET c.embedding = '0.0,0.0,1.0,0.0'")
    assert(q(Seq(0.0, 0.0, 1.0, 0.0), 1) === Seq("n1"))
    assert(q(Seq(1.0, 1.0, 0.0, 0.0), 1).forall(_ != "n1"),
      "stale pre-overwrite row leaked through a lazy patch layer")
    assert(sess.vectorIndexFullBuilds.get === full0)
  }

  test("round-13: incremental fulltext maintenance — same-label writes " +
      "patch postings/docs; BM25 scores equal a from-scratch build") {
    def mkSession(rows: Seq[(String, String)]): CypherSession = {
      val sess = freshSession
      rows.foreach { case (nm, t) =>
        sess.run(s"MERGE (d:Doc {name: '$nm'}) SET d.title = '$t'") }
      sess.run("CREATE FULLTEXT INDEX ft FOR (d:Doc) ON EACH [d.title]")
      sess
    }
    def q(sess: CypherSession, query: String): Seq[(String, Double)] =
      sess.run(
        s"""CALL db.index.fulltext.queryNodes('ft', '$query')
           |YIELD node, score
           |RETURN node.name AS nm, score ORDER BY score DESC, nm""".stripMargin)
        .asInstanceOf[CypherRows].df.as[(String, Double)].collect().toSeq
    val base = Seq("d1" -> "spark joins fast", "d2" -> "spark shuffles slow")
    val sess = mkSession(base)
    assert(q(sess, "spark").size === 2) // first build
    val full0 = sess.fulltextIndexFullBuilds.get
    val inc0 = sess.fulltextIndexIncrementalUpdates.get
    // 1) a same-label MERGE patches; scores (which depend on n and avgDl,
    // both shifted by the new doc) must equal a from-scratch session on
    // the identical corpus
    sess.run("MERGE (d:Doc {name: 'd3'}) SET d.title = 'flink spark streams'")
    val patched = q(sess, "spark OR streams")
    assert(sess.fulltextIndexFullBuilds.get === full0,
      "a same-label write with a recorded id delta must patch, not rebuild")
    assert(sess.fulltextIndexIncrementalUpdates.get === inc0 + 1)
    val fresh = mkSession(base :+ ("d3" -> "flink spark streams"))
    assert(patched === q(fresh, "spark OR streams"),
      "patched BM25 scores must equal a from-scratch build (n, avgDl, tf)")
    // 2) a property UPDATE re-tokenizes only the touched doc
    sess.run("MATCH (d:Doc {name: 'd1'}) SET d.title = 'hadoop legacy'")
    assert(q(sess, "spark").map(_._1).toSet === Set("d2", "d3"))
    assert(q(sess, "hadoop").map(_._1) === Seq("d1"))
    assert(sess.fulltextIndexFullBuilds.get === full0)
    // 3) DELETE drops the doc's postings through the patch
    sess.run("MATCH (d:Doc {name: 'd2'}) DETACH DELETE d")
    val afterDel = q(sess, "spark")
    assert(afterDel.map(_._1) === Seq("d3"), afterDel)
    assert(sess.fulltextIndexFullBuilds.get === full0)
    val fresh2 = mkSession(Seq("d1" -> "hadoop legacy",
      "d3" -> "flink spark streams"))
    assert(afterDel === q(fresh2, "spark"),
      "post-delete scores must equal a from-scratch build")
    // 4) foreign-label writes still adopt (no patch, no rebuild)
    val incA = sess.fulltextIndexIncrementalUpdates.get
    sess.run("MERGE (p:Pub {name: 'px'})")
    assert(q(sess, "spark").map(_._1) === Seq("d3"))
    assert(sess.fulltextIndexFullBuilds.get === full0)
    assert(sess.fulltextIndexIncrementalUpdates.get === incA)
  }

  test("round-11: fulltext index lifecycle — terms, AND, OR, phrases, deterministic BM25 scores") {
    val sess = freshSession
    def doc(nm: String, title: String): Unit =
      sess.run(s"MERGE (d:Doc {name: '$nm'}) SET d.title = '$title'")
    doc("d1", "spark joins fast")
    doc("d2", "spark shuffles slow spark")
    doc("d3", "flink streams fast")
    sess.run(
      """CREATE FULLTEXT INDEX titles FOR (d:Doc) ON EACH [d.title]""")
    def q(query: String): Seq[(String, Double)] = sess.run(
      s"""CALL db.index.fulltext.queryNodes('titles', '$query')
         |YIELD node, score
         |RETURN node.name AS nm, score ORDER BY score DESC, nm""".stripMargin)
      .asInstanceOf[CypherRows].df.as[(String, Double)].collect().toSeq
    // single term: d2 has tf=2 for spark, so it outranks d1 (longer dl
    // dampens but tf dominates at these lengths)
    val spark1 = q("spark")
    assert(spark1.map(_._1).toSet === Set("d1", "d2"))
    // AND conjunction
    assert(q("spark AND fast").map(_._1) === Seq("d1"))
    // OR (default juxtaposition)
    assert(q("spark flink").map(_._1).toSet === Set("d1", "d2", "d3"))
    assert(q("spark OR flink").map(_._1).toSet === Set("d1", "d2", "d3"))
    // quoted phrase: adjacency, not bag-of-words — "fast streams" has
    // both terms in d3 but not adjacent in this order
    assert(q("\"streams fast\"").map(_._1) === Seq("d3"))
    assert(q("\"fast streams\"").isEmpty)
    // determinism: identical scores on a re-run
    assert(q("spark joins") === q("spark joins"))
    // live rebuild after a write
    doc("d4", "spark everywhere")
    assert(q("everywhere").map(_._1) === Seq("d4"))
    // typed errors + lifecycle
    val e1 = intercept[IllegalArgumentException](sess.run(
      "CALL db.index.fulltext.queryNodes('nope', 'x') YIELD node, score " +
        "RETURN score"))
    assert(e1.getMessage.contains("does not exist"), e1.getMessage)
    // query-grammar edge cases fail typed, never silently empty
    val e2 = intercept[IllegalArgumentException](sess.run(
      "CALL db.index.fulltext.queryNodes('titles', '\"unterminated') " +
        "YIELD node, score RETURN score"))
    assert(e2.getMessage.contains("unterminated"), e2.getMessage)
    val e3 = intercept[IllegalArgumentException](sess.run(
      "CALL db.index.fulltext.queryNodes('titles', '...') " +
        "YIELD node, score RETURN score"))
    assert(e3.getMessage.contains("no searchable terms"), e3.getMessage)
    // a leading AND has nothing to bind left — it degrades to the plain
    // term (Lucene's lenient posture), never a crash
    assert(q("AND spark").map(_._1).toSet === Set("d1", "d2", "d4"))
    assert(sess.run("SHOW FULLTEXT INDEXES").asInstanceOf[CypherRows].df
      .select("name", "labelOrType", "property")
      .as[(String, String, String)].collect().toSeq ===
      Seq(("titles", "Doc", "title")))
    assert(sess.run("DROP INDEX titles").asInstanceOf[CypherRows].df
      .as[(String, Boolean)].collect().head === (("titles", true)))
  }

  test("round-11: GDS projections pin identically through the reliable checkpoint seam") {
    def projected(reliable: Boolean): Seq[(String, String)] = {
      val sess = freshSession
      Seq(("a", "b"), ("b", "c"), ("c", "a")).foreach { case (s1, d1) =>
        sess.run(s"""MERGE (x:N {name: '$s1'}) MERGE (y:N {name: '$d1'})
                    |MERGE (x)-[:L]->(y)""".stripMargin)
      }
      val ckDir = java.nio.file.Files.createTempDirectory("graft_ck")
      if (reliable) {
        spark.sparkContext.setCheckpointDir(ckDir.toString)
        spark.conf.set("spark.graft.iterCheckpoint", "reliable")
      }
      try {
        sess.run("CALL gds.graph.project('g', 'N', 'L')")
        // a later write must NOT leak into the snapshot either mode
        sess.run("MERGE (z:N {name: 'zz'})")
        sess.run(
          """CALL gds.wcc.stream('g') YIELD key, componentKey
            |RETURN key, componentKey ORDER BY key""".stripMargin)
          .asInstanceOf[CypherRows].df.as[(String, String)].collect().toSeq
      } finally {
        if (reliable) spark.conf.unset("spark.graft.iterCheckpoint")
        graft.cypher.TxBatches.deleteRecursively(ckDir)
      }
    }
    val dflt = projected(reliable = false)
    val rel = projected(reliable = true)
    assert(dflt === rel, s"reliable-mode projection diverged: $dflt vs $rel")
    assert(dflt.map(_._1).toSet === Set("a", "b", "c")) // snapshot excludes zz
  }

  test("round-11: epochMillis is exact on fractional-second timestamps") {
    val sess = freshSession
    // .123 seconds is NOT representable in a binary double — the old
    // (ts*1000) double round trip read 122 or 124 here (ADVICE r10 #4)
    sess.run("MERGE (e:Event {name: 'f'}) SET e.ts = '2024-03-05 14:30:45.123'")
    val ms = sess.run(
      "MATCH (e:Event {name: 'f'}) RETURN e.ts.epochMillis AS ms")
      .asInstanceOf[CypherRows].df.as[Long].collect().head
    assert(ms === 1709649045123L)
  }

  test("round-11: EXPLAIN/PROFILE refuse side-effecting procedures and DDL WITHOUT executing them") {
    val sess = freshSession
    sess.run("MERGE (u:User {name: 'alice'})")
    // write-mode procedure: typed rejection, store untouched
    val e1 = intercept[IllegalArgumentException](sess.run(
      "EXPLAIN CALL gds.wcc.write({writeProperty: 'c'}) " +
        "YIELD componentCount RETURN componentCount"))
    assert(e1.getMessage.contains("side effects") ||
      e1.getMessage.contains("without executing"), e1.getMessage)
    val props = sess.run("MATCH (u:User {name: 'alice'}) RETURN u.c AS c")
      .asInstanceOf[CypherRows].df.collect()
    assert(props.head.isNullAt(0), "EXPLAIN gds.wcc.write mutated the store")
    // catalog-mutating procedure: typed rejection, catalog unchanged
    val e2 = intercept[IllegalArgumentException](sess.run(
      "EXPLAIN CALL gds.graph.project('g1', '*', '*') " +
        "YIELD graphName RETURN graphName"))
    assert(e2.getMessage.contains("gds.graph.project"), e2.getMessage)
    assert(sess.run("CALL gds.graph.list() YIELD graphName RETURN graphName")
      .asInstanceOf[CypherRows].df.count() === 0,
      "EXPLAIN gds.graph.project registered a projection")
    // nested inside a CALL { } subquery: still caught
    val e3 = intercept[IllegalArgumentException](sess.run(
      "EXPLAIN MATCH (u:User) CALL { CALL gds.graph.drop('g1') " +
        "YIELD graphName RETURN graphName } RETURN graphName"))
    assert(e3.getMessage.contains("gds.graph.drop"), e3.getMessage)
    // DDL: typed rejection BEFORE execution, constraint catalog unchanged
    val e4 = intercept[IllegalArgumentException](sess.run(
      "EXPLAIN CREATE CONSTRAINT FOR (u:User) REQUIRE u.name IS UNIQUE"))
    assert(e4.getMessage.contains("read queries"), e4.getMessage)
    assert(sess.run("SHOW CONSTRAINTS").asInstanceOf[CypherRows].df.count() === 0,
      "EXPLAIN CREATE CONSTRAINT registered the constraint")
    // read-only procedures still EXPLAIN fine
    val plan = sess.run(
      "EXPLAIN CALL db.labels() YIELD label RETURN label")
      .asInstanceOf[CypherRows].df.as[String].collect().mkString("\n")
    assert(plan.contains("Physical Plan"), plan)
  }

  test("round-11: a failed mid-import IN TRANSACTIONS leaves the partial state READABLE") {
    val sess = freshSession
    sess.run("CREATE CONSTRAINT FOR (n:Item) REQUIRE n.name IS UNIQUE")
    // batch 1 (a, b) commits; batch 2 re-CREATEs 'a' → uniqueness violation
    // aborts the import mid-way. The session graph has batch 1 applied with
    // lineage over the staged parquet — which the finally deletes; without
    // the failure-path compact every later query died with
    // FileNotFoundException (ADVICE r10 #1).
    val e = intercept[IllegalStateException](sess.run(
      """UNWIND $ids AS id
        |CALL { WITH id CREATE (n:Item {name: id}) }
        |IN TRANSACTIONS OF 2 ROWS""".stripMargin,
      Map("ids" -> Seq("a", "b", "a", "c"))))
    assert(e.getMessage.contains("uniqueness constraint"), e.getMessage)
    // the documented partially-applied state: batch 1 is committed and
    // the store remains fully queryable after stage cleanup
    val names = sess.run("MATCH (n:Item) RETURN n.name AS name ORDER BY name")
      .asInstanceOf[CypherRows].df.as[String].collect().toSeq
    assert(names === Seq("a", "b"))
  }

  // ------------------------------------------------------------ round 12 --

  private def chunkSession = new CypherSession(
    PropertyGraph.empty(spark), keyProps = Map("Chunk" -> "id"),
    clock = () => lit("2026-01-01 00:00:00"))

  private val r12Vecs: Seq[(String, Seq[Double])] = Seq(
    "0" -> Seq(1.0, 0.0, 0.25, 0.0), "1" -> Seq(0.0, 1.0, 0.0, 0.5),
    "2" -> Seq(0.9, 0.1, 0.25, 0.0), "3" -> Seq(0.0, 0.0, 1.0, 1.0),
    "4" -> Seq(0.5, 0.5, 0.5, 0.5))

  test("round-12: batched setNodeVectorProperty — LangChain's UNWIND add_embeddings statement, batch ≡ per-record") {
    // per-record reference run (c71's shape)
    val perRec = chunkSession
    r12Vecs.foreach { case (id, v) =>
      perRec.run(s"MERGE (c:Chunk {id: '$id'})")
      perRec.run(s"MATCH (c:Chunk {id: '$id'}) " +
        "CALL db.create.setNodeVectorProperty(c, 'embedding', $v) " +
        "YIELD nodePropertiesWritten RETURN nodePropertiesWritten",
        Map("v" -> v))
    }
    // batched run: ONE statement for the whole batch
    val batched = chunkSession
    batched.run(
      """UNWIND $data AS row
        |MERGE (c:Chunk {id: row.id})
        |WITH c, row
        |CALL db.create.setNodeVectorProperty(c, 'embedding', row.embedding)"""
        .stripMargin,
      Map("data" -> r12Vecs.map { case (id, v) =>
        Map("id" -> id, "embedding" -> v) }))
    def dump(s: CypherSession): Seq[(String, String)] =
      s.run("MATCH (c:Chunk) RETURN c.id AS id, c.embedding AS e ORDER BY id")
        .asInstanceOf[CypherRows].df.as[(String, String)].collect().toSeq
    assert(dump(batched) === dump(perRec),
      "the batched statement must write byte-identical property bags")
    // and the index built on either store answers identically
    def top(s: CypherSession): Seq[(String, Double)] = {
      s.run("""CREATE VECTOR INDEX ce IF NOT EXISTS FOR (c:Chunk) ON c.embedding
              |OPTIONS {indexConfig: {`vector.dimensions`: 4}}""".stripMargin)
      s.run("CALL db.index.vector.queryNodes('ce', 3, $q) YIELD node, score " +
        "RETURN node.id AS id, score", Map("q" -> Seq(1.0, 0.0, 0.25, 0.0)))
        .asInstanceOf[CypherRows].df.as[(String, Double)].collect().toSeq
    }
    assert(top(batched) === top(perRec))
  }

  test("round-12: batched setter on a LIVE index — ONE incremental patch per batch, one store pin") {
    val sess = chunkSession
    sess.run("UNWIND $ids AS id MERGE (c:Chunk {id: id})",
      Map("ids" -> r12Vecs.map(_._1)))
    sess.run(
      """UNWIND $data AS row MERGE (c:Chunk {id: row.id}) WITH c, row
        |CALL db.create.setNodeVectorProperty(c, 'embedding', row.embedding)"""
        .stripMargin,
      Map("data" -> r12Vecs.map { case (id, v) =>
        Map("id" -> id, "embedding" -> v) }))
    sess.run("""CREATE VECTOR INDEX ce FOR (c:Chunk) ON c.embedding
               |OPTIONS {indexConfig: {`vector.dimensions`: 4}}""".stripMargin)
    val inc0 = sess.vectorIndexIncrementalUpdates.get
    val full0 = sess.vectorIndexFullBuilds.get
    // re-embed the WHOLE batch in one statement against the live index:
    // exactly one incremental patch, zero rebuilds
    sess.run(
      """UNWIND $data AS row MERGE (c:Chunk {id: row.id}) WITH c, row
        |CALL db.create.setNodeVectorProperty(c, 'embedding', row.embedding)"""
        .stripMargin,
      Map("data" -> r12Vecs.map { case (id, v) =>
        Map("id" -> id, "embedding" -> v.map(_ * 2.0)) }))
    assert(sess.vectorIndexIncrementalUpdates.get === inc0 + 1,
      "the whole batch must patch the index ONCE")
    assert(sess.vectorIndexFullBuilds.get === full0)
    val got = sess.run(
      "CALL db.index.vector.queryNodes('ce', 1, $q) YIELD node, score " +
        "RETURN node.id AS id", Map("q" -> Seq(0.0, 0.0, 2.0, 2.0)))
      .asInstanceOf[CypherRows].df.as[String].collect().toSeq
    assert(got === Seq("3"))
    // conflicting vectors for one node in one batch fail typed (no
    // set-oriented row order to break the tie)
    val e = intercept[IllegalArgumentException](sess.run(
      """UNWIND $data AS row MERGE (c:Chunk {id: row.id}) WITH c, row
        |CALL db.create.setNodeVectorProperty(c, 'embedding', row.embedding)"""
        .stripMargin,
      Map("data" -> Seq(
        Map("id" -> "0", "embedding" -> Seq(1.0, 0.0, 0.0, 0.0)),
        Map("id" -> "0", "embedding" -> Seq(0.0, 1.0, 0.0, 0.0))))))
    assert(e.getMessage.contains("more than one distinct vector"), e.getMessage)
    // a batch value violating the index fails BEFORE mutating
    val e2 = intercept[IllegalArgumentException](sess.run(
      """UNWIND $data AS row MERGE (c:Chunk {id: row.id}) WITH c, row
        |CALL db.create.setNodeVectorProperty(c, 'embedding', row.embedding)"""
        .stripMargin,
      Map("data" -> Seq(Map("id" -> "0", "embedding" -> Seq(1.0, 2.0))))))
    assert(e2.getMessage.contains("store unchanged"), e2.getMessage)
  }

  test("round-12: the full LangChain import loop — setter inside CALL { } IN TRANSACTIONS") {
    val sess = chunkSession
    sess.run(
      """UNWIND $data AS row
        |CALL { WITH row
        |  MERGE (c:Chunk {id: row.id})
        |  WITH c, row
        |  CALL db.create.setNodeVectorProperty(c, 'embedding', row.embedding)
        |  SET c.text = row.text
        |} IN TRANSACTIONS OF 2 ROWS""".stripMargin,
      Map("data" -> r12Vecs.map { case (id, v) =>
        Map("id" -> id, "embedding" -> v, "text" -> s"chunk $id") }))
    val rows = sess.run(
      "MATCH (c:Chunk) RETURN c.id AS id, c.text AS t, c.embedding AS e ORDER BY id")
      .asInstanceOf[CypherRows].df.as[(String, String, String)].collect().toSeq
    assert(rows.size === r12Vecs.size)
    assert(rows.head === (("0", "chunk 0", "1.0,0.0,0.25,0.0")))
    // and the store is immediately indexable + queryable
    sess.run("""CREATE VECTOR INDEX ce FOR (c:Chunk) ON c.embedding
               |OPTIONS {indexConfig: {`vector.dimensions`: 4}}""".stripMargin)
    val hit = sess.run(
      "CALL db.index.vector.queryNodes('ce', 1, $q) YIELD node, score " +
        "RETURN node.id AS id", Map("q" -> Seq(0.0, 0.0, 1.0, 1.0)))
      .asInstanceOf[CypherRows].df.as[String].collect().toSeq
    assert(hit === Seq("3"))
  }

  test("round-12: db.index.vector.createNodeIndex — procedure/DDL parity") {
    val sess = chunkSession
    sess.run("MERGE (c:Chunk {id: 'a'}) SET c.embedding = '1.0,0.0'")
    sess.run("CALL db.index.vector.createNodeIndex(" +
      "'pidx', 'Chunk', 'embedding', 2, 'cosine')")
    val shown = sess.run("SHOW VECTOR INDEXES").asInstanceOf[CypherRows].df
      .select("name", "labelOrType", "property")
      .as[(String, String, String)].collect().toSeq
    assert(shown === Seq(("pidx", "Chunk", "embedding")))
    // same validation as the DDL: duplicate name rejected, bad similarity
    // function rejected, equivalent index rejected
    val e1 = intercept[IllegalArgumentException](sess.run(
      "CALL db.index.vector.createNodeIndex(" +
        "'pidx', 'Chunk', 'embedding', 2, 'cosine')"))
    assert(e1.getMessage.contains("already exists"), e1.getMessage)
    // 'euclidean' is LEGAL since c76 (the other half of Neo4j 5's
    // similarity surface); an unknown similarity function still rejects
    sess.run("MATCH (c:Chunk) SET c.other = '0.5,0.5'")
    sess.run("CALL db.index.vector.createNodeIndex(" +
      "'eidx', 'Chunk', 'other', 2, 'euclidean')")
    assert(sess.run("SHOW VECTOR INDEXES").asInstanceOf[CypherRows].df
      .count() === 2)
    sess.run("DROP INDEX eidx")
    val e2 = intercept[IllegalArgumentException](sess.run(
      "CALL db.index.vector.createNodeIndex(" +
        "'midx', 'Chunk', 'other', 2, 'manhattan')"))
    assert(e2.getMessage.contains("cosine"), e2.getMessage)
    // the procedure-created index SERVES queries like the DDL-created one
    val got = sess.run(
      "CALL db.index.vector.queryNodes('pidx', 1, $q) YIELD node, score " +
        "RETURN node.id AS id, score", Map("q" -> Seq(1.0, 0.0)))
      .asInstanceOf[CypherRows].df.as[(String, Double)].collect().toSeq
    assert(got === Seq(("a", 1.0)))
    // it is a WRITE-mode procedure: EXPLAIN refuses it
    val e3 = intercept[IllegalArgumentException](sess.run(
      "EXPLAIN CALL db.index.vector.createNodeIndex(" +
        "'zidx', 'Chunk', 'embedding', 2, 'cosine')"))
    assert(e3.getMessage.toLowerCase.contains("explain"), e3.getMessage)
    // and SHOW PROCEDURES lists it (registry-derived)
    assert(sess.run("SHOW PROCEDURES").asInstanceOf[CypherRows].df
      .filter(col("name") === "db.index.vector.createNodeIndex")
      .select("mode").as[String].collect().toSeq === Seq("WRITE"))
  }

  test("round-12: fulltext NOT and parentheses — prohibit filters, never scores; malformed input fails typed") {
    val sess = freshSession
    def doc(nm: String, title: String): Unit =
      sess.run(s"MERGE (d:Doc {name: '$nm'}) SET d.title = '$title'")
    doc("d1", "spark joins fast")
    doc("d2", "spark shuffles slow spark")
    doc("d3", "flink streams fast")
    sess.run("CREATE FULLTEXT INDEX titles FOR (d:Doc) ON EACH [d.title]")
    def q(query: String): Seq[(String, Double)] = sess.run(
      s"""CALL db.index.fulltext.queryNodes('titles', '$query')
         |YIELD node, score
         |RETURN node.name AS nm, score ORDER BY score DESC, nm""".stripMargin)
      .asInstanceOf[CypherRows].df.as[(String, Double)].collect().toSeq
    // NOT filters the clause's doc set
    assert(q("spark AND NOT joins").map(_._1) === Seq("d2"))
    // the -term prefix is Lucene's prohibit shorthand
    assert(q("fast AND -spark").map(_._1) === Seq("d3"))
    // parentheses group; AND binds tighter than OR without them
    assert(q("(joins OR streams) AND fast").map(_._1).toSet === Set("d1", "d3"))
    assert(q("spark AND (joins OR streams)").map(_._1) === Seq("d1"))
    assert(q("spark AND joins OR streams").map(_._1).toSet === Set("d1", "d3"))
    // a prohibited clause never contributes to the score: d3's score for
    // `fast AND NOT spark` is exactly its plain `fast` score
    val withNot = q("fast AND NOT spark")
    assert(withNot.map(_._1) === Seq("d3"))
    val plain = q("fast").find(_._1 == "d3").get
    assert(withNot.head._2 === plain._2,
      "NOT must filter matches without changing the positive score")
    // pure-negative branches are rejected loudly (they would match every
    // document containing none of the terms)
    val e1 = intercept[IllegalArgumentException](q("NOT spark"))
    assert(e1.getMessage.contains("non-negated"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException](q("fast OR NOT spark"))
    assert(e2.getMessage.contains("non-negated"), e2.getMessage)
    // malformed input fails typed
    val e3 = intercept[IllegalArgumentException](q("(spark AND fast"))
    assert(e3.getMessage.contains("unbalanced"), e3.getMessage)
    val e4 = intercept[IllegalArgumentException](q("spark AND NOT"))
    assert(e4.getMessage.contains("NOT needs"), e4.getMessage)
    val e5 = intercept[IllegalArgumentException](q("spark AND ()"))
    assert(e5.getMessage.contains("empty group"), e5.getMessage)
    // round-11 leniency pins hold under the new grammar
    assert(q("AND spark").map(_._1).toSet === Set("d1", "d2"))
    assert(q("spark AND fast").map(_._1) === Seq("d1"))
    assert(q("\"streams fast\"").map(_._1) === Seq("d3"))
  }

  test("round-12: CALL { } UNION of index procedures + options map — Neo4jVector's hybrid statement shape") {
    val sess = freshSession
    def doc(nm: String, title: String, emb: Seq[Double]): Unit =
      sess.run(s"MERGE (d:Doc {name: '$nm'}) SET d.title = '$title', " +
        s"d.embedding = '${emb.mkString(",")}'")
    doc("d1", "spark joins fast", Seq(1.0, 0.0, 0.0, 0.0))
    doc("d2", "spark shuffles slow", Seq(0.0, 1.0, 0.0, 0.0))
    doc("d3", "flink streams fast", Seq(0.9, 0.1, 0.0, 0.0))
    sess.run("""CREATE VECTOR INDEX ve FOR (d:Doc) ON d.embedding
               |OPTIONS {indexConfig: {`vector.dimensions`: 4}}""".stripMargin)
    sess.run("CREATE FULLTEXT INDEX fe FOR (d:Doc) ON EACH [d.title]")
    // the options map's $param limit truncates the scored rows
    val limited = sess.run(
      "CALL db.index.fulltext.queryNodes('fe', 'spark fast', {limit: $k}) " +
        "YIELD node, score RETURN node.name AS nm", Map("k" -> 2))
      .asInstanceOf[CypherRows].df.as[String].collect().toSeq
    assert(limited.size === 2, limited)
    // the full hybrid template: procedures inside CALL { }, per-arm
    // collect/max normalization, UNION, per-node-map max, top-k
    val hybrid = sess.run(
      """CALL {
        |  CALL db.index.vector.queryNodes('ve', 3, $q) YIELD node, score
        |  WITH collect({node: node, score: score}) AS nodes, max(score) AS max
        |  UNWIND nodes AS n
        |  RETURN n.node AS node, (n.score / max) AS score
        |  UNION
        |  CALL db.index.fulltext.queryNodes('fe', 'spark') YIELD node, score
        |  WITH collect({node: node, score: score}) AS nodes, max(score) AS max
        |  UNWIND nodes AS n
        |  RETURN n.node AS node, (n.score / max) AS score
        |}
        |WITH node, max(score) AS score
        |ORDER BY score DESC, node.name ASC
        |LIMIT 3
        |RETURN node.name AS nm, score""".stripMargin,
      Map("q" -> Seq(1.0, 0.0, 0.0, 0.0)))
      .asInstanceOf[CypherRows].df.as[(String, Double)].collect().toSeq
    // d1: vector max (1.0) — also a 'spark' hit; d2: fulltext 'spark'
    // normalized 1.0 (shortest spark doc? both arms normalize by their
    // own max); every doc appears once (the map-valued node dedups)
    assert(hybrid.size === 3, hybrid)
    assert(hybrid.map(_._1).distinct.size === 3, hybrid)
    assert(hybrid.head._2 === 1.0, hybrid)
  }

  test("round-12: plain CREATE INDEX (range) — advisory lifecycle, SHOW INDEXES row, typed errors") {
    val sess = freshSession
    sess.run("MERGE (a:Article {link: 'x'})")
    // named, anonymous-default, RANGE-keyword and pre-5 bare-ON forms
    assert(sess.run("CREATE INDEX art_link FOR (a:Article) ON (a.link)")
      .asInstanceOf[CypherRows].df.as[(String, Boolean)].collect().head ===
      (("art_link", true)))
    assert(sess.run("CREATE INDEX FOR (p:Publisher) ON (p.name)")
      .asInstanceOf[CypherRows].df.as[(String, Boolean)].collect().head ===
      (("range_Publisher_name", true)))
    assert(sess.run("CREATE RANGE INDEX t_idx FOR (t:Tech) ON t.name")
      .asInstanceOf[CypherRows].df.as[(String, Boolean)].collect().head ===
      (("t_idx", true)))
    // IF NOT EXISTS is a no-op on both name and definition collisions
    assert(sess.run(
      "CREATE INDEX art_link IF NOT EXISTS FOR (a:Article) ON (a.link)")
      .asInstanceOf[CypherRows].df.as[(String, Boolean)].collect().head._2
      === false)
    val e1 = intercept[IllegalArgumentException](sess.run(
      "CREATE INDEX art_link FOR (a:Article) ON (a.title)"))
    assert(e1.getMessage.contains("already exists"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException](sess.run(
      "CREATE INDEX other FOR (a:Article) ON (a.link)"))
    assert(e2.getMessage.contains("equivalent"), e2.getMessage)
    val e3 = intercept[IllegalArgumentException](sess.run(
      "CREATE INDEX comp FOR (a:Article) ON (a.link, a.title)"))
    assert(e3.getMessage.contains("composite"), e3.getMessage)
    // SHOW INDEXES lists RANGE rows alongside the label LOOKUP
    val shown = sess.run("SHOW INDEXES").asInstanceOf[CypherRows].df
      .filter(col("type") === "RANGE")
      .select("name", "labelOrType", "property")
      .as[(String, String, String)].collect().toSeq.sorted
    assert(shown === Seq(("art_link", "Article", "link"),
      ("range_Publisher_name", "Publisher", "name"),
      ("t_idx", "Tech", "name")))
    // DROP removes it; the queries it advises still run (advisory row)
    assert(sess.run("DROP INDEX art_link").asInstanceOf[CypherRows].df
      .as[(String, Boolean)].collect().head === (("art_link", true)))
    assert(sess.run("MATCH (a:Article {link: 'x'}) RETURN a.link AS l")
      .asInstanceOf[CypherRows].df.as[String].collect().toSeq === Seq("x"))
  }

  test("index and constraint names share one schema namespace, both directions") {
    val sess = freshSession
    sess.run("MERGE (x:X {name: 'a'}) SET x.k = 'k1', x.y = 'y1', " +
      "x.emb = '1.0,0.0', x.txt = 'hello world'")
    def added(q: String): Boolean = sess.run(q).asInstanceOf[CypherRows].df
      .select("added").as[Boolean].collect().head
    def clash(q: String): Unit = {
      val e = intercept[IllegalArgumentException](sess.run(q))
      assert(e.getMessage.contains("already exists"), e.getMessage)
    }
    val creates = Seq(
      "CREATE INDEX %s%s FOR (n:X) ON (n.y)",
      "CREATE VECTOR INDEX %s%s FOR (n:X) ON n.emb " +
        "OPTIONS {indexConfig: {`vector.dimensions`: 2}}",
      "CREATE FULLTEXT INDEX %s%s FOR (n:X) ON EACH [n.txt]")
    // constraint first: no index kind may take its name
    assert(added("CREATE CONSTRAINT uc FOR (n:X) REQUIRE n.k IS UNIQUE"))
    creates.foreach { c =>
      clash(c.format("uc", ""))
      assert(!added(c.format("uc", " IF NOT EXISTS")))
    }
    // index first: a constraint may not take an index's name
    Seq("ri", "vi", "fi").zip(creates).foreach { case (n, c) =>
      assert(added(c.format(n, "")))
      clash(s"CREATE CONSTRAINT $n FOR (n:X) REQUIRE n.y IS UNIQUE")
      assert(!added(
        s"CREATE CONSTRAINT $n IF NOT EXISTS FOR (n:X) REQUIRE n.y IS UNIQUE"))
      sess.run(s"DROP INDEX $n")
    }
    val names = sess.run("SHOW INDEXES").asInstanceOf[CypherRows].df
      .select("name").as[String].collect().toSeq
    assert(names.count(_ == "uc") === 1, names)
    assert(sess.run("SHOW CONSTRAINTS").asInstanceOf[CypherRows].df
      .select("name").as[String].collect().toSeq === Seq("uc"))
  }

  test("CREATE FULLTEXT INDEX rejects an equivalent definition unless IF NOT EXISTS") {
    val sess = freshSession
    sess.run("MERGE (d:Doc {name: 'a'}) SET d.title = 'spark', d.body = 'graph'")
    sess.run("CREATE FULLTEXT INDEX ft1 FOR (d:Doc) ON EACH [d.title, d.body]")
    val e = intercept[IllegalArgumentException](sess.run(
      "CREATE FULLTEXT INDEX ft2 FOR (d:Doc) ON EACH [d.title, d.body]"))
    assert(e.getMessage.contains("equivalent"), e.getMessage)
    assert(sess.run(
      "CREATE FULLTEXT INDEX ft2 IF NOT EXISTS FOR (d:Doc) ON EACH [d.title, d.body]")
      .asInstanceOf[CypherRows].df.as[(String, Boolean)].collect().head ===
      (("ft2", false)))
    // another property list, or the relationship kind, is not equivalent
    assert(sess.run("CREATE FULLTEXT INDEX ft3 FOR (d:Doc) ON EACH [d.title]")
      .asInstanceOf[CypherRows].df.as[(String, Boolean)].collect().head ===
      (("ft3", true)))
    assert(sess.run("SHOW FULLTEXT INDEXES").asInstanceOf[CypherRows].df
      .select("name").as[String].collect().toSeq.sorted === Seq("ft1", "ft3"))
  }

  test("round-12: euclidean vector indexes — 1/(1+d2) scores, origin legal, cosine still rejects zero") {
    val sess = chunkSession
    Seq("a" -> "1.0,0.0", "b" -> "0.0,2.0", "o" -> "0.0,0.0").foreach {
      case (id, v) =>
        sess.run(s"MERGE (c:Chunk {id: '$id'}) SET c.embedding = '$v'")
    }
    // a cosine index rejects the zero vector at build (cosine undefined)
    val e = intercept[IllegalStateException](sess.run(
      """CREATE VECTOR INDEX cidx FOR (c:Chunk) ON c.embedding
        |OPTIONS {indexConfig: {`vector.dimensions`: 2}}""".stripMargin))
    assert(e.getMessage.contains("nonzero norm"), e.getMessage)
    // euclidean legally indexes (and queries from) the origin
    sess.run("""CREATE VECTOR INDEX eidx FOR (c:Chunk) ON c.embedding
               |OPTIONS {indexConfig: {`vector.dimensions`: 2,
               |  `vector.similarity_function`: 'euclidean'}}""".stripMargin)
    val got = sess.run(
      "CALL db.index.vector.queryNodes('eidx', 3, $q) YIELD node, score " +
        "RETURN node.id AS id, score", Map("q" -> Seq(0.0, 0.0)))
      .asInstanceOf[CypherRows].df.as[(String, Double)].collect().toSeq
    // Neo4j's euclidean normalization: score = 1 / (1 + squaredDistance).
    // The origin always collides with the zero query vector (identical
    // sign pattern); other docs are LSH candidates when buckets collide.
    assert(got.contains(("o", 1.0)), got)
    got.foreach {
      case ("a", s) => assert(s === 0.5, got)
      case ("b", s) => assert(s === 0.2, got)
      case _ => ()
    }
    // bad similarity function still fails typed
    val e2 = intercept[IllegalArgumentException](sess.run(
      """CREATE VECTOR INDEX m FOR (c:Chunk) ON c.other
        |OPTIONS {indexConfig: {`vector.dimensions`: 2,
        |  `vector.similarity_function`: 'manhattan'}}""".stripMargin))
    assert(e2.getMessage.contains("euclidean"), e2.getMessage)
  }

  test("round-12: queryNodes accepts Int-typed k; unterminated backtick fails typed") {
    val sess = chunkSession
    sess.run("MERGE (c:Chunk {id: 'a'}) SET c.embedding = '1.0,0.0'")
    sess.run("CALL db.index.vector.createNodeIndex(" +
      "'i', 'Chunk', 'embedding', 2, 'cosine')")
    // ADVICE r11 #3: a JVM-built params map naturally carries Int
    val got = sess.run(
      "CALL db.index.vector.queryNodes('i', $k, $q) YIELD node, score " +
        "RETURN node.id AS id",
      Map("k" -> 1, "q" -> Seq(1.0, 0.0)))
      .asInstanceOf[CypherRows].df.as[String].collect().toSeq
    assert(got === Seq("a"))
    // ADVICE r11 #4: a missing closing backtick fails typed, not with a
    // confusing downstream parse error
    val e = intercept[IllegalArgumentException](sess.run(
      "MATCH (c:Chunk) RETURN c.`embedding AS x"))
    assert(e.getMessage.contains("unterminated backtick"), e.getMessage)
  }

  test("map projection overrides: `n {.*, k: Null}` replaces selected " +
      "entries and adds absent keys (Neo4jVector's default retrieval shape)") {
    val sess = freshSession
    sess.run("MERGE (u:User {name: 'alice'}) SET u.role = 'admin', u.age = '30'")
    val m = sess.run(
      "MATCH (u:User) RETURN u {.*, role: Null, id: Null} AS meta")
      .asInstanceOf[CypherRows].df
      .select(element_at(col("meta"), "name"), element_at(col("meta"), "age"),
        element_at(col("meta"), "role"), element_at(col("meta"), "id"),
        size(map_keys(col("meta"))))
      .collect().head
    assert(m.getString(0) === "alice" && m.getString(1) === "30")
    assert(m.isNullAt(2) && m.isNullAt(3)) // replaced + added, both null
    assert(m.getInt(4) === 4)              // name, age, role, id
    // an override with a real value replaces the property's value
    val v = sess.run(
      "MATCH (u:User) RETURN u {.name, role: 'demoted'} AS meta")
      .asInstanceOf[CypherRows].df
      .select(element_at(col("meta"), "name"),
        element_at(col("meta"), "role")).collect().head
    assert(v.getString(0) === "alice" && v.getString(1) === "demoted")
  }

  test("SHOW INDEXES YIELD: Neo4j-shaped columns, WHERE/RETURN composition " +
      "(Neo4jVector's retrieve_existing_index statements)") {
    val sess = chunkSession
    sess.run("MERGE (c:Chunk {id: 'a'}) SET c.embedding = '1.0,0.0', " +
      "c.text = 'hello world'")
    sess.run("""CREATE VECTOR INDEX vector FOR (c:Chunk) ON c.embedding
               |OPTIONS {indexConfig: {`vector.dimensions`: 2}}""".stripMargin)
    sess.run("CREATE FULLTEXT INDEX keyword FOR (c:Chunk) ON EACH [c.text]")
    // found by (label, property) even under a wrong name — the OR branch
    val byLp = sess.run(
      """SHOW INDEXES YIELD name, type, labelsOrTypes, properties, options
        |WHERE type = 'VECTOR' AND (name = $index_name
        |OR (labelsOrTypes[0] = $node_label
        |AND properties[0] = $embedding_node_property))
        |RETURN name, labelsOrTypes, properties, options""".stripMargin,
      Map("index_name" -> "nope", "node_label" -> "Chunk",
        "embedding_node_property" -> "embedding"))
      .asInstanceOf[CypherRows].df
    assert(byLp.count() === 1)
    val r = byLp.collect().head
    assert(r.getString(0) === "vector")
    assert(r.getSeq[String](1) === Seq("Chunk"))
    assert(r.getSeq[String](2) === Seq("embedding"))
    // the options map carries the index config LangChain reads back
    val dims = byLp.select(col("options").getField("indexConfig")
      .getField("vector.dimensions")).collect().head.getLong(0)
    assert(dims === 2L)
    // fulltext arm: list equality against a LIST parameter
    val ft = sess.run(
      """SHOW INDEXES YIELD name, type, labelsOrTypes, properties, options
        |WHERE type = 'FULLTEXT' AND (name = $keyword_index_name
        |OR (labelsOrTypes = [$node_label]
        |AND properties = $text_node_properties))
        |RETURN name""".stripMargin,
      Map("keyword_index_name" -> "nope", "node_label" -> "Chunk",
        "text_node_properties" -> Seq("text")))
      .asInstanceOf[CypherRows].df.as[String].collect().toSeq
    assert(ft === Seq("keyword"))
    // YIELD * + implicit return; unknown yield column fails typed
    assert(sess.run("SHOW INDEXES YIELD * WHERE type = 'LOOKUP' RETURN name")
      .asInstanceOf[CypherRows].df.as[String].collect()
      .toSeq === Seq("node_label_lookup"))
    val e = intercept[IllegalArgumentException](
      sess.run("SHOW INDEXES YIELD bogus RETURN bogus"))
    assert(e.getMessage.contains("does not yield"), e.getMessage)
  }

  test("SHOW PROCEDURES YIELD composes like SHOW INDEXES YIELD; CALL " +
      "rejects the parser's internal pseudo-procedures") {
    val sess = freshSession
    def names(q: String): Seq[String] =
      sess.run(q).asInstanceOf[CypherRows].df.as[String].collect().toSeq
    assert(names("SHOW PROCEDURES YIELD name WHERE name STARTS WITH " +
      "'gds.wcc' RETURN name").sorted === Seq("gds.wcc.stream", "gds.wcc.write"))
    // Neo4j Browser's statement on connect: lower-case yield, no RETURN
    val browser = sess.run("SHOW PROCEDURES yield name, description, signature")
      .asInstanceOf[CypherRows].df
    assert(browser.columns.toSeq === Seq("name", "description", "signature"))
    assert(browser.count() === CypherAst.Procedures.all.size.toLong)
    assert(sess.run("SHOW PROCEDURES").asInstanceOf[CypherRows].df
      .columns.toSeq === Seq("name", "signature", "mode", "description"))
    // only SHOW … YIELD reaches the pseudo-procedures; CALL does not
    for (p <- CypherAst.Procedures.internal.keys) {
      val e = intercept[IllegalArgumentException](
        sess.run(s"CALL $p() YIELD name RETURN name"))
      assert(e.getMessage.contains("unknown procedure"), e.getMessage)
    }
    assert(names("SHOW INDEXES YIELD name RETURN name") === Seq("node_label_lookup"))
  }

  test("label-scoped index invalidation: a foreign-LABEL write adopts the " +
      "serving state; same-label writes patch through the id delta (r13)") {
    val sess = chunkSession
    sess.run("MERGE (c:Chunk {id: 'a'}) SET c.embedding = '1.0,0.0'")
    // same direction as 'a' so both share every sign-LSH bucket — the
    // query's candidate set then provably holds both nodes
    sess.run("MERGE (c:Chunk {id: 'b'}) SET c.embedding = '2.0,0.0'")
    sess.run("""CREATE VECTOR INDEX ci FOR (c:Chunk) ON c.embedding
               |OPTIONS {indexConfig: {`vector.dimensions`: 2}}""".stripMargin)
    def q(): Seq[String] = sess.run(
      "CALL db.index.vector.queryNodes('ci', 2, $q) YIELD node, score " +
        "RETURN node.id AS id", Map("q" -> Seq(1.0, 0.0)))
      .asInstanceOf[CypherRows].df.as[String].collect().toSeq
    assert(q().toSet === Set("a", "b"))
    val builds0 = sess.vectorIndexFullBuilds.get
    // foreign-label node writes and edge-only writes: NO rebuild
    sess.run("MERGE (p:Pub {name: 'outsider'})")
    sess.run("MATCH (p:Pub {name: 'outsider'}) SET p.note = 'x'")
    sess.run("MERGE (u:Pub {name: 'u2'})")
    sess.run("MATCH (a:Pub {name: 'outsider'}) MATCH (b:Pub {name: 'u2'}) " +
      "MERGE (a)-[:REL]->(b)")
    assert(q().toSet === Set("a", "b"))
    assert(sess.vectorIndexFullBuilds.get === builds0,
      "foreign-label/edge writes must not rebuild the index")
    // a same-label write to a DIFFERENT property changes the indexed node
    // maps — the query PATCHES the touched rows through the lineage's id
    // delta (r13; this used to pay a full rebuild) and sees the new
    // property
    sess.run("MATCH (c:Chunk {id: 'a'}) SET c.extra = 'fresh'")
    val withExtra = sess.run(
      "CALL db.index.vector.queryNodes('ci', 2, $q) YIELD node, score " +
        "RETURN node.id AS id, node.extra AS extra ORDER BY id",
      Map("q" -> Seq(1.0, 0.0)))
      .asInstanceOf[CypherRows].df.collect()
    assert(withExtra.head.getString(1) === "fresh")
    assert(sess.vectorIndexFullBuilds.get === builds0,
      "a same-label write with a recorded id delta must patch, not rebuild")
    // fulltext adoption rides the same lineage
    sess.run("MATCH (c:Chunk) SET c.text = 'hello world'")
    sess.run("CREATE FULLTEXT INDEX cf FOR (c:Chunk) ON EACH [c.text]")
    def ftq(): Long = sess.run(
      "CALL db.index.fulltext.queryNodes('cf', 'hello') YIELD node, score " +
        "RETURN node.id AS id").asInstanceOf[CypherRows].df.count()
    assert(ftq() === 2L)
    sess.run("MERGE (p:Pub {name: 'another'})")
    assert(ftq() === 2L) // adopted, still serves (correctness unchanged)
  }

  test("relationship vector/fulltext indexes: ()-[r:T]-() DDL, " +
      "queryRelationships, entity-kind errors, scoped invalidation") {
    val sess = freshSession
    sess.run("""MERGE (u:User {name: 'alice'}) MERGE (t:Tech {name: 'spark'})
               |MERGE (u)-[:INTERESTED_IN {note: 'loves spark deeply',
               |  w: '1.0,0.0'}]->(t)""".stripMargin)
    sess.run("""MERGE (u:User {name: 'bob'}) MERGE (t:Tech {name: 'scala'})
               |MERGE (u)-[:INTERESTED_IN {note: 'tolerates spark',
               |  w: '2.0,0.0'}]->(t)""".stripMargin)
    sess.run("""CREATE VECTOR INDEX rvi FOR ()-[r:INTERESTED_IN]-() ON r.w
               |OPTIONS {indexConfig: {`vector.dimensions`: 2}}""".stripMargin)
    sess.run("CREATE FULLTEXT INDEX rfi FOR ()-[r:INTERESTED_IN]-() " +
      "ON EACH [r.note]")
    // vector: both edges share every sign-LSH bucket (same direction)
    val vres = sess.run(
      "CALL db.index.vector.queryRelationships('rvi', 2, $q) " +
        "YIELD relationship, score " +
        "RETURN relationship.note AS note ORDER BY note",
      Map("q" -> Seq(1.0, 0.0)))
      .asInstanceOf[CypherRows].df.as[String].collect().toSeq
    assert(vres === Seq("loves spark deeply", "tolerates spark"))
    // fulltext: term matching + BM25 over edge properties
    val fres = sess.run(
      "CALL db.index.fulltext.queryRelationships('rfi', 'spark') " +
        "YIELD relationship, score RETURN relationship.note AS note")
      .asInstanceOf[CypherRows].df.as[String].collect().toSeq
    assert(fres.toSet === Set("loves spark deeply", "tolerates spark"))
    assert(sess.run(
      "CALL db.index.fulltext.queryRelationships('rfi', 'loves') " +
        "YIELD relationship, score RETURN relationship.note AS note")
      .asInstanceOf[CypherRows].df.as[String].collect().toSeq ===
      Seq("loves spark deeply"))
    // entity-kind mismatch fails typed, both directions
    val e1 = intercept[IllegalArgumentException](sess.run(
      "CALL db.index.vector.queryNodes('rvi', 1, $q) YIELD node, score " +
        "RETURN score", Map("q" -> Seq(1.0, 0.0))))
    assert(e1.getMessage.contains("queryRelationships"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException](sess.run(
      "CALL db.index.fulltext.queryNodes('rfi', 'spark') " +
        "YIELD node, score RETURN score"))
    assert(e2.getMessage.contains("queryRelationships"), e2.getMessage)
    // SHOW INDEXES carries entityType RELATIONSHIP
    val ent = sess.run("SHOW INDEXES").asInstanceOf[CypherRows].df
      .filter(col("name").isin("rvi", "rfi"))
      .select("entityType").distinct().as[String].collect().toSeq
    assert(ent === Seq("RELATIONSHIP"))
    // scoped invalidation: node-prop writes and FOREIGN-type edge writes
    // adopt; a write to the indexed type rebuilds
    val builds0 = sess.vectorIndexFullBuilds.get
    sess.run("MATCH (u:User {name: 'alice'}) SET u.role = 'admin'")
    sess.run("MATCH (a:User {name: 'alice'}) MATCH (b:User {name: 'bob'}) " +
      "MERGE (a)-[:KNOWS]->(b)")
    assert(sess.run(
      "CALL db.index.vector.queryRelationships('rvi', 2, $q) " +
        "YIELD relationship, score RETURN score",
      Map("q" -> Seq(1.0, 0.0)))
      .asInstanceOf[CypherRows].df.count() === 2)
    assert(sess.vectorIndexFullBuilds.get === builds0,
      "node-prop/foreign-type writes must not rebuild a relationship index")
    // a write TO the indexed type patches incrementally (round 15,
    // VERDICT r14 #2 — through round 14 this was the full-rebuild case)
    val inc0 = sess.vectorIndexIncrementalUpdates.get
    sess.run("MATCH (a:User {name: 'alice'}) MATCH (t:Tech {name: 'scala'}) " +
      "MERGE (a)-[:INTERESTED_IN {note: 'new edge', w: '3.0,0.0'}]->(t)")
    assert(sess.run(
      "CALL db.index.vector.queryRelationships('rvi', 3, $q) " +
        "YIELD relationship, score RETURN score",
      Map("q" -> Seq(1.0, 0.0)))
      .asInstanceOf[CypherRows].df.count() === 3)
    assert(sess.vectorIndexFullBuilds.get === builds0,
      "an indexed-type edge write must patch the live index, not rebuild")
    assert(sess.vectorIndexIncrementalUpdates.get === inc0 + 1)
  }

  test("Neo4jVector.from_existing_graph: dynamic n[k], any() over a list " +
      "param, reduce with escape sequences, and the embedding update loop") {
    val sess = chunkSession
    sess.run("MERGE (c:Chunk {id: 'a'}) SET c.name = 'alpha', c.summary = 's1'")
    sess.run("MERGE (c:Chunk {id: 'b'}) SET c.name = 'beta'")
    sess.run("MERGE (c:Chunk {id: 'c'}) SET c.other = 'x'") // no fetch props
    sess.run("MERGE (c:Chunk {id: 'd'}) SET c.name = 'delta', " +
      "c.embedding = '1.0,0.0'") // already embedded — excluded
    // the VERBATIM fetch statement LangChain builds (default properties)
    val fetched = sess.run(
      """MATCH (n:`Chunk`)
        |WHERE n.embedding IS null
        |AND any(k in $props WHERE n[k] IS NOT null)
        |RETURN elementId(n) AS id, reduce(str='', k IN $props |
        |  str + '\n' + k + ': ' + coalesce(n[k], '')) AS text
        |LIMIT 1000""".stripMargin,
      Map("props" -> Seq("name", "summary")))
      .asInstanceOf[CypherRows].df
    val rows = fetched.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(rows.size === 2) // a and b; c has no fetch props, d is embedded
    assert(rows.values.toSet ===
      Set("\nname: alpha\nsummary: s1", "\nname: beta\nsummary: "))
    // the update loop: UNWIND the (id, embedding) batch, match by
    // elementId, set the vector through the standard setter
    sess.run(
      """UNWIND $data AS row
        |MATCH (n:Chunk) WHERE elementId(n) = row.id
        |CALL db.create.setNodeVectorProperty(n, $embedding_node_property, row.embedding)
        |YIELD nodePropertiesWritten RETURN sum(nodePropertiesWritten) AS n""".stripMargin,
      Map("data" -> rows.keys.toSeq.map(id =>
        Map("id" -> id, "embedding" -> Seq(0.5, 0.5))),
        "embedding_node_property" -> "embedding"))
    val embedded = sess.run(
      "MATCH (c:Chunk) WHERE c.embedding IS NOT NULL " +
        "RETURN c.id AS id ORDER BY id")
      .asInstanceOf[CypherRows].df.as[String].collect().toSeq
    assert(embedded === Seq("a", "b", "d"))
    assert(sess.run("MATCH (c:Chunk {id: 'a'}) RETURN c.embedding AS e")
      .asInstanceOf[CypherRows].df.as[String].collect().head === "0.5,0.5")
  }

  test("apoc.merge.node/relationship: LangChain add_graph_documents " +
      "imports run verbatim, set-oriented, with data-driven labels") {
    val sess = freshSession
    val nodeData = Seq(
      Map("id" -> "marie", "type" -> "Person",
        "properties" -> Map("born" -> "1867")),
      Map("id" -> "radium", "type" -> "Element",
        "properties" -> Map("symbol" -> "Ra")),
      Map("id" -> "pierre", "type" -> "Person",
        "properties" -> Map("born" -> "1859")))
    // langchain_neo4j's node import statement, verbatim
    val done = sess.run(
      "UNWIND $data AS row CALL apoc.merge.node([row.type], {id: row.id}, " +
        "row.properties, {}) YIELD node RETURN distinct 'done' AS result",
      Map("data" -> nodeData))
      .asInstanceOf[CypherRows].df.as[String].collect().toSeq
    assert(done === Seq("done"))
    assert(sess.run("MATCH (p:Person) RETURN p.id AS id ORDER BY id")
      .asInstanceOf[CypherRows].df.as[String].collect().toSeq ===
      Seq("marie", "pierre"))
    assert(sess.run("MATCH (p:Person {id: 'marie'}) RETURN p.born AS b")
      .asInstanceOf[CypherRows].df.as[String].collect().head === "1867")
    // MERGE semantics: re-import MATCHES, and the {} onMatch payload
    // leaves existing properties untouched
    sess.run(
      "UNWIND $data AS row CALL apoc.merge.node([row.type], {id: row.id}, " +
        "row.properties, {}) YIELD node RETURN distinct 'done' AS result",
      Map("data" -> Seq(Map("id" -> "marie", "type" -> "Person",
        "properties" -> Map("born" -> "9999")))))
    assert(sess.run("MATCH (p:Person) RETURN count(p) AS n")
      .asInstanceOf[CypherRows].df.as[Long].collect().head === 2L)
    assert(sess.run("MATCH (p:Person {id: 'marie'}) RETURN p.born AS b")
      .asInstanceOf[CypherRows].df.as[String].collect().head === "1867")
    // the relationship import statement, verbatim (chained merge.node →
    // merge.relationship through the yielded bindings)
    val relData = Seq(Map(
      "source" -> "marie", "source_label" -> "Person",
      "target" -> "radium", "target_label" -> "Element",
      "type" -> "DISCOVERED", "properties" -> Map("year" -> "1898")))
    sess.run(
      "UNWIND $data AS row " +
        "CALL apoc.merge.node([row.source_label], {id: row.source},{},{}) " +
        "YIELD node as source " +
        "CALL apoc.merge.node([row.target_label], {id: row.target},{},{}) " +
        "YIELD node as target " +
        "CALL apoc.merge.relationship(source, row.type, {}, " +
        "row.properties, target) YIELD rel RETURN distinct 'done'",
      Map("data" -> relData))
    val hop = sess.run(
      "MATCH (p:Person)-[r:DISCOVERED]->(e:Element) " +
        "RETURN p.id AS p, r.year AS y, e.id AS e")
      .asInstanceOf[CypherRows].df.as[(String, String, String)]
      .collect().toSeq
    assert(hop === Seq(("marie", "1898", "radium")))
    // write-mode: EXPLAIN refuses without executing
    val e = intercept[IllegalArgumentException](sess.run(
      "EXPLAIN UNWIND $data AS row CALL apoc.merge.node([row.type], " +
        "{id: row.id}, row.properties, {}) YIELD node RETURN 'done'",
      Map("data" -> nodeData)))
    assert(e.getMessage.toLowerCase.contains("side"), e.getMessage)
    // typed errors: multi-label list, multi-key identity
    val e2 = intercept[IllegalArgumentException](sess.run(
      "UNWIND $data AS row CALL apoc.merge.node(['A', 'B'], {id: row.id}, " +
        "{}, {}) YIELD node RETURN 'x'", Map("data" -> nodeData)))
    assert(e2.getMessage.contains("ONE label"), e2.getMessage)
    val e3 = intercept[IllegalArgumentException](sess.run(
      "UNWIND $data AS row CALL apoc.merge.node([row.type], " +
        "{id: row.id, sub: row.id}, {}, {}) YIELD node RETURN 'x'",
      Map("data" -> nodeData)))
    assert(e3.getMessage.contains("ONE key"), e3.getMessage)
  }

  test("round-13: integral widening — a JVM-built params map carrying Int " +
      "(not Long) drives queryNodes k, createNodeIndex dim, fulltext limit") {
    // VERDICT r12 #2: the parser produces Long for integer literals, but
    // a params map built in JVM code (or handed over by a driver layer)
    // naturally carries Int / java.lang.Integer — every integral procedure
    // slot must accept both
    val sess = freshSession
    // same direction so both nodes share every sign-LSH bucket (the
    // probe's candidate set then provably holds both); the score tie
    // breaks on the key collation, so k=1 deterministically returns 'a'
    Seq("a" -> "1.0,0.0", "b" -> "2.0,0.0").foreach { case (k, v) =>
      sess.run(s"MERGE (c:Chunk {name: '$k'}) SET c.embedding = '$v', " +
        s"c.text = 'doc $k'")
    }
    // the PROCEDURE DDL form with dim as a $param Int
    sess.run("CALL db.index.vector.createNodeIndex($nm, $lb, $pr, $dim, " +
      "$sim)", Map("nm" -> "vx", "lb" -> "Chunk", "pr" -> "embedding",
      "dim" -> 2, "sim" -> "cosine"))
    def hits(k: Any): Seq[String] = sess.run(
      "CALL db.index.vector.queryNodes('vx', $k, $q) YIELD node, score " +
        "RETURN node.name AS nm", Map("k" -> k, "q" -> Seq(1.0, 0.0)))
      .asInstanceOf[CypherRows].df.as[String].collect().toSeq
    assert(hits(1) === Seq("a"))                      // Scala Int
    assert(hits(Integer.valueOf(2)).toSet === Set("a", "b")) // boxed Integer
    assert(hits(2L).toSet === Set("a", "b"))          // Long (parser form)
    val e = intercept[IllegalArgumentException](hits(0))
    assert(e.getMessage.contains("positive"), e.getMessage)
    // fulltext {limit: $k} config with an Int value
    sess.run("CREATE FULLTEXT INDEX fx FOR (c:Chunk) ON EACH [c.text]")
    val ft = sess.run(
      "CALL db.index.fulltext.queryNodes('fx', 'doc', {limit: $k}) " +
        "YIELD node, score RETURN node.name AS nm", Map("k" -> 1))
      .asInstanceOf[CypherRows].df.as[String].collect().toSeq
    assert(ft.size === 1)
  }

  test("round-13: a gds write-mode procedure patches a live vector index " +
      "through its recorded ids (unknown labels, known delta)") {
    // gds.*.write records touched labels as UNKNOWN (null — the projection
    // can span labels) but its exact target ids ride the lineage, so the
    // index patch still resolves the delta instead of a full rebuild
    val sess = freshSession
    Seq("a" -> "1.0,0.0", "b" -> "2.0,0.0").foreach { case (k, v) =>
      sess.run(s"MERGE (c:Chunk {name: '$k'}) SET c.embedding = '$v'")
    }
    sess.run("MATCH (a:Chunk {name: 'a'}) MATCH (b:Chunk {name: 'b'}) " +
      "MERGE (a)-[:NEXT]->(b)")
    sess.run("""CREATE VECTOR INDEX gvx FOR (c:Chunk) ON c.embedding
               |OPTIONS {indexConfig: {`vector.dimensions`: 2}}""".stripMargin)
    def q(): Seq[(String, String)] = sess.run(
      "CALL db.index.vector.queryNodes('gvx', 2, $q) YIELD node, score " +
        "RETURN node.name AS nm, coalesce(node.deg, '-') AS deg " +
        "ORDER BY nm", Map("q" -> Seq(1.0, 0.0)))
      .asInstanceOf[CypherRows].df.as[(String, String)].collect().toSeq
    assert(q().map(_._1) === Seq("a", "b")) // first build
    val full0 = sess.vectorIndexFullBuilds.get
    sess.run("CALL gds.degree.write({writeProperty: 'deg'})")
    val got = q()
    assert(got.map(_._2).forall(_ != "-"),
      s"the written degree must be visible in the index's node maps: $got")
    assert(sess.vectorIndexFullBuilds.get === full0,
      "a gds write with recorded ids must patch, not rebuild")
  }

  test("round-13: apoc.merge batch equals sequence — the probe-free " +
      "`{},{}` fast path and the probed path agree row for row") {
    // VERDICT r12 #3: the chained source/target merges skip the
    // existence probe (empty onCreate/onMatch payloads are identical on
    // both paths). This pins the semantics: one BATCHED import statement
    // must leave the store byte-identical to the same rows imported one
    // statement at a time (probed or not), including re-merges of keys
    // that already exist.
    def readBack(sess: CypherSession): Seq[(String, String, String, String)] =
      sess.run(
        """MATCH (s:Supplier)-[r:LOCATED_IN]->(n:Nation)
          |RETURN s.id AS s, coalesce(s.acct, '-') AS acct, r.via AS via,
          |  n.id AS n ORDER BY s, n""".stripMargin)
        .asInstanceOf[CypherRows].df
        .as[(String, String, String, String)].collect().toSeq
    val nodeRows = Seq(
      Map[String, Any]("id" -> "s1", "type" -> "Supplier",
        "properties" -> Map("acct" -> "10")),
      Map[String, Any]("id" -> "s2", "type" -> "Supplier",
        "properties" -> Map("acct" -> "20")),
      Map[String, Any]("id" -> "DE", "type" -> "Nation",
        "properties" -> Map[String, String]()))
    val relRows = Seq(
      Map[String, Any]("source" -> "s1", "source_label" -> "Supplier",
        "target" -> "DE", "target_label" -> "Nation",
        "type" -> "LOCATED_IN", "properties" -> Map("via" -> "x")),
      Map[String, Any]("source" -> "s2", "source_label" -> "Supplier",
        "target" -> "DE", "target_label" -> "Nation",
        "type" -> "LOCATED_IN", "properties" -> Map("via" -> "x")))
    val nodeStmt = "UNWIND $data AS row CALL apoc.merge.node([row.type], " +
      "{id: row.id}, row.properties, {}) YIELD node " +
      "RETURN distinct 'done' AS result"
    val relStmt = "UNWIND $data AS row " +
      "CALL apoc.merge.node([row.source_label], {id: row.source},{},{}) " +
      "YIELD node as source " +
      "CALL apoc.merge.node([row.target_label], {id: row.target},{},{}) " +
      "YIELD node as target " +
      "CALL apoc.merge.relationship(source, row.type, {}, " +
      "row.properties, target) YIELD rel RETURN distinct 'done'"
    // batched: whole lists per statement (the LangChain shape)
    val batched = freshSession
    batched.run(nodeStmt, Map("data" -> nodeRows))
    batched.run(relStmt, Map("data" -> relRows))
    // sequenced: the same rows, ONE driving row per statement, in the
    // batched statements' order — must land byte-identically
    val seq = freshSession
    nodeRows.foreach(r => seq.run(nodeStmt, Map("data" -> Seq(r))))
    relRows.foreach(r => seq.run(relStmt, Map("data" -> Seq(r))))
    assert(readBack(batched) === Seq(
      ("s1", "10", "x", "DE"), ("s2", "20", "x", "DE")))
    assert(readBack(seq) === readBack(batched),
      "sequenced imports must equal the batched import")
    // apoc's onCreate/onMatch split through the PROBED path: a node the
    // `{},{}` rel merge already created takes the `{}` onMatch payload on
    // a later node import — its onCreate props must NOT apply
    val probed = freshSession
    probed.run(relStmt, Map("data" -> Seq(relRows(1))))
    probed.run(nodeStmt, Map("data" -> nodeRows))
    assert(readBack(probed) === Seq(("s2", "-", "x", "DE")),
      "an existing node must take the onMatch payload, not onCreate")
    // re-importing the same batch is a no-op (MERGE idempotence through
    // the probe-free path)
    batched.run(nodeStmt, Map("data" -> nodeRows))
    batched.run(relStmt, Map("data" -> relRows))
    assert(readBack(batched) === readBack(seq))
  }

  test("procedure maps: the config-consuming contract survives the " +
      "general map-argument grammar") {
    val sess = freshSession
    sess.run("MERGE (u:User {name: 'a'}) MERGE (t:Tech {name: 'b'}) " +
      "MERGE (u)-[:R]->(t)")
    // a gds config map must still be LAST
    val e1 = intercept[IllegalArgumentException](sess.run(
      "CALL gds.wcc.stream({threshold: 0.5}, 'x') YIELD key RETURN key"))
    assert(e1.getMessage.contains("LAST"), e1.getMessage)
    // a row expression is not a config value for config-consuming procs
    val e2 = intercept[IllegalArgumentException](sess.run(
      "UNWIND [1] AS x CALL gds.labelPropagation.stream({maxIterations: x}) " +
        "YIELD key RETURN key"))
    assert(e2.getMessage.contains("literal or a $parameter"), e2.getMessage)
    // …while the literal/parameter config forms keep working
    assert(sess.run(
      "CALL gds.labelPropagation.stream({maxIterations: 2}) " +
        "YIELD key RETURN count(key) AS n")
      .asInstanceOf[CypherRows].df.as[Long].collect().head === 2L)
  }

  test("apoc.meta.data: LangChain Neo4jGraph's three refresh_schema " +
      "statements run verbatim") {
    val sess = freshSession
    sess.run("""MERGE (u:User {name: 'alice'}) MERGE (t:Tech {name: 'spark'})
               |MERGE (u)-[:INTERESTED_IN {since: '2024'}]->(t)""".stripMargin)
    sess.run("""MERGE (u:User {name: 'bob'}) MERGE (v:Tech {name: 'scala'})
               |MERGE (u)-[:INTERESTED_IN {since: '2025'}]->(v)""".stripMargin)
    sess.run("MATCH (u:User {name: 'alice'}) SET u.role = 'admin'")
    sess.run("MATCH (a:User {name: 'alice'}) MATCH (b:User {name: 'bob'}) " +
      "MERGE (a)-[:KNOWS]->(b)")
    val excluded = Map("EXCLUDED_LABELS" ->
      Seq("_Bloom_Perspective_", "_Bloom_Scene_", "__Entity__"))
    // langchain_neo4j's node_properties_query, verbatim
    val nodeProps = sess.run(
      """CALL apoc.meta.data()
        |YIELD label, other, elementType, type, property
        |WHERE NOT type = "RELATIONSHIP" AND elementType = "node"
        |  AND NOT label IN $EXCLUDED_LABELS
        |WITH label AS nodeLabels, collect({property:property, type:type}) AS properties
        |RETURN {labels: nodeLabels, properties: properties} AS output""".stripMargin,
      excluded).asInstanceOf[CypherRows].df
    val np = nodeProps
      .select(col("output.labels").as("l"),
        explode(col("output.properties")).as("p"))
      .select(col("l"), col("p.property"), col("p.type"))
      .as[(String, String, String)].collect().toSet
    assert(np === Set(("User", "name", "STRING"), ("User", "role", "STRING"),
      ("Tech", "name", "STRING")))
    // rel_properties_query, verbatim
    val relProps = sess.run(
      """CALL apoc.meta.data()
        |YIELD label, other, elementType, type, property
        |WHERE NOT type = "RELATIONSHIP" AND elementType = "relationship"
        |  AND NOT label in $EXCLUDED_LABELS
        |WITH label AS nodeLabels, collect({property:property, type:type}) AS properties
        |RETURN {type: nodeLabels, properties: properties} AS output""".stripMargin,
      excluded).asInstanceOf[CypherRows].df
    val rp = relProps
      .select(col("output.type").as("t"),
        explode(col("output.properties")).as("p"))
      .select(col("t"), col("p.property"), col("p.type"))
      .as[(String, String, String)].collect().toSet
    assert(rp === Set(("INTERESTED_IN", "since", "STRING")))
    // rel_query (topology), verbatim — UNWINDs the yielded end-label list
    val rels = sess.run(
      """CALL apoc.meta.data()
        |YIELD label, other, elementType, type, property
        |WHERE type = "RELATIONSHIP" AND elementType = "node"
        |UNWIND other AS other_node
        |WITH label, elementType, type, property, toString(other_node) AS other_node
        |WHERE NOT label IN $EXCLUDED_LABELS AND NOT other_node IN $EXCLUDED_LABELS
        |RETURN {start: label, type: property, end: other_node} AS output""".stripMargin,
      excluded).asInstanceOf[CypherRows].df
    val rl = rels.select(col("output.start"), col("output.type"),
        col("output.end"))
      .as[(String, String, String)].collect().toSet
    assert(rl === Set(("User", "INTERESTED_IN", "Tech"),
      ("User", "KNOWS", "User")))
  }

  /** (a:Tech)-[:NEXT {w:'2'}]->(b:Tech)-[:NEXT {w:'3'}]->(c:Tech). */
  private def chainSession = {
    val sess = freshSession
    sess.run("""MERGE (a:Tech {name: 'a'}) MERGE (b:Tech {name: 'b'})
               |MERGE (c:Tech {name: 'c'})
               |MERGE (a)-[:NEXT {w: '2'}]->(b)
               |MERGE (b)-[:NEXT {w: '3'}]->(c)""".stripMargin)
    sess
  }

  test("path lists, COUNT { } and pattern comprehensions compile nested in any expression position") {
    val sess = chainSession
    def rows(q: String): Seq[Row] =
      sess.run(q).asInstanceOf[CypherRows].df.collect().toSeq
    def col0(q: String): Seq[Any] = rows(q).map(_.get(0))
    val fromA = "MATCH p = (x:Tech {name: 'a'})-[:NEXT*1..2]->(y:Tech) "
    def byY(expr: String): Seq[Any] =
      rows(fromA + s"RETURN y.name AS name, $expr AS v ORDER BY name").map(_.get(1))
    // relationships()/nodes() inside a comprehension, a reduce, an UNWIND
    // source, a list literal and an ORDER BY key
    // (path relationship lists carry srcId/dstId/relType, no property bag)
    assert(byY("[r IN relationships(p) | r]").map(_.asInstanceOf[collection.Seq[Row]]
      .map(_.getAs[String]("relType"))) === Seq(Seq("NEXT"), Seq("NEXT", "NEXT")))
    assert(byY("reduce(s = 0, r IN relationships(p) | s + 1)") === Seq(1L, 2L))
    assert(col0(fromA + "UNWIND nodes(p) AS n RETURN count(*) AS k") === Seq(5L))
    assert(byY("[nodes(p)]").map(_.asInstanceOf[collection.Seq[collection.Seq[_]]].map(_.size)) ===
      Seq(Seq(2), Seq(3)))
    assert(col0(fromA + "RETURN y.name AS name ORDER BY size(relationships(p)) DESC") ===
      Seq("c", "b"))
    // COUNT { } / EXISTS { } / pattern comprehensions nested in lists, maps,
    // aggregates, comprehension bodies and ORDER BY keys
    val byName = "MATCH (n:Tech) RETURN n.name AS name, "
    val out = "COUNT { (n)-[:NEXT]->() }"
    assert(rows(byName + s"[$out] AS c ORDER BY name").map(_.getSeq[Long](1)) ===
      Seq(Seq(1L), Seq(1L), Seq(0L)))
    assert(col0(s"MATCH (n:Tech) RETURN sum($out) AS s") === Seq(2.0))
    assert(rows(byName + s"{c: $out} AS m ORDER BY name")
      .map(_.getStruct(1).getLong(0)) === Seq(1L, 1L, 0L))
    assert(rows(byName + s"[x IN [1] | $out] AS c ORDER BY name")
      .map(_.getSeq[Long](1)) === Seq(Seq(1L), Seq(1L), Seq(0L)))
    assert(col0(s"MATCH (n:Tech) RETURN n.name AS name ORDER BY $out DESC, n.name") ===
      Seq("a", "b", "c"))
    assert(col0(s"MATCH (n:Tech) WITH n ORDER BY $out DESC, n.name LIMIT 1 " +
      "RETURN n.name AS name") === Seq("a"))
    assert(col0("MATCH (n:Tech) RETURN n.name AS name " +
      "ORDER BY size([(n)-[:NEXT]->(m) | m.name]) DESC, n.name") === Seq("a", "b", "c"))
    // attached before a WITH that projects it away, read again after
    assert(rows(s"MATCH (n:Tech) WITH n WHERE $out > 0 RETURN n.name AS name, $out AS c " +
      "ORDER BY name").map(r => (r.getString(0), r.getLong(1))) === Seq(("a", 1L), ("b", 1L)))
    assert(rows(byName + "[EXISTS { (n)-[:NEXT]->() }] AS e ORDER BY name")
      .map(_.getSeq[Boolean](1)) === Seq(Seq(true), Seq(true), Seq(false)))
    // (map projection values render to strings, as the property bag's do)
    assert(rows(byName + "n {.name, out: [(n)-[:NEXT]->(m) | m.name]} AS m " +
      "ORDER BY name").map(_.getMap[String, String](1).toMap) === Seq(
        Map("name" -> "a", "out" -> "[b]"), Map("name" -> "b", "out" -> "[c]"),
        Map("name" -> "c", "out" -> "[]")))
    // an aggregate inside a CASE condition makes the item an aggregation
    assert(rows(byName + "CASE WHEN count(*) > 0 THEN 'y' ELSE 'n' END AS has ORDER BY name")
      .map(r => (r.getString(0), r.getString(1))) ===
      Seq(("a", "y"), ("b", "y"), ("c", "y")))
  }

  test("RETURN DISTINCT over node bindings dedups on node identity") {
    val sess = chainSession
    val ms = sess.run("MATCH (:Tech)-[:NEXT*1..2]->(m:Tech) RETURN DISTINCT m, m.name AS name " +
      "ORDER BY name").asInstanceOf[CypherRows].df.collect().toSeq
    assert(ms.map(_.getString(1)) === Seq("b", "c"))
    assert(ms.map(_.getStruct(0).getAs[String]("key")) === Seq("b", "c"))
    assert(sess.run("MATCH (n:Tech) RETURN DISTINCT n").asInstanceOf[CypherRows]
      .df.count() === 3)
  }
}
