package graft.graph

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class PropertyGraphSpec extends SparkTestBase {
  import spark.implicits._

  private def articleBatch = Seq(
    ("Article", "http://a/1", Map("title" -> "First article", "content" -> "body one")),
    ("Article", "http://a/2", Map("title" -> "Second article", "content" -> "body two")),
    ("Publisher", "Daily Planet", Map.empty[String, String])
  ).toDF("label", "key", "props")

  test("20 sequential merges keep plan depth O(1) via lineage auto-compaction") {
    def planNodes(g: PropertyGraph): Int =
      g.nodes.queryExecution.optimizedPlan.collect { case p => p }.size
    var g = PropertyGraph.empty(spark)
    val sizes = (1 to 20).map { i =>
      val batch = Seq(("Article", s"http://a/$i", Map("title" -> s"t$i")))
        .toDF("label", "key", "props")
      g = g.mergeNodes(batch)
      planNodes(g)
    }
    // auto-compaction cycles every maxMergeDepth merges, so no later plan is
    // ever deeper than the first cycle's peak (unbounded growth would make
    // every post-cycle size exceed it)
    val firstCycleMax = sizes.take(PropertyGraph.maxMergeDepth + 2).max
    sizes.drop(PropertyGraph.maxMergeDepth + 2).foreach(sz =>
      assert(sz <= firstCycleMax, s"plan depth grew without bound: $sizes"))
    assert(g.matchLabel("Article").count() === 20)
  }

  test("mergeNodes path-dependent SET: create_props on create, match_props on match") {
    val batch = Seq(
      ("User", "alice", Map.empty[String, String],
        Map("status" -> "new"), Map("status" -> "seen")))
      .toDF("label", "key", "props", "create_props", "match_props")
    val g1 = PropertyGraph.empty(spark).mergeNodes(batch)
    assert(g1.nodes.select("props").as[Map[String, String]].head()("status") === "new")
    val g2 = g1.mergeNodes(batch)
    assert(g2.nodes.select("props").as[Map[String, String]].head()("status") === "seen")
    assert(g2.nodes.count() === 1)
  }

  test("mergeNodes creates nodes once; re-merge is idempotent") {
    val g0 = PropertyGraph.empty(spark)
    val g1 = g0.mergeNodes(articleBatch)
    assert(g1.nodes.count() === 3)
    val g2 = g1.mergeNodes(articleBatch)
    assert(g2.nodes.count() === 3)
    // MERGE match-or-create: ids stable across merges
    val ids1 = g1.nodes.select("id").as[Long].collect().sorted
    val ids2 = g2.nodes.select("id").as[Long].collect().sorted
    assert(ids1 === ids2)
  }

  test("mergeNodes SET semantics: new props overwrite, old-only props survive") {
    val g1 = PropertyGraph.empty(spark).mergeNodes(articleBatch)
    val update = Seq(
      ("Article", "http://a/1", Map("title" -> "First article v2"))
    ).toDF("label", "key", "props")
    val g2 = g1.mergeNodes(update)
    assert(g2.nodes.count() === 3)
    val row = g2.nodes.filter($"key" === "http://a/1")
      .select("props").as[Map[String, String]].head()
    assert(row("title") === "First article v2")
    assert(row("content") === "body one") // unlisted prop retained
  }

  test("mergeNodeCounts reports created vs matched like the reference counters") {
    val g1 = PropertyGraph.empty(spark).mergeNodes(articleBatch)
    val (c0, m0) = PropertyGraph.empty(spark).mergeNodeCounts(articleBatch)
    assert((c0, m0) === (3L, 0L))
    val (c1, m1) = g1.mergeNodeCounts(articleBatch)
    assert((c1, m1) === (0L, 3L))
  }

  test("mergeEdges dedups and is idempotent; oneHop pattern join works") {
    val g = PropertyGraph.empty(spark)
      .mergeNodes(Seq(
        ("User", "Beomzh", Map.empty[String, String]),
        ("Tech", "GraphRAG", Map.empty[String, String])).toDF("label", "key", "props"))
    val edgeBatch = Seq(
      ("User", "Beomzh", "INTERESTED_IN", "Tech", "GraphRAG"),
      ("User", "Beomzh", "INTERESTED_IN", "Tech", "GraphRAG")
    ).toDF("srcLabel", "srcKey", "relType", "dstLabel", "dstKey")
    val g1 = g.mergeEdgesByKey(edgeBatch).mergeEdgesByKey(edgeBatch)
    assert(g1.edges.count() === 1)
    val hop = g1.oneHop("User", "INTERESTED_IN", "Tech")
    val r = hop.select("src_key", "dst_key").as[(String, String)].collect()
    assert(r.toSeq === Seq(("Beomzh", "GraphRAG")))
  }

  test("matchLabel + prop projection + limit mirrors the reference read-back") {
    val g = PropertyGraph.empty(spark).mergeNodes(articleBatch)
    val titles = g.matchLabel("Article")
      .select(col("props").getItem("title").as("title"))
      .orderBy("title").limit(5)
      .as[String].collect()
    assert(titles.toSeq === Seq("First article", "Second article"))
  }

  /** Random multi-publisher graph used by the degree-identity tests. */
  private def pubGraph: PropertyGraph = {
    val rnd = new scala.util.Random(7)
    val arts = (1 to 40).map(i => ("Article", s"http://a/$i", Map.empty[String, String]))
    val pubs = (1 to 5).map(i => ("Pub", s"p$i", Map.empty[String, String]))
    val edges = (1 to 40).map(i =>
      ("Article", s"http://a/$i", "WRITTEN_BY", "Pub", s"p${1 + rnd.nextInt(5)}"))
    PropertyGraph.empty(spark)
      .mergeNodes((arts ++ pubs).toDF("label", "key", "props"))
      .mergeEdgesByKey(edges.toDF("srcLabel", "srcKey", "relType", "dstLabel", "dstKey"))
  }

  test("siblingPairCounts ≡ grouped two-hop enumeration (degree identity)") {
    val g = pubGraph
    val enumerated = g.twoHopVia("Article", "WRITTEN_BY", "Pub", "WRITTEN_BY", "Article")
      .filter(col("a_key") < col("c_key"))
      .groupBy(col("b_key")).agg(count(lit(1)).as("n_pairs"))
      .as[(String, Long)].collect().toMap
    val identity = g.siblingPairCounts("Article", "WRITTEN_BY", "Pub")
      .select("b_key", "n_pairs").as[(String, Long)].collect().toMap
    assert(identity === enumerated)
    // anchored form restricts to the anchor's row and agrees too
    val anchored = g.siblingPairCounts("Article", "WRITTEN_BY", "Pub", Some("p1"))
      .select("b_key", "n_pairs").as[(String, Long)].collect().toMap
    assert(anchored === enumerated.filter(_._1 == "p1"))
  }

  test("siblingPairCounts carries parallel-edge multiplicity exactly") {
    // hand-built edges DataFrame with a doubled edge: enumeration counts
    // each edge combination, and (S1²−S2)/2 must match that — not C(deg,2)
    val g0 = pubGraph
    val doubled = g0.edges.unionByName(g0.edges.limit(1))
    val g = PropertyGraph(g0.nodes, doubled)
    val enumerated = g.twoHopVia("Article", "WRITTEN_BY", "Pub", "WRITTEN_BY", "Article")
      .filter(col("a_key") < col("c_key"))
      .groupBy(col("b_key")).agg(count(lit(1)).as("n_pairs"))
      .as[(String, Long)].collect().toMap
    val identity = g.siblingPairCounts("Article", "WRITTEN_BY", "Pub")
      .select("b_key", "n_pairs").as[(String, Long)].collect().toMap
    assert(identity === enumerated)
  }

  test("siblingPairsTopK lists the k smallest pairs, matching full enumeration") {
    val g = pubGraph
    val full = g.twoHopVia("Article", "WRITTEN_BY", "Pub", "WRITTEN_BY", "Article")
      .filter(col("a_key") < col("c_key")).filter(col("b_key") === "p2")
      .select("a_key", "c_key").as[(String, String)].collect().sorted.take(7)
    val topk = g.siblingPairsTopK("Article", "WRITTEN_BY", "Pub", "p2", 7)
      .select("a_key", "c_key").as[(String, String)].collect().toSeq
    assert(topk === full.toSeq)
  }
}
