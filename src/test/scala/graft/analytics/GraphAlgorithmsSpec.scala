package graft.analytics

import graft.SparkTestBase
import graft.graph.PropertyGraph
import org.apache.spark.sql.functions._

class GraphAlgorithmsSpec extends SparkTestBase {
  import spark.implicits._

  /** star: 3 articles → 1 publisher; plus an isolated pair u→t. */
  private def graph: PropertyGraph = {
    val nodes = Seq(
      ("Article", "a1"), ("Article", "a2"), ("Article", "a3"),
      ("Publisher", "p1"),
      ("User", "u1"), ("Tech", "t1")
    ).map { case (l, k) => (l, k, Map.empty[String, String]) }
      .toDF("label", "key", "props")
    val edges = Seq(
      ("Article", "a1", "WRITTEN_BY", "Publisher", "p1"),
      ("Article", "a2", "WRITTEN_BY", "Publisher", "p1"),
      ("Article", "a3", "WRITTEN_BY", "Publisher", "p1"),
      ("User", "u1", "INTERESTED_IN", "Tech", "t1")
    ).toDF("srcLabel", "srcKey", "relType", "dstLabel", "dstKey")
    PropertyGraph.empty(spark).mergeNodes(nodes).mergeEdgesByKey(edges)
  }

  /** Spark's own GraphX view of a property graph — the reference the
    * DataFrame algorithms are checked against. */
  private def graphX(g: PropertyGraph): org.apache.spark.graphx.Graph[Int, Int] =
    org.apache.spark.graphx.Graph(
      g.nodes.select($"id").as[Long].rdd.map(id => (id, 1)),
      g.edges.select($"srcId", $"dstId").as[(Long, Long)].rdd
        .map { case (s, d) => org.apache.spark.graphx.Edge(s, d, 1) })

  test("reliable iteration checkpointing: identical results, guarded setup") {
    // VERDICT r8 #4: the iterative seams default to executor-local
    // checkpoints; spark.graft.iterCheckpoint=reliable routes the SAME
    // boundaries through setCheckpointDir-backed reliable checkpoints so
    // a lost executor cannot kill a mid-flight iteration. Semantics must
    // be untouched: LPA and CC rerun under reliable mode must match the
    // default exactly.
    val rnd = new scala.util.Random(23)
    val edges = Seq.fill(80)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
      .filter(p => p._1 != p._2).toDF("u", "v")
    val ids = edges.select(col("u").as("id"))
      .union(edges.select(col("v").as("id"))).distinct()
    val lpaDefault = GraphAlgorithms.labelPropagation(edges, rounds = 4)
      .as[(Long, Long)].collect().toMap
    val ccDefault = GraphAlgorithms.alternatingComponents(ids, edges)
      .as[(Long, Long)].collect().toMap
    // reliable mode without a checkpoint dir fails with a clear message
    spark.conf.set(IterCheckpoint.ModeKey, "reliable")
    try {
      if (spark.sparkContext.getCheckpointDir.isEmpty) {
        val err = intercept[IllegalArgumentException](
          GraphAlgorithms.labelPropagation(edges, rounds = 2).collect())
        assert(err.getMessage.contains("setCheckpointDir"))
      }
      val dir = java.nio.file.Files.createTempDirectory("graft_relck").toString
      spark.sparkContext.setCheckpointDir(dir)
      val lpaReliable = GraphAlgorithms.labelPropagation(edges, rounds = 4)
        .as[(Long, Long)].collect().toMap
      val ccReliable = GraphAlgorithms.alternatingComponents(ids, edges)
        .as[(Long, Long)].collect().toMap
      assert(lpaReliable === lpaDefault)
      assert(ccReliable === ccDefault)
      // the reliable blocks actually landed in the fault-tolerant dir
      assert(java.nio.file.Files.list(java.nio.file.Paths.get(dir))
        .toArray.nonEmpty)
    } finally spark.conf.set(IterCheckpoint.ModeKey, "local")
  }

  test("nodeSimilarityTopK equals the naive window over the full pair stream") {
    // The work-bounded plan (closed-form degree-1 paths + multi-degree
    // residue join) must be EXACT: same pairs, same similarities, same
    // (similarity DESC, key ASC) top-k selection as windowing the full
    // nodeSimilarity stream — on star-heavy, random, and mixed graphs.
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.expressions.Window
    def naive(edges: DataFrame, k: Int): Set[(Long, Long, Double)] = {
      val pairs = GraphAlgorithms.nodeSimilarity(edges, minScore = 1e-42)
      val sym = pairs.select(col("n1").as("key1"), col("n2").as("key2"),
          col("jaccard").as("similarity"))
        .unionByName(pairs.select(col("n2").as("key1"), col("n1").as("key2"),
          col("jaccard").as("similarity")))
      val w = Window.partitionBy("key1")
        .orderBy(col("similarity").desc, col("key2"))
      sym.withColumn("__rn", row_number().over(w)).filter(col("__rn") <= k)
        .select("key1", "key2", "similarity")
        .as[(Long, Long, Double)].collect()
        .map { case (a, b, s) => (a, b, math.rint(s * 1e9) / 1e9) }.toSet
    }
    def bounded(edges: DataFrame, k: Int): Set[(Long, Long, Double)] =
      GraphAlgorithms.nodeSimilarityTopK(edges, k, minScore = 1e-42)
        .as[(Long, Long, Double)].collect()
        .map { case (a, b, s) => (a, b, math.rint(s * 1e9) / 1e9) }.toSet
    // star-heavy bipartite shape (the c48 blow-up class): 40 sources over
    // 3 hubs, some sources multi-hub
    val star = (0L until 40L).map(i => (i, 100L + i % 3)) ++
      (0L until 8L).map(i => (i, 100L + (i + 1) % 3))
    // random general digraph incl. hub-shared and disjoint regions
    val rnd = new scala.util.Random(7)
    val random = Seq.fill(120)((rnd.nextInt(30).toLong, 200L + rnd.nextInt(12).toLong))
    for (shape <- Seq(star, random); k <- Seq(1, 3, 10)) {
      val edges = shape.toDF("src", "dst")
      assert(bounded(edges, k) === naive(edges, k),
        s"mismatch at k=$k on ${if (shape eq star) "star" else "random"} graph")
    }
  }

  test("connected components split star from isolated pair") {
    val comp = GraphAlgorithms.componentSummary(graph)
      .orderBy("min_key")
      .as[(String, Long)].collect().toSeq
    assert(comp.map(_._2).sorted === Seq(2L, 4L))
  }

  test("componentSummary: a 120-node directed chain is one component") {
    // node ids are key hashes, so hop distance from the min id is unrelated
    // to chain position: some node sits ≥ 60 hops from the min id, past
    // any fixed propagation-round budget of 50
    val nodes = (0 until 120).map(i => ("N", s"c$i", Map.empty[String, String]))
      .toDF("label", "key", "props")
    val edges = (0 until 119).map(i => ("N", s"c$i", "NEXT", "N", s"c${i + 1}"))
      .toDF("srcLabel", "srcKey", "relType", "dstLabel", "dstKey")
    val chain = PropertyGraph.empty(spark).mergeNodes(nodes).mergeEdgesByKey(edges)
    val comp = GraphAlgorithms.componentSummary(chain)
      .as[(String, Long)].collect().toSeq
    assert(comp === Seq(("c0", 120L)))
  }

  test("DataFrame CC agrees with Pregel CC, including on a chain graph") {
    // chain c1→c2→c3→c4 stresses multi-iteration propagation (diameter 3)
    val nodes = (1 to 4).map(i => ("N", s"c$i", Map.empty[String, String]))
      .toDF("label", "key", "props")
    val edges = (1 to 3).map(i => ("N", s"c$i", "NEXT", "N", s"c${i + 1}"))
      .toDF("srcLabel", "srcKey", "relType", "dstLabel", "dstKey")
    val chain = PropertyGraph.empty(spark).mergeNodes(nodes).mergeEdgesByKey(edges)
    for (g <- Seq(graph, chain)) {
      val keyOf = g.nodes.select($"id", $"key").as[(Long, String)].collect().toMap
      val pregel = graphX(g).connectedComponents().vertices.collect()
        .map { case (id, comp) => keyOf(id) -> comp }.toMap
      val df = GraphAlgorithms.connectedComponents(g)
        .select($"key", $"component").as[(String, Long)].collect().toMap
      // both label by the min member id; compare the partitions anyway
      val byPregel = pregel.groupBy(_._2).values.map(_.keys.toSet).toSet
      val byDf = df.groupBy(_._2).values.map(_.keys.toSet).toSet
      assert(byPregel === byDf)
    }
  }

  test("alternating CC equals label propagation on chains, rings, stars, random graphs") {
    // high-diameter shapes are the algorithm's reason to exist: a 40-node
    // chain converges in ~log rounds where propagation needs 40
    val cases: Seq[(Seq[Long], Seq[(Long, Long)])] = Seq(
      // 40-chain (diameter 39) with two isolated ids
      ((0L to 41L), (0L until 39L).map(i => (i, i + 1))),
      // ring of 16
      ((0L to 15L), (0L to 15L).map(i => (i, (i + 1) % 16))),
      // two stars sharing nothing + dup/self-loop noise
      ((0L to 11L), Seq((0L, 1L), (0L, 2L), (0L, 3L), (10L, 11L), (10L, 11L), (5L, 5L))),
      // deterministic pseudo-random graph
      ((0L to 99L), (1 to 120).map { i =>
        val a = (i * 7919L) % 100; val b = (i * 104729L) % 100; (a, b)
      })
    ).map { case (ids, es) => (ids.toSeq, es) }
    for ((ids, es) <- cases) {
      val idsDf = ids.toDF("id")
      val pairs = es.toDF("a", "b")
      val alt = GraphAlgorithms.alternatingComponents(idsDf, pairs)
        .as[(Long, Long)].collect().toMap
      // pure min-label propagation: the prefix reaches its fixpoint within
      // 200 rounds on every case here, so no alternating round runs
      val prop = GraphAlgorithms.alternatingComponents(idsDf, pairs,
          propPrefixRounds = 200)
        .as[(Long, Long)].collect().toMap
      assert(alt === prop) // both label by min reachable id — exact equality
    }
  }

  test("kCorePeel: hand-checked 2-core; fixture 3-core reaches fixpoint in budget") {
    // K4 on {0,1,2,3} + a pendant path 3-4-5: 2-core = the K4 (node 4
    // survives round 1 with deg 2, dies round 2 after 5 is peeled)
    val k4 = (for (i <- 0 to 3; j <- i + 1 to 3) yield (i.toLong, j.toLong)) ++
      Seq((3L, 4L), (4L, 5L))
    val core2 = GraphAlgorithms.kCorePeel(k4.toDF("u", "v"), k = 2, rounds = 3)
      .as[Long].collect().toSet
    assert(core2 === Set(0L, 1L, 2L, 3L))
    // x14's input at the smallest fixture: 3 rounds is at fixpoint
    val orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    val e = orders.join(li, $"o_orderkey" === $"l_orderkey")
      .select(concat(lit("c"), $"o_custkey").as("u"),
        concat(lit("s"), $"l_suppkey").as("v")).distinct()
    val r3 = GraphAlgorithms.kCorePeel(e, 3, 3).as[String].collect().toSet
    val r4 = GraphAlgorithms.kCorePeel(e, 3, 4).as[String].collect().toSet
    assert(r3 === r4)
    assert(r3.nonEmpty)
  }

  test("pagerank: sink publisher accumulates rank from its articles") {
    val pr = GraphAlgorithms.pageRank(graph, numIter = 20)
      .select($"key", $"rank").as[(String, Double)].collect().toMap
    // final ranks are rescaled to the vertex count; relative structure is
    // what's invariant:
    // symmetric leaves tie exactly, and the publisher sink holds
    // (0.15 + 0.85*3*0.15) / 0.15 = 3.55x a leaf's rank.
    assert(pr("a1") === pr("a2"))
    assert(pr("a2") === pr("a3"))
    assert(math.abs(pr("p1") / pr("a1") - 3.55) < 1e-6)
    assert(pr("p1") > pr("t1") && pr("t1") > pr("a1"))
  }

  test("DataFrame PageRank matches GraphX staticPageRank to 1e-9") {
    val keyOf = graph.nodes.select($"id", $"key").as[(Long, String)].collect().toMap
    val gx = graphX(graph).staticPageRank(15, 0.15).vertices.collect()
      .map { case (id, rank) => keyOf(id) -> rank }.toMap
    val df = GraphAlgorithms.pageRank(graph, numIter = 15)
      .select($"key", $"rank").as[(String, Double)].collect().toMap
    assert(gx.keySet === df.keySet)
    gx.foreach { case (k, r) => assert(math.abs(r - df(k)) < 1e-9, s"key=$k $r vs ${df(k)}") }
  }

  test("shortest paths: articles one hop from publisher landmark") {
    // BFS from the landmark over the REVERSED edges = hops toward it
    val pubId = graph.matchLabel("Publisher").select("id").as[Long].head()
    val keyOf = graph.nodes.select($"id", $"key").as[(Long, String)].collect().toMap
    val sp = GraphAlgorithms.hopDistances(Seq(pubId).toDF("id"),
        graph.edges.select($"dstId", $"srcId"))
      .select($"v", $"dist").as[(Long, Long)].collect()
      .map { case (v, d) => keyOf(v) -> d }.toMap
    assert(sp === Map("a1" -> 1L, "a2" -> 1L, "a3" -> 1L))
    // the landmark itself (0 hops) and u1 (no path to it) are absent
  }

  test("weightedSSSP: multi-hop cheap route beats the direct heavy edge") {
    // 0→3 direct costs 10; 0→1→2→3 costs 1+1+1 = 3; node 4 unreachable
    // within the round bound from 0's component; 5 is disconnected
    val edges = Seq(
      (0L, 3L, 10L), (0L, 1L, 1L), (1L, 2L, 1L), (2L, 3L, 1L),
      (3L, 4L, 2L), (5L, 0L, 1L)
    ).toDF("src", "dst", "w")
    val d = GraphAlgorithms.weightedSSSP(edges, source = 0L, Superstep.StopAfter(6))
      .as[(Long, Long)].collect().toMap
    assert(d === Map(0L -> 0L, 1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 5L))
    // a 1-round bound only sees direct edges
    val d1 = GraphAlgorithms.weightedSSSP(edges, source = 0L, Superstep.StopAfter(1))
      .as[(Long, Long)].collect().toMap
    assert(d1 === Map(0L -> 0L, 1L -> 1L, 3L -> 10L))
    // the fixpoint form: a budget that ends with distances still improving
    // fails loudly instead of returning them
    val e = intercept[IllegalStateException](GraphAlgorithms.weightedSSSP(edges,
      source = 0L, Superstep.FailAfter(2, _ => "sssp budget spent")).collect())
    assert(e.getMessage === "sssp budget spent")
    assert(GraphAlgorithms.weightedSSSP(edges, source = 0L,
      Superstep.FailAfter(6, _ => "sssp budget spent")).as[(Long, Long)]
      .collect().toMap === d)
  }

  test("betweenness: path center 2.0, star center k(k-1), triangle all 0") {
    import org.apache.spark.sql.DataFrame
    def bc(edges: Seq[(Long, Long)], sources: Seq[Long]): Map[Long, Double] = {
      val e: DataFrame = edges.toDF("src", "dst")
      GraphAlgorithms.betweennessFromSources(e, sources.toDF("s"))
        .as[(Long, Double)].collect().toMap
    }
    // path a(1)-b(2)-c(3), all sources: only b lies between → 2.0 (1→3, 3→1)
    val path = bc(Seq((1L, 2L), (2L, 3L)), Seq(1L, 2L, 3L))
    assert(path.getOrElse(2L, 0.0) === 2.0)
    assert(path.getOrElse(1L, 0.0) === 0.0 && path.getOrElse(3L, 0.0) === 0.0)
    // star: center 10, leaves 1..3, leaf sources: center = k(k-1) = 6
    val star = bc(Seq((1L, 10L), (2L, 10L), (3L, 10L)), Seq(1L, 2L, 3L))
    assert(star.getOrElse(10L, 0.0) === 6.0)
    assert((1L to 3L).forall(l => star.getOrElse(l, 0.0) === 0.0))
    // triangle: every pair adjacent → nothing lies between
    val tri = bc(Seq((1L, 2L), (2L, 3L), (1L, 3L)), Seq(1L, 2L, 3L))
    assert(tri.values.forall(_ === 0.0), tri.toString)
    // diamond 1-2-4, 1-3-4: two tying paths split the dependency — 0.5 each
    val dia = bc(Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L)), Seq(1L, 4L))
    assert(dia.getOrElse(2L, 0.0) === 1.0, dia.toString) // 0.5 per direction
    assert(dia.getOrElse(3L, 0.0) === 1.0)
  }

  test("labelPropagation: pinned tie-breaks; triangle collapses; star alternates") {
    // triangle {1,2,3}: round 1 sends every node its min neighbor
    // (1→2, 2→1, 3→1); round 2 makes label 1 dominant everywhere
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("u", "v")
    val triOut = GraphAlgorithms.labelPropagation(tri, rounds = 2)
      .as[(Long, Long)].collect().toMap
    assert(triOut === Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
    // star leaves {1,2,3} around center 5: synchronous LPA alternates —
    // round 1: center adopts min leaf (1), leaves adopt center (5);
    // round 2: center sees only label 5, leaves see only label 1.
    // The FIXED round budget makes that a pinned, assertable function.
    val star = Seq((5L, 1L), (5L, 2L), (5L, 3L)).toDF("u", "v")
    val starOut = GraphAlgorithms.labelPropagation(star, rounds = 2)
      .as[(Long, Long)].collect().toMap
    assert(starOut === Map(5L -> 5L, 1L -> 1L, 2L -> 1L, 3L -> 1L))
    // determinism: a re-run is bit-identical (classic LPA would not be)
    val again = GraphAlgorithms.labelPropagation(star, rounds = 2)
      .as[(Long, Long)].collect().toMap
    assert(again === starOut)
  }

  test("labelPropagation round-1 min fast path equals the general mode form") {
    // the optimized rounds — round-1 min aggregate, the one-exchange mode
    // round, the frontier/delta rounds ≥ 3 (VERDICT r8 #3), and the
    // converged early-exit — must be indistinguishable from the general
    // full-recompute mode aggregate on arbitrary graphs: fixed-seed random
    // graphs + a chain + a clique + a star (period-2 oscillator: its
    // frontier never shrinks, exercising the full-frontier path), at
    // round budgets through 5 (1-2 full, 3+ frontier; the clique
    // converges early and must still report the fixpoint)
    val rnd = new scala.util.Random(11)
    val shapes = Seq(
      (1 to 19).map(i => (i.toLong, (i + 1).toLong)),                // chain
      (for (a <- 1 to 8; b <- a + 1 to 8) yield (a.toLong, b.toLong)), // K8
      (2 to 12).map(i => (1L, i.toLong)),                            // star
      Seq.fill(60)((rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
        .filter(p => p._1 != p._2))                                  // random
    for (edges <- shapes; rounds <- Seq(1, 2, 3, 4, 5)) {
      val df = edges.toDF("u", "v")
      val fast = GraphAlgorithms.labelPropagation(df, rounds)
        .as[(Long, Long)].collect().toMap
      val general = GraphAlgorithms.labelPropagationGeneral(df, rounds)
        .as[(Long, Long)].collect().toMap
      assert(fast === general, s"rounds=$rounds edges=$edges")
    }
  }

  test("personalizedPageRank: chain ranks match hand-computed fixpoint; mass is bounded") {
    // a→b→c, sources {a}: after ≥2 iters a=0.15, b=0.85·0.15,
    // c=0.85·0.85·0.15·… — iter 3 exact values below
    val e = Seq(("a", "b"), ("b", "c")).toDF("src", "dst")
    val src = Seq("a").toDF("id")
    val r = GraphAlgorithms.personalizedPageRank(e, src, iters = 3)
      .as[(String, Double)].collect().toMap
    assert(math.abs(r("a") - 0.15) < 1e-12)
    assert(math.abs(r("b") - 0.85 * 0.15) < 1e-12)
    assert(math.abs(r("c") - 0.85 * 0.85 * 0.15) < 1e-12)
    // dangling node c drops its outflow: total mass stays ≤ 1
    assert(r.values.sum <= 1.0 + 1e-12)
    // rank vector stays sparse: only reached vertices appear
    val far = Seq(("a", "b"), ("b", "c"), ("x", "y")).toDF("src", "dst")
    val sparse = GraphAlgorithms.personalizedPageRank(far, src, iters = 3)
      .as[(String, Double)].collect().toMap
    assert(!sparse.contains("x") && !sparse.contains("y"))
  }

  test("eigenvectorCentrality: cycle is uniform; chord concentrates score") {
    // directed 3-cycle: every node has in-degree 1 → all scores stay 1
    val cyc = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val c1 = GraphAlgorithms.eigenvectorCentrality(cyc, rounds = 3)
      .as[(Long, Double)].collect().toMap
    assert(c1 === Map(1L -> 1.0, 2L -> 1.0, 3L -> 1.0))
    // add chord 1→3: integer walk counts after 3 rounds are
    // s3 = (2, 2, 3) for nodes (1, 2, 3) → centrality (2/3, 2/3, 1)
    val chord = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L)).toDF("src", "dst")
    val c2 = GraphAlgorithms.eigenvectorCentrality(chord, rounds = 3)
      .as[(Long, Double)].collect().toMap
    assert(c2 === Map(1L -> 2.0 / 3.0, 2L -> 2.0 / 3.0, 3L -> 1.0))
  }

  test("fastRPEmbedding: md5-sparse init, hop sums hand-verified on K2 and triangle") {
    val k2 = Seq(("a", "b")).toDF("u", "v")
    def run(rounds: Int) = GraphAlgorithms.fastRPEmbedding(k2, dim = 4, rounds)
      .collect().map(r => r.getString(0) -> (1 to 4).map(r.getLong)).toMap
    val r0 = run(0)
    // init components are the ±1-sparse family
    assert(r0.values.flatten.forall(x => x >= -1L && x <= 1L))
    // one hop on K2 swaps the two vectors; two hops restore them
    val r1 = run(1)
    assert(r1("a") === r0("b") && r1("b") === r0("a"))
    assert(run(2) === r0)
    // triangle: one hop = exact integer sum of the other two inits
    val tri = Seq(("a", "b"), ("b", "c"), ("a", "c")).toDF("u", "v")
    def runT(rounds: Int) = GraphAlgorithms.fastRPEmbedding(tri, dim = 4, rounds)
      .collect().map(r => r.getString(0) -> (1 to 4).map(r.getLong)).toMap
    val t0 = runT(0); val t1 = runT(1)
    for (n <- Seq("a", "b", "c")) {
      val others = Seq("a", "b", "c").filterNot(_ == n)
      val want = (0 to 3).map(j => others.map(o => t0(o)(j)).sum)
      assert(t1(n) === want)
    }
  }

  test("hits: bipartite hub/authority decomposition hand-verified") {
    // h1→{a1,a2}, h2→{a1}: integer rounds give a2 = (5, 3) on
    // authorities, h2 = (8, 5) on hubs → normalized exactly
    val e = Seq(("h1", "a1"), ("h1", "a2"), ("h2", "a1")).toDF("src", "dst")
    val r = GraphAlgorithms.hits(e, rounds = 2)
      .as[(String, Double, Double)].collect()
      .map(t => t._1 -> ((t._2, t._3))).toMap
    assert(r("a1") === ((1.0, 0.0)))
    assert(r("a2") === ((3.0 / 5.0, 0.0)))
    assert(r("h1") === ((0.0, 1.0)))
    assert(r("h2") === ((0.0, 5.0 / 8.0)))
  }

  test("nodeSimilarity: Jaccard over out-neighbor sets, no-overlap pairs absent") {
    // a: {x,y,z}  b: {x,y}    → 2/3
    // c: {x}                  → with a: 1/3, with b: 1/2
    // d: {q}                  → shares nothing — must emit NO row
    // duplicate edges must not inflate intersection or degree
    val edges = Seq(
      ("a", "x"), ("a", "y"), ("a", "z"), ("b", "x"), ("b", "y"),
      ("c", "x"), ("c", "x"), ("d", "q")
    ).toDF("src", "dst")
    val sim = GraphAlgorithms.nodeSimilarity(edges)
      .as[(String, String, Double)].collect()
      .map { case (n1, n2, j) => ((n1, n2), j) }.toMap
    assert(sim === Map(
      ("a", "b") -> 2.0 / 3.0, ("a", "c") -> 1.0 / 3.0, ("b", "c") -> 0.5))
    // minScore prunes the tail before the result shuffle
    val pruned = GraphAlgorithms.nodeSimilarity(edges, minScore = 0.5)
      .as[(String, String, Double)].collect().map(t => (t._1, t._2)).toSet
    assert(pruned === Set(("a", "b"), ("b", "c")))
  }

  test("round-10: coreDecomposition matches the k-by-k peel on mixed structure") {
    // 4-clique (coreness 3) + 5-cycle (2) + 3-chain (1) + isolated node (0)
    val clique = for { a <- 0 to 3; b <- a + 1 to 3 } yield (s"q$a", s"q$b")
    val cycle = (0 until 5).map(i => (s"c$i", s"c${(i + 1) % 5}"))
    val chain = Seq(("h0", "h1"), ("h1", "h2"))
    val pairs = (clique ++ cycle ++ chain).toDF("u", "v")
    val ids = (clique ++ cycle ++ chain)
      .flatMap(p => Seq(p._1, p._2)).distinct
      .concat(Seq("iso")).toDF("id")
    val core = GraphAlgorithms.coreDecomposition(ids, pairs)
      .as[(String, Long)].collect().toMap
    assert((0 to 3).forall(i => core(s"q$i") === 3L))
    assert((0 until 5).forall(i => core(s"c$i") === 2L))
    assert(Seq("h0", "h1", "h2").forall(core(_) === 1L))
    assert(core("iso") === 0L)
    // cross-check: the k-core membership from the peel == nodes with
    // coreness >= k, for every k the fixture exercises
    for (k <- 1 to 3) {
      val peel = GraphAlgorithms.kCorePeel(pairs, k, rounds = 6)
        .as[String].collect().toSet
      val byCore = core.filter(_._2 >= k).keySet
      assert(peel === byCore, s"k=$k")
    }
  }

  test("round-10: louvain local moving finds the cliques; singletons merge, never swap") {
    // two 4-cliques joined by one bridge + an isolated node: the bridge
    // must NOT merge the cliques, the isolated node stays a singleton
    val cliqueA = for { a <- 0 to 3; b <- a + 1 to 3 } yield (s"a$a", s"a$b")
    val cliqueB = for { a <- 0 to 3; b <- a + 1 to 3 } yield (s"b$a", s"b$b")
    val pairs = (cliqueA ++ cliqueB :+ (("a3", "b0"))).toDF("u", "v")
    val ids = ((0 to 3).flatMap(i => Seq(s"a$i", s"b$i")) :+ "zz").toDF("id")
    val lv = GraphAlgorithms.louvainLocalMoving(ids, pairs, rounds = 10)
      .as[(String, String)].collect().toMap
    assert((0 to 3).forall(i => lv(s"a$i") == "a0"), lv)
    assert((0 to 3).forall(i => lv(s"b$i") == "b0"), lv)
    assert(lv("zz") == "zz")
    // triangle pair + bridge — the exact structure where UNGUARDED
    // synchronous moving oscillates (two degree-equal singletons pick each
    // other and swap forever); the min-label admissibility rule must land
    // both triangles instead
    val tri = Seq(("a", "b"), ("b", "c"), ("a", "c"),
      ("d", "e"), ("e", "f"), ("d", "f"), ("c", "d")).toDF("u", "v")
    val ids2 = Seq("a", "b", "c", "d", "e", "f").toDF("id")
    val lv2 = GraphAlgorithms.louvainLocalMoving(ids2, tri, rounds = 10)
      .as[(String, String)].collect().toMap
    assert(lv2 === Map("a" -> "a", "b" -> "a", "c" -> "a",
      "d" -> "d", "e" -> "d", "f" -> "d"))
  }

  test("round-10: coreDecomposition fails loudly when erosion exceeds the budget") {
    // a 9-chain needs ~4 h-index rounds to erode interior 2-estimates to 1
    val chain = (0 until 8).map(i => (s"n$i", s"n${i + 1}")).toDF("u", "v")
    val ids = (0 to 8).map(i => s"n$i").toDF("id")
    val e = intercept[IllegalStateException](
      GraphAlgorithms.coreDecomposition(ids, chain, maxRounds = 1))
    assert(e.getMessage.contains("did not converge"), e.getMessage)
  }

  test("round-10: hopDistancesAllPairs — undirected distances, loud depth cap") {
    val edges = Seq(("a", "b"), ("b", "c")).toDF("src", "dst")
    val nodes = Seq("a", "b", "c", "iso").toDF("id")
    // both orientations = the undirected view, every node a source
    val undirected = edges.unionByName(edges.select($"dst".as("src"), $"src".as("dst")))
    val d = GraphAlgorithms.hopDistances(nodes, undirected)
      .as[(String, String, Long)].collect()
      .map(t => (t._1, t._2) -> t._3).toMap
    assert(d === Map(("a", "b") -> 1L, ("b", "a") -> 1L, ("b", "c") -> 1L,
      ("c", "b") -> 1L, ("a", "c") -> 2L, ("c", "a") -> 2L))
    // directed: one source, one orientation — from "c" the edges reach "b"
    // and "a"; "iso" (whose edge points INTO "c") is absent, and the sink
    // "a" reaches nothing
    val directed = Seq(("c", "b"), ("b", "a"), ("iso", "c")).toDF("src", "dst")
    val fromC = GraphAlgorithms.hopDistances(Seq("c").toDF("id"), directed)
      .as[(String, String, Long)].collect().toSet
    assert(fromC === Set(("c", "b", 1L), ("c", "a", 2L)))
    assert(GraphAlgorithms.hopDistances(Seq("a").toDF("id"), directed)
      .count() === 0L)
    val e = intercept[IllegalStateException](
      GraphAlgorithms.hopDistances(nodes, undirected, maxDepth = 1))
    assert(e.getMessage.contains("deeper than the budget"), e.getMessage)
  }

  test("round-10: betweennessFromSources requireExhausted fails on truncation") {
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "d")).toDF("src", "dst")
    val sources = Seq("a").toDF("s")
    val e = intercept[IllegalStateException](
      GraphAlgorithms.betweennessFromSources(edges, sources, maxDepth = 1,
        requireExhausted = true))
    assert(e.getMessage.contains("still expanding"), e.getMessage)
    // same call with the budget sized to the graph is the exact answer —
    // exhaustion needs diameter+1 rounds (the last round proves the
    // frontier empty). On the path a-b-c-d from source a, b lies on 2
    // shortest paths.
    val bc = GraphAlgorithms.betweennessFromSources(edges, sources,
        maxDepth = 4, requireExhausted = true)
      .as[(String, Double)].collect().toMap
    assert(bc("b") === 2.0 && bc("c") === 1.0 && bc("d") === 0.0)
  }

  test("sccColoringDF equals brute-force reachability; loud when maxRounds is too small") {
    // SCC(v) = the vertices v reaches that also reach v; label = min id
    def reference(ids: Seq[Long], edges: Seq[(Long, Long)]): Map[Long, Long] = {
      val out = edges.groupBy(_._1).map { case (u, es) => u -> es.map(_._2) }
      def reach(v: Long): Set[Long] = {
        var seen = Set(v); var todo = List(v)
        while (todo.nonEmpty) {
          val u = todo.head; todo = todo.tail
          out.getOrElse(u, Nil).filterNot(seen).foreach { w =>
            seen += w; todo ::= w }
        }
        seen
      }
      val r = ids.map(v => v -> reach(v)).toMap
      ids.map(v => v -> r(v).filter(w => r(w).contains(v)).min).toMap
    }
    def scc(ids: Seq[Long], edges: Seq[(Long, Long)], maxRounds: Int = 30) =
      GraphAlgorithms.sccColoringDF(ids.toDF("id"), edges.toDF("src", "dst"),
        maxRounds).as[(Long, Long)].collect().toMap
    def check(ids: Seq[Long], edges: Seq[(Long, Long)]): Unit =
      assert(scc(ids, edges) === reference(ids, edges), s"edges: $edges")
    // seeded random digraphs, sparse enough to leave trimmable tails and
    // dense enough to form multi-vertex SCCs
    for (seed <- Seq(3, 11, 29)) {
      val rnd = new scala.util.Random(seed)
      check((0L until 24L), Seq.fill(36)((rnd.nextInt(24).toLong, rnd.nextInt(24).toLong)))
    }
    // a chain of 3-cycles whose ids fall along the chain: the max color
    // floods every cycle downstream, so each outer round peels only the
    // most upstream cycle — three rounds — and the tail 100 → 101 is
    // trimmed
    val cycles = Seq(20L, 10L, 0L).flatMap(b =>
      Seq((b, b + 1), (b + 1, b + 2), (b + 2, b)))
    val chain = cycles ++ Seq((21L, 11L), (12L, 2L), (0L, 100L), (100L, 101L))
    val chainIds = cycles.map(_._1) ++ Seq(100L, 101L)
    check(chainIds, chain)
    val e = intercept[IllegalStateException](scc(chainIds, chain, maxRounds = 1))
    assert(e.getMessage.contains("6 vertices unresolved after 1 rounds"), e.getMessage)
    // a self-loop is no cycle of two; an isolated vertex is its own SCC
    check(Seq(1L, 2L, 3L, 4L), Seq((1L, 1L), (2L, 3L), (3L, 2L)))
    // empty input: no rows, the (id, component) schema
    val empty = GraphAlgorithms.sccColoringDF(Seq.empty[Long].toDF("id"),
      Seq.empty[(Long, Long)].toDF("src", "dst"))
    assert(empty.columns.toSeq === Seq("id", "component"))
    assert(empty.count() === 0L)
  }

  test("one Spark action per superstep: hop BFS and core decomposition job counts") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    // A superstep is ONE action on its pin: one SQL execution. AQE runs
    // each of that execution's exchanges and broadcasts as a job of its
    // own under the same execution id, so the listener counts both the
    // jobs and the distinct execution ids of a block.
    def jobs(body: => Unit): (Int, Int) = {
      val sc = spark.sparkContext
      val n = new java.util.concurrent.atomic.AtomicInteger
      val execs = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
      val listener = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit = {
          n.incrementAndGet()
          execs.add(String.valueOf(e.properties.getProperty("spark.sql.execution.id")))
        }
      }
      org.apache.spark.ListenerBusDrain(sc)
      sc.addSparkListener(listener)
      try { body; org.apache.spark.ListenerBusDrain(sc) }
      finally sc.removeSparkListener(listener)
      (n.get, execs.size)
    }
    // Stage jobs per superstep: a BFS level's plan has at most five
    // exchanges/broadcasts plus its result stage.
    val JobsPerStep = 6
    // An n-node chain is n − 1 BFS levels plus the empty one that stops
    // the loop, one action each. C = 3 is the rest: the edge pin, the
    // seed pin and the collect; the visited set's re-pin adds one more
    // action per 8 levels.
    val C = 3
    for (n <- Seq(12, 24, 48)) {
      val chain = (0L until n - 1L).map(i => (i, i + 1)).toDF("src", "dst")
      val (hopJobs, hopSteps) = jobs(GraphAlgorithms.hopDistances(
        Seq(0L).toDF("id"), chain).collect())
      assert(hopSteps <= n + n / 8 + C,
        s"hopDistances on a $n-chain ran $hopSteps actions")
      assert(hopJobs <= JobsPerStep * hopSteps,
        s"hopDistances on a $n-chain ran $hopJobs jobs in $hopSteps actions")
    }
    // h-index erosion on a 16-node path: one action per round; C = 3 is
    // the sym pin, the degree pin and the final join's collect. The
    // round count is the smallest budget the erosion fits in.
    val path = (0L until 15L).map(i => (i, i + 1)).toDF("u", "v")
    val ids = (0L to 15L).toDF("id")
    val rounds = (1 to 50).find(r => scala.util.Try(GraphAlgorithms
      .coreDecomposition(ids, path, maxRounds = r).collect()).isSuccess).get
    val (coreJobs, coreSteps) = jobs(GraphAlgorithms.coreDecomposition(ids, path,
      maxRounds = rounds).collect())
    assert(coreSteps <= rounds + C,
      s"coreDecomposition ran $coreSteps actions over $rounds rounds")
    assert(coreJobs <= JobsPerStep * coreSteps,
      s"coreDecomposition ran $coreJobs jobs in $coreSteps actions")
  }
}
