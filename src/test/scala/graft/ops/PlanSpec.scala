package graft.ops

import graft.SparkTestBase

/** Physical-plan assertions: the declared queries must not merely be
  * correct — they must produce the plans that survive a 100x scale-up.
  * Pushdown reaching the parquet scan, dim tables broadcast, top-k lowered
  * to TakeOrderedAndProject, and the hot paths inside whole-stage codegen.
  */
class PlanSpec extends SparkTestBase {

  private def plan(name: String, execute: Boolean = false): String = {
    val e = (QueryCatalog.entries ++ AnalyticsCatalog.entries).find(_.name == name).get
    val df = e.fn(spark, sfDir)
    if (execute) df.collect() // materialize so AQE finalizes the plan
    df.queryExecution.executedPlan.toString
  }

  test("q01 pushes filters and prunes columns at the parquet scan") {
    val p = plan("q01_scan_filter_project")
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("GreaterThanOrEqual(l_shipdate"), p)
    // column pruning: content column set excludes unused l_tax
    assert(p.contains("ReadSchema"), p)
    assert(!p.contains("l_tax"), p)
  }

  test("q03 broadcasts the dim tables, not the facts") {
    val p = plan("q03_join_revenue_by_nation")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("BroadcastExchange"), p)
  }

  test("q09 lowers orderBy().limit() to TakeOrderedAndProject") {
    val p = plan("q09_topk_customers")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q02 aggregates with partial (map-side) combine") {
    val p = plan("q02_agg_pricing_summary")
    assert(p.contains("HashAggregate"), p)
    assert(p.contains("partial_"), p) // partial_sum / partial_count before shuffle
  }

  test("hot expressions run inside whole-stage codegen") {
    // '*(n)' prefixes in the final AQE plan mark WholeStageCodegen stages
    assert(plan("q02_agg_pricing_summary", execute = true).contains("*("))
    assert(plan("v01_vector_norms", execute = true).contains("*("))
  }

  test("semi/anti joins plan as join operators, not subquery re-scans") {
    assert(plan("q05_semi_join").contains("LeftSemi"))
    assert(plan("q06_anti_join").contains("LeftAnti"))
  }

  test("correlated scalar subquery decorrelates to an aggregate join") {
    val p = plan("q26_scalar_subquery")
    assert(!p.contains("ScalarSubquery"), p) // no per-row re-execution
    assert(p.contains("Aggregate") || p.contains("HashAggregate"), p)
    assert(p.contains("Join"), p)
  }

  test("graph queries read the persisted store with partition-pruned scans") {
    // label scan (DSL and Cypher front end) prunes to label=Article
    val g = plan("g01_graph_label_scan")
    assert(g.contains("PartitionFilters") && g.contains("Article"), g)
    val c = plan("c01_cypher_label_scan")
    assert(c.contains("PartitionFilters") && c.contains("Article"), c)
    // typed pattern match prunes the edge store to relType=WRITTEN_BY
    val hop = plan("g03_graph_one_hop")
    assert(hop.contains("PartitionFilters") && hop.contains("WRITTEN_BY"), hop)
  }

  test("d06 embedding near-dup runs as a tiled equi-join, never a cartesian") {
    val p = plan("d06_embedding_near_dup")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // the tile join shuffles by key; the tiny tile index is broadcast
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("round-2 query shapes keep their intended plans") {
    // TPC-H Q3 shape: top-k lowers to TakeOrderedAndProject
    assert(plan("q28_shipping_priority").contains("TakeOrderedAndProject"))
    // EXISTS with a date-arithmetic condition stays a semi join
    assert(plan("q31_order_priority_late").contains("LeftSemi"))
    // interval join = equi join + range filter, never a nested loop
    val s = plan("s04_interval_join_batch")
    assert(!s.contains("BroadcastNestedLoopJoin") && !s.contains("CartesianProduct"), s)
    // salted skew join replicates the dim via the exploded salt equi-join
    val k = plan("q33_skew_salted_join")
    assert(!k.contains("CartesianProduct"), k)
  }

  test("round-3 query shapes keep their intended plans") {
    // Q17 shape: brand dim broadcast; the per-part average is an aggregate,
    // not a re-executed subquery
    val q42 = plan("q42_small_quantity_revenue")
    assert(q42.contains("BroadcastHashJoin"), q42)
    assert(!q42.contains("ScalarSubquery"), q42)
    // WITH ... ORDER BY ... LIMIT lowers to TakeOrderedAndProject
    assert(plan("c18_cypher_with_topk").contains("TakeOrderedAndProject"))
    // Q15 shape: the 1-row max is broadcast, never a cartesian
    val q45 = plan("q45_top_supplier_revenue")
    assert(!q45.contains("CartesianProduct"), q45)
    // outer interval join stays an equi join + range filter
    val s05 = plan("s05_interval_join_outer")
    assert(!s05.contains("BroadcastNestedLoopJoin") && !s05.contains("CartesianProduct"), s05)
    // manifest joins prune: only the id column is read from embeddings
    val m04 = plan("m04_training_manifest")
    assert(!m04.contains("embedding#") || !m04.contains("label#"), m04)
  }

  test("round-4 query shapes keep their intended plans") {
    // Q9 shape: the part predicate reaches the fact as a semi-join
    // BEFORE the wide joins
    assert(plan("q48_product_type_profit").contains("LeftSemi"))
    // Q2 shape: decorrelated argmax join-back, no cartesian
    val q49 = plan("q49_top_supplier_per_brand")
    assert(!q49.contains("CartesianProduct"), q49)
    // Q20 shape: nested semi-join chain stays semi joins
    val q50 = plan("q50_surplus_suppliers")
    assert(q50.contains("LeftSemi"), q50)
    // Q11 shape: the global threshold is a broadcast 1-row scalar
    val q51 = plan("q51_important_parts")
    assert(q51.contains("BroadcastExchange"), q51)
    // anchored shortestPath: the BFS seed semi-joins the anchor's node ids
    val c23 = plan("c23_cypher_anchored_shortest")
    assert(c23.contains("LeftSemi"), c23)
    // Q16 shape: the part predicate broadcasts into the fact, the
    // complaint exclusion is a broadcast anti-join — distinct shuffles
    // only the qualifying slice
    val q52 = plan("q52_supplier_diversity")
    assert(q52.contains("LeftAnti") && q52.contains("BroadcastExchange"), q52)
    // Cypher EXISTS { } lowers to a semi-join, NOT EXISTS to an anti-join
    val c26 = plan("c26_cypher_exists_subquery")
    assert(c26.contains("LeftSemi") && c26.contains("LeftAnti"), c26)
    // v07 quantization is pure per-row expressions: no Exchange at all
    // before the presentation sort
    val v07 = plan("v07_int8_quantization")
    assert(!v07.replaceAll("(?s)Sort.*", "").contains("Exchange"), v07)
    // c28's list comprehension + reduce stay higher-order expressions —
    // no Python/Scala UDF node anywhere in the plan
    val c28 = plan("c28_cypher_list_comprehension")
    assert(c28.contains("transform") && c28.contains("aggregate"), c28)
    assert(!c28.contains("BatchEvalPython") && !c28.toLowerCase.contains("scalaudf"), c28)
    // s08 broadcasts the customer dim: the event fact is never
    // hash-partitioned for the join
    val s08 = plan("s08_stream_static_enrich")
    assert(s08.contains("BroadcastHashJoin"), s08)
    // t14's composed pipeline reads `documents` exactly ONCE — the four
    // stages fuse into one linear plan, no self-join, no re-scan
    val t14 = plan("t14_corpus_pipeline")
    assert("documents\\.parquet".r.findAllIn(t14).size <= 1, t14)
    assert(!t14.contains("CartesianProduct"), t14)
    // q55's range condition runs as a bucketized hash EQUI-join — never a
    // nested-loop range probe or cartesian (the shape that survives when
    // both sides are large)
    val q55 = plan("q55_banded_range_join")
    assert(!q55.contains("BroadcastNestedLoopJoin"), q55)
    assert(!q55.contains("CartesianProduct"), q55)
    assert(q55.contains("HashJoin") || q55.contains("SortMergeJoin"), q55)
    // t16's funnel is ONE scan + ONE aggregate: no re-scan per filter stage
    val t16 = plan("t16_filter_funnel")
    assert("documents\\.parquet".r.findAllIn(t16).size <= 1, t16)
    // x08 similarity joins on the shared neighbor then on the pair — all
    // equi-joins, no cartesian candidate generation
    val x08 = plan("x08_node_similarity")
    assert(!x08.contains("CartesianProduct") &&
      !x08.contains("BroadcastNestedLoopJoin"), x08)
    // i07's read-back prunes to the one selected partition directory
    val i07 = plan("i07_partitioned_sink")
    assert(i07.contains("PartitionFilters: [isnotnull(o_orderpriority"), i07)
    // q56's join-derived filter reaches the partitioned fact scan as a
    // DYNAMIC pruning subquery — the runtime prune DPP exists for
    val q56 = plan("q56_dynamic_partition_pruning")
    assert(q56.contains("dynamicpruning"), q56)
    // q58's bucket-bucket join runs WITHOUT an Exchange on either join
    // key — the bucketed layout already co-locates matching keys
    val q58 = plan("q58_bucketed_join")
    assert(q58.contains("SortMergeJoin"), q58)
    assert(!q58.contains("hashpartitioning(o_custkey"), q58)
    assert(!q58.contains("hashpartitioning(c_custkey"), q58)
  }

  test("round-5 query shapes keep their intended plans") {
    // t20's chunk winner comes from a partial-aggregating min(struct)
    // groupBy — NEVER a window over the chunk key (a boilerplate chunk
    // repeated 10^9 times would funnel into one window task; min()
    // pre-combines map-side)
    val t20 = plan("t20_chunk_dedup_reassembly")
    assert(!t20.contains("Window"), t20)
    assert(t20.contains("partial_min") || t20.contains("partial min"), t20)
    // d12's pair source is the tiled equi-join (d06's shape): no cartesian
    val d12 = plan("d12_semantic_dedup")
    assert(!d12.contains("CartesianProduct") &&
      !d12.contains("BroadcastNestedLoopJoin"), d12)
    // c43's pattern comprehensions are grouped collects joined back — the
    // plan holds exactly two collect aggregations, not a per-row re-match
    val c43 = plan("c43_cypher_pattern_comprehension")
    assert(!c43.contains("CartesianProduct"), c43)
    assert("collect_list".r.findAllIn(c43).size >= 2, c43)
  }

  test("round-6 query shapes keep their intended plans") {
    // d15's LSH candidates come from (table, bucket) equi-joins — never a
    // cartesian/BNLJ over the vector pairs
    val d15 = plan("d15_embedding_lsh_pairs")
    assert(!d15.contains("CartesianProduct") &&
      !d15.contains("BroadcastNestedLoopJoin"), d15)
    // d16's corpus-wide gram count must pre-combine map-side: a boilerplate
    // span repeated 10^9 times would otherwise funnel into one reduce task
    val d16 = plan("d16_repeated_span_stats")
    assert(d16.contains("partial_count") || d16.contains("partial count"), d16)
    assert(!d16.contains("Window"), d16)
    // d14's banded candidates are equi-joins only (DedupSpec also asserts on
    // the operator directly; this pins the CATALOG entry's plan)
    val d14 = plan("d14_simhash_banded_pairs")
    assert(!d14.contains("CartesianProduct") &&
      !d14.contains("BroadcastNestedLoopJoin"), d14)
    // d17's at-ingest matching: history×arrival candidates from the
    // (band, bucket) equi-join; never a pair cross product
    val d17 = plan("d17_incremental_neardup")
    assert(!d17.contains("CartesianProduct") &&
      !d17.contains("BroadcastNestedLoopJoin"), d17)
    // d18's pair source is d15's bucket equi-join, not d12's n² tiling —
    // and the closure stages add no cartesian either
    val d18 = plan("d18_semantic_dedup_lsh")
    assert(!d18.contains("CartesianProduct") &&
      !d18.contains("BroadcastNestedLoopJoin"), d18)
  }

  test("round-7 high-threshold LSH shapes keep their intended plans") {
    // d19/d21 run the production-threshold LSH (12-bit buckets × 8
    // tables): candidates must still come from (table, bucket) equi-joins
    // only — the whole point of the high-threshold twin is that the
    // bucket join PRUNES, so a cartesian anywhere would defeat it
    for (q <- Seq("d19_embedding_lsh_hi_threshold",
        "d21_semantic_dedup_hi_threshold")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"), s"$q:\n$p")
    }
  }

  test("round-7 session-2 shapes keep their intended plans") {
    // d22: the bloom probe must sit BELOW the verify join — a Filter on
    // bloom_might_contain with the parquet scan in its subtree and no
    // exchange in between, so non-matching shingles die map-side
    def unwrapped(name: String): org.apache.spark.sql.execution.SparkPlan = {
      val e = AnalyticsCatalog.entries.find(_.name == name).get
      e.fn(spark, sfDir).queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case p => p
      }
    }
    val exec = unwrapped("d22_bloom_decontamination")
    val bloomFilters = exec.collect {
      case f: org.apache.spark.sql.execution.FilterExec
        if f.condition.exists(_.isInstanceOf[graft.functions.BloomMightContainLong]) => f
    }
    assert(bloomFilters.nonEmpty, exec.toString)
    bloomFilters.foreach { f =>
      assert(f.collect {
        case ex: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => ex
      }.isEmpty, s"bloom probe above an exchange:\n$f")
    }
    // x13/x14: iterative graph rounds stay equi-join only
    for (q <- Seq("x13_cc_alternating", "x14_kcore")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"), s"$q:\n$p")
    }
    // t21: the per-doc top-k window is PARTITIONED (never a global sort
    // of the scored term list through one partition)
    val t21 = unwrapped("t21_salient_terms")
    val windows = t21.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.nonEmpty)
    windows.foreach(w => assert(w.partitionSpec.nonEmpty, w.toString))
  }

  test("AQE skew join splits the straggler partition on skewed input only") {
    // The engine-native complement to q33's manual salting: on a shuffle
    // join where one key owns most of the bytes, AQE's skew-join must
    // split that partition at runtime (OptimizeSkewedJoin marks the
    // SortMergeJoin isSkewJoin and the AQEShuffleRead reads split
    // sub-partitions) — and must NOT fire on a uniform key distribution.
    // Thresholds are lowered so a test-sized fixture exhibits the
    // production behavior; broadcast is disabled so the join shuffles.
    import org.apache.spark.sql.functions._
    import spark.implicits._
    def withConf(pairs: (String, String)*)(f: => Unit): Unit = {
      val old = pairs.map { case (k, _) =>
        k -> scala.util.Try(spark.conf.get(k)).toOption }
      pairs.foreach { case (k, v) => spark.conf.set(k, v) }
      try f finally old.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
    withConf(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "100k",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "32k",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      // payload must be per-row (not constant-foldable) and survive into
      // the shuffle, or the skewed partition is a few compressed KB of
      // identical longs and never crosses the byte threshold
      val pad = concat(lit("x" * 64), $"id", md5($"id".cast("string")))
      // 90% of rows on key 0, the rest spread over 99 keys
      val skewed = spark.range(0, 400000)
        .select(when($"id" < 360000, 0L).otherwise($"id" % 99 + 1).as("k"), pad.as("p"))
      val uniform = spark.range(0, 400000).select(($"id" % 100).as("k"), pad.as("p"))
      val dim = spark.range(0, 100).select($"id".as("k"), lit(1).as("v"))
      def executedPlan(left: org.apache.spark.sql.DataFrame): String = {
        // global aggregate, NOT groupBy(k): an agg keyed on the join key
        // requires the join's hash partitioning, and AQE declines to split
        // a skewed partition when that would break a downstream
        // requirement (unless forceOptimizeSkewedJoin) — the realistic
        // shape is a join whose consumer doesn't need k-partitioning
        val j = left.join(dim, "k").agg(sum(length($"p")))
        j.collect() // AQE finalizes only after execution
        j.queryExecution.executedPlan.toString
      }
      val skewedPlan = executedPlan(skewed)
      assert(skewedPlan.contains("isSkewJoin") || skewedPlan.contains("skewed"),
        s"skewed input did not trigger a skew-join split:\n$skewedPlan")
      val uniformPlan = executedPlan(uniform)
      assert(!uniformPlan.contains("isSkewJoin") && !uniformPlan.contains("skewed"),
        s"uniform input wrongly marked skewed:\n$uniformPlan")
    }
  }

  test("q42 per-part average aggregates the brand's semi-joined slice only") {
    import org.apache.spark.sql.catalyst.plans.LeftSemi
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}
    val e = QueryCatalog.entries.find(_.name == "q42_small_quantity_revenue").get
    val df = e.fn(spark, sfDir)
    // the per-part pre-aggregate (groupBy l_partkey) must sit ABOVE the
    // brand semi-join — a full-lineitem Exchange feeding the avg is the
    // 100 TB mistake this guards against
    val perPartAggs = df.queryExecution.optimizedPlan.collect {
      case a: Aggregate if a.groupingExpressions.exists(_.references.exists(
        _.name == "l_partkey")) => a
    }
    assert(perPartAggs.nonEmpty, df.queryExecution.optimizedPlan.toString)
    perPartAggs.foreach { a =>
      assert(a.collect { case j: Join if j.joinType == LeftSemi => j }.nonEmpty,
        s"per-part aggregate not fed by the brand semi-join:\n$a")
    }
  }

  test("round-7 session-3 shapes keep their intended plans") {
    // x15/x18: iterative label/embedding propagation — every round's
    // edge⋈state join must stay an equi-join (a cartesian anywhere is
    // multiplied by the round count)
    for (q <- Seq("x15_label_propagation", "x18_fastrp_embedding")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"), s"$q:\n$p")
    }
    // x16/x17: frontier/score joins equi-only; x17's single final
    // normalization scalar legitimately rides a 1-row broadcast
    for (q <- Seq("x16_personalized_pagerank", "x17_eigenvector_centrality")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q:\n$p")
    }
    // q59: Spark lowers unpivot to Expand — row fan-out, no join/shuffle
    val q59 = plan("q59_unpivot")
    assert(q59.contains("Expand"), q59)
    // q60: the correlated LATERAL ORDER BY+LIMIT must DECORRELATE to a
    // partitioned window top-k + join — never a per-outer-row re-scan
    val q60 = plan("q60_lateral_join")
    assert(!q60.contains("CartesianProduct"), q60)
    assert(q60.contains("Window"), q60)
  }

  test("round-8 shapes: anchored two-hop broadcasts the key-pruned anchor") {
    // g05: the (label, key) anchor must reach the parquet scan as pushed
    // filters (label is the partition column, key a data filter) and the
    // near-singleton anchor must BROADCAST into both edge joins — the
    // plan that makes two-hop work the anchor's reach, not Σdeg²
    val p = plan("g05_graph_two_hop_anchored")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("EqualTo(key,src10)"), p)
    assert(p.contains("(label") && p.contains("= Publisher)"), p) // partition-pruned
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    // r9: the COUNT path is the degree identity — ONE edge scan feeding a
    // degree aggregate (shiftright((S1²−S2), 1)), never an edge⋈edge pair
    // join; g04 (unanchored) must hold the same shape
    for (q <- Seq("g04_graph_two_hop", "g05_graph_two_hop_anchored")) {
      val pc = plan(q)
      assert(pc.contains("shiftright"), s"$q:\n$pc")
      assert("/edges\\]".r.findAllIn(pc).size === 1, s"$q scans edges more than once:\n$pc")
    }
    // g06: the bounded pair LISTING prunes each anchor's neighbor list to
    // k+1 rows (WindowGroupLimit) BEFORE the pair self-join
    val p6 = plan("g06_graph_sibling_pairs_topk")
    assert(p6.contains("WindowGroupLimit"), p6)
    assert(p6.contains("TakeOrderedAndProject"), p6)
    // d24/v15: persisted-index queries stay equi-join only — candidates
    // come off the stored (band|t, bucket) layout, never a pair scan
    for (q <- Seq("d24_dedup_index_query", "v15_persisted_ann_query")) {
      val pq = plan(q)
      assert(!pq.contains("CartesianProduct") &&
        !pq.contains("BroadcastNestedLoopJoin"), s"$q:\n$pq")
    }
  }

  test("round-9 shapes: URL canonicalize is UDF-free, gram census combines map-side, topK similarity never goes quadratic") {
    // t23: the canonicalizer must be pure (codegen-able) expressions — a
    // scalar UDF or python eval node here would serialize every URL of a
    // 100 TB crawl log through an interpreter
    val p23 = plan("t23_url_canonicalize")
    assert(!p23.contains("BatchEvalPython") && !p23.contains("ScalaUDF"), p23)
    assert(p23.contains("HashAggregate"), p23)
    // t24: the (source, gram) census must partial-aggregate map-side —
    // the explode multiplies rows ~50x, so shipping un-combined gram rows
    // would shuffle the whole token stream
    val p24 = plan("t24_boilerplate_ngrams")
    assert(p24.contains("partial_count") || p24.contains("partial_sum"), p24)
    assert(!p24.contains("CartesianProduct"), p24)
    // nodeSimilarityTopK: equi-joins only, and the closed-form candidate
    // paths are window-pruned (WindowGroupLimit pushes the k+1 cut into
    // the shuffle) — no cartesian/nested-loop anywhere
    import org.apache.spark.sql.functions.col
    import graft.analytics.GraphAlgorithms
    val edges = spark.range(200).select(
      (col("id") % 40).as("src"), (col("id") % 7).as("dst"))
    val topk = GraphAlgorithms.nodeSimilarityTopK(edges, 10)
    val pt = topk.queryExecution.executedPlan.toString
    assert(!pt.contains("CartesianProduct") &&
      !pt.contains("BroadcastNestedLoopJoin"), pt)
    assert(pt.contains("WindowGroupLimit"), pt)
  }

  test("round-10: IN TRANSACTIONS batch staging never single-partitions and per-batch filters prune to files") {
    import org.apache.spark.sql.functions.col
    import graft.cypher.TxBatches
    val driving = spark.range(1000).select(
      col("id").cast("string").as("nm"))
    val staged = TxBatches.stage(driving, 100).get
    try {
      assert(staged.nBatches === 10)
      // batch-assignment plan: no window, no single-partition exchange —
      // the id assignment is RDD zipWithIndex, so neither node may appear
      val assignPlan = staged.taggedFrame.queryExecution.executedPlan.toString
      assert(!assignPlan.contains("Window"), assignPlan)
      assert(!assignPlan.contains("Exchange SinglePartition"), assignPlan)
      // a batch's filter must prune at the FILE level: the bid predicate
      // lands in PartitionFilters on the parquet scan, and the scan of
      // one batch reads ~1/10 of the rows
      val one = staged.batches(3)
      val p = one.queryExecution.executedPlan.toString
      assert(p.contains("PartitionFilters"), p)
      assert(p.contains(TxBatches.BidCol), p)
      assert(one.count() === 100)
      // membership is input-order: batch 3 is exactly rows 300..399
      val vals = one.select("nm").collect().map(_.getString(0).toInt).sorted
      assert(vals.head === 300 && vals.last === 399 && vals.length === 100)
    } finally staged.cleanup()
    // empty driving set stages nothing
    assert(TxBatches.stage(driving.limit(0), 100).isEmpty)
  }

  test("round-11: index query plans — vector probe is filter+top-k with NO join; fulltext joins stay equi") {
    import org.apache.spark.sql.functions.col
    val sess = new graft.cypher.CypherSession(
      graft.graph.PropertyGraph.empty(spark))
    (0 until 50).foreach { i =>
      sess.run(s"MERGE (d:Doc {name: 'n$i'}) " +
        s"SET d.embedding = '${Seq.tabulate(4)(j => (i * 4 + j) % 7 - 3.0).mkString(",")}', " +
        s"d.title = 'spark doc number $i fast table'")
    }
    sess.run("""CREATE VECTOR INDEX ve FOR (d:Doc) ON d.embedding
               |OPTIONS {indexConfig: {`vector.dimensions`: 4}}""".stripMargin)
    sess.run("CREATE FULLTEXT INDEX fe FOR (d:Doc) ON EACH [d.title]")
    // vector probe: the candidate stage is a FILTER over the pinned
    // snapshot plus a top-k — no join of any kind may appear (the single
    // query vector's buckets are literals)
    val vq = sess.run(
      "CALL db.index.vector.queryNodes('ve', 5, $q) YIELD node, score " +
        "RETURN node.name AS nm, score",
      Map("q" -> Seq(1.0, 0.0, -1.0, 2.0)))
      .asInstanceOf[graft.cypher.CypherRows].df
    val vp = vq.queryExecution.executedPlan.toString
    assert(!vp.contains("Join"), vp)
    assert(vp.contains("TakeOrderedAndProject"), vp)
    // fulltext: term-prefiltered postings equi-join — never a cartesian
    // or nested loop
    val fq = sess.run(
      "CALL db.index.fulltext.queryNodes('fe', '\"fast table\" OR spark') " +
        "YIELD node, score RETURN node.name AS nm, score")
      .asInstanceOf[graft.cypher.CypherRows].df
    val fp = fq.queryExecution.executedPlan.toString
    assert(!fp.contains("CartesianProduct") &&
      !fp.contains("BroadcastNestedLoopJoin"), fp)
    assert(fq.count() === 50) // every doc matches 'spark'
  }

  test("round-11: unbatched CREATE row tags never single-partition; staging honors spark.graft.stageDir") {
    import org.apache.spark.sql.functions.col
    import graft.cypher.TxBatches
    // the shared tag primitive: RDD zipWithIndex — no window, no
    // single-partition exchange (VERDICT r10 #2)
    val driving = spark.range(1000).select(col("id").cast("string").as("nm"))
    val tagged = TxBatches.withRowTag(driving, "__row")
    val tagPlan = tagged.queryExecution.executedPlan.toString
    assert(!tagPlan.contains("Window"), tagPlan)
    assert(!tagPlan.contains("Exchange SinglePartition"), tagPlan)
    assert(tagged.select("__row").distinct().count() === 1000)
    // the full unbatched LOAD CSV … CREATE path (no IN TRANSACTIONS):
    // the session graph's lineage must carry no single-partition exchange
    // — the exact shape r9 flagged on c56, now also cured here
    val dir = java.nio.file.Files.createTempDirectory("graft_plan_csv")
    val f = new java.io.File(dir.toFile, "items.csv")
    java.nio.file.Files.writeString(f.toPath,
      "name\n" + (1 to 200).map(i => s"it$i").mkString("\n") + "\n")
    val sess = new graft.cypher.CypherSession(
      graft.graph.PropertyGraph.empty(spark))
    sess.run(s"LOAD CSV WITH HEADERS FROM 'file://${f.getAbsolutePath}' " +
      "AS row CREATE (n:Item {name: row.name})")
    val nodesPlan = sess.graph.nodes.queryExecution.executedPlan.toString
    assert(!nodesPlan.contains("Exchange SinglePartition"), nodesPlan)
    assert(sess.graph.nodes.filter(col("label") === "Item").count() === 200)
    TxBatches.deleteRecursively(dir)
    // stage root honors spark.graft.stageDir through the Hadoop FS API
    // (VERDICT r10 #5: a job-filesystem path, not a driver-local temp dir)
    val stageRoot = java.nio.file.Files.createTempDirectory("graft_stage_root")
    spark.conf.set(TxBatches.StageDirKey, stageRoot.toString)
    try {
      val staged = TxBatches.stage(driving, 100).get
      val children = new java.io.File(stageRoot.toString).listFiles()
      assert(children != null && children.exists(_.getName.startsWith("txbatch-")),
        s"stage did not land under $stageRoot")
      assert(staged.batches(0).count() === 100)
      staged.cleanup()
      val after = new java.io.File(stageRoot.toString).listFiles()
      assert(after == null || after.isEmpty,
        "cleanup left staged files behind")
    } finally {
      spark.conf.unset(TxBatches.StageDirKey)
      TxBatches.deleteRecursively(stageRoot)
    }
  }

  test("round-10: t25 BPE encode is UDF-free and aggregates map-side") {
    // the encoder is a codegen'd native expression — a ScalaUDF or python
    // eval node here would interpret every document of a 100 TB corpus
    val p = plan("t25_bpe_encode")
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"), p)
    // the token census partial-aggregates before the shuffle (the explode
    // multiplies rows by the per-doc token count)
    assert(p.contains("partial_count") || p.contains("partial_sum"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("round-10: t27 vocab coverage broadcasts the vocabulary, no cartesian") {
    // the top-1000 vocabulary must reach the token stream as a broadcast —
    // a shuffle join here would move the full exploded token stream for a
    // 1000-row dimension
    val p = plan("t27_vocab_coverage")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("partial_count") || p.contains("partial_sum"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("round-10: d26 best-survivor is a combining argmax, never a cluster window") {
    // the per-cluster keep decision must be max(struct(...)) — partial-
    // aggregating map-side — not a row_number window over the cluster key,
    // which would single-task a hot near-dup cluster
    val p = plan("d26_cluster_best_survivor")
    assert(p.contains("partial_count") || p.contains("partial_max") ||
      p.contains("partial_sum"), p)
    assert(!p.contains("Window"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("round-10: c61 triangle census is equi-join-only listing, no cartesian") {
    // the a<b<c canonical listing must stay an equi-join chain — a
    // cartesian/nested-loop here is quadratic in the edge list
    import org.apache.spark.sql.functions.col
    import graft.analytics.GraphAlgorithms
    val pairs = spark.range(300).select(
      (col("id") % 60).as("src"), ((col("id") % 60) + col("id") % 3 + 1).as("dst"))
    val p = GraphAlgorithms.triangleStats(pairs)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("round-10: t26 n-gram repetition is UDF-free, map-side combined, JOIN-FREE") {
    // all four gram families ride ONE tagged explode over one documents
    // scan, recombined by conditional aggregation — no join anywhere (a
    // join-recombination form both multiplies scans and lets Catalyst
    // eliminate outer joins under count()-timed gates), and the (doc, n,
    // gram) census partial-aggregates before its shuffle
    val p = plan("t26_ngram_repetition")
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"), p)
    assert(p.contains("partial_count") || p.contains("partial_sum"), p)
    assert(!p.contains("Join"), p)
  }

  test("as-of join is one shuffle + window, never a nested-loop range join") {
    import org.apache.spark.sql.functions._
    val left = spark.range(100).select(col("id").as("k"), col("id").cast("timestamp").as("ts"))
    val right = spark.range(50).select(col("id").as("k"), col("id").cast("timestamp").as("ts"),
      col("id").as("v"))
    val df = AsOfJoin.backward(left, right, Seq("k"), "ts", "ts", payload = Seq("v"))
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    // the window's hash partition is the ONLY exchange
    assert("Exchange ".r.findAllIn(p).size === 1, p)
    assert(p.contains("Window"), p)
  }

  /** Collect every file scan in an executed plan, descending through AQE
    * wrappers and materialized query stages (plain `plan.collect` stops
    * at those boundaries). */
  private def allFileScans(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.FileSourceScanExec] =
    planLeaves(p).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }

  /** Every leaf of an executed plan, descending through AQE wrappers and
    * materialized query stages. */
  private def planLeaves(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      planLeaves(a.executedPlan)
    case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
      planLeaves(q.plan)
    case l if l.children.isEmpty => Seq(l)
    case other => other.children.flatMap(planLeaves)
  }

  test("round-12: persisted vector-index serving — a query reads ONLY its probed buckets' files") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.execution.FileSourceScanExec
    // force the persisted layout at fixture size (the production default
    // keeps populations under 32768 rows in memory)
    spark.conf.set(graft.cypher.CypherSession.IndexMemThresholdKey, "64")
    try {
      def build(): graft.cypher.CypherSession = {
        val sess = new graft.cypher.CypherSession(
          graft.graph.PropertyGraph.empty(spark))
        val batch = (0 until 300).map { i =>
          Map("name" -> s"n$i",
            "embedding" -> Seq.tabulate(4)(j => (i * 4 + j) % 7 - 3.0))
        }
        sess.run(
          """UNWIND $data AS row MERGE (d:Doc {name: row.name}) WITH d, row
            |CALL db.create.setNodeVectorProperty(d, 'embedding', row.embedding)"""
            .stripMargin, Map("data" -> batch))
        sess.run("""CREATE VECTOR INDEX ve FOR (d:Doc) ON d.embedding
                   |OPTIONS {indexConfig: {`vector.dimensions`: 4}}""".stripMargin)
        sess
      }
      val sess = build()
      val q = Map("q" -> Seq(1.0, 0.0, -1.0, 2.0))
      val df = sess.run(
        "CALL db.index.vector.queryNodes('ve', 5, $q) YIELD node, score " +
          "RETURN node.name AS nm, score", q)
        .asInstanceOf[graft.cypher.CypherRows].df
      val rows = df.collect()
      // IO assertion: the probes read at most one file per LSH table —
      // partition pruning cut the 512-directory layout to the 8 probed
      // (table, bucket-slice) directories before any row was touched
      val scans = allFileScans(df.queryExecution.executedPlan)
      assert(scans.nonEmpty, "a 300-row index above the lowered threshold " +
        "must serve from the persisted layout:\n" +
        df.queryExecution.executedPlan)
      val filesRead = scans.map(_.metrics("numFiles").value).sum
      assert(filesRead <= graft.cypher.CypherSession.VectorLshTables,
        s"query read $filesRead files — pruning is not reaching the layout")
      // equivalence: the in-memory path returns byte-identical rows
      spark.conf.set(graft.cypher.CypherSession.IndexMemThresholdKey,
        graft.cypher.CypherSession.IndexMemThresholdDefault.toString)
      val memRows = build().run(
        "CALL db.index.vector.queryNodes('ve', 5, $q) YIELD node, score " +
          "RETURN node.name AS nm, score", q)
        .asInstanceOf[graft.cypher.CypherRows].df.collect()
      assert(rows.toSeq === memRows.toSeq,
        "persisted serving must be result-identical to in-memory serving")
      // live maintenance: a setter patch updates the OVERLAY, the layout's
      // files untouched; the patched value wins the next probe
      spark.conf.set(graft.cypher.CypherSession.IndexMemThresholdKey, "64")
      val inc0 = sess.vectorIndexIncrementalUpdates.get
      val full0 = sess.vectorIndexFullBuilds.get
      sess.run("MATCH (d:Doc {name: 'n0'}) " +
        "CALL db.create.setNodeVectorProperty(d, 'embedding', $v) " +
        "YIELD nodePropertiesWritten RETURN nodePropertiesWritten",
        Map("v" -> Seq(9.0, 9.0, 9.0, 9.0)))
      assert(sess.vectorIndexIncrementalUpdates.get === inc0 + 1)
      assert(sess.vectorIndexFullBuilds.get === full0)
      val hit = sess.run(
        "CALL db.index.vector.queryNodes('ve', 1, $q) YIELD node, score " +
          "RETURN node.name AS nm", Map("q" -> Seq(9.0, 9.0, 9.0, 9.0)))
        .asInstanceOf[graft.cypher.CypherRows].df.collect().map(_.getString(0))
      assert(hit.toSeq === Seq("n0"))
      // generic same-label writes patch the overlay too (r13): a batch
      // MERGE lands in the pinned overlay, the layout's files untouched
      sess.run(
        """UNWIND $data AS row MERGE (d:Doc {name: row.name})
          |SET d.embedding = row.emb""".stripMargin,
        Map("data" -> Seq(Map("name" -> "n900", "emb" -> "8.0,8.0,8.0,-9.0"))))
      val hit2 = sess.run(
        "CALL db.index.vector.queryNodes('ve', 1, $q) YIELD node, score " +
          "RETURN node.name AS nm", Map("q" -> Seq(8.0, 8.0, 8.0, -9.0)))
        .asInstanceOf[graft.cypher.CypherRows].df.collect().map(_.getString(0))
      assert(hit2.toSeq === Seq("n900"))
      assert(sess.vectorIndexIncrementalUpdates.get === inc0 + 2,
        "a same-label MERGE on a served layout must patch the overlay")
      assert(sess.vectorIndexFullBuilds.get === full0,
        "a same-label MERGE on a served layout must not rebuild the layout")
    } finally spark.conf.set(
      graft.cypher.CypherSession.IndexMemThresholdKey,
      graft.cypher.CypherSession.IndexMemThresholdDefault.toString)
  }

  test("round-14: overlay compaction — past the threshold a patch merges " +
      "the overlay into the layout (patch → compact → patch, ZERO rebuilds)") {
    spark.conf.set(graft.cypher.CypherSession.IndexMemThresholdKey, "64")
    try {
      val sess = new graft.cypher.CypherSession(
        graft.graph.PropertyGraph.empty(spark))
      val seed = (0 until 300).map { i =>
        Map("name" -> s"n$i",
          "embedding" -> Seq.tabulate(4)(j => (i * 4 + j) % 7 - 3.0))
      }
      sess.run(
        """UNWIND $data AS row MERGE (d:Doc {name: row.name}) WITH d, row
          |CALL db.create.setNodeVectorProperty(d, 'embedding', row.embedding)"""
          .stripMargin, Map("data" -> seed))
      sess.run("""CREATE VECTOR INDEX vr FOR (d:Doc) ON d.embedding
                 |OPTIONS {indexConfig: {`vector.dimensions`: 4}}""".stripMargin)
      def top(v: Seq[Double], k: Int = 3): Seq[String] = sess.run(
        s"CALL db.index.vector.queryNodes('vr', $k, $$q) YIELD node, score " +
          "RETURN node.name AS nm", Map("q" -> v))
        .asInstanceOf[graft.cypher.CypherRows].df.collect()
        .map(_.getString(0)).toSeq
      def q(): Unit = top(Seq(1.0, 1.0, 1.0, 1.0))
      q() // build the persisted layout (300 >= 64)
      val full0 = sess.vectorIndexFullBuilds.get
      val comp0 = sess.vectorIndexCompactions.get
      def writeBatch(tag: String, n: Int, emb: String = "5.0,5.0,5.0,5.0")
          : Unit = sess.run(
        """UNWIND $data AS row MERGE (d:Doc {name: row.name})
          |SET d.embedding = row.emb""".stripMargin,
        Map("data" -> (0 until n).map(i =>
          Map("name" -> s"$tag$i", "emb" -> emb))))
      // first batch: 40 overlay ids < 64 → plain patch, no compaction
      writeBatch("a", 40); q()
      assert(sess.vectorIndexFullBuilds.get === full0)
      assert(sess.vectorIndexCompactions.get === comp0)
      // second batch pushes the overlay to 80 ≥ 64 (the check reads the
      // PRE-patch overlay); the THIRD write must compact the overlay into
      // the layout's touched partitions — and NEVER rebuild (r13 rebuilt
      // here; r14's contract is zero corpus-scaled write events)
      writeBatch("b", 40); q()
      writeBatch("c", 4); q()
      assert(sess.vectorIndexFullBuilds.get === full0,
        "an over-threshold overlay must compact, not rebuild")
      assert(sess.vectorIndexCompactions.get === comp0 + 1,
        "an over-threshold overlay must be compacted into the layout")
      // after compaction the overlay is empty — patching resumes
      val compC = sess.vectorIndexCompactions.get
      writeBatch("d", 4); q()
      assert(sess.vectorIndexCompactions.get === compC,
        "post-compaction writes must patch the fresh (empty) overlay")
      assert(sess.vectorIndexFullBuilds.get === full0)
      // correctness THROUGH the compacted state: a compacted row is found
      // via the appended generation, and a post-compaction update of the
      // SAME node masks its compacted row (tombstone + overlay win)
      assert(top(Seq(5.0, 5.0, 5.0, 5.0), 1).head.matches("[abcd]\\d+"))
      sess.run("MATCH (d:Doc {name: 'a0'}) " +
        "CALL db.create.setNodeVectorProperty(d, 'embedding', $v) " +
        "YIELD nodePropertiesWritten RETURN nodePropertiesWritten",
        Map("v" -> Seq(-7.0, -7.0, -7.0, -7.0)))
      assert(top(Seq(-7.0, -7.0, -7.0, -7.0), 1) === Seq("a0"),
        "an updated compacted node must serve its NEW value")
      assert(sess.vectorIndexFullBuilds.get === full0)
    } finally spark.conf.set(
      graft.cypher.CypherSession.IndexMemThresholdKey,
      graft.cypher.CypherSession.IndexMemThresholdDefault.toString)
  }

  test("round-14: tombstone reclamation — accumulated compactions trigger " +
      "ONE layout rewrite (layout IO, still zero full rebuilds)") {
    spark.conf.set(graft.cypher.CypherSession.IndexMemThresholdKey, "64")
    try {
      val sess = new graft.cypher.CypherSession(
        graft.graph.PropertyGraph.empty(spark))
      val seed = (0 until 300).map { i =>
        Map("name" -> s"n$i",
          "embedding" -> Seq.tabulate(4)(j => (i * 4 + j) % 7 - 3.0))
      }
      sess.run(
        """UNWIND $data AS row MERGE (d:Doc {name: row.name}) WITH d, row
          |CALL db.create.setNodeVectorProperty(d, 'embedding', row.embedding)"""
          .stripMargin, Map("data" -> seed))
      sess.run("""CREATE VECTOR INDEX vr FOR (d:Doc) ON d.embedding
                 |OPTIONS {indexConfig: {`vector.dimensions`: 4}}""".stripMargin)
      def top(v: Seq[Double], k: Int = 3): Seq[String] = sess.run(
        s"CALL db.index.vector.queryNodes('vr', $k, $$q) YIELD node, score " +
          "RETURN node.name AS nm", Map("q" -> v))
        .asInstanceOf[graft.cypher.CypherRows].df.collect()
        .map(_.getString(0)).toSeq
      top(Seq(1.0, 1.0, 1.0, 1.0)) // build the layout
      val full0 = sess.vectorIndexFullBuilds.get
      val rw0 = sess.indexes.vectorCounters.layoutRewrites.get
      val pr0 = sess.indexes.vectorCounters.tombstonePrunes.get
      // five 70-id batches: each write past the first finds a 70-row
      // overlay ≥ 64 and compacts; distinct tombstoned ids accumulate
      // 70 → 140 → 210 → 280, crossing the 4×64 = 256 rewrite trigger on
      // the fifth batch's compaction
      // each batch writes a DISTINCT direction (cosine is scale-invariant,
      // so magnitudes alone would tie): batch b's rows are (b, 1, 0, 0)
      (1 to 5).foreach { b =>
        sess.run(
          """UNWIND $data AS row MERGE (d:Doc {name: row.name})
            |SET d.embedding = row.emb""".stripMargin,
          Map("data" -> (0 until 70).map(i =>
            Map("name" -> s"t${b}x$i", "emb" -> s"$b.0,1.0,0.0,0.0"))))
        top(Seq(1.0, 1.0, 1.0, 1.0))
      }
      assert(sess.indexes.vectorCounters.tombstonePrunes.get === pr0 + 1,
        "crossing factor×threshold tombstones must reclaim once — and " +
          "fresh-insert tombstones mask nothing, so the event is a " +
          "zero-IO prune")
      assert(sess.indexes.vectorCounters.layoutRewrites.get === rw0,
        "a zero-IO prune must NOT count as a layout rewrite (round 16: " +
          "disjoint counters)")
      assert(sess.vectorIndexFullBuilds.get === full0,
        "reclamation is a layout-level event, never a full rebuild")
      // the rewritten layout still serves every generation's survivors
      assert(top(Seq(5.0, 1.0, 0.0, 0.0), 1).head.startsWith("t5x"))
      assert(top(Seq(1.0, 1.0, 0.0, 0.0), 1).head.startsWith("t1x"))
    } finally spark.conf.set(
      graft.cypher.CypherSession.IndexMemThresholdKey,
      graft.cypher.CypherSession.IndexMemThresholdDefault.toString)
  }

  test("round-15: relationship-index incremental maintenance — edge MERGE, " +
      "re-MERGE (property rewrite), MATCH-driven CREATE and " +
      "apoc.merge.relationship against LIVE rel vector+fulltext indexes " +
      "all patch, never rebuild; results equal a from-scratch build") {
    def seed(sess: graft.cypher.CypherSession): Unit = sess.run(
      "UNWIND $data AS row MERGE (u:U {name: row.u}) " +
        "MERGE (t:T {name: row.t}) " +
        "MERGE (u)-[:R {vec: row.vec, text: row.txt}]->(t)",
      Map("data" -> (0 until 30).map(i =>
        Map("u" -> s"u$i", "t" -> s"t$i",
          "vec" -> s"${i % 7 - 3}.0,1.0,0.0,0.0",
          "txt" -> s"spark edge doc $i token$i"))))
    def applyWrites(sess: graft.cypher.CypherSession): Unit = {
      // (1) edge MERGE with NEW endpoints
      sess.run("MERGE (u:U {name: 'ux'}) MERGE (t:T {name: 'tx'}) " +
        "MERGE (u)-[:R {vec: '9.0,9.0,9.0,9.0', text: 'omega fresh edge'}]->(t)")
      // (2) rel-property rewrite: re-MERGE of the SAME edge overwrites
      // its listed props (the engine's relationship-property write path)
      sess.run("MERGE (u:U {name: 'ux'}) MERGE (t:T {name: 'tx'}) " +
        "MERGE (u)-[:R {vec: '-9.0,-9.0,-9.0,-9.0', " +
        "text: 'psi rewritten edge'}]->(t)")
      // (3) MATCH-driven CREATE edge between existing nodes
      sess.run("MATCH (u:U {name: 'u0'}) MATCH (t:T {name: 't1'}) " +
        "CREATE (u)-[:R {vec: '0.0,0.0,9.0,9.0', text: 'kappa created edge'}]->(t)")
      // (4) apoc.merge.relationship (the LangChain wire shape)
      sess.run("MATCH (u:U {name: 'u2'}) MATCH (t:T {name: 't3'}) " +
        "CALL apoc.merge.relationship(u, 'R', {}, " +
        "{vec: '9.0,0.0,0.0,9.0', text: 'sigma apoc edge'}, t) " +
        "YIELD rel RETURN 1")
    }
    def relVecTop(sess: graft.cypher.CypherSession, v: Seq[Double]): String =
      sess.run(
        "CALL db.index.vector.queryRelationships('rv', 1, $q) " +
          "YIELD relationship, score RETURN relationship.text AS txt",
        Map("q" -> v)).asInstanceOf[graft.cypher.CypherRows]
        .df.collect().map(_.getString(0)).head
    def relFtHits(sess: graft.cypher.CypherSession, q: String): Seq[String] =
      sess.run(
        s"CALL db.index.fulltext.queryRelationships('rf', '$q') " +
          "YIELD relationship, score RETURN relationship.text AS txt " +
          "ORDER BY txt").asInstanceOf[graft.cypher.CypherRows]
        .df.collect().map(_.getString(0)).toSeq
    val sess = new graft.cypher.CypherSession(
      graft.graph.PropertyGraph.empty(spark))
    seed(sess)
    sess.run("""CREATE VECTOR INDEX rv FOR ()-[r:R]-() ON r.vec
               |OPTIONS {indexConfig: {`vector.dimensions`: 4}}""".stripMargin)
    sess.run("CREATE FULLTEXT INDEX rf FOR ()-[r:R]-() ON EACH [r.text]")
    relVecTop(sess, Seq(1.0, 1.0, 0.0, 0.0)); relFtHits(sess, "spark")
    val vf0 = sess.vectorIndexFullBuilds.get
    val ff0 = sess.fulltextIndexFullBuilds.get
    val vi0 = sess.vectorIndexIncrementalUpdates.get
    val fi0 = sess.fulltextIndexIncrementalUpdates.get
    applyWrites(sess)
    // every write lands in BOTH live rel indexes through the patch path
    assert(relVecTop(sess, Seq(-9.0, -9.0, -9.0, -9.0)) === "psi rewritten edge")
    assert(relVecTop(sess, Seq(0.0, 0.0, 9.0, 9.0)) === "kappa created edge")
    assert(relVecTop(sess, Seq(9.0, 0.0, 0.0, 9.0)) === "sigma apoc edge")
    assert(relFtHits(sess, "omega") === Nil,
      "the re-MERGE must supersede the first edge value in the index")
    assert(relFtHits(sess, "psi") === Seq("psi rewritten edge"))
    assert(relFtHits(sess, "kappa") === Seq("kappa created edge"))
    assert(relFtHits(sess, "sigma") === Seq("sigma apoc edge"))
    assert(sess.vectorIndexFullBuilds.get === vf0,
      "edge writes against a live rel VECTOR index must patch, not rebuild")
    assert(sess.fulltextIndexFullBuilds.get === ff0,
      "edge writes against a live rel FULLTEXT index must patch, not rebuild")
    assert(sess.vectorIndexIncrementalUpdates.get > vi0)
    assert(sess.fulltextIndexIncrementalUpdates.get > fi0)
    // hash-equality: BM25 scores and vector hits equal a from-scratch
    // session that applied the same writes BEFORE indexing
    val fresh = new graft.cypher.CypherSession(
      graft.graph.PropertyGraph.empty(spark))
    seed(fresh); applyWrites(fresh)
    fresh.run("""CREATE VECTOR INDEX rv FOR ()-[r:R]-() ON r.vec
                |OPTIONS {indexConfig: {`vector.dimensions`: 4}}""".stripMargin)
    fresh.run("CREATE FULLTEXT INDEX rf FOR ()-[r:R]-() ON EACH [r.text]")
    def ftScores(s2: graft.cypher.CypherSession) = s2.run(
      "CALL db.index.fulltext.queryRelationships('rf', 'spark OR edge') " +
        "YIELD relationship, score RETURN relationship.text AS txt, score " +
        "ORDER BY score DESC, txt")
      .asInstanceOf[graft.cypher.CypherRows].df.collect().toSeq
    assert(ftScores(sess) === ftScores(fresh),
      "patched rel fulltext scores must equal a from-scratch build")
    def vecScores(s2: graft.cypher.CypherSession) = s2.run(
      "CALL db.index.vector.queryRelationships('rv', 5, $q) " +
        "YIELD relationship, score RETURN relationship.text AS txt, score " +
        "ORDER BY score DESC, txt", Map("q" -> Seq(1.0, 1.0, 1.0, 1.0)))
      .asInstanceOf[graft.cypher.CypherRows].df.collect().toSeq
    assert(vecScores(sess) === vecScores(fresh),
      "patched rel vector scores must equal a from-scratch build")
  }

  test("round-15: fulltext overlay compaction — past the threshold a patch " +
      "merges the overlay into the postings layout (patch → compact → " +
      "patch, ZERO rebuilds; scores equal a from-scratch build)") {
    spark.conf.set(graft.cypher.CypherSession.IndexMemThresholdKey, "64")
    try {
      def seedCorpus(sess: graft.cypher.CypherSession): Unit = sess.run(
        "UNWIND $data AS row MERGE (d:Doc {name: row.name}) " +
          "SET d.title = row.title",
        Map("data" -> (0 until 60).map(i =>
          Map("name" -> s"n$i",
            "title" -> s"spark doc number $i fast table row$i"))))
      val sess = new graft.cypher.CypherSession(
        graft.graph.PropertyGraph.empty(spark))
      seedCorpus(sess)
      sess.run("CREATE FULLTEXT INDEX fe FOR (d:Doc) ON EACH [d.title]")
      def names(q: String): Seq[String] = sess.run(
        s"CALL db.index.fulltext.queryNodes('fe', '$q') " +
          "YIELD node, score RETURN node.name AS nm ORDER BY nm")
        .asInstanceOf[graft.cypher.CypherRows].df.collect()
        .map(_.getString(0)).toSeq
      names("spark") // serve → builds the persisted layout (420 ≥ 64)
      val full0 = sess.fulltextIndexFullBuilds.get
      val comp0 = sess.fulltextIndexCompactions.get
      def writeBatch(sess: graft.cypher.CypherSession, tag: String, n: Int,
          word: String): Unit = sess.run(
        "UNWIND $data AS row MERGE (d:Doc {name: row.name}) " +
          "SET d.title = row.title",
        Map("data" -> (0 until n).map(i =>
          Map("name" -> s"$tag$i", "title" -> s"$word token$tag$i text"))))
      // batch a: 8 docs × 3 postings = 24 < 64 → plain patch
      writeBatch(sess, "a", 8, "alpha"); names("alpha")
      assert(sess.fulltextIndexFullBuilds.get === full0)
      assert(sess.fulltextIndexCompactions.get === comp0)
      // batch b pushes the overlay to 24 + 36 = 60 < 64; batch c to 66 ≥
      // 64 (the check reads the PRE-patch overlay) — so batch d's write
      // must COMPACT the overlay into the layout's touched tb dirs and
      // NEVER rebuild (r14 re-tokenized the whole label here; r15's
      // contract is zero corpus-scaled write events, the vector parity)
      writeBatch(sess, "b", 12, "bravo"); names("bravo")
      writeBatch(sess, "c", 2, "charlie"); names("charlie")
      writeBatch(sess, "d", 2, "delta"); names("delta")
      assert(sess.fulltextIndexFullBuilds.get === full0,
        "an over-threshold fulltext overlay must compact, not rebuild")
      assert(sess.fulltextIndexCompactions.get === comp0 + 1,
        "an over-threshold overlay must be compacted into the layout")
      // after compaction the overlay is empty — patching resumes
      val compC = sess.fulltextIndexCompactions.get
      writeBatch(sess, "e", 2, "echo"); names("echo")
      assert(sess.fulltextIndexCompactions.get === compC,
        "post-compaction writes must patch the fresh (empty) overlay")
      assert(sess.fulltextIndexFullBuilds.get === full0)
      // correctness THROUGH the compacted state: compacted docs serve
      // from the appended generation …
      assert(names("alpha") === (0 until 8).map(i => s"a$i"),
        "compacted docs must serve from their appended generation")
      // … and a post-compaction update of a COMPACTED doc masks its
      // appended rows (tombstone via overlay-key anti-join + fresh row)
      sess.run("MERGE (d:Doc {name: 'a0'}) SET d.title = 'omega only now'")
      assert(names("alpha") === (1 until 8).map(i => s"a$i"),
        "an updated compacted doc must leave the old term's result")
      assert(names("omega") === Seq("a0"))
      assert(sess.fulltextIndexFullBuilds.get === full0)
      // BM25-score oracle: every (name, score) row equals a from-scratch
      // session that indexed the identical final corpus in one build
      def scores(s2: graft.cypher.CypherSession) = s2.run(
        "CALL db.index.fulltext.queryNodes('fe', 'spark OR alpha OR bravo') " +
          "YIELD node, score RETURN node.name AS nm, score " +
          "ORDER BY score DESC, nm")
        .asInstanceOf[graft.cypher.CypherRows].df.collect().toSeq
      val fresh = new graft.cypher.CypherSession(
        graft.graph.PropertyGraph.empty(spark))
      seedCorpus(fresh)
      writeBatch(fresh, "a", 8, "alpha"); writeBatch(fresh, "b", 12, "bravo")
      writeBatch(fresh, "c", 2, "charlie"); writeBatch(fresh, "d", 2, "delta")
      writeBatch(fresh, "e", 2, "echo")
      fresh.run("MERGE (d:Doc {name: 'a0'}) SET d.title = 'omega only now'")
      fresh.run("CREATE FULLTEXT INDEX fe FOR (d:Doc) ON EACH [d.title]")
      assert(scores(sess) === scores(fresh),
        "patched+compacted BM25 scores must equal a from-scratch build")
    } finally spark.conf.set(
      graft.cypher.CypherSession.IndexMemThresholdKey,
      graft.cypher.CypherSession.IndexMemThresholdDefault.toString)
  }

  test("round-15: fulltext tombstone reclamation — accumulated compactions " +
      "trigger ONE postings-layout rewrite (layout IO, zero full rebuilds)") {
    spark.conf.set(graft.cypher.CypherSession.IndexMemThresholdKey, "64")
    try {
      val sess = new graft.cypher.CypherSession(
        graft.graph.PropertyGraph.empty(spark))
      sess.run(
        "UNWIND $data AS row MERGE (d:Doc {name: row.name}) " +
          "SET d.title = row.title",
        Map("data" -> (0 until 60).map(i =>
          Map("name" -> s"n$i",
            "title" -> s"spark doc number $i fast table row$i"))))
      sess.run("CREATE FULLTEXT INDEX fe FOR (d:Doc) ON EACH [d.title]")
      def names(q: String): Seq[String] = sess.run(
        s"CALL db.index.fulltext.queryNodes('fe', '$q') " +
          "YIELD node, score RETURN node.name AS nm ORDER BY nm")
        .asInstanceOf[graft.cypher.CypherRows].df.collect()
        .map(_.getString(0)).toSeq
      names("spark") // build the layout
      val full0 = sess.fulltextIndexFullBuilds.get
      val rw0 = sess.indexes.fulltextCounters.layoutRewrites.get
      val pr0 = sess.indexes.fulltextCounters.tombstonePrunes.get
      // five 70-key FRESH batches: each write past the first finds a
      // 210-row overlay ≥ 64 and compacts; distinct tombstoned KEYS
      // accumulate 70 → 140 → 210 → 280, crossing the 4×64 = 256
      // reclamation trigger on the fifth batch's compaction. Fresh keys
      // mask NOTHING, so the event must resolve as a zero-IO PRUNE
      // (round 15 — the vector layout's fast path, fulltext parity)
      (1 to 5).foreach { b =>
        sess.run(
          "UNWIND $data AS row MERGE (d:Doc {name: row.name}) " +
            "SET d.title = row.title",
          Map("data" -> (0 until 70).map(i =>
            Map("name" -> s"t${b}x$i", "title" -> s"word$b filler$b$i tail"))))
        names(s"word$b")
      }
      assert(sess.indexes.fulltextCounters.tombstonePrunes.get === pr0 + 1,
        "fresh-key tombstones mask nothing — the event is a zero-IO prune")
      assert(sess.indexes.fulltextCounters.layoutRewrites.get === rw0,
        "a zero-IO prune must NOT count as a layout rewrite (round 16: " +
          "the counters are disjoint)")
      assert(sess.fulltextIndexFullBuilds.get === full0,
        "reclamation is a layout-level event, never a full re-tokenize")
      // the pruned layout still serves every generation's survivors
      (1 to 5).foreach { b =>
        assert(names(s"word$b") === (0 until 70).map(i => s"t${b}x$i").sorted,
          s"batch $b's docs must survive the reclamation")
      }
      // GARBAGE phase: overwrite five DISTINCT 70-key slices of the
      // already-indexed corpus — their superseded generations are real
      // garbage, so the next trigger crossing must pay the actual
      // layout rewrite (dropping the dead rows), not a prune
      val rw1 = sess.indexes.fulltextCounters.layoutRewrites.get
      val pr1 = sess.indexes.fulltextCounters.tombstonePrunes.get
      (1 to 5).foreach { b =>
        sess.run(
          "UNWIND $data AS row MERGE (d:Doc {name: row.name}) " +
            "SET d.title = row.title",
          Map("data" -> (0 until 70).map(i =>
            Map("name" -> s"t${b}x$i",
              "title" -> s"fresh$b refill$b$i coda"))))
        names(s"fresh$b")
      }
      // two reclamation events land in this phase: the first (t5's
      // garbage-free keys still diluting the set) resolves as another
      // prune at 210 remaining < 256; the second sees 280 keys of
      // GENUINE superseded rows and must pay the actual rewrite
      assert(sess.indexes.fulltextCounters.tombstonePrunes.get === pr1 + 1,
        "exactly one of the two reclamation events is garbage-free " +
          "(prune)")
      assert(sess.indexes.fulltextCounters.layoutRewrites.get === rw1 + 1,
        "the other reclamation event sees genuine superseded rows and " +
          "must pay the REWRITE path (disjoint counters: 1 prune + 1 " +
          "rewrite, never 2 rewrites)")
      assert(sess.fulltextIndexFullBuilds.get === full0)
      (1 to 5).foreach { b =>
        assert(names(s"fresh$b") === (0 until 70).map(i => s"t${b}x$i").sorted,
          s"batch $b's rewritten docs must serve their NEW titles")
        assert(names(s"word$b") === Nil,
          s"batch $b's superseded titles must be gone after the rewrite")
      }
    } finally spark.conf.set(
      graft.cypher.CypherSession.IndexMemThresholdKey,
      graft.cypher.CypherSession.IndexMemThresholdDefault.toString)
  }

  test("round-15: partition-scoped tombstone reclamation — a rewrite " +
      "copies only the DENSE pbh partitions (VERDICT r14 #7) and " +
      "multi-segment probes stay correct across two rewrites") {
    spark.conf.set(graft.cypher.CypherSession.IndexMemThresholdKey, "64")
    try {
      val sess = new graft.cypher.CypherSession(
        graft.graph.PropertyGraph.empty(spark))
      sess.run(
        """UNWIND $data AS row MERGE (d:Doc {name: row.name}) WITH d, row
          |CALL db.create.setNodeVectorProperty(d, 'embedding', row.embedding)"""
          .stripMargin,
        Map("data" -> (0 until 300).map { i =>
          Map("name" -> s"n$i",
            "embedding" -> Seq.tabulate(4)(j => (i * 4 + j) % 7 - 3.0))
        }))
      sess.run("""CREATE VECTOR INDEX vr FOR (d:Doc) ON d.embedding
                 |OPTIONS {indexConfig: {`vector.dimensions`: 4}}""".stripMargin)
      def top(v: Seq[Double]): String = sess.run(
        "CALL db.index.vector.queryNodes('vr', 1, $q) YIELD node, score " +
          "RETURN node.name AS nm", Map("q" -> v))
        .asInstanceOf[graft.cypher.CypherRows].df.collect()
        .map(_.getString(0)).head
      top(Seq(1.0, 1.0, 1.0, 1.0)) // build the layout
      val full0 = sess.vectorIndexFullBuilds.get
      val rw0 = sess.indexes.vectorCounters.layoutRewrites.get
      val rp0 = sess.indexes.vectorCounters.layoutRewritePartitions.get
      def write(ids: String, dir: Int): Unit = {
        sess.run(
          """UNWIND $data AS row MERGE (d:Doc {name: row.name})
            |SET d.embedding = row.emb""".stripMargin,
          Map("data" -> (0 until 70).map(i =>
            Map("name" -> s"${ids}$i", "emb" -> s"$dir.0,1.0,0.0,0.0"))))
        top(Seq(dir.toDouble, 1.0, 0.0, 0.0))
      }
      // A is written at gen 1 then REWRITTEN at gen 3 — its gen-1 rows
      // (concentrated in direction (1,1,0,0)'s ≤8 pbh dirs) become the
      // layout's only garbage. Tombstoned ids cross 4×64 = 256 at the
      // sixth write's compaction (70×4 distinct = 280): the reclamation
      // must copy ONLY the dense dirs, prune the garbage-free ids for
      // free, and never touch the other ~500 partitions.
      write("A", 1); write("B", 2); write("A", 9)
      write("C", 3); write("D", 4); write("E", 5)
      assert(sess.indexes.vectorCounters.layoutRewrites.get === rw0 + 1)
      val touched1 = sess.indexes.vectorCounters.layoutRewritePartitions.get - rp0
      assert(touched1 < graft.cypher.CypherSession.VectorPartDirs,
        s"skewed garbage must rewrite partition-scoped, touched $touched1")
      assert(touched1 > 0,
        "A's superseded generation concentrates dense dirs — copy them")
      assert(top(Seq(9.0, 1.0, 0.0, 0.0)).startsWith("A"),
        "A serves its REWRITTEN value through the new segment")
      Seq("B" -> 2, "C" -> 3, "D" -> 4, "E" -> 5).foreach { case (t, d0) =>
        assert(top(Seq(d0.toDouble, 1.0, 0.0, 0.0)).startsWith(t))
      }
      // second drill: overwrite B, add F/G/H — the next reclamation
      // rewrites B's old dirs; probes then span the twice-masked old
      // segment plus two newer ones and must still see every survivor
      write("B", 8); write("F", 6); write("G", 7); write("H", 11)
      assert(sess.indexes.vectorCounters.layoutRewrites.get === rw0 + 2,
        "the second tombstone accumulation must reclaim again")
      val touchedTotal = sess.indexes.vectorCounters.layoutRewritePartitions.get - rp0
      assert(touchedTotal < 2 * graft.cypher.CypherSession.VectorPartDirs)
      Seq("A" -> 9, "B" -> 8, "C" -> 3, "D" -> 4, "E" -> 5,
        "F" -> 6, "G" -> 7, "H" -> 11).foreach { case (t, d0) =>
        assert(top(Seq(d0.toDouble, 1.0, 0.0, 0.0)).startsWith(t),
          s"id set $t must survive across segments")
      }
      assert(sess.vectorIndexFullBuilds.get === full0,
        "partition-scoped reclamation never pays a full rebuild")
    } finally spark.conf.set(
      graft.cypher.CypherSession.IndexMemThresholdKey,
      graft.cypher.CypherSession.IndexMemThresholdDefault.toString)
  }

  test("retired index layouts outlive DROP INDEX through the grace window; " +
      "at grace 0 a drop deletes every directory the index owned") {
    import graft.cypher.CypherSession
    val stageKey = "spark.graft.stageDir"
    val graceKey = "spark.graft.indexRetireGraceMs"
    val roots = Seq.fill(2)(java.nio.file.Files.createTempDirectory("graft_retire").toFile)
    def dirs(root: java.io.File, prefix: String): Set[String] =
      Option(root.listFiles).toSeq.flatten.map(_.getName)
        .filter(_.startsWith(prefix)).toSet
    // a persisted vector index with two segments (one partition-scoped
    // rewrite) and a persisted fulltext index, both under `root`
    def build(root: java.io.File): CypherSession = {
      spark.conf.set(stageKey, root.getAbsolutePath)
      val sess = new CypherSession(graft.graph.PropertyGraph.empty(spark))
      sess.run(
        """UNWIND $data AS row MERGE (d:Doc {name: row.name})
          |SET d.embedding = row.emb, d.title = row.title""".stripMargin,
        Map("data" -> (0 until 300).map { i =>
          Map("name" -> s"n$i", "title" -> s"spark doc number $i",
            "emb" -> Seq.tabulate(4)(j => (i * 4 + j) % 7 - 3.0).mkString(","))
        }))
      sess.run("""CREATE VECTOR INDEX vr FOR (d:Doc) ON d.embedding
                 |OPTIONS {indexConfig: {`vector.dimensions`: 4}}""".stripMargin)
      sess.run("CREATE FULLTEXT INDEX fr FOR (d:Doc) ON EACH [d.title]")
      def write(ids: String, dir: Int): Unit = {
        sess.run(
          """UNWIND $data AS row MERGE (d:Doc {name: row.name})
            |SET d.embedding = row.emb""".stripMargin,
          Map("data" -> (0 until 70).map(i =>
            Map("name" -> s"${ids}$i", "emb" -> s"$dir.0,1.0,0.0,0.0"))))
        sess.run("CALL db.index.vector.queryNodes('vr', 1, $q) YIELD node " +
          "RETURN node.name AS nm", Map("q" -> Seq(dir.toDouble, 1.0, 0.0, 0.0)))
          .asInstanceOf[graft.cypher.CypherRows].df.collect()
      }
      write("A", 1); write("B", 2); write("A", 9)
      write("C", 3); write("D", 4); write("E", 5)
      assert(sess.indexes.vectorCounters.layoutRewrites.get === 1)
      assert(sess.indexes.vectorCounters.layoutRewritePartitions.get <
        CypherSession.VectorPartDirs, "the rewrite must be partition-scoped")
      assert(dirs(root, "vec-").size === 2, "two vector segments on disk")
      assert(dirs(root, "ft-").size === 1)
      sess
    }
    spark.conf.set(CypherSession.IndexMemThresholdKey, "64")
    try {
      // default grace: in-flight probes may still read a dropped layout
      val kept = build(roots(0))
      val before = dirs(roots(0), "")
      kept.run("DROP INDEX vr")
      kept.run("DROP INDEX fr")
      assert(dirs(roots(0), "") === before,
        "DROP INDEX must retire, not delete, within the grace window")
      // grace 0: a drop deletes the index's directories, segments included,
      // and leaves the other, live index's directories alone
      spark.conf.set(graceKey, "0")
      val swept = build(roots(1))
      val ftDirs = dirs(roots(1), "ft-")
      swept.run("DROP INDEX vr")
      assert(dirs(roots(1), "vec-").isEmpty,
        "every vector segment must be deleted at grace 0")
      assert(dirs(roots(1), "ft-") === ftDirs,
        "the live fulltext index keeps its layout")
      swept.run("DROP INDEX fr")
      assert(dirs(roots(1), "ft-").isEmpty)
    } finally {
      spark.conf.set(CypherSession.IndexMemThresholdKey,
        CypherSession.IndexMemThresholdDefault.toString)
      spark.conf.unset(stageKey)
      spark.conf.unset(graceKey)
      roots.foreach(r => org.apache.commons.io.FileUtils.deleteQuietly(r))
    }
  }

  test("round-12: persisted fulltext postings — a term probe prunes to its bucket's directory") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.execution.FileSourceScanExec
    spark.conf.set(graft.cypher.CypherSession.IndexMemThresholdKey, "64")
    try {
      def build(): graft.cypher.CypherSession = {
        val sess = new graft.cypher.CypherSession(
          graft.graph.PropertyGraph.empty(spark))
        (0 until 60).foreach { i =>
          sess.run(s"MERGE (d:Doc {name: 'n$i'}) " +
            s"SET d.title = 'spark doc number $i fast table row$i'")
        }
        sess.run("CREATE FULLTEXT INDEX fe FOR (d:Doc) ON EACH [d.title]")
        sess
      }
      val sess = build()
      // the postings scan runs in the probe's per-document pin, inside
      // the statement's compile — so read the scans of every plan the
      // statement executed, not only the final one
      val (rows, plans, _) = tracePlans {
        sess.run(
          "CALL db.index.fulltext.queryNodes('fe', 'spark AND table') " +
            "YIELD node, score RETURN node.name AS nm, score")
          .asInstanceOf[graft.cypher.CypherRows].df.collect()
      }
      assert(rows.length === 60)
      val scans = plans.flatMap(allFileScans)
      assert(scans.nonEmpty,
        "postings above the lowered threshold must serve from parquet")
      // the two query terms are read by one scan pruned to their own
      // bucket directories — one file per probed bucket, never the whole
      // postings layout
      val buckets = Seq("spark", "table")
        .map(graft.cypher.CypherSession.termBucket).distinct.size
      assert(scans.size === 1, scans.mkString("\n"))
      scans.foreach { f =>
        assert(f.metrics("numFiles").value <= buckets,
          s"a ${buckets}-bucket term probe read " +
            s"${f.metrics("numFiles").value} files")
      }
      // equivalence with the in-memory path
      spark.conf.set(graft.cypher.CypherSession.IndexMemThresholdKey,
        graft.cypher.CypherSession.IndexMemThresholdDefault.toString)
      val memRows = build().run(
        "CALL db.index.fulltext.queryNodes('fe', 'spark AND table') " +
          "YIELD node, score RETURN node.name AS nm, score")
        .asInstanceOf[graft.cypher.CypherRows].df.collect()
      assert(rows.toSeq === memRows.toSeq)
      // live maintenance on the PERSISTED layout (r13): a same-label
      // write patches the pinned overlay — the layout's files untouched,
      // no full rebuild — and the patched doc wins the next probe with
      // scores equal to a from-scratch build on the same corpus
      spark.conf.set(graft.cypher.CypherSession.IndexMemThresholdKey, "64")
      val full0 = sess.fulltextIndexFullBuilds.get
      val inc0 = sess.fulltextIndexIncrementalUpdates.get
      sess.run("MERGE (d:Doc {name: 'n900'}) " +
        "SET d.title = 'spark overlay patched row900'")
      val hit = sess.run(
        "CALL db.index.fulltext.queryNodes('fe', 'overlay') " +
          "YIELD node, score RETURN node.name AS nm")
        .asInstanceOf[graft.cypher.CypherRows].df.collect().map(_.getString(0))
      assert(hit.toSeq === Seq("n900"))
      assert(sess.fulltextIndexFullBuilds.get === full0,
        "a same-label write on a served postings layout must patch")
      assert(sess.fulltextIndexIncrementalUpdates.get === inc0 + 1)
      val patchedScores = sess.run(
        "CALL db.index.fulltext.queryNodes('fe', 'spark') " +
          "YIELD node, score RETURN node.name AS nm, score " +
          "ORDER BY score DESC, nm")
        .asInstanceOf[graft.cypher.CypherRows].df.collect()
      val freshSess = build()
      freshSess.run("MERGE (d:Doc {name: 'n900'}) " +
        "SET d.title = 'spark overlay patched row900'")
      // the fresh session's index was created BEFORE n900; force its own
      // patch-or-rebuild and compare — both must agree on every score
      val freshScores = freshSess.run(
        "CALL db.index.fulltext.queryNodes('fe', 'spark') " +
          "YIELD node, score RETURN node.name AS nm, score " +
          "ORDER BY score DESC, nm")
        .asInstanceOf[graft.cypher.CypherRows].df.collect()
      assert(patchedScores.toSeq === freshScores.toSeq)
    } finally spark.conf.set(
      graft.cypher.CypherSession.IndexMemThresholdKey,
      graft.cypher.CypherSession.IndexMemThresholdDefault.toString)
  }

  /** Run `body` and return its value, the executed plan of every query it
    * ran — the eager pins a statement runs while it compiles as well as
    * its final action — and the number of Spark jobs it started. */
  private def tracePlans[T](body: => T)
      : (T, Seq[org.apache.spark.sql.execution.SparkPlan], Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
    val sc = spark.sparkContext
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val qel = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val sl = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.ListenerBusDrain(sc)
    spark.listenerManager.register(qel)
    sc.addSparkListener(sl)
    val out =
      try { val v = body; org.apache.spark.ListenerBusDrain(sc); v }
      finally {
        spark.listenerManager.unregister(qel)
        sc.removeSparkListener(sl)
      }
    (out, plans.toArray(Array.empty[SparkPlan]).toSeq, jobs.get)
  }

  test("fulltext probe budget — one postings read, docs never " +
      "broadcast, at most 4 jobs, in both index layouts") {
    val queries = Seq("spark", "spark AND table", "\"doc number\"",
      "spark AND NOT row7")
    def probe(threshold: Long): Seq[Seq[(String, Double)]] = {
      spark.conf.set(graft.cypher.CypherSession.IndexMemThresholdKey,
        threshold.toString)
      val sess = new graft.cypher.CypherSession(
        graft.graph.PropertyGraph.empty(spark))
      sess.run("UNWIND $data AS row MERGE (d:Doc {name: row.name}) " +
        "SET d.title = row.title", Map("data" -> (0 until 60).map(i =>
          Map("name" -> s"n$i",
            "title" -> s"spark doc number $i fast table row$i"))))
      sess.run("CREATE FULLTEXT INDEX fb FOR (d:Doc) ON EACH [d.title]")
      queries.map { q =>
        val (rows, plans, jobs) = tracePlans {
          sess.run(
            s"CALL db.index.fulltext.queryNodes('fb', '$q') " +
              "YIELD node, score RETURN node.name AS nm, score")
            .asInstanceOf[graft.cypher.CypherRows].df.collect()
            .map(r => (r.getString(0), r.getDouble(1))).toSeq
        }
        val where = s"'$q' at threshold $threshold"
        assert(rows.nonEmpty, where)
        def names(l: org.apache.spark.sql.execution.SparkPlan) =
          l.output.map(_.name).toSet
        // the postings frame is the one leaf carrying `term`, the docs
        // frame the one carrying `dl`
        assert(plans.flatMap(planLeaves).count(l => names(l)("term")) === 1,
          s"$where: the postings must be read by exactly one scan\n" +
            plans.mkString("\n"))
        val bts = plans.flatMap(broadcastSubtrees)
        assert(!bts.exists(planLeaves(_).exists(l => names(l)("dl"))),
          s"$where: the docs frame must stream, never broadcast\n" +
            bts.mkString("\n"))
        assert(jobs <= 4, s"$where ran $jobs Spark jobs")
        rows
      }
    }
    try {
      val persisted = probe(64)
      val inMemory =
        probe(graft.cypher.CypherSession.IndexMemThresholdDefault)
      assert(persisted === inMemory)
    } finally spark.conf.set(
      graft.cypher.CypherSession.IndexMemThresholdKey,
      graft.cypher.CypherSession.IndexMemThresholdDefault.toString)
  }

  /** Collect every broadcast-exchange SUBTREE in an executed plan,
    * descending through AQE wrappers and materialized stages. */
  private def broadcastSubtrees(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      broadcastSubtrees(a.executedPlan)
    case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
      broadcastSubtrees(q.plan)
    case b: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec =>
      b +: b.children.flatMap(broadcastSubtrees)
    case other => other.children.flatMap(broadcastSubtrees)
  }

  test("round-14: pattern joins on a SKEWED persisted store — the small " +
      "label builds the broadcast side in BOTH pattern directions " +
      "(VERDICT r13 #6: join ordering evidence)") {
    import org.apache.spark.sql.functions._
    // 200k :Leaf nodes (padded past the DEFAULT 10 MB broadcast
    // threshold with incompressible md5 props) all pointing at 5 :Hub
    // nodes, persisted to the label-partitioned store so Spark sees TRUE
    // per-label sizes from parquet file statistics — the information a
    // real cluster plans from, at the relative sizes a real cluster has.
    // The evidence (default config, no threshold fiddling): the 5-row
    // Hub partition builds the broadcast hash in both query spellings
    // while the oversized Leaf partition and edge table always stream —
    // the user's pattern DECLARATION order does not decide the build
    // side, per-label statistics do.
    val dir = java.nio.file.Files
      .createTempDirectory("graft_skewed").toString + "/g"
    val pad = concat(md5(col("id").cast("string")),
      md5(concat(lit("x"), col("id"))), md5(concat(lit("y"), col("id"))),
      md5(concat(lit("z"), col("id"))))
    val nodes = spark.range(200000).select(
      col("id"), lit("Leaf").as("label"),
      concat(lit("l"), col("id")).as("key"),
      map(lit("name"), concat(lit("l"), col("id")),
        lit("pad"), pad).as("props"))
      .unionByName(spark.range(1000000, 1000005).select(
        col("id"), lit("Hub").as("label"),
        concat(lit("h"), col("id") - 1000000).as("key"),
        map(lit("name"), concat(lit("h"), col("id") - 1000000)).as("props")))
    val edges = spark.range(200000).select(
      col("id").as("srcId"),
      (lit(1000000L) + pmod(col("id"), lit(5L))).as("dstId"),
      lit("PTS").as("relType"),
      map(lit("pad"), pad).as("props"))
    graft.graph.GraphStore.write(
      graft.graph.PropertyGraph(nodes, edges), dir)
    val g = graft.graph.GraphStore.read(spark, dir)
    val sess = new graft.cypher.CypherSession(g,
      keyProps = Map("Leaf" -> "name", "Hub" -> "name"))
    // 1 MB threshold puts EVERY side over it at PLANNING time (without
    // CBO the logical estimate of a label-filtered scan is the WHOLE
    // nodes table, so the initial plan is all sort-merge — exactly the
    // 100× situation). The broadcast must then come from AQE re-planning
    // on RUNTIME stage sizes: the materialized 5-row Hub side converts
    // its join to broadcast, the oversized Leaf side never does. That
    // runtime mechanism, not declaration order, is what scales.
    val restore = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1048576")
    def check(q: String): Unit = {
      val df = sess.run(q).asInstanceOf[graft.cypher.CypherRows].df
      assert(df.collect().length === 5) // one row per hub, both ways
      val bts = broadcastSubtrees(df.queryExecution.executedPlan)
      assert(bts.nonEmpty, df.queryExecution.executedPlan.toString)
      assert(bts.exists(_.toString.contains("= Hub")),
        s"the 5-row Hub scan must be the broadcast build side:\n" +
          df.queryExecution.executedPlan)
      assert(!bts.exists(_.toString.contains("= Leaf")),
        s"the oversized Leaf scan must STREAM, never broadcast:\n" +
          df.queryExecution.executedPlan)
    }
    // count(l.pad) makes the pattern CARRY the leaf payload (the
    // realistic retrieval shape) — with the padded props column in the
    // read schema the Leaf side is genuinely over-threshold; a bare
    // count(l) would prune Leaf to its 1.6 MB id column, which Spark
    // then (correctly) broadcasts at this toy scale
    try {
      check("MATCH (l:Leaf)-[:PTS]->(h:Hub) " +
        "RETURN h.name AS hub, count(l.pad) AS n")
      check("MATCH (h:Hub)<-[:PTS]-(l:Leaf) " +
        "RETURN h.name AS hub, count(l.pad) AS n")
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", restore)
  }

  test("round-14: concurrent probes on a stale over-threshold index " +
      "compact exactly ONCE — the layout append is never duplicated") {
    spark.conf.set(graft.cypher.CypherSession.IndexMemThresholdKey, "64")
    try {
      val sess = new graft.cypher.CypherSession(
        graft.graph.PropertyGraph.empty(spark))
      val seed = (0 until 300).map { i =>
        Map("name" -> s"n$i",
          "embedding" -> Seq.tabulate(4)(j => (i * 4 + j) % 7 - 3.0))
      }
      sess.run(
        """UNWIND $data AS row MERGE (d:Doc {name: row.name}) WITH d, row
          |CALL db.create.setNodeVectorProperty(d, 'embedding', row.embedding)"""
          .stripMargin, Map("data" -> seed))
      sess.run("""CREATE VECTOR INDEX vc FOR (d:Doc) ON d.embedding
                 |OPTIONS {indexConfig: {`vector.dimensions`: 4}}""".stripMargin)
      def top(v: Seq[Double], k: Int = 3): Seq[String] = sess.run(
        s"CALL db.index.vector.queryNodes('vc', $k, $$q) YIELD node, score " +
          "RETURN node.name AS nm", Map("q" -> v))
        .asInstanceOf[graft.cypher.CypherRows].df.collect()
        .map(_.getString(0)).toSeq
      top(Seq(1.0, 1.0, 1.0, 1.0)) // build the persisted layout
      def writeBatch(tag: String, n: Int, emb: String): Unit = sess.run(
        """UNWIND $data AS row MERGE (d:Doc {name: row.name})
          |SET d.embedding = row.emb""".stripMargin,
        Map("data" -> (0 until n).map(i =>
          Map("name" -> s"$tag$i", "emb" -> emb))))
      writeBatch("a", 80, "5.0,1.0,0.0,0.0")
      top(Seq(1.0, 1.0, 1.0, 1.0)) // patch: overlay now 80 >= 64
      val full0 = sess.vectorIndexFullBuilds.get
      val comp0 = sess.vectorIndexCompactions.get
      // a generic write leaves the serving state STALE (its patch runs
      // lazily at the next serve); 8 lock-free readers then race to
      // serve — every one may attempt the patch whose pre-check sees the
      // over-threshold overlay, and compaction's file append is NOT
      // idempotent, so exactly one must win (the per-def lock)
      writeBatch("b", 4, "0.0,0.0,7.0,7.0")
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
      val threads = (0 until 8).map(_ => new Thread(() => {
        try top(Seq(0.0, 0.0, 7.0, 7.0))
        catch { case t: Throwable => errs.add(t) }
      }))
      threads.foreach(_.start())
      threads.foreach(_.join(180000))
      assert(errs.isEmpty, errs.toString)
      assert(sess.vectorIndexCompactions.get === comp0 + 1,
        "racing probes must compact exactly once")
      assert(sess.vectorIndexFullBuilds.get === full0,
        "no racing probe may fall back to a full rebuild")
      // no duplicated layout rows: node b0's unique direction returns
      // distinct hits
      val hits = top(Seq(0.0, 0.0, 7.0, 7.0))
      assert(hits.distinct === hits, s"duplicate layout rows: $hits")
      assert(hits.head.startsWith("b"))
    } finally spark.conf.set(
      graft.cypher.CypherSession.IndexMemThresholdKey,
      graft.cypher.CypherSession.IndexMemThresholdDefault.toString)
  }
}
