package graft.analytics

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class DedupSpec extends SparkTestBase {

  test("round-10: best-survivor argmax keeps the longest, ties to smallest id") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // cluster {1,2,3}: lengths 5,9,9 → longest wins, tie → id 2;
    // singleton {4} must not appear in the non-singleton report
    val docs = Seq((1L, "aaaaa"), (2L, "bbbbbbbbb"), (3L, "ccccccccc"),
      (4L, "dd")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val comps = GraphAlgorithms.alternatingComponents(
      docs.select("doc_id"), pairs)
    val best = docs
      .select(col("doc_id"), length(col("text")).cast("long").as("len"))
      .join(comps.withColumnRenamed("id", "doc_id"), Seq("doc_id"))
      .groupBy("component")
      .agg(count(lit(1)).as("n"),
        max(struct(col("len"), (-col("doc_id")).as("negid"))).as("b"))
      .filter(col("n") >= 2)
      .select(col("component"), col("n"), col("b.len").as("kept_len"),
        (-col("b.negid")).as("kept_id"))
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(best === Seq((1L, 3L, 9L, 2L)))
  }

  test("approx quantile sketch tracks exact percentiles on fixture events") {
    import org.apache.spark.sql.functions._
    val ev = graft.ops.Tables(spark, sfDir, "events")
    val row = ev.agg(
      percentile_approx(col("value"), array(lit(0.25), lit(0.5), lit(0.75)),
        lit(10000)).as("approx"),
      expr("percentile(value, array(0.25, 0.5, 0.75))").as("exact"))
      .head()
    val approx = row.getSeq[Double](0)
    val exact = row.getSeq[Double](1)
    approx.zip(exact).foreach { case (a, e) =>
      assert(math.abs(a - e) <= math.max(1.0, math.abs(e) * 0.05),
        s"approx $a drifted from exact $e")
    }
  }

  test("cluster survivors: A~B and B~C collapse transitively to min-id survivor") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val docs = Seq((1L, "x"), (2L, "x"), (3L, "x"), (9L, "y")).toDF("doc_id", "txt")
    // pair list is NOT transitive: (1,2) and (2,3) only — clustering must
    // still put 1,2,3 in one component
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val out = Dedup.clusterSurvivors(docs, "doc_id", pairs)
      .select($"doc_id", $"component", $"is_survivor")
      .as[(Long, Long, Boolean)].collect().toSet
    assert(out === Set((1L, 1L, true), (2L, 1L, false), (3L, 1L, false),
      (9L, 9L, true)))
  }
  test("round-13: semanticDedup's pair-source config — LSH pair recall " +
      ">= 0.95 vs the exact source at the production threshold " +
      "(VERDICT r12 #8)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val emb0 = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("embedding"))
    // the d19/d20 orig↔twin corpus: every vector plus a ~1.1°-jittered
    // copy — what a production near-dup threshold (θ=0.9) actually sees
    val corpus = emb0.unionByName(emb0.select(
      (col("vec_id") + lit(1099511627776L)).as("vec_id"), col("label"),
      transform(col("embedding"),
        (x, i) => x * when(i % 2 === 0, 1.02).otherwise(0.98))
        .as("embedding")))
    def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val exact = pairSet(Similarity.embeddingNearDupPairs(
      corpus, "vec_id", "embedding", threshold = 0.9))
    val lsh = pairSet(Similarity.embeddingNearDupPairsLSHPortable(
      corpus, "vec_id", "embedding", threshold = 0.9,
      tables = 8, nBits = 12, dim = 64))
    assert(exact.nonEmpty, "the twin corpus must contain qualifying pairs")
    assert(lsh.subsetOf(exact),
      "every LSH pair is exact-verified, so false positives are impossible")
    val recall = lsh.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.95, s"LSH pair recall $recall below the 0.95 floor")
    // the end-to-end config surface: swapping the pair source changes at
    // most the missed-recall clusters, never the survivor CONTRACT (one
    // min-id survivor per component; every row classified; missed pairs
    // can only SPLIT clusters, promoting extra survivors)
    val exactSurv = Dedup.semanticDedup(corpus, "vec_id", "embedding", 0.9,
      Dedup.ExactPairs)
    val lshSurv = Dedup.semanticDedup(corpus, "vec_id", "embedding", 0.9,
      Dedup.LshPairs(tables = 8, nBits = 12, dim = 64))
    assert(exactSurv.count() === corpus.count() &&
      lshSurv.count() === corpus.count())
    val es = exactSurv.filter(col("is_survivor"))
      .select("vec_id").as[Long].collect().toSet
    val ls = lshSurv.filter(col("is_survivor"))
      .select("vec_id").as[Long].collect().toSet
    assert(es.subsetOf(ls), "dropping pairs can only promote new survivors")
    // at the MODERATE fixture threshold the same planes lose recall (the
    // s-curve: per-bit collision at θ=0.4 is only ~0.63) — measured here
    // so the "exact is the right source at moderate θ" default is a
    // tested fact, not folklore
    val exact04 = pairSet(Similarity.embeddingNearDupPairs(
      emb0, "vec_id", "embedding", threshold = 0.4))
    val lsh04 = pairSet(Similarity.embeddingNearDupPairsLSHPortable(
      emb0, "vec_id", "embedding", threshold = 0.4,
      tables = 8, nBits = 4, dim = 64))
    val recall04 = lsh04.intersect(exact04).size.toDouble / exact04.size
    assert(lsh04.subsetOf(exact04))
    assert(recall04 < recall,
      s"moderate-θ recall $recall04 should sit below production-θ $recall")
  }

  test("round-14: the sampled recall estimator (d28) is cluster-preserving " +
      "and lands within ±0.05 of the exact audit (VERDICT r13 #5)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val emb0 = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("embedding"))
    val corpus = emb0.unionByName(emb0.select(
      (col("vec_id") + lit(1099511627776L)).as("vec_id"), col("label"),
      transform(col("embedding"),
        (x, i) => x * when(i % 2 === 0, 1.02).otherwise(0.98))
        .as("embedding")))
    def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    def recallOf(c: org.apache.spark.sql.DataFrame): Double = {
      val exact = pairSet(Similarity.embeddingNearDupPairs(
        c, "vec_id", "embedding", threshold = 0.9))
      val lsh = pairSet(Similarity.embeddingNearDupPairsLSHPortable(
        c, "vec_id", "embedding", threshold = 0.9,
        tables = 8, nBits = 12, dim = 64))
      lsh.intersect(exact).size.toDouble / exact.size
    }
    // the d28 sample: md5 bucket of the BASE id, so an original and its
    // twin are kept or dropped TOGETHER — true pairs never straddle the
    // sample boundary, which is what makes the estimate unbiased
    val keep = conv(substring(
        md5(pmod(col("vec_id"), lit(1099511627776L)).cast("string")),
        1, 2), 16, 10).cast("int") < 64
    val sample = corpus.filter(keep)
    val nSample = sample.count()
    assert(nSample > 0 && nSample < corpus.count(),
      "the 1/4 md5-bucket sample must be a proper nonempty subset")
    val baseIds = sample
      .select(pmod(col("vec_id"), lit(1099511627776L)).as("b"))
      .groupBy("b").agg(count(lit(1)).as("n")).select("n")
      .as[Long].collect().toSet
    assert(baseIds === Set(2L),
      "cluster-preserving: each sampled base id carries BOTH its members")
    val est = recallOf(sample)
    val full = recallOf(corpus)
    assert(math.abs(est - full) <= 0.05,
      s"sampled recall $est strays from the exact audit's $full")
  }

  import spark.implicits._

  private def docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog", "a"),
    (2L, "the quick brown fox jumps over the lazy cat", "a"),   // near-dup of 1
    (3L, "completely different words entirely unrelated text", "a"),
    (4L, "the quick brown fox jumps over the lazy dog", "a"),   // exact dup of 1
    (5L, "the quick brown fox jumps over a lazy dog", "b")      // near-dup, other block
  ).toDF("doc_id", "text", "source")

  test("exact dedup keeps one deterministic survivor per content hash") {
    val out = Dedup.exact(docs, "text", "doc_id")
    val ids = out.select("doc_id").as[Long].collect().sorted
    assert(ids === Array(1L, 2L, 3L, 5L)) // 4 deduped against 1 (lower id wins)
    // idempotent
    assert(Dedup.exact(out, "text", "doc_id").count() === 4)
  }

  test("exact jaccard pairs find near-dups within block") {
    val pairs = Dedup.nearDupPairsExact(docs, "doc_id", "text", "source", 1, 0.7)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(pairs.contains((1L, 4L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
    assert(!pairs.exists(p => p._1 == 5L || p._2 == 5L)) // different block
  }

  test("minhash LSH recalls the high-jaccard pairs found exactly") {
    val exact = Dedup.nearDupPairsExact(docs, "doc_id", "text", "source", 1, 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val lsh = Dedup.nearDupPairsMinhash(docs, "doc_id", "text", 1, 32, 8, 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // LSH verifies candidates with the same exact jaccard, so lsh ⊆ exact∪cross-block;
    // within-block high-J pairs must be recalled at these band settings.
    assert(exact.subsetOf(lsh))
  }

  test("portable-family LSH (d03's oracle path) recalls exact pairs like xxhash64") {
    val fixture = spark.read.parquet(s"$sfDir/documents.parquet")
    val exact = Dedup.nearDupPairsExact(fixture, "doc_id", "text", "source", 1, 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val lsh = Dedup.nearDupPairsMinhashPortable(fixture, "doc_id", "text", 1, 64, 8, 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val recalled = exact.count(lsh.contains)
    assert(exact.isEmpty || recalled.toDouble / exact.size >= 0.9,
      s"recall $recalled/${exact.size}")
  }

  test("portable-family SimHash pairs track exact Jaccard like xxhash64 SimHash") {
    val fixture = spark.read.parquet(s"$sfDir/documents.parquet")
    val portable = Dedup.nearDupPairsSimhashPortable(
        fixture, "doc_id", "text", "source", bits = 48, maxHamming = 16)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val exact = Dedup.nearDupPairsExact(fixture, "doc_id", "text", "source", 1, 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // near-identical docs have near-identical vote profiles: the high-J
    // pairs must sit within the Hamming radius
    val recalled = exact.count(portable.contains)
    assert(exact.isEmpty || recalled.toDouble / exact.size >= 0.9,
      s"recall $recalled/${exact.size}")
  }

  test("pigeonhole-banded SimHash pairs EQUAL the blocked all-pairs form") {
    // The pigeonhole bound is exact, not probabilistic: at radius r with
    // r+1 chunks a qualifying pair must agree on >=1 chunk, so the banded
    // candidate generator loses nothing — same (id_a, id_b, hamming) SET
    // as the quadratic blocked join, at several radii including r=0 and a
    // radius that doesn't divide the bit width evenly.
    val fixture = spark.read.parquet(s"$sfDir/documents.parquet")
    for (r <- Seq(0, 3, 7, 10)) {
      val banded = Dedup.nearDupPairsSimhashBanded(
          fixture, "doc_id", "text", "source", bits = 48, maxHamming = r)
        .as[(Long, Long, Long)].collect().toSet
      val blocked = Dedup.nearDupPairsSimhashPortable(
          fixture, "doc_id", "text", "source", bits = 48, maxHamming = r)
        .as[(Long, Long, Long)].collect().toSet
      assert(banded == blocked, s"radius $r: banded ${banded.size} pairs vs " +
        s"blocked ${blocked.size}")
    }
  }

  test("high-threshold LSH pairs (d19) equal the exact tiling (d20) on the doubled corpus") {
    import spark.implicits._
    // production thresholds: at θ=0.9 with 12-bit buckets × 8 tables the
    // orig↔twin pairs (~1.1° apart) collide in some table with prob
    // 1 − 7e-10 — on the deterministic fixture + portable planes the LSH
    // pair SET equals the exact tiling's, including bit-identical cosines
    def pairs(name: String) = graft.ops.AnalyticsCatalog.entries
      .find(_.name == name).get.fn(spark, sfDir)
      .select("id_a", "id_b", "cosine").as[(Long, Long, Double)].collect().toSet
    val lsh = pairs("d19_embedding_lsh_hi_threshold")
    val exact = pairs("d20_embedding_exact_hi_threshold")
    assert(exact.nonEmpty, "doubled corpus must produce orig/twin pairs")
    assert(lsh == exact,
      s"LSH found ${lsh.size} pairs vs exact ${exact.size}")
    // and every pair is an orig↔its-twin pair at the jitter's cosine
    assert(exact.forall { case (a, b, c) => b == a + (1L << 40) && c > 0.999 })
  }

  test("banded SimHash rejects a radius the signature can't band") {
    // maxHamming + 1 > bits would give some chunks width 0 — mask 0, every
    // chunk join degrades to a per-block cross product; must fail fast
    val fixture = spark.read.parquet(s"$sfDir/documents.parquet")
    val e = intercept[IllegalArgumentException] {
      Dedup.nearDupPairsSimhashBanded(
        fixture, "doc_id", "text", "source", bits = 8, maxHamming = 8)
    }
    assert(e.getMessage.contains("must be <= bits"))
  }

  test("banded SimHash plan is equi-join only — no cartesian/broadcast-nested-loop") {
    val fixture = spark.read.parquet(s"$sfDir/documents.parquet")
    val plan = Dedup.nearDupPairsSimhashBanded(
        fixture, "doc_id", "text", "source", bits = 48, maxHamming = 7)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan.linesIterator.take(5).mkString("\n"))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.linesIterator.take(5).mkString("\n"))
  }

  test("repeated-span stats: shared 8-token spans counted, short docs drop out") {
    import spark.implicits._
    // doc 1 and 2 share their full 8-token prefix (one shared span each);
    // doc 3 is unique; doc 4 is shorter than the window and must vanish
    val shared = (1 to 8).map(i => s"w$i").mkString(" ")
    val df = Seq(
      (1L, "en", s"$shared alpha"), // spans: [w1..w8], [w2..alpha]
      (2L, "en", s"$shared beta"),
      (3L, "en", "completely different words here make one only span x"),
      (4L, "en", "too short")).toDF("doc_id", "lang", "text")
    val entry = graft.ops.AnalyticsCatalog.entries
      .find(_.name == "d16_repeated_span_stats").get
    // run the same shape inline (the entry reads fixture docs; here we
    // check the semantics on a constructed corpus via the same helpers)
    val n = 8
    val toks = df.select($"doc_id", $"lang",
      TextAnalysis.tokens($"text").as("ts"))
    val grams = toks.select($"doc_id", $"lang",
      explode(when(size($"ts") >= n,
          transform(sequence(lit(0), size($"ts") - n),
            i => Dedup.md5Base60(concat_ws(" ", slice($"ts", i + 1, lit(n))))))
        .otherwise(array().cast("array<long>"))).as("gh"))
    val counts = grams.groupBy("gh").agg(count(lit(1)).as("cnt"))
    val byDoc = grams.join(counts, Seq("gh")).groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"), count(when($"cnt" > 1, 1)).as("dup_spans"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(byDoc(1L) == ((2L, 1L))) // 2 spans, the shared prefix is duplicated
    assert(byDoc(2L) == ((2L, 1L)))
    assert(byDoc(3L)._2 == 0L)     // unique doc: no duplicated span
    assert(!byDoc.contains(4L))    // sub-window doc has no spans
    assert(entry.oracle.isDefined)
  }

  test("incremental near-dup: arrivals match history, clean rows report (-1, 0.0)") {
    import spark.implicits._
    val history = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "the quick brown fox jumps over the lazy dog tonight"),
      (3L, "completely unrelated content about database engines"))
      .toDF("doc_id", "text")
    val arrivals = Seq(
      (10L, "the quick brown fox jumps over the lazy dog today"), // = doc 1
      (11L, "nothing like anything in the standing corpus at all"))
      .toDF("doc_id", "text")
    val out = Dedup.incrementalNearDups(history, arrivals, "doc_id", "text",
        shingleN = 1, k = 64, bands = 8, threshold = 0.9)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    // the exact copy matches doc 1 at jaccard 1.0 (doc 2 shares 9/11 words,
    // below the 0.9 threshold — near but not qualifying)
    assert(out(10L)._2 == 1L && out(10L)._3 == 1.0, out(10L))
    // a clean arrival is still reported, with the sentinel no-match row
    assert(out(11L) == ((0L, -1L, 0.0)))
    // exactly one row per arrival — history never pairs with itself here
    assert(out.size == 2)
  }

  test("minhash LSH on fixture documents recalls >=90% of exact pairs") {
    val fixture = spark.read.parquet(s"$sfDir/documents.parquet")
    val exact = Dedup.nearDupPairsExact(fixture, "doc_id", "text", "source", 1, 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val lsh = Dedup.nearDupPairsMinhash(fixture, "doc_id", "text", 1, 32, 8, 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val within = exact // exact is blocked by source; lsh is global → superset on these
    val recalled = within.count(lsh.contains)
    assert(within.isEmpty || recalled.toDouble / within.size >= 0.9,
      s"recall ${recalled}/${within.size}")
  }

  test("HLL sketches: per-group estimates and merged union track exact counts") {
    val fixture = spark.read.parquet(s"$sfDir/documents.parquet")
    val sketches = Dedup.hllPerGroup(fixture, "source", "text")
    val perGroup = sketches.select("source", "estimate").as[(String, Long)].collect().toMap
    val exact = fixture.groupBy("source")
      .agg(countDistinct($"text").as("n")).as[(String, Long)].collect().toMap
    perGroup.foreach { case (src, est) =>
      assert(math.abs(est - exact(src)).toDouble <= math.max(2.0, exact(src) * 0.05),
        s"source=$src est=$est exact=${exact(src)}")
    }
    // the merged estimate comes from sketch union only — no re-scan
    val merged = Dedup.hllMergedEstimate(sketches).as[Long].head()
    val exactAll = fixture.select(countDistinct($"text")).as[Long].head()
    assert(math.abs(merged - exactAll).toDouble <= math.max(2.0, exactAll * 0.05),
      s"merged=$merged exact=$exactAll")
  }

  test("CMS sketches: merged estimates bound every exact count from above") {
    import graft.analytics.TextAnalysis
    val fixture = spark.read.parquet(s"$sfDir/documents.parquet")
    val toks = fixture.select($"source",
      explode(TextAnalysis.tokens($"text")).as("w"))
    val eps = 0.001
    val sketches = Dedup.cmsPerGroup(toks, "source", "w", eps = eps)
    val merged = Dedup.cmsMerge(
      sketches.collect().map(_.getAs[Array[Byte]]("cms")).toSeq)
    val exact = toks.groupBy("w").agg(count(lit(1)).as("n"))
      .as[(String, Long)].collect()
    val total = merged.totalCount()
    assert(total === exact.map(_._2).sum) // merge preserves the stream length
    exact.foreach { case (w, n) =>
      val est = merged.estimateCount(w)
      assert(est >= n, s"CMS underestimated '$w': $est < $n")
      assert(est <= n + math.ceil(eps * total).toLong,
        s"CMS over bound for '$w': $est > $n + eps*N")
    }
  }

  test("simhash: identical docs distance 0, near-dups close, distinct far") {
    val sigs = docs.select($"doc_id", Dedup.simHash64($"text").as("sig"))
      .as[(Long, Long)].collect().toMap
    assert(Dedup.hammingDist(sigs(1L), sigs(4L)) === 0)
    assert(Dedup.hammingDist(sigs(1L), sigs(2L)) < Dedup.hammingDist(sigs(1L), sigs(3L)))
  }
}
