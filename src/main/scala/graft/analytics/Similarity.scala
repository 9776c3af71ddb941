package graft.analytics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions

/** Approximate-nearest-neighbor search over embedding columns.
  *
  * Baseline: brute-force cosine top-k with the query side broadcast — the
  * corpus is never shuffled, scan stays embarrassingly parallel. Scale path:
  * random-hyperplane LSH bucketing turns the cross product into an equi-join
  * on bucket ids (tunable recall/cost via nBits).
  */
object Similarity {

  /** Brute-force cosine top-k. `queries` must be dim-table-sized (it is
    * broadcast to every corpus partition); corpus side streams. Returns
    * (q_id, rank, id, cosine) with rank 1..k per query. */
  def cosineTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      corpusId: String = "id", corpusVec: String = "vec",
      queryId: String = "q_id", queryVec: String = "q_vec"): DataFrame = {
    val scored = corpus.crossJoin(broadcast(queries))
      .filter(col(queryId) =!= col(corpusId))
      .withColumn("cosine", VectorFunctions.cosine(col(queryVec), col(corpusVec)))
    val w = Window.partitionBy(col(queryId)).orderBy(col("cosine").desc, col(corpusId))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(queryId), col("rank"), col(corpusId), col("cosine"))
  }

  /** Maximal-marginal-relevance diversified top-k (Carbonell & Goldstein,
    * SIGIR'98): greedily pick k results trading relevance against
    * redundancy — step score = λ·cos(q,c) − (1−λ)·max_{s∈selected}
    * cos(c,s). The retrieval-diversification pass a training-data
    * pipeline runs after ANN so near-duplicate hits don't crowd the
    * result list; λ=1 degenerates to plain top-k (spec-asserted).
    *
    * Set-oriented greedy: ALL queries advance one selection step per
    * round (k bounded driver loop, never a per-query loop). Relevance
    * scoring is the [[cosineTopK]] broadcast scan; each subsequent step
    * is one anti-join (pool minus selected) + a pairwise-cosine join
    * against the ≤step-row selected set per query — work is
    * |queries|·poolSize·k, independent of corpus size after pooling.
    * Every arithmetic step is the d06-proven left-fold cosine + scalar
    * mults, so ranks AND scores hash-match cross-engine. */
  def mmrTopK(corpus: DataFrame, queries: DataFrame, k: Int, poolSize: Int,
      lambda: Double): DataFrame = {
    val scored = corpus.crossJoin(broadcast(queries))
      .filter(col("q_id") =!= col("id"))
      .withColumn("cosine", VectorFunctions.cosine(col("q_vec"), col("vec")))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("id"))
    val pool = scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= poolSize)
      .select(col("q_id"), col("id"), col("vec"), col("cosine"), col("rn"))
      .localCheckpoint(true)
    // step 1: pure relevance (max-sim to the empty selected set is 0)
    var selected = pool.filter(col("rn") === 1)
      .select(col("q_id"), col("id"), col("vec"), lit(1).as("rank"),
        (lit(lambda) * col("cosine")).as("mmr"))
      .localCheckpoint(true)
    for (step <- 2 to k) {
      val cand = pool.join(selected.select("q_id", "id"), Seq("q_id", "id"), "left_anti")
      val maxsim = cand
        .join(selected.select(col("q_id"), col("vec").as("s_vec")), Seq("q_id"))
        .select(col("q_id"), col("id"),
          VectorFunctions.cosine(col("vec"), col("s_vec")).as("sim"))
        .groupBy("q_id", "id").agg(max("sim").as("max_sim"))
      val stepScored = cand.join(maxsim, Seq("q_id", "id"))
        .withColumn("mmr",
          lit(lambda) * col("cosine") - lit(1.0 - lambda) * col("max_sim"))
      val ws = Window.partitionBy("q_id").orderBy(col("mmr").desc, col("id"))
      val pick = stepScored.withColumn("prn", row_number().over(ws))
        .filter(col("prn") === 1)
        .select(col("q_id"), col("id"), col("vec"), lit(step).as("rank"), col("mmr"))
      selected = selected.unionByName(pick).localCheckpoint(true)
    }
    selected.select(col("q_id"), col("rank"), col("id"), col("mmr"))
  }

  /** Deterministic random hyperplanes (fixed seed → same planes on every
    * executor and every run). */
  def randomHyperplanes(nBits: Int, dim: Int, seed: Long): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(nBits, dim)(rnd.nextGaussian())
  }

  /** Sign-of-projection LSH bucket id for a vector column (one codegen'd
    * dot product per plane against a literal array). */
  def lshBucket(vec: Column, planes: Array[Array[Double]]): Column =
    planes.zipWithIndex.map { case (p, i) =>
      val proj = graft.functions.NativeExpressions.dotProduct(vec, typedlit(p.toSeq))
      when(proj >= 0.0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ bitwiseOR _)

  /** LSH-bucketed ANN top-k: candidates = same-bucket corpus rows only.
    * Recall is governed by nBits (fewer bits → bigger buckets → higher
    * recall, more compute). */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int, nBits: Int,
      dim: Int, seed: Long = 42L,
      corpusId: String = "id", corpusVec: String = "vec",
      queryId: String = "q_id", queryVec: String = "q_vec"): DataFrame =
    lshTopKWithPlanes(corpus, queries, k, randomHyperplanes(nBits, dim, seed),
      corpusId, corpusVec, queryId, queryVec)

  /** [[lshTopK]] over the PORTABLE plane family ([[portablePlanes]], table
    * 0) — bucket assignment, candidate set and ranking all reproducible by
    * the DuckDB oracle, promoting the approximate top-k itself to a full
    * hash check (recall remains the LSH trade, and remains spec-asserted). */
  def lshTopKPortable(corpus: DataFrame, queries: DataFrame, k: Int,
      nBits: Int, dim: Int,
      corpusId: String = "id", corpusVec: String = "vec",
      queryId: String = "q_id", queryVec: String = "q_vec"): DataFrame =
    lshTopKWithPlanes(corpus, queries, k, portablePlanes(0, nBits, dim),
      corpusId, corpusVec, queryId, queryVec)

  /** Metadata-FILTERED LSH top-k — production "filtered vector search"
    * (per-tenant corpora, label-scoped retrieval, quality-gated RAG): the
    * metadata columns join as PART OF the candidate key (bucket +
    * `filterCols`), so filtering happens INSIDE candidate generation.
    * The alternative — post-filtering an unfiltered top-k — silently
    * under-delivers k whenever the filter removes ranked hits; scoring
    * candidates the filter will discard is also pure waste. At 100 TB the
    * filter columns ride the same equi-join key as the bucket: zero extra
    * passes, and a selective filter SHRINKS the collision floor instead
    * of post-processing it. Both sides must carry every `filterCols`
    * column under the same name. */
  def lshTopKFilteredPortable(corpus: DataFrame, queries: DataFrame, k: Int,
      nBits: Int, dim: Int, filterCols: Seq[String],
      corpusId: String = "id", corpusVec: String = "vec",
      queryId: String = "q_id", queryVec: String = "q_vec"): DataFrame = {
    val planes = portablePlanes(0, nBits, dim)
    val c = corpus.withColumn("__bucket", lshBucket(col(corpusVec), planes))
    val q = queries.withColumn("__bucket", lshBucket(col(queryVec), planes))
    val scored = c.join(broadcast(q), Seq("__bucket") ++ filterCols)
      .filter(col(queryId) =!= col(corpusId))
      .withColumn("cosine", VectorFunctions.cosine(col(queryVec), col(corpusVec)))
    val w = Window.partitionBy(col(queryId)).orderBy(col("cosine").desc, col(corpusId))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select((Seq(col(queryId), col("rank"), col(corpusId), col("cosine"))
        ++ filterCols.map(col)): _*)
  }

  private def lshTopKWithPlanes(corpus: DataFrame, queries: DataFrame, k: Int,
      planes: Array[Array[Double]],
      corpusId: String, corpusVec: String,
      queryId: String, queryVec: String): DataFrame = {
    val c = corpus.withColumn("__bucket", lshBucket(col(corpusVec), planes))
    val q = queries.withColumn("__bucket", lshBucket(col(queryVec), planes))
    val scored = c.join(broadcast(q), Seq("__bucket"))
      .filter(col(queryId) =!= col(corpusId))
      .withColumn("cosine", VectorFunctions.cosine(col(queryVec), col(corpusVec)))
    val w = Window.partitionBy(col(queryId)).orderBy(col("cosine").desc, col(corpusId))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(queryId), col("rank"), col(corpusId), col("cosine"))
  }

  /** IVF (inverted-file) ANN top-k — the other standard scale path next to
    * [[lshTopK]]: the corpus is partitioned into `nlist` Voronoi cells
    * around centroids, each query probes only its `nprobe` nearest cells, so
    * scored candidates shrink by ~nprobe/nlist. Centroids here are a
    * deterministic sample (first `nlist` corpus vectors by id);
    * [[ivfTopKTrained]] uses real MLlib k-means centroids with the same
    * partition/probe machinery. Cell assignment is a broadcast argmin,
    * candidate generation an equi-join on cell id — never a corpus×corpus
    * product. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int, nlist: Int, nprobe: Int,
      corpusId: String = "id", corpusVec: String = "vec",
      queryId: String = "q_id", queryVec: String = "q_vec"): DataFrame =
    ivfTopKWith(
      corpus.orderBy(col(corpusId)).limit(nlist)
        .select(col(corpusId).as("__cent_id"), col(corpusVec).as("__cent_vec")),
      corpus, queries, k, nprobe, corpusId, corpusVec, queryId, queryVec)

  /** Real k-means centroids for IVF (Spark MLlib `KMeans`, fixed seed → the
    * standard trained variant of [[ivfTopK]]'s deterministic sample).
    * Returns (__cent_id, __cent_vec). */
  def kmeansCentroids(corpus: DataFrame, vecCol: String, k: Int,
      seed: Long = 42L, maxIter: Int = 20): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val spark = corpus.sparkSession
    import spark.implicits._
    val feats = corpus.select(
      array_to_vector(col(vecCol).cast("array<double>")).as("__feat"))
    val model = new KMeans().setK(k).setSeed(seed).setMaxIter(maxIter)
      .setFeaturesCol("__feat").fit(feats)
    model.clusterCenters.zipWithIndex.toSeq
      .map { case (c, i) => (i.toLong, c.toArray.toSeq) }
      .toDF("__cent_id", "__cent_vec")
  }

  /** [[ivfTopK]] with k-means-trained cells instead of the sampled ones. */
  def ivfTopKTrained(corpus: DataFrame, queries: DataFrame, k: Int, nlist: Int,
      nprobe: Int, seed: Long = 42L,
      corpusId: String = "id", corpusVec: String = "vec",
      queryId: String = "q_id", queryVec: String = "q_vec"): DataFrame =
    ivfTopKWith(kmeansCentroids(corpus, corpusVec, nlist, seed),
      corpus, queries, k, nprobe, corpusId, corpusVec, queryId, queryVec)

  /** DETERMINISTIC bounded Lloyd's k-means — the cross-engine-reproducible
    * twin of [[kmeansCentroids]]: init is the v04 policy (first `k` corpus
    * vectors by id, cast to double — exact widening), then a FIXED `iters`
    * assign/update rounds. The update routes element sums through
    * DECIMAL(20,10) (the v05 centroid trick) so accumulation ORDER cannot
    * change a single bit — partial aggregation, retries, and speculative
    * re-execution all yield the identical centroid, which is also what a
    * 100 TB run needs for reproducibility. Assignment is the shared
    * broadcast-argmin ([[nearestCells]]); a cell that loses all members
    * keeps its previous centroid (left-join coalesce). Centroids (k·dim
    * doubles) are collected between rounds — the bounded-collect policy of
    * the PQ codebook, and how any driver-iterated k-means (MLlib included)
    * carries centroids; the corpus itself never leaves the executors.
    * Returns (__cent_id, __cent_vec) for [[ivfTopKWith]]. */
  def lloydCentroids(corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val spark = corpus.sparkSession
    var cent = corpus.orderBy(col(idCol)).limit(k)
      .select(col(idCol).as("__cent_id"),
        col(vecCol).cast("array<double>").as("__cent_vec"))
    for (_ <- 1 to iters) {
      val assigned = nearestCells(broadcast(cent), corpus, idCol, vecCol, 1)
      val meanByDim = assigned
        .select(col("__cell"),
          posexplode(col(vecCol).cast("array<double>")).as(Seq("__dim", "__v")))
        .groupBy("__cell", "__dim")
        .agg((sum(col("__v").cast(DecimalType(20, 10))).cast("double") /
          count(lit(1))).as("__cv"))
      val updated = meanByDim.groupBy(col("__cell").as("__cent_id"))
        .agg(transform(
          array_sort(collect_list(struct(col("__dim"), col("__cv")))),
          x => x.getField("__cv")).as("__new_vec"))
      val next = cent.alias("c")
        .join(updated.alias("u"), col("c.__cent_id") === col("u.__cent_id"), "left")
        .select(col("c.__cent_id"),
          coalesce(col("u.__new_vec"), col("c.__cent_vec")).as("__cent_vec"))
      // bounded: k·dim doubles; truncates lineage so round r+1's broadcast
      // doesn't re-run round r's aggregation per use
      cent = spark.createDataFrame(
        java.util.Arrays.asList(next.collect(): _*), next.schema)
    }
    cent
  }

  /** [[ivfTopK]] with [[lloydCentroids]]-trained cells — same probe
    * machinery, but every double in training is bit-reproducible by the
    * DuckDB oracle (the iterations unroll into assign/avg CTEs). */
  def ivfTopKLloyd(corpus: DataFrame, queries: DataFrame, k: Int, nlist: Int,
      nprobe: Int, iters: Int,
      corpusId: String = "id", corpusVec: String = "vec",
      queryId: String = "q_id", queryVec: String = "q_vec"): DataFrame =
    ivfTopKWith(lloydCentroids(corpus, corpusId, corpusVec, nlist, iters),
      corpus, queries, k, nprobe, corpusId, corpusVec, queryId, queryVec)

  /** Product-quantization ANN top-k — the MEMORY-compressed scale path next
    * to [[lshTopK]]/[[ivfTopK]]'s candidate-pruning ones: each vector is
    * encoded once as `m` sub-space centroid codes (m bytes vs dim·4 — a
    * 32× shrink at dim=64/m=8), and query scoring reads ONLY the codes via
    * an asymmetric-distance table (ADC): score = Σ_s dtab[s][code_s]. The
    * codebook is a deterministic sample (sub-vectors of the first `ksub`
    * corpus vectors by id — [[ivfTopK]]'s centroid policy); encoding is
    * map-only over the corpus with the codebook a broadcast literal;
    * queries carry their per-sub-space distance tables through a broadcast
    * join, so the corpus is never shuffled. Scores are squared-L2 up to the
    * per-query constant ‖q‖² (dropped — it cannot change any ranking). At
    * 100 TB this composes with IVF cells (IVF-PQ): the cell equi-join
    * prunes candidates, the codes make the scan that remains fit in
    * memory. Approximate by construction (in-cluster members quantize to
    * the same codes and tie) — spec'd for cluster fidelity + determinism,
    * and since round 6 the deterministic-sample codebook makes the whole
    * pipeline oracle-hashed; exact intra-cluster ranking is
    * [[pqRerankTopK]], the re-rank stage over the raw vectors of the ADC
    * top-N. */
  def pqTopK(corpus: DataFrame, queries: DataFrame, k: Int, m: Int, ksub: Int,
      dim: Int, corpusId: String = "id", corpusVec: String = "vec",
      queryId: String = "q_id", queryVec: String = "q_vec"): DataFrame = {
    val cb = pqCodebook(corpus, corpusId, corpusVec, m, ksub, dim)
    val encoded = corpus.select(col(corpusId),
      cb.codesCol(col(corpusVec).cast("array<double>")).as("__codes"))
    val q = queries.select(col(queryId),
      cb.dtabCol(col(queryVec).cast("array<double>")).as("__dtab"))
    val scored = encoded.join(broadcast(q))
      .filter(col(queryId) =!= col(corpusId))
      .withColumn("score", cb.adcScore)
    val w = Window.partitionBy(col(queryId)).orderBy(col("score"), col(corpusId))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(queryId), col("rank"), col(corpusId), col("score"))
  }

  /** Two-stage PQ search — the exact-re-rank composition [[pqTopK]]'s doc
    * names as the answer to ADC's tie-heavy intra-cluster ordering: ADC
    * top-`n` candidates per query (reads only the m-byte codes), then
    * EXACT cosine over just those n raw vectors → top-`k`. At 100 TB the
    * first stage touches m bytes per corpus row and the second touches
    * n raw vectors per query — the standard recall/cost ladder. The
    * candidate set is broadcast back against the corpus (n·|queries|
    * rows), so the raw vectors of non-candidates are never read twice. */
  def pqRerankTopK(corpus: DataFrame, queries: DataFrame, k: Int, n: Int,
      m: Int, ksub: Int, dim: Int,
      corpusId: String = "id", corpusVec: String = "vec",
      queryId: String = "q_id", queryVec: String = "q_vec"): DataFrame = {
    require(n >= k, s"re-rank pool n=$n must be >= k=$k")
    val cand = pqTopK(corpus, queries, n, m, ksub, dim,
      corpusId, corpusVec, queryId, queryVec).select(col(queryId), col(corpusId))
    val scored = corpus.join(broadcast(cand), Seq(corpusId))
      .join(broadcast(queries), Seq(queryId))
      .withColumn("cosine", VectorFunctions.cosine(col(queryVec), col(corpusVec)))
    val w = Window.partitionBy(col(queryId)).orderBy(col("cosine").desc, col(corpusId))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(queryId), col("rank"), col(corpusId), col("cosine"))
  }

  /** IVF-PQ — the composition [[pqTopK]]'s doc promises at 100 TB: IVF
    * cells prune the candidate set (query probes only its `nprobe` nearest
    * cells — the equi-join on cell id replaces the full broadcast scan),
    * and PQ codes make the scan that remains read m bytes per candidate
    * instead of the raw vector. Same deterministic-sample policies as
    * [[ivfTopK]] (cells) and [[pqTopK]] (codebook); both corpus passes
    * (cell assignment + encoding) are map-only against broadcast
    * centroid literals. */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, k: Int, nlist: Int,
      nprobe: Int, m: Int, ksub: Int, dim: Int,
      corpusId: String = "id", corpusVec: String = "vec",
      queryId: String = "q_id", queryVec: String = "q_vec"): DataFrame = {
    val cb = pqCodebook(corpus, corpusId, corpusVec, m, ksub, dim)
    val centroids = broadcast(
      corpus.orderBy(col(corpusId)).limit(nlist)
        .select(col(corpusId).as("__cent_id"), col(corpusVec).as("__cent_vec")))
    val corpusCells = nearestCells(centroids, corpus, corpusId, corpusVec, 1)
      .select(col(corpusId), col("__cell"),
        cb.codesCol(col(corpusVec).cast("array<double>")).as("__codes"))
    val queryProbes = nearestCells(centroids, queries, queryId, queryVec, nprobe)
      .select(col(queryId), col("__cell"),
        cb.dtabCol(col(queryVec).cast("array<double>")).as("__dtab"))
    val scored = corpusCells.join(broadcast(queryProbes), Seq("__cell"))
      .filter(col(queryId) =!= col(corpusId))
      .withColumn("score", cb.adcScore)
    val w = Window.partitionBy(col(queryId)).orderBy(col("score"), col(corpusId))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(queryId), col("rank"), col(corpusId), col("score"))
  }

  /** Shared PQ machinery: the deterministic sampled codebook plus the
    * column builders for corpus codes, per-query ADC distance tables, and
    * the code-indexed score. Codes and tables run through the fused
    * [[graft.functions.PqCodes]]/[[graft.functions.PqDtab]] kernels —
    * one pass per row with the codebook a task-binary reference, instead
    * of m×ksub literal-dot struct expressions whose generated code volume
    * dominated v10/v11 (10.6 s → sub-second for a 20k-row sf1 corpus). */
  private[analytics] case class PqCodebook(m: Int, dsub: Int,
      book: Array[Array[(Array[Double], Double)]]) {
    private val cen: Array[Array[Array[Double]]] = book.map(_.map(_._1))
    private val cc: Array[Array[Double]] = book.map(_.map(_._2))
    def codesCol(vec: Column): Column =
      graft.functions.NativeExpressions.pqCodes(vec, cen, cc)
    def dtabCol(vec: Column): Column =
      graft.functions.NativeExpressions.pqDtab(vec, cen, cc)
    def adcScore: Column = (0 until m).map(s =>
      element_at(element_at(col("__dtab"), s + 1),
        element_at(col("__codes"), s + 1) + 1)).reduce(_ + _)
  }

  private[analytics] def pqCodebook(corpus: DataFrame, corpusId: String,
      corpusVec: String, m: Int, ksub: Int, dim: Int): PqCodebook = {
    require(dim % m == 0, s"dim $dim must divide into $m sub-spaces")
    val dsub = dim / m
    val sample: Array[Array[Double]] = corpus.orderBy(col(corpusId)).limit(ksub)
      // bounded: ksub codebook sample vectors (limit above)
      .select(col(corpusVec).cast("array<double>")).collect()
      .map(_.getSeq[Double](0).toArray)
    require(sample.length >= 2, "PQ codebook needs at least 2 sampled vectors")
    // codebook(s)(c) = centroid c of sub-space s, with its ‖c‖² precomputed
    PqCodebook(m, dsub, Array.tabulate(m) { s =>
      sample.map { v =>
        val sub = v.slice(s * dsub, (s + 1) * dsub)
        (sub, sub.map(x => x * x).sum)
      }
    })
  }

  /** Nearest `n` centroid cells per row — broadcast-argmin against the
    * centroid literal set; shared by the IVF family. */
  private def nearestCells(centroids: DataFrame, df: DataFrame, idC: String,
      vecC: String, n: Int): DataFrame = {
    val scored = df.crossJoin(centroids)
      .withColumn("__sim", VectorFunctions.cosine(col(vecC), col("__cent_vec")))
    val w = Window.partitionBy(col(idC)).orderBy(col("__sim").desc, col("__cent_id"))
    scored.withColumn("__cr", row_number().over(w)).filter(col("__cr") <= n)
      .select(df.columns.toIndexedSeq.map(col) :+ col("__cent_id").as("__cell"): _*)
  }

  private def ivfTopKWith(centroidDf: DataFrame,
      corpus: DataFrame, queries: DataFrame, k: Int, nprobe: Int,
      corpusId: String, corpusVec: String,
      queryId: String, queryVec: String): DataFrame = {
    val centroids = broadcast(centroidDf)
    val corpusCells = nearestCells(centroids, corpus, corpusId, corpusVec, 1)
    val queryProbes = nearestCells(centroids, queries, queryId, queryVec, nprobe)
    val scored = corpusCells.join(broadcast(queryProbes), Seq("__cell"))
      .filter(col(queryId) =!= col(corpusId))
      .withColumn("cosine", VectorFunctions.cosine(col(queryVec), col(corpusVec)))
    val w = Window.partitionBy(col(queryId)).orderBy(col("cosine").desc, col(corpusId))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(queryId), col("rank"), col(corpusId), col("cosine"))
  }

  /** EXACT embedding-cosine near-duplicate pairs via a blocked (tiled) pair
    * equi-join — the matrix-tile decomposition of the n² pair space, never a
    * CartesianProduct/BroadcastNestedLoopJoin plan.
    *
    * Vectors are hashed into `blocks` uniform blocks; every unordered block
    * pair (bi ≤ bj) is one shuffle key ("tile"), so the quadratic work
    * spreads evenly over blocks·(blocks+1)/2 independent tasks and each task
    * scores one bounded (n/blocks)² tile. Shuffle volume is only
    * n·(blocks+1) rows (each vector is replicated once per tile it touches),
    * and per-vector norms are computed ONCE before the join — one dot
    * product per pair instead of three. Size `blocks` so a tile's
    * (n/blocks)² scoring fits a task: the tile count, not the corpus,
    * is what must exceed the cluster's parallelism.
    *
    * Why not LSH here: sign-LSH bucketing is the right candidate generator
    * for HIGH thresholds (see [[embeddingNearDupPairsLSH]]), but at a
    * moderate threshold like 0.4 a hyperplane agrees on a qualifying pair
    * with probability only ~0.63, so any table union with near-total recall
    * generates MORE candidates than the n²/2 exact tiling — approximation
    * buys nothing and forfeits exactness. This operator is the exact path;
    * results match the all-pairs formulation bit-for-bit.
    */
  def embeddingNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, blocks: Int = 16): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val tiles = (for { i <- 0 until blocks; j <- i until blocks }
      yield (i, j, i * blocks + j)).toDF("bi", "bj", "tile")
    val v = df.select(
      col(idCol), col(vecCol),
      pmod(xxhash64(col(idCol)), lit(blocks)).cast("int").as("__blk"),
      VectorFunctions.norm(col(vecCol)).as("__nrm"))
    val left = v.join(broadcast(tiles), col("__blk") === col("bi"))
      .select(col(idCol).as("id_l"), col(vecCol).as("vec_l"),
        col("__nrm").as("nrm_l"), col("bi"), col("bj"), col("tile"))
    val right = v.join(broadcast(tiles.select("bj", "tile").withColumnRenamed("bj", "bjr")),
        col("__blk") === col("bjr"))
      .select(col(idCol).as("id_r"), col(vecCol).as("vec_r"),
        col("__nrm").as("nrm_r"), col("tile"))
    val denom = col("nrm_l") * col("nrm_r")
    left.join(right, Seq("tile"))
      // off-diagonal tiles hold each cross-block pair exactly once (any id
      // order); diagonal tiles need the id ordering to halve the square
      .filter(col("bi") < col("bj") || col("id_l") < col("id_r"))
      .withColumn("cosine",
        when(denom === 0.0, 0.0)
          .otherwise(VectorFunctions.dot(col("vec_l"), col("vec_r")) / denom))
      .filter(col("cosine") >= threshold)
      .select(least(col("id_l"), col("id_r")).as("id_a"),
        greatest(col("id_l"), col("id_r")).as("id_b"), col("cosine"))
  }

  /** One sign-LSH bucket id per hash table (seed-chained plane sets). */
  def lshBucketArray(vec: Column, tables: Int, nBits: Int, dim: Int,
      seed: Long = 42L): Column =
    array((0 until tables).map(t =>
      lshBucket(vec, randomHyperplanes(nBits, dim, seed + 1000L * t))): _*)

  /** PORTABLE hyperplanes — the embedding-space twin of the md5-affine
    * MinHash family: plane weight (t, i, j) = md5-60("t:i:j") / 2^59 − 1,
    * uniform in [−1, 1). Every step is reproducible by any engine with md5
    * (the long→double conversion and the power-of-two divide are exact
    * IEEE ops), so the LSH bucket ids — and therefore the PAIR SET —
    * hash-check cross-engine, the same promotion d03 got for text LSH.
    * Sign-LSH only needs a sign-symmetric weight distribution; uniform
    * trades the Gaussian family's angle-exact collision curve for
    * bit-reproducibility, the right trade for a verification path. */
  def portablePlanes(table: Int, nBits: Int, dim: Int): Array[Array[Double]] =
    Array.tabulate(nBits, dim) { (i, j) =>
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"$table:$i:$j".getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString.substring(0, 15)
      // divide by the 2^59 literal, not pow(): libm pow is not guaranteed
      // correctly rounded, and the oracle must hit the identical double
      java.lang.Long.parseLong(hex, 16).toDouble / 576460752303423488.0d - 1.0
    }

  /** [[lshBucketArray]] over the portable plane family — computed by the
    * fused codegen'd kernel ([[graft.functions.PortableLshBuckets]]): one
    * pass over the vector for ALL tables×bits projections. The
    * compositional form below generates tables×nBits separate literal-array
    * dot expressions whose per-row code cost dominated d19's round-7
    * rehearsal (3× the exact tiling it should beat); the kernel is
    * bit-identical to it (spec-asserted) and to the oracle's replay. */
  def portableLshBucketArray(vec: Column, tables: Int, nBits: Int,
      dim: Int): Column =
    graft.functions.NativeExpressions.portableLshBuckets(vec, tables, nBits, dim)

  /** Compositional reference formulation of [[portableLshBucketArray]] —
    * kept for the kernel-equivalence spec (the [[VectorFunctions.dotHof]]
    * pattern). */
  def portableLshBucketArrayComposed(vec: Column, tables: Int, nBits: Int,
      dim: Int): Column =
    array((0 until tables).map(t =>
      lshBucket(vec, portablePlanes(t, nBits, dim))): _*)

  /** APPROXIMATE embedding-cosine near-dup pairs: candidates from a union of
    * `tables` independent sign-LSH hash tables (equi-join per table on
    * (table, bucket)), exact cosine verification, each pair emitted from its
    * FIRST colliding table only (codegen'd [[graft.functions.EarlierArrayMatch]]
    * — no pair-dedup shuffle). The scale path for HIGH thresholds, where
    * per-bit collision probability 1 − θ/π is near 1 and a few tables give
    * near-total recall over a tiny candidate set; recall vs the exact
    * [[embeddingNearDupPairs]] is spec-asserted on clustered data. */
  def embeddingNearDupPairsLSH(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, tables: Int, nBits: Int, dim: Int,
      seed: Long = 42L): DataFrame =
    nearDupPairsFromBuckets(df, idCol, vecCol, threshold,
      lshBucketArray(col(vecCol), tables, nBits, dim, seed))

  /** [[embeddingNearDupPairsLSH]] over the PORTABLE plane family — the
    * fully oracle-checkable approximate path: bucket ids, candidate set,
    * and verified cosines are all reproducible by the DuckDB oracle, so
    * the gate hashes the approximate operator's OUTPUT, not just its
    * recall. Same join shape and first-collision dedup as the seeded
    * family. */
  def embeddingNearDupPairsLSHPortable(df: DataFrame, idCol: String,
      vecCol: String, threshold: Double, tables: Int, nBits: Int,
      dim: Int): DataFrame =
    nearDupPairsFromBuckets(df, idCol, vecCol, threshold,
      portableLshBucketArray(col(vecCol), tables, nBits, dim))

  private def nearDupPairsFromBuckets(df: DataFrame, idCol: String,
      vecCol: String, threshold: Double, bucketArray: Column): DataFrame = {
    val v = df.select(col(idCol), col(vecCol),
      bucketArray.as("__bkts"),
      VectorFunctions.norm(col(vecCol)).as("__nrm"))
    val a = v.select(col(idCol).as("id_a"), col(vecCol).as("vec_a"),
      col("__bkts").as("bkts_a"), col("__nrm").as("nrm_a"),
      posexplode(col("__bkts")).as(Seq("__t", "__bucket")))
    val b = v.select(col(idCol).as("id_b"), col(vecCol).as("vec_b"),
      col("__bkts").as("bkts_b"), col("__nrm").as("nrm_b"),
      posexplode(col("__bkts")).as(Seq("__t", "__bucket")))
    val denom = col("nrm_a") * col("nrm_b")
    a.join(b, Seq("__t", "__bucket"))
      .filter(col("id_a") < col("id_b"))
      .filter(!graft.functions.NativeExpressions.earlierArrayMatch(
        col("bkts_a"), col("bkts_b"), col("__t")))
      .withColumn("cosine",
        when(denom === 0.0, 0.0)
          .otherwise(VectorFunctions.dot(col("vec_a"), col("vec_b")) / denom))
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
  }
}
