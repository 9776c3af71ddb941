package graft.index

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.graph.PropertyGraph
import graft.analytics.IterCheckpoint.IterCheckpointOps

/** A vector index: rows (id, key, node map, emb, nrm, bks — the 8 sign-LSH
  * bucket ids), identity `id` (a relationship's is the xxhash64 of its
  * endpoint keys). Persisted, one row per (table, bucket) membership with
  * the payload inline, partitioned on pbh = t·64 + (bucket >> 6) ∈
  * [0, 512): a probe prunes to one directory per table and its pushed
  * bucket equality finishes the cut. The 8× row amplification is storage
  * traded for sublinear query IO, the trade an HNSW makes with memory; a
  * probe must never re-join payloads against an O(N) table. */
final class VectorIndex(name: String, label: String, val prop: String,
    val dim: Int, val similarityFunction: String, isRel: Boolean,
    ctx: IndexCatalog) extends LiveIndex[Unit](name, label, isRel, ctx) {
  import VectorIndex._

  protected def counters: IndexCounters = ctx.vectorCounters
  protected def keyCol = "id"
  protected def partCol = "pbh"
  protected def sortCol = "bucket"
  protected def partDirs: Int = PartDirs
  protected def scratchKind = "vec"
  /** The row threshold made byte-aware: its memory math holds for
    * 64-dim embeddings (~512 B/row), so the row allowance scales down
    * with the declared dimension — a 1536-dim index persists 24×
    * earlier. */
  protected def threshold: Long = ctx.memThreshold * 64L / math.max(dim, 64).toLong
  protected def overlayLoad(st: ServingState[Unit]): DataFrame = st.overlayKeys
  protected def layoutRows(rows: DataFrame): DataFrame =
    rows.select(col("id"), col("key"), col("node"), col("emb"), col("nrm"),
      col("bks"), posexplode(col("bks")).as(Seq("t", "bucket")))
  protected def partition: Column =
    col("t") * lit(64) + shiftright(col("bucket"), 6)

  /** PARTITION-SCOPED reclamation: only the pbh partitions whose
    * superseded-row count crosses the uniform-average bar at the trigger
    * are rewritten — skewed write patterns (similar vectors share
    * buckets) pay IO for their own partitions, not the whole layout. */
  override protected def denseParts(superseded: DataFrame,
      trigger: Long): Seq[Int] = {
    val minRows = math.max(1L, trigger * LshTables / PartDirs)
    superseded.groupBy("pbh").agg(count(lit(1)).as("__c"))
      .filter(col("__c") >= minRows)
      // bounded: one row per pbh directory (≤ PartDirs = 512)
      .select(col("pbh")).collect().map(_.getInt(0)).toSeq
  }

  private def cosine = similarityFunction == "cosine"

  /** Whether `emb` is a value this index accepts: `dim` numeric
    * components and, for cosine, a nonzero norm (cosine is undefined at
    * zero; euclidean legally indexes the origin). */
  def valid(emb: Column): Column = {
    val shape = size(emb) === dim && !exists(emb, _.isNull)
    if (cosine) shape && norm2(emb) > 0.0 else shape
  }

  /** What [[valid]] requires, for error messages. */
  def requirement: String =
    s"$dim numeric components" + (if (cosine) " with a nonzero norm" else "")

  private def rows(pop: DataFrame): DataFrame =
    pop.filter(element_at(col("props"), prop).isNotNull)
      .select(col("id"), col("key"), entityMap.as("node"),
        parseVector(element_at(col("props"), prop)).as("emb"))

  /** nrm and bks, guarded by `ok` so a malformed vector never reaches
    * the bucket kernel. */
  private def geometry(rows: DataFrame, ok: Column): DataFrame = rows
    .withColumn("nrm", when(ok, sqrt(norm2(col("emb")))))
    .withColumn("bks", when(ok, graft.functions.NativeExpressions
      .portableLshBuckets(col("emb"), LshTables, LshBits, dim)))

  /** ONE pass: validity and geometry derive in the same projection, the
    * frame pins once, and validation reads a sample malformed key
    * observed on the pin itself (plus `observe`) — a wrong dimension,
    * non-numeric component or zero cosine vector names the entity. */
  private def validated(rows: DataFrame,
      observe: Column*): (DataFrame, Map[String, Any]) = {
    val (derived, m) = geometry(rows.withColumn("__ok", valid(col("emb"))),
      col("__ok")).iterCheckpointObserve(
      observe :+ max(when(!col("__ok"), col("key"))).as("badKey"): _*)
    m.get("badKey").collect { case k: String => k }.foreach { k =>
      throw new IllegalStateException(s"vector index '$name': " +
        s"${if (isRel) "relationship" else "node"} '$k' has a malformed " +
        s"$prop — every indexed value must be $requirement")
    }
    (derived.drop("__ok"), m)
  }

  protected def build(cur: PropertyGraph): (DataFrame, Long, Unit) = {
    val (data, m) = validated(rows(population(cur)), count(lit(1)).as("n"))
    (data, m.get("n").collect { case l: Long => l }.getOrElse(0L), ())
  }

  protected def fresh(st: ServingState[Unit], cur: PropertyGraph,
      delta: DataFrame, keys: DataFrame, validate: Boolean): (DataFrame, Unit) = {
    val r = rows(population(cur, delta))
    (if (validate) validated(r)._1 else geometry(r, lit(true)), ())
  }

  /** The first id among `targets` (id, __wval rendered vector) of this
    * index's label in `g` whose value the index would reject. */
  def firstRejected(targets: DataFrame, g: PropertyGraph): Option[Long] =
    targets
      .join(g.nodes.filter(col("label") === label).select(col("id")),
        Seq("id"), "left_semi")
      .filter(!valid(parseVector(col("__wval"))))
      .select(col("id")).limit(1).collect().headOption.map(_.getLong(0))

  /** Top-`k` (node|relationship, score) rows for query vector `qv`.
    * The ONE query vector is bucketed driver-side with the same plane
    * family as the rows (bit i of table t set iff plane·x >= 0), so
    * candidates come off the serving state as literal bucket equalities —
    * in memory a filter with no join, persisted one partition-pruned
    * probe per table; exact re-scoring ranks them. */
  def query(qv: Array[Double], k: Int, wantRel: Boolean): DataFrame = {
    // a NODE index serves queryNodes, a RELATIONSHIP index
    // queryRelationships — never both
    if (isRel != wantRel) throw new IllegalArgumentException(
      s"vector index '$name' indexes " +
        (if (isRel) "RELATIONSHIP properties — query it with " +
          "db.index.vector.queryRelationships"
         else "NODE properties — query it with db.index.vector.queryNodes"))
    require(qv.length == dim,
      s"query vector has ${qv.length} dimensions; index '$name' expects $dim")
    val qn2 = qv.foldLeft(0.0)((a, x) => a + x * x)
    // euclidean legally queries from the origin
    if (cosine) require(qn2 > 0.0, "query vector must have a nonzero norm")
    val planes = graft.functions.DedupKernels.lshPlanes(LshTables, LshBits, dim)
    val qb = Array.tabulate(LshTables) { t =>
      var b = 0L
      var i = 0
      while (i < LshBits) {
        var dot = 0.0
        var j = 0
        while (j < dim) { dot += planes(t)(i)(j) * qv(j); j += 1 }
        if (dot >= 0.0) b |= 1L << i
        i += 1
      }
      b
    }
    val bucketHit = (0 until LshTables)
      .map(t => element_at(col("bks"), t + 1) === lit(qb(t)))
      .reduce(_ || _)
    // persisted: the literal pbh prunes directories, the pushed bucket
    // equality prunes pages — per-query IO tracks CANDIDATES. A row
    // colliding in several tables is kept only at its FIRST matching
    // table (literal conjunction per probe; no distinct, no shuffle).
    def probes(frame: DataFrame): DataFrame = (0 until LshTables).map { t =>
      var pr = frame.filter(col("pbh") === lit(t * 64 + (qb(t) >> 6).toInt) &&
        col("t") === lit(t) && col("bucket") === lit(qb(t)))
      (0 until t).foreach { tp =>
        pr = pr.filter(element_at(col("bks"), tp + 1) =!= lit(qb(tp)))
      }
      pr.select(col("id"), col("key"), col("node"), col("emb"), col("nrm"),
        col("gen"))
    }.reduce(_ unionByName _)
    val cand = probeRows(serve(), bucketHit, probes,
      Seq("id", "key", "node", "emb", "nrm"))
    val qlit = typedlit(qv.toSeq)
    // Neo4j's score normalizations, left-fold arithmetic so the doubles
    // replay in the DuckDB oracle: cosine → (1 + cos)/2, euclidean →
    // 1 / (1 + squared distance)
    val score =
      if (!cosine) lit(1.0) / (lit(1.0) + aggregate(
        zip_with(col("emb"), qlit, (a, b) => (a - b) * (a - b)),
        lit(0.0), (acc, x) => acc + x))
      else (lit(1.0) + aggregate(zip_with(col("emb"), qlit, (a, b) => a * b),
        lit(0.0), (acc, x) => acc + x) / (col("nrm") * lit(math.sqrt(qn2)))) /
        lit(2.0)
    cand.select(col("node"), score.as("score"), col("key"))
      // tie-break at the k boundary: (length, lex) on the key string IS
      // numeric order for canonically-rendered nonnegative integer keys —
      // the collation the DuckDB oracles use — and stays total for
      // arbitrary keys, so exact score ties select the same rows in both
      .orderBy(col("score").desc, length(col("key")), col("key"))
      .limit(k)
      .select(col("node").as(if (wantRel) "relationship" else "node"),
        col("score"))
  }
}

object VectorIndex {
  /** Sign-LSH geometry shared by every vector index: 8 tables × 12-bit
    * buckets over the portable md5-derived plane family — the d15/v15
    * production layout, SQL-replayable by the DuckDB oracle. */
  val LshTables = 8
  val LshBits = 12
  /** Persisted layout directories: pbh ∈ [0, 512) — one per (table,
    * 64-bucket slice), filesystem-friendly at any N. */
  val PartDirs = 512

  /** Parse a stored embedding (string rendering: optionally bracketed,
    * comma-separated numerics) to array<double>. try_cast: a malformed
    * component must surface as the build validation's typed error naming
    * the entity, not an ANSI mid-scan number-format exception. */
  def parseVector(raw: Column): Column =
    transform(split(regexp_replace(raw, "^\\s*\\[|\\]\\s*$", ""), ","),
      x => x.try_cast("double"))

  private def norm2(emb: Column): Column =
    aggregate(emb, lit(0.0), (a, x) => a + x * x)
}
