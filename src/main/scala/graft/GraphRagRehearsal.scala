package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** GraphRAG session-shape rehearsal (round 11): the LangChain
  * Neo4jVector workload — a LIVE vector index under an add→query loop —
  * at the 100×-the-gate embedding count.
  *
  * Measures the maintenance split the engine implements:
  *   - index CREATE = the full build (one pass over N vectors: parse +
  *     norm + sign-LSH buckets, pinned);
  *   - setter→query rounds = the INCREMENTAL path (the setter patches the
  *     snapshot with its exact delta, so each round costs O(|delta|) +
  *     the probe, independent of N);
  *   - a FOREIGN-LABEL write (MERGE of an unrelated node) is scoped OUT
  *     of invalidation by the write lineage (round 12) — the serving
  *     state adopts the new instance, the next query pays the probe only;
  *   - a SAME-LABEL write to a different property patches the touched
  *     rows through the lineage's exact id delta (round 13) — the next
  *     query pays an O(|delta|) patch plus the probe, never the full
  *     rebuild the generic write path used to fall back to.
  *
  * Usage: `runMain graft.GraphRagRehearsal [dir]` (default
  * target/sf10_rehearsal — derive it with ScaleRehearsal first).
  */
object GraphRagRehearsal {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("target/sf10_rehearsal")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a = f
      (a, (System.nanoTime() - t0) / 1e9)
    }

    val emb = ops.Tables(spark, dir, "embeddings")
    val n = emb.count()
    val nodes = emb.select(lit("Doc").as("label"),
      col("vec_id").cast("string").as("key"),
      map(lit("embedding"), concat_ws(",",
        transform(col("embedding"),
          x => x.cast("double").cast("string")))).as("props"))
    val g = graph.PropertyGraph.empty(spark).mergeNodes(nodes).compact()
    val sess = new cypher.CypherSession(g,
      keyProps = Map("Doc" -> "vec_id"))
    val qvecs = emb.filter(col("vec_id") < 8)
      // bounded: the 8 fixed query vectors (vec_id < 8)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble)).toMap

    val (_, buildSec) = timed(sess.run(
      """CREATE VECTOR INDEX docs FOR (d:Doc) ON d.embedding
        |OPTIONS {indexConfig: {`vector.dimensions`: 64}}""".stripMargin))
    def query(v: Seq[Double]): Long = {
      val r = sess.run(
        "CALL db.index.vector.queryNodes('docs', 10, $q) " +
          "YIELD node, score RETURN node.vec_id AS hit, score",
        Map("q" -> v)).asInstanceOf[cypher.CypherRows]
      r.df.count()
    }
    val (_, warmSec) = timed(query(qvecs(0L)))

    // the add→query loop on the LIVE index: 5 rounds of setter + probe
    val roundSecs = (1L to 5L).map { k =>
      val (_, sec) = timed {
        sess.run(
          s"""MATCH (d:Doc {vec_id: '$k'})
             |CALL db.create.setNodeVectorProperty(d, 'embedding', $$v)
             |YIELD nodePropertiesWritten RETURN nodePropertiesWritten"""
            .stripMargin,
          Map("v" -> qvecs(0L)))
        query(qvecs(k % 8))
      }
      sec
    }
    val incUpdates = sess.vectorIndexIncrementalUpdates.get
    val fullBefore = sess.vectorIndexFullBuilds.get
    // round 12: a FOREIGN-LABEL write is label-scoped out of invalidation
    // — the serving state adopts the new instance and the next query pays
    // the probe only (was: a full rebuild, 28.9 s at 200k)
    sess.run("MERGE (p:Pub {name: 'outsider'})")
    val (_, foreignSec) = timed(query(qvecs(0L)))
    val foreignPaidFull = sess.vectorIndexFullBuilds.get - fullBefore
    // round 13 (VERDICT r12 #1): a SAME-LABEL write to a DIFFERENT
    // property patches the touched rows through the lineage's exact id
    // delta — write-path index cost scales with the BATCH, not the
    // corpus (was: the full-rebuild fallback, 13.8 s at 200k vectors)
    sess.run("MATCH (d:Doc {vec_id: '1'}) SET d.note = 'touched'")
    val (_, sameLabelSec) = timed(query(qvecs(0L)))
    val paidFull = sess.vectorIndexFullBuilds.get - fullBefore - foreignPaidFull

    // BATCHED ingest (round 12, VERDICT r11 #1): LangChain's actual
    // add_embeddings statement — ONE UNWIND batch pays one set-oriented
    // MERGE + one property-write pin + one index patch for ALL its
    // chunks, vs one O(N) pin PER CHUNK in the per-record rounds above.
    val batchN = 1000
    val batch = (0 until batchN).map { i =>
      Map("id" -> s"new$i", "embedding" -> qvecs(i % 8L)) }
    val (_, batchSec) = timed {
      sess.run(
        """UNWIND $data AS row
          |MERGE (d:Doc {vec_id: row.id})
          |WITH d, row
          |CALL db.create.setNodeVectorProperty(d, 'embedding', row.embedding)"""
          .stripMargin, Map("data" -> batch))
      query(qvecs(1L))
    }
    val incAfterBatch = sess.vectorIndexIncrementalUpdates.get

    // COMPACTION (round 14, VERDICT r13 #2): the overlay-overflow event
    // used to be a FULL rebuild (index_build_sec above — the one
    // write-path cost that scaled with the corpus); now it APPENDS the
    // overlay into the layout's touched pbh partitions as a new
    // generation. Measured at two overlay sizes: the cost must track the
    // OVERLAY (≈5k vs ≈10k rows → ~2×), never the 200k corpus (40× the
    // smaller overlay). The threshold drops to 4000 so the drill fits the
    // rehearsal; the mechanism is size-independent.
    spark.conf.set(cypher.CypherSession.IndexMemThresholdKey, "4000")
    // round 16: at the raised default threshold (262144) a 200k-vector
    // index serves IN-MEMORY — the phases above now measure that path
    // honestly — but this drill exercises the PERSISTED layout's
    // compaction/reclamation mechanics, so rebuild the index under the
    // drill threshold to force the layout to disk.
    sess.run("DROP INDEX docs")
    val (_, persistedBuildSec) = timed(sess.run(
      """CREATE VECTOR INDEX docs FOR (d:Doc) ON d.embedding
        |OPTIONS {indexConfig: {`vector.dimensions`: 64}}""".stripMargin))
    val comp0 = sess.vectorIndexCompactions.get
    val fullBeforeCompaction = sess.vectorIndexFullBuilds.get
    def ingest(tag: String, m: Int): Unit = sess.run(
      """UNWIND $data AS row
        |MERGE (d:Doc {vec_id: row.id})
        |WITH d, row
        |CALL db.create.setNodeVectorProperty(d, 'embedding', row.embedding)"""
        .stripMargin,
      Map("data" -> (0 until m).map(i =>
        Map("id" -> s"$tag$i", "embedding" -> qvecs(i % 8L)))))
    // per-phase attribution comes from the ENGINE's nanos counters: the
    // compacting WRITE statement also pays unrelated write-path costs
    // (MERGE anti-joins against the 200k store, graph lineage
    // compaction) that a wall clock would charge to compaction
    def compactNanos = sess.indexes.vectorCounters.compactionNanos.get
    def rewriteNanos = sess.indexes.vectorCounters.layoutRewriteNanos.get
    ingest("ca", 4000) // overlay ≈5005 ≥ 4000: the NEXT write compacts
    val cn0 = compactNanos
    val (_, compactAWallSec) = timed { ingest("cb", 1); query(qvecs(2L)) }
    val compactASec = (compactNanos - cn0) / 1e9
    val compactionsA = sess.vectorIndexCompactions.get - comp0
    ingest("cc", 10000) // overlay ≈10k: twice the first compaction's mass
    val cn1 = compactNanos
    val (_, compactBWallSec) = timed { ingest("cd", 1); query(qvecs(3L)) }
    val compactBSec = (compactNanos - cn1) / 1e9
    val compactions = sess.vectorIndexCompactions.get - comp0
    // tombstones ≈15k; one more overflow crosses the 4×4000 reclamation
    // trigger and pays the amortized layout REWRITE (pure layout IO —
    // stored geometry reused, no graph scan) inside its compaction
    // round 16 (VERDICT r15 #8): rewrites and zero-IO prunes are now
    // DISJOINT counters — this fresh-insert drill masks nothing, so the
    // expected outcome is prunes=1, rewrites=0, partitions=0
    val rw0 = sess.indexes.vectorCounters.layoutRewrites.get
    val pru0 = sess.indexes.vectorCounters.tombstonePrunes.get
    val rp0 = sess.indexes.vectorCounters.layoutRewritePartitions.get
    ingest("ce", 4000)
    val rn0 = rewriteNanos
    val (_, rewriteWallSec) = timed { ingest("cf", 1); query(qvecs(4L)) }
    val rewriteSec = (rewriteNanos - rn0) / 1e9
    val rewrites = sess.indexes.vectorCounters.layoutRewrites.get - rw0
    val prunes = sess.indexes.vectorCounters.tombstonePrunes.get - pru0
    // round 15 (VERDICT r14 #7): rewrite IO is PARTITION-SCOPED — the
    // partitions counter attributes how many of the 512 pbh dirs the
    // reclamation actually copied (a tombstone masking nothing prunes
    // for free, so a fresh-insert drill may copy none at all)
    val rewrotePartitions =
      sess.indexes.vectorCounters.layoutRewritePartitions.get - rp0
    val rebuildsDuringCompaction =
      sess.vectorIndexFullBuilds.get - fullBeforeCompaction

    // UPDATE-heavy reclamation (round 15, VERDICT r14 #7): re-ingest the
    // SAME ids with shifted embeddings so their compacted generations
    // become real garbage, then trigger reclamation — the rewrite must
    // copy only the pbh partitions the updated directions hash to
    // (proportional IO), never the whole 512-dir layout.
    def reingest(tag: String, m: Int, shift: Int): Unit = sess.run(
      """UNWIND $data AS row
        |MERGE (d:Doc {vec_id: row.id})
        |WITH d, row
        |CALL db.create.setNodeVectorProperty(d, 'embedding', row.embedding)"""
        .stripMargin,
      Map("data" -> (0 until m).map(i =>
        Map("id" -> s"$tag$i", "embedding" -> qvecs((i + shift) % 8L)))))
    val urw0 = sess.indexes.vectorCounters.layoutRewrites.get
    val urp0 = sess.indexes.vectorCounters.layoutRewritePartitions.get
    val urn0 = rewriteNanos
    reingest("ca", 4000, 1); query(qvecs(5L))
    reingest("cc", 10000, 1); query(qvecs(6L))
    var updateRounds = 0
    while (sess.indexes.vectorCounters.layoutRewrites.get == urw0 && updateRounds < 6) {
      updateRounds += 1
      reingest("ce", 4000, updateRounds); query(qvecs(7L))
    }
    val updateRewrites = sess.indexes.vectorCounters.layoutRewrites.get - urw0
    val updateRewritePartitions =
      sess.indexes.vectorCounters.layoutRewritePartitions.get - urp0
    val updateRewriteSec = (rewriteNanos - urn0) / 1e9
    val rebuildsAfterUpdates =
      sess.vectorIndexFullBuilds.get - fullBeforeCompaction
    spark.conf.set(cypher.CypherSession.IndexMemThresholdKey,
      cypher.CypherSession.IndexMemThresholdDefault.toString)

    println(s"""{"metric":"graphrag_rehearsal","vectors":$n,""" +
      s""""index_build_sec":${f"$buildSec%.2f"},""" +
      s""""persisted_layout_build_sec":${f"$persistedBuildSec%.2f"},""" +
      s""""warm_query_sec":${f"$warmSec%.2f"},""" +
      s""""setter_plus_query_sec":[${roundSecs.map(s0 => f"$s0%.2f").mkString(",")}],""" +
      s""""incremental_updates":$incUpdates,""" +
      s""""foreign_label_write_query_sec":${f"$foreignSec%.2f"},""" +
      s""""foreign_label_rebuilds_paid":$foreignPaidFull,""" +
      s""""same_label_write_query_sec":${f"$sameLabelSec%.2f"},""" +
      s""""full_rebuilds_paid":$paidFull,""" +
      s""""batched_ingest_chunks":$batchN,""" +
      s""""batched_ingest_plus_query_sec":${f"$batchSec%.2f"},""" +
      s""""batched_per_chunk_ms":${f"${batchSec / batchN * 1000}%.2f"},""" +
      s""""batch_incremental_patches":${incAfterBatch - incUpdates},""" +
      s""""compaction_5k_overlay_sec":${f"$compactASec%.2f"},""" +
      s""""compaction_5k_write_wall_sec":${f"$compactAWallSec%.2f"},""" +
      s""""compaction_10k_overlay_sec":${f"$compactBSec%.2f"},""" +
      s""""compaction_10k_write_wall_sec":${f"$compactBWallSec%.2f"},""" +
      s""""compactions":$compactions,""" +
      s""""compactions_at_first_probe":$compactionsA,""" +
      s""""layout_rewrite_sec":${f"$rewriteSec%.2f"},""" +
      s""""layout_rewrite_write_wall_sec":${f"$rewriteWallSec%.2f"},""" +
      s""""layout_rewrites":$rewrites,""" +
      s""""tombstone_prunes":$prunes,""" +
      s""""layout_rewrite_partitions":$rewrotePartitions,""" +
      s""""update_rewrites":$updateRewrites,""" +
      s""""update_rewrite_partitions":$updateRewritePartitions,""" +
      s""""update_rewrite_sec":${f"$updateRewriteSec%.2f"},""" +
      s""""update_rounds":$updateRounds,""" +
      s""""rebuilds_after_updates":$rebuildsAfterUpdates,""" +
      s""""rebuilds_during_compaction":$rebuildsDuringCompaction}""")
    spark.stop()
  }
}
