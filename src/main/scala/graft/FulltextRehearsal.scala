package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Fulltext live-index rehearsal (round 15, VERDICT r14 #1): the
  * crawler-shaped workload — a LIVE fulltext index under a continuous
  * write→query loop (`/root/reference/src/crwling.py:45-69` upserts one
  * article per loop iteration and readers search between writes) — at
  * the 100×-the-gate document count.
  *
  * Measures the write-path cost model of [[graft.index.LiveIndex]] on a
  * fulltext index (GraphRagRehearsal drives a vector index through it):
  *   - index CREATE = the full build (one tokenize pass over N docs,
  *     persisted term-bucketed postings layout);
  *   - write→query rounds = the INCREMENTAL path: O(|delta|)
  *     re-tokenize patching the pinned overlay, layout files untouched;
  *   - overlay overflow = MINOR COMPACTION — the overlay appends into
  *     its touched tb term-bucket dirs as a new generation plus a
  *     tombstone merge, O(|overlay|), never the corpus (this event was
  *     a full O(corpus) re-tokenize before round 15 — the engine's last
  *     corpus-scaled write-path event);
  *   - accumulated tombstones past factor×threshold = ONE amortized
  *     layout REWRITE (pure layout IO, stored postings reused, no
  *     re-tokenize).
  *
  * Usage: `runMain graft.FulltextRehearsal [dir]` (default
  * target/sf10_rehearsal — derive it with ScaleRehearsal first).
  */
object FulltextRehearsal {
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

    val docs = ops.Tables(spark, dir, "documents")
    val n = docs.count()
    val nodes = docs.select(lit("Article").as("label"),
      col("doc_id").cast("string").as("key"),
      map(lit("title"), col("text")).as("props"))
    val g = graph.PropertyGraph.empty(spark).mergeNodes(nodes).compact()
    val sess = new cypher.CypherSession(g,
      keyProps = Map("Article" -> "doc_id"))

    val (_, buildSec) = timed(sess.run(
      "CREATE FULLTEXT INDEX arts FOR (a:Article) ON EACH [a.title]"))
    def query(q: String): Long = sess.run(
      s"CALL db.index.fulltext.queryNodes('arts', '$q') " +
        "YIELD node, score RETURN node.doc_id AS hit, score " +
        "ORDER BY score DESC LIMIT 10")
      .asInstanceOf[cypher.CypherRows].df.count()
    val (_, warmSec) = timed(query("data"))

    // the write→query loop on the LIVE index: 5 rounds of upsert + probe
    // (the crawler's per-article MERGE shape, batched per loop pass)
    def ingest(tag: String, m: Int): Unit = sess.run(
      "UNWIND $data AS row MERGE (a:Article {doc_id: row.id}) " +
        "SET a.title = row.title",
      Map("data" -> (0 until m).map(i =>
        Map("id" -> s"$tag$i",
          "title" -> (s"fresh crawl pass $tag article $i about spark " +
            s"indexes token$tag$i")))))
    val roundSecs = (1 to 5).map { k =>
      val (_, sec) = timed { ingest(s"r$k-", 50); query("spark") }
      sec
    }
    val incUpdates = sess.fulltextIndexIncrementalUpdates.get
    val fullBefore = sess.fulltextIndexFullBuilds.get

    // COMPACTION: drop the threshold so the drill fits the rehearsal —
    // the mechanism is size-independent. Two overlay sizes: the cost
    // must track the OVERLAY (≈2× between them), never the 500k corpus.
    spark.conf.set(cypher.CypherSession.IndexMemThresholdKey, "4000")
    val comp0 = sess.fulltextIndexCompactions.get
    def compactNanos = sess.indexes.fulltextCounters.compactionNanos.get
    def rewriteNanos = sess.indexes.fulltextCounters.layoutRewriteNanos.get
    // ≈10 postings/doc at this title shape: 450 docs ≈ 4.5k ≥ 4000
    ingest("ca", 450) // overlay past threshold: the NEXT write compacts
    query("spark")
    val cn0 = compactNanos
    val (_, compactAWallSec) = timed { ingest("cb", 1); query("spark") }
    val compactASec = (compactNanos - cn0) / 1e9
    val compactionsA = sess.fulltextIndexCompactions.get - comp0
    ingest("cc", 900) // overlay ≈2× the first compaction's mass
    query("spark")
    val cn1 = compactNanos
    val (_, compactBWallSec) = timed { ingest("cd", 1); query("spark") }
    val compactBSec = (compactNanos - cn1) / 1e9
    val compactions = sess.fulltextIndexCompactions.get - comp0
    // tombstoned KEYS accumulate ~1.6k per round below; keep writing
    // until the 4×4000 = 16k reclamation trigger crosses inside a
    // compaction and pays the ONE amortized layout rewrite
    // reclamation events = rewrites + prunes (round 16, VERDICT r15 #8:
    // the counters are now DISJOINT — a fresh-insert drill resolves as a
    // zero-IO prune and must not masquerade as a rewrite)
    val rw0 = sess.indexes.fulltextCounters.layoutRewrites.get
    val pr00 = sess.indexes.fulltextCounters.tombstonePrunes.get
    def reclamations =
      sess.indexes.fulltextCounters.layoutRewrites.get +
        sess.indexes.fulltextCounters.tombstonePrunes.get
    val rc0 = reclamations
    var extraRounds = 0
    while (reclamations == rc0 && extraRounds < 20) {
      extraRounds += 1
      ingest(s"ce$extraRounds-", 1600)
      query("spark")
    }
    val rewrites = sess.indexes.fulltextCounters.layoutRewrites.get - rw0
    val prunes = sess.indexes.fulltextCounters.tombstonePrunes.get - pr00
    val rewriteSec = rewriteNanos / 1e9
    val rebuildsDuringDrill = sess.fulltextIndexFullBuilds.get - fullBefore
    spark.conf.set(cypher.CypherSession.IndexMemThresholdKey,
      cypher.CypherSession.IndexMemThresholdDefault.toString)

    println(s"""{"metric":"fulltext_rehearsal","docs":$n,""" +
      s""""index_build_sec":${f"$buildSec%.2f"},""" +
      s""""warm_query_sec":${f"$warmSec%.2f"},""" +
      s""""write_plus_query_sec":[${roundSecs.map(s0 => f"$s0%.2f").mkString(",")}],""" +
      s""""incremental_updates":$incUpdates,""" +
      s""""compaction_4k_overlay_sec":${f"$compactASec%.2f"},""" +
      s""""compaction_4k_write_wall_sec":${f"$compactAWallSec%.2f"},""" +
      s""""compaction_9k_overlay_sec":${f"$compactBSec%.2f"},""" +
      s""""compaction_9k_write_wall_sec":${f"$compactBWallSec%.2f"},""" +
      s""""compactions":$compactions,""" +
      s""""compactions_at_first_probe":$compactionsA,""" +
      s""""layout_rewrite_sec":${f"$rewriteSec%.2f"},""" +
      s""""layout_rewrites":$rewrites,""" +
      s""""tombstone_prunes":$prunes,""" +
      s""""reclamation_extra_rounds":$extraRounds,""" +
      s""""rebuilds_during_drill":$rebuildsDuringDrill}""")
    spark.stop()
  }
}
