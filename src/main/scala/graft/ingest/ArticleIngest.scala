package graft.ingest

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.graph.PropertyGraph

/** The reference's crawl dataflow (SURVEY.md §2.A, I1-I12) as one declarative
  * pipeline: candidate records → link/title filters (I3/I4) → cleaning (I6)
  * → record assembly with publisher default (I7) → graph upsert (I8), with
  * the failures routed to a dead-letter side output (I9/I11) and run metrics
  * observable on the main output (I12) — the set-oriented replacement for
  * the reference's per-article loop (/root/reference/src/crwling.py:144-184).
  */
object ArticleIngest {

  /** Row-level validity + reason — the per-item fault isolation of
    * /root/reference/src/crwling.py:146-153,177-179 expressed as columns. */
  def withRejectReason(raw: DataFrame): DataFrame =
    raw.withColumn("reject_reason",
      when(!TextClean.validLink(col("link")), "bad_link")
        .when(!TextClean.validTitle(col("title")), "short_title")
        .otherwise(lit(null).cast("string")))

  /** Clean records that survive the filters (I3,I4,I6,I7). */
  def accepted(raw: DataFrame): DataFrame =
    withRejectReason(raw).filter(col("reject_reason").isNull)
      .select(
        TextClean.cleanText(col("title")).as("title"),
        col("link"),
        TextClean.publisherOrDefault(col("publisher")).as("publisher"),
        TextClean.cleanText(coalesce(col("content"), lit(""))).as("content"))

  /** Dead-letter side output (I9): the rejected rows with their reason —
    * written to a quarantine path in production, returned for inspection
    * here. */
  def deadLetter(raw: DataFrame): DataFrame =
    withRejectReason(raw).filter(col("reject_reason").isNotNull)

  /** Ingest a batch into the graph: accepted records become Article +
    * Publisher nodes joined by WRITTEN_BY (the MERGE statement at
    * /root/reference/src/crwling.py:47-56), set-oriented. */
  def upsert(g: PropertyGraph, raw: DataFrame): PropertyGraph = {
    val recs = accepted(raw)
    val articleNodes = recs.select(
      lit("Article").as("label"),
      col("link").as("key"),
      map(lit("title"), col("title"), lit("content"), col("content")).as("props"))
    val publisherNodes = recs.select(
      lit("Publisher").as("label"),
      col("publisher").as("key"),
      typedlit(Map.empty[String, String]).as("props"))
    val edges = recs.select(
      lit("Article").as("srcLabel"), col("link").as("srcKey"),
      lit("WRITTEN_BY").as("relType"),
      lit("Publisher").as("dstLabel"), col("publisher").as("dstKey"))
    g.mergeNodes(articleNodes.unionByName(publisherNodes)).mergeEdgesByKey(edges)
  }
}
