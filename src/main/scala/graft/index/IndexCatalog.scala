package graft.index

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.cypher.CypherAst.{CreateFulltextIndex, CreateRangeIndex, CreateVectorIndex}
import graft.graph.PropertyGraph

/** One SHOW INDEXES row of a vector, fulltext or range index. */
final case class IndexRow(name: String, kind: String, entityType: String,
    labelOrType: String, properties: Seq[String], provider: String,
    dimensions: java.lang.Long, similarityFunction: String)

/** A session's index catalog (the Neo4j 5 GraphRAG surface — LangChain's
  * Neo4jVector issues exactly these statements): the vector and fulltext
  * [[LiveIndex]] definitions and the advisory range indexes under one
  * schema namespace shared with the constraints, the write lineage the
  * live indexes patch from, one [[IndexCounters]] per kind, and the
  * scratch/retire machinery of their persisted layouts.
  *
  * @param graph the session's current graph
  * @param keyPropOf a label's merge-key property
  * @param constraintNamed whether a constraint holds a name */
final class IndexCatalog(graph: () => PropertyGraph,
    keyPropOf: String => String, constraintNamed: String => Boolean) {
  val vector = scala.collection.mutable.LinkedHashMap.empty[String, VectorIndex]
  val fulltext = scala.collection.mutable.LinkedHashMap.empty[String, FulltextIndex]
  /** Plain range indexes: name -> (label, prop). ADVISORY rows — the
    * store's label partitioning + merge-key identity already play the
    * physical role (see [[graft.cypher.CypherAst.CreateRangeIndex]]). */
  val range = scala.collection.mutable.LinkedHashMap.empty[String, (String, String)]
  val vectorCounters = new IndexCounters
  val fulltextCounters = new IndexCounters
  val lineage = new WriteLineage

  private[index] def current: PropertyGraph = graph()
  private[index] def spark: SparkSession = graph().nodes.sparkSession

  def contains(name: String): Boolean =
    vector.contains(name) || fulltext.contains(name) || range.contains(name)
  def names: Iterable[String] = vector.keys ++ fulltext.keys ++ range.keys

  /** The one schema-name check of every CREATE … INDEX and CREATE
    * CONSTRAINT: a name already held by an index or a constraint, or an
    * equivalent definition (`equivalent` describes it), rejects — or,
    * under IF NOT EXISTS, yields false (added = false). True = create. */
  def admit(name: String, ifNotExists: Boolean,
      equivalent: Option[String]): Boolean = {
    val clash =
      if (contains(name)) Some(s"an index named '$name' already exists")
      else if (constraintNamed(name))
        Some(s"a constraint named '$name' already exists")
      else equivalent.map(what => s"an equivalent $what already exists")
    clash.forall { m =>
      if (ifNotExists) false
      else throw new IllegalArgumentException(
        s"$m — use IF NOT EXISTS to make this a no-op")
    }
  }

  def createRange(name: String, c: CreateRangeIndex): Boolean =
    admit(name, c.ifNotExists, range.values.find(_ == ((c.label, c.prop)))
      .map(_ => s"range index for (:${c.label}).${c.prop}")) && {
      range(name) = (c.label, c.prop)
      true
    }

  def createVector(name: String, c: CreateVectorIndex): Boolean = {
    if (c.similarityFunction != "cosine" && c.similarityFunction != "euclidean")
      throw new IllegalArgumentException(
        s"vector.similarity_function '${c.similarityFunction}' is not " +
          "supported — this engine implements 'cosine' (the Neo4jVector/" +
          "LangChain default) and 'euclidean'")
    admit(name, c.ifNotExists, vector.values
      .find(d => d.label == c.label && d.prop == c.prop && d.isRel == c.isRel)
      .map(_ => s"vector index for (:${c.label}).${c.prop}")) &&
      populate(vector, name, new VectorIndex(name, c.label, c.prop,
        c.dimensions, c.similarityFunction, c.isRel, this))
  }

  def createFulltext(name: String, c: CreateFulltextIndex): Boolean = {
    require(c.props.nonEmpty, "CREATE FULLTEXT INDEX needs at least one property")
    admit(name, c.ifNotExists, fulltext.values
      .find(d => d.label == c.label && d.props.toSet == c.props.toSet &&
        d.isRel == c.isRel)
      .map(_ => s"fulltext index for (:${c.label}).${c.props.mkString(",")}")) &&
      populate(fulltext, name, new FulltextIndex(name, c.label, c.props,
        c.isRel, this))
  }

  /** Register and build eagerly (thereby VALIDATING the population), as
    * Neo4j populates at CREATE; a failed build leaves no index behind. */
  private def populate[I <: LiveIndex[_]](
      m: scala.collection.mutable.Map[String, I], name: String, d: I): Boolean = {
    m(name) = d
    try d.serve()
    catch { case t: Throwable => m.remove(name); throw t }
    true
  }

  /** Drop an index of any kind, retiring its serving layout. */
  def drop(name: String): Boolean = {
    val live: Option[LiveIndex[_]] = vector.remove(name).orElse(fulltext.remove(name))
    live.foreach(_.drop())
    live.isDefined || range.remove(name).isDefined
  }

  def rows: Seq[IndexRow] = {
    def ent(isRel: Boolean) = if (isRel) "RELATIONSHIP" else "NODE"
    vector.toSeq.map { case (n, d) =>
      IndexRow(n, "VECTOR", ent(d.isRel), d.label, Seq(d.prop), "vector-2.0",
        d.dim.toLong, d.similarityFunction)
    } ++ fulltext.toSeq.map { case (n, d) =>
      IndexRow(n, "FULLTEXT", ent(d.isRel), d.label, d.props, "fulltext-1.0",
        null, null)
    } ++ range.toSeq.map { case (n, (l, p)) =>
      IndexRow(n, "RANGE", "NODE", l, Seq(p), "range-1.0", null, null)
    }
  }

  /** The node-as-a-value column for index query yields: the property map
    * with the label's out-of-band key property folded in (the shape
    * `properties(n)` returns; map_filter guards the corner where a SET
    * wrote the key property into the bag). */
  private[index] def nodeMap(label: String): Column = {
    val keyProp = keyPropOf(label)
    map_concat(map_filter(col("props"), (k, _) => k =!= keyProp),
      map(lit(keyProp), col("key")))
  }

  private[index] def memThreshold: Long =
    spark.conf.get(LiveIndex.MemThresholdKey,
      LiveIndex.MemThresholdDefault.toString).toLong

  /** Scratch root for a persisted layout — the TxBatches posture: a
    * JOB-filesystem path all executors can reach (warehouse by default,
    * spark.graft.stageDir to override). Registered for the JVM-exit
    * sweep; every new build or compaction passes through here, so aged
    * retirements drain on the next index event too. */
  private[index] def scratchDir(kind: String): String = {
    sweep()
    val root = spark.conf.get(graft.cypher.TxBatches.StageDirKey,
      spark.conf.get("spark.sql.warehouse.dir") + "/_graft_idx")
    val p = new org.apache.hadoop.fs.Path(root,
      s"$kind-${java.util.UUID.randomUUID()}").toString
    LiveIndex.registerScratch(p, spark.sessionState.newHadoopConf())
    p
  }

  /** Superseded layouts awaiting deletion: (path, retire nanoTime).
    * Probes are LOCK-FREE — one may still be executing over a layout
    * when a build, compaction or drop supersedes it, so a superseded
    * path is RETIRED and deleted only once it has aged past the grace
    * window. One entry per event, drained by every sweep. */
  private val retired = new scala.collection.mutable.ArrayDeque[(String, Long)]()

  /** Queue `path` for deletion — always AFTER the successor state is
    * published, so no new probe can begin over it — and sweep. */
  private[index] def retire(path: String): Unit = retired.synchronized {
    retired.append((path, System.nanoTime()))
    sweep()
  }

  private def sweep(): Unit = retired.synchronized {
    val now = System.nanoTime()
    val grace = spark.conf.get(LiveIndex.RetireGraceMsKey,
      LiveIndex.RetireGraceMsDefault.toString).toLong * 1000000L
    while (retired.nonEmpty && now - retired.head._2 >= grace) {
      val path = retired.removeHead()._1
      val p = new org.apache.hadoop.fs.Path(path)
      p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
      LiveIndex.unregisterScratch(path)
    }
  }
}

/** Write lineage for index serving: each step is (child instance, parent
  * instance, node labels and relationship types it may have touched —
  * null = unknown, every label — and the exact node ids / (srcId, dstId)
  * pairs it wrote — null = unrecorded). A live index whose label is
  * untouched along the chain from its basis ADOPTS the current instance;
  * one whose touching steps all carry their delta PATCHES it. A chain
  * longer than [[WriteLineage.Window]] forces a rebuild, never
  * corruption. */
final class WriteLineage {
  import WriteLineage.Step
  private val steps = new scala.collection.mutable.ArrayDeque[Step]()

  /** @param nodeIds lazy plan of EVERY created, property-modified AND
    *   deleted node id of the step (an action runs only if a patch reads
    *   it)
    * @param edgePairs every created, merged AND property-modified edge's
    *   (srcId, dstId); edges are deleted only by DETACH node deletion,
    *   which records relTypes = null */
  def record(parent: PropertyGraph, child: PropertyGraph,
      nodeLabels: Set[String], relTypes: Set[String],
      nodeIds: DataFrame = null, edgePairs: DataFrame = null): Unit =
    if (child ne parent) {
      steps.append(Step(child, parent, nodeLabels, relTypes, nodeIds, edgePairs))
      if (steps.length > WriteLineage.Window) steps.removeHead()
    }

  /** The steps from `from` to `to` (newest first) that may have changed
    * the population keyed on `label`; None on a gap or overlong chain. */
  private def touching(from: PropertyGraph, to: PropertyGraph, label: String,
      isRel: Boolean): Option[List[Step]] = {
    var cur = to
    var n = 0
    val acc = List.newBuilder[Step]
    while (cur ne from) {
      if (n > WriteLineage.Window) return None
      n += 1
      steps.reverseIterator.find(_.child eq cur) match {
        case Some(s) =>
          val t = if (isRel) s.relTypes else s.nodeLabels
          if (t == null || t.contains(label)) acc += s
          cur = s.parent
        case None => return None
      }
    }
    Some(acc.result())
  }

  /** True iff the population keyed on `label` (a node label, or a
    * relationship type when isRel) is provably byte-identical between
    * `from` and `to`. */
  def untouchedSince(from: PropertyGraph, to: PropertyGraph, label: String,
      isRel: Boolean): Boolean =
    touching(from, to, label, isRel).exists(_.isEmpty)

  /** The exact node ids (or edge pairs, when isRel) written between
    * `from` and `to` that may have changed `label`'s population — only
    * when every touching step recorded them, and at most
    * [[WriteLineage.DeltaMaxSteps]] of them (past that a rebuild beats a
    * deep union plan). Lazy: the caller pins it. */
  def deltaSince(from: PropertyGraph, to: PropertyGraph, label: String,
      isRel: Boolean): Option[DataFrame] =
    touching(from, to, label, isRel).flatMap { ts =>
      val frames = ts.map(s => if (isRel) s.edgePairs else s.nodeIds)
      if (ts.isEmpty || frames.contains(null) ||
          frames.size > WriteLineage.DeltaMaxSteps) None
      else Some(frames.map(f =>
        if (isRel) f.select(col("srcId"), col("dstId")) else f.select(col("id")))
        .reduce(_ unionByName _).distinct())
    }
}

object WriteLineage {
  private final case class Step(child: PropertyGraph, parent: PropertyGraph,
    nodeLabels: Set[String], relTypes: Set[String], nodeIds: DataFrame,
    edgePairs: DataFrame)
  /** Lineage window: chains longer than this force a rebuild. */
  val Window = 256
  /** Cap on the delta-carrying steps one patch unions. */
  val DeltaMaxSteps = 64
}
