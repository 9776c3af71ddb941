package graft.index

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.graph.PropertyGraph
import graft.analytics.IterCheckpoint.IterCheckpointOps

/** Maintenance counters of one index kind, session-scoped so specs and
  * rehearsals can pin which path a write or probe took. */
final class IndexCounters {
  import java.util.concurrent.atomic.AtomicLong
  /** Full (re)builds of an index population. */
  val fullBuilds = new AtomicLong
  /** Exact-delta patches of a live serving state. */
  val incrementalUpdates = new AtomicLong
  /** Overlay→layout minor compactions: the overflowing overlay is
    * APPENDED into the persisted layout's touched partitions as a new
    * generation — cost ∝ overlay, never corpus. */
  val compactions = new AtomicLong
  /** Wall nanos inside compaction (append + tombstone merge + any layout
    * rewrite) — a compacting write statement also pays unrelated
    * write-path costs, so rehearsals read this for clean attribution. */
  val compactionNanos = new AtomicLong
  /** Tombstone-reclaiming layout rewrites: pure layout IO, no graph
    * scan, no recompute. DISJOINT from [[tombstonePrunes]] — a dashboard
    * summing rewrites must never count events that moved zero bytes;
    * reclamation events = prunes + rewrites. */
  val layoutRewrites = new AtomicLong
  val layoutRewriteNanos = new AtomicLong
  /** Reclamation events resolved as a zero-IO tombstone PRUNE — no
    * tombstoned key masked enough stored rows to justify copying. */
  val tombstonePrunes = new AtomicLong
  /** Layout partitions copied by rewrites: a partition-scoped rewrite
    * adds its dense set's size, a full one the kind's partition count —
    * rewrite IO tracks the TOUCHED partitions, not the layout. */
  val layoutRewritePartitions = new AtomicLong
}

/** One index's COMPLETE serving state, published as ONE reference: a
  * lock-free probe captures one struct and sees a consistent
  * basis/rows/overlay/tombstones throughout (a racing patch can never
  * pair its new overlay with a probe's older rows).
  *
  * @param basis the graph instance the state reflects (every write
  *   replaces the session's PropertyGraph, so reference identity IS the
  *   staleness check)
  * @param mem pinned in-memory rows for small populations; null when
  *   serving from the persisted layout
  * @param segs persisted layout segments, (path, excluded partitions),
  *   newest last — the newest is the append target; null in memory
  * @param frame the segments' masked union, read ONCE so every probe is
  *   a planning-time partition prune; null in memory
  * @param overlay rows patched since the layout was built or last
  *   compacted, and `overlayKeys` their identity keys (null = empty)
  * @param gen the layout's generation high-water mark; `tombstones` =
  *   (key, dropBelow): a layout row is live iff its key has no tombstone
  *   or its gen ≥ dropBelow (null = none)
  * @param attach the kind's own serving data (fulltext: docs + BM25
  *   statistics) */
final case class ServingState[A](basis: PropertyGraph, mem: DataFrame,
    segs: Seq[(String, Seq[Int])], frame: DataFrame, attach: A,
    overlay: DataFrame = null, overlayKeys: DataFrame = null, gen: Int = 0,
    tombstones: DataFrame = null)

/** A live index: a definition over one node label or relationship type
  * plus its lazily maintained serving state. Vector and fulltext indexes
  * share this one algebra and supply only their identity column, rows,
  * layout shape, threshold, validation and scoring.
  *
  * The algebra:
  *  - SERVE reuses the state whose basis is the current graph; ADOPTS it
  *    across writes that provably touched only other labels (the write
  *    lineage); PATCHES the exact delta the lineage carries; and only
  *    otherwise pays a full build. Populations under [[threshold]] rows
  *    serve from a pinned in-memory frame, larger ones from a persisted
  *    layout partitioned so a probe reads only its own partitions.
  *  - A PATCH recomputes only the delta's rows, serialized per
  *    definition: in memory, (rows ∖ delta keys) ∪ fresh rows, pinned;
  *    persisted, only the small pinned overlay changes — the layout's
  *    files stay untouched. A probe then reads
  *    (live layout rows ∖ overlay keys) ∪ overlay, where "live" masks
  *    rows by tombstone generation ([[probeRows]]).
  *  - Once the overlay passes the threshold it is COMPACTED: appended to
  *    the layout as generation gen+1 files of only the partitions it
  *    hashes to, every compacted key gaining a tombstone — cost
  *    O(|overlay| + |tombstones|), never the corpus. Only once tombstones
  *    exceed [[LiveIndex.TombstoneRewriteFactor]]× the threshold does a
  *    RECLAMATION run: a zero-IO prune when no tombstone masks enough
  *    stored rows, else a layout rewrite (partition-scoped into a new
  *    segment where the kind allows, consolidating at
  *    [[LiveIndex.MaxSegments]]) — pure layout IO amortized across that
  *    many writes.
  *  - Every successor state is PUBLISHED before superseded directories
  *    are RETIRED: probes already holding the previous state keep reading
  *    the old files through the retire grace window.
  *
  * Probes are lock-free; patches and compactions hold the per-definition
  * lock, because compaction's layout append is not idempotent (two
  * readers racing on a stale over-threshold overlay would both append).
  * Writers hold the session write lock; lock order is session →
  * definition, never reversed. */
abstract class LiveIndex[A](val name: String, val label: String,
    val isRel: Boolean, protected val ctx: IndexCatalog) {
  @volatile private var state: ServingState[A] = null

  protected def counters: IndexCounters
  /** The identity column rows are patched and masked by. */
  protected def keyCol: String
  /** The layout's partition column, the column rows sort by within a
    * partition, their number, and the scratch-directory prefix. */
  protected def partCol: String
  protected def sortCol: String
  protected def partDirs: Int
  protected def scratchKind: String
  /** Serving-layout switch, in rows: at or above it a population
    * persists and an overlay compacts. */
  protected def threshold: Long
  /** The overlay measure compared against [[threshold]]. */
  protected def overlayLoad(st: ServingState[A]): DataFrame
  /** Serving rows → layout rows carrying [[partCol]]'s inputs and
    * [[sortCol]]; `partition` derives [[partCol]] from them. */
  protected def layoutRows(rows: DataFrame): DataFrame
  protected def partition: Column
  /** Full build over `cur`: pinned serving rows, their count, attach. */
  protected def build(cur: PropertyGraph): (DataFrame, Long, A)
  /** Rows (and attach) for a delta: `delta` is node ids or edge pairs
    * written since `st.basis`, `keys` their index keys. */
  protected def fresh(st: ServingState[A], cur: PropertyGraph,
      delta: DataFrame, keys: DataFrame, validate: Boolean): (DataFrame, A)
  /** Partitions a reclamation may rewrite on their own; empty = the
    * rewrite is all-or-nothing. */
  protected def denseParts(superseded: DataFrame, trigger: Long): Seq[Int] =
    Nil

  /** The index population in `g`: the label's node rows, or the type's
    * relationship rows keyed by their endpoint keys — restricted to
    * `delta` (node ids / srcId-dstId pairs) when given. */
  protected def population(g: PropertyGraph,
      delta: DataFrame = null): DataFrame =
    if (isRel) {
      val e = g.edges.filter(col("relType") === label)
      LiveIndex.keyedPairs(g,
        if (delta == null) e
        else e.join(delta, Seq("srcId", "dstId"), "left_semi"))
    } else {
      val n = g.nodes.filter(col("label") === label)
      if (delta == null) n else n.join(delta, Seq("id"), "left_semi")
    }

  /** The entity-as-a-value column: a node's property map with its key
    * property folded in, a relationship's own property map. */
  protected def entityMap: Column =
    if (isRel) col("props") else ctx.nodeMap(label)

  /** The serving state for the session's current graph. */
  def serve(): ServingState[A] = {
    val cur = ctx.current
    val st = state
    if (st != null && (st.basis eq cur)) return st
    if (st != null && ctx.lineage.untouchedSince(st.basis, cur, label, isRel)) {
      val adopted = st.copy(basis = cur)
      state = adopted
      return adopted
    }
    if (st != null)
      ctx.lineage.deltaSince(st.basis, cur, label, isRel).foreach { d0 =>
        val delta = d0.localCheckpoint(true)
        patch(st.basis, cur, delta, deltaKeys(st.basis, cur, delta),
          validate = true).orElse {
          // a RACING reader may have patched to `cur` first (the patch
          // serializes per definition, then reports None because the
          // basis moved) — adopt its state instead of rebuilding
          Option(state).filter(_.basis eq cur)
        }.foreach(s => return s)
      }
    fullBuild(cur)
  }

  /** The index keys of a lineage delta. A node index keyed on `id` takes
    * the ids as they are; one keyed on `key` resolves them from both the
    * old basis (a deleted node's rows must go) and the current graph;
    * relationship pairs resolve their endpoint keys from the current
    * graph (endpoint deletion records an unknown step, so a patchable
    * chain's endpoints are live). */
  private def deltaKeys(basis: PropertyGraph, cur: PropertyGraph,
      delta: DataFrame): DataFrame =
    if (isRel) LiveIndex.keyedPairs(cur, delta).select(col(keyCol))
      .distinct().localCheckpoint(true)
    else if (keyCol == "id") delta
    else population(basis, delta).select(col(keyCol))
      .unionByName(population(cur, delta).select(col(keyCol)))
      .distinct().localCheckpoint(true)

  /** Patch the exact delta into the state built on `basis` (reference
    * identity): rows for `keys` are recomputed from `cur`, every other
    * row is byte-identical by lineage — O(|delta| + |overlay|). Returns
    * None when a racer moved the state first.
    *
    * @param validate the generic write paths carry unvalidated property
    *   bags: a malformed delta value then fails with the full build's
    *   error before the state changes. */
  private[graft] def patch(basis: PropertyGraph, cur: PropertyGraph,
      delta: DataFrame, keys: DataFrame, validate: Boolean)
      : Option[ServingState[A]] = synchronized {
    val st = state
    if (st == null || !(st.basis eq basis)) return None
    val st0 =
      if (st.mem == null && st.overlayKeys != null &&
          overlayLoad(st).count() >= threshold) compact(st)
      else st
    val (rows, attach) = fresh(st0, cur, delta, keys, validate)
    val next =
      if (st0.mem != null)
        st0.copy(basis = cur, attach = attach, mem = st0.mem
          .join(keys, Seq(keyCol), "left_anti").unionByName(rows)
          .iterCheckpoint())
      else st0.copy(basis = cur, attach = attach,
        overlay = (
          if (st0.overlay == null) rows
          else st0.overlay.join(keys, Seq(keyCol), "left_anti")
            .unionByName(rows)
        ).iterCheckpoint(),
        overlayKeys = (
          if (st0.overlayKeys == null) keys
          else st0.overlayKeys.unionByName(keys).distinct()
        ).localCheckpoint(true))
    state = next
    counters.incrementalUpdates.incrementAndGet()
    Some(next)
  }

  private def fullBuild(cur: PropertyGraph): ServingState[A] = {
    counters.fullBuilds.incrementAndGet()
    val (rows, n, attach) = build(cur)
    val next =
      if (n >= threshold) {
        val dir = ctx.scratchDir(scratchKind)
        writeLayout(rows, 0, dir, append = false)
        val segs = Seq((dir, Seq.empty[Int]))
        ServingState(cur, null, segs, layoutFrame(segs), attach)
      } else ServingState(cur, rows, null, null, attach)
    val old = state
    state = next
    if (old != null) retire(old, next)
    next
  }

  /** Persisted rows, shuffled on the partition column so each directory
    * lands as one file clustered by the sort column. */
  private def writeLayout(rows: DataFrame, gen: Int, dir: String,
      append: Boolean): Unit = {
    val w = layoutRows(rows)
      .withColumn("gen", lit(gen))
      .withColumn(partCol, partition)
      .repartition(col(partCol))
      .sortWithinPartitions(col(partCol), col(sortCol))
      .write
    (if (append) w.mode("append") else w).partitionBy(partCol).parquet(dir)
  }

  /** The effective layout: each segment freshly listed, its rewritten-
    * away partitions masked out. Probes partition-prune each union
    * branch independently. */
  private def layoutFrame(segs: Seq[(String, Seq[Int])]): DataFrame =
    segs.map { case (p, ex) =>
      val f = ctx.spark.read.parquet(p)
      if (ex.isEmpty) f else f.filter(!col(partCol).isInCollection(ex))
    }.reduce(_ unionByName _)

  /** Merge the over-threshold overlay into the layout (minor compaction)
    * and, past the tombstone trigger, reclaim. Runs under the
    * per-definition lock. */
  private def compact(st: ServingState[A]): ServingState[A] = {
    val t0 = System.nanoTime()
    val nextGen = st.gen + 1
    writeLayout(st.overlay, nextGen, st.segs.last._1, append = true)
    val stamped = st.overlayKeys.select(col(keyCol), lit(nextGen).as("dropBelow"))
    val merged = (
      if (st.tombstones == null) stamped
      else st.tombstones.unionByName(stamped)
        .groupBy(keyCol).agg(max(col("dropBelow")).as("dropBelow"))
    ).localCheckpoint(true)
    counters.compactions.incrementAndGet()
    val trigger = LiveIndex.TombstoneRewriteFactor * ctx.memThreshold
    val next =
      if (merged.count() >= trigger) reclaim(st, merged, nextGen, trigger)
      // re-read so the cached file index includes the appended files
      else st.copy(frame = layoutFrame(st.segs), overlay = null,
        overlayKeys = null, gen = nextGen, tombstones = merged)
    state = next
    retire(st, next)
    counters.compactionNanos.addAndGet(System.nanoTime() - t0)
    next
  }

  /** Tombstone reclamation. A tombstone whose key masks NO stored row
    * (the key only ever entered via its own compaction — the crawler's
    * fresh-insert pattern) prunes for free; only keys with superseded
    * rows outside the rewritten partitions keep theirs. With no dense
    * partitions and no need to consolidate, that prune is the whole
    * event; otherwise the dense partitions are copied into a new segment
    * (older segments mask them), or — at the segment cap, or when the
    * remainder alone re-crosses the trigger — everything consolidates
    * into one fresh directory. */
  private def reclaim(st: ServingState[A], merged: DataFrame, nextGen: Int,
      trigger: Long): ServingState[A] = {
    val t0 = System.nanoTime()
    val eff = layoutFrame(st.segs)
    val superseded = eff.join(broadcast(merged), Seq(keyCol))
      .filter(col("gen") < col("dropBelow"))
    val dense = denseParts(superseded, trigger)
    val remaining = merged.join(
      (if (dense.isEmpty) superseded
       else superseded.filter(!col(partCol).isInCollection(dense)))
        .select(col(keyCol)), Seq(keyCol), "left_semi")
      .localCheckpoint(true)
    val remainingCount = remaining.count()
    val tombs = if (remainingCount == 0L) null else remaining
    val full = st.segs.size >= LiveIndex.MaxSegments ||
      remainingCount >= trigger
    val next =
      if (!full && dense.isEmpty) {
        counters.tombstonePrunes.incrementAndGet()
        st.copy(frame = layoutFrame(st.segs), overlay = null,
          overlayKeys = null, gen = nextGen, tombstones = tombs)
      } else {
        counters.layoutRewrites.incrementAndGet()
        val dir = ctx.scratchDir(scratchKind)
        (if (full) eff else eff.filter(col(partCol).isInCollection(dense)))
          .join(broadcast(merged), Seq(keyCol), "left")
          .filter(col("dropBelow").isNull || col("gen") >= col("dropBelow"))
          .drop("dropBelow")
          .repartition(col(partCol))
          .sortWithinPartitions(col(partCol), col(sortCol))
          .write.partitionBy(partCol).parquet(dir)
        counters.layoutRewritePartitions.addAndGet(
          if (full) partDirs else dense.size.toLong)
        // a partial rewrite keeps older segments' files (masked rows are
        // dead but unread) — nothing retires until a consolidation
        val segs =
          if (full) Seq((dir, Seq.empty[Int]))
          else st.segs.map { case (p, ex) => (p, (ex ++ dense).distinct) } :+
            ((dir, Seq.empty[Int]))
        st.copy(segs = segs, frame = layoutFrame(segs), overlay = null,
          overlayKeys = null, gen = nextGen,
          tombstones = if (full) null else tombs)
      }
    counters.layoutRewriteNanos.addAndGet(System.nanoTime() - t0)
    next
  }

  /** The rows of `st` a probe reads, as columns `cols` (which include
    * the identity column). In memory: `mem` filtered by `pred`.
    * Persisted: the probe's `pruned` layout rows, kept live by tombstone
    * generation, minus the overlay's keys, plus the overlay rows matching
    * `pred` — (live layout ∖ overlay keys) ∪ overlay. Tombstones and
    * overlay keys are small pinned frames and broadcast. */
  protected def probeRows(st: ServingState[A], pred: Column,
      pruned: DataFrame => DataFrame, cols: Seq[String]): DataFrame = {
    val cs = cols.map(col)
    if (st.mem != null) return st.mem.filter(pred).select(cs: _*)
    val layout = pruned(st.frame)
    val live =
      if (st.tombstones == null) layout
      else layout.join(broadcast(st.tombstones), Seq(keyCol), "left")
        .filter(col("dropBelow").isNull || col("gen") >= col("dropBelow"))
    val base = live.select(cs: _*)
    val masked =
      if (st.overlayKeys == null) base
      else base.join(broadcast(st.overlayKeys), Seq(keyCol), "left_anti")
    if (st.overlay == null) masked
    else masked.unionByName(st.overlay.filter(pred).select(cs: _*))
  }

  /** Retire the directories of `old` that `next` no longer serves. */
  private def retire(old: ServingState[A], next: ServingState[A]): Unit =
    if (old.segs != null) {
      val kept = Option(next).flatMap(n => Option(n.segs)).getOrElse(Nil)
        .map(_._1).toSet
      old.segs.map(_._1).filterNot(kept).foreach(ctx.retire)
    }

  /** Release the serving layout with a dropped definition. */
  private[index] def drop(): Unit = Option(state).foreach(retire(_, null))
}

object LiveIndex {
  /** Serving-layout switch: populations at or above this many indexed
    * rows persist to a partitioned parquet layout whose probes prune
    * STORAGE; below it the pinned in-memory frame stays faster than any
    * file listing. 262144 rows keeps megabyte-scale indexes pinned while
    * a 500k-doc corpus (≈5M postings) still exercises the persisted and
    * compaction paths. A session conf, for tests and tuning. */
  val MemThresholdKey = "spark.graft.indexMemThreshold"
  val MemThresholdDefault = 262144L

  /** Grace window (ms) a superseded serving layout stays on disk after
    * its successor is published, so lock-free in-flight probes holding
    * frames over the old files finish cleanly. 60 s dwarfs any probe's
    * lifetime; tests may shrink it to observe deletion. */
  val RetireGraceMsKey = "spark.graft.indexRetireGraceMs"
  val RetireGraceMsDefault = 60000L

  /** Tombstone-reclamation trigger: a layout rewrite — the only
    * write-path event whose IO scales with the layout rather than the
    * delta — runs only once tombstones exceed this many times the
    * in-memory threshold, amortizing it to O(1/factor) per written row.
    * Probes carry tombstones as a pinned broadcast (~16 B/row). */
  val TombstoneRewriteFactor = 4L

  /** Segment cap of a partition-scoped layout: at this many segments the
    * next rewrite consolidates into one fresh directory, bounding the
    * per-probe union width and the masked partitions' dead disk. */
  val MaxSegments = 4

  /** Relationship rows with their endpoint keys joined in: `key` =
    * 'srcKey->dstKey', the engine-independent identity (keys are merge
    * identities and never mutate), `id` = its xxhash64. */
  private[index] def keyedPairs(g: PropertyGraph, pairs: DataFrame): DataFrame =
    pairs
      .join(g.nodes.select(col("id").as("srcId"), col("key").as("__sk")),
        Seq("srcId"))
      .join(g.nodes.select(col("id").as("dstId"), col("key").as("__dk")),
        Seq("dstId"))
      .withColumn("id", xxhash64(col("__sk"), lit("|"), col("__dk")))
      .withColumn("key", concat_ws("->", col("__sk"), col("__dk")))

  /** Every index scratch dir any session in this JVM created and has not
    * deleted — swept by ONE shutdown hook: serving layouts are session
    * state rebuilt at boot, so nothing on disk outlives the process. */
  private val liveScratchDirs =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  /** Hadoop conf snapshot taken while a session is live — the hook may
    * run after SparkSession.stop(), and a bare Configuration cannot
    * resolve a custom stageDir's filesystem scheme. */
  @volatile private var exitSweepConf: org.apache.hadoop.conf.Configuration = null
  private lazy val exitSweepHook: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      liveScratchDirs.forEach { s =>
        try {
          val p = new org.apache.hadoop.fs.Path(s)
          val conf =
            if (exitSweepConf != null) exitSweepConf
            else new org.apache.hadoop.conf.Configuration()
          p.getFileSystem(conf).delete(p, true)
        } catch { case _: Throwable => () }
      }, "graft-index-scratch-sweep"))
  private[index] def registerScratch(path: String,
      conf: => org.apache.hadoop.conf.Configuration): Unit = {
    exitSweepHook
    liveScratchDirs.add(path)
    if (exitSweepConf == null) exitSweepConf = conf
  }
  private[index] def unregisterScratch(path: String): Unit =
    liveScratchDirs.remove(path)
}
