package graft.analytics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import IterCheckpoint.IterCheckpointOps

/** The superstep loop every iterative algorithm in [[GraphAlgorithms]]
  * runs on — Pregelix's posture (VLDB 2014): each superstep is one
  * dataflow plan, and one module owns the loop. A loop supplies its step,
  * the round's plan over the previous pinned state; this object owns the
  * rest:
  *
  *   - the pin: each round's frame is materialized by `iterCheckpoint`
  *     with the loop's convergence signal observed on the SAME action
  *     (`iterCheckpointObserve`), so a superstep costs one Spark action
  *     (AQE still runs each of its exchanges as a job), and the observed
  *     values are read back as longs;
  *   - the stop rule ([[Until]]): a zero changed-count or empty frontier,
  *     an unchanged fingerprint, or none (fixed rounds);
  *   - the budget ([[Budget]]): none for fixpoints that must arrive, a
  *     bound that is part of the answer, or a bound whose overrun fails
  *     loudly with the caller's message.
  *
  * [[frontierLevels]] (level-synchronous BFS) and [[mergeRound]] (the
  * min/max relaxation round) are the step shapes several loops share.
  */
object Superstep {

  /** What a loop does when its round budget runs out first. */
  sealed trait Budget
  /** No bound: the stop rule is guaranteed to fire (monotone fixpoints). */
  case object Unbounded extends Budget
  /** At most `n` rounds, then the state as it stands — the bound is part
    * of the answer (fixed-round algorithms, `{maxIterations}`). */
  final case class StopAfter(n: Int) extends Budget
  /** At most `n` rounds; a loop still running after them throws an
    * IllegalStateException with `message` of the last observed value. */
  final case class FailAfter(n: Int, message: Long => String) extends Budget

  /** The observed convergence signal and the rule that ends a loop on it.
    * The rule applies to the initial state too when its observation is
    * known (a [[Run]] from [[pin]]). */
  sealed abstract class Until(val aggs: Seq[Column])
  /** Fixed rounds: nothing observed, every round a plain pin. */
  case object Never extends Until(Nil)
  /** Stop when the observed count is zero. */
  final case class Zero(agg: Column) extends Until(Seq(agg))
  /** Stop when the observed fingerprint repeats, or its first element (a
    * row count) is zero. */
  final case class Unchanged(fingerprint: Column*) extends Until(fingerprint)

  /** Stop when no row of the round has its boolean `flag` set. */
  def changed(flag: String): Until = Zero(sum(when(col(flag), 1L).otherwise(0L)))
  /** Stop when a round's frame is empty. */
  val empty: Until = Zero(count(lit(1)))

  /** A loop's pinned state after `rounds` rounds, the values observed on
    * its pin, and whether the stop rule fired. */
  final case class Run(state: DataFrame, observed: Seq[Long] = Nil,
      rounds: Int = 0, converged: Boolean = false)

  private def stops(until: Until, prev: Seq[Long], cur: Seq[Long]): Boolean =
    until match {
      case Never => false
      case Zero(_) => cur.head == 0L
      case Unchanged(_*) => cur.head == 0L || cur == prev
    }

  /** Pin `df` with `until`'s metrics observed on the pinning job (a
    * loop's initial state, when its rule should apply to it). An
    * aggregate over an empty frame observes null; it reads as 0. */
  def pin(df: DataFrame, until: Until): Run =
    if (until.aggs.isEmpty) Run(df.iterCheckpoint())
    else {
      val names = until.aggs.indices.map(i => s"__obs$i")
      val (pinned, m) = df.iterCheckpointObserve(
        until.aggs.zip(names).map { case (a, n) => a.as(n) }: _*)
      val obs = names.map(n => m.get(n).collect { case l: Long => l }.getOrElse(0L))
      Run(pinned, obs)
    }

  /** Run `step` round by round from `init` (pinned by the caller; its
    * observation, if any, is checked against the stop rule first) until
    * `until` fires or `budget` runs out. */
  def run(init: Run, budget: Budget, until: Until)(step: Run => DataFrame): Run = {
    val limit = budget match {
      case Unbounded => Int.MaxValue
      case StopAfter(n) => n
      case FailAfter(n, _) => n
    }
    var cur = Run(init.state, init.observed, 0,
      init.observed.nonEmpty && stops(until, Nil, init.observed))
    while (!cur.converged && cur.rounds < limit) {
      val next = pin(step(cur), until)
      cur = Run(next.state, next.observed, cur.rounds + 1,
        next.observed.nonEmpty && stops(until, cur.observed, next.observed))
    }
    budget match {
      case FailAfter(_, message) if !cur.converged =>
        throw new IllegalStateException(message(cur.observed.headOption.getOrElse(0L)))
      case _ => cur
    }
  }

  /** A BFS's levels (the pinned seeds first) and the union of all of them. */
  final case class Levels(levels: Seq[DataFrame], visited: DataFrame)

  /** Level-synchronous BFS from `seeds`: each level is `expand(frontier)`
    * anti-joined on `keys` against the visited set, pinned with its size
    * observed; the loop stops on an empty level. The visited set is a
    * lazy union of the pinned levels, re-pinned every 8 levels: the union
    * chain's plan depth otherwise grows with BFS depth and every level's
    * anti-join re-analyzes all of it. `expand` must yield the seeds'
    * columns. The budget counts expansions. */
  def frontierLevels(seeds: DataFrame, keys: Seq[String], budget: Budget)(
      expand: DataFrame => DataFrame): Levels = {
    val start = pin(seeds, empty)
    val levels = scala.collection.mutable.ArrayBuffer(start.state)
    var visited = start.state
    val end = run(start, budget, empty) { r =>
      if (r.rounds > 0) { // r.state is the last non-empty level
        levels += r.state
        visited = visited.unionByName(r.state)
        if (r.rounds % 8 == 0) visited = visited.iterCheckpoint()
      }
      expand(r.state).join(visited, keys, "left_anti")
    }
    if (!end.converged && end.rounds > 0) levels += end.state
    Levels(levels.toSeq, visited)
  }

  /** The rows of a [[mergeRound]] loop's state whose value changed last
    * round — all of them in round 1. Min/max are idempotent, so a value
    * that did not change has already reached every neighbor: only these
    * rows need to send candidates again. */
  def changedRows(r: Run): DataFrame =
    if (r.rounds == 0) r.state else r.state.filter(col("__ch"))

  /** One relaxation round as ONE aggregation: the `state` rows (key,
    * value) union the `candidates`, and one groupBy(key) computes the new
    * value (`pick`, min or max, over both) and the state's old one. The
    * `__ch` flag marks rows whose value changed, including keys new to
    * the state; run under [[changed]]("__ch"), the changed count rides on
    * the round's pin. No join back onto the state. */
  def mergeRound(state: DataFrame, candidates: DataFrame, key: String,
      value: String, pick: Column => Column): DataFrame =
    state.select(col(key), col(value), lit(true).as("__o"))
      .unionByName(candidates.select(col(key), col(value), lit(false).as("__o")))
      .groupBy(key)
      .agg(pick(col(value)).as(value), min(when(col("__o"), col(value))).as("__old"))
      .select(col(key), col(value),
        (col("__old").isNull || col(value) =!= col("__old")).as("__ch"))
}
