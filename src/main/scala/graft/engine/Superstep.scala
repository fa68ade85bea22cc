package graft.engine

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, sum, when}

import graft.engine.Engine.MetricsLog

/** The one BSP fixpoint loop every graft algorithm runs through — the
  * reference's worker loop (`core/worker/default_worker.h:87-130`: PEval
  * once, then IncEval until nothing changes), and RaSQL's single fixpoint
  * construct that every recursive query reuses.
  *
  * A caller describes its algorithm as a [[Loop]]; the driver owns the
  * rest:
  *
  *  - the whole call (set-up included) runs under [[Engine.withoutAQE]],
  *    so the loop-invariant inputs the set-up checkpoints keep their hash
  *    partitioning;
  *  - the initial state and every round's state go through
  *    [[Engine.checkpoint]];
  *  - a round costs ONE Spark job: the stats frame's `head()` over the
  *    lazily checkpointed next state computes the state, caches it, cuts
  *    its lineage and returns the stats row;
  *  - `maxIter` and the loop's halt test;
  *  - one [[IterationMetrics]] per round into the [[MetricsLog]], timed
  *    before any snapshot write;
  *  - the [[CheckpointConfig]] snapshot cadence, and resume: when the
  *    table has a committed version the loop restarts from that state,
  *    with the manifest's metrics as its scalars and the round after the
  *    manifest's `iter`.
  */
object Superstep {

  /** Driver scalars carried from round to round. They are also the
    * metrics a snapshot manifest records (plus `iter`), which is what
    * makes a resumed call exact. `delta`, when present, is logged as the
    * round's convergence delta.
    */
  type Scalars = Map[String, Double]

  /** @param init    state before the first round
    * @param scalars driver scalars before the first round
    * @param step    (previous state, scalars) => next state
    * @param stats   one-row aggregate over the (checkpointed) next state
    * @param fold    folds the stats row into the next round's scalars
    * @param halt    true when the loop has converged (tested before each
    *                round, after `maxIter`)
    * @param edges   edges a round processes, for `edgesPerSec`
    * @param result  the call's output from the final state and scalars
    */
  final case class Loop(
      init: DataFrame,
      scalars: Scalars,
      step: (DataFrame, Scalars) => DataFrame,
      stats: DataFrame => DataFrame,
      fold: (Row, Scalars) => Scalars = (_, s) => s,
      halt: Scalars => Boolean = _ => false,
      edges: Long = 0L,
      result: (DataFrame, Scalars) => DataFrame = (st, _) => st
  )

  /** Runs `setup` (which may checkpoint loop-invariant inputs) and then
    * its loop for at most `maxIter` rounds, counted from round 0 even
    * when resumed.
    */
  def run(
      spark: SparkSession,
      maxIter: Int = Int.MaxValue,
      log: MetricsLog = new MetricsLog,
      ckpt: Option[CheckpointConfig] = None
  )(setup: => Loop): DataFrame = Engine.withoutAQE(spark) {
    val loop = setup
    val resumed = ckpt.flatMap { c =>
      c.store.latestVersion(c.table).map { v =>
        val m = c.store.readManifest(c.table, v).metrics
        (c.store.read(spark, c.table, v), m - "iter", m("iter").toInt + 1)
      }
    }
    var (state, s, iter) = resumed.getOrElse((loop.init, loop.scalars, 0))
    state = Engine.checkpoint(state)
    while (iter < maxIter && !loop.halt(s)) {
      val t0 = System.nanoTime()
      val next = Engine.checkpoint(loop.step(state, s))
      s = loop.fold(loop.stats(next).head(), s)
      state = next
      log.record(IterationMetrics(iter, (System.nanoTime() - t0) / 1e9,
        s.getOrElse("delta", 0.0), loop.edges, s))
      ckpt.foreach { c =>
        if (c.every > 0 && iter % c.every == 0)
          c.store.write(c.table, state, s + ("iter" -> iter.toDouble))
      }
      iter += 1
    }
    loop.result(state, s)
  }

  /** Convergence of the frontier loops ([[Pregel]], `SSSP.multiSource`): the
    * state carries a boolean `changed` column, the frontier is its changed
    * rows, a round's stats count them (also logged as the round's delta),
    * and the loop halts after a round that changed nothing.
    */
  object UntilUnchanged {
    val scalars: Scalars = Map("changed" -> 1.0)
    def stats(state: DataFrame): DataFrame = state.agg(sum(when(col("changed"), 1L)))
    def fold(r: Row, s: Scalars): Scalars = {
      val c = orZero(r, 0)
      s ++ Map("changed" -> c, "delta" -> c)
    }
    def halt(s: Scalars): Boolean = s("changed") == 0
  }

  /** Column `i` of a stats row, with SQL NULL (an aggregate over no
    * rows) read as 0.
    */
  def orZero(r: Row, i: Int): Double =
    if (r.isNullAt(i)) 0.0 else r.getAs[Number](i).doubleValue
}
