package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.engine.Engine.MetricsLog
import graft.graph.LinkGraph

/** Declarative Pregel-style vertex-program surface — the engine's UDF
  * plane and its one frontier loop, mirroring the reference's Pregel API
  * (`core/app/pregel/i_vertex_program.h:45-66`: Init / Compute(messages),
  * send along edges, vote-to-halt; combiner `:66`; aggregators
  * `aggregators/aggregator.h:28`).
  *
  * Expressed Catalyst-first: the vertex program supplies *Column
  * expressions*, not closures, so every superstep stays inside
  * whole-stage codegen:
  *
  *  - `init`: initial state column (over the vertex frame),
  *  - `message`: expression over the edge row's columns and the sending
  *    vertex's state `state`, producing the message sent along the edge,
  *  - `combine`: aggregate expression over the per-destination messages
  *    (the Pregel combiner — Catalyst partial+final aggregation applies
  *    it map-side automatically),
  *  - `update`: expression over (old `state`, combined `msg`) for the new
  *    state; null msg means no messages arrived.
  *
  * Vote-to-halt: only vertices whose state changed in the previous round
  * send (in round 1, every vertex with a non-null initial state), and the
  * loop halts after a round that changed no state, or after `maxIter`.
  *
  * Driver aggregators (the reference's Sum/Min/... aggregators) are the
  * fused scalar aggregate each [[Superstep]] round already performs.
  */
object Pregel {

  final case class Program(
      init: Column,
      message: Column,
      combine: Column => Column,
      update: Column,
      maxIter: Int = 20
  )

  /** Min-label relaxation (WCC, SSSP, BFS — RaSQL's min-aggregate
    * recursion): a vertex keeps the least of its state and the smallest
    * message it received.
    */
  def relax(init: Column, message: Column, maxIter: Int = Int.MaxValue): Program =
    Program(init, message, min(_), least(col("state"), col("msg")), maxIter)

  /** Runs the program over a vertex frame (an `id` column plus whatever
    * `init` reads) and an edge frame (`src`, `dst` plus whatever
    * `message` reads); returns (id, state).
    */
  def run(
      vertices: DataFrame,
      edges: DataFrame,
      prog: Program,
      log: MetricsLog = new MetricsLog,
      ckpt: Option[CheckpointConfig] = None
  ): DataFrame = Superstep.run(vertices.sparkSession, prog.maxIter, log, ckpt) {
    val e = Engine.checkpoint(edges.repartition(col("src")))
    val eCount = e.count()
    Superstep.Loop(
      init = vertices.select(col("id"), prog.init.as("state"))
        .select(col("id"), col("state"), col("state").isNotNull.as("changed"))
        .repartition(col("id")),
      scalars = Superstep.UntilUnchanged.scalars,
      step = (state, _) => {
        val msgs = e
          .join(state.where(col("changed"))
            .select(col("id").as("src"), col("state")).hint("shuffle_hash"), "src")
          .groupBy(col("dst").as("id"))
          .agg(prog.combine(prog.message).as("msg"))
        state
          .join(msgs.hint("shuffle_hash"), Seq("id"), "left")
          .select(col("id"), prog.update.as("__new"), col("state").as("__old"))
          .select(col("id"), col("__new").as("state"),
            not(col("__new") <=> col("__old")).as("changed"))
      },
      stats = Superstep.UntilUnchanged.stats,
      fold = Superstep.UntilUnchanged.fold,
      halt = Superstep.UntilUnchanged.halt,
      edges = eCount,
      result = (state, _) => state.select(col("id"), col("state")))
  }

  /** [[run]] over a [[LinkGraph]]'s vertices and `(src, dst, weight)`
    * edges.
    */
  def run(g: LinkGraph, prog: Program): DataFrame =
    run(g.vertices.toDF, g.edges.toDF, prog)
}
