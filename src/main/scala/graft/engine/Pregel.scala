package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.graph.LinkGraph

/** Declarative Pregel-style vertex-program surface — the engine's UDF
  * plane, mirroring the reference's Pregel API
  * (`core/app/pregel/i_vertex_program.h:45-66`: Init / Compute(messages),
  * send along edges, vote-to-halt; combiner `:66`; aggregators
  * `aggregators/aggregator.h:28`).
  *
  * Expressed Catalyst-first: the vertex program supplies *Column
  * expressions*, not closures, so every superstep stays inside
  * whole-stage codegen:
  *
  *  - `init`: initial state column (over vertices id/oid),
  *  - `message`: expression over (edge src/dst/weight + src state `state`)
  *    producing the message sent along each out-edge,
  *  - `combine`: aggregate expression over the per-destination messages
  *    (the Pregel combiner — Catalyst partial+final aggregation applies
  *    it map-side automatically),
  *  - `update`: expression over (old `state`, combined `msg`) for the new
  *    state; null msg means no messages arrived,
  *  - halting: fixed `maxIter`, or converged when no state changed.
  *
  * Driver aggregators (the reference's Sum/Min/... aggregators) are the
  * fused scalar aggregate each [[Superstep]] round already performs.
  */
object Pregel {

  final case class Program(
      init: org.apache.spark.sql.Column,
      message: org.apache.spark.sql.Column,
      combine: org.apache.spark.sql.Column => org.apache.spark.sql.Column,
      update: org.apache.spark.sql.Column,
      maxIter: Int = 20,
      haltOnNoChange: Boolean = true
  )

  /** Runs the program; returns (id, state). */
  def run(g: LinkGraph, prog: Program): DataFrame =
    Superstep.run(g.vertices.sparkSession, prog.maxIter) {
      val e = Engine.checkpoint(g.edges.toDF.repartition(col("src")))
      e.count()
      Superstep.Loop(
        init = g.vertices.toDF.select(col("id"), prog.init.as("state"), lit(true).as("changed"))
          .repartition(col("id")),
        scalars = Superstep.UntilUnchanged.scalars,
        step = (state, _) => {
          val msgs = e
            .join(state.select(col("id").as("src"), col("state")).hint("shuffle_hash"), "src")
            .select(col("src"), col("dst"), col("weight"), prog.message.as("__m"))
            .groupBy(col("dst").as("id"))
            .agg(prog.combine(col("__m")).as("msg"))
          state
            .join(msgs.hint("shuffle_hash"), Seq("id"), "left")
            .select(col("id"), prog.update.as("__new"), col("state").as("__old"))
            .select(col("id"), col("__new").as("state"),
              not(col("__new") <=> col("__old")).as("changed"))
        },
        stats = Superstep.UntilUnchanged.stats,
        fold = Superstep.UntilUnchanged.fold,
        halt = s => prog.haltOnNoChange && Superstep.UntilUnchanged.halt(s),
        result = (state, _) => state.select(col("id"), col("state")))
    }
}
