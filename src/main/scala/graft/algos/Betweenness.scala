package graft.algos

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.engine.{Engine, Superstep}
import graft.graph.LinkGraph

/** Betweenness centrality via Brandes' algorithm (reference
  * `gs::BetweennessCentrality`,
  * `apps/centrality/betweenness/betweenness_centrality.h`), batched over
  * sources: ALL sampled sources run simultaneously — per-superstep state
  * is keyed by (source, vertex), so the forward BFS wave and the backward
  * dependency accumulation are ordinary join-aggregates over a state
  * table |S|·|V| at worst; parallelism comes from the source dimension as
  * well as the vertex dimension (the standard way to scale Brandes on a
  * shared-nothing engine).
  *
  * Unweighted shortest paths (BFS DAG); exact when `sources` = all
  * vertices. Output is the **unnormalized** sum of per-source
  * dependencies over the given sources (divide by |sources| for the
  * sampled-estimator scale if desired).
  */
object Betweenness {

  /** Returns (id, betweenness). Two [[Superstep]] loops: the forward
    * BFS wave, then (in its result) the backward dependency pass.
    */
  def run(g: LinkGraph, sourceOids: Seq[String]): DataFrame = {
    val spark = g.vertices.sparkSession
    Superstep.run(spark) {
      val e = Engine.checkpoint(g.edges.toDF.select(col("src"), col("dst"))
        .repartition(col("src")))
      val eCount = e.count()
      // forward phase: the state is the settled set of (source s, vertex
      // v, level, sigma = #shortest paths); a round expands the last
      // level and halts when it adds no row. The level rides a 1-row
      // frame (Engine.scalarLong) so superstep codegen is identical per
      // level.
      Superstep.Loop(
        init = g.vertices.toDF.where(col("oid").isin(sourceOids: _*))
          .select(col("id").as("s"), col("id"), lit(0L).as("level"), lit(1.0).as("sigma")),
        scalars = Map("level" -> 0.0, "grew" -> 1.0),
        step = (settled, sc) => {
          val lvl = Engine.scalarLong(spark, "__lvl", sc("level").toLong)
          val next = settled.crossJoin(lvl).where(col("level") === col("__lvl"))
            .join(e.withColumnRenamed("src", "id").hint("shuffle_hash"), Seq("id"))
            .groupBy(col("s"), col("dst").as("id"))
            .agg(sum(col("sigma")).as("sigma"))
            .join(settled.select(col("s"), col("id")).hint("shuffle_hash"), Seq("s", "id"), "left_anti")
            .crossJoin(lvl)
            .select(col("s"), col("id"), (col("__lvl") + 1L).as("level"), col("sigma"))
          settled.unionByName(next)
        },
        stats = _.agg(max(col("level"))),
        fold = (r, sc) => {
          val level = Superstep.orZero(r, 0)
          Map("level" -> level, "grew" -> (if (level > sc("level")) 1.0 else 0.0))
        },
        halt = _("grew") == 0,
        edges = eCount,
        result = (settled, sc) => {
          val delta = dependencies(e, settled, sc("level").toLong)
          g.vertices.toDF.select(col("id"))
            .join(
              delta.where(col("s") =!= col("id")) // δ_s(s) never counts
                .groupBy(col("id")).agg(sum(col("delta")).as("betweenness")),
              Seq("id"), "left")
            .select(col("id"), coalesce(col("betweenness"), lit(0.0)).as("betweenness"))
        })
    }
  }

  /** Backward phase over the settled set, from its deepest level down to
    * level 1: delta(v) = Σ_{w: v→w, level(w)=level(v)+1} σ(v)/σ(w)·(1+δ(w)).
    * Returns (s, id, delta).
    */
  private def dependencies(e: DataFrame, settled: DataFrame, depth: Long): DataFrame = {
    val spark = settled.sparkSession
    Superstep.run(spark) {
      Superstep.Loop(
        init = settled.select(col("s"), col("id"), lit(0.0).as("delta")),
        scalars = Map("level" -> depth.toDouble),
        step = (delta, sc) => {
          val l = sc("level").toLong
          def atLevel(name: String, v: Long) =
            settled.crossJoin(Engine.scalarLong(spark, name, v)).where(col("level") === col(name))
          val wLevel = atLevel("__l", l)
            .join(delta.hint("shuffle_hash"), Seq("s", "id"))
            .select(col("s"), col("id").as("w"), col("sigma").as("sw"), col("delta").as("dw"))
          val contrib = e.withColumnRenamed("dst", "w")
            .join(wLevel.hint("shuffle_hash"), "w")
            .groupBy(col("s"), col("src").as("id"))
            .agg(sum((lit(1.0) + col("dw")) / col("sw")).as("cf"))
          delta.join(
            contrib.join(atLevel("__lp", l - 1).select(col("s"), col("id"), col("sigma")).hint("shuffle_hash"),
              Seq("s", "id"))
              .select(col("s"), col("id"), (col("cf") * col("sigma")).as("add")).hint("shuffle_hash"),
            Seq("s", "id"), "left")
            .select(col("s"), col("id"),
              (col("delta") + coalesce(col("add"), lit(0.0))).as("delta"))
        },
        stats = _.agg(count(lit(1))),
        fold = (_, sc) => Map("level" -> (sc("level") - 1)),
        halt = _("level") <= 0)
    }
  }
}
