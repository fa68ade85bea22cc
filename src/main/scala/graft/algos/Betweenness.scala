package graft.algos

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.engine.Engine
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

  /** Returns (id, betweenness). */
  def run(g: LinkGraph, sourceOids: Seq[String]): DataFrame = {
    val spark = g.vertices.sparkSession
    Engine.withoutAQE(spark) {
      val e = Engine.checkpoint(g.edges.toDF.select(col("src"), col("dst"))
        .repartition(col("src")))
      e.count()
      val srcIds = Engine.checkpoint(g.vertices.toDF.where(col("oid").isin(sourceOids: _*))
        .select(col("id").as("s")))
      srcIds.count()

      // forward phase: per (source s, vertex v): level, sigma (#shortest
      // paths). The per-level constant rides a 1-row frame
      // (Engine.scalarLong) so superstep codegen is identical per level.
      var settled = Engine.checkpoint(
        srcIds.select(col("s"), col("s").as("id"), lit(0L).as("level"), lit(1.0).as("sigma")))
      var frontier = settled
      var level = 0L
      var more = true
      while (more) {
        val nextLevel = level + 1L
        val lvl = Engine.scalarLong(spark, "__lvl", nextLevel)
        val expanded = frontier
          .join(e.withColumnRenamed("src", "id"), Seq("id"))
          .groupBy(col("s"), col("dst").as("id"))
          .agg(sum(col("sigma")).as("sigma"))
        val next = Engine.checkpoint(
          expanded.join(settled.select(col("s"), col("id"), lit(true).as("__seen")),
            Seq("s", "id"), "left")
            .where(col("__seen").isNull)
            .crossJoin(lvl)
            .select(col("s"), col("id"), col("__lvl").as("level"), col("sigma")))
        val n = next.count()
        if (n == 0) more = false
        else {
          settled = Engine.checkpoint(settled.unionByName(next.select("s", "id", "level", "sigma")))
          settled.count()
          frontier = next.select("s", "id", "level", "sigma")
          level = nextLevel
        }
      }

      // backward phase: delta(v) = Σ_{w: v→w, level(w)=level(v)+1} σ(v)/σ(w)·(1+δ(w))
      val all = settled // already a pinned checkpoint chain
      var delta = Engine.checkpoint(
        all.select(col("s"), col("id"), lit(0.0).as("delta")))
      var l = level
      while (l > 0) {
        val lCur = Engine.scalarLong(spark, "__l", l)
        val lPrev = Engine.scalarLong(spark, "__lp", l - 1)
        val wLevel = all.crossJoin(lCur).where(col("level") === col("__l"))
          .join(delta, Seq("s", "id"))
          .select(col("s"), col("id").as("w"), col("sigma").as("sw"), col("delta").as("dw"))
        val contrib = e.withColumnRenamed("dst", "w")
          .join(wLevel.hint("shuffle_hash"), "w")
          .groupBy(col("s"), col("src").as("id"))
          .agg(sum((lit(1.0) + col("dw")) / col("sw")).as("cf"))
        delta = Engine.checkpoint(
          delta.join(
            contrib.join(
              all.crossJoin(lPrev).where(col("level") === col("__lp"))
                .select(col("s"), col("id"), col("sigma")),
              Seq("s", "id"))
              .select(col("s"), col("id"), (col("cf") * col("sigma")).as("add")),
            Seq("s", "id"), "left")
            .select(col("s"), col("id"),
              (col("delta") + coalesce(col("add"), lit(0.0))).as("delta")))
        delta.count()
        l -= 1L
      }
      val out = g.vertices.toDF.select(col("id"))
        .join(
          delta.where(col("s") =!= col("id")) // δ_s(s) never counts
            .groupBy(col("id")).agg(sum(col("delta")).as("betweenness")),
          Seq("id"), "left")
        .select(col("id"), coalesce(col("betweenness"), lit(0.0)).as("betweenness"))
      
      out
    }
  }
}
