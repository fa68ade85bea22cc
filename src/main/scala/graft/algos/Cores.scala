package graft.algos

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.engine.Engine
import graft.graph.LinkGraph

/** k-core and k-shell decomposition, semantics of the reference's
  * `gs::KCore` (`apps/kcore/kcore.h`) and `gs::KShell`
  * (`apps/kshell/kshell.h`): iterative peeling on the undirected simple
  * graph — repeatedly delete vertices with degree < k; the k-core is what
  * survives; the shell index of v is the largest k such that v is in the
  * k-core.
  */
object Cores {

  /** Vertices of the k-core: (id, degree-in-core). Classic peel loop:
    * drop vertices with degree < k until none qualify.
    */
  def kcore(g: LinkGraph, k: Int): DataFrame = {
    var edges = Engine.checkpoint(
      g.undirectedEdges.select(col("a"), col("b"))
        .unionAll(g.undirectedEdges.select(col("b").as("a"), col("a").as("b"))))
    var peeled = 1L
    while (peeled > 0) {
      val deg = edges.groupBy(col("a").as("id")).agg(count(lit(1)).as("deg"))
      val drop = Engine.checkpoint(deg.where(col("deg") < k).select(col("id")))
      peeled = drop.count()
      if (peeled > 0) {
        edges = Engine.checkpoint(
          edges
            .join(drop.select(col("id").as("a")), Seq("a"), "left_anti")
            .join(drop.select(col("id").as("b")), Seq("b"), "left_anti"))
        edges.count()
      }
    }
    edges.groupBy(col("a").as("id")).agg(count(lit(1)).as("deg"))
  }

  /** Shell index per vertex: (id, shell). Peels k = 1, 2, … until the
    * graph is empty. Driver loop over k; inner peel loop per k.
    */
  def kshell(g: LinkGraph): DataFrame = {
    val spark = g.vertices.sparkSession
    import spark.implicits._
    var edges = Engine.checkpoint(
      g.undirectedEdges.select(col("a"), col("b"))
        .unionAll(g.undirectedEdges.select(col("b").as("a"), col("a").as("b"))))
    edges.count()
    var shells: DataFrame = g.vertices.toDF.select(col("id"), lit(0L).as("shell"))
    var k = 1L
    var live = edges.select(col("a")).distinct().count()
    while (live > 0) {
      // peel everything below degree k
      var peeled = 1L
      while (peeled > 0) {
        val deg = edges.groupBy(col("a").as("id")).agg(count(lit(1)).as("deg"))
        val drop = deg.where(col("deg") < k).select(col("id"))
        peeled = drop.count()
        if (peeled > 0) {
          // dropped vertices belong to shell k-1
          shells = Engine.checkpoint(
            shells.join(drop.withColumn("__hit", lit(true)), Seq("id"), "left")
              .select(col("id"),
                when(col("__hit"), lit(k - 1L)).otherwise(col("shell")).as("shell")))
          edges = Engine.checkpoint(
            edges
              .join(drop.select(col("id").as("a")), Seq("a"), "left_anti")
              .join(drop.select(col("id").as("b")), Seq("b"), "left_anti"))
          edges.count()
        }
      }
      val remaining = edges.select(col("a").as("id")).distinct()
      live = remaining.count()
      if (live > 0) {
        // survivors at this k have shell >= k
        shells = Engine.checkpoint(
          shells.join(remaining.withColumn("__live", lit(true)), Seq("id"), "left")
            .select(col("id"),
              when(col("__live"), lit(k)).otherwise(col("shell")).as("shell")))
        shells.count()
      }
      k += 1L
    }
    shells
  }
}
