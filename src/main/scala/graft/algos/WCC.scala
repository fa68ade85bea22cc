package graft.algos

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.engine.{CheckpointConfig, Pregel}
import graft.engine.Engine.MetricsLog
import graft.graph.LinkGraph

/** Weakly connected components, HashMin semantics of the reference's
  * `gs::WCCProjected` (`apps/projected/wcc_projected.h:62-183`):
  * `comp(v)` initialized to the vertex's own id (`:76-81`), min component
  * id propagated along out- *and* in-edges (undirected closure, `:83-105`),
  * only vertices whose comp changed re-propagate next round (frontier,
  * `:140-166`), terminate when nothing changed (`:114-119`). Component
  * ids are exact (deterministic min of dense ids = min oid per component,
  * since dense ids are oid-sorted ranks).
  *
  * Spark shape: a [[Pregel.relax]] program over the pairs of
  * [[LinkGraph.symmetricEdges]]. Only the *changed* frontier sends (the
  * reference's `curr_modified` set): a join of edges against the frontier, then
  * partial+final `min` per destination (hub skew absorbed by map-side
  * combine), then one [[Superstep]] job that checkpoints the state and
  * counts the changed vertices.
  */
object WCC {

  /** Returns (id: Long, comp: Long) with comp = min dense id in the
    * component.
    */
  def run(
      g: LinkGraph,
      maxIter: Int = Int.MaxValue,
      log: MetricsLog = new MetricsLog,
      ckpt: Option[CheckpointConfig] = None
  ): DataFrame =
    Pregel.run(g.vertices.toDF, g.symmetricEdges.select(col("src"), col("dst")),
      Pregel.relax(init = col("id"), message = col("state"), maxIter), log, ckpt)
      .select(col("id"), col("state").as("comp"))

  /** Canonicalized output for cross-engine comparison: component labeled
    * by its minimum member oid (SURVEY.md §2.B.2 — gid assignment is
    * engine-specific, the vertex partition is not).
    */
  def canonical(g: LinkGraph, comps: DataFrame): DataFrame =
    comps
      .join(g.vertices.toDF, Seq("id"))
      .join(
        g.vertices.toDF.select(col("id").as("comp"), col("oid").as("comp_oid")),
        Seq("comp"))
      .select(col("oid"), col("comp_oid"))
}
