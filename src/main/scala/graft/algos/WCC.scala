package graft.algos

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.engine.{CheckpointConfig, Engine, Superstep}
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
  * Spark shape: symmetrized edge table persisted once; each superstep
  * scatters from the *changed* frontier only (the reference's
  * `curr_modified` set) — a join of edges against the frontier, then
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
  ): DataFrame = Superstep.run(g.vertices.sparkSession, maxIter, log, ckpt) {
    val und = Engine.checkpoint(g.edges.toDF
      .where(col("src") =!= col("dst"))
      .select(col("src"), col("dst"))
      .unionAll(g.edges.toDF.where(col("src") =!= col("dst"))
        .select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .repartition(col("src")))
    val undCount = und.count()
    // The state carries last round's `changed` flag: the frontier is the
    // changed rows, initially all.
    Superstep.Loop(
      init = g.vertices.toDF.select(col("id"), col("id").as("comp"), lit(true).as("changed"))
        .repartition(col("id")),
      scalars = Superstep.UntilUnchanged.scalars,
      step = (state, _) => {
        val msgs = und
          .join(state.where(col("changed"))
            .select(col("id").as("src"), col("comp").as("scomp")).hint("shuffle_hash"), "src")
          .groupBy(col("dst").as("id"))
          .agg(min(col("scomp")).as("mc"))
        state
          .join(msgs.hint("shuffle_hash"), Seq("id"), "left")
          .select(
            col("id"),
            least(col("comp"), coalesce(col("mc"), col("comp"))).as("comp"),
            (col("mc").isNotNull && col("mc") < col("comp")).as("changed"))
      },
      stats = Superstep.UntilUnchanged.stats,
      fold = Superstep.UntilUnchanged.fold,
      halt = Superstep.UntilUnchanged.halt,
      edges = undCount,
      result = (state, _) => state.select(col("id"), col("comp")))
  }

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
