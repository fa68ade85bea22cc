package graft.algos

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.engine.{Engine, Pregel, Superstep}
import graft.engine.Engine.MetricsLog
import graft.graph.LinkGraph

/** Single-source shortest paths, semantics of the reference's
  * `grape::SSSP` / `gs::SSSPProjected` (`benchmarks/apps/sssp/sssp.h`,
  * `apps/projected/sssp_projected.h`): directed relaxation over the edge
  * weight property, frontier-driven (only vertices whose distance improved
  * re-relax), until no distance changes. Unreachable vertices report null.
  *
  * Spark shape: the [[Pregel.relax]] frontier loop WCC runs — frontier
  * join on src (co-partitioned, no exchange on the edge side) →
  * `min(dist + w)` per dst (partial agg) → one [[Superstep]] job that
  * checkpoints the state and counts the changed vertices.
  */
object SSSP {

  /** Returns (id: Long, dist: Double nullable). */
  def run(
      g: LinkGraph,
      sourceOid: String,
      log: MetricsLog = new MetricsLog
  ): DataFrame =
    Pregel.run(g.vertices.toDF, g.edges.toDF.select(col("src"), col("dst"), col("weight")),
      program(when(col("oid") === sourceOid, 0.0)), log)
      .select(col("id"), col("state").as("dist"))

  /** The relaxation as a vertex program: `init` is the distance before
    * round 1 (0.0 at the sources, null elsewhere); a vertex sends
    * `dist + weight` along its out-edges.
    */
  def program(init: Column, maxIter: Int = Int.MaxValue): Pregel.Program =
    Pregel.relax(init, col("state") + col("weight"), maxIter)

  /** Batched multi-source SSSP: ALL sources relax simultaneously with
    * state keyed by (source s, vertex id) — the same batching shape as
    * [[Betweenness]] — instead of a driver loop of single-source runs.
    * State is *sparse* (only reached pairs exist), so the frontier join
    * and the improve-merge are ordinary keyed join-aggregates; one
    * message exchange per superstep. Returns (s, id, dist) for reached
    * pairs; `reversed=true` relaxes over flipped edges (closeness).
    */
  def multiSource(g: LinkGraph, sourceOids: Seq[String], reversed: Boolean = false): DataFrame =
    multiSource(g,
      g.vertices.toDF.where(col("oid").isin(sourceOids: _*)).select(col("id").as("s")),
      reversed, new MetricsLog)

  /** Source-frame form (one `s` column of vertex ids) — the entry point
    * for large source sets (all-sources closeness caps by degree rather
    * than naming oids). `log` records per-superstep wall/frontier/edge
    * metrics for the bench report.
    */
  def multiSource(
      g: LinkGraph, sources: DataFrame, reversed: Boolean, log: MetricsLog
  ): DataFrame = Superstep.run(g.vertices.sparkSession, log = log) {
    val e0 = g.edges.toDF
    val e = Engine.checkpoint((if (reversed)
      e0.select(col("dst").as("src"), col("src").as("dst"), col("weight"))
    else e0.select(col("src"), col("dst"), col("weight")))
      .repartition(col("src")))
    val eCount = e.count()
    Superstep.Loop(
      init = sources.select(col("s"), col("s").as("id"), lit(0.0).as("dist"), lit(true).as("changed")),
      scalars = Superstep.UntilUnchanged.scalars,
      step = (state, _) => {
        val msgs = e
          .join(state.where(col("changed")).select(col("s"), col("id").as("src"), col("dist").as("sd"))
            .hint("shuffle_hash"), "src")
          .groupBy(col("s"), col("dst").as("id"))
          .agg(min(col("sd") + col("weight")).as("nd"))
        // reached pairs only: the full outer join inserts newly reached
        // (s, id) pairs and keeps the rest
        val improved = col("nd").isNotNull && (col("dist").isNull || col("nd") < col("dist"))
        state.select(col("s"), col("id"), col("dist"))
          .join(msgs.hint("shuffle_hash"), Seq("s", "id"), "full_outer")
          .select(col("s"), col("id"), when(improved, col("nd")).otherwise(col("dist")).as("dist"),
            improved.as("changed"))
      },
      stats = Superstep.UntilUnchanged.stats,
      fold = Superstep.UntilUnchanged.fold,
      halt = Superstep.UntilUnchanged.halt,
      edges = eCount,
      result = (state, _) => state.select(col("s"), col("id"), col("dist")))
  }
}

/** NetworkX-style BFS outputs (reference `gs::BFSGeneric`,
  * `apps/bfs/bfs_generic.h`): the BFS tree (shortest-path parent
  * pointers with a deterministic min-id tie-break), and the full
  * predecessor/successor relations of the BFS DAG. All derived from the
  * level table with one edge join each — no extra fixpoint.
  */
object BFSGeneric {

  /** (id, level, parent) for reachable vertices; parent = smallest-id
    * predecessor on a shortest path, null for the source.
    */
  def tree(g: LinkGraph, sourceOid: String): DataFrame = {
    val lvl = Engine.checkpoint(BFS.run(g, sourceOid).where(col("level").isNotNull))
    lvl.rdd.count()
    val parents = dagEdges(g, lvl)
      .groupBy(col("dst").as("id")).agg(min(col("src")).as("parent"))
    lvl.join(parents, Seq("id"), "left").select(col("id"), col("level"), col("parent"))
  }

  /** All (id, pred) pairs of the BFS DAG (every shortest-path
    * predecessor, not just the tree parent).
    */
  def predecessors(g: LinkGraph, sourceOid: String): DataFrame = {
    val lvl = BFS.run(g, sourceOid).where(col("level").isNotNull)
    dagEdges(g, lvl).select(col("dst").as("id"), col("src").as("pred"))
  }

  /** All (id, succ) pairs of the BFS DAG. */
  def successors(g: LinkGraph, sourceOid: String): DataFrame = {
    val lvl = BFS.run(g, sourceOid).where(col("level").isNotNull)
    dagEdges(g, lvl).select(col("src").as("id"), col("dst").as("succ"))
  }

  /** Edges u→v of the BFS DAG: level(u) = level(v) − 1. */
  private def dagEdges(g: LinkGraph, lvl: DataFrame): DataFrame =
    g.edges.toDF.select(col("src"), col("dst"))
      .join(lvl.select(col("id").as("src"), col("level").as("sl")), "src")
      .join(lvl.select(col("id").as("dst"), col("level").as("dl")), "dst")
      .where(col("sl") === col("dl") - 1)
}

/** BFS levels from a source over out-edges, semantics of `grape::BFS`
  * (`benchmarks/apps/bfs/bfs.h`): level(source)=0, unvisited = null;
  * frontier expansion, first visit wins.
  */
object BFS {

  /** Returns (id: Long, level: Long nullable): a vertex sends
    * `level + 1` along its out-edges, and the first (least) level wins.
    */
  def run(g: LinkGraph, sourceOid: String): DataFrame =
    Pregel.run(g.vertices.toDF, g.edges.toDF.select(col("src"), col("dst")),
      Pregel.relax(when(col("oid") === sourceOid, 0L), col("state") + 1L))
      .select(col("id"), col("state").as("level"))
}
