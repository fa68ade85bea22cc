package graft.algos

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.engine.{Engine, Superstep}
import graft.graph.LinkGraph

/** Louvain-style modularity community detection (reference
  * `gs::LouvainAppBase`, `apps/pregel/louvain/louvain_app_base.h:43`,
  * Pregel-style with Sum aggregators `:81-120`): the synchronous
  * first-phase sweep — every vertex simultaneously evaluates moving to
  * each neighbor community and takes the move with the best modularity
  * gain (ties to the smallest community id), repeated until no vertex
  * moves or `maxRounds`.
  *
  * Spark shape: per round, two join-aggregates — (vertex, neighbor
  * community) weight sums and per-community weighted-degree totals — and
  * a deterministic struct-max argmax; all partial-aggregated (hub-safe).
  * Synchronous sweeps can oscillate on symmetric graphs, hence the
  * round cap + no-move termination (same trade the reference's
  * Pregel-style Louvain makes).
  */
object Louvain {

  /** One synchronous first-phase sweep over an explicit (adjacency,
    * degree) pair — one [[Superstep]] loop per level of [[runMultiLevel]].
    *
    * @param und  symmetric self-loop-free adjacency (src, dst, w),
    *             hash-partitioned by src
    * @param deg  per-vertex modularity degree (id, kdeg). At coarse
    *             levels this INCLUDES intra-community (self-loop)
    *             weight — kdeg of a super-vertex is the sum of its
    *             members' kdegs — which is what keeps the modularity
    *             objective identical across levels.
    * @param ids  the vertex universe (one `id` column)
    * @return (id, community) at this level's fixpoint (or round cap)
    *
    * Moves alternate by vertex parity (round r admits only vertices with
    * id % 2 == r % 2): fully synchronous moves on the bipartite-ish
    * reply graph oscillate into two cross-heavy blocks (measured Q of
    * -0.47 vs -0.02 for singletons at sf0.001) because every vertex
    * evaluates its gain assuming all others stay. Half-and-half
    * scheduling is the standard shared-nothing Louvain remedy (cf.
    * GraphScope's pregel louvain odd/even phase split,
    * `apps/pregel/louvain/louvain.h`); it keeps each round's gains
    * valid for the movers and converges to positive modularity.
    * Convergence = two consecutive quiet rounds (one per parity).
    *
    * Known plateau: same-parity members of a symmetrically-split dense
    * cluster can swap labels in a cycle (each mover's gain is real, the
    * joint move cancels) — the cap then ends the sweep at the split.
    * Phase 2 ([[runMultiLevel]]) is the escape: the split halves become
    * super-vertices whose merge is a single positive-gain coarse move,
    * which is why the multi-level entry point is the product surface.
    */
  private def sweep(
      ids: DataFrame, und: DataFrame, deg: DataFrame, m2: Double,
      maxRounds: Int, resolution: Double
  ): DataFrame = Superstep.run(ids.sparkSession, maxRounds) {
    Superstep.Loop(
      init = ids.select(col("id"), col("id").as("community"), lit(false).as("changed"))
        .repartition(col("id")),
      scalars = Map("round" -> 0.0, "moved" -> 1.0, "movedPrev" -> 1.0),
      // the state rides four joins per round: Engine.checkpoint's capped
      // size estimate keeps Catalyst's sizeInBytes product from compounding
      step = (state, s) => {
        // every join is hinted: a broadcast would cost a job of its own
        val comm = state.select(col("id"), col("community"))
          .join(deg.hint("shuffle_hash"), Seq("id"), "left")
        val commTot = comm.groupBy(col("community"))
          .agg(sum(coalesce(col("kdeg"), lit(0.0))).as("tot"))
        val neighbor = comm.join(commTot.hint("shuffle_hash"), Seq("community"))
          .select(col("id").as("src"), col("community").as("c"), col("tot"))
        // weight from each vertex to each neighbor community: `und` is
        // symmetric, so a vertex's weights are the rows whose dst it is,
        // and the join stays co-partitioned with `und` on src
        val cand = und
          .join(neighbor.hint("shuffle_hash"), "src")
          .groupBy(col("dst").as("id"), col("c"), col("tot"))
          .agg(sum(col("w")).as("wvc"))
          .join(comm.hint("shuffle_hash"), Seq("id")) // current community and kdeg
          .select(col("id"), col("c"), col("community"),
            (col("wvc") - lit(resolution) * col("kdeg") *
              (col("tot") - when(col("c") === col("community"), col("kdeg")).otherwise(0.0)) / m2)
              .as("gain"))
        // round parity rides a 1-row frame, not a lit(): an
        // iteration-varying literal would recompile codegen every round
        // (project invariant; see Engine.scalar)
        val parity = Engine.scalarLong(ids.sparkSession, "__par", s("round").toLong % 2)
        val best = cand
          .groupBy(col("id"))
          .agg(max(struct(col("gain"), (-col("c")).as("negc"), col("c").as("cc"))).as("m"),
            max(when(col("c") === col("community"), col("gain"))).as("stay"),
            first(col("community")).as("cur"))
          .crossJoin(parity)
          .select(col("id"),
            when(pmod(col("id"), lit(2L)) === col("__par") &&
              col("m.gain") > coalesce(col("stay"), lit(0.0)) + lit(1e-12), col("m.cc"))
              .otherwise(col("cur")).as("newc"),
            col("cur"))
        comm
          .join(best.hint("shuffle_hash"), Seq("id"), "left")
          .select(col("id"), coalesce(col("newc"), col("community")).as("community"),
            (col("newc").isNotNull && col("newc") =!= col("community")).as("changed"))
      },
      stats = _.agg(sum(when(col("changed"), 1L))),
      fold = (r, s) => Map("round" -> (s("round") + 1), "moved" -> Superstep.orZero(r, 0),
        "movedPrev" -> s("moved"), "delta" -> Superstep.orZero(r, 0)),
      halt = s => s("moved") == 0 && s("movedPrev") == 0,
      result = (state, _) => state.select(col("id"), col("community")))
  }

  /** Returns (id, community) — single-level synchronous sweeps. */
  def run(g: LinkGraph, maxRounds: Int = 10, resolution: Double = 1.0): DataFrame =
    runMultiLevel(g, maxRounds, levels = 1, resolution)

  /** Multi-level Louvain (the reference's phase-2 structure,
    * `louvain_app_base.h:43`): sweep, then compress each community into
    * a super-vertex (identified by its community id) and sweep again on
    * the coarse graph, composing assignments back down. Coarse-level
    * bookkeeping keeps the objective exact: the coarse adjacency drops
    * intra-community edges (self-loops — they move with the vertex and
    * cancel out of every gain comparison) but the coarse kdeg is the SUM
    * of member kdegs, so community totals and m2 are level-invariant.
    *
    * Returns (id, community) in original-vertex id space.
    */
  def runMultiLevel(
      g: LinkGraph, roundsPerLevel: Int = 5, levels: Int = 2,
      resolution: Double = 1.0
  ): DataFrame = {
    val spark = g.vertices.sparkSession
    Engine.withoutAQE(spark) {
      val und = Engine.checkpoint(
        g.symmetricEdges.withColumnRenamed("weight", "w").repartition(col("src")))
      val m2 = und.agg(sum(col("w"))).head() match {
        case r if r.isNullAt(0) => 1.0
        case r => r.getDouble(0)
      }
      val deg = Engine.checkpoint(und.groupBy(col("src").as("id")).agg(sum(col("w")).as("kdeg")))
      deg.count()
      // orig vertex -> current community (composed across levels)
      val assign = sweep(g.vertices.toDF.select(col("id")), und, deg, m2, roundsPerLevel, resolution)
      (1 until levels).foldLeft((assign, und, deg)) { case ((assign, und, deg), _) =>
        // coarsen: super-vertex = community id; kdeg aggregated over
        // members (keeps self-loop mass); adjacency between distinct
        // communities only
        val cdeg = Engine.checkpoint(
          assign.join(deg, Seq("id"), "left")
            .groupBy(col("community").as("id"))
            .agg(sum(coalesce(col("kdeg"), lit(0.0))).as("kdeg")))
        val cund = Engine.checkpoint(
          und
            .join(assign.select(col("id").as("src"), col("community").as("cs")).hint("shuffle_hash"), "src")
            .join(assign.select(col("id").as("dst"), col("community").as("cd")).hint("shuffle_hash"), "dst")
            .where(col("cs") =!= col("cd"))
            .groupBy(col("cs").as("src"), col("cd").as("dst"))
            .agg(sum(col("w")).as("w"))
            .repartition(col("src")))
        val cassign = sweep(cdeg.select(col("id")), cund, cdeg, m2, roundsPerLevel, resolution)
        // compose: orig -> community -> super-community
        val composed = Engine.checkpoint(
          assign.join(
            cassign.select(col("id").as("community"), col("community").as("cc")).hint("shuffle_hash"),
            Seq("community"))
            .select(col("id"), col("cc").as("community")))
        (composed, cund, cdeg)
      }._1
    }
  }

  /** Modularity of a community assignment. */
  def modularity(g: LinkGraph, comm: DataFrame, resolution: Double = 1.0): Double = {
    val und = Engine.checkpoint(g.symmetricEdges.withColumnRenamed("weight", "w"))
    val m2 = und.agg(sum(col("w"))).head().getDouble(0)
    val in = und
      .join(comm.select(col("id").as("src"), col("community").as("cs")), "src")
      .join(comm.select(col("id").as("dst"), col("community").as("cd")), "dst")
      .where(col("cs") === col("cd"))
      .agg(sum(col("w"))).head() match {
      case r if r.isNullAt(0) => 0.0
      case r => r.getDouble(0)
    }
    val deg = und.groupBy(col("src").as("id")).agg(sum(col("w")).as("kdeg"))
    val totSq = comm.join(deg, Seq("id"), "left")
      .groupBy(col("community")).agg(sum(coalesce(col("kdeg"), lit(0.0))).as("tot"))
      .agg(sum((col("tot") / m2) * (col("tot") / m2))).head().getDouble(0)
    in / m2 - resolution * totSq
  }
}
