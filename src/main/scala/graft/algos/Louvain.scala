package graft.algos

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.engine.Engine
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

  /** Symmetric weighted adjacency of `g` without self-loops (each
    * undirected edge in both directions; the two directions' weights
    * merged).
    */
  private def symmetrize(g: LinkGraph): DataFrame =
    g.edges.toDF.where(col("src") =!= col("dst"))
      .select(col("src"), col("dst"), col("weight"))
      .unionAll(g.edges.toDF.where(col("src") =!= col("dst"))
        .select(col("dst").as("src"), col("src").as("dst"), col("weight")))
      .groupBy(col("src"), col("dst")).agg(sum(col("weight")).as("w"))

  /** One synchronous first-phase sweep pass over an explicit
    * (adjacency, degree) pair — shared by the flat [[run]] and the
    * coarsened levels of [[runMultiLevel]].
    *
    * @param und  symmetric self-loop-free adjacency (src, dst, w)
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
  ): DataFrame = {
    // comm rides FOUR joins per round: Engine.checkpoint's capped size
    // estimate keeps Catalyst's sizeInBytes product from compounding
    var comm = Engine.checkpoint(
      ids.select(col("id"), col("id").as("community")).repartition(col("id")))
    var round = 0
    var moved = 1L
    var movedPrev = 1L
    while (round < maxRounds && (moved > 0 || movedPrev > 0)) {
      val commTot = comm.join(deg, Seq("id"), "left")
        .groupBy(col("community"))
        .agg(sum(coalesce(col("kdeg"), lit(0.0))).as("tot"))
      // weight from each vertex to each neighbor community
      val wvc = und
        .join(comm.select(col("id").as("dst"), col("community").as("c")).hint("shuffle_hash"), "dst")
        .groupBy(col("src").as("id"), col("c"))
        .agg(sum(col("w")).as("wvc"))
      val cand = wvc
        .join(deg, Seq("id"))
        .join(comm, Seq("id")) // current community
        .join(commTot.withColumnRenamed("community", "c"), Seq("c"))
        .select(col("id"), col("c"), col("community"),
          (col("wvc") - lit(resolution) * col("kdeg") *
            (col("tot") - when(col("c") === col("community"), col("kdeg")).otherwise(0.0)) / m2)
            .as("gain"))
      // round parity rides a 1-row frame, not a lit(): an
      // iteration-varying literal would recompile codegen every round
      // (project invariant; see Engine.scalar)
      val parity = Engine.scalarLong(ids.sparkSession, "__par", (round % 2).toLong)
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
      val next = comm
        .join(best.hint("shuffle_hash"), Seq("id"), "left")
        .select(col("id"), coalesce(col("newc"), col("community")).as("community"),
          (col("newc").isNotNull && col("newc") =!= col("community")).as("changed"))
      val nextM = Engine.checkpoint(next)
      movedPrev = moved
      moved = {
        val r = nextM.agg(sum(when(col("changed"), 1L))).head()
        if (r.isNullAt(0)) 0L else r.getLong(0)
      }
      comm = nextM.select(col("id"), col("community"))
      round += 1
    }
    comm
  }

  /** Returns (id, community) — single-level synchronous sweeps. */
  def run(g: LinkGraph, maxRounds: Int = 10, resolution: Double = 1.0): DataFrame = {
    val spark = g.vertices.sparkSession
    Engine.withoutAQE(spark) {
      val und = Engine.checkpoint(symmetrize(g).repartition(col("src")))
      val m2 = und.agg(sum(col("w"))).head() match {
        case r if r.isNullAt(0) => 1.0
        case r => r.getDouble(0)
      }
      val deg = Engine.checkpoint(und.groupBy(col("src").as("id")).agg(sum(col("w")).as("kdeg")))
      deg.count()
      val comm = sweep(g.vertices.toDF.select(col("id")), und, deg, m2, maxRounds, resolution)
      comm
    }
  }

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
      var und = Engine.checkpoint(symmetrize(g).repartition(col("src")))
      val m2 = und.agg(sum(col("w"))).head() match {
        case r if r.isNullAt(0) => 1.0
        case r => r.getDouble(0)
      }
      var deg = Engine.checkpoint(und.groupBy(col("src").as("id")).agg(sum(col("w")).as("kdeg")))
      deg.count()
      var ids = g.vertices.toDF.select(col("id"))
      // orig vertex -> current community (composed across levels)
      var assign = sweep(ids, und, deg, m2, roundsPerLevel, resolution)
      var level = 1
      while (level < levels) {
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
            .agg(sum(col("w")).as("w")))
        val cids = cdeg.select(col("id"))
        val cassign = sweep(cids, cund, cdeg, m2, roundsPerLevel, resolution)
        // compose: orig -> community -> super-community
        assign = Engine.checkpoint(
          assign.join(
            cassign.select(col("id").as("community"), col("community").as("cc")).hint("shuffle_hash"),
            Seq("community"))
            .select(col("id"), col("cc").as("community")))
        und = cund; deg = cdeg
        level += 1
      }
      assign
    }
  }

  /** Modularity of a community assignment. */
  def modularity(g: LinkGraph, comm: DataFrame, resolution: Double = 1.0): Double = {
    val und = Engine.checkpoint(g.edges.toDF.where(col("src") =!= col("dst"))
      .select(col("src"), col("dst"), col("weight"))
      .unionAll(g.edges.toDF.where(col("src") =!= col("dst"))
        .select(col("dst").as("src"), col("src").as("dst"), col("weight")))
      .groupBy(col("src"), col("dst")).agg(sum(col("weight")).as("w")))
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
