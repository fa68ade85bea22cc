package graft.algos

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.engine.{CheckpointConfig, CsrEdges, CsrGather, Engine, Superstep}
import graft.engine.Engine.MetricsLog
import graft.graph.LinkGraph

/** Damped PageRank with dangling-mass redistribution, semantics of the
  * reference's benchmark app (`analytical_engine/benchmarks/apps/pagerank/
  * pagerank.h:82-196`): init `rank = 1/N`; each round
  * `base = (1-d)/N + d*danglingSum/N`, `rank'(v) = base + d*Σ_{u→v}
  * rank(u)/outdeg(u)`; fixed `maxIter` rounds, or (NetworkX variant,
  * `apps/pagerank/pagerank_networkx.h:135-147`) stop when the L1 delta
  * `Σ|r - r_prev| < tol·N`.
  *
  * Spark shape (north rule "hash-partitioned sparse gather-scatter"), in
  * **contribution form**: the only iterated state is the gather output
  * `c_k(v) = Σ_{u→v} rank_k(u)/outdeg(u)`, keyed by `id`; ranks are
  * recovered inline as `rank_k = base_k + d·c_k` with `base_k` a driver
  * scalar. The set-up packs the edge table once into CSR blocks
  * ([[CsrEdges]]) co-partitioned with the state, and each superstep is
  * one [[CsrGather]] node in a single [[Superstep]] job: each block
  * gathers from its own state partition, the partial sums per dst go
  * through one shuffle, and one aggregate over the new contributions
  * gives the next dangling mass (and, in tol mode, the L1 delta) — the
  * reference's cross-worker `Sum()` reduce (`pagerank.h:123-125`). The
  * round's scalars are fields of the node, so there is no per-edge
  * scalar join and nothing to recompile, and driver work stays O(1).
  */
object PageRank {

  /** `tolTimesN=true` is the reference's NetworkX criterion Σ|Δ| < tol·N
    * (`pagerank_networkx.h:135-147`); at web-scale N that is satisfied
    * after one round (tol·N ≫ total rank mass), so the bench also runs
    * `tolTimesN=false`: absolute Σ|Δ| < tol.
    */
  /** @param weighted nx `pagerank` semantics on a weighted graph:
    *        contributions split ∝ edge weight / Σ out-weights instead of
    *        1/outdeg (the default on unweighted projections). Same
    *        contribution-form superstep — only the baked edge fraction
    *        differs.
    */
  final case class Config(
      damping: Double = 0.85,
      maxIter: Int = 100,
      tol: Option[Double] = None,
      tolTimesN: Boolean = true,
      weighted: Boolean = false
  )

  /** Returns (id: Long, rank: Double). */
  def run(
      g: LinkGraph,
      cfg: Config = Config(),
      log: MetricsLog = new MetricsLog,
      ckpt: Option[CheckpointConfig] = None
  ): DataFrame = {
    val spark = g.vertices.sparkSession
    Superstep.run(spark, cfg.maxIter, log, ckpt) {
    val n = g.numVertices
    require(n > 0, "empty graph")
    val d = cfg.damping

    // distinct (src, dst) by construction; weight = 1 on the unweighted
    // path so the baked fraction below is 1/outdeg bit-for-bit
    val simpleEdges =
      if (cfg.weighted) g.edges.toDF.select(col("src"), col("dst"), col("weight"))
      else g.edges.toDF.select(col("src"), col("dst"), lit(1.0).as("weight"))
    val outDeg = simpleEdges.groupBy("src").agg(
      (if (cfg.weighted) sum(col("weight")) else count(lit(1)).cast("double"))
        .as("outdeg"))

    // Static per-vertex facts: dangling = no out-edges.
    val verts = Engine.checkpoint(g.vertices.toDF
      .join(outDeg.select(col("src").as("id")).withColumn("__has_out", lit(true)), Seq("id"), "left")
      .select(col("id"), col("__has_out").isNull.as("dangling"))
      .repartition(col("id")))
    val danglingCount = verts.where(col("dangling")).count()
    // Vertices with no in-edges never receive a contribution row; their
    // rank is exactly `base` every round, so the tolerance check handles
    // them as a driver-side constant instead of a |V| join.
    val noInCount = n - simpleEdges.select(col("dst")).distinct().count()

    // Edge table with 1/outdeg and the destination's dangling flag baked
    // in, packed once into CSR blocks co-partitioned with the state, so
    // fixed-round supersteps never touch the vertex table.
    val edges = CsrEdges.pack(simpleEdges
      .join(outDeg, "src")
      .join(verts.select(col("id").as("dst"), col("dangling").as("dstDangling")), "dst")
      .select(col("src"), col("dst"), (col("weight") / col("outdeg")).as("w"), col("dstDangling")),
      spark.sessionState.conf.numShufflePartitions)

    def baseNext(s: Superstep.Scalars): Double = (1.0 - d) / n + d * s("dsum") / n

    // rank_0 = 1/n  ⇔  base_0 = 1/n, c_0 ≡ 0; dsum_0 = |D|/n.
    Superstep.Loop(
      init = spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row],
        new org.apache.spark.sql.types.StructType()
          .add("id", "long").add("dstDangling", "boolean").add("c", "double")),
      scalars = Map("base" -> 1.0 / n, "dsum" -> danglingCount.toDouble / n,
        "delta" -> Double.MaxValue),
      // Tol mode: the state's id set is IDENTICAL every superstep (every
      // vertex with ≥1 in-edge gets a row), so the per-vertex L1 term
      // needs only the co-partitioned previous state; the (n - inCount)
      // zero-in-degree vertices are a driver-side constant in `fold`.
      step = (cPrev, s) => CsrGather.frame(cPrev, CsrGather.Params(edges, s("base"), d,
        cfg.tol.map(_ => baseNext(s) - s("base")))),
      // dsum = |D|·base + d·Σ_{dangling} c rides the same aggregate
      stats = c => c.agg(
        sum(when(col("dstDangling"), col("c"))),
        if (cfg.tol.isEmpty) lit(-1.0) else sum(col("ad"))),
      fold = (r, s) => {
        val b = baseNext(s)
        Map("base" -> b,
          "dsum" -> (danglingCount * b + d * Superstep.orZero(r, 0)),
          "delta" ->
            (if (cfg.tol.isEmpty) -1.0
            else Superstep.orZero(r, 1) + noInCount * math.abs(b - s("base"))))
      },
      halt = s => cfg.tol.exists(t => s("delta") < (if (cfg.tolTimesN) t * n else t)),
      edges = edges.edgeCount,
      result = (c, s) => verts
        .join(c.select(col("id"), col("c")), Seq("id"), "left")
        .crossJoin(Engine.scalar(spark, "__base", s("base")))
        .select(col("id"), (col("__base") + lit(d) * coalesce(col("c"), lit(0.0))).as("rank")))
    }
  }

  /** Personalized PageRank — the `personalization=` mode of the
    * reference's NetworkX-compatible pagerank (`pagerank_networkx.h`;
    * `networkx.pagerank(G, personalization={seed: 1})`): the teleport
    * vector AND the dangling redistribution concentrate on a single seed
    * vertex instead of spreading uniformly, so rank mass decays outward
    * from the seed (random walk with restart).
    *
    *   r_{k+1}(v) = d·Σ_{u→v} r_k(u)/od(u) + 1[v=s]·((1−d) + d·ds_k),
    *   ds_k = Σ_{dangling u} r_k(u),   r_0 = 1[v=s].
    *
    * Fixed-round, full-rank state `(id, r)` — deliberately the same
    * shape as the unrolled SQL twin (`SynthSql5.pprSql`) so both sides
    * perform identical arithmetic per round. Per-superstep plan: one
    * message exchange (state re-hashed to `src`, partial-summed by
    * `dst`), the vertex join is co-partitioned with the gather output,
    * the seed indicator is a round-invariant lit, and the per-round
    * dangling scalar rides a 1-row frame (never a lit).
    * Returns (id, rank).
    */
  def personalized(
      g: LinkGraph, seedId: Long, rounds: Int, damping: Double = 0.85): DataFrame = {
    val spark = g.vertices.sparkSession
    Superstep.run(spark, rounds) {
      val d = damping
      val simpleEdges = g.edges.toDF.select(col("src"), col("dst"))
      val outDeg = simpleEdges.groupBy("src").agg(count(lit(1)).as("od"))
      // checkpointed, not persisted: tg_ppr and tg_ppr_sparse derive
      // canonically-equal `e` frames (see Engine.checkpoint)
      val e = Engine.checkpoint(simpleEdges.join(outDeg, "src")
        .select(col("src"), col("dst"), (lit(1.0) / col("od")).as("w"))
        .repartition(col("src")))
      e.count()
      val verts = Engine.checkpoint(g.vertices.toDF
        .join(outDeg.select(col("src").as("id")).withColumn("__h", lit(true)), Seq("id"), "left")
        .select(col("id"), (col("id") === seedId).as("p"), col("__h").isNull.as("dangling"))
        .repartition(col("id")))
      // dangling mass of r_0 = 1[v=s]: exactly 1.0 iff the seed dangles
      val ds0 = if (verts.where(col("p") && col("dangling")).count() > 0) 1.0 else 0.0
      Superstep.Loop(
        init = verts.select(col("id"), when(col("p"), lit(1.0)).otherwise(lit(0.0)).as("r"),
          col("dangling")),
        scalars = Map("b" -> ((1.0 - d) + d * ds0)),
        step = (r, s) => {
          val contrib = e
            .join(r.select(col("id").as("src"), col("r").as("rs")).hint("shuffle_hash"), Seq("src"))
            .select(col("dst"), (col("w") * col("rs")).as("m"))
            .groupBy(col("dst").as("id")).agg(sum(col("m")).as("c"))
          verts
            .join(contrib.hint("shuffle_hash"), Seq("id"), "left")
            .crossJoin(Engine.scalar(spark, "__b", s("b")))
            .select(col("id"),
              (lit(d) * coalesce(col("c"), lit(0.0)) +
                when(col("p"), col("__b")).otherwise(lit(0.0))).as("r"),
              col("dangling"))
        },
        // dangling mass of the new state (flag baked into the frame — a
        // straight aggregate, no join) sets the next round's teleport
        stats = _.agg(sum(when(col("dangling"), col("r")))),
        fold = (row, _) => Map("b" -> ((1.0 - d) + d * Superstep.orZero(row, 0))),
        result = (r, _) => r.select(col("id"), col("r").as("rank")))
    }
  }

  /** Frontier-sparse personalized PageRank — identical recurrence to
    * [[personalized]] but the state holds only the TOUCHED vertices
    * (those within k hops of the seed after k rounds); everything else
    * is exactly 0 by construction (single-seed teleport: untouched rank
    * = d·0 + 0). Per-round message volume tracks the frontier's
    * out-adjacency, not |V| — the scale-correct shape for seed-pinned
    * PPR on a 100 TB graph where a query's mass is localized (same
    * sparse-state pattern as the weighted ShortestPathExpand). The
    * output is re-densified ONCE at exit (left join against the vertex
    * table, coalesce 0.0) so the contract matches [[personalized]].
    *
    * Arithmetic matches the dense form bit-for-bit modulo aggregation
    * order: dropped terms are exact zeros (x + 0.0 = x for finite x),
    * the seed's `d·c + b` is the same two-operand IEEE add, and both
    * sides round to 6 dp at the driver query. Per-superstep plan: one
    * message exchange (state re-hashed to src, partial-summed by dst);
    * the dangling flag is carried ON the state rows (outDeg left join
    * only for NEWLY touched ids), so the dangling-mass scalar is a
    * straight aggregate over the (small) state.
    */
  def personalizedSparse(
      g: LinkGraph, seedId: Long, rounds: Int, damping: Double = 0.85,
      stateProbe: Option[(Int, Long) => Unit] = None): DataFrame = {
    val spark = g.vertices.sparkSession
    Superstep.run(spark, rounds) {
      val d = damping
      val simpleEdges = g.edges.toDF.select(col("src"), col("dst"))
      val outDeg = Engine.checkpoint(
        simpleEdges.groupBy("src").agg(count(lit(1)).as("od")))
      outDeg.count()
      val e = Engine.checkpoint(simpleEdges.join(outDeg, "src")
        .select(col("src"), col("dst"), (lit(1.0) / col("od")).as("w"))
        .repartition(col("src")))
      e.count()
      // dangling(id) from the out-degree table: touched ids join it once
      // when they ENTER the state, then carry the flag
      def withDangling(ids: DataFrame): DataFrame = ids
        .join(outDeg.select(col("src").as("id"), lit(true).as("__h")), Seq("id"), "left")
        .select(ids.columns.map(col) :+ col("__h").isNull.as("dangling"): _*)
      // r_0 = 1[v=s]: its dangling mass is exactly 1.0 iff the seed dangles
      val ds0 = if (outDeg.where(col("src") === seedId).count() == 0) 1.0 else 0.0
      var k = 0
      Superstep.Loop(
        init = withDangling(spark.range(1).select(lit(seedId).as("id"), lit(1.0).as("r"))),
        scalars = Map("b" -> ((1.0 - d) + d * ds0)),
        step = (r, s) => {
          k += 1
          // opt-in state-size probe (PlanAudit's frontier-vs-|V| evidence);
          // the count is an EXTRA action, so production paths leave it off
          stateProbe.foreach(f => f(k, r.count()))
          // scatter along the frontier's out-edges only — |messages| =
          // Σ_{u∈state} od(u), never |E|
          val contrib = e
            .join(r.select(col("id").as("src"), col("r").as("rs")).hint("shuffle_hash"), Seq("src"))
            .select(col("dst"), (col("w") * col("rs")).as("m"))
            .groupBy(col("dst").as("id")).agg(sum(col("m")).as("c"))
          // full-outer keeps contrib-only ids AND inserts the seed when
          // its in-mass is zero (no broadcast hint: BHJ can't full-outer;
          // the 1-row side is trivial either way)
          val seedRow = Engine.scalar(spark, "__b", s("b"))
            .select(lit(seedId).as("id"), col("__b"))
          withDangling(contrib
            .join(seedRow, Seq("id"), "full_outer")
            .select(col("id"),
              (lit(d) * coalesce(col("c"), lit(0.0)) +
                coalesce(col("__b"), lit(0.0))).as("r")))
        },
        stats = _.agg(sum(when(col("dangling"), col("r")))),
        fold = (row, _) => Map("b" -> ((1.0 - d) + d * Superstep.orZero(row, 0))),
        // re-densify once at exit: the contract (and the full-rank twin)
        // is a rank for every vertex; untouched vertices are exact 0
        result = (r, _) => Engine.checkpoint(
          g.vertices.toDF.select(col("id"))
            .join(r.select(col("id"), col("r")), Seq("id"), "left")
            .select(col("id"), coalesce(col("r"), lit(0.0)).as("rank"))))
    }
  }
}
