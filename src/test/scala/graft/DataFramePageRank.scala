package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.algos.PageRank
import graft.engine.{CheckpointConfig, Engine, Superstep}
import graft.engine.Engine.MetricsLog
import graft.graph.LinkGraph

/** The DataFrame form of [[PageRank.run]]'s superstep, kept as the
  * reference the CSR gather operator is compared against: the state is
  * the same `(id, dstDangling, c[, ad])` frame, computed by a left join
  * of the src-partitioned edge table with the previous state, a
  * per-edge cross join with the round's `base`, and a partial+final
  * `sum` per `(dst, dstDangling)`.
  */
object DataFramePageRank {

  def run(
      g: LinkGraph,
      cfg: PageRank.Config,
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
    // in; the flag rides the gather groupBy (same cardinality: dst →
    // (dst, dstDangling)) so fixed-round supersteps never touch the
    // vertex table.
    val e = Engine.checkpoint(simpleEdges
      .join(outDeg, "src")
      .join(verts.select(col("id").as("dst"), col("dangling").as("dstDangling")), "dst")
      .select(col("src"), col("dst"), (col("weight") / col("outdeg")).as("w"), col("dstDangling"))
      .repartition(col("src")))
    val edgeCount = e.count()

    def baseNext(s: Superstep.Scalars): Double = (1.0 - d) / n + d * s("dsum") / n

    // rank_0 = 1/n  ⇔  base_0 = 1/n, c_0 ≡ 0; dsum_0 = |D|/n.
    Superstep.Loop(
      init = spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row],
        new org.apache.spark.sql.types.StructType()
          .add("id", "long").add("dstDangling", "boolean").add("c", "double")),
      scalars = Map("base" -> 1.0 / n, "dsum" -> danglingCount.toDouble / n,
        "delta" -> Double.MaxValue),
      step = (cPrev, s) => {
        // gather: rank_{k}(u) = baseO + d·c_prev(u), inline on the edge join
        val cNext = e
          .join(cPrev.select(col("id").as("src"), col("c")).hint("shuffle_hash"), Seq("src"), "left")
          .crossJoin(Engine.scalar(spark, "__baseO", s("base")))
          .select(col("dst"), col("dstDangling"),
            (col("w") * (col("__baseO") + lit(d) * coalesce(col("c"), lit(0.0)))).as("m"))
          .groupBy(col("dst").as("id"), col("dstDangling"))
          .agg(sum(col("m")).as("c"))
        // Tol mode: the contribution frame's dst set is IDENTICAL every
        // superstep (every vertex with ≥1 in-edge gets a row — the gather
        // left-join emits a message for every edge), so the per-vertex L1
        // term needs only a co-partitioned left join of consecutive
        // contribution frames; the (n - inCount) zero-in-degree vertices
        // are a driver-side constant in `fold`.
        if (cfg.tol.isEmpty) cNext
        else cNext
          .join(cPrev.select(col("id"), col("c").as("cO")).hint("shuffle_hash"), Seq("id"), "left")
          .crossJoin(Engine.scalar(spark, "__dBase", baseNext(s) - s("base")))
          .select(col("id"), col("dstDangling"), col("c"),
            abs(col("__dBase") + lit(d) * (col("c") - coalesce(col("cO"), lit(0.0)))).as("ad"))
      },
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
      edges = edgeCount,
      result = (c, s) => verts
        .join(c.select(col("id"), col("c")), Seq("id"), "left")
        .crossJoin(Engine.scalar(spark, "__base", s("base")))
        .select(col("id"), (col("__base") + lit(d) * coalesce(col("c"), lit(0.0))).as("rank")))
    }
  }
}
