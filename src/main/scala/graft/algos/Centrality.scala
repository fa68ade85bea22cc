package graft.algos

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.engine.{Engine, Superstep}
import graft.graph.LinkGraph

/** Centrality family (SURVEY.md §2.B table):
  *  - degree centrality (`gs::DegreeCentrality`,
  *    `apps/centrality/degree/degree_centrality.h`): deg/(N−1), with
  *    in/out/both variants;
  *  - eigenvector centrality (`apps/centrality/eigenvector/…`): power
  *    iteration x' = Aᵀx + x (self-retaining like the reference's pull
  *    over in-edges), L2-normalized each round, L1-delta stop;
  *  - Katz centrality (`apps/centrality/katz/…`): x' = α·Aᵀx + β, tol
  *    stop, final L2 normalize.
  */
object Centrality {

  /** mode ∈ {"in", "out", "both"}; returns (id, centrality). */
  def degree(g: LinkGraph, mode: String = "both"): DataFrame = {
    val n = g.numVertices
    val d = g.degrees
    val expr = mode match {
      case "in"  => col("in_deg")
      case "out" => col("out_deg")
      case _     => col("in_deg") + col("out_deg")
    }
    d.select(col("id"), (expr.cast("double") / (n - 1).toDouble).as("centrality"))
  }

  /** Keeps its own loop: a round takes two aggregates in sequence (the L2
    * norm of the raw vector, then the L1 delta of the normalized one), so
    * it cannot be one [[Superstep]] round without changing when it halts.
    */
  def eigenvector(g: LinkGraph, maxIter: Int = 100, tol: Double = 1e-6): DataFrame = {
    val e = Engine.checkpoint(g.edges.toDF.select(col("src"), col("dst"))
      .repartition(col("src")))
    e.count()
    val n = g.numVertices
    var x = Engine.checkpoint(
      g.vertices.toDF.select(col("id"), lit(1.0 / n).as("x")).repartition(col("id")))
    var iter = 0
    var delta = Double.MaxValue
    while (iter < maxIter && delta >= n * tol) {
      val msg = e
        .join(x.select(col("id").as("src"), col("x").as("sx")).hint("shuffle_hash"), "src")
        .groupBy(col("dst").as("id")).agg(sum(col("sx")).as("m"))
      val raw = x.join(msg.hint("shuffle_hash"), Seq("id"), "left")
        .select(col("id"), (col("x") + coalesce(col("m"), lit(0.0))).as("raw"), col("x").as("prev"))
      val rawM = Engine.checkpoint(raw)
      val norm = {
        val r = rawM.agg(sum(col("raw") * col("raw"))).head()
        val v = if (r.isNullAt(0)) 0.0 else math.sqrt(r.getDouble(0))
        if (v == 0.0) 1.0 else v
      }
      val nextM = Engine.checkpoint(
        rawM.select(col("id"), (col("raw") / norm).as("x"), col("prev")))
      delta = {
        val r = nextM.agg(sum(abs(col("x") - col("prev")))).head()
        if (r.isNullAt(0)) 0.0 else r.getDouble(0)
      }
      x = nextM.select(col("id"), col("x"))
      iter += 1
    }
    x.withColumnRenamed("x", "centrality")
  }

  def katz(
      g: LinkGraph,
      alpha: Double = 0.1,
      beta: Double = 1.0,
      maxIter: Int = 100,
      tol: Double = 1e-6
  ): DataFrame = Superstep.run(g.vertices.sparkSession, maxIter) {
    val e = Engine.checkpoint(g.edges.toDF.select(col("src"), col("dst"))
      .repartition(col("src")))
    e.count()
    val n = g.numVertices
    Superstep.Loop(
      init = g.vertices.toDF.select(col("id"), lit(0.0).as("x"), lit(0.0).as("prev"))
        .repartition(col("id")),
      scalars = Map("delta" -> Double.MaxValue),
      step = (x, _) => {
        val msg = e
          .join(x.select(col("id").as("src"), col("x").as("sx")).hint("shuffle_hash"), "src")
          .groupBy(col("dst").as("id")).agg(sum(col("sx")).as("m"))
        x.join(msg.hint("shuffle_hash"), Seq("id"), "left")
          .select(col("id"),
            (lit(alpha) * coalesce(col("m"), lit(0.0)) + lit(beta)).as("x"),
            col("x").as("prev"))
      },
      stats = _.agg(sum(abs(col("x") - col("prev")))),
      fold = (r, _) => Map("delta" -> Superstep.orZero(r, 0)),
      halt = _("delta") < n * tol,
      result = (x, _) => {
        val norm = {
          val r = x.agg(sum(col("x") * col("x"))).head()
          val v = if (r.isNullAt(0)) 0.0 else math.sqrt(r.getDouble(0))
          if (v == 0.0) 1.0 else v
        }
        x.select(col("id"), (col("x") / norm).as("centrality"))
      })
  }
}
