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

  /** One [[Superstep]] round per iteration, normalization deferred as in
    * [[HITS]]: round k + 1 divides iteration k's raw vector by the L2 norm
    * round k's stats row folded, and carries the result `x` with its L1
    * delta `d`, so a tol stop returns the carried `x`.
    */
  def eigenvector(g: LinkGraph, maxIter: Int = 100, tol: Double = 1e-6): DataFrame = {
    val spark = g.vertices.sparkSession
    Superstep.run(spark, maxIter) {
      val e = Engine.checkpoint(g.edges.toDF.select(col("src"), col("dst"))
        .repartition(col("src")))
      val eCount = e.count()
      val n = g.numVertices
      def normalized(state: DataFrame, s: Superstep.Scalars): DataFrame = state
        .crossJoin(Engine.scalar(spark, "__norm", s("norm")))
        .select(col("id"), (col("raw") / col("__norm")).as("xN"), col("x").as("prev"))
      Superstep.Loop(
        // x starts at 1/n (not unit length); round 0's delta reads the
        // null `x` and stays unknown
        init = g.vertices.toDF.select(col("id"), lit(1.0 / n).as("raw"),
          lit(null).cast("double").as("x")).repartition(col("id")),
        scalars = Map("norm" -> 1.0, "delta" -> Double.MaxValue),
        step = (state, s) => {
          val prev = normalized(state, s)
          val msg = e
            .join(prev.select(col("id").as("src"), col("xN").as("sx")).hint("shuffle_hash"), "src")
            .groupBy(col("dst").as("id")).agg(sum(col("sx")).as("m"))
          prev.join(msg.hint("shuffle_hash"), Seq("id"), "left")
            .select(col("id"), (col("xN") + coalesce(col("m"), lit(0.0))).as("raw"),
              col("xN").as("x"), abs(col("xN") - col("prev")).as("d"))
        },
        stats = _.agg(sum(col("raw") * col("raw")), sum(col("d"))),
        fold = (r, _) => {
          val norm = math.sqrt(Superstep.orZero(r, 0))
          Map("norm" -> (if (norm == 0.0) 1.0 else norm),
            "delta" -> (if (r.isNullAt(1)) Double.MaxValue else r.getDouble(1)))
        },
        halt = _("delta") < n * tol,
        edges = eCount,
        result = (state, s) =>
          if (s("delta") < n * tol) state.select(col("id"), col("x").as("centrality"))
          else normalized(state, s).select(col("id"), col("xN").as("centrality")))
    }
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
