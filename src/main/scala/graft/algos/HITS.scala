package graft.algos

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.engine.{Engine, Superstep}
import graft.graph.LinkGraph

/** HITS hubs & authorities, semantics of the reference's `gs::HITS`
  * (`apps/hits/hits.h:30-205`, NetworkX-equivalent): power iteration
  *   auth'(v) = Σ_{u→v} hub(u);  hub'(v) = Σ_{v→w} auth'(w)
  * each vector L1-normalized per iteration (max-scaling folded into the
  * normalize); stop when Σ|auth' − auth| < tol or maxIter; final vectors
  * L1-normalized.
  *
  * One [[Superstep]] round per iteration, with the normalization
  * deferred: round k gathers the raw vectors `a`, `h` of iteration k
  * (the scale of `a` cancels out of the normalized hub'), and the stats
  * row's sums of `a` and `h` normalize them in round k + 1, which also
  * carries iteration k's normalized `auth`, `hub` and its L1 delta `d`.
  * So iteration k's delta is read after round k + 1, and a tol stop
  * returns the carried `auth`, `hub` columns: the same iteration the
  * undeferred recurrence stops on.
  */
object HITS {

  /** Returns (id, auth, hub), both columns rounded by the caller if
    * needed.
    */
  def run(
      g: LinkGraph,
      maxIter: Int = 100,
      tol: Double = 1e-8
  ): DataFrame = {
    val spark = g.vertices.sparkSession
    Superstep.run(spark, maxIter) {
      // Two checkpointed copies: the auth gather joins hubs on src, the
      // hub gather joins auths on dst — each stays exchange-free against
      // its copy.
      val e = Engine.checkpoint(g.edges.toDF.select(col("src"), col("dst"))
        .repartition(col("src")))
      val eByDst = Engine.checkpoint(g.edges.toDF.select(col("src"), col("dst"))
        .repartition(col("dst")))
      val eCount = e.count()
      eByDst.count()
      val n = g.numVertices
      // raw a, h over the previous round's sums, as one row to cross join
      // (a lit() would recompile the round's codegen every iteration)
      def normalized(state: DataFrame, s: Superstep.Scalars): DataFrame = state
        .crossJoin(Engine.scalar(spark, "__asum", s("asum")))
        .crossJoin(Engine.scalar(spark, "__hsum", s("hsum")))
        .select(col("id"), (col("a") / col("__asum")).as("authN"),
          (col("h") / col("__hsum")).as("hubN"), col("auth").as("prevAuth"))
      def nonZero(v: Double): Double = if (v == 0.0) 1.0 else v
      Superstep.Loop(
        // the initial vectors are 1/n with unit sums; round 0's delta
        // reads the null `auth` and stays unknown
        init = g.vertices.toDF.select(col("id"), lit(1.0 / n).as("a"), lit(1.0 / n).as("h"),
          lit(null).cast("double").as("auth")).repartition(col("id")),
        scalars = Map("asum" -> 1.0, "hsum" -> 1.0, "delta" -> Double.MaxValue),
        step = (state, s) => {
          val prev = normalized(state, s)
          // a' from hubs along in-edges, h' from a' along out-edges
          val aRaw = e
            .join(prev.select(col("id").as("src"), col("hubN")).hint("shuffle_hash"), "src")
            .groupBy(col("dst").as("id")).agg(sum(col("hubN")).as("a"))
          val hRaw = eByDst
            .join(aRaw.select(col("id").as("dst"), col("a")).hint("shuffle_hash"), "dst")
            .groupBy(col("src").as("id")).agg(sum(col("a")).as("h"))
          prev
            .join(aRaw.hint("shuffle_hash"), Seq("id"), "left")
            .join(hRaw.hint("shuffle_hash"), Seq("id"), "left")
            .select(col("id"), coalesce(col("a"), lit(0.0)).as("a"),
              coalesce(col("h"), lit(0.0)).as("h"), col("authN").as("auth"),
              col("hubN").as("hub"), abs(col("authN") - col("prevAuth")).as("d"))
        },
        stats = _.agg(sum(col("a")), sum(col("h")), sum(col("d"))),
        fold = (r, _) => Map(
          "asum" -> nonZero(Superstep.orZero(r, 0)),
          "hsum" -> nonZero(Superstep.orZero(r, 1)),
          "delta" -> (if (r.isNullAt(2)) Double.MaxValue else r.getDouble(2))),
        halt = _("delta") < tol,
        edges = eCount,
        result = (state, s) =>
          if (s("delta") < tol) state.select(col("id"), col("auth"), col("hub"))
          else normalized(state, s).select(col("id"), col("authN").as("auth"), col("hubN").as("hub")))
    }
  }
}
