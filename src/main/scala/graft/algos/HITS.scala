package graft.algos

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.engine.Engine
import graft.graph.LinkGraph

/** HITS hubs & authorities, semantics of the reference's `gs::HITS`
  * (`apps/hits/hits.h:30-205`, NetworkX-equivalent): power iteration
  *   auth'(v) = Σ_{u→v} hub(u);  hub'(v) = Σ_{v→w} auth'(w)
  * each vector L1-normalized per iteration (max-scaling folded into the
  * normalize); stop when Σ|auth' − auth| < tol or maxIter; final vectors
  * L1-normalized.
  *
  * Keeps its own loop: the hub half-step needs the auth half-step's L1
  * sum first, so a round is two aggregates in sequence and cannot be one
  * [[graft.engine.Superstep]] round.
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
    // Two checkpointed copies: the auth step joins hubs on src, the hub
    // step joins auths on dst — each stays exchange-free against its copy.
    val e = Engine.checkpoint(g.edges.toDF.select(col("src"), col("dst"))
      .repartition(col("src")))
    val eByDst = Engine.checkpoint(g.edges.toDF.select(col("src"), col("dst"))
      .repartition(col("dst")))
    e.count(); eByDst.count()
    val n = g.numVertices

    var state = Engine.checkpoint(
      g.vertices.toDF.select(col("id"), lit(1.0 / n).as("auth"), lit(1.0 / n).as("hub"))
        .repartition(col("id")))
    var iter = 0
    var delta = Double.MaxValue
    while (iter < maxIter && delta >= tol) {
      // auth' from hubs along in-edges
      val authRaw = e
        .join(state.select(col("id").as("src"), col("hub")).hint("shuffle_hash"), "src")
        .groupBy(col("dst").as("id")).agg(sum(col("hub")).as("a"))
      val withAuth = state
        .join(authRaw.hint("shuffle_hash"), Seq("id"), "left")
        .select(col("id"), coalesce(col("a"), lit(0.0)).as("araw"), col("hub"), col("auth").as("prevAuth"))
      val withAuthM = Engine.checkpoint(withAuth)
      val asum = {
        val r = withAuthM.agg(sum(col("araw"))).head()
        if (r.isNullAt(0) || r.getDouble(0) == 0.0) 1.0 else r.getDouble(0)
      }
      // per-iteration scalar via a 1-row frame — lit(asum) would
      // recompile the superstep codegen every iteration (Engine.scalar)
      val authed = withAuthM
        .crossJoin(Engine.scalar(g.vertices.sparkSession, "__asum", asum))
        .select(
          col("id"), (col("araw") / col("__asum")).as("auth"), col("hub"), col("prevAuth"))
      // hub' from new auths along out-edges
      val hubRaw = eByDst
        .join(authed.select(col("id").as("dst"), col("auth")).hint("shuffle_hash"), "dst")
        .groupBy(col("src").as("id")).agg(sum(col("auth")).as("h"))
      val withHub = authed
        .join(hubRaw.hint("shuffle_hash"), Seq("id"), "left")
        .select(col("id"), col("auth"), coalesce(col("h"), lit(0.0)).as("hraw"), col("prevAuth"))
      val withHubM = Engine.checkpoint(withHub)
      val Row(hsumRaw, dRaw) = withHubM
        .agg(sum(col("hraw")), sum(abs(col("auth") - col("prevAuth")))).head()
      val hsum = Option(hsumRaw).map(_.asInstanceOf[Double]).filter(_ != 0.0).getOrElse(1.0)
      delta = Option(dRaw).map(_.asInstanceOf[Double]).getOrElse(0.0)
      state = withHubM
        .crossJoin(Engine.scalar(g.vertices.sparkSession, "__hsum", hsum))
        .select(col("id"), col("auth"), (col("hraw") / col("__hsum")).as("hub"))
      iter += 1
    }
    state
  }
}
