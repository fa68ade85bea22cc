package graft.algos

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.engine.{Engine, Superstep}
import graft.graph.LinkGraph

/** k-core and k-shell decomposition, semantics of the reference's
  * `gs::KCore` (`apps/kcore/kcore.h`) and `gs::KShell`
  * (`apps/kshell/kshell.h`): iterative peeling on the undirected simple
  * graph — repeatedly delete vertices with degree < k; the k-core is what
  * survives; the shell index of v is the largest k such that v is in the
  * k-core.
  *
  * Both are one [[Superstep]] loop over the state `(id, deg, shell,
  * changed)`: `shell` is null while the vertex is alive and `changed`
  * means "removed this round". Each round every vertex subtracts the
  * number of its neighbours removed last round from `deg`, and an alive
  * vertex whose degree falls below k is removed with `shell = k - 1`.
  * After a round that removes nothing, every alive vertex's `deg` counts
  * exactly its alive neighbours.
  */
object Cores {

  /** Vertices of the k-core: (id, degree-in-core). k stays fixed; the
    * loop halts after a round that removes nothing.
    */
  def kcore(g: LinkGraph, k: Int): DataFrame =
    peel(g, Some(k)).where(col("shell").isNull).select(col("id"), col("deg"))

  /** Shell index per vertex: (id, shell), 0 for isolated vertices. k
    * starts at 1 and rises after a round that removes nothing, to one
    * above the least alive degree (every k up to that degree keeps all
    * alive vertices); the loop halts when no vertex is alive.
    */
  def kshell(g: LinkGraph): DataFrame = peel(g, None).select(col("id"), col("shell"))

  private def peel(g: LinkGraph, fixedK: Option[Int]): DataFrame = {
    val spark = g.vertices.sparkSession
    Superstep.run(spark) {
      val e = Engine.checkpoint(
        g.symmetricEdges.select(col("src"), col("dst")).repartition(col("src")))
      val eCount = e.count()
      val deg0 = e.groupBy(col("src").as("id")).agg(count(lit(1)).as("deg0"))
      Superstep.Loop(
        init = g.vertices.toDF.select(col("id")).join(deg0, Seq("id"), "left")
          .select(col("id"), coalesce(col("deg0"), lit(0L)).as("deg"),
            lit(null).cast("long").as("shell"), lit(false).as("changed"))
          .repartition(col("id")),
        scalars = Map("k" -> fixedK.getOrElse(1).toDouble, "changed" -> 1.0, "alive" -> 1.0),
        step = (state, s) => {
          val lost = e
            .join(state.where(col("changed")).select(col("id").as("src")).hint("shuffle_hash"), "src")
            .groupBy(col("dst").as("id"))
            .agg(count(lit(1)).as("lost"))
          val deg = col("deg") - coalesce(col("lost"), lit(0L))
          val drop = col("shell").isNull && deg < col("__k")
          state
            .join(lost.hint("shuffle_hash"), Seq("id"), "left")
            .crossJoin(Engine.scalarLong(spark, "__k", s("k").toLong))
            .select(col("id"), deg.as("deg"),
              when(drop, col("__k") - 1L).otherwise(col("shell")).as("shell"), drop.as("changed"))
            .repartition(col("id"))
        },
        stats = _.agg(
          sum(when(col("changed"), 1L)),
          sum(when(col("shell").isNull, 1L)),
          min(when(col("shell").isNull, col("deg")))),
        fold = (r: Row, s: Superstep.Scalars) => {
          val removed = Superstep.orZero(r, 0)
          val k = if (removed > 0 || fixedK.isDefined) s("k") else Superstep.orZero(r, 2) + 1
          Map("k" -> k, "changed" -> removed, "delta" -> removed, "alive" -> Superstep.orZero(r, 1))
        },
        halt = s => s("alive") == 0 || (fixedK.isDefined && s("changed") == 0),
        edges = eCount)
    }
  }
}
