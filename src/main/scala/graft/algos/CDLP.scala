package graft.algos

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.engine.{Engine, Superstep}
import graft.engine.Engine.MetricsLog
import graft.graph.LinkGraph

/** Community detection by synchronous label propagation, semantics of the
  * reference's `lpa`/`cdlp` (`grape::CDLP`, registered at
  * `coordinator/gscoordinator/builtin/app/.gs_conf.yaml:41-48`; LDBC
  * Graphalytics CDLP): `label(v)` initialized to the vertex id; each round
  * every vertex adopts the **smallest among the most frequent** labels of
  * its neighbor multiset (each directed edge contributes its endpoint once,
  * in both directions for directed graphs); vertices with no neighbors
  * keep their label; fixed number of rounds.
  *
  * Spark shape: two chained partial+final aggregations per round —
  * `count per (vertex, label)` then a deterministic argmax via
  * `max(struct(cnt, -label))` (lexicographic struct max ⇒ most frequent,
  * ties to the smallest label; the `TypedImperativeAggregate` alternative
  * from SURVEY.md §4.2 is unnecessary). Both aggregations are map-side
  * combined, which is what keeps the mega-hub vertices (assistant, hot
  * tools) from skewing the shuffle.
  */
object CDLP {

  /** Returns (id: Long, label: Long) after `rounds` synchronous rounds. */
  def run(
      g: LinkGraph,
      rounds: Int = 10,
      log: MetricsLog = new MetricsLog
  ): DataFrame = Superstep.run(g.vertices.sparkSession, rounds, log) {
    val dirEdges = g.edges.toDF.where(col("src") =!= col("dst"))
    // Neighbor multiset: u→v gives v the label of u AND u the label of v.
    val nbrs = Engine.checkpoint(
      dirEdges.select(col("src").as("v"), col("dst").as("nbr"))
        .unionAll(dirEdges.select(col("dst").as("v"), col("src").as("nbr")))
        .repartition(col("nbr")))
    val nbrCount = nbrs.count()
    Superstep.Loop(
      init = g.vertices.toDF.select(col("id"), col("id").as("label")).repartition(col("id")),
      scalars = Map.empty,
      step = (labels, _) => {
        val newLabels = nbrs
          .join(labels.select(col("id").as("nbr"), col("label").as("nl")).hint("shuffle_hash"), "nbr")
          .groupBy(col("v"), col("nl"))
          .agg(count(lit(1)).as("cnt"))
          .groupBy(col("v").as("id"))
          .agg(max(struct(col("cnt"), (-col("nl")).as("neg"), col("nl").as("lab"))).as("m"))
          .select(col("id"), col("m.lab").as("new_label"))
        labels
          .join(newLabels.hint("shuffle_hash"), Seq("id"), "left")
          .select(col("id"), coalesce(col("new_label"), col("label")).as("label"))
      },
      // CDLP has no convergence aggregate; the count is the round's job
      stats = _.agg(count(lit(1))),
      edges = nbrCount)
  }
}
