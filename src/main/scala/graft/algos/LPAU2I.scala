package graft.algos

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.engine.{Engine, Superstep}
import graft.graph.LinkGraph

/** Bipartite user↔item weighted label-vector diffusion, semantics of the
  * reference's `gs::LPAU2I` (`apps/lpa/lpa_u2i.h:29-246`): u-side
  * vertices carry a vector of `propNum` label weights (`:51-61`);
  * alternating rounds push u-labels to items along weighted edges
  * (u2i pull `Σ label(u)·w(e)` over in-edges, `:167-183`) and back
  * (i2u, `:185-239`), for `maxRound` steps.
  *
  * Spark shape: label vector = `array<double>` column; the diffusion step
  * is a weighted join-aggregate with `zip_with`-summed vectors (codegen'd
  * higher-order functions, no UDFs). The degree-normalized i2u correction
  * of the reference (`:222-231`) is applied as `(Σ_u w·label(u)) / Σ_u w`
  * — weight-normalized mixing, the same fixpoint family.
  */
object LPAU2I {

  /** @param uLabels (id, labels: array<double>) initial labels for u-side
    *                vertices; items start at zero vectors.
    * @return (id, labels) for every vertex after `rounds` u2i+i2u rounds.
    */
  def run(g: LinkGraph, uLabels: DataFrame, propNum: Int, rounds: Int): DataFrame = {
    Superstep.run(g.vertices.sparkSession, rounds) {
      val e = Engine.checkpoint(g.edges.toDF.repartition(col("src")))
      e.count()
      val zero = array((0 until propNum).map(_ => lit(0.0)): _*)
      val uSide = uLabels.select(col("id"), col("labels"))

      // Hub-safe vector aggregation: explode by label position so the
      // shuffle carries (dst, pos) partial sums — map-side combine bounds
      // hub rows, and the final per-vertex collect_list is bounded by
      // propNum, never by degree.
      def diffuse(st: DataFrame, fromU: Boolean): DataFrame = {
        val msgs = e
          .join(st.select(col("id").as("src"), col("labels").as("sl"), col("isU")).hint("shuffle_hash"), "src")
          .where(col("isU") === fromU)
          .select(col("dst"), col("weight"), posexplode(col("sl")))
          .select(col("dst"), col("pos"), (col("col") * col("weight")).as("wv"), col("weight"))
          .groupBy(col("dst"), col("pos"))
          .agg(sum(col("wv")).as("s"), sum(col("weight")).as("w"))
          .groupBy(col("dst").as("id"))
          .agg(transform(
            array_sort(collect_list(struct(col("pos"), (col("s") / col("w")).as("v")))),
            x => x.getField("v")).as("new_labels"))
        st.join(msgs.hint("shuffle_hash"), Seq("id"), "left")
          .select(col("id"),
            when(col("isU") === fromU || col("new_labels").isNull, col("labels"))
              .otherwise(col("new_labels")).as("labels"),
            col("isU"))
      }

      // a round is u2i then i2u; the u2i half is checkpointed because
      // the i2u half reads it twice
      Superstep.Loop(
        init = g.vertices.toDF
          .join(uSide, Seq("id"), "left")
          .select(col("id"), coalesce(col("labels"), zero).as("labels"),
            col("labels").isNotNull.as("isU"))
          .repartition(col("id")),
        scalars = Map.empty,
        step = (st, _) => diffuse(Engine.checkpoint(diffuse(st, fromU = true)), fromU = false),
        stats = _.agg(count(lit(1))),
        result = (st, _) => st.select(col("id"), col("labels")))
    }
  }
}
