package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.engine.Engine

/** Lloyd k-means over an embedding column (cosine metric) — the corpus
  * clustering step a training-data build uses for domain balancing /
  * cluster-based sampling. Fully deterministic so a DuckDB twin can
  * reproduce it: centroids initialize from a strided sample of the
  * corpus (same policy as [[Similarity.ivfTopK]]), assignment argmax
  * runs on 5-dp-rounded cosine with ties to the smaller centroid id,
  * and each Lloyd update rounds the per-dimension means to 6 dp (the
  * cross-engine float discipline the cosine query family uses).
  *
  * Scale shape: centroids broadcast (k rows); assignment is ONE
  * map-side-combined `max_by` pass over the corpus per round; the
  * update is a partial+final per-(cid, dim) average — no driver loop
  * over vectors, no all-pairs anything. Empty clusters keep their
  * previous centroid.
  */
object KMeans {

  /** Final assignment (idCol, cid) after `rounds` Lloyd iterations. */
  def assignments(
      corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, rounds: Int
  ): DataFrame = {
    require(k > 0 && rounds >= 0, "need positive k and non-negative rounds")
    val vecs = corpus
      .select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val n = vecs.count()
    val step = math.max(1L, n / k)
    def assign(cents: DataFrame): DataFrame = vecs
      .crossJoin(broadcast(cents))
      .select(col("id"), col("cid"),
        round(Similarity.cosine(col("v"), col("cv")), 5).as("sim"))
      .groupBy(col("id"))
      .agg(max_by(col("cid"), struct(col("sim"), (-col("cid")).as("nc"))).as("cid"))
    var cents = Engine.checkpoint(
      vecs.where(pmod(col("id"), lit(step)) === 0)
        .orderBy(col("id")).limit(k)
        .select(col("id").as("cid"), col("v").as("cv")))
    (1 to rounds).foreach { _ =>
      val means = assign(cents).join(vecs, "id")
        .select(col("cid"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy(col("cid"), col("pos"))
        .agg(round(avg(col("x")), 6).as("m"))
        .groupBy(col("cid"))
        .agg(expr("transform(array_sort(collect_list(struct(pos, m))), s -> s.m)").as("cv"))
      cents = Engine.checkpoint(
        cents.select(col("cid"), col("cv").as("prev"))
          .join(means, Seq("cid"), "left")
          .select(col("cid"), coalesce(col("cv"), col("prev")).as("cv")))
    }
    assign(cents).select(col("id").as(idCol), col("cid"))
  }

  /** Per-cluster sizes over the final assignment. */
  def clusterSizes(assigned: DataFrame): DataFrame =
    assigned.groupBy(col("cid")).agg(count(lit(1)).as("n"))
}
