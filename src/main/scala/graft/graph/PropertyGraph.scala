package graft.graph

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.schema.{Edge, Vertex}

/** Multi-label property graph — the Spark analog of the reference's base
  * abstraction `vineyard::ArrowFragment` (multiple vertex labels and
  * edge labels, each with its own typed property table;
  * `arrow_projected_fragment.h:339-444`,
  * `core/context/labeled_vertex_property_context.h`):
  *
  *  - `vertices(id, oid, label)` — label-tagged vertex table; one label
  *    column instead of per-label physical tables (at scale this is a
  *    label-partitioned table, so per-label reads prune partitions —
  *    the columnar per-label-table layout of the reference, Spark-style);
  *  - `edges(src, dst, label, weight)` — label-tagged weighted edges.
  *
  * [[project]] = `ArrowProjectedFragment::Project`
  * (`arrow_projected_fragment.h:402-409`): select vertex/edge labels →
  * induced simple [[LinkGraph]]. [[flatten]] = `ArrowFlattenedFragment`
  * (`core/fragment/arrow_flattened_fragment.h`): fuse all labels into
  * one vertex/edge space. [[PropertyGraph.fromTranscripts]] reads
  * [[GraphBuilder.fromTranscripts]]' one derivation, so ids and
  * projected results are comparable across views.
  */
final case class PropertyGraph(vertices: DataFrame, edges: DataFrame) {

  /** PROJECT_TO_SIMPLE: keep the given vertex/edge labels; edges are
    * induced (both endpoints must survive the vertex-label selection).
    */
  def project(vLabels: Seq[String], eLabels: Seq[String]): LinkGraph = {
    val spark = vertices.sparkSession
    import spark.implicits._
    val vs = vertices.where(col("label").isin(vLabels: _*))
      .select(col("id"), col("oid"))
    val keep = vs.select(col("id"))
    val es = edges.where(col("label").isin(eLabels: _*))
      .groupBy(col("src"), col("dst")).agg(sum(col("weight")).as("weight"))
      .join(keep.select(col("id").as("src")), Seq("src"), "left_semi")
      .join(keep.select(col("id").as("dst")), Seq("dst"), "left_semi")
      .select(col("src"), col("dst"), col("weight"))
    LinkGraph(vs.as[Vertex], es.as[Edge])
  }

  /** Flatten all labels into one simple graph (per-pair weights merged —
    * identical to the single-label derivation).
    */
  def flatten: LinkGraph = {
    val spark = vertices.sparkSession
    import spark.implicits._
    LinkGraph(
      vertices.select(col("id"), col("oid")).as[Vertex],
      edges.groupBy(col("src"), col("dst")).agg(sum(col("weight")).as("weight"))
        .as[Edge])
  }
}

object PropertyGraph {

  /** Vertex label from the oid shape (participant kinds + tools). */
  def labelOf(oid: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(oid.like("tool:%"), "tool")
      .when(oid.like("assistant%"), "assistant")
      .when(oid.like("agent:%"), "agent")
      .when(oid === "system", "system")
      .otherwise("user")

  /** Derive the labeled property graph from transcripts: the vertex
    * table and link occurrences of [[GraphBuilder.fromTranscripts]]
    * (same ids, same broadcast guard), counted per `(src, dst, label)` —
    * `reply` (consecutive-turn links) or `invoke` (assistant → tool) —
    * so [[flatten]] reproduces the single-label weights exactly.
    */
  def fromTranscripts(
      turns: DataFrame,
      broadcastMaxVertices: Long = 10000000L
  ): PropertyGraph = {
    val (vs, links) = GraphBuilder.derive(turns, broadcastMaxVertices)
    PropertyGraph(
      vs.toDF.select(col("id"), col("oid"), labelOf(col("oid")).as("label")),
      links.groupBy(col("src"), col("dst"), col("label"))
        .agg(count(lit(1)).cast("double").as("weight")))
  }
}
