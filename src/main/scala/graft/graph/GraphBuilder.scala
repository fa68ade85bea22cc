package graft.graph

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.schema.{Edge, Vertex}

/** The derived link graph: dense-id vertices + weighted directed edges.
  * Spark analog of the reference's projected simple graph
  * (`arrow_projected_fragment.h:339-409`): one vertex space, one edge
  * space, one edge property (weight).
  */
final case class LinkGraph(vertices: Dataset[Vertex], edges: Dataset[Edge]) {

  def numVertices: Long = vertices.count()

  /** Out/in degree over distinct edges (the simple-graph degree the
    * reference's PageRank divides by, `benchmarks/apps/pagerank/pagerank.h:105-115`).
    */
  def degrees: DataFrame = {
    val out = edges.groupBy(col("src").as("id")).agg(count(lit(1)).as("out_deg"))
    val in = edges.groupBy(col("dst").as("id")).agg(count(lit(1)).as("in_deg"))
    vertices.toDF
      .join(out, Seq("id"), "left")
      .join(in, Seq("id"), "left")
      .select(
        col("id"), col("oid"),
        coalesce(col("out_deg"), lit(0L)).as("out_deg"),
        coalesce(col("in_deg"), lit(0L)).as("in_deg"))
  }

  /** Undirected simple edge set as canonical (a<b) pairs — input shape for
    * triangles/LCC (reference orients from the undirected graph,
    * `apps/clustering/triangles.h:78-91`).
    */
  def undirectedEdges: DataFrame =
    edges.toDF
      .where(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"), greatest(col("src"), col("dst")).as("b"))
      .distinct()

  /** The undirected closure's edge table: every non-loop edge in both
    * directions, one `(src, dst, weight)` row per pair with the two
    * directions' weights summed.
    */
  def symmetricEdges: DataFrame = {
    val e = edges.toDF.where(col("src") =!= col("dst"))
    e.select(col("src"), col("dst"), col("weight"))
      .unionAll(e.select(col("dst").as("src"), col("src").as("dst"), col("weight")))
      .groupBy(col("src"), col("dst")).agg(sum(col("weight")).as("weight"))
  }

  /** An id-space edge frame (this graph's edges by default) relabeled to
    * oids: `(src_oid, dst_oid, <its other columns>)`.
    */
  def oidEdges(e: DataFrame = edges.toDF): DataFrame = {
    val vs = vertices.toDF
    e.join(vs.select(col("id").as("src"), col("oid").as("src_oid")), "src")
      .join(vs.select(col("id").as("dst"), col("oid").as("dst_oid")), "dst")
      .select(Seq(col("src_oid"), col("dst_oid")) ++
        e.columns.filterNot(Set("src", "dst")).map(col): _*)
  }

  def persist(): LinkGraph = {
    vertices.persist(StorageLevel.MEMORY_AND_DISK)
    edges.persist(StorageLevel.MEMORY_AND_DISK)
    this
  }

  def unpersist(): Unit = { vertices.unpersist(); edges.unpersist() }
}

/** Transcript table → link graph derivation (north rule): vertices are
  * conversation participants/tools, edges are reply links between
  * consecutive turns under stable (conv_id, turn_idx) ordering plus
  * tool-invocation links, weights = occurrence counts.
  *
  * All ops are declarative DataFrame transforms — the lag window pushes a
  * single shuffle on conv_id; edge aggregation is one partial+final
  * count; Catalyst prunes the text/ts columns away from the scan when the
  * caller only derives the graph.
  */
object GraphBuilder {

  /** Vertex oid of a turn: the role, except tool-result turns which bind
    * to the tool vertex ("tool:<name>"). Tool vertices also arise as
    * invocation targets of assistant turns.
    */
  def oidOfTurn: org.apache.spark.sql.Column =
    when(col("role") === "tool" && col("tool").isNotNull,
      concat(lit("tool:"), col("tool"))).otherwise(col("role"))

  /** Full derivation, shaped for the 50M-turn bench scale:
    *
    *  1. vertex universe = distinct turn oids ∪ invoke targets (reply
    *     endpoints are a subset of turn oids, so the aggregated edge
    *     table is NOT needed to enumerate vertices — this replaces a
    *     second full generation pass);
    *  2. turns are mapped to dense ids via a broadcast join *before*
    *     the reply window, so the expensive per-conversation sort
    *     carries a narrow (conv_id, turn_idx, id) row and the lag
    *     comparison is a long, not a string (the oid→id map is
    *     bijective, so prev_oid ≠ oid ⇔ prev_id ≠ id);
    *  3. edge weights aggregate on (src, dst) LONG keys — the
    *     string-keyed 50M-row pair aggregation was the single largest
    *     derivation cost (measured ~2× the long-keyed plan).
    *
    * The oid→id map join is broadcast ONLY while the dense-id table is
    * small (`broadcastMaxVertices`); above that it degrades to a plain
    * shuffle join — an unconditional broadcast hint would be a driver
    * OOM the moment oid cardinality grows with the data (e.g. per-user
    * ids). The count is one cheap job on the already-persisted map.
    * [[LinkGraph.oidEdges]] relabels the result to oids.
    */
  def fromTranscripts(
      turns: DataFrame,
      broadcastMaxVertices: Long = 10000000L
  ): LinkGraph = {
    val spark = turns.sparkSession
    import spark.implicits._
    val (vs, links) = derive(turns, broadcastMaxVertices)
    LinkGraph(vs, links
      .groupBy(col("src"), col("dst"))
      .agg(count(lit(1)).cast("double").as("weight")).as[Edge])
  }

  /** The one transcript → link rule, shared by [[fromTranscripts]] and
    * [[PropertyGraph.fromTranscripts]]: the dense-id vertex table
    * (persisted) and one `(src, dst, label)` row per link occurrence —
    * `reply` (lag(id) → id per conversation, ordered by turn_idx,
    * self-loops dropped) or `invoke` (assistant → tool:<t>). Counting the
    * rows per pair is the weight; a caller that never reads `label` has
    * it pruned from the plan.
    */
  private[graph] def derive(
      turns: DataFrame, broadcastMaxVertices: Long): (Dataset[Vertex], DataFrame) = {
    val spark = turns.sparkSession
    import spark.implicits._
    val w = Window.partitionBy(col("conv_id")).orderBy(col("turn_idx"))
    val withOid = turns.select(
      col("conv_id"), col("turn_idx"), col("role"), col("tool"),
      oidOfTurn.as("oid"))
    val invoke = withOid
      .where(col("role").like("assistant%") && col("tool").isNotNull)
      .select(col("oid").as("src_oid"), concat(lit("tool:"), col("tool")).as("dst_oid"))
    val voids = withOid.select(col("oid"))
      .unionAll(invoke.select(col("dst_oid").as("oid")))
    val vs = Ids.denseRank(voids, "oid").select(col("id"), col("oid")).as[Vertex]
    val vsDf = vs.toDF.persist(StorageLevel.MEMORY_AND_DISK)
    val hint: DataFrame => DataFrame =
      if (vsDf.count() <= broadcastMaxVertices) broadcast(_) else identity
    val turnIds = withOid
      .join(hint(vsDf), Seq("oid"))
      .select(col("conv_id"), col("turn_idx"), col("id"))
    val replyIds = turnIds
      .withColumn("prev", lag(col("id"), 1).over(w))
      .where(col("prev").isNotNull && col("prev") =!= col("id"))
      .select(col("prev").as("src"), col("id").as("dst"), lit("reply").as("label"))
    val invokeIds = invoke
      .join(hint(vsDf.select(col("id").as("src"), col("oid").as("src_oid"))), "src_oid")
      .join(hint(vsDf.select(col("id").as("dst"), col("oid").as("dst_oid"))), "dst_oid")
      .select(col("src"), col("dst"), lit("invoke").as("label"))
    (vs, replyIds.unionAll(invokeIds))
  }

  /** Orientation change (reference TO_UNDIRECTED, `dag_utils.py:600`,
    * `grape_instance.cc:1190`): symmetrize and re-aggregate weights.
    */
  def toUndirected(edges: Dataset[Edge]): Dataset[Edge] = {
    val spark = edges.sparkSession
    import spark.implicits._
    edges.toDF
      .select(col("src"), col("dst"), col("weight"))
      .unionAll(edges.toDF.select(col("dst").as("src"), col("src").as("dst"), col("weight")))
      .groupBy(col("src"), col("dst")).agg(sum(col("weight")).as("weight"))
      .as[Edge]
  }

  /** Induced subgraph on a vertex set (reference INDUCE_SUBGRAPH,
    * `dag_utils.py:698`): keep edges with both endpoints in the set.
    */
  def induceSubgraph(g: LinkGraph, keep: DataFrame): LinkGraph = {
    val spark = g.vertices.sparkSession
    import spark.implicits._
    val keepIds = keep.select(col("id")).distinct()
    val vs = g.vertices.toDF.join(keepIds, Seq("id"), "left_semi").as[Vertex]
    val es = g.edges.toDF
      .join(keepIds.select(col("id").as("src")), Seq("src"), "left_semi")
      .join(keepIds.select(col("id").as("dst")), Seq("dst"), "left_semi")
      .select(col("src"), col("dst"), col("weight")).as[Edge]
    LinkGraph(vs, es)
  }
}
