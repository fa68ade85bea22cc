package graft.algos

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.engine.Engine
import graft.graph.LinkGraph

/** Per-vertex triangle counting, semantics of the reference's
  * `gs::Triangles` (`apps/clustering/triangles.h:30-159`): the undirected
  * simple graph is canonically **degree-ordered oriented** — keep edge
  * u→v iff (deg(u), id(u)) < (deg(v), id(v)) (the reference keeps the
  * mirror-image orientation `deg(v) < deg(u)` at `:78-91`; either total
  * order yields identical counts) — then every wedge out of a vertex is
  * closed against the oriented edge set and each triangle is credited to
  * all three corners (`:113-139`).
  *
  * The orientation is the scale-critical step: out-degrees in the oriented
  * graph are O(√E), so the wedge self-join is bounded even though the
  * transcript graph's hubs (assistant, hot tools) have near-total degree —
  * all hub edges point *into* the hub and generate no wedges there.
  * Exact integer counts; no iteration, three joins total.
  */
object Triangles {

  /** Returns (id: Long, triangles: Long) for every vertex. */
  def run(g: LinkGraph): DataFrame = {
    val und = Engine.checkpoint(g.undirectedEdges) // (a,b), a<b, distinct
    und.rdd.count()
    val deg = und.select(col("a").as("v"))
      .unionAll(und.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("d"))

    val withDeg = und
      .join(deg.select(col("v").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("v").as("b"), col("d").as("db")), "b")
    val lowerFirst = col("da") < col("db") || (col("da") === col("db") && col("a") < col("b"))
    val ore = Engine.checkpoint(withDeg.select(
      when(lowerFirst, col("a")).otherwise(col("b")).as("src"),
      when(lowerFirst, col("b")).otherwise(col("a")).as("dst"),
      when(lowerFirst, col("db")).otherwise(col("da")).as("dstDeg")))
    ore.rdd.count()

    val e1 = ore.select(col("src"), col("dst").as("v"), col("dstDeg").as("vd"))
    val e2 = ore.select(col("src"), col("dst").as("w"), col("dstDeg").as("wd"))
    // Wedges (src → v, src → w) with v before w in the orientation order.
    val wedges = e1.join(e2,
      Seq("src")).where(col("vd") < col("wd") || (col("vd") === col("wd") && col("v") < col("w")))
    // Close the wedge: oriented edge v → w must exist.
    val closing = ore.select(col("src").as("v"), col("dst").as("w"))
    val tri = wedges.join(closing, Seq("v", "w"), "left_semi")

    val corners = tri.select(col("src").as("id"))
      .unionAll(tri.select(col("v").as("id")))
      .unionAll(tri.select(col("w").as("id")))
      .groupBy("id").agg(count(lit(1)).as("triangles"))

    val out = g.vertices.toDF
      .join(corners, Seq("id"), "left")
      .select(col("id"), coalesce(col("triangles"), lit(0L)).as("triangles"))
    out
  }

  /** Total triangle count of the graph (each triangle once). */
  def total(perVertex: DataFrame): Long = {
    val r = perVertex.agg(sum(col("triangles"))).head()
    (if (r.isNullAt(0)) 0L else r.getLong(0)) / 3L
  }
}
