package graft.algos

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.engine.{Adjacency, Engine, Oriented}
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
  * graph are O(√E), so the wedge work is bounded even though the
  * transcript graph's hubs (assistant, hot tools) have near-total degree —
  * all hub edges point *into* the hub and generate no wedges there.
  *
  * Which path runs is the graph's adjacency index's threshold decision
  * ([[graft.engine.Adjacency]], the entry the Gremlin vertex moves read).
  * While the edges fit under the broadcast threshold, one job over vertex
  * ranges of the index's [[graft.engine.Oriented]] graph intersects the
  * sorted lists N⁺(u) ∩ N⁺(v) of every oriented edge (u, v), as the
  * reference does, with no shuffle. Over it, three binary joins: the
  * wedges out of each vertex, closed against the oriented edge set.
  * Both give exact integer counts.
  */
object Triangles {

  /** Returns (id: Long, triangles: Long) for every vertex. */
  def run(g: LinkGraph): DataFrame =
    Adjacency.of(g).index(Nil)(g.edges.toDF) match {
      case Some(ix) => intersect(g, ix.oriented)
      case None => joins(g)
    }

  private def intersect(g: LinkGraph, o: Broadcast[Oriented]): DataFrame = {
    val sc = g.vertices.sparkSession.sparkContext
    val (n, offsets) = (o.value.ids.length, o.value.offsets)
    // vertex ranges holding about equal shares of the oriented edges
    val parts = math.max(1, math.min(sc.defaultParallelism, offsets(n)))
    val cuts = (0 to parts).map { p =>
      val k = java.util.Arrays.binarySearch(offsets, 0, n + 1, (offsets(n).toLong * p / parts).toInt)
      if (k < 0) -k - 1 else k
    }.distinct
    val tri =
      if (offsets(n) == 0) new Array[Long](n)
      else sc.parallelize(cuts.zip(cuts.tail), cuts.size - 1)
        .map { case (lo, hi) => corners(o.value, lo, hi) }
        .reduce { (a, b) => for (k <- a.indices) a(k) += b(k); a }
    val counts = sc.broadcast(tri)
    val lookup = udf { (id: Long) =>
      val k = java.util.Arrays.binarySearch(o.value.ids, id)
      if (k < 0) 0L else counts.value(k)
    }
    g.vertices.toDF.select(col("id"), lookup(col("id")).as("triangles"))
  }

  /** Triangle corners per vertex found from the oriented edges out of
    * vertices `[lo, hi)`: for each edge (u, v), a merge of the ascending
    * lists N⁺(u) and N⁺(v) finds every w closing a triangle, which
    * credits u, v and w once. Each triangle is found once, from the edge
    * between its two lowest corners.
    */
  private def corners(o: Oriented, lo: Int, hi: Int): Array[Long] = {
    val (off, nb) = (o.offsets, o.nbrs)
    val c = new Array[Long](o.ids.length)
    for (u <- lo until hi; p <- off(u) until off(u + 1)) {
      val v = nb(p)
      var (i, j, t) = (off(u), off(v), 0)
      while (i < off(u + 1) && j < off(v + 1)) {
        if (nb(i) < nb(j)) i += 1
        else if (nb(i) > nb(j)) j += 1
        else { c(nb(i)) += 1; t += 1; i += 1; j += 1 }
      }
      c(u) += t; c(v) += t
    }
    c
  }

  private def joins(g: LinkGraph): DataFrame = {
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
}
