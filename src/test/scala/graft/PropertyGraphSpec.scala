package graft

import org.apache.spark.sql.functions._

import graft.graph.{GraphBuilder, PropertyGraph}
import graft.synth.Synth

/** Multi-label property graph: the labeled derivation against a
  * driver-side count, label partitioning, projection semantics, and
  * flatten ≡ single-label derivation.
  */
class PropertyGraphSpec extends SparkSpec {

  private lazy val turns = Synth.transcripts(spark, 0.001).toDF.cache()
  private lazy val pg = PropertyGraph.fromTranscripts(turns)

  test("labeled derivation equals a driver-side count of reply and invoke links") {
    val window = Synth.transcripts(spark, 0.0001).toDF
    val rows = window.select("conv_id", "turn_idx", "role", "tool").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2), Option(r.getString(3))))
    def oid(role: String, tool: Option[String]) =
      if (role == "tool" && tool.isDefined) s"tool:${tool.get}" else role
    val reply = rows.groupBy(_._1).values.toSeq.flatMap { conv =>
      val oids = conv.sortBy(_._2).map(t => oid(t._3, t._4)).toSeq
      oids.zip(oids.drop(1)).collect { case (a, b) if a != b => (a, b, "reply") }
    }
    val invoke = rows.toSeq.collect {
      case (_, _, role, Some(tool)) if role.startsWith("assistant") => (role, s"tool:$tool", "invoke")
    }
    val refEdges = (reply ++ invoke).groupBy(identity).map { case (k, v) => k -> v.size.toDouble }
    val refOids = rows.map(t => oid(t._3, t._4)).toSet ++ invoke.map(_._2)

    val p = PropertyGraph.fromTranscripts(window)
    val oidOf = p.vertices.select("id", "oid").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(oidOf.values.toSet == refOids && oidOf.size == refOids.size)
    val edges = p.edges.select("src", "dst", "label", "weight").collect()
      .map(r => (oidOf(r.getLong(0)), oidOf(r.getLong(1)), r.getString(2)) -> r.getDouble(3))
    assert(edges.length == refEdges.size && edges.toMap == refEdges)
    val monoIds = GraphBuilder.fromTranscripts(window).vertices.collect()
      .map(v => v.id -> v.oid).toMap
    assert(oidOf == monoIds)
  }

  test("vertex labels partition the oid universe") {
    val byLabel = pg.vertices.groupBy("label").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byLabel.keySet.subsetOf(Set("user", "assistant", "agent", "system", "tool")))
    assert(byLabel.values.sum == pg.vertices.count())
    // every tool oid is labeled tool, etc.
    assert(pg.vertices.where(col("oid").like("tool:%") && col("label") =!= "tool").count() == 0)
    assert(pg.vertices.where(col("oid").like("u%") && col("label") =!= "user").count() == 0)
  }

  test("flatten reproduces the single-label derivation exactly") {
    val flat = pg.flatten.edges.collect().map(e => (e.src, e.dst) -> e.weight).toMap
    val mono = GraphBuilder.fromTranscripts(turns).edges.collect()
      .map(e => (e.src, e.dst) -> e.weight).toMap
    assert(flat == mono)
  }

  test("invoke projection only links assistants to tools") {
    val g = pg.project(Seq("assistant", "tool"), Seq("invoke"))
    val vs = pg.vertices
    val bad = g.edges.toDF
      .join(vs.select(col("id").as("src"), col("label").as("sl")), "src")
      .join(vs.select(col("id").as("dst"), col("label").as("dl")), "dst")
      .where(col("sl") =!= "assistant" || col("dl") =!= "tool")
      .count()
    assert(bad == 0 && g.edges.count() > 0)
  }

  test("projection induces on the vertex-label selection") {
    // reply edges into tool vertices must vanish when tools are excluded
    val g = pg.project(Seq("user", "assistant", "agent", "system"), Seq("reply"))
    val toolIds = pg.vertices.where(col("label") === "tool").select(col("id"))
    assert(g.edges.toDF.join(toolIds.withColumnRenamed("id", "dst"), Seq("dst"), "left_semi").count() == 0)
    assert(g.vertices.count() == pg.vertices.where(col("label") =!= "tool").count())
  }
}
