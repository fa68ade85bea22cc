package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Join

import graft.algos.{Clustering, Triangles}
import graft.gie.Gremlin
import graft.graph.{GraphBuilder, LinkGraph}
import graft.schema.{Edge, Vertex}
import graft.synth.Synth

/** Triangle counts from the graph's adjacency index (sorted-list
  * intersection in one job) against the three-join plan. The join path
  * is forced in the same session by
  * `spark.sql.autoBroadcastJoinThreshold = -1`; both paths must give
  * exactly the same count for every vertex row.
  */
class TrianglesSpec extends SparkSpec {

  private def joins(df: DataFrame): Int =
    df.queryExecution.optimizedPlan.collect { case j: Join => j }.size

  private def rows(df: DataFrame): Seq[(Long, Long)] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq.sorted

  /** The index path equals the join path on `g`, for the counts, lcc and
    * transitivity alike; returns the counts.
    */
  private def same(name: String, g: LinkGraph): Map[Long, Long] = {
    val ix = Triangles.run(g)
    val (jn, joined) = viaJoin { val d = Triangles.run(g); (rows(d), joins(d)) }
    assert(joins(ix) == 0 && joined > 0, s"$name: the two calls took one path")
    val got = rows(ix)
    assert(got == jn, s"$name: index $got, join $jn")
    def lcc: Seq[(Long, Double)] =
      Clustering.lcc(g).collect().map(r => r.getLong(0) -> r.getDouble(1)).toSeq.sorted
    assert(lcc == viaJoin(lcc), s"$name: lcc")
    assert(Clustering.transitivity(g) == viaJoin(Clustering.transitivity(g)), s"$name: transitivity")
    info(s"$name: ${got.size} vertices, ${got.map(_._2).sum / 3} triangles")
    got.toMap
  }

  /** The transcript graph, materialized so that the index's one size
    * estimate reads the cached size rather than the plan's.
    */
  private lazy val tg = {
    val g = GraphBuilder.fromTranscripts(Synth.transcripts(spark, 0.0001).toDF).persist()
    g.edges.count()
    g
  }

  test("the index and join paths give equal counts on the AlgoSpec fixtures") {
    same("random", graphFrom(60, randomEdges(60, 300)))
    same("transcript", tg)
    val k4less = same("K4 minus an edge", graphFrom(4, Seq((0, 1), (0, 2), (0, 3), (1, 2), (1, 3))))
    assert(k4less == Map(0L -> 2L, 1L -> 2L, 2L -> 1L, 3L -> 1L))
  }

  test("negative, huge and sparse ids, self-loops, reciprocal pairs, duplicate rows, ties and an isolated vertex") {
    val s = spark
    import s.implicits._
    val ids = Seq(-9000000000L, -17L, -1L, 0L, 3L, 1L << 40, Long.MaxValue - 5, 77L)
    // a K4 on 0..3 (with the reciprocal rows 1→0 and 2→1, the row 0→1
    // twice and the self-loop 2→2), the triangle {3, 4, 5} with the
    // self-loop 5→5, the pendant edge 6→4, and 7 isolated; 0, 1, 2 and 4
    // tie at degree 3
    val es = Seq((0, 1), (0, 1), (1, 0), (1, 2), (2, 1), (2, 3), (3, 0), (0, 2), (1, 3), (2, 2),
      (3, 4), (4, 5), (5, 3), (5, 5), (6, 4))
    val g = LinkGraph(ids.map(i => Vertex(i, s"x$i")).toDS(),
      es.map { case (a, b) => Edge(ids(a), ids(b), 1.0) }.toDS())
    val got = same("odd ids", g)
    assert(got == ids.zip(Seq(3L, 3L, 3L, 4L, 1L, 1L, 0L, 0L)).toMap)
  }

  test("with the index built, a count runs at most three jobs, and the Gremlin moves share the index") {
    val s = spark
    import s.implicits._
    // a new instance (new Datasets): its index is not built yet
    val g = LinkGraph(tg.vertices.as[Vertex], tg.edges.as[Edge])
    val first = jobsOf(Triangles.run(g).collect())
    val later = jobsOf(Triangles.run(g).collect())
    info(s"jobs: first call $first, later calls $later")
    assert(later <= 3)
    assert(first == later + 1, "the first call builds the index in one job")
    assert(jobsOf(Triangles.run(g).collect()) == later)
    val hop = "g.V().out().count()"
    val hopJobs = jobsOf(Gremlin.run(g, hop).collect())
    assert(jobsOf(Gremlin.run(g, hop).collect()) == hopJobs, "the vertex moves build no index of their own")
  }
}
