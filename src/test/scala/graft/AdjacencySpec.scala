package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Generate, Join}
import org.apache.spark.sql.functions.col

import graft.gie.{G, Gremlin, Traversal}
import graft.graph.{LinkGraph, PropertyGraph}
import graft.schema.{Edge, Vertex}

/** Vertex-move expands that read a graph's adjacency index against the
  * equi-join they replace. The join is forced in the same session by
  * `spark.sql.autoBroadcastJoinThreshold = -1`; both forms must give the
  * same bag of rows, column for column.
  */
class AdjacencySpec extends SparkSpec {

  private def viaJoin[A](f: => A): A = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try f finally spark.conf.set(key, old)
  }

  private def bag(df: DataFrame): Map[Seq[Any], Int] =
    df.collect().toSeq.map(_.toSeq.map {
      case a: scala.collection.Seq[_] => a.toList
      case x => x
    }).groupBy(identity).map { case (k, v) => k -> v.size }

  private def plan(df: DataFrame) = df.queryExecution.optimizedPlan
  private def joins(df: DataFrame): Int = plan(df).collect { case j: Join => j }.size

  /** `q` over the index equals `q` over the join, and every expand join
    * of the join plan is an index lookup in the other.
    */
  private def same(name: String)(q: => DataFrame): Unit = {
    val ix = q
    val (cols, b, joined) = viaJoin { val d = q; (d.columns.toSeq, bag(d), joins(d)) }
    val a = bag(ix)
    assert(ix.columns.toSeq == cols, name)
    assert(a == b, s"$name: index ${a.size} distinct rows, join ${b.size}")
    val lookups = plan(ix).collect { case g: Generate => g }.size
    assert(lookups > 0 && joins(ix) == joined - lookups, s"$name: an expand joins")
    info(s"$name: ${a.values.sum} rows")
  }

  /** Sparse and negative ids, self-loops, a sink and an isolated vertex. */
  private val ids = Seq(-9000000000L, -17L, -1L, 0L, 3L, 1L << 40, Long.MaxValue - 5, 77L)

  private lazy val sparse: LinkGraph = {
    val s = spark
    import s.implicits._
    val es = Seq((0, 1), (0, 2), (1, 1), (1, 3), (2, 0), (3, 4), (4, 4), (4, 0), (5, 1), (2, 5))
    LinkGraph(ids.map(i => Vertex(i, s"x$i")).toDS(),
      es.map { case (a, b) => Edge(ids(a), ids(b), 1.0) }.toDS())
  }

  private lazy val random: LinkGraph = graphFrom(120, randomEdges(120, 500, seed = 5L) ++
    Seq((3, 3), (50, 50)))

  /** Two edge labels; a pair may carry both, and (0, 1, reply) appears
    * twice, so an expand over labeled rows must keep both.
    */
  private lazy val labeled: PropertyGraph = {
    val s = spark
    import s.implicits._
    val r = randomEdges(40, 160, seed = 9L)
    val rows = r.zipWithIndex.flatMap { case ((a, b), i) =>
      (if (i % 3 != 0) Seq((a, b, "reply")) else Nil) ++ (if (i % 2 == 0) Seq((a, b, "invoke")) else Nil)
    } ++ Seq((0, 1, "reply"), (0, 1, "reply"), (7, 7, "invoke"))
    PropertyGraph(
      (0 until 40).map(i => (i.toLong, f"v$i%02d", if (i % 2 == 0) "user" else "tool"))
        .toDF("id", "oid", "label"),
      rows.map { case (a, b, l) => (a.toLong, b.toLong, l, 1.0) }.toDF("src", "dst", "label", "weight"))
  }

  private val moves: Seq[(String, Traversal => Traversal)] = Seq(
    "out" -> (_.out()), "in" -> (_.in()), "both" -> (_.both()),
    "out.out" -> (_.out().out()), "in.both" -> (_.in().both()), "both.out.in" -> (_.both().out().in()))

  test("plain expands: out/in/both over sparse, negative and self-loop ids and a random graph") {
    for ((gname, g) <- Seq("sparse" -> sparse, "random" -> random);
         (name, f) <- moves) {
      same(s"$gname $name")(f(G.V(g).as_("s")).df)
    }
    same("gremlin 2-hop groupCount")(
      Gremlin.run(random, "g.V().out().out().groupCount().by('oid')"))
  }

  test("labeled expands: one label, a label list, and no label keep per-row multiplicity") {
    val g = labeled
    val cases: Seq[(String, Traversal => Traversal)] = Seq(
      "out(reply)" -> (_.out("reply")), "in(invoke)" -> (_.in("invoke")),
      "both(reply)" -> (_.both("reply")), "out(reply,invoke)" -> (_.out("reply", "invoke")),
      "both(invoke,reply).in(reply)" -> (_.both("invoke", "reply").in("reply")),
      "out()" -> (_.out()), "both().out(invoke)" -> (_.both().out("invoke")))
    for ((name, f) <- cases) same(name)(f(G.V(g)).df)
    same("gremlin out('reply').in('reply')")(
      Gremlin.run(g, "g.V().has('oid', 'v00').out('reply').in('reply').values('oid')"))
  }

  test("tracked paths ride the index expand") {
    for ((gname, g) <- Seq("sparse" -> sparse, "random" -> random)) {
      same(s"$gname out.both path")(G.V(g).trackPaths().out().both().df)
      same(s"$gname in.in path")(G.V(g).trackPaths().in().in().df)
    }
    same("labeled out(reply).both path")(G.V(labeled).trackPaths().out("reply").both().df)
  }

  test("path expands: pathExpand and pathExpandPaths read the index") {
    def sameLoop(name: String)(q: => DataFrame): Unit = {
      val (a, b) = (bag(q), viaJoin(bag(q)))
      assert(a == b && a.nonEmpty, name)
      info(s"$name: ${a.values.sum} rows")
    }
    for ((gname, g) <- Seq("sparse" -> sparse, "random" -> random); dir <- Seq("out", "in", "both")) {
      sameLoop(s"$gname pathExpand $dir")(G.V(g, col("id") < 10).pathExpand(0, 3, dir).df)
      sameLoop(s"$gname pathExpandPaths $dir simple")(
        G.V(g, col("id") < 4).pathExpandPaths(1, 3, simple = true, dir).df)
      sameLoop(s"$gname pathExpandPaths $dir arbitrary")(
        G.V(g, col("id") < 4).pathExpandPaths(0, 2, simple = false, dir).df)
    }
    sameLoop("labeled pathExpand out(reply)")(
      G.V(labeled, col("id") < 4).pathExpand(1, 3, "out", Some("reply")).df)
    sameLoop("labeled pathExpand both")(G.V(labeled, col("id") < 4).pathExpand(0, 2, "both").df)
  }

  test("hop counts run at most two jobs under AQE, and the index is built once per graph") {
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    val s = spark
    import s.implicits._
    // a new instance (new Datasets, so not equal to `random`): its index
    // is not built yet
    val g = LinkGraph(random.vertices.as[Vertex], random.edges.as[Edge])
    def count(q: String): Long = Gremlin.run(g, q).collect().head.getLong(0)
    val one = "g.V('v000007').out().count()"
    val two = "g.V('v000007').out().out().count()"
    val first = jobsOf(count(one))
    val (hop1, hop2) = (jobsOf(count(one)), jobsOf(count(two)))
    info(s"jobs: first 1-hop query $first, then 1-hop $hop1, 2-hop $hop2")
    assert(hop1 <= 2 && hop2 <= 2)
    assert(first == hop1 + 1, "the first query builds the index in one job")
    assert(jobsOf(count(two)) == hop2, "a later query builds nothing")
    assert(count(two) == viaJoin(count(two)))
  }
}
