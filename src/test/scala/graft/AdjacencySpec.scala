package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Generate, Join}
import org.apache.spark.sql.functions.col

import graft.gie.{G, Gremlin, Traversal}
import graft.graph.{LinkGraph, PropertyGraph}
import graft.schema.{Edge, Vertex}
import graft.synth.Synth

/** Traversal steps that read a graph's indexes (vertex moves, edge-
  * positioned expands, property filters and fetches, one-move
  * correlated filters) against the equi-joins they replace. The joins
  * are forced in the same session by
  * `spark.sql.autoBroadcastJoinThreshold = -1`; both forms must give the
  * same bag of rows, column for column.
  */
class AdjacencySpec extends SparkSpec {

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
    * twice, so an expand over labeled rows must keep both. Weights vary
    * from row to row.
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
      rows.zipWithIndex.map { case ((a, b, l), i) => (a.toLong, b.toLong, l, 1.0 + i % 4) }
        .toDF("src", "dst", "label", "weight"))
  }

  private val moves: Seq[(String, Traversal => Traversal)] = Seq(
    "out" -> (_.out()), "in" -> (_.in()), "both" -> (_.both()),
    "out.out" -> (_.out().out()), "in.both" -> (_.in().both()), "both.out.in" -> (_.both().out().in()))

  test("plain expands: out/in/both over sparse, negative and self-loop ids and a random graph") {
    for ((gname, g) <- Seq("sparse" -> sparse, "random" -> random);
         (name, f) <- moves) {
      same(s"$gname $name")(f(G.V(g).as_("s")).df)
    }
    sameNoJoin("gremlin 2-hop groupCount")(
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
    sameNoJoin("gremlin out('reply').in('reply')")(
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

  /** `q` over the indexes equals `q` over the joins, column for column,
    * and the index plan has no join left.
    */
  private def sameNoJoin(name: String)(q: => DataFrame): Int = {
    val ix = q
    val (cols, b, joined) = viaJoin { val d = q; (d.columns.toSeq, bag(d), joins(d)) }
    val a = bag(ix)
    assert(ix.columns.toSeq == cols, name)
    assert(a == b, s"$name: index ${a.size} distinct rows, join ${b.size}")
    assert(joins(ix) == 0 && joined > 0, s"$name: ${joins(ix)} joins on the index, $joined over it")
    a.values.sum
  }

  /** Sparse and negative ids, two isolated vertices, a self-loop and
    * parallel rows of one pair with different labels and weights.
    */
  private lazy val sparseLabeled: PropertyGraph = {
    val s = spark
    import s.implicits._
    val es = Seq((0, 1, "reply", 2.0), (0, 1, "invoke", 1.0), (0, 1, "reply", 3.0), (1, 1, "reply", 1.0),
      (1, 3, "invoke", 2.0), (2, 0, "reply", 1.0), (3, 4, "invoke", 4.0), (4, 4, "invoke", 2.0),
      (4, 0, "reply", 1.0), (5, 1, "invoke", 3.0), (2, 5, "reply", 2.0), (2, 5, "invoke", 1.0))
    PropertyGraph(
      ids.zipWithIndex.map { case (id, k) => (id, f"w$k%02d", if (k % 2 == 0) "user" else "tool") }
        .toDF("id", "oid", "label"),
      es.map { case (a, b, l, w) => (ids(a), ids(b), l, w) }.toDF("src", "dst", "label", "weight"))
  }

  /** The labeled graph derived from a small transcript table. */
  private lazy val transcript: PropertyGraph = {
    val pg0 = PropertyGraph.fromTranscripts(Synth.transcripts(spark, 0.0001).toDF)
    val pg = PropertyGraph(pg0.vertices.persist(), pg0.edges.persist())
    pg.vertices.count(); pg.edges.count() // materialized, so the indexes see its size
    pg
  }

  /** Every index-served step, with parameters from the graph's sorted
    * oids `o`.
    */
  private def stepQueries(pg: PropertyGraph, o: Seq[String]): Seq[(String, () => DataFrame)] = {
    val (lo, mid) = (o(o.size / 4), o(o.size / 2))
    def q(text: String) = (text, () => Gremlin.run(pg, text))
    def dsl(name: String)(f: => DataFrame) = (name, () => f)
    Seq(
      // vertex-property filters mid-traversal
      q(s"g.V().out('reply').has('oid', P.lte('$mid')).values('oid')"),
      q(s"g.V().both().has('oid', P.gt('$lo').and(P.lt('$mid'))).groupCount().by('oid')"),
      q("g.V().in().hasLabel('user').values('oid')"),
      q(s"g.V().out().hasId('${o.head}', '$lo', '$mid', 'nope').values('oid')"),
      dsl("has over a null check") { G.V(pg).in().has(col("label").isNull || col("oid") > mid).df },
      q("g.V().out().hasNot('age').values('oid')"),
      q("g.V().in().has('label').values('label')"),
      q(s"g.V().both().has('tool', 'oid', P.gte('$lo')).values('oid')"),
      dsl("has over a fetched oid") {
        G.V(pg).out().auxilia().has(col("label") === "user" && col("id") =!= 0L).df },
      // property fetches and the multi-tag sink
      q("g.V().out('invoke').groupCount().by('oid')"),
      q("g.V().both().values('label')"),
      q("g.V().as('a').out('reply').as('b').in('invoke').as('c').select('a', 'b', 'c')"),
      // edge-positioned expands, their edge filters and vertex steps
      q("g.V().as('s').outE()"),
      q("g.V().as('s').inE('reply')"),
      q("g.V().bothE('invoke')"),
      q("g.V().outE('reply').has('weight', P.gte(2)).inV().groupCount().by('oid')"),
      q("g.V().outE().has('label', 'invoke').inV().values('oid')"),
      q("g.V().inE('invoke').has('weight', P.lt(3)).outV().values('oid')"),
      q("g.V().inE().has('label', 'reply').inV().values('oid')"),
      q("g.V().bothE().otherV().groupCount().by('oid')"),
      q("g.V().bothE('reply').has('weight', P.gte(2)).outV().values('oid')"),
      q("g.V().outE().outV().values('oid')"),
      // one-move correlated filters
      q("g.V().filter(__.outE('invoke').has('weight', P.gte(2))).values('oid')"),
      q("g.V().filter(__.in('invoke').dedup().count().is(P.gte(2))).values('oid')"),
      q("g.V().where(__.out('reply').count().is(0)).values('oid')"),
      q("g.V().where(__.inE().has('label', 'reply').outV().dedup().count().is(P.gte(2))).values('oid')"),
      q("g.V().where(__.bothE().has('weight', P.gte(2)).count().is(P.gte(2))).values('oid')"),
      q("g.V().not(__.outE('invoke').has('weight', P.gte(3))).values('oid')"),
      q("g.V().filter(__.outE().inV()).values('oid')"),
      q("g.V().where(__.both('reply', 'invoke').dedup().count().is(P.between(2, 40))).values('oid')"))
  }

  test("index path equals join path for every index-served Gremlin step") {
    for ((gname, pg) <- Seq("labeled" -> labeled, "sparse labeled" -> sparseLabeled, "transcript" -> transcript)) {
      val o = pg.vertices.select("oid").collect().map(_.getString(0)).sorted.toSeq
      for ((name, f) <- stepQueries(pg, o)) {
        val n = sameNoJoin(s"$gname: $name")(f())
        assert(n > 0, s"$gname: $name has no rows")
        info(s"$gname: $name: $n rows")
      }
    }
  }

  /** graftbench's CR-2, CR-6 and CR-12 texts for seed user `u`. */
  private def crQueries(u: String): Seq[(String, String)] = {
    val seed = s"g.V().has('user','oid','$u').out('reply')"
    val byCount = ".order().by(select(values), desc).by(select(keys), asc)"
    Seq(
      "cr2" -> (seed + ".as('p').in('reply').has('oid', P.lte('u5')).as('m')" +
        ".order().by('oid', desc).by(select('p'), asc).limit(20).select('p', 'm')"),
      "cr6" -> (seed + s".union(identity(), out('reply')).dedup().has('oid', P.neq('$u'))" +
        ".filter(__.outE('invoke').has('weight', P.gte(2)))" +
        ".out('invoke').groupCount().by('oid')" + byCount + ".limit(10)"),
      "cr12" -> (seed + ".as('friend').outE('invoke').has('weight', P.gte(2)).inV()" +
        ".filter(__.in('invoke').dedup().count().is(P.gte(3)))" +
        ".select('friend').groupCount().by('oid')" + byCount + ".limit(20)"))
  }

  test("CR-2, CR-6 and CR-12 run in a few jobs on the indexes, with the join path's rows in order") {
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    // graftbench's joins fixture
    val pg0 = PropertyGraph.fromTranscripts(Synth.transcripts(spark, 0.001).toDF)
    val pg = PropertyGraph(pg0.vertices.persist(), pg0.edges.persist())
    pg.vertices.count(); pg.edges.count() // materialized, so the indexes see its size
    def rowsOf(text: String): Seq[Seq[Any]] = Gremlin.run(pg, text).collect().map(_.toSeq).toSeq
    val jobs = crQueries("u3").map { case (name, text) =>
      val got = rowsOf(text) // builds the indexes
      assert(got.nonEmpty, name)
      assert(got == viaJoin(rowsOf(text)), s"$name: index and join rows differ")
      val n = jobsOf(rowsOf(text))
      info(s"$name: ${got.size} rows, $n jobs")
      name -> n
    }.toMap
    assert(jobs == Map("cr2" -> 1, "cr6" -> 3, "cr12" -> 2))
  }
}
