package graft

import org.apache.spark.sql.functions._

import graft.algos._
import graft.oracle.{Oracle, Oracle2}

/** Second-wave algorithms vs their in-memory oracles. */
class Algo2Spec extends SparkSpec {

  private val n = 50
  private val edges = randomEdges(n, 260)
  private lazy val g = graphFrom(n, edges).persist()
  private def src = f"v${0}%06d"

  test("sssp matches Bellman-Ford (unit weights)") {
    val got = SSSP.run(g, src).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    val want = Oracle2.sssp(n, edges.map { case (a, b) => (a, b, 1.0) }, 0)
    (0 until n).foreach(i => assert(got(i.toLong) == want(i), s"vertex $i"))
  }

  test("sssp respects weights") {
    // 0→1 (w=10), 0→2 (w=1), 2→1 (w=1): dist(1) = 2 via 2
    val s = spark
    import s.implicits._
    val vs = (0 until 3).map(i => graft.schema.Vertex(i.toLong, f"v$i%06d")).toDS()
    val es = Seq(graft.schema.Edge(0, 1, 10.0), graft.schema.Edge(0, 2, 1.0),
      graft.schema.Edge(2, 1, 1.0)).toDS()
    val gg = graft.graph.LinkGraph(vs, es)
    val got = SSSP.run(gg, "v000000").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got(1L) == 2.0 && got(2L) == 1.0 && got(0L) == 0.0)
  }

  test("bfs levels match oracle") {
    val got = BFS.run(g, src).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    val want = Oracle2.bfs(n, edges, 0)
    (0 until n).foreach(i => assert(got(i.toLong) == want(i), s"vertex $i"))
  }

  test("hits matches oracle (allclose 1e-6)") {
    val got = HITS.run(g, 40, 1e-10).collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    val (auth, hub) = Oracle2.hits(n, edges, 40, 1e-10)
    (0 until n).foreach { i =>
      assert(math.abs(got(i.toLong)._1 - auth(i)) < 1e-6, s"auth $i")
      assert(math.abs(got(i.toLong)._2 - hub(i)) < 1e-6, s"hub $i")
    }
  }

  test("kcore matches oracle") {
    val k = 4
    val got = Cores.kcore(g, k).collect().map(r => r.getLong(0).toInt -> r.getLong(1).toInt).toMap
    val want = Oracle2.kcore(n, edges, k)
    assert(got == want)
  }

  test("kshell matches oracle") {
    val got = Cores.kshell(g).collect().map(r => r.getLong(0).toInt -> r.getLong(1)).toMap
    val want = Oracle2.kshell(n, edges)
    (0 until n).foreach(i => assert(got(i) == want(i), s"vertex $i: ${got(i)} vs ${want(i)}"))
  }

  test("kcore and kshell: isolated vertices, a clique with a tail, a core above the max degree") {
    // K4 on 0..3 (one edge given both ways, plus a self-loop), the tail
    // 3-4-5-6, and isolated 7 and 8
    val fixture = Seq((0, 1), (1, 0), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3), (2, 2),
      (3, 4), (5, 4), (5, 6))
    val gf = graphFrom(9, fixture)
    def core(k: Int) = Cores.kcore(gf, k).collect().map(r => r.getLong(0).toInt -> r.getLong(1).toInt).toMap
    val k4 = Map(0 -> 3, 1 -> 3, 2 -> 3, 3 -> 3)
    assert(core(1) == Map(0 -> 3, 1 -> 3, 2 -> 3, 3 -> 4, 4 -> 2, 5 -> 2, 6 -> 1))
    assert(core(2) == k4 && core(3) == k4)
    assert(core(4).isEmpty && core(10).isEmpty)
    Seq(1, 2, 3, 4, 10).foreach(k => assert(core(k) == Oracle2.kcore(9, fixture, k), s"k = $k"))
    val shells = Cores.kshell(gf).collect().map(r => r.getLong(0).toInt -> r.getLong(1)).toMap
    assert(shells == Map(0 -> 3L, 1 -> 3L, 2 -> 3L, 3 -> 3L, 4 -> 1L, 5 -> 1L, 6 -> 1L, 7 -> 0L, 8 -> 0L))
    assert(shells == Oracle2.kshell(9, fixture).zipWithIndex.map { case (sh, v) => v -> sh }.toMap)
  }

  test("lcc + avg clustering + transitivity match oracle") {
    val got = Clustering.lcc(g).collect().map(r => r.getLong(0).toInt -> r.getDouble(1)).toMap
    val want = Oracle2.lcc(n, edges)
    (0 until n).foreach(i => assert(math.abs(got(i) - want(i)) < 1e-9, s"vertex $i"))
    assert(math.abs(Clustering.avgClustering(g) - want.sum / n) < 1e-9)
    assert(math.abs(Clustering.transitivity(g) - Oracle2.transitivity(n, edges)) < 1e-9)
  }

  test("degree centrality") {
    val got = Centrality.degree(g, "both").collect().map(r => r.getLong(0).toInt -> r.getDouble(1)).toMap
    val und = edges.filter { case (a, b) => a != b }
      .flatMap { case (a, b) => Seq((math.min(a, b), math.max(a, b))) }.distinct
    val deg = new Array[Int](n)
    // directed degrees over the distinct directed edge set
    val dis = edges.distinct.filter { case (a, b) => a != b }
    val outD = new Array[Int](n); val inD = new Array[Int](n)
    dis.foreach { case (a, b) => outD(a) += 1; inD(b) += 1 }
    (0 until n).foreach { i =>
      assert(math.abs(got(i) - (outD(i) + inD(i)).toDouble / (n - 1)) < 1e-12, s"vertex $i")
    }
    assert(und.nonEmpty && deg.length == n) // silence unused warnings
  }

  test("eigenvector centrality is a fixpoint direction") {
    val got = Centrality.eigenvector(g, 60, 1e-10).collect()
      .map(r => r.getLong(0).toInt -> r.getDouble(1)).toMap
    // verify: x ∝ x + Aᵀx after normalization (power iteration fixpoint)
    val raw = new Array[Double](n)
    (0 until n).foreach(i => raw(i) = got(i))
    val nxt = raw.clone()
    edges.distinct.filter { case (a, b) => a != b }.foreach { case (u, v) => nxt(v) += raw(u) }
    val norm = math.sqrt(nxt.map(x => x * x).sum)
    (0 until n).foreach(i => assert(math.abs(nxt(i) / norm - raw(i)) < 1e-4, s"vertex $i"))
  }

  test("katz centrality satisfies its recurrence") {
    val alpha = 0.05
    val got = Centrality.katz(g, alpha, 1.0, 200, 1e-12).collect()
      .map(r => r.getLong(0).toInt -> r.getDouble(1)).toMap
    // un-normalized fixpoint: x = alpha·Aᵀx + beta; check direction
    val x = (0 until n).map(got).toArray
    val nxt = Array.fill(n)(0.0)
    edges.distinct.filter { case (a, b) => a != b }.foreach { case (u, v) => nxt(v) += alpha * x(u) }
    val beta = {
      // recover effective beta from normalization: x = c(alpha·Aᵀx̂ + β1̂)
      val diffs = (0 until n).map(i => x(i) - nxt(i))
      diffs.sum / n
    }
    (0 until n).foreach(i => assert(math.abs(x(i) - nxt(i) - beta) < 1e-6, s"vertex $i"))
  }

  test("degree assortativity matches oracle") {
    val got = Assortativity.degreeAssortativity(g)
    val want = Oracle2.degreeAssortativity(n, edges)
    assert(math.abs(got - want) < 1e-9)
  }

  test("boundaries") {
    val s = spark
    import s.implicits._
    val setS = Seq(0L, 1L, 2L).toDF("id")
    val nb = Assortativity.nodeBoundary(g, setS).collect().map(_.getLong(0)).toSet
    val dis = edges.distinct.filter { case (a, b) => a != b }
    val want = dis.filter(e => Set(0, 1, 2)(e._1) && !Set(0, 1, 2)(e._2)).map(_._2.toLong).toSet
    assert(nb == want)
    val eb = Assortativity.edgeBoundary(g, setS).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(eb == dis.filter(e => Set(0, 1, 2)(e._1) && !Set(0, 1, 2)(e._2))
      .map(e => (e._1.toLong, e._2.toLong)).toSet)
  }
}
