package graftbench

import scala.collection.mutable

/** Driver-side references the benchmark checks the engine's outputs
  * against. They share no code with the engine: the graph is derived
  * from turn tuples, and each algorithm is a plain loop over edge arrays.
  */
object Reference {

  /** A turn as the derivation sees it. */
  final case class T(conv: String, idx: Int, role: String, tool: Option[String])

  /** A dense-id graph: `oids(id)` names vertex `id`; edges are distinct
    * (src, dst) pairs with their occurrence-count weights.
    */
  final case class Graph(oids: Array[String], src: Array[Int], dst: Array[Int], w: Array[Double]) {
    def n: Int = oids.length
    def m: Int = src.length
    lazy val idOf: Map[String, Int] = oids.zipWithIndex.toMap
  }

  /** Link-graph derivation: a vertex per participant or tool, a reply
    * edge between consecutive turns of a conversation whose authors
    * differ, an invoke edge from an assistant turn to the tool it names;
    * ids are ranks of the oids in byte order.
    */
  def derive(turns: Iterable[T]): Graph = {
    def oid(t: T): String = if (t.role == "tool" && t.tool.isDefined) "tool:" + t.tool.get else t.role
    val weight = mutable.HashMap.empty[(String, String), Int]
    val vs = mutable.HashSet.empty[String]
    def add(a: String, b: String): Unit = weight((a, b)) = weight.getOrElse((a, b), 0) + 1
    turns.groupBy(_.conv).foreach { case (_, ts) =>
      var prev: String = null
      ts.toSeq.sortBy(_.idx).foreach { t =>
        val o = oid(t)
        vs += o
        if (prev != null && prev != o) add(prev, o)
        if (t.role.startsWith("assistant") && t.tool.isDefined) { add(o, "tool:" + t.tool.get); vs += "tool:" + t.tool.get }
        prev = o
      }
    }
    val oids = vs.toArray.sorted
    val id = oids.zipWithIndex.toMap
    val es = weight.toArray.map { case ((a, b), c) => (id(a), id(b), c.toDouble) }.sortBy(e => (e._1, e._2))
    Graph(oids, es.map(_._1), es.map(_._2), es.map(_._3))
  }

  /** Fixed-round PageRank, dangling mass spread uniformly. */
  def pageRank(g: Graph, rounds: Int, d: Double = 0.85): Array[Double] = {
    val n = g.n
    val outdeg = new Array[Int](n)
    g.src.foreach(s => outdeg(s) += 1)
    var r = Array.fill(n)(1.0 / n)
    (0 until rounds).foreach { _ =>
      var dsum = 0.0
      var v = 0
      while (v < n) { if (outdeg(v) == 0) dsum += r(v); v += 1 }
      val base = (1.0 - d) / n + d * dsum / n
      val c = new Array[Double](n)
      var e = 0
      while (e < g.m) { c(g.dst(e)) += r(g.src(e)) / outdeg(g.src(e)); e += 1 }
      r = c.map(base + d * _)
    }
    r
  }

  /** Weakly connected components by union-find; a component is labelled
    * by its smallest vertex id.
    */
  def wcc(g: Graph): Array[Long] = {
    val parent = Array.tabulate(g.n)(identity)
    def find(x: Int): Int = { var a = x; while (parent(a) != a) { parent(a) = parent(parent(a)); a = parent(a) }; a }
    g.src.indices.foreach { e =>
      val a = find(g.src(e)); val b = find(g.dst(e))
      if (a != b) { if (a < b) parent(b) = a else parent(a) = b }
    }
    Array.tabulate(g.n)(v => find(v).toLong)
  }

  /** Synchronous label propagation: each round a vertex takes the most
    * frequent label among its neighbours (each edge counted from both
    * ends, self-loops ignored), ties to the smallest; isolated vertices
    * keep theirs.
    */
  def cdlp(g: Graph, rounds: Int): Array[Long] = {
    val nbrs = Array.fill(g.n)(mutable.ArrayBuffer.empty[Int])
    g.src.indices.foreach { e =>
      val a = g.src(e); val b = g.dst(e)
      if (a != b) { nbrs(a) += b; nbrs(b) += a }
    }
    var label = Array.tabulate(g.n)(_.toLong)
    (0 until rounds).foreach { _ =>
      val cur = label
      label = Array.tabulate(g.n) { v =>
        if (nbrs(v).isEmpty) cur(v)
        else {
          val cnt = mutable.HashMap.empty[Long, Int]
          nbrs(v).foreach(u => cnt(cur(u)) = cnt.getOrElse(cur(u), 0) + 1)
          cnt.toSeq.minBy { case (l, c) => (-c, l) }._1
        }
      }
    }
    label
  }

  /** Triangles through each vertex of the undirected simple graph. */
  def triangles(g: Graph): Array[Long] = {
    val adj = Array.fill(g.n)(mutable.TreeSet.empty[Int])
    g.src.indices.foreach { e =>
      val a = g.src(e); val b = g.dst(e)
      if (a != b) { adj(a) += b; adj(b) += a }
    }
    val sorted = adj.map(_.toArray)
    val t = new Array[Long](g.n)
    var u = 0
    while (u < g.n) {
      sorted(u).foreach { v =>
        if (v > u) {
          // common neighbours w > v of u and v, by a merge of sorted lists
          val a = sorted(u); val b = sorted(v)
          var i = 0; var j = 0
          while (i < a.length && j < b.length) {
            if (a(i) < b(j)) i += 1
            else if (a(i) > b(j)) j += 1
            else {
              val w = a(i)
              if (w > v) { t(u) += 1; t(v) += 1; t(w) += 1 }
              i += 1; j += 1
            }
          }
        }
      }
      u += 1
    }
    t
  }

  /** Traversers after `g.V(oid).out()` and `g.V(oid).out().out()`. */
  def hops(g: Graph, oid: String): (Long, Long) = {
    val outdeg = new Array[Long](g.n)
    g.src.foreach(s => outdeg(s) += 1)
    g.idOf.get(oid) match {
      case None => (0L, 0L)
      case Some(v) =>
        val firsts = g.src.indices.filter(g.src(_) == v).map(g.dst(_))
        (firsts.size.toLong, firsts.map(outdeg(_)).sum)
    }
  }

  // ---- comparisons: None when equal, else a short reason ----

  def sameGraph(ref: Graph, oids: Array[String], edges: Seq[(Long, Long, Double)]): Option[String] = {
    if (!oids.sameElements(ref.oids)) return Some(s"vertices differ: ${oids.length} vs reference ${ref.n}")
    if (edges.size != ref.m) return Some(s"edge count ${edges.size} vs reference ${ref.m}")
    val got = edges.sortBy(e => (e._1, e._2))
    got.indices.find { i =>
      val (s, d, w) = got(i)
      s != ref.src(i) || d != ref.dst(i) || w != ref.w(i)
    }.map(i => s"edge $i differs: ${got(i)} vs (${ref.src(i)},${ref.dst(i)},${ref.w(i)})")
  }

  def close(name: String, got: Map[Long, Double], ref: Array[Double], rtol: Double = 1e-6): Option[String] = {
    if (got.size != ref.length) return Some(s"$name: ${got.size} rows vs reference ${ref.length}")
    val sum = got.values.sum
    if (math.abs(sum - 1.0) > 1e-9) return Some(s"$name: ranks sum to $sum")
    ref.indices.find(v => !got.get(v.toLong).exists(x => math.abs(x - ref(v)) <= rtol * math.abs(ref(v)) + 1e-12))
      .map(v => s"$name: vertex $v has ${got.get(v.toLong)} vs reference ${ref(v)}")
  }

  def equal(name: String, got: Map[Long, Long], ref: Array[Long]): Option[String] = {
    if (got.size != ref.length) return Some(s"$name: ${got.size} rows vs reference ${ref.length}")
    ref.indices.find(v => !got.get(v.toLong).contains(ref(v)))
      .map(v => s"$name: vertex $v has ${got.get(v.toLong)} vs reference ${ref(v)}")
  }
}
