package graft

import graft.algos.{Centrality, HITS}
import graft.oracle.Oracle2

/** The power iterations' halting iteration: HITS and eigenvector
  * centrality defer each round's normalization to the next round, so
  * their tol stop is read one round late; these pin that they still end
  * on the iteration the undeferred recurrence ends on.
  */
class PowerIterationSpec extends SparkSpec {

  private val n = 50
  private val edges = randomEdges(n, 260)
  private lazy val g = graphFrom(n, edges)

  /** Driver-side eigenvector centrality: x' = x + Aᵀx, L2-normalized,
    * from x = 1/n, while iter < maxIter and Σ|x' − x| ≥ n·tol.
    */
  private def eigenvector(maxIter: Int, tol: Double): (Array[Double], Int) = {
    var x = Array.fill(n)(1.0 / n)
    var iter = 0
    var delta = Double.MaxValue
    while (iter < maxIter && delta >= n * tol) {
      val raw = x.clone()
      edges.foreach { case (u, v) => raw(v) += x(u) }
      val norm = { val s = math.sqrt(raw.map(r => r * r).sum); if (s == 0.0) 1.0 else s }
      val next = raw.map(_ / norm)
      delta = (0 until n).map(i => math.abs(next(i) - x(i))).sum
      x = next
      iter += 1
    }
    (x, iter)
  }

  private def maxDiff(a: Array[Double], b: Array[Double]): Double =
    a.indices.map(i => math.abs(a(i) - b(i))).max

  test("eigenvector matches the driver-side recurrence: fixed rounds and a tol stop") {
    def got(maxIter: Int, tol: Double): Array[Double] = {
      val m = Centrality.eigenvector(g, maxIter, tol).collect()
        .map(r => r.getLong(0).toInt -> r.getDouble(1)).toMap
      Array.tabulate(n)(m)
    }
    val (fixed, _) = eigenvector(15, 0.0)
    assert(maxDiff(got(15, 0.0), fixed) < 1e-9)
    val tol = 1e-5
    val (want, k) = eigenvector(200, tol)
    info(s"tol $tol stops after $k iterations")
    assert(k < 100, s"tol $tol ran $k iterations")
    assert(maxDiff(got(200, tol), want) < 1e-9)
    // one iteration more or fewer is told apart at this precision
    assert(maxDiff(eigenvector(k - 1, 0.0)._1, want) > 1e-9)
    assert(maxDiff(eigenvector(k + 1, 0.0)._1, want) > 1e-9)
  }

  test("hits stops on the oracle's iteration when tol ends it early") {
    def got(maxIter: Int, tol: Double): (Array[Double], Array[Double]) = {
      val m = HITS.run(g, maxIter, tol).collect()
        .map(r => r.getLong(0).toInt -> ((r.getDouble(1), r.getDouble(2)))).toMap
      (Array.tabulate(n)(m(_)._1), Array.tabulate(n)(m(_)._2))
    }
    val (maxIter, tol) = (200, 1e-6)
    val (auth, hub) = Oracle2.hits(n, edges, maxIter, tol)
    // the oracle's halting iteration: the first fixed count that ends
    // on the same vectors
    val k = (1 to maxIter).find(i => Oracle2.hits(n, edges, i, 0.0)._1.sameElements(auth)).get
    info(s"tol $tol stops after $k iterations")
    assert(k < maxIter / 2, s"tol $tol ran $k iterations")
    val (a, h) = got(maxIter, tol)
    assert(maxDiff(a, auth) < 1e-9 && maxDiff(h, hub) < 1e-9)
    assert(maxDiff(Oracle2.hits(n, edges, k - 1, 0.0)._1, auth) > 1e-9)
    assert(maxDiff(Oracle2.hits(n, edges, k + 1, 0.0)._1, auth) > 1e-9)
  }
}
