package graftbench

import scala.collection.mutable

/** Self-tests of the benchmark's own arithmetic and checker. Every run
  * executes them before it measures; `run.py --selftest` runs them alone.
  */
object SelfTest {

  def run(): Int = {
    val failed = mutable.ArrayBuffer.empty[String]
    var n = 0
    def expect(name: String, ok: Boolean): Unit = { n += 1; if (!ok) failed += name }
    def near(a: Double, b: Double) = math.abs(a - b) < 1e-9

    // percentiles and their sample counts
    val ten = (1 to 10).map(_.toDouble)
    expect("median of 1..10", near(Stats.median(ten), 5.5))
    expect("p90 of 1..10", near(Stats.quantile(ten, 0.9), 9.1))
    expect("p0/p100", near(Stats.quantile(ten, 0.0), 1.0) && near(Stats.quantile(ten, 1.0), 10.0))
    expect("single sample", near(Stats.quantile(Seq(7.0), 0.9), 7.0))
    val hundred = (1 to 100).map(_.toDouble)
    val p90 = Stats.pct(hundred, 0.9)
    expect("p90 sample counts", p90.n == 100 && p90.beyond == 10 && near(p90.value, 90.1))
    expect("tail percentile keeps ten beyond", Stats.tailPct(hundred).q == 0.9)
    expect("tail falls back to the median", Stats.tailPct(ten).q == 0.5)

    // interval union, span self time, driver gap
    expect("union of overlapping intervals", near(Stats.unionLength(Seq((1.0, 3.0), (2.0, 4.0), (6.0, 7.0))), 4.0))
    expect("union ignores empty intervals", near(Stats.unionLength(Seq((5.0, 5.0), (3.0, 2.0))), 0.0))
    expect("self time clips children", near(Stats.selfTime(0, 10, Seq((1.0, 3.0), (2.0, 4.0), (8.0, 12.0))), 5.0))
    expect("driver gap is wall minus job union",
      near(Stats.driverGap(0, 100, Seq((10.0, 20.0), (15.0, 30.0), (50.0, 60.0))), 70.0))
    expect("driver gap of a span with no jobs", near(Stats.driverGap(3, 8, Seq.empty), 5.0))
    expect("snapshot round gaps stay within a call",
      Snapshots.rounds(Seq(0.0, 5.0, 9.0, 20.0, 22.0), Seq(3, 2)) == Seq(5.0, 4.0, 2.0))

    // the references on a hand-checked graph: triangle 0-1-2, pendant 2→3,
    // isolated 4
    val g = Reference.Graph(Array("a", "b", "c", "d", "e"),
      Array(0, 1, 2, 2), Array(1, 2, 0, 3), Array(1.0, 1.0, 1.0, 2.0))
    expect("reference triangles", Reference.triangles(g).toSeq == Seq(1L, 1L, 1L, 0L, 0L))
    expect("reference wcc", Reference.wcc(g).toSeq == Seq(0L, 0L, 0L, 0L, 4L))
    expect("reference pagerank sums to one", near(Reference.pageRank(g, 7).sum, 1.0))
    expect("reference cdlp keeps isolated labels", Reference.cdlp(g, 3)(4) == 4L)
    expect("reference hops", Reference.hops(g, "b") == (1L, 2L))
    val derived = Reference.derive(Seq(
      Reference.T("c1", 0, "u1", None), Reference.T("c1", 1, "assistant", Some("t3")),
      Reference.T("c1", 2, "tool", Some("t3")), Reference.T("c1", 3, "assistant", None)))
    expect("reference derivation", derived.oids.toSeq == Seq("assistant", "tool:t3", "u1") &&
      derived.src.toSeq == Seq(0, 1, 2) && derived.dst.toSeq == Seq(1, 0, 0) && derived.w.toSeq == Seq(2.0, 1.0, 1.0))

    // a planted wrong output must be rejected, the right one accepted
    val pr = Reference.pageRank(g, 7)
    val prOut = pr.indices.map(i => i.toLong -> pr(i)).toMap
    expect("checker accepts pagerank", Reference.close("pr", prOut, pr).isEmpty)
    val moved = prOut.updated(0L, pr(0) * (1 + 1e-4)).updated(1L, pr(1) - pr(0) * 1e-4)
    expect("checker rejects a moved rank", Reference.close("pr", moved, pr).isDefined)
    expect("checker rejects a missing vertex", Reference.close("pr", prOut - 4L, pr).isDefined)
    val comps = Reference.wcc(g)
    val wccOut = comps.indices.map(i => i.toLong -> comps(i)).toMap
    expect("checker accepts wcc", Reference.equal("wcc", wccOut, comps).isEmpty)
    expect("checker rejects a wrong label", Reference.equal("wcc", wccOut.updated(3L, 3L), comps).isDefined)
    val edges = g.src.indices.map(i => (g.src(i).toLong, g.dst(i).toLong, g.w(i)))
    expect("checker accepts the graph", Reference.sameGraph(g, g.oids, edges).isEmpty)
    expect("checker rejects a wrong weight",
      Reference.sameGraph(g, g.oids, edges.updated(3, (2L, 3L, 1.0))).isDefined)
    expect("checker rejects an extra edge", Reference.sameGraph(g, g.oids, edges :+ ((3L, 4L, 1.0))).isDefined)

    if (failed.nonEmpty) throw new IllegalStateException(s"self-test failed: ${failed.mkString("; ")}")
    n
  }

  def main(args: Array[String]): Unit = println(s"selftest ok: ${run()} checks")
}
