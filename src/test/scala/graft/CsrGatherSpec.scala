package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, spark_partition_id}

import graft.algos.PageRank
import graft.engine.{CheckpointConfig, CsrEdges}
import graft.engine.Engine.MetricsLog
import graft.graph.LinkGraph
import graft.ingest.SnapshotStore
import graft.schema.{Edge, Vertex}

/** PageRank's CSR gather operator against the DataFrame superstep it
  * replaced ([[DataFramePageRank]]), and its partition function against
  * Spark SQL's hash placement.
  */
class CsrGatherSpec extends SparkSpec {

  /** 80 vertices: random edges among 0..69, 70..74 with out-edges only
    * (no in-edges), 75..78 with in-edges only (dangling), 79 isolated;
    * weights 1..5.
    */
  private lazy val g: LinkGraph = {
    val s = spark
    import s.implicits._
    val inner = randomEdges(70, 400, seed = 11L)
    val sources = (70 until 75).flatMap(v => Seq((v, v - 70), (v, 75 + v % 4)))
    val sinks = (75 until 79).map(v => (v % 7, v))
    val es = (inner ++ sources ++ sinks).distinct
      .map { case (a, b) => Edge(a.toLong, b.toLong, 1.0 + (a * 7 + b * 13) % 5) }
    LinkGraph((0 until 80).map(i => Vertex(i.toLong, f"v$i%06d")).toDS(), es.toDS())
  }

  private def ranks(df: DataFrame): Map[Long, Double] =
    df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

  private def assertClose(got: DataFrame, want: DataFrame): Unit = {
    val (a, b) = (ranks(got), ranks(want))
    assert(a.keySet == b.keySet && a.size == 80)
    val worst = a.keys.map(k => math.abs(a(k) - b(k)) / math.max(math.abs(b(k)), 1e-300)).max
    info(f"max relative difference $worst%.2e")
    assert(worst <= 1e-12)
  }

  private def both(cfg: PageRank.Config): Unit = {
    val (l1, l2) = (new MetricsLog, new MetricsLog)
    assertClose(PageRank.run(g, cfg, l1), DataFramePageRank.run(g, cfg, l2))
    assert(l1.iterations == l2.iterations)
    info(s"${l1.iterations} rounds")
  }

  test("the CSR partition function is Spark SQL's repartition placement") {
    import spark.implicits._
    val r = new scala.util.Random(3)
    val ids = Seq(0L, 1L, -1L, 42L, Long.MaxValue, Long.MinValue, Long.MaxValue - 1,
      Long.MinValue + 1, Int.MaxValue.toLong, Int.MinValue.toLong) ++
      Seq.fill(500)(r.nextLong()) ++ Seq.fill(100)(-r.nextInt(1000).toLong)
    for (n <- Seq(1, 4, 7, 200)) {
      val placed = ids.toDF("id").repartition(n, col("id"))
        .select(col("id"), spark_partition_id()).as[(Long, Int)].collect()
      assert(placed.length == ids.length)
      placed.foreach { case (id, p) => assert(CsrEdges.partitionOf(id, n) == p, s"id $id, n $n") }
    }
  }

  test("fixed, tol and weighted rounds match the DataFrame superstep") {
    both(PageRank.Config(maxIter = 12))
    both(PageRank.Config(maxIter = 12, weighted = true))
    // tol mode for all 12 rounds, and halting on its delta
    both(PageRank.Config(maxIter = 12, tol = Some(1e-15), tolTimesN = false))
    both(PageRank.Config(maxIter = 12, tol = Some(1e-15), tolTimesN = false, weighted = true))
    both(PageRank.Config(maxIter = 12, tol = Some(1e-3)))
  }

  test("a resumed call matches an uninterrupted DataFrame run") {
    val dir = Files.createTempDirectory("graft-csr").toString
    try {
      val store = new SnapshotStore(dir)
      val log = new MetricsLog
      PageRank.run(g, PageRank.Config(maxIter = 4), ckpt = Some(CheckpointConfig(store, "pr"))).collect()
      val resumed = PageRank.run(g, PageRank.Config(maxIter = 10), log,
        Some(CheckpointConfig(store, "pr", every = 0)))
      assertClose(resumed, DataFramePageRank.run(g, PageRank.Config(maxIter = 10)))
      assert(log.all.map(_.iter) == (4 until 10))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("with AQE on, rounds still match the DataFrame superstep") {
    for (cfg <- Seq(PageRank.Config(maxIter = 12),
        PageRank.Config(maxIter = 12, tol = Some(1e-15), tolTimesN = false))) {
      val want = DataFramePageRank.run(g, cfg)
      // the freeze leaves the session's AQE setting on inside the loop
      sys.props("graft.aqe.freeze") = "true"
      try {
        assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
        assertClose(PageRank.run(g, cfg), want)
      } finally sys.props.remove("graft.aqe.freeze")
    }
  }

  test("a DataFrame tol run that joins its state twice converges in bounded time") {
    // the step joins cNext with cPrev; before checkpoints capped their
    // size estimate, planning stalled on the squared estimates
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val cfg = PageRank.Config(maxIter = 400, tol = Some(1e-10), tolTimesN = false)
    val log = new MetricsLog
    val t0 = System.nanoTime()
    val got = Future(DataFramePageRank.run(g, cfg, log).cache())(ExecutionContext.global)
    assertClose(Await.result(got, 5.minutes), PageRank.run(g, cfg))
    info(f"${log.iterations} rounds in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    assert(log.iterations < cfg.maxIter)
  }
}
