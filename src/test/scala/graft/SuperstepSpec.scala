package graft

import java.nio.file.Files
import java.util.UUID
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.ShuffledHashJoinExec
import org.apache.spark.sql.util.QueryExecutionListener

import graft.algos.{Betweenness, CDLP, Centrality, Cores, HITS, LPAU2I, Louvain, PageRank, SSSP, WCC}
import graft.engine.{CheckpointConfig, CsrGatherExec}
import graft.engine.Engine.MetricsLog
import graft.graph.LinkGraph
import graft.ingest.SnapshotStore

/** The superstep driver's contract: one Spark job per round, no
  * exchange on the checkpointed edge side of a gather (WCC's join, and
  * below PageRank's CSR node after its first round), no persisted loop
  * input, one snapshot per round at `every = 1`, resume that logs only
  * the rounds it ran, and an atomic `_latest` commit.
  */
class SuperstepSpec extends SparkSpec {

  // 300 vertices each: random edges for PageRank/CDLP, and a chain for
  // WCC, which then needs ~300 rounds and never converges inside a test
  private lazy val g: LinkGraph = graphFrom(300, randomEdges(300, 1200))
  private lazy val chain: LinkGraph = graphFrom(300, (0 until 299).map(i => (i, i + 1)))

  test("one Spark job per round: PageRank fixed and tol, WCC, CDLP") {
    val fixed = jobsPerRound("pagerank fixed") { k =>
      PageRank.run(g, PageRank.Config(maxIter = k)).collect() }
    val tol = jobsPerRound("pagerank tol") { k =>
      PageRank.run(g, PageRank.Config(maxIter = k, tol = Some(1e-15), tolTimesN = false)).collect() }
    val wcc = jobsPerRound("wcc") { k => WCC.run(chain, maxIter = k).collect() }
    val cdlp = jobsPerRound("cdlp") { k => CDLP.run(g, rounds = k).collect() }
    assert((fixed, tol, wcc, cdlp) == ((1.0, 1.0, 1.0, 1.0)))
  }

  private def path(n: Int): LinkGraph = graphFrom(n, (0 until n - 1).map(i => (i, i + 1)))

  test("one Spark job per round: SSSP, BFS, kcore, kshell") {
    // these take no round limit, so the round count comes from the graph:
    // from v0 down a path of k + 1 vertices SSSP and BFS run k + 1 rounds;
    // on a path of 2k vertices the 2-core peels both ends each round (k
    // rounds) and kshell first raises k once (k + 1 rounds)
    val sssp = jobsPerRound("sssp") { k => graft.algos.SSSP.run(path(k + 1), "v000000").collect() }
    val bfs = jobsPerRound("bfs") { k => graft.algos.BFS.run(path(k + 1), "v000000").collect() }
    val kcore = jobsPerRound("kcore") { k => graft.algos.Cores.kcore(path(2 * k), 2).collect() }
    val kshell = jobsPerRound("kshell") { k => graft.algos.Cores.kshell(path(2 * k)).collect() }
    assert((sssp, bfs, kcore, kshell) == ((1.0, 1.0, 1.0, 1.0)))
  }

  test("one Spark job per round: HITS, eigenvector, Louvain, betweenness") {
    val hits = jobsPerRound("hits") { k => HITS.run(g, maxIter = k, tol = 0.0).collect() }
    val eigen = jobsPerRound("eigenvector") { k =>
      Centrality.eigenvector(g, maxIter = k, tol = 0.0).collect() }
    // the sweep on g still moves vertices in its third round, so
    // maxRounds sets the round count
    val louvain = jobsPerRound("louvain") { k => Louvain.run(g, maxRounds = k).collect() }
    // from v0 down a path of k + 1 vertices the forward wave settles k
    // levels and halts on the round that adds none (k + 1 rounds), then
    // the backward pass runs one round per level (k rounds)
    val betweenness = jobsPerRound("betweenness", k => 2 * k + 1) { k =>
      Betweenness.run(path(k + 1), Seq("v000000")).collect() }
    assert((hits, eigen, louvain, betweenness) == ((1.0, 1.0, 1.0, 1.0)))
  }

  test("no loop persists its inputs: the cache manager stays empty") {
    // the suites share one session, and some persist their fixture graphs
    spark.catalog.clearCache()
    val s = spark
    import s.implicits._
    val small = graphFrom(60, randomEdges(60, 240))
    val uLabels = Seq((0L, Seq(1.0, 0.0)), (1L, Seq(0.0, 1.0))).toDF("id", "labels")
    val seeds = Seq("v000000", "v000001")
    Seq[LinkGraph => org.apache.spark.sql.DataFrame](
      PageRank.run(_, PageRank.Config(maxIter = 3)),
      PageRank.personalized(_, 0L, 3),
      PageRank.personalizedSparse(_, 0L, 3),
      Centrality.katz(_, maxIter = 3),
      HITS.run(_, maxIter = 3, tol = 0.0),
      Centrality.eigenvector(_, maxIter = 3, tol = 0.0),
      WCC.run(_, maxIter = 3),
      CDLP.run(_, rounds = 3),
      Cores.kcore(_, 3),
      Cores.kshell(_),
      LPAU2I.run(_, uLabels, propNum = 2, rounds = 2),
      SSSP.multiSource(_, seeds),
      Louvain.run(_, maxRounds = 3),
      Louvain.runMultiLevel(_, roundsPerLevel = 3, levels = 2),
      Betweenness.run(_, seeds)
    ).foreach(_(small).collect())
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  /** Runs `f` and returns the executed plans of the queries it ran, in
    * order (a lazy checkpoint reports its plan as `localCheckpoint`).
    */
  private def plansOf(f: => Unit): Seq[(String, SparkPlan)] = {
    val plans = new ConcurrentLinkedQueue[(String, SparkPlan)]()
    val marker = s"marker_${UUID.randomUUID().toString.replace('-', '_')}"
    val done = new CountDownLatch(1)
    val l = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        plans.add(funcName -> qe.executedPlan)
        if (qe.analyzed.output.exists(_.name == marker)) done.countDown()
      }
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try {
      f
      spark.range(1).toDF(marker).collect()
      assert(done.await(60, TimeUnit.SECONDS), "listener never saw the closing marker")
    } finally spark.listenerManager.unregister(l)
    plans.asScala.toSeq
  }

  private def exchanges(p: SparkPlan): Seq[ShuffleExchangeExec] =
    p.collect { case e: ShuffleExchangeExec => e }

  test("a checkpoint caps its size estimate: SSSP and WCC after 80 rounds on a path") {
    val path = graphFrom(80, (0 until 79).map(i => (i, i + 1)))
    val cap = org.apache.spark.sql.GraftDatasets.conf(spark).defaultSizeInBytes
    val (sssp, wcc) = (new MetricsLog, new MetricsLog)
    for ((name, log, df) <- Seq(
        ("sssp", sssp, graft.algos.SSSP.run(path, "v000000", sssp)),
        ("wcc", wcc, WCC.run(path, log = wcc)))) {
      val size = df.queryExecution.optimizedPlan.stats.sizeInBytes
      info(s"$name: ${log.iterations} rounds, estimate $size bytes")
      assert(log.iterations >= 79 && size <= cap, name)
    }
  }

  test("a round's gather join plans no exchange on the checkpointed edge side") {
    val plans = plansOf(WCC.run(chain, maxIter = 2).collect())
    // the edge side of a gather join: a child carrying both endpoints
    def edgeSides(p: SparkPlan): Seq[SparkPlan] = p.collect {
      case j: ShuffledHashJoinExec => j.children.filter(c =>
        Set("src", "dst").subsetOf(c.output.map(_.name).toSet))
    }.flatten
    val sides = plans.flatMap { case (_, p) => edgeSides(p) }
    // WCC plans one gather join per round
    assert(sides.size >= 2, s"found ${sides.size} gather joins")
    sides.foreach(s => assert(exchanges(s).isEmpty, s"exchange on the edge side of a gather join:\n$s"))
  }

  test("a PageRank round plans the CSR node, with no exchange below it after round 1") {
    for (tol <- Seq(None, Some(1e-15))) {
      val plans = plansOf(PageRank.run(g,
        PageRank.Config(maxIter = 3, tol = tol, tolTimesN = false)).collect())
      val rounds = plans.flatMap { case (_, p) => p.collect { case c: CsrGatherExec => c } }
      assert(rounds.size == 3, s"found ${rounds.size} CSR gather nodes")
      // round 1 reads the empty initial state, which is not yet placed by id
      rounds.tail.foreach(r => assert(exchanges(r).isEmpty, s"exchange below the CSR node:\n$r"))
    }
  }

  private def manifests(dir: String, table: String): Int =
    Option(new java.io.File(s"$dir/$table/_manifests").listFiles()).toSeq.flatten
      .count(_.getName.matches("v\\d+\\.json"))

  test("every = 1 writes one manifest per round; a resumed every = 0 call writes none") {
    def check(table: String)(call: (Int, Option[CheckpointConfig], MetricsLog) => Unit): Unit = {
      val dir = Files.createTempDirectory(s"graft-$table").toString
      try {
        val store = new SnapshotStore(dir)
        val (l1, l2) = (new MetricsLog, new MetricsLog)
        call(3, Some(CheckpointConfig(store, table, every = 1)), l1)
        assert(manifests(dir, table) == 3 && l1.iterations == 3)
        call(5, Some(CheckpointConfig(store, table, every = 0)), l2)
        assert(manifests(dir, table) == 3)
        assert(l2.all.map(_.iter) == Seq(3, 4))
      } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
    check("pr") { (k, c, log) => PageRank.run(g, PageRank.Config(maxIter = k), log, c).collect() }
    check("wcc") { (k, c, log) => WCC.run(chain, k, log, c).collect() }
  }

  test("a commit that stops before the pointer moves leaves the previous version latest") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-commit").toString
    try {
      val ok = new SnapshotStore(dir)
      ok.write("t", Seq((1L, 0.5)).toDF("id", "rank"), Map("iter" -> 0.0))
      ok.write("t", Seq((1L, 0.6)).toDF("id", "rank"), Map("iter" -> 1.0))
      val crashing = new SnapshotStore(dir) {
        override protected def movePointer(from: Path, to: Path): Unit =
          throw new java.io.IOException("stopped before the rename")
      }
      intercept[java.io.IOException] {
        crashing.write("t", Seq((1L, 0.7)).toDF("id", "rank"), Map("iter" -> 2.0))
      }
      assert(ok.latestVersion("t").contains(1))
      assert(ok.read(spark, "t", 1).head().getDouble(1) == 0.6)
      val left = Files.walk(java.nio.file.Paths.get(dir)).iterator().asScala
        .map(_.getFileName.toString).filter(_.contains("tmp")).toList
      assert(left.isEmpty, s"temp files left behind: $left")
      // the next good commit moves past the abandoned version
      assert(ok.write("t", Seq((1L, 0.8)).toDF("id", "rank"), Map("iter" -> 3.0)) == 2)
      assert(ok.latestVersion("t").contains(2))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }
}
