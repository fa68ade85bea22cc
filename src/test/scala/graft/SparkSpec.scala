package graft

import java.util.UUID
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.graph.LinkGraph
import graft.schema.{Edge, Vertex}

/** Shared session + helpers for all suites (one session per JVM — suites
  * share it via getOrCreate).
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
  locally { spark.sparkContext.setLogLevel("ERROR") }

  /** Runs `f` with `spark.sql.autoBroadcastJoinThreshold = -1`, which
    * turns the graph indexes off ([[graft.engine.Adjacency]]): every
    * index-served step plans the join it replaces.
    */
  protected def viaJoin[A](f: => A): A = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try f finally spark.conf.set(key, old)
  }

  /** Runs `f` and returns the Spark jobs it started. Marker jobs before
    * and after bracket the listener's view, so events still queued from
    * earlier work are not counted and all of `f`'s events are.
    */
  protected def jobsOf(f: => Unit): Int = {
    val sc = spark.sparkContext
    val seen = new ConcurrentLinkedQueue[String]()
    val (m1, m2) = (s"marker-${UUID.randomUUID()}", s"marker-${UUID.randomUUID()}")
    val done = new CountDownLatch(1)
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val d = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("")
        seen.add(d)
        if (d == m2) done.countDown()
      }
    }
    def marker(d: String): Unit = {
      sc.setJobDescription(d)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
    }
    sc.addSparkListener(l)
    try {
      marker(m1); f; marker(m2)
      assert(done.await(60, TimeUnit.SECONDS), "listener never saw the closing marker")
      seen.asScala.toSeq.dropWhile(_ != m1).drop(1).takeWhile(_ != m2).size
    } finally sc.removeSparkListener(l)
  }

  /** Jobs per round: the difference between two calls that differ only
    * in their round count, so set-up jobs cancel out. `call(k)` runs
    * `rounds(k)` rounds.
    */
  protected def jobsPerRound(name: String, rounds: Int => Int = k => k)(call: Int => Unit): Double = {
    val (a, b) = (jobsOf(call(1)), jobsOf(call(3)))
    val perRound = (b - a).toDouble / (rounds(3) - rounds(1))
    info(f"$name: $a jobs for ${rounds(1)} rounds, $b for ${rounds(3)} → $perRound%.2f per round")
    perRound
  }

  /** A LinkGraph over vertices 0..n-1 (oid = zero-padded index so dense
    * ranks coincide with indices) from an explicit edge list.
    */
  def graphFrom(n: Int, edges: Seq[(Int, Int)]): LinkGraph = {
    val s = spark
    import s.implicits._
    val vs = (0 until n).map(i => Vertex(i.toLong, f"v$i%06d")).toDS()
    val es = edges.distinct.map { case (a, b) => Edge(a.toLong, b.toLong, 1.0) }.toDS()
    LinkGraph(vs, es)
  }

  /** Deterministic pseudo-random digraph (LCG; no java Random semantics
    * dependence) with n vertices, m edge draws.
    */
  def randomEdges(n: Int, m: Int, seed: Long = 7L): Seq[(Int, Int)] = {
    var x = seed
    def next(): Long = { x = (x * 6364136223846793005L + 1442695040888963407L); x >>> 16 }
    (0 until m).map { _ =>
      val a = (next() % n).toInt.abs
      val b = (next() % n).toInt.abs
      (a, b)
    }.distinct.filter { case (a, b) => a != b }
  }
}
