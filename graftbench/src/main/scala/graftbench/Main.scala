package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{Dataset, Row, SparkSession}

import graft.algos.{CDLP, PageRank, Triangles, WCC}
import graft.engine.CheckpointConfig
import graft.engine.Engine.MetricsLog
import graft.gie.Gremlin
import graft.graph.{GraphBuilder, LinkGraph, PropertyGraph}
import graft.ingest.SnapshotStore
import graft.schema.Turn
import graft.synth.Synth

/** Benchmark driver. One JVM runs one workload: set-up (repeated
  * [[SetupReps]] times), one untimed warm-up pass, then measured passes
  * (see `Workloads.measure`). Every output is checked against a
  * driver-side [[Reference]] outside the timed calls; the CR query rows
  * are written out for the DuckDB twin check that `run.py` does.
  *
  * {{{
  * Main --workload batch|joins --seed N --seconds S --trace 0|1 --out DIR
  * Main --selftest
  * }}}
  */
object Main {

  /** Set-ups per run and workload: the first is cold, the median is
    * reported. batch's set-up (a parquet write) takes under a second, so
    * it runs more of them.
    */
  val SetupReps = Map("batch" -> 5, "joins" -> 3)

  /** Scale and round counts per workload (see README.md for the sizes). */
  object Size {
    val batchSf = 0.001
    val joinsSf = 0.001
    /** PageRank rounds snapshotted (and WCC/CDLP rounds) per batch pass. */
    val rounds = 3
    /** Rounds the resumed PageRank call adds without snapshots: its
      * supersteps are the batch ops.
      */
    val resumeRounds = 14
    /** Supersteps at the start of a call that are left out of the ops:
      * their plans are new to the call (empty or snapshot-read state), so
      * they compile code and read input that the later ones do not.
      */
    val coldSteps = 2
    val joinUsers = 3
  }

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean, out: Path)

  /** Everything a run reports; `run.py` turns it into the result line. */
  final class Result {
    val setupS = mutable.ArrayBuffer.empty[Double]
    val passS = mutable.ArrayBuffer.empty[Double]
    val passTraced = mutable.ArrayBuffer.empty[Boolean]
    val opMs = mutable.ArrayBuffer.empty[Double]
    /** Named per-call timings of the measured passes (details, seconds). */
    val calls = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val counts = mutable.LinkedHashMap.empty[String, Double]
    /** Seconds since JVM start at which each phase of the run ended. */
    val phases = mutable.LinkedHashMap.empty[String, Double]
    def phase(name: String): Unit =
      phases(name) = (System.currentTimeMillis() -
        java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    var attempted = 0
    val failures = mutable.ArrayBuffer.empty[String]
    /** CR query results awaiting the DuckDB twin check. */
    val twins = mutable.LinkedHashMap.empty[String, (String, Seq[String], Seq[Seq[Any]], Int)]

    def call(name: String, s: Double): Unit = calls.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += s
    def check(what: => Option[String]): Unit = {
      attempted += 1
      val r = try what catch { case e: Exception => Some(s"check threw $e") }
      r.foreach(failures += _)
    }
  }

  def main(argv: Array[String]): Unit = {
    if (argv.sameElements(Array("--selftest"))) { SelfTest.main(Array.empty); return }
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String): String = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val o = Opts(need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      Paths.get(need("out")))
    require(Set("batch", "joins")(o.workload), s"unknown workload ${o.workload}")
    require(o.seconds > 0, "--seconds must be positive")
    SelfTest.run() // the benchmark's own arithmetic must hold before it measures anything
    Files.createDirectories(o.out)

    val nproc = Runtime.getRuntime.availableProcessors()
    val tmp = o.out.resolve("tmp")
    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName(s"graftbench-${o.workload}")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.local.dir", tmp.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", tmp.resolve("warehouse").toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val res = new Result
    res.phase("spark_started")
    val tracer = new Tracer(spark.sparkContext, o.trace)
    try {
      val w = new Workloads(spark, o, tmp, tracer, res)
      o.workload match {
        case "batch" => w.batch()
        case "joins" => w.joins()
      }
      tracer.drain()
      res.phase("measured")
      val settings = Map(
        "master" -> s"local[$nproc]",
        "spark.sql.shuffle.partitions" -> nproc.toString,
        "spark.local.dir" -> tmp.resolve("spark-local").toString,
        "max_heap_mb" -> (Runtime.getRuntime.maxMemory / (1 << 20)).toString,
        "spark_version" -> spark.version,
        "java_version" -> System.getProperty("java.version"))
      Report.write(o, res, tracer, settings, nproc)
    } finally spark.stop()
  }
}

/** The two workloads. Each `pass` is the unit that repeats in the
  * measured window; `op` samples are its finer-grained latencies.
  */
final class Workloads(spark: SparkSession, o: Main.Opts, tmp: Path, tracer: Tracer, res: Main.Result) {
  import Main.Size
  import spark.implicits._

  private val rng = new scala.util.Random(o.seed)

  /** First conversation of the window the seed picks (batch). */
  private def window(sf: Double): Long = rng.nextInt(4000).toLong * Synth.nConvs(sf)

  /** The seed's transcript table: conversations [c0, c0 + nConvs(sf)) of
    * the pure [[Synth]] formulas.
    */
  private def turns(sf: Double, c0: Long): Dataset[Turn] =
    spark.range(c0, c0 + Synth.nConvs(sf)).as[Long]
      .flatMap(c => (0L until Synth.turnsPerConv(c).toLong).map(i => Synth.turn(c, i, sf)))

  private def refTurns(sf: Double, c0: Long): Seq[Reference.T] =
    (c0 until c0 + Synth.nConvs(sf)).flatMap { c =>
      (0L until Synth.turnsPerConv(c).toLong).map { i =>
        Reference.T(Synth.convId(c), i.toInt, Synth.role(c, i, sf), Synth.tool(c, i, sf))
      }
    }

  private def collectGraph(g: LinkGraph): (Array[String], Seq[(Long, Long, Double)]) = {
    val vs = g.vertices.collect().sortBy(_.id)
    require(vs.indices.forall(i => vs(i).id == i), "vertex ids are not dense")
    (vs.map(_.oid), g.edges.collect().map(e => (e.src, e.dst, e.weight)).toSeq)
  }

  private def doubles(rows: Array[Row]): Map[Long, Double] = rows.map(r => r.getLong(0) -> r.getDouble(1)).toMap
  private def longs(rows: Array[Row]): Map[Long, Long] = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** Runs one warm-up pass, then measured passes until their wall times
    * add up to `--seconds` (the checks between passes do not count), and
    * at least two, so that a median never rests on one pass.
    * The warm-up is a full pass, so that JIT and Spark codegen caches
    * fill on the same calls and rounds that are measured; its outputs
    * are not checked. In a traced run the measured passes
    * alternate traced and untraced (spans and job attribution on the
    * first, third, ... pass), which gives the tracing overhead as the
    * difference of their medians.
    */
  private def measure(pass: (Boolean, Boolean) => Unit): Unit = {
    res.phase("references")
    pass(false, true)
    res.phase("warmed_up")
    var i = 0
    while (res.passS.sum < o.seconds || res.passS.size < 2) {
      pass(tracer.enabled && i % 2 == 0, false)
      i += 1
    }
  }

  private def span[A](on: Boolean, name: String)(f: Span => A): (A, Double) = tracer.span(name, on)(f)

  /** Runs a set-up [[Main.SetupReps]] times for the workload, timing
    * each, and keeps the last result; `release` frees the earlier ones.
    */
  private def setup[A](name: String, release: A => Unit = (_: A) => ())(f: => A): A = {
    var last: Option[A] = None
    (1 to Main.SetupReps(o.workload)).foreach { _ =>
      last.foreach(release)
      val (a, s) = tracer.span("setup." + name)(_ => f)
      res.setupS += s
      last = Some(a)
    }
    last.get
  }

  // ------------------------------------------------------------------
  // batch: derive the graph from a transcript parquet table, then run
  // the superstep algorithms. PageRank snapshots every round and is then
  // resumed from its latest snapshot by a fresh call that runs
  // `resumeRounds` more rounds without snapshots; WCC (to its fixpoint)
  // and CDLP run without snapshots. An op is a PageRank superstep after
  // the first `coldSteps` of its call.
  // ------------------------------------------------------------------
  def batch(): Unit = {
    val sf = Size.batchSf
    val c0 = window(sf)
    var k = 0
    val dir = setup[String]("input") {
      k += 1
      val d = tmp.resolve(s"turns-$k").toString
      turns(sf, c0).write.mode("overwrite").parquet(d)
      d
    }
    res.phase("set_up")
    val refTs = refTurns(sf, c0)
    val ref = Reference.derive(refTs)
    res.counts("graph.turns") = refTs.size
    res.counts("graph.vertices") = ref.n
    res.counts("graph.edges") = ref.m
    val R = Size.rounds
    val refPrR = Reference.pageRank(ref, R)
    val refPrResumed = Reference.pageRank(ref, R + Size.resumeRounds)
    val refWcc = Reference.wcc(ref)
    val refCdlp = Reference.cdlp(ref, R)
    var p = 0
    measure { (on, warm) =>
      p += 1
      val root = tmp.resolve(s"snap-$p")
      val store = new SnapshotStore(root.toString)
      def ckpt(table: String, every: Int) = Some(CheckpointConfig(store, table, every))
      val Seq(l1, l2, l3, l4) = Seq.fill(4)(new MetricsLog)
      def algo[A](name: String, log: MetricsLog)(f: => Array[A]): (Array[A], Double) =
        span(on, name) { s => val a = f; s.steps ++= log.all.map(_.seconds); a }
      val ((g, size, pr1, pr2, wc, cd), passS) = span(on, "pass") { _ =>
        val ((g, size), dS) = span(on, "graph.derive") { s =>
          val g = GraphBuilder.fromTranscripts(spark.read.parquet(dir)).persist()
          val size = (g.vertices.count(), g.edges.count())
          s.attr("vertices", size._1); s.attr("edges", size._2)
          (g, size)
        }
        val (pr1, s1) = algo("algos.pagerank+snapshot", l1) {
          PageRank.run(g, PageRank.Config(0.85, R), l1, ckpt("pr", 1)).collect() }
        val (pr2, s2) = algo("algos.pagerank+resume", l2) {
          PageRank.run(g, PageRank.Config(0.85, R + Size.resumeRounds), l2, ckpt("pr", 0)).collect() }
        val (wc, s3) = algo("algos.wcc", l3) {
          WCC.run(g, Int.MaxValue, l3).collect() }
        val (cd, s4) = algo("algos.cdlp", l4) { CDLP.run(g, R, l4).collect() }
        if (!warm) {
          res.call("derive_s", dS)
          res.call("pagerank_snapshot_s", s1)
          res.call("pagerank_resume_s", s2)
          res.call("wcc_s", s3)
          res.call("cdlp_s", s4)
          res.call("ckpt_round_s", s1 / l1.iterations)
          res.call("resume_read_s", s2 - l2.totalSeconds)
        }
        (g, size, pr1, pr2, wc, cd)
      }
      // a snapshotted round seen from outside: the gap between two
      // consecutive snapshot commits of one call
      val rounds = Snapshots.rounds(Snapshots.commitTimesMs(root)("pr"), Seq(l1.iterations))
      val snaps = Snapshots.sizes(store, "pr")
      Snapshots.delete(root)
      if (warm) g.unpersist()
      else {
        res.passS += passS; res.passTraced += on
        val steady = l1.all.drop(Size.coldSteps) ++ l2.all.drop(Size.coldSteps)
        res.opMs ++= steady.map(_.seconds * 1e3)
        res.call("pagerank_eps", Stats.median(steady.map(_.edgesPerSec)))
        val stepS = l1.totalSeconds / l1.iterations
        res.call("ckpt_round_wall_s", rounds.sum / rounds.size / 1e3)
        res.call("ingest.round_overhead_s", rounds.sum / rounds.size / 1e3 - stepS)
        res.counts("ingest.snapshots") = snaps.size
        res.counts("ingest.bytes_per_snapshot") = snaps.sum.toDouble / snaps.size
        res.check(if (size == ((ref.n.toLong, ref.m.toLong))) None else Some(s"graph size $size vs reference"))
        if (res.passS.size == 1) { val (oids, es) = collectGraph(g); res.check(Reference.sameGraph(ref, oids, es)) }
        g.unpersist()
        res.check(Reference.close("pagerank@snapshot", doubles(pr1), refPrR))
        res.check(Reference.close("pagerank@resume", doubles(pr2), refPrResumed))
        res.check(Reference.equal("wcc", longs(wc), refWcc))
        res.check(Reference.equal("cdlp", longs(cd), refCdlp))
        res.check(if (l1.iterations == R && l2.iterations == Size.resumeRounds) None
          else Some(s"pagerank ran ${l1.iterations} + ${l2.iterations} rounds, not $R + ${Size.resumeRounds}"))
      }
    }
  }

  // ------------------------------------------------------------------
  // joins: a closed loop of one client sending Gremlin queries (LDBC CR
  // shapes and 1/2-hop counts), one triangle count between batches.
  // ------------------------------------------------------------------
  def joins(): Unit = {
    val sf = Size.joinsSf
    val (pg, lg) = setup[(PropertyGraph, LinkGraph)]("graph", { case (p, l) =>
      p.vertices.unpersist(); p.edges.unpersist(); l.unpersist() }) {
      val (pg, _) = tracer.span("graph.derive") { _ =>
        val p = PropertyGraph.fromTranscripts(Synth.transcripts(spark, sf).toDF)
        val pp = PropertyGraph(p.vertices.persist(), p.edges.persist())
        pp.edges.count(); pp
      }
      val (lg, _) = tracer.span("graph.flatten") { s =>
        val g = pg.flatten.persist()
        s.attr("edges", g.edges.count().toDouble)
        s.attr("vertices", g.vertices.count().toDouble)
        g
      }
      (pg, lg)
    }
    res.phase("set_up")
    val refTs = refTurns(sf, 0L)
    val ref = Reference.derive(refTs)
    res.counts("graph.turns") = refTs.size
    locally { val (oids, es) = collectGraph(lg); res.check(Reference.sameGraph(ref, oids, es)) }
    val refTri = Reference.triangles(ref)
    val queries = Queries.pick(rng, sf, Size.joinUsers)
    val seen = mutable.Map.empty[String, Seq[Seq[Any]]]
    var p = 0
    measure { (on, warm) =>
      val batch = queries(p % queries.size)
      p += 1
      val ((answers, tri), passS) = span(on, "pass") { _ =>
        val answers = batch.map { q =>
          val ((rows, cols, planS), qS) = span(on, "gie.query") { _ =>
            val (df, planS) = span(on, "gie.plan") { _ =>
              if (q.labeled) Gremlin.run(pg, q.text) else Gremlin.run(lg, q.text)
            }
            val (rows, _) = span(on, "gie.exec") { s => val r = df.collect(); s.attr("rows", r.length); r }
            (rows.toSeq.map(_.toSeq), df.columns.toSeq, planS)
          }
          if (!warm) {
            res.opMs += qS * 1e3
            res.call("gie_plan_s", planS)
            res.call(s"gie.${q.shape}_s", qS)
          }
          (q, rows, cols)
        }
        val (tri, tS) = span(on, "algos.triangles") { _ => Triangles.run(lg).collect() }
        if (!warm) res.call("triangles_s", tS)
        (answers, tri)
      }
      if (!warm) {
        res.passS += passS; res.passTraced += on
        answers.foreach { case (q, rows, cols) =>
          q.expectCount match {
            case Some(count) =>
              val n = count(ref)
              res.check(if (rows == Seq(Seq(n))) None else Some(s"${q.key}: got $rows, reference $n"))
            case None =>
              // equal rows for equal keys here; the first rows of each key
              // go to the DuckDB twin check
              seen.get(q.key) match {
                case Some(prev) => res.check(if (prev == rows) None else Some(s"${q.key}: rows changed between runs"))
                case None => seen(q.key) = rows; res.attempted += 1
              }
              val n = res.twins.get(q.key).map(_._4).getOrElse(0)
              res.twins(q.key) = (q.twinSql, cols, seen(q.key), n + 1)
          }
        }
        res.check(Reference.equal("triangles", longs(tri), refTri))
      }
    }
    res.counts("graph.vertices") = ref.n
    res.counts("graph.edges") = ref.m
  }
}
