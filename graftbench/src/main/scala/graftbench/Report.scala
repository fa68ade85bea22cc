package graftbench

import java.nio.file.Files

import scala.collection.mutable

/** Turns a finished run into `result.json` (what `run.py` reports) and,
  * for a traced run, `trace.json` (every span and the per-layer table).
  */
object Report {

  private val MB = 1024.0 * 1024.0

  def write(o: Main.Opts, res: Main.Result, tr: Tracer, settings: Map[String, String], nproc: Int): Unit = {
    val ops = res.opMs.toSeq
    val p50 = Stats.pct(ops, 0.5)
    val p90 = Stats.pct(ops, 0.9)
    val tail = Stats.tailPct(ops)
    val e2e = mutable.LinkedHashMap[String, Double](
      "setup_s" -> Stats.median(res.setupS.toSeq),
      "pass_s" -> Stats.median(res.passS.toSeq),
      "op_p50_ms" -> p50.value,
      "op_p90_ms" -> p90.value,
      "peak_rss_mb" -> peakRssMb)
    val details = res.calls.map { case (k, v) => k -> Stats.median(v.toSeq) }
    val layers = if (tr.enabled) perLayer(res, tr, nproc) else Map.empty[String, Double]
    val out = mutable.LinkedHashMap[String, Any](
      "workload" -> o.workload, "seed" -> o.seed, "seconds" -> o.seconds, "trace" -> o.trace,
      "attempted" -> res.attempted, "failures" -> res.failures.toSeq,
      "e2e" -> e2e,
      "samples" -> Map(
        "setup_s" -> res.setupS.toSeq, "pass_s" -> res.passS.toSeq, "op_ms" -> ops,
        "op_p50" -> Map("n" -> p50.n, "beyond" -> p50.beyond),
        "op_p90" -> Map("n" -> p90.n, "beyond" -> p90.beyond),
        "op_tail" -> Map("q" -> tail.q, "value" -> tail.value, "n" -> tail.n, "beyond" -> tail.beyond)),
      "details" -> details,
      "counts" -> res.counts,
      "phases" -> res.phases,
      "per_layer" -> layers,
      "settings" -> settings,
      "twins" -> res.twins.toSeq.map { case (k, (sql, cols, rows, n)) =>
        Map("key" -> k, "sql" -> sql, "columns" -> cols, "rows" -> rows, "executions" -> n)
      })
    Files.writeString(o.out.resolve("result.json"), Json.of(out))
    if (tr.enabled) Files.writeString(o.out.resolve("trace.json"), Json.of(Map(
      "spans" -> tr.spans.toSeq.map { s =>
        val w = tr.work(s)
        Map("id" -> s.id, "trace" -> s.traceId, "parent" -> s.parent, "name" -> s.name,
          "start_ms" -> s.start, "end_ms" -> s.end,
          "self_s" -> Stats.selfTime(s.start, s.end, tr.children(s).map(c => (c.start, c.end))) / 1e3,
          "jobs" -> w.map(_.jobs.size).sum, "attrs" -> s.attrs)
      },
      "layers" -> layerTable(tr, nproc))))
  }

  /** VmHWM of this JVM, in MB. */
  def peakRssMb: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)

  /** Aggregate of a group of spans (each with the Spark work under it). */
  final case class Agg(n: Int, wallS: Double, selfS: Double, jobs: Int, tasks: Long, shuffleWriteMb: Double,
      spillMb: Double, outputMb: Double, peakExecMemMb: Double, driverGapS: Double, writeS: Double,
      cpuUtil: Double, gcS: Double, supersteps: Int, stepS: Seq[Double])

  def agg(tr: Tracer, ss: Seq[Span], nproc: Int): Agg = {
    def sum(f: Span => Double) = ss.map(f).sum
    val works = ss.map(s => s -> tr.work(s))
    val wall = sum(_.wallS)
    Agg(
      n = ss.size, wallS = wall,
      selfS = sum(s => Stats.selfTime(s.start, s.end, tr.children(s).map(c => (c.start, c.end)))) / 1e3,
      jobs = works.map(_._2.map(_.jobs.size).sum).sum,
      tasks = works.map(_._2.map(_.tasks).sum).sum,
      shuffleWriteMb = works.map(_._2.map(_.shuffleWriteB).sum).sum / MB,
      spillMb = works.map(_._2.map(_.spillB).sum).sum / MB,
      outputMb = works.map(_._2.map(_.outputB).sum).sum / MB,
      peakExecMemMb = (0L +: works.flatMap(_._2.map(_.peakExecMemB))).max / MB,
      driverGapS = works.map { case (s, w) => Stats.driverGap(s.start, s.end, w.flatMap(_.jobIntervals)) }.sum / 1e3,
      writeS = works.map { case (s, w) => Stats.coveredWithin(s.start, s.end, w.flatMap(_.outputJobIntervals)) }.sum / 1e3,
      cpuUtil = if (wall > 0) sum(_.cpuS) / (wall * nproc) else 0.0,
      gcS = sum(_.gcS),
      supersteps = ss.map(_.steps.size).sum,
      stepS = ss.flatMap(_.steps))
  }

  /** One row per span name: what each layer boundary cost. */
  def layerTable(tr: Tracer, nproc: Int): Map[String, Map[String, Double]] =
    tr.spans.toSeq.groupBy(_.name).map { case (name, ss) =>
      val a = agg(tr, ss, nproc)
      val row = mutable.LinkedHashMap[String, Double](
        "spans" -> a.n, "wall_s" -> a.wallS, "self_s" -> a.selfS, "jobs" -> a.jobs, "tasks" -> a.tasks.toDouble,
        "shuffle_write_mb" -> a.shuffleWriteMb, "spill_mb" -> a.spillMb, "output_mb" -> a.outputMb,
        "peak_exec_mem_mb" -> a.peakExecMemMb, "driver_gap_s" -> a.driverGapS, "write_s" -> a.writeS,
        "cpu_util" -> a.cpuUtil, "gc_s" -> a.gcS)
      if (a.supersteps > 0) {
        row("supersteps") = a.supersteps
        row("prep_s") = a.wallS - a.stepS.sum
        row("superstep_p50_s") = Stats.median(a.stepS)
        row("superstep_max_s") = a.stepS.max
        row("shuffle_write_mb_per_superstep") = a.shuffleWriteMb / a.supersteps
        row("jobs_per_superstep") = a.jobs.toDouble / a.supersteps
      }
      name -> row.toMap
    }

  /** Per-layer metrics that every workload exercises, from its traced
    * spans: graph derivation, the algorithm calls, and the pass as a
    * whole. Layer-specific rows are in `trace.json`.
    */
  def perLayer(res: Main.Result, tr: Tracer, nproc: Int): Map[String, Double] = {
    val byName = tr.spans.toSeq.groupBy(_.name)
    val derive = byName.getOrElse("graph.derive", Seq.empty)
    val d = derive.map(s => agg(tr, Seq(s), nproc))
    val passes = byName.getOrElse("pass", Seq.empty)
    val np = math.max(1, passes.size)
    val algos = agg(tr, tr.spans.toSeq.filter(_.name.startsWith("algos.")), nproc)
    val pass = agg(tr, passes, nproc)
    def med(f: Agg => Double) = if (d.isEmpty) 0.0 else Stats.median(d.map(f))
    val traced = res.passS.zip(res.passTraced).filter(_._2).map(_._1).toSeq
    val plain = res.passS.zip(res.passTraced).filterNot(_._2).map(_._1).toSeq
    val overheadPct =
      if (traced.isEmpty || plain.isEmpty) 0.0 else (Stats.median(traced) / Stats.median(plain) - 1.0) * 100.0
    Map(
      "graph.derive_s" -> med(_.wallS),
      "graph.turns_per_s" -> res.counts.getOrElse("graph.turns", 0.0) / med(_.wallS),
      "graph.shuffle_write_mb" -> med(_.shuffleWriteMb),
      "graph.jobs" -> med(_.jobs.toDouble),
      "graph.vertices" -> res.counts.getOrElse("graph.vertices", 0.0),
      "graph.edges" -> res.counts.getOrElse("graph.edges", 0.0),
      "algos.wall_s_per_pass" -> algos.wallS / np,
      "algos.jobs_per_pass" -> algos.jobs.toDouble / np,
      "algos.tasks_per_pass" -> algos.tasks.toDouble / np,
      "algos.shuffle_write_mb_per_pass" -> algos.shuffleWriteMb / np,
      "algos.driver_gap_s_per_pass" -> algos.driverGapS / np,
      "algos.cpu_util" -> algos.cpuUtil,
      "algos.gc_s_per_pass" -> algos.gcS / np,
      "pass.jobs" -> pass.jobs.toDouble / np,
      "pass.driver_gap_s" -> pass.driverGapS / np,
      "ops" -> res.opMs.size.toDouble,
      "trace.spans" -> tr.spans.size.toDouble,
      "trace.overhead_pct" -> overheadPct)
  }
}

/** Minimal JSON writer for the report (maps, sequences, strings, numbers). */
object Json {
  def of(x: Any): String = x match {
    case null | None => "null"
    case Some(v) => of(v)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case n: java.math.BigDecimal => n.toPlainString
    case m: scala.collection.Map[_, _] => m.map { case (k, v) => quote(k.toString) + ":" + of(v) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(of).mkString("[", ",", "]")
    case a: Array[_] => of(a.toSeq)
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
