package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}

/** Process-wide clocks shared by spans and the job listener: wall time in
  * epoch milliseconds (the unit Spark's listener events carry), process
  * CPU time and cumulative JVM GC time.
  */
object Clock {
  private val offsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def nowMs: Double = (System.nanoTime() + offsetNs) / 1e6

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuS: Double = os.getProcessCpuTime / 1e9
  def gcS: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum / 1e3
}

/** One benchmark-side span: a call into a layer, timed from outside. */
final class Span(
    val id: Long,
    val traceId: Long,
    val parent: Long, // 0 for a root span
    val name: String,
    val start: Double) {
  var end: Double = Double.NaN
  var cpuS: Double = 0.0
  var gcS: Double = 0.0
  val attrs: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  /** Superstep seconds the engine reported for this call, if any. */
  val steps: mutable.ArrayBuffer[Double] = mutable.ArrayBuffer.empty
  def wallS: Double = (end - start) / 1e3
  def attr(k: String, v: Double): Unit = attrs(k) = v
}

/** Spark work attributed to one span: job intervals and task metrics. */
final class SpanWork {
  val jobs: mutable.Map[Int, (Double, Double)] = mutable.Map.empty
  var tasks = 0L
  var shuffleWriteB = 0L
  var spillB = 0L
  var outputB = 0L
  var peakExecMemB = 0L
  /** Jobs that wrote output (snapshot or table writes). */
  val outputJobs: mutable.Set[Int] = mutable.Set.empty
  def jobIntervals: Seq[(Double, Double)] = jobs.values.toSeq
  def outputJobIntervals: Seq[(Double, Double)] = outputJobs.toSeq.flatMap(jobs.get)
}

/** Attributes Spark jobs, and the tasks of their stages, to the span that
  * was innermost on the submitting thread. The benchmark sets the span id
  * as a local property before each call; Spark copies local properties
  * into every job it submits from that thread. Registered only in a
  * traced run.
  */
final class JobListener extends SparkListener {
  private val jobSpan = new ConcurrentHashMap[Int, java.lang.Long]()
  private val stageSpan = new ConcurrentHashMap[Int, java.lang.Long]()
  private val stageJob = new ConcurrentHashMap[Int, Integer]()
  val work = new ConcurrentHashMap[Long, SpanWork]()
  private val markerJobs = new ConcurrentHashMap[Int, String]()
  /** Token of the last marker job whose end was seen (see [[Tracer.drain]]). */
  @volatile var lastMarker: String = ""

  private def of(span: Long): SpanWork = work.computeIfAbsent(span, _ => new SpanWork)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    props.flatMap(p => Option(p.getProperty(Tracer.MarkerKey))).foreach(markerJobs.put(e.jobId, _))
    props.flatMap(p => Option(p.getProperty(Tracer.SpanKey))).foreach { s =>
      val span = s.toLong
      jobSpan.put(e.jobId, span)
      e.stageIds.foreach { st => stageSpan.putIfAbsent(st, span); stageJob.putIfAbsent(st, e.jobId) }
      val w = of(span)
      w.synchronized { w.jobs(e.jobId) = (e.time.toDouble, Double.NaN) }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Option(markerJobs.remove(e.jobId)).foreach(t => lastMarker = t)
    Option(jobSpan.get(e.jobId)).foreach { span =>
      val w = of(span)
      w.synchronized { w.jobs.get(e.jobId).foreach { case (s, _) => w.jobs(e.jobId) = (s, e.time.toDouble) } }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    Option(stageSpan.get(e.stageId)).filter(_ => m != null).foreach { span =>
      val w = of(span)
      w.synchronized {
        w.tasks += 1
        w.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
        w.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
        w.outputB += m.outputMetrics.bytesWritten
        if (m.outputMetrics.bytesWritten > 0) Option(stageJob.get(e.stageId)).foreach(j => w.outputJobs += j.intValue)
        w.peakExecMemB = math.max(w.peakExecMemB, m.peakExecutionMemory)
      }
    }
  }

}

object Tracer {
  val SpanKey = "graftbench.span"
  val MarkerKey = "graftbench.marker"
}

/** Benchmark-side spans around calls into the engine's modules. With
  * tracing off a span only measures its wall time; with tracing on it is
  * recorded (name, start, end, parent, trace id), and the span id rides
  * the calling thread's Spark local property so [[JobListener]] can
  * attribute jobs to it.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private val ids = new AtomicLong(0L)
  private val stack = mutable.ArrayBuffer.empty[Span]
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  val listener: Option[JobListener] =
    if (enabled) { val l = new JobListener; sc.addSparkListener(l); Some(l) } else None

  /** Runs `f` inside a span and returns its result with the span's wall
    * seconds. Only a recorded span (tracing on and `record`) is kept and
    * attributes Spark jobs; spans on one thread nest, and a span opened
    * with none open starts a new trace.
    */
  def span[A](name: String, record: Boolean = true)(f: Span => A): (A, Double) = {
    val on = enabled && record
    val parent = stack.lastOption
    val id = if (on) ids.incrementAndGet() else 0L
    val s = new Span(id, parent.map(_.traceId).getOrElse(id), parent.map(_.id).getOrElse(0L), name, Clock.nowMs)
    val cpu0 = if (on) Clock.cpuS else 0.0
    val gc0 = if (on) Clock.gcS else 0.0
    val prevProp = sc.getLocalProperty(Tracer.SpanKey)
    if (on) { stack += s; sc.setLocalProperty(Tracer.SpanKey, id.toString) }
    val t0 = System.nanoTime()
    try {
      val a = f(s)
      (a, (System.nanoTime() - t0) / 1e9)
    } finally {
      s.end = s.start + (System.nanoTime() - t0) / 1e6
      if (on) {
        s.cpuS = Clock.cpuS - cpu0
        s.gcS = Clock.gcS - gc0
        stack.remove(stack.size - 1)
        sc.setLocalProperty(Tracer.SpanKey, prevProp)
        spans += s
      }
    }
  }

  /** Waits until the listener has seen every event posted so far: runs a
    * one-task marker job and waits for its end event, which the listener
    * bus delivers after all earlier events.
    */
  def drain(timeoutS: Double = 30.0): Unit = listener.foreach { l =>
    val token = s"m${System.nanoTime()}"
    val prev = sc.getLocalProperty(Tracer.MarkerKey)
    sc.setLocalProperty(Tracer.MarkerKey, token)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(Tracer.MarkerKey, prev)
    val deadline = System.nanoTime() + (timeoutS * 1e9).toLong
    while (l.lastMarker != token && System.nanoTime() < deadline) Thread.sleep(5)
  }

  def children(s: Span): Seq[Span] = spans.filter(_.parent == s.id).toSeq

  def descendants(s: Span): Seq[Span] = children(s).flatMap(c => c +: descendants(c))

  /** Spark work of a span and all spans under it. */
  def work(s: Span): Seq[SpanWork] =
    (s +: descendants(s)).flatMap(x => listener.flatMap(l => Option(l.work.get(x.id))))
}
