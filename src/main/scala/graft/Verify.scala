package graft
import java.util.concurrent.{ConcurrentHashMap, Executors, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each registered query's result →
  * parquet, plus oracle_sql.json, convergence_sql.json and a per-query
  * verify_report.json, for the driver's DuckDB compare.
  *
  * Queries run CONCURRENTLY (SPARK_GRAFT_VERIFY_PAR threads, default
  * cpus/2): the surface is ~150 queries whose iterative fixpoints are
  * driver-latency-bound at sf0.01, so sequential execution left most
  * cores idle (measured ~25 min at 8 cores; rounds 3-4 outran the
  * harness window and shipped empty CORRECTNESS artifacts). Concurrency
  * safety: the derived graph is pre-warmed once before the pool starts
  * (the TrieMap memo would otherwise derive it once per racing thread),
  * every scratch path is per-invocation (`Files.createTempDirectory`),
  * and the session conf is FROZEN (graft.aqe.freeze) so
  * `Engine.withoutAQE`'s save/restore pairs — which would race across
  * threads on the shared session conf — become no-ops: AQE stays ON for
  * the whole run. AQE never changes results, but it does change loop
  * plans (checkpointed edge tables lose their hash partitioning), so a
  * query's `wall_s` here is not its AQE-off time elsewhere.
  */
object Verify {
  /** Longest-first submission: the multi-superstep fixpoints dominate
    * the makespan — submitted last they strand the pool on one or two
    * stragglers for the final minutes (measured: the two PageRank
    * sweeps alone held the round-5 run open ~6 min after everything
    * else drained).
    */
  val slowFirst: Seq[String] = Seq(
    "tg_ppr", "tg_ppr_sparse", "tg_pagerank_tol", "tg_pagerank",
    "tg_gremlin_pagerank_step", "tg_betweenness", "tg_closeness_all",
    "tg_louvain", "tg_closeness", "tg_kshell", "tg_wcc",
    "tg_gremlin_cc_step", "tg_apsp", "tg_has_path", "tg_eigen",
    "tg_katz", "tg_sssp")

  /** Names in the query filter or in [[slowFirst]] that no case declares. */
  def unknownNames(filter: Seq[String]): Seq[String] =
    (filter ++ slowFirst).distinct.filterNot(SparkEntry.registry.byName.contains)

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query-name filter (dev iteration)
    val only: Option[Seq[String]] = args.lift(2).map(_.split(",").toSeq)
    val unknown = unknownNames(only.getOrElse(Nil))
    if (unknown.nonEmpty) {
      System.err.println(s"[verify] unknown query names: ${unknown.mkString(", ")}")
      sys.exit(2)
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val par = sys.env.get("SPARK_GRAFT_VERIFY_PAR").map(_.toInt)
      .getOrElse(math.max(2, cpus.toInt / 2))
    sys.props("graft.aqe.freeze") = "true"
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val rank = slowFirst.zipWithIndex.toMap
    val todo = SparkEntry.registry.cases
      .filter(c => only.forall(_.contains(c.name)))
      .sortBy(c => rank.getOrElse(c.name, Int.MaxValue))
    // pre-warm the shared derived graph (and its persist) on the main
    // thread so the pool's first wave doesn't race the memoization
    if (todo.exists(_.name.startsWith("tg_"))) {
      val g = SparkEntry.graphFor(spark, sfDir)
      g.edges.toDF.count()
    }
    val t0 = System.nanoTime()
    val pool = Executors.newFixedThreadPool(par)
    // name → (wall seconds, error message if the query failed)
    val results = new ConcurrentHashMap[String, (Double, Option[String])]()
    todo.foreach { c =>
      pool.submit(new Runnable {
        def run(): Unit = {
          val start = System.nanoTime()
          val error =
            try {
              c.run(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/${c.name}")
              None
            } catch { case e: Throwable =>
              System.err.println(s"[verify] ${c.name} failed: ${e.getMessage}")
              Some(e.toString)
            }
          results.put(c.name, ((System.nanoTime() - start) / 1e9, error))
        }
      })
    }
    pool.shutdown()
    pool.awaitTermination(4, TimeUnit.HOURS)
    val failures = todo.map(_.name).filterNot(n => results.asScala.get(n).exists(_._2.isEmpty))
    System.err.println(f"[verify] ${todo.size - failures.size}/${todo.size} queries dumped " +
      f"in ${(System.nanoTime() - t0) / 1e9}%.1f s (par=$par, cpus=$cpus)")
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // k vs k+1 probes for the fixed-unroll fixpoint oracles, asserted
    // by tools/check_convergence.py (automated replacement for the
    // manual convergence re-check after generator changes)
    val conv = SparkEntry.convergenceSql
      .map { case (k, (a, b)) => s"${q(k)}: [${q(a)}, ${q(b)}]" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/convergence_sql.json"), conv)
    // one record per query; a query still running at the timeout has
    // no result and reports "unfinished"
    def wallS(x: Double) = "\"wall_s\": " + String.format(java.util.Locale.ROOT, "%.3f", Double.box(x))
    val report = todo.map(_.name).sorted.map { name =>
      val fields = results.asScala.get(name) match {
        case Some((wall, None)) => Seq("\"status\": \"ok\"", wallS(wall))
        case Some((wall, Some(err))) => Seq("\"status\": \"failed\"", wallS(wall), s"\"error\": ${q(err)}")
        case None => Seq("\"status\": \"unfinished\"")
      }
      (s"\"name\": ${q(name)}" +: fields).mkString("{", ", ", "}")
    }.mkString("[\n", ",\n", "\n]\n")
    Files.writeString(Paths.get(s"$outDir/verify_report.json"), report)
    spark.stop()
    if (failures.nonEmpty) {
      System.err.println(s"[verify] FAILED: ${failures.sorted.mkString(", ")}")
      sys.exit(1)
    }
  }
}
