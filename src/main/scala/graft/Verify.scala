package graft
import java.util.concurrent.{ConcurrentLinkedQueue, Executors, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
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
  * the whole run, exactly the sequential judge-run environment. (AQE
  * never changes results; and a graph cache materialized under AQE-off
  * broke cached-plan substitution for the then persist-chained PageRank
  * states — measured 19.5 s → 6+ min — so ON is also the fast setting.)
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query-name filter (dev iteration)
    val only: Option[Set[String]] = args.lift(2).map(_.split(",").toSet)
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
    // longest-first submission: the multi-superstep fixpoints dominate
    // the makespan — submitted last they strand the pool on one or two
    // stragglers for the final minutes (measured: the two PageRank
    // sweeps alone held the round-5 run open ~6 min after everything
    // else drained)
    val slowFirst = Seq(
      "tg_ppr", "tg_ppr_sparse", "tg_pagerank_tol", "tg_pagerank",
      "tg_gremlin_pagerank_step", "tg_betweenness", "tg_closeness_all",
      "tg_louvain", "tg_closeness", "tg_kshell", "tg_wcc",
      "tg_gremlin_cc_step", "tg_apsp", "tg_has_path", "tg_eigen",
      "tg_katz", "tg_sssp").zipWithIndex.toMap
    val todo = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .toSeq.sortBy { case (name, _) => slowFirst.getOrElse(name, Int.MaxValue) }
    // pre-warm the shared derived graph (and its persist) on the main
    // thread so the pool's first wave doesn't race the memoization
    if (todo.exists(_._1.startsWith("tg_"))) {
      val g = SparkEntry.graphFor(spark, sfDir)
      g.edges.toDF.count()
    }
    val t0 = System.nanoTime()
    val pool = Executors.newFixedThreadPool(par)
    val failures = new ConcurrentLinkedQueue[String]()
    todo.foreach { case (name, fn) =>
      pool.submit(new Runnable {
        def run(): Unit =
          try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          catch { case e: Throwable =>
            failures.add(name)
            System.err.println(s"[verify] $name failed: ${e.getMessage}")
          }
      })
    }
    pool.shutdown()
    if (!pool.awaitTermination(4, TimeUnit.HOURS)) failures.add("(timed out)")
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
    spark.stop()
    if (!failures.isEmpty) {
      System.err.println(s"[verify] FAILED: ${failures.asScala.toSeq.sorted.mkString(", ")}")
      sys.exit(1)
    }
  }
}
