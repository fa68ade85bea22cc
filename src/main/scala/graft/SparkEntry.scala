package graft

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.algos.PageRank
import graft.cases.{DataCases, GraphCases, GremlinCases, MediaCases, RelationalCases, VectorCases}
import graft.graph.{GraphBuilder, LinkGraph}
import graft.synth.Synth

/** Driver contract — see SURVEY.md §7.
  *
  * Query surface, two planes:
  *  - `tg_*`: the north-rule core — transcripts are synthesized
  *    deterministically ([[Synth]]) at the scale factor implied by the
  *    data dir, the link graph is derived, and the GraphScope-equivalent
  *    algorithms run on it. The DuckDB oracles re-generate the identical
  *    table in SQL ([[graft.synth.SynthSql]]) and unroll the same
  *    recurrences, so these are full-value checks, not rows-only.
  *  - `q_*`: relational/dataflow plane over the driver's parquet tables —
  *    the GIE operator algebra mapped to Spark (SURVEY.md §2.C: Scan,
  *    Select, Project, GroupBy aggregates, OrderBy+TopK, Dedup, Unfold,
  *    Join kinds, Apply), each with an ANSI-SQL oracle.
  *
  * Each query is declared once, as a [[Case]] in one of the per-plane
  * files under `graft.cases`; [[registry]] collects them, and `queries`,
  * `oracleSql` and `convergenceSql` are views over it.
  *
  * Cross-engine float discipline: money aggregates go through
  * DECIMAL(18,4) (exact, order-independent) and only the final value is
  * cast back to double; iterative PageRank ranks are rounded to 6
  * decimals on both sides (the BASELINE tolerance is 1e-6).
  */
object SparkEntry {

  /** Verification scale — the driver's DuckDB stage runs on sf0.01; the
    * static oracle SQL is generated for the same sf the Spark side
    * derives from the dir name.
    */
  private[graft] val OracleSf = 0.01
  private[graft] val PrRounds = 10
  private[graft] val CdlpRounds = 10

  private val graphCache = TrieMap.empty[(SparkSession, Double), LinkGraph]

  /** Transcript-derived graph for the given data dir (memoized per
    * (session, sf) — keying only by sf would hand a later, different
    * SparkSession Datasets bound to a stopped session).
    */
  def graphFor(spark: SparkSession, dir: String): LinkGraph = {
    val sf = Synth.sfOfDir(dir)
    // drop entries bound to stopped sessions so long-lived drivers (the
    // test JVM) don't accumulate dead LinkGraphs across sessions
    graphCache.keys.foreach { k =>
      if (k._1.sparkContext.isStopped) graphCache.remove(k)
    }
    graphCache.getOrElseUpdate((spark, sf), {
      val g = GraphBuilder.fromTranscripts(Synth.transcripts(spark, sf).toDF)
      g.persist()
      g
    })
  }

  /** Flagship query on sf=0.001-equivalent scale; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    val g = graphFor(spark, "sf0.001")
    Case.withOid(g, PageRank.run(g, PageRank.Config(0.85, PrRounds)).withColumnRenamed("rank", "pr"), "pr")
  }

  lazy val registry: Registry = new Registry(
    GraphCases.cases ++ RelationalCases.cases ++ GremlinCases.cases ++
      DataCases.cases ++ VectorCases.cases ++ MediaCases.cases)

  def queries: Map[String, (SparkSession, String) => DataFrame] = registry.byName.map { case (n, c) => n -> c.run }

  def oracleSql: Map[String, String] = registry.byName.map { case (n, c) => n -> c.twin.sql }

  def convergenceSql: Map[String, (String, String)] =
    registry.cases.flatMap(c => c.twin.probe.map(c.name -> _)).toMap
}
