package graft

import java.nio.file.Files

import scala.language.implicitConversions

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.Engine
import graft.gie.Gremlin
import graft.graph.{LinkGraph, PropertyGraph}
import graft.synth.Synth

/** A query's DuckDB twin. `probe` is set when the twin unrolls a
  * fixpoint: the twin at its baked round count and at one round more,
  * which `tools/check_convergence.py` asserts give the same result.
  */
final case class Twin(sql: String, probe: Option[(String, String)] = None)

object Twin {
  implicit def plain(sql: String): Twin = Twin(sql)

  /** A fixpoint twin unrolled `k` rounds; its probe pairs `k` with `k + 1`.
    * Twins whose round count is the algorithm's input rather than a
    * convergence horizon (fixed-round PageRank/CDLP/eigen/Katz/HITS/LPA,
    * Louvain sweep counts) are plain.
    */
  def unrolled(k: Int)(at: Int => String): Twin = {
    val sql = at(k)
    Twin(sql, Some((sql, at(k + 1))))
  }
}

/** One driver query: its name, its Spark run over a data dir, and the
  * DuckDB twin whose result it must hash-match.
  */
final case class Case(name: String, run: (SparkSession, String) => DataFrame, twin: Twin)

/** Cases in declaration order, indexed by name. Building one with a
  * duplicate name throws: a name must select exactly one query.
  */
final class Registry(val cases: Seq[Case]) {
  val byName: Map[String, Case] = cases.foldLeft(Map.empty[String, Case]) { (m, c) =>
    require(!m.contains(c.name), s"duplicate query name: ${c.name}")
    m.updated(c.name, c)
  }
}

/** Constructors for the repeated query shapes, and the helpers they share. */
object Case {
  def query(name: String, twin: Twin)(run: (SparkSession, String) => DataFrame): Case =
    Case(name, run, twin)

  /** A query over the data dir's transcript-derived graph. */
  def graph(name: String, twin: Twin)(run: LinkGraph => DataFrame): Case =
    query(name, twin)((s, dir) => run(SparkEntry.graphFor(s, dir)))

  /** Per-vertex values `(id, cols…)` reported by oid. */
  def perVertex(name: String, twin: Twin, cols: String*)(values: LinkGraph => DataFrame): Case =
    graph(name, twin)(g => withOid(g, values(g), cols: _*))

  /** Per-vertex floating-point values, rounded to 6 decimals on both sides. */
  def rounded(name: String, twin: Twin, cols: String*)(values: LinkGraph => DataFrame): Case =
    graph(name, twin)(g => roundedByOid(g, values(g), cols: _*))

  /** A Gremlin traversal over the derived graph. */
  def gremlin(name: String, twin: Twin, traversal: String): Case =
    graph(name, twin)(Gremlin.run(_, traversal))

  /** A Gremlin traversal over the multi-label property graph. */
  def labeledGremlin(name: String, twin: Twin, traversal: String): Case =
    query(name, twin)((s, dir) => Gremlin.run(propertyGraph(s, dir), traversal))

  /** A query that writes under a scratch dir of its own: see [[withScratch]]. */
  def scratch(name: String, twin: Twin, prefix: String)(
      body: (SparkSession, String, String) => DataFrame): Case =
    query(name, twin)((s, dir) => withScratch(prefix)(body(s, dir, _)))

  /** Runs `body` against a fresh temp dir and materializes its result
    * with an eager checkpoint, so the dir can go before the frame is
    * returned. The dir is deleted whether or not `body` succeeds.
    */
  def withScratch(prefix: String)(body: String => DataFrame): DataFrame = {
    val tmp = Files.createTempDirectory(prefix)
    try {
      val out = Engine.checkpoint(body(tmp.toString))
      out.rdd.count()
      out
    } finally FileUtils.deleteDirectory(tmp.toFile)
  }

  def withOid(g: LinkGraph, result: DataFrame, valueCols: String*): DataFrame =
    result.join(g.vertices.toDF, Seq("id"))
      .select(col("oid") +: valueCols.map(col): _*)

  def roundedByOid(g: LinkGraph, result: DataFrame, valueCols: String*): DataFrame =
    withOid(g, result.select(col("id") +: valueCols.map(c => round(col(c), 6).as(c)): _*),
      valueCols: _*)

  def table(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  def transcripts(s: SparkSession, dir: String): DataFrame =
    Synth.transcripts(s, Synth.sfOfDir(dir)).toDF

  def propertyGraph(s: SparkSession, dir: String): PropertyGraph =
    PropertyGraph.fromTranscripts(transcripts(s, dir))

  /** Money-exact aggregation helper: DECIMAL(18,4) in, double out. */
  def dec(c: Column): Column = c.cast("decimal(18,4)")
}
