package graft.ml

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.graph.LinkGraph

/** GSL — the learning engine's Graph Sampling Language front-end
  * (reference `docs/reference/gnn_engine/gsl_en.rst`: SOURCE
  * `V()[.shuffle()][.batch(n)]`, STEP `outV().sample(f).by(strategy)` /
  * `outNeg().sample(f).by('random'|'in_degree')`, SINK = the sampled elements).
  * A GSL query describes a GNN mini-batch data stream:
  *
  * {{{
  * g.V().shuffle().batch(6).outV().sample(2).by('topk')
  *      .outNeg().sample(3).by('random')
  * }}}
  *
  * Deterministic analogs of the reference's random machinery (the
  * engine-wide no-`rand()` rule): `shuffle()` orders the source by the
  * portable hash of the oid (a fixed pseudo-random permutation) instead
  * of an RNG; `batch(n)` takes the first n in that order (the
  * `by_order` node_sampler batch); strategies `random` /
  * `random_without_replacement` / `topk` / `full` lower onto the
  * [[NeighborSample]] machinery (slot-hash argmin; salted two-phase
  * top-k — never a hub window) and `outNeg()` onto [[NegativeSample]]
  * (bounded rejection draws over the dense id space). Per-hop salts
  * follow [[NeighborSample.hopSalt]], so every draw is reproducible and
  * the whole stream has an exact DuckDB twin (`SynthSql7.gslSql`).
  *
  * Sink shape: (seed_oid, hop, parent_oid, child_oid, pos, kind) —
  * hop 1-based along the chain, pos = slot (random/neg) or rank
  * (topk/no-replacement; 0 for full), kind = 'nbr' | 'neg'.
  * `outNeg()` must be terminal (a GSL chain that keeps expanding from
  * negatives is not part of the documented examples).
  */
object Gsl {

  private sealed trait Hop
  private final case class NbrHop(strategy: String, f: Int) extends Hop
  private final case class NegHop(f: Int, strategy: String) extends Hop

  def run(g: LinkGraph, query: String, pickSeed: Long = 42L,
      negAttempts: Int = 8): DataFrame = {
    val (edgeSource, shuffled, batchN, jump, hops) = parse(query)
    val spark = g.vertices.sparkSession
    val verts = g.vertices.toDF
    val oidEdges = NeighborSample.oidEdges(g)

    // SOURCE: by_order = oid order; shuffle() = portable-hash order
    // (deterministic permutation), tie-broken by the oid key
    val batch0: DataFrame =
      if (edgeSource) {
        // E() edge batch (the edge_sampler / positive-example stream):
        // ordered on the (src, dst) oid pair key
        val key = concat(col("parent"), lit(">"), col("child"))
        val ordered =
          if (shuffled) oidEdges.orderBy(
            graft.text.TextOps.portableHash(key).asc, col("parent").asc, col("child").asc)
          else oidEdges.orderBy(col("parent").asc, col("child").asc)
        batchN.map(ordered.limit).getOrElse(ordered)
      } else {
        val ordered =
          if (shuffled) verts.orderBy(
            graft.text.TextOps.portableHash(col("oid")).asc, col("oid").asc)
          else verts.orderBy(col("oid").asc)
        batchN.map(ordered.limit).getOrElse(ordered)
          .select(col("oid").as("seed"), col("id").as("seed_id"))
      }
    // terminal edge batch: the positive-example sink (hop 0, kind 'edge')
    if (edgeSource && hops.isEmpty)
      return batch0.select(col("parent").as("seed_oid"), lit(0).as("hop"),
        col("parent").as("parent_oid"), col("child").as("child_oid"),
        lit(0).as("pos"), lit("edge").as("kind"))

    var frontier =
      if (edgeSource) {
        // outV()/inV() jump: the batch's source/destination endpoints
        // become the seeds of the sampling chain (gsl_en.rst example:
        // es.get() → ns.get(edges.src_ids))
        val end = if (jump.contains("inV")) col("child") else col("parent")
        batch0.select(end.as("seed")).distinct()
          .select(col("seed"), col("seed").as("parent"))
      } else batch0.select(col("seed"), col("seed").as("parent"))
    val sinks = hops.zipWithIndex.map {
      case (NbrHop(strategy, f), h) =>
        val salt = NeighborSample.hopSalt(pickSeed, h)
        val cand = frontier.join(oidEdges, Seq("parent"))
        val picked = strategy match {
          case "random" =>
            cand.select(col("seed"), col("parent"), col("child"),
                explode(sequence(lit(0), lit(f - 1))).as("slot"))
              .withColumn("__pick",
                NeighborSample.pickHash(col("parent"), col("child"), salt, col("slot")))
              .groupBy(col("seed"), col("parent"), col("slot").as("pos"))
              .agg(min_by(col("child"), struct(col("__pick"), col("child"))).as("child"))
          case "topk" | "random_without_replacement" =>
            val ord =
              if (strategy == "topk") struct(negate(col("weight")), col("child"))
              else struct(
                NeighborSample.pickHash(col("parent"), col("child"), salt, lit(0)),
                col("child"))
            graft.engine.Skew.saltedTopK(
              cand, Seq("seed", "parent"), "child", ord, f, saltFrom = "child")
              .withColumnRenamed("rank", "pos")
          case "full" =>
            cand.select(col("seed"), col("parent"), col("child"), lit(0).as("pos"))
          case "edge_weight" | "in_degree" =>
            // probability strategies: integer interval draws per parent
            // (weights are occurrence counts — exact, portable), re-
            // joined to the (seed, parent) frontier like outNeg
            NeighborSample.proportionalPicks(oidEdges,
                frontier.select(col("parent")).distinct(), f, salt,
                byInDegree = strategy == "in_degree")
              .withColumnRenamed("slot", "pos")
              .join(frontier, Seq("parent"))
              .select(col("seed"), col("parent"), col("child"), col("pos"))
          case other => throw new IllegalArgumentException(
            s"unsupported GSL strategy: $other")
        }
        val out = graft.engine.Engine.checkpoint(picked
          .select(col("seed").as("seed_oid"), lit(h + 1).as("hop"),
            col("parent").as("parent_oid"), col("child").as("child_oid"),
            col("pos"), lit("nbr").as("kind")))
        frontier = out.select(col("seed_oid").as("seed"), col("child_oid").as("parent"))
          .distinct()
        out
      case (NegHop(f, strategy), h) =>
        val salt = NeighborSample.hopSalt(pickSeed, h)
        // negatives are drawn PER current vertex (the frontier's parent
        // plane); the (seed, parent) association re-joins afterwards so
        // a parent shared by many seeds draws once
        val parents = frontier.select(col("parent")).distinct()
          .join(verts.select(col("oid").as("parent"), col("id").as("seed_id")), Seq("parent"))
          .select(col("parent").as("seed"), col("seed_id"))
        val negs = (strategy match {
            case "in_degree" => NegativeSample.sampleIntervalFrom(
              g, parents, f, negAttempts, salt, byNodeWeight = false)
            case "node_weight" => NegativeSample.sampleIntervalFrom(
              g, parents, f, negAttempts, salt, byNodeWeight = true)
            case _ => NegativeSample.sampleFrom(g, parents, f, negAttempts, salt)
          })
          .select(col("seed_oid").as("parent"), col("slot").as("pos"),
            col("neg_oid").as("child_oid"))
        graft.engine.Engine.checkpoint(frontier.join(negs, Seq("parent"))
          .select(col("seed").as("seed_oid"), lit(h + 1).as("hop"),
            col("parent").as("parent_oid"), col("child_oid"),
            col("pos"), lit("neg").as("kind")))
    }
    sinks.reduce(_ unionByName _)
  }

  /** Tiny chain parser: `g.V()[.shuffle()][.batch(n)]` (or `g.E()…`
    * followed by an optional `outV()`/`inV()` endpoint jump) then hops
    * of `outV().sample(f).by('strategy')` /
    * `outNeg().sample(f).by('random'|'in_degree')`. A bare `g.E()[.shuffle()]
    * [.batch(n)]` is the terminal edge batch (positive-example stream).
    * Returns (edgeSource, shuffled, batchN, jump, hops).
    */
  private def parse(
      query: String): (Boolean, Boolean, Option[Int], Option[String], List[Hop]) = {
    val stepRe = "([A-Za-z_]+)\\(([^()]*)\\)".r
    val steps = stepRe.findAllMatchIn(query.trim.stripPrefix("g."))
      .map(m => (m.group(1), m.group(2).trim)).toList
    def strArg(a: String): String = a.stripPrefix("'").stripSuffix("'")
    def hops(ss: List[(String, String)], acc: List[Hop]): List[Hop] = ss match {
      case Nil => acc.reverse
      case ("outV", "") :: ("sample", n) :: ("by", s) :: t =>
        hops(t, NbrHop(strArg(s), n.toInt) :: acc)
      case ("outNeg", "") :: ("sample", n) :: ("by", s) :: Nil =>
        require(Set("random", "in_degree", "node_weight")(strArg(s)),
          "outNeg supports the (deterministic) random, in_degree and node_weight strategies")
        (NegHop(n.toInt, strArg(s)) :: acc).reverse
      case other => throw new IllegalArgumentException(
        s"unsupported GSL step sequence: ${other.take(3)}")
    }
    steps match {
      case (src @ ("V" | "E"), "") :: rest0 =>
        val edgeSource = src == "E"
        val (shuffled, rest1) = rest0 match {
          case ("shuffle", "") :: t => (true, t)
          case t => (false, t)
        }
        val (batchN, rest2) = rest1 match {
          case ("batch", n) :: t => (Some(n.toInt), t)
          case t => (None, t)
        }
        val (jump, rest3) = rest2 match {
          case (j @ ("outV" | "inV"), "") :: t
              if edgeSource && !t.headOption.exists(_._1 == "sample") =>
            (Some(j), t)
          case t => (None, t)
        }
        val hs = hops(rest3, Nil)
        require(hs.nonEmpty || edgeSource,
          "a vertex-source GSL query needs at least one sampling STEP")
        require(!edgeSource || hs.isEmpty || jump.isDefined,
          "an edge-source GSL chain needs an outV()/inV() jump before sampling")
        (edgeSource, shuffled, batchN, jump, hs)
      case _ => throw new IllegalArgumentException(
        "GSL query must start with g.V() or g.E()")
    }
  }
}
