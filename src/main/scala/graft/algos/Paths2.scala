package graft.algos

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.engine.Engine
import graft.graph.LinkGraph

/** Path-derived operators (SURVEY.md §2.B rows sssp_path / sssp_has_path /
  * sssp_average_length / closeness / all-pairs lengths):
  *
  *  - [[withParents]]: SSSP with parent pointers (deterministic min-parent
  *    tie-break) — `gs::SSSPPath` (`apps/sssp/sssp_path.h`);
  *  - [[pathTo]]: extract one shortest path by walking parents (driver
  *    loop over path length — paths are short in small-world graphs);
  *  - [[hasPath]]: reachability — `gs::SSSPHasPath`;
  *  - [[averageLength]]: mean shortest-path length from sampled sources —
  *    `gs::SSSPAverageLength` (`apps/sssp/sssp_average_length.h`); exact
  *    all-pairs is O(V·E) and only feasible on small graphs, so sources
  *    are a deterministic sample (documented estimator);
  *  - [[closeness]]: closeness centrality (wf_improved, as
  *    `apps/centrality/closeness/closeness_centrality.h`) for a chosen
  *    vertex set, one SSSP per source on the reversed graph.
  */
object Paths2 {

  /** SSSP with parents: (id, dist, parent). Parent = min-id predecessor
    * achieving the final distance (deterministic).
    */
  def withParents(g: LinkGraph, sourceOid: String): DataFrame = {
    val dist = Engine.checkpoint(SSSP.run(g, sourceOid))
    dist.rdd.count()
    val e = g.edges.toDF
    val parents = e
      .join(dist.select(col("id").as("src"), col("dist").as("sd")), "src")
      .join(dist.select(col("id").as("dst"), col("dist").as("dd")), "dst")
      .where(col("sd").isNotNull && col("dd").isNotNull &&
        abs(col("sd") + col("weight") - col("dd")) < 1e-9)
      .groupBy(col("dst").as("id"))
      .agg(min(col("src")).as("parent"))
    dist.join(parents, Seq("id"), "left")
  }

  /** One shortest path source→target as ordered oids; None if unreachable.
    *
    * The parent pointers of the reachable set are collected ONCE (bare
    * (id, parent) longs, guarded by `maxCollect`) and the walk runs in
    * driver memory — one Spark job per hop was a driver-loop scale hazard.
    * Only the ≤ maxHops+1 path vertices are then mapped back to oids.
    */
  def pathTo(
      g: LinkGraph, sourceOid: String, targetOid: String,
      maxHops: Int = 64, maxCollect: Long = 5000000L
  ): Option[Seq[String]] = {
    val wp = Engine.checkpoint(withParents(g, sourceOid))
    wp.rdd.count()
    locally {
      val endpoints = g.vertices.toDF.where(col("oid").isin(sourceOid, targetOid))
        .select("oid", "id").collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      for {
        srcId <- endpoints.get(sourceOid)
        dstId <- endpoints.get(targetOid)
        reachable = wp.where(col("dist").isNotNull).select("id", "parent")
        _ = require(reachable.count() <= maxCollect,
          s"pathTo walks parents on the driver; reachable set exceeds $maxCollect")
        parents = reachable.collect()
          .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
        if parents.contains(dstId)
        path <- {
          var acc = List(dstId)
          var cur = dstId
          var hops = 0
          while (cur != srcId && hops < maxHops) {
            parents.get(cur).flatten match {
              case Some(par) => acc = par :: acc; cur = par
              case None => hops = maxHops
            }
            hops += 1
          }
          if (cur == srcId) Some(acc) else None
        }
      } yield {
        val oids = g.vertices.toDF.where(col("id").isin(path: _*))
          .select("id", "oid").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
        path.map(oids)
      }
    }
  }

  def hasPath(g: LinkGraph, sourceOid: String, targetOid: String): Boolean =
    SSSP.run(g, sourceOid)
      .join(g.vertices.toDF.where(col("oid") === targetOid), Seq("id"))
      .where(col("dist").isNotNull).count() > 0

  /** Batched reachability for a set of (src, dst) oid pairs — ONE
    * multi-source SSSP over the distinct sources ((source, vertex)-keyed
    * sparse state, [[SSSP.multiSource]]) plus a membership check, instead
    * of a full fixpoint per pair (the reference `gs::SSSPHasPath` answers
    * one pair per app run; at |pairs| probes the per-pair loop costs
    * |pairs| fixpoints). Returns (src_oid, dst_oid, has_path); a vertex
    * reaches itself (dist 0), matching the single-pair [[hasPath]].
    */
  def hasPaths(g: LinkGraph, pairs: Seq[(String, String)]): DataFrame = {
    val spark = g.vertices.sparkSession
    import spark.implicits._
    val reached = SSSP.multiSource(g, pairs.map(_._1).distinct)
      .join(g.vertices.toDF.select(col("id").as("s"), col("oid").as("src_oid")), "s")
      .join(g.vertices.toDF.select(col("id"), col("oid").as("dst_oid")), "id")
      .select(col("src_oid"), col("dst_oid"), lit(true).as("__hit"))
    pairs.toDF("src_oid", "dst_oid")
      .join(reached, Seq("src_oid", "dst_oid"), "left")
      .select(col("src_oid"), col("dst_oid"),
        coalesce(col("__hit"), lit(false)).as("has_path"))
  }

  /** Mean shortest-path length over reachable pairs from `numSources`
    * deterministically-sampled sources (ids 0, s, 2s, …) — one batched
    * multi-source SSSP ([[SSSP.multiSource]]), not a per-source loop.
    */
  def averageLength(g: LinkGraph, numSources: Int = 8): Double = {
    val n = g.numVertices
    val step = math.max(1L, n / numSources)
    val sources = (0L until n by step).take(numSources)
    val oids = g.vertices.toDF.where(col("id").isin(sources: _*))
      .select("oid").collect().map(_.getString(0)).toSeq
    averageLength(g, oids)
  }

  /** Same estimator with an explicit source set (the oracle-checked
    * form — the SQL twin unrolls the identical batched relaxation for
    * the same sources).
    */
  def averageLength(g: LinkGraph, sourceOids: Seq[String]): Double = {
    val r = SSSP.multiSource(g, sourceOids)
      .agg(sum(col("dist")), count(lit(1))).head()
    val total = if (r.isNullAt(0)) 0.0 else r.getDouble(0)
    val cnt = (if (r.isNullAt(1)) 0L else r.getLong(1)) - sourceOids.length // exclude self
    if (cnt <= 0) 0.0 else total / cnt
  }

  /** Closeness centrality (wf_improved) for the given oids — ONE batched
    * reverse multi-source SSSP for all sources ((s, vertex)-keyed state,
    * the [[Betweenness]] pattern) instead of a driver loop.
    */
  def closeness(g: LinkGraph, oids: Seq[String]): DataFrame =
    closenessOf(g,
      g.vertices.toDF.where(col("oid").isin(oids: _*)).select(col("id").as("s")),
      new graft.engine.Engine.MetricsLog)

  /** Harmonic centrality (nx `harmonic_centrality`: Σ_{v≠u} 1/d(v, u)
    * over INCOMING distances, no normalization) for the given oids —
    * the same ONE batched reverse multi-source SSSP as [[closeness]],
    * only the fold differs (sum of reciprocals instead of
    * reach²/total). Rounded to 6 dp (project fp convention; the
    * reciprocal sum is the one non-integer-valued reduction here).
    */
  def harmonic(g: LinkGraph, oids: Seq[String]): DataFrame = {
    val srcIds = g.vertices.toDF.where(col("oid").isin(oids: _*))
      .select(col("id").as("s"))
    val per = SSSP.multiSource(g, srcIds, reversed = true,
        new graft.engine.Engine.MetricsLog)
      .where(col("dist") > 0)
      .groupBy(col("s")).agg(sum(lit(1.0) / col("dist")).as("tot"))
    g.vertices.toDF
      .join(srcIds.withColumnRenamed("s", "id"), Seq("id"), "left_semi")
      .join(per.withColumnRenamed("s", "id"), Seq("id"), "left")
      .select(col("oid"),
        round(coalesce(col("tot"), lit(0.0)), 6).as("harmonic"))
  }

  /** All-sources closeness capped to the `k` highest-degree vertices
    * (degree = dedge endpoint count, ties to the smaller id — fully
    * deterministic so the SQL twin picks the identical set). The
    * reference's `AllPairsShortestPathLength`
    * (`apps/apsp/all_pairs_shortest_path_length.h`) runs every vertex as
    * a source; the full |V|² pair state exceeds this sandbox at bench
    * scale, so the top-degree cap is the documented stand-in — the
    * (source × vertex)-keyed batching is identical, only |S| differs.
    */
  def closenessTop(
      g: LinkGraph, k: Int,
      log: graft.engine.Engine.MetricsLog = new graft.engine.Engine.MetricsLog
  ): DataFrame = {
    val e = g.edges.toDF
    val srcs = e.select(col("src").as("id")).unionAll(e.select(col("dst").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("deg"))
      .orderBy(col("deg").desc, col("id").asc).limit(k)
      .select(col("id").as("s"))
    closenessOf(g, srcs, log)
  }

  private def closenessOf(
      g: LinkGraph, srcIds: DataFrame, log: graft.engine.Engine.MetricsLog
  ): DataFrame = {
    val n = g.numVertices
    val per = SSSP.multiSource(g, srcIds, reversed = true, log)
      .where(col("dist") > 0)
      .groupBy(col("s"))
      .agg(sum(col("dist")).as("tot"), count(lit(1)).as("reach"))
    g.vertices.toDF
      .join(srcIds.withColumnRenamed("s", "id"), Seq("id"), "left_semi")
      .join(per.withColumnRenamed("s", "id"), Seq("id"), "left")
      .select(col("oid"),
        when(col("tot") > 0,
          (col("reach").cast("double") / lit((n - 1).toDouble)) *
            (col("reach").cast("double") / col("tot")))
          .otherwise(0.0).as("closeness"))
  }
}
