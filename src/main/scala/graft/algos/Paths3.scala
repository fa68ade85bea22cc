package graft.algos

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.engine.Engine
import graft.graph.LinkGraph
import graft.synth.Synth

/** Remaining traversal/path operators from SURVEY.md §2.B:
  * all-pairs lengths (looped SSSP), attribute assortativity, DFS
  * (driver-sequential, like the reference's `gs::DFS` which the reference
  * itself marks inherently sequential), simple-path predicates and
  * bounded enumeration, and deterministic random-path sampling
  * (`gs::SamplingPath`).
  */
object Paths3 {

  /** All-pairs shortest path lengths for a source set (reference
    * `gs::AllPairsShortestPathLength` loops SSSP over sources; full APSP
    * is only feasible on small graphs — callers pick the source set).
    * Returns (src_oid, oid, dist).
    */
  def apspLengths(g: LinkGraph, sourceOids: Seq[String]): DataFrame =
    SSSP.multiSource(g, sourceOids)
      .join(g.vertices.toDF.select(col("id").as("s"), col("oid").as("src_oid")), "s")
      .join(g.vertices.toDF, Seq("id"))
      .select(col("src_oid"), col("oid"), col("dist"))

  /** Attribute assortativity (reference `gs::AttributeAssortativity`,
    * `apps/assortativity/attribute_assortativity.h`): mixing-matrix
    * assortativity coefficient over a categorical vertex attribute:
    * r = (tr(M) − Σ(M²)) / (1 − Σ(M²)) with M the normalized mixing
    * matrix over directed edges.
    */
  def attributeAssortativity(g: LinkGraph, attr: DataFrame): Double = {
    // attr: (id, cat)
    val e = g.edges.toDF
      .join(attr.select(col("id").as("src"), col("cat").as("ca")), "src")
      .join(attr.select(col("id").as("dst"), col("cat").as("cb")), "dst")
    val m = Engine.checkpoint(e.groupBy(col("ca"), col("cb")).agg(count(lit(1)).as("n")))
    val total = m.agg(sum(col("n"))).head().getLong(0).toDouble
    val trace = m.where(col("ca") === col("cb")).agg(sum(col("n"))).head() match {
      case r if r.isNullAt(0) => 0.0
      case r => r.getLong(0) / total
    }
    val aRow = m.groupBy("ca").agg(sum(col("n")).as("na"))
    val bRow = m.groupBy("cb").agg(sum(col("n")).as("nb"))
    val sumAb = aRow.join(bRow, col("ca") === col("cb"))
      .agg(sum((col("na") / total) * (col("nb") / total))).head() match {
      case r if r.isNullAt(0) => 0.0
      case r => r.getDouble(0)
    }
    if (sumAb == 1.0) 1.0 else (trace - sumAb) / (1.0 - sumAb)
  }

  /** Numeric assortativity (reference `gs::AttributeAssortativity` with
    * `numeric = true`, `apps/assortativity/attribute_assortativity.h:77`
    * + `utils.h` ProcessMatrix — the mixing-matrix Pearson form): the
    * Pearson correlation of the endpoint numeric attribute values over
    * the directed edges, which is exactly what the reference's
    * matrix-form computation reduces to. One aggregate over the
    * attribute-joined edge table — map-side partial `corr`, no driver
    * loop.
    */
  def numericAssortativityDf(g: LinkGraph, attr: DataFrame): DataFrame =
    // attr: (id, x: double)
    g.edges.toDF
      .join(attr.select(col("id").as("src"), col("x").as("xa")), "src")
      .join(attr.select(col("id").as("dst"), col("x").as("xb")), "dst")
      .agg(round(corr(col("xa"), col("xb")), 6).as("numeric_assortativity"))

  /** DFS preorder from a source. Inherently sequential — executed on the
    * driver over collected adjacency (the reference's DFS is likewise a
    * sequential traversal, `apps/dfs/dfs.h`). Guarded by `maxEdges` —
    * it is the edge collect, not the vertex count, that bounds driver
    * memory; iterative explicit stack (a recursive visit overflows the
    * JVM stack on long chains).
    */
  def dfsOrder(g: LinkGraph, sourceOid: String, maxEdges: Long = 20000000L): Seq[String] = {
    val eCount = g.edges.count()
    require(eCount <= maxEdges,
      s"DFS is driver-sequential; graph has $eCount edges (> $maxEdges)")
    val adj = g.edges.toDF.select("src", "dst").collect()
      .groupBy(_.getLong(0)).map { case (s, rows) => s -> rows.map(_.getLong(1)).sorted.toList }
    val oidOf = g.vertices.collect().map(v => v.id -> v.oid).toMap
    val idOf = oidOf.map(_.swap)
    val start = idOf(sourceOid)
    val visited = scala.collection.mutable.Set.empty[Long]
    val order = scala.collection.mutable.ArrayBuffer.empty[Long]
    val stack = scala.collection.mutable.ArrayDeque(start)
    while (stack.nonEmpty) {
      val v = stack.removeHead()
      if (!visited(v)) {
        visited += v; order += v
        // prepend children in order: the head of the stack is the next
        // smallest unvisited neighbor — identical to recursive preorder
        stack.prependAll(adj.getOrElse(v, Nil))
      }
    }
    order.toSeq.map(oidOf)
  }

  /** is_simple_path (reference `gs::IsSimplePath`): every consecutive
    * pair is an edge and no vertex repeats.
    */
  def isSimplePath(g: LinkGraph, pathOids: Seq[String]): Boolean = {
    if (pathOids.distinct.size != pathOids.size) return false
    if (pathOids.size < 2) return pathOids.nonEmpty
    val spark = g.vertices.sparkSession
    import spark.implicits._
    val hops = pathOids.zip(pathOids.tail).toDF("src_oid", "dst_oid")
    hops.join(g.oidEdges().select("src_oid", "dst_oid"), Seq("src_oid", "dst_oid"), "left_anti")
      .count() == 0
  }

  /** Bounded all-simple-paths enumeration source→target with ≤ `cutoff`
    * edges (reference `gs::AllSimplePaths`): iterative frontier expansion
    * with an array path column and a no-revisit filter; exponential in
    * general, bounded by the cutoff.
    */
  def allSimplePaths(g: LinkGraph, sourceOid: String, targetOid: String, cutoff: Int): DataFrame = {
    val oidEdges = oidPairs(g)
    var frontier = g.vertices.toDF.where(col("oid") === sourceOid)
      .select(array(col("oid")).as("path"), col("oid").as("tip"))
    var found = frontier.where(col("tip") === targetOid).select("path")
    var hops = 0
    while (hops < cutoff) {
      frontier = Engine.checkpoint(
        frontier.where(col("tip") =!= targetOid)
          .join(oidEdges.withColumnRenamed("a", "tip"), "tip")
          .where(!array_contains(col("path"), col("b")))
          .select(concat(col("path"), array(col("b"))).as("path"), col("b").as("tip")))
      found = found.unionAll(frontier.where(col("tip") === targetOid).select("path"))
      hops += 1
    }
    found
  }

  /** Edge-tuple form of [[allSimplePaths]] (reference nx builtin
    * `all_simple_edge_paths`, python/graphscope/nx/algorithms/builtin.py:936):
    * each simple path exploded into its consecutive (src_oid, dst_oid)
    * edges with the hop position, keyed by the vertex-path string.
    */
  def allSimpleEdgePaths(g: LinkGraph, sourceOid: String, targetOid: String, cutoff: Int): DataFrame = {
    val paths = allSimplePaths(g, sourceOid, targetOid, cutoff)
    val m = greatest(size(col("path")) - 1, lit(0))
    paths
      .select(
        array_join(col("path"), ">").as("path_str"),
        posexplode(zip_with(
          slice(col("path"), lit(1), m), slice(col("path"), lit(2), m),
          (a, b) => struct(a.as("s"), b.as("d")))))
      .select(col("path_str"), col("pos").cast("int").as("pos"),
        col("col.s").as("src_oid"), col("col.d").as("dst_oid"))
  }

  /** Deterministic random-path sampling (reference `gs::SamplingPath`):
    * from each start vertex walk `steps` hops, choosing at every step
    * the out-neighbor minimizing a hash of (seed, step, tip, dst) — a
    * hash-seeded uniform pick that needs no RNG state. The pick hash is
    * pure integer arithmetic over [[graft.text.TextOps.portableHash]],
    * so the walk has an exact DuckDB twin (`SynthSql3.samplingSql`).
    * Returns (start_oid, path array).
    */
  def samplingPaths(g: LinkGraph, startOids: Seq[String], steps: Int, seed: Long = 42L): DataFrame = {
    val spark = g.vertices.sparkSession
    val oidEdges = oidPairs(g)
    import spark.implicits._
    var walk = startOids.toDF("start")
      .select(col("start"), array(col("start")).as("path"), col("start").as("tip"))
    (0 until steps).foreach { step =>
      walk = Engine.checkpoint(samplingStep(walk, oidEdges, step, seed))
    }
    walk.select(col("start").as("start_oid"), col("path"))
  }

  /** The oid-keyed edge pairs `(a, b)`, eagerly checkpointed — the hop
    * input of the path walks. Package-visible for PlanAudit.
    */
  private[graft] def oidPairs(g: LinkGraph): DataFrame = {
    val e = Engine.checkpoint(g.oidEdges().select(col("src_oid").as("a"), col("dst_oid").as("b")))
    e.rdd.count()
    e
  }

  /** One sampling-walk step: deterministic argmin via `min_by`, NOT a
    * window — a hub tip's whole out-adjacency would route through one
    * task per start vertex under `partitionBy(start)` (windows cannot
    * partial-aggregate); min_by is map-side combined, so the hub fan-out
    * reduces before the shuffle. The ordering struct is never null
    * (fields may be — a dead-end tip contributes its single left-join
    * row), so no candidate is dropped. Package-visible for PlanAudit.
    */
  private[graft] def samplingStep(
      walk: DataFrame, oidEdges: DataFrame, step: Int, seed: Long): DataFrame = {
    val p = graft.text.TextOps.HashP
    walk.join(oidEdges.withColumnRenamed("a", "tip"), Seq("tip"), "left")
      .withColumn("__pick",
        (graft.text.TextOps.portableHash(col("tip")) * 31L +
          graft.text.TextOps.portableHash(col("b")) * 17L +
          lit(seed * 1000003L + step * 7919L)) % p)
      .groupBy(col("start"))
      .agg(min_by(
        struct(col("b"), col("path"), col("tip")),
        struct(col("__pick"), col("b"))).as("m"))
      .select(col("start"),
        when(col("m.b").isNotNull, concat(col("m.path"), array(col("m.b"))))
          .otherwise(col("m.path")).as("path"),
        coalesce(col("m.b"), col("m.tip")).as("tip"))
  }

  /** Sanity accessor used by specs. */
  def h(c: Long, i: Long): Long = Synth.h(c, i)
}
