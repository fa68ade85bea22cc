package graft.engine

import scala.collection.mutable

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, GraftDatasets}
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions.{col, udf}

/** Neighbour lists of one direction in CSR form: the neighbours of
  * `ids(k)` (sorted, distinct) are `nbrs(offsets(k) until offsets(k + 1))`,
  * one entry per edge row.
  */
final class Csr private (ids: Array[Long], offsets: Array[Int], nbrs: Array[Long])
    extends Serializable {
  def apply(v: Long): Array[Long] = {
    val k = java.util.Arrays.binarySearch(ids, v)
    if (k < 0) Array.emptyLongArray else java.util.Arrays.copyOfRange(nbrs, offsets(k), offsets(k + 1))
  }
}

object Csr {
  /** The pairs `keys(i) → vals(i)`, grouped by key. */
  def of(keys: Array[Long], vals: Array[Long]): Csr = {
    val order = keys.indices.sortBy(keys(_)).toArray
    val ids = mutable.ArrayBuilder.make[Long]
    val offsets = mutable.ArrayBuilder.make[Int]
    for (k <- order.indices if k == 0 || keys(order(k)) != keys(order(k - 1))) {
      ids += keys(order(k)); offsets += k
    }
    offsets += order.length
    new Csr(ids.result(), offsets.result(), order.map(vals))
  }
}

/** An edge table's out- and in-neighbour lists ([[Csr]]), collected to
  * the driver and broadcast once. [[neighbours]] is a narrow map-side
  * lookup: an expand that `explode`s it runs no join, no exchange and no
  * per-query broadcast build.
  */
final class AdjacencyIndex private (lookups: Map[String, UserDefinedFunction]) {
  /** The neighbours of vertex `v` along `dir` (out/in/both) as an array
    * column, one entry per edge row.
    */
  def neighbours(dir: String, v: Column): Column =
    lookups.getOrElse(dir, throw new IllegalArgumentException(s"unknown expand direction: $dir"))(v)
}

object AdjacencyIndex {
  /** Builds the index of `edges(src, dst)` in one job. */
  def build(edges: DataFrame): AdjacencyIndex = {
    val pairs = edges.select(col("src"), col("dst")).queryExecution.toRdd
      .map(r => (r.getLong(0), r.getLong(1))).collect()
    val (src, dst) = (pairs.map(_._1), pairs.map(_._2))
    val bc: Broadcast[(Csr, Csr)] =
      edges.sparkSession.sparkContext.broadcast((Csr.of(src, dst), Csr.of(dst, src)))
    new AdjacencyIndex(Map(
      "out" -> udf((v: Long) => bc.value._1(v)),
      "in" -> udf((v: Long) => bc.value._2(v)),
      "both" -> udf((v: Long) => Array.concat(bc.value._1(v), bc.value._2(v)))))
  }
}

/** The adjacency indexes of one source graph, one per edge-label set,
  * each built on first use and kept while the graph is.
  *
  * An index is used only where Catalyst broadcasts the edge side of an
  * expand join anyway: the `(src, dst)` frame's estimated size is at
  * most `spark.sql.autoBroadcastJoinThreshold` (read per call, so `-1`
  * always keeps the join). The estimate is taken once per label set.
  */
final class Adjacency private () {
  private final class Entry(val edges: DataFrame) {
    lazy val size: BigInt = edges.queryExecution.optimizedPlan.stats.sizeInBytes
    lazy val index: AdjacencyIndex = AdjacencyIndex.build(edges)
  }
  private val entries = mutable.Map.empty[Seq[String], Entry]

  /** The index of the edges of `labels` (all edges when empty), given
    * by `edges` as `(src, dst)`, or None over the broadcast threshold.
    */
  def index(labels: Seq[String])(edges: => DataFrame): Option[AdjacencyIndex] = {
    val e = synchronized { entries.getOrElseUpdate(labels.distinct.sorted, new Entry(edges)) }
    val threshold = GraftDatasets.conf(e.edges.sparkSession).autoBroadcastJoinThreshold
    if (threshold >= 0 && e.size <= threshold) Some(e.index) else None
  }
}

object Adjacency {
  private val byGraph = new java.util.WeakHashMap[AnyRef, Adjacency]()

  /** The indexes of source graph `graph` (a LinkGraph or PropertyGraph):
    * one [[Adjacency]] per instance, so concurrent queries on one graph
    * share its builds. The map holds the graph weakly; once the graph
    * is unreferenced its indexes go too, and the ContextCleaner frees
    * their broadcasts when no plan refers to them.
    */
  def of(graph: AnyRef): Adjacency =
    byGraph.synchronized(byGraph.computeIfAbsent(graph, _ => new Adjacency))
}
