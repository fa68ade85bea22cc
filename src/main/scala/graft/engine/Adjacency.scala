package graft.engine

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, GraftDatasets}
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions.{col, udf}

/** Neighbour lists of one direction in CSR form: the neighbours of
  * `ids(k)` (sorted, distinct) are `nbrs(offsets(k) until offsets(k + 1))`,
  * one entry per edge row.
  */
final class Csr private (
    private[engine] val ids: Array[Long], private[engine] val offsets: Array[Int],
    private[engine] val nbrs: Array[Long]) extends Serializable {
  def apply(v: Long): Array[Long] = {
    val k = java.util.Arrays.binarySearch(ids, v)
    if (k < 0) Array.emptyLongArray else java.util.Arrays.copyOfRange(nbrs, offsets(k), offsets(k + 1))
  }
}

object Csr {
  /** The pairs `keys(i) → vals(i)`, grouped by key; each key keeps its
    * values in input order.
    */
  def of(keys: Array[Long], vals: Array[Long]): Csr = {
    val ids = distinctSorted(keys)
    val slot = new Array[Int](keys.length)
    for (i <- keys.indices) slot(i) = java.util.Arrays.binarySearch(ids, keys(i))
    val (offsets, order) = group(slot, ids.length)
    val nbrs = new Array[Long](order.length)
    for (j <- order.indices) nbrs(j) = vals(order(j))
    new Csr(ids, offsets, nbrs)
  }

  /** `a`'s distinct values in ascending order. */
  private[engine] def distinctSorted(a: Array[Long]): Array[Long] = {
    val s = a.clone()
    java.util.Arrays.sort(s)
    var n = 0
    for (i <- s.indices if i == 0 || s(i) != s(i - 1)) { s(n) = s(i); n += 1 }
    java.util.Arrays.copyOf(s, n)
  }

  /** A stable counting sort of the rows `i` by `slot(i)` in `[0, n)`:
    * the rows of slot `k` are `order(offsets(k) until offsets(k + 1))`,
    * in input order.
    */
  private[engine] def group(slot: Array[Int], n: Int): (Array[Int], Array[Int]) = {
    val offsets = new Array[Int](n + 1)
    slot.foreach(k => offsets(k + 1) += 1)
    for (k <- 1 to n) offsets(k) += offsets(k - 1)
    val next = java.util.Arrays.copyOf(offsets, n)
    val order = new Array[Int](slot.length)
    for (i <- slot.indices) { order(next(slot(i))) = i; next(slot(i)) += 1 }
    (offsets, order)
  }
}

/** The undirected simple graph of an edge table (no self-loops, one edge
  * per unordered pair) with every edge pointing from its lower to its
  * higher endpoint in (degree, id) order, the orientation `Triangles`
  * counts on (the reference's `gs::Triangles` keeps its mirror image,
  * `apps/clustering/triangles.h:78-91`, which gives the same counts).
  * Vertex `k` is `ids(k)` (sorted); its higher neighbours are
  * `nbrs(offsets(k) until offsets(k + 1))`, ascending.
  */
final class Oriented private (
    private[graft] val ids: Array[Long], private[graft] val offsets: Array[Int],
    private[graft] val nbrs: Array[Int]) extends Serializable

object Oriented {
  /** The oriented graph of the edges that `out` lists. */
  def of(out: Csr): Oriented = {
    val ids = Csr.distinctSorted(Array.concat(out.ids, out.nbrs))
    def at(v: Long): Int = java.util.Arrays.binarySearch(ids, v)
    // each unordered pair a < b once, packed as a << 32 | b
    val packed = new Array[Long](out.nbrs.length)
    var m = 0
    for (k <- out.ids.indices) {
      val a = at(out.ids(k))
      for (p <- out.offsets(k) until out.offsets(k + 1)) {
        val b = at(out.nbrs(p))
        if (a != b) { packed(m) = math.min(a, b).toLong << 32 | math.max(a, b); m += 1 }
      }
    }
    val pairs = Csr.distinctSorted(java.util.Arrays.copyOf(packed, m))
    val deg = new Array[Int](ids.length)
    for (e <- pairs) { deg((e >>> 32).toInt) += 1; deg(e.toInt) += 1 }
    // (deg, id) order: the lower-id endpoint comes first on a degree tie
    val (from, to) = (new Array[Int](pairs.length), new Array[Int](pairs.length))
    for (i <- pairs.indices) {
      val (a, b) = ((pairs(i) >>> 32).toInt, pairs(i).toInt)
      if (deg(a) <= deg(b)) { from(i) = a; to(i) = b } else { from(i) = b; to(i) = a }
    }
    val (offsets, order) = Csr.group(from, ids.length)
    // pairs are sorted by (a, b) and grouping is stable, so a vertex's
    // list holds its lower-id partners ascending, then its higher-id
    // ones ascending: the whole list ascends
    val nbrs = new Array[Int](order.length)
    for (j <- order.indices) nbrs(j) = to(order(j))
    new Oriented(ids, offsets, nbrs)
  }
}

/** An edge table's out- and in-neighbour lists ([[Csr]]), collected to
  * the driver and broadcast once. [[neighbours]] is a narrow map-side
  * lookup: an expand that `explode`s it runs no join, no exchange and no
  * per-query broadcast build. [[oriented]] is the same edges' undirected
  * simple graph, derived from the out-lists and broadcast on first use.
  */
final class AdjacencyIndex private (
    lookups: Map[String, UserDefinedFunction], out: Csr, sc: SparkContext) {
  /** The neighbours of vertex `v` along `dir` (out/in/both) as an array
    * column, one entry per edge row.
    */
  def neighbours(dir: String, v: Column): Column =
    lookups.getOrElse(dir, throw new IllegalArgumentException(s"unknown expand direction: $dir"))(v)

  /** The edges' [[Oriented]] graph, derived and broadcast once per index. */
  lazy val oriented: Broadcast[Oriented] = sc.broadcast(Oriented.of(out))
}

object AdjacencyIndex {
  /** Builds the index of `edges(src, dst)` in one job. */
  def build(edges: DataFrame): AdjacencyIndex = {
    val parts = edges.select(col("src"), col("dst")).queryExecution.toRdd.mapPartitions { rows =>
      val (s, d) = (new mutable.ArrayBuilder.ofLong, new mutable.ArrayBuilder.ofLong)
      rows.foreach { r => s += r.getLong(0); d += r.getLong(1) }
      Iterator((s.result(), d.result()))
    }.collect()
    val (src, dst) = (Array.concat(parts.map(_._1): _*), Array.concat(parts.map(_._2): _*))
    val out = Csr.of(src, dst)
    val sc = edges.sparkSession.sparkContext
    val bc: Broadcast[(Csr, Csr)] = sc.broadcast((out, Csr.of(dst, src)))
    new AdjacencyIndex(Map(
      "out" -> udf((v: Long) => bc.value._1(v)),
      "in" -> udf((v: Long) => bc.value._2(v)),
      "both" -> udf((v: Long) => Array.concat(bc.value._1(v), bc.value._2(v)))), out, sc)
  }
}

/** The adjacency indexes of one source graph, one per edge-label set,
  * each built on first use and kept while the graph is. The Gremlin
  * vertex moves read them, and `Triangles` reads the all-edges index of
  * a LinkGraph (its [[AdjacencyIndex.oriented]] graph).
  *
  * An index is used only where Catalyst broadcasts the edge side of an
  * expand join anyway: the `(src, dst)` frame's estimated size is at
  * most `spark.sql.autoBroadcastJoinThreshold` (read per call, so `-1`
  * always keeps the join). The estimate is taken once per label set, and
  * this one decision picks the index or the join path for every reader.
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
