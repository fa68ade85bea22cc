package graft.engine

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, GraftDatasets}
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions.{col, lit, udf}

/** Neighbour lists of one direction in CSR form: the neighbours of
  * `ids(k)` (sorted, distinct) are `nbrs(offsets(k) until offsets(k + 1))`,
  * one entry per edge row; `rows(p)` is the input row of entry `p`.
  */
final class Csr private (
    private[engine] val ids: Array[Long], private[engine] val offsets: Array[Int],
    private[engine] val nbrs: Array[Long], private[engine] val rows: Array[Int]) extends Serializable {
  def apply(v: Long): Array[Long] = {
    val s = span(v)
    java.util.Arrays.copyOfRange(nbrs, s.start, s.end)
  }

  /** The entry range of vertex `v`. */
  private[engine] def span(v: Long): Range = {
    val k = java.util.Arrays.binarySearch(ids, v)
    if (k < 0) Range(0, 0) else Range(offsets(k), offsets(k + 1))
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
    new Csr(ids, offsets, nbrs, order)
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

/** One edge row as an index entry: the far endpoint, the row's weight,
  * and its label (null on an unlabeled edge table).
  */
final case class EdgeEntry(nbr: Long, weight: Double, label: String)

/** An edge table's out- and in-lists ([[Csr]]) with each row's weight
  * and label, collected to the driver and broadcast once.
  */
private final class EdgeLists(
    val out: Csr, val in: Csr, weights: Array[Double], labels: Array[String]) extends Serializable {
  def entries(c: Csr, v: Long): Seq[EdgeEntry] =
    c.span(v).map(p => EdgeEntry(c.nbrs(p), weights(c.rows(p)), labels(c.rows(p))))
}

/** An edge table's neighbour lists, collected to the driver and
  * broadcast once. [[neighbours]] and [[entries]] are narrow map-side
  * lookups: an expand that `explode`s one runs no join, no exchange and
  * no per-query broadcast build. [[oriented]] is the same edges'
  * undirected simple graph, derived from the out-lists and broadcast on
  * first use.
  */
final class AdjacencyIndex private (
    lookups: Map[String, UserDefinedFunction], entryLookups: Map[String, UserDefinedFunction],
    out: Csr, sc: SparkContext) {
  /** The neighbours of vertex `v` along `dir` (out/in/both) as an array
    * column, one entry per edge row.
    */
  def neighbours(dir: String, v: Column): Column = along(lookups, dir)(v)

  /** The edge rows at vertex `v` along `dir` as an array column of
    * [[EdgeEntry]] structs `(nbr, weight, label)`, one per edge row, in
    * the order of [[neighbours]].
    */
  def entries(dir: String, v: Column): Column = along(entryLookups, dir)(v)

  private def along(m: Map[String, UserDefinedFunction], dir: String): UserDefinedFunction =
    m.getOrElse(dir, throw new IllegalArgumentException(s"unknown expand direction: $dir"))

  /** The edges' [[Oriented]] graph, derived and broadcast once per index. */
  lazy val oriented: Broadcast[Oriented] = sc.broadcast(Oriented.of(out))
}

object AdjacencyIndex {
  /** Builds the index of `edges(src, dst[, weight][, label])` in one job;
    * a missing weight reads 1.0 and a missing label null.
    */
  def build(edges: DataFrame): AdjacencyIndex = {
    val (hasW, hasL) = (edges.columns.contains("weight"), edges.columns.contains("label"))
    val cols = Seq(col("src"), col("dst"), if (hasW) col("weight").cast("double") else lit(1.0),
      if (hasL) col("label").cast("string") else lit(null).cast("string"))
    val parts = edges.select(cols: _*).queryExecution.toRdd.mapPartitions { rows =>
      val (s, d) = (new mutable.ArrayBuilder.ofLong, new mutable.ArrayBuilder.ofLong)
      val (w, l) = (new mutable.ArrayBuilder.ofDouble, new mutable.ArrayBuilder.ofRef[String])
      rows.foreach { r =>
        s += r.getLong(0); d += r.getLong(1)
        w += (if (r.isNullAt(2)) Double.NaN else r.getDouble(2))
        l += (if (r.isNullAt(3)) null else r.getUTF8String(3).toString)
      }
      Iterator((s.result(), d.result(), w.result(), l.result()))
    }.collect()
    // rows of one label share one string
    val shared = mutable.HashMap.empty[String, String]
    val labels = Array.concat(parts.map(_._4): _*).map(x => if (x == null) null else shared.getOrElseUpdate(x, x))
    val (src, dst) = (Array.concat(parts.map(_._1): _*), Array.concat(parts.map(_._2): _*))
    val out = Csr.of(src, dst)
    val sc = edges.sparkSession.sparkContext
    val bc = sc.broadcast(new EdgeLists(out, Csr.of(dst, src), Array.concat(parts.map(_._3): _*), labels))
    new AdjacencyIndex(
      Map(
        "out" -> udf((v: Long) => bc.value.out(v)),
        "in" -> udf((v: Long) => bc.value.in(v)),
        "both" -> udf((v: Long) => Array.concat(bc.value.out(v), bc.value.in(v)))),
      Map(
        "out" -> udf((v: Long) => bc.value.entries(bc.value.out, v)),
        "in" -> udf((v: Long) => bc.value.entries(bc.value.in, v)),
        "both" -> udf((v: Long) => bc.value.entries(bc.value.out, v) ++ bc.value.entries(bc.value.in, v))),
      out, sc)
  }
}

/** A vertex table's properties by vertex id (`id → oid[, label]`),
  * collected to the driver and broadcast once. [[apply]] reads one
  * property of the vertex in a column as a map-side lookup, where a
  * property fetch or a property filter would otherwise join the vertex
  * table. The table's ids are distinct (the dense ids of a derivation).
  */
final class VertexIndex private (
    val properties: Seq[String], lookups: Map[String, UserDefinedFunction]) {
  /** Property `p` of the vertex `v` (null for an id not in the table);
    * `id` is `v` itself.
    */
  def apply(p: String, v: Column): Column =
    if (p == "id") v
    else lookups.getOrElse(p, throw new IllegalArgumentException(s"no vertex property: $p"))(v)
}

object VertexIndex {
  /** The vertex table's ids ascending and one value column per property
    * in that order; `dense` when the ids are consecutive, so a lookup
    * indexes instead of searching.
    */
  private final class Columns(ids: Array[Long], val cols: Array[Array[String]]) extends Serializable {
    private val dense = ids.isEmpty || ids.last - ids.head == ids.length - 1
    def slot(v: Long): Int =
      if (!dense) java.util.Arrays.binarySearch(ids, v)
      else if (ids.nonEmpty && v >= ids.head && v <= ids.last) (v - ids.head).toInt
      else -1
  }

  /** A broadcast's value read once per deserialized copy: a lookup runs
    * per row, and `Broadcast.value` synchronizes on every call.
    */
  private final class Local[T](bc: Broadcast[T]) extends Serializable {
    @transient lazy val value: T = bc.value
  }

  /** Builds the index of `vertices(id, <string properties>…)` in one job. */
  def build(vertices: DataFrame): VertexIndex = {
    val props = vertices.columns.filter(_ != "id").toSeq
    val rows = vertices.select(col("id") +: props.map(p => col(p).cast("string")): _*)
      .collect().map(r => (r.getLong(0), props.indices.map(i => r.getString(i + 1))))
    val ids = rows.map(_._1)
    val sorted = ids.clone()
    java.util.Arrays.sort(sorted)
    // repeated values (labels) share one string
    val shared = mutable.HashMap.empty[String, String]
    val cols = props.indices.map(_ => new Array[String](ids.length))
    for ((id, vs) <- rows) {
      val k = java.util.Arrays.binarySearch(sorted, id)
      for (i <- props.indices) cols(i)(k) = if (vs(i) == null) null else shared.getOrElseUpdate(vs(i), vs(i))
    }
    val local = new Local(vertices.sparkSession.sparkContext.broadcast(new Columns(sorted, cols.toArray)))
    new VertexIndex(props, props.indices.map { i =>
      props(i) -> udf { (v: Long) =>
        val c = local.value
        val k = c.slot(v)
        if (k < 0) null else c.cols(i)(k)
      }
    }.toMap)
  }
}

/** The adjacency indexes of one source graph, one per edge-label set,
  * and its vertex-property index, each built on first use and kept
  * while the graph is. The Gremlin steps read them, and `Triangles`
  * reads the all-edges index of a LinkGraph (its
  * [[AdjacencyIndex.oriented]] graph).
  *
  * An index is used only where Catalyst broadcasts the indexed side of
  * the join it replaces anyway: the estimated size of the `(src, dst)`
  * frame is at most `spark.sql.autoBroadcastJoinThreshold` (read per
  * call, so `-1` always keeps the join); the vertex index needs the
  * vertex table and the whole edge table under it. The estimate is
  * taken once per entry, and this one decision picks the index or the
  * join path for every reader.
  */
final class Adjacency private () {
  private final class Entry[A](sized: DataFrame, make: => A) {
    private lazy val size: BigInt = sized.queryExecution.optimizedPlan.stats.sizeInBytes
    private lazy val built: A = make
    def fits: Boolean = {
      val threshold = GraftDatasets.conf(sized.sparkSession).autoBroadcastJoinThreshold
      threshold >= 0 && size <= threshold
    }
    def get: Option[A] = if (fits) Some(built) else None
  }
  private val entries = mutable.Map.empty[Seq[String], Entry[AdjacencyIndex]]
  private var vertexEntry: Option[Entry[VertexIndex]] = None

  private def edgeEntry(labels: Seq[String])(edges: => DataFrame): Entry[AdjacencyIndex] = synchronized {
    entries.getOrElseUpdate(labels.distinct.sorted, {
      val e = edges
      new Entry(e.select(col("src"), col("dst")), AdjacencyIndex.build(e))
    })
  }

  /** The index of the edges of `labels` (all edges when empty), given
    * by `edges` as `(src, dst[, weight][, label])`, or None over the
    * broadcast threshold.
    */
  def index(labels: Seq[String])(edges: => DataFrame): Option[AdjacencyIndex] =
    edgeEntry(labels)(edges).get

  /** The index of the vertex table `vertices(id, <properties>…)`, or None
    * when it, or the graph's whole edge table `edges`, is over the
    * broadcast threshold: there the moves join the edge table, and a
    * property lookup on every joined row costs more than the broadcast
    * join it would replace, so the graph keeps its join plans throughout.
    */
  def vertices(vertices: => DataFrame, edges: => DataFrame): Option[VertexIndex] = {
    val e = synchronized {
      vertexEntry.getOrElse {
        val vs = vertices
        val e = new Entry(vs, VertexIndex.build(vs))
        vertexEntry = Some(e)
        e
      }
    }
    if (edgeEntry(Nil)(edges).fits) e.get else None
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
