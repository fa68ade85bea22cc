package graft.engine

import scala.collection.mutable

import org.apache.spark.Partitioner
import org.apache.spark.rdd.{RDD, ShuffledRDD}
import org.apache.spark.sql.{DataFrame, GraftDatasets, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, AttributeSet}
import org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, HashPartitioning, Partitioning}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{BooleanType, DoubleType, LongType}
import org.apache.spark.unsafe.hash.Murmur3_x86_32

/** One partition of an edge table in CSR form: the edges of `srcIds(k)`
  * (sorted) are `offsets(k) until offsets(k + 1)`, each with its weight
  * `w` and its destination `dstIds(dst(e))`. The block's distinct
  * destinations carry their dangling flags, `dstDangling`, and are
  * ordered by their partition ([[CsrEdges.partitionOf]]): those of
  * partition `j` are `dstSplits(j) until dstSplits(j + 1)`.
  */
final class CsrBlock(
    val srcIds: Array[Long],
    val offsets: Array[Int],
    val dst: Array[Int],
    val w: Array[Double],
    val dstIds: Array[Long],
    val dstDangling: Array[Boolean],
    val dstSplits: Array[Int]
) extends Serializable

object CsrBlock {
  def pack(edges: Iterator[(Long, Long, Double, Boolean)], n: Int): CsrBlock = {
    val es = edges.toArray.sortBy(e => (e._1, e._2))
    val dangling = mutable.LongMap.from(es.iterator.map(e => (e._2, e._4)))
    val dstIds = dangling.keys.toArray.sortBy(id => (CsrEdges.partitionOf(id, n), id))
    val local = mutable.LongMap.from(dstIds.iterator.zipWithIndex.map { case (id, i) => (id, i) })
    val dstSplits = new Array[Int](n + 1)
    dstIds.foreach(id => dstSplits(CsrEdges.partitionOf(id, n) + 1) += 1)
    for (j <- 1 to n) dstSplits(j) += dstSplits(j - 1)
    val srcIds = mutable.ArrayBuilder.make[Long]
    val offsets = mutable.ArrayBuilder.make[Int]
    for (k <- es.indices if k == 0 || es(k)._1 != es(k - 1)._1) { srcIds += es(k)._1; offsets += k }
    offsets += es.length
    new CsrBlock(srcIds.result(), offsets.result(), es.map(e => local(e._2)), es.map(_._3),
      dstIds, dstIds.map(dangling), dstSplits)
  }
}

/** An edge table `(src, dst, w, dstDangling)` packed once into one
  * [[CsrBlock]] per partition, placed by [[CsrEdges.partitionOf]] on
  * `src`. The blocks follow [[Engine.checkpoint]]'s rule: a private local
  * checkpoint (never the session-global CacheManager), freed by the
  * ContextCleaner once unreferenced.
  */
final class CsrEdges private (val blocks: RDD[CsrBlock], val edgeCount: Long) {
  def numPartitions: Int = blocks.getNumPartitions
  override def toString: String = s"CsrEdges(partitions=$numPartitions, edges=$edgeCount)"
}

object CsrEdges {
  /** Spark SQL's placement of a long key: `HashPartitioning(id, n)` puts
    * a row in partition `pmod(murmur3(id, seed 42), n)`, so data placed
    * by this function is co-partitioned with every frame hash-partitioned
    * on that key into `n` partitions.
    */
  def partitionOf(id: Long, n: Int): Int = {
    val m = Murmur3_x86_32.hashLong(id, 42) % n
    if (m < 0) m + n else m
  }

  /** Partitions a shuffle whose keys are partition indexes. */
  final class ByIndex(override val numPartitions: Int) extends Partitioner {
    override def getPartition(j: Any): Int = j.asInstanceOf[Int]
  }

  /** Packs `e` in one job, which also counts its edges. */
  def pack(e: DataFrame, n: Int): CsrEdges = {
    val blocks = e.select(col("src"), col("dst"), col("w"), col("dstDangling"))
      .queryExecution.toRdd
      .map(r => (partitionOf(r.getLong(0), n), (r.getLong(0), r.getLong(1), r.getDouble(2), r.getBoolean(3))))
      .partitionBy(new ByIndex(n))
      .mapPartitions(it => Iterator.single(CsrBlock.pack(it.map(_._2), n)), preservesPartitioning = true)
      .localCheckpoint()
    new CsrEdges(blocks, blocks.map(_.w.length.toLong).fold(0L)(_ + _))
  }
}

/** One contribution-form PageRank superstep (see [[graft.algos.PageRank]])
  * as a Catalyst node. `child` is the previous state `(id, dstDangling,
  * c[, ad])`; the node outputs the next one. Every edge of the CSR
  * blocks carries `w·(base + d·c(src))`, summed per destination: partial
  * sums per block, then one shuffle to each destination's partition
  * ([[CsrEdges.partitionOf]]). With
  * `dBase = Some(base_{k+1} − base_k)` (tol mode) it also outputs the
  * per-vertex L1 term `ad = |dBase + d·(c − c_prev)|`.
  *
  * The physical node requires its child clustered by `id` into the
  * blocks' partition count, so `EnsureRequirements` adds an exchange
  * only when the state is not already placed that way (the first round,
  * after a resume, or with AQE on), and it declares its output
  * hash-partitioned by `id`, so a state checkpointed with AQE off feeds
  * the next round with no exchange. The round's scalars are fields of
  * the node: no per-round scalar join, and no generated code to
  * recompile.
  */
final case class CsrGather(p: CsrGather.Params, output: Seq[Attribute], child: LogicalPlan)
    extends UnaryNode {
  override def producedAttributes: AttributeSet = outputSet
  override protected def withNewChildInternal(c: LogicalPlan): CsrGather = copy(child = c)
}

object CsrGather {

  final case class Params(edges: CsrEdges, base: Double, damping: Double, dBase: Option[Double])

  /** The next state of `state` as a DataFrame. */
  def frame(state: DataFrame, p: Params): DataFrame = {
    val spark = state.sparkSession
    register(spark)
    val out = Seq(
      AttributeReference("id", LongType, nullable = false)(),
      AttributeReference("dstDangling", BooleanType, nullable = false)(),
      AttributeReference("c", DoubleType)()) ++
      p.dBase.map(_ => AttributeReference("ad", DoubleType)())
    GraftDatasets.ofRows(spark, CsrGather(p, out, state.queryExecution.analyzed))
  }

  private object Planning extends SparkStrategy {
    def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
      case g: CsrGather => CsrGatherExec(g.p, g.output, planLater(g.child)) :: Nil
      case _ => Nil
    }
  }

  private def register(spark: SparkSession): Unit = synchronized {
    val m = spark.experimental
    if (!m.extraStrategies.contains(Planning)) m.extraStrategies = Planning +: m.extraStrategies
  }
}

final case class CsrGatherExec(p: CsrGather.Params, output: Seq[Attribute], child: SparkPlan)
    extends UnaryExecNode {
  private def n: Int = p.edges.numPartitions
  private def ordinal(name: String): Int = child.output.indexWhere(_.name == name)

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(child.output(ordinal("id"))), requiredNumPartitions = Some(n)) :: Nil
  override def outputPartitioning: Partitioning = HashPartitioning(output.take(1), n)
  override protected def withNewChildInternal(c: SparkPlan): CsrGatherExec = copy(child = c)

  override protected def doExecute(): RDD[InternalRow] = {
    import CsrGatherExec.{row, Sums}
    val CsrGather.Params(edges, base, d, dBase) = p
    val (idI, cI) = (ordinal("id"), ordinal("c"))
    val state = child.execute().map(r => (r.getLong(idI), r.getDouble(cI)))
    require(state.getNumPartitions == n,
      s"state has ${state.getNumPartitions} partitions, the CSR blocks $n")
    // one message per (block, destination partition): the block's
    // partial sums for the destinations that partition owns
    val partials = edges.blocks.zipPartitions(state) { (blocks, cs) =>
      val c = mutable.LongMap.from(cs)
      val b = blocks.next()
      val sums = new Array[Double](b.dstIds.length)
      var k = 0
      while (k < b.srcIds.length) {
        val r = base + d * c.getOrElse(b.srcIds(k), 0.0)
        var e = b.offsets(k)
        while (e < b.offsets(k + 1)) { sums(b.dst(e)) += b.w(e) * r; e += 1 }
        k += 1
      }
      Iterator.range(0, b.dstSplits.length - 1).filter(j => b.dstSplits(j) < b.dstSplits(j + 1)).map { j =>
        val (lo, hi) = (b.dstSplits(j), b.dstSplits(j + 1))
        (j, Sums(b.dstIds.slice(lo, hi), sums.slice(lo, hi), b.dstDangling.slice(lo, hi)))
      }
    }
    val next = new ShuffledRDD[Int, Sums, Sums](partials, new CsrEdges.ByIndex(n)).mapPartitions { msgs =>
      val c = mutable.LongMap.empty[Double]
      val dangling = mutable.LongMap.empty[Boolean]
      msgs.foreach { case (_, m) =>
        var k = 0
        while (k < m.ids.length) {
          c(m.ids(k)) = c.getOrElse(m.ids(k), 0.0) + m.c(k)
          dangling(m.ids(k)) = m.dangling(k)
          k += 1
        }
      }
      c.iterator.map { case (id, v) => (id, dangling(id), v) }
    }
    val width = output.length
    dBase match {
      case None => next.mapPartitions { it =>
        val w = new UnsafeRowWriter(width)
        it.map { case (id, dangling, c) => row(w, id, dangling, c).getRow }
      }
      case Some(db) => next.zipPartitions(state) { (it, prev) =>
        val w = new UnsafeRowWriter(width)
        val cPrev = mutable.LongMap.from(prev)
        it.map { case (id, dangling, c) =>
          row(w, id, dangling, c).write(3, math.abs(db + d * (c - cPrev.getOrElse(id, 0.0))))
          w.getRow
        }
      }
    }
  }
}

object CsrGatherExec {
  /** One block's partial sums for the destinations of one partition. */
  final case class Sums(ids: Array[Long], c: Array[Double], dangling: Array[Boolean])

  /** Writes `(id, dangling, c)` into `w`'s reused row. */
  def row(w: UnsafeRowWriter, id: Long, dangling: Boolean, c: Double): UnsafeRowWriter = {
    w.reset(); w.zeroOutNullBytes()
    w.write(0, id); w.write(1, dangling); w.write(2, c)
    w
  }
}
