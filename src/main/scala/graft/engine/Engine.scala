package graft.engine

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, GraftDatasets}

import graft.ingest.SnapshotStore

/** One superstep's bookkeeping: wall seconds, convergence delta, edges
  * processed (for the BASELINE.json throughput metric edges/sec per
  * superstep), plus algorithm-specific scalars.
  */
final case class IterationMetrics(
    iter: Int,
    seconds: Double,
    delta: Double,
    edgesProcessed: Long,
    extra: Map[String, Double] = Map.empty
) {
  def edgesPerSec: Double = if (seconds > 0) edgesProcessed / seconds else 0.0
}

/** Optional per-iteration durable checkpointing of algorithm state into a
  * [[SnapshotStore]] table — the north rule's "per-iteration state
  * checkpointed to snapshots … for exact resume". `every = 0` disables
  * durable snapshots (state still materializes in memory each superstep).
  */
final case class CheckpointConfig(store: SnapshotStore, table: String, every: Int = 1)

/** Driver-side helpers for the BSP-style fixpoint loops (Catalyst has no
  * iterative operator; [[Superstep]] is the one loop driver, mirroring the
  * reference's worker loop `core/worker/default_worker.h:87-130`: PEval
  * once, IncEval until no change). Per-round driver work is O(1) (scalar
  * aggregates only), keeping the job shuffle-bound so parallelism scaling
  * stays near-linear.
  */
object Engine {

  /** The one checkpoint call: a LAZY private `localCheckpoint`.
    *
    * Rule: every frame that is read more than once — a loop-invariant
    * input, a round's state, a result read by several branches — goes
    * through `checkpoint`, and the next action on it does the work. That
    * action computes the frame, caches it and cuts its lineage in one
    * job, so "eager" is just `checkpoint` followed by the action the
    * caller runs anyway. Where it runs none, it calls `rdd.count()`: one
    * job with AQE on or off, where a DataFrame `count()` plans an
    * aggregate whose exchange AQE runs as a job of its own.
    *
    *  - Lineage: without the cut a loop's logical plan grows with every
    *    round and analysis/planning dominates (SURVEY.md §7.3).
    *  - Privacy: never `persist()` a loop input. Persist entries live in
    *    the session-global CacheManager keyed by CANONICAL PLAN, so two
    *    concurrent queries that derive the same frame (tg_pagerank vs the
    *    Gremlin pageRank step; tg_ppr vs tg_ppr_sparse) share one entry
    *    and the first to finish unpersists it under the other's loop
    *    (measured under the concurrent Verify driver: four co-scheduled
    *    fixpoints 812 s vs ~90 s standalone; one race over-peeled kcore to
    *    a wrong 2736-row core). A checkpoint is a private,
    *    content-immutable RDD; the ContextCleaner frees it once the frame
    *    is unreferenced.
    *  - Partitioning: with AQE off ([[withoutAQE]]) the checkpoint keeps
    *    the plan's hash partitioning, lazy and eager alike, so a
    *    `repartition(col("src"))` edge table feeds a co-partitioned
    *    superstep join with no exchange on its side. With AQE on both
    *    variants lose it. A state grouped by more keys than the next join
    *    uses is re-hashed every round either way.
    *  - Statistics: the checkpoint carries the size estimate of the plan
    *    it cut, capped at `spark.sql.defaultSizeInBytes`. Uncapped, a step
    *    that joins its state twice squares the estimate every round (SSSP
    *    and WCC reached ~10^230 after 80 rounds) until planning stalls on
    *    the arithmetic.
    */
  def checkpoint(df: DataFrame): DataFrame =
    GraftDatasets.capSizeEstimate(df.localCheckpoint(false))

  /** Run `f` with AQE disabled, restoring the previous setting after.
    *
    * The superstep plans are statically shaped — co-partitioned hinted
    * joins, shuffle partitions pinned to the core count — so AQE has
    * nothing to improve and its per-query-stage materialize/re-optimize
    * barriers add ~0.1s of driver-serial latency per stage, which is pure
    * loss repeated every superstep. AQE stays on for the derivation and
    * the relational plane, where join-strategy/skew adaptivity does pay.
    *
    * `-Dgraft.aqe.freeze=true` turns the toggle into a no-op (AQE stays
    * wherever the session left it). The concurrent Verify driver sets it:
    * the session conf is SHARED across threads, so racing save/restore
    * pairs from parallel queries would flip AQE at arbitrary points in
    * other queries' planning. The price is that Verify's loops run with
    * AQE on, so its wall times are not the engine's AQE-off loop times.
    */
  def withoutAQE[A](spark: org.apache.spark.sql.SparkSession)(f: => A): A = {
    if (sys.props.get("graft.aqe.freeze").contains("true")) return f
    val key = "spark.sql.adaptive.enabled"
    val old = spark.conf.get(key, "true")
    spark.conf.set(key, "false")
    try f
    finally spark.conf.set(key, old)
  }

  /** A per-iteration scalar as a 1-row DataFrame column, to `crossJoin`.
    *
    * Embedding an iteration-dependent value with `lit(x)` changes the
    * generated whole-stage code every superstep, forcing a fresh Janino
    * compile (~0.5-1s, driver-serial) per iteration — it flattens
    * multi-core scaling completely. Routing the value through a
    * LocalRelation keeps the plan (and the codegen cache key) identical
    * across iterations; only the row data changes.
    *
    * Do not wrap it in `broadcast()`: broadcasting collects the local
    * scan through a Spark job of its own, one extra job per round per
    * scalar. The frame carries a `shuffle_replicate_nl` hint instead, so
    * the cross join plans as a CartesianProduct against the one-partition
    * local scan, inside the job that consumes it.
    */
  def scalar(spark: org.apache.spark.sql.SparkSession, name: String, value: Double): DataFrame = {
    import spark.implicits._
    Seq(value).toDF(name).hint("shuffle_replicate_nl")
  }

  def scalarLong(spark: org.apache.spark.sql.SparkSession, name: String, value: Long): DataFrame = {
    import spark.implicits._
    Seq(value).toDF(name).hint("shuffle_replicate_nl")
  }

  /** Collects per-iteration metrics for the bench report. */
  final class MetricsLog {
    private val buf = ArrayBuffer.empty[IterationMetrics]
    def record(m: IterationMetrics): Unit = buf += m
    def all: Seq[IterationMetrics] = buf.toSeq
    def iterations: Int = buf.size
    def totalSeconds: Double = buf.map(_.seconds).sum
  }
}
