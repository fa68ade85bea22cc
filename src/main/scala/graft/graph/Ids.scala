package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic dense-id assignment (oid → 0-based Long rank by sort
  * order) without a single-partition global window.
  *
  * The reference keeps an oid→gid map per fragment
  * (`core/vertex_map/global_vertex_map.h`); gids there encode
  * (fragment,label,offset) and are engine-specific. Ours are globally
  * dense ranks by oid sort order, which makes them reproducible from SQL
  * (`row_number() over (order by oid)` − 1) — the property the DuckDB
  * oracle relies on.
  *
  * Scale path: range-repartition by the key (so partitions are sorted key
  * ranges), rank *within* each partition with a window, then add the
  * exclusive prefix-sum of partition sizes (a tiny driver-side array,
  * O(#partitions)). Global rank is independent of where the sampled range
  * boundaries fall, so the result is deterministic even though
  * `repartitionByRange` samples.
  */
object Ids {

  /** Returns (id: Long, <keyCol>) for the distinct keys of `df`, with id =
    * dense 0-based rank of the key. Input column must be non-null.
    */
  def denseRank(df: DataFrame, keyCol: String, numParts: Int = 0): DataFrame = {
    val spark = df.sparkSession
    val parts =
      if (numParts > 0) numParts
      else spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
    // Materialize the distinct BEFORE range partitioning:
    // repartitionByRange samples its child to pick boundaries, which
    // would re-execute the full upstream pipeline (at bench scale the
    // 50M-row generation+distinct ran twice — measured ~25 s of pure
    // waste). The distinct key set is small; checkpoint it once and let
    // the sampling pass read the materialized rows.
    val keys = graft.engine.Engine.checkpoint(df.select(col(keyCol)).distinct())
    keys.rdd.count()
    val distinctKeys = keys.repartitionByRange(parts, col(keyCol))
    // Materialize the pid-stamped frame before branching: the offsets
    // collect and the final join must see the SAME partition assignment,
    // but repartitionByRange samples with a per-execution seed (rdd.id) —
    // two lazy re-executions can disagree on boundaries, which silently
    // corrupts the ids (duplicate/shifted ranks). Caught by the DuckDB
    // oracle at sf0.01.
    val withPid = graft.engine.Engine.checkpoint(distinctKeys
      .withColumn("__pid", spark_partition_id()))
    withPid.rdd.count()
    val localRank = withPid.withColumn(
      "__rank",
      row_number().over(Window.partitionBy(col("__pid")).orderBy(col(keyCol))).cast("long") - 1L
    )
    // Exclusive prefix sum of partition sizes: O(#partitions) on the driver.
    val counts: Array[(Int, Long)] = localRank
      .groupBy(col("__pid")).count()
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    val offsets = counts.scanLeft((0, 0L)) { case ((_, acc), (pid, n)) => (pid, acc + n) }
    val offsetByPid: Map[Int, Long] =
      counts.map(_._1).zip(offsets.map(_._2).dropRight(1)).toMap
    val offsetsDf = spark.createDataFrame(
      offsetByPid.toSeq.map { case (p, o) => (p, o) }
    ).toDF("__pid", "__offset")
    localRank
      .join(broadcast(offsetsDf), "__pid")
      .select((col("__rank") + col("__offset")).as("id"), col(keyCol))
  }
}
