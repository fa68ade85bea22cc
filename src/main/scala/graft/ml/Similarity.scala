package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Approximate/exact nearest-neighbor search over an embedding column
  * (`array<float>`), pure `functions._` (codegen'd higher-order
  * functions, no UDFs):
  *
  *  - brute-force cosine top-k (the correctness baseline; broadcast the
  *    query set, scan the corpus once);
  *  - LSH-bucketed variant (random-hyperplane signs from deterministic
  *    pseudo-planes): the scale path — candidates come from a bucket
  *    equi-join instead of a full cross product.
  */
object Similarity {

  /** Dot product of two float-array columns, in double. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  def l2norm(a: Column): Column =
    sqrt(aggregate(transform(a, x => x.cast("double") * x.cast("double")),
      lit(0.0), (acc, x) => acc + x))

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (l2norm(a) * l2norm(b))

  /** Exact top-k cosine neighbors for each query id.
    * Queries are a (small) subset of the corpus by id; the corpus scan is
    * a single broadcast-join pass, ranking via window. Deterministic
    * tie-break: (rounded sim desc, neighbor id asc).
    *
    * @return (query_id, neighbor_id, cos_sim rounded to 5 dp, rank)
    */
  def bruteForceTopK(
      corpus: DataFrame, idCol: String, vecCol: String,
      queryIds: Seq[Long], k: Int
  ): DataFrame = {
    val q = corpus
      .where(col(idCol).isin(queryIds: _*))
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("cos_sim").desc, col("neighbor_id").asc)
    corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("nv"))
      .crossJoin(broadcast(q))
      .where(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(cosine(col("qv"), col("nv")), 5).as("cos_sim"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
  }

  /** Deterministic pseudo-hyperplane component for (plane p, dim i): a
    * quadratic integer scramble mapped to [-1, 1). Pure int64 arithmetic
    * (x ≤ ~5e7, x² ≤ 2.5e15) — identical in DuckDB SQL (`LshSql`), so
    * LSH bucket keys are oracle-checkable cross-engine. The x² term
    * breaks linearity in (p, i): affine-in-i "planes" would be rank-2
    * and degrade bucket independence.
    */
  private def planeComponent(p: Int, i: Column): Column = {
    val x = i.cast("long") * 7919L + lit(p.toLong * 1000003L + 12345L)
    val v = (((x * x) % 1000003L) * 31L + x) % 1000000L
    v.cast("double") / 500000.0 - 1.0
  }

  /** Bare (id, table, key) bucket table for `nTables` independent plane
    * sets (table t uses planes t·nPlanes .. t·nPlanes+nPlanes-1). The
    * vector payload is deliberately NOT carried: candidates ride the
    * bucket shuffle as bare ids and vectors are re-joined by id only for
    * final scoring — the same payload-free-candidate shape as the
    * MinHash family.
    */
  private def bucketTable(
      corpus: DataFrame, idCol: String, vecCol: String,
      nPlanes: Int, nTables: Int, maxBucket: Int
  ): DataFrame = {
    val buckets = (0 until nTables).map { t =>
      val bits = (0 until nPlanes).map { p =>
        val proj = aggregate(
          zip_with(col(vecCol), sequence(lit(0), size(col(vecCol)) - 1),
            (x, i) => x.cast("double") * planeComponent(t * nPlanes + p, i)),
          lit(0.0), (acc, x) => acc + x)
        when(proj > 0, lit(1L) * (1L << p)).otherwise(0L)
      }
      struct(lit(t).as("table"), bits.reduce(_ + _).as("key"))
    }
    val hashed = corpus.select(col(idCol).as("id"),
      explode(array(buckets: _*)).as("b"))
      .select(col("id"), col("b.table"), col("b.key"))
    // skew guard (groupBy count, map-side combined — never a window):
    // drop degenerate buckets (e.g. the all-zeros key from near-origin
    // vectors) instead of letting one bucket drive an O(n²) self-join.
    val keep = hashed.groupBy(col("table"), col("key"))
      .agg(count(lit(1)).as("bs"))
      .where(col("bs") <= maxBucket)
      .select(col("table"), col("key"))
    hashed.join(keep, Seq("table", "key"))
  }

  /** Approximate top-k: only candidates sharing the query's LSH bucket
    * (any of `nTables` independent plane sets) are scored. Recall is
    * traded for a bucket equi-join instead of a cross product — the
    * 100 TB path. Candidate generation is payload-free (bare ids in the
    * bucket join); vectors are re-joined by id for scoring, and the
    * hashed corpus is computed once (queries filter the persisted table
    * rather than re-hashing).
    */
  def lshTopK(
      corpus: DataFrame, idCol: String, vecCol: String,
      queryIds: Seq[Long], k: Int,
      nPlanes: Int = 8, nTables: Int = 4, maxBucket: Int = 100000
  ): DataFrame = {
    val hashed = bucketTable(corpus, idCol, vecCol, nPlanes, nTables, maxBucket)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val q = hashed.where(col("id").isin(queryIds: _*))
      .select(col("id").as("query_id"), col("table"), col("key"))
    val vecs = corpus.select(col(idCol).as("id"), col(vecCol).as("v"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("cos_sim").desc, col("neighbor_id").asc)
    hashed
      .join(broadcast(q), Seq("table", "key"))
      .where(col("id") =!= col("query_id"))
      .select(col("query_id"), col("id").as("neighbor_id"))
      .distinct()
      .join(vecs.select(col("id").as("query_id"), col("v").as("qv")), "query_id")
      .join(vecs.select(col("id").as("neighbor_id"), col("v").as("nv")), "neighbor_id")
      .select(col("query_id"), col("neighbor_id"),
        round(cosine(col("qv"), col("nv")), 5).as("cos_sim"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
  }

  /** IVF-partitioned approximate top-k — the coarse-quantizer scale path
    * beside sign-LSH: the corpus is assigned once to `nCentroids`
    * deterministic centroids (a strided sample of the corpus itself —
    * IVF-flat with sampled centroids; Lloyd refinement is deliberately
    * omitted so the assignment is exact integer+rounded-double
    * arithmetic both engines reproduce), each query probes its `nProbe`
    * nearest centroids and scores ONLY vectors assigned there. Shapes
    * for scale: centroids broadcast (tiny), assignment is one
    * partial-aggregated argmax pass over the corpus, candidates ride the
    * probe join as bare (query_id, id) — vectors re-join by id for the
    * final cosine, the same payload-free discipline as [[lshTopK]].
    * Ties in assignment/probing break to the smaller centroid id on the
    * 5-dp-rounded similarity (the cross-engine float discipline every
    * cosine query here uses). `nProbe = nCentroids` degrades to exact
    * brute force (spec-checked equivalence).
    */
  def ivfTopK(
      corpus: DataFrame, idCol: String, vecCol: String,
      queryIds: Seq[Long], k: Int,
      nCentroids: Int = 16, nProbe: Int = 4
  ): DataFrame = {
    val n = corpus.count()
    val step = math.max(1L, n / nCentroids)
    val cents = corpus.where(pmod(col(idCol), lit(step)) === 0)
      .orderBy(col(idCol)).limit(nCentroids)
      .select(col(idCol).as("cid"), col(vecCol).as("cv"))
    val vecs = corpus.select(col(idCol).as("id"), col(vecCol).as("v"))
    // one argmax pass: nearest centroid per corpus vector (map-side
    // combined max_by; tie → smaller cid via the negated id in the key)
    val assigned = vecs
      .crossJoin(broadcast(cents))
      .select(col("id"),
        col("cid"), round(cosine(col("v"), col("cv")), 5).as("sim"))
      .groupBy(col("id"))
      .agg(max_by(col("cid"), struct(col("sim"), (-col("cid")).as("nc"))).as("cid"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("cos_sim").desc, col("neighbor_id").asc)
    val pw = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("sim").desc, col("cid").asc)
    val probes = corpus.where(col(idCol).isin(queryIds: _*))
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .crossJoin(broadcast(cents))
      .select(col("query_id"), col("cid"), round(cosine(col("qv"), col("cv")), 5).as("sim"))
      .withColumn("pr", row_number().over(pw))
      .where(col("pr") <= nProbe)
      .select(col("query_id"), col("cid"))
    probes.join(assigned, Seq("cid"))
      .where(col("id") =!= col("query_id"))
      .select(col("query_id"), col("id").as("neighbor_id"))
      .join(vecs.select(col("id").as("query_id"), col("v").as("qv")), "query_id")
      .join(vecs.select(col("id").as("neighbor_id"), col("v").as("nv")), "neighbor_id")
      .select(col("query_id"), col("neighbor_id"),
        round(cosine(col("qv"), col("nv")), 5).as("cos_sim"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
  }

  /** Embedding-cosine near-duplicate pairs above a similarity threshold,
    * LSH-bucketed (id_a < id_b). Same payload-free candidate shape as
    * [[lshTopK]]: bare ids through the bucket self-join + distinct,
    * vectors re-joined by id only for the final cosine.
    */
  def cosineNearDupPairs(
      corpus: DataFrame, idCol: String, vecCol: String,
      threshold: Double, nPlanes: Int = 8, nTables: Int = 4,
      maxBucket: Int = 100000
  ): DataFrame = {
    val hashed = bucketTable(corpus, idCol, vecCol, nPlanes, nTables, maxBucket)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val vecs = corpus.select(col(idCol).as("id"), col(vecCol).as("v"))
    hashed.as("l").join(hashed.as("r"),
      col("l.table") === col("r.table") && col("l.key") === col("r.key") &&
        col("l.id") < col("r.id"))
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"))
      .distinct()
      .join(vecs.select(col("id").as("id_a"), col("v").as("va")), "id_a")
      .join(vecs.select(col("id").as("id_b"), col("v").as("vb")), "id_b")
      .select(col("id_a"), col("id_b"), round(cosine(col("va"), col("vb")), 5).as("cos_sim"))
      .where(col("cos_sim") >= threshold)
  }
}
