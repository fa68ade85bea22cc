package graft.cases

import org.apache.spark.sql.functions._

import graft.Case
import graft.Case._
import graft.ml.{KMeans, Quantize, Similarity}
import graft.synth.{LshSql, SynthSql2, SynthSql5}

/** Vector plane: exact and approximate nearest-neighbour search,
  * quantization and clustering over the `embeddings` table.
  */
object VectorCases {
  /** Query vectors of the top-k searches. */
  private val Queries = (0L until 10L).toSeq

  val cases: Seq[Case] = Seq(
    // ANN quality audit: recall@5 of the sign-LSH index vs the exact
    // brute-force top-k, per query — the measurement a pipeline runs
    // before trusting an approximate index
    query("s_ann_recall",
      s"""SELECT bf.query_id AS query_id,
         |       round(CAST(count(lsh.neighbor_id) AS DOUBLE) / 5, 4) AS recall5
         |FROM (${SynthSql2.cosineTopKSql(Queries, 5)}) bf
         |LEFT JOIN (${LshSql.lshTopKSql(Queries, 5)}) lsh
         |  ON bf.query_id = lsh.query_id AND bf.neighbor_id = lsh.neighbor_id
         |GROUP BY 1""".stripMargin) { (s, dir) =>
      val e = table(s, dir, "embeddings")
      val bf = Similarity.bruteForceTopK(e, "vec_id", "embedding", Queries, 5)
        .select(col("query_id"), col("neighbor_id"))
      val ann = Similarity.lshTopK(e, "vec_id", "embedding", Queries, 5)
        .select(col("query_id").as("aq"), col("neighbor_id").as("an"))
      bf.join(ann, col("query_id") === col("aq") && col("neighbor_id") === col("an"), "left")
        .groupBy(col("query_id"))
        .agg(round(count(col("an")).cast("double") / 5.0, 4).as("recall5"))
    },
    query("s_cosine_topk", SynthSql2.cosineTopKSql(Queries, 5))((s, dir) =>
      Similarity.bruteForceTopK(table(s, dir, "embeddings"), "vec_id", "embedding", Queries, 5)),
    query("s_lsh_topk", LshSql.lshTopKSql(Queries, 5))((s, dir) =>
      Similarity.lshTopK(table(s, dir, "embeddings"), "vec_id", "embedding", Queries, 5)),
    // SQ8 compressed-domain ANN (FAISS SQ8-flat analog): exact top-k by
    // INTEGER dot product over int8 codes — no float rounding policy
    // crosses the engine boundary at all
    query("s_sq8_topk", LshSql.sq8TopKSql(Queries, 5))((s, dir) =>
      Quantize.sq8TopK(table(s, dir, "embeddings"), "vec_id", "embedding", Queries, 5)),
    // PQ-ADC ANN (FAISS PQ-flat analog): per-subspace strided
    // codebooks, integer-scaled sub-L2² encode + sub-dot ADC scores —
    // order-free integer sums across engines
    query("s_pq_topk", LshSql.pqTopKSql(Queries, 5))((s, dir) =>
      Quantize.pqTopK(table(s, dir, "embeddings"), "vec_id", "embedding", Queries, 5)),
    // Lloyd k-means corpus clustering (cosine, deterministic init +
    // rounded-mean updates — the domain-balancing cluster step)
    query("s_kmeans", SynthSql5.kmeansSql(8, 2, 64))((s, dir) =>
      KMeans.assignments(table(s, dir, "embeddings"), "vec_id", "embedding", 8, 2)),
    // int8 scalar quantization audit (FAISS SQ8 analog): per-dim corpus
    // bounds → 1-row broadcast → pure map stage; order-free outputs
    query("s_quantize", LshSql.quantizeSql)((s, dir) =>
      Quantize.scalarQuantizeAudit(table(s, dir, "embeddings"), "vec_id", "embedding")),
    // IVF coarse-quantizer ANN (the second scale path beside sign-LSH):
    // strided centroids, one argmax assignment pass, probe-partition
    // candidates as bare ids
    query("s_ivf_topk", SynthSql5.ivfTopKSql(Queries, 5))((s, dir) =>
      Similarity.ivfTopK(table(s, dir, "embeddings"), "vec_id", "embedding", Queries, 5)),
    // embedding-cosine near-dup pairs (bucket-guarded sign-LSH candidates)
    query("s_cosine_pairs", LshSql.cosinePairsSql(0.35))((s, dir) =>
      Similarity.cosineNearDupPairs(table(s, dir, "embeddings"), "vec_id", "embedding", threshold = 0.35))
  )
}
