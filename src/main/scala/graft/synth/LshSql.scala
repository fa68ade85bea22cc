package graft.synth

import graft.text.TextOps

/** DuckDB-SQL twins of the LSH/sketch family ([[graft.text.Dedup]] MinHash
  * groups + SimHash pairs, [[graft.ml.Similarity]] sign-LSH top-k).
  *
  * All three pipelines are built on [[TextOps.portableHash]] — a
  * position-weighted character hash in pure 64-bit-safe integer
  * arithmetic — and on integer-scrambled pseudo-hyperplanes, so the
  * *entire* pipeline (shingling → hashing → banding → candidate join →
  * verification → grouping) is restated here verbatim and the driver's
  * DuckDB oracle checks full values, not row counts. Validated in
  * lockstep against an independent reference implementation at build
  * time.
  */
object LshSql {

  private val P = TextOps.HashP

  private val toksSql =
    """list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')"""

  /** `portableHash` of the string-valued SQL expression `sv` (shared by
    * the sketch twins here and the sampling-walk twin in `SynthSql3`).
    * Each position term is modded by P *before* the sum (same residue —
    * Spark's twin mods incrementally) so the running sum stays ≤ len·P
    * and cannot overflow BIGINT even for long high-codepoint strings.
    */
  def phash(sv: String): String =
    s"""(coalesce(list_aggregate(list_transform(generate_series(1, length($sv)), """ +
      s"""i -> (CAST(ascii(substr($sv, i, 1)) AS BIGINT) * """ +
      s"""((((CAST(i AS BIGINT) * i) % $P) * 1000003 + i*7919 + 12345) % $P)) % $P), 'sum'), 0) % $P)"""

  /** MinHash+LSH near-dup groups: shingles → signatures → bands →
    * bucket join (with the same maxBucket skew guard) → Jaccard
    * verification → min-id connected components (`wccRounds` unrolled
    * HashMin, verified converged at build time). Matches
    * `Dedup.minhashGroups(idCol="doc_id", textCol="text")`.
    */
  def minhashGroupsSql(
      numHashes: Int = 16, bands: Int = 8, shingleSize: Int = 3,
      threshold: Double = 0.5, maxBucket: Int = 1000, wccRounds: Int = 10
  ): String = {
    val rows = numHashes / bands
    val n = shingleSize
    val wcc = (1 to wccRounds).map { k =>
      val p = s"w${k - 1}"
      s"""w$k AS MATERIALIZED (
         |  SELECT v.id, least(p.comp, coalesce(m.mc, p.comp)) AS comp
         |  FROM nds v JOIN $p p ON v.id = p.id
         |  LEFT JOIN (SELECT u.b AS id, min(pc.comp) AS mc FROM undp u JOIN $p pc ON u.a = pc.id GROUP BY u.b) m
         |    ON m.id = v.id)""".stripMargin
    }.mkString(",\n")
    s"""WITH t AS (SELECT doc_id AS id, $toksSql AS toks FROM documents),
       |base AS MATERIALIZED (
       |  SELECT id, list_distinct(list_transform(generate_series(1, len(toks) - ${n - 1}), i ->
       |    array_to_string(list_slice(toks, i, i + ${n - 1}), ''))) AS shs
       |  FROM t WHERE len(toks) >= $n),
       |shh AS MATERIALIZED (
       |  SELECT id, ${phash("s")} AS h FROM (SELECT id, unnest(shs) AS s FROM base)),
       |sig AS MATERIALIZED (
       |  SELECT id, j, min((h * (1 + 2*j) + 7919*(j+1)) % $P) AS mh
       |  FROM shh CROSS JOIN (SELECT unnest(generate_series(0, ${numHashes - 1})) AS j) jj
       |  GROUP BY id, j),
       |bnd AS MATERIALIZED (
       |  SELECT id, j // $rows AS band, list(mh ORDER BY j) AS key FROM sig GROUP BY id, j // $rows),
       |bs AS (SELECT band, key, count(*) AS c FROM bnd GROUP BY band, key),
       |cand AS MATERIALIZED (
       |  SELECT DISTINCT l.id AS id_a, r.id AS id_b
       |  FROM bnd l JOIN bnd r ON l.band = r.band AND l.key = r.key AND l.id < r.id
       |  JOIN bs ON bs.band = l.band AND bs.key = l.key
       |  WHERE bs.c <= $maxBucket),
       |prs AS MATERIALIZED (
       |  SELECT id_a, id_b FROM (
       |    SELECT c.id_a, c.id_b,
       |           CAST(len(list_intersect(a.shs, b.shs)) AS DOUBLE) /
       |             len(list_distinct(list_concat(a.shs, b.shs))) AS jac
       |    FROM cand c JOIN base a ON a.id = c.id_a JOIN base b ON b.id = c.id_b) z
       |  WHERE jac >= $threshold),
       |nds AS MATERIALIZED (SELECT DISTINCT id FROM (SELECT id_a AS id FROM prs UNION ALL SELECT id_b FROM prs) x),
       |undp AS MATERIALIZED (SELECT id_a AS a, id_b AS b FROM prs UNION ALL SELECT id_b, id_a FROM prs),
       |w0 AS (SELECT id, id AS comp FROM nds),
       |$wcc
       |SELECT n.id AS doc_id, w.comp AS group_id FROM nds n JOIN w$wccRounds w ON n.id = w.id""".stripMargin
  }

  /** SimHash near-dup pairs: 64-bit parity-vote sketch (affine scramble
    * of the token hash per bit, bit 63 via the signed MIN_VALUE literal),
    * 4×16-bit banding, Hamming ≤ maxDist. Matches `Dedup.simhashPairs`.
    */
  def simhashPairsSql(maxDist: Int = 3): String =
    s"""WITH t AS (SELECT doc_id AS id, $toksSql AS toks FROM documents),
       |th AS MATERIALIZED (SELECT id, ${phash("w")} AS h FROM (SELECT id, unnest(toks) AS w FROM t)),
       |bits AS MATERIALIZED (
       |  SELECT id, b,
       |         sum(CASE WHEN ((h * (2654435761 + 40503*b) + (7919*b + 17)) % $P) % 2 = 1 THEN 1 ELSE -1 END) AS v
       |  FROM th CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS b) bb GROUP BY id, b),
       |sg AS MATERIALIZED (
       |  SELECT id, CAST(sum(CASE WHEN v > 0 THEN
       |      (CASE WHEN b = 63 THEN -9223372036854775807 - 1 ELSE (CAST(1 AS BIGINT) << b) END)
       |    ELSE 0 END) AS BIGINT) AS sig
       |  FROM bits GROUP BY id),
       |bnd AS MATERIALIZED (
       |  SELECT id, sig, b AS band, (sig >> (b*16)) & 65535 AS key
       |  FROM sg CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS b) bb),
       |prs AS (SELECT DISTINCT l.id AS id_a, r.id AS id_b, l.sig AS sig_a, r.sig AS sig_b
       |        FROM bnd l JOIN bnd r ON l.band = r.band AND l.key = r.key AND l.id < r.id)
       |SELECT id_a, id_b, CAST(bit_count(xor(sig_a, sig_b)) AS BIGINT) AS hamming
       |FROM prs WHERE bit_count(xor(sig_a, sig_b)) <= $maxDist""".stripMargin

  /** Pseudo-hyperplane component for (plane expr, dim expr) in [-1, 1) —
    * twin of `Similarity.planeComponent`.
    */
  private def pcSql(pExpr: String, iExpr: String): String = {
    val x = s"(CAST($pExpr AS BIGINT) * 1000003 + CAST($iExpr AS BIGINT) * 7919 + 12345)"
    s"((((($x * $x) % 1000003) * 31 + $x) % 1000000) / 500000.0 - 1.0)"
  }

  /** Sign-LSH approximate top-k over the embeddings table — bucket keys
    * from `nPlanes` sign bits per table, candidates = bucket co-members
    * across `nTables` tables, scored/ranked like the brute-force twin.
    * Matches `Similarity.lshTopK(idCol="vec_id", vecCol="embedding")`.
    */
  /** Shared sign-LSH bucket CTE prefix: `e` (vectors), `ks` (bucket key
    * per table), `bsz` (bucket sizes for the skew guard).
    */
  private def bucketCtes(nPlanes: Int, nTables: Int): String = {
    val keyExpr = (0 until nPlanes).map { pl =>
      val proj = s"list_aggregate(list_transform(generate_series(1, len(v)), i -> " +
        s"v[i] * ${pcSql(s"(t*$nPlanes + $pl)", "(i - 1)")}), 'sum')"
      s"(CASE WHEN $proj > 0 THEN ${1L << pl} ELSE 0 END)"
    }.mkString(" + ")
    s"""e AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |ks AS MATERIALIZED (
       |  SELECT vec_id, t, CAST($keyExpr AS BIGINT) AS key
       |  FROM e CROSS JOIN (SELECT unnest(generate_series(0, ${nTables - 1})) AS t) tt),
       |bsz AS (SELECT t, key, count(*) AS c FROM ks GROUP BY t, key)""".stripMargin
  }

  def lshTopKSql(
      queryIds: Seq[Long], k: Int, nPlanes: Int = 8, nTables: Int = 4,
      maxBucket: Int = 100000): String = {
    val ids = queryIds.mkString(", ")
    s"""WITH ${bucketCtes(nPlanes, nTables)},
       |q AS (SELECT vec_id AS query_id, t, key FROM ks WHERE vec_id IN ($ids)),
       |cand AS (SELECT DISTINCT q.query_id, c.vec_id AS neighbor_id
       |         FROM q JOIN ks c ON c.t = q.t AND c.key = q.key AND c.vec_id <> q.query_id
       |         JOIN bsz ON bsz.t = q.t AND bsz.key = q.key
       |         WHERE bsz.c <= $maxBucket),
       |scored AS (
       |  SELECT query_id, neighbor_id,
       |         round(list_dot_product(qa.v, ca.v) /
       |               (sqrt(list_dot_product(qa.v, qa.v)) * sqrt(list_dot_product(ca.v, ca.v))), 5) AS cos_sim
       |  FROM cand JOIN e qa ON qa.vec_id = cand.query_id JOIN e ca ON ca.vec_id = cand.neighbor_id)
       |SELECT query_id, neighbor_id, cos_sim, CAST(rank AS INTEGER) AS rank FROM (
       |  SELECT query_id, neighbor_id, cos_sim,
       |         row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
       |  FROM scored) z
       |WHERE rank <= $k""".stripMargin
  }

  /** Embedding-cosine near-dup pairs — all co-bucket pairs (any of the
    * `nTables` plane sets, bucket-size-guarded) with cosine ≥ threshold.
    * Matches `Similarity.cosineNearDupPairs(idCol="vec_id",
    * vecCol="embedding")`.
    */
  def cosinePairsSql(
      threshold: Double, nPlanes: Int = 8, nTables: Int = 4,
      maxBucket: Int = 100000): String =
    s"""WITH ${bucketCtes(nPlanes, nTables)},
       |cand AS (SELECT DISTINCT l.vec_id AS id_a, r.vec_id AS id_b
       |         FROM ks l JOIN ks r ON r.t = l.t AND r.key = l.key AND l.vec_id < r.vec_id
       |         JOIN bsz ON bsz.t = l.t AND bsz.key = l.key
       |         WHERE bsz.c <= $maxBucket)
       |SELECT id_a, id_b, cos_sim FROM (
       |  SELECT id_a, id_b,
       |         round(list_dot_product(a.v, b.v) /
       |               (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 5) AS cos_sim
       |  FROM cand JOIN e a ON a.vec_id = cand.id_a JOIN e b ON b.vec_id = cand.id_b) z
       |WHERE cos_sim >= $threshold""".stripMargin

  /** Twin of `Quantize.scalarQuantizeAudit` (int8 scalar quantization
    * audit): per-dimension corpus [lo, hi], clamp-floor codes, and the
    * ORDER-FREE outputs (integer code sum + max |x − x̂| to 9 dp) — so
    * no float summation order crosses the engine boundary; every
    * per-element double expression mirrors the Spark side
    * parenthesis-for-parenthesis.
    */
  def quantizeSql: String = {
    val code = """CASE WHEN his[i] > los[i]
      | THEN CAST(least(greatest(floor(((CAST(embedding[i] AS DOUBLE) - los[i]) / (his[i] - los[i])) * 255.0 + 0.5), 0.0), 255.0) AS BIGINT)
      | ELSE CAST(0 AS BIGINT) END""".stripMargin.replace("\n", " ")
    val err = s"""abs(CAST(embedding[i] AS DOUBLE) - (los[i] + (CAST(($code) AS DOUBLE) / 255.0) * (his[i] - los[i])))"""
    s"""WITH ex AS (SELECT vec_id, unnest(embedding) AS x,
       |            unnest(generate_series(1, len(embedding))) AS pos FROM embeddings),
       |stats AS (SELECT pos, min(CAST(x AS DOUBLE)) AS lo, max(CAST(x AS DOUBLE)) AS hi
       |          FROM ex GROUP BY pos),
       |b AS (SELECT list(lo ORDER BY pos) AS los, list(hi ORDER BY pos) AS his FROM stats)
       |SELECT vec_id,
       |  CAST(list_aggregate(list_transform(generate_series(1, len(embedding)), i -> $code), 'sum') AS BIGINT) AS sum_codes,
       |  round(list_max(list_transform(generate_series(1, len(embedding)), i -> $err)), 9) AS max_abs_err,
       |  CAST(len(embedding) AS BIGINT) AS n_dims
       |FROM embeddings, b""".stripMargin
  }

  /** Twin of `Quantize.sq8TopK` (SQ8 compressed-domain ANN): symmetric
    * global-scale clamp-floor codes (one `M = max |x|` scale — NOT the
    * audit's per-dimension [lo, hi], which would destroy dot-product
    * ranking), then INTEGER dot products of the code lists — bit-exact
    * cross-engine with no rounding policy at all — ranked
    * (score desc, neighbor asc) per query.
    */
  def sq8TopKSql(queryIds: Seq[Long], k: Int): String = {
    val ids = queryIds.mkString(", ")
    val code =
      "CAST(least(greatest(floor(CAST(embedding[i] AS DOUBLE) / m * 127.0 + 0.5), -127.0), 127.0) AS BIGINT)"
    s"""WITH b AS (SELECT max(abs(CAST(x AS DOUBLE))) AS m
       |           FROM (SELECT unnest(embedding) AS x FROM embeddings)),
       |coded AS MATERIALIZED (
       |  SELECT vec_id,
       |         list_transform(generate_series(1, len(embedding)), i -> $code) AS codes
       |  FROM embeddings, b),
       |q AS (SELECT vec_id AS query_id, codes AS qc FROM coded WHERE vec_id IN ($ids)),
       |scored AS (
       |  SELECT q.query_id, c.vec_id AS neighbor_id,
       |         CAST(list_aggregate(list_transform(generate_series(1, len(q.qc)),
       |                i -> q.qc[i] * c.codes[i]), 'sum') AS BIGINT) AS score
       |  FROM coded c CROSS JOIN q WHERE c.vec_id <> q.query_id)
       |SELECT query_id, neighbor_id, score, CAST(rank AS INTEGER) AS rank FROM (
       |  SELECT query_id, neighbor_id, score,
       |         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC) AS rank
       |  FROM scored) z
       |WHERE rank <= $k""".stripMargin
  }

  /** Twin of `Quantize.pqTopK` (PQ-ADC ANN): strided-sample codebooks
    * per subspace (the IVF init policy), encode by integer-scaled
    * sub-L2² argmin (ties → smaller centroid id), ADC score = Σ over
    * subspaces of integer-scaled sub-dots — order-free integer sums,
    * so no float summation order crosses engines. The subspace width
    * `sw` is the vector dimension over `m`, read from the data.
    */
  def pqTopKSql(queryIds: Seq[Long], k: Int, m: Int = 8, nCentroids: Int = 16): String = {
    val ids = queryIds.mkString(", ")
    val d2i =
      """CAST(floor(list_aggregate(list_transform(generate_series(1, cb.sw),
         | i -> (v[cb.j*cb.sw+i] - cvj[i]) * (v[cb.j*cb.sw+i] - cvj[i])), 'sum') * 100000.0 + 0.5) AS BIGINT)"""
        .stripMargin.replace("\n", " ")
    val sji =
      """CAST(floor(list_aggregate(list_transform(generate_series(1, cb.sw),
         | i -> qv[cb.j*cb.sw+i] * cvj[i]), 'sum') * 100000.0 + 0.5) AS BIGINT)"""
        .stripMargin.replace("\n", " ")
    s"""WITH e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |nn AS (SELECT count(*) AS n, max(len(v)) // $m AS sw FROM e),
       |cents AS (SELECT id AS cid, v AS cv FROM e, nn
       |          WHERE id % greatest(1, n // $nCentroids) = 0
       |          ORDER BY id LIMIT $nCentroids),
       |cb AS MATERIALIZED (
       |  SELECT j, cid, sw, list_slice(cv, j*sw+1, j*sw+sw) AS cvj
       |  FROM cents, nn, (SELECT unnest(generate_series(0, ${m - 1})) AS j) js),
       |codes AS MATERIALIZED (
       |  SELECT id, j, cid FROM (
       |    SELECT e.id, cb.j, cb.cid,
       |           row_number() OVER (PARTITION BY e.id, cb.j
       |                              ORDER BY $d2i ASC, cb.cid ASC) AS rn
       |    FROM e CROSS JOIN cb) z WHERE rn = 1),
       |q AS (SELECT id AS query_id, v AS qv FROM e WHERE id IN ($ids)),
       |scored AS (
       |  SELECT q.query_id, c.id AS neighbor_id, CAST(sum($sji) AS BIGINT) AS score
       |  FROM codes c JOIN cb ON cb.j = c.j AND cb.cid = c.cid
       |  CROSS JOIN q WHERE c.id <> q.query_id
       |  GROUP BY 1, 2)
       |SELECT query_id, neighbor_id, score, CAST(rank AS INTEGER) AS rank FROM (
       |  SELECT query_id, neighbor_id, score,
       |         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC) AS rank
       |  FROM scored) z
       |WHERE rank <= $k""".stripMargin
  }

  /** Benchmark decontamination twin (matches `Dedup.decontaminate` over
    * a `TextOps.hashSplit(buckets=10, train=8, valid=1)` split): train
    * docs sharing >= `minShared` distinct word `n`-grams (portable-hash
    * identity) with any test-split doc.
    */
  def decontaminateSql(n: Int = 3, minShared: Int = 2): String =
    s"""WITH t AS (SELECT doc_id AS id, $toksSql AS toks,
       |  ${phash("CAST(doc_id AS VARCHAR)")} % 10 AS b FROM documents),
       |g AS MATERIALIZED (
       |  SELECT id, CASE WHEN b < 8 THEN 'train' WHEN b = 8 THEN 'valid' ELSE 'test' END AS split,
       |         ${phash("s")} AS gh
       |  FROM (SELECT id, b, unnest(list_distinct(list_transform(
       |          generate_series(1, len(toks) - ${n - 1}), i ->
       |          array_to_string(list_slice(toks, i, i + ${n - 1}), '')))) AS s
       |        FROM t WHERE len(toks) >= $n) z),
       |hold AS MATERIALIZED (SELECT DISTINCT gh FROM g WHERE split = 'test')
       |SELECT g.id AS doc_id, count(DISTINCT g.gh) AS n_shared
       |FROM g JOIN hold USING (gh) WHERE g.split = 'train'
       |GROUP BY 1 HAVING count(DISTINCT g.gh) >= $minShared""".stripMargin
}
