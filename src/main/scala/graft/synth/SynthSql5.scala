package graft.synth

/** DuckDB oracle SQL, wave 5: twins for the round-4 interactive-plane
  * surface — condition-bounded repeat (until/emit), Gremlin value
  * aggregation and numeric/boolean predicates, declarative match(), the
  * weighted ShortestPathExpand, and the capped all-sources closeness.
  */
object SynthSql5 {

  /** Condition-bounded repeat with emit (pegasus `iterate_emit_until`;
    * twin of `repeat(__.out().dedup()).emit().until(__.has('oid',
    * '<exitOid>')).times(times)` from `source`): round k expands the
    * surviving frontier c_{k-1} to the distinct out-neighbor set a_k,
    * emits ALL of a_k, and removes the until-satisfying vertices from
    * the next frontier. Output = per-oid count over the emitted bag.
    */
  def gieRepeatSql(sf: Double, source: String, exitOid: String, times: Int): String = {
    val body = (1 to times).map { k =>
      s"""a$k AS MATERIALIZED (
         |  SELECT DISTINCT e.dst AS id FROM dedges e JOIN c${k - 1} f ON e.src = f.id),
         |c$k AS MATERIALIZED (
         |  SELECT a.id FROM a$k a JOIN vertices v ON v.id = a.id WHERE v.oid <> '$exitOid')""".stripMargin
    }.mkString(",\n")
    val emitted = (1 to times).map(k => s"SELECT id FROM a$k").mkString(" UNION ALL ")
    s"""WITH ${SynthSql.graphCtes(sf)},
       |c0 AS (SELECT id FROM vertices WHERE oid = '$source'),
       |$body
       |SELECT v.oid AS oid, count(*) AS n
       |FROM ($emitted) z JOIN vertices v ON v.id = z.id
       |GROUP BY v.oid""".stripMargin
  }

  /** group().by(end-vertex oid).by(values('weight').sum()) over the
    * out-edges of `srcLike` sources (reference accumulators
    * `aggregate.rs:29-815`). Weights are integer-valued counts, so the
    * double sums are exact cross-engine.
    */
  def gieGroupSumSql(sf: Double, srcLike: String): String =
    s"""WITH ${SynthSql.graphCtes(sf)}
       |SELECT vd.oid AS oid, sum(e.weight) AS val
       |FROM dedges e
       |JOIN vertices vs ON vs.id = e.src
       |JOIN vertices vd ON vd.id = e.dst
       |WHERE vs.oid LIKE '$srcLike'
       |GROUP BY vd.oid""".stripMargin

  /** Numeric edge predicate (expr.proto GE/LT as TinkerPop
    * `between(lo, hi)` = [lo, hi)) + GetV(END) + groupCount.
    */
  def gieNumericSql(sf: Double, lo: Double, hi: Double): String =
    s"""WITH ${SynthSql.graphCtes(sf)}
       |SELECT vd.oid AS oid, count(*) AS n
       |FROM dedges e JOIN vertices vd ON vd.id = e.dst
       |WHERE e.weight >= $lo AND e.weight < $hi
       |GROUP BY vd.oid""".stripMargin

  /** Boolean combinator tree (`AndTreeNode`/`OrTreeNode`): vertices with
    * BOTH a tool out-neighbor and a user in-neighbor, OR the system
    * vertex — twin of `or(and(out().has(tool:), in().has(u)), has(system))`.
    */
  def gieBoolSql(sf: Double): String =
    s"""WITH ${SynthSql.graphCtes(sf)}
       |SELECT v.oid AS oid FROM vertices v
       |WHERE (EXISTS (SELECT 1 FROM dedges e JOIN vertices vd ON vd.id = e.dst
       |               WHERE e.src = v.id AND vd.oid LIKE 'tool:%')
       |   AND EXISTS (SELECT 1 FROM dedges e JOIN vertices vs ON vs.id = e.src
       |               WHERE e.dst = v.id AND vs.oid LIKE 'u%'))
       |   OR v.oid = 'system'""".stripMargin

  /** Declarative match() (patmat.rs NaiveStrategy left-deep join), twin
    * of the two-sentence user→assistant→tool pattern — identical math to
    * `SynthSql2.patternSql`, aliased to the Gremlin groupCount columns.
    */
  def gieMatchSql(sf: Double): String =
    s"""WITH ${SynthSql.graphCtes(sf)}
       |SELECT e2.dst_oid AS oid, count(*) AS n
       |FROM edges_oid e1 JOIN edges_oid e2 ON e1.dst_oid = e2.src_oid
       |WHERE e1.src_oid LIKE 'u%' AND e1.dst_oid LIKE 'assistant%'
       |  AND e2.dst_oid LIKE 'tool:%'
       |GROUP BY e2.dst_oid""".stripMargin

  /** ADD_COLUMN twin (`dag_utils.py:912`): the out-degree result joined
    * back onto the vertex table as a property (LEFT join — vertices with
    * no result row coalesce to 0 for the cross-engine dtype discipline).
    */
  def addColumnSql(sf: Double): String =
    s"""WITH ${SynthSql.graphCtes(sf)}
       |SELECT v.oid AS oid, CAST(coalesce(o.od, 0) AS BIGINT) AS out_deg
       |FROM vertices v
       |LEFT JOIN (SELECT src, count(*) AS od FROM dedges GROUP BY src) o ON v.id = o.src""".stripMargin

  /** TO_UNDIRECTED twin (`GraphBuilder.toUndirected`): symmetrize +
    * merge weights, then per-vertex undirected degree and weight mass.
    */
  def toUndirectedSql(sf: Double): String =
    s"""WITH ${SynthSql.graphCtes(sf)},
       |und AS (
       |  SELECT src, dst, sum(weight) AS w FROM (
       |    SELECT src, dst, weight FROM dedges
       |    UNION ALL SELECT dst AS src, src AS dst, weight FROM dedges) z
       |  GROUP BY src, dst)
       |SELECT v.oid AS oid, CAST(count(*) AS BIGINT) AS deg, sum(u.w) AS w_sum
       |FROM und u JOIN vertices v ON v.id = u.src
       |GROUP BY v.oid""".stripMargin

  /** INDUCE_SUBGRAPH twin (`dag_utils.py:698`): edges with BOTH
    * endpoints inside the tool ∪ assistant ∪ system vertex set.
    */
  def induceSql(sf: Double): String =
    s"""WITH ${SynthSql.graphCtes(sf)},
       |keep AS (SELECT id FROM vertices
       |         WHERE oid LIKE 'tool:%' OR oid LIKE 'assistant%' OR oid = 'system')
       |SELECT vs.oid AS src_oid, vd.oid AS dst_oid, e.weight AS weight
       |FROM dedges e
       |JOIN keep ks ON e.src = ks.id JOIN keep kd ON e.dst = kd.id
       |JOIN vertices vs ON vs.id = e.src JOIN vertices vd ON vd.id = e.dst""".stripMargin

  /** MODIFY_VERTICES twin (`dag_utils.py:289`): delete the tool:t0
    * vertex (pruning its incident edges — induced-delete semantics) and
    * add a fresh isolated vertex; output the post-commit per-oid
    * out-degrees.
    */
  def modifyVerticesSql(sf: Double, deleteOid: String, addOid: String): String =
    s"""WITH ${SynthSql.graphCtes(sf)},
       |delid AS (SELECT id FROM vertices WHERE oid = '$deleteOid'),
       |vs2 AS (
       |  SELECT oid, id FROM vertices WHERE oid <> '$deleteOid'
       |  UNION ALL SELECT '$addOid' AS oid, 10000000 AS id),
       |es2 AS (SELECT src, dst FROM dedges
       |        WHERE src NOT IN (SELECT id FROM delid)
       |          AND dst NOT IN (SELECT id FROM delid))
       |SELECT v.oid AS oid, CAST(coalesce(o.od, 0) AS BIGINT) AS out_deg
       |FROM vs2 v
       |LEFT JOIN (SELECT src, count(*) AS od FROM es2 GROUP BY src) o ON v.id = o.src""".stripMargin

  /** MODIFY_EDGES twin (`dag_utils.py:317`): delete every out-edge of
    * the system vertex, add one assistant→system edge of weight 99 (the
    * merge's groupBy(src,dst).sum folds it into any surviving parallel
    * weight), report post-commit per-src-oid degree and weight mass.
    */
  def modifyEdgesSql(sf: Double): String =
    s"""WITH ${SynthSql.graphCtes(sf)},
       |sysid AS (SELECT id FROM vertices WHERE oid = 'system'),
       |aid AS (SELECT id FROM vertices WHERE oid = 'assistant'),
       |es2 AS (
       |  SELECT src, dst, sum(weight) AS weight FROM (
       |    SELECT e.src, e.dst, e.weight FROM dedges e
       |    WHERE e.src NOT IN (SELECT id FROM sysid)
       |    UNION ALL
       |    SELECT (SELECT id FROM aid), (SELECT id FROM sysid), CAST(99 AS DOUBLE)
       |  ) z GROUP BY src, dst)
       |SELECT v.oid AS oid, CAST(count(*) AS BIGINT) AS out_deg, sum(e.weight) AS w_sum
       |FROM es2 e JOIN vertices v ON v.id = e.src
       |GROUP BY v.oid""".stripMargin

  /** CLEAR_EDGES twin (`dag_utils.py:676`): the post-clear REPORT_GRAPH
    * row — all vertices survive, zero edges, zero self-loops.
    */
  def clearEdgesSql(sf: Double): String =
    s"""WITH ${SynthSql.graphCtes(sf)}
       |SELECT CAST(count(*) AS BIGINT) AS nodes, CAST(0 AS BIGINT) AS edges,
       |       CAST(0 AS BIGINT) AS self_loops FROM vertices""".stripMargin

  /** VIEW/COPY twin (PROJECT_GRAPH, `dag_utils.py:417`): weight-filtered
    * edge view, per-src-oid degree and mass over the view.
    */
  def projectViewSql(sf: Double, minW: Double): String =
    s"""WITH ${SynthSql.graphCtes(sf)}
       |SELECT v.oid AS oid, CAST(count(*) AS BIGINT) AS out_deg, sum(e.weight) AS w_sum
       |FROM dedges e JOIN vertices v ON v.id = e.src
       |WHERE e.weight >= $minW
       |GROUP BY v.oid""".stripMargin

  /** Gremlin coalesce() twin: per tool vertex, branch 1 = out-neighbors
    * that are users; vertices with no branch-1 result fall through to
    * branch 2 = all in-neighbors. groupCount by neighbor oid, ordered
    * top-k (ties to oid asc — deterministic).
    */
  def gieCoalesceSql(sf: Double, limit: Int): String =
    s"""WITH ${SynthSql.graphCtes(sf)},
       |starts AS (SELECT id FROM vertices WHERE oid LIKE 'tool:%'),
       |b1 AS (
       |  SELECT e.src AS origin, e.dst AS nb FROM dedges e
       |  JOIN starts s ON s.id = e.src
       |  JOIN vertices v ON v.id = e.dst AND v.oid LIKE 'u%'),
       |b2 AS (
       |  SELECT e.dst AS origin, e.src AS nb FROM dedges e
       |  JOIN starts s ON s.id = e.dst
       |  WHERE e.dst NOT IN (SELECT origin FROM b1)),
       |nbs AS (SELECT * FROM b1 UNION ALL SELECT * FROM b2)
       |SELECT v.oid AS oid, CAST(count(*) AS BIGINT) AS n
       |FROM nbs JOIN vertices v ON v.id = nbs.nb
       |GROUP BY v.oid
       |ORDER BY n DESC, oid ASC LIMIT $limit""".stripMargin

  /** Gremlin multi-tag select() twin: two-sentence match (u→b, b→c with
    * b an assistant), structural distinctness a<>c, tag oids projected
    * and ordered with a deterministic limit. Dense ids are oid ranks, so
    * the pairs are ordered and cut on ids and only the kept rows get
    * their oids: an oid join over every pair is a multi-GB intermediate.
    */
  def gieSelectSql(sf: Double, limit: Int): String =
    s"""WITH ${SynthSql.graphCtes(sf)},
       |s1 AS (
       |  SELECT va.id AS a, e.dst AS b FROM dedges e
       |  JOIN vertices va ON va.id = e.src WHERE va.oid LIKE 'u%'),
       |s2 AS (
       |  SELECT vb.id AS b, e.dst AS c FROM dedges e
       |  JOIN vertices vb ON vb.id = e.src WHERE vb.oid LIKE 'assistant%'),
       |j AS (
       |  SELECT s1.a, s2.c FROM s1 JOIN s2 USING (b) WHERE s1.a <> s2.c
       |  ORDER BY s1.a, s2.c LIMIT $limit)
       |SELECT va.oid AS a, vc.oid AS c FROM j
       |JOIN vertices va ON va.id = j.a
       |JOIN vertices vc ON vc.id = j.c
       |ORDER BY a, c""".stripMargin

  /** TextP/P predicate-family twin: agent sources (`containing 'gent'`
    * — only `agent:N` oids contain it), destination filtered by
    * `notStartingWith('tool:')`, `P.without('system','assistant')` and
    * `endingWith('1')`, counted per oid.
    */
  def gieTextpSql(sf: Double): String =
    s"""WITH ${SynthSql.graphCtes(sf)}
       |SELECT vd.oid AS oid, count(*) AS n
       |FROM dedges e
       |JOIN vertices vs ON vs.id = e.src
       |JOIN vertices vd ON vd.id = e.dst
       |WHERE vs.oid LIKE '%gent%'
       |  AND vd.oid NOT LIKE 'tool:%'
       |  AND vd.oid NOT IN ('system', 'assistant')
       |  AND vd.oid LIKE '%1'
       |GROUP BY vd.oid""".stripMargin

  /** Gremlin subgraph() twin: the edge-induced subgraph of agent
    * out-edges — every distinct (src, dst, weight) whose source is an
    * agent, oid-decoded.
    */
  def gieSubgraphSql(sf: Double): String =
    s"""WITH ${SynthSql.graphCtes(sf)}
       |SELECT e.src_oid, e.dst_oid, e.weight
       |FROM edges_oid e WHERE e.src_oid LIKE 'agent:%'""".stripMargin

  /** Gremlin group().by(k).by(values(tag).dedup().count()) twin
    * (ToDistinctCount accumulator): per tool, the number of DISTINCT
    * assistants that invoke it.
    */
  def gieDistinctCountSql(sf: Double): String =
    s"""WITH ${SynthSql.graphCtes(sf)}
       |SELECT e.dst_oid AS oid, count(DISTINCT e.src_oid) AS val
       |FROM edges_oid e
       |WHERE e.src_oid LIKE 'assistant%' AND e.dst_oid LIKE 'tool:%'
       |GROUP BY e.dst_oid""".stripMargin

  /** Gremlin sample(n) twin: the engine's deterministic pick — the n
    * user vertices smallest under the portable hash of their oid (ties
    * by oid). Must stay in exact integer lockstep with
    * `TextOps.portableHash` via `LshSql.phash`.
    */
  def gieSampleSql(sf: Double, n: Int): String =
    s"""WITH ${SynthSql.graphCtes(sf)}
       |SELECT v.oid AS oid FROM vertices v WHERE v.oid LIKE 'u%'
       |ORDER BY ${LshSql.phash("v.oid")}, v.oid LIMIT $n""".stripMargin

  /** `PropertyGraph.labelOf` as SQL — vertex label from the oid shape. */
  def labelOf(oid: String): String =
    s"""CASE WHEN $oid LIKE 'tool:%' THEN 'tool'
       |     WHEN $oid LIKE 'assistant%' THEN 'assistant'
       |     WHEN $oid LIKE 'agent:%' THEN 'agent'
       |     WHEN $oid = 'system' THEN 'system'
       |     ELSE 'user' END""".stripMargin

  /** Twin of the label-aware Gremlin scan+expand:
    * `g.V().hasLabel('user').out('reply').groupCount().by('label')` —
    * one traverser per distinct reply-labeled edge whose source is a
    * user vertex, counted by the end vertex's label. The labeled edge
    * table holds one row per (pair, label) (`PropertyGraph
    * .fromTranscripts` groups by src,dst,label), so the expand
    * multiplicity is the DISTINCT reply pair set.
    */
  def gieHasLabelSql(sf: Double): String =
    s"""WITH ${SynthSql.graphCtes(sf)}
       |SELECT ${labelOf("r.dst_oid")} AS label, count(*) AS n
       |FROM (SELECT DISTINCT src_oid, dst_oid FROM reply) r
       |WHERE ${labelOf("r.src_oid")} = 'user'
       |GROUP BY 1""".stripMargin

  /** Twin of the edge-label grouping:
    * `g.V().outE().group().by('label').by(__.values('weight').sum())` —
    * every labeled edge expanded once from its source vertex, per-label
    * occurrence-count weights summed per edge label. Integer-valued
    * doubles, so the sum is exact on both engines.
    */
  def gieEdgeLabelSumSql(sf: Double): String =
    s"""WITH ${SynthSql.graphCtes(sf)},
       |ledges AS (
       |  SELECT src_oid, dst_oid, label, CAST(count(*) AS DOUBLE) AS weight
       |  FROM (SELECT src_oid, dst_oid, 'reply' AS label FROM reply
       |        UNION ALL SELECT src_oid, dst_oid, 'invoke' AS label FROM invoke) u
       |  GROUP BY src_oid, dst_oid, label
       |)
       |SELECT label, sum(weight) AS val FROM ledges GROUP BY label""".stripMargin

  /** Unsalted twin of the salted hub aggregation: plain per-tool sum +
    * count — salting must be result-invariant.
    */
  def saltedHubSql(sf: Double): String =
    s"""WITH ${SynthSql.graphCtes(sf)}
       |SELECT v.oid AS oid, round(sum(e.weight), 6) AS w_in,
       |       CAST(count(*) AS INTEGER) AS n_in
       |FROM dedges e JOIN vertices v ON v.id = e.dst
       |WHERE v.oid LIKE 'tool:%'
       |GROUP BY v.oid""".stripMargin

  /** IVF-partitioned ANN top-k, twin of `Similarity.ivfTopK`: strided
    * centroid sample, rounded-cosine argmax assignment (ties to the
    * smaller centroid id), nProbe nearest centroids per query, exact
    * cosine over the probed partitions only. Shares the 5-dp rounding
    * discipline of `cosineTopKSql`.
    */
  def ivfTopKSql(queryIds: Seq[Long], k: Int, nCentroids: Int = 16, nProbe: Int = 4): String = {
    val ids = queryIds.mkString(", ")
    def cos(a: String, b: String) =
      s"round(list_dot_product($a, $b) / (sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b))), 5)"
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |stp AS (SELECT greatest(1, count(*) // $nCentroids) AS st FROM e),
       |cents AS MATERIALIZED (
       |  SELECT vec_id AS cid, v AS cv FROM e
       |  WHERE vec_id % (SELECT st FROM stp) = 0 ORDER BY vec_id LIMIT $nCentroids),
       |asg AS MATERIALIZED (
       |  SELECT id, cid FROM (
       |    SELECT e.vec_id AS id, c.cid,
       |           row_number() OVER (PARTITION BY e.vec_id
       |             ORDER BY ${cos("e.v", "c.cv")} DESC, c.cid ASC) AS rn
       |    FROM e CROSS JOIN cents c) z WHERE rn = 1),
       |probes AS (
       |  SELECT query_id, cid FROM (
       |    SELECT q.vec_id AS query_id, c.cid,
       |           row_number() OVER (PARTITION BY q.vec_id
       |             ORDER BY ${cos("q.v", "c.cv")} DESC, c.cid ASC) AS pr
       |    FROM e q CROSS JOIN cents c WHERE q.vec_id IN ($ids)) z
       |  WHERE pr <= $nProbe),
       |cand AS (
       |  SELECT p.query_id, a.id AS neighbor_id
       |  FROM probes p JOIN asg a ON a.cid = p.cid
       |  WHERE a.id <> p.query_id),
       |scored AS (
       |  SELECT c.query_id, c.neighbor_id, ${cos("q.v", "nb.v")} AS cos_sim
       |  FROM cand c JOIN e q ON q.vec_id = c.query_id
       |  JOIN e nb ON nb.vec_id = c.neighbor_id)
       |SELECT query_id, neighbor_id, cos_sim, CAST(rank AS INTEGER) AS rank FROM (
       |  SELECT query_id, neighbor_id, cos_sim,
       |         row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
       |  FROM scored) z
       |WHERE rank <= $k""".stripMargin
  }

  /** Lloyd k-means twin (matches `KMeans.assignments(k, rounds)` —
    * strided init, 5-dp-rounded cosine argmax assignment with
    * smaller-cid ties, 6-dp-rounded per-dim Lloyd means, empty clusters
    * keep their previous centroid), unrolled per round.
    */
  def kmeansSql(k: Int = 8, rounds: Int = 2, dim: Int = 64): String = {
    def cos(a: String, b: String) =
      s"round(list_dot_product($a, $b) / (sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b))), 5)"
    def assign(name: String, cents: String) =
      s"""$name AS MATERIALIZED (
         |  SELECT id, cid FROM (
         |    SELECT e.id, c.cid,
         |           row_number() OVER (PARTITION BY e.id
         |             ORDER BY ${cos("e.v", "c.cv")} DESC, c.cid ASC) AS rn
         |    FROM e CROSS JOIN $cents c) z WHERE rn = 1)""".stripMargin
    def update(prev: String, asg: String, out: String) =
      s"""m_$out AS MATERIALIZED (
         |  SELECT cid, list(m ORDER BY pos) AS cv FROM (
         |    SELECT a.cid, g.pos, round(avg(e.v[g.pos]), 6) AS m
         |    FROM $asg a JOIN e ON e.id = a.id
         |    CROSS JOIN (SELECT unnest(generate_series(1, $dim)) AS pos) g
         |    GROUP BY a.cid, g.pos) z GROUP BY cid),
         |$out AS MATERIALIZED (
         |  SELECT c.cid, coalesce(m.cv, c.cv) AS cv
         |  FROM $prev c LEFT JOIN m_$out m ON m.cid = c.cid)""".stripMargin
    val body = (1 to rounds).map { r =>
      assign(s"a$r", s"c${r - 1}") + ",\n" + update(s"c${r - 1}", s"a$r", s"c$r")
    }.mkString(",\n")
    s"""WITH e AS MATERIALIZED (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |stp AS (SELECT greatest(1, count(*) // $k) AS st FROM e),
       |c0 AS MATERIALIZED (
       |  SELECT id AS cid, v AS cv FROM e
       |  WHERE id % (SELECT st FROM stp) = 0 ORDER BY id LIMIT $k),
       |$body,
       |${assign("af", s"c$rounds")}
       |SELECT id AS vec_id, cid FROM af""".stripMargin
  }

  /** Closeness (wf_improved) for the top-`k`-degree source set — twin of
    * `Paths2.closenessTop`. Unlike [[SynthSql3.closenessSql]]'s
    * full-state min-union (state × edges per round — fine for 3 sources,
    * ruinous for 128), this chain is FRONTIER-based like the Spark loop:
    * each round relaxes only the pairs improved last round, so total
    * work tracks the improvement volume, not rounds × state. Source set
    * = top `k` by dedge endpoint count, ties to the smaller id —
    * byte-identical to the Spark pick. `rounds` vs `rounds+1` probed.
    */
  def closenessTopSql(sf: Double, k: Int, rounds: Int = 30): String = {
    val body = (1 to rounds).map { r =>
      val f = s"f${r - 1}"; val vis = s"vis${r - 1}"
      s"""rx$r AS (
         |  SELECT p.s, e.src AS id, min(p.dist + e.weight) AS nd
         |  FROM dedges e JOIN $f p ON e.dst = p.id GROUP BY p.s, e.src),
         |f$r AS MATERIALIZED (
         |  SELECT r.s, r.id, r.nd AS dist FROM rx$r r
         |  LEFT JOIN $vis v ON v.s = r.s AND v.id = r.id
         |  WHERE v.dist IS NULL OR r.nd < v.dist),
         |vis$r AS MATERIALIZED (
         |  SELECT s, id, min(dist) AS dist FROM (
         |    SELECT s, id, dist FROM $vis UNION ALL SELECT s, id, dist FROM f$r) z
         |  GROUP BY s, id)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${SynthSql.graphCtes(sf)},
       |nv AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM vertices),
       |dg AS (SELECT id, count(*) AS deg FROM (
       |  SELECT src AS id FROM dedges UNION ALL SELECT dst AS id FROM dedges) z
       |  GROUP BY id),
       |srcs AS MATERIALIZED (SELECT id AS s FROM dg ORDER BY deg DESC, id ASC LIMIT $k),
       |f0 AS MATERIALIZED (SELECT s, s AS id, 0.0 AS dist FROM srcs),
       |vis0 AS MATERIALIZED (SELECT s, id, dist FROM f0),
       |$body,
       |agg AS (SELECT s, sum(dist) AS tot, count(*) AS reach
       |        FROM vis$rounds WHERE dist > 0 GROUP BY s)
       |SELECT v.oid AS oid,
       |       round(CASE WHEN a.tot > 0
       |             THEN (CAST(a.reach AS DOUBLE) / ((SELECT n FROM nv) - 1))
       |                  * (CAST(a.reach AS DOUBLE) / a.tot)
       |             ELSE 0.0 END, 6) AS closeness
       |FROM srcs st JOIN vertices v ON v.id = st.s
       |LEFT JOIN agg a ON a.s = st.s""".stripMargin
  }

  /** Weighted ShortestPathExpand (`algebra.proto:302` over the weight
    * property): unrolled min-union relaxation from `source`, endpoints
    * filtered to `oidLike` — twin of
    * `G.V(source).weightedShortestPathExpand()`. Integer-valued weights
    * ⇒ exact doubles; `rounds` vs `rounds+1` probed converged.
    */
  def gieWeightedShortestSql(sf: Double, source: String, oidLike: String,
      rounds: Int = 25): String = {
    val body = (1 to rounds).map { k =>
      val p = s"ws${k - 1}"
      s"""ws$k AS MATERIALIZED (
         |  SELECT id, min(dist) AS dist FROM (
         |    SELECT id, dist FROM $p
         |    UNION ALL
         |    SELECT e.dst AS id, p.dist + e.weight AS dist
         |    FROM dedges e JOIN $p p ON e.src = p.id
         |  ) z GROUP BY id)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${SynthSql.graphCtes(sf)},
       |ws0 AS (SELECT id, 0.0 AS dist FROM vertices WHERE oid = '$source'),
       |$body
       |SELECT v.oid AS oid, round(w.dist, 6) AS dist
       |FROM ws$rounds w JOIN vertices v ON v.id = w.id
       |WHERE v.oid LIKE '$oidLike'""".stripMargin
  }

  /** Twin of the LDBC-q9-shaped labeled range expand:
    * `g.V().hasLabel('user').both('1..2','reply').hops()` — BFS levels
    * 1..2 from the user-labeled vertex set over the DISTINCT symmetrized
    * reply pair relation (a labeled PathExpand's hop relation is the
    * distinct pair set; hops = shortest distance from the whole start
    * SET, so level 2 excludes levels 0 and 1).
    */
  def gieLdbcReachSql(sf: Double): String =
    s"""WITH ${SynthSql.graphCtes(sf)},
       |rp AS MATERIALIZED (SELECT DISTINCT vs.id AS a, vd.id AS b
       |  FROM (SELECT DISTINCT src_oid, dst_oid FROM reply) r
       |  JOIN vertices vs ON r.src_oid = vs.oid
       |  JOIN vertices vd ON r.dst_oid = vd.oid),
       |sym AS MATERIALIZED (SELECT a, b FROM rp UNION SELECT b, a FROM rp),
       |l0 AS MATERIALIZED (SELECT id FROM vertices WHERE ${labelOf("oid")} = 'user'),
       |l1 AS MATERIALIZED (
       |  SELECT DISTINCT s.b AS id FROM l0 JOIN sym s ON s.a = l0.id
       |  WHERE s.b NOT IN (SELECT id FROM l0)),
       |l2 AS (
       |  SELECT DISTINCT s.b AS id FROM l1 JOIN sym s ON s.a = l1.id
       |  WHERE s.b NOT IN (SELECT id FROM l0) AND s.b NOT IN (SELECT id FROM l1))
       |SELECT v.oid AS oid, h.hops FROM (
       |  SELECT id, CAST(1 AS BIGINT) AS hops FROM l1
       |  UNION ALL SELECT id, CAST(2 AS BIGINT) AS hops FROM l2) h
       |JOIN vertices v ON v.id = h.id""".stripMargin

  /** Twin of the LDBC-q12-shaped top-k group ordering:
    * `g.V().hasLabel('assistant').out('invoke').groupCount().by('oid')
    * .order().by(select(values), desc).by(select(keys), asc).limit(10)`
    * — one traverser per distinct labeled (src, dst) invoke pair, so
    * the group count is the distinct invoking-assistant count per tool.
    */
  def gieLdbcTopSql(sf: Double, k: Int = 10): String =
    s"""WITH ${SynthSql.graphCtes(sf)}
       |SELECT dst_oid AS oid, count(*) AS n
       |FROM (SELECT DISTINCT src_oid, dst_oid FROM invoke) i
       |WHERE ${labelOf("src_oid")} = 'assistant'
       |GROUP BY 1 ORDER BY n DESC, oid ASC LIMIT $k""".stripMargin

  /** Twin of the project() multi-projection: per assistant vertex, its
    * oid and distinct invoked-tool count (0 when none).
    */
  def gieProjectSql(sf: Double): String =
    s"""WITH ${SynthSql.graphCtes(sf)}
       |SELECT v.oid AS oid, CAST(coalesce(c.n, 0) AS BIGINT) AS n_tools
       |FROM vertices v
       |LEFT JOIN (SELECT src_oid, count(DISTINCT dst_oid) AS n
       |           FROM invoke GROUP BY 1) c ON c.src_oid = v.oid
       |WHERE ${labelOf("v.oid")} = 'assistant'""".stripMargin

  /** Twin of the choose() branch routing: assistant-labeled vertices
    * expand over their distinct invoke pairs, all other vertices over
    * their distinct reply pairs; traverser counts per target oid.
    */
  def gieChooseSql(sf: Double): String =
    s"""WITH ${SynthSql.graphCtes(sf)}
       |SELECT dst_oid AS oid, count(*) AS n FROM (
       |  SELECT src_oid, dst_oid
       |  FROM (SELECT DISTINCT src_oid, dst_oid FROM invoke) i
       |  WHERE ${labelOf("src_oid")} = 'assistant'
       |  UNION ALL
       |  SELECT src_oid, dst_oid
       |  FROM (SELECT DISTINCT src_oid, dst_oid FROM reply) r
       |  WHERE ${labelOf("src_oid")} <> 'assistant') u
       |GROUP BY 1""".stripMargin

  /** Twin of the LDBC-q3-shaped correlated-count + predicate-connective
    * composite: assistants invoking >= `minTools` distinct tools, their
    * invoke pairs with weight in [`wLo`, `wHi`), counted per tool.
    */
  def gieLdbcFilterSql(sf: Double, minTools: Int, wLo: Double, wHi: Double): String =
    s"""WITH ${SynthSql.graphCtes(sf)},
       |ip AS MATERIALIZED (
       |  SELECT src_oid, dst_oid, CAST(count(*) AS DOUBLE) AS weight
       |  FROM invoke GROUP BY 1, 2),
       |hub AS (SELECT src_oid FROM (
       |  SELECT src_oid, count(DISTINCT dst_oid) AS c FROM ip GROUP BY 1)
       |  WHERE c >= $minTools)
       |SELECT e.dst_oid AS oid, count(*) AS n
       |FROM ip e JOIN hub h ON e.src_oid = h.src_oid
       |WHERE e.weight >= $wLo AND e.weight < $wHi
       |GROUP BY 1""".stripMargin

  /** Twin of `bothE().otherV().groupCount().by('oid')` from the
    * `srcLike` vertex set: one row per incident edge per direction,
    * far endpoint counted (Traversal.bothE's OUT ∪ IN bag union).
    */
  def gieBothEOtherSql(sf: Double, srcLike: String): String =
    s"""WITH ${SynthSql.graphCtes(sf)},
       |uo AS (SELECT id FROM vertices WHERE oid LIKE '$srcLike'),
       |inc AS (
       |  SELECT e.dst AS other FROM dedges e JOIN uo ON e.src = uo.id
       |  UNION ALL
       |  SELECT e.src AS other FROM dedges e JOIN uo ON e.dst = uo.id)
       |SELECT v.oid AS oid, count(*) AS n
       |FROM inc JOIN vertices v ON v.id = inc.other
       |GROUP BY 1""".stripMargin

  /** Twin of `NeighborSample.sample`: per hop, per (seed, parent, slot)
    * the pick-hash argmin over the out-adjacency (row_number twin of the
    * Spark side's map-side-combined min_by; ties pick, then child). The
    * composite pick value goes through ONE `Hll.fin` avalanche pass,
    * staged as chained CTEs — identical to the Spark side's `Hll.mix`
    * because the composite is < HashP < 2^30 (the high-bits fold is a
    * no-op). Without the avalanche a linear slot offset preserves the
    * candidate ordering mod p and every slot picks the same child.
    */
  def neighborSampleSql(
      sf: Double, seeds: Seq[String], fanouts: Seq[Int], pickSeed: Long = 42L): String = {
    val p = graft.text.TextOps.HashP
    val mm = graft.ml.Hll.Mask
    val sv = seeds.map(s => s"('$s')").mkString(", ")
    val body = fanouts.zipWithIndex.map { case (f, h) =>
      val salt = pickSeed * 1000003L + h * 7919L
      val slots = (0 until f).map(j => s"($j)").mkString(", ")
      val prev = if (h == 0) "f0" else s"fr$h"
      val comp = s"((${LshSql.phash("e.src_oid")} * 31 + ${LshSql.phash("e.dst_oid")} * 17 + " +
        s"$salt + sl.slot * 104729) % $p)"
      val keep = "seed, parent, child, slot"
      s"""sl$h(slot) AS (VALUES $slots),
         |c$h AS (
         |  SELECT fr.seed, e.src_oid AS parent, e.dst_oid AS child, sl.slot,
         |         $comp AS v
         |  FROM $prev fr JOIN edges_oid e ON e.src_oid = fr.parent
         |  CROSS JOIN sl$h sl),
         |x${h}1 AS (SELECT $keep, ((v * 2654435761) & $mm) AS v FROM c$h),
         |x${h}2 AS (SELECT $keep, xor(v, v >> 15) AS v FROM x${h}1),
         |x${h}3 AS (SELECT $keep, ((v * 2246822519) & $mm) AS v FROM x${h}2),
         |x${h}4 AS (SELECT $keep, xor(v, v >> 13) AS v FROM x${h}3),
         |x${h}5 AS (SELECT $keep, ((v * 3266489917) & $mm) AS v FROM x${h}4),
         |x${h}6 AS (SELECT $keep, xor(v, v >> 16) AS pick FROM x${h}5),
         |p$h AS MATERIALIZED (
         |  SELECT seed, parent, slot, child FROM (
         |    SELECT seed, parent, slot, child,
         |           row_number() OVER (PARTITION BY seed, parent, slot ORDER BY pick, child) AS rn
         |    FROM x${h}6) z WHERE rn = 1),
         |fr${h + 1} AS (SELECT DISTINCT seed, child AS parent FROM p$h)""".stripMargin
    }.mkString(",\n")
    val sel = fanouts.indices.map(h =>
      s"SELECT seed AS seed_oid, ${h + 1} AS hop, parent AS parent_oid, child AS child_oid, slot FROM p$h")
      .mkString("\nUNION ALL\n")
    s"""WITH ${SynthSql.graphCtes(sf)},
       |sd(seed) AS (VALUES $sv),
       |f0 AS (SELECT seed, seed AS parent FROM sd),
       |$body
       |$sel""".stripMargin
  }

  /** Twin of `NeighborSample.sampleTopK` / `sampleWithoutReplacement`:
    * per hop, per (seed, parent), the first `f` out-neighbors ordered by
    * (weight DESC, child) — the topk strategy — or by (avalanche pick
    * hash, child) — random_without_replacement. The oracle uses a plain
    * window (fine at sf0.01); the engine side is the salted two-phase
    * top-k (`Skew.saltedTopK`), result-identical because the ordering
    * struct is total.
    */
  def neighborRankedSql(
      sf: Double, seeds: Seq[String], fanouts: Seq[Int], byWeight: Boolean,
      pickSeed: Long = 42L): String = {
    val p = graft.text.TextOps.HashP
    val mm = graft.ml.Hll.Mask
    val sv = seeds.map(s => s"('$s')").mkString(", ")
    val body = fanouts.zipWithIndex.map { case (f, h) =>
      val prev = if (h == 0) "f0" else s"fr$h"
      val keep = "seed, parent, child"
      val ranked =
        if (byWeight)
          s"""c$h AS (
             |  SELECT fr.seed, e.src_oid AS parent, e.dst_oid AS child, e.weight
             |  FROM $prev fr JOIN edges_oid e ON e.src_oid = fr.parent),
             |r$h AS (
             |  SELECT $keep,
             |         row_number() OVER (PARTITION BY seed, parent
             |                            ORDER BY weight DESC, child) AS rn
             |  FROM c$h)""".stripMargin
        else {
          val salt = pickSeed * 1000003L + h * 7919L
          val comp = s"((${LshSql.phash("e.src_oid")} * 31 + " +
            s"${LshSql.phash("e.dst_oid")} * 17 + $salt) % $p)"
          s"""c$h AS (
             |  SELECT fr.seed, e.src_oid AS parent, e.dst_oid AS child, $comp AS v
             |  FROM $prev fr JOIN edges_oid e ON e.src_oid = fr.parent),
             |y${h}1 AS (SELECT $keep, ((v * 2654435761) & $mm) AS v FROM c$h),
             |y${h}2 AS (SELECT $keep, xor(v, v >> 15) AS v FROM y${h}1),
             |y${h}3 AS (SELECT $keep, ((v * 2246822519) & $mm) AS v FROM y${h}2),
             |y${h}4 AS (SELECT $keep, xor(v, v >> 13) AS v FROM y${h}3),
             |y${h}5 AS (SELECT $keep, ((v * 3266489917) & $mm) AS v FROM y${h}4),
             |y${h}6 AS (SELECT $keep, xor(v, v >> 16) AS pick FROM y${h}5),
             |r$h AS (
             |  SELECT $keep,
             |         row_number() OVER (PARTITION BY seed, parent
             |                            ORDER BY pick, child) AS rn
             |  FROM y${h}6)""".stripMargin
        }
      s"""$ranked,
         |p$h AS MATERIALIZED (
         |  SELECT $keep, CAST(rn - 1 AS INTEGER) AS rank FROM r$h WHERE rn <= $f),
         |fr${h + 1} AS (SELECT DISTINCT seed, child AS parent FROM p$h)""".stripMargin
    }.mkString(",\n")
    val sel = fanouts.indices.map(h =>
      s"SELECT seed AS seed_oid, ${h + 1} AS hop, parent AS parent_oid, " +
        s"child AS child_oid, rank FROM p$h")
      .mkString("\nUNION ALL\n")
    s"""WITH ${SynthSql.graphCtes(sf)},
       |sd(seed) AS (VALUES $sv),
       |f0 AS (SELECT seed, seed AS parent FROM sd),
       |$body
       |$sel""".stripMargin
  }

  /** Twin of `NegativeSample.sample`: per (seed, slot), deterministic
    * rejection draws over the dense id space — avalanche(composite) %
    * |V| per attempt, keep the first attempt that is a candidate (has
    * an in-edge), is not an out-neighbor of the seed, and is not the
    * seed itself. The avalanche chain is the same one-fin-pass unroll
    * as [[neighborSampleSql]].
    */
  def negativeSampleSql(
      sf: Double, seeds: Seq[String], f: Int, attempts: Int = 8,
      pickSeed: Long = 42L): String = {
    val p = graft.text.TextOps.HashP
    val mm = graft.ml.Hll.Mask
    val salt = pickSeed * 1000003L + 7919L
    val sv = seeds.map(s => s"('$s')").mkString(", ")
    val slots = (0 until f).map(j => s"($j)").mkString(", ")
    val ats = (0 until attempts).map(a => s"($a)").mkString(", ")
    val comp = s"((${LshSql.phash("sdi.seed")} * 31 + $salt + " +
      s"sl.slot * 104729 + at.attempt * 15485863) % $p)"
    val keep = "seed, seed_id, slot, attempt"
    s"""WITH ${SynthSql.graphCtes(sf)},
       |sd(seed) AS (VALUES $sv),
       |sdi AS (SELECT sd.seed, v.id AS seed_id FROM sd JOIN vertices v ON v.oid = sd.seed),
       |sl(slot) AS (VALUES $slots),
       |at(attempt) AS (VALUES $ats),
       |c0 AS (SELECT sdi.seed, sdi.seed_id, sl.slot, at.attempt, $comp AS v
       |       FROM sdi CROSS JOIN sl CROSS JOIN at),
       |x1 AS (SELECT $keep, ((v * 2654435761) & $mm) AS v FROM c0),
       |x2 AS (SELECT $keep, xor(v, v >> 15) AS v FROM x1),
       |x3 AS (SELECT $keep, ((v * 2246822519) & $mm) AS v FROM x2),
       |x4 AS (SELECT $keep, xor(v, v >> 13) AS v FROM x3),
       |x5 AS (SELECT $keep, ((v * 3266489917) & $mm) AS v FROM x4),
       |x6 AS (SELECT $keep, xor(v, v >> 16) AS pick FROM x5),
       |d0 AS (SELECT $keep, pick % (SELECT count(*) FROM vertices) AS cand_id FROM x6),
       |kept AS (
       |  SELECT seed, slot, attempt, cand_id FROM d0
       |  WHERE cand_id <> seed_id
       |    AND EXISTS (SELECT 1 FROM dedges e WHERE e.dst = d0.cand_id)
       |    AND NOT EXISTS (SELECT 1 FROM dedges e
       |                    WHERE e.src = d0.seed_id AND e.dst = d0.cand_id)),
       |pk AS (
       |  SELECT seed, slot, cand_id FROM (
       |    SELECT seed, slot, cand_id,
       |           row_number() OVER (PARTITION BY seed, slot ORDER BY attempt) AS rn
       |    FROM kept) z WHERE rn = 1)
       |SELECT pk.seed AS seed_oid, pk.slot AS slot, v.oid AS neg_oid
       |FROM pk JOIN vertices v ON v.id = pk.cand_id""".stripMargin
  }

  /** Twin of `out().values('oid').fold().limit(local, n).unfold()` from
    * `srcOid`: sorted out-neighbor oid list (with multiplicity), first
    * `n`, exploded back to rows.
    */
  def gieFoldLocalSql(sf: Double, srcOid: String, n: Int): String =
    s"""WITH ${SynthSql.graphCtes(sf)},
       |a AS (SELECT id FROM vertices WHERE oid = '$srcOid'),
       |nb AS (SELECT v.oid AS o
       |       FROM dedges e JOIN a ON e.src = a.id
       |       JOIN vertices v ON v.id = e.dst)
       |SELECT unnest(list_slice(list_sort(list(o)), 1, $n)) AS value FROM nb""".stripMargin

  /** Twin of [[graft.algos.PageRank.personalized]] (fixed `rounds`):
    * teleport + dangling mass concentrate on the seed vertex —
    *   r_{k+1}(v) = d·Σ_{u→v} r_k(u)/od(u)
    *                + 1[v=seed]·((1−d) + d·ds_k),  r_0 = 1[v=seed].
    * Same round structure as `SynthSql.pageRankSql`, personalized base.
    */
  def pprSql(sf: Double, seedOid: String, rounds: Int, damping: Double = 0.85): String = {
    val body = (1 to rounds).map { k =>
      val p = s"r${k - 1}"
      s"""d$k AS MATERIALIZED (
         |  SELECT coalesce(sum(r), 0.0) AS ds FROM $p LEFT JOIN outd ON $p.id = outd.src
         |  WHERE outd.src IS NULL
         |),
         |r$k AS MATERIALIZED (
         |  SELECT v.id,
         |         $damping*coalesce(m.s, 0.0)
         |           + (CASE WHEN v.oid = '$seedOid'
         |              THEN (1.0 - $damping) + $damping*(SELECT ds FROM d$k)
         |              ELSE 0.0 END) AS r
         |  FROM vertices v LEFT JOIN (
         |    SELECT e.dst AS id, sum(p.r/o.od) AS s
         |    FROM dedges e JOIN $p p ON e.src = p.id JOIN outd o ON o.src = e.src
         |    GROUP BY e.dst) m ON v.id = m.id
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${SynthSql.graphCtes(sf)},
       |outd AS MATERIALIZED (SELECT src, count(*) AS od FROM dedges GROUP BY src),
       |r0 AS (SELECT id, CASE WHEN oid = '$seedOid' THEN 1.0 ELSE 0.0 END AS r FROM vertices),
       |$body
       |SELECT v.oid AS oid, round(r$rounds.r, 6) AS ppr
       |FROM vertices v JOIN r$rounds ON v.id = r$rounds.id""".stripMargin
  }

  /** Twin of `g.V().out().estimateCount()` — [[graft.ml.Hll]] restated in
    * SQL: the same 30-bit avalanche hash (multiply-mask / xor-shift
    * rounds unrolled as CTE stages), bucket = low 10 bits, rho from the
    * bit length of the high 20 via a descending integer CASE chain, and
    * a harmonic sum whose terms are exact powers of two — so the
    * estimate is bit-identical to the Spark side. Any change to the
    * sketch constants must be mirrored in `Hll` (and vice versa).
    */
  def hllEstimateCountSql(sf: Double): String = {
    val m = graft.ml.Hll.M
    val wb = graft.ml.Hll.WBits
    val mm = graft.ml.Hll.Mask
    // one Hll.fin avalanche pass (bijective on 30 bits), staged so each
    // xor-shift input is evaluated once
    def fin(p: String, from: String, keep: String): String =
      s"""${p}1 AS (SELECT $keep((x * 2654435761) & $mm) AS x FROM $from),
         |${p}2 AS (SELECT ${keep}xor(x, x >> 15) AS x FROM ${p}1),
         |${p}3 AS (SELECT $keep((x * 2246822519) & $mm) AS x FROM ${p}2),
         |${p}4 AS (SELECT ${keep}xor(x, x >> 13) AS x FROM ${p}3),
         |${p}5 AS (SELECT $keep((x * 3266489917) & $mm) AS x FROM ${p}4),
         |${p}6 AS (SELECT ${keep}xor(x, x >> 16) AS x FROM ${p}5)""".stripMargin
    val bitlenCase = (wb to 1 by -1)
      .map(k => s"WHEN w >= ${1L << (k - 1)} THEN $k").mkString(" ")
    val alphaM2 = s"(0.7213 / (1.0 + 1.079 / $m)) * $m * $m"
    s"""WITH ${SynthSql.graphCtes(sf)},
       |h0 AS (SELECT dst AS i, (dst >> 30) & $mm AS x FROM dedges),
       |${fin("ha", "h0", "i, ")},
       |h1 AS (SELECT xor(i & $mm, x) AS x FROM ha6),
       |${fin("hb", "h1", "")},
       |rw AS (SELECT x & ${m - 1} AS b, x >> ${graft.ml.Hll.P} AS w FROM hb6),
       |regs AS (SELECT b, max(${wb + 1} - (CASE $bitlenCase ELSE 0 END)) AS reg
       |         FROM rw GROUP BY b),
       |agg AS (SELECT coalesce(sum(1.0 / (CAST(1 AS BIGINT) << reg)), 0.0) AS zp,
       |               count(*) AS nb FROM regs)
       |SELECT round(CASE WHEN ($m - nb) > 0 AND $alphaM2 / (zp + ($m - nb)) <= 2.5 * $m
       |  THEN $m * ln(CAST($m AS DOUBLE) / ($m - nb))
       |  ELSE $alphaM2 / (zp + ($m - nb)) END, 4) AS n_estimate
       |FROM agg""".stripMargin
  }
}
