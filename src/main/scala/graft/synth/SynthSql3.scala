package graft.synth

/** DuckDB oracle SQL, third wave: unrolled Brandes betweenness, unrolled
  * synchronous Louvain sweeps, NetworkX-tolerance PageRank with a
  * self-selecting converged round, and the BFS-tree (bfs_generic)
  * parent derivation. Together with [[SynthSql]]/[[SynthSql2]]/[[LshSql]]
  * these make every driver query a full-value cross-engine check.
  */
object SynthSql3 {

  /** Batched Brandes betweenness over the given source oids (reference
    * `gs::BetweennessCentrality`,
    * `apps/centrality/betweenness/betweenness_centrality.h`): forward
    * level-synchronous sigma accumulation unrolled to `maxLevel`, then
    * the dependency back-propagation unrolled backwards; empty levels
    * are no-ops so a generous fixed unroll equals the Spark fixpoint.
    * Output matches `Betweenness.run` rounded to 4 dp (unnormalized).
    */
  def betweennessSql(sf: Double, sources: Seq[String], maxLevel: Int = 15): String = {
    val srcs = sources.map(s => s"'$s'").mkString(", ")
    val fwd = (1 to maxLevel).map { k =>
      val p = s"f${k - 1}"; val st = s"st${k - 1}"
      s"""f$k AS MATERIALIZED (
         |  SELECT f.s, e.dst AS id, CAST($k AS BIGINT) AS lvl, sum(f.sigma) AS sigma
         |  FROM dedges e JOIN $p f ON e.src = f.id
         |  WHERE NOT EXISTS (SELECT 1 FROM $st st WHERE st.s = f.s AND st.id = e.dst)
         |  GROUP BY f.s, e.dst),
         |st$k AS MATERIALIZED (SELECT * FROM $st UNION ALL SELECT * FROM f$k)""".stripMargin
    }.mkString(",\n")
    val bwd = (maxLevel to 1 by -1).map { l =>
      val prev = if (l == maxLevel) s"d${maxLevel + 1}" else s"d${l + 1}"
      s"""wl$l AS (SELECT st.s, st.id AS w, st.sigma AS sw, d.delta AS dw
         |  FROM st$maxLevel st JOIN $prev d ON st.s = d.s AND st.id = d.id WHERE st.lvl = $l),
         |cb$l AS (SELECT w.s, e.src AS id, sum((1.0 + w.dw) / w.sw) AS cf
         |  FROM dedges e JOIN wl$l w ON e.dst = w.w GROUP BY w.s, e.src),
         |ad$l AS (SELECT c.s, c.id, c.cf * st.sigma AS ad
         |  FROM cb$l c JOIN st$maxLevel st ON st.s = c.s AND st.id = c.id AND st.lvl = ${l - 1}),
         |d$l AS MATERIALIZED (SELECT d.s, d.id, d.delta + coalesce(a.ad, 0.0) AS delta
         |  FROM $prev d LEFT JOIN ad$l a ON a.s = d.s AND a.id = d.id)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${SynthSql.graphCtes(sf)},
       |srcs AS (SELECT id AS s FROM vertices WHERE oid IN ($srcs)),
       |f0 AS (SELECT s, s AS id, CAST(0 AS BIGINT) AS lvl, 1.0 AS sigma FROM srcs),
       |st0 AS (SELECT * FROM f0),
       |$fwd,
       |d${maxLevel + 1} AS MATERIALIZED (SELECT s, id, 0.0 AS delta FROM st$maxLevel),
       |$bwd
       |SELECT v.oid AS oid, round(coalesce(b.bw, 0.0), 4) AS betweenness
       |FROM vertices v LEFT JOIN (
       |  SELECT id, sum(delta) AS bw FROM d1 WHERE s <> id GROUP BY id) b ON b.id = v.id""".stripMargin
  }

  /** NetworkX-criterion PageRank (reference `gs::PageRankNetworkX`,
    * `apps/pagerank/pagerank_networkx.h:135-147`): iterate until
    * Σ|r−r_prev| < tol·N. Unrolls `maxRounds` and *self-selects* the
    * first converged round, so the oracle stops at exactly the round the
    * Spark loop stops at (the L1 sequence decays geometrically — ~0.8×
    * per round on this graph — so the threshold crossing is robust to
    * cross-engine FP noise).
    */
  def pageRankTolSql(sf: Double, maxRounds: Int = 25, damping: Double = 0.85,
      tol: Double = 1e-6): String = {
    val n = "(SELECT n FROM nv)"
    val body = (1 to maxRounds).map { k =>
      val p = s"r${k - 1}"
      s"""d$k AS MATERIALIZED (
         |  SELECT coalesce(sum(r), 0.0) AS ds FROM $p LEFT JOIN outd ON $p.id = outd.src
         |  WHERE outd.src IS NULL),
         |r$k AS MATERIALIZED (
         |  SELECT v.id,
         |         ((1.0 - $damping)/$n) + $damping*((SELECT ds FROM d$k)/$n)
         |           + $damping*coalesce(m.s, 0.0) AS r
         |  FROM vertices v LEFT JOIN (
         |    SELECT e.dst AS id, sum(p.r/o.od) AS s
         |    FROM dedges e JOIN $p p ON e.src = p.id JOIN outd o ON o.src = e.src
         |    GROUP BY e.dst) m ON v.id = m.id),
         |l$k AS MATERIALIZED (SELECT sum(abs(a.r - b.r)) AS v FROM r$k a JOIN $p b ON a.id = b.id)""".stripMargin
    }.mkString(",\n")
    val l1s = (1 to maxRounds).map(k => s"SELECT $k AS k, (SELECT v FROM l$k) AS v").mkString(" UNION ALL ")
    val outs = (1 to maxRounds).map(k =>
      s"SELECT v.oid AS oid, round(r$k.r, 6) AS pr FROM vertices v JOIN r$k ON v.id = r$k.id WHERE (SELECT ks FROM kconv) = $k")
      .mkString(" UNION ALL ")
    s"""WITH ${SynthSql.graphCtes(sf)},
       |outd AS MATERIALIZED (SELECT src, count(*) AS od FROM dedges GROUP BY src),
       |nv AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM vertices),
       |r0 AS MATERIALIZED (SELECT id, 1.0/$n AS r FROM vertices),
       |$body,
       |l1s AS (SELECT * FROM ($l1s)),
       |kconv AS (SELECT min(k) AS ks FROM l1s WHERE v < $tol * $n)
       |SELECT * FROM ($outs)""".stripMargin
  }

  /** Closeness (wf_improved) for the source set via unrolled batched
    * reverse Bellman-Ford relaxation in min-union form (twin of
    * `Paths2.closeness` on `SSSP.multiSource(reversed = true)`). Edge
    * weights are positive integer counts so distances are exact
    * integer-valued doubles — cross-engine equality is exact; `rounds`
    * vs `rounds+1` verified converged at build time.
    */
  def closenessSql(sf: Double, sources: Seq[String], rounds: Int = 30): String = {
    val srcs = sources.map(s => s"'$s'").mkString(", ")
    val body = (1 to rounds).map { k =>
      val p = s"ms${k - 1}"
      s"""ms$k AS MATERIALIZED (
         |  SELECT s, id, min(dist) AS dist FROM (
         |    SELECT s, id, dist FROM $p
         |    UNION ALL
         |    SELECT p.s, e.src AS id, p.dist + e.weight AS dist
         |    FROM dedges e JOIN $p p ON e.dst = p.id
         |  ) z GROUP BY s, id)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${SynthSql.graphCtes(sf)},
       |nv AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM vertices),
       |srcs AS (SELECT id AS s FROM vertices WHERE oid IN ($srcs)),
       |ms0 AS (SELECT s, s AS id, 0.0 AS dist FROM srcs),
       |$body,
       |agg AS (SELECT s, sum(dist) AS tot, count(*) AS reach FROM ms$rounds WHERE dist > 0 GROUP BY s)
       |SELECT v.oid AS oid,
       |       round(CASE WHEN a.tot > 0
       |             THEN (CAST(a.reach AS DOUBLE) / ((SELECT n FROM nv) - 1)) * (CAST(a.reach AS DOUBLE) / a.tot)
       |             ELSE 0.0 END, 6) AS closeness
       |FROM vertices v LEFT JOIN agg a ON a.s = v.id
       |WHERE v.oid IN ($srcs)""".stripMargin
  }

  /** Twin of `Paths2.harmonic` (nx harmonic_centrality): the same
    * unrolled reverse multi-source relaxation as [[closenessSql]], the
    * fold is Σ 1/dist (no normalization), rounded to 6 dp.
    */
  def harmonicSql(sf: Double, sources: Seq[String], rounds: Int = 30): String = {
    val srcs = sources.map(s => s"'$s'").mkString(", ")
    val body = (1 to rounds).map { k =>
      val p = s"ms${k - 1}"
      s"""ms$k AS MATERIALIZED (
         |  SELECT s, id, min(dist) AS dist FROM (
         |    SELECT s, id, dist FROM $p
         |    UNION ALL
         |    SELECT p.s, e.src AS id, p.dist + e.weight AS dist
         |    FROM dedges e JOIN $p p ON e.dst = p.id
         |  ) z GROUP BY s, id)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${SynthSql.graphCtes(sf)},
       |srcs AS (SELECT id AS s FROM vertices WHERE oid IN ($srcs)),
       |ms0 AS (SELECT s, s AS id, 0.0 AS dist FROM srcs),
       |$body,
       |agg AS (SELECT s, sum(1.0 / dist) AS tot FROM ms$rounds WHERE dist > 0 GROUP BY s)
       |SELECT v.oid AS oid, round(coalesce(a.tot, 0.0), 6) AS harmonic
       |FROM vertices v LEFT JOIN agg a ON a.s = v.id
       |WHERE v.oid IN ($srcs)""".stripMargin
  }

  /** Shared degree-ordered-orientation triangle CTE block (same
    * derivation as `SynthSql.trianglesSql` / `SynthSql2.lccSql`).
    */
  private val triangleCtes: String =
    """und1 AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
      |         FROM dedges WHERE src <> dst),
      |degt AS MATERIALIZED (SELECT v, count(*) AS d FROM (
      |  SELECT a AS v FROM und1 UNION ALL SELECT b AS v FROM und1) x GROUP BY v),
      |ore AS MATERIALIZED (
      |  SELECT CASE WHEN (da.d < db.d) OR (da.d = db.d AND a < b) THEN a ELSE b END AS src,
      |         CASE WHEN (da.d < db.d) OR (da.d = db.d AND a < b) THEN b ELSE a END AS dst,
      |         CASE WHEN (da.d < db.d) OR (da.d = db.d AND a < b) THEN db.d ELSE da.d END AS dd
      |  FROM und1 JOIN degt da ON und1.a = da.v JOIN degt db ON und1.b = db.v),
      |wedges AS MATERIALIZED (
      |  SELECT e1.src AS s, e1.dst AS v, e2.dst AS w
      |  FROM ore e1 JOIN ore e2 ON e1.src = e2.src
      |  WHERE (e1.dd < e2.dd) OR (e1.dd = e2.dd AND e1.dst < e2.dst)),
      |tri AS MATERIALIZED (SELECT s, v, w FROM wedges
      |        WHERE EXISTS (SELECT 1 FROM ore e3 WHERE e3.src = wedges.v AND e3.dst = wedges.w)),
      |tcnt AS MATERIALIZED (SELECT id, count(*) AS t FROM (
      |  SELECT s AS id FROM tri UNION ALL SELECT v FROM tri UNION ALL SELECT w FROM tri) x
      |  GROUP BY id)""".stripMargin

  /** Transitivity = 2·Σ per-vertex triangle counts / Σ deg·(deg−1)
    * (integer operands — cross-engine exact; twin of
    * `Clustering.transitivity`).
    */
  def transitivitySql(sf: Double): String =
    s"""WITH ${SynthSql.graphCtes(sf)},
       |$triangleCtes
       |SELECT round((2.0 * (SELECT CAST(coalesce(sum(t), 0) AS DOUBLE) FROM tcnt)) /
       |             (SELECT CAST(sum(d * (d - 1)) AS DOUBLE) FROM degt), 6) AS transitivity""".stripMargin

  /** Mean local clustering coefficient over all vertices (twin of
    * `Clustering.avgClustering`; lcc unrounded before the mean).
    */
  def avgClusteringSql(sf: Double): String =
    s"""WITH ${SynthSql.graphCtes(sf)},
       |$triangleCtes,
       |lccv AS (
       |  SELECT CASE WHEN coalesce(dg.d, 0) < 2 THEN 0.0
       |         ELSE (coalesce(tcnt.t, 0) * 2.0) / (dg.d * (dg.d - 1)) END AS lcc
       |  FROM vertices ver
       |  LEFT JOIN degt dg ON ver.id = dg.v
       |  LEFT JOIN tcnt ON ver.id = tcnt.id)
       |SELECT round(avg(lcc), 6) AS avg_clustering FROM lccv""".stripMargin

  /** All-pairs shortest path lengths for a source set — unrolled
    * min-union Bellman-Ford over forward edges (twin of
    * `Paths3.apspLengths` on `SSSP.multiSource`).
    */
  def apspSql(sf: Double, sources: Seq[String], rounds: Int = 30): String = {
    val srcs = sources.map(s => s"'$s'").mkString(", ")
    val body = (1 to rounds).map { k =>
      val p = s"ms${k - 1}"
      s"""ms$k AS MATERIALIZED (
         |  SELECT s, id, min(dist) AS dist FROM (
         |    SELECT s, id, dist FROM $p
         |    UNION ALL
         |    SELECT p.s, e.dst AS id, p.dist + e.weight AS dist
         |    FROM dedges e JOIN $p p ON e.src = p.id
         |  ) z GROUP BY s, id)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${SynthSql.graphCtes(sf)},
       |srcs AS (SELECT id AS s FROM vertices WHERE oid IN ($srcs)),
       |ms0 AS (SELECT s, s AS id, 0.0 AS dist FROM srcs),
       |$body
       |SELECT vs.oid AS src_oid, v.oid AS oid, round(m.dist, 6) AS dist
       |FROM ms$rounds m JOIN vertices vs ON m.s = vs.id JOIN vertices v ON m.id = v.id""".stripMargin
  }

  /** Attribute (mixing-matrix) assortativity over the participant-kind
    * category (twin of `Paths3.attributeAssortativity` with
    * `PropertyGraph.labelOf` as the attribute).
    */
  def attrAssortSql(sf: Double): String =
    s"""WITH ${SynthSql.graphCtes(sf)},
       |cat AS (SELECT id,
       |        CASE WHEN oid LIKE 'tool:%' THEN 'tool'
       |             WHEN oid LIKE 'assistant%' THEN 'assistant'
       |             WHEN oid LIKE 'agent:%' THEN 'agent'
       |             WHEN oid = 'system' THEN 'system'
       |             ELSE 'user' END AS cat FROM vertices),
       |mm AS MATERIALIZED (SELECT a.cat AS ca, b.cat AS cb, count(*) AS n
       |      FROM dedges e JOIN cat a ON e.src = a.id JOIN cat b ON e.dst = b.id
       |      GROUP BY 1, 2),
       |tot AS (SELECT CAST(sum(n) AS DOUBLE) AS t FROM mm),
       |tr AS (SELECT CAST(coalesce(sum(n), 0) AS DOUBLE) / (SELECT t FROM tot) AS v FROM mm WHERE ca = cb),
       |ab AS (SELECT coalesce(sum((CAST(na AS DOUBLE) / (SELECT t FROM tot)) *
       |                           (CAST(nb AS DOUBLE) / (SELECT t FROM tot))), 0.0) AS s
       |       FROM (SELECT ca, sum(n) AS na FROM mm GROUP BY ca) x
       |       JOIN (SELECT cb, sum(n) AS nb FROM mm GROUP BY cb) y ON x.ca = y.cb)
       |SELECT round(CASE WHEN (SELECT s FROM ab) = 1.0 THEN 1.0
       |       ELSE ((SELECT v FROM tr) - (SELECT s FROM ab)) / (1.0 - (SELECT s FROM ab)) END, 6)
       |  AS attr_assortativity""".stripMargin

  /** Edge boundary of the tool vertex set (reference `gs::EdgeBoundary`,
    * `apps/boundary/edge_boundary.h`).
    */
  def edgeBoundarySql(sf: Double, oidLike: String = "tool:%"): String =
    s"""WITH ${SynthSql.graphCtes(sf)},
       |s AS (SELECT id FROM vertices WHERE oid LIKE '$oidLike')
       |SELECT vs.oid AS src_oid, vd.oid AS dst_oid
       |FROM dedges e JOIN s ON e.src = s.id
       |JOIN vertices vs ON vs.id = e.src
       |JOIN vertices vd ON vd.id = e.dst
       |WHERE e.dst NOT IN (SELECT id FROM s)""".stripMargin

  /** Eigenvector centrality, fixed `rounds` power iterations with
    * per-round L2 normalization (twin of `Centrality.eigenvector(g,
    * maxIter = rounds, tol = 0)`; reference
    * `apps/centrality/eigenvector/eigenvector_centrality.h` — pull over
    * in-edges, self-retaining x' = x + Aᵀx).
    */
  def eigenvectorSql(sf: Double, rounds: Int = 15): String = {
    val body = (1 to rounds).map { k =>
      val p = s"x${k - 1}"
      s"""raw$k AS MATERIALIZED (
         |  SELECT v.id, p.x + coalesce(m.s, 0.0) AS raw
         |  FROM vertices v JOIN $p p ON v.id = p.id
         |  LEFT JOIN (SELECT e.dst AS id, sum(px.x) AS s FROM dedges e JOIN $p px ON e.src = px.id GROUP BY e.dst) m
         |    ON m.id = v.id),
         |nrm$k AS (SELECT CASE WHEN sqrt(sum(raw*raw)) = 0 THEN 1.0 ELSE sqrt(sum(raw*raw)) END AS v FROM raw$k),
         |x$k AS MATERIALIZED (SELECT id, raw / (SELECT v FROM nrm$k) AS x FROM raw$k)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${SynthSql.graphCtes(sf)},
       |nv AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM vertices),
       |x0 AS (SELECT id, 1.0/(SELECT n FROM nv) AS x FROM vertices),
       |$body
       |SELECT v.oid AS oid, round(x$rounds.x, 6) AS centrality
       |FROM vertices v JOIN x$rounds ON v.id = x$rounds.id""".stripMargin
  }

  /** Katz centrality, fixed `rounds` iterations x' = α·Aᵀx + β with a
    * final L2 normalize (twin of `Centrality.katz(g, alpha, beta,
    * maxIter = rounds, tol = 0)`; reference
    * `apps/centrality/katz/katz_centrality.h`). α must keep α·λ₁ < 1
    * (λ₁ ≈ √maxdeg ≈ 114 on this graph → α = 0.005 contracts).
    */
  def katzSql(sf: Double, rounds: Int = 10, alpha: Double = 0.005, beta: Double = 1.0): String = {
    val body = (1 to rounds).map { k =>
      val p = s"x${k - 1}"
      s"""x$k AS MATERIALIZED (
         |  SELECT v.id, CAST($alpha AS DOUBLE) * coalesce(m.s, 0.0) + CAST($beta AS DOUBLE) AS x
         |  FROM vertices v JOIN $p p ON v.id = p.id
         |  LEFT JOIN (SELECT e.dst AS id, sum(px.x) AS s FROM dedges e JOIN $p px ON e.src = px.id GROUP BY e.dst) m
         |    ON m.id = v.id)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${SynthSql.graphCtes(sf)},
       |x0 AS (SELECT id, CAST(0.0 AS DOUBLE) AS x FROM vertices),
       |$body,
       |nrm AS (SELECT CASE WHEN sqrt(sum(x*x)) = 0 THEN 1.0 ELSE sqrt(sum(x*x)) END AS v FROM x$rounds)
       |SELECT v.oid AS oid, round(x$rounds.x / (SELECT v FROM nrm), 6) AS centrality
       |FROM vertices v JOIN x$rounds ON v.id = x$rounds.id""".stripMargin
  }

  /** Node boundary of the tool vertex set (reference
    * `gs::NodeBoundary`, `apps/boundary/node_boundary.h`): out-neighbors
    * of S not themselves in S.
    */
  def nodeBoundarySql(sf: Double, oidLike: String = "tool:%"): String =
    s"""WITH ${SynthSql.graphCtes(sf)},
       |s AS (SELECT id FROM vertices WHERE oid LIKE '$oidLike')
       |SELECT DISTINCT v.oid AS oid
       |FROM dedges e JOIN s ON e.src = s.id
       |JOIN vertices v ON v.id = e.dst
       |WHERE e.dst NOT IN (SELECT id FROM s)""".stripMargin

  // ---- multi-label property-graph twins (graft.graph.PropertyGraph) ----

  /** WCC over the PROJECT(vertex labels ≠ tool, edge label = reply)
    * simple graph — twin of `PropertyGraph.project(...non-tool...,
    * Seq("reply"))` + `WCC.canonical`. The reply/invoke split is
    * re-derived from the `reply` CTE of the shared graph derivation;
    * unroll verified converged (20 vs 21 identical at build time).
    */
  def mlWccReplySql(sf: Double, rounds: Int = 22): String = {
    val body = (1 to rounds).map { k =>
      s"""c$k AS MATERIALIZED (
         |  SELECT v.id, least(p.comp, coalesce(m.mc, p.comp)) AS comp
         |  FROM mlv v JOIN c${k - 1} p ON v.id = p.id
         |  LEFT JOIN (SELECT u.b AS id, min(pc.comp) AS mc FROM undr u JOIN c${k - 1} pc ON u.a = pc.id GROUP BY u.b) m ON m.id = v.id)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${SynthSql.graphCtes(sf)},
       |mlv AS MATERIALIZED (SELECT id, oid FROM vertices WHERE oid NOT LIKE 'tool:%'),
       |redges AS MATERIALIZED (
       |  SELECT DISTINCT vs.id AS src, vd.id AS dst
       |  FROM (SELECT DISTINCT src_oid, dst_oid FROM reply) r
       |  JOIN vertices vs ON r.src_oid = vs.oid JOIN vertices vd ON r.dst_oid = vd.oid
       |  WHERE vs.oid NOT LIKE 'tool:%' AND vd.oid NOT LIKE 'tool:%'),
       |undr AS MATERIALIZED (SELECT DISTINCT a, b FROM (
       |  SELECT src AS a, dst AS b FROM redges WHERE src <> dst
       |  UNION ALL SELECT dst, src FROM redges WHERE src <> dst) x),
       |c0 AS (SELECT id, id AS comp FROM mlv),
       |$body
       |SELECT v.oid AS oid, cv.oid AS comp_oid
       |FROM mlv v JOIN c$rounds c ON v.id = c.id JOIN mlv cv ON c.comp = cv.id""".stripMargin
  }

  /** Per-assistant out-degree and weight in the PROJECT(assistant+tool,
    * invoke) view — twin of `PropertyGraph.project(Seq("assistant",
    * "tool"), Seq("invoke"))` edge aggregates.
    */
  def mlInvokeDegSql(sf: Double): String =
    s"""WITH ${SynthSql.graphCtes(sf)},
       |inv AS (SELECT src_oid, dst_oid, CAST(count(*) AS DOUBLE) AS w
       |        FROM invoke GROUP BY src_oid, dst_oid)
       |SELECT src_oid AS oid, CAST(count(*) AS BIGINT) AS out_deg, sum(w) AS w_out
       |FROM inv GROUP BY src_oid""".stripMargin

  /** Bipartite weighted label diffusion (twin of `LPAU2I.run` with the
    * oid-parity seed, long (id, pos) state format): `rounds` pairs of
    * u2i / i2u steps, each `sum(v·w)/sum(w)` per (dst, pos) from the
    * sending side only, receivers of no message keep their vector.
    */
  def lpau2iSql(sf: Double, rounds: Int = 2): String = {
    val steps = (0 until rounds * 2).map { k =>
      val fromU = if (k % 2 == 0) "TRUE" else "FALSE"
      val p = s"st$k"
      s"""msg${k + 1} AS MATERIALIZED (
         |  SELECT e.dst AS id, s.pos, sum(s.v * e.weight) / sum(e.weight) AS nv
         |  FROM dedges e JOIN $p s ON e.src = s.id WHERE s.isu = $fromU
         |  GROUP BY e.dst, s.pos),
         |st${k + 1} AS MATERIALIZED (
         |  SELECT s.id, s.pos,
         |         CASE WHEN s.isu = $fromU OR m.nv IS NULL THEN s.v ELSE m.nv END AS v,
         |         s.isu
         |  FROM $p s LEFT JOIN msg${k + 1} m ON m.id = s.id AND m.pos = s.pos)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${SynthSql.graphCtes(sf)},
       |st0 AS (
       |  SELECT v.id, p.pos,
       |         CASE WHEN v.oid LIKE 'u%' THEN
       |           (CASE WHEN (CAST(substr(v.oid, 2) AS BIGINT) % 2 = 0) = (p.pos = 0)
       |                 THEN 1.0 ELSE 0.0 END)
       |         ELSE 0.0 END AS v,
       |         v.oid LIKE 'u%' AS isu
       |  FROM vertices v CROSS JOIN (SELECT unnest(generate_series(0, 1)) AS pos) p),
       |$steps
       |SELECT v.oid AS oid, CAST(s.pos AS INTEGER) AS pos, round(s.v, 6) AS v
       |FROM st${rounds * 2} s JOIN vertices v ON s.id = v.id""".stripMargin
  }

  /** Deterministic sampling walks (twin of `Paths3.samplingPaths`):
    * per start oid, `steps` argmin-hash hops over the distinct oid-edge
    * table; dead ends keep the tip. Output path joined with '>'.
    */
  def samplingSql(sf: Double, starts: Seq[String], steps: Int, seed: Long = 42L): String = {
    val p = graft.text.TextOps.HashP
    val st = starts.map(s => s"('$s')").mkString(", ")
    val body = (0 until steps).map { step =>
      val prev = s"w$step"
      val pick = s"((${LshSql.phash("w.tip")} * 31 + ${LshSql.phash("eo.dst_oid")} * 17 + " +
        s"${seed * 1000003L + step * 7919L}) % $p)"
      s"""w${step + 1} AS MATERIALIZED (
         |  SELECT start,
         |         CASE WHEN b IS NULL THEN path ELSE path || '>' || b END AS path,
         |         coalesce(b, tip) AS tip
         |  FROM (
         |    SELECT w.start, w.path, w.tip, eo.dst_oid AS b,
         |           row_number() OVER (PARTITION BY w.start ORDER BY $pick, eo.dst_oid) AS rn
         |    FROM $prev w LEFT JOIN edges_oid eo ON eo.src_oid = w.tip) z
         |  WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${SynthSql.graphCtes(sf)},
       |st(start) AS (VALUES $st),
       |w0 AS (SELECT start, start AS path, start AS tip FROM st),
       |$body
       |SELECT start AS start_oid, path AS path_str FROM w$steps""".stripMargin
  }

  /** All simple paths from `src` to `dst` with ≤ 2 edges (twin of
    * `Paths3.allSimplePaths(cutoff = 2)`), path joined with '>'.
    */
  def simplePathsSql(sf: Double, src: String, dst: String): String =
    s"""WITH ${SynthSql.graphCtes(sf)}
       |SELECT '$src' || '>' || '$dst' AS path_str
       |FROM edges_oid WHERE src_oid = '$src' AND dst_oid = '$dst'
       |UNION ALL
       |SELECT '$src' || '>' || e1.dst_oid || '>' || '$dst' AS path_str
       |FROM edges_oid e1 JOIN edges_oid e2 ON e2.src_oid = e1.dst_oid
       |WHERE e1.src_oid = '$src' AND e2.dst_oid = '$dst'
       |  AND e1.dst_oid <> '$src' AND e1.dst_oid <> '$dst'""".stripMargin

  /** Twin of `Paths3.allSimpleEdgePaths` at cutoff 2: the same unrolled
    * 1-hop/2-hop enumeration as [[simplePathsSql]], exploded into
    * (path_str, pos, src_oid, dst_oid) edge rows.
    */
  def simpleEdgePathsSql(sf: Double, src: String, dst: String): String =
    s"""WITH ${SynthSql.graphCtes(sf)},
       |p2 AS (
       |  SELECT e1.dst_oid AS mid
       |  FROM edges_oid e1 JOIN edges_oid e2 ON e2.src_oid = e1.dst_oid
       |  WHERE e1.src_oid = '$src' AND e2.dst_oid = '$dst'
       |    AND e1.dst_oid <> '$src' AND e1.dst_oid <> '$dst')
       |SELECT '$src' || '>' || '$dst' AS path_str, 0 AS pos,
       |       '$src' AS src_oid, '$dst' AS dst_oid
       |FROM edges_oid WHERE src_oid = '$src' AND dst_oid = '$dst'
       |UNION ALL
       |SELECT '$src' || '>' || mid || '>' || '$dst', 0, '$src', mid FROM p2
       |UNION ALL
       |SELECT '$src' || '>' || mid || '>' || '$dst', 1, mid, '$dst' FROM p2""".stripMargin

  // ---- GIE traversal DSL twins (graft.gie.Traversal) ----

  /** 2-hop EdgeExpand chain with a mid-hop Select: user → agent → any,
    * path-multiplicity counts per endpoint oid (traverser multiplicity
    * is preserved through EdgeExpand, as in Gremlin/GIE). The first hop
    * is filtered and counted per middle vertex before the second hop
    * joins it, so no unfiltered edge pair is ever built.
    */
  def gie2hopSql(sf: Double): String =
    s"""WITH ${SynthSql.graphCtes(sf)},
       |hop1 AS (
       |  SELECT e1.dst AS mid, count(*) AS c
       |  FROM dedges e1
       |  JOIN vertices vs ON vs.id = e1.src
       |  JOIN vertices vm ON vm.id = e1.dst
       |  WHERE vs.oid LIKE 'u%' AND vm.oid LIKE 'agent:%'
       |  GROUP BY e1.dst)
       |SELECT vd.oid AS oid, CAST(sum(h.c) AS BIGINT) AS n
       |FROM hop1 h JOIN dedges e2 ON e2.src = h.mid
       |JOIN vertices vd ON vd.id = e2.dst
       |GROUP BY vd.oid""".stripMargin

  /** First-visit level chain shared by the PathExpand /
    * ShortestPathExpand twins. `rel` is the hop relation (src, dst) —
    * `dedges` for OUT, `bedges` (the symmetrized CTE) for BOTH.
    */
  private def frontierCtes(sourceOid: String, upper: Int, rel: String = "dedges"): String = {
    val body = (1 to upper).map { k =>
      val f = s"f${k - 1}"; val vis = s"vis${k - 1}"
      s"""f$k AS MATERIALIZED (
         |  SELECT DISTINCT e.dst AS id FROM $rel e JOIN $f f ON e.src = f.id
         |  WHERE e.dst NOT IN (SELECT id FROM $vis)),
         |vis$k AS MATERIALIZED (SELECT id, h FROM $vis UNION ALL SELECT id, $k AS h FROM f$k)""".stripMargin
    }.mkString(",\n")
    s"""f0 AS (SELECT id FROM vertices WHERE oid = '$sourceOid'),
       |vis0 AS (SELECT id, 0 AS h FROM f0),
       |$body""".stripMargin
  }

  /** PathExpand lower..upper (Dedup-fused min-hop semantics of
    * `Traversal.pathExpand`); `dir` = base EdgeExpand direction.
    */
  def giePathExpandSql(
      sf: Double, sourceOid: String, lower: Int, upper: Int, dir: String = "out"): String = {
    val (prefix, rel) = dir match {
      case "out" => ("", "dedges")
      case "both" =>
        ("bedges AS (SELECT src, dst FROM dedges UNION ALL SELECT dst AS src, src AS dst FROM dedges),\n",
          "bedges")
      case other => throw new IllegalArgumentException(s"unsupported twin direction: $other")
    }
    s"""WITH ${SynthSql.graphCtes(sf)},
       |$prefix${frontierCtes(sourceOid, upper, rel)}
       |SELECT v.oid AS oid, CAST(z.h AS BIGINT) AS hops
       |FROM vis$upper z JOIN vertices v ON z.id = v.id
       |WHERE z.h BETWEEN $lower AND $upper""".stripMargin
  }

  /** ShortestPathExpand + endpoint filter (`Traversal.shortestPathExpand`
    * then Auxilia + Select).
    */
  def gieShortestSql(sf: Double, sourceOid: String, maxHops: Int, oidLike: String): String =
    s"""WITH ${SynthSql.graphCtes(sf)},
       |${frontierCtes(sourceOid, maxHops)}
       |SELECT v.oid AS oid, CAST(z.h AS BIGINT) AS hops
       |FROM vis$maxHops z JOIN vertices v ON z.id = v.id
       |WHERE v.oid LIKE '$oidLike'""".stripMargin

  /** Apply-SEMI (whereExists sub-traversal): users with an agent
    * out-neighbor.
    */
  def gieExistsSql(sf: Double): String =
    s"""WITH ${SynthSql.graphCtes(sf)}
       |SELECT v.oid AS oid FROM vertices v
       |WHERE v.oid LIKE 'u%' AND EXISTS (
       |  SELECT 1 FROM dedges e JOIN vertices vd ON vd.id = e.dst
       |  WHERE e.src = v.id AND vd.oid LIKE 'agent:%')""".stripMargin

  /** OrderBy+limit TopK over a groupCount. */
  def gieTopkSql(sf: Double, k: Int): String =
    s"""WITH ${SynthSql.graphCtes(sf)}
       |SELECT vd.oid AS oid, count(*) AS n
       |FROM dedges e JOIN vertices vd ON vd.id = e.dst
       |GROUP BY vd.oid ORDER BY n DESC, oid ASC LIMIT $k""".stripMargin

  /** GIE Union (`algebra.proto:74`): three branches from the same
    * source set — out(), in(), out().out() — merged with bag semantics,
    * then groupCount + ordered top-k. Twin of
    * `Traversal.union(_.out(), _.in(), _.out().out())`.
    */
  def gieUnionSql(sf: Double, sourceOid: String, k: Int): String =
    s"""WITH ${SynthSql.graphCtes(sf)},
       |s AS (SELECT id FROM vertices WHERE oid = '$sourceOid'),
       |u AS (
       |  SELECT e.dst AS id FROM dedges e JOIN s ON e.src = s.id
       |  UNION ALL
       |  SELECT e.src AS id FROM dedges e JOIN s ON e.dst = s.id
       |  UNION ALL
       |  SELECT e2.dst AS id FROM dedges e1 JOIN s ON e1.src = s.id
       |  JOIN dedges e2 ON e2.src = e1.dst)
       |SELECT v.oid AS oid, count(*) AS n
       |FROM u JOIN vertices v ON v.id = u.id
       |GROUP BY v.oid ORDER BY n DESC, oid ASC LIMIT $k""".stripMargin

  /** SegmentApply (per-source top-k out-edges by weight) — twin of
    * `Traversal.outE().segmentTopK(...)`. Per-src ranking commutes with
    * the source filter, so ranking over all sources then filtering
    * matches the filtered traversal.
    */
  def gieSegmentSql(sf: Double, srcLike: String, k: Int): String =
    s"""WITH ${SynthSql.graphCtes(sf)},
       |rk AS (SELECT src, dst, weight,
       |              row_number() OVER (PARTITION BY src ORDER BY weight DESC, dst ASC) AS rn
       |       FROM dedges)
       |SELECT vs.oid AS src_oid, vd.oid AS dst_oid, rk.weight AS w
       |FROM rk JOIN vertices vs ON vs.id = rk.src JOIN vertices vd ON vd.id = rk.dst
       |WHERE rk.rn <= $k AND vs.oid LIKE '$srcLike'""".stripMargin

  /** BFS tree (reference `gs::BFSGeneric`, `apps/bfs/bfs_generic.h`):
    * per reachable vertex its level and the smallest-id predecessor on a
    * shortest path (null for the source). Levels from the same unrolled
    * expansion as [[SynthSql2.bfsSql]].
    */
  /** Unrolled BFS level chain `b0..b{rounds}` from `sourceOid`, ending
    * in `lv(id, lvl)` = the reachable set with levels (shared by the
    * tree/predecessors twins).
    */
  private def bfsLevelCtes(sourceOid: String, rounds: Int): String = {
    val body = (1 to rounds).map { k =>
      val p = s"b${k - 1}"
      s"""b$k AS MATERIALIZED (
         |  SELECT v.id,
         |         CASE WHEN p.lvl IS NULL AND m.hit THEN $k ELSE p.lvl END AS lvl
         |  FROM vertices v JOIN $p p ON v.id = p.id
         |  LEFT JOIN (
         |    SELECT DISTINCT e.dst AS id, TRUE AS hit
         |    FROM dedges e JOIN $p p2 ON e.src = p2.id
         |    WHERE p2.lvl = ${k - 1}) m ON m.id = v.id
         |)""".stripMargin
    }.mkString(",\n")
    s"""b0 AS (SELECT id, CASE WHEN oid = '$sourceOid' THEN 0 ELSE NULL END AS lvl FROM vertices),
       |$body,
       |lv AS (SELECT id, lvl FROM b$rounds WHERE lvl IS NOT NULL)""".stripMargin
  }

  def bfsTreeSql(sf: Double, rounds: Int = 15): String =
    s"""WITH ${SynthSql.graphCtes(sf)},
       |${bfsLevelCtes("assistant", rounds)},
       |par AS (
       |  SELECT e.dst AS id, min(e.src) AS par
       |  FROM dedges e JOIN lv ls ON e.src = ls.id JOIN lv ld ON e.dst = ld.id
       |  WHERE ls.lvl = ld.lvl - 1 GROUP BY e.dst)
       |SELECT v.oid AS oid, CAST(l.lvl AS BIGINT) AS level, pv.oid AS parent_oid
       |FROM lv l JOIN vertices v ON l.id = v.id
       |LEFT JOIN par p ON p.id = l.id
       |LEFT JOIN vertices pv ON p.par = pv.id""".stripMargin

  /** BFS-DAG edges (every edge u→v with level(u) = level(v) − 1),
    * projected per caller — the shared body of the predecessors /
    * successors twins so their DAG predicate cannot diverge.
    */
  private def bfsDagEdgesSql(sf: Double, rounds: Int, projection: String): String =
    s"""WITH ${SynthSql.graphCtes(sf)},
       |${bfsLevelCtes("assistant", rounds)}
       |SELECT $projection
       |FROM dedges e JOIN lv ls ON e.src = ls.id JOIN lv ld ON e.dst = ld.id
       |JOIN vertices vd ON vd.id = e.dst JOIN vertices vs ON vs.id = e.src
       |WHERE ls.lvl = ld.lvl - 1""".stripMargin

  /** bfs_generic AUX mode (reference `apps/bfs/bfs_generic.h`): ALL
    * shortest-path predecessor pairs of the BFS DAG. Twin of
    * `BFSGeneric.predecessors`.
    */
  def bfsPredsSql(sf: Double, rounds: Int = 15): String =
    bfsDagEdgesSql(sf, rounds, "vd.oid AS oid, vs.oid AS pred_oid")

  /** bfs_generic successors mode: every BFS-DAG edge projected as
    * (source oid, successor oid). Twin of `BFSGeneric.successors`.
    */
  def bfsSuccsSql(sf: Double, rounds: Int = 15): String =
    bfsDagEdgesSql(sf, rounds, "vs.oid AS oid, vd.oid AS succ_oid")

  /** Snapshot-sink round-trip twin: the out-degree table the Spark side
    * commits twice to a versioned [[graft.ingest.SnapshotStore]] and
    * reads back at `_latest` — version is the second commit (1), and the
    * manifest row count must equal the table's own cardinality (the
    * manifest is built from parquet footers, so a mismatch means a
    * broken commit).
    */
  def snapshotSinkSql(sf: Double): String =
    s"""WITH ${SynthSql.graphCtes(sf)},
       |d AS (SELECT vs.oid AS oid, count(*) AS outdeg
       |      FROM dedges e JOIN vertices vs ON vs.id = e.src GROUP BY vs.oid)
       |SELECT oid, outdeg, CAST(1 AS INTEGER) AS version,
       |       (SELECT count(*) FROM d) AS manifest_rows
       |FROM d""".stripMargin

  /** sssp_has_path (reference `apps/sssp/sssp_has_path.h`): batched
    * reachability for the given (src, dst) oid pairs — one multi-source
    * frontier chain keyed by source tag, converged at `rounds` (probed
    * k vs k+1 like the other unrolled fixpoints).
    */
  def hasPathSql(sf: Double, pairs: Seq[(String, String)], rounds: Int = 18): String = {
    val srcs = pairs.map(_._1).distinct.zipWithIndex
    val srcVals = srcs.map { case (o, t) => s"($t, '$o')" }.mkString(", ")
    val pairVals = pairs.map { case (a, b) => s"('$a', '$b')" }.mkString(", ")
    val body = (1 to rounds).map { k =>
      val f = s"f${k - 1}"; val vis = s"vis${k - 1}"
      s"""f$k AS MATERIALIZED (
         |  SELECT DISTINCT p.tag, e.dst AS id FROM dedges e JOIN $f p ON e.src = p.id
         |  WHERE NOT EXISTS (SELECT 1 FROM $vis v WHERE v.tag = p.tag AND v.id = e.dst)),
         |vis$k AS MATERIALIZED (
         |  SELECT tag, id FROM $vis UNION ALL SELECT tag, id FROM f$k)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${SynthSql.graphCtes(sf)},
       |s0(tag, oid) AS (VALUES $srcVals),
       |f0 AS (SELECT s.tag, v.id FROM s0 s JOIN vertices v ON v.oid = s.oid),
       |vis0 AS (SELECT tag, id FROM f0),
       |$body
       |SELECT p.src_oid, p.dst_oid,
       |  EXISTS (SELECT 1 FROM vis$rounds v JOIN s0 s ON s.tag = v.tag
       |          JOIN vertices tv ON tv.id = v.id
       |          WHERE s.oid = p.src_oid AND tv.oid = p.dst_oid) AS has_path
       |FROM (VALUES $pairVals) p(src_oid, dst_oid)""".stripMargin
  }

  /** is_simple_path (reference `gs::IsSimplePath`): for each literal oid
    * walk, every consecutive pair must be an edge and no vertex may
    * repeat (the repeat check is a generator-side constant — it depends
    * only on the literal path; the edge-existence is data-dependent and
    * is what the oracle exercises).
    */
  def isSimplePathSql(sf: Double, paths: Seq[Seq[String]]): String = {
    val rows = paths.map { p =>
      val pathStr = p.mkString(">")
      val noDup = p.distinct.size == p.size
      if (p.size < 2) s"SELECT '$pathStr' AS path_str, ${p.nonEmpty} AS is_simple"
      else {
        val hops = p.zip(p.tail).map { case (a, b) => s"('$a', '$b')" }.mkString(", ")
        s"""SELECT '$pathStr' AS path_str, ($noDup AND
           |  (SELECT count(*) FROM (VALUES $hops) h(a, b)
           |   JOIN edges_oid e ON e.src_oid = h.a AND e.dst_oid = h.b) = ${p.size - 1}) AS is_simple""".stripMargin
      }
    }.mkString("\nUNION ALL\n")
    s"""WITH ${SynthSql.graphCtes(sf)}
       |$rows""".stripMargin
  }

  /** As/select tag jump (`algebra.proto:236` As + select-by-tag): tag
    * the agent, expand to a user, jump back — one bag row per
    * agent→user edge. Twin of the Gremlin `as('a')…select('a')` query.
    */
  def gieTagsSql(sf: Double): String =
    s"""WITH ${SynthSql.graphCtes(sf)}
       |SELECT vs.oid AS oid
       |FROM dedges e JOIN vertices vs ON vs.id = e.src
       |JOIN vertices vd ON vd.id = e.dst
       |WHERE vs.oid LIKE 'agent:%' AND vd.oid LIKE 'u%'""".stripMargin
}
