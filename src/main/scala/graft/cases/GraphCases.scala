package graft.cases

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Case
import graft.Case._
import graft.SparkEntry.{CdlpRounds, OracleSf, PrRounds, graphFor}
import graft.Twin.unrolled
import graft.algos._
import graft.engine.{CheckpointConfig, Pregel, Skew}
import graft.graph.{GraphBuilder, GraphOps, LinkGraph, PropertyGraph}
import graft.ingest.SnapshotStore
import graft.ml.{Gsl, NegativeSample, NeighborSample}
import graft.schema.{Edge, Vertex}
import graft.synth.{SynthSql, SynthSql2, SynthSql3, SynthSql4, SynthSql5, SynthSql7}

/** Graph plane: the GraphScope-equivalent analytics over the
  * transcript-derived link graph, its samplers, and the session-plane
  * graph operations (SURVEY.md §2.B).
  */
object GraphCases {
  private val KcoreK = 30
  private val PprRounds = 65

  /** Source set of the batched multi-source queries. */
  private val Hubs = Seq("assistant", "tool:t0", "system")
  private val SampleSeeds = Seq("system", "assistant", "u1")
  private val NegativeSeeds = SampleSeeds :+ "tool:t0"

  /** Literal probe sets for the has_path / is_simple_path driver queries
    * (the reference apps answer one query per run). Mix of reachable and
    * unreachable pairs / valid and invalid walks at the oracle sf.
    */
  private val HasPathPairs = Seq(
    ("assistant", "system"),    // system has no in-edges → false
    ("system", "assistant"),    // true
    ("assistant", "tool:t4"))   // true
  private val SimplePathCases = Seq(
    Seq("assistant", "u1", "assistant:794"), // both hops are edges → true
    Seq("u1", "assistant", "u1"),            // repeated vertex → false
    Seq("assistant", "system"))              // no such edge → false

  private[cases] val wcc = unrolled(30)(SynthSql.wccSql(OracleSf, _))
  private val ppr = unrolled(PprRounds)(SynthSql5.pprSql(OracleSf, "tool:t0", _))

  private def idOf(g: LinkGraph, oid: String): Long =
    g.vertices.toDF.where(col("oid") === oid).select(col("id")).head().getLong(0)

  private def roundedScalar(g: LinkGraph, name: String, value: Double): DataFrame = {
    val s = g.vertices.sparkSession
    import s.implicits._
    Seq(value).toDF(name).select(round(col(name), 6).as(name))
  }

  val cases: Seq[Case] = Seq(
    graph("tg_edges", SynthSql.edgesSql(OracleSf))(_.oidEdges()),
    graph("tg_degrees", SynthSql.degreesSql(OracleSf))(_.degrees.select("oid", "out_deg", "in_deg")),
    // explicit hub-skew salting over the mega-hub tool vertices: salted
    // two-phase sum + salted collect (length) must equal the plain
    // groupBy aggregates — the north rule's "explicit salting/splitting
    // of hub-vertex skew", driver-checked against an unsalted twin
    graph("tg_salted_hub", SynthSql5.saltedHubSql(OracleSf)) { g =>
      val e = g.edges.toDF
      val sums = Skew.saltedSum(e, "dst", "weight", saltFrom = "src")
      val lens = Skew
        .saltedCollectSorted(e.select(col("dst"), col("src")), "dst", "src", saltFrom = "src")
        .select(col("dst"), size(col("src")).as("n_in"))
      sums.join(lens, "dst")
        .join(g.vertices.toDF.select(col("id").as("dst"), col("oid")), Seq("dst"))
        .where(col("oid").like("tool:%"))
        .select(col("oid"), round(col("weight"), 6).as("w_in"), col("n_in"))
    },
    rounded("tg_pagerank", SynthSql.pageRankSql(OracleSf, PrRounds), "pr")(g =>
      PageRank.run(g, PageRank.Config(0.85, PrRounds)).withColumnRenamed("rank", "pr")),
    // exact checkpoint/resume on the driver surface (north rule:
    // "per-iteration state checkpointed to snapshots carrying
    // per-partition lineage and metrics for exact resume"): phase 1
    // runs 5 rounds writing a versioned snapshot + manifest per round
    // into a per-invocation SnapshotStore, phase 2 is a FRESH
    // invocation that resumes from the latest manifest (iteration,
    // base, dangling mass) and finishes the remaining rounds — the
    // result must hash-match the UNINTERRUPTED PrRounds oracle (same
    // SQL twin as tg_pagerank), proving the resumed arithmetic is
    // bit-identical, not merely close
    scratch("tg_pagerank_resume", SynthSql.pageRankSql(OracleSf, PrRounds), "graft-pr-resume") {
      (s, dir, tmp) =>
        val g = graphFor(s, dir)
        val ckpt = Some(CheckpointConfig(new SnapshotStore(tmp), "pr", every = 1))
        PageRank.run(g, PageRank.Config(0.85, 5), ckpt = ckpt)
        roundedByOid(g, PageRank.run(g, PageRank.Config(0.85, PrRounds), ckpt = ckpt)
          .withColumnRenamed("rank", "pr"), "pr")
    },
    // weighted PageRank (nx pagerank on the weighted transcript graph:
    // contributions split by edge weight / Σ out-weights)
    rounded("tg_pagerank_w", SynthSql.pageRankWeightedSql(OracleSf, PrRounds), "pr")(g =>
      PageRank.run(g, PageRank.Config(0.85, PrRounds, weighted = true)).withColumnRenamed("rank", "pr")),
    graph("tg_wcc", wcc)(g => WCC.canonical(g, WCC.run(g))),
    // exact WCC checkpoint/resume (same contract as tg_pagerank_resume):
    // 5 HashMin rounds checkpointed per-round, fresh invocation resumes
    // from the manifest (state with its changed-frontier flag) and runs
    // to the fixpoint — the hash vs the uninterrupted twin is EXACT
    scratch("tg_wcc_resume", wcc.sql, "graft-wcc-resume") { (s, dir, tmp) =>
      val g = graphFor(s, dir)
      val ckpt = Some(CheckpointConfig(new SnapshotStore(tmp), "wcc", every = 1))
      WCC.run(g, maxIter = 5, ckpt = ckpt)
      WCC.canonical(g, WCC.run(g, ckpt = ckpt))
    },
    graph("tg_cdlp", SynthSql.cdlpSql(OracleSf, CdlpRounds)) { g =>
      CDLP.run(g, CdlpRounds)
        .join(g.vertices.toDF, Seq("id"))
        .join(g.vertices.toDF.select(col("id").as("label"), col("oid").as("label_oid")), Seq("label"))
        .select("oid", "label_oid")
    },
    // the Pregel vertex-program UDF surface (engine/Pregel.scala) with a
    // hand-written HashMin program over the symmetric edge view, driven
    // through the SAME oracle as tg_wcc
    query("tg_pregel_wcc", wcc.sql) { (s, dir) =>
      val g = graphFor(s, dir)
      import s.implicits._
      val comps = Pregel.run(
        LinkGraph(g.vertices, g.symmetricEdges.as[Edge]),
        Pregel.Program(
          init = col("id"),
          message = col("state"),
          combine = c => min(c),
          update = least(col("state"), coalesce(col("msg"), col("state"))),
          maxIter = 100))
      WCC.canonical(g, comps.withColumnRenamed("state", "comp"))
    },
    perVertex("tg_triangles", SynthSql.trianglesSql(OracleSf), "triangles")(Triangles.run(_)),

    // ---- wave 2 (SURVEY.md §2.B table) ----
    rounded("tg_sssp", unrolled(25)(SynthSql2.ssspSql(OracleSf, _)), "dist")(SSSP.run(_, "assistant")),
    perVertex("tg_bfs", unrolled(15)(SynthSql2.bfsSql(OracleSf, _)), "level")(BFS.run(_, "assistant")),
    // bfs_generic tree mode (apps/bfs/bfs_generic.h): level + min-id
    // shortest-path parent per reachable vertex
    graph("tg_bfs_tree", unrolled(15)(SynthSql3.bfsTreeSql(OracleSf, _))) { g =>
      BFSGeneric.tree(g, "assistant")
        .join(g.vertices.toDF, Seq("id"))
        .join(g.vertices.toDF.select(col("id").as("parent"), col("oid").as("parent_oid")),
          Seq("parent"), "left")
        .select(col("oid"), col("level"), col("parent_oid"))
    },
    // NetworkX-tolerance PageRank (pagerank_networkx.h:135-147): iterate
    // until sum(|dr|) < tol*N — the driver-checked twin self-selects the
    // same converged round
    rounded("tg_pagerank_tol", unrolled(25)(SynthSql3.pageRankTolSql(OracleSf, _)), "pr")(g =>
      PageRank.run(g, PageRank.Config(0.85, 100, Some(1e-6), tolTimesN = true))
        .withColumnRenamed("rank", "pr")),
    // personalized PageRank (nx pagerank personalization=, random walk
    // with restart): teleport + dangling mass pinned to the mega-hub
    // tool vertex; rank decays outward from the seed
    rounded("tg_ppr", ppr, "ppr")(g =>
      PageRank.personalized(g, idOf(g, "tool:t0"), rounds = PprRounds).withColumnRenamed("rank", "ppr")),
    // frontier-sparse PPR: same recurrence and seed as tg_ppr but the
    // state holds only touched vertices (messages track the frontier,
    // not |V|) — green against the SAME full-rank twin proves
    // sparse ≡ dense at 6 dp
    rounded("tg_ppr_sparse", ppr, "ppr")(g =>
      PageRank.personalizedSparse(g, idOf(g, "tool:t0"), rounds = PprRounds).withColumnRenamed("rank", "ppr")),
    rounded("tg_hits", SynthSql2.hitsSql(OracleSf), "auth", "hub")(HITS.run(_, maxIter = 5, tol = 0.0)),
    rounded("tg_degcent", SynthSql2.degCentralitySql(OracleSf), "centrality")(Centrality.degree(_, "both")),
    // in_/out_degree_centrality (nx builtin.py wrappers over the same
    // DegreeCentrality app with DegreeType IN/OUT)
    rounded("tg_degcent_in", SynthSql2.degCentralitySql(OracleSf, "in"), "centrality")(
      Centrality.degree(_, "in")),
    rounded("tg_degcent_out", SynthSql2.degCentralitySql(OracleSf, "out"), "centrality")(
      Centrality.degree(_, "out")),
    // numeric assortativity (gs::AttributeAssortativity numeric=true):
    // Pearson over endpoint numeric values; length(oid) as the attribute
    graph("tg_numeric_assort", SynthSql2.numericAssortSql(OracleSf))(g =>
      Paths3.numericAssortativityDf(g,
        g.vertices.toDF.select(col("id"), length(col("oid")).cast("double").as("x")))),
    rounded("tg_lcc", SynthSql2.lccSql(OracleSf), "lcc")(Clustering.lcc),
    // eigenvector / Katz centrality, fixed-round mode (tol=0) so the
    // unrolled SQL twins match round-for-round
    rounded("tg_eigen", SynthSql3.eigenvectorSql(OracleSf, rounds = 15), "centrality")(
      Centrality.eigenvector(_, maxIter = 15, tol = 0.0)),
    rounded("tg_katz", SynthSql3.katzSql(OracleSf, rounds = 10, alpha = 0.005, beta = 1.0), "centrality")(
      Centrality.katz(_, alpha = 0.005, beta = 1.0, maxIter = 10, tol = 0.0)),
    // node boundary of the tool vertex set
    graph("tg_boundary", SynthSql3.nodeBoundarySql(OracleSf)) { g =>
      val tools = g.vertices.toDF.where(col("oid").like("tool:%")).select(col("id"))
      Assortativity.nodeBoundary(g, tools)
        .join(g.vertices.toDF, Seq("id"))
        .select(col("oid"))
    },
    // graph-level clustering scalars (gs::AvgClustering / gs::Transitivity)
    graph("tg_transitivity", SynthSql3.transitivitySql(OracleSf))(g =>
      roundedScalar(g, "transitivity", Clustering.transitivity(g))),
    graph("tg_avgclustering", SynthSql3.avgClusteringSql(OracleSf))(g =>
      roundedScalar(g, "avg_clustering", Clustering.avgClustering(g))),
    // all-pairs shortest path lengths for the hub source set (batched
    // multi-source SSSP)
    graph("tg_apsp", unrolled(30)(SynthSql3.apspSql(OracleSf, Hubs, _)))(
      Paths3.apspLengths(_, Hubs).select(col("src_oid"), col("oid"), round(col("dist"), 6).as("dist"))),
    // attribute assortativity over the participant-kind category
    graph("tg_attr_assort", SynthSql3.attrAssortSql(OracleSf)) { g =>
      val attr = g.vertices.toDF.select(col("id"), PropertyGraph.labelOf(col("oid")).as("cat"))
      roundedScalar(g, "attr_assortativity", Paths3.attributeAssortativity(g, attr))
    },
    // edge boundary of the tool vertex set
    graph("tg_edge_boundary", SynthSql3.edgeBoundarySql(OracleSf)) { g =>
      val tools = g.vertices.toDF.where(col("oid").like("tool:%")).select(col("id"))
      g.oidEdges(Assortativity.edgeBoundary(g, tools)).select(col("src_oid"), col("dst_oid"))
    },
    graph("tg_avgdegconn", SynthSql2.avgDegConnectivitySql(OracleSf))(
      Assortativity.averageDegreeConnectivity(_)
        .select(col("degree"), round(col("avg_nbr_degree"), 6).as("avg_nbr_degree"))),
    graph("tg_assortativity", SynthSql2.assortativitySql(OracleSf))(Assortativity.degreeAssortativityDf(_)),

    // ---- multi-label property-graph plane (ArrowFragment analog) ----
    // WCC over PROJECT(non-tool vertex labels, reply edges) — the
    // per-label project + algorithm path of the reference
    query("tg_ml_wcc_reply", unrolled(22)(SynthSql3.mlWccReplySql(OracleSf, _))) { (s, dir) =>
      val g2 = propertyGraph(s, dir).project(Seq("user", "assistant", "agent", "system"), Seq("reply"))
      WCC.canonical(g2, WCC.run(g2))
    },
    // invoke-label projection: per-assistant out-degree + invoked weight
    query("tg_ml_invoke_deg", SynthSql3.mlInvokeDegSql(OracleSf)) { (s, dir) =>
      val g3 = propertyGraph(s, dir).project(Seq("assistant", "tool"), Seq("invoke"))
      g3.edges.toDF.groupBy(col("src"))
        .agg(count(lit(1)).as("out_deg"), sum(col("weight")).as("w_out"))
        .join(g3.vertices.toDF.select(col("id").as("src"), col("oid")), "src")
        .select(col("oid"), col("out_deg"), col("w_out"))
    },

    // ---- samplers ----
    // bipartite weighted label diffusion (gs::LPAU2I): users seed a
    // 2-dim label vector by oid parity; 2 u2i+i2u rounds; long-format
    // (oid, pos, v) output
    graph("tg_lpau2i", SynthSql3.lpau2iSql(OracleSf, rounds = 2)) { g =>
      val users = g.vertices.toDF.where(col("oid").like("u%"))
        .select(col("id"),
          when(substring(col("oid"), 2, 18).cast("long") % 2 === 0,
            array(lit(1.0), lit(0.0)))
            .otherwise(array(lit(0.0), lit(1.0))).as("labels"))
      LPAU2I.run(g, users, propNum = 2, rounds = 2)
        .select(col("id"), posexplode(col("labels")))
        .join(g.vertices.toDF, Seq("id"))
        .select(col("oid"), col("pos"), round(col("col"), 6).as("v"))
    },
    // deterministic sampling walks (gs::SamplingPath) — portable pick
    // hash, so the walk itself is oracle-checked
    graph("tg_sampling", SynthSql3.samplingSql(OracleSf, Seq("system", "assistant", "tool:t0"), 3))(
      Paths3.samplingPaths(_, Seq("system", "assistant", "tool:t0"), steps = 3)
        .select(col("start_oid"), concat_ws(">", col("path")).as("path_str"))),
    // GNN mini-batch neighbor-fanout sampling (graphlearn k-hop sampler
    // analog): 2 hops × fanout 2, seeded at the hub + two normal
    // vertices — slot picks are map-side-combined min_by (hub-safe)
    graph("tg_neighbor_sample", SynthSql5.neighborSampleSql(OracleSf, SampleSeeds, Seq(2, 2)))(
      NeighborSample.sample(_, SampleSeeds, Seq(2, 2))),
    // GNN negative sampling (graphlearn negative_sampler / GSL outNeg):
    // per seed, 4 slots of deterministic rejection draws over the dense
    // id space — first non-neighbor candidate per slot survives
    graph("tg_negative_sample", SynthSql5.negativeSampleSql(OracleSf, NegativeSeeds, f = 4))(
      NegativeSample.sample(_, NegativeSeeds, f = 4)),
    // graphlearn negative strategy="in_degree": draw probability
    // proportional to in-degree via disjoint integer intervals over
    // [0,|E|) — bucket-partitioned prefix sum + binned range join,
    // never a global window or an all-pairs inequality join
    graph("tg_negative_indeg", SynthSql7.negativeInDegreeSql(OracleSf, NegativeSeeds, f = 4))(
      NegativeSample.sampleInDegree(_, NegativeSeeds, f = 4)),
    // graphlearn negative strategy="node_weight": vertex weight =
    // weighted in-strength (Σ incoming occurrence counts) — same
    // portable interval machinery, different mass function
    graph("tg_negative_nodew",
      SynthSql7.negativeInDegreeSql(OracleSf, NegativeSeeds, f = 4, byNodeWeight = true))(
      NegativeSample.sampleNodeWeight(_, NegativeSeeds, f = 4)),
    // graphlearn strategy="topk": strongest-weight neighbors first, per
    // (seed, parent) — salted two-phase top-k, never a hub window
    graph("tg_neighbor_topk",
      SynthSql5.neighborRankedSql(OracleSf, SampleSeeds, Seq(3, 2), byWeight = true))(
      NeighborSample.sampleTopK(_, SampleSeeds, Seq(3, 2))),
    // graphlearn strategy="random_without_replacement": first f
    // avalanche-hash-ranked neighbors — distinct by construction
    graph("tg_neighbor_noreplace",
      SynthSql5.neighborRankedSql(OracleSf, SampleSeeds, Seq(3, 2), byWeight = false))(
      NeighborSample.sampleWithoutReplacement(_, SampleSeeds, Seq(3, 2))),
    // graphlearn strategy="edge_weight": per-slot draw probability
    // exactly weight/Σweights via integer intervals (weights are
    // occurrence counts) — two-phase sub-bucketed prefix sum + binned
    // range join, never a hub-wide window or inequality join
    graph("tg_neighbor_wprob",
      SynthSql7.neighborWeightedSql(OracleSf, SampleSeeds, Seq(2, 2), byInDegree = false))(
      NeighborSample.sampleEdgeWeight(_, SampleSeeds, Seq(2, 2))),
    // graphlearn strategy="in_degree" (neighbor form): child draw
    // probability proportional to its global in-degree
    graph("tg_neighbor_indeg",
      SynthSql7.neighborWeightedSql(OracleSf, SampleSeeds, Seq(2, 2), byInDegree = true))(
      NeighborSample.sampleByInDegree(_, SampleSeeds, Seq(2, 2))),
    // GSL mini-batch stream (gsl_en.rst): shuffled by_order batch →
    // topk neighbor hop → negative hop, one parsed pipeline
    graph("tg_gsl", SynthSql7.gslSql(OracleSf, batchN = 6, fTop = 2, fNeg = 3))(
      Gsl.run(_, "g.V().shuffle().batch(6).outV().sample(2).by('topk')" +
        ".outNeg().sample(3).by('random')")),
    // GSL edge-source stream (the edge_sampler positive-example +
    // per-source negative pattern of the gsl_en.rst example)
    graph("tg_gsl_edge", SynthSql7.gslEdgeSql(OracleSf, batchN = 8, fNeg = 2))(
      Gsl.run(_, "g.E().shuffle().batch(8).outV().outNeg().sample(2).by('random')")),
    // bounded all-simple-paths enumeration (gs::AllSimplePaths)
    graph("tg_simple_paths", SynthSql3.simplePathsSql(OracleSf, "system", "tool:t0"))(
      Paths3.allSimplePaths(_, "system", "tool:t0", cutoff = 2)
        .select(concat_ws(">", col("path")).as("path_str"))),
    // nx all_simple_edge_paths: the same enumeration as edge tuples
    graph("tg_simple_edge_paths", SynthSql3.simpleEdgePathsSql(OracleSf, "system", "tool:t0"))(
      Paths3.allSimpleEdgePaths(_, "system", "tool:t0", cutoff = 2)),

    // ---- session plane (dag_utils.py graph operations) ----
    // REPORT_GRAPH (fragment_reporter.h:56-116)
    graph("tg_report",
      s"""WITH ${SynthSql.graphCtes(OracleSf)}
         |SELECT (SELECT count(*) FROM vertices) AS nodes,
         |       (SELECT count(*) FROM dedges) AS edges,
         |       (SELECT count(*) FROM dedges WHERE src = dst) AS self_loops""".stripMargin)(
      GraphOps.report),
    // ADD_COLUMN (dag_utils.py:912): join an algorithm result (here the
    // out-degree table) back onto the vertex plane as a property
    graph("q_add_column", SynthSql5.addColumnSql(OracleSf)) { g =>
      val outDeg = g.edges.toDF.groupBy(col("src").as("id"))
        .agg(count(lit(1)).as("od"))
      GraphOps.addColumn(g, outDeg)
        .select(col("oid"), coalesce(col("od"), lit(0L)).cast("long").as("out_deg"))
    },
    // TO_UNDIRECTED (types.proto TO_UNDIRECTED): symmetrize + weight
    // merge, then per-vertex undirected degree/mass
    graph("tg_to_undirected", SynthSql5.toUndirectedSql(OracleSf)) { g =>
      GraphBuilder.toUndirected(g.edges).toDF
        .groupBy(col("src"))
        .agg(count(lit(1)).cast("long").as("deg"), sum(col("weight")).as("w_sum"))
        .join(g.vertices.toDF.select(col("id").as("src"), col("oid")), "src")
        .select(col("oid"), col("deg"), col("w_sum"))
    },
    // INDUCE_SUBGRAPH (dag_utils.py:698): tools + assistants + system,
    // edges with both endpoints inside
    graph("tg_induce", SynthSql5.induceSql(OracleSf)) { g =>
      val keep = g.vertices.toDF.where(
        col("oid").like("tool:%") || col("oid").like("assistant%") || col("oid") === "system")
      GraphBuilder.induceSubgraph(g, keep.select(col("id"))).oidEdges()
        .select(col("src_oid"), col("dst_oid"), col("weight"))
    },
    // MODIFY_VERTICES (dag_utils.py:289): delete tool:t0 (incident edges
    // prune — induced-delete semantics), add a fresh isolated vertex,
    // commit both planes to a scratch SnapshotStore, report the
    // post-commit out-degrees
    scratch("q_modify_vertices", SynthSql5.modifyVerticesSql(OracleSf, "tool:t0", "added:x"), "graft-mod") {
      (s, dir, tmp) =>
        val g = graphFor(s, dir)
        import s.implicits._
        val (g2, _, _) = GraphOps.modifyVertices(g,
          add = Seq(Vertex(10000000L, "added:x")).toDS(),
          delete = Seq(Vertex(idOf(g, "tool:t0"), "tool:t0")).toDS(),
          new SnapshotStore(tmp), "mod_vs", "mod_es")
        g2.vertices.toDF
          .join(g2.edges.toDF.groupBy(col("src").as("id")).agg(count(lit(1)).as("od")),
            Seq("id"), "left")
          .select(col("oid"), coalesce(col("od"), lit(0L)).cast("long").as("out_deg"))
    },
    // MODIFY_EDGES (dag_utils.py:317): delete every out-edge of the
    // system vertex, add one assistant→system edge (the merge's
    // groupBy(src,dst).sum folds it into any surviving parallel weight),
    // commit to a scratch SnapshotStore, report post-commit per-src-oid
    // degree + weight mass
    scratch("q_modify_edges", SynthSql5.modifyEdgesSql(OracleSf), "graft-mode") { (s, dir, tmp) =>
      val g = graphFor(s, dir)
      import s.implicits._
      val sysId = idOf(g, "system")
      val (g2, _) = GraphOps.modifyEdges(g,
        add = Seq(Edge(idOf(g, "assistant"), sysId, 99.0)).toDS(),
        delete = g.edges.toDF.where(col("src") === sysId).as[Edge],
        new SnapshotStore(tmp), "mod_es2")
      g2.edges.toDF.groupBy(col("src"))
        .agg(count(lit(1)).cast("long").as("out_deg"), sum(col("weight")).as("w_sum"))
        .join(g.vertices.toDF.select(col("id").as("src"), col("oid")), "src")
        .select(col("oid"), col("out_deg"), col("w_sum"))
    },
    // CLEAR_EDGES (dag_utils.py:676): commit an empty edge snapshot,
    // REPORT_GRAPH the cleared graph (vertices survive, zero edges)
    scratch("q_clear_edges", SynthSql5.clearEdgesSql(OracleSf), "graft-clear") { (s, dir, tmp) =>
      val (g2, _) = GraphOps.clearEdges(graphFor(s, dir), new SnapshotStore(tmp), "clear_es")
      GraphOps.report(g2)
    },
    // VIEW/COPY via projection (dag_utils.py:417): weight-filtered edge
    // view over the shared immutable base (frames are immutable — the
    // view IS a zero-copy graph; the base is provably untouched because
    // every other query reuses the cached graph after this one runs)
    graph("q_project_view", SynthSql5.projectViewSql(OracleSf, 3.0)) { g =>
      val g2 = GraphOps.projectEdges(g, col("weight") >= 3.0)
      g2.edges.toDF.groupBy(col("src"))
        .agg(count(lit(1)).cast("long").as("out_deg"), sum(col("weight")).as("w_sum"))
        .join(g.vertices.toDF.select(col("id").as("src"), col("oid")), "src")
        .select(col("oid"), col("out_deg"), col("w_sum"))
    },
    // versioned snapshot sink (groot analog): two atomic commits of the
    // out-degree table, read-back at the _latest pointer, manifest row
    // count checked against the table's own cardinality
    scratch("q_snapshot_sink", SynthSql3.snapshotSinkSql(OracleSf), "graft-snap") { (s, dir, tmp) =>
      val g = graphFor(s, dir)
      val store = new SnapshotStore(tmp)
      val deg = g.edges.toDF.groupBy("src").agg(count(lit(1)).as("outdeg"))
        .join(g.vertices.toDF.select(col("id").as("src"), col("oid")), "src")
        .select(col("oid"), col("outdeg"))
      store.write("degrees", deg.where(col("oid").like("agent:%")), Map("commit" -> 0.0))
      store.write("degrees", deg, Map("commit" -> 1.0))
      val (v, back) = store.readLatest(s, "degrees").get
      val m = store.readManifest("degrees", v)
      back.withColumn("version", lit(v)).withColumn("manifest_rows", lit(m.rows))
    },

    // ---- multi-source paths and heavy deterministic algorithms ----
    // (full-value oracles via unrolled CTE chains, SynthSql3/SynthSql4)
    // closeness for the hub set — ONE batched reverse multi-source SSSP
    graph("tg_closeness", unrolled(30)(SynthSql3.closenessSql(OracleSf, Hubs, _)))(
      Paths2.closeness(_, Hubs).select(col("oid"), round(col("closeness"), 6).as("closeness"))),
    // harmonic centrality (nx harmonic_centrality, Σ 1/d incoming) for
    // the same hub set — same batched multi-source state, different fold
    graph("tg_harmonic", unrolled(30)(SynthSql3.harmonicSql(OracleSf, Hubs, _)))(
      Paths2.harmonic(_, Hubs)),
    // all-sources closeness capped to the top-128-degree vertices (the
    // reference's AllPairsShortestPathLength runs every vertex; the cap
    // keeps the |S|·|V| pair state sandbox-sized — 128×16.6K ≈ 2.1M pairs
    // at sf0.01 — while stressing the batched-state design in the source
    // dimension)
    graph("tg_closeness_all", unrolled(30)(SynthSql5.closenessTopSql(OracleSf, 128, _)))(
      Paths2.closenessTop(_, 128).select(col("oid"), round(col("closeness"), 6).as("closeness"))),
    perVertex("tg_betweenness", unrolled(15)(SynthSql3.betweennessSql(OracleSf, Hubs, _)), "betweenness")(
      Betweenness.run(_, Hubs).select(col("id"), round(col("betweenness"), 4).as("betweenness"))),
    // multi-level Louvain (phase-1 sweeps + community coarsening +
    // re-sweep, louvain_app_base.h:43's structure)
    graph("tg_louvain", SynthSql4.louvainMultiSql(OracleSf, rounds = 5, levels = 2)) { g =>
      Louvain.runMultiLevel(g, roundsPerLevel = 5, levels = 2)
        .join(g.vertices.toDF, Seq("id"))
        .join(g.vertices.toDF.select(col("id").as("community"), col("oid").as("community_oid")),
          Seq("community"))
        .select(col("oid"), col("community_oid"))
    },
    // k=30 so the peel actually cascades on this dense graph (4 rounds,
    // ~half the vertices survive at sf0.01); k=3 peeled nothing.
    perVertex("tg_kcore", unrolled(8)(SynthSql2.kcoreSql(OracleSf, KcoreK, _)), "deg")(
      Cores.kcore(_, KcoreK).select(col("id"), col("deg"))),
    // full shell decomposition (gs::KShell) — Spark peels k = 1, 2, …;
    // the SQL twin reaches the same core numbers via the H-index fixpoint
    perVertex("tg_kshell", unrolled(18)(SynthSql4.kshellSql(OracleSf, _)), "shell")(
      Cores.kshell(_).select(col("id"), col("shell"))),
    // SSSP parent pointers (gs::SSSPPath) — min-id tight-edge predecessor
    graph("tg_sssp_path", unrolled(25)(SynthSql4.ssspPathSql(OracleSf, _))) { g =>
      Paths2.withParents(g, "assistant")
        .join(g.vertices.toDF, Seq("id"))
        .join(g.vertices.toDF.select(col("id").as("parent"), col("oid").as("parent_oid")),
          Seq("parent"), "left")
        .select(col("oid"), round(col("dist"), 6).as("dist"), col("parent_oid"))
    },
    // sampled mean shortest-path length (gs::SSSPAverageLength) over the
    // hub source set — one batched multi-source SSSP
    graph("tg_avg_path_len", unrolled(30)(SynthSql4.avgPathLenSql(OracleSf, Hubs, _)))(g =>
      roundedScalar(g, "avg_len", Paths2.averageLength(g, Hubs))),
    // bfs_generic predecessors mode (apps/bfs/bfs_generic.h): ALL
    // shortest-path predecessor pairs of the BFS DAG, not just the tree
    graph("tg_bfs_preds", unrolled(15)(SynthSql3.bfsPredsSql(OracleSf, _))) { g =>
      BFSGeneric.predecessors(g, "assistant")
        .join(g.vertices.toDF, Seq("id"))
        .join(g.vertices.toDF.select(col("id").as("pred"), col("oid").as("pred_oid")),
          Seq("pred"))
        .select(col("oid"), col("pred_oid"))
    },
    // bfs_generic successors mode: every BFS-DAG edge as (oid, succ_oid)
    graph("tg_bfs_succs", unrolled(15)(SynthSql3.bfsSuccsSql(OracleSf, _))) { g =>
      BFSGeneric.successors(g, "assistant")
        .join(g.vertices.toDF, Seq("id"))
        .join(g.vertices.toDF.select(col("id").as("succ"), col("oid").as("succ_oid")),
          Seq("succ"))
        .select(col("oid"), col("succ_oid"))
    },
    // sssp_has_path (apps/sssp/sssp_has_path.h): reachability for the
    // probe set (mixes reachable and unreachable pairs) — ONE batched
    // multi-source fixpoint for all pairs, not a fixpoint per pair
    graph("tg_has_path", unrolled(18)(SynthSql3.hasPathSql(OracleSf, HasPathPairs, _)))(
      Paths2.hasPaths(_, HasPathPairs)),
    // is_simple_path (gs::IsSimplePath): literal oid walks — edge
    // existence is the data-dependent part the oracle exercises
    query("tg_is_simple_path", SynthSql3.isSimplePathSql(OracleSf, SimplePathCases)) { (s, dir) =>
      val g = graphFor(s, dir)
      import s.implicits._
      SimplePathCases.map(p => (p.mkString(">"), Paths3.isSimplePath(g, p)))
        .toDF("path_str", "is_simple")
    }
  )
}
