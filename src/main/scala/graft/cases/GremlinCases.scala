package graft.cases

import org.apache.spark.sql.functions._

import graft.Case
import graft.Case._
import graft.SparkEntry.{CdlpRounds, OracleSf, PrRounds, graphFor}
import graft.Twin.unrolled
import graft.algos.WCC
import graft.gie.{G, Gremlin}
import graft.graph.LinkGraph
import graft.ingest.SnapshotStore
import graft.schema.{Edge, Vertex}
import graft.synth.{SynthSql, SynthSql2, SynthSql3, SynthSql4, SynthSql5, SynthSql6, SynthSql7}

/** GIE plane: hand-lowered pattern queries, the composable traversal DSL
  * (graft.gie.Traversal, SURVEY.md §2.C) and the Gremlin string
  * front-end (the reference's interactive entry point — antlr Gremlin →
  * IR; here graft.gie.Gremlin's recursive descent → the same Traversal
  * algebra, so text queries share the DSL queries' SQL twins).
  */
object GremlinCases {
  private val weightedShortest =
    unrolled(25)(SynthSql5.gieWeightedShortestSql(OracleSf, "assistant", "tool:%", _))

  val cases: Seq[Case] = Seq(
    // GIE Pattern (algebra.proto:350): user → assistant replica → tool
    query("tg_pattern", SynthSql2.patternSql(OracleSf)) { (s, dir) =>
      val oe = graphFor(s, dir).oidEdges()
      oe.as("e1").join(oe.as("e2"), col("e1.dst_oid") === col("e2.src_oid"))
        .where(col("e1.src_oid").like("u%") && col("e1.dst_oid").like("assistant%") &&
          col("e2.dst_oid").like("tool:%"))
        .groupBy(col("e2.dst_oid").as("tool_oid"))
        .agg(count(lit(1)).as("n_paths"))
    },
    // GIE PathExpand (algebra.proto:287): 1..2 hops from tool:t0
    query("tg_pathexpand", SynthSql2.pathExpandSql(OracleSf)) { (s, dir) =>
      val oe = graphFor(s, dir).oidEdges()
      val h1 = oe.where(col("src_oid") === "tool:t0").select(col("dst_oid").as("oid")).distinct()
      val h2 = oe.join(h1.select(col("oid").as("src_oid")), Seq("src_oid"), "left_semi")
        .select(col("dst_oid").as("oid")).distinct()
      h1.select(col("oid"), lit(1).as("hops"))
        .unionAll(h2.select(col("oid"), lit(2).as("hops")))
        .where(col("oid") =!= "tool:t0")
        .groupBy(col("oid")).agg(min(col("hops")).cast("long").as("hops"))
    },

    // ---- composable GIE traversal DSL ----
    // 2-hop EdgeExpand chain with mid-hop Select; path-multiplicity
    // groupCount (traverser multiplicity preserved, as in Gremlin)
    graph("tg_gie_2hop", SynthSql3.gie2hopSql(OracleSf))(
      G.V(_, col("oid").like("u%"))
        .out().has(col("oid").like("agent:%")).out()
        .auxilia().groupCount("oid")),
    // PathExpand 1..3 (Dedup-fused min-hop) from the system vertex
    graph("tg_gie_pathexpand", SynthSql3.giePathExpandSql(OracleSf, "system", 1, 3))(
      G.V(_, col("oid") === "system").pathExpand(1, 3)
        .auxilia().df.select(col("oid"), col("__hops").as("hops"))),
    // ShortestPathExpand + Auxilia + Select: hop distance from tool:t0
    // to every tool vertex
    graph("tg_gie_shortest", SynthSql3.gieShortestSql(OracleSf, "tool:t0", 15, "tool:%"))(
      G.V(_, col("oid") === "tool:t0").shortestPathExpand(15)
        .auxilia().where(col("oid").like("tool:%"))
        .df.select(col("oid"), col("__hops").as("hops"))),
    // Apply-SEMI sub-traversal: users with at least one agent out-neighbor
    graph("tg_gie_exists", SynthSql3.gieExistsSql(OracleSf))(
      G.V(_, col("oid").like("u%"))
        .whereExists(_.out().has(col("oid").like("agent:%")))
        .auxilia().values("oid")),
    // groupCount + OrderBy + limit => TopK (TakeOrderedAndProject)
    graph("tg_gie_topk", SynthSql3.gieTopkSql(OracleSf, 10))(
      G.V(_).out().auxilia().groupCount("oid")
        .orderBy(col("n").desc, col("oid").asc).limit(10)),
    // PathExpand result_opt=ALL_V (path_start.rs/path_end.rs): SIMPLE
    // walks 1..2 hops from system, materialized as oid path strings at
    // the sink (ids-only arrays ride the expansion shuffles), then a
    // per-end-vertex walk summary
    graph("tg_gie_paths", SynthSql4.giePathsSql(OracleSf, "system"))(
      G.V(_, col("oid") === "system")
        .pathExpandPaths(1, 2, simple = true)
        .pathOids().auxilia()
        .df.groupBy(col("oid"))
        .agg(count(lit(1)).as("n_walks"), min(col("path_str")).as("min_path"))),
    // SegmentApply (algebra.proto:341): per-agent top-2 out-edges by
    // weight — edge-positioned expand + windowed segment ranking
    graph("tg_gie_segment", SynthSql3.gieSegmentSql(OracleSf, "agent:%", 2)) { g =>
      G.V(g, col("oid").like("agent:%")).outE()
        .segmentTopK("__src", 2, col("__w").desc, col("__v").asc)
        .auxilia().df
        .join(g.vertices.toDF.select(col("id").as("__src"), col("oid").as("src_oid")), "__src")
        .select(col("src_oid"), col("oid").as("dst_oid"), col("__w").as("w"))
    },
    // weighted ShortestPathExpand (algebra.proto:302 over the weight
    // property vs the hop-count tg_gie_shortest): min total edge weight
    // from the assistant hub to every tool vertex
    graph("tg_gie_weighted_shortest", weightedShortest)(
      G.V(_, col("oid") === "assistant").weightedShortestPathExpand()
        .auxilia().where(col("oid").like("tool:%"))
        .df.select(col("oid"), round(col("__dist"), 6).as("dist"))),

    // ---- Gremlin string front-end: text in, frame out ----
    gremlin("tg_gremlin_2hop", SynthSql3.gie2hopSql(OracleSf),
      "g.V().has('oid', TextP.startingWith('u'))" +
        ".out().has('oid', TextP.startingWith('agent:')).out()" +
        ".groupCount().by('oid')"),
    gremlin("tg_gremlin_pathexpand", SynthSql3.giePathExpandSql(OracleSf, "system", 1, 3),
      "g.V().has('oid', 'system').out('1..3').hops()"),
    gremlin("tg_gremlin_exists", SynthSql3.gieExistsSql(OracleSf),
      "g.V().has('oid', TextP.startingWith('u'))" +
        ".where(__.out().has('oid', TextP.startingWith('agent:')))" +
        ".values('oid')"),
    gremlin("tg_gremlin_topk", SynthSql3.gieTopkSql(OracleSf, 10),
      "g.V().out().groupCount().by('oid')" +
        ".order().by('n', desc).by('oid', asc).limit(10)"),
    // simplePath().path() lowers to pathExpandPaths + sink-side oid
    // decode: the first 50 materialized walk strings in path order
    gremlin("tg_gremlin_paths", SynthSql4.giePathsTopSql(OracleSf, "system", 50),
      "g.V().has('oid', 'system').out('1..2').simplePath().path()" +
        ".values('path_str').order().by('path_str', asc).limit(50)"),
    // both('1..2'): PathExpand with base EdgeExpand direction BOTH —
    // undirected min-hop ring around a tool vertex
    gremlin("tg_gremlin_both", SynthSql3.giePathExpandSql(OracleSf, "tool:t0", 1, 2, dir = "both"),
      "g.V().has('oid', 'tool:t0').both('1..2').hops()"),
    // edge-positioned BOTH expand + EdgeOtherVertex (TinkerPop
    // bothE().otherV()): far endpoint per incident edge per direction
    gremlin("tg_gremlin_bothe", SynthSql5.gieBothEOtherSql(OracleSf, "u%"),
      "g.V().has('oid', TextP.startingWith('u')).bothE().otherV().groupCount().by('oid')"),
    // local-scope collection ops (CountLocal/RangeLocal family):
    // fold to a sorted list, slice locally, explode back
    gremlin("tg_gremlin_local", SynthSql5.gieFoldLocalSql(OracleSf, "assistant", 3),
      "g.V().has('oid', 'assistant').out().values('oid').fold().limit(local, 3).unfold()"),
    // Union (algebra.proto:74): three branch sub-traversals merged with
    // bag semantics, then groupCount + ordered top-k
    gremlin("tg_gremlin_union", SynthSql3.gieUnionSql(OracleSf, "system", 20),
      "g.V().has('oid', 'system')" +
        ".union(__.out(), __.in(), __.out().out())" +
        ".groupCount().by('oid')" +
        ".order().by('n', desc).by('oid', asc).limit(20)"),
    // condition-bounded repeat (pegasus iterate_emit_until,
    // iteration/mod.rs:31-44; compiler RepeatTreeNode): each round
    // expands + dedups, emits the frontier, and retires traversers that
    // reached tool:t0 — until() prunes the frontier before times() ends
    // the loop
    gremlin("tg_gremlin_repeat", SynthSql5.gieRepeatSql(OracleSf, "system", "tool:t0", 4),
      "g.V().has('oid', 'system').repeat(__.out().dedup())" +
        ".emit().until(__.has('oid', 'tool:t0')).times(4)" +
        ".groupCount().by('oid')"),
    // value aggregation (aggregate.rs accumulators / GroupTreeNode):
    // group().by(end-vertex oid).by(values('weight').sum()) over the
    // out-edges of user vertices
    gremlin("tg_gremlin_group", SynthSql5.gieGroupSumSql(OracleSf, "u%"),
      "g.V().has('oid', TextP.startingWith('u')).outE()" +
        ".group().by('oid').by(__.values('weight').sum())"),
    // numeric predicate (expr.proto GE/LT) on the edge weight property,
    // then GetV(END) + groupCount
    gremlin("tg_gremlin_numeric", SynthSql5.gieNumericSql(OracleSf, 2, 5),
      "g.V().outE().has('weight', P.between(2, 5)).inV().groupCount().by('oid')"),
    // boolean combinator tree (AndTreeNode/OrTreeNode): or(and(...), has)
    gremlin("tg_gremlin_bool", SynthSql5.gieBoolSql(OracleSf),
      "g.V().or(__.and(__.out().has('oid', TextP.startingWith('tool:'))," +
        " __.in().has('oid', TextP.startingWith('u'))), __.has('oid', 'system'))" +
        ".values('oid')"),
    // declarative match() (patmat.rs NaiveStrategy): two as-tagged
    // sentences joined left-deep — same result as the hand-lowered
    // tg_pattern self-join
    gremlin("tg_gremlin_match", SynthSql5.gieMatchSql(OracleSf),
      "g.V().match(__.as('a').has('oid', TextP.startingWith('u')).out().as('b')," +
        " __.as('b').has('oid', TextP.startingWith('assistant')).out().as('c'))" +
        ".select('c').has('oid', TextP.startingWith('tool:'))" +
        ".groupCount().by('oid')"),
    // multi-tag Sink projection + tag-comparison predicate: the match()
    // result consumed as (a, c) oid pairs with structural distinctness
    gremlin("tg_gremlin_select", SynthSql5.gieSelectSql(OracleSf, 50),
      "g.V().match(__.as('a').has('oid', TextP.startingWith('u')).out().as('b')," +
        " __.as('b').has('oid', TextP.startingWith('assistant')).out().as('c'))" +
        ".where('a', P.neq('c')).select('a', 'c')" +
        ".order().by('a', asc).by('c', asc).limit(50)"),
    // deterministic sample(n): the 7 user vertices smallest under the
    // portable pick hash (MetapathSample analog, resume-safe)
    gremlin("tg_gremlin_sample", SynthSql5.gieSampleSql(OracleSf, 7),
      "g.V().has('oid', TextP.startingWith('u')).sample(7).values('oid')"),
    // subgraph() sink: the edge-induced subgraph of agent out-edges as
    // a new graph, emitted as oid-decoded (src_oid, dst_oid, weight)
    gremlin("tg_gremlin_subgraph", SynthSql5.gieSubgraphSql(OracleSf),
      "g.V().has('oid', TextP.startingWith('agent:'))" +
        ".outE().subgraph('sg').cap('sg')"),
    // ToDistinctCount accumulator: per tool, how many DISTINCT
    // assistants invoke it (tag values deduped inside the group)
    gremlin("tg_gremlin_distinct", SynthSql5.gieDistinctCountSql(OracleSf),
      "g.V().has('oid', TextP.startingWith('assistant')).as('a')" +
        ".out().has('oid', TextP.startingWith('tool:'))" +
        ".group().by('oid').by(__.values('a').dedup().count())"),
    // full TextP.* / P.without predicate family in one traversal:
    // agents (containing) → neighbors that are not tools
    // (notStartingWith), not system/assistant (without), oid ending '1'
    gremlin("tg_gremlin_textp", SynthSql5.gieTextpSql(OracleSf),
      "g.V().has('oid', TextP.containing('gent')).out()" +
        ".has('oid', TextP.notStartingWith('tool:'))" +
        ".has('oid', P.without('system', 'assistant'))" +
        ".has('oid', TextP.endingWith('1'))" +
        ".groupCount().by('oid')"),
    // coalesce (first non-empty branch per traverser): tools with user
    // out-neighbors take those; the rest fall through to in-neighbors
    gremlin("tg_gremlin_coalesce", SynthSql5.gieCoalesceSql(OracleSf, 20),
      "g.V().has('oid', TextP.startingWith('tool:'))" +
        ".coalesce(__.out().has('oid', TextP.startingWith('u')), __.in())" +
        ".groupCount().by('oid')" +
        ".order().by('n', desc).by('oid', asc).limit(20)"),
    // graph-algorithm Gremlin steps (the reference's TinkerPop bridges
    // tinkerpop/steps/PageRankStep/ConnectedComponentsStep/
    // LabelPropagationStep.java): the traversal string invokes the
    // engine's analytical app over the whole graph and annotates every
    // traverser — results must equal the direct-app queries exactly, so
    // these REUSE tg_pagerank/tg_wcc/tg_cdlp's oracle SQL verbatim
    graph("tg_gremlin_pagerank_step", SynthSql.pageRankSql(OracleSf, PrRounds))(g =>
      Gremlin.run(g, s"g.V().pageRank().times($PrRounds)")
        .join(g.vertices.toDF.select(col("id").as("__v"), col("oid")), "__v")
        .select(col("oid"), round(col("pageRank"), 6).as("pr"))),
    graph("tg_gremlin_cc_step", GraphCases.wcc.sql)(g =>
      WCC.canonical(g, Gremlin.run(g, "g.V().connectedComponent()")
        .select(col("__v").as("id"), col("component").as("comp")))),
    graph("tg_gremlin_lpa_step", SynthSql.cdlpSql(OracleSf, CdlpRounds))(g =>
      Gremlin.run(g, s"g.V().labelPropagation().times($CdlpRounds)")
        .join(g.vertices.toDF.select(col("id").as("__v"), col("oid")), "__v")
        .join(g.vertices.toDF.select(col("id").as("communityLabel"),
          col("oid").as("label_oid")), Seq("communityLabel"))
        .select("oid", "label_oid")),
    // ShortestPathStep through the text front-end — must equal the DSL
    // queries tg_gie_shortest / tg_gie_weighted_shortest exactly, so
    // these REUSE their oracle SQL verbatim
    gremlin("tg_gremlin_shortest_step", SynthSql3.gieShortestSql(OracleSf, "tool:t0", 15, "tool:%"),
      "g.V().has('oid','tool:t0').shortestPath(15)" +
        ".has('oid', TextP.startingWith('tool:')).hops()"),
    gremlin("tg_gremlin_weighted_shortest_step", weightedShortest.sql,
      "g.V().has('oid','assistant').shortestPath('weight')" +
        ".has('oid', TextP.startingWith('tool:')).dist()"),
    // EstimateCountStep over the out-traverser stream — graft.ml.Hll's
    // deterministic HyperLogLog (portable-hash registers), value-checked
    // bit-for-bit by the DuckDB twin. ~16.6K distinct targets at sf0.01
    // sit far above the 2.5·m linear-counting cutoff, so this exercises
    // the raw harmonic-estimate branch
    gremlin("tg_gremlin_hll", SynthSql5.hllEstimateCountSql(OracleSf), "g.V().out().estimateCount()"),
    graph("tg_gremlin_hits_step", SynthSql2.hitsSql(OracleSf))(g =>
      Gremlin.run(g, "g.V().hits().times(5)")
        .join(g.vertices.toDF.select(col("id").as("__v"), col("oid")), "__v")
        .select(col("oid"), round(col("auth"), 6).as("auth"),
          round(col("hub"), 6).as("hub"))),
    // label-aware Gremlin over the multi-label property graph (the
    // reference's QueryParams.tables label pushdown, algebra.proto:196/
    // :254): hasLabel scan + label-filtered expand + vertex-label
    // groupCount — labels prune the vertex/edge scans before any join
    labeledGremlin("tg_gremlin_haslabel", SynthSql5.gieHasLabelSql(OracleSf),
      "g.V().hasLabel('user').out('reply').groupCount().by('label')"),
    // LDBC-shaped composites (the reference's own Gremlin workload,
    // research/query_service/benchmark/queries/ir_ldbc/*.gremlin):
    // q9's labeled range expand; q12's groupCount ordered by
    // select(values)/select(keys); q3's correlated count predicate +
    // predicate-connective edge filter
    labeledGremlin("tg_gremlin_ldbc_reach", SynthSql5.gieLdbcReachSql(OracleSf),
      "g.V().hasLabel('user').both('1..2','reply').hops()"),
    labeledGremlin("tg_gremlin_ldbc_top", SynthSql5.gieLdbcTopSql(OracleSf),
      "g.V().hasLabel('assistant').out('invoke').groupCount().by('oid')" +
        ".order().by(select(values), desc).by(select(keys), asc).limit(10)"),
    // per-traverser multi-projection (TinkerPop ProjectStep): each
    // assistant projected to (oid, distinct invoked tool count)
    labeledGremlin("tg_gremlin_project", SynthSql5.gieProjectSql(OracleSf),
      "g.V().hasLabel('assistant').project('oid','n_tools')" +
        ".by(values('oid')).by(__.out('invoke').dedup().count())"),
    // if-then-else branch routing: assistants expand via invoke edges,
    // everyone else via reply edges (TinkerPop choose(pred, yes, no))
    labeledGremlin("tg_gremlin_choose", SynthSql5.gieChooseSql(OracleSf),
      "g.V().choose(__.hasLabel('assistant'), __.out('invoke'), __.out('reply'))" +
        ".groupCount().by('oid')"),
    // value-routed branch (BranchTreeNode.java:49 / CaseWhenTreeNode):
    // the router is the vertex LABEL column — pure map-side filters,
    // zero joins before the option bodies run
    labeledGremlin("tg_gremlin_branch", SynthSql6.branchSql(OracleSf),
      "g.V().branch(__.label())" +
        ".option('user', __.out('reply'))" +
        ".option('tool', __.in('invoke'))" +
        ".option(none, __.identity())" +
        ".groupCount().by('label')"),
    labeledGremlin("tg_gremlin_ldbc_filter", SynthSql5.gieLdbcFilterSql(OracleSf, 12, 3.0, 10.0),
      "g.V().where(__.out('invoke').dedup().count().is(P.gte(12)))" +
        ".outE('invoke').has('weight', P.gte(3).and(P.lt(10)))" +
        ".inV().groupCount().by('oid')"),
    // LDBC interactive-complex-1, shape-identical to the reference's
    // published benchmark query (interactive_engine/benchmark/queries/
    // interactive-complex-1.gremlin:1): 3-arg has() seed lookup,
    // union(identity(), …)-nested 1..3-hop expansion, dedup().by('id')
    // keeping the minimum-hop walk, property filter, step-level
    // path().count(local) distance, tag-then-property ordering
    // (select('b') then oid then id), paginated multi-tag select
    labeledGremlin("tg_gremlin_ldbc_cr1", SynthSql6.cr1Sql(OracleSf, "u1", 20),
      "g.V().has('user','oid','u1').out('reply')" +
        ".union(identity(), out('reply').union(identity(), out('reply')))" +
        ".dedup().by('id').has('oid', TextP.startingWith('u')).as('a')" +
        ".path().count(local).as('b').select('a')" +
        ".order().by(select('b'), incr).by('oid').by('id').limit(20)" +
        ".select('a', 'b')"),
    // LDBC interactive-complex-2, shape-identical to the reference's
    // published benchmark query (interactive-complex-2.gremlin:1):
    // seed lookup, tagged friend expand, reverse expand, ordered
    // (lte) property filter, tag-then-property two-key ordering
    // (message desc, friend asc — select('p') orders by the tag's
    // dense id, which is by construction the oid rank), paginated
    // multi-tag select
    labeledGremlin("tg_gremlin_ldbc_cr2", SynthSql6.cr2Sql(OracleSf, "u1", "u4", 20),
      "g.V().has('user','oid','u1').out('reply').as('p')" +
        ".in('reply').has('oid', P.lte('u4')).as('m')" +
        ".order().by('oid', desc).by(select('p'), asc).limit(20)" +
        ".select('p', 'm')"),
    // LDBC interactive-complex-4's defining steps (interactive-complex-4
    // .gremlin:1): snapshot the friend set into a side effect
    // (store('friends')), expand to their tools, and keep only tools
    // with NO invoker outside the friend circle — the published
    // anti-predicate spelling filter(<sub>.where(without('friends'))
    // .count().is(0)), which requires zero-count origins to PASS the
    // correlated count (whereCountIs left-joins the distinct origin set
    // and coalesces absent counts to 0)
    labeledGremlin("tg_gremlin_ldbc_cr4", SynthSql6.cr4Sql(OracleSf, "u1", 6.0),
      "g.V().has('user','oid','u1').out('reply').store('friends')" +
        ".out('invoke')" +
        ".filter(__.inE('invoke').has('weight', P.gte(6)).outV()" +
        ".where(P.without('friends')).count().is(0))" +
        ".groupCount().by('oid')"),
    // LDBC interactive-complex-5, shape-identical to the reference's
    // published benchmark query (interactive-complex-5.gremlin:1):
    // seed lookup, union(identity(), out()) expansion, dedup, tagged
    // friend, weighted edge expand, then the defining step —
    // group().by().by(<sub>.where(eq('p')).count()): a group keyed by
    // the CURRENT element whose value sub is CORRELATED to each
    // traverser's tag (the member whose container posts are counted),
    // ordered (count desc, key asc) and limited
    labeledGremlin("tg_gremlin_ldbc_cr5", SynthSql6.cr5Sql(OracleSf, "u1", 2.0, 20),
      "g.V().has('user','oid','u1').out('reply')" +
        ".union(identity(), out('reply')).dedup().as('p')" +
        ".outE('invoke').has('weight', P.gte(2)).inV()" +
        ".group().by().by(__.in('invoke').where(eq('p')).count())" +
        ".order().by(select(values), desc).by(select(keys), asc).limit(20)"),
    // LDBC interactive-complex-6, shape-identical to the reference's
    // published benchmark query (interactive-complex-6.gremlin:1):
    // seed lookup, union(identity(), out())-nested expansion, dedup,
    // has(P.neq(seed)), anonymous-traversal filter() (the reference
    // spells the EXISTS applies as filter(), not where()), expand,
    // groupCount ordered by (count desc, key asc), limited
    labeledGremlin("tg_gremlin_ldbc_cr6", SynthSql6.cr6Sql(OracleSf, "u1", 2.0, 10),
      "g.V().has('user','oid','u1').out('reply')" +
        ".union(identity(), out('reply')).dedup()" +
        ".has('oid', P.neq('u1'))" +
        ".filter(__.outE('invoke').has('weight', P.gte(2)))" +
        ".out('invoke').groupCount().by('oid')" +
        ".order().by(select(values), desc).by(select(keys), asc).limit(10)"),
    // LDBC interactive-complex-12 shape (interactive-complex-12
    // .gremlin:1): tagged friend expand, weighted edge filter, a
    // correlated distinct-count filter() on the far vertex, select()
    // back to the tag, groupCount over the TAGGED vertex
    labeledGremlin("tg_gremlin_ldbc_cr12", SynthSql6.cr12Sql(OracleSf, "u1", 2.0, 3, 20),
      "g.V().has('user','oid','u1').out('reply').as('friend')" +
        ".outE('invoke').has('weight', P.gte(2)).inV()" +
        ".filter(__.in('invoke').dedup().count().is(P.gte(3)))" +
        ".select('friend').groupCount().by('oid')" +
        ".order().by(select(values), desc).by(select(keys), asc).limit(20)"),
    // LDBC interactive-complex-11, shape-identical to the reference's
    // published benchmark query (interactive-complex-11.gremlin:1):
    // seed, union(identity(), out()) + dedup + neq(seed), tagged
    // friends, weighted edge expand with SCALAR VALUE TAGS —
    // values('weight').as('works') / values('oid').as('orgname') stash
    // property values that ride later expansions — select back to the
    // friend, three-key mixed tag/property ordering (works asc, id asc,
    // orgname desc), paginated three-tag select
    labeledGremlin("tg_gremlin_ldbc_cr11", SynthSql6.cr11Sql(OracleSf, "u1", 6.0, 10),
      "g.V().has('user','oid','u1').out('reply')" +
        ".union(identity(), out('reply')).dedup().has('oid', P.neq('u1'))" +
        ".as('friends').outE('invoke').has('weight', P.lt(6))" +
        ".values('weight').as('works').inV().values('oid').as('orgname')" +
        ".select('friends')" +
        ".order().by(select('works'), incr).by('id', incr).by(select('orgname'), desc)" +
        ".limit(10).select('friends', 'orgname', 'works')"),
    // g.E() edge-scan source (sourcestep/edge.rs:89; ScanOpt EDGE in
    // algebra.proto:196): the weight predicate lands directly ON the
    // edge scan (no vertex join before the filter), then GetV(START)
    gremlin("tg_gremlin_esource", SynthSql6.esourceSql(OracleSf, 3.0),
      "g.E().has('weight', P.gte(3)).outV().groupCount().by('oid')"),
    // the reference's 1-hop/2-hop micro benchmark queries
    // (benchmark/queries/1-hop.gremlin, 2-hop.gremlin:
    // g.V($id).out()[.out()].count()) — with these, every file in the
    // reference's published benchmark/queries/ dir runs end-to-end.
    // "_micro" suffix: the name tg_gremlin_2hop is the groupCount query
    gremlin("tg_gremlin_1hop_micro", SynthSql6.hop1Sql(OracleSf, "u1"), "g.V('u1').out().count()"),
    gremlin("tg_gremlin_2hop_micro", SynthSql6.hop2Sql(OracleSf, "u1"), "g.V('u1').out().out().count()"),
    // order().by(shuffle) — the IR's third OrderBy direction
    // (algebra.proto:116 ASC/DESC/SHUFFLE), lowered to the engine's
    // deterministic portable pick order (same policy as sample(n)):
    // resume-safe shuffle-order + page, never rand()
    gremlin("tg_gremlin_shuffle", SynthSql6.shuffleOrderSql(OracleSf, "u%", 40),
      "g.V().has('oid', TextP.startingWith('u')).out()" +
        ".order().by(shuffle).limit(40).values('oid')"),
    // RangeGlobal pagination (RangeGlobalTreeNode.java:31; pegasus
    // dedup.rs Range): ordered in-degree groupCount, page [5, 25)
    gremlin("tg_gremlin_range", SynthSql6.rangeSql(OracleSf, 5, 25),
      "g.V().out().groupCount().by('oid')" +
        ".order().by(select(values), desc).by(select(keys), asc).range(5, 25)"),
    // math() per-traverser computed expression (MathTreeNode.java:36):
    // IEEE-exact op subset (+ - * / sqrt abs) over the edge weight —
    // bit-identical cross-engine, so no rounding needed
    gremlin("tg_gremlin_math", SynthSql6.mathSql(OracleSf),
      "g.V().outE().values('weight').math('sqrt(abs(_ - 3)) * 2 + 1 / (_ + 1)')"),
    // sack() traverser-local accumulator: per 2-edge walk from the
    // assistant hub, sack = w1 + w2 (integer-valued doubles — exact);
    // the sack is a plain column riding the traverser, zero shuffles
    gremlin("tg_gremlin_sack", SynthSql6.sackSql(OracleSf, "assistant"),
      "g.withSack(0).V().has('oid', 'assistant')" +
        ".outE().sack(sum).by('weight')" +
        ".inV().outE().sack(sum).by('weight').sack()"),
    // aggregate(tag) side-effect barrier + where(P.without(tag))
    // membership anti-join (MaxGraph FoldStore, aggregate.rs:29-815):
    // 2-hop walks from the hub whose endpoint is NOT a 1-hop neighbor —
    // the classic visited-set expansion idiom
    gremlin("tg_gremlin_aggregate", SynthSql7.aggregateSql(OracleSf, "system"),
      "g.V().has('oid', 'system').out().aggregate('x')" +
        ".out().where(P.without('x')).groupCount().by('oid')"),
    // cap(tag): the collected bulk set emitted as (oid, n)
    gremlin("tg_gremlin_cap", SynthSql7.capSql(OracleSf, "u"),
      "g.V().has('oid', TextP.startingWith('u')).out().aggregate('x').cap('x')"),
    // step-form cyclicPath() over a tracked 2-hop walk (complement of
    // the SimplePath filter, filter.rs:36-362): walks that return to a
    // visited vertex, counted per landing oid
    gremlin("tg_gremlin_cyclic", SynthSql7.cyclicSql(OracleSf, "u"),
      "g.V().has('oid', TextP.startingWith('u')).out().out()" +
        ".cyclicPath().groupCount().by('oid')"),
    // tree() sink: the 2-hop traverser histories from the hub merged by
    // shared prefix — one row per distinct prefix (depth, path_str)
    gremlin("tg_gremlin_tree", SynthSql7.treeSql(OracleSf, "system"),
      "g.V().has('oid', 'system').out().out().tree()"),
    // predicated emit: only traversers matching the sub are copied out
    // mid-loop; the final round halts everyone (RepeatStep order)
    gremlin("tg_gremlin_emit", SynthSql7.emitSql(OracleSf, "system", "t"),
      "g.V().has('oid', 'system').repeat(__.out())" +
        ".emit(has('oid', TextP.startingWith('t'))).times(2)" +
        ".groupCount().by('oid')"),
    // g.V(ids) point lookup (GlobalIdsScan / id IndexPredicate): the
    // explicit oid set lands ON the vertex scan; an unknown id matches
    // nothing
    gremlin("tg_gremlin_vids", SynthSql7.vidsSql(OracleSf, Seq("assistant", "tool:t0", "nosuch:x")),
      "g.V('assistant', 'tool:t0', 'nosuch:x').out().groupCount().by('oid')"),
    // mid-traversal hasId (global-id IndexPredicate as a FILTER, vs the
    // g.V(ids) source form) composed with the closed-schema existence
    // family: hasNot(non-schema key) keeps everything, has('oid') keeps
    // non-null rows — both no-ops here by schema, real by semantics
    gremlin("tg_gremlin_hasid", SynthSql7.hasIdSql(OracleSf, Seq("assistant", "tool:t0")),
      "g.V().out().hasId('assistant', 'tool:t0').hasNot('nickname')" +
        ".has('oid').in().groupCount().by('oid')"),
    // elementMap(): id + full property map per traverser, one column
    // per schema property — the TinkerPop ElementMapStep sink
    gremlin("tg_gremlin_elementmap",
      SynthSql7.elementMapSql(OracleSf, Seq("assistant", "system", "tool:t0", "tool:t1")),
      "g.V('assistant', 'system', 'tool:t0', 'tool:t1').elementMap()"),
    // properties(keys…): (key, value) rows per traverser, bag semantics
    // (PropertiesStep) — here over a 1-hop expansion
    gremlin("tg_gremlin_properties", SynthSql7.propertiesSql(OracleSf, "system"),
      "g.V().has('oid', 'system').out().properties('oid')"),
    // local numeric fold: group().by(dst oid).by(values('weight')
    // .fold()) then mean(local) — a pure array expression over the
    // folded list, no extra shuffle
    gremlin("tg_gremlin_localagg", SynthSql7.localMeanSql(OracleSf, "u"),
      "g.V().has('oid', TextP.startingWith('u')).outE()" +
        ".group().by('oid').by(__.values('weight').fold()).mean(local)"),
    // store(tag): the lazy sibling of aggregate — collected set read at
    // the cap sink
    gremlin("tg_gremlin_store", SynthSql7.capSql(OracleSf, "a"),
      "g.V().has('oid', TextP.startingWith('a')).out().store('x').out().cap('x')"),
    // deterministic coin(p): portable-hash per-10000 gate on the vertex
    // oid (resume-safe — never rand()), composed with an expansion
    gremlin("tg_gremlin_coin", SynthSql7.coinSql(OracleSf, 0.37),
      "g.V().coin(0.37).out().groupCount().by('oid')"),
    // profile(): per-step traverser counts (diagnostics sink — counts
    // only, never wall time, so the result is oracle-checkable)
    gremlin("tg_gremlin_profile", SynthSql7.profileSql(OracleSf, "u"),
      "g.V().has('oid', TextP.startingWith('u')).out().out().profile()"),
    // edge-label plane: outE() carries the edge label (__elabel);
    // group().by('label').by(values('weight').sum()) = total per-label
    // occurrence weight (reply vs invoke)
    labeledGremlin("tg_gremlin_edgelabel", SynthSql5.gieEdgeLabelSumSql(OracleSf),
      "g.V().outE().group().by('label').by(__.values('weight').sum())"),
    // As/select tag jump via the Gremlin string front-end: tag the agent,
    // expand to a user, jump back — one bag row per agent→user edge
    gremlin("tg_gremlin_tags", SynthSql3.gieTagsSql(OracleSf),
      "g.V().has('oid', TextP.startingWith('agent:')).as('a').out()" +
        ".has('oid', TextP.startingWith('u')).select('a').values('oid')"),
    // Gremlin mutation plane (groot realtime write, record.py:22-82):
    // addV + property, addE().to() with an explicit weight, and a
    // vertex drop() — three write groups, three snapshot versions; the
    // output re-reads the LATEST committed snapshot (read-your-writes)
    scratch("q_gremlin_mutate", SynthSql6.gremlinMutateSql(OracleSf, "tool:t3", "added:x", 99.0),
      "graft-gmut") { (s, dir, tmp) =>
      val store = new SnapshotStore(tmp)
      val (g1, _) = Gremlin.mutate(graphFor(s, dir),
        "g.addV().property('oid', 'added:x')", store, "gmut_vs", "gmut_es")
      val (g2, _) = Gremlin.mutate(g1,
        "g.V().has('oid', 'assistant').addE()" +
          ".to(V().has('oid', 'added:x')).property('weight', 99)",
        store, "gmut_vs", "gmut_es")
      Gremlin.mutate(g2,
        "g.V().has('oid', 'tool:t3').drop()", store, "gmut_vs", "gmut_es")
      import s.implicits._
      LinkGraph(
        store.readLatest(s, "gmut_vs").get._2.as[Vertex],
        store.readLatest(s, "gmut_es").get._2.as[Edge])
        .oidEdges().select(col("src_oid"), col("dst_oid"), col("weight"))
    }
  )
}
