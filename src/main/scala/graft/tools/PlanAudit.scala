package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.SparkEntry

/** Dev tool: dump formatted physical plans for the load-bearing queries
  * and grep-able assertions about them (pushdown reached the scan, dims
  * broadcast, superstep exchange count). Output feeds PLANS.md.
  * Usage: runMain graft.tools.PlanAudit [sfDir]
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def audit(name: String): Unit = {
      val df = SparkEntry.registry.byName(name).run(spark, sfDir)
      val plan = df.queryExecution.executedPlan.toString
      println(s"==== $name ====")
      println(plan.take(4000))
      println(s"---- $name summary: exchanges=${countOf(plan, "Exchange")} " +
        s"broadcasts=${countOf(plan, "BroadcastHashJoin")} " +
        s"shuffleHash=${countOf(plan, "ShuffledHashJoin")} " +
        s"sortMerge=${countOf(plan, "SortMergeJoin")} " +
        s"pushedFilters=${plan.contains("PushedFilters: [")}")
    }
    def countOf(s: String, token: String): Int = s.sliding(token.length).count(_ == token)

    Seq("q_scan_filter", "q_group_agg", "q_topk", "q_join_agg", "q_window",
      "tg_edges", "d_textstats", "s_cosine_topk", "tg_gie_2hop", "tg_gie_segment",
      "tg_gremlin_topk", "tg_gremlin_union", "tg_gremlin_match", "tg_gremlin_group",
      "tg_gremlin_numeric", "tg_gremlin_bool", "tg_gremlin_coalesce",
      "tg_gremlin_select", "tg_gremlin_textp", "tg_gremlin_subgraph",
      "tg_gremlin_distinct", "tg_gremlin_sample",
      "tg_gremlin_haslabel", "tg_gremlin_edgelabel", "tg_salted_hub",
      "tg_gremlin_ldbc_top", "tg_gremlin_ldbc_filter", "tg_numeric_assort",
      "tg_gremlin_ldbc_cr1", "tg_gremlin_esource", "tg_gremlin_range",
      "tg_gremlin_math", "tg_gremlin_aggregate", "tg_gremlin_cyclic",
      "tg_gremlin_coin",
      "d_pack_chunks", "d_pack_stats", "d_gopher_rules").foreach(audit)

    // Sequence packing: the running-token-sum window must be partitioned
    // by the hash bucket (parallelism = buckets), NEVER a single global
    // partition — a global pack order would serialize the corpus
    // through one task.
    {
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      val plan = graft.text.Packing.packChunks(docs, 512, 8)
        .queryExecution.executedPlan.toString
      println("==== pack_chunks ====")
      println(s"---- pack_chunks summary: " +
        s"bucketPartitionedWindow=${plan.contains("hashpartitioning(bucket")} " +
        s"singlePartitionWindow=${"Exchange SinglePartition".r.findFirstIn(plan).isDefined} " +
        s"exchanges=${countOf(plan, "Exchange")}")
    }

    // Sampling-walk step: the per-step argmin must be a partial-aggregated
    // min_by (HashAggregate), NEVER a Window partitioned by start — a hub
    // tip would route its whole out-adjacency through one task per start.
    {
      val g0 = SparkEntry.graphFor(spark, sfDir)
      // checkpoint the edge input so the audited plan is the STEP alone
      // (the derivation subtree legitimately contains the reply-lag
      // Window and would false-positive the assertion)
      val oidEdges = graft.algos.Paths3.oidPairs(g0)
      import spark.implicits._
      val walk0 = Seq("system").toDF("start")
        .select(col("start"), array(col("start")).as("path"), col("start").as("tip"))
      val plan = graft.algos.Paths3.samplingStep(walk0, oidEdges, 0, 42L)
        .queryExecution.executedPlan.toString
      println("==== sampling_step ====")
      // min_by over an array-carrying struct lowers to SortAggregate
      // (HashAggregate cannot key/accumulate array buffers) — what
      // matters is the map-side partial_min_by before the exchange
      println(s"---- sampling_step summary: windowInStep=${plan.contains("Window")} " +
        s"partialAgg=${plan.contains("partial_min_by")} " +
        s"exchanges=${countOf(plan, "Exchange")}")
    }

    // MinHash candidate shuffle: the dedup exchange must carry BARE id
    // pairs — the shingle arrays re-join by id afterwards. The bucket
    // skew guard must be a partial-aggregated groupBy count, NOT a
    // Window (a window count would route the whole pathological bucket
    // through one task before dropping it).
    {
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      val plan = graft.text.Dedup.minhashPairs(docs, "doc_id", "text")
        .queryExecution.executedPlan.toString
      val bare = plan.contains("Exchange hashpartitioning(id_a")
      val shInDedup = "hashpartitioning\\(id_a[^\\n]*sh".r.findFirstIn(plan).isDefined
      val windowGuard = plan.contains("Window")
      println("==== minhash_pairs ====")
      println(s"---- minhash_pairs summary: candidateExchangeBareIds=$bare " +
        s"shingleInCandidateExchange=$shInDedup windowInGuard=$windowGuard " +
        s"partialAggGuard=${plan.contains("HashAggregate")} " +
        s"exchanges=${countOf(plan, "Exchange")}")
    }

    // Embedding-ANN candidate shuffle (mirror of the minhash audit): the
    // bucket join and candidate distinct must carry BARE (query_id,
    // neighbor_id) — vectors re-join by id only for final scoring
    {
      val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      val plan = graft.ml.Similarity.lshTopK(
        emb, "vec_id", "embedding", (0L until 10L).toSeq, 5)
        .queryExecution.executedPlan.toString
      val vecInCandidate =
        "hashpartitioning\\((query_id|neighbor_id)[^\\n]*(embedding|\\bv#)".r
          .findFirstIn(plan).isDefined
      println("==== lsh_topk ====")
      println(s"---- lsh_topk summary: vectorInCandidateExchange=$vecInCandidate " +
        s"exchanges=${countOf(plan, "Exchange")} " +
        s"guardAgg=${plan.contains("HashAggregate")}")
      val pairPlan = graft.ml.Similarity.cosineNearDupPairs(
        emb, "vec_id", "embedding", 0.9)
        .queryExecution.executedPlan.toString
      val vecInPairs = "hashpartitioning\\(id_a[^\\n]*(embedding|\\bv#)".r
        .findFirstIn(pairPlan).isDefined
      println(s"---- cosine_pairs summary: vectorInCandidateExchange=$vecInPairs " +
        s"exchanges=${countOf(pairPlan, "Exchange")}")
    }

    // HLL registers: the per-row register math must ride the scan and
    // partial-aggregate (partial_max) BEFORE the exchange — the only
    // shuffle may carry ≤ 1024 register rows, never the raw stream.
    {
      val spark2 = spark
      import spark2.implicits._
      val keys = (0L until 10000L).toDF("id").select(col("id").as("k"))
      val plan = graft.ml.Hll.registers(keys).queryExecution.executedPlan.toString
      println("==== hll_registers ====")
      println(plan.take(2000))
      println(s"---- hll_registers summary: partialMax=${plan.contains("partial_max")} " +
        s"exchanges=${countOf(plan, "Exchange")} " +
        s"window=${plan.contains("Window")}")
    }

    // g.E() edge-scan source: the weight predicate must land directly ON
    // the edge scan (PushedFilters on a parquet-backed graph — at scale,
    // partition pruning on a label/weight-partitioned edge table), never
    // behind a vertex join.
    {
      val gm = SparkEntry.graphFor(spark, sfDir)
      val tmp = java.nio.file.Files.createTempDirectory("graft-audit-e").toString
      gm.vertices.write.mode("overwrite").parquet(s"$tmp/v")
      gm.edges.write.mode("overwrite").parquet(s"$tmp/e")
      import spark.implicits._
      val gp = graft.graph.LinkGraph(
        spark.read.parquet(s"$tmp/v").as[graft.schema.Vertex],
        spark.read.parquet(s"$tmp/e").as[graft.schema.Edge])
      val plan = graft.gie.G.E(gp, col("weight") >= lit(3.0)).df
        .queryExecution.executedPlan.toString
      println("==== gremlin_esource ====")
      println(plan.take(2000))
      println(s"---- gremlin_esource summary: " +
        s"weightPushedToScan=${"PushedFilters: \\[[^\\]]*GreaterThanOrEqual\\(weight".r.findFirstIn(plan).isDefined} " +
        s"joinsBelowFilter=${countOf(plan, "Join")} " +
        s"exchanges=${countOf(plan, "Exchange")}")
      // g.V(ids) point lookup: the explicit id set must land ON the
      // vertex scan as an In() pushed filter (GlobalIdsScan analog) —
      // at scale, row-group pruning instead of a full vertex scan.
      val vplan = graft.gie.G.V(gp, col("oid").isin("assistant", "tool:t0")).df
        .queryExecution.executedPlan.toString
      println("==== gremlin_vids ====")
      println(vplan.take(1200))
      println(s"---- gremlin_vids summary: " +
        s"idsPushedToScan=${"PushedFilters: \\[[^\\]]*In\\(oid".r.findFirstIn(vplan).isDefined} " +
        s"joins=${countOf(vplan, "Join")} exchanges=${countOf(vplan, "Exchange")}")
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    }

    // repeat().until() loop: the until sub-traversal must be evaluated
    // exactly ONCE per round (the round-4 shape ran it twice — once for
    // the exit semi-join, once for the survivor anti-join; both now
    // derive from one materialized hit set).
    {
      val gm = SparkEntry.graphFor(spark, sfDir)
      var untilEvals = 0
      var rounds = 0
      val out = graft.gie.G.V(gm).repeatUntil(
        body = t => { rounds += 1; t.out() },
        until = Some { t => untilEvals += 1; t.out() },
        emit = false, times = 5)
      out.df.count()
      println("==== repeat_until ====")
      println(s"---- repeat_until summary: rounds=$rounds untilEvals=$untilEvals " +
        s"oncePerRound=${untilEvals <= rounds}")
    }

    // frontier-sparse PPR: per-round state rows must track the touched
    // set (growing from 1), never start at |V| — the dense twin touches
    // all |V| rows every round by construction.
    {
      val gm = SparkEntry.graphFor(spark, sfDir)
      val nV = gm.numVertices
      val seed = gm.vertices.toDF.where(col("oid") === "tool:t0")
        .select(col("id")).head().getLong(0)
      val sizes = scala.collection.mutable.ArrayBuffer.empty[Long]
      graft.algos.PageRank.personalizedSparse(gm, seed, rounds = 6,
        stateProbe = Some((_, n) => sizes += n)).count()
      println("==== ppr_sparse ====")
      println(s"---- ppr_sparse summary: nV=$nV stateRowsPerRound=${sizes.mkString(",")} " +
        s"startsAtSeed=${sizes.headOption.contains(1L)} " +
        s"sparseFirstRounds=${sizes.take(3).forall(_ < nV)}")
    }

    // ranked neighbor sampler step (topk / without-replacement): the
    // per-(seed, parent) selection must be the salted two-phase
    // truncation (two HashAggregate phases over ≤ k-element array
    // buffers), NEVER a row_number window partitioned by parent — a hub
    // parent's whole adjacency would route through one task. Inputs are
    // checkpointed so the audited plan is the SELECTION alone (the
    // graph-derivation subtree legitimately contains the reply-lag
    // Window and would false-positive the assertion).
    {
      val gm = SparkEntry.graphFor(spark, sfDir)
      import spark.implicits._
      val oidE = graft.ml.NeighborSample.oidEdges(gm)
      val cand = Seq("system").toDF("seed")
        .select(col("seed"), col("seed").as("parent"))
        .join(oidE, Seq("parent"))
      val plan = graft.engine.Skew.saltedTopK(
        cand, Seq("seed", "parent"), "child",
        struct(negate(col("weight")), col("child")), 3, saltFrom = "child")
        .queryExecution.executedPlan.toString
      println("==== neighbor_topk_step ====")
      println(plan.take(2000))
      println(s"---- neighbor_topk_step summary: window=${plan.contains("Window")} " +
        s"aggPhases=${countOf(plan, "HashAggregate") + countOf(plan, "SortAggregate")} " +
        s"exchanges=${countOf(plan, "Exchange")}")
    }

    // negative sampler: draws are map-generated (Generate over the
    // attempt sequence rides the seed rows), validity is one semi + one
    // anti join on bare ids — no window, no |S|×|C| product. Built on a
    // checkpoint-backed graph for the same subtree-isolation reason.
    {
      val gm = SparkEntry.graphFor(spark, sfDir)
      import spark.implicits._
      val (vs, es) = (graft.engine.Engine.checkpoint(gm.vertices.toDF),
        graft.engine.Engine.checkpoint(gm.edges.toDF))
      vs.rdd.count(); es.rdd.count()
      val gp = graft.graph.LinkGraph(vs.as[graft.schema.Vertex], es.as[graft.schema.Edge])
      val plan = graft.ml.NegativeSample.sample(
        gp, Seq("system", "assistant"), f = 4).queryExecution.executedPlan.toString
      println("==== negative_sample ====")
      println(s"---- negative_sample summary: window=${plan.contains("Window")} " +
        s"semiJoin=${plan.contains("LeftSemi")} antiJoin=${plan.contains("LeftAnti")} " +
        s"generatedDraws=${plan.contains("Generate")} " +
        s"crossJoins=${countOf(plan, "CartesianProduct")} " +
        s"exchanges=${countOf(plan, "Exchange")}")
    }

    // probability sampler (edge_weight / in_degree interval draws): the
    // per-parent prefix sum must be the TWO-PHASE hash-range-bucketed
    // form — the only windows are the (parent)-keyed offset pass over
    // per-bucket totals and the (parent, sub)-keyed within-bucket pass
    // (each bounded by subBuckets / adjacency-fraction rows) — and the
    // draw→interval match must be an EQUI join on (parent, bin) over
    // Generate-exploded bins, never a CartesianProduct/BNLJ inequality
    // join against the adjacency.
    {
      val gm = SparkEntry.graphFor(spark, sfDir)
      import spark.implicits._
      val oidE = graft.ml.NeighborSample.oidEdges(gm)
      val parents = Seq("system", "assistant").toDF("parent")
      val plan = graft.ml.NeighborSample.proportionalPicks(
        oidE, parents, 3, 42L, byInDegree = false)
        .queryExecution.executedPlan.toString
      println("==== neighbor_prob_step ====")
      println(plan.take(2500))
      println(s"---- neighbor_prob_step summary: windows=${countOf(plan, "Window")} " +
        s"generatedBins=${plan.contains("Generate")} " +
        s"crossJoins=${countOf(plan, "CartesianProduct") + countOf(plan, "BroadcastNestedLoopJoin")} " +
        s"exchanges=${countOf(plan, "Exchange")}")
    }

    spark.stop()
  }
}
