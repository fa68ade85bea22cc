package graft.ml

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.engine.Engine
import graft.graph.LinkGraph

/** GNN-style k-hop neighbor-fanout sampling — the learning plane's
  * GraphSAGE/GCN mini-batch sampler (the reference's graphlearn
  * neighbor sampler family, e.g. learning_engine's k-hop fanout
  * samplers): per hop `h` with fanout `f`, every (seed, parent) pair
  * fills `f` deterministic child *slots*; slot `j` takes the
  * out-neighbor minimizing an avalanche-mixed pick hash salted by
  * (pickSeed, h, j). The composite (parent, child, salt, slot) value is
  * passed through [[graft.ml.Hll.mix]] — a linear slot offset alone
  * preserves the candidate ordering mod p (every slot would pick the
  * same child; the avalanche makes slots genuinely diversify, like a
  * with-replacement draw; two slots may still collide by chance — kept
  * as distinct slots). The next hop's frontier dedups (seed, child).
  *
  * Scale shape: each slot pick is a map-side-combined `min_by` keyed by
  * (seed, parent, slot) — NEVER a window over a parent's adjacency, so
  * a mega-hub parent's fan-out reduces before the shuffle (the same
  * hub-safety argument as `Paths3.samplingStep`). Candidates carry bare
  * oids; the pick hash is `TextOps.portableHash` integer arithmetic, so
  * the whole sample has an exact DuckDB twin
  * (`SynthSql5.neighborSampleSql`).
  */
object NeighborSample {

  /** Per-hop salt — shared by every sampler family (and unrolled
    * verbatim in the SQL twins): hop h of a pickSeed-seeded run.
    */
  private[ml] def hopSalt(pickSeed: Long, h: Int): Long =
    pickSeed * 1000003L + h * 7919L

  /** The avalanche pick hash for a (parent, child, salt, slot) draw —
    * composite < p < 2^30, so [[graft.ml.Hll.mix]] degenerates to ONE
    * fin pass; the SQL twins unroll exactly that chain
    * (`SynthSql5.neighborSampleSql`).
    */
  private[ml] def pickHash(
      parent: org.apache.spark.sql.Column, child: org.apache.spark.sql.Column,
      salt: Long, slot: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    graft.ml.Hll.mix(
      (graft.text.TextOps.portableHash(parent) * 31L +
        graft.text.TextOps.portableHash(child) * 17L +
        lit(salt) + slot.cast("long") * 104729L) % graft.text.TextOps.HashP)

  /** The oid-keyed adjacency (parent, child, weight), eagerly
    * checkpointed — the shared hop input for every sampler family.
    * Package-visible for PlanAudit.
    */
  private[graft] def oidEdges(g: LinkGraph): DataFrame = {
    val e = Engine.checkpoint(g.oidEdges()
      .select(col("src_oid").as("parent"), col("dst_oid").as("child"), col("weight")))
    e.rdd.count()
    e
  }

  /** Returns (seed_oid, hop, parent_oid, child_oid, slot) — hop is
    * 1-based; dead-end parents simply contribute no rows.
    */
  def sample(
      g: LinkGraph, seedOids: Seq[String], fanouts: Seq[Int],
      pickSeed: Long = 42L): DataFrame = {
    val spark = g.vertices.sparkSession
    import spark.implicits._
    val oidEdges = this.oidEdges(g).select("parent", "child")
    var frontier = seedOids.toDF("seed").select(col("seed"), col("seed").as("parent"))
    val hops = fanouts.zipWithIndex.map { case (f, h) =>
      val salt = hopSalt(pickSeed, h)
      val cand = frontier.join(oidEdges, Seq("parent"))
        .select(col("seed"), col("parent"), col("child"),
          explode(sequence(lit(0), lit(f - 1))).as("slot"))
        .withColumn("__pick", pickHash(col("parent"), col("child"), salt, col("slot")))
      // deterministic argmin per slot; ties on the raw hash break to the
      // lexicographically smaller child (same portable tie rule as
      // samplingStep / its row_number twin)
      val picked = Engine.checkpoint(
        cand.groupBy(col("seed"), col("parent"), col("slot"))
          .agg(min_by(col("child"), struct(col("__pick"), col("child"))).as("child")))
      frontier = picked.select(col("seed"), col("child").as("parent")).distinct()
      picked.select(col("seed").as("seed_oid"), lit(h + 1).as("hop"),
        col("parent").as("parent_oid"), col("child").as("child_oid"), col("slot"))
    }
    // force the lazy per-hop checkpoints while the pinned edge frame is
    // hot, so the caller's first action is a checkpoint read
    val out = Engine.checkpoint(hops.reduce(_ unionByName _))
    out.count()
    out
  }

  /** graphlearn `strategy="topk"` (`graph_sampling_en.rst` strategy
    * table): per (seed, parent) the top-f out-neighbors by edge weight
    * (desc; ties break to the smaller child oid). Padding rule: a parent
    * with fewer than f neighbors returns all of them unpadded (the
    * reference pads with `default_neighbor_id`; a relational result has
    * no fixed tensor shape to fill).
    */
  def sampleTopK(
      g: LinkGraph, seedOids: Seq[String], fanouts: Seq[Int]): DataFrame =
    sampleRanked(g, seedOids, fanouts, byWeight = true, 0L)

  /** graphlearn `strategy="random_without_replacement"`: per (seed,
    * parent) the first f out-neighbors in avalanche-pick-hash order —
    * distinct by construction (the adjacency is a set), deterministic,
    * resume-safe; same padding rule as [[sampleTopK]].
    */
  def sampleWithoutReplacement(
      g: LinkGraph, seedOids: Seq[String], fanouts: Seq[Int],
      pickSeed: Long = 42L): DataFrame =
    sampleRanked(g, seedOids, fanouts, byWeight = false, pickSeed)

  /** Shared ranked-selection sampler. Scale shape: the per-(seed,
    * parent) top-k is [[graft.engine.Skew.saltedTopK]] — two-phase
    * salted truncation, never a window over a hub parent's adjacency.
    * Returns (seed_oid, hop, parent_oid, child_oid, rank), rank 0-based.
    */
  private def sampleRanked(
      g: LinkGraph, seedOids: Seq[String], fanouts: Seq[Int],
      byWeight: Boolean, pickSeed: Long): DataFrame = {
    val spark = g.vertices.sparkSession
    import spark.implicits._
    val oidEdges = this.oidEdges(g)
    var frontier = seedOids.toDF("seed").select(col("seed"), col("seed").as("parent"))
    val hops = fanouts.zipWithIndex.map { case (f, h) =>
      val salt = hopSalt(pickSeed, h)
      val cand = frontier.join(oidEdges, Seq("parent"))
      val ord =
        if (byWeight) struct(negate(col("weight")), col("child"))
        else struct(pickHash(col("parent"), col("child"), salt, lit(0)), col("child"))
      val picked = Engine.checkpoint(graft.engine.Skew.saltedTopK(
        cand, Seq("seed", "parent"), "child", ord, f, saltFrom = "child"))
      frontier = picked.select(col("seed"), col("child").as("parent")).distinct()
      picked.select(col("seed").as("seed_oid"), lit(h + 1).as("hop"),
        col("parent").as("parent_oid"), col("child").as("child_oid"), col("rank"))
    }
    val out = Engine.checkpoint(hops.reduce(_ unionByName _))
    out.count()
    out
  }

  /** graphlearn `strategy="edge_weight"` (`graph_sampling_en.rst`
    * strategy table: "Sampling with edge weight as probability"): slot
    * draws select a child with probability exactly
    * weight(parent→child) / Σ weights(parent→*). Portable because the
    * derived graph's edge weights are occurrence COUNTS (integral):
    * the draw is pure integer interval arithmetic — no float log/pow —
    * so the sample has a full-value DuckDB twin
    * (`SynthSql7.neighborWeightedSql`). See [[sampleProportional]] for
    * the interval layout and hub-safety shape.
    */
  def sampleEdgeWeight(
      g: LinkGraph, seedOids: Seq[String], fanouts: Seq[Int],
      pickSeed: Long = 42L, subBuckets: Int = 32, binW: Int = 64): DataFrame =
    sampleProportional(g, seedOids, fanouts, byInDegree = false, pickSeed,
      subBuckets, binW)

  /** graphlearn `strategy="in_degree"` neighbor sampling
    * (`graph_sampling_en.rst`: "Sampling with vertex in-degree as
    * probability"): like [[sampleEdgeWeight]] but the child's weight is
    * its GLOBAL in-degree (popular vertices are drawn more often).
    */
  def sampleByInDegree(
      g: LinkGraph, seedOids: Seq[String], fanouts: Seq[Int],
      pickSeed: Long = 42L, subBuckets: Int = 32, binW: Int = 64): DataFrame =
    sampleProportional(g, seedOids, fanouts, byInDegree = true, pickSeed,
      subBuckets, binW)

  /** Shared probability-strategy sampler. Per hop, per parent: children
    * own disjoint integer intervals [lo, lo+w) laid out in the
    * deterministic (portableHash(child), child) order (a fixed
    * pseudo-random permutation — any fixed layout gives the same
    * marginal distribution, and this one is independent of the
    * sharding parameters); slot `j` draws
    * u = avalanche((phash(parent)·31 + salt + j·104729) % p) % W_parent
    * and takes the containing interval, a with-replacement draw whose
    * per-slot probability is exactly w/W.
    *
    * Scale shape (the reason for the sub-bucket layout): the per-parent
    * prefix sum is TWO-PHASE — per-(parent, sub) totals, a running
    * offset window bounded by `subBuckets` rows per parent, then a
    * within-(parent, sub) window over 1/subBuckets of the adjacency —
    * so a mega-hub's adjacency never serializes through one window
    * partition (set subBuckets ≈ maxDegree/targetPartition at 100 TB).
    * Draw→interval matching is a BINNED range join keyed (parent, bin)
    * — never an inequality join against the whole adjacency. Intervals
    * are built once per DISTINCT parent and re-joined to (seed, parent)
    * pairs, so a parent shared by many seeds lays out once. Draws are
    * seed-independent (per parent), matching [[pickHash]]'s convention.
    *
    * Returns (seed_oid, hop, parent_oid, child_oid, slot) — hop
    * 1-based; parents with zero total weight contribute no rows.
    */
  private def sampleProportional(
      g: LinkGraph, seedOids: Seq[String], fanouts: Seq[Int],
      byInDegree: Boolean, pickSeed: Long, subBuckets: Int, binW: Int): DataFrame = {
    val spark = g.vertices.sparkSession
    import spark.implicits._
    val oidEdges = this.oidEdges(g)
    var frontier = seedOids.toDF("seed").select(col("seed"), col("seed").as("parent"))
    val hops = fanouts.zipWithIndex.map { case (f, h) =>
      val salt = hopSalt(pickSeed, h)
      val picks = proportionalPicks(oidEdges,
        frontier.select(col("parent")).distinct(), f, salt, byInDegree,
        subBuckets, binW)
      val out = Engine.checkpoint(frontier.join(picks, Seq("parent"))
        .select(col("seed").as("seed_oid"), lit(h + 1).as("hop"),
          col("parent").as("parent_oid"), col("child").as("child_oid"), col("slot")))
      frontier = out.select(col("seed_oid").as("seed"), col("child_oid").as("parent"))
        .distinct()
      out
    }
    val out = Engine.checkpoint(hops.reduce(_ unionByName _))
    out.count()
    out
  }

  /** One probability-strategy hop: (parent, slot, child) picks for the
    * given distinct-parent frame (also the GSL
    * `.sample(f).by('edge_weight'|'in_degree')` entry point).
    */
  private[graft] def proportionalPicks(
      oidEdges: DataFrame, parents: DataFrame, f: Int, salt: Long,
      byInDegree: Boolean, subBuckets: Int = 32, binW: Int = 64): DataFrame = {
    require(f > 0 && subBuckets > 0 && binW > 0,
      "fanout, subBuckets and binW must be positive")
    import org.apache.spark.sql.expressions.Window
    val p = graft.text.TextOps.HashP
    def idiv(c: org.apache.spark.sql.Column, d: Long): org.apache.spark.sql.Column =
      floor(c / d).cast("long")
    val adjRaw = parents.join(oidEdges, Seq("parent"))
    val adj =
      if (byInDegree) {
        // global in-degree (rows of the aggregated edge table =
        // distinct in-neighbors) as the child's weight
        val indeg = oidEdges.groupBy(col("child")).agg(count(lit(1)).as("w"))
        adjRaw.select(col("parent"), col("child")).distinct()
          .join(indeg, Seq("child"))
      } else
        adjRaw.groupBy(col("parent"), col("child"))
          .agg(sum(col("weight")).cast("long").as("w"))
    // RANGE-bucket the child hash (sub = hash div ceil(p/S)) so that
    // (sub asc, hash asc) IS the global (hash, child) order: the layout
    // — and therefore the sample — is independent of subBuckets, which
    // stays a purely physical sharding knob (the % form would bake the
    // bucket count into the semantics)
    val bsize = (p + subBuckets - 1) / subBuckets
    val a2 = adj.where(col("w") > 0)
      .withColumn("ph", graft.text.TextOps.portableHash(col("child")))
      .withColumn("sub", idiv(col("ph"), bsize))
    val st = a2.groupBy(col("parent"), col("sub")).agg(sum(col("w")).as("bt"))
    val offs = st.withColumn("boff",
      sum(col("bt")).over(Window.partitionBy(col("parent")).orderBy(col("sub"))) - col("bt"))
      .select(col("parent"), col("sub"), col("boff"))
    val wIn = Window.partitionBy(col("parent"), col("sub")).orderBy(col("ph"), col("child"))
    val cum = a2.join(offs, Seq("parent", "sub"))
      .withColumn("lo", col("boff") + sum(col("w")).over(wIn) - col("w"))
      .select(col("parent"), col("child"), col("lo"), (col("lo") + col("w")).as("hi"))
    val tot = st.groupBy(col("parent")).agg(sum(col("bt")).as("tw"))
    val draws = tot
      .select(col("parent"), col("tw"),
        explode(sequence(lit(0), lit(f - 1))).as("slot"))
      .withColumn("u", Hll.mix(
        (graft.text.TextOps.portableHash(col("parent")) * 31L + lit(salt) +
          col("slot").cast("long") * 104729L) % p) % col("tw"))
    val bins = cum.select(col("parent"), col("child"), col("lo"), col("hi"),
      explode(sequence(idiv(col("lo"), binW.toLong),
        idiv(col("hi") - 1, binW.toLong))).as("bin"))
    draws.withColumn("bin", idiv(col("u"), binW.toLong))
      .join(bins, Seq("parent", "bin"))
      .where(col("u") >= col("lo") && col("u") < col("hi"))
      .select(col("parent"), col("slot"), col("child"))
  }
}
