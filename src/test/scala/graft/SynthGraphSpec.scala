package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.graph.{GraphBuilder, Ids, PropertyGraph}
import graft.ingest.SnapshotStore
import graft.synth.Synth

/** Synthesizer determinism, the derivation invariants, dense-id
  * assignment, and the north rule's per-turn text-equality invariant
  * through a snapshot round-trip.
  */
class SynthGraphSpec extends SparkSpec {

  private val sf = 0.0001 // 200 conversations

  test("columnar generator equals the row-wise reference exactly") {
    val a = Synth.transcripts(spark, sf).toDF
    val b = Synth.transcriptsRowWise(spark, sf).toDF
    val diff = a.as("a").join(b.as("b"), Seq("conv_id", "turn_idx"), "full_outer")
      .where(
        !(col("a.role") <=> col("b.role")) || !(col("a.text") <=> col("b.text")) ||
          !(col("a.tool") <=> col("b.tool")) || !(col("a.ts") <=> col("b.ts")))
    assert(diff.count() == 0)
    assert(a.count() == b.count())
  }

  test("synth is deterministic and respects the input_hint schema") {
    val a = Synth.transcripts(spark, sf).toDF
    assert(a.schema.fieldNames.toSeq ==
      Seq("conv_id", "turn_idx", "role", "text", "tool", "ts"))
    val c1 = a.count()
    val c2 = Synth.transcripts(spark, sf).count()
    assert(c1 == c2 && c1 > 200)
    // stable (conv_id, turn_idx) ordering → stable fingerprint
    def fp() = Synth.transcripts(spark, sf).toDF
      .orderBy("conv_id", "turn_idx")
      .select(hash(col("conv_id"), col("turn_idx"), col("role"), col("text"), col("tool")))
      .agg(sum(col("hash(conv_id, turn_idx, role, text, tool)").cast("long"))).head().getLong(0)
    assert(fp() == fp())
  }

  test("turn_idx is contiguous per conversation and roles alternate") {
    val t = Synth.transcripts(spark, sf).toDF
    val bad = t.groupBy("conv_id")
      .agg(count(lit(1)).as("n"), max(col("turn_idx")).as("mx"), min(col("turn_idx")).as("mn"))
      .where(col("mn") =!= 0 || col("mx") =!= col("n") - 1)
      .count()
    assert(bad == 0)
    // odd turns are mostly assistant (strict alternation minus ~1/6
    // deterministic interjections — see Synth.isAssistant)
    val odd = t.where(col("turn_idx") % 2 === 1)
    val oddAssistant = odd.where(col("role").like("assistant%")).count()
    assert(oddAssistant > odd.count() / 2)
    val evenAssistant = t.where(col("turn_idx") % 2 === 0 && col("role").like("assistant%")).count()
    assert(evenAssistant == 0)
    // tool result turns always name a tool
    assert(t.where(col("role") === "tool" && col("tool").isNull).count() == 0)
  }

  test("per-turn text equality survives snapshot round-trip (north rule)") {
    val dir = Files.createTempDirectory("graft-snap").toString
    val store = new SnapshotStore(dir)
    val t = Synth.transcripts(spark, sf).toDF
    val v = store.write("transcripts", t, Map("sf" -> sf))
    val back = store.read(spark, "transcripts", v)
    // equality under stable (conv_id, turn_idx) ordering: anti-join both ways
    val joined = t.as("a").join(back.as("b"), Seq("conv_id", "turn_idx"), "full_outer")
      .where(col("a.text").isNull || col("b.text").isNull || col("a.text") =!= col("b.text"))
    assert(joined.count() == 0)
    assert(store.readManifest("transcripts", v).rows == t.count())
  }

  test("dense ids are a 0-based contiguous rank by oid order") {
    val df = spark.range(0, 1000).selectExpr("concat('k', lpad(cast(id as string), 6, '0')) as k")
      .unionAll(spark.range(0, 500).selectExpr("concat('k', lpad(cast(id as string), 6, '0')) as k"))
    val ranked = Ids.denseRank(df, "k", 7).collect().map(r => (r.getLong(0), r.getString(1)))
    assert(ranked.length == 1000)
    val sorted = ranked.sortBy(_._2)
    sorted.zipWithIndex.foreach { case ((id, _), i) => assert(id == i.toLong) }
  }

  test("edge derivation: no self loops, weights are occurrence counts") {
    val t = Synth.transcripts(spark, sf).toDF
    val g = GraphBuilder.fromTranscripts(t)
    assert(g.edges.where(col("src") === col("dst")).count() == 0)
    val totalW = g.edges.agg(sum("weight")).head().getDouble(0)
    // reply links: turns-per-conv minus 1 each, minus dropped self loops
    // (none by construction) + one invocation link per tool-invoking
    // assistant turn.
    val turns = t.count()
    val convs = t.select("conv_id").distinct().count()
    val invokes = t.where(col("role").like("assistant%") && col("tool").isNotNull).count()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("conv_id")).orderBy(col("turn_idx"))
    val selfLoops = t.select(GraphBuilder.oidOfTurn.as("oid"), col("conv_id"), col("turn_idx"))
      .withColumn("prev", lag(col("oid"), 1).over(w))
      .where(col("prev") === col("oid")).count()
    assert(totalW == (turns - convs + invokes - selfLoops).toDouble)
    assert(selfLoops > 0, "fixture should exercise the self-loop drop")
    // hub skew fixture: assistant is a mega-hub
    val deg = g.degrees
    val assistantDeg = deg.where(col("oid") === "assistant").select("out_deg").head().getLong(0)
    assert(assistantDeg > 10)
  }

  test("derivation is identical on both sides of the broadcast size guard") {
    val t = Synth.transcripts(spark, sf).toDF
    // forced-low threshold → every oid-map join degrades to a shuffle join
    val shuffled = GraphBuilder.fromTranscripts(t, broadcastMaxVertices = 1L)
    val broadcasted = GraphBuilder.fromTranscripts(t)
    assert(shuffled.edges.count() == broadcasted.edges.count())
    val diff = shuffled.edges.toDF.as("a")
      .join(broadcasted.edges.toDF.as("b"), Seq("src", "dst"), "full_outer")
      .where(!(col("a.weight") <=> col("b.weight")))
    assert(diff.count() == 0)
    assert(shuffled.vertices.count() == broadcasted.vertices.count())
    val pShuffled = PropertyGraph.fromTranscripts(t, broadcastMaxVertices = 1L)
    val pBroadcasted = PropertyGraph.fromTranscripts(t)
    assert(pShuffled.edges.count() == pBroadcasted.edges.count())
    val pDiff = pShuffled.edges.as("a")
      .join(pBroadcasted.edges.as("b"), Seq("src", "dst", "label"), "full_outer")
      .where(!(col("a.weight") <=> col("b.weight")))
    assert(pDiff.count() == 0)
    assert(pShuffled.vertices.exceptAll(pBroadcasted.vertices).count() == 0 &&
      pShuffled.vertices.count() == pBroadcasted.vertices.count())
  }

  test("degrees and undirected edge set are consistent") {
    val g = graphFrom(5, Seq((0, 1), (1, 0), (1, 2), (3, 1)))
    val und = g.undirectedEdges.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(und == Set((0L, 1L), (1L, 2L), (1L, 3L)))
    val d = g.degrees.collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3)))).toMap
    assert(d(1L) == ((2L, 2L)))
  }

  test("pagerank resumes from a checkpoint to the exact uninterrupted result") {
    import graft.engine.CheckpointConfig
    import graft.algos.PageRank
    val g = GraphBuilder.fromTranscripts(Synth.transcripts(spark, sf).toDF)
    val straight = PageRank.run(g, PageRank.Config(maxIter = 10))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // phase 1: run 5 iterations, checkpointing every superstep
    val dir = Files.createTempDirectory("graft-pr-ckpt").toString
    val ckpt = Some(CheckpointConfig(new SnapshotStore(dir), "pr", every = 1))
    PageRank.run(g, PageRank.Config(maxIter = 5), ckpt = ckpt)
    // phase 2: a fresh invocation resumes at iter 5 from the manifest
    // (iter/base/dsum metrics + contribution state) and finishes 10
    val resumed = PageRank.run(g, PageRank.Config(maxIter = 10), ckpt = ckpt)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(resumed.keySet == straight.keySet)
    assert(straight.forall { case (id, r) => math.abs(resumed(id) - r) < 1e-12 })
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("wcc resumes from a checkpoint to the identical fixpoint") {
    import graft.engine.CheckpointConfig
    import graft.algos.WCC
    val g = GraphBuilder.fromTranscripts(Synth.transcripts(spark, sf).toDF)
    val straight = WCC.run(g)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dir = Files.createTempDirectory("graft-wcc-ckpt").toString
    val ckpt = Some(CheckpointConfig(new SnapshotStore(dir), "wcc", every = 1))
    WCC.run(g, maxIter = 3, ckpt = ckpt)
    // the resumed frontier restarts dense (full state) but HashMin is
    // monotone and idempotent, so the fixpoint is EXACTLY equal
    val resumed = WCC.run(g, ckpt = ckpt)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(resumed == straight)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("snapshot store resume: latest version readable after partial work") {
    val dir = Files.createTempDirectory("graft-snap2").toString
    val store = new SnapshotStore(dir)
    import spark.implicits._
    store.write("t", Seq((1L, 0.5)).toDF("id", "rank"), Map("iter" -> 0.0))
    store.write("t", Seq((1L, 0.6)).toDF("id", "rank"), Map("iter" -> 1.0))
    assert(store.latestVersion("t").contains(1))
    val m = store.readManifest("t", 1)
    assert(m.metrics("iter") == 1.0 && m.parent == 0 && m.files.nonEmpty)
    assert(store.read(spark, "t", 1).head().getDouble(1) == 0.6)
  }
}
