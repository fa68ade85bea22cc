package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.ingest.SnapshotStore
import graft.streaming.EventStream
import graft.synth.Synth

class StreamingSpec extends SparkSpec {

  test("windowed event counts: streaming result equals batch result") {
    val dir = "/root/testdata/sf0.001"
    val batch = spark.read.parquet(s"$dir/events.parquet")
    val expected = EventStream.windowedEventCounts(batch)
      .collect().map(r => (r.get(0).toString, r.getString(1), r.getLong(2))).toSet

    // file-stream sources need a directory; stage the events file alone
    val stage = Files.createTempDirectory("graft-evt")
    Files.copy(java.nio.file.Paths.get(s"$dir/events.parquet"),
      stage.resolve("events.parquet"))
    val stream2 = spark.readStream.schema(batch.schema)
      .format("parquet").load(stage.toString)
    val q = EventStream.windowedEventCounts(stream2)
      .writeStream.outputMode("complete")
      .format("memory").queryName("evt_counts")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val got = spark.table("evt_counts")
      .collect().map(r => (r.get(0).toString, r.getString(1), r.getLong(2))).toSet
    assert(got == expected)
    assert(stream2.isStreaming && got.nonEmpty)
  }

  test("session windows: streaming (append, watermark-closed) equals batch sessions") {
    val dir = "/root/testdata/sf0.001"
    val batch = spark.read.parquet(s"$dir/events.parquet")
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.get(1).toString, r.getLong(2), math.round(r.getDouble(3) * 10000))
    val allSessions = EventStream.sessionWindows(batch, gap = "30 minutes")
      .collect().map(key).toSet

    val stage = Files.createTempDirectory("graft-sess")
    Files.copy(java.nio.file.Paths.get(s"$dir/events.parquet"),
      stage.resolve("events.parquet"))
    val stream = spark.readStream.schema(batch.schema)
      .format("parquet").load(stage.toString)
    // watermark 0s: the final watermark reaches max(ts), so every
    // session except each user's open tail is emitted in append mode
    val q = EventStream.sessionWindows(stream, gap = "30 minutes", watermark = "0 seconds")
      .writeStream.outputMode("append")
      .format("memory").queryName("evt_sessions")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val got = spark.table("evt_sessions").collect().map(key).toSet
    assert(got.subsetOf(allSessions), "streamed session not present in batch result")
    // all but the per-user open tails must have closed: at least
    // (#sessions - #users) rows, and most users have >1 session here
    val nUsers = batch.select("user_id").distinct().count()
    assert(got.size >= allSessions.size - nUsers.toInt && got.nonEmpty)
  }

  test("stateful sessionization (flatMapGroupsWithState) matches session_window") {
    val dir = "/root/testdata/sf0.001"
    val batch = spark.read.parquet(s"$dir/events.parquet")
    val expected = EventStream.sessionWindows(batch, gap = "30 minutes")
      .collect()
      .map(r => (r.getLong(0), r.get(1).toString.substring(0, 19), r.getLong(2),
        math.round(r.getDouble(3) * 10000)))
      .toSet

    val stage = Files.createTempDirectory("graft-sess2")
    Files.copy(java.nio.file.Paths.get(s"$dir/events.parquet"),
      stage.resolve("events.parquet"))
    val stream = spark.readStream.schema(batch.schema)
      .format("parquet").load(stage.toString)
    val q = EventStream.sessionizeStateful(stream, gapMinutes = 30, watermark = "0 seconds")
      .toDF.writeStream.outputMode("append")
      .format("memory").queryName("evt_sessions_state")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val got = spark.table("evt_sessions_state").collect()
      .map(r => (r.getLong(0), r.get(1).toString.substring(0, 19), r.getLong(2),
        math.round(r.getDouble(3) * 10000)))
      .toSet
    // every custom-state session must be a session_window session; the
    // two surfaces implement the same gap semantics
    assert(got.subsetOf(expected), s"stateful session diverged: ${got.diff(expected).take(3)}")
    val nUsers = batch.select("user_id").distinct().count()
    assert(got.size >= expected.size - nUsers.toInt && got.nonEmpty)
  }

  test("stateful sessionization holds unsafe runs for late in-watermark arrivals") {
    // Scenario that made the eager-emit version produce OVERLAPPING
    // sessions: batch 1 has 10:00 and 11:00 (gap-closed run [10:00]);
    // batch 2 delivers a LATE 10:20 that is still inside the 45-minute
    // watermark and lands inside that closed gap; batch 3's 13:00 pushes
    // the watermark past both true sessions. Correct output: the merged
    // [10:00, 10:20] session and [11:00] — never a [10:00]-only or
    // [10:20]-only fragment.
    val s = spark
    import s.implicits._
    val stage = Files.createTempDirectory("graft-late")
    def ts(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 $h%02d:$m%02d:00")
    def stageBatch(n: Int, rows: Seq[(Long, java.sql.Timestamp, Double)]): Unit = {
      val tmp = Files.createTempDirectory(s"graft-late-w$n")
      rows.toDF("user_id", "ts", "value").coalesce(1)
        .write.mode("overwrite").parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).head
      val dst = stage.resolve(f"f$n%02d.parquet")
      Files.copy(part.toPath, dst)
      dst.toFile.setLastModified(1700000000000L + n * 60000L)
    }
    stageBatch(1, Seq((1L, ts(10, 0), 1.0), (1L, ts(11, 0), 2.0)))
    stageBatch(2, Seq((1L, ts(10, 20), 4.0))) // late, above the watermark
    stageBatch(3, Seq((1L, ts(13, 0), 8.0))) // advances the watermark past both sessions
    val stream = spark.readStream
      .schema(org.apache.spark.sql.types.StructType.fromDDL(
        "user_id BIGINT, ts TIMESTAMP, value DOUBLE"))
      .option("maxFilesPerTrigger", 1)
      .format("parquet").load(stage.toString)
    val q = EventStream.sessionizeStateful(stream, gapMinutes = 30, watermark = "45 minutes")
      .toDF.writeStream.outputMode("append")
      .format("memory").queryName("evt_sessions_late")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val got = spark.table("evt_sessions_late").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2), r.getDouble(3))).toSet
    assert(got == Set(
      (1L, ts(10, 0), 2L, 5.0), // late 10:20 merged into the 10:00 run
      (1L, ts(11, 0), 1L, 2.0)),
      s"got $got")
  }

  test("incremental conversation append maintains edge counts across snapshots") {
    val store = new SnapshotStore(Files.createTempDirectory("graft-stream").toString)
    val all = Synth.transcripts(spark, 0.0001).toDF.persist()
    val batch1 = all.where(col("conv_id") < "c00000100")
    val batch2 = all.where(col("conv_id") >= "c00000100")

    val (_, v1) = EventStream.appendConversations(spark, store, "oid_edges", batch1)
    val (merged, v2) = EventStream.appendConversations(spark, store, "oid_edges", batch2)
    assert(v1 == 0 && v2 == 1)

    // merged incremental result == one-shot derivation over everything
    val oneShotGraph = graft.graph.GraphBuilder.fromTranscripts(all)
    val oneShot = oneShotGraph.oidEdges()
    val diff = merged.as("a").join(oneShot.as("b"), Seq("src_oid", "dst_oid"), "full_outer")
      .where(col("a.weight").isNull || col("b.weight").isNull ||
        col("a.weight") =!= col("b.weight"))
    assert(diff.count() == 0)
    oneShotGraph.vertices.unpersist()

    // and the rebuilt graph is usable by the algorithms
    val g = EventStream.graphFromSnapshot(spark, store, "oid_edges")
    assert(graft.algos.PageRank.run(g, graft.algos.PageRank.Config(0.85, 3)).count() == g.numVertices)
    all.unpersist()
  }

  test("streaming degree maintenance: final state equals batch degrees across micro-batches") {
    val s = spark
    import s.implicits._
    // two micro-batches of edge arrivals (maxFilesPerTrigger=1)
    val b1 = Seq(("a", "b"), ("a", "c"), ("b", "c")).toDF("src_oid", "dst_oid")
    val b2 = Seq(("c", "a"), ("a", "b"), ("d", "a")).toDF("src_oid", "dst_oid")
    val stage = Files.createTempDirectory("graft-deg")
    b1.coalesce(1).write.parquet(stage.resolve("f1").toString)
    b2.coalesce(1).write.parquet(stage.resolve("f2").toString)
    val stream = spark.readStream.schema(b1.schema)
      .option("maxFilesPerTrigger", 1)
      .format("parquet").load(stage.toString + "/*/")
    val q = EventStream.degreeStream(stream)
      .writeStream.outputMode("update")
      .format("memory").queryName("deg_stream")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    // update mode re-emits a vertex's row each batch it changes; the
    // counters are monotone, so max per vertex = final state
    val got = spark.table("deg_stream")
      .groupBy("oid").agg(max("out_deg").as("o"), max("in_deg").as("i"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val batch = b1.unionAll(b2)
    val expect = batch.select(col("src_oid").as("oid")).groupBy("oid").count()
      .join(batch.select(col("dst_oid").as("oid")).groupBy("oid").count()
        .withColumnRenamed("count", "ic"), Seq("oid"), "full_outer")
      .collect().map(r => r.getString(0) ->
        (if (r.isNullAt(1)) 0L else r.getLong(1), if (r.isNullAt(2)) 0L else r.getLong(2))).toMap
    assert(got == expect)
    assert(got("a") == (3L, 2L) && got("c") == (1L, 2L))
  }

  test("streaming ingest dedup: survivors equal batch normalized dedup across micro-batches") {
    val s = spark
    import s.implicits._
    val b1 = Seq(
      (1L, "the quick brown fox"),
      (2L, "The QUICK brown fox!"), // norm dup of 1, same batch
      (3L, "completely different text")
    ).toDF("doc_id", "text")
    val b2 = Seq(
      (4L, "quick the fox brown"), // norm dup of 1, later batch
      (5L, "completely different text"), // dup of 3, later batch
      (6L, "a genuinely new document")
    ).toDF("doc_id", "text")
    val stage = Files.createTempDirectory("graft-dedup")
    b1.coalesce(1).write.parquet(stage.resolve("f1").toString)
    b2.coalesce(1).write.parquet(stage.resolve("f2").toString)
    val stream = spark.readStream.schema(b1.schema)
      .option("maxFilesPerTrigger", 1)
      .format("parquet").load(stage.toString + "/*/")
    val q = EventStream.dedupIngestStream(stream)
      .writeStream.outputMode("append")
      .format("memory").queryName("dedup_stream")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val got = spark.table("dedup_stream").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    // arrival order respects doc_id here, so the streaming survivor set
    // is exactly the batch Dedup.normalized canonical set
    val batchCanon = graft.text.Dedup.normalized(b1.unionAll(b2), "doc_id", "text")
      .select("canonical_id").distinct().collect().map(_.getLong(0)).toSet
    assert(got == batchCanon)
    assert(got == Set(1L, 3L, 6L))
  }
}
