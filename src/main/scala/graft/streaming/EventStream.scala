package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.graph.{GraphBuilder, LinkGraph}
import graft.ingest.SnapshotStore
import graft.schema.Edge

/** Streaming/incremental surface.
  *
  * The reference has no streaming dataflow — its "realtime" story is
  * groot's snapshot-ID-versioned batch-atomic writes
  * (`docs/persistent_graph_store.rst:9,310-350`) — so this module offers
  * both shapes:
  *
  *  - [[windowedEventCounts]]: a Structured Streaming windowed
  *    aggregation over the events stream (watermark + tumbling window),
  *    the standard Spark-native continuous-ingest operator;
  *  - [[appendConversations]]: groot-style incremental maintenance —
  *    append a batch of *whole conversations*, derive their edges, merge
  *    the weighted edge counts with the current snapshot and commit a new
  *    version (append granularity is whole conversations because reply
  *    edges are windows within a conversation; cross-batch conversations
  *    would need per-conv tail state).
  */
object EventStream {

  /** Tumbling-window counts per event type with a watermark; works for
    * both batch and streaming DataFrames (same plan — run it off
    * `readStream` for continuous mode).
    */
  def windowedEventCounts(
      events: DataFrame,
      windowLen: String = "1 hour",
      watermark: String = "2 hours"
  ): DataFrame =
    events
      .withColumn("ts", col("ts").cast("timestamp")) // parquet NTZ → event time
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total"))
      .select(col("window.start").as("win_start"), col("event_type"), col("n"), col("total"))

  /** Per-user session aggregation with the Catalyst-native
    * `session_window` (gap-based merging inside the aggregate — no
    * custom state): one row per (user, maximal event run with
    * inter-event gaps < `gap`). Works identically for batch and
    * streaming inputs; in streaming the watermark closes sessions.
    */
  def sessionWindows(
      events: DataFrame,
      gap: String = "30 minutes",
      watermark: String = "2 hours"
  ): DataFrame =
    events
      .withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", watermark)
      .groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("total_value"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("n_events"), col("total_value"))

  final case class SessionEvent(user_id: Long, ts: java.sql.Timestamp, value: Double)
  final case class SessionBuf(events: List[(Long, Double)])
  final case class UserSession(
      user_id: Long, session_start: java.sql.Timestamp,
      n_events: Long, total_value: Double)

  /** The same sessionization through the CUSTOM-STATE surface —
    * `flatMapGroupsWithState` with an event-time timeout (the
    * KeyValueGroupedDataset analog of the reference's stateful-UDF
    * plane). Arrived events buffer in per-user state; a gap-split run is
    * emitted only once it is WATERMARK-SAFE — watermark ≥ run end + gap
    * — because until then an out-of-order event still inside the
    * watermark could land within the closing gap and extend or re-split
    * the run (emitting "closed-by-later-arrival" runs eagerly produced
    * overlapping duplicate sessions exactly in that case). Unsafe runs
    * stay in state; the event-time timeout re-fires at the earliest
    * end + gap so they drain as the watermark advances. Use
    * [[sessionWindows]] unless per-event custom logic is needed — the
    * aggregate form is codegen'd and cheaper.
    */
  def sessionizeStateful(
      events: DataFrame, gapMinutes: Int = 30, watermark: String = "2 hours"): Dataset[UserSession] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val gapMs = gapMinutes * 60000L

    // (closed runs in time order, trailing open run); runs split where
    // the inter-event gap reaches gapMs
    def split(evs: List[(Long, Double)]): (List[List[(Long, Double)]], List[(Long, Double)]) = {
      val sorted = evs.sortBy(_._1)
      if (sorted.isEmpty) return (Nil, Nil)
      val runs = sorted.foldLeft(List.empty[List[(Long, Double)]]) {
        case (Nil, e) => List(List(e))
        case (cur :: done, e) =>
          if (e._1 - cur.head._1 >= gapMs) List(e) :: cur :: done
          else (e :: cur) :: done
      }
      (runs.tail.map(_.reverse).reverse, runs.head.reverse)
    }

    def emit(uid: Long, run: List[(Long, Double)]): UserSession =
      UserSession(uid, new java.sql.Timestamp(run.head._1),
        run.size.toLong, run.map(_._2).sum)

    events
      .withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", watermark)
      .select(col("user_id"), col("ts"), col("value"))
      .as[SessionEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionBuf, UserSession](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (uid: Long, it: Iterator[SessionEvent], state: GroupState[SessionBuf]) =>
          val buffered = state.getOption.map(_.events).getOrElse(Nil)
          val all =
            if (state.hasTimedOut) buffered
            else buffered ::: it.map(e => (e.ts.getTime, e.value)).toList
          val wm = state.getCurrentWatermarkMs()
          val (closed, open) = split(all)
          val runs = closed ::: (if (open.nonEmpty) List(open) else Nil)
          // safe ⇔ no admissible event (ts ≥ watermark) can land inside
          // the run's closing gap: watermark ≥ run end + gap
          val (safe, unsafe) = runs.partition(r => r.last._1 + gapMs <= wm)
          if (unsafe.nonEmpty) {
            state.update(SessionBuf(unsafe.flatten))
            // earliest future safe point; > watermark by construction
            state.setTimeoutTimestamp(unsafe.map(_.last._1).min + gapMs)
          } else state.remove()
          safe.map(emit(uid, _)).iterator
      }
  }

  /** Merge newly-derived oid-space edges into the latest committed edge
    * snapshot; returns (merged edges in oid space, committed version).
    * The new turns' dense ids exist only for the relabel, so their
    * vertex table is dropped from the cache once the merge is written.
    */
  def appendConversations(
      spark: SparkSession,
      store: SnapshotStore,
      table: String,
      newTurns: DataFrame
  ): (DataFrame, Int) = {
    val g = GraphBuilder.fromTranscripts(newTurns)
    val newEdges = g.oidEdges()
    val current = store.latestVersion(table)
      .map(v => store.read(spark, table, v))
      .getOrElse(spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], newEdges.schema))
    val merged = current.unionByName(newEdges)
      .groupBy(col("src_oid"), col("dst_oid"))
      .agg(sum(col("weight")).as("weight"))
    val version =
      try store.write(table, merged, Map("appended_rows" -> newTurns.count().toDouble))
      finally g.vertices.unpersist()
    (store.read(spark, table, version), version)
  }

  final case class DegreeState(outDeg: Long, inDeg: Long)
  final case class VertexDegree(oid: String, out_deg: Long, in_deg: Long)

  /** Streaming per-vertex degree maintenance — the groot realtime write
    * path's query-while-ingesting view (`interactive_engine/groot`
    * realtime write → snapshot read): edge rows stream in as
    * `(src_oid, dst_oid)`; each micro-batch folds its per-vertex
    * contributions map-side, updates one small `(out, in)` counter per
    * vertex in `mapGroupsWithState`, and emits the vertex's refreshed
    * degree row (update mode). At scale the keyed state shards by
    * vertex across executors — no global structure, no watermark needed
    * (the counters are monotone).
    */
  def degreeStream(edges: DataFrame): org.apache.spark.sql.Dataset[VertexDegree] = {
    import edges.sparkSession.implicits._
    import org.apache.spark.sql.streaming.GroupStateTimeout
    edges
      .select(explode(array(
        struct(col("src_oid").as("oid"), lit(1L).as("outd"), lit(0L).as("ind")),
        struct(col("dst_oid").as("oid"), lit(0L).as("outd"), lit(1L).as("ind")))).as("c"))
      .select(col("c.oid"), col("c.outd"), col("c.ind"))
      .as[(String, Long, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState[DegreeState, VertexDegree](GroupStateTimeout.NoTimeout) {
        case (oid, rows, state) =>
          val (o, i) = rows.foldLeft((0L, 0L))((acc, r) => (acc._1 + r._2, acc._2 + r._3))
          val prev = state.getOption.getOrElse(DegreeState(0L, 0L))
          val nxt = DegreeState(prev.outDeg + o, prev.inDeg + i)
          state.update(nxt)
          VertexDegree(oid, nxt.outDeg, nxt.inDeg)
      }
  }

  final case class DedupSurvivor(fp: String, doc_id: Long)

  /** Streaming dedup at ingest — the data-prep counterpart of the groot
    * realtime write path: document rows stream in, each micro-batch keys
    * by the sorted-token fingerprint ([[graft.text.TextOps.normFingerprint]],
    * the same canonicalization [[graft.text.Dedup.normalized]] uses), and
    * a one-shot per-fingerprint state admits only the first-seen document
    * (min doc_id inside a batch; earliest batch across batches). Later
    * duplicates emit nothing, so the sink receives the deduplicated
    * corpus incrementally. When arrival order respects doc_id the
    * survivor set equals batch `Dedup.normalized`'s canonical set exactly
    * (spec-checked); under out-of-order arrival the earlier ARRIVAL wins
    * — the standard streaming-ingest semantics. At scale the keyed state
    * shards by fingerprint across executors; state is one long per
    * distinct document (bound it with a state-store TTL if the corpus is
    * unbounded).
    */
  def dedupIngestStream(docs: DataFrame): Dataset[DedupSurvivor] = {
    import docs.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    docs
      .select(graft.text.TextOps.normFingerprint(col("text")).as("fp"), col("doc_id"))
      .as[(String, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[Long, DedupSurvivor](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (fp, rows, state) =>
          if (state.exists) Iterator.empty
          else {
            val first = rows.map(_._2).min
            state.update(first)
            Iterator(DedupSurvivor(fp, first))
          }
      }
  }

  /** Rebuild the dense-id LinkGraph from a committed oid-edge snapshot
    * (incremental append + re-run, SURVEY.md §1.4).
    */
  def graphFromSnapshot(spark: SparkSession, store: SnapshotStore, table: String): LinkGraph = {
    import spark.implicits._
    val oe = store.readLatest(spark, table).map(_._2)
      .getOrElse(throw new IllegalStateException(s"no snapshot for $table"))
    val vs = graft.graph.Ids.denseRank(
      oe.select(col("src_oid").as("oid"))
        .unionAll(oe.select(col("dst_oid").as("oid"))), "oid")
      .select(col("id"), col("oid")).as[graft.schema.Vertex]
    val vsDf = vs.toDF
    val es = oe
      .join(vsDf.select(col("id").as("src"), col("oid").as("src_oid")), "src_oid")
      .join(vsDf.select(col("id").as("dst"), col("oid").as("dst_oid")), "dst_oid")
      .select(col("src"), col("dst"), col("weight")).as[Edge]
    LinkGraph(vs, es)
  }
}
