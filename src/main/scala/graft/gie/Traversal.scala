package graft.gie

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.engine.{Adjacency, AdjacencyIndex, Engine, Pregel, VertexIndex}
import graft.graph.{LinkGraph, PropertyGraph}

/** Graph handle for the traversal plane. Plain graphs come from
  * [[LinkGraph]] (vertices `(id, oid)`, edges `(src, dst, weight)` with
  * per-pair weights merged); labeled graphs from the multi-label
  * [[PropertyGraph]] (vertices carry `label`, edges carry `label` with
  * per-(pair,label) weights — so an unfiltered expand over a labeled
  * graph yields one traverser per labeled edge, the union-of-label-
  * tables semantics of the reference's multi-label expand,
  * `arrow_projected_fragment.h:339-444`). Label-aware steps
  * ([[Traversal.hasLabel]], label-filtered expands) require `labeled`.
  */
final case class GGraph private[gie] (
    vertices: DataFrame, edges: DataFrame, labeled: Boolean, adjacency: Adjacency) {

  /** The edges of `labels` (all edges when empty). The reference's
    * QueryParams.tables is a label LIST — an expand over several labels
    * is the union of the label tables, expressed as one IN predicate on
    * the (label-partitioned at scale) edge scan.
    */
  private[gie] def edgesOf(labels: Seq[String]): DataFrame =
    if (labels.isEmpty) edges
    else {
      require(labeled,
        s"out/in/both/outE(${labels.mkString("'", "','", "'")}) requires a labeled (property) graph")
      edges.where(col("label").isin(labels: _*))
    }

  /** The index of `labels`' edges, or None over the broadcast threshold. */
  private[gie] def edgeIndex(labels: Seq[String]): Option[AdjacencyIndex] =
    adjacency.index(labels)(edgesOf(labels))

  /** The vertex-property index, or None when the vertex or the edge
    * table is over the broadcast threshold or the vertex table carries
    * more than `id`, `oid` and `label`.
    */
  private[gie] def vertexIndex: Option[VertexIndex] =
    if (vertices.columns.toSet.subsetOf(Set("id", "oid", "label"))) adjacency.vertices(vertices, edges)
    else None
}

object GGraph {
  def apply(g: LinkGraph): GGraph =
    GGraph(g.vertices.toDF, g.edges.toDF, labeled = false, Adjacency.of(g))
  def apply(pg: PropertyGraph): GGraph =
    GGraph(pg.vertices, pg.edges, labeled = true, Adjacency.of(pg))
}

private[gie] object GGraphOps {
  /** Simple-graph view for whole-graph algorithm steps: a labeled edge
    * table merges per-(pair, label) weights (PropertyGraph.flatten
    * semantics); a plain one passes through.
    */
  def linkView(g: GGraph): LinkGraph =
    if (g.labeled) PropertyGraph(g.vertices, g.edges).flatten
    else {
      val spark = g.vertices.sparkSession
      import spark.implicits._
      LinkGraph(
        g.vertices.select(col("id"), col("oid")).as[graft.schema.Vertex],
        g.edges.select(col("src"), col("dst"), col("weight")).as[graft.schema.Edge])
    }
}

/** Composable GIE-style traversal algebra over a [[GGraph]] — the
  * Spark-native restatement of the reference's IR dataflow operators
  * (`research/query_service/ir/proto/algebra.proto`): Scan (:196),
  * Select (:42), EdgeExpand OUT/IN/BOTH (:254), GetV (:216), Auxilia
  * (:247), As (:236), PathExpand (:287), ShortestPathExpand (:302),
  * Apply-SEMI/ANTI (:330), Dedup (:135), OrderBy+limit ⇒ TopK
  * (:116,131), GroupBy count (:79). A traversal is a DataFrame of
  * *traversers* — one row per active traverser, multiplicity preserved
  * (so `.out().out().groupCount` counts paths, as Gremlin does) — and
  * every step lowers to declarative Dataset ops that Catalyst plans
  * (filter pushdown into the vertex scan, broadcast/shuffle join
  * selection, partial aggregation).
  *
  * Columns: `__v` = current vertex id; user tags via [[as_]]; `__hops`
  * after a path expansion; `oid` after [[auxilia]] (property fetch).
  *
  * While the graph's indexes fit under the broadcast threshold
  * ([[graft.engine.Adjacency]]), vertex moves and edge-positioned
  * expands explode an index lookup, and property filters and fetches
  * read a lookup column: the map/flatMap operators of the reference's
  * in-memory store. Over it, each lowers to the equi-join it replaces.
  * `ordering` is the sort order a following limit/range keeps, so a
  * sink-side decode join can restore it.
  */
final class Traversal private[gie] (
    g: GGraph, val df: DataFrame, private[gie] val track: Boolean = false,
    private[gie] val sideEffects: Map[String, DataFrame] = Map.empty,
    ordering: Seq[Column] = Nil) {

  private def next(d: DataFrame) = new Traversal(g, d, track, sideEffects)
  private def nextOrdered(d: DataFrame, o: Seq[Column]) = new Traversal(g, d, track, sideEffects, o)

  /** Switch on step-level path tracking (TinkerPop `path()` used as a
    * mid-chain step, reference `PathTreeNode.java:39`): `__path` starts
    * as [current vertex] and every vertex expansion APPENDS the new
    * position, so `path().count(local)` (the LDBC CR-1 distance idiom)
    * reads `size(__path)` per traverser. Ids-only arrays ride the
    * shuffles — the sink decodes ([[pathOids]] policy). Tracked
    * expansions: out/in/both (vertex moves); edge-positioned and range
    * expands manage their own path forms.
    */
  def trackPaths(): Traversal =
    new Traversal(g, df.withColumn("__path", array(col("__v"))), true, sideEffects)

  /** Same-graph traversal over a transformed frame (front-end plumbing,
    * e.g. the project() modulator chain).
    */
  private[gie] def mapFrame(f: DataFrame => DataFrame): Traversal = next(f(df))

  /** Initialize the per-traverser sack (TinkerPop `withSack(init)`; the
    * reference's traverser-local accumulator plane). The sack rides the
    * traverser as a plain `__sack` column — it survives every expansion
    * ([[carried]] drops only stale fetched properties), costs zero
    * shuffles, and folds via codegen'd column arithmetic.
    */
  def withSack(init: Double): Traversal =
    next(df.withColumn("__sack", lit(init)))

  /** Fold a value into the sack (`sack(Operator.X).by(field)`):
    * `sum`/`minus`/`mult`/`div`/`assign` over the traverser's current
    * field (edge-positioned `weight` = `__w`). Pure row-local math.
    */
  def sackBy(op: String, field: String): Traversal = {
    require(df.columns.contains("__sack"), "sack() requires withSack(init)")
    val v = if (field == "weight" && df.columns.contains("__w")) col("__w") else col(field)
    val folded = op match {
      case "sum" => col("__sack") + v
      case "minus" => col("__sack") - v
      case "mult" => col("__sack") * v
      case "div" => col("__sack") / v
      case "assign" => v
      case other => throw new IllegalArgumentException(s"unsupported sack operator: $other")
    }
    next(df.withColumn("__sack", folded))
  }

  /** Terminal `sack()`: project the accumulated sack per traverser. */
  def sackValue(): DataFrame = df.select(col("__sack").as("sack"))

  /** Eager side-effect collection (TinkerPop `aggregate(tag)`; the
    * MaxGraph FoldStore accumulator, `unarystep/aggregate.rs:29-815`):
    * the current traverser positions fold into a BULK SET — one
    * materialized `(id, bulk)` row per distinct vertex, so the step is
    * a barrier exactly as in the reference — keyed by `tag` for later
    * steps: `where(P.within/without(tag))` prunes by membership,
    * `cap(tag)` emits the set. Only bare ids cross the barrier; at any
    * scale the set is ≤|V| rows regardless of traverser multiplicity.
    */
  def aggregateTag(tag: String): Traversal = {
    val bulk = Engine.checkpoint(
      df.groupBy(col("__v").as("__agg_v")).agg(count(lit(1)).as("__bulk")))
    new Traversal(g, df, track, sideEffects + (tag -> bulk))
  }

  /** Lazy side-effect collection (TinkerPop `store(tag)` — the
    * unbarriered sibling of [[aggregateTag]], StoreStep): the bulk set
    * is recorded as a LAZY plan and only evaluated when `cap(tag)`
    * reads it. That matches store's lazy-visibility contract at the
    * supported read point (the cap sink, where lazy and eager
    * coincide); a mid-traversal `where(P.within(tag))` over a store
    * tag sees the full set here where TinkerPop would see a partial
    * one — documented subset, same family as the match() binding note.
    */
  def storeTag(tag: String): Traversal =
    new Traversal(g, df, track, sideEffects +
      (tag -> df.groupBy(col("__v").as("__agg_v")).agg(count(lit(1)).as("__bulk"))))

  /** Deterministic `coin(p)` (TinkerPop CoinStep): keep a traverser iff
    * the portable hash of its vertex oid falls under the integer
    * per-10000 threshold — the same resume-safe gate as
    * `TextOps.mixtureKeep`, never `rand()` (stage re-execution and
    * cluster size cannot change the draw). Co-located traversers share
    * fate (the gate is per-ELEMENT, not per-traverser — the
    * deterministic rendering of a sampling filter, like `sample(n)`'s
    * portable-pick policy).
    */
  def coin(p: Double): Traversal = {
    val aux = auxilia()
    next(aux.df.where(
      pmod(graft.text.TextOps.portableHash(col("oid")), lit(10000L)) <
        lit(math.round(p * 10000))))
  }

  /** `where(P.within(tag))` / `where(P.without(tag))` against an
    * [[aggregateTag]] side-effect set: a membership semi-/anti-join on
    * the bare vertex id (the classic visited-set expansion idiom
    * `out().aggregate('x').out().where(without('x'))`).
    */
  def whereWithinSet(tag: String): Traversal = setFilter(tag, "left_semi")
  def whereWithoutSet(tag: String): Traversal = setFilter(tag, "left_anti")
  private def setFilter(tag: String, how: String): Traversal =
    next(df.join(sideEffect(tag).select(col("__agg_v").as("__v")), Seq("__v"), how))

  /** Terminal `cap(tag)`: the collected side effect as `(oid, n)` — the
    * TinkerPop BulkSet rendered relationally (element + bulk).
    */
  def capSet(tag: String): DataFrame =
    sideEffect(tag)
      .join(g.vertices.select(col("id").as("__agg_v"), col("oid")), Seq("__agg_v"))
      .select(col("oid"), col("__bulk").as("n"))

  private def sideEffect(tag: String): DataFrame =
    sideEffects.getOrElse(tag, throw new IllegalArgumentException(
      s"no aggregate('$tag') side effect collected before use"))

  /** Select/IndexPredicate on the vertex properties (`algebra.proto:42,
    * 162`), `pred` naming them as vertex-table columns (`id`, `oid`,
    * `label`). On the vertex index it is a map-side filter over lookup
    * columns; over the threshold, a left-semi join against the
    * *filtered vertex scan*, so the predicate pushes down to the vertex
    * table.
    */
  def has(pred: Column): Traversal = g.vertexIndex match {
    case Some(ix) =>
      // bind each property under its own name; a frame column of that
      // name (a fetched oid, a tag) steps aside meanwhile
      val props = "id" +: ix.properties
      val aside = props.filter(df.columns.contains)
      val bound = aside.foldLeft(df)((d, c) => d.withColumnRenamed(c, s"__aside_$c"))
        .withColumns(props.map(p => p -> ix(p, col("__v"))).toMap)
        .where(pred).drop(props: _*)
      next(aside.foldLeft(bound)((d, c) => d.withColumnRenamed(s"__aside_$c", c)))
    case None =>
      next(df.join(
        g.vertices.where(pred).select(col("id").as("__v")),
        Seq("__v"), "left_semi"))
  }

  /** Gremlin `hasLabel(l, …)` — the per-label Scan/IndexPredicate of the
    * reference's labeled scan (`algebra.proto:196` QueryParams.tables):
    * the label predicate lands on the vertex table (at scale a
    * label-partitioned table, so this is partition pruning), then one
    * semi-join. Requires a labeled graph ([[GGraph]] from a
    * [[PropertyGraph]]).
    */
  def hasLabel(labels: String*): Traversal = {
    require(labels.nonEmpty, "hasLabel() needs at least one label")
    require(g.labeled, "hasLabel() requires a labeled (property) graph")
    has(col("label").isin(labels: _*))
  }

  /** Gremlin `hasId(id, …)` mid-traversal (the same global-id
    * IndexPredicate plane as the `g.V(ids)` source, `algebra.proto:162`
    * GlobalIdsScan — ids here are the user-visible oids): the id set
    * lands on the vertex scan, then one semi-join. Unknown ids match
    * nothing, as in TinkerPop.
    */
  def hasId(oids: String*): Traversal = {
    require(oids.nonEmpty, "hasId() needs at least one id")
    has(col("oid").isin(oids: _*))
  }

  /** Gremlin `hasNot(key)`: keep traversers whose element does NOT carry
    * the property. Our property surface is a closed schema (vertices
    * carry `oid` [+ `label` on labeled graphs]), so a key outside the
    * schema keeps every traverser and a schema key keeps only
    * null-valued rows — TinkerPop's semantics specialized to a total
    * schema.
    */
  def hasNot(key: String): Traversal =
    if (!g.vertices.columns.contains(key)) this
    else has(col(key).isNull)

  /** Gremlin `has(key)` existence form: a key outside the closed schema
    * filters every traverser out (TinkerPop semantics — never an
    * analysis error); a schema key keeps non-null rows.
    */
  def hasKey(key: String): Traversal =
    if (!g.vertices.columns.contains(key)) next(df.where(lit(false)))
    else has(col(key).isNotNull)

  /** TinkerPop `elementMap()` sink: id + the full property map of the
    * current vertex, rendered relationally — one row per traverser,
    * one column per schema property (`id`, `oid` [, `label`]).
    */
  def elementMap(): DataFrame = {
    val base = if (g.labeled) auxilia().auxiliaLabel() else auxilia()
    val cols = col("__v").as("id") +: col("oid") +:
      (if (g.labeled) Seq(col("label")) else Nil)
    base.df.select(cols: _*)
  }

  /** TinkerPop `properties(keys…)` (PropertiesStep,
    * `PropertiesTreeNode`): one `(key, value)` row per traverser per
    * requested schema property (all schema properties when no keys are
    * given), values rendered as strings so the row type is uniform.
    * Bag semantics — traverser multiplicity multiplies into the rows.
    */
  def propertiesRows(keys: Seq[String]): DataFrame = {
    val schema = if (g.labeled) Seq("oid", "label") else Seq("oid")
    val ks = if (keys.isEmpty) schema else keys.filter(schema.contains)
    require(ks.nonEmpty,
      s"properties(${keys.mkString(",")}) selects no schema property")
    val base = if (ks.contains("label")) auxilia().auxiliaLabel() else auxilia()
    val pairs = ks.map(k =>
      struct(lit(k).as("key"), col(k).cast("string").as("value")))
    base.df.select(explode(array(pairs: _*)).as("kv"))
      .select(col("kv.key").as("key"), col("kv.value").as("value"))
  }

  /** Arbitrary filter on the traverser frame (requires the referenced
    * columns, e.g. `oid` after [[auxilia]]).
    */
  def where(pred: Column): Traversal = next(df.where(pred))

  /** EdgeExpand OUT + GetV END (`algebra.proto:254,216`): one row per
    * (traverser, out-edge) — multiplicity = path count. Stale
    * per-vertex columns (oid/__hops) are dropped.
    */
  def out(): Traversal = expand("out", Nil)

  /** EdgeExpand IN + GetV START. */
  def in(): Traversal = expand("in", Nil)

  /** EdgeExpand BOTH. */
  def both(): Traversal = expand("both", Nil)

  /** Label-filtered EdgeExpand (`algebra.proto:254` QueryParams.tables —
    * the per-edge-label expand of the reference's labeled dataflow):
    * the label predicate lands on the edge scan (partition pruning on a
    * label-partitioned edge table at scale), then the same single hop
    * ([[hop]]). Requires a labeled graph.
    */
  def out(label: String, more: String*): Traversal = expand("out", label +: more)

  def in(label: String, more: String*): Traversal = expand("in", label +: more)

  def both(label: String, more: String*): Traversal = expand("both", label +: more)

  private def expand(dir: String, labels: Seq[String]): Traversal =
    next(pathAppend(hop(carried, dir, labels, hopRel(dir, labels))
      .withColumn("__v", col("__to")).drop("__to")))

  /** The frame `d` with each row repeated once per edge row leaving its
    * `__v` along `dir` (out/in/both) over `labels`' edges (all edges when
    * empty), the neighbour as `__to`; columns `(__v, d's others, __to)`.
    * While the edge side is small enough for Catalyst to broadcast, the
    * hop reads the graph's adjacency index (an `explode` of a broadcast
    * CSR lookup: no join, no exchange, no per-query broadcast build);
    * otherwise it is an equi-join of `d` with the hop relation `rel`.
    */
  private def hop(d: DataFrame, dir: String, labels: Seq[String], rel: => DataFrame): DataFrame =
    g.edgeIndex(labels) match {
      case Some(ix) =>
        d.select((col("__v") +: d.columns.filter(_ != "__v").toSeq.map(col)) :+
          explode(ix.neighbours(dir, col("__v"))).as("__to"): _*)
      case None => d.join(rel, Seq("__v"))
    }

  /** Hop relation `(__v, __to)`, one row per edge row along `dir` — the
    * GIE EdgeExpand direction (`algebra.proto:254` Direction OUT/IN/BOTH).
    */
  private def hopRel(dir: String, labels: Seq[String]): DataFrame = {
    val e = g.edgesOf(labels)
    dir match {
      case "out" => e.select(col("src").as("__v"), col("dst").as("__to"))
      case "in" => e.select(col("dst").as("__v"), col("src").as("__to"))
      case "both" => hopRel("out", labels).unionAll(hopRel("in", labels))
      case other => throw new IllegalArgumentException(s"unknown expand direction: $other")
    }
  }

  /** In tracked mode, append the post-move position to `__path`. */
  private def pathAppend(d: DataFrame): DataFrame =
    if (track && d.columns.contains("__path"))
      d.withColumn("__path", concat(col("__path"), array(col("__v"))))
    else d

  /** Traverser columns that survive an expansion (drop fetched props
    * and any stale edge position; a tracked `__path` survives — the
    * expansion appends to it).
    */
  private def carried: DataFrame = {
    val stale = Seq("oid", "label", "__hops", "path_str",
      "__src", "__w", "__elabel", "__other",
      "pageRank", "component", "communityLabel", "auth", "hub") ++
      (if (track) Seq.empty else Seq("__path"))
    stale.filter(df.columns.contains).foldLeft(df)((d, c) => d.drop(c))
  }

  /** EdgeExpand OUT keeping the edge position (`algebra.proto:254` with
    * EXPAND_EDGE): traverser moves to the edge's END vertex but carries
    * `__src` (start) and `__w` (weight property) — the GetV(END) +
    * edge-property Auxilia fusion. On a labeled graph the edge label
    * rides as `__elabel`.
    */
  def outE(): Traversal = next(edgeHop("out", Nil))

  /** Label-filtered edge-positioned expand. */
  def outE(label: String): Traversal = next(edgeHop("out", Seq(label)))

  /** EdgeExpand IN keeping the edge position (Gremlin `inE()`): the
    * traverser stays at the edge's END vertex (its own position) and
    * carries `__src` = the in-neighbor (the edge's START), so
    * `outV()`/`otherV()` jump upstream. Same representation as
    * [[outE]]: `__v` is always the edge END.
    */
  def inE(): Traversal = next(edgeHop("in", Nil))

  /** Label-filtered edge-positioned IN expand. */
  def inE(label: String): Traversal = next(edgeHop("in", Seq(label)))

  /** EdgeExpand BOTH keeping the edge position (Gremlin `bothE()`):
    * bag union of the OUT and IN edge frames — one traverser per
    * incident edge, `__other` marking the far endpoint for
    * [[otherV]] (TinkerPop `EdgeOtherVertexTreeNode`).
    */
  def bothE(): Traversal = next(edgeHop("out", Nil).unionByName(edgeHop("in", Nil)))

  /** Label-filtered edge-positioned BOTH expand. */
  def bothE(label: String): Traversal =
    next(edgeHop("out", Seq(label)).unionByName(edgeHop("in", Seq(label))))

  /** The edge-positioned frame of an OUT or IN expand over `labels`'
    * edges: one row per (traverser, edge row), `__v` the edge END,
    * `__src` its START, `__other` the far endpoint, `__w` the weight and
    * (labeled) `__elabel` the label. On the index it explodes the
    * vertex's [[AdjacencyIndex.entries]]; over the threshold it joins
    * the edge table.
    */
  private def edgeHop(dir: String, labels: Seq[String]): DataFrame = {
    val d = carried
    val others = d.columns.filter(_ != "__v").toSeq.map(col)
    val elabel = if (g.labeled) Seq(col("__elabel")) else Nil
    val out = dir == "out"
    val shape = (if (out) (col("__v") +: others) ++ elabel :+ col("__w") :+ col("__src")
      else (col("__v") +: others :+ col("__src")) ++ elabel :+ col("__w")) :+ col("__other")
    val rows = g.edgeIndex(labels) match {
      case Some(ix) =>
        val e = d.select((col("__v") +: others) :+ explode(ix.entries(dir, col("__v"))).as("__e"): _*)
        val (here, far) = if (out) (col("__e.nbr"), col("__v")) else (col("__v"), col("__e.nbr"))
        e.select((here.as("__v") +: others) ++ Seq(far.as("__src"), col("__e.weight").as("__w"),
          col("__e.label").as("__elabel"), col("__e.nbr").as("__other")): _*)
      case None =>
        val e = g.edgesOf(labels).select((Seq(
          col(if (out) "src" else "dst").as("__v"), col(if (out) "dst" else "src").as("__far"),
          col("weight").as("__w")) ++ (if (g.labeled) Seq(col("label").as("__elabel")) else Nil)): _*)
        d.join(e, Seq("__v"))
          .withColumn("__src", if (out) col("__v") else col("__far"))
          .withColumn("__v", if (out) col("__far") else col("__v"))
          .withColumn("__other", col("__far"))
    }
    rows.select(shape: _*)
  }

  /** GetV(END) from an edge-positioned traverser (Gremlin `inV()`): the
    * traverser already sits at the edge's end — drop the edge columns.
    */
  def inV(): Traversal = next(df.drop("__src", "__w", "__elabel", "__other"))

  /** GetV(START) from an edge-positioned traverser (Gremlin `outV()`). */
  def outV(): Traversal =
    next(df.withColumn("__v", col("__src")).drop("__src", "__w", "__elabel", "__other"))

  /** GetV(OTHER) from an edge-positioned traverser (Gremlin `otherV()`,
    * TinkerPop `EdgeOtherVertexTreeNode`): move to the endpoint the
    * traverser did NOT come from — after `outE` that's the edge END,
    * after `inE` the START, and after `bothE` whichever side is remote
    * per edge (the `__other` marker laid down at expand time).
    */
  def otherV(): Traversal =
    next(df.withColumn("__v", col("__other")).drop("__src", "__w", "__elabel", "__other"))

  /** SegmentApply (`algebra.proto:341`): apply a ranking/limit
    * sub-operation *per segment* of traversers sharing `segCol` —
    * lowered to a Window (one hash exchange on the segment key), keeping
    * the top `n` per segment under `ordering`. The GIE runtime routes
    * each segment through the sub-plan; ranking/limit sub-plans are
    * exactly a window, so no per-segment iteration is needed.
    */
  def segmentTopK(segCol: String, n: Int, ordering: Column*): Traversal = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(segCol)).orderBy(ordering: _*)
    next(df.withColumn("__rn", row_number().over(w)).where(col("__rn") <= n).drop("__rn"))
  }

  /** As/tag (`algebra.proto:236`): stash the current vertex under `tag`. */
  def as_(tag: String): Traversal = next(df.withColumn(tag, col("__v")))

  /** GIE select-by-tag: jump the traverser back to a tagged vertex. */
  def back(tag: String): Traversal =
    next(carried.withColumn("__v", col(tag)))

  /** Auxilia (`algebra.proto:247`): fetch the oid property for the
    * current vertex (a lookup column on the vertex index, else a join
    * against the vertex table).
    */
  def auxilia(): Traversal = fetch("oid")

  /** Auxilia for the vertex `label` property (Gremlin `label()` on a
    * vertex-positioned traverser). Requires a labeled graph; an
    * edge-positioned traverser already carries its edge label as
    * `__elabel` (no fetch needed).
    */
  def auxiliaLabel(): Traversal = {
    require(g.labeled, "label() requires a labeled (property) graph")
    fetch("label")
  }

  private def fetch(p: String): Traversal = g.vertexIndex match {
    case Some(ix) => next(df.drop(p).withColumn(p, ix(p, col("__v"))))
    case None => next(df.drop(p).join(g.vertices.select(col("id").as("__v"), col(p)), Seq("__v")))
  }

  /** Dedup (`algebra.proto:135`) on the given keys (default: the
    * current vertex), projecting to those keys — deterministic.
    */
  def dedup(keys: String*): Traversal = {
    val ks = if (keys.isEmpty) Seq("__v") else keys
    next(df.select(ks.map(col): _*).distinct())
  }

  /** Dedup-by-key KEEPING the traverser row (TinkerPop `dedup().by(k)`,
    * reference `DedupTreeNode` with a by-modulator): one traverser per
    * distinct `k`, the survivor chosen deterministically — in tracked
    * mode the (shortest, lexicographically-smallest) path (so the LDBC
    * CR-1 `dedup().by('id')` keeps the MINIMUM-hop path per person,
    * which is what `path().count(local)` must read as the distance),
    * otherwise the minimum current vertex. Lowered as a groupBy+semi-join
    * pair (hub-safe, never a window over the key's group).
    */
  def dedupBy(k: String): Traversal = {
    val key =
      if (track && df.columns.contains("__path"))
        struct(size(col("__path")), col("__path"), col("__v"))
      else struct(col("__v"))
    val d2 = df.withColumn("__dk", key)
    val mins = d2.groupBy(col(k)).agg(min(col("__dk")).as("__dk"))
    next(d2.join(mins, Seq(k, "__dk"), "left_semi").drop("__dk").distinct())
  }

  /** RangeGlobal [lo, hi) over the (ordered) traverser stream
    * (`RangeGlobalTreeNode.java:31`, pegasus `dedup.rs:33-253` Range):
    * pagination — compose after [[ordered]] for a deterministic page.
    * Lowers to Offset+Limit (Catalyst folds them over the Sort).
    */
  def range(lo: Int, hi: Int): Traversal = {
    require(0 <= lo && lo < hi, "need 0 <= lo < hi")
    nextOrdered(df.offset(lo).limit(hi - lo), ordering)
  }

  /** Skip the first `n` traversers (Gremlin `skip(n)` = range(n, ∞)). */
  def skip(n: Int): Traversal = nextOrdered(df.offset(n), ordering)

  /** Last `n` traversers of the ordered stream (Gremlin `tail(n)`).
    * Needs the stream length — one count job (the reference's
    * RangeGlobal equally global-barriers to find the tail).
    */
  def tail(n: Int): Traversal = {
    val total = df.count()
    nextOrdered(df.offset(math.max(0, total - n).toInt), ordering)
  }

  /** The neighbours of each traverser's vertex along `dir` over
    * `labels`' edges as a per-row array column (one entry per edge row),
    * or None over the broadcast threshold: a correlated filter whose body
    * is this one move reads it instead of running a sub-plan.
    */
  private[gie] def neighbourList(dir: String, labels: Seq[String]): Option[Column] =
    g.edgeIndex(labels).map(_.neighbours(dir, col("__v")))

  /** The incident edge rows of each traverser's vertex along `dir` as a
    * per-row array of `(nbr, weight, label)` structs, or None over the
    * broadcast threshold (see [[neighbourList]]).
    */
  private[gie] def edgeList(dir: String, labels: Seq[String]): Option[Column] =
    g.edgeIndex(labels).map(_.entries(dir, col("__v")))

  private[gie] def labeled: Boolean = g.labeled

  /** Apply-SEMI (`algebra.proto:330`): keep traversers whose current
    * vertex has at least one result under the sub-traversal. Correlated
    * on the current vertex; the sub-traversal runs once over the
    * distinct vertex set (no per-row subquery).
    */
  def whereExists(f: Traversal => Traversal): Traversal = applySemi(f, "left_semi")

  /** Apply-ANTI: keep traversers with *no* sub-traversal result. */
  def whereNotExists(f: Traversal => Traversal): Traversal = applySemi(f, "left_anti")

  private def applySemi(f: Traversal => Traversal, how: String): Traversal = {
    val origin = next(df.select(col("__v")).distinct().withColumn("__origin", col("__v")))
    val hits = f(origin).df.select(col("__origin").as("__v")).distinct()
    next(df.join(hits, Seq("__v"), how))
  }

  /** Boolean combinator AND (reference `AndTreeNode.java` / expr AND,
    * `expr.proto:61-98`): keep traversers satisfying EVERY branch filter
    * — a chain of Apply-SEMI joins.
    */
  def whereAnd(fs: (Traversal => Traversal)*): Traversal = {
    require(fs.nonEmpty, "and() needs at least one branch")
    fs.foldLeft(this)((t, f) => t.whereExists(f))
  }

  /** Correlated count predicate (TinkerPop `where(sub.count().is(p))` —
    * LDBC q3's shape; the GIE compiler folds the scalar sub-query into
    * an Apply with a count accumulator): keep traversers whose
    * sub-traversal result count (distinct end-vertex count when
    * `distinctCount`, for a `dedup().count()` body) satisfies `pred`.
    * The body runs ONCE over the distinct origin set; the counts are one
    * map-side-combinable aggregate. Origins with ZERO results coalesce
    * to count 0 (a left join against the distinct origin set), so
    * zero-satisfiable predicates work — `count().is(0)` is the
    * reference's CR-4 "no prior use" anti-predicate
    * (`interactive-complex-4.gremlin:1`), equivalent to `not(<sub>)`
    * but in the published spelling.
    */
  def whereCountIs(
      f: Traversal => Traversal, distinctCount: Boolean, pred: Column): Traversal = {
    val hits = df.select(col("__v")).distinct()
      .join(originCounts(f, distinctCount), Seq("__v"), "left")
      .withColumn("__cnt",
        org.apache.spark.sql.functions.coalesce(col("__cnt"), lit(0L)))
      .where(pred).select(col("__v"))
    next(df.join(hits, Seq("__v"), "left_semi"))
  }

  /** Per-origin result counts for a correlated sub-traversal — the
    * shared lowering behind [[whereCountIs]] and the `project().by(
    * sub.count())` modulator: (__v, __cnt), one partial+final aggregate
    * over ONE run of the body on the distinct origin set. Origins with
    * no results are absent (callers left-join + coalesce to 0).
    */
  def originCounts(f: Traversal => Traversal, distinctCount: Boolean): DataFrame = {
    val origin = next(df.select(col("__v")).distinct().withColumn("__origin", col("__v")))
    f(origin).df.groupBy(col("__origin"))
      .agg((if (distinctCount) countDistinct(col("__v")) else count(lit(1))).as("__cnt"))
      .select(col("__origin").as("__v"), col("__cnt"))
  }

  /** Boolean combinator OR (`OrTreeNode.java`): keep traversers
    * satisfying ANY branch filter. Each branch runs once over the
    * distinct origin set; the hit sets union before one semi-join.
    */
  def whereOr(fs: (Traversal => Traversal)*): Traversal = {
    require(fs.nonEmpty, "or() needs at least one branch")
    val origin = next(df.select(col("__v")).distinct().withColumn("__origin", col("__v")))
    val hits = fs.map(f => f(origin).df.select(col("__origin").as("__v")))
      .reduce(_ unionAll _).distinct()
    next(df.join(hits, Seq("__v"), "left_semi"))
  }

  /** Condition-bounded repeat (pegasus `iterate_until(IterCondition)` /
    * `iterate_emit_until`, `research/engine/pegasus/pegasus/src/operator/
    * iteration/mod.rs:31-44`; compiler `RepeatTreeNode` with until/emit):
    * apply `body` up to `times` rounds; after each round, traversers
    * whose current vertex satisfies the `until` sub-traversal EXIT the
    * loop (and are output). With `emit`, every post-body traverser is
    * output once per round it is alive (the exit rounds included — no
    * double emission at exit, matching TinkerPop). Without `emit`,
    * output = the until-exits of each round plus the survivors when the
    * `times` bound is reached. The loop also ends when no traverser
    * survives. Each round's frame is materialized (flat lineage).
    *
    * Per-round cost: the `until` sub-traversal is evaluated exactly ONCE
    * — its hit set is materialized and BOTH the exit frame (semi-join)
    * and the survivor frame (anti-join) derive from the checkpointed
    * hits — and the survivor count is the round's only driver action
    * (the lazy checkpoints of body output, hits, and survivors all
    * compute under it). The pre-round-4 shape ran the until body twice
    * (whereExists + whereNotExists) and spent three actions per round,
    * roughly doubling the loop's join work at the times=50 guard bound.
    */
  def repeatUntil(
      body: Traversal => Traversal,
      until: Option[Traversal => Traversal],
      emit: Boolean,
      times: Int,
      emitFilter: Option[Traversal => Traversal] = None): Traversal = {
    require(times > 0, "repeat() needs a positive loop bound")
    var cur: Traversal = this
    val outFrames = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var round = 0
    var live = 1L
    // emit(<sub>) — TinkerPop's predicated emit: only traversers whose
    // vertex satisfies the sub-traversal are copied out mid-loop (the
    // until-exits and the final round output unfiltered, as in
    // RepeatStep: until halts first, emit applies to continuing
    // traversers). Evaluated like until — once over the distinct origin
    // set, then one semi-join.
    def emittedOf(frame: DataFrame): DataFrame = emitFilter match {
      case None => frame
      case Some(f) =>
        val origin = next(
          frame.select(col("__v")).distinct().withColumn("__origin", col("__v")))
        val ehits = f(origin).df.select(col("__origin").as("__v")).distinct()
        frame.join(ehits, Seq("__v"), "left_semi")
    }
    while (round < times && live > 0) {
      round += 1
      cur = next(Engine.checkpoint(body(cur).df))
      until match {
        case Some(u) if round < times =>
          val origin = next(
            cur.df.select(col("__v")).distinct().withColumn("__origin", col("__v")))
          val hits = Engine.checkpoint(
            u(origin).df.select(col("__origin").as("__v")).distinct())
          val exits = cur.df.join(hits, Seq("__v"), "left_semi")
          if (emit)
            outFrames += exits.unionAll(
              emittedOf(cur.df.join(hits, Seq("__v"), "left_anti")))
          else outFrames += exits
          cur = next(Engine.checkpoint(cur.df.join(hits, Seq("__v"), "left_anti")))
          live = cur.df.rdd.count()
          if (live == 0 && !emit) () // exit frame already captured above
        case _ =>
          // final round (times reached: every survivor exits) or pure
          // until-less emit loop — no split needed
          live = cur.df.rdd.count()
          if (live > 0) {
            if (round == times) outFrames += cur.df
            else if (emit) outFrames += emittedOf(cur.df)
          }
      }
    }
    if (outFrames.isEmpty) return next(df.limit(0).select(col("__v")))
    val common = outFrames.map(_.columns.toSet).reduce(_ intersect _)
    require(common.contains("__v"), "repeat() body must stay vertex-typed")
    val cols = outFrames.head.columns.filter(common.contains).toSeq.map(col)
    next(Engine.checkpoint(outFrames.map(_.select(cols: _*)).reduce(_ unionAll _)))
  }

  /** Weighted ShortestPathExpand (`algebra.proto:302` with the weight
    * property as the distance metric, vs [[shortestPathExpand]]'s
    * hop-count form): the [[graft.algos.SSSP.program]] relaxation from
    * the current traverser SET for at most `maxRounds` rounds — every
    * reachable vertex at its minimum total edge weight over all starts,
    * `__dist` (the start set itself at 0.0). It relaxes over the raw edge
    * rows, so a labeled graph's pair takes its lightest per-label row.
    */
  def weightedShortestPathExpand(maxRounds: Int = 64): Traversal = {
    val starts = df.select(col("__v").as("id"), lit(0.0).as("__d")).distinct()
    val dist = Pregel.run(
      g.vertices.select(col("id")).join(starts, Seq("id"), "left"),
      g.edges.select(col("src"), col("dst"), col("weight")),
      graft.algos.SSSP.program(col("__d"), maxRounds))
    next(dist.where(col("state").isNotNull).select(col("id").as("__v"), col("state").as("__dist")))
  }

  /** Declarative Pattern/match (`algebra.proto:350`; reference planner
    * `research/query_service/ir/core/src/plan/patmat.rs:76-889` —
    * `BaseSentence` per match sentence, `NaiveStrategy` composes them as
    * a left-deep join). Each sentence is (startTag, body, endTag): its
    * relation is evaluated ONCE over the full vertex scan (body must
    * stay vertex-typed), projected to the two tag columns, and the
    * sentence relations are joined left-deep on their shared tags,
    * COST-ORDERED: smallest relation first, then greedily the smallest
    * relation sharing a tag with the prefix (patmat.rs's cost idea over
    * NaiveStrategy's left-deep shape — its `get_score`/sentence-pick
    * loop; inner joins commute, so any connected order yields the same
    * bag while smallest-first keeps the intermediate frames minimal).
    * Each relation is materialized once — the cardinality probe and the
    * join reuse the same frame. The incoming traverser binds to the
    * FIRST sentence's start tag (bag join — traverser multiplicity
    * preserved), and that binding is PUSHED INTO sentence evaluation:
    * sentences starting at the bind tag expand from the traverser's
    * distinct vertex set instead of the full scan, and sentences ending
    * at it are semi-filtered by it — a no-op on the result (the final
    * inner join on the bind tag drops everything else anyway) that
    * prunes the expansion work and tightens the cost probes. The result
    * carries every tag as a column; [[back]] (Gremlin `select`) jumps
    * to any of them.
    */
  def matchPattern(sentences: Seq[(String, Traversal => Traversal, String)]): Traversal = {
    require(sentences.nonEmpty, "match() needs at least one sentence")
    val first = sentences.head._1
    val seed = Engine.checkpoint(df.select(col("__v")).distinct())
    val rels = sentences.map { case (a, body, b) =>
      require(a != b, s"match sentence must bind two distinct tags ($a, $b)")
      val start = if (a == first) new Traversal(g, seed) else G.V(g)
      val r = body(start.as_(a)).as_(b)
      val rel = r.df.select(col(a), col(b))
      Engine.checkpoint(
        if (b == first) rel.join(seed.select(col("__v").as(b)), Seq(b), "left_semi")
        else rel)
    }
    val order = G.planMatchOrder(rels.map(r => (r.columns.toSet, r.count())))
    val joined = order.map(rels).reduceLeft { (acc, r) =>
      val shared = acc.columns.toSet.intersect(r.columns.toSet).toSeq
      require(shared.nonEmpty, "match sentences must share a tag with the prefix join")
      acc.join(r, shared)
    }
    next(carried.withColumn(first, col("__v")).join(joined, Seq(first)))
  }

  /** Coalesce (TinkerPop `coalesce()`; the GIE compiler's branch plan
    * with early-out — per traverser, the FIRST branch producing any
    * result wins and contributes ALL its rows, later branches are never
    * consulted for that traverser). Lowered origin-correlated like
    * [[whereExists]]: branch k runs ONCE over the distinct origin
    * vertices still unresolved after branches 1..k-1 (no per-row
    * subquery); resolved origins leave the pool via one anti-join per
    * branch. The winning branch's rows bag-join back on the origin, so
    * incoming traverser multiplicity and tags are preserved.
    * `optional(f)` is `coalesce(f, identity)`.
    */
  def coalesce(fs: (Traversal => Traversal)*): Traversal = {
    require(fs.nonEmpty, "coalesce() needs at least one branch")
    var remaining = Engine.checkpoint(df.select(col("__v")).distinct())
    val pieces = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    fs.foreach { f =>
      if (!remaining.isEmpty) {
        val origin = new Traversal(g, remaining.withColumn("__origin", col("__v")))
        val res = Engine.checkpoint(f(origin).df)
        pieces += res
        remaining = Engine.checkpoint(remaining.join(
          res.select(col("__origin").as("__v")).distinct(), Seq("__v"), "left_anti"))
      }
    }
    if (pieces.isEmpty) return next(df.limit(0)) // empty incoming frame
    val common = pieces.map(_.columns.toSet).reduce(_ intersect _)
    require(common.contains("__v") && common.contains("__origin"),
      "coalesce branches must stay vertex-typed")
    val cols = pieces.head.columns.filter(common.contains).toSeq.map(col)
    val branchRows = pieces.map(_.select(cols: _*)).reduce(_ unionAll _)
    next(carried.withColumnRenamed("__v", "__origin")
      .join(branchRows, Seq("__origin")).drop("__origin"))
  }

  /** Optional (TinkerPop `optional()`): traversers with a branch result
    * take it; the rest pass through unchanged.
    */
  def optional(f: Traversal => Traversal): Traversal = coalesce(f, identity)

  /** Choose (TinkerPop `choose(pred, yes, no)` — the GIE compiler's
    * if-then-else branch plan): traversers whose current vertex
    * satisfies `pred` route through `yes`, the rest through `no`. The
    * predicate runs ONCE over the distinct origin set (same correlated
    * discipline as [[whereExists]]); the split is one semi + one anti
    * join and the branch outputs union with bag semantics.
    */
  def choose(
      pred: Traversal => Traversal,
      yes: Traversal => Traversal,
      no: Traversal => Traversal): Traversal = {
    val origin = next(df.select(col("__v")).distinct().withColumn("__origin", col("__v")))
    val hits = Engine.checkpoint(
      pred(origin).df.select(col("__origin").as("__v")).distinct())
    val branches = Seq(
      yes(next(df.join(hits, Seq("__v"), "left_semi"))).df,
      no(next(df.join(hits, Seq("__v"), "left_anti"))).df)
    val common = branches.map(_.columns.toSet).reduce(_ intersect _)
    require(common.contains("__v"), "choose branches must stay vertex-typed")
    val cols = branches.head.columns.filter(common.contains).toSeq.map(col)
    next(branches.map(_.select(cols: _*)).reduce(_ unionAll _))
  }

  /** Value-routed branch (TinkerPop `branch(by).option(v, t)…` — also
    * the `choose(values(k)).option(…)` spelling; reference
    * `BranchTreeNode.java:49` and the CaseWhenTreeNode value router):
    * the router is a per-traverser COLUMN (a property fetch, never a
    * sub-traversal job), so the split is pure map-side filters — one
    * predicate per option, zero joins, zero shuffles before the branch
    * bodies run — and the branch outputs union with bag semantics on
    * the columns common to every branch. An option keyed `None` is the
    * TinkerPop `none` default: it takes every traverser matching no
    * named value (nulls included).
    */
  def branchBy(
      key: Column,
      options: Seq[(Option[String], Traversal => Traversal)]): Traversal = {
    require(options.nonEmpty, "branch() needs at least one option()")
    val named = options.collect { case (Some(v), _) => v }
    val keyed = df.withColumn("__route", key)
    val branches = options.map {
      case (Some(v), f) =>
        f(next(keyed.where(col("__route") === lit(v)).drop("__route"))).df
      case (None, f) =>
        f(next(keyed.where(
          col("__route").isNull || !col("__route").isin(named: _*))
          .drop("__route"))).df
    }
    val common = branches.map(_.columns.toSet).reduce(_ intersect _)
    require(common.contains("__v"), "branch options must stay vertex-typed")
    val cols = branches.head.columns.filter(common.contains).toSeq.map(col)
    next(branches.map(_.select(cols: _*)).reduce(_ unionAll _))
  }

  /** Union (`algebra.proto:74,394`, Gremlin union()): run each branch
    * sub-traversal from the current traverser frame and merge the
    * outputs with bag semantics — traverser multiplicity preserved, as
    * the GIE runtime merges its parallel branch streams. Branch schemas
    * are aligned on the columns common to every branch (the current
    * vertex always survives); `unionAll` is a zero-shuffle concat.
    */
  def union(fs: (Traversal => Traversal)*): Traversal = {
    require(fs.nonEmpty, "union() needs at least one branch")
    val branches = fs.map(f => f(this).df)
    val common = branches.map(_.columns.toSet).reduce(_ intersect _)
    require(common.contains("__v"), "union branches must stay vertex-typed")
    val cols = branches.head.columns.filter(common.contains).toSeq.map(col)
    next(branches.map(_.select(cols: _*)).reduce(_ unionAll _))
  }

  /** Hop relation `(__v, __to)` of a PathExpand — the GIE PathExpand
    * `base` EdgeExpand. A labeled edge table holds one row per (pair,
    * label); the hop relation of a path/shortest expand is the distinct
    * pair set.
    */
  private def expandRel(dir: String, labels: Seq[String]): DataFrame = {
    val rel = hopRel(dir, labels)
    if (g.labeled) rel.distinct() else rel
  }

  /** PathExpand lower..upper hops (`algebra.proto:287`) fused with
    * Dedup: the set of vertices whose shortest hop distance from the
    * current traverser *set* falls in [lower, upper], with that
    * distance as `__hops`. Level-synchronous first-visit expansion —
    * each hop is one frontier [[hop]] + anti-join, materialized
    * ([[Engine.checkpoint]]) to keep lineage flat. `dir` is the base
    * EdgeExpand direction (out/in/both). The reached set is a set, so a
    * hop may read the adjacency index's per-edge-row lists even on a
    * labeled graph.
    */
  def pathExpand(
      lower: Int, upper: Int, dir: String = "out", label: Option[String] = None
  ): Traversal = {
    require(lower >= 0 && upper >= lower, "need 0 <= lower <= upper")
    lazy val rel = expandRel(dir, label.toSeq)
    var reached = Engine.checkpoint(
      df.select(col("__v")).distinct().withColumn("__hops", lit(0L)))
    var frontier = reached.select(col("__v"))
    var h = 0
    var live = frontier.rdd.count()
    while (h < upper && live > 0) {
      h += 1
      val hopsDf = Engine.scalarLong(g.vertices.sparkSession, "__h", h.toLong)
      val nxt = Engine.checkpoint(
        hop(frontier, dir, label.toSeq, rel)
          .select(col("__to").as("__v")).distinct()
          .join(reached.select(col("__v")), Seq("__v"), "left_anti")
          .crossJoin(hopsDf)
          .select(col("__v"), col("__h").as("__hops")))
      live = nxt.rdd.count()
      if (live > 0) {
        reached = Engine.checkpoint(reached.unionByName(nxt))
        frontier = nxt.select(col("__v"))
      }
    }
    next(reached.where(col("__hops").between(lower, upper)))
  }

  /** ShortestPathExpand (`algebra.proto:302`): every vertex reachable
    * within `maxHops`, at its shortest hop distance (`__hops`),
    * including the start set at 0.
    */
  def shortestPathExpand(maxHops: Int): Traversal = pathExpand(0, maxHops)

  /** PathExpand carrying the path itself (`algebra.proto:287` with
    * result_opt = ALL_V — the `path_start.rs`/`path_end.rs` traverser
    * shape): one row per WALK of length ∈ [lower, upper] hops from a
    * starting traverser, with `__path` = array of vertex ids (start
    * inclusive) and `__v` = the walk's end. `simple = true` is
    * path_opt SIMPLE (prune walks revisiting a vertex); false is
    * ARBITRARY. Walk counts are exponential in general — bound `upper`.
    * Each hop is one [[hop]] on a plain graph and one equi-join against
    * the distinct pair set on a labeled one; the path rides the shuffle
    * as a long array (ids only — oid materialization is a sink-side
    * concern, [[pathOids]]).
    */
  def pathExpandPaths(
      lower: Int, upper: Int, simple: Boolean = true, dir: String = "out"): Traversal = {
    require(lower >= 0 && upper >= lower, "need 0 <= lower <= upper")
    lazy val rel = expandRel(dir, Nil)
    var cur = Engine.checkpoint(
      df.select(col("__v")).withColumn("__path", array(col("__v"))))
    var acc = if (lower == 0) cur else cur.limit(0)
    var h = 0
    var live = cur.rdd.count()
    while (h < upper && live > 0) {
      h += 1
      var nxt = if (g.labeled) cur.join(rel, Seq("__v")) else hop(cur, dir, Nil, rel)
      if (simple) nxt = nxt.where(!array_contains(col("__path"), col("__to")))
      cur = Engine.checkpoint(
        nxt.select(col("__to").as("__v"), concat(col("__path"), array(col("__to"))).as("__path")))
      live = cur.rdd.count()
      if (h >= lower && live > 0) acc = acc.unionByName(cur)
    }
    // acc is a chain of unions over the per-hop checkpointed frames —
    // materialize it so downstream operators (pathOids joins the frame
    // against a mapping derived from itself) see one flat leaf instead
    // of a plan that grows with `upper`
    next(Engine.checkpoint(acc))
  }

  /** Materialize `__path` (vertex ids) as an oid string `path_str` —
    * the Sink-side path decode: the distinct path set is exploded,
    * joined once against the vertex table, and re-assembled in hop
    * order, then joined back on the array key (a pure function of the
    * path, so equal walks share one decode). Ids-only paths ride every
    * upstream shuffle; strings exist only past this point.
    */
  /** Step-form `cyclicPath()` / `simplePath()` over a TRACKED walk (the
    * complement pair of MaxGraph's SimplePath filter, `unarystep/
    * filter.rs:36-362`; TinkerPop CyclicPathStep): keep traversers whose
    * `__path` revisits / never revisits a vertex. A pure map-side array
    * predicate — no shuffle, rides whole-stage codegen.
    */
  def cyclicPath(): Traversal = pathDistinctness(cyclic = true)
  def simplePathStep(): Traversal = pathDistinctness(cyclic = false)
  private def pathDistinctness(cyclic: Boolean): Traversal = {
    require(track && df.columns.contains("__path"),
      "cyclicPath()/simplePath() step form requires tracked paths")
    val distinctLen = size(array_distinct(col("__path")))
    next(df.where(
      if (cyclic) distinctLen < size(col("__path"))
      else distinctLen === size(col("__path"))))
  }

  /** Terminal `tree()` (TinkerPop TreeStep; the reference compiler's
    * tree sink over traverser histories — same path plane as
    * `PathTreeNode.java:39`): the tracked walks merged by shared prefix,
    * rendered relationally as one row per DISTINCT path prefix
    * `(depth, path_str)` — i.e. the nodes of the aggregated tree in
    * root-to-node order. Prefix expansion and dedup happen on ids-only
    * arrays; oids decode once at the sink ([[pathOids]] policy).
    */
  def tree(sep: String = ">"): DataFrame = {
    require(track && df.columns.contains("__path"), "tree() requires tracked paths")
    val prefixes = df.select(col("__path")).distinct()
      .select(explode(expr(
        "transform(sequence(1, size(__path)), k -> slice(__path, 1, k))")).as("__path"))
      .distinct()
    prefixes
      .select(col("__path"), posexplode(col("__path")).as(Seq("__pos", "__pv")))
      .join(g.vertices.select(col("id").as("__pv"), col("oid").as("__poid")), Seq("__pv"))
      .groupBy(col("__path"))
      .agg(expr(s"concat_ws('$sep', transform(array_sort(collect_list(struct(__pos, __poid))), x -> x.__poid))")
        .as("path_str"))
      .select(size(col("__path")).cast("long").as("depth"), col("path_str"))
  }

  def pathOids(sep: String = ">"): Traversal = {
    val mapping = df.select(col("__path")).distinct()
      .select(col("__path"), posexplode(col("__path")).as(Seq("__pos", "__pv")))
      .join(g.vertices.select(col("id").as("__pv"), col("oid").as("__poid")), Seq("__pv"))
      .groupBy(col("__path"))
      .agg(expr(s"concat_ws('$sep', transform(array_sort(collect_list(struct(__pos, __poid))), x -> x.__poid))")
        .as("path_str"))
    next(df.join(mapping, Seq("__path")))
  }

  /** Multi-tag Sink projection (TinkerPop `select('a','b')` over a
    * match()/as() result; the GIE Sink's tag-column output,
    * `algebra.proto:369`): one oid column per tag — the sink-side
    * decode, same policy as [[pathOids]] (ids ride every upstream
    * shuffle; strings exist only past this point). On the vertex index
    * each tag is a lookup column, which keeps the row order; over the
    * threshold each is one join against the vertex table, and an
    * ordered stream (`order()…limit(n)`) is sorted again after them.
    */
  def selectTags(tags: Seq[String]): DataFrame = selectTags(tags, Set.empty)

  /** [[selectTags]] with scalar tags: a tag in `scalar` (e.g. the
    * `path().count(local).as('b')` distance of LDBC CR-1) is projected
    * as-is instead of oid-decoded through the vertex table.
    */
  def selectTags(tags: Seq[String], scalar: Set[String]): DataFrame = {
    require(tags.nonEmpty, "select() needs at least one tag")
    g.vertexIndex match {
      case Some(ix) =>
        df.select(tags.map(tg => (if (scalar.contains(tg)) col(tg) else ix("oid", col(tg))).as(tg)): _*)
      case None =>
        val vs = g.vertices
        val decoded = tags.filterNot(scalar.contains).foldLeft(df)((d, tg) =>
          d.join(vs.select(col("id").as(tg), col("oid").as(s"__oid_$tg")), Seq(tg)))
        (if (ordering.isEmpty) decoded else decoded.orderBy(ordering: _*))
          .select(tags.map(tg =>
            (if (scalar.contains(tg)) col(tg) else col(s"__oid_$tg")).as(tg)): _*)
    }
  }

  /** Gremlin `sample(n)` (MaxGraph `MetapathSample`, `unarystep/
    * sample.rs:30`) — DETERMINISTIC variant: pick the n traversers
    * smallest under the engine's portable pick hash of the vertex oid
    * (the same resume-safe policy `Paths3.samplingPaths` uses instead
    * of a random draw). Lowers to orderBy+limit ⇒ TakeOrderedAndProject
    * (no full sort, map-side top-n).
    */
  def sampleN(n: Int): Traversal = {
    val aux = auxilia()
    new Traversal(g, aux.df
      .orderBy(graft.text.TextOps.portableHash(col("oid")).asc, col("oid").asc)
      .limit(n))
  }

  /** Gremlin lambda step (`unarystep/lambda.rs:34`): an arbitrary Scala
    * closure over the traverser's current vertex id — JVM-native, so no
    * lambda-service round trip like the reference needs. Lowered as a
    * semi-join against the closure-filtered DISTINCT vertex set rather
    * than a row-wise typed filter: the non-declarative part touches
    * |V'| ids once, and the traverser bag itself stays inside
    * Catalyst-planned joins (pushdown survives around it).
    */
  def lambdaFilter(f: Long => Boolean): Traversal = {
    val spark = df.sparkSession
    import spark.implicits._
    val keep = df.select(col("__v")).distinct().as[Long].filter(f).toDF("__v")
    next(df.join(keep, Seq("__v"), "left_semi"))
  }

  /** Gremlin `subgraph()` sink (MaxGraph `SubGraphOperator`,
    * `unarystep/subgraph.rs:29`; python `gremlin_to_subgraph`,
    * `dag_utils.py:1115`): the edge-induced subgraph of the distinct
    * edges the (edge-positioned, post-[[outE]]) traverser stream has
    * visited, plus their incident vertices, as a new [[LinkGraph]] —
    * the traversal-plane counterpart of the session plane's
    * INDUCE_SUBGRAPH. Both sides stay id-typed; oids decode lazily
    * from the filtered vertex table.
    */
  def subgraph(): LinkGraph = {
    require(df.columns.contains("__src") && df.columns.contains("__w"),
      "subgraph() needs an edge-positioned traverser (use outE())")
    val spark = df.sparkSession
    import spark.implicits._
    val es = df.select(col("__src").as("src"), col("__v").as("dst"),
      col("__w").as("weight")).distinct()
    val vids = es.select(col("src").as("id"))
      .unionAll(es.select(col("dst").as("id"))).distinct()
    val vs = g.vertices.select(col("id"), col("oid")).join(vids, Seq("id"), "left_semi")
    LinkGraph(vs.as[graft.schema.Vertex], es.as[graft.schema.Edge])
  }

  // ---- graph-algorithm step bridges (the reference's TinkerPop steps
  // `interactive_engine/.../tinkerpop/steps/PageRankStep.java`,
  // `ConnectedComponentsStep.java`, `LabelPropagationStep.java`,
  // `HitsStep.java`): run the engine's analytical app over the
  // traversal's WHOLE graph (TinkerPop VertexProgram semantics — the
  // algorithm sees the full graph, not the current traverser set) and
  // annotate each traverser with the result property, queryable by the
  // following values()/order() steps. ----

  private def annotate(props: DataFrame): Traversal =
    next(df.join(props, Seq("__v")))

  /** Gremlin `pageRank()` (PageRankStep): annotates `pageRank`. */
  def pageRankStep(rounds: Int = 10): Traversal = annotate(
    graft.algos.PageRank.run(GGraphOps.linkView(g),
        graft.algos.PageRank.Config(0.85, rounds))
      .select(col("id").as("__v"), col("rank").as("pageRank")))

  /** Gremlin `connectedComponent()` (ConnectedComponentsStep):
    * annotates `component` (dense min-id — decode to oids at the sink).
    */
  def connectedComponentStep(): Traversal = annotate(
    graft.algos.WCC.run(GGraphOps.linkView(g))
      .select(col("id").as("__v"), col("comp").as("component")))

  /** Gremlin `labelPropagation()` (LabelPropagationStep): annotates
    * `communityLabel` (dense id of the CDLP label vertex).
    */
  def labelPropagationStep(rounds: Int = 10): Traversal = annotate(
    graft.algos.CDLP.run(GGraphOps.linkView(g), rounds)
      .select(col("id").as("__v"), col("label").as("communityLabel")))

  /** Gremlin `hits()` (HitsStep): annotates `auth` and `hub`. */
  def hitsStep(iters: Int = 5): Traversal = annotate(
    graft.algos.HITS.run(GGraphOps.linkView(g), maxIter = iters, tol = 0.0)
      .select(col("id").as("__v"), col("auth"), col("hub")))

  /** GroupBy count (`algebra.proto:79`, Gremlin groupCount). */
  def groupCount(key: String): DataFrame =
    df.groupBy(col(key)).agg(count(lit(1)).as("n"))

  /** OrderBy + limit ⇒ TopK (`algebra.proto:116,131` —
    * TakeOrderedAndProject on the Spark side).
    */
  def topK(n: Int, ordering: Column*): Traversal =
    nextOrdered(df.orderBy(ordering: _*).limit(n), ordering)

  /** OrderBy without the fused limit (a following [[limit]] restores
    * the TakeOrderedAndProject fusion — Catalyst collapses Sort+Limit).
    */
  def ordered(ordering: Column*): Traversal = nextOrdered(df.orderBy(ordering: _*), ordering)

  def limit(n: Int): Traversal = nextOrdered(df.limit(n), ordering)

  /** Sink (`algebra.proto:369`): project out result columns. */
  def values(cols: String*): DataFrame = df.select(cols.map(col): _*)
}

/** Traversal sources (GIE Scan, `algebra.proto:196`). */
object G {

  /** All vertices, one traverser each. */
  def V(g: GGraph): Traversal =
    new Traversal(g, g.vertices.select(col("id").as("__v")))

  def V(g: LinkGraph): Traversal = V(GGraph(g))

  /** All vertices of a labeled property graph. */
  def V(pg: PropertyGraph): Traversal = V(GGraph(pg))

  /** Vertices matching a predicate — the predicate lands on the vertex
    * scan (IndexPredicate pushdown analog).
    */
  def V(g: GGraph, pred: Column): Traversal =
    new Traversal(g, g.vertices.where(pred).select(col("id").as("__v")))

  def V(g: LinkGraph, pred: Column): Traversal = V(GGraph(g), pred)

  def V(pg: PropertyGraph, pred: Column): Traversal = V(GGraph(pg), pred)

  /** Edge-scan source (`g.E()` — the reference's first-class edge source,
    * `SourceEdgeOperator` in `interactive_engine/executor/runtime/src/
    * dataflow/operator/sourcestep/edge.rs:89`; ScanOpt EDGE in
    * `research/query_service/ir/proto/algebra.proto:196`): one
    * edge-positioned traverser per edge, in the same representation
    * [[Traversal.outE]] produces (`__v` = END, `__src`, `__w`, and
    * `__elabel` on labeled graphs), so the whole edge-step family
    * (inV/outV/otherV, weight predicates, drop) composes unchanged. The
    * optional predicate lands directly ON the edge scan — at scale,
    * partition pruning on a label/weight-partitioned edge table.
    */
  def E(g: GGraph): Traversal = E(g, lit(true))

  def E(g: GGraph, pred: Column): Traversal = {
    val e0 = g.edges.where(pred)
    val e = if (e0.columns.contains("label"))
      e0.withColumnRenamed("label", "__elabel") else e0
    val cols = Seq(col("dst").as("__v"), col("src").as("__src"),
      col("weight").as("__w"), col("dst").as("__other")) ++
      (if (g.labeled) Seq(col("__elabel")) else Seq.empty)
    new Traversal(g, e.select(cols: _*))
  }

  def E(g: LinkGraph): Traversal = E(GGraph(g))

  def E(g: LinkGraph, pred: Column): Traversal = E(GGraph(g), pred)

  def E(pg: PropertyGraph): Traversal = E(GGraph(pg))

  /** Greedy cost-based match-sentence order (patmat.rs:76-889's
    * cost-scored sentence pick over the left-deep join shape): start
    * from the smallest relation, then repeatedly take the smallest
    * remaining relation sharing a tag with the already-joined prefix.
    * Ties break to the earlier sentence (deterministic). Throws if the
    * sentences don't form one connected tag graph — same contract the
    * join loop enforces.
    */
  private[graft] def planMatchOrder(rels: Seq[(Set[String], Long)]): Seq[Int] = {
    val remaining = scala.collection.mutable.SortedSet(rels.indices: _*)
    val order = Seq.newBuilder[Int]
    var tags = Set.empty[String]
    var n = 0
    while (remaining.nonEmpty) {
      val cands =
        if (n == 0) remaining.toSeq
        else remaining.toSeq.filter(i => rels(i)._1.intersect(tags).nonEmpty)
      require(cands.nonEmpty, "match sentences must share a tag with the prefix join")
      val pick = cands.minBy(i => (rels(i)._2, i))
      order += pick; remaining -= pick; tags ++= rels(pick)._1; n += 1
    }
    order.result()
  }
}
