package graft

import org.apache.spark.sql.functions._

import graft.gie.{G, Gremlin}

/** Gremlin *string* front-end (graft.gie.Gremlin) vs the Traversal DSL
  * on the GieSpec fixture — every parsed plan must produce the exact
  * rows of its hand-written DSL equivalent.
  *
  *   u0 → a0 → t0,  u0 → a1 → t0,  u1 → a0,  a0 → a1,  t0 → u1
  */
class GremlinSpec extends SparkSpec {

  private lazy val g = {
    val s = spark
    import s.implicits._
    val names = Seq("u0", "u1", "a0", "a1", "t0")
    val vs = names.zipWithIndex.map { case (n, i) => graft.schema.Vertex(i.toLong, n) }.toDS()
    def id(n: String) = names.indexOf(n).toLong
    val es = Seq(
      ("u0", "a0"), ("u0", "a1"), ("u1", "a0"), ("a0", "t0"), ("a1", "t0"),
      ("a0", "a1"), ("t0", "u1"))
      .map { case (a, b) => graft.schema.Edge(id(a), id(b), 1.0) }.toDS()
    graft.graph.LinkGraph(vs, es)
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.collect().map(_.toSeq.mkString("|")).toSet

  test("two-hop groupCount matches the DSL (multiplicity preserved)") {
    val viaText = Gremlin.run(g,
      "g.V().has('oid', TextP.startingWith('u'))" +
        ".out().has('oid', TextP.startingWith('a')).out().groupCount().by('oid')")
    val viaDsl = G.V(g, col("oid").like("u%"))
      .out().has(col("oid").like("a%")).out()
      .auxilia().groupCount("oid")
    assert(rows(viaText) == rows(viaDsl))
    assert(rows(viaText) == Set("t0|3", "a1|2"))
  }

  test("range expand out('0..2') + hops matches pathExpand") {
    val viaText = Gremlin.run(g, "g.V().has('oid', 'u0').out('0..2').hops()")
    val viaDsl = graft.gie.G.V(g, col("oid") === "u0").pathExpand(0, 2)
      .auxilia().df.select(col("oid"), col("__hops").as("hops"))
    assert(rows(viaText) == rows(viaDsl))
    assert(rows(viaText) == Set("u0|0", "a0|1", "a1|1", "t0|2"))
  }

  test("where(sub-traversal) = Apply SEMI; not(...) = Apply ANTI") {
    val semi = Gremlin.run(g,
      "g.V().where(__.out().has('oid', 'a1')).values('oid')")
    assert(rows(semi) == Set("u0", "a0")) // u0→a1, a0→a1
    // every fixture vertex has an out-edge (t0→u1 closes the cycle), so
    // ANTI over out() is empty; ANTI over out-to-a1 keeps the rest
    assert(rows(Gremlin.run(g, "g.V().not(__.out()).values('oid')")) == Set.empty)
    val anti = Gremlin.run(g,
      "g.V().not(__.out().has('oid', 'a1')).values('oid')")
    assert(rows(anti) == Set("u1", "a1", "t0"))
    // filter(<sub>) is the anonymous-traversal spelling of the same
    // Apply-SEMI (the reference's published LDBC CR-3/6/12 queries use
    // it), including the correlated count().is() form
    val filt = Gremlin.run(g,
      "g.V().filter(__.out().has('oid', 'a1')).values('oid')")
    assert(rows(filt) == Set("u0", "a0"))
    val filtCnt = Gremlin.run(g,
      "g.V().filter(__.out().dedup().count().is(P.gte(2))).values('oid')")
    assert(rows(filtCnt) == Set("u0", "a0")) // u0→{a0,a1}, a0→{t0,a1}
    // count().is(0) must let ZERO-count origins PASS (CR-4's published
    // anti-predicate spelling — zero-satisfiable via the left-join +
    // coalesce form): only u0 has no in-edge in the fixture
    val zeroCnt = Gremlin.run(g,
      "g.V().where(__.in().count().is(0)).values('oid')")
    assert(rows(zeroCnt) == Set("u0"))
  }

  test("group().by().by(sub.count()) correlates the sub to each traverser's tag") {
    // keys a0 (reached from u0 and u1 → two traversers, each matching
    // itself via in().where(eq('s'))) and a1 (one traverser)
    val grouped = Gremlin.run(g,
      "g.V().has('oid', TextP.startingWith('u')).as('s').out()" +
        ".group().by().by(__.in().where(eq('s')).count())")
    assert(rows(grouped) == Set("a0|2", "a1|1"))
    // a key whose sub survives nothing keeps a ZERO entry (TinkerPop
    // emits one entry per group key): t0→u1, u1's out() is a0 ≠ t0
    val zero = Gremlin.run(g,
      "g.V().has('oid', 't0').as('s').out()" +
        ".group().by().by(__.out().where(eq('s')).count())")
    assert(rows(zero) == Set("u1|0"))
  }

  test("values(f).as(tag) scalar value tags ride expansions and project as-is") {
    val r = Gremlin.run(g,
      "g.V().has('oid', 'a0').as('s').outE().values('weight').as('w')" +
        ".inV().select('s', 'w')")
    assert(rows(r) == Set("a0|1.0")) // both a0 edges weigh 1.0; s decodes to oid
  }

  test("repeat(out()).times(2) walks two hops with multiplicity") {
    val viaText = Gremlin.run(g,
      "g.V().has('oid', 'u0').repeat(__.out()).times(2).groupCount().by('oid')")
    val viaDsl = G.V(g, col("oid") === "u0").out().out().auxilia().groupCount("oid")
    assert(rows(viaText) == rows(viaDsl))
  }

  test("order + limit lowers to TakeOrderedAndProject over groupCount") {
    val viaText = Gremlin.run(g,
      "g.V().out().groupCount().by('oid').order().by('n', desc).by('oid', asc).limit(2)")
    val got = viaText.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    // in-degrees: a0←2, a1←2, t0←2, u1←1 → top-2 by (n desc, oid asc)
    assert(got == Seq(("a0", 2L), ("a1", 2L)))
  }

  test("has with eq / neq / within predicates") {
    assert(rows(Gremlin.run(g, "g.V().has('oid', P.eq('t0')).values('oid')")) == Set("t0"))
    assert(rows(Gremlin.run(g, "g.V().has('oid', P.within('u0', 'u1')).values('oid')"))
      == Set("u0", "u1"))
    assert(rows(Gremlin.run(g, "g.V().has('oid', P.neq('t0')).count()")) == Set("4"))
  }

  test("between / inside with string literals equal their gte/gt/lt forms") {
    def oids(q: String) = rows(Gremlin.run(g, q))
    val between = oids("g.V().has('oid', P.between('u0', 'u1')).values('oid')")
    assert(between == oids("g.V().has('oid', P.gte('u0')).has('oid', P.lt('u1')).values('oid')"))
    assert(between == Set("u0"))
    val inside = oids("g.V().has('oid', P.inside('a0', 'u0')).values('oid')")
    assert(inside == oids("g.V().has('oid', P.gt('a0')).has('oid', P.lt('u0')).values('oid')"))
    assert(inside == Set("a1", "t0"))
  }

  test("hop loops test liveness with one job per hop") {
    // u0's frontier stays live for three hops of both loops
    val repeat = jobsPerRound("repeat(out()).times(k)") { k =>
      Gremlin.run(g, s"g.V().has('oid', 'u0').repeat(__.out()).times($k).count()").collect() }
    val expand = jobsPerRound("out('1..k') pathExpand") { k =>
      Gremlin.run(g, s"g.V().has('oid', 'u0').out('1..$k').hops()").collect() }
    // the expands read the graph's adjacency index: an unrolled
    // times(k) body is a narrow map with no job of its own (a broadcast
    // join cost it one per hop), and a pathExpand hop runs its distinct
    // and anti-join stages (4.5 with the join, 5.5 with a DataFrame
    // count() as the liveness probe)
    assert((repeat, expand) == ((0.0, 3.0)))
  }

  test("dedup collapses multiplicity; as/select jump tags") {
    val viaText = Gremlin.run(g,
      "g.V().has('oid', TextP.startingWith('u')).out().out().dedup().values('oid')")
    val viaDsl = G.V(g, col("oid").like("u%")).out().out().dedup()
      .auxilia().values("oid")
    assert(rows(viaText) == rows(viaDsl))
    val tagged = Gremlin.run(g,
      "g.V().has('oid', 'u0').as('who').out().out().select('who').values('oid')")
    assert(rows(tagged).subsetOf(Set("u0")))
  }

  test("simplePath().path() materializes walk strings via pathExpandPaths") {
    val viaText = Gremlin.run(g,
      "g.V().has('oid', 'u0').out('1..2').simplePath().path().values('path_str')")
    val viaDsl = G.V(g, col("oid") === "u0").pathExpandPaths(1, 2, simple = true)
      .pathOids().values("path_str")
    assert(rows(viaText) == rows(viaDsl))
    assert(rows(viaText) ==
      Set("u0>a0", "u0>a1", "u0>a0>t0", "u0>a0>a1", "u0>a1>t0"))
    // simplePath() without a following path() has no endV lowering
    intercept[IllegalArgumentException](
      Gremlin.run(g, "g.V().out('1..2').simplePath().values('oid')"))
  }

  test("ARBITRARY walks revisit where SIMPLE prunes; lower=0 emits the start") {
    val s = spark
    import s.implicits._
    val g2 = graft.graph.LinkGraph(
      Seq(graft.schema.Vertex(0L, "x"), graft.schema.Vertex(1L, "y")).toDS(),
      Seq(graft.schema.Edge(0L, 1L, 1.0), graft.schema.Edge(1L, 0L, 1.0)).toDS())
    def paths(simple: Boolean, lower: Int, upper: Int) =
      rows(G.V(g2, col("oid") === "x").pathExpandPaths(lower, upper, simple)
        .pathOids().values("path_str"))
    assert(paths(simple = false, 1, 2) == Set("x>y", "x>y>x"))
    assert(paths(simple = true, 1, 2) == Set("x>y"))
    assert(paths(simple = false, 0, 1) == Set("x", "x>y"))
  }

  test("both('1..2') expands undirected; in('1..1') expands reverse") {
    // fixture: u0→a0, u0→a1, u1→a0, a0→t0, a1→t0, a0→a1, t0→u1
    val both = Gremlin.run(g, "g.V().has('oid', 't0').both('1..2').hops()")
    val viaDsl = G.V(g, col("oid") === "t0").pathExpand(1, 2, "both")
      .auxilia().df.select(col("oid"), col("__hops").as("hops"))
    assert(rows(both) == rows(viaDsl))
    // t0 ring: 1 hop = {a0, a1 (in), u1 (out)}; 2 hops = {u0}
    assert(rows(both) == Set("a0|1", "a1|1", "u1|1", "u0|2"))
    val rev = Gremlin.run(g, "g.V().has('oid', 't0').in('1..1').hops()")
    assert(rows(rev) == Set("a0|1", "a1|1"))
  }

  test("union(sub, ...) merges branches with bag semantics") {
    val viaText = Gremlin.run(g,
      "g.V().has('oid', 'u0').union(__.out(), __.out().out()).groupCount().by('oid')")
    val viaDsl = G.V(g, col("oid") === "u0")
      .union(_.out(), _.out().out()).auxilia().groupCount("oid")
    assert(rows(viaText) == rows(viaDsl))
    // out(): a0, a1; out().out(): t0 (via a0), a1 (via a0), t0 (via a1)
    assert(rows(viaText) == Set("a0|1", "a1|2", "t0|2"))
    // a tag common to every branch survives; branch-local tags are dropped
    val tagged = G.V(g, col("oid") === "u0").as_("root")
      .union(_.out(), _.in())
    assert(tagged.df.columns.toSet == Set("__v", "root"))
    intercept[IllegalArgumentException](
      Gremlin.run(g, "g.V().union(__.out().count()).values('oid')"))
  }

  /** Weighted fixture for edge-property steps:
    * u0→a0 (3), u0→a1 (1), a0→t0 (2), a1→t0 (5).
    */
  private lazy val gw = {
    val s = spark
    import s.implicits._
    val names = Seq("u0", "a0", "a1", "t0")
    val vs = names.zipWithIndex.map { case (n, i) => graft.schema.Vertex(i.toLong, n) }.toDS()
    def id(n: String) = names.indexOf(n).toLong
    val es = Seq(("u0", "a0", 3.0), ("u0", "a1", 1.0), ("a0", "t0", 2.0), ("a1", "t0", 5.0))
      .map { case (a, b, w) => graft.schema.Edge(id(a), id(b), w) }.toDS()
    graft.graph.LinkGraph(vs, es)
  }

  test("repeat().until() exits traversers early; emit() outputs each round") {
    // from a0, body out().dedup(): r1 {t0, a1} (t0 exits), r2 {t0} (exits,
    // frontier dies at round 2 < times 5)
    val untilOnly = Gremlin.run(g,
      "g.V().has('oid', 'a0').repeat(__.out().dedup())" +
        ".until(__.has('oid', 't0')).times(5).groupCount().by('oid')")
    assert(rows(untilOnly) == Set("t0|2"))
    // emit: r1 emits {t0, a1}, r2 emits {t0}
    val emitted = Gremlin.run(g,
      "g.V().has('oid', 'a0').repeat(__.out().dedup())" +
        ".emit().until(__.has('oid', 't0')).times(2).groupCount().by('oid')")
    assert(rows(emitted) == Set("t0|2", "a1|1"))
    // emit + times without until = per-round bag union (same bag as
    // union(out, out.out))
    val emitTimes = Gremlin.run(g,
      "g.V().has('oid', 'u0').repeat(__.out()).emit().times(2).groupCount().by('oid')")
    val viaUnion = G.V(g, col("oid") === "u0")
      .union(_.out(), _.out().out()).auxilia().groupCount("oid")
    assert(rows(emitTimes) == rows(viaUnion))
    // without a bound the parser rejects the loop... unless until() bounds it
    intercept[IllegalArgumentException](
      Gremlin.run(g, "g.V().repeat(__.out()).groupCount().by('oid')"))
    // until() alone is a valid bound (engine safety cap backs it)
    val untilAlone = Gremlin.run(g,
      "g.V().has('oid', 'a0').repeat(__.out().dedup())" +
        ".until(__.has('oid', 't0')).groupCount().by('oid')")
    assert(rows(untilAlone) == Set("t0|2"))
  }

  test("numeric edge predicates with inV/outV") {
    assert(rows(Gremlin.run(gw,
      "g.V().outE().has('weight', P.gt(2)).inV().values('oid')")) == Set("a0", "t0"))
    assert(rows(Gremlin.run(gw,
      "g.V().outE().has('weight', P.gt(2)).outV().values('oid')")) == Set("u0", "a1"))
    // between = [a, b); inside = (a, b)
    assert(rows(Gremlin.run(gw,
      "g.V().outE().has('weight', P.between(1, 3)).inV().values('oid')")) == Set("a1", "t0"))
    assert(rows(Gremlin.run(gw,
      "g.V().outE().has('weight', P.inside(1, 3)).inV().values('oid')")) == Set("t0"))
    assert(rows(Gremlin.run(gw,
      "g.V().outE().has('weight', P.lte(1)).inV().values('oid')")) == Set("a1"))
  }

  test("group().by(key).by(value agg) and values('weight') ordering") {
    val sums = Gremlin.run(gw,
      "g.V().outE().group().by('oid').by(__.values('weight').sum())")
    assert(rows(sums) == Set("a0|3.0", "a1|1.0", "t0|7.0"))
    val maxes = Gremlin.run(gw,
      "g.V().outE().group().by('oid').by(__.values('weight').max())")
    assert(rows(maxes) == Set("a0|3.0", "a1|1.0", "t0|5.0"))
    val counts = Gremlin.run(gw,
      "g.V().outE().group().by('oid').by(__.count())")
    assert(rows(counts) == Set("a0|1", "a1|1", "t0|2"))
    val top = Gremlin.run(gw,
      "g.V().outE().values('weight').order().by('weight', desc).limit(1)")
    assert(rows(top) == Set("5.0"))
  }

  test("and()/or() boolean filter trees") {
    // t0 out-neighbor AND a u in-neighbor: a0 (u0,u1→a0→t0), a1 (u0→a1→t0)
    val both = Gremlin.run(g,
      "g.V().and(__.out().has('oid', 't0'), __.in().has('oid', TextP.startingWith('u')))" +
        ".values('oid')")
    assert(rows(both) == Set("a0", "a1"))
    val either = Gremlin.run(g,
      "g.V().or(__.has('oid', 'u0'), __.has('oid', 't0')).values('oid')")
    assert(rows(either) == Set("u0", "t0"))
    // or() keeps traverser multiplicity (semi-join, not a union of copies)
    val viaOr = Gremlin.run(g,
      "g.V().out().or(__.has('oid', 'a1'), __.has('oid', 't0')).groupCount().by('oid')")
    assert(rows(viaOr) == Set("a1|2", "t0|2"))
  }

  test("match() joins as-tagged sentences left-deep and binds the scan") {
    val viaMatch = Gremlin.run(g,
      "g.V().match(__.as('a').has('oid', TextP.startingWith('u')).out().as('b'), " +
        "__.as('b').out().as('c')).select('c').groupCount().by('oid')")
    // sentence1 (u→b): (u0,a0),(u0,a1),(u1,a0); sentence2 (b→c):
    // a0→{t0,a1}, a1→{t0} ⇒ c bag: t0×3, a1×2
    assert(rows(viaMatch) == Set("t0|3", "a1|2"))
    // equivalent hand-lowered join (the tg_pattern shape)
    val viaDsl = G.V(g, col("oid").like("u%")).as_("a").out().as_("b")
      .out().auxilia().groupCount("oid")
    assert(rows(viaMatch) == rows(viaDsl))
    // malformed sentences are rejected
    intercept[IllegalArgumentException](
      Gremlin.run(g, "g.V().match(__.out().as('b')).select('b').count()"))
  }

  test("match() cost-orders sentences; any connected order is equivalent") {
    // planMatchOrder: smallest relation leads, then smallest connected
    val order = G.planMatchOrder(Seq(
      (Set("a", "b"), 100L), (Set("b", "c"), 5L), (Set("c", "d"), 50L)))
    assert(order == Seq(1, 2, 0)) // b-c (5) first; c-d (50) beats a-b (100)
    // a disconnected remainder is rejected
    intercept[IllegalArgumentException](
      G.planMatchOrder(Seq((Set("a", "b"), 1L), (Set("x", "y"), 2L))))
    // a 3-sentence match written selective-last must equal the
    // hand-lowered chain — the planner reorders, the bag is unchanged
    val viaMatch = Gremlin.run(g,
      "g.V().match(__.as('b').out().as('c'), " +
        "__.as('a').has('oid', TextP.startingWith('u')).out().as('b'), " +
        "__.as('c').has('oid', 't0').as('d'))" +
        ".select('c').groupCount().by('oid')")
    val viaDsl = G.V(g, col("oid").like("u%")).as_("a").out().as_("b")
      .out().has(col("oid") === "t0").auxilia().groupCount("oid")
    assert(rows(viaMatch) == rows(viaDsl))
  }

  test("coalesce() takes the first non-empty branch per traverser") {
    // a0/a1/u1 resolve in branch 1 (an out-neighbor t0 exists); t0 falls
    // through to in() = {a0, a1}; u0 has neither → drops out
    val viaText = Gremlin.run(g,
      "g.V().coalesce(__.out().has('oid', 't0'), __.in()).groupCount().by('oid')")
    assert(rows(viaText) == Set("t0|3", "a0|1", "a1|1"))
    // incoming multiplicity preserved through the origin bag-join
    val bag = Gremlin.run(g,
      "g.V().has('oid', TextP.startingWith('u')).out()" +
        ".coalesce(__.out().has('oid', 't0'), __.in()).groupCount().by('oid')")
    assert(rows(bag) == Set("t0|3")) // a0×2 → t0×2, a1 → t0
  }

  test("optional() keeps traversers whose branch is empty") {
    val viaText = Gremlin.run(g,
      "g.V().has('oid', TextP.startingWith('u'))" +
        ".optional(__.out().has('oid', 'a1')).values('oid')")
    assert(rows(viaText) == Set("a1", "u1")) // u0 takes the branch; u1 passes through
  }

  test("global numeric terminals over values()") {
    assert(rows(Gremlin.run(g,
      "g.V().has('oid', 'a0').outE().values('weight').sum()")) == Set("2.0"))
    assert(rows(Gremlin.run(g,
      "g.V().outE().values('weight').max()")) == Set("1.0"))
    assert(rows(Gremlin.run(g,
      "g.V().outE().values('weight').mean()")) == Set("1.0"))
  }

  test("match() pushes the incoming traverser binding into sentence evaluation") {
    // pre-filtered traverser: bind-tag sentences seed from {u0,u1}, not
    // the full scan — result must equal the unfiltered-scan semantics
    val filtered = Gremlin.run(g,
      "g.V().has('oid', TextP.startingWith('u'))" +
        ".match(__.as('a').out().as('b'), __.as('b').out().as('c'))" +
        ".select('c').groupCount().by('oid')")
    assert(rows(filtered) == Set("t0|3", "a1|2"))
    // incoming multiplicity survives the pushdown (bag join on the bind tag)
    val bag = Gremlin.run(g,
      "g.V().has('oid', TextP.startingWith('u')).out()" +
        ".match(__.as('a').out().as('c')).select('c').groupCount().by('oid')")
    val viaDsl = G.V(g, col("oid").like("u%")).out().as_("a")
      .out().auxilia().groupCount("oid")
    assert(rows(bag) == rows(viaDsl))
  }

  test("select('a','c') projects tag oids; where('a', P.neq('c')) compares tags") {
    val viaText = Gremlin.run(g,
      "g.V().match(__.as('a').has('oid', TextP.startingWith('u')).out().as('b'), " +
        "__.as('b').out().as('c'))" +
        ".where('a', P.neq('c')).select('a', 'c')")
    // (a,c) pairs: u0→a0→{t0,a1}, u0→a1→t0, u1→a0→{t0,a1} — none with a=c
    assert(viaText.columns.toSeq == Seq("a", "c"))
    assert(rows(viaText) == Set("u0|t0", "u0|a1", "u1|t0", "u1|a1"))
    // the eq() form is the complement: empty here
    assert(Gremlin.run(g,
      "g.V().match(__.as('a').has('oid', TextP.startingWith('u')).out().as('b'), " +
        "__.as('b').out().as('c'))" +
        ".where('a', P.eq('c')).select('a', 'c')").isEmpty)
  }

  test("TextP containing/endingWith/notStartingWith and P.without predicates") {
    assert(rows(Gremlin.run(g,
      "g.V().has('oid', TextP.containing('0')).values('oid')")) == Set("u0", "a0", "t0"))
    assert(rows(Gremlin.run(g,
      "g.V().has('oid', TextP.notStartingWith('a')).values('oid')")) == Set("u0", "u1", "t0"))
    assert(rows(Gremlin.run(g,
      "g.V().has('oid', TextP.endingWith('1')).values('oid')")) == Set("u1", "a1"))
    assert(rows(Gremlin.run(g,
      "g.V().has('oid', TextP.notContaining('0')).values('oid')")) == Set("u1", "a1"))
    assert(rows(Gremlin.run(g,
      "g.V().has('oid', TextP.notEndingWith('0')).values('oid')")) == Set("u1", "a1"))
    // P.without keeps {a0, a1}; their out-neighborhood is {t0, a1}
    assert(rows(Gremlin.run(g,
      "g.V().has('oid', P.without('u0', 'u1', 't0')).out().values('oid')")) == Set("t0", "a1"))
  }

  test("subgraph() extracts the edge-induced subgraph of visited edges") {
    val edges = Gremlin.run(g,
      "g.V().has('oid', TextP.startingWith('u')).outE().subgraph('sg').cap('sg')")
    assert(edges.columns.toSeq == Seq("src_oid", "dst_oid", "weight"))
    assert(rows(edges) == Set("u0|a0|1.0", "u0|a1|1.0", "u1|a0|1.0"))
    // DSL form returns a real LinkGraph: 4 incident vertices, 3 edges
    val sg = graft.gie.G.V(g, col("oid").like("u%")).outE().subgraph()
    assert(sg.vertices.collect().map(_.oid).toSet == Set("u0", "u1", "a0", "a1"))
    assert(sg.edges.count() == 3)
  }

  test("group by(values(tag).dedup().count()) counts distinct tagged vertices") {
    // a0→{t0,a1}, a1→t0: t0 sees 2 distinct assistants, a1 sees 1
    val viaText = Gremlin.run(g,
      "g.V().has('oid', TextP.startingWith('a')).as('a').out()" +
        ".group().by('oid').by(__.values('a').dedup().count())")
    assert(rows(viaText) == Set("t0|2", "a1|1"))
    // dedup().fold() = sorted set accumulator (weights all 1.0 here)
    val folded = Gremlin.run(g,
      "g.V().outE().group().by('oid').by(__.values('weight').dedup().fold())")
    assert(folded.collect().forall(_.getSeq[Double](1) == Seq(1.0)))
  }

  test("sample(n) is a deterministic pick-hash subset; lambdaFilter is a closure semi-join") {
    // n >= population: sample returns the whole set
    assert(rows(Gremlin.run(g,
      "g.V().has('oid', TextP.startingWith('u')).sample(2).values('oid')")) == Set("u0", "u1"))
    // n = 1: a stable singleton subset (same pick on every invocation)
    val pick = rows(Gremlin.run(g,
      "g.V().has('oid', TextP.startingWith('u')).sample(1).values('oid')"))
    assert(pick.size == 1 && pick.subsetOf(Set("u0", "u1")))
    assert(rows(Gremlin.run(g,
      "g.V().has('oid', TextP.startingWith('u')).sample(1).values('oid')")) == pick)
    // lambda: arbitrary Scala closure over vertex ids (even ids here)
    val even = graft.gie.G.V(g).lambdaFilter(_ % 2L == 0L).auxilia().values("oid")
    assert(rows(even) == Set("u0", "a0", "t0"))
  }

  test("id() projects the dense vertex id") {
    assert(rows(Gremlin.run(g, "g.V().has('oid', 'u0').id()")) == Set("0"))
    assert(rows(Gremlin.run(g, "g.V().has('oid', 't0').in().id()")) == Set("2", "3"))
  }

  test("fold() collects sorted; unfold() explodes back") {
    val folded = Gremlin.run(g,
      "g.V().has('oid', TextP.startingWith('u')).values('oid').fold()")
    assert(folded.collect().map(_.getSeq[String](0)).toSeq == Seq(Seq("u0", "u1")))
    val roundTrip = Gremlin.run(g,
      "g.V().has('oid', TextP.startingWith('u')).values('oid').fold().unfold()")
    assert(rows(roundTrip) == Set("u0", "u1"))
  }

  test("weightedShortestPathExpand relaxes edge weights from the start set") {
    val got = G.V(gw, col("oid") === "u0").weightedShortestPathExpand()
      .auxilia().df.select(col("oid"), col("__dist"))
    assert(rows(got) == Set("u0|0.0", "a0|3.0", "a1|1.0", "t0|5.0"))
  }

  // labeled fixture (PropertyGraph plane): same id/oid shape, edges
  // split into reply/invoke label tables; a0→t0 carries BOTH labels
  private lazy val pg = {
    val s = spark
    import s.implicits._
    val vs = Seq(
      (0L, "u0", "user"), (1L, "u1", "user"),
      (2L, "a0", "assistant"), (3L, "a1", "assistant"), (4L, "t0", "tool"))
      .toDF("id", "oid", "label")
    val es = Seq(
      (0L, 2L, "reply", 2.0), (0L, 3L, "reply", 1.0), (1L, 2L, "reply", 1.0),
      (2L, 3L, "reply", 1.0), (2L, 4L, "reply", 1.0),
      (2L, 4L, "invoke", 3.0), (3L, 4L, "invoke", 1.0))
      .toDF("src", "dst", "label", "weight")
    graft.graph.PropertyGraph(vs, es)
  }

  test("weightedShortestPathExpand takes the lightest per-label row of a pair") {
    // a0 → t0 has a reply row of weight 1.0 and an invoke row of 3.0: the
    // distance is the minimum row (1.0), not their sum (4.0, which the
    // a0 → a1 → t0 detour of 2.0 would then undercut)
    val got = G.V(pg, col("oid") === "a0").weightedShortestPathExpand()
      .auxilia().df.select(col("oid"), col("__dist"))
    assert(rows(got) == Set("a0|0.0", "a1|1.0", "t0|1.0"))
  }

  test("hasLabel scan + label-filtered expand over a labeled graph") {
    val got = Gremlin.run(pg,
      "g.V().hasLabel('user').out('reply').groupCount().by('label')")
    assert(rows(got) == Set("assistant|3"))
    // unfiltered out() over a labeled graph = union of the label
    // tables: a0→t0 contributes one traverser per label
    val both = Gremlin.run(pg, "g.V().has('oid', 'a0').out().groupCount().by('oid')")
    assert(rows(both) == Set("t0|2", "a1|1"))
    assert(rows(Gremlin.run(pg, "g.V().hasLabel('user', 'tool').values('oid')")) ==
      Set("u0", "u1", "t0"))
    // in('lbl') is the reverse label-filtered expand
    assert(rows(Gremlin.run(pg, "g.V().has('oid', 't0').in('invoke').values('oid')")) ==
      Set("a0", "a1"))
  }

  test("edge labels ride outE; label grouping and values('label')") {
    val sums = Gremlin.run(pg,
      "g.V().outE().group().by('label').by(__.values('weight').sum())")
    assert(rows(sums) == Set("reply|6.0", "invoke|4.0"))
    val inv = Gremlin.run(pg, "g.V().outE('invoke').values('weight')")
    assert(inv.collect().map(_.getDouble(0)).sorted.toSeq == Seq(1.0, 3.0))
    // values('label'): vertex-positioned = Auxilia fetch; edge-positioned
    // reads the carried __elabel
    assert(rows(Gremlin.run(pg, "g.V().hasLabel('tool').values('label')")) == Set("tool"))
    assert(rows(Gremlin.run(pg, "g.V().has('oid', 'a1').outE().values('label')")) ==
      Set("invoke"))
    // has('label', …): pushes into the vertex scan on a vertex frame,
    // filters the carried edge label on an edge frame
    assert(rows(Gremlin.run(pg,
      "g.V().has('label', P.within('user', 'tool')).values('oid')")) ==
      Set("u0", "u1", "t0"))
    val replyW = Gremlin.run(pg,
      "g.V().has('oid', 'a0').outE().has('label', 'reply').values('weight')")
    assert(replyW.collect().map(_.getDouble(0)).sorted.toSeq == Seq(1.0, 1.0))
  }

  test("value-routed branch(): label router, named options, none default") {
    // users expand via reply, assistants via invoke, the rest (t0) pass
    // through: 3 reply landings (assistant) + 2 invoke landings + t0
    val got = Gremlin.run(pg,
      "g.V().branch(__.label())" +
        ".option('user', __.out('reply'))" +
        ".option('assistant', __.out('invoke'))" +
        ".option(none, __.identity())" +
        ".groupCount().by('label')")
    assert(rows(got) == Set("assistant|3", "tool|3"))
    // choose(values(k)).option(…) is the same value router (TinkerPop
    // spells both; the reference lowers both through CaseWhenTreeNode)
    val oidRouted = Gremlin.run(pg,
      "g.V().choose(__.values('oid'))" +
        ".option('a0', __.out('invoke'))" +
        ".option(none, __.identity())" +
        ".values('oid')")
    assert(rows(oidRouted) == Set("u0", "u1", "a1", "t0"))
  }

  test("sack(): per-traverser accumulator folds along the walk") {
    // u0 --2.0--> a0 --{a1:1, t0:1(reply), t0:3(invoke)}, u0 --1.0--> a1 --1.0--> t0
    val got = Gremlin.run(pg,
      "g.withSack(0).V().has('oid', 'u0').outE().sack(sum).by('weight')" +
        ".inV().outE().sack(sum).by('weight').sack()")
    assert(got.collect().map(_.getDouble(0)).sorted.toSeq == Seq(2.0, 3.0, 3.0, 5.0))
    // minus from a non-zero init; assign overwrites
    val minus = Gremlin.run(pg,
      "g.withSack(10).V().has('oid', 'a1').outE().sack(minus).by('weight').sack()")
    assert(minus.collect().map(_.getDouble(0)).toSeq == Seq(9.0))
    val assign = Gremlin.run(pg,
      "g.withSack(0).V().has('oid', 'a1').outE().sack(assign).by('weight').sack()")
    assert(assign.collect().map(_.getDouble(0)).toSeq == Seq(1.0))
  }

  test("label steps require a labeled graph; ranges still parse as expands") {
    intercept[IllegalArgumentException](
      Gremlin.run(g, "g.V().hasLabel('user').values('oid')"))
    intercept[IllegalArgumentException](
      Gremlin.run(g, "g.V().out('reply').values('oid')"))
    // a range-shaped argument stays a PathExpand on a labeled graph,
    // and the labeled hop relation is the distinct pair set
    val hops = Gremlin.run(pg, "g.V().has('oid', 'u0').out('1..2').hops()")
    assert(rows(hops) == Set("a0|1", "a1|1", "t0|2"))
  }

  test("algorithm steps annotate the whole-graph app result exactly") {
    // pageRank(): the annotation must equal the direct app run
    val viaStep = Gremlin.run(g, "g.V().pageRank().times(3)")
      .select(col("__v").as("id"), round(col("pageRank"), 9).as("r"))
    val direct = graft.algos.PageRank.run(g, graft.algos.PageRank.Config(0.85, 3))
      .select(col("id"), round(col("rank"), 9).as("r"))
    assert(rows(viaStep) == rows(direct))
    // connectedComponent(): single component (t0→u1 closes the cycle)
    val cc = Gremlin.run(g, "g.V().connectedComponent()")
      .select(col("component")).distinct()
    assert(cc.collect().map(_.getLong(0)).toSeq == Seq(0L))
    // labelPropagation() equals the direct CDLP labels
    val lpa = Gremlin.run(g, "g.V().labelPropagation().times(4)")
      .select(col("__v").as("id"), col("communityLabel").as("label"))
    assert(rows(lpa) == rows(graft.algos.CDLP.run(g, 4)))
    // hits() annotates auth+hub; the step result can feed order()/limit
    val topAuth = Gremlin.run(g,
      "g.V().hits().times(5).order().by('auth', desc).limit(1).values('oid')")
    val directTop = graft.algos.HITS.run(g, maxIter = 5, tol = 0.0)
      .orderBy(desc("auth")).limit(1)
      .join(g.vertices.toDF, Seq("id")).select("oid")
    assert(rows(topAuth) == rows(directTop))
  }

  test("LDBC-shaped steps: labeled range expand, pred connectives, " +
      "count().is(), where(eq(tag)), select(keys|values) ordering, valueMap") {
    // label-filtered PathExpand: both('1..2','invoke') from a0 must NOT
    // walk reply edges — t0 at hop 1, a1 only via t0 at hop 2
    val lre = Gremlin.run(pg, "g.V().has('oid','a0').both('1..2','invoke').inV().hops()")
    assert(rows(lre) == Set("t0|1", "a1|2"))
    val lreReply = Gremlin.run(pg, "g.V().has('oid','a0').both('1..2','reply').hops()")
    assert(rows(lreReply) == Set("u0|1", "u1|1", "a1|1", "t0|1"))
    // predicate connectives: gte(2).and(lt(3)) keeps only the 2.0 edge
    val chain = Gremlin.run(pg,
      "g.V().outE().has('weight', P.gte(2).and(P.lt(3))).inV().dedup().values('oid')")
    assert(rows(chain) == Set("a0"))
    val orChain = Gremlin.run(pg,
      "g.V().has('oid', eq('u0').or(eq('t0'))).values('oid')")
    assert(rows(orChain) == Set("u0", "t0"))
    // correlated count predicate: >= 2 distinct reply successors
    val wc = Gremlin.run(pg,
      "g.V().where(__.out('reply').dedup().count().is(P.gte(2))).values('oid')")
    assert(rows(wc) == Set("u0", "a0"))
    // non-distinct count over the labeled union: a0 has 3 out-edges
    val wc3 = Gremlin.run(pg, "g.V().where(__.out().count().is(3)).values('oid')")
    assert(rows(wc3) == Set("a0"))
    // where(eq('x')): invoke out-in round trip returning to the start
    val weq = Gremlin.run(pg,
      "g.V().as('x').out('invoke').in('invoke').where(eq('x')).dedup().values('oid')")
    assert(rows(weq) == Set("a0", "a1"))
    // groupCount ordering by select(values)/select(keys) + Order.desc
    val top = Gremlin.run(pg,
      "g.V().out('reply').groupCount().by('oid')" +
        ".order().by(select(values), Order.desc).by(select(keys), asc).limit(2)")
    assert(top.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      == Seq(("a0", 2L), ("a1", 2L)))
    // scalar is() on a count frame
    assert(Gremlin.run(pg, "g.V().hasLabel('user').count().is(2)").count() == 1L)
    assert(Gremlin.run(pg, "g.V().hasLabel('user').count().is(3)").count() == 0L)
    // valueMap projection
    assert(rows(Gremlin.run(pg, "g.V().hasLabel('tool').valueMap('oid','label')"))
      == Set("t0|tool"))
  }

  test("project().by(prop).by(sub.count()) emits per-traverser columns") {
    val got = Gremlin.run(pg,
      "g.V().project('oid','n_out').by(values('oid')).by(__.out('reply').dedup().count())")
    // distinct reply successors: u0->2, u1->1, a0->2, a1->0, t0->0
    assert(rows(got) == Set("u0|2", "u1|1", "a0|2", "a1|0", "t0|0"))
  }

  test("multi-label expand unions the label tables") {
    // a0 out: reply {a1, t0}, invoke {t0} -> union = 3 traversers
    val got = Gremlin.run(pg,
      "g.V().has('oid','a0').out('reply','invoke').groupCount().by('oid')")
    assert(rows(got) == Set("a1|1", "t0|2"))
  }

  test("choose(pred, yes, no) routes branches by predicate") {
    val got = Gremlin.run(pg,
      "g.V().choose(__.hasLabel('assistant'), __.out('invoke'), __.out('reply'))" +
        ".groupCount().by('oid')")
    // assistants a0,a1 -> invoke (t0 x2); u0,u1,t0 -> reply (a0 x2, a1 x1)
    assert(rows(got) == Set("t0|2", "a0|2", "a1|1"))
  }

  test("shortestPath step (hop + weighted) and estimateCount") {
    // hop-count: from u0 the whole fixture is reachable within 3 hops
    val sp = Gremlin.run(g, "g.V().has('oid','u0').shortestPath(3).hops()")
    assert(rows(sp) == Set("u0|0", "a0|1", "a1|1", "t0|2", "u1|3"))
    // weighted: all edge weights are 1.0, so dist == hops as doubles
    val wsp = Gremlin.run(g, "g.V().has('oid','u0').shortestPath('weight').dist()")
    assert(rows(wsp) == Set("u0|0.0", "a0|1.0", "a1|1.0", "t0|2.0", "u1|3.0"))
    // deterministic HLL: 4 distinct out-targets sit in the
    // linear-counting regime — m·ln(m/V) rounds back to the exact count
    val est = Gremlin.run(g, "g.V().out().estimateCount()")
    assert(math.round(est.collect().head.getDouble(0)) == 4L)
  }

  test("inE/bothE/otherV: edge-positioned expands agree with both()") {
    // bothE().otherV() must land on exactly the endpoints both() visits
    val viaBothE = Gremlin.run(g, "g.V().has('oid','a0').bothE().otherV().groupCount().by('oid')")
    val viaBoth = Gremlin.run(g, "g.V().has('oid','a0').both().groupCount().by('oid')")
    assert(rows(viaBothE) == rows(viaBoth))
    assert(rows(viaBothE) == Set("u0|1", "u1|1", "t0|1", "a1|1"))
    // inE().outV() walks upstream to in-neighbors
    val up = Gremlin.run(g, "g.V().has('oid','t0').inE().outV().groupCount().by('oid')")
    assert(rows(up) == Set("a0|1", "a1|1"))
    // inE().inV() stays put (END = the origin)
    val stay = Gremlin.run(g, "g.V().has('oid','t0').inE().inV().groupCount().by('oid')")
    assert(rows(stay) == Set("t0|2"))
    // otherV after outE = the END vertex
    val dn = Gremlin.run(g, "g.V().has('oid','u0').outE().otherV().groupCount().by('oid')")
    assert(rows(dn) == Set("a0|1", "a1|1"))
  }

  test("local-scope ops, constant, barrier, peerPressure") {
    // fold → limit(local, 2) → unfold: first 2 of the sorted neighbor list
    val lim = Gremlin.run(g,
      "g.V().has('oid','u0').out().values('oid').fold().limit(local, 2).unfold()")
    assert(lim.collect().map(_.getString(0)).toSeq.sorted == Seq("a0", "a1"))
    // count(local) sizes the folded list
    val cl = Gremlin.run(g, "g.V().out().values('oid').fold().count(local)")
    assert(cl.collect().head.getLong(0) == 7L)
    // order(local) is idempotent on our sorted fold
    val ol = Gremlin.run(g,
      "g.V().has('oid','u0').out().values('oid').fold().order(local).unfold()")
    assert(ol.collect().map(_.getString(0)).toSeq == Seq("a0", "a1"))
    // constant(n) maps every traverser to the literal; barrier is a no-op
    val c = Gremlin.run(g, "g.V().has('oid','u0').out().barrier().constant(7).count()")
    assert(c.collect().head.getLong(0) == 2L)
    // peerPressure() lowers to the label-propagation cluster program
    val pp = Gremlin.run(g,
      "g.V().peerPressure().times(2).has('oid','u0').values('communityLabel')")
    val lp = Gremlin.run(g,
      "g.V().labelPropagation().times(2).has('oid','u0').values('communityLabel')")
    assert(rows(pp) == rows(lp))
  }

  test("g.E() edge-scan source composes with the edge-step family") {
    // one traverser per edge; outV = edge START → out-degree counts
    val deg = Gremlin.run(g, "g.E().outV().groupCount().by('oid')")
    assert(rows(deg) == Set("u0|2", "u1|1", "a0|2", "a1|1", "t0|1"))
    // the weight predicate lands on the edge scan (all fixture weights
    // are 1.0: gte keeps everything, gt drops everything)
    assert(Gremlin.run(g, "g.E().has('weight', P.gte(1)).count()")
      .collect().head.getLong(0) == 7L)
    assert(Gremlin.run(g, "g.E().has('weight', P.gt(1)).count()")
      .collect().head.getLong(0) == 0L)
  }

  test("LDBC CR-1 step family: identity/dedup-by-id/path count(local)/ordered page") {
    val got = Gremlin.run(g,
      "g.V().has('oid', 'u0').out()" +
        ".union(identity(), out().union(identity(), out()))" +
        ".dedup().by('id').as('a').path().count(local).as('b').select('a')" +
        ".order().by(select('b'), incr).by('oid').limit(10).select('a', 'b')")
    // min-hop walk per vertex: a0/a1 at 1 hop (b=2), t0 at 2 (b=3,
    // via either a0 or a1 — dedup keeps exactly one), u1 at 3 (b=4)
    assert(rows(got) == Set("a0|2", "a1|2", "t0|3", "u1|4"))
    // dedup().by(prop): one traverser per distinct oid value
    val byProp = Gremlin.run(g,
      "g.V().out().dedup().by('oid').values('oid')")
    assert(byProp.collect().map(_.getString(0)).sorted.toSeq ==
      Seq("a0", "a1", "t0", "u1"))
  }

  test("range/skip/tail paginate an ordered traverser stream") {
    def page(q: String): Seq[String] =
      Gremlin.run(g, q).collect().map(_.getString(0)).toSeq
    assert(page("g.V().order().by('oid').range(1, 3).values('oid')") == Seq("a1", "t0"))
    assert(page("g.V().order().by('oid').skip(3).values('oid')") == Seq("u0", "u1"))
    assert(page("g.V().order().by('oid').tail(2).values('oid')") == Seq("u0", "u1"))
    // terminal-frame pagination (after groupCount/order)
    val gc = Gremlin.run(g,
      "g.V().out().groupCount().by('oid')" +
        ".order().by(select(values), desc).by(select(keys), asc).range(1, 3)")
    assert(rows(gc) == Set("a1|2", "t0|2")) // in-deg: a0:2, a1:2, t0:2, u1:1
  }

  test("math() computes a per-traverser expression with correct precedence") {
    val vals = Gremlin.run(g,
      "g.V().outE().values('weight').math('(_ + 1) * 2 + 1 / (_ + 3)')")
      .collect().map(_.getDouble(0)).toSeq
    assert(vals.size == 7 && vals.forall(v => math.abs(v - 4.25) < 1e-15))
    // sqrt/abs and unary minus; _ = 1.0 → sqrt(abs(1 - 5)) - 1 = 1
    val v2 = Gremlin.run(g,
      "g.V().outE().values('weight').math('sqrt(abs(_ - 5)) - 1')")
      .collect().map(_.getDouble(0)).toSeq
    assert(v2.forall(v => math.abs(v - 1.0) < 1e-15))
    intercept[IllegalArgumentException](
      Gremlin.run(g, "g.V().outE().values('weight').math('log(_)')"))
  }

  test("mutation plane: addV/property/addE/drop commit snapshot versions") {
    val root = java.nio.file.Files.createTempDirectory("graft-gmut-spec")
    try {
      val store = new graft.ingest.SnapshotStore(root.toString)
      val (g1, v1) = Gremlin.mutate(g,
        "g.addV().property('oid', 'x0')", store, "vs", "es")
      assert(g1.vertices.count() == 6)
      val (g2, _) = Gremlin.mutate(g1,
        "g.V().has('oid', 'a0').addE().to(V().has('oid', 'x0')).property('weight', 5)",
        store, "vs", "es")
      assert(g2.edges.count() == 8)
      val (g3, v3) = Gremlin.mutate(g2,
        "g.V().has('oid', 't0').drop()", store, "vs", "es")
      // t0's three incident edges pruned with it
      assert(g3.vertices.count() == 5 && g3.edges.count() == 5)
      assert(v3 > v1, "each write group must commit a NEW snapshot version")
      val (g4, _) = Gremlin.mutate(g3,
        "g.E().has('weight', P.gte(5)).drop()", store, "vs", "es")
      val left = g4.edges.toDF
        .join(g4.vertices.toDF.select(col("id").as("src"), col("oid").as("s")), "src")
        .join(g4.vertices.toDF.select(col("id").as("dst"), col("oid").as("d")), "dst")
        .select(col("s"), col("d"))
      assert(rows(left) == Set("u0|a0", "u0|a1", "u1|a0", "a0|a1"))
      // property update: oid rename rides the add-batch-wins merge
      val (g5, _) = Gremlin.mutate(g4,
        "g.V().has('oid', 'x0').property('oid', 'x1')", store, "vs", "es")
      assert(g5.vertices.toDF.where(col("oid") === "x1").count() == 1)
      assert(g5.vertices.toDF.where(col("oid") === "x0").count() == 0)
      // read-your-writes: the latest snapshot IS the returned graph
      val (latestV, latestVs) = store.readLatest(spark, "vs").get
      assert(latestV >= v3 && latestVs.count() == g5.vertices.count())
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(root.toFile)
    }
  }

  test("aggregate(tag) side-effect barrier: where(without/within) and cap") {
    // u0.out() = {a0, a1} collects into x; 2-hop bag = {t0, a1, t0}
    val without = Gremlin.run(g,
      "g.V().has('oid', 'u0').out().aggregate('x')" +
        ".out().where(P.without('x')).groupCount().by('oid')")
    assert(rows(without) == Set("t0|2"))
    val within = Gremlin.run(g,
      "g.V().has('oid', 'u0').out().aggregate('x')" +
        ".out().where(P.within('x')).groupCount().by('oid')")
    assert(rows(within) == Set("a1|1"))
    // cap emits the bulk set: a0 reached from u0 and u1, a1 from u0 only
    val cap = Gremlin.run(g,
      "g.V().has('oid', TextP.startingWith('u')).out().aggregate('x').cap('x')")
    assert(rows(cap) == Set("a0|2", "a1|1"))
    // P.without with literal VALUES (no side effect of that name) still
    // routes to the value predicate, not the set filter
    val literal = Gremlin.run(g,
      "g.V().has('oid', P.without('u0', 'u1')).values('oid')")
    assert(rows(literal) == Set("a0", "a1", "t0"))
  }

  test("cyclicPath()/simplePath() step forms partition tracked walks") {
    // 3-hop walks: exactly a0→t0→u1→a0, u1→a0→t0→u1, t0→u1→a0→t0 revisit
    val cyc = Gremlin.run(g,
      "g.V().out().out().out().cyclicPath().groupCount().by('oid')")
    assert(rows(cyc) == Set("a0|1", "u1|1", "t0|1"))
    val simple = Gremlin.run(g,
      "g.V().out().out().out().simplePath().count()")
    assert(simple.collect().head.getLong(0) == 7L)
  }

  test("tree() merges traverser histories into distinct prefixes") {
    val tr = Gremlin.run(g, "g.V().has('oid', 'u0').out().out().tree()")
    assert(rows(tr) == Set(
      "1|u0", "2|u0>a0", "2|u0>a1",
      "3|u0>a0>t0", "3|u0>a0>a1", "3|u0>a1>t0"))
  }

  test("g.V(ids) point lookup seeds from the explicit oid set") {
    // u0.out() = {a0, a1}; t0.out() = {u1}; unknown id matches nothing
    val r = Gremlin.run(g, "g.V('u0', 't0', 'zz').out().groupCount().by('oid')")
    assert(rows(r) == Set("a0|1", "a1|1", "u1|1"))
  }

  test("store(tag) lazily collects; cap reads the full set") {
    val r = Gremlin.run(g, "g.V('u0').out().store('x').out().cap('x')")
    assert(rows(r) == Set("a0|1", "a1|1"))
  }

  test("coin(p) is a deterministic per-element gate") {
    val all = Gremlin.run(g, "g.V().coin(1.0).count()").collect().head.getLong(0)
    assert(all == 5L)
    val none = Gremlin.run(g, "g.V().coin(0.0).count()").collect().head.getLong(0)
    assert(none == 0L)
    // a mid threshold is deterministic (two runs agree) and a subset
    val a = rows(Gremlin.run(g, "g.V().coin(0.5).values('oid')"))
    val b = rows(Gremlin.run(g, "g.V().coin(0.5).values('oid')"))
    assert(a == b && a.subsetOf(Set("u0", "u1", "a0", "a1", "t0")))
  }

  test("profile() reports per-step traverser counts") {
    val r = Gremlin.run(g, "g.V().has('oid', 'u0').out().out().profile()")
    assert(rows(r) == Set("0|V|5", "1|has|1", "2|out|2", "3|out|3"))
  }

  test("emit(<sub>) filters mid-loop copies; final round halts all") {
    // r1 = {a0, a1}, both match 'a%' → emitted; r2 = {t0, a1, t0} all out
    val r = Gremlin.run(g,
      "g.V().has('oid', 'u0').repeat(__.out())" +
        ".emit(has('oid', TextP.startingWith('a'))).times(2)" +
        ".groupCount().by('oid')")
    assert(rows(r) == Set("a0|1", "a1|2", "t0|2"))
    // with a filter nothing matches: only the final round survives
    val none = Gremlin.run(g,
      "g.V().has('oid', 'u0').repeat(__.out())" +
        ".emit(has('oid', TextP.startingWith('z'))).times(2)" +
        ".groupCount().by('oid')")
    assert(rows(none) == Set("t0|2", "a1|1"))
    // emit filter composes with until: t0 exits at until in round 2
    // (2 copies, unfiltered) and once more via the times halt; the
    // z-gated emit never copies the surviving a1 out
    val both = Gremlin.run(g,
      "g.V().has('oid', 'u0').repeat(__.out())" +
        ".emit(has('oid', TextP.startingWith('z')))" +
        ".until(has('oid', 't0')).times(3).groupCount().by('oid')")
    assert(rows(both) == Set("t0|3"))
  }

  test("hasId filters mid-traversal; existence family honors the closed schema") {
    // out() landings: a0,a1 (u0), a0 (u1), t0 (a0), t0 (a1), a1 (a0), u1 (t0)
    assert(rows(Gremlin.run(g, "g.V().out().hasId('a0', 't0').values('oid')"))
      == Set("a0", "t0"))
    // hasNot of a non-schema key keeps everything; of a total schema
    // column keeps nothing; has(key) is the complement
    assert(rows(Gremlin.run(g, "g.V().hasNot('nickname').count()")) == Set("5"))
    assert(rows(Gremlin.run(g, "g.V().hasNot('oid').count()")) == Set("0"))
    assert(rows(Gremlin.run(g, "g.V().has('nickname').count()")) == Set("0"))
    assert(rows(Gremlin.run(g, "g.V().has('oid').count()")) == Set("5"))
  }

  test("elementMap and properties render the closed-schema property plane") {
    assert(rows(Gremlin.run(g, "g.V('u0', 't0').elementMap()"))
      == Set("0|u0", "4|t0"))
    // bag semantics: one (key, value) row per traverser per property
    assert(rows(Gremlin.run(g, "g.V('u0').out().properties('oid')"))
      == Set("oid|a0", "oid|a1"))
    assert(rows(Gremlin.run(g, "g.V('u0').properties()")) == Set("oid|u0"))
  }

  test("local numeric folds aggregate the folded list per row") {
    assert(rows(Gremlin.run(g, "g.V().outE().values('weight').fold().sum(local)"))
      == Set("7.0"))
    assert(rows(Gremlin.run(g, "g.V().outE().values('weight').fold().max(local)"))
      == Set("1.0"))
    assert(rows(Gremlin.run(g,
      "g.V('u0').outE().group().by('oid').by(__.values('weight').fold()).mean(local)"))
      == Set("a0|1.0", "a1|1.0"))
  }

  test("parse errors are rejected with position info") {
    val e1 = intercept[IllegalArgumentException](Gremlin.run(g, "g.V().has('oid'"))
    assert(e1.getMessage.contains("parse error"))
    val e2 = intercept[IllegalArgumentException](Gremlin.run(g, "V().out()"))
    assert(e2.getMessage.contains("must start with g"))
    intercept[IllegalArgumentException](Gremlin.run(g, "g.V().frobnicate()"))
    // truncated input must surface as a positioned parse error, never a
    // StringIndexOutOfBoundsException from an unguarded peek/stringLit
    for (bad <- Seq("g.V().has(", "g.V().has('", "g.V().has('oid',", "g.")) {
      val e = intercept[IllegalArgumentException](Gremlin.run(g, bad))
      assert(e.getMessage.contains("parse error") || e.getMessage.contains("must start with"),
        s"input: $bad → ${e.getMessage}")
    }
  }

  test("select() after order().limit() keeps the requested order on the index and join paths") {
    val s = spark
    import s.implicits._
    // users reply to assistants; dense ids follow the oid order
    val users = Seq("u0", "u1", "u2", "u3")
    val pg2 = graft.graph.PropertyGraph(
      (Seq("a0" -> "assistant", "a1" -> "assistant") ++ users.map(_ -> "user")).zipWithIndex
        .map { case ((o, l), i) => (i.toLong, o, l) }.toDF("id", "oid", "label"),
      Seq((2, 0), (3, 0), (4, 1), (5, 1), (2, 1)).map { case (a, b) => (a.toLong, b.toLong, "reply", 1.0) }
        .toDF("src", "dst", "label", "weight"))
    // CR-2's sink: m's oid descending, then p ascending
    val text = "g.V().hasLabel('user').out('reply').as('p').in('reply').as('m')" +
      ".order().by('oid', desc).by(select('p'), asc).limit(10).select('p', 'm')"
    def ordered(): Seq[(String, String)] =
      Gremlin.run(pg2, text).collect().map(r => (r.getString(0), r.getString(1))).toSeq
    val want = Seq.fill(3)(("a1", "u3")) ++ Seq.fill(3)(("a1", "u2")) ++ Seq.fill(2)(("a0", "u1")) ++
      Seq.fill(2)(("a0", "u0"))
    assert(ordered() == want, "index path order")
    assert(viaJoin(ordered()) == want, "join path order")
  }

  test("ordered predicates compare string properties as strings, numeric ones as numbers") {
    val s = spark
    import s.implicits._
    val names = Seq("3", "5", "12", "40", "a")
    val vs = names.zipWithIndex.map { case (n, i) => graft.schema.Vertex(i.toLong, n) }.toDS()
    val es = Seq((0, 1, 1.0), (1, 2, 2.0), (2, 3, 10.0), (3, 4, 3.0), (4, 0, 2.5))
      .map { case (a, b, w) => graft.schema.Edge(a.toLong, b.toLong, w) }.toDS()
    val sg = graft.graph.LinkGraph(vs, es)
    for (path <- Seq("index", "join")) {
      def run(q: String): Set[String] =
        if (path == "index") rows(Gremlin.run(sg, q)) else viaJoin(rows(Gremlin.run(sg, q)))
      // as strings "12" and "40" sort below "5" and "a" above it; as
      // numbers every oid but "a" would fail to parse
      assert(run("g.V().has('oid', P.lte('5')).values('oid')") == Set("3", "5", "12", "40"), path)
      assert(run("g.V().out().has('oid', P.between('12', '5')).values('oid')") == Set("12", "3", "40"), path)
      // weights and counts stay numeric: 10.0 > 3 although "10.0" < "3"
      assert(run("g.V().outE().has('weight', P.gt(3)).inV().values('oid')") == Set("40"), path)
      assert(run("g.V().out().count().is(P.gt(4))") == Set("5"), path)
    }
  }
}
