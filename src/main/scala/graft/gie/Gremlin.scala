package graft.gie

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.graph.{LinkGraph, PropertyGraph}

/** Gremlin *text* front-end for the GIE plane: parses a traversal
  * string into the [[Traversal]] algebra, so a user can submit
  * `g.V().has('oid', 'system').out('1..3')` instead of calling the
  * Scala DSL. Mirrors the reference's compiler entry point
  * (`interactive_engine/compiler/.../LogicalPlanOptimizer.java:56` —
  * antlr Gremlin → IR; `research/query_service/ir/core/src/plan/
  * logical.rs`), restated as a hand-rolled recursive-descent parser
  * over the step subset the algebra implements. The GIE dialect's
  * range expansion `out('1..3')` (PathExpand) is supported.
  *
  * Supported steps: `V()`, `hasLabel('l'[, …])` and label-filtered
  * expands `out('lbl') | in('lbl') | both('lbl') | outE('lbl')` plus
  * `values('label')` / `has('label', <p>)` (labeled property graphs —
  * the reference's QueryParams.tables label pushdown; a non-range
  * string argument to an expand step is an edge label),
  * `has('oid', <lit>)`,
  * `has('oid', TextP.startingWith | notStartingWith | containing |
  * notContaining | endingWith | notEndingWith (p) | eq(x) | neq(x) |
  * within(a,b) | without(a,b))`,
  * `has('weight', P.gt|gte|lt|lte(n) | between(a,b) | inside(a,b))`
  * (numeric predicates; `weight` is the edge property an `outE()`
  * traverser carries), predicate connectives
  * `P.gt(a).and(P.lt(b))` / `eq(x).or(eq(y))` (AndTreeNode/OrTreeNode
  * trees), `out() | in() | both()`, `outE()`, `inV()`,
  * `outV()`, `out('l..u') | in('l..u') | both('l..u')`
  * (PathExpand + endV, base-expand direction from the step name),
  * `out('l..u', 'lbl') | in('l..u', 'lbl') | both('l..u', 'lbl')`
  * (label-filtered PathExpand — the LDBC `both('1..3','KNOWS')` shape),
  * `out('l..u').path()` / `out('l..u').simplePath().path()` (PathExpand
  * result_opt ALL_V: materialized walks with a `path_str` column),
  * `values('oid'|'weight')`, `dedup()`, `as('t')`, `select('t')`,
  * `where(<sub>)`, `where(<sub>.[dedup().]count().is(<p>))` (correlated
  * count predicate), `where('a', P.neq|eq('b'))` (tag comparison),
  * `where(P.eq|neq('t'))` (current vertex vs tag),
  * `select('a','b',…)` (multi-tag oid projection), `is(<p>)` (scalar
  * predicate on a terminal frame), `valueMap('p',…)` (property-map
  * projection), `order().by(select(keys|values), asc|desc)` and
  * `order().by(select('t'), …)` (group-frame / tag ordering),
  * `not(<sub>)`, `and(<sub>, …)`, `or(<sub>, …)`,
  * `union(<sub>, …)`, `coalesce(<sub>, …)` (first non-empty branch per
  * traverser), `optional(<sub>)`, `match(<as-tagged sentences>)`,
  * `subgraph('sg')[.cap('sg')]` (edge-induced subgraph sink), `id()`,
  * `sample(n)` (deterministic portable-pick-hash),
  * `repeat(<sub>)` with `until(<sub>)` / `emit()` / `times(n)`
  * modulators in any order (whichever bound fires first ends the loop),
  * `group().by(key).by([values(f).]sum|max|min|mean|count|fold())`,
  * `groupCount().by('oid')`, `fold()`, `unfold()`,
  * `order().by(col, asc|desc)…`,
  * `limit(n)`, `count()`, `sum|min|max|mean()` (global terminals over a
  * preceding `values(f)` frame), `endV()`, `hops()` (GIE Auxilia on the
  * PathExpand hop column). String literals take single or double
  * quotes; anonymous sub-traversals may start with `__.`.
  */
object Gremlin {

  // ---- AST ----
  private sealed trait Arg
  private case class Lit(s: String) extends Arg
  private case class Num(n: Long) extends Arg
  // bare fractional literal (coin(0.37)); integers stay Num
  private case class Frac(d: Double) extends Arg
  private case class Pred(fn: String, args: Seq[String]) extends Arg
  // predicate connective tree: P.gt(a).and(P.lt(b)) / eq(x).or(eq(y))
  private case class PredComb(op: String, a: Arg, b: Arg) extends Arg
  private case class Sub(steps: List[Step]) extends Arg
  private case class Sym(s: String) extends Arg // asc / desc / bare word
  private case class Step(name: String, args: List[Arg])

  // ---- tokenizer / recursive descent ----
  private final class P(s: String) {
    private var i = 0
    private def ws(): Unit = while (i < s.length && s(i).isWhitespace) i += 1
    def eof: Boolean = { ws(); i >= s.length }
    def peek: Char = { ws(); if (i >= s.length) fail("unexpected end of input"); s(i) }
    def eat(c: Char): Unit = {
      ws()
      if (i >= s.length || s(i) != c) fail(s"expected '$c'")
      i += 1
    }
    def tryEat(c: Char): Boolean = {
      ws()
      if (i < s.length && s(i) == c) { i += 1; true } else false
    }
    def ident(): String = {
      ws()
      val j = i
      while (i < s.length && (s(i).isLetterOrDigit || s(i) == '_')) i += 1
      if (i == j) fail("expected identifier")
      s.substring(j, i)
    }
    def stringLit(): String = {
      ws()
      if (i >= s.length) fail("expected string literal")
      val q = s(i)
      if (q != '\'' && q != '"') fail("expected string literal")
      i += 1
      val j = i
      while (i < s.length && s(i) != q) i += 1
      if (i >= s.length) fail("unterminated string")
      val out = s.substring(j, i)
      i += 1
      out
    }
    /** Numeric literal with an optional fraction (P.gt(0.5)), raw text. */
    def numberLit(): String = {
      ws()
      val j = i
      while (i < s.length && (s(i).isDigit || s(i) == '.')) i += 1
      if (i == j) fail("expected number")
      s.substring(j, i)
    }
    def fail(msg: String): Nothing =
      throw new IllegalArgumentException(s"gremlin parse error at ${i}: $msg in: $s")

    /** `g.V()....` or an anonymous `__.out()...` / `out()...` chain. */
    def chain(anonymous: Boolean): List[Step] = {
      ws()
      if (!anonymous) {
        if (ident() != "g") fail("traversal must start with g")
        eat('.')
      } else if (s.startsWith("__", i)) { i += 2; eat('.') }
      var steps = List.newBuilder[Step]
      var first = true
      while (!eof && (first || tryEat('.'))) {
        first = false
        val name = ident()
        eat('(')
        val args = List.newBuilder[Arg]
        if (peek != ')') {
          args += arg()
          while (tryEat(',')) args += arg()
        }
        eat(')')
        steps += Step(name, args.result())
        ws()
        if (i < s.length && s(i) != '.') {
          if (!anonymous && i < s.length) fail(s"trailing input")
        }
      }
      steps.result()
    }

    private def arg(): Arg = {
      ws()
      val c = peek
      if (c == '\'' || c == '"') Lit(stringLit())
      else if (c.isDigit) {
        val raw = numberLit()
        if (raw.contains('.')) Frac(raw.toDouble) else Num(raw.toLong)
      }
      else {
        // identifier: predicate fn, TextP.xxx, bare symbol, or sub-traversal
        val save = i
        var id = ident()
        ws()
        if (id == "TextP" || id == "P" || id == "Order") { eat('.'); id = ident(); ws() }
        if (i < s.length && s(i) == '(') {
          if (PredFns.contains(id)) {
            eat('(')
            val vs = List.newBuilder[String]
            def one(): String = { val c = peek; if (c == '\'' || c == '"') stringLit() else numberLit() }
            vs += one()
            while (tryEat(',')) vs += one()
            eat(')')
            // connective chaining (TinkerPop P.and/P.or, the reference's
            // AndTreeNode/OrTreeNode predicate trees — LDBC q3's
            // gt(a).and(lt(b)) shape): .and(<pred>) / .or(<pred>)
            var p: Arg = Pred(id, vs.result())
            var chained = true
            while (chained) {
              ws()
              val save2 = i
              if (i < s.length && s(i) == '.') {
                i += 1
                val op = ident()
                ws()
                if ((op == "and" || op == "or") && i < s.length && s(i) == '(') {
                  eat('('); val rhs = arg(); eat(')')
                  p = PredComb(op, p, rhs)
                } else { i = save2; chained = false }
              } else chained = false
            }
            p
          } else { i = save; Sub(chain(anonymous = true)) }
        } else if (id == "__") { i = save; Sub(chain(anonymous = true)) }
        else Sym(id)
      }
    }
  }

  private val RangeLit = """(\d+)\.\.(\d+)""".r

  /** Recognized predicate constructors (TextP.* / P.*). */
  private val PredFns = Set(
    "eq", "neq", "within", "without", "startingWith", "notStartingWith",
    "containing", "notContaining", "endingWith", "notEndingWith",
    "gt", "gte", "lt", "lte", "between", "inside")

  /** Safety bound for `repeat().until()` without an explicit `times()`
    * — the loop ends when every traverser has exited or died, but a
    * cyclic graph with an unsatisfiable predicate would otherwise spin
    * forever (the reference's pegasus runtime has the same
    * `max_iters` guard on `iterate_until`).
    */
  private val MaxRepeatRounds = 50

  /** Parse + lower a Gremlin traversal string over graph `g`. Returns
    * the result frame (terminal `values`/`groupCount`/`count`/… or the
    * traverser frame's columns as-is).
    */
  def run(g: LinkGraph, text: String): DataFrame = run(GGraph(g), text)

  /** Parse + lower over a labeled property graph — enables the
    * label-aware steps (`hasLabel`, `out('reply')`, `values('label')`,
    * `has('label', …)`).
    */
  def run(pg: PropertyGraph, text: String): DataFrame = run(GGraph(pg), text)

  def run(g: GGraph, text: String): DataFrame = {
    val steps = new P(text).chain(anonymous = false)
    val (src, tl) = steps match {
      // ScanOpt VERTEX or EDGE (`algebra.proto:196`; edge source
      // `sourcestep/edge.rs:89`): a traversal roots at the vertex scan
      // or — for edge-centric audit queries — directly at the edge scan
      case Step("V", Nil) :: t => (G.V(g), t)
      // g.V(id, id, …) point lookup (the reference's Scan with a
      // global-id IndexPredicate, `algebra.proto:162` — GlobalIdsScan):
      // the id set lands ON the vertex scan as an IN predicate, so at
      // scale it prunes to the matching row groups instead of scanning
      // all vertices. Ids here are the external oids (the user-visible
      // identifier plane).
      case Step("V", args) :: t if args.nonEmpty =>
        val oids = args.map {
          case Lit(v) => v
          case other => throw new IllegalArgumentException(
            s"g.V(ids) takes oid string literals, got $other")
        }
        (G.V(g, col("oid").isin(oids: _*)), t)
      case Step("E", Nil) :: t => (G.E(g), t)
      // g.withSack(n).V()… — traverser-local accumulator init
      case Step("withSack", List(Num(n))) :: Step("V", Nil) :: t =>
        (G.V(g).withSack(n.toDouble), t)
      case _ => throw new IllegalArgumentException(
        "traversal must start with g.V(), g.E() or g.withSack(n).V()")
    }
    // step-level path() (PathTreeNode) needs the source switched into
    // path-tracked mode before the first expansion
    val src2 = if (needsTracking(tl)) {
      require(steps.head.name == "V", "path tracking requires a V() source")
      src.trackPaths()
    } else src
    tl.lastOption match {
      case Some(Step("profile", Nil)) =>
        profile(src2, steps.head.name, tl.init)
      case _ =>
        eval(src2, tl, sourceDone = true) match {
          case Left(t) => t.df
          case Right(df) => df
        }
    }
  }

  /** `profile()` terminal (TinkerPop ProfileStep; the reference's
    * gremlin query-profiling plane): the traverser COUNT after the
    * source and after each step, as `(step_idx, step, traversers)`.
    * Implemented as prefix re-evaluation — each prefix is one counted
    * Spark job — so it is a DIAGNOSTICS mode, not a production path;
    * per-step wall time is deliberately not emitted (non-deterministic,
    * would break result oracles). Prefixes that cut a step from its
    * by()-modulators are the caller's responsibility, exactly as a
    * TinkerPop profile over a half-built traversal would be.
    */
  private def profile(src: Traversal, srcName: String, init: List[Step]): DataFrame = {
    val spark = src.df.sparkSession
    val rows = (0 to init.length).map { i =>
      val n = eval(src, init.take(i), sourceDone = true) match {
        case Left(tr) => tr.df.count()
        case Right(d) => d.count()
      }
      (i.toLong, if (i == 0) srcName else init(i - 1).name, n)
    }
    import spark.implicits._
    rows.toDF("step_idx", "step", "traversers")
  }

  /** Does the top-level chain use `path()` as a STEP (vs the range-expand
    * terminal form `out('1..2')[.simplePath()].path()`, which manages its
    * own walk accumulation)?
    */
  private def needsTracking(steps: List[Step]): Boolean = {
    @annotation.tailrec
    def go(ss: List[Step], afterRange: Boolean): Boolean = ss match {
      case Step("out" | "in" | "both", List(Lit(RangeLit(_, _)))) :: tl => go(tl, true)
      case Step("out" | "in" | "both", List(Lit(RangeLit(_, _)), Lit(_))) :: tl => go(tl, true)
      case Step("simplePath", Nil) :: tl => if (afterRange) go(tl, afterRange) else true
      case Step("path", Nil) :: tl => if (afterRange) go(tl, false) else true
      case Step("cyclicPath" | "tree", Nil) :: _ => true
      case _ :: tl => go(tl, false)
      case Nil => false
    }
    go(steps, afterRange = false)
  }

  /** A P-predicate literal: Right(double) when numeric, Left(raw
    * string) otherwise (TinkerPop P compares any Comparable).
    */
  private def ordCmp(v: String): Either[String, Double] =
    try Right(v.toDouble) catch { case _: NumberFormatException => Left(v) }

  /** Vertex properties of string type; the others (`id`, and the edge
    * `weight` and counts) are numeric.
    */
  private val StringProps = Set("oid", "label")

  /** Lower a has()/where() predicate over a concrete column. String
    * predicates compare raw; the ordered family (`expr.proto:61-98` LT/
    * LE/GT/GE + TinkerPop between/inside) compares by the property's
    * type: as numbers on a `numeric` one (a literal that does not parse
    * compares raw, [[ordCmp]]), as strings on a string one, so
    * `has('oid', P.lte('5'))` is a string comparison. `between(a,b)` is
    * TinkerPop's [a, b); `inside(a,b)` is (a, b).
    */
  private def predOn(c: Column, p: Arg, numeric: Boolean): Column = {
    // binary collation on strings — identical in Spark UTF8String and
    // DuckDB's default collation for the ASCII oids (CR-2's
    // has('creationDate', lte($maxDate)) is this ordered-property shape)
    def ord(v: String): Any = if (numeric) ordCmp(v).fold(identity, identity) else v
    p match {
      case Lit(v) => c === v
      case Num(n) => c === n
      case PredComb("and", a, b) => predOn(c, a, numeric) && predOn(c, b, numeric)
      case PredComb("or", a, b) => predOn(c, a, numeric) || predOn(c, b, numeric)
      case Pred("eq", Seq(v)) => c === v
      case Pred("neq", Seq(v)) => c =!= v
      case Pred("within", vs) => c.isin(vs: _*)
      case Pred("without", vs) => !c.isin(vs: _*)
      case Pred("startingWith", Seq(v)) => c.startsWith(v)
      case Pred("notStartingWith", Seq(v)) => !c.startsWith(v)
      case Pred("containing", Seq(v)) => c.contains(v)
      case Pred("notContaining", Seq(v)) => !c.contains(v)
      case Pred("endingWith", Seq(v)) => c.endsWith(v)
      case Pred("notEndingWith", Seq(v)) => !c.endsWith(v)
      case Pred("gt", Seq(v)) => c > ord(v)
      case Pred("gte", Seq(v)) => c >= ord(v)
      case Pred("lt", Seq(v)) => c < ord(v)
      case Pred("lte", Seq(v)) => c <= ord(v)
      case Pred("between", Seq(a, b)) => c >= ord(a) && c < ord(b)
      case Pred("inside", Seq(a, b)) => c > ord(a) && c < ord(b)
      case other => throw new IllegalArgumentException(s"unsupported has predicate: $other")
    }
  }

  /** A correlated filter body that is ONE move on the adjacency index,
    * as per-row arrays: `rows` holds the move's results (neighbour ids,
    * or the edge structs an `outE`/`inE`/`bothE` move keeps after its
    * `has` filters), and `ends`, when the body ends at the far endpoint,
    * the ids it ends at.
    */
  private final case class Move(rows: Column, ends: Option[Column])

  /** [[Move]] for a body `out|in|both(l…)` or `outE|inE|bothE([l])`
    * followed by `has('weight'|'label', p)` filters and at most one of
    * `inV`/`outV`/`otherV`; None for any other body, and over the
    * broadcast threshold (the caller then plans the sub-traversal).
    */
  private def oneMove(t: Traversal, body: List[Step]): Option[Move] = {
    def labels(args: List[Arg]): Option[Seq[String]] = {
      val ls = args.collect { case Lit(l) if !RangeLit.matches(l) => l }
      if (ls.size == args.size && (ls.isEmpty || t.labeled)) Some(ls) else None
    }
    body match {
      case List(Step(dir @ ("out" | "in" | "both"), args)) =>
        labels(args).flatMap(t.neighbourList(dir, _)).map(a => Move(a, Some(a)))
      case Step(e @ ("outE" | "inE" | "bothE"), args) :: tl if args.size <= 1 =>
        val (hasSteps, end) = tl.span(_.name == "has")
        val preds = hasSteps.collect {
          case Step("has", List(Lit("weight"), p)) => (x: Column) => predOn(x("weight"), p, numeric = true)
          case Step("has", List(Lit("label"), p)) if t.labeled =>
            (x: Column) => predOn(x("label"), p, numeric = false)
        }
        // the body ends at the far endpoint after outE[.inV], inE.outV
        // and any otherV; at the traverser's own vertex, or a mix of
        // both for bothE, after the other vertex steps
        val far = (e, end) match {
          case (_, List(Step("otherV", Nil))) | ("outE", Nil | List(Step("inV", Nil))) |
              ("inE", List(Step("outV", Nil))) => Some(true)
          case (_, Nil | List(Step("inV" | "outV", Nil))) => Some(false)
          case _ => None
        }
        for {
          ls <- labels(args) if preds.size == hasSteps.size
          isFar <- far
          all <- t.edgeList(e.stripSuffix("E"), ls)
        } yield {
          val rows = if (preds.isEmpty) all else filter(all, x => preds.map(_(x)).reduce(_ && _))
          Move(rows, if (isFar) Some(transform(rows, _("nbr"))) else None)
        }
      case _ => None
    }
  }

  /** Frame column for a Gremlin property name: `weight` is the edge
    * weight an [[Traversal.outE]] traverser carries as `__w`.
    */
  private def fieldCol(f: String): Column = if (f == "weight") col("__w") else col(f)

  /** math('...') expression → Column (MathTreeNode.java:36 restated as a
    * tiny recursive-descent grammar lowered to codegen'd column
    * arithmetic): expr := term (('+'|'-') term)*; term := factor
    * (('*'|'/') factor)*; factor := number | '_' | '(' expr ')' |
    * ('sqrt'|'abs')'(' expr ')' | '-' factor. `_` is the traverser's
    * incoming numeric value. log/exp deliberately excluded: JVM libm vs
    * DuckDB libm are not bit-identical (same caveat as Hll's
    * linear-counting branch), which would break full-value oracles.
    */
  private[gie] def mathCol(s: String, underscore: Column): Column = {
    var i = 0
    def ws(): Unit = while (i < s.length && s(i).isWhitespace) i += 1
    def peek: Char = { ws(); if (i < s.length) s(i) else '\u0000' }
    def fail(m: String): Nothing =
      throw new IllegalArgumentException(s"math parse error at $i: $m in: $s")
    def expr(): Column = {
      var c = term()
      var go = true
      while (go) peek match {
        case '+' => i += 1; c = c + term()
        case '-' => i += 1; c = c - term()
        case _ => go = false
      }
      c
    }
    def term(): Column = {
      var c = factor()
      var go = true
      while (go) peek match {
        case '*' => i += 1; c = c * factor()
        case '/' => i += 1; c = c / factor()
        case _ => go = false
      }
      c
    }
    def factor(): Column = peek match {
      case '_' => i += 1; underscore
      case '(' =>
        i += 1; val c = expr(); if (peek != ')') fail("expected ')'"); i += 1; c
      case '-' => i += 1; -factor()
      case ch if ch.isDigit =>
        val j = i
        while (i < s.length && (s(i).isDigit || s(i) == '.')) i += 1
        lit(s.substring(j, i).toDouble)
      case ch if ch.isLetter =>
        val j = i
        while (i < s.length && s(i).isLetter) i += 1
        val fn = s.substring(j, i)
        if (peek != '(') fail(s"expected '(' after $fn")
        i += 1; val c = expr(); if (peek != ')') fail("expected ')'"); i += 1
        fn match {
          case "sqrt" => sqrt(c)
          case "abs" => abs(c)
          case other => fail(s"unsupported math function: $other")
        }
      case _ => fail("unexpected token")
    }
    val c = expr()
    ws()
    if (i < s.length) fail("trailing input")
    c
  }

  /** Evaluate a step list. State is Left(traversal) while vertex-typed,
    * Right(frame) after a terminal aggregate (order/limit still apply).
    */
  private def eval(
      start: Traversal, steps: List[Step], sourceDone: Boolean
  ): Either[Traversal, DataFrame] = {
    var st: Either[Traversal, DataFrame] = Left(start)
    def t: Traversal = st.swap.getOrElse(throw new IllegalArgumentException(
      "vertex step after terminal aggregate"))
    def d: DataFrame = st.getOrElse(throw new IllegalArgumentException(
      "frame step before terminal aggregate"))
    var rest = if (sourceDone) steps else steps match {
      case Step("V", Nil) :: tl => tl
      case _ => throw new IllegalArgumentException("traversal must start with g.V()")
    }
    // a sub-traversal as a vertex-typed function (where/not/union/and/or/
    // repeat/until/match bodies)
    def vertexFn(sub: List[Step], what: String): Traversal => Traversal =
      (o: Traversal) => eval(o, sub, sourceDone = true) match {
        case Left(res) => res
        case Right(_) => throw new IllegalArgumentException(
          s"$what sub-traversal must stay vertex-typed")
      }
    // property fetch for a group/value key: oid and (vertex) label are
    // Auxilia fetches; an edge-positioned traverser already carries its
    // edge label (__elabel) and weight (__w)
    def fetch(tr: Traversal, f: String): Traversal = f match {
      case "oid" => tr.auxilia()
      case "label" if !tr.df.columns.contains("__elabel") => tr.auxiliaLabel()
      case _ => tr
    }
    def fieldColIn(d: DataFrame, f: String): Column =
      if (f == "weight") col("__w")
      else if (f == "label" && d.columns.contains("__elabel")) col("__elabel")
      else col(f)
    // tags bound to SCALAR values (path().count(local).as('b')) — the
    // multi-tag select() projects them as-is instead of oid-decoding
    var scalarTags = Set.empty[String]
    while (rest.nonEmpty) {
      val Step(name, args) = rest.head
      rest = rest.tail
      (name, args) match {
        case ("has", List(Lit(f), p)) =>
          // edge-property predicates filter the traverser frame (the
          // value rides the traverser after outE — weight as __w, label
          // as __elabel); vertex-property predicates go through
          // Traversal.has (the labeled vertex table carries `label`, so
          // has('label', …) lowers like any property)
          if (f == "weight" || (f == "label" && t.df.columns.contains("__elabel")))
            st = Left(t.where(predOn(fieldColIn(t.df, f), p, numeric = f == "weight")))
          else st = Left(t.has(predOn(col(f), p, numeric = !StringProps(f))))
        // existence form: edge-positioned weight/label checks ride the
        // traverser; vertex keys go through the closed-schema hasKey
        // (a key outside the schema drops everything, never an error)
        case ("has", List(Lit(f))) =>
          if ((f == "weight" || f == "label") && t.df.columns.contains("__w"))
            st = Left(t.where(fieldColIn(t.df, f).isNotNull))
          else st = Left(t.hasKey(f))
        // hasNot(key): the complement — a key outside the schema keeps
        // everything (no element carries it)
        case ("hasNot", List(Lit(f))) =>
          if ((f == "weight" || f == "label") && t.df.columns.contains("__w"))
            st = Left(t.where(fieldColIn(t.df, f).isNull))
          else st = Left(t.hasNot(f))
        // hasId(id, …): mid-traversal global-id IndexPredicate — same id
        // plane as the g.V(ids) source
        case ("hasId", ids) if ids.nonEmpty && ids.forall(_.isInstanceOf[Lit]) =>
          st = Left(t.hasId(ids.map { case Lit(v) => v }: _*))
        // 3-arg has (TinkerPop has(label, prop, value) — the LDBC CR-1
        // seed lookup `has('person','id',$id)`): label scan + property
        // IndexPredicate, both pushed onto the vertex table
        case ("has", List(Lit(lbl), Lit(prop), p)) =>
          st = Left(t.hasLabel(lbl).has(predOn(col(prop), p, numeric = !StringProps(prop))))
        // IdentityTreeNode: the no-op step (union(identity(), ...) is the
        // LDBC CR-1 1..3-hop union shape)
        case ("identity", Nil) => st = Left(t)
        // hasLabel(l, …): per-label vertex scan (labeled graphs)
        case ("hasLabel", ls) if ls.nonEmpty && ls.forall(_.isInstanceOf[Lit]) =>
          st = Left(t.hasLabel(ls.map { case Lit(v) => v }: _*))
        case ("out", Nil) => st = Left(t.out())
        case ("in", Nil) => st = Left(t.in())
        case ("both", Nil) => st = Left(t.both())
        case ("outE", Nil) => st = Left(t.outE())
        case ("outE", List(Lit(l))) => st = Left(t.outE(l))
        case ("inE", Nil) => st = Left(t.inE())
        case ("inE", List(Lit(l))) => st = Left(t.inE(l))
        case ("bothE", Nil) => st = Left(t.bothE())
        case ("bothE", List(Lit(l))) => st = Left(t.bothE(l))
        case ("inV", Nil) => st = Left(t.inV())
        case ("outV", Nil) => st = Left(t.outV())
        case ("otherV", Nil) => st = Left(t.otherV())
        case (dir @ ("out" | "in" | "both"), List(Lit(RangeLit(lo, hi)))) =>
          // GIE path_opt: an immediately following simplePath() selects
          // SIMPLE walks; a following path() selects result_opt ALL_V
          // (materialized walks via pathExpandPaths + sink-side oid
          // decode) instead of the dedup-fused endV form. The step name
          // is the base EdgeExpand direction.
          val simple = rest.headOption.exists(s => s.name == "simplePath" && s.args.isEmpty)
          if (simple) rest = rest.tail
          rest match {
            case Step("path", Nil) :: tl =>
              st = Left(t.pathExpandPaths(lo.toInt, hi.toInt, simple, dir).pathOids())
              rest = tl
            case _ if simple =>
              throw new IllegalArgumentException("simplePath() requires a following path()")
            case _ =>
              st = Left(t.pathExpand(lo.toInt, hi.toInt, dir))
          }
        // label-filtered range expand (the LDBC dialect's
        // `both('1..3', 'KNOWS')` — PathExpand whose base EdgeExpand
        // carries the edge-label predicate, `algebra.proto:287` base +
        // QueryParams.tables)
        case (dir @ ("out" | "in" | "both"), List(Lit(RangeLit(lo, hi)), Lit(l))) =>
          st = Left(t.pathExpand(lo.toInt, hi.toInt, dir, Some(l)))
        // label-filtered expand (a non-range string argument is an edge
        // label, TinkerPop out('knows') — labeled graphs only)
        case ("out", List(Lit(l))) => st = Left(t.out(l))
        case ("in", List(Lit(l))) => st = Left(t.in(l))
        case ("both", List(Lit(l))) => st = Left(t.both(l))
        // multi-label expand: QueryParams.tables is a label LIST
        case ("out", ls) if ls.nonEmpty && ls.forall(_.isInstanceOf[Lit]) =>
          val l = ls.map { case Lit(v) => v }; st = Left(t.out(l.head, l.tail: _*))
        case ("in", ls) if ls.nonEmpty && ls.forall(_.isInstanceOf[Lit]) =>
          val l = ls.map { case Lit(v) => v }; st = Left(t.in(l.head, l.tail: _*))
        case ("both", ls) if ls.nonEmpty && ls.forall(_.isInstanceOf[Lit]) =>
          val l = ls.map { case Lit(v) => v }; st = Left(t.both(l.head, l.tail: _*))
        case ("endV", Nil) => st = Left(t) // GetV after range expand — already vertex-positioned
        // dedup().by(k) — dedup by property/id KEEPING the traverser
        // (min-path survivor in tracked mode); plain dedup() otherwise
        case ("dedup", Nil) => rest match {
          case Step("by", List(Lit("id"))) :: tl =>
            st = Left(t.dedupBy("__v")); rest = tl
          case Step("by", List(Lit(f))) :: tl =>
            st = Left(fetch(t, f).dedupBy(f)); rest = tl
          case _ => st = Left(t.dedup())
        }
        // step-level path() (PathTreeNode.java:39): the tracked walk —
        // count(local) projects its length, the LDBC CR-1 distance idiom
        case ("path", Nil) =>
          require(t.track, "step-level path() requires a tracked traversal")
          rest match {
            case Step("count", List(Sym("local"))) :: Step("as", List(Lit(tag))) :: tl =>
              st = Left(t.mapFrame(_.withColumn(tag, size(col("__path")).cast("long"))))
              scalarTags += tag
              rest = tl
            case Step("count", List(Sym("local"))) :: tl =>
              st = Right(t.df.select(size(col("__path")).cast("long").as("n_local")))
              rest = tl
            case _ => throw new IllegalArgumentException(
              "step-level path() must be followed by count(local)")
          }
        // RangeGlobal pagination (RangeGlobalTreeNode.java:31; pegasus
        // dedup.rs Range): range(lo,hi) / skip(n) / tail(n) — compose
        // after order() for a deterministic page
        case ("range", List(Num(lo), Num(hi))) =>
          st = st match {
            case Left(tr) => Left(tr.range(lo.toInt, hi.toInt))
            case Right(d2) => Right(d2.offset(lo.toInt).limit((hi - lo).toInt))
          }
        case ("skip", List(Num(n))) =>
          st = st match {
            case Left(tr) => Left(tr.skip(n.toInt))
            case Right(d2) => Right(d2.offset(n.toInt))
          }
        case ("tail", List(Num(n))) =>
          st = st match {
            case Left(tr) => Left(tr.tail(n.toInt))
            case Right(d2) =>
              val total = d2.count()
              Right(d2.offset(math.max(0L, total - n).toInt))
          }
        // math('...') (MathTreeNode.java:36): per-traverser computed
        // numeric expression over the terminal value frame; `_` is the
        // incoming value (grammar: + - * / parens, sqrt/abs, numbers)
        case ("math", List(Lit(e))) =>
          st = Right(d.select(mathCol(e, col(d.columns.last)).as("val")))
        // sack fold: sack(sum|minus|mult|div|assign).by('field');
        // bare sack() is the terminal accumulator projection
        case ("sack", List(Sym(op))) => rest match {
          case Step("by", List(Lit(f))) :: tl =>
            st = Left(t.sackBy(op, f)); rest = tl
          case _ => throw new IllegalArgumentException(
            "sack(op) needs a .by('field') modulator")
        }
        case ("sack", Nil) => st = Right(t.sackValue())
        case ("as", List(Lit(tag))) => st = Left(t.as_(tag))
        case ("select", List(Lit(tag))) => st = Left(t.back(tag))
        // multi-tag Sink projection: one oid-decoded column per tag
        case ("select", tags) if tags.length > 1 && tags.forall(_.isInstanceOf[Lit]) =>
          st = Right(t.selectTags(tags.map { case Lit(s) => s }, scalarTags))
        // project('k1','k2',…).by(m1).by(m2)… (TinkerPop ProjectStep —
        // per-traverser multi-projection): by('prop') fetches a
        // property, by(sub.[dedup().]count()) is a correlated count
        // (absent origins project 0). Terminal — emits the keyed frame.
        case ("project", keyArgs) if keyArgs.nonEmpty && keyArgs.forall(_.isInstanceOf[Lit]) =>
          val ks = keyArgs.map { case Lit(v) => v }
          var curT = t
          ks.foreach { k =>
            rest match {
              case Step("by", List(Lit(f))) :: tl =>
                val fetched = fetch(curT, f)
                curT = fetched.mapFrame(_.withColumn(k, fieldColIn(fetched.df, f)))
                rest = tl
              // by(values('p')) — same property fetch as by('p')
              case Step("by", List(Sub(List(Step("values", List(Lit(f))))))) :: tl =>
                val fetched = fetch(curT, f)
                curT = fetched.mapFrame(_.withColumn(k, fieldColIn(fetched.df, f)))
                rest = tl
              case Step("by", List(Sub(sub))) :: tl =>
                val (body, distinct) = sub.reverse match {
                  case Step("count", Nil) :: Step("dedup", Nil) :: b => (b.reverse, true)
                  case Step("count", Nil) :: b => (b.reverse, false)
                  case _ => throw new IllegalArgumentException(
                    "project by-traversal must end with [dedup().]count()")
                }
                val cnts = curT.originCounts(vertexFn(body, "project()"), distinct)
                curT = curT.mapFrame(_.join(cnts, Seq("__v"), "left")
                  .withColumn(k, coalesce(col("__cnt"), lit(0L))).drop("__cnt"))
                rest = tl
              case _ => throw new IllegalArgumentException(
                s"project('$k') needs a by() modulator per key")
            }
          }
          st = Right(curT.df.select(ks.map(col): _*))
        // tag-comparison predicate (TinkerPop where('a', P.neq('b')) —
        // patmat's structural-distinctness filter): both operands are
        // tag columns on the traverser frame
        case ("where", List(Lit(a), Pred(fn, Seq(b)))) =>
          val c = fn match {
            case "neq" => col(a) =!= col(b)
            case "eq" => col(a) === col(b)
            case other => throw new IllegalArgumentException(
              s"unsupported tag predicate: $other")
          }
          st = Left(t.where(c))
        // single-predicate where: membership in an aggregate(tag) side
        // effect (`where(P.without('x'))` — the visited-set idiom), or
        // compare the CURRENT vertex to a tagged one (LDBC q5's
        // `where(eq('p'))`)
        case ("where", List(Pred(fn, Seq(tag)))) =>
          st = fn match {
            case "within" if t.sideEffects.contains(tag) => Left(t.whereWithinSet(tag))
            case "without" if t.sideEffects.contains(tag) => Left(t.whereWithoutSet(tag))
            case "eq" => Left(t.where(col("__v") === col(tag)))
            case "neq" => Left(t.where(col("__v") =!= col(tag)))
            case other => throw new IllegalArgumentException(
              s"unsupported where predicate: $other")
          }
        // filter(<sub>) is TinkerPop's anonymous-traversal filter — keep
        // the traverser iff the sub yields at least one result — which is
        // exactly where(<sub>)'s Apply-SEMI semantics (the reference's
        // published LDBC CR-3/6/12 queries all use the filter() spelling:
        // interactive_engine/benchmark/queries/interactive-complex-6
        // .gremlin:1)
        case ("where" | "filter", List(Sub(sub))) =>
          // a sub-traversal ending in [dedup().]count().is(<p>) is the
          // correlated count predicate (LDBC q3); otherwise Apply-SEMI.
          // A body that is one move on the index is a per-row array
          // predicate instead, with no sub-plan.
          st = Left(sub.reverse match {
            case Step("is", List(p)) :: Step("count", Nil) :: Step("dedup", Nil) :: body =>
              oneMove(t, body.reverse).flatMap(_.ends) match {
                case Some(ends) => t.where(predOn(size(array_distinct(ends)), p, numeric = true))
                case None => t.whereCountIs(
                  vertexFn(body.reverse, "where()"), distinctCount = true,
                  predOn(col("__cnt"), p, numeric = true))
              }
            case Step("is", List(p)) :: Step("count", Nil) :: body =>
              oneMove(t, body.reverse) match {
                case Some(m) => t.where(predOn(size(m.rows), p, numeric = true))
                case None => t.whereCountIs(
                  vertexFn(body.reverse, "where()"), distinctCount = false,
                  predOn(col("__cnt"), p, numeric = true))
              }
            case _ =>
              oneMove(t, sub).fold(t.whereExists(vertexFn(sub, "where()")))(m => t.where(size(m.rows) > 0))
          })
        case ("not", List(Sub(sub))) =>
          st = Left(oneMove(t, sub).fold(t.whereNotExists(vertexFn(sub, "not()")))(m => t.where(size(m.rows) === 0)))
        case ("and", subs) if subs.nonEmpty && subs.forall(_.isInstanceOf[Sub]) =>
          st = Left(t.whereAnd(subs.map { case Sub(sub) => vertexFn(sub, "and()") }: _*))
        case ("or", subs) if subs.nonEmpty && subs.forall(_.isInstanceOf[Sub]) =>
          st = Left(t.whereOr(subs.map { case Sub(sub) => vertexFn(sub, "or()") }: _*))
        case ("union", subs) if subs.nonEmpty && subs.forall(_.isInstanceOf[Sub]) =>
          st = Left(t.union(subs.map { case Sub(sub) => vertexFn(sub, "union()") }: _*))
        case ("coalesce", subs) if subs.nonEmpty && subs.forall(_.isInstanceOf[Sub]) =>
          st = Left(t.coalesce(subs.map { case Sub(sub) => vertexFn(sub, "coalesce()") }: _*))
        case ("optional", List(Sub(sub))) =>
          st = Left(t.optional(vertexFn(sub, "optional()")))
        // if-then-else branch (TinkerPop choose(pred, yes, no))
        case ("choose", List(Sub(p), Sub(a), Sub(b))) =>
          st = Left(t.choose(vertexFn(p, "choose()"),
            vertexFn(a, "choose()"), vertexFn(b, "choose()")))
        // value-routed branch (BranchTreeNode.java:49 / CaseWhenTreeNode):
        // branch(values('f')|label()).option(v, sub)….option(none, sub) —
        // the router is a property COLUMN, options are trailing steps
        case (nm @ ("branch" | "choose"), List(Sub(keySteps))) =>
          val (tr, key) = keySteps match {
            case List(Step("values", List(Lit(f)))) =>
              val tf = fetch(t, f); (tf, fieldColIn(tf.df, f))
            case List(Step("label", Nil)) =>
              val tf = fetch(t, "label"); (tf, fieldColIn(tf.df, "label"))
            case _ => throw new IllegalArgumentException(
              s"$nm() router must be values('field') or label()")
          }
          val opts = List.newBuilder[(Option[String], Traversal => Traversal)]
          var more = true
          while (more) rest match {
            case Step("option", List(Lit(v), Sub(sub))) :: tl =>
              opts += ((Some(v), vertexFn(sub, "option()"))); rest = tl
            case Step("option", List(Sym("none"), Sub(sub))) :: tl =>
              opts += ((None, vertexFn(sub, "option()"))); rest = tl
            case _ => more = false
          }
          st = Left(tr.branchBy(key, opts.result()))
        // match (algebra.proto:350, patmat.rs NaiveStrategy): sentences
        // are as(a)…as(b) chains, joined left-deep on shared tags
        case ("match", subs) if subs.nonEmpty && subs.forall(_.isInstanceOf[Sub]) =>
          val sentences = subs.map { case Sub(sub) =>
            sub match {
              case Step("as", List(Lit(a))) :: tl if tl.nonEmpty =>
                tl.last match {
                  case Step("as", List(Lit(b))) => (a, vertexFn(tl.init, "match()"), b)
                  case _ => throw new IllegalArgumentException(
                    "match sentence must end with as(tag)")
                }
              case _ => throw new IllegalArgumentException(
                "match sentence must start with as(tag)")
            }
          }
          st = Left(t.matchPattern(sentences))
        case ("repeat", List(Sub(sub))) =>
          // collect the modulators (TinkerPop: until/emit/times follow
          // repeat in any order; times is itself an until-condition —
          // the loop ends on whichever fires first)
          var untilF: Option[Traversal => Traversal] = None
          var emit = false
          var emitF: Option[Traversal => Traversal] = None
          var timesN: Option[Int] = None
          var more = true
          while (more) rest match {
            case Step("until", List(Sub(us))) :: tl =>
              untilF = Some(vertexFn(us, "until()")); rest = tl
            case Step("emit", Nil) :: tl => emit = true; rest = tl
            // predicated emit (TinkerPop emit(<sub>)): only matching
            // traversers are copied out mid-loop
            case Step("emit", List(Sub(es))) :: tl =>
              emit = true; emitF = Some(vertexFn(es, "emit()")); rest = tl
            case Step("times", List(Num(n))) :: tl => timesN = Some(n.toInt); rest = tl
            case _ => more = false
          }
          require(untilF.isDefined || timesN.isDefined,
            "repeat() must be bounded by until() and/or times(n)")
          val bodyF = vertexFn(sub, "repeat()")
          (untilF, emit, timesN) match {
            case (None, false, Some(n)) =>
              // pure times(): unrolled body application — one declarative
              // plan, no per-round driver actions
              var cur = t
              (1 to n).foreach(_ => cur = bodyF(cur))
              st = Left(cur)
            case (u, e, tn) =>
              st = Left(t.repeatUntil(bodyF, u, e, tn.getOrElse(MaxRepeatRounds), emitF))
          }
        // group().by(key).by(valueAgg) (reference accumulators ToList/
        // ToMin/ToMax/ToDistinctCount, aggregate.rs:29-815 +
        // GroupTreeNode.java): value sub-traversal = optional values(f)
        // then one of sum/max/min/mean/count/fold. fold() collects the
        // group's values SORTED (arrival order is nondeterministic on a
        // distributed bag). Output columns: (key, val).
        case ("group", Nil) => rest match {
          // group().by().by(<sub>.count()) — group by the CURRENT
          // element with a CORRELATED value sub (LDBC CR-5's
          // `group().by().by(out(...)...where(eq('p')).count())` shape,
          // interactive-complex-5.gremlin:1): the sub CONTINUES the
          // traversal from every traverser with its tag columns riding,
          // so where(eq('p')) inside the sub compares against that
          // traverser's own tagged vertex; results are counted per
          // group key, and keys whose sub yields nothing keep a 0
          // entry (TinkerPop emits an entry per key). Output (oid, val).
          case Step("by", Nil) :: Step("by", List(Sub(valSteps))) :: tl
              if valSteps.nonEmpty && valSteps.last == Step("count", Nil) =>
            val body = valSteps.dropRight(1)
            require(body.nonEmpty,
              "group().by().by(sub) needs at least one step before count()")
            val keys = fetch(t, "oid").df
              .select(col("__v").as("__gkey"), col("oid")).distinct()
            val expanded = vertexFn(body, "group()")(t.as_("__gkey"))
            val counts = expanded.df.groupBy(col("__gkey"))
              .agg(count(lit(1)).as("__n"))
            st = Right(keys.join(counts, Seq("__gkey"), "left")
              .select(col("oid"), coalesce(col("__n"), lit(0L)).as("val")))
            rest = tl
          case Step("by", List(Lit(key))) :: Step("by", List(Sub(valSteps))) :: tl =>
            val (vf, aggName) = valSteps match {
              case Step("values", List(Lit(f))) :: Step("dedup", Nil) ::
                  Step(a @ ("count" | "fold"), Nil) :: Nil => (Some(f), "dedup_" + a)
              case Step("values", List(Lit(f))) :: Step(a, Nil) :: Nil => (Some(f), a)
              case Step(a, Nil) :: Nil => (None, a)
              case _ => throw new IllegalArgumentException(
                "group value must be [values(f).][dedup().]sum|max|min|mean|count|fold()")
            }
            val base = fetch(fetch(t, key), vf.getOrElse("")).df
            val vcol = vf.map(fieldColIn(base, _)).getOrElse(col("__v"))
            val agg = aggName match {
              case "sum" => sum(vcol)
              case "max" => max(vcol)
              case "min" => min(vcol)
              case "mean" => avg(vcol)
              case "count" => count(lit(1))
              case "fold" => sort_array(collect_list(vcol))
              // ToDistinctCount / ToSet accumulators (accum.rs:34-41)
              case "dedup_count" => countDistinct(vcol)
              case "dedup_fold" => sort_array(collect_set(vcol))
              case other => throw new IllegalArgumentException(
                s"unsupported group aggregator: $other")
            }
            st = Right(base.groupBy(fieldColIn(base, key).as(key)).agg(agg.as("val")))
            rest = tl
          case _ => throw new IllegalArgumentException(
            "group() must be followed by by(key).by(valueAgg)")
        }
        // subgraph('sg')[.cap('sg')]: edge-induced subgraph sink — the
        // distinct visited edges + incident vertices as a new graph,
        // emitted as oid-decoded edge rows (SubGraphOperator,
        // subgraph.rs:29; gremlin_to_subgraph)
        case ("subgraph", List(Lit(tag))) =>
          rest match {
            case Step("cap", List(Lit(t2))) :: tl if t2 == tag => rest = tl
            case Nil =>
            case _ => throw new IllegalArgumentException(
              s"subgraph('$tag') must be terminal or followed by cap('$tag')")
          }
          val sg = t.subgraph()
          st = Right(sg.oidEdges().select(col("src_oid"), col("dst_oid"), col("weight")))
        // side-effect collection (TinkerPop aggregate/cap; MaxGraph
        // FoldStore, aggregate.rs:29-815): aggregate(tag) is an eager
        // barrier folding the traverser bag into a bulk set; cap(tag)
        // (reaching here = not a subgraph cap, which is consumed above)
        // emits it as (oid, n)
        case ("aggregate", List(Lit(tag))) => st = Left(t.aggregateTag(tag))
        // store(tag): the LAZY sibling (StoreStep) — no barrier
        case ("store", List(Lit(tag))) => st = Left(t.storeTag(tag))
        case ("cap", List(Lit(tag))) => st = Right(t.capSet(tag))
        // deterministic coin(p) — portable-hash gate, never rand()
        case ("coin", List(Frac(p))) => st = Left(t.coin(p))
        case ("coin", List(Num(n))) => st = Left(t.coin(n.toDouble))
        // path-distinctness filters over a tracked walk (step forms of
        // MaxGraph SimplePath, filter.rs:36-362, and its complement)
        case ("cyclicPath", Nil) => st = Left(t.cyclicPath())
        case ("simplePath", Nil) => st = Left(t.simplePathStep())
        // tree() sink: traverser histories merged by shared prefix —
        // one row per distinct prefix (depth, path_str)
        case ("tree", Nil) => st = Right(t.tree())
        // graph-algorithm step bridges (tinkerpop/steps/PageRankStep/
        // ConnectedComponentsStep/LabelPropagationStep/HitsStep.java):
        // whole-graph VertexProgram semantics, result annotated onto
        // the traverser; optional times(n) modulator bounds the rounds
        // peerPressure() (TinkerPop PeerPressureVertexProgramStep;
        // maxgraph routes it to the generic cluster program,
        // PeerPressureVertexProgramTreeNode.java:62) — lowered to the
        // same synchronous most-frequent-label propagation as
        // labelPropagation() (the cluster-program family's semantics)
        case (a @ ("pageRank" | "labelPropagation" | "hits" | "peerPressure"), Nil) =>
          val n = rest match {
            case Step("times", List(Num(k))) :: tl => rest = tl; Some(k.toInt)
            case _ => None
          }
          st = Left(a match {
            case "pageRank" => n.map(t.pageRankStep).getOrElse(t.pageRankStep())
            case "labelPropagation" | "peerPressure" =>
              n.map(t.labelPropagationStep).getOrElse(t.labelPropagationStep())
            case _ => n.map(t.hitsStep).getOrElse(t.hitsStep())
          })
        case ("connectedComponent", Nil) => st = Left(t.connectedComponentStep())
        // ShortestPathStep (tinkerpop/steps/ShortestPathStep.java;
        // algebra.proto:302): shortest expansion from the traverser set —
        // hop-count with an optional bound, or weight-property relaxation
        // via shortestPath('weight'); hops()/dist() project the result
        case ("shortestPath", Nil) => st = Left(t.shortestPathExpand(64))
        case ("shortestPath", List(Num(n))) => st = Left(t.shortestPathExpand(n.toInt))
        case ("shortestPath", List(Lit("weight"))) =>
          st = Left(t.weightedShortestPathExpand())
        case ("dist", Nil) =>
          st = Right(t.auxilia().df
            .select(col("oid"), round(col("__dist"), 6).as("dist")))
        // EstimateCountStep (tinkerpop/steps/EstimateCountStep.java): an
        // approximate distinct-vertex count. Lowered to graft.ml.Hll —
        // a deterministic HyperLogLog over the portable hash, mergeable
        // across partitions with one ≤1024-row exchange (same shape as
        // Spark's approx_count_distinct, but cross-engine reproducible
        // so the DuckDB oracle can value-check the estimate)
        case ("estimateCount", Nil) =>
          st = Right(graft.ml.Hll.estimateOf(t.df, col("__v")))
        // id() intrinsic (`expr.proto:49-57` ID): the dense vertex id
        case ("id", Nil) => st = Right(t.df.select(col("__v").as("id")))
        // sample(n): deterministic portable-pick-hash sample (MetapathSample)
        case ("sample", List(Num(n))) => st = Left(t.sampleN(n.toInt))
        // fold(): the whole traverser stream (or terminal value column)
        // as one sorted list row; unfold() explodes it back
        case ("fold", Nil) =>
          st = st match {
            case Left(tr) => Right(tr.df.agg(sort_array(collect_list(col("__v"))).as("folded")))
            case Right(d2) =>
              Right(d2.agg(sort_array(collect_list(col(d2.columns.head))).as("folded")))
          }
        case ("unfold", Nil) =>
          st = Right(d.select(explode(col(d.columns.head)).as("value")))
        // values(f).as(tag) — a SCALAR value tag (LDBC CR-11's
        // `.values('workFrom').as('works')` idiom,
        // interactive-complex-11.gremlin:1): the property value is
        // stashed under the tag as a plain frame column (it rides every
        // later expansion — `carried` drops only known fetched props)
        // and the traverser STAYS at its position instead of
        // terminating into a value sink; select()/order().by(select(t))
        // read it back, multi-tag select projects it as-is
        // (scalar-tag path of Traversal.selectTags).
        case ("values", List(Lit(f)))
            if rest.headOption.exists {
              case Step("as", List(Lit(_))) => true; case _ => false } =>
          val tag = rest.head match { case Step("as", List(Lit(tg))) => tg }
          rest = rest.tail
          val tf = fetch(t, f)
          st = Left(tf.mapFrame(_.withColumn(tag, fieldColIn(tf.df, f))))
          scalarTags += tag
        case ("values", List(Lit(f))) =>
          if (f == "weight" || f == "label")
            st = Right(fetch(t, f).df.select(fieldColIn(t.df, f).as(f)))
          else st = Right((if (f == "oid") t.auxilia() else t).values(f))
        case ("hops", Nil) =>
          st = Right(t.auxilia().df.select(col("oid"), col("__hops").as("hops")))
        case ("groupCount", Nil) => rest match {
          case Step("by", List(Lit(f))) :: tl =>
            val base = fetch(t, f).df
            st = Right(base.groupBy(fieldColIn(base, f).as(f)).agg(count(lit(1)).as("n")))
            rest = tl
          case _ => st = Right(t.groupCount("__v"))
        }
        case ("count", Nil) =>
          val base = st match { case Left(tr) => tr.df; case Right(df) => df }
          st = Right(base.agg(count(lit(1)).as("n")))
        // is(<p>): scalar predicate on a terminal value frame (LDBC
        // q3's count().is(2); expr.proto comparison over the fold)
        case ("is", List(p)) =>
          st = Right(d.where(predOn(col(d.columns.head), p,
            numeric = d.schema.head.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType])))
        // valueMap(p1, p2, …): property-map projection (TinkerPop
        // valueMap, the LDBC sink shape select(...).by(valueMap(...)) —
        // one column per requested property; our property surface is
        // oid/label on vertices, weight/label on edge traversers)
        // elementMap(): id + full property map, one column per property
        // (TinkerPop ElementMapStep — the relational rendering)
        case ("elementMap", Nil) => st = Right(t.elementMap())
        // properties(keys…): (key, value) rows per traverser
        // (PropertiesStep); an edge-positioned properties('weight')
        // reads the riding __w instead of a vertex fetch
        case ("properties", props) if props.forall(_.isInstanceOf[Lit]) =>
          val ks = props.map { case Lit(v) => v }
          if (ks == List("weight") && t.df.columns.contains("__w"))
            st = Right(t.df.select(
              lit("weight").as("key"), col("__w").cast("string").as("value")))
          else st = Right(t.propertiesRows(ks))
        case ("valueMap", props) if props.nonEmpty && props.forall(_.isInstanceOf[Lit]) =>
          val ps = props.map { case Lit(v) => v }
          val base = ps.foldLeft(t)((tr, f) => fetch(tr, f)).df
          st = Right(base.select(ps.map(p => fieldColIn(base, p).as(p)): _*))
        // global numeric terminals over a value frame (reference
        // accumulators ToMin/ToMax/ToSum, accum.rs:34-41): follow a
        // values(f) projection — `g.V().outE().values('weight').sum()`
        case (a @ ("sum" | "min" | "max" | "mean"), Nil) =>
          val c = col(d.columns.head)
          val agg = a match {
            case "sum" => sum(c)
            case "min" => min(c)
            case "max" => max(c)
            case "mean" => avg(c)
          }
          st = Right(d.agg(agg.as(a)))
        case ("order", Nil) =>
          // collect the by-modulators first (asc/incr | desc/decr — the
          // reference benchmark queries use TinkerPop's legacy
          // incr/decr), then resolve against the frame: a vertex-typed
          // frame fetches missing ordering properties (Auxilia) so
          // tag-then-property chains like CR-1's
          // order().by(select('b'),incr).by('lastName').by('id') lower;
          // "id" maps to the current vertex; "weight" to __w
          val byDesc = Set("desc", "decr")
          val byDirs = Set("asc", "incr", "desc", "decr")
          val specs = List.newBuilder[(Either[String, List[Step]], Boolean)]
          var more = true
          while (more) rest match {
            case Step("by", List(Lit(f))) :: tl =>
              specs += ((Left(f), false)); rest = tl
            case Step("by", List(Lit(f), Sym(dn))) :: tl if byDirs.contains(dn) =>
              specs += ((Left(f), byDesc.contains(dn))); rest = tl
            // the IR's third OrderBy direction (`algebra.proto:116`
            // ASC/DESC/SHUFFLE): deterministic shuffle-order via the
            // engine's portable pick policy — (portableHash(oid), oid),
            // the SAME total order sample(n) uses, so order().by(
            // shuffle).limit(n) ≡ the MetapathSample page (resume-safe,
            // never rand())
            case Step("by", List(Sym("shuffle"))) :: tl =>
              specs += ((Left("__shuffle__"), false)); rest = tl
            case Step("by", List(Sub(sel))) :: tl =>
              specs += ((Right(sel), false)); rest = tl
            case Step("by", List(Sub(sel), Sym(dn))) :: tl if byDirs.contains(dn) =>
              specs += ((Right(sel), byDesc.contains(dn))); rest = tl
            case _ => more = false
          }
          val sp = specs.result()
          // by(select(keys|values)[.values(f)]) — order a groupCount/
          // group frame by its key (first) or value (last) column, the
          // LDBC `order().by(select(values), desc)` idiom; by(select(t))
          // orders by a tagged column
          def selByCol(sel: List[Step], frameDf: DataFrame): Column = sel match {
            case List(Step("select", List(Sym("values")))) => col(frameDf.columns.last)
            case List(Step("select", List(Sym("keys")))) => col(frameDf.columns.head)
            case List(Step("select", List(Sym("keys"))), Step("values", List(Lit(_)))) =>
              col(frameDf.columns.head)
            case List(Step("select", List(Lit(tag)))) => col(tag)
            case other => throw new IllegalArgumentException(
              s"unsupported order().by sub-step: $other")
          }
          st match {
            case Left(tr0) =>
              val tr = sp.foldLeft(tr0) {
                case (cur, (Left(f @ ("oid" | "label")), _))
                    if !cur.df.columns.contains(f) => fetch(cur, f)
                case (cur, (Left("__shuffle__"), _))
                    if !cur.df.columns.contains("oid") => fetch(cur, "oid")
                case (cur, _) => cur
              }
              val frameCols = tr.df.columns.toSet
              def kc(k: Either[String, List[Step]]): Column = k match {
                case Left("id") if !frameCols.contains("id") => col("__v")
                case Left(f) => if (frameCols.contains(f)) col(f) else fieldCol(f)
                case Right(sel) => selByCol(sel, tr.df)
              }
              st = Left(tr.ordered(
                sp.flatMap {
                  case (Left("__shuffle__"), _) =>
                    Seq(graft.text.TextOps.portableHash(col("oid")).asc,
                      col("oid").asc)
                  case (k, dsc) => Seq(if (dsc) kc(k).desc else kc(k).asc)
                }: _*))
            case Right(d2) =>
              def kc(k: Either[String, List[Step]]): Column = k match {
                case Left(f) =>
                  if (d2.columns.contains(f)) col(f) else fieldCol(f)
                case Right(sel) => selByCol(sel, d2)
              }
              st = Right(d2.orderBy(
                sp.map { case (k, dsc) => if (dsc) kc(k).desc else kc(k).asc }: _*))
          }
        case ("limit", List(Num(n))) =>
          st = st match {
            case Left(tr) => Left(tr.limit(n.toInt))
            case Right(df) => Right(df.limit(n.toInt))
          }
        // local-scope collection ops (TinkerPop CountLocalTreeNode /
        // RangeLocalTreeNode / OrderLocalTreeNode): transform the
        // folded-list column (the frame's last column after fold() or
        // group().by().by(fold())) per row — array expressions, no
        // shuffle
        case ("count", List(Sym("local"))) =>
          val last = d.columns.last
          st = Right(d.withColumn(last, size(col(last)).cast("long"))
            .withColumnRenamed(last, "n_local"))
        case ("limit", List(Sym("local"), Num(n))) =>
          val last = d.columns.last
          st = Right(d.withColumn(last, slice(col(last), 1, n.toInt)))
        case ("order", List(Sym("local"))) =>
          val last = d.columns.last
          st = Right(d.withColumn(last, sort_array(col(last))))
        // local numeric folds (SumLocal/MinLocal/MaxLocal/MeanLocal —
        // TinkerPop local-scope aggregates over a folded list): pure
        // array expressions on the list column, no shuffle. fold()
        // sorts the list, so the float summation ORDER is deterministic
        // and shared with the DuckDB twin; mean rounds to 6 dp (one
        // division over an exact integral-double sum).
        case (a @ ("sum" | "min" | "max" | "mean"), List(Sym("local"))) =>
          val last = d.columns.last
          val c = col(last)
          val lsum = aggregate(c, lit(0.0d), (acc, x) => acc + x.cast("double"))
          val v = a match {
            case "sum" => lsum
            case "min" => array_min(c)
            case "max" => array_max(c)
            case "mean" => round(lsum / size(c), 6)
          }
          st = Right(d.withColumn(last, v).withColumnRenamed(last, s"${a}_local"))
        // ConstantTreeNode: map every traverser to a literal
        case ("constant", List(Num(n))) =>
          val base = st match { case Left(tr) => tr.df; case Right(d2) => d2 }
          st = Right(base.select(lit(n).as("value")))
        // BarrierTreeNode: a synchronization hint — Spark stage
        // boundaries already barrier-synchronize, so this is a no-op
        case ("barrier", Nil) => ()
        case other =>
          throw new IllegalArgumentException(s"unsupported gremlin step: $other")
      }
    }
    st
  }

  /** Gremlin mutation surface — the groot realtime-write analog
    * (`python/graphscope/framework/record.py:22-82` insert_vertex /
    * insert_edge / update / delete; `docs/persistent_graph_store.rst:
    * 310-350` snapshot-per-write-group): each mutation traversal lowers
    * onto the session plane ([[graft.graph.GraphOps.modifyVertices]] /
    * [[graft.graph.GraphOps.modifyEdges]]) and commits a new
    * [[graft.ingest.SnapshotStore]] version, so a reader at version v
    * never sees a half-applied write group. Supported forms:
    *
    *  - `g.addV(['lbl']).property('oid', 'x')` — insert vertex; the new
    *    dense id is max(id)+1 (the oid↔id bijection is asserted by the
    *    session plane on commit);
    *  - `g.V()…<filters>.property('oid', 'x')` — update the oid of the
    *    selected vertices (add-batch-wins merge);
    *  - `g.V()…<filters>.addE(['lbl']).to(V()…<filters>)
    *    [.property('weight', n)]` — insert src×dst edges (weight
    *    defaults to 1; an existing (src,dst) pair merges weights, the
    *    same additive semantics as the derivation's count weights);
    *  - `g.V()…<filters>.drop()` — delete vertices + incident edges;
    *  - `g.E()…<filters>.drop()` — delete the selected edges.
    *
    * Returns (graph after commit, committed snapshot version — the
    * vertex-plane version for vertex writes, edge-plane otherwise).
    */
  def mutate(
      g: LinkGraph, text: String, store: graft.ingest.SnapshotStore,
      vertexTable: String, edgeTable: String): (LinkGraph, Int) = {
    val spark = g.vertices.sparkSession
    import spark.implicits._
    import graft.schema.{Edge, Vertex}
    val emptyVs = spark.emptyDataset[Vertex]
    val emptyEs = spark.emptyDataset[Edge]
    def vertexFrame(prefix: List[Step]): DataFrame =
      eval(G.V(g), prefix, sourceDone = true) match {
        case Left(tr) => tr.df.select(col("__v").as("id")).distinct()
        case Right(_) => throw new IllegalArgumentException(
          "mutation prefix must stay vertex-typed")
      }
    val steps = new P(text).chain(anonymous = false)
    steps match {
      // insert: g.addV().property('oid', 'x')
      case Step("addV", _) :: Step("property", List(Lit("oid"), Lit(oid))) :: Nil =>
        val newId = g.vertices.toDF.agg(max(col("id"))).head().getLong(0) + 1L
        val (g2, vv, _) = graft.graph.GraphOps.modifyVertices(
          g, Seq(Vertex(newId, oid)).toDS(), emptyVs, store, vertexTable, edgeTable)
        (g2, vv)
      case Step("V", Nil) :: body =>
        body.splitAt(body.indexWhere(s =>
          s.name == "drop" || s.name == "addE" || s.name == "property")) match {
          // delete: g.V()…drop() — vertex + incident-edge delete
          case (prefix, Step("drop", Nil) :: Nil) =>
            val del = g.vertices.toDF.join(vertexFrame(prefix), Seq("id"), "left_semi")
            val (g2, vv, _) = graft.graph.GraphOps.modifyVertices(
              g, emptyVs, del.as[Vertex], store, vertexTable, edgeTable)
            (g2, vv)
          // update: g.V()…property('oid', 'x')
          case (prefix, Step("property", List(Lit("oid"), Lit(oid))) :: Nil) =>
            val add = vertexFrame(prefix).select(col("id"), lit(oid).as("oid"))
            val (g2, vv, _) = graft.graph.GraphOps.modifyVertices(
              g, add.as[Vertex], emptyVs, store, vertexTable, edgeTable)
            (g2, vv)
          // insert: g.V()…addE().to(V()…)[.property('weight', n)]
          case (prefix, Step("addE", _) :: Step("to", List(Sub(sub))) :: tail) =>
            val w = tail match {
              case Step("property", List(Lit("weight"), Num(n))) :: Nil => n.toDouble
              case Nil => 1.0
              case other => throw new IllegalArgumentException(
                s"unsupported addE modulators: $other")
            }
            val dst = sub match {
              case Step("V", Nil) :: dtl => vertexFrame(dtl)
              case _ => throw new IllegalArgumentException(
                "addE().to() target must be a V()-rooted traversal")
            }
            val add = vertexFrame(prefix).select(col("id").as("src"))
              .crossJoin(dst.select(col("id").as("dst")))
              .select(col("src"), col("dst"), lit(w).as("weight"))
            val (g2, ev) = graft.graph.GraphOps.modifyEdges(
              g, add.as[Edge], emptyEs, store, edgeTable)
            (g2, ev)
          case other => throw new IllegalArgumentException(
            s"unsupported mutation traversal: $other")
        }
      // delete: g.E()…drop() — edge delete by (src, dst)
      case Step("E", Nil) :: body if body.lastOption.contains(Step("drop", Nil)) =>
        eval(G.E(g), body.init, sourceDone = true) match {
          case Left(tr) =>
            val del = tr.df
              .select(col("__src").as("src"), col("__v").as("dst"), col("__w").as("weight"))
              .distinct()
            val (g2, ev) = graft.graph.GraphOps.modifyEdges(
              g, emptyEs, del.as[Edge], store, edgeTable)
            (g2, ev)
          case Right(_) => throw new IllegalArgumentException(
            "E().drop() prefix must stay edge-positioned")
        }
      case other => throw new IllegalArgumentException(
        s"unsupported mutation traversal: $other")
    }
  }
}
