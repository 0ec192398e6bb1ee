package graft.api

import org.apache.spark.sql.DataFrame
import graft.core.{Cond, Direction, PropertyGraph}

/** Text frontend for a practical Gremlin subset — the reference's primary
  * entry point is a Gremlin script POST (`api/gremlin/GremlinAPI.java:51-88`
  * → Groovy engine → traversal). Arbitrary Groovy is out of scope by design
  * (SURVEY §2.11); this parser covers the declarative step chains that make
  * up the overwhelming majority of analytic Gremlin:
  *
  * {{{
  *   g.V().hasLabel('person').has('age', gt(29)).out('knows').values('name')
  *   g.V('person:marko').repeat(out()).times(2).dedup().count()
  *   g.E('created').groupCount('label')
  * }}}
  *
  * Supported: V(ids…), E(labels…), hasLabel, hasId, has(k,v), has(k,pred)
  * with gt/gte/lt/lte/neq/within/without, the numeric range P forms
  * inside/outside/between (TinkerPop exclusive-bounds contracts), the
  * TextP forms startingWith/endingWith/containing (+not variants — plain
  * string semantics; textContains keeps the reference's tokenized
  * word-containment), hasNot, out/in/both(labels…), outE/inE/bothE,
  * inV/outV/otherV/bothV, dedup, limit(n), range(a,b), sample(f), coin(p)
  * (deterministic md5 draw), order().by(k[,decr]),
  * repeat(sub).times(n) with MULTI-STEP sub-traversal bodies,
  * repeat(sub).until(cond) (do-while predicate exit, drained-frontier
  * stop, 16-round cap), until(loops().is(n | gt/gte/lt/lte(n))) — the
  * loop-counter exit, optionally or()-combined with one property
  * condition in either order (TinkerPop's
  * `until(has(…).or().loops().is(n))` escape-hatch idiom) —
  * emit() after repeat (layers 1..n) or BEFORE it
  * (layer 0 included), group()/groupCount() with modulator by() forms —
  * group().by(k)[.by(prop | <agg>(prop) | count() | values(p).fold() |
  * values(p).<agg>())] — and the branch/
  * filter sub-traversal steps where(sub)/not(sub)/optional(sub)/
  * choose(cond, sub, sub)/coalesce(sub, sub)/union(sub, …) (lowered onto
  * the SAME DSL implementations — sub = a chain of vertex steps,
  * identity() allowed), the binding-compare where forms
  * where(eq('a'))/where(neq('a')) (current element vs binding) and
  * where('a', eq('b'))/where('a', neq('b')) (binding vs binding),
  * values(k), valueMap(k…), elementMap(k…) (id+label+props; no keys =
  * every property column), properties(k…) (flattened (id, key, value)
  * rows, absent props dropped), constant(v), inject(ids…),
  * is('id') on the vertex stream and is(P)/unfold()/count() as
  * RESULT-frame modulators (values(k).is(gt(x)).count(),
  * fold().unfold()), id(), path() [+ .by(prop) property rendering,
  * id fallback on absent props] via
  * pathed(), count, groupCount(k), group(k,v), fold, sum/max/min/mean(k),
  * mid-traversal STEP LABELING — as('a') binds the current vertex,
  * select('a') back-steps to it (traversal continues), select('a','b')
  * [.by(prop)…] projects the binding map, project(k…).by(prop|)
  * projects the current element — and the declarative
  * match(as('a').out(l).as('b'), …) with pattern-level
  * hasLabel/has(k,v), followed by select(vars…).by(prop)… and
  * order()/limit/range on the binding table — lowered onto the SAME
  * [[MatchStep]] shared-variable join planner the DSL uses, so scripts and
  * the fluent API reach one step surface (the reference routes scripts and
  * API through one GraphTraversal the same way).
  *
  * SIDE-EFFECT steps (reference `ProcessBasicSuite.java:168-178`) in their
  * dataflow readings: `g.withSack(n).V(…)` + `sack(sum|minus|mult)
  * .by(prop)` after an edge step + terminal `sack()` — the sack is a
  * carried numeric rider column, updates are column expressions;
  * `aggregate('k')`/`store('k')` [+ `.by(prop)`] snapshot the current
  * elements into a named collection that `cap('k')` emits as one sorted
  * list (eager-vs-lazy timing dissolves in batch dataflow — both are the
  * same lazy snapshot); `tree()` (after `g.withPath(…)`) emits the
  * traversal tree as its path-prefix set, one row per distinct
  * root-to-position prefix.
  * The whole chain compiles to ONE Catalyst plan.
  */
object GremlinLite {

  // ------------------------------------------------------------------ lexer
  private[api] final case class Step(name: String, args: List[Arg])

  /** Per-step row counts from the LAST `profile()`d traversal whose action
    * ran on this JVM (TinkerPop profile() metrics, batch rendering —
    * reference ProcessBasicSuite.java:156). Key = "NNN_stepName" in step
    * order (the head V()/E() is the steps' input, not a key). Counts ride
    * CollectMetrics accumulators on each step's output frame — zero extra
    * jobs, no plan barrier, profiled results byte-identical to unprofiled
    * (asserted by GremlinLiteSpec). Dev/diagnostic surface: one profiled
    * traversal at a time (concurrent profiled actions interleave). */
  val lastProfile = new java.util.concurrent.ConcurrentHashMap[String, Long]()

  private val profInstalled =
    java.util.concurrent.ConcurrentHashMap.newKeySet[Integer]()
  private def installProfileListener(
      spark: org.apache.spark.sql.SparkSession): Unit = {
    val key = Integer.valueOf(System.identityHashCode(spark))
    if (profInstalled.add(key))
      spark.listenerManager.register(
        new org.apache.spark.sql.util.QueryExecutionListener {
          override def onSuccess(funcName: String,
              qe: org.apache.spark.sql.execution.QueryExecution,
              durationNs: Long): Unit =
            qe.observedMetrics.foreach { case (name, row) =>
              if (name.startsWith("graft_gprof_"))
                lastProfile.put(name.stripPrefix("graft_gprof_"),
                  row.getAs[Long]("rows"))
            }
          override def onFailure(funcName: String,
              qe: org.apache.spark.sql.execution.QueryExecution,
              exception: Exception): Unit = ()
        })
  }
  private[api] sealed trait Arg
  private[api] final case class SArg(v: String) extends Arg
  private[api] final case class NArg(v: Double) extends Arg
  private[api] final case class PArg(op: String, args: List[Arg]) extends Arg
  /** a dotted step chain used as an argument — match() pattern fragments
    * like `as('a').out('knows').as('b')` */
  private[api] final case class CArg(steps: List[Arg]) extends Arg

  /** split a chain on top-level dots (quotes and parens respected) */
  private def splitSteps(s: String): List[String] = {
    val out = scala.collection.mutable.ListBuffer[String]()
    var depth = 0; var inQ = false; val cur = new StringBuilder
    s.foreach {
      case '\'' => inQ = !inQ; cur += '\''
      case '(' if !inQ => depth += 1; cur += '('
      case ')' if !inQ => depth -= 1; cur += ')'
      case '.' if !inQ && depth == 0 => out += cur.result(); cur.clear()
      case c => cur += c
    }
    out += cur.result()
    out.toList.map(_.trim).filter(_.nonEmpty)
  }

  private def splitArgs(s: String): List[String] = {
    if (s.trim.isEmpty) return Nil
    val out = scala.collection.mutable.ListBuffer[String]()
    var depth = 0; var inQ = false; val cur = new StringBuilder
    s.foreach {
      case '\'' => inQ = !inQ; cur += '\''
      case '(' if !inQ => depth += 1; cur += '('
      case ')' if !inQ => depth -= 1; cur += ')'
      case ',' if !inQ && depth == 0 => out += cur.result(); cur.clear()
      case c => cur += c
    }
    out += cur.result()
    out.toList.map(_.trim)
  }

  private def parseArg(s: String): Arg = s match {
    case q if q.startsWith("'") && q.endsWith("'") => SArg(q.substring(1, q.length - 1))
    case c if {
      val parts = splitSteps(c)
      parts.length > 1 && parts.forall(_.matches("[a-zA-Z]+\\(.*\\)"))
    } => CArg(splitSteps(c).map(parseArg))
    case f if f.matches("[a-zA-Z]+\\(.*\\)") =>
      val op = f.substring(0, f.indexOf('('))
      PArg(op, splitArgs(f.substring(f.indexOf('(') + 1, f.lastIndexOf(')'))).map(parseArg))
    // a bare identifier — Gremlin enum tokens like `sum` in sack(sum) —
    // parses as a zero-arg predicate form
    case w if w.matches("[a-zA-Z_]\\w*") => PArg(w, Nil)
    case n => NArg(n.toDouble)
  }

  private[api] def parse(script: String): List[Step] = {
    val body = script.trim.stripPrefix("g.")
    splitSteps(body).map { st =>
      val p = st.indexOf('(')
      require(p > 0 && st.endsWith(")"), s"malformed step: $st")
      Step(st.substring(0, p), splitArgs(st.substring(p + 1, st.length - 1)).map(parseArg))
    }
  }

  // -------------------------------------------------------------- evaluator
  private def num(a: Arg): Double = a match {
    case NArg(v) => v
    case SArg(v) => v.toDouble
    case _ => sys.error("expected number")
  }
  private def str(a: Arg): String = a match {
    case SArg(v) => v
    case other => sys.error(s"expected string, got $other")
  }

  /** Literal value of a scalar argument (property filter right-hand side). */
  private def argVal(a: Arg): Any = a match {
    case SArg(v) => v
    case NArg(v) => if (v == v.floor) v.toLong else v
    case other => sys.error(s"expected literal, got $other")
  }

  /** Lower one match() pattern fragment — `as(v)[.hasLabel(l)][.has(k,x)]
    * (.out(l)|.in(l)).as(v)…` — onto [[MatchPattern]]; property `has`
    * constraints can't ride the pattern (the join planner binds ids only),
    * so they come back as (var, prop, value) post-join filters. */
  private def parsePattern(a: Arg): (MatchPattern, List[(String, String, Arg)]) = {
    val parts = a match {
      case CArg(ps) => ps
      case p: PArg => List(p)
      case other => sys.error(s"match() pattern must be a step chain, got $other")
    }
    var pat: MatchPattern = null
    var hop: MatchHop = null
    var lastVar: String = null
    val filters = scala.collection.mutable.ListBuffer[(String, String, Arg)]()
    parts.foreach {
      case PArg("as", List(SArg(v))) =>
        if (pat == null && hop == null) pat = MatchPattern.as(v)
        else {
          require(hop != null, s"as('$v') must start a pattern or follow out()/in()")
          pat = hop.as(v); hop = null
        }
        lastVar = v
      case PArg("hasLabel", List(SArg(l))) =>
        require(pat != null && hop == null, "hasLabel() must follow as()")
        pat = pat.hasLabel(l)
      case PArg("has", List(SArg(k), v)) =>
        // hop == null: between out()/in() and the closing as() there is no
        // bound variable yet — attaching the filter to lastVar would
        // silently constrain the WRONG vertex
        require(lastVar != null && hop == null,
          "has() must follow as() or hasLabel(), not a pending out()/in()")
        filters += ((lastVar, k, v))
      case PArg("out", List(SArg(l))) =>
        require(pat != null && hop == null, "out() must follow as()"); hop = pat.out(l)
      case PArg("in", List(SArg(l))) =>
        require(pat != null && hop == null, "in() must follow as()"); hop = pat.in(l)
      case other => sys.error(s"unsupported match() fragment: $other")
    }
    require(pat != null && hop == null, "match() pattern must end with as(v)")
    (pat, filters.toList)
  }

  /** A sub-traversal argument — `out('created').has('lang', 'java')` — as
    * its fragment list. */
  private def subFrag(a: Arg): List[Arg] = a match {
    case CArg(ps) => ps
    case p: PArg => List(p)
    case other => sys.error(s"expected a sub-traversal, got $other")
  }

  /** Lower a sub-traversal fragment list onto the DSL — the function the
    * branch/filter steps (`where`/`not`/`optional`/`choose`/`coalesce`)
    * pass to their [[GraphTraversal]] implementations, so scripts and the
    * fluent API reach ONE implementation per step. Vertex steps only;
    * anything else fails loudly (never a silent mis-route). */
  private def applySub(frag: List[Arg])(t0: GraphTraversal): GraphTraversal =
    frag.foldLeft(t0) { (t, s) =>
      s match {
        case PArg("identity", Nil) => t
        case PArg("out", as) => t.out(as.map(str): _*)
        case PArg("in", as) => t.in(as.map(str): _*)
        case PArg("both", as) => t.both(as.map(str): _*)
        case PArg("hasLabel", as) => t.hasLabel(as.map(str): _*)
        case PArg("has", List(k, v)) => t.has(pred(str(k), v))
        case PArg("has", List(k)) =>
          t.filter(org.apache.spark.sql.functions.col(str(k)).isNotNull)
        case PArg("hasNot", List(k)) => t.hasNot(str(k))
        case PArg("hasId", as) if as.nonEmpty => t.hasId(as.map(str): _*)
        case PArg("dedup", Nil) => t.dedup()
        case PArg("limit", List(x)) => t.limit(num(x).toInt)
        case PArg("outE", as) => t.outE(as.map(str): _*)
        case PArg("inE", as) => t.inE(as.map(str): _*)
        case PArg("bothE", as) => t.bothE(as.map(str): _*)
        case PArg("inV", Nil) => t.inV()
        case PArg("outV", Nil) => t.outV()
        case PArg("otherV", Nil) => t.otherV()
        case other => sys.error(s"unsupported sub-traversal step: $other")
      }
    }

  /** `loops().is(p)` exit predicate over the 1-based round counter —
    * TinkerPop's loop-counter step (reference suite
    * `ProcessBasicSuite.java` repeat families). */
  private def loopsExitOf(a: Arg): Int => Boolean = a match {
    case NArg(v) => r => r == v.toInt
    case PArg("gt", List(x)) => val n = num(x).toInt; r => r > n
    case PArg("gte", List(x)) => val n = num(x).toInt; r => r >= n
    case PArg("lt", List(x)) => val n = num(x).toInt; r => r < n
    case PArg("lte", List(x)) => val n = num(x).toInt; r => r <= n
    case other => sys.error(
      s"loops().is(…) takes n or gt/gte/lt/lte(n), got $other")
  }

  /** An until() argument mentioning `loops()`: pure `loops().is(p)`, or
    * or()-combined with one property condition in either order —
    * `loops().is(p).or().has(…)` / `has(…).or().loops().is(p)` (TinkerPop's
    * escape-hatch idiom: exit on whichever fires first). */
  private def untilLoopsOf(parts: List[Arg]): (Int => Boolean, Option[Cond]) =
    parts match {
      case List(PArg("loops", Nil), PArg("is", List(x))) =>
        (loopsExitOf(x), None)
      case List(PArg("loops", Nil), PArg("is", List(x)), PArg("or", Nil), c) =>
        (loopsExitOf(x), Some(condOf(c)))
      case List(c, PArg("or", Nil), PArg("loops", Nil), PArg("is", List(x))) =>
        (loopsExitOf(x), Some(condOf(c)))
      case other => sys.error(
        "until(loops()…) supports loops().is(p), optionally or()-combined " +
          s"with has(k[, p])/hasLabel(l), got $other")
    }

  private def mentionsLoops(a: Arg): Boolean = a match {
    case CArg(ps) => ps.exists(mentionsLoops)
    case PArg("loops", Nil) => true
    case _ => false
  }

  /** A per-element boolean condition argument — `has(k[, p])` or
    * `hasLabel(l)` — as a [[Cond]] (choose() branch conditions and
    * repeat().until() exit predicates share this grammar). */
  private def condOf(a: Arg): Cond = a match {
    case PArg("has", List(k, v)) => pred(str(k), v)
    case PArg("hasLabel", List(l)) => Cond.eq("label", str(l))
    case other => sys.error(
      s"condition must be has(k[, p]) or hasLabel(l), got $other")
  }

  private def pred(key: String, a: Arg): Cond = a match {
    case SArg(v) => Cond.eq(key, v)
    case NArg(v) => if (v == v.floor) Cond.eq(key, v.toLong) else Cond.eq(key, v)
    case PArg("gt", List(x)) => Cond.gt(key, num(x))
    case PArg("gte", List(x)) => Cond.gte(key, num(x))
    case PArg("lt", List(x)) => Cond.lt(key, num(x))
    case PArg("lte", List(x)) => Cond.lte(key, num(x))
    case PArg("neq", List(x)) => x match {
      case SArg(v) => Cond.neq(key, v); case _ => Cond.neq(key, num(x))
    }
    case PArg("within", xs) => Cond.in(key, xs.map { case SArg(v) => v; case n => num(n) })
    case PArg("without", xs) => Cond.notIn(key, xs.map { case SArg(v) => v; case n => num(n) })
    // numeric range P predicates: inside/outside are exclusive at both
    // ends, between is [a, b) — TinkerPop's P contracts
    case PArg("inside", List(a, b)) => Cond.gt(key, num(a)).and(Cond.lt(key, num(b)))
    case PArg("outside", List(a, b)) => Cond.lt(key, num(a)).or(Cond.gt(key, num(b)))
    case PArg("between", List(a, b)) => Cond.gte(key, num(a)).and(Cond.lt(key, num(b)))
    // TextP string predicates: plain prefix/suffix/substring (textContains
    // below keeps the reference's TOKENIZED word-containment semantics)
    case PArg("startingWith", List(x)) => Cond.prefix(key, str(x))
    case PArg("endingWith", List(x)) => Cond.suffix(key, str(x))
    case PArg("containing", List(x)) => Cond.substr(key, str(x))
    case PArg("notStartingWith", List(x)) => graft.core.Not(Cond.prefix(key, str(x)))
    case PArg("notEndingWith", List(x)) => graft.core.Not(Cond.suffix(key, str(x)))
    case PArg("notContaining", List(x)) => graft.core.Not(Cond.substr(key, str(x)))
    case PArg("textContains", List(x)) => Cond.textContains(key, str(x))
    case other => sys.error(s"unsupported predicate: $other")
  }

  /** Evaluate a script against a graph; returns a DataFrame. */
  /** Parameterized entry points — the reference's Gremlin API takes a
    * `bindings` map alongside the script (`GremlinAPI.java:51-88`); here
    * `$name` placeholders substitute before parsing (quote-aware, shared
    * with [[CypherLite]]'s parameter machinery). */
  def eval(g: PropertyGraph, script: String,
           params: Map[String, Any]): DataFrame =
    eval(g, CypherLite.substituteParams(script, params))

  def evalWrite(g: PropertyGraph, script: String,
                params: Map[String, Any]): PropertyGraph =
    evalWrite(g, CypherLite.substituteParams(script, params))

  def eval(g: PropertyGraph, script: String): DataFrame = {
    val steps0 = parse(script)
    require(steps0.nonEmpty, "empty traversal")
    // traversal-source configuration: g.withSack(init).V(…) attaches the
    // per-traverser sack before the source step
    val (sackInit, steps) = steps0.head match {
      case Step("withSack", List(x)) =>
        require(steps0.length > 1, "withSack() needs a traversal after it")
        (Some(num(x)), steps0.tail)
      case _ => (None, steps0)
    }
    val src = Graft.g(g)
    var t: GraphTraversal = steps.head match {
      case Step("V", args) => src.V(args.map(str): _*)
      case Step("withPath", args) => src.withPath(args.map(str): _*)
      case Step("E", args) => src.E(args.map(str): _*)
      case other => sys.error(s"traversal must start with V()/E(), got $other")
    }
    sackInit.foreach(v => t = t.withSack(v))
    var result: Option[DataFrame] = None
    var matchRes: Option[MatchResult] = None
    // named side-effect collections (aggregate('k')/store('k') snapshots,
    // emitted by cap('k')) — a snapshot is a lazy single-column frame, so
    // nothing materializes unless cap() is reached
    val sideEffects = scala.collection.mutable.Map[String, DataFrame]()
    // subgraph('k') edge collections — cap('k') emits the edge list
    val subgraphs = scala.collection.mutable.Map[String, DataFrame]()
    // terminal profile() (ProcessBasicSuite.java:156): every step's output
    // frame gets a CollectMetrics observation (accumulator-based — ZERO
    // extra jobs, no plan barrier, results byte-identical); the registered
    // listener fills [[lastProfile]] when the caller's action runs
    val profiling = steps.length > 1 && steps.last.name == "profile"
    if (profiling) {
      lastProfile.clear()
      installProfileListener(g.vertices.sparkSession)
    }
    var emitFirst = false
    var i = 1
    val n = steps.length
    while (i < n) {
      val Step(name, args) = steps(i)
      // profile(): reference-compare snapshots so only frames this step
      // actually changed get an observation
      val tPrev = t; val resultPrev = result
      // Once match() has produced bindings, the ONLY legal continuations are
      // select(...).by(...) and then order/limit/range on the result frame —
      // any other recognized step would silently operate on the PRE-match
      // traversal `t` (e.g. count() returning the frontier count) or
      // clobber the select result. Fail loudly instead of mis-routing.
      if (matchRes.isDefined)
        require(name == "select" ||
          (result.isDefined && Set("by", "order", "limit", "range").contains(name)),
          s"after match(), only select(vars…) then by/order/limit/range " +
            s"are allowed, got $name()")
      // Same loud-failure contract for ANY terminal: once a step has
      // produced the result frame (values/id/count/groupCount/…), a
      // further traversal step would silently mutate the DEAD pre-terminal
      // traversal `t` and be ignored — e.g. g.V().values('age').coin(0.5)
      // returning UNsampled data. Only the result-frame modulators may
      // follow.
      if (result.isDefined)
        require(Set("by", "order", "limit", "range", "is", "unfold",
          "count", "profile").contains(name),
          s"step $name() after a terminal step would be silently ignored " +
            "— only order/by/limit/range/is/unfold/count/profile may " +
            "follow a terminal")
      (name, args) match {
        // ---- match() and its result steps (the MatchStep planner path) ----
        case ("match", pats) =>
          require(pats.nonEmpty, "match() needs at least one pattern")
          val parsed = pats.map(parsePattern)
          var mr = t.matchStep(parsed.map(_._1): _*)
          // pattern-fragment has(k, v): property filter on the bound
          // variable, applied on the joined bindings (one left join on the
          // vertex table per constrained property — CypherLite's shape)
          parsed.flatMap(_._2).zipWithIndex.foreach { case ((v, k, value), ix) =>
            import org.apache.spark.sql.functions.{col, lit}
            val al = s"__has_$ix"
            mr = mr.withProp(v, k, al).where(col(al) === lit(argVal(value)))
          }
          matchRes = Some(mr)
        case ("select", vars) if matchRes.isDefined =>
          import org.apache.spark.sql.functions.col
          val vs = vars.map(str)
          // trailing by(prop) modulators, one per selected variable
          val bys = scala.collection.mutable.ListBuffer[String]()
          while (i + 1 < n && steps(i + 1).name == "by") {
            bys += str(steps(i + 1).args.head); i += 1
          }
          var mr = matchRes.get
          val picked =
            if (bys.isEmpty) vs
            else {
              require(bys.length == vs.length, "one by() per selected variable")
              vs.zip(bys).zipWithIndex.map { case ((v, p), ix) =>
                mr = mr.withProp(v, p, s"__sel_$ix"); s"__sel_$ix"
              }
            }
          result = Some(mr.df.select(
            picked.zip(vs).map { case (cn, v) => col(cn).as(v) }: _*))
        // ---- post-terminal modulators on a produced result frame ----
        // is(P) on a produced VALUE frame — `values(k).is(gt(x))`,
        // `count().is(n)` (TinkerPop IsTest family): filter the
        // single-column result by the predicate
        case ("is", List(p)) if result.isDefined =>
          val r = result.get
          require(r.columns.length == 1,
            "is() applies to a single-column value result")
          result = Some(r.filter(pred(r.columns.head, p).compile))
        // unfold() a fold()/group()-produced list column back to rows
        case ("unfold", Nil) if result.isDefined =>
          import org.apache.spark.sql.functions.{col, explode}
          val r = result.get
          require(r.columns.length == 1 &&
            r.schema.head.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType],
            "unfold() needs a single array-column result (fold()/cap())")
          val cn = r.columns.head
          result = Some(r.select(explode(col(cn)).as(cn)))
        // count() over a produced frame — the values(k).is(p).count() tail.
        // SINGLE-COLUMN value frames only (r14 ADVICE #4): counting a
        // multi-column result (e.g. groupCount(k).count()) would count one
        // row per key where TinkerPop counts the ONE emitted map — a
        // silent divergence, so it is rejected loudly instead.
        case ("count", Nil) if result.isDefined =>
          import org.apache.spark.sql.functions.{count => cnt, lit}
          val r = result.get
          require(r.columns.length == 1,
            "post-terminal count() applies to a single-column VALUE " +
              "result — counting a multi-column frame (groupCount(k)" +
              ".count() et al.) diverges from TinkerPop's count-the-one-" +
              "map semantics; drop the trailing count()")
          result = Some(r.agg(cnt(lit(1)).as("n")))
        case ("order", Nil) if result.isDefined =>
          import org.apache.spark.sql.functions.col
          val sorts = scala.collection.mutable.ListBuffer[org.apache.spark.sql.Column]()
          while (i + 1 < n && steps(i + 1).name == "by") {
            val by = steps(i + 1)
            val c = col(str(by.args.head))
            sorts += (if (by.args.length >= 2 && str(by.args(1)) == "decr") c.desc
                      else c.asc)
            i += 1
          }
          require(sorts.nonEmpty, "order() needs at least one by(key)")
          result = result.map(_.orderBy(sorts.toSeq: _*))
        case ("limit", List(x)) if result.isDefined =>
          result = result.map(_.limit(num(x).toInt))
        case ("range", List(a, b)) if result.isDefined =>
          result = result.map(_.offset(num(a).toInt).limit((num(b) - num(a)).toInt))
        // ---- step labeling outside match(): as()/select()/project()
        // (reference select-step tests ProcessBasicSuite.java:104-196);
        // lowered onto the SAME rider-column bindings and MatchResult
        // machinery the match() path uses ----
        case ("as", List(SArg(v))) => t = t.asStep(v)
        case ("select", vars) =>
          val vs = vars.map(str)
          require(vs.nonEmpty, "select() needs at least one step label")
          // trailing by(prop) modulators, one per selected variable
          val bys = scala.collection.mutable.ListBuffer[String]()
          while (i + 1 < n && steps(i + 1).name == "by") {
            bys += str(steps(i + 1).args.head); i += 1
          }
          if (vs.length == 1 && bys.isEmpty)
            // single select with no projection: the BACK-STEP — the
            // traversal continues from the bound element
            t = t.selectStep(vs.head)
          else {
            import org.apache.spark.sql.functions.col
            var mr = t.selectBindings(vs)
            val picked =
              if (bys.isEmpty) vs
              else {
                require(bys.length == vs.length, "one by() per selected variable")
                vs.zip(bys).zipWithIndex.map { case ((v, p), ix) =>
                  mr = mr.withProp(v, p, s"__sel_$ix"); s"__sel_$ix"
                }
              }
            result = Some(mr.df.select(
              picked.zip(vs).map { case (cn, v) => col(cn).as(v) }: _*))
          }
        case ("project", keys) =>
          val ks = keys.map(str)
          require(ks.nonEmpty, "project() needs at least one key")
          // by() with no args projects the element id; by(prop) its prop;
          // no by() modulators at all → each key IS the property name
          val bys = scala.collection.mutable.ListBuffer[Option[String]]()
          while (i + 1 < n && steps(i + 1).name == "by") {
            bys += steps(i + 1).args.headOption.map(str); i += 1
          }
          require(bys.isEmpty || bys.length == ks.length,
            "project() needs one by() per key (or none at all)")
          val items = if (bys.isEmpty) ks.map(k => (k, Some(k))) else ks.zip(bys.toSeq)
          result = Some(t.projectStep(items))
        // ---- branch/filter sub-traversals (the DSL implementations,
        // reached from script text — reference: scripts and the API share
        // one step surface, ProcessBasicSuite.java:104-196) ----
        // binding-compare where() forms (TinkerPop where-step P variants) —
        // matched BEFORE the sub-traversal form: a bare eq('a')/neq('a')
        // argument is a binding predicate, never a traversal
        case ("where", List(PArg(op @ ("eq" | "neq"), List(SArg(l))))) =>
          t = t.whereIs(op, l)
        case ("where", List(SArg(a), PArg(op @ ("eq" | "neq"), List(SArg(b))))) =>
          t = t.whereBindings(a, op, b)
        // union(subA, subB, …): per-element branch union — every branch
        // starts from the SAME incoming traversers (multiplicity preserved)
        case ("union", subs) if subs.nonEmpty =>
          t = subs.map(sub => applySub(subFrag(sub))(t)).reduce(_ union _)
        // branch(sel).option(v, sub)….option(none, sub) — multi-way routing
        // (ProcessBasicSuite BranchTest, r13 verdict ask #6); selector =
        // values(k) or label(), lowered onto GraphTraversal.branch (the
        // choose/union machinery)
        case ("branch", List(selArg)) =>
          val selCol = selArg match {
            case PArg("values", List(k)) => org.apache.spark.sql.functions.col(str(k))
            case PArg("label", Nil) => org.apache.spark.sql.functions.col("label")
            case other => sys.error(
              s"branch() selector must be values(k) or label(), got $other")
          }
          val opts = scala.collection.mutable.ListBuffer[
            (Option[Any], GraphTraversal => GraphTraversal)]()
          while (i + 1 < n && steps(i + 1).name == "option") {
            val o = steps(i + 1)
            require(o.args.length == 2, "option() takes (value, sub-traversal)")
            val key = o.args.head match {
              case PArg("none", Nil) => None
              case a => Some(argVal(a))
            }
            opts += ((key, applySub(subFrag(o.args(1))) _))
            i += 1
          }
          t = t.branch(selCol, opts.toSeq)
        // local(sub.limit(n)) / local(sub.count()) — per-element scoping
        // (ProcessBasicSuite LocalTest): the limit form is a partitioned
        // window (traversal continues), the count form is terminal
        case ("local", List(sub)) =>
          val frag = subFrag(sub)
          require(frag.length >= 2,
            "local() takes a sub-traversal ending in limit(n) or count()")
          frag.last match {
            case PArg("limit", List(x)) =>
              t = t.localLimit(num(x).toInt)(applySub(frag.dropRight(1)))
            case PArg("count", Nil) =>
              result = Some(t.localCount(applySub(frag.dropRight(1))))
            case other => sys.error(
              "local() supports sub-traversals ending in limit(n) " +
                s"(per-element window) or count() (per-element count), got $other")
          }
        // math('a + _ / 2').by(prop)… — the TinkerPop math step
        // (ProcessBasicSuite.java:149, r13 verdict ask #3): the small
        // arithmetic grammar over step-label bindings and `_` (the current
        // element), compiled by CypherLite's value-expression compiler to
        // native Columns. by(prop) modulators apply round-robin over the
        // variables in first-appearance order (TinkerPop's contract); the
        // result is a double column named `value`. Terminal.
        case ("math", List(exprA)) =>
          import org.apache.spark.sql.functions.{col => c}
          val e = CypherLite.parseValExpr(str(exprA))
          val vars = CypherLite.valRefs(e).map { case (v, p) =>
            require(p.isEmpty,
              s"math() variables are bare bindings or _, got $v.$p")
            v
          }.distinct
          require(vars.nonEmpty, "math() expression references no variable")
          val bys = scala.collection.mutable.ListBuffer[String]()
          while (i + 1 < n && steps(i + 1).name == "by" &&
              steps(i + 1).args.length == 1) {
            bys += str(steps(i + 1).args.head); i += 1
          }
          require(bys.nonEmpty,
            "math() needs at least one by(prop) value modulator")
          var frame = t.toDF
          val colFor = scala.collection.mutable.Map[String, org.apache.spark.sql.Column]()
          vars.zipWithIndex.foreach { case (v, ix) =>
            val by = bys(ix % bys.length)
            if (v == "_") colFor(v) = c(by) // the current element's property
            else {
              val bind = s"~as_$v"
              require(frame.columns.contains(bind),
                s"math: no as('$v') binding upstream")
              val al = s"~math_$ix"
              frame = frame.join(
                g.vertices.select(c("id").as(bind), c(by).as(al)),
                Seq(bind), "left")
              colFor(v) = c(al)
            }
          }
          result = Some(frame.select(
            CypherLite.compileVal(e, (v, _) => colFor(v))
              .cast("double").as("value")))
        case ("where", List(sub)) => t = t.where(applySub(subFrag(sub)))
        case ("not", List(sub)) => t = t.not(applySub(subFrag(sub)))
        case ("optional", List(sub)) => t = t.optional(applySub(subFrag(sub)))
        case ("choose", List(condA, tA, fA)) =>
          t = t.choose(condOf(condA))(applySub(subFrag(tA)))(applySub(subFrag(fA)))
        case ("coalesce", List(a, b)) =>
          t = t.coalesceT(applySub(subFrag(a)))(applySub(subFrag(b)))
        case ("coin", List(p)) =>
          // Gremlin coin(p) with a DETERMINISTIC portable draw (the
          // Packing.hash16 md5 discipline) instead of a JVM RNG, so the
          // filter is reproducible and oracle-able: keep ids whose 16-bit
          // md5 draw falls below p
          t = t.filter(graft.ops.Packing.hash16(
              org.apache.spark.sql.functions.col("id")).cast("double")
            / 65536.0 < num(p))
        case ("hasLabel", as) => t = t.hasLabel(as.map(str): _*)
        case ("has", List(k, v)) => t = t.has(pred(str(k), v))
        case ("has", List(k)) => t = t.filter(org.apache.spark.sql.functions.col(str(k)).isNotNull)
        case ("hasNot", List(k)) => t = t.hasNot(str(k))
        case ("out", as) => t = t.out(as.map(str): _*)
        case ("in", as) => t = t.in(as.map(str): _*)
        case ("both", as) => t = t.both(as.map(str): _*)
        case ("outE", as) => t = t.outE(as.map(str): _*)
        case ("inE", as) => t = t.inE(as.map(str): _*)
        case ("bothE", as) => t = t.bothE(as.map(str): _*)
        case ("inV", Nil) => t = t.inV()
        case ("outV", Nil) => t = t.outV()
        case ("otherV", Nil) => t = t.otherV()
        case ("bothV", Nil) => t = t.bothV()
        case ("hasId", as) if as.nonEmpty => t = t.hasId(as.map(str): _*)
        // inject(ids…): add literal vertex elements to the stream
        case ("inject", as) if as.nonEmpty => t = t.inject(as.map(str): _*)
        // is('id') on a vertex stream: identity equality (the P forms live
        // on produced value frames — values(k).is(p), below)
        case ("is", List(SArg(v))) => t = t.is(v)
        case ("dedup", Nil) => t = t.dedup()
        case ("simplePath", Nil) => t = t.simplePath()
        case ("cyclicPath", Nil) => t = t.cyclicPath()
        case ("limit", List(x)) => t = t.limit(num(x).toInt)
        case ("range", List(a, b)) => t = t.range(num(a).toInt, num(b).toInt)
        case ("sample", List(x)) => t = t.sample(num(x))
        case ("order", Nil) =>
          // look ahead for .by(key[, 'decr'])… — multi-key ordering
          val keys = scala.collection.mutable.ListBuffer[(String, Boolean)]()
          while (i + 1 < n && steps(i + 1).name == "by") {
            val by = steps(i + 1)
            keys += ((str(by.args.head),
              by.args.length < 2 || str(by.args(1)) != "decr"))
            i += 1
          }
          if (keys.nonEmpty) t = t.orderBy(keys.toSeq)
        // bare emit() immediately before repeat(): the EMIT-FIRST form —
        // the incoming traversers (layer 0) are emitted alongside every
        // repeat layer (TinkerPop emit-before-repeat, layers 0..n)
        case ("emit", Nil) =>
          require(i + 1 < n && steps(i + 1).name == "repeat",
            "bare emit() must immediately precede repeat() (emit-first form)")
          emitFirst = true
        case ("repeat", List(sub)) =>
          // body = any sub-traversal chain (out/in/both/has/hasLabel/
          // hasNot/dedup/limit — the applySub surface), followed by
          // [.emit()] .times(n) for bounded repetition or .until(cond)
          // for predicate-exit repetition
          val bodyFrag = subFrag(sub)
          val emitAfter = i + 1 < n && steps(i + 1).name == "emit"
          if (emitAfter) i += 1
          require(i + 1 < n, "repeat() needs .times(n) or .until(cond)")
          steps(i + 1) match {
            case Step("times", List(x)) =>
              val times = num(x).toInt
              require(!(emitFirst && emitAfter),
                "emit() on both sides of one repeat() is unsupported")
              // a one-hop body walks the driver index (GraphTraversal.repeatStep)
              def layers(emit: Boolean): GraphTraversal = bodyFrag match {
                case List(PArg(d @ ("out" | "in" | "both"), as)) =>
                  t.repeatStep(Direction.withName(d.toUpperCase), as.map(str), times, emit)
                case _ =>
                  if (emit) t.repeatEmit(times)(applySub(bodyFrag))
                  else t.repeat(times)(applySub(bodyFrag))
              }
              t = if (emitFirst) t union layers(emit = true) else layers(emitAfter)
            case Step("until", List(condA)) =>
              // repeat(sub).emit().until(cond): every traverser emitted
              // each round it survives, cond exits it from further looping
              require(!emitFirst,
                "emit() BEFORE repeat() with until() is unsupported — " +
                  "use the repeat(sub).emit().until(cond) form")
              t = if (mentionsLoops(condA)) {
                val (exitAt, extra) = untilLoopsOf(subFrag(condA))
                t.repeatUntilLoops(exitAt, emitEach = emitAfter,
                  untilCond = extra)(applySub(bodyFrag))
              } else t.repeatUntil(condOf(condA), emitEach = emitAfter)(
                applySub(bodyFrag))
            case other => sys.error(
              s"repeat() must be followed by times(n) or until(cond), got $other")
          }
          emitFirst = false
          i += 1
        // ---- sack / side-effect steps (the reference suite's sack/tree/
        // aggregate/store family, ProcessBasicSuite.java:168-178 — lowered
        // onto the documented dataflow equivalents: carried weight column,
        // path-prefix set, snapshot + collect) ----
        case ("sack", List(PArg(op @ ("sum" | "minus" | "mult"), Nil))) =>
          require(i + 1 < n && steps(i + 1).name == "by" &&
            steps(i + 1).args.length == 1, "sack(op) needs .by(prop)")
          t = t.sackBy(op, str(steps(i + 1).args.head))
          i += 1
        case ("sack", Nil) => result = Some(t.sack())
        case ("aggregate" | "store", List(SArg(k))) =>
          // snapshot the CURRENT elements (ids, or a property via .by) into
          // the named collection; the traversal continues unchanged.
          // aggregate-vs-store eager/lazy timing dissolves in batch
          // dataflow — both are the same lazy snapshot here.
          val by =
            if (i + 1 < n && steps(i + 1).name == "by" &&
                steps(i + 1).args.length == 1) {
              i += 1; Some(str(steps(i).args.head))
            } else None
          import org.apache.spark.sql.functions.col
          sideEffects(k) = by.fold(t.id().select(col("id").as("v")))(p =>
            t.toDF.select(col(p).as("v")))
        case ("subgraph", List(SArg(k))) =>
          // TinkerPop subgraph('k') side effect (ProcessBasicSuite
          // .java:177): collect the TRAVERSED edges into the named
          // edge-induced graph; cap('k') emits its edge list (src, label,
          // dst — the hash-comparable rendering; the graph-shaped view is
          // PropertyGraph.subgraph, SubgraphStrategy's filter semantics).
          // The traversal itself continues unchanged (side effect only).
          require(!t.isVertex,
            "subgraph('k') must follow an EDGE step (E()/outE()/inE())")
          import org.apache.spark.sql.functions.col
          subgraphs(k) =
            t.toDF.select(col("src"), col("label"), col("dst")).distinct()
        case ("cap", List(SArg(k))) =>
          import org.apache.spark.sql.functions.{col, collect_list, sort_array}
          if (subgraphs.contains(k)) result = Some(subgraphs(k))
          else {
            val s = sideEffects.getOrElse(k, sys.error(
              s"cap('$k') has no upstream aggregate('$k')/store('$k')/" +
                s"subgraph('$k')"))
            result = Some(s.agg(sort_array(collect_list(col("v"))).as(k)))
          }
        case ("tree", Nil) => result = Some(t.tree())
        // terminal steps
        case ("values", List(k)) => result = Some(t.values(str(k)))
        // valueMap(true, k…) — the with-tokens form (id + label join the
        // map): TinkerPop's pre-elementMap spelling, same projection
        case ("valueMap", PArg("true", Nil) :: as) =>
          result = Some(t.elementMap(as.map(str): _*))
        case ("valueMap", as) => result = Some(t.valueMap(as.map(str): _*))
        case ("elementMap", as) => result = Some(t.elementMap(as.map(str): _*))
        case ("constant", List(v)) => result = Some(t.constant(str(v)))
        // properties(k…): one row per PRESENT property — (id, key, value),
        // values stringified (TinkerPop property objects are (key, value)
        // pairs; a columnar engine emits the flattened rows)
        case ("properties", ks) if ks.nonEmpty =>
          import org.apache.spark.sql.functions._
          val cols = ks.map(str)
          cols.foreach(k => require(t.toDF.columns.contains(k),
            s"unknown property '$k' (the columnar schema is closed)"))
          val pairs = cols.map(k =>
            struct(lit(k).as("key"), col(k).cast("string").as("value")))
          result = Some(t.toDF
            .select(col("id"), explode(array(pairs: _*)).as("kv"))
            .select(col("id"), col("kv.key").as("key"),
              col("kv.value").as("value"))
            .filter(col("value").isNotNull))
        case ("id", Nil) => result = Some(t.id())
        case ("path", Nil) =>
          // path().by(prop): render elements by a property (id fallback)
          if (i + 1 < n && steps(i + 1).name == "by" &&
              steps(i + 1).args.length == 1) {
            result = Some(t.pathBy(str(steps(i + 1).args.head)))
            i += 1
          } else result = Some(t.path())
        case ("count", Nil) => result = Some(t.count())
        case ("groupCount", List(k)) => result = Some(t.groupCount(str(k)))
        // modulator form: groupCount().by(key)
        case ("groupCount", Nil) =>
          require(i + 1 < n && steps(i + 1).name == "by" &&
            steps(i + 1).args.length == 1, "groupCount() needs .by(key)")
          result = Some(t.groupCount(str(steps(i + 1).args.head)))
          i += 1
        case ("group", List(k, v)) => result = Some(t.group(str(k), str(v)))
        // modulator form: group().by(key)[.by(prop | <agg>(prop) | count()
        // | values(prop).fold() | values(prop).<agg>())] — no value by()
        // collects the element ids
        case ("group", Nil) =>
          require(i + 1 < n && steps(i + 1).name == "by" &&
            steps(i + 1).args.length == 1, "group() needs .by(key)")
          val k = str(steps(i + 1).args.head)
          i += 1
          if (i + 1 < n && steps(i + 1).name == "by" &&
              steps(i + 1).args.length == 1) {
            i += 1
            result = Some(steps(i).args.head match {
              case SArg(p) => t.group(k, p)
              case PArg("count", Nil) => t.groupAgg(k, "count", "id")
              case PArg(agg @ ("sum" | "mean" | "max" | "min"), List(p)) =>
                t.groupAgg(k, agg, str(p))
              case CArg(List(PArg("values", List(p)), PArg("fold", Nil))) =>
                t.group(k, str(p))
              case CArg(List(PArg("values", List(p)),
                             PArg(agg @ ("sum" | "mean" | "max" | "min"), Nil))) =>
                t.groupAgg(k, agg, str(p))
              case other => sys.error(s"unsupported group() value by(): $other")
            })
          } else result = Some(t.group(k, "id"))
        case ("fold", Nil) => result = Some(t.fold())
        case ("sum", List(k)) => result = Some(t.sum(str(k)))
        case ("max", List(k)) => result = Some(t.max(str(k)))
        case ("min", List(k)) => result = Some(t.min(str(k)))
        case ("mean", List(k)) => result = Some(t.mean(str(k)))
        // terminal profile(): validated position; the observation tagging
        // below + the registered listener do the work
        case ("profile", Nil) =>
          require(i == n - 1, "profile() must be the LAST step")
        case other => sys.error(s"unsupported step: $other")
      }
      if (profiling && name != "profile") {
        import org.apache.spark.sql.functions.{count => cnt, lit}
        val lbl = f"graft_gprof_$i%03d_$name"
        if (!(result eq resultPrev) && result.isDefined)
          result = result.map(_.observe(lbl, cnt(lit(1)).as("rows")))
        else if (!(t eq tPrev))
          t = t.copy(df = t.toDF.observe(lbl, cnt(lit(1)).as("rows")))
      }
      i += 1
    }
    // a match() whose bindings were never projected is a silent no-op —
    // the traversal would return t.id() with the patterns ignored
    require(matchRes.isEmpty || result.isDefined,
      "match() must be followed by select(vars…)")
    result.getOrElse(t.id())
  }

  // ---------------------------------------------------------- write scripts
  /** A vertex-id argument of from()/to(): a bare id string or `V('id')`. */
  private def vertexIdArg(a: Arg): String = a match {
    case SArg(id) => id
    case PArg("V", List(SArg(id))) => id
    case other => sys.error(s"expected a vertex id or V('id'), got $other")
  }

  /** The filter/step surface allowed on a write chain's READ part (before
    * addE/drop) — deliberately small: the steps whose matched set is
    * well-defined for a mutation. */
  private def applyWriteStep(t: GraphTraversal, name: String,
                             args: List[Arg]): GraphTraversal = (name, args) match {
    case ("hasLabel", as) => t.hasLabel(as.map(str): _*)
    case ("has", List(k, v)) => t.has(pred(str(k), v))
    case ("has", List(k)) =>
      t.filter(org.apache.spark.sql.functions.col(str(k)).isNotNull)
    case ("hasNot", List(k)) => t.hasNot(str(k))
    case ("hasId", as) if as.nonEmpty => t.hasId(as.map(str): _*)
    case ("out", as) => t.out(as.map(str): _*)
    case ("in", as) => t.in(as.map(str): _*)
    case ("both", as) => t.both(as.map(str): _*)
    case ("outE", as) => t.outE(as.map(str): _*)
    case ("dedup", Nil) => t.dedup()
    case ("limit", List(x)) => t.limit(num(x).toInt)
    case other => sys.error(s"unsupported step in a write script: $other")
  }

  /** Gremlin WRITE scripts (the reference's mutation surface,
    * `GraphTransaction.java:617-622` / Action enum, reached through the
    * primary Gremlin entry point — r13 verdict ask #1). Batch semantics,
    * lowered onto the SAME [[graft.core.Mutations]] machinery as
    * [[CypherLite.evalWrite]]; returns the mutated graph (immutable
    * batches). Supported shapes:
    *
    *  - `g.addV('label').property(k, lit)…[, chained .addV(…)…]` — node
    *    batch insert (each addV opens a vertex, property() attaches; the
    *    TinkerPop chained-addV reading: one new vertex per addV).
    *  - `g.addE('label').from(src).to(dst)[.property(k, lit)]…` — the
    *    single-edge form; src/dst are `'id'` or `V('id')`.
    *  - `g.V(…)<filters>.addE('label').to(dst)[.property(k, lit)]…` — one
    *    edge per matched vertex to the fixed target (batch fan-in).
    *  - `g.V(…)<filters>.drop()` — DETACH-drop the matched vertices;
    *    `g.E(label)<filters>.drop()` / `g.V(…).outE(l)<filters>.drop()` —
    *    drop the matched edges (stored orientation).
    *  - `g.V(…)<filters>.property(k, lit)…` — TinkerPop's mid-traversal
    *    property() as the UPDATE it is (Cardinality.single): one batch
    *    column update per key over the matched vertices
    *    ([[GraphTraversal.property]] — the same shape Cypher SET lowers
    *    to). Updates must trail the chain; unknown keys are loud.
    */
  def evalWrite(g: PropertyGraph, script: String): PropertyGraph = {
    val steps = parse(script)
    require(steps.nonEmpty, "empty write script")
    steps.head.name match {
      case "addV" =>
        var cur: Option[(String, Map[String, Any])] = None
        val rows = scala.collection.mutable.ListBuffer[(String, Map[String, Any])]()
        steps.foreach {
          case Step("addV", List(l)) =>
            cur.foreach(rows += _); cur = Some((str(l), Map.empty))
          case Step("property", List(k, v)) =>
            require(cur.isDefined, "property() must follow addV()")
            cur = cur.map { case (l, m) => (l, m + (str(k) -> argVal(v))) }
          case other => sys.error(s"unsupported step in addV script: $other")
        }
        cur.foreach(rows += _)
        val triples = rows.toSeq.map { case (l, props) =>
          (graft.core.Mutations.deriveVertexId(g.schema, l, props), l,
            props - "id")
        }
        graft.core.Mutations.insertVertexBatch(g, triples, merge = false,
          kw = "addV")
      case "addE" =>
        require(steps.head.args.length == 1,
          "addE takes one edge label: addE('label')")
        val label = str(steps.head.args.head)
        var from: Option[String] = None
        var to: Option[String] = None
        val props = scala.collection.mutable.Map[String, Any]()
        steps.tail.foreach {
          case Step("from", List(a)) => from = Some(vertexIdArg(a))
          case Step("to", List(a)) => to = Some(vertexIdArg(a))
          case Step("property", List(k, v)) => props(str(k)) = argVal(v)
          case other => sys.error(s"unsupported step in addE script: $other")
        }
        val s0 = from.getOrElse(sys.error("addE needs .from(src)"))
        val d0 = to.getOrElse(sys.error("addE needs .to(dst)"))
        Graft.g(g).addE(label, s0, d0, props.toMap)
      case "V" | "E" =>
        val src = Graft.g(g)
        var t = steps.head match {
          case Step("V", as) => src.V(as.map(str): _*)
          case Step("E", as) => src.E(as.map(str): _*)
          case other => sys.error(s"unreachable: $other")
        }
        val addEIdx = steps.indexWhere(_.name == "addE")
        if (addEIdx >= 0) {
          // g.V(…)….addE(l).to(dst).property(k, lit)… — batch fan-in
          steps.slice(1, addEIdx).foreach(s =>
            t = applyWriteStep(t, s.name, s.args))
          require(steps(addEIdx).args.length == 1,
            "addE takes one edge label: addE('label')")
          val label = str(steps(addEIdx).args.head)
          var to: Option[String] = None
          val props = scala.collection.mutable.Map[String, Any]()
          steps.drop(addEIdx + 1).foreach {
            case Step("to", List(a)) => to = Some(vertexIdArg(a))
            case Step("property", List(k, v)) => props(str(k)) = argVal(v)
            case other => sys.error(
              s"unsupported step after mid-chain addE: $other " +
                "(from() is the incoming vertex — use to())")
          }
          t.addE(label,
            to.getOrElse(sys.error("addE needs .to(dst)")), props.toMap)
        } else if (steps.last.name == "property") {
          // g.V(…)<filters>.property(k, lit)… — TinkerPop's mid-traversal
          // property() IS an update (Cardinality.single): one batch column
          // update over the matched vertices
          val firstProp = steps.indexWhere(_.name == "property")
          require(steps.drop(firstProp).forall(_.name == "property"),
            "property() updates must be the trailing steps of the chain")
          require(steps.head.name == "V",
            "property() update targets vertices — start the chain at g.V(…)")
          steps.slice(1, firstProp).foreach(s =>
            t = applyWriteStep(t, s.name, s.args))
          val kvs = steps.drop(firstProp).map {
            case Step("property", List(k, v)) => str(k) -> argVal(v)
            case other => sys.error(s"property() takes (key, literal): $other")
          }
          t.property(kvs: _*)
        } else {
          require(steps.last.name == "drop" && steps.last.args.isEmpty,
            "a V()/E() write script must end with .drop() or contain " +
              ".addE() or end with .property(k, v) updates")
          steps.slice(1, steps.length - 1).foreach(s =>
            t = applyWriteStep(t, s.name, s.args))
          t.drop()
        }
      case other => sys.error(
        s"write script must start with addV/addE/V/E, got $other")
    }
  }
}
