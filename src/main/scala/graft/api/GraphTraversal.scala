package graft.api

import org.apache.spark.sql.{Column, DataFrame, functions => F}
import org.apache.spark.sql.functions._
import graft.core.{Cond, Direction, EdgeStep, PropertyGraph}
import graft.traverse.Traversals

/** Gremlin-flavoured fluent DSL over DataFrames (SURVEY §2.9) — the
  * TinkerPop step surface re-expressed declaratively: every step is a lazy
  * DataFrame transformation, so a whole traversal compiles to ONE Catalyst
  * plan (scan → filters → joins → aggregates) instead of the reference's
  * iterator pipeline (`HugeGraphStep`/`HugeVertexStep` pushdown steps become
  * plain pushed-down predicates here).
  *
  * {{{
  *   Graft.g(graph).V().hasLabel("person").has("age", Cond.gt("age", 29))
  *     .out("knows").values("name")
  * }}}
  *
  * Path tracking (`path()`, `simplePath()`, `cyclicPath()`) is carried as an
  * `array<string>` column only when requested via `withPath` — the reference
  * pays the Records bookkeeping on every traversal; we only materialize it
  * on demand.
  */
final case class GraphTraversal(
    g: PropertyGraph,
    df: DataFrame,
    isVertex: Boolean,
    pathTracked: Boolean = false,
    /** edge-positioned frames only: does the frame carry the STORED
      * orientation (E()/outE — src,dst as written) or the reversed view
      * (inE/bothE — src = arriving vertex)? [[drop]] on edges needs the
      * stored orientation to identify rows. */
    edgeStored: Boolean = true) {

  private def vcols = g.vertices.columns

  // ------------------------------------------------------------- filter steps
  def hasLabel(labels: String*): GraphTraversal =
    copy(df = df.filter(col("label").isin(labels: _*)))

  def has(key: String, value: Any): GraphTraversal =
    copy(df = df.filter(col(key) === lit(value)))

  def has(cond: Cond): GraphTraversal = copy(df = df.filter(cond.compile))

  def hasNot(key: String): GraphTraversal = copy(df = df.filter(col(key).isNull))

  def hasId(ids: String*): GraphTraversal =
    copy(df = df.filter(col("id").isin(ids: _*)))

  def filter(c: Column): GraphTraversal = copy(df = df.filter(c))

  def dedup(): GraphTraversal =
    copy(df = if (pathTracked) df.dropDuplicates("id") else df.distinct())

  def limit(n: Int): GraphTraversal = copy(df = df.limit(n))
  def range(lo: Int, hi: Int): GraphTraversal = copy(df = df.offset(lo).limit(hi - lo))
  def sample(fraction: Double, seed: Long = 42L): GraphTraversal =
    copy(df = df.sample(fraction, seed))

  /** `simplePath()` — drop walkers that revisit a vertex. */
  def simplePath(): GraphTraversal = {
    require(pathTracked, "simplePath() requires withPath()")
    copy(df = df.filter(size(col("~path")) === size(array_distinct(col("~path")))))
  }

  /** `cyclicPath()` — keep only walkers that revisit a vertex. */
  def cyclicPath(): GraphTraversal = {
    require(pathTracked, "cyclicPath() requires withPath()")
    copy(df = df.filter(size(col("~path")) =!= size(array_distinct(col("~path")))))
  }

  // ---------------------------------------------------------- traversal steps
  /** rider columns that survive position changes: the where/not anchor,
    * the sack value, and every `as()` step-label binding (`~as_<label>`) */
  private def riderNames: Seq[String] =
    df.columns.filter(c => c == "~anchor" || c == "~sack" ||
      c.startsWith("~as_")).toSeq

  /** columns that ride along through traversal steps (path + riders) */
  private def carried: Seq[Column] =
    (if (pathTracked) Seq(col("~path")) else Nil) ++ riderNames.map(col)

  private def step(dir: Direction.Value, labels: Seq[String]): GraphTraversal = {
    val e = EdgeStep(dir, labels).edgesFor(g).select(col("src"), col("dst"))
    val outCols = col("dst").as("id") +:
      ((if (pathTracked) Seq(concat(col("~path"), array(col("dst"))).as("~path")) else Nil) ++
        riderNames.map(col))
    val next = df.select((col("id").as("src") +: carried): _*)
      .join(e, Seq("src"))
      .select(outCols: _*)
    val withProps = next.join(g.vertices, Seq("id"), "left")
    copy(df = withProps, isVertex = true)
  }

  def out(labels: String*): GraphTraversal = step(Direction.OUT, labels)
  def in(labels: String*): GraphTraversal = step(Direction.IN, labels)
  def both(labels: String*): GraphTraversal = step(Direction.BOTH, labels)

  /** Edge steps: outE/inE/bothE → an edge-positioned traversal; inV/outV
    * move back to the adjacent vertex. */
  def outE(labels: String*): GraphTraversal = {
    val e = EdgeStep(Direction.OUT, labels).edgesFor(g)
    copy(df = df.select((col("id").as("src") +: riderNames.map(col)): _*)
      .join(e, Seq("src")), isVertex = false)
  }
  def inE(labels: String*): GraphTraversal = {
    val e = g.inEdges
    val filtered = if (labels.isEmpty) e else e.filter(col("label").isin(labels: _*))
    copy(df = df.select((col("id").as("src") +: riderNames.map(col)): _*)
      .join(filtered, Seq("src")), isVertex = false, edgeStored = false)
  }
  /** `bothE(labels…)` — incident edges in BOTH orientations (the reversed
    * IN view unioned with OUT; storage is never duplicated). Each emitted
    * edge row is oriented so `src` = the vertex it was reached from —
    * follow with [[otherV]] (TinkerPop's pairing) to continue at the far
    * endpoint; `inV`/`outV` would be orientation-ambiguous here. */
  def bothE(labels: String*): GraphTraversal = {
    val e = g.adjacency(Direction.BOTH, labels)
    copy(df = df.select((col("id").as("src") +: riderNames.map(col)): _*)
      .join(e, Seq("src")), isVertex = false, edgeStored = false)
  }
  def inV(): GraphTraversal = // edge → head vertex
    copy(df = df.select((col("dst").as("id") +: riderNames.map(col)): _*)
      .join(g.vertices, Seq("id"), "left"), isVertex = true)
  def outV(): GraphTraversal =
    copy(df = df.select((col("src").as("id") +: riderNames.map(col)): _*)
      .join(g.vertices, Seq("id"), "left"), isVertex = true)
  /** `otherV()` — the endpoint the edge was NOT reached from: every edge
    * step orients its frame with `src` = the arriving vertex (outE keeps
    * the stored orientation, inE/bothE ride the reversed view), so the far
    * endpoint is always `dst`. */
  def otherV(): GraphTraversal =
    copy(df = df.select((col("dst").as("id") +: riderNames.map(col)): _*)
      .join(g.vertices, Seq("id"), "left"), isVertex = true)
  /** `bothV()` — BOTH endpoints of each edge (two traversers per edge). */
  def bothV(): GraphTraversal = {
    val ends = df.select((col("src").as("id") +: riderNames.map(col)): _*)
      .unionByName(df.select((col("dst").as("id") +: riderNames.map(col)): _*))
    copy(df = ends.join(g.vertices, Seq("id"), "left"), isVertex = true)
  }

  /** `repeat(n)(…)` — bounded repetition (the reference's repeat/times):
    * the body applied `times` times, a lazy plan of `times` hop joins. A
    * one-hop body over a pinned graph answers from the driver index
    * instead: [[repeatStep]]. */
  def repeat(times: Int)(f: GraphTraversal => GraphTraversal): GraphTraversal =
    (0 until times).foldLeft(this)((t, _) => f(t))

  /** `repeat(out|in|both(labels…)).times(n)` — and with `emit`, the
    * emit-after form `repeat(…).emit().times(n)` (layers 1..n): the walks
    * of [[repeatWalk]] left-joined to the vertices, as [[step]] joins each
    * hop, when the driver index answers them; [[repeatStepJoin]]
    * otherwise. Same rows, walk multiplicity included. */
  def repeatStep(dir: Direction.Value, labels: Seq[String], times: Int,
                 emit: Boolean): GraphTraversal =
    repeatWalk(dir, labels, times, emit) match {
      case Some(walks) => copy(df = walks.join(g.vertices, Seq("id"), "left"), isVertex = true)
      case None => repeatStepJoin(dir, labels, times, emit)
    }

  /** [[repeatStep]] as `times` Spark hop joins. */
  private[graft] def repeatStepJoin(dir: Direction.Value, labels: Seq[String], times: Int,
                                    emit: Boolean): GraphTraversal =
    if (emit) repeatEmit(times)(_.step(dir, labels))
    else repeat(times)(_.step(dir, labels))

  /** The walks of [[repeatStep]] as a local relation `(id)`, one row per
    * walk ending at `id` after `times` hops (with `emit`, after each of
    * 1..`times` hops): walk counts propagated on the labeled driver index
    * ([[graft.core.LocalAdjacency.walkCounts]]) from the frame's ids, a
    * repeated id starting its walks that many times. `None` — the Spark
    * twin's case — for an edge position, a path-tracked frame or one with
    * riders, `times` < 1, no index built (the frontend never pins one), a
    * SUB label on a `sub_label` frame, more than `frontierPushdownMaxIds`
    * rows in the frame (one job collects them), or more than
    * `bfsBroadcastMaxRows` walks. */
  private[graft] def repeatWalk(dir: Direction.Value, labels: Seq[String], times: Int,
                                emit: Boolean): Option[DataFrame] =
    if (!isVertex || pathTracked || riderNames.nonEmpty || times < 1) None
    else Traversals.labeledIndex(g, labels, pin = false).flatMap { case (ix, mask) =>
      Traversals.smallIdSet(df, "id").flatMap { seeds =>
        val bySeed = seeds.groupBy(identity).toSeq
        val kept = Seq.newBuilder[(Array[Int], Array[Long])]
        ix.walkCounts(bySeed.map(s => ix.idOf(s._1)).toArray, bySeed.map(_._2.size.toLong).toArray,
            dir, mask, times) { (k, vs, counts) => if (emit || k == times) kept += ((vs, counts)) }
        val layers = kept.result()
        val cap = Traversals.bfsBroadcastMaxRows
        // each term capped first, as a saturated count must not overflow the sum
        if (layers.flatMap(_._2).foldLeft(0L)((n, c) => math.min(n + math.min(c, cap + 1), cap + 1)) > cap)
          None
        else {
          val spark = df.sparkSession
          import spark.implicits._
          Some(layers.flatMap { case (vs, counts) =>
            vs.indices.flatMap(i => Seq.fill(counts(i).toInt)(ix.name(vs(i))))
          }.toDF("id"))
        }
      }
    }

  /** `repeat(…).emit().times(n)` — bounded repetition EMITTING every
    * intermediate layer (TinkerPop emit-after-repeat: layers 1..n, walk
    * multiplicity preserved — the kout-ALL shape vs repeat's
    * nearest-layer-only). */
  def repeatEmit(times: Int)(f: GraphTraversal => GraphTraversal): GraphTraversal = {
    require(times >= 1, "repeat().emit().times(n) needs n >= 1")
    var cur = this
    var acc: Option[GraphTraversal] = None
    for (_ <- 1 to times) {
      cur = f(cur)
      acc = Some(acc.fold(cur)(_ union cur))
    }
    acc.get
  }

  /** `repeat(…).until(cond)` — do-while repetition with a predicate exit
    * (TinkerPop until-after-repeat): each round applies the body once, then
    * traversers satisfying `cond` EXIT and are emitted; the rest loop again.
    * A missing property makes the predicate null → the traverser keeps
    * looping (TinkerPop: has() on an absent key is false). Bounded at
    * `maxRounds` — this is a bounded engine by design (the reference caps
    * traverser depth the same way, HugeTraverser.DEFAULT_MAX_DEPTH);
    * traversers still looping at the cap are dropped, and the drop is
    * OBSERVABLE: a stderr warning reports the dropped-frontier count (a
    * result-set truncation must never be silent — the ANN null-drop
    * standard). Each round cuts
    * lineage (`localCheckpoint`) and stops early on an empty frontier —
    * the loop discipline every frontier iteration in this engine follows,
    * so the emitted union's plan depth is O(rounds), not O(2^rounds). */
  /** `emitEach = true` is the `repeat(sub).emit().until(cond)` form:
    * EVERY traverser is emitted each round it survives (TinkerPop
    * emit-with-until multiplicity), while `cond` still controls which
    * traversers exit the loop. */
  def repeatUntil(cond: Cond, maxRounds: Int = 16,
                  emitEach: Boolean = false)(
      f: GraphTraversal => GraphTraversal): GraphTraversal =
    repeatUntilCore(Some(cond), None, maxRounds, emitEach)(f)

  /** `repeat(…).until(loops().is(n))` — TinkerPop's loop-counter exit: the
    * counter increments after each body application (do-while placement),
    * so a traverser exits once `exitAt(round)` holds (round is 1-based).
    * `loops().is(n)` is `_ == n`; `is(gt(n))` is `_ > n`. A pure loops()
    * exit is `repeat(n)` when `exitAt` is equality — the step earns its
    * keep combined with a property condition (`untilCond`), TinkerPop's
    * `until(loops().is(n).or(has(…)))` escape-hatch shape: exit on
    * whichever fires first. */
  def repeatUntilLoops(exitAt: Int => Boolean, maxRounds: Int = 16,
                       emitEach: Boolean = false,
                       untilCond: Option[Cond] = None)(
      f: GraphTraversal => GraphTraversal): GraphTraversal =
    repeatUntilCore(untilCond, Some(exitAt), maxRounds, emitEach)(f)

  private def repeatUntilCore(cond: Option[Cond],
                              loopsExit: Option[Int => Boolean],
                              maxRounds: Int, emitEach: Boolean)(
      f: GraphTraversal => GraphTraversal): GraphTraversal = {
    require(maxRounds >= 1 && maxRounds <= 64,
      s"repeat().until() rounds cap must be in [1, 64], got $maxRounds")
    var cur = this
    var acc: Option[GraphTraversal] = None
    var r = 0
    var drained = false
    while (r < maxRounds && !drained) {
      val stepped = f(cur)
      // lazy checkpoint + one counting aggregation: a single job both
      // materializes the round's frontier and answers the continue check
      // (the former eager checkpoint + isEmpty paid two jobs per round)
      val pinnedDf = stepped.df.localCheckpoint(false)
      val pinned = stepped.copy(df = pinnedDf)
      val loopsHit = loopsExit.exists(_(r + 1))
      val c =
        if (loopsHit) lit(true)
        else cond.map(_.compile).getOrElse(lit(false))
      val exit = if (emitEach) pinned
        else pinned.copy(df = pinned.df.filter(c))
      acc = Some(acc.fold(exit)(_ union exit))
      val contPred = coalesce(!c, lit(true))
      val cont = pinned.copy(df = pinnedDf.filter(contPred))
      val contN = pinnedDf
        .select(org.apache.spark.sql.functions.count(when(contPred, lit(1)))
          .as("n")).first().getLong(0)
      if (contN == 0L) drained = true else cur = cont
      r += 1
    }
    if (!drained) {
      // cap hit with traversers still looping: they are DROPPED from the
      // result — count them (one job on the already-checkpointed frontier)
      // and warn, so a truncated answer is observable, never silent
      val dropped = cur.df.count()
      if (dropped > 0) System.err.println(
        s"[graft] repeat().until() hit the $maxRounds-round cap with " +
          s"$dropped traverser(s) still looping — they are dropped from " +
          "further expansion" +
          (if (emitEach) "" else " and from the result") +
          " (raise maxRounds if the full fixpoint is intended)")
    }
    acc.get
  }

  /** TinkerPop `match()` — declarative multi-pattern matching: the incoming
    * traverser binds the FIRST pattern's start variable (a semi join on the
    * current frontier, the `g.V().match(as("a")…)` contract), then every
    * pattern joins on its shared variables via [[CypherLite]]'s multi-MATCH
    * planner. Returns the variable bindings ([[MatchResult]]); follow with
    * `select`/`where`/`withProp`. */
  def matchStep(patterns: MatchPattern*): MatchResult = {
    require(patterns.nonEmpty, "match() needs at least one pattern")
    // the start-variable semi join below binds on col("id") of a VERTEX
    // frontier; after an edge step the frame has no such id and the
    // failure would surface as an unrelated analysis error (or worse,
    // bind a coincidentally-named column)
    require(isVertex, "match() must follow a vertex step")
    val start = patterns.head.startVar
    var bound = CypherLite.evalChain(g, patterns.head.clause)
      .join(df.select(col("id").as(start)).distinct(), Seq(start), "left_semi")
    patterns.tail.foreach { p =>
      val pdf = CypherLite.evalChain(g, p.clause)
      val shared = bound.columns.intersect(pdf.columns).toSeq
      require(shared.nonEmpty,
        s"match() pattern starting at '${p.startVar}' shares no variable " +
          "with the preceding patterns (TinkerPop requires connected patterns)")
      bound = bound.join(pdf, shared)
    }
    MatchResult(g, bound)
  }

  /** TinkerPop `as(label)` mid-traversal — record the CURRENT vertex as a
    * labeled binding that rides the traverser through later steps (a
    * `~as_<label>` rider column, carried like `~path`); read it back with
    * [[selectStep]]/[[selectBindings]] (Gremlin `select()`, reference
    * select-step tests `ProcessBasicSuite.java:104-196`). Bindings survive
    * out/in/both, outE/inE/inV/outV, filters, dedup, order and limit;
    * branch steps (optional/coalesce/union) merge frames where one side
    * lacks the binding — those rows carry a null binding. */
  def asStep(label: String): GraphTraversal = {
    require(isVertex, s"as('$label') requires a vertex position")
    require(!df.columns.contains(s"~as_$label"),
      s"as('$label') is already bound upstream — step labels are unique")
    copy(df = df.withColumn(s"~as_$label", col("id")))
  }

  /** Gremlin `select(one)` mid-traversal: repositions every traverser at
    * its labeled binding (the back-step; per-traverser multiplicity is
    * preserved — `g.V().as('a').out().select('a')` yields 'a' once per
    * out-edge, TinkerPop semantics). */
  def selectStep(label: String): GraphTraversal = {
    val c = s"~as_$label"
    require(df.columns.contains(c),
      s"select('$label') has no upstream as('$label') binding")
    val keep = (if (pathTracked) Seq("~path") else Nil) ++ riderNames
    copy(df = df.select((col(c).as("id") +: keep.map(col)): _*)
      .join(g.vertices, Seq("id"), "left"), isVertex = true)
  }

  /** Gremlin `select(a, b, …)` — the traverser's binding map, columnar:
    * one column per label holding the bound vertex id, one row per
    * traverser. Returns a [[MatchResult]] so property projection
    * (`select(...).by(prop)`) reuses the match() machinery. */
  def selectBindings(labels: Seq[String]): MatchResult = {
    labels.foreach(l => require(df.columns.contains(s"~as_$l"),
      s"select('$l') has no upstream as('$l') binding"))
    MatchResult(g, df.select(labels.map(l => col(s"~as_$l").as(l)): _*))
  }

  /** Gremlin `project(k…).by(prop)` — per-element named projections of the
    * CURRENT position; a `None` prop projects the element id (`by()`). */
  def projectStep(items: Seq[(String, Option[String])]): DataFrame =
    df.select(items.map { case (k, p) => p.fold(col("id"))(col).as(k) }: _*)

  /** TinkerPop `where(P.eq/neq('a'))` — compare the CURRENT element to a
    * step-label binding ([[asStep]]). */
  def whereIs(op: String, label: String): GraphTraversal = {
    val c = s"~as_$label"
    require(df.columns.contains(c), s"where: no as('$label') binding upstream")
    require(isVertex, "where(P) compares the current VERTEX to the binding")
    copy(df = df.filter(op match {
      case "eq" => col("id") === col(c)
      case "neq" => col("id") =!= col(c)
      case other => sys.error(s"unsupported where predicate: $other")
    }))
  }

  /** TinkerPop `where('a', P.eq/neq('b'))` — compare two bindings. */
  def whereBindings(a: String, op: String, b: String): GraphTraversal = {
    Seq(a, b).foreach(l => require(df.columns.contains(s"~as_$l"),
      s"where: no as('$l') binding upstream"))
    copy(df = df.filter(op match {
      case "eq" => col(s"~as_$a") === col(s"~as_$b")
      case "neq" => col(s"~as_$a") =!= col(s"~as_$b")
      case other => sys.error(s"unsupported where predicate: $other")
    }))
  }

  /** `where(sub)` — keep elements whose sub-traversal yields ≥1 result
    * (Gremlin's filter-by-traversal; compiles to a left_semi join). */
  def where(f: GraphTraversal => GraphTraversal): GraphTraversal = {
    val anchored = copy(df = df.select(col("id")).distinct(), pathTracked = false)
    // tag each anchor, run the sub-traversal, keep anchors that survive
    val tagged = anchored.copy(df = anchored.df.withColumn("~anchor", col("id")))
    val sub = f(tagged).df.select(col("~anchor").as("id")).distinct()
    copy(df = df.join(sub, Seq("id"), "left_semi"))
  }

  /** `not(sub)` — the anti shape. */
  def not(f: GraphTraversal => GraphTraversal): GraphTraversal = {
    val anchored = copy(df = df.select(col("id")).distinct(), pathTracked = false)
    val tagged = anchored.copy(df = anchored.df.withColumn("~anchor", col("id")))
    val sub = f(tagged).df.select(col("~anchor").as("id")).distinct()
    copy(df = df.join(sub, Seq("id"), "left_anti"))
  }

  /** `optional(sub)` — sub-traversal results plus the elements that had no
    * result (Gremlin optional/coalesce-with-identity). */
  def optional(f: GraphTraversal => GraphTraversal): GraphTraversal = {
    val tagged = copy(df = df.select(col("id")).distinct()
      .withColumn("~anchor", col("id")), pathTracked = false)
    val sub = f(tagged)
    val matchedAnchors = sub.df.select(col("~anchor").as("id")).distinct()
    val kept = df.join(matchedAnchors, Seq("id"), "left_anti") // no result → keep self
    copy(df = sub.df.drop("~anchor").unionByName(kept, allowMissingColumns = true))
  }

  /** `choose(pred, ifTrue, ifFalse)` — per-element branch: elements matching
    * the predicate take the first branch, the rest the second. */
  def choose(predicate: Cond)(ifTrue: GraphTraversal => GraphTraversal)(
      ifFalse: GraphTraversal => GraphTraversal): GraphTraversal = {
    val hit = ifTrue(copy(df = df.filter(predicate.compile)))
    val miss = ifFalse(copy(df = df.filter(!predicate.compile)))
    hit.union(miss)
  }

  /** TinkerPop `branch(sel).option(v, sub)…` (reference ProcessBasicSuite
    * BranchTest): per-element multi-way routing — an element whose selector
    * equals an option's value takes that branch, `None` is the
    * `option(none, …)` default (selector null or unlisted). Lowered onto
    * the SAME filter+union shape as [[choose]] — every branch starts from
    * the matching slice of the incoming traversers, results union
    * (multiplicity preserved). */
  def branch(sel: Column,
             options: Seq[(Option[Any], GraphTraversal => GraphTraversal)]): GraphTraversal = {
    require(options.nonEmpty, "branch() needs at least one option()")
    val listed = options.collect { case (Some(v), _) => v }
    options.map { case (key, f) =>
      val slice = key match {
        case Some(v) => copy(df = df.filter(sel === lit(v)))
        case None =>
          copy(df = df.filter(
            if (listed.isEmpty) lit(true) else sel.isNull || !sel.isin(listed: _*)))
      }
      f(slice)
    }.reduce(_ union _)
  }

  /** TinkerPop `local(sub.limit(n))` (reference ProcessBasicSuite
    * LocalTest): per-element scoping of a limit — the top n of EACH
    * incoming element's sub-results, not a global cut. Dataflow reading: a
    * PARTITIONED window (`row_number() ≤ n` per anchor) — the engine's
    * degree-cap shape, no global sort. Order is deterministic: the element
    * id at a vertex end, every non-rider column at an edge end
    * (content-identical parallel edges are interchangeable). The traversal
    * continues from the sub's end position. */
  def localLimit(n: Int)(f: GraphTraversal => GraphTraversal): GraphTraversal = {
    require(isVertex, "local() anchors at a vertex position")
    require(!df.columns.contains("~anchor"),
      "local() cannot nest inside where()/not()/optional() sub-traversals")
    val anchored = copy(df = df.withColumn("~anchor", col("id")),
      pathTracked = false)
    val stepped = f(anchored)
    val keys: Seq[Column] =
      if (stepped.isVertex) Seq(col("id"))
      else stepped.df.columns.filterNot(c => c == "src" || c.startsWith("~"))
        .map(c => coalesce(col(c).cast("string"), F.lit(""))).toSeq
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("~anchor")).orderBy(keys: _*)
    stepped.copy(df = stepped.df.withColumn("~lrn", row_number().over(w))
      .filter(col("~lrn") <= n).drop("~lrn", "~anchor"))
  }

  /** TinkerPop `local(sub.count())` — one count PER incoming traverser
    * (elements with no sub-results emit 0, the local-count contract);
    * terminal. One grouped count over the distinct anchors + a join back,
    * so incoming multiplicity is preserved without re-running the sub per
    * duplicate. */
  def localCount(f: GraphTraversal => GraphTraversal): DataFrame = {
    require(isVertex, "local() anchors at a vertex position")
    val anchored = copy(df = df.select(col("id")).distinct()
      .withColumn("~anchor", col("id")), pathTracked = false)
    val counts = f(anchored).df.groupBy(col("~anchor"))
      .agg(F.count(lit(1)).as("~lc"))
    df.select(col("id").as("~anchor"))
      .join(counts, Seq("~anchor"), "left")
      .select(coalesce(col("~lc"), lit(0L)).as("n"))
  }

  /** `coalesce(sub1, sub2)` — per element, the first branch's results if it
    * yields any; otherwise the second branch's. */
  def coalesceT(first: GraphTraversal => GraphTraversal)(
      second: GraphTraversal => GraphTraversal): GraphTraversal = {
    val tagged = copy(df = df.select(col("id")).distinct()
      .withColumn("~anchor", col("id")), pathTracked = false)
    val r1 = first(tagged)
    val matched = r1.df.select(col("~anchor").as("id")).distinct()
    val fallbackAnchors = df.join(matched, Seq("id"), "left_anti")
      .select(col("id")).distinct().withColumn("~anchor", col("id"))
    val r2 = second(copy(df = fallbackAnchors, pathTracked = false))
    copy(df = r1.df.drop("~anchor")
      .unionByName(r2.df.drop("~anchor"), allowMissingColumns = true))
  }

  // ------------------------------------------------------------- map steps
  def id(): DataFrame = df.select(col("id"))
  def values(key: String): DataFrame = df.select(col(key)).filter(col(key).isNotNull)
  def valueMap(keys: String*): DataFrame = df.select(col("id") +: keys.map(col): _*)
  /** `elementMap(keys…)` — TinkerPop's id+label+properties projection
    * (valueMap plus the element identity columns); no keys projects every
    * property column of the current frame (rider columns excluded). */
  def elementMap(keys: String*): DataFrame = {
    val props =
      if (keys.nonEmpty) keys
      else df.columns.toSeq.filterNot(c =>
        c == "id" || c == "label" || c.startsWith("~") || c.startsWith("__"))
    df.select((col("id") +: col("label") +: props.map(col)): _*)
  }
  def path(): DataFrame = {
    require(pathTracked, "path() requires withPath()")
    df.select(concat_ws("->", col("~path")).as("path"))
  }
  /** `path().by(prop)` — render each path element by a vertex property
    * instead of its id (TinkerPop's by() path modulator). The `~path`
    * rider carries ids (simplePath/cyclicPath need identity), so the
    * rendering explodes, joins the property once against the vertex
    * table, and regroups in position order — per-traverser multiplicity
    * preserved via a row id. An element whose property is absent renders
    * as its id (TinkerPop throws per-element; a batch engine degrades
    * observably instead). */
  def pathBy(prop: String): DataFrame = {
    require(pathTracked, "path() requires withPath()")
    require(g.vertices.columns.contains(prop),
      s"unknown property '$prop' (the columnar schema is closed)")
    val rowed = df.select(col("~path"))
      .withColumn("__pid", monotonically_increasing_id())
    val ex = rowed.select(col("__pid"),
      posexplode(col("~path")).as(Seq("__pos", "__v")))
    val nm = ex.join(
      g.vertices.select(col("id").as("__v"),
        coalesce(col(prop).cast("string"), col("id")).as("__pv")),
      Seq("__v"), "left")
    nm.groupBy(col("__pid"))
      .agg(array_sort(collect_list(struct(col("__pos"), col("__pv")))).as("__a"))
      .select(concat_ws("->",
        transform(col("__a"), e => e.getField("__pv"))).as("path"))
  }
  def project(cols: Column*): DataFrame = df.select(cols: _*)

  // ------------------------------------------------------- aggregation steps
  def count(): DataFrame = df.agg(F.count(lit(1)).as("n"))
  def groupCount(key: String): DataFrame =
    df.groupBy(col(key)).agg(F.count(lit(1)).as("n"))
  def group(key: String, valueKey: String): DataFrame =
    df.groupBy(col(key)).agg(sort_array(collect_list(col(valueKey))).as("values"))
  /** `group().by(key).by(<agg>(prop))` — grouped SCALAR aggregation (the
    * TinkerPop group step with an aggregating value traversal); `count`
    * ignores `valueKey`. */
  def groupAgg(key: String, agg: String, valueKey: String): DataFrame = {
    val a = agg match {
      case "count" => F.count(lit(1))
      case "sum" => F.sum(col(valueKey))
      case "mean" => F.avg(col(valueKey))
      case "max" => F.max(col(valueKey))
      case "min" => F.min(col(valueKey))
      case other => sys.error(s"unsupported group value aggregate: $other")
    }
    df.groupBy(col(key)).agg(a.as("value"))
  }
  def fold(): DataFrame = df.agg(sort_array(collect_list(col("id"))).as("ids"))
  def max(key: String): DataFrame = df.agg(F.max(col(key)).as("max"))
  def min(key: String): DataFrame = df.agg(F.min(col(key)).as("min"))
  def sum(key: String): DataFrame = df.agg(F.sum(col(key)).as("sum"))
  def mean(key: String): DataFrame = df.agg(F.avg(col(key)).as("mean"))

  def order(key: String, asc: Boolean = true): GraphTraversal =
    copy(df = df.orderBy(if (asc) col(key).asc else col(key).desc))
  /** `order().by(k1).by(k2, decr)…` — multi-key ordering. */
  def orderBy(keys: Seq[(String, Boolean)]): GraphTraversal =
    copy(df = df.orderBy(keys.map { case (k, asc) =>
      if (asc) col(k).asc else col(k).desc }: _*))

  def union(other: GraphTraversal): GraphTraversal =
    copy(df = df.unionByName(other.df, allowMissingColumns = true))

  /** `withSack(init)` — attach a per-traverser numeric SACK (TinkerPop's
    * side-effect value), carried as a `~sack` rider column through every
    * later step. The dataflow reading of the sack machinery: a sack is a
    * column, `sack(op).by(prop)` is a column update, the terminal `sack()`
    * projects it — no mutable traverser state (COVERAGE §2.9's documented
    * equivalent, now script-reachable). */
  def withSack(init: Double): GraphTraversal =
    copy(df = df.withColumn("~sack", lit(init)))

  /** `sack(sum|minus|mult).by(prop)` at an EDGE position — fold the edge's
    * property into the carried sack (the weighted-walk accumulation idiom;
    * a missing property contributes the operator's identity). */
  def sackBy(op: String, prop: String): GraphTraversal = {
    require(df.columns.contains("~sack"),
      "sack(): no sack on this traversal — start with withSack(init)")
    require(!isVertex,
      "sack(op).by(prop) folds an EDGE property — position the traversal " +
        "on edges first (outE/inE/bothE)")
    val v = col(prop).cast("double")
    copy(df = df.withColumn("~sack", op match {
      case "sum" => col("~sack") + coalesce(v, lit(0.0))
      case "minus" => col("~sack") - coalesce(v, lit(0.0))
      case "mult" => col("~sack") * coalesce(v, lit(1.0))
      case other => sys.error(s"unsupported sack operator: $other")
    }))
  }

  /** Terminal `sack()` — one row per traverser holding its sack value. */
  def sack(): DataFrame = {
    require(df.columns.contains("~sack"),
      "sack(): no sack on this traversal — start with withSack(init)")
    df.select(col("~sack").as("sack"))
  }

  /** TinkerPop `tree()` — the traversal tree of the surviving traversers,
    * serialized as its PATH-PREFIX SET: one row per distinct
    * root-to-position prefix at every depth (exactly the tree's node set;
    * the nested-map rendering is a driver-side fold the dataflow engine
    * doesn't materialize). Requires path tracking. */
  def tree(): DataFrame = {
    require(pathTracked, "tree() requires withPath()")
    df.select(
      explode(transform(sequence(lit(1), size(col("~path"))),
        k => concat_ws("->", slice(col("~path"), lit(1), k)))).as("branch"))
      .distinct()
  }

  /** `inject(ids…)` — add literal elements to the stream. */
  def inject(idsToAdd: String*): GraphTraversal = {
    val spark = df.sparkSession
    import spark.implicits._
    val injected = idsToAdd.toDF("id").join(g.vertices, Seq("id"), "left")
    copy(df = df.unionByName(injected, allowMissingColumns = true))
  }

  /** `is(value)` on a single-column stream / current id. */
  def is(value: String): GraphTraversal = copy(df = df.filter(col("id") === value))

  /** `constant(v)` — map every element to a constant. */
  def constant(v: String): DataFrame = df.select(lit(v).as("constant"))

  /** `tail(n)` — last n by id order (deterministic; the reference's tail is
    * stream-order which a distributed engine cannot reproduce). */
  def tail(n: Int): GraphTraversal =
    copy(df = df.orderBy(col("id").desc).limit(n).orderBy(col("id").asc))

  // ------------------------------------------------------------ write steps
  /** Gremlin `drop()` (reference `GraphTransaction.removeVertex` /
    * `removeEdge` — the mutation surface's delete Action): on a VERTEX
    * position, DETACH-drop the matched vertices and every incident edge
    * (the Cypher DETACH DELETE shape, three anti joins); on an EDGE
    * position, drop the matched edge rows by content key. Edge drops need
    * the STORED orientation (E()/outE) — inE/bothE frames ride the
    * reversed view whose rows don't identify stored edges, so they are
    * rejected loudly instead of silently deleting nothing. Returns the
    * mutated graph (immutable batches — the source graph is untouched). */
  def drop(): graft.core.PropertyGraph =
    if (isVertex) graft.core.Mutations.dropVertices(g, df.select(col("id")))
    else {
      require(edgeStored,
        "drop() on an edge position needs the STORED orientation — " +
          "reach the edges via E()/outE(), not inE()/bothE() (those ride " +
          "the reversed view)")
      graft.core.Mutations.dropEdges(g, df)
    }

  /** Gremlin `addE(label).to(dst)` from a vertex position (reference
    * `GraphTransaction.addEdge`): one new edge per CURRENT vertex to the
    * fixed target, with literal properties — the batch fan-in shape
    * (`g.V().hasLabel('x').addE('l').to(v)`). Endpoints must exist;
    * SINGLE-frequency duplicate edges are loud ([[graft.core.Mutations
    * .insertEdges]]). */
  def addE(label: String, dst: String,
           props: Map[String, Any] = Map.empty): graft.core.PropertyGraph = {
    require(isVertex, "addE() must start from a vertex position")
    graft.core.Mutations.insertEdges(g, label,
      df.select(col("id").as("src")).distinct().withColumn("dst", lit(dst)),
      props)
  }

  /** Gremlin mid-traversal `property(k, v)` as the UPDATE it is in
    * TinkerPop (Cardinality.single — reference
    * `GraphTransaction.addVertexProperty`): set the given literal
    * properties on every CURRENT vertex, one batch column update (the
    * same update shape Cypher SET lowers to — never per-row probing).
    * The columnar schema is closed: unknown keys are loud, values cast
    * to the column's type. */
  def property(kvs: (String, Any)*): graft.core.PropertyGraph = {
    require(isVertex, "property() update must sit on a vertex position")
    require(kvs.nonEmpty, "property() update needs at least one (key, value)")
    kvs.foreach { case (k, _) =>
      require(g.vertices.columns.contains(k),
        s"unknown property '$k' (the columnar schema is closed)")
      require(k != "id" && k != "label",
        s"property() cannot rewrite the element identity column '$k'")
    }
    val hits = df.select(col("id")).distinct().withColumn("__hit", lit(true))
    val updated = kvs.foldLeft(
      g.vertices.join(hits, Seq("id"), "left")) { case (v, (k, x)) =>
      v.withColumn(k,
        when(col("__hit"), lit(x).cast(g.vertices.schema(k).dataType))
          .otherwise(col(k)))
    }.drop("__hit")
    g.copy(vertices = updated)
  }

  def toDF: DataFrame = df
}

object Graft {
  final class Source(g: PropertyGraph) {
    def V(ids: String*): GraphTraversal = {
      val base = if (ids.isEmpty) g.vertices else g.vertices.filter(col("id").isin(ids: _*))
      GraphTraversal(g, base, isVertex = true)
    }
    /** V() with path tracking enabled from the start. */
    def withPath(ids: String*): GraphTraversal = {
      val base = if (ids.isEmpty) g.vertices else g.vertices.filter(col("id").isin(ids: _*))
      GraphTraversal(g, base.withColumn("~path", array(col("id"))),
        isVertex = true, pathTracked = true)
    }
    def E(labels: String*): GraphTraversal = {
      val base = if (labels.isEmpty) g.edges else g.edges.filter(col("label").isin(labels: _*))
      GraphTraversal(g, base, isVertex = false)
    }
    /** Gremlin `g.addV(label).property(k, v)…` — batch node insert; id from
      * the PRIMARY_KEY splice or an explicit `id` property. Colliding ids
      * are loud (addV never upserts — reference
      * `GraphTransaction.addVertex:617`). One map per new vertex. */
    def addV(label: String, props: Map[String, Any]*): graft.core.PropertyGraph = {
      val rows = props.map { p =>
        (graft.core.Mutations.deriveVertexId(g.schema, label, p), label,
          p - "id")
      }
      graft.core.Mutations.insertVertexBatch(g, rows, merge = false, kw = "addV")
    }
    /** Gremlin `g.addE(label).from(src).to(dst).property(k, v)…` — the
      * single-edge form. */
    def addE(label: String, src: String, dst: String,
             props: Map[String, Any] = Map.empty): graft.core.PropertyGraph = {
      val spark = g.vertices.sparkSession
      import spark.implicits._
      graft.core.Mutations.insertEdges(g, label,
        Seq((src, dst)).toDF("src", "dst"), props)
    }
  }
  def g(graph: PropertyGraph): Source = new Source(graph)
}
