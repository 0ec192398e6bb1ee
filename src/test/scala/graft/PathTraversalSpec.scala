package graft

import graft.core._
import graft.traverse.{PathTraversals, SimilarityTraversals}
import graft.traverse.PathTraversals.TemplateStep
import org.apache.spark.sql.functions._

class PathTraversalSpec extends SparkSpec {
  import spark.implicits._

  /** cycle fixture: a→b→c→a plus tail c→d (FIXTURES.md §3). */
  lazy val cyclic: PropertyGraph = {
    val verts = Seq("a", "b", "c", "d").map(v => (v, "node")).toDF("id", "label")
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"))
      .toDF("src", "dst")
      .withColumn("label", lit("e"))
      .withColumn("sort_values", lit(null).cast("string"))
    PropertyGraph(verts, edges, GraphSchema(Nil,
      Seq(VertexLabelDef("node", Nil)), Seq(EdgeLabelDef("e", "node", "node"))))
  }

  lazy val modern = ModernGraph.build(spark)

  test("rings finds the 3-cycle, rays stop at leaves") {
    val r = PathTraversals.rings(cyclic, "a", Direction.OUT, Nil, 4)
      .collect().map(_.getString(0)).toSet
    assert(r === Set("a->b->c->a"))
    val rays = PathTraversals.rays(cyclic, "a", Direction.OUT, Nil, 5)
      .collect().map(_.getString(0)).toSet
    assert(rays === Set("a->b->c->d")) // the cycle branch dies (revisit), tail is the leaf
  }

  test("layered neighbor sampling: fanout bounds, layer lineage, determinism") {
    // modern graph: marko -knows-> vadas,josh; -created-> lop; josh -created-> lop,ripple
    val out = PathTraversals.layeredNeighborSample(modern,
      Seq("person:marko"), fanouts = Seq(2, 2), Direction.OUT)
    val rows = out.collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getString(3)))
    // layer 1: marko has 3 OUT neighbors, fanout 2 keeps exactly 2
    val l1 = rows.filter(_._2 == 1)
    assert(l1.length === 2 && l1.forall(_._3 == "person:marko"))
    // layer 2 sources are exactly the layer-1 sampled dsts (per seed)
    val l2 = rows.filter(_._2 == 2)
    assert(l2.map(_._3).toSet.subsetOf(l1.map(_._4).toSet))
    // per-node fanout bound holds at layer 2 as well
    l2.groupBy(_._3).foreach { case (_, es) => assert(es.length <= 2) }
    // deterministic: a second run returns the identical edge set
    val again = PathTraversals.layeredNeighborSample(modern,
      Seq("person:marko"), fanouts = Seq(2, 2), Direction.OUT)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getString(3)))
    assert(rows.toSet === again.toSet)
  }

  test("rings empty on a DAG") {
    assert(PathTraversals.rings(modern, "person:marko", Direction.OUT, Nil, 4).count() === 0L)
  }

  test("BOTH rings: single-edge backtrack excluded, parallel-edge 2-ring and longer cycles kept") {
    // a→b single edge, a⇉c parallel edges (reference SubGraphTraverser:
    // A→B→A counts only with multi-edges), plus the directed 3-cycle a→b→c→a
    val verts = Seq("a", "b", "c").map(v => (v, "node")).toDF("id", "label")
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("a", "c"))
      .toDF("src", "dst")
      .withColumn("label", lit("e"))
      .withColumn("sort_values", lit(null).cast("string"))
    val g = PropertyGraph(verts, edges, GraphSchema(Nil,
      Seq(VertexLabelDef("node", Nil)), Seq(EdgeLabelDef("e", "node", "node"))))
    val r = PathTraversals.rings(g, "a", Direction.BOTH, Nil, 4)
      .collect().map(_.getString(0)).toSet
    // a↔c has TWO physical edges (c→a and a→c) → the 2-ring a->c->a is real;
    // a↔b has one edge → a->b->a is a backtrack and must NOT appear;
    // the 3-cycle appears in both rotations under BOTH adjacency
    assert(!r.contains("a->b->a"), s"backtrack leaked: $r")
    assert(r.contains("a->c->a"), s"parallel-edge 2-ring missing: $r")
    assert(r.contains("a->b->c->a") && r.contains("a->c->b->a"), s"3-cycle missing: $r")
  }

  test("guided walks: one path per source, deterministic, hop-bounded, dead ends emit partial paths") {
    def run() = PathTraversals.guidedWalks(cyclic, Seq("a", "d"), steps = 3, Direction.OUT)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val w = run()
    assert(w.keySet === Set("a", "d"))
    assert(w("d") === "d") // no out-edges: the walk is just its source
    // from a the walk is forced: a->b->c then the hash picks a or d
    assert(w("a").startsWith("a->b->c->"))
    assert(w("a").split("->").length === 4) // exactly `steps` hops
    assert(run() === w) // bit-for-bit deterministic
  }

  test("allShortestPaths returns all equal-length paths") {
    // marko→lop direct (1 hop) is strictly shorter than via josh
    val p = PathTraversals.allShortestPaths(modern, "person:marko", "software:lop",
      Direction.OUT, Nil, 3).collect().map(_.getString(0)).toSet
    assert(p === Set("person:marko->software:lop"))
    // vadas→ripple BOTH: both 3-hop paths? vadas-marko-josh-ripple only
    val p2 = PathTraversals.allShortestPaths(modern, "person:vadas", "software:ripple",
      Direction.BOTH, Nil, 4).collect().map(_.getString(0)).toSet
    assert(p2 === Set("person:vadas->person:marko->person:josh->software:ripple"))
  }

  test("templatePaths applies per-step vertex filters") {
    val p = PathTraversals.templatePaths(modern, Seq("person:marko"), Seq(
      TemplateStep(EdgeStep(Direction.OUT, Seq("knows")), Some(Cond.gt("age", 30))),
      TemplateStep(EdgeStep(Direction.OUT, Seq("created")), None)))
      .collect().map(_.getString(0)).toSet
    assert(p === Set(
      "person:marko->person:josh->software:lop",
      "person:marko->person:josh->software:ripple"))
  }

  test("templatePaths maxTimes=N unions 1..N applications of the step") {
    // BOTH created from marko: 1 hop = lop; 2 hops = lop's other creators
    // (marko itself is path-visited, dropped) — paths of BOTH lengths
    val step = Seq(TemplateStep(EdgeStep(Direction.BOTH, Seq("created")),
      None, maxTimes = 2))
    val p = PathTraversals.templatePaths(modern, Seq("person:marko"), step)
      .collect().map(_.getString(0)).toSet
    assert(p === Set(
      "person:marko->software:lop",
      "person:marko->software:lop->person:josh",
      "person:marko->software:lop->person:peter"))
    // the fixed-length call misses every length-2 path
    val fixed = PathTraversals.templatePaths(modern, Seq("person:marko"),
      Seq(TemplateStep(EdgeStep(Direction.BOTH, Seq("created")))))
      .collect().map(_.getString(0)).toSet
    assert(fixed === Set("person:marko->software:lop"))
    assert((p -- fixed).nonEmpty)
  }

  test("templatePaths withRing=true admits revisits the default excludes") {
    val step = Seq(TemplateStep(EdgeStep(Direction.BOTH, Seq("created")),
      None, maxTimes = 2))
    val ring = PathTraversals.templatePaths(modern, Seq("person:marko"), step,
      withRing = true).collect().map(_.getString(0)).toSet
    assert(ring.contains("person:marko->software:lop->person:marko"))
    val simple = PathTraversals.templatePaths(modern, Seq("person:marko"), step)
      .collect().map(_.getString(0)).toSet
    assert(!simple.contains("person:marko->software:lop->person:marko"))
  }

  test("customizedPaths ranks by summed weight") {
    val p = PathTraversals.customizedPaths(modern, Seq("person:marko"), Seq(
      (EdgeStep(Direction.OUT, Seq("knows")), Some("weight")),
      (EdgeStep(Direction.OUT, Seq("created")), Some("weight"))), topN = 1)
      .collect()
    assert(p.length === 1)
    assert(p(0).getString(0) === "person:marko->person:josh->software:ripple") // 1.0+1.0
    assert(math.abs(p(0).getDouble(1) - 2.0) < 1e-9)
  }

  test("weightedSssp relaxes to cheapest weighted route") {
    val m = PathTraversals.weightedSssp(modern, "person:marko", Direction.OUT,
      Nil, "weight", rounds = 3)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(math.abs(m("software:lop") - 0.4) < 1e-9)      // direct 0.4 < via josh 1.4
    assert(math.abs(m("software:ripple") - 2.0) < 1e-9)   // knows 1.0 + created 1.0
    assert(m("person:marko") === 0.0)
  }

  test("weightedSsspConverged reaches the Dijkstra fixpoint") {
    val m = PathTraversals.weightedSsspConverged(modern, "person:marko",
      Direction.OUT, Nil, "weight")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(math.abs(m("software:lop") - 0.4) < 1e-9)
    assert(math.abs(m("software:ripple") - 2.0) < 1e-9)
    // fixpoint equals a generously-bounded run
    val bounded = PathTraversals.weightedSssp(modern, "person:marko",
      Direction.OUT, Nil, "weight", rounds = 10)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(m === bounded)
  }

  test("weightedPathPruned equals the unpruned s->t distance (landmark bound is conservative)") {
    // symmetric BOTH view (the operator's contract); landmark person:josh
    // bounds the search: ub = d(josh,marko)+d(josh,ripple) and the prune
    // actually engages (ub is finite)
    val pruned = PathTraversals.weightedPathPruned(modern, "person:marko",
      "software:ripple", Direction.BOTH, Nil, "weight", rounds = 3,
      landmarks = Seq("person:josh"))
      .collect().map(_.getDouble(0))
    val exact = PathTraversals.weightedSssp(modern, "person:marko",
      Direction.BOTH, Nil, "weight", rounds = 3)
      .filter(org.apache.spark.sql.functions.col("id") === "software:ripple")
      .collect().map(_.getDouble(1))
    assert(pruned.toSeq === exact.toSeq && pruned.length === 1)
    // a landmark reaching neither endpoint: falls back to the exact search
    val fb = PathTraversals.weightedPathPruned(modern, "person:marko",
      "software:lop", Direction.BOTH, Nil, "weight", rounds = 3,
      landmarks = Seq("person:nobody")) // not in the graph
      .collect().map(_.getDouble(0))
    assert(fb.toSeq === Seq(0.4))
    // a DIRECTED view is rejected up front: the one-sided landmark legs
    // don't bound d(s,t) there and the prune would be unsound
    intercept[IllegalArgumentException] {
      PathTraversals.weightedPathPruned(modern, "person:marko",
        "software:ripple", Direction.OUT, Nil, "weight", rounds = 3,
        landmarks = Seq("person:josh"))
    }
    graft.core.Pin.clear()
  }

  test("weightedPathPruned: non-converged pruned loop falls back to the bounded unpruned search") {
    // The ADVICE scenario: ub is witnessed by a CHEAP LONG walk (4 hops,
    // cost 0.4 via the chain s-v1-v2-v3-t) while the only ≤2-hop route is
    // EXPENSIVE (s-m-t, cost 10, prefix 5 > ub) — the cut drops m, the
    // chain needs more rounds than the budget, so the pruned loop exhausts
    // rounds with a live frontier. The rounds-bounded UNPRUNED search
    // returns 10.0; without the convergence fallback the pruned query
    // returned no row.
    val verts = Seq("s", "v1", "v2", "v3", "t", "m").map(v => (v, "node"))
      .toDF("id", "label")
    val edges = Seq(
        ("s", "v1", 0.1), ("v1", "v2", 0.1), ("v2", "v3", 0.1), ("v3", "t", 0.1),
        ("s", "m", 5.0), ("m", "t", 5.0))
      .toDF("src", "dst", "weight")
      .withColumn("label", lit("e"))
      .withColumn("sort_values", lit(null).cast("string"))
    val g = PropertyGraph(verts, edges, GraphSchema(Nil,
      Seq(VertexLabelDef("node", Nil)), Seq(EdgeLabelDef("e", "node", "node"))))
    // landmark v2 reaches both endpoints in ≤2 bounded hops:
    // ub = d(v2,s)+d(v2,t) = 0.2+0.2 = 0.4 < 5 = the prefix of the only
    // ≤2-hop route, so the prune engages and cannot converge
    val pruned = PathTraversals.weightedPathPruned(g, "s", "t",
      Direction.BOTH, Nil, "weight", rounds = 2, landmarks = Seq("v2"))
      .collect().map(_.getDouble(0))
    val exact = PathTraversals.weightedSssp(g, "s", Direction.BOTH, Nil,
      "weight", rounds = 2)
      .filter(col("id") === "t").collect().map(_.getDouble(1))
    assert(exact.toSeq === Seq(10.0))
    assert(pruned.toSeq === exact.toSeq)
    // and with enough rounds the pruned search converges and finds the
    // true shortest path through the chain
    val full = PathTraversals.weightedPathPruned(g, "s", "t",
      Direction.BOTH, Nil, "weight", rounds = 6, landmarks = Seq("v2"))
      .collect().map(_.getDouble(0))
    assert(full.toSeq === Seq(0.4))
    graft.core.Pin.clear()
  }

  test("multiNodeShortestDist pairwise distances") {
    val m = PathTraversals.multiNodeShortestDist(modern,
      Seq("person:marko", "person:peter", "person:vadas"), Direction.BOTH, Nil, 4)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(m(("person:marko", "person:vadas")) === 1L)
    assert(m(("person:marko", "person:peter")) === 2L)  // via lop
    assert(m(("person:peter", "person:vadas")) === 3L)
  }

  test("multiNodeShortestDist follows OUT and IN edges only") {
    // marko -knows-> josh; marko and josh -created-> lop
    def dists(dir: Direction.Value): Set[(String, String, Long)] =
      PathTraversals.multiNodeShortestDist(modern,
        Seq("person:marko", "person:josh", "software:lop"), dir, Nil, 3)
        .as[(String, String, Long)].collect().toSet
    assert(dists(Direction.OUT) === Set(("person:josh", "software:lop", 1L),
      ("person:marko", "software:lop", 1L)))
    assert(dists(Direction.IN) === Set(("person:josh", "person:marko", 1L)))
  }

  test("crosspoints of marko and peter forward trees") {
    val c = PathTraversals.crosspoints(modern, Seq("person:marko", "person:peter"),
      Direction.OUT, Nil, 2)
    assert(ids(c) === Set("software:lop"))
  }

  test("fusiform similarity on bipartite person→software") {
    // sources josh (created lop+ripple). lop also created by marko,peter.
    // neighbors(josh)=2; candidates: marko (1/2), peter (1/2)
    val src = Seq("person:josh").toDF("id")
    val f = SimilarityTraversals.fusiformSimilarity(modern, src, Direction.OUT,
      "created", minNeighbors = 2, alpha = 0.5, minSimilars = 1, top = 0)
      .collect().map(r => (r.getString(1), r.getDouble(2))).toSet
    assert(f === Set(("person:marko", 0.5), ("person:peter", 0.5)))
  }

  test("neighborRank layered walk conserves alpha-damped mass") {
    val r = SimilarityTraversals.neighborRankLayered(modern, "person:marko", 0.9,
      Seq(EdgeStep(Direction.OUT, Seq("knows")), EdgeStep(Direction.OUT, Seq("created"))))
      .collect().map(x => (x.getInt(0), x.getString(1)) -> x.getDouble(2)).toMap
    assert(r((0, "person:marko")) === 1.0)
    assert(math.abs(r((1, "person:josh")) - 0.45) < 1e-9)  // 0.9/2
    assert(math.abs(r((2, "software:lop")) - 0.2025) < 1e-9) // 0.45*0.9/2
  }

  test("general neighborRank equals the layered fast path on a DAG walk") {
    // on a strictly-forward walk the same-layer/prev-layer/on-path rules
    // never fire, so the general dataflow must reduce to the layered one
    val steps = Seq(EdgeStep(Direction.OUT, Seq("knows")),
      EdgeStep(Direction.OUT, Seq("created")))
    val lay = SimilarityTraversals.neighborRankLayered(modern, "person:marko", 0.9, steps)
      .collect().map(x => (x.getInt(0), x.getString(1)) -> x.getDouble(2)).toMap
    val gen = SimilarityTraversals.neighborRank(modern, "person:marko", 0.9,
      steps.map(SimilarityTraversals.RankStep(_)))
      .collect().map(x => (x.getInt(0), x.getString(1)) -> x.getDouble(2)).toMap
    assert(gen === lay)
  }

  test("general neighborRank fires same-layer and prev-layer transfers on BOTH walks") {
    // person:marko -BOTH-> layer1 {vadas, josh, lop}; layer2 via BOTH sees
    // josh<->lop (same-layer pair is impossible here, but marko reappears on
    // paths and peter arrives via lop); prev-layer: layer2->layer1 backlinks
    val r = SimilarityTraversals.neighborRank(modern, "person:marko", 0.5,
      Seq.fill(2)(SimilarityTraversals.RankStep(EdgeStep(Direction.BOTH))))
      .collect().map(x => (x.getInt(0), x.getString(1)) -> x.getDouble(2)).toMap
    assert(r((0, "person:marko")) === 1.0)
    // layer1 = direct BOTH-neighbors of marko
    assert(Set("person:vadas", "person:josh", "software:lop")
      .forall(id => r.contains((1, id))))
    // every rank positive; peter reachable at layer 2 via lop
    assert(r.contains((2, "person:peter")))
    assert(r.values.forall(_ > 0.0))
    // mass conservation cannot hold with transfers, but layer-1 ranks must
    // STRICTLY exceed the pure forward split 0.5/3 because layer-2 vertices
    // donate back via prev-layer/same-layer increments
    assert(r((1, "person:vadas")) >= 0.5 / 3 - 1e-12)
  }
}
