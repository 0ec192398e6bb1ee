package graft

import graft.core._
import graft.traverse.{PathTraversals, Traversals}
import graft.traverse.Traversals.CapacityExceededException
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed

/** Differential spec of the driver-index regime: each traverser that
  * answers from a [[LocalAdjacency]] must return exactly what its Spark
  * loop returns — same rows, or the same capacity failure — and must answer
  * as a local relation (no Spark job to collect it). */
class LocalAdjacencySpec extends SparkSpec {
  import spark.implicits._

  lazy val modern: PropertyGraph = ModernGraph.build(spark)
  lazy val tpch: PropertyGraph = TpchGraph.cached(spark, "/root/testdata/sf0.001")

  private def graph(verts: Seq[String], edges: DataFrame): PropertyGraph =
    PropertyGraph(verts.map(v => (v, "node")).toDF("id", "label"),
      edges.withColumn("label", lit("e"))
        .withColumn("sort_values", lit(null).cast("string")),
      GraphSchema(Nil, Seq(VertexLabelDef("node", Nil)), Seq(EdgeLabelDef("e", "node", "node"))))

  /** The answer as sorted row strings, or the touched count of a capacity
    * failure. */
  private def answer(df: => DataFrame): Either[Long, Seq[String]] =
    try Right(df.collect().map(_.toSeq.mkString("|")).toSeq.sorted)
    catch { case e: CapacityExceededException => Left(e.n) }

  /** Index answer == Spark answer, and the index answer is a local relation. */
  private def same(what: String)(local: => DataFrame)(join: => DataFrame): Unit = {
    val l = answer {
      val df = local
      assert(df.queryExecution.optimizedPlan.isInstanceOf[LocalRelation],
        s"$what: not answered on the driver")
      df
    }
    assert(l === answer(join), what)
  }

  private def kneighbor(g: PropertyGraph, s: String, dir: Direction.Value,
                        labels: Seq[String], depth: Int, capacity: Long = -1L): Unit =
    same(s"kneighbor $s $dir $labels $depth cap=$capacity")(
      Traversals.kneighbor(g, s, dir, labels, depth, capacity = capacity))(
      Traversals.kneighborJoin(g, s, dir, labels, depth, -1L, capacity))

  private def koutNearest(g: PropertyGraph, s: String, dir: Direction.Value,
                          labels: Seq[String], depth: Int, capacity: Long = -1L): Unit =
    same(s"koutNearest $s $dir $labels $depth cap=$capacity")(
      Traversals.koutNearest(g, s, dir, labels, depth, capacity = capacity))(
      Traversals.koutNearestJoin(g, s, dir, labels, depth, -1L, capacity))

  private def shortestPath(g: PropertyGraph, s: String, t: String, dir: Direction.Value,
                           labels: Seq[String], depth: Int): Unit =
    if (s == t) // the Spark loop starts only when the endpoints differ
      assert(answer(Traversals.shortestPathDist(g, s, t, dir, labels, depth)) === Right(Seq("0")))
    else same(s"shortestPathDist $s $t $dir $labels $depth")(
      Traversals.shortestPathDist(g, s, t, dir, labels, depth))(
      Traversals.shortestPathDistJoin(g, s, t, dir, labels, depth))

  private def allShortestPaths(g: PropertyGraph, s: String, t: String, dir: Direction.Value,
                          labels: Seq[String], depth: Int): Unit =
    same(s"allShortestPaths $s $t $dir $labels $depth")(
      PathTraversals.allShortestPaths(g, s, t, dir, labels, depth))(
      PathTraversals.allShortestPathsJoin(g, s, t, dir, labels, depth))

  private def rings(g: PropertyGraph, s: String, dir: Direction.Value,
                    labels: Seq[String], depth: Int): Unit =
    same(s"rings $s $dir $labels $depth")(
      PathTraversals.rings(g, s, dir, labels, depth))(
      PathTraversals.ringsJoin(g, s, dir, labels, depth))

  private def sssp(g: PropertyGraph, s: String, dir: Direction.Value, labels: Seq[String],
                   weight: String, rounds: Int): Unit =
    same(s"weightedSssp $s $dir $labels $weight $rounds")(
      PathTraversals.weightedSssp(g, s, dir, labels, weight, rounds))(
      PathTraversals.weightedSsspJoin(g, s, dir, labels, weight, rounds))

  /** Targets of some walk of exactly `depth` steps, source excluded, walked
    * on the labeled index under the mask of `labels`. */
  private def walk(g: PropertyGraph, s: String, dir: Direction.Value,
                   labels: Seq[String], depth: Int): Seq[String] = {
    val (ix, mask) = Traversals.labeledIndex(g, labels).get
    var layer = Set(ix.idOf(s)).filter(_ >= 0)
    for (_ <- 1 to depth) layer = layer.flatMap(v => ix.neighborSet(v, dir, mask))
    (layer.map(ix.name) - s).toSeq.sorted
  }

  /** The Spark layer loop's other modes over one repeated EdgeStep:
    * `customizedKout` and `customizedKneighbor` must equal the index
    * answers of `koutNearest` and `kneighbor`; the walk mode (`koutAll`,
    * `customizedKout` without `nearest`) must equal the index walk. */
  private def loopModes(g: PropertyGraph, s: String, dir: Direction.Value,
                        labels: Seq[String], depth: Int): Unit = {
    val steps = Seq.fill(depth)(EdgeStep(dir, labels))
    val what = s"$s $dir $labels $depth"
    same(s"customizedKout nearest $what")(
      Traversals.koutNearest(g, s, dir, labels, depth))(
      Traversals.customizedKout(g, s, steps))
    same(s"customizedKneighbor $what")(
      Traversals.kneighbor(g, s, dir, labels, depth))(
      Traversals.customizedKneighbor(g, s, EdgeStep(dir, labels), depth))
    val walked = Right(walk(g, s, dir, labels, depth))
    assert(answer(Traversals.koutAll(g, s, dir, labels, depth)) === walked, s"koutAll $what")
    assert(answer(Traversals.customizedKout(g, s, steps, nearest = false)) === walked,
      s"customizedKout walk $what")
  }

  private val dirs = Seq(Direction.OUT, Direction.IN, Direction.BOTH)

  /** The neighbor-set traversers on the labeled index against their Spark
    * bodies, for the pair (a, b). */
  private def pairKernels(g: PropertyGraph, a: String, b: String, dir: Direction.Value,
                          labels: Seq[String]): Unit = {
    val what = s"$a $b $dir $labels"
    same(s"neighbors $what")(Traversals.neighbors(g, a, dir, labels))(
      Traversals.neighborsJoin(g, a, dir, labels))
    same(s"sameNeighbors $what")(Traversals.sameNeighbors(g, a, b, dir, labels))(
      Traversals.sameNeighborsJoin(g, a, b, dir, labels))
    same(s"jaccard $what")(Traversals.jaccardSimilarity(g, a, b, dir, labels))(
      Traversals.jaccardSimilarityJoin(g, a, b, dir, labels))
    same(s"adamicAdar $what")(Traversals.adamicAdar(g, a, b, dir, labels))(
      Traversals.adamicAdarJoin(g, a, b, dir, labels))
    same(s"resourceAllocation $what")(Traversals.resourceAllocation(g, a, b, dir, labels))(
      Traversals.resourceAllocationJoin(g, a, b, dir, labels))
  }

  private def batch(g: PropertyGraph, vs: Seq[String], dir: Direction.Value,
                    labels: Seq[String]): Unit =
    same(s"sameNeighborsBatch $vs $dir $labels")(
      Traversals.sameNeighborsBatch(g, vs, dir, labels))(
      Traversals.sameNeighborsBatchJoin(g, vs, dir, labels))

  private def personalRank(g: PropertyGraph, s: String, label: String, depth: Int,
                           sides: Seq[Traversals.WithLabel.Value] =
                             Traversals.WithLabel.values.toSeq): Unit =
    for (side <- sides)
      same(s"personalRank $s $label $depth $side")(
        Traversals.personalRank(g, s, label, 0.85, depth, side))(
        Traversals.personalRankJoin(g, s, label, 0.85, depth, side))

  /** Orders o1..o3 and an edgeless order x buying parts p1..p3 — o1 buys p1
    * twice (parallel edges) — plus `likes` edges o1→o2 and the self-loop
    * p1→p1. */
  private lazy val shop: PropertyGraph = {
    val verts = Seq("o1", "o2", "o3", "x").map((_, "order")) ++
      Seq("p1", "p2", "p3").map((_, "part"))
    val edges = Seq(("o1", "buys", "p1"), ("o1", "buys", "p1"), ("o1", "buys", "p2"),
      ("o2", "buys", "p2"), ("o2", "buys", "p3"), ("o3", "buys", "p3"), ("o3", "buys", "p1"),
      ("o1", "likes", "o2"), ("p1", "likes", "p1"))
    PropertyGraph(verts.toDF("id", "label"),
      edges.toDF("src", "label", "dst").withColumn("sort_values", lit(null).cast("string")),
      GraphSchema(Nil, Seq(VertexLabelDef("order", Nil), VertexLabelDef("part", Nil)),
        Seq(EdgeLabelDef("buys", "order", "part"), EdgeLabelDef("likes", "order", "order"))))
  }

  /** Per vertex label of the sf0.001 graph: one anchor drawn uniformly and
    * one from the label's top decile by BOTH degree (seeded draws). */
  private lazy val anchors: Seq[String] = {
    val rnd = new scala.util.Random(7)
    val deg = tpch.degrees(Direction.BOTH).withColumnRenamed("degree", "deg")
    tpch.vertices.select(col("id"), col("label")).join(deg, Seq("id"), "left")
      .select(col("label"), col("id"), coalesce(col("deg"), lit(0L)))
      .as[(String, String, Long)].collect().toSeq
      .groupBy(_._1).toSeq.sortBy(_._1).flatMap { case (_, vs) =>
        val byDeg = vs.sortBy(v => (-v._3, v._2))
        val top = byDeg.take(math.max(1, vs.size / 10))
        Seq(byDeg(rnd.nextInt(vs.size))._2, top(rnd.nextInt(top.size))._2)
      }
  }

  test("both regimes run: the labeled OUT view has an index, Pin.clear drops it") {
    val view = Traversals.labeledAdjacency(modern, Direction.OUT, Nil)
    val ix = LocalAdjacency.of(view)
    assert(ix.isDefined && ix.get.edgeCount === 6 && ix.get.vertexCount === 6)
    // BOTH reads the OUT edges and the transpose's: every edge twice
    val all = ix.get.labelMask(Nil)
    assert((0 until 6).map(ix.get.degree(_, Direction.BOTH, all)).sum === 12)
    assert(Traversals.labeledIndex(modern, Nil).exists(_._1 eq ix.get))
    assert(LocalAdjacency.of(PathTraversals.weightedEdgeView(modern, Direction.OUT, Nil,
      "weight")).isDefined)
    // the distinct and multiplicity views are Spark pins with no index
    for (dir <- dirs) {
      assert(LocalAdjacency.of(Traversals.adjacencyView(modern, dir)).isEmpty)
      assert(LocalAdjacency.of(Traversals.multiplicityView(modern, EdgeStep(dir))).isEmpty)
    }
    // an unpinned frame (SPARK_GRAFT_NOPIN / BUCKETED mode) gets none
    val bare = modern.edges.select(col("src"), col("label"), col("dst"))
    assert(LocalAdjacency.of(Traversals.indexed(bare)).isEmpty)
    Pin.clear()
    assert(LocalAdjacency.of(view).isEmpty)
    // the next pin is a new frame with an index of its own
    val again = Traversals.labeledAdjacency(modern, Direction.OUT, Nil)
    assert(!(again eq view) && LocalAdjacency.of(again).isDefined)
  }

  test("concurrent first pins build one labeled index") {
    val g = modern.copy(edges = modern.edges.filter(col("label") === "knows"))
    val start = new java.util.concurrent.CountDownLatch(1)
    val got = new java.util.concurrent.ConcurrentLinkedQueue[LocalAdjacency]()
    val threads = (1 to 4).map(_ => new Thread(() => {
      start.await()
      Traversals.labeledIndex(g, Nil).foreach(ixm => got.add(ixm._1))
    }))
    threads.foreach(_.start()); start.countDown(); threads.foreach(_.join())
    assert(got.size === 4)
    val first = got.peek()
    got.forEach(ix => assert(ix eq first))
  }

  test("modern graph: every kernel, every direction, a label filter, edge cases") {
    val vs = Seq("person:marko", "person:vadas", "person:josh", "person:peter",
      "software:lop", "software:ripple")
    for (dir <- dirs; s <- vs) {
      kneighbor(modern, s, dir, Nil, 2)
      koutNearest(modern, s, dir, Nil, 2)
      rings(modern, s, dir, Nil, 4)
    }
    for (dir <- dirs; (s, t) <- vs.zip(vs.reverse)) {
      shortestPath(modern, s, t, dir, Nil, 3)
      allShortestPaths(modern, s, t, dir, Nil, 3)
      sssp(modern, s, dir, Nil, "weight", 3)
    }
    val knows = Seq("knows")
    kneighbor(modern, "person:marko", Direction.BOTH, knows, 2)
    koutNearest(modern, "person:vadas", Direction.BOTH, knows, 2)
    shortestPath(modern, "person:vadas", "person:josh", Direction.BOTH, knows, 3)
    allShortestPaths(modern, "person:vadas", "person:josh", Direction.BOTH, knows, 3)
    rings(modern, "person:marko", Direction.BOTH, knows, 3)
    sssp(modern, "person:marko", Direction.BOTH, knows, "weight", 3)
    // unknown source, source = target, unreachable target, depth 0 and 1
    for (dir <- dirs; depth <- Seq(0, 1, 2)) {
      kneighbor(modern, "person:nobody", dir, Nil, depth)
      koutNearest(modern, "person:nobody", dir, Nil, depth)
      kneighbor(modern, "person:marko", dir, Nil, depth)
      koutNearest(modern, "person:marko", dir, Nil, depth)
      shortestPath(modern, "person:nobody", "person:marko", dir, Nil, depth)
      shortestPath(modern, "person:marko", "person:marko", dir, Nil, depth)
      shortestPath(modern, "person:marko", "person:josh", dir, Nil, depth)
      allShortestPaths(modern, "person:nobody", "person:marko", dir, Nil, depth)
      allShortestPaths(modern, "person:marko", "person:marko", dir, Nil, depth)
      allShortestPaths(modern, "person:marko", "software:ripple", dir, Nil, depth)
      rings(modern, "person:nobody", dir, Nil, depth)
      sssp(modern, "person:nobody", dir, Nil, "weight", depth)
      sssp(modern, "person:marko", dir, Nil, "weight", depth)
    }
    shortestPath(modern, "software:lop", "person:marko", Direction.OUT, Nil, 4)
    allShortestPaths(modern, "software:lop", "person:marko", Direction.OUT, Nil, 4)
  }

  test("labeled index: the OUT view only, labels per edge, IN as its transpose") {
    val ix = LocalAdjacency.of(Traversals.labeledAdjacency(shop, Direction.OUT, Nil)).get
    assert(ix.edgeCount === 9 && ix.vertexCount === 6) // x has no edge
    // the BOTH view is never collected: IN and BOTH read the transpose
    assert(LocalAdjacency.of(Traversals.labeledAdjacency(shop, Direction.BOTH, Nil)).isEmpty)
    val buys = ix.labelMask(Seq("buys"))
    val all = ix.labelMask(Nil)
    def names(a: Array[Int]) = a.map(ix.name).toSeq
    val p1 = ix.idOf("p1")
    assert(names(ix.neighborSet(p1, Direction.IN, buys)).toSet === Set("o1", "o3"))
    assert(ix.degree(p1, Direction.IN, buys) === 3) // o1's two parallel edges
    // the self-loop is an OUT and an IN edge of p1
    assert(ix.degree(p1, Direction.BOTH, ix.labelMask(Seq("likes"))) === 2)
    assert(ix.degree(p1, Direction.BOTH, all) === 5)
    val o1 = ix.neighborSet(ix.idOf("o1"), Direction.BOTH, all)
    assert(names(o1).toSet === Set("p1", "p2", "o2") && o1.sorted.sameElements(o1))
    assert(ix.neighborSet(ix.idOf("x"), Direction.BOTH, all).isEmpty)
    assert(ix.transposed.edgeCount === 9 && (ix.transposed eq ix.transposed))
  }

  test("neighbor sets, prediction scores and personalRank: modern graph and edge cases") {
    val vs = Seq("person:marko", "person:vadas", "person:josh", "person:peter",
      "software:lop", "software:ripple", "person:nobody")
    for (dir <- dirs; (a, b) <- vs.zip(vs.reverse) ++ vs.map(v => (v, v)))
      pairKernels(modern, a, b, dir, Nil)
    for (labels <- Seq(Seq("knows"), Seq("created"), Seq("knows", "created"), Seq("nolabel")))
      pairKernels(modern, "person:marko", "person:josh", Direction.BOTH, labels)
    for (dir <- dirs; labels <- Seq(Nil, Seq("created"))) {
      batch(modern, Seq("person:marko", "person:josh", "person:peter"), dir, labels)
      batch(modern, Seq("person:marko", "person:marko"), dir, labels)
      batch(modern, Seq("software:lop", "person:nobody"), dir, labels)
    }
    for (depth <- 0 to 3; s <- Seq("person:marko", "software:lop", "person:vadas",
      "person:nobody")) personalRank(modern, s, "created", depth)
    for (depth <- 1 to 3) personalRank(modern, "person:marko", "knows", depth)
    // parallel edges, a self-loop, an edgeless vertex
    val ss = Seq("o1", "o2", "o3", "x", "p1", "p3")
    for (dir <- dirs; (a, b) <- ss.zip(ss.reverse) ++ Seq(("o1", "o1"), ("p1", "p1")))
      for (labels <- Seq(Nil, Seq("buys"), Seq("likes"))) pairKernels(shop, a, b, dir, labels)
    for (dir <- dirs) batch(shop, Seq("o1", "o2", "o3"), dir, Nil)
    batch(shop, Seq("p1", "p3"), Direction.IN, Seq("buys"))
    for (depth <- 0 to 3; s <- Seq("o1", "p1", "x")) {
      personalRank(shop, s, "buys", depth)
      personalRank(shop, s, "likes", depth)
    }
  }

  test("personalRank: a source that is no vertex answers empty in every slice, on both paths") {
    for (side <- Traversals.WithLabel.values.toSeq; depth <- 1 to 2;
         g <- Seq(modern, shop); label <- Seq("created", "buys")) {
      val byIndex = Traversals.personalRank(g, "nobody", label, 0.85, depth, side)
      val byJoin = Traversals.personalRankJoin(g, "nobody", label, 0.85, depth, side)
      for (df <- Seq(byIndex, byJoin)) {
        assert(df.columns.toSeq === Seq("id", "rank"))
        assert(df.collect().isEmpty, s"$side $depth $label")
      }
    }
  }

  test("a SUB label on a sub_label frame takes the Spark path") {
    val schema = GraphSchema(Nil, Seq(VertexLabelDef("person", Nil), VertexLabelDef("acct", Nil)),
      Seq(EdgeLabelDef("transfer", "person", "acct", isParent = true),
        EdgeLabelDef("wire", "person", "acct", father = Some("transfer")),
        EdgeLabelDef("card", "person", "acct", father = Some("transfer"))))
    val edges = Seq(("p1", "a1", "transfer", "wire"), ("p1", "a2", "transfer", "card"),
      ("p2", "a1", "transfer", "wire"), ("p2", "a2", "transfer", "wire"))
      .toDF("src", "dst", "label", "sub_label")
      .withColumn("sort_values", lit(null).cast("string"))
    val g = PropertyGraph(Seq(("p1", "person"), ("p2", "person"), ("a1", "acct"),
      ("a2", "acct")).toDF("id", "label"), edges, schema)
    val wire = Traversals.sameNeighbors(g, "p1", "p2", Direction.OUT, Seq("wire"))
    assert(!wire.queryExecution.optimizedPlan.isInstanceOf[LocalRelation])
    assert(ids(wire) === Set("a1"))
    assert(ids(Traversals.neighbors(g, "a2", Direction.IN, Seq("card"))) === Set("p1"))
    // the father label is the stored one: the index answers it
    pairKernels(g, "p1", "p2", Direction.OUT, Seq("transfer"))
    assert(ids(Traversals.sameNeighbors(g, "p1", "p2", Direction.OUT, Seq("transfer"))) ===
      Set("a1", "a2"))
  }

  test("capacity guard: same count at the same layer on both regimes") {
    // marko BOTH: visited 4 after layer 1, 6 after layer 2
    for (cap <- Seq(0L, 3L, 4L, 5L, 6L)) {
      kneighbor(modern, "person:marko", Direction.BOTH, Nil, 3, cap)
      koutNearest(modern, "person:marko", Direction.BOTH, Nil, 3, cap)
    }
    kneighbor(modern, "person:nobody", Direction.OUT, Nil, 2, 0L)
    koutNearest(modern, "person:nobody", Direction.OUT, Nil, 2, 0L)
    val e = intercept[CapacityExceededException](
      Traversals.kneighbor(modern, "person:marko", Direction.BOTH, Nil, 3, capacity = 5L))
    assert(e.n === 6L && e.capacity === 5L)
  }

  test("rings over a parallel edge in BOTH mode") {
    // a→b single edge, a⇉c through two physical edges, the 3-cycle a→b→c→a
    val g = graph(Seq("a", "b", "c"),
      Seq(("a", "b"), ("b", "c"), ("c", "a"), ("a", "c")).toDF("src", "dst"))
    for (dir <- dirs; s <- Seq("a", "b", "c"); depth <- 1 to 4) rings(g, s, dir, Nil, depth)
    assert(ids(PathTraversals.rings(g, "a", Direction.BOTH, Nil, 4), "path") ===
      Set("a->c->a", "a->b->c->a", "a->c->b->a"))
    // a self-loop closes a 1-hop ring in OUT mode only
    val loop = graph(Seq("a", "b"), Seq(("a", "a"), ("a", "b"), ("b", "a")).toDF("src", "dst"))
    for (dir <- dirs; depth <- 1 to 3) rings(loop, "a", dir, Nil, depth)
    assert(ids(PathTraversals.rings(loop, "a", Direction.OUT, Nil, 2), "path") ===
      Set("a->a", "a->b->a"))
    // under BOTH, a→b and b→a are two physical edges: a 2-ring, no self-loop ring
    assert(ids(PathTraversals.rings(loop, "a", Direction.BOTH, Nil, 2), "path") ===
      Set("a->b->a"))
  }

  test("weightedSssp: parallel edges of different weights, rounds below the hop diameter") {
    // a⇉b (5 and 2), chain b→c→d→e, a shortcut a→d of 9, a null weight (→ 1.0)
    val g = graph(Seq("a", "b", "c", "d", "e"),
      Seq(("a", "b", Some(5.0)), ("a", "b", Some(2.0)), ("b", "c", Some(1.5)),
        ("c", "d", Some(0.25)), ("d", "e", None), ("a", "d", Some(9.0)))
        .toDF("src", "dst", "cost"))
    for (dir <- dirs; rounds <- 0 to 5; s <- Seq("a", "c")) sssp(g, s, dir, Nil, "cost", rounds)
    val two = PathTraversals.weightedSssp(g, "a", Direction.OUT, Nil, "cost", 2)
      .as[(String, Double)].collect().toMap
    // two rounds reach d only through the shortcut; the 3-hop route is cheaper
    assert(two === Map("a" -> 0.0, "b" -> 2.0, "c" -> 3.5, "d" -> 9.0, "e" -> 10.0))
    assert(PathTraversals.weightedSssp(g, "a", Direction.OUT, Nil, "cost", 4)
      .as[(String, Double)].collect().toMap ===
      Map("a" -> 0.0, "b" -> 2.0, "c" -> 3.5, "d" -> 3.75, "e" -> 4.75))
  }

  test("sf0.001: anchors from every vertex label, uniform and top-degree decile") {
    assert(anchors.size === 12) // 6 labels × (uniform, top decile)
    for ((s, i) <- anchors.zipWithIndex) {
      val dir = dirs(i % 3)
      val t = anchors((i + 1) % anchors.size)
      kneighbor(tpch, s, dir, Nil, 2)
      koutNearest(tpch, s, dir, Nil, 2)
      shortestPath(tpch, s, t, dir, Nil, 4)
      allShortestPaths(tpch, s, t, dir, Nil, 3)
      rings(tpch, s, dir, Nil, 3)
      sssp(tpch, s, dir, Nil, "quantity", 3)
      loopModes(tpch, s, dir, Nil, 3)
    }
    val labels = Seq("placed", "contains")
    for (s <- anchors.take(4)) {
      loopModes(tpch, s, Direction.BOTH, labels, 2)
      kneighbor(tpch, s, Direction.BOTH, labels, 2)
      koutNearest(tpch, s, Direction.OUT, labels, 2)
      shortestPath(tpch, s, "part:1", Direction.BOTH, labels, 4)
      allShortestPaths(tpch, s, "part:1", Direction.BOTH, labels, 4)
      rings(tpch, s, Direction.BOTH, labels, 4)
      sssp(tpch, s, Direction.BOTH, labels, "quantity", 3)
    }
    // the neighbor-set traversers and personalRank from order anchors, each
    // paired with the lowest-id order two `contains` hops away
    val contains = Seq("contains")
    for (a <- anchors.filter(_.startsWith("order:"))) {
      val b = Traversals.koutNearest(tpch, a, Direction.BOTH, contains, 2)
        .as[String].collect().sorted.headOption.getOrElse(a)
      pairKernels(tpch, a, b, Direction.OUT, contains)
      pairKernels(tpch, a, b, Direction.BOTH, Nil)
      for (depth <- 1 to 3) personalRank(tpch, a, "contains", depth)
    }
    // the registry's own parameters
    pairKernels(tpch, "order:3", "order:6771", Direction.OUT, contains)
    batch(tpch, Seq("supplier:1", "supplier:2", "supplier:3"), Direction.IN, Seq("supplied_by"))
    personalRank(tpch, "order:42", "contains", 2, Seq(Traversals.WithLabel.BothLabel))
    personalRank(tpch, "order:42", "contains", 3,
      Seq(Traversals.WithLabel.OtherLabel, Traversals.WithLabel.SameLabel))
    rings(tpch, "customer:130", Direction.BOTH, Nil, 4)
    allShortestPaths(tpch, "customer:1", "supplier:3", Direction.BOTH, Nil, 3)
    kneighbor(tpch, "customer:1", Direction.OUT, Nil, 3, capacity = 20L)
    koutNearest(tpch, "customer:1", Direction.OUT, Nil, 2, capacity = 5L)
  }

  test("sf0.01: a top-degree BOTH anchor whose layer takes the join path") {
    val g = TpchGraph.cached(spark, "/root/testdata/sf0.01")
    val s = g.degrees(Direction.BOTH).orderBy(col("degree").desc, col("id"))
      .head().getString(0)
    val (ix, all) = Traversals.labeledIndex(g, Nil).get
    val bfs = ix.bfs(Direction.BOTH, all)
    val hops = bfs.run(ix.idOf(s), 4).map(bfs.hops)
    // (layer size, visited so far) per layer
    val layers = (1 to 4).map(d => (hops.count(_ == d), 1L + hops.count(_ <= d)))
    // the first layer over the pushdown bound; the next one expands by join
    val wide = layers.indexWhere(_._1 > Traversals.frontierPushdownMaxIds) + 1
    assert(wide >= 1 && wide < 4, s"$s layers $layers")
    val depth = wide + 1
    kneighbor(g, s, Direction.BOTH, Nil, depth)
    koutNearest(g, s, Direction.BOTH, Nil, depth)
    loopModes(g, s, Direction.BOTH, Nil, depth)
    // the capacity guard trips at the wide layer, with the same count
    kneighbor(g, s, Direction.BOTH, Nil, depth, capacity = layers(wide - 1)._2 - 1)
  }

  test("a null label keeps the index: only the empty label list admits it") {
    // marko→josh loses its label: no label filter keeps that edge
    val g = modern.copy(edges = modern.edges.withColumn("label",
      when(col("src") === "person:marko" && col("dst") === "person:josh", lit(null))
        .otherwise(col("label"))))
    Traversals.labeledAdjacency(g, Direction.OUT, Nil)
    assert(Traversals.labeledIndex(g, Nil).isDefined)
    for (dir <- dirs; labels <- Seq(Nil, Seq("knows"), Seq("knows", "created"));
         s <- Seq("person:marko", "person:josh")) {
      kneighbor(g, s, dir, labels, 2)
      same(s"neighbors $s $dir $labels")(Traversals.neighbors(g, s, dir, labels))(
        Traversals.neighborsJoin(g, s, dir, labels))
      rings(g, s, dir, labels, 3)
    }
    assert(ids(Traversals.kneighbor(g, "person:marko", Direction.OUT, Nil, 1)) ===
      Set("person:vadas", "person:josh", "software:lop"))
    assert(ids(Traversals.kneighbor(g, "person:marko", Direction.OUT, Seq("knows"), 1)) ===
      Set("person:vadas"))
  }

  test("generated multigraphs: the five BFS and path readers equal their Spark twins") {
    val seen = scala.collection.mutable.Set.empty[String]
    val genCase = for {
      shape <- FrontendWalkSpec.genShape
      dir <- Gen.oneOf(dirs)
      labels <- Gen.oneOf(Seq(Nil, Seq("a"), Seq("b"), Seq("a", "b"), Seq("nolabel")))
      depth <- Gen.choose(0, 4)
      capacity <- Gen.oneOf(0L, 2L, 4L, 8L)
      v = Gen.frequency(1 -> Gen.const("nobody"), 4 -> Gen.oneOf(shape.vertices.map(_._1)))
      s <- v
      t <- v
    } yield (shape, dir, labels, depth, capacity, s, t)
    val prop = Prop.forAllNoShrink(genCase) { case (shape, dir, labels, depth, capacity, s, t) =>
      val g = FrontendWalkSpec.graph(spark, shape)
      seen ++= Seq(dir.toString, labels.mkString("+"), if (s == "nobody") "nobody" else "known")
      kneighbor(g, s, dir, labels, depth)
      kneighbor(g, s, dir, labels, depth, capacity)
      koutNearest(g, s, dir, labels, depth)
      koutNearest(g, s, dir, labels, depth, capacity)
      shortestPath(g, s, t, dir, labels, depth)
      allShortestPaths(g, s, t, dir, labels, depth)
      rings(g, s, dir, labels, depth)
      true
    }
    val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(20)
      .withInitialSeed(Seed(11L)).withWorkers(1), prop)
    assert(res.passed, org.scalacheck.util.Pretty.pretty(res))
    // the fixed seed covers every direction, an unknown label and source
    assert(Seq("OUT", "IN", "BOTH", "nolabel", "nobody", "known").forall(seen), seen)
  }
}
