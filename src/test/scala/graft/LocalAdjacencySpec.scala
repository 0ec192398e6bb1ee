package graft

import graft.core._
import graft.traverse.{PathTraversals, Traversals}
import graft.traverse.Traversals.CapacityExceededException
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._

/** Differential spec of the driver-index regime: each of the six traversers
  * that answer from a [[LocalAdjacency]] must return exactly what its Spark
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
    * on the index of the (dir, labels) view. */
  private def walk(g: PropertyGraph, s: String, dir: Direction.Value,
                   labels: Seq[String], depth: Int): Seq[String] = {
    val ix = LocalAdjacency.of(Traversals.adjacencyView(g, dir, labels)).get
    var layer = Set(ix.idOf(s)).filter(_ >= 0)
    for (_ <- 1 to depth)
      layer = layer.flatMap(v => (ix.from(v) until ix.until(v)).map(ix.nbr))
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

  test("both regimes run: the pinned views carry an index, Pin.clear drops it") {
    val view = Traversals.adjacencyView(modern, Direction.OUT)
    val ix = LocalAdjacency.of(view)
    assert(ix.isDefined && ix.get.edgeCount === 6 && ix.get.vertexCount === 6)
    assert(LocalAdjacency.of(Traversals.multiplicityView(modern, EdgeStep(Direction.BOTH)))
      .exists(_.edgeCount === 12))
    assert(LocalAdjacency.of(PathTraversals.weightedEdgeView(modern, Direction.OUT, Nil,
      "weight")).isDefined)
    // an unpinned frame (SPARK_GRAFT_NOPIN / BUCKETED mode) gets none
    val bare = modern.edges.select(col("src"), col("dst"))
    assert(LocalAdjacency.of(Traversals.indexed(bare)).isEmpty)
    Pin.clear()
    assert(LocalAdjacency.of(view).isEmpty)
    // the next pin is a new frame with an index of its own
    val again = Traversals.adjacencyView(modern, Direction.OUT)
    assert(!(again eq view) && LocalAdjacency.of(again).isDefined)
  }

  test("concurrent first pins build one index per view") {
    val g = modern.copy(edges = modern.edges.filter(col("label") === "knows"))
    val start = new java.util.concurrent.CountDownLatch(1)
    val got = new java.util.concurrent.ConcurrentLinkedQueue[LocalAdjacency]()
    val threads = (1 to 4).map(_ => new Thread(() => {
      start.await()
      LocalAdjacency.of(Traversals.adjacencyView(g, Direction.BOTH)).foreach(got.add)
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
    // the registry's own parameters
    rings(tpch, "customer:130", Direction.BOTH, Nil, 4)
    allShortestPaths(tpch, "customer:1", "supplier:3", Direction.BOTH, Nil, 3)
    kneighbor(tpch, "customer:1", Direction.OUT, Nil, 3, capacity = 20L)
    koutNearest(tpch, "customer:1", Direction.OUT, Nil, 2, capacity = 5L)
  }

  test("sf0.01: a top-degree BOTH anchor whose layer takes the join path") {
    val g = TpchGraph.cached(spark, "/root/testdata/sf0.01")
    val s = g.degrees(Direction.BOTH).orderBy(col("degree").desc, col("id"))
      .head().getString(0)
    val ix = LocalAdjacency.of(Traversals.adjacencyView(g, Direction.BOTH)).get
    val sizes = Seq.newBuilder[(Int, Long)] // (layer size, visited so far)
    ix.layers(s, 4) { (_, layer, visited) => sizes += ((layer.length, visited)); true }
    val layers = sizes.result()
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
}
