package graft

import graft.api.{CypherLite, Graft, GraphTraversal, GremlinLite}
import graft.core._
import graft.traverse.Traversals
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed

/** Differential property spec of the frontend lowerings onto the labeled
  * driver index: Cypher `shortestPath()`/`allShortestPaths()` pairs and
  * paths and Gremlin `repeat(<one hop>).times(n)` walks must return exactly
  * the rows of their Spark twins, and the driver's answer must plan as a
  * local relation. Graphs are small generated multigraphs with self-loops,
  * parallel edges, an isolated vertex, a hub and a chain. */
class FrontendWalkSpec extends SparkSpec {
  import FrontendWalkSpec._
  import spark.implicits._

  private val dirs = Seq(Direction.OUT, Direction.IN, Direction.BOTH)

  /** [[FrontendWalkSpec.graph]] in this suite's session. */
  private def graph(s: Shape): PropertyGraph = FrontendWalkSpec.graph(spark, s)

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map {
      case a: scala.collection.Seq[_] => a.mkString("[", ",", "]")
      case x => String.valueOf(x)
    }.mkString("|")).toSeq.sorted

  private def isLocal(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.isInstanceOf[LocalRelation]

  private val genCase: Gen[Case] = for {
    shape <- genShape
    dir <- Gen.oneOf(dirs)
    labels <- Gen.oneOf(Seq(Nil, Seq("a"), Seq("b"), Seq("a", "b"), Seq("nolabel")))
    minHops <- Gen.oneOf(0, 1)
    maxHops <- Gen.choose(1, 4)
    times <- Gen.choose(1, 3)
    // repeated and unknown ids
    seeds <- Gen.choose(1, 5).flatMap(k => Gen.listOfN(k,
      Gen.oneOf(shape.vertices.map(_._1) :+ "nobody")))
    endLabel <- Gen.option(Gen.oneOf("p", "q"))
  } yield Case(shape, dir, labels, minHops, maxHops, times, seeds, endLabel)

  private def check(c: Case): Unit = {
    val g = graph(c.shape)
    val what = s"$c"
    val srcs = c.seeds.toDF("__a")
    val endIds = c.endLabel.map(l => g.verticesOf(l).select(col("id")))
    for (end <- Seq(None, endIds)) {
      val pairs = CypherLite.shortestPairs(g, srcs, c.dir, c.labels, c.minHops, c.maxHops, end)
      val paths = CypherLite.allShortestPathRows(g, srcs, c.dir, c.labels, c.minHops, c.maxHops, end)
      if (end.isEmpty) {
        assert(isLocal(pairs), s"shortestPairs not answered on the driver: $what")
        assert(isLocal(paths), s"allShortestPathRows not answered on the driver: $what")
      }
      assert(rows(pairs) === rows(CypherLite.shortestPairsJoin(g, srcs, c.dir, c.labels,
        c.minHops, c.maxHops, end)), s"shortestPairs end=${end.isDefined} $what")
      assert(rows(paths) === rows(CypherLite.allShortestPathRowsJoin(g, srcs, c.dir, c.labels,
        c.minHops, c.maxHops, end)), s"allShortestPathRows end=${end.isDefined} $what")
    }
    // an injected unknown id stays a traverser, as inject() keeps it
    val t = GraphTraversal(g, c.seeds.toDF("id").join(g.vertices, Seq("id"), "left"),
      isVertex = true)
    for (emit <- Seq(false, true)) {
      assert(t.repeatWalk(c.dir, c.labels, c.times, emit).exists(isLocal),
        s"repeat emit=$emit not answered on the driver: $what")
      val local = t.repeatStep(c.dir, c.labels, c.times, emit).df
      val join = t.repeatStepJoin(c.dir, c.labels, c.times, emit).df
      assert(local.columns.toSeq === join.columns.toSeq)
      assert(rows(local) === rows(join), s"repeat emit=$emit $what")
      if (emit) // the emit-first form: layer 0 and the emitted layers
        assert(rows(t.union(t.repeatStep(c.dir, c.labels, c.times, emit)).df) ===
          rows(t.union(t.repeatStepJoin(c.dir, c.labels, c.times, emit)).df),
          s"emit-first $what")
    }
  }

  test("driver lowerings equal their Spark twins on generated labeled multigraphs") {
    val prop = Prop.forAllNoShrink(genCase) { c => check(c); true }
    val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(20)
      .withInitialSeed(Seed(11L)).withWorkers(1), prop)
    assert(res.passed, org.scalacheck.util.Pretty.pretty(res))
  }

  test("hand-checked answers through the script frontends") {
    val shop = Shape(Seq(("o1", "p"), ("o2", "p"), ("p1", "q"), ("p2", "q"), ("x", "p")),
      Seq(("o1", "p1", "a"), ("o1", "p1", "a"), ("o1", "p2", "a"), ("o2", "p2", "a"),
        ("p2", "o2", "b"), ("p1", "p1", "b")))
    val g = graph(shop)
    val cy = CypherLite.eval(g, "MATCH p = allShortestPaths((o:p)-[*..3]-(t:q)) " +
      "WHERE o.id = 'o1' RETURN t.id AS t, length(p) AS len, count(*) AS n")
    assert(rows(cy) === Seq("p1|1|2", "p2|1|1"))
    val sp = CypherLite.eval(g, "MATCH p = shortestPath((o:p)-[:a*0..2]->(t)) " +
      "RETURN o.id AS o, t.id AS t, length(p) AS len")
    assert(rows(sp) === Seq("o1|o1|0", "o1|p1|1", "o1|p2|1", "o2|o2|0", "o2|p2|1", "x|x|0"))
    val walks = GremlinLite.eval(g, "g.V('o1').repeat(out('a')).emit().times(2).id()")
    assert(rows(walks) === Seq("p1", "p1", "p2"))
    val first = GremlinLite.eval(g, "g.V('o2').emit().repeat(both()).times(2).groupCount('label')")
    // o2 (0 hops); p2 over a and over b (1 hop); from each, o2 over b and
    // over a, and o1 (2 hops)
    assert(rows(first) === Seq("p|7", "q|2"))
  }

  test("a path or walk count over bfsBroadcastMaxRows takes the Spark twin") {
    // s ⇉ m ⇉ t through 1500 parallel edges each: 2.25M shortest paths s → t
    val k = 1500
    val layered = graph(Shape(Seq(("s", "p"), ("m", "q"), ("t", "p")),
      Seq.fill(k)(("s", "m", "a")) ++ Seq.fill(k)(("m", "t", "a"))))
    val srcs = Seq("s").toDF("__a")
    val cap = Traversals.bfsBroadcastMaxRows
    assert(k.toLong * k > cap)
    // under the bound one hop stays on the driver; two hops leave it (the
    // Spark twin's loop would materialize every path, so it is not run)
    assert(CypherLite.allShortestPathsLocal(layered, srcs, Direction.OUT, Nil, 1, 1, None)
      .exists(isLocal))
    assert(CypherLite.allShortestPathsLocal(layered, srcs, Direction.OUT, Nil, 1, 2, None).isEmpty)
    // 1500 walks after one hop, 2.25M after two: the walk plan stays a join
    val hop = Graft.g(layered).V("s")
    assert(hop.repeatWalk(Direction.OUT, Nil, 1, emit = false).isDefined)
    assert(hop.repeatWalk(Direction.OUT, Nil, 2, emit = false).isEmpty)
    def plan(t: GraphTraversal) = t.df.queryExecution.optimizedPlan
    assert(plan(hop.repeatStep(Direction.OUT, Nil, 2, emit = false))
      .sameResult(plan(hop.repeatStepJoin(Direction.OUT, Nil, 2, emit = false))))
    // a chain of 16 hops with 16 parallel edges each: 16^16 paths (and
    // walks) to its end, over Long.MaxValue, so the counts saturate
    val cs = (0 to 16).map(i => s"c$i")
    val chain = graph(Shape(cs.map(c => (c, "p")),
      cs.zip(cs.tail).flatMap(e => Seq.fill(16)((e._1, e._2, "a")))))
    assert(CypherLite.allShortestPathsLocal(chain, Seq("c0").toDF("__a"), Direction.OUT, Nil,
      1, 16, None).isEmpty)
    assert(Graft.g(chain).V("c0").repeatWalk(Direction.OUT, Nil, 16, emit = true).isEmpty)
  }

  test("a seed that is no vertex answers empty on both paths") {
    val g = graph(Shape(Seq(("a", "p"), ("b", "q")), Seq(("a", "b", "a"), ("b", "a", "b"))))
    val nobody = Seq("nobody").toDF("__a")
    for (dir <- dirs) {
      assert(rows(CypherLite.shortestPairs(g, nobody, dir, Nil, 1, 3, None)).isEmpty)
      assert(rows(CypherLite.shortestPairsJoin(g, nobody, dir, Nil, 1, 3, None)).isEmpty)
      assert(rows(CypherLite.allShortestPathRows(g, nobody, dir, Nil, 1, 3, None)).isEmpty)
      assert(rows(CypherLite.allShortestPathRowsJoin(g, nobody, dir, Nil, 1, 3, None)).isEmpty)
      for (emit <- Seq(false, true); src <- Seq(Graft.g(g).V("nobody"),
          Graft.g(g).V().limit(0).inject("nobody"))) {
        assert(rows(src.repeatStep(dir, Nil, 2, emit).df).isEmpty)
        assert(rows(src.repeatStepJoin(dir, Nil, 2, emit).df).isEmpty)
      }
    }
    assert(rows(GremlinLite.eval(g, "g.V('nobody').repeat(out()).times(2).id()")).isEmpty)
  }

  test("a frontend call on an unpinned, freshly written graph leaves the pins unchanged") {
    val g = graph(Shape(Seq(("a", "p"), ("b", "q")), Seq(("a", "b", "a"))))
    val g1 = GremlinLite.evalWrite(g, "g.addE('a').from(V('b')).to('a')")
    val before = Pin.size
    val sp = CypherLite.eval(g1, "MATCH p = shortestPath((x:p)-[*..2]->(y)) " +
      "RETURN y.id AS y, length(p) AS len")
    val ap = CypherLite.eval(g1, "MATCH p = allShortestPaths((x:p)-[*..2]-(y)) " +
      "RETURN y.id AS y, length(p) AS len")
    val walks = GremlinLite.eval(g1, "g.V('a').repeat(out()).emit().times(2).id()")
    // the start's own pair is settled at 0 hops; b→a and a→b are two paths
    assert(rows(sp) === Seq("b|1"))
    assert(rows(ap) === Seq("b|1", "b|1"))
    assert(rows(walks) === Seq("a", "b"))
    assert(Pin.size === before)
  }
}

object FrontendWalkSpec {
  /** Vertices with their labels and labeled edges (parallel edges repeat). */
  final case class Shape(vertices: Seq[(String, String)], edges: Seq[(String, String, String)])

  private val schema = GraphSchema(Nil,
    Seq(VertexLabelDef("p", Nil), VertexLabelDef("q", Nil)),
    Seq(EdgeLabelDef("a", "p", "q"), EdgeLabelDef("b", "p", "q")))

  /** Small labeled multigraphs: random edges, self-loops, parallel edges,
    * a hub, a chain and an isolated vertex `iso`; edge labels `a` and `b`. */
  val genShape: Gen[Shape] = for {
    n <- Gen.choose(2, 8)
    vs = (0 until n).map(i => s"v$i")
    label = Gen.oneOf("a", "b")
    random <- Gen.listOfN(n + 2, Gen.zip(Gen.oneOf(vs), Gen.oneOf(vs), label))
    loops <- Gen.listOfN(2, Gen.zip(Gen.oneOf(vs), label)).map(_.map(l => (l._1, l._1, l._2)))
    parallel <- Gen.someOf(random)
    hub <- Gen.oneOf(vs)
    spokes <- Gen.someOf(vs)
    chain <- Gen.choose(0, 5)
  } yield {
    val cs = (0 to chain).map(i => s"c$i")
    val chainEdges = cs.zip(cs.tail).map { case (s, d) => (s, d, "b") }
    val toChain = if (chain > 0) Seq((vs.head, cs.head, "a")) else Nil
    Shape((vs ++ cs :+ "iso").zipWithIndex.map { case (v, i) => (v, if (i % 2 == 0) "p" else "q") },
      random ++ loops ++ parallel ++ spokes.map(s => (hub, s, "a")) ++ chainEdges ++ toChain)
  }

  /** The graph of a shape, with its labeled OUT view pinned, so the driver
    * index is built. */
  def graph(spark: SparkSession, s: Shape): PropertyGraph = {
    import spark.implicits._
    val g = PropertyGraph(s.vertices.toDF("id", "label"),
      s.edges.toDF("src", "dst", "label").withColumn("sort_values", lit(null).cast("string")),
      schema)
    Traversals.labeledAdjacency(g, Direction.OUT, Nil)
    g
  }

  /** One generated case: a graph and the parameters every lowering reads. */
  final case class Case(shape: Shape, dir: Direction.Value, labels: Seq[String],
                        minHops: Int, maxHops: Int, times: Int, seeds: Seq[String],
                        endLabel: Option[String])
}
