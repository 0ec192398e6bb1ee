package graft

import graft.core._
import graft.olap.{Algorithms, Centrality}
import graft.traverse.PathTraversals
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

/** Every kernel on the round driver finishes far past the round counts the
  * registry uses and still gives the right answer: the fixed-round kernels
  * at 100 rounds on the 6-vertex modern graph (k-truss at 30), checked
  * against plain-Scala twins of their recurrences; the drained loops on a
  * 200-vertex chain. A deep result's size estimate must stay within what
  * the first 8 rounds reach: the larger of the 1- and 8-round estimates
  * (most kernels' estimates grow with the rounds, eigenvector's halves per
  * round, so one end or the other is the largest).
  *
  * A round costs driver-side planning, not data, so the deep runs start
  * together when the suite is built and each test awaits its own run. */
class SuperstepSpec extends SparkSpec {
  import spark.implicits._

  lazy val g = ModernGraph.build(spark)
  lazy val verts = g.vertices.select(col("id"))
  lazy val edges = g.edges.select(col("src"), col("dst"))
  lazy val canon = Algorithms.canonical(edges)
  lazy val edgeList: Seq[(String, String)] =
    edges.collect().map(r => (r.getString(0), r.getString(1))).toSeq
  lazy val ids: Seq[String] = verts.collect().map(_.getString(0)).toSeq.sorted
  /** each edge in both directions, with multiplicity */
  lazy val sym: Seq[(String, String)] = edgeList ++ edgeList.map(_.swap)

  // the drained loops, on a 200-vertex chain v000 - v001 - ... - v199
  lazy val chainIds: Seq[String] = (0 until 200).map(i => f"v$i%03d")
  lazy val chain: DataFrame =
    chainIds.sliding(2).map(p => (p(0), p(1))).toSeq.toDF("src", "dst")

  def start[T](body: => T): Future[T] = Future(body)(ExecutionContext.global)
  def await[T](run: Future[T]): T = Await.result(run, 10.minutes)

  def doubles(df: DataFrame, c: String): Map[String, Double] =
    df.select(col("id"), col(c)).collect().map(r => r.getString(0) -> r.getDouble(1)).toMap

  def strings(df: DataFrame, c: String): Map[String, String] =
    df.select(col("id"), col(c)).collect().map(r => r.getString(0) -> r.getString(1)).toMap

  def assertClose(got: Map[String, Double], want: Map[String, Double]): Unit = {
    assert(got.keySet === want.keySet)
    want.foreach { case (id, w) => assert(math.abs(got(id) - w) < 1e-8, s"$id: ${got(id)} vs $w") }
  }

  /** (estimate at depth, larger of the 1- and 8-round estimates) */
  def estimates(deep: DataFrame, kernel: Int => DataFrame): (BigInt, BigInt) = {
    def est(df: DataFrame) = df.queryExecution.optimizedPlan.stats.sizeInBytes
    (est(deep), est(kernel(1)).max(est(kernel(8))))
  }

  def assertBounded(est: (BigInt, BigInt)): Unit =
    assert(est._1 <= est._2, s"estimate at depth: ${est._1} bytes > within 8 rounds: ${est._2} bytes")

  def normalized(x: Map[String, Double]): Map[String, Double] = {
    val n = x.values.sum
    x.map { case (k, v) => k -> v / n }
  }

  /** deterministic majority: highest count, then smallest label */
  def majority(labels: Seq[String]): Option[String] =
    if (labels.isEmpty) None
    else Some(labels.groupBy(identity).toSeq.minBy { case (l, ls) => (-ls.size, l) }._1)

  val seeds = Map("person:marko" -> "A", "software:ripple" -> "B")
  lazy val seedDf = seeds.toSeq.toDF("id", "lbl")
  lazy val symDf = sym.toDF("src", "dst")

  val pageRankRun = start {
    val deep = Algorithms.pageRank(g, 0.85, 100)
    (doubles(deep, "rank"), estimates(deep, Algorithms.pageRank(g, 0.85, _)))
  }
  val eigenvectorRun = start {
    val deep = Algorithms.eigenvector(verts, canon, 100)
    (doubles(deep, "x"), estimates(deep, Algorithms.eigenvector(verts, canon, _)))
  }
  val hitsRun = start {
    val deep = Algorithms.hits(verts, edges, 100)
    (doubles(deep, "hub"), doubles(deep, "auth"), estimates(deep, Algorithms.hits(verts, edges, _)))
  }
  val lpaRun = start {
    val deep = Algorithms.lpa(verts, edges, 100)
    (strings(deep, "lbl"), estimates(deep, Algorithms.lpa(verts, edges, _)))
  }
  val seededLpaRun = start {
    val deep = Algorithms.seededLpa(verts, symDf, seedDf, 100)
    (strings(deep, "lbl"), estimates(deep, Algorithms.seededLpa(verts, symDf, seedDf, _)))
  }
  val kTrussRun = start {
    val deep = Algorithms.kTruss(canon, 3, 30)
    (deep.collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet,
      estimates(deep, Algorithms.kTruss(canon, 3, _)))
  }
  val wccRun = start {
    val (comp, rounds) = Algorithms.wccWithRounds(chainIds.toDF("id"), chain)
    (strings(comp, "component"), rounds)
  }
  val kcoreRun = start {
    val tri = Seq(("a", "b"), ("b", "c"), ("a", "c")).toDF("src", "dst")
    Algorithms.kcore(Algorithms.canonical(chain.union(tri)), 2)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
  }
  val ssspRun = start {
    val cg = PropertyGraph(chainIds.map(v => (v, "node")).toDF("id", "label"),
      chain.withColumn("label", lit("e"))
        .withColumn("sort_values", lit(null).cast("string"))
        .withColumn("w", lit(0.5)),
      GraphSchema(Nil, Seq(VertexLabelDef("node", Nil)), Seq(EdgeLabelDef("e", "node", "node"))))
    doubles(PathTraversals.weightedSsspConverged(cg, "v000", Direction.OUT, Nil, "w",
      maxRounds = 250), "dist")
  }
  val bfsRun = start {
    Centrality.bfsWithSigma(Seq("v000").toDF("id"), chain, 250)
      .collect().map(r => r.getString(1) -> (r.getLong(2), r.getLong(3))).toMap
  }

  test("pageRank at 100 rounds equals the power-iteration twin") {
    val outDeg = edgeList.groupBy(_._1).map { case (s, es) => s -> es.size.toDouble }
    val n = ids.size.toDouble
    val want = (1 to 100).foldLeft(ids.map(_ -> 1.0 / n).toMap) { (r, _) =>
      val s = edgeList.groupBy(_._2).map { case (d, es) => d -> es.map(e => r(e._1) / outDeg(e._1)).sum }
      ids.map(v => v -> (0.15 / n + 0.85 * s.getOrElse(v, 0.0))).toMap
    }
    val (got, est) = await(pageRankRun)
    assertClose(got, want)
    assertBounded(est)
  }

  test("eigenvector at 100 rounds equals the power-iteration twin") {
    val adj = canon.collect().map(r => (r.getString(0), r.getString(1))).toSeq
    val both = adj ++ adj.map(_.swap)
    val x = (1 to 100).foldLeft(ids.map(_ -> 1.0).toMap) { (x, _) =>
      val s = both.groupBy(_._2).map { case (d, es) => d -> es.map(e => x(e._1)).sum }
      ids.map(v => v -> s.getOrElse(v, 0.0)).toMap
    }
    val (got, est) = await(eigenvectorRun)
    assertClose(got, normalized(x))
    assertBounded(est)
  }

  test("hits at 100 rounds equals the power-iteration twin") {
    val (hub, auth) = (1 to 100).foldLeft((ids.map(_ -> 1.0).toMap, Map.empty[String, Double])) {
      case ((h, _), _) =>
        val a = ids.map(v => v -> edgeList.filter(_._2 == v).map(e => h(e._1)).sum).toMap
        (ids.map(v => v -> edgeList.filter(_._1 == v).map(e => a(e._2)).sum).toMap, a)
    }
    val (gotHub, gotAuth, est) = await(hitsRun)
    assertClose(gotHub, normalized(hub))
    assertClose(gotAuth, normalized(auth))
    assertBounded(est)
  }

  test("lpa at 100 rounds equals the synchronous-majority twin") {
    val want = (1 to 100).foldLeft(ids.map(v => v -> v).toMap) { (l, _) =>
      ids.map(v => v -> majority(sym.filter(_._2 == v).map(e => l(e._1))).getOrElse(v)).toMap
    }
    val (got, est) = await(lpaRun)
    assert(got === want)
    assertBounded(est)
  }

  test("seededLpa at 100 rounds equals the clamped-majority twin") {
    val want = (1 to 100).foldLeft(ids.map(v => v -> seeds.get(v)).toMap) { (l, _) =>
      ids.map(v => v -> seeds.get(v)
        .orElse(majority(sym.filter(_._2 == v).flatMap(e => l(e._1))))
        .orElse(l(v))).toMap
    }.collect { case (v, Some(lbl)) => v -> lbl }
    val (got, est) = await(seededLpaRun)
    assert(got === want)
    assertBounded(est)
  }

  test("kTruss at 30 rounds keeps the one triangle") {
    val (got, est) = await(kTrussRun)
    assert(got === Set(("person:josh", "person:marko", 1L),
      ("person:josh", "software:lop", 1L), ("person:marko", "software:lop", 1L)))
    assertBounded(est)
  }

  test("wccWithRounds labels a 200-chain with its minimum id") {
    val (got, rounds) = await(wccRun)
    assert(got === chainIds.map(_ -> "v000").toMap)
    assert(rounds <= 12, s"expected O(log n) rounds, got $rounds")
  }

  test("kcore k=2 peels a 200-chain away and keeps the triangle beside it") {
    assert(await(kcoreRun) === Map("a" -> 2L, "b" -> 2L, "c" -> 2L))
  }

  test("weightedSsspConverged reaches the far end of a 200-chain") {
    assert(await(ssspRun) === chainIds.zipWithIndex.map { case (v, i) => v -> i * 0.5 }.toMap)
  }

  test("bfsWithSigma layers a 200-chain with one shortest path each") {
    assert(await(bfsRun) === chainIds.zipWithIndex.map { case (v, i) => v -> (i.toLong, 1L) }.toMap)
  }
}
