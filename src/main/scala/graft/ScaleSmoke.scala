package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core._
import graft.olap.{Algorithms, Louvain}
import graft.traverse.{PathTraversals, SimilarityTraversals, Traversals}

/** Scale-cliff smoke (dev-only, not part of the driver contract): build an
  * N×-replicated disjoint-copy graph from sf0.1 (ids suffixed `#i` — the
  * testdata itself is read-only) and time the heaviest operators on 1× vs
  * N×. Disjoint copies keep diameter and round counts constant, so OLAP
  * full-graph jobs should grow ≲ linearly in wall-clock, and source-local
  * traversers (rays, neighborRank, multiNodeShortest — whose frontier stays
  * inside one copy) should grow SUB-linearly: their cost is driven by
  * touched data, with only the per-hop probe of a 10× bigger edge table
  * growing. A super-linear move or an OOM here is the scale cliff the plan
  * audit can't see. Results are hand-copied into EXPLAINS.md's epilogue.
  *
  * Usage: runMain graft.Tools scale-smoke [copies=10] [only] */
object ScaleSmoke {

  private def relabel(df: DataFrame, cols: Seq[String], i: Int): DataFrame =
    cols.foldLeft(df)((d, c) => d.withColumn(c, concat(col(c), lit("#" + i))))

  private def replicate(df: DataFrame, cols: Seq[String], n: Int): DataFrame =
    (0 until n).map(relabel(df, cols, _)).reduce(_ unionByName _)

  def run(spark: SparkSession, args: Seq[String]): Unit = {
    val copies = args.headOption.fold(10)(_.toInt)
    // optional comma-separated subset of operator tags (e.g. spt,wpath)
    val only = args.lift(1).map(_.split(",").toSet)
    def wanted(tag: String): Boolean = only.forall(_.contains(tag))
    val sfDir = "/root/testdata/sf0.1"

    val g1 = TpchGraph.cached(spark, sfDir)

    // materialize the N× graph to parquet so its scans cost what the bench's
    // scans cost (not an in-memory lineage of the 1× plan)
    val dir = s"/tmp/graft_scale$copies"
    replicate(g1.vertices, Seq("id"), copies)
      .write.mode("overwrite").parquet(s"$dir/vertices")
    replicate(g1.edges, Seq("src", "dst"), copies)
      .write.mode("overwrite").parquet(s"$dir/edges")
    val gN = PropertyGraph(
      spark.read.parquet(s"$dir/vertices"),
      spark.read.parquet(s"$dir/edges"), TpchGraph.schema)

    // louvain runs on its own co-purchase projection, not on g.edges
    def louvainInput(d: String): (DataFrame, DataFrame) = {
      val li = Tables.lineitem(spark, d).filter(col("l_partkey") < 100)
        .select(col("l_partkey"),
          concat(lit("supplier:"), col("l_suppkey").cast("string")).as("sup"))
      val edges = Algorithms.canonical(
        li.withColumnRenamed("sup", "sa")
          .join(li.withColumnRenamed("sup", "sb"), Seq("l_partkey"))
          .filter(col("sa") =!= col("sb"))
          .select(col("sa").as("src"), col("sb").as("dst")))
      val verts = Tables.supplier(spark, d)
        .select(concat(lit("supplier:"), col("s_suppkey").cast("string")).as("id"))
      (verts, edges)
    }
    val (lv1, le1) = louvainInput(sfDir)
    val (lvN, leN) = (replicate(lv1, Seq("id"), copies),
      replicate(le1, Seq("src", "dst"), copies))

    def wccInput(g: PropertyGraph): (DataFrame, DataFrame) = (
      g.vertices.filter(col("label").isin("region", "nation", "customer", "supplier"))
        .select(col("id")),
      g.outEdges.filter(col("label").isin("in_nation", "in_region"))
        .select(col("src"), col("dst")))

    def time(label: String)(thunk: => Long): Double = {
      val t0 = System.nanoTime()
      val n = thunk
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"[scale] $label%-28s ${sec}%7.2fs  rows=$n")
      sec
    }

    // per-graph "load phase" (the graph views Bench.warmup pins), timed
    // separately so cold-pin costs do not masquerade as scale cliffs
    def warm(g: PropertyGraph, tag: String): Unit = {
      val _ = time(s"load/pin adjacency $tag") { Bench.pinGraphViews(g); 0L }
    }

    val results = scala.collection.mutable.LinkedHashMap[String, (Double, Double)]()
    def run(name: String, f: PropertyGraph => DataFrame,
            inputs: Seq[(String, PropertyGraph)]): Unit = {
      val ts = inputs.map { case (tag, g) => time(s"$name $tag")(f(g).count()) }
      results(name) = (ts.head, ts.last)
    }
    val suf = "#0"
    warm(g1, "1x"); warm(gN, s"${copies}x")
    if (wanted("pagerank")) run("pagerank", g => Algorithms.pageRank(g, alpha = 0.85, iterations = 3),
      Seq("1x" -> g1, s"${copies}x" -> gN))
    if (wanted("wcc")) results("wcc") = (
      time("wcc 1x") { val (v, e) = wccInput(g1); Algorithms.wcc(v, e).count() },
      time(s"wcc ${copies}x") { val (v, e) = wccInput(gN); Algorithms.wcc(v, e).count() })
    if (wanted("louvain")) results("louvain") = (
      time("louvain 1x")(Louvain.louvain(lv1, le1, localRounds = 4, passes = 2).count()),
      time(s"louvain ${copies}x")(Louvain.louvain(lvN, leN, localRounds = 4, passes = 2).count()))
    if (wanted("nrg")) results("neighbor_rank_general") = (
      time("nrg 1x")(SimilarityTraversals.neighborRank(g1, "customer:1", alpha = 0.85,
        steps = Seq.fill(3)(SimilarityTraversals.RankStep(EdgeStep(Direction.BOTH)))).count()),
      time(s"nrg ${copies}x")(SimilarityTraversals.neighborRank(gN, "customer:1" + suf, alpha = 0.85,
        steps = Seq.fill(3)(SimilarityTraversals.RankStep(EdgeStep(Direction.BOTH)))).count()))
    if (wanted("rays")) results("rays") = (
      time("rays 1x")(PathTraversals.rays(g1, "customer:1", Direction.OUT, Nil, maxDepth = 5).count()),
      time(s"rays ${copies}x")(PathTraversals.rays(gN, "customer:1" + suf, Direction.OUT, Nil, maxDepth = 5).count()))
    if (wanted("mns")) results("multinode_shortest") = (
      time("mns 1x")(PathTraversals.multiNodeShortestDist(g1,
        Seq("customer:1", "customer:2", "customer:3"), Direction.BOTH,
        Seq("in_nation", "in_region"), maxDepth = 4).count()),
      time(s"mns ${copies}x")(PathTraversals.multiNodeShortestDist(gN,
        Seq("customer:1" + suf, "customer:2" + suf, "customer:3" + suf), Direction.BOTH,
        Seq("in_nation", "in_region"), maxDepth = 4).count()))

    if (wanted("spt")) results("shortest_path_trace") = (
      time("spt 1x")(Traversals.shortestPathTrace(g1, "customer:1", "supplier:3",
        Direction.BOTH, Nil, maxDepth = 3).count()),
      time(s"spt ${copies}x")(Traversals.shortestPathTrace(gN, "customer:1" + suf,
        "supplier:3" + suf, Direction.BOTH, Nil, maxDepth = 3).count()))
    if (wanted("wpath")) results("weighted_path") = (
      time("wpath 1x")(PathTraversals.weightedSssp(g1, "customer:1", Direction.BOTH,
        Nil, weightCol = "quantity", rounds = 4)
        .filter(col("id") === "supplier:3").count()),
      time(s"wpath ${copies}x")(PathTraversals.weightedSssp(gN, "customer:1" + suf,
        Direction.BOTH, Nil, weightCol = "quantity", rounds = 4)
        .filter(col("id") === ("supplier:3" + suf)).count()))

    // round-7 graph operators: assortativity (one edge join + moments),
    // seeded label spreading (per-round vote aggregation over the pinned
    // multiplicity view), sampled eccentricity (frontier-join BFS)
    def symOf(g: PropertyGraph) =
      Traversals.multiplicityView(g, EdgeStep(Direction.BOTH))
    if (wanted("assort")) results("assortativity") = (
      time("assort 1x")(Algorithms.degreeAssortativity(symOf(g1)).count()),
      time(s"assort ${copies}x")(Algorithms.degreeAssortativity(symOf(gN)).count()))
    if (wanted("slpa")) {
      def seedsOf(g: PropertyGraph) = g.verticesOf("region")
        .select(col("id"), col("id").as("lbl"))
      results("seeded_lpa") = (
        time("slpa 1x")(Algorithms.seededLpa(g1.vertices.select(col("id")),
          symOf(g1), seedsOf(g1), iterations = 3).count()),
        time(s"slpa ${copies}x")(Algorithms.seededLpa(gN.vertices.select(col("id")),
          symOf(gN), seedsOf(gN), iterations = 3).count()))
    }
    if (wanted("ecc")) {
      import spark.implicits._
      // q_eccentricity's exact probe shape: 3 roots, depth 5, MS-BFS wave
      def probes(s: String) = Seq("customer:1" + s, "supplier:3" + s, "part:7" + s)
      results("eccentricity") = (
        time("ecc 1x")(Algorithms.eccentricity(probes("").toDF("id"),
          Traversals.adjacencyView(g1, Direction.BOTH), maxDepth = 5).count()),
        time(s"ecc ${copies}x")(Algorithms.eccentricity(probes(suf).toDF("id"),
          Traversals.adjacencyView(gN, Direction.BOTH), maxDepth = 5).count()))
    }
    // q_rings's shape: path-array frontier loop with the pushdown-probe
    // stop — the path family's heaviest source-local enumerator
    if (wanted("rings")) results("rings") = (
      time("rings 1x")(PathTraversals.rings(g1, "customer:130",
        Direction.BOTH, Nil, maxDepth = 4).count()),
      time(s"rings ${copies}x")(PathTraversals.rings(gN, "customer:130" + suf,
        Direction.BOTH, Nil, maxDepth = 4).count()))

    // round-8 graph operators: k-truss (per-round triangle enumeration over
    // the canonical BOTH view) and the landmark-index BFS wave (offline half
    // of landmark distance queries)
    if (wanted("ktruss")) {
      def canonOf(g: PropertyGraph) = graft.core.Pin.pin(
        Algorithms.canonical(EdgeStep(Direction.BOTH).edgesFor(g)
          .select(col("src"), col("dst"))))
      results("ktruss") = (
        time("ktruss 1x")(Algorithms.kTruss(canonOf(g1), k = 3, rounds = 2).count()),
        time(s"ktruss ${copies}x")(Algorithms.kTruss(canonOf(gN), k = 3, rounds = 2).count()))
    }
    if (wanted("landmark")) results("landmark_index") = (
      time("landmark 1x")(Algorithms.landmarkIndex(Seq("nation:1", "nation:7"),
        Traversals.adjacencyView(g1, Direction.BOTH), maxDepth = 4).count()),
      time(s"landmark ${copies}x")(Algorithms.landmarkIndex(
        Seq("nation:1" + suf, "nation:7" + suf),
        Traversals.adjacencyView(gN, Direction.BOTH), maxDepth = 4).count()))

    // round-12 frontend BFS loops: Cypher shortestPath (first-seen layered
    // BFS — the un-suffixed name matches ONE customer per copy, so the Nx
    // tier is a multi-source wave over N disjoint copies) and Gremlin
    // repeat().until() (predicate-exit rounds with per-round checkpoints)
    if (wanted("cyphersp")) {
      val q = "MATCH p = shortestPath((c:customer)-[*..3]-(s:supplier)) " +
        "WHERE c.name = 'Customer#000000001' " +
        "RETURN length(p) AS len, count(*) AS n_sup"
      results("cypher_shortestpath") = (
        time("cyphersp 1x")(graft.api.CypherLite.eval(g1, q).count()),
        time(s"cyphersp ${copies}x")(graft.api.CypherLite.eval(gN, q).count()))
    }
    if (wanted("until")) {
      def q(s: String) = s"g.V('customer:1$s','customer:2$s','customer:3$s')" +
        ".repeat(out()).until(hasLabel('region')).groupCount('name')"
      results("gremlin_until") = (
        time("until 1x")(graft.api.GremlinLite.eval(g1, q("")).count()),
        time(s"until ${copies}x")(graft.api.GremlinLite.eval(gN, q(suf)).count()))
    }

    // round-13 frontend shapes: the PER-PATH variable-length expansion
    // (openCypher multiplicity with relationship-uniqueness —
    // q_cypher_varlen_paths' plan; p.size = 1 matches parts in EVERY copy,
    // so the Nx tier is the FULL scale-up: Nx sources, Nx paths — expect
    // ≲ linear growth, the honest cost of path multiplicity) and
    // allShortestPaths' path-carrying BFS (the un-suffixed name matches
    // one customer per copy → a multi-source wave over disjoint copies,
    // expect sub-linear per source like cyphersp)
    if (wanted("varlenpaths")) {
      val q = "MATCH (p:part)-[:supplied_by*1..2]-(x) WHERE p.size = 1 " +
        "RETURN p.name AS pname, count(*) AS n_paths"
      results("cypher_varlen_paths") = (
        time("varlenpaths 1x")(graft.api.CypherLite.eval(g1, q).count()),
        time(s"varlenpaths ${copies}x")(graft.api.CypherLite.eval(gN, q).count()))
    }
    // round-14 write path: relationship MERGE (node-form endpoint MERGE +
    // keyed edge match-else-create + read-back scan). Cost is dominated by
    // the conflict-check joins and the full-edge read-back — expect ≈
    // linear in |E|; a super-linear move means a conflict probe stopped
    // being a semi-join
    if (wanted("mergewrite")) {
      def m(s: String): Long = {
        val g0 = if (s.isEmpty) g1 else gN
        val stmt = s"MERGE (p:part {id: 'part:1$s'})-[r:supplied_by]->" +
          s"(x:supplier {id: 'supplier:999001$s', name: 'SMOKE_S'}) " +
          "ON CREATE SET r.quantity = 7"
        graft.api.CypherLite.evalWrite(g0, stmt).edges.count()
      }
      results("cypher_merge_rel") = (
        time("mergewrite 1x")(m("")),
        time(s"mergewrite ${copies}x")(m(suf)))
    }
    // round-15 write path: Gremlin addV (batch insert + conflict anti-join)
    // → addE (endpoint-existence semi joins + edge append) → drop (matched-
    // row anti join) → full-edge read-back. Expect ≈ linear in |V|+|E|
    // (the conflict/existence probes and the read-back scan); a
    // super-linear move means a probe stopped being a semi/anti join
    if (wanted("gremlinwrite")) {
      def w(s: String): Long = {
        val g0 = if (s.isEmpty) g1 else gN
        val g2 = graft.api.GremlinLite.evalWrite(g0,
          s"g.addV('supplier').property('id', 'supplier:998001$s')" +
            ".property('name', 'SMOKE_W')")
        val g3 = graft.api.GremlinLite.evalWrite(g2,
          s"g.addE('supplied_by').from(V('part:1$s'))" +
            s".to('supplier:998001$s').property('quantity', 5)")
        val g4 = graft.api.GremlinLite.evalWrite(g3,
          s"g.V('part:1$s').outE('supplied_by').drop()")
        g4.edges.count()
      }
      results("gremlin_write") = (
        time("gremlinwrite 1x")(w("")),
        time(s"gremlinwrite ${copies}x")(w(suf)))
    }
    if (wanted("allshortest")) {
      val q = "MATCH p = allShortestPaths((c:customer)-[*..3]-(s:supplier)) " +
        "WHERE c.name = 'Customer#000000001' " +
        "RETURN s AS sup, length(p) AS len, count(*) AS n_paths"
      results("cypher_allshortest") = (
        time("allshortest 1x")(graft.api.CypherLite.eval(g1, q).count()),
        time(s"allshortest ${copies}x")(graft.api.CypherLite.eval(gN, q).count()))
    }

    println(f"%n[scale] | operator | 1x | ${copies}x | ratio |")
    println(s"[scale] |---|---|---|---|")
    results.foreach { case (k, (a, b)) =>
      println(f"[scale] | $k | $a%.2f s | $b%.2f s | ${b / a}%.1fx |")
    }
  }
}
