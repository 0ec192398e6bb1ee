package graft.olap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Direction, PropertyGraph, Superstep}
import graft.core.Superstep.Step

/** OLAP job algorithms (SURVEY §2.13, reference `.../job/algorithm/`) as
  * whole-graph DataFrame programs.
  *
  * The reference delegates big OLAP to an external Pregel system
  * (hugegraph-computer); here every algorithm is an iterative dataflow whose
  * per-iteration work is one join + one aggregation — the shape that scales
  * linearly with executors. Every round loop runs on [[Superstep]], which
  * owns where its lineage is cut (see there for the policy and why).
  *
  * Edge-DF convention: `(src, dst)`, directed. Undirected algorithms take a
  * canonical `src < dst` edge set and symmetrize internally.
  */
object Algorithms {

  /** Per-vertex degree (reference `cent/DegreeCentralityAlgorithm.java:48`). */
  def degreeCentrality(g: PropertyGraph, dir: Direction.Value): DataFrame =
    g.adjacency(dir).groupBy(col("src").as("id"))
      .agg(count(lit(1)).as("degree"))

  /** Per-label element counts (`CountVertexAlgorithm` / `CountEdgeAlgorithm`). */
  def countVertex(g: PropertyGraph): DataFrame =
    g.vertices.groupBy(col("label")).agg(count(lit(1)).as("n"))
  def countEdge(g: PropertyGraph): DataFrame =
    g.edges.groupBy(col("label")).agg(count(lit(1)).as("n"))

  /** The pinned, co-partitioned inputs every PageRank round plans against:
    * verts by id, edges (with out-degree riding on the edge row) by src.
    * Exposed so the bench/session warmup can pre-materialize this load-phase
    * working set exactly like the shared BFS adjacency views — building it
    * is a one-time cost per deployment, not a per-query cost. */
  def pageRankViews(g: PropertyGraph): (DataFrame, DataFrame) = {
    val verts = graft.core.Pin.pin(g.vertices.select(col("id"))
      .repartition(col("id")))
    val rawEdges = g.outEdges.select(col("src"), col("dst"))
    // out-degree rides ON the edge row (one pin, one less join per round);
    // rank/deg stays the exact same double op, evaluated per edge
    val edges = graft.core.Pin.pin(rawEdges
      .join(rawEdges.groupBy(col("src"))
        .agg(count(lit(1)).cast("double").as("deg")), Seq("src"))
      .repartition(col("src")))
    (verts, edges)
  }

  /** Fixed-iteration PageRank (reference `rank/PageRankAlgorithm.java:67`):
    * r' = (1-α)/N + α·Σ_{u→v} r(u)/outdeg(u); dangling mass is not
    * redistributed (matches the reference's per-edge push). */
  def pageRank(g: PropertyGraph, alpha: Double, iterations: Int): DataFrame = {
    // Co-partitioned ONCE (edges by src, verts by id) and the cut keeps the
    // hash partitioning, so per round only the contribution rows move; the
    // EDGE TABLE never re-shuffles — O(1), not O(iters), shuffles of it.
    val (verts, edges) = pageRankViews(g)
    val n = verts.count().toDouble
    Superstep.run(verts.withColumn("rank", lit(1.0 / n)), iterations) { (ranks, round) =>
      // vertex-align fused into the contribution aggregation (r16): the
      // per-edge pushes and a zero row per vertex (__v) enter ONE id-keyed
      // groupBy instead of groupBy + sort-merge left join. Adding 0.0 to an
      // IEEE sum is exact, so ranks are bit-identical; targets with no
      // vertex row are dropped as the old left join dropped them.
      Step(round.cut(ranks.select(col("id").as("src"), col("rank"))
        .join(edges, Seq("src"))
        .select(col("dst").as("id"), (col("rank") / col("deg")).as("s"),
          lit(0).as("__v"))
        .unionByName(verts.withColumn("s", lit(0.0)).withColumn("__v", lit(1)))
        .groupBy(col("id")).agg(sum(col("s")).as("s"), max(col("__v")).as("__v"))
        .filter(col("__v") === 1)
        .select(col("id"),
          (lit((1.0 - alpha) / n) + lit(alpha) * col("s")).as("rank"))))
    }.state.select(col("id"), round(col("rank"), 9).as("rank"))
  }

  /** Converge-or-max-times PageRank (reference
    * `rank/PageRankAlgorithm.java:97-166` with the `precision` parameter:
    * stop when the L1 rank delta Σ_v |Δrank| drops below `precision`, or
    * after `maxTimes` rounds). The previous rank rides on the cut row, so
    * the convergence check is the round's drain: one 1-row aggregate over
    * the cut, not an extra join job per round. */
  def pageRankConverged(g: PropertyGraph, alpha: Double, precision: Double,
                        maxTimes: Int): DataFrame = {
    val (verts, edges) = pageRankViews(g)
    val n = verts.count().toDouble
    Superstep.run(verts.withColumn("rank", lit(1.0 / n)), maxTimes) { (ranks, round) =>
      // join shape kept: the r16 union fusion was applied here and
      // reverted (this path backs no bench query)
      val contrib = ranks.select(col("id").as("src"), col("rank"))
        .join(edges, Seq("src"))
        .groupBy(col("dst").as("id")).agg(sum(col("rank") / col("deg")).as("s"))
      val next = round.cut(ranks.select(col("id"), col("rank").as("old"))
        .join(contrib, Seq("id"), "left")
        .select(col("id"), col("old"),
          (lit((1.0 - alpha) / n) + lit(alpha) * coalesce(col("s"), lit(0.0))).as("rank")))
      // a 1-row drain while the L1 delta is still >= precision
      Step(next.select(col("id"), col("rank")), drain = Some(
        next.agg(sum(abs(col("rank") - col("old"))).as("d"))
          .filter(col("d") >= precision)))
    }.state.select(col("id"), round(col("rank"), 9).as("rank"))
  }

  /** Weakly-connected components: min-id propagation PLUS pointer jumping
    * to fixpoint (reference `comm/WeakConnectedComponent.java:57` defines
    * the result — component id = min vertex id, string order).
    *
    * Plain min-label propagation needs O(diameter) rounds — fine on
    * TPC-H-shaped graphs, fatal on a 100×-scale long-chain graph. Each
    * round here therefore also jumps pointers (component ← component OF the
    * current component, the path-doubling step of Shiloach-Vishkin /
    * large-star-small-star lineage), which halves every label's distance to
    * its component minimum: rounds drop to O(log diameter) for one extra
    * |V|-keyed self-join per round. The fixpoint — and so the q_wcc oracle
    * hash — is unchanged: both loops converge to min-id-per-component.
    * WccSpec proves the log-round count on a chain graph and equivalence
    * with GraphX connectedComponents grouping. */
  def wcc(verts: DataFrame, undirectedEdges: DataFrame): DataFrame = {
    // Communication-avoiding tail (the Louvain in-memory cutover's twin):
    // below the gate, min-id components come from one driver union-find —
    // zero fp anywhere, so the result is exactly the distributed fixpoint.
    // The gate keeps the collect bounded (≤ gate ids + their edges); the
    // typical consumer is the near-dup PAIR graph (tiny, derived), while a
    // full vertex table blows past the gate and runs the pointer-jumping
    // rounds.
    val gate = 5000L
    // type-generic over the id column: the comparison must replicate
    // Spark's min() ordering for the actual type (UTF8 bytes for strings,
    // numeric otherwise); unknown types just stay on the distributed path
    val lt: Option[(Any, Any) => Boolean] =
      verts.schema("id").dataType match {
        case org.apache.spark.sql.types.StringType => Some((a, b) => {
          val x = a.asInstanceOf[String].getBytes("UTF-8")
          val y = b.asInstanceOf[String].getBytes("UTF-8")
          var i = 0; var r = 0
          while (r == 0 && i < x.length && i < y.length) {
            r = (x(i) & 0xff) - (y(i) & 0xff); i += 1
          }
          if (r != 0) r < 0 else x.length < y.length
        })
        case org.apache.spark.sql.types.LongType =>
          Some((a, b) => a.asInstanceOf[Long] < b.asInstanceOf[Long])
        case org.apache.spark.sql.types.IntegerType =>
          Some((a, b) => a.asInstanceOf[Int] < b.asInstanceOf[Int])
        case _ => None
      }
    if (lt.isDefined && verts.count() <= gate) {
      val less = lt.get
      val vs: Array[Any] = verts.select(col("id")).collect().map(_.get(0))
      val inVerts = vs.toSet
      val parent = scala.collection.mutable.HashMap[Any, Any](
        vs.map(v => v -> v): _*)
      def find(x: Any): Any = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x
        while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      undirectedEdges.select(col("src"), col("dst")).collect().foreach { r =>
        val (s, d) = (r.get(0), r.get(1))
        // the distributed rounds drop contributions through endpoints with
        // no vertex row (inner/left joins on comp) — mirror that
        if (inVerts.contains(s) && inVerts.contains(d)) {
          val (rs, rd) = (find(s), find(d))
          if (rs != rd) parent(rs) = rd
        }
      }
      // component label = min member id under the type's Spark ordering
      val minOf = scala.collection.mutable.HashMap[Any, Any]()
      vs.foreach { v =>
        val r = find(v)
        if (!minOf.contains(r) || less(v, minOf(r))) minOf(r) = v
      }
      val spark = verts.sparkSession
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id", verts.schema("id").dataType),
        org.apache.spark.sql.types.StructField("component", verts.schema("id").dataType)))
      val rows = vs.toSeq.map(v =>
        org.apache.spark.sql.Row(v, minOf(find(v))))
      return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), schema)
    }
    wccWithRounds(verts, undirectedEdges)._1
  }

  private[graft] def wccWithRounds(verts: DataFrame, undirectedEdges: DataFrame): (DataFrame, Int) = {
    val adj = graft.core.Pin.pin(undirectedEdges.select(col("src"), col("dst"))
      .union(undirectedEdges.select(col("dst").as("src"), col("src").as("dst")))
      .repartition(col("src")))
    val done = Superstep.run(verts.select(col("id"), col("id").as("component")),
        Int.MaxValue) { (comp, round) =>
      val graphContrib = comp.select(col("id").as("src"), col("component"))
        .join(adj, Seq("src"))
        .select(col("dst").as("id"), col("component"))
      // pointer jump fused into the same aggregation: contribute each
      // vertex's label's label (both sides read the previous round's cut,
      // so no extra materialization). Only from round 3
      // on: short-diameter graphs — the common shape — converge before the
      // jump join would pay for itself, while long-chain graphs still get
      // the O(log diameter) doubling instead of O(diameter) rounds.
      val contribs =
        if (round.index <= 3) graphContrib
        else graphContrib.union(
          comp.select(col("id"), col("component").as("jkey"))
            .join(comp.select(col("id").as("jkey"), col("component")), Seq("jkey"))
            .select(col("id"), col("component")))
      // vertex-align fused into the min aggregation (the pageRank r16
      // pattern): neighbor/jump contributions and the self row share ONE
      // id-keyed groupBy — min(component) over the union ≡ the old
      // least(component, coalesce(nbr_min, component)); the previous
      // component rides the self row (unique per id → max()). The cut +
      // the convergence drain = ONE driver job per round.
      val compT = comp.schema("component").dataType
      val next = round.cut(contribs
        .select(col("id"), col("component"), lit(null).cast(compT).as("old"))
        .unionByName(comp.select(col("id"), col("component"),
          col("component").as("old")))
        .groupBy(col("id")).agg(min(col("component")).as("component"),
          max(col("old")).as("old"))
        // old is non-null exactly for ids with a self row — contributions
        // through endpoints with no vertex row are dropped exactly as the
        // old left join dropped them (the union-find tail mirrors this)
        .filter(col("old").isNotNull))
      Step(next.select(col("id"), col("component")),
        drain = Some(next.filter(col("component") =!= col("old"))))
    }
    (done.state, done.rounds)
  }

  /** Canonical undirected edge set (src < dst, distinct). */
  def canonical(edges: DataFrame): DataFrame =
    edges.select(least(col("src"), col("dst")).as("src"),
        greatest(col("src"), col("dst")).as("dst"))
      .filter(col("src") =!= col("dst")).distinct()

  /** Degree-ordered orientation of a canonical (src<dst) edge set: each
    * undirected edge directed from its lower-(degree, id) endpoint to the
    * higher one — the (degree, id) total order made EXPLICIT, so the
    * orientation is consistent even for a non-canonical caller (an
    * equal-degree edge always points low-id → high-id). Under this
    * orientation every out-degree is O(√m), so the wedge self-join
    * enumerating triangles touches O(m^1.5) pairs total — id-ordering
    * instead lets one high-id hub contribute deg² wedges (the measured 10×
    * k-truss spill cliff; Latapy 2008 / the standard distributed triangle
    * recipe). Pure orientation device: every triangle is still enumerated
    * exactly once with ORIGINAL ids, so consumers' outputs are unchanged. */
  private def orientByDegree(canonical: DataFrame): DataFrame = {
    val deg = canonical.select(explode(array(col("src"), col("dst"))).as("id"))
      .groupBy(col("id")).agg(count(lit(1)).as("__deg"))
    val srcFirst = col("__ds") < col("__dd") ||
      (col("__ds") === col("__dd") && col("src") < col("dst"))
    canonical
      .join(deg.select(col("id").as("src"), col("__deg").as("__ds")), Seq("src"))
      .join(deg.select(col("id").as("dst"), col("__deg").as("__dd")), Seq("dst"))
      .select(
        when(srcFirst, col("src")).otherwise(col("dst")).as("src"),
        when(srcFirst, col("dst")).otherwise(col("src")).as("dst"))
  }

  /** Oriented-triangle enumeration by adjacency-list INTERSECTION: each
    * oriented edge (u,v) closes one triangle per common out-neighbor, so
    * support = |N⁺(u) ∩ N⁺(v)| with the intersection a codegen'd
    * `array_intersect` over packed per-vertex arrays. The classic wedge
    * self-join instead MATERIALIZES AND SHUFFLES every wedge — measured
    * 22M exploded rows at sf0.1 (220M at the 10× smoke, spilling) on a
    * triangle-free graph, all discarded by the closing join; here the same
    * element volume rides |E| rows as array payloads and never hits a
    * 200M-row hash build. Each triangle x→y→z (oriented) is found exactly
    * once, on edge (x,y) with common neighbor z. Returns (a, b, c) corner
    * ids in degree order.
    *
    * Memoized per input PLAN (`sameResult`, the Pin.memo mechanism), and
    * ONLY for top-level inputs: triangle_count, cluster_coefficient and
    * k-truss round 1 run ONE enumeration per session whether they pass
    * the same pinned instance (default mode) or independently-built store
    * scans of the same edge set (store-resident mode, where Pin.pin is a
    * pass-through and reference identity would never collide — measured
    * 11.6× on q_triangle_count before plan keying). Loop-internal frames
    * (k-truss peel rounds ≥2 pass a FRESH survivor frame each round)
    * bypass the memo entirely — a never-rehittable entry per round would
    * pin its checkpointed blocks until Pin.clear, growing checkpoint
    * storage unboundedly across repeated invocations. */
  private def triangles(canonical: DataFrame, memoize: Boolean = true): DataFrame =
    if (memoize) triMemo.getOrBuild(canonical, ())(triangleBuild(canonical))
    else triangleBuild(canonical)

  private def triangleBuild(c: DataFrame): DataFrame = {
    val o = orientByDegree(c).localCheckpoint(false)
    // per-vertex sorted out-neighbor arrays; degree orientation bounds
    // every array by O(√m), so no row-size hazard at any graph scale
    val nbrs = o.groupBy(col("src")).agg(sort_array(collect_list(col("dst"))).as("ns"))
      .localCheckpoint(false)
    o.join(nbrs.select(col("src"), col("ns").as("nu")), Seq("src"))
      .join(nbrs.select(col("src").as("dst"), col("ns").as("nv")), Seq("dst"))
      .select(col("src").as("a"), col("dst").as("b"),
        explode(array_intersect(col("nu"), col("nv"))).as("c"))
      .localCheckpoint(false)
  }

  private val triMemo = new graft.core.Pin.PlanMemo[Unit]

  /** Test hook: memo entry count — guards the loop-bypass contract (peel
    * rounds must NOT add never-rehittable entries that pin checkpoints). */
  private[graft] def triMemoSize: Int = triMemo.entries

  /** Per-vertex triangle count (reference `comm/TriangleCountAlgorithm.java:65`).
    * Enumerates degree-oriented triangles with two joins — each triangle
    * found exactly once — then credits all three corners. */
  def triangleCount(canonicalEdges: DataFrame): DataFrame = {
    val e = graft.core.Pin.pin(canonicalEdges)
    // pinned: both the triangle-count query and clusterCoefficient derive
    // from the same enumeration — one materialization per session
    graft.core.Pin.pin(
      triangles(e).select(explode(array(col("a"), col("b"), col("c"))).as("id"))
        .groupBy(col("id")).agg(count(lit(1)).as("triangles")))
  }

  /** Local clustering coefficient = 2T / (deg·(deg-1)) over the same
    * undirected graph (reference `comm/ClusterCoefficientAlgorithm.java:44`). */
  def clusterCoefficient(canonicalEdges: DataFrame): DataFrame = {
    // same pin triangleCount materializes — deg must not re-scan the source
    val e = graft.core.Pin.pin(canonicalEdges)
    val deg = e.select(explode(array(col("src"), col("dst"))).as("id"))
      .groupBy(col("id")).agg(count(lit(1)).cast("double").as("deg"))
    deg.join(triangleCount(canonicalEdges), Seq("id"), "left")
      .select(col("id"),
        round(when(col("deg") > 1,
          lit(2.0) * coalesce(col("triangles"), lit(0L)).cast("double") /
            (col("deg") * (col("deg") - 1.0)))
          .otherwise(lit(0.0)), 9).as("cc"))
  }

  /** k-truss: bounded-round EDGE peeling — the edge-wise companion of
    * [[kcore]] (Cohen 2008, "Trusses: cohesive subgraphs for social network
    * analysis"). Each round recomputes per-edge support (triangles through
    * the edge, via the oriented a<b<c enumeration [[triangleCount]] uses)
    * and drops edges with support < k−2; removing an edge can strand its
    * neighbors, so rounds cascade. A FIXED round count (not a data-dependent
    * fixpoint) keeps the DuckDB oracle an exact unrolled twin; callers size
    * `rounds` to the cascade depth they need (support is monotone
    * non-increasing per round, so extra rounds are no-ops once converged).
    * Returns edges surviving the last round with the support that round
    * measured (i.e. support within the round's subgraph, ≥ k−2 by
    * construction).
    *
    * Scale shape per round: the same two shuffle-joins as the triangle
    * enumeration plus one (src,dst)-keyed count — no windows, no driver
    * state beyond the loop counter; each round's edge set is cut (it feeds
    * THREE self-join branches next round). */
  def kTruss(canonicalEdges: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(k >= 3 && rounds >= 1, "k-truss needs k >= 3 and at least one round")
    // state: the previous round's survivors (round 1: the pinned input)
    Superstep.run(graft.core.Pin.pin(canonicalEdges), rounds) { (prev, round) =>
      val first = round.index == 1
      val e = if (first) prev else prev.select(col("src"), col("dst"))
      // corners come back in degree order, so re-canonicalize each side
      // pair to the id order `e` is keyed by. Only round 1 memoizes: its
      // input is the session-pinned view shared with triangle_count /
      // cluster_coefficient; later rounds pass fresh survivor frames whose
      // memo entries could never be re-hit (they'd only pin checkpoints).
      val tri = triangles(e, memoize = first)
      val sup = tri.select(explode(array(
          struct(least(col("a"), col("b")).as("src"),
            greatest(col("a"), col("b")).as("dst")),
          struct(least(col("a"), col("c")).as("src"),
            greatest(col("a"), col("c")).as("dst")),
          struct(least(col("b"), col("c")).as("src"),
            greatest(col("b"), col("c")).as("dst")))).as("e"))
        .groupBy(col("e.src").as("src"), col("e.dst").as("dst"))
        .agg(count(lit(1)).as("support"))
      Step(round.cut(e.join(sup, Seq("src", "dst"), "left")
        .filter(coalesce(col("support"), lit(0L)) >= k - 2)))
    }.state
  }

  /** k-core: iterative peeling of vertices with degree < k to fixpoint
    * (reference `comm/KCoreAlgorithm.java:71`). Returns surviving vertices
    * with their core-subgraph degree. */
  def kcore(canonicalEdges: DataFrame, k: Int): DataFrame =
    kcoreEdges(graft.core.Pin.pin(canonicalEdges), k)
      .select(explode(array(col("src"), col("dst"))).as("id"))
      .groupBy(col("id")).agg(count(lit(1)).as("deg"))

  /** The peeling fixpoint itself — surviving edges of the k-core. */
  private def kcoreEdges(edges0: DataFrame, k: Int): DataFrame = {
    val n0 = edges0.count()
    if (n0 == 0) return edges0
    Superstep.run(edges0, Int.MaxValue) { (edges, round) =>
      val deg = edges.select(explode(array(col("src"), col("dst"))).as("id"))
        .groupBy(col("id")).agg(count(lit(1)).as("deg"))
      val keep = round.cut(deg.filter(col("deg") >= k).select(col("id")))
      val next = round.cut(edges
        .join(keep.withColumnRenamed("id", "src"), Seq("src"), "left_semi")
        .join(keep.withColumnRenamed("id", "dst"), Seq("dst"), "left_semi")
        .select(col("src"), col("dst")))
      // the drain counts the survivors: a fixpoint once the count stops
      // falling (the previous round's count is already known)
      val before = if (round.index == 1) n0 else round.lastCount
      Step(next, drain = Some(next), done = n => n == before || n == 0)
    }.state
  }

  /** Coreness TIERS — the decomposition view of [[kcore]]: for an ascending
    * probe ladder `ks`, tier(v) = the largest probe k whose k-core still
    * contains v (the bounded stand-in for exact coreness; a deployment
    * picks the ladder). Incremental by core nesting — the (k₂)-core of G
    * equals the (k₂)-core of the (k₁)-core for k₁ ≤ k₂ — so each probe
    * peels the PREVIOUS probe's surviving edge set, never the full graph
    * again. Returns `(id, tier)`. */
  def corenessTiers(canonicalEdges: DataFrame, ks: Seq[Int]): DataFrame = {
    require(ks == ks.sorted && ks.nonEmpty, "probe ladder must be ascending")
    var edges = graft.core.Pin.pin(canonicalEdges)
    val tiers = ks.map { k =>
      edges = kcoreEdges(edges, k)
      edges.select(explode(array(col("src"), col("dst"))).as("id"))
        .distinct().withColumn("tier", lit(k))
    }
    tiers.reduce(_ unionByName _)
      .groupBy(col("id")).agg(max(col("tier")).cast("long").as("tier"))
  }

  /** Multi-source BFS distances: (root, id, dist) for all reachable pairs —
    * the kernel behind closeness/betweenness sampling (reference
    * `BfsTraverser`). Roots ride along as a frontier tag column. */
  def multiSourceBfs(verts: DataFrame, undirectedEdges: DataFrame, maxDepth: Int): DataFrame =
    multiSourceBfsAdj(verts,
      graft.core.Pin.pin(undirectedEdges.select(col("src"), col("dst"))
        .union(undirectedEdges.select(col("dst").as("src"), col("src").as("dst")))
        .distinct()),
      maxDepth, symmetric = true)

  /** [[multiSourceBfs]] over an adjacency that is ALREADY symmetric and
    * distinct (e.g. `Traversals.adjacencyView(g, BOTH, …)`): skips the
    * redundant union+distinct so callers can reuse the session-pinned view
    * instead of materializing a second copy of the same edge set.
    *
    * `symmetric=true` (set by every undirected caller) swaps the growing
    * full-`seen` anti-join for a TWO-LAYER guard: in an undirected graph a
    * neighbor of a depth-d vertex has depth ∈ {d−1, d, d+1}, so layers
    * d−1 ∪ d decide first-visit exactly — the per-layer anti-join scans
    * O(2·layer) rows instead of re-scanning every previous layer's cache
    * (O(depth·\|V\|) total instead of O(depth²·\|V\|)). Directed callers
    * (e.g. the influence cascade's live-OUT subgraph) keep the full guard —
    * a directed edge CAN jump back to an arbitrarily early layer.
    *
    * The emptiness drain runs every 2nd layer: draining one layer late
    * costs one cheap empty-join round, not a per-layer driver job.
    * Frontier pushdown runs through a stateful
    * [[Traversals.FrontierPruner]] (probe until the first oversize
    * frontier, then never again).
    *
    * Root sets of ≤[[msbfsMaxRoots]] ride the BITMASK formulation instead
    * (see [[msbfsBatch]]); the row-tagged loop below is the fallback for
    * \|V\|-scale root sets. */
  def multiSourceBfsAdj(verts: DataFrame, adj: DataFrame, maxDepth: Int,
                        symmetric: Boolean = false): DataFrame = {
    val spark = verts.sparkSession
    import spark.implicits._
    // Root sets up to msbfsMaxRoots ride the BITMASK path (MS-BFS, Then et
    // al. VLDB 2014): all roots share ONE frontier keyed by vertex id with
    // a per-root bit, so a layer expands |E| rows once instead of
    // |roots|·|E| tagged copies, and the per-dst `bit_or` aggregation gets
    // a map-side partial combine the (root, id) distinct can't have.
    val pulled = verts.select(col("id")).distinct()
      .limit(msbfsMaxRoots + 1).as[String].collect()
    if (pulled.length <= msbfsMaxRoots) {
      return pulled.sorted.grouped(63).toSeq
        .map(batch => msbfsBatch(spark, batch, adj, maxDepth))
        .reduce(_ unionByName _)
    }
    multiSourceBfsTagged(verts, adj, maxDepth, symmetric)
  }

  /** Root-count cap for the bitmask path: 256 roots = 4 sequential 63-bit
    * batches. Beyond that the tagged row formulation wins (one pass, and a
    * |V|-scale root set shouldn't be driver-collected anyway). */
  private val msbfsMaxRoots = 256

  /** One ≤63-root bitmask BFS wave over `adj`. Per layer: one frontier⋈adj
    * join feeding ONE id-keyed aggregation that computes the dst bit_or and
    * the seen-mask merge together (expansion rows ∪ tagged seen rows —
    * fused in r16; the former separate full-outer merge join paid two
    * per-layer sorts and an extra stage). Every aggregation partial-combines
    * map-side. Works unchanged on directed adjacency (the seen mask is the
    * complete visit history, not a two-layer window).
    * Returns (root, id, dist) via a 63-row broadcast bit-explode. */
  private def msbfsBatch(spark: org.apache.spark.sql.SparkSession,
                         roots: Array[String], adj: DataFrame,
                         maxDepth: Int): DataFrame = {
    import spark.implicits._
    val idx = roots.zipWithIndex.map { case (r, i) => (r, i) }.toSeq.toDF("root", "bit")
    val l0 = roots.zipWithIndex.map { case (r, i) => (r, 1L << i) }.toSeq.toDF("id", "mask")
    val pruner = new graft.traverse.Traversals.FrontierPruner
    // state: (seen, frontier = newly-set bits only, per-layer records)
    val init = (l0, l0, List(l0.withColumn("dist", lit(0L))))
    Superstep.run(init, maxDepth) { case ((seen, frontier, recs), round) =>
      val d = round.index
      // NOT union-fused into one aggregation (tried in r16, reverted):
      // folding the seen rows into the expansion's bit_or groupBy re-
      // SHUFFLES the whole seen table every layer — the union's output
      // loses the children's partitioning — where this shape's full-outer
      // merge join is exchange-free (exp arrives hash-partitioned on id
      // from its groupBy, seen's checkpoint preserves the same
      // partitioning; the join only sorts). Full-bench A/B at sf0.1: the
      // fused shape cost the BFS family net +3.3 s on a calm run pair
      // (q_multinode_shortest 1.40 → 2.34, q_betweenness_stress
      // 1.80 → 2.88, q_influence_spread +0.6), and at scale re-shipping
      // |reached| rows per layer loses to two in-place sorts.
      val exp = frontier.select(col("id").as("src"), col("mask"))
        .join(pruner.prune(adj, frontier), Seq("src"))
        .groupBy(col("dst").as("id")).agg(expr("bit_or(mask)").as("m"))
      val merged = round.cut(exp
        .join(seen.withColumnRenamed("mask", "old"), Seq("id"), "full")
        .select(col("id"),
          expr("coalesce(m, 0L) & ~coalesce(old, 0L)").as("new"),
          expr("coalesce(m, 0L) | coalesce(old, 0L)").as("mask")))
      val next = merged.filter(col("new") =!= 0L)
        .select(col("id"), col("new").as("mask"))
      // emptiness drain every 2nd layer, and only while an early exit
      // could still skip ≥2 remaining layers — a count whose answer can't
      // save at least its own cost is pure driver-job overhead
      Step((merged.select(col("id"), col("mask")), next,
          next.withColumn("dist", lit(d.toLong)) :: recs),
        drain = if (d % 2 == 0 && d + 2 <= maxDepth) Some(next) else None)
    }.state._3.reduce(_ unionByName _)
      .join(broadcast(idx), expr("(shiftright(mask, bit) & 1) = 1"))
      .select(col("root"), col("id"), col("dist"))
  }

  /** Row-tagged fallback for root sets past [[msbfsMaxRoots]]: frontiers
    * carry an explicit `root` column. */
  private[graft] def multiSourceBfsTagged(verts: DataFrame, adj: DataFrame, maxDepth: Int,
                                   symmetric: Boolean): DataFrame = {
    val l0 = verts.select(col("id").as("root"), col("id"), lit(0L).as("dist"))
    val pruner = new graft.traverse.Traversals.FrontierPruner
    // state: (layers, frontier, anti-join guard — symmetric: layers d-1 ∪ d,
    // directed: all layers ≤ d)
    val init = (List(l0), l0, l0.select(col("root"), col("id")))
    Superstep.run(init, maxDepth) { case ((layers, frontier, anti), round) =>
      val d = round.index
      val next = round.cut(frontier.select(col("root"), col("id").as("src"))
        .join(pruner.prune(adj, frontier), Seq("src"))
        // distinct on (root, id) hash-partitions on the anti-join's exact
        // keys — the left side enters the anti-join with no extra Exchange
        .select(col("root"), col("dst").as("id")).distinct()
        .join(anti, Seq("root", "id"), "left_anti")
        .withColumn("dist", lit(d.toLong)))
      val nextIds = next.select(col("root"), col("id"))
      val guard =
        if (symmetric) frontier.select(col("root"), col("id")).unionByName(nextIds)
        else anti.unionByName(nextIds)
      // emptiness drain every 2nd layer: the count materializes this layer
      // AND the previous undrained one in a single driver job
      Step((next :: layers, next, guard),
        drain = if (d % 2 == 0 || d >= maxDepth) Some(next) else None)
    }.state._1.reduce(_ unionByName _)
  }

  /** Sampled eccentricity (max BFS distance within `maxDepth`) per source —
    * the diameter-lower-bound probe `subgraph_stat`-style bundles report;
    * rides [[multiSourceBfsAdj]] so the sources share the session-pinned
    * adjacency and each layer is one frontier join. Returns
    * `(id, ecc, n_reached)`. */
  def eccentricity(sources: DataFrame, adj: DataFrame, maxDepth: Int): DataFrame =
    multiSourceBfsAdj(sources, adj, maxDepth, symmetric = true)
      .groupBy(col("root").as("id"))
      .agg(max(col("dist")).as("ecc"), (count(lit(1)) - 1).as("n_reached"))

  /** Landmark distance estimation (Potamias et al. CIKM 2009, "Fast
    * shortest path distance estimation in large networks"): BFS once from L
    * landmark vertices (the bitmask [[multiSourceBfsAdj]] — all landmarks
    * in ONE wave), store each vertex's L-dim distance vector, then answer
    * any s→t distance query with the triangle-inequality upper bound
    * min_l d(s,l) + d(l,t) — no per-query traversal at all. THE index
    * structure for distance queries at 100 TB: the offline pass is L
    * shared BFS layers; online, a pair query is two index lookups + an
    * L-term min. Pairs unreachable via every landmark (either leg missing
    * within `maxDepth`) get no row. Returns `(a, b, dist_ub)`. */
  def landmarkDistances(pairs: DataFrame, landmarks: Seq[String],
                        adj: DataFrame, maxDepth: Int): DataFrame = {
    val dist = landmarkIndex(landmarks, adj, maxDepth)
    pairs
      .join(dist.select(col("landmark"), col("id").as("a"), col("dist").as("da")),
        Seq("a"))
      .join(dist.select(col("landmark"), col("id").as("b"), col("dist").as("db")),
        Seq("landmark", "b"))
      .groupBy(col("a"), col("b"))
      .agg(min(col("da") + col("db")).as("dist_ub"))
  }

  /** The offline half of [[landmarkDistances]]: the `(landmark, id, dist)`
    * vectors, memoized per (pinned adjacency instance, landmark set, depth)
    * — a TRAINED ARTIFACT a deployment builds once in its load phase
    * (`Bench.warmup`, the [[graft.ops.Ann.buildIndex]] discipline) and
    * stores beside the graph; distance queries only probe it. */
  def landmarkIndex(landmarks: Seq[String], adj: DataFrame,
                    maxDepth: Int): DataFrame = {
    val spark = adj.sparkSession
    import spark.implicits._
    // PLAN-keyed (Pin.PlanMemo): in store-resident mode the adjacency view
    // is a fresh frame per call, so a reference key would silently rebuild
    // the warmup-built index inside every probe query (measured 17.8×)
    landmarkMemo.getOrBuild(adj, (landmarks.sorted, maxDepth))(
      graft.core.Pin.pinDerived(
        multiSourceBfsAdj(landmarks.toDF("id"), adj, maxDepth)
          .select(col("root").as("landmark"), col("id"), col("dist"))))
  }

  private val landmarkMemo = new graft.core.Pin.PlanMemo[(Seq[String], Int)]

  /** [[landmarkDistances]] for WEIGHTED graphs: the same Potamias
    * triangle-inequality bound min_l d(s,l) + d(l,t) over a weighted
    * landmark index — landmark selection and query shape carry over to any
    * metric; only the offline wave changes (Bellman-Ford relaxation instead
    * of BFS layers). `wadj` = (src, dst, w) directed rows, e.g.
    * [[graft.traverse.PathTraversals.weightedEdgeView]] — the SAME pinned
    * view the point-query SSSP family plans against, so the index and
    * `q_weighted_path`-style queries share one working set. Returns
    * `(a, b, dist_ub)`; pairs with either leg unreached in `rounds` hops
    * get no row. */
  def weightedLandmarkDistances(pairs: DataFrame, landmarks: Seq[String],
                                wadj: DataFrame, rounds: Int): DataFrame = {
    val dist = weightedLandmarkIndex(landmarks, wadj, rounds)
    pairs
      .join(dist.select(col("landmark"), col("id").as("a"), col("dist").as("da")),
        Seq("a"))
      .join(dist.select(col("landmark"), col("id").as("b"), col("dist").as("db")),
        Seq("landmark", "b"))
      .groupBy(col("a"), col("b"))
      .agg(min(col("da") + col("db")).as("dist_ub"))
  }

  /** The offline half of [[weightedLandmarkDistances]]: `(landmark, id,
    * dist)` with dist = the min-weight ≤`rounds`-hop path — ONE
    * delta-relaxing Bellman-Ford wave carrying every landmark (the weighted
    * sibling of the bitmask MS-BFS; a vertex relaxes its out-edges only in
    * rounds where some landmark's distance to it improved, and the result
    * is bit-for-bit the classic every-vertex relaxation). Memoized per
    * (weighted-adjacency instance, landmark set, rounds) and pinned — the
    * trained-artifact discipline: built once in the load phase, probed by
    * pair queries. */
  def weightedLandmarkIndex(landmarks: Seq[String], wadj: DataFrame,
                            rounds: Int): DataFrame = {
    val spark = wadj.sparkSession
    import spark.implicits._
    // PLAN-keyed for the same store-resident reason as [[landmarkIndex]]
    // (reference keys rebuilt the index per probe: measured 28.7×)
    wLandmarkMemo.getOrBuild(wadj, (landmarks.sorted, rounds)) {
      var dist = landmarks.map(l => (l, l, 0.0)).toDF("landmark", "id", "dist")
        .localCheckpoint(true)
      var changed = dist
      var converged = false
      for (_ <- 1 to rounds if !converged) {
        val relaxed = changed.select(col("landmark"), col("id").as("src"), col("dist"))
          .join(wadj, Seq("src"))
          .groupBy(col("landmark"), col("dst"))
          .agg(min(col("dist") + col("w")).as("rdist"))
          .select(col("landmark"), col("dst").as("id"), col("rdist"))
        val merged = dist.join(relaxed, Seq("landmark", "id"), "full")
          .select(col("landmark"), col("id"),
            least(coalesce(col("dist"), col("rdist")),
              coalesce(col("rdist"), col("dist"))).as("dist"),
            (col("dist").isNull ||
              (col("rdist").isNotNull && col("rdist") < col("dist"))).as("improved"))
          .localCheckpoint(true)
        changed = merged.filter(col("improved"))
          .select(col("landmark"), col("id"), col("dist"))
        dist = merged.select(col("landmark"), col("id"), col("dist"))
        converged = changed.limit(1).count() == 0
      }
      graft.core.Pin.pinDerived(dist.select(col("landmark"), col("id"),
        round(col("dist"), 6).as("dist")))
    }
  }

  private val wLandmarkMemo = new graft.core.Pin.PlanMemo[(Seq[String], Int)]

  /** Persist a landmark index (unweighted BFS layers or weighted
    * Bellman-Ford legs) built by [[landmarkIndex]] /
    * [[weightedLandmarkIndex]] through
    * [[graft.sources.GraphStore.saveArtifact]] — the one-wave offline
    * build is the expensive half of the probe-then-verify family, and a
    * deployment must not redo it per session (the reference stores OLAP
    * outputs as readable properties for the same reason,
    * `type/define/WriteType.java:20-35`). Trains nothing new when the
    * session already built it (both builders are plan-memoized). */
  def saveLandmarkIndex(dir: String, landmarks: Seq[String], adj: DataFrame,
                        maxDepth: Int): Unit =
    graft.sources.GraphStore.saveArtifact(
      landmarkIndex(landmarks, adj, maxDepth), dir, "landmark_index",
      landmarkParams(landmarks, maxDepth) +
        graft.sources.GraphStore.inputIdentity(adj))

  def saveWeightedLandmarkIndex(dir: String, landmarks: Seq[String],
                                wadj: DataFrame, rounds: Int): Unit =
    graft.sources.GraphStore.saveArtifact(
      weightedLandmarkIndex(landmarks, wadj, rounds), dir,
      "weighted_landmark_index", landmarkParams(landmarks, rounds) +
        graft.sources.GraphStore.inputIdentity(wadj))

  /** Seed the landmark memos from persisted artifacts: after a successful
    * load, every probe ([[landmarkDistances]],
    * [[weightedLandmarkDistances]], the `weightedPathPruned` bound) reads
    * the stored vectors — the offline wave never runs. Returns false and
    * seeds nothing when the artifact is missing. Bit-equal by
    * construction: the stored rows are the built rows (rounded-6). */
  def loadLandmarkIndex(dir: String, landmarks: Seq[String], adj: DataFrame,
                        maxDepth: Int): Boolean =
    graft.sources.GraphStore.loadArtifact(adj.sparkSession, dir,
      "landmark_index", landmarkParams(landmarks, maxDepth) +
        graft.sources.GraphStore.inputIdentity(adj)).exists { df =>
      landmarkMemo.getOrBuild(adj, (landmarks.sorted, maxDepth))(
        graft.core.Pin.pinDerived(
          df.select(col("landmark"), col("id"), col("dist"))))
      true
    }

  def loadWeightedLandmarkIndex(dir: String, landmarks: Seq[String],
                                wadj: DataFrame, rounds: Int): Boolean =
    graft.sources.GraphStore.loadArtifact(wadj.sparkSession, dir,
      "weighted_landmark_index", landmarkParams(landmarks, rounds) +
        graft.sources.GraphStore.inputIdentity(wadj)).exists { df =>
      wLandmarkMemo.getOrBuild(wadj, (landmarks.sorted, rounds))(
        graft.core.Pin.pinDerived(
          df.select(col("landmark"), col("id"), col("dist"))))
      true
    }

  private def landmarkParams(landmarks: Seq[String], depth: Int) =
    // length-prefixed joining: landmark ids containing the separator can
    // never make two distinct sets encode identically
    Map("landmarks" -> graft.sources.GraphStore.keyOfList(landmarks.sorted),
      "depth" -> depth.toString)

  /** landmark memo entry counts (test hook) */
  private[graft] def landmarkMemoSizes: (Int, Int) =
    (landmarkMemo.entries, wLandmarkMemo.entries)

  /** Closeness centrality Σ 1/d(s,t) (reference
    * `cent/ClosenessCentralityAlgorithmV2.java:46`). */
  def closenessCentrality(verts: DataFrame, undirectedEdges: DataFrame, maxDepth: Int): DataFrame =
    multiSourceBfs(verts, undirectedEdges, maxDepth)
      .filter(col("dist") > 0)
      .groupBy(col("root").as("id"))
      .agg(round(sum(lit(1.0) / col("dist")), 9).as("closeness"))

  /** Eigenvector centrality by power iteration (reference
    * `cent/EigenvectorCentralityAlgorithm.java:40`), L1-normalized ONCE at
    * the end: xₖ = Aᵏx₀ / ‖Aᵏx₀‖₁ is identical to normalizing every round
    * (scalars pass through the linear map), but the whole loop stays ONE
    * lazy plan — no per-round driver action for the norm, no per-round
    * checkpoint. Bonus precision: with x₀ = 1 every pre-division value is
    * an integer-valued double (exact below 2⁵³), so the single final
    * division is the only fp-rounding site. Measured: 5 iterations went
    * from ~35 scheduler jobs (5 checkpoints + 5 norm collects) to 2. */
  def eigenvector(verts: DataFrame, canonicalEdges: DataFrame, iterations: Int): DataFrame = {
    val adj = graft.core.Pin.pin(canonicalEdges.select(col("src"), col("dst"))
      .union(canonicalEdges.select(col("dst").as("src"), col("src").as("dst"))))
    // pinned co-partitioned on id: the per-round left join against the
    // id-hashed sums must not re-scan/re-shuffle the vertex source per round
    val v = graft.core.Pin.pin(verts.select(col("id")).repartition(col("id")))
    val x = Superstep.run(v.select(col("id"), lit(1.0).as("x")), iterations,
        cutEach = false) { (x, round) =>
      // vertex-align fused into the sum (the pageRank r16 pattern): one
      // id-keyed exchange per round, no sort-merge align join. Adding the
      // 0.0 self row is exact (pre-normalization values are integers).
      Step(round.cut(x.select(col("id").as("src"), col("x"))
        .join(adj, Seq("src"))
        .select(col("dst").as("id"), col("x"), lit(0).as("__v"))
        .unionByName(v.withColumn("x", lit(0.0)).withColumn("__v", lit(1)))
        .groupBy(col("id")).agg(sum(col("x")).as("x"), max(col("__v")).as("__v"))
        .filter(col("__v") === 1).select(col("id"), col("x"))))
    }.state
    // materialize the chain once; the norm agg and the final projection
    // both read this buffer instead of re-running the iteration DAG
    val xm = x.localCheckpoint(true)
    xm.crossJoin(broadcast(xm.agg(sum(col("x")).as("__n"))))
      .select(col("id"), round(col("x") / col("__n"), 9).as("x"))
  }

  /** HITS hubs & authorities (Kleinberg 1999) by power iteration over the
    * DIRECTED adjacency — the link-analysis companion of [[pageRank]] /
    * [[eigenvector]] for bipartite-flavored graphs (a good hub points at
    * good authorities and vice versa). Normalization deferred to ONE final
    * L1 division per score (the [[eigenvector]] contract): with x₀ = 1
    * every pre-division value is an integer-valued double (exact below
    * 2⁵³), so both scores are bit-identical to the oracle's unrolled twin.
    *
    * Scale shape: per round two adjacency joins + keyed aggregations
    * against the pinned directed view; the whole loop is ONE lazy plan —
    * no per-round driver action. Returns `(id, hub, auth)`. */
  def hits(verts: DataFrame, directedAdj: DataFrame, iterations: Int): DataFrame = {
    val adj = directedAdj.select(col("src"), col("dst"))
    val v = graft.core.Pin.pin(verts.select(col("id")).repartition(col("id")))
    val init = (v.select(col("id"), lit(1.0).as("h")), v.select(col("id"), lit(0.0).as("a")))
    val (hub, auth) = Superstep.run(init, iterations, cutEach = false) {
        case ((hub, _), round) =>
      // NOT union-fused (r16): hits interleaves TWO frames through four
      // align points per round pair — fusing them (the pageRank pattern)
      // measured 3.0/0.66 s → 14.5/14.5 s, 11 → 38 jobs at sf0.1: each
      // union repeats the v branch, and the doubled plan defeats the
      // exchange reuse the join shape gets (A/B in OPTIMIZATION_r16.md).
      // The aggregated sums are small, so the align joins broadcast.
      val aSum = adj.join(hub.select(col("id").as("src"), col("h")), Seq("src"))
        .groupBy(col("dst").as("id")).agg(sum(col("h")).as("s"))
      val auth = round.cut(v.join(aSum, Seq("id"), "left")
        .select(col("id"), coalesce(col("s"), lit(0.0)).as("a")))
      val hSum = adj.join(auth.select(col("id").as("dst"), col("a")), Seq("dst"))
        .groupBy(col("src").as("id")).agg(sum(col("a")).as("s"))
      Step((round.cut(v.join(hSum, Seq("id"), "left")
        .select(col("id"), coalesce(col("s"), lit(0.0)).as("h"))), auth))
    }.state
    val norms = hub.agg(sum(col("h")).as("hn"))
      .crossJoin(auth.agg(sum(col("a")).as("an")))
    hub.join(auth, Seq("id")).crossJoin(broadcast(norms))
      .select(col("id"), round(col("h") / col("hn"), 9).as("hub"),
        round(col("a") / col("an"), 9).as("auth"))
  }

  /** Synchronous label propagation with deterministic min-label tie-break
    * (reference `comm/LpaAlgorithm.java:63`; the reference breaks frequency
    * ties randomly — we pin min(label) so runs are reproducible). */
  def lpa(verts: DataFrame, undirectedEdges: DataFrame, iterations: Int): DataFrame = {
    val adj = graft.core.Pin.pin(undirectedEdges.select(col("src"), col("dst"))
      .union(undirectedEdges.select(col("dst").as("src"), col("src").as("dst"))))
    // pinned co-partitioned on the join key: every round left-joins the
    // vertex set against an id-hashed aggregate — without the pin the source
    // table re-scans AND re-shuffles per round (PlanAudit loop-reshuffle)
    val v = graft.core.Pin.pin(verts.select(col("id")).repartition(col("id")))
    Superstep.run(v.select(col("id"), col("id").as("lbl")), iterations) { (labels, round) =>
      // deterministic majority: highest count, then lexicographically
      // smallest label. mode(lbl, deterministic=true) IS that contract
      // (ties → lowest value) and it is a hash-map TypedImperativeAggregate
      // with map-side partial merge — ONE id-keyed exchange per round where
      // the former (id, lbl)-count + argmin pair of aggregations paid two
      // (guide §2.4: fewer shuffles per iteration). The per-group map is
      // bounded by the distinct-label count.
      // vertex-align fused in too (the pageRank r16 pattern): a null-label
      // self row per vertex keeps isolated vertices present, mode() ignores
      // nulls, and the fallback-to-own-id coalesce is unchanged — one
      // exchange per round total
      Step(round.cut(labels.select(col("id").as("src"), col("lbl"))
        .join(adj, Seq("src"))
        .select(col("dst").as("id"), col("lbl"), lit(0).as("__v"))
        .unionByName(v.withColumn("lbl",
          lit(null).cast(labels.schema("lbl").dataType))
          .withColumn("__v", lit(1)))
        .groupBy(col("id"))
        .agg(mode(col("lbl"), deterministic = true).as("nbr_lbl"),
          max(col("__v")).as("__v"))
        .filter(col("__v") === 1)
        .select(col("id"), coalesce(col("nbr_lbl"), col("id")).as("lbl"))))
    }.state
  }

  /** SEEDED label spreading — the semi-supervised sibling of [[lpa]] (Zhu &
    * Ghahramani 2002 label propagation with clamped seeds; the transductive
    * node-classification workhorse): seed vertices carry fixed class
    * labels; every round each vertex takes the majority label of its
    * LABELED neighbors (ties broken by min label), seeds stay clamped,
    * unreached vertices keep their previous (possibly null) label. After k
    * rounds every vertex within k hops of a seed is classified.
    *
    * Scale shape: identical to [[lpa]] — per round one join against the
    * pinned symmetrized adjacency + one (id, lbl) aggregation; the vertex
    * frame is pinned co-partitioned on id, each round's result is cut. */
  def seededLpa(verts: DataFrame, symEdges: DataFrame, seeds: DataFrame,
                iterations: Int): DataFrame = {
    // `symEdges` = the symmetrized view; callers pass the SESSION-PINNED
    // multiplicity adjacency (the degreeAssortativity discipline) so the
    // per-round join reads the warmup materialization instead of cold-
    // pinning a second copy of the edge table into the cache
    val adj = symEdges.select(col("src"), col("dst"))
    val v = graft.core.Pin.pin(verts.select(col("id")).repartition(col("id")))
    val sd = seeds.select(col("id"), col("lbl").as("__seed")).localCheckpoint(true)
    // the clamp column rides the labels frame — one seed join at init
    // instead of one per round
    val init = v.join(sd, Seq("id"), "left")
      .select(col("id"), col("__seed").as("lbl"), col("__seed"))
    Superstep.run(init, iterations) { (labels, round) =>
      // majority vote fused into ONE id-keyed aggregation per round —
      // mode(lbl, deterministic=true) = (count desc, lbl asc), identical
      // tie-break to the former count + argmin-struct pair (see [[lpa]]).
      // NOT vertex-align-fused (the pageRank union pattern): carrying the
      // previous label + clamp as max() columns through the mode
      // aggregation measured 3.72/2.93 s → 5.29/4.72 s at sf0.1 (A/B in
      // OPTIMIZATION_r16.md) — the align join stays.
      val pick = labels.filter(col("lbl").isNotNull)
        .select(col("id").as("src"), col("lbl"))
        .join(adj, Seq("src"))
        .groupBy(col("dst").as("id"))
        .agg(mode(col("lbl"), deterministic = true).as("vote"))
      Step(round.cut(labels.join(pick, Seq("id"), "left")
        .select(col("id"),
          coalesce(col("__seed"), col("vote"), col("lbl")).as("lbl"), col("__seed"))))
    }.state.filter(col("lbl").isNotNull).select(col("id"), col("lbl"))
  }

  /** Degree assortativity coefficient (Newman 2002, "Assortative mixing in
    * networks") over the undirected view: the Pearson correlation of
    * endpoint degrees across edges — positive = hubs link to hubs, negative
    * = hub-and-spoke. The natural companion to `subgraph_stat`'s degree
    * bundle (reference `SubgraphStatAlgorithm.java` reports degree
    * distributions; the mixing coefficient is the standard next statistic).
    * Computed from EXACT integer sums (Σx, Σy, Σxy, Σx², Σy² as
    * DECIMAL(38,0)) so the derived double is bit-identical across engines —
    * a streaming `corr()` would accumulate in engine-specific order.
    *
    * Scale shape: one degree aggregation (src-keyed), two degree joins onto
    * the edge list (both sides shuffle on their keys — degree table is
    * \|V\|-sized, NOT broadcast), then a single 1-row total. No windows, no
    * driver state. */
  def degreeAssortativity(symEdges: DataFrame): DataFrame = {
    // `symEdges` = the symmetrized multigraph view (every undirected edge
    // in both directions). Callers pass the SESSION-PINNED multiplicity
    // view (`Traversals.multiplicityView(g, EdgeStep(BOTH))` — the exact
    // plan Bench.warmup pins, hash-partitioned on src) so the three
    // consumers below (degree aggregation + both endpoint joins) read one
    // materialization AND ride its partitioning: the src-keyed groupBy and
    // the src-endpoint join need no exchange at any scale — at 10× the
    // un-partitioned view cost a broadcast→shuffle tier flip that
    // repartitioned both join sides cold (measured 4.4–5.3× smoke ratio).
    // An unpinned projection re-evaluated per consumer measured 11s vs ~1s
    // at sf0.1.
    val sym = symEdges.select(col("src"), col("dst"))
    val deg = sym.groupBy(col("src").as("id")).agg(count(lit(1)).as("deg"))
    val d38 = "decimal(38,0)"
    val dd = col("deg").cast(d38)
    // symmetry of the (u,v)/(v,u) pair stream: Σdx = Σdy = Σ_v deg², and
    // Σdx² = Σdy² = Σ_v deg³ — both read off the degree table with NO edge
    // join; m = Σ_v deg. Only the cross-moment Σ deg(u)·deg(v) needs the
    // edge list: one sym⋈deg join, a dst-keyed partial sum, then a
    // \|V\|-sized join back to deg — the second full-edge shuffle of the
    // textbook formulation is gone. All sums are exact integers in
    // DECIMAL(38,0), so the final double matches the oracle's pair-stream
    // computation bit for bit.
    val moments = deg.agg(
      sum(dd).cast("long").as("m"),
      sum(dd * dd).cast("double").as("sx"),
      sum(dd * dd * dd).cast("double").as("sxx"))
    val sxy = sym
      .join(deg.select(col("id").as("src"), col("deg").cast(d38).as("dx")), Seq("src"))
      .groupBy(col("dst")).agg(sum(col("dx")).as("sd"))
      .join(deg.select(col("id").as("dst"), col("deg").cast(d38).as("deg")), Seq("dst"))
      .agg(sum(col("sd") * col("deg")).cast("double").as("sxy"))
    moments.crossJoin(sxy).select(col("m"),
      graft.core.Num.zround6((col("m") * col("sxy") - col("sx") * col("sx")) /
        (col("m") * col("sxx") - col("sx") * col("sx")))
        .as("assortativity"))
  }
}
