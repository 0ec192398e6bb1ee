package graft.traverse

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core._

/** OLTP traverser algorithms (SURVEY §2.12) re-expressed as frontier-join
  * dataflows.
  *
  * The reference executes these as per-vertex prefix scans fanned out over a
  * thread pool (`OltpTraverser.traverseIdsByBfs`, `HugeTraverser
  * .edgesOfVertex:376-440`) — a nested-loop index join. Here a traverser
  * answers in one of two regimes:
  *  - driver index: when its edge view is pinned and at most
  *    [[bfsBroadcastMaxRows]] rows (small enough to ship whole to every
  *    executor), the pin also builds a [[graft.core.LocalAdjacency]] and
  *    `kneighbor`/`koutNearest` (degree < 0), `shortestPathDist` and
  *    `PathTraversals.allShortestPaths`/`rings`/`weightedSssp` walk it on
  *    the driver and return a local relation — no Spark job. The labeled
  *    OUT view's index carries per-edge labels and is transposed on the
  *    driver for IN/BOTH; `neighbors`, `sameNeighbors(Batch)`,
  *    `jaccardSimilarity`, `adamicAdar`/`resourceAllocation` and
  *    `personalRank` answer from it under a label mask ([[labeledIndex]]).
  *    The frontends read the same index without ever pinning it: Cypher
  *    `shortestPath()`/`allShortestPaths()` (`CypherLite.shortestPairs`,
  *    `allShortestPathRows`) and Gremlin `repeat(<one hop>).times(n)`
  *    (`GraphTraversal.repeatStep`) walk it from at most
  *    [[frontierPushdownMaxIds]] start ids ([[smallIdSet]], one job), as
  *    long as their pairs, paths or walks stay within
  *    [[bfsBroadcastMaxRows]];
  *  - Spark join: otherwise (views over the bound, `SPARK_GRAFT_NOPIN=1`,
  *    `SPARK_GRAFT_BUCKETED=1`, a SUB label on a `sub_label` frame, too
  *    many starts or rows, and every other traverser) a frontier is a
  *    DataFrame and one BFS layer is ONE distributed hash join of the
  *    frontier against the edge table: batching, parallelism and memory
  *    arbitration all come from Spark. At 100 TB the frontier join
  *    shuffles on `src`/`id`; a graph stored bucketed by `src` co-locates
  *    every layer with zero shuffle on the edges side.
  *
  * The kneighbor/kout family runs on one Spark layer loop, [[layerLoop]]
  * (the reference drives them all from `OltpTraverser.traverseIdsByBfs`):
  * each layer derives from the previous one only and is cut with an eager
  * `localCheckpoint`, and first-visit dedup is a `left_anti` join against
  * the reached set — the distributed analogue of the reference's
  * concurrent id set (`ConcurrentVerticesConsumer`,
  * OltpTraverser.java:282-320).
  */
object Traversals {

  /** One BFS layer: frontier(id, …carry) ⋈ edges(src,dst) → next ids.
    * Using-column join on renamed inputs — the frontier usually derives from
    * the same edges plan, and dataset-qualified refs (`edges("dst")`) would
    * trip Spark's ambiguous-self-join check. */
  private def expand(frontier: DataFrame, edges: DataFrame): DataFrame =
    frontier.select(col("id").as("src"))
      .join(edges.select(col("src"), col("dst")), Seq("src"))
      .select(col("dst").as("id"))

  /** Broadcast cap for BFS working sets whose exact row count the driver
    * already knows (frontier/visited after a layer's stats job). 2M string
    * ids ≈ tens of MB — comfortably under the broadcast limit, and far past
    * the point where a frontier counts as "small" next to a 100 TB edge
    * table that must NOT shuffle per layer. */
  private[graft] val bfsBroadcastMaxRows = 2000000L

  private[graft] def maybeBroadcast(df: DataFrame, rows: Long): DataFrame =
    if (rows <= bfsBroadcastMaxRows) broadcast(df) else df

  /** Max frontier ids held on the driver and pushed down as a literal
    * IN-list (→ InSet, O(1)/row) into the clustered cache scan. Bounded to
    * the point-lookup regime: past a few thousand literals the per-hop
    * Catalyst analyze/optimize cost of the multi-MB expression outweighs the
    * scan pruning (measured: path-family queries regressed 2-3× at a 100k
    * cap), and at cluster scale the driver would serialize that plan every
    * layer. Wider frontiers fall through to the broadcast/shuffle join,
    * which is the right shape there anyway. */
  private[graft] val frontierPushdownMaxIds = 2000

  /** Pinned edge views at or below this row count never profit from
    * pushdown: scanning the whole cached view costs less than one per-hop
    * driver round-trip, so the collect job is pure overhead (measured:
    * rings/multi-source BFS over 25-row and 1.5k-row derived graphs paid
    * +0.1-0.3s per hop for nothing). Big views keep the pruning — there
    * the skipped batch decode dominates. */
  private[graft] val pruneSkipEdgeRows = 50000L

  /** Edge view pruned to a frontier's id set when that set is small enough
    * to hold on the driver: one tiny distinct+collect job against the
    * (materialized) frontier, then a literal `src IN (...)` the clustered
    * cache scan prunes batches with — O(touched adjacency lists) per hop
    * instead of a full decode of the edge view (the reference's indexed
    * point-lookup expansion, `OltpTraverser` adjacent-edge queries). Big
    * frontiers fall through to the unpruned view (the join then streams
    * the full table — correct once the frontier is |V|-scale). Callers
    * must pass a frontier backed by a checkpoint/cache so the collect
    * doesn't recompute a long lineage. */
  private[graft] def pruneForFrontier(edges: DataFrame, frontier: DataFrame,
                                      idCol: String = "id",
                                      knownRows: Long = -1L): DataFrame = {
    // knownRows: caller-tracked frontier row count, when available — skips
    // the collect attempt (and its distinct shuffle) outright for frontiers
    // already known to be |V|-scale (distinct ids ≤ rows)
    if (knownRows > frontierPushdownMaxIds) edges
    else pruneForFrontierTracked(edges, frontier, idCol)._1
  }

  /** [[pruneForFrontier]] plus whether the pushdown actually applied —
    * `false` means the frontier's id set exceeded the literal-IN cap and
    * the probe was wasted work. Loop callers feed this into a
    * [[FrontierPruner]] so a frontier that has outgrown the point-lookup
    * regime stops paying a per-hop distinct+collect probe. */
  private[graft] def pruneForFrontierTracked(edges: DataFrame, frontier: DataFrame,
                                             idCol: String = "id"): (DataFrame, Boolean) = {
    if (graft.core.Pin.rowsOf(edges).exists(_ <= pruneSkipEdgeRows))
      return (edges, true) // tiny pinned view: scan beats any probe, forever
    val ids = frontier.select(col(idCol)).distinct()
      .limit(frontierPushdownMaxIds + 1).collect()
    if (ids.length <= frontierPushdownMaxIds)
      (edges.filter(col("src").isin(ids.toIndexedSeq.map(_.getString(0)): _*)), true)
    else (edges, false)
  }

  /** Per-loop stateful pushdown gate. Path-enumerating BFS frontiers grow
    * (near-)monotonically until they drain, so once one hop's id set
    * exceeds [[frontierPushdownMaxIds]], later hops almost never shrink
    * back under it — yet a stateless per-hop probe would keep paying a
    * distinct+collect over an ever-larger frontier (measured: the r05
    * rings/paths regressions were mostly this probe). One instance per
    * traversal loop; after the first oversize hop every later hop skips
    * straight to the join path. Pushdown is a pure optimization, so
    * skipping it is always semantics-preserving. */
  private[graft] final class FrontierPruner {
    private var live = true
    def prune(edges: DataFrame, frontier: DataFrame,
              idCol: String = "id"): DataFrame =
      if (!live) edges
      else {
        val (pruned, ok) = pruneForFrontierTracked(edges, frontier, idCol)
        if (!ok) live = false
        pruned
      }
  }

  /** Multiplicity-preserving (src, dst) adjacency pinned per step shape —
    * the NON-distinct view walk-counting traversals, neighborRank, seeded
    * label spreading and degree assortativity plan against. Declared
    * hash-partitioned on src: unlike the BFS [[adjacencyView]] (whose
    * frontier stays small, where a declared partitioning only biases the
    * planner away from the winning frontier broadcast), every iterative
    * consumer of THIS view joins it against a |V|-sized side (per-round
    * label frames, the degree table), so at 10×+ the co-partitioned join
    * replaces a cold two-sided shuffle — the assortativity tier flip. All
    * call sites must route through here: the pin dedups by plan, and a
    * bare un-partitioned construction would cold-pin a second copy of the
    * edge table. */
  private[graft] def multiplicityView(g: PropertyGraph, step: EdgeStep): DataFrame =
    indexed(pinned(step.edgesFor(g).select(col("src"), col("dst"))
      .repartition(col("src"))))

  /** Labeled adjacency (src, label, dst) pinned per (dir, labels) — the
    * base relation per-hop degree truncation windows over. Clustered by src
    * within partitions for the same cache-batch pruning as adjacencyView.
    * Only the OUT view of every label is indexed: its transpose serves IN
    * and BOTH, so the twice-as-large BOTH view is never collected. */
  private[graft] def labeledAdjacency(g: PropertyGraph, dir: Direction.Value,
                                      labels: Seq[String]): DataFrame = {
    val view = pinned(labeledPlan(g, dir, labels))
    if (dir == Direction.OUT && labels.isEmpty) indexed(view) else view
  }

  private def labeledPlan(g: PropertyGraph, dir: Direction.Value,
                          labels: Seq[String]): DataFrame =
    EdgeStep(dir, labels).edgesFor(g)
      .select(col("src"), col("label"), col("dst"))
      .sortWithinPartitions(col("src"))

  /** The labeled OUT index with the mask of `labels` on it, when it can
    * answer them: a SUB label on a frame with a `sub_label` column cannot,
    * since the view keeps only the stored `label`. With `pin`, the view is
    * pinned (and indexed) first; without, only an index already built
    * answers — the frontends' lookup, which never pins a view. */
  private[graft] def labeledIndex(g: PropertyGraph, labels: Seq[String],
                                  pin: Boolean = true): Option[(LocalAdjacency, Array[Boolean])] = {
    val sub = g.edges.columns.contains("sub_label") &&
      g.schema.edgeLabels.exists(el => el.father.isDefined && labels.contains(el.name))
    val view =
      if (sub) None
      else if (pin) Some(labeledAdjacency(g, Direction.OUT, Nil))
      else Pin.find(labeledPlan(g, Direction.OUT, Nil))
    view.flatMap(LocalAdjacency.of).map(ix => (ix, ix.labelMask(labels)))
  }

  /** The values of `df`'s string column `c` when there are at most
    * [[frontierPushdownMaxIds]] rows, nulls dropped: one job, which takes
    * at most that many + 1 rows from each partition (a `limit` collect
    * would scan the partitions in growing batches, a job each). */
  private[graft] def smallIdSet(df: DataFrame, c: String): Option[Seq[String]] = {
    val cap = frontierPushdownMaxIds
    val string = org.apache.spark.sql.Encoders.STRING
    val ids = df.select(col(c)).as(string).mapPartitions(_.take(cap + 1))(string).collect()
    if (ids.length > cap) None else Some(ids.toSeq.filter(_ != null))
  }

  /** Degree-capped frontier expansion: join FIRST, then truncate per vertex.
    * The per-src (label, dst)-ordered row_number is identical to
    * `EdgeStep.degree`'s table-level truncation restricted to the frontier
    * (the join preserves every edge of each frontier vertex), but the window
    * only sorts the frontier's fan-out — O(frontier edges), not O(|E|). At
    * cluster scale this is the difference between a kout paying one full
    * edge-table shuffle up front and paying only for what it touches.
    *
    * PRECONDITION: `frontier` must be duplicate-free. A duplicated frontier
    * id would multiply its edges inside the per-src window and truncate at
    * the wrong cut (row_number counts copies). Every caller feeds a
    * `.distinct()`-ed (or seed) frontier; asserted here defensively via the
    * callers' contract rather than a per-hop `.distinct()` shuffle. */
  private def expandDegreeCapped(frontier: DataFrame, labeled: DataFrame,
                                 degree: Long): DataFrame =
    truncatePerSrc(frontier.select(col("id").as("src")).join(labeled, Seq("src")), degree)

  /** The per-src (label, dst)-ordered truncation window over a frontier's
    * fan-out rows — O(frontier edges), shared by the join and the
    * IN-pushdown expansion (identical cut on identical row sets). */
  private def truncatePerSrc(fanout: DataFrame, degree: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("src")).orderBy(col("label"), col("dst"))
    fanout.withColumn("__rn", row_number().over(w)).filter(col("__rn") <= degree)
      .select(col("dst").as("id"))
  }

  /** One layer's expansion: (frontier, its ids when the driver holds them)
    * → the next layer's ids, duplicates allowed. */
  private type Expand = (DataFrame, Option[Array[String]]) => DataFrame

  /** One BFS expansion step for the kneighbor/kout family: degree ≥ 0 uses
    * the frontier-local truncation, otherwise the shared distinct view.
    * When the caller holds the frontier's ids (driver-tracked BFS — the
    * reference's traverser-memory model), they push down as a literal
    * `src IN (...)` the clustered cache scan batch-prunes, replacing the
    * frontier join entirely; otherwise the broadcast/shuffle join runs. */
  private def stepFn(g: PropertyGraph, dir: Direction.Value,
                     labels: Seq[String], degree: Long): Expand =
    if (degree >= 0L) {
      val la = labeledAdjacency(g, dir, labels)
      (f, ids) => ids match {
        case Some(a) => truncatePerSrc(
          la.filter(col("src").isin(a.toIndexedSeq: _*)), degree)
        case None => expandDegreeCapped(f, la, degree)
      }
    } else {
      val e = adjacencyView(g, dir, labels)
      (f, ids) => ids match {
        case Some(a) => e.filter(col("src").isin(a.toIndexedSeq: _*))
          .select(col("dst").as("id"))
        case None => expand(f, e)
      }
    }

  /** Materialize the per-traversal edge view once — iterative loops would
    * otherwise re-evaluate the 6-table union scan every layer. On a cluster
    * this is `persist(MEMORY_AND_DISK)` over the adjacency; localCheckpoint
    * plays that role in local mode. */
  private def pinned(df: DataFrame): DataFrame = graft.core.Pin.pin(df)

  /** Builds the driver-side [[LocalAdjacency]] of a view that is pinned and
    * at most [[bfsBroadcastMaxRows]] rows — the bound under which the view
    * already counts as small enough to ship whole to every executor.
    * Returns the view. */
  private[graft] def indexed(view: DataFrame): DataFrame = {
    if (Pin.rowsOf(view).exists(_ <= bfsBroadcastMaxRows)) LocalAdjacency.register(view)
    view
  }

  /** Rows answered on the driver as a local relation: collecting it (or a
    * projection of it) starts no Spark job. */
  private def localIds(g: PropertyGraph, ids: Seq[String]): DataFrame = {
    val spark = g.vertices.sparkSession
    import spark.implicits._
    ids.toDF("id")
  }

  /** THE shared distinct adjacency view for (dir, labels) — pinned once per
    * session (the Bench warmup pre-materializes the label-free OUT/BOTH
    * instances). All set-semantics traversals build their edge view through
    * here: the plans must stay `sameResult`-equal across queries for the
    * pin to be shared. Deliberately NOT pre-partitioned by src: OLTP
    * frontiers are small, and AQE's runtime broadcast of the frontier beats
    * a sort-merge join that a declared edge partitioning would bias the
    * planner toward (measured: pre-partitioning regressed every BFS query;
    * iterative ALGORITHMS whose small side grows to |V| — pageRank,
    * weighted SSSP — pin their own src-partitioned views instead). */
  private[graft] def adjacencyView(g: PropertyGraph, dir: Direction.Value,
                                   labels: Seq[String] = Nil): DataFrame =
    indexed(pinned(EdgeStep(dir, labels).edgesFor(g)
      .select(col("src"), col("dst")).distinct()
      // clustered by src WITHIN each hash partition: the columnar cache keeps
      // per-batch min/max stats, so a frontier pushed down as `src IN (...)`
      // decodes only the batches holding those vertices' adjacency lists —
      // the reference's vertex-clustered physical layout (RocksDB/HBase key
      // order = owner vertex id, BinarySerializer edge keys) re-expressed as
      // cache-batch pruning. Sort order alone declares no outputPartitioning,
      // so the planner keeps broadcasting frontiers (no SMJ bias).
      .sortWithinPartitions(col("src"))))

  /** Thrown when a traversal touches more elements than its capacity guard
    * allows (reference `Query.DEFAULT_CAPACITY` = 800 000,
    * `HugeTraverser.checkCapacity`). */
  final class CapacityExceededException(val n: Long, val capacity: Long)
    extends RuntimeException(s"traversal touched $n elements, capacity $capacity")

  private def checkCapacity(n: Long, capacity: Long): Unit =
    if (capacity >= 0L && n > capacity) throw new CapacityExceededException(n, capacity)

  /** The last layer and the reached set (source ∪ every layer) of a
    * [[layerLoop]]. */
  private final case class Layers(frontier: DataFrame, reached: DataFrame)

  /** THE Spark layer loop of the kneighbor/kout family, the Spark twin of
    * [[LocalAdjacency.layers]]: layer d is the distinct ids `step(d)`
    * expands the previous layer to; with `nearest` they are anti-joined
    * against everything reached so far (first visit), otherwise the walk
    * keeps re-reached vertices. Per layer:
    *  - one eager `localCheckpoint`, so the lineage never grows with the
    *    depth;
    *  - one collect of at most [[frontierPushdownMaxIds]] + 1 ids off that
    *    checkpoint. It is at once the drain (an empty layer ends the loop)
    *    and the next layer's `src IN (...)` list. A wider layer takes the
    *    join path instead; in first-visit mode its exact count keeps the
    *    reached-set broadcast gate sound;
    *  - the capacity guard. First-visit layers are disjoint, so the running
    *    reached count is exact; a walk counts the distinct ids of source ∪
    *    every layer.
    * It stays off [[Superstep]]: a Superstep drain is one count per round,
    * a job per layer on top of the collect that already answers it. */
  private def layerLoop(g: PropertyGraph, source: String, depth: Int, nearest: Boolean,
                        capacity: Long)(step: Int => Expand): Layers = {
    val spark = g.vertices.sparkSession
    import spark.implicits._
    var reached = Seq(source).toDF("id")
    var reachedCnt = 1L // first-visit mode only
    var frontier = reached
    var ids: Option[Array[String]] = Some(Array(source))
    var d = 0
    while (d < depth && ids.forall(_.nonEmpty)) {
      d += 1
      val next = step(d)(frontier, ids).distinct()
      frontier = (if (nearest)
        next.join(maybeBroadcast(reached, reachedCnt), Seq("id"), "left_anti")
      else next).localCheckpoint(true)
      reached = reached.union(frontier)
      val pulled = frontier.select(col("id"))
        .limit(frontierPushdownMaxIds + 1).as[String].collect()
      ids = if (pulled.length <= frontierPushdownMaxIds) Some(pulled) else None
      if (nearest) {
        reachedCnt += ids.fold(frontier.count())(_.length.toLong)
        checkCapacity(reachedCnt, capacity)
      } else if (capacity >= 0L) checkCapacity(reached.distinct().count(), capacity)
    }
    Layers(frontier, reached)
  }

  /** The driver index of the (dir, labels) adjacency, for the kneighbor/kout
    * family: only the uncapped walk (degree < 0) reads it; the degree cap
    * keeps its labeled-adjacency join. */
  private def uncappedIndex(g: PropertyGraph, dir: Direction.Value,
                            labels: Seq[String], degree: Long): Option[LocalAdjacency] =
    if (degree < 0L) LocalAdjacency.of(adjacencyView(g, dir, labels)) else None

  /** k-neighbor: all vertices within ≤ maxDepth hops of source, excluding
    * the source itself (reference `KneighborTraverser.kneighbor:39`,
    * `KneighborRecords.getRecords` skips record 0). Layered BFS with
    * first-visit semantics; `capacity` bounds the visited set after each
    * layer. Returns DF(id). */
  def kneighbor(g: PropertyGraph, source: String, dir: Direction.Value,
                labels: Seq[String] = Nil, maxDepth: Int, degree: Long = -1L,
                capacity: Long = -1L): DataFrame =
    uncappedIndex(g, dir, labels, degree) match {
      case Some(ix) =>
        val out = Seq.newBuilder[String]
        ix.layers(source, maxDepth) { (_, layer, visited) =>
          checkCapacity(visited, capacity)
          layer.foreach(v => out += ix.name(v))
          true
        }
        localIds(g, out.result())
      case None => kneighborJoin(g, source, dir, labels, maxDepth, degree, capacity)
    }

  /** [[kneighbor]]'s Spark-join loop. */
  private[graft] def kneighborJoin(g: PropertyGraph, source: String, dir: Direction.Value,
                                   labels: Seq[String], maxDepth: Int, degree: Long,
                                   capacity: Long): DataFrame = {
    val step = stepFn(g, dir, labels, degree)
    layerLoop(g, source, maxDepth, nearest = true, capacity)(_ => step).reached
      .filter(col("id") =!= source).distinct()
  }

  /** k-out nearest=true: vertices at exactly `depth` hops and not reachable
    * sooner (reference `KoutTraverser.kout:43` with visited set); `degree`
    * truncates per-vertex fan-out, `capacity` guards total touched elements
    * (both as in kneighbor / `KoutTraverser.kout:44-45`). */
  def koutNearest(g: PropertyGraph, source: String, dir: Direction.Value,
                  labels: Seq[String] = Nil, depth: Int,
                  degree: Long = -1L, capacity: Long = -1L): DataFrame =
    uncappedIndex(g, dir, labels, degree) match {
      case Some(ix) =>
        var last = Seq(source) // depth ≤ 0 answers the source itself
        ix.layers(source, depth) { (_, layer, visited) =>
          checkCapacity(visited, capacity)
          last = layer.toSeq.map(ix.name)
          true
        }
        localIds(g, last)
      case None => koutNearestJoin(g, source, dir, labels, depth, degree, capacity)
    }

  /** [[koutNearest]]'s Spark-join loop. */
  private[graft] def koutNearestJoin(g: PropertyGraph, source: String, dir: Direction.Value,
                                     labels: Seq[String], depth: Int, degree: Long,
                                     capacity: Long): DataFrame = {
    val step = stepFn(g, dir, labels, degree)
    layerLoop(g, source, depth, nearest = true, capacity)(_ => step).frontier
  }

  /** k-out nearest=false: vertices reachable by SOME walk of exactly `depth`
    * steps (source excluded — `ConcurrentVerticesConsumer` always drops it). */
  def koutAll(g: PropertyGraph, source: String, dir: Direction.Value,
              labels: Seq[String] = Nil, depth: Int,
              degree: Long = -1L, capacity: Long = -1L): DataFrame = {
    val step = stepFn(g, dir, labels, degree)
    layerLoop(g, source, depth, nearest = false, capacity)(_ => step).frontier
      .filter(col("id") =!= source)
  }

  /** Per-hop step function for [[customizedKout]]: plain (dir, labels,
    * degree) hops reuse [[stepFn]]'s frontier-local truncation; hops with a
    * property filter or skipDegree ride the full `EdgeStep.edgesFor` view
    * (cond/skipDegree/degree applied there), pinned once per step shape. */
  private def hopStepFn(g: PropertyGraph, es: EdgeStep): Expand =
    if (es.cond.isEmpty && es.skipDegree == 0L)
      stepFn(g, es.direction, es.labels, es.degree)
    else {
      val e = pinned(es.edgesFor(g).select(col("src"), col("dst")))
      (f, ids) => ids match {
        case Some(a) => e.filter(col("src").isin(a.toIndexedSeq: _*))
          .select(col("dst").as("id"))
        case None => expand(f, e)
      }
    }

  /** Customized k-out (reference `KoutTraverser.customizedKout:114`): the
    * expansion is driven by a `Steps` config — edge labels, per-edge
    * property filters, degree cap — instead of one (direction, labels)
    * pair. Generalized to ONE [[EdgeStep]] PER HOP (`steps(i)` drives
    * layer i+1; total depth = `steps.length`), which subsumes the
    * reference's repeat-one-Steps-maxDepth-times shape
    * (`Seq.fill(maxDepth)(step)`) and adds per-hop heterogeneity.
    * `nearest=true` keeps kout's first-visit semantics; `nearest=false`
    * returns targets of some walk through all steps, source excluded. */
  def customizedKout(g: PropertyGraph, source: String, steps: Seq[EdgeStep],
                     nearest: Boolean = true, capacity: Long = -1L): DataFrame = {
    val out = layerLoop(g, source, steps.length, nearest, capacity)(
      d => hopStepFn(g, steps(d - 1))).frontier
    if (nearest) out else out.filter(col("id") =!= source)
  }

  /** Customized k-neighbor (reference
    * `KneighborTraverser.customizedKneighbor:73-104`): all vertices within
    * `maxDepth` applications of ONE Steps bundle — the reference repeats
    * the same steps object every layer — source excluded; `limit`
    * truncates to the lowest ids (the reference cuts in insertion order,
    * which is storage-dependent; ascending-id is the deterministic twin). */
  def customizedKneighbor(g: PropertyGraph, source: String, step: EdgeStep,
                          maxDepth: Int, limit: Long = -1L): DataFrame = {
    val hop = hopStepFn(g, step)
    val out = layerLoop(g, source, maxDepth, nearest = true, capacity = -1L)(_ => hop)
      .reached.filter(col("id") =!= source).distinct()
    if (limit >= 0L) out.orderBy(col("id")).limit(limit.toInt) else out
  }

  /** DFS k-out (reference `KoutTraverser.dfsKout:147`, nested-iterator
    * depth-first edge walk). Depth-first vs breadth-first is an ENUMERATION
    * ORDER distinction in the reference's row-at-a-time OLTP engine — it
    * exists there to bound memory (one nested iterator instead of layer
    * sets), not to define a different result. A declarative dataflow has no
    * traversal order, so the Spark operator implements the order-independent
    * result contract: nearest=false → targets of some walk of exactly
    * `depth` steps (identical to the DFS full-path records); nearest=true →
    * first-visit-at-`depth` semantics (the reference's `all`-set check is
    * DFS-visit-order dependent — `createNestedIterator` mutates `all` while
    * iterating — so we canonicalize to the BFS fixpoint, the only
    * deterministic reading). ScalaTest asserts set-equality with the BFS
    * variants; `degree` and `capacity` behave as in kout. */
  def koutDfs(g: PropertyGraph, source: String, dir: Direction.Value,
              labels: Seq[String] = Nil, depth: Int, nearest: Boolean,
              degree: Long = -1L, capacity: Long = -1L): DataFrame =
    if (nearest) koutNearest(g, source, dir, labels, depth, degree, capacity)
    else koutAll(g, source, dir, labels, depth, degree, capacity)

  /** Distinct neighbor set of one vertex. */
  def neighbors(g: PropertyGraph, v: String, dir: Direction.Value,
                labels: Seq[String] = Nil): DataFrame =
    labeledIndex(g, labels) match {
      case Some((ix, mask)) => localIds(g, ix.neighborSet(ix.idOf(v), dir, mask).map(ix.name).toSeq)
      case None => neighborsJoin(g, v, dir, labels)
    }

  /** [[neighbors]] as a Spark scan. */
  private[graft] def neighborsJoin(g: PropertyGraph, v: String, dir: Direction.Value,
                                   labels: Seq[String]): DataFrame =
    EdgeStep(dir, labels).edgesFor(g).filter(col("src") === v)
      .select(col("dst").as("id")).distinct()

  /** Members of the ascending array `a` that the ascending array `b` holds. */
  private def intersectSorted(a: Array[Int], b: Array[Int]): Array[Int] =
    a.filter(java.util.Arrays.binarySearch(b, _) >= 0)

  /** Interned ids of the neighbors every vertex of `vs` shares, ascending. */
  private def commonNeighbors(ix: LocalAdjacency, mask: Array[Boolean], vs: Seq[String],
                              dir: Direction.Value): Array[Int] =
    vs.map(v => ix.neighborSet(ix.idOf(v), dir, mask)).reduce(intersectSorted)

  /** Common neighbors of two vertices (reference `SameNeighborTraverser:38`). */
  def sameNeighbors(g: PropertyGraph, a: String, b: String, dir: Direction.Value,
                    labels: Seq[String] = Nil): DataFrame =
    labeledIndex(g, labels) match {
      case Some((ix, mask)) =>
        localIds(g, commonNeighbors(ix, mask, Seq(a, b), dir).map(ix.name).toSeq)
      case None => sameNeighborsJoin(g, a, b, dir, labels)
    }

  /** [[sameNeighbors]] as a Spark set intersection. */
  private[graft] def sameNeighborsJoin(g: PropertyGraph, a: String, b: String,
                                       dir: Direction.Value, labels: Seq[String]): DataFrame =
    neighborsJoin(g, a, dir, labels).intersect(neighborsJoin(g, b, dir, labels))

  /** Common neighbors of N ≥ 2 vertices (reference
    * `SameNeighborTraverser.sameNeighbors:68` — iterated set intersection). */
  def sameNeighborsBatch(g: PropertyGraph, vertexIds: Seq[String],
                         dir: Direction.Value, labels: Seq[String] = Nil): DataFrame = {
    require(vertexIds.size >= 2, "vertex_list size can't be less than 2")
    labeledIndex(g, labels) match {
      case Some((ix, mask)) =>
        localIds(g, commonNeighbors(ix, mask, vertexIds, dir).map(ix.name).toSeq)
      case None => sameNeighborsBatchJoin(g, vertexIds, dir, labels)
    }
  }

  /** [[sameNeighborsBatch]] as one aggregation instead of N−1 set
    * intersections: a neighbor is common iff its distinct-source count
    * equals the number of distinct sources. */
  private[graft] def sameNeighborsBatchJoin(g: PropertyGraph, vertexIds: Seq[String],
                                            dir: Direction.Value,
                                            labels: Seq[String]): DataFrame =
    EdgeStep(dir, labels).edgesFor(g)
      .filter(col("src").isin(vertexIds: _*))
      .select(col("src"), col("dst")).distinct()
      .groupBy(col("dst").as("id")).agg(countDistinct(col("src")).as("n"))
      .filter(col("n") === vertexIds.distinct.size)
      .select(col("id"))

  /** Single shortest path WITH reconstruction, via layered parent pointers —
    * the reference's `ShortestPathRecords` machinery (SURVEY §2.12): BFS
    * layers store one deterministic (min) parent per first-visited vertex;
    * the path walks the pointers backward. The greedy min-parent walk yields
    * exactly the shortest path whose REVERSED id sequence is
    * lexicographically smallest — the property the oracle states directly.
    * Returns DF(path) with 0 or 1 row. */
  def shortestPathTrace(g: PropertyGraph, source: String, target: String,
                        dir: Direction.Value, labels: Seq[String] = Nil,
                        maxDepth: Int): DataFrame = {
    val spark = g.vertices.sparkSession
    import spark.implicits._
    if (source == target) return Seq(source).toDF("path")
    val edges = Traversals.adjacencyView(g, dir, labels)
    var visited = Seq(source).toDF("id")
    var frontier = visited
    var layers = List.empty[DataFrame] // head = deepest layer, (id, parent)
    var foundAt = -1
    var d = 0
    var cnt = 1L      // rows in `frontier` (known from last layer's stats job)
    var visitedCnt = 1L
    // driver-held frontier id set — the reference's model exactly (BFS
    // frontiers live in traverser memory, `KneighborRecords`); bounded by
    // [[frontierPushdownMaxIds]], beyond which the distributed join path
    // takes over
    var frontierIds: Option[Array[String]] = Some(Array(source))
    while (foundAt < 0 && d < maxDepth && cnt > 0) {
      d += 1
      // Expansion never scans the full adjacency for a bounded frontier:
      // the ids are pushed down as a literal `src IN (...)` predicate, and
      // the columnar cache's per-batch min/max stats (view is clustered by
      // src) skip every batch holding no frontier vertex — the Spark
      // analogue of the reference's indexed adjacency point lookups. A
      // frontier past the cap falls back to a broadcast-hash join (both
      // row counts are driver-known, so the decision is exact); past THAT
      // cap the frontier is |V|-scale and the shuffle join is right.
      val expanded = frontierIds match {
        case Some(ids) => edges.filter(col("src").isin(ids.toIndexedSeq: _*))
        case None => maybeBroadcast(frontier.select(col("id").as("src")), cnt)
          .join(edges, Seq("src"))
      }
      val next = expanded
        .select(col("dst").as("id"), col("src").as("parent"))
        .join(maybeBroadcast(visited, visitedCnt), Seq("id"), "left_anti")
        .groupBy(col("id")).agg(min(col("parent")).as("parent"))
        .localCheckpoint(true)
      layers ::= next
      frontier = next.select(col("id"))
      visited = visited.union(frontier)
      // one tiny job per layer against the materialized checkpoint: pull
      // the frontier ids (early-terminated at cap+1) — count, target-hit,
      // and the next pushdown list all come from the same array
      val pulled = next.select(col("id"))
        .limit(frontierPushdownMaxIds + 1).as[String].collect()
      if (pulled.length <= frontierPushdownMaxIds) {
        frontierIds = Some(pulled)
        cnt = pulled.length.toLong
        if (pulled.contains(target)) foundAt = d
      } else {
        frontierIds = None
        val stats = next.agg(count(lit(1)),
          max(when(col("id") === target, 1)).as("hit")).head()
        cnt = stats.getLong(0)
        if (!stats.isNullAt(1)) foundAt = d
      }
      visitedCnt += cnt
    }
    if (foundAt < 0) return Seq.empty[String].toDF("path")
    // backward walk as ONE lazy chain of single-row broadcast joins against
    // the checkpointed layers (head = deepest): each id stores exactly one
    // min-parent, so every join step keeps exactly one row. No per-layer
    // driver action — the whole reconstruction is a single job at the
    // consumer's action (foundAt ≤ maxDepth joins over 1-row frames).
    val walk0 = layers.head.filter(col("id") === target)
      .select(col("parent").as("cur"),
        concat_ws("->", col("parent"), col("id")).as("p"))
    val walk = layers.tail.foldLeft(walk0)((w, l) =>
      broadcast(w).join(l.withColumnRenamed("id", "cur"), Seq("cur"))
        .select(col("parent").as("cur"), concat_ws("->", col("parent"), col("p")).as("p")))
    walk.select(col("p").as("path"))
  }

  /** One local row `name` = `round(x, 9)`. */
  private def localScore(g: PropertyGraph, name: String, x: Double): DataFrame = {
    val spark = g.vertices.sparkSession
    import spark.implicits._
    Seq(x).toDF(name).select(round(col(name), 9).as(name))
  }

  /** |N(a)∩N(b)| / |N(a)∪N(b)| (reference `JaccardSimilarTraverser:48`). */
  def jaccardSimilarity(g: PropertyGraph, a: String, b: String, dir: Direction.Value,
                        labels: Seq[String] = Nil): DataFrame =
    labeledIndex(g, labels) match {
      case Some((ix, mask)) =>
        val na = ix.neighborSet(ix.idOf(a), dir, mask)
        val nb = ix.neighborSet(ix.idOf(b), dir, mask)
        val inter = intersectSorted(na, nb).length
        val uni = na.length + nb.length - inter
        localScore(g, "similarity", if (uni > 0) inter.toDouble / uni else 0.0)
      case None => jaccardSimilarityJoin(g, a, b, dir, labels)
    }

  /** [[jaccardSimilarity]] as one distributed aggregation — side-tag the two
    * neighbor sets, dedup by vertex, count both/any — instead of two driver
    * count() actions. */
  private[graft] def jaccardSimilarityJoin(g: PropertyGraph, a: String, b: String,
                                           dir: Direction.Value,
                                           labels: Seq[String]): DataFrame = {
    val na = neighborsJoin(g, a, dir, labels).select(col("id"), lit(1).as("sa"), lit(0).as("sb"))
    val nb = neighborsJoin(g, b, dir, labels).select(col("id"), lit(0).as("sa"), lit(1).as("sb"))
    na.unionByName(nb)
      .groupBy(col("id")).agg(max(col("sa")).as("sa"), max(col("sb")).as("sb"))
      .agg(coalesce(sum(col("sa") * col("sb")), lit(0L)).cast("double").as("inter"),
        count(lit(1)).cast("double").as("uni"))
      .select(round(when(col("uni") > 0, col("inter") / col("uni"))
        .otherwise(lit(0.0)), 9).as("similarity"))
  }

  /** Common-neighbor link-prediction scores
    * (reference `PredictionTraverser.adamicAdar:36` / `resourceAllocation:53`):
    * Σ over common neighbors z of `inv(deg z)`, where deg is the
    * BOTH-direction edge count of z restricted to `labels` — on the index,
    * z's OUT plus transposed IN edges under the label mask. `inv` and
    * `invCol` are the same function on the driver and in Spark. */
  private def predictionScore(g: PropertyGraph, a: String, b: String,
                              dir: Direction.Value, labels: Seq[String],
                              inv: Long => Double, invCol: Column => Column): DataFrame =
    labeledIndex(g, labels) match {
      case Some((ix, mask)) =>
        localScore(g, "score", commonNeighbors(ix, mask, Seq(a, b), dir)
          .map(z => inv(ix.degree(z, Direction.BOTH, mask).toLong)).sum)
      case None => predictionScoreJoin(g, a, b, dir, labels, invCol)
    }

  /** [[predictionScore]] joining the common neighbors to a full degree
    * aggregation. */
  private def predictionScoreJoin(g: PropertyGraph, a: String, b: String,
                                  dir: Direction.Value, labels: Seq[String],
                                  inv: Column => Column): DataFrame = {
    val common = sameNeighborsJoin(g, a, b, dir, labels)
    val deg = g.adjacency(Direction.BOTH, labels)
      .groupBy(col("src").as("id")).agg(count(lit(1)).as("deg"))
    common.join(deg, Seq("id"))
      .agg(round(coalesce(sum(inv(col("deg"))), lit(0.0)), 9).as("score"))
  }

  /** Adamic-Adar's term; a degree-1 common neighbor (only when a = b) scores
    * 1/ln 1 = +∞ as in the reference, where ANSI division would throw. Spark's
    * `log` is `StrictMath.log`. */
  private val adamicTerm: Long => Double = d => 1.0 / StrictMath.log(d.toDouble)
  private val adamicTermCol: Column => Column =
    d => when(d > 1, lit(1.0) / log(d)).otherwise(lit(Double.PositiveInfinity))

  def adamicAdar(g: PropertyGraph, a: String, b: String,
                 dir: Direction.Value = Direction.BOTH, labels: Seq[String] = Nil): DataFrame =
    predictionScore(g, a, b, dir, labels, adamicTerm, adamicTermCol)

  /** [[adamicAdar]] joined against a full degree aggregation. */
  private[graft] def adamicAdarJoin(g: PropertyGraph, a: String, b: String,
                                    dir: Direction.Value, labels: Seq[String]): DataFrame =
    predictionScoreJoin(g, a, b, dir, labels, adamicTermCol)

  def resourceAllocation(g: PropertyGraph, a: String, b: String,
                         dir: Direction.Value = Direction.BOTH, labels: Seq[String] = Nil): DataFrame =
    predictionScore(g, a, b, dir, labels, d => 1.0 / d, d => lit(1.0) / d)

  /** [[resourceAllocation]] joined against a full degree aggregation. */
  private[graft] def resourceAllocationJoin(g: PropertyGraph, a: String, b: String,
                                            dir: Direction.Value,
                                            labels: Seq[String]): DataFrame =
    predictionScoreJoin(g, a, b, dir, labels, d => lit(1.0) / d)

  /** Unweighted shortest-path distance via bidirectional BFS — alternating
    * expansion of the smaller frontier with a meet join per round (reference
    * `ShortestPathTraverser.forward:179/backward:225`). Returns DF(dist)
    * (single row; empty if unreachable within maxDepth). */
  def shortestPathDist(g: PropertyGraph, source: String, target: String,
                       dir: Direction.Value, labels: Seq[String] = Nil,
                       maxDepth: Int): DataFrame = {
    val spark = g.vertices.sparkSession
    import spark.implicits._
    if (source == target) return Seq(0L).toDF("dist")
    LocalAdjacency.of(adjacencyView(g, dir, labels)) match {
      case Some(ix) =>
        // plain BFS: the first layer holding the target is the distance the
        // bidirectional meet finds
        val t = ix.idOf(target)
        var found = -1L
        if (t >= 0) ix.layers(source, maxDepth) { (d, layer, _) =>
          if (layer.contains(t)) found = d
          found < 0
        }
        if (found >= 0) Seq(found).toDF("dist") else Seq.empty[Long].toDF("dist")
      case None => shortestPathDistJoin(g, source, target, dir, labels, maxDepth)
    }
  }

  /** [[shortestPathDist]]'s Spark-join loop (source ≠ target). */
  private[graft] def shortestPathDistJoin(g: PropertyGraph, source: String, target: String,
                                          dir: Direction.Value, labels: Seq[String],
                                          maxDepth: Int): DataFrame = {
    val spark = g.vertices.sparkSession
    import spark.implicits._
    val fwdEdges = Traversals.adjacencyView(g, dir, labels)
    val revDir = dir match {
      case Direction.OUT  => Direction.IN
      case Direction.IN   => Direction.OUT
      case Direction.BOTH => Direction.BOTH
    }
    val bwdEdges =
      if (dir == Direction.BOTH) fwdEdges // symmetric: reuse the pinned view
      else Traversals.adjacencyView(g, revDir, labels)

    var fwd = Seq(source).toDF("id"); var fwdSeen = fwd; var fwdDepth = 0
    var bwd = Seq(target).toDF("id"); var bwdSeen = bwd; var bwdDepth = 0
    var found = -1L
    var fwdCnt = 1L; var bwdCnt = 1L
    while (found < 0 && fwdDepth + bwdDepth < maxDepth && fwdCnt > 0 && bwdCnt > 0) {
      // frontier IN-list pushdown (counts are driver-known): each layer
      // decodes only the cached columnar batches whose src min/max stats
      // overlap the frontier — O(touched batches) per layer, not O(|E|)
      if (fwdCnt <= bwdCnt) {
        fwd = expand(fwd, pruneForFrontier(fwdEdges, fwd, knownRows = fwdCnt))
          .distinct().join(fwdSeen, Seq("id"), "left_anti")
          .localCheckpoint(true)
        fwdSeen = fwdSeen.union(fwd); fwdDepth += 1; fwdCnt = fwd.count()
      } else {
        bwd = expand(bwd, pruneForFrontier(bwdEdges, bwd, knownRows = bwdCnt))
          .distinct().join(bwdSeen, Seq("id"), "left_anti")
          .localCheckpoint(true)
        bwdSeen = bwdSeen.union(bwd); bwdDepth += 1; bwdCnt = bwd.count()
      }
      // meet: smallest combined depth at which the frontiers intersect
      if (fwd.join(bwd, Seq("id"), "left_semi").limit(1).count() > 0)
        found = fwdDepth + bwdDepth
    }
    if (found >= 0) Seq(found).toDF("dist") else Seq.empty[Long].toDF("dist")
  }

  /** All simple-vertex paths source→target up to maxDepth hops, as
    * '->'-joined id strings (reference `PathsTraverser.paths:38`; vertex
    * paths — parallel multi-edges collapse). Cycles are excluded the way the
    * reference's Path.contains check does. The one-source, one-target case
    * of [[PathTraversals.collectionPaths]]. */
  def paths(g: PropertyGraph, source: String, target: String, dir: Direction.Value,
            labels: Seq[String] = Nil, maxDepth: Int): DataFrame =
    PathTraversals.collectionPaths(g, Seq(source), Seq(target), dir, labels, maxDepth)

  /** Multi-step reachability count (reference `CountTraverser.count:47`) —
    * edge-path count without dedup: one count per distinct walk. */
  def countWalks(g: PropertyGraph, source: String, steps: Seq[EdgeStep]): DataFrame = {
    val spark = g.vertices.sparkSession
    import spark.implicits._
    var frontier = Seq(source).toDF("id")
    steps.foreach { st =>
      val e = st.edgesFor(g).select(col("src"), col("dst"))
      frontier = frontier.select(col("id").as("src")).join(e, Seq("src"))
        .select(col("dst").as("id"))
    }
    frontier.agg(count(lit(1)).as("n"))
  }

  /** Edges between two given vertices (reference `EdgeExistenceTraverser`).
    * The label filter routes through the schema's father/sub mapping so a
    * SUB edge label resolves on father-stored frames (label = father,
    * sub_label = sub) exactly like adjacency routing does. */
  def edgeExistence(g: PropertyGraph, source: String, target: String,
                    label: Option[String] = None): DataFrame = {
    var e = g.edges.filter(col("src") === source && col("dst") === target)
    label.foreach(l => e = e.filter(
      g.schema.edgeLabelCond(Seq(l), g.edges.columns.contains("sub_label"))))
    e.select(col("src"), col("dst"), col("label"), col("sort_values"))
  }

  /** PersonalRank — random walk with restart on a bipartite edge label,
    * math copied exactly from reference `PersonalRankTraverser.java:49-140`:
    *  - ranks start {source → 1.0}; seeds alternate walk direction per side;
    *  - each iteration EVERY ranked vertex distributes α·rank/deg along its
    *    side's direction (multi-edges count: contributions are per edge);
    *  - vertices with no out-going side edges keep their rank;
    *  - the root is compensated with +(1-α) every iteration;
    *  - after maxDepth iterations, the root and its depth-1 adjacencies are
    *    removed (`rootAdjacencies`), mirroring compensateRoot/removeAll;
    *  - `withLabel` slices the result to the root's side (SAME_LABEL), the
    *    opposite side (OTHER_LABEL) or both (reference
    *    `PersonalRankTraverser.java:50,81-86,164-168`: the out/in seed sets
    *    ARE the two vertex-label sides of the bipartite edge label —
    *    `getStartDirection:139-156` enforces the two endpoint labels
    *    differ — so a vertex-label equality filter is the set-free twin);
    *    a source that is no vertex has no side, and answers empty;
    *  - `maxDepth` < 1 answers empty: only the root holds rank, and the root
    *    is removed.
    * Returns DF(id, rank) rounded to 9 decimals. */
  object WithLabel extends Enumeration {
    val SameLabel, OtherLabel, BothLabel = Value
  }

  def personalRank(g: PropertyGraph, source: String, label: String,
                   alpha: Double, maxDepth: Int,
                   withLabel: WithLabel.Value = WithLabel.BothLabel): DataFrame =
    labeledIndex(g, Seq(label)) match {
      case Some((ix, mask)) =>
        val spark = g.vertices.sparkSession
        import spark.implicits._
        val ranks = personalRankLocal(ix, mask, source, alpha, maxDepth)
        val sliced = if (withLabel == WithLabel.BothLabel || ranks.isEmpty) ranks else {
          // the vertex labels of the root and the ranked ids: one small job
          val side = g.vertices.join(broadcast((source +: ranks.map(_._1)).toDF("id")), Seq("id"))
            .select(col("id"), col("label")).as[(String, String)].collect().toMap
          side.get(source).fold(Seq.empty[(String, Double)]) { root =>
            ranks.filter(r => side.get(r._1).contains(root) == (withLabel == WithLabel.SameLabel))
          }
        }
        sliced.toDF("id", "rank").select(col("id"), round(col("rank"), 9).as("rank"))
      case None => personalRankJoin(g, source, label, alpha, maxDepth, withLabel)
    }

  /** [[personalRankJoin]]'s rounds on the driver index: every ranked vertex
    * pushes `rank * alpha / deg` along each of its BOTH `label` edges (OUT,
    * then transposed IN), one push per parallel edge; a vertex with no such
    * edge keeps its rank; the root gains `1 - alpha`. Each vertex's pushes
    * add up with Neumaier's compensated sum, so the total does not depend on
    * their order. Returns the unrounded (id, rank) rows without the root and
    * the vertices its first round reached. */
  private def personalRankLocal(ix: LocalAdjacency, mask: Array[Boolean], source: String,
                                alpha: Double, maxDepth: Int): Seq[(String, Double)] = {
    val s = ix.idOf(source)
    if (s < 0 || maxDepth < 1) return Nil // only the root holds rank
    val n = ix.vertexCount
    val sum = new Array[Double](n)
    val comp = new Array[Double](n)
    var ranked = Array(s)
    var rank = Array(1.0)
    var rootAdj: java.util.BitSet = null
    for (i <- 0 until maxDepth) {
      val touched = new java.util.BitSet(n)
      val next = Array.newBuilder[Int]
      def add(v: Int, x: Double): Unit = {
        if (!touched.get(v)) { touched.set(v); next += v; sum(v) = 0.0; comp(v) = 0.0 }
        val t = sum(v) + x
        comp(v) += (if (math.abs(sum(v)) >= math.abs(x)) (sum(v) - t) + x else (x - t) + sum(v))
        sum(v) = t
      }
      for (k <- ranked.indices) {
        val deg = ix.degree(ranked(k), Direction.BOTH, mask)
        if (deg == 0) add(ranked(k), rank(k))
        else {
          val push = rank(k) * alpha / deg
          ix.foreachEdge(ranked(k), Direction.BOTH, mask)(add(_, push))
        }
      }
      add(s, 1.0 - alpha)
      ranked = next.result()
      rank = ranked.map(v => sum(v) + comp(v))
      if (i == 0) rootAdj = touched
    }
    ranked.indices.filterNot(k => rootAdj.get(ranked(k)))
      .map(k => (ix.name(ranked(k)), rank(k)))
  }

  /** [[personalRank]]'s Spark rounds. */
  private[graft] def personalRankJoin(g: PropertyGraph, source: String, label: String,
                                      alpha: Double, maxDepth: Int,
                                      withLabel: WithLabel.Value): DataFrame = {
    val spark = g.vertices.sparkSession
    import spark.implicits._
    if (maxDepth < 1) return Seq.empty[(String, Double)].toDF("id", "rank")
    // directed edges of the bipartite label, kept once; "forward" = src side
    val fwd = g.outEdges.filter(col("label") === label).select(col("src"), col("dst"))
    val bwd = fwd.select(col("dst").as("src"), col("src").as("dst"))
    val walk = pinned(fwd.select(col("src"), col("dst"))
      .unionByName(bwd)) // every vertex walks along its own side's direction
    val deg = pinned(walk.groupBy(col("src").as("id")).agg(count(lit(1)).as("deg")))

    var ranks = Seq((source, 1.0)).toDF("id", "rank")
    var rootAdj: DataFrame = null
    for (i <- 0 until maxDepth) {
      val withDeg = ranks.join(deg, Seq("id"), "left")
      // single flat aggregation per round (one shuffle): per-edge pushes,
      // no-out-edge keeps, and the root compensation all sum in one groupBy
      val contribs = withDeg.filter(col("deg").isNotNull)
        .join(walk.withColumnRenamed("src", "id"), Seq("id"))
        .select(col("dst").as("id"), (col("rank") * alpha / col("deg")).as("rank"))
      val kept = withDeg.filter(col("deg").isNull).select(col("id"), col("rank"))
      val rootRow = Seq((source, 1.0 - alpha)).toDF("id", "rank")
      ranks = contribs.unionByName(kept).unionByName(rootRow)
        .groupBy(col("id")).agg(sum(col("rank")).as("rank"))
        // lazy cut: the round frame is materialized once on first use (the
        // next round or the final action) — no per-round sync barrier
        .localCheckpoint(false)
      if (i == 0) rootAdj = ranks.select(col("id"))
    }
    val out = ranks.join(rootAdj, Seq("id"), "left_anti")
    val sliced = withLabel match {
      case WithLabel.BothLabel => out
      case side =>
        // root's vertex label picks the SAME side; the bipartite contract
        // means the other side is exactly the complement (left_anti)
        g.vertices.filter(col("id") === source).select(col("label")).as[String]
          .take(1).headOption match {
          case None => out.limit(0)
          case Some(rootLabel) =>
            val sameSide = g.verticesOf(rootLabel).select(col("id"))
            if (side == WithLabel.SameLabel) out.join(sameSide, Seq("id"), "left_semi")
            else out.join(sameSide, Seq("id"), "left_anti")
        }
    }
    sliced.select(col("id"), round(col("rank"), 9).as("rank"))
  }
}
