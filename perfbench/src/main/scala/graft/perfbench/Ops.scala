package graft.perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.api.{CypherLite, GremlinLite}
import graft.core.{Direction, PropertyGraph, TpchGraph, Tables}
import graft.traverse.{PathTraversals, Traversals}

/** Executes the workload's ops through the engine's public entry points,
  * timing each and keeping its answer for the check. */
final class Ops(spark: SparkSession, c: Main.Conf, tracer: Tracer) {
  private val sc = spark.sparkContext
  private val t0 = System.nanoTime()
  private lazy val registry = graft.SparkEntry.queries
  private def base: PropertyGraph = TpchGraph.cached(spark, c.data)

  /** The three fixed host-drift probes of `graft.Bench` (same bodies): a
    * columnar scan, one wide shuffle and a fixed-round driver loop. */
  def controls(): Map[String, Double] = {
    def timed(name: String)(body: => Unit): (String, Double) = {
      if (tracer != null) tracer.setOp(s"control.$name")
      val s = System.nanoTime(); body
      name -> (System.nanoTime() - s) / 1e9
    }
    Seq(
      timed("ctl_scan") {
        Tables.lineitem(spark, c.data)
          .agg(sum(col("l_quantity")), sum(col("l_extendedprice"))).collect()
      },
      timed("ctl_shuffle") {
        Tables.lineitem(spark, c.data)
          .groupBy(col("l_partkey")).agg(sum(col("l_quantity")).as("s"))
          .agg(count(lit(1)), sum(col("s"))).collect()
      },
      timed("ctl_loop") {
        var i = 0
        while (i < 8) { spark.range(1000000L).selectExpr("sum(id)").collect(); i += 1 }
      }).toMap
  }

  /** Times one call: `build` returns the answer's DataFrame (the time until
    * then is the frontend's lowering time for text ops), which is then
    * collected. Memo hygiene: the persisted relations the call leaves
    * behind, still held after it returns (by `Pin` or an engine memo), are
    * counted as `views_added`. */
  private def run(r: OpRecord)(build: => DataFrame): OpRecord = {
    if (tracer != null) tracer.setOp(r.id)
    val before = if (tracer != null) sc.getPersistentRDDs.keySet else Set.empty[Int]
    val s = System.nanoTime()
    r.startS = (s - t0) / 1e9
    try answer(r, s, build) catch {
      case e: Throwable if !e.isInstanceOf[VirtualMachineError] ||
          e.isInstanceOf[StackOverflowError] =>
        r.error = s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}"
    }
    val e = System.nanoTime()
    r.wallS = (e - s) / 1e9
    if (tracer != null) {
      r.viewsAdded = (Ops.livePersisted(sc) -- before).size
      val name = s"${r.api}.${r.op}"
      tracer.span(r.id, name, "", s, e)
      if (r.buildEndMs != Long.MinValue)
        tracer.span(r.id, s"$name.build", name, s, s + (r.buildS * 1e9).toLong)
      tracer.setOp("")
    }
    r
  }

  /** Builds and collects the answer in a frame of its own, so that no
    * reference to the answer's plan outlives the call. */
  private def answer(r: OpRecord, s: Long, build: => DataFrame): Unit = {
    val df = build
    if (r.buildEndMs == Long.MinValue) {
      r.buildS = (System.nanoTime() - s) / 1e9
      r.buildEndMs = System.currentTimeMillis()
    }
    val (cols, rows) = Rows.of(df)
    r.columns = cols; r.rows = rows
  }

  def registryOp(id: String, name: String): OpRecord = {
    val r = new OpRecord(id, name, "read", "registry", name, Map.empty)
    run(r)(registry(name)(spark, c.data))
  }

  /** Closed loop, one client: sends the next request when the previous one
    * has answered. Requests come in cycles of a fixed mix. The loop serves
    * whole cycles, at least one, and starts another only if one more cycle
    * as long as the last still ends within `seconds`, so that runs on a
    * host whose cycle takes about `seconds` do not split between one cycle
    * and two. */
  def requestLoop(reqs: Seq[Map[String, Any]], seconds: Double): Seq[OpRecord] = {
    val start = System.nanoTime()
    def elapsed = (System.nanoTime() - start) / 1e9
    val out = scala.collection.mutable.ArrayBuffer[OpRecord]()
    var cycle: Any = null
    var cycleStart = 0.0
    /** at a cycle boundary: whether the next cycle is served */
    def nextCycle(): Boolean = {
      val t = elapsed
      val last = t - cycleStart
      cycleStart = t
      cycle == null || t + last <= seconds
    }
    val it = reqs.iterator.buffered
    while (it.hasNext && (it.head("cycle") == cycle || nextCycle())) {
      val q = it.next()
      cycle = q("cycle")
      out += request(q)
    }
    out.toSeq
  }

  def request(q: Map[String, Any]): OpRecord = {
    val p = q("params").asInstanceOf[java.util.Map[String, Any]]
    def s(k: String): String = String.valueOf(p.get(k))
    def d(k: String): Double = p.get(k).asInstanceOf[Number].doubleValue
    val r = new OpRecord(q("id").toString, q("op").toString, q("kind").toString,
      q("api").toString, Option(q.getOrElse("registry", null)).map(_.toString).orNull,
      p.asScala.toMap)
    val g = base
    def cypher(text: String) = CypherLite.eval(g, text)
    def gremlin(text: String) = GremlinLite.eval(g, text)
    /** write, then read back through the same frontend; the write's own
      * lowering time is the op's build time */
    def write(w: => PropertyGraph)(readBack: PropertyGraph => DataFrame): DataFrame = {
      val ws = System.nanoTime()
      val g1 = w
      r.buildS = (System.nanoTime() - ws) / 1e9
      r.buildEndMs = System.currentTimeMillis()
      readBack(g1)
    }
    run(r) {
      r.op match {
        case "kneighbor" =>
          Traversals.kneighbor(g, s("a"), Direction.OUT, Nil, maxDepth = 3)
        case "kout_nearest" =>
          Traversals.koutNearest(g, s("a"), Direction.OUT, Nil, depth = 2)
        case "shortest_path" =>
          Traversals.shortestPathDist(g, s("a"), s("b"), Direction.BOTH, Nil, maxDepth = 4)
        case "same_neighbors" =>
          Traversals.sameNeighbors(g, s("a"), s("b"), Direction.OUT, Seq("contains"))
        case "jaccard" =>
          Traversals.jaccardSimilarity(g, s("a"), s("b"), Direction.OUT, Seq("contains"))
        case "personal_rank" =>
          Traversals.personalRank(g, s("a"), "contains", alpha = 0.85, maxDepth = 2)
        case "rings" =>
          PathTraversals.rings(g, s("a"), Direction.BOTH, Nil, maxDepth = 4)
        case "all_shortest_paths" =>
          PathTraversals.allShortestPaths(g, s("a"), s("b"), Direction.BOTH, Nil, maxDepth = 3)
        case "weighted_sssp" =>
          PathTraversals.weightedSssp(g, s("a"), Direction.BOTH, Nil,
            weightCol = "quantity", rounds = 4)
        case "cypher_shortestpath" =>
          cypher("MATCH p = shortestPath((c:customer)-[*..3]-(s:supplier)) " +
            s"WHERE c.name = '${s("name")}' RETURN length(p) AS len, count(*) AS n_sup")
        case "cypher_allshortest" =>
          cypher("MATCH p = allShortestPaths((c:customer)-[*..3]-(s:supplier)) " +
            s"WHERE c.name = '${s("name")}' " +
            "RETURN s AS sup, length(p) AS len, count(*) AS n_paths")
        case "gremlin_repeat" =>
          gremlin(s"g.V('${s("a")}').repeat(out()).times(2).dedup().id()")
        case "gremlin_repeat_emit" =>
          gremlin(s"g.V('${s("a")}').repeat(out()).emit().times(2).groupCount('label')")
        case "cypher_create" => write(CypherLite.evalWrite(g,
          s"CREATE (v:customer {id: '${s("id")}', name: '${s("name")}', " +
            s"acctbal: ${d("bal")}, mktsegment: '${s("seg")}'})")) { g1 =>
          CypherLite.eval(g1, s"MATCH (c:customer) WHERE c.mktsegment = '${s("seg")}' " +
            "RETURN c.name AS name, c.acctbal AS bal")
        }
        case "cypher_merge" => write(CypherLite.evalWrite(g,
          s"MERGE (v:customer {id: '${s("id")}', name: '${s("name")}', " +
            s"mktsegment: '${s("seg")}'})")) { g1 =>
          CypherLite.eval(g1, s"MATCH (c:customer) WHERE c.mktsegment = '${s("seg")}' " +
            "RETURN c.name AS name")
        }
        case "cypher_set" => write(CypherLite.evalWrite(g,
          s"MATCH (c:customer) WHERE c.name = '${s("name")}' " +
            s"SET c.mktsegment = '${s("seg")}'")) { g1 =>
          CypherLite.eval(g1, s"MATCH (c:customer) WHERE c.mktsegment = '${s("seg")}' " +
            "RETURN c.name AS name")
        }
        case "cypher_delete" => write(CypherLite.evalWrite(g,
          s"MATCH (s:supplier) WHERE s.name = '${s("name")}' DETACH DELETE s")) { g1 =>
          CypherLite.eval(g1, "MATCH (s:supplier)-[:in_nation]->(n:nation) " +
            s"WHERE n.name = '${s("nation")}' RETURN count(*) AS n_sup")
        }
        case "gremlin_addv" => write(GremlinLite.evalWrite(g,
          s"g.addV('customer').property('id', '${s("id")}')" +
            s".property('name', '${s("name")}').property('acctbal', ${d("bal")})" +
            s".property('mktsegment', '${s("seg")}')")) { g1 =>
          GremlinLite.eval(g1, s"g.V().hasLabel('customer').has('mktsegment', '${s("seg")}')" +
            ".project('name', 'acctbal')")
        }
        case "gremlin_adde" => write(GremlinLite.evalWrite(g,
          s"g.addE('supplied_by').from(V('${s("a")}')).to('${s("b")}')" +
            s".property('quantity', ${d("qty").toLong})")) { g1 =>
          GremlinLite.eval(g1, s"g.V('${s("a")}').outE('supplied_by').values('quantity')")
        }
        case "gremlin_property_update" => write(GremlinLite.evalWrite(g,
          s"g.V().hasLabel('customer').has('name', '${s("name")}')" +
            s".property('mktsegment', '${s("seg")}')")) { g1 =>
          GremlinLite.eval(g1, s"g.V().hasLabel('customer').has('mktsegment', '${s("seg")}')" +
            ".project('name', 'acctbal')")
        }
        case other => sys.error(s"unknown request op $other")
      }
    }
  }
}

object Ops {
  /** Ids of the persisted RDDs something still holds. Spark tracks
    * persisted RDDs through weak references, so an RDD that is no longer
    * reachable (the engine's per-round `localCheckpoint` lineage cuts) stays
    * listed until a garbage collection clears it; a full collection first
    * makes the set independent of when the collector last ran. What remains
    * is what `Pin` (the SQL cache) and the engine's memos hold. */
  def livePersisted(sc: SparkContext): Set[Int] = {
    System.gc()
    sc.getPersistentRDDs.keySet.toSet
  }

  /** Storage memory and disk of the persisted RDDs something still holds,
    * MB (`getRDDStorageInfo` lists the same weakly held RDDs). */
  def liveStorageMb(sc: SparkContext): Double = {
    System.gc()
    sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / 1048576.0
  }
}
