package graft.olap

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.Superstep
import graft.core.Superstep.Step

/** Betweenness / stress centrality via a DataFrame Brandes sweep
  * (reference `cent/BetweennessCentralityAlgorithmV2.java:47`,
  * `StressCentralityAlgorithmV2.java:47`, both built on the BFS-with-parents
  * kernel `BfsTraverser`).
  *
  * Forward phase: multi-source BFS layers carrying σ (shortest-path counts)
  * per (root, vertex). Backward phase: dependency accumulation layer by
  * layer. All roots are swept in ONE dataflow (the root rides as a key
  * column) — the reference samples roots and loops; here sampling is just a
  * filter on the roots DataFrame, and each layer is one join+groupBy at any
  * number of roots.
  */
object Centrality {

  /** (root, id, dist, sigma): BFS layers with path counting. The graph is
    * undirected, so a neighbor of a depth-d vertex has depth d-1, d or d+1:
    * first visits are decided against layers d-1 ∪ d alone (the
    * [[Algorithms.multiSourceBfsAdj]] two-layer guard), not against every
    * layer so far. */
  def bfsWithSigma(roots: DataFrame, undirectedEdges: DataFrame, maxDepth: Int): DataFrame = {
    val adj = graft.core.Pin.pin(undirectedEdges.select(col("src"), col("dst"))
      .union(undirectedEdges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct())
    val l0 = roots.select(col("id").as("root"), col("id"),
      lit(0L).as("dist"), lit(1L).as("sigma")).localCheckpoint(true)
    // state: (layers, layer d-1, layer d); each layer's count drains the loop
    Superstep.run((List(l0), l0, l0), maxDepth) { case ((layers, prev, frontier), round) =>
      val guard = prev.select(col("root"), col("id"))
        .union(frontier.select(col("root"), col("id")))
      val expanded = round.cut(frontier.select(col("root"), col("id").as("src"), col("sigma"))
        .join(adj, Seq("src"))
        .select(col("root"), col("dst").as("id"), col("sigma"))
        .join(guard, Seq("root", "id"), "left_anti")
        .groupBy(col("root"), col("id"))
        .agg(sum(col("sigma")).as("sigma"))
        .withColumn("dist", lit(round.index.toLong))
        .select(col("root"), col("id"), col("dist"), col("sigma")))
      Step((expanded :: layers, frontier, expanded), drain = Some(expanded))
    }.state._1.reduce(_ union _)
  }

  /** Brandes dependency accumulation. Returns (id, betweenness, stress) for
    * UNDIRECTED graphs; each unordered pair is swept from both endpoints, so
    * the conventional /2 halving is applied to betweenness and the raw
    * σ-count of paths through v is reported as stress. */
  def betweennessStress(roots: DataFrame, undirectedEdges: DataFrame,
                        maxDepth: Int): DataFrame = {
    val adj = graft.core.Pin.pin(undirectedEdges.select(col("src"), col("dst"))
      .union(undirectedEdges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct())
    val layers = bfsWithSigma(roots, undirectedEdges, maxDepth).localCheckpoint(true)
    val maxDist = layers.agg(max(col("dist"))).head().getLong(0)

    // Accumulated from the deepest layer inward:
    //  delta(v) += sigma(v)/sigma(w)·(1+delta(w))   — betweenness dependency
    //  P(v)     += P(w) + 1                          — # shortest v→t paths
    // Stress(v) = Σ_roots sigma(root,v)·P(root,v): σ_st(v) = σ_sv·σ_vt and
    // Σ_t σ_vt in the BFS DAG is exactly P(v).
    val delta0 = layers.select(col("root"), col("id"), lit(0.0).as("delta"),
      lit(0L).as("pbelow"))
    val delta = Superstep.run(delta0, maxDist.toInt) { (delta, round) =>
      val dd = maxDist - round.index + 1
      val wLayer = layers.filter(col("dist") === dd)
        .join(delta.select(col("root"), col("id"), col("delta"), col("pbelow")),
          Seq("root", "id"))
        .select(col("root"), col("id").as("w"), col("sigma").as("sigma_w"),
          col("delta").as("delta_w"), col("pbelow").as("p_w"))
      // predecessors: v adjacent to w with dist(v) = dist(w)-1
      val preds = wLayer
        .join(adj.withColumnRenamed("src", "w").withColumnRenamed("dst", "v"), Seq("w"))
        .join(layers.filter(col("dist") === dd - 1)
            .select(col("root"), col("id").as("v"), col("sigma").as("sigma_v")),
          Seq("root", "v"))
      val contrib = preds.groupBy(col("root"), col("v").as("id"))
        .agg(
          sum(col("sigma_v").cast("double") / col("sigma_w") *
            (lit(1.0) + col("delta_w"))).as("dinc"),
          sum(col("p_w") + 1L).as("pinc"))
      Step(round.cut(delta.join(contrib, Seq("root", "id"), "left")
        .select(col("root"), col("id"),
          (col("delta") + coalesce(col("dinc"), lit(0.0))).as("delta"),
          (col("pbelow") + coalesce(col("pinc"), lit(0L))).as("pbelow"))))
    }.state
    delta.filter(col("id") =!= col("root"))
      .join(layers.select(col("root"), col("id"), col("sigma")), Seq("root", "id"))
      .groupBy(col("id"))
      .agg(round(sum(col("delta")) / 2.0, 9).as("betweenness"),
        (sum(col("sigma") * col("pbelow")) / 2).cast("long").as("stress"))
  }
}
