package graft.olap

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Louvain-style modularity community detection (reference
  * `comm/LouvainAlgorithm.java:52` + `LouvainTraverser.java` — SURVEY's
  * hardest OLAP item).
  *
  * Deterministic synchronous variant: every local-move round evaluates ALL
  * vertices at once (one join+groupBy dataflow), each vertex picks the
  * neighbor community with the best modularity gain
  * ΔQ ∝ w(v→C) − k_v·Σtot(C\v)/(2m), ties broken by smallest community id.
  * After `localRounds` rounds the graph is coarsened (communities become
  * vertices, parallel edges sum their weights) and the process repeats.
  * The reference iterates vertices sequentially with arbitrary order —
  * results there depend on iteration order; the synchronous variant is
  * reproducible, which the correctness gate requires.
  */
object Louvain {

  /** Modularity Q of an assignment over the ORIGINAL canonical edge set:
    * Q = W_int/m − Σ_C (tot_C / 2m)², unit edge weights (reference
    * `LouvainTraverser.modularity`; the `show_modularity` reporting knob of
    * `comm/LouvainAlgorithm.java:52`). */
  def modularity(assignment: DataFrame, undirectedEdges: DataFrame): Double = {
    val e = undirectedEdges.select(col("src"), col("dst"), lit(1.0).as("w"))
    val mRow = e.agg(sum(col("w"))).head()
    if (mRow.isNullAt(0) || mRow.getDouble(0) == 0.0) return 0.0
    val m = mRow.getDouble(0)
    val sym = e.union(e.select(col("dst").as("src"), col("src").as("dst"), col("w")))
    val k = sym.groupBy(col("src").as("id")).agg(sum(col("w")).as("k"))
    val totSq = assignment.join(k, Seq("id"))
      .groupBy(col("community")).agg(sum(col("k")).as("tot"))
      .agg(sum(col("tot") * col("tot"))).head().getDouble(0)
    val internal = e
      .join(assignment.select(col("id").as("src"), col("community").as("cs")), Seq("src"))
      .join(assignment.select(col("id").as("dst"), col("community").as("cd")), Seq("dst"))
      .filter(col("cs") === col("cd"))
      .agg(coalesce(sum(col("w")), lit(0.0))).head().getDouble(0)
    internal / m - totSq / (4.0 * m * m)
  }

  /** @param undirectedEdges (src, dst) — canonical, no self loops
    * @return (id, community) */
  def louvain(verts: DataFrame, undirectedEdges: DataFrame,
              localRounds: Int = 4, passes: Int = 2): DataFrame =
    louvainWithModularity(verts, undirectedEdges, localRounds, passes,
      showModularity = false)._1

  /** [[louvain]] plus the per-pass modularity trace of the reference's
    * `show_modularity` option — one Q evaluation of the composed mapping
    * against the ORIGINAL graph after each pass (only when requested: the
    * trace costs three extra aggregations per pass). */
  def louvainWithModularity(verts: DataFrame, undirectedEdges: DataFrame,
                            localRounds: Int = 4, passes: Int = 2,
                            showModularity: Boolean = true,
                            inMemoryMaxVerts: Long = defaultInMemoryMaxVerts)
      : (DataFrame, Seq[Double]) = {
    // Communication-avoiding cutover (the multilevel-graph-system standard:
    // coarsening collapses the graph exponentially, so its tail always fits
    // one task — finishing distributedly only buys scheduler barriers):
    // below the gate, run the EXACT same synchronous recurrence in memory.
    // Bit-equality holds because every aggregate the rounds take (w sums,
    // degrees, community totals) is integer-valued — exact in doubles in
    // any order — and the single fp division in the gain is replicated in
    // the same op order; ties replicate Spark's struct-min via
    // java.lang.Double.compare + UTF-8 byte order. Bounded: the gate caps
    // the driver collect (the frontier-pushdown-cap family); at 100 TB the
    // first passes run distributed and only the coarsened tail cuts over.
    if (inMemoryMaxVerts > 0 && verts.count() <= inMemoryMaxVerts &&
        undirectedEdges.count() <= inMemoryMaxVerts * 10)
      return louvainInMemoryPath(verts, undirectedEdges, localRounds, passes,
        showModularity)
    val trace = scala.collection.mutable.ArrayBuffer[Double]()
    var mapping = verts.select(col("id"), col("id").as("community"))
    var curVerts = verts.select(col("id"))
    var curEdges = graft.core.Pin.pin(
      undirectedEdges.select(col("src"), col("dst"), lit(1.0).as("w")))

    for (pass <- 0 until passes) {
      val comm = localMoves(curVerts, curEdges, localRounds, pinVerts = pass == 0)
      // compose the global mapping through this pass's assignment
      mapping = mapping.withColumnRenamed("community", "mid")
        .join(comm.withColumnRenamed("id", "mid"), Seq("mid"))
        .select(col("id"), col("community"))
        .localCheckpoint(true)
      // coarsen: communities → vertices, aggregate edge weights. Self-loops
      // are KEPT — they carry the community's internal weight; dropping them
      // would zero supernode degrees and make any cross-community merge look
      // like a modularity gain.
      curEdges = curEdges
        .join(comm.withColumnRenamed("id", "src").withColumnRenamed("community", "cs"), Seq("src"))
        .join(comm.withColumnRenamed("id", "dst").withColumnRenamed("community", "cd"), Seq("dst"))
        .select(least(col("cs"), col("cd")).as("src"),
          greatest(col("cs"), col("cd")).as("dst"), col("w"))
        .groupBy(col("src"), col("dst")).agg(sum(col("w")).as("w"))
        .localCheckpoint(true)
      curVerts = comm.select(col("community").as("id")).distinct().localCheckpoint(true)
      if (showModularity) trace += modularity(mapping, undirectedEdges)
    }
    (mapping, trace.toSeq)
  }

  /** Gate for the in-memory tail; 0 disables (spec uses that to diff the
    * two paths). 50k vertices ≈ a few MB of ids — far inside one task. */
  private[graft] val defaultInMemoryMaxVerts = 50000L

  /** Spark StringType `<` is UTF8String binary order — unsigned byte
    * compare, NOT String.compareTo (differs beyond ASCII). */
  private def utf8Lt(a: String, b: String): Boolean = {
    val x = a.getBytes("UTF-8"); val y = b.getBytes("UTF-8")
    var i = 0
    while (i < x.length && i < y.length) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c < 0
      i += 1
    }
    x.length < y.length
  }
  private def utf8Min(a: String, b: String): String = if (utf8Lt(b, a)) b else a
  private def utf8Max(a: String, b: String): String = if (utf8Lt(b, a)) a else b

  /** The collected-tail twin of the distributed pass loop — same rounds,
    * same parity gating, same tie-breaks, same coarsening. */
  private def louvainInMemoryPath(vertsDf: DataFrame, edgesDf: DataFrame,
                                  localRounds: Int, passes: Int,
                                  showModularity: Boolean): (DataFrame, Seq[Double]) = {
    import scala.collection.mutable
    val spark = vertsDf.sparkSession
    val verts0 = vertsDf.select(col("id")).collect().map(_.getString(0))
    val origEdges = edgesDf.select(col("src"), col("dst")).collect()
      .map(r => (r.getString(0), r.getString(1)))

    def localMovesMem(verts: Array[String],
                      edges: Array[(String, String, Double)],
                      rounds: Int): mutable.Map[String, String] = {
      val comm = mutable.HashMap[String, String](verts.map(v => v -> v): _*)
      val m2 = 2.0 * edges.iterator.map(_._3).sum // integer-valued ⇒ exact
      if (m2 == 0.0) return comm
      // adjacency exactly as the distributed union builds it: both
      // directions of every edge (self-loops therefore twice) + a
      // zero-weight self entry per vertex
      val adj = mutable.HashMap[String, mutable.ArrayBuffer[(String, Double)]]()
      def entry(s: String) = adj.getOrElseUpdate(s, mutable.ArrayBuffer.empty)
      edges.foreach { case (s, d, w) => entry(s) += ((d, w)); entry(d) += ((s, w)) }
      verts.foreach(v => entry(v) += ((v, 0.0)))
      val k = adj.map { case (v, es) => v -> es.iterator.map(_._2).sum } // exact
      for (r <- 0 until rounds) {
        val tot = mutable.HashMap[String, Double]().withDefaultValue(0.0)
        verts.foreach(v => tot(comm(v)) += k(v)) // exact int sums
        val next = mutable.HashMap[String, String]()
        for (v <- verts) {
          val wvc = mutable.HashMap[String, Double]().withDefaultValue(0.0)
          // endpoints absent from verts have no community row — the
          // distributed inner join against comm drops them; mirror that
          adj(v).foreach { case (d, w) =>
            comm.get(d).foreach(c => wvc(c) += w) } // exact
          val oc = comm(v); val kv = k(v)
          var bestNg = 0.0; var bestNc: String = null
          for ((nc, w) <- wvc) {
            val allowed = nc == oc ||
              (if (r % 2 == 0) utf8Lt(nc, oc) else utf8Lt(oc, nc))
            if (allowed) {
              val totExcl = if (nc == oc) tot(nc) - kv else tot(nc)
              val ng = (w - kv * totExcl / m2) * -1 // same op order as the plan
              val cmp = java.lang.Double.compare(ng, bestNg)
              if (bestNc == null || cmp < 0 || (cmp == 0 && utf8Lt(nc, bestNc))) {
                bestNg = ng; bestNc = nc
              }
            }
          }
          next(v) = bestNc
        }
        next.foreach { case (v, c) => comm(v) = c }
      }
      comm
    }

    def modularityMem(assign: collection.Map[String, String]): Double = {
      val m = origEdges.length.toDouble
      if (m == 0.0) return 0.0
      val kk = mutable.HashMap[String, Double]().withDefaultValue(0.0)
      origEdges.foreach { case (s, d) => kk(s) += 1.0; kk(d) += 1.0 }
      val tot = mutable.HashMap[String, Double]().withDefaultValue(0.0)
      kk.foreach { case (v, kv) => assign.get(v).foreach(c => tot(c) += kv) }
      val totSq = tot.valuesIterator.map(t => t * t).sum // exact ints
      val internal = origEdges.iterator.count { case (s, d) =>
        (assign.get(s), assign.get(d)) match {
          case (Some(a), Some(b)) => a == b
          case _                  => false
        }
      }.toDouble
      internal / m - totSq / (4.0 * m * m)
    }

    val trace = mutable.ArrayBuffer[Double]()
    val mapping = mutable.HashMap[String, String](verts0.map(v => v -> v): _*)
    var curVerts = verts0
    var curEdges = origEdges.map { case (s, d) => (s, d, 1.0) }
    for (_ <- 0 until passes) {
      val comm = localMovesMem(curVerts, curEdges, localRounds)
      mapping.keysIterator.toArray.foreach(v => mapping(v) = comm(mapping(v)))
      val coarse = mutable.LinkedHashMap[(String, String), Double]()
      curEdges.foreach { case (s, d, w) =>
        // coarsening inner-joins comm on BOTH endpoints — edges touching a
        // non-vertex endpoint drop here too
        for (cs <- comm.get(s); cd <- comm.get(d)) {
          val key = (utf8Min(cs, cd), utf8Max(cs, cd))
          coarse(key) = coarse.getOrElse(key, 0.0) + w // exact int sums
        }
      }
      curEdges = coarse.iterator.map { case ((s, d), w) => (s, d, w) }.toArray
      curVerts = comm.valuesIterator.toArray.distinct
      if (showModularity) trace += modularityMem(mapping)
    }
    import spark.implicits._
    (mapping.toSeq.toDF("id", "community"), trace.toSeq)
  }

  private def localMoves(verts: DataFrame, edges: DataFrame, rounds: Int,
                         pinVerts: Boolean = true): DataFrame = {
    // Zero-weight self-loops guarantee every vertex sees its OWN community as
    // a candidate even with no intra-community edge — replacing a separate
    // "stay" union branch (which doubled the per-round join work). Adding
    // w=0.0 to any double sum is bit-exact, so w_vc/k/tot are unchanged.
    val adj = edges.select(col("src"), col("dst"), col("w"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst"), col("w")))
      .union(verts.select(col("id").as("src"), col("id").as("dst"), lit(0.0).as("w")))
      .repartition(col("dst")).localCheckpoint(true)
    val m2 = {
      val t = edges.agg(sum(col("w"))).head()
      2.0 * (if (t.isNullAt(0)) 0.0 else t.getDouble(0))
    }
    if (m2 == 0.0) return verts.select(col("id"), col("id").as("community"))
    val k = adj.groupBy(col("src").as("id")).agg(sum(col("w")).as("k"))
      .localCheckpoint(true)
    // Delta pruning is bit-exact at any size, so gating it by |V| is purely
    // a cost decision: its bookkeeping adds ~6 small jobs per round (movers
    // join, tot diff, candidate build + counts), which MEASURABLY dominates
    // on small graphs (bench's 1000-vertex co-purchase projection) while
    // paying off once rounds touch millions of rows (10x smoke:
    // 32.7s -> 19.1s). Activate only where saved work can exceed overhead.
    val deltaMinVerts = 5000L
    val nVerts0 = verts.count()
    val noDelta = nVerts0 < deltaMinVerts
    val nVerts = if (noDelta) 0L else nVerts0

    // Delta bookkeeping — bit-exact pruning. A vertex's round-r decision is
    // a pure function of (its neighbors' communities under the round-r input
    // state, the totals of those communities, k_v, round PARITY). The gate
    // alternates by parity, so the comparable earlier round is r-2: if
    // NOTHING in that function's input changed between rounds r-2 and r,
    // decision_r(v) = decision_{r-2}(v) = state_{r-1}(v) verbatim. The
    // candidate (re-evaluate) set is every src with an adj edge into a
    // vertex that moved OR a vertex whose community's tot VALUE changed —
    // the self-loop puts v's own state under the same two clauses. Equal
    // tot doubles from different member sets are safe: the decision reads
    // tot only through its value. Over-marking is always safe; rounds 0/1
    // have no parity twin and run full.
    val hist = scala.collection.mutable.ArrayBuffer[DataFrame]()
    val totHist = scala.collection.mutable.ArrayBuffer[DataFrame]()

    // Broadcast-safety gates for the delta plumbing: past these sizes the
    // delta machinery would itself become the scale problem, so the round
    // falls back to a plain full evaluation (always correct).
    val maxBroadcastRows = 2000000L

    // pinned co-partitioned on id (the lpa/eigenvector idiom): every hist
    // frame and every idInfo join keys on id — without the pin the vertex
    // source re-scans and re-shuffles per round (PlanAudit loop-reshuffle).
    // Only the FIRST pass's view goes through Pin: its plan is a stable
    // source the session memo can actually hit across queries. Coarsened
    // passes sit on fresh per-run checkpoints — pinning those always
    // misses, persisting a new orphan frame every execution.
    val v0 = verts.select(col("id")).repartition(col("id"))
    val v = if (pinVerts) graft.core.Pin.pin(v0) else v0.localCheckpoint(true)
    var comm = v.select(col("id"), col("id").as("community"))
    for (r <- 0 until rounds) {
      // one (id, community, k) table per round feeds BOTH the community
      // totals and the per-id gain inputs — folding the former separate
      // `own` and `k` joins into a single join per round. Checkpointed only
      // under delta (totHist re-reads it next round); with delta off the
      // double-use recompute of a tiny join is cheaper than one more
      // materialization barrier per round (same cost call as commTot below)
      val idInfo0 = comm.join(k, Seq("id"))
      val idInfo = if (noDelta) idInfo0 else idInfo0.localCheckpoint(false)
      // the commTot checkpoint exists ONLY for the delta machinery (totHist
      // diffs re-read it next round); under noDelta it would be a pure
      // mid-plan barrier — an extra materialization + AQE stage-job per
      // round that measurably drags small graphs (q_louvain 4.97→8.4s when
      // it ran unconditionally). Keep commTot fused into the gains plan
      // when delta is off.
      val commTot0 = idInfo.groupBy(col("community")).agg(sum(col("k")).as("tot"))
      val commTot = if (noDelta) commTot0 else commTot0.localCheckpoint(false)
      if (!noDelta) { hist += comm; totHist += commTot }
      val candidates: Option[DataFrame] = if (noDelta || r < 2) None else {
        // both hist frames are id-partitioned checkpoints → co-located merge
        val movers = hist(r).withColumnRenamed("community", "c1")
          .join(hist(r - 2).withColumnRenamed("community", "c2"), Seq("id"))
          .filter(col("c1") =!= col("c2")).select(col("id"))
        val totChanged = totHist(r).withColumnRenamed("tot", "t1")
          .join(totHist(r - 2).withColumnRenamed("tot", "t2"), Seq("community"), "full")
          .filter(!(col("t1") <=> col("t2"))).select(col("community"))
          .localCheckpoint(false)
        // totChanged builds a broadcast against the |V|-sized comm — gate it
        if (totChanged.count() > maxBroadcastRows) None else {
          val touchedDst = comm.withColumnRenamed("id", "dst")
            .join(broadcast(totChanged), Seq("community"), "left_semi").select(col("dst"))
            .unionByName(movers.withColumnRenamed("id", "dst")).distinct()
          val cand = adj.join(touchedDst, Seq("dst"), "left_semi")
            .select(col("src").as("id")).distinct().localCheckpoint(true)
          // delta only pays when the re-evaluate set is a minority, and cand
          // itself broadcasts against adj below
          val n = cand.count()
          if (n <= nVerts / 2 && n <= maxBroadcastRows) Some(cand) else None
        }
      }
      // weight from v to each neighbouring community (self-loop ⇒ the own
      // community is always present, possibly with w_vc = 0); under delta,
      // only candidate srcs re-aggregate
      val stepAdj = candidates match {
        // broadcast semi-join: adj (dst-partitioned, the big side) never moves
        case Some(c) => adj.join(broadcast(c.withColumnRenamed("id", "src")), Seq("src"), "left_semi")
        case None    => adj
      }
      val vToComm = stepAdj
        .join(comm.withColumnRenamed("id", "dst").withColumnRenamed("community", "nc"), Seq("dst"))
        .groupBy(col("src").as("id"), col("nc")).agg(sum(col("w")).as("w_vc"))
      // join tot while still partitioned by nc, THEN align to id — the final
      // groupBy(id) then needs no extra exchange
      val gains = vToComm
        .join(commTot.withColumnRenamed("community", "nc"), Seq("nc"))
        .join(idInfo.withColumnRenamed("community", "oc"), Seq("id"))
        .withColumn("tot_excl",
          when(col("nc") === col("oc"), col("tot") - col("k")).otherwise(col("tot")))
        .withColumn("gain", col("w_vc") - col("k") * col("tot_excl") / m2)
      // Directional gating breaks synchronous-swap oscillation: even rounds
      // only allow moves to a SMALLER community id, odd rounds to a larger
      // one. The relation is antisymmetric, so two vertices can never trade
      // communities in the same round. Staying is always allowed.
      val gated = gains.select(col("id"), col("nc"), col("gain"), col("oc"))
        .filter(col("nc") === col("oc") ||
          (if (r % 2 == 0) col("nc") < col("oc") else col("nc") > col("oc")))
      val decisions = gated
        .groupBy(col("id"))
        .agg(min(struct((col("gain") * -1).as("ng"), col("nc"))).as("best"))
        .select(col("id"), col("best.nc").as("community"))
      comm = (candidates match {
        case Some(c) =>
          // non-candidates repeat their parity-twin decision, which is
          // exactly their state after round r-1; re-partition the union so
          // the next round's hist/idInfo joins stay co-located on id
          hist(r - 1).join(broadcast(c), Seq("id"), "left_anti")
            .unionByName(decisions).repartition(col("id"))
        case None => decisions
        // lineage must truncate every round either way; the EAGER barrier is
        // only needed when delta bookkeeping re-reads this frame as hist —
        // with delta off, a lazy cut folds this round's materialization into
        // the next round's first job (one fewer driver barrier per round)
      }).localCheckpoint(!noDelta)
    }
    comm
  }
}
