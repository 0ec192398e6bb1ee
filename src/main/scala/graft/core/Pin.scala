package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ListBuffer

/** Memoized eager `localCheckpoint`: plans that are `sameResult`-equal within
  * one session share a single materialization. Traversal and OLAP entry
  * points pin their adjacency/input views through here, so a workload of many
  * queries over the same graph pays the "load the working set" cost once —
  * the cluster-deployment shape is a `persist(MEMORY_AND_DISK)` (or bucketed
  * table) of the adjacency that every query plans against.
  *
  * Sound because all sources are immutable parquet snapshots; a rewritten
  * path produces a different scan plan and misses the cache. Tests that
  * overwrite a parquet path in place must call [[clear]] between phases.
  */
object Pin {
  private val cache =
    new ConcurrentHashMap[(Int, Int), ListBuffer[(LogicalPlan, DataFrame)]]()

  /** Store-resident mode (SPARK_GRAFT_BUCKETED=1 / SPARK_GRAFT_NOPIN=1):
    * pin() becomes a pass-through so every query plans against the store
    * instead of a session checkpoint — the configuration where the working
    * set does NOT fit in memory (the 100 TB shape BenchBucketed isolates).
    * Loop-internal localCheckpoints (lineage cuts) are unaffected. */
  private lazy val disabled =
    sys.env.get("SPARK_GRAFT_NOPIN").contains("1") ||
      sys.env.get("SPARK_GRAFT_BUCKETED").contains("1")

  def pin(df: DataFrame): DataFrame =
    if (disabled) df else memo(df)

  /** Pin for DERIVED working-set artifacts — tokenized corpora, MinHash
    * signature tables, k-means candidate sets. Unlike [[pin]], this stays
    * materialized in store-resident mode: these views are compute-heavy
    * derived DATA a 100 TB deployment writes once next to its source table
    * (a signatures parquet beside the corpus), not session caches of the
    * store itself. Pass-through here would re-run the whole derivation
    * chain inside every consumer — and every iteration of a loop consumer
    * (measured: the LSH near-dup family regressed 140-900× in bucketed
    * mode before this split) — a shape no deployment runs. */
  def pinDerived(df: DataFrame): DataFrame = memo(df)

  /** Materialized row count of a frame RETURNED by pin/pinDerived — free
    * metadata from the load-time count(). Lets consumers make exact
    * size-based decisions (e.g. skip frontier pushdown against a pinned
    * view already known to be tiny) without a job. Identity-keyed: only
    * the exact pinned instance resolves. */
  private val rowCounts =
    java.util.Collections.synchronizedMap(
      new java.util.IdentityHashMap[DataFrame, java.lang.Long]())

  def rowsOf(df: DataFrame): Option[Long] =
    Option(rowCounts.get(df)).map(_.longValue)

  /** Frames pinned in this JVM. */
  def size: Int = rowCounts.size

  /** The pinned frame `sameResult`-equal to `df`, if [[pin]] made one; pins
    * nothing. */
  def find(df: DataFrame): Option[DataFrame] =
    if (disabled) None
    else {
      val plan = df.queryExecution.analyzed
      Option(cache.get((System.identityHashCode(df.sparkSession), plan.semanticHash())))
        .flatMap(bucket => bucket.synchronized(bucket.find(_._1.sameResult(plan)).map(_._2)))
    }

  private def memo(df: DataFrame): DataFrame = {
    val plan = df.queryExecution.analyzed
    val key = (System.identityHashCode(df.sparkSession), plan.semanticHash())
    val bucket = cache.computeIfAbsent(key, _ => ListBuffer.empty)
    bucket.synchronized {
      bucket.find(_._1.sameResult(plan)).map(_._2).getOrElse {
        // columnar persist, not localCheckpoint: checkpoint RDD storage holds
        // deserialized row OBJECTS — scanning a 27M-row pinned view that way
        // ran at ~300k rows/s/core with 25% GC (measured, ScaleSmoke 10x
        // stage metrics), because every layer's probe pointer-chases tens of
        // millions of heap objects the collector must also keep tracing. The
        // SQL cache stores compressed columnar byte buffers: sequential
        // scans, near-zero GC residency — and it's literally the
        // persist(MEMORY_AND_DISK) a cluster deployment pins its adjacency
        // with. Partitioning survives (InMemoryTableScan forwards the cached
        // plan's outputPartitioning), so repartition(src)-shaped pins keep
        // feeding co-located joins. count() forces full materialization so
        // the load cost lands here (the warmup), not in the first query.
        val cp = df.persist()
        val n = cp.count()
        rowCounts.put(cp, n)
        bucket += ((plan, cp))
        cp
      }
    }
  }

  /** PLAN-keyed memo for derived-artifact builders (landmark indexes,
    * triangle enumerations, trained tables): dedups on `sameResult` of the
    * input frame plus a hyper-parameter key. Reference-keyed memos break in
    * store-resident mode — `pin` is a pass-through there, so every call
    * constructs a FRESH input frame and a reference key never re-hits; the
    * artifact then silently rebuilds inside each consumer (measured: the
    * warmup-built landmark index rebuilt per probe query, 18-29× — the
    * same defect class the `pinDerived` split fixed for the LSH family).
    * Registers with [[onClear]]. */
  final class PlanMemo[K] {
    /** Compute-once handoff cell: the claiming thread builds, everyone else
      * awaits the latch. The build itself (multi-job Spark work — landmark
      * BFS waves, triangle enumeration) runs OUTSIDE any monitor, so
      * concurrent queries colliding on the same (session, hash, k) bucket
      * don't serialize behind a lock held across Spark jobs, and a
      * same-thread re-entrant build is detected instead of deadlocking. */
    private final class Cell(val plan: LogicalPlan) {
      val latch = new java.util.concurrent.CountDownLatch(1)
      val owner: Thread = Thread.currentThread()
      @volatile var result: DataFrame = _
      @volatile var failure: Throwable = _
    }
    private val m = new ConcurrentHashMap[(Int, Int, K),
      java.util.concurrent.CopyOnWriteArrayList[Cell]]()
    onClear(() => m.clear())

    def getOrBuild(input: DataFrame, k: K)(build: => DataFrame): DataFrame = {
      val plan = input.queryExecution.analyzed
      val key = (System.identityHashCode(input.sparkSession), plan.semanticHash(), k)
      val bucket = m.computeIfAbsent(key,
        _ => new java.util.concurrent.CopyOnWriteArrayList[Cell]())
      // find-or-claim under a short lock; the build happens outside it
      var cell: Cell = null
      var claimed = false
      bucket.synchronized {
        val it = bucket.iterator()
        while (cell == null && it.hasNext) {
          val c = it.next(); if (c.plan.sameResult(plan)) cell = c
        }
        if (cell == null) { cell = new Cell(plan); bucket.add(cell); claimed = true }
      }
      if (claimed) {
        try { cell.result = build; cell.result }
        catch {
          case t: Throwable =>
            cell.failure = t
            bucket.remove(cell) // failed builds don't poison the memo — retry later
            throw t
        } finally cell.latch.countDown()
      } else {
        if ((cell.owner eq Thread.currentThread()) && cell.latch.getCount > 0)
          throw new IllegalStateException(
            "re-entrant PlanMemo build: the builder re-requested its own key")
        cell.latch.await()
        if (cell.failure != null) throw new IllegalStateException(
          "memoized build failed in the claiming thread", cell.failure)
        cell.result
      }
    }

    /** completed-entry count (test hook) */
    def entries: Int = {
      var n = 0
      m.forEach((_, b) => b.forEach(c => if (c.result != null) n += 1))
      n
    }
  }

  /** Derived working-set memos (walk corpora, SSSP tables, …) register here
    * so [[clear]] — the contract tests overwriting parquet in place must
    * honor — also invalidates everything built ON TOP of pinned views. */
  private val clearHooks = new java.util.concurrent.CopyOnWriteArrayList[() => Unit]()

  def onClear(hook: () => Unit): Unit = clearHooks.add(hook)

  def clear(): Unit = {
    cache.forEach((_, bucket) =>
      bucket.synchronized(bucket.foreach { case (_, df) =>
        try df.unpersist() catch { case _: Exception => () }
      }))
    cache.clear(); rowCounts.clear(); clearHooks.forEach(h => h())
  }
}
