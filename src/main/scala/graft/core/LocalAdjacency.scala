package graft.core

import org.apache.spark.sql.DataFrame

/** A compressed adjacency index held on the driver: vertex ids interned to
  * ints, one offsets array and one neighbor array (CSR), plus a weight
  * array for weighted views and a per-edge label id (into interned label
  * names) for labeled views. It is the in-memory twin of a pinned edge view
  * `(src, dst[, w][, label])` — the reference's per-vertex adjacency lookups
  * (`HugeTraverser.edgesOfVertex`, `OltpTraverser`) with no Spark job per
  * hop. Rows keep the view's multiplicity, so parallel edges each count.
  * The IN side of an OUT view is its [[transposed]] index, built on the
  * driver on first use.
  *
  * A graph has at most two: the labeled OUT view's, which every unweighted
  * driver traverser reads under a label mask in any direction, and the
  * weighted SSSP view's. [[register]] builds one for a pinned frame and
  * [[of]] finds it by that frame's identity; [[Pin.clear]] drops them all. */
final class LocalAdjacency private (
    ids: Array[String],
    index: java.util.HashMap[String, Integer],
    private val offsets: Array[Int],
    private val nbrs: Array[Int],
    weights: Array[Double],
    labelNames: Array[String],
    private val labels: Array[Int]) {

  def vertexCount: Int = ids.length
  def edgeCount: Int = nbrs.length

  /** Interned id of `v`, or -1 when `v` has no edge in the view. */
  def idOf(v: String): Int = {
    val i = index.get(v)
    if (i == null) -1 else i.intValue
  }

  def name(v: Int): String = ids(v)

  /** Edge positions of `v`'s adjacency list: `from(v) until until(v)`. */
  def from(v: Int): Int = offsets(v)
  def until(v: Int): Int = offsets(v + 1)
  def nbr(e: Int): Int = nbrs(e)
  def weight(e: Int): Double = weights(e)

  /** Per label id, whether `requested` admits it; every label when
    * `requested` is empty. A null label is admitted only then, as no
    * `label IN (…)` filter matches it. Only for a labeled view. */
  def labelMask(requested: Seq[String]): Array[Boolean] =
    labelNames.map(l => requested.isEmpty || l != null && requested.contains(l))

  /** The reversed index: every edge `dst → src`, with the same interned ids,
    * weights and labels. Each vertex's IN list is ordered by source id. */
  lazy val transposed: LocalAdjacency = {
    val n = ids.length
    val m = nbrs.length
    val off = new Array[Int](n + 1)
    nbrs.foreach(d => off(d + 1) += 1)
    var v = 0
    while (v < n) { off(v + 1) += off(v); v += 1 }
    val fill = java.util.Arrays.copyOf(off, n)
    val rev = new Array[Int](m)
    val w = if (weights == null) null else new Array[Double](m)
    val l = if (labels == null) null else new Array[Int](m)
    v = 0
    while (v < n) {
      var e = offsets(v)
      while (e < offsets(v + 1)) {
        val at = fill(nbrs(e))
        rev(at) = v
        if (w != null) w(at) = weights(e)
        if (l != null) l(at) = labels(e)
        fill(nbrs(e)) = at + 1
        e += 1
      }
      v += 1
    }
    new LocalAdjacency(ids, index, off, rev, w, labelNames, l)
  }

  /** Hands `f` the neighbor of every edge of `v` in direction `dir` whose
    * label `mask` admits, parallel edges each time: for BOTH the OUT edges,
    * then the IN edges of the [[transposed]] index, so a self-loop counts
    * twice (the union `PropertyGraph.bothEdges` plans). */
  def foreachEdge(v: Int, dir: Direction.Value, mask: Array[Boolean])(f: Int => Unit): Unit =
    if (v >= 0) {
      def scan(ix: LocalAdjacency): Unit = {
        var e = ix.offsets(v)
        while (e < ix.offsets(v + 1)) { if (mask(ix.labels(e))) f(ix.nbrs(e)); e += 1 }
      }
      if (dir != Direction.IN) scan(this)
      if (dir != Direction.OUT) scan(transposed)
    }

  /** Edges [[foreachEdge]] visits. */
  def degree(v: Int, dir: Direction.Value, mask: Array[Boolean]): Int = {
    var n = 0
    foreachEdge(v, dir, mask)(_ => n += 1)
    n
  }

  /** Distinct neighbors of `v` over the edges [[foreachEdge]] visits, in
    * ascending interned id. */
  def neighborSet(v: Int, dir: Direction.Value, mask: Array[Boolean]): Array[Int] = {
    val out = Array.newBuilder[Int]
    foreachEdge(v, dir, mask)(out += _)
    val a = out.result()
    java.util.Arrays.sort(a)
    var n = 0
    var i = 0
    while (i < a.length) { if (n == 0 || a(n - 1) != a(i)) { a(n) = a(i); n += 1 }; i += 1 }
    java.util.Arrays.copyOf(a, n)
  }

  /** `a + b` for non-negative counts, Long.MaxValue once it overflows. */
  private def saturated(a: Long, b: Long): Long = {
    val s = a + b
    if (s < 0L) Long.MaxValue else s
  }

  /** Multi-source shortest paths over the edges [[foreachEdge]] visits in
    * `dir` under `mask`: the first-visit BFS of one source at a time, with
    * scratch arrays reused across sources. */
  def bfs(dir: Direction.Value, mask: Array[Boolean]): Bfs = new Bfs(dir, mask)

  final class Bfs private[LocalAdjacency] (dir: Direction.Value, mask: Array[Boolean]) {
    private val hop = Array.fill(ids.length)(-1)
    private val paths = new Array[Long](ids.length)
    private var source = -1
    private var reached = Array.emptyIntArray

    /** Runs the BFS from `s` (-1: a source with no edge in the view) over
      * layers 1..`maxHops`, stopping after the first empty one. Returns the
      * vertices reached, the source excluded, in first-visit order; each
      * has its [[hops]] and its number of shortest paths ([[pathCount]]). */
    def run(s: Int, maxHops: Int): Array[Int] = {
      reached.foreach { v => hop(v) = -1; paths(v) = 0L }
      if (source >= 0) { hop(source) = -1; paths(source) = 0L }
      source = s
      val out = Array.newBuilder[Int]
      if (s >= 0) {
        hop(s) = 0; paths(s) = 1L
        var frontier = Array(s)
        var d = 0
        while (d < maxHops && frontier.nonEmpty) {
          val next = Array.newBuilder[Int]
          for (u <- frontier) foreachEdge(u, dir, mask) { v =>
            if (hop(v) < 0) { hop(v) = d + 1; next += v }
            if (hop(v) == d + 1) paths(v) = saturated(paths(v), paths(u))
          }
          frontier = next.result()
          out ++= frontier
          d += 1
        }
      }
      reached = out.result()
      reached
    }

    /** Hops of a reached vertex from the last [[run]]'s source. */
    def hops(v: Int): Int = hop(v)

    /** Shortest paths from the last [[run]]'s source to a reached vertex:
      * one per combination of parallel edges, saturating at Long.MaxValue. */
    def pathCount(v: Int): Long = paths(v)

    /** Hands `f` every shortest path from the last [[run]]'s source to the
      * reached vertex `t`, as its vertex sequence ([[pathCount]] of them):
      * walks back along the reversed edges to the previous layer. `f` must
      * not keep the array, which is reused. */
    def foreachPath(t: Int)(f: Array[Int] => Unit): Unit = {
      val back = dir match {
        case Direction.OUT => Direction.IN
        case Direction.IN => Direction.OUT
        case _ => Direction.BOTH
      }
      val path = new Array[Int](hop(t) + 1)
      def walk(v: Int, k: Int): Unit = {
        path(k) = v
        if (k == 0) f(path)
        else foreachEdge(v, back, mask)(u => if (hop(u) == k - 1) walk(u, k - 1))
      }
      walk(t, hop(t))
    }
  }

  /** Walk counts from `seeds` (a seed listed `seedCounts` times starts that
    * many walks) over `times` hops of the edges [[foreachEdge]] visits in
    * `dir` under `mask`: hands each hop k = 1..`times` to `f(k, vertices,
    * counts)`, where `counts(i)` is the number of walks of exactly k hops
    * ending at `vertices(i)` — one per combination of parallel edges,
    * saturating at Long.MaxValue. Stops after the first empty hop. */
  def walkCounts(seeds: Array[Int], seedCounts: Array[Long], dir: Direction.Value,
                 mask: Array[Boolean], times: Int)(
      f: (Int, Array[Int], Array[Long]) => Unit): Unit = {
    var cur = new Array[Long](ids.length)
    var next = new Array[Long](ids.length)
    val start = Array.newBuilder[Int]
    for (i <- seeds.indices if seeds(i) >= 0) {
      if (cur(seeds(i)) == 0L) start += seeds(i)
      cur(seeds(i)) = saturated(cur(seeds(i)), seedCounts(i))
    }
    var layer = start.result()
    var k = 0
    while (k < times && layer.nonEmpty) {
      val touched = Array.newBuilder[Int]
      for (u <- layer) foreachEdge(u, dir, mask) { v =>
        if (next(v) == 0L) touched += v
        next(v) = saturated(next(v), cur(u))
      }
      layer.foreach(cur(_) = 0L)
      layer = touched.result()
      k += 1
      f(k, layer, layer.map(next))
      val t = cur; cur = next; next = t
    }
  }
}

object LocalAdjacency {

  /** One index per pinned view, built at most once: concurrent callers of
    * [[register]] for the same view wait on the cell's lazy build. `None`
    * when the view holds a null endpoint, which no join would match. */
  private final class Cell(view: DataFrame) {
    lazy val index: Option[LocalAdjacency] = build(view)
  }

  private val byView =
    new java.util.IdentityHashMap[DataFrame, Cell]()

  Pin.onClear(() => byView.synchronized(byView.clear()))

  /** Builds (once) the index of a pinned view `(src, dst[, w][, label])`. */
  def register(view: DataFrame): Unit = {
    val cell = byView.synchronized {
      var c = byView.get(view)
      if (c == null) { c = new Cell(view); byView.put(view, c) }
      c
    }
    cell.index
  }

  /** The index of this exact pinned frame, if [[register]] built one. */
  def of(view: DataFrame): Option[LocalAdjacency] =
    Option(byView.synchronized(byView.get(view))).flatMap(_.index)

  /** Collects the view as unsafe rows (one job, no per-row `Row` objects)
    * and lays it out as CSR: counting sort of the rows by interned src. */
  private def build(view: DataFrame): Option[LocalAdjacency] = {
    val weighted = view.columns.contains("w")
    val labeled = view.columns.contains("label")
    val cols = Seq("src", "dst") ++ (if (weighted) Seq("w") else Nil) ++
      (if (labeled) Seq("label") else Nil)
    val rows = view.select(cols.map(org.apache.spark.sql.functions.col): _*)
      .queryExecution.executedPlan.executeCollect()
    val labelAt = cols.length - 1
    if (rows.exists(r => r.isNullAt(0) || r.isNullAt(1))) return None
    val ids = new Interner
    val m = rows.length
    val src = new Array[Int](m)
    val dst = new Array[Int](m)
    var k = 0
    while (k < m) {
      src(k) = ids(rows(k).getUTF8String(0).toString)
      dst(k) = ids(rows(k).getUTF8String(1).toString)
      k += 1
    }
    val n = ids.index.size
    val offsets = new Array[Int](n + 1)
    src.foreach(s => offsets(s + 1) += 1)
    var v = 0
    while (v < n) { offsets(v + 1) += offsets(v); v += 1 }
    val fill = java.util.Arrays.copyOf(offsets, n)
    val nbrs = new Array[Int](m)
    val weights = if (weighted) new Array[Double](m) else null
    val labelIds = new Interner
    val labels = if (labeled) new Array[Int](m) else null
    k = 0
    while (k < m) {
      val at = fill(src(k))
      nbrs(at) = dst(k)
      if (weighted) weights(at) = rows(k).getDouble(2)
      if (labeled) labels(at) =
        labelIds(if (rows(k).isNullAt(labelAt)) null else rows(k).getUTF8String(labelAt).toString)
      fill(src(k)) = at + 1
      k += 1
    }
    Some(new LocalAdjacency(ids.result(), ids.index, offsets, nbrs, weights,
      if (labeled) labelIds.result() else null, labels))
  }

  /** Strings numbered in first-seen order. */
  private final class Interner {
    val index = new java.util.HashMap[String, Integer]()
    private val names = Array.newBuilder[String]
    def apply(s: String): Int = {
      val i = index.get(s)
      if (i != null) i.intValue
      else { val n = index.size; index.put(s, n); names += s; n }
    }
    def result(): Array[String] = names.result()
  }
}
