package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types.{DataType, DoubleType, LongType, StructField, StructType}

/** Distinct-count sketching — the cardinality-estimation member of the
  * "novel sketch" operator family the builder mandate calls out.
  *
  * KMV (k-minimum-values, Bar-Yossef et al. 2002 "Counting distinct elements
  * in a data stream") instead of HLL: with a deterministic hash the k
  * smallest hash values — and therefore the estimate — are EXACTLY
  * reproducible by the DuckDB oracle (HLL's register layout is
  * engine-internal, so `approx_count_distinct` can never be hash-checked
  * cross-engine). Estimator: with M = 16^15 the hash-space size, the k-th
  * smallest of n uniform draws sits at ≈ k/n · M, so n̂ = (k−1)·M / h_(k)
  * (the unbiased form); when fewer than k distinct hashes exist the sketch
  * IS the distinct set and the count is exact.
  *
  * Scale shape: this is a [[TypedImperativeAggregate]] — each task folds its
  * partition into a BOUNDED k-element buffer (a tree set), partial buffers
  * merge associatively on the reduce side, so the distinct values themselves
  * NEVER shuffle: per group, exactly k longs cross the wire, vs a full
  * distinct-shuffle for `count(DISTINCT x)`. That is the whole point of a
  * sketch at 100 TB — the reference has no analog (its counts are exact
  * store scans, `Query.java` aggregate pushdown).
  */
object Sketch {

  /** 16^15 = 2^60 — the size of the 15-hex-digit hash space (exactly
    * representable as a double). */
  val HashSpace: Double = 1152921504606846976.0

  /** Uniform hash to [0, 16^15) as BIGINT: first 15 hex chars of md5,
    * mirrored verbatim by the oracle's strpos-arithmetic twin. */
  def hash60(c: Column): Column =
    conv(substring(md5(c.cast("string")), 1, 15), 16, 10).cast("long")

  /** Register the aggregate in the session's function registry (the
    * [[graft.functions.VectorFunctions.registerKernels]] route — Spark 4
    * Columns are built from registered function names, not raw
    * expressions). Idempotent. */
  def registerKernels(df: org.apache.spark.sql.DataFrame): Unit = {
    import graft.functions.SessionFunctions.registerOnce
    registerOnce(df.sparkSession, "kmv_distinct") { es =>
      val k = es(1) match {
        case org.apache.spark.sql.catalyst.expressions.Literal(v, _) =>
          v.toString.toInt
        case other => throw new IllegalArgumentException(
          s"kmv_distinct k must be a literal, got $other")
      }
      KmvSketchAgg(es.head, k).toAggregateExpression()
    }
    registerOnce(df.sparkSession, "hll_distinct")(es => HllSketchAgg(es.head).toAggregateExpression())
  }

  /** KMV distinct-count estimate of `hashCol` (a [[hash60]]-hashed value)
    * per group: returns `struct(n_kept, hk, est)` — the sketch fill level,
    * the k-th minimum hash, and the estimate. Call [[registerKernels]] on
    * the input frame first. */
  def kmvEstimate(hashCol: Column, k: Int): Column =
    call_function("kmv_distinct", hashCol, lit(k))

  /** Count-Min sketch heavy hitters (Cormode & Muthukrishnan 2005) — the
    * frequency-estimation sibling of [[kmvEstimate]]: `depth` hash rows ×
    * `width` buckets of exact integer counters; est(t) = min over rows of
    * the counter t hashes into. Always an over-estimate (collisions only
    * add), so `est ≥ exact` is an invariant the spec asserts. Returns the
    * top-`k` tokens by EXACT count (ties on the token) with their exact and
    * CMS-estimated counts — the accuracy gauge the oracle checks.
    *
    * Scale shape: the sketch table is depth×width COUNTERS (1024 cells
    * here) regardless of vocabulary size — the unbounded token-keyed count
    * becomes a fixed-size aggregation, which is the whole point at 100 TB.
    * Both the cell aggregation and the exact top-k (TakeOrderedAndProject)
    * are map-side-combined; the 1024-cell table broadcasts back against the
    * k candidate tokens. Bucket hash = md5 of the row-salted token, exactly
    * reproducible by the oracle (integer counters ⇒ bit-exact compare). */
  def countMinTopK(items: DataFrame, itemCol: String, depth: Int = 4,
                   width: Int = 256, k: Int = 20): DataFrame = {
    def bucket(r: Int, c: Column): Column =
      pmod(conv(substring(md5(concat_ws(":", lit(r), c)), 1, 15), 16, 10)
        .cast("long"), lit(width))
    // ONE aggregation pass over the item stream feeds both halves: the
    // exact top-k AND the sketch cells. A cell's occurrence count equals
    // the SUM of the per-item exact counts hashing into it, so the bucket
    // ids (depth × md5) are computed once per DISTINCT item instead of
    // once per occurrence — at Zipf vocabularies that is orders of
    // magnitude fewer hash evaluations, and the raw stream is scanned
    // once instead of twice. localCheckpoint(false): the count table is
    // consumed by two plans (lazy — materializes inside the first).
    val counts = items.groupBy(col(itemCol)).agg(count(lit(1)).as("exact"))
      .localCheckpoint(false)
    val exact = counts.orderBy(col("exact").desc, col(itemCol).asc).limit(k)
    val rows = counts.select(col("exact"), posexplode(
      array((0 until depth).map(r => bucket(r, col(itemCol))): _*))
      .as(Seq("r", "b")))
    val cms = rows.groupBy(col("r"), col("b")).agg(sum(col("exact")).as("cell"))
    val probes = (0 until depth).map { r =>
      exact.select(col(itemCol), col("exact"),
        lit(r).as("r"), bucket(r, col(itemCol)).as("b"))
    }.reduce(_ unionByName _)
    probes.join(broadcast(cms), Seq("r", "b"))
      .groupBy(col(itemCol), col("exact"))
      .agg(min(col("cell")).as("est"))
      .select(col(itemCol), col("exact"), col("est"))
  }

  /** HyperLogLog distinct-count estimate (Flajolet et al. 2007) of a
    * [[hash60]]-hashed column per group, m = 64 registers: bucket = low 6
    * hash bits, register = max leading-zero rank ρ of the remaining 54 bits
    * (ρ ∈ [1, 55]). Unlike the engine-internal `approx_count_distinct`
    * (HLL++, private register layout), every piece here is deterministic
    * md5 arithmetic the DuckDB oracle replays exactly: the register sum is
    * returned as the EXACT integer Σⱼ 2^(55−Mⱼ) (≤ 2^61 — Σ 2^−Mⱼ scaled by
    * 2^55), so the estimate α·m²·2^55 / S is ONE double division on both
    * engines — no order-dependent float accumulation. Call
    * [[registerKernels]] first.
    *
    * vs [[kmvEstimate]]: KMV needs the k smallest DISTINCT hashes (k longs
    * per group); HLL folds the RAW stream — duplicates are free (max is
    * idempotent) — into 64 bytes per group. Returns
    * `struct(s_reg, n_empty, est)`. */
  def hllEstimate(hashCol: Column): Column =
    call_function("hll_distinct", hashCol)

  /** Fixed-register HLL buffer: 64 byte-sized max-ρ registers. Merge is
    * element-wise max — associative, commutative, duplicate-insensitive, so
    * partial-combine order can't change the result (the determinism the
    * oracle relies on). */
  case class HllSketchAgg(child: Expression,
                          mutableAggBufferOffset: Int = 0,
                          inputAggBufferOffset: Int = 0)
      extends TypedImperativeAggregate[Array[Byte]] {

    private val m = 64            // 2^6 registers
    private val rhoMax = 55       // 54 payload bits → ρ ∈ [1, 55]

    override def createAggregationBuffer(): Array[Byte] = new Array[Byte](m)

    override def update(buf: Array[Byte], input: InternalRow): Array[Byte] = {
      val v = child.eval(input)
      if (v != null) {
        val h = v.asInstanceOf[Long]
        val j = (h & (m - 1)).toInt
        val w = h >>> 6           // 54 significant bits
        val rho = (rhoMax - (64 - java.lang.Long.numberOfLeadingZeros(w))).toByte
        if (rho > buf(j)) buf(j) = rho
      }
      buf
    }

    override def merge(b1: Array[Byte], b2: Array[Byte]): Array[Byte] = {
      var j = 0
      while (j < m) { if (b2(j) > b1(j)) b1(j) = b2(j); j += 1 }
      b1
    }

    override def eval(buf: Array[Byte]): Any = {
      var s = 0L; var empty = 0L; var j = 0
      while (j < m) {
        s += 1L << (rhoMax - buf(j))
        if (buf(j) == 0) empty += 1
        j += 1
      }
      // α₆₄ = 0.709 (the published m=64 constant — a short literal both
      // engines parse to the same double); raw = α·m²·2^55 / S, one division
      val raw = 0.709 * 4096.0 * 36028797018963968.0 / s.toDouble
      val est =
        if (raw <= 160.0 && empty > 0) 64.0 * math.log(64.0 / empty)
        else raw
      new GenericInternalRow(Array[Any](s, empty, est))
    }

    override def serialize(buf: Array[Byte]): Array[Byte] = buf
    override def deserialize(bytes: Array[Byte]): Array[Byte] = bytes

    override def dataType: DataType = StructType(Seq(
      StructField("s_reg", LongType), StructField("n_empty", LongType),
      StructField("est", DoubleType)))
    override def nullable: Boolean = false
    override def children: Seq[Expression] = Seq(child)
    override protected def withNewChildrenInternal(
        newChildren: IndexedSeq[Expression]): Expression =
      copy(child = newChildren.head)
    override def withNewMutableAggBufferOffset(newOffset: Int): HllSketchAgg =
      copy(mutableAggBufferOffset = newOffset)
    override def withNewInputAggBufferOffset(newOffset: Int): HllSketchAgg =
      copy(inputAggBufferOffset = newOffset)
    override def prettyName: String = "hll_distinct"
  }

  /** The bounded-buffer aggregate: buffer = the ≤k smallest distinct hashes
    * seen so far. Update is O(log k); merge is set-union-then-truncate —
    * associative and commutative, so Spark may combine partials in any
    * order without changing the result (determinism the oracle relies on). */
  case class KmvSketchAgg(child: Expression, k: Int,
                          mutableAggBufferOffset: Int = 0,
                          inputAggBufferOffset: Int = 0)
      extends TypedImperativeAggregate[java.util.TreeSet[java.lang.Long]] {

    override def createAggregationBuffer(): java.util.TreeSet[java.lang.Long] =
      new java.util.TreeSet[java.lang.Long]()

    private def add(buf: java.util.TreeSet[java.lang.Long], h: Long): Unit = {
      buf.add(h)
      if (buf.size > k) buf.pollLast()
    }

    override def update(buf: java.util.TreeSet[java.lang.Long],
                        input: InternalRow): java.util.TreeSet[java.lang.Long] = {
      val v = child.eval(input)
      if (v != null) add(buf, v.asInstanceOf[Long])
      buf
    }

    override def merge(b1: java.util.TreeSet[java.lang.Long],
                       b2: java.util.TreeSet[java.lang.Long]): java.util.TreeSet[java.lang.Long] = {
      val it = b2.iterator()
      while (it.hasNext) add(b1, it.next())
      b1
    }

    override def eval(buf: java.util.TreeSet[java.lang.Long]): Any = {
      val n = buf.size
      if (n == 0) return new GenericInternalRow(Array[Any](0L, 0L, 0.0))
      val hk = buf.last().longValue()
      val est =
        if (n < k) n.toDouble // sketch not full ⇒ it IS the distinct set
        else ((k - 1).toDouble * HashSpace) / hk.toDouble
      new GenericInternalRow(Array[Any](n.toLong, hk, est))
    }

    override def serialize(buf: java.util.TreeSet[java.lang.Long]): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(4 + 8 * buf.size)
      bb.putInt(buf.size)
      val it = buf.iterator()
      while (it.hasNext) bb.putLong(it.next().longValue())
      bb.array()
    }

    override def deserialize(bytes: Array[Byte]): java.util.TreeSet[java.lang.Long] = {
      val bb = java.nio.ByteBuffer.wrap(bytes)
      val n = bb.getInt
      val buf = createAggregationBuffer()
      var i = 0
      while (i < n) { buf.add(bb.getLong); i += 1 }
      buf
    }

    override def dataType: DataType = StructType(Seq(
      StructField("n_kept", LongType), StructField("hk", LongType),
      StructField("est", DoubleType)))
    override def nullable: Boolean = false
    override def children: Seq[Expression] = Seq(child)
    override protected def withNewChildrenInternal(
        newChildren: IndexedSeq[Expression]): Expression =
      copy(child = newChildren.head)
    override def withNewMutableAggBufferOffset(newOffset: Int): KmvSketchAgg =
      copy(mutableAggBufferOffset = newOffset)
    override def withNewInputAggBufferOffset(newOffset: Int): KmvSketchAgg =
      copy(inputAggBufferOffset = newOffset)
    override def prettyName: String = "kmv_distinct"
  }
}
