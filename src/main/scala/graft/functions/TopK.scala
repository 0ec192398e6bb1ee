package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, GenericInternalRow, Literal, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.util.{GenericArrayData, TypeUtils}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType, StructField, StructType}

/** Bounded-heap per-group top-N — the aggregate form of "rank within key
  * and keep the head", replacing the `row_number() OVER (PARTITION BY …
  * ORDER BY …) <= N` pattern whose window must SORT every row of every
  * group. Here each task folds its partition into a ≤k-element ordered
  * buffer; partials merge associatively, so per group exactly k (ord,
  * payload) pairs cross the wire and nothing is ever fully sorted — the
  * per-key sibling of Spark's global `TakeOrderedAndProject`. At 100 TB
  * (billions of rows, millions of keys) the window formulation shuffles
  * and sorts the corpus; this shuffles k·|keys| pairs.
  *
  * Determinism: rows rank by (ord DESC, payload ASC); (ord, payload) pairs
  * dedup inside the buffer, so with a unique payload (an id column) the
  * result is the exact top-k. */
object TopK {

  /** Idempotent session registration (the [[graft.ops.Sketch]] route).
    *
    * Contract (SQL and [[topKBy]] alike): `payload` must be UNIQUE within
    * each group — the buffer dedups exact (ord, payload) pairs, so a
    * repeated payload value can return fewer than k rows and diverge from
    * the `row_number` formulation this replaces. Pass the group's id
    * column, not a free-form value. `ord` is coerced to double and
    * `payload` to long here, so raw SQL `top_k_by(...)` gets the same
    * input coercion as the Scala wrapper.
    *
    * NULL handling: a NULL (or non-long-castable) `payload` THROWS — a
    * silent skip would make rows vanish with no error. A NULL `ord` row is
    * DROPPED, not ranked: the `row_number` window this replaces ranks NULL
    * ord LAST (NULLS LAST under DESC), so results differ from the window
    * formulation only for groups with fewer than k non-null-ord rows —
    * callers that must surface such rows should coalesce ord first. */
  def registerKernels(df: org.apache.spark.sql.DataFrame): Unit = {
    SessionFunctions.registerOnce(df.sparkSession, "top_k_by") { es =>
      val k = es(2) match {
        case Literal(v, _) => v.toString.toInt
        case other => throw new IllegalArgumentException(
          s"top_k_by k must be a literal, got $other")
      }
      TopKByAgg(Cast(es.head, DoubleType), Cast(es(1), LongType), k)
        .toAggregateExpression()
    }
    SessionFunctions.registerOnce(df.sparkSession, "top_k_rows") { es =>
      val k = es(3) match {
        case Literal(v, _) => v.toString.toInt
        case other => throw new IllegalArgumentException(
          s"top_k_rows k must be a literal, got $other")
      }
      TopKRowsAgg(Cast(es.head, DoubleType), es(1), es(2), k)
        .toAggregateExpression()
    }
  }

  /** Top-k `(ord, payload)` pairs per group, ranked (ord DESC, payload
    * ASC): returns `array<struct<ord double, payload bigint>>` in rank
    * order. Call [[registerKernels]] first; `ord` is cast to double,
    * `payload` to long. */
  def topKBy(ord: Column, payload: Column, k: Int): Column =
    org.apache.spark.sql.functions.call_function("top_k_by",
      ord.cast("double"), payload.cast("long"),
      org.apache.spark.sql.functions.lit(k))

  /** Row-carrying sibling of [[topKBy]]: keeps the k best FULL ROWS per
    * group, ranked (ord DESC, tie ASC), returning `array<payload struct>`
    * in rank order — for top-k selections whose output needs more columns
    * than (ord, id), where the pair-heap would force a join-back over the
    * scored stream to recover them. `tie` may be any orderable type (a
    * string or numeric id — NOT coerced to long like [[topKBy]]'s payload)
    * and must be UNIQUE within the group; NULL ord rows are dropped, NULL
    * tie throws (same contract as [[topKBy]]). Call [[registerKernels]]
    * first. */
  def topKRows(ord: Column, tie: Column, payload: Column, k: Int): Column =
    org.apache.spark.sql.functions.call_function("top_k_rows",
      ord.cast("double"), tie, payload,
      org.apache.spark.sql.functions.lit(k))

  /** Buffer = the ≤k best (ord, payload) pairs, ordered worst-first so
    * eviction is `pollFirst`. Merge = fold-and-truncate — associative and
    * commutative, safe under any partial-combine order. */
  case class TopKByAgg(ord: Expression, payload: Expression, k: Int,
                       mutableAggBufferOffset: Int = 0,
                       inputAggBufferOffset: Int = 0)
      extends TypedImperativeAggregate[java.util.TreeSet[(Double, Long)]] {

    // worst-first: ascending ord, then DESCENDING payload (bigger payload
    // loses the tie), so first() is always the element to evict
    private def cmp = new java.util.Comparator[(Double, Long)] {
      override def compare(a: (Double, Long), b: (Double, Long)): Int = {
        val c = java.lang.Double.compare(a._1, b._1)
        if (c != 0) c else java.lang.Long.compare(b._2, a._2)
      }
    }

    override def createAggregationBuffer(): java.util.TreeSet[(Double, Long)] =
      new java.util.TreeSet[(Double, Long)](cmp)

    private def add(buf: java.util.TreeSet[(Double, Long)],
                    o: Double, p: Long): Unit = {
      buf.add((o, p))
      if (buf.size > k) buf.pollFirst()
    }

    override def update(buf: java.util.TreeSet[(Double, Long)],
                        input: InternalRow): java.util.TreeSet[(Double, Long)] = {
      val o = ord.eval(input)
      val p = payload.eval(input)
      // A null payload is a contract violation, not a rankable row: it is
      // either a genuinely-null id or a non-numeric value the (non-ANSI)
      // long cast nulled out — silently skipping it would make rows vanish
      // with no error (diverging from the row_number formulation). Fail.
      if (p == null) throw new IllegalArgumentException(
        "top_k_by payload must be non-null and castable to long (got null " +
          "after cast — a string id or null id column?); pass the group's " +
          "numeric unique id")
      if (o != null) add(buf, o.asInstanceOf[Double], p.asInstanceOf[Long])
      buf
    }

    override def merge(b1: java.util.TreeSet[(Double, Long)],
                       b2: java.util.TreeSet[(Double, Long)]): java.util.TreeSet[(Double, Long)] = {
      val it = b2.iterator()
      while (it.hasNext) { val (o, p) = it.next(); add(b1, o, p) }
      b1
    }

    override def eval(buf: java.util.TreeSet[(Double, Long)]): Any = {
      val out = new Array[Any](buf.size)
      val it = buf.descendingIterator() // best-first
      var i = 0
      while (it.hasNext) {
        val (o, p) = it.next()
        out(i) = new GenericInternalRow(Array[Any](o, p)); i += 1
      }
      new GenericArrayData(out)
    }

    override def serialize(buf: java.util.TreeSet[(Double, Long)]): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(4 + 16 * buf.size)
      bb.putInt(buf.size)
      val it = buf.iterator()
      while (it.hasNext) { val (o, p) = it.next(); bb.putDouble(o); bb.putLong(p) }
      bb.array()
    }

    override def deserialize(bytes: Array[Byte]): java.util.TreeSet[(Double, Long)] = {
      val bb = java.nio.ByteBuffer.wrap(bytes)
      val n = bb.getInt
      val buf = createAggregationBuffer()
      var i = 0
      while (i < n) { buf.add((bb.getDouble, bb.getLong)); i += 1 }
      buf
    }

    override def dataType: DataType = ArrayType(StructType(Seq(
      StructField("ord", DoubleType), StructField("payload", LongType))))
    override def nullable: Boolean = false
    override def children: Seq[Expression] = Seq(ord, payload)
    override protected def withNewChildrenInternal(
        newChildren: IndexedSeq[Expression]): Expression =
      copy(ord = newChildren(0), payload = newChildren(1))
    override def withNewMutableAggBufferOffset(newOffset: Int): TopKByAgg =
      copy(mutableAggBufferOffset = newOffset)
    override def withNewInputAggBufferOffset(newOffset: Int): TopKByAgg =
      copy(inputAggBufferOffset = newOffset)
    override def prettyName: String = "top_k_by"
  }

  /** Bounded-heap top-k FULL ROWS per group (see [[topKRows]]). Each buffer
    * element is one UnsafeRow over (ord double, tie, payload struct) —
    * projected + copied at update so nothing aliases Spark's reused input
    * rows; the comparator reads only (ord, tie), so equal (ord, tie) pairs
    * dedup exactly like [[TopKByAgg]] (tie must be unique in the group).
    * Merge folds-and-truncates, associative under any partial order — per
    * group exactly k rows cross the shuffle, nothing is fully sorted. */
  case class TopKRowsAgg(ord: Expression, tie: Expression, payload: Expression,
                         k: Int,
                         mutableAggBufferOffset: Int = 0,
                         inputAggBufferOffset: Int = 0)
      extends TypedImperativeAggregate[java.util.TreeSet[UnsafeRow]] {

    private def payloadType: StructType = payload.dataType match {
      case st: StructType => st
      case other => throw new IllegalArgumentException(
        s"top_k_rows payload must be a struct, got $other")
    }
    @transient private lazy val elemSchema = StructType(Seq(
      StructField("o", DoubleType), StructField("t", tie.dataType),
      StructField("p", payloadType)))
    @transient private lazy val proj = UnsafeProjection.create(elemSchema)
    @transient private lazy val tieOrd: Ordering[Any] =
      TypeUtils.getInterpretedOrdering(tie.dataType)

    // worst-first: ascending ord, then DESCENDING tie (bigger tie loses),
    // so first() is always the element to evict
    private def cmp = new java.util.Comparator[UnsafeRow] {
      override def compare(a: UnsafeRow, b: UnsafeRow): Int = {
        val c = java.lang.Double.compare(a.getDouble(0), b.getDouble(0))
        if (c != 0) c
        else tieOrd.compare(b.get(1, tie.dataType), a.get(1, tie.dataType))
      }
    }

    override def createAggregationBuffer(): java.util.TreeSet[UnsafeRow] =
      new java.util.TreeSet[UnsafeRow](cmp)

    private def add(buf: java.util.TreeSet[UnsafeRow], row: UnsafeRow): Unit = {
      buf.add(row)
      if (buf.size > k) buf.pollFirst()
    }

    override def update(buf: java.util.TreeSet[UnsafeRow],
                        input: InternalRow): java.util.TreeSet[UnsafeRow] = {
      val o = ord.eval(input)
      if (o == null) return buf // NULL ord is unrankable — drop (topKBy contract)
      val t = tie.eval(input)
      if (t == null) throw new IllegalArgumentException(
        "top_k_rows tie must be non-null — pass the group's unique id column")
      val p = payload.eval(input)
      add(buf, proj(new GenericInternalRow(Array[Any](o, t, p))).copy())
      buf
    }

    override def merge(b1: java.util.TreeSet[UnsafeRow],
                       b2: java.util.TreeSet[UnsafeRow]): java.util.TreeSet[UnsafeRow] = {
      val it = b2.iterator()
      while (it.hasNext) add(b1, it.next())
      b1
    }

    override def eval(buf: java.util.TreeSet[UnsafeRow]): Any = {
      val n = payloadType.size
      val out = new Array[Any](buf.size)
      val it = buf.descendingIterator() // best-first
      var i = 0
      while (it.hasNext) {
        val el = it.next()
        out(i) = if (el.isNullAt(2)) null else el.getStruct(2, n).copy()
        i += 1
      }
      new GenericArrayData(out)
    }

    override def serialize(buf: java.util.TreeSet[UnsafeRow]): Array[Byte] = {
      var total = 4
      val it0 = buf.iterator()
      while (it0.hasNext) total += 4 + it0.next().getSizeInBytes
      val bb = java.nio.ByteBuffer.allocate(total)
      bb.putInt(buf.size)
      val it = buf.iterator()
      while (it.hasNext) {
        val bytes = it.next().getBytes
        bb.putInt(bytes.length); bb.put(bytes)
      }
      bb.array()
    }

    override def deserialize(bytes: Array[Byte]): java.util.TreeSet[UnsafeRow] = {
      val bb = java.nio.ByteBuffer.wrap(bytes)
      val n = bb.getInt
      val buf = createAggregationBuffer()
      var i = 0
      while (i < n) {
        val len = bb.getInt
        val arr = new Array[Byte](len); bb.get(arr)
        val row = new UnsafeRow(elemSchema.size)
        row.pointTo(arr, len)
        buf.add(row)
        i += 1
      }
      buf
    }

    override def dataType: DataType = ArrayType(payloadType)
    override def nullable: Boolean = false
    override def children: Seq[Expression] = Seq(ord, tie, payload)
    override protected def withNewChildrenInternal(
        newChildren: IndexedSeq[Expression]): Expression =
      copy(ord = newChildren(0), tie = newChildren(1), payload = newChildren(2))
    override def withNewMutableAggBufferOffset(newOffset: Int): TopKRowsAgg =
      copy(mutableAggBufferOffset = newOffset)
    override def withNewInputAggBufferOffset(newOffset: Int): TopKRowsAgg =
      copy(inputAggBufferOffset = newOffset)
    override def prettyName: String = "top_k_rows"
  }
}
