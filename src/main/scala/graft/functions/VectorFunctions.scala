package graft.functions

import org.apache.spark.sql.{Column, SparkSession, functions => F}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Vector similarity over `array<float>` embedding columns.
  *
  * The composable route (`zip_with` + `aggregate`) materializes an
  * intermediate array per row; for ANN brute force over 100 TB that
  * allocation dominates. [[CosineSimExpr]] / [[DotProductExpr]] are native
  * Catalyst expressions that loop the two float arrays directly and stay
  * inside whole-stage codegen via a static-method call (no UDF, no
  * serialization boundary). Preference order per SURVEY §4.3 / spark_guide:
  * built-ins < native Expression < UDF — this is the middle rung, used only
  * because the built-in composition genuinely allocates.
  */
object VectorFunctions {

  /** Static kernels referenced from generated code — must be `public static`
    * (object methods compile to static under a `$` class; we expose a Java
    * static-friendly forwarder below). */
  def cosine(a: ArrayData, b: ArrayData): Double = cosineFF(a, b)

  def cosineFF(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) {
      // widen to double BEFORE multiplying — float*float would round twice
      // and diverge from any double-precision re-computation of the result
      val x = a.getFloat(i).toDouble; val y = b.getFloat(i).toDouble
      dot += x * y; na += x * x; nb += y * y; i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / math.sqrt(na * nb)
  }

  /** Mixed-element-type kernels (float embedding × double centroid etc.) —
    * k-means centroids are double arrays (the per-dimension mean leaves
    * float space), so each (left, right) element-type pair gets its own
    * static codegen target; same fold order as [[cosineFF]]. */
  def cosineFD(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble; val y = b.getDouble(i)
      dot += x * y; na += x * x; nb += y * y; i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / math.sqrt(na * nb)
  }

  def cosineDF(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) {
      val x = a.getDouble(i); val y = b.getFloat(i).toDouble
      dot += x * y; na += x * x; nb += y * y; i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / math.sqrt(na * nb)
  }

  def cosineDD(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) {
      val x = a.getDouble(i); val y = b.getDouble(i)
      dot += x * y; na += x * x; nb += y * y; i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / math.sqrt(na * nb)
  }

  def dot(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0; var i = 0
    while (i < n) { s += a.getFloat(i).toDouble * b.getFloat(i); i += 1 }
    s
  }

  abstract class VecBinary extends BinaryExpression {
    // inputs are array<float> / array<double>; callers pass embedding
    // columns (or trained centroids) directly
    override def dataType: DataType = DoubleType
    protected def kernel: String // fully-qualified static call target
    protected def compute(a: ArrayData, b: ArrayData): Double
    /** "F"/"D" element-type tag used to pick the static kernel overload. */
    protected def elemTag(e: Expression): String = e.dataType match {
      case ArrayType(FloatType, _)  => "F"
      case ArrayType(DoubleType, _) => "D"
      case dt => throw new IllegalArgumentException(
        s"$prettyName expects array<float|double>, got $dt")
    }
    override def nullSafeEval(a: Any, b: Any): Any =
      compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = $kernel($a, $b);")
  }

  case class CosineSimExpr(left: Expression, right: Expression) extends VecBinary {
    private lazy val tags = (elemTag(left), elemTag(right))
    override protected def kernel: String =
      s"graft.functions.VectorFunctions.cosine${tags._1}${tags._2}"
    override protected def compute(a: ArrayData, b: ArrayData): Double = tags match {
      case ("F", "F") => cosineFF(a, b)
      case ("F", "D") => cosineFD(a, b)
      case ("D", "F") => cosineDF(a, b)
      case _          => cosineDD(a, b)
    }
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
    override def prettyName: String = "cosine_sim"
  }

  case class DotProductExpr(left: Expression, right: Expression) extends VecBinary {
    override protected def kernel: String = "graft.functions.VectorFunctions.dot"
    override protected def compute(a: ArrayData, b: ArrayData): Double = dot(a, b)
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
    override def prettyName: String = "dot_product"
  }

  /** Register `cosine_sim` / `dot_product` for this session (idempotent). */
  def register(spark: SparkSession): Unit = {
    SessionFunctions.registerOnce(spark, "cosine_sim")(es => CosineSimExpr(es.head, es(1)))
    SessionFunctions.registerOnce(spark, "dot_product")(es => DotProductExpr(es.head, es(1)))
    SessionFunctions.registerOnce(spark, "upper_tri_products6")(
      es => UpperTriProducts6Expr(es.head, es(1).eval().asInstanceOf[Int]))
  }

  def cosineSim(a: Column, b: Column): Column = call_function("cosine_sim", a, b)
  def dotProduct(a: Column, b: Column): Column = call_function("dot_product", a, b)

  /** Pure-builtin fallback (also the cross-check in tests). */
  def cosineSimBuiltin(a: Column, b: Column): Column = {
    val dot = aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)
    val na = aggregate(a, lit(0.0), (acc, v) => acc + v.cast("double") * v.cast("double"))
    val nb = aggregate(b, lit(0.0), (acc, v) => acc + v.cast("double") * v.cast("double"))
    when(na === 0.0 || nb === 0.0, lit(0.0)).otherwise(dot / sqrt(na * nb))
  }

  /** Symmetric int8 quantization: q_i = round(127·x_i / s), s = max|x_i|.
    * The embedding-storage trade at scale (4× smaller vectors, ~0.5% cosine
    * error); round-half-away-from-zero in BOTH Spark and DuckDB, so the
    * quantized codes are exactly reproducible. Returns struct(q, scale). */
  def quantizeInt8(v: Column): Column = {
    val s = aggregate(v, lit(0.0), (acc, x) => greatest(acc, abs(x.cast("double"))))
    struct(
      when(s === 0.0, transform(v, _ => lit(0)))
        .otherwise(transform(v, x => round(x.cast("double") * 127.0 / s).cast("int")))
        .as("q"),
      s.as("scale"))
  }

  /** Inverse of [[quantizeInt8]]: x̂_i = q_i · scale / 127 (double array). */
  def dequantizeInt8(q: Column, scale: Column): Column =
    transform(q, qi => qi.cast("double") * scale / 127.0)

  /** Sign-random-projection (SRP/LSH) bucket for cosine similarity: `bits`
    * hyperplanes with deterministic ±1 coefficients derived from md5 of
    * (plane, dim). Vectors in the same bucket are near-duplicate candidates —
    * the scale path for ANN: bucket-join instead of cross-join. */
  /** Deterministic ±1 hyperplane coefficients (md5-derived) — shared with
    * the SQL oracle, which embeds them as literals. */
  def planeSigns(bits: Int, dims: Int): Seq[Seq[Int]] =
    (0 until bits).map { p =>
      (0 until dims).map { d =>
        val h = java.security.MessageDigest.getInstance("MD5")
          .digest(s"srp:$p:$d".getBytes("UTF-8"))
        if ((h(0) & 1) == 0) 1 else -1
      }
    }

  def srpBucket(v: Column, bits: Int, dims: Int): Column = {
    val bitCols = planeSigns(bits, dims).map { signs =>
      val dotp = aggregate(
        zip_with(v, lit(signs.toArray), (x, s) => x.cast("double") * s.cast("double")),
        lit(0.0), (acc, x) => acc + x)
      when(dotp >= 0, lit("1")).otherwise(lit("0"))
    }
    concat(bitCols: _*)
  }

  /** Exact upper-triangle cross products of the round-6 decimal view of a
    * vector, as one codegen'd kernel call per row — the PCA covariance
    * hot path. Replaces the nested `transform(sequence(...))` composition,
    * which Spark evaluates INTERPRETED (higher-order functions are not
    * whole-stage-codegen'd) with a BigDecimal multiply per term: d(d+1)/2
    * terms per row made the cross-moment pass the slowest single job in
    * the bench. The kernel reproduces the exact decimal pipeline
    * `round(cast(x as double), 6).cast(decimal(18,6))` per element (same
    * BigDecimal.valueOf string-based rounding Spark's Round/Cast use), then
    * multiplies SCALED LONGS — each struct's `xy` is the identical
    * decimal(37,12) value the expression composition produced, so sums and
    * the oracle comparison are bit-for-bit unchanged (PcaSpec pins this).
    * r16 hardening (r15 ADVICE): iterates the CALLER's `dim` (extra array
    * elements are ignored, exactly dim(dim+1)/2 terms emitted); a missing
    * (index ≥ length) or null element yields a null `xy` (the old
    * element_at null propagation); a scaled-long product overflow
    * (element magnitudes past ~3e3 at scale 6×6) falls back to the exact
    * BigDecimal multiply the old expression path computed — identical
    * decimal(37,12) value, never a crash. */
  def upperTri6F(a: ArrayData, dim: Int): ArrayData = upperTri6(a, dim, isFloat = true)
  def upperTri6D(a: ArrayData, dim: Int): ArrayData = upperTri6(a, dim, isFloat = false)

  private def upperTri6(a: ArrayData, dim: Int, isFloat: Boolean): ArrayData = {
    import java.math.{BigDecimal => JBD, BigInteger, RoundingMode}
    val n = a.numElements()
    val s = new Array[Long](dim)
    val nul = new Array[Boolean](dim)
    var k = 0
    while (k < dim) {
      if (k >= n || a.isNullAt(k)) nul(k) = true
      else {
        val d = if (isFloat) a.getFloat(k).toDouble else a.getDouble(k)
        // Round(double, 6): string-based BigDecimal, HALF_UP, back to double
        val rd = JBD.valueOf(d).setScale(6, RoundingMode.HALF_UP).doubleValue()
        // Cast(double -> decimal(18,6)): string-based BigDecimal again
        s(k) = JBD.valueOf(rd).setScale(6, RoundingMode.HALF_UP)
          .movePointRight(6).longValueExact()
      }
      k += 1
    }
    val out = new Array[Any](dim * (dim + 1) / 2)
    var idx = 0
    var i = 0
    while (i < dim) {
      val si = s(i)
      var j = i
      while (j < dim) {
        val xy: Any =
          if (nul(i) || nul(j)) null
          else try
            org.apache.spark.sql.types.Decimal.createUnsafe(
              Math.multiplyExact(si, s(j)), 37, 12)
          catch { case _: ArithmeticException =>
            org.apache.spark.sql.types.Decimal(
              scala.math.BigDecimal(new JBD(
                BigInteger.valueOf(si).multiply(BigInteger.valueOf(s(j))), 12)),
              37, 12)
          }
        out(idx) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array[Any](i, j, xy))
        idx += 1
        j += 1
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** `array<struct<i:int, j:int, xy:decimal(37,12)>>` of the upper-triangle
    * round-6 cross products — see [[upperTri6F]]. */
  case class UpperTriProducts6Expr(child: Expression, dim: Int)
      extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
    import org.apache.spark.sql.types._
    private lazy val isFloat = child.dataType match {
      case ArrayType(FloatType, _)  => true
      case ArrayType(DoubleType, _) => false
      case dt => throw new IllegalArgumentException(
        s"upper_tri_products6 expects array<float|double>, got $dt")
    }
    override def dataType: DataType = ArrayType(StructType(Seq(
      StructField("i", IntegerType, nullable = false),
      StructField("j", IntegerType, nullable = false),
      // nullable: a null/missing element propagates into its products
      StructField("xy", DecimalType(37, 12), nullable = true))),
      containsNull = false)
    override def nullSafeEval(v: Any): Any =
      upperTri6(v.asInstanceOf[ArrayData], dim, isFloat)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val kernel = if (isFloat) "graft.functions.VectorFunctions.upperTri6F"
                   else "graft.functions.VectorFunctions.upperTri6D"
      defineCodeGen(ctx, ev, a => s"$kernel($a, $dim)")
    }
    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
    override def prettyName: String = "upper_tri_products6"
  }

  def upperTriProducts6(v: Column, dim: Int): Column =
    call_function("upper_tri_products6", v, lit(dim))
}
