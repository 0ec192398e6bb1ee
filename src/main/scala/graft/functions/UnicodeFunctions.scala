package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Unicode normalization — the canonical-form cleaning stage of a text
  * pipeline (mojibake-adjacent dedup misses, search-index key unification:
  * a composed `é` and `e`+U+0301 are different byte strings until
  * normalized). The JVM's `java.text.Normalizer` does the real work; these
  * are native Catalyst expressions with `doGenCode` so the hot path stays
  * inside whole-stage codegen (the [[VectorFunctions.CosineSimExpr]]
  * pattern) — no Scala-closure UDF deopt.
  *
  * Scale shape: pure narrow maps. */
object UnicodeFunctions {

  def nfcKernel(s: UTF8String): UTF8String =
    UTF8String.fromString(java.text.Normalizer.normalize(
      s.toString, java.text.Normalizer.Form.NFC))

  /** NFD-decompose then drop combining marks — ASCII-folds the Latin
    * accent repertoire (DuckDB's `strip_accents` twin). */
  def stripAccentsKernel(s: UTF8String): UTF8String =
    UTF8String.fromString(java.text.Normalizer.normalize(
      s.toString, java.text.Normalizer.Form.NFD)
      .replaceAll("\\p{M}", ""))

  abstract class StrUnary extends UnaryExpression {
    override def dataType: DataType = StringType
    protected def kernel: String // fully-qualified static call target
    protected def compute(s: UTF8String): UTF8String
    override def nullSafeEval(s: Any): Any = compute(s.asInstanceOf[UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, s => s"$kernel($s)")
  }

  case class NfcNormalizeExpr(child: Expression) extends StrUnary {
    override protected def kernel: String =
      "graft.functions.UnicodeFunctions.nfcKernel"
    override protected def compute(s: UTF8String): UTF8String = nfcKernel(s)
    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
    override def prettyName: String = "nfc_normalize"
  }

  case class StripAccentsExpr(child: Expression) extends StrUnary {
    override protected def kernel: String =
      "graft.functions.UnicodeFunctions.stripAccentsKernel"
    override protected def compute(s: UTF8String): UTF8String =
      stripAccentsKernel(s)
    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
    override def prettyName: String = "strip_accents"
  }

  /** Register `nfc_normalize` / `strip_accents` for this session
    * (idempotent). */
  def register(spark: SparkSession): Unit = {
    SessionFunctions.registerOnce(spark, "nfc_normalize")(es => NfcNormalizeExpr(es.head))
    SessionFunctions.registerOnce(spark, "strip_accents")(es => StripAccentsExpr(es.head))
  }

  def nfcNormalize(c: Column): Column = call_function("nfc_normalize", c)
  def stripAccents(c: Column): Column = call_function("strip_accents", c)
}
