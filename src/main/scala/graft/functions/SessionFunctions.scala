package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.Expression

/** Session-scoped native functions. Operators register their kernels on
  * every call, so registration must be idempotent: replacing a registered
  * builder logs a WARN each time and gains nothing, since the builders never
  * change within a session. */
object SessionFunctions {

  /** Registers `name` in the session's function registry unless it is
    * already there. */
  def registerOnce(spark: SparkSession, name: String)(
      builder: Seq[Expression] => Expression): Unit = {
    val reg = spark.sessionState.functionRegistry
    reg.synchronized {
      if (!reg.functionExists(FunctionIdentifier(name)))
        reg.createOrReplaceTempFunction(name, builder, "built-in")
    }
  }
}
