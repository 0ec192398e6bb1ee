package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One verifiable operator: a Spark implementation plus (when expressible)
  * an equivalent DuckDB SQL oracle over the same parquet tables. Column
  * names are aligned on both sides — the driver sorts columns by name and
  * hash-compares values. Doubles are rounded on both sides; money sums go
  * through DECIMAL(18,2) so engine-side fp accumulation order can't differ. */
final case class QueryDef(
    name: String,
    impl: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    /** included in the headline bench set */
    bench: Boolean = false)

object QueryDef {
  def q(name: String, oracle: String, bench: Boolean = false)(
      impl: (SparkSession, String) => DataFrame): QueryDef =
    QueryDef(name, impl, Some(oracle), bench)
}
