package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared session: one lazy SparkSession per suite-classloader, built by
  * the same factory as the entry points at a fixed `local[4]`, so plan-shape
  * and partition-count assertions do not follow `SPARK_GRAFT_CPUS`. */
object SparkSpec {
  val cpus = 4
  lazy val spark: SparkSession = Session.local(cpus)
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark

  def ids(df: DataFrame, col: String = "id"): Set[String] =
    df.select(col).collect().map(_.getString(0)).toSet
}
