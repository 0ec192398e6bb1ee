package graft.core

import org.apache.spark.sql.{DataFrame, Encoders, Row, classic}
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.execution.LogicalRDD

/** The round driver every iterative OLAP and SSSP kernel runs on. The
  * caller gives the initial state, a round budget and the round body; the
  * driver returns the final state and the number of rounds run, and is the
  * ONE place that knows the cut policy:
  *  - `cutEach` kernels get a lazy `localCheckpoint` on each relation the
  *    body passes through [[Round.cut]]; other kernels keep one plan;
  *  - a drain is one count per round over a relation that reads the cut:
  *    it materializes the round, and its answer ends the loop;
  *  - at most [[MaxNested]] rounds nest without materialization: the round
  *    that reaches the bound (unless it is the last) is a barrier — its
  *    relations are counted, and each takes its statistics from its
  *    measured row count instead of the compounded origin estimate (never
  *    above that estimate, so an estimate that did not compound stays).
  *
  * Three costs grow with the rounds that nest un-materialized (measured
  * before the bound existed: 4-core x86 host, `local[4]`, the 6-vertex
  * modern graph):
  *  - task-stack depth: each lazy cut nests the serialized task lineage one
  *    level deeper; `lpa` at 80 rounds threw `StackOverflowError` in task
  *    deserialization and Spark's uncaught-exception handler killed the JVM;
  *  - plan-build time: a loop that never cuts re-plans its whole unrolled
  *    plan; `eigenvector` took 9.5 s at 10 rounds, 22.3 s at 30 and 127 s
  *    at 100;
  *  - estimate compounding: a `localCheckpoint` relation carries its origin
  *    plan's size estimate (Spark 4.1), and a self-join round multiplies
  *    it; `kTruss`'s estimate had 22, 195, 1756 and 15799 digits after 2,
  *    4, 6 and 8 rounds, and at 30 rounds it did not finish in 150 s.
  *
  * Below the bound every kernel keeps its round's plan shape; the bound is
  * a constant, not an option. */
object Superstep {

  /** The most rounds that nest without materialization. */
  private val MaxNested = 8

  /** The handle a round body gets: its 1-based `index`, the row count of the
    * previous round's drain (`lastCount`, -1 before the first), and
    * [[cut]]. */
  final class Round private[Superstep] (val index: Int, val lastCount: Long,
                                        cutEach: Boolean, barrier: Boolean) {
    /** The driver's cut for a relation this round carries forward. */
    def cut(df: DataFrame): DataFrame =
      if (barrier) measured(df.localCheckpoint(false))
      else if (cutEach) df.localCheckpoint(false)
      else df
  }

  /** What a round hands back: the next state and, for a drained loop, the
    * relation whose row count materializes the round; the loop ends when
    * `done` holds for that count. */
  final case class Step[S](state: S, drain: Option[DataFrame] = None,
                           done: Long => Boolean = (_: Long) == 0L)

  /** `drained`: a drain ended the loop before the round budget ran out. */
  final case class Result[S](state: S, rounds: Int, drained: Boolean)

  def run[S](init: S, maxRounds: Int, cutEach: Boolean = true)(
      body: (S, Round) => Step[S]): Result[S] = {
    var state = init
    var depth = 0      // rounds since the last materialization
    var last = -1L
    var r = 0
    while (r < maxRounds) {
      r += 1
      val barrier = depth + 1 >= MaxNested && r < maxRounds
      val step = body(state, new Round(r, last, cutEach, barrier))
      state = step.state
      depth = if (barrier) 0 else depth + 1
      for (d <- step.drain) {
        last = d.count()
        depth = 0
        if (step.done(last)) return Result(state, r, drained = true)
      }
    }
    Result(state, r, drained = false)
  }

  /** Counts a cut relation (materializing it) and re-plans it over the same
    * blocks with statistics from the measured row count — never above the
    * origin estimate, so a plan whose estimate did not compound plans as
    * before. */
  private def measured(cut: DataFrame): DataFrame = {
    val rows = cut.count()
    val rdd = cut.queryExecution.analyzed.asInstanceOf[LogicalRDD]
    val session = cut.sparkSession.asInstanceOf[classic.SparkSession]
    val rowBytes = 8L + cut.schema.map(_.dataType.defaultSize.toLong).sum
    val stats = Statistics(rdd.stats.sizeInBytes.min(BigInt(rows) * rowBytes),
      Some(BigInt(rows)))
    new classic.Dataset[Row](session,
      rdd.copy()(session, Some(stats), Some(rdd.constraints)), Encoders.row(cut.schema))
  }
}
