package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev benchmark: measures what the bucketed edge store buys END TO END on
  * the workload it exists for — repeated frontier joins against a stored
  * edge relation that is NOT pinned in memory. This is the 100 TB case: a
  * cluster cannot localCheckpoint a 100 TB edge table, so every BFS hop
  * re-reads the store; with a plain parquet layout each hop must hash-
  * partition the edge side (full shuffle of the big table per query),
  * while a `bucketBy(src)` catalog table is already partitioned on the
  * join key — only the (small) frontier side ever moves.
  *
  * StoreAndPlansSpec proves the one-Exchange plan shape; this tool turns
  * it into wall-clock numbers for EXPLAINS.md.
  *
  * Usage: runMain graft.Tools bench-bucketed [sfDir] [hops] [buckets]
  */
object BenchBucketed {
  def run(spark: SparkSession, args: Seq[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val hops = args.lift(1).fold(4)(_.toInt)
    val buckets = args.lift(2).fold(32)(_.toInt)

    val g = graft.core.TpchGraph.build(spark, sfDir)
    val edgeCols = g.edges.select(col("src"), col("dst"))

    // store both layouts
    val plainDir = "/tmp/graft_bench_plain_edges"
    edgeCols.write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(plainDir)
    spark.sql("DROP TABLE IF EXISTS bench_bucketed_edges")
    // a crashed previous run can leave the managed location behind
    org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path("spark-warehouse/bench_bucketed_edges"), true)
    graft.sources.GraphStore.saveBucketedEdges(edgeCols, "bench_bucketed_edges", buckets)

    // frontier seeds: every 100th customer
    val seeds = graft.core.Tables.customer(spark, sfDir)
      .filter(col("c_custkey") % 100 === 0)
      .select(concat(lit("customer:"), col("c_custkey").cast("string")).as("id"))

    def bfs(edges: DataFrame): (Double, Long) = {
      val t0 = System.nanoTime()
      var frontier = seeds
      var n = 0L
      for (_ <- 1 to hops) {
        frontier = frontier.select(col("id").as("src"))
          .join(edges, Seq("src"))
          .select(col("dst").as("id")).distinct()
          .localCheckpoint(true)
        n = frontier.count()
      }
      ((System.nanoTime() - t0) / 1e9, n)
    }

    // warm both sources once (footers/codegen), then measure
    spark.read.parquet(plainDir).count()
    spark.table("bench_bucketed_edges").count()
    bfs(spark.read.parquet(plainDir))
    val (tPlain, nPlain) = bfs(spark.read.parquet(plainDir))
    bfs(spark.table("bench_bucketed_edges"))
    val (tBucketed, nBucketed) = bfs(spark.table("bench_bucketed_edges"))
    require(nPlain == nBucketed, s"result mismatch: $nPlain vs $nBucketed")

    println(f"""{"metric":"bucketed_frontier_join","sf":"$sfDir","hops":$hops,""" +
      f""""plain_sec":$tPlain%.2f,"bucketed_sec":$tBucketed%.2f,""" +
      f""""frontier_rows":$nPlain,"speedup":${tPlain / tBucketed}%.2f}""")
  }
}
