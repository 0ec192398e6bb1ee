package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession factory: `Bench`, `Verify`, `Tools` and the test
  * suites all run on these settings, so a number measured by one entry point
  * holds for the others. */
object Session {

  /** Core count from `SPARK_GRAFT_CPUS` (default 4). */
  private def envCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(4)

  /** `local[cpus]` with one shuffle partition per core and AQE on. AQE
    * coalesces by size (`parallelismFirst=false`, 8m advisory): iterative
    * graph queries shuffle tiny frontiers, and without it every such
    * micro-shuffle keeps `cpus` tasks of pure scheduling overhead. The
    * entry points take `cpus` from the environment; the test suites pin it. */
  def local(cpus: Int = envCpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
