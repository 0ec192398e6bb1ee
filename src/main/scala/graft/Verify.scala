package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  val usage = "usage: graft.Verify <sfDir> <outDir> [q_a,q_b,...]"

  /** (sfDir, outDir, optional query-name filter), or the usage line. The
    * optional 3rd arg is a comma-separated filter for dev iteration; two
    * args run the full suite. */
  def parseArgs(args: Array[String]): Either[String, (String, String, Option[Set[String]])] =
    args match {
      case Array(s, o)    => Right((s, o, None))
      case Array(s, o, f) => Right((s, o, Some(f.split(",").toSet)))
      case _              => Left(usage)
    }

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir, only) = parseArgs(args) match {
      case Right(parsed) => parsed
      case Left(msg) => System.err.println(msg); sys.exit(2)
    }
    val spark = Session.local()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
