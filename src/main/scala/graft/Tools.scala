package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import scala.collection.mutable

/** Dev tools beside the `Bench` and `Verify` entry points: one main over the
  * shared [[Session]] factory. Each subcommand is a plain function of the session
  * and its arguments.
  *
  * Usage: `runMain graft.Tools <subcommand> [args...]` */
object Tools {
  /** A subcommand: its name, argument synopsis, required argument count
    * and body. */
  final case class Sub(name: String, synopsis: String, required: Int,
                       run: (SparkSession, Seq[String]) => Unit)

  val subcommands: Seq[Sub] = Seq(
    Sub("bench-one", "q_a,q_b [sfDir] [reps]", 1, benchOne),
    Sub("bench-bucketed", "[sfDir] [hops] [buckets]", 0, BenchBucketed.run),
    Sub("plan-dump", "q_a,q_b outDir tag [sfDir]", 3, planDump),
    Sub("explain", "[outFile]", 0, Explain.run),
    Sub("scale-smoke", "[copies] [only]", 0, ScaleSmoke.run),
    Sub("doc-scale-smoke", "[copies] [only]", 0, DocScaleSmoke.run),
    Sub("entry", "", 0, entry))

  val usage: String = "usage: graft.Tools <subcommand> [args]; subcommands: " +
    subcommands.map(c => s"${c.name} ${c.synopsis}".trim).mkString(" | ")

  /** The subcommand and its arguments, or the usage line. */
  def parse(args: Array[String]): Either[String, (Sub, Seq[String])] =
    args.headOption.flatMap(n => subcommands.find(_.name == n)) match {
      case Some(sub) if args.length > sub.required => Right((sub, args.toSeq.tail))
      case _ => Left(usage)
    }

  def main(args: Array[String]): Unit = parse(args) match {
    case Left(msg) => System.err.println(msg); sys.exit(2)
    case Right((sub, rest)) =>
      val spark = Session.local()
      try sub.run(spark, rest) finally spark.stop()
  }

  /** Smoke check: `SparkEntry.entry` returns rows. */
  def entry(spark: SparkSession, args: Seq[String]): Long = {
    val n = SparkEntry.entry(spark).count()
    println(s"ENTRY rows=$n")
    require(n > 0, "entry must return rows")
    n
  }

  /** Run each named query `reps` times after `Bench.warmup` (so rep 0 is
    * the bench's cold state) and print its wall-clock and slowest jobs. */
  def benchOne(spark: SparkSession, args: Seq[String]): Unit = {
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val reps = args.lift(2).fold(2)(_.toInt)
    val jobStart = mutable.Map[Int, Long]()
    val jobs = mutable.ArrayBuffer[(Int, Long)]() // id, millis
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobStart(j.jobId) = j.time
      override def onJobEnd(j: SparkListenerJobEnd): Unit =
        jobStart.remove(j.jobId).foreach(t0 => jobs.synchronized {
          jobs += ((j.jobId, j.time - t0))
        })
    })
    Bench.warmup(spark, sfDir)
    for (nm <- args.head.split(',')) {
      val fn = SparkEntry.queries(nm)
      for (r <- 0 until reps) {
        jobs.synchronized(jobs.clear())
        val t0 = System.nanoTime()
        val n = fn(spark, sfDir).count()
        val sec = (System.nanoTime() - t0) / 1e9
        val js = jobs.synchronized(jobs.toList)
        println(f"[benchone] rep=$r $nm rows=$n total=$sec%.2fs jobs=${js.size}")
        js.sortBy(-_._2).take(12).foreach { case (id, ms) =>
          println(f"[benchone]   job $id%3d  ${ms / 1000.0}%6.2fs")
        }
      }
    }
  }

  /** Dump `.explain("formatted")` for the named queries to
    * `<outDir>/<name>_<tag>.txt` — the before/after plan evidence the
    * optimization rounds commit under `plans/`. */
  def planDump(spark: SparkSession, args: Seq[String]): Unit = {
    val names = args.head.split(",").map(_.trim).filter(_.nonEmpty)
    val outDir = java.nio.file.Paths.get(args(1))
    val tag = args(2)
    val d = args.lift(3).getOrElse("/root/testdata/sf0.01")
    java.nio.file.Files.createDirectories(outDir)
    names.foreach { n =>
      val plan = SparkEntry.queries(n)(spark, d).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.write(outDir.resolve(s"${n}_$tag.txt"),
        plan.getBytes("UTF-8"))
      println(s"[plandump] wrote ${n}_$tag.txt (${plan.length} chars)")
    }
  }
}
