package graft

/** The session factory and the entry points' argument handling. Runs on
  * the shared test session and never calls a `main`: each `main` stops its
  * session and exits the JVM on a usage error. */
class ToolsSpec extends SparkSpec {

  test("the shared test session carries the factory's settings") {
    val cpus = SparkSpec.cpus
    assert(spark.sparkContext.master === s"local[$cpus]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") === cpus.toString)
    assert(spark.conf.get("spark.sql.adaptive.enabled") === "true")
    assert(spark.conf.get("spark.sql.adaptive.coalescePartitions.parallelismFirst") === "false")
    assert(spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes") === "8m")
    assert(spark.conf.get("spark.sql.session.timeZone") === "UTC")
    assert(spark.sparkContext.getConf.get("spark.ui.enabled") === "false")
  }

  test("the entry subcommand returns rows on sf0.001") {
    assert(Tools.parse(Array("entry")).isRight)
    assert(Tools.entry(spark, Nil) > 0)
  }

  test("an unknown or missing subcommand gives the usage line listing every subcommand") {
    for (args <- Seq(Array("no-such-tool"), Array.empty[String], Array("bench-one"))) {
      val msg = Tools.parse(args).swap.toOption.get
      assert(msg.startsWith("usage: graft.Tools"))
      Tools.subcommands.foreach(sub => assert(msg.contains(sub.name)))
    }
    assert(Tools.parse(Array("bench-one", "q_kneighbor")).isRight)
  }

  test("Verify takes two or three arguments and gives the usage line otherwise") {
    assert(Verify.usage.startsWith("usage: graft.Verify"))
    for (n <- Seq(0, 1, 4))
      assert(Verify.parseArgs(Array.fill(n)("x")) === Left(Verify.usage))
    assert(Verify.parseArgs(Array("sf", "out")) === Right(("sf", "out", None)))
    assert(Verify.parseArgs(Array("sf", "out", "q_a,q_b")) ===
      Right(("sf", "out", Some(Set("q_a", "q_b")))))
  }
}
