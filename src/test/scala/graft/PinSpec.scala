package graft

import graft.core.Pin
import org.apache.spark.sql.functions._

/** The pin cache must NEVER false-share: distinct plans get distinct
  * materializations; same-result plans share one. */
class PinSpec extends SparkSpec {
  import spark.implicits._

  test("same-result plans share one materialization") {
    val df = Seq(1, 2, 3, 4).toDF("x")
    val a = Pin.pin(df.filter(col("x") > 1))
    val b = Pin.pin(df.filter(col("x") > 1))
    assert(a.rdd.id === b.rdd.id) // literally the same checkpointed RDD
    assert(a.collect().map(_.getInt(0)).sorted === Array(2, 3, 4))
  }

  test("different predicates never false-share") {
    val df = Seq(1, 2, 3, 4).toDF("x")
    val gt = Pin.pin(df.filter(col("x") > 2))
    val lt = Pin.pin(df.filter(col("x") < 2))
    assert(gt.collect().map(_.getInt(0)).sorted === Array(3, 4))
    assert(lt.collect().map(_.getInt(0)).sorted === Array(1))
  }

  test("different literals and column sets never false-share") {
    val df = Seq((1, "a"), (2, "b")).toDF("x", "s")
    val one = Pin.pin(df.filter(col("x") === 1).select(col("s")))
    val two = Pin.pin(df.filter(col("x") === 2).select(col("s")))
    val wide = Pin.pin(df.filter(col("x") === 1))
    assert(one.head().getString(0) === "a")
    assert(two.head().getString(0) === "b")
    assert(wide.columns.toSeq === Seq("x", "s"))
  }

  test("distinct vs non-distinct plans are distinct entries") {
    val df = Seq(1, 1, 2).toDF("x")
    assert(Pin.pin(df).count() === 3L)
    assert(Pin.pin(df.distinct()).count() === 2L)
  }

  test("clear after an in-place parquet overwrite: traversals answer from the new data") {
    import graft.core.{Direction, GraphSchema, LocalAdjacency, PropertyGraph}
    import graft.traverse.Traversals
    val dir = java.nio.file.Files.createTempDirectory("pinspec").resolve("edges").toString
    def write(edges: Seq[(String, String)]): Unit =
      edges.toDF("src", "dst").withColumn("label", lit("e"))
        .withColumn("sort_values", lit(null).cast("string"))
        .write.mode("overwrite").parquet(dir)
    def graph = PropertyGraph(Seq("a", "b", "c").map((_, "node")).toDF("id", "label"),
      spark.read.parquet(dir), GraphSchema(Nil, Nil, Nil))
    def reach = Traversals.kneighbor(graph, "a", Direction.OUT, Nil, 3)
      .collect().map(_.getString(0)).toSet
    write(Seq(("a", "b")))
    assert(reach === Set("b"))
    write(Seq(("a", "c"), ("c", "b")))
    Pin.clear()
    assert(reach === Set("b", "c"))
    // the labeled index was rebuilt from the new file; the distinct view
    // the Spark loops read carries none
    assert(Traversals.labeledIndex(graph, Nil).exists(_._1.edgeCount === 2))
    assert(LocalAdjacency.of(Traversals.adjacencyView(graph, Direction.OUT)).isEmpty)
  }

  test("PlanMemo: sameResult frames share one build; plans and hyper-params separate") {
    val memo = new Pin.PlanMemo[Int]
    var builds = 0
    def build(df: org.apache.spark.sql.DataFrame, k: Int) =
      memo.getOrBuild(df, k) { builds += 1; df }
    val a1 = Seq(1, 2).toDF("x").filter(col("x") > 1)
    val a2 = Seq(1, 2).toDF("x").filter(col("x") > 1) // fresh frame, same plan
    val b = Seq(1, 2).toDF("x").filter(col("x") > 0)  // different plan
    build(a1, 7); build(a2, 7)
    assert(builds === 1) // the store-resident contract: plan identity, not reference
    build(b, 7)
    assert(builds === 2)
    build(a1, 8) // same plan, different hyper-params -> separate artifact
    assert(builds === 3)
    assert(memo.entries === 3)
    Pin.clear() // PlanMemo registers with onClear
    build(a1, 7)
    assert(builds === 4 && memo.entries === 1)
  }

  test("PlanMemo: builds run outside the bucket lock — concurrent callers share, failures don't poison, re-entry is detected") {
    val memo = new Pin.PlanMemo[Int]
    val df = Seq(1, 2, 3).toDF("x").filter(col("x") > 1)
    // concurrent same-key callers: exactly one build, all get the result
    val builds = new java.util.concurrent.atomic.AtomicInteger(0)
    val started = new java.util.concurrent.CountDownLatch(1)
    val threads = (1 to 4).map { _ =>
      new Thread(() => {
        started.await()
        memo.getOrBuild(Seq(1, 2, 3).toDF("x").filter(col("x") > 1), 1) {
          builds.incrementAndGet(); Thread.sleep(100); df
        }
      })
    }
    threads.foreach(_.start()); started.countDown(); threads.foreach(_.join())
    assert(builds.get === 1 && memo.entries === 1)
    // a failed build is not cached: the next caller retries
    intercept[RuntimeException] {
      memo.getOrBuild(df, 2) { throw new RuntimeException("boom") }
    }
    val ok = memo.getOrBuild(df, 2) { df }
    assert(ok eq df)
    // a re-entrant build on its own key fails loudly instead of deadlocking
    intercept[IllegalStateException] {
      memo.getOrBuild(df, 3) { memo.getOrBuild(df, 3)(df) }
    }
    Pin.clear()
  }
}
