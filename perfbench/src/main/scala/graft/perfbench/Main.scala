package graft.perfbench

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** One benchmark run: session start and load phase, the three host-drift
  * controls, then the workload's timed ops.
  * Writes every raw measurement and every answer to `--out` as JSON; the
  * Python wrapper (perfbench/run.py) checks the answers and derives the
  * metrics.
  *
  *   Main --workload W --data DIR --requests FILE --out FILE --seed N
  *        --seconds S --trace 0|1 --cpus N --workdir DIR
  */
object Main {
  final case class Conf(workload: String, data: String, requests: String,
                        out: String, seed: Long, seconds: Double, trace: Boolean,
                        cpus: Int, workdir: String)

  def parse(args: Array[String]): Conf = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Conf(m("workload"), m("data"), m("requests"), m("out"), m("seed").toLong,
      m("seconds").toDouble, m("trace") == "1", m("cpus").toInt, m("workdir"))
  }

  def session(c: Conf): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${c.cpus}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", c.cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${c.workdir}/spark-local")
      .config("spark.sql.warehouse.dir", s"${c.workdir}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val c = parse(args)
    val t0 = System.nanoTime()
    def now: Double = (System.nanoTime() - t0) / 1e9

    // set-up: session start + load phase
    val s0 = System.nanoTime()
    val spark = session(c)
    val sessionS = (System.nanoTime() - s0) / 1e9
    val tracer = if (c.trace) new Tracer(spark.sparkContext) else null
    val loads = LoadPhase.forWorkload(c.workload).map { a =>
      val id = s"setup.load.${a.name}"
      if (tracer != null) tracer.setOp(id)
      val a0 = System.nanoTime()
      a.build(spark, c.data)
      val a1 = System.nanoTime()
      if (tracer != null) tracer.span(id, id, "setup", a0, a1)
      a.name -> (a1 - a0) / 1e9
    }
    val setupS = (System.nanoTime() - s0) / 1e9
    if (tracer != null) tracer.setOp("")
    val pinnedMb = Ops.liveStorageMb(spark.sparkContext)

    val ops = new Ops(spark, c, tracer)
    val controls = ops.controls()
    val reqs = Json.read(c.requests).get("requests").asInstanceOf[java.util.List[Any]]
      .asScala.map(_.asInstanceOf[java.util.Map[String, Any]].asScala.toMap).toSeq
    val timedStart = now
    val records = c.workload match {
      case "traverse_mix" => ops.requestLoop(reqs, c.seconds)
      case "batch_mix" =>
        val order = new Random(c.seed).shuffle(Batches.queries)
        // the seeded writes traverse_mix sends, against the base graph, so
        // that every workload reports write latency: a warm-up cycle first
        // (checked; run.py leaves it out of the write percentiles), then
        // the measured writes spread evenly among the batch queries, so
        // that their percentiles, like batch_s, cover the whole timed
        // region rather than the few seconds a probe after the batch took
        val (warmup, writes) = reqs.partition(_("id").toString.startsWith("c00."))
        val n = order.size
        warmup.map(ops.request) ++ order.zipWithIndex.flatMap { case (q, i) =>
          ops.registryOp(f"b$i%03d", q) +:
            writes.slice(i * writes.size / n, (i + 1) * writes.size / n).map(ops.request)
        }
      case other => sys.error(s"unknown workload $other")
    }
    val timedEnd = now

    var traceOut: Map[String, Any] = Map.empty
    if (tracer != null) {
      tracer.drain()
      records.foreach(r => r.counters = tracer.counters(r.id, r.buildEndMs))
      traceOut = Map(
        "load_counters" -> LoadPhase.names.map(n => n -> tracer.counters(s"setup.load.$n")).toMap,
        "spans" -> tracer.spansJson, "jobs" -> tracer.jobsJson)
    }
    val oracle = graft.SparkEntry.oracleSql
    val used = records.map(_.registry).filter(_ != null).distinct
    Json.write(c.out, Map(
      "workload" -> c.workload, "seed" -> c.seed, "cpus" -> c.cpus,
      "setup_s" -> setupS, "session_s" -> sessionS, "load_s" -> loads.toMap,
      "pinned_mb" -> pinnedMb, "controls" -> controls,
      "timed_s" -> (timedEnd - timedStart),
      "families" -> Batches.familyOf,
      "artifacts" -> LoadPhase.names,
      "ops" -> records.map(_.toJson),
      "oracle_sql" -> used.flatMap(q => oracle.get(q).map(q -> _)).toMap,
      "trace" -> traceOut))
    spark.stop()
  }
}

/** The outcome of one timed call. */
final class OpRecord(val id: String, val op: String, val kind: String,
                     val api: String, val registry: String,
                     val params: Map[String, Any]) {
  var startS = 0.0
  var wallS = 0.0
  var buildS = 0.0
  var buildEndMs = Long.MinValue
  var error: String = null
  var columns: Seq[String] = Nil
  var rows: Seq[Seq[Any]] = Nil
  var viewsAdded = 0
  var counters: Map[String, Double] = Map.empty

  def toJson: java.util.Map[String, Any] = Json.obj(
    "id" -> id, "op" -> op, "kind" -> kind, "api" -> api,
    "registry" -> registry, "params" -> params, "start_s" -> startS,
    "wall_s" -> wallS, "build_s" -> buildS, "ok" -> (error == null),
    "error" -> error, "columns" -> columns, "rows" -> rows,
    "views_added" -> viewsAdded, "counters" -> counters)
}

object Rows {
  /** Spark values as JSON values: timestamps as UTC epoch microseconds,
    * dates as epoch days, structs and arrays as lists, bytes as hex. */
  def value(v: Any): Any = v match {
    case null => null
    case r: Row => r.toSeq.map(value)
    case s: scala.collection.Seq[_] => s.map(value)
    case a: Array[Byte] => a.map("%02x".format(_)).mkString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => Seq(value(k), value(x)) }
    case t: java.sql.Timestamp =>
      val i = t.toInstant; i.getEpochSecond * 1000000L + i.getNano / 1000
    case t: java.time.Instant => t.getEpochSecond * 1000000L + t.getNano / 1000
    case t: java.time.LocalDateTime =>
      val i = t.toInstant(java.time.ZoneOffset.UTC)
      i.getEpochSecond * 1000000L + i.getNano / 1000
    case d: java.sql.Date => d.toLocalDate.toEpochDay
    case d: java.time.LocalDate => d.toEpochDay
    case b: java.math.BigDecimal => b.doubleValue
    case b: scala.math.BigDecimal => b.toDouble
    case f: Float => f.toDouble
    case x => x
  }

  def of(df: DataFrame): (Seq[String], Seq[Seq[Any]]) =
    (df.columns.toSeq, df.collect().toSeq.map(r => r.toSeq.map(value)))
}
