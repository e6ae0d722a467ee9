package graft.perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Per-run state shared by the workload and the result writer. */
final class Ctx(val spark: SparkSession, val tr: Tracer, val args: Map[String, String]) {
  def arg(k: String): String = args.getOrElse(k, sys.error(s"missing --$k"))
  val seed: Long = arg("seed").toLong
  val inputs: String = arg("inputs")
  val work: String = arg("work")
  val cpus: Int = arg("cpus").toInt

  val latencies = mutable.ArrayBuffer.empty[Double] // the workload's operation, seconds
  val opNames = mutable.ArrayBuffer.empty[String]
  var items = 0.0                                  // workload items processed (trades, docs, ...)
  var itemsWallS = 0.0                             // the wall those items took (0 = timed wall)
  var attempted, failed = 0
  val failures = mutable.ArrayBuffer.empty[String]
  val figures = mutable.LinkedHashMap.empty[String, Double] // workload figures + layer inputs
  val checks = mutable.ArrayBuffer.empty[Map[String, Any]]  // verified outside the JVM

  private val cpuBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuNs: Long = cpuBean.getProcessCpuTime
  private var pausedNs, pausedCpuNs = 0L
  private var t0, c0 = 0L
  var deadlineNs = 0L
  var startUs = 0L // the start on the tracer's clock
  def start(seconds: Double): Unit = {
    t0 = System.nanoTime(); c0 = cpuNs; startUs = tr.nowUs
    deadlineNs = t0 + (seconds * 1e9).toLong
  }
  def timeLeft: Boolean = System.nanoTime() < deadlineNs
  def wallS: Double = (System.nanoTime() - t0 - pausedNs) / 1e9
  def cpuS: Double = (cpuNs - c0 - pausedCpuNs) / 1e9

  /** Work outside the timed region (output checks): the clock, the CPU
    * count and the deadline all skip it.
    */
  val untimedUs = mutable.ArrayBuffer.empty[(Long, Long)]
  def untimed[T](body: => T): T = {
    val t = System.nanoTime(); val c = cpuNs; val u = tr.nowUs
    try body finally {
      val d = System.nanoTime() - t
      pausedNs += d; deadlineNs += d; pausedCpuNs += cpuNs - c
      untimedUs += ((u, tr.nowUs))
    }
  }

  /** One attempted operation; a throw counts it as failed and is kept. */
  def attempt[T](name: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body) catch {
      case NonFatal(e) =>
        failed += 1
        failures += s"$name: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
        None
    }
  }

  /** Time `body` as one operation sample. */
  var opCpuS = 0.0 // process CPU over the operation samples
  def timedOp[T](name: String)(body: => T): Option[T] = {
    val t = System.nanoTime(); val cpu = cpuNs
    val r = attempt(name)(tr.op(name)(body))
    if (r.isDefined) {
      latencies += (System.nanoTime() - t) / 1e9; opNames += name; opCpuS += (cpuNs - cpu) / 1e9
    }
    r
  }

  /** Drop the samples so far (work before the sampled operations). */
  def resetSamples(): Unit = { latencies.clear(); opNames.clear(); opCpuS = 0 }

  def add(k: String, v: Double): Unit = figures(k) = figures.getOrElse(k, 0.0) + v
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
}

trait Workload {
  /** Untimed preparation after set-up (e.g. starting a streaming query). */
  def prepare(c: Ctx): Unit = ()
  def run(c: Ctx): Unit
  /** Untimed checks run in the JVM after the timed region. */
  def check(c: Ctx): Unit = ()
}

/** One benchmark run inside one JVM: set-up (repeated, the median is
  * reported), the timed workload, checks, and the result file.
  *
  *   Main --workload W --seed N --seconds S --trace 0|1 --inputs DIR
  *        --work DIR --out FILE --cpus N [--archive_trades N]
  */
object Main {
  /** Session set-ups per run; the median counts toward `setup_s`. */
  val SetupReps = 3

  def main(argv: Array[String]): Unit = {
    val jvmBootS = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cpus = args("cpus").toInt
    val work = args("work")
    val sessionS = mutable.ArrayBuffer.empty[Double]
    val setupS = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (i <- 0 until SetupReps) {
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      // the builder call the CLIs (Ingest, Backfill, Pipeline) make
      spark = graft.core.GraftSession.builder(s"local[$cpus]").getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      val t1 = System.nanoTime()
      warmUp(spark, s"$work/warmup$i", cpus)
      sessionS += (t1 - t0) / 1e9
      setupS += (System.nanoTime() - t0) / 1e9
    }
    val trace = args("trace") == "1"
    val tr = new Tracer(spark, trace)
    val c = new Ctx(spark, tr, args)
    val w: Workload = args("workload") match {
      case "registry_sf0001" => RegistryWorkload
      case "candle_backfill" => CandleBackfillWorkload
      case other => sys.error(s"unknown workload $other")
    }
    val p0 = System.nanoTime()
    w.prepare(c)
    val prepareS = (System.nanoTime() - p0) / 1e9
    c.start(args("seconds").toDouble)
    w.run(c)
    val wall = c.wallS
    val endUs = tr.nowUs
    val cpu = c.cpuS
    tr.drain()
    w.check(c)
    tr.drain()
    val layers = if (trace) Layers.derive(c, median(sessionS.toSeq), wall, endUs) else Map.empty[String, Double]
    val conf = spark.conf.getAll.filter { case (k, _) => k.startsWith("spark.sql.") }
    val out = Json.obj(
      "workload" -> args("workload"),
      "seed" -> c.seed,
      "trace" -> trace,
      "cpus" -> cpus,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "spark_version" -> spark.version,
      "sql_conf" -> conf.toSeq.sortBy(_._1).toMap,
      "setup_reps_s" -> setupS.toSeq,
      "session_reps_s" -> sessionS.toSeq,
      "prepare_s" -> prepareS,
      "wall_s" -> wall,
      "cpu_s" -> cpu,
      "latencies_s" -> c.latencies.toSeq,
      "op_names" -> c.opNames.toSeq,
      "op_cpu_s" -> c.opCpuS,
      "jvm_boot_s" -> jvmBootS,
      "items" -> c.items,
      "items_wall_s" -> (if (c.itemsWallS > 0) c.itemsWallS else wall),
      "attempted" -> c.attempted,
      "failed" -> c.failed,
      "failures" -> c.failures.toSeq,
      "figures" -> c.figures.toMap,
      "layers" -> layers,
      "checks" -> c.checks.toSeq,
      "peak_rss_mb" -> peakRssMb)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(args("out")), out)
    if (trace) java.nio.file.Files.writeString(
      java.nio.file.Paths.get(args("out").stripSuffix(".json") + ".spans.json"), Json.spans(tr))
    tr.detach()
    spark.stop()
  }

  /** Engine warm-up: executor threads, shuffle and the parquet path. */
  private def warmUp(spark: SparkSession, dir: String, cpus: Int): Unit = {
    import org.apache.spark.sql.functions.{col, sum}
    spark.range(1 << 20).repartition(cpus).agg(sum(col("id"))).collect()
    spark.range(1000).write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir).agg(sum(col("id"))).collect()
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted; val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Process high-water resident set size (VmHWM), MB. */
  def peakRssMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }
}

/** Minimal JSON writer for the result and span files. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"
    case '\t' => "\\t"; case ch if ch < ' ' => f"\\u${ch.toInt}%04x"; case ch => ch.toString
  } + "\""
  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => s"${str(k.toString)}:${value(x)}" }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }
  def obj(kv: (String, Any)*): String = kv.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")
  def spans(tr: Tracer): String = tr.spans.map { s =>
    obj("id" -> s.id, "trace" -> s.trace, "parent" -> s.parent, "layer" -> s.layer,
      "name" -> s.name, "kind" -> s.kind, "start_us" -> s.start, "end_us" -> s.end,
      "self_us" -> tr.selfUs(s))
  }.mkString("[\n", ",\n", "\n]\n")
}
