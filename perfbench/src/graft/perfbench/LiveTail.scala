package graft.perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable

import graft.core.Timeframe
import graft.ohlcv.CandleStore
import graft.sources.TradeSource
import graft.streaming.StreamingIngest

/** The live tail, the last phase of `candle_backfill`: an open loop. A
  * generator thread writes one trade file per tick on a fixed schedule, at
  * a few fixed rates in turn, stamping each trade with its creation time.
  * `TradeSource.csvStream` feeds `StreamingIngest.runMergeable`, which
  * appends partial candles to a CandleStore. After the schedule ends and
  * the stream drains, the store is read merged and compacted.
  *
  * A trade's latency runs from when its file was due to the commit of the
  * micro-batch that stored it (the batch's commit-log file), so a stall
  * also delays the files due behind it.
  */
object LiveTail {
  val Exchange = "live"
  /** Trades per second of each phase, in turn. */
  val Rates = Seq(500, 2000, 8000)
  val TickS = 0.1
  val PhaseS = 1.0
  private val Tf = Timeframe.parse("1m")
  private val Fmt = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS").withZone(java.time.ZoneOffset.UTC)

  final case class GenFile(k: Int, phase: Int, dueMs: Double, lagS: Double, n: Int, name: String)

  private def dir(c: Ctx, s: String) = s"${c.work}/tail/$s"

  /** Writes the schedule's files; returns them once the schedule ends. */
  final class Generator(c: Ctx, rates: Seq[Int], tickS: Double, phaseS: Double) extends Thread("trade-generator") {
    val files = mutable.ArrayBuffer.empty[GenFile]
    private val rnd = new java.util.SplittableRandom(c.seed)
    private val syms = (0 until 8).map(i => f"L$i%02d")
    private val cum = { val w = syms.indices.map(i => 1.0 / (i + 1)); w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum) }
    private val price = Array.fill(syms.size)(100.0 + rnd.nextDouble() * 900)
    @volatile var failure: Throwable = null
    val startMs: Double = System.currentTimeMillis().toDouble
    private val startNs = System.nanoTime()

    def write(k: Int, phase: Int, n: Int, dueMs: Double): Unit = {
      val name = f"t$k%05d.csv"
      val sb = new StringBuilder("symbol,ts,price,qty\n")
      val us = System.currentTimeMillis() * 1000L
      for (j <- 0 until n) {
        val u = rnd.nextDouble()
        val s = cum.indexWhere(_ >= u) max 0
        price(s) = math.max(1.0, price(s) * (1 + (rnd.nextDouble() - 0.5) * 0.002))
        val ts = java.time.Instant.ofEpochSecond(0, (us + j) * 1000L)
        sb ++= s"${syms(s)},${Fmt.format(ts)},${f"${price(s)}%.2f"},${f"${0.01 + rnd.nextDouble() * 5}%.2f"}\n"
      }
      val tmp = Paths.get(dir(c, "tmp"), name)
      Files.writeString(tmp, sb.toString)
      Files.move(tmp, Paths.get(dir(c, "in"), name), StandardCopyOption.ATOMIC_MOVE)
      files.synchronized {
        files += GenFile(k, phase, dueMs, (System.currentTimeMillis() - dueMs) / 1e3, n, name)
      }
    }

    override def run(): Unit = try {
      val perPhase = math.max(1, math.round(phaseS / tickS).toInt)
      var k = 0
      for ((rate, p) <- rates.zipWithIndex; _ <- 0 until perPhase) {
        val dueNs = startNs + (k * tickS * 1e9).toLong
        val wait = dueNs - System.nanoTime()
        if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
        write(k, p, math.round(rate * tickS).toInt, startMs + k * tickS * 1e3)
        k += 1
      }
    } catch { case e: Throwable => failure = e }
  }

  def phase(c: Ctx): Unit = {
    val spark = c.spark
    val tr = c.tr
    Seq("in", "tmp").foreach(d => Files.createDirectories(Paths.get(dir(c, d))))
    val store = new CandleStore(dir(c, "store"))
    var gen: Generator = null
    c.attempt("live-tail")(tr.op("live-tail") {
      tr.span("streaming", "StreamingIngest.runMergeable", "action") {
        val q = c.untimed {
          // warm start: the first micro-batch plans and compiles the query
          new Generator(c, Seq(10), 1.0, 1.0).write(-1, -1, 10, System.currentTimeMillis().toDouble)
          val trades = tr.span("sources", "TradeSource.csvStream")(TradeSource.csvStream(spark, dir(c, "in")))
          val q = StreamingIngest.runMergeable(trades, Tf, store, Exchange, Some(dir(c, "ckpt")))
          q.processAllAvailable()
          q
        }
        gen = new Generator(c, Rates, TickS, PhaseS)
        gen.start()
        gen.join()
        if (gen.failure != null) throw gen.failure
        q.processAllAvailable()
        q.stop()
        q.exception.foreach(e => throw e)
      }
      val merged = tr.span("ohlcv", "CandleStore.readMerged")(
        store.readMerged(spark, Some(Exchange), None, Some(Tf.toString)))
      tr.span("ohlcv", "CandleStore.readMerged", "action")(
        merged.write.mode("overwrite").parquet(dir(c, "merged")))
      tr.span("ohlcv", "CandleStore.compactTo", "action")(store.compactTo(spark, dir(c, "compact")))
    })
    if (gen != null) c.untimed(measure(c, gen))
  }

  /** Per-trade latency from the checkpoint: which batch read each file
    * (source log) and when that batch committed (commit log).
    */
  private def measure(c: Ctx, gen: Generator): Unit = {
    val ckpt = new java.io.File(dir(c, "ckpt"))
    // source-log entries carry their batch id; compacted files (N.compact)
    // hold every earlier entry
    val Entry = "\"path\":\"[^\"]*/([^\"/]+\\.csv)\"[^}]*\"batchId\":([0-9]+)".r
    val batchOf = Option(new java.io.File(ckpt, "sources/0").listFiles).toSeq.flatten
      .filterNot(_.getName.startsWith(".")).flatMap { f =>
        Entry.findAllMatchIn(Files.readString(f.toPath)).map(m => m.group(1) -> m.group(2).toLong)
      }.toMap
    val commitMs = Option(new java.io.File(ckpt, "commits").listFiles).toSeq.flatten
      .filter(_.getName.forall(_.isDigit)).map(f => f.getName.toLong -> f.lastModified.toDouble).toMap
    val files = gen.files.toSeq
    val done = files.flatMap(f => batchOf.get(f.name).flatMap(commitMs.get).map(f -> _))
    val lost = files.size - done.size
    if (lost > 0) { c.failed += lost; c.failures += s"$lost generated files never committed" }
    c.attempted += files.size
    val lat = done.map { case (f, cm) => (f, (cm - f.dueMs) / 1e3) }
    val sorted = lat.filter(_._1.phase == 0).flatMap { case (f, l) => Seq.fill(f.n)(l) }.sorted
    def pct(q: Double) = if (sorted.isEmpty) 0.0 else sorted(((sorted.size - 1) * q).toInt)
    c.figures("streaming.latency_p50_s") = pct(0.5)
    c.figures("streaming.latency_p99_s") = pct(0.99)
    // backlog: files due but not yet committed, sampled at each due time
    val commits = done.map(_._2).sorted
    def backlogAt(ms: Double) = files.count(_.dueMs <= ms) - done.count(_._2 <= ms)
    val phaseEnd = Rates.indices.map(p => gen.startMs + (p + 1) * PhaseS * 1e3)
    val PhaseStart = Rates.indices.map(p => gen.startMs + p * PhaseS * 1e3)
    val sustained = Rates.indices.filter(p => backlogAt(phaseEnd(p) - 1) - backlogAt(PhaseStart(p) + PhaseS * 250) <= 2)
    c.figures("streaming.max_rate") = if (sustained.isEmpty) 0.0 else Rates(sustained.max)
    c.figures("streaming.backlog_max") = files.map(f => backlogAt(f.dueMs + 0.5)).maxOption.getOrElse(0).toDouble
    c.figures("streaming.generator_lag_s") = files.map(_.lagS).maxOption.getOrElse(0.0)
    c.figures("streaming.trades_per_s") =
      if (commits.isEmpty) 0.0 else done.map(_._1.n).sum / ((commits.last - files.head.dueMs) / 1e3)
    val storeFiles = Disk.files(new java.io.File(dir(c, "store"))).count(_.getName.endsWith(".parquet"))
    c.figures("ohlcv.append_files") = storeFiles
    val partials = c.spark.read.parquet(dir(c, "store")).count().toDouble
    val merged = c.spark.read.parquet(dir(c, "merged")).count().toDouble
    c.figures("ohlcv.fold_depth") = if (merged > 0) partials / merged else 0.0
    c.checks += Map("kind" -> "tail", "csv_dir" -> dir(c, "in"), "merged" -> dir(c, "merged"),
      "compact" -> dir(c, "compact"), "sql" -> graft.SparkEntry.candlesSql(Tf.micros, "t"))
  }
}
