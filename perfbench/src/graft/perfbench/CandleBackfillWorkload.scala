package graft.perfbench

import graft.core.Timeframe
import graft.ohlcv.{Analytics, CandleStore, Candles}
import graft.operators.AsofJoin
import graft.sinks.SqliteExport
import graft.sources.TradeSource
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** `candle_backfill`: the reference fetcher's job at archive size.
  *
  * Timed: the multi-timeframe backfill in Backfill's composition, resume
  * for every symbol, then incremental pages (upsert over the stored
  * series, write, resume) alternating with partition-pruned store reads
  * that each run one sweep or as-of join, until the time is up; then one
  * CSV and one SQLite export, then the live tail (see [[LiveTail]]). After
  * every page, untimed, the stored 1m series are summarized for the
  * checker. The operation samples are the incremental steps: one page
  * and one store query.
  */
object CandleBackfillWorkload extends Workload {
  val Exchange = "bench"
  /** Incremental steps run until the time is up, and at least this many. */
  val MinPages = 5
  val Frames: Seq[Timeframe] = Seq("1m", "5m", "1h", "1d").map(Timeframe.parse)
  private var symbols = Seq.empty[String]
  private var pagesDone = 0
  private var backfilled1m = 0L

  private def store(c: Ctx) = new CandleStore(s"${c.work}/store")

  def run(c: Ctx): Unit = {
    val spark = c.spark
    val tr = c.tr
    val st = store(c)
    val tf1m = Frames.head
    val t0 = System.nanoTime()
    c.timedOp("backfill") {
      val trades = tr.span("sources", "TradeSource.parquet")(
        TradeSource.parquet(spark, s"${c.inputs}/archive"))
      // cached as Backfill caches it: the resamples read the 1m frame
      val finest = tr.span("ohlcv", "Candles.fromTrades")(Candles.fromTrades(trades, tf1m).cache())
      backfilled1m = tr.span("ohlcv", "Candles.fromTrades", "action")(finest.count())
      tr.span("ohlcv", "CandleStore.write", "action")(st.write(finest, Exchange, tf1m))
      Frames.tail.foreach { tf =>
        val r = tr.span("ohlcv", "Candles.resample")(Candles.resample(finest, tf))
        tr.span("ohlcv", "Candles.resample", "action")(r.count())
        tr.span("ohlcv", "CandleStore.write", "action")(st.write(r, Exchange, tf))
      }
      symbols = tr.span("ohlcv", "Candles.fromTrades", "action")(
        finest.select("symbol").distinct().collect().map(_.getString(0)).sorted.toSeq)
      finest.unpersist()
    }
    c.resetSamples() // the op samples are the incremental steps
    c.figures("backfill_s") = (System.nanoTime() - t0) / 1e9
    c.itemsWallS = c.figures("backfill_s")
    c.items = c.arg("archive_trades").toDouble

    c.timedOp("resume") {
      val resumes = symbols.map { s =>
        s -> tr.span("ohlcv", "CandleStore.resumeSince", "action")(
          st.resumeSince(spark, Exchange, s, tf1m))
      }
      c.untimed(resumes.foreach { case (s, ts) => c.checks += Map("kind" -> "resume",
        "symbol" -> s, "value_us" -> ts.map(t => t.getTime * 1000L).getOrElse(-1L), "page" -> -1) })
    }
    c.resetSamples()

    val nPages = Option(new java.io.File(s"${c.inputs}/pages").list).map(_.length).getOrElse(0)
    val hot = symbols.head
    val pageLat, readLat = scala.collection.mutable.ArrayBuffer.empty[Double]
    def stage(name: String, lat: scala.collection.mutable.ArrayBuffer[Double])(body: => Unit): Unit = {
      val t = System.nanoTime()
      tr.span("bench", name, "stage")(body)
      lat += (System.nanoTime() - t) / 1e9
    }
    var i = 0
    while (i < nPages && (i < MinPages || c.timeLeft)) {
      val page = i
      c.timedOp("step") {
        stage("page", pageLat) {
          val trades = tr.span("sources", "TradeSource.parquet")(
            TradeSource.parquet(spark, f"${c.inputs}/pages/p$page%03d"))
          val incoming = tr.span("ohlcv", "Candles.fromTrades")(Candles.fromTrades(trades, tf1m))
          val stored = tr.span("ohlcv", "CandleStore.read")(
            st.read(spark, Some(Exchange), None, Some(tf1m.toString)))
            .select("symbol", "bucket_ts", "open", "high", "low", "close", "volume", "trades")
          val merged = tr.span("ohlcv", "Candles.upsert")(Candles.upsert(stored, incoming))
          tr.span("ohlcv", "CandleStore.write", "action")(st.write(merged, Exchange, tf1m))
          val ts = tr.span("ohlcv", "CandleStore.resumeSince", "action")(
            st.resumeSince(spark, Exchange, hot, tf1m))
          c.untimed(c.checks += Map("kind" -> "resume", "symbol" -> hot,
            "value_us" -> ts.map(_.getTime * 1000L).getOrElse(-1L), "page" -> page))
        }
        stage("read", readLat)(readQuery(c, page))
      }
      pagesDone = i + 1
      c.untimed(summarize(c, page))
      i += 1
    }
    c.figures("pages") = pagesDone
    c.figures("ohlcv.upsert_p50_s") = Main.median(pageLat.toSeq)
    c.figures("store_query_p50_s") = Main.median(readLat.toSeq)

    c.attempt("export")(tr.op("export") {
      tr.span("ohlcv", "CandleStore.exportCsv", "action")(
        st.exportCsv(spark, s"${c.work}/csv", Exchange, hot, Frames(2)))
      val h = tr.span("ohlcv", "CandleStore.read")(
        st.read(spark, Some(Exchange), None, Some(Frames(2).toString)))
      tr.span("sinks", "SqliteExport.export", "action")(
        SqliteExport.export(h, Exchange, Frames(2), s"${c.work}/sqlite"))
    })
    LiveTail.phase(c)
  }

  /** One read-mix query: a partition-pruned series read plus one sweep,
    * or an as-of join of the 1m series against the 1h series.
    */
  private def readQuery(c: Ctx, i: Int): Unit = {
    val spark = c.spark
    val tr = c.tr
    val st = store(c)
    val sym = symbols(i % symbols.size)
    def series(tf: String) = tr.span("ohlcv", "CandleStore.read")(
      st.read(spark, Some(Exchange), Some(sym), Some(tf)))
    def call(layer: String, name: String)(f: => DataFrame) = (layer, name, tr.span(layer, name)(f))
    val (layer, name, df) = i % 4 match {
      case 0 => call("ohlcv", "Analytics.ewmaVol")(Analytics.ewmaVol(series("1m")))
      case 1 => call("ohlcv", "Analytics.rsi")(Analytics.rsi(series("1m"), 14))
      case 2 => call("ohlcv", "Analytics.holt")(Analytics.holt(series("1m")))
      case _ => call("operators", "AsofJoin.joinNative")(
        AsofJoin.joinNative(series("1m").select("symbol", "bucket_ts", "close"),
          series("1h").select("symbol", "bucket_ts", "close"), "symbol", "bucket_ts", "bucket_ts"))
    }
    tr.span(layer, name, "action")(c.noop(df))
  }

  /** Stored 1m totals after page `i`, compared by the checker with a
    * recompute over every trade ingested so far.
    */
  private def summarize(c: Ctx, i: Int): Unit = {
    val r = store(c).read(c.spark, Some(Exchange), None, Some("1m"))
      .agg(count(lit(1)), sum(col("trades")), sum(col("volume").cast(DecimalType(24, 2))).cast("string"),
        sum(col("close").cast(DecimalType(24, 2))).cast("string"))
      .collect().head
    c.figures("page_new_candles") = (r.getLong(0) - backfilled1m).toDouble
    c.checks += Map("kind" -> "page", "page" -> i, "candles" -> r.getLong(0),
      "trades" -> r.getLong(1), "volume" -> r.getString(2), "close_sum" -> r.getString(3))
  }

  override def check(c: Ctx): Unit = {
    c.checks += Map("kind" -> "store", "root" -> s"${c.work}/store", "pages_done" -> pagesDone,
      "frames" -> Frames.map(tf => Map("tf" -> tf.toString, "sql" ->
        graft.SparkEntry.candlesSql(tf.micros, "t"))),
      "csv" -> s"${c.work}/csv", "sqlite" -> s"${c.work}/sqlite", "hot" -> symbols.headOption.orNull)
    val root = new java.io.File(s"${c.work}/store")
    val files = Disk.files(root).filter(_.getName.endsWith(".parquet"))
    c.figures("store_files") = files.size
    c.figures("store_bytes") = files.map(_.length).sum.toDouble
    c.figures("store_candles") = c.spark.read.parquet(root.getPath).count().toDouble
    val sq = Disk.files(new java.io.File(s"${c.work}/sqlite")).filter(_.getName.endsWith(".sqlite"))
    c.figures("sqlite_bytes") = sq.map(_.length).sum.toDouble
  }
}

/** Every regular file under `f`. */
object Disk {
  def files(f: java.io.File): Seq[java.io.File] =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(files) else Seq(f)
}
