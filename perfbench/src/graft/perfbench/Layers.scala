package graft.perfbench

/** Per-layer metrics of a traced run, derived from the spans and the
  * Spark counters attributed to them. A time is the summed duration of
  * the named spans (a call span covers plan building and any eager jobs
  * the call runs; an action span covers the job that consumes the call's
  * result and is named after that call). Counters roll up over a span's
  * subtree. A layer the workload never calls reads 0.
  */
object Layers {
  def derive(c: Ctx, sessionS: Double, wallS: Double, endUs: Long): Map[String, Double] = {
    val tr = c.tr
    val spans = tr.spans.toSeq
    val ops = spans.filter(_.kind == "op")
    val byId = spans.map(s => s.id -> s).toMap
    def named(n: String) = spans.filter(_.name == n)
    def prefixed(p: String) = spans.filter(s => s.kind != "op" && s.name.startsWith(p))
    def opsNamed(p: String) = ops.filter(_.name.startsWith(p))
    def s(ss: Seq[Span]) = ss.map(_.dur).sum / 1e6
    def tree(ss: Seq[Span]) = (ss ++ ss.flatMap(tr.descendants)).distinctBy(_.id)
    def ctr(ss: Seq[Span])(f: Counters => Long): Double =
      tree(ss).flatMap(x => tr.countersOf(x.id)).map(f).sum.toDouble
    def jobs(ss: Seq[Span]) = tree(ss).flatMap(x => tr.countersOf(x.id)).flatMap(_.jobIntervals)
    // wall of each span not covered by any of its jobs
    def gap(ss: Seq[Span]): Double = ss.map { sp =>
      val iv = jobs(Seq(sp)).map { case (a, b) => (a * 1000L, if (b == Long.MaxValue) sp.end else b * 1000L) }
      (sp.dur - Tracer.covered(iv, sp.start, sp.end)) / 1e6
    }.sum
    // slowest ÷ median task, per stage with 2+ tasks; median over stages
    def skew(ss: Seq[Span]): Double = {
      val per = tree(ss).flatMap(x => tr.countersOf(x.id)).flatMap(_.stageTaskMs.values)
        .filter(_.size >= 2).map { ts =>
          val m = Main.median(ts.map(_.toDouble).toSeq); if (m > 0) ts.max / m else 1.0
        }
      Main.median(per)
    }
    def commit(ss: Seq[Span]): Double = ss.map { sp =>
      val ends = jobs(Seq(sp)).map(_._2).filter(_ != Long.MaxValue)
      if (ends.isEmpty) 0.0 else math.max(0L, sp.end - ends.max * 1000L) / 1e6
    }.sum
    val f = c.figures
    def fig(k: String) = f.getOrElse(k, 0.0)
    val progress = tr.progress.toSeq
    def prog(keys: String*) = progress.map(p => keys.map(k => Option(p.durationMs.get(k)).map(_.toLong).getOrElse(0L)).sum).sum / 1e3

    val registryOps = opsNamed("query:")
    val writes = named("CandleStore.write")
    def under(s: Span, name: String): Boolean =
      s.name == name || (s.parent != 0 && under(byId(s.parent), name))
    val pageWrites = writes.filter(under(_, "page"))
    val backfill = opsNamed("backfill")
    val steps = opsNamed("step")
    // timed wall that no call, action or plan span covers: the benchmark's
    // own work between graft calls, which the tracer cannot attribute
    val layerIv = spans.filter(x => x.kind == "call" || x.kind == "action" || x.kind == "plan")
      .map(x => (x.start, x.end))
    val untimedIv = c.untimedUs.toSeq
    val coveredUs = Tracer.covered(layerIv ++ untimedIv, c.startUs, endUs) -
      Tracer.covered(untimedIv, c.startUs, endUs)

    val m = scala.collection.mutable.LinkedHashMap[String, Double](
      "core.session_s" -> sessionS,
      "core.cut_blocks" -> fig("core.cut_blocks"),
      "core.cut_mb" -> fig("core.cut_mb"),
      "core.release_s" -> s(named("Materialize.release")),
      "plans.analysis_s" -> s(named("analysis").filter(_.kind == "plan")),
      "plans.optimization_s" -> s(named("optimization").filter(_.kind == "plan")),
      "plans.planning_s" -> s(named("planning").filter(_.kind == "plan")),
      "plans.codegen_s" -> tr.codegenNs / 1e9,
      "plans.codegen_compiles" -> tr.codegenCompiles.toDouble,
      "plans.executions" -> ctr(spans)(_.executions),
      "registry.build_s" -> s(spans.filter(x => x.layer == "registry" && x.kind == "call")),
      "registry.jobs" -> ctr(registryOps)(_.jobs),
      "registry.stages" -> ctr(registryOps)(_.stages),
      "registry.tasks" -> ctr(registryOps)(_.tasks),
      "registry.task_s" -> ctr(registryOps)(_.taskMs) / 1e3,
      "registry.sched_wait_s" -> ctr(registryOps)(_.schedWaitMs) / 1e3,
      "registry.driver_gap_s" -> gap(registryOps),
      "registry.shuffle_mb" -> ctr(registryOps)(_.shuffleWrite) / 1e6,
      "registry.spill_mb" -> ctr(registryOps)(_.spill) / 1e6,
      "registry.gc_s" -> ctr(registryOps)(_.gcMs) / 1e3)
    RegistryWorkload.Families.foreach { case (fam, _) =>
      m(s"registry.$fam.wall_s") = s(registryOps.filter(o =>
        RegistryWorkload.family(o.name.stripPrefix("query:")) == fam))
    }
    m ++= Seq(
      "sources.scan_s" -> ctr(spans)(_.scanMs) / 1e3,
      "sources.scan_mb" -> ctr(spans)(_.inputBytes) / 1e6,
      "sources.files_read" -> ctr(spans)(_.scanFiles),
      "ohlcv.candles_s" -> s(named("Candles.fromTrades")),
      "ohlcv.resample_s" -> s(named("Candles.resample")),
      "ohlcv.store_write_s" -> s(writes),
      "ohlcv.store_write_skew" -> skew(writes),
      "ohlcv.store_sort_s" -> ctr(writes)(_.sortMs) / 1e3,
      "ohlcv.store_shuffle_mb" -> ctr(writes)(_.shuffleWrite) / 1e6,
      "ohlcv.store_spill_mb" -> ctr(writes)(_.spill) / 1e6,
      "ohlcv.commit_s" -> commit(writes),
      "ohlcv.store_files" -> fig("store_files"),
      "ohlcv.store_mb" -> fig("store_bytes") / 1e6,
      "ohlcv.store_bytes_per_candle" -> (if (fig("store_candles") > 0) fig("store_bytes") / fig("store_candles") else 0.0),
      "ohlcv.backfill_task_s" -> ctr(backfill)(_.taskMs) / 1e3,
      "ohlcv.backfill_driver_gap_s" -> gap(backfill),
      "ohlcv.step_task_s" -> ctr(steps)(_.taskMs) / 1e3,
      "ohlcv.step_driver_gap_s" -> gap(steps),
      "ohlcv.upsert_rewrite_ratio" -> (if (fig("page_new_candles") > 0) ctr(pageWrites)(_.outputRows) / fig("page_new_candles") else 0.0),
      "ohlcv.resume_s" -> s(named("CandleStore.resumeSince")),
      "ohlcv.resume_files" -> ctr(named("CandleStore.resumeSince"))(_.scanFiles),
      "ohlcv.upsert_p50_s" -> fig("ohlcv.upsert_p50_s"),
      "ohlcv.read_s" -> s(named("read")),
      "ohlcv.read_files" -> ctr(named("read"))(_.scanFiles),
      "ohlcv.sweep_s" -> s(prefixed("Analytics.")),
      "ohlcv.store_query_p50_s" -> fig("store_query_p50_s"),
      "ohlcv.export_csv_s" -> s(named("CandleStore.exportCsv")),
      "ohlcv.append_files" -> fig("ohlcv.append_files"),
      "ohlcv.read_merged_s" -> s(named("CandleStore.readMerged")),
      "ohlcv.fold_depth" -> fig("ohlcv.fold_depth"),
      "ohlcv.compact_s" -> s(named("CandleStore.compactTo")),
      "operators.asof_s" -> s(named("AsofJoin.joinNative")),
      "sinks.sqlite_s" -> s(named("SqliteExport.export")),
      "sinks.sqlite_mb" -> fig("sqlite_bytes") / 1e6,
      "streaming.trigger_s" -> prog("triggerExecution"),
      "streaming.add_batch_s" -> prog("addBatch"),
      "streaming.planning_s" -> prog("queryPlanning"),
      "streaming.wal_commit_s" -> prog("walCommit", "commitOffsets"),
      "streaming.batches" -> progress.count(_.numInputRows > 0).toDouble,
      "streaming.rows_per_batch" -> {
        val b = progress.filter(_.numInputRows > 0)
        if (b.isEmpty) 0.0 else b.map(_.numInputRows).sum.toDouble / b.size
      },
      "streaming.backlog_max" -> fig("streaming.backlog_max"),
      "streaming.generator_lag_s" -> fig("streaming.generator_lag_s"),
      "streaming.latency_p50_s" -> fig("streaming.latency_p50_s"),
      "streaming.latency_p99_s" -> fig("streaming.latency_p99_s"),
      "streaming.max_rate" -> fig("streaming.max_rate"),
      "streaming.trades_per_s" -> fig("streaming.trades_per_s"),
      "trace.spans" -> spans.size.toDouble,
      "trace.overhead_s" -> tr.overheadNs / 1e9,
      "trace.unaccounted_s" -> (wallS - coveredUs / 1e6))
    m.toMap
  }
}
