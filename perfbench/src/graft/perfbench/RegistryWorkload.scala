package graft.perfbench

import graft.core.Materialize
import graft.registry._
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}

/** `registry_sf0001`: one client in a closed loop over a panel of registry
  * queries, each materialized through the `noop` sink inside its own
  * Materialize scope, released (blocking) before the next query starts.
  * The seed generates the tables and shuffles the order; whole passes over
  * the panel run until the time is up, and at least `MinPasses`.
  */
object RegistryWorkload extends Workload {
  val Required = Seq("longest_repeat")
  val PerFamily = 1
  val MinPasses = 2
  /** Each takes 4-11 s cold even at sf0.001, more than a run's time box. */
  val Excluded = Set("profile_approx", "profile_lineitem", "knn_components", "corpus_dedup_stable")

  val Families: Seq[(String, Set[String])] = Seq(
    "ohlcv" -> OhlcvRegistry.queries.keySet, "studies" -> StudiesRegistry.queries.keySet,
    "olap" -> OlapRegistry.queries.keySet, "events" -> EventsRegistry.queries.keySet,
    "text" -> TextRegistry.queries.keySet, "dedup" -> DedupRegistry.queries.keySet,
    "vector" -> VectorRegistry.queries.keySet, "multimodal" -> MultimodalRegistry.queries.keySet)

  def family(q: String): String = Families.find(_._2.contains(q)).map(_._1).getOrElse("other")

  /** The panel: the required queries plus a fixed stratified draw of
    * `PerFamily` queries per family (a fixed draw keeps the mix, and so
    * the percentiles, comparable across seeds).
    */
  val Panel: Seq[String] = {
    val rnd = new scala.util.Random(1L)
    (Required ++ Families.flatMap { case (_, names) =>
      rnd.shuffle(names.toSeq.sorted).filterNot(q => Required.contains(q) || Excluded(q)).take(PerFamily)
    }).distinct
  }

  /** Warm-up pass, untimed: every panel query runs once and writes its
    * result (timestamps as NTZ, as the oracle reads them) for the DuckDB
    * comparison. The timed passes then run on a warmed session.
    */
  override def prepare(c: Ctx): Unit = Panel.foreach { q =>
    val path = s"${c.work}/check/$q"
    val ok = c.attempt(s"check:$q") {
      Materialize.inScope { scope =>
        try {
          val df = graft.SparkEntry.queries(q)(c.spark, c.inputs)
          val ntz = df.schema.fields.collect { case f if f.dataType == TimestampType => f.name }
            .foldLeft(df)((d, n) => d.withColumn(n, col(n).cast(TimestampNTZType)))
          ntz.repartition(1).write.mode("overwrite").parquet(path)
        } finally scope.release(c.spark, blocking = true)
      }
    }
    if (ok.isDefined)
      c.checks += Map("kind" -> "oracle", "name" -> q, "sql" -> graft.SparkEntry.oracleSql(q),
        "path" -> path)
  }

  def run(c: Ctx): Unit = {
    val dir = c.inputs
    val order = new scala.util.Random(c.seed).shuffle(Panel)
    val fns = graft.SparkEntry.queries
    var passes = 0
    while (passes < MinPasses || c.timeLeft) {
      order.foreach { q =>
        val fam = family(q)
        c.timedOp(s"query:$q") {
          Materialize.inScope { scope =>
            val df = c.tr.span("registry", s"$fam.$q")(fns(q)(c.spark, dir))
            c.tr.span("registry", s"$fam.$q", "action")(c.noop(df))
            c.add("core.cut_blocks", Materialize.liveBlockCount(c.spark, scope))
            c.add("core.cut_mb", cachedMb(c))
            c.tr.span("core", "Materialize.release")(scope.release(c.spark, blocking = true))
          }
        }
      }
      passes += 1
    }
    c.items = c.latencies.size
    c.figures("registry.passes") = passes
  }

  def cachedMb(c: Ctx): Double =
    c.spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6
}
