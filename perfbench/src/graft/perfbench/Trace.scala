package graft.perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SortExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. Times are microseconds since the epoch, so spans
  * line up with the millisecond timestamps Spark puts on its events.
  * `kind` is "op" (one benchmark operation, the root of a trace), "stage"
  * (a named part of an operation), "call" (a call into a graft module's
  * public function), "action" (the Spark
  * action that consumes the call's result), or "plan" (a Catalyst phase
  * reported by the QueryExecutionListener).
  */
final class Span(val id: Int, val trace: Int, val parent: Int, val layer: String,
                 val name: String, val kind: String, val start: Long) {
  @volatile var end: Long = 0L
  def dur: Long = end - start
}

/** Spark's own counters, summed over the jobs and tasks whose local
  * property carried a span's id.
  */
final class Counters {
  var jobs, stages, tasks = 0L
  var taskMs, gcMs, fetchWaitMs, schedWaitMs = 0L
  var shuffleWrite, spill, inputBytes, outputRows = 0L
  var scanFiles, scanMs, sortMs, executions = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)] // epoch ms
  val stageTaskMs = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]
}

/** Span recorder plus the three listeners of a traced run.
  *
  * Before each call into a layer the calling thread's Spark local property
  * `perfbench.span` is set to the span id; every job submitted while it is
  * set (and, because local properties are inherited, every job of a
  * streaming query started under it) carries the id, so listener events
  * attribute to spans without touching graft code. Untraced runs build a
  * disabled tracer: `span` runs its body and records nothing, and no
  * listener is attached.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val Prop = "perfbench.span"
  private val sc = spark.sparkContext
  private val epochUs0 = System.currentTimeMillis() * 1000L
  private val nano0 = System.nanoTime()
  def nowUs: Long = epochUs0 + (System.nanoTime() - nano0) / 1000L

  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var traceSeq = 0
  private val counters = new ConcurrentHashMap[Int, Counters]()
  private val jobSpan = new ConcurrentHashMap[Int, Int]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val stageSubmit = new ConcurrentHashMap[Int, java.lang.Long]()
  private val stageFirstLaunch = new ConcurrentHashMap[Int, java.lang.Long]()
  val progress = mutable.ArrayBuffer.empty[org.apache.spark.sql.streaming.StreamingQueryProgress]
  @volatile var overheadNs = 0L // tracer bookkeeping on the calling thread + listener handlers
  var codegenNs = 0L
  var codegenCompiles = 0L

  def counter(spanId: Int): Counters = counters.computeIfAbsent(spanId, _ => new Counters)
  def countersOf(spanId: Int): Option[Counters] = Option(counters.get(spanId))

  private def timed[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally synchronized { overheadNs += System.nanoTime() - t0 }
  }

  private def open(layer: String, name: String, kind: String): Span = timed {
    val parent = stack.headOption
    val trace = parent.map(_.trace).getOrElse { traceSeq += 1; traceSeq }
    val s = spans.synchronized {
      val s = new Span(spans.size + 1, trace, parent.map(_.id).getOrElse(0), layer, name, kind, nowUs)
      spans += s; s
    }
    stack = s :: stack
    sc.setLocalProperty(Prop, s.id.toString)
    s
  }

  private def close(s: Span): Unit = timed {
    s.end = nowUs
    stack = stack.tail
    sc.setLocalProperty(Prop, stack.headOption.map(_.id.toString).orNull)
  }

  /** Record `body` as a span (a no-op wrapper when tracing is off). The
    * codegen counters are global, so they are read at span boundaries on
    * the one thread that drives the workload.
    */
  def span[T](layer: String, name: String, kind: String = "call")(body: => T): T =
    if (!enabled) body
    else {
      val s = open(layer, name, kind)
      val (cg0, cc0) = codegen()
      try body finally {
        val (cg1, cc1) = codegen()
        if (kind == "op") { codegenNs += cg1 - cg0; codegenCompiles += cc1 - cc0 }
        close(s)
      }
    }

  def op[T](name: String)(body: => T): T = span("bench", name, "op")(body)

  private def codegen(): (Long, Long) = (
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime,
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount)

  /** Innermost span of the driving thread open at epoch-ms `t`. */
  private def coveringSpan(tMs: Long): Option[Span] = spans.synchronized {
    val tUs = tMs * 1000L
    spans.reverseIterator.find(s => s.kind != "plan" && s.start <= tUs + 999 &&
      (s.end == 0L || s.end >= tUs))
  }

  private def spanOf(props: java.util.Properties): Option[Int] =
    Option(props).flatMap(p => Option(p.getProperty(Prop))).map(_.toInt)

  private object Jobs extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = timed {
      spanOf(e.properties).foreach { id =>
        jobSpan.put(e.jobId, id)
        e.stageIds.foreach(st => stageSpan.put(st, id))
        val c = counter(id)
        c.synchronized { c.jobs += 1; c.jobIntervals += ((e.time, Long.MaxValue)) }
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
      Option(jobSpan.get(e.jobId)).foreach { id =>
        val c = counter(id)
        c.synchronized {
          val i = c.jobIntervals.lastIndexWhere(_._2 == Long.MaxValue)
          if (i >= 0) c.jobIntervals(i) = (c.jobIntervals(i)._1, e.time)
        }
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = timed {
      stageSubmit.put(e.stageInfo.stageId,
        java.lang.Long.valueOf(e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
      val st = e.stageInfo.stageId
      Option(stageSpan.get(st)).foreach { id =>
        val c = counter(id)
        c.synchronized {
          c.stages += 1
          for (sub <- Option(stageSubmit.get(st)); first <- Option(stageFirstLaunch.get(st)))
            c.schedWaitMs += math.max(0L, first - sub)
        }
      }
    }
    override def onTaskStart(e: SparkListenerTaskStart): Unit =
      stageFirstLaunch.putIfAbsent(e.stageId, e.taskInfo.launchTime)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
      val m = e.taskMetrics
      Option(stageSpan.get(e.stageId)).filter(_ => m != null).foreach { id =>
        val c = counter(id)
        c.synchronized {
          c.tasks += 1
          c.taskMs += m.executorRunTime
          c.gcMs += m.jvmGCTime
          c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
          c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          c.spill += m.diskBytesSpilled + m.memoryBytesSpilled
          c.inputBytes += m.inputMetrics.bytesRead
          c.outputRows += m.outputMetrics.recordsWritten
          c.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
        }
      }
    }
  }

  private object Plans extends QueryExecutionListener with AdaptiveSparkPlanHelper {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = timed {
      val phases = qe.tracker.phases
      val first = phases.values.map(_.startTimeMs).minOption
      val owner = first.flatMap(coveringSpan)
      owner.foreach { o =>
        val c = counter(o.id)
        val nodes = collectWithSubqueries(qe.executedPlan) {
          case s: FileSourceScanExec => s
          case s: SortExec => s
        }
        c.synchronized {
          c.executions += 1
          nodes.foreach { n =>
            def m(k: String) = n.metrics.get(k).map(_.value).getOrElse(0L)
            n match {
              case _: SortExec => c.sortMs += m("sortTime")
              case _ =>
                c.scanFiles += m("numFiles")
                c.scanMs += m("scanTime") + m("metadataTime")
            }
          }
        }
        spans.synchronized {
          for (ph <- Seq("analysis", "optimization", "planning"); p <- phases.get(ph)) {
            val s = new Span(spans.size + 1, o.trace, o.id, "plans", ph, "plan",
              p.startTimeMs * 1000L)
            s.end = p.endTimeMs * 1000L
            spans += s
          }
        }
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private object Streams extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = timed {
      progress.synchronized { progress += e.progress }
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  if (enabled) {
    sc.addSparkListener(Jobs)
    spark.listenerManager.register(Plans)
    spark.streams.addListener(Streams)
  }

  /** Wait until every queued listener event has been delivered. A drain
    * that times out fails the traced run: per-span counters read before
    * the bus is empty would silently miss the last jobs.
    */
  def drain(): Unit =
    if (enabled) org.apache.spark.perfbench.BusDrain.drain(sc, 60000L)

  def detach(): Unit = if (enabled) {
    sc.removeSparkListener(Jobs)
    spark.listenerManager.unregister(Plans)
    spark.streams.removeListener(Streams)
  }

  def children(id: Int): Seq[Span] = spans.filter(_.parent == id).toSeq

  /** Duration minus the part of the interval its children cover. */
  def selfUs(s: Span): Long =
    s.dur - Tracer.covered(children(s.id).map(c => (c.start, c.end)), s.start, s.end)

  def descendants(s: Span): Seq[Span] = {
    val kids = children(s.id)
    kids ++ kids.flatMap(descendants)
  }
}

object Tracer {
  /** Length of the union of the intervals, clipped to [from, to). */
  def covered(iv: Seq[(Long, Long)], from: Long, to: Long): Long = {
    val clipped = iv.map { case (a, b) => (math.max(a, from), math.min(b, to)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L; var ca = -1L; var cb = -1L
    clipped.foreach { case (a, b) =>
      if (a > cb) { if (cb > ca) total += cb - ca; ca = a; cb = b } else cb = math.max(cb, b)
    }
    if (cb > ca) total += cb - ca
    total
  }
}
