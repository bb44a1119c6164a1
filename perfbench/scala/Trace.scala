package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Cumulative engine counters at one instant. Differences between two
  * snapshots give the work done in the interval between them.
  */
final case class Snap(atMs: Long, jobs: Long, stages: Long, tasks: Long,
    execCpuNs: Long, gcMs: Long, shufWrite: Long, shufRead: Long,
    spill: Long, schedDelayMs: Long, inBytes: Long, inRecords: Long,
    outBytes: Long, broadcastBuildMs: Long)

/** Spark listener counters: task metrics summed over every finished
  * task, job intervals for driver idle time, and the broadcast build
  * time read from each finished query's final (AQE) physical plan.
  */
final class Counters extends SparkListener with QueryExecutionListener {
  private var jobs, stages, tasks, execCpuNs, gcMs = 0L
  private var shufWrite, shufRead, spill, schedDelayMs = 0L
  private var inBytes, inRecords, outBytes, broadcastBuildMs = 0L
  private val jobStart = mutable.Map.empty[Int, Long]
  private val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += 1
    jobStart(e.jobId) = e.time
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(s => jobIntervals += ((s, e.time)))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { stages += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      execCpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      shufWrite += m.shuffleWriteMetrics.bytesWritten
      shufRead += m.shuffleReadMetrics.totalBytesRead
      spill += m.diskBytesSpilled
      inBytes += m.inputMetrics.bytesRead
      inRecords += m.inputMetrics.recordsRead
      outBytes += m.outputMetrics.bytesWritten
      val info = e.taskInfo
      val duration = info.finishTime - info.launchTime
      schedDelayMs += math.max(0L, duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime -
        info.gettingResultTime)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = {
    val ms = Counters.planNodes(qe.executedPlan).collect {
      case b: BroadcastExchangeExec => b.metrics.get("buildTime").map(_.value).getOrElse(0L)
    }.sum
    synchronized { broadcastBuildMs += ms }
  }

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()

  def snap(): Snap = synchronized {
    Snap(System.currentTimeMillis(), jobs, stages, tasks, execCpuNs, gcMs,
      shufWrite, shufRead, spill, schedDelayMs, inBytes, inRecords,
      outBytes, broadcastBuildMs)
  }

  /** Milliseconds of [a, b] during which no job was running. */
  def idleMs(a: Long, b: Long): Long = synchronized {
    val clipped = (jobIntervals ++ jobStart.values.map(s => (s, b)))
      .map { case (s, e) => (math.max(s, a), math.min(e, b)) }
      .filter { case (s, e) => e > s }
      .sortBy(_._1)
    var busy = 0L
    var curS = -1L
    var curE = -1L
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) busy += curE - curS
        curS = s
        curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) busy += curE - curS
    (b - a) - busy
  }
}

object Counters {
  /** Every node of an executed plan, looking through adaptive wrappers
    * and query stages into the plan that actually ran.
    */
  def planNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case s: QueryStageExec => s +: planNodes(s.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(planNodes)
  }

  val Mb: Double = 1024.0 * 1024.0

  /** The per-phase engine metrics between two snapshots. */
  def diff(c: Counters, a: Snap, b: Snap): Map[String, Double] = Map(
    "spark.jobs" -> (b.jobs - a.jobs).toDouble,
    "spark.stages" -> (b.stages - a.stages).toDouble,
    "spark.tasks" -> (b.tasks - a.tasks).toDouble,
    "spark.executor_cpu_s" -> (b.execCpuNs - a.execCpuNs) / 1e9,
    "spark.gc_s" -> (b.gcMs - a.gcMs) / 1e3,
    "spark.shuffle_write_mb" -> (b.shufWrite - a.shufWrite) / Mb,
    "spark.shuffle_read_mb" -> (b.shufRead - a.shufRead) / Mb,
    "spark.spill_mb" -> (b.spill - a.spill) / Mb,
    "spark.scheduler_delay_s" -> (b.schedDelayMs - a.schedDelayMs) / 1e3,
    "spark.driver_idle_s" -> c.idleMs(a.atMs, b.atMs) / 1e3,
    "spark.input_mb" -> (b.inBytes - a.inBytes) / Mb,
    "spark.input_rows" -> (b.inRecords - a.inRecords).toDouble,
    "spark.output_mb" -> (b.outBytes - a.outBytes) / Mb,
    "spark.broadcast_build_ms" -> (b.broadcastBuildMs - a.broadcastBuildMs).toDouble)
}

/** One traced interval: a call into one layer of the engine. */
final case class Span(id: Int, parent: Int, name: String, startMs: Double,
    endMs: Double, run: String, counters: Map[String, Double]) {
  def seconds: Double = (endMs - startMs) / 1e3
}

/** Span recorder for the traced run. Until [[attach]] (only done when
  * tracing is enabled) `span` just runs its body. Attached, the
  * listeners are registered and every span records the engine counters
  * its interval covered (the listener bus is drained at both
  * boundaries). Spans stay in memory until [[json]].
  */
final class Tracer(val enabled: Boolean, val runId: String) {
  private val t0 = System.nanoTime()
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List(0)
  private var nextId = 1
  private var counters: Option[(SparkSession, Counters)] = None

  def attach(spark: SparkSession): Unit = if (enabled && counters.isEmpty) {
    val c = new Counters
    spark.sparkContext.addSparkListener(c)
    spark.listenerManager.register(c)
    counters = Some((spark, c))
  }

  def detach(): Unit = counters.foreach { case (spark, c) =>
    org.apache.spark.perfbench.BusDrain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(c)
    spark.listenerManager.unregister(c)
    counters = None
  }

  private def nowMs: Double = (System.nanoTime() - t0) / 1e6

  private def snap(): Option[Snap] = counters.map { case (spark, c) =>
    org.apache.spark.perfbench.BusDrain(spark.sparkContext)
    c.snap()
  }

  def span[T](name: String)(body: => T): T =
    if (counters.isEmpty) body
    else {
      val id = synchronized { nextId += 1; nextId - 1 }
      val parent = stack.head
      stack = id :: stack
      val s0 = snap()
      val start = nowMs
      try body
      finally {
        val end = nowMs
        val s1 = snap()
        stack = stack.tail
        val cs = (s0, s1, counters) match {
          case (Some(a), Some(b), Some((_, c))) => Counters.diff(c, a, b)
          case _ => Map.empty[String, Double]
        }
        synchronized { spans += Span(id, parent, name, start, end, runId, cs) }
      }
    }

  /** A span whose interval was measured elsewhere (a streaming
    * trigger, read from its progress report).
    */
  def record(name: String, startMs: Double, endMs: Double,
      counters: Map[String, Double]): Unit = if (this.counters.nonEmpty) synchronized {
    spans += Span(nextId, stack.head, name, startMs, endMs, runId, counters)
    nextId += 1
  }

  /** Milliseconds since this tracer started, for an epoch time. */
  def relMs(epochMs: Long): Double =
    nowMs - (System.currentTimeMillis() - epochMs)

  def all: Seq[Span] = synchronized { spans.toList }
  def named(name: String): Seq[Span] = all.filter(_.name == name)

  def json(extra: Seq[(String, String)]): String = {
    val ss = all.sortBy(_.startMs).map { s =>
      val cs = s.counters.toSeq.sortBy(_._1)
        .map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }.mkString(",")
      s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
        s""""start_ms":${Json.num(s.startMs)},"end_ms":${Json.num(s.endMs)},""" +
        s""""run":${Json.str(s.run)},"counters":{$cs}}"""
    }
    (extra.map { case (k, v) => s"${Json.str(k)}:$v" } :+
      s""""spans":[${ss.mkString(",\n")}]""").mkString("{", ",\n", "}\n")
  }
}

/** Records every streaming trigger of a query as a span, with the
  * trigger's `durationMs` phases as its counters.
  */
final class TriggerSpans(tracer: Tracer) extends StreamingQueryListener {
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val startEpoch = java.time.Instant.parse(p.timestamp).toEpochMilli
    val d = p.durationMs
    val total = Option(d.get("triggerExecution")).map(_.longValue).getOrElse(0L)
    val start = tracer.relMs(startEpoch)
    import scala.jdk.CollectionConverters._
    tracer.record("stream.trigger", start, start + total,
      d.asScala.map { case (k, v) => s"stream.$k" -> v.doubleValue }.toMap +
        ("stream.batch_id" -> p.batchId.toDouble,
          "stream.input_rows" -> p.numInputRows.toDouble))
  }
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
}
