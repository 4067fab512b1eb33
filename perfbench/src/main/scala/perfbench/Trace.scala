package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** A traced interval: one call into a layer, or one streaming micro-batch.
  * Times are epoch milliseconds.
  */
final case class Span(id: Long, layer: String, start: Long, end: Long,
                      parent: Long, runId: String)

/** Per-job record collected by [[Trace.Listener]]. */
final class JobRec(val id: Int, val span: Long, val group: String,
                   val execId: Long, val start: Long) {
  @volatile var end: Long = start
  var tasks = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var fetchWaitMs = 0L
  var spill = 0L
  var peakMem = 0L
  var recordsWritten = 0L
  var bytesWritten = 0L
  val stageDurations = mutable.Map[Int, mutable.ArrayBuffer[Long]]()
}

object Trace {

  val Layers: Seq[String] = Seq("trades", "sources", "bars", "features",
    "labels", "streaming", "dedup", "text", "ml")
  val LayerStats: Seq[String] = Seq("wall_s", "jobs", "tasks", "task_cpu_s", "gc_s",
    "driver_gap_s", "plan_s", "shuffle_write_mb", "fetch_wait_s", "spill_mb",
    "peak_exec_mem_mb", "rows_out")
  val Extras: Seq[(String, String)] = Seq(
    "streaming.batches" -> "count", "streaming.batch_p50_s" -> "s",
    "streaming.commit_s" -> "s", "streaming.state_rows" -> "count",
    "streaming.state_mb" -> "MB", "sources.bytes_written_mb" -> "MB",
    "sources.files_written" -> "count", "features.task_cpu_ns_per_row" -> "ns",
    "labels.path_rows_per_event" -> "count", "bars.max_task_over_median" -> "ratio",
    "dedup.verified_per_candidate" -> "ratio", "bench.gen_late_s" -> "s",
    "bench.trace_overhead_s" -> "s")

  def unitOf(stat: String): String = stat match {
    case s if s.endsWith("_s") => "s"
    case s if s.endsWith("_mb") => "MB"
    case _ => "count"
  }

  /** Every per-layer metric name with its unit, in report order. */
  val metricUnits: Seq[(String, String)] =
    (for (l <- Layers; s <- LayerStats) yield s"$l.$s" -> unitOf(s)) ++ Extras

  val SpanKey = "perfbench.span"
  val MBf: Double = 1024.0 * 1024.0

  /** Collects jobs and task metrics, plan phases and streaming progress. */
  final class Listener extends SparkListener {
    val jobs = new ConcurrentHashMap[Int, JobRec]()
    private val stageJob = new ConcurrentHashMap[Int, Int]()
    val plans = mutable.ArrayBuffer[(Long, Long, Long)]() // (exec id, start ms, plan ms)
    val progress = mutable.ArrayBuffer[org.apache.spark.sql.streaming.StreamingQueryProgress]()

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
      val rec = new JobRec(e.jobId, prop(SpanKey).map(_.toLong).getOrElse(0L),
        prop("spark.jobGroup.id").getOrElse(""),
        prop("spark.sql.execution.id").map(_.toLong).getOrElse(-1L), e.time)
      jobs.put(e.jobId, rec)
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time)

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val j = Option(stageJob.get(e.stageId)).flatMap(id => Option(jobs.get(id)))
      val m = e.taskMetrics
      j.foreach { r =>
        r.synchronized {
          r.tasks += 1
          if (m != null) {
            r.cpuNs += m.executorCpuTime
            r.gcMs += m.jvmGCTime
            r.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            r.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
            r.spill += m.diskBytesSpilled
            r.peakMem = math.max(r.peakMem, m.peakExecutionMemory)
            r.recordsWritten += m.outputMetrics.recordsWritten
            r.bytesWritten += m.outputMetrics.bytesWritten
          }
          r.stageDurations.getOrElseUpdate(e.stageId, mutable.ArrayBuffer()) +=
            e.taskInfo.duration
        }
      }
    }

    val qeListener: QueryExecutionListener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        val ph = qe.tracker.phases.values
        if (ph.nonEmpty) plans.synchronized {
          plans += ((qe.id, ph.map(_.startTimeMs).min, ph.map(_.durationMs).sum))
        }
      }
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }

    val streamListener: StreamingQueryListener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        progress.synchronized { progress += e.progress }
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }

    def attach(spark: SparkSession): Unit = {
      spark.sparkContext.addSparkListener(this)
      spark.listenerManager.register(qeListener)
      spark.streams.addListener(streamListener)
    }

    def detach(spark: SparkSession): Unit = {
      org.apache.spark.PerfbenchBridge.waitForListeners(spark.sparkContext)
      spark.sparkContext.removeSparkListener(this)
      spark.listenerManager.unregister(qeListener)
      spark.streams.removeListener(streamListener)
    }
  }
}

/** Layer spans for one run. With `enabled = false` every method is a
  * pass-through, so the untraced run pays nothing.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  val runId: String = java.util.UUID.randomUUID().toString.take(8)
  private val ids = new AtomicLong(1)
  val spans = mutable.ArrayBuffer[Span]()
  val rowsOut = mutable.Map[Long, Long]()
  /** streaming query run id → layer */
  val queries = mutable.Map[String, String]()
  private var stack = List.empty[Long]
  val listener = new Trace.Listener

  private val groupKeys = Seq("spark.jobGroup.id", "spark.job.description",
    "spark.job.interruptOnCancel", Trace.SpanKey)

  /** Run `body` as one call into `layer`: its jobs carry the layer's job
    * group and this span's id.
    */
  def span[T](layer: String)(body: => T): T = {
    if (!enabled) return body
    val sc = spark.sparkContext
    val id = ids.getAndIncrement()
    val saved = groupKeys.map(k => k -> sc.getLocalProperty(k))
    sc.setJobGroup(layer, s"$layer #$id")
    sc.setLocalProperty(Trace.SpanKey, id.toString)
    val parent = stack.headOption.getOrElse(0L)
    stack = id :: stack
    val t0 = System.currentTimeMillis()
    try body
    finally {
      spans.synchronized {
        spans += Span(id, layer, t0, System.currentTimeMillis(), parent, runId)
      }
      stack = stack.tail
      saved.foreach { case (k, v) => sc.setLocalProperty(k, v) }
    }
  }

  /** A lazy frame produced by `layer`. Traced runs materialize it at the
    * boundary (persist + count) so its jobs land in the layer's span.
    */
  def frame(layer: String)(df: => DataFrame): DataFrame =
    if (!enabled) df
    else span(layer) {
      val d = df.persist(graft.Conf.storageLevel)
      val n = d.count()
      rowsOut.synchronized { rowsOut(stack.head) = n }
      d
    }

  def registerQuery(runId: java.util.UUID, layer: String): Unit =
    queries.synchronized { queries(runId.toString) = layer }

  /** Micro-batch spans of the registered streaming queries. */
  private def streamSpans(): Seq[(Span, org.apache.spark.sql.streaming.StreamingQueryProgress)] = {
    // negative ids never collide with the driver-thread spans' ids
    val ps = listener.progress.synchronized(listener.progress.toList)
    ps.zipWithIndex.flatMap { case (p, i) =>
      queries.get(p.runId.toString).map { layer =>
        val st = java.time.Instant.parse(p.timestamp).toEpochMilli
        (Span(-(i + 1L), layer, st, st + p.batchDuration, 0L, p.runId.toString), p)
      }
    }
  }

  /** Per-layer statistics over everything traced so far, with additive
    * figures divided by `units` (lineage reps, drains or stream windows).
    */
  def layerStats(units: Int): Map[String, Double] = {
    val jobs = listener.jobs.values.asScala.toSeq
    val batchSpans = spans.synchronized(spans.toList)
    val stream = streamSpans()
    val byId = batchSpans.map(s => s.id -> s).toMap
    // job → span: the span property for driver-thread calls; streaming jobs
    // carry the query run id as their job group
    val streamByRun = stream.map(_._1).groupBy(_.runId)
      .map { case (k, v) => k -> v.sortBy(_.start) }
    def spanOf(j: JobRec): Option[Span] =
      streamByRun.get(j.group) match {
        case Some(ss) => ss.filter(_.start <= j.start).lastOption.orElse(ss.headOption)
        case None => byId.get(j.span)
      }
    val jobSpan: Seq[(JobRec, Span)] = jobs.flatMap(j => spanOf(j).map(j -> _))
    val allSpans = batchSpans ++ stream.map(_._1)
    // plan time: via the execution id's jobs, else the innermost batch span
    // that was open when planning started
    val execLayer = jobSpan.filter(_._1.execId >= 0)
      .map { case (j, s) => j.execId -> s.layer }.toMap
    val plans = listener.plans.synchronized(listener.plans.toList)
    val planByLayer = mutable.Map[String, Double]().withDefaultValue(0.0)
    plans.foreach { case (exec, st, ms) =>
      val layer = execLayer.get(exec).orElse(
        batchSpans.filter(s => s.start <= st && st <= s.end)
          .sortBy(s => s.end - s.start).headOption.map(_.layer))
      layer.foreach(l => planByLayer(l) += ms / 1000.0)
    }
    stream.foreach { case (s, p) =>
      planByLayer(s.layer) += Option(p.durationMs.get("queryPlanning")).map(_.toLong).getOrElse(0L) / 1000.0
    }
    val jobsOf = jobSpan.groupBy(_._2.id).map { case (k, v) => k -> v.map(_._1) }
    val u = math.max(units, 1).toDouble
    val out = mutable.LinkedHashMap[String, Double]()
    Trace.Layers.foreach { l =>
      // top-level spans of the layer only: a same-layer child is already
      // inside its parent's wall time
      val sp = allSpans.filter(s => s.layer == l &&
        !byId.get(s.parent).exists(_.layer == l))
      val ids = sp.map(_.id).toSet
      val js = jobSpan.filter { case (_, s) => s.layer == l }.map(_._1)
      def sum(f: JobRec => Long) = js.map(j => j.synchronized(f(j))).sum.toDouble
      // exclusive figures: a span's wall and idle time minus those of the
      // child spans it drives in other layers (a streaming drain minus the
      // batch bodies it runs)
      def kids(s: Span) = allSpans.filter(c => c.parent == s.id && c.layer != s.layer)
      def gap(s: Span): Long = {
        val inside = allSpans.filter(c => c.id == s.id || isUnder(c, s.id, byId))
          .flatMap(c => jobsOf.getOrElse(c.id, Nil)).map(j => (j.start, j.end))
        Stats.driverGap(s.start, s.end, inside)
      }
      val wallMs = sp.map(s => (s.end - s.start) - kids(s).map(c => c.end - c.start).sum).sum
      val gapMs = sp.map(s => gap(s) - kids(s).map(gap).sum).sum
      val explicitRows = rowsOut.synchronized(
        rowsOut.filter { case (k, _) => ids(k) }.values.sum)
      val rows = if (explicitRows > 0) explicitRows.toDouble else sum(_.recordsWritten)
      out(s"$l.wall_s") = wallMs / 1000.0 / u
      out(s"$l.jobs") = js.size / u
      out(s"$l.tasks") = sum(_.tasks) / u
      out(s"$l.task_cpu_s") = sum(_.cpuNs) / 1e9 / u
      out(s"$l.gc_s") = sum(_.gcMs) / 1000.0 / u
      out(s"$l.driver_gap_s") = gapMs / 1000.0 / u
      out(s"$l.plan_s") = planByLayer(l) / u
      out(s"$l.shuffle_write_mb") = sum(_.shuffleWrite) / Trace.MBf / u
      out(s"$l.fetch_wait_s") = sum(_.fetchWaitMs) / 1000.0 / u
      out(s"$l.spill_mb") = sum(_.spill) / Trace.MBf / u
      out(s"$l.peak_exec_mem_mb") =
        (if (js.isEmpty) 0.0 else js.map(_.peakMem).max / Trace.MBf)
      out(s"$l.rows_out") = rows / u
    }
    // streaming extras
    val sp = stream.filter(_._1.layer == "streaming")
    out("streaming.batches") = sp.size / u
    out("streaming.batch_p50_s") =
      if (sp.isEmpty) 0.0 else Stats.median(sp.map(_._2.batchDuration / 1000.0))
    out("streaming.commit_s") = stream.map { case (_, p) =>
      def d(k: String) = Option(p.durationMs.get(k)).map(_.toLong).getOrElse(0L)
      (d("walCommit") + d("commitOffsets") + p.stateOperators.map(_.commitTimeMs).sum) / 1000.0
    }.sum / u
    val lastByRun = stream.groupBy(_._1.runId).values.map(_.maxBy(_._2.batchId)._2)
    out("streaming.state_rows") = lastByRun.map(_.stateOperators.map(_.numRowsTotal).sum).sum.toDouble
    out("streaming.state_mb") =
      lastByRun.map(_.stateOperators.map(_.memoryUsedBytes).sum).sum / Trace.MBf
    val src = jobSpan.filter(_._2.layer == "sources").map(_._1)
    out("sources.bytes_written_mb") = src.map(_.bytesWritten).sum / Trace.MBf / u
    out("sources.files_written") =
      org.apache.spark.sql.PerfbenchSqlBridge.writtenFiles(spark, src.map(_.execId).toSet) / u
    val fRows = out("features.rows_out")
    out("features.task_cpu_ns_per_row") =
      if (fRows > 0) out("features.task_cpu_s") * 1e9 / fRows else 0.0
    // slowest task over the median task, in the bars stage with the most
    // task time
    val barStages = jobSpan.filter(_._2.layer == "bars").map(_._1)
      .flatMap(j => j.synchronized(j.stageDurations.values.map(_.toList).toList))
      .filter(_.size >= 2)
    out("bars.max_task_over_median") =
      if (barStages.isEmpty) 0.0
      else {
        val st = barStages.maxBy(_.sum)
        st.max / math.max(1.0, Stats.median(st.map(_.toDouble)))
      }
    out.toMap
  }

  private def isUnder(c: Span, ancestor: Long, byId: Map[Long, Span]): Boolean = {
    var p = c.parent
    var hops = 0
    while (p != 0 && hops < 64) {
      if (p == ancestor) return true
      p = byId.get(p).map(_.parent).getOrElse(0L)
      hops += 1
    }
    false
  }

  /** Spans as JSON lines (name, start, end, parent, run id). */
  def spansJson(): String = {
    val ss = spans.synchronized(spans.toList) ++ streamSpans().map(_._1)
    ss.sortBy(_.start).map { s =>
      s"""{"id":${s.id},"name":"${s.layer}","start_ms":${s.start},"end_ms":${s.end},"parent":${s.parent},"run_id":"${s.runId}"}"""
    }.mkString("\n")
  }
}
