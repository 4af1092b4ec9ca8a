package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval: a workload, an operation, a call into a layer, a
  * Spark job or a stream batch. Times are epoch milliseconds with a
  * fractional part, so spans from the benchmark's own clock and from Spark
  * events (which carry epoch milliseconds) nest on one axis. */
final case class Span(id: Long, var parent: Long, kind: String, name: String,
    start: Double, end: Double, attrs: Map[String, Double] = Map.empty)

/** Wall clock in epoch milliseconds at nanosecond resolution: the epoch
  * offset is read once, durations come from `nanoTime`. */
object Clock {
  private val originNs = System.nanoTime()
  private val originMs = System.currentTimeMillis().toDouble
  def nowMs(): Double = originMs + (System.nanoTime() - originNs) / 1e6
}

/** Spans kept in memory while the benchmark runs. Operation and layer-call
  * spans are opened by the benchmark around its own calls; Spark job,
  * stage-metric, query-planning and stream-batch records come from
  * listeners that exist only while tracing is on. */
final class Tracer {
  private val nextId = new java.util.concurrent.atomic.AtomicLong(1)
  val spans = new ConcurrentLinkedQueue[Span]()
  @volatile var enabled = false
  /** The innermost open benchmark span; jobs submitted under it carry its
    * id as a local property. One operation runs at a time, so a single
    * slot (not a per-thread stack) is enough, and the stream thread that
    * runs the sink sees the caller's span. */
  @volatile var current: Long = 0L
  /** Id of the span that closed last (0 when tracing is off). */
  @volatile var lastClosed: Long = 0L

  val PropKey = "perfbench.span"

  /** Time `body` as a span of `kind`/`name` under the current span. The
    * elapsed milliseconds are returned whether or not tracing is on. */
  def span[T](kind: String, name: String, spark: SparkSession)(body: => T): (T, Double) = {
    val id = nextId.getAndIncrement()
    val parent = current
    val sc = spark.sparkContext
    val prevProp = sc.getLocalProperty(PropKey)
    current = id
    if (enabled) sc.setLocalProperty(PropKey, id.toString)
    val t0 = Clock.nowMs()
    try {
      val v = body
      (v, Clock.nowMs() - t0)
    } finally {
      val t1 = Clock.nowMs()
      current = parent
      if (enabled) {
        sc.setLocalProperty(PropKey, prevProp)
        spans.add(Span(id, parent, kind, name, t0, t1))
        lastClosed = id
      } else lastClosed = 0L
    }
  }
}

object SparkRecords {
  final case class Job(id: Int, span: Long, start: Double, var end: Double,
      stages: Seq[Int], var failed: Boolean)
  final case class StageM(stageId: Int, attempt: Int, tasks: Int, failedTasks: Int,
      runMs: Double, cpuMs: Double, gcMs: Double, inBytes: Double, outBytes: Double,
      outRecords: Double, shReadBytes: Double, shWriteBytes: Double, spillBytes: Double)
  final case class Planning(end: Double, analysis: Double, optimization: Double,
      planning: Double)
  final case class Batch(start: Double, end: Double, rows: Long,
      durations: Map[String, Double])
}

/** Raw listener records for one traced run. */
final class SparkRecords(tracer: Tracer) {
  import SparkRecords._

  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  val stages = new ConcurrentLinkedQueue[StageM]()
  val planning = new ConcurrentLinkedQueue[Planning]()
  val batches = new ConcurrentLinkedQueue[Batch]()
  private val failedTasksByStage = new java.util.concurrent.ConcurrentHashMap[(Int, Int), Int]()

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(tracer.PropKey)))
        .map(_.toLong).getOrElse(0L)
      jobs.put(e.jobId, Job(e.jobId, span, e.time.toDouble, Double.NaN, e.stageIds, false))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach { j =>
        j.end = e.time.toDouble
        j.failed = e.jobResult != JobSucceeded
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.taskInfo != null && e.taskInfo.failed)
        failedTasksByStage.merge((e.stageId, e.stageAttemptId), 1, (a: Int, b: Int) => a + b)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = e.stageInfo
      val m = s.taskMetrics
      val failed = Option(failedTasksByStage.remove((s.stageId, s.attemptNumber()))).map(_.intValue).getOrElse(0)
      if (m != null) stages.add(StageM(s.stageId, s.attemptNumber(), s.numTasks, failed,
        m.executorRunTime.toDouble, m.executorCpuTime / 1e6, m.jvmGCTime.toDouble,
        m.inputMetrics.bytesRead.toDouble, m.outputMetrics.bytesWritten.toDouble,
        m.outputMetrics.recordsWritten.toDouble, m.shuffleReadMetrics.totalBytesRead.toDouble, m.shuffleWriteMetrics.bytesWritten.toDouble,
        (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble))
    }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      def d(k: String) = ph.get(k).map(_.durationMs.toDouble).getOrElse(0.0)
      val end = ph.values.map(_.endTimeMs.toDouble).foldLeft(0.0)(math.max)
      planning.add(Planning(end, d("analysis"), d("optimization"), d("planning")))
    }
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      val dur = p.durationMs.asScala.map { case (k, v) => k -> v.doubleValue }.toMap
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      batches.add(Batch(start, start + dur.getOrElse("triggerExecution", 0.0),
        p.numInputRows, dur))
    }
  }

  def register(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  def unregister(spark: SparkSession): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
  }
}

/** Interval arithmetic for self time and idle time. */
object Intervals {
  /** Total length of the union of `xs`, clipped to [lo, hi]. */
  def covered(xs: Iterable[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = xs.iterator.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.toSeq.sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) total += curB - curA
    total
  }
}

/** Turns the records of one traced run into the span tree and per-layer
  * figures. Jobs hang under the benchmark span whose id they carry (or, for
  * jobs the stream thread submits outside the sink, the innermost span that
  * contains their start); stream batches hang under the `runStreamWith`
  * span that contains them and adopt the sink's layer calls. */
final class TraceReport(tracer: Tracer, rec: SparkRecords) {
  import SparkRecords._
  val spans: Seq[Span] = tracer.spans.asScala.toSeq.sortBy(_.start)
  private val byId = spans.map(s => s.id -> s).toMap

  private def innermost(t: Double, kinds: Set[String] = Set.empty): Long =
    spans.filter(s => s.start <= t && t <= s.end && (kinds.isEmpty || kinds(s.kind)))
      .sortBy(s => s.end - s.start).headOption.map(_.id).getOrElse(0L)

  val stageById: Map[Int, Seq[StageM]] = rec.stages.asScala.toSeq.groupBy(_.stageId)

  val batchSpans: Seq[Span] = rec.batches.asScala.toSeq.zipWithIndex.map { case (b, i) =>
    Span(-1000000L - i, innermost(b.start, Set("runStreamWith")), "batch", s"batch-$i",
      b.start, b.end, b.durations ++ Map("rows" -> b.rows.toDouble))
  }

  // the sink's layer calls run inside a batch: re-parent them onto it
  batchSpans.foreach { b =>
    spans.foreach { s =>
      if (s.parent == b.parent && s.kind != "batch" && s.start >= b.start - 1 && s.end <= b.end + 1)
        s.parent = b.id
    }
  }

  /** The batch of stream `rsw` whose interval holds `t`, if any. */
  private def batchAt(rsw: Long, t: Double): Option[Long] =
    batchSpans.find(b => b.parent == rsw && b.start <= t && t <= b.end).map(_.id)

  val jobSpans: Seq[Span] = rec.jobs.values.asScala.toSeq.filterNot(_.end.isNaN).map { j =>
    val sm = j.stages.flatMap(stageById.getOrElse(_, Nil))
    val tagged = if (j.span != 0L && byId.contains(j.span)) j.span else innermost(j.start)
    // the stream thread inherits the caller's span: its own jobs belong to
    // the batch that ran them
    val parent = byId.get(tagged).filter(_.kind == "runStreamWith")
      .flatMap(_ => batchAt(tagged, j.start)).getOrElse(tagged)
    Span(-j.id - 1L, parent, "job", s"job-${j.id}", j.start, j.end, Map(
      "stages" -> sm.size.toDouble,
      "tasks" -> sm.map(_.tasks).sum.toDouble,
      "failed_tasks" -> sm.map(_.failedTasks).sum.toDouble,
      "failed" -> (if (j.failed) 1.0 else 0.0),
      "run_ms" -> sm.map(_.runMs).sum, "cpu_ms" -> sm.map(_.cpuMs).sum,
      "gc_ms" -> sm.map(_.gcMs).sum, "input_bytes" -> sm.map(_.inBytes).sum,
      "output_bytes" -> sm.map(_.outBytes).sum, "output_records" -> sm.map(_.outRecords).sum,
      "shuffle_read_bytes" -> sm.map(_.shReadBytes).sum,
      "shuffle_write_bytes" -> sm.map(_.shWriteBytes).sum,
      "spill_bytes" -> sm.map(_.spillBytes).sum))
  }

  val all: Seq[Span] = spans ++ batchSpans ++ jobSpans
  private val children: Map[Long, Seq[Span]] = all.groupBy(_.parent)

  def selfMs(s: Span): Double =
    (s.end - s.start) - Intervals.covered(
      children.getOrElse(s.id, Nil).map(c => (c.start, c.end)), s.start, s.end)

  def descendants(id: Long): Seq[Span] = {
    val out = mutable.ArrayBuffer.empty[Span]
    var frontier = children.getOrElse(id, Nil)
    while (frontier.nonEmpty) {
      out ++= frontier
      frontier = frontier.flatMap(c => children.getOrElse(c.id, Nil))
    }
    out.toSeq
  }

  /** Planning phases of the queries that finished inside [lo, hi]. */
  def planningIn(lo: Double, hi: Double): Seq[Planning] =
    rec.planning.asScala.toSeq.filter(p => p.end >= lo && p.end <= hi + 1)

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try all.sortBy(_.start).foreach { s =>
      val attrs = s.attrs.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":${Json.num(v)}""" }
        .mkString("{", ",", "}")
      w.write(s"""{"id":${s.id},"parent":${s.parent},"kind":${Json.str(s.kind)},""" +
        s""""name":${Json.str(s.name)},"start_ms":${Json.num(s.start)},""" +
        s""""end_ms":${Json.num(s.end)},"self_ms":${Json.num(selfMs(s))},"attrs":$attrs}""")
      w.newLine()
    } finally w.close()
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
    b += '"'
    b.toString
  }
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else java.math.BigDecimal.valueOf(v).toPlainString
}
