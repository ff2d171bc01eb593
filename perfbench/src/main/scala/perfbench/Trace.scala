package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval of the run: the harness's calls into a layer, a Spark
  * job, or a streaming micro-batch. `parent` is the id of the span that
  * caused it (-1 at the root); times are nanoseconds on one clock. */
final case class Span(id: Int, parent: Int, name: String, start: Long, end: Long,
                      external: Boolean = false)

/** In-memory span recorder. Disabled (the untraced run), `span` is a plain
  * call: no clock reads, no allocation, no listeners. Spans are kept in
  * memory and written out once, when the run ends. */
final class Tracer(val enabled: Boolean) {
  private val spans = ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Int]] { override def initialValue() = Nil }
  private var nextId = 0

  def now(): Long = System.nanoTime()

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = synchronized { nextId += 1; nextId }
      val parent = stack.get.headOption.getOrElse(-1)
      stack.set(id :: stack.get)
      val t0 = now()
      try body
      finally {
        stack.set(stack.get.tail)
        record(Span(id, parent, name, t0, now()))
      }
    }

  /** Record an interval measured elsewhere (jobs, micro-batches); its
    * parent is the innermost harness span that was open at `start`. */
  def external(name: String, start: Long, end: Long): Unit =
    if (enabled) synchronized {
      nextId += 1
      record(Span(nextId, -1, name, start, end, external = true))
    }

  private def record(s: Span): Unit = synchronized { spans += s }

  /** Every span, with each external span's parent resolved to the
    * innermost harness span open when it started. */
  def all: Seq[Span] = synchronized {
    val harness = spans.filterNot(_.external).toSeq
    spans.toSeq.map { s =>
      if (!s.external) s
      else {
        val enclosing = harness.filter(h => h.start <= s.start && s.start <= h.end)
        if (enclosing.isEmpty) s else s.copy(parent = enclosing.maxBy(_.start).id)
      }
    }
  }

  /** Self time of the spans named `name`: each span's duration minus the
    * union of its children's intervals. */
  def selfTime(name: String): Long = {
    val ss = all
    val kids = ss.groupBy(_.parent)
    ss.filter(_.name == name).map { s =>
      val covered = kids.getOrElse(s.id, Nil).map(c => (c.start max s.start, c.end min s.end))
        .filter { case (a, b) => b > a }.sortBy(_._1)
        .foldLeft((0L, Long.MinValue)) { case ((acc, reach), (a, b)) =>
          if (b <= reach) (acc, reach)
          else (acc + b - (a max reach), b)
        }._1
      (s.end - s.start) - covered
    }.sum
  }

  def toJson: String = all.sortBy(_.start).map { s =>
    s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},"start_ns":${s.start},"end_ns":${s.end}}"""
  }.mkString("[", ",\n", "]")
}

/** Engine-level counters read from Spark's own listener interfaces. All
  * fields are totals since `reset()`; the harness resets them when the
  * measured phase starts. Listener callbacks arrive on the bus thread. */
final class Meter(tracer: Tracer) extends SparkListener with QueryExecutionListener {
  var jobs, stages, tasks, tasksFailed = 0L
  var runMs, cpuNs, gcMs, schedDelayMs = 0L
  var shuffleWrite, shuffleRead, spill = 0L
  var inRecords, inBytes = 0L
  var analysisMs, optimizationMs, planningMs = 0L
  /** (start ns, end ns) of every job, for "jobs inside span X" queries. */
  val jobTimes = ArrayBuffer.empty[(Long, Long)]
  private val jobStart = scala.collection.mutable.Map.empty[Int, Long]
  // listener events carry wall-clock ms; spans use nanoTime
  private val clockSkewNs = System.nanoTime() - System.currentTimeMillis() * 1000000L

  def reset(): Unit = synchronized {
    jobs = 0; stages = 0; tasks = 0; tasksFailed = 0
    runMs = 0; cpuNs = 0; gcMs = 0; schedDelayMs = 0
    shuffleWrite = 0; shuffleRead = 0; spill = 0
    inRecords = 0; inBytes = 0
    analysisMs = 0; optimizationMs = 0; planningMs = 0
    jobTimes.clear()
  }

  private def ns(ms: Long): Long = ms * 1000000L + clockSkewNs

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += 1; jobStart(e.jobId) = ns(e.time)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { s =>
      val end = ns(e.time) max s
      jobTimes += ((s, end))
      tracer.external(s"job ${e.jobId}", s, end)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized { stages += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    if (e.reason != org.apache.spark.Success) tasksFailed += 1
    val m = e.taskMetrics
    if (m != null) {
      runMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      schedDelayMs += (e.taskInfo.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - e.taskInfo.gettingResultTime) max 0L
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      inRecords += m.inputMetrics.recordsRead
      inBytes += m.inputMetrics.bytesRead
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = synchronized {
    val p = qe.tracker.phases
    analysisMs += p.get("analysis").map(_.durationMs).getOrElse(0L)
    optimizationMs += p.get("optimization").map(_.durationMs).getOrElse(0L)
    planningMs += p.get("planning").map(_.durationMs).getOrElse(0L)
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** A DataFrame is analyzed when it is built, so the write's own
    * execution reports no analysis: add the built plan's. */
  def addAnalysis(qe: QueryExecution): Unit = synchronized {
    analysisMs += qe.tracker.phases.get("analysis").map(_.durationMs).getOrElse(0L)
  }

  /** Jobs that started inside any of the given intervals. */
  def jobsWithin(intervals: Seq[(Long, Long)]): Int = synchronized {
    jobTimes.count { case (s, _) => intervals.exists { case (a, b) => a <= s && s <= b } }
  }

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  /** Block until every event posted so far has reached the listeners. */
  def drain(spark: SparkSession): Unit = org.apache.spark.PerfbenchBridge.drainListeners(spark)
}

/** Micro-batch progress as reported through `StreamingQueryListener`. */
final case class Progress(batchId: Long, startMs: Long, rows: Long, durations: Map[String, Long],
                          stateRows: Long, stateBytes: Long, atNs: Long)

final class ProgressLog(tracer: Tracer) extends StreamingQueryListener {
  val batches = ArrayBuffer.empty[Progress]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    import scala.jdk.CollectionConverters._
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    val startMs = java.time.Instant.parse(p.timestamp).toEpochMilli
    val st = p.stateOperators.headOption
    val at = System.nanoTime()
    synchronized {
      batches += Progress(p.batchId, startMs, p.numInputRows, d,
        st.map(_.numRowsTotal).getOrElse(0L), st.map(_.memoryUsedBytes).getOrElse(0L), at)
    }
    val wall = d.getOrElse("triggerExecution", 0L) * 1000000L
    tracer.external(s"batch ${p.batchId}", at - wall, at)
  }
  def snapshot: Seq[Progress] = synchronized(batches.toSeq)
}
