package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval of a traced pass. Times are epoch milliseconds. */
final case class Span(id: Long, name: String, start: Double, end: Double,
    query: String, key: Long = -1L, link: Long = -1L) {
  var parent: Long = -1L
  def dur: Double = math.max(0.0, end - start)
  def covers(t: Double): Boolean = t >= start - 1 && t <= end + 1
}

/** Collects per-layer counters and spans for the traced passes.
  *
  * The three listener classes below are registered through static confs,
  * so Spark builds one instance per session, child sessions included; all
  * of them report here. A closed loop runs one query at a time and the
  * harness drains the listener bus at the end of each query, so every
  * event is charged to the query that is current when it is delivered. */
object Recorder {
  @volatile var on = false
  @volatile private var query = ""

  private val MB = 1024.0 * 1024.0
  private val ids = new java.util.concurrent.atomic.AtomicLong(1)
  private val counters = mutable.LinkedHashMap[String, Double]()
  private val batchMs = mutable.ArrayBuffer[Double]()
  private val current = mutable.ArrayBuffer[Span]()
  val spans = mutable.ArrayBuffer[Span]()
  private val stageSubmit = mutable.Map[(Int, Int), Long]()
  private val stageJob = mutable.Map[Int, Int]()
  private val openJobs = mutable.Map[Int, (Long, Long)]()
  private val openActions = mutable.Map[Long, (Long, Long)]()

  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  /** `System.nanoTime` on the epoch-millisecond scale of Spark's events. */
  def ms(nanos: Long): Double = epoch0 + (nanos - nano0) / 1e6

  def add(key: String, v: Double): Unit = synchronized {
    counters(key) = counters.getOrElse(key, 0.0) + v
  }
  private def max(key: String, v: Double): Unit = synchronized {
    counters(key) = math.max(counters.getOrElse(key, 0.0), v)
  }
  private def span(name: String, start: Double, end: Double,
      key: Long = -1L, link: Long = -1L): Span =
    synchronized {
      val s = Span(ids.getAndIncrement(), name, start, end, query, key, link)
      current += s
      s
    }

  def beginQuery(id: String): Unit = synchronized { query = id }

  /** Records the harness-side spans of one finished query, links every
    * span of the query to its parent and adds the layers' self times. */
  def endQuery(start: Double, buildEnd: Double, end: Double,
      sc: org.apache.spark.SparkContext): Unit = {
    org.apache.spark.BusDrain(sc)
    synchronized {
      val q = span("query", start, end)
      val phases = Seq(span("ops.build", start, buildEnd), span("ops.run", buildEnd, end))
      phases.foreach(_.parent = q.id)
      def byName(n: String) = current.filter(_.name == n).toSeq
      val batches = byName("stream.batch")
      val actions = byName("sql.action")
      val jobs = byName("job")
      def inside(t: Double): Long =
        batches.find(_.covers(t)).orElse(phases.find(_.covers(t))).map(_.id).getOrElse(q.id)
      batches.foreach(b => b.parent = phases.find(_.covers(b.start)).map(_.id).getOrElse(q.id))
      val actionOf = actions.map(a => a.key -> a).toMap
      actions.foreach(a => a.parent = inside(a.start))
      jobs.foreach(j => j.parent = actionOf.get(j.link).map(_.id).getOrElse(inside(j.start)))
      val jobSpan = jobs.map(j => j.key -> j).toMap
      byName("stage").foreach(s => s.parent = jobSpan.get(s.link).map(_.id).getOrElse(q.id))
      val children = current.groupBy(_.parent)
      current.foreach { s =>
        val kids = children.getOrElse(s.id, Nil).map(k => (k.start max s.start, k.end min s.end))
        add(s"trace.self.${s.name.replace('.', '_')}_ms", s.dur - covered(kids))
      }
      add("sched.driver_only_ms", q.dur - covered(jobs.map(j => (j.start max start, j.end min end))))
      spans ++= current
      current.clear()
      query = ""
    }
  }

  /** Length of the union of the given intervals. */
  private def covered(iv: Iterable[(Double, Double)]): Double = {
    var total = 0.0
    var reach = Double.NegativeInfinity
    iv.filter(i => i._2 > i._1).toSeq.sortBy(_._1).foreach { case (s, e) =>
      if (s > reach) { total += e - s; reach = e }
      else if (e > reach) { total += e - reach; reach = e }
    }
    total
  }

  /** The counters of the pass that just ended; starts the next pass at 0. */
  def takePass(): Map[String, Double] = synchronized {
    if (batchMs.nonEmpty) counters("streaming.batch_p50_ms") = Stats.median(batchMs.toSeq)
    val out = counters.toMap
    counters.clear(); batchMs.clear()
    out
  }

  // ---- listener callbacks -------------------------------------------------

  private[graftbench] def jobStart(e: SparkListenerJobStart): Unit = synchronized {
    add("sched.jobs", 1)
    val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
    openJobs(e.jobId) = (e.time, exec.map(_.toLong).getOrElse(-1L))
    e.stageIds.foreach(stageJob(_) = e.jobId)
  }

  private[graftbench] def jobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    openJobs.remove(e.jobId).foreach { case (t0, exec) =>
      span("job", t0.toDouble, e.time.toDouble, e.jobId.toLong, exec)
      stageJob.filterInPlace((_, j) => j != e.jobId)
    }
  }

  private[graftbench] def stageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val i = e.stageInfo
    stageSubmit((i.stageId, i.attemptNumber())) = i.submissionTime.getOrElse(System.currentTimeMillis())
  }

  private[graftbench] def stageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    add("sched.stages", 1)
    val m = i.taskMetrics
    if (m != null && m.shuffleWriteMetrics.recordsWritten > 0) add("shuffle.count", 1)
    val t0 = stageSubmit.remove((i.stageId, i.attemptNumber()))
      .orElse(i.submissionTime).getOrElse(0L)
    span("stage", t0.toDouble, i.completionTime.getOrElse(t0).toDouble,
      i.stageId.toLong, stageJob.getOrElse(i.stageId, -1).toLong)
  }

  private[graftbench] def taskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    add("sched.tasks", 1)
    stageSubmit.get((e.stageId, e.stageAttemptId))
      .foreach(t0 => add("sched.task_wait_ms", math.max(0L, e.taskInfo.launchTime - t0)))
    val m = e.taskMetrics
    if (m != null) {
      add("exec.run_ms", m.executorRunTime)
      add("exec.cpu_ms", m.executorCpuTime / 1e6)
      add("exec.gc_ms", m.jvmGCTime)
      add("exec.deser_ms", m.executorDeserializeTime)
      max("exec.peak_mem_mb", m.peakExecutionMemory / MB)
      add("shuffle.write_mb", m.shuffleWriteMetrics.bytesWritten / MB)
      add("shuffle.read_mb", m.shuffleReadMetrics.totalBytesRead / MB)
      add("shuffle.fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime)
      add("spill.disk_mb", m.diskBytesSpilled / MB)
      add("scan.read_mb", m.inputMetrics.bytesRead / MB)
      add("scan.rows", m.inputMetrics.recordsRead)
      add("out.write_mb", m.outputMetrics.bytesWritten / MB)
      add("out.rows", m.outputMetrics.recordsWritten)
    }
  }

  private[graftbench] def actionStart(e: SparkListenerSQLExecutionStart): Unit = synchronized {
    openActions(e.executionId) = (e.time, e.rootExecutionId.getOrElse(e.executionId))
  }

  private[graftbench] def actionEnd(e: SparkListenerSQLExecutionEnd): Unit = synchronized {
    openActions.remove(e.executionId).foreach { case (t0, root) =>
      span("sql.action", t0.toDouble, e.time.toDouble, e.executionId, root)
    }
  }

  private[graftbench] def planned(qe: QueryExecution): Unit = synchronized {
    add("plans.actions", 1)
    val phases = qe.tracker.phases
    Seq("analysis", "optimization", "planning").foreach { p =>
      add(s"plans.${p}_ms", phases.get(p).map(_.durationMs).getOrElse(0L).toDouble)
    }
  }

  private[graftbench] def batch(p: org.apache.spark.sql.streaming.StreamingQueryProgress): Unit =
    synchronized {
      def d(k: String): Double = Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
      val trigger = d("triggerExecution")
      add("streaming.batches", 1)
      add("streaming.trigger_ms", trigger)
      add("streaming.planning_ms", d("queryPlanning"))
      add("streaming.wal_ms", d("walCommit") + d("commitOffsets"))
      p.stateOperators.foreach { s =>
        add("streaming.state_commit_ms", s.commitTimeMs)
        add("streaming.state_rows", s.numRowsUpdated)
      }
      batchMs += trigger
      val t0 = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      span("stream.batch", t0, t0 + trigger)
    }
}

/** Scheduler, executor, shuffle and SQL-execution events. */
class JobProbe extends SparkListener {
  override def onJobStart(e: SparkListenerJobStart): Unit = if (Recorder.on) Recorder.jobStart(e)
  override def onJobEnd(e: SparkListenerJobEnd): Unit = if (Recorder.on) Recorder.jobEnd(e)
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    if (Recorder.on) Recorder.stageSubmitted(e)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    if (Recorder.on) Recorder.stageCompleted(e)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (Recorder.on) Recorder.taskEnd(e)
  override def onOtherEvent(e: SparkListenerEvent): Unit = if (Recorder.on) e match {
    case s: SparkListenerSQLExecutionStart => Recorder.actionStart(s)
    case s: SparkListenerSQLExecutionEnd => Recorder.actionEnd(s)
    case _ =>
  }
}

/** Catalyst phase times of every action, from its planning tracker. */
class ActionProbe extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (Recorder.on) Recorder.planned(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    if (Recorder.on) Recorder.planned(qe)
}

/** Micro-batch progress of every streaming query. */
class StreamProbe extends StreamingQueryListener {
  import StreamingQueryListener._
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = if (Recorder.on) Recorder.batch(e.progress)
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
}
