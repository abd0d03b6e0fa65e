package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed interval. Bench spans come from the benchmark's own calls into
  * each layer; `spark.job` spans come from the scheduler. Parents are
  * assigned by time containment when the trace is summarized (one client,
  * so the innermost enclosing span is the cause). */
final case class Span(id: Int, name: String, start: Long, end: Long,
    attrs: Map[String, Double] = Map.empty) {
  def dur: Long = end - start
  def contains(o: Span): Boolean = o.id != id && start <= o.start && o.end <= end &&
    (dur > o.dur || (dur == o.dur && id < o.id))
}

/** Per-job scheduler numbers gathered from task and stage events. */
final class JobStats {
  var stages = 0
  var tasks = 0
  var taskRunNs = 0L
  var taskCpuNs = 0L
  var inputBytes = 0L
  var outputBytes = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var schedWaitNs = 0L
}

/** The benchmark's clock: nanoseconds on the epoch, so bench timestamps
  * compare with scheduler event times (epoch milliseconds). */
object Clock {
  private val origin = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def now: Long = origin + System.nanoTime()
}

/** In-memory span recorder plus the Spark and streaming listeners of the
  * traced run. Spans and scheduler events are recorded only while
  * attached. */
final class Tracer(spark: SparkSession) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0
  private val jobStart = mutable.HashMap.empty[Int, Long]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val stageSubmit = mutable.HashMap.empty[Int, Long]
  private val stageFirstLaunch = mutable.HashMap.empty[Int, Long]
  private val jobs = mutable.HashMap.empty[Int, JobStats]
  private val jobSpans = mutable.ArrayBuffer.empty[Span]
  /** Streaming progress per micro-batch: durationMs by phase, and the
    * batch id. */
  val progress = mutable.ArrayBuffer.empty[Map[String, Long]]

  @volatile private var enabled = false
  def now: Long = Clock.now

  def record(name: String, start: Long, end: Long,
      attrs: Map[String, Double] = Map.empty): Unit = if (enabled) synchronized {
    spans += Span(nextId, name, start, end, attrs); nextId += 1
  }

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val t0 = now
      try body finally record(name, t0, now)
    }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      jobStart(e.jobId) = e.time * 1000000L
      jobs(e.jobId) = new JobStats
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
      jobs(e.jobId).stages = e.stageIds.size
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobStart.remove(e.jobId).foreach { t0 =>
        jobSpans += Span(-1 - e.jobId, "spark.job", t0, e.time * 1000000L)
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      Tracer.this.synchronized {
        e.stageInfo.submissionTime.foreach(t => stageSubmit(e.stageInfo.stageId) = t)
      }
    override def onTaskStart(e: SparkListenerTaskStart): Unit = Tracer.this.synchronized {
      if (!stageFirstLaunch.contains(e.stageId)) {
        stageFirstLaunch(e.stageId) = e.taskInfo.launchTime
        for (sub <- stageSubmit.get(e.stageId); j <- stageJob.get(e.stageId);
             st <- jobs.get(j))
          st.schedWaitNs += math.max(0L, e.taskInfo.launchTime - sub) * 1000000L
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      for (j <- stageJob.get(e.stageId); st <- jobs.get(j); m <- Option(e.taskMetrics)) {
        st.tasks += 1
        st.taskRunNs += m.executorRunTime * 1000000L
        st.taskCpuNs += m.executorCpuTime
        st.inputBytes += m.inputMetrics.bytesRead
        st.outputBytes += m.outputMetrics.bytesWritten
        st.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        st.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized {
        if (e.progress.numInputRows > 0) {
          val d = e.progress.durationMs
          progress += (d.keySet.toArray.map(k => k.toString -> d.get(k).longValue).toMap +
            ("batchId" -> e.progress.batchId))
        }
      }
  }

  spark.streams.addListener(streamListener)

  /** Start recording spans and scheduler events. */
  def attach(): Unit = if (!enabled) {
    spark.sparkContext.addSparkListener(listener)
    enabled = true
  }

  /** Stop recording; waits until every started job has ended (scheduler
    * events arrive asynchronously on the listener bus). */
  def detach(): Unit = if (enabled) {
    val deadline = System.nanoTime() + 10L * 1000000000L
    while (synchronized(jobStart.nonEmpty) && System.nanoTime() < deadline)
      Thread.sleep(5)
    spark.sparkContext.removeSparkListener(listener)
    enabled = false
  }

  def close(): Unit = { detach(); spark.streams.removeListener(streamListener) }

  def benchSpans: Seq[Span] = synchronized(spans.toVector)
  def sparkJobs: Seq[Span] = synchronized(jobSpans.toVector)

  /** Spark jobs that ran inside `s`. */
  def jobsIn(s: Span): Seq[(Span, JobStats)] = synchronized {
    jobSpans.toVector.filter(j => s.start - 1000000L <= j.start && j.end <= s.end + 1000000L)
      .flatMap(j => jobs.get(-1 - j.id).map(j -> _))
  }

  /** Length of the union of `intervals` clipped to [lo, hi]. */
  private def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (a > curE) { if (curE > curS) total += curE - curS; curS = a; curE = b }
        else curE = math.max(curE, b)
      }
    if (curE > curS) total += curE - curS
    total
  }

  /** Time inside `s` during which a Spark job was running. */
  def jobBusy(s: Span): Long =
    covered(jobsIn(s).map { case (j, _) => (j.start, j.end) }, s.start, s.end)

  /** Span tree as JSON lines (parent by containment, self time = duration
    * minus the union of the children's intervals). */
  def dump(path: java.nio.file.Path): Unit = {
    val all = (benchSpans ++ sparkJobs).sortBy(s => (s.start, -s.dur))
    val parent = all.map { s =>
      s.id -> all.filter(p => p.name != "spark.job" && p.contains(s))
        .sortBy(_.dur).headOption.map(_.id)
    }.toMap
    val kids = all.groupBy(s => parent(s.id))
    val sb = new StringBuilder
    all.foreach { s =>
      val self = s.dur - covered(kids.getOrElse(Some(s.id), Nil).map(k => (k.start, k.end)),
        s.start, s.end)
      val attrs = s.attrs.map { case (k, v) => s""","$k":$v""" }.mkString
      sb.append(s"""{"id":${s.id},"parent":${parent(s.id).getOrElse("null")},""" +
        s""""name":"${s.name}","start_ns":${s.start},"dur_ns":${s.dur},"self_ns":$self$attrs}""")
      sb.append('\n')
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, sb.toString.getBytes("UTF-8"))
  }
}
