package graftbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import Main.{mean, median}

/** Public engine counters and the JVM's GC time. The trace and template
  * counters are non-atomic `+= 1` updates, so read them as lower bounds. */
object EngineCounters {
  def read(): Map[String, Double] = Map(
    "replays" -> graft.ivm.Ivm.traceReplays.toDouble,
    "records" -> graft.ivm.BenchCounters.traceRecords.toDouble,
    "hits" -> org.apache.spark.sql.GraftTemplates.hits.toDouble,
    "misses" -> org.apache.spark.sql.GraftTemplates.misses.toDouble,
    "inline" -> org.apache.spark.sql.GraftTemplates.inlineRuns.get().toDouble,
    "prunes" -> graft.ivm.ZDelta.prunes.get().toDouble,
    "gc_s" -> ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3)
}

/** Per-layer numbers of a traced run, from the bench spans of its traced
  * batches and the Spark jobs that ran inside them. */
final class LayerMetrics(t: Tracer) {
  private val spans = t.benchSpans
  private def inside(outer: Span, p: Span => Boolean): Seq[Span] =
    spans.filter(s => p(s) && outer.contains(s))
  private def secs(ns: Double): Double = ns / 1e9
  private def isRefresh(s: Span) =
    s.name.startsWith("ivm.refresh/") || s.name == "cascade.refresh"

  /** Median duration of the spans named `name`, in seconds. */
  def spanMedian(name: String): Double =
    median(spans.filter(_.name == name).map(s => secs(s.dur.toDouble)))

  /** View creation time within the set-up. */
  def setup(metric: (String, Double, String) => Unit): Unit = {
    def per(prefix: String) =
      secs(spans.filter(_.name.startsWith(prefix)).map(_.dur).sum.toDouble)
    metric("ivm.create_s", per("ivm.create"), "s")
    metric("sql.create_immv_s", per("sql.create_immv"), "s")
  }

  /** Refresh and read numbers per traced batch. */
  def batches(metric: (String, Double, String) => Unit): Unit = {
    val batch = spans.filter(_.name == "batch")
    val refreshes = batch.map(b => inside(b, isRefresh))
    val reads = batch.flatMap(b => inside(b, _.name == "ivm.read"))
    metric("ivm.refresh_s", median(refreshes.flatten.map(s => secs(s.dur.toDouble))), "s")
    metric("ivm.refresh_outside_jobs_s", median(refreshes.map(rs =>
      secs(rs.map(r => (r.dur - t.jobBusy(r)).toDouble).sum))), "s")
    metric("ivm.read_s", median(reads.map(s => secs(s.dur.toDouble))), "s")
    val readJobs = reads.map(t.jobsIn)
    metric("spark.jobs_per_read", mean(readJobs.map(_.size.toDouble)), "count")
    metric("spark.input_bytes_per_read",
      mean(readJobs.map(_.map(_._2.inputBytes.toDouble).sum)), "B")

    val jobs = refreshes.map(_.flatMap(t.jobsIn).map(_._2))
    def perBatch(f: JobStats => Double) = jobs.map(_.map(f).sum)
    metric("spark.jobs_per_refresh", mean(jobs.map(_.size.toDouble)), "count")
    metric("spark.stages_per_refresh", mean(perBatch(_.stages)), "count")
    metric("spark.tasks_per_refresh", mean(perBatch(_.tasks)), "count")
    metric("spark.job_busy_s", median(refreshes.map(rs =>
      secs(rs.map(t.jobBusy).sum.toDouble))), "s")
    metric("spark.task_run_s", median(perBatch(j => secs(j.taskRunNs))), "s")
    metric("spark.task_cpu_s", median(perBatch(j => secs(j.taskCpuNs))), "s")
    metric("spark.sched_wait_s", median(perBatch(j => secs(j.schedWaitNs))), "s")
    metric("spark.shuffle_read_bytes", mean(perBatch(_.shuffleRead)), "B")
    metric("spark.shuffle_write_bytes", mean(perBatch(_.shuffleWrite)), "B")
    metric("spark.input_bytes_per_refresh", mean(perBatch(_.inputBytes)), "B")
    metric("spark.output_bytes_per_refresh", mean(perBatch(_.outputBytes)), "B")
  }
}
