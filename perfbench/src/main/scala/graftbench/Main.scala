package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One workload run: generate and stage the inputs, set up once (session,
  * views, warm-up batches), run the closed maintenance loop for the given
  * seconds, check every view against a recompute, and print the metrics.
  * The last stdout line is one JSON object (see perfbench/README.md).
  *
  * {{{
  * java ... graftbench.Main --workload cdc_small --seed 1 --seconds 5 \
  *   --trace 0 --work <dir> [--corrupt 1] [--spans <file>]
  * }}}
  */
object Main {
  /** Reads timed after each measured batch; the first one also ends the
    * batch's freshness interval. */
  val ReadsPerBatch = 5

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val all = Files.walk(p).iterator().asScala.toVector.reverse
    all.foreach(Files.deleteIfExists)
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** The 90th percentile (nearest rank) and the sample count. A run holds
    * too few batches for a percentile with ten samples beyond it; below ten
    * samples this is the maximum. */
  def p90(xs: Seq[Double]): (Double, Int) = {
    val s = xs.sorted; val n = s.size
    if (n == 0) (0.0, 0) else (s(math.ceil(0.9 * n).toInt - 1), n)
  }

  /** Heap left after full collections. Spark frees unreferenced broadcast
    * and shuffle blocks asynchronously once a collection has found them, so
    * collect, let that cleanup run, and collect again. */
  private def liveHeapMb(): Double = {
    System.gc(); Thread.sleep(500); System.gc(); Thread.sleep(100)
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0
  }

  private def files(root: String): Iterator[Path] = {
    val p = Paths.get(root)
    if (!Files.exists(p)) Iterator.empty
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_))
  }

  /** Segment files of a store (parquet data under `seg<v>` directories). */
  def segmentFiles(root: String): Map[String, Long] =
    files(root).filter(f => Paths.get(root).relativize(f).iterator().asScala.exists(c =>
      c.toString.startsWith("seg") && c.toString.drop(3).forall(_.isDigit)))
      .map(f => f.toString -> Files.size(f)).toMap

  def treeBytes(root: String): Long = files(root).map(Files.size(_)).sum

  /** Chain length per (state, bucket) in the store's current manifest. */
  def chains(root: String): Map[(String, String), Int] = {
    val cur = Paths.get(root, "_current")
    if (!Files.exists(cur)) Map.empty
    else {
      val v = new String(Files.readAllBytes(cur)).trim
      Files.readAllLines(Paths.get(root, s"_v$v")).asScala.map(_.split('\t'))
        .collect { case a if a.length >= 4 && a(0) == "E" => (a(1), a(2)) }
        .groupBy(identity).map { case (k, v) => k -> v.size }
    }
  }

  def session(cpus: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.broadcast.compress", "false")
      .config("spark.shuffle.compress", "false")
      .config("spark.shuffle.spill.compress", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$work/checkpoints")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def workload(name: String, env: Env): Workload = name match {
    case "cdc_small"    => new CdcSmall(env)
    case "dedup_stream" => new DedupStream(env)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val wname = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts.getOrElse("trace", "0") == "1"
    val work = Paths.get(opts("work")).toAbsolutePath
    val cpus = Runtime.getRuntime.availableProcessors()
    Files.createDirectories(work)

    var attempted = 0L
    var failed = 0L
    val notes = mutable.ArrayBuffer.empty[String]
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    def metric(n: String, v: Double, unit: String): Unit = metrics(n) = (v, unit)

    val tStart = System.nanoTime()
    def phase(): String = f"${(System.nanoTime() - tStart) / 1e9}%.1f"
    val env = new Env(() => session(cpus, work.toString), work, seed,
      opts.get("corrupt").contains("1"))
    var tracer: Option[Tracer] = None
    var w: Workload = null
    try {
      // inputs are generated and staged before anything is timed
      w = workload(wname, env)
      w.prepare()
      notes += s"inputs generated at ${phase()} s"

      // ------------------------------------------------ set-up (timed once)
      val s0 = System.nanoTime()
      tracer = if (traced) Some(new Tracer(env.spark)) else None
      env.tracer = tracer
      tracer.foreach(_.attach())
      env.span("setup") {
        w.create()
        notes += s"views created at ${phase()} s"
        (0 until w.warmups).foreach { i =>
          w.feed(i); w.read(i)
          notes += s"warm-up batch $i ended at ${phase()} s"
        }
      }
      val setup = (System.nanoTime() - s0) / 1e9
      tracer.foreach(_.detach())

      // ------------------------------------------------------ measured loop
      val refresh = mutable.ArrayBuffer.empty[Double]
      val reads = mutable.ArrayBuffer.empty[Double]
      val fresh = mutable.ArrayBuffer.empty[Double]
      val tracedFresh = mutable.ArrayBuffer.empty[Double]
      val plainFresh = mutable.ArrayBuffer.empty[Double]
      val discover = mutable.ArrayBuffer.empty[Double]
      val convert = mutable.ArrayBuffer.empty[Double]
      var rows = 0L
      var written = 0L
      var seen = segmentFiles(w.storeRoot)
      def allChains() = w.storeRoots.flatMap(r => chains(r).map { case ((s, b), n) =>
        (r, s, b) -> n }).toMap
      var prevChains = allChains()
      var compactions = 0
      val chainLens = mutable.ArrayBuffer.empty[Int]
      var changelogRows = 0L
      var cdcRows = 0L
      var sigRows = w match { case d: DedupStream if traced => d.sigRows; case _ => Map.empty[Seq[Any], Int] }
      var born = 0L
      var retracted = 0L
      var pairs = w match { case d: DedupStream if traced => d.pairSet; case _ => Set.empty[(Long, Long)] }
      notes += s"set-up ended at ${phase()} s"
      env.counting = traced

      def runCheck(i: Int): Unit = {
        tracer.foreach(_.attach())
        attempted += 1
        val bad = env.span("check")(w.check(i)).filter(_._2 != 0)
        tracer.foreach(_.detach())
        if (bad.nonEmpty) {
          failed += 1
          notes += s"correctness: after batch $i " +
            bad.map { case (v, n) => s"$v differs from recompute in $n rows" }.mkString(", ")
        }
        w match {
          case d: DedupStream if traced =>
            val now = d.pairSet
            born += (now -- pairs).size; retracted += (pairs -- now).size; pairs = now
          case _ =>
        }
      }

      var i = w.warmups
      var loopSecs = 0.0
      var measured = 0
      // a traced run alternates traced and untraced batches and needs two
      // of each for the tracing overhead
      val minBatches = if (traced) w.minBatches max 4 else w.minBatches
      while ((loopSecs < seconds || measured < minBatches) && i < w.maxBatches) {
        // trace mode alternates traced and untraced batches: the difference
        // of their freshness medians is the tracing overhead
        val spanOn = traced && measured % 2 == 0
        tracer.foreach(t => if (spanOn) t.attach())
        val b0 = Clock.now
        attempted += 2
        val (handover, refreshS) = w.feed(i)
        val r0 = Clock.now
        w.read(i)
        val r1 = Clock.now
        tracer.foreach { t =>
          t.record("ivm.read", r0, r1)
          t.record("batch", b0, r1, Map("index" -> i.toDouble))
          t.detach()
        }
        val f = (r1 - handover) / 1e9
        if (spanOn) tracedFresh += f else plainFresh += f
        refresh += refreshS; reads += (r1 - r0) / 1e9; fresh += f
        loopSecs += (r1 - b0) / 1e9
        // more samples of the same fresh state for read_p50_s: a read is
        // short, and with few re-reads per batch the median fell on the
        // slow tail of the re-reads (the first reads sort above them);
        // these stay out of the loop time and of the traced spans
        (1 until ReadsPerBatch).foreach { _ =>
          val a = Clock.now
          w.read(i)
          reads += (Clock.now - a) / 1e9
        }
        rows += w.deltaRows(i)
        discover += w.lastDiscover
        convert += w.lastConvert
        // store bookkeeping, outside the timed calls
        val now = segmentFiles(w.storeRoot)
        written += now.collect { case (p, b) if !seen.contains(p) => b }.sum
        seen = now
        if (traced) {
          // a batch compacts when some bucket's chain got shorter
          val ch = allChains()
          if (ch.exists { case (k, n) => prevChains.get(k).exists(_ > n) }) compactions += 1
          prevChains = ch
          chainLens ++= ch.values
          cdcRows += w.cdcDeltaRows(i)
          w match {
            case d: DedupStream =>
              val now = d.sigRows
              changelogRows += (now.keySet ++ sigRows.keySet).toSeq
                .map(k => math.abs(now.getOrElse(k, 0) - sigRows.getOrElse(k, 0)).toLong).sum
              sigRows = now
            case _ =>
          }
        }
        measured += 1
        if (measured % w.checkEvery == 0) runCheck(i)
        i += 1
      }
      val last = i - 1
      notes += s"loop ended at ${phase()} s"
      env.counting = false
      if (i >= w.maxBatches) notes += s"ran out of generated batches after $measured"

      val heapMb = liveHeapMb()
      val stateBytes = treeBytes(w.storeRoot)
      if (measured % w.checkEvery != 0) runCheck(last)
      notes += s"final check ended at ${phase()} s"

      // ---------------------------------------------------------- metrics
      val (tailV, tailN) = p90(refresh.toSeq)
      if (!traced) {
        metric("setup_s", setup, "s")
        metric("refresh_p50_s", median(refresh.toSeq), "s")
        metric("refresh_tail_s", tailV, "s")
        metric("read_p50_s", median(reads.toSeq), "s")
        metric("freshness_p50_s", median(fresh.toSeq), "s")
        metric("rows_per_s", rows / loopSecs, "rows/s")
        metric("write_bytes_per_delta_row", written.toDouble / rows, "B/row")
        metric("state_bytes", stateBytes.toDouble, "B")
        metric("heap_live_mb", heapMb, "MB")
      }
      notes += s"refresh_tail_s is the p90 (nearest rank) of $tailN samples"
      notes += "refresh seconds per measured batch: " + refresh.map(r => f"$r%.3f").mkString(" ")
      notes += "read seconds, every sample: " + reads.map(r => f"$r%.3f").mkString(" ")
      notes += f"error_rate ${failed.toDouble / attempted}%.4f ($failed of $attempted)"
      notes += f"measured $measured batches ($rows delta rows) after a $setup%.3f s set-up"

      tracer.foreach { t =>
        val per = new LayerMetrics(t)
        // counters summed over the refresh calls; a refresh is one batch's
        // refresh (as in refresh_p50_s), a view refresh one view's share
        val d = env.refreshCounters
        val viewRefreshes = measured * w.refreshesPerBatch
        per.setup(metric)
        per.batches(metric)
        metric("eval.recompute_s", per.spanMedian("check"), "s")
        metric("trace.replay_ratio", d("replays") / viewRefreshes, "ratio")
        metric("trace.records", d("records"), "count")
        metric("templates.hit_ratio",
          if (d("hits") + d("misses") > 0) d("hits") / (d("hits") + d("misses")) else 0.0, "ratio")
        metric("templates.inline_runs_per_refresh", d("inline") / measured, "count")
        metric("zdelta.prunes_per_refresh", d("prunes") / measured, "count")
        metric("jvm.gc_s_per_refresh", d("gc_s") / measured, "s")
        metric("store.bytes_written_per_batch", written.toDouble / measured, "B")
        metric("store.chain_len_max", if (chainLens.isEmpty) 0.0 else chainLens.max.toDouble, "count")
        metric("store.chain_len_mean", mean(chainLens.map(_.toDouble).toSeq), "count")
        metric("store.compactions", compactions.toDouble, "count")
        metric("cascade.changelog_rows_per_delta_row", changelogRows.toDouble / rows, "ratio")
        metric("dedup.pairs_born", born.toDouble, "count")
        metric("dedup.pairs_retracted", retracted.toDouble, "count")
        val prog = t.progress.toSeq.filter(_("batchId") >= w.warmups)
        def progressMedian(f: Map[String, Long] => Double) = median(prog.map(f))
        metric("stream.add_batch_s", progressMedian(_.getOrElse("addBatch", 0L) / 1e3), "s")
        metric("stream.overhead_s", progressMedian(p =>
          (p.getOrElse("triggerExecution", 0L) - p.getOrElse("addBatch", 0L)) / 1e3), "s")
        metric("stream.discover_s", median(discover.toSeq), "s")
        metric("cdc.delta_rows_per_op",
          cdcRows.toDouble / (w.warmups to last).map(w.logRowCount).sum, "ratio")
        metric("cdc.convert_s", median(convert.toSeq), "s")
        metric("trace.overhead_s", median(tracedFresh.toSeq) - median(plainFresh.toSeq), "s")
        opts.get("spans").foreach(p => t.dump(Paths.get(p)))
      }
    } catch {
      case e: Throwable =>
        failed += 1; attempted += 1
        notes += s"error: $e"
        e.printStackTrace()
    } finally {
      if (w != null) try w.close() catch { case _: Throwable => () }
      tracer.foreach(_.close())
      env.stop()
      deleteTree(work)
    }

    val correct = failed == 0
    notes.foreach(n => println(s"# $n"))
    metrics.foreach { case (n, (v, u)) => println(f"$n%-40s $v%.6f $u") }
    val ms = metrics.map { case (n, (v, u)) =>
      val num = if (v.isNaN || v.isInfinite) "0" else BigDecimal(v).toString
      s""""$n": {"value": $num, "unit": "$u"}"""
    }.mkString(", ")
    println(s"""{"correct": $correct, "attempted": ${attempted max 1}, "failed": $failed, "metrics": {$ms}}""")
    System.out.flush()
    sys.exit(if (correct) 0 else 1)
  }
}
