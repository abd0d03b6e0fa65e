package graftbench

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.ivm._
import graft.ivm.AggSpec._

/** What one run shares with its workload: the session (built on first use,
  * after the inputs are staged), the run's scratch root (deleted when the
  * run ends), the seed and, on a traced run, the tracer. */
final class Env(mkSpark: () => SparkSession, val root: Path, val seed: Long,
    val corrupt: Boolean) {
  private var built = false
  lazy val spark: SparkSession = { built = true; mkSpark() }
  def stop(): Unit = if (built) spark.stop()
  var tracer: Option[Tracer] = None
  def dir(parts: String*): String = parts.foldLeft(root)(_.resolve(_)).toString
  def span[A](name: String)(body: => A): A = tracer match {
    case Some(t) => t.span(name)(body)
    case None    => body
  }

  /** Engine counters summed over the refresh calls only (not the reads or
    * the checks), while `counting` is on. */
  @volatile var counting = false
  val refreshCounters = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)

  /** One refresh call into the engine: a span, and its counter deltas. */
  def refresh[A](name: String)(body: => A): A =
    if (!counting) span(name)(body)
    else {
      val c0 = EngineCounters.read()
      try span(name)(body)
      finally EngineCounters.read().foreach { case (k, v) => refreshCounters(k) += v - c0(k) }
    }
}

/** A maintained view under test. */
final case class View(name: String, q: IvmQuery)

/** One workload: generates and stages its inputs, creates its views, hands
  * batches over and reads the maintained views back, and checks them
  * against a recompute. */
abstract class Workload(val env: Env) {
  /** Batches applied during set-up, after view creation (the first refresh
    * records a trace). The first batches of a cold JVM run up to twice as
    * long as later ones (JIT, plan templates); the warm-ups absorb the
    * worst of them. */
  def warmups: Int
  /** Batches generated; the measured loop ends early if it runs out. */
  def maxBatches: Int
  /** The loop runs at least this many batches, even past `--seconds`, so a
    * slow host still yields a median of several samples and every run
    * reaches the same engine state (caches the heap metric sees). */
  def minBatches: Int
  /** Correctness check cadence (in measured batches) besides the final one. */
  def checkEvery: Int
  def prepare(): Unit
  def create(): Unit
  def read(i: Int): Unit
  /** Mismatching row count per view after batches 0..i. */
  def check(i: Int): Seq[(String, Long)]
  /** Number of views one batch refreshes (a cascade batch refreshes each
    * level). */
  def refreshesPerBatch: Int
  protected def spark: SparkSession = env.spark
  protected def now: Long = Clock.now
  protected def secs(t0: Long): Double = (now - t0) / 1e9

  // ------------------------------------------------------------ staging

  protected def writeBase(tables: Map[String, Seq[Row]]): Unit =
    tables.foreach { case (t, rows) =>
      Staging.write(java.nio.file.Paths.get(env.dir("base", t, "part-0.parquet")),
        Gen.schemas(t), rows)
    }

  private val baseMemo = scala.collection.concurrent.TrieMap.empty[String, DataFrame]
  /** Base resolver: the create-time snapshot of every table. */
  val base: String => DataFrame = t =>
    baseMemo.getOrElseUpdate(t, spark.read.schema(Gen.schemas(t)).parquet(env.dir("base", t)))

  /** The fed tables; a batch's log rows name their table in `tbl`. */
  protected def tables: Seq[String]
  protected def batches: Vector[Batch]

  /** One staged log row per change: `tbl`, the Debezium `op`, and the
    * before/after images in the named table's columns (null elsewhere). */
  protected lazy val logSchema: StructType = StructType(
    StructField("tbl", StringType) +: StructField("op", StringType) +: tables.flatMap(t =>
      Seq(StructField(s"before_$t", Gen.schemas(t)), StructField(s"after_$t", Gen.schemas(t)))))
  private def logRows(b: Batch): Seq[Row] = tables.flatMap { t =>
    b.changes.getOrElse(t, Vector.empty).map { c =>
      Row.fromSeq(Seq(t, c.op) ++ tables.flatMap(u =>
        if (u == t) Seq(c.before, c.after) else Seq(null, null)))
    }
  }

  /** Stage every batch's log before anything is timed, one file per batch
    * (`log/batch=<i>/`). */
  protected def stage(): Unit = batches.foreach { b =>
    Staging.write(java.nio.file.Paths.get(env.dir("log", s"batch=${b.index}", "part-0.parquet")),
      logSchema, logRows(b))
  }

  /** One table's Debezium log (op, before, after) out of a log frame. */
  protected def logOf(log: DataFrame, t: String): DataFrame =
    log.where(col("tbl") === t)
      .select(col("op"), col(s"before_$t").as("before"), col(s"after_$t").as("after"))

  /** The deltas of the tables batch `i` changes, through Cdc.toDeltas. */
  protected def deltasOf(log: DataFrame, i: Int): Map[String, DataFrame] = {
    val c0 = now
    val d = env.span("cdc.convert")(tables.filter(t => batches(i).changes(t).nonEmpty)
      .map(t => t -> maybeCorrupt(i, graft.sources.Cdc.toDeltas(logOf(log, t)))).toMap)
    lastConvert = secs(c0)
    d
  }

  /** Every delta of batches 0..i per table (the correctness check's input). */
  protected def deltasUpTo(i: Int): String => Option[DataFrame] = {
    val log = spark.read.schema(logSchema.add("batch", IntegerType)).parquet(env.dir("log"))
      .where(col("batch") <= i).drop("batch")
    t => if (tables.contains(t)) Some(graft.sources.Cdc.toDeltas(logOf(log, t))) else None
  }

  def deltaRows(i: Int): Int = batches(i).deltaRows
  def logRowCount(i: Int): Int = batches(i).changes.values.map(_.size).sum

  /** Delta rows Cdc.toDeltas makes of batch `i`'s staged log (counted
    * outside the timed calls). */
  def cdcDeltaRows(i: Int): Long = {
    val log = spark.read.schema(logSchema).parquet(env.dir("log", s"batch=$i"))
    tables.map(t => graft.sources.Cdc.toDeltas(logOf(log, t)).count()).sum
  }

  // ------------------------------------------------------------ hand-over

  /** Start the stream on the staged log files; `apply` folds one
    * micro-batch (batch index = micro-batch id) into the views. */
  protected def startStream(apply: (DataFrame, Int) => Unit): Unit = {
    Files.createDirectories(java.nio.file.Paths.get(inDir))
    query = spark.readStream.schema(logSchema).option("maxFilesPerTrigger", "1").parquet(inDir)
      .writeStream
      .option("checkpointLocation", env.dir("stream-checkpoint"))
      .foreachBatch { (df: DataFrame, id: Long) =>
        sinkStart = now
        try apply(df, id.toInt) catch { case e: Throwable => sinkError = e }
        sinkSecs = secs(sinkStart)
        applied = id
      }
      .start()
  }

  /** Hand batch `i` over by an atomic rename into the stream's source
    * directory and wait until its micro-batch is applied. Returns the
    * hand-over time and the seconds the sink spent applying it. */
  def feed(i: Int): (Long, Double) = {
    val want = applied + 1
    val tmp = java.nio.file.Paths.get(inDir, f".batch-$i%06d.parquet.tmp")
    Files.copy(java.nio.file.Paths.get(env.dir("log", s"batch=$i", "part-0.parquet")), tmp)
    val t0 = now
    Files.move(tmp, java.nio.file.Paths.get(inDir, f"batch-$i%06d.parquet"),
      StandardCopyOption.ATOMIC_MOVE)
    while (applied < want) {
      if (query.exception.isDefined) throw query.exception.get
      Thread.sleep(0, 200000)
    }
    if (sinkError != null) throw sinkError
    lastDiscover = (sinkStart - t0) / 1e9
    (t0, sinkSecs)
  }

  def close(): Unit = if (query != null) { query.stop(); query = null }

  private val inDir = env.dir("stream-in")
  private var query: StreamingQuery = _
  @volatile private var applied = -1L
  @volatile private var sinkStart = 0L
  @volatile private var sinkSecs = 0.0
  @volatile private var sinkError: Throwable = null
  /** Rename of the last batch's file until its micro-batch reached the sink. */
  var lastDiscover = 0.0
  /** Time spent in the Cdc.toDeltas calls of the last batch. */
  var lastConvert = 0.0

  /** The negative-test hook: with `--corrupt 1`, the first measured batch
    * reaches the engine with one delta row dropped. */
  protected def maybeCorrupt(i: Int, d: DataFrame): DataFrame =
    if (env.corrupt && i == warmups) d.exceptAll(d.limit(1)) else d

  // --------------------------------------------------------------- gate

  /** Rows in one frame but not the other, both ways (multiset); both sides
    * are collected, so the comparison is exact. */
  protected def mismatch(got: DataFrame, want: DataFrame): Long = {
    def counts(df: DataFrame) = df.collect().toSeq.map(_.toSeq).groupBy(identity)
      .map { case (k, v) => k -> v.size.toLong }
    val g = counts(got)
    val w = counts(want.select(got.columns.map(col).toSeq: _*))
    (g.keySet ++ w.keySet).toSeq.map(k => math.abs(g.getOrElse(k, 0L) - w.getOrElse(k, 0L))).sum
  }

  /** Directory of the workload's stores. */
  val storeRoot: String = env.dir("store")
  /** Root directory of each store (each has its own manifest). */
  def storeRoots: Seq[String]

  protected def inList(c: String, keys: Iterable[Any]): Column = col(c).isin(keys.toSeq: _*)
}

/** Floor-bound small batches: Debezium c/u/d logs on customer, orders and
  * lineitem (about 0.4% of the orders per batch, with their lines) arrive
  * through the stream, go through Cdc.toDeltas, and fold into three views
  * created from CREATE IMMV text, refreshed one after the other:
  *   - `agg`: the reference's SUM/COUNT by (l_returnflag, l_linestatus),
  *     join-free, so it records and replays a trace;
  *   - `q13`: TPC-H Q13 (customer LEFT JOIN orders, two-level COUNT), the
  *     poster's running example, with both join sides fed;
  *   - `per_order`: SUM/COUNT by l_orderkey (one group per order), on a
  *     store that puts every state on the bucketed LSM path
  *     (`smallStateBytes = 0`): a batch appends an
  *     overlay to each touched bucket, and with `maxChain = 3` every
  *     second batch compacts (from the third batch on).
  * `agg` and `q13` live on a default ParquetStore. */
final class CdcSmall(env: Env, customers: Int = 1000, orders: Int = 10000,
    ordersPerBatch: Int = 40) extends Workload(env) {
  val warmups = 2
  val maxBatches = 12
  /** After two warm-ups the measured batches compact `per_order` at the
    * first, third, ... batch: three batches hold two compactions. */
  val minBatches = 3
  val checkEvery = 15
  val refreshesPerBatch = 3
  protected val tables = Seq("customer", "orders", "lineitem")
  private val gen = new Gen.OrdersStream(env.seed, customers, orders, suppliers = 200,
    ordersPerBatch)
  protected val batches = Vector.fill(maxBatches)(gen.next())

  private val aggSql = """CREATE IMMV agg AS
    SELECT l_returnflag, l_linestatus, SUM(l_extendedprice) AS sum_price,
           SUM(l_quantity) AS sum_qty, COUNT(*) AS cnt
    FROM lineitem GROUP BY l_returnflag, l_linestatus"""
  private val q13Sql = """CREATE IMMV q13 AS
    SELECT c_count, COUNT(*) AS custdist FROM (
      SELECT c_custkey, COUNT(o_orderkey) AS c_count
      FROM customer LEFT OUTER JOIN
           (SELECT o_custkey AS c_custkey, o_orderkey FROM orders
            WHERE o_comment NOT LIKE '%special%requests%') o
        USING (c_custkey)
      GROUP BY c_custkey
    ) GROUP BY c_count"""
  private val perOrderSql = """CREATE IMMV per_order AS
    SELECT l_orderkey, SUM(l_extendedprice) AS revenue, COUNT(*) AS lines
    FROM lineitem GROUP BY l_orderkey"""

  private val mainRoot = env.dir("store", "main")
  private val lsmRoot = env.dir("store", "lsm")
  def storeRoots: Seq[String] = Seq(mainRoot, lsmRoot)
  private var main: IvmStore = _
  private var lsm: IvmStore = _
  /** Each view with its store. */
  private var vs: Seq[(View, IvmStore)] = Nil

  def prepare(): Unit = { writeBase(gen.base); stage() }

  def create(): Unit = {
    main = new ParquetStore(spark, mainRoot)
    lsm = new ParquetStore(spark, lsmRoot, buckets = 4, smallStateBytes = 0, maxChain = 3)
    vs = Seq(aggSql -> main, q13Sql -> main, perOrderSql -> lsm).map { case (sql, st) =>
      val (n, q) = env.span("sql.create_immv")(SqlFrontend.createImmv(spark, sql))
      View(n, q) -> st
    }
    vs.foreach { case (v, st) => env.span(s"ivm.create/${v.name}")(Ivm.create(v.name, v.q,
      base, st, deltaTables = v.q.tables.toSet)) }
    // IvmStream.applyBatch's contract, for three fed tables at once: a
    // re-delivered micro-batch is skipped, and the batch-id marker commits
    // in the same store transaction as the refreshes
    val marker = "cdc_small/_last_batch"
    startStream { (log, i) =>
      if (Seq(main, lsm).forall(_.getTag(marker).forall(_.toLong < i))) {
        val deltas = deltasOf(log, i)
        main.transaction(lsm.transaction {
          vs.foreach { case (v, st) =>
            val mine = v.q.tables.toSet
            env.refresh(s"ivm.refresh/${v.name}")(Ivm.refreshState(v.name, v.q, base,
              t => if (mine(t)) deltas.get(t) else None, st))
          }
          Seq(main, lsm).foreach(_.setTag(marker, i.toString))
        })
      }
    }
  }

  private def orderKeys(i: Int): Seq[Long] = batches(i).changes("lineitem")
    .map(c => Option(c.after).getOrElse(c.before).getLong(0)).distinct

  /** All rows of `agg` and `q13`; the `per_order` rows of the batch's
    * orders. */
  def read(i: Int): Unit = vs.foreach {
    case (v, st) if v.name == "per_order" =>
      Ivm.read(v.name, v.q, st).where(inList("l_orderkey", orderKeys(i))).collect()
    case (v, st) => Ivm.read(v.name, v.q, st).collect()
  }

  def check(i: Int): Seq[(String, Long)] = {
    val all = deltasUpTo(i)
    vs.map { case (v, st) => v.name ->
      mismatch(Ivm.read(v.name, v.q, st), Ivm.recompute(v.q, base, all)) }
  }
}

/** The maintained MinHash dedup cascade (signature level → 4-band candidate
  * pairs under a DISTINCT top) on a default ParquetStore. Document churn
  * (about 2% per batch) arrives through the stream as a Debezium log, goes
  * through Cdc.toDeltas, and folds in through Cascade.applyBatch. */
final class DedupStream(env: Env, docs: Int = 2000, churn: Int = 40)
    extends Workload(env) {
  val warmups = 2
  val maxBatches = 12
  /** The live heap steps up around the fourth batch and then stays flat;
    * three measured batches keep every run past the step. */
  val minBatches = 3
  val checkEvery = 15
  val refreshesPerBatch = 2
  protected val tables = Seq("documents")
  private val gen = new Gen.DocStream(env.seed, docs, churn)
  protected val batches = Vector.fill(maxBatches)(gen.next())

  private val sigSql = """CREATE IMMV sig AS
    SELECT did, """ + (0 until 8).map(i => s"element_at(mhs, ${i + 1}) AS mh$i").mkString(", ") + """
    FROM (SELECT doc_id AS did, graft_minhash_sig(text) AS mhs
          FROM documents WHERE size(split(text, ' ')) >= 3) d"""
  private def pairsView(sig: String): IvmQuery = {
    def band(b: Int): IvmQuery = Project(
      Filter(
        Join(
          Project(Scan(sig), Seq(col("did").as("a_id"),
            col(s"mh${2 * b}").as("bk1"), col(s"mh${2 * b + 1}").as("bk2"))),
          Project(Scan(sig), Seq(col("did").as("b_id"),
            col(s"mh${2 * b}").as("bk1"), col(s"mh${2 * b + 1}").as("bk2"))),
          Seq("bk1", "bk2")),
        col("a_id") < col("b_id")),
      Seq(col("a_id"), col("b_id")))
    IvmQuery.distinct((1 until 4).map(band).foldLeft(band(0))(Union(_, _)), Seq("a_id", "b_id"))
  }

  def storeRoots: Seq[String] = Seq(storeRoot)
  private var st: IvmStore = _
  private var sig: View = _
  private var pairs: View = _
  private var cascade: Cascade = _

  def prepare(): Unit = { writeBase(Map("documents" -> gen.base)); stage() }

  def create(): Unit = {
    st = new ParquetStore(spark, storeRoot)
    graft.functions.MinhashSig.register(spark)
    sig = env.span("sql.create_immv") {
      val (n, q) = SqlFrontend.createImmv(spark, sigSql); View(n, q)
    }
    pairs = View("pairs", pairsView(sig.name))
    cascade = new Cascade(Seq(sig.name -> sig.q, pairs.name -> pairs.q), base, st)
    env.span("ivm.create/cascade")(cascade.create())
    val c = cascade
    startStream { (log, i) =>
      val d = deltasOf(log, i)("documents")
      env.refresh("cascade.refresh")(c.applyBatch("documents")(d, i.toLong))
    }
  }

  private def touched(i: Int): Seq[Long] =
    batches(i).changes("documents").map(c => Option(c.after).getOrElse(c.before).getLong(0))

  def read(i: Int): Unit = {
    val ids = touched(i)
    cascade.read(sig.name).where(inList("did", ids)).collect()
    cascade.read(pairs.name).where(inList("a_id", ids) || inList("b_id", ids)).collect()
  }

  /** From-scratch evaluation of both levels over base plus every applied
    * batch. */
  def check(i: Int): Seq[(String, Long)] = {
    val sigNow = Ivm.recompute(sig.q, base, deltasUpTo(i))
    val pairsNow = Eval.eval(pairs.q, t => if (t == sig.name) sigNow else base(t))
    Seq(sig.name -> mismatch(cascade.read(sig.name), sigNow),
      pairs.name -> mismatch(cascade.read(pairs.name), pairsNow))
  }

  /** Current candidate pair set (to count pairs born and retracted). */
  def pairSet: Set[(Long, Long)] =
    cascade.read(pairs.name).collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  /** The signature level's rows as a multiset. The changelog the cascade
    * feeds its pairs level for a batch is the difference of two of these. */
  def sigRows: Map[Seq[Any], Int] =
    cascade.read(sig.name).collect().toSeq.map(_.toSeq).groupBy(identity)
      .map { case (k, v) => k -> v.size }
}
