package graftbench

import java.math.{BigDecimal => JBigDecimal}
import java.time.LocalDate
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** One row-level change in Debezium form: `c` (after only), `d` (before
  * only) or `u` (both images, same primary key). */
final case class Change(op: String, before: Row, after: Row) {
  /** Rows the change contributes to a delta table (an update is a
    * retraction plus an assertion). */
  def deltaRows: Int = if (op == "u") 2 else 1
}

/** One batch of a change stream: the ordered changes per base table. */
final case class Batch(index: Int, changes: Map[String, Vector[Change]]) {
  def deltaRows: Int = changes.values.map(_.map(_.deltaRows).sum).sum

  /** The delta rows of `table` in the engine's convention: the table's
    * columns plus the boolean multiplicity (true = insert). */
  def deltaOf(table: String): Vector[Row] =
    changes.getOrElse(table, Vector.empty).flatMap { c =>
      c.op match {
        case "c" => Vector(Row.fromSeq(c.after.toSeq :+ true))
        case "d" => Vector(Row.fromSeq(c.before.toSeq :+ false))
        case _ => Vector(Row.fromSeq(c.before.toSeq :+ false),
          Row.fromSeq(c.after.toSeq :+ true))
      }
    }

  /** Canonical text of the batch; equal batches have equal fingerprints. */
  def fingerprint: String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    changes.toSeq.sortBy(_._1).foreach { case (t, cs) =>
      md.update(t.getBytes("UTF-8"))
      cs.foreach(c => md.update(s"${c.op}|${c.before}|${c.after}\n".getBytes("UTF-8")))
    }
    md.digest().map(b => f"$b%02x").mkString
  }
}

/** Live rows of one table, keyed by primary key, with O(1) uniform random
  * picks. Iteration order depends only on the operation sequence, so a
  * seeded stream replays identically. */
final class LiveTable[K](keyOf: Row => K) {
  private val rows = mutable.ArrayBuffer.empty[Row]
  private val index = mutable.HashMap.empty[K, Int]

  def snapshot: Vector[Row] = rows.toVector

  def add(r: Row): Unit = {
    val k = keyOf(r)
    require(!index.contains(k), s"duplicate key $k")
    index(k) = rows.size
    rows += r
  }

  def remove(k: K): Row = {
    val i = index.remove(k).getOrElse(throw new NoSuchElementException(s"$k"))
    val r = rows(i)
    val last = rows.remove(rows.size - 1)
    if (i < rows.size) { rows(i) = last; index(keyOf(last)) = i }
    r
  }

  def replace(r: Row): Row = {
    val i = index(keyOf(r))
    val old = rows(i)
    rows(i) = r
    old
  }

  /** A uniformly random live row whose key passes `ok`; None after a
    * bounded number of misses. */
  def pick(rng: SplittableRandom, ok: K => Boolean = _ => true): Option[Row] =
    if (rows.isEmpty) None
    else Iterator.continually(rows(rng.nextInt(rows.size)))
      .take(64).find(r => ok(keyOf(r)))
}

/** Seeded generators of base tables and legal change streams. Legality:
  * inserts carry fresh primary keys, deletes and updates only hit rows live
  * at that point of the stream (and touch each key at most once per
  * batch), an order's delete also deletes its lineitems, and an update is a
  * before/after pair on the same key. Sums are DECIMAL so a maintained view
  * compares exactly against a recompute. */
object Gen {
  val Dec: DecimalType = DecimalType(12, 2)

  val lineitemSchema: StructType = StructType(Seq(
    StructField("l_orderkey", LongType), StructField("l_linenumber", IntegerType),
    StructField("l_suppkey", LongType), StructField("l_quantity", Dec),
    StructField("l_extendedprice", Dec), StructField("l_discount", Dec),
    StructField("l_returnflag", StringType), StructField("l_linestatus", StringType),
    StructField("l_shipdate", DateType)))
  val ordersSchema: StructType = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType), StructField("o_orderdate", DateType),
    StructField("o_totalprice", Dec), StructField("o_comment", StringType)))
  val customerSchema: StructType = StructType(Seq(
    StructField("c_custkey", LongType), StructField("c_name", StringType),
    StructField("c_nationkey", IntegerType)))
  val documentsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  val schemas: Map[String, StructType] = Map(
    "lineitem" -> lineitemSchema, "orders" -> ordersSchema,
    "customer" -> customerSchema, "documents" -> documentsSchema)

  private def dec(cents: Long): JBigDecimal = JBigDecimal.valueOf(cents, 2)
  private def date(day: Int): java.sql.Date =
    java.sql.Date.valueOf(LocalDate.ofEpochDay(day.toLong))
  private def dayOf(d: Any): Int = d.asInstanceOf[java.sql.Date].toLocalDate.toEpochDay.toInt

  private val Flags = Vector(("A", "F"), ("N", "F"), ("N", "O"), ("R", "F"))
  private val FirstDay = 8036 // 1992-01-01
  private val Days = 2400

  /** A lineitem of order `ok`; ship date follows `orderDay`. */
  private def lineitem(rng: SplittableRandom, ok: Long, ln: Int, suppliers: Int,
      orderDay: Int): Row = {
    val qty = 1 + rng.nextInt(50)
    val unit = 90000 + rng.nextInt(110000) // cents
    val (flag, status) = Flags(rng.nextInt(Flags.size))
    Row(ok, ln, 1L + rng.nextInt(suppliers), dec(qty * 100L), dec(qty.toLong * unit / 100),
      dec(rng.nextInt(11).toLong), flag, status, date(orderDay + 1 + rng.nextInt(121)))
  }

  type LKey = (Long, Int)
  private def lkey(r: Row): LKey = (r.getLong(0), r.getInt(1))

  /** Customer/orders/lineitem change stream in Debezium c/u/d form. Each
    * op touches one order (insert with its lines, delete with its lines,
    * an update of status and customer, or one line's update) or one
    * customer (insert, rename, or delete of a customer with no live
    * orders); about `ordersPerBatch` orders change per batch. */
  final class OrdersStream(seed: Long, customers: Int, orders: Int,
      suppliers: Int, ordersPerBatch: Int) {
    private val rng = new SplittableRandom(seed)
    val cust = new LiveTable[Long](_.getLong(0))
    val ord = new LiveTable[Long](_.getLong(0))
    val line = new LiveTable[LKey](lkey)
    private val linesOf = mutable.HashMap.empty[Long, Vector[Row]]
    private val ordersOf = mutable.HashMap.empty[Long, Int].withDefaultValue(0)
    private var nextCust = 1L
    private var nextOrder = 1L
    private val Status = Vector("F", "F", "F", "F", "F", "O", "O", "O", "O", "P")

    private def newCustomer(): Row = {
      val ck = nextCust; nextCust += 1
      Row(ck, f"Customer#$ck%09d", rng.nextInt(25))
    }
    private val text = new Text(rng)
    private def newOrder(ck: Long): (Row, Vector[Row]) = {
      val ok = nextOrder; nextOrder += 1
      val day = FirstDay + rng.nextInt(Days)
      val lines = (1 to 1 + rng.nextInt(7))
        .map(ln => lineitem(rng, ok, ln, suppliers, day)).toVector
      val total = lines.map(_.getDecimal(4)).reduce(_ add _)
      val comment = text.fresh(4, 12) + (if (rng.nextInt(20) == 0) " special requests" else "")
      (Row(ok, ck, Status(rng.nextInt(Status.size)), date(day), total, comment), lines)
    }
    private def addOrder(o: Row, lines: Vector[Row]): Unit = {
      ord.add(o); lines.foreach(line.add)
      linesOf(o.getLong(0)) = lines
      ordersOf(o.getLong(1)) += 1
    }
    private def dropOrder(ok: Long): (Row, Vector[Row]) = {
      val o = ord.remove(ok)
      val lines = linesOf.remove(ok).get
      lines.foreach(l => line.remove(lkey(l)))
      ordersOf(o.getLong(1)) -= 1
      (o, lines)
    }

    locally {
      (1 to customers).foreach(_ => cust.add(newCustomer()))
      // a third of the customers never order: Q13's c_count = 0 bucket
      val buyers = customers - customers / 3
      (1 to orders).foreach { _ =>
        val (o, ls) = newOrder(1L + rng.nextInt(buyers)); addOrder(o, ls)
      }
    }
    val base: Map[String, Vector[Row]] = Map("customer" -> cust.snapshot,
      "orders" -> ord.snapshot, "lineitem" -> line.snapshot)
    private var index = 0

    def next(): Batch = {
      val cs = Vector.newBuilder[Change]
      val os = Vector.newBuilder[Change]
      val ls = Vector.newBuilder[Change]
      val touchedO = mutable.HashSet.empty[Long]
      val touchedC = mutable.HashSet.empty[Long]
      var n = 0
      def freeOrder = ord.pick(rng, k => !touchedO(k))
      while (n < ordersPerBatch) {
        val p = rng.nextDouble()
        if (p < 0.35) cust.pick(rng, k => !touchedC(k)).foreach { c =>
          val (o, lines) = newOrder(c.getLong(0)); addOrder(o, lines)
          touchedO += o.getLong(0); n += 1
          os += Change("c", null, o); lines.foreach(l => ls += Change("c", null, l))
        }
        else if (p < 0.65) freeOrder.foreach { o0 =>
          val (o, lines) = dropOrder(o0.getLong(0))
          touchedO += o.getLong(0); n += 1
          os += Change("d", o, null); lines.foreach(l => ls += Change("d", l, null))
        }
        else if (p < 0.80) freeOrder.foreach { o =>
          cust.pick(rng, k => !touchedC(k)).foreach { c =>
            val u = Row(o.getLong(0), c.getLong(0), Status(rng.nextInt(Status.size)),
              o.get(3), o.get(4), o.get(5))
            ord.replace(u)
            ordersOf(o.getLong(1)) -= 1; ordersOf(c.getLong(0)) += 1
            touchedO += o.getLong(0); n += 1
            os += Change("u", o, u)
          }
        }
        else if (p < 0.90) freeOrder.foreach { o =>
          val lines = linesOf(o.getLong(0))
          val l = lines(rng.nextInt(lines.size))
          val u = lineitem(rng, l.getLong(0), l.getInt(1), suppliers, dayOf(o.get(3)))
          line.replace(u)
          linesOf(o.getLong(0)) = lines.map(x => if (lkey(x) == lkey(u)) u else x)
          touchedO += o.getLong(0); n += 1
          ls += Change("u", l, u)
        }
        else if (p < 0.95) {
          val c = newCustomer(); cust.add(c); touchedC += c.getLong(0)
          cs += Change("c", null, c)
        }
        else if (p < 0.98) cust.pick(rng, k => !touchedC(k)).foreach { c =>
          val u = Row(c.getLong(0), c.getString(1) + "'", c.getInt(2))
          cust.replace(u); touchedC += c.getLong(0)
          cs += Change("u", c, u)
        }
        else cust.pick(rng, k => !touchedC(k) && ordersOf(k) == 0).foreach { c =>
          cust.remove(c.getLong(0)); touchedC += c.getLong(0)
          cs += Change("d", c, null)
        }
      }
      index += 1
      Batch(index - 1, Map("customer" -> cs.result(), "orders" -> os.result(),
        "lineitem" -> ls.result()))
    }
  }

  /** Document churn (the dedup workload): inserts are half fresh texts and
    * half token-edited near-duplicates of live documents (so candidate
    * pairs are born), deletes retract a live document's pairs, and updates
    * re-edit a live document under its id. */
  final class DocStream(seed: Long, docs: Int, churnPerBatch: Int) {
    private val rng = new SplittableRandom(seed)
    private val live = new LiveTable[Long](_.getLong(0))
    private var nextDoc = 1L
    private val text = new Text(rng)
    private def insert(): Row = {
      val id = nextDoc; nextDoc += 1
      val body = live.pick(rng) match {
        case Some(d) if rng.nextBoolean() => text.nearDup(d.getString(1))
        case _ => text.fresh(30, 60)
      }
      val r = Row(id, body); live.add(r); r
    }
    val base: Vector[Row] = { (1 to docs).foreach(_ => insert()); live.snapshot }
    private var index = 0

    def next(): Batch = {
      val out = Vector.newBuilder[Change]
      val touched = mutable.HashSet.empty[Long]
      var n = 0
      while (n < churnPerBatch) {
        val p = rng.nextDouble()
        if (p < 0.4) { val r = insert(); touched += r.getLong(0); out += Change("c", null, r); n += 1 }
        else live.pick(rng, k => !touched(k)).foreach { d =>
          touched += d.getLong(0); n += 1
          if (p < 0.75) { live.remove(d.getLong(0)); out += Change("d", d, null) }
          else {
            val u = Row(d.getLong(0), text.nearDup(d.getString(1)))
            live.replace(u); out += Change("u", d, u)
          }
        }
      }
      index += 1
      Batch(index - 1, Map("documents" -> out.result()))
    }
  }

  /** Random texts over a fixed vocabulary, and token-edited copies. */
  final class Text(rng: SplittableRandom) {
    private def word(): String = f"w${rng.nextInt(4000)}%04d"
    def fresh(min: Int, max: Int): String =
      Vector.fill(min + rng.nextInt(max - min))(word()).mkString(" ")
    def nearDup(t: String): String = {
      val toks = t.split(" ")
      (1 to 1 + rng.nextInt(2)).foreach(_ => toks(rng.nextInt(toks.length)) = word())
      toks.mkString(" ")
    }
  }
}
