package graftbench

import scala.collection.mutable

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

/** The change-stream generators: seeded determinism and legality. */
class GenSpec extends AnyFunSuite {
  private def orders(seed: Long) = new Gen.OrdersStream(seed, customers = 200, orders = 2000,
    suppliers = 50, ordersPerBatch = 40)
  private def docs(seed: Long) = new Gen.DocStream(seed, docs = 500, churnPerBatch = 30)

  private def prints(next: () => Batch, n: Int) = Vector.fill(n)(next().fingerprint)

  test("the same seed gives byte-identical batches, another seed different ones") {
    val a = orders(7); val b = orders(7); val c = orders(8)
    assert(a.base == b.base)
    assert(prints(() => a.next(), 20) == prints(() => b.next(), 20))
    assert(prints(() => orders(7).next(), 20) != prints(() => c.next(), 20))
    val d = docs(7); val e = docs(7)
    assert(d.base == e.base)
    assert(prints(() => d.next(), 20) == prints(() => e.next(), 20))
    assert(prints(() => docs(7).next(), 20) != prints(() => docs(9).next(), 20))
  }

  /** Replays a stream on a model of the live tables and fails on the first
    * illegal change. */
  private final class Model(base: Map[String, Seq[Row]], keyOf: Map[String, Row => Any]) {
    val live: Map[String, mutable.Map[Any, Row]] = base.map { case (t, rows) =>
      t -> mutable.LinkedHashMap(rows.map(r => keyOf(t)(r) -> r): _*)
    }
    def apply(b: Batch): Unit = b.changes.foreach { case (t, cs) =>
      val seen = mutable.HashSet.empty[Any]
      cs.foreach { c =>
        val k = keyOf(t)(Option(c.after).getOrElse(c.before))
        assert(seen.add(k), s"batch ${b.index}: $t key $k touched twice")
        c.op match {
          case "c" =>
            assert(!live(t).contains(k), s"batch ${b.index}: insert of live $t key $k")
            live(t)(k) = c.after
          case "d" =>
            assert(live(t).get(k).contains(c.before), s"batch ${b.index}: delete of dead $t $k")
            live(t).remove(k)
          case "u" =>
            assert(keyOf(t)(c.before) == keyOf(t)(c.after), s"update changes the $t key")
            assert(live(t).get(k).contains(c.before), s"batch ${b.index}: update of dead $t $k")
            live(t)(k) = c.after
        }
      }
    }
  }

  test("orders stream: fresh inserts, deletes and updates of live rows only, " +
    "order deletes take their lines, no dangling references") {
    val g = orders(3)
    val m = new Model(g.base, Map(
      "customer" -> ((r: Row) => r.getLong(0)), "orders" -> ((r: Row) => r.getLong(0)),
      "lineitem" -> ((r: Row) => (r.getLong(0), r.getInt(1)))))
    (0 until 30).foreach { _ =>
      val b = g.next()
      m(b)
      val orderKeys = m.live("orders").keySet
      assert(m.live("lineitem").values.forall(l => orderKeys(l.getLong(0))),
        s"batch ${b.index}: a live line outlived its order")
      val custKeys = m.live("customer").keySet
      assert(m.live("orders").values.forall(o => custKeys(o.getLong(1))),
        s"batch ${b.index}: a live order has no customer")
      assert(b.changes.values.flatten.exists(_.op == "d") &&
        b.changes.values.flatten.exists(_.op == "u"))
    }
  }

  test("document stream: legal churn with near-duplicate inserts") {
    val g = docs(5)
    val m = new Model(Map("documents" -> g.base), Map("documents" -> ((r: Row) => r.getLong(0))))
    (0 until 30).foreach(_ => m(g.next()))
  }

  test("an update contributes a retraction and an assertion to the delta") {
    val b = orders(11).next()
    val rows = b.deltaOf("orders")
    val ups = b.changes("orders").count(_.op == "u")
    assert(rows.size == b.changes("orders").map(_.deltaRows).sum)
    assert(rows.count(r => !r.getBoolean(r.length - 1)) ==
      b.changes("orders").count(_.op != "c"))
    assert(ups > 0)
  }
}
