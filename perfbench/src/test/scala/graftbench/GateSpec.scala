package graftbench

import java.nio.file.{Files, Paths}

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The correctness gate: a clean feed matches the recompute, and a feed
  * with one dropped delta row is caught. */
class GateSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val work = Paths.get("target", "gate-spec").toAbsolutePath
  private lazy val spark = {
    Files.createDirectories(Paths.get(System.getProperty("java.io.tmpdir")))
    Main.session(2, work.toString)
  }

  override def afterAll(): Unit = { spark.stop(); Main.deleteTree(work) }

  private def mismatches(corrupt: Boolean, tag: String): Seq[(String, Long)] = {
    val env = new Env(() => spark, work.resolve(tag), seed = 5, corrupt = corrupt)
    val w = new CdcSmall(env, customers = 200, orders = 2000, ordersPerBatch = 20)
    w.prepare()
    w.create()
    try {
      (0 to w.warmups).foreach { i => w.feed(i); w.read(i) }
      w.check(w.warmups)
    } finally w.close()
  }

  test("every view matches the recompute after a clean feed") {
    val m = mismatches(corrupt = false, "clean")
    assert(m.nonEmpty && m.forall(_._2 == 0), m)
  }

  test("one dropped delta row trips the gate") {
    val m = mismatches(corrupt = true, "corrupt")
    assert(m.exists(_._2 > 0), m)
  }
}
