package graft.perfbench

import java.util.concurrent.ConcurrentHashMap

import org.scalatest.funsuite.AnyFunSuite

/** Due-time latency under an injected stall: with one connection, a
  * stalled send delays every task queued behind it, and that wait shows
  * in their latency measured from the schedule slot.
  */
class OpenLoopSpec extends AnyFunSuite {
  private val ms = 1000000L

  test("a stall is charged to every task queued behind it") {
    val rec = new ConcurrentHashMap[Int, (Long, Long, Long)]()
    val start = System.nanoTime() + 50 * ms
    val schedule = (0 until 5).map(i => (i * 100 * ms, i))
    new OpenLoop(1).run(start, schedule) { i =>
      if (i == 0) Thread.sleep(600)
      Outcome(200, ok = true)
    } { (i, due, s, e, _) => rec.put(i, (due, s, e)) }

    assert(rec.size == 5)
    (1 until 5).foreach { i =>
      val (due, s, e) = rec.get(i)
      assert(due == start + i * 100 * ms, "due time is the schedule slot")
      // the sender was busy until ~600 ms: task i waited ~600 - 100 i ms
      assert(s - due >= (600 - 100 * i - 30) * ms, s"task $i started ${(s - due) / ms} ms late")
      assert(e - due >= (600 - 100 * i - 30) * ms)
    }
  }

  test("without a stall tasks start on time") {
    val late = new ConcurrentHashMap[Int, Long]()
    val start = System.nanoTime() + 50 * ms
    new OpenLoop(2).run(start, (0 until 5).map(i => (i * 50 * ms, i))) { _ =>
      Outcome(200, ok = true)
    } { (i, due, s, _, _) => late.put(i, s - due) }
    (0 until 5).foreach(i => assert(late.get(i) < 40 * ms, s"task $i late ${late.get(i) / ms} ms"))
  }

  test("an exception is a failed outcome, not a crash") {
    var out: Outcome = null
    new OpenLoop(1).run(System.nanoTime(), Seq((0L, 0))) { _ =>
      throw new RuntimeException("boom")
    } { (_, _, _, _, o) => out = o }
    assert(out.status == -1 && !out.ok && out.error.contains("boom"))
  }
}
