package bench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {

  test("sync inputs are a function of the seed") {
    val a = SyncGen.generate(7)
    assert(a == SyncGen.generate(7))
    assert(a != SyncGen.generate(8))
    assert(a.days.size == SyncGen.BackfillDays && a.ticks.size == SyncGen.MaxTicks)
  }

  test("sync tick schedule: every tenth tick repeats both hashes") {
    val p = SyncGen.generate(3)
    (1 until 40).foreach { i =>
      val (e0, t0) = p.ticks(i - 1)
      val (e1, t1) = p.ticks(i)
      assert((e1.hash == e0.hash) == (i % 10 == 0 || i % 10 == 5), s"employees, tick $i")
      assert((t1.hash == t0.hash) == (i % 10 == 0), s"tasks, tick $i")
    }
  }
}
