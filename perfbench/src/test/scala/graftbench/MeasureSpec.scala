package graftbench

import org.scalatest.funsuite.AnyFunSuite

class MeasureSpec extends AnyFunSuite {

  test("a throwing operation is counted as failed and never timed") {
    val (s, r) = Measure[Int]("q_boom", "op")(throw new IllegalStateException("boom"))(_ => None)
    assert(!s.ok)
    assert(s.latencyS.isEmpty)
    assert(s.error.exists(_.contains("boom")))
    assert(r.isEmpty)
  }

  test("a wrong answer is counted as failed and never timed") {
    val (s, r) = Measure("q_wrong", "op")(41)(v => if (v == 42) None else Some(s"$v != 42"))
    assert(!s.ok)
    assert(s.latencyS.isEmpty)
    assert(s.error.exists(_.contains("41 != 42")))
    assert(r.contains(41))
  }

  test("a correct operation is timed, and its check runs after the timed interval") {
    val (s, _) = Measure("q_ok", "op")(42) { _ => Thread.sleep(50); None }
    assert(s.ok)
    assert(s.latencyS.exists(t => t >= 0 && t < 0.05))
  }

  test("passes are whole: at least minPasses, then none once the time is up") {
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    Measure.passes(Iterator(Seq(1, 2), Seq(3, 4), Seq(5, 6)), 0.0, minPasses = 2) {
      (a, n) => seen += (a -> n)
    }
    assert(seen == Seq(1 -> 0, 2 -> 0, 3 -> 1, 4 -> 1))
  }

  test("warm-up passes run first, outside the window and the measured passes") {
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    val window = Measure.passes(Iterator(Seq(1), Seq(2), Seq(3), Seq(4)), 0.0,
        minPasses = 2, warmup = 1) { (a, n) =>
      seen += (a -> n)
      if (n == 0) Thread.sleep(200)
    }
    assert(seen == Seq(1 -> 0, 2 -> 1, 3 -> 2))
    assert(window < 0.2)
  }

  test("no operation starts after the cutoff") {
    val seen = scala.collection.mutable.ArrayBuffer.empty[Int]
    val cutoff = System.nanoTime() + 30L * 1000000
    Measure.passes(Iterator(Seq(1, 2, 3)), 0.0, cutoffNanos = cutoff) { (a, _) =>
      seen += a
      Thread.sleep(40)
    }
    assert(seen == Seq(1))
  }
}
