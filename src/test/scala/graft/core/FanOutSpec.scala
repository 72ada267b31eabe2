package graft.core

import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite

class FanOutSpec extends AnyFunSuite {

  test("a failing task is rethrown only after its siblings have all finished") {
    val finished = new AtomicInteger()
    val boom = new IllegalStateException("task 0 fails")
    val tasks: Seq[() => Int] = (() => throw boom) +: (1 to 3).map { i => () =>
      Thread.sleep(200)
      finished.incrementAndGet()
      i
    }
    val thrown = intercept[IllegalStateException](FanOut.run("spec", 4)(tasks))
    assert(thrown eq boom)
    assert(finished.get == 3, "run returned while a sibling was still running")
  }

  test("results come back in input order, whatever order the tasks finish in") {
    val n = 6
    // the first task finishes last
    val out = FanOut.run("spec", n)((0 until n).map(i => () => { Thread.sleep((n - i) * 30L); i }))
    assert(out == (0 until n))
  }
}
