package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class IntervalsSpec extends AnyFunSuite {
  import Intervals.unionLength

  test("overlapping and nested intervals count once") {
    assert(unionLength(Seq((0L, 10L), (5L, 15L), (6L, 7L)), 0L, 100L) == 15L)
  }

  test("disjoint intervals add up, in any order") {
    assert(unionLength(Seq((20L, 25L), (0L, 10L)), 0L, 100L) == 15L)
  }

  test("intervals are clipped to the window") {
    assert(unionLength(Seq((-5L, 5L), (8L, 30L)), 0L, 10L) == 7L)
    assert(unionLength(Seq((20L, 30L)), 0L, 10L) == 0L)
  }

  test("touching intervals merge without double counting") {
    assert(unionLength(Seq((0L, 5L), (5L, 10L)), 0L, 10L) == 10L)
  }

  test("no tasks means the whole window is idle") {
    val window = 100L
    assert(window - unionLength(Seq.empty, 0L, window) == window)
  }
}
