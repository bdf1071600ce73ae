package graftbench

import org.scalatest.funsuite.AnyFunSuite

class SelfTimeSpec extends AnyFunSuite {
  private def span(id: Int, parent: Int, a: Double, b: Double, name: String = "s") =
    Span(id, name, "bench", parent, 0, a, b)

  test("covered counts overlapping children once and clips them to the parent") {
    val kids = Seq((1.0, 4.0), (3.0, 6.0), (8.0, 12.0))
    assert(SelfTime.covered(0, 10, kids) == 7.0)
    assert(SelfTime.selfTime(span(0, -1, 0, 10), kids.zipWithIndex.map { case ((a, b), i) =>
      span(i + 1, 0, a, b) }) == 3.0)
    assert(SelfTime.covered(0, 10, Nil) == 0.0)
    assert(SelfTime.covered(0, 10, Seq((2.0, 3.0), (2.0, 3.0))) == 1.0)
  }

  test("exclusive shares split overlapping siblings and add up to the root wall") {
    val root = span(0, -1, 0, 10, "pass")
    val stage = span(1, 0, 1, 6)
    val j1 = span(2, 1, 2, 4, "job:a")
    val j2 = span(3, 1, 3, 5, "job:b")
    val shares = SelfTime.exclusive(root, Seq(root, stage, j1, j2))
    assert(shares(0) == 5.0)   // [0,1] and [6,10]
    assert(shares(1) == 2.0)   // [1,2] and [5,6]
    assert(shares(2) == 1.5)   // [2,3] alone, half of [3,4]
    assert(shares(3) == 1.5)   // half of [3,4], [4,5] alone
    assert(shares.values.sum == root.dur)
    // job self times plus the driver gap (wall not covered by any job) = wall
    val gap = root.dur - SelfTime.covered(root.start, root.end, Seq((2.0, 4.0), (3.0, 5.0)))
    assert(shares(2) + shares(3) + gap == root.dur)
  }

  test("a span without children keeps its whole duration") {
    val root = span(0, -1, 5, 9, "pass")
    assert(SelfTime.exclusive(root, Seq(root)) == Map(0 -> 4.0))
  }
}
