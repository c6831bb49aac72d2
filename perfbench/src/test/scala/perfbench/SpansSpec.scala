package perfbench

import org.scalatest.funsuite.AnyFunSuite

class SpansSpec extends AnyFunSuite {

  private def span(id: Int, parent: Int, start: Long, end: Long) =
    Span(id, s"s$id", parent, op = 0, start, end)

  test("union counts overlapping intervals once and ignores empty ones") {
    assert(Spans.unionNs(Nil) == 0)
    assert(Spans.unionNs(Seq((0L, 10L), (5L, 15L), (20L, 25L))) == 20)
    assert(Spans.unionNs(Seq((0L, 10L), (2L, 3L))) == 10)
    assert(Spans.unionNs(Seq((5L, 5L), (7L, 6L))) == 0)
    assert(Spans.unionNs(Seq((10L, 20L), (20L, 30L))) == 20)
  }

  test("self time subtracts nested children") {
    val parent = span(0, -1, 0, 100)
    val all = Seq(parent, span(1, 0, 10, 30), span(2, 0, 50, 60), span(3, 1, 12, 20))
    assert(Spans.selfNs(parent, all) == 70)
    // a grandchild is covered by its own parent, not charged twice
    assert(Spans.selfNs(all(1), all) == 12)
  }

  test("self time counts overlapping children once") {
    val parent = span(0, -1, 0, 100)
    val all = Seq(parent, span(1, 0, 10, 50), span(2, 0, 30, 70), span(3, 0, 60, 65))
    assert(Spans.selfNs(parent, all) == 40)
  }

  test("children reaching outside the parent are clipped to it") {
    val parent = span(0, -1, 100, 200)
    val all = Seq(parent, span(1, 0, 50, 120), span(2, 0, 190, 260))
    assert(Spans.selfNs(parent, all) == 70)
    assert(Spans.uncoveredNs(100, 200, Seq((0L, 300L))) == 0)
  }
}
