package perfbench

import org.scalatest.funsuite.AnyFunSuite

class SelfTimeSpec extends AnyFunSuite {

  private def span(id: Int, parent: Int, start: Long, end: Long) =
    Span(id, parent, s"s$id", start, end)

  test("a span without children keeps its whole duration") {
    assert(SelfTime.selfNs(Seq(span(0, -1, 10, 50))) === Map(0 -> 40L))
  }

  test("sequential children are subtracted, the gaps stay with the parent") {
    val spans = Seq(span(0, -1, 0, 100), span(1, 0, 10, 30), span(2, 0, 40, 90))
    assert(SelfTime.selfNs(spans) === Map(0 -> 30L, 1 -> 20L, 2 -> 50L))
  }

  test("overlapping children count their union once") {
    val spans = Seq(span(0, -1, 0, 100), span(1, 0, 10, 60), span(2, 0, 40, 70), span(3, 0, 65, 80))
    assert(SelfTime.selfNs(spans)(0) === 30L) // covered: [10, 80)
  }

  test("a child reaching outside its parent is clipped to the parent") {
    val spans = Seq(span(0, -1, 20, 60), span(1, 0, 0, 30), span(2, 0, 50, 90))
    assert(SelfTime.selfNs(spans)(0) === 20L) // covered: [20, 30) and [50, 60)
  }

  test("only direct children count against a span") {
    val spans = Seq(span(0, -1, 0, 100), span(1, 0, 0, 50), span(2, 1, 10, 40))
    assert(SelfTime.selfNs(spans) === Map(0 -> 50L, 1 -> 20L, 2 -> 30L))
  }

  test("self times of properly nested spans sum to the root's duration") {
    val spans = Seq(span(0, -1, 0, 1000), span(1, 0, 100, 400), span(2, 1, 150, 300),
      span(3, 0, 500, 950), span(4, 3, 600, 700), span(5, 3, 700, 900))
    assert(SelfTime.selfNs(spans).values.sum === 1000L)
  }

  test("coveredNs of no intervals is zero") {
    assert(SelfTime.coveredNs(0, 100, Nil) === 0L)
  }
}
