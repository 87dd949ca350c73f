package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  import Stats._

  test("each line's latency runs from its due time to the commit of the batch carrying it") {
    val due = Array(10L, 20L, 30L, 200L, 240L, 260L)
    // batches listed out of order; the last line is never committed
    val commits = Seq(Commit(1, 5, 250), Commit(0, 3, 100))
    assert(attributeLatencies(commits, due).toSeq == Seq(90L, 80L, 70L, 50L, 10L, -1L))
  }

  test("a batch that carried no new lines takes no latency") {
    val due = Array(0L, 0L)
    val commits = Seq(Commit(0, 1, 5), Commit(1, 1, 9), Commit(2, 2, 12))
    assert(attributeLatencies(commits, due).toSeq == Seq(5L, 12L))
  }

  test("an end offset past the recorded lines is clipped") {
    assert(attributeLatencies(Seq(Commit(0, 10, 7)), Array(1L, 2L)).toSeq == Seq(6L, 5L))
  }

  test("percentiles are nearest-rank") {
    val xs = (1 to 100).map(_.toDouble)
    assert(percentile(xs, 0.5) == 50.0)
    assert(percentile(xs, 0.95) == 95.0)
    assert(percentile(xs, 0.99) == 99.0)
    assert(percentile(Seq(3.0), 0.99) == 3.0)
    assert(median(Seq(5.0, 1.0, 3.0)) == 3.0)
  }

  test("a percentile needs at least ten samples beyond it") {
    assert(percentileAllowed(1000, 0.99))
    assert(!percentileAllowed(999, 0.99))
    assert(percentileAllowed(200, 0.95))
    assert(!percentileAllowed(199, 0.95))
    assert(!percentileAllowed(0, 0.5))
    assert(ruledPercentile((1 to 199).map(_.toDouble), 0.95).isEmpty)
    assert(ruledPercentile((1 to 200).map(_.toDouble), 0.95).contains(190.0))
  }

  test("capacity is input rows per second of trigger execution, not of wall time") {
    assert(capacityPerS(Seq((2000L, 500.0), (2000L, 1500.0))) == 2000.0)
    assert(capacityPerS(Seq((300L, 100.0))) == 3000.0)
    // a batch that read nothing still costs trigger time
    assert(capacityPerS(Seq((1000L, 250.0), (0L, 250.0))) == 2000.0)
    assertThrows[IllegalArgumentException](capacityPerS(Nil))
  }

  test("NULL trade ids collapse to one kept row per batch; batch 1 still holds batch 0's") {
    assert(nullKeyDuplicates(Seq((2L, 3), (3L, 0), (4L, 1))) == 2)
    assert(nullKeyDuplicates(Seq((1L, 2), (0L, 1))) == 2)
    assert(nullKeyDuplicates(Seq((0L, 0), (1L, 2))) == 1)
    assert(nullKeyDuplicates(Seq((0L, 2), (1L, 0), (2L, 2))) == 2)
    // batch 1 ran without data and evicted batch 0's key
    assert(nullKeyDuplicates(Seq((0L, 1), (2L, 3))) == 2)
    assert(nullKeyDuplicates(Nil) == 0)
  }

  test("backlog growth is the least-squares slope of backlog over time") {
    assert(backlogGrowthPerS(Seq((0.0, 0.0), (1.0, 100.0), (2.0, 200.0))) == 100.0)
    assert(backlogGrowthPerS(Seq((0.0, 50.0), (1.0, 50.0), (2.0, 50.0))) == 0.0)
    assert(math.abs(backlogGrowthPerS(Seq((0.0, 10.0), (1.0, 0.0), (2.0, 10.0), (3.0, 0.0))) + 2.0) < 1e-9)
    assert(backlogGrowthPerS(Seq((1.0, 7.0))) == 0.0)
  }

  test("self time is a span's duration minus the union of its children") {
    val spans = Seq(
      Span(1, 0, "query", "q", 0, 100),
      Span(2, 1, "build", "q", 10, 30),
      Span(3, 1, "action", "q", 20, 50),
      Span(4, 1, "action", "q", 60, 70),
      Span(5, 3, "job", "q", 25, 45))
    val self = Spans.selfTimes(spans)
    assert(self(1) == 50)
    assert(self(3) == 10)
    assert(self(2) == 20)
    assert(Spans.union(Seq((0L, 10L), (5L, 15L), (20L, 25L))) == 20)
  }
}
