package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("nearest-rank percentile and samples beyond it") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.percentile(xs, 50) == 50.0)
    assert(Stats.percentile(xs, 99) == 99.0)
    assert(Stats.percentile(xs, 100) == 100.0)
    assert(Stats.beyond(100, 90) == 10)
    assert(Stats.beyond(1000, 99) == 10)
    assert(Stats.beyond(999, 99) == 9) // rank 990 of 999
    assert(Stats.beyond(1100, 99) == 11) // rank 1089 of 1100
  }

  test("tail rule: highest percentile with at least ten samples beyond, with its count") {
    val n1000 = (1 to 1000).map(_.toDouble)
    assert(Stats.tail(n1000).contains(Stats.Tail(99.0, 990.0, 1000)))
    // 998 samples leave only 9 beyond p99: fall back to p95
    val n998 = (1 to 998).map(_.toDouble)
    assert(Stats.tail(n998).map(_.pct).contains(95.0))
    // 108 samples: p99 and p95 fail, p90 has exactly ten beyond
    val n108 = (1 to 108).map(_.toDouble)
    assert(Stats.tail(n108).contains(Stats.Tail(90.0, 98.0, 108)))
    // the median needs twenty samples
    assert(Stats.tail((1 to 20).map(_.toDouble)).map(_.pct).contains(50.0))
    assert(Stats.tail((1 to 19).map(_.toDouble)).isEmpty)
    // a lower wanted percentile caps the ladder
    assert(Stats.tail(n1000, want = 90).map(_.pct).contains(90.0))
  }

  test("tail falls back to the maximum, labelled percentile 100") {
    val xs = Seq(3.0, 1.0, 2.0)
    assert(Stats.tailOrMax(xs) == Stats.Tail(100.0, 3.0, 3))
    val n1000 = (1 to 1000).map(_.toDouble)
    assert(Stats.tailOrMax(n1000) == Stats.Tail(99.0, 990.0, 1000))
  }

  test("median and geometric mean") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
    assert(math.abs(Stats.geomean(Seq(1.0, 4.0)) - 2.0) < 1e-12)
  }

  private def b(id: Long, start: Seq[String], end: Seq[String], commit: Long) =
    Stats.Batch(id, start.toSet, end.toSet, commit)

  test("file-to-batch attribution: each file timed by the batch whose offsets first add it") {
    val due = Map("ev-0.json" -> 1000L, "ev-1.json" -> 1500L, "ev-2.json" -> 2000L)
    val batches = Seq(
      b(0, Nil, Seq("/in/ev-0.json"), 1800),
      b(1, Seq("/in/ev-0.json"), Seq("/in/ev-0.json", "/in/ev-1.json", "/in/ev-2.json"), 2600))
    val a = Stats.attribute(due, batches)
    assert(a.latencyMs == Map("ev-0.json" -> 800L, "ev-1.json" -> 1100L, "ev-2.json" -> 600L))
    assert(a.exactlyOnce)
  }

  test("attribution is order-free and flags missing, duplicated and unknown files") {
    val due = Map("a" -> 0L, "b" -> 0L, "c" -> 0L)
    val batches = Seq(
      // listed out of order: batch 1 arrives first
      b(1, Seq("/d/a"), Seq("/d/a", "/d/b", "/d/x"), 300),
      b(0, Nil, Seq("/d/a"), 100),
      // an offset that forgot `b` re-delivers it
      b(2, Seq("/d/a"), Seq("/d/a", "/d/b"), 500))
    val a = Stats.attribute(due, batches)
    assert(a.latencyMs == Map("a" -> 100L, "b" -> 300L))
    assert(a.missing == Set("c"))
    assert(a.duplicated == Set("b"))
    assert(a.unknown == Set("x"))
    assert(!a.exactlyOnce)
  }

  test("a batch that adds nothing attributes nothing") {
    val a = Stats.attribute(Map("a" -> 0L), Seq(b(0, Nil, Seq("a"), 10), b(1, Seq("a"), Seq("a"), 20)))
    assert(a.latencyMs == Map("a" -> 10L) && a.exactlyOnce)
  }
}
