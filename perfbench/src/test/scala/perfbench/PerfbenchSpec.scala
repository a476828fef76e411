package perfbench

import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.AdaptiveAgg

class PerfbenchSpec extends AnyFunSuite {

  test("tail percentile: the highest candidate with at least 10 samples beyond it") {
    assert(Stats.tailPercentile(19).isEmpty)
    assert(Stats.tailPercentile(20).contains(500))
    assert(Stats.tailPercentile(99).contains(500))
    assert(Stats.tailPercentile(100).contains(900))
    assert(Stats.tailPercentile(999).contains(950))
    assert(Stats.tailPercentile(1000).contains(990))
    assert(Stats.tailPercentile(9999).contains(990))
    assert(Stats.tailPercentile(10000).contains(999))
  }

  test("nearest-rank percentiles") {
    val xs = Array.tabulate(100)(i => (100 - i).toDouble)
    assert(Stats.median(xs) == 50.0)
    assert(Stats.percentile(xs, 990) == 99.0)
    assert(Stats.percentile(xs, 999) == 100.0)
    assert(Stats.percentile(Array(7.0), 990) == 7.0)
  }

  test("processing rate: events read over trigger time") {
    assert(Stats.processingRate(Seq(240000L), Seq(2000.0)) == 120000.0)
    // A backlog split over two batches counts both.
    assert(Stats.processingRate(Seq(200000L, 40000L), Seq(1500.0, 900.0)) == 100000.0)
    assert(intercept[IllegalArgumentException](Stats.processingRate(Nil, Nil))
      .getMessage.contains("no batches"))
  }

  private def bytes(r: Rung): Seq[Seq[Byte]] = r.messages.toSeq.flatMap(_.map(_.toSeq))

  test("the same seed gives a byte-identical message sequence") {
    val a = Gen.groupDrift(7L, 8000, 2)
    assert(bytes(a) == bytes(Gen.groupDrift(7L, 8000, 2)))
    assert(a.messages.forall(_.length == Gen.Parts))
    assert(bytes(a) != bytes(Gen.groupDrift(8L, 8000, 2)))
    assert(a.ticks == 200 && a.tickStart(a.ticks) == a.events && a.events == 16000)
    // A tick's first message holds its port-0 events, in due order.
    val text = new String(a.messages(17)(0), "UTF-8")
    val first = (a.tickStart(17) until a.tickStart(18)).find(a.part(_) == 0).get
    assert(text.startsWith(s"${Gen.LogicalBase + a.dueMs(first)} ${a.part(first)} w${a.key(first)}"))
    // The join stream: same seed, same bytes; x is the event index.
    val j = Gen.starJoin(7L, 6000, 2)
    assert(bytes(j) == bytes(Gen.starJoin(7L, 6000, 2)))
    assert(bytes(j) != bytes(Gen.starJoin(8L, 6000, 2)))
    val i = (j.tickStart(30) until j.tickStart(31)).find(j.part(_) == 2).get
    assert(new String(j.messages(30)(2), "UTF-8")
      .startsWith(s"${Gen.LogicalBase + j.dueMs(i)} z${j.key(i)} $i"))
  }

  test("newest contributing event of a result row: the last index of its (window, word)") {
    val r = Gen.groupDrift(3L, 8000, 2)
    val (from, until) = (r.tickStart(40), r.tickStart(160))
    val got = Streams.newestByWindowWord(r, from, until)
    val want = (from until until).groupBy(i => (r.window(i), r.key(i))).map { case (k, is) => k -> is.max }
    assert(got.size == want.size)
    for (((w, word), i) <- want) assert(got(w.toLong << 32 | word) == i)
    // A joined row names its three events by index: the newest is the largest.
    assert(Streams.newestOfJoined(40L, 7L, 39L) == 40)
    assert(Streams.newestOfJoined(3L, 9L, 12L) == 12)
  }

  test("phases: uniform half windows pick plain HH, Zipf windows pick salted APK") {
    val rate = 16000
    val r = Gen.groupDrift(11L, rate, 4)
    def decide(from: Int, until: Int): Int = {
      val counts = (from until until).groupBy(r.key).map(_._2.size.toLong)
      val m = counts.sum
      AdaptiveAgg.decideStrategy(m, counts.size.toLong, counts.max,
        counts.count(_ * 60 > m).toLong, counts.count(_ == 1).toLong)
    }
    for (w <- Seq(0, 1)) { // uniform phase: the two half windows a trigger reads
      assert(decide(w * rate, w * rate + rate / 2) == 0)
      assert(decide(w * rate + rate / 2, (w + 1) * rate) == 0)
    }
    for (w <- Seq(2, 3)) assert(decide(w * rate, (w + 1) * rate) == 1)
  }
}
