package perfbench

import org.scalatest.funsuite.AnyFunSuite

class HelpersSpec extends AnyFunSuite {

  test("nearest-rank percentile reports its sample count and the samples beyond it") {
    val xs = (1 to 200).map(_.toDouble)
    val p95 = Stats.percentile(xs, 95)
    assert(p95.value == 190.0)
    assert(p95.samples == 200)
    assert(p95.beyond == 10)
    assert(Stats.percentile(Seq(5.0), 50).value == 5.0)
    assert(Stats.percentile(Seq(3.0, 1.0, 2.0), 100).value == 3.0)
  }

  test("the highest supported percentile keeps at least ten samples beyond it") {
    assert(Stats.highestSupported((1 to 200).map(_.toDouble)).map(_.p).contains(95.0))
    assert(Stats.highestSupported((1 to 2000).map(_.toDouble)).map(_.p).contains(99.0))
    assert(Stats.highestSupported((1 to 12).map(_.toDouble)).isEmpty)
  }

  test("median of odd and even counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
  }

  test("self time subtracts the union of child intervals, clipped to the parent") {
    val spans = Seq(
      Span(0, -1, 0, "op", 0, 100),
      Span(1, 0, 0, "a", 10, 40),
      Span(2, 0, 0, "b", 30, 50),  // overlaps a: union 10..50
      Span(3, 0, 0, "c", 90, 120), // runs past the parent: clipped to 90..100
      Span(4, 1, 0, "a.job", 15, 25))
    val self = Span.selfTimes(spans)
    assert(self(0) == 100 - 40 - 10)
    assert(self(1) == 30 - 10)
    assert(self(2) == 20)
    assert(self(3) == 30)
    assert(self(4) == 10)
  }

  test("self times of a nested, non-overlapping tree add up to the root") {
    val spans = Seq(Span(0, -1, 0, "op", 0, 1000), Span(1, 0, 0, "x", 100, 600),
      Span(2, 1, 0, "y", 200, 300), Span(3, 0, 0, "z", 700, 900))
    assert(Span.selfTimes(spans).values.sum == 1000)
  }

  test("the seeded draw is deterministic and seed-dependent") {
    def take(seed: Long) = {
      val d = new Gen.Draw(seed)
      (d.idBase, (0 until 50).map(_ => d.window()), d.queries(16))
    }
    assert(take(7) == take(7))
    assert(take(7) != take(8))
    val (base, windows, queries) = take(7)
    assert(base % 10 == 0 && base >= 0 && base < 500000000L)
    windows.foreach { case (w, _) =>
      assert(w.minLng <= w.maxLng && w.minLat <= w.maxLat)
      assert(Gen.World.intersects(w))
    }
    queries.filter(_.hot).foreach(q => assert(Gen.Hot.containsPoint(q.lng, q.lat)))
  }

  test("most windows and queries fall in the hot cluster") {
    val d = new Gen.Draw(42)
    val hotWindows = (0 until 2000).count(_ => d.window()._2)
    assert(hotWindows > 1700 && hotWindows < 1900)
    val hotQueries = d.queries(2000).count(_.hot)
    assert(hotQueries > 1700 && hotQueries < 1900)
  }
}
