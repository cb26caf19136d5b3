package pipebench

import org.scalatest.funsuite.AnyFunSuite

/** The harness's own pieces: the generator, the percentile rules and the
  * expected results the generator computes from what it sent. */
class HarnessSpec extends AnyFunSuite {

  private def events(seed: Long, n: Int, markets: Int = 4): Seq[Ev] = {
    val f = new Feed(seed, markets)
    (0 until n).map(i => f.next(i.toLong))
  }

  test("the generator is deterministic for a seed and differs across seeds") {
    assert(events(7L, 2000) === events(7L, 2000))
    assert(events(7L, 2000).map(_.json) !== events(8L, 2000).map(_.json))
    val f1 = new Feed(7L, 96)
    val f2 = new Feed(7L, 96)
    assert(f1.finalPrices === f2.finalPrices)
    assert(f1.pollResult(5L, 3) === f2.pollResult(5L, 3))
  }

  test("the generator keeps the reference mix and a rising event time") {
    val es = events(3L, 34600)
    val byTopic = es.groupMapReduce(_.topic)(_ => 1L)(_ + _)
    def share(t: String) = byTopic.getOrElse(t, 0L).toDouble / es.size
    assert(math.abs(share(Topics.Books) - 235.0 / 346) < 0.02)
    assert(math.abs(share(Topics.Positions) - 110.0 / 346) < 0.02)
    assert(byTopic.getOrElse(Topics.Ticks, 0L) > 0L)
    assert(es.map(_.eventMs).sliding(2).forall { case Seq(a, b) => a <= b })
    // 346 events span one second of event time
    assert(es(346).eventMs - es(0).eventMs === 1000L)
  }

  test("below 40 samples only the median is reported") {
    val xs = (1 to 39).map(_.toDouble)
    val g = xs.indices.map(_.toLong)
    assert(Stats.percentile(xs, g, 0.5) === Some(20.0))
    assert(Stats.percentile(xs, g, 0.95) === None)
    assert(Stats.percentile(IndexedSeq(1.0, 3.0), IndexedSeq(0L, 1L), 0.5) === Some(2.0))
    assert(Stats.percentile(IndexedSeq.empty, IndexedSeq.empty, 0.5) === None)
  }

  test("a named percentile needs ten groups beyond it") {
    val xs = (1 to 1000).map(_.toDouble)
    val own = xs.indices.map(_.toLong)
    assert(Stats.percentile(xs, own, 0.95) === Some(950.0)) // 50 beyond
    assert(Stats.percentile(xs, own, 0.99) === Some(990.0)) // 10 beyond
    assert(Stats.percentile(xs, own, 0.995) === None) // 5 beyond
    // the same values delivered by 15 micro-batches: only 8 lie past p50
    val batches = xs.indices.map(i => (i / 67).toLong)
    assert(Stats.percentile(xs, batches, 0.5) === None)
    assert(Stats.percentile(xs, xs.indices.map(i => (i / 40).toLong), 0.5).isDefined)
  }

  test("gold is recomputed from the sent log by market and minute") {
    val t0 = Feed.OriginMs
    val m = IndexedSeq("a", "b")
    def book(mk: Int, at: Long, bid: Long, size: Long) =
      Ev(0L, Topics.Books, mk, t0 + at, bid, size, "")
    val sent = Seq(
      book(0, 1000L, 40L, 300L), book(0, 59999L, 45L, 100L), // a, minute 0
      book(0, 60000L, 41L, 200L), // a, minute 1
      book(1, 5000L, 30L, 500L), book(1, 6000L, 35L, 500L), // b, minute 0
      Ev(0L, Topics.Positions, 1, t0 + 7000L, 0L, 0L, "")) // not a book
    assert(Feed.expectedGold(sent, m) === Map(
      ("a", t0) -> GoldRow(2L, 45L, 400L, 300.0 / 400.0),
      ("a", t0 + 60000L) -> GoldRow(1L, 41L, 200L, 1.0),
      ("b", t0) -> GoldRow(2L, 35L, 1000L, 0.5)))
  }

  test("a market's winner follows its final poll prices") {
    assert(Feed.winner(1.0, 0.0) === "Down")
    assert(Feed.winner(0.0, 1.0) === "Up")
    assert(Feed.winner(0.5, 0.5) === "Unknown")
  }
}
