package pipebench

import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter

import scala.collection.mutable

/** The reference's Kafka topics that the benchmark feeds. */
object Topics {
  val Markets = "market-updates"
  val Polls = "gamma-poll-results"
  val Books = "polymarket-prices"
  val Positions = "user-positions"
  val Ticks = "asset-prices"
  val all: Seq[String] = Seq(Markets, Polls, Books, Positions, Ticks)
  /** Topics the silver layer projects (the ones with a declared schema). */
  val silver: Seq[String] = Seq(Markets, Books, Positions, Ticks)
}

/** One generated data event; `seq` is unique across the whole run. */
final case class Ev(seq: Long, topic: String, market: Int, eventMs: Long,
                    bidC: Long, sizeC: Long, json: String)

/** The expected gold row of one (market, 1-minute window). */
final case class GoldRow(nEvents: Long, maxBidC: Long, sumSizeC: Long, topShare: Double)

/** The load generator: the reference's traffic mix (BASELINE.md rows 1-3:
  * ~235 orderbook summaries, ~110 position snapshots and 1 BTC tick per
  * second) over `markets` concurrent markets, every value drawn from
  * `seed`. Event time advances by one reference inter-arrival per event
  * from a fixed origin, so the same seed gives the same payloads
  * whenever and however fast they are sent. */
final class Feed(seed: Long, val markets: Int) {
  import Feed._

  private val rnd = new java.util.SplittableRandom(seed)
  private var n = 0L
  /** Market ids carry the seed so that two seeds never share a key. */
  val marketIds: IndexedSeq[String] =
    (0 until markets).map(i => f"m${java.lang.Math.floorMod(seed, 100000L)}%05d-$i%03d")

  /** Next data event with sequence number `seq`. */
  def next(seq: Long): Ev = {
    val eventMs = OriginMs + (n * 1000L) / MixTotal
    n += 1
    val ts = Iso.format(Instant.ofEpochMilli(eventMs))
    val m = rnd.nextInt(markets)
    val id = marketIds(m)
    val draw = rnd.nextInt(MixTotal)
    if (draw < MixBooks) {
      val bidC = 30L + rnd.nextInt(40)
      val askC = bidC + 1 + rnd.nextInt(5)
      val sizeC = 100L + rnd.nextInt(99900)
      val askSizeC = 100L + rnd.nextInt(99900)
      val imb = rnd.nextInt(20001) - 10000
      Ev(seq, Topics.Books, m, eventMs, bidC, sizeC,
        s"""{"seq":$seq,"type":"orderbook_summary","market_id":"$id","asset_id":"${id}Y","condition_id":"c_$id","outcome":"Yes","timestamp":"$ts","best_bid_price":${cents(bidC)},"best_bid_size":${cents(sizeC)},"best_ask_price":${cents(askC)},"best_ask_size":${cents(askSizeC)},"total_bid_volume":${cents(sizeC * 3)},"total_ask_volume":${cents(askSizeC * 3)},"largest_bid_size":${cents(sizeC)},"largest_bid_price":${cents(bidC)},"largest_ask_size":${cents(askSizeC)},"largest_ask_price":${cents(askC)},"book_imbalance":${imb / 10000.0}}""")
    } else if (draw < MixBooks + MixPositions) {
      val user = rnd.nextInt(1000)
      val balance = 1000000L + rnd.nextLong(5000000000L)
      Ev(seq, Topics.Positions, m, eventMs, 0L, 0L,
        s"""{"seq":$seq,"type":"position","market_id":"$id","condition_id":"c_$id","snapshot_time":"$ts","user":"0xu$user","asset_id":"${id}Y","outcome":"Yes","outcome_index":0,"balance":$balance,"position_count":null}""")
    } else {
      val priceC = 9500000L + rnd.nextInt(500000)
      Ev(seq, Topics.Ticks, m, eventMs, 0L, 0L,
        s"""{"seq":$seq,"symbol":"BTC-USD","price":${cents(priceC)},"timestamp":"${ts.dropRight(1)}","volume":1.5}""")
    }
  }

  /** Final poll prices of market `m`, drawn from the seed: (no, yes). */
  val finalPrices: IndexedSeq[(Double, Double)] = {
    val r = new java.util.SplittableRandom(seed ^ 0x5DEECE66DL)
    (0 until markets).map { _ =>
      r.nextInt(3) match {
        case 0 => (1.0, 0.0)
        case 1 => (0.0, 1.0)
        case _ => (0.5, 0.5)
      }
    }
  }

  /** Discovery message of market `m`, closing at wall-clock `endMs`. */
  def discovery(seq: Long, m: Int, endMs: Long): String = {
    val id = marketIds(m)
    s"""{"seq":$seq,"market_id":"$id","condition_id":"c_$id","question":"Will BTC close up in window $m?","yes_price":0.5,"no_price":0.5,"token_ids":["${id}Y","${id}N"],"start_time":"${Iso.format(Instant.ofEpochMilli(OriginMs))}","end_time":"${Iso.format(Instant.ofEpochMilli(endMs))}","active":true,"best_bid":0.49,"best_ask":0.51,"liquidity":"1000","volume":"5000","slug":"slug-$id"}"""
  }

  /** The poller's answer for market `m`: closed and resolved at its
    * final prices. */
  def pollResult(seq: Long, m: Int): String = {
    val (no, yes) = finalPrices(m)
    s"""{"seq":$seq,"market_id":"${marketIds(m)}","closed":true,"resolution_status":"resolved","no_price":$no,"yes_price":$yes}"""
  }
}

object Feed {
  val MixBooks = 235
  val MixPositions = 110
  val MixTicks = 1
  val MixTotal: Int = MixBooks + MixPositions + MixTicks
  /** Event-time origin of every feed. */
  val OriginMs: Long = Instant.parse("2024-01-01T00:00:00Z").toEpochMilli
  val WindowMs = 60000L
  val Iso: DateTimeFormatter =
    DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSS'Z'").withZone(ZoneOffset.UTC)

  def cents(c: Long): String = {
    val a = math.abs(c)
    f"${if (c < 0) "-" else ""}${a / 100}.${a % 100}%02d"
  }

  /** The winner a market's final poll prices imply (the reference's
    * rule: a final NO price of 1 means Down, a final YES price of 1
    * means Up, anything else is Unknown). */
  def winner(no: Double, yes: Double): String =
    if (no == 1.0) "Down" else if (yes == 1.0) "Up" else "Unknown"

  /** Gold recomputed from the sent log: per (market id, window start ms)
    * over the orderbook summaries, the event count, the largest best
    * bid, the summed best-bid size and the largest single size's share
    * of that sum. */
  def expectedGold(sent: Iterable[Ev], marketIds: IndexedSeq[String]): Map[(String, Long), GoldRow] = {
    final class Acc(var n: Long, var maxBid: Long, var sum: Long, var maxSize: Long)
    val acc = mutable.HashMap.empty[(String, Long), Acc]
    sent.iterator.filter(_.topic == Topics.Books).foreach { e =>
      val k = (marketIds(e.market), e.eventMs - java.lang.Math.floorMod(e.eventMs, WindowMs))
      val a = acc.getOrElseUpdate(k, new Acc(0L, Long.MinValue, 0L, Long.MinValue))
      a.n += 1
      a.maxBid = math.max(a.maxBid, e.bidC)
      a.sum += e.sizeC
      a.maxSize = math.max(a.maxSize, e.sizeC)
    }
    acc.iterator.map { case (k, a) =>
      k -> GoldRow(a.n, a.maxBid, a.sum,
        if (a.sum == 0L) 0.0 else a.maxSize.toDouble / a.sum.toDouble)
    }.toMap
  }
}
