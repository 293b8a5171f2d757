package graft.sources

import java.sql.Timestamp

import graft.TestSpark
import graft.model.TradeOut
import org.scalatest.funsuite.AnyFunSuite

/** Backfill reconciliation tests (reference ops 3, 21-23,
  * redis_worker.py:43-94): pagination cursor, last-wins dedup, membership
  * fill, still-missing diagnostics, sink-level id dedup. */
class BackfillSpec extends AnyFunSuite {
  import Backfill._

  private val ts = Timestamp.valueOf("2017-10-15 05:10:53")

  /** Fixture history: ids 100..120 except 105 and 111 (permanently absent
    * from the exchange history), with a duplicated id 107 whose later
    * occurrence should win. */
  private class FixtureFetcher extends TradeFetcher {
    var calls = 0
    private val history =
      ((100L to 120L).filterNot(id => id == 105L || id == 111L)
        .map(id => FetchedTrade(id, s"$id.00", "1.0", "buy", ts))
        :+ FetchedTrade(107L, "107.99", "2.0", "sell", ts))
        .sortBy(_.tradeId)
    override def fetchPage(productId: String, afterId: Long,
        limit: Int): Seq[FetchedTrade] = {
      calls += 1
      history.filter(_.tradeId > afterId).take(limit)
    }
  }

  test("fillGap: fetches the missing range, flags backfilled, reports absentees") {
    val f = new FixtureFetcher
    val r = fillGap(f, "ETH-USD", "gdax", 101, 110, pageSize = 4)
    val got = r.trades.map(_.tradeId).sorted
    assert(got === Seq(101L, 102L, 103L, 104L, 106L, 107L, 108L, 109L, 110L))
    assert(r.stillMissing === Set(105L))
    assert(r.trades.forall(_.backfilled))
    // duplicate id 107: last occurrence wins (dict-index semantics, op 22)
    assert(r.trades.find(_.tradeId == 107L).get.price === "107.99")
    // page budget: ceil(10/4) = 3 pages max (redis_worker.py:46)
    assert(r.pagesFetched <= 3)
  }

  test("fillGap: empty history terminates without spinning") {
    val empty = new TradeFetcher {
      override def fetchPage(p: String, a: Long, l: Int): Seq[FetchedTrade] =
        Seq.empty
    }
    val r = fillGap(empty, "ETH-USD", "gdax", 1, 500)
    assert(r.trades.isEmpty && r.pagesFetched === 1)
    assert(r.stillMissing === (1L to 500L).toSet)
  }

  test("reconcileBatch: live ∪ backfilled with id dedup (live wins at sink)") {
    val live = Seq(
      TradeOut("gdax", "ETH-USD", 7, 100L, "300.15", "0.25", "buy", ts,
        backfilled = false, -1, -1),
      TradeOut("gdax", "ETH-USD", 9, 104L, "300.16", "0.30", "sell", ts,
        backfilled = false, 101, 103))
    val merged = reconcileBatch(live, new FixtureFetcher).trades
    assert(merged.map(_.tradeId).sorted.toSeq === Seq(100L, 101L, 102L, 103L, 104L))
    // the flagged ids came from backfill; the live rows stayed live
    assert(merged.filter(_.backfilled).map(_.tradeId).sorted.toSeq ===
      Seq(101L, 102L, 103L))
  }

  test("commitBatch: a half-served gap lands its served half, the rest is reported missing") {
    val spark = TestSpark.spark
    import spark.implicits._
    // live trades 100 and 111 flag the gap [101, 110]; the history holds
    // only 101..105
    val halfHistory = new TradeFetcher {
      override def fetchPage(p: String, afterId: Long,
          limit: Int): Seq[FetchedTrade] =
        (101L to 105L).filter(_ > afterId).take(limit)
          .map(id => FetchedTrade(id, s"$id.00", "1.0", "buy", ts))
    }
    val batch = graft.streaming.BookEngine.run(Seq(100L, 111L).map { id =>
      graft.model.MarketMessage("gdax", "ETH-USD", "match", "ETH-USD", id,
        id, Nil, Nil, Nil, id, "300.15", "0.25", "buy", ts)
    }.toDS())
    val outDir = java.nio.file.Files.createTempDirectory("half_gap").toString
    graft.streaming.Pipeline.commitBatch(spark, batch.collect().toSeq, 0L,
      outDir, Some(halfHistory))
    val landed = spark.read.parquet(s"$outDir/trades")
      .select("tradeId", "backfilled").as[(Long, Boolean)].collect()
    assert(landed.map(_._1).sorted.toSeq === Seq(100L, 101L, 102L, 103L,
      104L, 105L, 111L))
    assert(landed.filter(_._2).map(_._1).sorted.toSeq === (101L to 105L))
    val gaps = graft.streaming.Pipeline.settle(batch.collect().toSeq,
      Some(halfHistory))._2.gaps
    assert(gaps.map(g => (g.productId, g.gapStart, g.gapEnd)) ===
      Seq(("ETH-USD", 101L, 110L)))
    assert(gaps.head.result.stillMissing === (106L to 110L).toSet)
  }

  test("property: fillGap terminates with exact partition of the gap under adversarial fetchers") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    // Adversarial fetcher: ignores its contract — returns a pseudo-random
    // (but deterministic) page possibly containing duplicates, ids below
    // the cursor, ids outside the gap, or nothing at all.
    final class Chaos(seed: Long, lo: Long, hi: Long) extends TradeFetcher {
      override def fetchPage(productId: String, afterId: Long,
          limit: Int): Seq[FetchedTrade] = {
        val r = new scala.util.Random(seed ^ afterId)
        val n = r.nextInt(limit + 1)
        Seq.fill(n) {
          val id = lo - 3 + r.nextLong(hi - lo + 7)
          FetchedTrade(id, "1.00", "1.00", "buy", ts)
        }
      }
    }
    val gen = for {
      seed <- Gen.long
      start <- Gen.chooseNum(1L, 1000L)
      len <- Gen.chooseNum(0L, 200L)
    } yield (seed, start, start + len)
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(200),
      Prop.forAll(gen) { case (seed, s, e) =>
        val r = fillGap(new Chaos(seed, s, e), "P", "gdax", s, e, pageSize = 10)
        val got = r.trades.map(_.tradeId)
        val full = (s to e).toSet
        got.distinct.length == got.length && // no duplicate emissions
          got.toSet.subsetOf(full) &&        // nothing outside the gap
          (got.toSet ++ r.stillMissing) == full && // exact partition
          got.toSet.intersect(r.stillMissing).isEmpty &&
          r.pagesFetched <= (full.size + 9) / 10 + 1 // page budget respected
      })
    assert(res.passed, res.status.toString)
  }

  /** Deterministic harness for RestTradeFetcher: virtual clock where only
    * sleep() advances time, scripted transport responses. */
  private class FetcherHarness(script: Iterator[() => (Int, String)]) {
    var clock = 0L
    val sleeps = scala.collection.mutable.ArrayBuffer.empty[Long]
    var requests = 0
    val fetcher = new Backfill.RestTradeFetcher("http://x",
      pageDelayMillis = 500L, maxAttempts = 3,
      nowMillis = () => clock,
      sleep = d => { sleeps += d; clock += d },
      transport = _ => { requests += 1; script.next()() })
  }

  test("RestTradeFetcher: consecutive pages are paced 500ms apart (counting fake clock)") {
    val ok = () => (200, """[{"trade_id":1,"price":"1","size":"1",
      "side":"buy","time":"2017-10-15T05:10:53Z"}]""")
    val h = new FetcherHarness(Iterator.continually(ok))
    h.fetcher.fetchPage("P", 0, 10)
    h.fetcher.fetchPage("P", 1, 10)
    h.fetcher.fetchPage("P", 2, 10)
    // first request unpaced, each subsequent waits the full inter-page delay
    assert(h.requests === 3)
    assert(h.sleeps.toSeq === Seq(500L, 500L))
  }

  test("RestTradeFetcher: transient failures retry paced, capped at maxAttempts") {
    val boom = () => throw new java.io.IOException("connection reset")
    val h = new FetcherHarness(Iterator.continually(boom))
    assert(h.fetcher.fetchPage("P", 0, 10).isEmpty) // budget exhausted → empty
    assert(h.requests === 3)                        // exactly maxAttempts
    assert(h.sleeps.toSeq === Seq(500L, 500L))      // retries paced too

    // 5xx twice then success: the page comes back on the third attempt
    val h2 = new FetcherHarness(Iterator(
      () => (503, ""), () => (500, ""),
      () => (200, """[{"trade_id":7,"price":"1","size":"1",
        "side":"buy","time":"2017-10-15T05:10:53Z"}]""")))
    assert(h2.fetcher.fetchPage("P", 0, 10).map(_.tradeId) === Seq(7L))
    assert(h2.requests === 3)
  }

  test("RestTradeFetcher: 4xx is permanent — one attempt, empty page") {
    val h = new FetcherHarness(Iterator.continually(() => (404, "not found")))
    assert(h.fetcher.fetchPage("NO-SUCH", 0, 10).isEmpty)
    assert(h.requests === 1)
    assert(h.sleeps.isEmpty)
  }

  test("RestTradeFetcher: 429 rate-limit retries paced — the case the pacing exists for") {
    val h = new FetcherHarness(Iterator(
      () => (429, "slow down"),
      () => (200, """[{"trade_id":9,"price":"1","size":"1",
        "side":"buy","time":"2017-10-15T05:10:53Z"}]""")))
    assert(h.fetcher.fetchPage("P", 0, 10).map(_.tradeId) === Seq(9L))
    assert(h.requests === 2)
    assert(h.sleeps.toSeq === Seq(500L)) // the retry waited its turn
  }

  test("parseTrades: tolerant typing — string trade_id and offset/local times parse") {
    val json = """[
      {"trade_id":"42","price":"1.00","size":"0.5","side":"buy",
       "time":"2017-10-15T05:10:53Z"},
      {"trade_id":43,"price":"1.01","size":"0.5","side":"sell",
       "time":"2017-10-15T05:10:54+00:00"},
      {"trade_id":"44 ","price":"1.02","size":"0.5","side":"buy",
       "time":"2017-10-15T05:10:55"},
      {"trade_id":"4x","price":"1.03","size":"0.5","side":"buy",
       "time":"2017-10-15T05:10:56Z"}
    ]"""
    val out = Backfill.parseTrades(json)
    assert(out.map(_.tradeId) === Seq(42L, 43L, 44L))
    assert(out(1).ts === Timestamp.from(
      java.time.Instant.parse("2017-10-15T05:10:54Z")))
    assert(out(2).ts === Timestamp.from(
      java.time.Instant.parse("2017-10-15T05:10:55Z")))
  }

  test("parseTrades: driver-local Jackson parse of a GDAX trades page — no Spark job") {
    val json = """[
      {"time":"2017-10-15T05:10:53.10Z","trade_id":42,"price":"6000.01",
       "size":"0.25","side":"buy"},
      {"time":"2017-10-15T05:10:54Z","trade_id":43,"price":"6000.02",
       "size":"1.00","side":"sell"},
      {"trade_id":"not-a-number","time":"2017-10-15T05:10:55Z"},
      {"price":"9.99","size":"1","side":"buy","time":"2017-10-15T05:10:56Z"},
      {"trade_id":44,"price":"6000.03","size":"0.5","side":"buy",
       "time":"garbage"}
    ]"""
    val out = Backfill.parseTrades(json)
    // valid entries survive, malformed ones (bad id, missing id, bad time)
    // are dropped — and no SparkSession is touched (works pre-session)
    assert(out.map(_.tradeId) === Seq(42L, 43L))
    assert(out.head.price === "6000.01" && out.head.side === "buy")
    assert(out.head.ts === Timestamp.from(
      java.time.Instant.parse("2017-10-15T05:10:53.10Z")))
    assert(Backfill.parseTrades("not json at all").isEmpty)
    assert(Backfill.parseTrades("""{"an":"object"}""").isEmpty)
    assert(Backfill.parseTrades("[]").isEmpty)
  }
}
