package graft.streaming

import graft.model._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

/** Golden tests of the keyed engine core (ops 16-20 end-to-end for one key,
  * no Spark): change suppression, out-of-order arrival repair, snapshot
  * reset, product learning, gap detection. */
class BookEngineSpec extends AnyFunSuite {

  private def msg(arrival: Long, msgType: String,
      productId: String = "ETH-USD",
      bids: Seq[Seq[String]] = Nil, asks: Seq[Seq[String]] = Nil,
      changes: Seq[Seq[String]] = Nil, tradeId: Long = -1,
      sequence: Long = -1, price: String = "", size: String = "",
      side: String = ""): MarketMessage =
    MarketMessage("gdax", productId, msgType, productId, sequence, arrival,
      bids, asks, changes, tradeId, price, size, side, null)

  private val key = ("gdax", "ETH-USD")
  private val snap = msg(1, "snapshot",
    bids = Seq(Seq("300.10", "1.5"), Seq("300.05", "2.0")),
    asks = Seq(Seq("300.20", "0.9")))

  test("snapshot emits; unchanged-top15 deltas are suppressed (op 19)") {
    val deep = msg(1, "snapshot",
      bids = (1 to 20).map(i => Seq(s"${300 - i}.00", "1.0")),
      asks = (1 to 20).map(i => Seq(s"${400 + i}.00", "1.0")))
    // a change at depth 16+ does not alter the top-15 view → no emission
    val deepChange = msg(2, "l2update",
      changes = Seq(Seq("buy", "283.00", "9.9")))
    val visible = msg(3, "l2update",
      changes = Seq(Seq("buy", "299.50", "9.9")))
    val (_, out) = BookEngine.processKey(key, OrderBook.initialState,
      Seq(deep, deepChange, visible))
    val books = out.flatMap(_.book)
    assert(books.length === 2) // snapshot + visible change only
    assert(books(1).bids.head === Level("299.50", "9.9"))
  }

  test("messages are replayed in arrival order even if batch is shuffled") {
    val upd1 = msg(2, "l2update", changes = Seq(Seq("buy", "300.10", "0")))
    val upd2 = msg(3, "l2update", changes = Seq(Seq("buy", "300.10", "7.0")))
    val (st, out) = BookEngine.processKey(key, OrderBook.initialState,
      Seq(upd2, snap, upd1)) // arrival order: snap, upd1, upd2
    assert(out.flatMap(_.book).last.bids.head === Level("300.10", "7.0"))
    assert(st.book.bids.head === (BigDecimal("300.10") -> "7.0"))
  }

  test("state carries across batches; suppression spans batch boundary") {
    val (st1, out1) = BookEngine.processKey(key, OrderBook.initialState,
      Seq(snap))
    assert(out1.flatMap(_.book).length === 1)
    // identical snapshot again in next batch → suppressed
    val (st2, out2) = BookEngine.processKey(key, st1, Seq(msg(5, "snapshot",
      bids = Seq(Seq("300.10", "1.5"), Seq("300.05", "2.0")),
      asks = Seq(Seq("300.20", "0.9")))))
    assert(out2.flatMap(_.book).isEmpty)
    assert(st2.book.bids === st1.book.bids)
  }

  test("trades: normalization, first-trade init, gap flag (op 20)") {
    val t1 = msg(10, "match", tradeId = 12345, sequence = 50,
      price = "300.15", size = "0.25", side = "buy")
    val t2 = msg(11, "match", tradeId = 12349, sequence = 51,
      price = "300.16", size = "0.10", side = "sell")
    val (st, out) = BookEngine.processKey(key, OrderBook.initialState,
      Seq(t1, t2))
    val trades = out.flatMap(_.trade)
    assert(trades.length === 2)
    assert(trades(0).gapStart === -1L && trades(0).gapEnd === -1L)
    assert(trades(1).gapStart === 12346L && trades(1).gapEnd === 12348L)
    assert(trades(1).volume === "0.10" && trades(1).side === "sell")
    assert(st.lastTradeId === 12349L)
  }

  test("poloniex channel key learns product from snapshot (op 12)") {
    val pkey = ("polo", "148")
    val psnap = MarketMessage("polo", "148", "snapshot", "BTC_ETH", 100, 1,
      Seq(Seq("0.03190000", "4.0")), Seq(Seq("0.03200000", "2.5")),
      Nil, -1, "", "", "", null)
    val ptrade = MarketMessage("polo", "148", "match", "", 101, 2,
      Nil, Nil, Nil, 9394200, "5545.00000000", "0.00009541", "buy", null)
    val (st, out) = BookEngine.processKey(pkey, OrderBook.initialState,
      Seq(psnap, ptrade))
    assert(st.productName === "BTC_ETH")
    assert(out.flatMap(_.trade).head.productId === "BTC_ETH")
    assert(out.flatMap(_.book).head.productId === "BTC_ETH")
  }

  test("property: processKey never throws and preserves engine invariants on arbitrary logs") {
    val priceGen = Gen.oneOf(Gen.chooseNum(1, 500).map(n => s"$n.${n % 10}0"),
      Gen.const(""), Gen.const("garbage"))
    val sizeGen = Gen.oneOf(Gen.const("0"), Gen.const(""),
      Gen.chooseNum(1, 99).map(n => s"$n.25"))
    val sideGen = Gen.oneOf("buy", "sell", "", "held")
    val pairGen = for (p <- priceGen; s <- sizeGen) yield Seq(p, s)
    val changeGen = for {
      side <- sideGen; p <- priceGen; s <- sizeGen
    } yield Seq(side, p, s)
    val msgGen: Gen[MarketMessage] = for {
      t <- Gen.oneOf("snapshot", "l2update", "match", "weird")
      bids <- Gen.listOfN(3, pairGen)
      asks <- Gen.listOfN(3, pairGen)
      chs <- Gen.listOf(changeGen)
      tid <- Gen.oneOf(Gen.const(-1L), Gen.chooseNum(1L, 50L))
      price <- priceGen; size <- sizeGen; side <- sideGen
      arrival <- Gen.chooseNum(1L, 1000L)
    } yield MarketMessage("gdax", "ETH-USD", t, "ETH-USD", arrival, arrival,
      if (t == "snapshot") bids else Nil,
      if (t == "snapshot") asks else Nil,
      if (t == "l2update") chs else Nil, tid, price, size, side, null)

    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(200),
      Prop.forAll(Gen.listOf(msgGen)) { msgs =>
        val (_, out) = BookEngine.processKey(key, OrderBook.initialState, msgs)
        val books = out.flatMap(_.book)
        // emitted books: ≤15 levels per side, bids strictly desc, asks asc
        val shapeOk = books.forall { b =>
          b.bids.length <= 15 && b.asks.length <= 15 &&
            isSorted(b.bids.map(l => BigDecimal(l.price)).reverse) &&
            isSorted(b.asks.map(l => BigDecimal(l.price)))
        }
        // suppression: no two consecutive identical top-15 views
        val noDupEmit = books.sliding(2).forall {
          case Seq(a, b) => a.bids != b.bids || a.asks != b.asks
          case _ => true
        }
        // one trade row per match message, in replay order
        val nMatches = msgs.count(_.msgType == "match")
        shapeOk && noDupEmit && out.flatMap(_.trade).length == nMatches
      })
    assert(res.passed, res.status.toString)
  }

  private def isSorted(xs: Seq[BigDecimal]): Boolean =
    xs.zip(xs.drop(1)).forall { case (a, b) => a < b }

  test("depth knob is decision-relevant at the engine level: a level-6 change is suppressed at depth 5, emitted at 15 (r18)") {
    val deep = msg(1, "snapshot",
      bids = (1 to 20).map(i => Seq(s"${300 - i}.00", "1.0")),
      asks = (1 to 20).map(i => Seq(s"${400 + i}.00", "1.0")))
    // level 6 on the bid side (294.00): outside the top-5 slice,
    // inside the top-15 one — the knob decides the emission, not a
    // post-filter (a post-filter of the depth-15 stream would emit an
    // unchanged top-5 view here)
    val level6 = msg(2, "l2update",
      changes = Seq(Seq("buy", "294.00", "9.9")))
    val (_, at5) = BookEngine.processKey(key, OrderBook.initialState,
      Seq(deep, level6), depth = 5)
    val (_, at15) = BookEngine.processKey(key, OrderBook.initialState,
      Seq(deep, level6))
    assert(at5.flatMap(_.book).length === 1,
      "depth-5: snapshot only — the level-6 change must be suppressed")
    assert(at5.flatMap(_.book).head.bids.length === 5,
      "depth-5 book must carry exactly 5 bid levels")
    assert(at15.flatMap(_.book).length === 2,
      "depth-15: the level-6 change alters the visible slice and emits")
    assert(at15.flatMap(_.book).last.bids(5) === Level("294.00", "9.9"))
  }
}
