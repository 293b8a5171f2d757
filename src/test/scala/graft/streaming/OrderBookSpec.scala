package graft.streaming

import graft.model.Level
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

/** Pure-core tests for the book engine (SURVEY §5.2 #1-2): hand-computed
  * replays + scalacheck properties over random delta sequences. */
class OrderBookSpec extends AnyFunSuite {
  import OrderBook._

  private def check(prop: Prop): Unit = {
    val res = SCTest.check(SCTest.Parameters.default, prop)
    assert(res.passed, res.status.toString)
  }

  private val snapBids =
    Seq(Seq("300.10", "1.5"), Seq("300.05", "2.0"), Seq("299.99", "0.7"))
  private val snapAsks =
    Seq(Seq("300.20", "0.9"), Seq("300.25", "3.1"), Seq("300.40", "1.0"))

  test("snapshot installs sorted, best-first on both sides") {
    val b = installSnapshot(snapBids.reverse, snapAsks.reverse) // arrival order irrelevant
    val (bids, asks) = topK(b)
    assert(bids === Seq(Level("300.10", "1.5"), Level("300.05", "2.0"),
      Level("299.99", "0.7")))
    assert(asks === Seq(Level("300.20", "0.9"), Level("300.25", "3.1"),
      Level("300.40", "1.0")))
  }

  test("l2 changes: overwrite, delete on zero size, sorted insert") {
    var b = installSnapshot(snapBids, snapAsks)
    b = applyChange(b, "buy", "300.10", "2.5")   // overwrite
    b = applyChange(b, "sell", "300.20", "0")    // delete best ask
    b = applyChange(b, "buy", "300.07", "1.1")   // insert mid-book
    val (bids, asks) = topK(b)
    assert(bids === Seq(Level("300.10", "2.5"), Level("300.07", "1.1"),
      Level("300.05", "2.0"), Level("299.99", "0.7")))
    assert(asks === Seq(Level("300.25", "3.1"), Level("300.40", "1.0")))
  }

  test("null cells, null level lists, null side: dropped, never NPE") {
    // BigDecimal(null) throws NPE, not NumberFormatException — a truncated
    // frame decoding to null cells must drop the level/change, not kill
    // the stream (the crash class the decoder fuzz documents as fixed)
    val b = installSnapshot(
      Seq(Seq("300.10", "1.5"), Seq(null, "2.0"), Seq("300.05", null), null),
      null)
    assert(b.bids.size === 1 && b.asks.isEmpty)
    assert(applyChange(b, null, "300.10", "0") === b)    // null side: dropped
    assert(applyChange(b, "sell", null, "1") === b)      // null price: dropped
    assert(applyChange(b, "buy", "300.10", null) === b)  // null size: dropped
    // and an unknown side must not silently mutate the ASK book
    assert(applyChange(b, "bid", "1.00", "1.0") === b)
  }

  test("thin book: topK returns actual depth (no IndexError analogue, §0.1 #6)") {
    val b = installSnapshot(Seq(Seq("1.00", "1")), Seq.empty)
    val (bids, asks) = topK(b)
    assert(bids.length === 1 && asks.isEmpty)
  }

  test("decimal fidelity: 8-dp strings round-trip through the book") {
    var b = emptyBook
    b = applyChange(b, "buy", "5545.00000000", "0.00009541")
    val (bids, _) = topK(b)
    assert(encodeLevel(bids.head) === "0.00009541@5545.00000000")
  }

  test("scale-insensitive price keys: 300.1 and 300.10 are one level") {
    var b = emptyBook
    b = applyChange(b, "buy", "300.10", "1.0")
    b = applyChange(b, "buy", "300.1", "2.0")
    // one level, updated size; the first-seen price rendering is kept
    // (TreeMap updates an ordering-equal key in place)
    assert(topK(b)._1 === Seq(Level("300.10", "2.0")))
  }

  test("gap detection: first trade initializes, jumps flag exclusive range") {
    assert(detectGap(-1L, 12345L).isEmpty)
    assert(detectGap(12345L, 12346L).isEmpty)
    assert(detectGap(12345L, 12349L) === Some((12346L, 12348L)))
  }

  // --- properties ---

  private val priceGen = Gen.chooseNum(1, 999).map(n => s"$n.${n % 100}0")
  private val sizeGen = Gen.oneOf(Gen.const("0"),
    Gen.chooseNum(1, 99).map(n => s"$n.5"))
  private val changeGen = for {
    side <- Gen.oneOf("buy", "sell")
    p <- priceGen
    s <- sizeGen
  } yield (side, p, s)

  test("property: replay equals last-write-wins map, sorted, no zero levels") {
    check(Prop.forAll(Gen.listOf(changeGen)) { changes =>
      val b = changes.foldLeft(emptyBook) { case (acc, (side, p, s)) =>
        applyChange(acc, side, p, s)
      }
      val expect = changes.foldLeft(
        Map.empty[(String, BigDecimal), String]) { case (m, (side, p, s)) =>
        if (BigDecimal(s).signum == 0) m - ((side, BigDecimal(p)))
        else m + ((side, BigDecimal(p)) -> s)
      }
      val bidsOk = b.bids.toList ==
        expect.collect { case ((s, p), v) if s == "buy" => p -> v }
          .toList.sortBy(_._1).reverse
      val asksOk = b.asks.toList ==
        expect.collect { case ((s, p), v) if s == "sell" => p -> v }
          .toList.sortBy(_._1)
      bidsOk && asksOk
    })
  }

  test("property: bids strictly descending, asks strictly ascending") {
    check(Prop.forAll(Gen.listOf(changeGen)) { changes =>
      val b = changes.foldLeft(emptyBook) { case (acc, (side, p, s)) =>
        applyChange(acc, side, p, s)
      }
      val bids = b.bids.keys.toList
      val asks = b.asks.keys.toList
      bids == bids.sorted.reverse && asks == asks.sorted &&
        bids.distinct == bids && asks.distinct == asks
    })
  }
}
