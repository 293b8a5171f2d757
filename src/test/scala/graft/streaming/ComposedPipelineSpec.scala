package graft.streaming

import org.scalatest.funsuite.AnyFunSuite

/** The ingest path's per-batch trade dedup (`Pipeline.dedupTradeIds`, on
  * the driver, over `StateSchemas.tradeDedupKey`): exact replays collapse,
  * distinct id-less rows survive. The streaming form over the same key,
  * `Watermarked.dedupTrades`, is covered by `WatermarkedSpec`. */
class ComposedPipelineSpec extends AnyFunSuite {

  test("batch dedupTradeIds: exact replays collapse, distinct id-less rows survive") {
    import graft.model.TradeOut
    def t(product: String, id: Long, seq: Long, price: String): TradeOut =
      TradeOut("gdax", product, seq, id, price, "1.0", "buy",
        java.sql.Timestamp.valueOf("2017-10-15 05:10:00"),
        backfilled = false, gapStart = -1L, gapEnd = -1L)
    val rows = Seq(
      t("ETH-USD", 7, 1, "300.10"),
      t("ETH-USD", 7, 1, "300.10"),   // replay of the same trade → dropped
      t("ETH-EUR", 7, 2, "250.00"),   // same id, other product → kept
      t("ETH-USD", -1, 3, "300.11"),  // salvaged, id-less
      t("ETH-USD", -1, 4, "300.12"),  // DISTINCT salvaged row → kept
      t("ETH-USD", -1, 3, "300.11"))  // exact id-less replay → dropped
    val out = Pipeline.dedupTradeIds(rows)
    assert(out.length === 4)
    assert(out.count(_.tradeId == -1L) === 2)
    assert(out.filter(_.tradeId == 7L).map(_.productId).sorted.toSeq ===
      Seq("ETH-EUR", "ETH-USD"))
  }

  test("id-less dedup surrogate: equal fills in one sequence survive when timestamps differ") {
    // r7 ADVICE: two identical partial fills (same sequence/price/volume/
    // side) are DISTINCT trades — the old surrogate collapsed them. The
    // exchange timestamp now breaks the tie; a true replay (same ts too)
    // still dedups.
    import graft.model.TradeOut
    def t(ts: String): TradeOut =
      TradeOut("gdax", "ETH-USD", 9L, -1L, "300.10", "1.0", "buy",
        java.sql.Timestamp.valueOf(ts),
        backfilled = false, gapStart = -1L, gapEnd = -1L)
    val out = Pipeline.dedupTradeIds(Seq(
      t("2017-10-15 05:10:00.100"),
      t("2017-10-15 05:10:00.250"),  // equal fill, later ts → kept
      t("2017-10-15 05:10:00.100")))  // exact replay → dropped
    assert(out.length === 2,
      s"equal fills with distinct timestamps must both survive: ${out.toSeq}")
  }
}
