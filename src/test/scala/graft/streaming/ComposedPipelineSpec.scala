package graft.streaming

import graft.TestSpark
import graft.model.EngineOut
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

/** Composition check: stateful book engine followed by watermarked trade
  * dedup in ONE streaming query. Spark allows chaining a
  * flatMapGroupsWithState with dropDuplicatesWithinWatermark only under
  * specific conditions; this spec documents the supported wiring (engine →
  * split → watermark on the trade branch → dedup) so pipeline authors
  * don't rediscover the restrictions. */
class ComposedPipelineSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._
  private implicit def sqlCtx: org.apache.spark.sql.SQLContext =
    spark.sqlContext

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

  test("engine → watermarked dedup composes in one streaming query") {
    val input = MemoryStream[(Long, String)]
    val trades = BookEngine.run(Decoders.gdax(
        input.toDF.toDF("arrival", "value")))
      .flatMap(_.trade)
    val deduped = Watermarked.dedupTrades(trades)
    val q = deduped.writeStream.outputMode("append")
      .format("memory").queryName("composed_out").start()
    try {
      val m = (id: Long) => s"""{"type": "match", "trade_id": $id,
        "sequence": $id, "time": "2017-10-15T05:10:5$id.000000Z",
        "product_id": "ETH-USD", "size": "0.25", "price": "300.15",
        "side": "buy"}"""
      input.addData(1L -> m(1), 2L -> m(2))
      q.processAllAvailable()
      input.addData(3L -> m(2), 4L -> m(3)) // re-send of id 2
      q.processAllAvailable()
      val ids = spark.table("composed_out").as[graft.model.TradeOut]
        .collect().map(_.tradeId).sorted
      assert(ids.toSeq === Seq(1L, 2L, 3L))
    } finally q.stop()
  }
}
