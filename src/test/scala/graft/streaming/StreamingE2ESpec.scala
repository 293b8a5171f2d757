package graft.streaming

import java.nio.file.Files

import graft.TestSpark
import graft.model.{InsideBookUpdate, MarketMessage, TradeOut}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end Structured Streaming test (SURVEY §5.2 #3): a deterministic
  * frame log replayed through MemoryStream → decode → `Pipeline.start`
  * (the driver-side book fold) → parquet sinks, across multiple
  * micro-batches, asserting exact golden emissions (change suppression +
  * state continuity + gap detection through the real writeStream path). */
class StreamingE2ESpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._
  private implicit def sqlCtx: org.apache.spark.sql.SQLContext =
    spark.sqlContext

  private val outDir = Files.createTempDirectory("e2e_out").toString

  private def startQuery(stream: MemoryStream[(Long, String)], name: String,
      decode: DataFrame => Dataset[MarketMessage] = Decoders.gdax)
      : StreamingQuery =
    Pipeline.start(stream.toDF.toDF("arrival", "value"), decode,
      s"$outDir/$name", Files.createTempDirectory(s"${name}_ckpt").toString)

  private def sinkBooks(name: String): Array[InsideBookUpdate] =
    spark.read.parquet(s"$outDir/$name/inside_book")
      .select("exchange", "productId", "sequence", "bids", "asks")
      .as[InsideBookUpdate].collect()

  private def sinkTrades(name: String): Array[TradeOut] =
    spark.read.parquet(s"$outDir/$name/trades").drop("batch_id")
      .as[TradeOut].collect()

  test("multi-batch replay: suppression and gap state survive micro-batch boundaries") {
    val input = MemoryStream[(Long, String)]
    val q = startQuery(input, "e2e_out")
    try {
      // batch 1: snapshot + visible delta + first trade
      input.addData(
        1L -> """{"type": "snapshot", "product_id": "ETH-USD",
          "bids": [["300.10", "1.5"]], "asks": [["300.20", "0.9"]]}""",
        2L -> """{"type": "l2update", "product_id": "ETH-USD",
          "changes": [["buy", "300.12", "2.0"]]}""",
        3L -> """{"type": "match", "trade_id": 100, "sequence": 7,
          "time": "2017-10-15T05:10:53.700000Z", "product_id": "ETH-USD",
          "size": "0.25", "price": "300.15", "side": "buy"}""")
      q.processAllAvailable()
      // batch 2: no-op delta (suppressed), gapped trade, second product
      input.addData(
        4L -> """{"type": "l2update", "product_id": "ETH-USD",
          "changes": [["buy", "300.12", "2.0"]]}""",
        5L -> """{"type": "match", "trade_id": 104, "sequence": 9,
          "time": "2017-10-15T05:10:54.700000Z", "product_id": "ETH-USD",
          "size": "0.30", "price": "300.16", "side": "sell"}""",
        6L -> """{"type": "snapshot", "product_id": "ETH-EUR",
          "bids": [["250.00", "1.0"]], "asks": [["250.10", "2.0"]]}""")
      q.processAllAvailable()

      val books = sinkBooks("e2e_out").sortBy(b => (b.productId, b.sequence))
      val trades = sinkTrades("e2e_out").sortBy(_.tradeId)

      // books: ETH-USD snapshot + delta (batch-2 no-op delta suppressed
      // ACROSS the micro-batch boundary), ETH-EUR snapshot
      assert(books.map(_.productId).toSeq === Seq("ETH-EUR", "ETH-USD", "ETH-USD"))
      val usd = books.filter(_.productId == "ETH-USD")
      assert(usd(0).bids.map(_.price) === Seq("300.10"))
      assert(usd(1).bids.map(_.price) === Seq("300.12", "300.10"))

      // trades: id gap detected across the batch boundary via state
      assert(trades.map(_.tradeId).toSeq === Seq(100L, 104L))
      assert(trades(0).gapStart === -1L)
      assert(trades(1).gapStart === 101L && trades(1).gapEnd === 103L)
    } finally q.stop()
  }

  test("poloniex stream: channel state resolves products across batches") {
    val input = MemoryStream[(Long, String)]
    val q = startQuery(input, "e2e_polo", Decoders.polo)
    try {
      input.addData(
        1L -> """[148, 100, [["i", {"currencyPair": "BTC_ETH",
          "orderBook": [{"0.03200000": "2.5"}, {"0.03190000": "4.0"}]}]]]""")
      q.processAllAvailable()
      // later batch: trade on the learned channel, no product in frame
      input.addData(
        2L -> """[148, 101, [["t", "9394200", 1, "5545.00000000",
          "0.00009541", 1508060546]]]""",
        3L -> """[1010]""")
      q.processAllAvailable()
      val trade = sinkTrades("e2e_polo").head
      assert(trade.productId === "BTC_ETH") // resolved from channel state
      assert(trade.volume === "0.00009541")
    } finally q.stop()
  }

  test("BookEngine.run refuses a streaming Dataset, naming Pipeline.start") {
    // regrouping per micro-batch would restart every book each batch; the
    // stream's books live in Pipeline.start's driver-side fold
    val input = MemoryStream[(Long, String)]
    val err = intercept[IllegalArgumentException] {
      BookEngine.run(Decoders.gdax(input.toDF.toDF("arrival", "value")))
    }
    assert(err.getMessage.contains("Pipeline.start"), err.getMessage)
  }
}
