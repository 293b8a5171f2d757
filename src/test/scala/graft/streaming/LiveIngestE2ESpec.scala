package graft.streaming

import java.nio.file.Files

import graft.TestSpark
import graft.sources.WsTestServer
import org.scalatest.funsuite.AnyFunSuite

/** The reference user's switch path, live: `LiveIngest`'s exact wiring —
  * websocket source (url + subscribe) → gdax decoder → stateful book
  * engine → idempotent parquet sinks — driven end-to-end against an
  * in-process websocket server, including a mid-stream connection drop.
  * (LiveIngest.main itself only parses args and awaits termination; the
  * wiring under test here is everything it starts.) */
class LiveIngestE2ESpec extends AnyFunSuite {
  import TestSpark.spark

  private val frames = Seq(
    """{"type": "snapshot", "product_id": "ETH-USD", "bids": [["300.10", "1.5"]], "asks": [["300.20", "0.9"]]}""",
    """{"type": "l2update", "product_id": "ETH-USD", "changes": [["buy", "300.12", "2.0"]]}""",
    """{"type": "match", "trade_id": 100, "sequence": 7, "time": "2017-10-15T05:10:53.700000Z", "product_id": "ETH-USD", "size": "0.25", "price": "300.15", "side": "buy"}""")

  private val lateFrame =
    """{"type": "match", "trade_id": 104, "sequence": 9, "time": "2017-10-15T05:10:54.700000Z", "product_id": "ETH-USD", "size": "0.30", "price": "300.16", "side": "sell"}"""

  private def await(cond: => Boolean, what: String,
      timeoutMs: Long = 30000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!cond && System.currentTimeMillis() < deadline) Thread.sleep(200)
    assert(cond, s"timed out waiting for $what")
  }

  test("live ingest, poloniex adapter: channel state resolves products over the wire") {
    val server = new WsTestServer
    val out = Files.createTempDirectory("live_polo_out").toString
    val ckpt = Files.createTempDirectory("live_polo_ckpt").toString
    try {
      // real polo frames are single-line JSON (the WAL is newline-framed)
      server.push(Seq(
        """[148, 100, [["i", {"currencyPair": "BTC_ETH", "orderBook": [{"0.03200000": "2.5"}, {"0.03190000": "4.0"}]}]]]""",
        """[148, 101, [["t", "9394200", 1, "5545.00000000", "0.00009541", 1508060546]]]""",
        """[1010]"""))
      val (_, subs, decode) = LiveIngest.adapter("polo")
      val q = Pipeline.start(
        spark.readStream
          .format("graft.sources.WebsocketSource")
          .option("url", server.url)
          .option("subscribe", subs.mkString("\n"))
          .load(),
        decode, out, ckpt)
      try {
        def trades = scala.util.Try(
          spark.read.parquet(s"$out/trades").count()).getOrElse(0L)
        await(trades >= 1, "polo trade in sink")
        val t = spark.read.parquet(s"$out/trades").collect().head
        // product resolved from the channel id learned in an EARLIER frame
        assert(t.getAs[String]("productId") === "BTC_ETH")
        assert(t.getAs[String]("volume") === "0.00009541")
        assert(t.getAs[String]("exchange") === "polo")
      } finally q.stop()
    } finally server.close()
  }

  test("live ingest restart: engine state and sink exactly-once survive a stop/start") {
    val server = new WsTestServer
    val out = Files.createTempDirectory("live_restart_out").toString
    val ckpt = Files.createTempDirectory("live_restart_ckpt").toString
    try {
      val (_, subs, decode) = LiveIngest.adapter("gdax")
      def startQuery() = Pipeline.start(
        spark.readStream
          .format("graft.sources.WebsocketSource")
          .option("url", server.url)
          .option("subscribe", subs.mkString("\n"))
          .option("maxFramesPerTrigger", "2")
          .load(),
        decode, out, ckpt)
      def trades = scala.util.Try(
        spark.read.parquet(s"$out/trades").count()).getOrElse(0L)

      server.push(frames)
      val q1 = startQuery()
      try await(trades >= 1, "pre-restart trade") finally q1.stop()

      // the feed moves on while the app is down
      server.push(Seq(lateFrame))
      val q2 = startQuery()
      try {
        await(trades >= 2, "post-restart trade")
        val t = spark.read.parquet(s"$out/trades")
        // exactly-once across the restart: both trades, no duplicates
        assert(t.select("tradeId").collect().map(_.getLong(0)).sorted
          === Array(100L, 104L))
        // and the gap flags prove the engine's lastTradeId state was
        // RESTORED from the checkpoint, not reinitialized: a fresh engine
        // would treat 104 as its first trade (no gap)
        assert(t.filter("tradeId = 104 AND gapStart = 101 AND gapEnd = 103")
          .count() === 1)
      } finally q2.stop()
    } finally server.close()
  }

  test("live ingest wiring: websocket → decode → engine → parquet, across a reconnect") {
    val server = new WsTestServer
    val out = Files.createTempDirectory("live_ingest_out").toString
    val ckpt = Files.createTempDirectory("live_ingest_ckpt").toString
    try {
      server.push(frames)
      val (_, subs, decode) = LiveIngest.adapter("gdax")
      val stream = spark.readStream
        .format("graft.sources.WebsocketSource")
        .option("url", server.url)
        .option("subscribe", subs.mkString("\n"))
        .option("maxFramesPerTrigger", "2")
        .load()
      val q = Pipeline.start(stream, decode, out, ckpt)
      try {
        def trades = scala.util.Try(
          spark.read.parquet(s"$out/trades").count()).getOrElse(0L)
        def books = scala.util.Try(
          spark.read.parquet(s"$out/inside_book").count()).getOrElse(0L)
        await(trades >= 1 && books >= 2, "first batch of sink rows")
        // feed drop mid-stream: reconnect (1s backoff), then the late trade
        server.kill()
        server.push(Seq(lateFrame))
        await(trades >= 2, "post-reconnect trade")
        val t = spark.read.parquet(s"$out/trades")
        assert(t.select("tradeId").collect().map(_.getLong(0)).sorted
          === Array(100L, 104L))
        // the missing ids 101..103 between the two matches must be flagged
        assert(t.filter("tradeId = 104 AND gapStart = 101 AND gapEnd = 103")
          .count() === 1)
      } finally q.stop()
    } finally server.close()
  }

  test("adapter subscribe payloads are single-line (the source splits the option on newline)") {
    for (ex <- Seq("gdax", "polo"); p <- LiveIngest.adapter(ex)._2) {
      assert(!p.contains("\n"), s"$ex payload would fragment on the wire: $p")
      // and each payload is one complete JSON object
      assert(p.trim.startsWith("{") && p.trim.endsWith("}"))
    }
  }
}
