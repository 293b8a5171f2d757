package graft.streaming

import org.apache.spark.sql.SparkSession

/** Example entry point: replay a small recorded frame log (GDAX + Poloniex
  * shapes from the reference protocol) through decode → book engine →
  * console, demonstrating the library's streaming surface end-to-end.
  *
  * Usage: runMain graft.streaming.ReplayDemo [frameLogPath [outDir]]
  * With no argument, replays a built-in fixture log through the batch
  * path; with a path, streams it through the websocket DSv2 source in
  * replay mode and the full Pipeline sink (parquet tables + flat view).
  */
object ReplayDemo {
  val fixtureLog: Seq[(Long, String)] = Seq(
    1L -> """{"type": "snapshot", "product_id": "ETH-USD", "bids": [["300.10", "1.5"], ["300.05", "2.0"]], "asks": [["300.20", "0.9"]]}""",
    2L -> """{"type": "l2update", "product_id": "ETH-USD", "changes": [["buy", "300.12", "2.5"], ["sell", "300.20", "0"]]}""",
    3L -> """{"type": "l2update", "product_id": "ETH-USD", "changes": [["buy", "300.12", "2.5"]]}""",
    4L -> """{"type": "match", "trade_id": 100, "sequence": 7, "time": "2017-10-15T05:10:53.700000Z", "product_id": "ETH-USD", "size": "0.25", "price": "300.15", "side": "buy"}""",
    5L -> """{"type": "match", "trade_id": 104, "sequence": 9, "time": "2017-10-15T05:10:54.700000Z", "product_id": "ETH-USD", "size": "0.30", "price": "300.16", "side": "sell"}""")

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[4]"))
      .appName("graft-replay-demo")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    if (args.nonEmpty) {
      // streaming path: websocket source (replay mode) → engine → sinks
      val outDir = if (args.length > 1) args(1)
        else java.nio.file.Files.createTempDirectory("graft_out").toString
      val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
      val stream = spark.readStream
        .format("graft.sources.WebsocketSource")
        .option("replayFile", args(0))
        .load()
      val q = Pipeline.start(stream, Decoders.gdax, outDir, ckpt)
      q.processAllAvailable()
      q.stop()
      println(s"=== $outDir/inside_book (legacy flat view) ===")
      Pipeline.legacyFlatView(spark.read.parquet(s"$outDir/inside_book"))
        .orderBy("sequence")
        .select("product_id", "sequence", "bids_1", "bids_2", "asks_1")
        .show(50, truncate = false)
      println(s"=== $outDir/trades ===")
      spark.read.parquet(s"$outDir/trades")
        .orderBy("tradeId").show(50, truncate = false)
    } else {
      val out =
        BookEngine.run(Decoders.gdax(fixtureLog.toDF("arrival", "value")))
      val (books, trades) = (out.flatMap(_.book), out.flatMap(_.trade))
      println("=== inside-book updates (change-suppressed) ===")
      books.orderBy("sequence").show(50, truncate = false)
      println("=== trades (with gap flags) ===")
      trades.orderBy("tradeId").show(50, truncate = false)
    }
    spark.stop()
  }
}
