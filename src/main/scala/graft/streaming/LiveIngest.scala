package graft.streaming

import org.apache.spark.sql.SparkSession

/** The reference's run commands (`python real_guac_async.py`,
  * `python polo_ws_async.py`, README.md:30-34), as one Spark application:
  * live websocket → decode → book engine → idempotent parquet sinks. This
  * is the "switch path" for a reference user — same feeds, same tables
  * (via Pipeline.legacyFlatView / Migrator), no Redis worker to run.
  *
  * Usage: runMain graft.streaming.LiveIngest <gdax|polo> <outDir> [ckptDir]
  *
  * The books live in `ckptDir/books` (one versioned file per micro-batch,
  * see [[BookLog]]); restarting with the same `ckptDir` resumes from
  * them. A checkpoint written before book state version 2 is refused —
  * start it over with a fresh `ckptDir`.
  *
  * Endpoint URLs and subscribe payloads mirror the reference
  * (real_guac_async.py:22, 138-145; polo_ws_async.py:25-26, 151-155); both
  * original endpoints are retired, so point `GRAFT_WS_URL` at a compatible
  * feed (or use ReplayDemo with a recorded frame log — the offline path).
  */
object LiveIngest {

  /** (url, subscribe payloads, decoder) per exchange adapter. */
  def adapter(exchange: String): (String, Seq[String],
      org.apache.spark.sql.DataFrame => org.apache.spark.sql.Dataset[graft.model.MarketMessage]) =
    exchange match {
      case "gdax" => (
        sys.env.getOrElse("GRAFT_WS_URL", "wss://ws-feed.gdax.com"),
        // ONE line: WebsocketSource's `subscribe` option is
        // newline-separated packets, so an embedded newline would split
        // this JSON into two invalid fragments on the wire
        Seq("""{"type": "subscribe", "product_ids": ["ETH-USD", "ETH-EUR"], "channels": ["level2", "matches"]}"""),
        Decoders.gdax)
      case "polo" => (
        sys.env.getOrElse("GRAFT_WS_URL", "wss://api2.poloniex.com"),
        // one subscribe packet per pair (polo_ws_async.py:39-40)
        Seq("""{"command": "subscribe", "channel": "BTC_ETH"}""",
          """{"command": "subscribe", "channel": "BTC_XMR"}"""),
        Decoders.polo)
      case other => throw new IllegalArgumentException(
        s"unknown exchange '$other' (expected gdax|polo)")
    }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: LiveIngest <gdax|polo> <outDir> [ckptDir]")
    val (url, subs, decode) = adapter(args(0))
    val outDir = args(1)
    val ckpt = if (args.length > 2) args(2)
      else java.nio.file.Files.createTempDirectory("graft_live_ckpt").toString

    val spark = SparkSession.builder()
      .appName(s"graft-live-${args(0)}")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val frames = spark.readStream
      .format("graft.sources.WebsocketSource")
      .option("url", url)
      .option("subscribe", subs.mkString("\n"))
      .load()
    val query = Pipeline.start(frames, decode, outDir, ckpt)
    query.awaitTermination()
  }
}
