package graft.sources

import java.nio.file.Files

import graft.TestSpark
import graft.model.TradeOut
import graft.streaming.{Decoders, Pipeline}
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** Websocket DSv2 source in replay mode (the CI path — SURVEY §4.3: the
  * source is the one piece that can't be oracle-checked live) + pipeline
  * sink wiring. */
class WebsocketSourceSpec extends AnyFunSuite {
  import TestSpark.spark

  private val frames = Seq(
    """{"type": "snapshot", "product_id": "ETH-USD", "bids": [["300.10", "1.5"]], "asks": [["300.20", "0.9"]]}""",
    """{"type": "l2update", "product_id": "ETH-USD", "changes": [["buy", "300.12", "2.0"]]}""",
    """{"type": "match", "trade_id": 100, "sequence": 7, "time": "2017-10-15T05:10:53.700000Z", "product_id": "ETH-USD", "size": "0.25", "price": "300.15", "side": "buy"}""",
    """{"type": "match", "trade_id": 104, "sequence": 9, "time": "2017-10-15T05:10:54.700000Z", "product_id": "ETH-USD", "size": "0.30", "price": "300.16", "side": "sell"}""")

  private def writeLog(): String = {
    val f = Files.createTempFile("frames", ".jsonl")
    Files.write(f, frames.asJava)
    f.toString
  }

  test("replay mode streams a frame log through the full pipeline") {
    import spark.implicits._
    val log = writeLog()
    val stream = spark.readStream
      .format("graft.sources.WebsocketSource")
      .option("replayFile", log)
      .load()
    val out = Files.createTempDirectory("ws_out").toString
    val q = Pipeline.start(stream, Decoders.gdax, out,
      Files.createTempDirectory("ws_out_ckpt").toString)
    try {
      q.processAllAvailable()
      assert(spark.read.parquet(s"$out/inside_book").count() === 2)
      val trades = spark.read.parquet(s"$out/trades").drop("batch_id")
        .as[TradeOut].collect().sortBy(_.tradeId)
      assert(trades.map(_.tradeId).toSeq === Seq(100L, 104L))
      assert(trades(1).gapStart === 101L)
    } finally q.stop()
  }

  test("maxFramesPerTrigger paces batches (admission control)") {
    val log = writeLog()
    val stream = spark.readStream
      .format("graft.sources.WebsocketSource")
      .option("replayFile", log)
      .option("maxFramesPerTrigger", "1")
      .load()
    var batches = 0
    val q = stream.writeStream.outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        if (b.count() > 0) batches += 1
        assert(b.count() <= 1)
        ()
      }.start()
    try {
      q.processAllAvailable()
      assert(batches === frames.length)
    } finally q.stop()
  }

  test("restart re-plan: planInputPartitions before any latestOffset pumps") {
    // Checkpoint-restart contract: Spark re-plans the last
    // planned-but-uncommitted batch on a FRESH stream instance before ever
    // calling latestOffset — the buffer must be refilled inside planning.
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    val log = writeLog()
    val ckpt = Files.createTempDirectory("ws_ckpt").toString
    val opts = new CaseInsensitiveStringMap(
      java.util.Map.of("replayFile", log))
    val fresh = new WebsocketMicroBatchStream(opts, ckpt)
    val parts = fresh.planInputPartitions(FrameOffset(1), FrameOffset(3))
    val got = parts.head.asInstanceOf[FramesPartition].frames.map(_._2).toSeq
    assert(got === frames.slice(1, 3))
    fresh.stop()
  }

  test("out-of-range replan fails with a clear error, not IndexOutOfBounds") {
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    val log = writeLog()
    val ckpt = Files.createTempDirectory("ws_ckpt2").toString
    val opts = new CaseInsensitiveStringMap(
      java.util.Map.of("replayFile", log))
    val s = new WebsocketMicroBatchStream(opts, ckpt)
    val ex = intercept[IllegalStateException] {
      s.planInputPartitions(FrameOffset(2), FrameOffset(100))
    }
    assert(ex.getMessage.contains("cannot replay"))
    s.stop()
  }

  test("restart after full commit: latestOffset never regresses below start") {
    // If the last batch was fully committed before a crash, the fresh
    // instance's pacing counter starts at 0; latestOffset must still return
    // an offset >= the engine-restored start or Spark would checkpoint a
    // regressed offset and re-emit committed frames.
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    val log = writeLog()
    val ckpt = Files.createTempDirectory("ws_ckpt3").toString
    val opts = new CaseInsensitiveStringMap(
      java.util.Map.of("replayFile", log, "maxFramesPerTrigger", "1"))
    val fresh = new WebsocketMicroBatchStream(opts, ckpt)
    val off = fresh.latestOffset(FrameOffset(3), ReadLimit.maxRows(1))
    assert(off.asInstanceOf[FrameOffset].n === 4) // start 3 + 1 paced frame
    // at end-of-log: offset stays pinned at start, never below
    val at4 = fresh.latestOffset(FrameOffset(4), ReadLimit.maxRows(1))
    assert(at4.asInstanceOf[FrameOffset].n === 4)
    fresh.stop()
  }

  test("frame WAL: append/readAll round-trips in offset order") {
    val ckpt = Files.createTempDirectory("wal_ckpt").toString
    val w = new FrameWal(ckpt)
    w.append(0, Seq("f0", "f1"))
    w.append(2, Seq("f2"))
    w.append(3, Seq("f3", "f4"))
    assert(w.readAll() === ((0L, Seq("f0", "f1", "f2", "f3", "f4"))))
    // a fresh instance (restart) sees the same log
    assert(new FrameWal(ckpt).readAll() ===
      ((0L, Seq("f0", "f1", "f2", "f3", "f4"))))
    // commit-time pruning deletes only chunks entirely below the offset;
    // replay resumes at the first surviving chunk's start
    w.pruneBelow(3) // drops [0,2) and [2,3); keeps [3,5)
    assert(new FrameWal(ckpt).readAll() === ((3L, Seq("f3", "f4"))))
    w.pruneBelow(4) // [3,5) straddles the offset — kept
    assert(new FrameWal(ckpt).readAll() === ((3L, Seq("f3", "f4"))))
    w.pruneBelow(5)
    assert(new FrameWal(ckpt).readAll() === ((0L, Seq.empty[String])))
  }

  test("frame WAL: a gap in the chunk sequence refuses to replay, not misnumber") {
    val ckpt = Files.createTempDirectory("wal_gap_ckpt").toString
    val w = new FrameWal(ckpt)
    w.append(0, Seq("f0", "f1"))
    w.append(2, Seq("f2"))
    w.append(3, Seq("f3", "f4"))
    // lose the middle chunk (manual deletion / object-store mishap): replay
    // past the gap would silently renumber f3/f4 as offsets 2/3
    val walDir = java.nio.file.Paths.get(ckpt, "graft-frame-wal")
    java.nio.file.Files.delete(walDir.resolve(f"chunk-${2}%020d-1"))
    val ex = intercept[IllegalStateException] { new FrameWal(ckpt).readAll() }
    assert(ex.getMessage.contains("gap"))
    // an INTERIOR chunk whose content was truncated is also refused —
    // its frames were exposed, so silently dropping them would misnumber
    val ckpt2 = Files.createTempDirectory("wal_trunc_ckpt").toString
    val w2 = new FrameWal(ckpt2)
    w2.append(0, Seq("g0", "g1"))
    w2.append(2, Seq("g2"))
    val chunk = java.nio.file.Paths.get(ckpt2, "graft-frame-wal")
      .resolve(f"chunk-${0}%020d-2")
    java.nio.file.Files.write(chunk, "g0\n".getBytes)
    // drop the Hadoop LocalFS checksum sidecar so the WAL's own frame-count
    // check (not the CRC) is what catches the truncation
    java.nio.file.Files.deleteIfExists(
      chunk.getParent.resolve(s".${chunk.getFileName}.crc"))
    val ex2 = intercept[IllegalStateException] { new FrameWal(ckpt2).readAll() }
    assert(ex2.getMessage.contains("name says 2"))
  }

  test("frame WAL: a torn FINAL append recovers the intact prefix, and rewrites the chunk") {
    // crash mid-append: the last chunk holds fewer complete lines than its
    // name claims; those frames were never exposed via latestOffset, so
    // recovery drops the torn tail instead of wedging every restart
    val ckpt = Files.createTempDirectory("wal_torn_ckpt").toString
    val w = new FrameWal(ckpt)
    w.append(0, Seq("h0", "h1"))
    w.append(2, Seq("h2", "h3"))
    val torn = java.nio.file.Paths.get(ckpt, "graft-frame-wal")
      .resolve(f"chunk-${2}%020d-2")
    java.nio.file.Files.write(torn, "h2\nh3-par".getBytes) // partial last line
    java.nio.file.Files.deleteIfExists(
      torn.getParent.resolve(s".${torn.getFileName}.crc"))
    assert(new FrameWal(ckpt).readAll() === ((0L, Seq("h0", "h1", "h2"))))
    // the over-claiming name was rewritten: a SECOND restart is clean too
    assert(new FrameWal(ckpt).readAll() === ((0L, Seq("h0", "h1", "h2"))))
  }

  test("frame WAL: frames with raw newlines and empty frames round-trip (escaped)") {
    // pretty-printed JSON frames and empty text frames are legal websocket
    // frames; unescaped they would corrupt the chunk line count
    val ckpt = Files.createTempDirectory("wal_esc_ckpt").toString
    val w = new FrameWal(ckpt)
    val frames = Seq("{\n  \"a\": 1\n}", "", "literal\\n backslash", "cr\rlf\n")
    w.append(0, frames)
    assert(new FrameWal(ckpt).readAll() === ((0L, frames)))
  }

  test("frame WAL: chunks without the format-v2 marker are refused, untouched") {
    // a WAL written by the pre-escape build: raw-line chunks, no format-v2
    // marker. Its checkpoint also predates the book log, so Pipeline.start
    // refuses it first; a FrameWal opened over it directly refuses too,
    // naming the directory, and deletes or rewrites nothing.
    val ckpt = Files.createTempDirectory("wal_legacy_ckpt").toString
    val walDir = java.nio.file.Paths.get(ckpt, "graft-frame-wal")
    java.nio.file.Files.createDirectories(walDir)
    val chunk = walDir.resolve(f"chunk-${0}%020d-2")
    val bytes = Seq("""{"reason":"a\\b"}""", """{"s":"x\ny"}""")
      .mkString("", "\n", "\n").getBytes
    java.nio.file.Files.write(chunk, bytes)
    def listing() = java.nio.file.Files.list(walDir).iterator().asScala
      .map(_.getFileName.toString).toSeq.sorted
    val before = listing()
    val ex = intercept[IllegalStateException] { new FrameWal(ckpt).readAll() }
    assert(ex.getMessage.contains(walDir.toString) &&
      ex.getMessage.contains("fresh checkpoint"), ex.getMessage)
    assert(listing() === before)
    assert(java.nio.file.Files.readAllBytes(chunk).toSeq === bytes.toSeq)
  }

  test("pipeline sinks: parquet tables + legacy 32-col view + csv export") {
    val log = writeLog()
    val out = Files.createTempDirectory("pipe_out").toString
    val ckpt = Files.createTempDirectory("pipe_ckpt").toString
    val stream = spark.readStream
      .format("graft.sources.WebsocketSource")
      .option("replayFile", log).load()
    val q = Pipeline.start(stream, Decoders.gdax, out, ckpt)
    try q.processAllAvailable() finally q.stop()

    val books = spark.read.parquet(s"$out/inside_book")
    val trades = spark.read.parquet(s"$out/trades")
    assert(books.count() === 2 && trades.count() === 2)

    val flat = Pipeline.legacyFlatView(books)
    assert(flat.columns.length === 34) // server_datetime, exchange, product_id, sequence + 30 cells
    assert(flat.columns.head === "server_datetime")
    val row = flat.orderBy("sequence").collect().last
    assert(row.getAs[String]("bids_1") === "2.0@300.12")
    assert(row.getAs[String]("bids_2") === "1.5@300.10")
    assert(row.getAs[String]("bids_3") === null) // null-padded past depth
    assert(row.getAs[String]("asks_15") === null)

    val csvDir = Files.createTempDirectory("csv_out").toString
    Pipeline.exportCsv(spark, s"$out/trades", csvDir)
    val csv = spark.read.option("header", "true").csv(csvDir)
    assert(csv.count() === 2 && csv.columns.contains("tradeId"))
  }
}
