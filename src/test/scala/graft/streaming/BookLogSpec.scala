package graft.streaming

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataOutputStream, File}
import java.nio.file.Files

import graft.TestSpark
import graft.model.{EngineOut, Level, MarketMessage}
import graft.streaming.BookLog.Keyed
import graft.streaming.OrderBook.ReplayState
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

/** The ingest path's book state ([[BookLog]]): change suppression, gap
  * state and the idle TTL across micro-batch boundaries through
  * `Pipeline.start`; a retried batch recomputing from its committed
  * predecessor; the versioned encoding; and the refusal of checkpoints
  * whose book state is not version 2. */
class BookLogSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._
  private implicit def sqlCtx: org.apache.spark.sql.SQLContext =
    spark.sqlContext

  private val snap = """{"type": "snapshot", "product_id": "ETH-USD",
    "bids": [["300.10", "1.5"]], "asks": [["300.20", "0.9"]]}"""
  private val trade100 = """{"type": "match", "trade_id": 100, "sequence": 7,
    "time": "2017-10-15T05:10:53.700000Z", "product_id": "ETH-USD",
    "size": "0.25", "price": "300.15", "side": "buy"}"""
  private val noOpDelta = """{"type": "l2update", "product_id": "ETH-USD",
    "changes": [["buy", "300.10", "1.5"]]}""" // no-op vs snapshot
  private val trade103 = """{"type": "match", "trade_id": 103, "sequence": 9,
    "time": "2017-10-15T05:10:54.700000Z", "product_id": "ETH-USD",
    "size": "0.30", "price": "300.16", "side": "sell"}"""

  private def dirs(): (String, String) =
    (Files.createTempDirectory("booklog_out").toString,
      Files.createTempDirectory("booklog_ckpt").toString)

  private def start(input: MemoryStream[(Long, String)], out: String,
      ckpt: String, idleTtl: Option[java.time.Duration] = None) =
    Pipeline.start(input.toDF.toDF("arrival", "value"), Decoders.gdax, out,
      ckpt, idleTtl = idleTtl)

  /** Two micro-batches: snapshot + trade 100, then a no-op delta + trade
    * 103 (gap 101..102). */
  private def twoBatches(input: MemoryStream[(Long, String)], out: String,
      ckpt: String): Unit = {
    val q = start(input, out, ckpt)
    try {
      input.addData(1L -> snap, 2L -> trade100)
      q.processAllAvailable()
      input.addData(3L -> noOpDelta, 4L -> trade103)
      q.processAllAvailable()
    } finally q.stop()
  }

  private def sinkRows(out: String): Seq[String] =
    Seq("inside_book", "trades").flatMap { t =>
      spark.read.parquet(s"$out/$t").collect().map(r => s"$t $r")
    }.sorted

  /** Drop batch `n`'s commit-log entry (and its checksum sidecar): the
    * state a crash between the sink write and the commit leaves. */
  private def dropCommit(ckpt: String, n: Long): Unit = {
    assert(new File(s"$ckpt/commits/$n").delete())
    new File(s"$ckpt/commits/.$n.crc").delete()
  }

  private def messages(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .map(e => String.valueOf(e.getMessage)).mkString("\n")

  test("suppression and gap state survive micro-batches") {
    val (out, ckpt) = dirs()
    twoBatches(MemoryStream[(Long, String)], out, ckpt)
    val books = spark.read.parquet(s"$out/inside_book")
      .select("bids").as[Seq[Level]].collect()
    val trades = spark.read.parquet(s"$out/trades")
      .select("tradeId", "gapStart", "gapEnd").as[(Long, Long, Long)]
      .collect().sortBy(_._1)
    // snapshot emitted once; the batch-2 no-op delta suppressed via
    // state carried across the micro-batch boundary
    assert(books.length === 1)
    assert(books.head.map(_.price) === Seq("300.10"))
    // gap 101..102 detected via lastTradeId carried in the book state
    assert(trades.map(_._1).toSeq === Seq(100L, 103L))
    assert(trades(1)._2 === 101L && trades(1)._3 === 102L)
  }

  test("idle TTL evicts a silent product's book; the next snapshot re-emits") {
    // the 100×-product story (r7 verdict ask #9): a delisted product's
    // book must not live in the checkpoint forever. With a TTL, an
    // identical snapshot after the idle window is NOT suppressed — the
    // suppression state (and the book) were evicted.
    val (out, ckpt) = dirs()
    val input = MemoryStream[(Long, String)]
    def bookCount(): Long = spark.read.parquet(s"$out/inside_book").count()
    val q = start(input, out, ckpt,
      idleTtl = Some(java.time.Duration.ofSeconds(5)))
    try {
      input.addData(1L -> snap)
      q.processAllAvailable()
      assert(bookCount() === 1)
      // within the TTL: the identical snapshot is suppressed (state live)
      input.addData(2L -> snap)
      q.processAllAvailable()
      assert(bookCount() === 1,
        "in-TTL identical snapshot must still be suppressed")
      Thread.sleep(6000) // let the 5 s TTL lapse wall-clock
      input.addData(3L -> snap)
      q.processAllAvailable()
      assert(bookCount() === 2,
        "post-TTL snapshot must re-emit: the idle book was evicted")
    } finally q.stop()
  }

  test("a retried batch recomputes from its predecessor: same sink rows") {
    val (out, ckpt) = dirs()
    val input = MemoryStream[(Long, String)]
    twoBatches(input, out, ckpt)
    val before = sinkRows(out)
    // batch 1 wrote books/1 and its sink partitions; its commit is lost
    assert(new File(s"$ckpt/books/1").exists())
    dropCommit(ckpt, 1)
    val q = start(input, out, ckpt)
    try q.processAllAvailable() finally q.stop()
    assert(q.recentProgress.exists(p => p.batchId == 1 && p.numInputRows == 2),
      "the restart must re-run batch 1")
    assert(new File(s"$ckpt/commits/1").exists())
    // folding from books/1 would drop the gap flag on 103; from empty
    // books it would re-emit the no-op delta
    assert(sinkRows(out) === before)
  }

  test("a missing predecessor version fails the batch loudly") {
    val (out, ckpt) = dirs()
    val input = MemoryStream[(Long, String)]
    twoBatches(input, out, ckpt)
    dropCommit(ckpt, 1)
    assert(new File(s"$ckpt/books/0").delete())
    new File(s"$ckpt/books/.0.crc").delete()
    val q = start(input, out, ckpt)
    val err = try intercept[Exception](q.processAllAvailable()) finally q.stop()
    assert(messages(err).contains("book state version 0 is missing"),
      messages(err))
  }

  test("versions older than minBatchesToRetain are purged") {
    val (out, ckpt) = dirs()
    val input = MemoryStream[(Long, String)]
    spark.conf.set("spark.sql.streaming.minBatchesToRetain", "2")
    val q = try start(input, out, ckpt)
      finally spark.conf.unset("spark.sql.streaming.minBatchesToRetain")
    try (0 until 5).foreach { i =>
      input.addData(i.toLong -> snap)
      q.processAllAvailable()
    } finally q.stop()
    val versions = new File(s"$ckpt/books").list()
      .filter(_.forall(_.isDigit)).map(_.toInt).sorted.toSeq
    assert(versions === Seq(2, 3, 4))
  }

  test("encoding round-trips edge states") {
    val ts = java.sql.Timestamp.valueOf("2017-10-15 05:10:53")
    def msg(msgType: String, productId: String, asks: Seq[Seq[String]],
        tradeId: Long) =
      MarketMessage("polo", "148", msgType, productId, -1L, tradeId, Nil,
        asks, Nil, tradeId, "0.032", "1.0", "buy", ts)
    // a Poloniex channel: the product name is learned from the snapshot,
    // then carried for frames that name only the channel
    val (polo, _) = BookEngine.processKey(("polo", "148"),
      OrderBook.initialState, Seq(
        msg("snapshot", "BTC_ETH", Seq(Seq("0.03200000", "2.5")), -1L),
        msg("match", "", Nil, 9394200L)))
    assert(polo.productName === "BTC_ETH" && polo.bids.isEmpty)
    val books: BookLog.Books = Map(
      // empty book, nothing emitted yet, no trade seen (lastTradeId -1)
      ("gdax", "ETH-USD") -> Keyed(OrderBook.initialState, 0L),
      // one-sided book
      ("gdax", "BTC-USD") -> Keyed(ReplayState("BTC-USD",
        List("6000.5" -> "0.1", "6000.25" -> "2"), Nil,
        Seq(Level("6000.5", "0.1")), Nil, hasEmitted = true,
        lastTradeId = 42L), 1700000000123L),
      ("polo", "148") -> Keyed(polo, Long.MaxValue))
    val bytes = new ByteArrayOutputStream()
    BookLog.write(bytes, books)
    assert(BookLog.read(new ByteArrayInputStream(bytes.toByteArray), "mem")
      === books)
    assert(BookLog.read(new ByteArrayInputStream({
      val b = new ByteArrayOutputStream()
      BookLog.write(b, Map.empty); b.toByteArray
    }), "mem") === Map.empty)
    // the version tag leads the file
    assert(bytes.toByteArray.take(4).toSeq ===
      Seq[Byte](0, 0, 0, StateSchemas.BookReplayStateVersion.toByte))
  }

  test("a v1 checkpoint (state/, no books/) is refused, naming both versions") {
    val (out, ckpt) = dirs()
    // the v1 shape: the book state in the state store of a
    // flatMapGroupsWithState query, as Pipeline.start wrote it before v2
    val input = MemoryStream[(Long, String)]
    val v1 = BookEngine.run(Decoders.gdax(input.toDF.toDF("arrival", "value")))
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (b: Dataset[EngineOut], _: Long) => b.collect(); () }
      .start()
    try {
      input.addData(1L -> snap, 2L -> trade100)
      v1.processAllAvailable()
    } finally v1.stop()
    assert(new File(s"$ckpt/state").isDirectory)
    val err = intercept[IllegalStateException](start(input, out, ckpt))
    assert(err.getMessage.contains(ckpt) &&
      err.getMessage.contains("book state version 1") &&
      err.getMessage.contains("book state version 2 only"), err.getMessage)
    assert(!new File(s"$ckpt/books").exists())
  }

  test("a book file of another version is refused at start") {
    val (out, ckpt) = dirs()
    val input = MemoryStream[(Long, String)]
    twoBatches(input, out, ckpt)
    val newest = new File(s"$ckpt/books/1")
    val b = new ByteArrayOutputStream()
    val d = new DataOutputStream(b)
    d.writeInt(3); d.writeInt(0); d.flush()
    Files.write(newest.toPath, b.toByteArray)
    new File(s"$ckpt/books/.1.crc").delete()
    val err = intercept[IllegalStateException](start(input, out, ckpt))
    assert(err.getMessage.contains(s"$ckpt/books/1") &&
      err.getMessage.contains("book state version 3") &&
      err.getMessage.contains("book state version 2 only"), err.getMessage)
  }
}
