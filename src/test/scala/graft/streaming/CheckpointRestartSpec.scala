package graft.streaming

import java.nio.file.Files

import graft.TestSpark
import org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

/** SURVEY §5.2 #3: checkpoint restart mid-log through the real writeStream
  * path — the engine's state (change suppression, lastTradeId) must be
  * restored from the checkpoint's versioned book file (`books/<batchId>`)
  * and the parquet sink must not contain duplicates after the restart. */
class CheckpointRestartSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._
  private implicit def sqlCtx: org.apache.spark.sql.SQLContext =
    spark.sqlContext

  test("restart mid-log: suppression + gap state restored, sink exactly-once") {
    val outDir = Files.createTempDirectory("ckpt_restart_out").toString
    val ckpt = Files.createTempDirectory("ckpt_restart_ckpt").toString
    val input = MemoryStream[(Long, String)]
    val frames = input.toDF.toDF("arrival", "value")

    // leg 1: snapshot + visible delta + first trade, then STOP
    val q1 = Pipeline.start(frames, Decoders.gdax, outDir, ckpt)
    try {
      input.addData(
        1L -> """{"type": "snapshot", "product_id": "ETH-USD",
          "bids": [["300.10", "1.5"]], "asks": [["300.20", "0.9"]]}""",
        2L -> """{"type": "l2update", "product_id": "ETH-USD",
          "changes": [["buy", "300.12", "2.0"]]}""",
        3L -> """{"type": "match", "trade_id": 100, "sequence": 7,
          "time": "2017-10-15T05:10:53.700000Z", "product_id": "ETH-USD",
          "size": "0.25", "price": "300.15", "side": "buy"}""")
      q1.processAllAvailable()
    } finally q1.stop()

    // leg 2: restart from the same checkpoint on the same stream; the
    // no-op delta must stay suppressed and the gap must be measured
    // against the RESTORED lastTradeId=100
    val q2 = Pipeline.start(frames, Decoders.gdax, outDir, ckpt)
    try {
      input.addData(
        4L -> """{"type": "l2update", "product_id": "ETH-USD",
          "changes": [["buy", "300.12", "2.0"]]}""",
        5L -> """{"type": "match", "trade_id": 104, "sequence": 9,
          "time": "2017-10-15T05:10:54.700000Z", "product_id": "ETH-USD",
          "size": "0.30", "price": "300.16", "side": "sell"}""")
      q2.processAllAvailable()
    } finally q2.stop()

    val books = spark.read.parquet(s"$outDir/inside_book")
    val trades = spark.read.parquet(s"$outDir/trades")
      .orderBy("tradeId").collect()

    // books: snapshot + delta from leg 1 only — the leg-2 no-op delta was
    // suppressed by state restored across the restart; no re-emission of
    // leg-1 rows (exactly-once sink)
    assert(books.count() === 2)
    // trades: one row each, gap of 104 computed against restored id 100
    assert(trades.map(_.getAs[Long]("tradeId")).toSeq === Seq(100L, 104L))
    assert(trades.last.getAs[Long]("gapStart") === 101L)
    assert(trades.last.getAs[Long]("gapEnd") === 103L)
  }

  /** Four micro-batches over two products: snapshots, a visible and a
    * no-op delta, and trades with a gap. */
  private val fourBatches: Seq[Seq[(Long, String)]] = Seq(
    Seq(1L -> """{"type": "snapshot", "product_id": "ETH-USD",
      "bids": [["300.10", "1.5"]], "asks": [["300.20", "0.9"]]}""",
      2L -> """{"type": "snapshot", "product_id": "BTC-USD",
      "bids": [["5600.00", "0.5"]], "asks": [["5601.00", "0.7"]]}"""),
    Seq(3L -> """{"type": "l2update", "product_id": "ETH-USD",
      "changes": [["buy", "300.12", "2.0"]]}""",
      4L -> """{"type": "match", "trade_id": 100, "sequence": 7,
      "time": "2017-10-15T05:10:53.700000Z", "product_id": "ETH-USD",
      "size": "0.25", "price": "300.15", "side": "buy"}"""),
    Seq(5L -> """{"type": "l2update", "product_id": "ETH-USD",
      "changes": [["buy", "300.12", "2.0"]]}""",
      6L -> """{"type": "l2update", "product_id": "BTC-USD",
      "changes": [["sell", "5600.50", "1.1"]]}"""),
    Seq(7L -> """{"type": "match", "trade_id": 104, "sequence": 9,
      "time": "2017-10-15T05:10:54.700000Z", "product_id": "ETH-USD",
      "size": "0.30", "price": "300.16", "side": "sell"}""",
      8L -> """{"type": "match", "trade_id": 51, "sequence": 3,
      "time": "2017-10-15T05:10:55.100000Z", "product_id": "BTC-USD",
      "size": "0.01", "price": "5600.70", "side": "buy"}"""))

  /** Drain `fourBatches` through `Pipeline.start`, one query per leg: each
    * leg's batches run with the session's checkpoint file manager set to
    * the leg's class (None: unset, so `Pipeline.start` installs its own).
    * Returns the output and checkpoint dirs. */
  private def drainLegs(legs: Seq[(Option[String], Int)]): (String, String) = {
    val key = LocalFiles.CheckpointManagerKey
    val out = Files.createTempDirectory("mgr_restart_out").toString
    val ckpt = Files.createTempDirectory("mgr_restart_ckpt").toString
    val input = MemoryStream[(Long, String)]
    val prior = spark.conf.getOption(key)
    def restore(v: Option[String]): Unit =
      v.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    try {
      var next = 0
      legs.foreach { case (manager, n) =>
        restore(manager)
        val q = Pipeline.start(input.toDF.toDF("arrival", "value"),
          Decoders.gdax, out, ckpt)
        try {
          assert(spark.conf.get(key) === manager.getOrElse(
            classOf[LocalCheckpointFileManager].getName))
          fourBatches.slice(next, next + n).foreach { b =>
            input.addData(b: _*)
            q.processAllAvailable()
          }
        } finally q.stop()
        next += n
      }
    } finally restore(prior)
    (out, ckpt)
  }

  /** The newest book version of a checkpoint, without its wall-clock
    * last-write stamps. */
  private def finalBooks(ckpt: String) = {
    val newest = new java.io.File(s"$ckpt/books").listFiles()
      .filter(_.getName.forall(_.isDigit)).maxBy(_.getName.toLong)
    val in = new java.io.FileInputStream(newest)
    try BookLog.read(in, newest.toString).map { case (k, v) => k -> v.state }
    finally in.close()
  }

  test("a checkpoint restarts across checkpoint file managers: FileContext and the no-fork default, both ways") {
    val fileContext = classOf[FileContextBasedCheckpointFileManager].getName
    val (refOut, refCkpt) = drainLegs(Seq(None -> 4))
    for (legs <- Seq(Seq(None -> 2, Some(fileContext) -> 2),
        Seq(Some(fileContext) -> 2, None -> 2))) {
      val (out, ckpt) = drainLegs(legs)
      for (table <- Seq("inside_book", "trades")) {
        val want = spark.read.parquet(s"$refOut/$table")
        val got = spark.read.parquet(s"$out/$table")
        assert(got.count() === want.count(), s"$table after $legs")
        assert(got.except(want).isEmpty && want.except(got).isEmpty,
          s"$table after $legs")
      }
      assert(finalBooks(ckpt) === finalBooks(refCkpt), s"books after $legs")
    }
  }

  test("commitBatch is idempotent: a retried batchId replaces, never appends") {
    val outDir = Files.createTempDirectory("idem_out").toString
    val engineOut = BookEngine.run(Decoders.gdax(Seq(
      1L -> """{"type": "snapshot", "product_id": "ETH-USD",
        "bids": [["300.10", "1.5"]], "asks": [["300.20", "0.9"]]}""",
      2L -> """{"type": "match", "trade_id": 100, "sequence": 7,
        "time": "2017-10-15T05:10:53.700000Z", "product_id": "ETH-USD",
        "size": "0.25", "price": "300.15", "side": "buy"}""")
      .toDF("arrival", "value")))
    Pipeline.commitBatch(spark, engineOut.collect().toSeq, batchId = 0L,
      outDir, None)
    val booksOnce = spark.read.parquet(s"$outDir/inside_book").count()
    val tradesOnce = spark.read.parquet(s"$outDir/trades").count()
    // simulate the foreachBatch retry: same data, same batchId
    Pipeline.commitBatch(spark, engineOut.collect().toSeq, batchId = 0L,
      outDir, None)
    assert(spark.read.parquet(s"$outDir/inside_book").count() === booksOnce)
    assert(spark.read.parquet(s"$outDir/trades").count() === tradesOnce)
    // a NEW batchId lands in its own partition
    Pipeline.commitBatch(spark, engineOut.collect().toSeq, batchId = 1L,
      outDir, None)
    assert(spark.read.parquet(s"$outDir/trades").count() === tradesOnce * 2)

    // op 7 migrator over the sink: idempotent, never destructive — the
    // reference re-ran DROP+CREATE on every worker restart (§0.1 #4).
    // Before any data exists, registration defers instead of crashing on
    // schema inference (first-startup ordering).
    assert(Migrator.ensureTables(spark,
      "fresh_ex", s"$outDir/__nonexistent__").isEmpty)
    // an in-flight first commit (only _temporary part files) must also
    // defer: Spark's file index ignores _-prefixed paths, so CREATE TABLE
    // over them would fail schema inference
    val tmpOnly = java.nio.file.Files.createTempDirectory("mig_tmp").toString
    val tmpPart = java.nio.file.Paths.get(tmpOnly,
      "inside_book", "_temporary", "0")
    java.nio.file.Files.createDirectories(tmpPart)
    java.nio.file.Files.write(tmpPart.resolve("part-0001.snappy.parquet"),
      Array[Byte](1, 2, 3))
    assert(Migrator.ensureTables(spark, "tmp_ex", tmpOnly).isEmpty)
    // a commit that crashed before its rename leaves a real part file in
    // the hidden `.batch_id=N.tmp`: no reader sees it, the migrator
    // defers on it, and the batch's retry removes it
    val crashed = Files.createTempDirectory("crashed_commit").toString
    for (table <- Seq("inside_book", "trades"))
      spark.read.parquet(s"$outDir/$table/batch_id=0").write
        .parquet(s"$crashed/$table/.batch_id=0.tmp")
    assert(Migrator.ensureTables(spark, "crashed_ex", crashed).isEmpty)
    Pipeline.commitBatch(spark, engineOut.collect().toSeq, batchId = 1L,
      crashed, None)
    assert(spark.read.parquet(s"$crashed/trades").count() === tradesOnce)
    assert(spark.read.parquet(s"$crashed/trades")
      .filter($"batch_id" === 0).isEmpty)
    Pipeline.commitBatch(spark, engineOut.collect().toSeq, batchId = 0L,
      crashed, None)
    for (table <- Seq("inside_book", "trades")) {
      val names = new java.io.File(crashed, table).list().toSeq
      assert(!names.contains(".batch_id=0.tmp"), s"$table keeps the temp dir")
      assert(names.filter(_.startsWith("batch_id=")).sorted ===
        Seq("batch_id=0", "batch_id=1"))
      val parts = new java.io.File(s"$crashed/$table/batch_id=0").list()
        .count(_.endsWith(".parquet"))
      assert(parts === 1, s"$table/batch_id=0 holds $parts part files")
    }
    assert(spark.read.parquet(s"$crashed/trades").count() === tradesOnce * 2)
    assert(Migrator.ensureTables(spark, "test_ex", outDir).size === 2)
    val viaTable = spark.table("test_ex_trades").count()
    assert(viaTable === tradesOnce * 2)
    Migrator.ensureTables(spark, "test_ex", outDir) // restart: no-op
    assert(spark.table("test_ex_trades").count() === viaTable)
    spark.sql("DROP TABLE test_ex_inside_book")
    spark.sql("DROP TABLE test_ex_trades")
  }
}
