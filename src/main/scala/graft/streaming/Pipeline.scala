package graft.streaming

import scala.collection.mutable

import graft.model.{EngineOut, InsideBookUpdate, MarketMessage, TradeOut}
import graft.sources.Backfill
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID}
import org.apache.hadoop.mapreduce.lib.output.FileOutputCommitter
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** End-to-end wiring (SURVEY §3.1-3.3 Spark shape): frame stream → decoder
  * → book engine → parquet sinks, plus the legacy flat view and CSV
  * export (reference ops 5, 7, 8).
  *
  * The reference's Redis/arq process boundary dissolves into the
  * micro-batch boundary (§1.1): one foreachBatch commit per trigger writes
  * both tables — no per-row connections, no external queue. Like the
  * reference's append from the process that holds the row, each batch's
  * rows are written from the driver that holds them: the decode collect
  * is the batch's only Spark job, and the sinks run no write job. Every
  * batch_id-partitioned table — these sinks, and the canonical table of
  * [[CurationStream.startCanonicalSink]] with its compacted base — is
  * committed through one temp-and-rename protocol, [[commitPartition]].
  */
object Pipeline {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Legacy flat view of the inside book (schema/gdax_schema.sql:8-41):
    * server_datetime (stamped at view/write time, as the reference stamped
    * emission time — real_guac_async.py:100), product_id, bids_1..15,
    * asks_1..15 with "volume@price" cells, null-padded to exactly 15 per
    * side (SURVEY §0.1 #6 fixed) — plus exchange and sequence, which the
    * reference encoded in the table NAME and dropped respectively. */
  def legacyFlatView(books: DataFrame): DataFrame = {
    val cells =
      (1 to 15).map(i => expr(
        s"""CASE WHEN size(bids) >= $i
            THEN concat(bids[${i - 1}].size, '@', bids[${i - 1}].price)
            END""").as(s"bids_$i")) ++
      (1 to 15).map(i => expr(
        s"""CASE WHEN size(asks) >= $i
            THEN concat(asks[${i - 1}].size, '@', asks[${i - 1}].price)
            END""").as(s"asks_$i"))
    books.select(
      (Seq(current_timestamp().as("server_datetime"), col("exchange"),
        col("productId").as("product_id"), col("sequence")) ++ cells): _*)
  }

  /** Trade-id dedup with the CORRECT key ([[StateSchemas.tradeDedupKey]]):
    * exchange trade ids are per-product counters (an ETH-USD id can equal
    * an ETH-EUR id), so the key is (exchange, productId, tradeId); the
    * id-less sentinel rows (tradeId = -1, e.g. truncated frames the decoder
    * salvaged) extend the key with a content surrogate — distinct salvaged
    * trades never collapse, exact replays still dedup. The first row of a
    * key wins, so callers put live rows ahead of backfilled ones. */
  private[graft] def dedupTradeIds(trades: Seq[TradeOut]): Seq[TradeOut] = {
    val seen = mutable.HashSet.empty[(String, String, Long, String)]
    trades.filter(t => seen.add(StateSchemas.tradeDedupKey(t)))
  }

  /** Settle one micro-batch's engine rows on the driver: the inside-book
    * rows, and the trades deduped — with a fetcher, every flagged gap
    * filled first. Shared by both sinks. */
  private[graft] def settle(rows: Seq[EngineOut],
      fetcher: Option[Backfill.TradeFetcher])
      : (Seq[InsideBookUpdate], Backfill.Reconciled) = {
    val live = rows.flatMap(_.trade)
    (rows.flatMap(_.book), fetcher match {
      case Some(f) => Backfill.reconcileBatch(live, f) // op 22-23
      case None => Backfill.Reconciled(dedupTradeIds(live), Nil)
    })
  }

  /** Start the ingest pipeline for one exchange feed: a stateless
    * Structured Streaming query, `decode(frames)` into `foreachBatch`,
    * whose micro-batches write to `<outDir>/inside_book` and
    * `<outDir>/trades` (trade rows deduped by id within each batch —
    * replayed frames can't double-insert, fixing §0.1's backfill
    * duplication for free).
    *
    * Each micro-batch collects its decoded messages and folds them per
    * (exchange, channel) through [[BookEngine.processKey]] on the driver,
    * from the book state after the previous batch ([[BookLog]]: in memory,
    * checkpointed as one versioned file per batch under
    * `<checkpointDir>/books`); the engine rows then go to [[commitBatch]],
    * which writes both tables from the driver with no write job — the
    * collect is the batch's one Spark job.
    * The collect is bounded: at most `maxFramesPerTrigger` frames (default
    * 10,000) are admitted per batch, and the websocket source already
    * holds them on the driver, so the messages and the engine rows (at
    * most one per message) add no new memory bound.
    *
    * Sink idempotence: foreachBatch is at-least-once — a batch that fails
    * after a partial write is retried with the SAME batchId, recomputed
    * from the committed predecessor's books. Each table's rows for a batch
    * live in their own static partition directory `batch_id=N`, and a
    * commit replaces exactly that path ([[commitPartition]], through a
    * hidden `.batch_id=N.tmp`): the retry replaces its own partition, never
    * duplicating or touching earlier batches — exactly-once at the table
    * level.
    *
    * Files on `file:` paths are created without a forked process per
    * file. Unless the caller has set
    * `spark.sql.streaming.checkpointFileManagerClass`, this sets it to
    * [[LocalCheckpointFileManager]] before the book log opens and the query
    * starts ([[LocalFiles.useCheckpointManager]]), so Spark's `offsets/`,
    * `commits/` and `metadata` and the book log's `books/N` go through it;
    * the sinks write through [[LocalFiles.conf]]. Bytes, names (`.crc`
    * included) and modes are those of Hadoop's local filesystem.
    *
    * `idleTtl` evicts a key silent for longer than the TTL before a batch
    * folds (see [[BookLog]]). A checkpoint whose book state is not
    * [[StateSchemas.BookReplayStateVersion]] — a v1 state-store checkpoint
    * included — is refused here, before the query starts. */
  def start(frames: DataFrame, decode: DataFrame => Dataset[MarketMessage],
      outDir: String, checkpointDir: String,
      fetcher: Option[Backfill.TradeFetcher] = None,
      trigger: Option[org.apache.spark.sql.streaming.Trigger] = None,
      idleTtl: Option[java.time.Duration] = None): StreamingQuery = {
    LocalFiles.useCheckpointManager(frames.sparkSession)
    val books = BookLog.open(frames.sparkSession, checkpointDir, idleTtl)
    val writer = decode(frames)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[MarketMessage], batchId: Long) =>
        commitBatch(batch.sparkSession,
          books.fold(batch.collect().toSeq, batchId), batchId, outDir, fetcher)
      }
    trigger.foreach(writer.trigger)
    writer.start()
  }

  /** One micro-batch commit of the engine's rows — public so idempotence
    * is directly testable: re-running the same (rows, batchId) leaves the
    * tables unchanged.
    *
    * Gap backfill and trade dedup happen on the rows ([[settle]]). Each
    * table is then written on the driver, with no plan and no Spark job,
    * as ONE part file plus `_SUCCESS` replacing its static
    * `<outDir>/<table>/batch_id=<batchId>` path — the partition layout
    * readers and [[Migrator.ensureTables]] discover ([[writePartition]]).
    * A gap the history could not fully fill is logged, one WARN line per
    * gap. */
  def commitBatch(spark: SparkSession, rows: Seq[EngineOut], batchId: Long,
      outDir: String, fetcher: Option[Backfill.TradeFetcher]): Unit = {
    val (books, reconciled) = settle(rows, fetcher)
    reconciled.gaps.filter(_.result.stillMissing.nonEmpty).foreach { g =>
      log.warn(s"batch $batchId: gap ${g.exchange} ${g.productId} " +
        s"[${g.gapStart}, ${g.gapEnd}] left " +
        s"${g.result.stillMissing.size} trade ids unfilled after " +
        s"${g.result.pagesFetched} pages")
    }
    writePartition(spark, bookEncoder, books, s"$outDir/inside_book", batchId)
    writePartition(spark, tradeEncoder, reconciled.trades, s"$outDir/trades",
      batchId)
  }

  private val bookEncoder = ExpressionEncoder[InsideBookUpdate]()
  private val tradeEncoder = ExpressionEncoder[TradeOut]()

  /** Write `rows` as the one partition `<tableDir>/batch_id=<batchId>`
    * from the driver ([[commitPartition]]), through the
    * `OutputWriterFactory` Spark's own file writer uses — configured from
    * the session's SQL conf (codec, timestamp type, rebase mode) — with no
    * plan and no job: one part file and an empty `_SUCCESS`. */
  private def writePartition[T](spark: SparkSession,
      encoder: ExpressionEncoder[T], rows: Seq[T], tableDir: String,
      batchId: Long): Unit =
    commitPartition(spark, tableDir, batchId) { (fs, tmp) =>
      val job = Job.getInstance(fs.getConf)
      val factory = new ParquetFileFormat()
        .prepareWrite(spark, job, Map.empty, encoder.schema)
      val context = new TaskAttemptContextImpl(job.getConfiguration,
        new TaskAttemptID())
      val file = new Path(tmp, s"part-00000-${java.util.UUID.randomUUID}" +
        s"-c000${factory.getFileExtension(context)}")
      val writer = factory.newInstance(file.toString, encoder.schema, context)
      val toRow = encoder.createSerializer()
      try rows.foreach(r => writer.write(toRow(r))) finally writer.close()
      fs.create(new Path(tmp, FileOutputCommitter.SUCCEEDED_FILE_NAME)).close()
    }

  /** The one commit of every batch_id-partitioned table — the ingest sinks,
    * the canonical table and its compacted base: `fill` writes the
    * partition's files into the hidden sibling `.batch_id=<batchId>.tmp`
    * (Spark's file index and [[Migrator.ensureTables]] skip `.` names),
    * which then replaces `<tableDir>/batch_id=<batchId>`: delete, then
    * rename. A retry deletes a leftover temp directory first, so a crashed
    * commit's files are never read and are removed by its retry; a crash
    * between the delete and the rename leaves the partition missing until
    * the retry writes it again. `fs` is the table's filesystem over
    * [[LocalFiles.conf]]: the temp directory, and whatever `fill` creates
    * through `fs`, get Hadoop's modes without a forked `chmod` each. */
  private[streaming] def commitPartition(spark: SparkSession, tableDir: String,
      batchId: Long)(fill: (FileSystem, Path) => Unit): Unit = {
    val table = new Path(tableDir)
    val fs = table.getFileSystem(
      LocalFiles.conf(spark.sessionState.newHadoopConf()))
    val tmp = new Path(table, s".batch_id=$batchId.tmp")
    val dest = new Path(table, s"batch_id=$batchId")
    fs.delete(tmp, true)
    fill(fs, tmp)
    fs.delete(dest, true)
    if (!fs.rename(tmp, dest))
      throw new java.io.IOException(s"cannot rename $tmp to $dest")
  }

  /** Full-table CSV export with header (op 8, export_to_csv.py intent —
    * the reference's version crashed on an un-awaited coroutine,
    * SURVEY §0.1 #1). */
  def exportCsv(spark: SparkSession, tableDir: String, out: String): Unit =
    spark.read.parquet(tableDir)
      .write.mode("overwrite").option("header", "true").csv(out)
}
