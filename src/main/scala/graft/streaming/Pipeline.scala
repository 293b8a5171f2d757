package graft.streaming

import scala.collection.mutable

import graft.model.{EngineOut, InsideBookUpdate, MarketMessage, TradeOut}
import graft.sources.Backfill
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** End-to-end wiring (SURVEY §3.1-3.3 Spark shape): frame stream → decoder
  * → book engine → parquet sinks, plus the legacy flat view and CSV
  * export (reference ops 5, 7, 8).
  *
  * The reference's Redis/arq process boundary dissolves into the
  * micro-batch boundary (§1.1): one foreachBatch commit per trigger writes
  * both tables — no per-row connections, no external queue.
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
    * `<checkpointDir>/books`); the engine rows then go to [[commitBatch]].
    * The collect is bounded: at most `maxFramesPerTrigger` frames (default
    * 10,000) are admitted per batch, and the websocket source already
    * holds them on the driver, so the messages and the engine rows (at
    * most one per message) add no new memory bound.
    *
    * Sink idempotence: foreachBatch is at-least-once — a batch that fails
    * after a partial write is retried with the SAME batchId, recomputed
    * from the committed predecessor's books. Each table's rows for a batch
    * live in their own static partition directory `batch_id=N`, and a
    * commit overwrites exactly that path: the retry replaces its own
    * partition, never duplicating or touching earlier batches —
    * exactly-once at the table level.
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
    * table is then written as ONE file by overwriting its static
    * `<outDir>/<table>/batch_id=<batchId>` path — the partition layout
    * readers and [[Migrator.ensureTables]] discover, with no
    * dynamic-overwrite staging. A gap the history could not fully fill is
    * logged, one WARN line per gap. */
  def commitBatch(spark: SparkSession, rows: Seq[EngineOut], batchId: Long,
      outDir: String, fetcher: Option[Backfill.TradeFetcher]): Unit = {
    import spark.implicits._
    val (books, reconciled) = settle(rows, fetcher)
    reconciled.gaps.filter(_.result.stillMissing.nonEmpty).foreach { g =>
      log.warn(s"batch $batchId: gap ${g.exchange} ${g.productId} " +
        s"[${g.gapStart}, ${g.gapEnd}] left " +
        s"${g.result.stillMissing.size} trade ids unfilled after " +
        s"${g.result.pagesFetched} pages")
    }
    def write(ds: Dataset[_], table: String): Unit =
      ds.coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$table/batch_id=$batchId")
    write(spark.createDataset(books), "inside_book")
    write(spark.createDataset(reconciled.trades), "trades")
  }

  /** Full-table CSV export with header (op 8, export_to_csv.py intent —
    * the reference's version crashed on an un-awaited coroutine,
    * SURVEY §0.1 #1). */
  def exportCsv(spark: SparkSession, tableDir: String, out: String): Unit =
    spark.read.parquet(tableDir)
      .write.mode("overwrite").option("header", "true").csv(out)

  /** Small-file compaction for a batch_id-partitioned sink table. Each
    * [[commitBatch]] already writes a batch partition as one file; tables
    * written by earlier versions of the sink hold one file per shuffle
    * partition per trigger, and at feed rates that means millions of tiny
    * files per day — the classic streaming-sink operational failure at
    * scale. Rewrites each batch_id partition into one file (hash-clustered
    * so a partition's rows land in a single task) via dynamic partition
    * overwrite, which replaces only the partitions it writes — so a
    * crashed compaction is simply re-run.
    *
    * `upToBatchId` bounds the rewrite to partitions the stream has moved
    * past: a live deployment passes lastCommittedBatch - 1 so compaction
    * can never race the sink's own retry of the ACTIVE partition (two
    * writers interleaving delete/rename in one directory is exactly the
    * corruption the batch_id isolation exists to prevent). The default
    * rewrites everything — only safe for a stopped or offline table.
    *
    * The table is materialized (lineage cut) before the overwrite because
    * Spark refuses to overwrite a path it is still reading from; on a real
    * cluster with huge partitions, write to a temp location and rename
    * instead. */
  def compact(spark: SparkSession, tableDir: String,
      upToBatchId: Long = Long.MaxValue): Unit = {
    val all = spark.read.parquet(tableDir)
    require(all.columns.contains("batch_id"),
      s"$tableDir is not a batch_id-partitioned sink table")
    val df = all.filter(col("batch_id") <= upToBatchId)
    val nParts = df.select("batch_id").distinct().count().toInt.max(1)
    // checkpoint consumed within the call — released after the write
    // instead of lingering until the ContextCleaner
    val cut = df.repartition(nParts, col("batch_id"))
      .localCheckpoint(eager = true)
    try cut.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id")
      .parquet(tableDir)
    finally graft.functions.Materialized.unpersistCheckpoint(cut)
  }
}
