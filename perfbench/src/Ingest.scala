package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.model.{InsideBookUpdate, Level, MarketMessage}
import graft.sources.Backfill
import graft.streaming.{BookEngine, Decoders, OrderBook, Pipeline}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The ingest workload (`ingest_replay`): a seeded GDAX frame log drained
  * from the websocket source's `replayFile` mode with
  * `Trigger.AvailableNow` through `Decoders.gdax` and `Pipeline.start`
  * (book engine, two parquet sinks, gap backfill against the in-process
  * history server) — the catch-up/restart case, driven from outside
  * through the engine's public entry points. Closed loop: the next
  * micro-batch starts when the previous one has committed. */
object Ingest {

  /** One data-carrying micro-batch, from its progress event. */
  final case class Batch(id: Long, startMs: Long, endMs: Long, from: Long,
      until: Long, durations: Map[String, Long], stateRows: Long,
      stateBytes: Long, stateCommitMs: Long, stateUpdateMs: Long) {
    def ms: Long = endMs - startMs
  }

  def batches(q: StreamingQuery): Seq[Batch] =
    q.recentProgress.toSeq.filter(_.numInputRows > 0).map { p =>
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.toLong }.toMap
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      val src = p.sources.head
      val st = p.stateOperators.headOption
      Batch(p.batchId, start, start + d.getOrElse("triggerExecution", 0L),
        Option(src.startOffset).map(_.trim.toLong).getOrElse(0L),
        src.endOffset.trim.toLong, d,
        st.map(_.numRowsTotal).getOrElse(0L),
        st.map(_.memoryUsedBytes).getOrElse(0L),
        st.map(_.commitTimeMs).getOrElse(0L),
        st.map(_.allUpdatesTimeMs).getOrElse(0L))
    }

  private def drain(spark: SparkSession, log: String, framesPerTrigger: Int,
      out: String, ckpt: String, fetcher: TimedFetcher): StreamingQuery = {
    val frames = spark.readStream.format("graft.sources.WebsocketSource")
      .option("replayFile", log)
      .option("maxFramesPerTrigger", framesPerTrigger.toString)
      .load()
    val q = Pipeline.start(frames, Decoders.gdax, out, ckpt,
      fetcher = Some(fetcher), trigger = Some(Trigger.AvailableNow()))
    q.awaitTermination()
    q
  }

  def run(spark: SparkSession, work: String, framesPerTrigger: Int,
      counters: SparkCounters, timedStart: () => Unit): PerfBench.Outcome = {
    val tracer = PerfBench.tracer
    val history = new HistoryServer(s"$work/history.jsonl")
    val fetcher = new TimedFetcher(history.baseUrl)
    // Set-up: a log of the same shape through the whole pipeline, and one
    // page from the history server, so the timed drain does not pay first
    // use: code generation, class loading, the REST client.
    drain(spark, s"$work/warm.log", framesPerTrigger, s"$work/warm_out",
      s"$work/warm_ckpt", fetcher)
    new Backfill.RestTradeFetcher(history.baseUrl).fetchPage("P00-USD", 0L, 1)
    history.reset()
    TimedFetcher.fetchNs.set(0)
    counters.synchronized(counters.scanStageTasks.clear())

    timedStart()
    val q = drain(spark, s"$work/frames.log", framesPerTrigger, s"$work/out",
      s"$work/ckpt", fetcher)
    val bs = batches(q)
    history.stop()
    val (wrong, checked, problems) = check(spark, work, history.served, tracer)

    val frames = bs.last.until - bs.head.from
    val times = bs.map(_.ms.toDouble)
    val e2e = Map(
      "throughput_per_s" -> frames * 1000.0 / (bs.last.endMs - bs.head.startMs),
      "latency_p50_ms" -> PerfBench.quantile(times, 0.5),
      "latency_tail_ms" -> PerfBench.quantile(times, 0.9))

    bs.foreach { b =>
      tracer.add("streaming.Pipeline.batch", s"batch-${b.id}", b.startMs, b.endMs)
    }
    val (files1, bytes1) = sinkFiles(s"$work/out/inside_book")
    val (files2, bytes2) = sinkFiles(s"$work/out/trades")
    val scans = counters.synchronized(counters.scanStageTasks.toList)
    def sum(k: String) = bs.map(_.durations.getOrElse(k, 0L)).sum.toDouble
    val missing = checked("missing_ids")
    val layers = Map(
      "sources.WebsocketSource.latest_offset_ms" -> sum("latestOffset"),
      "sources.WebsocketSource.scan_tasks" ->
        (if (scans.isEmpty) 0.0 else scans.sum.toDouble / scans.size),
      "streaming.Decoders.decode_ms" -> checked("decode_ms"),
      "streaming.Decoders.rows_in" -> checked("rows_in"),
      "streaming.Decoders.rows_out" -> checked("rows_out"),
      "streaming.BookEngine.single_thread_fps" -> checked("single_thread_fps"),
      "streaming.BookEngine.state_rows" -> bs.last.stateRows.toDouble,
      "streaming.BookEngine.state_bytes" -> bs.map(_.stateBytes).max.toDouble,
      "streaming.BookEngine.state_commit_ms" -> bs.map(_.stateCommitMs).sum.toDouble,
      "streaming.BookEngine.state_update_ms" -> bs.map(_.stateUpdateMs).sum.toDouble,
      "streaming.BookEngine.book_rows_out" -> checked("book_rows_out"),
      "streaming.BookEngine.emit_ratio" -> checked("emit_ratio"),
      "streaming.Pipeline.add_batch_ms" -> sum("addBatch"),
      "streaming.Pipeline.offset_log_ms" -> (sum("walCommit") + sum("commitOffsets")),
      "streaming.Pipeline.sink_files" -> (files1 + files2).toDouble,
      "streaming.Pipeline.sink_bytes" -> (bytes1 + bytes2).toDouble,
      "sources.Backfill.gaps" -> checked("gaps"),
      "sources.Backfill.requests" -> history.requests.toDouble,
      "sources.Backfill.pages" -> history.pages.toDouble,
      "sources.Backfill.retries" -> history.retries.toDouble,
      "sources.Backfill.filled" -> checked("filled"),
      "sources.Backfill.fill_ratio" -> (if (missing > 0) checked("filled") / missing else 1.0),
      "sources.Backfill.fetch_ms" -> TimedFetcher.fetchNs.get() / 1e6)
    PerfBench.Outcome(e2e, layers, frames, wrong, problems, Seq(
      "frames" -> frames.toString,
      "frames_per_trigger" -> framesPerTrigger.toString,
      "batches" -> bs.size.toString,
      "batch_ms" -> bs.map(_.ms).mkString("[", ",", "]"),
      "tail" -> Json.str("p90 of micro-batch triggerExecution")))
  }

  /** (files, bytes) of the parquet data files under a sink directory. */
  def sinkFiles(dir: String): (Long, Long) = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) (0L, 0L)
    else {
      val s = Files.walk(root)
      try {
        val fs = s.iterator().asScala
          .filter(_.getFileName.toString.endsWith(".parquet")).toList
        (fs.size.toLong, fs.map(Files.size).sum)
      } finally s.close()
    }
  }

  /** Output checks, and the single-threaded baseline they need.
    *
    *  - Each product's final inside book in the `inside_book` sink equals
    *    the final book of `BookEngine.processKey` folded over the same
    *    frames on one thread.
    *  - Every trade id of the log, and every id the history server holds
    *    inside a product's traded range, is in `trades` exactly once.
    *
    * Returns (wrong items, counters, what was wrong). */
  def check(spark: SparkSession, work: String, served: Map[String, Seq[Long]],
      tracer: Tracer): (Long, Map[String, Double], Seq[String]) = {
    import spark.implicits._
    val lines = Files.readAllLines(Paths.get(s"$work/frames.log")).asScala
      .filter(_.nonEmpty).toIndexedSeq
    val framesDf: DataFrame = lines.zipWithIndex
      .map { case (l, i) => (i.toLong, l) }.toDF("arrival", "value")
    val t0 = System.nanoTime()
    val msgs: Array[MarketMessage] =
      tracer.span("streaming.Decoders.gdax", "check")(Decoders.gdax(framesDf).collect())
    val decodeMs = (System.nanoTime() - t0) / 1e6

    val t1 = System.nanoTime()
    val folded = tracer.span("streaming.BookEngine.processKey", "check") {
      msgs.groupBy(m => (m.exchange, m.channel)).toSeq.map { case (k, ms) =>
        BookEngine.processKey(k, OrderBook.initialState, ms.toSeq)._2
      }
    }
    val foldS = (System.nanoTime() - t1) / 1e9
    val expectBook: Map[String, (Seq[Level], Seq[Level])] = folded.flatMap { outs =>
      outs.flatMap(_.book).lastOption.map(b => b.productId -> ((b.bids, b.asks)))
    }.toMap

    val problems = mutable.ArrayBuffer.empty[String]
    val sinkBooks = spark.read.parquet(s"$work/out/inside_book")
      .select("exchange", "productId", "sequence", "bids", "asks")
      .as[InsideBookUpdate].collect()
    val lastBook = sinkBooks.groupBy(_.productId).map { case (p, bs) =>
      p -> bs.maxBy(_.sequence)
    }
    var wrong = 0L
    (expectBook.keySet ++ lastBook.keySet).toSeq.sorted.foreach { p =>
      if (lastBook.get(p).map(b => (b.bids, b.asks)) != expectBook.get(p)) {
        wrong += 1
        problems += s"final book of $p differs from the single-threaded fold"
      }
    }

    val trades = spark.read.parquet(s"$work/out/trades")
      .select("productId", "tradeId", "backfilled", "gapStart")
      .as[(String, Long, Boolean, Long)].collect()
    val logIds = msgs.filter(_.msgType == "match")
      .groupBy(_.productId).map { case (p, ms) => p -> ms.map(_.tradeId).toSet }
    val fillable = logIds.map { case (p, ids) =>
      p -> served.getOrElse(p, Nil).filter(i => i > ids.min && i < ids.max).toSet
    }
    val expected = logIds.toSeq.flatMap { case (p, ids) =>
      (ids ++ fillable(p)).map(p -> _)
    }.toSet
    val counts = trades.groupBy(t => (t._1, t._2)).map { case (k, v) => k -> v.length }
    val dups = counts.count(_._2 > 1).toLong
    val missing = (expected -- counts.keySet).size.toLong
    val extra = (counts.keySet -- expected).size.toLong
    if (dups > 0) problems += s"$dups trade ids appear more than once"
    if (missing > 0) problems += s"$missing trade ids are missing"
    if (extra > 0) problems += s"$extra trade ids were never generated"
    wrong += dups + missing + extra

    val counters = Map(
      "decode_ms" -> decodeMs,
      "rows_in" -> lines.size.toDouble,
      "rows_out" -> msgs.length.toDouble,
      "single_thread_fps" -> lines.size / foldS,
      "book_rows_out" -> sinkBooks.length.toDouble,
      "emit_ratio" -> sinkBooks.length / msgs.count(_.msgType != "match").toDouble,
      "gaps" -> trades.count(_._4 >= 0).toDouble,
      "filled" -> trades.count(_._3).toDouble,
      "missing_ids" -> fillable.values.map(_.size).sum.toDouble)
    (wrong, counters, problems.toSeq)
  }
}
