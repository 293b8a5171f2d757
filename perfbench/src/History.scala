package graft.perfbench

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.sources.Backfill

/** In-process GDAX-style REST trade history:
  * `GET /products/{id}/trades?after={cursor}&limit={n}` answers with up to
  * `n` trades of the product whose id is above the cursor, ascending.
  * It serves exactly the trades the log generator skipped (one JSON
  * object per line in `historyFile`) and counts what the backfill layer
  * asked of it. */
final class HistoryServer(historyFile: String) {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** product → (trade id → the trade's JSON text), ascending by id. */
  private val trades: Map[String, java.util.TreeMap[java.lang.Long, String]] = {
    val lines = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(historyFile)).asScala.toList
    lines.filter(_.nonEmpty).groupBy { l =>
      mapper.readTree(l).get("product_id").asText()
    }.map { case (p, ls) =>
      val m = new java.util.TreeMap[java.lang.Long, String]()
      ls.foreach(l => m.put(mapper.readTree(l).get("trade_id").asLong(), l))
      p -> m
    }
  }

  def served: Map[String, Seq[Long]] =
    trades.map { case (p, m) =>
      p -> m.keySet().asScala.toSeq.map(_.toLong)
    }

  var requests = 0L
  var pages = 0L
  var retries = 0L
  private val seen = mutable.HashSet.empty[(String, Long)]

  def reset(): Unit = synchronized {
    requests = 0; pages = 0; retries = 0; seen.clear()
  }

  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  server.createContext("/products/", (ex: HttpExchange) => handle(ex))
  server.start()

  def baseUrl: String = s"http://127.0.0.1:${server.getAddress.getPort}"

  private def handle(ex: HttpExchange): Unit = {
    val parts = ex.getRequestURI.getPath.split('/').filter(_.nonEmpty)
    val query = Option(ex.getRequestURI.getRawQuery).getOrElse("")
      .split('&').filter(_.contains('=')).map { kv =>
        val Array(k, v) = kv.split("=", 2); k -> v
      }.toMap
    val body =
      if (parts.length == 3 && parts(2) == "trades") {
        val product = parts(1)
        val after = query.get("after").flatMap(_.toLongOption).getOrElse(-1L)
        val limit = query.get("limit").flatMap(_.toIntOption).getOrElse(100)
        val page = trades.get(product).toSeq.flatMap { m =>
          m.tailMap(after, false).values().asScala.take(limit).toSeq
        }
        synchronized {
          requests += 1
          if (page.nonEmpty) pages += 1
          if (!seen.add((product, after))) retries += 1
        }
        page.mkString("[", ",", "]")
      } else "[]"
    val bytes = body.getBytes(UTF_8)
    ex.getResponseHeaders.add("Content-Type", "application/json")
    ex.sendResponseHeaders(200, bytes.length.toLong)
    val os = ex.getResponseBody
    try os.write(bytes) finally os.close()
  }

  def stop(): Unit = server.stop(0)
}

/** The benchmark's fetcher: the engine's own `RestTradeFetcher`, with a
  * span and a clock around every page it fetches. */
final class TimedFetcher(baseUrl: String) extends Backfill.TradeFetcher {
  private val inner = new Backfill.RestTradeFetcher(baseUrl)
  override def fetchPage(productId: String, afterId: Long,
      limit: Int): Seq[Backfill.FetchedTrade] = {
    val batch = Option(org.apache.spark.SparkContext.getOrCreate()
      .getLocalProperty("streaming.sql.batchId")).getOrElse("")
    val t0 = System.nanoTime()
    try PerfBench.tracer.span("sources.Backfill.fetchPage", s"batch-$batch")(
      inner.fetchPage(productId, afterId, limit))
    finally TimedFetcher.fetchNs.addAndGet(System.nanoTime() - t0)
  }
}

object TimedFetcher {
  val fetchNs = new java.util.concurrent.atomic.AtomicLong(0)
}
