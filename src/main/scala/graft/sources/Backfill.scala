package graft.sources

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.sql.Timestamp

import graft.model.TradeOut

/** Trade-gap backfill (reference op 3 + ops 21-23,
  * redis_worker.py:43-94): when the live stream reveals missing trade ids,
  * fetch them from the exchange's REST history with pagination, reconcile
  * fetched vs missing (dict last-wins dedup + membership fill + set
  * difference for the next cursor), and merge into the trades sink.
  *
  * The loop is deliberately driver-side imperative (SURVEY §7.4 #7): gaps
  * are small (bounded per-gap), the fetcher is an external HTTP dependency,
  * and idempotency comes from trade-id dedup at the sink — executor-side
  * parallelism buys nothing here but failure modes.
  */
object Backfill {

  /** One fetched trade from the REST history. */
  final case class FetchedTrade(tradeId: Long, price: String, size: String,
      side: String, ts: Timestamp)

  /** Pluggable REST boundary (redis_worker.py:56's ccxt fetch_trades):
    * returns up to `limit` trades with id > afterId, ascending. */
  trait TradeFetcher extends Serializable {
    def fetchPage(productId: String, afterId: Long, limit: Int): Seq[FetchedTrade]
  }

  /** Result of one gap's reconciliation (redis_worker.py:85-91 printed the
    * same diagnostics). */
  final case class BackfillResult(trades: Seq[TradeOut],
      stillMissing: Set[Long], pagesFetched: Int)

  /** Fill one gap [gapStart, gapEnd] for a product (both inclusive —
    * FIXTURES §B gap semantics). Page budget = ceil(missing/pageSize)
    * exactly as the reference (redis_worker.py:46); cursor advances to
    * max(stillMissing) + 1 is the reference's (buggy-looking but correct
    * for a descending-history API) update — here we page forward from the
    * smallest still-missing id, the evident intent. */
  def fillGap(fetcher: TradeFetcher, productId: String, exchange: String,
      gapStart: Long, gapEnd: Long, pageSize: Int = 100,
      maxIds: Int = 100000): BackfillResult = {
    require(gapEnd >= gapStart, s"bad gap [$gapStart, $gapEnd]")
    val boundedEnd = math.min(gapEnd, gapStart + maxIds - 1)
    var missing = (gapStart to boundedEnd).toSet
    val maxPages = (missing.size + pageSize - 1) / pageSize
    val out = Seq.newBuilder[TradeOut]
    var pages = 0
    var cursor = gapStart - 1
    var exhausted = false
    while (missing.nonEmpty && pages < maxPages && !exhausted) {
      val page = fetcher.fetchPage(productId, cursor, pageSize)
      pages += 1
      if (page.isEmpty) exhausted = true
      else {
        // op 22: index by id — last write wins on duplicate ids
        val byId = page.groupBy(_.tradeId).map { case (id, ts) => id -> ts.last }
        val matched = byId.view.filterKeys(missing.contains).toMap
        out ++= matched.values.map { t =>
          TradeOut(exchange, productId, sequence = -1L, t.tradeId, t.price,
            t.size, t.side, t.ts, backfilled = true, -1L, -1L)
        }
        // op 23: set difference drives the next cursor + termination
        missing = missing -- byId.keys
        val pageMax = byId.keys.max
        if (pageMax <= cursor) exhausted = true // no forward progress
        else cursor = pageMax
      }
    }
    BackfillResult(out.result(), missing, pages)
  }

  /** One gap flagged in a batch, and what filling it returned. */
  final case class GapFill(exchange: String, productId: String,
      gapStart: Long, gapEnd: Long, result: BackfillResult)

  /** A batch's trades after reconciliation, and every gap it filled. */
  final case class Reconciled(trades: Seq[TradeOut], gaps: Seq[GapFill])

  /** Merge backfilled trades for every flagged gap in a batch's trades:
    * scan for gap flags, fill each, and return live ∪ backfilled with id
    * dedup (SURVEY §7.1 step 7) — live rows first, so a backfilled copy of
    * a live id loses. Each gap's [[BackfillResult]] comes back with it, so
    * ids the history could not serve stay visible to the caller. */
  def reconcileBatch(live: Seq[TradeOut],
      fetcher: TradeFetcher): Reconciled = {
    val gaps = live.filter(_.gapStart >= 0)
      .map(t => (t.exchange, t.productId, t.gapStart, t.gapEnd)).distinct
      .map { case (ex, product, s, e) =>
        GapFill(ex, product, s, e, fillGap(fetcher, product, ex, s, e))
      }
    Reconciled(graft.streaming.Pipeline.dedupTradeIds(
      live ++ gaps.flatMap(_.result.trades)), gaps)
  }

  /** Default transport: one GET via the shared JDK HTTP client. Follows
    * redirects (the JDK default is NEVER) — an http→https 301 from the
    * API must not surface as a permanently-failing page. */
  @transient private lazy val jdkHttp = HttpClient.newBuilder()
    .followRedirects(HttpClient.Redirect.NORMAL).build()
  private[sources] def jdkTransport(uri: URI): (Int, String) = {
    val resp = jdkHttp.send(HttpRequest.newBuilder(uri).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), resp.body())
  }

  /** Real REST fetcher against a GDAX-style products API
    * (GET {base}/products/{id}/trades?after={cursor}&limit={n}).
    *
    * Requests are PACED: at least `pageDelayMillis` between consecutive
    * requests — the reference intended 0.5 s/page but its un-awaited
    * `asyncio.sleep` never actually paused (redis_worker.py:52, SURVEY
    * §0.1 #2); this realizes the intent, so a gap storm cannot hammer the
    * endpoint. Transient failures (I/O errors, 5xx, and 408/429 — rate
    * limiting is precisely what the pacing manages, so a 429 must retry
    * after the delay, not abort) retry up to `maxAttempts` total, each
    * attempt paced; any other non-200 is permanent (an unknown product
    * will not improve on retry; redirects are followed by the transport)
    * and an exhausted budget returns the empty page, which [[fillGap]]
    * already treats as history-exhausted and terminates on. Clock,
    * sleeper, and transport are injectable for deterministic tests; the
    * default clock is MONOTONIC (nanoTime) so an NTP step back can never
    * stretch the inter-page wait into a pipeline stall. */
  final class RestTradeFetcher(baseUrl: String,
      pageDelayMillis: Long = 500L,
      maxAttempts: Int = 3,
      nowMillis: () => Long = () => System.nanoTime() / 1000000L,
      sleep: Long => Unit = Thread.sleep,
      transport: URI => (Int, String) = jdkTransport) extends TradeFetcher {

    private var lastRequestAt = Long.MinValue

    /** Block until `pageDelayMillis` has elapsed since the last request. */
    private def awaitTurn(): Unit = synchronized {
      val now = nowMillis()
      if (lastRequestAt != Long.MinValue) {
        val wait = lastRequestAt + pageDelayMillis - now
        if (wait > 0) sleep(wait)
      }
      lastRequestAt = nowMillis()
    }

    override def fetchPage(productId: String, afterId: Long,
        limit: Int): Seq[FetchedTrade] = {
      val uri = URI.create(
        s"$baseUrl/products/$productId/trades?after=$afterId&limit=$limit")
      var attempt = 0
      var out: Option[Seq[FetchedTrade]] = None
      while (out.isEmpty && attempt < maxAttempts) {
        attempt += 1
        awaitTurn()
        out =
          try {
            val (status, body) = transport(uri)
            if (status == 200) Some(parseTrades(body))
            else if (status == 408 || status == 429 || status >= 500)
              None // transient: timeout, rate-limited, server error — retry
            else Some(Seq.empty) // other non-200: permanent for this page
          } catch { case _: java.io.IOException => None }
      }
      out.getOrElse(Seq.empty)
    }
  }

  /** Parse a GDAX-style trades JSON array (fields: trade_id, price, size,
    * side, time) driver-locally with Jackson (already on Spark's
    * classpath). Deliberately NOT a Spark job: a gap storm fetches many
    * ~100-trade pages, and one scheduler round-trip per page would flood
    * the driver with micro-jobs for kilobytes of JSON. Malformed entries
    * are skipped (same drop-don't-crash posture as the decoders). */
  private[sources] def parseTrades(json: String): Seq[FetchedTrade] = {
    import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
    import scala.jdk.CollectionConverters._
    val root =
      try new ObjectMapper().readTree(json)
      catch { case _: Exception => return Seq.empty }
    if (root == null || !root.isArray) return Seq.empty
    root.elements().asScala.flatMap { n: JsonNode =>
      try {
        // Tolerant typing, no stricter than a SQL CAST: a server emitting
        // trade_id as the JSON string "42" (canConvertToLong is false for
        // textual nodes) or a time with an explicit offset must parse.
        val idOpt = Option(n.get("trade_id")).flatMap { id =>
          if (id.canConvertToLong) Some(id.asLong())
          else if (id.isTextual) id.asText().trim.toLongOption
          else None
        }
        for {
          id <- idOpt
          time <- Option(n.get("time"))
          inst <- parseInstant(time.asText())
        } yield FetchedTrade(id,
          Option(n.get("price")).map(_.asText()).getOrElse(""),
          Option(n.get("size")).map(_.asText()).getOrElse(""),
          Option(n.get("side")).map(_.asText()).getOrElse(""),
          Timestamp.from(inst))
      } catch { case _: Exception => None }
    }.toSeq
  }

  /** ISO instant, offset datetime, or bare local datetime (read as UTC) —
    * the shapes CAST(time AS TIMESTAMP) accepted before the driver-local
    * parser replaced it. */
  private def parseInstant(s: String): Option[java.time.Instant] = {
    def attempt(f: => java.time.Instant): Option[java.time.Instant] =
      try Some(f) catch { case _: java.time.format.DateTimeParseException => None }
    attempt(java.time.Instant.parse(s))
      .orElse(attempt(java.time.OffsetDateTime.parse(s).toInstant))
      .orElse(attempt(java.time.LocalDateTime.parse(s)
        .toInstant(java.time.ZoneOffset.UTC)))
  }
}
