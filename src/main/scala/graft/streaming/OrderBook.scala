package graft.streaming

import graft.model.{InsideBookUpdate, Level, MarketMessage}

import scala.collection.immutable.TreeMap

/** Pure limit-order-book replay core (reference ops 16-19,
  * real_guac_async.py:61-107 / polo_ws_async.py:65-115), shared by the
  * ingest path's driver-side fold and the batch replay operator
  * ([[BookEngine]]) so the same logic is testable without Spark.
  *
  * The reference maintained price-sorted Python lists with O(n) scans and
  * shipped (but never used) a sorted-tree dependency (SURVEY §0.1 #10);
  * this realizes that intent with immutable TreeMaps — O(log n)
  * upsert/delete, sortedness structural (bids descending, asks ascending).
  *
  * Prices are BigDecimal keys (exact, scale-insensitive compare); sizes
  * keep the exchange's original string so the emitted "volume@price"
  * encoding round-trips exactly (polo_ws.py:164 style 8-dp strings,
  * SURVEY §7.4 #2).
  */
object OrderBook {

  private val bidOrdering: Ordering[BigDecimal] = Ordering[BigDecimal].reverse

  /** One side of the book: price → original size string. */
  type Side = TreeMap[BigDecimal, String]

  final case class Book(bids: Side, asks: Side) {
    def isEmpty: Boolean = bids.isEmpty && asks.isEmpty
  }

  val emptyBook: Book =
    Book(TreeMap.empty[BigDecimal, String](bidOrdering),
      TreeMap.empty[BigDecimal, String])

  /** Exact decimal parse, None for corrupt input — one garbled level from
    * an exchange must drop that level, not kill the stream (the crash an
    * engine-level fuzz test found; the reference's analogue was its blanket
    * IndexError swallow, polo_ws_async.py:148-149). */
  private def dec(s: String): Option[BigDecimal] =
    if (s == null) None // a null decode cell must drop, not NPE (fuzz class)
    else try Some(BigDecimal(s)) catch { case _: NumberFormatException => None }

  /** Install a full snapshot, unconditionally replacing prior state
    * (real_guac_async.py:61-63). Input pairs are [price, size]; arrival
    * order is irrelevant because sortedness is structural (the reference
    * relied on GDAX pre-sorting and explicitly sorted Poloniex maps,
    * polo_ws_async.py:69-70). Zero-size and unparseable levels are
    * dropped. */
  def installSnapshot(bids: Seq[Seq[String]], asks: Seq[Seq[String]]): Book = {
    def side(levels: Seq[Seq[String]], ord: Ordering[BigDecimal]): Side =
      TreeMap.from(Option(levels).getOrElse(Nil).iterator.flatMap {
        case Seq(price, size, _*) => // parse once; keep the original string
          for (p <- dec(price); sz <- dec(size) if sz.signum != 0)
            yield p -> size
        case _ => None
      })(ord)
    Book(side(bids, bidOrdering), side(asks, Ordering[BigDecimal]))
  }

  /** Apply one L2 change [side, price, size]: size==0 deletes the level,
    * otherwise upsert (real_guac_async.py:67-92; the async Poloniex
    * comparison-position fix of SURVEY §0.1 #3 is inherent here).
    * Unparseable price/size — or a side that is neither "buy" nor "sell"
    * (a null from a truncated frame must not silently mutate the ask
    * book) — drops the change. */
  def applyChange(book: Book, side: String, price: String,
      size: String): Book =
    (side, dec(price), dec(size)) match {
      case ("buy", Some(p), Some(sz)) =>
        book.copy(bids =
          if (sz.signum == 0) book.bids - p else book.bids.updated(p, size))
      case ("sell", Some(p), Some(sz)) =>
        book.copy(asks =
          if (sz.signum == 0) book.asks - p else book.asks.updated(p, size))
      case _ => book
    }

  /** Top-k levels per side, best-first (bids high→low, asks low→high);
    * returns actual depth ≤ k — thin books no longer throw
    * (SURVEY §0.1 #6). */
  def topK(book: Book, k: Int = 15): (Seq[Level], Seq[Level]) = {
    def top(side: Side): Seq[Level] =
      side.take(k).iterator.map { case (p, s) =>
        Level(p.bigDecimal.toPlainString, s)
      }.toSeq
    (top(book.bids), top(book.asks))
  }

  /** Legacy cell encoding: "volume@price" — the reference reverses the
    * [price, size] pair before joining (real_guac_async.py:94-95), so
    * volume comes first. */
  def encodeLevel(l: Level): String = s"${l.size}@${l.price}"

  /** Full replay state for one keyed channel: the book + change-suppression
    * memory + trade-gap memory + the stream-learned product name (Poloniex
    * op 12). Held as plain in-memory values between batches; [[BookLog]]
    * is the one place that renders it to (and rebuilds it from) a flat
    * form. */
  final case class ReplayState(
      productName: String,
      book: Book,
      lastBids: Seq[Level],
      lastAsks: Seq[Level],
      hasEmitted: Boolean,
      lastTradeId: Long)

  val initialState: ReplayState =
    ReplayState("", emptyBook, Nil, Nil, hasEmitted = false, lastTradeId = -1L)

  /** Trade-gap detection for one product over sequence-ordered trades
    * (op 20, real_guac_async.py:123-132): first trade initializes; a jump
    * of more than 1 reveals the missing exclusive range. */
  def detectGap(lastTradeId: Long, tradeId: Long): Option[(Long, Long)] =
    if (lastTradeId >= 0 && tradeId > lastTradeId + 1)
      Some((lastTradeId + 1, tradeId - 1))
    else None
}
