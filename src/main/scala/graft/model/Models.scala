package graft.model

import java.sql.Timestamp

/** Canonical typed schemas (SURVEY.md §1.2-1.4, FIXTURES.md §B). One message
  * shape covers both exchanges after decode; all downstream operators are
  * written once against it.
  */

/** One decoded websocket message, canonicalized across exchanges
  * (GDAX object frames: reference real_guac_async.py:59-136; Poloniex
  * positional frames: polo_ws_async.py:60-149).
  *
  * - `channel` is the stateful-processor group key within an exchange:
  *   GDAX product_id; Poloniex numeric channel id (whose product name is
  *   stream-learned from the snapshot — SURVEY §7.4 #6).
  * - `arrival` is the source-stamped feed order (frame index, sub-message
  *   index folded in); replay sorts on it per key per batch because
  *   shuffles don't preserve order (SURVEY §4.3).
  * - msgType ∈ {snapshot, l2update, match}. For l2update, `changes` holds
  *   [side, price, size] triples (side canonical "buy"/"sell", size "0"
  *   deletes). For snapshot, bids/asks are [price, size] pairs.
  * - Prices/sizes stay exchange strings until parsed — preserving exact
  *   decimal rendering (SURVEY §7.4 #2).
  */
final case class MarketMessage(
    exchange: String,
    channel: String,
    msgType: String,
    productId: String, // may be empty pre-resolution (Poloniex o/t frames)
    sequence: Long,    // exchange-reported sequence, -1 when absent
    arrival: Long,
    bids: Seq[Seq[String]],
    asks: Seq[Seq[String]],
    changes: Seq[Seq[String]],
    tradeId: Long,
    price: String,
    size: String,
    side: String,
    exchangeTs: Timestamp)

/** One price level of the inside book (canonical decimal form). */
final case class Level(price: String, size: String)

/** Emitted inside-book row: top-15 per side (actual depth ≤ 15 here; the
  * legacy 32-column view pads to exactly 15 with nulls — SURVEY §0.1 #6). */
final case class InsideBookUpdate(
    exchange: String,
    productId: String,
    sequence: Long,
    bids: Seq[Level],
    asks: Seq[Level])

/** Normalized trade row (gdax_schema.sql:43-52 typed per SURVEY §1.3),
  * with the gap the trade revealed, if any (reference
  * real_guac_async.py:123-132 dispatches backfill on it). */
final case class TradeOut(
    exchange: String,
    productId: String,
    sequence: Long,
    tradeId: Long,
    price: String,
    volume: String,
    side: String,
    exchangeTs: Timestamp,
    backfilled: Boolean,
    gapStart: Long, // first missing id, or -1 when no gap
    gapEnd: Long)   // last missing id, or -1 when no gap

/** Unified engine output: exactly one of book/trade is set (a single
  * keyed pass over the books serves both pipelines, matching the
  * reference's single per-exchange loop). */
final case class EngineOut(
    book: Option[InsideBookUpdate],
    trade: Option[TradeOut])
