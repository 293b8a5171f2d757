package graft.streaming

import graft.model._
import org.apache.spark.sql.Dataset

/** The market-data engine (reference ops 16-20 in one keyed pass,
  * mirroring the reference's single per-exchange event loop):
  * per (exchange, channel) key it maintains the order book, emits
  * change-suppressed inside-book updates, normalizes trades, and flags
  * trade-id gaps.
  *
  * The core is the pure [[processKey]]. The ingest path
  * ([[Pipeline.start]]) folds each micro-batch through it on the driver,
  * keeping the books in [[BookLog]] — the one streaming engine; [[run]]
  * is the same fold as a stateless batch Dataset operator (batch replay:
  * every key folds its whole history from empty books).
  *
  * Correctness under shuffle (SURVEY §4.3): messages are re-sorted by
  * source-stamped `arrival` within each key/batch, because L2 replay is
  * order-sensitive and non-commutative; a snapshot unconditionally resets
  * book state (real_guac_async.py:61-63).
  *
  * Scale: state is per product (cardinality = number of tracked products),
  * each book a few thousand levels.
  */
object BookEngine {

  import OrderBook._

  /** Process one key's batch of messages against its state. Pure function —
    * unit-testable without Spark. Returns (newState, outputs).
    *
    * `depth` sizes the emitted inside book (top-`depth` per side). The
    * reference hard-codes 15 (real_guac_async.py:94-95 — `range(15)`
    * indexing, its 32-column DDL); 15 stays the default so every
    * historical consumer and oracle is unchanged, but the constant is a
    * knob since r18 (r17 verdict ask #8) — change-suppression compares
    * the top-`depth` slice, so a shallower book emits strictly less. */
  def processKey(key: (String, String), state: ReplayState,
      messages: Seq[MarketMessage],
      depth: Int = 15): (ReplayState, List[EngineOut]) = {
    require(depth >= 1, s"book depth must be >= 1: $depth")
    val (exchange, channel) = key
    var st = state
    var book = st.book
    val out = List.newBuilder[EngineOut]

    def emitIfChanged(seq: Long, arrival: Long, product: String): Unit = {
      val (tb, ta) = topK(book, depth)
      if (!st.hasEmitted || tb != st.lastBids || ta != st.lastAsks) {
        out += EngineOut(Some(InsideBookUpdate(
          exchange, product, if (seq >= 0) seq else arrival, tb, ta)), None)
        st = st.copy(lastBids = tb, lastAsks = ta, hasEmitted = true)
      }
    }

    // In-memory per-group sort: bounded by micro-batch size in streaming
    // (admission control caps frames/trigger). A BATCH replay hands each
    // group its entire history — fine for the bench's ~thousands of frames
    // per product, but replaying one product's multi-year history through
    // the batch path should chunk by time range first (the streaming path
    // already does, per trigger).
    messages.sortBy(_.arrival).foreach { m =>
      // op 12: learn the channel→product mapping from the snapshot
      if (m.productId.nonEmpty && st.productName.isEmpty)
        st = st.copy(productName = m.productId)
      val product =
        if (m.productId.nonEmpty) m.productId
        else if (st.productName.nonEmpty) st.productName
        else channel
      m.msgType match {
        case "snapshot" =>
          book = installSnapshot(m.bids, m.asks)
          emitIfChanged(m.sequence, m.arrival, product)
        case "l2update" =>
          m.changes.foreach {
            case Seq(side, price, size, _*) =>
              book = applyChange(book, side, price, size)
            case _ => // malformed change: skip (polo_ws_async.py:148-149)
          }
          emitIfChanged(m.sequence, m.arrival, product)
        case "match" =>
          val gap = detectGap(st.lastTradeId, m.tradeId)
          out += EngineOut(None, Some(TradeOut(
            exchange, product, m.sequence, m.tradeId, m.price, m.size,
            m.side, m.exchangeTs, backfilled = false,
            gapStart = gap.map(_._1).getOrElse(-1L),
            gapEnd = gap.map(_._2).getOrElse(-1L))))
          if (m.tradeId >= 0) st = st.copy(lastTradeId =
            math.max(st.lastTradeId, m.tradeId))
        case _ => // unknown type: ignore
      }
    }
    (st.copy(book = book), out.result())
  }

  /** [[processKey]] as a batch Dataset operator: one stateless
    * `groupByKey((exchange, channel)).flatMapGroups` pass, each key folding
    * its whole history from [[OrderBook.initialState]] (`ReplayBench`,
    * `ReplayDemo`'s fixture path, specs). A streaming Dataset is refused:
    * regrouping per micro-batch would silently restart every book each
    * batch — stream through [[Pipeline.start]], which carries the books
    * across batches. */
  def run(messages: Dataset[MarketMessage],
      depth: Int = 15): Dataset[EngineOut] = {
    require(!messages.isStreaming,
      "BookEngine.run folds a batch Dataset from empty books; a stream's " +
        "books must carry across micro-batches — use Pipeline.start")
    import messages.sparkSession.implicits._
    messages
      .groupByKey(m => (m.exchange, m.channel))
      .flatMapGroups { (key, it) =>
        processKey(key, initialState, it.toSeq, depth)._2
      }
  }
}
