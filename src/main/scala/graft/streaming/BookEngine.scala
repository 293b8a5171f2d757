package graft.streaming

import graft.model._
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** The market-data engine (reference ops 16-20 in one keyed pass,
  * mirroring the reference's single per-exchange event loop):
  * per (exchange, channel) key it maintains the order book, emits
  * change-suppressed inside-book updates, normalizes trades, and flags
  * trade-id gaps.
  *
  * The core is the pure [[processKey]]. The ingest path
  * ([[Pipeline.start]]) folds each micro-batch through it on the driver,
  * keeping the books in [[BookLog]]; [[run]] is the same fold as a
  * Dataset operator, for batch replay and for composing with other
  * Dataset operators.
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
    var book = thaw(st)
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
    (freeze(book, st), out.result())
  }

  /** [[processKey]] as a Dataset operator: one flatMapGroupsWithState
    * pass keyed on (exchange, channel). On a batch Dataset (batch replay:
    * `ReplayBench`, `ReplayDemo`'s fixture path) each key folds its whole
    * history once; it also runs as a streaming operator on the state
    * store, but the ingest path does not use it — [[Pipeline.start]] folds
    * on the driver. */
  def run(messages: Dataset[MarketMessage],
      depth: Int = 15): Dataset[EngineOut] = {
    import messages.sparkSession.implicits._
    messages
      .groupByKey(m => (m.exchange, m.channel))
      .flatMapGroupsWithState[ReplayState, EngineOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: (String, String), it: Iterator[MarketMessage],
            gs: GroupState[ReplayState]) =>
          val state = gs.getOption.getOrElse(initialState)
          val (next, outputs) = processKey(key, state, it.toSeq, depth)
          gs.update(next)
          outputs.iterator
      }
  }

  /** Split helper: (inside-book updates, trades). */
  def split(out: Dataset[EngineOut])
      : (Dataset[InsideBookUpdate], Dataset[TradeOut]) = {
    import out.sparkSession.implicits._
    (out.flatMap(_.book), out.flatMap(_.trade))
  }
}
