package graft.streaming

import java.sql.Timestamp

import graft.TestSpark
import graft.model.TradeOut
import graft.sources.Backfill
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** The trade dedup key has two definitions: the `__idless_key` Column the
  * streaming dedup keys its state on (`Watermarked.dedupTrades`) and the
  * Scala key the per-batch driver dedup uses (`Pipeline.dedupTradeIds`).
  * Both must give the same key on every row, including the edges where
  * `concat_ws` skips nulls or `unix_micros` truncates. */
class TradeDedupKeySpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  private def t(id: Long, seq: Long, price: String, side: String,
      at: Timestamp, backfilled: Boolean = false): TradeOut =
    TradeOut("gdax", "ETH-USD", seq, id, price, "1.0", side, at,
      backfilled, -1L, -1L)

  test("the Scala key equals the streaming Column key on edge rows") {
    val subMicro = ts("2017-10-15 05:10:00")
    subMicro.setNanos(123456789)
    val rows = Seq(
      t(-1L, 1L, "300.10", "buy", null),                   // null exchangeTs
      t(-1L, 2L, null, null, ts("2017-10-15 05:10:00")),   // null price, side
      t(-1L, 3L, "300.10", "buy", subMicro),               // sub-µs nanos
      t(-1L, 4L, "300.10", "buy", ts("2017-10-15 05:10:00.100")),
      t(-1L, 4L, "300.10", "buy", ts("2017-10-15 05:10:00.250")), // equal fill
      t(-1L, 5L, "", "sell", ts("1969-12-31 23:59:59.999999")),   // pre-epoch
      t(7L, 6L, "300.10", "buy", ts("2017-10-15 05:10:00")))      // real id
    val viaColumn = rows.toDS()
      .select(col("exchange"), col("productId"), col("tradeId"),
        StateSchemas.idlessKeyColumn)
      .as[(String, String, Long, String)].collect().toSeq
    assert(viaColumn === rows.map(StateSchemas.tradeDedupKey))
    // and the key tells the edge rows apart
    assert(viaColumn.distinct.size === rows.size)
    assert(viaColumn.map(_._4).count(_.isEmpty) === 1)
  }

  test("a backfilled duplicate of a live id loses") {
    // live 104 flags [101, 103]; live 102 arrived late in the same batch
    val live = Seq(
      t(100L, 7L, "300.15", "buy", ts("2017-10-15 05:10:00")),
      t(104L, 9L, "300.16", "sell", ts("2017-10-15 05:10:02"))
        .copy(gapStart = 101L, gapEnd = 103L),
      t(102L, 10L, "300.17", "buy", ts("2017-10-15 05:10:01")))
    val history = new Backfill.TradeFetcher {
      override def fetchPage(p: String, afterId: Long,
          limit: Int): Seq[Backfill.FetchedTrade] =
        (101L to 103L).filter(_ > afterId).take(limit).map(id =>
          Backfill.FetchedTrade(id, "1.00", "9.0", "sell",
            ts("2017-10-15 05:10:01")))
    }
    val merged = Backfill.reconcileBatch(live, history).trades
    assert(merged.map(_.tradeId).sorted === Seq(100L, 101L, 102L, 103L, 104L))
    assert(merged.find(_.tradeId == 102L).get === live(2))
    assert(merged.filter(_.backfilled).map(_.tradeId).sorted === Seq(101L, 103L))
  }
}
