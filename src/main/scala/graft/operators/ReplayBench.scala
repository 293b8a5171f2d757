package graft.operators

import graft.{QueryDef, Tables}
import graft.model.MarketMessage
import graft.streaming.BookEngine
import org.apache.spark.sql.functions._

/** Throughput benchmark for the book engine (reference ops 16-20, the
  * heart of the system): synthesizes a deterministic L2/match frame log
  * from the `events` table (one frame per event, keyed per user as a
  * product) and replays it through `BookEngine.run` — a stateless
  * `groupByKey.flatMapGroups` over the SAME `processKey` fold the
  * streaming pipeline runs per micro-batch on the driver. ~100k frames
  * at sf0.1 (one per events row) — the wall-clock Bench reports is an
  * engine pass, the analogue of the reference's single-node ingest
  * ceiling (SURVEY §6).
  *
  * The log exercises every order-sensitive engine behavior:
  *   - snapshots carry FIVE levels per side (incl. ~1/13 zero-size levels
  *     that install must drop) so multi-level install
  *     (real_guac_async.py:63) is observable, not just depth-1 reset;
  *   - every 11th l2update frame carries THREE changes whose third change
  *     hits the first change's (side, price) with a different size, so
  *     intra-frame application order (real_guac_async.py:69's sequential
  *     loop) is observable — applying changes out of order flips the
  *     surviving size;
  *   - ~1 in 7 change sizes are zero (level delete), 20% of frames are
  *     trades (ids stride 5, so every trade reveals a gap).
  *
  * Output = the FINAL inside book (top-15 per side per product), which IS
  * relationally recomputable, so the engine core enters the driver's hard
  * DuckDB signal: change-suppression emits the exact top-k on every top-k
  * change (real_guac_async.py:94-101's emit-on-change), so the last
  * emission per product equals the final book state, and the final state
  * is a pure function of the synthesized log — last snapshot resets, later
  * l2updates last-write-win per (side, price) in (frame, change-index)
  * order, zero sizes delete (real_guac_async.py:61-92). All prices/sizes
  * are synthesized via integer-cent string formatting so the oracle
  * recomputes the exact strings with no cross-engine float rounding
  * surface.
  */
object ReplayBench {

  /** Cents → the canonical "d.dd" string both sides of the oracle build.
    * Plain concatenation, not `f""` — String.format in this hot fixture
    * loop was ~1/3 of the benched query cost, overstating engine time. */
  private def cents(c: Long): String = {
    val d = c % 100
    val sb = new java.lang.StringBuilder(8)
    sb.append(c / 100).append('.')
    if (d < 10) sb.append('0')
    sb.append(d).toString
  }

  /** The deterministic synthesized frame log `book_replay` replays. The
    * streaming ingest path has its own seeded log and number:
    * `perfbench`'s `ingest_replay` workload. */
  private[graft] def syntheticLog(spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.Dataset[MarketMessage] = {
    import spark.implicits._
    // slim 3-column projection fanned to machine width before the typed
    // map (r21, re-A/B'd r22: ON wins — frame synthesis and the engine
    // shuffle's write side otherwise run on the single-row-group scan's
    // one task). The testdata is one single-row-group parquet file per
    // table — an unsplittable one-task scan — so this CPU-dense map
    // chain would run on 1 core of the machine. A scan root exposes its
    // partition count without executing anything, so the guard is free,
    // and at scale (many files) it is a strict no-op. Targeted at this
    // measured CPU-bound root only — the r21 A/B rejected blanket width
    // (see [[Staged.cpuWidth]]).
    val slim = Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"),
        expr("CAST(ts AS TIMESTAMP)").as("tsz"))
    val width = Staged.cpuWidth(spark)
    (if (slim.rdd.getNumPartitions >= width) slim else slim.repartition(width))
        .as[(Long, Long, java.sql.Timestamp)]
        .map { case (eid, uid, ts) =>
          val product = s"P-$uid"
          // Deterministic mix: ~1% snapshots (multi-level state reset),
          // 20% trades, the rest L2 change frames over a 10000-price-cent
          // universe. All arithmetic is mirrored verbatim in the oracle SQL.
          if (eid % 97 == 0) {
            val levels = (0 until 5).map { i =>
              val pc = (eid * 37 + i * 7) % 10000
              val sc =
                if ((eid + i) % 13 == 0) 0L else (eid * 13 + i * 19) % 900 + 1
              Seq(cents(pc), cents(sc))
            }
            MarketMessage("bench", product, "snapshot", product, eid, eid,
              levels, levels, Nil, -1L, "", "", "", ts)
          } else if (eid % 5 == 0) {
            val price = cents(eid * 37 % 10000)
            val size = if (eid % 7 == 0) "0" else cents(eid * 13 % 900 + 1)
            val side = if (eid % 2 == 0) "buy" else "sell"
            MarketMessage("bench", product, "match", product, eid, eid,
              Nil, Nil, Nil, eid, price, size, side, ts)
          } else {
            // Change j=2 repeats j=0's (side, price) with a different size:
            // only in-order application leaves j=2's size standing.
            val n = if (eid % 11 == 0) 3 else 1
            val changes = (0 until n).map { j =>
              val side = if ((eid + j) % 2 == 0) "buy" else "sell"
              val pc = (eid * 37 + (j % 2) * 101) % 10000
              val sc =
                if ((eid + j) % 7 == 0) 0L else (eid * 13 + j * 17) % 900 + 1
              Seq(side, cents(pc), cents(sc))
            }
            MarketMessage("bench", product, "l2update", product, eid, eid,
              Nil, Nil, changes, -1L, "", "", "", ts)
          }
        }
  }

  /** [[bookReplay]] parameterized by book depth (r17 verdict ask #8):
    * the reference pins top-15 (`range(15)` indexing + its 32-column
    * DDL), and `book_replay` keeps that default; `book_replay_depth5`
    * oracle-checks the knob at a non-default depth — the engine's
    * change-suppression compares the top-`depth` slice, so depth is
    * decision-relevant, not a post-filter (a shallower book emits
    * strictly fewer updates; the FINAL book this query pins is the
    * same state either way, ranked to `depth`). */
  private def bookReplayDef(name: String, depth: Int) = QueryDef(
    name,
    (spark, dir) => {
      import spark.implicits._
      val msgs = syntheticLog(spark, dir)
      // Final emission per product via max_by partial aggregation (map-side
      // combine moves one row per product-partition) — NOT a row_number
      // window, which would shuffle and sort the whole emission stream.
      val lastBook = BookEngine.run(msgs, depth)
        .flatMap(_.book)
        .groupBy(col("productId"))
        .agg(max_by(struct(col("bids"), col("asks")), col("sequence"))
          .as("fin"))
        .select(col("productId"),
          col("fin.bids").as("bids"), col("fin.asks").as("asks"))
      def sideRows(sideName: String, arr: String) =
        lastBook.select(col("productId").as("product_id"), posexplode(col(arr)))
          .select(col("product_id"), lit(sideName).as("side"),
            (col("pos") + 1).cast("long").as("lvl"),
            col("col.price").as("price"), col("col.size").as("size"))
      sideRows("buy", "bids").unionByName(sideRows("sell", "asks"))
    },
    // The oracle replays the same log relationally: classify frames off
    // event_id arithmetic, expand snapshot levels (i = 0..4 per side) and
    // per-frame changes (j = 0..2, j > 0 only on multi-change frames) with
    // the same formulas, reset at the last snapshot, last-write-wins per
    // (product, side, price-cents) ordered by (frame, change-index), drop
    // zero sizes, rank top-`depth` per side (bids descending, asks
    // ascending), and rebuild the exact level strings from integer cents.
    Some(s"""
      WITH typed AS (
        SELECT event_id AS eid,
               'P-' || CAST(user_id AS VARCHAR) AS product,
               CASE WHEN event_id % 97 = 0 THEN 'snapshot'
                    WHEN event_id % 5 = 0 THEN 'match'
                    ELSE 'l2update' END AS mtype
        FROM events),
      last_snap AS (
        SELECT product, max(eid) AS snap_eid
        FROM typed WHERE mtype = 'snapshot' GROUP BY 1),
      snap_levels AS (
        SELECT t.product, s.side,
               (t.eid * 37 + i.i * 7) % 10000 AS pc,
               CASE WHEN (t.eid + i.i) % 13 = 0 THEN 0
                    ELSE (t.eid * 13 + i.i * 19) % 900 + 1 END AS size_c,
               t.eid, i.i AS ord
        FROM typed t
        JOIN last_snap ls ON t.product = ls.product AND t.eid = ls.snap_eid
        CROSS JOIN (SELECT unnest(range(5)) AS i) i
        CROSS JOIN (SELECT 'buy' AS side UNION ALL SELECT 'sell') s),
      upds AS (
        SELECT t.product,
               CASE WHEN (t.eid + j.j) % 2 = 0 THEN 'buy'
                    ELSE 'sell' END AS side,
               (t.eid * 37 + (j.j % 2) * 101) % 10000 AS pc,
               CASE WHEN (t.eid + j.j) % 7 = 0 THEN 0
                    ELSE (t.eid * 13 + j.j * 17) % 900 + 1 END AS size_c,
               t.eid, j.j AS ord
        FROM typed t
        CROSS JOIN (SELECT unnest(range(3)) AS j) j
        LEFT JOIN last_snap ls ON t.product = ls.product
        WHERE t.mtype = 'l2update' AND (j.j = 0 OR t.eid % 11 = 0)
          AND (ls.snap_eid IS NULL OR t.eid > ls.snap_eid)),
      final AS (
        SELECT product, side, pc, size_c FROM (
          SELECT *, row_number() OVER (PARTITION BY product, side, pc
                      ORDER BY eid DESC, ord DESC) AS rn
          FROM (SELECT * FROM snap_levels UNION ALL SELECT * FROM upds))
        WHERE rn = 1 AND size_c > 0),
      ranked AS (
        SELECT product AS product_id, side, pc, size_c,
               row_number() OVER (PARTITION BY product, side
                 ORDER BY CASE WHEN side = 'buy' THEN -pc ELSE pc END) AS lvl
        FROM final)
      SELECT product_id, side, CAST(lvl AS BIGINT) AS lvl,
             printf('%d.%02d', pc // 100, pc % 100) AS price,
             printf('%d.%02d', size_c // 100, size_c % 100) AS size
      FROM ranked WHERE lvl <= $depth
    """))

  val bookReplay = bookReplayDef("book_replay", 15)

  /** The depth knob at a non-default value, oracle-checked — the last
    * hard-coded reference constant made config (r17 verdict ask #8). */
  val bookReplayDepth5 = bookReplayDef("book_replay_depth5", 5)

  val defs: Seq[QueryDef] = Seq(bookReplay, bookReplayDepth5)
}
