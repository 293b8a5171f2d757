package graft.streaming

import graft.model.TradeOut
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.functions.{col, concat_ws, lit, unix_micros, when}

/** Checkpoint-compatibility boundaries as CODE (r13 verdict ask #7).
  *
  * SURVEY §5.3 records the engine's streaming state-schema history — the
  * r7 trade-dedup key widening, the r8 value-only surrogate change, the
  * r9 banding-scheme key prefix — as prose. These constants pin each
  * stateful operator's CURRENT schema version, and the operators build
  * their key schemas from the single definitions here, so a refactor that
  * changes a state schema has to touch this file (the version bump makes
  * the compatibility break visible in the diff instead of silently
  * stranding deployed checkpoints). The enforcement mechanism at restore
  * time is Spark's own state-store schema check; `StateSchemaSpec` pins
  * that the refusal is LOUD — a stream restarted across an incompatible
  * schema fails its first batch rather than run with corrupt state.
  *
  * Upgrade playbook for a version bump (§5.3): restart from a fresh
  * checkpoint and replay the WAL — the frame WAL makes that lossless. */
object StateSchemas {

  /** Trade dedup key — `Watermarked.dedupTrades` (streaming,
    * dropDuplicatesWithinWatermark, over [[idlessKeyColumn]]) and
    * `Pipeline.dedupTradeIds` (per-batch, on the driver, over
    * [[tradeDedupKey]]): ONE definition so the streaming and batch layouts
    * can never drift apart.
    *
    * v2 since r7: (exchange, tradeId) → (exchange, productId, tradeId,
    * __idless_key) — pre-r7 checkpoints do not restore. The r8 change
    * (surrogate VALUE adds unix_micros(exchangeTs)) left the schema —
    * and this version — unchanged: old checkpoints restore, with the
    * documented one-time horizon-bounded id-less re-admit window. */
  val TradeDedupKeyVersion: Int = 2
  val TradeDedupKey: Seq[String] =
    Seq("exchange", "productId", "tradeId", "__idless_key")

  /** The `__idless_key` column: empty for a trade with an id; for the
    * id-less sentinel (tradeId = -1, decoder-salvaged truncated frames) a
    * CONTENT surrogate, so distinct salvaged trades never collapse while an
    * exact replay still dedups. exchangeTs is part of it: two identical
    * partial fills in one frame/sequence are distinct trades. Residual
    * limit: identical fills in the same sequence at the same exchange
    * timestamp still collapse — the decoded row carries no arrival-order
    * column to break that tie. `concat_ws` skips null fields. */
  def idlessKeyColumn: Column =
    when(col("tradeId") === -1L,
      concat_ws("|", col("sequence"), unix_micros(col("exchangeTs")),
        col("price"), col("volume"), col("side")))
      .otherwise(lit(""))

  /** [[TradeDedupKey]] of a driver-side row: its `__idless_key` is
    * [[idlessKeyColumn]]'s value (micros as `unix_micros` reads them,
    * nulls skipped as `concat_ws` skips them). */
  def tradeDedupKey(t: TradeOut): (String, String, Long, String) = {
    val idless =
      if (t.tradeId != -1L) ""
      else Seq[Any](t.sequence,
        if (t.exchangeTs == null) null
        else DateTimeUtils.fromJavaTimestamp(t.exchangeTs),
        t.price, t.volume, t.side).filter(_ != null).mkString("|")
    (t.exchange, t.productId, t.tradeId, idless)
  }

  /** Near-dup bucket registry key (`CurationStream`'s bucket stage).
    * v2 since r9: the bucket key PREFIXES the banding scheme, so a
    * restart with different banding parameters probes a disjoint
    * keyspace (old entries evict within one horizon) instead of silently
    * half-matching. `horizonMs` stays OUT of the key by design — it
    * shifts eviction timing, never matching semantics. */
  val NearDupBucketKeyVersion: Int = 2
  def nearDupBucketPrefix(bands: Int, rowsPerBand: Int): String =
    s"$bands:$rowsPerBand"

  /** Book replay state of the ingest path (`BookEngine`'s ReplayState
    * per (exchange, channel) key, as [[BookLog]] checkpoints it).
    * v2: the state leaves Spark's state store — one versioned binary file
    * per micro-batch under `<checkpointDir>/books`, tagged with this
    * version, each key carrying its last-write time for the idle TTL.
    * v1 was the ReplayState row in the state store (`state/`) of the
    * flatMapGroupsWithState or transformWithState operator. `BookLog`
    * refuses a v1 checkpoint (`state/` and no `books/`) and a book file of
    * any other version, naming the directory and both versions — it never
    * starts from empty books over an old checkpoint. */
  val BookReplayStateVersion: Int = 2

  /** Canonical-assignment chain state (`CurationStream`'s Keeper /
    * cluster / CanonState value states). v1 — never broken since
    * introduction. */
  val CurationCanonicalStateVersion: Int = 1

  /** Semantic-gate cell registry key (`CurationStream.semDedupGate`).
    * v1 (r16). The key prefixes a digest of the FROZEN centroid id set —
    * the same discipline as the banding-scheme prefix above: a restart
    * under a re-founded quantizer (drift refusal, IvfConfig change)
    * probes a disjoint keyspace instead of comparing vectors that were
    * cell-mates only under the OLD cells; stale entries evict via their
    * event-time timers within a horizon. `horizonMs`/`dotFloor` stay out
    * of the key — they shift verdicts, not key identity (same reasoning
    * as horizonMs above). r17's `semDedupGateCoded` (streamed PQ codes)
    * and r18's `cbDigest` verdict column leave the STATE schema — and
    * this version — unchanged: codes and digest ride the operator's
    * input/output rows only, never the keeper registry, so existing
    * checkpoints restore under either gate variant — pinned by
    * SemDedupGateSpec's cross-shape restore (a checkpoint written by a
    * replica of the PRE-codes probe shape restores under today's gate,
    * with the pre-restart keepers still deciding). */
  val SemGateCellKeyVersion: Int = 1
  /** Delegates to the ONE id-set digest the frozen-family stage keys
    * use — shared code, so the stream's keyspace cannot drift from the
    * staged family's names on a re-founding. */
  def semGateCellPrefix(centroidIds: Seq[Long]): String =
    graft.operators.SimilarityQueries.idSetDigest(centroidIds)

  /** Keyspace prefix for the TRAINED gate (r18): the trained table's
    * VALUE digest, 't'-tagged so it can never collide with a rule
    * lineage's id digest of the same hex — a re-TRAINING keeps the seed
    * ids but moves the values, so an id digest would silently leave two
    * trainings' keepers comparable. Same digest definition (and VALUE)
    * as the trained family's `+frz` stage-key component. */
  def semGateTrainedCellPrefix(valueDigest: String): String =
    "t" + valueDigest
}
