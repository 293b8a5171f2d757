package graft.streaming

import java.sql.Timestamp

import graft.TestSpark
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.GroupStateTimeout
import org.scalatest.funsuite.AnyFunSuite

/** Checkpoint-compat boundaries pinned as behavior (r13 verdict ask #7):
  * [[StateSchemas]] records each stateful operator's schema version; this
  * spec pins the enforcement half — Spark REFUSES, loudly, to restore a
  * checkpoint across an incompatible state-schema change. A refactor that
  * made the refusal silent (a stream resuming over mismatched state would
  * corrupt dedup/book/canonical decisions) fails here. */
class StateSchemaSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._
  private implicit def sqlCtx: org.apache.spark.sql.SQLContext =
    spark.sqlContext

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  /** Run `start` and drain; returns the failure Spark surfaced, if any. */
  private def runToFailure(start: => org.apache.spark.sql.streaming
      .StreamingQuery): Option[Throwable] =
    try {
      val q = start
      try { q.processAllAvailable(); None }
      catch { case e: Throwable => Some(e) }
      finally q.stop()
    } catch { case e: Throwable => Some(e) }

  private def assertStateSchemaRefusal(err: Option[Throwable],
      what: String): Unit = {
    assert(err.isDefined,
      s"$what: restart across a state-schema change DID NOT FAIL — " +
        "silent restore over incompatible state")
    def chain(t: Throwable): Seq[Throwable] =
      t +: Option(t.getCause).toSeq.flatMap(chain)
    val msgs = chain(err.get).map(t => t.getClass.getName + ": " +
      String.valueOf(t.getMessage)).mkString("\n")
    assert(msgs.toLowerCase.contains("schema") ||
      msgs.contains("StateSchemaNotCompatible"),
      s"$what: restart failed but not with a state-schema refusal:\n$msgs")
  }

  test("key-schema change (the r7 trade-dedup widening, in miniature): old checkpoint refuses to restore") {
    val ckpt = java.nio.file.Files.createTempDirectory("ssk_ck").toString
    val out = java.nio.file.Files.createTempDirectory("ssk_out").toString
    // v1: dedup keyed on contentHash alone
    val in1 = MemoryStream[DocIn]
    val q1 = CurationStream.gate(in1.toDS())
      .withWatermark("fetchTs", "1 hour")
      .dropDuplicatesWithinWatermark("contentHash")
      .writeStream.outputMode("append").format("parquet")
      .option("path", out).option("checkpointLocation", ckpt).start()
    try {
      in1.addData(DocIn(1, "s", "the quick brown fox jumps over the lazy dog",
        ts("2024-05-01 10:00:00")))
      q1.processAllAvailable()
    } finally q1.stop()
    // v2: key widened to (contentHash, source) — the same class of break
    // as r7's (exchange, tradeId) -> TradeDedupKey widening. Spark must
    // refuse the old checkpoint, not resume over mismatched key state.
    val in2 = MemoryStream[DocIn]
    in2.addData(DocIn(1, "s", "the quick brown fox jumps over the lazy dog",
      ts("2024-05-01 10:00:00"))) // offset replay
    in2.addData(DocIn(2, "t", "the cat sat near the warm mat and the rug",
      ts("2024-05-01 10:00:01")))
    val err = runToFailure {
      CurationStream.gate(in2.toDS())
        .withWatermark("fetchTs", "1 hour")
        .dropDuplicatesWithinWatermark("contentHash", "source")
        .writeStream.outputMode("append").format("parquet")
        .option("path", out).option("checkpointLocation", ckpt).start()
    }
    assertStateSchemaRefusal(err, "dedup key widening")
  }

  test("value-schema change (stateful aggregator state type): old checkpoint refuses to restore") {
    import StateSchemaSpec.{St1, St2}
    val ckpt = java.nio.file.Files.createTempDirectory("ssv_ck").toString
    def pipe[S: org.apache.spark.sql.Encoder](input: MemoryStream[DocIn])(
        update: (Option[S], Int) => S) =
      input.toDS()
        .groupByKey(_.docId)
        .mapGroupsWithState[S, (Long, Long)](GroupStateTimeout.NoTimeout) {
          case (k, rows, st) =>
            val s = update(st.getOption, rows.size)
            st.update(s)
            (k, rows.size.toLong)
        }
        .writeStream.outputMode("update")
        // count() drives every partition — state commits require the
        // foreachBatch body to process the whole frame
        .foreachBatch((ds: org.apache.spark.sql.Dataset[(Long, Long)],
          _: Long) => { ds.count(); () })
        .option("checkpointLocation", ckpt).start()
    val in1 = MemoryStream[DocIn]
    val q1 = pipe[St1](in1)((st, n) =>
      St1(st.map(_.n).getOrElse(0L) + n))
    try {
      in1.addData(DocIn(1, "s", "a b c", ts("2024-05-01 10:00:00")))
      q1.processAllAvailable()
    } finally q1.stop()
    val in2 = MemoryStream[DocIn]
    in2.addData(DocIn(1, "s", "a b c", ts("2024-05-01 10:00:00")))
    in2.addData(DocIn(2, "t", "d e f", ts("2024-05-01 10:00:01")))
    val err = runToFailure {
      pipe[St2](in2)((st, n) =>
        St2(st.map(_.n).getOrElse(0L) + n, "t"))
    }
    assertStateSchemaRefusal(err, "mapGroupsWithState value change")
  }

  test("StateSchemas constants match the live operators' key construction") {
    // the one-definition wiring: the trade dedup key and the bucket
    // prefix are read FROM StateSchemas by the operators, so this is a
    // tripwire on the constants themselves
    assert(StateSchemas.TradeDedupKeyVersion === 2)
    assert(StateSchemas.TradeDedupKey ===
      Seq("exchange", "productId", "tradeId", "__idless_key"))
    assert(StateSchemas.NearDupBucketKeyVersion === 2)
    assert(StateSchemas.nearDupBucketPrefix(4, 4) === "4:4")
    assert(StateSchemas.BookReplayStateVersion === 2)
    assert(StateSchemas.CurationCanonicalStateVersion === 1)
  }
}

object StateSchemaSpec {
  /** v1 state: a bare count. */
  final case class St1(n: Long)
  /** v2 state: count + last source — an incompatible value layout. */
  final case class St2(n: Long, lastSource: String)
}
