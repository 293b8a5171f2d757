package graft.streaming

import java.sql.Timestamp

import graft.TestSpark
import graft.operators.{Codebook, IvfConfig, Quantizer, SemDedupConfig,
  SimilarityQueries, Staged}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

/** r16's probe row shape — NO codes field (what a pre-r17 binary
  * shuffled into the gate's stateful operator): fixture for the
  * cross-shape checkpoint-restore spec, which turns the StateSchemas
  * claim "probe-row evolution never breaks SemGateCellKeyVersion 1
  * checkpoints" from documentation into a pinned behavior. */
private[streaming] final case class LegacyCellProbe(cellKey: String,
    cid: Long, vecId: Long, q8: Array[Byte], fetchTs: Timestamp)

/** A replica of the r16 gate's registry processor over the legacy probe
  * shape — same state name ("keepers"), same [[CurationStream.CellKeeper]]
  * encoder, same timers and decision rule, so the checkpoints it writes
  * are exactly what a pre-codes binary left behind. */
private[streaming] class LegacyCellRegistryProcessor(horizonMs: Long,
    dotFloor: Long)
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      String, LegacyCellProbe, CurationStream.VecVerdict] {
  @transient private var reg: org.apache.spark.sql.streaming.ListState[
    CurationStream.CellKeeper] = _

  override def init(
      outputMode: org.apache.spark.sql.streaming.OutputMode,
      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
    reg = getHandle.getListState[CurationStream.CellKeeper]("keepers",
      org.apache.spark.sql.Encoders.product[CurationStream.CellKeeper],
      org.apache.spark.sql.streaming.TTLConfig.NONE)

  private def dot(a: Array[Byte], b: Array[Byte]): Long =
    if (a.length != b.length) Long.MinValue
    else {
      var s = 0L
      var i = 0
      while (i < a.length) { s += a(i).toLong * b(i).toLong; i += 1 }
      s
    }

  override def handleInputRows(key: String,
      rows: Iterator[LegacyCellProbe],
      timerValues: org.apache.spark.sql.streaming.TimerValues)
      : Iterator[CurationStream.VecVerdict] = {
    val sorted = rows.toSeq.sortBy(p => (p.fetchTs.getTime, p.vecId))
    val keepers =
      scala.collection.mutable.ArrayBuffer.empty[CurationStream.CellKeeper]
    val it = reg.get()
    while (it.hasNext) keepers += it.next()
    val out = sorted.map { p =>
      val ts = p.fetchTs.getTime
      var dupOf = Long.MaxValue
      keepers.foreach { k =>
        if (math.abs(ts - k.tsMillis) <= horizonMs &&
            k.vecId != p.vecId && k.vecId < dupOf &&
            dot(p.q8, k.q8) >= dotFloor)
          dupOf = k.vecId
      }
      val kept = dupOf == Long.MaxValue
      val reg0 = CurationStream.CellKeeper(p.vecId, ts, p.q8)
      keepers += reg0
      reg.appendValue(reg0)
      getHandle.registerTimer(ts + 2 * horizonMs)
      CurationStream.VecVerdict(p.vecId, p.cid, p.fetchTs, kept,
        if (kept) p.vecId else dupOf)
    }
    out.iterator
  }

  override def handleExpiredTimer(key: String,
      timerValues: org.apache.spark.sql.streaming.TimerValues,
      expiredTimerInfo: org.apache.spark.sql.streaming.ExpiredTimerInfo)
      : Iterator[CurationStream.VecVerdict] = {
    val expiry = expiredTimerInfo.getExpiryTimeInMs()
    val live =
      scala.collection.mutable.ArrayBuffer.empty[CurationStream.CellKeeper]
    val it = reg.get()
    while (it.hasNext) {
      val k = it.next()
      if (k.tsMillis + 2 * horizonMs > expiry) live += k
    }
    if (live.isEmpty) reg.clear() else reg.put(live.toArray)
    Iterator.empty
  }
}

/** Streaming semantic gate (r15 verdict ask #7): the embedding-space
  * analogue of the near-dup band gate, pinned against the BATCH
  * `semanticDedupOn` decision on a replayed slice — same frozen cells,
  * same int8 quantization, same exact integer dot, same floor, same
  * min-id dup_of. */
class SemDedupGateSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._
  private implicit def sqlCtx: org.apache.spark.sql.SQLContext =
    spark.sqlContext

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  // transformWithState requires the RocksDB provider (same fixture as
  // CurationStreamSpec's near-dup tests)
  private def withRocksDb[A](body: => A): A = {
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state." +
        "RocksDBStateStoreProvider")
    try body
    finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  /** Deterministic pseudo-random vector — same family the staging specs
    * use; near-dups are engineered as verbatim copies under new ids. */
  private def vec(i: Int): Array[Float] =
    Array.tabulate(64)(d => (((i * 31 + d * 7) % 13) - 6).toFloat / 6f)

  private val cfg = IvfConfig(centroidEvery = 10, centroidKey = 7,
    frozen = true)

  private def cellsOf(dir: String, q: Quantizer): CurationStream.GateCells =
    CurationStream.frozenGateIndex(spark, dir, q, None).cells

  private def cwIds(cb: CurationStream.GateCodebook): Seq[Long] =
    cb.slices.head.map(_._1).toSeq

  private def freshCorpus(): String = {
    val dir = java.nio.file.Files.createTempDirectory("semgate").toString
    // 40 base vectors plus re-crawled copies: 50/51/52 copy 5/12/23
    // (distinct cells), 53 copies 5 again (its dup_of must be the
    // SMALLEST match, 5, not 50)
    val rows = (0 until 40).map(i => (i.toLong, vec(i), i % 5)) ++
      Seq((50L, vec(5), 0), (51L, vec(12), 2), (52L, vec(23), 3),
        (53L, vec(5), 0))
    rows.toDF("vec_id", "embedding", "label")
      .repartition(2).write.parquet(s"$dir/embeddings.parquet")
    dir
  }

  test("streamed semantic verdicts equal the batch semanticDedup decision on a replayed slice") {
    val dir = freshCorpus()
    Staged.reset(spark)
    val batch = SimilarityQueries
      .semanticDedupWith(spark, dir, SemDedupConfig.Default,
        Quantizer.Rule(cfg))
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val cents = cellsOf(dir, Quantizer.Rule(cfg))
    withRocksDb {
    val input = MemoryStream[CurationStream.VecIn]
    val q = CurationStream.semDedupGate(input.toDS(), cents)
      .writeStream.outputMode("append").format("memory")
      .queryName("semgate").start()
    try {
      // replay the corpus in id order (the batch min-id rule's order),
      // all within one horizon, across TWO micro-batches
      val all = spark.read.parquet(s"$dir/embeddings.parquet")
        .orderBy("vec_id").collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      val (first, second) = all.splitAt(30)
      input.addData(first.zipWithIndex.map { case ((id, e), i) =>
        CurationStream.VecIn(id, e, ts(f"2024-05-01 10:00:${i % 60}%02d"))
      }.toSeq: _*)
      q.processAllAvailable()
      input.addData(second.zipWithIndex.map { case ((id, e), i) =>
        CurationStream.VecIn(id, e, ts(f"2024-05-01 10:01:${i % 60}%02d"))
      }.toSeq: _*)
      q.processAllAvailable()
      val verdicts = spark.table("semgate")
        .as[CurationStream.VecVerdict].collect()
      assert(verdicts.length === all.length,
        "one verdict per in-gate vector")
      val dropped = verdicts.filterNot(_.kept)
        .map(v => v.vecId -> (v.cid, v.dupOf)).toMap
      assert(dropped === batch,
        s"streamed drops must equal the batch decision\n" +
          s"stream: $dropped\nbatch:  $batch")
      // the engineered copies are among the drops (incidental
      // above-floor pairs may add more — parity above is the real pin),
      // and 53's anchor honors the min-id rule: never its later twin 50
      assert(Set(50L, 51L, 52L, 53L).subsetOf(dropped.keySet))
      assert(dropped(53L)._2 < 50L)
      // kept verdicts carry themselves as dupOf
      assert(verdicts.filter(_.kept).forall(v => v.dupOf == v.vecId))
    } finally q.stop()
    }
  }

  test("trained gate: streamed verdicts equal the batch decision over the TRAINED cells; keys carry the value digest (r18)") {
    import org.apache.spark.sql.functions.col
    val dir = freshCorpus()
    Staged.reset(spark)
    // batch decision over the frozen TRAINED cells — the same
    // semanticDedupOn core the rule parity test pins, refined geometry
    val q8t = spark.read.parquet(s"$dir/embeddings.parquet").selectExpr(
      "vec_id",
      "transform(CAST(embedding AS ARRAY<DOUBLE>), " +
        "v -> greatest(least(floor(v * 64D), 127D), -127D)) AS q8")
    val home = SimilarityQueries.ivfCells(spark, dir, Quantizer.Trained(cfg))
      .filter(col("rn") === 1).select(col("vec_id"), col("cid"))
    val batch = SimilarityQueries
      .semanticDedupOn(home, q8t, SemDedupConfig.Default)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    val homeMap = home.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val lits = cellsOf(dir, Quantizer.Trained(cfg))
    val digest = Quantizer.Trained(cfg).digest(spark, dir)
    assert(digest.length === 8, s"value digest must be 8 hex chars: $digest")
    withRocksDb {
    val input = MemoryStream[CurationStream.VecIn]
    val q = CurationStream.semDedupGate(input.toDS(), lits)
      .writeStream.outputMode("append").format("memory")
      .queryName("semgate_trained").start()
    try {
      val all = spark.read.parquet(s"$dir/embeddings.parquet")
        .orderBy("vec_id").collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      val (first, second) = all.splitAt(30)
      input.addData(first.zipWithIndex.map { case ((id, e), i) =>
        CurationStream.VecIn(id, e, ts(f"2024-05-01 10:00:${i % 60}%02d"))
      }.toSeq: _*)
      q.processAllAvailable()
      input.addData(second.zipWithIndex.map { case ((id, e), i) =>
        CurationStream.VecIn(id, e, ts(f"2024-05-01 10:01:${i % 60}%02d"))
      }.toSeq: _*)
      q.processAllAvailable()
      val verdicts = spark.table("semgate_trained")
        .as[CurationStream.VecVerdict].collect()
      assert(verdicts.length === all.length,
        "one verdict per in-gate vector")
      // per-vector home-cell parity: the streamed exact-integer d2
      // assignment must reproduce the staged trained-cell rows
      assert(verdicts.map(v => v.vecId -> v.cid).toMap === homeMap,
        "streamed trained cells must equal the staged assignment")
      val dropped = verdicts.filterNot(_.kept)
        .map(v => v.vecId -> (v.cid, v.dupOf)).toMap
      assert(dropped === batch,
        s"streamed trained-gate drops must equal the batch decision\n" +
          s"stream: $dropped\nbatch:  $batch")
      assert(verdicts.filter(_.kept).forall(v => v.dupOf == v.vecId))
    } finally q.stop()
    }
  }

  test("semantic gate horizon: a paraphrase re-crawl AFTER the horizon re-registers and is kept") {
    val dir = freshCorpus()
    Staged.reset(spark)
    val cents = cellsOf(dir, Quantizer.Rule(cfg))
    withRocksDb {
    val input = MemoryStream[CurationStream.VecIn]
    val q = CurationStream.semDedupGate(input.toDS(), cents,
      horizonMs = 60000L)
      .writeStream.outputMode("append").format("memory")
      .queryName("semgate_hz").start()
    try {
      input.addData(
        CurationStream.VecIn(1L, vec(5), ts("2024-05-01 10:00:00")))
      q.processAllAvailable()
      // in-horizon copy: dropped as 1's semantic dup
      input.addData(
        CurationStream.VecIn(2L, vec(5), ts("2024-05-01 10:00:30")))
      q.processAllAvailable()
      // past the horizon: the crawl moved on — re-admitted, re-registered
      input.addData(
        CurationStream.VecIn(3L, vec(5), ts("2024-05-01 10:02:00")))
      q.processAllAvailable()
      // and a copy within HIS horizon is dropped against him (min id in
      // window, not min id ever)
      input.addData(
        CurationStream.VecIn(4L, vec(5), ts("2024-05-01 10:02:30")))
      q.processAllAvailable()
      val out = spark.table("semgate_hz")
        .as[CurationStream.VecVerdict].collect()
        .map(v => v.vecId -> (v.kept, v.dupOf)).toMap
      assert(out(1L) === ((true, 1L)))
      assert(out(2L) === ((false, 1L)))
      assert(out(3L) === ((true, 3L)))
      assert(out(4L) === ((false, 3L)))
    } finally q.stop()
    }
  }

  test("semantic gate: a mis-dimensioned vector never drops on a prefix dot (r16 self-review)") {
    // batch vec_dot yields NULL on a length mismatch, which can never
    // clear the positive floor — the stream must agree (a truncated
    // prefix dot of an identical first half would wrongly drop)
    val dir = freshCorpus()
    Staged.reset(spark)
    val cents = cellsOf(dir, Quantizer.Rule(cfg))
    withRocksDb {
      val input = MemoryStream[CurationStream.VecIn]
      val q = CurationStream.semDedupGate(input.toDS(), cents)
        .writeStream.outputMode("append").format("memory")
        .queryName("semgate_dim").start()
      try {
        input.addData(
          CurationStream.VecIn(1L, vec(5), ts("2024-05-01 10:00:00")))
        q.processAllAvailable()
        // the corrupt vector: vec(5)'s first 32 dims — its prefix dot
        // against keeper 1 is huge, but the batch rule calls it NO MATCH
        input.addData(
          CurationStream.VecIn(2L, vec(5).take(32),
            ts("2024-05-01 10:00:30")))
        q.processAllAvailable()
        val out = spark.table("semgate_dim")
          .as[CurationStream.VecVerdict].collect()
          .map(v => v.vecId -> v.kept).toMap
        assert(out(2L) === true,
          s"mismatched dims must never match a keeper: $out")
      } finally q.stop()
    }
  }

  test("composed re-founding lifecycle: a mid-stream re-found + checkpoint restart decides like a fresh replay, and old-prefix state evicts within a horizon (r16 verdict #4)") {
    // The operational flow asserted END TO END (previously only
    // piecewise): a gate runs against founding centroids; the corpus
    // takes a drifted drop that REFUSES the frozen delta and re-founds
    // the quantizer (staged delta-refused -> cold, digest moves); the
    // STREAM restarts from its checkpoint with the new centroid set.
    // Every post-restart decision must equal a fresh-start replay of the
    // post-restart inputs (the digest-prefixed keyspace makes old-cell
    // keepers unreachable — no decision is ever made against mixed cell
    // definitions), and the old-prefix state must evict via its
    // event-time timers within one horizon of the stream moving on.
    val dir = freshCorpus()
    Staged.evict(spark)
    val stageRoot =
      java.nio.file.Files.createTempDirectory("sg_refound_stage").toString
    Staged.enablePersist(stageRoot)
    val cfgF = IvfConfig(centroidEvery = 10, centroidKey = 7,
      frozen = true, driftFractionMax = 0.0)
    val centStage = "ivf_centroids.v2@10:7:2:d0.0"
    def centModes: Seq[String] = Staged.buildLogSnapshot.collect {
      case (s, m) if s == centStage => m }
    try {
      val cents1 = cellsOf(dir, Quantizer.Rule(cfgF))
      assert(cents1.cids.toSet === Set(7L, 17L, 27L, 37L))
      withRocksDb {
        val ckpt =
          java.nio.file.Files.createTempDirectory("sg_rf_ckpt").toString
        val outDir =
          java.nio.file.Files.createTempDirectory("sg_rf_out").toString
        def start(input: MemoryStream[CurationStream.VecIn],
            cents: CurationStream.GateCells) =
          CurationStream.semDedupGate(input.toDS(), cents).writeStream
            .outputMode("append").format("parquet")
            .option("path", outDir).option("checkpointLocation", ckpt)
            .start()
        // phase 1: two keepers registered under the FOUNDING prefix
        val batch1 = Seq(
          CurationStream.VecIn(1L, vec(5), ts("2024-05-01 10:00:00")),
          CurationStream.VecIn(2L, vec(12), ts("2024-05-01 10:00:01")))
        val input1 = MemoryStream[CurationStream.VecIn]
        val q1 = start(input1, cents1)
        try {
          input1.addData(batch1: _*)
          q1.processAllAvailable()
          assert(spark.read.parquet(outDir).count() === 2)
        } finally q1.stop()
        // the RE-FOUND, mid-stream: a drifted crawl drop (every vector a
        // copy of new rule id 107's) refuses the zero-tolerance frozen
        // delta and re-trains over the grown corpus
        import spark.implicits._
        (100 until 110).map(i => (i.toLong, vec(107), (i % 5).toInt))
          .toDF("vec_id", "embedding", "label").repartition(2)
          .write.mode("append").parquet(s"$dir/embeddings.parquet")
        Staged.reset(spark)
        Staged.clearBuildLog()
        val cents2 = cellsOf(dir, Quantizer.Rule(cfgF))
        assert(centModes === Seq("delta-refused", "cold"),
          s"the drop must refuse the frozen delta and re-found: " +
            s"${Staged.buildLogSnapshot}")
        assert(cents2.cids.toSet === Set(7L, 17L, 27L, 37L, 107L))
        assert(cents1.prefix !== cents2.prefix,
          "a re-founding must move the stream's state-key prefix")
        // phase 2: restart FROM THE CHECKPOINT with the re-founded set.
        // Post-restart inputs: a twin of phase-1 keeper 1 (id 10, still
        // inside phase 1's horizon), an intra-batch near-dup pair
        // (140/141), and an unrelated vector.
        val post = Seq(
          CurationStream.VecIn(10L, vec(5), ts("2024-05-01 10:20:00")),
          CurationStream.VecIn(140L, vec(107), ts("2024-05-01 10:20:01")),
          CurationStream.VecIn(141L, vec(107), ts("2024-05-01 10:20:02")),
          CurationStream.VecIn(12L, vec(30), ts("2024-05-01 10:20:03")))
        val input2 = MemoryStream[CurationStream.VecIn]
        input2.addData(batch1: _*) // committed offsets — not reprocessed
        val q2 = start(input2, cents2)
        val (postRows, evictedRows) =
          try {
            input2.addData(post: _*)
            q2.processAllAvailable()
            val afterPost = q2.lastProgress.stateOperators
              .map(_.numRowsTotal).sum
            // drive the watermark one horizon past EVERYTHING above
            // (14:00 - 1h = 13:00 > every ts + 2x1h horizon except its
            // own), then one more batch so the fired timers' eviction is
            // visible in the progress metrics
            input2.addData(CurationStream.VecIn(900L, vec(9),
              ts("2024-05-01 14:00:00")))
            q2.processAllAvailable()
            input2.addData(CurationStream.VecIn(901L, vec(21),
              ts("2024-05-01 14:00:01")))
            q2.processAllAvailable()
            val afterEvict = q2.lastProgress.stateOperators
              .map(_.numRowsTotal).sum
            (afterPost, afterEvict)
          } finally q2.stop()
        // eviction: the restored old-prefix keepers (and the already-
        // expired new-prefix ones) are gone within a horizon of the
        // stream moving on — state is bounded by rate x horizon, never
        // by history
        assert(evictedRows < postRows,
          s"old-prefix state must evict: $postRows -> $evictedRows")
        assert(evictedRows <= 2L,
          s"only the fresh keepers may remain: $evictedRows")
        val restarted = spark.read.parquet(outDir)
          .as[CurationStream.VecVerdict].collect()
          .filter(v => post.map(_.vecId).contains(v.vecId))
          .map(v => v.vecId -> (v.cid, v.kept, v.dupOf)).toMap
        // fresh-start replay of ONLY the post-restart inputs under the
        // re-founded set: decisions must be IDENTICAL — the restart
        // carried no decision across the re-founding
        val input3 = MemoryStream[CurationStream.VecIn]
        val q3 = CurationStream.semDedupGate(input3.toDS(), cents2)
          .writeStream.outputMode("append").format("memory")
          .queryName("sg_rf_fresh").start()
        val fresh =
          try {
            input3.addData(post: _*)
            q3.processAllAvailable()
            spark.table("sg_rf_fresh")
              .as[CurationStream.VecVerdict].collect()
              .map(v => v.vecId -> (v.cid, v.kept, v.dupOf)).toMap
          } finally q3.stop()
        assert(restarted === fresh,
          s"post-restart decisions must equal a fresh replay\n" +
            s"restarted: $restarted\nfresh: $fresh")
        // and the pair decision is the meaningful one: 141 dropped
        // against 140 inside the NEW cell 107; the phase-1 twin (10) is
        // KEPT — the old keeper is unreachable by construction
        assert(fresh(141L) === ((107L, false, 140L)))
        assert(fresh(10L)._2 === true)
      }
    } finally {
      Staged.disablePersist()
      Staged.reset(spark)
    }
  }

  test("trained gate re-founding lifecycle: coverage refusal re-trains, the VALUE digest moves the keyspace, restart decides like a fresh replay (r18)") {
    // The rule gate's composed lifecycle (r16 verdict #4), for the
    // TRAINED quantizer — with the one difference that matters: a
    // re-training keeps the seed ids and moves the VALUES, so the
    // keyspace must move on the value digest (an id digest would leave
    // pre- and post-training keepers silently comparable).
    // Corpus: the frozen-trained staging spec's tight clusters (A/B/C on
    // ids 0-29, one rule seed each, founding radii exactly 1), so the
    // coverage probe is a sharp deterministic yardstick.
    import spark.implicits._
    def cvec(i: Int): Array[Float] = Array.tabulate(64) { d =>
      val b = if (i % 100 < 10) { if (d <= 20) 8 else 0 }
        else if (i % 100 < 20) { if (d <= 20) -8 else 0 }
        else if (i % 100 < 30) { if (d >= 43) 8 else 0 }
        // cluster D (the drift drop): amplitude 16 so two D twins clear
        // the default dot floor (16²·11 dims = 2816 ≥ 1000; at 8 the
        // self-dot 705 would sit below it and the pair decision leg
        // would be vacuous)
        else { if (d >= 30 && d <= 40) 16 else 0 }
      ((b + (if (d == i % 64) 1 else 0)) / 64.0).toFloat
    }
    val dir = java.nio.file.Files.createTempDirectory("sgt_refound").toString
    (0 until 30).map(i => (i.toLong, cvec(i), i % 5))
      .toDF("vec_id", "embedding", "label").repartition(2)
      .write.parquet(s"$dir/embeddings.parquet")
    Staged.evict(spark)
    val stageRoot =
      java.nio.file.Files.createTempDirectory("sgt_rf_stage").toString
    Staged.enablePersist(stageRoot)
    val cfgF = IvfConfig(centroidEvery = 10, centroidKey = 7,
      frozen = true, driftFractionMax = 0.0)
    val centsStage = "ivf_refined_cents@10:7:2:L2:d0.0+frz"
    def centModes: Seq[String] = Staged.buildLogSnapshot.collect {
      case (s, m) if s == centsStage => m }
    try {
      val lits1 = cellsOf(dir, Quantizer.Trained(cfgF))
      val dig1 = Quantizer.Trained(cfgF).digest(spark, dir)
      assert(lits1.cids.toSet === Set(7L, 17L, 27L))
      withRocksDb {
        val ckpt =
          java.nio.file.Files.createTempDirectory("sgt_rf_ckpt").toString
        val outDir =
          java.nio.file.Files.createTempDirectory("sgt_rf_out").toString
        def start(input: MemoryStream[CurationStream.VecIn],
            lits: CurationStream.GateCells) =
          CurationStream.semDedupGate(input.toDS(), lits)
            .writeStream.outputMode("append").format("parquet")
            .option("path", outDir).option("checkpointLocation", ckpt)
            .start()
        // phase 1: an A keeper and a B keeper under the founding digest
        val batch1 = Seq(
          CurationStream.VecIn(1L, cvec(3), ts("2024-05-01 10:00:00")),
          CurationStream.VecIn(2L, cvec(13), ts("2024-05-01 10:00:01")))
        val input1 = MemoryStream[CurationStream.VecIn]
        val q1 = start(input1, lits1)
        try {
          input1.addData(batch1: _*)
          q1.processAllAvailable()
          assert(spark.read.parquet(outDir).count() === 2)
        } finally q1.stop()
        // the re-train, mid-stream: cluster D lands (far outside every
        // rr0 = 1 founding radius) — coverage drift 1.0 > 0.0 refuses
        // and re-trains over the grown corpus; D's rule id 1037 joins
        // the seed set and every centroid VALUE moves
        (1030 until 1040).map(i => (i.toLong, cvec(i), i % 5))
          .toDF("vec_id", "embedding", "label").repartition(2)
          .write.mode("append").parquet(s"$dir/embeddings.parquet")
        Staged.reset(spark)
        Staged.clearBuildLog()
        val lits2 = cellsOf(dir, Quantizer.Trained(cfgF))
        val dig2 = Quantizer.Trained(cfgF).digest(spark, dir)
        assert(centModes === Seq("delta-refused", "cold"),
          s"cluster D must refuse the coverage probe and re-train: " +
            s"${Staged.buildLogSnapshot}")
        assert(lits2.cids.toSet === Set(7L, 17L, 27L, 1037L))
        assert(dig1 !== dig2,
          "a re-training must move the VALUE digest (ids alone would not)")
        assert(lits1.prefix !== lits2.prefix)
        // phase 2: restart from the checkpoint with the re-trained set;
        // post-restart decisions must equal a fresh replay — the old-
        // digest keepers are unreachable by construction
        val post = Seq(
          CurationStream.VecIn(10L, cvec(3), ts("2024-05-01 10:20:00")),
          CurationStream.VecIn(140L, cvec(1035), ts("2024-05-01 10:20:01")),
          CurationStream.VecIn(141L, cvec(1035), ts("2024-05-01 10:20:02")),
          CurationStream.VecIn(12L, cvec(23), ts("2024-05-01 10:20:03")))
        val input2 = MemoryStream[CurationStream.VecIn]
        input2.addData(batch1: _*) // committed offsets — not reprocessed
        val q2 = start(input2, lits2)
        val (postRows, evictedRows) =
          try {
            input2.addData(post: _*)
            q2.processAllAvailable()
            val afterPost = q2.lastProgress.stateOperators
              .map(_.numRowsTotal).sum
            input2.addData(CurationStream.VecIn(900L, cvec(9),
              ts("2024-05-01 14:00:00")))
            q2.processAllAvailable()
            input2.addData(CurationStream.VecIn(901L, cvec(21),
              ts("2024-05-01 14:00:01")))
            q2.processAllAvailable()
            val afterEvict = q2.lastProgress.stateOperators
              .map(_.numRowsTotal).sum
            (afterPost, afterEvict)
          } finally q2.stop()
        assert(evictedRows < postRows,
          s"old-digest state must evict: $postRows -> $evictedRows")
        assert(evictedRows <= 2L,
          s"only the fresh keepers may remain: $evictedRows")
        val restarted = spark.read.parquet(outDir)
          .as[CurationStream.VecVerdict].collect()
          .filter(v => post.map(_.vecId).contains(v.vecId))
          .map(v => v.vecId -> (v.cid, v.kept, v.dupOf)).toMap
        val input3 = MemoryStream[CurationStream.VecIn]
        val q3 = CurationStream.semDedupGate(input3.toDS(), lits2)
          .writeStream.outputMode("append").format("memory")
          .queryName("sgt_rf_fresh").start()
        val fresh =
          try {
            input3.addData(post: _*)
            q3.processAllAvailable()
            spark.table("sgt_rf_fresh")
              .as[CurationStream.VecVerdict].collect()
              .map(v => v.vecId -> (v.cid, v.kept, v.dupOf)).toMap
          } finally q3.stop()
        assert(restarted === fresh,
          s"post-restart decisions must equal a fresh replay\n" +
            s"restarted: $restarted\nfresh: $fresh")
        // the meaningful decisions: 141 drops against 140 inside the
        // NEW cluster-D cell (seed 1037), and the phase-1 twin (10) is
        // kept — its pre-re-training keeper lives under the old digest
        assert(fresh(141L) === ((1037L, false, 140L)))
        assert(fresh(10L)._2 === true)
      }
    } finally {
      Staged.disablePersist()
      Staged.reset(spark)
    }
  }

  test("semDedupGateCoded: streamed PQ codes are byte-identical to the batch pq_codes rows; decisions unchanged (r16 verdict #8)") {
    import graft.operators.PqConfig
    val dir = freshCorpus()
    Staged.reset(spark)
    val pqCfg = PqConfig(cwEvery = 10, cwKey = 7, frozen = true)
    val idx = CurationStream.frozenGateIndex(spark, dir, Quantizer.Rule(cfg),
      Some(pqCfg))
    val (cents, cws) = (idx.cells, idx.codebook.get)
    assert(cwIds(cws) === Seq(7L, 17L, 27L, 37L))
    // the batch index rows the stream must reproduce: (vec_id, off, code)
    val batch = SimilarityQueries.pqCodes(spark, dir, Codebook.Rule(pqCfg)).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val all = spark.read.parquet(s"$dir/embeddings.parquet")
      .orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    withRocksDb {
      val input = MemoryStream[CurationStream.VecIn]
      val q = CurationStream.semDedupGateCoded(input.toDS(), cents, cws)
        .writeStream.outputMode("append").format("memory")
        .queryName("sg_coded").start()
      val coded =
        try {
          input.addData(all.zipWithIndex.map { case ((id, e), i) =>
            CurationStream.VecIn(id, e,
              ts(f"2024-05-01 10:00:${i % 60}%02d"))
          }.toSeq: _*)
          q.processAllAvailable()
          spark.table("sg_coded")
            .as[CurationStream.VecVerdictCoded].collect()
        } finally q.stop()
      assert(coded.length === all.length)
      for (v <- coded) {
        assert(v.codes.length === 8, s"vec ${v.vecId}: 8 subspace codes")
        for (s <- 0 until 8)
          assert(v.codes(s) === batch((v.vecId, s * 8 + 1L)),
            s"vec ${v.vecId} subspace $s: streamed ${v.codes(s)} != " +
              s"batch ${batch((v.vecId, s * 8 + 1L))}")
      }
      // rrv (r18): every verdict carries the exact squared PQ residual
      // — value-identical to the batch pq_resid stage's row, so
      // streamed rows can feed an index serving the EXACT range
      // prefilter without a second encode
      val batchResid = SimilarityQueries.pqResiduals(spark, dir, Codebook.Rule(pqCfg))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      for (v <- coded)
        assert(v.rrv === batchResid(v.vecId),
          s"vec ${v.vecId}: streamed rrv ${v.rrv} != batch " +
            s"${batchResid(v.vecId)}")
      // codes are a pure add-on: the verdicts equal the plain gate's on
      // the same replay
      val input2 = MemoryStream[CurationStream.VecIn]
      val q2 = CurationStream.semDedupGate(input2.toDS(), cents)
        .writeStream.outputMode("append").format("memory")
        .queryName("sg_plain").start()
      val plain =
        try {
          input2.addData(all.zipWithIndex.map { case ((id, e), i) =>
            CurationStream.VecIn(id, e,
              ts(f"2024-05-01 10:00:${i % 60}%02d"))
          }.toSeq: _*)
          q2.processAllAvailable()
          spark.table("sg_plain").as[CurationStream.VecVerdict].collect()
            .map(v => v.vecId -> (v.cid, v.kept, v.dupOf)).toMap
        } finally q2.stop()
      assert(coded.map(v => v.vecId -> (v.cid, v.kept, v.dupOf)).toMap
        === plain, "the coded gate must decide exactly like the plain one")
      // a mis-dimensioned vector emits NO codes (never a prefix encode)
      val input3 = MemoryStream[CurationStream.VecIn]
      val q3 = CurationStream.semDedupGateCoded(input3.toDS(), cents, cws)
        .writeStream.outputMode("append").format("memory")
        .queryName("sg_dim").start()
      try {
        input3.addData(CurationStream.VecIn(999L, vec(5).take(32),
          ts("2024-05-01 10:00:00")))
        q3.processAllAvailable()
        val v = spark.table("sg_dim")
          .as[CurationStream.VecVerdictCoded].collect().head
        assert(v.codes.isEmpty,
          s"a 32-dim vector must not prefix-encode: ${v.codes.toSeq}")
        assert(v.rrv === -1L,
          s"a non-encodable vector must carry rrv = -1, never a " +
            s"partial sum: ${v.rrv}")
      } finally q3.stop()
      // cbDigest (r17 verdict #2): every verdict stamps the codebook's
      // live-id-set digest, and the VALUE is the staged pq_codes key's
      // +frz component — pinned against the persisted stage NAME the
      // build log records, not a re-derived digest
      val digests = coded.map(_.cbDigest).toSet
      assert(digests.size === 1, s"one codebook, one digest: $digests")
      val root = java.nio.file.Files.createTempDirectory("sg_cbd").toString
      Staged.enablePersist(root)
      try {
        Staged.reset(spark)
        Staged.clearBuildLog()
        SimilarityQueries.pqCodes(spark, dir, Codebook.Rule(pqCfg)).count()
        val key = Staged.buildLogSnapshot.collect {
          case (s, _) if s.startsWith("pq_codes@") => s
        }.head
        assert(key.endsWith("+frz" + digests.head),
          s"verdict cbDigest must be the staged codes key's frz " +
            s"component: $key vs ${digests.head}")
      } finally {
        Staged.disablePersist()
        Staged.reset(spark)
      }
      // rows straddling a re-founding carry DISTINCT digests: the same
      // corpus under a capped codebook is a different live set — a
      // restarted intake stamps the new identity, so a consumer folding
      // streamed rows into an index can never mix code spaces silently
      val cws2 = CurationStream.frozenGateIndex(spark, dir,
        Quantizer.Rule(cfg), Some(pqCfg.copy(maxCodewords = Some(2L))))
        .codebook.get
      assert(cwIds(cws2) === Seq(7L, 17L))
      val input4 = MemoryStream[CurationStream.VecIn]
      val q4 = CurationStream.semDedupGateCoded(input4.toDS(), cents, cws2)
        .writeStream.outputMode("append").format("memory")
        .queryName("sg_refound").start()
      try {
        input4.addData(CurationStream.VecIn(1000L, vec(5),
          ts("2024-05-01 10:00:00")))
        q4.processAllAvailable()
        val v4 = spark.table("sg_refound")
          .as[CurationStream.VecVerdictCoded].collect().head
        assert(v4.cbDigest !== digests.head,
          "a re-founded codebook must stamp a distinct digest")
        assert(v4.cbDigest === SimilarityQueries.longsDigest(
          cwIds(cws2).sorted), "the digest is the live id-set digest")
      } finally q4.stop()
    }
  }

  test("semDedupGateCoded over a trained frozenGateIndex: streamed codes byte-equal the batch pq_refined_codes rows; cbDigest is the staged key's frz VALUE digest (r19)") {
    import graft.operators.PqConfig
    val dir = freshCorpus()
    Staged.reset(spark)
    val pqCfg = PqConfig(cwEvery = 10, cwKey = 7, frozen = true)
    val tidx = CurationStream.frozenGateIndex(spark, dir,
      Quantizer.Trained(cfg), Some(pqCfg))
    val (tcents, tcws) = (tidx.cells, tidx.codebook.get)
    val cbDig = tcws.digest
    assert(tcws.slices.map(_.length).sum === 4 * 8,
      "4 trained codewords × 8 subspaces")
    // the batch index rows the stream must reproduce — the TRAINED
    // codes table (frozen mode: encode against the frozen trained
    // codebook), plus the trained home cells
    val batch = SimilarityQueries.pqCodes(spark, dir, Codebook.Trained(pqCfg))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    val homes = SimilarityQueries.ivfCells(spark, dir, Quantizer.Trained(cfg))
      .filter($"rn" === 1).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val all = spark.read.parquet(s"$dir/embeddings.parquet")
      .orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    withRocksDb {
      val input = MemoryStream[CurationStream.VecIn]
      val q = CurationStream.semDedupGateCoded(input.toDS(), tcents, tcws)
        .writeStream.outputMode("append").format("memory")
        .queryName("sg_tcoded").start()
      val coded =
        try {
          input.addData(all.zipWithIndex.map { case ((id, e), i) =>
            CurationStream.VecIn(id, e,
              ts(f"2024-05-01 10:00:${i % 60}%02d"))
          }.toSeq: _*)
          q.processAllAvailable()
          spark.table("sg_tcoded")
            .as[CurationStream.VecVerdictCoded].collect()
        } finally q.stop()
      assert(coded.length === all.length)
      for (v <- coded) {
        assert(v.cid === homes(v.vecId),
          s"vec ${v.vecId}: streamed trained cell ${v.cid} != batch " +
            s"${homes(v.vecId)}")
        assert(v.codes.length === 8, s"vec ${v.vecId}: 8 subspace codes")
        for (s <- 0 until 8)
          assert(v.codes(s) === batch((v.vecId, s * 8 + 1L)),
            s"vec ${v.vecId} subspace $s: streamed ${v.codes(s)} != " +
              s"batch ${batch((v.vecId, s * 8 + 1L))}")
      }
      // rrv: golden-recomputed against the codebook literals — the
      // residual ceiling consistent with TRAINED codes (the verdict
      // scaladoc's contract)
      val bySub = tcws.slices
      for ((id, e) <- all) {
        val q8 = e.map(x =>
          math.max(-127.0, math.min(127.0, math.floor(x * 64.0))).toLong)
        val exp = (0 until 8).map { s =>
          bySub(s).map { cw =>
            (0 until 8).map { j =>
              val d = q8(s * 8 + j) - cw._2(j).toLong
              d * d
            }.sum
          }.min
        }.sum
        val got = coded.find(_.vecId == id).get.rrv
        assert(got === exp,
          s"vec $id: streamed trained rrv $got != golden $exp")
      }
      // decisions equal the plain trained gate's on the same replay —
      // trained codes are a pure add-on
      val input2 = MemoryStream[CurationStream.VecIn]
      val q2 = CurationStream.semDedupGate(input2.toDS(), tcents)
        .writeStream.outputMode("append").format("memory")
        .queryName("sg_tplain").start()
      val plain =
        try {
          input2.addData(all.zipWithIndex.map { case ((id, e), i) =>
            CurationStream.VecIn(id, e,
              ts(f"2024-05-01 10:00:${i % 60}%02d"))
          }.toSeq: _*)
          q2.processAllAvailable()
          spark.table("sg_tplain").as[CurationStream.VecVerdict].collect()
            .map(v => v.vecId -> (v.cid, v.kept, v.dupOf)).toMap
        } finally q2.stop()
      assert(coded.map(v => v.vecId -> (v.cid, v.kept, v.dupOf)).toMap
        === plain,
        "the trained coded gate must decide exactly like the plain " +
          "trained one")
      // cbDigest: the VALUE digest (longsDigest over the codebook rows)
      // — pinned against the persisted trained-codes stage NAME, so a
      // re-TRAINING (which moves values under stable cw_ids) provably
      // moves both
      val digests = coded.map(_.cbDigest).toSet
      assert(digests === Set(cbDig), s"one codebook, one digest: $digests")
      val root = java.nio.file.Files.createTempDirectory("sg_tcbd").toString
      Staged.enablePersist(root)
      try {
        Staged.reset(spark)
        Staged.clearBuildLog()
        SimilarityQueries.pqCodes(spark, dir, Codebook.Trained(pqCfg)).count()
        val key = Staged.buildLogSnapshot.collect {
          case (s, _) if s.startsWith("pq_refined_codes@") => s
        }.head
        assert(key.endsWith("+frz" + cbDig),
          s"verdict cbDigest must be the staged trained-codes key's frz " +
            s"component: $key vs $cbDig")
      } finally {
        Staged.disablePersist()
        Staged.reset(spark)
      }
    }
  }

  test("semantic gate: cell registry survives a checkpointed restart") {
    // a paraphrase re-crawl arriving AFTER a restart must still dot
    // against the keeper registered BEFORE it — RocksDB state restore
    // over the ListState, the near-dup gate's restart discipline
    val dir = freshCorpus()
    Staged.reset(spark)
    val cents = cellsOf(dir, Quantizer.Rule(cfg))
    withRocksDb {
      val ckpt = java.nio.file.Files.createTempDirectory("sg_ckpt").toString
      val outDir = java.nio.file.Files.createTempDirectory("sg_out").toString
      def start(input: MemoryStream[CurationStream.VecIn]) =
        CurationStream.semDedupGate(input.toDS(), cents).writeStream
          .outputMode("append").format("parquet")
          .option("path", outDir).option("checkpointLocation", ckpt).start()
      val batch1 = Seq(
        CurationStream.VecIn(1L, vec(5), ts("2024-05-01 10:00:00")),
        CurationStream.VecIn(2L, vec(12), ts("2024-05-01 10:00:01")))
      val input1 = MemoryStream[CurationStream.VecIn]
      val q1 = start(input1)
      try {
        input1.addData(batch1: _*)
        q1.processAllAvailable()
        assert(spark.read.parquet(outDir).count() === 2)
      } finally q1.stop()
      val input2 = MemoryStream[CurationStream.VecIn]
      input2.addData(batch1: _*) // restart replays the committed batch
      val q2 = start(input2)
      try {
        input2.addData(
          // semantic copy of vec 1, in-horizon: the restored registry
          // must drop it and anchor on the pre-restart keeper
          CurationStream.VecIn(10L, vec(5), ts("2024-05-01 10:20:00")),
          CurationStream.VecIn(11L, vec(30), ts("2024-05-01 10:20:01")))
        q2.processAllAvailable()
        val out = spark.read.parquet(outDir)
          .as[CurationStream.VecVerdict].collect()
          .map(v => v.vecId -> (v.kept, v.dupOf)).toMap
        assert(out(10L) === ((false, 1L)),
          s"restored registry must drop the post-restart copy: $out")
        assert(out(11L)._1 === true)
      } finally q2.stop()
    }
  }

  /** The r16 gate replicated end-to-end over [[LegacyCellProbe]] — the
    * same assignment/quantization arithmetic as today's probe map, minus
    * the codes field the r17 probe added. */
  private def legacyGate(
      ds: org.apache.spark.sql.Dataset[CurationStream.VecIn],
      cells: CurationStream.RuleCells,
      horizonMs: Long = 3600000L)
      : org.apache.spark.sql.Dataset[CurationStream.VecVerdict] = {
    import org.apache.spark.sql.streaming.OutputMode
    val prefix = cells.prefix
    val probes = ds.map { v =>
      val emb = new Array[Double](v.embedding.length)
      var ss = 0.0
      var i = 0
      while (i < emb.length) {
        emb(i) = v.embedding(i).toDouble
        ss += emb(i) * emb(i)
        i += 1
      }
      val norm = math.sqrt(ss)
      var best = 0
      var bestCos = Double.NegativeInfinity
      var c = 0
      while (c < cells.cids.length) {
        val ce = cells.cemb(c)
        val n = math.min(emb.length, ce.length)
        var d = 0.0
        var j = 0
        while (j < n) { d += emb(j) * ce(j); j += 1 }
        val cos = d / (norm * cells.cnorm(c))
        if (cos > bestCos) { bestCos = cos; best = c }
        c += 1
      }
      val q8 = new Array[Byte](emb.length)
      i = 0
      while (i < emb.length) {
        val q = math.floor(emb(i) * 64.0)
        q8(i) = math.max(-127.0, math.min(127.0, q)).toByte
        i += 1
      }
      LegacyCellProbe(s"$prefix#${cells.cids(best)}", cells.cids(best),
        v.vecId, q8, v.fetchTs)
    }
    probes
      .withWatermark("fetchTs", s"$horizonMs milliseconds")
      .groupByKey(_.cellKey)
      .transformWithState(
        new LegacyCellRegistryProcessor(horizonMs,
          SemDedupConfig.Default.dotFloor),
        "fetchTs", org.apache.spark.sql.streaming.OutputMode.Append())
  }

  test("cross-shape restore: a checkpoint written by the PRE-codes probe shape restores under today's gate (r17 ADVICE)") {
    // StateSchemas' claim in code: the r17 probe-row change (codes) and
    // the r18 verdict change (cbDigest) ride input/output rows only —
    // a checkpoint a pre-codes binary wrote (replicated verbatim by
    // LegacyCellRegistryProcessor) restores under TODAY'S gate, and the
    // pre-restart keepers still decide post-restart probes.
    val dir = freshCorpus()
    Staged.reset(spark)
    val cents = cellsOf(dir, Quantizer.Rule(cfg)) match {
      case r: CurationStream.RuleCells => r
      case other => fail(s"a rule quantizer must load rule cells: $other")
    }
    withRocksDb {
      val ckpt =
        java.nio.file.Files.createTempDirectory("sg_xshape_ckpt").toString
      val outDir =
        java.nio.file.Files.createTempDirectory("sg_xshape_out").toString
      val batch1 = Seq(
        CurationStream.VecIn(1L, vec(5), ts("2024-05-01 10:00:00")),
        CurationStream.VecIn(2L, vec(12), ts("2024-05-01 10:00:01")))
      // leg 1: the LEGACY shape writes the checkpoint
      val input1 = MemoryStream[CurationStream.VecIn]
      val q1 = legacyGate(input1.toDS(), cents).writeStream
        .outputMode("append").format("parquet")
        .option("path", outDir).option("checkpointLocation", ckpt).start()
      try {
        input1.addData(batch1: _*)
        q1.processAllAvailable()
        assert(spark.read.parquet(outDir).count() === 2)
      } finally q1.stop()
      // leg 2: TODAY'S gate (probe carries codes) restores the same
      // checkpoint — the state/key schema is unchanged, so Spark must
      // accept it, and the legacy-written keeper for vec 1 must still
      // suppress its post-restart copy
      val input2 = MemoryStream[CurationStream.VecIn]
      input2.addData(batch1: _*) // restart replays the committed batch
      val q2 = CurationStream.semDedupGate(input2.toDS(), cents)
        .writeStream.outputMode("append").format("parquet")
        .option("path", outDir).option("checkpointLocation", ckpt).start()
      try {
        input2.addData(
          CurationStream.VecIn(10L, vec(5), ts("2024-05-01 10:20:00")),
          CurationStream.VecIn(11L, vec(30), ts("2024-05-01 10:20:01")))
        q2.processAllAvailable()
        val out = spark.read.parquet(outDir)
          .as[CurationStream.VecVerdict].collect()
          .map(v => v.vecId -> (v.kept, v.dupOf)).toMap
        assert(out(10L) === ((false, 1L)),
          s"the keeper a PRE-codes binary registered must survive the " +
            s"shape change and drop the copy: $out")
        assert(out(11L)._1 === true)
      } finally q2.stop()
    }
  }
}
