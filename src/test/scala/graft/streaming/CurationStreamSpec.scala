package graft.streaming

import java.sql.Timestamp

import graft.TestSpark
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

/** Streaming curation intake: quality gate + watermarked content dedup
  * driven through real micro-batches (MemoryStream), so state eviction and
  * append semantics are what's tested, not plan construction. */
class CurationStreamSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._
  private implicit def sqlCtx: org.apache.spark.sql.SQLContext =
    spark.sqlContext

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  private val goodText = "the quick brown fox jumps over the lazy dog"

  test("quality gate and re-crawl dedup across micro-batches") {
    val input = MemoryStream[DocIn]
    val q = CurationStream.curate(input.toDS()).writeStream
      .outputMode("append").format("memory").queryName("cur_stream").start()
    try {
      input.addData(
        DocIn(1, "crawl0", goodText, ts("2024-05-01 10:00:00")),
        // all-short tokens: nStop (0) is not > nShort — gated out
        DocIn(2, "crawl0", "x y z w v u", ts("2024-05-01 10:00:01")),
        DocIn(3, "crawl1", "the cat sat near the warm mat", ts("2024-05-01 10:00:02")))
      q.processAllAvailable()
      input.addData(
        // re-crawl of doc 1's content: new id, new source, later fetch —
        // content-identical, must be dropped by the hash dedup
        DocIn(10, "crawl1", goodText, ts("2024-05-01 10:05:00")),
        DocIn(11, "crawl1", "the stitch and the time saves nine stitches",
          ts("2024-05-01 10:05:01")))
      q.processAllAvailable()
      val out = spark.table("cur_stream").as[DocCurated].collect()
      assert(out.map(_.docId).sorted.toSeq === Seq(1L, 3L, 11L))
      // stats carried through: doc 1 has 9 tokens, "the" twice
      val d1 = out.find(_.docId == 1L).get
      assert(d1.nTok === 9L && d1.nStop === 2L)
      assert(out.map(_.contentHash).distinct.length === out.length)
    } finally q.stop()
  }

  test("dedup state survives a checkpointed restart") {
    // crawl intake restarts all the time; a re-crawl arriving AFTER the
    // restart must still hit the content hash seen BEFORE it
    // parquet sink: the memory sink refuses checkpoint recovery
    val ckpt = java.nio.file.Files.createTempDirectory("cur_ckpt").toString
    val outDir = java.nio.file.Files.createTempDirectory("cur_out").toString
    def start(input: MemoryStream[DocIn]) =
      CurationStream.curate(input.toDS()).writeStream
        .outputMode("append").format("parquet")
        .option("path", outDir).option("checkpointLocation", ckpt).start()
    val input1 = MemoryStream[DocIn]
    val q1 = start(input1)
    try {
      input1.addData(DocIn(1, "crawl0", goodText, ts("2024-05-01 10:00:00")))
      q1.processAllAvailable()
      assert(spark.read.parquet(outDir).count() === 1)
    } finally q1.stop()
    val input2 = MemoryStream[DocIn]
    // the restarted source must resume at the committed offset: replay the
    // first batch (as a restart would), then the post-restart data
    input2.addData(DocIn(1, "crawl0", goodText, ts("2024-05-01 10:00:00")))
    val q2 = start(input2)
    try {
      input2.addData(
        DocIn(10, "crawl1", goodText, ts("2024-05-01 10:05:00")), // re-crawl
        DocIn(11, "crawl1", "the stitch and the time saves nine stitches",
          ts("2024-05-01 10:05:01")))
      q2.processAllAvailable()
      val ids = spark.read.parquet(outDir).select("docId")
        .as[Long].collect().sorted
      assert(ids.toSeq === Seq(1L, 11L),
        "the pre-restart content hash must still suppress the re-crawl")
    } finally q2.stop()
  }

  test("stream gate agrees with the batch pipeline's explode/agg formulation of the cut") {
    // drift detector: the gate's array-expression cut vs an INDEPENDENT
    // formulation (explode + aggregate, the shape pipeline_clean_corpus
    // uses) sharing the same StopWords literal — if either side's
    // expressions drift, the admitted sets diverge here
    import org.apache.spark.sql.functions._
    val rows = Seq(
      DocIn(1, "s", goodText, ts("2024-05-01 10:00:00")),
      DocIn(2, "s", "x y z w v u", ts("2024-05-01 10:00:01")),
      DocIn(3, "s", "of it is in to go", ts("2024-05-01 10:00:02")),
      DocIn(4, "s", "the shortest admissible one ever", ts("2024-05-01 10:00:03")))
    val viaGate = CurationStream.gate(rows.toDS()).collect()
      .map(_.docId).sorted.toSeq
    val viaBatch = rows.toDS()
      .select($"docId", explode(split($"text", " ")).as("tok"))
      .groupBy($"docId")
      .agg(count(lit(1)).as("nTok"),
        sum(when(col("tok").isin(
          graft.operators.TextQueries.StopWords: _*), 1).otherwise(0))
          .as("nStop"),
        sum(when(length(col("tok")) <= 2, 1).otherwise(0)).as("nShort"))
      .filter($"nTok" >= 3 && $"nStop" > $"nShort")
      .select($"docId").as[Long].collect().sorted.toSeq
    assert(viaGate === viaBatch)
    assert(viaGate === Seq(1L, 4L))
  }

  private def withRocksDb[A](body: => A): A = {
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try body
    finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  private val longText = "the ancient library stood beside the river and " +
    "the scholars walked through the marble halls of wisdom while the " +
    "evening light fell across the dusty shelves and the keeper of the " +
    "archive watched over the silent reading rooms"

  test("per-row band signatures match the batch band table bit for bit") {
    // the streaming gate signs rows map-only (bandSigsPerRow); the batch
    // chain signs via explode+groupBy (lshBands). Same shingles, same
    // permutations, same band layout — the two tables must be identical,
    // or streamed decisions drift from what dedup_minhash_lsh would say
    import org.apache.spark.sql.functions._
    val docs = graft.Tables.documents(spark, graft.TestSpark.sf).limit(40)
    val perRow = docs.select(col("doc_id"),
        explode(graft.functions.TextHashing.bandSigsPerRow(col("text")))
          .as("bs"))
      .select(col("doc_id"), col("bs.band"), col("bs.sig"))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    val batch = graft.functions.TextHashing.lshBands(docs)
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("band"),
        r.getAs[String]("sig"))).toSet
    assert(perRow === batch)
    assert(perRow.size === 40 * 4)
  }

  test("near-dup gate: one-token-drifted re-crawl dropped, registry survives restart") {
    // the exact content dedup misses a re-crawl with any drift at all;
    // the MinHash gate catches it. Parquet sink + checkpoint so the
    // restart path exercises RocksDB state restore.
    withRocksDb {
      val ckpt = java.nio.file.Files.createTempDirectory("near_ckpt").toString
      val outDir = java.nio.file.Files.createTempDirectory("near_out").toString
      def start(input: MemoryStream[DocIn]) =
        CurationStream.nearDedup(input.toDS()).writeStream
          .outputMode("append").format("parquet")
          .option("path", outDir).option("checkpointLocation", ckpt).start()
      val batch1 = Seq(
        DocIn(1, "crawl0", longText, ts("2024-05-01 10:00:00")),
        DocIn(2, "crawl0", "the cat sat near the warm mat by the door",
          ts("2024-05-01 10:00:01")))
      val input1 = MemoryStream[DocIn]
      val q1 = start(input1)
      try {
        input1.addData(batch1: _*)
        q1.processAllAvailable()
        assert(spark.read.parquet(outDir).count() === 2,
          "two distinct docs must both pass the near-dup gate")
      } finally q1.stop()
      val input2 = MemoryStream[DocIn]
      input2.addData(batch1: _*) // restart replays the committed batch
      val q2 = start(input2)
      try {
        input2.addData(
          // re-crawl of doc 1 with ONE token drifted (marble → granite):
          // different contentHash, so exact dedup would admit it — the
          // band registry restored from the checkpoint must drop it
          DocIn(10, "crawl1", longText.replace("marble", "granite"),
            ts("2024-05-01 10:20:00")),
          DocIn(11, "crawl1",
            "the harbor lights glowed over the quiet water and the boats " +
              "rested in the shallow bay of the northern coast",
            ts("2024-05-01 10:20:01")))
        q2.processAllAvailable()
        val ids = spark.read.parquet(outDir).select("docId")
          .as[Long].collect().sorted
        assert(ids.toSeq === Seq(1L, 2L, 11L),
          "drifted re-crawl must be dropped; distinct doc must pass")
      } finally q2.stop()
    }
  }

  test("streamed near-dup decisions equal a sequential replay of the batch bucket table") {
    // batch validation (r7 verdict ask #5): stream a corpus slice plus
    // drifted re-crawls through the gate, then reproduce every decision
    // from the BATCH pipeline's bucket table (TextHashing.lshBands — the
    // dedup_minhash_lsh candidate generator) replayed sequentially with
    // the registry's register-on-miss rule. Any semantic drift between
    // the streaming and batch formulations fails this.
    import org.apache.spark.sql.functions._
    val horizonMs = 3600000L
    val base = graft.Tables.documents(spark, graft.TestSpark.sf)
      .orderBy("doc_id").limit(25)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    def drifted(t: String): String = {
      val ts = t.split(" "); ts(ts.length / 2) = "driftedtoken"; ts.mkString(" ")
    }
    // arrival order: the 25 originals, then drifted re-crawls of 3 of them
    val arrivals = base.zipWithIndex.map { case ((_, text), i) =>
      DocIn(i + 1L, "crawl", text,
        new Timestamp(ts("2024-05-01 10:00:00").getTime + i * 1000L))
    } ++ Seq(3, 7, 11).zipWithIndex.map { case (orig, j) =>
      DocIn(100 + j.toLong, "recrawl", drifted(base(orig)._2),
        new Timestamp(ts("2024-05-01 10:00:00").getTime + (30 + j) * 1000L))
    }
    // streamed decisions, split over three micro-batches
    val kept = withRocksDb {
      val input = MemoryStream[DocIn]
      val q = CurationStream.nearDedup(input.toDS(), horizonMs = horizonMs)
        .writeStream.outputMode("append").format("memory")
        .queryName("near_replay").start()
      try {
        arrivals.grouped(10).foreach { g =>
          input.addData(g: _*); q.processAllAvailable()
        }
        spark.table("near_replay").select("docId").as[Long].collect().toSet
      } finally q.stop()
    }
    // batch side: quality gate via the shared batch gate, buckets via the
    // batch LSH band table, decisions via the sequential registry rule
    val gatePassed = CurationStream.gate(arrivals.toSeq.toDS()).collect()
      .map(_.docId).toSet
    val sliceDf = arrivals.toSeq.toDF()
      .select(col("docId").as("doc_id"), col("text"))
    val buckets = graft.functions.TextHashing.lshBands(sliceDf).collect()
      .map(r => (r.getAs[Long]("doc_id"),
        s"${r.getAs[Int]("band")}#${r.getAs[String]("sig")}"))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
    var reg = Map.empty[String, Long]
    val simKept = scala.collection.mutable.ArrayBuffer.empty[Long]
    for (d <- arrivals.sortBy(a => (a.fetchTs.getTime, a.docId))
         if gatePassed(d.docId)) {
      val t = d.fetchTs.getTime
      // the registry's SYMMETRIC window + forward-only re-registration
      // (under this in-event-order replay t >= kt always, so the rules
      // coincide — kept symmetric so this stays the reference semantics)
      def live(b: String) =
        reg.get(b).exists(kt => math.abs(t - kt) <= horizonMs)
      val hit = buckets(d.docId).exists(live)
      buckets(d.docId).foreach { b =>
        if (!live(b) && reg.get(b).forall(_ < t)) reg += b -> t
      }
      if (!hit) simKept += d.docId
    }
    assert(kept === simKept.toSet)
    assert(kept.intersect(Set(100L, 101L, 102L)).isEmpty,
      "drifted re-crawls must all be dropped")
  }

  test("near-dup horizon: a re-crawl AFTER the horizon re-registers and is kept") {
    // horizon 60 s: the 10:30 drifted re-crawl is outside the original's
    // horizon — the gate's suppression window has passed and the doc is
    // admitted (long-range dedup belongs to the batch family)
    withRocksDb {
      val input = MemoryStream[DocIn]
      val q = CurationStream.nearDedup(input.toDS(), horizonMs = 60000L)
        .writeStream.outputMode("append").format("memory")
        .queryName("near_horizon").start()
      try {
        input.addData(DocIn(1, "crawl0", longText, ts("2024-05-01 10:00:00")))
        q.processAllAvailable()
        input.addData(
          // within horizon: dropped
          DocIn(2, "crawl0", longText.replace("marble", "granite"),
            ts("2024-05-01 10:00:30")),
          // beyond horizon: kept (and re-registers its buckets)
          DocIn(3, "crawl1", longText.replace("marble", "basalt"),
            ts("2024-05-01 10:30:00")))
        q.processAllAvailable()
        val ids = spark.table("near_horizon").select("docId").as[Long]
          .collect().sorted
        assert(ids.toSeq === Seq(1L, 3L))
      } finally q.stop()
    }
  }

  test("near-dup gate: late-but-in-watermark probe is suppressed and never rewinds the registry") {
    // arrival order ≠ event order: a near-dup whose fetchTs PRECEDES the
    // registered keeper (but is inside the watermark) is still the
    // keeper's near-dup — exactly one of the pair survives. And the
    // registry must not rewind to the earlier timestamp: a later probe is
    // judged against the keeper's original window.
    withRocksDb {
      val input = MemoryStream[DocIn]
      val q = CurationStream.nearDedup(input.toDS(), horizonMs = 3600000L)
        .writeStream.outputMode("append").format("memory")
        .queryName("near_ooo").start()
      try {
        input.addData(DocIn(1, "crawl0", longText, ts("2024-05-01 10:00:00")))
        q.processAllAvailable()
        // watermark after batch 1 = 10:00 − 1 h = 9:00, so 9:30 is NOT late
        input.addData(DocIn(2, "crawl1", longText.replace("marble", "granite"),
          ts("2024-05-01 09:30:00")))
        q.processAllAvailable()
        input.addData(DocIn(3, "crawl1", longText.replace("marble", "basalt"),
          ts("2024-05-01 10:35:00")))
        q.processAllAvailable()
        val ids = spark.table("near_ooo").select("docId").as[Long]
          .collect().sorted
        // doc 2: |9:30 − 10:00| ≤ 1 h → suppressed (old code admitted it);
        // doc 3: 10:35 − 10:00 ≤ 1 h → suppressed (a rewound registry at
        // 9:30 would have admitted it)
        assert(ids.toSeq === Seq(1L))
      } finally q.stop()
    }
  }

  test("streamed canonical assignments equal the batch dedup_canonicalize rule on a replayed slice") {
    // r8 verdict ask #6: the streamed keeps must land in the batch
    // canonical table without a corpus recompute. Replay a slice (distinct
    // docs + drifted re-crawls: one same-length drift — canonical falls to
    // the ORIGINAL by the smallest-id tie — and one EXTENDED drift, where
    // the batch longest-doc rule crowns the RE-CRAWL) through
    // nearDedupCanonical over several micro-batches, then rebuild the
    // canonical mapping with the batch pipeline's own primitives
    // (lshBands → candidates → exact Jaccard ≥ 0.7 → connected components
    // → longest-then-smallest-id) and compare doc by doc.
    import org.apache.spark.sql.functions._
    val distinctTexts = Seq(
      longText,
      "the cat sat near the warm mat by the door of the quiet house",
      "the harbor lights glowed over the quiet water and the boats " +
        "rested in the shallow bay of the northern coast",
      "the mountain trail wound through the pine forest where the " +
        "morning mist settled over the granite peaks of the ridge",
      "the old clockmaker repaired the brass gears while the pendulum " +
        "swung slowly in the wooden case beside the window")
    val base = distinctTexts.zipWithIndex.map { case (t, i) =>
      DocIn(i + 1L, "crawl", t,
        new Timestamp(ts("2024-05-01 10:00:00").getTime + i * 1000L))
    }
    val recrawls = Seq(
      // same-length drift of doc 1: tie on nTok → canonical = 1 (smaller id)
      DocIn(100L, "recrawl", longText.replace("marble", "granite"),
        new Timestamp(ts("2024-05-01 10:10:00").getTime)),
      // EXTENDED drift of doc 2: longer → canonical = 101, dethroning 2
      DocIn(101L, "recrawl",
        "the cat sat near the warm mat by the door of the quiet house " +
          "in the early evening hours",
        new Timestamp(ts("2024-05-01 10:10:01").getTime)),
      // OUT-OF-ORDER extended drift of doc 3: arrives last with an event
      // time BEFORE doc 3's own (but inside the watermark) — it still
      // dethrones. This is why the recency key of the materialized table
      // is `seq`, not fetchTs: a max-by-fetchTs consumer would pick the
      // incumbent's later-stamped row and resurrect the stale canonical.
      DocIn(102L, "recrawl",
        "the harbor lights glowed over the quiet water and the boats " +
          "rested in the shallow bay of the northern coast " +
          "under the winter stars",
        new Timestamp(ts("2024-05-01 09:59:59").getTime)))
    val arrivals = base ++ recrawls
    val streamed = withRocksDb {
      val input = MemoryStream[DocIn]
      val q = CurationStream.nearDedupCanonical(input.toDS())
        .writeStream.outputMode("append").format("memory")
        .queryName("near_canon").start()
      try {
        arrivals.grouped(3).foreach { g =>
          input.addData(g: _*); q.processAllAvailable()
        }
        spark.table("near_canon")
          .as[CurationStream.DocCanonical].collect().toSeq
      } finally q.stop()
    }
    // the canonical table a deployment materializes: highest-seq row per
    // cluster wins; a doc's final canonical is its cluster's final one
    val finalCanonByCluster = streamed
      .groupBy(_.clusterId).view.mapValues(rs =>
        rs.maxBy(_.seq).canonicalId).toMap
    val streamedCanon = streamed
      .map(r => r.docId -> finalCanonByCluster(r.clusterId)).toMap
    // batch side, built from the dedup_canonicalize pipeline's primitives
    // over the SAME gate-passed slice
    val gatePassed = CurationStream.gate(arrivals.toDS()).collect()
      .map(_.docId).toSet
    assert(gatePassed === arrivals.map(_.docId).toSet,
      "slice construction: every doc must pass the quality gate")
    val sliceDf = arrivals.toDF()
      .select(col("docId").as("doc_id"), col("text"))
    val sh = graft.functions.TextHashing.shingleSetsRaw(sliceDf)
    val cand = graft.functions.TextHashing.candidatePairsFromBands(
      graft.functions.Materialized(
        graft.functions.TextHashing.lshBandsFrom(sh, 4, 4)))
    val verified = graft.functions.TextHashing.jaccardOnCandidates(sh,
      graft.functions.Materialized(cand))
      .filter(col("jaccard") >= 0.7)
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
    val comp = graft.functions.TextHashing.connectedComponents(
      sliceDf.select("doc_id"), graft.functions.Materialized(verified))
    val nTok = arrivals.map(d => d.docId -> d.text.split(" ").length.toLong)
      .toMap
    val batchCanon = comp.collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("component")))
      .groupBy(_._2).values.flatMap { members =>
        val canonical = members.map(_._1)
          .minBy(id => (-nTok(id), id)) // longest, ties to smallest id
        members.map { case (id, _) => id -> canonical }
      }.toMap
    assert(streamedCanon.keySet === batchCanon.keySet)
    for ((id, c) <- batchCanon)
      assert(streamedCanon(id) === c,
        s"doc $id: streamed canonical ${streamedCanon(id)} != batch $c")
    // and the specific rules fired as designed
    assert(streamedCanon(100L) === 1L, "tie must fall to the smaller id")
    assert(streamedCanon(2L) === 101L,
      "the longer re-crawl must dethrone the original")
    assert(streamedCanon(101L) === 101L)
    assert(streamedCanon(3L) === 102L,
      "the out-of-order (earlier-fetchTs) longer re-crawl must dethrone — " +
        "and survive the seq-keyed materialization")
    // the max-by-fetchTs recipe would get exactly this cluster wrong
    val c3 = streamed.find(_.docId == 3L).get.clusterId
    val byTs = streamed.filter(_.clusterId == c3)
      .maxBy(r => (r.fetchTs.getTime, r.docId)).canonicalId
    assert(byTs !== 102L,
      "test slice no longer exercises the out-of-order dethroning " +
        "(max-by-fetchTs accidentally agrees with max-by-seq)")
    // the kept flag mirrors the nearDedup verdict: originals admitted,
    // every re-crawl suppressed
    assert(streamed.filter(_.kept).map(_.docId).toSet ===
      base.map(_.docId).toSet)
  }

  test("canonical election state survives a checkpointed restart") {
    // the third stage's CanonState (incumbent + seq counter) must restore
    // from RocksDB like the bucket registry: a post-restart member of a
    // pre-restart cluster must join the SAME cluster, continue the seq
    // sequence (the recency key would fork if it reset to 1), and face
    // the restored incumbent in the election
    withRocksDb {
      val ckpt = java.nio.file.Files.createTempDirectory("canon_ckpt").toString
      val outDir = java.nio.file.Files.createTempDirectory("canon_out").toString
      def start(input: MemoryStream[DocIn]) =
        CurationStream.nearDedupCanonical(input.toDS()).writeStream
          .outputMode("append").format("parquet")
          .option("path", outDir).option("checkpointLocation", ckpt).start()
      val batch1 = Seq(
        DocIn(1, "crawl0", longText, ts("2024-05-01 10:00:00")))
      val input1 = MemoryStream[DocIn]
      val q1 = start(input1)
      try {
        input1.addData(batch1: _*)
        q1.processAllAvailable()
      } finally q1.stop()
      val input2 = MemoryStream[DocIn]
      input2.addData(batch1: _*) // restart replays the committed batch
      val q2 = start(input2)
      try {
        input2.addData(
          // longer drift of doc 1, post-restart: must land in doc 1's
          // restored cluster and dethrone it
          DocIn(10, "recrawl", longText + " beneath the autumn sky",
            ts("2024-05-01 10:20:00")))
        q2.processAllAvailable()
        val rows = spark.read.parquet(outDir)
          .as[CurationStream.DocCanonical].collect().toSeq
        val r1 = rows.find(_.docId == 1L).get
        val r10 = rows.find(_.docId == 10L).get
        assert(r10.clusterId === r1.clusterId,
          "post-restart member must join the restored cluster")
        assert(r10.seq === r1.seq + 1,
          "seq must continue across the restart, not reset")
        assert(r10.canonicalId === 10L && r10.isCanonical,
          "post-restart member must dethrone the restored incumbent")
        assert(!r10.kept, "the drift is still a near-dup: dropped")
      } finally q2.stop()
    }
  }

  test("reconcileCanonical closes transitive chains the stream leaves split") {
    // the upsert table's own (docId, clusterId) rows are the edge list:
    // doc 2 is a member of cluster 1 AND the anchor of doc 3's cluster —
    // the closure must merge {1,2,3} and re-elect by (longest, smallest id)
    def row(id: Long, cluster: Long, nTok: Long,
        at: String = "2024-05-01 10:00:00") =
      CurationStream.DocCanonical(id, "crawl", "", nTok, ts(at),
        cluster, cluster, id == cluster, kept = id == cluster, seq = 1L)
    val upserts = Seq(
      row(1L, 1L, 10L), row(2L, 1L, 12L), row(3L, 2L, 15L),
      row(4L, 4L, 5L),
      // doc 5 observed TWICE (stable-id re-fetch): first in cluster 4 at
      // 30 tokens, later in cluster 1 truncated to 8. Both observations
      // are edges (they merge cluster 4 into the chain's component), but
      // only the LATEST row may vote in the election — if the stale
      // 30-token row voted, doc 5 would steal the crown from doc 3
      row(5L, 4L, 30L, "2024-05-01 10:05:00"),
      row(5L, 1L, 8L, "2024-05-01 10:15:00"))
    val got = CurationStream.reconcileCanonical(upserts.toDS())
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(got === Set(
      (1L, 1L, 3L, 0L), (2L, 1L, 3L, 0L), (3L, 1L, 3L, 1L),
      (4L, 1L, 3L, 0L), (5L, 1L, 3L, 0L)))
    // partial slice: the anchor's own row is absent — it still LINKS as a
    // vertex (component = min of {2, 3} = 2) but cannot be elected; the
    // present member is canonical and no phantom row appears for doc 2
    val partial = CurationStream.reconcileCanonical(
      Seq(row(3L, 2L, 15L)).toDS()).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(partial.toSet === Set((3L, 2L, 3L, 1L)))
  }

  test("incumbent re-fetch re-weighs the crown at its latest token count") {
    // A shrinking re-fetch of the canonical doc must lower what
    // challengers are judged against (the latest observation, matching
    // reconcile's latest-row voting) — not leave the max-ever crawl's
    // crown standing. Fixture band structure (verified by construction
    // below): both the truncation and the challenger still share bands
    // with the original, so all three rows land in one cluster.
    import org.apache.spark.sql.functions.{col, explode}
    val toks = longText.split(" ")                      // 38 tokens
    val shrunk = toks.dropRight(6).mkString(" ")        // 32 tokens
    val challenger = toks.dropRight(3).mkString(" ")    // 35 tokens,
      .replace("marble", "granite")                     // distinct content
    def bandsOf(t: String): Set[(Int, String)] =
      Seq(t).toDF("text")
        .select(explode(graft.functions.TextHashing.bandSigsPerRow(
          col("text"), 4, 4)).as("bs"))
        .select(col("bs.band"), col("bs.sig")).collect()
        .map(r => (r.getInt(0), r.getString(1))).toSet
    val base = bandsOf(longText)
    assert((bandsOf(shrunk) intersect base).nonEmpty &&
      (bandsOf(challenger) intersect base).nonEmpty,
      "fixture regressed: truncation/challenger no longer band-collide")
    val streamed = withRocksDb {
      val input = MemoryStream[DocIn]
      val q = CurationStream.nearDedupCanonical(input.toDS())
        .writeStream.outputMode("append").format("memory")
        .queryName("canon_reweigh").start()
      try {
        Seq(DocIn(1L, "crawl", longText, ts("2024-05-01 10:00:00")),
          DocIn(1L, "crawl", shrunk, ts("2024-05-01 10:05:00")),
          DocIn(2L, "crawl", challenger, ts("2024-05-01 10:10:00")))
          .foreach { d => input.addData(d); q.processAllAvailable() }
        spark.table("canon_reweigh")
          .as[CurationStream.DocCanonical].collect().toSeq
      } finally q.stop()
    }
    assert(streamed.map(_.clusterId).distinct === Seq(1L),
      "all three observations must resolve to one cluster")
    // 35-token challenger vs the incumbent's LATEST 32-token crawl: wins.
    // (Against the superseded 38-token crawl it would have lost — the
    // pre-fix behavior this spec exists to pin.)
    val finalRow = streamed.maxBy(_.seq)
    assert(finalRow.docId === 2L && finalRow.isCanonical &&
      finalRow.canonicalId === 2L,
      s"challenger must dethrone the shrunken incumbent: $streamed")
  }

  test("guarded reconcileCanonical defers components touching batch-assigned docs (r9 verdict #3)") {
    import org.apache.spark.sql.functions.col
    def row(id: Long, cluster: Long, nTok: Long) =
      CurationStream.DocCanonical(id, "crawl", "", nTok,
        ts("2024-05-01 10:00:00"), cluster, cluster, id == cluster,
        kept = id == cluster, seq = 1L)
    // three slice components: {1,2,3} (doc 1 anchor-only), {10,20}
    // (doc 10 anchor-only), {30,31} (doc 30 anchor-only)
    val slice = Seq(row(2L, 1L, 12L), row(3L, 2L, 15L),
      row(20L, 10L, 7L), row(31L, 30L, 9L))
    // the batch pass already assigned doc 3 (a slice MEMBER) and doc 10
    // (a slice ANCHOR whose own row is absent) — both taints must defer
    // their whole component; only {30,31} may elect
    val batch = Seq(3L, 10L).toDF("doc_id")
    val out = CurationStream.reconcileCanonical(slice.toDS(), batch)
    val patch = out.patch.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(patch.toSet === Set((31L, 30L, 31L, 1L)),
      "only the untainted component may be slice-elected")
    val deferred = out.deferred.select(col("doc_id"), col("component"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(deferred === Set((2L, 1L), (3L, 1L), (20L, 10L)),
      "every member row of a tainted component must be deferred — " +
        "including docs the batch table does NOT name (2L) and members " +
        "tainted only through their absent anchor (20L)")
    // the unguarded form over the same slice would have split-elected the
    // tainted components — the guard is what prevents that
    val unguarded = CurationStream.reconcileCanonical(slice.toDS())
    assert(unguarded.count() === 4L)
  }

  test("streamed chain split + reconcile equals the batch closure authority") {
    import org.apache.spark.sql.functions.col
    // engineered drift chain (band structure verified by construction):
    // A and B share bands {0,1,3}; C shares ONLY band 2 with B — a band B
    // registered fresh — and no band with A. The stream therefore anchors
    // B at A but C at B (the documented star-shape limit: two clusters),
    // and reconcileCanonical must merge them into the one component the
    // batch chain (candidates -> jaccard >= 0.7 -> CC -> election) finds.
    val a = longText
    val b = longText + " beneath the autumn sky"
    val c = b + " amber winter garden"
    val docs = Seq(a, b, c).zipWithIndex.map { case (t, i) =>
      DocIn(i + 1L, "crawl", t,
        new Timestamp(ts("2024-05-01 10:00:00").getTime + i * 1000L))
    }
    val streamed = withRocksDb {
      val input = MemoryStream[DocIn]
      val q = CurationStream.nearDedupCanonical(input.toDS())
        .writeStream.outputMode("append").format("memory")
        .queryName("chain_canon").start()
      try {
        // one batch per doc: registration order is the chain order
        docs.foreach { d => input.addData(d); q.processAllAvailable() }
        spark.table("chain_canon")
          .as[CurationStream.DocCanonical].collect().toSeq
      } finally q.stop()
    }
    val byId = streamed.map(r => r.docId -> r).toMap
    assert(byId(2L).clusterId === 1L, "B must anchor at A")
    assert(byId(3L).clusterId === 2L,
      "C must anchor at B (the chain split this test exists to exercise — " +
        "if C anchored at A the engineered band structure regressed)")
    assert(!byId(3L).kept, "C collided with B's bucket: dropped")
    // reconcile the streamed table: one component, batch election rule
    val rec = CurationStream.reconcileCanonical(streamed.toDS())
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(rec === Set((1L, 1L, 3L, 0L), (2L, 1L, 3L, 0L),
      (3L, 1L, 3L, 1L)), s"reconciled table wrong: $rec")
    // and that equals the batch closure authority over the same slice
    val sliceDf = docs.toDF()
      .select(col("docId").as("doc_id"), col("text"))
    val sh = graft.functions.TextHashing.shingleSetsRaw(sliceDf)
    val cand = graft.functions.TextHashing.candidatePairsFromBands(
      graft.functions.Materialized(
        graft.functions.TextHashing.lshBandsFrom(sh, 4, 4)))
    val verified = graft.functions.TextHashing.jaccardOnCandidates(sh,
      graft.functions.Materialized(cand))
      .filter(col("jaccard") >= 0.7)
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
    val comp = graft.functions.TextHashing.connectedComponents(
      sliceDf.select("doc_id"), graft.functions.Materialized(verified))
    val nTok = docs.map(d => d.docId -> d.text.split(" ").length.toLong).toMap
    val batch = comp.collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("component")))
      .groupBy(_._2).values.flatMap { members =>
        val canonical = members.map(_._1).minBy(id => (-nTok(id), id))
        members.map { case (id, comp0) =>
          (id, comp0, canonical, if (id == canonical) 1L else 0L) }
      }.toSet
    assert(rec === batch,
      "reconciled stream table diverges from the batch closure authority")
  }

  test("gate stop list is data, not SQL: quote-bearing stop words work") {
    // the old string-spliced `t IN ('the', ...)` expression broke at
    // runtime on a stop word containing a quote; the typed
    // array_contains formulation must treat it as plain data
    val rows = Seq(
      // 3 stop hits ("o'brien's" twice, "the") > 2 short tokens → admitted
      DocIn(1, "s", "o'brien's guide to o'brien's the longform writing",
        ts("2024-05-01 10:00:00")),
      // no stop hits → gated out
      DocIn(2, "s", "completely different words here", ts("2024-05-01 10:00:01")))
    val out = CurationStream.gate(rows.toDS(),
      stopWords = Seq("o'brien's", "the", "a")).collect()
    assert(out.map(_.docId).toSeq === Seq(1L))
    assert(out.head.nStop === 3L)
  }

  private def canonicalRows(dir: String): Set[(Long, Long, Long, Boolean)] =
    CurationStream.canonicalTable(spark, dir)
      .select("clusterId", "canonicalId", "seq", "isCanonical")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .toSet

  test("canonical sink: checkpointed restart materializes the same table as an uninterrupted run (r9 verdict #4)") {
    // the maintained-table contract: foreachBatch is at-least-once, so a
    // restart replays the last uncommitted batch with the SAME batchId —
    // the partition commit must make that replay invisible in the
    // materialized table, not append a duplicate row or fork seq
    withRocksDb {
      val batch1 = Seq(
        DocIn(1, "crawl0", longText, ts("2024-05-01 10:00:00")),
        DocIn(2, "crawl0", goodText + " with several further words beyond",
          ts("2024-05-01 10:00:01")))
      val batch2 = Seq(
        // longer drift of doc 1: joins its cluster and dethrones it
        DocIn(10, "recrawl", longText + " beneath the autumn sky",
          ts("2024-05-01 10:20:00")))

      // leg A: interrupted run — stop after batch1, restart, feed batch2
      val ckptA = java.nio.file.Files.createTempDirectory("sinkA_ck").toString
      val tblA = java.nio.file.Files.createTempDirectory("sinkA_tbl").toString
      val input1 = MemoryStream[DocIn]
      val q1 = CurationStream.startCanonicalSink(input1.toDS(), tblA, ckptA)
      try {
        input1.addData(batch1: _*)
        q1.processAllAvailable()
      } finally q1.stop()
      val input2 = MemoryStream[DocIn]
      input2.addData(batch1: _*) // restart replays the committed offsets
      val q2 = CurationStream.startCanonicalSink(input2.toDS(), tblA, ckptA)
      try {
        input2.addData(batch2: _*)
        q2.processAllAvailable()
      } finally q2.stop()

      // leg B: one uninterrupted run over the same batches
      val ckptB = java.nio.file.Files.createTempDirectory("sinkB_ck").toString
      val tblB = java.nio.file.Files.createTempDirectory("sinkB_tbl").toString
      val input3 = MemoryStream[DocIn]
      val q3 = CurationStream.startCanonicalSink(input3.toDS(), tblB, ckptB)
      try {
        input3.addData(batch1: _*)
        q3.processAllAvailable()
        input3.addData(batch2: _*)
        q3.processAllAvailable()
      } finally q3.stop()

      val a = canonicalRows(tblA)
      assert(a === canonicalRows(tblB),
        "restarted run's materialized canonical table diverged")
      // the view itself: doc 10 dethroned doc 1 in their shared cluster
      val (c1, canon1, seq1, isC) = a.find(_._3 === 2L).get
      assert(canon1 === 10L && isC,
        s"cluster $c1 should crown the longer post-restart member")
    }
  }

  test("canonical sink commit is idempotent; compaction preserves the merged view") {
    // a retried foreachBatch commit re-runs with the SAME batchId: the
    // partition commit must leave the merged view unchanged, and folding
    // settled partitions must change the layout, never the view
    val dir = java.nio.file.Files.createTempDirectory("canon_sink").toString
    def row(doc: Long, cluster: Long, canon: Long, seq: Long) =
      CurationStream.DocCanonical(doc, "s", s"h$doc", 10L + doc,
        ts("2024-05-01 10:00:00"), cluster, canon,
        isCanonical = doc == canon, kept = doc == cluster, seq = seq)
    val b0 = Seq(row(1, 1, 1, 1), row(2, 1, 1, 2), row(5, 5, 5, 1))
    val b1 = Seq(row(3, 1, 3, 3), row(6, 6, 6, 1))
    CurationStream.commitCanonicalBatch(b0.toDS(), 0L, dir)
    CurationStream.commitCanonicalBatch(b1.toDS(), 1L, dir)
    val before = canonicalRows(dir)
    // per-batch reduction: batch 0 keeps only seq=2 for cluster 1; the
    // merged view then takes batch 1's seq=3 row
    assert(before === Set((1L, 3L, 3L, true), (5L, 5L, 1L, true),
      (6L, 6L, 1L, true)))
    // a commit of batch 1 that crashed before its rename left a real part
    // file in the hidden temp dir — one that would dethrone cluster 1 if
    // it were read. No reader sees it, and the retry removes it
    Seq(row(9, 1, 9, 99)).toDS().write.parquet(s"$dir/.batch_id=1.tmp")
    assert(canonicalRows(dir) === before)
    // retry of batch 1 (same rows, same id) — table unchanged
    CurationStream.commitCanonicalBatch(b1.toDS(), 1L, dir)
    assert(canonicalRows(dir) === before)
    assert(!new java.io.File(dir, ".batch_id=1.tmp").exists,
      "the retried commit left the crashed commit's temp dir")
    // an empty batch commits a zero-row partition; the view is unchanged
    CurationStream.commitCanonicalBatch(
      Seq.empty[CurationStream.DocCanonical].toDS(), 2L, dir)
    assert(new java.io.File(dir, "batch_id=2").isDirectory)
    assert(spark.read.parquet(s"$dir/batch_id=2").count() === 0L)
    assert(canonicalRows(dir) === before)
    // fold the settled partitions into the base; view unchanged, and
    // the folded partitions are gone (one row per cluster remains).
    // No live writer on this table, so the all-partitions bound is safe
    // (and now has to be said out loud — the default is gone).
    CurationStream.compactCanonical(spark, dir, Long.MaxValue)
    assert(canonicalRows(dir) === before)
    val perPart = spark.read.parquet(dir)
      .select(org.apache.spark.sql.functions.col("batch_id").cast("long"))
      .distinct().collect().map(_.getLong(0)).toSet
    assert(perPart === Set(-1L), s"expected only the base partition: $perPart")
    assert(spark.read.parquet(dir).count() === 3L)
    // the zero-row partition was folded too, and no temp dir is left
    val names = new java.io.File(dir).list().toSet
      .filterNot(n => n.endsWith(".crc") || n == "_SUCCESS")
    assert(names === Set("batch_id=-1"), s"table dir after the fold: $names")
    // a post-compaction commit layers on top and still merges correctly
    CurationStream.commitCanonicalBatch(
      Seq(row(7, 1, 7, 4)).toDS(), 3L, dir)
    assert(canonicalRows(dir) ===
      Set((1L, 7L, 4L, true), (5L, 5L, 1L, true), (6L, 6L, 1L, true)))
  }

  /** Drift i of the long document: a near-dup re-crawl that band-matches
    * the original and keeps growing by one word, so every batch upserts
    * the SAME cluster with a new, longer (dethroning) member. */
  private def drift(i: Int): String =
    longText + " " + (1 to i).map(j => s"extra$j").mkString(" ")

  private def tablePartitions(dir: String): Set[Long] =
    spark.read.parquet(dir)
      .select(org.apache.spark.sql.functions.col("batch_id").cast("long"))
      .distinct().collect().map(_.getLong(0)).toSet

  test("canonical sink cadence: periodic compaction keeps the table at ~|clusters| over a long replay (r11 verdict #4)") {
    // the maintenance story IN the pipeline: with compactEvery = 2 the
    // sink folds its own settled partitions as it runs — after an
    // 8-batch replay of repeated upserts to the same two clusters, the
    // table must hold the base partition plus at most the batches since
    // the last fold, with rows ~ |clusters|, while reading identically
    // to an uncompacted run of the same replay
    withRocksDb {
      def replay(tbl: String, ckpt: String, compactEvery: Int): Unit = {
        val input = MemoryStream[DocIn]
        val q = CurationStream.startCanonicalSink(input.toDS(), tbl, ckpt,
          compactEvery = compactEvery)
        try {
          // batch 0: the two cluster seeds; batches 1..7: ever-longer
          // drifts of cluster A (each dethrones) plus a stable doc read
          // for cluster B in batch 4 (a second cluster's upsert)
          input.addData(
            DocIn(1, "crawl0", longText, ts("2024-05-01 10:00:00")),
            DocIn(2, "crawl0", goodText + " with several further words beyond",
              ts("2024-05-01 10:00:01")))
          q.processAllAvailable()
          for (i <- 1 to 7) {
            input.addData(
              DocIn(100L + i, "recrawl", drift(i),
                ts(f"2024-05-01 10:${i}%02d:30")))
            q.processAllAvailable()
          }
        } finally q.stop()
      }
      val tblA = java.nio.file.Files.createTempDirectory("cad_tbl").toString
      val ckptA = java.nio.file.Files.createTempDirectory("cad_ck").toString
      replay(tblA, ckptA, compactEvery = 2)
      val tblB = java.nio.file.Files.createTempDirectory("cadB_tbl").toString
      val ckptB = java.nio.file.Files.createTempDirectory("cadB_ck").toString
      replay(tblB, ckptB, compactEvery = 0)

      // reads identical to the uncompacted run
      assert(canonicalRows(tblA) === canonicalRows(tblB),
        "cadence compaction changed the merged view")
      // every drift joined ONE cluster (plus the unrelated seed cluster);
      // the uncompacted table carries every upsert, the compacted one
      // only the base fold + what landed after the last cadence tick.
      // Batch ids outrun the data rounds (the stateful stages insert
      // no-data timer batches), so pin the INVARIANT, not the ids: folds
      // fire every compactEvery batches, so at most compactEvery
      // data-bearing partitions can trail the base fold.
      assert(canonicalRows(tblA).size === 2, "expected exactly two clusters")
      val partsA = tablePartitions(tblA)
      assert(partsA.contains(-1L), s"no base fold partition: $partsA")
      assert(partsA.count(_ != -1L) <= 2,
        s"cadence left unfolded settled partitions: $partsA")
      val partsB = tablePartitions(tblB)
      assert(partsB.size === 8, s"uncompacted control should keep all " +
        s"batch partitions: $partsB")
      // row count tracks ~|clusters|: 2 folded rows + ≤ 1 upsert row per
      // unfolded partition, against the control's one row per upsert
      val rowsA = spark.read.parquet(tblA).count()
      val rowsB = spark.read.parquet(tblB).count()
      assert(rowsA <= 4, s"compacted table carries $rowsA rows")
      assert(rowsB >= 8, s"control table should carry every upsert: $rowsB")
    }
  }

  test("canonical sink: compaction + crash + restart composed still equals the uninterrupted run (r11 verdict #6)") {
    // restart parity and compaction are each spec'd alone; compose them:
    // replay -> cadence fold mid-stream -> crash -> restart (replays the
    // last batch at-least-once, cadence may re-fold the same bound) ->
    // more batches -> fold again; the merged view must equal one
    // uninterrupted, never-compacted run of the same batches
    withRocksDb {
      val batches: Seq[Seq[DocIn]] = Seq(
        Seq(DocIn(1, "crawl0", longText, ts("2024-05-01 10:00:00")),
          DocIn(2, "crawl0", goodText + " with several further words beyond",
            ts("2024-05-01 10:00:01"))),
        Seq(DocIn(101, "recrawl", drift(1), ts("2024-05-01 10:01:30"))),
        Seq(DocIn(102, "recrawl", drift(2), ts("2024-05-01 10:02:30"))),
        Seq(DocIn(103, "recrawl", drift(3), ts("2024-05-01 10:03:30"))),
        Seq(DocIn(104, "recrawl", drift(4), ts("2024-05-01 10:04:30"))))

      // leg A: crash after batch 2 (one cadence fold behind it), restart,
      // finish, with cadence folds at batches 2 and 4
      val tblA = java.nio.file.Files.createTempDirectory("cmp_tbl").toString
      val ckptA = java.nio.file.Files.createTempDirectory("cmp_ck").toString
      val input1 = MemoryStream[DocIn]
      val q1 = CurationStream.startCanonicalSink(input1.toDS(), tblA, ckptA,
        compactEvery = 2)
      try {
        batches.take(3).foreach { b =>
          input1.addData(b: _*); q1.processAllAvailable()
        }
      } finally q1.stop()
      assert(tablePartitions(tblA).contains(-1L),
        "pre-crash cadence fold must have run (batch 2 folds ≤ 1)")
      val input2 = MemoryStream[DocIn]
      batches.take(3).foreach(b => input2.addData(b: _*)) // offset replay
      val q2 = CurationStream.startCanonicalSink(input2.toDS(), tblA, ckptA,
        compactEvery = 2)
      try {
        batches.drop(3).foreach { b =>
          input2.addData(b: _*); q2.processAllAvailable()
        }
      } finally q2.stop()

      // leg B: uninterrupted, never compacted
      val tblB = java.nio.file.Files.createTempDirectory("cmpB_tbl").toString
      val ckptB = java.nio.file.Files.createTempDirectory("cmpB_ck").toString
      val input3 = MemoryStream[DocIn]
      val q3 = CurationStream.startCanonicalSink(input3.toDS(), tblB, ckptB)
      try {
        batches.foreach { b => input3.addData(b: _*); q3.processAllAvailable() }
      } finally q3.stop()

      assert(canonicalRows(tblA) === canonicalRows(tblB),
        "compaction composed with crash/restart diverged from the " +
          "uninterrupted run")
      // the final cadence folds kept the layout tight: a base partition
      // plus at most compactEvery trailing data-bearing partitions
      // (batch ids outrun data rounds — no-data timer batches)
      val partsAfter = tablePartitions(tblA)
      assert(partsAfter.contains(-1L), s"no base fold: $partsAfter")
      assert(partsAfter.count(_ != -1L) <= 2,
        s"unexpected partitions after the composed run: $partsAfter")
    }
  }

  test("canonical sink soak: steady state stays bounded across hundreds of batches (r12 verdict #5)") {
    // The cadence spec checks the END state of a short replay; a
    // deployment runs the sink for weeks. Soak it: 120 single-doc
    // batches of re-crawls rotating over three seeded clusters,
    // compactEvery = 5, and assert the INVARIANTS AT EVERY SAMPLE POINT
    // along the way — partition layout bounded by base + compactEvery,
    // row count ~ |clusters| + trailing upserts, merged view stable —
    // not just after the last batch. Read latency of the merged view
    // must sit in the same regime at batch 120 as at batch 15 (the
    // layout bound is what guarantees it; the timing check is a
    // generous regression tripwire, not a microbenchmark).
    withRocksDb {
      val tbl = java.nio.file.Files.createTempDirectory("soak_tbl").toString
      val ckpt = java.nio.file.Files.createTempDirectory("soak_ck").toString
      val compactEvery = 5
      val texts = Seq(longText,
        goodText + " with several further words beyond",
        "the stitch and the time saves nine stitches")
      val baseMs = ts("2024-05-01 10:00:00").getTime
      val input = MemoryStream[DocIn]
      val q = CurationStream.startCanonicalSink(input.toDS(), tbl, ckpt,
        compactEvery = compactEvery)
      val latencies = scala.collection.mutable.ArrayBuffer.empty[Long]
      try {
        texts.zipWithIndex.foreach { case (t, i) => // three cluster seeds
          input.addData(DocIn(i + 1L, "crawl0", t,
            new Timestamp(baseMs + i)))
        }
        q.processAllAvailable()
        for (i <- 1 to 120) {
          // 10 s of event time per batch: the whole soak spans 20 min,
          // well inside the 1 h horizon, so every re-crawl hits its
          // seed's live buckets and clusters never fragment
          input.addData(DocIn(1000L + i, "recrawl", texts((i - 1) % 3),
            new Timestamp(baseMs + 10000L * i)))
          q.processAllAvailable()
          if (i % 15 == 0) {
            val parts = tablePartitions(tbl)
            assert(parts.contains(-1L), s"batch $i: no base fold: $parts")
            assert(parts.count(_ != -1L) <= compactEvery,
              s"batch $i: unfolded settled partitions piled up: $parts")
            val rows = spark.read.parquet(tbl).count()
            assert(rows <= texts.size + compactEvery,
              s"batch $i: table carries $rows rows — upserts accumulating")
            val t0 = System.nanoTime()
            val view = canonicalRows(tbl)
            latencies += (System.nanoTime() - t0) / 1000000L
            assert(view.map(v => (v._1, v._2)) ===
              Set((1L, 1L), (2L, 2L), (3L, 3L)),
              s"batch $i: merged view drifted: $view")
          }
        }
      } finally q.stop()
      val early = latencies.take(3).sorted.apply(1)
      val late = latencies.takeRight(3).sorted.apply(1)
      assert(late <= math.max(5 * early, early + 1500),
        s"canonicalTable read latency grew with batch count: $latencies ms")
    }
  }

  test("near-dup gate under a degenerate identical-content burst: per-batch cost stays O(rows) (r13 verdict #5)") {
    // The batch hot-bucket guard does not apply to streaming; the
    // near-dup gate's safety there is structural — one keeper per band
    // bucket, O(1) work per probe — but a boilerplate burst concentrates
    // EVERY probe of every batch on the same B band keys. Soak exactly
    // that: 10 micro-batches x 1,000 identical-content docs (all four
    // band buckets hot from batch 0 on), and assert per-batch wall time
    // stays flat-ish (late batches, probing against fully-hot state,
    // must sit in the early batches' regime) and the whole burst costs
    // the same order as a same-size DIVERSE control (unique texts, no
    // collisions). A per-key quadratic would fail both.
    withRocksDb {
      val baseMs = ts("2024-05-01 10:00:00").getTime
      def runGate(text: Long => String, tag: String): Seq[Double] = {
        val input = MemoryStream[DocIn]
        val q = CurationStream.nearDedup(input.toDS()).writeStream
          .outputMode("append").format("memory")
          .queryName(s"burst_soak_$tag").start()
        val durations = scala.collection.mutable.ArrayBuffer.empty[Double]
        try {
          for (b <- 0 until 10) {
            input.addData((0 until 1000).map { i =>
              val id = b * 1000L + i
              // 10 ms of event time per doc: the burst spans 100 s, far
              // inside the horizon — every probe consults live state
              DocIn(id, "burst", text(id), new Timestamp(baseMs + id * 10L))
            }: _*)
            val t0 = System.nanoTime()
            q.processAllAvailable()
            durations += (System.nanoTime() - t0) / 1e9
          }
        } finally q.stop()
        durations.toSeq
      }
      val burst = runGate(_ =>
        "the quick brown fox jumps over the lazy dog with boilerplate " +
          "license footer text", "b")
      val control = runGate(id =>
        s"the u${id}alpha u${id}beta u${id}gamma the u${id}delta", "c")
      // exactly one burst doc survives (batch 0's earliest keeps every
      // bucket; all later probes hit) — the gate's DECISION stays right
      // under the burst, not just bounded
      assert(spark.table("burst_soak_b").count() === 1L,
        "identical-content burst must collapse to one kept doc")
      assert(spark.table("burst_soak_c").count() === 10000L,
        "diverse control must keep every doc")
      def med(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)
      val early = med(burst.take(3))
      val late = med(burst.takeRight(3))
      assert(late <= math.max(3.0 * early, early + 2.0),
        s"per-batch burst latency grew with batches: $burst")
      assert(burst.sum <= 3.0 * control.sum + 5.0,
        s"burst cost left the O(rows) regime: burst=${burst.sum}s " +
          s"control=${control.sum}s")
    }
  }
}
