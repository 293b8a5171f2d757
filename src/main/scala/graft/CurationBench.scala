package graft

import graft.streaming.{CurationStream, DocIn}
import org.apache.spark.sql.Encoders
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Throughput bench for the streaming curation intake — the paired number
  * for [[CurationStream]]'s two gates, same discipline as [[Bench]]:
  * the K×-replicated corpus ([[ScaleData.replicate]]) is laid out as a
  * DocIn-shaped file stream (fetchTs deterministic from doc_id, range-
  * partitioned so file order ≈ event order, span well inside the
  * watermark horizon), then each gate runs a Trigger.AvailableNow pass to
  * a parquet sink over multiple micro-batches, interleaved passes, median
  * docs/s:
  *  - `exact`: quality gate + `dropDuplicatesWithinWatermark` on the
  *    content hash ([[CurationStream.curate]]);
  *  - `near`: quality gate + banded-MinHash bucket registry on chained
  *    `transformWithState` ([[CurationStream.nearDedup]]) — per-doc
  *    signing, B band probes, two stateful shuffles;
  *  - `canon`: the full canonical-assignment SINK (r12 verdict ask #4) —
  *    [[CurationStream.startCanonicalSink]]'s three stateful stages
  *    (bucket registry → cluster resolution → canonical election) plus
  *    the idempotent foreachBatch table commit, compaction left to the
  *    caller (compactEvery = 0);
  *  - `canonc`: the same sink with the in-pipeline compaction cadence
  *    (compactEvery = SPARK_GRAFT_COMPACT_EVERY, default 4), so the
  *    cadence's cost is a measured number, not an assumption;
  *  - `burst` (r13 verdict ask #5): the near gate over an engineered
  *    degenerate burst — SPARK_GRAFT_BURST_DOCS identical-content docs,
  *    every probe hitting the same B band keys — whose probes/s must sit
  *    in the `near` row's regime (no streaming hot-bucket quadratic; the
  *    per-batch boundedness assertion lives in CurationStreamSpec's
  *    burst soak);
  *  - `sem` (r15): [[CurationStream.semDedupGate]] over the replicated
  *    embeddings as a VecIn file stream, with a frozen RULE quantizer —
  *    cell assignment (map-only), int8 dot against the per-cell keeper
  *    registry on `transformWithState`; the gate index
  *    ([[CurationStream.frozenGateIndex]]) is loaded ONCE before the
  *    passes (a deployment's index cost, not a per-batch cost);
  *  - `semc` (r17): [[CurationStream.semDedupGateCoded]] over the same
  *    rule index — same stream, same decisions, plus the per-vector PQ
  *    encode against a frozen CAPPED rule codebook (maxCodewords = 64)
  *    in the probe map, so the row prices "emit index-ready rows"
  *    against the plain `sem` row's verdict-only cost;
  *  - `semt` (r18): `semDedupGate` over a frozen TRAINED quantizer —
  *    same stream, same keeper registry, Lloyd-refined centroids with
  *    the exact-integer d2 assignment in the probe map; next to `sem`
  *    the row prices what the trained geometry costs at crawl rate (one
  *    integer dot per centroid either way — expect parity);
  *  - `semtc` (r19): `semDedupGateCoded` over the trained index — trained
  *    cells AND PQ codes against the trained per-subspace codebook
  *    (capped 64, the `semc` config), verdicts stamping the codebook's
  *    VALUE digest; next to `semc` the row prices trained-codebook
  *    encoding at crawl rate (same codeword count, pre-sliced either way
  *    — expect parity).
  * All run on the RocksDB state store (the 100 TB state path; the
  * stateful modes require it). Run: `sbt "runMain graft.CurationBench"`;
  * env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_SCALE_X (default 10),
  * SPARK_GRAFT_CPUS, SPARK_GRAFT_BENCH_PASSES,
  * SPARK_GRAFT_CURATION_FILES (files/trigger),
  * SPARK_GRAFT_COMPACT_EVERY. */
object CurationBench {
  import Bench.median

  def main(args: Array[String]): Unit = {
    val (sfDir, passes) = (Bench.envSfDir, Bench.envPasses)
    val k = math.max(1, sys.env.get("SPARK_GRAFT_SCALE_X")
      .flatMap(_.toIntOption).getOrElse(10))
    val filesPerTrigger = math.max(1, sys.env.get("SPARK_GRAFT_CURATION_FILES")
      .flatMap(_.toIntOption).getOrElse(8))
    val spark = Bench.session("spark.sql.streaming.stateStore.providerClass" ->
      ("org.apache.spark.sql.execution.streaming.state." +
        "RocksDBStateStoreProvider"))

    val rep = ScaleData.ensureReplicated(spark, sfDir, k)
    val work = java.nio.file.Files.createTempDirectory("curation_bench").toString

    // Deterministic replay (r17 verdict ask #5): the file stream source
    // orders files by modification time, and one parquet write job
    // leaves near-identical mtimes, so the maxFilesPerTrigger grouping —
    // hence which replica of a duplicate registers first — varied run to
    // run (the 317/280/296 kept-count wobble). Range partitioning
    // already makes part-file NAME order the event order; stamping
    // strictly increasing mtimes in name order makes listing order BE
    // arrival order, so same-config runs replay identically and the
    // kept column is a regression check. Bench-harness only — a
    // production intake's arrival order belongs to the crawler.
    def stampArrivalOrder(dirPath: String): Unit = {
      val d = java.nio.file.Paths.get(dirPath)
      val s = java.nio.file.Files.list(d)
      val parts = try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala
          .filter(_.getFileName.toString.endsWith(".parquet"))
          .toSeq.sortBy(_.getFileName.toString)
      } finally s.close()
      parts.zipWithIndex.foreach { case (p, i) =>
        java.nio.file.Files.setLastModifiedTime(p,
          java.nio.file.attribute.FileTime.fromMillis(
            1714521600000L + i * 1000L))
        ()
      }
    }

    val crawlDir = s"$work/crawl"
    // fetchTs: 100 ms per original doc id — the whole crawl spans ~8 min of
    // event time, far inside the 1 h horizon, so no probe is watermark-late
    // whatever the file order; range partitioning makes order ≈ time anyway
    Tables.documents(spark, rep)
      .select(col("doc_id").as("docId"), col("source"), col("text"),
        timestamp_millis(lit(1714521600000L) +
          pmod(col("doc_id"), lit(100000000L)) * 100L).as("fetchTs"))
      .repartitionByRange(64, col("fetchTs"), col("docId"))
      .write.mode("overwrite").parquet(crawlDir)
    stampArrivalOrder(crawlDir)
    val docs = spark.read.parquet(crawlDir).count()
    // machine-speed context: throughput rows are only comparable across
    // runs with calib attached. Same probe as Bench/StageBench, and —
    // per the probe's own contract — measured AFTER warm work (the
    // replicate + crawl-layout write above exercised scan/shuffle/write
    // codegen), so it reads steady-state machine speed, not JVM startup.
    val calibSec =
      try Bench.calibrationProbe(spark)
      catch { case scala.util.control.NonFatal(_) => -1.0 }

    val compactEvery = math.max(1, sys.env.get("SPARK_GRAFT_COMPACT_EVERY")
      .flatMap(_.toIntOption).getOrElse(4))

    // Degenerate-burst layout (r13 verdict ask #5): SPARK_GRAFT_BURST_DOCS
    // (default 10,000) IDENTICAL-content docs — the streaming analogue of
    // the batch hot bucket, where every probe of every micro-batch lands
    // on the same B band keys. The near-dup gate's state is one keeper
    // per bucket and per-row work is O(1), so the `burst` row's docs/s
    // must sit in the same regime as the diverse `near` row — a streaming
    // quadratic would crater it. 16 range files so the AvailableNow run
    // covers multiple micro-batches against already-hot buckets.
    val burstDocs = math.max(1L, sys.env.get("SPARK_GRAFT_BURST_DOCS")
      .flatMap(_.toLongOption).getOrElse(10000L))
    val burstDir = s"$work/burst"
    spark.range(burstDocs)
      .select(col("id").as("docId"), lit("burst").as("source"),
        lit("the quick brown fox jumps over the lazy dog with " +
          "boilerplate license footer text").as("text"),
        timestamp_millis(lit(1714521600000L) + col("id") * 10L).as("fetchTs"))
      .repartitionByRange(16, col("fetchTs"), col("docId"))
      .write.mode("overwrite").parquet(burstDir)
    stampArrivalOrder(burstDir)

    // Semantic-gate layout (r15 verdict ask #7's measured row): the
    // replicated embeddings as a VecIn-shaped file stream, plus the
    // FROZEN coarse quantizer staged once on the driver session before
    // any pass starts (the index-build cost a deployment pays once, not
    // a per-micro-batch cost — excluded from the gate's docs/s by the
    // same logic that excludes the crawl layout write above).
    val vecDir = s"$work/vecs"
    spark.read.parquet(s"$rep/embeddings.parquet")
      .select(col("vec_id").as("vecId"), col("embedding"),
        timestamp_millis(lit(1714521600000L) +
          pmod(col("vec_id"), lit(100000000L)) * 100L).as("fetchTs"))
      .repartitionByRange(64, col("fetchTs"), col("vecId"))
      .write.mode("overwrite").parquet(vecDir)
    stampArrivalOrder(vecDir)
    val vecs = spark.read.parquet(vecDir).count()
    // One frozen config, one capped codebook config for both quantizer
    // kinds, so the rule and trained rows differ only in GEOMETRY (and
    // in which codebook the encode rides). Lloyd founding is priced into
    // the setup, not the per-batch walls (a deployment's index cost).
    val frozenIvf = graft.operators.IvfConfig(frozen = true)
    val cappedPq =
      Some(graft.operators.PqConfig(frozen = true, maxCodewords = Some(64L)))
    val ruleIdx = CurationStream.frozenGateIndex(spark, rep,
      graft.operators.Quantizer.Rule(frozenIvf), cappedPq)
    val trainedIdx = CurationStream.frozenGateIndex(spark, rep,
      graft.operators.Quantizer.Trained(frozenIvf), cappedPq)

    def run(mode: String, pass: Int): Double = {
      val srcDir = mode match {
        case "burst" => burstDir
        case "sem" | "semc" | "semt" | "semtc" => vecDir
        case _ => crawlDir
      }
      def readAs[T <: Product : scala.reflect.runtime.universe.TypeTag]() =
        spark.readStream
          .schema(Encoders.product[T].schema)
          .option("maxFilesPerTrigger", filesPerTrigger.toString)
          .parquet(srcDir)
          .as[T](Encoders.product[T])
      val t0 = System.nanoTime()
      val q = mode match {
        case "exact" | "near" | "burst" | "sem" | "semc" | "semt"
            | "semtc" =>
          val out = mode match {
            case "exact" => CurationStream.curate(readAs[DocIn]())
            case "near" | "burst" => CurationStream.nearDedup(readAs[DocIn]())
            case "sem" | "semt" =>
              val idx = if (mode == "sem") ruleIdx else trainedIdx
              CurationStream.semDedupGate(readAs[CurationStream.VecIn](),
                idx.cells)
            case "semc" | "semtc" =>
              val idx = if (mode == "semc") ruleIdx else trainedIdx
              CurationStream.semDedupGateCoded(
                readAs[CurationStream.VecIn](), idx.cells, idx.codebook.get)
          }
          out.writeStream.outputMode("append").format("parquet")
            .option("path", s"$work/out_${mode}_$pass")
            .option("checkpointLocation", s"$work/ckpt_${mode}_$pass")
            .trigger(Trigger.AvailableNow())
            .start()
        case "canon" | "canonc" =>
          CurationStream.startCanonicalSink(readAs[DocIn](),
            tableDir = s"$work/out_${mode}_$pass",
            checkpointDir = s"$work/ckpt_${mode}_$pass",
            compactEvery = if (mode == "canonc") compactEvery else 0,
            trigger = Some(Trigger.AvailableNow()))
      }
      q.awaitTermination()
      (System.nanoTime() - t0) / 1e9
    }

    val modes =
      Seq("exact", "near", "canon", "canonc", "burst", "sem", "semc",
        "semt", "semtc")
    val times: Map[String, Seq[Double]] = {
      val all = for { pass <- 1 to passes; m <- modes } yield m -> run(m, pass)
      all.groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
    }
    val med = modes.map(m => m -> median(times(m))).toMap
    // exact/near/burst: rows the gate kept; canon modes: the materialized
    // table's merged view — one row per live cluster
    val kept = Map(
      "exact" -> spark.read.parquet(s"$work/out_exact_1").count(),
      "near" -> spark.read.parquet(s"$work/out_near_1").count(),
      "burst" -> spark.read.parquet(s"$work/out_burst_1").count(),
      "canon" -> CurationStream.canonicalTable(spark, s"$work/out_canon_1")
        .count(),
      "canonc" -> CurationStream.canonicalTable(spark, s"$work/out_canonc_1")
        .count(),
      // sem emits a verdict per vector; "kept" is the gate's keep count
      "sem" -> spark.read.parquet(s"$work/out_sem_1")
        .filter(col("kept")).count(),
      // semc: kept count plus an encode-completeness probe — every
      // verdict must carry its 8 codes (the row is only "index-ready"
      // if the codes actually rode through)
      "semc" -> spark.read.parquet(s"$work/out_semc_1")
        .filter(col("kept") && org.apache.spark.sql.functions.size(
          col("codes")) === 8).count(),
      // semt: the trained gate's keep count — comparable to sem's only
      // in regime (different geometry legitimately drops more)
      "semt" -> spark.read.parquet(s"$work/out_semt_1")
        .filter(col("kept")).count(),
      // semtc: trained decisions AND trained codes — index-ready only
      // if all 8 codes rode through (the semc completeness probe)
      "semtc" -> spark.read.parquet(s"$work/out_semtc_1")
        .filter(col("kept") && org.apache.spark.sql.functions.size(
          col("codes")) === 8).count())
    val line =
      f"""{"metric":"curation_docs_per_sec","docs":$docs,"x":$k,"sf":"$sfDir","passes":$passes,"files_per_trigger":$filesPerTrigger,"compact_every":$compactEvery,"calib_sec":$calibSec%.3f,"exact_sec":${med("exact")}%.3f,"near_sec":${med("near")}%.3f,"canon_sec":${med("canon")}%.3f,"canonc_sec":${med("canonc")}%.3f,"exact_dps":${docs / med("exact")}%.0f,"near_dps":${docs / med("near")}%.0f,"canon_dps":${docs / med("canon")}%.0f,"canonc_dps":${docs / med("canonc")}%.0f,"exact_kept":${kept("exact")},"near_kept":${kept("near")},"canon_clusters":${kept("canon")},"canonc_clusters":${kept("canonc")},"burst_docs":$burstDocs,"burst_sec":${med("burst")}%.3f,"burst_dps":${burstDocs / med("burst")}%.0f,"burst_kept":${kept("burst")},"sem_vecs":$vecs,"sem_sec":${med("sem")}%.3f,"sem_dps":${vecs / med("sem")}%.0f,"sem_kept":${kept("sem")},"semc_sec":${med("semc")}%.3f,"semc_dps":${vecs / med("semc")}%.0f,"semc_kept_coded":${kept("semc")},"semt_sec":${med("semt")}%.3f,"semt_dps":${vecs / med("semt")}%.0f,"semt_kept":${kept("semt")},"semtc_sec":${med("semtc")}%.3f,"semtc_dps":${vecs / med("semtc")}%.0f,"semtc_kept_coded":${kept("semtc")}}"""
    spark.stop()
    println(line)
    System.out.flush()
  }
}
