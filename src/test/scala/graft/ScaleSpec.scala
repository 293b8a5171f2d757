package graft

import org.scalatest.funsuite.AnyFunSuite

/** Scale-evidence harness checks (SCALE.md): the replicated corpus is
  * deterministic, the scale families produce the structurally expected
  * results on it, and — the 100 TB property — their PLAN SHAPES are
  * unchanged by a bigger input (a plan that degrades under growth fails
  * here before it fails a cluster). */
class ScaleSpec extends AnyFunSuite {
  import TestSpark.{spark, sf}

  private lazy val rep = {
    val dir = java.nio.file.Files.createTempDirectory("scale_x3").toString
    ScaleData.replicate(spark, sf, dir, 3)
    dir
  }

  private lazy val rep25 = {
    val dir = java.nio.file.Files.createTempDirectory("scale_x25").toString
    ScaleData.replicate(spark, sf, dir, 25)
    dir
  }

  private def planOf(q: String, dir: String): String =
    SparkEntry.queries(q)(spark, dir).queryExecution.executedPlan.toString

  test("replication is deterministic and disjoint: 3x rows, disjoint ids, disjoint replica shingles") {
    import org.apache.spark.sql.functions._
    val base = Tables.documents(spark, sf)
    val docs = Tables.documents(spark, rep)
    assert(docs.count() === base.count() * 3)
    assert(docs.select("doc_id").distinct().count() === docs.count())
    // replica 0 is the base corpus verbatim
    assert(docs.filter(col("doc_id") < 100000000L).count() === base.count())
    // replicas prefix every token — no shingle can cross replicas
    val t1 = docs.filter(col("doc_id") >= 100000000L &&
      col("doc_id") < 200000000L).select("text").limit(1)
      .collect().head.getString(0)
    assert(t1.split(" ").forall(_.startsWith("1x")))
    assert(Tables.embeddings(spark, rep).count() ===
      Tables.embeddings(spark, sf).count() * 3)
  }

  test("dedup chain on the replicated corpus: K independent copies of the base structure") {
    import org.apache.spark.sql.functions._
    // Row count alone is vacuous (components emits one row per doc
    // regardless of clustering) — compare the component STRUCTURE: the
    // number of distinct components and the number of clustered docs
    // (doc_id ≠ component) must both triple exactly. A cross-replica
    // near-dup candidate would MERGE components and break the first.
    def structure(dir: String): (Long, Long) = {
      operators.Staged.reset(spark)
      val c = SparkEntry.queries("dedup_components")(spark, dir)
        .localCheckpoint(eager = true)
      (c.select("component").distinct().count(),
        c.filter(col("doc_id") =!= col("component")).count())
    }
    val (baseComponents, baseClustered) = structure(sf)
    val (repComponents, repClustered) = structure(rep)
    assert(repComponents === baseComponents * 3,
      "cross-replica candidates merged components — token prefixing broke")
    assert(repClustered === baseClustered * 3,
      "clustered-doc count must triple exactly")
    assert(baseClustered > 0,
      "the base corpus must actually contain near-dup clusters " +
        "or this test checks nothing")
    operators.Staged.reset(spark)
  }

  test("ann recall does not erode on the replicated corpus (and stays above the floor)") {
    // The scale story's quality half (r8 verdict ask #5): growing the
    // candidate corpus must not silently erode what the index returns.
    // An ABSOLUTE high bar (0.9) would misstate the operating point: the
    // tuned knobs (nprobe=2, 8 LSH tables, int8 resolution) deliver
    // ~0.6-0.66 recall@5 at sf0.001 BY DESIGN (documented tradeoffs:
    // nprobe=1 measured 0.46, nprobe=2 clears the OpQuerySpec gate), and
    // replication can only raise measured recall (identical-vector
    // copies enter the gold set and any sane index surfaces them). So
    // the gate is relative: recall on the grown corpus must be at least
    // recall on the base minus noise, and above the 0.5 mistuning floor.
    // An index that got faster at scale by returning the wrong neighbors
    // fails here.
    operators.Staged.reset(spark)
    val baseR = ScaleBench.annRecallAt5(spark, sf)
    operators.Staged.reset(spark)
    val repR = ScaleBench.annRecallAt5(spark, rep)
    // Lossy-code-only rungs (no exact rescore) sit below the mistuning
    // floor BY DESIGN against a cosine gold — the same reason raw
    // `ann_topk_pq` never joined this gate; their quality claims are
    // gated on the clustered fixture against their own exhaustive
    // limit. The erosion leg still applies to them.
    val lossyOnly = Set("ann_topk_ivfadc", "ann_topk_pq_refined",
      "ann_topk_ivfadc_refined")
    for ((variant, r) <- repR) {
      if (!lossyOnly(variant))
        assert(r >= 0.5, f"$variant recall@5 on the x3 corpus = $r%.3f")
      assert(r >= baseR(variant) - 0.05,
        f"$variant recall@5 eroded under replication: " +
          f"base ${baseR(variant)}%.3f -> x3 $r%.3f")
    }
    // r9 verdict ask #5: the nprobe-derived-from-nlist variant must
    // dominate the fixed-nprobe sibling on the grown corpus (it probes a
    // superset of cells by construction — max(2, ceil(nlist/4)) ≥ 2 —
    // so any violation means the rule drifted from the shared index).
    assert(repR("ann_topk_ivf_tuned") >= repR("ann_topk_ivf") - 1e-9,
      f"tuned IVF recall ${repR("ann_topk_ivf_tuned")}%.3f fell below " +
        f"fixed-nprobe ${repR("ann_topk_ivf")}%.3f on the x3 corpus")
    operators.Staged.reset(spark)
  }

  test("canonical election: no forced broadcast on cluster tables, completes at x25 (r9 verdict #1)") {
    import org.apache.spark.sql.functions._
    // The cluster-derived tables (clusteredIds, canon) grow with corpus
    // size x duplicate fraction, so the election must NOT hint-force them
    // into broadcasts — AQE sizes every join at runtime. Pin the absence
    // of the hint in the logical plan, then prove the AQE-sized plan
    // actually completes on a x25 corpus with the replica structure intact.
    val dir = rep25
    operators.Staged.reset(spark)
    val df = SparkEntry.queries("dedup_canonicalize")(spark, dir)
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(!optimized.contains("strategy=broadcast"),
      "canonicalElection reintroduced a forced broadcast hint:\n" + optimized)
    val out = df.localCheckpoint(eager = true)
    val docs = Tables.documents(spark, dir).count()
    assert(out.count() === docs, "election must assign every doc")
    // one canonical per component, x25 replicas => canonical count = 25x base
    operators.Staged.reset(spark)
    val baseCanon = SparkEntry.queries("dedup_canonicalize")(spark, sf)
      .filter(col("is_canonical") === 1L).count()
    assert(out.filter(col("is_canonical") === 1L).count() === baseCanon * 25,
      "canonical count must scale exactly with replication")
    operators.Staged.reset(spark)
  }

  test("jaccard verify: gated id filter's fallback join is hint-free and completes at x25 (r11 verdict #1)") {
    import org.apache.spark.sql.functions._
    // The candidate-doc id set grows with corpus size x duplicate
    // fraction, so jaccardOnCandidates must not carry an unconditional
    // broadcast hint. Force the above-threshold path (threshold 0) and
    // pin that the optimized plan carries NO forced hint — AQE sizes the
    // id-filter join at runtime — then prove it completes on the x25
    // corpus and returns exactly what the broadcast path returns.
    operators.Staged.reset(spark)
    val shRaw = operators.DedupQueries.shinglesStage(spark, rep25)
    val pairs = operators.DedupQueries.candidatesStage(spark, rep25)
    val fallback = functions.TextHashing
      .jaccardOnCandidates(shRaw, functions.Materialized(pairs),
        broadcastIdThreshold = 0L)
    val optimized = fallback.queryExecution.optimizedPlan.toString
    assert(!optimized.contains("strategy=broadcast"),
      "jaccardOnCandidates fallback path still forces a broadcast:\n" +
        optimized)
    def keyed(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_a"), col("doc_b"), col("n_inter"))
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
        .toMap
    val got = keyed(fallback)
    assert(got.nonEmpty, "x25 verify join returned no candidate pairs")
    val viaBroadcast =
      keyed(functions.TextHashing.jaccardOnCandidates(shRaw,
        functions.Materialized(pairs)))
    assert(got === viaBroadcast,
      "fallback join diverged from the broadcast path at x25")
    operators.Staged.reset(spark)
  }

  test("LSH hot-bucket guard: plan bit-identical below threshold, star-collapse above (r12 verdict #1)") {
    import org.apache.spark.sql.functions._
    import graft.functions.TextHashing
    val s = spark
    import s.implicits._
    // Engineered pathological corpus: 1,000 IDENTICAL docs — a degenerate
    // boilerplate cluster whose band signatures are identical by
    // construction (testdata's duplicate clusters are tiny, which is why
    // the unguarded quadratic survived every oracle run) — plus 50
    // token-disjoint unique docs.
    val boiler = (0L until 1000L).map(i =>
      (i, "all rights reserved license boilerplate footer page text"))
    val unique = (0L until 50L).map(i =>
      (5000L + i, s"u${i}a u${i}b u${i}c u${i}d u${i}e"))
    val docs = (boiler ++ unique).toDF("doc_id", "text")
    val sh = TextHashing.shingleSetsRaw(docs).localCheckpoint(eager = true)
    val bt = TextHashing.lshBandsFrom(sh).localCheckpoint(eager = true)
    // Below the (default) threshold the guard must return EXACTLY the
    // historical per-bucket self-join — same operators, same shape; only
    // expression ids may differ.
    def normalized(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.executedPlan.toString
        .replaceAll("#\\d+", "#x").replaceAll("plan_id=\\d+", "plan_id=x")
    val guardedCold =
      TextHashing.candidatePairsFromBands(graft.functions.Materialized(bt))
    val legacy = {
      val a = bt.as("a")
      val b = bt.as("b")
      a.join(b, col("a.band") === col("b.band") &&
          col("a.sig") === col("b.sig") &&
          col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .distinct()
    }
    assert(normalized(guardedCold) === normalized(legacy),
      "below-threshold plan drifted from the historical self-join:\n" +
        normalized(guardedCold))
    // Above the threshold the hot bucket star-collapses: O(B) edges
    // around the bucket's min doc, never O(B²) enumeration.
    val guarded = TextHashing
      .candidatePairsFromBands(graft.functions.Materialized(bt),
        hotBucketThreshold = 100L)
      .localCheckpoint(eager = true)
    // two anchors (min and max doc) -> 2(B-1) - 1 distinct star edges
    assert(guarded.count() === 1997L,
      "hot bucket must contribute the two-anchor star, not O(B^2) pairs")
    assert(guarded.filter(col("doc_a") =!= 0L && col("doc_b") =!= 999L)
      .count() === 0L,
      "every star edge must touch one of the bucket's two anchors")
    val brute = guardedCold.localCheckpoint(eager = true)
    assert(brute.count() === 999L * 1000L / 2L,
      "the unguarded enumeration IS quadratic on this corpus")
    // Downstream closure unchanged: verify -> components gives the same
    // assignment through the star as through the full clique.
    def comps(pairs: org.apache.spark.sql.DataFrame): Map[Long, Long] = {
      val verified = TextHashing.jaccardOnCandidates(sh,
        graft.functions.Materialized(pairs))
        .filter(col("jaccard") >= 0.7)
        .select(col("doc_a").as("src"), col("doc_b").as("dst"))
      TextHashing.connectedComponents(docs.select("doc_id"),
        graft.functions.Materialized(verified))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    val viaStars = comps(guarded)
    assert(viaStars === comps(brute),
      "star-collapsed components diverged from the brute clique's")
    assert(viaStars.count(_._2 == 0L) === 1000,
      "all 1,000 boilerplate docs must land in one component")
  }

  test("simhash pigeonhole join shares the hot-bucket guard (r12 verdict #1)") {
    import org.apache.spark.sql.functions._
    import graft.functions.TextHashing
    val s = spark
    import s.implicits._
    val boiler = (0L until 1000L).map(i =>
      (i, "all rights reserved license boilerplate footer page text"))
    val unique = (0L until 50L).map(i =>
      (5000L + i, s"u${i}a u${i}b u${i}c u${i}d u${i}e"))
    val docs = (boiler ++ unique).toDF("doc_id", "text")
    val fp = TextHashing.simhash(docs).localCheckpoint(eager = true)
    // identical docs -> identical fingerprints -> every block bucket is a
    // 1,000-doc degenerate bucket
    val guarded = TextHashing
      .simhashPairsFrom(graft.functions.Materialized(fp), maxDist = 3,
        hotBucketThreshold = 100L)
      .localCheckpoint(eager = true)
    val brute = TextHashing.simhashPairsFrom(
      graft.functions.Materialized(fp), maxDist = 3)
      .localCheckpoint(eager = true)
    assert(guarded.count() === 1997L,
      "hot block bucket must star-collapse to the two-anchor star")
    assert(guarded.filter(col("hamming") =!= 0L).count() === 0L,
      "every emitted star pair still passes the exact Hamming verify")
    assert(brute.count() === 999L * 1000L / 2L)
    // connectivity through the star equals the clique's
    def comps(pairs: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      TextHashing.connectedComponents(docs.select("doc_id"),
        graft.functions.Materialized(
          pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comps(guarded) === comps(brute),
      "simhash star-collapse changed the transitive closure")
  }

  test("SemDeDup cell pairing shares the hot-bucket guard: plan identity below, keeper parity above (r14 verdict #1)") {
    import org.apache.spark.sql.functions._
    import graft.functions.TextHashing
    import operators.{SemDedupConfig, SimilarityQueries}
    // Engineered degenerate cell: 1,000 identical embeddings whose home
    // cell is the same (a boilerplate embedding mega-cluster — exactly
    // what a capped-nlist deployment concentrates into one cell), plus 50
    // vectors in singleton cells.
    val hotN = 1000L
    val home = spark.range(0L, hotN)
      .select(col("id").as("vec_id"), lit(7L).as("cid"))
      .union(spark.range(hotN, hotN + 50L)
        .select(col("id").as("vec_id"), col("id").as("cid")))
      .localCheckpoint(eager = true)
    val q8 = spark.range(0L, hotN)
      .select(col("id").as("vec_id"),
        expr("transform(sequence(1, 64), x -> 5.0D)").as("q8"))
      .union(spark.range(hotN, hotN + 50L)
        .select(col("id").as("vec_id"),
          expr("transform(sequence(1, 64), " +
            "x -> CAST(pmod(id * 31 + x, 13) - 6 AS DOUBLE))").as("q8")))
      .localCheckpoint(eager = true)
    // Below the threshold the pairing is EXACTLY the per-cell self-join —
    // same operators, same shape; only expression ids may differ.
    val cells = home.select(col("vec_id").as("doc_id"), col("cid"))
      .localCheckpoint(eager = true)
    def normalized(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.executedPlan.toString
        .replaceAll("#\\d+", "#x").replaceAll("plan_id=\\d+", "plan_id=x")
    val below = TextHashing.guardedPairs(
      graft.functions.Materialized(cells), Seq("cid"),
      hotBucketThreshold = 10000L)
    val legacy = {
      val a = cells.as("a")
      val b = cells.as("b")
      a.join(b, col("a.cid") === col("b.cid") &&
          col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
    }
    assert(normalized(below) === normalized(legacy),
      "below-threshold cell pairing drifted from the historical self-join:\n" +
        normalized(below))
    // Above the threshold the hot cell star-collapses: O(|cell|) edges,
    // never the O(|cell|²) single-task quadratic.
    val starPairs = TextHashing.guardedPairs(
      graft.functions.Materialized(cells), Seq("cid"),
      hotBucketThreshold = 100L)
    // guardedPairs does not dedup (the (min,max) edge rides in both star
    // halves — min/agg consumers are insensitive): 2(B-1) edges total
    assert(starPairs.count() === 2L * (hotN - 1L),
      "hot cell must contribute the two-anchor star, not O(|cell|²) pairs")
    // Keeper semantics: on the identical-vector cluster the guarded
    // decision must EQUAL brute exactly — every non-minimum doc dropped
    // toward the cluster minimum, minimum kept, singleton cells untouched.
    def decisions(cfg: SemDedupConfig): Set[(Long, Long, Long)] =
      SimilarityQueries.semanticDedupOn(home, q8, cfg)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val guarded = decisions(SemDedupConfig(hotCellThreshold = 100L))
    val brute = decisions(SemDedupConfig(hotCellThreshold = Long.MaxValue))
    assert(guarded === brute,
      "star-collapsed keeper assignment diverged from the brute self-join")
    assert(guarded === (1L until hotN).map(i => (i, 7L, 0L)).toSet,
      "every non-minimum member of the degenerate cell must drop to the " +
        "cell minimum; singleton cells must be untouched")
    // And every dup_of is a valid keeper under the documented rule:
    // smaller than the doc it replaces.
    assert(guarded.forall { case (v, _, d) => d < v })
    // the config drives the REAL staged query end to end too (IvfConfig
    // precedent): a lower floor can only drop a superset of the default's
    operators.Staged.reset(spark)
    val dflt = SimilarityQueries
      .semanticDedupWith(spark, sf, SemDedupConfig.Default)
      .collect().map(_.getLong(0)).toSet
    val loose = SimilarityQueries
      .semanticDedupWith(spark, sf, SemDedupConfig(dotFloor = 500L))
      .collect().map(_.getLong(0)).toSet
    assert(dflt.subsetOf(loose),
      "a lower similarity floor must drop a superset of the default's")
    operators.Staged.reset(spark)
  }

  test("frozen IVF quantizer: recall parity with a re-trained index on an un-drifted append (r15 verdict #1)") {
    import org.apache.spark.sql.functions._
    import operators.{IvfConfig, SimilarityQueries}
    // A same-distribution append (verbatim vector copies under fresh
    // ids — the ScaleData replica idea): the case the freeze exists for.
    // The frozen index must delta-assign the drop and match the recall
    // of a full re-train within the suite's noise band.
    val work = java.nio.file.Files.createTempDirectory("frz_recall").toString
    Tables.embeddings(spark, sf)
      .write.parquet(s"$work/embeddings.parquet")
    def tops(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.filter(col("rank") <= 5).collect()
        .groupBy(_.getAs[Long]("query_id"))
        .map { case (q, rs) =>
          q -> rs.map(_.getAs[Long]("neighbor_id")).toSet }
    def recall(gold: Map[Long, Set[Long]],
        got: Map[Long, Set[Long]]): Double =
      gold.keys.toSeq.map(q =>
        (gold(q) & got.getOrElse(q, Set.empty)).size.toDouble /
          gold(q).size).sum / gold.size
    // driftFractionMax = 1.0: this test's subject is recall under a KEPT
    // quantizer; the gate's refusal behavior is pinned in
    // StagedIncrementalSpec
    val frozenCfg = IvfConfig(frozen = true, driftFractionMax = 1.0)
    operators.Staged.evict(spark)
    operators.Staged.enablePersist(
      java.nio.file.Files.createTempDirectory("frz_recall_root").toString)
    try {
      // found the quantizer at the base corpus
      SimilarityQueries.ivfTopKWith(spark, work, frozenCfg).count()
      // the drop: every third vector re-landed verbatim under a new id
      val slice = spark.read.parquet(s"$work/embeddings.parquet")
        .filter(pmod(col("vec_id"), lit(3)) === 0)
        .select((col("vec_id") + 10000000L).as("vec_id"), col("embedding"),
          col("label"))
      val tmp = java.nio.file.Files.createTempDirectory("frz_slice")
      slice.write.mode("overwrite").parquet(tmp.toString)
      val target = java.nio.file.Paths.get(s"$work/embeddings.parquet")
      val l = java.nio.file.Files.list(tmp)
      try {
        import scala.jdk.CollectionConverters._
        l.iterator().asScala
          .filter(_.getFileName.toString.endsWith(".parquet"))
          .foreach(p => java.nio.file.Files.move(p,
            target.resolve(p.getFileName.toString)))
      } finally l.close()
      operators.Staged.reset(spark)
      operators.Staged.clearBuildLog()
      val frozenTops = tops(
        SimilarityQueries.ivfTopKWith(spark, work, frozenCfg))
      // the incremental claim at the recall level too: the whole family
      // resolved by delta, nothing re-scored the old corpus
      val ivfModes = operators.Staged.buildLogSnapshot.collect {
        case (s, m) if s.startsWith("ivf_c") => (s, m) }
      assert(ivfModes.nonEmpty && ivfModes.forall(_._2 == "delta"),
        s"frozen family must delta-resolve: $ivfModes")
      // comparators run in session mode on the grown corpus
      operators.Staged.disablePersist()
      operators.Staged.reset(spark)
      val gold = tops(SparkEntry.queries("ann_topk_brute")(spark, work))
      val rebuilt = tops(
        SimilarityQueries.ivfTopKWith(spark, work, IvfConfig.Default))
      val rf = recall(gold, frozenTops)
      val rr = recall(gold, rebuilt)
      assert(rf >= 0.5, f"frozen recall@5 fell below the floor: $rf%.3f")
      assert(rf >= rr - 0.05,
        f"frozen recall $rf%.3f must match the re-trained index's " +
          f"$rr%.3f on an un-drifted append")
    } finally {
      operators.Staged.disablePersist()
      operators.Staged.reset(spark)
    }
  }

  test("capped index cardinality: recall holds under the cap, and the rerank rung converges to exhaustive int8 (r16 verdict #1/#2)") {
    import operators.{Codebook, SimilarityQueries, Staged}
    // the ONE recall@5 definition — ScaleBench's own helpers, so this
    // gate pins the same metric the published scale rows report
    def tops(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      ScaleBench.topSets(df)
    def recall(gold: Map[Long, Set[Long]],
        got: Map[Long, Set[Long]]): Double = ScaleBench.meanRecall(gold, got)
    for (dir <- Seq(sf, rep)) {
      Staged.reset(spark)
      val gold = tops(SparkEntry.queries("ann_topk_brute")(spark, dir))
      // the CAPPED quantizer (nlist = maxCentroids = 3, a config
      // constant) vs the rule-derived one (nlist = N/100): at fixed
      // nprobe=2 fewer cells probe a LARGER corpus fraction, so capped
      // recall dominates here by the probed-fraction rule the sweep
      // curve documents (measured 0.82 vs 0.64 base, 0.94 vs 0.70 ×3 —
      // deterministic on this corpus). The load-bearing halves: the cap
      // costs no recall at the suite's floor, and does not erode under
      // replication.
      val capped = recall(gold,
        tops(SparkEntry.queries("ann_topk_ivf_capped")(spark, dir)))
      val uncapped = recall(gold,
        tops(SparkEntry.queries("ann_topk_ivf")(spark, dir)))
      assert(capped >= 0.5, f"capped IVF recall@5 on $dir = $capped%.3f")
      assert(capped >= uncapped - 1e-9,
        f"capped IVF recall $capped%.3f fell below uncapped " +
          f"$uncapped%.3f on $dir")
      // the deployment rerank rung (r16 ask #2): ADC top-100 prefilter →
      // exact int8 rescore. It must clear the suite's mistuning floor
      // and dominate the standalone ADC transform it refines (measured
      // 0.68 vs 0.10 base, 0.70 vs 0.40 ×3). Exhaustive int8 still
      // sits above it on THIS corpus (0.88/0.94) — uniform-random
      // embeddings give the 8-byte codes little signal to prefilter on,
      // the documented data property; the structural guarantee is the
      // convergence pin below, not a beats-exhaustive claim no prefilter
      // can make on signal-free data.
      val rerank = recall(gold,
        tops(SparkEntry.queries("ann_topk_pq_rerank")(spark, dir)))
      val adc = recall(gold,
        tops(SparkEntry.queries("ann_topk_pq")(spark, dir)))
      assert(rerank >= 0.5, f"pq rerank recall@5 on $dir = $rerank%.3f")
      assert(rerank >= adc - 1e-9,
        f"rerank $rerank%.3f must dominate standalone ADC $adc%.3f ($dir)")
    }
    // the LIMIT pin: with the prefilter spanning the corpus, the rerank
    // IS the exhaustive int8 ranking — same candidates, same integer
    // dots, same (dot desc, id asc) tie-break — so the rung degrades
    // gracefully toward exhaustive as `pre` widens and can never invent
    // an ordering of its own.
    Staged.reset(spark)
    val n = Tables.embeddings(spark, sf).count().toInt
    val full = tops(SimilarityQueries
      .pqRerankTopKWith(spark, sf, 5, n, Codebook.Rule()))
    val int8 = tops(SparkEntry.queries("ann_topk_int8")(spark, sf))
    assert(full === int8,
      "full-width rerank must equal the exhaustive int8 top-5 exactly")
    Staged.reset(spark)
  }

  test("clustered-embedding recall: the index family shows deployment-shaped recall, rerank dominates ADC there too (r17 verdict #6)") {
    // Every uniform-random recall row ships with the "PQ/IVF carry
    // little signal on this data" disclaimer; the clustered fixture is
    // where the disclaimers must NOT be needed — similar vectors share
    // cells and codes, so the index family has the structure it exists
    // to exploit. Floors are the measured values minus a safety margin
    // (the fixture is deterministic — these reproduce bit-identically).
    // One metric subtlety the fixture SURFACES rather than hides: each
    // cluster holds ~64 near-duplicates, so the cosine top-5 among them
    // is decided by jitter-scale differences — and the PQ family ranks
    // by exact int8 DOT, which genuinely disagrees with cosine about
    // which 5 of 64 near-ties come first (norm spread reorders them).
    // That is a metric property of near-duplicate-dense data, not index
    // quality: the cosine-scored IVF variants are gated against the
    // cosine brute gold, and the dot-scored PQ rung against the
    // exhaustive int8 scan it approximates — losing nothing vs its own
    // exhaustive limit IS the deployment claim.
    operators.Staged.reset(spark)
    val dir = ScaleData.ensureClustered(spark)
    def tops(name: String): Map[Long, Set[Long]] =
      ScaleBench.topSets(SparkEntry.queries(name)(spark, dir))
    val goldCos = tops("ann_topk_brute")
    val goldInt8 = tops("ann_topk_int8")
    assert(goldCos.nonEmpty && goldInt8.nonEmpty)
    val rerank = ScaleBench.meanRecall(goldInt8, tops("ann_topk_pq_rerank"))
    val adc = ScaleBench.meanRecall(goldInt8, tops("ann_topk_pq"))
    val capped = ScaleBench.meanRecall(goldCos, tops("ann_topk_ivf_capped"))
    val ivf = ScaleBench.meanRecall(goldCos, tops("ann_topk_ivf"))
    val ivfpq =
      ScaleBench.meanRecall(goldInt8, tops("ann_topk_ivfpq_rerank"))
    // r18: the Lloyd-refined quantizer vs its rule-seeded sibling at the
    // SAME nprobe and the same exact-int8-dot rescore — data-aware
    // centroid placement must never read worse than the id-rule it
    // refines, and on clustered data (where placement is the whole
    // game) it must hold the deployment floor.
    val refined =
      ScaleBench.meanRecall(goldInt8, tops("ann_topk_ivf_refined"))
    val ruleInt8 =
      ScaleBench.meanRecall(goldInt8, tops("ann_topk_ivf_int8"))
    info(f"clustered recall@5: rerank(vs int8)=$rerank%.3f " +
      f"adc(vs int8)=$adc%.3f ivfpq(vs int8)=$ivfpq%.3f " +
      f"ivf_capped=$capped%.3f ivf=$ivf%.3f refined=$refined%.3f " +
      f"rule_int8=$ruleInt8%.3f")
    assert(refined >= ruleInt8 - 1e-9,
      f"Lloyd-refined IVF recall $refined%.3f must not read worse than " +
        f"the rule-seeded sibling $ruleInt8%.3f on clustered data")
    assert(refined >= 0.9,
      f"Lloyd-refined IVF recall@5 on clustered data = $refined%.3f")
    assert(ivfpq >= 0.99,
      f"the composed IVF-PQ-rerank shape must keep every cluster-mate " +
        f"through both pruning rungs on clustered data: $ivfpq%.3f")
    assert(rerank >= adc - 1e-9,
      f"rerank $rerank%.3f must dominate standalone ADC $adc%.3f on " +
        "clustered data")
    assert(rerank >= 0.99,
      f"rerank recall@5 vs its exhaustive-int8 limit on clustered " +
        f"data = $rerank%.3f — the ADC prefilter must keep every " +
        "cluster-mate (identical codes tie at the top)")
    assert(capped >= 0.9,
      f"capped IVF recall@5 on clustered data = $capped%.3f")
    assert(ivf >= 0.9, f"IVF recall@5 on clustered data = $ivf%.3f")
    // r18: residual PQ (IVFADC proper). The raw-vector ADC wastes its
    // codebook re-describing each vector's centroid; the residual
    // encode spends the same 8 bytes on the within-cell offset — on
    // clustered data it must dominate the raw rung.
    val ivfadc = ScaleBench.meanRecall(goldInt8, tops("ann_topk_ivfadc"))
    info(f"clustered recall@5: ivfadc(vs int8)=$ivfadc%.3f vs raw " +
      f"adc=$adc%.3f")
    assert(ivfadc >= adc - 1e-9,
      f"residual codes must not read worse than raw-vector ADC on " +
        f"clustered data: $ivfadc%.3f vs $adc%.3f")
    // r19: TRAINED codebooks (per-subspace integer Lloyd). The whole
    // point of training is that the cheap 8-byte rungs earn recall from
    // data structure instead of leaning on the exact rescore — so the
    // trained ADC rung must dominate its rule-codebook sibling on
    // clustered data, and the fully-trained IVFADC (trained cells AND
    // trained residual codes) must dominate the rule IVFADC.
    val pqRefined =
      ScaleBench.meanRecall(goldInt8, tops("ann_topk_pq_refined"))
    val ivfadcRefined =
      ScaleBench.meanRecall(goldInt8, tops("ann_topk_ivfadc_refined"))
    info(f"clustered recall@5 (r19 trained): pq_refined=$pqRefined%.3f " +
      f"vs rule adc=$adc%.3f; ivfadc_refined=$ivfadcRefined%.3f " +
      f"vs rule ivfadc=$ivfadc%.3f")
    assert(pqRefined >= adc - 1e-9,
      f"trained PQ codebook must not read worse than the rule codebook " +
        f"on clustered data: $pqRefined%.3f vs $adc%.3f")
    assert(ivfadcRefined >= ivfadc - 1e-9,
      f"fully-trained IVFADC must not read worse than the rule IVFADC " +
        f"on clustered data: $ivfadcRefined%.3f vs $ivfadc%.3f")
    // r19: the fully-trained deployment rerank shape — trained cells +
    // trained codes + exact rescore — must keep every cluster-mate
    // through both pruning rungs, like its rule sibling.
    val rerankRefined =
      ScaleBench.meanRecall(goldInt8, tops("ann_topk_ivfpq_rerank_refined"))
    info(f"clustered recall@5 (r19): ivfpq_rerank_refined=" +
      f"$rerankRefined%.3f")
    assert(rerankRefined >= 0.99,
      f"the fully-trained rerank shape must keep every cluster-mate: " +
        f"$rerankRefined%.3f")
    operators.Staged.reset(spark)
  }

  test("label_cohesion width gate: long plan below the bound, exact DECIMAL(38,0) past it, equal values (r15 verdict #2)") {
    import operators.{CohesionConfig, SimilarityQueries}
    operators.Staged.reset(spark)
    // the documented bound is now code, derivable: 64·(n·127)² < 2^63
    assert(CohesionConfig.LongExactMaxVecs * 127L <=
      math.pow(2, 28.5).toLong,
      "the shipped bound must sit inside the provable-exactness region")
    val narrow = SimilarityQueries
      .labelCohesionWith(spark, sf, CohesionConfig.Default)
    val wide = SimilarityQueries
      .labelCohesionWith(spark, sf, CohesionConfig(decimalAboveVecs = 0L))
    // branch selection is the gate's observable: LONG types below the
    // bound (bit-identical to the historical plan), DECIMAL(38,0) past it
    import org.apache.spark.sql.types.{DecimalType, LongType}
    assert(narrow.schema("sum_sq_total").dataType === LongType)
    assert(narrow.schema("cross_sum").dataType === LongType)
    assert(wide.schema("sum_sq_total").dataType === DecimalType(38, 0))
    assert(wide.schema("cross_sum").dataType === DecimalType(38, 0))
    // and the wide branch computes the SAME exact integers — decimal
    // widens the headroom, never the values
    val a = narrow.collect()
      .map(r => r.get(0).toString ->
        (r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    val b = wide.collect()
      .map(r => r.get(0).toString -> (r.getDecimal(2).longValueExact(),
        r.getDecimal(3).longValueExact(), r.getDecimal(4).longValueExact()))
      .toMap
    assert(a === b, "the two branches must agree exactly at this scale")
    operators.Staged.reset(spark)
  }

  test("IvfConfig: deployment rule as configuration, not prose (r12 verdict #2)") {
    import org.apache.spark.sql.functions._
    import operators.{IvfConfig, SimilarityQueries}
    // recall-target mode inverts the measured sweep curve: the measured
    // points themselves must round-trip, interpolation must be monotone,
    // and an unreachable target clamps at probe-everything
    assert(math.abs(IvfConfig.probeFractionFor(0.30) - 0.10) < 1e-9)
    assert(math.abs(IvfConfig.probeFractionFor(0.48) - 0.20) < 1e-9)
    val fs = Seq(0.1, 0.3, 0.5, 0.7, 0.9).map(IvfConfig.probeFractionFor)
    assert(fs === fs.sorted, s"curve inversion must be monotone: $fs")
    val past = IvfConfig.probeFractionFor(0.999)
    assert(past > 0.4 && past <= 1.0,
      s"a target past the curve extrapolates along the last segment, " +
        s"bounded by probe-everything: $past")
    // the default config IS the historical rule
    assert(IvfConfig.Default.tunedNprobe(20) === 5)
    assert(IvfConfig.Default.tunedNprobe(5) === 2)
    assert(IvfConfig(recallTarget = Some(0.74)).tunedNprobe(20) === 8)
    // a NON-default config drives the live operator: denser centroids
    // (nlist ~ N/50) and a wider fixed probe, staged under its own key
    operators.Staged.reset(spark)
    val cfg = IvfConfig(centroidEvery = 50L, centroidKey = 3L, nprobe = 3)
    val got = SimilarityQueries.ivfTopKWith(spark, sf, cfg)
      .localCheckpoint(eager = true)
    assert(got.count() === 50, "10 queries x top-5 under any config")
    assert(got.groupBy(col("query_id")).count().filter(col("count") =!= 5)
      .count() === 0)
    // both configs' staged cell tables coexist — no cross-contamination
    assert(operators.Staged.isStaged(spark, sf, "ivf_cells@50:3:3"))
    val defaultGot = SparkEntry.queries("ann_topk_ivf")(spark, sf)
    assert(operators.Staged.isStaged(spark, sf, "ivf_cells"))
    assert(defaultGot.count() === 50)
    // and the tuned variant accepts a recall-target config end-to-end
    val tuned = SimilarityQueries.ivfTunedTopKWith(spark, sf,
      IvfConfig(recallTarget = Some(0.7)))
    assert(tuned.count() === 50)
    operators.Staged.reset(spark)
  }

  test("scale families keep their plan shapes on the bigger input") {
    import org.apache.spark.sql.functions._
    // int8 ANN: broadcast query side, never a cartesian scan
    val ann = planOf("ann_topk_int8", rep)
    assert(ann.contains("BroadcastHashJoin") || ann.contains("BroadcastExchange"),
      "int8 query side no longer broadcast on the replicated corpus:\n" + ann)
    assert(!ann.contains("CartesianProduct"), ann)
    assert(SparkEntry.queries("ann_topk_int8")(spark, rep).count() === 100,
      "10 queries x top-10 regardless of corpus size")
    // blocked packing: same exchange count as the base plan — parallelism
    // grows with the corpus via MORE partitions, not more shuffles
    def exchanges(p: String) =
      "Exchange".r.findAllIn(p.replace("BroadcastExchange", "")).size
    assert(exchanges(planOf("pack_sequences_blocked", rep)) ===
      exchanges(planOf("pack_sequences_blocked", sf)),
      "blocked packing grew a shuffle under replication")
    // length-band (post-histogram-rewrite): replication must not grow a
    // shuffle either — growth is absorbed by more (source, n_tok) cells
    assert(exchanges(planOf("length_band_filter", rep)) ===
      exchanges(planOf("length_band_filter", sf)),
      "length_band_filter grew a shuffle under replication")
    // near-dup candidate generation: still bucket equi-joins, no cross join
    operators.Staged.reset(spark)
    val cc = planOf("dedup_components", rep)
    assert(!cc.contains("CartesianProduct"), cc)
    // r15 queries: growth must not add shuffles — label_cohesion absorbs
    // it in more per-dim cells, train_val_split in more map tasks
    operators.Staged.reset(spark)
    val lcRep = exchanges(planOf("label_cohesion", rep))
    operators.Staged.reset(spark)
    assert(lcRep === exchanges(planOf("label_cohesion", sf)),
      "label_cohesion grew a shuffle under replication")
    assert(exchanges(planOf("train_val_split", rep)) ===
      exchanges(planOf("train_val_split", sf)),
      "train_val_split grew a shuffle under replication")
    operators.Staged.reset(spark)
  }

  test("IVF probed-fraction rule holds at a second operating point (r13 verdict #3)") {
    import operators.{IvfConfig, SimilarityQueries}
    // The deployment rule's actual claim: recall@5 is a function of the
    // PROBED FRACTION (nprobe/nlist), approximately independent of nlist
    // itself — that is what lets a deployment reuse a curve measured at
    // its own operating point via IvfConfig(sweep = ...). Validate on the
    // base corpus (nlist = 5) against a 4x-denser quantizer (nlist = 20)
    // at pairwise-equal fractions.
    operators.Staged.reset(spark)
    val a = IvfConfig.Default
    val b = IvfConfig(centroidEvery = 25L)
    def nlistOf(cfg: IvfConfig): Long =
      SimilarityQueries.normed(spark, sf).filter(cfg.centroidFilter).count()
    val (na, nb) = (nlistOf(a), nlistOf(b))
    assert(na === 5L && nb === 20L, s"operating points moved: $na, $nb")
    val fractions = Seq(0.2, 0.4)
    def sweep(cfg: IvfConfig, nlist: Long): Seq[Double] =
      ScaleBench.ivfRecallSweep(spark, sf,
        fractions.map(f => math.round(f * nlist).toInt), cfg).map(_._2)
    val ra = sweep(a, na)
    val rb = sweep(b, nb)
    info(f"recall at fractions $fractions: nlist=$na -> $ra, nlist=$nb -> $rb")
    for (((f, x), y) <- fractions.zip(ra).zip(rb))
      assert(math.abs(x - y) <= 0.2,
        f"recall at probed fraction $f diverged across nlist $na vs $nb: " +
          f"$x%.3f vs $y%.3f — the probed-fraction rule does not transfer")
    // both curves must be usable for inversion: recall non-decreasing in
    // the probed fraction
    assert(ra === ra.sorted, s"nlist=$na curve not monotone: $ra")
    assert(rb === rb.sorted, s"nlist=$nb curve not monotone: $rb")
    // and a curve measured at one operating point drives the config end
    // to end at the other (sweep injection round-trip)
    val injected = IvfConfig(centroidEvery = 25L,
      recallTarget = Some(math.min(0.85, ra.last - 0.01)),
      sweep = fractions.zip(ra))
    assert(injected.effectiveProbeFraction > 0 &&
      injected.effectiveProbeFraction <= 1)
    val got = SimilarityQueries.ivfTunedTopKWith(spark, sf, injected)
    assert(got.count() === 50, "10 queries x top-5 under the injected curve")
    operators.Staged.reset(spark)
  }

  test("exact range search over cell bounds: tight cells prune, result bit-equal to brute (r18)") {
    import org.apache.spark.sql.functions._
    import operators.{Codebook, Quantizer, SimilarityQueries}
    import spark.implicits._
    // Engineered corpus where the Cauchy–Schwarz cell bound MUST fire:
    // three tight clusters of 100 (ids 0-99 / 100-199 / 200-299), one
    // rule centroid each under the DEFAULT config (ids 7, 107, 207 —
    // vec_id % 100 == 7). Cluster bases in q8 space: A = +8 on dims
    // 0-20, B = -8 on the same dims (anti-correlated), C = +8 on dims
    // 43-63 (orthogonal); every member adds +1 on its own dim (id % 64)
    // so cells are tight but not degenerate (rr = 2, not 0). Queries
    // (ids 0-9, cluster A): dot vs centroid A ≈ +1344 ≥ 500 → survives;
    // vs B ≈ -1344 and vs C ≈ 0, both with (500 - dqc)² ≫ qq·rr ≈ 2.8k
    // → provably below the floor, PRUNED. The assertions pin both
    // halves of the claim: the prune fires (1 surviving cell per
    // query), and the pruned plan's result equals the brute rung
    // bit-for-bit — a bound that ever cut a true match fails here.
    val dir = java.nio.file.Files.createTempDirectory("range_cells").toString
    def base(i: Int): Array[Float] = Array.tabulate(64) { d =>
      val b = if (i < 100) { if (d <= 20) 8 else 0 }
        else if (i < 200) { if (d <= 20) -8 else 0 }
        else { if (d >= 43) 8 else 0 }
      ((b + (if (d == i % 64) 1 else 0)) / 64.0).toFloat
    }
    (0 until 300).map(i => (i.toLong, base(i), (i % 5)))
      .toDF("vec_id", "embedding", "label").repartition(2)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    operators.Staged.reset(spark)
    val live = SimilarityQueries.rangeLiveCells(spark, dir,
      Quantizer.Rule()).collect()
    assert(live.length === 10,
      s"each of the 10 queries must keep exactly its own cluster's " +
        s"cell (B anti-correlated, C orthogonal — both provably below " +
        s"the floor): ${live.mkString(",")}")
    assert(live.forall(_.getLong(1) === 7L),
      s"the surviving cell must be cluster A's centroid: " +
        live.mkString(","))
    def rows(name: String): Set[(Long, Long, Long)] =
      SparkEntry.queries(name)(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val brute = rows("ann_range_cosine")
    val pruned = rows("ann_range_cosine_cells")
    assert(brute.nonEmpty, "fixture must produce in-radius pairs")
    assert(pruned === brute,
      s"cell-bounded range search must equal brute exactly " +
        s"(pruned ${pruned.size} vs brute ${brute.size})")
    // every match is intra-cluster-A here: 10 queries x 99 cluster-mates
    assert(brute.size === 990, s"expected 10x99 intra-A pairs: ${brute.size}")

    // the BYTES rung (r18): the PQ codes prefilter with the residual
    // ceiling. Codewords (vec_id % 50 == 11) land two per cluster, so
    // every member's reconstruction is jitter-close (rrv tiny) and the
    // ADC + √(qq·rrv) ceiling provably excludes clusters B and C —
    // the prefilter must keep EXACTLY the true matches here, and the
    // result must equal brute bit-for-bit
    val pqSurv = SimilarityQueries.rangePqSurvivors(spark, dir,
      Codebook.Rule()).count()
    assert(pqSurv === 990L,
      s"the residual ceiling must keep exactly cluster A's pairs " +
        s"(B anti-correlated, C orthogonal, rrv jitter-sized): $pqSurv")
    assert(rows("ann_range_cosine_pq") === brute,
      "PQ-prefiltered range search must equal brute exactly")
    assert(rows("ann_range_cosine_ivfpq") === brute,
      "the composed rows x bytes range shape must equal brute exactly")

    // the TRAINED-quantizer rung (r18): Lloyd moves each seed to its
    // cluster's floored mean, so the refined prune must fire exactly as
    // hard here (one surviving cell per query), and — the rung's actual
    // contract — the result must equal brute bit-for-bit.
    val liveRefined =
      SimilarityQueries.rangeLiveCells(spark, dir, Quantizer.Trained())
        .collect()
    assert(liveRefined.length === 10,
      s"refined prune must keep one cell per query: " +
        liveRefined.mkString(","))
    assert(rows("ann_range_cosine_cells_refined") === brute,
      "refined-quantizer range search must equal brute exactly")

    // the TRAINED bytes + composed rungs (r19): the per-subspace-Lloyd
    // codebook's residual ceiling must prune at least as hard here
    // (trained reconstructions are jitter-close or closer), and — the
    // actual contract — every trained rung equals brute bit-for-bit.
    val pqRefSurv =
      SimilarityQueries.rangePqSurvivors(spark, dir, Codebook.Trained())
        .count()
    assert(pqRefSurv === 990L,
      s"the TRAINED residual ceiling must keep exactly cluster A's " +
        s"pairs: $pqRefSurv")
    assert(rows("ann_range_cosine_pq_refined") === brute,
      "trained-codebook PQ range search must equal brute exactly")
    assert(rows("ann_range_cosine_ivfpq_refined") === brute,
      "the fully-trained composed range shape must equal brute exactly")

    // The honest other half, same discipline as every recall row: on
    // data WITHOUT tight structure the bound cannot prune (rr ≈ 2·qq),
    // and the plan degenerates gracefully to brute + an O(nlist)
    // prefilter. Measured on the sf corpus so the number is recorded,
    // with equality still gated — soundness is data-independent.
    operators.Staged.reset(spark)
    val sfLive = SimilarityQueries.rangeLiveCells(spark, sf,
      Quantizer.Rule()).count()
    val nlist = SimilarityQueries.ivfCellBounds(spark, sf,
      Quantizer.Rule()).count()
    info(s"sf corpus: ${sfLive} surviving (query, cell) pairs of " +
      s"${10 * nlist} — uniform-random embeddings, prune-neutral as " +
      "documented")
    // (r18 fix: these equality legs previously re-read the engineered
    // corpus through the dir-bound `rows` helper while claiming to
    // check sf — bind to sf explicitly.)
    def sfRows(name: String): Set[(Long, Long, Long)] =
      SparkEntry.queries(name)(spark, sf).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val sfBrute = sfRows("ann_range_cosine")
    assert(sfRows("ann_range_cosine_cells") === sfBrute,
      "equality must hold on the uniform corpus too")
    assert(sfRows("ann_range_cosine_pq") === sfBrute,
      "PQ-rung equality must hold on the uniform corpus too")
    assert(sfRows("ann_range_cosine_ivfpq") === sfBrute,
      "composed-shape equality must hold on the uniform corpus too")
    assert(sfRows("ann_range_cosine_cells_refined") === sfBrute,
      "refined-rung equality must hold on the uniform corpus too")
    assert(sfRows("ann_range_cosine_pq_refined") === sfBrute,
      "trained-PQ-rung equality must hold on the uniform corpus too")
    assert(sfRows("ann_range_cosine_ivfpq_refined") === sfBrute,
      "fully-trained composed equality must hold on the uniform corpus too")
    operators.Staged.reset(spark)
  }

  test("edit-distance prefix filter: sparse candidates where length banding degenerates, result equal (r18)") {
    import spark.implicits._
    import operators.DedupQueries
    // The band path's worst case BY CONSTRUCTION: every doc the same
    // length, so one band holds the whole corpus and the band join
    // enumerates all n(n-1)/2 pairs. The Ed-Join prefix filter keys on
    // RARE GRAMS instead — candidates track content collisions. 400
    // deterministic 64-char docs, 5 planted near-dup pairs (2
    // substitutions each).
    val dir = java.nio.file.Files.createTempDirectory("editdist_skew")
      .toString
    // 62-char alphabet + hash mixing: the realistic content regime —
    // most bigrams are globally rare, so each doc's rarest-17 prefix is
    // nearly unique (a 26-letter congruential pattern would make every
    // bigram common and the filter weak — that regime is what the
    // MinHash family is for; edit-distance joins target diverse text).
    val AB = (('a' to 'z') ++ ('A' to 'Z') ++ ('0' to '9')).toArray
    def ch(i: Int, p: Int): Char = AB(math.floorMod(
      scala.util.hashing.MurmurHash3.productHash((i, p)), AB.length))
    def text(i: Int): String =
      if (i % 2 == 1 && i < 10) { // docs 1,3,5,7,9 near-dup their i-1
        val b = Array.tabulate(64)(p => ch(i - 1, p))
        b(10) = 'z'; b(40) = 'z'
        new String(b)
      } else new String(Array.tabulate(64)(p => ch(i, p)))
    (0 until 400).map { i =>
      val t = text(i)
      (i.toLong, t, "en", s"src${i % 3}", t.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars").repartition(2)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    operators.Staged.reset(spark)
    val allPairs = 400L * 399 / 2
    val prefixCands =
      DedupQueries.editDistPrefixCandidates(spark, dir).count()
    val band = DedupQueries.editDistPairs.fn(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val prefixed = DedupQueries.editDistPrefix.fn(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    info(s"length-uniform corpus: band candidates = $allPairs (all " +
      s"pairs), prefix candidates = $prefixCands " +
      f"(${prefixCands * 100.0 / allPairs}%.1f%%)")
    // r21 (r20 verdict ask #1): the STAGE BUILD's own candidate
    // enumeration — band ∩ prefix over the class-level frozen chain —
    // must also track prefix sparsity here, where band occupancy is
    // maximally degenerate (every doc in one band). This is the pin
    // that the staged pair table no longer inherits the band join's
    // length-skew quadratic.
    val stageCands = DedupQueries.editPairCandidates(spark, dir).count()
    info(f"stage-build candidates = $stageCands " +
      f"(${stageCands * 100.0 / allPairs}%.1f%%)")
    assert(stageCands < allPairs / 5,
      s"the staged pair build must track prefix sparsity, not band " +
        s"occupancy: $stageCands of $allPairs")
    assert(prefixed === band,
      "the prefix filter must be exact-recall: results equal the band path")
    assert(band.size >= 5, s"planted near-dups must be found: ${band.size}")
    assert(prefixCands < allPairs / 5,
      s"the prefix filter must refuse the bulk of the degenerate " +
        s"band's pairs: $prefixCands of $allPairs")
    operators.Staged.reset(spark)
  }

  test("trained quantizer tightens the range prune on clustered data (r18)") {
    import operators.{Quantizer, SimilarityQueries}
    // The refined rung's measured payoff: rr is the quantity Lloyd
    // descends, so on data with structure the trained centroids must
    // refuse at least as many (query, cell) pairs as the id-rule seeds
    // they started from — while exactness stays bit-equal (the bound is
    // algebra, independent of where the centroid sits).
    operators.Staged.reset(spark)
    val dir = ScaleData.ensureClustered(spark)
    val rule =
      SimilarityQueries.rangeLiveCells(spark, dir, Quantizer.Rule())
        .count()
    val refined = SimilarityQueries.rangeLiveCells(spark, dir,
      Quantizer.Trained()).count()
    info(s"clustered fixture: rule prune keeps $rule (query, cell) " +
      s"pairs, refined keeps $refined")
    assert(refined <= rule,
      s"the trained quantizer must not weaken the prune: refined " +
        s"$refined vs rule $rule surviving pairs")
    val brute = SparkEntry.queries("ann_range_cosine")(spark, dir).count()
    assert(SparkEntry.queries("ann_range_cosine_cells_refined")(spark, dir)
      .count() === brute,
      "refined-rung exactness must hold on the clustered fixture")
    // SemDeDup recall over the same trained geometry: the decision only
    // compares CELL-MATES, so a rule centroid straddling two natural
    // clusters splits duplicate pairs across cells and misses them —
    // the trained cells must catch at least as many true semantic
    // duplicates at the same dotFloor.
    val ruleDrops = SimilarityQueries
      .semanticDedupWith(spark, dir, operators.SemDedupConfig.Default)
      .count()
    val refinedDrops =
      SparkEntry.queries("dedup_semantic_refined")(spark, dir).count()
    info(s"clustered fixture: rule SemDeDup drops $ruleDrops, " +
      s"trained-cell drops $refinedDrops")
    assert(refinedDrops >= ruleDrops,
      s"trained cells must not lose semantic duplicates: refined " +
        s"$refinedDrops vs rule $ruleDrops")
    operators.Staged.reset(spark)
  }

  test("PQ refuses embeddings that are not PqSubs x PqWidth wide instead of silently truncating them") {
    import spark.implicits._
    // 72 components: the 8 × 8 subspace geometry would ignore dims 65-72
    // of every vector, so training must fail in-plan, naming the width
    val dir = java.nio.file.Files.createTempDirectory("pq_ragged").toString
    (0 until 60).map(i => (i.toLong,
        Array.tabulate(72)(d => ((i * 7 + d * 3) % 17 - 8) / 64.0f), 0))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    operators.Staged.reset(spark)
    val e = intercept[Exception] {
      SparkEntry.queries("pq_refine")(spark, dir).collect()
    }
    val msgs = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).map(t => String.valueOf(t.getMessage)).toList
    assert(msgs.exists(_.contains("exactly 64 components")),
      msgs.mkString("\n"))
    operators.Staged.reset(spark)
  }

  test("range cell prune refuses a centroid-free corpus instead of silently returning empty (r18 review)") {
    import operators.{IvfConfig, SimilarityQueries}
    import spark.implicits._
    // 5 near-identical vectors, ids 0-4: none matches vec_id % 100 == 7,
    // so the default rule yields ZERO centroids — the brute range query
    // still finds their mutual matches, and a silent empty result from
    // the pruned variant would break its exactness contract. It must
    // throw instead.
    val dir = java.nio.file.Files.createTempDirectory("range_nocent").toString
    (0 until 5).map(i => (i.toLong,
        Array.tabulate(64)(d => (8 + (if (d == i) 1 else 0)) / 64.0f), 0))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    operators.Staged.reset(spark)
    val brute = SparkEntry.queries("ann_range_cosine")(spark, dir).count()
    assert(brute > 0, "the fixture must have in-radius pairs")
    val e = intercept[IllegalArgumentException] {
      SparkEntry.queries("ann_range_cosine_cells")(spark, dir).count()
    }
    assert(e.getMessage.contains("centroid"), e.getMessage)
    // the PQ rung shares the contract: ids 0-4 match no codeword rule
    // (vec_id % 50 == 11) either — it must refuse, not return empty
    val e2 = intercept[IllegalArgumentException] {
      SparkEntry.queries("ann_range_cosine_pq")(spark, dir).count()
    }
    assert(e2.getMessage.contains("codeword"), e2.getMessage)
    operators.Staged.reset(spark)
  }
}
