package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // bucketed-table tests write through the catalog; keep the warehouse
      // out of the repo tree
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_warehouse").toString)
      // production function wiring — the whole suite runs through the
      // extension-injected registry (VectorExprs.register stays idempotent)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  val sf = "/root/testdata/sf0.001"
}

/** Every registered query must run and return a sane result on sf0.001;
  * targeted semantic checks for the ops with easily-stated invariants.
  * (Value-level correctness vs DuckDB is the driver's Verify gate +
  * tools/check.py — this suite is the fast structural net.) */
class OpQuerySpec extends AnyFunSuite {
  import TestSpark._

  test("registry is consistent: oracle keys ⊆ query keys, names unique") {
    val names = SparkEntry.registry.map(_.name)
    assert(names.distinct.size === names.size, "duplicate query names")
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  for (q <- SparkEntry.registry) {
    test(s"${q.name} runs on sf0.001 with non-empty schema") {
      val df = q.fn(spark, sf)
      assert(df.schema.nonEmpty)
      assert(df.count() >= 0)
    }
  }

  test("gap_detect: every reported gap is a real per-user id gap") {
    val bad = operators.CoreQueries.gapDetect.fn(spark, sf)
      .filter(col("n_missing") =!= col("next_id") - col("last_id") - 1 ||
        col("n_missing") <= 0)
      .count()
    assert(bad === 0)
  }

  test("topk_per_key: at most 15 rows per key, ranks contiguous from 1") {
    val agg = operators.RefOpQueries.topkPerKey.fn(spark, sf)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n"), min("rn").as("mn"), max("rn").as("mx"))
    assert(agg.filter(col("n") > 15 || col("mn") =!= 1 ||
      col("mx") =!= col("n")).count() === 0)
  }

  test("change_suppress: no two consecutive equal values per key survive") {
    import spark.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy($"event_id")
    val redundant = operators.RefOpQueries.changeSuppress.fn(spark, sf)
      .withColumn("prev", lag($"value", 1).over(w))
      .filter($"prev".isNotNull && $"value" === $"prev")
      .count()
    assert(redundant === 0)
  }

  test("scan_filter_prune: filter and pruning reach the parquet scan") {
    val plan = operators.RefOpQueries.scanFilterPrune.fn(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate), LessThan(l_shipdate"),
      s"no pushed filter in plan:\n$plan")
    assert(plan.contains("ReadSchema: struct<l_shipdate:timestamp_ntz,l_extendedprice:double>") ||
      plan.contains("ReadSchema: struct<l_extendedprice:double,l_shipdate:timestamp_ntz>"),
      s"scan not pruned to 2 columns:\n$plan")
  }

  test("ohlcv: high >= open, close, low on every candle") {
    val bad = operators.DerivedQueries.ohlcv.fn(spark, sf)
      .filter(col("high") < col("low") || col("high") < col("open") ||
        col("high") < col("close") || col("low") > col("open") ||
        col("low") > col("close"))
      .count()
    assert(bad === 0)
  }

  test("asof_join: matched view is never after the purchase") {
    import spark.implicits._
    val asof = operators.DerivedQueries.asofJoin.fn(spark, sf)
    val views = Tables.events(spark, sf)
      .filter($"event_type" === "view")
      .select($"event_id".as("asof_view_id"), $"ts".as("view_ts"))
    val bad = asof.filter($"asof_view_id".isNotNull)
      .join(views, "asof_view_id")
      .filter($"view_ts" > $"ts")
      .count()
    assert(bad === 0)
  }

  test("star_join: dimensions are broadcast, no shuffle join on nation/region") {
    val plan = operators.DerivedQueries.starJoin.fn(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast join:\n$plan")
  }

  test("rollup_agg: grand-total row equals table count") {
    val total = operators.DerivedQueries.rollupAgg.fn(spark, sf)
      .filter(col("n_name").isNull && col("c_mktsegment").isNull)
      .select("n_customers").collect().head.getLong(0)
    assert(total === Tables.customer(spark, sf).count())
  }

  test("dedup_simhash: every signature is 64 bits of 0/1") {
    val bad = operators.DedupQueries.simhash.fn(spark, sf)
      .filter(length(col("simhash")) =!= 64 ||
        col("simhash").rlike("[^01]"))
      .count()
    assert(bad === 0)
  }

  test("dedup_components: components are min-ids and closed over edges") {
    import spark.implicits._
    val comp = operators.DedupQueries.components.fn(spark, sf)
    assert(comp.filter($"component" > $"doc_id").count() === 0)
    assert(comp.count() === Tables.documents(spark, sf).count())
  }

  test("dedup_editdist: band-blocked result equals the all-pairs brute force") {
    import spark.implicits._
    // The operator's claim is exactness: the length-band blocking is a
    // complete cover for ed <= 8 (band width 32 > k), so the blocked
    // result must be SET-EQUAL to the O(n^2) cross-join reference —
    // affordable at sf0.001's corpus size, which is the point of
    // pinning it here rather than in the oracle (DuckDB mirrors the
    // same blocking; this test is the independent brute-force leg).
    val docs = Tables.documents(spark, sf)
      .select($"doc_id", $"text")
    val brute = docs.as("a")
      .crossJoin(docs.as("b"))
      .filter($"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"),
        levenshtein($"a.text", $"b.text").as("lev"))
      .filter($"lev" <= 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val blocked = operators.DedupQueries.editDistPairs.fn(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(blocked === brute)
    assert(brute.nonEmpty, "fixture should contain at least one near-dup pair")
    // the registered query now reads the staged class-level pipeline
    // (r19 verdict ask #1); the historical doc-level band join is the
    // independent third leg — all three must agree
    val docBand = operators.DedupQueries.bandPairsOn(docs
        .join(Tables.documents(spark, sf).select($"doc_id", $"n_chars"),
          "doc_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(docBand === brute,
      "the doc-level band seam must still equal brute force")
  }

  test("dedup_editdist_k4: the non-default EditConfig (k=4, W=16) keeps the cover theorem — staged result equals all-pairs brute force (r20)") {
    import spark.implicits._
    operators.Staged.reset(spark)
    val docs = Tables.documents(spark, sf).select($"doc_id", $"text")
    val brute = docs.as("a")
      .crossJoin(docs.as("b"))
      .filter($"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"),
        levenshtein($"a.text", $"b.text").as("lev"))
      .filter($"lev" <= 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val got = operators.DedupQueries.editDistK4.fn(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got === brute,
      s"k=4 staged result must equal brute (got ${got.size}, " +
        s"brute ${brute.size})")
    val k8 = operators.DedupQueries.editDistPairs.fn(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(brute.subsetOf(k8) && brute != k8,
      "k=4 must be a strict subset of k=8 or the knob pins nothing")
    // subset-serving equality (r21, r20 verdict ask #5): the registered
    // query reads σ(lev ≤ 4) over the DEFAULT family's staged pairs; the
    // independent k=4:16 build under its own stage keys must produce the
    // bit-identical class-pair table — the no-superset deployment path
    // and the filter read are interchangeable
    val cfg4 = operators.DedupQueries.EditConfig(k = 4, bandW = 16)
    val served = operators.DedupQueries
      .editPairsFromSuperset(spark, sf, cfg4)
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
    val independent = operators.DedupQueries
      .editBandPairsStage(spark, sf, cfg4)
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
    assert(served === independent,
      "superset filter read and independent k=4 build must be bit-equal")
  }

  test("ivf_refine: Lloyd sweeps descend the int8 quantization SSE, stay in range") {
    import spark.implicits._
    // The exactness claim is the oracle's; what needs a spec is the
    // POINT of the operator — each sweep tightens the cells. Floored
    // means void the textbook monotone-descent theorem, so descent is
    // pinned empirically here (and it holds with wide margin: the floor
    // perturbs coordinates < 1 against cell radii of hundreds).
    val q8 = Tables.embeddings(spark, sf).select($"vec_id",
      expr("transform(CAST(embedding AS ARRAY<DOUBLE>), " +
        "v -> greatest(least(floor(v * 64D), 127D), -127D))").as("q8"))
    def sseOf(cents: org.apache.spark.sql.DataFrame): Double =
      q8.crossJoin(broadcast(cents.select($"cid", $"c8")))
        .withColumn("d", expr(
          "vec_dot(q8, q8) + vec_dot(c8, c8) - 2 * vec_dot(q8, c8)"))
        .groupBy($"vec_id").agg(min($"d").as("dmin"))
        .agg(sum($"dmin")).head().getDouble(0)
    val cfg = operators.IvfConfig.Default
    val s0 = sseOf(operators.SimilarityQueries.lloydRefinedRaw(spark, sf, cfg, 0))
    val s1 = sseOf(operators.SimilarityQueries.lloydRefinedRaw(spark, sf, cfg, 1))
    val s2 = sseOf(operators.SimilarityQueries.lloydRefinedRaw(spark, sf, cfg, 2))
    assert(s1 < s0, s"sweep 1 must descend: $s1 vs $s0")
    assert(s2 <= s1, s"sweep 2 must not ascend: $s2 vs $s1")
    val outOfRange = operators.SimilarityQueries.ivfRefine.fn(spark, sf)
      .filter($"c8" > 127 || $"c8" < -127).count()
    assert(outOfRange === 0, "refined centroids must stay in int8 range")
  }

  test("bm25_topk: 5 queries x 10 contiguous ranks, hits carry query terms by construction") {
    val r = operators.VocabQueries.bm25TopK.fn(spark, sf)
    val perQ = r.groupBy("query_id").agg(count(lit(1)).as("n"),
      min("rank").as("mn"), max("rank").as("mx"))
    assert(perQ.count() === 5, "15 query terms in 3-slot groups = 5 queries")
    assert(perQ.filter(col("n") =!= 10 || col("mn") =!= 1 ||
      col("mx") =!= 10).count() === 0,
      "each query must return exactly ranks 1..10")
    // hits contain >= 1 query term structurally (the posting join only
    // emits docs that share a term); what needs checking is that no
    // query starved below the limit — covered by the 10-rank gate above.
  }

  test("bm25TopKWith: out-of-range slot idx fails loudly instead of silently truncating the score (r19 ADVICE)") {
    import spark.implicits._
    // a 4th term passed to a 3-slot call used to join postings yet
    // contribute to NO slot — every score quietly missing a term; the
    // contract is now enforced inside the distributed projection
    val qt = Seq((0L, 0L, "spark"), (0L, 3L, "join"))
      .toDF("query_id", "idx", "tok")
    val e = intercept[Throwable] {
      operators.VocabQueries.bm25TopKWith(spark, sf, qt).collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("slot contract")),
      s"expected the slot-contract error, got: $e")
    // the same 4 terms under slots = 5 score cleanly
    val ok = operators.VocabQueries.bm25TopKWith(spark, sf, qt, slots = 5)
    assert(ok.count() > 0)
  }

  test("ann_topk_brute: 10 ranked neighbors per query, none self") {
    import spark.implicits._
    val r = operators.SimilarityQueries.bruteTopK.fn(spark, sf)
    assert(r.filter($"query_id" === $"neighbor_id").count() === 0)
    val perQ = r.groupBy("query_id").agg(count(lit(1)).as("n"),
      max("rank").as("mx"))
    assert(perQ.filter(col("n") =!= 10 || col("mx") =!= 10).count() === 0)
  }

  test("ann_topk_lsh: results are a subset of the same-bucket candidates with sane ranks") {
    import spark.implicits._
    val r = operators.SimilarityQueries.lshTopK.fn(spark, sf)
    assert(r.filter($"rank" > 5 || $"rank" < 1).count() === 0)
    assert(r.filter($"query_id" === $"neighbor_id").count() === 0)
  }

  test("ann recall: approximate paths agree with the brute-force gold standard") {
    import spark.implicits._
    def topsOf(name: String, k: Int): Map[Long, Set[Long]] =
      SparkEntry.queries(name)(spark, sf)
        .filter(col("rank") <= k).collect()
        .groupBy(_.getAs[Long]("query_id"))
        .map { case (q, rows) =>
          q -> rows.map(_.getAs[Long]("neighbor_id")).toSet
        }
    val brute = topsOf("ann_topk_brute", 5)
    for (approx <- Seq("ann_topk_lsh", "ann_topk_ivf", "ann_topk_ivf_tuned",
        "ann_topk_ivf_int8")) {
      val got = topsOf(approx, 5)
      // every query answered, and mean recall@5 is well above chance —
      // a broken bucketing (empty or single bucket) fails this hard
      assert(got.keySet === brute.keySet, s"$approx dropped queries")
      val recall = brute.keys.toSeq.map { q =>
        (brute(q) & got(q)).size.toDouble / brute(q).size
      }.sum / brute.size
      assert(recall >= 0.5, s"$approx mean recall@5 = $recall")
    }
  }

  test("ann_range_cosine: exactly the pairs at or above the integer floor, golden-recomputed in memory (r18)") {
    operators.Staged.reset(spark)
    // the pinned quantization (floor(v*64) clamp ±127) and exact integer
    // dot, recomputed independently of every Spark/DuckDB code path
    val vecs = Tables.embeddings(spark, sf)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(v => math.max(-127.0,
          math.min(127.0, math.floor(v * 64.0))).toLong).toArray)
    val floor = operators.SimilarityQueries.RangeDotFloor
    val expected = (for {
      (q, qv) <- vecs if q < 10
      (n, nv) <- vecs if n != q
      dot = qv.zip(nv).map { case (a, b) => a * b }.sum
      if dot >= floor
    } yield (q, n, dot)).toSet
    assert(expected.nonEmpty, "the fixture floor must keep some pairs")
    val got = SparkEntry.queries("ann_range_cosine")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === expected,
      s"range search must return exactly the at-or-above-floor pairs " +
        s"(got ${got.size}, expected ${expected.size})")
    // the per-query-radius variant (r18), same golden recompute with
    // floor_q = 400 + 40*q — selectivity genuinely varies per query,
    // and the cell-bound path underneath must not change a single pair
    val expPerq = (for {
      (q, qv) <- vecs if q < 10
      (n, nv) <- vecs if n != q
      dot = qv.zip(nv).map { case (a, b) => a * b }.sum
      if dot >= 400L + 40L * q
    } yield (q, n, dot)).toSet
    assert(expPerq.nonEmpty, "the per-query floors must keep some pairs")
    assert(expPerq !== expected,
      "the per-query floors must actually change the result set " +
        "or this pins nothing new")
    val gotPerq = SparkEntry.queries("ann_range_cosine_perq")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(gotPerq === expPerq,
      s"per-query range search must return exactly its floors' pairs " +
        s"(got ${gotPerq.size}, expected ${expPerq.size})")
    // r19 (r18 verdict ask #6): the per-query floor threaded through the
    // BYTES rung and the full composed shape — every rung must return
    // exactly the same per-query pairs as the golden recompute.
    for (rung <- Seq("ann_range_cosine_pq_perq", "ann_range_cosine_ivfpq_perq")) {
      val gotR = SparkEntry.queries(rung)(spark, sf)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(gotR === expPerq,
        s"$rung must return exactly the per-query floors' pairs " +
          s"(got ${gotR.size}, expected ${expPerq.size})")
    }
    operators.Staged.reset(spark)
  }

  test("pq_refine: per-subspace Lloyd sweeps descend the slice SSE, stay in int8 range (r19)") {
    import spark.implicits._
    // the coarse ivf_refine descent pin, per subspace: floored means
    // void the textbook monotone-descent theorem, so descent is pinned
    // empirically (sweep 1 is the big step; sweep 2 must not ascend).
    operators.Staged.reset(spark)
    val q8 = Tables.embeddings(spark, sf).select($"vec_id",
      expr("transform(CAST(embedding AS ARRAY<DOUBLE>), " +
        "v -> greatest(least(floor(v * 64D), 127D), -127D))").as("q8"))
    val offs = spark.range(0, 8).select(($"id" * 8 + 1).as("off"))
    val slices = q8.crossJoin(broadcast(offs))
      .withColumn("s", expr("slice(q8, CAST(off AS INT), 8)"))
      .select($"vec_id", $"off", $"s")
    def sseOf(cb: org.apache.spark.sql.DataFrame): Double =
      slices.join(broadcast(cb.select($"off", $"cw_id", $"cs")), Seq("off"))
        .withColumn("d", expr(
          "vec_dot(s, s) + vec_dot(cs, cs) - 2 * vec_dot(s, cs)"))
        .groupBy($"vec_id", $"off").agg(min($"d").as("dmin"))
        .agg(sum($"dmin")).head().getDouble(0)
    val seeds = slices.filter($"vec_id" % 50 === 11)
      .select($"off", $"vec_id".as("cw_id"), $"s".as("cs"))
    def trained(iters: Int) =
      operators.SimilarityQueries.pqLloydRaw(slices, seeds, iters)
    val s0 = sseOf(trained(0))
    val s1 = sseOf(trained(1))
    val s2 = sseOf(trained(2))
    info(f"pq lloyd slice SSE: seeds=$s0%.0f sweep1=$s1%.0f sweep2=$s2%.0f")
    assert(s1 < s0, s"sweep 1 must descend: $s1 vs $s0")
    assert(s2 <= s1, s"sweep 2 must not ascend: $s2 vs $s1")
    val outOfRange = operators.SimilarityQueries.pqRefine.fn(spark, sf)
      .filter($"c8" > 127 || $"c8" < -127).count()
    assert(outOfRange === 0, "trained codewords must stay in int8 range")
    // residual codewords live in ±254 (difference of two int8 values)
    val residOut = operators.SimilarityQueries.pqResidRefine.fn(spark, sf)
      .filter($"c8" > 254 || $"c8" < -254).count()
    assert(residOut === 0, "trained residual codewords must stay in ±254")
  }

  test("dedup_editdist_collapsed: pair set equals the uncollapsed variant on a replica-heavy corpus, candidates shrink (r19)") {
    import spark.implicits._
    // the collapse claim: byte-identical replicas pre-collapse to one
    // representative, the pair set is UNCHANGED, and the candidate
    // count (the levenshtein verify workload) drops quadratically in
    // replica multiplicity. Engineered corpus: the sf0.001 docs
    // replicated ×3 under fresh ids — every original pair expands 3×3,
    // every replica class contributes its 3-choose-2 zero-distance
    // pairs.
    val docs = Tables.documents(spark, sf)
      .select($"doc_id", $"text", $"n_chars")
    val replicated = (0 until 3).map(k =>
      docs.select(($"doc_id" * 3 + k).as("doc_id"), $"text", $"n_chars"))
      .reduce(_.unionByName(_)).localCheckpoint(true)
    def pairsOf(d: org.apache.spark.sql.DataFrame): Set[(Long, Long, Int)] = {
      val classes = operators.DedupQueries.contentClasses(d)
      val reps = classes.filter($"doc_id" === $"rep")
        .select($"doc_id", $"text", $"n_chars")
      val members = classes.select($"doc_id", $"rep")
      val cross = operators.DedupQueries.bandCandidatesOn(reps)
        .withColumn("lev", levenshtein($"text", $"p_text", 8))
        .filter($"lev" >= 0)
        .select(least($"doc_id", $"p_id").as("doc_a"),
          greatest($"doc_id", $"p_id").as("doc_b"), $"lev")
        .join(members.select($"rep".as("doc_a"), $"doc_id".as("ma")), "doc_a")
        .join(members.select($"rep".as("doc_b"), $"doc_id".as("mb")), "doc_b")
        .select(least($"ma", $"mb").as("doc_a"),
          greatest($"ma", $"mb").as("doc_b"), $"lev")
      val within = members.as("x").join(members.as("y"),
          $"x.rep" === $"y.rep" && $"x.doc_id" < $"y.doc_id")
        .select($"x.doc_id".as("doc_a"), $"y.doc_id".as("doc_b"),
          lit(0).as("lev"))
      cross.unionByName(within).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    }
    val uncollapsed = operators.DedupQueries.bandCandidatesOn(replicated)
    val collapsedCands = operators.DedupQueries.bandCandidatesOn(
      operators.DedupQueries.contentClasses(replicated)
        .filter($"doc_id" === $"rep")
        .select($"doc_id", $"text", $"n_chars"))
    val full = uncollapsed
      .withColumn("lev", levenshtein($"text", $"p_text", 8))
      .filter($"lev" >= 0)
      .select(least($"doc_id", $"p_id").as("doc_a"),
        greatest($"doc_id", $"p_id").as("doc_b"), $"lev")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val collapsed = pairsOf(replicated)
    assert(collapsed === full,
      s"collapse must not change the pair set (collapsed ${collapsed.size}" +
        s" vs full ${full.size})")
    assert(full.exists(_._3 == 0) && full.exists(_._3 > 0),
      "fixture must exercise both within-class and cross-class pairs")
    val nFull = uncollapsed.count()
    val nCollapsed = collapsedCands.count()
    info(s"editdist candidates on the x3 corpus: full=$nFull " +
      s"collapsed=$nCollapsed")
    assert(nCollapsed * 8 <= nFull,
      s"x3 replication must cut verify candidates ~9x: " +
        s"$nCollapsed vs $nFull")
  }

  test("editdist prefix filter: ANY fixed global gram order keeps exact recall — stale/wrong orders change candidates, never the result (r19)") {
    import spark.implicits._
    // the theorem the frozen-order staging rests on (r18 verdict ask
    // #4): the prefix filter is exact for ANY fixed total token order;
    // rarest-first only tunes sparsity. Drive prefixOf with (a) the
    // true corpus order, (b) an EMPTY order (every gram ranks tf=0 —
    // the all-unseen degenerate), (c) a REVERSED order (commonest
    // first — the worst tuning). Results must be identical; candidate
    // counts must differ to prove the orders actually bit.
    operators.Staged.reset(spark)
    val grams = operators.DedupQueries.editGrams(spark, sf)
    val trueOrder = operators.DedupQueries.editGramFreq(spark, sf)
    val emptyOrder = trueOrder.filter(lit(false))
    val reversedOrder = trueOrder.select($"tok", (-$"tf").as("tf"))
    def resultOf(order: org.apache.spark.sql.DataFrame) = {
      val cand = operators.DedupQueries.prefixCandidatesOf(spark, sf,
        operators.DedupQueries.prefixOf(grams, order))
      (cand.count(),
        operators.DedupQueries.editDistVerify(spark, sf, cand)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
          .toSet)
    }
    val (nTrue, rTrue) = resultOf(trueOrder)
    val (nEmpty, rEmpty) = resultOf(emptyOrder)
    val (nRev, rRev) = resultOf(reversedOrder)
    info(s"prefix candidates: rarest-first=$nTrue all-unseen=$nEmpty " +
      s"reversed=$nRev")
    assert(rTrue.nonEmpty, "fixture must contain near-dup pairs")
    assert(rEmpty === rTrue && rRev === rTrue,
      "the verified pair set must be order-independent")
    assert(nRev >= nTrue,
      s"commonest-first must not be SPARSER than rarest-first " +
        s"($nRev vs $nTrue) — else the tuning claim is backwards")
  }

  test("multimodal probeAll: typed mapPartitions path matches the SQL stub math") {
    import spark.implicits._
    val media = functions.Multimodal.documentsAsMedia(
      Tables.documents(spark, sf))
    val meta = functions.Multimodal.probeAll(media)
    val viaSql = operators.TextQueries.multimodalMeta.fn(spark, sf)
      .select($"doc_id".as("media_id"), $"n_bytes",
        $"fake_width", $"fake_height", $"fake_frames")
    val joined = meta.toDF().join(viaSql, "media_id")
    assert(joined.filter(
      col("width") =!= col("fake_width") ||
        col("height") =!= col("fake_height") ||
        col("n_frames") =!= col("fake_frames")).count() === 0)
    assert(meta.filter(!_.ok).count() === 0)
  }

  test("multimodal resize/frameSample/features: distributed plumbing shapes") {
    import spark.implicits._
    val media = functions.Multimodal.documentsAsMedia(
      Tables.documents(spark, sf).limit(50))
    // resize: 1→1, payload takes the target size
    val resized = functions.Multimodal.resize(media, 8, 8)
    assert(resized.count() === 50)
    assert(resized.collect().forall(_.payload.length === 64))
    // frameSample: 1→N, strided frame numbers only
    val frames = functions.Multimodal.frameSample(media, stride = 2)
    assert(frames.count() > 0)
    assert(frames.filter($"frame_no" % 2 =!= 0).count() === 0)
    // features: unit-norm vectors of the requested dim, ANN-ready
    val feats = functions.Multimodal.features(media, dim = 16)
    val arr = feats.collect()
    assert(arr.length === 50 && arr.forall(_.embedding.length == 16))
    assert(arr.forall(f =>
      math.abs(math.sqrt(f.embedding.map(x => x * x).sum) - 1.0) < 1e-9))
    // determinism: second run bit-identical
    val again = functions.Multimodal.features(media, dim = 16).collect()
      .map(f => f.media_id -> f.embedding.toSeq).toMap
    assert(arr.forall(f => again(f.media_id) == f.embedding.toSeq))
  }

  test("multimodal real codec: ImageIO probe + resize on generated PNGs through the same seam (r19 verdict ask #7)") {
    import spark.implicits._
    // real JPEG/PNG bytes, generated in-test (the JDK ships the codec):
    // 20 images with ids encoding their true dimensions, one corrupt row
    def png(w: Int, h: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      (0 until w).foreach(x => (0 until h).foreach(y =>
        img.setRGB(x, y, (x * 31 + y * 17) & 0xffffff)))
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    // two corrupt shapes: magic-less noise (no reader claims it) and a
    // MAGIC-MATCHING truncation (a reader claims it, then throws a
    // RuntimeException parsing the mangled header — the r20 review's
    // NonFatal case: IOException-only catches let this kill the task)
    val truncated = png(32, 32).take(24)
    val rows = (1 to 20).map(i =>
      functions.Multimodal.MediaRow(i.toLong, "image", png(10 + i, 20 + i))) :+
      functions.Multimodal.MediaRow(99L, "image", Array[Byte](1, 2, 3)) :+
      functions.Multimodal.MediaRow(98L, "image", truncated)
    val media = spark.createDataset(rows).repartition(4)
    // header-only probe: true dimensions out, corrupt row (0, 0) not a crash
    val meta = functions.Multimodal
      .probeAll(media, functions.Multimodal.ImageIoDecoder)
      .collect().map(m => m.media_id -> m).toMap
    (1 to 20).foreach { i =>
      assert(meta(i.toLong).width === 10 + i, s"image $i width")
      assert(meta(i.toLong).height === 20 + i, s"image $i height")
    }
    assert(meta(99L).width === 0 && meta(99L).height === 0,
      "a corrupt payload must probe (0, 0), not kill the partition")
    assert(meta(98L).width === 0 && meta(98L).height === 0,
      "a magic-matching truncated payload must probe (0, 0) too")
    // real resize: decode → bilinear scale → PNG re-encode; the output
    // payloads are themselves valid PNGs at the target dimensions
    val resized = functions.Multimodal.resizeImages(media, 8, 6)
    val back = functions.Multimodal
      .probeAll(resized, functions.Multimodal.ImageIoDecoder)
      .collect().map(m => m.media_id -> m).toMap
    (1 to 20).foreach { i =>
      assert(back(i.toLong).width === 8 && back(i.toLong).height === 6,
        s"image $i must re-probe at the target size")
    }
    assert(back(99L).n_bytes === 0L && back(98L).n_bytes === 0L,
      "corrupt payloads must resize to the empty payload")
  }

  test("text_lang_id: scores are non-negative, prediction is a known label") {
    val r = operators.TextQueries.langId.fn(spark, sf)
    assert(r.filter(col("s_en") < 0).count() === 0)
    assert(r.filter(!col("lang_pred")
      .isin("en", "de", "fr", "es", "zh", "und")).count() === 0)
  }

  test("approx_topk_cms: the estimate never undercounts (CMS one-sided error)") {
    val bad = operators.VocabQueries.cmsTopK.fn(spark, sf)
      .filter(col("cms_est") < col("exact_cnt"))
      .count()
    assert(bad === 0)
  }

  test("dedup_containment: containment in (0,1], intersection bounded by both sets") {
    val bad = operators.VocabQueries.containment.fn(spark, sf)
      .filter(col("n_inter") > col("n_a") || col("n_inter") > col("n_b") ||
        col("cont_a") <= 0 || col("cont_a") > 1 ||
        col("cont_b") <= 0 || col("cont_b") > 1)
      .count()
    assert(bad === 0)
  }

  test("tfidf_topterms: exactly <=3 ranked terms per doc, scores non-increasing") {
    import spark.implicits._
    val r = operators.VocabQueries.tfidfTopTerms.fn(spark, sf)
    assert(r.filter($"rank" < 1 || $"rank" > 3).count() === 0)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"doc_id").orderBy($"rank")
    assert(r.withColumn("prev", lag($"score", 1).over(w))
      .filter($"prev".isNotNull && $"score" > $"prev")
      .count() === 0)
  }

  test("interval_overlap_join: overlap days positive and at most the window span sum") {
    val bad = operators.ShapeQueries.intervalOverlap.fn(spark, sf)
      .filter(col("n_overlaps") <= 0 ||
        col("sum_overlap_days") < col("n_overlaps") ||
        col("sum_overlap_days") > col("n_overlaps") * 8)
      .count()
    assert(bad === 0)
  }

  test("mode_per_key: one row per user, the mode count is the per-user max") {
    import spark.implicits._
    val r = operators.ShapeQueries.modePerKey.fn(spark, sf)
    assert(r.groupBy("user_id").count().filter($"count" > 1).count() === 0)
    val trueMax = Tables.events(spark, sf)
      .groupBy($"user_id", $"event_type").count()
      .groupBy($"user_id").agg(max($"count").as("mx"))
    assert(r.join(trueMax, "user_id").filter($"n" =!= $"mx").count() === 0)
  }

  test("cohort_retention: week zero covers every user exactly once") {
    import spark.implicits._
    val r = operators.ShapeQueries.cohortRetention.fn(spark, sf)
    val wk0 = r.filter($"week_no" === 0)
      .agg(sum($"n_users")).collect().head.getLong(0)
    val users = Tables.events(spark, sf).select("user_id").distinct().count()
    assert(wk0 === users)
  }

  test("multimodal_ann_mips: 3 ranked non-self neighbors per query, dot non-increasing") {
    import spark.implicits._
    val r = operators.MultimodalQueries.annMips.fn(spark, sf)
    assert(r.filter($"query_id" === $"neighbor_id").count() === 0)
    val perQ = r.groupBy("query_id")
      .agg(count(lit(1)).as("n"), max("rank").as("mx"))
    assert(perQ.filter(col("n") =!= 3 || col("mx") =!= 3).count() === 0)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"query_id").orderBy($"rank")
    assert(r.withColumn("prev", lag($"dot", 1).over(w))
      .filter($"prev".isNotNull && $"dot" > $"prev").count() === 0)
  }

  test("decontaminate_eval: pairs cross the split — eval from src0, train never") {
    import spark.implicits._
    val r = operators.VocabQueries.decontaminate.fn(spark, sf)
    val src0 = Tables.documents(spark, sf).filter($"source" === "src0")
      .select($"doc_id").as[Long].collect().toSet
    val rows = r.collect()
    assert(rows.nonEmpty, "fixtures contain cross-set overlaps; empty = broken join")
    assert(rows.forall(x => src0.contains(x.getAs[Long]("eval_id"))))
    assert(rows.forall(x => !src0.contains(x.getAs[Long]("train_id"))))
    assert(rows.forall(_.getAs[Long]("n_common") >= 2))
  }

  test("backfill semi/anti partition orders exactly") {
    val o = Tables.orders(spark, sf).count()
    val semi = operators.RefOpQueries.backfillSemi.fn(spark, sf).count()
    val anti = operators.RefOpQueries.backfillAnti.fn(spark, sf).count()
    assert(semi + anti === o)
  }

  test("pack_sequences matches a sequential greedy re-simulation per source") {
    import spark.implicits._
    val rows = operators.CurationQueries.packSequences.fn(spark, sf)
      .select($"doc_id", $"source", $"n_tok", $"shard_id", $"pos_in_shard")
      .as[(Long, String, Long, Long, Long)].collect()
    rows.groupBy(_._2).foreach { case (_, docs) =>
      var cum = 0L
      docs.sortBy(_._1).foreach { case (_, _, nTok, shard, _) =>
        assert(shard === cum / 2000L)
        cum += nTok
      }
      // positions are 1..k within each shard in doc_id order
      docs.groupBy(_._4).foreach { case (_, inShard) =>
        assert(inShard.sortBy(_._1).map(_._5).toSeq ===
          (1L to inShard.size).toSeq)
      }
    }
  }

  test("dedup_substring_spans: spans cross documents, ranks follow the count order") {
    import spark.implicits._
    val rows = operators.DedupQueries.substringSpans.fn(spark, sf)
      .select($"rank", $"gram", $"n_occ", $"n_docs")
      .as[(Long, String, Long, Long)].collect()
    assert(rows.nonEmpty, "the synthetic corpus repeats spans; empty = broken")
    assert(rows.forall(r => r._4 >= 2 && r._3 >= r._4))
    val counts = rows.sortBy(_._1).map(_._3)
    assert(counts.zip(counts.drop(1)).forall { case (a, b) => a >= b },
      "occurrence counts must be non-increasing in rank order")
    assert(rows.map(_._1).sorted.toSeq === (1L to rows.length))
  }

  test("scrub_repeated_spans: every doc survives, kept counts bounded, scrub is real") {
    import spark.implicits._
    val rows = operators.DedupQueries.scrubSpans.fn(spark, sf)
      .select($"doc_id", $"n_tok_orig", $"n_kept", $"scrubbed_md5")
      .as[(Long, Long, Long, String)].collect()
    assert(rows.length === Tables.documents(spark, sf).count())
    assert(rows.forall(r => r._3 >= 0 && r._3 <= r._2))
    // the corpus repeats spans (dedup_substring_spans is non-empty), so
    // the scrub must actually remove tokens somewhere
    assert(rows.map(r => r._2 - r._3).sum > 0, "scrub removed nothing")
    // a doc with nothing removed hashes to its original token join
    val untouched = rows.filter(r => r._3 === r._2).map(r => r._1 -> r._4).toMap
    if (untouched.nonEmpty) {
      val orig = Tables.documents(spark, sf)
        .filter($"doc_id".isin(untouched.keys.toSeq: _*))
        .select($"doc_id", md5($"text").as("m"))
        .as[(Long, String)].collect().toMap
      untouched.foreach { case (id, m) => assert(orig(id) === m) }
    }
  }

  test("pack_sequences_blocked: shard ids are globally unique, per-cell packing re-simulates") {
    import spark.implicits._
    val rows = operators.CurationQueries.packSequencesBlocked.fn(spark, sf)
      .select($"doc_id", $"source", $"n_tok", $"block", $"shard_id")
      .as[(Long, String, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    // a shard never mixes sources or blocks — the collision class a
    // source-blind id arithmetic would produce
    rows.groupBy(_._5).foreach { case (shard, docs) =>
      assert(docs.map(d => (d._2, d._4)).distinct.length === 1,
        s"shard $shard spans ${docs.map(d => (d._2, d._4)).distinct}")
    }
    rows.groupBy(r => (r._2, r._4)).foreach { case ((source, block), docs) =>
      val srcIdx = source.drop(3).toLong
      var cum = 0L
      docs.sortBy(_._1).foreach { case (docId, _, nTok, _, shard) =>
        assert(docId / 100L === block)
        assert(shard === srcIdx * 1000000000000L + block * 10000L + cum / 2000L,
          s"doc $docId: shard $shard vs resim")
        cum += nTok
      }
    }
  }

  test("repetition_2gram: counts consistent, keep is the integer cross-multiply") {
    val bad = operators.CurationQueries.repetition2gram.fn(spark, sf)
      .filter(col("n_distinct") > col("n_grams") ||
        col("top_cnt") > col("n_grams") || col("n_grams") < 1 ||
        col("keep") =!= when(
          (col("n_grams") - col("n_distinct")) * 5 < col("n_grams"), 1L)
          .otherwise(0L))
      .count()
    assert(bad === 0)
  }

  test("pii_redact: injected PII is found and masked in every doc") {
    val r = operators.CurationQueries.piiRedact.fn(spark, sf)
    assert(r.filter(col("n_emails") < 1 || col("n_nums") < 1 ||
      col("red_len") < 1).count() === 0)
    // the fixture injects exactly one email per doc and the corpus itself
    // holds none, so n_emails is exactly 1
    assert(r.filter(col("n_emails") =!= 1).count() === 0)
  }

  test("ann_topk_int8: valid ranks and >=0.7 recall@10 vs the brute gold standard") {
    import spark.implicits._
    val int8 = operators.CurationQueries.int8TopK.fn(spark, sf)
      .select($"query_id", $"neighbor_id", $"rank")
      .as[(Long, Long, Int)].collect()
    assert(int8.map(_._1).distinct.length === 10,
      "all 10 query vectors must produce results")
    assert(int8.forall(r => r._1 != r._2 && r._3 >= 1 && r._3 <= 10))
    assert(int8.groupBy(_._1).forall(_._2.map(_._3).sorted.toSeq == (1 to 10)))
    val gold = operators.SimilarityQueries.bruteTopK.fn(spark, sf)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val got = int8.map(r => (r._1, r._2)).toSet
    val recall = gold.intersect(got).size.toDouble / gold.size
    assert(recall >= 0.7, s"int8 quantized recall@10 $recall")
  }

  test("rate_sample_hash: src0 keeps everything, no source keeps more than total") {
    import spark.implicits._
    val r = operators.CurationQueries.rateSample.fn(spark, sf)
      .select($"source", $"n_total", $"n_kept")
      .as[(String, Long, Long)].collect()
    assert(r.nonEmpty)
    assert(r.forall { case (_, total, kept) => kept <= total })
    val src0 = r.find(_._1 == "src0").get
    assert(src0._3 === src0._2, "src0 rate is 100% — every doc kept")
  }

  test("token_rarity: avg frequency at least 1 (every token counts itself)") {
    val bad = operators.CurationQueries.tokenRarity.fn(spark, sf)
      .filter(col("avg_freq") < 1.0 || col("n_tok") < 1 ||
        col("sum_freq") < col("n_tok"))
      .count()
    assert(bad === 0)
  }

  test("ann_topk_pq: with zero quantization error ADC equals the exhaustive int8 ranking (r16)") {
    // codebook = corpus (cwEvery=1): every vector reconstructs exactly,
    // so the ADC score IS the int8 dot and the PQ ranking must equal the
    // exhaustive int8 top-k bit for bit — the end-to-end machinery pin
    // (encode -> codes -> per-query distance table -> sum -> rank) that
    // does not depend on the corpus having cluster structure
    import spark.implicits._
    operators.Staged.reset(spark)
    def ranks(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Int)] =
      df.filter($"rank" <= 5).select($"query_id", $"neighbor_id", $"rank")
        .as[(Long, Long, Int)].collect().toSet
    val pq = ranks(operators.SimilarityQueries.pqTopKWith(spark, sf, 5,
      operators.Codebook.Rule(operators.PqConfig(cwEvery = 1L, cwKey = 0L))))
    val int8 = ranks(operators.CurationQueries.int8TopK.fn(spark, sf))
    assert(pq === int8,
      "zero-error PQ must reproduce the exhaustive int8 ranking")
  }

  test("ann_topk_pq: a frozen codebook equals the rule-derived one on the founding corpus (r16)") {
    // at founding, freeze == re-train by definition; the pin keeps the
    // frozen wiring (codebook accessor, digest-keyed codes stage, ADC)
    // from drifting off the oracle-checked default path
    import spark.implicits._
    operators.Staged.reset(spark)
    def ranks(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Int)] =
      df.filter($"rank" <= 5).select($"query_id", $"neighbor_id", $"rank")
        .as[(Long, Long, Int)].collect().toSet
    val frozen = ranks(operators.SimilarityQueries.pqTopKWith(spark, sf, 5,
      operators.Codebook.Rule(operators.PqConfig(frozen = true))))
    val dflt = ranks(operators.SimilarityQueries.pqTopKWith(spark, sf, 5,
      operators.Codebook.Rule(operators.PqConfig())))
    assert(frozen === dflt,
      "frozen-at-founding PQ must reproduce the rule-derived ranking")
  }

  test("semantic_keeper_resolve: every resolved keeper is itself KEPT (r16)") {
    import spark.implicits._
    operators.Staged.reset(spark)
    val dropped = operators.SimilarityQueries.semanticDedup.fn(spark, sf)
      .select($"vec_id").as[Long].collect().toSet
    val resolved = operators.SimilarityQueries.semanticKeeperResolve
      .fn(spark, sf)
      .select($"vec_id", $"keeper").as[(Long, Long)].collect()
    assert(resolved.map(_._1).toSet === dropped,
      "one resolution per dropped vector")
    // the whole point of the chain resolution: raw dup_of may target a
    // dropped vector, the resolved keeper never does
    val badAnchors = resolved.filter(r => dropped.contains(r._2))
    assert(badAnchors.isEmpty,
      s"resolved keepers must be kept vectors: ${badAnchors.take(5).toSeq}")
    assert(resolved.forall(r => r._2 < r._1),
      "keepers precede their duplicates (dup_of strictly decreases)")
  }
}
