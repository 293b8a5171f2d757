package graft

import graft.operators.{Codebook, IvfConfig, PqConfig, Quantizer, Staged,
  SimilarityQueries => SQ}
import org.scalatest.funsuite.AnyFunSuite

/** Pins every stage name the similarity family touches — and, through
  * the frozen rungs' `+frz<digest>` suffixes, the digest bytes — against
  * a literal list. Stage names are the persisted `GRAFT_STAGE_DIR` table
  * names and the frozen digests are the streaming gates' state-key
  * prefixes, so a refactor that moves either would silently orphan
  * persisted tables or stream state. Each case starts from an empty
  * stage memo, so every stage it depends on is built — and recorded —
  * whatever ran before it. */
class StageKeyPinSpec extends AnyFunSuite {
  import TestSpark.{spark, sf}

  private def stagesOf(run: => Any): Seq[String] = {
    val seen = scala.collection.mutable.Set.empty[String]
    val prev = Staged.onStageAccess
    Staged.reset(spark)
    Staged.onStageAccess = (_, st) => seen.synchronized { seen += st; () }
    try run finally Staged.onStageAccess = prev
    seen.toSeq.sorted
  }

  private def mismatches(cases: Seq[(String, () => Any)],
      pinned: Map[String, Seq[String]]): Seq[String] =
    cases.flatMap { case (name, run) =>
      val got = stagesOf(run())
      if (pinned.get(name).contains(got)) None
      else Some(s"$name: got ${got.mkString(", ")}")
    }

  private val Queries: Map[String, Seq[String]] = Map(
    "ann_topk_brute" -> Seq("normed_embeddings"),
    "ann_topk_lsh" -> Seq("lsh_sign_buckets", "normed_embeddings"),
    "ann_topk_ivf" -> Seq("ivf_cells", "normed_embeddings"),
    "ann_topk_ivf_capped" -> Seq("ivf_cells@100:7:2:k3", "normed_embeddings"),
    "ann_topk_ivf_tuned" -> Seq("ivf_cells", "normed_embeddings"),
    "ann_topk_ivf_int8" -> Seq("ivf_cells", "normed_embeddings",
      "q8_embeddings"),
    "dedup_semantic" -> Seq("ivf_cells", "normed_embeddings", "q8_embeddings",
      "sem_drops@1000:4096:2@100:7:2"),
    "label_cohesion" -> Seq("normed_embeddings", "q8_embeddings"),
    "label_cohesion_wide" -> Seq("normed_embeddings", "q8_embeddings"),
    "ivf_cell_skew" -> Seq("ivf_cells", "normed_embeddings"),
    "semantic_rate_by_label" -> Seq("ivf_cells", "normed_embeddings",
      "q8_embeddings", "sem_drops@1000:4096:2@100:7:2"),
    "semantic_keeper_resolve" -> Seq("ivf_cells", "normed_embeddings",
      "q8_embeddings", "sem_drops@1000:4096:2@100:7:2"),
    "ann_topk_pq" -> Seq("normed_embeddings", "pq_codes@50:11:8x8",
      "q8_embeddings"),
    "ann_topk_pq_capped" -> Seq("normed_embeddings", "pq_codes@50:11:8x8:k6",
      "q8_embeddings"),
    "ann_topk_pq_rerank" -> Seq("normed_embeddings", "pq_codes@50:11:8x8",
      "q8_embeddings"),
    "ann_topk_ivfpq_rerank" -> Seq("ivf_cells", "normed_embeddings",
      "pq_codes@50:11:8x8", "q8_embeddings"),
    "ann_range_cosine" -> Seq("normed_embeddings", "q8_embeddings"),
    "ann_range_cosine_cells" -> Seq("ivf_cell_rr", "ivf_cells",
      "normed_embeddings", "q8_by_cid", "q8_embeddings"),
    "ann_range_cosine_perq" -> Seq("ivf_cell_rr", "ivf_cells",
      "normed_embeddings", "q8_by_cid", "q8_embeddings"),
    "ann_range_cosine_pq" -> Seq("normed_embeddings", "pq_codes@50:11:8x8",
      "pq_resid@50:11:8x8", "q8_embeddings"),
    "ann_range_cosine_ivfpq" -> Seq("ivf_cell_rr", "ivf_cells",
      "normed_embeddings", "pq_codes@50:11:8x8", "pq_resid@50:11:8x8",
      "q8_embeddings"),
    "ivf_cell_bounds" -> Seq("ivf_cell_rr", "ivf_cells", "normed_embeddings",
      "q8_embeddings"),
    "ivf_refine" -> Seq("ivf_refined_cents", "normed_embeddings",
      "q8_embeddings"),
    "ann_topk_ivf_refined" -> Seq("ivf_refined_cells", "ivf_refined_cents",
      "normed_embeddings", "q8_embeddings"),
    "ivf_cell_bounds_refined" -> Seq("ivf_refined_cells", "ivf_refined_cents",
      "ivf_refined_rr", "normed_embeddings", "q8_embeddings"),
    "ann_range_cosine_cells_refined" -> Seq("ivf_refined_cells",
      "ivf_refined_cents", "ivf_refined_rr", "normed_embeddings",
      "q8_by_cid_refined", "q8_embeddings"),
    "dedup_semantic_refined" -> Seq("ivf_refined_cells", "ivf_refined_cents",
      "normed_embeddings", "q8_embeddings",
      "sem_drops_refined@1000:4096:2@100:7:2:L2"),
    "ann_topk_ivfadc" -> Seq("ivf_cells", "ivfadc_codes", "ivfadc_res",
      "normed_embeddings", "q8_embeddings"),
    "ann_range_cosine_pq_perq" -> Seq("normed_embeddings",
      "pq_codes@50:11:8x8", "pq_resid@50:11:8x8", "q8_embeddings"),
    "ann_range_cosine_ivfpq_perq" -> Seq("ivf_cell_rr", "ivf_cells",
      "normed_embeddings", "pq_codes@50:11:8x8", "pq_resid@50:11:8x8",
      "q8_embeddings"),
    "pq_refine" -> Seq("normed_embeddings", "pq_refined_cb", "q8_embeddings"),
    "ann_topk_pq_refined" -> Seq("normed_embeddings", "pq_refined_cb",
      "pq_refined_codes", "q8_embeddings"),
    "pq_refine_resid" -> Seq("ivf_refined_cells", "ivf_refined_cents",
      "ivfadc_refined_res", "normed_embeddings", "pq_refined_rescb",
      "q8_embeddings"),
    "ann_topk_ivfadc_refined" -> Seq("ivf_refined_cells", "ivf_refined_cents",
      "ivfadc_refined_codes", "ivfadc_refined_res", "normed_embeddings",
      "pq_refined_rescb", "q8_embeddings"),
    "pq_resid_refined" -> Seq("normed_embeddings", "pq_refined_cb",
      "pq_refined_resid", "q8_embeddings"),
    "ann_range_cosine_pq_refined" -> Seq("normed_embeddings", "pq_refined_cb",
      "pq_refined_codes", "pq_refined_resid", "q8_embeddings"),
    "ann_range_cosine_ivfpq_refined" -> Seq("ivf_refined_cells",
      "ivf_refined_cents", "ivf_refined_rr", "normed_embeddings",
      "pq_refined_cb", "pq_refined_codes", "pq_refined_resid",
      "q8_embeddings"),
    "ann_topk_ivfpq_rerank_refined" -> Seq("ivf_refined_cells",
      "ivf_refined_cents", "normed_embeddings", "pq_refined_cb",
      "pq_refined_codes", "q8_embeddings"))

  test("every registered similarity query reads exactly its pinned stages") {
    assert(SQ.defs.map(_.name).toSet === Queries.keySet)
    val bad = mismatches(
      SQ.defs.map(d => d.name -> (() => d.fn(spark, sf).count())), Queries)
    assert(bad.isEmpty, bad.mkString("\n"))
  }

  private val FrozenIvf = IvfConfig(frozen = true)
  private val FrozenPq = PqConfig(frozen = true)
  private val (ruleQ, trainedQ) =
    (Quantizer.Rule(FrozenIvf), Quantizer.Trained(FrozenIvf))
  private val (ruleCb, trainedCb) =
    (Codebook.Rule(FrozenPq), Codebook.Trained(FrozenPq))

  private val FrozenRungs: Seq[(String, () => Any)] = Seq(
    "cells_rule" -> (() => SQ.ivfCells(spark, sf, ruleQ).count()),
    "cells_trained" -> (() => SQ.ivfCells(spark, sf, trainedQ).count()),
    "cell_bounds_rule" -> (() => SQ.ivfCellBounds(spark, sf, ruleQ).count()),
    "cell_bounds_trained" -> (() =>
      SQ.ivfCellBounds(spark, sf, trainedQ).count()),
    "range_cells_rule" -> (() =>
      SQ.rangeCosineCellsWith(spark, sf, ruleQ).count()),
    "range_cells_trained" -> (() =>
      SQ.rangeCosineCellsWith(spark, sf, trainedQ).count()),
    "ivfadc_rule" -> (() =>
      SQ.ivfAdcTopKWith(spark, sf, 5, ruleQ, FrozenPq).count()),
    "ivfadc_trained" -> (() =>
      SQ.ivfAdcTopKWith(spark, sf, 5, trainedQ, FrozenPq).count()),
    "pq_codes_rule" -> (() => SQ.pqCodes(spark, sf, ruleCb).count()),
    "pq_codes_trained" -> (() => SQ.pqCodes(spark, sf, trainedCb).count()),
    "pq_topk_rule" -> (() => SQ.pqTopKWith(spark, sf, 5, ruleCb).count()),
    "pq_topk_trained" -> (() =>
      SQ.pqTopKWith(spark, sf, 5, trainedCb).count()),
    "range_pq_rule" -> (() => SQ.rangeCosinePqWith(spark, sf, ruleCb).count()),
    "range_pq_trained" -> (() =>
      SQ.rangeCosinePqWith(spark, sf, trainedCb).count()),
    "range_ivfpq_rule" -> (() =>
      SQ.rangeCosineComposedWith(spark, sf, ruleQ, ruleCb).count()),
    "range_ivfpq_trained" -> (() =>
      SQ.rangeCosineComposedWith(spark, sf, trainedQ, trainedCb).count()),
    "ivfpq_rerank_rule" -> (() =>
      SQ.ivfPqRerankTopKWith(spark, sf, 5, 100, ruleQ, ruleCb).count()),
    "ivfpq_rerank_trained" -> (() =>
      SQ.ivfPqRerankTopKWith(spark, sf, 5, 100, trainedQ, trainedCb)
        .count()))

  private val FrozenStages: Map[String, Seq[String]] = Map(
    "cells_rule" -> Seq("ivf_cells@100:7:2+frz8f224b5a",
      "ivf_centroids.v2@100:7:2", "normed_embeddings"),
    "cells_trained" -> Seq("ivf_refined_cells+frz5a97dfa3",
      "ivf_refined_cents+frz", "normed_embeddings", "q8_embeddings"),
    "cell_bounds_rule" -> Seq("ivf_cell_rr@100:7:2+frz8f224b5a",
      "ivf_cells@100:7:2+frz8f224b5a", "ivf_centroids.v2@100:7:2",
      "normed_embeddings", "q8_embeddings"),
    "cell_bounds_trained" -> Seq("ivf_refined_cells+frz5a97dfa3",
      "ivf_refined_cents+frz", "ivf_refined_rr+frz5a97dfa3",
      "normed_embeddings", "q8_embeddings"),
    "range_cells_rule" -> Seq("ivf_cell_rr@100:7:2+frz8f224b5a",
      "ivf_cells@100:7:2+frz8f224b5a", "ivf_centroids.v2@100:7:2",
      "normed_embeddings", "q8_by_cid@100:7:2+frz8f224b5a", "q8_embeddings"),
    "range_cells_trained" -> Seq("ivf_refined_cells+frz5a97dfa3",
      "ivf_refined_cents+frz", "ivf_refined_rr+frz5a97dfa3",
      "normed_embeddings", "q8_by_cid_refined+frz5a97dfa3", "q8_embeddings"),
    "ivfadc_rule" -> Seq("ivf_cells@100:7:2+frz8f224b5a",
      "ivf_centroids.v2@100:7:2", "ivfadc_codes", "ivfadc_res",
      "normed_embeddings", "q8_embeddings"),
    "ivfadc_trained" -> Seq("ivf_refined_cells+frz5a97dfa3",
      "ivf_refined_cents+frz", "ivfadc_refined_codes+frz5a97dfa3-f9b90610",
      "ivfadc_refined_res+frz5a97dfa3", "normed_embeddings",
      "pq_refined_rescb+c5a97dfa3+frz", "q8_embeddings"),
    "pq_codes_rule" -> Seq("normed_embeddings", "pq_codebook@50:11:8x8",
      "pq_codes@50:11:8x8+frzf9e66961", "q8_embeddings"),
    "pq_codes_trained" -> Seq("normed_embeddings", "pq_refined_cb+frz",
      "pq_refined_codes+frz5a0dc88c", "q8_embeddings"),
    "pq_topk_rule" -> Seq("normed_embeddings", "pq_codebook@50:11:8x8",
      "pq_codes@50:11:8x8+frzf9e66961", "q8_embeddings"),
    "pq_topk_trained" -> Seq("normed_embeddings", "pq_refined_cb+frz",
      "pq_refined_codes+frz5a0dc88c", "q8_embeddings"),
    "range_pq_rule" -> Seq("normed_embeddings", "pq_codebook@50:11:8x8",
      "pq_codes@50:11:8x8+frzf9e66961", "pq_resid@50:11:8x8+frzf9e66961",
      "q8_embeddings"),
    "range_pq_trained" -> Seq("normed_embeddings", "pq_refined_cb+frz",
      "pq_refined_codes+frz5a0dc88c", "pq_refined_resid+frz5a0dc88c",
      "q8_embeddings"),
    "range_ivfpq_rule" -> Seq("ivf_cell_rr@100:7:2+frz8f224b5a",
      "ivf_cells@100:7:2+frz8f224b5a", "ivf_centroids.v2@100:7:2",
      "normed_embeddings", "pq_codebook@50:11:8x8",
      "pq_codes@50:11:8x8+frzf9e66961", "pq_resid@50:11:8x8+frzf9e66961",
      "q8_embeddings"),
    "range_ivfpq_trained" -> Seq("ivf_refined_cells+frz5a97dfa3",
      "ivf_refined_cents+frz", "ivf_refined_rr+frz5a97dfa3",
      "normed_embeddings", "pq_refined_cb+frz",
      "pq_refined_codes+frz5a0dc88c", "pq_refined_resid+frz5a0dc88c",
      "q8_embeddings"),
    "ivfpq_rerank_rule" -> Seq("ivf_cells@100:7:2+frz8f224b5a",
      "ivf_centroids.v2@100:7:2", "normed_embeddings",
      "pq_codebook@50:11:8x8", "pq_codes@50:11:8x8+frzf9e66961",
      "q8_embeddings"),
    "ivfpq_rerank_trained" -> Seq("ivf_refined_cells+frz5a97dfa3",
      "ivf_refined_cents+frz", "normed_embeddings", "pq_refined_cb+frz",
      "pq_refined_codes+frz5a0dc88c", "q8_embeddings"))

  test("frozen rule and trained rungs keep their stage names and digests") {
    val bad = mismatches(FrozenRungs, FrozenStages)
    assert(bad.isEmpty, bad.mkString("\n"))
  }

  /** The streaming semantic gate's checkpoint keyspace
    * (`StateSchemas.SemGateCellKeyVersion` 1): the cell-key prefix and
    * the verdicts' `cbDigest` of each quantizer × codebook combination,
    * as literals — a change here strands deployed gate checkpoints. */
  private val GateKeys: Seq[(String, Quantizer, Option[Codebook],
      (String, Option[String]))] = Seq(
    ("rule", ruleQ, None, ("8f224b5a", None)),
    ("rule+codes", ruleQ, Some(ruleCb), ("8f224b5a", Some("f9e66961"))),
    ("trained", trainedQ, None, ("t5a97dfa3", None)),
    ("trained+codes", trainedQ, Some(trainedCb),
      ("t5a97dfa3", Some("5a0dc88c"))))

  test("frozen semantic-gate indexes keep their cell-key prefixes and codebook digests") {
    for ((name, q, cb, pinned) <- GateKeys) {
      Staged.reset(spark)
      val idx = graft.streaming.CurationStream.frozenGateIndex(spark, sf, q,
        cb.map(_.cfg))
      assert((idx.cells.prefix, idx.codebook.map(_.digest)) === pinned, name)
      val tag = if (q.isInstanceOf[Quantizer.Trained]) "t" else ""
      assert(idx.cells.prefix === tag + q.digest(spark, sf), name)
      assert(idx.codebook.map(_.digest) === cb.map(_.digest(spark, sf)), name)
    }
  }
}
