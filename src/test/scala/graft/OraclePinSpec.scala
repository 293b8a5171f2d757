package graft

import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import graft.operators.SimilarityQueries
import org.scalatest.funsuite.AnyFunSuite

/** Pins the DuckDB oracle text of every similarity query: the SHA-256 of
  * the text with each whitespace run collapsed to one space and trimmed.
  * The oracles are assembled from shared SQL fragments, so a change to one
  * fragment would silently change many correctness contracts; this spec
  * makes any such change show, query by query, with the new text. */
class OraclePinSpec extends AnyFunSuite {

  private def normalised(sql: String): String =
    sql.replaceAll("\\s+", " ").trim

  private def sha256(s: String): String =
    MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes(StandardCharsets.UTF_8)).map(b => f"$b%02x").mkString

  private val Pinned: Map[String, String] = Map(
    "ann_topk_brute" -> "a539dc80afec161c61f79c545425cc74991f2bb784cd5b95c72497d642cccfc0",
    "ann_topk_lsh" -> "f014258f616e34b14c3e34c75256d2555593b501e5cf6123422d777f4e1cbe77",
    "ann_topk_ivf" -> "053f7a3cfcbe55ec3e6226a8e7b8edf9dbaf1991f632f41130868c1b4e04d82e",
    "ann_topk_ivf_capped" -> "baa8c9314ce7d12fde810d70f46d2e23d2318cc9c5369c5b2962df2babe2786b",
    "ann_topk_ivf_tuned" -> "2772accc0028e41a7db035d056ddd00fd55d16b9a60f964b5638c8472c87f935",
    "ann_topk_ivf_int8" -> "609e5dc1aa9d4426df8879b3646267435262d72a5bdcb6a07998065c6a0e893d",
    "dedup_semantic" -> "9d67efc9c161edb77df093df7917fd69175ba3ddfcaa41102253124afd8b4f7c",
    "label_cohesion" -> "c5518177090f11c9133fc2cda62fa2c1d679ec755c6c86bc6edef55e8b2a01bb",
    "label_cohesion_wide" -> "f224796e311256d1132661dc3e29e534eb4cb2a7960257f453857bd9ff47e754",
    "ivf_cell_skew" -> "9da4c159be45b40eb5f38f2f3588abd5cc6ef90bdb0015a879d4faa9a537f5a6",
    "semantic_rate_by_label" -> "6eaccb5e9b887987e701c95b1640f55545f386c03991a3473ac86b483d4dcd4a",
    "semantic_keeper_resolve" -> "69539a4f3516ca951e088576b58a3e62c6f1e4af7fdc7185d1316d7303968dea",
    "ann_topk_pq" -> "3c1a14729b6057016788a619322bb71f4dd5f5ada87c0c18fd298dd8c1443a75",
    "ann_topk_pq_capped" -> "2fd038526fef3dd9fd98300d5c90715df3a0b10b22b4bdf9f9ae54431bb65360",
    "ann_topk_pq_rerank" -> "51edba6ddb770d24d892764870c233cd582670b4a12dd91265ba5b50687aec7d",
    "ann_topk_ivfpq_rerank" -> "65dd101e69b4b27353a146584eed574f9656cec2906076b08964422e5f2c10e4",
    "ann_range_cosine" -> "4b6a6613b428d13041deb3f18511eb55ddb013cdbce304ad58576a64f926070c",
    "ann_range_cosine_cells" -> "4b6a6613b428d13041deb3f18511eb55ddb013cdbce304ad58576a64f926070c",
    "ann_range_cosine_perq" -> "b731ec05f4d717ae8cb5faa31116441c3174b1fcbe4448e2d7611373e74e6397",
    "ann_range_cosine_pq" -> "4b6a6613b428d13041deb3f18511eb55ddb013cdbce304ad58576a64f926070c",
    "ann_range_cosine_ivfpq" -> "4b6a6613b428d13041deb3f18511eb55ddb013cdbce304ad58576a64f926070c",
    "ivf_cell_bounds" -> "92f63f29a50c384c604971e3234abc32705c247fd88e9bdab24d664a8f431f48",
    "ivf_refine" -> "230994568c4733a1676654c173590d5a799f4e1de671840588eca4b5a1842d10",
    "ann_topk_ivf_refined" -> "73f14d55963a546319c0560dcc6454362732a8f74ac599bc7c8bb7ca13ff92b3",
    "ivf_cell_bounds_refined" -> "b5f3086e278373e4462f89e1c5e65d217939fbdf4270b8fb7690df173c7a09b3",
    "ann_range_cosine_cells_refined" -> "4b6a6613b428d13041deb3f18511eb55ddb013cdbce304ad58576a64f926070c",
    "dedup_semantic_refined" -> "e1853dc6c23ed8805c9cb229fc83252e805375c8b0c681f4b4467ff673f533c0",
    "ann_topk_ivfadc" -> "516e392aa3bfd1e13a53a9599060c5156f138b08db8aa1e24fd5960de0e1164e",
    "ann_range_cosine_pq_perq" -> "b731ec05f4d717ae8cb5faa31116441c3174b1fcbe4448e2d7611373e74e6397",
    "ann_range_cosine_ivfpq_perq" -> "b731ec05f4d717ae8cb5faa31116441c3174b1fcbe4448e2d7611373e74e6397",
    "pq_refine" -> "a97cae3bf9e5c753b042e04b4526dda16923ebac327696ad7f7f37db721ff774",
    "ann_topk_pq_refined" -> "35de9555779fa36f607b0c41ae4a7d16ea74f51386484913ce6c8136e16613b6",
    "pq_refine_resid" -> "4ec44f860f11c3a2317ae88d86a8476ff2d8bbd8b6dec701a11864e1e01b9ae8",
    "ann_topk_ivfadc_refined" -> "172eeb0a3f8d5ec4f3fb4a9c0bc16fa21e30b84c9ad829f145f85b02adab57c5",
    "pq_resid_refined" -> "8f0eb40acb13f691958630dd6c06bbf271d82eeb8ee5df8b758f54a97a9d79b3",
    "ann_range_cosine_pq_refined" -> "4b6a6613b428d13041deb3f18511eb55ddb013cdbce304ad58576a64f926070c",
    "ann_range_cosine_ivfpq_refined" -> "4b6a6613b428d13041deb3f18511eb55ddb013cdbce304ad58576a64f926070c",
    "ann_topk_ivfpq_rerank_refined" -> "7e41d603f5d978114a975d1669862fa7f348545ed8be1e4a47d280b66710cd56")

  test("the pinned names are exactly SimilarityQueries.defs") {
    val names = SimilarityQueries.defs.map(_.name)
    assert(names.distinct.size === names.size)
    assert(names.toSet === Pinned.keySet)
  }

  test("collapsing whitespace keeps every oracle's meaning: no SQL line " +
    "comment, no string literal holding whitespace") {
    for (q <- SimilarityQueries.defs; sql <- q.oracle) {
      assert(!sql.contains("--"), q.name)
      val literals = "'[^']*'".r.findAllIn(sql).toSeq
      assert(literals.forall(!_.exists(_.isWhitespace)), q.name)
    }
  }

  test("every similarity oracle's normalised text matches its pinned hash") {
    val bad = SimilarityQueries.defs.flatMap { q =>
      val text = q.oracle.fold("<no oracle>")(normalised)
      val got = sha256(text)
      if (Pinned.get(q.name).contains(got)) None
      else Some(s"""    "${q.name}" -> "$got",\n$text""")
    }
    if (bad.nonEmpty) fail(bad.mkString("\n", "\n", ""))
  }
}
