package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import SimilarityQueries._

/** The IVF coarse quantizer every cell-probing ANN rung reads: centroids
  * picked by the ID RULE ([[Quantizer.Rule]] — cosine assignment over the
  * normalized vectors) or moved by integer Lloyd ([[Quantizer.Trained]]
  * — exact int8 L2). [[SimilarityQueries]] runs each cell, radius,
  * layout and residual plan ONCE over this value; a variant decides only
  * where the centroids come from, how a vector scores against them, and
  * how its stage names and frozen-lineage digest read. The stage names
  * are the persisted `GRAFT_STAGE_DIR` table names and the digests the
  * streaming gates' state-key prefixes, so both are pinned byte for
  * byte (`StageKeyPinSpec`). */
sealed trait Quantizer {
  def cfg: IvfConfig

  /** The corpus vectors in the variant's scoring domain. */
  private[operators] def vectors(spark: SparkSession, dir: String): DataFrame

  /** [[vectors]]' projection over raw appended embedding rows. */
  private[operators] def deltaVectors(raw: DataFrame): DataFrame

  /** The centroid table in the scoring domain — frozen mode reads the
    * staged founding set. NOT broadcast here; call sites wrap. */
  private[graft] def centroids(spark: SparkSession, dir: String): DataFrame

  /** The int8 centroid table (cid, c8), exactly nlist rows: the anchor of
    * the range family's radius bound and of the IVFADC residuals. */
  private[operators] def centroidQ8(spark: SparkSession,
      dir: String): DataFrame

  /** Nearest-centroid assignment (vec_id, cid, rn ≤ maxRn) — the ONE
    * scoring/tie-break rule of the variant. */
  private[operators] def assign(vecs: DataFrame, cents: DataFrame,
      maxRn: Int): DataFrame

  /** The config-keyed stage name of a table derived from this quantizer
    * (each variant names its tables under its own base). */
  private[operators] def key(rule: String, trained: String): String

  /** Digest of the frozen centroid table — the content tag a frozen
    * stage name carries, so a re-founding moves every dependent stage to
    * a fresh name in lockstep. One bounded collect (nlist rows), memoized
    * on the staged table's instance. */
  def digest(spark: SparkSession, dir: String): String

  protected def frozenKey(spark: SparkSession, dir: String, rule: String,
      trained: String): String

  /** [[key]], tagged with the frozen-lineage digest under a frozen config. */
  private[operators] def stage(spark: SparkSession, dir: String,
      rule: String, trained: String): String =
    if (cfg.frozen) frozenKey(spark, dir, rule, trained)
    else key(rule, trained)

  /** The frozen delta-assign rule: appended raw rows scored against the
    * given (frozen) centroid table. */
  private[operators] def assignDelta(cents: DataFrame, maxRn: Int)(
      raw: DataFrame): DataFrame =
    assign(deltaVectors(raw), cents, maxRn)

  /** A per-vector table under this quantizer: plain (rebuilt on any
    * corpus change — rule centroids move with the corpus) unless frozen,
    * where an append map-only builds its own rows against the frozen
    * centroids and lands one delta segment. */
  private[operators] def perVector(spark: SparkSession, dir: String,
      rule: String, trained: String)(delta: DataFrame => DataFrame)(
      cold: => DataFrame): DataFrame =
    if (!cfg.frozen) Staged(spark, dir, key(rule, trained))(cold)
    else Staged.appendable(spark, dir, frozenKey(spark, dir, rule, trained),
      "embeddings", "vec_id")(delta)(cold)
}

object Quantizer {

  /** Centroids are the rule-matching vectors themselves
    * ([[IvfConfig.centroidSet]]), scored by cosine. */
  final case class Rule(cfg: IvfConfig = IvfConfig.Default)
      extends Quantizer {
    private[operators] def vectors(spark: SparkSession, dir: String) =
      normed(spark, dir)
    private[operators] def deltaVectors(raw: DataFrame) = normTransform(raw)

    private[graft] def centroids(spark: SparkSession, dir: String) =
      if (cfg.frozen) frozenCentroids(spark, dir, cfg)
      else cfg.centroidSet(normed(spark, dir))
        .select(col("vec_id").as("cid"), col("emb").as("cemb"),
          col("norm").as("cnorm"))

    // derived, never staged: one broadcast semi-join against the staged
    // quantized table — centroids ARE corpus vectors, so their q8 rows
    // already exist (re-deriving risks a second quantization rule)
    private[operators] def centroidQ8(spark: SparkSession, dir: String) = {
      graft.functions.VectorExprs.register(spark)
      // broadcast: BOUNDED BY CONFIG — nlist centroid ids (the
      // classification note at ivfCellsRaw).
      val ids = centroids(spark, dir).select(col("cid"))
      quantized(spark, dir)
        .join(broadcast(ids), col("vec_id") === col("cid"))
        .select(col("cid"), col("q8").as("c8"))
    }

    private[operators] def assign(vecs: DataFrame, cents: DataFrame,
        maxRn: Int) = assignCells(vecs, cents, maxRn)

    private[operators] def key(rule: String, trained: String) =
      Staged.keyed(rule, cfg.stageKey, IvfConfig.Default.stageKey)
    protected def frozenKey(spark: SparkSession, dir: String, rule: String,
        trained: String) =
      s"$rule@${cfg.stageKey}+frz${digest(spark, dir)}"

    // the LIVE centroid id set: recorded-dead candidate rows do not
    // participate, so accepting a low-drift delta leaves every dependent
    // stage name unchanged
    def digest(spark: SparkSession, dir: String): String = {
      val t = frozenCentroidTable(spark, dir, cfg)
      memoizedDigest(t)(longsDigest(t.filter(col("live"))
        .select(col("cid")).collect().map(_.getLong(0)).sorted))
    }
  }

  /** Centroids are the rule seeds after [[SimilarityQueries.LloydIters]]
    * integer Lloyd sweeps ([[SimilarityQueries.lloydRefinedRaw]]),
    * scored by exact int8 L2. */
  final case class Trained(cfg: IvfConfig = IvfConfig.Default)
      extends Quantizer {
    private[operators] def vectors(spark: SparkSession, dir: String) =
      quantized(spark, dir)
    private[operators] def deltaVectors(raw: DataFrame) =
      quantTransform(normTransform(raw))

    // frozen: the live view of the staged founding training
    // ([[SimilarityQueries.frozenRefinedTable]]); else staged per config
    private[graft] def centroids(spark: SparkSession, dir: String) =
      if (cfg.frozen)
        frozenRefinedTable(spark, dir, cfg).select(col("cid"), col("c8"))
      else
        Staged(spark, dir, lloydKey("ivf_refined_cents", cfg)) {
          lloydRefinedRaw(spark, dir, cfg, LloydIters)
        }
    private[operators] def centroidQ8(spark: SparkSession, dir: String) =
      centroids(spark, dir)

    private[operators] def assign(vecs: DataFrame, cents: DataFrame,
        maxRn: Int) = l2Assign(vecs, cents, maxRn)

    private[operators] def key(rule: String, trained: String) =
      lloydKey(trained, cfg)
    protected def frozenKey(spark: SparkSession, dir: String, rule: String,
        trained: String) =
      key(rule, trained) + s"+frz${digest(spark, dir)}"

    // cid AND component values: a re-training keeps the seed ids but
    // MOVES the values, so an id-set digest would alias two trainings
    def digest(spark: SparkSession, dir: String): String = {
      val t = frozenRefinedTable(spark, dir, cfg)
      memoizedDigest(t)(longsDigest(t.select(col("cid"), col("c8"))
        .collect().map(r => (r.getLong(0), r.getSeq[Double](1).map(_.toLong)))
        .sortBy(_._1).flatMap { case (cid, c8) => cid +: c8 }))
    }
  }
}

/** The PQ codebook every ADC/bytes rung reads: rule codewords
  * ([[Codebook.Rule]] — the rule-matching vectors' own int8 values) or
  * per-subspace integer Lloyd ([[Codebook.Trained]]), over raw int8
  * vectors or — when `residualOf` names a coarse quantizer of the same
  * kind — over the IVFADC residuals against its home centroids. The
  * variant owns the codebook table, the encode rule, the query-side ADC
  * table and the stage names/digest; [[SimilarityQueries]] runs the
  * codes, residual-norm, top-k and range plans once over it. */
sealed trait Codebook {
  def cfg: PqConfig

  /** The coarse quantizer whose residuals this codebook encodes; None
    * encodes the raw int8 vectors. */
  def residualOf: Option[Quantizer]

  /** Whether the codebook is a staged founding lineage (appends encode
    * against it map-only) rather than re-derived from the corpus. */
  def frozen: Boolean

  /** The codebook table: (cw_id, cv) full codewords for the rule
    * variant, (off, cw_id, cs) per-subspace slices for the trained one. */
  private[graft] def book(spark: SparkSession, dir: String): DataFrame

  /** Per-(vector, subspace) nearest-codeword encode of (vec_id, q8) rows
    * against `book`: (vec_id, off, code, dist), dist the exact integer
    * L2 of the winner. */
  private[operators] def encode(rows: DataFrame, book: DataFrame): DataFrame

  /** The ADC query table (query_id, off, code, d) of the fixed 10-query
    * set — queries × codewords × 8 rows, broadcast by every consumer:
    * BOUNDED BY CONFIG (the codebook rule / maxCodewords). */
  private[operators] def adcTable(spark: SparkSession, dir: String,
      book: DataFrame): DataFrame

  /** The config-keyed stage name of a per-vector table of this codebook
    * (`kind` = "codes" / "resid"). */
  private[operators] def key(kind: String): String

  /** Digest of the frozen codebook — the content tag of its frozen
    * per-vector stage names. */
  def digest(spark: SparkSession, dir: String): String

  protected def frozenTag(spark: SparkSession, dir: String): String =
    s"+frz${digest(spark, dir)}"

  /** The vectors this codebook encodes, in a `q8` column. */
  private[operators] def source(spark: SparkSession, dir: String): DataFrame =
    residualOf.fold(quantized(spark, dir))(q =>
      ivfResiduals(spark, dir, q).withColumnRenamed("rv", "q8"))

  /** [[source]]'s projection over raw appended rows (frozen lineages
    * only: a residual needs the frozen home centroids). */
  private[operators] def deltaSource(spark: SparkSession,
      dir: String): DataFrame => DataFrame = residualOf match {
    case None => raw => quantTransform(normTransform(raw))
    case Some(q) =>
      val cents = q.centroidQ8(spark, dir)
      raw => deltaResiduals(q, cents)(raw).withColumnRenamed("rv", "q8")
  }

  /** A per-vector table of this codebook: plain (rebuilt with the
    * corpus-derived codebook) unless frozen, where an append encodes only
    * its own vectors under the digest-tagged name. */
  private[operators] def perVector(spark: SparkSession, dir: String,
      kind: String)(rowsOf: DataFrame => DataFrame): DataFrame =
    if (!frozen) Staged(spark, dir, key(kind))(rowsOf(source(spark, dir)))
    else {
      val delta = deltaSource(spark, dir)
      Staged.appendable(spark, dir, key(kind) + frozenTag(spark, dir),
        "embeddings", "vec_id")(raw => rowsOf(delta(raw))) {
        rowsOf(source(spark, dir))
      }
    }
}

object Codebook {

  /** The residual codebook paired with `q`: rule cells encode rule
    * codewords, trained cells trained ones. */
  def residual(q: Quantizer, cfg: PqConfig): Codebook = q match {
    case r: Quantizer.Rule => Rule(cfg, Some(r))
    case t: Quantizer.Trained => Trained(cfg, Some(t))
  }

  /** Codewords are the rule-matching vectors ([[PqConfig.codewordSet]]),
    * one set shared by every subspace. The residual variant re-derives
    * from the current residuals in both modes (no frozen lineage). */
  final case class Rule(cfg: PqConfig = PqConfig.Default,
      residualOf: Option[Quantizer.Rule] = None) extends Codebook {
    def frozen: Boolean = cfg.frozen && residualOf.isEmpty

    private[graft] def book(spark: SparkSession, dir: String) =
      if (frozen) frozenPqCodebook(spark, dir, cfg)
      else cfg.codewordSet(source(spark, dir))
        .select(col("vec_id").as("cw_id"), col("q8").as("cv"))

    private[operators] def encode(rows: DataFrame, book: DataFrame) =
      pqEncodeWithDist(rows, book)

    private[operators] def adcTable(spark: SparkSession, dir: String,
        book: DataFrame) = {
      graft.functions.VectorExprs.register(spark)
      quantized(spark, dir).filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("q8").as("qv"))
        .crossJoin(book)
        .crossJoin(spark.range(0, PqSubs)
          .select((col("id") * PqWidth + 1).as("off")))
        .withColumn("d", expr(
          s"vec_dot(slice(qv, CAST(off AS INT), $PqWidth), " +
            s"slice(cv, CAST(off AS INT), $PqWidth))"))
        .select(col("query_id"), col("off"), col("cw_id").as("code"),
          col("d"))
    }

    private[operators] def key(kind: String) =
      residualOf.fold(s"pq_$kind@${cfg.stageKey}")(q =>
        Staged.keyed(s"ivfadc_$kind", s"${q.cfg.stageKey}@${cfg.stageKey}",
          s"${IvfConfig.Default.stageKey}@${PqConfig.Default.stageKey}"))

    // the LIVE codeword id set (the Quantizer.Rule digest discipline)
    def digest(spark: SparkSession, dir: String): String = {
      require(residualOf.isEmpty,
        "the rule residual codebook has no frozen lineage to digest")
      val t = frozenPqCodebookTable(spark, dir, cfg)
      memoizedDigest(t)(longsDigest(t.filter(col("live"))
        .select(col("cw_id")).collect().map(_.getLong(0)).sorted))
    }
  }

  /** Per-subspace codewords after [[SimilarityQueries.PqLloydIters]]
    * integer Lloyd sweeps from the rule seeds
    * ([[SimilarityQueries.pqLloydRaw]]). */
  final case class Trained(cfg: PqConfig = PqConfig.Default,
      residualOf: Option[Quantizer.Trained] = None) extends Codebook {
    def frozen: Boolean = cfg.frozen

    /** The trained codebook's own stage name. */
    private[operators] def bookKey: String =
      residualOf.fold(pqLloydKey("pq_refined_cb", cfg))(q =>
        composedLloydKey("pq_refined_rescb", q.cfg, cfg))

    private[graft] def book(spark: SparkSession, dir: String) =
      if (frozen)
        frozenTrainedCodebook(spark, dir, this)
          .select(col("off"), col("cw_id"), col("cs"))
      else
        Staged(spark, dir, bookKey) {
          val src = source(spark, dir)
          pqLloydRaw(pqSlices(src), pqSeedSlices(src, cfg), PqLloydIters)
        }

    private[operators] def encode(rows: DataFrame, book: DataFrame) =
      pqAssignFull(pqSlices(rows), book)

    private[operators] def adcTable(spark: SparkSession, dir: String,
        book: DataFrame) = trainedAdcTable(quantized(spark, dir), book)

    private[operators] def key(kind: String) =
      residualOf.fold(pqLloydKey(s"pq_refined_$kind", cfg))(q =>
        composedLloydKey(s"ivfadc_refined_$kind", q.cfg, cfg))

    // (off, cw_id, components): a re-training keeps the seed cw_ids but
    // MOVES the slice values, so an id digest would alias two trainings
    def digest(spark: SparkSession, dir: String): String = {
      val t = frozenTrainedCodebook(spark, dir, this)
      memoizedDigest(t)(longsDigest(
        t.select(col("off"), col("cw_id"), col("cs")).collect()
          .map(r => (r.getLong(0), r.getLong(1),
            r.getSeq[Double](2).map(_.toLong)))
          .sortBy(r => (r._1, r._2))
          .flatMap { case (off, cw, cs) => off +: cw +: cs }))
    }

    // a residual codebook's codes carry BOTH digests: re-founding either
    // the trained centroids or the codebook moves them in lockstep
    override protected def frozenTag(spark: SparkSession,
        dir: String): String =
      "+frz" + residualOf.fold("")(q => q.digest(spark, dir) + "-") +
        digest(spark, dir)
  }
}
