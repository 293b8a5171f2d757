package graft.operators

import graft.{QueryDef, Tables}
import graft.functions.Multimodal
import org.apache.spark.sql.functions._

/** Oracle-checked queries over the multimodal plumbing (SURVEY.md §2.3):
  * the typed mapPartitions/flatMap operators in functions/Multimodal.scala
  * — frame sampling, feature extraction, resize — run end-to-end on the
  * documents-as-media corpus and their outputs are value-checked against
  * DuckDB reformulations.
  *
  * The corpus is pure printable ASCII (verified against the testdata), so
  * byte positions == char positions and `ord(substr(text, i, 1))` in the
  * oracle sees exactly the payload byte the Spark side folds — that parity
  * is what makes the stubbed codec steps value-checkable rather than
  * rows-only. (`multimodal_meta` in TextQueries covers the probe/decode
  * envelope the same way.)
  */
object MultimodalQueries {

  private def media(spark: org.apache.spark.sql.SparkSession, dir: String) =
    Multimodal.documentsAsMedia(Tables.documents(spark, dir))

  /** Strided frame sampling (video-corpus shape): every 2nd 64-byte frame,
    * checked by frame number and size. The 1→N flatMap runs on executors;
    * the oracle recomputes the chunk arithmetic. */
  val frameSample = QueryDef(
    "multimodal_framesample",
    (spark, dir) =>
      Multimodal.frameSample(media(spark, dir), stride = 2, frameBytes = 64)
        .toDF()
        .select(col("media_id"), col("frame_no").cast("long").as("frame_no"),
          length(col("payload")).cast("long").as("n_bytes")),
    Some("""
      WITH fr AS (
        SELECT doc_id AS media_id,
               unnest(generate_series(0,
                 CAST(ceil(length(text) / 64.0) AS BIGINT) - 1)) AS frame_no,
               length(text) AS nb
        FROM documents)
      SELECT media_id, frame_no, LEAST(64, nb - frame_no * 64) AS n_bytes
      FROM fr WHERE frame_no % 2 = 0
    """))

  /** Feature extraction into the ANN-ready embedding shape, emitted long
    * (media_id, dim, value) so the hash compare sees scalars. The per-dim
    * byte sums are exact integers and their squares sum exactly in
    * doubles, so normalization is bit-identical across engines. */
  val features = QueryDef(
    "multimodal_features",
    (spark, dir) =>
      Multimodal.features(media(spark, dir), dim = 16)
        .toDF()
        .select(col("media_id"),
          posexplode(col("embedding")).as(Seq("d", "v")))
        .select(col("media_id"), col("d").cast("long").as("d"), col("v")),
    Some("""
      WITH b AS (
        SELECT doc_id AS media_id, text,
               unnest(generate_series(1, length(text))) AS i
        FROM documents),
      by_pos AS (
        SELECT media_id, (i - 1) % 16 AS d,
               ord(substr(text, CAST(i AS INT), 1)) AS byte
        FROM b),
      f AS (SELECT media_id, d, CAST(sum(byte) AS DOUBLE) AS fd
            FROM by_pos GROUP BY 1, 2),
      n AS (SELECT media_id, sqrt(sum(fd * fd)) AS norm FROM f GROUP BY 1)
      SELECT f.media_id, CAST(f.d AS BIGINT) AS d, f.fd / n.norm AS v
      FROM f JOIN n ON n.media_id = f.media_id
    """))

  /** Resize to a fixed 32×48 target: output size + byte checksum. The stub
    * transform tiles the source payload across the target buffer; the
    * oracle counts how many times each source byte lands in the output
    * (floor((target-1-p)/nb)+1) instead of materializing it. */
  val resize = QueryDef(
    "multimodal_resize",
    (spark, dir) => {
      val spark2 = spark
      import spark2.implicits._
      Multimodal.resize(media(spark, dir), width = 32, height = 48)
        .map { r =>
          var s = 0L
          var i = 0
          while (i < r.payload.length) { s += (r.payload(i) & 0xff); i += 1 }
          (r.media_id, r.payload.length.toLong, s)
        }
        .toDF("media_id", "out_bytes", "sum_bytes")
    },
    Some("""
      WITH b AS (
        SELECT doc_id AS media_id, text, length(text) AS nb,
               unnest(generate_series(1, length(text))) AS i
        FROM documents),
      s AS (SELECT media_id, nb, i - 1 AS p,
                   ord(substr(text, CAST(i AS INT), 1)) AS byte
            FROM b)
      SELECT media_id, CAST(1536 AS BIGINT) AS out_bytes,
             CAST(sum(byte * (CASE WHEN p >= 1536 THEN 0
                                   ELSE (1535 - p) // nb + 1 END))
                  AS BIGINT) AS sum_bytes
      FROM s GROUP BY media_id
    """))

  /** The composed multimodal→ANN flow in ONE plan (the §2.3 point: the
    * typed feature extractor's output feeds the similarity family
    * directly): media → raw byte-sum feature profiles → exact
    * inner-product top-3 per query. Ranking by the UN-normalized integer
    * dot (MIPS) keeps every compared value exactly representable — the
    * per-dim sums and their products sit far below 2^53, so both engines
    * agree bit-for-bit regardless of summation order, and the composed
    * query needs no float-gap argument at all. Queries broadcast; the
    * candidate scan is embarrassingly parallel — the same shape as
    * ann_topk_brute. */
  val annMips = QueryDef(
    "multimodal_ann_mips",
    (spark, dir) => {
      graft.functions.VectorExprs.register(spark)
      import org.apache.spark.sql.expressions.Window
      val m = media(spark, dir)
      // the query-side filter runs BEFORE the typed extractor — a
      // mapPartitions blocks Catalyst's own pushdown, so left after it the
      // query side would feature-extract the whole corpus just to keep
      // 1/20th; candidates scan the corpus exactly once
      // broadcast: BOUNDED in deployment — the modulo filter is the
      // testdata stand-in for a FIXED query workload (an ANN serving set,
      // not a corpus slice); a deployment substitutes its query table
      // here. The mapPartitions root makes plan-stats useless, so the
      // bound is contractual, not gated.
      val q = broadcast(
        Multimodal.featuresRaw(m.filter(col("media_id") % 20 === 0), dim = 16)
          .toDF()
          .select(col("media_id").as("query_id"), col("embedding").as("qf")))
      // candidate side repartitioned to Staged.cpuWidth (r21, re-A/B'd
      // r22: ON wins): the typed extractor and the 250×5000 broadcast-NLJ
      // dot products otherwise run on the single-row-group scan's one task
      val c = Multimodal.featuresRaw(
          m.repartition(Staged.cpuWidth(spark)), dim = 16).toDF()
        .select(col("media_id").as("neighbor_id"), col("embedding").as("cf"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("dot").desc, col("neighbor_id"))
      q.join(c, col("query_id") =!= col("neighbor_id"))
        .withColumn("dot", expr("CAST(vec_dot(qf, cf) AS BIGINT)"))
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 3)
        .select(col("query_id"), col("neighbor_id"), col("dot"), col("rank"))
    },
    Some("""
      WITH b AS (
        SELECT doc_id AS media_id, text,
               unnest(generate_series(1, length(text))) AS i
        FROM documents),
      by_pos AS (
        SELECT media_id, (i - 1) % 16 AS d,
               ord(substr(text, CAST(i AS INT), 1)) AS byte
        FROM b),
      sums AS (SELECT media_id, d, sum(byte) AS fd FROM by_pos GROUP BY 1, 2),
      -- dims-complete: every doc gets all 16 dims (0 where no bytes land),
      -- exactly like the Spark side's zero-initialized array — a doc with
      -- short or EMPTY text must not vanish from the pair set
      f AS (SELECT m.doc_id AS media_id, dims.d, coalesce(s.fd, 0) AS fd
            FROM documents m
            CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS d) dims
            LEFT JOIN sums s ON s.media_id = m.doc_id AND s.d = dims.d),
      q AS (SELECT * FROM f WHERE media_id % 20 = 0),
      dots AS (
        SELECT q.media_id AS query_id, c.media_id AS neighbor_id,
               CAST(sum(q.fd * c.fd) AS BIGINT) AS dot
        FROM q JOIN f c ON q.d = c.d AND q.media_id <> c.media_id
        GROUP BY 1, 2)
      SELECT query_id, neighbor_id, dot, rank FROM (
        SELECT query_id, neighbor_id, dot,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY dot DESC, neighbor_id) AS rank
        FROM dots)
      WHERE rank <= 3
    """))

  val defs: Seq[QueryDef] = Seq(frameSample, features, resize, annMips)
}
