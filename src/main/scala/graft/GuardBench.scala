package graft

import org.apache.spark.sql.functions._

/** Measures what the LSH hot-bucket guard buys (r12 verdict #1): the
  * candidate stage timed on an ENGINEERED degenerate corpus — one
  * boilerplate cluster of `SPARK_GRAFT_HOT_DOCS` identical documents
  * (every band signature identical by construction, the
  * license-page/template shape that is the norm at web scale) plus
  * `SPARK_GRAFT_UNIQUE_DOCS` token-disjoint unique documents — under the
  * default threshold (guard fires: two-anchor star, O(B) edges) vs an
  * effectively-infinite threshold (the historical behavior: full
  * per-bucket self-join, O(B²) pairs). Wall-clock ratio ≈ the pair-count
  * ratio; on a real corpus the unguarded form is the task that never
  * finishes. Prints one JSON line. Run:
  * `sbt "runMain graft.GuardBench"`; env: SPARK_GRAFT_HOT_DOCS
  * (default 8192 — just past the 4096 threshold), SPARK_GRAFT_UNIQUE_DOCS
  * (default 10000), SPARK_GRAFT_CPUS, SPARK_GRAFT_BENCH_PASSES. */
object GuardBench {
  def main(args: Array[String]): Unit = {
    val hot = math.max(2, sys.env.get("SPARK_GRAFT_HOT_DOCS")
      .flatMap(_.toIntOption).getOrElse(8192))
    val uniq = math.max(0, sys.env.get("SPARK_GRAFT_UNIQUE_DOCS")
      .flatMap(_.toIntOption).getOrElse(10000))
    val passes = Bench.envPasses
    val spark =
      Bench.session("spark.sql.extensions" -> "graft.GraftExtensions")
    val calibSec =
      try Bench.calibrationProbe(spark)
      catch { case scala.util.control.NonFatal(_) => -1.0 }

    val boiler = spark.range(0L, hot.toLong, 1L, 32)
      .select(col("id").as("doc_id"),
        lit("all rights reserved license boilerplate footer page text")
          .as("text"))
    val unique = spark.range(hot.toLong, (hot + uniq).toLong, 1L, 32)
      .select(col("id").as("doc_id"),
        concat_ws(" ", concat(lit("u"), col("id"), lit("a")),
          concat(lit("u"), col("id"), lit("b")),
          concat(lit("u"), col("id"), lit("c")),
          concat(lit("u"), col("id"), lit("d"))).as("text"))
    val docs = boiler.union(unique)
    val bt = graft.functions.TextHashing
      .lshBandsFrom(graft.functions.TextHashing.shingleSetsRaw(docs))
      .localCheckpoint(eager = true)

    def time(threshold: Long, anchors: Int = 2): (Double, Long) = {
      val runs = (1 to passes).map { _ =>
        val t0 = System.nanoTime()
        val n = graft.functions.TextHashing
          .candidatePairsFromBands(functions.Materialized(bt), threshold,
            hotBucketAnchors = anchors).count()
        ((System.nanoTime() - t0) / 1e9, n)
      }
      (Bench.median(runs.map(_._1)), runs.head._2)
    }
    val (guardedSec, guardedPairs) = time(functions.TextHashing.HotBucketDefault)
    // the anchor-robustness knob's cost (r13 verdict #4): 4 anchors takes
    // the window-ranked general path and roughly doubles star edges —
    // both should stay linear in the bucket, nowhere near the quadratic
    val (anchor4Sec, anchor4Pairs) =
      time(functions.TextHashing.HotBucketDefault, anchors = 4)
    val (bruteSec, brutePairs) = time(Long.MaxValue)

    // SemDeDup degenerate cell (r14 verdict #1): the same engineered
    // shape on the EMBEDDING side — `hotVecs` identical vectors
    // concentrated into one IVF cell (a boilerplate embedding
    // mega-cluster under a capped nlist) plus singleton cells — timed
    // through the full semantic-dedup decision (guarded star vs unguarded
    // intra-cell self-join with an exact 64-dim dot per enumerated pair).
    // Larger default than the LSH row: a 64-double codegen'd dot is far
    // cheaper per pair than the band-string join, so the quadratic needs
    // a bigger cell to show its wall-clock shape.
    val hotVecs = math.max(2, sys.env.get("SPARK_GRAFT_HOT_VECS")
      .flatMap(_.toIntOption).getOrElse(32768))
    val home = spark.range(0L, hotVecs.toLong, 1L, 32)
      .select(col("id").as("vec_id"), lit(7L).as("cid"))
      .union(spark.range(hotVecs.toLong, (hotVecs + uniq).toLong, 1L, 32)
        .select(col("id").as("vec_id"), col("id").as("cid")))
      .localCheckpoint(eager = true)
    val q8 = spark.range(0L, hotVecs.toLong, 1L, 32)
      .select(col("id").as("vec_id"),
        expr("transform(sequence(1, 64), x -> 5.0D)").as("q8"))
      .union(spark.range(hotVecs.toLong, (hotVecs + uniq).toLong, 1L, 32)
        .select(col("id").as("vec_id"),
          expr("transform(sequence(1, 64), " +
            "x -> CAST(pmod(id * 31 + x, 13) - 6 AS DOUBLE))").as("q8")))
      .localCheckpoint(eager = true)
    def timeSem(threshold: Long): (Double, Long) = {
      val cfg = operators.SemDedupConfig(hotCellThreshold = threshold)
      val runs = (1 to passes).map { _ =>
        val t0 = System.nanoTime()
        val n = operators.SimilarityQueries.semanticDedupOn(home, q8, cfg)
          .count()
        ((System.nanoTime() - t0) / 1e9, n)
      }
      (Bench.median(runs.map(_._1)), runs.head._2)
    }
    val (semGuardSec, semGuardDrops) =
      timeSem(functions.TextHashing.HotBucketDefault)
    val (semBruteSec, semBruteDrops) = timeSem(Long.MaxValue)
    spark.stop()
    println(f"""{"metric":"hot_bucket_guard","hot_docs":$hot,"unique_docs":$uniq,"passes":$passes,"calib_sec":$calibSec%.3f,"guarded_sec":$guardedSec%.3f,"anchor4_sec":$anchor4Sec%.3f,"brute_sec":$bruteSec%.3f,"guarded_pairs":$guardedPairs,"anchor4_pairs":$anchor4Pairs,"brute_pairs":$brutePairs,"speedup":${bruteSec / guardedSec}%.1f}""")
    println(f"""{"metric":"semantic_cell_guard","hot_vecs":$hotVecs,"unique_vecs":$uniq,"passes":$passes,"calib_sec":$calibSec%.3f,"guarded_sec":$semGuardSec%.3f,"brute_sec":$semBruteSec%.3f,"guarded_drops":$semGuardDrops,"brute_drops":$semBruteDrops,"speedup":${semBruteSec / semGuardSec}%.1f}""")
    System.out.flush()
  }
}
