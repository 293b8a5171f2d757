package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main: runs every SparkEntry query N times (default 3) and
  * reports per-query MEDIANS. Round 4 proved why: a single recorded pass
  * absorbed end-of-round machine contention and read 89.7 s where a
  * same-code re-run read 51.6 s. Medians over interleaved passes are the
  * only number worth comparing round-over-round.
  */
object Bench {
  /** Shared with [[CurationBench]] and [[StageBench]] — one definition of
    * "the median" (and of the empty-sample sentinel) for every bench in
    * the repo. */
  private[graft] def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) -1.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }

  /** Deterministic machine-speed probe, run AFTER warmup and BEFORE pass 1.
    * The workload is pinned and data-independent — `spark.range` (no file IO),
    * a codegen-heavy scalar chain (xxhash64 + md5), and one 32-partition
    * shuffle agg — so its only variable is the machine executing it.
    * BENCH_r07 vs r06 read as a 2.5× total regression that a same-machine
    * A/B proved was 0.73× code-over-code: driver/judge environments drift
    * ~2× between rounds. Emitting the probe median as `calib_sec` lets any
    * consumer normalize totals across machines:
    * `total_norm = total * (calib_ref / calib_sec)` (rule in BASELINE.md).
    * One warm run first so the probe measures steady-state machine speed,
    * not its own codegen compile. */
  private[graft] def calibrationProbe(spark: SparkSession): Double = {
    import org.apache.spark.sql.functions._
    def once(): Double = {
      val t0 = System.nanoTime()
      spark.range(0L, 1L << 23, 1L, 32)
        .select(xxhash64(col("id"), lit(42L)).as("h"),
                md5(conv(col("id"), 10, 16)).as("m"))
        .select(pmod(col("h"), lit(4096L)).as("k"),
                length(col("m")).as("len"),
                // bound the summed term: 8.4M values < 1e6 cannot overflow
                // Long, so the probe survives ANSI overflow checking
                pmod(col("h"), lit(1000003L)).as("hb"))
        .groupBy("k").agg(sum("hb").as("sh"), sum("len").as("sl"))
        .agg(sum("sh"), sum("sl")).collect()
      (System.nanoTime() - t0) / 1e9
    }
    once()
    Bench.median(Seq(once(), once(), once()))
  }

  /** Env knobs shared by both bench mains. */
  private[graft] def envSfDir: String =
    sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
  private[graft] def envCpus: String =
    sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
  private[graft] def envPasses: Int =
    math.max(1, sys.env.get("SPARK_GRAFT_BENCH_PASSES")
      .flatMap(_.toIntOption).getOrElse(3))

  // r21 optimization note: lowering AQE's coalescePartitions
  // minPartitionSize floor session-wide (so small CPU-bound
  // intermediates keep machine-width parallelism) was implemented and
  // A/B-measured this round together with a scan-side fan-out — net
  // LOSS (see the note in Tables.scala: 130/159 queries slower, suite
  // 188.8 s vs 104.4 s). The CPU-bound operators pin their own width
  // at their one heavy exchange instead (Staged.cpuWidth).

  def main(args: Array[String]): Unit = {
    // junk or non-positive pass counts fall back to the default rather
    // than crashing the round's bench (or silently sampling nothing)
    val (sfDir, cpus, passes) = (envSfDir, envCpus, envPasses)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Session warmup (codegen compiler, shuffle machinery, broadcast +
    // window execs, parquet footers) so the first timed query measures
    // itself, not JVM startup; queries run in sorted name order for
    // cross-round comparability.
    try {
      import org.apache.spark.sql.functions._
      spark.read.parquet(s"$sfDir/lineitem.parquet").count()
      val r = spark.range(1000).select(col("id"), (col("id") % 7).as("k"))
      r.groupBy(col("k")).agg(sum(col("id")).as("s"))       // shuffle agg
        .join(broadcast(r.limit(14)), Seq("k"), "left")     // broadcast join
        .withColumn("rn", row_number().over(                // window exec
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("k")).orderBy(col("s"))))
        .count()
    } catch { case _: Throwable => () }
    // Machine-speed probe (see scaladoc): timed after warmup, before pass 1,
    // so suite totals from different machines can be normalized via calib_sec.
    // NonFatal only: an OOM or interrupt must kill the bench loudly, not
    // read as "probe unavailable" (-1.0) on an otherwise-reported round.
    val calibSec = try calibrationProbe(spark)
      catch { case scala.util.control.NonFatal(_) => -1.0 }
    // Optional subset filter for targeted same-sitting A/Bs (comma-
    // separated names). The round bench never sets it, so the driver's
    // totals always cover the full suite. Unknown names fail LOUDLY: a
    // typo'd filter would otherwise match nothing and print a
    // status:"ok" total of 0.000 s — the exact smaller-is-better trap
    // the 9e9 fail sentinel exists to prevent.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    only.foreach { o =>
      val unknown = o -- SparkEntry.queries.keySet
      require(unknown.isEmpty, "SPARK_GRAFT_BENCH_ONLY names unknown " +
        s"queries: ${unknown.toSeq.sorted.mkString(", ")}")
      require(o.nonEmpty, "SPARK_GRAFT_BENCH_ONLY is set but empty")
    }
    val names = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    // Each pass runs the full suite in order, so a transient load spike hits
    // one pass of every query rather than every pass of one query — that is
    // what makes the per-query median robust to machine noise. The Staged
    // memo is cleared BETWEEN passes so every pass pays stage-build cost:
    // within a pass the memo still models the persisted-staging-table reuse
    // (minhash → components share signatures), but pass 2's median must
    // measure the operator, not a localCheckpoint read of pass 1's work.
    //
    // WITHIN a pass, dead stages are released (r19 verdict ask #2): pass 1
    // records, via Staged.onStageAccess, which query LAST touches each
    // stage (queries run in the same sorted order every pass, so the map
    // holds for later passes); passes >= 2 evict a stage's checkpoint
    // blocks right after its last consumer runs. The r19 judge adjudicated
    // the alphabetical b-d block reading 1.3-3.1x its isolated time purely
    // from the ann_* block's resident checkpoints — reuse is preserved (a
    // stage is dropped only once no later query reads it), the pressure is
    // not. Medians over passes then reflect the released-mode readings.
    // Two failure guards on the release path (r20 review): (a) a stage
    // is evicted only after its last consumer SUCCEEDED this pass — a
    // query failing mid-action can leave a downstream lazy checkpoint in
    // the memo whose plan still needs the upstream RDD's blocks, and
    // freeing them would crash a later innocent query; (b) if any query
    // failed in pass 1 the last-consumer map may be truncated (the
    // failed query never touched its usual stages), so release mode is
    // disabled for the whole run — the run is already flagged
    // flaky/failed, and mis-timed medians from early eviction must not
    // land in a round table looking healthy.
    // Diagnostic kill-switch for the release path (same spirit as
    // SPARK_GRAFT_BENCH_ONLY): lets a same-box A/B attribute a timing
    // shift to the mid-pass eviction itself vs the code under test.
    val releaseMode =
      !sys.env.get("SPARK_GRAFT_BENCH_RELEASE").contains("0")
    val lastConsumer =
      scala.collection.mutable.HashMap.empty[(String, String), String]
    @volatile var currentQuery = ""
    var pass1Clean = true
    val samples: Seq[Seq[(String, Option[Double])]] = (1 to passes).map { i =>
      if (i > 1) operators.Staged.reset(spark)
      operators.Staged.onStageAccess =
        if (i == 1) (d, st) => lastConsumer((d, st)) = currentQuery
        else (_, _) => ()
      // Guard (c), r20 ADVICE: once ANY query in THIS pass has failed,
      // stop evicting for the remainder of the pass — a failed query can
      // leave an unmaterialized lazy checkpoint in the memo whose plan
      // still references an UPSTREAM stage's blocks; evicting that
      // upstream after its own (successful) last consumer would crash a
      // later innocent query computing the stranded checkpoint. Guard
      // (a) below only covers the evicted stage's own consumer.
      var passClean = true
      names.map { case (name, fn) =>
        currentQuery = name
        val t0 = System.nanoTime()
        val ok = try { fn(spark, sfDir).count(); true }
                 catch { case _: Throwable => false }
        val t = (System.nanoTime() - t0) / 1e9
        if (i == 1 && !ok) pass1Clean = false
        if (!ok) passClean = false
        if (releaseMode && i > 1 && ok && pass1Clean && passClean)
          lastConsumer.foreach { case ((d, st), q) =>
            if (q == name) operators.Staged.evictStage(spark, d, st)
          }
        name -> (if (ok) Some(t) else None)
      }
    }
    operators.Staged.onStageAccess = (_, _) => ()
    val byName: Seq[(String, Seq[Option[Double]])] =
      names.map { case (n, _) => n -> samples.map(_.find(_._1 == n).flatMap(_._2)) }
    // A query "fails" if every pass failed; it is excluded from the total,
    // and any failure at all flips the headline status to "fail" — a
    // crashed or flaky query must never read as a fast round. The fail
    // VALUE is a huge sentinel, not -1: a gate that only compares totals
    // smaller-is-better would read -1 as the fastest round ever recorded,
    // whereas 9e9 seconds cannot pass any threshold. Flaky (some-but-not-
    // all passes failed) queries are surfaced separately: their median over
    // surviving passes is still reported, but they count against the
    // status.
    val med = byName.map { case (n, ts) => n -> median(ts.flatten) }
    val mins = byName.map { case (n, ts) =>
      n -> ts.flatten.foldLeft(Double.MaxValue)(math.min) }
    val failed = med.collect { case (n, t) if t < 0 => n }
    val flaky = byName.collect { case (n, ts)
      if ts.exists(_.isEmpty) && ts.exists(_.nonEmpty) => n }
    val ok = failed.isEmpty && flaky.isEmpty
    val total = if (ok) med.map(_._2).sum else 9e9
    def ent(kv: (String, Double)) = f""""${kv._1}":${kv._2}%.3f"""
    // Full per-query maps, for humans and for BASELINE.md round tables. These
    // lines are long and scroll out of the harness's capture window — fine.
    println("BENCH_MEDIAN " + med.map(ent).mkString("{", ",", "}"))
    println("BENCH_MIN " + mins.filter(_._2 < Double.MaxValue)
      .map(ent).mkString("{", ",", "}"))
    // The machine-read line: the harness keeps only the LAST ~2000 chars of
    // output and json.loads per line, so the line must (a) be the final
    // thing printed, (b) carry no logger prefix (forked run + StdoutOutput),
    // and (c) fit the window with room for sbt's trailing "[success] …"
    // line. Per-query medians are slowest-first and truncated at the FIRST
    // entry that does not fit, so the shown set really is the N slowest;
    // "queries_total"/"queries_shown"/"queries_failed" make it explicit.
    // A failed probe emits null, not a number: a negative (or zero)
    // calib_sec fed into the BASELINE.md normalization ratio would
    // silently flip or explode normalized totals (the same totals-gate
    // trap the 9e9 fail sentinel exists for).
    val calibJson =
      if (calibSec > 0) f"$calibSec%.3f" else "null"
    // stage_mode makes warm-stage rows self-describing: "persist" totals
    // (GRAFT_STAGE_DIR set — stages read from parquet after pass 1) are a
    // different experiment than the default "session" totals and must
    // never be compared as if they were the same bench.
    val stageMode = if (operators.Staged.persistEnabled) "persist" else "session"
    val prefix =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","status":"${if (ok) "ok" else "fail"}","calib_sec":$calibJson,"sf":"$sfDir","passes":$passes,"stage_mode":"$stageMode","queries_total":${med.size},"queries_failed":${failed.size},"queries_flaky":${flaky.size},"queries":{"""
    val budget = 1700
    val bySlowest = med.sortBy(-_._2).map(ent)
    val shown = new scala.collection.mutable.ArrayBuffer[String]
    var used = prefix.length + 60 // room for closing brace + counters
    var fits = true
    for (e <- bySlowest if fits) {
      if (used + e.length + 1 <= budget) { shown += e; used += e.length + 1 }
      else fits = false
    }
    val line = prefix + shown.mkString(",") +
      s"""},"queries_shown":${shown.size}}"""
    // Stop Spark BEFORE printing so no executor/log output can interleave
    // with (or trail) the one JSON line the driver parses.
    spark.stop()
    println(line)
    System.out.flush()
  }
}
