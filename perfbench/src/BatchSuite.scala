package graft.perfbench

import scala.collection.mutable

import graft.QueryDef
import graft.operators._
import org.apache.spark.sql.SparkSession

/** The batch workload: a fixed slice of the operator registry
  * (`SparkEntry.registry`), one client, closed loop, in a fresh session.
  * Each query is a `QueryDef` call plus a result-consuming action: every
  * row is collected into the JVM, so no output column can be pruned
  * away (a `count()` lets the optimizer drop columns no row count needs).
  * The collected rows are then checked against the DuckDB oracle. */
object BatchSuite {

  /** The registry's modules, market half first, as `SparkEntry` lists them. */
  val Modules: Seq[(String, Seq[QueryDef])] = Seq(
    "CoreQueries" -> CoreQueries.defs,
    "RefOpQueries" -> RefOpQueries.defs,
    "DerivedQueries" -> DerivedQueries.defs,
    "SqlSurfaceQueries" -> SqlSurfaceQueries.defs,
    "AnalyticsQueries" -> AnalyticsQueries.defs,
    "TpchMoreQueries" -> TpchMoreQueries.defs,
    "TpchFinalQueries" -> TpchFinalQueries.defs,
    "ShapeQueries" -> ShapeQueries.defs,
    "ReplayBench" -> ReplayBench.defs,
    "DedupQueries" -> DedupQueries.defs,
    "VocabQueries" -> VocabQueries.defs,
    "SimilarityQueries" -> SimilarityQueries.defs,
    "TextQueries" -> TextQueries.defs,
    "MultimodalQueries" -> MultimodalQueries.defs,
    "CurationQueries" -> CurationQueries.defs)

  val MarketModules: Set[String] = Modules.take(9).map(_._1).toSet

  /** The slice: one query of every module, and a second Dedup query that
    * reads the first one's staged MinHash signatures, so `Staged` both
    * builds and hits. Each is one of the cheaper queries of its module, so
    * that a run's untimed and timed passes fit the benchmark's run time. */
  val Slice: Seq[String] = Seq(
    "gap_ranges", "trade_normalize", "q3_topn_revenue", "window_navigation",
    "q18_large_orders", "q14_promo_ratio", "q4_priority_late",
    "cohort_retention", "book_replay_depth5",
    "dedup_minhash_lsh", "dedup_jaccard_verify", "vocab_topk",
    "ann_topk_ivf", "text_quality", "multimodal_ann_mips", "pack_sequences")

  /** (module, query) in slice order. */
  def slice: Seq[(String, QueryDef)] = {
    val all = Modules.flatMap { case (m, ds) => ds.map(d => d.name -> (m, d)) }.toMap
    Slice.map(all)
  }

  final case class Exec(module: String, query: String, seconds: Double,
      fnMs: Double, ok: Boolean, rows: Long)

  def run(spark: SparkSession, work: String,
      counters: SparkCounters, plans: PlanTimes,
      timedStart: () => Unit): PerfBench.Outcome = {
    val dir = s"$work/tables"
    val tracer = PerfBench.tracer
    val queries = slice
    val sc = spark.sparkContext

    // Set-up: one untimed pass, so the timed pass does not pay the
    // session's first code generation and class loading.
    queries.foreach { case (_, q) => q.fn(spark, dir).collect() }
    Staged.reset(spark)

    // The timed pass runs in a fresh session on the warm JVM: its staged
    // tables start empty. Staged builds and hits, per module: the first
    // access of a stage builds it, later ones read it.
    val session = spark.newSession()
    if (tracer.enabled) session.listenerManager.register(plans)
    var module = ""
    val seen = mutable.HashSet.empty[(String, String)]
    val builds = mutable.HashMap.empty[String, Long].withDefaultValue(0L)
    val hits = mutable.HashMap.empty[String, Long].withDefaultValue(0L)
    Staged.onStageAccess = (d, st) => seen.synchronized {
      if (seen.add((d, st))) builds(module) += 1 else hits(module) += 1
    }

    // One pass over the slice, in order, each query once.
    timedStart()
    // Executions created between these two marks are the timed pass's.
    val firstId = session.range(1).queryExecution.id
    val results = queries.map { case (m, q) =>
      module = m
      sc.setLocalProperty(SparkCounters.TraceKey, q.name)
      val q0 = System.nanoTime()
      val (rows, fnNs) = tracer.span(s"operators.$m.query", q.name) {
        try {
          val f0 = System.nanoTime()
          val df = tracer.span(s"operators.$m.fn", q.name)(q.fn(session, dir))
          val f1 = System.nanoTime()
          val rows = tracer.span(s"operators.$m.collect", q.name)(df.collect())
          (Some((df.schema, rows)), f1 - f0)
        } catch { case scala.util.control.NonFatal(_) => (None, 0L) }
      }
      val exec = Exec(m, q.name, (System.nanoTime() - q0) / 1e9, fnNs / 1e6,
        rows.isDefined, rows.fold(0L)(_._2.length.toLong))
      sc.setLocalProperty(SparkCounters.TraceKey, null)
      (exec, rows)
    }
    val lastId = session.range(1).queryExecution.id
    Staged.onStageAccess = (_, _) => ()
    val execs = results.map(_._1)

    // Untimed: the results go to the DuckDB oracle (run.py), which runs
    // each query's SQL twin over the same tables.
    results.foreach { case (e, rows) =>
      rows.foreach { case (schema, rs) =>
        session.createDataFrame(java.util.Arrays.asList(rs: _*), schema)
          .coalesce(1).write.parquet(s"$work/results/${e.query}")
      }
    }
    val oracle = queries.flatMap { case (_, q) => q.oracle.map(q.name -> _) }
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$work/results"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$work/results/oracle_sql.json"),
      Json.obj(oracle.map { case (n, s) => n -> Json.str(s) }).getBytes("UTF-8"))
    val noOracle = queries.filter(_._2.oracle.isEmpty).map(_._2.name)
    // Planning times arrive from the listener bus: once a marker action run
    // after the timed pass has been seen, every timed execution has been.
    val planMs = if (!tracer.enabled) 0.0 else {
      val marker = session.range(1)
      marker.collect()
      if (!plans.await(marker.queryExecution.id, 60000L))
        throw new IllegalStateException("planning times did not arrive")
      plans.totalMs(firstId, lastId)
    }

    val times = execs.map(_.seconds * 1000.0).toSeq
    val e2e = Map(
      "throughput_per_s" -> execs.size / execs.map(_.seconds).sum,
      "latency_p50_ms" -> PerfBench.quantile(times, 0.5),
      "latency_tail_ms" -> PerfBench.quantile(times, 0.9))

    val layers = mutable.LinkedHashMap.empty[String, Double]
    Modules.foreach { case (m, _) =>
      val es = execs.filter(_.module == m)
      val accs = es.map(e => counters.acc(e.query))
      layers(s"operators.$m.s") = es.map(_.seconds).sum
      layers(s"operators.$m.fn_ms") = es.map(_.fnMs).sum
      layers(s"operators.$m.jobs") = accs.map(_.jobs).sum.toDouble
      layers(s"operators.$m.tasks") = accs.map(_.tasks).sum.toDouble
      layers(s"operators.$m.shuffle_bytes") = accs.map(_.shuffleBytes).sum.toDouble
    }
    val allAccs = execs.map(e => counters.acc(e.query))
    layers("operators.market_s") =
      execs.filter(e => MarketModules(e.module)).map(_.seconds).sum
    layers("operators.corpus_s") =
      execs.filterNot(e => MarketModules(e.module)).map(_.seconds).sum
    layers("operators.plan_ms") = planMs
    layers("operators.spill_bytes") = allAccs.map(_.spillBytes).sum.toDouble
    val (b, h) = (builds.values.sum.toDouble, hits.values.sum.toDouble)
    layers("operators.Staged.builds") = b
    layers("operators.Staged.hits") = h
    layers("operators.Staged.hit_ratio") = if (b + h > 0) h / (b + h) else 0.0
    layers("operators.Staged.market_accesses") =
      MarketModules.toSeq.map(m => builds(m) + hits(m)).sum.toDouble

    val wrong = execs.filterNot(_.ok)
    PerfBench.Outcome(e2e, layers.toMap, execs.size, wrong.size,
      wrong.map(e => s"${e.query} failed").toSeq ++
        noOracle.map(n => s"$n has no oracle SQL"),
      Seq(
        "queries" -> queries.size.toString,
        "tail" -> Json.str("p90 of query time"),
        "query_s" -> Json.obj(execs.map(e => e.query -> Json.num(e.seconds))),
        "query_rows" -> Json.obj(execs.map(e => e.query -> e.rows.toString))))
  }
}
