package graft.perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side. `run.py` generates the inputs into a work
  * directory and launches this main:
  *
  *   PerfBench --workload <name> --work <dir> --trace <0|1>
  *     --frames-per-trigger <n>
  *
  * It sets up one `local[4]` session, warms it, records the machine's
  * speed, runs the workload's timed region, checks the outputs, and
  * writes `<work>/result.json` for `run.py` to report. */
object PerfBench {
  @volatile var tracer: Tracer = new Tracer(false)

  /** What a workload hands back: end-to-end metrics, per-layer metrics,
    * operations attempted and wrong, what was wrong, and a record of the
    * run (JSON values) that is printed but not gated on. */
  final case class Outcome(e2e: Map[String, Double], layers: Map[String, Double],
      attempted: Long, failed: Long, problems: Seq[String],
      record: Seq[(String, String)])

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val mainStartMs = System.currentTimeMillis()
    val heap = new HeapAfterGc
    val work = o("work")
    tracer = new Tracer(o("trace") == "1")

    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val counters = new SparkCounters
    val plans = new PlanTimes
    if (tracer.enabled) {
      spark.sparkContext.addSparkListener(counters)
      spark.listenerManager.register(plans)
    }

    val sessionReadyMs = System.currentTimeMillis()
    // Called by the workload right before its timed region: record the
    // machine's speed, then stamp the end of set-up.
    var timedStartMs = 0L
    var calibS = 0.0
    val timedStart = () => {
      calibS = calibrate(spark)
      timedStartMs = System.currentTimeMillis()
    }

    val out = o("workload") match {
      case "ingest_replay" =>
        Ingest.run(spark, work, o("frames-per-trigger").toInt, counters, timedStart)
      case "batch_suite" => BatchSuite.run(spark, work, counters, plans, timedStart)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    if (tracer.enabled) tracer.writeJsonLines(s"$work/spans.jsonl")
    val selfTimes = tracer.selfTimes.map { case (n, c, tot, self) =>
      n -> Json.obj(Seq("count" -> c.toString, "total_ms" -> Json.num(tot),
        "self_ms" -> Json.num(self)))
    }
    spark.stop()
    val rssMb = peakRssMb()
    val layers = out.layers + ("jvm.heap_after_gc_peak_mb" -> heap.peakMb)

    val result = Json.obj(Seq(
      "attempted" -> out.attempted.toString,
      "failed" -> out.failed.toString,
      "problems" -> out.problems.map(Json.str).mkString("[", ",", "]"),
      "e2e" -> Json.obj((out.e2e + ("peak_rss_mb" -> rssMb)).toSeq.sortBy(_._1)
        .map { case (k, v) => k -> Json.num(v) }),
      "layers" -> Json.obj(layers.toSeq.sortBy(_._1)
        .map { case (k, v) => k -> Json.num(v) }),
      "timed_start_ms" -> timedStartMs.toString,
      "calib_s" -> Json.num(calibS),
      "main_start_ms" -> mainStartMs.toString,
      "session_ready_ms" -> sessionReadyMs.toString,
      "self_times" -> Json.obj(selfTimes),
      "record" -> Json.obj(out.record)))
    Files.write(Paths.get(s"$work/result.json"), result.getBytes("UTF-8"))
  }

  /** The largest heap occupancy right after a garbage collection, over the
    * whole run: the live set, plus old-generation garbage no collection
    * has reclaimed yet. Unlike the resident set, it does not depend on how
    * far the collector chose to grow the heap. */
  final class HeapAfterGc extends NotificationListener {
    private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
    @volatile private var peakBytes = 0L
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(this, null, null)
      case _ => ()
    }
    override def handleNotification(n: Notification, handback: AnyRef): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(
          n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala.collect {
          case (pool, u) if heapPools(pool) => u.getUsed
        }.sum
        synchronized { peakBytes = math.max(peakBytes, used) }
      }
    def peakMb: Double = peakBytes / (1024.0 * 1024.0)
  }

  /** Peak resident set of this process (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  /** Machine-speed probe, recorded with each run and never gated on: the
    * pinned, data-independent workload of `graft.Bench.calibrationProbe`
    * (xxhash64 + md5 over `spark.range`, one shuffle aggregation) at an
    * eighth of its rows, timed once on the warmed session, so it fits
    * inside a short run. Returns its seconds. */
  def calibrate(spark: SparkSession): Double = {
    import org.apache.spark.sql.functions._
    val t0 = System.nanoTime()
    spark.range(0L, 1L << 20, 1L, 32)
      .select(xxhash64(col("id"), lit(42L)).as("h"),
        md5(conv(col("id"), 10, 16)).as("m"))
      .select(pmod(col("h"), lit(4096L)).as("k"),
        length(col("m")).as("len"),
        pmod(col("h"), lit(1000003L)).as("hb"))
      .groupBy("k").agg(sum("hb").as("sh"), sum("len").as("sl"))
      .agg(sum("sh"), sum("sl")).collect()
    (System.nanoTime() - t0) / 1e9
  }

  /** The `q`-quantile of `xs` by linear interpolation between order
    * statistics (Python's `statistics.quantiles` "inclusive" method). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted.toIndexedSeq
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }
}
