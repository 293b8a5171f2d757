package graft.perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One recorded span: a call the benchmark made into a layer. `parent` is
  * the id of the enclosing span (0 for a root); `trace` groups the spans
  * of one query execution or one micro-batch. Times are epoch nanoseconds
  * on the JVM's monotonic clock, shifted to epoch at start-up. */
final case class Span(id: Long, parent: Long, trace: String, name: String,
    startNs: Long, endNs: Long)

/** In-memory span recorder. Disabled (the untraced run) it only runs the
  * wrapped code: no clock reads, no allocation, no listener. Spans are
  * kept in memory and written out once, when the run ends. */
final class Tracer(val enabled: Boolean) {
  private val ids = new AtomicLong(0)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }
  private val epochOffsetNs =
    System.currentTimeMillis() * 1000000L - System.nanoTime()

  def span[T](name: String, trace: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parents = stack.get()
      stack.set(id :: parents)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(parents)
        record(Span(id, parents.headOption.getOrElse(0L), trace, name,
          t0 + epochOffsetNs, t1 + epochOffsetNs))
      }
    }

  /** A span whose interval was measured elsewhere (a micro-batch, from
    * its progress event). It becomes the parent of the root spans already
    * recorded under the same trace id: calls made inside that batch. */
  def add(name: String, trace: String, startMs: Long, endMs: Long): Unit =
    if (enabled) spans.synchronized {
      val id = ids.incrementAndGet()
      spans.indices.foreach { i =>
        val s = spans(i)
        if (s.parent == 0L && s.trace == trace) spans(i) = s.copy(parent = id)
      }
      spans += Span(id, 0L, trace, name, startMs * 1000000L, endMs * 1000000L)
    }

  private def record(s: Span): Unit = spans.synchronized { spans += s }

  def all: Seq[Span] = spans.synchronized(spans.toList)

  /** Per span name: (count, total ms, self ms). Self time is a span's
    * duration minus the part of its interval covered by its children. */
  def selfTimes: Seq[(String, Int, Double, Double)] = {
    val ss = all
    val kids = ss.groupBy(_.parent)
    def covered(s: Span): Long = {
      val iv = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var total = 0L
      var curA = Long.MinValue
      var curB = Long.MinValue
      iv.foreach { case (a, b) =>
        if (a > curB) {
          if (curB > curA) total += curB - curA
          curA = a; curB = b
        } else curB = math.max(curB, b)
      }
      if (curB > curA) total += curB - curA
      total
    }
    ss.groupBy(_.name).toSeq.sortBy(_._1).map { case (n, xs) =>
      (n, xs.size, xs.map(s => s.endNs - s.startNs).sum / 1e6,
        xs.map(s => s.endNs - s.startNs - covered(s)).sum / 1e6)
    }
  }

  def writeJsonLines(path: String): Unit = {
    val lines = all.sortBy(_.startNs).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"trace":${Json.str(s.trace)},""" +
        s""""name":${Json.str(s.name)},"start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

/** Spark-side counters for the traced run, attributed to the benchmark's
  * current trace id (a local property set on the calling thread before
  * each query, inherited by the jobs it submits). */
final class SparkCounters extends SparkListener {
  final class Acc {
    var jobs = 0L
    var tasks = 0L
    var shuffleBytes = 0L
    var spillBytes = 0L
  }
  private val byTrace = mutable.HashMap.empty[String, Acc]
  private val stageTrace = mutable.HashMap.empty[Int, String]
  /** Task counts of stages that read the websocket source (one per batch). */
  val scanStageTasks = mutable.ArrayBuffer.empty[Int]

  def acc(trace: String): Acc = synchronized(byTrace.getOrElseUpdate(trace, new Acc))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val t = Option(e.properties).flatMap(p =>
      Option(p.getProperty(SparkCounters.TraceKey))).getOrElse("")
    acc(t).jobs += 1
    e.stageIds.foreach(stageTrace(_) = t)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val info = e.stageInfo
      if (info.rddInfos.exists(_.name.contains("DataSourceRDD")))
        scanStageTasks += info.numTasks
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = acc(stageTrace.getOrElse(e.stageId, ""))
    a.tasks += 1
    Option(e.taskMetrics).foreach { m =>
      a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }
}

object SparkCounters {
  val TraceKey = "perfbench.trace"
}

/** Planning time (analysis, optimization and physical planning phases)
  * of every successful query execution, by `QueryExecution.id`. Execution
  * ids grow in creation order, and the callbacks arrive later, from the
  * listener bus, in the order the executions ended. */
final class PlanTimes extends QueryExecutionListener {
  private val byId = mutable.HashMap.empty[Long, Double]
  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = synchronized {
    byId(qe.id) = qe.tracker.phases.values.map(_.durationMs).sum.toDouble
    notifyAll()
  }
  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()

  /** Waits up to `timeoutMs` for the callback of execution `id`; true if
    * it arrived, and with it every callback of an execution that ended
    * before it. */
  def await(id: Long, timeoutMs: Long): Boolean = synchronized {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!byId.contains(id) && System.currentTimeMillis() < deadline)
      wait(math.max(1L, deadline - System.currentTimeMillis()))
    byId.contains(id)
  }

  /** Summed planning time of the executions with `from < id < until`. */
  def totalMs(from: Long, until: Long): Double = synchronized {
    byId.collect { case (i, ms) if i > from && i < until => ms }.sum
  }
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString

  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
