package graft.streaming

import java.nio.file.Files
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import graft.TestSpark
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerStageSubmitted}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

/** The shape of one ingest micro-batch: the books fold on the driver, so
  * no stage writes shuffle output; the sinks are written on the driver, so
  * the decode collect is the batch's one Spark job; each table's batch
  * partition is a single file plus `_SUCCESS`, with no temp directory
  * left; and the batch checkpoints its books as one versioned file under
  * `books/`. */
class CommitShapeSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._
  private implicit def sqlCtx: org.apache.spark.sql.SQLContext =
    spark.sqlContext

  private val Sentinel = "commit-shape-sentinel"

  /** Records, per job group, the ids of jobs started, of stages that
    * wrote shuffle output and of the stages seen; releases `drained` once the sentinel job has
    * ended — the listener bus is FIFO, so every earlier event has arrived
    * by then. A streaming query runs its jobs under its run id. */
  private final class ShapeListener extends SparkListener {
    private val groupOf =
      new java.util.concurrent.ConcurrentHashMap[Int, String]()
    val shuffleWriters = new ConcurrentLinkedQueue[(String, Int)]()
    val stages = new ConcurrentLinkedQueue[(String, Int)]()
    val jobs = new ConcurrentLinkedQueue[(String, Int)]()
    @volatile private var sentinelJob = -1
    val drained = new CountDownLatch(1)
    private def group(p: java.util.Properties): String =
      Option(p).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .getOrElse("")
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      groupOf.put(e.stageInfo.stageId, group(e.properties))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val info = e.stageInfo
      val g = groupOf.getOrDefault(info.stageId, "")
      stages.add((g, info.stageId))
      if (info.taskMetrics != null &&
          info.taskMetrics.shuffleWriteMetrics.recordsWritten > 0)
        shuffleWriters.add((g, info.stageId))
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = group(e.properties)
      jobs.add((g, e.jobId))
      if (g == Sentinel) sentinelJob = e.jobId
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      if (e.jobId == sentinelJob) drained.countDown()
  }

  test("one micro-batch: no shuffle, one file per table, one book version") {
    val outDir = Files.createTempDirectory("commit_shape").toString
    val ckpt = Files.createTempDirectory("commit_shape_ckpt").toString
    val input = MemoryStream[(Long, String)]
    // several products, so a keyed engine would span several partitions
    input.addData((0 until 6).flatMap { p =>
      Seq(
        s"""{"type": "snapshot", "product_id": "P$p-USD",
          "bids": [["300.10", "1.5"]], "asks": [["300.20", "0.9"]]}""",
        s"""{"type": "match", "trade_id": 100, "sequence": 7,
          "time": "2017-10-15T05:10:53.700000Z", "product_id": "P$p-USD",
          "size": "0.25", "price": "300.15", "side": "buy"}""")
    }.zipWithIndex.map { case (f, i) => (i.toLong, f) })

    val listener = new ShapeListener
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    val runId = try {
      val q = Pipeline.start(input.toDF.toDF("arrival", "value"),
        Decoders.gdax, outDir, ckpt)
      try q.processAllAvailable() finally q.stop()
      sc.setJobGroup(Sentinel, "listener drain")
      sc.parallelize(Seq(1), 1).count()
      assert(listener.drained.await(60, TimeUnit.SECONDS))
      q.runId.toString
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }

    def ours(q: ConcurrentLinkedQueue[(String, Int)]): Seq[Int] =
      q.asScala.toSeq.collect { case (g, id) if g == runId => id }
    assert(ours(listener.stages).nonEmpty, "the micro-batch ran no stage")
    assert(ours(listener.shuffleWriters).isEmpty,
      "no stage of the micro-batch may write shuffle output")
    assert(ours(listener.jobs).size === 1,
      "the micro-batch runs one Spark job, the decode collect")
    for (table <- Seq("inside_book", "trades")) {
      val names = new java.io.File(s"$outDir/$table/batch_id=0").listFiles()
        .map(_.getName).filterNot(_.endsWith(".crc")).toSeq
      assert(names.count(_.endsWith(".parquet")) === 1 &&
        names.contains("_SUCCESS") && names.size === 2,
        s"$table/batch_id=0 holds ${names.mkString(", ")}")
      val temps = new java.io.File(s"$outDir/$table").list()
        .filter(_.startsWith(".batch_id="))
      assert(temps.isEmpty, s"$table keeps ${temps.mkString(", ")}")
    }
    val books = Option(new java.io.File(ckpt, "books").listFiles())
      .getOrElse(Array.empty[java.io.File])
      .map(_.getName).filterNot(_.startsWith(".")).toSeq
    assert(books === Seq("0"), "one book version per micro-batch")
    assert(spark.read.parquet(s"$outDir/inside_book").count() === 6)
    assert(spark.read.parquet(s"$outDir/trades").count() === 6)
  }
}
