package graft.streaming

import java.nio.file.Files
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import graft.TestSpark
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerStageSubmitted}
import org.scalatest.funsuite.AnyFunSuite

/** The shape of one micro-batch commit: the stateful engine runs once (its
  * keyed exchange is the only shuffle), trade dedup and backfill happen on
  * the driver, and each table's batch partition is a single file. */
class CommitShapeSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private val Group = "commit-shape"
  private val Sentinel = "commit-shape-sentinel"

  /** Records, for stages run under [[Group]], the ids of those that wrote
    * shuffle output; releases `drained` once the sentinel job has ended —
    * the listener bus is FIFO, so every earlier event has arrived by then. */
  private final class ShapeListener extends SparkListener {
    private val ours = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val shuffleWriters = new ConcurrentLinkedQueue[Int]()
    @volatile private var sentinelJob = -1
    val drained = new CountDownLatch(1)
    private def group(p: java.util.Properties): String =
      Option(p).map(_.getProperty("spark.jobGroup.id")).orNull
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      if (group(e.properties) == Group) ours.add(e.stageInfo.stageId)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val info = e.stageInfo
      if (ours.contains(info.stageId) && info.taskMetrics != null &&
          info.taskMetrics.shuffleWriteMetrics.recordsWritten > 0)
        shuffleWriters.add(info.stageId)
    }
    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (group(e.properties) == Sentinel) sentinelJob = e.jobId
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      if (e.jobId == sentinelJob) drained.countDown()
  }

  test("commitBatch: one shuffle (the engine's), one file per table partition") {
    val outDir = Files.createTempDirectory("commit_shape").toString
    // several products, so the engine output spans several partitions
    val frames = (0 until 6).flatMap { p =>
      Seq(
        s"""{"type": "snapshot", "product_id": "P$p-USD",
          "bids": [["300.10", "1.5"]], "asks": [["300.20", "0.9"]]}""",
        s"""{"type": "match", "trade_id": 100, "sequence": 7,
          "time": "2017-10-15T05:10:53.700000Z", "product_id": "P$p-USD",
          "size": "0.25", "price": "300.15", "side": "buy"}""")
    }.zipWithIndex.map { case (f, i) => (i.toLong, f) }
    val engineOut = BookEngine.run(Decoders.gdax(frames.toDF("arrival", "value")))

    val listener = new ShapeListener
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(Group, "one commit")
      Pipeline.commitBatch(engineOut, batchId = 0L, outDir, None)
      sc.setJobGroup(Sentinel, "listener drain")
      sc.parallelize(Seq(1), 1).count()
      assert(listener.drained.await(60, TimeUnit.SECONDS))
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }

    assert(listener.shuffleWriters.asScala.toSeq.size === 1,
      "only the engine's keyed exchange may write shuffle output")
    for (table <- Seq("inside_book", "trades")) {
      val files = new java.io.File(s"$outDir/$table/batch_id=0").listFiles()
        .count(_.getName.endsWith(".parquet"))
      assert(files === 1, s"$table/batch_id=0 holds $files parquet files")
    }
    assert(spark.read.parquet(s"$outDir/inside_book").count() === 6)
    assert(spark.read.parquet(s"$outDir/trades").count() === 6)
  }
}
