package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import graft.TestSpark
import graft.model.{EngineOut, InsideBookUpdate, Level, TradeOut}
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** [[Pipeline.commitBatch]] writes each sink partition on the driver
  * through Spark's Parquet `OutputWriterFactory`; the files it writes must
  * read back exactly like the ones `Dataset.write.parquet` writes for the
  * same rows — same schema, same rows, same footer metadata — on the rows
  * most likely to differ: null, sub-microsecond and pre-epoch timestamps,
  * empty strings and nulls, empty books, and a table with no rows. */
class SinkWriterParitySpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private def ts(s: String, nanos: Int): Timestamp = {
    val t = Timestamp.valueOf(s)
    t.setNanos(nanos)
    t
  }

  private def trade(id: Long, price: String, side: String,
      at: Timestamp): TradeOut =
    TradeOut("gdax", "ETH-USD", id, id, price, "0.25", side, at,
      backfilled = id % 2 == 0, gapStart = -1L, gapEnd = -1L)

  private val books = Seq(
    InsideBookUpdate("gdax", "ETH-USD", 7L,
      Seq(Level("300.10", "1.5"), Level("300.05", "2")),
      Seq(Level("300.20", "0.9"))),
    InsideBookUpdate("gdax", "ETH-USD", 8L, Nil, Nil),
    InsideBookUpdate("poloniex", "", -1L, Seq(Level("0.0701", "3")), Nil))

  private val trades = Seq(
    trade(100L, "300.15", "buy", null),
    trade(101L, "300.16", "sell", ts("2017-10-15 05:10:53", 700123789)),
    trade(102L, "", null, ts("1969-12-31 23:59:59", 999999000)),
    trade(103L, "1.5", "buy", ts("1901-06-01 00:00:00", 1000)))

  /** The footer's key-value metadata of the one part file under `dir`. */
  private def footer(dir: String): Map[String, String] = {
    val part = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet"))
    assert(part.length === 1, s"$dir holds ${part.length} part files")
    val in = ParquetFileReader.open(HadoopInputFile.fromPath(
      new Path(part.head.getPath), spark.sessionState.newHadoopConf()))
    try in.getFooter.getFileMetaData.getKeyValueMetaData.asScala.toMap
    finally in.close()
  }

  private def assertSame(ours: DataFrame, theirs: DataFrame): Unit = {
    assert(ours.schema === theirs.schema)
    assert(ours.except(theirs).isEmpty, "rows only the driver writer wrote")
    assert(theirs.except(ours).isEmpty, "rows only Dataset.write wrote")
    assert(ours.count() === theirs.count())
  }

  test("commitBatch writes what Dataset.write.parquet writes") {
    val outDir = Files.createTempDirectory("parity_out").toString
    val refDir = Files.createTempDirectory("parity_ref").toString
    val rows = books.map(b => EngineOut(Some(b), None)) ++
      trades.map(t => EngineOut(None, Some(t)))
    Pipeline.commitBatch(spark, rows, batchId = 0L, outDir, None)
    // batch 1 has book rows only: its trades partition holds no rows
    Pipeline.commitBatch(spark, rows.filter(_.book.isDefined), batchId = 1L,
      outDir, None)

    for ((table, data, batch) <- Seq(
        ("inside_book", spark.createDataset(books).toDF(), 0),
        ("trades", spark.createDataset(trades).toDF(), 0),
        ("trades", spark.createDataset(Seq.empty[TradeOut]).toDF(), 1))) {
      val ours = s"$outDir/$table/batch_id=$batch"
      val theirs = s"$refDir/$table/batch_id=$batch"
      data.coalesce(1).write.parquet(theirs)
      assertSame(spark.read.parquet(ours), spark.read.parquet(theirs))
      assert(footer(ours) === footer(theirs), s"$table footer metadata")
      assert(new java.io.File(ours, "_SUCCESS").isFile)
    }
    assert(spark.read.parquet(s"$outDir/trades/batch_id=1").isEmpty)
    // the partitioned read the sink's readers make
    assert(spark.read.parquet(s"$outDir/trades").count() === trades.size)
    assert(spark.read.parquet(s"$outDir/inside_book").count() ===
      2 * books.size)
  }
}
