package graft.streaming

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream, InputStream, OutputStream}
import java.nio.charset.StandardCharsets.UTF_8

import graft.model.{EngineOut, Level, MarketMessage}
import graft.streaming.OrderBook.ReplayState
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager

/** The ingest engine's book state, folded on the driver and checkpointed as
  * ONE versioned file per micro-batch, `<checkpointDir>/books/<batchId>` —
  * the reference's in-memory books per event loop (real_guac_async.py:61-107)
  * plus a restart point, with no state-store stage.
  *
  * Batch N starts from the state after batch N−1: the in-memory books when
  * they are at version N−1, else file N−1. A retried or restarted batch
  * therefore always recomputes from its committed predecessor (a version
  * file written by a batch whose commit-log entry never landed is simply
  * rewritten), and a missing predecessor fails the batch. Files are written
  * through Spark's `CheckpointFileManager.createAtomic`, so any checkpoint
  * filesystem Spark streams to works here; versions older than
  * `spark.sql.streaming.minBatchesToRetain` are purged.
  *
  * `idleTtl`: a key whose last write is older than the TTL (wall clock at
  * the batch's fold) is evicted before the batch folds — its next message
  * starts a fresh book, the first trade after eviction is not gap-checked,
  * and the delisted product's book leaves the checkpoint. Each key records
  * its last-write time in the file, so eviction survives restarts. */
private[graft] final class BookLog private (dir: Path,
    fm: CheckpointFileManager, idleTtl: Option[java.time.Duration],
    retain: Int) {
  import BookLog._

  private var version = -1L
  private var books: Books = Map.empty

  /** Fold one micro-batch's messages through [[BookEngine.processKey]] per
    * (exchange, channel) key, write version `batchId`, return the engine
    * rows. */
  def fold(messages: Seq[MarketMessage], batchId: Long): Seq[EngineOut] = {
    val nowMs = System.currentTimeMillis()
    val prior = if (version == batchId - 1) books else load(batchId - 1)
    val live = idleTtl.fold(prior) { ttl =>
      prior.filter { case (_, k) => nowMs - k.lastWriteMs <= ttl.toMillis }
    }
    val folded = messages.groupBy(m => (m.exchange, m.channel)).toSeq.map {
      case (key, ms) => key -> BookEngine.processKey(key,
        live.get(key).fold(OrderBook.initialState)(_.state), ms)
    }
    val next = live ++
      folded.map { case (key, (st, _)) => key -> Keyed(st, nowMs) }
    val os = fm.createAtomic(new Path(dir, batchId.toString),
      overwriteIfPossible = true)
    try write(os, next) catch { case e: Throwable => os.cancel(); throw e }
    os.close()
    books = next
    version = batchId
    fm.list(dir).map(_.getPath).filter(p =>
      p.getName.forall(_.isDigit) && p.getName.toLong < batchId - retain)
      .foreach(fm.delete)
    folded.flatMap { case (_, (_, rows)) => rows }
  }

  private def load(batchId: Long): Books =
    if (batchId < 0) Map.empty
    else {
      val p = new Path(dir, batchId.toString)
      if (!fm.exists(p)) throw new IllegalStateException(
        s"book state version $batchId is missing from $dir; the next batch " +
          "cannot start from its committed predecessor")
      val in = fm.open(p)
      try read(in, p.toString) finally in.close()
    }
}

private[graft] object BookLog {

  /** One key's state and the wall-clock ms of its last write. */
  final case class Keyed(state: ReplayState, lastWriteMs: Long)
  type Books = Map[(String, String), Keyed]

  /** Open the book log of `checkpointDir`, refusing a checkpoint whose
    * book state this engine cannot read: a v1 checkpoint (`state/`, no
    * `books/`) or a newest book file of another version. */
  def open(spark: SparkSession, checkpointDir: String,
      idleTtl: Option[java.time.Duration]): BookLog = {
    val root = new Path(checkpointDir)
    val dir = new Path(root, "books")
    val fm =
      CheckpointFileManager.create(root, spark.sessionState.newHadoopConf())
    if (fm.exists(dir)) {
      val versions = fm.list(dir).map(_.getPath)
        .filter(_.getName.forall(_.isDigit))
      if (versions.nonEmpty) {
        val newest = versions.maxBy(_.getName.toLong)
        val in = new DataInputStream(fm.open(newest))
        val v = try in.readInt() finally in.close()
        if (v != StateSchemas.BookReplayStateVersion)
          throw refused(newest.toString, v)
      }
    } else {
      if (fm.exists(new Path(root, "state"))) throw refused(checkpointDir, 1)
      fm.mkdirs(dir)
    }
    new BookLog(dir, fm, idleTtl, spark.sessionState.conf.minBatchesToRetain)
  }

  private def refused(where: String, found: Int): IllegalStateException =
    new IllegalStateException(
      s"$where holds book state version $found; this engine reads book " +
        s"state version ${StateSchemas.BookReplayStateVersion} only. " +
        "Restart from a fresh checkpoint and replay the frame log.")

  /** Version-tagged binary encoding: the version, the key count, then per
    * key its (exchange, channel), last-write ms, and the [[ReplayState]]
    * fields in declaration order. Strings are length-prefixed UTF-8
    * (length −1 for null); sequences are count-prefixed. */
  def write(os: OutputStream, books: Books): Unit = {
    val out = new DataOutputStream(new BufferedOutputStream(os, 1 << 16))
    def str(s: String): Unit =
      if (s == null) out.writeInt(-1)
      else { val b = s.getBytes(UTF_8); out.writeInt(b.length); out.write(b) }
    def pairs(ps: Seq[(String, String)]): Unit = {
      out.writeInt(ps.size)
      ps.foreach { case (a, b) => str(a); str(b) }
    }
    def levels(ls: Seq[Level]): Unit = pairs(ls.map(l => (l.price, l.size)))
    out.writeInt(StateSchemas.BookReplayStateVersion)
    out.writeInt(books.size)
    books.foreach { case ((exchange, channel), Keyed(s, at)) =>
      str(exchange); str(channel); out.writeLong(at)
      str(s.productName); pairs(s.bids); pairs(s.asks)
      levels(s.lastBids); levels(s.lastAsks)
      out.writeBoolean(s.hasEmitted); out.writeLong(s.lastTradeId)
    }
    out.flush()
  }

  /** Inverse of [[write]]; `where` names the source in a refusal. */
  def read(is: InputStream, where: String): Books = {
    val in = new DataInputStream(new BufferedInputStream(is, 1 << 16))
    def str(): String = in.readInt() match {
      case -1 => null
      case n =>
        val b = new Array[Byte](n); in.readFully(b); new String(b, UTF_8)
    }
    def pairs(): List[(String, String)] =
      List.fill(in.readInt())((str(), str()))
    def levels(): List[Level] = pairs().map { case (p, s) => Level(p, s) }
    val v = in.readInt()
    if (v != StateSchemas.BookReplayStateVersion) throw refused(where, v)
    Seq.fill(in.readInt()) {
      val key = (str(), str())
      val at = in.readLong()
      key -> Keyed(ReplayState(str(), pairs(), pairs(), levels(), levels(),
        in.readBoolean(), in.readLong()), at)
    }.toMap
  }
}
