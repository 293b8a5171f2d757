package graft.sources

import java.net.URI
import java.net.http.{HttpClient, WebSocket}
import java.nio.file.{Files, Paths}
import java.util
import java.util.concurrent.{CompletionStage, ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxRows, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import scala.jdk.CollectionConverters._

/** Streaming websocket source (reference ops 1-2: real_guac_async.py:35-57,
  * polo_ws_async.py:35-57) as a DataSourceV2 MicroBatchStream.
  *
  * Frames become rows (arrival LONG, value STRING) — exactly the decoder
  * input contract. Two modes:
  *
  *  - `url` (+ optional `subscribe` payload(s), '\n'-separated): live
  *    connection via the JDK's java.net.http.WebSocket with reconnect +
  *    exponential backoff (realizing the reference's intended-but-no-op
  *    sleeps, SURVEY §0.1 #2, and replacing its unbounded recursion #7).
  *    Received frames are logged to a WAL under the checkpoint dir before
  *    their offsets are exposed, so checkpointed offsets stay valid across
  *    driver restarts (exactly-once recovery; without it a restart would
  *    silently re-number fresh frames under old offsets).
  *  - `replayFile`: replay a recorded frame log (one JSON frame per line) —
  *    the offline/CI path (both reference endpoints are long dead). The
  *    file itself is the stable log; no WAL.
  *
  * Offsets are cumulative frame counts; each micro-batch ships its frame
  * slice inside the InputPartition (frames are small text; the driver is
  * the socket owner, as in any single-connection source). `maxFramesPerTrigger`
  * bounds batch size (pacing, op 24).
  *
  * Usage: spark.readStream.format("graft.sources.WebsocketSource")
  *          .option("replayFile", path).load()
  */
class WebsocketSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "websocket"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    WebsocketSource.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new WebsocketTable(new CaseInsensitiveStringMap(properties))
}

object WebsocketSource {
  val schema: StructType = StructType(Seq(
    StructField("arrival", LongType, nullable = false),
    StructField("value", StringType, nullable = false)))
}

private[sources] class WebsocketTable(options: CaseInsensitiveStringMap)
    extends Table with SupportsRead {
  override def name(): String =
    Option(options.get("url")).orElse(Option(options.get("replayFile")))
      .map(u => s"websocket($u)").getOrElse("websocket")
  override def schema(): StructType = WebsocketSource.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder =
    () => new WebsocketScan(opts)
}

private[sources] class WebsocketScan(options: CaseInsensitiveStringMap)
    extends Scan {
  override def readSchema(): StructType = WebsocketSource.schema
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new WebsocketMicroBatchStream(options, checkpointLocation)
}

/** Long offset = number of frames consumed so far. */
private[sources] case class FrameOffset(n: Long) extends Offset {
  override def json(): String = n.toString
}

private[sources] class WebsocketMicroBatchStream(
    options: CaseInsensitiveStringMap,
    checkpointLocation: String) extends MicroBatchStream
    with SupportsAdmissionControl with SupportsTriggerAvailableNow {

  private val maxPerTrigger =
    Option(options.get("maxFramesPerTrigger")).map(_.toLong)
      .getOrElse(10000L)

  /** All frames seen this run, indexed by arrival. Committed prefixes are
    * trimmed; `base` is the arrival index of buffer.head. */
  private val buffer = new util.ArrayList[String]()
  private var base = 0L

  private val isLive = options.get("replayFile") == null

  private val client: Option[FrameClient] = {
    val replay = Option(options.get("replayFile"))
    val url = Option(options.get("url"))
    (replay, url) match {
      case (Some(path), _) => Some(new ReplayFileClient(path))
      case (_, Some(u)) =>
        Some(new JdkWebsocketClient(u,
          Option(options.get("subscribe")).toSeq
            .flatMap(_.split('\n').toSeq),
          Option(options.get("truststore")).map(p =>
            (p, Option(options.get("truststorePassword")).getOrElse("")))))
      case _ =>
        throw new IllegalArgumentException(
          "websocket source requires option 'url' or 'replayFile'")
    }
  }

  /** Live-mode WAL: an offset is only checkpoint-stable if the frame it
    * names survives a driver restart, so every live frame is logged to
    * chunk files under the query's checkpoint dir BEFORE its offset is
    * exposed via latestOffset(). On restart the chunks are replayed into
    * the buffer, making recovery exactly-once (each frame is escaped onto
    * one line, so raw newlines and empty frames survive). Replay-file mode
    * needs no WAL: the file itself is the stable log. */
  private val wal: Option[FrameWal] =
    if (isLive) Some(new FrameWal(checkpointLocation)) else None

  wal.foreach { w =>
    val (replayBase, frames) = w.readAll()
    base = replayBase
    frames.foreach(buffer.add)
  }

  private def pump(): Unit = synchronized {
    val before = buffer.size()
    client.foreach(_.drainTo(buffer))
    wal.foreach { w =>
      if (buffer.size() > before)
        w.append(base + before,
          buffer.subList(before, buffer.size()).asScala.toSeq)
    }
  }

  /** High-water mark of offsets handed to the engine — advances by at most
    * maxFramesPerTrigger per latestOffset call (admission control / pacing,
    * op 24). Anchored to the engine-supplied start offset each call, so a
    * driver restart whose last batch was fully committed resumes pacing from
    * the checkpointed offset instead of regressing to 0 (which would make
    * Spark record a lower offset and re-emit committed frames). */
  private var served = 0L

  override def initialOffset(): Offset = FrameOffset(0L)
  override def deserializeOffset(json: String): Offset =
    FrameOffset(json.toLong)

  override def getDefaultReadLimit: ReadLimit = ReadLimit.maxRows(maxPerTrigger)

  /** Trigger.AvailableNow: snapshot the end of the currently-available
    * frame range; latestOffset then paces batches toward (never past) it,
    * and the engine stops once it's reached. Without this, Spark's
    * fallback wrapper snapshots offsets itself and bypasses the
    * maxFramesPerTrigger admission control (one giant batch). */
  private var availableNowCap: Option[Long] = None
  private var capAtFirstLatest = false

  /** The snapshot is DEFERRED to the first latestOffset call: prepare runs
    * before any engine-supplied start offset has re-anchored `base` via
    * trimBelow, so pumping here on a live restart after a full commit
    * (WAL pruned, base restored to 0) would number fresh frames from 0
    * and the first trim would swallow them as already-committed — the
    * exact pump-before-trim hazard latestOffset's ordering exists to
    * avoid. */
  override def prepareForTriggerAvailableNow(): Unit = synchronized {
    capAtFirstLatest = true
  }

  // With SupportsAdmissionControl the engine always calls the 2-arg variant.
  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) should be called instead of this method")

  override def latestOffset(start: Offset, limit: ReadLimit): Offset =
    synchronized {
      val s = start.asInstanceOf[FrameOffset].n
      // Trim/pump order is mode-dependent. LIVE: frames are ephemeral and
      // position is restored by the WAL — trim FIRST, so after a fully-
      // committed restart (empty buffer, base 0) base jumps to the engine's
      // start before new frames are numbered; pumping first would number
      // them from 0 and the trim would swallow them as committed. REPLAY:
      // the file re-delivers everything from position 0 — pump FIRST so
      // frames regain their file positions, then trim the committed prefix.
      if (isLive) { trimBelow(s); pump() }
      else { pump(); trimBelow(s) }
      if (capAtFirstLatest) { // AvailableNow snapshot, post-anchor
        availableNowCap = Some(base + buffer.size())
        capAtFirstLatest = false
      }
      val cap = limit match {
        case r: ReadMaxRows => r.maxRows()
        case _              => maxPerTrigger
      }
      val available = base + buffer.size()
      served = math.min(available, math.max(served, s) + cap)
      // AvailableNow: never admit past the prepared snapshot (frames that
      // arrive during the run belong to the next run); a snapshot below the
      // restored start just means "nothing new as of start".
      availableNowCap.foreach(c => served = math.min(served, math.max(c, s)))
      served = math.max(served, s)
      FrameOffset(served)
    }

  override def planInputPartitions(start: Offset,
      end: Offset): Array[InputPartition] = synchronized {
    // On checkpoint restart Spark re-plans the last planned-but-uncommitted
    // batch BEFORE any latestOffset() call — the buffer is only filled by
    // pump(), so pump here too or replay-mode recovery finds it empty.
    pump()
    val s = start.asInstanceOf[FrameOffset].n
    val e = end.asInstanceOf[FrameOffset].n
    served = math.max(served, e) // restart replay: never re-shrink below
    if (s < base || e > base + buffer.size())
      throw new IllegalStateException(
        s"websocket source cannot replay offsets [$s,$e): buffered range is " +
          s"[$base,${base + buffer.size()}). The checkpoint references " +
          "frames this run never saw (frame WAL missing or truncated).")
    val slice = (s until e).map { i =>
      (i, buffer.get((i - base).toInt))
    }.toArray
    Array(FramesPartition(slice))
  }

  override def createReaderFactory(): PartitionReaderFactory =
    (partition: InputPartition) => new PartitionReader[InternalRow] {
      private val frames = partition.asInstanceOf[FramesPartition].frames
      private var i = -1
      override def next(): Boolean = { i += 1; i < frames.length }
      override def get(): InternalRow = {
        val (arrival, value) = frames(i)
        InternalRow(arrival, UTF8String.fromString(value))
      }
      override def close(): Unit = ()
    }

  override def commit(end: Offset): Unit = synchronized {
    val n = end.asInstanceOf[FrameOffset].n
    trimBelow(n)
    wal.foreach(_.pruneBelow(n))
  }

  /** Drop committed frames from the in-memory buffer. If the buffer drains
    * with base still behind (restart after the WAL was fully pruned), jump
    * base forward so newly pumped frames are numbered after the committed
    * prefix rather than reusing committed offsets. One range clear: the
    * remaining frames shift once per commit, not once per committed frame. */
  private def trimBelow(n: Long): Unit = {
    val k = math.max(0L, math.min(n - base, buffer.size().toLong)).toInt
    buffer.subList(0, k).clear()
    base += k
    if (buffer.isEmpty && base < n) base = n
  }

  override def stop(): Unit = client.foreach(_.close())
}

private[sources] case class FramesPartition(frames: Array[(Long, String)])
  extends InputPartition

/** Live-frame write-ahead log: one immutable chunk file per pump that saw
  * new frames, named `chunk-<start>-<count>` where start is the absolute
  * index of its first frame (zero-padded so lexicographic order == offset
  * order) and count its frame count — so commit-time pruning can tell from
  * the name alone whether a chunk lies entirely below the committed offset.
  * Create-only — no appends — so it works on any Hadoop filesystem,
  * including object stores. On a `file:` checkpoint the chunks and the
  * marker are created through [[graft.streaming.LocalFiles.conf]], without
  * a forked `chmod` per file. */
private[sources] class FrameWal(checkpointLocation: String) {
  import org.apache.hadoop.fs.Path
  import java.nio.charset.StandardCharsets.UTF_8

  private val dir = new Path(checkpointLocation, "graft-frame-wal")
  private val fs = {
    val conf = scala.util.Try(
      org.apache.spark.sql.SparkSession.active.sessionState.newHadoopConf())
      .getOrElse(new org.apache.hadoop.conf.Configuration())
    dir.getFileSystem(graft.streaming.LocalFiles.conf(conf))
  }
  fs.mkdirs(dir)

  /** (start, count) parsed from a chunk file name. */
  private def span(name: String): (Long, Long) = {
    val parts = name.stripPrefix("chunk-").split('-')
    (parts(0).toLong, parts(1).toLong)
  }

  private def chunks(): Seq[Path] = {
    if (!fs.exists(dir)) return Seq.empty
    fs.listStatus(dir).map(_.getPath).filter(_.getName.startsWith("chunk-"))
      .sortBy(_.getName).toSeq
  }

  // One frame per line, ESCAPED: a websocket text frame may legally
  // contain raw newlines (pretty-printed JSON) or be empty — unescaped,
  // either corrupts the chunk's line count and wedges every restart.
  // The escape format is marked by a `format-v2` file, created before the
  // first chunk. Chunks without it were written unescaped by a pre-escape
  // build; they are refused, never read (running unesc on them would
  // corrupt frames containing literal backslash sequences — any JSON
  // string escape).
  private val v2Marker = new Path(dir, "format-v2")

  private def esc(s: String): String =
    s.replace("\\", "\\\\").replace("\n", "\\n").replace("\r", "\\r")
  private def unesc(s: String): String = {
    val b = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case 'n'   => b.append('\n'); i += 2
          case 'r'   => b.append('\r'); i += 2
          case '\\'  => b.append('\\'); i += 2
          case other => b.append(c).append(other); i += 2
        }
      } else { b.append(c); i += 1 }
    }
    b.toString
  }

  /** All surviving frames in offset order, plus the absolute offset of the
    * first one (after pruning the log no longer starts at 0). Verifies the
    * surviving chunks are contiguous — a gap means the WAL was corrupted
    * and replaying past it would silently misnumber frames. A SHORT final
    * chunk is a torn last append (crash mid-write): those frames were
    * never exposed through latestOffset, so the torn tail is dropped and
    * recovery proceeds — if the checkpoint somehow references them anyway,
    * planInputPartitions still refuses. Any other count mismatch throws,
    * and so do chunks without the `format-v2` marker — nothing is deleted
    * or rewritten then. */
  def readAll(): (Long, Seq[String]) = {
    val cs = chunks()
    if (cs.isEmpty) return (0L, Seq.empty)
    if (!fs.exists(v2Marker)) throw new IllegalStateException(
      s"frame WAL $dir holds chunks but no format-v2 marker: they were " +
        "written unescaped by an earlier build, which this engine does not " +
        "read. Restart from a fresh checkpoint.")
    var first = -1L
    var expected = -1L
    val frames = Seq.newBuilder[String]
    cs.zipWithIndex.foreach { case (p, ci) =>
      val (start, count) = span(p.getName)
      if (first < 0) { first = start; expected = start }
      if (start != expected)
        throw new IllegalStateException(
          s"frame WAL gap: chunk starts at $start, expected $expected ($p)")
      val in = fs.open(p)
      val content = try new String(in.readAllBytes(), UTF_8) finally in.close()
      // every complete line ends with '\n'; a torn write's partial last
      // line (no terminator) is excluded by the dropRight below
      val lines = content.split("\n", -1).toSeq.dropRight(1)
      if (lines.size < count && ci == cs.size - 1) {
        // torn final append: unexposed tail — drop it, and REWRITE the
        // chunk under its true count so the next restart's contiguity
        // check doesn't see the over-claiming name
        val recovered = lines.map(unesc)
        fs.delete(p, false)
        if (recovered.nonEmpty) append(start, recovered)
        frames ++= recovered
        expected = start + recovered.size
      } else if (lines.size != count) {
        throw new IllegalStateException(
          s"frame WAL chunk $p holds ${lines.size} frames, name says $count")
      } else {
        frames ++= lines.map(unesc)
        expected = start + count
      }
    }
    (first, frames.result())
  }

  /** Create the format-v2 marker, tolerating ONLY a concurrent creator.
    * Swallowing every IOException would let a transient FS error here,
    * with the chunk create still succeeding, leave escaped chunks with no
    * marker — a WAL of exposed frames that the next restart refuses. So
    * after any create failure the marker's existence is re-checked and a
    * genuinely missing marker aborts the append before its chunk is
    * written. */
  private def ensureV2Marker(): Unit = {
    try fs.create(v2Marker, false).close()
    catch {
      case e: java.io.IOException =>
        // FileAlreadyExistsException is FS-dependent (RawLocalFileSystem
        // throws plain IOException) — existence is the reliable signal
        if (!fs.exists(v2Marker))
          throw new java.io.IOException(
            s"could not create WAL format marker $v2Marker — aborting " +
              "before exposing escaped chunks without it", e)
    }
  }

  def append(startIdx: Long, frames: Seq[String]): Unit = {
    if (!fs.exists(v2Marker)) ensureV2Marker()
    val p = new Path(dir, f"chunk-$startIdx%020d-${frames.size}")
    val out = fs.create(p, false)
    try out.write(frames.map(esc).mkString("", "\n", "\n").getBytes(UTF_8))
    finally out.close()
  }

  /** Delete chunks whose frame range lies entirely below the committed
    * offset — keeps the WAL (and restart replay cost) bounded by the
    * uncommitted tail instead of the full frame history. */
  def pruneBelow(n: Long): Unit =
    chunks().foreach { p =>
      val (start, count) = span(p.getName)
      if (start + count <= n) fs.delete(p, false)
    }
}

/** Frame producers: push text frames into a queue, drained at planning. */
private[sources] trait FrameClient {
  def drainTo(sink: util.ArrayList[String]): Unit
  def close(): Unit
}

/** Offline replay: the whole log is available immediately. */
private[sources] class ReplayFileClient(path: String) extends FrameClient {
  private var remaining: List[String] =
    Files.readAllLines(Paths.get(path)).asScala.toList
  override def drainTo(sink: util.ArrayList[String]): Unit = {
    remaining.foreach(sink.add)
    remaining = Nil
  }
  override def close(): Unit = ()
}

/** Live JDK websocket with reconnect + exponential backoff (caps at 30 s).
  * Sends each subscribe payload after every (re)connect, mirroring the
  * reference's subscribe-on-open (real_guac_async.py:40).
  *
  * `wss://` URLs (both real endpoints were TLS — real_guac_async.py:22,
  * polo_ws_async.py:26) handshake with the platform truststore by default;
  * `truststore` = (PKCS12 path, password) pins a custom CA instead — the
  * private-gateway / test-server case. Certificate and hostname
  * verification stay ON either way. */
private[sources] class JdkWebsocketClient(url: String,
    subscribePayloads: Seq[String],
    truststore: Option[(String, String)] = None) extends FrameClient {

  private val log = org.slf4j.LoggerFactory.getLogger(classOf[JdkWebsocketClient])
  private val queue = new ConcurrentLinkedQueue[String]()
  @volatile private var closed = false
  @volatile private var ws: WebSocket = _
  private val http = {
    val b = HttpClient.newBuilder()
    truststore.foreach { case (path, pass) =>
      val ks = java.security.KeyStore.getInstance("PKCS12")
      val in = new java.io.FileInputStream(path)
      try ks.load(in, pass.toCharArray) finally in.close()
      val tmf = javax.net.ssl.TrustManagerFactory.getInstance(
        javax.net.ssl.TrustManagerFactory.getDefaultAlgorithm)
      tmf.init(ks)
      val ctx = javax.net.ssl.SSLContext.getInstance("TLS")
      ctx.init(null, tmf.getTrustManagers, null)
      b.sslContext(ctx)
    }
    b.build()
  }

  private final class Listener extends WebSocket.Listener {
    private val sb = new StringBuilder
    override def onText(w: WebSocket, data: CharSequence,
        last: Boolean): CompletionStage[_] = {
      sb.append(data)
      if (last) { queue.add(sb.toString()); sb.clear() }
      w.request(1)
      null
    }
    override def onError(w: WebSocket, error: Throwable): Unit = reconnect()
    override def onClose(w: WebSocket, statusCode: Int,
        reason: String): CompletionStage[_] = { reconnect(); null }
  }

  private def connectOnce(): Unit = {
    val w = http.newWebSocketBuilder()
      .buildAsync(URI.create(url), new Listener).join()
    // a failed subscribe must not leak the just-opened socket into a
    // retry: two live connections would both feed the queue (duplicates)
    try subscribePayloads.foreach(p => w.sendText(p, true).join())
    catch { case e: Throwable =>
      try w.abort() catch { case _: Exception => () }
      throw e
    }
    ws = w
    // close() may have run between our loop check and here — don't leave
    // a freshly subscribed socket alive past stop()
    if (closed) try w.abort() catch { case _: Exception => () }
  }

  // Shared latch: counted down on close(), so a reconnect loop mid-backoff
  // wakes and exits immediately instead of sleeping out up to 30 s.
  private val closeLatch = new CountDownLatch(1)

  private def reconnect(): Unit = if (!closed) {
    val t = new Thread(() => {
      var backoffMs = 1000L
      var ok = false
      while (!ok && !closed) {
        try { connectOnce(); ok = true }
        catch {
          case e: Exception =>
            // surface every failed attempt: a permanent error (bad URL,
            // DNS, TLS) must not look like a healthy zero-row stream
            log.warn(s"websocket connect to $url failed, " +
              s"retrying in ${backoffMs} ms: $e")
            closeLatch.await(backoffMs, TimeUnit.MILLISECONDS)
            backoffMs = math.min(backoffMs * 2, 30000L)
        }
      }
    }, "graft-ws-reconnect")
    t.setDaemon(true)
    t.start()
  }

  // initial connection uses the same retry loop
  reconnect()

  override def drainTo(sink: util.ArrayList[String]): Unit = {
    var f = queue.poll()
    while (f != null) { sink.add(f); f = queue.poll() }
  }

  override def close(): Unit = {
    closed = true
    closeLatch.countDown()
    val w = ws
    if (w != null) {
      try w.sendClose(WebSocket.NORMAL_CLOSURE, "stop")
      catch { case _: Exception => () }
      // Don't wait for the peer's Close reply — the source is shutting
      // down and its durability lives in the frame WAL + offsets, not the
      // socket; a peer that never completes the close handshake would
      // otherwise keep the connection (and its frame flow) half-open.
      w.abort()
    }
  }
}
