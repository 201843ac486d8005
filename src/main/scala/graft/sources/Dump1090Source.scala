package graft.sources

import java.io.InputStream
import java.net.{InetSocketAddress, Socket}
import java.nio.charset.StandardCharsets
import java.util
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset,
  ReadLimit, ReadMinRows, ReportsSourceMetrics, SupportsTriggerAvailableNow}
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 streaming source for a dump1090 SBS-1 TCP feed
  * (SURVEY.md §7.4 — the reference's R1–R3 as a replayable Spark source).
  *
  * Reference semantics reproduced (reference-reconstruction/
  * dump1090-stream-parser.py):
  *  - chunked socket reads of `bufferSize` bytes (P:30, P:113);
  *  - bounded connect retries: `connectAttemptLimit` attempts with
  *    `connectAttemptDelay` seconds between (P:87-99); an empty read
  *    triggers a reconnect (P:120-126);
  *  - line framing with a partial trailing line carried to the next chunk
  *    (P:131, P:166-170) — WITHOUT upstream's strip("\n") edge case that
  *    can merge two records across a chunk boundary (P:114; documented
  *    divergence, pinned by Dump1090FramerSpec).
  *
  * Unlike Spark's built-in `socket` source (dev-only, non-replayable), this
  * source buffers framed lines against a monotonically increasing line
  * offset: `planInputPartitions(start, end)` can re-serve any uncommitted
  * range, so epoch retries are exactly-once into a transactional sink.
  * `commit(end)` trims the buffer. ACROSS PROCESS RESTARTS the same holds:
  * framed lines are written through to a spill log under the per-source
  * checkpoint slot ([[LineSpillLog]]) before they become offset-visible,
  * and a new process recovers the uncommitted suffix into its buffer — so
  * an in-flight epoch checkpointed by a dead driver replays with the SAME
  * lines (the role upstream's SQLite WAL plays, P:52). Only a range below
  * the spill log's committed watermark (or a deleted checkpoint) is
  * unservable, and `planInputPartitions` fails fast rather than silently
  * serving different lines from the new socket.
  *
  * Memory is bounded: at most `maxBufferedLines` framed lines wait to be
  * issued by `latestOffset`; when that many wait the reader thread blocks,
  * which backpressures the feed via TCP flow control (the reference
  * behaves identically — it simply stops recv()ing, P:113). Issued lines
  * stay buffered until `commit`, and Spark commits a batch only while it
  * plans the next one, so up to about 2 × `maxBufferedLines` lines are
  * held: the running batch's and the waiting ones. Bounding the whole
  * buffer instead would stall for good once one batch took all of it,
  * since the parked reader could frame nothing for the batch whose
  * planning commits it. Micro-batches split into partitions of at most
  * `maxLinesPerPartition` lines so a large catch-up batch parses on all
  * cores instead of one.
  *
  * Admission: a micro-batch starts as soon as one partition's worth of
  * lines (`maxLinesPerPartition`) is framed past the last issued offset,
  * or [[Dump1090Source.MaxTriggerDelayMs]] after the previous
  * `latestOffset` returned if at least one line is waiting (Spark's
  * `ReadLimit.minRows`, the Kafka source's
  * `minOffsetsPerTrigger`/`maxTriggerDelay` rule). `latestOffset` blocks
  * on the buffer's monitor until the rule holds, so run the query with a
  * 0 ms processing-time trigger: the stream thread then sleeps instead of
  * polling, an idle feed returns about once per delay, and
  * `processAllAvailable` on an idle feed returns after up to about two
  * delays. The first call after construction, `ReadLimit.allAvailable()`
  * (Trigger.Once) and Trigger.AvailableNow never wait. Once the feed is
  * gone (connect budget spent) and every framed line is in a completed
  * micro-batch, the source stops its query, as the reference quits
  * (P:98-99).
  *
  * Metrics (`StreamingQueryProgress.sources(i).metrics`): linesFramed,
  * bytesRead, reconnects, bufferedLines, exhausted, and the batches the
  * rule admitted by rows (a full partition) vs by delay (short of one:
  * the delay ran out, the buffer filled or the feed ended).
  *
  * Usage: spark.readStream.format("graft.sources.Dump1090TableProvider")
  *          .option("host", ...).option("port", ...).load()
  */
class Dump1090TableProvider extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    Dump1090Source.Schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new Dump1090Table
}

object Dump1090Source {
  /** Raw framed lines; parse with Sbs1.parse downstream. */
  val Schema: StructType = StructType(Seq(StructField("value", StringType)))

  /** Longest wait for a partial batch: the cadence of the 1 s
    * processing-time trigger the pipeline ran on before admission moved
    * into the source.
    */
  val MaxTriggerDelayMs = 1000L
}

class Dump1090Table extends Table with SupportsRead {
  override def name(): String = "dump1090"
  override def schema(): StructType = Dump1090Source.Schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new Scan {
      override def readSchema(): StructType = Dump1090Source.Schema
      override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
        new Dump1090MicroBatchStream(
          host = options.getOrDefault("host", "localhost"),
          port = options.getInt("port", 30003),
          bufferSize = options.getInt("bufferSize", 100),
          connectAttemptLimit = options.getInt("connectAttemptLimit", 10),
          connectAttemptDelayMs =
            (options.getDouble("connectAttemptDelay", 5.14) * 1000).toLong,
          maxLinesPerPartition = options.getInt("maxLinesPerPartition", 5000),
          maxBufferedLines = options.getInt("maxBufferedLines", 1000000),
          // the per-source checkpoint slot Spark hands this stream — the
          // spill log lives inside it, so replayability travels with the
          // checkpoint (and dies with it, like the offset log)
          spillDir = Some(checkpointLocation + "/graft-lines"))
    }
}

/** Line offset (count of lines framed since stream start). */
case class LineOffset(offset: Long) extends Offset {
  override def json(): String = offset.toString
}

class Dump1090MicroBatchStream(
    host: String, port: Int, bufferSize: Int,
    connectAttemptLimit: Int, connectAttemptDelayMs: Long,
    maxLinesPerPartition: Int = 5000,
    maxBufferedLines: Int = 1000000,
    spillDir: Option[String] = None)
  extends MicroBatchStream with SupportsTriggerAvailableNow with ReportsSourceMetrics {

  // lines[i] holds line (trimOffset + i); guarded by `lock`
  private val lock = new Object
  private val lines = ArrayBuffer.empty[String]
  private var trimOffset = 0L
  @volatile private var exhausted = false
  @volatile private var stopped = false
  // set once readLoop has returned (after its feed-end flush): no line
  // will ever be framed again. Guarded by `lock` for writes.
  @volatile private var readerDone = false

  // admission state, guarded by `lock`: when the previous
  // latestOffset(start, limit) returned (None before the first call), the
  // offset whose framing wakes a blocked call, the Trigger.AvailableNow
  // target, and whether this source already asked its query to end
  private var lastReturnNs: Option[Long] = None
  private var wakeAt = Long.MaxValue
  private var availableNowEnd: Option[Long] = None
  private var endRequested = false

  // metrics: written by the reader thread (bytes, connects) or under `lock`
  @volatile private var bytesRead = 0L
  @volatile private var connects = 0L
  private var linesFramed = 0L
  private var admittedByRows = 0L
  private var admittedByDelay = 0L
  // a non-socket failure in the reader (spill-log write error, unexpected
  // exception): recorded here and rethrown from latestOffset so the QUERY
  // fails loudly — the alternatives are silently dropping data while the
  // socket reconnects (durability broken, stream "healthy") or a dead
  // reader thread with the stream ticking empty batches forever
  @volatile private var fatal: Throwable = null
  // distinguishes a spill-log IOException from a socket IOException in
  // readLoop's handlers (the former must fail the stream, not reconnect)
  @volatile private var spillFailed = false
  // owned by the reader loop; a field so stop() can close it and unblock
  // a read parked on an idle feed (Thread.interrupt cannot interrupt
  // blocking java.net.Socket I/O)
  @volatile private var sock: Socket = null

  // replay-across-restart log: recovered BEFORE the reader starts, so the
  // previous process's uncommitted lines sit below anything new from the
  // socket and global line numbering stays monotonic across restarts
  private val spill: Option[LineSpillLog] = spillDir.map(new LineSpillLog(_))
  spill.foreach { s =>
    val (base, buffered) = s.recover()
    trimOffset = base
    lines ++= buffered
  }

  // the highest offset this INSTANCE has legitimately issued: the
  // recovered spill end at construction, then every latestOffset return.
  // planInputPartitions refuses any range past it — without this, the
  // non-replayable fail-fast below held only while the new connection's
  // buffer was still SHORTER than the replayed range: a lost spill log
  // restarts trimOffset at 0, and once a busy feed frames past the
  // replayed end the old guard passed and committed NEW lines under OLD
  // offsets, exactly the silent wrong data the guard exists to prevent
  // (r18 self-review). Offsets the engine knows but this instance never
  // issued can only come from a previous process's checkpoint whose
  // replay state is gone. Guarded by `lock`.
  private var servedHighWater = trimOffset + lines.length

  /** Framed lines no latestOffset has issued yet: what `maxBufferedLines`
    * bounds. Called with `lock` held.
    */
  private def unissued: Long = trimOffset + lines.length - servedHighWater

  private val reader = new Thread("dump1090-reader") {
    setDaemon(true)
    override def run(): Unit = readLoop()
  }
  reader.start()

  /** Length of a trailing INCOMPLETE UTF-8 sequence (0 if none, or if the
    * tail is malformed — malformed bytes decode to U+FFFD either way).
    * A multi-byte character split across two socket reads must not be
    * decoded per-chunk: each half is invalid alone and would corrupt to
    * replacement characters that then persist into the spill log.
    */
  private def incompleteUtf8Suffix(b: Array[Byte]): Int = {
    var p = b.length - 1
    var back = 0
    while (p >= 0 && back < 3 && (b(p) & 0xC0) == 0x80) { p -= 1; back += 1 }
    if (p < 0 || (b(p) & 0xC0) == 0x80) return 0
    val lead = b(p) & 0xFF
    val expected =
      if (lead < 0x80) 1
      else if ((lead & 0xE0) == 0xC0) 2
      else if ((lead & 0xF0) == 0xE0) 3
      else if ((lead & 0xF8) == 0xF0) 4
      else 1
    val have = b.length - p
    if (have < expected) have else 0
  }

  /** R1–R3: connect (with retry), chunked recv, frame, carry partials. */
  private def readLoop(): Unit = {
    val partial = new StringBuilder
    var attempts = 0
    var in: InputStream = null
    var carry = Array.empty[Byte] // held-back incomplete UTF-8 tail
    // a dropped connection's held-back tail can never complete — the next
    // connection's bytes are an unrelated sequence, and prepending stale
    // bytes would fuse them into one corrupted decoded line. Decode it to
    // its replacement chars NOW (same treatment as the feed-end flush),
    // before any reconnect.
    def flushCarry(partial: StringBuilder): Unit = if (carry.nonEmpty) {
      partial.append(new String(carry, StandardCharsets.UTF_8))
      carry = Array.empty
    }
    // ... and a disconnect also ENDS any in-flight record: the next
    // connection's first line is a NEW message, and text-level
    // concatenation would corrupt it with the truncated tail of the old
    // one. Frame the (possibly truncated) partial as its own record,
    // TAGGED with Sbs1.TruncationTag — arity alone is a leaky quarantine
    // (a cut mid-last-field can leave exactly 22 fields and a silently
    // corrupted value; the reference discards the partial outright) — so
    // each connection starts clean and a truncation can never pass as a
    // valid message. frame() can touch the spill log; a durability
    // failure here must fail the stream (not kill the reader thread
    // silently), including when called from inside the IOException
    // handler where the outer catch no longer applies.
    def endRecord(partial: StringBuilder): Unit = {
      flushCarry(partial)
      if (partial.nonEmpty) {
        partial.append(Sbs1.TruncationTag)
        partial.append('\n')
        try frame(partial)
        catch {
          case t: Throwable =>
            if (!stopped) fatal = t
            exhausted = true
            lock.synchronized(lock.notifyAll())
        }
      }
    }
    // EOF and a socket error end a connection alike. Both share the retry
    // budget AND the backoff: a server that accepts then immediately
    // closes would otherwise busy-spin connect/EOF forever (only
    // successful DATA resets the budget). endRecord may have FAILED the
    // stream (spill-log write); then the backoff is skipped so the fatal
    // surfaces at once.
    def disconnect(): Unit = {
      try { if (sock != null) sock.close() } catch { case _: Throwable => }
      in = null
      endRecord(partial)
      if (exhausted) () // fatal from endRecord: fall through to the loop exit
      else if (attempts >= connectAttemptLimit) {
        exhausted = true // P:98-99 quit() after retry budget
      } else {
        try Thread.sleep(connectAttemptDelayMs)
        catch { case _: InterruptedException => exhausted = true }
      }
    }
    val buf = new Array[Byte](math.max(bufferSize, 1))
    while (!exhausted) {
      try {
        if (in == null) {
          attempts += 1
          connects += 1
          sock = new Socket()
          sock.connect(new InetSocketAddress(host, port), 10000)
          in = sock.getInputStream
        }
        val n = in.read(buf)
        if (n < 0) disconnect() // EOF — reference reconnects on empty read (P:120-126)
        else if (n > 0) {
          attempts = 0
          bytesRead += n
          val data =
            if (carry.isEmpty) java.util.Arrays.copyOfRange(buf, 0, n)
            else carry ++ buf.take(n)
          val keep = incompleteUtf8Suffix(data)
          partial.append(
            new String(data, 0, data.length - keep, StandardCharsets.UTF_8))
          carry = if (keep == 0) Array.empty else data.takeRight(keep)
          frame(partial)
        }
      } catch {
        case _: InterruptedException => exhausted = true
        case _: java.io.IOException if !stopped && !spillFailed => disconnect()
        case t: Throwable =>
          // spill-log failure, or anything unexpected: NOT a socket
          // problem — reconnecting would silently drop framed data while
          // durability is broken, and letting the thread die would stall
          // the query forever. Record and fail the stream instead.
          if (!stopped) fatal = t
          exhausted = true
          lock.synchronized(lock.notifyAll())
      }
    }
    // a held-back byte tail at feed end can never complete — decode it
    // (replacement chars for the malformed remainder) before the flush
    if (carry.nonEmpty) partial.append(new String(carry, StandardCharsets.UTF_8))
    // flush a trailing unterminated line at feed end (not on stop(), whose
    // spill log is already closed), then wake a latestOffset waiting for
    // lines that will now never come
    lock.synchronized {
      if (partial.nonEmpty && !stopped) {
        try {
          spill.foreach(_.append(Seq(partial.toString)))
          lines += partial.toString
          linesFramed += 1
        } catch { case NonFatal(t) => fatal = t }
      }
      readerDone = true
      lock.notifyAll()
    }
  }

  /** Split out complete lines; keep the trailing partial (correct R3 —
    * a chunk boundary can never merge two records). Lines are spilled to
    * the replay log BEFORE joining the visible buffer (same monitor as
    * `latestOffset`), so any offset range a checkpoint can name is already
    * durable — the invariant that makes restarts exactly-once.
    */
  private def frame(partial: StringBuilder): Unit = {
    var idx = partial.indexOf("\n")
    if (idx < 0) return
    val batch = ArrayBuffer.empty[String]
    while (idx >= 0) {
      val line = partial.substring(0, idx).stripSuffix("\r")
      if (line.nonEmpty) batch += line
      partial.delete(0, idx + 1)
      idx = partial.indexOf("\n")
    }
    if (batch.isEmpty) return
    // bounded buffer, admitted slice-wise (a chunk can frame more lines
    // than the whole bound): park the reader until a latestOffset issues
    // the waiting lines; the un-recv'd bytes back up in the kernel socket
    // buffer (TCP flow control), which is how the feed is backpressured.
    var i = 0
    while (i < batch.length) {
      lock.synchronized {
        while (unissued >= maxBufferedLines && !exhausted) lock.wait(100)
        if (exhausted) return
        val slice = batch.slice(i, i + (maxBufferedLines - unissued).toInt)
        // durable before visible; a spill failure is flagged so readLoop
        // fails the stream instead of treating it as a socket drop
        try spill.foreach(_.append(slice))
        catch { case t: Throwable => spillFailed = true; throw t }
        lines ++= slice
        linesFramed += slice.length
        i += slice.length
        // wake a blocked latestOffset only once its threshold is crossed
        // (or the bound is reached, so no more can arrive before a batch)
        if (trimOffset + lines.length >= wakeAt || unissued >= maxBufferedLines)
          lock.notifyAll()
      }
    }
  }

  override def initialOffset(): Offset = LineOffset(0L)
  override def deserializeOffset(json: String): Offset = LineOffset(json.toLong)

  /** A recorded reader failure fails the QUERY at the next offset poll —
    * never a silent stall or silent data loss.
    */
  private def checkFatal(): Unit = {
    val t = fatal
    if (t != null)
      throw new IllegalStateException(
        "dump1090 reader failed (spill log or unexpected error) — " +
        "failing the stream rather than dropping data silently", t)
  }

  override def latestOffset(): Offset = lock.synchronized {
    checkFatal()
    servedHighWater = math.max(servedHighWater, trimOffset + lines.length)
    lock.notifyAll() // a reader parked on the bound may frame again
    LineOffset(trimOffset + lines.length)
  }

  /** Admission: a batch starts once a full partition of lines is
    * framed, or [[Dump1090Source.MaxTriggerDelayMs]] after the previous
    * range was issued with at least one line waiting (the
    * minOffsetsPerTrigger/maxTriggerDelay analog). A batch takes every
    * framed line; `maxLinesPerPartition` splits a large one across cores.
    */
  override def getDefaultReadLimit: ReadLimit =
    ReadLimit.minRows(maxLinesPerPartition.toLong, Dump1090Source.MaxTriggerDelayMs)

  /** Trigger.AvailableNow: serve what is framed now, then end the query. */
  override def prepareForTriggerAvailableNow(): Unit = lock.synchronized {
    availableNowEnd = Some(trimOffset + lines.length)
  }

  /** Blocks on `lock` until the `minRows` rule admits a batch after `s`,
    * the source stops, or the reader fails. Called with `lock` held.
    */
  private def awaitAdmission(s: Long, rule: ReadMinRows, sinceNs: Long): Unit = {
    def pending = trimOffset + lines.length - s
    // a full bound or an ended feed will frame nothing more before this
    // batch is issued, so waiting longer cannot grow it (with nothing
    // pending, returning at once would only make Spark poll)
    def ready = pending >= rule.minRows ||
      (pending > 0 && (unissued >= maxBufferedLines || readerDone))
    val deadline = sinceNs + rule.maxTriggerDelayMs * 1000000L
    wakeAt = s + rule.minRows
    try {
      var left = deadline - System.nanoTime()
      while (!ready && !stopped && fatal == null && left > 0) {
        lock.wait((left + 999999L) / 1000000L)
        left = deadline - System.nanoTime()
      }
    } finally wakeAt = Long.MaxValue
    if (pending >= rule.minRows) admittedByRows += 1
    else if (pending > 0) admittedByDelay += 1
  }

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    checkFatal()
    val s = start.asInstanceOf[LineOffset].offset
    lock.synchronized {
      // a start offset this instance never issued is a previous
      // process's checkpoint with its replay state (spill log) gone —
      // advancing from it would silently SKIP the new connection's
      // first `start` lines (they'd hide below the foreign watermark).
      // Same fail-fast contract as planInputPartitions.
      if (s > servedHighWater)
        throw new IllegalStateException(
          s"non-replayable start offset $s: this process has issued " +
          s"offsets only up to $servedHighWater (recovered spill log + " +
          "lines framed this session). The checkpoint predates this " +
          "process and its spill log is missing — resume with a fresh " +
          "checkpoint (see class doc).")
      // the feed is gone and every line it framed is in a completed
      // batch: end the query instead of serving empty batches forever
      if (readerDone && availableNowEnd.isEmpty && s == trimOffset + lines.length &&
          !endRequested) {
        endRequested = true
        endQuery()
      } else if (availableNowEnd.isEmpty) {
        // the first call returns at once, so batch 0 is never delayed
        limit match {
          case rule: ReadMinRows => lastReturnNs.foreach(awaitAdmission(s, rule, _))
          case _ => // allAvailable (Trigger.Once) never waits
        }
      }
      checkFatal()
      val avail = availableNowEnd.getOrElse(trimOffset + lines.length)
      val out = math.max(avail, s)
      servedHighWater = math.max(servedHighWater, out)
      lock.notifyAll() // a reader parked on the bound may frame again
      lastReturnNs = Some(System.nanoTime())
      LineOffset(out)
    }
  }

  /** Stops the query whose stream thread is calling. `stop()` joins that
    * thread, so it runs on its own; the stream thread's next wait is
    * interrupted as a normal stop.
    */
  private def endQuery(): Unit =
    GraftSqlBridge.currentStreamingQuery().foreach { q =>
      val t = new Thread(() => q.stop(), "dump1090-feed-ended")
      t.setDaemon(true)
      t.start()
    }

  override def metrics(latestConsumedOffset: util.Optional[Offset]): util.Map[String, String] =
    lock.synchronized {
      Map(
        "linesFramed" -> linesFramed,
        "bytesRead" -> bytesRead,
        "reconnects" -> math.max(0L, connects - 1),
        "bufferedLines" -> lines.length,
        "exhausted" -> exhausted,
        "batchesAdmittedByRows" -> admittedByRows,
        "batchesAdmittedByDelay" -> admittedByDelay
      ).map { case (k, v) => k -> v.toString }.asJava
    }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[LineOffset].offset
    val e = end.asInstanceOf[LineOffset].offset
    val slice = lock.synchronized {
      // fail fast on a range neither buffered nor recovered from the
      // spill log (e.g. source-committed in a previous process, or a
      // checkpoint whose spill log was deleted): silently serving
      // different lines from the new socket would be wrong data.
      // the servedHighWater bound makes the fail-fast timing-independent:
      // offsets past it were never issued by this instance, however long
      // the new connection's buffer has grown by the time replay plans
      if (s < trimOffset || e > trimOffset + lines.length ||
          e > servedHighWater)
        throw new IllegalStateException(
          s"non-replayable offset range [$s, $e): this process serves " +
          s"[$trimOffset, ${trimOffset + lines.length}) and has issued " +
          s"offsets up to $servedHighWater " +
          "(buffer + recovered spill log). The range is below the " +
          "committed watermark or the checkpoint's graft-lines spill log " +
          "is missing — resume with a fresh checkpoint (see class doc).")
      lines.slice((s - trimOffset).toInt, (e - trimOffset).toInt).toArray
    }
    // split large catch-up batches so parsing uses every core
    if (slice.isEmpty) Array(Dump1090Partition(Array.empty))
    else slice.grouped(maxLinesPerPartition)
      .map(g => Dump1090Partition(g): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    (partition: InputPartition) => {
      val rows = partition.asInstanceOf[Dump1090Partition].rows
      new PartitionReader[InternalRow] {
        private var i = -1
        override def next(): Boolean = { i += 1; i < rows.length }
        override def get(): InternalRow =
          InternalRow(UTF8String.fromString(rows(i)))
        override def close(): Unit = ()
      }
    }

  /** Epoch committed — drop replay state below `end` (WAL trim, R9: the
    * in-memory window and the spill log's covered files).
    */
  override def commit(end: Offset): Unit = lock.synchronized {
    val e = end.asInstanceOf[LineOffset].offset
    val drop = (e - trimOffset).toInt
    if (drop > 0) { lines.dropInPlace(drop); trimOffset = e }
    spill.foreach(_.commit(e))
  }

  override def stop(): Unit = {
    stopped = true
    exhausted = true
    lock.synchronized {
      spill.foreach(_.close())
      lock.notifyAll()
    }
    // interrupt() cannot unblock a blocking socket read — closing the
    // socket can (the read throws, the loop sees exhausted and exits);
    // without this an idle feed leaks the reader thread + connection per
    // restart cycle
    try { val s = sock; if (s != null) s.close() } catch { case _: Throwable => }
    reader.interrupt()
  }

  /** Test hook: has the retry budget been exhausted (P:98-99)? */
  def isExhausted: Boolean = exhausted
}

case class Dump1090Partition(rows: Array[String]) extends InputPartition
