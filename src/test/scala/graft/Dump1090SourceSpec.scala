package graft

import java.io.OutputStream
import java.net.ServerSocket
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** End-to-end test of the custom DSv2 dump1090 source (SURVEY.md §7.4):
  * a local TCP server replays SBS-1 lines in deliberately awkward chunks
  * (mid-line splits, CRLF, multi-line chunks) and the streaming query must
  * recover every record exactly once.
  */
class Dump1090SourceSpec extends SparkSpec {

  private val lines = (0 until 50).map { i =>
    f"MSG,3,111,$i%05d,HEX$i%03d,$i,2026/08/12,14:21:$i%02.0f.000,2026/08/12,14:21:$i%02.0f.100,,${30000 + i},,,42.0,-87.0,,,0,0,0,0"
  }

  /** Serve the payload in fixed-size chunks then close (EOF). */
  private def serve(payload: Array[Byte], chunk: Int): ServerSocket = {
    val server = new ServerSocket(0)
    new Thread(() => {
      try {
        val sock = server.accept()
        val out: OutputStream = sock.getOutputStream
        payload.grouped(chunk).foreach { c => out.write(c); out.flush(); Thread.sleep(2) }
        out.flush(); sock.close()
      } catch { case _: Throwable => }
    }, "sbs1-test-server").start()
    server
  }

  test("socket ingest frames chunk-split lines and never merges records") {
    val payload = lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8)
    val server = serve(payload, chunk = 37) // prime size → splits mid-line
    val out = java.nio.file.Files.createTempDirectory("d1090out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("d1090ckpt").toString
    try {
      val stream = spark.readStream
        .format("graft.sources.Dump1090TableProvider")
        .option("host", "localhost")
        .option("port", server.getLocalPort)
        .option("bufferSize", 100)          // reference default (P:30)
        .option("connectAttemptLimit", 0)   // EOF ⇒ exhausted (test mode)
        .load()
      val q = stream.writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(Trigger.ProcessingTime("100 milliseconds"))
        .start()
      // wait until all lines surfaced in the sink
      val deadline = System.currentTimeMillis() + 30000
      def sunk(): Long =
        try spark.read.parquet(out).count() catch { case _: Throwable => 0L }
      while (sunk() < lines.length && System.currentTimeMillis() < deadline)
        Thread.sleep(200)
      q.stop()
      val got = spark.read.parquet(out).select("value").collect().map(_.getString(0))
      assert(got.length == lines.length, s"expected ${lines.length} rows, got ${got.length}")
      assert(got.sorted.toSeq == lines.sorted)
    } finally server.close()
  }

  test("parsed stream yields typed squitters rows") {
    val payload = lines.take(10).mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8)
    val server = serve(payload, chunk = 64)
    try {
      val df = graft.streaming.StreamingOps.ingestSocket(
        spark, "localhost", server.getLocalPort,
        Map("connectAttemptLimit" -> "0"))
      val q = df.writeStream.format("memory").queryName("squitters_mem")
        .trigger(Trigger.ProcessingTime("100 milliseconds"))
        .start()
      val deadline = System.currentTimeMillis() + 30000
      while (spark.table("squitters_mem").count() < 10 &&
             System.currentTimeMillis() < deadline) Thread.sleep(200)
      q.stop()
      val rows = spark.table("squitters_mem")
      assert(rows.count() == 10)
      assert(rows.filter(col("altitude") >= 30000).count() == 10)
      assert(rows.filter(col("parsed_time").isNotNull).count() == 10)
    } finally server.close()
  }

  test("a large catch-up batch splits into multiple input partitions") {
    val payload = lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8)
    val server = serve(payload, chunk = 512)
    try {
      val stream = new graft.sources.Dump1090MicroBatchStream(
        "localhost", server.getLocalPort, 100,
        connectAttemptLimit = 0, connectAttemptDelayMs = 50,
        maxLinesPerPartition = 20)
      val deadline = System.currentTimeMillis() + 10000
      def latest() = stream.latestOffset()
        .asInstanceOf[graft.sources.LineOffset].offset
      while (latest() < lines.length && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      assert(latest() == lines.length)
      val parts = stream.planInputPartitions(
        graft.sources.LineOffset(0), graft.sources.LineOffset(latest()))
      assert(parts.length == 3, s"expected ceil(50/20)=3, got ${parts.length}")
      stream.stop()
    } finally server.close()
  }

  test("a multi-byte UTF-8 char split across socket chunks decodes intact") {
    // chunk=1 forces EVERY multi-byte sequence to straddle a read boundary;
    // per-chunk decoding would corrupt each into replacement characters
    val utf8Lines = Seq("MSG,3,héllo,ü", "MSG,4,日本,語", "MSG,5,plain")
    val payload = utf8Lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8)
    val server = serve(payload, chunk = 1)
    try {
      val stream = new graft.sources.Dump1090MicroBatchStream(
        "localhost", server.getLocalPort, 1,
        connectAttemptLimit = 0, connectAttemptDelayMs = 50)
      val deadline = System.currentTimeMillis() + 15000
      def latest() = stream.latestOffset()
        .asInstanceOf[graft.sources.LineOffset].offset
      while (latest() < utf8Lines.length && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      assert(latest() == utf8Lines.length)
      val got = stream.planInputPartitions(
          graft.sources.LineOffset(0), graft.sources.LineOffset(latest()))
        .flatMap(_.asInstanceOf[graft.sources.Dump1090Partition].rows)
      assert(got.toSeq == utf8Lines, got.mkString("|"))
      stream.stop()
    } finally server.close()
  }

  test("a dropped connection's incomplete UTF-8 tail never fuses with the " +
       "next connection's bytes, and the truncated record ends at EOF") {
    // conn 1 ends mid-character (first 2 bytes of 3-byte 日); conn 2 opens
    // with exactly the byte that would COMPLETE it. Carrying the stale
    // tail across the reconnect would decode a silently valid 日 out of
    // two unrelated connections; instead the tail flushes to replacement
    // chars at EOF AND the truncated partial is framed as its own record,
    // so conn 2's first message ("�X" — its lone continuation byte decodes
    // to a replacement char of its own) arrives as a clean separate line.
    val ch = "日".getBytes(StandardCharsets.UTF_8)
    val p1 = "LINE1\n".getBytes(StandardCharsets.UTF_8) ++ ch.take(2)
    val p2 = ch.drop(2) ++ "X\n".getBytes(StandardCharsets.UTF_8)
    val server = new ServerSocket(0)
    new Thread(() => {
      try Seq(p1, p2).foreach { p =>
        val sock = server.accept()
        sock.getOutputStream.write(p); sock.getOutputStream.flush()
        Thread.sleep(20); sock.close()
      } catch { case _: Throwable => }
    }, "sbs1-reconnect-server").start()
    try {
      val stream = new graft.sources.Dump1090MicroBatchStream(
        "localhost", server.getLocalPort, 100,
        connectAttemptLimit = 2, connectAttemptDelayMs = 50)
      val deadline = System.currentTimeMillis() + 15000
      def latest() = stream.latestOffset()
        .asInstanceOf[graft.sources.LineOffset].offset
      while (latest() < 3 && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      assert(latest() == 3)
      val got = stream.planInputPartitions(
          graft.sources.LineOffset(0), graft.sources.LineOffset(latest()))
        .flatMap(_.asInstanceOf[graft.sources.Dump1090Partition].rows)
      assert(got.head == "LINE1")
      // record 2: conn 1's truncated tail alone — replacement chars plus
      // the truncation tag (the unforgeable "this record was cut by a
      // disconnect" marker the validity predicate rejects on)
      assert(!got(1).contains("日"), s"stale bytes fused across reconnect: ${got(1)}")
      assert(got(1).last == graft.sources.Sbs1.TruncationTag,
        s"truncated record not tagged: ${got(1)}")
      assert(got(1).dropRight(1).forall(_ == '�'),
        s"truncated record not isolated: ${got(1)}")
      // record 3: conn 2's first message, uncontaminated by conn 1
      assert(got(2).endsWith("X") && !got(2).contains("日"), got(2))
      stream.stop()
    } finally server.close()
  }

  test("buffer is bounded: reader parks at maxBufferedLines until commit") {
    val payload = lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8)
    val server = serve(payload, chunk = 512)
    try {
      val stream = new graft.sources.Dump1090MicroBatchStream(
        "localhost", server.getLocalPort, 100,
        connectAttemptLimit = 0, connectAttemptDelayMs = 50,
        maxBufferedLines = 10)
      def latest() = stream.latestOffset()
        .asInstanceOf[graft.sources.LineOffset].offset
      var committed = 0L
      val deadline = System.currentTimeMillis() + 15000
      while (committed < lines.length && System.currentTimeMillis() < deadline) {
        val l = latest()
        assert(l - committed <= 10, s"buffer exceeded bound: ${l - committed}")
        if (l > committed) {
          // consume-then-commit drains the bound and wakes the reader
          stream.planInputPartitions(
            graft.sources.LineOffset(committed), graft.sources.LineOffset(l))
          stream.commit(graft.sources.LineOffset(l))
          committed = l
        } else Thread.sleep(20)
      }
      assert(committed == lines.length,
        s"only $committed of ${lines.length} lines drained through the bound")
      stream.stop()
    } finally server.close()
  }

  test("maxLinesPerTrigger bounds each micro-batch (admission control)") {
    import org.apache.spark.sql.connector.read.streaming.{CompositeReadLimit, ReadLimit}
    val payload = lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8)
    val server = serve(payload, chunk = 512)
    try {
      val stream = new graft.sources.Dump1090MicroBatchStream(
        "localhost", server.getLocalPort, 100,
        connectAttemptLimit = 0, connectAttemptDelayMs = 50,
        maxLinesPerTrigger = Some(10L))
      // the cap rides inside the composite admission limit (minRows + maxRows)
      assert(stream.getDefaultReadLimit.asInstanceOf[CompositeReadLimit]
        .getReadLimits.contains(ReadLimit.maxRows(10)))
      def latest() = stream.latestOffset()
        .asInstanceOf[graft.sources.LineOffset].offset
      val deadline = System.currentTimeMillis() + 10000
      while (latest() < lines.length && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      // a 50-line backlog drains in capped epochs, not one giant batch
      assert(stream.latestOffset(graft.sources.LineOffset(0),
        ReadLimit.maxRows(10)) == graft.sources.LineOffset(10))
      assert(stream.latestOffset(graft.sources.LineOffset(10),
        ReadLimit.maxRows(10)) == graft.sources.LineOffset(20))
      stream.stop()
    } finally server.close()
  }

  test("offsets from a previous process fail fast instead of serving wrong data") {
    val dead = { val s = new ServerSocket(0); val p = s.getLocalPort; s.close(); p }
    val stream = new graft.sources.Dump1090MicroBatchStream(
      "localhost", dead, 100, connectAttemptLimit = 0, connectAttemptDelayMs = 50)
    // simulate recovery: the checkpoint says epoch [5,10) but this fresh
    // process never buffered those lines
    val e = intercept[IllegalStateException] {
      stream.planInputPartitions(
        graft.sources.LineOffset(5), graft.sources.LineOffset(10))
    }
    assert(e.getMessage.contains("non-replayable"), e.getMessage)
    stream.stop()
  }

  test("spill log replays a dead process's uncommitted epochs across restart") {
    val payload = lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8)
    val server = serve(payload, chunk = 256)
    val spillDir = java.nio.file.Files.createTempDirectory("spill")
      .toString + "/graft-lines"
    def deadPort = {
      val s = new ServerSocket(0); val p = s.getLocalPort; s.close(); p
    }
    try {
      // process A: buffers all 50 lines, source-commits [0,20); epoch
      // [20,50) is checkpoint-referenced but NOT source-committed when A
      // dies
      val a = new graft.sources.Dump1090MicroBatchStream(
        "localhost", server.getLocalPort, 100,
        connectAttemptLimit = 0, connectAttemptDelayMs = 50,
        spillDir = Some(spillDir))
      def latest() = a.latestOffset()
        .asInstanceOf[graft.sources.LineOffset].offset
      val deadline = System.currentTimeMillis() + 10000
      while (latest() < lines.length && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      assert(latest() == lines.length)
      val served = a.planInputPartitions(
          graft.sources.LineOffset(20), graft.sources.LineOffset(50))
        .flatMap(_.asInstanceOf[graft.sources.Dump1090Partition].rows).toSeq
      a.commit(graft.sources.LineOffset(20))
      a.stop()

      // process B: same checkpoint slot, dead socket — the in-flight range
      // must replay with the SAME lines, from the spill log alone
      val b = new graft.sources.Dump1090MicroBatchStream(
        "localhost", deadPort, 100,
        connectAttemptLimit = 0, connectAttemptDelayMs = 50,
        spillDir = Some(spillDir))
      val replayed = b.planInputPartitions(
          graft.sources.LineOffset(20), graft.sources.LineOffset(50))
        .flatMap(_.asInstanceOf[graft.sources.Dump1090Partition].rows).toSeq
      assert(replayed == served)
      assert(replayed == lines.drop(20))
      // below the committed watermark still fails fast — that data is gone
      // by contract, never silently re-served
      val e = intercept[IllegalStateException] {
        b.planInputPartitions(
          graft.sources.LineOffset(0), graft.sources.LineOffset(20))
      }
      assert(e.getMessage.contains("non-replayable"), e.getMessage)
      b.commit(graft.sources.LineOffset(50))
      b.stop()

      // process C: everything committed — recovery lands exactly at the
      // watermark with an empty buffer (no stale files, no offset reset)
      val c = new graft.sources.Dump1090MicroBatchStream(
        "localhost", deadPort, 100,
        connectAttemptLimit = 0, connectAttemptDelayMs = 50,
        spillDir = Some(spillDir))
      assert(c.latestOffset()
        .asInstanceOf[graft.sources.LineOffset].offset == 50)
      c.stop()
    } finally server.close()
  }

  test("spill log: rolls files, trims on commit, and drops a torn tail") {
    val dir = java.nio.file.Files.createTempDirectory("spilllog").toString
    val log = new graft.sources.LineSpillLog(dir, rollEvery = 4)
    // per-line appends (the socket feed's shape) → files roll at 4 lines:
    // [0,4) [4,8) [8,10)
    (0 until 10).foreach(i => log.append(Seq(s"line$i")))
    log.commit(5)                                   // [0,4) fully covered → gone
    log.close()
    val names = new java.io.File(dir).list().filter(_.endsWith(".log")).sorted.toSeq
    assert(!names.contains("00000000000000000000.log"), names)
    assert(names.size == 2, names)
    // simulate a crash tearing the last write: garbage with no newline
    val active = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".log")).maxBy(_.getName)
    java.nio.file.Files.write(active.toPath, "torn-fragm".getBytes,
      java.nio.file.StandardOpenOption.APPEND)
    // a new process recovers only the uncommitted, fully-terminated lines
    val (base, recovered) = new graft.sources.LineSpillLog(dir).recover()
    assert(base == 5)
    assert(recovered.toSeq == (5 until 10).map(i => s"line$i"), recovered)
  }

  test("spill log: a crash inside commit's rename window never loses replay data") {
    def freshLog(lines: Int): String = {
      val dir = java.nio.file.Files.createTempDirectory("spillwm").toString
      val log = new graft.sources.LineSpillLog(dir, rollEvery = 4)
      (0 until lines).foreach(i => log.append(Seq(s"line$i")))
      log.commit(5) // watermark 5; files [0,4) dropped, [4,8) [8,10) live
      log.close()
      dir
    }
    def write(dir: String, name: String, content: String): Unit =
      java.nio.file.Files.write(new java.io.File(dir, name).toPath,
        content.getBytes)
    def delete(dir: String, name: String): Unit =
      new java.io.File(dir, name).delete()

    // window 1: tmp fully written, `committed` replaced by nothing yet
    // (non-atomic platform rename tore delete-from-rename). The tmp marker
    // holds the engine-committed watermark → honored, files [4,8) dropped.
    val d1 = freshLog(10)
    delete(d1, "committed")
    write(d1, "committed.tmp", "8")
    val (b1, r1) = new graft.sources.LineSpillLog(d1).recover()
    assert(b1 == 8)
    assert(r1.toSeq == Seq("line8", "line9"), r1)

    // window 2: NO marker survived at all. The old behavior read
    // watermark 0, saw file 00000000000000000004.log's start as a gap and
    // deleted every log file — bricking the checkpoint. Now the watermark
    // is inferred from the lowest surviving file and everything on disk
    // replays (the sink's claims dedupe the widened range).
    val d2 = freshLog(10)
    delete(d2, "committed")
    val (b2, r2) = new graft.sources.LineSpillLog(d2).recover()
    assert(b2 == 4)
    assert(r2.toSeq == (4 until 10).map(i => s"line$i"), r2)

    // window 3: `committed` itself torn mid-write (empty) and a whole tmp
    // exists — torn marker reads as absent, tmp wins
    val d3 = freshLog(10)
    write(d3, "committed", "")
    write(d3, "committed.tmp", "8")
    val (b3, r3) = new graft.sources.LineSpillLog(d3).recover()
    assert(b3 == 8)
    assert(r3.toSeq == Seq("line8", "line9"), r3)
  }

  test("a LOST spill log fails replay fast even after the new " +
       "connection outgrows the replayed range (r18 self-review)") {
    val payload = lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8)
    val serverA = serve(payload, chunk = 256)
    val spillDir = java.nio.file.Files.createTempDirectory("spill-lost")
      .toString + "/graft-lines"
    try {
      // process A: frames all 50 lines, plans epoch [20,50), dies
      val a = new graft.sources.Dump1090MicroBatchStream(
        "localhost", serverA.getLocalPort, 100,
        connectAttemptLimit = 0, connectAttemptDelayMs = 50,
        spillDir = Some(spillDir))
      def latestA() = a.latestOffset()
        .asInstanceOf[graft.sources.LineOffset].offset
      val deadline = System.currentTimeMillis() + 10000
      while (latestA() < lines.length && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      assert(latestA() == lines.length)
      a.planInputPartitions(
        graft.sources.LineOffset(20), graft.sources.LineOffset(50))
      a.stop()

      // the spill log is DELETED: the replay state is gone
      val dir = new java.io.File(spillDir)
      Option(dir.listFiles).foreach(_.foreach(_.delete()))
      assert(dir.delete() || !dir.exists())

      // process B: same checkpoint slot, LIVE feed — by the time replay
      // plans, the NEW connection has framed past the replayed range, so
      // the buffer-length guard alone would serve NEW lines under OLD
      // offsets. The issued-offset high-water must fail it regardless.
      val serverB = serve(payload, chunk = 256)
      val b = new graft.sources.Dump1090MicroBatchStream(
        "localhost", serverB.getLocalPort, 100,
        connectAttemptLimit = 0, connectAttemptDelayMs = 50,
        spillDir = Some(spillDir))
      try {
        // wait through the SPILL LOG, not latestOffset: the engine's
        // replay call precedes any offset poll on restart, and polling
        // offsets here would legitimately issue them
        def spilled(): Long = {
          val fs = Option(new java.io.File(spillDir).listFiles)
            .getOrElse(Array.empty[java.io.File])
            .filter(_.getName.endsWith(".log"))
          fs.map(f => new String(
            java.nio.file.Files.readAllBytes(f.toPath),
            StandardCharsets.UTF_8).count(_ == '\n').toLong).sum
        }
        val dl2 = System.currentTimeMillis() + 10000
        while (spilled() < lines.length &&
               System.currentTimeMillis() < dl2)
          Thread.sleep(50)
        assert(spilled() >= 50, s"feed only framed ${spilled()} lines")
        val e = intercept[IllegalStateException] {
          b.planInputPartitions(
            graft.sources.LineOffset(20), graft.sources.LineOffset(50))
        }
        assert(e.getMessage.contains("non-replayable"), e.getMessage)
      } finally { b.stop(); serverB.close() }
    } finally serverA.close()
  }

  test("connect retry budget exhausts against a dead port (R2, P:98-99)") {
    val dead = { val s = new ServerSocket(0); val p = s.getLocalPort; s.close(); p }
    val stream = new graft.sources.Dump1090MicroBatchStream(
      "localhost", dead, 100, connectAttemptLimit = 2, connectAttemptDelayMs = 50)
    val deadline = System.currentTimeMillis() + 10000
    while (!stream.isExhausted && System.currentTimeMillis() < deadline)
      Thread.sleep(50)
    assert(stream.isExhausted)
    stream.stop()
  }

  /** A feed that stays open and writes whatever the spec hands it. */
  private class OpenFeed extends AutoCloseable {
    val server = new ServerSocket(0)
    private val queue = new java.util.concurrent.LinkedBlockingQueue[String]()
    private val writer = new Thread(() => {
      try {
        val sock = server.accept()
        try {
          val out = sock.getOutputStream
          while (true) {
            out.write(queue.take().getBytes(StandardCharsets.UTF_8)); out.flush()
          }
        } finally sock.close()
      } catch { case _: Throwable => }
    }, "sbs1-open-feed")
    writer.setDaemon(true)
    writer.start()
    def port: Int = server.getLocalPort
    def send(ls: Seq[String]): Unit = queue.put(ls.mkString("", "\n", "\n"))
    override def close(): Unit = { writer.interrupt(); server.close() }
  }

  private def offsetOf(o: org.apache.spark.sql.connector.read.streaming.Offset): Long =
    o.asInstanceOf[graft.sources.LineOffset].offset

  /** (result, elapsed ms) */
  private def timed[T](body: => T): (T, Long) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1000000L)
  }

  test("admission: the first call returns at once, a full partition starts a " +
       "batch before the delay, a trickle waits for it, an idle feed returns " +
       "once per delay, and stop() wakes a blocked call") {
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    val feed = new OpenFeed
    val stream = new graft.sources.Dump1090MicroBatchStream(
      "localhost", feed.port, 100,
      connectAttemptLimit = 0, connectAttemptDelayMs = 50,
      maxLinesPerPartition = 20)
    try {
      val (o0, t0) = timed(stream.latestOffset(graft.sources.LineOffset(0),
        ReadLimit.minRows(20, 60000)))
      assert(t0 < 10000, s"first call waited $t0 ms")
      assert(offsetOf(o0) == 0)
      // a burst past one partition is admitted long before a 60 s delay
      feed.send(lines.take(25))
      val (o1, t1) = timed(stream.latestOffset(o0, ReadLimit.minRows(20, 60000)))
      assert(t1 < 10000, s"burst waited $t1 ms")
      assert(offsetOf(o1) >= 20 && offsetOf(o1) <= 25, o1)
      // a trickle short of a partition waits out the delay, then goes
      feed.send(lines.slice(25, 28))
      val (o2, t2) = timed(stream.latestOffset(o1, ReadLimit.minRows(20, 500)))
      assert(t2 >= 300 && t2 < 10000, s"trickle admitted after $t2 ms")
      assert(offsetOf(o2) == 28, o2)
      val m = stream.metrics(java.util.Optional.empty())
      assert(m.get("batchesAdmittedByRows") == "1", m)
      assert(m.get("batchesAdmittedByDelay") == "1", m)
      // idle: each call waits a full delay, so the stream thread never spins
      var o = o2
      val idleStart = System.nanoTime()
      var calls = 0
      while (System.nanoTime() - idleStart < 2000000000L) {
        val (next, t) = timed(stream.latestOffset(o, ReadLimit.minRows(20, 200)))
        assert(t >= 150, s"idle call returned after $t ms")
        assert(next == o)
        o = next; calls += 1
      }
      assert(calls <= 12, s"$calls idle returns in 2 s at a 200 ms delay")
      // stop() wakes a call parked on a 60 s delay
      @volatile var woke = 0L
      val blocked = new Thread(() => {
        try stream.latestOffset(o, ReadLimit.minRows(20, 60000))
        catch { case _: Throwable => }
        woke = System.nanoTime()
      })
      blocked.start()
      Thread.sleep(200)
      assert(blocked.isAlive, "latestOffset did not block on an idle feed")
      val stopAt = System.nanoTime()
      stream.stop()
      blocked.join(10000)
      assert(!blocked.isAlive && woke > 0)
      val wakeMs = (woke - stopAt) / 1000000L
      assert(wakeMs < 200, s"stop() woke latestOffset after $wakeMs ms")
    } finally { stream.stop(); feed.close() }
  }

  test("allAvailable, Trigger.Once and Trigger.AvailableNow never wait") {
    import org.apache.spark.sql.connector.read.streaming.{ReadLimit, SupportsTriggerAvailableNow}
    val feed = new OpenFeed
    val stream = new graft.sources.Dump1090MicroBatchStream(
      "localhost", feed.port, 100,
      connectAttemptLimit = 0, connectAttemptDelayMs = 50,
      maxLinesPerPartition = 20)
    try {
      val o0 = stream.latestOffset(graft.sources.LineOffset(0), stream.getDefaultReadLimit)
      feed.send(lines.take(5))
      val deadline = System.currentTimeMillis() + 10000
      while (offsetOf(stream.latestOffset()) < 5 && System.currentTimeMillis() < deadline)
        Thread.sleep(20)
      // Trigger.Once reads with allAvailable: no admission rule to wait on
      val (o1, t1) = timed(stream.latestOffset(o0, ReadLimit.allAvailable()))
      assert(offsetOf(o1) == 5 && t1 < 10000, s"$o1 after $t1 ms")
      // Trigger.AvailableNow: the framed-now target, even under a 60 s rule
      feed.send(lines.slice(5, 8))
      stream.asInstanceOf[SupportsTriggerAvailableNow].prepareForTriggerAvailableNow()
      val rule = ReadLimit.compositeLimit(Array(ReadLimit.minRows(20, 60000),
        ReadLimit.maxRows(100)))
      val (o2, t2) = timed(stream.latestOffset(o1, rule))
      assert(t2 < 10000, s"AvailableNow waited $t2 ms")
      val (o3, t3) = timed(stream.latestOffset(o2, rule))
      assert(o3 == o2 && t3 < 10000, s"AvailableNow past its target: $o3 after $t3 ms")
    } finally { stream.stop(); feed.close() }

    // end to end: both triggers finish against a feed that stays open
    for (trigger <- Seq(Trigger.Once(), Trigger.AvailableNow())) {
      val open = new OpenFeed
      try {
        open.send(lines.take(3))
        val q = spark.readStream.format("graft.sources.Dump1090TableProvider")
          .option("host", "localhost").option("port", open.port)
          .option("connectAttemptLimit", 0)
          .load().writeStream.format("noop").trigger(trigger).start()
        try assert(q.awaitTermination(30000), s"$trigger query still running")
        finally q.stop()
        assert(q.exception.isEmpty, q.exception)
      } finally open.close()
    }
  }

  test("the query ends once the feed is gone, and the source reports its " +
       "metrics through StreamingQueryProgress") {
    val payload = lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8)
    val server = serve(payload, chunk = 512)
    try {
      val q = spark.readStream.format("graft.sources.Dump1090TableProvider")
        .option("host", "localhost").option("port", server.getLocalPort)
        .option("connectAttemptLimit", 0)
        .load().writeStream.format("noop")
        .trigger(Trigger.ProcessingTime(0)).start()
      try assert(q.awaitTermination(30000), "query still running after the feed ended")
      finally q.stop()
      assert(q.exception.isEmpty, q.exception)
      val progress = q.recentProgress.filter(_.numInputRows > 0)
      assert(progress.map(_.numInputRows).sum == lines.length)
      val m = progress.last.sources(0).metrics
      assert(m.get("linesFramed") == lines.length.toString, m)
      assert(m.get("bytesRead") == payload.length.toString, m)
      assert(m.get("reconnects") == "0", m)
      Seq("bufferedLines", "exhausted", "batchesAdmittedByRows",
          "batchesAdmittedByDelay").foreach(k => assert(m.containsKey(k), m))
    } finally server.close()
  }

  test("a batch that takes the whole buffer bound does not stall the stream") {
    val feed = new OpenFeed
    try {
      feed.send(lines)
      val q = spark.readStream.format("graft.sources.Dump1090TableProvider")
        .option("host", "localhost").option("port", feed.port)
        .option("connectAttemptLimit", 0).option("maxBufferedLines", 10)
        .load().writeStream.format("memory").queryName("bounded_feed")
        .trigger(Trigger.ProcessingTime(0)).start()
      try {
        def committed = spark.table("bounded_feed").count()
        val deadline = System.currentTimeMillis() + 30000
        while (committed < lines.length && System.currentTimeMillis() < deadline)
          Thread.sleep(100)
        assert(q.exception.isEmpty, q.exception)
        assert(committed == lines.length,
          s"$committed of ${lines.length} rows committed through a 10-line bound")
      } finally q.stop()
    } finally feed.close()
  }
}
