package graft

import java.io.OutputStream
import java.net.ServerSocket
import java.nio.charset.StandardCharsets
import java.sql.SQLException

import graft.streaming.{StreamingOps, TransactionalJdbcSink}
import graft.tools.Dump1090StreamParser

/** The transactional embedded-database sink (R7/R9/R10 analog) and the CLI
  * entry point that drives it — restart-without-duplicates is the whole
  * point of the commit-log claim, so that is what gets pinned.
  */
class JdbcSinkSpec extends SparkSpec {

  private def count(url: String, table: String = "squitters"): Long = {
    val conn = TransactionalJdbcSink.connect(url)
    try {
      val rs = conn.createStatement().executeQuery(s"SELECT count(*) FROM $table")
      rs.next(); rs.getLong(1)
    } finally conn.close()
  }

  private val mk = (i: Int) =>
    f"MSG,3,111,$i,HX$i%04d,$i,2026/08/12,14:21:${i % 60}%02d.000,2026/08/12,14:21:${i % 60}%02d.100,,$i,,,1.0,2.0,,,0,0,0,0"

  test("restart from checkpoint writes no duplicate rows into Derby (R9/R10)") {
    val srcDir = java.nio.file.Files.createTempDirectory("jdbcsrc")
    val ckpt = java.nio.file.Files.createTempDirectory("jdbcck").toString
    val db = java.nio.file.Files.createTempDirectory("jdbcdb").toString + "/adsb.db"
    val url = Dump1090StreamParser.jdbcUrl(db)
    java.nio.file.Files.write(srcDir.resolve("a.txt"),
      (0 until 20).map(mk).mkString("", "\n", "\n").getBytes)
    def runOnce(): Unit = {
      val q = TransactionalJdbcSink.sink(
        StreamingOps.ingestFiles(spark, srcDir.toString),
        url, "squitters", batchSize = 7, checkpoint = ckpt)
      q.awaitTermination()
    }
    runOnce()
    assert(count(url) == 20)
    runOnce() // replay with nothing new — the claims make it a no-op
    assert(count(url) == 20)
    java.nio.file.Files.write(srcDir.resolve("b.txt"),
      (20 until 30).map(mk).mkString("", "\n", "\n").getBytes)
    runOnce() // restart — must append ONLY the new file's rows
    assert(count(url) == 30)
    val conn = TransactionalJdbcSink.connect(url)
    try {
      val rs = conn.createStatement()
        .executeQuery("SELECT count(DISTINCT hex_ident) FROM squitters")
      rs.next(); assert(rs.getLong(1) == 30)
    } finally conn.close()
  }

  test("a replayed micro-batch is skipped via the commit-log claim") {
    import spark.implicits._
    val db = ":memory:"
    val url = Dump1090StreamParser.jdbcUrl(db)
    val batch = Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "s")
    TransactionalJdbcSink.ensureTables(url, "t1", batch.schema)
    TransactionalJdbcSink.writeBatch(batch, 7L, url, "t1", batchSize = 2)
    TransactionalJdbcSink.writeBatch(batch, 7L, url, "t1", batchSize = 2) // replay
    TransactionalJdbcSink.writeBatch(batch, 8L, url, "t1", batchSize = 2) // new epoch
    assert(count(url, "t1") == 6)
  }

  test("strings longer than 255 chars are not poison pills (wide VARCHAR)") {
    import spark.implicits._
    val url = Dump1090StreamParser.jdbcUrl(":memory:")
    val long = "x" * 5000
    val batch = Seq((1, long), (2, "short")).toDF("id", "s")
    TransactionalJdbcSink.ensureTables(url, "t_wide", batch.schema)
    TransactionalJdbcSink.writeBatch(batch, 0L, url, "t_wide", 10, appId = "w")
    assert(count(url, "t_wide") == 2)
    val conn = TransactionalJdbcSink.connect(url)
    try {
      val rs = conn.createStatement()
        .executeQuery("SELECT length(s) FROM t_wide WHERE id = 1")
      rs.next(); assert(rs.getInt(1) == 5000)
    } finally conn.close()
  }

  test("pruneClaims drops claims no replay can match, keeping one epoch of slack") {
    import spark.implicits._
    val url = Dump1090StreamParser.jdbcUrl(":memory:")
    val batch = Seq((1, "a")).toDF("id", "s")
    TransactionalJdbcSink.ensureTables(url, "t_prune", batch.schema)
    (0L to 3L).foreach { id =>
      TransactionalJdbcSink.writeBatch(batch, id, url, "t_prune", 10, appId = "p")
      TransactionalJdbcSink.pruneClaims(url, "t_prune", "p", id)
    }
    val conn = TransactionalJdbcSink.connect(url)
    try {
      val rs = conn.createStatement().executeQuery(
        "SELECT DISTINCT batch_id FROM t_prune_commits ORDER BY batch_id")
      val kept = Iterator.continually(rs).takeWhile(_.next()).map(_.getLong(1)).toList
      assert(kept == List(2L, 3L), kept.toString) // < currentBatch-1 pruned
      // pruning another app's claims never happens
      TransactionalJdbcSink.writeBatch(batch, 0L, url, "t_prune", 10, appId = "q")
      TransactionalJdbcSink.pruneClaims(url, "t_prune", "p", 99L)
      val rs2 = conn.createStatement().executeQuery(
        "SELECT count(*) FROM t_prune_commits WHERE app_id = 'q'")
      rs2.next(); assert(rs2.getLong(1) > 0)
    } finally conn.close()
    // and the batch rows themselves were never touched
    assert(count(url, "t_prune") == 5)
  }

  test("a fresh checkpoint (new claim scope) against the same database keeps new data") {
    import spark.implicits._
    val url = Dump1090StreamParser.jdbcUrl(":memory:")
    val first = Seq((1, "a"), (2, "b")).toDF("id", "s")
    val second = Seq((3, "c"), (4, "d"), (5, "e")).toDF("id", "s")
    TransactionalJdbcSink.ensureTables(url, "t_scope", first.schema)
    // two runs, each restarting batch ids at 0 (the CLI's fresh-checkpoint
    // default and the source's "resume with a fresh checkpoint" path):
    // without app scoping the second run's batch 0 collides with the stale
    // claim and its rows are silently dropped as a "replay"
    TransactionalJdbcSink.writeBatch(first, 0L, url, "t_scope", 10,
      appId = TransactionalJdbcSink.appIdFor("/tmp/ckpt-run-a"))
    TransactionalJdbcSink.writeBatch(second, 0L, url, "t_scope", 10,
      appId = TransactionalJdbcSink.appIdFor("/tmp/ckpt-run-b"))
    assert(count(url, "t_scope") == 5)
    // and the same checkpoint is still a replay no-op
    TransactionalJdbcSink.writeBatch(second, 0L, url, "t_scope", 10,
      appId = TransactionalJdbcSink.appIdFor("/tmp/ckpt-run-b"))
    assert(count(url, "t_scope") == 5)
  }

  /** Starts the sink on `table` over a five-line file feed, which must
    * refuse at start: no query runs.
    */
  private def refusedStart(url: String, table: String): IllegalStateException = {
    val srcDir = java.nio.file.Files.createTempDirectory("refsrc")
    val ckpt = java.nio.file.Files.createTempDirectory("refck").toString
    java.nio.file.Files.write(srcDir.resolve("a.txt"),
      (0 until 5).map(mk).mkString("", "\n", "\n").getBytes)
    intercept[IllegalStateException] {
      TransactionalJdbcSink.sink(StreamingOps.ingestFiles(spark, srcDir.toString),
        url, table, batchSize = 1, checkpoint = ckpt)
    }
  }

  test("a pre-app_id commits table is refused at start, and nothing is written") {
    val url = Dump1090StreamParser.jdbcUrl(":memory:")
    // a database written before claim scoping: two-column commits table,
    // PK (batch_id, partition_id), one committed claim and its row
    val conn = TransactionalJdbcSink.connect(url)
    try {
      val st = conn.createStatement()
      st.execute("CREATE TABLE t_noscope (hex_ident VARCHAR(255))")
      st.execute("CREATE TABLE t_noscope_commits (" +
        "batch_id BIGINT NOT NULL, partition_id INTEGER NOT NULL, " +
        "PRIMARY KEY (batch_id, partition_id))")
      st.execute("INSERT INTO t_noscope VALUES ('OLD')")
      st.execute("INSERT INTO t_noscope_commits VALUES (0, 3)")
      st.close()
    } finally conn.close()
    val e = refusedStart(url, "t_noscope")
    assert(e.getMessage.contains(
      "t_noscope_commits holds no app_id column (written before claim scoping)"),
      e.getMessage)
    assert(e.getMessage.contains("DROP TABLE t_noscope_commits"), e.getMessage)
    assert(count(url, "t_noscope") == 1L)
    assert(count(url, "t_noscope_commits") == 1L)
  }

  test("claims of the 8-slice build are refused at start, and nothing is written") {
    val url = Dump1090StreamParser.jdbcUrl(":memory:")
    val appId = TransactionalJdbcSink.appIdFor("/tmp/ckpt-sliced")
    // that build died after slices 2 and 5 of batch 3 committed
    TransactionalJdbcSink.ensureTables(url, "t_sliced", graft.sources.Sbs1.Schema)
    val conn = TransactionalJdbcSink.connect(url)
    try {
      val st = conn.createStatement()
      st.execute("INSERT INTO t_sliced (session_id, hex_ident) VALUES (-1, 'OLD')")
      Seq(2, 5).foreach(p =>
        st.execute(s"INSERT INTO t_sliced_commits VALUES ('$appId', 3, $p)"))
      st.close()
    } finally conn.close()
    val e = refusedStart(url, "t_sliced")
    assert(e.getMessage.contains("t_sliced_commits holds 2 per-slice claim(s) " +
      "(partition_id <> -1, written by the 8-slice build)"), e.getMessage)
    assert(e.getMessage.contains(
      "DELETE FROM t_sliced_commits WHERE partition_id <> -1"), e.getMessage)
    assert(count(url, "t_sliced") == 1L)
    assert(count(url, "t_sliced_commits") == 2L)
  }

  test("a checkpoint reset in place (old claims survive at batch_id > 0) " +
       "fails batch 0 loudly instead of silently dropping fresh batches " +
       "at the old ids (r18 self-review)") {
    import spark.implicits._
    val url = Dump1090StreamParser.jdbcUrl(":memory:")
    val batch = Seq((1, "a"), (2, "b")).toDF("id", "s")
    val appId = TransactionalJdbcSink.appIdFor("/tmp/ckpt-reset-in-place")
    TransactionalJdbcSink.ensureTables(url, "t_reset", batch.schema)
    // the previous life of this checkpoint committed through batch 7;
    // pruneClaims left its last two claims
    TransactionalJdbcSink.writeBatch(batch, 6L, url, "t_reset", 10,
      appId = appId)
    TransactionalJdbcSink.writeBatch(batch, 7L, url, "t_reset", 10,
      appId = appId)
    // ops deletes the checkpoint but keeps the database: the new run's
    // batch 0 must refuse — batches 6 and 7 of FRESH data would
    // otherwise roll back as "replays" when the ids come around again
    val e = intercept[IllegalStateException] {
      TransactionalJdbcSink.assertNoStaleClaims(url, "t_reset", appId)
    }
    assert(e.getMessage.contains("reset in place"), e.getMessage)
    // a batch-0-only claim (a crash replaying the very first batch) is
    // the legitimate case and passes
    val fresh = TransactionalJdbcSink.appIdFor("/tmp/ckpt-first-batch")
    TransactionalJdbcSink.writeBatch(batch, 0L, url, "t_reset", 10,
      appId = fresh)
    TransactionalJdbcSink.assertNoStaleClaims(url, "t_reset", fresh)
  }

  test("appIdFor: URI and plain-path spellings of one checkpoint share a scope") {
    val plain = "/tmp/some/ckpt"
    assert(TransactionalJdbcSink.appIdFor(plain) ==
           TransactionalJdbcSink.appIdFor(s"file://$plain"))
    assert(TransactionalJdbcSink.appIdFor(plain) ==
           TransactionalJdbcSink.appIdFor("/tmp/./some/ckpt"))
    // remote URIs normalize too (trailing-dot path segments), and
    // different locations stay distinct
    assert(TransactionalJdbcSink.appIdFor("hdfs://nn:8020/a/./b") ==
           TransactionalJdbcSink.appIdFor("hdfs://nn:8020/a/b"))
    assert(TransactionalJdbcSink.appIdFor("hdfs://nn:8020/a/b") !=
           TransactionalJdbcSink.appIdFor("/a/b"))
  }

  test("a failed partition rolls back: real error surfaces and the claim is retryable") {
    import spark.implicits._
    val url = Dump1090StreamParser.jdbcUrl(":memory:")
    // one poison row (overflows even the wide VARCHAR(32672)) among good
    // rows, spread over several source splits
    val batch = ((0 until 20).map(i => (i, s"row$i")) :+ (99, "x" * 40000))
      .toDF("id", "s").repartition(4)
    TransactionalJdbcSink.ensureTables(url, "t_rb", batch.schema)
    def states(t: Throwable): Seq[String] =
      if (t == null) Nil
      else (t match {
        case s: SQLException => Seq(s.getSQLState)
        case _ => Nil
      }) ++ states(t.getCause) ++
        t.getSuppressed.toSeq.flatMap(states)
    def replay(): Throwable = intercept[Exception] {
      TransactionalJdbcSink.writeBatch(batch, 0L, url, "t_rb", 10, appId = "rb")
    }
    // the truncation error (22001), not Derby's 25001 close-with-open-txn
    val e1 = replay()
    assert(states(e1).contains("22001"), s"expected 22001 in ${states(e1)}")
    assert(!states(e1).contains("25001"), "rollback must precede close")
    // the whole batch is one transaction: the rollback released its claim
    // and took every good row with it...
    assert(count(url, "t_rb_commits") == 0L)
    assert(count(url, "t_rb") == 0L)
    // ...so a replay re-attempts the batch: it fails on the same poison
    // row immediately (22001 again — not a lock timeout from a wedged
    // claim) and still leaves nothing behind
    val e2 = replay()
    assert(states(e2).contains("22001"), s"expected 22001 in ${states(e2)}")
    assert(count(url, "t_rb_commits") == 0L)
    assert(count(url, "t_rb") == 0L)
  }

  test("claims survive source re-splitting: row→partition mapping is plan-independent") {
    import spark.implicits._
    val url = Dump1090StreamParser.jdbcUrl(":memory:")
    val rows = (0 until 100).map(i => (i, s"row$i"))
    val narrow = spark.createDataset(rows).toDF("id", "s").repartition(3)
    val wide = spark.createDataset(rows).toDF("id", "s").repartition(13)
    TransactionalJdbcSink.ensureTables(url, "t_det", narrow.schema)
    // the same batch delivered with 3 source splits, then replayed with 13:
    // the claim covers the whole batch, so the replay is a no-op
    TransactionalJdbcSink.writeBatch(narrow, 4L, url, "t_det", 10, appId = "det")
    TransactionalJdbcSink.writeBatch(wide, 4L, url, "t_det", 10, appId = "det")
    val got = {
      val c = TransactionalJdbcSink.connect(url)
      try {
        val rs = c.createStatement().executeQuery("SELECT id FROM t_det")
        Iterator.continually(rs).takeWhile(_.next()).map(_.getInt(1)).toList
      } finally c.close()
    }
    assert(got.sorted == (0 until 100).toList)
  }

  test("the parse compiles once: micro-batches reuse the generated code") {
    import org.apache.spark.metrics.source.CodegenMetrics
    val srcDir = java.nio.file.Files.createTempDirectory("cgsrc")
    val ckpt = java.nio.file.Files.createTempDirectory("cgck").toString
    val url = Dump1090StreamParser.jdbcUrl(":memory:")
    val q = TransactionalJdbcSink.sink(
      StreamingOps.ingestFiles(spark, srcDir.toString), url, "t_cg",
      batchSize = 7, checkpoint = ckpt,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime("100 milliseconds"))
    def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    try {
      // one file per micro-batch: the next file is written only once the
      // previous one's rows have landed
      val after = (0 until 4).map { k =>
        java.nio.file.Files.write(srcDir.resolve(s"f$k.txt"),
          (k * 10 until k * 10 + 10).map(mk).mkString("", "\n", "\n").getBytes)
        val deadline = System.currentTimeMillis() + 60000
        def sunk(): Long = try count(url, "t_cg") catch { case _: SQLException => 0L }
        while (sunk() < (k + 1) * 10 && System.currentTimeMillis() < deadline)
          Thread.sleep(50)
        q.processAllAvailable()
        compiles()
      }
      assert(after.tail.forall(_ == after.head),
        s"compilations after each batch: $after")
    } finally q.stop()
    val c = TransactionalJdbcSink.connect(url)
    val perBatch = try {
      val rs = c.createStatement().executeQuery(
        "SELECT aircraft_id / 10, count(*), count(parsed_time), " +
        "count(DISTINCT parsed_time), min(parsed_time) FROM t_cg " +
        "GROUP BY aircraft_id / 10")
      Iterator.continually(rs).takeWhile(_.next())
        .map(r => (r.getInt(1), r.getLong(2), r.getLong(3), r.getLong(4),
                   r.getTimestamp(5)))
        .toList
    } finally c.close()
    assert(perBatch.map(_._1).sorted == List(0, 1, 2, 3), perBatch.toString)
    // each batch's rows share one non-null parsed_time...
    perBatch.foreach { case (_, n, nonNull, distinct, _) =>
      assert(n == 10 && nonNull == 10 && distinct == 1, perBatch.toString)
    }
    // ...and the batches carry different ones
    assert(perBatch.map(_._5).distinct.size == 4, perBatch.toString)
  }

  test("cross-restart exactly-once: a crashed epoch replays from the spill " +
       "log into Derby with no gap and no dupes") {
    import org.apache.spark.sql.DataFrame
    val lines = (0 until 30).map(mk)
    val server = new ServerSocket(0)
    new Thread(() => {
      try {
        val sock = server.accept()
        val out: OutputStream = sock.getOutputStream
        lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8)
          .grouped(53).foreach { c => out.write(c); out.flush(); Thread.sleep(2) }
        out.flush(); sock.close()
      } catch { case _: Throwable => }
    }, "spill-e2e-server").start()
    val ckpt = java.nio.file.Files.createTempDirectory("spillck").toString
    val url = Dump1090StreamParser.jdbcUrl(":memory:")
    val appId = TransactionalJdbcSink.appIdFor(ckpt)
    val opts = Map("connectAttemptLimit" -> "0", "connectAttemptDelay" -> "0.1",
                   "maxLinesPerPartition" -> "10")
    try {
      // run 1: "crash" — the sink function throws on whichever epoch
      // carries the LAST line (so every line is framed and spilled by
      // then); its offsets are checkpointed, Derby never saw its rows,
      // and the source was never told to commit it
      val parsed = StreamingOps.ingestSocket(
        spark, "localhost", server.getLocalPort, opts)
      TransactionalJdbcSink.ensureTables(url, "squitters", parsed.schema)
      val q1 = parsed.writeStream
        .foreachBatch { (b: DataFrame, id: Long) =>
          if (b.filter(b("hex_ident") === "HX0029").count() > 0)
            throw new RuntimeException("injected crash before sink commit")
          TransactionalJdbcSink.writeBatch(b, id, url, "squitters", 7, appId)
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("100 milliseconds"))
        .start()
      val crashed = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        if (!q1.awaitTermination(60000)) {
          q1.stop(); fail("crash epoch never triggered within 60s")
        }
      }
      assert(crashed.getMessage.contains("injected crash"), crashed.getMessage)
      val afterCrash = count(url)
      assert(afterCrash < 30, s"crash epoch must not have committed ($afterCrash)")

      // run 2: restart from the SAME checkpoint against a DEAD socket —
      // the crashed epoch re-plans from the spill log (a live socket
      // cannot replay), lands exactly once, and the stream drains
      val dead = { val s = new ServerSocket(0); val p = s.getLocalPort; s.close(); p }
      val q2 = TransactionalJdbcSink.sink(
        StreamingOps.ingestSocket(spark, "localhost", dead, opts),
        url, "squitters", batchSize = 7, checkpoint = ckpt,
        trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
      q2.awaitTermination()
      assert(count(url) == 30, s"expected all 30 rows, got ${count(url)}")
      val conn = TransactionalJdbcSink.connect(url)
      try {
        val rs = conn.createStatement()
          .executeQuery("SELECT count(DISTINCT hex_ident) FROM squitters")
        rs.next(); assert(rs.getLong(1) == 30, "gap or duplicate hex_ident")
      } finally conn.close()
    } finally server.close()
  }

  /** Runs `body` on another thread and fails the test if it has not
    * returned within `seconds`: a hung hand-off must fail, not wedge the
    * suite.
    */
  private def within[T](seconds: Int)(body: => T): T = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    Await.result(Future(body)(ExecutionContext.global), seconds.seconds)
  }

  private def sqlStates(t: Throwable): Seq[String] =
    if (t == null) Nil
    else (t match {
      case s: SQLException => Seq(s.getSQLState)
      case _ => Nil
    }) ++ sqlStates(t.getCause) ++ t.getSuppressed.toSeq.flatMap(sqlStates)

  test("the writer hand-off: a poison row past the queue's capacity fails with 22001") {
    import org.apache.spark.sql.functions.{col, concat, lit, repeat, when}
    val url = Dump1090StreamParser.jdbcUrl(":memory:")
    // one source split, so row 15,000 reaches the writer after more than
    // the hand-off's 8 x 1,024 queued rows have gone through
    val batch = spark.range(0, 20000, 1, 1).select(
      col("id").cast("int").as("id"),
      when(col("id") === 15000, repeat(lit("x"), 40000))
        .otherwise(concat(lit("row"), col("id"))).as("s"))
    TransactionalJdbcSink.ensureTables(url, "t_hpoison", batch.schema)
    def attempt(): Throwable = within(120) {
      intercept[Exception] {
        TransactionalJdbcSink.writeBatch(batch, 0L, url, "t_hpoison", 1, appId = "hp")
      }
    }
    val e1 = attempt()
    assert(sqlStates(e1).contains("22001"), s"expected 22001 in ${sqlStates(e1)}")
    assert(!sqlStates(e1).contains("25001"), "rollback must precede close")
    assert(count(url, "t_hpoison_commits") == 0L)
    assert(count(url, "t_hpoison") == 0L)
    val e2 = attempt()
    assert(sqlStates(e2).contains("22001"), s"expected 22001 in ${sqlStates(e2)}")
    assert(count(url, "t_hpoison_commits") == 0L)
    assert(count(url, "t_hpoison") == 0L)
  }

  test("the writer hand-off: a task-side error mid-batch rolls the writer back") {
    import org.apache.spark.sql.functions.{col, concat, lit, raise_error, when}
    val url = Dump1090StreamParser.jdbcUrl(":memory:")
    def rows(fail: Boolean) = {
      val s = concat(lit("row"), col("id"))
      spark.range(0, 20000, 1, 1).select(col("id").cast("int").as("id"),
        (if (fail) when(col("id") === 10000, raise_error(lit("projection boom")))
           .otherwise(s)
         else s).as("s"))
    }
    TransactionalJdbcSink.ensureTables(url, "t_htask", rows(false).schema)
    val e = within(120) {
      intercept[Exception] {
        TransactionalJdbcSink.writeBatch(rows(true), 0L, url, "t_htask", 1, appId = "ht")
      }
    }
    def chain(t: Throwable): List[Throwable] =
      if (t == null) Nil else t :: chain(t.getCause)
    assert(chain(e).exists(t => String.valueOf(t.getMessage).contains("projection boom")),
      chain(e).map(_.toString).mkString("\n"))
    assert(!sqlStates(e).contains("25001"), "rollback must precede close")
    assert(count(url, "t_htask_commits") == 0L)
    assert(count(url, "t_htask") == 0L)
    // the claim was released: the same batch id, now good, writes
    within(120) {
      TransactionalJdbcSink.writeBatch(rows(false), 0L, url, "t_htask", 1, appId = "ht")
    }
    assert(count(url, "t_htask") == 20000L)
    assert(count(url, "t_htask_commits") == 1L)
  }

  test("the writer hand-off: a claimed batch replays with nothing written") {
    import org.apache.spark.sql.functions.{col, udf}
    val url = Dump1090StreamParser.jdbcUrl(":memory:")
    val pulled = spark.sparkContext.longAccumulator("pulled")
    val tally = udf { (i: Long) => pulled.add(1); i }
    val batch = spark.range(0, 50000, 1, 1)
      .select(tally(col("id")).as("id"), col("id").cast("string").as("s"))
    TransactionalJdbcSink.ensureTables(url, "t_hclaim", batch.schema)
    within(120) {
      TransactionalJdbcSink.writeBatch(batch, 2L, url, "t_hclaim", 1, appId = "hc")
    }
    assert(count(url, "t_hclaim") == 50000L)
    // a replay after the commit: the writer finds the claim taken, and the
    // task stops pulling rows
    pulled.reset()
    within(120) {
      TransactionalJdbcSink.writeBatch(batch, 2L, url, "t_hclaim", 1, appId = "hc")
    }
    assert(count(url, "t_hclaim") == 50000L)
    assert(count(url, "t_hclaim_commits") == 1L)
    assert(pulled.value < 50000L, s"pulled ${pulled.value} rows of a claimed batch")
  }

  test("a database from the build before the rows function upgrades on resume") {
    val srcDir = java.nio.file.Files.createTempDirectory("upsrc")
    val ckpt = java.nio.file.Files.createTempDirectory("upck").toString
    val db = java.nio.file.Files.createTempDirectory("updb").toString + "/adsb.db"
    val url = Dump1090StreamParser.jdbcUrl(db)
    // the previous build made squitters and squitters_commits, no function
    TransactionalJdbcSink.ensureTables(url, "squitters", graft.sources.Sbs1.Schema)
    val conn = TransactionalJdbcSink.connect(url)
    try {
      val st = conn.createStatement()
      st.execute("DROP FUNCTION squitters_rows")
      st.execute("INSERT INTO squitters (session_id, hex_ident) VALUES (-1, 'OLD')")
      st.close()
    } finally conn.close()
    java.nio.file.Files.write(srcDir.resolve("a.txt"),
      (0 until 25).map(mk).mkString("", "\n", "\n").getBytes)
    val q = TransactionalJdbcSink.sink(
      StreamingOps.ingestFiles(spark, srcDir.toString),
      url, "squitters", batchSize = 1, checkpoint = ckpt)
    q.awaitTermination()
    assert(count(url) == 26)
    // and a second ensureTables leaves the function and the tables be
    TransactionalJdbcSink.ensureTables(url, "squitters", graft.sources.Sbs1.Schema)
    assert(count(url) == 26)
  }

  test("every column type crosses the writer hand-off, nulls included") {
    import spark.implicits._
    val url = Dump1090StreamParser.jdbcUrl(":memory:")
    val ts = java.sql.Timestamp.valueOf("2026-08-12 14:21:07.25")
    val day = java.sql.Date.valueOf("2026-08-12")
    val batch = Seq(
      (Option(1), Option(2L), Option(0.5), Option(1.5f), Option(true),
        Option(ts), Option(day), Option("a  ")),
      (None, None, None, None, None, None, None, None))
      .toDF("i", "l", "d", "f", "b", "ts", "dt", "s")
    TransactionalJdbcSink.ensureTables(url, "t_types", batch.schema)
    TransactionalJdbcSink.writeBatch(batch, 0L, url, "t_types", 1, appId = "ty")
    val c = TransactionalJdbcSink.connect(url)
    try {
      val rs = c.createStatement().executeQuery(
        "SELECT i, l, d, f, b, ts, dt, s FROM t_types ORDER BY i NULLS LAST")
      assert(rs.next())
      assert(rs.getInt(1) == 1 && rs.getLong(2) == 2L && rs.getDouble(3) == 0.5 &&
        rs.getFloat(4) == 1.5f && rs.getBoolean(5) && rs.getTimestamp(6) == ts &&
        rs.getDate(7) == day && rs.getString(8) == "a  ")
      assert(rs.next())
      (1 to 8).foreach { k => rs.getObject(k); assert(rs.wasNull(), s"column $k") }
      assert(!rs.next())
    } finally c.close()
  }

  test("CLI pipeline e2e: argparse surface → socket → Derby squitters") {
    val cfg = Dump1090StreamParser.parseArgs(Seq(
      "--location=localhost", "-p", "0", "--buffer-size", "64",
      "--batch-size", "5", "--connect-attempt-limit", "0",
      "--connect-attempt-delay", "0.1"))
    assert(cfg.location == "localhost" && cfg.bufferSize == 64 &&
      cfg.batchSize == 5 && cfg.connectAttemptLimit == 0 &&
      cfg.connectAttemptDelay == 0.1 && cfg.database == "adsb_messages.db")

    val lines = (0 until 40).map(mk)
    val server = new ServerSocket(0)
    new Thread(() => {
      try {
        val sock = server.accept()
        val out: OutputStream = sock.getOutputStream
        lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8)
          .grouped(53).foreach { c => out.write(c); out.flush(); Thread.sleep(2) }
        out.flush(); sock.close()
      } catch { case _: Throwable => }
    }, "cli-test-server").start()
    val db = java.nio.file.Files.createTempDirectory("clidb").toString + "/adsb.db"
    try {
      val q = Dump1090StreamParser.run(spark, cfg.copy(
          port = server.getLocalPort, database = db,
          checkpoint = Some(java.nio.file.Files.createTempDirectory("click").toString)),
        trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime("100 milliseconds"))
      val url = Dump1090StreamParser.jdbcUrl(db)
      val deadline = System.currentTimeMillis() + 30000
      def sunk(): Long = try count(url) catch { case _: Throwable => 0L }
      while (sunk() < lines.length && System.currentTimeMillis() < deadline)
        Thread.sleep(200)
      q.stop()
      assert(sunk() == lines.length)
      val conn = TransactionalJdbcSink.connect(url)
      try {
        val rs = conn.createStatement().executeQuery(
          "SELECT count(*) FROM squitters WHERE parsed_time IS NOT NULL AND altitude >= 0")
        rs.next(); assert(rs.getLong(1) == lines.length)
      } finally conn.close()
    } finally server.close()
  }
}
