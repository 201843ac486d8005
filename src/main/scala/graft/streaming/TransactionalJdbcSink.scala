package graft.streaming

import java.sql.{Connection, Date, DriverManager, ResultSet, SQLException, Timestamp}
import java.util.concurrent.{ArrayBlockingQueue, ConcurrentHashMap, ExecutionException,
  Executors, Future, TimeUnit}

import org.apache.derby.vti.VTITemplate

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** Transactional JDBC sink with exactly-once semantics — the engine's
  * analog of the reference's batched SQLite writer (R7/R9/R10,
  * reference-reconstruction/dump1090-stream-parser.py P:144-158): the
  * product is a queryable embedded SQL database (Derby; `:memory:` maps to
  * Derby's in-memory subprotocol like upstream's `:memory:`, P:28).
  *
  * Exactly-once: each (app, epoch) claims a row in a `<table>_commits`
  * log INSIDE the same transaction as its data rows. A replayed epoch
  * (task retry, or query restart from checkpoint) finds its claim taken
  * and skips — the idempotent-sink half of the source's replayable-offset
  * contract. Two preconditions make the claim sound, and both are enforced
  * here rather than assumed:
  *
  *   - Claims are scoped by an application id (the Delta `txnAppId`
  *     pattern). `sink` derives it from the checkpoint location, so the
  *     same checkpoint resumes under the same claims (replays skip), while
  *     a NEW checkpoint against the same database is a new claim scope —
  *     its batch ids also restart at 0, and without the scope they would
  *     collide with stale claims and the fresh data would be silently
  *     dropped as "replays".
  *   - A claim must name the same rows on every replay. It covers the
  *     WHOLE batch, written by one writer, so how the source split the
  *     batch (file sources re-split by parallelism/config) cannot change
  *     what a claim stands for.
  *
  * One writer per micro-batch: an embedded Derby table takes inserts one
  * at a time, so parallel writers only add transactions and a shuffle.
  * The batch is coalesced to a single executor-side task (no shuffle,
  * nothing funnels through the driver), and its rows reach Derby through
  * ONE set-based statement, `INSERT INTO t SELECT … FROM TABLE(t_rows(?))`,
  * run in one transaction with the claim. `<table>_rows` is a Derby table
  * function ([[ensureTables]] creates it) reading the rows the task hands
  * over. The task thread keeps the Spark iterator (parse, deserialize);
  * a long-lived pooled writer thread keeps the connection; a bounded
  * hand-off between them lets the two run at once. Either side failing
  * stops the other within a poll interval: a failed writer stops the task
  * pulling rows and its error is rethrown; a failed task makes the table
  * function fail, so the INSERT and the claim roll back, and the task's
  * own error is rethrown. A failed batch rolls back its open transaction
  * before the connection closes — Derby otherwise fails the close
  * (SQLState 25001), masking the real error and keeping the claim-row lock
  * alive until lock timeout.
  *
  * `batchSize` is upstream's `--batch-size` commit-amortization knob. It
  * is accepted for CLI parity and no longer changes how rows are written:
  * every micro-batch is one statement in one transaction. The DURABILITY
  * unit here is that micro-batch transaction (it is what makes replays
  * exactly-once), not every `batchSize` rows as in the reference —
  * documented divergence.
  */
object TransactionalJdbcSink {

  /** Write-side partition count: one writer, one transaction and one
    * claim per micro-batch.
    */
  val WritePartitions = 1

  /** partition_id of the whole-batch claim, the only claim there is. */
  private val BatchClaim = -1

  /** Derby's widest VARCHAR, the width of every string column here. */
  private val MaxVarchar = 32672

  /** Derby-flavored DDL type for a Spark field. Strings get Derby's max
    * VARCHAR width: a narrower column would make any longer row a POISON
    * PILL — the INSERT fails (22001), the batch transaction rolls
    * back, the retry hits the same row, and the replayed batch wedges the
    * stream permanently.
    */
  private def ddlType(dt: DataType): String = dt match {
    case StringType    => s"VARCHAR($MaxVarchar)"
    case IntegerType   => "INTEGER"
    case LongType      => "BIGINT"
    case DoubleType    => "DOUBLE"
    case FloatType     => "REAL"
    case BooleanType   => "BOOLEAN"
    case TimestampType => "TIMESTAMP"
    case DateType      => "DATE"
    case other => throw new IllegalArgumentException(
      s"no JDBC mapping for ${other.simpleString}")
  }

  def connect(url: String): Connection = {
    Class.forName("org.apache.derby.jdbc.EmbeddedDriver")
    DriverManager.getConnection(url)
  }

  /** Stable claim scope for a checkpoint location: same checkpoint (even
    * via a different relative path, or spelled as a `file:` URI vs a plain
    * path) → same app id; new checkpoint → new scope, so its restarted
    * batch ids cannot collide with an older run's. Normalizes through
    * Hadoop's Path/URI first — `java.io.File` alone would mangle URI forms
    * (`file:///x`, `hdfs://nn/x`) into distinct scopes for the same
    * location, and a restart under the other spelling would re-insert the
    * replayed in-flight batch as duplicates.
    */
  def appIdFor(checkpoint: String): String = {
    val canonical =
      try {
        val uri = new org.apache.hadoop.fs.Path(checkpoint).toUri
        uri.getScheme match {
          // local (explicit file: or schemeless): resolve relative paths
          // and symlinks so ./cp and /abs/cp agree
          case null | "file" => new java.io.File(uri.getPath).getCanonicalPath
          case s =>
            val auth = Option(uri.getAuthority).getOrElse("")
            s"$s://$auth${uri.getPath}"
        }
      } catch { case _: Exception => checkpoint }
    java.security.MessageDigest.getInstance("MD5")
      .digest(canonical.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
  }

  /** CREATE TABLE IF NOT EXISTS analog (R8; Derby has no IF NOT EXISTS —
    * an existing table surfaces as SQLState X0Y32, an existing function as
    * X0Y68, and both are fine). Besides the table and its commits log this
    * creates the `<table>_rows` table function [[writeBatch]] inserts from,
    * so a database made by an older build gains it when it resumes. An
    * existing commits log must hold the one claim layout [[writeBatch]]
    * writes; any other is refused here, at start and before anything is
    * created (see [[checkClaimLayout]]).
    */
  def ensureTables(url: String, table: String, schema: StructType): Unit = {
    val conn = connect(url)
    try {
      def create(ddl: String): Boolean = {
        val st = conn.createStatement()
        try { st.execute(ddl); true }
        catch { case e: SQLException if Set("X0Y32", "X0Y68")(e.getSQLState) => false }
        finally st.close() // also on unexpected SQLExceptions (e.g. 40XL1)
      }
      val fresh = create(s"CREATE TABLE ${table}_commits (" +
        "app_id VARCHAR(64) NOT NULL, " +
        "batch_id BIGINT NOT NULL, partition_id INTEGER NOT NULL, " +
        s"PRIMARY KEY (app_id, batch_id, partition_id))")
      if (!fresh) checkClaimLayout(conn, table)
      val columns =
        schema.fields.map(f => s"${f.name} ${ddlType(f.dataType)}").mkString(", ")
      create(s"CREATE TABLE $table ($columns)")
      create(s"CREATE FUNCTION ${table}_rows(handle VARCHAR(64)) " +
        s"RETURNS TABLE ($columns) LANGUAGE JAVA " +
        "PARAMETER STYLE DERBY_JDBC_RESULT_SET NO SQL " +
        s"EXTERNAL NAME '${getClass.getName.stripSuffix("$")}.pendingRows'")
    } finally conn.close()
  }

  /** Refuses a commits log written in a layout this sink no longer reads:
    * one from before claim scoping (no `app_id` column, so every claim
    * INSERT would fail on its column count), or one holding the per-slice
    * claims of the build that wrote each batch as 8 hash slices
    * (`partition_id <> -1`; a batch it left half-written would be written
    * again whole). Either means the database predates the current claim
    * log, and guessing which of its batches landed could duplicate or drop
    * rows.
    */
  private def checkClaimLayout(conn: Connection, table: String): Unit = {
    val commits = s"${table}_commits"
    def refuse(found: String, remedy: String): Nothing =
      throw new IllegalStateException(s"$commits holds $found, a claim " +
        s"layout this sink no longer reads. $remedy, or write to a new " +
        "database.")
    val rs = conn.getMetaData.getColumns(
      null, null, commits.toUpperCase(java.util.Locale.ROOT), "APP_ID")
    val hasAppId = try rs.next() finally rs.close()
    if (!hasAppId)
      refuse("no app_id column (written before claim scoping)",
        s"If that build's last run stopped cleanly, DROP TABLE $commits " +
        "and restart")
    val st = conn.createStatement()
    val sliced =
      try {
        val q = st.executeQuery(
          s"SELECT count(*) FROM $commits WHERE partition_id <> $BatchClaim")
        q.next(); q.getLong(1)
      } finally st.close()
    if (sliced > 0)
      refuse(s"$sliced per-slice claim(s) (partition_id <> $BatchClaim, " +
        "written by the 8-slice build)",
        "If that build's last run stopped cleanly, DELETE FROM " +
        s"$commits WHERE partition_id <> $BatchClaim and restart")
  }

  /** Write one micro-batch exactly-once: one task hands the batch's rows
    * to a pooled writer thread, which claims (appId, batchId) in the
    * commits log and inserts the rows in one transaction. A batch already
    * claimed (a replay after the commit) writes nothing: its writer finds
    * the claim taken and the task stops pulling rows. No claim is read on
    * the driver.
    *
    * `batchSize` does not change how rows are written (see the object
    * doc); it is kept for CLI parity.
    */
  def writeBatch(batch: DataFrame, batchId: Long, url: String,
                 table: String, batchSize: Int,
                 appId: String = "default"): Unit = {
    val names = batch.schema.fieldNames.mkString(", ")
    val insert = s"INSERT INTO $table ($names) " +
      s"SELECT $names FROM TABLE(${table}_rows(?)) x"
    batch.coalesce(WritePartitions).foreachPartition { (rows: Iterator[Row]) =>
      val handle = java.util.UUID.randomUUID().toString
      val handoff = new Handoff
      handoffs.put(handle, handoff)
      try {
        val writer = writers.submit[Unit](() =>
          writeHandedOff(url, table, insert, handle, appId, batchId))
        try handoff.feed(rows, writer)
        catch {
          case t: Throwable =>
            handoff.fail(t)
            awaitRollback(writer)
            throw t
        }
        try writer.get()
        catch { case e: ExecutionException => throw e.getCause }
      } finally handoffs.remove(handle)
    }
  }

  /** The writer thread's half of [[writeBatch]]: claim the batch and run
    * the one INSERT that drains the hand-off under `handle`, in one
    * transaction. Returns without writing when the claim is taken.
    */
  private def writeHandedOff(url: String, table: String, insert: String,
                             handle: String, appId: String,
                             batchId: Long): Unit = {
    val conn = connect(url)
    try {
      conn.setAutoCommit(false)
      try {
        val claimedNow =
          try {
            val st = conn.prepareStatement(s"INSERT INTO ${table}_commits " +
              "(app_id, batch_id, partition_id) VALUES (?, ?, ?)")
            try {
              st.setString(1, appId); st.setLong(2, batchId); st.setInt(3, BatchClaim)
              st.executeUpdate(); true
            } finally st.close()
          } catch {
            // duplicate key — this epoch already committed in a previous
            // attempt (a task retry or a replay after the commit); no-op
            case e: SQLException if e.getSQLState == "23505" => false
          }
        if (claimedNow) {
          val ps = conn.prepareStatement(insert)
          try { ps.setString(1, handle); ps.executeUpdate() } finally ps.close()
          conn.commit() // rows + claim become visible atomically
        } else conn.rollback()
      } catch {
        case t: Throwable =>
          // roll back the open transaction so close() doesn't throw 25001
          // over the real failure and the claim-row lock dies with us
          try conn.rollback() catch { case _: SQLException => () }
          throw t
      }
    } finally conn.close()
  }

  /** After the task side failed: wait for the writer to see it and roll
    * back, so the batch's claim is released before the task's own error
    * surfaces. A killed (interrupted) task does not wait; its writer rolls
    * back on its own within a poll interval.
    */
  private def awaitRollback(writer: Future[_]): Unit =
    try writer.get()
    catch {
      case _: ExecutionException => () // the writer's view of the task's failure
      case _: InterruptedException => Thread.currentThread().interrupt()
    }

  // hand-off sizing: the task runs at most QueuedChunks chunks ahead of
  // the writer; each side re-checks the other every PollMs while blocked
  private val ChunkRows = 1024
  private val QueuedChunks = 8
  private val PollMs = 100L

  /** One batch's rows on their way from the Spark task thread to the writer
    * thread, in chunks; an empty chunk ends them.
    */
  private final class Handoff {
    private val queue = new ArrayBlockingQueue[Array[Row]](QueuedChunks)
    @volatile private var taskFailure: Throwable = _

    /** Task side: hand `rows` over, then the empty chunk. Stops pulling
      * rows once `writer` has finished early (it failed, or found the
      * batch claimed).
      */
    def feed(rows: Iterator[Row], writer: Future[_]): Unit = {
      var open = true
      while (open && rows.hasNext) {
        val buf = new Array[Row](ChunkRows)
        var n = 0
        while (n < ChunkRows && rows.hasNext) { buf(n) = rows.next(); n += 1 }
        open = put(if (n == ChunkRows) buf else buf.take(n), writer)
      }
      if (open) put(Array.empty, writer)
    }

    private def put(chunk: Array[Row], writer: Future[_]): Boolean = {
      while (!writer.isDone)
        if (queue.offer(chunk, PollMs, TimeUnit.MILLISECONDS)) return true
      false
    }

    def fail(t: Throwable): Unit = taskFailure = t

    /** Writer side: the next chunk; fails once the task side has failed. */
    def take(): Array[Row] = {
      var chunk: Array[Row] = null
      while (chunk == null) {
        if (taskFailure != null)
          throw new SQLException("the Spark task feeding this batch failed",
            "38000", taskFailure)
        chunk = queue.poll(PollMs, TimeUnit.MILLISECONDS)
      }
      chunk
    }
  }

  /** Hand-offs in flight, by the handle their INSERT passes to the table
    * function.
    */
  private val handoffs = new ConcurrentHashMap[String, Handoff]()

  /** Long-lived daemon writer threads, reused across batches: the Derby
    * side of every batch runs here. Their context class loader is this
    * object's, so Derby resolves `pendingRows` to this same class and its
    * [[handoffs]].
    */
  private val writers = Executors.newCachedThreadPool { (r: Runnable) =>
    val t = new Thread(r, "jdbc-sink-writer")
    t.setDaemon(true)
    t.setContextClassLoader(getClass.getClassLoader)
    t
  }

  /** The `<table>_rows(handle)` table function: the rows a task is handing
    * over under `handle`. Derby calls this on the writer thread.
    */
  def pendingRows(handle: String): ResultSet = {
    val handoff = handoffs.get(handle)
    if (handoff == null)
      throw new SQLException(s"no rows are being handed over under $handle", "38000")
    new HandedOffRows(handoff)
  }

  /** A forward-only view of a hand-off, read by Derby column by column.
    * Derby silently truncates a table function's VARCHAR value to the
    * declared width, so an over-long string raises 22001 here — the same
    * error a direct INSERT gives, and what keeps a poison row loud.
    */
  private final class HandedOffRows(handoff: Handoff) extends VTITemplate {
    private var chunk: Array[Row] = Array.empty
    private var i = 0
    private var done = false
    private var row: Row = _
    private var lastNull = false

    override def next(): Boolean = {
      if (i == chunk.length && !done) {
        chunk = handoff.take(); i = 0; done = chunk.isEmpty
      }
      if (done) false else { row = chunk(i); i += 1; true }
    }

    private def value(c: Int): Any = {
      val v = row.get(c - 1); lastNull = v == null; v
    }

    override def wasNull(): Boolean = lastNull
    override def getString(c: Int): String = value(c) match {
      case s: String if s.length > MaxVarchar =>
        throw new SQLException(s"column $c holds ${s.length} chars, more " +
          s"than VARCHAR($MaxVarchar) takes", "22001")
      case v => v.asInstanceOf[String]
    }
    // null unboxes to 0 / false; Derby then asks wasNull
    override def getInt(c: Int): Int = value(c).asInstanceOf[Int]
    override def getLong(c: Int): Long = value(c).asInstanceOf[Long]
    override def getDouble(c: Int): Double = value(c).asInstanceOf[Double]
    override def getFloat(c: Int): Float = value(c).asInstanceOf[Float]
    override def getBoolean(c: Int): Boolean = value(c).asInstanceOf[Boolean]
    override def getTimestamp(c: Int): Timestamp = value(c).asInstanceOf[Timestamp]
    override def getDate(c: Int): Date = value(c).asInstanceOf[Date]
    override def close(): Unit = ()
  }

  /** A from-scratch run (batch 0) must not find claims a PREVIOUS life
    * of the same checkpoint path left behind: deleting the checkpoint in
    * place while keeping the database hands the new run the old run's
    * surviving claims (pruneClaims keeps the last two), and when the new
    * batch ids reach them those whole micro-batches of FRESH data would
    * silently roll back as "replays" (r18 self-review). Batch 0 with a
    * surviving batch_id > 0 claim is impossible in any legitimate flow —
    * a resumed checkpoint never restarts at 0, and a new checkpoint path
    * is a new scope — so it fails loudly with the remediation instead.
    */
  private[graft] def assertNoStaleClaims(url: String, table: String,
                                         appId: String): Unit = {
    val conn = connect(url)
    try {
      val st = conn.prepareStatement(
        s"SELECT count(*) FROM ${table}_commits " +
        "WHERE app_id = ? AND batch_id > 0")
      try {
        st.setString(1, appId)
        val rs = st.executeQuery()
        rs.next()
        val stale = rs.getLong(1)
        rs.close()
        if (stale > 0)
          throw new IllegalStateException(
            s"checkpoint was reset in place but ${table}_commits still " +
            s"holds $stale claim(s) for its scope $appId at batch_id > 0 " +
            "— fresh batches reaching those ids would be silently " +
            "dropped as replays. Use a NEW checkpoint path, or delete " +
            "this scope's rows from the commits table.")
      } finally st.close()
    } finally conn.close()
  }

  /** Drop claims no replay can ever match again: structured streaming
    * replays at most the in-flight epoch, so once `currentBatch` commits,
    * claims below `currentBatch - 1` (one epoch of slack) are dead weight.
    * Without pruning the commits table and its PK index grow by one row
    * per micro-batch FOREVER — ~86k rows/day at a 1 s trigger. Only the
    * streaming path calls this (its checkpoint guarantees monotonic batch
    * ids); the [[writeBatch]] primitive stays pruning-free so callers
    * replaying arbitrary old batches keep their idempotence.
    */
  def pruneClaims(url: String, table: String, appId: String,
                  currentBatch: Long): Unit = {
    val conn = connect(url)
    try {
      val st = conn.prepareStatement(
        s"DELETE FROM ${table}_commits WHERE app_id = ? AND batch_id < ?")
      try {
        st.setString(1, appId)
        st.setLong(2, currentBatch - 1)
        st.executeUpdate()
      } finally st.close()
    } finally conn.close()
  }

  /** R7 end-to-end: stream into the embedded database with checkpointing;
    * restart-safe (no dupes) by the commit-log claim above, scoped to this
    * checkpoint's app id. Committed epochs prune the claim log they can
    * no longer replay into.
    */
  def sink(df: DataFrame, url: String, table: String, batchSize: Int,
           checkpoint: String,
           trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val appId = appIdFor(checkpoint)
    ensureTables(url, table, df.schema)
    df.writeStream
      .foreachBatch { (b: DataFrame, id: Long) =>
        if (id == 0L) assertNoStaleClaims(url, table, appId)
        writeBatch(b, id, url, table, batchSize, appId)
        pruneClaims(url, table, appId, id)
      }
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .start()
  }
}
