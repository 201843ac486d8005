package graft.streaming

import java.sql.{Connection, DriverManager, SQLException, Types}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, hash, lit, pmod}
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
  * nothing funnels through the driver) holding one transaction: the claim
  * plus every row. A failed batch rolls back its open transaction before
  * the connection closes — Derby otherwise fails the close (SQLState
  * 25001), masking the real error and keeping the claim-row lock alive
  * until lock timeout.
  *
  * `batchSize` plays upstream's `--batch-size` amortization role at the
  * JDBC layer: rows are flushed with executeBatch every `batchSize` rows.
  * The DURABILITY unit here is the micro-batch transaction (that is what
  * makes replays exactly-once), not every `batchSize` rows as in the
  * reference — documented divergence.
  */
object TransactionalJdbcSink {

  /** Write-side partition count: one writer, one transaction and one
    * claim per micro-batch.
    */
  val WritePartitions = 1

  /** partition_id of the whole-batch claim. Older builds claimed slices
    * 0 until [[LegacySlices]] of each batch; this id is one they never used,
    * so a claim from either layout can never be mistaken for the other.
    */
  private val BatchClaim = -1

  /** Slice count of the older layout: `pmod(hash(all columns), 8)` per row,
    * the slice function of the hash repartition that build wrote through.
    */
  private val LegacySlices = 8

  /** Derby-flavored DDL type for a Spark field. Strings get Derby's max
    * VARCHAR width: a narrower column would make any longer row a POISON
    * PILL — the INSERT fails (22001), the batch transaction rolls
    * back, the retry hits the same row, and the replayed batch wedges the
    * stream permanently.
    */
  private def ddlType(dt: DataType): String = dt match {
    case StringType    => "VARCHAR(32672)"
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

  private def sqlType(dt: DataType): Int = dt match {
    case StringType    => Types.VARCHAR
    case IntegerType   => Types.INTEGER
    case LongType      => Types.BIGINT
    case DoubleType    => Types.DOUBLE
    case FloatType     => Types.REAL
    case BooleanType   => Types.BOOLEAN
    case TimestampType => Types.TIMESTAMP
    case DateType      => Types.DATE
    case _             => Types.OTHER
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
    * an existing table surfaces as SQLState X0Y32 and is fine). A
    * pre-app_id commits table (two columns, PK (batch_id, partition_id))
    * left behind by an older build in a persistent database is migrated in
    * place: the three-value claim INSERT would otherwise fail on every
    * batch (column-count mismatch), bricking the sink on exactly the
    * persistent-database resume path the claim scope exists for.
    */
  def ensureTables(url: String, table: String, schema: StructType,
                   legacyClaimScope: Option[String] = None): Unit = {
    val conn = connect(url)
    try {
      def create(ddl: String): Boolean = {
        val st = conn.createStatement()
        try { st.execute(ddl); true }
        catch { case e: SQLException if e.getSQLState == "X0Y32" => false }
        finally st.close() // also on unexpected SQLExceptions (e.g. 40XL1)
      }
      create(s"CREATE TABLE $table (" +
        schema.fields.map(f => s"${f.name} ${ddlType(f.dataType)}").mkString(", ") + ")")
      val fresh = create(s"CREATE TABLE ${table}_commits (" +
        "app_id VARCHAR(64) NOT NULL, " +
        "batch_id BIGINT NOT NULL, partition_id INTEGER NOT NULL, " +
        s"PRIMARY KEY (app_id, batch_id, partition_id))")
      if (!fresh) migrateCommits(conn, table, legacyClaimScope)
    } finally conn.close()
  }

  /** Adds the app_id claim-scope column to a legacy commits table. Legacy
    * claims get scope 'default' — the writeBatch default before scoping
    * existed — so an old run's claims stay distinct from any
    * checkpoint-derived scope (MD5 hex, never the literal 'default'). The
    * primary key is rebuilt to include app_id; leaving it at
    * (batch_id, partition_id) would make two different apps' batch 0
    * collide and silently drop the second app's data as a replay.
    *
    * `legacyClaimScope`: when the caller KNOWS the legacy table belongs to
    * the checkpoint now resuming (the `sink` path — one checkpoint, one
    * database), the old claims are rewritten to that checkpoint's scope.
    * Left at 'default', the one in-flight batch whose transaction
    * committed just before the pre-upgrade process died would not match
    * its own claim under the new MD5 scope and would be re-inserted as
    * duplicates on the first post-upgrade restart — the exact crash-replay
    * case the claim log exists for. Callers wiring a database SHARED by
    * multiple legacy writers should pass None (claims stay at 'default';
    * they then accept that one-batch window per writer instead of
    * cross-writer claim collisions).
    */
  private def migrateCommits(conn: Connection, table: String,
                             legacyClaimScope: Option[String] = None): Unit = {
    val commits = s"${table}_commits"
    val rs = conn.getMetaData.getColumns(
      null, null, commits.toUpperCase(java.util.Locale.ROOT), "APP_ID")
    val hasAppId = try rs.next() finally rs.close()
    if (!hasAppId) {
      val st = conn.createStatement()
      try {
        st.execute(s"ALTER TABLE $commits ADD COLUMN app_id " +
          "VARCHAR(64) NOT NULL DEFAULT 'default'")
        st.execute(s"ALTER TABLE $commits DROP PRIMARY KEY")
        st.execute(s"ALTER TABLE $commits ADD CONSTRAINT ${commits}_pk " +
          "PRIMARY KEY (app_id, batch_id, partition_id)")
      } finally st.close()
      legacyClaimScope.foreach { scope =>
        val up = conn.prepareStatement(
          s"UPDATE $commits SET app_id = ? WHERE app_id = 'default'")
        try { up.setString(1, scope); up.executeUpdate() } finally up.close()
      }
    }
  }

  /** The partition_ids claimed so far for (appId, batchId). */
  private def claimsOf(url: String, table: String, appId: String,
                       batchId: Long): Set[Int] = {
    val conn = connect(url)
    try {
      val st = conn.prepareStatement(s"SELECT partition_id FROM ${table}_commits " +
        "WHERE app_id = ? AND batch_id = ?")
      try {
        st.setString(1, appId); st.setLong(2, batchId)
        val rs = st.executeQuery()
        try Iterator.continually(rs).takeWhile(_.next()).map(_.getInt(1)).toSet
        finally rs.close()
      } finally st.close()
    } finally conn.close()
  }

  /** Write one micro-batch exactly-once: one transaction containing the
    * (appId, batchId) commit-log claim plus all the rows.
    *
    * A batch already claimed returns without starting a Spark job. A
    * database resumed from an older build may hold some of that build's
    * per-slice claims for the in-flight batch (its slice transactions
    * committed independently); the rows of the claimed slices already
    * landed, so they are dropped and only the rest is written.
    */
  def writeBatch(batch: DataFrame, batchId: Long, url: String,
                 table: String, batchSize: Int,
                 appId: String = "default"): Unit = {
    val claimed = claimsOf(url, table, appId, batchId)
    if (claimed.contains(BatchClaim)) return
    // any claims left are the older layout's slice ids
    val pending =
      if (claimed.isEmpty) batch
      else batch.filter(!pmod(hash(batch.schema.fieldNames.map(col): _*),
                              lit(LegacySlices)).isin(claimed.toSeq: _*))
    val schema = batch.schema
    val insert = s"INSERT INTO $table (${schema.fieldNames.mkString(", ")}) " +
      s"VALUES (${schema.fieldNames.map(_ => "?").mkString(", ")})"
    // columns named explicitly: a migrated legacy table has app_id
    // appended LAST, so positional VALUES would bind the scope into
    // batch_id there
    val claim = s"INSERT INTO ${table}_commits " +
      "(app_id, batch_id, partition_id) VALUES (?, ?, ?)"
    val types = schema.fields.map(f => (f.dataType, sqlType(f.dataType)))
    val flushEvery = math.max(batchSize, 1)
    pending.coalesce(WritePartitions).foreachPartition { (rows: Iterator[Row]) =>
      val conn = connect(url)
      try {
        conn.setAutoCommit(false)
        val claimedNow =
          try {
            val st = conn.prepareStatement(claim)
            st.setString(1, appId); st.setLong(2, batchId); st.setInt(3, BatchClaim)
            st.executeUpdate(); st.close(); true
          } catch {
            // duplicate key — this epoch already committed in a previous
            // attempt (a task retry after the commit); replay is a no-op
            case e: SQLException if e.getSQLState == "23505" => false
          }
        if (claimedNow) {
          val ps = conn.prepareStatement(insert)
          var n = 0
          rows.foreach { r =>
            var i = 0
            while (i < types.length) {
              if (r.isNullAt(i)) ps.setNull(i + 1, types(i)._2)
              else types(i)._1 match {
                case StringType    => ps.setString(i + 1, r.getString(i))
                case IntegerType   => ps.setInt(i + 1, r.getInt(i))
                case LongType      => ps.setLong(i + 1, r.getLong(i))
                case DoubleType    => ps.setDouble(i + 1, r.getDouble(i))
                case FloatType     => ps.setFloat(i + 1, r.getFloat(i))
                case BooleanType   => ps.setBoolean(i + 1, r.getBoolean(i))
                case TimestampType => ps.setTimestamp(i + 1, r.getTimestamp(i))
                case DateType      => ps.setDate(i + 1, r.getDate(i))
                case _             => ps.setObject(i + 1, r.get(i))
              }
              i += 1
            }
            ps.addBatch()
            n += 1
            if (n % flushEvery == 0) ps.executeBatch()
          }
          ps.executeBatch()
          ps.close()
          conn.commit() // rows + claim become visible atomically
        } else conn.rollback()
      } catch {
        case t: Throwable =>
          // roll back the open transaction so close() doesn't throw 25001
          // over the real failure and the claim-row lock dies with us
          try conn.rollback() catch { case _: SQLException => () }
          throw t
      } finally conn.close()
    }
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
    // this path owns both the checkpoint and the database, so a legacy
    // (pre-scope) commits table's claims are rewritten into this
    // checkpoint's scope — the resumed in-flight batch keeps matching its
    // claim across the upgrade instead of replaying as duplicates
    ensureTables(url, table, df.schema, legacyClaimScope = Some(appId))
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
