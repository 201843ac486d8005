package graft.tools

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.streaming.{StreamingOps, TransactionalJdbcSink}

/** CLI parity with the reference's entry point
  * (reference-reconstruction/dump1090-stream-parser.py P:22-43): the same
  * argument surface, defaults included, driving socket → parse → queryable
  * embedded SQL database with checkpointing.
  *
  *   runMain graft.tools.Dump1090StreamParser \
  *     --location localhost --port 30003 --database adsb_messages.db \
  *     --buffer-size 100 --batch-size 1 \
  *     --connect-attempt-limit 10 --connect-attempt-delay 5.14
  *
  * `--database` is a Derby database path (`:memory:` gives an in-memory
  * database, like upstream's `:memory:`, P:28); the rows land in a
  * `squitters` table with upstream's 22 columns + parsed_time (P:55-81).
  * `--batch-size` is the JDBC statement-batch size (upstream's commit
  * amortization knob, P:32-35); durability/exactly-once comes from the
  * one transaction per micro-batch + commit log (TransactionalJdbcSink).
  * Ctrl-C stops the query gracefully and reports totals (R11/R12,
  * P:172-178).
  */
object Dump1090StreamParser {

  case class Config(
      location: String = "localhost",
      port: Int = 30003,
      database: String = "adsb_messages.db",
      bufferSize: Int = 100,
      batchSize: Int = 1,
      connectAttemptLimit: Int = 10,
      connectAttemptDelay: Double = 5.14,
      checkpoint: Option[String] = None)

  private val usage =
    """usage: dump1090-stream-parser [-h] [-l LOCATION] [-p PORT] [-d DATABASE]
      |         [--buffer-size N] [--batch-size N]
      |         [--connect-attempt-limit N] [--connect-attempt-delay SECS]
      |         [--checkpoint DIR]
      |
      |A program to process dump1090 messages then insert them into a database
      |
      |  -l, --location           network location of the dump1090 broadcast
      |                           (default localhost)
      |  -p, --port               SBS-1 BaseStation port (default 30003)
      |  -d, --database           database path, or :memory: (default
      |                           adsb_messages.db)
      |  --buffer-size            bytes per socket read (default 100)
      |  --batch-size             rows per JDBC statement batch (default 1)
      |  --connect-attempt-limit  connect retries before quitting (default 10)
      |  --connect-attempt-delay  seconds between retries (default 5.14)
      |  --checkpoint             checkpoint dir (default: temp dir)
      |""".stripMargin

  /** argparse twin: `--opt value`, `--opt=value`, and the -l/-p/-d shorts. */
  def parseArgs(argv: Seq[String]): Config = {
    def fail(msg: String): Nothing = {
      System.err.println(msg); System.err.println(usage); sys.exit(2)
    }
    var c = Config()
    var rest = argv.flatMap { a =>
      if (a.startsWith("--") && a.contains('=')) {
        val Array(k, v) = a.split("=", 2); Seq(k, v)
      } else Seq(a)
    }.toList
    while (rest.nonEmpty) rest match {
      case ("-h" | "--help") :: _ => println(usage); sys.exit(0)
      case ("-l" | "--location") :: v :: t => c = c.copy(location = v); rest = t
      case ("-p" | "--port") :: v :: t => c = c.copy(port = v.toInt); rest = t
      case ("-d" | "--database") :: v :: t => c = c.copy(database = v); rest = t
      case "--buffer-size" :: v :: t => c = c.copy(bufferSize = v.toInt); rest = t
      case "--batch-size" :: v :: t => c = c.copy(batchSize = v.toInt); rest = t
      case "--connect-attempt-limit" :: v :: t =>
        c = c.copy(connectAttemptLimit = v.toInt); rest = t
      case "--connect-attempt-delay" :: v :: t =>
        c = c.copy(connectAttemptDelay = v.toDouble); rest = t
      case "--checkpoint" :: v :: t => c = c.copy(checkpoint = Some(v)); rest = t
      case other :: _ => fail(s"unrecognized argument: $other")
      case Nil => ()
    }
    c
  }

  /** Rows actually committed to the squitters table (claims-skipped
    * replays excluded, prior runs against a persistent database included).
    */
  def writtenRows(url: String): Long = {
    val conn = TransactionalJdbcSink.connect(url)
    try {
      val st = conn.createStatement()
      try {
        val rs = st.executeQuery("SELECT COUNT(*) FROM squitters")
        try { rs.next(); rs.getLong(1) } finally rs.close()
      } finally st.close()
    } finally conn.close()
  }

  def jdbcUrl(database: String): String =
    if (database == ":memory:") "jdbc:derby:memory:adsb_messages;create=true"
    else s"jdbc:derby:$database;create=true"

  /** Default checkpoint: deterministic from the database path, so rerunning
    * against the same persistent database resumes the same offsets and claim
    * scope instead of replaying under a colliding fresh epoch numbering. An
    * in-memory database dies with the process, so it gets a temp checkpoint.
    */
  def defaultCheckpoint(database: String): String =
    if (database == ":memory:")
      java.nio.file.Files.createTempDirectory("d1090ckpt").toString
    else new java.io.File(database).getAbsolutePath + ".checkpoint"

  /** Build the full pipeline (R1-R13): socket source → SBS-1 parse →
    * transactional squitters sink. Returns the running query.
    */
  def run(spark: SparkSession, c: Config,
          trigger: Trigger = Trigger.ProcessingTime("1 second")): StreamingQuery = {
    val squitters = StreamingOps.ingestSocket(spark, c.location, c.port, Map(
      "bufferSize" -> c.bufferSize.toString,
      "connectAttemptLimit" -> c.connectAttemptLimit.toString,
      "connectAttemptDelay" -> c.connectAttemptDelay.toString))
    val ckpt = c.checkpoint.getOrElse(defaultCheckpoint(c.database))
    TransactionalJdbcSink.sink(
      squitters, jdbcUrl(c.database), "squitters", c.batchSize, ckpt, trigger)
  }

  def main(argv: Array[String]): Unit = {
    val c = parseArgs(argv.toIndexedSeq)
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
      .appName("dump1090-stream-parser")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    // R11: lifetime totals via listener — recentProgress is a ring buffer
    // capped at numRecentProgressUpdates and undercounts long sessions
    val metrics = new graft.streaming.IngestMetrics
    spark.streams.addListener(metrics)
    val query = run(spark, c)
    // R12: Ctrl-C → stop, final report (P:172-178). "Written" comes from
    // the database itself: the listener's numInputRows counts replayed
    // batches whose claims the sink skipped, so after a
    // restart-from-checkpoint it overstates what actually landed.
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      try {
        query.stop()
        println(s"${writtenRows(jdbcUrl(c.database))} rows written to " +
          s"${c.database} (${metrics.totalRows} ingested this run)")
      } catch {
        case NonFatal(e) =>
          System.err.println(s"dump1090-stream-parser: shutdown report failed: $e")
          e.printStackTrace()
      }
    }))
    query.awaitTermination()
  }
}
