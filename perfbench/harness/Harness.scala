package graft.perfbench

import java.io.{BufferedReader, File, InputStreamReader, PrintWriter}
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentLinkedQueue, TimeUnit}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}

import graft.SparkEntry
import graft.sources.{Dump1090MicroBatchStream, LineOffset, Sbs1}
import graft.streaming.TransactionalJdbcSink
import graft.tools.Dump1090StreamParser

/** Engine side of the benchmark: one JVM per run, driven by perfbench/run.py
  * with `key=value` arguments. It times calls into the program's public entry
  * points from outside and writes what it saw to `<run_dir>/engine.json`
  * (and, traced, `<run_dir>/spans.jsonl`); run.py turns that into metrics and
  * checks the outputs.
  *
  * Workloads:
  *  - feed_live: `Dump1090StreamParser.run` at its CLI defaults against
  *    the generator (perfbench/gen.py, a child process): a live window, then
  *    backlog bursts on the same query;
  *  - query_mix: `SparkEntry.queries` over a fixed key list.
  */
object Harness {

  final case class Opts(m: Map[String, String]) {
    def apply(k: String): String =
      m.getOrElse(k, throw new IllegalArgumentException(s"missing argument $k="))
    def int(k: String): Int = apply(k).toInt
    def double(k: String): Double = apply(k).toDouble
    def get(k: String): Option[String] = m.get(k)
  }

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuS(): Double = osBean.getProcessCpuTime / 1e9
  def gcS(): Double = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum / 1e3
  def jvmStartMs(): Double = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble

  /** Peak resident set of this process (VmHWM), in MB. */
  def rssPeakMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
    }

  def main(args: Array[String]): Unit = {
    val o = Opts(args.map { a =>
      val i = a.indexOf('=')
      require(i > 0, s"argument $a is not key=value")
      a.take(i) -> a.drop(i + 1)
    }.toMap)
    val runDir = o("run_dir")
    val tr = new Tracer(o("trace") == "1")
    val rep = mutable.LinkedHashMap[String, Any]()
    rep("env") = Map(
      "nproc" -> Runtime.getRuntime.availableProcessors(),
      "load1" -> osBean.getSystemLoadAverage,
      "jvm_args" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
        .filter(a => a.startsWith("-Xm") || a.startsWith("-XX")).toSeq,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "java" -> System.getProperty("java.version"))
    var spark: SparkSession = null
    try {
      o("workload") match {
        case "feed_live" => spark = Feed.run(o, tr, rep)
        case "query_mix" => spark = QueryMix.run(o, tr, rep)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      if (tr.enabled) {
        Isolation.run(spark, o, tr, rep)
        org.apache.spark.PerfbenchListenerBus.drain(spark.sparkContext)
        writeSpans(s"$runDir/spans.jsonl", tr)
      }
      rep("codegen") = codegen()
      rep("rss_peak_mb") = rssPeakMb()
      rep("ok") = true
    } catch {
      case t: Throwable =>
        t.printStackTrace()
        rep("ok") = false
        rep("error") = t.toString
    } finally {
      Files.writeString(Paths.get(s"$runDir/engine.json"), Json.write(rep))
      if (spark != null) spark.stop()
    }
    System.exit(if (rep("ok") == true) 0 else 1)
  }

  /** Spark's own janino compile histogram: (compilations, mean ms). */
  private def codegen(): Map[String, Double] = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    Map("count" -> h.getCount.toDouble, "mean_ms" -> h.getSnapshot.getMean)
  }

  private def writeSpans(path: String, tr: Tracer): Unit = {
    val w = new PrintWriter(path, "UTF-8")
    try tr.spans.sortBy(_.id).foreach { s =>
      w.println(Json.write(Map(
        "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "attrs" -> s.attrs,
        "counts" -> tr.jobs.get(s.countKey),
        "sink_task_ms" -> tr.jobs.sinkTaskMs(s.countKey))))
    } finally w.close()
  }

  /** `SparkSession` config every workload shares: the run owns its
    * warehouse and scratch space. */
  def baseBuilder(runDir: String): SparkSession.Builder =
    SparkSession.builder()
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .config("spark.local.dir", s"$runDir/tmp")
}

/** CPU time of the engine's Java threads since construction. The JIT
  * compiler and GC workers are not Java threads, so their warm-up work,
  * which varies from run to run, is left out; threads that end inside the
  * interval are lost, which the long-lived executor and stream threads do
  * not. */
final class ThreadCpu {
  private val tb = ManagementFactory.getThreadMXBean
  private def snap(): Map[Long, Long] =
    tb.getAllThreadIds.map(id => id -> tb.getThreadCpuTime(id)).filter(_._2 >= 0).toMap
  private val start = snap()
  def seconds(): Double =
    snap().iterator.map { case (id, c) => c - start.getOrElse(id, 0L) }.filter(_ > 0).sum / 1e9
}

/** The generator child process (perfbench/gen.py serve): one command per
  * line on its stdin, one reply line on its stdout. */
final class Generator(cmd: Seq[String], logFile: String) {
  private val proc = new ProcessBuilder(cmd.asJava)
    .redirectError(new File(logFile)).start()
  private val in = new PrintWriter(proc.getOutputStream, true)
  private val out = new BufferedReader(
    new InputStreamReader(proc.getInputStream, StandardCharsets.US_ASCII))

  def read(): Array[String] = {
    val l = out.readLine()
    if (l == null) throw new IllegalStateException(
      s"generator exited (${proc.waitFor()}); see $logFile")
    if (l.startsWith("error")) throw new IllegalStateException(s"generator: $l")
    l.split(" ")
  }
  def send(c: String): Unit = in.println(c)
  def ask(c: String): Array[String] = { send(c); read() }
  val port: Int = read()(1).toInt

  def close(): Unit = {
    try { send("quit"); in.close() } catch { case _: Exception => }
    if (!proc.waitFor(10, TimeUnit.SECONDS)) {
      proc.destroyForcibly()
      proc.waitFor()
    }
    ()
  }
}

/** One StreamingQueryProgress as received. */
final case class Progress(queryId: String, batchId: Long, recvMs: Double,
                          startMs: Double, start: Long, end: Long, rows: Long,
                          durations: Map[String, Long])

final class ProgressLog extends StreamingQueryListener {
  val events = new ConcurrentLinkedQueue[Progress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val now = Clock.nowMs()
    val p = e.progress
    def off(s: String): Long = Option(s).filter(_.forall(_.isDigit)).filter(_.nonEmpty)
      .map(_.toLong).getOrElse(0L)
    val src = p.sources.headOption
    events.add(Progress(p.id.toString, p.batchId, now,
      java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
      src.map(s => off(s.startOffset)).getOrElse(0L),
      src.map(s => off(s.endOffset)).getOrElse(0L),
      p.numInputRows,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
    ()
  }

  def of(q: StreamingQuery): Seq[Progress] =
    events.asScala.filter(_.queryId == q.id.toString).toSeq.sortBy(_.batchId)

  /** Waits for the first progress of `q` satisfying `p`. */
  def await(q: StreamingQuery, timeoutS: Double)(p: Progress => Boolean): Progress = {
    val deadline = System.nanoTime() + (timeoutS * 1e9).toLong
    var hit = of(q).find(p)
    while (hit.isEmpty) {
      q.exception.foreach(e => throw new IllegalStateException("query failed", e))
      if (System.nanoTime() > deadline)
        throw new IllegalStateException(
          s"no matching progress within $timeoutS s; last: ${of(q).lastOption}")
      Thread.sleep(2)
      hit = of(q).find(p)
    }
    hit.get
  }
}

/** feed_live: the paper's pipeline, socket to Derby. */
object Feed {
  import Harness._

  def run(o: Opts, tr: Tracer, rep: mutable.Map[String, Any]): SparkSession = {
    val runDir = o("run_dir")
    // the session Dump1090StreamParser.main builds
    val spark = tr.span("setup.session_start") {
      baseBuilder(runDir)
        .master(o.get("master").getOrElse("local[*]"))
        .appName("dump1090-stream-parser")
        .config("spark.sql.shuffle.partitions", "32")
        .getOrCreate()
    }
    rep("session_start_s") = (Clock.nowMs() - jvmStartMs()) / 1e3
    tr.sc = Some(spark.sparkContext)
    if (tr.enabled) spark.sparkContext.addSparkListener(tr.jobs)
    val prog = new ProgressLog
    spark.streams.addListener(prog)
    val gen = new Generator(Seq(o("gen_python"), o("gen_script"), "serve",
      "--seed", o("seed"), "--rate", o("rate")), s"$runDir/gen.log")
    try {
      // set-up, repeated: table creation, query start, source connect, and
      // the first (empty) batch committed; the last one is kept
      val setups = ArrayBuffer.empty[Double]
      var query: StreamingQuery = null
      val nSetups = o.int("setups")
      for (i <- 0 until nSetups) {
        val t0 = Clock.nowMs()
        tr.span("setup.stream", Map("repeat" -> i)) {
          val cfg = Dump1090StreamParser.Config(
            location = "127.0.0.1", port = gen.port,
            database = s"$runDir/db$i", checkpoint = Some(s"$runDir/ckpt$i"))
          gen.send("accept")
          val q = tr.span("setup.query_start") { Dump1090StreamParser.run(spark, cfg) }
          tr.span("setup.first_batch") {
            gen.read()
            prog.await(q, 120)(_.batchId == 0)
          }
          setups += (Clock.nowMs() - t0) / 1e3
          if (i < nSetups - 1) q.stop() else query = q
        }
      }
      rep("setup_stream_s") = setups.toSeq
      val q = query
      val db = s"$runDir/db${nSetups - 1}"
      var sent = 0L
      if (o.double("seconds") > 0) {
        // untimed warm-up traffic, so the measured window starts with the
        // data path compiled
        val w = tr.span("setup.warm_feed") {
          val w = gen.ask(s"live ${o("warm_seconds")}")
          prog.await(q, 60)(_.end >= w(2).toLong + w(3).toLong)
          w
        }
        val cpu0 = cpuS(); val gc0 = gcS(); val th = new ThreadCpu
        val r = tr.span("measure.live") { gen.ask(s"live ${o("seconds")}") }
        val (t0, first, total, late) = (r(1).toDouble, r(2).toLong, r(3).toLong, r(4).toDouble)
        val done = tr.span("measure.drain") {
          prog.await(q, 60)(_.end >= first + total)
        }
        rep("cpu_s") = th.seconds()
        rep("process_cpu_s") = cpuS() - cpu0
        rep("gc_s") = gcS() - gc0
        rep("live") = Map("t0_ms" -> t0, "first" -> first, "lines" -> total,
          "late_ms_max" -> late, "done_ms" -> done.recvMs,
          "warm_lines" -> w(3).toLong, "warm_late_ms_max" -> w(4).toDouble)
        sent = first + total
      }
      // backlog bursts on the same query: the per-row view of the pipeline
      val bursts = (0 until o.int("bursts")).map { i =>
        val b = drainBurst(gen, prog, q, tr, o.int("burst_lines"), i)
        sent = b("first").asInstanceOf[Long] + b("lines").asInstanceOf[Long]
        b
      }
      rep("bursts") = bursts
      rep("lines_sent") = sent
      val batches = prog.of(q)
      q.stop()
      rep("batches") = batches.map(b => Map(
        "batch" -> b.batchId, "recv_ms" -> b.recvMs, "start_ms" -> b.startMs,
        "start" -> b.start, "end" -> b.end, "rows" -> b.rows,
        "durations" -> b.durations))
      traceBatches(tr, q, batches)
      readBack(Dump1090StreamParser.jdbcUrl(db), runDir, rep)
    } finally gen.close()
    spark
  }

  /** One backlog burst: the generator renders `lines` lines, then writes
    * them as fast as the socket accepts; waits for the commit of the last. */
  private def drainBurst(gen: Generator, prog: ProgressLog, q: StreamingQuery,
                         tr: Tracer, lines: Int, i: Int): Map[String, Any] = {
    gen.ask(s"hold $lines")
    val th = new ThreadCpu
    val r = tr.span("measure.burst", Map("burst" -> i)) { gen.ask("burst") }
    val (tFirst, first, n) = (r(1).toDouble, r(3).toLong, r(4).toLong)
    val done = tr.span("measure.drain") { prog.await(q, 120)(_.end >= first + n) }
    Map("t_first_ms" -> tFirst, "first" -> first, "lines" -> n,
      "done_ms" -> done.recvMs, "cpu_s" -> th.seconds())
  }

  /** Phases of a micro-batch in the order MicroBatchExecution runs them. */
  private val phaseOrder = Seq("latestOffset", "walCommit", "getBatch",
    "queryPlanning", "addBatch", "commitOffsets")

  private def traceBatches(tr: Tracer, q: StreamingQuery, bs: Seq[Progress]): Unit =
    bs.filter(_.rows > 0).foreach { b =>
      val total = b.durations.getOrElse("triggerExecution", 0L).toDouble
      val id = tr.record("streaming.batch", 0L, b.startMs, b.startMs + total,
        Map("batch" -> b.batchId, "rows" -> b.rows, "start" -> b.start, "end" -> b.end),
        s"batch:${q.id}:${b.batchId}")
      var t = b.startMs
      (phaseOrder ++ b.durations.keys.toSeq.sorted.filterNot(k =>
          phaseOrder.contains(k) || k == "triggerExecution"))
        .foreach { k =>
          b.durations.get(k).foreach { d =>
            tr.record(s"streaming.batch.$k", id, t, t + d)
            t += d
          }
        }
    }

  /** Committed rows, back out of Derby: one `seq\tdate time` line per row,
    * plus per-column NULL counts. */
  private def readBack(url: String, runDir: String,
                       rep: mutable.Map[String, Any]): Unit = {
    val conn = TransactionalJdbcSink.connect(url)
    try {
      val st = conn.createStatement()
      val w = new PrintWriter(s"$runDir/rows.tsv", "UTF-8")
      try {
        val rs = st.executeQuery(
          "SELECT session_id, generated_date, generated_time FROM squitters")
        while (rs.next())
          w.println(s"${rs.getInt(1)}\t${rs.getString(2)} ${rs.getString(3)}")
        rs.close()
      } finally w.close()
      val names = Sbs1.Fields.map(_._1)
      val rs = st.executeQuery("SELECT COUNT(*), " +
        names.map(n => s"COUNT($n)").mkString(", ") + " FROM squitters")
      rs.next()
      val n = rs.getLong(1)
      rep("nulls") = names.zipWithIndex.map { case (c, i) => c -> (n - rs.getLong(i + 2)) }.toMap
      rs.close()
      st.close()
    } finally conn.close()
  }
}

/** query_mix: timed passes over a fixed key list of `SparkEntry.queries`. */
object QueryMix {
  import Harness._

  /** Operator module of each key, by membership in the module's inventory. */
  private val modules: Seq[(String, Set[String])] = Seq(
    "RelationalQueries" -> graft.operators.RelationalQueries.queries.keySet,
    "WindowQueries" -> graft.operators.WindowQueries.queries.keySet,
    "GroupingQueries" -> graft.operators.GroupingQueries.queries.keySet,
    "EventTimeQueries" -> graft.operators.EventTimeQueries.queries.keySet,
    "Sbs1Queries" -> graft.operators.Sbs1Queries.queries.keySet,
    "DedupQueries" -> graft.operators.DedupQueries.queries.keySet,
    "SimilarityQueries" -> graft.operators.SimilarityQueries.queries.keySet,
    "TextQueries" -> graft.operators.TextQueries.queries.keySet,
    "StatsQueries" -> graft.operators.StatsQueries.queries.keySet,
    "PipelineQueries" -> graft.operators.PipelineQueries.queries.keySet)
  def moduleOf(key: String): String =
    modules.find(_._2(key)).map(_._1).getOrElse("other")

  def run(o: Opts, tr: Tracer, rep: mutable.Map[String, Any]): SparkSession = {
    val runDir = o("run_dir")
    val sf = o("sf_dir")
    val keys = o("keys").split(",").toSeq
    val unknown = keys.filterNot(SparkEntry.queries.keySet)
    require(unknown.isEmpty, s"unknown query keys: ${unknown.mkString(", ")}")
    // the session graft.Bench builds, at this machine's core count
    val cpus = Runtime.getRuntime.availableProcessors().toString
    val spark = tr.span("setup.session_start") {
      baseBuilder(runDir)
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.ui.retainedExecutions", "8")
        .config("spark.ui.retainedJobs", "100")
        .config("spark.ui.retainedStages", "100")
        .config("spark.ui.retainedTasks", "1000")
        .config("spark.sql.codegen.cache.maxEntries", "4096")
        .getOrCreate()
    }
    spark.sparkContext.setLogLevel("WARN")
    rep("session_start_s") = (Clock.nowMs() - jvmStartMs()) / 1e3
    tr.sc = Some(spark.sparkContext)
    if (tr.enabled) spark.sparkContext.addSparkListener(tr.jobs)

    val t = Clock.nowMs()
    tr.span("api.catalog_register") { graft.api.CatalogOps.registerFixtureTagged(spark, sf) }
    rep("catalog_register_s") = (Clock.nowMs() - t) / 1e3
    val phases = graft.operators.DedupQueries.indexPhases(spark, sf) ++
      graft.operators.EventTimeQueries.lagPhases(spark, sf) ++
      graft.operators.SimilarityQueries.trainPhases(spark, sf) ++
      graft.operators.TextQueries.trainPhases(spark, sf) ++
      graft.operators.StatsQueries.statsPhases(spark, sf)
    val wanted = o("phases").split(",").filter(_.nonEmpty).toSet
    rep("phases") = phases.filter(p => wanted(p._1)).map { case (name, f, src) =>
      val t0 = Clock.nowMs()
      tr.span(s"api.artifact_build.$name") { f() }
      Map("name" -> name, "s" -> (Clock.nowMs() - t0) / 1e3, "source" -> src())
    }
    rep("artifact_bytes") = dirBytes(new File(s"$runDir/warehouse"))

    // untimed warm pass; its results are dumped for run.py's checks and its
    // hashes are what every timed execution must reproduce
    val resultsDir = s"$runDir/results"
    val t1 = Clock.nowMs()
    val warm = tr.span("setup.warm_pass") {
      keys.map { k =>
        val e = execute(spark, tr, sf, k)
        e.rows.foreach { rows =>
          val df = spark.createDataFrame(rows.asJava, e.schema)
          df.coalesce(1).write.mode("overwrite").parquet(s"$resultsDir/$k")
        }
        k -> e
      }.toMap
    }
    rep("warm_pass_s") = (Clock.nowMs() - t1) / 1e3
    rep("setup_s") = (Clock.nowMs() - jvmStartMs()) / 1e3
    Files.writeString(Paths.get(s"$runDir/oracle_sql.json"), Json.write(
      keys.flatMap(k => SparkEntry.oracleSql.get(k).map(k -> _)).toMap))

    System.gc() // the timed passes start from the same heap floor
    val cpu0 = cpuS(); val gc0 = gcS(); val th = new ThreadCpu
    val execs = ArrayBuffer.empty[Map[String, Any]]
    val passes = ArrayBuffer.empty[Double]
    val measureStart = Clock.nowMs()
    while (passes.isEmpty || passes.length < o.int("min_passes") ||
           (Clock.nowMs() - measureStart) / 1e3 < o.double("seconds")) {
      val p0 = Clock.nowMs()
      tr.span("measure.pass", Map("pass" -> passes.length)) {
        keys.foreach { k =>
          val e = execute(spark, tr, sf, k)
          val w = warm(k)
          val ok = e.error.isEmpty && w.error.isEmpty &&
            e.hash == w.hash && e.count == w.count
          execs += Map("pass" -> passes.length, "key" -> k,
            "build_ms" -> e.buildMs, "plan_ms" -> e.planMs, "exec_ms" -> e.execMs,
            "cpu_ms" -> e.cpuMs, "rows" -> e.count, "ok" -> ok,
            "error" -> e.error.getOrElse(""))
        }
      }
      passes += (Clock.nowMs() - p0) / 1e3
    }
    rep("cpu_s") = th.seconds()
    rep("process_cpu_s") = cpuS() - cpu0
    rep("gc_s") = gcS() - gc0
    rep("passes_s") = passes.toSeq
    rep("executions") = execs.toSeq
    rep("warm") = warm.map { case (k, e) =>
      k -> Map("rows" -> e.count, "ms" -> (e.buildMs + e.planMs + e.execMs),
        "error" -> e.error.getOrElse(""))
    }
    spark
  }

  final case class Exec(buildMs: Double, planMs: Double, execMs: Double,
                        cpuMs: Double, rows: Option[Seq[Row]],
                        schema: org.apache.spark.sql.types.StructType,
                        count: Long, hash: Long, error: Option[String])

  /** One execution: build the DataFrame, plan it up to the executed plan,
    * collect every row (every column evaluated). */
  def execute(spark: SparkSession, tr: Tracer, sf: String, key: String): Exec = {
    val m = moduleOf(key)
    tr.span(s"operators.$m", Map("key" -> key)) {
      val th = new ThreadCpu
      val t0 = Clock.nowMs()
      try {
        val df: DataFrame = tr.span(s"operators.$m.build") { SparkEntry.queries(key)(spark, sf) }
        val t1 = Clock.nowMs()
        tr.span(s"operators.$m.plan") { df.queryExecution.executedPlan }
        val t2 = Clock.nowMs()
        val rows = tr.span(s"operators.$m.exec") { df.collect().toSeq }
        val t3 = Clock.nowMs()
        Exec(t1 - t0, t2 - t1, t3 - t2, th.seconds() * 1e3, Some(rows), df.schema,
          rows.length, RowHash.of(rows), None)
      } catch {
        case e: Exception =>
          Exec(0, 0, Clock.nowMs() - t0, th.seconds() * 1e3, None, null, -1, 0,
            Some(e.toString.take(300)))
      }
    }
  }

  def dirBytes(f: File): Long =
    if (!f.exists()) 0L
    else if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)
}

/** Order-insensitive hash of a result: the sum of per-row 64-bit hashes of a
  * canonical text form (doubles at 10 significant digits, so a last-bit
  * difference from a different summation order does not count). */
object RowHash {
  private def canon(v: Any): String = v match {
    case null => "NULL"
    case d: Double => String.format(java.util.Locale.ROOT, "%.10g", Double.box(d))
    case f: Float => String.format(java.util.Locale.ROOT, "%.10g", Double.box(f.toDouble))
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case r: Row => r.toSeq.map(canon).mkString("{", ",", "}")
    case s: scala.collection.Map[_, _] =>
      s.toSeq.map { case (k, x) => canon(k) + ":" + canon(x) }.sorted.mkString("<", ",", ">")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case x => x.toString
  }
  def of(rows: Seq[Row]): Long = rows.iterator.map { r =>
    val s = canon(r)
    (scala.util.hashing.MurmurHash3.stringHash(s, 17).toLong << 32) ^
      (scala.util.hashing.MurmurHash3.stringHash(s, 31).toLong & 0xffffffffL)
  }.sum
}

/** Layer isolation calls, traced runs only: the socket source framing into
  * its spill log, the SBS-1 parse, and the JDBC sink on a static frame, each
  * on the generator's recording at `iso_file`. */
object Isolation {
  import Harness._

  def run(spark: SparkSession, o: Opts, tr: Tracer, rep: mutable.Map[String, Any]): Unit = {
    val runDir = o("run_dir")
    val file = o("iso_file")
    val lines = Files.readAllBytes(Paths.get(file))
    val nLines = lines.count(_ == '\n'.toByte)
    val out = mutable.LinkedHashMap[String, Any]("lines" -> nLines)

    // framing: a Dump1090MicroBatchStream with its spill log, fed by a local
    // server socket that writes the recording and closes
    tr.span("sources.frame") {
      val server = new java.net.ServerSocket(0, 1, java.net.InetAddress.getLoopbackAddress)
      val feeder = new Thread(() => {
        val s = server.accept()
        try s.getOutputStream.write(lines) finally s.close()
      })
      feeder.start()
      val spill = s"$runDir/iso_spill"
      val t0 = Clock.nowMs()
      val stream = new Dump1090MicroBatchStream("127.0.0.1", server.getLocalPort,
        bufferSize = 100, connectAttemptLimit = 1, connectAttemptDelayMs = 0,
        spillDir = Some(spill))
      try {
        while (stream.latestOffset().asInstanceOf[LineOffset].offset < nLines) Thread.sleep(1)
        val s = (Clock.nowMs() - t0) / 1e3
        out("frame_lines_per_s") = nLines / s
        out("spill_bytes_per_line") = QueryMix.dirBytes(new File(spill)).toDouble / nLines
      } finally {
        stream.stop()
        feeder.join()
        server.close()
      }
    }

    // parse: every column consumed by a noop write (count() would prune
    // all 22 casts), median of three
    val raw = spark.read.text(file)
    val parsed = Sbs1.parse(raw)
    val parseS = (0 until 3).map { i =>
      tr.span("sources.parse", Map("repeat" -> i)) {
        val t0 = Clock.nowMs()
        parsed.write.format("noop").mode("overwrite").save()
        (Clock.nowMs() - t0) / 1e3
      }
    }
    val nParsed = parsed.count()
    out("parsed_rows") = nParsed
    out("parse_rows_per_s") = nParsed / median(parseS)
    val names = Sbs1.Fields.map(_._1)
    import org.apache.spark.sql.functions.{col, count, lit}
    val cnt = parsed.agg(count(lit(1)), names.map(n => count(col(n))): _*).head()
    out("nulls") = names.zipWithIndex
      .map { case (n, i) => n -> (cnt.getLong(0) - cnt.getLong(i + 1)) }.toMap

    // sink: writeBatch of the cached parsed frame into a fresh database,
    // then the claim prune the streaming path runs after every batch
    val frame = parsed.cache()
    frame.count()
    val url = s"jdbc:derby:$runDir/iso_db;create=true"
    TransactionalJdbcSink.ensureTables(url, "squitters", frame.schema)
    val t0 = Clock.nowMs()
    tr.span("streaming.sink_write") {
      TransactionalJdbcSink.writeBatch(frame, 0L, url, "squitters", 1, "perfbench")
    }
    out("sink_rows_per_s") = nParsed / ((Clock.nowMs() - t0) / 1e3)
    val pruneMs = (0 until 5).map { i =>
      tr.span("streaming.prune", Map("repeat" -> i)) {
        val p0 = Clock.nowMs()
        TransactionalJdbcSink.pruneClaims(url, "squitters", "perfbench", 2L)
        Clock.nowMs() - p0
      }
    }
    out("prune_ms") = median(pruneMs)
    frame.unpersist()
    rep("isolation") = out
  }
}

/** JSON for the report and the spans (Jackson with its Scala module, both
  * shipped with Spark). */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
  def write(v: Any): String = mapper.writeValueAsString(v)
}
