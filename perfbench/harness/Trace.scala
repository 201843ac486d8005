package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Wall clock in epoch milliseconds with sub-millisecond resolution (the
  * generator stamps epoch times, so both sides must share the epoch). */
object Clock {
  private val epochMs0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs(): Double = epochMs0 + (System.nanoTime() - nano0) / 1e6
}

/** A recorded span: [startMs, endMs) in epoch ms, `parent` 0 for a root.
  * `countKey` names the [[JobCounter]] entry of the jobs that ran while the
  * span was the innermost one on the submitting thread (or of its batch). */
final case class Span(id: Long, parent: Long, name: String, startMs: Double,
                      endMs: Double, attrs: Map[String, Any], countKey: String)

/** In-memory span recorder. Disabled, `span` only runs its body, so the
  * untraced run pays nothing but a branch. The innermost span's id rides on
  * the SparkContext local property [[Tracer.SpanKey]], which tags every job
  * submitted inside it. */
final class Tracer(val enabled: Boolean) {
  private val nextId = new AtomicLong(1)
  private val done = ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }
  @volatile var sc: Option[SparkContext] = None
  val jobs = new JobCounter

  def current: Long = stack.get.headOption.getOrElse(0L)

  def span[T](name: String, attrs: Map[String, Any] = Map.empty)(f: => T): T =
    if (!enabled) f
    else {
      val id = nextId.getAndIncrement()
      val parent = current
      val start = Clock.nowMs()
      stack.set(id :: stack.get)
      sc.foreach(_.setLocalProperty(Tracer.SpanKey, id.toString))
      try f
      finally {
        val end = Clock.nowMs()
        stack.set(stack.get.tail)
        sc.foreach(_.setLocalProperty(Tracer.SpanKey,
          if (parent == 0L) null else parent.toString))
        add(Span(id, parent, name, start, end, attrs, s"span:$id"))
      }
    }

  /** Records a span measured elsewhere (a micro-batch from its progress
    * event); returns its id so children can hang off it. */
  def record(name: String, parent: Long, startMs: Double, endMs: Double,
             attrs: Map[String, Any] = Map.empty, countKey: String = ""): Long =
    if (!enabled) 0L
    else {
      val id = nextId.getAndIncrement()
      add(Span(id, parent, name, startMs, endMs, attrs, countKey))
      id
    }

  private def add(s: Span): Unit = done.synchronized { done += s; () }

  def spans: Seq[Span] = done.synchronized(done.toList)
}

object Tracer {
  val SpanKey = "perfbench.span"
  /** Set by MicroBatchExecution / StreamExecution on every job of a
    * micro-batch. */
  val BatchKey = "streaming.sql.batchId"
  val QueryKey = "sql.streaming.queryId"
}

/** Spark job and task counters, keyed by the span (`span:<id>`) or the
  * micro-batch (`batch:<id>`) that submitted the job. Registered only in a
  * traced run. */
final class JobCounter extends SparkListener {
  private val jobKey = new ConcurrentHashMap[Int, String]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val counts = new ConcurrentHashMap[String, ConcurrentHashMap[String, Double]]()
  // executor run time (ms) of each task of a result stage with
  // TransactionalJdbcSink.WritePartitions tasks, per key: the sink's writers
  private val sinkTasks = new ConcurrentHashMap[String, java.util.Vector[Double]]()
  private val sinkStages = ConcurrentHashMap.newKeySet[Int]()

  private def bump(key: String, name: String, v: Double): Unit = {
    counts.computeIfAbsent(key, _ => new ConcurrentHashMap[String, Double]())
      .merge(name, v, (a: Double, b: Double) => a + b)
    ()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    val key = prop(Tracer.BatchKey).map(b => s"batch:${prop(Tracer.QueryKey).orNull}:$b")
      .orElse(prop(Tracer.SpanKey).map("span:" + _))
      .getOrElse("none")
    jobKey.put(e.jobId, key)
    e.stageInfos.foreach(s => stageJob.put(s.stageId, e.jobId))
    val result = e.stageInfos.maxByOption(_.stageId)
    result.filter(_.numTasks == graft.streaming.TransactionalJdbcSink.WritePartitions)
      .foreach(s => sinkStages.add(s.stageId))
    bump(key, "jobs", 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val job = stageJob.get(e.stageId)
    val key = Option(jobKey.get(job)).getOrElse("none")
    bump(key, "tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      bump(key, "shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      bump(key, "shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      bump(key, "spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      bump(key, "task_run_ms", m.executorRunTime.toDouble)
      bump(key, "task_cpu_ms", m.executorCpuTime / 1e6)
      if (sinkStages.contains(e.stageId))
        sinkTasks.computeIfAbsent(key, _ => new java.util.Vector[Double]())
          .add(m.executorRunTime.toDouble)
    }
  }

  /** The counters of `key`; read after the listener bus has drained. */
  def get(key: String): Map[String, Double] =
    Option(counts.get(key)).map(_.asScala.toMap).getOrElse(Map.empty)

  def sinkTaskMs(key: String): Seq[Double] =
    Option(sinkTasks.get(key)).map(_.asScala.toSeq).getOrElse(Nil)
}
