package graft.tools

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.util.control.NonFatal

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import graft.GraftSession

/** Dev harness: per-query build/plan/exec attribution over MANY query keys
  * in one JVM (at 216 keys the sbt/session startup would dwarf a
  * one-key-per-JVM measurement).
  *
  *   sbt "runMain graft.tools.QueryProbe [keys|all] [sfDir] [n] [k=v ...]"
  *   sbt "runMain graft.tools.QueryProbe q_text_bm25"
  *
  * For each key and each of N fresh runs it times:
  *   build — SparkEntry.queries(key)(spark, dir)   (DataFrame construction:
  *           Scala closures, expr() parsing, fanOut's getNumPartitions)
  *   plan  — .queryExecution.executedPlan          (analysis + optimization
  *           + physical planning + codegen source gen)
  *   exec  — .count()                              (execution incl. AQE
  *           replanning and task run)
  * and prints one FRESH line per run with its cluster-side truth (jobs,
  * tasks, summed task time, janino compilations), then the per-key MIN of
  * each component plus their sum, sorted by total descending — the
  * bench-minimum attribution table the optimization rounds act on — and a
  * PLANSPLIT_JSON line (key -> [build, plan, exec] minima) for tooling.
  * SPARK_GRAFT_PROBE_STAGES=1 adds each fresh run's top stages by task
  * time. Trailing k=v args land on the session builder (static confs like
  * spark.sql.codegen.cache.maxEntries reject a post-build set) — for
  * bisecting codegen/AQE constants. The AQE-final plan of a key is
  * `PlanDump` with SPARK_GRAFT_PLANDUMP_EXEC=1.
  *
  * Phases/artifacts: the standard bench warmup phases run first (catalog +
  * index/model layers at the measured dir) and each key runs once
  * untimed, so per-key numbers are query-only cost, mirroring Bench's
  * attribution.
  */
object QueryProbe {
  def main(args: Array[String]): Unit = {
    val keysArg = if (args.nonEmpty) args(0) else "all"
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val n = if (args.length > 2) args(2).toInt else 3
    val builder = GraftSession.builder(GraftSession.cpus)
      .config("spark.log.level", "ERROR")
    args.drop(3).filter(_.contains('=')).foreach { a =>
      val Array(k, v) = a.split("=", 2); builder.config(k, v)
    }
    val spark = builder.getOrCreate()
    val all = graft.SparkEntry.queries
    val keys =
      if (keysArg == "all") all.keys.toSeq.sorted
      else keysArg.split(",").toSeq.map(_.trim).filter(_.nonEmpty)
    val unknown = keys.filterNot(all.keySet)
    require(unknown.isEmpty, s"unknown keys: ${unknown.mkString(",")}")

    // per-run cluster-side truth: jobs launched, tasks run, summed task
    // runtime — a wall-fast re-run that launched no tasks did not
    // re-execute (it served cached/reused state), and the probe should
    // say so rather than let the wall time masquerade as execution cost
    val jobs = new AtomicInteger; val tasks = new AtomicInteger
    val taskMs = new AtomicLong
    // per-stage accounting (r18): stageId -> (name, nTasks, taskMs,
    // deserializeMs, gcMs) — the "which stage eats the CPU seconds" lens
    // job totals can't give
    val stageAgg = new java.util.concurrent.ConcurrentHashMap[
      Int, (String, Int, Long, Long, Long)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        if (t.taskInfo != null) {
          taskMs.addAndGet(t.taskInfo.duration)
          val de = if (t.taskMetrics != null)
            t.taskMetrics.executorDeserializeTime else 0L
          val gc = if (t.taskMetrics != null)
            t.taskMetrics.jvmGCTime else 0L
          stageAgg.merge(t.stageId, ("", 1, t.taskInfo.duration, de, gc),
            (a, b) => (a._1, a._2 + b._2, a._3 + b._3, a._4 + b._4,
              a._5 + b._5))
        }
      }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val i = sc.stageInfo
        stageAgg.merge(i.stageId,
          (i.name.takeWhile(_ != '\n').take(90), 0, 0L, 0L, 0L),
          (a, b) => (if (b._1.nonEmpty) b._1 else a._1,
            a._2 + b._2, a._3 + b._3, a._4 + b._4, a._5 + b._5))
      }
    })
    val probeStages = sys.env.get("SPARK_GRAFT_PROBE_STAGES").contains("1")
    def dumpStages(): Unit = {
      if (probeStages) {
        import scala.jdk.CollectionConverters._
        stageAgg.asScala.toSeq.sortBy(-_._2._3).take(12).foreach {
          case (id, (name, n, ms, de, gc)) =>
            println(f"  STAGE $id%4d tasks=$n%3d taskTime=${ms / 1e3}%7.2f s " +
              f"deser=${de / 1e3}%5.2f s gc=${gc / 1e3}%5.2f s  $name")
        }
      }
      stageAgg.clear()
    }
    def drain(): (Int, Int, Long) = {
      // private listener bus — a short settle sleep is enough at probe
      // scale (listener events for a finished job land within ms)
      Thread.sleep(300)
      (jobs.getAndSet(0), tasks.getAndSet(0), taskMs.getAndSet(0L))
    }
    // janino compilation truth per run: count from Spark's codegen
    // metrics (JVM-wide) — the "did this fresh rebuild recompile or
    // cache-hit" answer (r18)
    val cgT = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    var cgCount0 = cgT.getCount
    def cgDelta(): Long = {
      val c = cgT.getCount; val d = c - cgCount0; cgCount0 = c; d
    }

    // bench-equivalent warm state: catalog stats + index/model phases at
    // the measured dir, plus one run of each requested key to absorb
    // codegen JIT — so the timed fresh runs see the bench's warm floor
    graft.api.CatalogOps.registerFixture(spark, dir)
    (graft.operators.DedupQueries.indexPhases(spark, dir) ++
     graft.operators.EventTimeQueries.lagPhases(spark, dir) ++
     graft.operators.SimilarityQueries.trainPhases(spark, dir) ++
     graft.operators.TextQueries.trainPhases(spark, dir) ++
     graft.operators.StatsQueries.statsPhases(spark, dir))
      .foreach { case (name, f, _) =>
        try { f(); () } catch { case NonFatal(t) =>
          System.err.println(s"[probe] phase $name failed: ${t.toString.take(200)}")
        }
      }
    keys.foreach { k =>
      try { all(k)(spark, dir).count(); () } catch { case NonFatal(_) => () }
    }
    drain(); dumpStages(); cgDelta()

    final case class Split(build: Double, plan: Double, exec: Double) {
      def total: Double = build + plan + exec
    }
    val out = keys.flatMap { k =>
      try {
        val runs = (1 to n).map { i =>
          System.gc()
          val t0 = System.nanoTime()
          val df = all(k)(spark, dir)
          val t1 = System.nanoTime()
          df.queryExecution.executedPlan
          val t2 = System.nanoTime()
          df.count()
          val t3 = System.nanoTime()
          val s = Split((t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9)
          val (j, t, ms) = drain()
          println(f"FRESH $k $i build ${s.build}%.3f s  plan ${s.plan}%.3f s  " +
            f"exec ${s.exec}%.3f s  jobs=$j tasks=$t " +
            f"taskTime=${ms / 1e3}%.2f s codegenCompiles=${cgDelta()}")
          dumpStages()
          s
        }
        Some(k -> Split(runs.map(_.build).min, runs.map(_.plan).min,
          runs.map(_.exec).min))
      } catch {
        case NonFatal(t) =>
          System.err.println(s"[probe] $k failed: ${t.toString.take(200)}")
          None
      }
    }
    val sorted = out.sortBy(-_._2.total)
    println(f"${"key"}%-34s ${"build"}%7s ${"plan"}%7s ${"exec"}%7s ${"total"}%7s")
    sorted.foreach { case (k, s) =>
      println(f"$k%-34s ${s.build}%7.3f ${s.plan}%7.3f ${s.exec}%7.3f ${s.total}%7.3f")
    }
    val sb = sorted.map { case (k, s) =>
      f""""$k":[${s.build}%.3f,${s.plan}%.3f,${s.exec}%.3f]"""
    }.mkString("{", ",", "}")
    println("PLANSPLIT_JSON " + sb)
    println(f"TOTALS build=${out.map(_._2.build).sum}%.2f " +
      f"plan=${out.map(_._2.plan).sum}%.2f exec=${out.map(_._2.exec).sum}%.2f")
    spark.stop()
  }
}
