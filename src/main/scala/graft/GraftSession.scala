package graft

import org.apache.spark.sql.SparkSession

/** The engine's one session decision. Every Spark session the program and
  * its specs start is built here, so the bench, the correctness dump, the
  * tools and the suite all run under the confs the bench measures:
  *
  *   val spark = GraftSession.builder(GraftSession.cpus).getOrCreate()
  *
  * Callers add only deployment settings (master, app name, warehouse dir)
  * and the needs of their own workload on top of the returned builder.
  */
object GraftSession {

  /** `SPARK_GRAFT_CPUS`: local cores and shuffle partitions, default 32. */
  lazy val cpus: Int = envInt("SPARK_GRAFT_CPUS", 32)

  def builder(cpus: Int): SparkSession.Builder = SparkSession.builder()
    .master(s"local[$cpus]")
    .config("spark.sql.shuffle.partitions", cpus.toString)
    .config("spark.sql.session.timeZone", "UTC")
    // events.parquet is TIMESTAMP(NANOS): read as ns-Long (Tables.events)
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .config("spark.log.level", "WARN")
    // status-store retention caps: even with the UI off, AppStatusListener
    // and SQLAppStatusListener retain per-job/stage/task rows and up to
    // 1000 SQLExecutionUIData entries (each holding the FULL physical-plan
    // description + per-metric maps). At 195 queries x 3 runs x several
    // AQE jobs each, that is hundreds of MB of LIVE driver heap by the
    // bench sweep's tail — the r12 in-sweep inflation's largest
    // non-garbage contributor. A bench run needs none of it.
    .config("spark.sql.ui.retainedExecutions", "8")
    .config("spark.ui.retainedJobs", "100")
    .config("spark.ui.retainedStages", "100")
    .config("spark.ui.retainedTasks", "1000")
    // generated-class cache (static conf — builder only): the default
    // 100 entries thrash across a 216-query sweep (each query carries
    // several codegen fragments), so every query's run 1 recompiled
    // fragments the warmup had already compiled — probe-measured 31
    // janino compilations on a single fresh q_text_bm25 build at the
    // default vs 0 at 4096, exec 2.8 s → 1.65 s (r18). A production
    // driver serving many query shapes wants the same headroom; the
    // value is shape-count-scaled, not core-count- or data-scaled.
    .config("spark.sql.codegen.cache.maxEntries", "4096")

  /** The whole-number environment knob `name`, `default` when unset. */
  private[graft] def envInt(name: String, default: Int): Int =
    sys.env.get(name).fold(default)(knob(name, _).toInt)

  private[graft] def envLong(name: String, default: Long,
                             min: Long = 1L): Long =
    sys.env.get(name).fold(default)(knob(name, _, min, Long.MaxValue))

  /** A knob's set value `v`: trimmed, it must be an integer in
    * [min, max]. The error names the variable. */
  private[graft] def knob(name: String, v: String, min: Long = 1L,
                          max: Long = Int.MaxValue): Long =
    v.trim.toLongOption.filter(n => n >= min && n <= max).getOrElse(
      throw new IllegalArgumentException(
        s"$name='$v' must be an integer in [$min, $max]"))
}
