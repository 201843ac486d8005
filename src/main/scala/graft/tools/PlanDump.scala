package graft.tools

import graft.GraftSession

/** Dev harness: dump `.explain("formatted")` for named query keys to
  * files — the optimization rounds' before/after plan evidence.
  *
  *   sbt "runMain graft.tools.PlanDump plans/r18 before q_stats_ks,q_stats_mwu"
  *
  * Writes <outDir>/<key>_<suffix>.txt per key. Runs under the bench's
  * session ([[graft.GraftSession]]) so the dumped initial plan matches
  * what the bench executes.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val keys = args(2).split(",").toSeq.map(_.trim).filter(_.nonEmpty)
    val dir = if (args.length > 3) args(3) else "/root/testdata/sf0.1"
    val spark = GraftSession.builder(GraftSession.cpus)
      .config("spark.log.level", "ERROR").getOrCreate()
    val all = graft.SparkEntry.queries
    val unknown = keys.filterNot(all.keySet)
    require(unknown.isEmpty, s"unknown keys: ${unknown.mkString(",")}")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    // SPARK_GRAFT_PLANDUMP_EXEC=1 additionally EXECUTES each query and
    // appends the AQE-final executed plan (r19): runtime-only facts —
    // ReusedExchange / stage reuse, AQE join rewrites, coalesced reads —
    // never appear in the initial formatted plan, so claims about them
    // were previously only checkable through the PlanSpec pins, not from
    // the committed dump itself
    val exec = sys.env.get("SPARK_GRAFT_PLANDUMP_EXEC").contains("1")
    keys.foreach { k =>
      val df = all(k)(spark, dir)
      val initial = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      val txt =
        if (!exec) initial
        else {
          // collect() (not count()) so THIS Dataset's queryExecution is
          // the one that runs — count() builds its own execution and the
          // original AdaptiveSparkPlan would never finalize
          df.collect()
          initial + "\n\n== Executed (AQE-final) Plan ==\n" +
            df.queryExecution.executedPlan.toString
        }
      val p = java.nio.file.Paths.get(outDir, s"${k}_$suffix.txt")
      java.nio.file.Files.write(p,
        txt.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      println(s"[plandump] wrote $p (${txt.length} chars)")
    }
    spark.stop()
  }
}
