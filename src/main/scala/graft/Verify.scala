package graft
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [queryKey...] — keys restrict the dump for
    // local iteration; the driver passes exactly two
    val Array(sfDir, outDir) = args.take(2)
    val only = args.drop(2).toSet
    // fail loud on a typo'd key (the Bench guard): a silently-empty
    // filter would write no query dirs yet still exit 0
    val unknown = only.diff(SparkEntry.queries.keySet)
    require(unknown.isEmpty,
      s"unknown query key(s): ${unknown.toSeq.sorted.mkString(", ")}")
    val spark = GraftSession.builder(GraftSession.cpus).getOrCreate()
    new java.io.File(outDir).mkdirs()
    // register + ANALYZE the fixture tables so stats consumers
    // (q_dedup_bloom's catalog-sized sketch) exercise the production
    // zero-pre-scan path in the correctness run too (a failure must not
    // zero the round: queries fall back to their count() path)
    try graft.api.CatalogOps.registerFixture(spark, sfDir)
    catch { case NonFatal(t) =>
      System.err.println(s"[verify] fixture catalog registration failed " +
        s"(stats-free fallback paths still run): $t")
    }
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case NonFatal(e) =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // a PREVIOUS run's dump for this key must not survive into a
        // re-used outDir — the DuckDB compare would read it and report
        // green for a query that no longer runs (r18 self-review)
        val d = Paths.get(s"$outDir/$name")
        if (Files.exists(d))
          Files.walk(d).sorted(java.util.Comparator.reverseOrder())
            .forEach(p => Files.deleteIfExists(p): Unit)
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    // One escaper for both mains ([[Bench.esc]]) — two hand-rolled
    // copies drift (r18 self-review).
    def q(s: String): String = "\"" + Bench.esc(s) + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
