package graft.tools

import org.apache.spark.sql.SparkSession
import graft.sources.Sbs1

/** SBS-1 batch-replay parse throughput (BASELINE.md engineering target:
  * ≥10⁵ rows/s on local[4]): generates N synthetic lines, writes them as a
  * text file, and times text-scan → 22-field typed parse → a `noop` write
  * that consumes every column (a `count()` would prune all 22 casts and
  * time the validity filter alone).
  *
  * Usage: sbt "runMain graft.tools.Sbs1ParseBench [nLines] [cores]"
  */
object Sbs1ParseBench {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(2000000)
    val cores = args.lift(1).getOrElse("4")

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("sbs1-parse-bench")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val dir = java.nio.file.Files.createTempDirectory("sbs1bench")
    val file = dir.resolve("lines.txt")
    val w = java.nio.file.Files.newBufferedWriter(file)
    var i = 0
    while (i < n) {
      val tt = i % 8 + 1
      val sec = i % 60
      w.write(
        f"MSG,$tt,111,${i % 99999},${i % 0xFFFFFF}%06X,$i,2026/08/12,14:21:$sec%02d.${i % 1000}%03d," +
        f"2026/08/12,14:21:$sec%02d.${(i + 50) % 1000}%03d,,${i % 45000},,,${i % 90}.5,-${i % 180}.25,,,0,0,0,${i % 2}\n")
      i += 1
    }
    w.close()

    // warmup on a slice, then timed full parse
    val lines = spark.read.text(file.toString)
    def consumeAll(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    consumeAll(Sbs1.parse(lines.limit(10000), withParsedTime = false))
    val parsed = Sbs1.parse(lines, withParsedTime = false)
    val t0 = System.nanoTime()
    consumeAll(parsed)
    val secs = (System.nanoTime() - t0) / 1e9
    val cnt = parsed.count()
    // and a typed aggregate over the parsed rows (scan+parse+agg pipeline)
    val t1 = System.nanoTime()
    val aggCnt = Sbs1.parse(lines, withParsedTime = false)
      .groupBy("transmission_type").count().count()
    val aggSecs = (System.nanoTime() - t1) / 1e9
    println(f"[parsebench] $cnt rows in $secs%.2f s = ${cnt / secs}%.0f rows/s " +
      f"(local[$cores]); parse+agg ($aggCnt groups): ${cnt / aggSecs}%.0f rows/s")
    spark.stop()
  }
}
