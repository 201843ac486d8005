package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** Every session runs under the engine's one conf set. */
class SessionGuardSpec extends SparkSpec {

  test("no code under src/ builds a session outside GraftSession.scala") {
    val root = Paths.get("src")
    assert(Files.isDirectory(root), s"run from the repo root: $root")
    val builderCall = """SparkSession\s*\.\s*builder\b""".r
    val walk = Files.walk(root)
    val files = try walk.iterator.asScala.filter(_.toString.endsWith(".scala"))
      .toList finally walk.close()
    def code(p: Path): Seq[String] = Files.readAllLines(p).asScala.toSeq
      .filterNot { l =>
        val t = l.trim
        t.startsWith("*") || t.startsWith("/*") || t.startsWith("//")
      }
    val offenders = files
      .filterNot(_.getFileName.toString == "GraftSession.scala")
      .filter(p => code(p).exists(builderCall.findFirstIn(_).isDefined))
    assert(offenders.isEmpty,
      s"build sessions through GraftSession.builder: ${offenders.mkString(", ")}")
  }

  test("the suite's session carries the engine conf set") {
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    val conf = spark.sparkContext.getConf
    Seq("spark.ui.enabled" -> "false",
        "spark.sql.codegen.cache.maxEntries" -> "4096",
        "spark.sql.ui.retainedExecutions" -> "8",
        "spark.ui.retainedJobs" -> "100",
        "spark.ui.retainedStages" -> "100",
        "spark.ui.retainedTasks" -> "1000").foreach { case (k, v) =>
      assert(conf.getOption(k).contains(v), s"$k=${conf.getOption(k)}")
    }
  }
}
