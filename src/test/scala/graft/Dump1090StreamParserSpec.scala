package graft

import java.io.File
import java.lang.management.ManagementFactory
import java.net.ServerSocket
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.TimeUnit
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The CLI as a process: it must end by itself when the feed is gone, and
  * print its final report on SIGTERM. Each test starts its own JVM,
  * because `main` exits the process.
  */
class Dump1090StreamParserSpec extends AnyFunSuite {

  /** Starts `Dump1090StreamParser.main` in a fresh JVM on this JVM's
    * classpath and module flags; stdout and stderr go to files.
    */
  private def cli(args: String*): (Process, File, File) = {
    val javaBin = Paths.get(System.getProperty("java.home"), "bin", "java").toString
    val jvmFlags = ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.filter(_.startsWith("--add-opens")).toSeq
    val out = Files.createTempFile("d1090cli", ".out").toFile
    val err = Files.createTempFile("d1090cli", ".err").toFile
    out.deleteOnExit(); err.deleteOnExit()
    val pb = new ProcessBuilder((Seq(javaBin, "-Xmx1g") ++ jvmFlags ++ Seq(
        "-cp", System.getProperty("java.class.path"),
        "graft.tools.Dump1090StreamParser", "--database", ":memory:") ++ args).asJava)
      .redirectOutput(out).redirectError(err)
    pb.environment().put("SPARK_MASTER", "local[2]")
    (pb.start(), out, err)
  }

  private def read(f: File): String =
    new String(Files.readAllBytes(f.toPath), StandardCharsets.UTF_8)

  private def deadPort: Int = { val s = new ServerSocket(0); val p = s.getLocalPort; s.close(); p }

  test("the CLI ends with its report and status 0 once the connect budget is spent") {
    val (p, out, err) = cli("--port", deadPort.toString,
      "--connect-attempt-limit", "1", "--connect-attempt-delay", "0.1")
    try {
      assert(p.waitFor(30, TimeUnit.SECONDS),
        s"still running after 30 s; stderr:\n${read(err)}")
      assert(p.exitValue == 0, read(err))
      assert(read(out).contains("0 rows written to :memory:"), read(out))
    } finally p.destroyForcibly()
  }

  test("SIGTERM prints the report before Spark stops the SparkContext") {
    val server = new ServerSocket(0)
    val connected = new java.util.concurrent.CountDownLatch(1)
    val feed = new Thread(() => {
      try {
        val sock = server.accept()
        connected.countDown()
        try while (true) Thread.sleep(1000) finally sock.close()
      } catch { case _: Throwable => }
    }, "cli-idle-feed")
    feed.setDaemon(true)
    feed.start()
    val (p, out, err) = cli("--port", server.getLocalPort.toString)
    try {
      assert(connected.await(60, TimeUnit.SECONDS),
        s"the CLI never connected; stderr:\n${read(err)}")
      p.destroy() // SIGTERM
      assert(p.waitFor(30, TimeUnit.SECONDS), "still running 30 s after SIGTERM")
      assert(read(out).contains("rows written to :memory:"),
        s"stdout:\n${read(out)}\nstderr:\n${read(err)}")
      assert(!read(err).contains("shutdown report failed"), read(err))
    } finally { p.destroyForcibly(); feed.interrupt(); server.close() }
  }
}
