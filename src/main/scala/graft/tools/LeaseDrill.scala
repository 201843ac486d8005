package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.GraftSession
import graft.api.IndexArtifacts
import scala.util.control.NonFatal

/** TWO-PROCESS lease contention drill (VERDICT r17 #3): the cross-JVM
  * filesystem lease, its TTL break, the token-less grace, and the
  * fence-guarded degradation have until now been exercised only
  * single-process (DerivedArtifactsSpec fakes the foreign holder by
  * writing the lease file). This launches a REAL second JVM against the
  * same warehouse and drives the three cross-process scenarios:
  *
  *   A. WRITE RACE — parent and child both serve one manifest-
  *      incremental layer while the parent grows the source between
  *      rounds. Single-writer must hold: completed racing appends are
  *      the one corruption the count check cannot catch (duplicated
  *      rows as "valid" state), so the final artifact must equal the
  *      live plan with zero duplicate keys and an honest sidecar.
  *      A contended loser degrades to a correct LIVE build (no write).
  *
  *   B. KILLED HOLDER + TTL BREAK — the child acquires the lease (slow
  *      build) and is kill -9'd mid-hold. The leftover TOKEN'd lease
  *      must block writers (serves degrade to live builds, sidecar
  *      untouched) until the TTL elapses — simulated by aging the lease
  *      file's mtime past [[IndexArtifacts.LeaseTtlMs]], exactly what
  *      wall-clock would do — after which the next serve BREAKS it,
  *      reclaims the layer, and serves the artifact.
  *
  *   C. TOKEN-LESS GRACE — the child crashes between lease create and
  *      token write (simulated: it creates an EMPTY lease and exits).
  *      Within the 10 s grace the lease still blocks (a live holder's
  *      create→write window must never be stolen); past it, the next
  *      serve breaks the leftover and proceeds.
  *
  * Run from the repo root:  sbt "runMain graft.tools.LeaseDrill"
  * (the child JVM classpath defaults to /opt/spark/jars + the compiled
  * classes; override with SPARK_GRAFT_DRILL_CP). Prints one JSON line
  * and writes target/lease_drill.json — committed as
  * records/lease_drill.json.
  */
object LeaseDrill {

  /** Parent and child sessions share the drill's warehouse. */
  private def session(wh: String): SparkSession = GraftSession.builder(4)
    .config("spark.sql.warehouse.dir", wh).getOrCreate()

  /** The drill layer: k → k·10 off a parquet dir of longs — trivially
    * re-derivable, so every assertion is a closed-form check. */
  private def serve(s: SparkSession, table: String, src: String,
                    slowMs: Long = 0L): (DataFrame, String) =
    IndexArtifacts.serveDerivedIncremental(
      s, table, src, "drill-v1",
      {
        if (slowMs > 0) Thread.sleep(slowMs)
        s.read.parquet(src).select(col("k"), (col("k") * 10).as("d"))
      },
      paths => s.read.parquet(paths: _*)
        .select(col("k"), (col("k") * 10).as("d")),
      buildShrink = art => Some(art.join(
        s.read.parquet(src).select("k"), Seq("k"), "left_semi")))

  def main(args: Array[String]): Unit = args.toList match {
    case "worker" :: wh :: src :: table :: rounds :: Nil =>
      val s = session(wh)
      val rng = new scala.util.Random(7)
      for (i <- 1 to rounds.toInt) {
        val (df, how) = serve(s, table, src)
        println(s"ROUND $i src=$how n=${df.count()}")
        Console.flush()
        Thread.sleep(100 + rng.nextInt(250).toLong)
      }
      s.stop()

    case "holder" :: wh :: src :: table :: Nil =>
      val s = session(wh)
      println("HOLDER starting slow serve")
      Console.flush()
      serve(s, table, src, slowMs = 60000L) // killed long before this ends
      s.stop()

    case "tokenless" :: wh :: table :: Nil =>
      // a crash between lease create and token write, made reproducible
      val f = new java.io.File(s"$wh/$table" + "__lease")
      java.nio.file.Files.write(f.toPath, Array.empty[Byte])
      println("TOKENLESS lease created")

    case _ => parent()
  }

  private def spawn(argv: String*): Process = {
    val javaBin = sys.props("java.home") + "/bin/java"
    val cp = sys.env.getOrElse("SPARK_GRAFT_DRILL_CP",
      "/opt/spark/jars/*:" +
        new java.io.File("target/scala-2.13/classes").getAbsolutePath)
    val pb = new ProcessBuilder(
      (Seq(javaBin, "-cp", cp, "-Xmx2g", "graft.tools.LeaseDrill") ++
        argv): _*)
    pb.redirectErrorStream(true)
    pb.start()
  }

  /** Drain a child's stdout on a daemon thread into a buffer. */
  private def tail(p: Process): java.util.concurrent.ConcurrentLinkedQueue[String] = {
    val q = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val t = new Thread(() => {
      val r = new java.io.BufferedReader(
        new java.io.InputStreamReader(p.getInputStream))
      var line = r.readLine()
      while (line != null) { q.add(line); line = r.readLine() }
    })
    t.setDaemon(true)
    t.start()
    q
  }

  // scalastyle:off method.length
  private def parent(): Unit = {
    val wh = java.nio.file.Files
      .createTempDirectory("leasedrill_wh").toString
    val src = java.nio.file.Files
      .createTempDirectory("leasedrill_src").toString + "/keys.parquet"
    val s = session(wh)
    import s.implicits._
    val results = scala.collection.mutable.ArrayBuffer.empty[String]
    def js(k: String, v: String) = results += s""""$k":$v"""
    var nextK = 0L
    def grow(n: Int): Unit = {
      (nextK until nextK + n).toDF("k")
        .coalesce(1).write.mode("append").parquet(src)
      nextK += n
    }

    // ---- phase A: cross-process write race under growth ----
    val tableA = "g_drv_drill_race"
    grow(3)
    serve(s, tableA, src) // cold build before contention
    val child = spawn("worker", wh, src, tableA, "12")
    val childOut = tail(child)
    // overlap for real: wait until the child's FIRST round reports
    // before racing it (its JVM + session cold-start is ~15 s)
    val tA = System.currentTimeMillis()
    while (!childOut.toArray(Array.empty[String]).exists(
             _.startsWith("ROUND")) &&
           System.currentTimeMillis() - tA < 90000)
      Thread.sleep(100)
    val parentSrcs = scala.collection.mutable.Map.empty[String, Int]
      .withDefaultValue(0)
    var compactions = 0
    var shrinks = 0
    val rng = new scala.util.Random(11)
    // the parent's maintenance mix: growth every round, plus SHRINKS
    // (delete a source file) and COMPACTIONS racing the child's serves —
    // the full serve+compact+shrink contention the ask names. Writers
    // stay lease-serialized; the child-as-reader may degrade to a live
    // build mid-swap (the documented maintenance-window contract), but
    // must never read or commit corrupt state.
    def dataFilesOf(p: String): Seq[java.io.File] =
      Option(new java.io.File(p).listFiles).getOrElse(Array.empty)
        .filter(f => f.isFile && !f.getName.startsWith("_") &&
          !f.getName.startsWith(".")).toSeq
    for (i <- 1 to 12) {
      // a shrink round deletes INSTEAD of growing — a grow+delete in one
      // round reads as a MUTATION (rebuild), masking the shrink branch
      val fs = dataFilesOf(src)
      if (i % 4 == 0 && fs.length >= 3) {
        fs(rng.nextInt(fs.length)).delete(): Unit
        shrinks += 1
      } else grow(1 + rng.nextInt(2))
      if (i % 3 == 0 &&
          IndexArtifacts.compactDerived(s, tableA,
            a => a.groupBy("k").count().filter(col("count") > 1).isEmpty))
        compactions += 1
      val (_, how) = serve(s, tableA, src)
      parentSrcs(how) += 1
      Thread.sleep(80 + rng.nextInt(200).toLong)
    }
    val childOk = child.waitFor(120, java.util.concurrent.TimeUnit.SECONDS)
    val childLines = childOut.toArray(Array.empty[String]).toSeq
    val childSrcs = childLines.filter(_.startsWith("ROUND"))
      .flatMap(_.split(" ").find(_.startsWith("src=")).map(_.drop(4)))
      .groupBy(identity).map { case (k, v) => (k, v.size) }
    // the ground truth: layer ≡ live plan over the SURVIVING source
    // (shrinks retracted whole files), zero duplicate keys, honest
    // sidecar — completed racing appends would fail all three
    val (fin, finHow) = serve(s, tableA, src)
    val got = fin.collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    val want = s.read.parquet(src).select("k").collect()
      .map(_.getLong(0)).sorted.map(k => (k, k * 10)).toSeq
    assert(got.toSeq == want,
      s"phase A artifact diverged: got ${got.length} rows, " +
      s"want ${want.length} (dups or losses under the race)")
    val sidecarN = s.read.parquet(s"$wh/${tableA}__mf")
      .collect()(0).getAs[Long]("n")
    assert(sidecarN == want.length, s"sidecar $sidecarN != ${want.length}")
    def m(kv: Iterable[(String, Int)]) = kv.toSeq.sorted
      .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    js("phase_a", s"""{"child_exited":$childOk,""" +
      s""""child_rounds":${childLines.count(_.startsWith("ROUND"))},""" +
      s""""child_sources":${m(childSrcs)},""" +
      s""""parent_sources":${m(parentSrcs.toMap)},""" +
      s""""parent_shrinks":$shrinks,"parent_compactions":$compactions,""" +
      s""""final_source":"$finHow","final_rows":${got.length},""" +
      s""""rows_exact":true,"sidecar_honest":true}""")

    // ---- phase B: killed holder blocks until TTL, then breaks ----
    val tableB = "g_drv_drill_kill"
    val leaseB = new java.io.File(s"$wh/$tableB" + "__lease")
    val holder = spawn("holder", wh, src, tableB)
    tail(holder) // drain so the child can't block on a full pipe
    // wait for the TOKEN, not just the file: fs.create makes the lease
    // visible EMPTY for a moment before the token write flushes, and a
    // kill inside that window produces the token-less case phase C owns
    val t0 = System.currentTimeMillis()
    while (!(leaseB.exists && leaseB.length > 0) &&
           System.currentTimeMillis() - t0 < 60000)
      Thread.sleep(50)
    assert(leaseB.exists && leaseB.length > 0,
      "holder never acquired a token'd lease")
    holder.destroyForcibly()
    holder.waitFor(30, java.util.concurrent.TimeUnit.SECONDS)
    assert(leaseB.exists, "kill -9 should leave the lease behind")
    val heldToken = new String(
      java.nio.file.Files.readAllBytes(leaseB.toPath), "UTF-8")
    assert(heldToken.nonEmpty, "holder's lease should carry its token")
    // a TOKEN'd fresh lease blocks: serves degrade to live builds with
    // no artifact write for the whole TTL
    val liveKeys = s.read.parquet(src).count() // shrinks retracted files
    val (dfB1, howB1) = serve(s, tableB, src)
    assert(howB1 == "rebuild", s"expected degraded live build, got $howB1")
    assert(dfB1.count() == liveKeys, "degraded build must still be correct")
    assert(!new java.io.File(s"$wh/${tableB}__mf").exists,
      "a blocked writer must not commit")
    assert(leaseB.exists, "a live-TTL foreign lease must survive the serve")
    // age the lease past the TTL — what wall-clock would do — and the
    // next serve must break it, reclaim the layer, and commit
    assert(leaseB.setLastModified(
      System.currentTimeMillis() - IndexArtifacts.LeaseTtlMs - 60000))
    val (dfB2, howB2) = serve(s, tableB, src)
    assert(howB2 == "rebuild", s"reclaim serve: $howB2")
    assert(dfB2.count() == liveKeys)
    assert(!leaseB.exists, "the broken lease must be gone")
    assert(new java.io.File(s"$wh/${tableB}__mf").exists,
      "the reclaiming serve must commit")
    val (_, howB3) = serve(s, tableB, src)
    assert(howB3 == "artifact", s"post-reclaim serve: $howB3")
    js("phase_b", """{"holder_killed_while_holding":true,""" +
      """"blocked_serve":"live build, no commit, lease intact",""" +
      """"ttl_break":"reclaimed + committed","post":"artifact"}""")

    // ---- phase C: token-less crash leftover breaks after the grace ----
    val tableC = "g_drv_drill_grace"
    val leaseC = new java.io.File(s"$wh/$tableC" + "__lease")
    val crasher = spawn("tokenless", wh, tableC)
    crasher.waitFor(30, java.util.concurrent.TimeUnit.SECONDS)
    assert(leaseC.exists && leaseC.length == 0,
      "crasher should leave an empty lease")
    // inside the grace: still blocks (could be a live holder mid-write)
    val (_, howC1) = serve(s, tableC, src)
    assert(howC1 == "rebuild", s"in-grace serve: $howC1")
    assert(!new java.io.File(s"$wh/${tableC}__mf").exists)
    Thread.sleep(IndexArtifacts.TokenlessGraceMs + 1500)
    val (_, howC2) = serve(s, tableC, src)
    assert(howC2 == "rebuild", s"post-grace reclaim: $howC2")
    assert(!leaseC.exists, "token-less leftover must be broken")
    assert(new java.io.File(s"$wh/${tableC}__mf").exists)
    js("phase_c", """{"in_grace":"blocked, no commit",""" +
      """"post_grace":"broken + committed"}""")

    val line = s"""{"metric":"lease_drill",${results.mkString(",")},""" +
      s""""lease_ttl_min":${IndexArtifacts.LeaseTtlMs / 60000},""" +
      s""""tokenless_grace_s":${IndexArtifacts.TokenlessGraceMs / 1000},""" +
      s""""load_avg":${String.format(java.util.Locale.ROOT, "%.1f",
        Double.box(java.lang.management.ManagementFactory
          .getOperatingSystemMXBean.getSystemLoadAverage))}}"""
    println(line)
    try {
      val p = java.nio.file.Paths.get("target", "lease_drill.json")
      java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.write(p, (line + "\n").getBytes("UTF-8"))
    } catch { case NonFatal(t) =>
      System.err.println(s"[lease-drill] write failed: $t")
    }
    s.stop()
  }
  // scalastyle:on method.length
}
