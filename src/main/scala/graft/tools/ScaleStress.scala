package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}
import java.util.concurrent.atomic.AtomicLong
import graft.GraftSession
import scala.util.control.NonFatal

/** Scale-stress EVIDENCE for the capped-bucket claims (VERDICT r16 #6):
  * every 100 TB argument in SURVEY §2.6 is analytic — this harness makes
  * the bound MEASURED. It generates a ~10× (vs sf0.1) documents +
  * embeddings fixture with PLANTED power-law pathologies:
  *
  *   - a boilerplate phrase shared by 10% of all docs (its shingles'
  *     df ≈ N/10 ≫ DfCap — the hot-key case the cap exists for);
  *   - duplicate families of power-law size (family k holds 2k+1 docs,
  *     up to ~450 — families past DfCap cap out, mid-size families pair);
  *   - an embedding mega-cluster holding 10% of all vectors (one hot IVF
  *     cell — the BucketCap case);
  *
  * then runs the heavy dedup/ANN/text families ONCE over it and records,
  * per phase: wall seconds, result rows, the MAX SINGLE-TASK time, and
  * the PEAK per-stage shuffle read/write bytes — the three quantities
  * that decide whether a plan survives a 100× scale-up (a task or bucket
  * that grows with the hot key would show up here first). Alongside, the
  * global bucket bounds actually observed: max capped df (must be
  * ≤ DfCap), hot-shingle count, max raw band-bucket membership (the
  * planted pathology) vs the cap that bounds its expansion, and the max
  * IVF cell size.
  *
  *   sbt "runMain graft.tools.ScaleStress"
  *
  * Prints one JSON line and writes target/scale_stress.json. The fixture
  * is written under target/scale10/ (gitignored; ~50 MB) and reused when
  * present — delete it to regenerate.
  */
object ScaleStress {

  private def r1(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.1f", Double.box(v))

  def main(args: Array[String]): Unit = {
    val cpus = GraftSession.cpus
    val spark = GraftSession.builder(cpus).getOrCreate()

    val nDocs = GraftSession.envLong("SPARK_GRAFT_STRESS_DOCS", 50000L)
    val nVecs = GraftSession.envLong("SPARK_GRAFT_STRESS_VECS", 20000L)
    val dir = new java.io.File("target/scale10").getAbsolutePath

    // ---- fixture generation (idempotent: reused when present) ----
    val docsPath = s"$dir/documents.parquet"
    val embPath = s"$dir/embeddings.parquet"
    if (!new java.io.File(docsPath).exists()) {
      // family k = floor(sqrt(doc_id)) → |family k| = 2k+1 (1..~450):
      // a smooth power-law-ish size ramp crossing DfCap mid-range
      val fam = floor(sqrt(col("doc_id").cast("double"))).cast("long")
      val famText = concat_ws(" ", (0 until 12).map(j =>
        concat(lit("f"), fam, lit(s"w${(j * 7) % 11}"))): _*)
      val uniqText = concat_ws(" ", (0 until 4).map(j =>
        concat(lit("u"), col("doc_id"), lit(s"x$j"))): _*)
      val boiler = lit((1 to 12).map(j => s"b${(j * 5) % 9}").mkString(" "))
      val text = when(col("doc_id") % 10 === 0,
          concat_ws(" ", boiler, famText, uniqText))
        .otherwise(concat_ws(" ", famText, uniqText))
      spark.range(nDocs).select(
          col("id").as("doc_id"),
          text.as("text"),
          lit("en").as("lang"),
          concat(lit("s"), col("id") % 7).as("source"),
          length(text).cast("long").as("n_chars"))
        .repartition(8)
        .write.mode("overwrite").parquet(docsPath)
      // 10% of vectors in one tight ball (one hot IVF cell); the rest
      // pseudo-random over [0,1)^64 via an integer hash — deterministic
      spark.range(nVecs).select(
          col("id").as("vec_id"),
          expr("transform(sequence(0, 63), x -> x)").as("__js"),
          (col("id") % 3).cast("int").as("label"))
        .select(col("vec_id"), col("label"), transform(col("__js"), jj =>
          when(col("vec_id") % 10 === 0,
            (lit(0.9) + ((col("vec_id") * 7 + jj * 3) % 13)
              .cast("double") / 1300d).cast("float"))
          .otherwise(
            (((col("vec_id") * 2654435761L + jj * 40503L + 17L) % 1000L)
              .cast("double") / 1000d).cast("float"))).as("embedding"))
        .select("vec_id", "embedding", "label")
        .repartition(4)
        .write.mode("overwrite").parquet(embPath)
    }

    // ---- execution-shape listener: max task time + peak stage shuffle ----
    val maxTaskMs = new AtomicLong(0)
    val peakWrite = new AtomicLong(0)
    val peakRead = new AtomicLong(0)
    val totWrite = new AtomicLong(0)
    // the slowest single task's owning stage (name truncated) — names the
    // operator a scale-up would hit first, not just its duration
    val slowStage = new java.util.concurrent.atomic.AtomicReference[String]("")
    val stageOf =
      new java.util.concurrent.ConcurrentHashMap[Int, String]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        if (t.taskInfo != null) {
          val d = t.taskInfo.duration
          val prev = maxTaskMs.getAndUpdate(m => math.max(m, d))
          if (d > prev) slowStage.set(
            Option(stageOf.get(t.stageId)).getOrElse("?") + s"#${t.stageId}")
        }
        if (t.taskMetrics != null)
          totWrite.addAndGet(t.taskMetrics.shuffleWriteMetrics.bytesWritten): Unit
      }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val tm = sc.stageInfo.taskMetrics
        stageOf.put(sc.stageInfo.stageId,
          sc.stageInfo.name.takeWhile(_ != '\n').take(60)): Unit
        if (tm != null) {
          peakWrite.updateAndGet(m =>
            math.max(m, tm.shuffleWriteMetrics.bytesWritten)): Unit
          peakRead.updateAndGet(m =>
            math.max(m, tm.shuffleReadMetrics.totalBytesRead)): Unit
        }
      }
      override def onStageSubmitted(
          ss: org.apache.spark.scheduler.SparkListenerStageSubmitted): Unit =
        stageOf.put(ss.stageInfo.stageId,
          ss.stageInfo.name.takeWhile(_ != '\n').take(60)): Unit
    })

    val dq = graft.operators.DedupQueries
    val tq = graft.operators.TextQueries
    val simq = graft.operators.SimilarityQueries

    def phase(name: String)(run: => Long): (String, String) = {
      maxTaskMs.set(0); peakWrite.set(0); peakRead.set(0); slowStage.set("")
      val t0 = System.nanoTime()
      val rows = run
      val sec = (System.nanoTime() - t0) / 1e9
      Thread.sleep(300) // listener bus drain (evidence tooling, not a gate)
      (name,
        s""""$name":{"sec":${r1(sec)},"rows":$rows,""" +
        s""""max_task_ms":${maxTaskMs.get},""" +
        s""""max_task_stage":"${slowStage.get}",""" +
        s""""peak_stage_shuffle_write_mb":${r1(peakWrite.get / 1048576d)},""" +
        s""""peak_stage_shuffle_read_mb":${r1(peakRead.get / 1048576d)}}""")
    }

    val phases = Seq(
      phase("shingle_pairs")(dq.sharedShinglePairs(spark, dir).count()),
      phase("shingle_clusters")(dq.clusterLabels(spark, dir).count()),
      phase("band_sigs")(dq.bandSigTable(spark, dir).count()),
      phase("minhash_pairs")(
        graft.SparkEntry.queries("q_dedup_minhash")(spark, dir).count()),
      phase("winnow_pairs")(dq.winnowScoredPairs(spark, dir).count()),
      phase("token_layer")(tq.tokenLayer(spark, dir).count()),
      phase("embed_dedup")(
        graft.SparkEntry.queries("q_dedup_embed")(spark, dir).count()),
      phase("ann_trained")(
        graft.SparkEntry.queries("q_sim_ivf_trained")(spark, dir).count()))

    // ---- observed bucket bounds (the capped-machinery claims) ----
    val capped = dq.cappedShingleIndex(spark, dir)
    val maxCappedDf = capped.groupBy("h").agg(count(lit(1)).as("df"))
      .agg(max("df")).collect()(0).getLong(0)
    val hotShingles = dq.uncappedShingleHashes(spark, dir)
      .groupBy("h").agg(count(lit(1)).as("df"))
      .filter(col("df") > dq.DfCapValue).count()
    val maxBandBucket = dq.bandSigTable(spark, dir)
      .groupBy("sig").agg(count(lit(1)).as("n"))
      .agg(max("n")).collect()(0).getLong(0)
    val maxIvfCell = graft.api.IvfOps.assign(
        simq.emb(spark, dir),
        graft.api.IvfOps.centroidBlock(
          simq.trainedIvfCentroids(spark, dir), "cid", "cv"),
        nProbe = 1)
      .groupBy("cid").agg(count(lit(1)).as("n"))
      .agg(max("n")).collect()(0).getLong(0)

    // the committed record APPENDS one line per run (VERDICT r17 #6 —
    // the series is the scale story a reviewer audits); the note names
    // what changed since the previous line
    // JSON-escape the free-text note: a quote/backslash/newline in the
    // env var must not corrupt the committed JSON-lines series the
    // audit workflow parses (r18 self-review)
    val note = sys.env.get("SPARK_GRAFT_STRESS_NOTE")
      .map(n => "\"note\":\"" + n.replace("\\", "\\\\")
        .replace("\"", "\\\"").replace("\n", "\\n").replace("\r", "\\r")
        .replace("\t", "\\t") + "\",")
      .getOrElse("")
    val line =
      s"""{"metric":"scale_stress",$note"docs":$nDocs,"vecs":$nVecs,""" +
      s""""ref":"~10x sf0.1 with planted power-law keys",""" +
      s""""phases":{${phases.map(_._2).mkString(",")}},""" +
      s""""bounds":{"df_cap":${dq.DfCapValue},""" +
      s""""max_capped_df":$maxCappedDf,""" +
      s""""hot_shingles_capped_out":$hotShingles,""" +
      s""""max_band_bucket_raw":$maxBandBucket,""" +
      s""""band_bucket_cap":${graft.api.IvfOps.BucketCap},""" +
      s""""max_ivf_cell":$maxIvfCell},""" +
      s""""cpus":"$cpus",""" +
      s""""load_avg":${r1(java.lang.management.ManagementFactory
        .getOperatingSystemMXBean.getSystemLoadAverage)}}"""
    println(line)
    try {
      val out = java.nio.file.Paths.get("target", "scale_stress.json")
      java.nio.file.Files.createDirectories(out.getParent)
      java.nio.file.Files.write(out,
        (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } catch { case NonFatal(t) =>
      System.err.println(s"[scale-stress] write failed: $t")
    }
    spark.stop()
  }
}
