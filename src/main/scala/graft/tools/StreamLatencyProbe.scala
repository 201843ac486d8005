package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.GraftSession
import scala.util.control.NonFatal

/** Per-micro-batch LATENCY evidence for the streaming serving family
  * (VERDICT r15 #5): the gates are bit-equal to their batch twins
  * (StreamingSpec), but no number existed for what one micro-batch
  * COSTS through the real streaming path. This harness drives N
  * micro-batches of fixture rows through each gate's actual
  * readStream plan — MemoryStream source, noop sink, every served
  * model/index warm — and reports p50/p95 trigger-execution
  * milliseconds straight from the engine's own
  * `StreamingQueryProgress.durationMs` (no wall-clock wrapping of the
  * driver loop). The first two batches absorb plan resolution +
  * codegen warm-in and are excluded from the percentiles (their max
  * is reported separately as `warmup_max_ms`), because a service's
  * steady-state latency is the question — a cold start is priced
  * once.
  *
  * Any future accidental STATE or per-batch shuffle in a gate plan
  * shows up here as a p50 step change, which is the regression this
  * harness exists to catch (the gates are all designed stateless:
  * pure projections + stream-static joins over literal/broadcast
  * model state).
  *
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.01 \
  *     sbt "runMain graft.tools.StreamLatencyProbe"
  *
  * Prints one JSON line and writes target/stream_latency.json.
  */
object StreamLatencyProbe {

  private def r1(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.1f", Double.box(v))

  private def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      s(math.max(0, math.min(s.length - 1, math.ceil(p * s.length).toInt - 1)))
    }

  private def loadAvg: Double =
    java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage

  /** Drive `mk`'s streaming plan over `batches` micro-batches from a
    * MemoryStream[T]; return every batch's (triggerExecution ms, 1-min
    * load sampled right after the batch). The per-batch load rides the
    * record so a tail outlier is adjudicable from the artifact itself
    * (VERDICT r16 #4 — the bench lesson applied to latency evidence). */
  private def drive[T: org.apache.spark.sql.Encoder](
      spark: SparkSession, cols: Seq[String],
      batches: Seq[Seq[T]])(mk: DataFrame => DataFrame)
      : Seq[(Double, Double)] = {
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[T]
    val q = mk(in.toDS().toDF(cols: _*))
      .writeStream.format("noop").outputMode("append").start()
    try {
      val loads = batches.map { b =>
        in.addData(b: _*)
        q.processAllAvailable()
        loadAvg
      }
      val durs = q.recentProgress.toSeq
        .filter(_.numInputRows > 0)
        .map(_.durationMs.get("triggerExecution").toDouble)
      // the per-batch (duration, load) pairing assumes each addData +
      // processAllAvailable drains as EXACTLY one non-empty micro-batch;
      // if the engine ever split one, the zip would silently misalign and
      // corrupt the per-batch load evidence the record's adjudicability
      // rests on — fail the record loudly instead (ADVICE r17)
      require(durs.length == loads.length,
        s"per-batch evidence misaligned: ${durs.length} non-empty " +
        s"micro-batches vs ${loads.length} load samples — a feed batch " +
        "drained as more than one micro-batch; the (ms, load) zip would " +
        "attribute loads to the wrong batches")
      durs.zip(loads)
    } finally q.stop()
  }

  /** `SPARK_GRAFT_STREAM_K`, checked before any Spark work: unset is None;
    * a value must be an integer k ≥ 1 (the number of centroids to fit).
    */
  private[graft] def streamK(raw: Option[String]): Option[Int] =
    raw.map(GraftSession.knob("SPARK_GRAFT_STREAM_K", _).toInt)

  def main(args: Array[String]): Unit = {
    val kOverride = streamK(sys.env.get("SPARK_GRAFT_STREAM_K"))
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val nBatches = GraftSession.envInt("SPARK_GRAFT_STREAM_BATCHES", 12)
    val rowsPer = GraftSession.envInt("SPARK_GRAFT_STREAM_ROWS", 256)
    val warmSkip = 2
    val spark = GraftSession.builder(GraftSession.cpus)
      // recentProgress is a RING BUFFER (default 100): a batch count past
      // it would silently drop the oldest durations and misalign the
      // per-batch (ms, load) zip the record's adjudicability rests on
      // (r17 review) — size it to the run
      .config("spark.sql.streaming.numRecentProgressUpdates",
        (nBatches + 16).toString)
      .getOrCreate()
    import org.apache.spark.sql.functions._

    val tq = graft.operators.TextQueries
    val dq = graft.operators.DedupQueries
    val simq = graft.operators.SimilarityQueries

    // ---- feed rows: bounded driver-side slices of the fixtures ----
    val need = nBatches * rowsPer
    val docRows: Seq[(Long, String)] =
      spark.read.parquet(s"$sfDir/documents.parquet")
        .select("doc_id", "text").limit(need).collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq
    val vecRows: Seq[(Long, Seq[Double])] =
      spark.read.parquet(s"$sfDir/embeddings.parquet")
        .select(col("vec_id"),
          expr("transform(embedding, x -> cast(x as double))").as("v"))
        .limit(need).collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq
    // a small fixture is RECYCLED to fill every batch (gates are
    // stateless — repeated ids across micro-batches are legal traffic)
    def chunk[T](rows: Seq[T]): Seq[Seq[T]] =
      Iterator.continually(rows).flatten.take(need)
        .grouped(rowsPer).take(nBatches).toSeq

    // ---- warm the served state OUTSIDE the measured loop (the serving
    // posture: models/indexes are artifacts a service loads once) ----
    val weights = tq.trainedQualityWeights(spark, sfDir)
    val corpusBloom = dq.corpusBloomBytes(spark, sfDir)
    val benchBloom = tq.benchShingleBloomBytes(spark, sfDir)
    val hot = dq.fuzzyGateHotSet(spark, sfDir)
    val corpusSigs = dq.bandSigTable(spark, sfDir)
      .filter(col("doc_id") % 50 =!= 0)
    corpusSigs.count()
    // SPARK_GRAFT_STREAM_K (r19, VERDICT r18 #1): the fixture's sized k
    // resolves to 8. Setting this fits that many centroids over the
    // fixture embeddings and serves the two vector gates from THEM — the
    // engaged-k latency drill, without needing a corpus-sized fixture.
    // Unset = the exact historical probe.
    val (cents, pack) = kOverride match {
      case None =>
        (simq.trainedIvfCentroidSeq(spark, sfDir),
         simq.semanticGateCorpusPack(spark, sfDir))
      case Some(k) =>
        val embAll = spark.read.parquet(s"$sfDir/embeddings.parquet")
          .select(col("vec_id"),
            expr("transform(embedding, x -> cast(x as double))").as("v"))
        val cdf = graft.api.KMeans.fit(embAll, "vec_id", "v",
          k = k, iters = 5)
        val cseq = cdf.collect()
          .map(r => (r.getLong(0),
            r.getSeq[Double](r.fieldIndex("cv")).toArray))
          .sortBy(_._1).toSeq
        val p = simq.semanticGateCellPack(
          embAll.filter(col("vec_id") % 10 =!= 0), cdf).cache()
        p.count()
        (cseq, p)
    }
    // the r16 routing gates' static sides (attach reads the sig table
    // aggregated per sig; route adds the bounded corpus label table)
    val routeLabels = dq.corpusRouteLabels(spark, sfDir)
    routeLabels.count()
    val mmq = graft.operators.MultimodalQueries

    import spark.implicits._
    val gates: Seq[(String, () => Seq[(Double, Double)])] = Seq(
      ("s_quality_gate", () => drive(spark, Seq("doc_id", "text"),
        chunk(docRows))(df => tq.rowQualityGate(df, weights))),
      ("s_dedup_gate", () => drive(spark, Seq("doc_id", "text"),
        chunk(docRows))(df => dq.bloomGateRows(df, corpusBloom))),
      ("s_contamination_gate", () => drive(spark, Seq("doc_id", "text"),
        chunk(docRows))(df => tq.contaminationGateRows(df, benchBloom))),
      ("s_fuzzy_gate", () => drive(spark, Seq("doc_id", "text"),
        chunk(docRows))(df => dq.fuzzyGateRows(df, hot, corpusSigs))),
      ("s_curation_pipeline", () => drive(spark, Seq("doc_id", "text"),
        chunk(docRows))(df =>
          tq.curationPipelineRows(df, weights, corpusBloom, benchBloom))),
      ("s_semantic_gate", () => drive(spark, Seq("vec_id", "v"),
        chunk(vecRows))(df => simq.semanticGateRows(df, cents, pack))),
      ("s_ann_query", () => drive(spark, Seq("vec_id", "v"),
        chunk(vecRows))(df => simq.annServeRows(df, cents, pack))),
      // the r16 routing serves (VERDICT r16 #4 probe coverage)
      ("s_fuzzy_attach", () => drive(spark, Seq("doc_id", "text"),
        chunk(docRows))(df => dq.fuzzyAttachRows(df, hot, corpusSigs))),
      ("s_cluster_route", () => drive(spark, Seq("doc_id", "text"),
        chunk(docRows))(df =>
          dq.clusterRouteRows(df, hot, corpusSigs, routeLabels))),
      // the multimodal decode gate: stream rows → container encode →
      // real BMP/WAV header+payload decode, all stateless mapPartitions
      ("s_mm_decode", () => drive(spark, Seq("doc_id", "text"),
        chunk(docRows))(df => mmq.decodeMediaFeatures(mmq.encodeMedia(
          df.select(col("doc_id").as("media_id"),
            element_at(array(lit("image"), lit("audio"), lit("video")),
              (col("doc_id") % 3 + 1).cast("int")).as("media_type"),
            col("text").cast("binary").as("payload")))))))

    val results = gates.map { case (name, run) =>
      val all = run()
      val steady = all.drop(warmSkip)
      (name, all.take(warmSkip).map(_._1), steady)
    }
    val gateJson = results.map { case (name, warm, steady) =>
      val ms = steady.map(_._1)
      s""""$name":{"p50_ms":${r1(pct(ms, 0.50))},""" +
        s""""p95_ms":${r1(pct(ms, 0.95))},""" +
        s""""max_ms":${r1(if (ms.isEmpty) 0 else ms.max)},""" +
        s""""warmup_max_ms":${r1(if (warm.isEmpty) 0 else warm.max)},""" +
        s""""batches":${ms.size},""" +
        s""""ms":[${ms.map(r1).mkString(",")}],""" +
        s""""load":[${steady.map(x => r1(x._2)).mkString(",")}]}"""
    }.mkString("{", ",", "}")
    val line =
      s"""{"metric":"stream_latency_ms","gates":$gateJson,""" +
        s""""rows_per_batch":$rowsPer,"sf":"$sfDir",""" +
        kOverride.fold("")(k => s""""k_override":$k,""") +
        s""""load_avg":${r1(java.lang.management.ManagementFactory
          .getOperatingSystemMXBean.getSystemLoadAverage)}}"""
    println(line)
    try {
      val out = java.nio.file.Paths.get("target", "stream_latency.json")
      java.nio.file.Files.createDirectories(out.getParent)
      java.nio.file.Files.write(out,
        (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } catch { case NonFatal(t) =>
      System.err.println(s"[stream-latency] write failed: $t")
    }
    spark.stop()
  }
}
