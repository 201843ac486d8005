package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.GraftSession
import graft.api.{GraftOps, IndexArtifacts}
import graft.operators.{DedupQueries, SimilarityQueries}
import scala.util.control.NonFatal

/** Randomized maintenance-lifecycle driver (VERDICT r17 #2): the serve
  * state machine (append / shrink / compact / freeze-grow / retrain /
  * crash-repair / lease degradation) has enough branches that the
  * directed DerivedArtifactsSpec cases enumerate, but compositions
  * nobody wrote down only a property sweep finds. This runs SEEDED
  * random interleavings of source mutations and fault injections
  * against (a) the five-layer shingle stack and (b) the frozen-model /
  * encoded-ivfpq family, asserting after EVERY step:
  *
  *   - layer ≡ rebuild: every served layer equals the live plan over
  *     the current corpus (the shingle stack), or a forced cold
  *     re-encode under the same served models (the index);
  *   - sidecar honesty: each committed `__mf` row count matches the
  *     parquet footers (no torn or duplicated state survives a serve);
  *   - fence discipline, observably: no interleaving ever yields
  *     duplicated rows or a stale serve (the two ways a violated fence
  *     manifests).
  *
  * Shared by MaintenanceLifecycleSpec (CI: a few sequences, bounded
  * runtime) and the offline deep sweep whose record lands in
  * records/lifecycle_property.json:
  *
  *   SPARK_GRAFT_LIFECYCLE_SEQS=20 SPARK_GRAFT_LIFECYCLE_STEPS=8 \
  *     sbt "runMain graft.tools.LifecycleFuzz"
  */
object LifecycleFuzz {

  final case class Outcome(seqs: Int, steps: Int, ops: Map[String, Int],
                           serves: Map[String, Int])

  private def rm(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rm))
    f.delete(): Unit
  }

  private def dataFiles(path: String): Seq[java.io.File] =
    Option(new java.io.File(path).listFiles).getOrElse(Array.empty)
      .filter(f => f.isFile && !f.getName.startsWith("_") &&
        !f.getName.startsWith(".")).toSeq

  private def wh(s: SparkSession): String =
    s.conf.get("spark.sql.warehouse.dir")
      .stripPrefix("file:").stripSuffix("/")

  /** Committed-sidecar honesty: when a layer's `__mf` sidecar and
    * artifact both exist, the committed count must match the footers —
    * a violated fence or unrepaired torn write would surface here. */
  private def assertSidecarsHonest(s: SparkSession, tables: Seq[String],
                                   ctx: String): Unit =
    tables.foreach { t =>
      val path = s"${wh(s)}/$t"
      if (new java.io.File(path + "__mf").exists &&
          new java.io.File(path).exists) {
        val rows = s.read.parquet(path + "__mf").collect()
        if (rows.length == 1) {
          val n = rows(0).getAs[Long]("n")
          val got = IndexArtifacts.parquetRowCount(s, path)
          assert(got == n,
            s"[$ctx] $t sidecar claims $n rows, footers hold $got")
        }
      }
    }

  private def rows(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  /** One random shingle-stack sequence: grow/retract/crash/lease/compact
    * against a fresh corpus dir, asserting layer ≡ live plan and sidecar
    * honesty after every step. Returns (op name → count, serve source →
    * count) for the record. */
  // scalastyle:off method.length
  def shingleSequence(s: SparkSession, seed: Long, steps: Int)
      : (Map[String, Int], Map[String, Int]) = {
    val rng = new scala.util.Random(seed)
    import s.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory(s"lcfz$seed").toString
    val docsPath = s"$dir/documents.parquet"
    val slug = dir.replaceAll("[^A-Za-z0-9]+", "_")
    val tables = Seq("shraw", "shcap", "shsigs", "shpairs", "shclus")
      .map(t => s"g_drv_${t}_$slug")
    def text(fam: Long) = (1 to 12).map(t => s"f${fam}w${(t * 7) % 11}")
      .mkString(" ")
    def uniq(i: Long) = (1 to 12).map(t => s"u${i}x$t").mkString(" ")
    var nextId = 0L
    def writeBatch(n: Int): Unit = {
      val docs = (0 until n).map { _ =>
        val i = nextId; nextId += 1
        val t = if (rng.nextBoolean()) text(rng.nextInt(3).toLong)
                else uniq(i)
        (i, "src", t)
      }
      docs.toDF("doc_id", "source", "text")
        .coalesce(1).write.mode("append").parquet(docsPath)
      graft.Tables.invalidate(s, docsPath)
    }
    def release(): Unit = DedupQueries.releaseShingleIndex(s)
    def serveAll(): Seq[Set[Seq[Any]]] = {
      release()
      val out = Seq(
        rows(DedupQueries.uncappedShingleHashes(s, dir)),
        rows(DedupQueries.cappedShingleIndex(s, dir)),
        rows(DedupQueries.bandSigTable(s, dir)),
        rows(DedupQueries.sharedShinglePairs(s, dir)),
        rows(DedupQueries.clusterLabels(s, dir)))
      release() // drop the cached pins between steps
      out
    }
    def assertLive(ctx: String, served: Seq[Set[Seq[Any]]]): Unit = {
      val live = s.read.parquet(docsPath)
      val liveCapped = DedupQueries.capIndex(DedupQueries.shinglesOf(live))
      val livePairs = DedupQueries.pairsPlan(liveCapped)
      val cc = GraftOps.connectedComponents(
        DedupQueries.verifiedNearDupEdges(liveCapped, livePairs),
        "da", "db")
      try {
        val expect = Seq(
          rows(DedupQueries.shinglesOf(live)),
          rows(liveCapped),
          rows(DedupQueries.fuzzyGateCorpusSigs(live)),
          rows(livePairs),
          rows(cc))
        served.zip(expect).zipWithIndex.foreach { case ((got, want), i) =>
          assert(got == want,
            s"[$ctx] layer ${tables(i)} diverged from the live plan: " +
            s"extra=${(got -- want).take(3)} missing=${(want -- got).take(3)}")
        }
      } finally cc.unpersist(blocking = false)
    }
    val opCounts = scala.collection.mutable.Map.empty[String, Int]
      .withDefaultValue(0)
    val srcCounts = scala.collection.mutable.Map.empty[String, Int]
      .withDefaultValue(0)
    writeBatch(3 + rng.nextInt(3))
    assertLive(s"seed=$seed init", serveAll())
    for (step <- 1 to steps) {
      val ctx = s"seed=$seed step=$step"
      val ops = Seq("append", "retract", "crash", "lease", "compact")
      val op = ops(rng.nextInt(ops.length))
      opCounts(op) += 1
      op match {
        case "append" => writeBatch(1 + rng.nextInt(3))
        case "retract" =>
          val fs = dataFiles(docsPath)
          if (fs.length >= 2) {
            val victim = fs(rng.nextInt(fs.length))
            assert(victim.delete(), s"[$ctx] retract failed")
            graft.Tables.invalidate(s, docsPath)
          } else writeBatch(1) // nothing safe to retract: grow instead
        case "crash" =>
          val t = tables(rng.nextInt(tables.length))
          val path = s"${wh(s)}/$t"
          rng.nextInt(3) match {
            case 0 => rm(new java.io.File(path + "__mf")) // lost commit
            case 1 => rm(new java.io.File(path))          // lost artifact
            case 2 =>                                     // torn append
              if (new java.io.File(path).exists) {
                val dup = s.read.parquet(path).limit(1).collect()
                if (dup.nonEmpty) {
                  val schema = s.read.parquet(path).schema
                  s.createDataFrame(
                      java.util.Arrays.asList(dup: _*), schema)
                    .write.mode("append").parquet(path)
                }
              }
          }
        case "lease" =>
          // a live FOREIGN holder: serves must degrade to correct live
          // builds with no artifact writes, then recover once the
          // holder's lease is gone (the TTL break, simulated)
          val t = tables(rng.nextInt(tables.length))
          val lease = new java.io.File(s"${wh(s)}/$t" + "__lease")
          java.nio.file.Files.write(lease.toPath,
            "foreign-holder-token".getBytes("UTF-8"))
          try assertLive(s"$ctx (under lease)", serveAll())
          finally rm(lease)
        case "compact" =>
          s.conf.set("spark.graft.compact.fileGroups", "2")
      }
      try {
        val served = serveAll()
        assertLive(ctx, served)
        assertSidecarsHonest(s, tables, ctx)
        val src = DedupQueries.derivedSourceOf(s, "shingle_raw")
        srcCounts(src) += 1
      } finally s.conf.unset("spark.graft.compact.fileGroups")
    }
    release()
    tables.foreach { t =>
      rm(new java.io.File(s"${wh(s)}/$t"))
      rm(new java.io.File(s"${wh(s)}/$t" + "__mf"))
    }
    rm(new java.io.File(dir))
    (opCounts.toMap, srcCounts.toMap)
  }

  /** One random frozen-model / encoded-index sequence: grow (models
    * freeze), retract (models refit), retrain (epoch ends), crash
    * injections on the model sidecars and the index artifact — after
    * every step the served index must equal a forced cold re-encode
    * under the SAME served models, cover exactly the corpus vec_ids,
    * and commit honest sidecars. */
  def modelSequence(s: SparkSession, seed: Long, steps: Int)
      : (Map[String, Int], Map[String, Int]) = {
    val rng = new scala.util.Random(seed)
    import s.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory(s"lcfm$seed").toString
    val embPath = s"$dir/embeddings.parquet"
    val slug = dir.replaceAll("[^A-Za-z0-9]+", "_")
    val idxTable = s"g_drv_ivfpqidx_$slug"
    val modelTables = Seq("ivf", "ivfpq").map(k => s"g_model_${k}_$slug")
    def vec(i: Long): Seq[Float] = (0 until 64).map(j =>
      ((i * 131 + j * 17 + (i * i) % 257) % 101).toFloat / 101f)
    var nextId = 0L
    def writeBatch(n: Int): Unit = {
      val lo = nextId; nextId += n
      (lo until nextId).map(i => (i, vec(i), (i % 3).toInt))
        .toDF("vec_id", "embedding", "label")
        .coalesce(1).write.mode("append").parquet(embPath)
      graft.Tables.invalidate(s, embPath)
    }
    def idxRows(): Set[Seq[Any]] = {
      SimilarityQueries.releaseIvfpqIndex(s)
      val out = rows(SimilarityQueries.ivfpqIndex(s, dir, trained = true))
      SimilarityQueries.releaseIvfpqIndex(s)
      out
    }
    val opCounts = scala.collection.mutable.Map.empty[String, Int]
      .withDefaultValue(0)
    val srcCounts = scala.collection.mutable.Map.empty[String, Int]
      .withDefaultValue(0)
    writeBatch(12 + rng.nextInt(6))
    idxRows()
    for (step <- 1 to steps) {
      val ctx = s"model seed=$seed step=$step"
      val ops = Seq("grow", "retract", "retrain", "crash")
      val op = ops(rng.nextInt(ops.length))
      opCounts(op) += 1
      op match {
        case "grow" => writeBatch(3 + rng.nextInt(4))
        case "retract" =>
          val fs = dataFiles(embPath)
          if (fs.length >= 2) {
            assert(fs(rng.nextInt(fs.length)).delete(), s"[$ctx] retract")
            graft.Tables.invalidate(s, embPath)
          } else writeBatch(2)
        case "retrain" => SimilarityQueries.retrainModels(s, dir)
        case "crash" =>
          rng.nextInt(3) match {
            case 0 => rm(new java.io.File(
              s"${wh(s)}/${modelTables(rng.nextInt(2))}" + "__mmf"))
            case 1 => rm(new java.io.File(s"${wh(s)}/$idxTable" + "__mf"))
            case 2 => rm(new java.io.File(s"${wh(s)}/$idxTable"))
          }
      }
      val served = idxRows()
      srcCounts(DedupQueries.derivedSourceOf(s, "ivfpq_index")) += 1
      // coverage: exactly the corpus ids, exactly once each
      val ids = served.toSeq.map(_.head.asInstanceOf[Long]).sorted
      val corpus = s.read.parquet(embPath).select("vec_id")
        .collect().map(_.getLong(0)).sorted.toSeq
      assert(ids == corpus,
        s"[$ctx] index ids diverged from corpus " +
        s"(idx=${ids.length}, corpus=${corpus.length})")
      // ≡ rebuild: a forced cold re-encode under the same served models
      rm(new java.io.File(s"${wh(s)}/$idxTable"))
      rm(new java.io.File(s"${wh(s)}/$idxTable" + "__mf"))
      val cold = idxRows()
      assert(served == cold, s"[$ctx] served index != cold re-encode")
      assertSidecarsHonest(s, Seq(idxTable), ctx)
      val ts = SimilarityQueries.trainSource(s, "ivf", dir)
      assert(Seq("fit", "frozen", "artifact").contains(ts), s"[$ctx] $ts")
    }
    SimilarityQueries.releaseTrainedModels(s)
    (Seq(idxTable) ++ modelTables).foreach { t =>
      rm(new java.io.File(s"${wh(s)}/$t"))
      rm(new java.io.File(s"${wh(s)}/$t" + "__mf"))
      rm(new java.io.File(s"${wh(s)}/$t" + "__mmf"))
    }
    rm(new java.io.File(dir))
    (opCounts.toMap, srcCounts.toMap)
  }
  // scalastyle:on method.length

  /** Run `seqs` sequences of each family from `seed0`; aggregate the
    * op/serve-source tallies (the record's evidence that every branch
    * actually exercised). */
  def sweep(s: SparkSession, seed0: Long, seqs: Int, steps: Int)
      : Outcome = {
    var ops = Map.empty[String, Int].withDefaultValue(0)
    var srcs = Map.empty[String, Int].withDefaultValue(0)
    def add(r: (Map[String, Int], Map[String, Int])): Unit = {
      r._1.foreach { case (k, v) => ops += (k -> (ops(k) + v)) }
      r._2.foreach { case (k, v) => srcs += (k -> (srcs(k) + v)) }
    }
    for (i <- 0 until seqs) {
      add(shingleSequence(s, seed0 + i, steps))
      add(modelSequence(s, seed0 + 100 + i, steps))
    }
    Outcome(seqs, steps, ops, srcs)
  }

  def main(args: Array[String]): Unit = {
    val seqs = GraftSession.envInt("SPARK_GRAFT_LIFECYCLE_SEQS", 20)
    val seed0 = GraftSession.envLong("SPARK_GRAFT_LIFECYCLE_SEED", 42L,
      min = Long.MinValue)
    val steps = GraftSession.envInt("SPARK_GRAFT_LIFECYCLE_STEPS", 8)
    val spark = GraftSession.builder(GraftSession.cpus).getOrCreate()
    val t0 = System.nanoTime()
    val out = sweep(spark, seed0 = seed0, seqs = seqs, steps = steps)
    val sec = (System.nanoTime() - t0) / 1e9
    def m(kv: Map[String, Int]) = kv.toSeq.sorted
      .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    val line =
      s"""{"metric":"lifecycle_property","sequences":${out.seqs * 2},""" +
      s""""steps_per_seq":${out.steps},"seed0":$seed0,""" +
      s""""ops":${m(out.ops)},"serve_sources":${m(out.serves)},""" +
      s""""asserts_per_step":"layer==live-plan x5 (shingle) / """ +
      s"""index==cold-re-encode + id coverage (model), sidecar counts",""" +
      s""""wall_sec":${String.format(java.util.Locale.ROOT, "%.1f",
        Double.box(sec))},""" +
      s""""load_avg":${String.format(java.util.Locale.ROOT, "%.1f",
        Double.box(java.lang.management.ManagementFactory
          .getOperatingSystemMXBean.getSystemLoadAverage))}}"""
    println(line)
    try {
      val p = java.nio.file.Paths.get("target", "lifecycle_property.json")
      java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.write(p, (line + "\n").getBytes("UTF-8"))
    } catch { case NonFatal(t) =>
      System.err.println(s"[lifecycle-fuzz] write failed: $t")
    }
    spark.stop()
  }
}
