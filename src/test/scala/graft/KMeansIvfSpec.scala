package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.api.{IvfOps, KMeans}
import graft.functions.expressions.VectorFunctions.cosine_sim

/** ANN quality gate: IVF with TRAINED (k-means) centroids must recover the
  * brute-force top-5 neighbours for most probe queries — pinning that the
  * k-means + bucket-probe path is a usable ANN index, not just a plan
  * shape (VERDICT r01 item 5).
  */
class KMeansIvfSpec extends SparkSpec {

  /** The scoring form IvfOps.assign used before the NearestCentroids
    * kernel — an interpreted transform() over the scalar-subquery block,
    * ranked by one struct sort (array_max at nProbe 1) — kept here as the
    * kernel's reference: (vec_id, [(csim, cid)] best first). */
  private def referenceNearest(vecs: org.apache.spark.sql.DataFrame,
      block: org.apache.spark.sql.Column, nProbe: Int) = {
    import graft.functions.expressions.VectorFunctions.dot_product
    val scored = transform(col("__cents"), c =>
      struct(nanvl(when(col("__nrm") * c.getField("cnrm") > 0,
                     dot_product(col("v"), c.getField("cv")) /
                       (col("__nrm") * c.getField("cnrm")))
                   .otherwise(lit(-2d)), lit(-2d)).as("csim"),
             (-c.getField("cid")).as("negcid")))
    val ranked =
      if (nProbe == 1) array(array_max(scored))
      else slice(reverse(array_sort(scored)), 1, nProbe)
    vecs.withColumn("__cents", block)
      .withColumn("__nrm", sqrt(dot_product(col("v"), col("v"))))
      .select(col("vec_id"), transform(ranked, p => struct(
        p.getField("csim").as("csim"), (-p.getField("negcid")).as("cid")))
        .as("near"))
  }

  /** (vec_id, [(csim bits, cid)]) rows, sorted: exact to the bit. */
  private def nearRows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map { r =>
      val near = r.getSeq[org.apache.spark.sql.Row](1).map { p =>
        val sim = if (p.isNullAt(0)) "null"
          else java.lang.Double.doubleToRawLongBits(p.getDouble(0)).toString
        s"($sim,${p.get(1)})"
      }
      s"${r.getLong(0)}:${near.mkString(",")}"
    }.sorted.toSeq

  private def withConf[T](kv: (String, String)*)(f: => T): T = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("NearestCentroids ≡ the transform-scored reference, bit for bit, " +
       "at k = 8 and 24 and nProbe 1-3, codegen'd and interpreted, from " +
       "a scalar-subquery block and from a literal block") {
    import spark.implicits._
    import graft.functions.expressions.VectorFunctions.nearest_centroids
    val e = Tables.embeddings(spark, sf)
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
    val dim = e.select(size(col("v"))).head().getInt(0)
    val v1 = e.filter(col("vec_id") === 1).select("v").head().getSeq[Double](0)
    // the degenerate rows: a zero-norm vector, a null vector, a ragged
    // vector, a vector with a null element, and one exactly on the tied
    // centroids' direction
    val odd = Seq[(Long, Option[Seq[Option[Double]]])](
        (-1L, Some(Seq.fill(dim)(Some(0d)))), (-2L, None),
        (-3L, Some(Seq.fill(dim - 1)(Some(0.5)))),
        (-4L, Some(Some(1d) +: Seq.fill(dim - 1)(None: Option[Double]))),
        (-5L, Some(v1.map(Some(_)))))
      .toDF("vec_id", "v")
    val vecs = e.unionByName(odd)
    for (k <- Seq(8, 24)) {
      // cid k-2 duplicates cid 1 (tied scores); cid k-1 is all zeros
      val base = e.filter(col("vec_id") < k - 2).collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).toSeq
      val cents = base ++ Seq(((k - 2).toLong, v1.toArray),
                              ((k - 1).toLong, Array.fill(dim)(0d)))
      val centsDf = cents.map { case (c, v) => (c, v.toSeq) }.toDF("cid", "cv")
      val block = IvfOps.centroidBlock(centsDf, "cid", "cv")
      for (nProbe <- 1 to 3) {
        val want = nearRows(referenceNearest(vecs, block, nProbe))
        // the ragged row: only the zero-norm centroid (floor -2) outranks
        // its null scores, which then tie to the lowest cid
        if (nProbe >= 2) assert(
          want.find(_.startsWith("-3:")).get.contains(s",${k - 1}),(null,0)"))
        for (mode <- Seq("CODEGEN_ONLY", "NO_CODEGEN")) withConf(
            "spark.sql.codegen.factoryMode" -> mode,
            "spark.sql.codegen.wholeStage" -> (mode == "CODEGEN_ONLY").toString) {
          for ((src, b) <- Seq("block" -> block,
                               "literal" -> IvfOps.centroidLiteral(cents))) {
            val got = nearRows(vecs.select(col("vec_id"),
              nearest_centroids(col("v"), b, nProbe).as("near")))
            assert(got == want, s"k=$k nProbe=$nProbe $mode $src")
          }
        }
      }
      // the tie goes to the lower cid and the zero-norm centroid scores
      // the floor: the row on cid 1's direction probes cid 1, then k-2
      val ref = nearRows(referenceNearest(vecs, block, 2))
      val onDir = ref.find(_.startsWith("-5:")).get
      assert(onDir.matches(s"-5:\\([0-9-]+,1\\),\\([0-9-]+,${k - 2}\\)"),
        onDir)
      // assign is the kernel exploded to one row per probe
      def probeRows(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => s"${r.getLong(0)}:${r.get(1)}:${r.get(2)}").sorted.toSeq
      val asg = IvfOps.assign(vecs, IvfOps.centroidLiteral(cents), nProbe = 2,
          keepScore = true)
      assert(probeRows(asg.select("vec_id", "cid", "csim")) ==
        probeRows(referenceNearest(vecs, block, 2)
          .select(col("vec_id"), explode(col("near")).as("p"))
          .select("vec_id", "p.cid", "p.csim")), s"assign k=$k")
    }
  }

  test("assign fails loudly on an empty centroid block") {
    import spark.implicits._
    val vecs = Seq((1L, Seq(1d, 0d))).toDF("vec_id", "v")
    val empty = Seq.empty[(Long, Seq[Double])].toDF("cid", "cv")
    val err = intercept[Exception](
      IvfOps.assign(vecs, IvfOps.centroidBlock(empty, "cid", "cv"), 1)
        .collect())
    assert(err.getMessage.contains("empty centroid block"), err.getMessage)
  }

  test("corpus-sized coarse k (VERDICT r17 #1): the policy clamps " +
       "ceil(n/targetCell) to [8, kMax], realizes from catalog stats / " +
       "footer counts, and the fixture fit carries it") {
    val sq = graft.operators.SimilarityQueries
    // the policy function, pinned at its corners and at the stress shape
    assert(sq.sizedIvfK(0L) == 8)
    assert(sq.sizedIvfK(500L) == 8)            // sf0.01 fixture → legacy k
    assert(sq.sizedIvfK(2000L) == 8)           // sf0.1 fixture → legacy k
    assert(sq.sizedIvfK(sq.IvfTargetCell.toLong * 8) == 8)
    assert(sq.sizedIvfK(sq.IvfTargetCell.toLong * 8 + 1) == 9)
    assert(sq.sizedIvfK(20000L) == 40)         // the ScaleStress fixture
    assert(sq.sizedIvfK(Long.MaxValue / 4) == sq.IvfKMax)
    // the clamp floor cannot outgrow the cap: while k=8 binds, n ≤
    // 8·targetCell, so even a corpus degenerating into ONE cell stays
    // within BucketCap; once the clamp releases, expected cell size is
    // targetCell (8× headroom under the cap)
    assert(sq.IvfTargetCell * 8 <= graft.api.IvfOps.BucketCap)
    // n realizes without a scan: footer counts (no catalog registered
    // for this dir in this spec path) match the fixture row count
    val n = sq.embRowCount(spark, sf)
    assert(n == Tables.embeddings(spark, sf).count())
    // and the served fixture model realizes the policy's k (distinct
    // cell ids in the centroid table = sizedIvfK(n), modulo empty-cell
    // demotion which this fixture does not hit)
    val cents = sq.trainedIvfCentroids(spark, sf)
    assert(cents.select("cid").distinct().count() == sq.sizedIvfK(n))
  }

  test("sized k ENGAGED (k > 8): recall holds and the realized cells " +
       "track the policy on a corpus past the clamp floor") {
    import spark.implicits._
    val sq = graft.operators.SimilarityQueries
    val dir = java.nio.file.Files.createTempDirectory("sizedk").toString
    // 16 planted direction clusters of ~330 vectors each (5,280 total →
    // k = ceil(5280/512) = 11): true neighbours share a cluster, so
    // recall is a property of the split, not of random-cosine luck
    def vec(i: Long): Seq[Float] = {
      val c = (i % 16).toInt
      (0 until 64).map { j =>
        val center = ((c * 131 + j * 17) % 101).toFloat / 101f
        val jitter = ((i * 7 + j * 3) % 13).toFloat / 1300f
        center + jitter
      }
    }
    (0L until 5280L).map(i => (i, vec(i), (i % 3).toInt))
      .toDF("vec_id", "embedding", "label")
      .repartition(2).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    try {
      val n = sq.embRowCount(spark, dir)
      assert(n == 5280L && sq.sizedIvfK(n) == 11)
      val cents = sq.trainedIvfCentroids(spark, dir)
      val kReal = cents.select("cid").distinct().count()
      assert(kReal == 11, s"realized k: $kReal")
      // no cell may exceed the bucket cap (the r17 recall-cliff bound),
      // and the planted clusters must not all collapse into one cell
      val e = Tables.embeddings(spark, dir)
        .select(col("vec_id"),
          transform(col("embedding"), x => x.cast("double")).as("v"))
      val cells = graft.api.IvfOps.assign(
          e, graft.api.IvfOps.centroidBlock(cents, "cid", "cv"), nProbe = 1)
        .groupBy("cid").agg(count(lit(1)).as("n"))
        .collect().map(_.getLong(1))
      assert(cells.max <= graft.api.IvfOps.BucketCap,
        s"max cell ${cells.max}")
      assert(cells.length >= 8, s"cells: ${cells.length}")
      // recall@3 vs brute force over 12 probe queries through the
      // PRODUCTION annTopK path at the engaged k
      val qs = e.filter(col("vec_id") % 440 === 0)
        .select(col("vec_id").as("q_id"), col("v").as("qv"))
      val got = graft.api.IvfOps
        .annTopK(e, "vec_id", "v", qs, "q_id", "qv",
          IvfOps.centroidBlock(cents, "cid", "cv"), k = 3)
        .select("q_id", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val brute = e.as("a").join(e.as("b"),
          col("a.vec_id") =!= col("b.vec_id"))
        .filter(col("a.vec_id") % 440 === 0)
        .select(col("a.vec_id").as("q_id"), col("b.vec_id").as("nid"),
          cosine_sim(col("a.v"), col("b.v")).as("s"))
        .withColumn("rnk", org.apache.spark.sql.functions.row_number().over(
          Window.partitionBy("q_id")
            .orderBy(col("s").desc, col("nid").asc)))
        .filter(col("rnk") <= 3)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      assert(brute.keySet == got.keySet && brute.size == 12)
      val hits = brute.map { case (q, truth) =>
        (got(q) intersect truth).size
      }.sum
      val recall = hits.toDouble / (brute.size * 3)
      assert(recall >= 0.8, s"recall@3 at sized k=11: $recall")
    } finally {
      sq.releaseTrainedModels(spark)
      val slug = dir.replaceAll("[^A-Za-z0-9]+", "_")
      for (kind <- Seq("ivf", "pq", "ivfpq", "pca"))
        graft.api.IndexArtifacts.dropModel(spark, s"g_model_${kind}_$slug")
    }
  }

  test("KMeans.fit caches the corpus for multi-iteration runs and releases it") {
    val e = Tables.embeddings(spark, sf)
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = plans.add(qe.executedPlan.toString)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    val pinnedBefore = spark.sparkContext.getPersistentRDDs.size
    spark.listenerManager.register(listener)
    try {
      val cents = KMeans.fit(e, "vec_id", "v", k = 4, iters = 3)
      assert(cents.count() >= 1)
      // the listener bus is async — wait for the iteration plans to land
      val deadline = System.currentTimeMillis() + 10000
      while (plans.size < 3 && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
    } finally spark.listenerManager.unregister(listener)
    import scala.jdk.CollectionConverters._
    // each Lloyd's iteration must aggregate over the in-memory corpus,
    // not re-scan the parquet source (iters source scans at 100 TB)
    val iterations = plans.asScala.filter(_.contains("avg("))
    assert(iterations.size >= 3, s"expected 3 iteration plans, saw ${plans.size}")
    assert(iterations.forall(_.contains("InMemory")),
      "iteration aggregations must read the cached corpus")
    // ...and the cache is released on exit, not pinned for the session
    assert(spark.sparkContext.getPersistentRDDs.size == pinnedBefore)
  }

  test("trained centroids end-to-end at sf0.01: the q_sim_ann shape over " +
       "KMeans.fit output recovers ≥ 0.8 of brute-force top-3") {
    // the t2 query q_sim_ann keeps fixture centroids (vec_id < 8) so the
    // DuckDB oracle can mirror the bucket arithmetic; THIS test is the
    // trained half of that split — same annTopK shape, same sf0.01 data,
    // centroids from KMeans.fit — pinned against the brute-force
    // q_sim_knn_batch shape
    val sf01 = "/root/testdata/sf0.01"
    val e = Tables.embeddings(spark, sf01)
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
    val cents = KMeans.fit(e, "vec_id", "v", k = 8, iters = 5)
    val qs = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))

    val ann = IvfOps.annTopK(e, "vec_id", "v", qs, "q_id", "qv",
        IvfOps.centroidBlock(cents, "cid", "cv"), k = 3)
      .select("q_id", "vec_id").collect()
      .groupBy(_.getLong(0)).view
      .mapValues(_.map(_.getLong(1)).toSet).toMap

    val w = Window.partitionBy("q_id")
      .orderBy(col("sim").desc, col("vec_id").asc)
    val brute = e.crossJoin(broadcast(qs))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
              cosine_sim(col("v"), col("qv")).as("sim"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
      .select("q_id", "vec_id").collect()
      .groupBy(_.getLong(0)).view
      .mapValues(_.map(_.getLong(1)).toSet).toMap

    assert(brute.size == 10)
    val hits = brute.map { case (q, truth) =>
      ann.getOrElse(q, Set.empty).count(truth) }.sum
    val recall = hits.toDouble / (brute.size * 3)
    assert(recall >= 0.8, s"aggregate recall@3 $recall < 0.8")
  }

  test("q_sim_ivf_trained is deterministic run-to-run (fixed Lloyd's " +
       "init/tie rules — the no_oracle key's stability contract)") {
    def run() = SparkEntry.queries("q_sim_ivf_trained")(spark, sf)
      .collect().toSeq
    val first = run()
    assert(first.nonEmpty)
    assert(run() == first)
  }

  test("q_sim_pq_trained: deterministic run-to-run, and trained codebooks " +
       "quantize no worse than their fixture init") {
    def run() = SparkEntry.queries("q_sim_pq_trained")(spark, sf)
      .collect().toSeq
    val first = run()
    assert(first.size == 5)
    assert(run() == first)
    // KMeans.fit inits from the 4 lowest-id subvectors — exactly the
    // fixture codebook — so 5 Lloyd's rounds must not LOSE reconstruction
    // quality on the corpus it trained on
    val sq = graft.operators.SimilarityQueries
    val e = Tables.embeddings(spark, sf).select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("v"))
    def mse(cb: org.apache.spark.sql.DataFrame): Double = {
      val rows = sq.pqEncodeWith(e, cb).select("vec_id", "rv")
        .join(e, Seq("vec_id")).select("v", "rv").collect()
      rows.map { r =>
        val v = r.getSeq[Double](0); val rv = r.getSeq[Double](1)
        v.zip(rv).map { case (a, b) => (a - b) * (a - b) }.sum
      }.sum / rows.length
    }
    val mFix = mse(sq.pqFixtureCodebook(e))
    val mTrn = mse(sq.pqTrainedCodebook(e))
    assert(mTrn <= mFix, s"trained MSE $mTrn worse than fixture init $mFix")
  }

  test("fitSubspaces equals the m independent per-subspace fits exactly " +
       "(one scan per iteration, not m)") {
    val sq = graft.operators.SimilarityQueries
    val e = Tables.embeddings(spark, sf).select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("v"))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Double](2)))
      .sortBy(t => (t._1, t._2)).toSeq
    // subspace trajectories are independent, so the combined loop must be
    // BIT-IDENTICAL (decimal means, same init/tie rules) to m separate fits
    assert(rows(sq.pqTrainedCodebook(e)) == rows(sq.pqTrainedCodebookNaive(e)))
  }

  test("IVF over k-means centroids: recall@5 ≥ 0.8 for ≥ 80% of 20 probes") {
    val e = Tables.embeddings(spark, sf)
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
    val cents = KMeans.fit(e, "vec_id", "v", k = 8, iters = 5)

    val qs = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val w = Window.partitionBy("q_id")
      .orderBy(col("sim").desc, col("vec_id").asc)

    def top5(pairs: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      pairs.filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id"),
                cosine_sim(col("v"), col("qv")).as("sim"))
        .withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
        .select("q_id", "vec_id").collect()
        .groupBy(_.getLong(0)).view
        .mapValues(_.map(_.getLong(1)).toSet).toMap

    // brute-force ground truth: all 20 queries in one broadcast block
    val brute = top5(e.crossJoin(broadcast(qs)))

    // IVF through the library entry point (corpus 2-probe, query 3-probe)
    val ivf = IvfOps.annTopK(e, "vec_id", "v", qs, "q_id", "qv",
        IvfOps.centroidBlock(cents, "cid", "cv"), k = 5)
      .select("q_id", "vec_id").collect()
      .groupBy(_.getLong(0)).view
      .mapValues(_.map(_.getLong(1)).toSet).toMap

    val recalls = brute.map { case (q, truth) =>
      q -> ivf.getOrElse(q, Set.empty).count(truth)./(5.0)
    }
    val goodShare = recalls.values.count(_ >= 0.8).toDouble / recalls.size
    assert(recalls.size == 20)
    assert(goodShare >= 0.8,
      s"only ${(goodShare * 100).round}% of probes reached recall ≥ 0.8: $recalls")
  }

  test("IVFADC (q_sim_ivfpq_trained): deterministic, and recall@5 vs exact " +
       "q_sim_knn ≥ 0.8 (VERDICT r14 #3)") {
    def ids(name: String): Seq[Long] =
      SparkEntry.queries(name)(spark, sf)
        .select("vec_id").collect().map(_.getLong(0)).toSeq
    val adc1 = ids("q_sim_ivfpq_trained")
    val adc2 = ids("q_sim_ivfpq_trained")
    assert(adc1 == adc2, "IVFADC retrieval must be deterministic run-to-run")
    assert(adc1.size == 5)
    val truth = ids("q_sim_knn").toSet
    val recall = adc1.count(truth) / 5.0
    assert(recall >= 0.8,
      s"IVFADC recall@5 $recall < 0.8 (got ${adc1.toList}, exact $truth)")
  }

  test("IVFADC reconstruction error does not exceed the raw trained-PQ " +
       "twin's (coarse+residual coding must capture at least what the " +
       "raw codebooks do)") {
    val sq = graft.operators.SimilarityQueries
    val e = sq.emb(spark, sf)
    val cents = sq.trainedIvfCentroids(spark, sf)
    def sse(recon: org.apache.spark.sql.DataFrame, vcol: String): Double =
      recon.join(e.select(col("vec_id"), col("v").as("__orig")), Seq("vec_id"))
        .select(aggregate(zip_with(col(vcol), col("__orig"),
            (a, b) => (a - b) * (a - b)),
          lit(0.0), (acc, x) => acc + x).as("e2"))
        .agg(sum("e2")).collect().head.getDouble(0)
    // IVFADC reconstruction: coarse centroid + decoded residual (the
    // IVFADC geometry — 16 subspaces of 4 dims)
    val adc = sq.pqEncodeWith(sq.ivfResiduals(e, cents),
        sq.trainedIvfPqCodebook(spark, sf), passThrough = Seq("__ccv"),
        nSub = 16, subDim = 4)
      .select(col("vec_id"),
        zip_with(col("__ccv"), col("rv"), (a, b) => a + b).as("rvfull"))
    // raw trained PQ reconstruction (no coarse stage)
    val raw = sq.pqEncodeWith(e, sq.trainedPqCodebook(spark, sf))
    val (adcErr, rawErr) = (sse(adc, "rvfull"), sse(raw, "rv"))
    assert(adcErr <= rawErr * 1.0001, // exact-arith slack only
      s"IVFADC SSE $adcErr > raw-PQ SSE $rawErr — residual quantization " +
      "must capture at least what the raw codebooks do")
  }

  test("s_ann_query: deterministic, ranks 1..3 per query, and mean " +
       "recall@3 vs exact brute force ≥ 0.5 over the fixture queries") {
    val q = SparkEntry.queries("s_ann_query")
    val a = q(spark, sf).collect().map(_.toSeq).toSeq
    assert(a == q(spark, sf).collect().map(_.toSeq).toSeq,
      "serving must be deterministic run-to-run")
    val byQ = a.groupBy(_.head.asInstanceOf[Long])
    byQ.values.foreach { rows =>
      assert(rows.map(_(1).asInstanceOf[Long]).toSet.subsetOf(Set(1L, 2L, 3L)),
        rows.toString)
    }
    // exact top-3 per query via brute force over the same corpus split
    val sq = graft.operators.SimilarityQueries
    val e = sq.emb(spark, sf)
    val vecs = e.collect().map(r => (r.getLong(0),
      r.getSeq[Double](r.fieldIndex("v")).toArray)).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val corpus = vecs.filter(_._1 % 10 != 0)
    val recalls = byQ.map { case (qid, rows) =>
      val got = rows.map(_(2).asInstanceOf[Long]).toSet
      val truth = corpus.toSeq
        .map { case (id, v) => (cos(vecs(qid), v), -id) }
        .sorted.reverse.take(3).map(-_._2).toSet
      got.intersect(truth).size / 3.0
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.5,
      s"mean recall@3 $mean < 0.5 over ${recalls.size} queries")
  }

  test("model artifact round-trips byte-identically and refuses a stale " +
       "fingerprint (serve-from-artifact, VERDICT r10 #6)") {
    import graft.api.IndexArtifacts
    import spark.implicits._
    val vecs = (0L until 40L).toList
      .map(i => (i, Seq.tabulate(4)(j => math.sin(i.toDouble * 7 + j))))
      .toDF("vec_id", "v")
    val model = graft.api.KMeans.fit(vecs, "vec_id", "v", k = 3, iters = 3)
    val fit = model.orderBy("cid").collect()

    val fp = "fp-current"
    def wipe(): Unit = {
      val wh = new java.net.URI(
        spark.conf.get("spark.sql.warehouse.dir")).getPath
      val dir = new java.io.File(wh, "g_model_spec")
      if (dir.exists())
        dir.listFiles().foreach(_.delete())
      dir.delete()
    }
    wipe()
    assert(IndexArtifacts.readModel(spark, "g_model_spec", fp).isEmpty)
    IndexArtifacts.persistModel(spark, model, "g_model_spec", fp)
    val back = IndexArtifacts.readModel(spark, "g_model_spec", fp)
    assert(back.isDefined)
    val got = back.get.orderBy("cid").collect()
    assert(got.length == fit.length)
    got.zip(fit).foreach { case (a, b) =>
      assert(a.getLong(0) == b.getLong(0))
      val (av, bv) = (a.getSeq[Double](1), b.getSeq[Double](1))
      // parquet round-trip of doubles is exact — BIT-identical centroids
      av.zip(bv).foreach { case (x, y) =>
        assert(java.lang.Double.doubleToLongBits(x) ==
               java.lang.Double.doubleToLongBits(y))
      }
    }
    // a regenerated corpus (different fingerprint) must NOT be served
    assert(IndexArtifacts.readModel(spark, "g_model_spec", "fp-stale").isEmpty)
    wipe()
  }

  test("annTopK: a zero-norm corpus vector ranks LAST in its bucket, and " +
       "excludeSelf=false keeps id-colliding pairs across independent id " +
       "spaces (r18 self-review)") {
    import spark.implicits._
    val cents = Seq((0L, Seq(1.0, 0.0))).toDF("cid", "cv")
    val corpus = Seq((7L, Seq(1.0, 0.0)), (8L, Seq(0.8, 0.2)),
                     (9L, Seq(0.0, 0.0))).toDF("vec_id", "v")
    // the query table is its OWN id space: q_id 7 colliding with corpus
    // vec_id 7 is a coincidence, not a self-pair
    val qs = Seq((7L, Seq(1.0, 0.1))).toDF("q_id", "qv")
    val got = IvfOps.annTopK(corpus, "vec_id", "v", qs, "q_id", "qv",
        IvfOps.centroidBlock(cents, "cid", "cv"), k = 3, excludeSelf = false)
      .orderBy("rnk").select("vec_id").as[Long].collect().toSeq
    // corpus 7 retrievable; the zero vector (NaN cosine → -2 floor)
    // ranks last instead of NaN-first
    assert(got == Seq(7L, 8L, 9L), got.toString)
    // the default keeps the queries-are-corpus-rows posture: the
    // id-equal pair is excluded
    val self = IvfOps.annTopK(corpus, "vec_id", "v", qs, "q_id", "qv",
        IvfOps.centroidBlock(cents, "cid", "cv"), k = 3)
      .orderBy("rnk").select("vec_id").as[Long].collect().toSeq
    assert(self == Seq(8L, 9L), self.toString)
  }
}
