package graft

import org.apache.spark.sql.functions._
import graft.api.{IndexArtifacts, IvfOps}
import graft.operators.DedupQueries

/** Persisted dedup/ANN artifacts: build-once bucketed tables whose keyed
  * consumers plan with zero Exchange in a FRESH session (no index
  * rebuild, no shuffle).
  */
class IndexArtifactsSpec extends SparkSpec {

  private def dropTable(t: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $t")
    // a killed prior JVM can leave orphan table dirs the fresh in-memory
    // catalog doesn't know about — clear them or saveAsTable refuses
    val dir = new java.io.File(s"spark-warehouse/$t")
    if (dir.exists()) {
      java.nio.file.Files.walk(dir.toPath)
        .sorted(java.util.Comparator.reverseOrder())
        .forEach(p => p.toFile.delete())
    }
  }

  test("persisted shingle index: fresh session reuses it shuffle-free " +
       "and pairs match the session-built memo") {
    dropTable("g_shingle_idx")
    IndexArtifacts.persistShingleIndex(spark, sf, "g_shingle_idx", buckets = 4)

    // fresh session: shares the catalog, NOT the dedup memo caches
    val s2 = spark.newSession()
    val idx = IndexArtifacts.shingleIndex(s2, "g_shingle_idx")

    // the (h)-keyed bucket aggregation — the stage that feeds pair
    // expansion — plans with no Exchange on the bucketed layout
    val agg = idx.groupBy("h").agg(count(lit(1)).as("c"))
    agg.collect()
    val plan = agg.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
    assert(plan.contains("Bucketed: true"), plan)

    // and the artifact-path pairs equal the session-memo pairs exactly
    val fromArtifact = IndexArtifacts.pairsFromIndex(s2, "g_shingle_idx")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    val fromMemo = DedupQueries.pairsPlan(
        DedupQueries.cappedShingleIndex(spark, sf))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    assert(fromArtifact.nonEmpty)
    assert(fromArtifact.toSeq == fromMemo.toSeq)
  }

  test("maintainShingleIndex: a streamed batch becomes near-dup-searchable " +
       "via the artifact with no full-corpus rescan, and replays are idempotent") {
    import spark.implicits._
    dropTable("g_shingle_inc")
    graft.api.IndexArtifacts.persistShingleIndex(spark, sf, "g_shingle_inc", buckets = 4)
    val base = spark.table("g_shingle_inc").count()
    // a twin of an existing corpus doc arrives on the stream under a new id
    val src = Tables.documents(spark, sf).select("doc_id", "text")
      .orderBy("doc_id").limit(1).collect()(0)
    val (srcId, text) = (src.getLong(0), src.getString(1))
    implicit val sq = spark.sqlContext
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val ckpt = java.nio.file.Files.createTempDirectory("idxmaint").toString
    val q = graft.streaming.StreamingOps.maintainShingleIndex(
      in.toDS().toDF("doc_id", "text"), "g_shingle_inc", ckpt, buckets = 4)
    in.addData((900001L, text))
    q.processAllAvailable()
    q.stop()
    // only the batch was shingled: the artifact grew by exactly the new
    // doc's shingle rows, nothing else was rewritten. Read through the
    // artifact API — the append landed from the micro-batch's session
    // clone, so a raw spark.table() here would serve the stale pre-append
    // file list this session cached for `base`
    val grown = graft.api.IndexArtifacts.shingleIndex(spark, "g_shingle_inc")
    val newRows = grown.filter($"doc_id" === 900001L).count()
    assert(newRows > 0)
    assert(grown.count() == base + newRows)
    // the (source, twin) pair is discoverable through the artifact path
    // alone — no index rebuild, no session memo
    def pairShared(): Long = graft.api.IndexArtifacts
      .pairsFromIndex(spark, "g_shingle_inc")
      .filter($"da" === srcId && $"db" === 900001L)
      .collect() match { case Array(r) => r.getLong(2) }
    val shared = pairShared()
    assert(shared == newRows, s"identical twin must share all $newRows kept shingles, got $shared")
    // an at-least-once REPLAY of the same batch must not inflate counts:
    // the reader dedups (h, doc_id) before pair aggregation
    graft.api.IndexArtifacts.appendShingleIndex(
      spark, Seq((900001L, text)).toDF("doc_id", "text"), "g_shingle_inc", buckets = 4)
    assert(pairShared() == shared, "replayed append inflated shared counts")
  }

  test("bloom artifact: appends OR-merge to the one-shot sketch bit-for-bit; " +
       "probe has no false negatives; replay + compact are idempotent") {
    import spark.implicits._
    dropTable("g_bloom_art")
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val a = docs.filter($"doc_id" % 3 === 0)
    val b = docs.filter($"doc_id" % 3 === 1)
    val batch = docs.filter($"doc_id" % 3 === 2)
    graft.api.IndexArtifacts.persistBloom(spark, a, "g_bloom_art")
    graft.api.IndexArtifacts.appendBloom(spark, b, "g_bloom_art")
    // identical geometry ⇒ OR-merge of per-batch sketches IS the sketch
    // of the union, bit for bit
    val merged = graft.api.IndexArtifacts.bloomBytes(spark, "g_bloom_art")
    val oneShot = graft.operators.DedupQueries.bloomAgg(a.union(b),
        graft.api.IndexArtifacts.BloomExpectedItems,
        graft.api.IndexArtifacts.BloomNumBits)
      .collect()(0).getAs[Array[Byte]]("bf")
    assert(java.util.Arrays.equals(merged, oneShot), "merged != one-shot sketch")
    // probe through the artifact: every batch doc whose text exists in
    // a∪b must flag (a Bloom filter cannot miss a member)
    val seen = graft.api.IndexArtifacts.probeBloom(spark, batch, "g_bloom_art")
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val truth = batch.join(a.union(b), Seq("text"), "left_semi")
      .select("doc_id").as[Long].collect().toSet
    truth.foreach(id => assert(seen(id), s"false negative for doc $id"))
    // replaying an absorbed batch is bit-level idempotent
    graft.api.IndexArtifacts.appendBloom(spark, b, "g_bloom_art")
    assert(java.util.Arrays.equals(
      graft.api.IndexArtifacts.bloomBytes(spark, "g_bloom_art"), oneShot))
    // compaction folds 3 rows into 1 without changing a bit
    graft.api.IndexArtifacts.compactBloom(spark, "g_bloom_art")
    assert(spark.table("g_bloom_art").count() == 1)
    assert(java.util.Arrays.equals(
      graft.api.IndexArtifacts.bloomBytes(spark, "g_bloom_art"), oneShot))
  }

  test("maintainBloom: a streamed batch joins the membership sketch " +
       "without a corpus rescan") {
    import spark.implicits._
    dropTable("g_bloom_inc")
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    graft.api.IndexArtifacts.persistBloom(spark, docs, "g_bloom_inc")
    val text0 = docs.orderBy("doc_id").limit(1).collect()(0).getString(1)
    implicit val sq = spark.sqlContext
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val ckpt = java.nio.file.Files.createTempDirectory("bloommaint").toString
    val q = graft.streaming.StreamingOps.maintainBloom(
      in.toDS().toDF("doc_id", "text"), "g_bloom_inc", ckpt)
    in.addData((900001L, "a text only the stream has ever seen"))
    q.processAllAvailable()
    q.stop()
    val probeDf = Seq((1L, text0),
      (2L, "a text only the stream has ever seen"),
      (3L, "a text nobody has ever seen")).toDF("doc_id", "text")
    val got = graft.api.IndexArtifacts.probeBloom(spark, probeDf, "g_bloom_inc")
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(got(1L), "corpus member must flag")
    assert(got(2L), "streamed member must flag")
    // not asserted false for 3L: a Bloom filter may false-positive — but
    // at 2 MiB of bits over ~50 docs it practically cannot; log if it does
    if (got(3L)) info("unseen text false-positived (allowed, astronomically rare)")
  }

  test("winnow index: appends equal a rebuild, pairs match the live query, " +
       "and no exchange repartitions on the pick hash") {
    import spark.implicits._
    dropTable("g_win_idx")
    // corpus + an injected exact twin of the first doc — sf0.001 may hold
    // no natural ≥0.5 winnowed-Jaccard pair, and the spec needs ≥1
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val src = docs.orderBy("doc_id").limit(1).collect()(0)
    val (srcId, srcText) = (src.getLong(0), src.getString(1))
    val all = docs.union(Seq((900003L, srcText)).toDF("doc_id", "text"))
    // build from the evens, append odds + twin: the read path must see
    // one table indistinguishable from a single-shot build
    IndexArtifacts.persistWinnowIndex(
      spark, all.filter($"doc_id" % 2 === 0), "g_win_idx", buckets = 4)
    IndexArtifacts.appendWinnowIndex(
      spark, all.filter($"doc_id" % 2 =!= 0), "g_win_idx", buckets = 4)
    def artifactPairs(): Seq[(Long, Long, Long, Long)] =
      IndexArtifacts.pairsFromWinnowIndex(spark, "g_win_idx")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .sorted.toSeq
    val live = DedupQueries.winnowPairsPlan(
        graft.operators.TextQueries.winnowPicks(all).select("doc_id", "h"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sorted.toSeq
    val got = artifactPairs()
    assert(got.exists(p => p._1 == srcId && p._2 == 900003L && p._4 == 1000000L),
      got.take(5).toString)
    assert(got == live)
    // at-least-once replay must not change pairs (reader distincts first)
    IndexArtifacts.appendWinnowIndex(
      spark, all.filter($"doc_id" % 2 =!= 0), "g_win_idx", buckets = 4)
    assert(artifactPairs() == live, "replayed append changed the pair set")
    // every h-keyed read stage — replay distinct, DfCap aggregation, the
    // bucket join, pair expansion — satisfies its clustering from the
    // bucket layout: the remaining exchanges (per-doc sizes, the (da, db)
    // pair aggregation, join-backs, presentation sort) are pair/doc-keyed
    // and must shuffle; none may repartition on the pick hash
    val pairs = IndexArtifacts.pairsFromWinnowIndex(spark, "g_win_idx")
    pairs.collect()
    val finalPlan = pairs.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    val hx = finalPlan.linesIterator
      .filter(l => l.contains("Exchange") && l.matches(".*hashpartitioning\\(h#.*"))
      .toSeq
    assert(hx.isEmpty, hx.mkString("\n"))
    assert(finalPlan.contains("Bucketed: true"), finalPlan)
  }

  test("typo index: appends equal a rebuild, pairs match the live query, " +
       "and no exchange repartitions on the variant bucket key") {
    import spark.implicits._
    dropTable("g_typo_idx")
    // catalog + an injected 1-edit twin of the first part (same brand +
    // type so the blocking seed matches) — the spec needs ≥1 pair
    val parts = Tables.part(spark, sf)
      .select("p_partkey", "p_name", "p_brand", "p_type")
    val src = parts.orderBy("p_partkey").limit(1).collect()(0)
    val (srcId, srcName) = (src.getLong(0), src.getString(1))
    val all = parts.union(Seq(
      (900005L, srcName.drop(1), src.getString(2), src.getString(3)))
      .toDF("p_partkey", "p_name", "p_brand", "p_type"))
    IndexArtifacts.persistTypoIndex(
      spark, all.filter($"p_partkey" % 2 === 0), "g_typo_idx", buckets = 4)
    IndexArtifacts.appendTypoIndex(
      spark, all.filter($"p_partkey" % 2 =!= 0), "g_typo_idx", buckets = 4)
    def artifactPairs(): Seq[(Long, Long, Int)] =
      IndexArtifacts.pairsFromTypoIndex(spark, "g_typo_idx", all)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
        .sorted.toSeq
    val live = DedupQueries.typoPairsPlan(
        DedupQueries.typoVariants(all),
        all.select("p_partkey", "p_name"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .sorted.toSeq
    val got = artifactPairs()
    assert(got.exists(p => p._1 == srcId && p._2 == 900005L && p._3 == 1),
      got.take(5).toString)
    assert(got == live)
    // at-least-once replay must not change pairs (reader distincts first)
    IndexArtifacts.appendTypoIndex(
      spark, all.filter($"p_partkey" % 2 =!= 0), "g_typo_idx", buckets = 4)
    assert(artifactPairs() == live, "replayed append changed the pair set")
    // every blk-keyed read stage — replay distinct, the minMembers +
    // TypoVariantCap window, the bucket aggregation feeding pair
    // expansion — satisfies its clustering from the bucket layout; the
    // remaining exchanges (pair distinct, name join-backs, presentation
    // sort) are pair-keyed and must shuffle. The ONE allowed blk-keyed
    // exchange is the r17 block-pair spread (REPARTITION_BY_COL on
    // (blk, __ga, __gb)): it ships compact post-aggregation block rows
    // so the quadratic expansion parallelizes, never the index itself —
    // any OTHER blk exchange means the bucket layout stopped carrying
    // the aggregation.
    val pairs = IndexArtifacts.pairsFromTypoIndex(spark, "g_typo_idx", all)
    pairs.collect()
    val finalPlan = pairs.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    val bx = finalPlan.linesIterator
      .filter(l => l.contains("Exchange") && l.matches(".*hashpartitioning\\(blk#.*"))
      .toSeq
    val unexpected = bx.filterNot(l =>
      l.contains("__ga") && l.contains("__gb") &&
        l.contains("REPARTITION_BY_COL"))
    assert(unexpected.isEmpty, unexpected.mkString("\n"))
    assert(bx.size <= 1, bx.mkString("\n"))
    assert(finalPlan.contains("Bucketed: true"), finalPlan)
  }

  test("maintainTypoIndex: a streamed part becomes typo-searchable with " +
       "no catalog re-expansion, replays idempotent") {
    import spark.implicits._
    dropTable("g_typo_inc")
    val parts = Tables.part(spark, sf)
      .select("p_partkey", "p_name", "p_brand", "p_type")
    IndexArtifacts.persistTypoIndex(spark, parts, "g_typo_inc", buckets = 4)
    val base = spark.table("g_typo_inc").count()
    val src = parts.orderBy("p_partkey").limit(1).collect()(0)
    val (srcId, srcName) = (src.getLong(0), src.getString(1))
    implicit val sq = spark.sqlContext
    val in = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String, String, String)]
    val ckpt = java.nio.file.Files.createTempDirectory("typomaint").toString
    val q = graft.streaming.StreamingOps.maintainTypoIndex(
      in.toDS().toDF("p_partkey", "p_name", "p_brand", "p_type"),
      "g_typo_inc", ckpt, buckets = 4)
    in.addData((900006L, srcName + "x", src.getString(2), src.getString(3)))
    q.processAllAvailable()
    q.stop()
    // only the batch expanded: the artifact grew by the new part's rows
    val grown = IndexArtifacts.typoIndex(spark, "g_typo_inc")
    val newRows = grown.filter($"p_partkey" === 900006L).count()
    assert(newRows > 0)
    assert(grown.count() == base + newRows)
    // the (source, twin) distance-1 pair is discoverable through the
    // artifact alone — no re-expansion of the sunk catalog
    val allParts = parts.union(Seq(
      (900006L, srcName + "x", src.getString(2), src.getString(3)))
      .toDF("p_partkey", "p_name", "p_brand", "p_type"))
    val pair = IndexArtifacts.pairsFromTypoIndex(spark, "g_typo_inc", allParts)
      .filter($"pa" === srcId && $"pb" === 900006L).collect()
    assert(pair.length == 1 && pair(0).getInt(2) == 1, pair.mkString)
  }

  test("maintainWinnowIndex: a streamed doc becomes fingerprint-searchable " +
       "with no corpus re-winnow, replays idempotent") {
    import spark.implicits._
    dropTable("g_win_inc")
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    IndexArtifacts.persistWinnowIndex(spark, docs, "g_win_inc", buckets = 4)
    val base = spark.table("g_win_inc").count()
    val src = docs.orderBy("doc_id").limit(1).collect()(0)
    val (srcId, srcText) = (src.getLong(0), src.getString(1))
    implicit val sq = spark.sqlContext
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val ckpt = java.nio.file.Files.createTempDirectory("winmaint").toString
    val q = graft.streaming.StreamingOps.maintainWinnowIndex(
      in.toDS().toDF("doc_id", "text"), "g_win_inc", ckpt, buckets = 4)
    in.addData((900004L, srcText))
    q.processAllAvailable()
    q.stop()
    // only the batch was winnowed: the artifact grew by the new doc's
    // pick rows alone
    val grown = IndexArtifacts.winnowIndex(spark, "g_win_inc")
    val newRows = grown.filter($"doc_id" === 900004L).count()
    assert(newRows > 0)
    assert(grown.count() == base + newRows)
    // the (source, twin) Jaccard-1.0 pair is discoverable through the
    // artifact alone — no re-winnow of the sunk corpus
    val pair = IndexArtifacts.pairsFromWinnowIndex(spark, "g_win_inc")
      .filter($"da" === srcId && $"db" === 900004L).collect()
    assert(pair.length == 1 && pair(0).getLong(3) == 1000000L, pair.mkString)
  }

  test("fingerprint index: appends equal a rebuild, pairs match the live " +
       "band join, and the banded layout plans pair generation exchange-free") {
    import spark.implicits._
    dropTable("g_fp_idx")
    val mm = graft.operators.MultimodalQueries
    // real image fingerprints from the fixture corpus, plus an injected
    // twin of the smallest doc's fingerprint under a fresh id — sf0.001
    // may hold no natural near-dup images, and the spec needs ≥1 pair
    val real = mm.phashMedia(mm.encodeMedia(mm.media(spark, sf)))
      .select(col("media_id").as("doc_id"), col("phash").as("simhash"))
    val seed = real.orderBy("doc_id").limit(1).collect()(0)
    val (seedId, seedFp) = (seed.getLong(0), seed.getLong(1))
    val twin = Seq((900001L, seedFp)).toDF("doc_id", "simhash")
    val fp = real.union(twin)
    // build from the evens, append odds + twin: the read path must see
    // one table indistinguishable from a single-shot build
    IndexArtifacts.persistFingerprintIndex(
      spark, fp.filter($"doc_id" % 2 === 0), "g_fp_idx", buckets = 4)
    IndexArtifacts.appendFingerprintIndex(
      spark, fp.filter($"doc_id" % 2 =!= 0), "g_fp_idx", buckets = 4)
    def artifactPairs(): Seq[(Long, Long, Long)] =
      IndexArtifacts.pairsFromFingerprintIndex(spark, "g_fp_idx")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .sorted.toSeq
    val live = DedupQueries.simhashBandPairs(fp)
      .filter(col("hamming") <= mm.PhashMaxHamming)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sorted.toSeq
    val got = artifactPairs()
    assert(got.contains((seedId, 900001L, 0L)), got.take(5).toString)
    assert(got == live)
    // at-least-once replay of the appended half must not change pairs:
    // the reader distincts exact-duplicate band rows before pairing
    IndexArtifacts.appendFingerprintIndex(
      spark, fp.filter($"doc_id" % 2 =!= 0), "g_fp_idx", buckets = 4)
    assert(artifactPairs() == live, "replayed append changed the pair set")
    // the index-side read path — replay distinct, cap window, bucket
    // aggregation — satisfies its clustering from the bsig bucket layout:
    // the ONLY Exchange in the final plan is the pair-level cross-band
    // dedup on (da, db, hamming), which is keyed otherwise and must
    // shuffle (pair-sized, not index-sized)
    val pairs = IndexArtifacts.pairsFromFingerprintIndex(spark, "g_fp_idx")
    pairs.collect()
    val finalPlan = pairs.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    val exchanges = finalPlan.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchanges.length == 1, finalPlan)
    assert(exchanges.head.contains("da"), exchanges.head)
    assert(finalPlan.contains("Bucketed: true"), finalPlan)
  }

  test("maintainFingerprintIndex: a streamed container batch becomes " +
       "near-dup-searchable with no corpus re-fingerprint") {
    import spark.implicits._
    dropTable("g_fp_inc")
    val mm = graft.operators.MultimodalQueries
    val containers = mm.encodeMedia(mm.media(spark, sf))
    IndexArtifacts.persistFingerprintIndex(spark,
      mm.phashMedia(containers)
        .select(col("media_id").as("doc_id"), col("phash").as("simhash")),
      "g_fp_inc", buckets = 4)
    val base = spark.table("g_fp_inc").count()
    // a twin of an existing IMAGE container arrives on the stream under a
    // new id (first media row is doc_id 0 ≡ image — but select explicitly)
    val src = containers.filter(col("media_type") =!= "audio")
      .orderBy("media_id").limit(1).collect()(0)
    val (srcId, srcBytes) = (src.getLong(0), src.getAs[Array[Byte]](2))
    implicit val sq = spark.sqlContext
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Array[Byte])]
    val ckpt = java.nio.file.Files.createTempDirectory("fpmaint").toString
    val q = graft.streaming.StreamingOps.maintainFingerprintIndex(
      in.toDS().toDF("media_id", "container"), "g_fp_inc", ckpt, buckets = 4)
    in.addData((900002L, srcBytes))
    q.processAllAvailable()
    q.stop()
    // only the batch was fingerprinted: exactly its 4 band rows landed
    val grown = IndexArtifacts.fingerprintIndex(spark, "g_fp_inc")
    assert(grown.filter($"doc_id" === 900002L).count() == 4)
    assert(grown.count() == base + 4)
    // the (source, twin) hamming-0 pair is discoverable through the
    // artifact alone — no re-decode of the sunk corpus
    val pair = IndexArtifacts.pairsFromFingerprintIndex(spark, "g_fp_inc")
      .filter($"da" === srcId && $"db" === 900002L).collect()
    assert(pair.length == 1 && pair(0).getLong(2) == 0L, pair.mkString)
  }

  test("maintainIvfIndex: streamed vectors join the persisted assignment " +
       "under the frozen model; replays dedup exchange-free at read") {
    import spark.implicits._
    dropTable("g_ivf_maint")
    val e = Tables.embeddings(spark, sf)
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
    val cents = e.filter(col("vec_id") < 8).select(col("vec_id").as("cid"), col("v"))
    // seed the artifact with most of the corpus; the rest arrives streamed
    IndexArtifacts.persistIvfAssignment(spark, e.filter(col("vec_id") % 5 =!= 0),
      cents, nProbe = 2, table = "g_ivf_maint", buckets = 4)
    val late = e.filter(col("vec_id") % 5 === 0)
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
    implicit val sq = spark.sqlContext
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Seq[Double])]
    val ckpt = java.nio.file.Files.createTempDirectory("ivfmaint").toString
    val q = graft.streaming.StreamingOps.maintainIvfIndex(
      in.toDS().toDF("vec_id", "v"), cents, "g_ivf_maint", ckpt, buckets = 4)
    in.addData(late.toIndexedSeq)
    q.processAllAvailable()
    q.stop()
    // only the batch was assigned, and the grown artifact equals a full
    // re-assignment of the union under the same model
    def persisted(): Seq[(Long, Long)] = IndexArtifacts
      .ivfAssignmentDistinct(spark, "g_ivf_maint")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val live = IvfOps.assign(e, IvfOps.centroidBlock(cents), nProbe = 2)
      .select("vec_id", "cid")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(persisted() == live)
    // an at-least-once REPLAY lands duplicate rows; the distinct reader
    // restores rebuild-equality and plans off the bucket layout shuffle-free
    IndexArtifacts.appendIvfAssignment(spark,
      late.toSeq.toDF("vec_id", "v"), cents, nProbe = 2,
      table = "g_ivf_maint", buckets = 4)
    assert(persisted() == live, "replayed append leaked duplicate assignments")
    val dedup = IndexArtifacts.ivfAssignmentDistinct(spark, "g_ivf_maint")
    dedup.collect()
    assert(!dedup.queryExecution.executedPlan.toString.contains("Exchange"))
  }

  test("appendIvfAssignment under a frozen model equals re-assigning the union") {
    dropTable("g_ivf_inc")
    val e = Tables.embeddings(spark, sf)
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
    val cents = e.filter(col("vec_id") < 8).select(col("vec_id").as("cid"), col("v"))
    IndexArtifacts.persistIvfAssignment(spark, e.filter(col("vec_id") % 5 =!= 0),
      cents, nProbe = 2, table = "g_ivf_inc", buckets = 4)
    IndexArtifacts.appendIvfAssignment(spark, e.filter(col("vec_id") % 5 === 0),
      cents, nProbe = 2, table = "g_ivf_inc", buckets = 4)
    val persisted = IndexArtifacts.ivfAssignment(spark, "g_ivf_inc")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    val live = IvfOps.assign(e, IvfOps.centroidBlock(cents), nProbe = 2)
      .select("vec_id", "cid")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(persisted.nonEmpty && persisted.toSeq == live.toSeq)
    // and the appended layout still aggregates on cid exchange-free
    val perBucket = IndexArtifacts.ivfAssignment(spark, "g_ivf_inc")
      .groupBy("cid").agg(count(lit(1)).as("members"))
    perBucket.collect()
    assert(!perBucket.queryExecution.executedPlan.toString.contains("Exchange"))
  }

  test("persisted IVF assignment: fresh session groups by cid shuffle-free") {
    dropTable("g_ivf_asg")
    val e = Tables.embeddings(spark, sf)
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
    val cents = e.filter(col("vec_id") < 8).select(col("vec_id").as("cid"), col("v"))
    IndexArtifacts.persistIvfAssignment(spark, e, cents, nProbe = 2,
      table = "g_ivf_asg", buckets = 4)

    val s2 = spark.newSession()
    val asg = IndexArtifacts.ivfAssignment(s2, "g_ivf_asg")
    val perBucket = asg.groupBy("cid").agg(count(lit(1)).as("members"))
    perBucket.collect()
    val plan = perBucket.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)

    // 2 probes -> every vector appears exactly twice
    val n = Tables.embeddings(spark, sf).count()
    assert(asg.count() == 2 * n)
    // and the persisted assignment matches a live re-assignment
    val live = IvfOps.assign(e, IvfOps.centroidBlock(cents), nProbe = 2)
      .select("vec_id", "cid")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    val persisted = asg.collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(live.toSeq == persisted.toSeq)
  }

  test("token-count artifact: appends equal a rebuild, replays are exactly " +
       "idempotent, the fold plans zero Exchange, zipf served from counts") {
    import spark.implicits._
    dropTable("g_tok_counts")
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val half = docs.filter($"doc_id" % 2 === 0)
    val rest = docs.filter($"doc_id" % 2 =!= 0)
    IndexArtifacts.persistTokenCounts(spark, half, "g_tok_counts", buckets = 4)
    IndexArtifacts.appendTokenCounts(spark, rest, "g_tok_counts",
      batchId = 1L, buckets = 4)
    // appends ≡ rebuild: the folded counts equal one-shot live counts
    val folded = IndexArtifacts.tokenCounts(spark, "g_tok_counts")
    val live = docs.select(explode(split($"text", " ")).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n"))
    val lm = live.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val fm = folded.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(fm == lm)
    // an at-least-once REPLAY of batch 1 (same batchId, same rows) folds
    // away through the max-per-(token, batch) guard
    IndexArtifacts.appendTokenCounts(spark, rest, "g_tok_counts",
      batchId = 1L, buckets = 4)
    val replayed = IndexArtifacts.tokenCounts(spark, "g_tok_counts")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(replayed == lm, "replayed append inflated counts")
    // both fold aggregations satisfy clustering from the bucket layout
    val fold = IndexArtifacts.tokenCounts(spark, "g_tok_counts")
    fold.collect()
    val plan = fold.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
    // the zipf head served from the artifact equals the live query's
    val fromArtifact = IndexArtifacts
      .zipfFromTokenCounts(spark, "g_tok_counts").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2), r.getLong(3)))
    val liveZipf = graft.operators.TextQueries.zipfHead(docs).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2), r.getLong(3)))
    assert(fromArtifact.toSeq == liveZipf.toSeq)
  }

  test("maintainTokenCounts: streamed docs fold into the corpus counts " +
       "with no rescan; the foreachBatch id is the replay guard") {
    import spark.implicits._
    dropTable("g_tok_inc")
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    IndexArtifacts.persistTokenCounts(spark, docs, "g_tok_inc", buckets = 4)
    val before = IndexArtifacts.tokenCounts(spark, "g_tok_inc")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    implicit val sq = spark.sqlContext
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val ckpt = java.nio.file.Files.createTempDirectory("tokmaint").toString
    val q = graft.streaming.StreamingOps.maintainTokenCounts(
      in.toDS().toDF("doc_id", "text"), "g_tok_inc", ckpt, buckets = 4)
    // the streamed batch MUST share a token with the bootstrap corpus:
    // foreachBatch's first id is 0, so a 0-id bootstrap would collide on
    // (token, batch_id) and the reader's replay-guard max() would fold
    // the shared token's partials instead of summing (ADVICE r10 — the
    // BootstrapBatchId=-1 reservation is what this pins)
    val shared = before.keysIterator.min
    in.addData((900001L, s"zzz yyy zzz $shared"))
    q.processAllAvailable()
    q.stop()
    val after = IndexArtifacts.tokenCounts(spark, "g_tok_inc")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(after("zzz") == before.getOrElse("zzz", 0L) + 2)
    assert(after("yyy") == before.getOrElse("yyy", 0L) + 1)
    assert(after(shared) == before(shared) + 1,
      s"bootstrap/stream shared token '$shared' folded instead of summed")
    // untouched tokens unchanged — only the batch was tokenized/appended
    val probe = before.keysIterator.filterNot(Set("zzz", "yyy", shared)).take(5)
    probe.foreach(t => assert(after(t) == before(t), t))
  }

  test("compactBloom under a live foreign lease SKIPS: the multi-row " +
       "layout survives, so a concurrent append can never be merged " +
       "away (r18 self-review)") {
    import spark.implicits._
    dropTable("g_bloom_lease")
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    graft.api.IndexArtifacts.persistBloom(spark,
      docs.filter($"doc_id" % 3 === 0), "g_bloom_lease")
    graft.api.IndexArtifacts.appendBloom(spark,
      docs.filter($"doc_id" % 3 === 1), "g_bloom_lease")
    assert(spark.table("g_bloom_lease").count() == 2)
    val bits = graft.api.IndexArtifacts.bloomBytes(spark, "g_bloom_lease")
    val wh = spark.conf.get("spark.sql.warehouse.dir")
      .stripPrefix("file:").stripSuffix("/")
    // written/deleted through the Hadoop FS so the LocalFileSystem's
    // .crc sidecar stays consistent (raw java.nio writes log
    // ChecksumException noise on every later read)
    val lease = new org.apache.hadoop.fs.Path(s"$wh/g_bloom_lease__lease")
    val lfs = lease.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = lfs.create(lease, true)
    out.write("foreign-token".getBytes("UTF-8")); out.close()
    try {
      // contended: the compaction is optional maintenance — it must
      // leave the (valid) multi-row layout alone rather than race the
      // lease holder's write
      graft.api.IndexArtifacts.compactBloom(spark, "g_bloom_lease")
      assert(spark.table("g_bloom_lease").count() == 2,
        "a contended compaction must not rewrite the artifact")
    } finally lfs.delete(lease, false): Unit
    // lease released: the compaction folds the rows, bits unchanged
    graft.api.IndexArtifacts.compactBloom(spark, "g_bloom_lease")
    assert(spark.table("g_bloom_lease").count() == 1)
    assert(java.util.Arrays.equals(
      graft.api.IndexArtifacts.bloomBytes(spark, "g_bloom_lease"), bits))
    dropTable("g_bloom_lease")
  }

  test("a corrupt model file serves None, so the caller refits") {
    import spark.implicits._
    val model = Seq((0L, Seq(1d, 0d)), (1L, Seq(0d, 1d))).toDF("cid", "cv")
      .coalesce(1)
    IndexArtifacts.persistModel(spark, model, "g_model_corrupt", "fp")
    assert(IndexArtifacts.readModel(spark, "g_model_corrupt", "fp").isDefined)
    val wh = new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath
    val dir = new java.io.File(wh, "g_model_corrupt")
    // overwrite each data file's footer length and trailing PAR1 magic
    dir.listFiles().filter(_.getName.endsWith(".parquet")).foreach { f =>
      val raf = new java.io.RandomAccessFile(f, "rw")
      try { raf.seek(raf.length() - 8); raf.write(Array.fill[Byte](8)(0x7f)) }
      finally raf.close()
    }
    try assert(IndexArtifacts.readModel(spark, "g_model_corrupt", "fp").isEmpty)
    finally {
      dir.listFiles().foreach(_.delete())
      dir.delete()
    }
  }
}
