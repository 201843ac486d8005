package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.functions.expressions.VectorFunctions.{cosine_sim, dot_product,
  nearest_centroids}
import graft.api.IvfOps

/** Similarity search over the embedding column (north star): brute-force
  * cosine top-k as the exactness baseline, and an IVF (inverted-file) probe
  * as the scale path.
  *
  * Scale notes: the brute path broadcasts the 1-row query vector — a map-only
  * scan at any corpus size (linear, no shuffle). The IVF path is the real
  * 100 TB design: k centroids (here: a deterministic sample), each vector
  * assigned to its nearest centroid (broadcast join, one argmin per row);
  * a query probes only the nProbe nearest centroid partitions, turning
  * top-k from corpus-wide into |probed buckets|. Centroids would come from
  * k-means at scale; the fixture uses vec_id 0..7 so the oracle can mirror.
  *
  * Cosine parity: both engines evaluate the identical expression tree
  * (zip-multiply, sequential sum, dot/(sqrt(na)*sqrt(nb))) over
  * double-cast arrays, and scores surface floored at 1e-9 (Parity).
  */
object SimilarityQueries {

  type Q = (SparkSession, String) => DataFrame

  private val Dim = 64

  /** embeddings with the float[] column cast to double[] (parity). */
  private[graft] def emb(s: SparkSession, d: String): DataFrame =
    embeddings(s, d).select(
      col("vec_id"), col("label"),
      transform(col("embedding"), x => x.cast("double")).as("v"))

  // cosine via the codegen'd native DotProduct expression — identical
  // accumulation order to the interpreted HOF form and the DuckDB oracle.
  private def cosine(a: Column, b: Column): Column = cosine_sim(a, b)

  private def floor9(c: Column): Column = floor(c * 1e9) / 1e9

  /** DuckDB fragment: sequential sum of elementwise products (dim fixed). */
  private def duckDot(a: String, b: String): String =
    s"list_aggregate([$a[i] * $b[i] for i in range(1, ${Dim + 1})], 'sum')"

  private def duckCos(a: String, b: String): String =
    s"(${duckDot(a, b)} / (sqrt(${duckDot(a, a)}) * sqrt(${duckDot(b, b)})))"

  /** q_emb_outliers flag line: cosine-to-own-centroid below 0.05 (e9
    * integer) marks a vector as noise. The oracle inlines the literal. */
  private val OutlierCosE9 = 50000000L

  /** Product-quantization geometry: M subspaces × Sub dims (M·Sub = Dim),
    * codebook = the subvectors of fixture vectors vec_id < 4 (4 codes per
    * subspace — the q_sim_ivf fixture-centroid rule, so DuckDB can mirror
    * the assignment arithmetic; production codebooks are per-subspace
    * KMeans.fit output, a data swap). */
  private val PqM = 4
  private val PqSub = 16

  /** PQ encode (public: Jégou, Douze & Schmid, "Product Quantization for
    * Nearest Neighbor Search", TPAMI 2011): each vector splits into
    * [[PqM]] subvectors; each subvector takes the L2-nearest codebook
    * entry of its subspace (ties → lowest code id); the vector is stored
    * as M small codes. Returns (vec_id, codes, rv) where codes is the
    * CSV code string and rv the codebook reconstruction ADC scores
    * against.
    *
    * L2² is the three-dot expansion |a|² + |c|² − 2·a·c (each dot the
    * codegen'd sequential [[dot_product]]) so both engines compare
    * bit-identical doubles; argmin-with-tiebreak is ONE array_min over
    * (dist, j, cv) structs. The codebook collapses to a single-row
    * struct-array block attached as an uncorrelated scalar subquery —
    * assignment is a pure map-side projection, no join node (the IvfOps
    * rule).
    */
  /** The fixture codebook as (m, j, cv) rows: the subvectors of the 4
    * lowest-id vectors — which is also EXACTLY [[graft.api.KMeans.fit]]'s
    * deterministic init, so [[pqTrainedCodebook]] is its Lloyd's
    * refinement. */
  private[graft] def pqFixtureCodebook(e: DataFrame): DataFrame =
    e.filter(col("vec_id") < 4)
      .select(explode(sequence(lit(0), lit(PqM - 1))).as("m"),
              col("vec_id").as("j"), col("v"))
      .select(col("m"), col("j"),
              slice(col("v"), col("m") * PqSub + 1, lit(PqSub)).as("cv"))

  /** Production codebooks: an independent deterministic k-means per
    * subspace over the corpus' subvectors (the PQ paper's training rule —
    * subspaces quantize independently), k=4 to stay comparable with the
    * fixture twin; swapping k to 256 is the standard 1-byte-per-subspace
    * geometry. All subspaces advance in ONE Lloyd's loop
    * ([[graft.api.KMeans.fitSubspaces]] — one scan per iteration instead
    * of PqM×; result spec-pinned EXACTLY equal to PqM independent fits).
    */
  private[graft] def pqTrainedCodebook(e: DataFrame, iters: Int = 5): DataFrame =
    graft.api.KMeans.fitSubspaces(e, "vec_id", "v", PqM, PqSub, k = 4,
      iters = iters)
      .select(col("m"), col("j"), col("cv"))

  /** The PqM-independent-[[graft.api.KMeans.fit]] form — the equivalence
    * reference [[pqTrainedCodebook]] is spec-pinned against. */
  private[graft] def pqTrainedCodebookNaive(e: DataFrame, iters: Int = 5): DataFrame =
    (0 until PqM).map { m =>
      graft.api.KMeans.fit(
        e.select(col("vec_id"),
                 slice(col("v"), m * PqSub + 1, PqSub).as("v")),
        "vec_id", "v", k = 4, iters = iters)
        .select(lit(m).as("m"), col("cid").as("j"), col("cv"))
    }.reduce(_ union _)

  /** Session-memoized TRAINED models, keyed (session, kind, dir) with
    * other-dir eviction — the shingle-index pattern for the KMeans side:
    * at scale a trained model is an artifact you fit once and serve from,
    * not something every query re-trains, and the bench attributes the
    * one-time fit as NAMED phases ([[trainPhases]]) so a trained query's
    * per-run number is query-only cost. `KMeans.fit` is eager (Lloyd's
    * runs inside the call; the returned frame wraps k×dim driver-resident
    * rows), so memoizing the result frame skips retraining entirely.
    * Same immutable-fixture-dir convention as Tables' reader memo.
    */
  private val modelCache = new graft.api.SessionMemo[DataFrame]()

  /** How each memoized model was obtained — "artifact" (fingerprint-hit
    * read of the persisted model) or "fit" (cold Lloyd's run) — so the
    * bench artifact can say whether a train phase was artifact-warm
    * (VERDICT r11 #5). Keyed like [[modelCache]]; absent = not built
    * this session.
    */
  private val modelSource =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String, String),
                                               String]()

  /** The recorded source for a (kind, dir) model this session, if any. */
  private[graft] def trainSource(s: SparkSession, kind: String,
                                 d: String): String =
    Option(modelSource.get((s, kind, d))).getOrElse("unbuilt")

  /** The model ARTIFACT's file-manifest epoch as observed when the
    * session memo filled — keyed like [[modelCache]], cleared with it.
    * Downstream encoded-index tags read THIS, never a fresh disk stat:
    * the tag must describe the model frames the encode actually used.
    * None = the artifact was absent at fill (unwritable warehouse) —
    * the caller falls back to digesting the in-memory rows. */
  private val modelEpochAtLoad =
    new java.util.concurrent.ConcurrentHashMap[
      (SparkSession, String, String), Option[String]]()

  /** Fingerprint-scheme version: folded into every model tag so the r17
    * migration from an undigested file-listing fingerprint to the
    * CONTENT-DIGEST manifest fingerprint
    * ([[graft.api.IndexArtifacts.fileFingerprintDigest]]; VERDICT r16 #3
    * — closes the same-size-same-mtime stale-restore hole for the model
    * family) invalidates pre-migration artifacts exactly once. */
  private val ModelFpVersion = ":fpv2"

  private def memoModel(s: SparkSession, kind: String, d: String,
                        tag: String = "")
                       (build: => DataFrame): DataFrame =
    modelCache.get(s, kind, d) {
      // serve-from-artifact first (VERDICT r10 #6): the fit is
      // deterministic, so a persisted model trained on THIS exact input
      // (the digest fingerprint guards staleness — a regenerated OR
      // in-place-rewritten fixture refits; `tag` carries algorithm
      // version + hyperparameters so a changed fit recipe
      // self-invalidates, the DerivedVersion doctrine) is byte-identical
      // to re-running the fit; repeat sessions pay a KB-sized read
      // instead of iters corpus scans. FROZEN-ON-GROWTH (VERDICT r16
      // #2): when the corpus only GREW since the fit, the model keeps
      // serving ("frozen" — the standard between-retrains IVF posture),
      // which is what lets the encoded ivfpq index APPEND; a retraction
      // or mutation still refits. [[retrainModels]] is the explicit
      // periodic-retrain trigger.
      // table keyed by DIR as well as kind: a warmup fit at another
      // scale must not clobber the measured dir's artifact (each dir
      // keeps its own; the fingerprint still guards content staleness)
      val slug = d.replaceAll("[^A-Za-z0-9]+", "_")
      val table = s"g_model_${kind}_$slug"
      val src = s"$d/embeddings.parquet"
      // record the model-artifact epoch OBSERVED at fill time: a
      // downstream encoded-index tag must describe the frames this memo
      // actually serves, not whatever a FOREIGN retrain later puts on
      // disk — stat'ing the artifacts at serve time could bless a
      // stale-model encode under a fresh-epoch tag (r18 self-review).
      // The stat runs BEFORE the fingerprint-checked read: stat-after
      // would let a foreign retrain landing in the read→stat window
      // stamp the fresh epoch over the old frames just collected.
      // Captured-before can only UNDER-state the epoch, and an
      // under-stated tag mismatches the next session into one rebuild —
      // never a stale serve.
      val preEpoch = graft.api.IndexArtifacts.modelArtifactEpoch(s, table)
      graft.api.IndexArtifacts
        .readModelFrozen(s, table, src, tag + ModelFpVersion) match {
        case Some((m, how)) =>
          modelSource.put((s, kind, d), how)
          modelEpochAtLoad.put((s, kind, d), preEpoch)
          m
        case None =>
          val m = build
          graft.api.IndexArtifacts
            .persistModelFrozen(s, m, table, src, tag + ModelFpVersion)
          modelSource.put((s, kind, d), "fit")
          // the fit branch must describe the files it JUST wrote, so it
          // re-stats after the persist. A foreign retrain inside that
          // window refits deterministically on the same corpus — frames
          // can only differ if the corpus changed, and a corpus change
          // also changes the index tag's own source fingerprint.
          modelEpochAtLoad.put((s, kind, d),
            graft.api.IndexArtifacts.modelArtifactEpoch(s, table))
          m
      }
    }

  /** Periodic retrain: drop the dir's persisted model artifacts and the
    * session memos, so the next access REFITS on the current corpus —
    * the explicit end of a frozen-model epoch. Downstream encoded
    * indexes rebuild automatically: their artifact tags carry the model
    * rows' digest, which the refit changes. */
  def retrainModels(s: SparkSession, d: String): Unit = {
    val slug = d.replaceAll("[^A-Za-z0-9]+", "_")
    // a failed artifact delete must SURFACE (ADVICE r17): the old frozen
    // model would keep serving as if the retrain epoch never ended —
    // throwing here turns a silently-stale epoch into an operator error
    val stale = Seq("ivf", "pq", "ivfpq", "pca").filterNot(kind =>
      graft.api.IndexArtifacts.dropModel(s, s"g_model_${kind}_$slug"))
    releaseTrainedModels(s)
    if (stale.nonEmpty)
      throw new IllegalStateException(
        s"retrainModels($d): model artifact delete failed for " +
        s"[${stale.mkString(", ")}] — the frozen epoch did NOT end; " +
        "the stale artifacts would keep serving")
  }

  /** CORPUS-SIZED coarse k (VERDICT r17 #1 — the "k ∝ n" lever made
    * implemented): k = clamp(ceil(n / [[IvfTargetCell]]), 8, kMax), so
    * the EXPECTED cell size is targetCell ≪ BucketCap and a planted hot
    * region splits across centroids instead of truncating at the cap —
    * the scale-stress fixture measured max_ivf_cell 4,500 > cap 4,096
    * under constant k=8, and members past the cap silently left pair
    * generation and ANN candidacy (a recall cliff at 100 TB, not a
    * runtime cliff; records/scale_stress.json). 512 leaves ~8× headroom
    * under the cap for skew the split doesn't fully even out; kMax
    * bounds the broadcast centroid block (kMax·dim doubles ≈ 32 MB at
    * dim 64 — the model-state ceiling, far past any fixture).
    *
    * n comes from the persisted CATALOG statistics when the embeddings
    * table is registered ([[graft.api.CatalogOps.statsRowCount]] — the
    * metastore contract: one ANALYZE at ingest, a free scalar after),
    * else from the parquet FOOTER counts (driver-side metadata read, no
    * scan job). Evaluated ONLY at fit time, so k changes exactly at
    * retrain: between retrains the persisted model serves frozen under
    * growth ([[memoModel]]), and the index tag pins the model artifact
    * digest — a k change is by construction a new epoch. The tag
    * carries the POLICY ([[IvfKPolicyTag]]), never the realized k: a
    * realized-k tag would re-derive k from the CURRENT corpus at serve
    * time and break the frozen epoch on every growth. */
  private[graft] val IvfTargetCell = 512
  private[graft] val IvfKMax = 65536
  private[graft] def sizedIvfK(n: Long): Int =
    math.min(IvfKMax.toLong,
      math.max(8L, (n + IvfTargetCell - 1) / IvfTargetCell)).toInt

  /** Corpus row count for k sizing: catalog stats first, parquet footers
    * as the no-catalog fallback — both metadata reads, never a scan. */
  private[graft] def embRowCount(s: SparkSession, d: String): Long =
    graft.api.CatalogOps.statsRowCount(s,
        graft.api.CatalogOps.fixtureTableName(d, "embeddings"))
      .filter(_ > 0L)
      .getOrElse(graft.api.IndexArtifacts
        .parquetRowCount(s, s"$d/embeddings.parquet"))

  /** The k-selection POLICY tag — folded into every coarse-model and
    * downstream-index tag in place of a realized k (see [[sizedIvfK]]). */
  private[graft] val IvfKPolicyTag =
    s"ksized-v1-tc$IvfTargetCell-kmax$IvfKMax-i5"

  private[graft] def trainedIvfCentroids(s: SparkSession, d: String): DataFrame =
    memoModel(s, "ivf", d, tag = ":" + IvfKPolicyTag)(
      graft.api.KMeans.fit(emb(s, d), "vec_id", "v",
        k = sizedIvfK(embRowCount(s, d)), iters = 5))

  private[graft] def trainedPqCodebook(s: SparkSession, d: String): DataFrame =
    memoModel(s, "pq", d)(pqTrainedCodebook(emb(s, d)))

  /** Corpus rows with their coarse IVF cell and RESIDUAL (v − centroid):
    * the IVFADC working representation (Jégou, Douze & Schmid, TPAMI
    * 2011 §III — PQ quantizes what the coarse quantizer leaves over,
    * which concentrates the energy the codebook must cover). Assignment
    * is the map-side 1-probe argmax; the k-row centroid table re-attaches
    * by cell id through an explicit broadcast (bounded model state), and
    * the residual is one zip_with projection. Emits
    * (vec_id, cid, __ccv, v) with v REBOUND to the residual so the PQ
    * encoder consumes it unchanged.
    */
  private[graft] def ivfResiduals(e: DataFrame, cents: DataFrame): DataFrame =
    IvfOps.assign(e, IvfOps.centroidBlock(cents, "cid", "cv"), nProbe = 1)
      .join(broadcast(cents.select(col("cid"), col("cv").as("__ccv"))),
            Seq("cid"))
      .select(col("vec_id"), col("cid"), col("__ccv"),
        zip_with(col("v"), col("__ccv"), (a, b) => a - b).as("v"))

  /** IVFADC codebook geometry: M=16 subspaces of 4 dims, k=16 codes each
    * (64-bit codes/vector) — finer than the fixture-PQ [[PqM]]×[[PqSub]]
    * because ADC RANKS by the reconstruction; on near-isotropic corpora
    * the cosine margins between true neighbours are a few hundredths, so
    * the codes must carry real fidelity (the paper's m=8/k★=256 geometry
    * scaled to the 64-dim fixture). The raw-PQ pair keeps the coarse
    * fixture geometry to stay comparable with its DuckDB-mirrored twin. */
  private val IvfPqM = 16
  private val IvfPqSub = Dim / IvfPqM
  private val IvfPqK = 16

  /** IVFADC+R shortlist size: ADC ranks the probed cells, the top
    * [[IvfPqShortlist]] rows re-rank by EXACT distance (Jégou, Tavenard,
    * Douze & Amsaleg, "Searching in one billion vectors: re-rank with
    * source coding", ICASSP 2011). R=25 ≫ k=5 absorbs ADC's quantization
    * noise at fixture margins; at scale R stays O(k), never O(corpus). */
  private val IvfPqShortlist = 25

  /** The IVFADC residual codebook: [[graft.api.KMeans.fitSubspaces]] over
    * the coarse-cell residuals (the paper's training rule — codebooks fit
    * the residual distribution, not the raw vectors). Deterministic chain:
    * the residuals derive from the memoized [[trainedIvfCentroids]] fit,
    * itself deterministic, so the artifact fingerprint on the input file
    * covers the whole composition; the tag pins both stages'
    * hyperparameters so a changed recipe self-invalidates.
    */
  private[graft] def trainedIvfPqCodebook(s: SparkSession, d: String): DataFrame =
    memoModel(s, "ivfpq", d,
      tag = s":ivfpq-v4:m$IvfPqM:sub$IvfPqSub:k$IvfPqK:i5:coarse-$IvfKPolicyTag")(
      graft.api.KMeans.fitSubspaces(
        ivfResiduals(emb(s, d), trainedIvfCentroids(s, d)),
        "vec_id", "v", IvfPqM, IvfPqSub, k = IvfPqK, iters = 5)
        .select(col("m"), col("j"), col("cv")))

  /** Embedding-cosine near-dup threshold on floor(cos·1e9) — the ONE τ
    * the embedding dedup family uses (q_dedup_embed, eval_leakage, and
    * the streaming gate). */
  private[graft] val SemDupThrE9 = 450000000L

  /** The corpus packed per IVF cell for the semantic gate's stream-static
    * probe: one row per cid carrying its members as a sorted (vec_id, v,
    * nrm = |v|) array — each member's norm computed once here, not per
    * probing row — membership capped at [[IvfOps.BucketCap]] by vec_id rank
    * (the bucketPairs skew rule — a degenerate cell must not become an
    * unbounded per-row fold; members past the cap escape the gate exactly
    * as they escape q_dedup_embed's capped pair join, documented, and the
    * spec pins the in-cap contract). STATIC side — windows and aggregation
    * are fine here; only the probe side streams.
    */
  private[graft] def semanticGateCellPack(corpus: DataFrame,
                                          cents: DataFrame): DataFrame = {
    val byCell = org.apache.spark.sql.expressions.Window
      .partitionBy("cid").orderBy("vec_id")
    IvfOps.assign(corpus, IvfOps.centroidBlock(cents, "cid", "cv"),
        nProbe = 1)
      .withColumn("__rn", row_number().over(byCell))
      .filter(col("__rn") <= IvfOps.BucketCap)
      .groupBy("cid")
      .agg(sort_array(collect_list(struct(col("vec_id"), col("v"),
        sqrt(dot_product(col("v"), col("v"))).as("nrm")))).as("members"))
  }

  /** The memoized centroid Seqs as literal centroid blocks. */
  private[graft] def fixtureIvfBlock(s: SparkSession, d: String): Column =
    IvfOps.centroidLiteral(fixtureIvfCentroidSeq(s, d))
  private[graft] def trainedIvfBlock(s: SparkSession, d: String): Column =
    IvfOps.centroidLiteral(trainedIvfCentroidSeq(s, d))

  /** The STREAMING SEMANTIC dedup gate — "drop today's crawl rows whose
    * embedding near-duplicates the corpus" (SemDeDup's question asked per
    * micro-batch), completing the gate family's fourth dedup lens beside
    * exact hash (s_dedup_gate), MinHash bands (s_fuzzy_gate), and
    * benchmark n-grams (s_contamination_gate). Stateless by the fuzzy
    * gate's construction: each row's 2 probe cells come from
    * [[withProbedCells]] as COLUMNS (never exploded rows), then a per-row
    * HOF fold takes the best cosine over ≤ BucketCap candidates (ties →
    * lowest vec_id; the row itself excluded; a zero-norm query or member
    * scores the -2 floor, never a neighbour). No aggregation, no window, no
    * state — the identical plan runs under readStream append (StreamingSpec
    * pins two-micro-batch bit-equality to the batch twin and zero false
    * negatives for exact-duplicate vectors whose twin is CAP-RESIDENT in
    * its cell — the duplicate shares its twin's cell by determinism of the
    * assignment, but a twin ranked past BucketCap in a degenerate cell
    * escapes the pack and therefore the gate, exactly as it escapes
    * q_dedup_embed's capped pair join; the guarantee is in-cap, not
    * unconditional — ADVICE r15).
    *
    * Emits (vec_id, nn_vec_id, sim_e9, is_semdup) — null nn/sim when the
    * probed cells hold no candidate. is_semdup = sim_e9 ≥ [[SemDupThrE9]],
    * the q_dedup_embed τ, so the gate's verdict is the batch family's.
    *
    * Shape at 100 TB: per incoming row the work is k centroid dot
    * products + 2 joins on a cell id + a ≤ 2·BucketCap-element fold; the
    * static side is the IVF-packed corpus (the persisted index layer in
    * production), shuffled once per micro-batch at most — never the
    * corpus per row, never a rescan.
    */
  /** The streaming probe scaffold [[semanticGateRows]] and
    * [[annServeRows]] share: per row, the 2 nearest-of-`cents` cell ids
    * as pure-projection COLUMNS (the centroids as one literal block —
    * driver-resident model state, no subquery, no generator, so the plan
    * is stream-safe), then one stream-static equi LEFT join per probe
    * column attaching the probed cell's packed member array from
    * `cellPack`. Emits (vec_id, v, __qn, __ms_0, __ms_1), __qn = |v|.
    */
  private def withProbedCells(batch: DataFrame,
      cents: Seq[(Long, Array[Double])], cellPack: DataFrame): DataFrame = {
    val keyed = batch
      .withColumn("__near",
        nearest_centroids(col("v"), IvfOps.centroidLiteral(cents), 2))
      .select(Seq(col("vec_id"), col("v"),
          sqrt(dot_product(col("v"), col("v"))).as("__qn")) ++
        (0 until 2).map(p => element_at(col("__near"), p + 1)
          .getField("cid").as(s"__cid_$p")): _*)
    var out = keyed
    for (p <- 0 until 2)
      out = out.join(
        cellPack.select(col("cid").as(s"__cid_$p"),
                        col("members").as(s"__ms_$p")),
        Seq(s"__cid_$p"), "left")
    out
  }

  /** A probe row's cosine to cell member `m` behind the IvfOps zero-norm
    * floor: a zero |v|·|m.v| scores -2 (below any cosine) instead of a
    * DIVIDE_BY_ZERO under ANSI; any other NaN floors too. */
  private def memberCosine(m: Column): Column = {
    val den = col("__qn") * m.getField("nrm")
    nanvl(when(den > 0, dot_product(col("v"), m.getField("v")) / den)
            .otherwise(lit(-2d)), lit(-2d))
  }

  /** Empty member-array literal for the null side of the probe joins. */
  private def noMembers: Column =
    array().cast("array<struct<vec_id:bigint,v:array<double>,nrm:double>>")

  private[graft] def semanticGateRows(batch: DataFrame,
      cents: Seq[(Long, Array[Double])], cellPack: DataFrame): DataFrame = {
    val nilBest = struct(lit(-2d).as("s"), lit(-1L).as("id"))
    val out = withProbedCells(batch, cents, cellPack)
    // best (cosine, id) over one cell's members: exact same better-rule
    // in the fold and the cross-probe combine — higher sim wins, ties to
    // the lowest id; the probe row itself can never be its own neighbour
    def better(cand: Column, acc: Column): Column = {
      val s = cand.getField("s"); val a = acc.getField("s")
      (s > a) || (s === a && cand.getField("id") < acc.getField("id"))
    }
    def bestOf(ms: Column): Column =
      aggregate(coalesce(ms, noMembers), nilBest,
        (acc, m) => {
          val cand = struct(memberCosine(m).as("s"),
            m.getField("vec_id").as("id"))
          when(m.getField("vec_id") =!= col("vec_id") && better(cand, acc),
               cand).otherwise(acc)
        })
    val b0 = bestOf(col("__ms_0")); val b1 = bestOf(col("__ms_1"))
    val best = when(better(b1, b0), b1).otherwise(b0)
    out
      .withColumn("__best", best)
      .select(col("vec_id"),
        when(col("__best.id") >= 0, col("__best.id")).as("nn_vec_id"),
        when(col("__best.id") >= 0,
          floor(col("__best.s") * 1e9).cast("long")).as("sim_e9"),
        coalesce(
          floor(col("__best.s") * 1e9).cast("long") >= SemDupThrE9 &&
            col("__best.id") >= 0,
          lit(false)).as("is_semdup"))
  }

  /** STREAMING ANN retrieval — vector search as a service: a stream of
    * query vectors, each answered with its top-`k` approximate cosine
    * neighbours from the probed IVF cells, in ONE stateless pass (the
    * [[withProbedCells]] scaffold the semantic gate rides, plus a
    * per-row TOP-K FOLD: the accumulator is the ≤k best (sim, −id)
    * structs, each candidate inserted by a sort of ≤ k+1 elements —
    * O(|cell|·k log k) per query, no window, no aggregation, no state).
    * The (sim, −id) encoding makes one descending struct sort give the
    * house ranking — sim DESC, ties → vec_id ASC (the IvfOps.assign
    * device). Output explodes to (q_id, rnk, vec_id, sim_e9) rows —
    * generators are stateless, so the identical plan runs under
    * readStream append (StreamingSpec pins two-micro-batch bit-equality
    * and the exact-match-at-rank-1 contract).
    *
    * Shape at 100 TB: per query the work is |cents| centroid dot
    * products + 2 cell-id joins + a ≤ 2·BucketCap fold — the corpus
    * never rescans, and the static side is the same packed IVF index
    * the semantic gate serves. This is the family's SERVING member:
    * q_sim_ivf_trained answers a fixed query table in batch; this
    * answers an unbounded query stream.
    */
  private[graft] def annServeRows(queries: DataFrame,
      cents: Seq[(Long, Array[Double])], cellPack: DataFrame,
      k: Int = 3): DataFrame = {
    val out = withProbedCells(queries, cents, cellPack)
    // top-k invariant fold: the accumulator stays SORTED DESCENDING, so
    // a candidate enters only when the list isn't full or it beats the
    // current k-th (one struct comparison) — the insert's
    // concat+sort+slice allocates O(k log k) but runs only for the
    // O(k·ln|cell|)-expected improving candidates, not per member
    // (the naive insert-always form measured ~3× the whole query)
    def foldTop(acc0: Column, ms: Column): Column =
      aggregate(coalesce(ms, noMembers), acc0, (acc, m) => {
        val sim = memberCosine(m)
        val cand = struct(sim.as("s"), (-m.getField("vec_id")).as("nid"))
        // sim ≤ −1.5 is the floor sentinel (zero-norm corpus or query
        // vector — cosine undefined): skip it like the self-match, so a
        // degenerate vector in a sparse cell can never be emitted as a
        // ranked neighbour with sim_e9 = −2e9; a query whose candidates
        // are ALL degenerate yields the null-answer row (ADVICE r15)
        when(m.getField("vec_id") === col("vec_id") || sim <= lit(-1.5d),
             acc)
          .when(size(acc) < k || cand > get(acc, lit(k - 1)),
            slice(reverse(array_sort(concat(acc, array(cand)))), 1, k))
          .otherwise(acc)
      })
    val empty = array().cast("array<struct<s:double,nid:bigint>>")
    val top = foldTop(foldTop(empty, col("__ms_0")), col("__ms_1"))
    out
      .withColumn("__top", top)
      // _outer: a query whose probed cells are ALL empty still answers —
      // one all-null row, not a silent drop (a service must never lose a
      // query; r15 review)
      .select(col("vec_id").as("q_id"),
        posexplode_outer(col("__top")).as(Seq("__pos", "__t")))
      .select(col("q_id"), (col("__pos") + 1).cast("long").as("rnk"),
        (-col("__t.nid")).as("vec_id"),
        floor(col("__t.s") * 1e9).cast("long").as("sim_e9"))
  }

  /** The PQ-encoded IVFADC corpus index (vec_id, cid, codes, rvfull) —
    * at scale the PERSISTED retrieval artifact (Jégou's inverted file):
    * the encode is index-BUILD cost, so it serves from the warehouse
    * exactly like shingle_sigs (fingerprint on embeddings.parquet + a
    * geometry/model-version tag; `ivfpq_index` / `ivfpq_index_fx` bench
    * phases carry the artifact-vs-rebuild source), session-memoized and
    * cached — retrieval queries pay one parquet read, never a
    * re-encode. The trained and fixture variants differ only in which
    * models feed the encode (the fixture/production data-swap rule);
    * doubles round-trip parquet bit-exactly, so the served index is the
    * built one.
    */
  // onEvict unpersists: the build blocks .cache() these corpus-sized
  // layers eagerly, so a dir switch or release must drop the storage
  // (r15 review — the sigMemo/tokLayerMemo rule)
  private val indexCache =
    new graft.api.SessionMemo[DataFrame](_.unpersist(blocking = false))

  /** Digest of bounded MODEL rows (coarse centroids + codebook — k×dim
    * driver state): folded into the encoded index's artifact tag, so
    * "the models are unchanged" is verified structurally — a refit (new
    * corpus epoch, [[retrainModels]]) changes the digest, the tag
    * mismatches, and the serve takes the exact-rebuild branch; identical
    * models make a grown manifest an APPEND. Row order is irrelevant
    * (sorted canonical strings).
    *
    * Rows canonicalize FIELD BY TYPE (ADVICE r17), never Row.toString:
    * the default rendering of nested types (WrappedArray vs ArraySeq
    * across Scala/Spark versions, identity-hash toString on binary) is
    * not a stable serialization contract, and a silent change would
    * permanently disable the append path (every serve rebuilding on a
    * phantom "model change"). Doubles/floats render via the IEEE
    * shortest-round-trip form (java.lang.Double.toString), exact for
    * bit-identical values. */
  private def modelRowsDigest(dfs: DataFrame*): String = {
    def cell(v: Any): String = v match {
      case null => "∅"
      case a: scala.collection.Seq[_] =>
        a.map(cell).mkString("[", ",", "]")
      case a: Array[Byte] => java.util.Base64.getEncoder.encodeToString(a)
      case a: Array[_] => a.map(cell).mkString("[", ",", "]")
      case d: java.lang.Double => java.lang.Double.toString(d)
      case f: java.lang.Float => java.lang.Float.toString(f)
      case r: org.apache.spark.sql.Row =>
        r.toSeq.map(cell).mkString("(", "|", ")")
      case x => String.valueOf(x)
    }
    val canon = dfs.flatMap(_.collect()
      .map(r => r.toSeq.map(cell).mkString("(", "|", ")"))).sorted
    java.util.UUID.nameUUIDFromBytes(
      canon.mkString("|").getBytes("UTF-8")).toString
  }

  /** The "models unchanged" epoch component of the encoded-index tag —
    * by preference the model ARTIFACTS' file-manifest digest
    * ([[graft.api.IndexArtifacts.modelArtifactEpoch]]) as RECORDED when
    * the session memo filled ([[modelEpochAtLoad]]): a driver-side
    * stat + bounded CRC that changes exactly at refit, so the per-serve
    * cost is zero Spark jobs where the r17 form collected the model
    * frames every session (VERDICT r17 #4 — the ~0.5 s/session floor
    * line item). The AT-LOAD epoch, not a fresh stat, is load-bearing
    * (r18 self-review): the caller encodes with the MEMOIZED frames, so
    * a foreign retrain between memo fill and index serve would otherwise
    * stamp a stale-model encode with the fresh epoch — every later
    * session would then tag-match and serve the mismatched index as
    * "artifact", silently and permanently. With the at-load epoch the
    * tag always describes the frames actually encoded; a foreign refit
    * simply mismatches the NEXT session's tag → one rebuild, never a
    * stale serve. Falls back to the canonical rows digest when the
    * artifact was absent at fill (unwritable warehouse); a scheme mix
    * between sessions can only mismatch the tag → one extra rebuild. */
  private def trainedModelEpoch(s: SparkSession, d: String,
                                kinds: Seq[String],
                                fallback: => Seq[DataFrame]): String = {
    val eps = kinds.map(kind =>
      modelEpochAtLoad.getOrDefault((s, kind, d), None))
    if (eps.forall(_.isDefined)) "fpe:" + eps.flatten.mkString("+")
    else "rows:" + modelRowsDigest(fallback: _*)
  }

  /** Fixture-model epoch memo: the fixture models are pure functions of
    * PINNED corpus rows (vec_id < 8 centroids, vec_id < 4 codebook), so
    * their digest is stable under growth (append keeps working) and the
    * bounded-row collect that computes it memoizes per dir — keyed by
    * dir with the source digest as a VALIDATOR, so a long-lived JVM
    * cycling a dir through grow/shrink states (the lifecycle-fuzz
    * workload) holds ONE entry per dir, not one per corpus state ever
    * seen (r18 self-review; also moves the Spark collect out of
    * computeIfAbsent's bin lock). */
  private val fixtureEpochMemo =
    new java.util.concurrent.ConcurrentHashMap[String, (String, String)]()

  private def fixtureEpoch(d: String, cents: DataFrame,
                           cb: DataFrame): String = {
    val dg = graft.api.IndexArtifacts
      .fileFingerprintDigest(s"$d/embeddings.parquet")
    Option(fixtureEpochMemo.get(d)) match {
      case Some((`dg`, v)) => v
      case _ =>
        val v = "rows:" + modelRowsDigest(cents, cb)
        fixtureEpochMemo.put(d, (dg, v))
        v
    }
  }

  private[graft] def ivfpqIndex(s: SparkSession, d: String,
                                trained: Boolean): DataFrame = {
    val kind = if (trained) "ivfpqidx" else "ivfpqidxfx"
    indexCache.get(s, kind, d) {
      val e = emb(s, d)
      // the models feeding the encode — trained (artifact-served, FROZEN
      // on growth) or the fixture pair (vec_id-pinned rows, unchanged by
      // construction when the corpus grows)
      val (cents, cb, m, sub) =
        if (trained)
          (trainedIvfCentroids(s, d), trainedIvfPqCodebook(s, d),
            IvfPqM, IvfPqSub)
        else
          (e.filter(col("vec_id") < 8)
             .select(col("vec_id").as("cid"), col("v").as("cv")),
           pqFixtureCodebook(e), PqM, PqSub)
      def encode(vecs: DataFrame): DataFrame =
        pqEncodeWith(ivfResiduals(vecs, cents), cb,
            passThrough = Seq("cid", "__ccv"), nSub = m, subDim = sub)
          .select(col("vec_id"), col("cid"), col("codes"),
            zip_with(col("__ccv"), col("rv"), (a, b) => a + b).as("rvfull"))
      // v3 (r18): the trained epoch component moved from a per-session
      // model-rows collect to the model artifacts' file digest, and the
      // coarse model is corpus-sized (the k-policy tag) — one-time bump
      val baseTag =
        if (trained) s"ivfpq-idx-v3:m$IvfPqM:sub$IvfPqSub:k$IvfPqK:" +
          s"cb-ivfpq-v4:coarse-$IvfKPolicyTag"
        else "ivfpq-idx-fx-v3"
      // MANIFEST-INCREMENTAL (VERDICT r16 #2 — the last corpus-linear
      // layer that was rebuild-only on growth): encoding is a pure
      // per-row function of (vector, models), so under UNCHANGED models
      // (frozen between retrains; digest-pinned in the tag) a grown
      // embeddings dir encodes ONLY the new vectors map-side and
      // appends — the whole-corpus re-encode never reruns. A retraction
      // under stable models shrinks row-locally; a model change (refit
      // after shrink/mutation/retrain) mismatches the tag → rebuild.
      val tag = baseTag + ":mdl" + (
        if (trained)
          trainedModelEpoch(s, d, Seq("ivf", "ivfpq"), Seq(cents, cb))
        else fixtureEpoch(d, cents, cb))
      val slug = d.replaceAll("[^A-Za-z0-9]+", "_")
      val phase = if (trained) "ivfpq_index" else "ivfpq_index_fx"
      val (df, src) = graft.api.IndexArtifacts.serveDerivedIncremental(
        s, s"g_drv_${kind}_$slug", s"$d/embeddings.parquet", tag,
        encode(fanOut(e)),
        paths => encode(fanOut(s.read.parquet(paths: _*).select(
          col("vec_id"),
          transform(col("embedding"), x => x.cast("double")).as("v")))),
        // replay/recrawl guard: an already-encoded vec_id in a "new"
        // file would duplicate its index row
        acceptDelta = (art, delta) => art.join(
          delta.select("vec_id").distinct(), Seq("vec_id"), "left_semi")
          .isEmpty,
        buildShrink = art => Some(art.join(
          s.read.parquet(s"$d/embeddings.parquet").select("vec_id"),
          Seq("vec_id"), "left_semi")),
        compactInvariant = DedupQueries.uniqueInvariant("vec_id"))
      DedupQueries.noteDerivedSource(s, phase, src)
      val out = df.cache()
      out.count() // eager — the winnowPickSet rationale
      out
    }
  }

  /** Release the session-memoized IVFADC index layers (spec hook — the
    * releaseTypoPairs pattern): the next access re-serves from the
    * persisted artifact. */
  private[graft] def releaseIvfpqIndex(s: SparkSession): Unit = {
    indexCache.release(s, "ivfpqidx")
    indexCache.release(s, "ivfpqidxfx")
    cellPackCache.release(s, "semgate")
  }

  /** Release EVERY session-memoized model/index of this module — the
    * bench phase re-measure hook (r16): the next access re-serves from
    * the persisted artifacts, so a re-timed train/index phase measures
    * the honest warm serve, not a memo hit. */
  private[graft] def releaseTrainedModels(s: SparkSession): Unit = {
    modelCache.release(s)
    centroidSeqMemo.release(s) // plain driver Seqs — re-collected on next use
    qv0Memo.release(s)
    // the at-load epochs describe the released frames — drop them so the
    // next fill re-observes (a foreign refit then reads as a new epoch)
    modelEpochAtLoad.keySet.removeIf(_._1 eq s)
    releaseIvfpqIndex(s)
  }

  /** Session-memoized fixture cellPack (the s_dedup_gate corpus-split
    * rule: vec_id % 10 ≠ 0 is "the corpus"), cached — the static side of
    * every micro-batch probe; the persisted IVF index layer plays this
    * role in production. */
  private val cellPackCache =
    new graft.api.SessionMemo[DataFrame](_.unpersist(blocking = false))
  private[graft] def semanticGateCorpusPack(s: SparkSession,
                                            d: String): DataFrame =
    cellPackCache.get(s, "semgate", d) {
      val pack = semanticGateCellPack(
        emb(s, d).filter(col("vec_id") % 10 =!= 0),
        trainedIvfCentroids(s, d)).cache()
      pack.count() // eager — the winnowPickSet rationale
      pack
    }

  /** Driver-resident centroid Seqs, memoized per (session, kind, dir) —
    * bounded k×dim model state (the modelCache contract). The collect
    * behind each Seq is a Spark job when the model frame is an
    * artifact-served parquet read; memoizing it keeps consumers that
    * assign against a literal block ([[IvfOps.centroidLiteral]]) from
    * re-paying that job per query run (r18). */
  private val centroidSeqMemo =
    new graft.api.SessionMemo[Seq[(Long, Array[Double])]]()

  // ADVICE r18: these memos hold FIXTURE-DERIVED content (the vec-0
  // query row, the fixture/trained centroid Seqs) with no per-access
  // fingerprint — an in-place embeddings rewrite mid-session could serve
  // stale model literals where the replaced scalar-subquery form read
  // live data. The sanctioned rewrite paths (Tables.invalidate/clear,
  // registerFixtureTagged observing a changed fingerprint) now release
  // them through this hook, keeping the hot path free of per-run digest
  // I/O.
  graft.Tables.onInvalidate { (s, path) =>
    if (path == "*" || path.endsWith("/embeddings.parquet"))
      releaseTrainedModels(s)
  }

  /** Driver-resident (cid, centroid) rows of the trained IVF model — the
    * literal form [[semanticGateRows]] ships to executors. */
  private[graft] def trainedIvfCentroidSeq(s: SparkSession,
      d: String): Seq[(Long, Array[Double])] =
    centroidSeqMemo.get(s, "ivfseq", d) {
      trainedIvfCentroids(s, d).collect()
        .map(r => (r.getLong(0),
          r.getSeq[Double](r.fieldIndex("cv")).toArray))
        .sortBy(_._1).toSeq
    }

  /** The fixture query row (vec_id = 0) as driver-resident literals —
    * (vector, label), 1×[[Dim]] bounded model state, memoized per
    * (session, dir): consumers inline it with `lit(...)` instead of the
    * uncorrelated scalar subquery, whose execution was one job per query
    * run injecting the SAME values (r18).
    * Exactly one vec-0 row is required, loudly — the subquery form threw
    * on duplicates too (scalar subquery cardinality check). */
  private val qv0Memo = new graft.api.SessionMemo[(Array[Double], Any)]()
  private def queryRow0(s: SparkSession, d: String): (Array[Double], Any) =
    qv0Memo.get(s, "qv0", d) {
      val rows = emb(s, d).filter(col("vec_id") === 0)
        .select(col("v"), col("label")).collect()
      require(rows.length == 1,
        s"expected exactly one vec_id=0 query row, got ${rows.length}")
      // label kept type-generic (the fixture's is integer): lit(Any)
      // infers the matching Literal type for the filter compare
      (rows(0).getSeq[Double](0).toArray, rows(0).get(1))
    }
  private def queryVec0(s: SparkSession, d: String): Column =
    lit(queryRow0(s, d)._1)

  /** Driver-resident FIXTURE IVF centroids (vec_id < 8, double-cast) —
    * the literal form of the fixture centroid block (8×[[Dim]] doubles):
    * no subquery job per query run, and scores bit-identical to the
    * scalar-subquery block (same dot/norm arithmetic). */
  private[graft] def fixtureIvfCentroidSeq(s: SparkSession,
      d: String): Seq[(Long, Array[Double])] =
    centroidSeqMemo.get(s, "fxseq", d) {
      emb(s, d).filter(col("vec_id") < 8)
        .select(col("vec_id"), col("v")).collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
        .sortBy(_._1).toSeq
    }

  /** The trained PCA eigenbasis (k, i, b, lambda_e6) — artifact-served or
    * fit via [[graft.api.Pca.fitBasis]]; ProjK×Dim rows of driver model
    * state (the KMeans memo pattern). */
  private[graft] def trainedPcaModel(s: SparkSession, d: String): DataFrame =
    memoModel(s, "pca", d,
      // v2: the r15 lambda clamp (negative Rayleigh residue of a rank-
      // deficient deflation now flags 0, not -1) changed the fit kernel —
      // persisted v1 models must refit
      tag = s":pca-v2:k$ProjK:i${graft.api.Pca.Iters}")(
      graft.api.Pca.fitBasis(emb(s, d), "v", k = ProjK))

  /** The memoized eigenbasis as ProjK milli-quantized coefficient rows —
    * basis(k)(i) — for the literal-array projection. */
  private[graft] def trainedPcaBasis(s: SparkSession,
                                     d: String): Seq[Array[Long]] = {
    val rows = trainedPcaModel(s, d).collect() // ProjK×Dim model rows
    (0 until ProjK).map { k =>
      val arr = new Array[Long](Dim)
      rows.filter(_.getLong(0) == k)
        .foreach(r => arr(r.getLong(1).toInt) = r.getLong(2))
      arr
    }
  }

  /** Named one-time training phases for Bench (the
    * DedupQueries.indexPhases pattern): forcing each memo here makes the
    * trained queries' own timings pure query cost, with the fit
    * attributed to its phase in the artifact. Each phase carries a
    * source thunk — read AFTER the timed build — reporting whether the
    * model came from the persisted artifact (fingerprint hit) or a cold
    * fit, so the bench artifact distinguishes artifact-warm from refit
    * (VERDICT r11 #5).
    */
  def trainPhases(s: SparkSession,
                  d: String): Seq[(String, () => Long, () => String)] = Seq(
    ("kmeans_ivf_train", () => trainedIvfCentroids(s, d).count(),
      () => trainSource(s, "ivf", d)),
    ("kmeans_pq_train", () => trainedPqCodebook(s, d).count(),
      () => trainSource(s, "pq", d)),
    ("kmeans_ivfpq_train", () => trainedIvfPqCodebook(s, d).count(),
      () => trainSource(s, "ivfpq", d)),
    ("ivfpq_index", () => ivfpqIndex(s, d, trained = true).count(),
      () => DedupQueries.derivedSourceOf(s, "ivfpq_index")),
    ("ivfpq_index_fx", () => ivfpqIndex(s, d, trained = false).count(),
      () => DedupQueries.derivedSourceOf(s, "ivfpq_index_fx")),
    ("pca_train", () => trainedPcaModel(s, d).count(),
      () => trainSource(s, "pca", d)),
    // model_literals (r19, VERDICT r18 #6): the driver-resident collects
    // behind the literal-assignment consumers — the vec-0 query row and
    // the fixture/trained centroid Seqs — are forced HERE so their
    // one-time collect jobs are a named, auditable phase in the bench
    // record instead of riding (and being hidden by) some query's run 1.
    // Bounded model state: 1×Dim + 8×Dim + k×Dim rows.
    ("model_literals", () => {
      queryRow0(s, d)
      (1L + fixtureIvfCentroidSeq(s, d).size +
        trainedIvfCentroidSeq(s, d).size)
    }, () => "collect"))

  /** q_emb_dims core over rows with an `embedding` array column. */
  private[graft] def dimProfile(e: DataFrame): DataFrame =
    e.select(posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(col("dim"),
        floor(col("x").cast("double") * 1e6).cast("long").as("q6"))
      .groupBy("dim")
      .agg(count(lit(1)).as("n"),
           sum("q6").as("sum_q6"),
           sum(expr("q6 * q6")).as("sumsq_q12"),
           sum(when(col("q6") === 0, 1L).otherwise(0L)).as("n_zero"),
           min("q6").as("min_q6"), max("q6").as("max_q6"))
      .orderBy("dim")

  /** q_emb_norms core over (…, v) rows — factored so specs can plant
    * zero / sub-unit / inflated vectors (the fixture is uniformly scaled
    * and exercises one cell). */
  private[graft] def normProfile(e: DataFrame): DataFrame = {
    val n2 = dot_product(col("v"), col("v"))
    e.select(floor(n2 * 1e6).cast("long").as("n2_e6"))
      .withColumn("bucket",
        when(col("n2_e6") === 0L, 0)         // zero vector
          .when(col("n2_e6") < 500000L, 1)   // norm² < 0.5
          .when(col("n2_e6") < 2000000L, 2)  // ~unit
          .when(col("n2_e6") < 10000000L, 3) // inflated
          .otherwise(4))                     // way off
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"),
           min("n2_e6").as("min_n2_e6"),
           max("n2_e6").as("max_n2_e6"))
      .orderBy("bucket")
  }

  private[graft] def pqEncode(e: DataFrame): DataFrame =
    pqEncodeWith(e, pqFixtureCodebook(e))

  /** `passThrough` columns ride the encode untouched (the IVFADC path
    * keeps the row's coarse cell id and centroid beside its codes);
    * `m`/`sub` select the subspace geometry (the raw-PQ family keeps the
    * fixture [[PqM]]×[[PqSub]]; IVFADC uses its finer own). */
  private[graft] def pqEncodeWith(e: DataFrame, cbRows: DataFrame,
                                  passThrough: Seq[String] = Nil,
                                  nSub: Int = PqM,
                                  subDim: Int = PqSub): DataFrame = {
    val cb = cbRows
      .withColumn("n2", dot_product(col("cv"), col("cv")))
      .agg(sort_array(collect_list(struct(
        col("m"), col("j"), col("cv"), col("n2")))).as("__cb"))
    val parts = (0 until nSub).map { m =>
      val subm = slice(col("v"), m * subDim + 1, subDim)
      val ents = filter(col("__cb"), c => c.getField("m") === m)
      val scored = transform(ents, c => struct(
        (dot_product(subm, subm) + c.getField("n2")
          - lit(2.0) * dot_product(subm, c.getField("cv"))).as("dist"),
        c.getField("j").as("j"), c.getField("cv").as("cv")))
      array_min(scored)
    }
    e.withColumn("__cb",
        org.apache.spark.sql.GraftSqlBridge.scalarSubquery(cb))
      .select(col("vec_id") +: passThrough.map(col) ++: Seq(
        concat_ws(",", parts.map(_.getField("j").cast("string")): _*)
          .as("codes"),
        concat(parts.map(_.getField("cv")): _*).as("rv")): _*)
  }

  /** Fixture projection-basis entry for (component k, dim i): an affine
    * permutation onto [−1000, 1000] milli-units (the q_text_quality_model
    * fixture-weight device) — both engines restate the literal
    * arithmetic; an offline-PCA eigenbasis is a data swap. */
  private def basisVal(k: Int, i: Column): Column =
    ((lit(k) * Dim + i) * 2654435761L % 2001) - 1000

  /** Number of projection components emitted by q_emb_project. */
  private[graft] val ProjK = 4

  /** q_emb_project core over (vec_id, v) rows — milli-quantize, then one
    * exact integer dot per component via an aggregate fold over the dim
    * range (|q| ≤ ~10³ milli-units · |b| ≤ 10³ · 64 dims ⇒ |p| < 10⁸ —
    * far inside BIGINT, no DECIMAL needed). Factored for the spec's
    * hand-derived unit-vector pins. */
  private[graft] def embProject(e: DataFrame): DataFrame =
    embProjectOn(e, (k, i) => basisVal(k, i))

  /** q_emb_project_trained core: the identical exact-integer map-side
    * matmul over a TRAINED milli-quantized eigenbasis — coefficients
    * attach as constant-folded literal arrays (the model-as-driver-state
    * convention; no join node, no broadcast). */
  private[graft] def embProjectTrained(e: DataFrame,
                                       basis: Seq[Array[Long]]): DataFrame =
    embProjectOn(e, (k, i) =>
      element_at(array(basis(k).map(lit(_)): _*), (i + 1).cast("int")))

  /** Shared projection plan over any (component, dim) → Column basis
    * lookup — ONE matmul definition for the fixture and trained halves. */
  private def embProjectOn(e: DataFrame,
                           basis: (Int, Column) => Column): DataFrame = {
    val q = transform(col("v"), x => floor(x * 1000).cast("long"))
    val projs = (0 until ProjK).map { k =>
      aggregate(sequence(lit(0), lit(Dim - 1)), lit(0L),
        (acc, i) => acc + element_at(col("q"), (i + 1).cast("int")) *
          basis(k, i)).as(s"p$k")
    }
    e.select(col("vec_id"), q.as("q"))
      .select(col("vec_id") +: projs: _*)
      .orderBy("vec_id")
  }

  def queries: Map[String, Q] = Map(
    "q_sim_pq" -> ((s, d) => {
      // PQ + ADC top-5: the corpus is scanned as codebook reconstructions
      // (1 byte/dim at 256-entry codebooks — the storage win past int8),
      // the query stays full precision. Same plan family as
      // q_sim_knn_quantized: scalar-subquery query vector, map-side
      // scoring, no join node, TakeOrderedAndProject. See [[pqEncode]].
      val e = emb(s, d)
      // encode the FULL table (the codebook includes vec 0's subvectors),
      // then drop the query row from the scored corpus; the query vector
      // inlines as a driver-resident literal (r18 — the queryRow0 device)
      pqEncode(fanOut(e))
        .filter(col("vec_id") =!= 0)
        .withColumn("qv", queryVec0(s, d))
        .select(col("vec_id"), col("codes"),
                floor9(cosine(col("rv"), col("qv"))).as("sim"))
        .orderBy(col("sim").desc, col("vec_id").asc)
        .limit(5)
    }),

    "q_sim_pq_trained" -> ((s, d) => {
      // the PRODUCTION half of the PQ fixture-codebook split (the
      // q_sim_ivf_trained precedent): identical ADC scan over codebooks
      // from a deterministic per-subspace KMeans.fit — whose init IS the
      // fixture codebook, so this is its Lloyd's refinement. no_oracle by
      // design (trained float model, no SQL mirror); contract =
      // determinism + quantization-error-not-worse-than-fixture
      // (KMeansIvfSpec), fixture twin q_sim_pq stays hash-checked.
      val e = emb(s, d)
      pqEncodeWith(fanOut(e), trainedPqCodebook(s, d))
        .filter(col("vec_id") =!= 0)
        .withColumn("qv", queryVec0(s, d))
        .select(col("vec_id"), col("codes"),
                floor9(cosine(col("rv"), col("qv"))).as("sim"))
        .orderBy(col("sim").desc, col("vec_id").asc)
        .limit(5)
    }),

    "q_emb_centroid" -> ((s, d) => {
      // Per-label mean embedding (the class-prototype / cluster-seed
      // building block): one hash aggregation with `dim` avg slots —
      // map-side partial sums, a single shuffle of k×dim partials, the
      // same shape KMeans.fit iterates. Elements floor6-scaled for
      // cross-engine float parity (partition-order-dependent double
      // accumulation, like the verified stddev/corr aggregates), then
      // joined to one scalar string per label — the driver's compare
      // sorts/hashes column values and can't order raw array cells
      // (same contract as q_agg_collect).
      emb(s, d)
        .groupBy("label")
        .agg(concat_ws(",", array((0 until Dim).map(i =>
          floor(avg(col("v").getItem(i)) * 1e6).cast("long")): _*))
          .as("centroid_e6"),
          count(lit(1)).as("n"))
        .select("label", "centroid_e6", "n")
        .orderBy("label")
    }),

    "q_emb_quantize" -> ((s, d) => {
      // Int8 scalar quantization (the storage/transport compression step
      // before ANN indexing): per-vector min/max range, each dim mapped to
      // a 0..255 code. Pure per-row projection — zero shuffles, linear at
      // any corpus size; the compared values are the exact integer code
      // sum plus floored range endpoints. Both engines evaluate the
      // IDENTICAL double expression tree ((x - min) * (255 / (max - min)))
      // so the codes agree bit-for-bit.
      val e = emb(s, d)
      val vmin = array_min(col("v"))
      val vmax = array_max(col("v"))
      val codes = transform(col("v"), x =>
        when(vmax === vmin, lit(0L))
          .otherwise(least(floor((x - vmin) * (lit(255.0) / (vmax - vmin))),
                           lit(255L))))
      e.select(
          col("vec_id"),
          floor(vmin * 1e6).cast("long").as("qmin_e6"),
          floor(vmax * 1e6).cast("long").as("qmax_e6"),
          aggregate(codes, lit(0L), (acc, c) => acc + c).as("code_sum"))
        .orderBy("vec_id")
    }),

    "q_emb_norms" -> ((s, d) => {
      // Vector-NORM profile — the two-minute sanity check before any
      // cosine machinery: a mixed corpus of normalized and unnormalized
      // embeddings (two embedder versions, a broken export) shows up as
      // a multi-modal norm histogram, and zero-norm vectors (all-zero
      // rows from a failed batch) get their own cell. Norm² floors to e6
      // integers (exact: the codegen'd sequential dot_product is
      // bit-identical cross-engine, floor pins the boundary), bucket =
      // a fixed 5-cell split on norm² — all map-side, one bounded
      // aggregation.
      normProfile(emb(s, d))
    }),

    "q_emb_dims" -> ((s, d) =>
      // Per-DIMENSION embedding health — q_emb_norms' fine-grained
      // sibling: a dead dimension (all zeros from a truncated export), a
      // stuck constant, or a blown-up scale is invisible in vector norms
      // but obvious per dim. Exactness: values quantize map-side to
      // floor(x·10⁶) integers BEFORE summation (integer sums are
      // order-independent; a double Σx over 10⁹ rows is not — the
      // engines would drift), so every cell is bit-identical
      // cross-engine. Shape: posexplode fans each vector to its 64
      // (dim, q6) rows map-side, ONE dim-keyed aggregation, fixed
      // dim-count output. Long envelope: Σq6² ≤ n·(10⁶·max|x|)² —
      // safe to ~9e6 vectors/dim at |x| ≤ 1; DECIMAL(38) swap
      // shape-free past it (the q_event_anomaly rule).
      dimProfile(embeddings(s, d))),

    "q_emb_drift" -> ((s, d) => {
      // Embedding-DISTRIBUTION drift — the model-ops monitor beside
      // q_text_drift's token-rate version: assign two snapshot cohorts
      // (even/odd vec_id — the q_text_drift cohort rule) to the shared
      // centroids and compare per-cluster occupancy shares in exact ppm.
      // A retrained embedder or a shifted corpus shows up as cluster
      // mass moving; |Δppm| ranks the moved clusters first. Shape: ONE
      // map-side assignment pass (literal centroid block), one
      // k×2-bounded keyed aggregation, cohort totals from a conditional
      // rollup of the same tiny table — integer DIV everywhere, no
      // floats past the assignment. Fixture centroids (vec_id < 8) keep
      // the twin hash-checked; the trained path is a centroid swap.
      val e = emb(s, d)
      // No fanOut: the codegen'd assignment is ~µs/row, so the
      // repartition's 32 task constants outweighed it (the bm25 r18 note).
      val asg = IvfOps.assign(e, fixtureIvfBlock(s, d), nProbe = 1)
        .select(col("cid"), pmod(col("vec_id"), lit(2L)).as("cohort"))
      val cells = asg.groupBy("cid", "cohort").agg(count(lit(1)).as("n"))
      // cohort totals ride a window over the k×2-BOUNDED cells rollup
      // (r18, guide §2.4): the tots-aggregate + join-back form evaluated
      // the whole assignment subtree TWICE — interpreted HOF lambdas
      // defeat exchange canonicalization (the round-8 caveat), so the
      // join's probe side and the tots side each re-ran the scan +
      // centroid scoring (measured 10 jobs / 3 s task time at sf0.1 for
      // a 2000-vector input). Same t per (cid, cohort) row.
      cells
        .withColumn("t", sum("n").over(
          org.apache.spark.sql.expressions.Window.partitionBy("cohort")))
        .withColumn("share_ppm", expr("n * 1000000 DIV t"))
        .groupBy("cid")
        .agg(sum(when(col("cohort") === 0, col("n"))).as("n_a"),
             sum(when(col("cohort") === 1, col("n"))).as("n_b"),
             sum(when(col("cohort") === 0, col("share_ppm"))).as("share_a_ppm"),
             sum(when(col("cohort") === 1, col("share_ppm"))).as("share_b_ppm"))
        .withColumn("drift_ppm",
          abs(coalesce(col("share_a_ppm"), lit(0L))
            - coalesce(col("share_b_ppm"), lit(0L))))
        .orderBy("cid")
    }),

    "q_emb_outliers" -> ((s, d) => {
      // Embedding-space OUTLIER audit — the curation pass that catches
      // corrupt/degenerate vectors before they poison ANN buckets: each
      // vector's cosine to its OWN (1-probe) centroid, rolled up per
      // cluster as count / below-threshold count / minimum — a vector far
      // from every centroid (cos < 0.05) is noise, an all-healthy cluster
      // has min_cos well above it. Shape: the same map-side scalar-
      // subquery assignment as q_dedup_semantic with the winning cosine
      // kept (IvfOps.assign keepScore — no centroid re-join), then one
      // k-cell keyed aggregation; cosine floors to e9 integers so both
      // engines compare identical longs. At scale the centroid block is
      // KMeans.fit output (the q_sim_ivf_trained split); fixture
      // centroids (vec_id < 8) keep this twin hash-checked.
      val e = emb(s, d)
      // the winning cosine kept; no fanOut (the q_emb_drift note)
      val asg = IvfOps.assign(e, fixtureIvfBlock(s, d), nProbe = 1,
          keepScore = true)
        .select(col("vec_id"), col("cid"),
          floor(col("csim") * 1e9).cast("long").as("cos_e9"))
      asg.groupBy("cid")
        .agg(count(lit(1)).as("n_vectors"),
             sum(when(col("cos_e9") < OutlierCosE9, 1L).otherwise(0L))
               .as("n_outliers"),
             min("cos_e9").as("min_cos_e9"))
        .withColumn("outlier_ppm", expr("n_outliers * 1000000 DIV n_vectors"))
        .orderBy("cid")
    }),

    "q_sim_knn_quantized" -> ((s, d) => {
      // Asymmetric-distance kNN over the int8-quantized corpus (the ADC
      // scan): corpus vectors round-trip through their 0..255 codes
      // (reconstructed at bucket midpoints), the query stays full
      // precision. At 100 TB this is why q_emb_quantize exists — the scan
      // reads 1 byte/dim instead of 8 — and the shape is identical to
      // q_sim_knn: scalar-subquery query vector, map-side scoring, no
      // join node, TakeOrderedAndProject top-k. Parity: both engines run
      // the identical quantize→reconstruct→cosine double expression tree.
      val e = emb(s, d)
      val vmin = array_min(col("v"))
      val vmax = array_max(col("v"))
      val scale = (vmax - vmin) / lit(255.0)
      val codes = transform(col("v"), x =>
        when(vmax === vmin, lit(0L))
          .otherwise(least(floor((x - vmin) * (lit(255.0) / (vmax - vmin))),
                           lit(255L))))
      val recon = transform(codes, c =>
        vmin + (c.cast("double") + lit(0.5)) * scale)
      // the quantize→reconstruct lambdas run interpreted (HOFs don't
      // codegen), so spread the scan — the small fixture file reads as
      // ONE partition and would serialize ~all the query's CPU on one
      // core; fanOut is gated (identity once partitions ≥ parallelism,
      // i.e. at any real corpus size). Query vector as a literal (r18 —
      // the queryRow0 device).
      fanOut(e.filter(col("vec_id") =!= 0))
        .select(col("vec_id"), recon.as("rv"))
        .withColumn("qv", queryVec0(s, d))
        .select(col("vec_id"), floor9(cosine(col("rv"), col("qv"))).as("sim"))
        .orderBy(col("sim").desc, col("vec_id").asc)
        .limit(5)
    }),

    "q_sim_knn" -> ((s, d) => {
      // Brute-force top-5 cosine neighbours of vec 0: the query vector is
      // inlined as a scalar subquery (no join node of any kind), scoring
      // is map-side, TakeOrderedAndProject keeps the top-k.
      val e = emb(s, d)
      // the query vector inlines as a driver-resident literal (r18 — the
      // queryRow0 device; the subquery form executed one job per run to
      // inject the same values)
      e.filter(col("vec_id") =!= 0)
        .withColumn("qv", queryVec0(s, d))
        .select(col("vec_id"), floor9(cosine(col("v"), col("qv"))).as("sim"))
        .orderBy(col("sim").desc, col("vec_id").asc)
        .limit(5)
    }),

    "q_sim_knn_filtered" -> ((s, d) => {
      // FILTERED vector search — the vector-DB staple beside plain kNN:
      // top-5 cosine neighbours of vec 0 restricted to a metadata
      // predicate (label = vec 0's label — "find similar items in the
      // same category"). Pre-filtering beats post-filtering at any
      // scale: the predicate prunes BEFORE scoring (and pushes to the
      // scan), where post-filter top-k can return < k survivors. Same
      // shape as q_sim_knn otherwise: scalar-subquery query row (vector
      // AND label ride ONE subquery as a struct — no join node),
      // map-side scoring, TakeOrderedAndProject.
      val e = emb(s, d)
      // query vector AND label inline as driver-resident literals (r18 —
      // the queryRow0 device); the literal label predicate now actually
      // pushes to the scan, which the struct-subquery compare could not
      val (qv, ql) = queryRow0(s, d)
      e.filter(col("vec_id") =!= 0)
        .filter(col("label") === lit(ql))
        .select(col("vec_id"), col("label"),
          floor9(cosine(col("v"), lit(qv))).as("sim"))
        .orderBy(col("sim").desc, col("vec_id").asc)
        .limit(5)
    }),

    "q_emb_covariance" -> ((s, d) => {
      // Dimension-covariance audit — the embedding-STRUCTURE lens the
      // per-dim q_emb_dims stats don't cover: which dimension PAIRS
      // co-vary (redundant/entangled axes — the signal PCA/whitening
      // decisions read). Embeddings are milli-quantized (floor(x·1000) —
      // exact integers, same floor-parity device as q_emb_quantize), then
      // ONE typed Aggregator folds the corpus into an O(d²) co-moment
      // buffer ([[graft.functions.EmbCovAggregator]] — ~33 KB per
      // partition on the exchange, never a d²-per-row pair fan-out);
      // covariance numerators n·Σxy − Σx·Σy form in DECIMAL(38,0) and
      // the top-20 |cov| pairs surface with try_cast BIGINT output.
      import s.implicits._
      emb(s, d)
        .select(transform(col("v"), x => floor(x * 1000).cast("long")).as("q"))
        .as[Seq[Long]]
        .select(graft.functions.EmbCovAggregator.toColumn)
        .toDF("cells")
        .select(explode(col("cells")).as("c"))
        .select(col("c._1").cast("long").as("i"),
                col("c._2").cast("long").as("j"),
                col("c._3").as("n"),
                expr("cast(c._3 AS DECIMAL(38,0)) * c._6 - " +
                     "cast(c._4 AS DECIMAL(38,0)) * c._5").as("cov_d"))
        .orderBy(abs(col("cov_d")).desc, col("i"), col("j"))
        .limit(20)
        .select(col("i"), col("j"), col("n"),
                expr("try_cast(cov_d AS BIGINT)").as("cov_num"))
    }),

    "q_emb_project_trained" -> ((s, d) =>
      // The PRODUCTION half of q_emb_project's fixture-basis split
      // (VERDICT r13 #3): identical exact-integer map-side matmul, but
      // the basis is the TRAINED top-ProjK eigenbasis from
      // [[graft.api.Pca.fitBasis]] — one q_emb_covariance-shaped corpus
      // pass into O(d²) co-moments, then driver-side deterministic power
      // iteration with deflation (fixed init/iters/sign rule, the
      // KMeans.fit doctrine). no_oracle by design: a trained float
      // eigenbasis has no SQL mirror (DuckDB cannot re-run the
      // iteration); PcaSpec pins determinism, known-axis recovery,
      // variance ordering, and near-exact rank-k reconstruction, and the
      // fixture twin q_emb_project stays the hash-checked contract.
      embProjectTrained(emb(s, d), trainedPcaBasis(s, d))),

    "q_emb_project" -> ((s, d) =>
      // PCA-style projection onto a FIXTURE basis (VERDICT r12 #7) — the
      // REMEDY completing the embedding-health family q_emb_covariance
      // audits: once the covariance audit has flagged entangled axes, the
      // production step is projecting every vector onto k components. The
      // basis here is a deterministic milli-quantized integer fixture (an
      // affine permutation per (component, dim) — the fixture-weight
      // device; an offline-PCA eigenbasis is the data swap), embeddings
      // milli-quantize first (the q_emb_covariance floor device), so each
      // projection is an EXACT integer dot product — hash-green, no float
      // parity surface. Pure map-side matmul (4 aggregate folds per row,
      // zero shuffles before the presentation sort); at 100 TB this is
      // the linear scan it looks like.
      embProject(emb(s, d))),

    "q_sim_knn_projected" -> ((s, d) => {
      // Dimensionality-REDUCED retrieval — the production pairing of
      // the projection family with kNN (search the ProjK-dim projected
      // space instead of the Dim-dim original; the standard
      // PCA-then-ANN recipe): vectors project through the FIXTURE basis
      // (exact integers, so the whole query is hash-checked — the
      // trained basis is the data swap, per the q_sim_ivf_trained
      // split), the query row attaches as a scalar subquery (no join
      // node), scoring is a ProjK-term integer dot product evaluated
      // map-side in DECIMAL(38,0) (|p| is per-vector bounded, but the
      // envelope doctrine keeps every product in the decimal domain;
      // output re-enters BIGINT via try_cast), TakeOrderedAndProject
      // keeps the top-5. At 100 TB this is the same linear scan as
      // q_sim_knn at ProjK/Dim the bytes per row.
      val p = embProject(emb(s, d))
      val q = p.filter(col("vec_id") === 0)
        .select(struct(
          (0 until ProjK).map(k => col(s"p$k").as(s"q$k")): _*).as("q"))
      val dotD = (0 until ProjK).map(k =>
          expr(s"cast(p$k AS DECIMAL(38,0)) * q.q$k"))
        .reduce(_ + _)
      p.filter(col("vec_id") =!= 0)
        .withColumn("q", org.apache.spark.sql.GraftSqlBridge.scalarSubquery(q))
        .select(col("vec_id"), dotD.as("dot_d"))
        .orderBy(col("dot_d").desc, col("vec_id").asc)
        .limit(5)
        .select(col("vec_id"), expr("try_cast(dot_d AS BIGINT)").as("dot"))
    }),

    "q_sim_hybrid" -> ((s, d) => {
      // HYBRID retrieval with Reciprocal-Rank Fusion (public: Cormack et
      // al., SIGIR 2009) — the RAG-era staple that neither arm covers
      // alone: the lexical candidate list is q_text_bm25's top-20
      // verbatim (TextQueries.bm25 — ONE scoring definition), the vector
      // list is q_sim_knn's rule widened to k=20, and the fusion score
      // is rrf_e6 = Σ 1000000 DIV (60 + rank) over the lists containing
      // the doc — ranks and fusion are exact integers, so the cross-
      // engine compare is bit-stable even though one arm ranks floats
      // (the floor9 cosines themselves are parity-pinned already).
      // Shape at 100 TB: each arm is already a TakeOrderedAndProject
      // top-k (corpus-wide work happens inside the arms, which keep
      // their own scale stories); the fusion UNION-AGGREGATES two
      // ≤20-row lists — max() recovers each arm's rank with absent-arm
      // nulls preserved, exactly the full-outer-join semantics at ONE
      // exchange instead of two + a join stage (r14: the sim family's
      // in-sweep inflation tracks AQE stage count under ambient load,
      // so trivial stages are worth trimming even at 40 rows). The
      // single-partition rank windows only ever see those k rows.
      import org.apache.spark.sql.expressions.Window
      val lex = graft.operators.TextQueries.bm25(documents(s, d),
        graft.operators.TextQueries.tokenLayer(s, d))
        .select(col("doc_id"),
          row_number().over(
            Window.orderBy(col("score_e12").desc_nulls_last, col("doc_id")))
            .cast("long").as("r_lex"))
      val e = emb(s, d)
      val vec = e.filter(col("vec_id") =!= 0)
        .withColumn("qv", queryVec0(s, d))
        .select(col("vec_id"), floor9(cosine(col("v"), col("qv"))).as("sim"))
        .orderBy(col("sim").desc, col("vec_id").asc)
        .limit(20)
        .select(col("vec_id").as("doc_id"),
          row_number().over(Window.orderBy(col("sim").desc, col("vec_id")))
            .cast("long").as("r_vec"))
      lex.select(col("doc_id"), col("r_lex"),
          lit(null).cast("long").as("r_vec"))
        .unionByName(vec.select(col("doc_id"),
          lit(null).cast("long").as("r_lex"), col("r_vec")))
        .groupBy("doc_id")
        .agg(max("r_lex").as("r_lex"), max("r_vec").as("r_vec"))
        .select(col("doc_id"), col("r_lex"), col("r_vec"),
          (coalesce(expr("1000000 DIV (60 + r_lex)"), lit(0L)) +
           coalesce(expr("1000000 DIV (60 + r_vec)"), lit(0L)))
            .cast("long").as("rrf_e6"))
        .orderBy(col("rrf_e6").desc, col("doc_id"))
        .limit(20)
    }),

    "q_sim_knn_batch" -> ((s, d) => {
      // Batch kNN (similarity join): top-3 neighbours for EACH of 10 query
      // vectors in one plan — broadcast the query block, score map-side,
      // rank per query with a window. At scale this is the shape for
      // "embed a batch, retrieve for all of them at once".
      val e = emb(s, d)
      val qs = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("v").as("qv"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("q_id").orderBy(col("sim").desc, col("vec_id").asc)
      e.crossJoin(broadcast(qs))
        .filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id"),
                floor9(cosine(col("v"), col("qv"))).as("sim"))
        .withColumn("rnk", row_number().over(w).cast("long"))
        .filter(col("rnk") <= 3)
        .orderBy("q_id", "rnk")
    }),

    "q_sim_ann" -> ((s, d) => {
      // The full ANN similarity-JOIN shape (IvfOps.annTopK): top-3
      // approximate neighbours for each of 10 queries — corpus
      // multi-assigned 2-probe, queries 3-probe, candidate pairs deduped,
      // exact cosine on candidates only. The oracle mirrors the bucket
      // arithmetic exactly (fixture centroids = vec_id < 8 so it can).
      val e = emb(s, d).select("vec_id", "v")
      val qs = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("v").as("qv"))
      IvfOps.annTopK(e, "vec_id", "v", qs, "q_id", "qv",
          fixtureIvfBlock(s, d), k = 3)
        .select(col("q_id"), col("vec_id"), floor9(col("sim")).as("sim"),
                col("rnk"))
        .orderBy("q_id", "rnk")
    }),

    "s_ann_query" -> ((s, d) => {
      // STREAMING ANN retrieval — batch twin (see [[annServeRows]]):
      // every 10th vector plays the incoming query stream, answered
      // from the same corpus cellPack the semantic gate probes.
      // no_oracle by design (trained float model); contract =
      // StreamingSpec bit-equality + exact-match-at-rank-1 + recall pin
      // in KMeansIvfSpec.
      annServeRows(
        emb(s, d).filter(col("vec_id") % 10 === 0),
        trainedIvfCentroidSeq(s, d),
        semanticGateCorpusPack(s, d))
        .orderBy("q_id", "rnk")
    }),

    "s_semantic_gate" -> ((s, d) => {
      // STREAMING semantic dedup gate — batch twin (see
      // [[semanticGateRows]]): every 10th vector plays "today's crawl"
      // (the s_dedup_gate split), the rest are the corpus, packed per
      // trained IVF cell. no_oracle by design (trained float model) like
      // the other trained-model members; contract = StreamingSpec
      // bit-equality + exact-dup zero-FN + determinism.
      semanticGateRows(
        emb(s, d).filter(col("vec_id") % 10 === 0),
        trainedIvfCentroidSeq(s, d),
        semanticGateCorpusPack(s, d))
        .orderBy("vec_id")
    }),

    "q_sim_ivfpq" -> ((s, d) => {
      // The FIXTURE half of the IVFADC split (the q_sim_ivf/q_sim_pq
      // rule applied to their composition): coarse cells = the vec_id<8
      // fixture centroids, residual codebook = the vec_id<4 fixture
      // subvectors — so DuckDB replays the ENTIRE two-stage encode +
      // probed-cell ADC + exact re-rank arithmetic and the query is
      // HASH-CHECKED, while q_sim_ivfpq_trained swaps in the trained
      // models (a data swap, not a plan change). The ADC shortlist ranks
      // on floor9-QUANTIZED sims (ties → vec_id) so the 25-cut is
      // parity-exact across engines — raw-double ranking is bit-stable
      // only within one engine.
      val e = emb(s, d)
      val index = ivfpqIndex(s, d, trained = false)
      val q = e.filter(col("vec_id") === 0)
      // the query vector inlines as a literal (r18 — the queryRow0 device)
      val probes = IvfOps.assign(q, fixtureIvfBlock(s, d), nProbe = 2)
        .select(col("cid").as("probe_cid"))
      val shortlist = index
        .join(broadcast(probes), col("cid") === col("probe_cid"))
        .filter(col("vec_id") =!= 0)
        .withColumn("qv", queryVec0(s, d))
        .select(col("vec_id"), col("cid"), col("codes"),
                floor9(cosine(col("rvfull"), col("qv"))).as("adc_sim"))
        .orderBy(col("adc_sim").desc, col("vec_id").asc)
        .limit(IvfPqShortlist)
      e.join(broadcast(shortlist.select("vec_id", "cid", "codes")),
             Seq("vec_id"))
        .withColumn("qv", queryVec0(s, d))
        .select(col("vec_id"), col("cid"), col("codes"),
                floor9(cosine(col("v"), col("qv"))).as("sim"))
        .orderBy(col("sim").desc, col("vec_id").asc)
        .limit(5)
    }),

    "q_sim_ivfpq_trained" -> ((s, d) => {
      // COMPOSED IVF+PQ retrieval — IVFADC (Jégou, Douze & Schmid,
      // "Product Quantization for Nearest Neighbor Search", TPAMI 2011
      // §V), the production ANN recipe the family's pieces circle:
      // corpus rows coarse-assign to their trained IVF cell, the
      // RESIDUAL (v − centroid) PQ-encodes against a residual-trained
      // codebook ([[trainedIvfPqCodebook]]), and a query scores ONLY the
      // rows of its nProbe nearest cells — asymmetric distance in the
      // house cosine form: the stored reconstruction (centroid + decoded
      // residual) against the full-precision query vector.
      //
      // Then the IVFADC+R refinement (Jégou, Tavenard, Douze & Amsaleg,
      // ICASSP 2011): ADC ORDERS the probed rows and keeps a shortlist of
      // R=25; only those R rows re-rank by exact cosine against their
      // full-precision vectors. On near-isotropic corpora ADC alone
      // cannot separate cosine margins of a few hundredths — the
      // shortlist absorbs that noise while keeping the exact work O(R).
      //
      // Shape at 100 TB: encode is index-build cost (map-side assign +
      // broadcast centroid re-attach + scalar-subquery codebook — the
      // persisted-artifact layer in production, like shingle_sigs);
      // retrieval joins the 2-row broadcast probe list on the cell id
      // BEFORE any scoring, so the ADC-scored set is |probed cells|, not
      // the corpus, and the shortlist is a TakeOrdered over it. The
      // re-rank fetch is a 25-row broadcast semi-join back to the vector
      // table reading only (vec_id, v) — in production a point-lookup
      // against the id-indexed store. The 64-dim doubles never ship at
      // ADC time: storage per row is M·log2(k★)=64 bits of codes + a
      // cell id. no_oracle by design (two stacked trained float models;
      // DuckDB cannot re-run Lloyd's); contract = determinism + recall@5
      // vs exact q_sim_knn ≥ 0.8 (KMeansIvfSpec) + the probed-cell plan
      // pin (PlanSpec).
      val e = emb(s, d)
      val index = ivfpqIndex(s, d, trained = true)
        .select("vec_id", "cid", "rvfull")
      val q = e.filter(col("vec_id") === 0)
      // query vector as a literal (r18)
      val probes = IvfOps.assign(q, trainedIvfBlock(s, d), nProbe = 2)
        .select(col("cid").as("probe_cid"))
      val shortlist = index
        .join(broadcast(probes), col("cid") === col("probe_cid"))
        .filter(col("vec_id") =!= 0)
        .withColumn("qv", queryVec0(s, d))
        .select(col("vec_id"), col("cid"),
                cosine(col("rvfull"), col("qv")).as("adc_sim"))
        .orderBy(col("adc_sim").desc, col("vec_id").asc)
        .limit(IvfPqShortlist)
      e.join(broadcast(shortlist.select("vec_id", "cid")), Seq("vec_id"))
        .withColumn("qv", queryVec0(s, d))
        .select(col("vec_id"), col("cid"),
                floor9(cosine(col("v"), col("qv"))).as("sim"))
        .orderBy(col("sim").desc, col("vec_id").asc)
        .limit(5)
    }),

    "q_sim_ivf_trained" -> ((s, d) => {
      // The PRODUCTION half of the fixture-centroid split: q_sim_ivf/
      // q_sim_ann keep vec_id<8 centroids so DuckDB can mirror the bucket
      // arithmetic; this runs the identical annTopK path over centroids
      // from KMeans.fit — deterministic Lloyd's (fixed init and tie
      // rules), so the output is stable run-to-run. no_oracle by design:
      // a trained float model has no SQL mirror (DuckDB cannot re-run
      // Lloyd's); the recall gates against brute force live in
      // KMeansIvfSpec, and the fixture twin stays the hash-checked
      // contract. Shape is annTopK's: bucket-co-residency candidates
      // (id-only until re-attach), per-query top-k window.
      val e = emb(s, d)
      val qs = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("v").as("qv"))
      IvfOps.annTopK(e, "vec_id", "v", qs, "q_id", "qv",
          trainedIvfBlock(s, d), k = 3)
        .select(col("q_id"), col("rnk"), col("vec_id"),
                floor9(col("sim")).as("sim"))
        .orderBy("q_id", "rnk")
    }),

    "q_sim_ivf" -> ((s, d) => {
      // IVF probe: assign all vectors to nearest of 8 centroids; probe the
      // query's 2 nearest centroid buckets; exact top-5 within the probes.
      //
      // Assignment is MAP-SIDE: the k centroids collapse to a single-row
      // array (bounded model state, broadcastable at any corpus size) and
      // each vector takes its argmax in one projection — zero shuffles,
      // unlike the crossJoin + Window.partitionBy(vec_id) row_number form,
      // which shuffled the k×-expanded corpus just for a per-row argmax.
      val e = emb(s, d)
      val fx = fixtureIvfBlock(s, d)
      val assigned = IvfOps.assign(e, fx, nProbe = 1)
      // the query's 2 nearest centroids, exploded to rows for an equi-join
      val probes = IvfOps.assign(
        e.filter(col("vec_id") === 0), fx, nProbe = 2)
        .select(col("cid").as("probe_cid"))
      assigned
        .join(broadcast(probes), col("cid") === col("probe_cid"))
        .filter(col("vec_id") =!= 0)
        .withColumn("qv", queryVec0(s, d))
        .select(col("vec_id"), col("cid"),
                floor9(cosine(col("v"), col("qv"))).as("sim"))
        .orderBy(col("sim").desc, col("vec_id").asc)
        .limit(5)
    })
  )

  def oracles: Map[String, String] = Map(
    "q_sim_pq" -> {
      def dot16(a: String, b: String) =
        s"list_aggregate([$a[i] * $b[i] for i in range(1, ${PqSub + 1})], 'sum')"
      val sub = s"list_slice(e.v, cb.m*$PqSub + 1, cb.m*$PqSub + $PqSub)"
      val cos = duckCos("r.rv", "q.qv")
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |cb AS (
         |  SELECT m, vec_id AS j,
         |         list_slice(v, m*$PqSub + 1, m*$PqSub + $PqSub) AS cv
         |  FROM e, unnest([0, 1, 2, 3]) t(m) WHERE vec_id < 4),
         |a0 AS (
         |  SELECT e.vec_id, cb.m, cb.j, cb.cv,
         |         ${dot16(sub, sub)} + ${dot16("cb.cv", "cb.cv")}
         |           - 2 * ${dot16(sub, "cb.cv")} AS dist
         |  FROM e, cb WHERE e.vec_id <> 0),
         |asg AS (
         |  SELECT vec_id, m, j, cv,
         |         row_number() OVER (PARTITION BY vec_id, m
         |                            ORDER BY dist ASC, j ASC) AS rn
         |  FROM a0),
         |r AS (
         |  SELECT vec_id,
         |         array_to_string(list(j ORDER BY m), ',') AS codes,
         |         flatten(list(cv ORDER BY m)) AS rv
         |  FROM asg WHERE rn = 1 GROUP BY vec_id),
         |q AS (SELECT v AS qv FROM e WHERE vec_id = 0)
         |SELECT r.vec_id, r.codes, floor(($cos) * 1e9) / 1e9 AS sim
         |FROM r, q
         |ORDER BY sim DESC, vec_id ASC LIMIT 5""".stripMargin
    },

    "q_emb_centroid" ->
      s"""WITH e AS (SELECT label, embedding::DOUBLE[] AS v FROM embeddings),
         |u AS (SELECT label, i, CAST(floor(avg(v[i]) * 1e6) AS BIGINT) AS a
         |      FROM e, range(1, ${Dim + 1}) t(i) GROUP BY label, i)
         |SELECT label, array_to_string(list(a ORDER BY i), ',') AS centroid_e6,
         |       (SELECT count(*) FROM e e2 WHERE e2.label = u.label) AS n
         |FROM u GROUP BY label ORDER BY label""".stripMargin,

    "q_emb_quantize" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |m AS (SELECT vec_id, v, list_min(v) AS vmin, list_max(v) AS vmax FROM e),
        |c AS (SELECT vec_id, vmin, vmax,
        |             [CASE WHEN vmax = vmin THEN 0
        |                   ELSE CAST(least(floor((x - vmin) * (255.0 / (vmax - vmin))),
        |                                   255.0) AS BIGINT) END
        |              for x in v] AS codes
        |      FROM m)
        |SELECT vec_id,
        |       CAST(floor(vmin * 1e6) AS BIGINT) AS qmin_e6,
        |       CAST(floor(vmax * 1e6) AS BIGINT) AS qmax_e6,
        |       CAST(list_aggregate(codes, 'sum') AS BIGINT) AS code_sum
        |FROM c ORDER BY vec_id""".stripMargin,

    "q_emb_dims" ->
      """WITH x AS (
        |  SELECT t.i - 1 AS dim,
        |         CAST(floor(CAST(embedding[t.i] AS DOUBLE) * 1e6) AS BIGINT)
        |           AS q6
        |  FROM embeddings,
        |       unnest(generate_series(1, len(embedding))) AS t(i))
        |SELECT CAST(dim AS INTEGER) AS dim, count(*) AS n,
        |       CAST(sum(q6) AS BIGINT) AS sum_q6,
        |       CAST(sum(q6 * q6) AS BIGINT) AS sumsq_q12,
        |       CAST(sum(CASE WHEN q6 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_zero,
        |       min(q6) AS min_q6, max(q6) AS max_q6
        |FROM x GROUP BY dim ORDER BY dim""".stripMargin,

    "q_emb_norms" -> {
      val dot = duckDot("v", "v")
      s"""WITH e AS (SELECT embedding::DOUBLE[] AS v FROM embeddings),
         |n AS (SELECT CAST(floor(($dot) * 1e6) AS BIGINT) AS n2_e6 FROM e),
         |b AS (SELECT n2_e6,
         |             CASE WHEN n2_e6 = 0 THEN 0
         |                  WHEN n2_e6 < 500000 THEN 1
         |                  WHEN n2_e6 < 2000000 THEN 2
         |                  WHEN n2_e6 < 10000000 THEN 3
         |                  ELSE 4 END AS bucket
         |      FROM n)
         |SELECT CAST(bucket AS INTEGER) AS bucket, count(*) AS n,
         |       min(n2_e6) AS min_n2_e6, max(n2_e6) AS max_n2_e6
         |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin
    },

    "q_emb_drift" -> {
      val csim = duckCos("e.v", "c.cv")
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |cents AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
         |scored AS (
         |  SELECT e.vec_id, c.cid,
         |         row_number() OVER (PARTITION BY e.vec_id
         |                            ORDER BY $csim DESC, c.cid ASC) AS rn
         |  FROM e, cents c),
         |asg AS (SELECT cid, vec_id % 2 AS cohort FROM scored WHERE rn <= 1),
         |cells AS (SELECT cid, cohort, count(*) AS n
         |          FROM asg GROUP BY 1, 2),
         |tots AS (SELECT cohort, CAST(sum(n) AS BIGINT) AS t
         |         FROM cells GROUP BY cohort),
         |sh AS (SELECT cells.cid, cells.cohort, cells.n,
         |              CAST(cells.n * 1000000 // t AS BIGINT) AS share_ppm
         |       FROM cells JOIN tots USING (cohort))
         |SELECT cid,
         |       CAST(sum(CASE WHEN cohort = 0 THEN n END) AS BIGINT) AS n_a,
         |       CAST(sum(CASE WHEN cohort = 1 THEN n END) AS BIGINT) AS n_b,
         |       CAST(sum(CASE WHEN cohort = 0 THEN share_ppm END)
         |            AS BIGINT) AS share_a_ppm,
         |       CAST(sum(CASE WHEN cohort = 1 THEN share_ppm END)
         |            AS BIGINT) AS share_b_ppm,
         |       abs(coalesce(CAST(sum(CASE WHEN cohort = 0 THEN share_ppm END)
         |                         AS BIGINT), 0)
         |         - coalesce(CAST(sum(CASE WHEN cohort = 1 THEN share_ppm END)
         |                         AS BIGINT), 0)) AS drift_ppm
         |FROM sh GROUP BY cid ORDER BY cid""".stripMargin
    },

    "q_emb_outliers" -> {
      // q_dedup_semantic's 1-probe assignment mirror, keeping the winning
      // cosine, + the k-cell rollup with the inlined threshold
      val csim = duckCos("e.v", "c.cv")
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |cents AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
         |scored AS (
         |  SELECT e.vec_id, c.cid,
         |         CAST(floor(($csim) * 1e9) AS BIGINT) AS cos_e9,
         |         row_number() OVER (PARTITION BY e.vec_id
         |                            ORDER BY $csim DESC, c.cid ASC) AS rn
         |  FROM e, cents c),
         |asg AS (SELECT vec_id, cid, cos_e9 FROM scored WHERE rn <= 1)
         |SELECT cid, count(*) AS n_vectors,
         |       CAST(sum(CASE WHEN cos_e9 < $OutlierCosE9 THEN 1 ELSE 0 END)
         |            AS BIGINT) AS n_outliers,
         |       min(cos_e9) AS min_cos_e9,
         |       CAST(sum(CASE WHEN cos_e9 < $OutlierCosE9 THEN 1 ELSE 0 END)
         |            * 1000000 // count(*) AS BIGINT) AS outlier_ppm
         |FROM asg GROUP BY cid ORDER BY cid""".stripMargin
    },

    "q_sim_knn_quantized" -> {
      val cos = duckCos("r.rv", "q.qv")
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |m AS (SELECT vec_id, v, list_min(v) AS vmin, list_max(v) AS vmax FROM e),
         |r AS (SELECT vec_id,
         |             [CASE WHEN vmax = vmin THEN vmin
         |                   ELSE vmin + (CAST(least(floor((x - vmin) *
         |                            (255.0 / (vmax - vmin))), 255.0) AS BIGINT)
         |                          + 0.5) * ((vmax - vmin) / 255.0) END
         |              for x in v] AS rv
         |      FROM m),
         |q AS (SELECT v AS qv FROM e WHERE vec_id = 0)
         |SELECT r.vec_id, floor(($cos) * 1e9) / 1e9 AS sim
         |FROM r, q WHERE r.vec_id <> 0
         |ORDER BY sim DESC, vec_id ASC LIMIT 5""".stripMargin
    },

    "q_sim_knn" -> {
      val cos = duckCos("e.v", "q.qv")
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |q AS (SELECT v AS qv FROM e WHERE vec_id = 0)
         |SELECT e.vec_id, floor(($cos) * 1e9) / 1e9 AS sim
         |FROM e, q WHERE e.vec_id <> 0
         |ORDER BY sim DESC, vec_id ASC LIMIT 5""".stripMargin
    },

    "q_sim_knn_filtered" -> {
      val cos = duckCos("e.v", "q.qv")
      s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
         |           FROM embeddings),
         |q AS (SELECT v AS qv, label AS ql FROM e WHERE vec_id = 0)
         |SELECT e.vec_id, e.label, floor(($cos) * 1e9) / 1e9 AS sim
         |FROM e, q WHERE e.vec_id <> 0 AND e.label = q.ql
         |ORDER BY sim DESC, vec_id ASC LIMIT 5""".stripMargin
    },

    // the oracle replays the co-moment sums by crossing each vector with
    // the 2016 upper-triangle pairs — the d²-per-row fan-out the ENGINE
    // deliberately avoids (fine at oracle scale, wrong at 100 TB)
    "q_emb_covariance" ->
      s"""WITH e AS (
        |  SELECT [CAST(floor(x * 1000) AS BIGINT)
        |            for x in embedding::DOUBLE[]] AS q
        |  FROM embeddings),
        |p AS (SELECT t1.i, t2.j
        |      FROM range(0, $Dim) t1(i), range(0, $Dim) t2(j)
        |      WHERE t1.i < t2.j),
        |s AS (
        |  SELECT p.i, p.j, count(*) AS n,
        |         sum(e.q[p.i + 1] * e.q[p.j + 1]) AS sxy,
        |         sum(e.q[p.i + 1]) AS sxi, sum(e.q[p.j + 1]) AS sxj
        |  FROM e, p GROUP BY 1, 2)
        |SELECT CAST(i AS BIGINT) AS i, CAST(j AS BIGINT) AS j, n,
        |       TRY_CAST(CAST(n AS HUGEINT) * sxy - CAST(sxi AS HUGEINT) * sxj
        |                AS BIGINT) AS cov_num
        |FROM s
        |ORDER BY abs(CAST(n AS HUGEINT) * sxy - CAST(sxi AS HUGEINT) * sxj)
        |           DESC, i, j
        |LIMIT 20""".stripMargin,

    // the same milli-quantize + affine fixture basis, restated literally;
    // list comprehension over the dim range mirrors the aggregate fold
    "q_emb_project" -> {
      // Dim interpolates from the engine constant (r13 review: a
      // hardcoded 64 here would silently diverge the oracle if Dim moved)
      val ps = (0 until ProjK).map { k =>
        s"""       CAST(list_aggregate([q[i + 1] *
           |         ((($k * $Dim + i) * 2654435761) % 2001 - 1000)
           |         for i in range(0, $Dim)], 'sum') AS BIGINT) AS p$k"""
          .stripMargin
      }.mkString(",\n")
      s"""WITH e AS (
         |  SELECT vec_id, [CAST(floor(x * 1000) AS BIGINT)
         |                  for x in embedding::DOUBLE[]] AS q
         |  FROM embeddings)
         |SELECT vec_id,
         |$ps
         |FROM e ORDER BY vec_id""".stripMargin
    },

    // projections restated via the q_emb_project arms, then an exact
    // HUGEINT dot product in the reduced space — ordering on the exact
    // value, output TRY_CAST to the BIGINT contract like the engine
    "q_sim_knn_projected" -> {
      val ps = (0 until ProjK).map { k =>
        s"""       CAST(list_aggregate([q[i + 1] *
           |         ((($k * $Dim + i) * 2654435761) % 2001 - 1000)
           |         for i in range(0, $Dim)], 'sum') AS BIGINT) AS p$k"""
          .stripMargin
      }.mkString(",\n")
      val dot = (0 until ProjK).map(k =>
        s"CAST(prj.p$k AS HUGEINT) * qq.q$k").mkString(" + ")
      val qs = (0 until ProjK).map(k => s"p$k AS q$k").mkString(", ")
      s"""WITH e AS (
         |  SELECT vec_id, [CAST(floor(x * 1000) AS BIGINT)
         |                  for x in embedding::DOUBLE[]] AS q
         |  FROM embeddings),
         |prj AS (
         |  SELECT vec_id,
         |$ps
         |  FROM e),
         |qq AS (SELECT $qs FROM prj WHERE vec_id = 0)
         |SELECT vec_id, TRY_CAST($dot AS BIGINT) AS dot
         |FROM prj, qq WHERE vec_id <> 0
         |ORDER BY $dot DESC, vec_id LIMIT 5""".stripMargin
    },

    // lexical arm = TextQueries.DuckBm25Cte verbatim (one BM25 SQL
    // definition across oracles); vector arm = the q_sim_knn CTE at k=20;
    // ranks + fusion in exact integers mirroring the engine
    "q_sim_hybrid" -> {
      val cos = duckCos("e.v", "q.qv")
      s"""WITH ${graft.operators.TextQueries.DuckBm25Cte},
         |bm AS (
         |  SELECT doc_id, sum(idf_e6 * tfn_e6) AS s
         |  FROM sc GROUP BY 1
         |  ORDER BY s DESC, doc_id LIMIT 20),
         |lex AS (
         |  SELECT doc_id,
         |         CAST(row_number() OVER (
         |           ORDER BY TRY_CAST(s AS BIGINT) DESC NULLS LAST, doc_id)
         |           AS BIGINT) AS r_lex
         |  FROM bm),
         |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
         |kn AS (
         |  SELECT e.vec_id, floor(($cos) * 1e9) / 1e9 AS sim
         |  FROM e, q WHERE e.vec_id <> 0
         |  ORDER BY sim DESC, vec_id ASC LIMIT 20),
         |vc AS (
         |  SELECT vec_id AS doc_id,
         |         CAST(row_number() OVER (ORDER BY sim DESC, vec_id)
         |           AS BIGINT) AS r_vec
         |  FROM kn)
         |SELECT COALESCE(lex.doc_id, vc.doc_id) AS doc_id, r_lex, r_vec,
         |       CAST(COALESCE(1000000 // (60 + r_lex), 0)
         |          + COALESCE(1000000 // (60 + r_vec), 0) AS BIGINT) AS rrf_e6
         |FROM lex FULL JOIN vc ON lex.doc_id = vc.doc_id
         |ORDER BY rrf_e6 DESC, doc_id LIMIT 20""".stripMargin
    },

    "q_sim_knn_batch" -> {
      val cos = duckCos("e.v", "q.qv")
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 10),
         |scored AS (
         |  SELECT q.q_id, e.vec_id, floor(($cos) * 1e9) / 1e9 AS sim
         |  FROM e, q WHERE e.vec_id <> q.q_id)
         |SELECT q_id, vec_id, sim,
         |       CAST(row_number() OVER (PARTITION BY q_id
         |                               ORDER BY sim DESC, vec_id ASC) AS BIGINT) AS rnk
         |FROM scored
         |QUALIFY rnk <= 3
         |ORDER BY q_id, rnk""".stripMargin
    },

    "q_sim_ann" -> {
      val csim = duckCos("e.v", "c.cv")
      val cos = duckCos("a.v", "q.v")
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |cents AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
         |scored AS (
         |  SELECT e.vec_id, c.cid,
         |         row_number() OVER (PARTITION BY e.vec_id
         |                            ORDER BY $csim DESC, c.cid ASC) AS rn
         |  FROM e, cents c),
         |asg AS (SELECT vec_id, cid FROM scored WHERE rn <= 2),
         |qasg AS (SELECT vec_id AS q_id, cid FROM scored
         |         WHERE vec_id < 10 AND rn <= 3),
         |cand AS (SELECT DISTINCT q.q_id, a.vec_id
         |         FROM asg a JOIN qasg q ON a.cid = q.cid
         |         WHERE a.vec_id <> q.q_id),
         |ranked AS (
         |  SELECT c.q_id, c.vec_id, floor(($cos) * 1e9) / 1e9 AS sim,
         |         CAST(row_number() OVER (PARTITION BY c.q_id
         |              ORDER BY $cos DESC, c.vec_id ASC) AS BIGINT) AS rnk
         |  FROM cand c
         |  JOIN e a ON c.vec_id = a.vec_id
         |  JOIN e q ON c.q_id = q.vec_id)
         |SELECT q_id, vec_id, sim, rnk FROM ranked
         |WHERE rnk <= 3 ORDER BY q_id, rnk""".stripMargin
    },

    "q_sim_ivfpq" -> {
      // the full IVFADC replay: coarse assign → residual → fixture-PQ
      // encode of the residual → reconstruct (centroid + decoded
      // residual) → probed-cell ADC shortlist (floor9-quantized rank,
      // ties → vec_id) → exact re-rank of the shortlist
      def dot16(a: String, b: String) =
        s"list_aggregate([$a[i] * $b[i] for i in range(1, ${PqSub + 1})], 'sum')"
      val sub = s"list_slice(res.rv0, cb.m*$PqSub + 1, cb.m*$PqSub + $PqSub)"
      val csim = duckCos("e.v", "c.cv")
      val adcCos = duckCos("recon.rvfull", "q.qv")
      val exactCos = duckCos("e2.v", "q.qv")
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |cents AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
         |scored AS (
         |  SELECT e.vec_id, c.cid, e.v, $csim AS csim,
         |         row_number() OVER (PARTITION BY e.vec_id
         |                            ORDER BY $csim DESC, c.cid ASC) AS rn
         |  FROM e, cents c),
         |res AS (
         |  SELECT s.vec_id, s.cid, c.cv AS ccv,
         |         [s.v[i] - c.cv[i] for i in range(1, ${Dim + 1})] AS rv0
         |  FROM scored s JOIN cents c ON s.cid = c.cid WHERE s.rn = 1),
         |cb AS (
         |  SELECT m, vec_id AS j,
         |         list_slice(v, m*$PqSub + 1, m*$PqSub + $PqSub) AS cv
         |  FROM e, unnest([0, 1, 2, 3]) t(m) WHERE vec_id < 4),
         |a0 AS (
         |  SELECT res.vec_id, cb.m, cb.j, cb.cv,
         |         ${dot16(sub, sub)} + ${dot16("cb.cv", "cb.cv")}
         |           - 2 * ${dot16(sub, "cb.cv")} AS dist
         |  FROM res, cb),
         |asg AS (
         |  SELECT vec_id, m, j, cv,
         |         row_number() OVER (PARTITION BY vec_id, m
         |                            ORDER BY dist ASC, j ASC) AS rn
         |  FROM a0),
         |r AS (
         |  SELECT vec_id,
         |         array_to_string(list(j ORDER BY m), ',') AS codes,
         |         flatten(list(cv ORDER BY m)) AS rv
         |  FROM asg WHERE rn = 1 GROUP BY vec_id),
         |recon AS (
         |  SELECT r.vec_id, res.cid, r.codes,
         |         [res.ccv[i] + r.rv[i] for i in range(1, ${Dim + 1})] AS rvfull
         |  FROM r JOIN res ON r.vec_id = res.vec_id),
         |probes AS (SELECT cid AS probe_cid FROM scored
         |           WHERE vec_id = 0 AND rn <= 2),
         |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
         |short AS (
         |  SELECT recon.vec_id, recon.cid, recon.codes,
         |         floor(($adcCos) * 1e9) / 1e9 AS adc_sim
         |  FROM recon JOIN probes p ON recon.cid = p.probe_cid, q
         |  WHERE recon.vec_id <> 0
         |  ORDER BY adc_sim DESC, recon.vec_id ASC LIMIT $IvfPqShortlist)
         |SELECT s.vec_id, s.cid, s.codes,
         |       floor(($exactCos) * 1e9) / 1e9 AS sim
         |FROM short s JOIN e e2 ON s.vec_id = e2.vec_id, q
         |ORDER BY sim DESC, s.vec_id ASC LIMIT 5""".stripMargin
    },

    "q_sim_ivf" -> {
      val csim = duckCos("e.v", "c.cv")
      val qsim = duckCos("a.v", "q.qv")
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |cents AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
         |scored AS (
         |  SELECT e.vec_id, c.cid, e.v, $csim AS csim,
         |         row_number() OVER (PARTITION BY e.vec_id
         |                            ORDER BY $csim DESC, c.cid ASC) AS rn
         |  FROM e, cents c),
         |assigned AS (SELECT vec_id, cid, v FROM scored WHERE rn = 1),
         |probes AS (SELECT cid AS probe_cid FROM scored
         |           WHERE vec_id = 0 AND rn <= 2),
         |q AS (SELECT v AS qv FROM e WHERE vec_id = 0)
         |SELECT a.vec_id, a.cid, floor(($qsim) * 1e9) / 1e9 AS sim
         |FROM assigned a JOIN probes p ON a.cid = p.probe_cid, q
         |WHERE a.vec_id <> 0
         |ORDER BY sim DESC, vec_id ASC LIMIT 5""".stripMargin
    }
  )
}
