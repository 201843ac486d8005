package graft.api

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Lloyd's k-means over an embedding column — the IVF centroid trainer.
  *
  * Deterministic in structure: initial centroids are the k rows with the
  * lowest ids, the iteration count is fixed, and assignment ties break to
  * the lowest centroid id (IvfOps). One caveat is inherent to distributed
  * floating point: the avg aggregation's partial sums merge in partition
  * order, so centroids can differ in the last ulp across runs with
  * different partitioning — a vector sitting exactly on a ulp boundary
  * between two centroids could flip. Bit-exact assignment given FIXED
  * centroids is still guaranteed (left-to-right dot-product sums in
  * IvfOps); bit-exact training across cluster layouts is not claimed.
  * Each iteration is:
  *
  *   1. map-side assignment of every vector to its nearest centroid
  *      (IvfOps.assign over the driver-resident centroids as a literal
  *      block — zero shuffles), then
  *   2. one groupBy(cid) with `dim` avg slots (map-side partial
  *      aggregation, a single shuffle of k×dim partial sums per task).
  *
  * The k×dim centroid matrix returns to the driver between iterations —
  * BOUNDED MODEL STATE, not corpus data (the same contract as MLlib's
  * k-means); the corpus itself is never collected. Per-iteration cost is
  * one linear pass, so the whole fit is O(iters · n · k · dim) flops and
  * iters shuffles of k rows.
  *
  * Cluster ids are 0..k-1 from the sorted init sample; a cluster that
  * loses all members drops out (its id disappears) rather than being
  * re-seeded, keeping the procedure deterministic.
  *
  * Returns a (cid: long, cv: array<double>) DataFrame for
  * [[IvfOps.centroidBlock]].
  */
object KMeans {

  def fit(vecs: DataFrame, idCol: String, vecCol: String,
          k: Int, iters: Int): DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._

    require(k >= 1, s"k must be >= 1, got $k")
    // every iteration re-reads the corpus — plus the init top-k scan —
    // and without a cache that is `iters + 1` full source scans (at
    // 100 TB, that many passes over the lake). Cache the two needed
    // columns for the duration of the fit and release on exit.
    val corpus = vecs.select(col(idCol), col(vecCol))
    val cached = iters >= 1
    if (cached) corpus.cache()
    try {
      var cents: Seq[(Long, Array[Double])] = corpus
        .orderBy(col(idCol)).limit(k)
        .select(col(vecCol)).collect()
        .zipWithIndex
        .map { case (r, i) => (i.toLong, r.getSeq[Double](0).toArray) }.toSeq
      require(cents.nonEmpty,
        "cannot fit k-means on an empty corpus (no vectors to initialize " +
        "centroids from — check upstream filters)")
      val dim = cents.head._2.length

      for (_ <- 1 to iters) {
        // centroids are already driver-resident → a literal block
        val assigned = IvfOps.assign(corpus, IvfOps.centroidLiteral(cents),
          nProbe = 1, vecCol)
        // centroid means accumulate in DECIMAL, not double: double
        // addition is non-associative and the final-aggregate merge order
        // of shuffle partials is arbitrary, so avg(double) can differ in
        // ULPs between runs of the SAME fit — enough to flip a
        // downstream floor/rank at a boundary. Decimal sums are exact
        // and order-independent (the Parity doctrine), making fit
        // deterministic under any partitioning; the double→decimal(30,15)
        // input rounding (1e-15 relative) is identical on every path.
        cents = assigned.groupBy("cid")
          .agg(array((0 until dim).map(i =>
            avg(col(vecCol).getItem(i).cast("decimal(30,15)"))
              .cast("double")): _*)
            .as("cv"))
          .orderBy("cid")
          .collect()
          .map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).toSeq
      }
      cents.toDF("cid", "cv")
    } finally if (cached) corpus.unpersist(blocking = true)
  }

  /** Product-quantization codebook training: an INDEPENDENT k-means per
    * subspace (the PQ training rule), but all `m` subspaces advance in
    * ONE Lloyd's loop — each iteration is a single corpus scan assigning
    * every (row, subspace) pair and ONE (m, cid) aggregation, versus `m`
    * separate [[fit]] calls paying `m × iters` scans. The subspace
    * trajectories never interact (assignment and means are per-m), so the
    * result is EXACTLY the union of the m independent fits — spec-pinned
    * (KMeansIvfSpec) — while the scan count drops m-fold: the difference
    * between 20 and 5 passes over a 100 TB lake for m=4.
    *
    * Same determinism contract as [[fit]]: init = the k lowest-id rows'
    * subvectors, cosine assignment with ties to the lowest cid, DECIMAL
    * mean accumulation (order-independent), dead clusters drop out.
    * Returns (m, j, cv) rows for [[graft.operators.SimilarityQueries]]'s
    * PQ encoder.
    */
  def fitSubspaces(vecs: DataFrame, idCol: String, vecCol: String,
                   m: Int, sub: Int, k: Int, iters: Int): DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._

    require(m >= 1 && sub >= 1 && k >= 1,
      s"invalid PQ geometry: m=$m sub=$sub k=$k")
    // the corpus exploded ONCE to (id, m, subvector) — the only
    // corpus-sized frame; cached for the duration like [[fit]]'s corpus
    val parts = vecs.select(col(idCol),
        explode(array((0 until m).map(i => struct(lit(i).as("m"),
          slice(col(vecCol), i * sub + 1, sub).as("v"))): _*)).as("p"))
      .select(col("p.m").as("m"), col("p.v").as("v"))
    val cached = iters >= 1
    if (cached) parts.cache()
    try {
      val initRows = vecs.orderBy(col(idCol)).limit(k)
        .select(col(vecCol)).collect().map(_.getSeq[Double](0).toArray)
      require(initRows.nonEmpty, "cannot fit on an empty corpus")
      // undersized vectors would slice to EMPTY subvectors past dim —
      // every centroid would score the -2 floor, all rows would tie to
      // cid 0, and the returned codebook would be silently degenerate;
      // a geometry mismatch is caller error and fails with its shape
      // (the CentroidAggregator convention — r18 self-review)
      require(initRows.forall(_.length >= m * sub),
        s"vector dim ${initRows.map(_.length).min} < m*sub = ${m * sub}: " +
        "the PQ subspace slices would be empty or truncated")
      // cents(i) = subspace i's (cid, centroid) model
      var cents: Seq[Seq[(Long, Array[Double])]] = (0 until m).map { i =>
        initRows.zipWithIndex.map { case (v, j) =>
          (j.toLong, v.slice(i * sub, i * sub + sub)) }.toSeq
      }
      for (_ <- 1 to iters) {
        // per row: THIS subspace's model, as one literal block per m
        // selected by a when-chain — one scan assigns every subspace
        val block = (0 until m).map(i =>
          when(col("m") === i, IvfOps.centroidLiteral(cents(i))))
          .reduceRight(_ otherwise _)
        val assigned = IvfOps.assign(parts, block, nProbe = 1)
        val next = assigned.groupBy("m", "cid")
          .agg(array((0 until sub).map(i =>
            avg(col("v").getItem(i).cast("decimal(30,15)"))
              .cast("double")): _*).as("cv"))
          .orderBy("m", "cid")
          .collect()
          .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Double](2).toArray))
        cents = (0 until m).map(i =>
          next.filter(_._1 == i).map(t => (t._2, t._3)).toSeq)
      }
      cents.zipWithIndex.flatMap { case (model, i) =>
        model.map { case (cid, cv) => (i, cid, cv) }
      }.toDF("m", "j", "cv")
    } finally if (cached) parts.unpersist(blocking = true)
  }
}
