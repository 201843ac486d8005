package graft.api

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.expressions.VectorFunctions.{dot_product, nearest_centroids}

/** IVF (inverted-file) building blocks for similarity search and embedding
  * near-dup at scale.
  *
  * The centroid set is BOUNDED MODEL STATE (k × dim doubles, k ≪ corpus):
  * it collapses to ONE centroid block, an array of (cid, cv, cnrm)
  * structs, O(k·dim) at any corpus size. Assignment is then a pure
  * map-side projection — one codegen'd kernel (NearestCentroids) scores
  * all k centroids per vector — with ZERO shuffles, versus the naive
  * crossJoin(centroids) + Window.partitionBy(vec_id) row_number form that
  * shuffles a k×-expanded corpus just to reduce per-row.
  *
  * Cosine arithmetic is the engine's parity form — dot/(sqrt(|a|²)·sqrt(|b|²))
  * with the native left-to-right dot product, per-centroid norms
  * precomputed once in the block (bit-identical to inline evaluation).
  */
object IvfOps {

  /** A (cid, vec) centroid table as a centroid block: one uncorrelated
    * scalar subquery, evaluated once per query — no join node of any kind
    * in the consumer's plan. Sorted by cid (collect_list order is not).
    */
  def centroidBlock(cents: DataFrame, cidCol: String = "cid",
                    vecCol: String = "v"): Column =
    org.apache.spark.sql.GraftSqlBridge.scalarSubquery(
      cents.agg(sort_array(collect_list(struct(
        col(cidCol).as("cid"), col(vecCol).as("cv"),
        sqrt(dot_product(col(vecCol), col(vecCol))).as("cnrm"))))))

  /** DRIVER-RESIDENT centroids (a k-means model between iterations, a
    * memoized model) as a centroid block: one literal, so no subquery job
    * per query and a stream-safe plan; the task binary grows with k·dim.
    * cnrm sums left to right as [[centroidBlock]]'s does: same scores.
    */
  def centroidLiteral(cents: Seq[(Long, Array[Double])]): Column =
    typedlit(cents.map { case (cid, cv) =>
      (cid, cv.toSeq, math.sqrt(cv.foldLeft(0d)((a, x) => a + x * x)))
    })

  /** Map-side centroid assignment: every input row is emitted once per
    * probe (its `nProbe` nearest centroids in `block` by cosine, ties to
    * the lowest cid) with an added `cid` column, plus the probe's cosine
    * `csim` under `keepScore`. All input columns pass through. An EMPTY
    * block fails the query rather than bucket every row under a null cid.
    */
  def assign(vecs: DataFrame, block: Column, nProbe: Int,
             vecCol: String = "v", keepScore: Boolean = false): DataFrame = {
    val probed = vecs
      .withColumn("__p", explode(nearest_centroids(col(vecCol), block, nProbe)))
      .withColumn("cid", col("__p.cid"))
    (if (keepScore) probed.withColumn("csim", col("__p.csim")) else probed)
      .drop("__p")
  }

  /** Default per-bucket membership bound for [[bucketPairs]]: far above
    * any healthy bucket (k is grown with the corpus so buckets hold ~n/k
    * members), low enough that a degenerate centroid cannot concentrate
    * O(bucket²) pair generation and an O(bucket) aggregation row in one
    * task.
    */
  val BucketCap = 4096

  /** Pair-expansion BLOCK width (r17): a capped-but-degenerate bucket's
    * expansion used to land C(cap, 2) ≈ 8.4M pairs in ONE task — the
    * constant per-task ceiling the scale-stress run measured at 72.7 s
    * (records/scale_stress.json). Members now expand in rank-order
    * blocks of this width: a bucket of n members becomes
    * C(⌈n/B⌉ + 1, 2) compact block-pair rows that REPARTITION before the
    * quadratic work, so the worst task is C(B, 2) ≈ 131k pairs (~1 s)
    * and a degenerate bucket parallelizes across ~(cap/B)²/2 tasks. The
    * pair SET is unchanged (blocks are rank slices of the id-sorted
    * member list, so cross-block pairs are a<b by construction). */
  val PairBlock = 512

  /** All unordered (a < b) id pairs co-resident in a bucket, from ONE
    * aggregation: collect each bucket's sorted member ids, explode the
    * COMPACT (ga ≤ gb) block-pair index rows (each carrying one or two
    * ≤[[PairBlock]]-wide rank slices), repartition those rows on
    * (bucket, ga, gb), and expand map-side through two stacked
    * generators — versus a self-join on the bucket key, which evaluates
    * the assignment subtree twice and shuffles it twice. The one added
    * exchange ships id ARRAYS (block-pair rows), never pairs; the
    * quadratic expansion happens after it, spread across tasks (r17 —
    * the scale-stress finding above). The expansion stays single-branch
    * (the diagonal's suffix-slice vs the cross block's full list is a
    * `when` INSIDE the generator), because a branched plan would
    * reference the assignment subtree twice and higher-order-function
    * lambdas defeat ReuseExchange (the round-8 caveat).
    *
    * Membership is capped at `cap` members per bucket BEFORE the
    * aggregation (row_number over the bucket, ordered by id — deterministic,
    * and the ranking reuses the aggregation's own exchange so the guard
    * costs a sort, not a shuffle). The cap is the skew guard: nothing else
    * bounds a degenerate bucket, and an uncapped hot bucket means an
    * O(bucket)-sized aggregation row — the same hot-key failure DfCap
    * guards against for shingles. Members past the cap (by id order) drop
    * out of pair generation; buckets that large indicate the clustering,
    * not the pairing, needs fixing (grow k).
    */
  def bucketPairs(asg: DataFrame, bucketCol: String = "cid",
                  idCol: String = "vec_id",
                  cap: Int = BucketCap,
                  minMembers: Int = 1): DataFrame =
    blockedBucketPairs(asg, bucketCol, idCol, None, cap, minMembers)
      .select("a", "b")

  /** [[bucketPairs]] with a per-member PAYLOAD carried THROUGH the block
    * expansion: emits (a, b, pa, pb) with pa/pb the two members' payload
    * values (e.g. `struct(v, nrm)` for the exact-cosine verify), so the
    * verify is a map-side projection over the already-spread block-pair
    * partitions and the corpus never RE-JOINS onto the pair stream. The
    * re-join form shuffles the pair stream — the LARGEST relation in the
    * whole plan — by each endpoint, and AQE's bytes-based coalescing then
    * concentrates the compute-dense verify (two high-dim dot products per
    * tiny row) into few tasks: the scale-stress fixture measured a 46 s
    * single task there AFTER pair generation was block-spread. Carrying
    * the vectors costs bucket rows of cap × payload bytes (bounded model
    * of the layout: ~2 MB at cap 4096 × 64 doubles) and ships each
    * member's payload ~⌈n/B⌉/2 times in block-pair rows — data volume
    * comparable to the pair-stream shuffle it replaces, with the work
    * evenly spread by construction. Pair SET and any derived scores are
    * identical (same members, same order, same arithmetic).
    */
  def bucketPairsWithPayload(asg: DataFrame,
                             bucketCol: String, idCol: String,
                             payload: org.apache.spark.sql.Column,
                             cap: Int = BucketCap,
                             minMembers: Int = 1): DataFrame =
    blockedBucketPairs(asg, bucketCol, idCol, Some(payload), cap, minMembers)

  private def blockedBucketPairs(asg: DataFrame, bucketCol: String,
                                 idCol: String,
                                 payload: Option[org.apache.spark.sql.Column],
                                 cap: Int,
                                 minMembers: Int): DataFrame = {
    val byBucket = Window.partitionBy(bucketCol).orderBy(idCol)
    // member-level dedup AT THE CAP BOUNDARY, riding the cap's own
    // exchange+sort (a lag against the previous member id — no second
    // shuffle): a duplicate (bucket, id) row — a replayed artifact
    // append, a non-distinct caller — must neither eat cap slots, nor
    // inflate the minMembers count, nor emit an a==a "pair". The cap
    // and its oracle QUALIFY mirrors therefore rank over identical
    // DISTINCT member sets BY CONSTRUCTION, not by upstream uniqueness
    // claims (VERDICT r12 #6). Null-safe compare: a bucket's first row
    // with a NON-null id always survives (lag is null, null <=> id is
    // false); a first row whose id IS null matches the null lag and is
    // dropped — intentional, since a null id can neither pair nor be
    // deduped against, and the oracle QUALIFY mirrors skip it the same
    // way (r13 review: this comment previously claimed no first row is
    // ever dropped, which is wrong for the null-id case).
    val base = asg.select(
        Seq(col(bucketCol), col(idCol)) ++ payload.map(_.as("__pl")): _*)
      .withColumn("__dup", lag(col(idCol), 1).over(byBucket))
      .filter(!(col("__dup") <=> col(idCol)))
      .drop("__dup")
    // minMembers > 1 (an inverted index whose buckets are MOSTLY
    // singletons — the typo deletion index): a whole-partition window
    // count drops pairless buckets BEFORE the object-heavy collect_list,
    // riding the SAME exchange+sort as the row_number cap — one shuffle,
    // and the aggregation only ever sees buckets that can pair.
    val pre =
      if (minMembers <= 1) base
      else base
        .withColumn("__bc",
          count(lit(1)).over(Window.partitionBy(bucketCol)))
        .filter(col("__bc") >= minMembers)
        .drop("__bc")
    // member = the id alone, or (id, payload) as a struct whose FIRST
    // field is the id — ids are distinct per bucket after the dedup, so
    // sort_array orders members identically in both forms
    val member = payload match {
      case Some(_) => struct(col(idCol).as("__id"), col("__pl"))
      case None => struct(col(idCol).as("__id"))
    }
    val buckets = pre
      .withColumn("__brn", row_number().over(byBucket))
      .filter(col("__brn") <= cap)
      .groupBy(bucketCol)
      .agg(sort_array(collect_list(member)).as("__ids"))
    // block-pair rows: (ga ≤ gb) over the ⌈n/PairBlock⌉ rank slices —
    // tiny to PRODUCE (the quadratic work is after the repartition);
    // __bl is null on the diagonal (the suffix-slice case) so a healthy
    // single-block bucket ships its member list once, not twice
    val b = PairBlock
    val blockPairs = buckets
      .withColumn("__nb",
        ceil(size(col("__ids")) / lit(b.toDouble)).cast("int"))
      .select(col(bucketCol), col("__ids"), explode(expr(
        "flatten(transform(sequence(0, __nb - 1), ga -> " +
        "transform(sequence(ga, __nb - 1), gb -> " +
        "struct(ga AS ga, gb AS gb))))")).as("__g"))
      .select(col(bucketCol),
        col("__g.ga").as("__ga"), col("__g.gb").as("__gb"),
        slice(col("__ids"), col("__g.ga") * b + 1, lit(b)).as("__al"),
        when(col("__g.ga") =!= col("__g.gb"),
          slice(col("__ids"), col("__g.gb") * b + 1, lit(b))).as("__bl"))
    val expanded = blockPairs
      .repartition(col(bucketCol), col("__ga"), col("__gb"))
      .select(col("__al"), col("__bl"),
        posexplode(col("__al")).as(Seq("__i", "__x")))
      .select(col("__x"), explode(
        when(col("__bl").isNull,
          slice(col("__al"), col("__i") + 2, size(col("__al"))))
        .otherwise(col("__bl"))).as("__y"))
    payload match {
      case Some(_) => expanded.select(
        col("__x.__id").as("a"), col("__y.__id").as("b"),
        col("__x.__pl").as("pa"), col("__y.__pl").as("pb"))
      case None => expanded.select(
        col("__x.__id").as("a"), col("__y.__id").as("b"))
    }
  }

  /** Approximate top-k neighbours for a batch of queries over an IVF
    * index (centroids typically from [[KMeans.fit]], as a [[centroidBlock]]
    * or [[centroidLiteral]]): the corpus is multi-assigned to its
    * `corpusProbes` nearest buckets (boundary-vector remedy,
    * `corpusProbes`× index size), queries probe their `queryProbes`
    * nearest, candidate (query, vector) pairs are deduped (a pair sharing
    * several buckets must score once), and only candidates get the exact
    * cosine. Per-query cost is the probed buckets, not the corpus;
    * candidate volume is O(p²·n/k) per query, so k grows with the corpus
    * at scale.
    *
    * Returns (qIdCol, idCol, sim, rnk) with rnk ≤ k per query.
    */
  def annTopK(corpus: DataFrame, idCol: String, vecCol: String,
              queries: DataFrame, qIdCol: String, qVecCol: String,
              block: Column, k: Int,
              corpusProbes: Int = 2, queryProbes: Int = 3,
              excludeSelf: Boolean = true): DataFrame = {
    // candidate generation and pair-dedup carry ONLY the id pair — at
    // dim=64 each vector is ~0.5 KB, so keeping both vectors in the
    // bucket-join rows and the distinct's shuffle key would move ~1 KB of
    // pure overhead per candidate; the vectors re-attach by id afterwards
    val candIds = assign(corpus, block, corpusProbes, vecCol)
      .select(col("cid"), col(idCol))
      .join(assign(queries, block, queryProbes, qVecCol)
              .select(col("cid"), col(qIdCol)), Seq("cid"))
      // excludeSelf drops id-equal pairs — the QUERIES-ARE-CORPUS-ROWS
      // posture (every in-repo call site). Set it false when the query
      // table is an INDEPENDENT id space: there an id collision is a
      // coincidence, and the unconditional filter would silently drop a
      // legitimate neighbour (the minhashJoin id-space trap —
      // r18 self-review)
      .filter(if (excludeSelf) col(idCol) =!= col(qIdCol) else lit(true))
      .select(col(qIdCol), col(idCol))
      .distinct()
    // norms precompute ONCE PER ROW before the candidate joins (the
    // bucketPairsWithPayload (v, nrm) discipline): recomputing them per
    // candidate pair would triple the O(dim) kernels in exactly the
    // compute-dense verify stage — sqrt(dot(v,v))·sqrt(dot(q,q)) is the
    // same expression either way, so the scores are bit-identical
    // (r18 self-review)
    val cand = candIds
      .join(corpus.select(col(idCol), col(vecCol),
        sqrt(dot_product(col(vecCol), col(vecCol))).as("__cn")), Seq(idCol))
      .join(queries.select(col(qIdCol), col(qVecCol),
        sqrt(dot_product(col(qVecCol), col(qVecCol))).as("__qn")),
        Seq(qIdCol))
    val w = Window.partitionBy(qIdCol).orderBy(col("sim").desc, col(idCol).asc)
    cand
      // the assign() zero-norm guard applied to the exact re-rank: a
      // zero-norm vector's cosine is 0/0 — a DIVIDE_BY_ZERO *error*
      // under ANSI (it would kill the query), NaN otherwise (Spark
      // orders NaN ABOVE every double, so it would rank #1 for every
      // query probing its bucket). The when-guard skips the division on
      // a zero denominator and the nanvl belt stays for any other NaN;
      // -2 is below any cosine, so the degenerate vector ranks last
      // (r18 self-review)
      .withColumn("__nn", col("__cn") * col("__qn"))
      .select(col(qIdCol), col(idCol),
              nanvl(when(col("__nn") > 0,
                      dot_product(col(vecCol), col(qVecCol)) / col("__nn"))
                    .otherwise(lit(-2d)), lit(-2d)).as("sim"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
  }
}
