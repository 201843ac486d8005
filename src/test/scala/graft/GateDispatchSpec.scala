package graft

import org.apache.spark.sql.functions._
import graft.operators.SimilarityQueries

/** Pins the r19 streaming-gate k-dispatch (VERDICT r18 #1): past
  * IvfOps.StaticKMax the gates score centroids as DATA (one literal
  * array, a transform lambda) instead of k inline literal expressions —
  * the same cliff guard assignAuto gives the batch paths. The two forms
  * must emit IDENTICAL rows on both sides of the bound, for both gate
  * shapes (semantic gate and ANN serve).
  */
class GateDispatchSpec extends SparkSpec {

  private val dim = 8

  private def vec(seed: Int): Array[Double] =
    Array.tabulate(dim)(j => math.sin(seed * 37.0 + j * 1.7) + 0.01 * j)

  private lazy val corpus = {
    val rows = (0 until 80).map(i => (i.toLong, vec(i).toSeq))
    import spark.implicits._
    rows.toDF("vec_id", "v")
  }

  private def cents(k: Int): Seq[(Long, Array[Double])] =
    (0 until k).map(i => (i.toLong, vec(1000 + i * 13)))

  private def pack(k: Int) = {
    import spark.implicits._
    val cdf = cents(k).map { case (c, v) => (c, v.toSeq) }.toDF("cid", "cv")
    SimilarityQueries.semanticGateCellPack(corpus, cdf).cache()
  }

  private def rowsOf(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("semantic gate: literal ≡ block on both sides of StaticKMax") {
    for (k <- Seq(8, graft.api.IvfOps.StaticKMax + 4)) {
      val p = pack(k)
      val lit = SimilarityQueries.semanticGateRows(
        corpus, cents(k), p, forceBlock = Some(false))
      val blk = SimilarityQueries.semanticGateRows(
        corpus, cents(k), p, forceBlock = Some(true))
      assert(rowsOf(lit) == rowsOf(blk), s"k=$k diverged")
      // and the dispatch itself picks one of the two, identically
      val auto = SimilarityQueries.semanticGateRows(corpus, cents(k), p)
      assert(rowsOf(auto) == rowsOf(lit), s"k=$k dispatch diverged")
    }
  }

  test("ann serve: literal ≡ block on both sides of StaticKMax") {
    for (k <- Seq(8, graft.api.IvfOps.StaticKMax + 4)) {
      val p = pack(k)
      val lit = SimilarityQueries.annServeRows(
        corpus.limit(20), cents(k), p, k = 3, forceBlock = Some(false))
      val blk = SimilarityQueries.annServeRows(
        corpus.limit(20), cents(k), p, k = 3, forceBlock = Some(true))
      assert(rowsOf(lit) == rowsOf(blk), s"k=$k diverged")
    }
  }

  test("block form stays a pure projection (stream-safe: no join/subquery " +
       "beyond the two cell-pack probes)") {
    val p = pack(graft.api.IvfOps.StaticKMax + 4)
    val plan = SimilarityQueries.semanticGateRows(
      corpus, cents(graft.api.IvfOps.StaticKMax + 4), p)
      .queryExecution.executedPlan.toString
    // the gate's OWN pipeline (above the cached cell-pack boundary —
    // the pack's stored build lineage legitimately holds the
    // IvfOps.assign centroid-block subquery) must stay a pure
    // projection: no scalar subquery, no generator
    val own = plan.split("InMemoryRelation")(0)
    assert(!own.contains("Subquery"), own.take(2000))
    assert(!own.contains("Generate"), own.take(2000))
  }

  test("SPARK_GRAFT_STREAM_K is checked and named before the drill starts") {
    import graft.tools.StreamLatencyProbe.streamK
    val max = graft.api.IvfOps.StaticKMax
    assert(streamK(None).isEmpty)
    assert(streamK(Some(s" ${max + 4} ")) == Some(max + 4))
    Seq("twenty", "", "1e3", max.toString, "-5").foreach { v =>
      val e = intercept[IllegalArgumentException](streamK(Some(v)))
      assert(e.getMessage.contains("SPARK_GRAFT_STREAM_K"), e.getMessage)
    }
  }
}
