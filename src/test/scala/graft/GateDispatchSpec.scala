package graft

import org.apache.spark.sql.functions._
import graft.operators.SimilarityQueries

/** Pins the streaming vector gates' probe step: the k centroids ship as
  * one literal block scored by the NearestCentroids kernel, so the gate
  * plans stay pure projections at any k, and a zero-norm vector on either
  * side of a probe scores the cosine floor instead of failing the
  * micro-batch with DIVIDE_BY_ZERO under ANSI.
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

  private def pack(k: Int, members: org.apache.spark.sql.DataFrame = corpus) = {
    import spark.implicits._
    val cdf = cents(k).map { case (c, v) => (c, v.toSeq) }.toDF("cid", "cv")
    SimilarityQueries.semanticGateCellPack(members, cdf).cache()
  }

  test("block form stays a pure projection (stream-safe: no join/subquery " +
       "beyond the two cell-pack probes)") {
    for (k <- Seq(8, 24)) {
      val plan = SimilarityQueries.semanticGateRows(corpus, cents(k), pack(k))
        .queryExecution.executedPlan.toString
      // the gate's OWN pipeline (above the cached cell-pack boundary —
      // the pack's stored build lineage legitimately holds the
      // IvfOps.assign centroid-block subquery) must stay a pure
      // projection: no scalar subquery, no generator
      val own = plan.split("InMemoryRelation")(0)
      assert(!own.contains("Subquery"), s"k=$k " + own.take(2000))
      assert(!own.contains("Generate"), s"k=$k " + own.take(2000))
    }
  }

  test("a zero-norm vector scores the floor in both gates: a zero query " +
       "gets no neighbour, a zero corpus member is never one") {
    import spark.implicits._
    val zero = Seq.fill(dim)(0d)
    val k = 8
    // a zero-norm QUERY row against the clean pack
    val q = Seq((500L, zero)).toDF("vec_id", "v")
    val clean = pack(k)
    val gate = SimilarityQueries.semanticGateRows(q, cents(k), clean)
      .select("vec_id", "nn_vec_id", "is_semdup").collect()
    assert(gate.length == 1 && gate(0).getLong(0) == 500L &&
      gate(0).isNullAt(1) && !gate(0).getBoolean(2), gate.toSeq)
    val ann = SimilarityQueries.annServeRows(q, cents(k), clean, k = 3)
      .select("q_id", "rnk", "vec_id", "sim_e9").collect()
    assert(ann.length == 1 && ann(0).getLong(0) == 500L &&
      (1 to 3).forall(ann(0).isNullAt), ann.toSeq)
    // a zero-norm corpus MEMBER in the pack, probed by real queries
    val zeroPack = pack(k, corpus.unionByName(Seq((999L, zero)).toDF("vec_id", "v")))
    val zeroCell = zeroPack.select(col("cid"), explode(col("members")).as("m"))
      .filter(col("m.vec_id") === 999L).select("cid").as[Long].collect()
    assert(zeroCell.length == 1)
    val probing = graft.api.IvfOps.assign(corpus,
        graft.api.IvfOps.centroidLiteral(cents(k)), nProbe = 2)
      .filter(col("cid") === zeroCell(0)).count()
    assert(probing > 0, "no query probes the zero member's cell")
    val gateZ = SimilarityQueries.semanticGateRows(corpus, cents(k), zeroPack)
      .collect()
    assert(gateZ.length == 80)
    assert(!gateZ.exists(r => !r.isNullAt(1) && r.getLong(1) == 999L))
    val annZ = SimilarityQueries.annServeRows(corpus, cents(k), zeroPack, k = 3)
      .collect()
    assert(annZ.nonEmpty)
    assert(!annZ.exists(r => !r.isNullAt(2) && r.getLong(2) == 999L))
  }

  test("SPARK_GRAFT_STREAM_K is checked and named before the drill starts") {
    import graft.tools.StreamLatencyProbe.streamK
    assert(streamK(None).isEmpty)
    assert(streamK(Some("16")) == Some(16))
    assert(streamK(Some(" 20 ")) == Some(20))
    Seq("0", "-5", "", "twenty", "1e3").foreach { v =>
      val e = intercept[IllegalArgumentException](streamK(Some(v)))
      assert(e.getMessage.contains("SPARK_GRAFT_STREAM_K"), e.getMessage)
    }
  }
}
