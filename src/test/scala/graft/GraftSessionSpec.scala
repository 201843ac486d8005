package graft

import org.scalatest.funsuite.AnyFunSuite

/** The environment knobs are read through one checked reader. */
class GraftSessionSpec extends AnyFunSuite {

  test("SPARK_GRAFT_CPUS must be a positive integer, and the error names it") {
    assert(GraftSession.knob("SPARK_GRAFT_CPUS", " 8 ") == 8)
    Seq("0", "-1", "abc", "").foreach { v =>
      val e = intercept[IllegalArgumentException](
        GraftSession.knob("SPARK_GRAFT_CPUS", v))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS"), e.getMessage)
    }
  }

  test("the other knobs share the reader: run counts stay in Int range, " +
       "seeds take any Long") {
    val e = intercept[IllegalArgumentException](
      GraftSession.knob("SPARK_GRAFT_BENCH_N", "3000000000"))
    assert(e.getMessage.contains("SPARK_GRAFT_BENCH_N"), e.getMessage)
    assert(GraftSession.knob("SPARK_GRAFT_LIFECYCLE_SEED", "-7",
      min = Long.MinValue, max = Long.MaxValue) == -7L)
  }
}
