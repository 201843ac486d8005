package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench record's per-CPU file name. */
class BenchSpec extends AnyFunSuite {

  test("cpuSlug: plain values keep their name, values that sanitize alike " +
       "get distinct slugs") {
    assert(Bench.cpuSlug("32") == "32")
    val slugs = Seq("8", "8 ", "8_", "8-", " 8").map(Bench.cpuSlug)
    assert(slugs.distinct.length == slugs.length, slugs)
    assert(slugs.forall(_.matches("[A-Za-z0-9_]+")), slugs)
    // deterministic: the same raw text always names the same file
    assert(Bench.cpuSlug("8 ") == Bench.cpuSlug("8 "))
  }
}
