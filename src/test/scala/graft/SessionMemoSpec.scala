package graft

import graft.api.SessionMemo

/** The one session-cache idiom: residency, peek, release and the
  * companion's release-everything call, over plain values (no Spark
  * work — the sessions are only keys). Every test keys on fresh
  * sessions: a releaseAll of the shared spec session would drop other
  * suites' memos. */
class SessionMemoSpec extends SparkSpec {

  private final class Probe {
    val evicted = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    var builds = 0
    val memo = new SessionMemo[String](v => { evicted.add(v); () })
    def get(s: org.apache.spark.sql.SparkSession, g: String, v: String): String =
      memo.get(s, g, v) { builds += 1; s"$g/$v" }
    def evictions: List[String] = {
      import scala.jdk.CollectionConverters._
      evicted.asScala.toList.sorted
    }
  }

  test("peek neither builds nor evicts") {
    val spark = this.spark.newSession()
    val p = new Probe
    assert(p.get(spark, "g", "a") == "g/a")
    assert(p.memo.peek(spark, "g", "b").isEmpty)
    assert(p.memo.peek(spark, "g", "a").contains("g/a"))
    assert(p.builds == 1 && p.evictions.isEmpty)
    // a repeat get is a hit, not a build
    assert(p.get(spark, "g", "a") == "g/a" && p.builds == 1)
  }

  test("get evicts only the other variants of the same group") {
    val spark = this.spark.newSession()
    val p = new Probe
    p.get(spark, "g", "a")
    p.get(spark, "h", "a")
    p.get(spark, "g", "b")
    assert(p.evictions == List("g/a"))
    assert(p.memo.peek(spark, "g", "a").isEmpty)
    assert(p.memo.peek(spark, "g", "b").contains("g/b"))
    assert(p.memo.peek(spark, "h", "a").contains("h/a"))
  }

  test("releaseAll empties every memo for one session and leaves another's") {
    val spark = this.spark.newSession()
    val s2 = this.spark.newSession()
    val p1, p2 = new Probe
    for (p <- Seq(p1, p2); s <- Seq(spark, s2)) p.get(s, "g", "a")
    SessionMemo.releaseAll(spark)
    for (p <- Seq(p1, p2)) {
      assert(p.memo.peek(spark, "g", "a").isEmpty)
      assert(p.memo.peek(s2, "g", "a").contains("g/a"))
    }
    SessionMemo.releaseAll(s2)
    assert(p1.memo.peek(s2, "g", "a").isEmpty)
  }

  test("onEvict runs once for each entry it drops") {
    val spark = this.spark.newSession()
    val p = new Probe
    p.get(spark, "g", "a")
    p.get(spark, "g", "b") // evicts g/a
    p.get(spark, "h", "a")
    p.memo.release(spark)  // drops g/b and h/a
    p.memo.release(spark)  // nothing left: no second call
    assert(p.evictions == List("g/a", "g/b", "h/a"))
    // a group-scoped release touches only that group
    p.get(spark, "g", "c")
    p.get(spark, "h", "c")
    p.memo.release(spark, "g")
    assert(p.evictions == List("g/a", "g/b", "g/c", "h/a"))
    assert(p.memo.peek(spark, "h", "c").contains("h/c"))
  }
}
