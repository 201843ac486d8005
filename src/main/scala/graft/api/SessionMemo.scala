package graft.api

import org.apache.spark.sql.SparkSession

/** The per-(session, dir) memo idiom, defined ONCE (r13 review: five
  * operator files had copy-pasted the same ConcurrentHashMap +
  * evict-other-dir + release loop with slight variations, so a fix to
  * the eviction semantics had five places to miss).
  *
  * Keys are (session, group, variant): `group` partitions independent
  * memo families sharing one map (a model KIND, or "" when the variant
  * alone — the fixture dir — is the key), and fetching one variant
  * EVICTS the same session+group's other variants first (the
  * one-dir-per-session residency policy: fixture dirs are immutable for
  * a session's lifetime, so a different dir means the cached layer is
  * dead weight, and bench warmup at sf0.001 must not pin sf0.1-sized
  * state). `onEvict` releases held resources (cached DataFrames
  * unpersist; plain model state needs nothing).
  *
  * Concurrency: evict-then-insert runs under a per-(session, group)
  * monitor, so the one-dir residency policy HOLDS under races — two
  * threads fetching different variants of the same group can no longer
  * interleave so both end up resident (r13 review flagged the lock-free
  * version). The cost is that concurrent BUILDS within one group
  * serialize (builds of different groups stay parallel) — acceptable
  * because a group's variants are alternative fixture dirs, and only
  * one dir is ever live per session outside the bench-warmup handoff.
  * A double-unpersist in onEvict remains a harmless no-op.
  *
  * Every instance registers with the companion, so
  * [[SessionMemo.releaseAll]] drops a session's entries from every memo
  * that exists — no hand-kept list of per-module release hooks to drift.
  */
final class SessionMemo[V <: AnyRef](onEvict: V => Unit = (_: V) => ()) {
  SessionMemo.all.add(this)

  private val m =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String, String), V]()
  private val locks =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), Object]()

  def get(s: SparkSession, group: String, variant: String)(build: => V): V = {
    import scala.jdk.CollectionConverters._
    while (true) {
      val lock = locks.computeIfAbsent((s, group), _ => new Object)
      lock.synchronized {
        // a concurrent release() may have pruned this lock between the
        // computeIfAbsent and the acquire; a later get() would then mint
        // a FRESH lock and run the evict-then-insert section in parallel
        // with us (ADVICE r14 — the r13 residency race in a narrow
        // window). Re-check we still hold the MAPPED lock; retry if not.
        if (locks.get((s, group)) eq lock) {
          m.keySet.asScala
            .filter(k => k._1 == s && k._2 == group && k._3 != variant)
            .toSeq.foreach(k => Option(m.remove(k)).foreach(onEvict))
          // plain get-then-put, NOT computeIfAbsent: the group monitor
          // already serializes every mutation of this (session, group),
          // and computeIfAbsent would run the minutes-long Spark build
          // holding the CHM *bin* lock — blocking unrelated groups that
          // hash to the same bin (defeating the "builds of different
          // groups stay parallel" guarantee) and forbidding a build
          // that reentrantly consults the same memo (r18 self-review)
          val key = (s, group, variant)
          val cur = m.get(key)
          if (cur != null) return cur
          val built = build
          m.put(key, built)
          return built
        }
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** The resident entry for (s, group, variant), if any — never builds
    * and never evicts (what a fill recorded, read without filling). */
  def peek(s: SparkSession, group: String, variant: String): Option[V] =
    Option(m.get((s, group, variant)))

  /** Drop every entry of `s` (optionally only `group`'s) — the
    * plan-inspection / artifact-round-trip escape hatch. Also prunes the
    * session's lock objects: the lock map strongly references its
    * SparkSession keys exactly like the memo map does, and an unpruned
    * lock entry would pin a stopped session (plans, conf, listeners) for
    * the JVM's lifetime (r14 review — the Tables.readers LRU exists for
    * the same hazard). */
  def release(s: SparkSession, group: String = null): Unit = {
    import scala.jdk.CollectionConverters._
    // evict and prune UNDER each (session, group)'s own monitor: a
    // holder inside get()'s critical section blocks the prune until it
    // leaves, and a get() that was parked on the pruned lock fails its
    // identity re-check and retries with a fresh one — so release can
    // never let two evict-then-insert sections run concurrently for one
    // group (r15 review: the lock-free prune reopened the r13 residency
    // race in the window between a holder's re-check and its insert).
    locks.entrySet.asScala
      .filter(e => e.getKey._1 == s && (group == null || e.getKey._2 == group))
      .toSeq.foreach { e =>
        val (key, lock) = (e.getKey, e.getValue)
        lock.synchronized {
          m.keySet.asScala
            .filter(k => k._1 == key._1 && k._2 == key._2)
            .toSeq.foreach(k => Option(m.remove(k)).foreach(onEvict))
          locks.remove(key, lock)
        }
      }
    // entries whose lock was never minted (or already pruned) still
    // evict — nobody can be inside get() for a lock that does not exist
    m.keySet.asScala
      .filter(k => k._1 == s && (group == null || k._2 == group) &&
                   !locks.containsKey((k._1, k._2)))
      .toSeq.foreach(k => Option(m.remove(k)).foreach(onEvict))
  }
}

object SessionMemo {
  // weak: a memo that is no longer reachable holds nothing to release
  private val all = java.util.Collections.synchronizedSet(
    java.util.Collections.newSetFromMap(
      new java.util.WeakHashMap[SessionMemo[_], java.lang.Boolean]()))

  /** [[SessionMemo.release]] of `s` on every memo constructed so far. A
    * module whose memos were never constructed (its object never
    * initialized) has no entries to release. */
  def releaseAll(s: SparkSession): Unit =
    all.toArray(new Array[SessionMemo[_]](0)).foreach(_.release(s))
}
