package graft

import org.apache.spark.sql.SparkSession

/** JVM-global memo for SESSION-BOUND values (checkpointed DataFrames,
  * index frames): the key always includes the owning session's UUID —
  * a localCheckpoint'd frame is backed by blocks of the session that
  * computed it, so a later or different session must recompute, never
  * receive a frame whose blocks may be gone.
  *
  * The compute runs OUTSIDE the map lock (`computeIfAbsent` would hold
  * the bin lock across a full Spark job, serializing unrelated callers
  * that hash to the same bin); a concurrent duplicate compute is benign
  * — `putIfAbsent` keeps the first, both values are valid.
  *
  * EVICTION: each owning session is tracked by a WeakReference; every
  * insert sweeps sessions that are dead (context stopped) or no longer
  * reachable (ref cleared by GC) and drops all their entries. A
  * long-lived multi-session deployment (Thrift / Connect server) thus
  * holds entries only for live sessions — the one-session bench JVM
  * behaves exactly as before (its session never evicts while running).
  * The sweep is O(sessions + stale entries), amortized over inserts,
  * and never touches the hit path.
  */
final class SessionMemo[V <: AnyRef] {
  private val m = new java.util.concurrent.ConcurrentHashMap[String, V]()
  private[graft] val owners =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.ref.WeakReference[SparkSession]]()
  SessionMemo.register(this)

  def getOrCompute(spark: SparkSession, key: String)(body: => V): V = {
    val sid = org.apache.spark.sql.graft.ColumnBridge.sessionUUID(spark)
    val full = s"$sid|$key"
    val hit = m.get(full)
    if (hit != null) hit
    else {
      evictStale()
      owners.putIfAbsent(sid, new java.lang.ref.WeakReference(spark))
      val computed = body
      val prev = m.putIfAbsent(full, computed)
      // a concurrent evictStale may have swept this session's owner
      // record between our registration and the value insert (the
      // compute can run for minutes): without an owner, the entry would
      // never be evicted — re-register while the session lives, or drop
      // the entry we just published if it died mid-compute
      if (!owners.containsKey(sid)) {
        if (spark.sparkContext.isStopped) m.remove(full)
        else owners.putIfAbsent(sid, new java.lang.ref.WeakReference(spark))
      }
      if (prev != null) prev else computed
    }
  }

  /** Drop every entry owned by a session that is stopped or GC'd.
    * Values are plain references (checkpoint blocks are owned by the
    * frames' RDDs and reclaimed by the ContextCleaner once unreferenced)
    * — removal from the map is all eviction needs to do. */
  private[graft] def evictStale(): Unit = {
    val it = owners.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val s = e.getValue.get()
      if (s == null || s.sparkContext.isStopped) {
        // owner record FIRST, entries second (round-17 review): with the
        // old entry-sweep-then-owner order, a getOrCompute finishing its
        // long compute between the two steps could see the owner still
        // present, skip its re-registration, and then lose the owner —
        // leaving its freshly published entry permanently unevictable.
        // With this order the worst interleave is a SPURIOUS eviction of
        // a just-published live entry (the next call recomputes), never
        // a leak.
        it.remove()
        val prefix = e.getKey + "|"
        val keys = m.keySet().iterator()
        while (keys.hasNext) if (keys.next().startsWith(prefix)) keys.remove()
      }
    }
  }

  /** Drop every entry owned by `spark` (test hook: determinism specs
    * need the next getOrCompute to REBUILD, not replay the memo). */
  private[graft] def clearSession(spark: SparkSession): Unit = {
    val prefix = org.apache.spark.sql.graft.ColumnBridge.sessionUUID(spark) + "|"
    val keys = m.keySet().iterator()
    while (keys.hasNext) if (keys.next().startsWith(prefix)) keys.remove()
  }

  private[graft] def size: Int = m.size()
}

/** Registry of every live SessionMemo instance (they are all singletons
  * inside operator objects, so the registry's size is the fixed count of
  * memo declarations, never data-dependent). Exists for the timing
  * loops: `Bench` drops a session's memoized intermediates between
  * sweeps so that every sweep pays each build exactly once and the
  * per-query min is a reproducible standalone cost — the round-21
  * verdict's de-gamed accounting (its item 1) — and perfbench starts
  * each pass memo-cold the same way. Verify/production paths never
  * clear: a long-lived engine legitimately serves memo-warm. */
object SessionMemo {
  private val registry =
    new java.util.concurrent.ConcurrentLinkedQueue[SessionMemo[_ <: AnyRef]]()

  private def register(m: SessionMemo[_ <: AnyRef]): Unit = registry.add(m)

  /** Drop every memoized entry owned by `spark` in every SessionMemo
    * instance, plus the one non-SessionMemo layout memo
    * ([[graft.operators.Scale]]'s bucketed-join write marker). */
  private[graft] def clearAllForSession(spark: SparkSession): Unit = {
    val it = registry.iterator()
    while (it.hasNext) it.next().clearSession(spark)
    graft.operators.Scale.resetBucketedLayoutMemo(spark)
  }
}
