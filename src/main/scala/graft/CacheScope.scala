package graft

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.util.{ExecutionListenerManager, QueryExecutionListener}

/** Registry of QUERY-SCOPED caches (ADVICE r12 #1): the one-pass
  * discipline persists per-query tallies (posting tables, token tallies,
  * classifier features) that are only needed while their one composed
  * query materializes — but `persist` pins MEMORY_AND_DISK blocks for
  * the session lifetime, so a long-lived session (or a 3-pass bench
  * sweep over 210 queries) accumulates dead blocks without bound (disk
  * blocks are not LRU-evicted).
  *
  * Operators register such tallies here right after `persist`; the
  * harness (Verify between query dumps, Bench between timed runs) calls
  * [[releaseAll]] once the consuming action is done. MEMOIZED caches
  * shared ACROSS queries (the KG edge list, the minhash pair set, the
  * encoded KG) live in the memo tier, [[Assets.memo]], which has its own
  * session binding and byte budget; they are deliberately NOT registered
  * here — releasing those would undo the family memoization.
  *
  * Outside the harness nothing calls releaseAll, so the registry is
  * SELF-LIMITING (ADVICE r13): past [[MaxLive]] entries, [[register]]
  * drains the oldest — per-query registration counts are single-digit,
  * so anything that old belongs to a long-finished query, and an early
  * release is never wrong (unpersist → the plan recomputes), only
  * suboptimal. Without the cap a long-lived ad-hoc session retained a
  * strong reference (Dataset + full logical plan) per query forever.
  *
  * [[registerListener]] is the same backstop for the one-shot
  * QueryExecutionListeners the operators attach for action-keyed release
  * (`SimilaritySearch.unpersistAfterFirstAction` /
  * `unpersistAfterActionOn`): a listener whose query is only ever
  * PLANNED never fires and never unregisters, and each leaked listener
  * re-checks every subsequent action's analyzed plan (ADVICE r13).
  * releaseAll unregisters them; a listener that already fired and
  * self-unregistered is skipped harmlessly.
  *
  * Releasing is idempotent and never eager: [[releaseAll]] only runs
  * between queries, so harness drains can never strike mid-plan the way
  * a mistimed listener release can. (The cap drain CAN strike mid-query
  * if one query registers more than [[MaxLive]] caches — observed max is
  * ~12, and an early release is recompute-correct, only suboptimal.)
  */
object CacheScope {
  /** Max retained entries outside harness drains — far above any single
    * query's registration count (observed max ~12), far below a leak. */
  private val MaxLive = 64

  private val live =
    new java.util.concurrent.ConcurrentLinkedQueue[Dataset[_]]
  private val liveListeners = new java.util.concurrent.ConcurrentLinkedQueue[
    (ExecutionListenerManager, QueryExecutionListener)]

  /** Register a query-scoped cached Dataset; returns it unchanged. */
  def register[T](ds: Dataset[T]): Dataset[T] = {
    live.add(ds)
    while (live.size > MaxLive) {
      val old = live.poll()
      if (old != null)
        try old.unpersist(blocking = false) catch { case _: Throwable => () }
    }
    ds
  }

  /** Track an operator's one-shot release listener so a plan-only
    * construction (whose action never runs) cannot leak it. */
  def registerListener(lm: ExecutionListenerManager,
      l: QueryExecutionListener): Unit = {
    liveListeners.add((lm, l))
    while (liveListeners.size > MaxLive) {
      val old = liveListeners.poll()
      if (old != null)
        try old._1.unregister(old._2) catch { case _: Throwable => () }
    }
  }

  /** Unpersist (non-blocking) and forget every registered cache, and
    * unregister every tracked release listener (no-op for listeners
    * that already fired and removed themselves). */
  def releaseAll(): Unit = {
    var d = live.poll()
    while (d != null) {
      try d.unpersist(blocking = false) catch { case _: Throwable => () }
      d = live.poll()
    }
    var l = liveListeners.poll()
    while (l != null) {
      try l._1.unregister(l._2) catch { case _: Throwable => () }
      l = liveListeners.poll()
    }
  }
}
