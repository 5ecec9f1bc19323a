package graft

/** Deferred-release queue behind the memoized-index eviction
  * (graft.queries, its one user). The non-obvious recipe:
  *
  *   - grace ≤ 0 releases immediately (the single-engine default);
  *     grace > 0 RETIRES the value and releases it only once the
  *     deadline passes, so in-flight queries on the old artifact
  *     finish (queries longer than the grace stay exposed by design —
  *     documented, bounded staleness).
  *   - entries are INSERTION-ordered, not deadline-ordered: the grace
  *     can change between retirements (or differ across sessions
  *     sharing the queue), so [[drain]] scans the whole (small) queue
  *     instead of stopping at the head.
  *   - `remove(e)` arbitrates concurrent drainers — only one caller
  *     wins each entry, so a release thunk never runs twice for one
  *     retirement.
  */
private[graft] final class RetireQueue[A](releaseFn: A => Unit) {
  private val q = new java.util.concurrent.ConcurrentLinkedQueue[(Long, A)]()

  def retireOrRelease(graceMs: Long, v: A): Unit =
    if (graceMs <= 0) releaseFn(v)
    else { q.add((System.currentTimeMillis() + graceMs, v)); () }

  def drain(): Unit = {
    val now = System.currentTimeMillis()
    val it = q.iterator()
    while (it.hasNext) {
      val e = it.next()
      if (e._1 <= now && q.remove(e)) releaseFn(e._2)
    }
  }
}
