package graft.core

import org.apache.spark.sql.DataFrame

/** Session-scoped stats memo — the "cached stats row" a production
  * deployment reads from its table catalog instead of re-scanning the
  * corpus for a row count (r12 verdict nit #1: `ivfAdcTopK(nlist = 0)`
  * paid one counting pass per invocation to derive its ⌈√N⌉ cell
  * count; at 100-TB volume that is a real, if linear, per-call cost).
  *
  * Contract: the key must name the IMMUTABLE frame that was actually
  * counted (a testdata parquet dir + frame tag — the bench corpus
  * never mutates inside a session; a derived fixture keys under its
  * own tag, never its source table's, so first-caller-wins can never
  * hand one frame another frame's count). The first call per JVM per
  * key counts once; every later call — across queries sharing the
  * frame and across bench reps — reads the memo. Entries are never
  * dropped, so a key must never name a frame whose rows can change
  * within the JVM.
  */
object CorpusStats {

  private val cache = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  /** Memoized `df.count()` keyed by `key`. Compute-then-putIfAbsent
    * rather than computeIfAbsent: a Spark action must not run inside
    * the map's bin lock (a concurrent same-bin lookup would block for
    * the whole job, and re-entrancy would throw) — racing counts on an
    * immutable source are idempotent, so last-loser-discards is safe.
    */
  def rowCount(key: String, df: => DataFrame): Long = {
    val hit = cache.get(key)
    if (hit != null) hit.longValue()
    else {
      val n = java.lang.Long.valueOf(df.count())
      val prev = cache.putIfAbsent(key, n)
      (if (prev != null) prev else n).longValue()
    }
  }
}
