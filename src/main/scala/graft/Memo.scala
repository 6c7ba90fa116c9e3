package graft

import scala.collection.concurrent.TrieMap

/** Per-session memoization of derived artifacts (base-table loads, any
  * dimension a query would otherwise re-derive on each invocation).
  *
  * Keys carry the owning `SparkSession` by reference: a cached DataFrame is
  * bound to the session that created it, so a second session in the same
  * application gets its own entry instead of a foreign session's plan
  * (which would throw at execution). Entries are plans, not data — Spark's
  * own persist() layer holds the bytes — so the map stays tiny.
  *
  * Lifetime note: entries are held strongly until `clear(session)`. A
  * host that stops sessions and starts new ones in the same JVM must
  * call it on each stop (the perfbench harness does); the one-shot
  * Verify/Bench drivers run one session and never need to.
  */
object Memo {
  private val cache = TrieMap.empty[(AnyRef, String), Any]

  /** Compute `mk` once per (owner, key) and replay it afterwards. */
  def apply[T](owner: AnyRef, key: String)(mk: => T): T =
    cache.getOrElseUpdate((owner, key), mk).asInstanceOf[T]

  /** Drop every entry owned by `owner` (call when a session stops). */
  def clear(owner: AnyRef): Unit =
    cache.keys.filter(_._1 eq owner).foreach(cache.remove)
}
