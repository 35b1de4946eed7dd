package graft

/** A process-wide memo of values derived from immutable inputs, bounded
  * to `maxEntries` by least-recently-used eviction and safe to share
  * between threads. The key must name everything the value depends on:
  * nothing here invalidates an entry, so a changed input has to arrive
  * under a new key. A value is computed outside the lock, so two threads
  * that miss on one key both compute it and the later store wins (equal
  * values, by the key's contract); a computation that throws stores
  * nothing. */
private[graft] final class BoundedMemo[K, V](maxEntries: Int) {
  require(maxEntries > 0, s"maxEntries=$maxEntries must be positive")

  private val entries = new java.util.LinkedHashMap[K, V](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[K, V]): Boolean =
      size() > maxEntries
  }

  def get(key: K): Option[V] = entries.synchronized(Option(entries.get(key)))

  def put(key: K, value: V): Unit = entries.synchronized(entries.put(key, value)): Unit

  def getOrCompute(key: K)(compute: => V): V =
    get(key).getOrElse { val v = compute; put(key, v); v }
}
