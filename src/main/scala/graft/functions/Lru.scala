package graft.functions

/** Small synchronized LRU for per-index-path sidecar caches (centroids,
  * PQ codebooks, FTS corpus stats) and the session conf broadcasts: each
  * entry is small, but a long-lived serving process touching many indexes
  * must not grow a per-key cache forever. Loads run outside the lock; a
  * racy duplicate load is harmless (last put wins — entries are pure
  * functions of the key plus a freshness key the caller validates).
  */
private[graft] final class Lru[K, V](cap: Int) {
  private val m = new java.util.LinkedHashMap[K, V](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[K, V]): Boolean =
      size() > cap
  }
  def get(k: K): Option[V] = m.synchronized(Option(m.get(k)))
  def put(k: K, v: V): Unit = m.synchronized { m.put(k, v); () }
  def getOrLoad(k: K)(load: => V): V =
    get(k).getOrElse { val v = load; put(k, v); v }
  def remove(k: K): Unit = m.synchronized { m.remove(k); () }
  def clear(): Unit = m.synchronized(m.clear())
}
