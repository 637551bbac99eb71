package graft.vt

/** Bounded process-wide LRU with a hard entry cap — the one cache class
  * behind every per-JVM metadata cache: immutable sidecar artifacts
  * (manifests, resolved manifest lists, bloom indexes, decoded deletion
  * vectors, parquet footers) and version-checked entries such as the
  * Delta change feed's schema per table root. A long-lived driver that
  * touches many tables cannot grow any of them without bound.
  *
  * [[get]] runs the load OUTSIDE the lock: concurrent first-time loads of
  * DIFFERENT keys never serialize behind each other's IO, and a rare
  * duplicate load of the same immutable artifact is harmless (last put
  * wins with identical content). Access-ordered, so hot entries stay.
  * Every lookup counts as a hit or a miss ([[hits]], [[misses]]), so a
  * test can assert that a call loaded nothing. */
final class BoundedCache[K, V](max: Int) {
  require(max >= 1, s"cache cap must be >= 1, got $max")

  private val m = new java.util.LinkedHashMap[K, V](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[K, V]): Boolean =
      this.size() > max
  }
  private val hitCount = new java.util.concurrent.atomic.AtomicLong
  private val missCount = new java.util.concurrent.atomic.AtomicLong

  /** The cached value, or `load`'s result, which is then cached. */
  def get(key: K)(load: => V): V = peek(key).getOrElse {
    val loaded = load
    put(key, loaded)
    loaded
  }

  /** The cached value, if any (refreshes its recency). */
  def peek(key: K): Option[V] = {
    val hit = m.synchronized(Option(m.get(key)))
    (if (hit.isDefined) hitCount else missCount).incrementAndGet()
    hit
  }

  def put(key: K, value: V): Unit = m.synchronized { m.put(key, value); () }
  def size: Int = m.synchronized(m.size())
  def contains(key: K): Boolean = m.synchronized(m.containsKey(key))
  def hits: Long = hitCount.get()
  def misses: Long = missCount.get()
}
