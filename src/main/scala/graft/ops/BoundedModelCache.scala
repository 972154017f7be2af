package graft.ops

/** Bounded, access-ordered (LRU) build-once cache for trained model
  * artifacts (k-means centroids, PQ codebooks). Design points, each a
  * fix for a concrete hazard of a bare `ConcurrentHashMap
  * .computeIfAbsent`:
  *
  *  - capacity-bounded with LRU eviction: a canonicalized plan key
  *    retains its whole tree (and transitively file-index/relation
  *    objects); an unbounded map grows without limit in a long-lived
  *    session. Eviction only costs a deterministic re-train.
  *  - training runs OUTSIDE the lock: `computeIfAbsent` holds the bin
  *    lock for the entire multi-pass distributed training, blocking
  *    unrelated trainings that hash to the same bin. Here a concurrent
  *    miss on the same key may train twice, but the trainers are
  *    deterministic (pure functions of the input), so either result is
  *    identical and the first write wins.
  *
  * Reuse is keyed on plan-object equality of the CANONICALIZED logical
  * plan (Spark's own sameResult notion) — deliberately not a printed
  * fingerprint, which can collide across plans whose distinguishing
  * state (e.g. LocalRelation data) is not part of the rendering. The
  * build-once contract is the same as Q4112's dense/stats caches: a
  * canonicalized-equal plan over CHANGED underlying data returns the
  * stale model; callers that mutate data in place must `clear()`.
  */
private[graft] final class BoundedModelCache[K, V](capacity: Int) {
  require(capacity > 0)

  private val map = new java.util.LinkedHashMap[K, V](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[K, V]): Boolean = size() > capacity
  }

  def getOrElseTrain(key: K)(train: => V): V = {
    val hit = map.synchronized(map.get(key))
    if (hit != null) hit
    else {
      val trained = train // long-running; never under the lock
      map.synchronized {
        val raced = map.get(key)
        if (raced != null) raced
        else { map.put(key, trained); trained }
      }
    }
  }

  def clear(): Unit = map.synchronized(map.clear())
}
