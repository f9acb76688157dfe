package graft.query

/** Bounded KEYED POOLS of prepared-plan template instances — the
  * concurrency discipline of the serving layer (round 9).
  *
  * A prepared template pairs a reusable physical plan with driver-side
  * reference cells ([[RefSetContains]] / [[RefVecCosine]]); executing
  * one is set-refs-then-collect, so an instance must be owned by ONE
  * caller for that window. The original servers enforced this with a
  * class-wide `synchronized` — correct, but one in-flight query per
  * server. This pool gives each concurrent caller its OWN instance:
  * borrow (or build — building costs one Catalyst pass, only under
  * contention or on first touch), use privately, return.
  *
  *  - per key (template shape: an IVF server's probed cell set and
  *    k…) at most `perKey` pooled instances; an over-returned
  *    instance is dropped to GC (`offer` on a full queue), so bursts
  *    don't grow the pool permanently;
  *  - at most `maxKeys` keys, LRU-evicted — the bound the previous
  *    LinkedHashMap caches enforced;
  *  - `clear()` drops everything (the refresh/staleness hammer).
  *
  * Borrow/return is lock-free ([[java.util.concurrent
  * .ArrayBlockingQueue]]); only key lookup takes a short map lock. */
private[query] final class TemplatePool[K, T](
    build: K => T, maxKeys: Int = 64, perKey: Int = 8) {

  private val pools = new java.util.LinkedHashMap[
      K, java.util.concurrent.ArrayBlockingQueue[T]](16, 0.75f, true) {
    override def removeEldestEntry(
        e: java.util.Map.Entry[
          K, java.util.concurrent.ArrayBlockingQueue[T]]): Boolean =
      size > maxKeys
  }

  private def queue(k: K): java.util.concurrent.ArrayBlockingQueue[T] =
    pools.synchronized {
      val hit = pools.get(k)
      if (hit != null) hit
      else {
        val q = new java.util.concurrent.ArrayBlockingQueue[T](perKey)
        pools.put(k, q)
        q
      }
    }

  /** Run `f` with an instance for `k` that no other thread holds.
    * `validate` gates reuse (e.g. store-version stamps): a pooled
    * instance failing it is discarded and rebuilt. */
  def withInstance[R](k: K, validate: T => Boolean = (_: T) => true)
                     (f: T => R): R = {
    val q = queue(k)
    var t = q.poll()
    if (t == null || !validate(t)) t = build(k)
    try f(t) finally { q.offer(t); () }
  }

  def clear(): Unit = pools.synchronized { pools.clear() }
}
