package graft.sources

import graft.Trace

/** The engine's one driver-side metadata memo: schemas, footers, sidecar
  * stats rows, skip sets, row counts, log indexes and table snapshots.
  *
  * THE KEY IS THE INVALIDATION. Every caller keys its entry on an
  * immutable identity: an exact file set, the path of an immutable
  * parquet file, a sidecar's part-file names, a log version together
  * with the digest of its entry. A write by any process — this JVM or
  * another — changes the identity the next lookup computes, so the
  * lookup misses and recomputes; nothing is ever cleared by a writer.
  * An entry that is no longer reachable by its key just ages out.
  *
  * One synchronized access-ordered map, bounded by the total WEIGHT its
  * entries report (rows, files or paths — each roughly one small
  * object on the driver heap) against [[Budget]]. An entry heavier than
  * [[MaxEntry]] is computed and returned but not kept, so one huge
  * table cannot flush the others. Values are computed OUTSIDE the lock:
  * two threads missing the same key may both compute it, and the later
  * put wins — harmless, because both computed the same answer.
  *
  * Every lookup counts `<namespace>.hit` or `<namespace>.miss` through
  * [[Trace.count]], so a profiled query shows its metadata traffic. */
private[graft] object MetaStore {

  /** Total weight kept: about a million small objects, shared by every
    * namespace — what the sidecar-rows cache alone was allowed before
    * (64 entries of 16 384 rows). One entry may take an eighth of it, so
    * a stream's full tag window ([[TxnTable.tagLanded]], 100 000 tags)
    * still fits. */
  private[sources] val Budget = 1L << 20
  private[sources] val MaxEntry = Budget >> 3

  private final case class Entry(value: Any, weight: Long)

  private val entries =
    new java.util.LinkedHashMap[(String, Any), Entry](256, 0.75f, true)
  private var used = 0L

  def get[V](namespace: String, key: Any): Option[V] = {
    val e = entries.synchronized(entries.get((namespace, key)))
    Trace.count(namespace + (if (e == null) ".miss" else ".hit"))
    Option(e).map(_.value.asInstanceOf[V])
  }

  /** Keep `value` under `key`, replacing any previous entry (the log
    * indexes are extended this way), then evict least-recently-used
    * entries until the store is back within [[Budget]]. A value heavier
    * than [[MaxEntry]] is dropped and leaves the store as it was. */
  def put(namespace: String, key: Any, value: Any, weight: Long): Unit = {
    val w = math.max(1L, weight)
    if (w <= MaxEntry) entries.synchronized {
      val prev = entries.put((namespace, key), Entry(value, w))
      used += w - (if (prev == null) 0L else prev.weight)
      val it = entries.values().iterator()
      while (used > Budget && it.hasNext) {
        used -= it.next().weight
        it.remove()
      }
    }
  }

  /** The entry under `key`, computing and keeping it on a miss. A
    * `compute` that throws keeps nothing. */
  def memo[V](namespace: String, key: Any)(weigh: V => Long)(compute: => V): V =
    get[V](namespace, key).getOrElse {
      val v = compute
      put(namespace, key, v, weigh(v))
      v
    }
}
