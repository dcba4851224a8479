package graft.spark.ops

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session-scoped memo for the costly intermediates that the dedup,
  * similarity and curation operators share: shingles, positional grams,
  * postings, pair lists, cluster ids and the IVF codebook. One instance
  * per intermediate; each owns the whole memo contract:
  *
  *  - Key: (session, `key`), where `key` is the input's ANALYZED plan
  *    semantic hash plus the operator's parameters. The memo keys on the
  *    PLAN, not the data: if the files under a memoized plan are
  *    overwritten in place within one session, call the owning clear
  *    hook first (`DedupOps.clearShingleCache` clears every text-derived
  *    memo).
  *  - Bound: an access-ordered LRU of [[SessionMemo.MaxEntries]] entries.
  *    Entries of stopped sessions are dropped on every lookup, so they do
  *    not pin a dead session's plans until eviction reaches them.
  *  - Release: eviction and [[clear]] call `release` and nothing else.
  *    For DataFrames that is `Dataset.unpersist()`, so a handle a caller
  *    still holds stays readable: a persisted result recomputes from its
  *    lineage, and a checkpointed one keeps its blocks until no DataFrame
  *    references its RDD (Spark's ContextCleaner frees them then).
  *  - Cascade: [[clear]] also clears every dependent memo, so a stale view
  *    never feeds a derived one.
  *
  * `build` runs under this memo's lock. A build may look up another memo
  * (pairs -> shingles); lookups never go the other way, so locks are
  * always taken in one order.
  */
private[graft] final class SessionMemo[V <: AnyRef](
    release: V => Unit, dependents: SessionMemo[_ <: AnyRef]*) {

  private val entries =
    new java.util.LinkedHashMap[(SparkSession, Any), V](8, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[(SparkSession, Any), V]): Boolean = {
        val evict = size() > SessionMemo.MaxEntries
        // releasing a dead session's entry may throw; it must never fail
        // a live session's lookup
        if (evict) scala.util.Try(release(e.getValue))
        evict
      }
    }

  def getOrBuild(session: SparkSession, key: Any)(build: => V): V = synchronized {
    entries.entrySet().removeIf(e => e.getKey._1.sparkContext.isStopped)
    val k = (session, key)
    val hit = entries.get(k)
    if (hit != null) hit
    else {
      val v = build
      entries.put(k, v)
      v
    }
  }

  def clear(): Unit = {
    synchronized {
      entries.values.forEach(v => scala.util.Try(release(v)))
      entries.clear()
    }
    dependents.foreach(_.clear())
  }
}

private[graft] object SessionMemo {

  /** Entries each memo keeps. */
  val MaxEntries = 4

  /** A memo of DataFrames, released with `unpersist()`. */
  def frames(dependents: SessionMemo[_ <: AnyRef]*): SessionMemo[DataFrame] =
    new SessionMemo[DataFrame](_.unpersist(), dependents: _*)
}
