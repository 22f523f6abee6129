package graft

import org.apache.spark.sql.SparkSession

/** Session-keyed memo with stopped-session purge, for [[Tables]]' readers
  * and the per-(session, SF dir) artifact memos (the near-dup edge table,
  * the rare-bigram inverted index, the BPE merge table). Each memoized
  * value strongly references its session (directly for DataFrames, via
  * closures otherwise), so weak keys alone cannot collect a dead
  * session's entries: a long-lived JVM cycling through sessions would pin
  * every one forever. Entries whose context is stopped are purged on the
  * next access — in OSS Spark `SparkSession.stop()` stops the context, so
  * `isStopped` IS the end-of-session signal. */
private[graft] final class SessionMemo[V] {
  // The value is a lazy holder inserted with the ATOMIC putIfAbsent, so
  // concurrent first-callers of one (session, key) agree on a single
  // holder and the expensive build body runs EXACTLY once (lazy-val
  // initialization is JVM-synchronized) — TrieMap.getOrElseUpdate alone
  // can evaluate the thunk twice under a race, leaking the losing
  // build's localCheckpoint blocks until GC (the round-12 ADVICE seam).
  private final class Holder(build: () => V) { lazy val value: V = build() }
  private val m =
    new scala.collection.concurrent.TrieMap[(SparkSession, String), Holder]

  def getOrElseUpdate(s: SparkSession, key: String)(build: => V): V = {
    m.keysIterator.filter(_._1.sparkContext.isStopped).toList.foreach(m.remove)
    val k = (s, key)
    val h = new Holder(() => build)
    (m.putIfAbsent(k, h) match {
      case Some(existing) => existing
      case None           => h
    }).value
  }

  /** Drop every entry of `s`. */
  def evict(s: SparkSession): Unit =
    m.keysIterator.filter(_._1 eq s).toList.foreach(m.remove)

  private[graft] def entriesFor(s: SparkSession): Int =
    m.keysIterator.count(_._1 eq s)
}
