package graft

import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** Session-scoped bounded LRU for BUILT ARTIFACTS (fitted models, index
  * store prefixes/paths) — the shared implementation behind
  * `VectorQueries.ModelMemo` and `TextQueries.TextMemo`. Keys carry the
  * SparkContext identity, so a stale session can never serve another
  * session's artifact. Eviction UNPERSISTS an evicted DataFrame value
  * (OPTIMIZATION r15; ADVICE r14): Spark's CacheManager would otherwise
  * keep the evictee's cached blocks alive for the context lifetime —
  * dropping the map reference alone leaks the storage.
  *
  * Holds artifacts ONLY. Computed query RESULTS must not live here:
  * cross-query result memoization makes a benchmark entry time another
  * entry's cache instead of its own declared computation (VERDICT r14). */
private[graft] final class SessionLru(maxEntries: Int) {
  private val lru = new java.util.LinkedHashMap[String, AnyRef](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[String, AnyRef]): Boolean = {
      val evict = size() > maxEntries
      if (evict) e.getValue match {
        case d: org.apache.spark.sql.Dataset[_] => d.unpersist(); ()
        case _ => ()
      }
      evict
    }
  }

  private def ctx(s: SparkSession) = s"${System.identityHashCode(s.sparkContext)}/"

  /** The keys held for `s`'s context, as passed to [[get]]. */
  def keys(s: SparkSession): Seq[String] = lru.synchronized {
    val c = ctx(s)
    lru.keySet.asScala.toSeq.collect { case k if k.startsWith(c) => k.stripPrefix(c) }
  }

  def get[T <: AnyRef](s: SparkSession, key: String)(mk: => T): T =
    lru.synchronized {
      val k = ctx(s) + key
      val hit = lru.get(k)
      if (hit != null) hit.asInstanceOf[T]
      else { val v = mk; lru.put(k, v); v }
    }
}
