package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.SparkSession

/** The session-scoped memo: every build that outlives the call that made
  * it (resolved scans, router tables written once per fixture dir, trained
  * indexes, ground-truth dumps, catalog snapshots, primary-key maps) is
  * cached here, keyed on (session, key). The reference keeps one
  * per-table metadata cache (`DocTableInfo`) invalidated by cluster-state
  * changes; the rules here:
  *
  *  - Scoped to the session: no other session, `newSession()` included,
  *    sees an entry. Memoized DataFrames reference their session, so weak
  *    keys would never release them; instead a session's entries are
  *    dropped at the first access after its SparkContext stops.
  *  - The key names every input the build reads: the entry or facility,
  *    then the fixture dir, table path, version and parameters.
  *  - Directory surgery (DROP, RENAME, SWAP, vacuum) calls [[invalidate]]
  *    with a predicate on the moved path; it drops entries of every
  *    session.
  *
  * Concurrent callers of one key build once, and a failed build caches
  * nothing. Keys build independently, so a build may read other entries. */
object Memo {
  private final class Cell {
    private var built = false
    private var value: Any = _
    def get(build: => Any): Any = synchronized {
      if (!built) { value = build; built = true }
      value
    }
    def peek: Option[Any] = synchronized { if (built) Some(value) else None }
  }

  private val sessions =
    new ConcurrentHashMap[SparkSession, ConcurrentHashMap[String, Cell]]()

  private def evictStopped(): Unit =
    sessions.keySet.removeIf(_.sparkContext.isStopped)

  def apply[T](spark: SparkSession, key: String)(build: => T): T = {
    evictStopped()
    sessions.computeIfAbsent(spark, _ => new ConcurrentHashMap[String, Cell]())
      .computeIfAbsent(key, _ => new Cell).get(build).asInstanceOf[T]
  }

  /** The value built under `key`, if any: looks, never builds. */
  def peek[T](spark: SparkSession, key: String): Option[T] = {
    evictStopped()
    Option(sessions.get(spark)).flatMap(m => Option(m.get(key)))
      .flatMap(_.peek).map(_.asInstanceOf[T])
  }

  /** Drop every session's entries whose key matches `drop`. */
  def invalidate(drop: String => Boolean): Unit =
    sessions.values.forEach(_.keySet.removeIf(k => drop(k)))
}
