package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.collection.mutable

/** Session-scoped registry of the relations one operator family persists,
  * so a long-lived service can reclaim them all with [[clear]] instead of
  * waiting on LRU pressure. One instance per family (dedup, graph):
  * clearing one family never touches another's blocks. `K` keys the
  * memoized builds within a session (e.g. the corpus dir). */
private[graft] final class PersistRegistry[K] {
  private val persisted = mutable.Map.empty[SparkSession, mutable.Buffer[DataFrame]]
  private val memos = mutable.Map.empty[(SparkSession, K), DataFrame]

  /** `df.persist()`, registered under its session for [[clear]]. */
  def persist(df: DataFrame): DataFrame = {
    val p = df.persist()
    persisted.synchronized {
      // registry entries for stopped sessions are unreachable garbage
      // (their blocks died with the context) — drop them here so a
      // create-use-stop session churn can't grow the map unboundedly
      persisted.filterInPlace((s, _) => !s.sparkContext.isStopped)
      persisted.getOrElseUpdate(p.sparkSession, mutable.Buffer.empty) += p
    }
    p
  }

  /** One persisted copy of `build` per (session, key), until [[clear]]. */
  def memo(s: SparkSession, key: K)(build: => DataFrame): DataFrame =
    memos.synchronized {
      // same stopped-session hygiene: memo entries for dead sessions pin
      // the session + its analyzed plan forever
      memos.filterInPlace { case ((sess, _), _) => !sess.sparkContext.isStopped }
      memos.getOrElseUpdate((s, key), persist(build))
    }

  /** Unpersist every relation registered for `session` and drop its memo
    * entries so the next call rebuilds; returns how many were unpersisted.
    * Lock order matches [[memo]] (memos → persisted), so a concurrent
    * memoization can never land an entry whose persist this call just
    * revoked. */
  def clear(session: SparkSession): Int = memos.synchronized {
    memos.filterInPlace { case ((s, _), _) => s != session }
    persisted.synchronized {
      persisted.remove(session)
        .map { dfs => dfs.foreach(_.unpersist()); dfs.size }
        .getOrElse(0)
    }
  }
}
