package graft.util

import org.apache.spark.sql.DataFrame

/** Registry for operator-internal persisted frames (sketch/shingle tables
  * reused across self-join branches). Operators register via [[scoped]];
  * session drivers (Verify/Bench) call [[releaseAll]] between queries so a
  * long-lived session's storage memory stays bounded instead of
  * accumulating one cached frame per invocation. */
object Caches {
  private val frames = new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()

  /** Lazy: `persist()` only marks the plan, so building a query runs no job
    * and the first action that reads the frame fills the cache. */
  def scoped(df: DataFrame): DataFrame = {
    df.persist()
    frames.add(df)
    df
  }

  def releaseAll(): Unit = {
    var f = frames.poll()
    while (f != null) { f.unpersist(blocking = false); f = frames.poll() }
  }
}
