package graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.Dataset
import org.apache.spark.storage.StorageLevel

/** A function-local persist — the engine's one persistence helper:
  * persist MEMORY_AND_DISK, run `body`, unpersist in a `finally` (on
  * return and on a throw). Spark's CacheManager otherwise keeps a
  * persisted Dataset until `unpersist` or `clearCache()`. Contract:
  * `body` returns a driver value, or a frame that no longer reads the
  * persisted one (local or checkpointed) — a lazy plan over it would
  * silently recompute. */
object Scoped {

  def apply[T](frame: Dataset[_])(body: => T): T = {
    frame.persist(StorageLevel.MEMORY_AND_DISK)
    try body finally frame.unpersist(blocking = false)
  }

  def apply[T](rdd: RDD[_])(body: => T): T = {
    rdd.persist(StorageLevel.MEMORY_AND_DISK)
    try body finally rdd.unpersist(blocking = false)
  }
}
