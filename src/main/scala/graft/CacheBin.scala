package graft

import org.apache.spark.sql.Dataset
import scala.collection.mutable

/** Registry for operator-internal persisted Datasets.
  *
  * Several operators persist an intermediate that two downstream branches
  * read (minhash band rows, move_address resolved rows): without the persist
  * the dominant upstream computation runs twice, but the operator cannot
  * unpersist before its lazy result is consumed. Each such persist registers
  * here; the session driver (Bench / Verify between queries, a pipeline at
  * stage end) calls [[drain]] after its terminal action so long-running
  * sessions do not accumulate cached blocks until eviction pressure.
  */
object CacheBin {
  private val held = mutable.ArrayBuffer.empty[Dataset[_]]

  /** Persist `ds` at the given level and register the handle. */
  def persist[T](ds: Dataset[T],
      level: org.apache.spark.storage.StorageLevel =
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK): Dataset[T] =
    synchronized {
      val p = ds.persist(level)
      held += p
      p
    }

  /** Unpersist every registered handle. Non-blocking by default; pass
    * blocking = true when the caller is about to MEASURE memory (e.g.
    * the pipeline sweep's driver-heap probe) so async block-manager cleanup
    * can't pollute the reading. Handles whose SparkContext has already
    * stopped are simply dropped. */
  def drain(blocking: Boolean = false): Unit = synchronized {
    held.foreach { ds =>
      try ds.unpersist(blocking)
      catch { case _: Throwable => () }
    }
    held.clear()
  }

  def size: Int = synchronized(held.size)
}
