package graft.core

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** The one place in the engine that pins a frame. Pin policy:
  *
  *  - [[cut]] is an eager local checkpoint: the frame is computed once and
  *    both its plan and its RDD lineage are cut. Loop state (CC labels,
  *    BPE corpora, MICE sweeps) and frames a function returns use it. Its
  *    blocks are not recoverable: a lost executor fails the next read.
  *  - [[scoped]] persists with MEMORY_AND_DISK and keeps the lineage, so a
  *    lost executor recomputes its blocks instead of failing the job — the
  *    pin for corpus-sized intermediates that live only inside one
  *    function. It is lazy (the body's first action fills it, no extra
  *    count job) and it is unpersisted when the body exits, thrown or not.
  *  - [[release]] frees every cut pin a frame's plan reads. A read of a
  *    released pin fails ("Checkpoint block ... not found") instead of
  *    recomputing, so a wrong release point shows up loudly.
  *
  * Ownership: a cut pin belongs to whoever holds the last frame that
  * reads it. A loop releases each pin its next round supersedes and,
  * before it returns, every pin its result does not read. A function
  * whose returned frame reads a cut pin leaves that pin with its caller;
  * it is freed by the caller's `release` or by RDD garbage collection.
  * No query leaves behind a pin its result does not read (PinLeakSpec).
  */
object Pin {

  /** Eager local checkpoint of `ds`: plan and lineage cut, blocks pinned. */
  def cut[T](ds: Dataset[T]): Dataset[T] = ds.localCheckpoint(true)

  /** Run `body` over `ds` persisted with MEMORY_AND_DISK (lazy, lineage
    * kept); the pin is dropped when `body` exits.
    */
  def scoped[T, A](ds: Dataset[T])(body: Dataset[T] => A): A = {
    val pinned = ds.persist(StorageLevel.MEMORY_AND_DISK)
    try body(pinned)
    finally pinned.unpersist(blocking = false)
  }

  /** Unpersist every cut pin `ds`'s plan reads (its `LogicalRDD` leaves,
    * subqueries included). Launches no job.
    */
  def release(ds: Dataset[_]): Unit =
    ds.queryExecution.logical
      .collectWithSubqueries { case r: LogicalRDD => r.rdd }
      .filter(_.getStorageLevel != StorageLevel.NONE)
      .foreach(_.unpersist(blocking = false))
}
