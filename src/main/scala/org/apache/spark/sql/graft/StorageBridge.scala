package org.apache.spark.sql.graft

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.LogicalRDD

/** Escape hatch to the RDD behind a `localCheckpoint()`ed Dataset (the
  * ColumnBridge device). `Dataset.unpersist` does NOT release local-
  * checkpoint blocks — they belong to the internal RDD the checkpoint
  * materialized, reachable only through the `LogicalRDD` leaf — so
  * without this the blocks squat in unified STORAGE memory until the
  * driver's GC happens to collect the RDD reference and the
  * ContextCleaner notices (BASELINE.md documents the squat; the r18
  * driver pass measured 10-30 s per-gate GC stalls against it).
  * Releasing is only sound once every consumer of the checkpoint has
  * run: a released checkpoint CANNOT be recomputed (lineage was
  * truncated) — callers own that proof. Every call site releases a
  * checkpoint local to one operator call; session state shared across
  * calls is a [[_root_.graft.core.SessionMemo]] and never a
  * checkpoint. */
object StorageBridge {

  /** Drop the storage blocks of a localCheckpoint'ed Dataset NOW
    * (async). No-op for non-checkpoint plans. The Dataset must never be
    * evaluated again afterwards. */
  def release(df: Dataset[_]): Unit =
    df.queryExecution.analyzed match {
      case l: LogicalRDD => l.rdd.unpersist(blocking = false)
      case _ => ()
    }
}
