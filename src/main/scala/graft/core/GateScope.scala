package graft.core

import org.apache.spark.sql.SparkSession

/** Gate-boundary storage release (r19, guide §5): every
  * `localCheckpoint()` in an operator parks its materialized partitions
  * in unified STORAGE memory, and Spark only reclaims them when a
  * driver GC collects the RDD reference and the ContextCleaner reacts —
  * nondeterministic, and across a 387-gate bench pass the squat grew
  * until the r18 driver measured 10-30 s GC stalls per dedup gate.
  * This makes the release deterministic: when the bench marks the next
  * gate current ([[CachePayers.setCurrent]] — called OUTSIDE the timed
  * region), every persistent RDD is dropped. A finished gate's
  * checkpoints have no remaining consumers (the bench discards each
  * gate's DataFrame after its one noop write), and nothing shared
  * across gates lives in the block manager: session state is a
  * [[SessionMemo]], whose frames are scratch parquet. The released ids
  * go to stderr, so a destroyed cache is diagnosable.
  *
  * Zero-coupling contract (the CachePayers discipline): callers that
  * never set a current gate — unit tests, Verify, library users — never
  * trigger a release. Results are never affected; only when blocks are
  * freed. */
object GateScope {

  /** Gate boundary: drop every persistent RDD's blocks (async — the
    * freed memory matters to the NEXT gate's GC, not to this call), and
    * log their ids when there were any. */
  private[core] def flip(): Unit =
    for (s <- SparkSession.getDefaultSession) {
      val rdds = s.sparkContext.getPersistentRDDs.values.toSeq.sortBy(_.id)
      rdds.foreach(_.unpersist(blocking = false))
      if (rdds.nonEmpty)
        System.err.println(
          s"[gate] released persistent rdd ${rdds.map(_.id).mkString(",")}")
    }
}
