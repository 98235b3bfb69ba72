package graft.core

import org.apache.spark.sql.{Dataset, SparkSession}

/** Gate-boundary storage release (r19, guide §5): every
  * `localCheckpoint()` in an operator parks its materialized partitions
  * in unified STORAGE memory, and Spark only reclaims them when a
  * driver GC collects the RDD reference and the ContextCleaner reacts —
  * nondeterministic, and across a 387-gate bench pass the squat grew
  * until the r18 driver measured 10-30 s GC stalls per dedup gate.
  * This makes the release deterministic: when the bench marks the next
  * gate current ([[CachePayers.setCurrent]] — called OUTSIDE the timed
  * region), every persistent RDD except the explicitly [[pin]]ned
  * session caches is dropped. A finished gate's checkpoints have no
  * remaining consumers by construction (the bench discards each gate's
  * DataFrame after its one noop write), so the release cannot be
  * observed by any later gate.
  *
  * Zero-coupling contract (the CachePayers discipline): callers that
  * never set a current gate — unit tests, Verify, library users — never
  * trigger a release, and pinning is only bookkeeping. Results are
  * never affected either way; only when blocks are freed. */
object GateScope {

  /** RDD ids of session-cached checkpoints that later gates re-read
    * (co-purchase edges, basket stats): NEVER released — a released
    * checkpoint cannot be recomputed. */
  private val pinned =
    java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()

  /** Pin a session-cached checkpointed Dataset against gate-boundary
    * release. Returns `df` so cache-build sites can wrap in place. */
  def pin[T](df: Dataset[T]): Dataset[T] = {
    org.apache.spark.sql.graft.StorageBridge.checkpointRddId(df)
      .foreach(pinned.add(_))
    df
  }

  /** Whether an RDD id is a pinned session cache (StorageBridge.release
    * refuses to drop those). */
  def isPinned(rddId: Int): Boolean = pinned.contains(rddId)

  /** Gate boundary: drop every non-pinned persistent RDD's blocks
    * (async — the freed memory matters to the NEXT gate's GC, not to
    * this call). */
  private[core] def flip(): Unit =
    for (s <- SparkSession.getDefaultSession) {
      val sc = s.sparkContext
      sc.getPersistentRDDs.valuesIterator.foreach { rdd =>
        if (!pinned.contains(rdd.id)) rdd.unpersist(blocking = false)
      }
    }
}
