package graft.core

import scala.jdk.CollectionConverters._

/** Bench-interpretability registry for the [[SessionMemo]] entries
  * (near-dup and exact pair sets, BPE merges, basket stats, …): per-gate
  * bench numbers are order-dependent when a shared deterministic entry
  * exists — the FIRST gate that needs it pays the build, its siblings
  * ride — so the bench records WHICH gate paid each entry
  * (`"cache_payers"` in the detail line) instead of leaving the reader
  * to reverse-engineer the alphabetical run order. SessionMemo reports
  * every lookup ([[looked]]); a miss records the payer, and each entry
  * name's hits and misses are counted (`"memo"` in the detail line).
  *
  * Zero-coupling contract: callers that never set a current gate (unit
  * tests, Verify, library users) pay nothing — `looked` is a no-op when
  * no gate is current, and the registry never influences results.
  */
object CachePayers {

  private val current =
    new java.util.concurrent.atomic.AtomicReference[String](null)
  private val payers =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private val counts =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Long)]()

  /** Bench loop: mark the gate about to run. Doubles as the gate
    * boundary for [[GateScope]]'s storage release — the finished gate's
    * checkpoint blocks are dropped here, outside the timed region. */
  def setCurrent(gate: String): Unit = {
    current.set(gate)
    GateScope.flip()
  }

  /** Record a lookup of `cache` under the current gate (if any): count
    * it as a hit or a miss, and on a miss record the gate as the payer.
    * First writer wins — exactly the gate that built it. */
  def looked(cache: String, hit: Boolean): Unit = {
    val g = current.get()
    if (g != null) {
      counts.merge(cache, if (hit) (1L, 0L) else (0L, 1L),
        (a, b) => (a._1 + b._1, a._2 + b._2))
      if (!hit) payers.putIfAbsent(cache, g)
    }
  }

  def snapshot: Map[String, String] = payers.asScala.toMap

  /** Per entry name: (hits, misses). */
  def memoCounts: Map[String, (Long, Long)] = counts.asScala.toMap

  /** Forget payers and counts: the memo forgot its entries, so the next
    * lookup of each is a fresh miss with a fresh payer. */
  private[graft] def clear(): Unit = { payers.clear(); counts.clear() }
}
