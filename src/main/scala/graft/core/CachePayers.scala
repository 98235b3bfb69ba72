package graft.core

/** Bench-interpretability registry for the [[SessionMemo]] entries
  * (near-dup and exact pair sets, BPE merges, basket stats, …): per-gate
  * bench numbers are order-dependent when a shared deterministic entry
  * exists — the FIRST gate that needs it pays the build, its siblings
  * ride — so the bench records WHICH gate paid each entry
  * (`"cache_payers"` in the detail line) instead of leaving the reader
  * to reverse-engineer the alphabetical run order. SessionMemo records
  * the payer on every miss; no other code calls [[paid]].
  *
  * Zero-coupling contract: callers that never set a current gate (unit
  * tests, Verify, library users) pay nothing — `paid` is a no-op when
  * no gate is current, and the registry never influences results.
  */
object CachePayers {

  private val current =
    new java.util.concurrent.atomic.AtomicReference[String](null)
  private val payers =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Bench loop: mark the gate about to run. Doubles as the gate
    * boundary for [[GateScope]]'s storage release — the finished gate's
    * checkpoint blocks are dropped here, outside the timed region. */
  def setCurrent(gate: String): Unit = {
    current.set(gate)
    GateScope.flip()
  }

  /** Record that the current gate (if any) paid for `cache`. First
    * writer wins — exactly the gate that built it. */
  def paid(cache: String): Unit = {
    val g = current.get()
    if (g != null) payers.putIfAbsent(cache, g)
  }

  def snapshot: Map[String, String] = {
    import scala.jdk.CollectionConverters._
    payers.asScala.toMap
  }
}
