package graft.core

import graft.SparkTestBase
import org.apache.spark.sql.graft.StorageBridge

/** Storage release around pinned session caches: an explicit
  * `StorageBridge.release` never drops a checkpoint `GateScope.pin`
  * protects, and still drops one it does not. */
class GateScopeSpec extends SparkTestBase {

  test("StorageBridge.release is a no-op for a pinned checkpoint, " +
      "and releases an unpinned one") {
    val sc = spark.sparkContext
    def checkpoint() = spark.range(0, 50).toDF("id").localCheckpoint()

    val pinned = GateScope.pin(checkpoint())
    val pid = StorageBridge.checkpointRddId(pinned).get
    assert(GateScope.isPinned(pid))
    StorageBridge.release(pinned)
    assert(sc.getPersistentRDDs.contains(pid),
      "a pinned session cache was released")
    assert(pinned.count() == 50)

    val loose = checkpoint()
    val lid = StorageBridge.checkpointRddId(loose).get
    assert(!GateScope.isPinned(lid) && sc.getPersistentRDDs.contains(lid))
    StorageBridge.release(loose)
    assert(!sc.getPersistentRDDs.contains(lid))
  }
}
