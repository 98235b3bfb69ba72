package graft.core

import graft.SparkTestBase
import org.apache.spark.sql.graft.StorageBridge

/** Storage release: an explicit `StorageBridge.release` drops an
  * ordinary checkpoint's blocks, and the gate boundary drops every
  * persistent RDD and names what it dropped. */
class GateScopeSpec extends SparkTestBase {

  /** A fresh localCheckpoint and the id of the RDD that holds its
    * blocks, found by diffing the persistent-RDD map. */
  private def checkpoint() = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val df = spark.range(0, 50).toDF("id").localCheckpoint()
    val ids = sc.getPersistentRDDs.keySet -- before
    assert(ids.size == 1, ids)
    (df, ids.head)
  }

  test("StorageBridge.release drops a checkpoint's blocks") {
    val (df, id) = checkpoint()
    assert(df.count() == 50)
    StorageBridge.release(df)
    assert(!spark.sparkContext.getPersistentRDDs.contains(id))
  }

  test("GateScope.flip drops every persistent RDD and logs its id") {
    val (_, id) = checkpoint()
    val err = new java.io.ByteArrayOutputStream
    val old = System.err
    System.setErr(new java.io.PrintStream(err, true))
    try GateScope.flip() finally System.setErr(old)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
    val line = err.toString.linesIterator
      .find(_.startsWith("[gate] released")).getOrElse(fail(err.toString))
    assert(line.split("[ ,]").contains(id.toString), line)

    err.reset()
    System.setErr(new java.io.PrintStream(err, true))
    try GateScope.flip() finally System.setErr(old)
    assert(err.size == 0, "a boundary that released nothing must stay quiet")
  }
}
