package graft.tools
import org.apache.spark.sql.functions._

/** Head-to-head: the custom AsofJoinExec vs the union+window
  * formulation across event-volume growth. Replica-tiled events/orders
  * with offset user/customer keys — disjoint key spaces, so the true
  * answer replicates exactly and both plans shuffle the same key
  * volume. Claim under test: the native exec's single merge (no union
  * row inflation, no window buffer) holds a constant-factor advantage
  * that survives scale, and both stay linear.
  *
  * Run:  sbt "Test/runMain graft.tools.ScaleProbeR10d"
  */
object ScaleProbeR10d {
  def main(args: Array[String]): Unit = {
    val s = graft.GraftSession.local()
    s.sparkContext.setLogLevel("ERROR")
    val sf = "/root/testdata/sf0.1"
    val ev = graft.operators.Relational.events(s, sf)
    val ord = s.read.parquet(s"$sf/orders.parquet")
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    noop(graft.operators.Relational.asofJoin(s, "/root/testdata/sf0.01"))
    noop(graft.operators.Relational.asofJoinNative(s,
      "/root/testdata/sf0.01"))
    for (mult <- Seq(1, 4, 16)) {
      val dir = s"/tmp/graft-probe-r10d-$mult"
      (0 until mult).map(i =>
        ev.select((col("event_id") + i * 100000000L).as("event_id"),
          col("ts"), (col("user_id") + i * 10000000L).as("user_id"),
          col("event_type"), col("value"), col("props")))
        .reduce(_ unionAll _).repartition(32)
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
      (0 until mult).map(i =>
        ord.select((col("o_orderkey") + i * 100000000L).as("o_orderkey"),
          (col("o_custkey") + i * 10000000L).as("o_custkey"),
          col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
          col("o_orderpriority")))
        .reduce(_ unionAll _).repartition(32)
        .write.mode("overwrite").parquet(s"$dir/orders.parquet")
      def timed(name: String)(f: => Unit): Unit = {
        val t0 = System.nanoTime()
        f
        val e = (System.nanoTime() - t0) / 1e9
        println(f"[$name] mult=$mult%2d events=${100000L * mult}%9d " +
          f"time=$e%6.2fs per-unit=${e / mult}%5.3fs")
      }
      timed("asof-union-window") {
        noop(graft.operators.Relational.asofJoin(s, dir)) }
      timed("asof-native-exec") {
        noop(graft.operators.Relational.asofJoinNative(s, dir)) }
    }
    s.stop()
  }
}
