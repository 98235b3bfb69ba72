package graft.tools
import org.apache.spark.sql.functions._

/** Scale probes for the late-round-8 additions — grid-blocked spatial
  * join and degree-oriented triangle counting — the two new operators
  * with quadratic-blowup RISK if their blocking failed. Results
  * recorded in BASELINE.md.
  *
  * Replica construction keeps the TRUE answer linear in the multiplier:
  * - geo: each replica TILES a fresh 100 km × 100 km plane (x offset
  *   +100000·i), so point density — and with it the per-cell candidate
  *   count — is CONSTANT across multipliers; a linear probe proves the
  *   candidate generator tracks local density, not corpus².
  * - triangles: lineitem replicas offset both orderkey and partkey, so
  *   each replica is a disconnected copy of the co-purchase graph —
  *   edges, wedges, and triangles all replicate exactly ×mult.
  *
  * Run:  sbt "Test/runMain graft.tools.ScaleProbeR8d"
  */
object ScaleProbeR8d {
  def main(args: Array[String]): Unit = {
    val s = graft.GraftSession.local()
    s.sparkContext.setLogLevel("ERROR")
    val sf = "/root/testdata/sf0.1"
    val li = s.read.parquet(s"$sf/lineitem.parquet")
      .select("l_orderkey", "l_partkey")
    val cust = s.read.parquet(s"$sf/customer.parquet")
      .select("c_custkey")
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    // warm JIT at gate scale
    noop(graft.operators.Geo.geoJoin(s, "/root/testdata/sf0.01"))
    noop(graft.operators.Relational.graphTriangles(s, "/root/testdata/sf0.01"))
    for (mult <- Seq(1, 4, 16)) {
      // tiled planes: same density per plane, mult× points
      val pts = (0 until mult).map(i =>
        cust.select((col("c_custkey") + i * 10000000L).as("id"),
          (col("c_custkey") * 7919 % 100000 + i * 100000L).as("x"),
          (col("c_custkey") * 104729 % 100000).as("y")))
        .reduce(_ unionAll _).repartition(32)
      val t0 = System.nanoTime()
      noop(graft.operators.Geo.geoJoinOver(pts))
      val e0 = (System.nanoTime() - t0) / 1e9
      println(f"[scale-geo-join] mult=$mult%2d rows=${15000 * mult}%7d " +
        f"time=$e0%6.2fs per-15k-rows=${e0 / mult}%5.3fs")

      val dir = s"/tmp/graft-probe-r8d-$mult"
      (0 until mult).map(i =>
        li.select((col("l_orderkey") + i * 10000000L).as("l_orderkey"),
          (col("l_partkey") + i * 10000000L).as("l_partkey")))
        .reduce(_ unionAll _).repartition(32)
        .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
      val t1 = System.nanoTime()
      noop(graft.operators.Relational.graphTriangles(s, dir))
      val e1 = (System.nanoTime() - t1) / 1e9
      println(f"[scale-triangles] mult=$mult%2d rows=${600000 * mult}%8d " +
        f"time=$e1%6.2fs per-600k-rows=${e1 / mult}%5.3fs")
    }

    // incremental dedup: base corpus GROWS (vocab-remapped replicas, so
    // replicas never near-dup each other), delta batch FIXED (truncated
    // copies of replica 0 — the true answer is identical at every
    // mult). First call builds the index untimed; the timed call probes
    // the trust-reused index — per-batch cost should be flat in base
    // size, the whole point of the persisted index.
    val d0 = s.read.parquet(s"$sf/documents.parquet")
    val delta = d0.filter(col("doc_id") % 5 === 0)
      .select((col("doc_id") + 50000000L).as("id"),
        col("text").substr(lit(1), length(col("text")) - 15).as("text"))
    for (mult <- Seq(1, 4, 16)) {
      val base = (0 until mult).map(i =>
        d0.select((col("doc_id") + i * 1000000L).as("id"),
          (if (i == 0) col("text")
           else regexp_replace(col("text"), "([a-z0-9]+)", s"r$i$$1"))
            .as("text")))
        .reduce(_ unionAll _).repartition(32)
      val idx = s"/tmp/graft-probe-r8d-lshidx-$mult"
      noop(graft.operators.Dedup.incrementalPairs(
        s, base, delta, idx, 12, 4)) // builds the index, untimed
      val t2 = System.nanoTime()
      noop(graft.operators.Dedup.incrementalPairs(
        s, base, delta, idx, 12, 4)) // trust-reused index, timed
      val e2 = (System.nanoTime() - t2) / 1e9
      println(f"[scale-dedup-incr] base=${5000 * mult}%6d delta=1000 " +
        f"time=$e2%6.2fs")
    }
    s.stop()
  }
}
