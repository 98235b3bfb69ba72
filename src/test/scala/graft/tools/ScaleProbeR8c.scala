package graft.tools
import org.apache.spark.sql.functions._

/** Scale probes for the round-8 corpus/warehouse additions — C4-style
  * segment removal, SCD2 build+lookup, classifier scoring, and
  * centroid-distance outliers — on replica-multiplied corpora.
  * Results recorded in BASELINE.md.
  *
  * Replica construction keeps the TRUE answer linear in the multiplier:
  * - documents: per-replica vocabulary remap (no cross-replica segment
  *   collides), so each replica carries exactly the base corpus's
  *   repeated-segment structure;
  * - orders: custkey offset per replica — the per-customer version
  *   chains (and the lookup's hit-exactly-one contract) replicate;
  * - embeddings: vec_id offset; the centroid of the union equals the
  *   base centroid (same vectors ×mult), so outlier distances replay.
  *
  * Run:  sbt "Test/runMain graft.tools.ScaleProbeR8c"
  */
object ScaleProbeR8c {
  def main(args: Array[String]): Unit = {
    val s = graft.GraftSession.local()
    s.sparkContext.setLogLevel("ERROR")
    val sf = "/root/testdata/sf0.1"
    val d = s.read.parquet(s"$sf/documents.parquet")
    val o = s.read.parquet(s"$sf/orders.parquet")
    val e = s.read.parquet(s"$sf/embeddings.parquet")
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    // warm JIT at gate scale
    noop(graft.operators.Dedup.dedupLines(s, "/root/testdata/sf0.01"))
    noop(graft.operators.Upsert.scd2Lookup(s, "/root/testdata/sf0.01"))
    noop(graft.operators.Pipeline.classifierScore(s, "/root/testdata/sf0.01"))
    noop(graft.operators.Similarity.embedOutliers(s, "/root/testdata/sf0.01"))
    for (mult <- Seq(1, 4, 16)) {
      val dir = s"/tmp/graft-probe-r8c-$mult"
      val dcorp = (0 until mult).map(i =>
        d.select((col("doc_id") + i * 1000000L).as("doc_id"),
          regexp_replace(col("text"), "([a-z0-9]+)", s"r$i$$1").as("text"),
          col("lang"), col("source"), col("n_chars")))
        .reduce(_ unionAll _).repartition(32)
      dcorp.write.mode("overwrite").parquet(s"$dir/documents.parquet")
      (0 until mult).map(i =>
        o.select(col("o_orderkey") + i * 10000000L,
          col("o_custkey") + i * 1000000L, col("o_orderstatus"),
          col("o_totalprice"), col("o_orderdate"), col("o_orderpriority"))
          .toDF(o.columns: _*))
        .reduce(_ unionAll _).repartition(32)
        .write.mode("overwrite").parquet(s"$dir/orders.parquet")
      (0 until mult).map(i =>
        e.select((col("vec_id") + i * 1000000L).as("vec_id"),
          col("embedding"), col("label")))
        .reduce(_ unionAll _).repartition(32)
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

      val t0 = System.nanoTime()
      noop(graft.operators.Dedup.dedupLines(s, dir))
      val e0 = (System.nanoTime() - t0) / 1e9
      println(f"[scale-dedup-lines] mult=$mult%2d rows=${5000 * mult}%6d " +
        f"time=$e0%6.2fs per-5k-rows=${e0 / mult}%5.3fs")

      val t1 = System.nanoTime()
      noop(graft.operators.Upsert.scd2Lookup(s, dir))
      val e1 = (System.nanoTime() - t1) / 1e9
      println(f"[scale-scd2] mult=$mult%2d rows=${150000 * mult}%8d " +
        f"time=$e1%6.2fs per-150k-rows=${e1 / mult}%5.3fs")

      val t2 = System.nanoTime()
      noop(graft.operators.Pipeline.classifierScore(s, dir))
      val e2 = (System.nanoTime() - t2) / 1e9
      println(f"[scale-classifier] mult=$mult%2d rows=${5000 * mult}%6d " +
        f"time=$e2%6.2fs per-5k-rows=${e2 / mult}%5.3fs")

      val t3 = System.nanoTime()
      noop(graft.operators.Similarity.embedOutliers(s, dir))
      val e3 = (System.nanoTime() - t3) / 1e9
      println(f"[scale-outliers] mult=$mult%2d rows=${5000 * mult}%6d " +
        f"time=$e3%6.2fs per-5k-rows=${e3 / mult}%5.3fs")
    }
    s.stop()
  }
}
