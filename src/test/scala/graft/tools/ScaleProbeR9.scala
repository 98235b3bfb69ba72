package graft.tools
import org.apache.spark.sql.functions._

/** Scale probes for the round-9 additions. The claims under test:
  *
  *  - BPE train/encode cost is bounded by the WORD DICT, not the
  *    corpus: doc replicas multiply frequencies but add zero dict rows,
  *    so the 10 merge rounds (train) and the per-word folds (encode)
  *    are FLAT across multipliers — only the single tokenize pass and
  *    the broadcast join back grow, linearly.
  *  - kmeans_step and embed_project are per-row expression work with no
  *    shuffle before the k-sized aggregate / top-k heap: per-row cost
  *    flat-to-falling as fixed overhead amortizes.
  *
  * Replicas offset ids only (doc_id / vec_id), so the true answers
  * replicate exactly and the work per replica is constant.
  *
  * Run:  sbt "Test/runMain graft.tools.ScaleProbeR9"
  */
object ScaleProbeR9 {
  def main(args: Array[String]): Unit = {
    val s = graft.GraftSession.local()
    s.sparkContext.setLogLevel("ERROR")
    val sf = "/root/testdata/sf0.1"
    val docs = s.read.parquet(s"$sf/documents.parquet")
    val emb = s.read.parquet(s"$sf/embeddings.parquet")
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    // warm JIT at gate scale
    noop(graft.operators.Bpe.bpeTrain(s, "/root/testdata/sf0.01"))
    noop(graft.operators.Bpe.bpeEncode(s, "/root/testdata/sf0.01"))
    noop(graft.operators.Cluster.kmeansStep(s, "/root/testdata/sf0.01"))
    noop(graft.operators.Cluster.embedProject(s, "/root/testdata/sf0.01"))
    for (mult <- Seq(1, 4, 16)) {
      val dir = s"/tmp/graft-probe-r9-$mult"
      (0 until mult).map(i =>
        docs.select((col("doc_id") + i * 10000000L).as("doc_id"),
          col("text"), col("lang"), col("source"), col("n_chars")))
        .reduce(_ unionAll _).repartition(32)
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      (0 until mult).map(i =>
        emb.select((col("vec_id") + i * 10000000L).as("vec_id"),
          col("embedding"), col("label")))
        .reduce(_ unionAll _).repartition(32)
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

      val t0 = System.nanoTime()
      noop(graft.operators.Bpe.bpeTrain(s, dir))
      val e0 = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      noop(graft.operators.Bpe.bpeEncode(s, dir))
      val e1 = (System.nanoTime() - t1) / 1e9
      val t2 = System.nanoTime()
      noop(graft.operators.Cluster.kmeansStep(s, dir))
      val e2 = (System.nanoTime() - t2) / 1e9
      val t3 = System.nanoTime()
      noop(graft.operators.Cluster.embedProject(s, dir))
      val e3 = (System.nanoTime() - t3) / 1e9
      println(f"[scale-bpe-train]     mult=$mult%2d docs=${5000 * mult}%7d " +
        f"time=$e0%6.2fs per-5k-docs=${e0 / mult}%5.3fs")
      println(f"[scale-bpe-encode]    mult=$mult%2d docs=${5000 * mult}%7d " +
        f"time=$e1%6.2fs per-5k-docs=${e1 / mult}%5.3fs")
      println(f"[scale-kmeans-step]   mult=$mult%2d vecs=${2000 * mult}%7d " +
        f"time=$e2%6.2fs per-2k-vecs=${e2 / mult}%5.3fs")
      println(f"[scale-embed-project] mult=$mult%2d vecs=${2000 * mult}%7d " +
        f"time=$e3%6.2fs per-2k-vecs=${e3 / mult}%5.3fs")
    }
    s.stop()
  }
}
