package graft.tools
import org.apache.spark.sql.functions._

/** Scale-linearity probes for the r8 operators: exact n-gram
  * contamination and sequence packing, on replica-multiplied corpora
  * (per-replica vocabulary remap so replicas share no n-grams — true
  * pair count grows linearly, never quadratically). Results recorded in
  * BASELINE.md. Run:
  *
  *   sbt "Test/runMain graft.tools.ScaleProbeR8"
  */
object ScaleProbeR8 {
  def main(args: Array[String]): Unit = {
    val s = graft.GraftSession.local()
    s.sparkContext.setLogLevel("ERROR")
    val d = s.read.parquet("/root/testdata/sf0.1/documents.parquet")
    // warm JIT on the small corpus
    graft.operators.Dedup.dedupNgramContaminate(s,
      "/root/testdata/sf0.01").count()
    for (mult <- Seq(1, 4, 16)) {
      val corpus = (0 until mult).map(i =>
        d.select((col("doc_id") + i * 1000000L).as("doc_id"),
          regexp_replace(col("text"), "([a-z0-9]+)", s"r$i$$1").as("text"),
          col("lang"), col("source"), col("n_chars")))
        .reduce(_ unionAll _).repartition(32)
      val dir = s"/tmp/graft-probe-r8-$mult"
      corpus.write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val t0 = System.nanoTime()
      val pairs = graft.operators.Dedup.dedupNgramContaminate(s, dir).count()
      val e0 = (System.nanoTime() - t0) / 1e9
      println(f"[scale-ngram] mult=$mult%2d rows=${5000 * mult}%6d " +
        f"pairs=$pairs%6d time=$e0%6.2fs per-5k-rows=${e0 / mult}%5.3fs")
      val t1 = System.nanoTime()
      val bins = graft.operators.Pipeline.packSequences(s, dir).count()
      val e1 = (System.nanoTime() - t1) / 1e9
      println(f"[scale-pack] mult=$mult%2d rows=${5000 * mult}%6d " +
        f"bins=$bins%6d time=$e1%6.2fs per-5k-rows=${e1 / mult}%5.3fs")
    }
    s.stop()
  }
}
