package graft.tools

import org.apache.spark.sql.functions._

/** Scale probe: measures [[graft.operators.Dedup.dedupEmbedCosine]] at
  * the sf10 rung across SELECTIVITY DIALS — the measurement behind the
  * BASELINE claim that the static 8-bit default saturates at 100×
  * (expected bucket population ~10³ → ~2.6·10⁸ candidate pairs) and
  * the documented bits-per-band conf dial is the production mitigation
  * (each +1 bit halves expected candidates at the banding-math recall
  * trade). Corpus = the gate's own embCorpus shape over the replica.
  *
  * Run: SPARK_DRIVER_MEM=96g sbt "Test/runMain graft.tools.ProbeEmbedDial"
  */
object ProbeEmbedDial {
  def main(args: Array[String]): Unit = {
    val s = graft.GraftSession.local()
    s.sparkContext.setLogLevel("ERROR")
    val dir = if (args.nonEmpty) args(0) else "/tmp/graft-probe-sf10"
    val e = s.read.parquet(s"$dir/embeddings.parquet")
    val c = e.select(col("vec_id").as("id"), col("embedding"))
      .unionAll(e.filter(col("vec_id") % 10 === 0)
        .select((col("vec_id") + 100000).as("id"), col("embedding")))
    for (bits <- Seq(12, 14)) {
      val t0 = System.nanoTime()
      val n = graft.operators.Dedup.dedupEmbedCosine(c, bits, 2).count()
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"PROBE bits=$bits%d bands=2 pairs=$n%d sec=$sec%.1f")
    }
    s.stop()
  }
}
