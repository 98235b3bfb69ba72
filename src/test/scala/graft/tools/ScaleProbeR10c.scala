package graft.tools
import org.apache.spark.sql.functions._

/** Scale probes for the r10 sixth-wave families. Claims under test:
  *
  *  - assoc_rules' pair expansion is LINEAR in orders (baskets are
  *    size-bounded, so Σb² grows with basket count, not corpus²):
  *    lineitem replicas with offset order/part keys add disjoint
  *    baskets — time should scale ~linearly, per-unit flat.
  *  - graph_lpa is linear in edges per round (disjoint co-purchase
  *    subgraphs replicate exactly like the k-core probe).
  *  - mm_phash_dedup is linear: decode+hash is per-row, and replica
  *    ids land in fresh base groups (decorrelated coefficients), so
  *    the true pair set and the band buckets both grow ~linearly.
  *  - viterbi_encode is DICT-bOUNDED like WordPiece/BPE: replicas
  *    multiply token counts but add zero distinct words — the
  *    unrolled DP is FLAT across multipliers.
  *
  * Run:  sbt "Test/runMain graft.tools.ScaleProbeR10c"
  */
object ScaleProbeR10c {
  def main(args: Array[String]): Unit = {
    val s = graft.GraftSession.local()
    s.sparkContext.setLogLevel("ERROR")
    val sf = "/root/testdata/sf0.1"
    val docs = s.read.parquet(s"$sf/documents.parquet")
    val li = s.read.parquet(s"$sf/lineitem.parquet")
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    // warm JIT at gate scale
    noop(graft.operators.Mining.assocRules(s, "/root/testdata/sf0.01"))
    noop(graft.operators.Mining.graphLpa(s, "/root/testdata/sf0.01"))
    noop(graft.operators.Multimodal.mmPhashDedup(s, "/root/testdata/sf0.01"))
    noop(graft.operators.Bpe.viterbiEncode(s, "/root/testdata/sf0.01"))
    for (mult <- Seq(1, 4, 16)) {
      val dir = s"/tmp/graft-probe-r10c-$mult"
      (0 until mult).map(i =>
        docs.select((col("doc_id") + i * 10000000L).as("doc_id"),
          col("text"), col("lang"), col("source"), col("n_chars")))
        .reduce(_ unionAll _).repartition(32)
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      (0 until mult).map(i =>
        li.select(
          (col("l_orderkey") + i * 100000000L).as("l_orderkey"),
          (col("l_partkey") + i * 100000000L).as("l_partkey")))
        .reduce(_ unionAll _).repartition(32)
        .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")

      def timed(name: String, unit: String, base: Long)(f: => Unit): Unit = {
        val t0 = System.nanoTime()
        f
        val e = (System.nanoTime() - t0) / 1e9
        println(f"[$name] mult=$mult%2d $unit=${base * mult}%9d " +
          f"time=$e%6.2fs per-unit=${e / mult}%5.3fs")
      }
      timed("scale-assoc", "rows", 600572) {
        noop(graft.operators.Mining.assocRules(s, dir)) }
      timed("scale-lpa", "rows", 600572) {
        noop(graft.operators.Mining.graphLpa(s, dir)) }
      timed("scale-phash", "docs", 5000) {
        noop(graft.operators.Multimodal.mmPhashDedup(s, dir)) }
      timed("scale-viterbi", "docs", 5000) {
        noop(graft.operators.Bpe.viterbiEncode(s, dir)) }
    }
    s.stop()
  }
}
