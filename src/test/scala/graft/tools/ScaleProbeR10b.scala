package graft.tools
import org.apache.spark.sql.functions._

/** Scale probes for the r10 second-wave families. Claims under test:
  *
  *  - WordPiece encoding cost is bounded by the WORD DICT (the BPE
  *    insight): doc replicas multiply token frequencies but add zero
  *    dict rows — the unrolled greedy is FLAT across multipliers and
  *    only the tokenize + count pass grows linearly.
  *  - Count-Min sketch cost is the token explode (linear) into a
  *    CONSTANT 4096-cell table — per-doc cost flat-to-falling.
  *  - k-core peel cost is linear in the edge volume: lineitem replicas
  *    with offset part/order keys build disjoint co-purchase subgraphs
  *    (edges scale exactly ×mult, no cross-replica pairs).
  *  - kmeans_train (3 Lloyd rounds) is per-row expression work per
  *    round: per-vector cost flat-to-falling.
  *
  * Run:  sbt "Test/runMain graft.tools.ScaleProbeR10b"
  */
object ScaleProbeR10b {
  def main(args: Array[String]): Unit = {
    val s = graft.GraftSession.local()
    s.sparkContext.setLogLevel("ERROR")
    val sf = "/root/testdata/sf0.1"
    val docs = s.read.parquet(s"$sf/documents.parquet")
    val emb = s.read.parquet(s"$sf/embeddings.parquet")
    val li = s.read.parquet(s"$sf/lineitem.parquet")
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    // warm JIT at gate scale
    noop(graft.operators.Bpe.wordpieceEncode(s, "/root/testdata/sf0.01"))
    noop(graft.operators.TextAnalysis.sketchCms(s, "/root/testdata/sf0.01"))
    noop(graft.operators.Relational.graphKcore(s, "/root/testdata/sf0.01"))
    noop(graft.operators.Cluster.kmeansTrain(s, "/root/testdata/sf0.01"))
    for (mult <- Seq(1, 4, 16)) {
      val dir = s"/tmp/graft-probe-r10b-$mult"
      (0 until mult).map(i =>
        docs.select((col("doc_id") + i * 10000000L).as("doc_id"),
          col("text"), col("lang"), col("source"), col("n_chars")))
        .reduce(_ unionAll _).repartition(32)
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      (0 until mult).map(i =>
        emb.select((col("vec_id") + (if (i == 0) 0L else i * 10000000L))
          .as("vec_id"), col("embedding"), col("label")))
        .reduce(_ unionAll _).repartition(32)
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      (0 until mult).map(i =>
        li.select(
          (col("l_orderkey") + i * 100000000L).as("l_orderkey"),
          (col("l_partkey") + i * 100000000L).as("l_partkey"),
          col("l_quantity"), col("l_extendedprice"),
          col("l_returnflag"), col("l_shipdate")))
        .reduce(_ unionAll _).repartition(32)
        .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")

      def timed(name: String, unit: String, base: Long)(f: => Unit): Unit = {
        val t0 = System.nanoTime()
        f
        val e = (System.nanoTime() - t0) / 1e9
        println(f"[$name] mult=$mult%2d $unit=${base * mult}%9d " +
          f"time=$e%6.2fs per-unit=${e / mult}%5.3fs")
      }
      timed("scale-wordpiece", "docs", 5000) {
        noop(graft.operators.Bpe.wordpieceEncode(s, dir)) }
      timed("scale-cms", "docs", 5000) {
        noop(graft.operators.TextAnalysis.sketchCms(s, dir)) }
      timed("scale-kcore", "rows", 600572) {
        noop(graft.operators.Relational.graphKcore(s, dir)) }
      timed("scale-kmeans-train", "vecs", 2000) {
        noop(graft.operators.Cluster.kmeansTrain(s, dir)) }
    }
    s.stop()
  }
}
