package graft.tools

/** MinHash-banding recall against EXACT ground truth — possible since
  * dedup_jaccard_exact (prefix filtering, recall 1 by arithmetic)
  * landed: both dials of the probabilistic banding are scored against
  * the full true pair set at Jaccard ≥ 0.5, on the same near-dup
  * corpus the gates use. Results recorded in BASELINE.md
  * (`[recall-lsh-text]`).
  *
  * Run:  sbt "Test/runMain graft.tools.TextRecallProbe [sfDir]"
  */
object TextRecallProbe {
  def main(args: Array[String]): Unit = {
    val sf = args.headOption.getOrElse("/root/testdata/sf0.1")
    val s = graft.GraftSession.local()
    s.sparkContext.setLogLevel("ERROR")
    def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairSet(graft.operators.Dedup.dedupJaccardExact(s, sf))
    for ((name, df) <- Seq(
        "minhash-12/4" -> graft.operators.Dedup.dedupMinhashLsh(s, sf),
        "minhash-16/8" -> graft.operators.Dedup.dedupTextDial(s, sf))) {
      val got = pairSet(df)
      val hit = (got & exact).size
      println(f"[recall-lsh-text] $name%-12s true=${exact.size}%5d " +
        f"found=${got.size}%5d hit=$hit%5d " +
        f"recall=${hit.toDouble / exact.size}%.4f " +
        f"precision=${hit.toDouble / got.size}%.4f")
    }
    s.stop()
  }
}
