package graft.tools
import org.apache.spark.sql.functions._

/** Scale probes for the late-r8 operators — SemDeDup, the bigram-LM
  * score, and DSIR importance sampling — on replica-multiplied corpora.
  * Results recorded in BASELINE.md.
  *
  * Replica construction keeps the TRUE answer linear in the multiplier:
  * - embeddings: each replica's vectors are sign-flipped on a
  *   replica-dependent dimension pattern, so cross-replica cosines stay
  *   in the ambient (<0.95) band — near-dup structure exists only
  *   WITHIN a replica (each keeps its own planted ×2 copies).
  * - documents: per-replica vocabulary remap (the ScaleProbeR8 trick),
  *   so LM vocab and bigram tables grow linearly and no cross-replica
  *   n-gram collides.
  *
  * SemDeDup's k scales WITH the corpus (k = 16·mult — the documented
  * dial) so in-cluster sizes, and the quadratic in-cluster compare,
  * stay constant.  DSIR's hashed-feature LUT stays ≤4096 rows at every
  * multiplier — that collapse is the measurement.  Run:
  *
  *   sbt "Test/runMain graft.tools.ScaleProbeR8b"
  */
object ScaleProbeR8b {
  def main(args: Array[String]): Unit = {
    val s = graft.GraftSession.local()
    s.sparkContext.setLogLevel("ERROR")
    val e = s.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
    val d = s.read.parquet("/root/testdata/sf0.1/documents.parquet")
    // warm JIT on the gate-scale corpus
    graft.operators.Dedup.dedupSemantic(s, "/root/testdata/sf0.01").count()
    graft.operators.TextAnalysis.textLmScore(s, "/root/testdata/sf0.01")
      .count()
    graft.operators.Pipeline.dsirSample(s, "/root/testdata/sf0.01").count()
    for (mult <- Seq(1, 4, 16)) {
      // ---- embeddings: pseudo-random sign-flip pattern per replica
      // (~8 of 64 dims, distinct per replica → cross-replica cosines
      // stay deep in the ambient band), plus each replica's own planted
      // ×2 copies so true removals grow linearly ----
      val ecorp = (0 until mult).map { i =>
        val base = e.select((col("vec_id") + i * 1000000L).as("id"),
          transform(col("embedding"), (x, dIdx) =>
            when(pmod(dIdx * lit(2654435761L) + lit(i) * lit(17L),
              lit(97)) < lit(12), -x).otherwise(x)).as("embedding"),
          col("label"))
        base.unionAll(base.filter(col("id") % 5 === 0)
          .select((col("id") + 500000L).as("id"),
            transform(col("embedding"), x => x * lit(2.0f))
              .as("embedding"),
            col("label")))
      }.reduce(_ unionAll _).repartition(32).localCheckpoint(true)
      val k = 16 * mult
      val cents = ecorp.filter(col("id") % 1000000L < (k / mult))
        .select(col("id"), col("embedding")).collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
        .sortBy(_._1).toSeq
      val rows = ecorp.count()
      val t0 = System.nanoTime()
      val kept = graft.operators.Dedup.dedupSemantic(ecorp, cents).count()
      val e0 = (System.nanoTime() - t0) / 1e9
      println(f"[scale-semdedup] mult=$mult%2d rows=$rows%7d k=$k%3d " +
        f"kept=$kept%7d time=$e0%6.2fs per-2k-rows=${e0 / mult}%5.3fs")
      // ---- documents: remapped-vocab replicas ----
      val dcorp = (0 until mult).map(i =>
        d.select((col("doc_id") + i * 1000000L).as("doc_id"),
          regexp_replace(col("text"), "([a-z0-9]+)", s"r$i$$1").as("text"),
          col("lang"), col("source"), col("n_chars")))
        .reduce(_ unionAll _).repartition(32)
      val dir = s"/tmp/graft-probe-r8b-$mult"
      dcorp.write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val t1 = System.nanoTime()
      val lm = graft.operators.TextAnalysis.textLmScore(s, dir).count()
      val e1 = (System.nanoTime() - t1) / 1e9
      println(f"[scale-lmscore] mult=$mult%2d rows=${5000 * mult}%6d " +
        f"scored=$lm%6d time=$e1%6.2fs per-5k-rows=${e1 / mult}%5.3fs")
      val t2 = System.nanoTime()
      val sel = graft.operators.Pipeline.dsirSample(s, dir).count()
      val e2 = (System.nanoTime() - t2) / 1e9
      println(f"[scale-dsir] mult=$mult%2d rows=${5000 * mult}%6d " +
        f"selected=$sel%4d time=$e2%6.2fs per-5k-rows=${e2 / mult}%5.3fs")
    }
    s.stop()
  }
}
